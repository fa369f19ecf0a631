from .audit import (  # noqa: F401
    count_broadcast_joins,
    count_exchanges,
    count_sort_merge_joins,
    executed_plan,
)
from .scale import (  # noqa: F401
    materialize_once,
    register_views,
    salted_join,
    write_bucketed,
    write_partitioned,
)
