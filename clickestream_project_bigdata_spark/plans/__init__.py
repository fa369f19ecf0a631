from .audit import (  # noqa: F401
    count_broadcast_joins,
    count_exchanges,
    count_sort_merge_joins,
    executed_plan,
)
