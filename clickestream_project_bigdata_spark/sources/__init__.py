from .readers import (  # noqa: F401
    events_from_fixture,
    explode_json_array,
    parse_kafka_wire,
    read_json_stream,
    read_kafka_stream,
    read_events_table,
    read_raw_events_csv,
    read_raw_events_json,
)
from .writers import (  # noqa: F401
    to_kafka_wire,
    write_kafka_batch,
    write_kafka_stream,
)
