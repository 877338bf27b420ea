from .loaders import load_table, load_tables, register_views  # noqa: F401
from .envelope import (  # noqa: F401
    EVENT_PAYLOAD_SCHEMA,
    changelog_view,
    events_to_debezium_json,
    make_envelope_schema,
    parse_debezium_json,
    parse_debezium_json_multi,
    route_tables,
    snapshot_to_debezium_json,
)
