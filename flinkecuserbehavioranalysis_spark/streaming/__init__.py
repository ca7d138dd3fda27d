from .cep import match_pattern_stream
from .jobs import (
    read_events_stream,
    run_bounded,
    streaming_session_window,
    streaming_topn_foreach_batch,
    streaming_uv_update,
    streaming_windowed_count,
)
from .sinks import foreach_batch_partitioned_upsert, foreach_batch_upsert, read_store
from .stateful import (
    streaming_blacklist,
    streaming_login_fail,
    streaming_order_timeout,
)

__all__ = [
    "read_events_stream",
    "run_bounded",
    "streaming_windowed_count",
    "streaming_session_window",
    "streaming_topn_foreach_batch",
    "streaming_uv_update",
    "streaming_login_fail",
    "streaming_order_timeout",
    "streaming_blacklist",
    "match_pattern_stream",
    "foreach_batch_upsert",
    "foreach_batch_partitioned_upsert",
    "read_store",
]
