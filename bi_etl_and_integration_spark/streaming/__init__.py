from bi_etl_and_integration_spark.streaming.windows import (
    session_windowed_agg,
    sliding_windowed_agg,
    tumbling_windowed_agg,
)
from bi_etl_and_integration_spark.streaming.runner import (
    incremental_cdc_run,
    stream_to_memory,
    foreach_batch_upsert_snapshot,
)

__all__ = [
    "tumbling_windowed_agg", "sliding_windowed_agg", "session_windowed_agg",
    "incremental_cdc_run", "stream_to_memory",
    "foreach_batch_upsert_snapshot",
]
