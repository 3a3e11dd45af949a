from runyoro_llm_data_pipeline_spark.cdc.events import (  # noqa: F401
    EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    validate_events,
)
from runyoro_llm_data_pipeline_spark.cdc.dedup import (  # noqa: F401
    collapse_latest_wins_window,
)
from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch  # noqa: F401
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest  # noqa: F401
from runyoro_llm_data_pipeline_spark.cdc.feed import (  # noqa: F401
    FeedToken,
    IncrementalFeed,
)
