from runyoro_llm_data_pipeline_spark.streaming.ingest_stream import (  # noqa: F401
    conversation_sessions,
    dedup_within_watermark,
    turn_rate,
)
