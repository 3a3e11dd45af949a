from runyoro_llm_data_pipeline_spark.sources.jsonl import (  # noqa: F401
    read_events_jsonl,
    write_events_jsonl,
)
from runyoro_llm_data_pipeline_spark.sources.offsets import (  # noqa: F401
    OffsetLog,
    ParquetOffsetLog,
)
