"""runyoro_llm_data_pipeline_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the query & data-processing capabilities of
``nyacly/runyoro-llm-data-pipeline`` (single-process Python pipeline) as an
idiomatic Spark engine:

* change-event log (insert/update/delete/upsert keyed on ``conv_id, turn_idx``)
  applied to a snapshot-atomic lake table of multi-turn transcripts,
* latest-wins dedup by one ``max_by`` aggregate that every table write
  and every read shares,
* one apply path: O(batch) merge-on-read delta appends with bounded-read
  compaction,
* exactly-once commits (offsets live inside the table snapshot),
* one ingest driver, ``CdcIngest``, over one apply path, fed by batch
  directories (``run``), a Structured Streaming query (``run_stream``,
  Trigger.AvailableNow + foreachBatch) or an offset-addressed log
  (``run_log``),
* additive schema evolution, per-partition lineage, checkpoint resume,
* plus the training-data operator library: exact/MinHash-LSH/SimHash/
  n-gram-Jaccard dedup, cosine similarity search, text quality/lang-id/
  fingerprinting, multimodal binary plumbing, corpus tokenization.

Reference parity is documented per-module via ``file:line`` citations into
``/root/reference``.
"""

__version__ = "0.2.0"

from runyoro_llm_data_pipeline_spark.session import get_spark  # noqa: F401
