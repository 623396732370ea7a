"""log2ck_spark — a PySpark-native log-analytics engine.

A from-scratch reimplementation of the capabilities of hisune/log2ck
(reference: /root/reference, Apache-2.0 PHP) re-expressed Spark-first:

* Part A (ingestion dataflow, reference ``src/Worker.php`` / ``src/Manager.php``)
  → declarative parse/filter/enrich pipeline over batch or Structured
  Streaming text sources (:mod:`log2ck_spark.parse`,
  :mod:`log2ck_spark.pipeline`, :mod:`log2ck_spark.streaming`).
* Part B (query surface the reference delegates to ClickHouse,
  reference ``readme.md:106-125``) → DataFrame/SQL query library over a
  date-partitioned Parquet table (:mod:`log2ck_spark.queries.relational`).
* Part C (LLM-data-pipeline extensions) → dedup / similarity / text
  analysis / multimodal operators (:mod:`log2ck_spark.queries.dedup`,
  ``similarity``, ``textops``, ``multimodal``).

Design stance (SURVEY.md §7): Structured Streaming's engine *is* the
reference's Manager — checkpointing, supervision, triggers and graceful
stop are engine-provided; we implement only the declarative surface.
Every operator is built to survive a 1000-executor / 100 TB deployment:
built-in JVM functions in the hot path, broadcast joins for dims,
inverted-index / LSH instead of O(n^2) similarity joins, partition
pruning via date layout.
"""

__version__ = "0.1.0"

from log2ck_spark.zipcache import keep_zip_directories

keep_zip_directories()
