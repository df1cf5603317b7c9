"""migrate_cassandra_to_mysql_spark — a PySpark-native analytics/ETL engine.

Brand-new engine with the query and data-processing capabilities of the
reference repo quyetmv/migrate-cassandra-to-mysql (a Cassandra->MySQL snapshot
migration tool), re-expressed Spark-first:

- snapshot pipeline (partitioned scan -> sanitize -> dedup -> idempotent write)
  as a single declarative DataFrame plan (reference: snapshot_use_pyspark.py
  process_partition, lines 184-291, which hand-rolls the same stages per RDD
  partition);
- verification suite (count reconciliation, anti-join diff) as DataFrame plans
  (reference: validate_counts at snapshot_use_pyspark.py:372-404 and
  find_missing_ids.py:38-65);
- resumable orchestration semantics via checkpoint/WAL-shaped control tables
  and Structured Streaming Trigger.AvailableNow (reference:
  snapshot_use_pyspark.py:63-177, 305-320);
- plus the LLM-data-pipeline extension operators (dedup, similarity search,
  text analysis, multimodal columns) designed for 100 TB scale.

Everything here is public-API PySpark (DataFrame/SQL/Catalyst/Structured
Streaming). No code is copied from the reference; file:line citations in
docstrings identify the *behavior* being re-expressed.
"""

__version__ = "0.1.0"

from migrate_cassandra_to_mysql_spark import pyworker

pyworker.install()

from migrate_cassandra_to_mysql_spark.session import get_spark  # noqa: E402,F401
