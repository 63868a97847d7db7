"""Sources & sinks (SURVEY §2.1).

The reference's sources are a paginated REST API consumed by worker
containers and MongoDB collections as sinks (S1–S12); this engine's
equivalents are schema'd columnar scans and write modes:

  S1/S2 REST scans      → schema'd csv/json readers (never inferred
                          in production paths); parquet tables load
                          through io.load_table
  S3/S5 append sinks    → write.mode('append') (+ ingest anti-join
                          for idempotence, pipeline.medallion)
  S7/S8 upserts         → overwrite-by-key / full recompute
  S11/S12 deletes       → anti-join rewrite + overwrite

`writers` adds the at-scale layout tools: partitioned writes
(partition pruning), bucketed tables (shuffle-free co-located joins),
and a salted-join helper for skewed keys.
"""

from baronbatch_etl_spark.sources.readers import (
    read_csv,
    read_json,
)
from baronbatch_etl_spark.sources.writers import (
    compact,
    salted_join,
    write_bucketed_table,
    write_partitioned,
)

__all__ = [
    "compact",
    "read_csv",
    "read_json",
    "salted_join",
    "write_bucketed_table",
    "write_partitioned",
]
