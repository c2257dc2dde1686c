"""Table maintenance: small-file compaction, clustering, statistics.

The reference never needs this (its warehouse is a single DuckDB file:
src/clinical_platform/warehouse/loaders.py:24-57); a parquet lake at
100 TB does. Three levers:

- **Compaction**: streaming/foreachBatch sinks and fine-grained
  partitionBy writes accumulate small files; scans then pay one task +
  one footer-read per file. Rewrite to ~target-sized files, sized from
  the data itself (on-disk bytes / target), never a magic partition count.
- **Clustering**: sortWithinPartitions on high-selectivity columns before
  write gives parquet row-group min/max statistics real skipping power —
  Spark's practical stand-in for Z-ordering on a single sort dimension.
- **Statistics**: ANALYZE TABLE (table + column level) feeds Catalyst's
  CBO join reordering and broadcast decisions, the same role as the
  reference's DuckDB ANALYZE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..catalog import ONE_ROW, bounded_collect


def dataset_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_dataset(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ~target-sized parquet files at ``out_path``;
    returns the output file count. File count derives from actual on-disk
    size. ``sort_cols`` additionally clusters rows within each output file
    so row-group min/max stats can skip (poor-man's OPTIMIZE ... ZORDER
    for one dimension)."""
    n_files = max(1, dataset_bytes(path) // target_file_bytes)
    df = spark.read.parquet(path)
    # repartition (full shuffle) rather than coalesce: coalesce would chain
    # upstream parallelism down to n_files for every transformation fused
    # into the write stage, and cannot split skewed inputs
    out = df.repartition(int(n_files))
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").option("compression", "snappy").parquet(out_path)
    return data_file_count(out_path)


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> dict[str, str]:
    """ANALYZE TABLE for CBO: table-level row/byte counts plus optional
    per-column min/max/ndv/null stats. Returns the stats line from
    DESCRIBE EXTENDED so callers/tests can assert they landed."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    stats = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").filter(
        "col_name = 'Statistics'"
    )
    return {r.col_name: r.data_type for r in bounded_collect(stats, ONE_ROW)}
