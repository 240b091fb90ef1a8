"""Table catalog: load the driver-generated parquet tables for a scale factor.

The reference materializes its source data on the driver before handing it to
Beam (``collection.find`` → list, /root/reference/retrieval.py:76,221;
``download_as_text`` → list, normalization.py:64-66).  The engine never does
that: every table is a distributed parquet scan, so filters/projections push
down to the file source and the driver holds only the plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# spark.sql.files.maxPartitionBytes: the session sets it, table_meta's split
# estimate divides by it
MAX_PARTITION_BYTES = 128 * 1024 * 1024
# spark.sql.files.openCostInBytes default: what opening one file is worth in
# bytes when files are packed into partitions
OPEN_COST_BYTES = 4 * 1024 * 1024


def pack_files(paths: list[str]) -> list[list[str]]:
    """Group files into read partitions the way Spark packs a file scan
    (``FilePartition.maxSplitBytes`` / ``getFilePartitions``):

    - every file costs its size plus ``OPEN_COST_BYTES``;
    - split size = min(MAX_PARTITION_BYTES, max(open cost, total cost /
      parallelism));
    - files go largest first into the current partition, which closes when
      the next file would push it past the split size (next-fit).

    parallelism is the engine's core count (``session.local_cpus``).  A
    partition is one task, and a Python-worker task costs a fixed dispatch
    whatever it reads, so a scan of many small files gets about one task
    per core instead of one per file."""
    # imported here: session imports this module
    from build_pipeline_with_apache_beam_spark.session import local_cpus

    sized = sorted(((os.path.getsize(p), p) for p in paths),
                   key=lambda t: -t[0])
    total = sum(size + OPEN_COST_BYTES for size, _ in sized)
    max_split = min(MAX_PARTITION_BYTES,
                    max(OPEN_COST_BYTES, total // local_cpus()))
    parts: list[list[str]] = []
    current: list[str] = []
    current_bytes = 0
    for size, path in sized:
        if current and current_bytes + size > max_split:
            parts.append(current)
            current, current_bytes = [], 0
        current.append(path)
        current_bytes += size + OPEN_COST_BYTES
    if current:
        parts.append(current)
    return parts


def coerce_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-zone TimestampType across testdata
    generations: older drops store parquet TIMESTAMP(NANOS) read as long nanos
    (spark.sql.legacy.parquet.nanosAsLong), newer drops TIMESTAMP(MICROS)
    without timezone.  DuckDB reads both as its us-precision TIMESTAMP, so this
    keeps oracle comparisons exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Distributed parquet scan of one table (no driver materialization)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = coerce_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so SQL-form operators can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_meta(sf_dir: str, name: str) -> tuple[int, int]:
    """(n_rows, n_splits_estimate) for a table, straight off the parquet
    footers — NO Spark job: a ``df.count()`` costs a scheduler round-trip
    per operator call and ``df.rdd.getNumPartitions()`` re-plans the scan
    (~0.2 s combined per call, measured r15).  The split estimate mirrors
    Spark's packing math (total bytes / maxPartitionBytes, at least one
    split per file) closely enough for a spread-or-not threshold."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    # recursive: a partitioned layout keeps its files under k=v/ dirs
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")]
    n_rows = 0
    total_bytes = 0
    for f in files:
        n_rows += pq.ParquetFile(f).metadata.num_rows
        total_bytes += os.path.getsize(f)
    n_splits = max(len(files), -(-total_bytes // MAX_PARTITION_BYTES))
    return n_rows, int(n_splits)


def sized_spread(df: DataFrame, n_rows: int, rows_per_partition: int,
                 n_splits: int) -> DataFrame:
    """Spread a small scan for a CPU-heavy downstream stage — ONLY when the
    scan has fewer partitions than the row-sized target (optimization guide
    §2.2/§6; round-14 verdict #1).

    The test corpora are one parquet file = ONE input split, so without a
    spread a CPU-bound stage (shingling, token hashing) runs on a single
    core.  But an unconditional ``repartition(defaultParallelism)`` is a
    full-table exchange at EVERY scale: at 100 TB the scan's splits already
    provide the parallelism and the shuffle is pure waste.  This helper
    sizes the target by rows (capped at defaultParallelism) and adds the
    exchange only when the scan itself falls short of it — corpus-scale
    paths take NO exchange.
    """
    spark = df.sparkSession
    target = max(1, min(spark.sparkContext.defaultParallelism,
                        -(-n_rows // max(1, rows_per_partition))))
    if n_splits >= target:
        return df
    return df.repartition(target)
