"""Savepoint manager — materialized DataFrames enabling pipeline resume.

Mirrors ``dal/SavePointManager.scala:30-135`` and the directory contract of
``core/DirectoryCreator.scala:39-149``:

    <root>/<project>/<model>/<type>/page<k>/noSegment/data/<step><DataSet>

The reference writes gzip parquet (``FlashML.scala:66``); we default to
snappy (better scan throughput at 100 TB; gzip available via option).
Writes are partitioned — never ``coalesce(1)`` for data-sized outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SavepointManager:
    """Save/load per-(step, dataset, page) materialization barriers."""

    def __init__(self, spark: SparkSession, root: str, project: str = "default",
                 model: str = "model", compression: str = "snappy") -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.project = project
        self.model = model
        self.compression = compression

    def path(self, step: str, dataset: str = "train", page: int = 0) -> str:
        return (
            f"{self.root}/{self.project}/{self.model}/page{page}/noSegment/data/"
            f"{step}{dataset.capitalize()}"
        )

    def save(self, df: DataFrame, step: str, dataset: str = "train", page: int = 0) -> str:
        p = self.path(step, dataset, page)
        (
            df.write.mode("overwrite")
            .option("compression", self.compression)
            .parquet(p)
        )
        return p

    def load(self, step: str, dataset: str = "train", page: int = 0) -> DataFrame:
        return self.spark.read.parquet(self.path(step, dataset, page))

    def barrier(self, df: DataFrame, step: str, dataset: str = "train",
                page: int = 0) -> DataFrame:
        """Save ``df`` and return the frame re-read from the savepoint.

        Downstream steps then consume the exact parquet frame a resumed run
        will load — same partition layout, same row order — so randomSplit
        and float aggregation replay identically and a resumed run's output
        is byte-identical to the original's."""
        self.save(df, step, dataset, page)
        return self.load(step, dataset, page)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist bucketed-by-key (saveAsTable) so repeated joins/aggs on the
    key are CO-LOCATED — Spark reads bucket files straight into matching
    partitions, no shuffle on either side of a bucketed-bucketed join.

    The 100 TB pattern: bucket fact tables once at ingest on their join
    key; every downstream join/groupBy on that key skips its exchange.
    """
    writer = df.write.mode("overwrite").format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    compression: str = "zstd",
) -> None:
    """Materialize packed training shards at rest: one directory per shard
    (``partitionBy``), zstd parquet.  Downstream trainers read exactly the
    shards they own via partition pruning (``WHERE shard IN (...)`` never
    scans other shards' files); writing shard-partitioned also means a
    re-pack only rewrites the shards whose membership changed."""
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .partitionBy(shard_col)
        .parquet(path)
    )


def read_training_shards(spark, path: str, shards: list[int] | None = None):
    """Read packed shards back; ``shards`` restricts via partition pruning
    (visible as PartitionFilters in the scan, not a post-filter)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if shards is not None:
        df = df.filter(F.col("shard").isin(*shards))
    return df


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) for a parquet directory, from namenode
    metadata only — no data read."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total, n = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        total += st.getLen()
        n += 1
    return total, n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    min_files_to_compact: int = 8,
) -> dict:
    """Rewrite a parquet directory into ~``target_file_mb``-sized files.

    Long-running ingestion (streaming sinks, per-batch incremental
    appends) accumulates many small files; at scale that turns every
    downstream scan into a file-listing + task-scheduling problem (one
    task per tiny file) and hammers the namenode.  Compaction is plain
    maintenance: read, repartition to ``ceil(bytes / target)``, rewrite.

    The rewrite goes to a sibling temp dir first and swaps in with two
    renames, so concurrent READERS never see a half-written directory
    (writers must be quiesced — same contract as any file-level compactor).
    Returns ``{"bytes": .., "files_before": .., "files_after": ..}``;
    no-ops (returning the same dict shape) when the directory already has
    fewer than ``min_files_to_compact`` files.
    """
    import math

    total, n_before = _dir_stats(spark, path)
    if n_before < min_files_to_compact:
        return {"bytes": total, "files_before": n_before, "files_after": n_before}

    n_target = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_tmp")
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_old")

    df.repartition(n_target).write.mode("overwrite").parquet(str(tmp))
    fs.delete(old, True)
    if not fs.rename(p, old):
        raise IOError(f"compact: cannot move {path} aside")
    if not fs.rename(tmp, p):
        fs.rename(old, p)  # roll back
        raise IOError(f"compact: cannot swap in compacted {path}")
    fs.delete(old, True)

    _, n_after = _dir_stats(spark, path)
    return {"bytes": total, "files_before": n_before, "files_after": n_after}


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 32,
) -> None:
    """Write parquet range-partitioned AND sorted on ``sort_col`` so each
    file (and each row group inside it) covers a narrow, nearly disjoint
    value range.  Parquet footers carry per-row-group min/max stats; a
    scan with a pushed range predicate on ``sort_col`` then skips whole
    files/row groups instead of reading and filtering them — the poor
    man's clustering index, and the single highest-leverage layout choice
    for a column the workload ranges over (timestamps, lengths, scores).

    ``repartitionByRange`` samples the column to build balanced range
    bounds (skew-tolerant); ``sortWithinPartitions`` orders rows inside
    each output file so row-group stats are tight, not just file stats.
    """
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    path: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Write parquet clustered on the Z-order (Morton) interleave of two
    columns — the 2-D generalization of :func:`write_range_sorted`.
    Each output file covers a narrow min/max BOX in both ``col_a`` and
    ``col_b``, so parquet footer stats prune scans that range over
    either or both dimensions (Delta/Iceberg ``OPTIMIZE ZORDER BY``
    semantics, done with stock Spark writers).

    ``repartitionByRange`` on the z-value samples for balanced bounds;
    the within-file sort keeps row-group stats tight.  The z-value is
    dropped from the stored schema — the layout, not the column, is the
    product.
    """
    from flashml_spark.functions.zorder import z_value

    mask = (1 << bits) - 1
    zv = z_value(
        F.col(col_a).bitwiseAND(F.lit(mask)),
        F.col(col_b).bitwiseAND(F.lit(mask)),
        bits,
    )
    (
        df.withColumn("__zv", zv)
        .repartitionByRange(n_files, "__zv")
        .sortWithinPartitions("__zv")
        .drop("__zv")
        .write.mode("overwrite")
        .parquet(path)
    )
