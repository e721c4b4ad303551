"""Source readers.

Reference surface (SURVEY §2.1):
  * HiveReader          — ``dal/HiveReader.scala:19-51``      → ``spark.sql`` / ``spark.table``
  * HDFSFileReader      — ``dal/HDFSFileReader.scala:20-61``  → ``spark.read.csv/json`` + temp view
  * VerticaReader       — ``dal/VerticaReader.scala:25-66``   → ``spark.read.jdbc`` with subquery alias
  * SQL view chain      — ``dal/DataReader.scala:105-120``    → loop of ``spark.sql`` + temp views
  * Reader factory      — ``dal/DataReaderFactory.scala:36-50`` → URI-scheme dispatch

All readers return lazy DataFrames; Catalyst pushes filters/projections into
the scan (parquet/csv/JDBC), so downstream ``select``/``filter`` prune IO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_COMPUTE_HEAVY = {"documents", "embeddings"}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool | None = None
) -> DataFrame:
    """Load one synthetic-benchmark table from a scale-factor directory.

    The ``events`` table carries TIMESTAMP(NANOS) parquet columns, which
    Spark rejects by default ([PARQUET_TYPE_ILLEGAL]); read nanos as long
    and convert to a microsecond timestamp (truncation — matches how any
    SQL engine's ``date_trunc``/``epoch`` sees them).

    ``parallelize``: the driver's tables are single-row-group parquet
    files, which Spark cannot split — every downstream stage before the
    first shuffle would run as ONE task on a 32-core box.  When the scan
    yields fewer partitions than the cluster's parallelism, repartition
    once up front (a few MB of shuffle buys a 32× parallel map side).  On
    real multi-split inputs the condition is false and this is a no-op.
    Default (None): only for the compute-heavy tables (documents,
    embeddings — per-row hash/vector math dominates), where the shuffle
    repays itself many times; the relational tables' cheap scans would pay
    more in shuffle than they gain.
    """
    if parallelize is None:
        parallelize = name in _COMPUTE_HEAVY
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        for field, dtype in df.dtypes:
            if field == "ts" and dtype == "bigint":
                # integer division: epoch nanos (~1.7e18) exceed double's
                # 2^53 exact range, so float `/ 1000` can be off by ~1us at
                # second/window boundaries vs DuckDB's native-nanos epoch
                df = df.withColumn(
                    "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
                )
            elif field == "ts" and dtype == "timestamp_ntz":
                # micros-NTZ variant of the testdata: normalize to TIMESTAMP
                # (instant) — wall-clock-preserving under the UTC session tz,
                # and required by epoch casts and streaming watermarks
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if parallelize:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def local_rows(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-literal fixture rows as a pandas-backed LocalRelation.

    ``spark.createDataFrame(list_of_tuples, ...)`` parallelizes through a
    Python RDD — every consumer then runs an ``applySchemaToPythonRDD``
    scan stage (Python-runner startup + scheduler latency, ~0.3-0.4 s
    per collect on a warm session, times the number of jobs that touch
    the fixture).  The pandas path hands the rows to Catalyst as a
    LocalRelation: driver-side collects (the bounded driver solves)
    never launch a job at all, and distributed consumers read a
    LocalTableScan with no Python stage.  Same rows, same schema, same
    results — only the physical source node changes (guide §5: the
    driver should not ride the cluster for literal fixture rows)."""
    import pandas as pd
    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
    return spark.createDataFrame(pdf, st)


def run_sql_view_chain(
    spark: SparkSession, queries: list[str], view_prefix: str = "flashml_view_"
) -> DataFrame:
    """Execute a chain of SQL statements, registering each result as
    ``<prefix><i>`` so later statements can reference earlier ones; return
    the final result.

    Mirrors ``dal/DataReader.scala:105-120`` (``processSQLViewsRec``): the
    reference registers every intermediate as a temp view and returns the
    last.  Temp views are logical-plan aliases — Catalyst inlines them, so
    the chain optimizes as ONE plan (no materialization between steps).
    """
    if not queries:
        raise ValueError("empty SQL view chain")
    df = None
    for i, q in enumerate(queries):
        df = spark.sql(q)
        df.createOrReplaceTempView(f"{view_prefix}{i}")
    return df


def validate_input_query(query: str) -> None:
    """Reject bare ``select``-prefixed input queries.

    Mirrors ``dal/DataReader.scala:86-93`` which expects full CTAS-style
    statements for all but the final query in a chain.
    """
    if query.strip().lower().startswith("select"):
        raise ValueError(
            "input query must not start with SELECT; use a full statement "
            "(e.g. CREATE TEMPORARY VIEW ... AS SELECT ...)"
        )


def read_source(spark: SparkSession, uri: str, **options) -> DataFrame:
    """URI-scheme dispatching reader (``dal/DataReaderFactory.scala:36-50``).

    Supported schemes:
      * ``parquet://<path>`` / plain path ending .parquet
      * ``csv://<path>``  (header=true, like ``HDFSFileReader.scala:34``)
      * ``tsv://<path>``  (sep=\\t, header=true)
      * ``json://<path>`` (schema inference, ``HDFSFileReader.scala:36-40``)
      * ``hive://<db.table>`` → ``spark.table``
      * ``jdbc://<url>`` with ``dbtable``/``query`` option (VerticaReader-style)
    """
    scheme, _, rest = uri.partition("://")
    if not rest:  # plain path
        scheme, rest = _sniff_scheme(uri), uri
    scheme = scheme.lower()
    if scheme == "parquet":
        return spark.read.options(**options).parquet(rest)
    if scheme == "csv":
        return spark.read.option("header", "true").options(**options).csv(rest)
    if scheme == "tsv":
        return (
            spark.read.option("header", "true").option("sep", "\t").options(**options).csv(rest)
        )
    if scheme == "json":
        return spark.read.options(**options).json(rest)
    if scheme == "hive":
        return spark.table(rest)
    if scheme == "jdbc":
        # VerticaReader.scala:25-66 — read a table, or wrap the first query
        # as a subquery alias so the predicate is pushed to the database.
        query = options.pop("query", None)
        table = options.pop("dbtable", None)
        if query is not None:
            table = f"( {query} ) flashml_subq"
        if table is None:
            raise ValueError("jdbc source needs 'dbtable' or 'query' option")
        return spark.read.jdbc(rest, table, properties=options)
    raise ValueError(f"unsupported source scheme: {scheme!r}")


def _sniff_scheme(path: str) -> str:
    for ext, scheme in ((".parquet", "parquet"), (".csv", "csv"), (".tsv", "tsv"), (".json", "json")):
        if path.rstrip("/").endswith(ext):
            return scheme
    return "parquet"


def read_incremental(
    spark: SparkSession, path: str, manifest_path: str, fmt: str = "parquet"
):
    """Manifest-based incremental batch ingestion: return only the files
    under ``path`` not yet committed to the manifest — the batch twin of
    Structured Streaming's file-source log, for pipelines that re-run on a
    schedule instead of holding a streaming query open.

    The manifest holds file PATHS (metadata, |files|-sized — same driver
    footprint as Spark's own streaming file log).  Discovery is a Hadoop
    FileSystem listing — an O(|files|) namenode RPC, NEVER a row scan of
    the data (an incremental run must not cost O(full corpus)).  Returns
    ``(df, new_files)``; call :func:`commit_manifest` with ``new_files``
    after the batch lands to make the ingestion exactly-once.  A missing /
    empty source dir on the first run is not an error: returns
    ``(None, [])`` when no file has EVER been seen (no schema to offer),
    else a 0-row frame with the previously-seen schema.
    """
    from pyspark.errors import AnalysisException

    try:
        seen = {r["file"] for r in spark.read.parquet(manifest_path).collect()}
    except AnalysisException:
        seen = set()
    files = set(_list_data_files(spark, path))
    new_files = sorted(files - seen)
    if not new_files:
        if not files and not seen:
            return None, []
        empty = spark.read.format(fmt).load(sorted(files or seen)).limit(0)
        return empty, []
    return spark.read.format(fmt).load(new_files), new_files


def _list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Recursive Hadoop FS listing of data files under ``path`` — plan
    metadata only (no Spark job).  Skips hidden/metadata entries
    (``_SUCCESS``, ``.crc`` …) with the same leading ``_``/``.`` rule
    Spark's own file index applies.  Missing path → ``[]``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out: list[str] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append(st.getPath().toString())
    return out


def commit_manifest(spark: SparkSession, manifest_path: str, files: list[str]) -> None:
    """Append processed file paths to the ingestion manifest."""
    if not files:
        return
    spark.createDataFrame([(f,) for f in files], "file string").write.mode(
        "append"
    ).parquet(manifest_path)
