"""Publish / QA-data generation (SURVEY §2.2, §3.1-i).

Reference behaviors re-expressed Spark-native:
  * Spark-native publish (``publish/Publish.scala:60-164,170-203``):
    ``Experiment.run`` saves each page's fitted steps as native
    PipelineModels (``prep_pipeline`` and ``model_pipeline``) and
    ``Experiment.load_models`` composes them into one for scoring.
  * QA data generation (``publish/Publish.scala:261-474``): join scored
    rows back to the input on the concatenated primary key, sample N rows,
    write csv/json.  The join is keyed on the composite key; the sampled
    output is tiny, so ``coalesce(1)`` is correct for the final write
    (never for the join itself).

The JS-coefficient and MLeap publishers are intentionally out of scope
(native ``PipelineModel.save`` replaces both; SURVEY §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flashml_spark.operators.relational import concat_key


def qa_data(
    scored: DataFrame,
    source: DataFrame,
    primary_keys: list[str],
    n_rows: int = 100,
    scored_cols: list[str] | None = None,
    seed: int = 20,
) -> DataFrame:
    """Join scored rows back to the raw input on the concatenated key and
    take a deterministic sample of ``n_rows``.

    Shape at scale: both sides shuffle once on the composite key (or the
    scored side broadcasts if it fits); the ``limit`` after ``sample``
    keeps only driver-tiny data.
    """
    key = "__qa_key"
    s = concat_key(scored, primary_keys, out_col=key)
    if scored_cols is not None:
        s = s.select(key, *scored_cols)
    else:
        s = s.drop(*[c for c, t in s.dtypes if t == "vector"])
    src = concat_key(source, primary_keys, out_col=key)
    joined = src.join(s.withColumnsRenamed(
        {c: f"scored_{c}" for c in s.columns if c != key and c in src.columns}
    ), key)
    total = joined.count()
    fraction = min(1.0, (n_rows * 2) / total) if total else 1.0
    return joined.sample(False, fraction, seed).limit(n_rows).drop(key)


def write_qa_data(df: DataFrame, path: str, fmt: str = "csv") -> None:
    """Write the (tiny, sampled) QA set as one file, like the reference's
    ``coalesce(1)`` csv/json export."""
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported QA format: {fmt!r}")
