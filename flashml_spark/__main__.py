"""Config-file CLI — the engine's equivalent of the reference's only
entry point, ``spark-submit … com.tfs.flashml.FlashML <config file>``
(``FlashML.scala:27-83``): parse config → build session → read input →
run the pipeline → write metrics + savepoints.

    python -m flashml_spark <config.json> [--resume-from STEP]

Config keys beyond ``load_config``'s experiment mapping (all optional,
reference naming where the concept carries over):

    flashml.context               Spark master        (FlashML.scala:60-66)
    project.logLevel              driver log level    (config.json)
    project.data.location.source  input URI for read_source — hive://db.tbl,
                                  parquet/csv/tsv/json paths, jdbc://
                                  (DataReaderFactory.scala:36-50)
    project.data.location.queries SQL view chain run after the source is
                                  registered as a temp view; the LAST
                                  query's result is the pipeline input
                                  (DataReader.scala:105-120)
    project.data.location.temp_table_prefix
                                  temp-view name for the source (+ chain
                                  intermediates get <prefix><i>)
    experiment.type               "model" (default: fit + score),
                                  "predict" (load persisted pipelines,
                                  score the input, no refit), or
                                  "monitoring" (PSI/VSI model-health job
                                  — see ``_run_monitoring``)
    predict.output                parquet path for predict-mode output

Exit code 0 on success; config/validation errors print the offending
path and exit 2 (ConfigValidatorException semantics)."""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any


def _run_monitoring(spark, raw: dict, new_df) -> int:
    """The reference's model-health job type (``psivsi_config.json`` /
    ``ModelHealthMetricsEvaluator.scala:43-210``): PSI between the base
    (training-time) and new (serving-time) score distributions, plus
    per-categorical-variable VSI with missing/new value reports.

    Config keys:
        experiment.type            "monitoring"
        monitoring.baseSource      URI of the base dataset (read_source)
        monitoring.scoreColumn     score column for PSI
        monitoring.categoricalVariables   per-variable VSI list
        monitoring.buckets         PSI buckets (default 10)
        monitoring.cardinalityVariables   per-variable HLL distinct
                                   estimate on base AND new + ratio —
                                   cardinality drift without an exact
                                   count_distinct over the serving data
        monitoring.heavyHitterVariables   per-variable count-min top-k
                                   heavy hitters of the NEW data, each
                                   flagged whether it was also a base
                                   heavy hitter (hot-key churn)
        monitoring.heavyHitterK    top-k size (default 10)
        monitoring.timeline        {"tsColumn": ..., "valueColumn": ...,
                                   "baseDays": 7, "buckets": 10} — daily
                                   PSI drift series over the NEW data vs
                                   its own first-baseDays base period
                                   ("when did the drift start")
        project.data.pageVariable / numPages   per-page PSI fan-out
        savepoint.root             where metrics/health.json lands

    The sketch metrics extend the reference's PSI/VSI surface (it has
    no sketch family): one ``monitoring`` run reports distribution
    drift (PSI), category churn (VSI), cardinality drift (HLL), and
    hot-key churn (CMS) together.
    """
    from flashml_spark.config import get_path
    from flashml_spark.metrics import stability
    from flashml_spark.operators import sketches
    from flashml_spark.sources.readers import read_source

    base_uri = get_path(raw, "monitoring.baseSource")
    if base_uri is None or new_df is None:
        print(
            "invalid config: monitoring needs monitoring.baseSource and "
            "project.data.location.source",
            file=sys.stderr,
        )
        return 2
    base = read_source(spark, base_uri)
    score_col = get_path(raw, "monitoring.scoreColumn")
    buckets = int(get_path(raw, "monitoring.buckets", 10))
    cats = get_path(raw, "monitoring.categoricalVariables") or []
    page_col = get_path(raw, "project.data.pageVariable")
    num_pages = int(get_path(raw, "project.data.numPages", 1))

    report: dict[str, Any] = {}
    if score_col:
        report["psi"] = stability.psi(base, new_df, score_col, buckets)
        report["psiEmptyBuckets"] = stability.empty_psi_buckets(
            base, new_df, score_col, buckets
        )
        if page_col and num_pages > 1:
            report["psiByPage"] = {
                str(k): v
                for k, v in stability.psi_by_page(
                    base, new_df, score_col, page_col, num_pages, buckets
                ).items()
            }
    for var in cats:
        report[f"vsi.{var}"] = stability.vsi(base, new_df, var)

    for var in get_path(raw, "monitoring.cardinalityVariables") or []:
        b = sketches.hll_cardinality(base, var)
        n = sketches.hll_cardinality(new_df, var)
        report[f"cardinality.{var}"] = {
            "base": round(b, 1),
            "new": round(n, 1),
            "ratio": round(n / b, 6) if b else None,
        }

    hh_k = int(get_path(raw, "monitoring.heavyHitterK", 10))
    for var in get_path(raw, "monitoring.heavyHitterVariables") or []:
        base_top = {
            r["value"]
            for r in sketches.count_min_audit(base, var, top_k=hh_k).collect()
        }
        report[f"heavyHitters.{var}"] = [
            {
                "value": r["value"],
                "count": r["n_exact"],
                "cms_estimate": r["cms_estimate"],
                "in_base_topk": r["value"] in base_top,
            }
            for r in sketches.count_min_audit(new_df, var, top_k=hh_k).collect()
        ]

    tl = get_path(raw, "monitoring.timeline")
    if tl:
        series = stability.psi_timeline(
            new_df,
            tl["tsColumn"],
            tl["valueColumn"],
            base_days=int(tl.get("baseDays", 7)),
            bins=int(tl.get("buckets", 10)),
        ).collect()  # |days| rows — value-domain bounded
        report["psiTimeline"] = [
            {"d": str(r["d"]), "n": r["n"], "psi": r["psi"]} for r in series
        ]

    root = get_path(raw, "savepoint.root")
    if root:
        import os

        os.makedirs(f"{root}/metrics", exist_ok=True)
        with open(f"{root}/metrics/health.json", "w") as f:
            json.dump(report, f, indent=1, default=float)
    print(json.dumps({"health": report}, default=float))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m flashml_spark",
        description="Run a config-driven FlashML-style experiment on Spark.",
    )
    parser.add_argument("config", help="path to the JSON config file")
    parser.add_argument(
        "--resume-from",
        choices=("sampling", "vectorization", "modelling"),
        default=None,
        help="restart mid-pipeline from a previous run's savepoints",
    )
    args = parser.parse_args(argv)

    with open(args.config) as f:
        raw = json.load(f)

    from flashml_spark.config import ConfigValidationError, get_path, load_config

    try:
        cfg = load_config(raw)
    except (ConfigValidationError, ValueError) as e:
        print(f"invalid config: {e}", file=sys.stderr)
        return 2

    source = get_path(raw, "project.data.location.source") or get_path(
        raw, "project.data.source"
    )
    mode = get_path(raw, "experiment.type", "model")
    if source is None and args.resume_from is None:
        print(
            "invalid config: project.data.location.source is required "
            "(unless --resume-from restarts from savepoints)",
            file=sys.stderr,
        )
        return 2

    from flashml_spark.experiment import Experiment
    from flashml_spark.session import get_spark

    master = get_path(raw, "flashml.context")
    extra = {"spark.master": master} if master else None
    spark = get_spark(
        get_path(raw, "project.id", "flashml-spark"), extra_conf=extra
    )
    log_level = get_path(raw, "project.logLevel")
    if log_level:
        spark.sparkContext.setLogLevel(log_level)

    df = None
    if source is not None:
        from flashml_spark.sources.readers import read_source, run_sql_view_chain

        df = read_source(spark, source)
        queries = get_path(raw, "project.data.location.queries") or []
        if queries:
            prefix = get_path(
                raw, "project.data.location.temp_table_prefix", "flashml_table_"
            )
            df.createOrReplaceTempView(f"{prefix}in")
            df = run_sql_view_chain(spark, queries, view_prefix=prefix)

    if mode == "monitoring":
        return _run_monitoring(spark, raw, df)

    exp = Experiment(cfg)
    if mode == "predict":
        scored = exp.predict(spark, df)
        out = get_path(raw, "predict.output")
        if out:
            scored.drop(
                *[c for c, t in scored.dtypes if t == "vector"]
            ).write.mode("overwrite").parquet(out)
        else:
            print(json.dumps({"predicted_rows": scored.count()}))
        return 0

    metrics = exp.run(spark, df, resume_from=args.resume_from)
    printable = {
        k: v for k, v in metrics.items() if isinstance(v, (int, float, str))
    }
    print(json.dumps({"metrics": printable}, default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
