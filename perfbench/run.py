"""Benchmark of the FlashML pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload hotlead_pages --seed 1 --seconds 1 --trace 0

One closed-loop client.  The command writes the workload's inputs from
``--seed``, then starts the measured driver process, times its start-up,
and lets it run one cold iteration and warm iterations for
``--seconds`` seconds, checks every output and reports.  The last line of
standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with ``--trace 1``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

TIME_LIMIT_S = 170.0

# Reported in the detail line but not result metrics: the cold iteration's
# wall time spread by up to 0.30 of its median over ten seeds when the
# host's steal time rose, and the JVM's peak RSS follows its heap growth
# policy more than the work done.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units.  Every workload reports all of
    them; a span a workload never reaches reads 0."""
    from perfbench.trace import FIELDS, SPANS

    units = {f"{span}.{f}": {"jobs": "count", "shuffle_mb": "MB"}.get(f, "s")
             for span in SPANS for f in FIELDS}
    units.update({
        "sources.savepoint.mb_written": "MB",
        "session.pinned_rdds_leaked": "count",
        "spark.jobs": "count",
        "spark.unattributed_jobs_share": "ratio",
        "tracing.overhead_s": "s",
    })
    return units


# ---------------------------------------------------------------- driver side
def start_session(workload: str, trace: bool):
    """The session a user gets from ``get_spark`` on this host: every core,
    and no other setting of the program's changed."""
    from flashml_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        # a traced intent_svm_cv run starts more jobs than the default 1000
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    spark = get_spark(f"perfbench-{workload}", cpus=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism != nproc:
        raise SystemExit(f"defaultParallelism {parallelism} != nproc {nproc}")
    return spark


def host_info(spark) -> dict:
    from flashml_spark.experiment import ExperimentConfig

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
        "ExperimentConfig.parallelism": ExperimentConfig().parallelism,
        "SPARK_GRAFT_PAGE_THREADS": os.environ.get("SPARK_GRAFT_PAGE_THREADS",
                                                   "unset (code default)"),
    }


def worker(args) -> int:
    from perfbench import procfs
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, release_storage

    spark = start_session(args.workload, args.trace)
    print("PERFBENCH READY", flush=True)
    sid = os.getsid(0)
    tracer = Tracer(spark)
    if args.trace:
        tracer.install()
    wl = WORKLOADS[args.workload](args.inputs, tracer, args.scale)

    def pinned() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def iteration(traced: bool) -> dict:
        wl.reset()
        tracer.enabled = traced
        rec = {"traced": traced, "ok": True}
        pinned0, cpu0 = pinned(), procfs.session_cpu_s(sid)
        t0 = time.perf_counter()
        try:
            with tracer.span("iteration") as root:
                rec["out"] = wl.iterate(spark)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            rec["ok"] = False
        finally:
            tracer.enabled = False
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procfs.session_cpu_s(sid) - cpu0
        rec["leaked"] = pinned() - pinned0
        rec["root"] = root
        release_storage(spark)
        return rec

    # The first iteration is the cold one; more follow until --seconds have
    # passed since it started.  The traced run adds one traced and one
    # untraced warm iteration, alternating, for the tracing overhead.
    start = time.perf_counter()
    runs = [iteration(False)]
    while True:
        warm = runs[1:]
        if (time.perf_counter() - start >= args.seconds
                and (not args.trace or len(warm) >= 2)):
            break
        if len(warm) >= 2 * args.trace and time.time() + 2 * runs[-1]["wall_s"] > args.deadline:
            break
        runs.append(iteration(bool(args.trace) and len(runs) % 2 == 1))
    peak_rss_mb = procfs.session_peak_rss_mb(sid)

    ok = [r for r in runs if r["ok"]]
    bad = {i for i, r in enumerate(runs) if not r["ok"]}
    messages = []
    if ok:
        outputs = [r["out"] for r in ok]
        if args.corrupt:
            wl.corrupt(outputs)
        index = [i for i, r in enumerate(runs) if r["ok"]]
        for i, msg in wl.check(spark, outputs):
            bad.add(index[i])
            messages.append(msg)

    warm = runs[1:]
    result = {
        "host": host_info(spark),
        "cold_run_s": runs[0]["wall_s"],
        "warm_s": [r["wall_s"] for r in warm if not r["traced"]],
        "cpu_s": runs[0]["cpu_s"],
        "leaked": [r["leaked"] for r in warm],
        "peak_rss_mb": peak_rss_mb,
        "attempted": len(runs),
        "failed": len(bad),
        "errors": messages[:20],
        "quality": [r["out"]["metrics"].get("weightedF1") for r in ok
                    if "metrics" in r["out"]],
    }
    if args.trace:
        traced = [r for r in warm if r["traced"] and r["ok"]]
        untraced = result["warm_s"]
        jobs = tracer.attach_jobs()
        layers = [tracer.layer_metrics(r["root"], jobs) for r in traced]
        result["layers"] = {k: statistics.median(m[k] for m in layers) for k in layers[0]} \
            if layers else {}
        result["layers"]["sources.savepoint.mb_written"] = (
            tracer.savepoint_mb_written / max(1, len(traced)))
        if traced and untraced:
            result["layers"]["tracing.overhead_s"] = (
                statistics.median(r["wall_s"] for r in traced) - statistics.median(untraced))
        result["traced_s"] = [r["wall_s"] for r in traced]
        leaks: dict[str, int] = {}
        for r in traced:
            for name, n in tracer.leaks_by_span(r["root"]).items():
                leaks[name] = leaks.get(name, 0) + n
        result["leaks_by_span"] = leaks
        result["spans_nest"] = all(
            sp.parent is None or sp.parent.t0 <= sp.t0 <= sp.t1 <= sp.parent.t1
            for sp in tracer.spans
        )
        tracer.uninstall()
    spark.stop()
    print("PERFBENCH RESULT " + json.dumps(result), flush=True)
    return 0


# ---------------------------------------------------------------- client side
class BenchError(RuntimeError):
    pass


def child_env(work: Path) -> dict:
    """Workers of the JVM import ``flashml_spark`` from any cwd, and every
    scratch file of the JVM and Python lands inside ``work``."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    return env


def _kill_session(pid: int) -> None:
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def launch(role_args: list[str], env: dict, deadline: float) -> tuple[float, dict | None]:
    """Run ``run.py`` in a new session.  Returns the seconds from process
    start to a ready session, and the child's result if it sent one."""
    from perfbench import procfs

    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "run.py"), *role_args],
        stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT, start_new_session=True,
    )
    watchdog = threading.Timer(max(1.0, deadline - time.time()), _kill_session, (proc.pid,))
    watchdog.start()
    ready = result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH READY"):
                ready = time.perf_counter() - t0
            elif line.startswith("PERFBENCH RESULT "):
                result = json.loads(line[len("PERFBENCH RESULT "):])
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        proc.kill()
        proc.wait()
        proc.stdout.close()
        procfs.stop_session(proc.pid)
    if ready is None or proc.returncode != 0:
        raise BenchError(f"driver process exited with {proc.returncode}")
    return ready, result


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples above it."""
    if len(samples) < 11:
        return None
    ordered = sorted(samples)
    k = len(ordered) - 11
    return 100.0 * (k + 1) / len(ordered), ordered[k]


def report(args, setup_s: float, res: dict) -> dict:
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update((k, v) for k, v in res["layers"].items() if k in units)
        values["session.pinned_rdds_leaked"] = statistics.median(res["leaked"])
    else:
        units = END_TO_END
        values = {
            "setup_s": setup_s,
            "cpu_s": res["cpu_s"],
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": res["host"],
        "cold_run_s": res["cold_run_s"], "warm_samples_s": res["warm_s"],
        "run_s": statistics.median(res["warm_s"]) if res["warm_s"] else None,
        "error_rate": res["failed"] / res["attempted"], "errors": res["errors"],
        "model_quality": statistics.median(res["quality"]) if res["quality"] else None,
        "pinned_rdds_leaked": res["leaked"], "peak_rss_mb": res["peak_rss_mb"],
    }
    tail = tail_percentile(res["warm_s"])
    detail["run_tail_s"] = (
        {"percentile": tail[0], "value": tail[1], "samples": len(res["warm_s"])}
        if tail else f"needs 11 warm samples, have {len(res['warm_s'])}")
    for key in ("traced_s", "leaks_by_span", "spans_nest"):
        if key in res:
            detail[key] = res[key]
    print(json.dumps(detail))
    for name, unit in units.items():
        print(f"{args.workload:17s} {name:40s} {values[name]:14.6f} {unit}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }


def client(args) -> int:
    if not (ROOT / "flashml_spark" / "__init__.py").is_file():
        print(f"perfbench: no flashml_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import make_inputs

    deadline = time.time() + TIME_LIMIT_S
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "inputs"):
        (work / sub).mkdir(parents=True)
    try:
        make_inputs(args.workload, str(work / "inputs"), args.seed, args.scale)
        env = child_env(work)
        setup_s, res = launch(
            ["--role", "worker", "--workload", args.workload, "--trace", str(args.trace),
             "--scale", args.scale, "--inputs", str(work / "inputs"),
             "--seconds", str(args.seconds), "--deadline", str(deadline - 30)]
            + (["--corrupt"] if args.corrupt else []),
            env, deadline)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass
    if res is None:
        print("perfbench: the driver process sent no result", file=sys.stderr)
        return 1
    print(json.dumps(report(args, setup_s, res)))
    return 0


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input size; tiny is for the self-test, issue for comparison runs")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: falsify one output so the check must fail")
    ap.add_argument("--role", choices=("client", "worker"), default="client",
                    help=argparse.SUPPRESS)
    ap.add_argument("--inputs", help=argparse.SUPPRESS)
    ap.add_argument("--deadline", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    return {"client": client, "worker": worker}[args.role](args)


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
