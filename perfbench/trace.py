"""Spans around the calls into each layer, recorded from outside the program.

``Tracer.install`` wraps public functions and methods of ``flashml_spark``
and ``pyspark.ml`` in place; nothing under ``flashml_spark/`` changes.
Each span adds a Spark job tag in the thread that opened it, so the jobs
it starts can be found in the status store afterwards.  Spark keeps job
tags per thread and a pool thread starts with none, so submissions to a
``ThreadPoolExecutor`` carry the submitting thread's open spans over to
the pool thread.

After the run, ``Tracer.layer_metrics`` joins spans with the status
store's job and stage records into ``<span>.<field>`` figures per traced
iteration.
"""

from __future__ import annotations

import concurrent.futures
import functools
import inspect
import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "perfbench-span-"

# Every span the benchmark reports, in the order the per-layer metrics list
# them.  ``iteration`` is the root of a traced iteration and not a layer.
SPANS = (
    "sources.read", "sources.savepoint", "operators.split", "operators.pages",
    "operators.binning", "vectorization.fit", "training.fit", "training.platt",
    "tuning.cv", "scoring.predict", "metrics.multiclass", "metrics.binary",
    "metrics.hotlead", "publish.save", "publish.load",
)
FIELDS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "shuffle_mb")


@dataclass
class Span:
    id: int
    name: str
    parent: "Span | None"
    thread: int
    t0: float
    t1: float = 0.0
    pinned0: int = 0
    pinned1: int = 0
    jobs: list = field(default_factory=list)

    @property
    def tag(self) -> str:
        return f"{TAG}{self.id}"

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so the
    same workload code runs traced and untraced."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self.savepoint_mb_written = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # ---- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _pinned(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(next(self._ids), name, self.current(),
                  threading.get_ident(), time.time(), pinned0=self._pinned())
        self.sc.addJobTag(sp.tag)
        self._stack().append(sp)
        try:
            yield sp
        finally:
            self._stack().pop()
            self.sc.removeJobTag(sp.tag)
            sp.t1 = time.time()
            sp.pinned1 = self._pinned()
            with self._lock:
                self.spans.append(sp)

    def _inherit(self, chain: list[Span], fn, *args, **kwargs):
        """Run ``fn`` in a pool thread under the submitting thread's spans."""
        stack = self._stack()
        saved, stack[:] = list(stack), chain
        for sp in chain:
            self.sc.addJobTag(sp.tag)
        try:
            return fn(*args, **kwargs)
        finally:
            for sp in chain:
                self.sc.removeJobTag(sp.tag)
            stack[:] = saved

    # ---- instrumentation ---------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        static = inspect.getattr_static(owner, attr)
        own = attr in vars(owner)
        self._patches.append((owner, attr, static if own else None))
        if isinstance(static, (staticmethod, classmethod)):
            wrapper = staticmethod(wrapper)
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, skip_inside: str | None = None,
             after=None) -> None:
        """Open span ``name`` around every call of ``owner.attr``; no span
        while ``skip_inside`` is the innermost open span.  ``after(result)``
        runs once the span has closed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if skip_inside and cur is not None and cur.name == skip_inside:
                return orig(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None and tracer.enabled:
                after(result)
            return result

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.ml import Pipeline, PipelineModel
        from pyspark.ml.classification import LinearSVC, LogisticRegression
        from pyspark.ml.pipeline import PipelineModelWriter

        import flashml_spark.experiment as experiment
        from flashml_spark.metrics import hotlead
        from flashml_spark.operators import relational, sampling
        from flashml_spark.operators.binning import BinningEstimator
        from flashml_spark.sources import readers
        from flashml_spark.sources.savepoint import SavepointManager
        from flashml_spark.training.ovr import OneVsRestWithScores
        from flashml_spark.training.platt import PlattScalar
        from flashml_spark.tuning.cv import CrossValidatorWithFoldMetrics

        def written(path):
            mb = _tree_bytes(path) / 1e6
            with self._lock:
                self.savepoint_mb_written += mb

        self.wrap(readers, "read_source", "sources.read")
        self.wrap(SavepointManager, "save", "sources.savepoint", after=written)
        self.wrap(SavepointManager, "load", "sources.savepoint")
        self.wrap(sampling, "random_split", "operators.split")
        self.wrap(relational, "split_page_level", "operators.pages")
        self.wrap(BinningEstimator, "fit", "operators.binning")
        self.wrap(Pipeline, "fit", "vectorization.fit")
        # the estimators build_estimator returns for the two workloads; the
        # Platt calibrator's own logistic fits belong to training.platt
        for est in (LogisticRegression, LinearSVC):
            self.wrap(est, "fit", "training.fit", skip_inside="training.platt")
        self.wrap(OneVsRestWithScores, "fit", "training.fit")
        self.wrap(PlattScalar, "fit", "training.platt")
        self.wrap(CrossValidatorWithFoldMetrics, "fit", "tuning.cv")
        self.wrap(experiment, "multiclass_metrics", "metrics.multiclass")
        self.wrap(experiment, "auroc", "metrics.binary")
        self.wrap(experiment, "best_fbeta_threshold", "metrics.binary")
        self.wrap(hotlead, "hotlead_simulation", "metrics.hotlead")
        self.wrap(PipelineModelWriter, "save", "publish.save")
        self.wrap(PipelineModel, "load", "publish.load")

        tracer = self
        submit = concurrent.futures.ThreadPoolExecutor.submit

        @functools.wraps(submit)
        def traced_submit(pool, fn, /, *args, **kwargs):
            if not tracer.enabled or not tracer._stack():
                return submit(pool, fn, *args, **kwargs)
            return submit(pool, tracer._inherit, list(tracer._stack()), fn, *args, **kwargs)

        self._patch(concurrent.futures.ThreadPoolExecutor, "submit", traced_submit)

    def uninstall(self) -> None:
        for owner, attr, static in reversed(self._patches):
            if static is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, static)
        self._patches.clear()

    # ---- analysis ----------------------------------------------------------
    def attach_jobs(self) -> list[dict]:
        """Read every job and its stages from the status store and hang each
        job on the spans whose tags it carries."""
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        by_tag = {sp.tag: sp for sp in self.spans}
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            tags = j.jobTags()
            stage_ids = j.stageIds()
            cpu_ns = shuffle = 0
            for k in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:  # a stage the store never recorded
                    continue
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
            sub, done = j.submissionTime(), j.completionTime()
            job = {
                "id": j.jobId(),
                "t0": sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                "t1": done.get().getTime() / 1000 if done.isDefined() else 0.0,
                "cpu_s": cpu_ns / 1e9,
                "shuffle_mb": shuffle / 1e6,
                "spans": [by_tag[t] for t in (tags.apply(k) for k in range(tags.size()))
                          if t in by_tag],
            }
            for sp in job["spans"]:
                sp.jobs.append(job)
            jobs.append(job)
        return jobs

    def layer_metrics(self, root: Span, jobs: list[dict]) -> dict[str, float]:
        """Per-layer figures for one traced iteration rooted at ``root``.

        A name's figures sum its outermost spans only, so an OVR fit that
        contains per-class fits counts once.  ``driver_s`` is span time
        with none of the span's jobs running.
        """
        spans = [sp for sp in self.spans if root in sp.ancestors()]
        out = {f"{name}.{f}": 0.0 for name in SPANS for f in FIELDS}
        for sp in spans:
            if any(a.name == sp.name for a in sp.ancestors()):
                continue
            wall = sp.t1 - sp.t0
            busy = _covered([(max(j["t0"], sp.t0), min(j["t1"], sp.t1)) for j in sp.jobs])
            out[f"{sp.name}.wall_s"] += wall
            out[f"{sp.name}.driver_s"] += max(0.0, wall - busy)
            out[f"{sp.name}.jobs"] += len(sp.jobs)
            out[f"{sp.name}.exec_cpu_s"] += sum(j["cpu_s"] for j in sp.jobs)
            out[f"{sp.name}.shuffle_mb"] += sum(j["shuffle_mb"] for j in sp.jobs)
        in_window = [j for j in jobs if root.t0 <= j["t0"] <= root.t1]
        claimed = [j for j in in_window if any(sp is not root for sp in j["spans"])]
        out["spark.jobs"] = float(len(in_window))
        out["spark.unattributed_jobs_share"] = (
            1.0 - len(claimed) / len(in_window) if in_window else 0.0)
        return out

    def leaks_by_span(self, root: Span) -> dict[str, int]:
        """Persistent RDDs a span left behind beyond those its child spans
        left, per span name, over spans that ran while no span of another
        thread did (so the change in the count is theirs)."""
        spans = [sp for sp in self.spans if root in sp.ancestors()]
        out: dict[str, int] = {}
        for sp in spans:
            overlapped = any(
                o.thread != sp.thread and o.t0 < sp.t1 and sp.t0 < o.t1
                and sp not in o.ancestors() and o not in sp.ancestors()
                for o in spans
            )
            own = (sp.pinned1 - sp.pinned0) - sum(
                c.pinned1 - c.pinned0 for c in spans if c.parent is sp)
            if own > 0 and not overlapped:
                out[sp.name] = out.get(sp.name, 0) + own
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
