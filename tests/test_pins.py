"""Pin ownership: operators free exactly the checkpoint pins they take,
and building a codec audit frame runs no Spark job."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from flashml_spark.functions.pins import unpin
from flashml_spark.operators import graph, multimodal
from flashml_spark.operators.dedup import connected_components

AUDITS = [
    "png_roundtrip_audit",
    "jpeg_roundtrip_audit",
    "gif_roundtrip_audit",
    "audio_tone_audit",
    "png_palette_audit",
    "png_subbyte_audit",
    "tiff_roundtrip_audit",
    "jpeg_progressive_audit",
]


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def _rdd_id(pinned) -> int:
    return int(pinned._jdf.queryExecution().logical().rdd().id())


def test_unpin_frees_only_its_own_pin(spark):
    a = spark.range(5).localCheckpoint()
    b = spark.range(7).localCheckpoint(eager=False)
    assert {_rdd_id(a), _rdd_id(b)} <= _persistent_ids(spark)
    unpin(b)
    assert _rdd_id(b) not in _persistent_ids(spark)
    assert _rdd_id(a) in _persistent_ids(spark)
    assert a.count() == 5
    unpin(a)
    assert _rdd_id(a) not in _persistent_ids(spark)


@pytest.mark.parametrize("name", AUDITS)
def test_audit_build_runs_no_job_and_maps_once(spark, name):
    n = 120
    seen = spark.sparkContext.accumulator(0)

    def count(i):
        seen.add(1)
        return i

    # every row the codec map reads passes through this UDF first, so a
    # re-executed map child shows up as 2n
    ids = spark.range(n).select(F.udf(count, "long")("id").alias("doc_id"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    audit = getattr(multimodal, name)(ids)
    assert len(tracker.getJobIdsForGroup(None) or []) == before, (
        "building the audit frame ran a Spark job"
    )
    assert [r["media_id"] for r in audit.collect()] == list(range(n))
    assert seen.value == n


def test_pagerank_without_iterations_keeps_only_the_node_pin(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    before = _persistent_ids(spark)
    out = graph.pagerank(edges, iterations=0)
    assert len(_persistent_ids(spark) - before) <= 1
    assert {r["node"]: r["rank"] for r in out.collect()} == {
        1: 1 / 3, 2: 1 / 3, 3: 1 / 3
    }


def test_bfs_driver_path_frees_its_edge_pin(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    before = _persistent_ids(spark)
    out = graph.bfs_hops(edges, seeds, max_hops=3)
    assert _persistent_ids(spark) - before == set()
    assert sorted(tuple(r) for r in out.collect()) == [(1, 0), (2, 1), (3, 2)]


def _graph_runs(spark) -> dict:
    ring = [(i, (i + 1) % 6) for i in range(6)]
    sym = spark.createDataFrame(
        ring + [(b, a) for a, b in ring], "src long, dst long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    g = spark.createDataFrame(k4 + [(4, 5), (5, 6)], "src long, dst long")
    return {
        "pagerank": lambda: sorted(
            (r["node"], round(r["rank"], 9))
            for r in graph.pagerank(sym, iterations=3).collect()
        ),
        "cc": lambda: sorted(
            tuple(r)
            for r in connected_components(pairs, driver_edge_budget=0).collect()
        ),
        "kcore": lambda: sorted(
            tuple(r) for r in graph.kcore(g, 3, driver_edge_budget=0).collect()
        ),
    }


def test_graph_loops_leave_other_threads_pins_alone(spark):
    runs = _graph_runs(spark)
    serial = {name: run() for name, run in runs.items()}

    stop = threading.Event()
    held = []

    def pin_forever():
        i = 0
        while not stop.is_set():
            held.append(spark.range(i, i + 10).localCheckpoint())
            i += 10

    results, errors = {}, []

    def run(name):
        try:
            results[name] = runs[name]()
        except Exception as exc:  # surfaced by the assert below
            errors.append((name, exc))

    pinner = threading.Thread(target=pin_forever)
    pinner.start()
    workers = [threading.Thread(target=run, args=(n,)) for n in runs]
    for t in workers:
        t.start()
    for t in workers:
        t.join(timeout=600)
    stop.set()
    pinner.join(timeout=60)

    assert not any(t.is_alive() for t in [*workers, pinner])
    assert not errors, errors
    assert results == serial
    assert held, "the pinning thread never pinned"
    alive = _persistent_ids(spark)
    assert [f for f in held if _rdd_id(f) not in alive] == []
    assert [f.count() for f in held] == [10] * len(held)
    unpin(*held)
