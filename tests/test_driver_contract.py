"""Driver-facing contract guards: the harness reads __spark_entry__ and
bench.py by convention — breakage there silently costs a round, so pin
the invariants."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _entry():
    spec = importlib.util.spec_from_file_location("entry", str(REPO / "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_priority_window_is_exactly_50_known_queries():
    e = _entry()
    from flashml_spark.queries import QUERIES

    assert len(e._PRIORITY) == 50  # the harness evaluates the first 50 keys
    assert len(set(e._PRIORITY)) == 50
    unknown = [n for n in e._PRIORITY if n not in QUERIES]
    assert not unknown, f"priority names missing from registry: {unknown}"


def test_queries_and_oracles_are_consistent():
    e = _entry()
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    # priority order is the iteration prefix
    assert list(q)[: len(e._PRIORITY)] == e._PRIORITY
    # the rows-only set is EMPTY since r10: x72 (k-means) and x192
    # (absorbing-chain matrix inverse) — the last two non-SQL solvers —
    # gained planted-fixture execution-forcing oracles (the x25/x200
    # pattern), so every registered query now has a full DuckDB oracle
    assert set(q) - set(o) == set()


def test_priority_window_follows_ledger_policy():
    # PRIORITY_WINDOW.json is GENERATED (scripts/correctness_ledger.py):
    # never-driver-checked queries first in registry order, then the
    # stalest checked rows by ascending last-driver-round.  The committed
    # file must match what the policy computes from the committed
    # CORRECTNESS_r*.json history — i.e. the 50 max-age keys.
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    import correctness_ledger as cl

    with open(REPO / "PRIORITY_WINDOW.json") as f:
        pw = json.load(f)
    committed = pw["window"]
    # Recompute the window AS OF the committed generated_after_round so a
    # fresh driver drop of CORRECTNESS_r{N+1}.json at the round boundary
    # does not redden the suite (r6+r7 VERDICT item).  Regenerating via
    # scripts/correctness_ledger.py remains the round-opening step; this
    # test pins that the committed file matches the policy at its own
    # stated generation point.
    last, _ = cl.collect(upto=pw["generated_after_round"])
    names = cl.registry_names()
    # r11: oracle-upgraded-pending rows rotate with the never-checked
    # tier; the committed state file carries the upgrade stamps
    with open(REPO / "ORACLE_HASHES.json") as f:
        state = json.load(f)
    pending = cl.pending_upgrades(last, state)
    assert pending == set(pw["pending_oracle_upgrade"])
    expected = cl.next_window(last, names, pending=pending)
    assert committed == expected
    # and the entry module serves exactly that window as its prefix
    e = _entry()
    assert e._PRIORITY == expected
    # policy sanity (r9): every red (MISMATCH/ERROR) row must be inside
    # the window — failures are re-adjudicated next round, never buried
    # behind staleness — and among the NON-failure checked rows, nothing
    # outside the window is staler than anything inside it
    # (never-checked counts as infinitely stale).
    in_window = set(committed)
    red_out = [
        n
        for n in names
        if n in last and cl._is_failure(last[n][1]) and n not in in_window
    ]
    assert not red_out, f"red driver rows left outside the window: {red_out}"
    green_in = [
        n
        for n in committed
        if n in last and not cl._is_failure(last[n][1]) and n not in pending
    ]
    worst_in = max((last[n][0] for n in green_in), default=-1)
    best_out = min(
        (
            last[n][0]
            for n in names
            if n not in in_window and n in last
        ),
        default=None,
    )
    never_out = [n for n in names if n not in in_window and n not in last]
    if never_out:
        # more never-checked queries than slots: legitimate only when
        # the whole window is spent on never-checked entries
        assert all(n not in last for n in committed), (
            f"never-checked left outside a window with checked rows: {never_out}"
        )
    elif best_out is not None:
        assert worst_in <= best_out


def test_next_window_front_loads_failures():
    # r8 VERDICT item 1: a MISMATCH/ERROR row from the CURRENT round is
    # the freshest row, so staleness-only ordering would bury it for ~5
    # rounds.  The policy must place red rows right after never-checked,
    # ahead of every green row regardless of age.
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    import correctness_ledger as cl

    names = ["q_new", "q_red", "q_err", "q_stale", "q_fresh"]
    last = {
        "q_red": (8, "MISMATCH"),  # freshest round, but red
        "q_err": (7, "ERROR: boom"),
        "q_stale": (2, "pass"),
        "q_fresh": (8, "pass"),
    }
    win = cl.next_window(last, names, size=5)
    assert win == ["q_new", "q_err", "q_red", "q_stale", "q_fresh"]
    # with only 3 slots the fresh green row falls out, never the reds
    assert cl.next_window(last, names, size=3) == ["q_new", "q_err", "q_red"]
    # rows-only rows are green, not failures
    assert not cl._is_failure("rows-only (5 rows)")
    assert not cl._is_failure("pass")
    assert cl._is_failure("MISMATCH") and cl._is_failure("ERROR: x")


def test_ledger_collect_upto_ignores_later_driver_drops(tmp_path, monkeypatch):
    # The round-boundary-proof property itself: a CORRECTNESS file from a
    # LATER round than ``upto`` must not change the computed staleness.
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    import correctness_ledger as cl

    row = {"qa": {"hash_match": True, "spark_rows": 1}}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(row))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"qb": {"hash_match": True, "spark_rows": 1}})
    )
    monkeypatch.setattr(cl, "REPO", str(tmp_path))
    last_all, newest_all = cl.collect()
    assert newest_all == 2 and set(last_all) == {"qa", "qb"}
    last_r1, newest_r1 = cl.collect(upto=1)
    assert newest_r1 == 1 and set(last_r1) == {"qa"}


def test_bench_headline_names_are_registered():
    import bench
    from flashml_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"HEADLINE entries not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_correctness_ledger_covers_every_registered_query():
    # CORRECTNESS_LEDGER.md is generated (scripts/correctness_ledger.py)
    # so per-query driver-row staleness is machine-checked, not
    # comment-tracked; every registered query must have a row.
    e = _entry()
    with open(REPO / "CORRECTNESS_LEDGER.md") as f:
        ledger = f.read()
    missing = [n for n in e.queries() if f"| {n} |" not in ledger]
    assert not missing, f"queries absent from CORRECTNESS_LEDGER.md: {missing}"


def test_bench_totals_line_stays_compact():
    # the driver captures a bounded tail of stdout; the LAST line must be
    # small regardless of how many queries run (r03 lost its totals to a
    # 73-query dict on the final line).  Exercise the REAL formatter
    # bench.py prints (r4 ADVICE fix — a locally-built payload guarded
    # nothing): even at a 999-query scale the real payload stays compact
    # and never embeds the per-query dict.
    import bench

    timings = {f"x{i:03d}_query_with_a_long_name": i + 0.123 for i in range(999)}
    line = bench.totals_line(timings, sum(timings.values()), 0.1)
    assert len(line) < 500
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["queries"]["n_queries"] == 999
    assert parsed["queries"]["max"] == 998.123

    # r11 verdict item 1: with the headline30 per-query dict attached the
    # payload is bigger but still BOUNDED — membership is the fixed
    # 30-name list (test_bench_headline30_pinned), never the full table,
    # so even with worst-case name lengths the line stays well under the
    # driver's tail budget.
    h30 = {q: 9999.999 for q in bench.HEADLINE30}
    line30 = bench.totals_line(timings, sum(timings.values()), 0.1, h30)
    assert len(line30) < 2000
    parsed30 = json.loads(line30)
    # summary scalars keep their exact keys next to the 30 real entries
    assert parsed30["queries"]["n_queries"] == 999
    assert parsed30["queries"]["top3_sum"] == round(998.123 + 997.123 + 996.123, 3)
    for q in bench.HEADLINE30:
        assert parsed30["queries"][q] == 9999.999
    assert parsed30["headline30"] == round(sum(h30.values()), 3)
    # totals must be the LAST line main() prints: the detail line (which
    # CAN be huge) is emitted strictly before it
    import inspect

    src = inspect.getsource(bench.main)
    assert src.index("detail_line(") < src.index("totals_line(")
    # the full table must also land on disk (the committed diffable
    # artifact) BEFORE any stdout printing
    assert src.index("write_local_table(") < src.index("detail_line(")


def test_bench_local_table_roundtrip(tmp_path):
    # the committed per-query table carries EVERY timing, sorted by
    # name
    import bench

    timings = {f"x{i:03d}_q": float(i) for i in range(250)}
    out = str(tmp_path / "BENCH_LOCAL_test.json")
    bench.write_local_table(timings, sum(timings.values()), 0.1, out)
    with open(out) as f:
        table = json.load(f)
    assert table["queries"] == dict(sorted(timings.items()))
    assert list(table["queries"]) == sorted(timings)
    assert table["sf"] == 0.1


def test_bench_tables_are_append_only(tmp_path, monkeypatch):
    # r9 verdict item 5: bench tables are adjudication evidence — a
    # round's table must NEVER be overwritten by a later run (the r8
    # driver table survived only in git because a closing run reused
    # BENCH_LOCAL_r09.json).  The default destination is
    # BENCH_DRIVER_r{N}.json (N = newest CORRECTNESS round — the
    # driver benches last, after writing CORRECTNESS_rN) only while
    # that name is FREE; any later run in the same window names itself
    # a CLOSING run of the round in progress, suffixed if repeated.
    import bench

    repo = str(tmp_path)
    (tmp_path / "CORRECTNESS_r03.json").write_text("{}")

    p1 = bench.local_table_path(repo)
    assert p1.endswith("BENCH_DRIVER_r03.json")
    (tmp_path / "BENCH_DRIVER_r03.json").write_text("{}")
    p2 = bench.local_table_path(repo)
    assert p2.endswith("BENCH_CLOSING_r04.json")
    (tmp_path / "BENCH_CLOSING_r04.json").write_text("{}")
    p3 = bench.local_table_path(repo)
    assert p3.endswith("BENCH_CLOSING_r04_2.json")
    # the non-clobber invariant itself: the default path NEVER names an
    # existing file
    import os as _os

    (tmp_path / "BENCH_CLOSING_r04_2.json").write_text("{}")
    assert bench.local_table_path(repo).endswith("BENCH_CLOSING_r04_3.json")
    assert not _os.path.exists(bench.local_table_path(repo))

    # and the historical driver tables exist as real files at HEAD
    assert _os.path.exists(REPO / "BENCH_DRIVER_r08.json")
    assert _os.path.exists(REPO / "BENCH_DRIVER_r09.json")


def test_bench_headline30_pinned():
    # r9 verdict item 8: the session-head subset is the one
    # round-over-round comparable total, so its membership is frozen —
    # 30 names, all registered, no duplicates, and the list hashes to
    # the pinned value (changing membership invalidates every prior
    # round's headline30 number; do it only with a new pin + a note).
    import hashlib

    import bench
    from flashml_spark.queries import QUERIES

    assert len(bench.HEADLINE30) == 30
    assert len(set(bench.HEADLINE30)) == 30
    missing = [n for n in bench.HEADLINE30 if n not in QUERIES]
    assert not missing, f"HEADLINE30 entries not in registry: {missing}"
    digest = hashlib.md5(",".join(bench.HEADLINE30).encode()).hexdigest()
    assert digest == "88a1aa0a40b236b4a79eae5343f5c26c", digest


def test_bench_drift_covers_previous_driver_table(tmp_path, monkeypatch):
    # r9 verdict item 4: 7 of 10 driver-vs-driver regressions carried
    # no committed adjudication because drift only diffed the previous
    # LOCAL table.  Now BOTH baselines are diffed: a query slow vs the
    # previous DRIVER table is flagged even when the previous closing
    # table already showed the same slow number.
    import bench

    with open(tmp_path / "BENCH_DRIVER_r06.json", "w") as f:
        json.dump({"queries": {"xA": 1.0, "xB": 1.0}}, f)
    with open(tmp_path / "BENCH_CLOSING_r07.json", "w") as f:
        json.dump({"queries": {"xA": 2.0, "xB": 1.0}}, f)
    cur_path = str(tmp_path / "BENCH_DRIVER_r07.json")

    monkeypatch.setattr(
        bench, "isolated_rerun", lambda n, s: {"cold": 5.0, "warm": 1.1}
    )
    # xA: 2.1 vs closing 2.0 (not flagged) but vs driver 1.0 (flagged);
    # xB: regressed vs both
    timings = {"xA": 2.1, "xB": 1.9}
    drift = bench.adjudicate_drift(timings, "/tmp/sf", cur_path)
    assert set(drift) == {"xA", "xB"}
    assert drift["xA"]["prev_driver"] == 1.0
    assert "prev" not in drift["xA"]  # closing baseline did not flag it
    assert drift["xB"]["prev"] == 1.0 and drift["xB"]["prev_driver"] == 1.0
    assert all("isolated_warm" in d for d in drift.values())


def test_bench_drift_adjudication(tmp_path, monkeypatch):
    # r6 verdict item 4: queries that regressed >=0.5 s AND >=1.5x vs
    # the previous round's committed table get an ISOLATED fresh-JVM
    # re-run, and the table records the {prev, in_session,
    # isolated_cold, isolated_warm} row — the recurring "driver session
    # drift" conversation as data instead of assertion.  r9: the
    # isolated number is the WARM one (min of two post-cold runs), so
    # the adjudicator is no longer itself dominated by JVM warm-up
    # (r8's x156 triple read isolated=7.159 vs 0.97 steady-state).
    import bench

    prev = {"metric": "headline_queries_detail", "value": 3.0, "unit": "sec",
            "sf": 0.1, "queries": {"xA": 1.0, "xB": 1.0, "xC": 1.0}}
    with open(tmp_path / "BENCH_LOCAL_r06.json", "w") as f:
        json.dump(prev, f)
    cur_path = str(tmp_path / "BENCH_LOCAL_r07.json")

    seen = []

    def fake_iso(name, sf_dir):
        seen.append(name)
        return {"cold": 7.0, "warm": 1.05}

    monkeypatch.setattr(bench, "isolated_rerun", fake_iso)
    # xA regressed (1.0 -> 2.1: both thresholds), xB only ratio
    # (1.0 -> 1.4: < 0.5 s), xC only abs (1.0 -> 1.45 is neither;
    # use 1.0 -> 1.49) — only xA is flagged
    timings = {"xA": 2.1, "xB": 1.4, "xC": 1.49}
    drift = bench.adjudicate_drift(timings, "/tmp/sf", cur_path)
    assert seen == ["xA"]
    assert drift == {
        "xA": {
            "prev": 1.0,
            "in_session": 2.1,
            "isolated_cold": 7.0,
            "isolated_warm": 1.05,
        }
    }

    # the row lands in the written table under "drift"
    bench.write_local_table(timings, 5.0, 0.1, cur_path, drift)
    with open(cur_path) as f:
        table = json.load(f)
    assert table["drift"]["xA"]["isolated_warm"] == 1.05
    # disabled or no-prior-table -> no adjudication, no key
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DRIFT_K", "0")
    assert bench.adjudicate_drift(timings, "/tmp/sf", cur_path) == {}
    bench.write_local_table(timings, 5.0, 0.1, cur_path, {})
    with open(cur_path) as f:
        assert "drift" not in json.load(f)


def test_oracle_upgrade_pending_tier(tmp_path):
    # r10 VERDICT item 7: a query whose oracle changed AFTER its last
    # driver row must (a) read as pending re-check, (b) rotate with
    # the never-checked tier, (c) clear once a fresh driver row lands.
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    import correctness_ledger as cl

    names = ["q_a", "q_b", "q_c", "q_new"]
    last = {"q_a": (6, "rows-only (4 rows)"), "q_b": (8, "pass"),
            "q_c": (2, "pass")}
    prev = {n: {"hash": f"h_{n}", "changed_after_round": 0} for n in names}
    # q_a's oracle changes while the newest scanned driver round is 8
    cur = {n: (f"h2_{n}" if n == "q_a" else f"h_{n}") for n in names}
    state = cl.update_hash_state(prev, cur, newest=8)
    assert state["q_a"]["changed_after_round"] == 8
    assert state["q_b"]["changed_after_round"] == 0
    pending = cl.pending_upgrades(last, state)
    assert pending == {"q_a"}
    # pending ranks with never-checked, ahead of every green row
    win = cl.next_window(last, names, size=4, pending=pending)
    assert win == ["q_a", "q_new", "q_c", "q_b"]
    # a fresh driver row (round 9 > changed_after 8) clears the mark
    last2 = dict(last, q_a=(9, "pass"))
    assert cl.pending_upgrades(last2, state) == set()
    # an unchanged re-generation keeps the stamp (idempotent)
    state2 = cl.update_hash_state(state, cur, newest=9)
    assert state2 == state
