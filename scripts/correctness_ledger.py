"""Generate CORRECTNESS_LEDGER.md and PRIORITY_WINDOW.json.

The ledger records, per registered query, the most recent round with a
driver CORRECTNESS row and that row's result, so staleness is
machine-checked instead of comment-tracked.

PRIORITY_WINDOW.json is the NEXT driver window (the harness evaluates
exactly the first ``WINDOW`` registry keys), generated by policy rather
than hand-edited:

    1. never-driver-checked queries AND queries whose oracle was
       upgraded after their last driver row (tracked via
       ORACLE_HASHES.json — r10 VERDICT item 7: a stale rows-only/
       pass label must not be misread as describing the CURRENT
       oracle) first, in registry order;
    2. then queries whose MOST RECENT driver row is a failure
       (MISMATCH / ERROR) — a red row must be re-adjudicated next
       round, not buried for ~5 rounds behind staleness (r8 VERDICT
       item 1: x250's unreproduced mismatch exposed the hole);
    3. then checked queries by ascending last-checked round (stalest
       first), ties broken by registry order.

``__spark_entry__._PRIORITY`` reads the committed file, so re-running
this script after each round IS the rotation.

Usage: python scripts/correctness_ledger.py   (writes repo-root files)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)


def collect(upto: int | None = None) -> tuple[dict[str, tuple[int, str]], int]:
    """query -> (last driver round, result string); plus newest round.

    ``upto`` restricts the scan to driver rounds <= that number, so the
    policy test can recompute the window exactly as it stood at the
    committed ``generated_after_round`` — a fresh driver drop of
    CORRECTNESS_r{N+1}.json then no longer reddens the suite (r6+r7
    VERDICT "round-boundary-proof" item).
    """
    last: dict[str, tuple[int, str]] = {}
    newest = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if upto is not None and rnd > upto:
            continue
        newest = max(newest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("err") == "no_oracle":
                result = f"rows-only ({row.get('spark_rows')} rows)"
            elif row.get("hash_match"):
                result = "pass"
            elif row.get("err"):
                result = f"ERROR: {row['err']}"
            else:
                result = "MISMATCH"
            last[name] = (rnd, result)
    return last, newest


WINDOW = 50


def _is_failure(result: str) -> bool:
    """A red driver row: hash mismatch or harness error (rows-only and
    pass rows are green)."""
    return result == "MISMATCH" or result.startswith("ERROR")


def oracle_hashes() -> dict[str, str]:
    """Current oracle identity per registered query (sha256 prefix of
    the oracle SQL; rows-only queries hash a sentinel so adding an
    oracle to one also reads as an upgrade)."""
    import hashlib

    from flashml_spark.queries import QUERIES

    return {
        name: hashlib.sha256(
            (sql or "<rows-only>").encode()
        ).hexdigest()[:16]
        for name, (_fn, sql) in QUERIES.items()
    }


def update_hash_state(
    prev: dict[str, dict], current: dict[str, str], newest: int
) -> dict[str, dict]:
    """Roll the committed ORACLE_HASHES.json state forward: a changed
    hash stamps ``changed_after_round = newest`` (the latest driver
    round already scanned — i.e. no driver row has seen the new oracle
    yet); an unchanged hash keeps its stamp; a new query starts at 0
    (it ranks as never-checked anyway)."""
    state: dict[str, dict] = {}
    for name, h in current.items():
        p = prev.get(name)
        if p is None:
            state[name] = {"hash": h, "changed_after_round": 0}
        elif p.get("hash") != h:
            state[name] = {"hash": h, "changed_after_round": newest}
        else:
            state[name] = dict(p)
    return state


def pending_upgrades(
    last: dict[str, tuple[int, str]], state: dict[str, dict]
) -> set[str]:
    """Queries whose oracle changed AFTER their most recent driver row
    — the committed ledger result describes a retired oracle, so the
    row must read "oracle-upgraded (pending driver re-check)" and
    rotate with the never-checked tier (r10 VERDICT item 7)."""
    return {
        n
        for n, (rnd, _res) in last.items()
        if rnd <= state.get(n, {}).get("changed_after_round", 0)
    }


def next_window(
    last: dict[str, tuple[int, str]],
    names: list[str],
    size: int = WINDOW,
    pending: "set[str] | frozenset[str]" = frozenset(),
) -> list[str]:
    """The policy: never-checked and oracle-upgraded-pending queries
    first (registry order), then queries whose latest driver row is
    red (MISMATCH/ERROR, stalest first), then the remaining checked
    queries stalest-first."""
    order = {n: i for i, n in enumerate(names)}
    first = [n for n in names if n not in last or n in pending]
    checked = sorted(
        (n for n in names if n in last and n not in pending),
        key=lambda n: (not _is_failure(last[n][1]), last[n][0], order[n]),
    )
    return (first + checked)[:size]


def registry_names() -> list[str]:
    """Canonical registry order (NOT __spark_entry__, whose ordering
    depends on the window this script generates)."""
    from flashml_spark.queries import QUERIES

    return list(QUERIES)


def main() -> int:
    last, newest = collect()
    names = registry_names()
    hpath = os.path.join(REPO, "ORACLE_HASHES.json")
    prev = {}
    if os.path.exists(hpath):
        with open(hpath) as f:
            prev = json.load(f)
    state = update_hash_state(prev, oracle_hashes(), newest)
    with open(hpath, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
        f.write("\n")
    pending = pending_upgrades(last, state)
    lines = [
        "# CORRECTNESS ledger (generated — scripts/correctness_ledger.py)",
        "",
        f"Registered queries: {len(names)}.  Rounds scanned: r01-r{newest:02d}.",
        "`age` = rounds since the query's last driver row (0 = current round).",
        "A row marked *oracle-upgraded* had its oracle changed AFTER its",
        "last driver check — the recorded result describes a retired",
        "oracle (it rotates with the never-checked tier until a fresh",
        "driver row lands).",
        "",
        "| query | last driver round | age | result |",
        "|---|---|---|---|",
    ]
    never = []
    for name in names:
        if name in last:
            rnd, result = last[name]
            if name in pending:
                result += " — oracle-upgraded (pending driver re-check)"
            lines.append(f"| {name} | r{rnd:02d} | {newest - rnd} | {result} |")
        else:
            never.append(name)
            lines.append(f"| {name} | — | — | NEVER driver-checked |")
    lines += [
        "",
        f"Never driver-checked: {len(never)}"
        + (f" — {', '.join(never)}" if never else ""),
        "",
        f"Oracle-upgraded pending driver re-check: {len(pending)}"
        + (f" — {', '.join(sorted(pending))}" if pending else ""),
        "",
    ]
    out = os.path.join(REPO, "CORRECTNESS_LEDGER.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} queries, {len(never)} never-checked")

    window = next_window(last, names, pending=pending)
    wout = os.path.join(REPO, "PRIORITY_WINDOW.json")
    with open(wout, "w") as f:
        json.dump(
            {
                "policy": "never-checked and oracle-upgraded-pending "
                "first (registry order), then red rows (MISMATCH/ERROR, "
                "stalest first), then stalest by last driver round",
                "generated_after_round": newest,
                "pending_oracle_upgrade": sorted(pending),
                "window": window,
            },
            f,
            indent=1,
        )
        f.write("\n")
    print(f"wrote {wout}: {len(window)}-slot window "
          f"({len([n for n in window if n not in last])} never-checked)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
