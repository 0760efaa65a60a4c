"""Mechanical enforcement of the verification-rotation policy.

The driver's correctness harness hash-checks only the FIRST 50 entries of
``__spark_entry__.queries()`` per round. The standing policy (VERDICT r3/r4)
is that every registered query's latest green driver verdict must be at most
2 rounds old — so each round's window must lead with every query whose age
would otherwise exceed 2. Round 4 did this rotation correctly but as 50
lines of by-hand bookkeeping; this test re-derives the obligation from the
recorded ``CORRECTNESS_r*.json`` artifacts so a future round that forgets
the rotation (or registers a query that never reaches the window) goes red
instead of silently accruing verification debt.

No SparkSession needed: this only inspects dict ordering and JSON artifacts.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # driver checks the first 50 queries() entries
MAX_AGE = 2  # rounds a green verdict stays fresh


def _registered_order() -> list[str]:
    """queries() key order without importing pyspark-heavy modules."""
    src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            for n in ast.walk(node):
                if isinstance(n, ast.Dict):
                    return [k.value for k in n.keys if isinstance(k, ast.Constant)]
    raise AssertionError("queries() dict not found in __spark_entry__.py")


def _latest_green_verdicts() -> tuple[dict[str, int], int]:
    """{query: latest round with rows+schema+hash green}, current round.

    The current round is the one being BUILT (PROGRESS.jsonl's last
    ``round`` field, driver-written at round start) — not max(CORRECTNESS
    round)+1, because the driver writes CORRECTNESS_r{N} at the END of
    round N and the judge runs pytest right after: at that moment the
    round-N window is legitimately still in place, and only when the
    NEXT round's build starts (PROGRESS ticks to N+1) does the
    un-rotated window become a policy violation."""
    latest: dict[str, int] = {}
    rounds = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        for name, v in json.load(open(path)).items():
            if v.get("rows_match") and v.get("schema_match") and v.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    assert rounds, "no CORRECTNESS_r*.json artifacts found"
    current = max(rounds) + 1
    progress = os.path.join(REPO, "PROGRESS.jsonl")
    if os.path.exists(progress):
        for line in open(progress):
            line = line.strip()
            if line:
                rec = json.loads(line)
                if "round" in rec:
                    current = max(rec["round"], max(rounds))
    return latest, current


def test_registered_names_unique_and_nonempty():
    names = _registered_order()
    assert len(names) == len(set(names)), "duplicate query names registered"
    assert len(names) >= WINDOW


def test_window_covers_every_overdue_query():
    """(a) the first 50 entries cover every query whose verdict age would
    exceed MAX_AGE if it is skipped this round."""
    names = _registered_order()
    latest, current_round = _latest_green_verdicts()
    window = set(names[:WINDOW])
    overdue = sorted(
        n for n in names if current_round - latest.get(n, current_round) >= MAX_AGE + 1
    )
    missing = [n for n in overdue if n not in window]
    assert not missing, (
        f"round-{current_round} window omits {len(missing)} queries whose latest "
        f"verdict would exceed age {MAX_AGE}: {missing}"
    )


def test_no_query_outside_verdict_union_unless_in_window():
    """(b) every registered query either has SOME green verdict on record or
    sits in the current window awaiting its first one — nothing can be
    registered and never verified."""
    names = _registered_order()
    latest, _ = _latest_green_verdicts()
    window = set(names[:WINDOW])
    never = [n for n in names if n not in latest and n not in window]
    assert not never, f"registered but never driver-verified and not in window: {never}"


def test_rotation_is_sustainable():
    """The deferred backlog must fit the NEXT round's window: if more than 50
    queries would be overdue next round, the policy is already broken no
    matter how the next builder orders the dict."""
    names = _registered_order()
    latest, current_round = _latest_green_verdicts()
    window = list(names[:WINDOW])
    # assume this round's window all goes green at current_round
    projected = dict(latest)
    for n in window:
        projected[n] = current_round
    next_overdue = [
        n
        for n in names
        if (current_round + 1) - projected.get(n, current_round + 1) >= MAX_AGE + 1
    ]
    assert len(next_overdue) <= WINDOW, (
        f"next round would owe {len(next_overdue)} re-checks > window {WINDOW}; "
        "the registered surface has outrun the rotation budget"
    )


def test_strict_artifact_green_and_full_registry():
    """The committed STRICT_r*.json artifacts (VERDICT r9 #2) must each
    record a full-registry 150/150 run — an artifact claiming less would
    quietly weaken the closed registry's below-the-fold safety net."""
    paths = glob.glob(os.path.join(REPO, "STRICT_r*.json"))
    assert paths, "no STRICT_r*.json committed (round >= 10 must emit one)"
    for path in paths:
        with open(path) as fh:
            art = json.load(fh)
        assert art["checked"] == 150, f"{path}: checked {art['checked']} != 150"
        assert art["strict_ok"] == 150, f"{path}: {art['failures']}"
        assert len(art["queries"]) == 150
