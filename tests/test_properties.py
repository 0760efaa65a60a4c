"""Property-based tests (SURVEY §5): the rule-priority join checked against
an independent Python model of the reference's pandas semantics, plus
dataset-wide invariants over the full flagship output.

The model re-implements reference calculate/service.py:102-138 directly:
apply rules in order [1,5,3,7,2,6,4,8], each ``df.update`` overwriting
earlier matches per non-null cell (last-writer-wins == per-column coalesce
in priority 8>4>6>2>7>3>5>1). Hypothesis drives random rule sets and fact
keys through BOTH the model and the Spark operator.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from billing_etl_v1_spark.operators.rules import (
    PRIORITY,
    RULE_COLUMNS,
    RULE_PATTERNS,
    match_rules,
    release_dim_cache,
)

MONTH = "1995-06"
PROJECTS = [None, "proj-0", "proj-1"]
SERVICES = [None, "service-0", "service-1"]
SKUS = [None, "sku-0", "sku-1"]

rule_strategy = st.fixed_dictionaries(
    {
        "project_id": st.sampled_from(PROJECTS),
        "service_description": st.sampled_from(SERVICES),
        "sku_id": st.sampled_from(SKUS),
        "mode": st.integers(min_value=1, max_value=4),
        "discount": st.sampled_from([None, "0.5", "0.8"]),
        "price": st.sampled_from([None, "0", "1.5"]),
    }
)

# fact keys include NULL: it must never match a rule that needs the column,
# even when the rule map holds a wildcard (NULL) in that key position
fact_key_strategy = st.fixed_dictionaries(
    {
        "project_id": st.sampled_from(PROJECTS + ["proj-x"]),
        "service_description": st.sampled_from(SERVICES + ["service-x"]),
        "sku_id": st.sampled_from(SKUS + ["sku-x"]),
    }
)


def _rule_number(rule: dict) -> int:
    pattern = tuple(
        c
        for c in ("project_id", "service_description", "sku_id")
        if rule[c] is not None
    )
    return next(n for n, p in RULE_PATTERNS.items() if tuple(sorted(p)) == tuple(sorted(pattern)))


def _matches(rule: dict, fact: dict) -> bool:
    return all(
        rule[c] is None or rule[c] == fact[c]
        for c in ("project_id", "service_description", "sku_id")
    )


def model_match(rules: list[dict], fact: dict) -> dict:
    """Reference pandas semantics: apply in order [1,5,3,7,2,6,4,8]; later
    non-null cells overwrite (calculate/service.py:126-138). Among duplicate
    rules in the same subset, the engine's dedupe keeps the smallest payload
    (rule columns ascending, NULLs last) — mirrored here."""
    by_number: dict[int, list[dict]] = {}
    for r in rules:
        by_number.setdefault(_rule_number(r), []).append(r)

    def sort_key(r: dict):
        out = []
        for c in RULE_COLUMNS:
            v = r.get(c)
            out.append((v is None, str(v) if v is not None else ""))
        return out

    out = {c: None for c in RULE_COLUMNS}
    for number in [1, 5, 3, 7, 2, 6, 4, 8]:  # reverse priority
        candidates = [r for r in by_number.get(number, []) if _matches(r, fact)]
        if not candidates:
            continue
        winner = min(candidates, key=sort_key)
        for c in RULE_COLUMNS:
            v = winner.get(c)
            if v is not None:  # df.update skips NaN cells
                out[c] = v
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rules=st.lists(rule_strategy, min_size=0, max_size=6),
    fact=fact_key_strategy,
)
def test_rule_match_agrees_with_pandas_model(spark, rules, fact):
    dim_rows = [
        (
            MONTH,
            "ACCT-P",
            r["project_id"],
            r["service_description"],
            r["sku_id"],
            str(r["mode"]),
            r["discount"],
            r["price"],
            None,
            f"CUST-{i}",
            f"CTR-{i}",
        )
        for i, r in enumerate(rules)
    ]
    dim = spark.createDataFrame(
        dim_rows,
        "month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string, mode string, discount string, "
        "price string, credit_fields string, customer_id string, contract_id string",
    )
    fact_df = spark.createDataFrame(
        [
            (
                MONTH.replace("-", ""),
                "ACCT-P",
                fact["project_id"],
                fact["service_description"],
                fact["sku_id"],
            )
        ],
        "invoice_month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string",
    )
    try:
        got = match_rules(fact_df, dim).collect()[0]
    finally:
        # each example's dim is new: release its cached rule map
        release_dim_cache(spark)

    expected = model_match(
        [dict(r, customer_id=f"CUST-{i}", contract_id=f"CTR-{i}", credit_fields=None)
         for i, r in enumerate(rules)],
        fact,
    )
    for c in ("mode", "discount", "price"):
        assert (got[c] if got[c] is None else str(got[c])) == (
            None if expected[c] is None else str(expected[c])
        ), (c, rules, fact)


def test_flagship_invariants_hold_datasetwide(spark):
    """internal_cost = cost + internal_credits_cost and
    internal_credits_consumption = total - c_rm over EVERY output row of the
    full pipeline (reference calculate/service.py:41-42,154-155) — modulo the
    extra-discount overlay, which scales internal_cost only (§2.10.1)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMALL

    out = em.queries()["billing_flagship"](spark, SF_SMALL)
    eps = 1e-6
    bad = out.filter(
        (
            F.abs(
                F.col("internal_consumption")
                - (F.col("cost") + F.col("internal_credits_consumption"))
            )
            > eps
        )
        | (
            F.abs(
                F.col("internal_credits_consumption")
                - (F.col("internal_credits_cost") - F.col("c_rm"))
            )
            > eps
        )
    ).count()
    assert bad == 0


# --- connected components vs union-find model ------------------------------


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical representative = min node id of the component
    comp_min: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_nodes)}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_nodes=st.integers(min_value=1, max_value=24),
    edge_seed=st.lists(
        st.tuples(st.integers(0, 23), st.integers(0, 23)), min_size=0, max_size=40
    ),
)
def test_connected_components_agree_with_union_find(spark, n_nodes, edge_seed):
    from billing_etl_v1_spark.operators.dedup import connected_components

    edges = [(min(a, b), max(a, b)) for a, b in edge_seed
             if a != b and a < n_nodes and b < n_nodes]
    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "node bigint")
    pairs_df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a bigint, doc_b bigint"
    )
    if not edges:
        pairs_df = pairs_df.filter("doc_a <> doc_a")  # empty edge set
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(nodes_df, pairs_df).collect()
    }
    assert got == _union_find_components(n_nodes, edges)


# --- funnel vs a direct Python model ---------------------------------------


def _model_funnel(events: list[tuple[int, int, str]], steps: list[str]) -> list[int]:
    """events: (user, ts, type). Returns reached-count per step using the
    min-over-qualifying definition independently of any SQL."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, ty in events:
        by_user[u].append((ts, ty))
    counts = []
    reach: dict[int, int] = {}
    for i, step in enumerate(steps):
        nxt: dict[int, int] = {}
        for u, evs in by_user.items():
            if i > 0 and u not in reach:
                continue
            lo = reach.get(u, -1) if i > 0 else None
            qual = [
                ts
                for ts, ty in evs
                if ty == step and (i == 0 or ts > lo)
            ]
            if qual:
                nxt[u] = min(qual)
        reach = nxt
        counts.append(len(reach))
    return counts


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    raw=st.lists(
        st.tuples(
            st.integers(0, 6),              # user
            st.integers(0, 50),             # ts (seconds)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_funnel_agrees_with_python_model(spark, raw):
    from billing_etl_v1_spark.operators.events import funnel

    steps = ["view", "click", "purchase"]
    rows = [
        (i, u, f"2024-01-01 00:00:{ts:02d}.{ts % 7}", ty)
        for i, (u, ts, ty) in enumerate(raw)
    ]
    # distinct sub-second offsets exercise strict-inequality boundaries
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["event_type"]: r["users"] for r in funnel(df, steps).collect()}
    model_events = [
        (u, ts * 10 + ts % 7, ty) for (u, ts, ty) in raw
    ]  # same order/ties as the timestamp encoding
    expected = _model_funnel(model_events, steps)
    assert [got[s] for s in steps] == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_repetition_stats_agree_with_python_model(spark, texts):
    """dup_frac = 1 - distinct/total for words and n-grams, computed by an
    independent Python model over random small-vocab docs (small vocab
    forces real repetition)."""
    from billing_etl_v1_spark.operators.text import repetition_stats

    rows = [(i, " ".join(words), "en", "s") for i, words in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}

    def model_dup(seq):
        return 0.0 if not seq else 1.0 - len(set(seq)) / len(seq)

    for i, words in enumerate(texts):
        toks = words if words else [""]  # split('') == [''] in both engines
        grams2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        grams3 = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        assert got[i].dup_word_frac == pytest.approx(model_dup(toks), abs=1e-6)
        assert got[i].dup_2gram_frac == pytest.approx(model_dup(grams2), abs=1e-6)
        assert got[i].dup_3gram_frac == pytest.approx(model_dup(grams3), abs=1e-6)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo", "fox"]),
            min_size=0,
            max_size=14,
        ),
        min_size=1,
        max_size=14,
    )
)
def test_decontaminate_agrees_with_python_model(spark, texts):
    """Overlap flags from an independent Python n-gram model: a training doc
    is contaminated iff it shares a 5-gram with any eval-slice doc."""
    from billing_etl_v1_spark.operators.text import decontaminate

    n, mod = 3, 4  # small n and eval_mod so tiny random docs hit both branches
    rows = [(i, " ".join(words), "en", "s") for i, words in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r.doc_id: r for r in decontaminate(df, n=n, eval_mod=mod).collect()}

    def grams(words):
        toks = words if words else [""]
        return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}

    eval_grams = set()
    for i, words in enumerate(texts):
        if i % mod == 0:
            eval_grams |= grams(words)
    for i, words in enumerate(texts):
        if i % mod == 0:
            assert i not in got
            continue
        overlap = grams(words) & eval_grams
        assert got[i].n_overlap_grams == len(overlap), (i, words)
        assert got[i].is_contaminated == (len(overlap) > 0)


@given(
    st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_agrees_with_python_karp_rabin_model(spark, texts):
    """Fingerprints from an independent Python re-implementation of the
    normalize -> Karp-Rabin k-gram hash -> window-min -> distinct chain.
    A tiny 'ab x' alphabet forces heavy hash collisions across positions,
    exercising the window-min tie behavior."""
    import re

    from billing_etl_v1_spark.operators.text import (
        WINNOW_BASE,
        WINNOW_MOD,
        winnow_fingerprints,
    )

    k, w = 4, 3
    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)

    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        if len(norm) < k:
            assert i not in got
            continue
        hs = []
        for p in range(len(norm) - k + 1):
            h = 0
            for ch in norm[p : p + k]:
                h = (h * WINNOW_BASE + ord(ch)) % WINNOW_MOD
            hs.append(h)
        if len(hs) >= w:
            want = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
        else:
            want = {min(hs)}
        assert got[i] == want, (i, norm)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),  # month index
            st.integers(min_value=0, max_value=1),  # attribute variant
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_agrees_with_python_model(spark, snapshots):
    """Version ranges from an independent Python pass over the sorted
    snapshots: a new version starts on an attribute change or a month gap;
    n_months and current flags must match exactly."""
    from billing_etl_v1_spark.operators.rules import scd2_history

    snapshots = sorted(snapshots)
    months = [f"2024-{m + 1:02d}" for m, _ in snapshots]
    rows = [
        (f"2024-{m + 1:02d}", "A", None, None, None, 1, f"0.{5 + v}", None, None, "C", "T")
        for m, v in snapshots
    ]
    cols = (
        "month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string, mode int, discount string, "
        "price string, credit_fields string, customer_id string, contract_id string"
    )
    hist = sorted(
        scd2_history(spark.createDataFrame(rows, cols)).collect(),
        key=lambda r: r.version,
    )

    runs = []
    for idx, (m, v) in enumerate(snapshots):
        if idx == 0 or m != snapshots[idx - 1][0] + 1 or v != snapshots[idx - 1][1]:
            runs.append([])
        runs[-1].append((m, v))
    assert len(hist) == len(runs)
    for r, run in zip(hist, runs):
        assert r.valid_from == f"2024-{run[0][0] + 1:02d}"
        assert r.valid_to == f"2024-{run[-1][0] + 1:02d}"
        assert r.n_months == len(run)
        assert r.discount == f"0.{5 + run[0][1]}"
    assert [h.is_current for h in hist] == [
        h.valid_to == max(months) for h in hist
    ]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=7200),    # seconds offset
            st.sampled_from(["click", "view", "purchase"]),
            st.integers(min_value=0, max_value=9999),    # cents
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_purchase_attribution_agrees_with_python_model(spark, raw):
    """Touch counts and last-touch selection from an independent Python
    pass with the same (ts, event_id) tiebreak and [t-3600s, t) band."""
    import datetime as dt

    from billing_etl_v1_spark.operators.events import purchase_attribution

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=s), u, ty, c / 100.0, "{}")
        for i, (u, s, ty, c) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.event_id: r for r in purchase_attribution(df).collect()}

    events = [(i, u, s, ty, c) for i, (u, s, ty, c) in enumerate(raw)]
    purchases = [e for e in events if e[3] == "purchase"]
    assert set(got) == {e[0] for e in purchases}
    for pid, pu, ps, _, pc in purchases:
        touches = [
            e
            for e in events
            if e[3] in ("click", "view")
            and e[1] == pu
            and ps - 3600 <= e[2] < ps
        ]
        r = got[pid]
        assert r.purchase_cents == pc and r.n_touches == len(touches)
        assert r.n_click == sum(1 for e in touches if e[3] == "click")
        assert r.n_view == sum(1 for e in touches if e[3] == "view")
        if touches:
            last = max(touches, key=lambda e: (e[2], e[0]))
            assert r.last_touch_type == last[3]
        else:
            assert r.last_touch_type is None


@given(
    st.lists(
        st.integers(min_value=0, max_value=2000),  # daily cents
        min_size=1,
        max_size=14,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_daily_anomaly_agrees_with_python_model(spark, daily_cents):
    """Spike flags from an independent exact-integer Python model of the
    (m*x - s)^2 > z^2*(m*ss - s^2) test over the trailing window."""
    import datetime as dt

    from billing_etl_v1_spark.operators.timeseries import daily_anomaly_flags

    rows = [
        (d, dt.datetime(2024, 1, 1 + d, 9), 1, "click", c / 100.0, "{}")
        for d, c in enumerate(daily_cents)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.day.day: r.is_spike for r in daily_anomaly_flags(df).collect()}

    for d, x in enumerate(daily_cents):
        window = daily_cents[max(0, d - 7) : d]
        m, s, ss = len(window), sum(window), sum(v * v for v in window)
        dev = m * x - s
        want = m >= 4 and dev > 0 and dev * dev > 9 * (m * ss - s * s)
        assert got[d + 1] == want, (d, daily_cents)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120
    ),
    n_parts=st.sampled_from([1, 3, 8]),
)
def test_distributed_total_rank_agrees_with_python_sort(spark, values, n_parts):
    """The two-phase distributed rank (range-repartition -> local
    row_number -> broadcast prefix offsets) is the shared internal under
    ten registered queries (deciles, percentiles, vocabulary, train_split,
    shard_manifest, pack_blocks, ccnet buckets, ...). Property: for ANY
    value multiset — heavy ties, negatives, single row, fewer distinct
    values than partitions (empty range-partitions) — rank over the total
    order (value, id) equals a Python sort's 1-based position, __total is
    the row count, and the optional prefix sum equals the Python running
    sum over the same order. Input partitioning must not matter."""
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    rows = [(i, v, abs(v) % 7 + 1) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long, w long").repartition(n_parts)
    got = {
        r.id: r
        for r in distributed_total_rank(
            df, ["v", "id"], rank_col="rank", sum_col="w", cum_col="cum"
        ).collect()
    }

    expected_order = sorted(rows, key=lambda r: (r[1], r[0]))
    running = 0
    for pos, (i, _v, w) in enumerate(expected_order, start=1):
        running += w
        assert got[i].rank == pos, (i, got[i].rank, pos)
        assert got[i].cum == running, (i, got[i].cum, running)
    assert all(r["__total"] == len(values) for r in got.values())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    doc_lens=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    block_tokens=st.sampled_from([7, 16, 64]),
)
def test_pack_blocks_conserves_and_fills(spark, doc_lens, block_tokens):
    """GPT-style sequence packing invariants for ANY corpus shape: (1) no
    token lost or duplicated — globally unique tokens, so the multiset
    check is exact; (2) every block except the single tail block holds
    exactly block_tokens tokens (zero padding waste); (3) documents stay
    contiguous along the packed line — each doc's token sequence appears
    intact in the concatenation of blocks in block_id order, i.e. splits
    happen only AT block boundaries, never by reordering within a doc."""
    from billing_etl_v1_spark.operators.corpus import pack_blocks

    rows = [
        (i, " ".join(f"d{i}w{j}" for j in range(n)), "en", "s")
        for i, n in enumerate(doc_lens)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).repartition(3)
    blocks = sorted(
        pack_blocks(df, block_tokens=block_tokens).collect(), key=lambda r: r.block_id
    )
    total = sum(doc_lens)
    if total == 0:
        assert blocks == []
        return

    assert [b.block_id for b in blocks] == list(range(len(blocks)))  # dense ids
    assert sum(b.n_tokens for b in blocks) == total
    for b in blocks[:-1]:
        assert b.n_tokens == block_tokens, (b.block_id, b.n_tokens)
    assert 1 <= blocks[-1].n_tokens <= block_tokens

    line = " ".join(b.block_text for b in blocks).split(" ")
    assert sorted(line) == sorted(
        t for i, n in enumerate(doc_lens) for t in (f"d{i}w{j}" for j in range(n))
    )  # exact token multiset conservation
    line_str = " " + " ".join(line) + " "
    for i, n in enumerate(doc_lens):
        if n:
            seq = " " + " ".join(f"d{i}w{j}" for j in range(n)) + " "
            assert seq in line_str, f"doc {i} not contiguous"
