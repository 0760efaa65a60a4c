"""Event-stream operators (batch form) over the ``events`` table.

The reference is batch-only (SURVEY §2.11) — these extend the engine with
the windowed/sessionized shapes a usage-metering pipeline needs, expressed
so the same logic also runs under Structured Streaming
(billing_etl_v1_spark/streaming). Epoch-based bucketing is used instead of
``F.window`` so the DuckDB oracle can reproduce buckets exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from billing_etl_v1_spark.functions import finite_or_null, quantize6
from billing_etl_v1_spark.operators import _memo

# shared registry for rank consumers that opt into memo-persisting the
# two-phase rank's windowed table: value_deciles ON by default (measured
# 1.10-1.41x, probe_r10 rank_memo_ab); the text.py rank queries
# (quality_percentiles, vocabulary_coverage, ccnet_buckets) measured a wash
# (0.85-1.11x) and do not persist. One registry —
# entries are keyed by plan, so distinct queries never collide, and ONE
# release call frees a whole pipeline generation. concurrency_profile keeps
# its own registry (release_boundary_cache) for interval-face lifecycles.
_RANK_CACHE: _memo.Registry = {}


def release_rank_cache(spark=None) -> int:
    """Unpersist every memoized rank table (for ``spark`` only, or all
    sessions); returns how many were released. Call between pipeline
    generations — the same contract as ``dedup.release_signature_cache``.

    This is a STALE-DATA boundary, not just a storage knob (r10 ADVICE):
    the memo matches on the logical PLAN (sameResult), so if the data
    under an unchanged plan changes within a session — a parquet path
    rewritten between pipeline generations — the memo keeps serving the
    materialization of the OLD bytes until released."""
    return _memo.release(_RANK_CACHE, spark)


def _epoch(col) -> F.Column:
    # ts is timestamp_ntz in the fixtures; treat as UTC in both engines
    return F.unix_timestamp(col.cast("timestamp"))


def tumbling_window_agg(events: DataFrame, width_s: int = 300) -> DataFrame:
    """Tumbling-window count/sum per (bucket, event_type).

    The bucket is exposed as epoch seconds (bigint) so both engines agree on
    the exact value; render with ``timestamp_seconds`` for display."""
    events = events.withColumn("value", finite_or_null("value"))
    bucket = (F.floor(_epoch(F.col("ts")) / width_s) * width_s).cast("bigint")
    return (
        events.withColumn("bucket_start_s", bucket)
        .groupBy("bucket_start_s", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            quantize6(F.sum("value")).alias("total_value"),
        )
    )


def with_session_idx(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Per-event session assignment (the gap rule of :func:`sessionize`
    without the rollup) — shared by session-grain consumers like
    :func:`session_funnel`. Ordering ties on ts break by event_id.

    NULL-ts rows are excluded HERE, at the shared chokepoint, so every
    session-grain consumer inherits the exclusion: the engines disagree
    on where NULL sorts (Spark NULLS FIRST, DuckDB NULLS LAST), so an
    unfiltered NULL-ts row lands in a different session per engine
    (review finding: session_funnel diverged live before this moved in)."""
    events = events.filter(F.col("ts").isNotNull())
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    ep = _epoch(F.col("ts"))
    new_session = F.when(
        F.lag(ep).over(w).isNull() | ((ep - F.lag(ep).over(w)) > gap_s), 1
    ).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn("session_idx", F.sum(new_session).over(wsum))


def sessionize(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Gap-based sessionization: a new session starts after gap_s of
    inactivity per user. Output: one row per session with bounds and counts.

    Ordering ties on ts are broken by event_id in both engines.

    Events without a timestamp cannot be placed in the gap order — and the
    engines disagree on where NULL sorts (Spark windows default NULLS
    FIRST, DuckDB NULLS LAST), so they are excluded as corrupt rather
    than silently landing in different sessions per engine (twin mirrors
    with ts IS NOT NULL).
    """
    # ts IS NOT NULL now lives in with_session_idx (shared chokepoint)
    events = events.withColumn("value", finite_or_null("value"))
    return (
        with_session_idx(events, gap_s)
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            quantize6(F.sum("value")).alias("total_value"),
        )
        .withColumn(
            "duration_s",
            quantize6(
                _epoch(F.col("session_end")).cast("double")
                - _epoch(F.col("session_start")).cast("double")
            ),
        )
    )


def top_event_types_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k event types per user by total value (window top-k — a shape the
    reference lacks entirely, SURVEY §2.11)."""
    events = events.withColumn("value", finite_or_null("value"))
    agg = events.groupBy("user_id", "event_type").agg(
        quantize6(F.sum("value")).alias("total_value")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("total_value").desc(), F.col("event_type").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def top_event_paths(events: DataFrame, length: int = 3, k: int = 20) -> DataFrame:
    """Top-k ordered event-type paths: length-N subsequences of CONSECUTIVE
    events per user (lead() windows over (ts, event_id) — event_id breaks
    timestamp ties deterministically), counted corpus-wide. The
    lightweight sequential-pattern query behind "what do users do next";
    one user-clustered window + one count aggregate, so it scales like
    any per-key window at 100 TB. Ties in the top-k break by path text.

    NULL event_type steps are coalesced to a '<null>' sentinel BEFORE the
    lead windows: concat_ws silently skips nulls (shortened path) while the
    oracle's ``||`` nulls the whole path — the sentinel keeps both engines
    identical and reserves lead() NULL to mean end-of-sequence only.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = F.coalesce(F.col("event_type"), F.lit("<null>"))
    steps = [step] + [F.lead(step, i).over(w) for i in range(1, length)]
    paths = (
        # NULL ts cannot be ordered into a sequence — the engines place it
        # at opposite ends (Spark NULLS FIRST, DuckDB NULLS LAST), so
        # unfiltered NULL-ts events produced different paths per engine
        # (review finding, verified live); same exclusion as
        # event_transitions, mirrored in the twin
        events.filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("__last", steps[-1])
        .withColumn("__path", F.concat_ws(" > ", *steps))
        .filter(F.col("__last").isNotNull())
    )
    counted = paths.groupBy(F.col("__path").alias("path")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counted.orderBy(F.col("n").desc(), F.col("path").asc()).limit(k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts_col: str = "ts",
    value_cols: tuple[str, ...] = ("value",),
    suffix: str = "_asof",
) -> DataFrame:
    """Point-in-time (as-of) join: each left row gets the value columns of
    the LATEST right row with ``right.ts <= left.ts`` per ``by`` key.

    Spark has no native as-of join; the classic union trick expresses it with
    built-ins: tag both sides, sort each key's rows by (ts, side) with right
    rows first at equal ts, and carry the last non-null right value forward
    (``F.last(ignorenulls=True)`` over an unbounded-preceding window). Ties
    on ts therefore match (<= semantics), same as DuckDB's ASOF JOIN oracle.

    Scale posture: ONE shuffle on ``by`` and a per-key sort — no range
    cross-product, no broadcast of either side; at 100 TB both sides stream
    through the same hash partitioning. Right should be pre-deduplicated to
    one row per (by, ts) for determinism.
    """
    # NULL-ts rows are excluded from BOTH sides: a right row with NULL ts
    # can anchor no as-of time (Spark's union-window sorted it FIRST and
    # carried its value into EVERY left row — review finding, verified
    # live), and a left row with NULL ts has no as-of point at all — the
    # engines invent OPPOSITE answers for it (Spark carries NULL; DuckDB's
    # ASOF sorts the NULL probe LAST and matches the latest right row).
    # Same exclusion as every ts-ordered operator, mirrored in the twin.
    # NULL by-keys are excluded too: Spark's window groups all NULL keys
    # into ONE partition (a NULL-user click would match a NULL-user
    # purchase) while the oracle's equi-ASOF never joins NULL — the
    # NULL-key lane convention.
    left = left.filter(F.col(ts_col).isNotNull() & F.col(by).isNotNull())
    r = right.filter(
        F.col(ts_col).isNotNull() & F.col(by).isNotNull()
    ).select(
        F.col(by),
        F.col(ts_col),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in value_cols],
    )
    l = left.withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for v in value_cols:
        u = u.withColumn(f"{v}{suffix}", F.last(f"__r_{v}", ignorenulls=True).over(w))
    return (
        u.filter(F.col("__side") == 1)
        .drop("__side", *[f"__r_{v}" for v in value_cols])
    )


def clicks_asof_purchase(events: DataFrame) -> DataFrame:
    """For every click event, the most recent purchase value at-or-before it
    for the same user (NULL when the user has not purchased yet)."""
    events = events.withColumn("value", finite_or_null("value"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # value-less purchases (corrupt value -> NULL via finite_or_null) carry
    # no information for the as-of lookup; dropping them pre-group makes the
    # ignorenulls carry-forward and the DuckDB ASOF oracle agree exactly
    purchases = (
        events.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purchases, by="user_id", value_cols=("purchase_value",), suffix=""
    ).select("event_id", "user_id", "ts", "purchase_value")


def json_props_agg(events: DataFrame) -> DataFrame:
    """JSON extraction (props -> $.k) + aggregation per event_type.

    Corrupt-input posture: at 100 TB some props WILL be malformed JSON or
    carry a non-numeric k. get_json_object already NULLs malformed JSON;
    the extracted string is gated on integral format and then try_cast
    because under ANSI mode (Spark 4 default) a plain cast of one 'abc'
    kills the whole job (CAST_INVALID_INPUT). The explicit ^-?[0-9]+$
    gate (same RE2/Java semantics on both engines) pins the edge cases
    the engines natively disagree on: DuckDB ROUNDS '3.7'::INTEGER to 4
    while Spark's try_cast NULLs it — fractional/overflowing/boolean k
    values are uniformly NULL on both. The oracle twin mirrors with
    TRY_CAST(props AS JSON) (DuckDB's json_extract_string ERRORS on
    malformed documents, so the try wraps the parse itself) + the same
    regex gate + TRY_CAST."""
    s = F.get_json_object("props", "$.k")
    k = F.when(s.rlike(r"^-?[0-9]+$"), s).try_cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def event_type_pivot(events: DataFrame, types: list[str] | None = None) -> DataFrame:
    """Per-user wide rollup via groupBy().pivot(): one column pair
    (n_<type>, v_<type>) per event type.

    The pivot values are EXPLICIT — passing them skips Spark's extra
    distinct-collection job and keeps the output schema stable when a new
    type appears upstream (it lands nowhere instead of reshaping the
    table; widen deliberately). Value sums accumulate in DECIMAL so the
    per-cell totals are partition-order-independent.
    """
    events = events.withColumn("value", finite_or_null("value"))

    types = types or ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("v"),
        )
    )
    out = [F.col("user_id")]
    for t in types:
        out.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}"))
        out.append(
            quantize6(
                F.coalesce(F.col(f"{t}_v").cast("double"), F.lit(0.0))
            ).alias(f"v_{t}")
        )
    return pivoted.select(*out)


def distributed_total_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "__rank",
    sum_col: str | None = None,
    cum_col: str = "__cum",
    memo=None,
) -> DataFrame:
    """Exact global row_number() over a total order WITHOUT a single-task
    sort: range-repartition on the order columns (partitions are globally
    ordered, parallel local sorts), rank within each partition, then add
    each partition's row-count prefix.

    The prefix sum runs as a tiny broadcast cross-join over the
    per-partition counts (≤ shuffle-partitions rows each side) with a
    conditional sum, rather than an unpartitioned window, so NO operator in
    the plan sorts the full relation through one task — the posture
    `tests/test_scale_posture.py` asserts for every registered query. The
    order must be a total order (include a tiebreaker column) for the
    result to be partitioning-proof. Output keeps a ``__total`` column
    (grand row count) since it falls out of the same aggregate for free.

    The windowed ``local`` table is referenced by BOTH the ranked output
    and the per-partition counts metadata (itself on both sides of the
    offsets self-join), and Catalyst shares no subtrees across the
    references — each one recomputes ``df``'s lineage plus the
    range-shuffle and windows. ``memo`` (an ``operators._memo.Registry``)
    opts into memo-persisting ``local`` so all three references read one
    cached table and the upstream computes once; the caller owns the
    registry and its release wrapper (``concurrency_profile`` /
    ``release_boundary_cache`` is the worked example). Default None keeps
    the pure lazy plan — right for the callers whose input is already a
    persisted/checkpointed relation (the tokenizer artifact builders).
    """
    order = [F.col(c).asc() for c in order_cols]
    wp = Window.partitionBy("__pid")
    wrun = wp.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        df.repartitionByRange(*order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(wp.orderBy(*order)))
        .withColumn("__cnt", F.count(F.lit(1)).over(wp))
    )
    meta_cols = ["__pid", "__cnt"]
    if sum_col is not None:
        # optional exact prefix sum of a value column over the SAME total
        # order (vocabulary coverage curves, byte offsets, ...): the local
        # running sum and the per-partition total ride the same windowed
        # pass; the cross-partition offset joins the same tiny metadata
        local = local.withColumn("__lsum", F.sum(sum_col).over(wrun)).withColumn(
            "__psum", F.sum(sum_col).over(wp)
        )
        meta_cols.append("__psum")
    if memo is not None:
        from pyspark import StorageLevel

        local = _memo.memo_persist(local, memo, StorageLevel.MEMORY_AND_DISK)
    # per-partition counts fall out of the SAME windowed pass (distinct over
    # P rows after map-side partial), so the big relation is scanned exactly
    # twice — once for this metadata branch, once for the ranked output —
    # instead of once per downstream consumer. The grand total rides along
    # in the offsets aggregate so callers needing n don't add a third scan.
    counts = local.select(*meta_cols).distinct()
    aggs = [
        F.sum(
            F.when(F.col("b.__pid") < F.col("a.__pid"), F.col("b.__cnt")).otherwise(0)
        ).alias("__offset"),
        F.sum("b.__cnt").alias("__total"),
    ]
    if sum_col is not None:
        aggs.append(
            F.sum(
                F.when(F.col("b.__pid") < F.col("a.__pid"), F.col("b.__psum")).otherwise(0)
            ).alias("__sumoff")
        )
        aggs.append(F.sum("b.__psum").alias("__sumtotal"))
    offsets = (
        counts.alias("a")
        .crossJoin(F.broadcast(counts.alias("b")))
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(*aggs)
    )
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__offset") + F.col("__lrank")).cast("bigint"))
    )
    drop = ["__pid", "__lrank", "__cnt", "__offset"]
    if sum_col is not None:
        out = out.withColumn(cum_col, (F.col("__sumoff") + F.col("__lsum")).cast("bigint"))
        drop += ["__lsum", "__psum", "__sumoff"]
    return out.drop(*drop)


def value_deciles(
    events: DataFrame, n_tiles: int = 10, persist: bool = True
) -> DataFrame:
    """Global decile assignment, summarized per decile.

    Round 2 shipped this as an unpartitioned ``ntile(10)`` window — the
    scale-killer form (the whole relation sorts through ONE task). Now:
    two-phase. Phase 1 computes each row's exact global rank over the
    deterministic (value, event_id) total order via
    :func:`distributed_total_rank` (parallel range-partitioned sort + tiny
    prefix join). Phase 2 reproduces ntile's row-count split arithmetically:
    with n rows, q = n div k and r = n mod k, the first r tiles take q+1
    rows and the rest q, so

        tile(rank) = ceil(rank / (q+1))                     if rank <= r*(q+1)
                     r + ceil((rank - r*(q+1)) / q)         otherwise

    — identical output to the ntile oracle, no global single-task sort.
    Integer DIV keeps the math exact at any n (no double ceil).

    ``persist=True`` memo-persists the rank's windowed table (shared
    ``_RANK_CACHE``; :func:`release_rank_cache` frees it) so the events
    scan + range-shuffle/window compute once, not once per rank
    reference — the r10 concurrency-profile finding applied here.
    Default ON by measurement: probe_r10 rank_memo_ab reads 1.10x at
    sf0.1 growing to 1.41x at x16 replication (the per-event rank input
    is the one whose tripled upstream grows with the data); the sibling
    text-rank queries measured a wash and do not persist.
    """
    events = events.withColumn("value", finite_or_null("value"))

    # deciles describe the MEASURED distribution: NULL (incl. sanitized
    # non-finite) values hold no rank — and engines disagree on NULL sort
    # position (Spark first, DuckDB last), so excluding them is also the
    # only cross-engine-stable choice
    ranked = distributed_total_rank(
        events.filter(F.col("value").isNotNull()).select("value", "event_id"),
        ["value", "event_id"],
        memo=_RANK_CACHE if persist else None,
    ).withColumnRenamed("__total", "__n")
    k = n_tiles
    # q = rows per small tile, r = number of big (q+1-row) tiles; greatest()
    # keeps the never-taken otherwise-branch divisor nonzero when n < k
    decile = F.expr(
        f"CAST(CASE WHEN __rank <= (__n % {k}) * (__n div {k} + 1)"
        f"  THEN (__rank + __n div {k}) div (__n div {k} + 1)"
        f"  ELSE (__n % {k}) + (__rank - (__n % {k}) * (__n div {k} + 1)"
        f"        + __n div {k} - 1) div greatest(__n div {k}, 1)"
        f" END AS INT)"
    )
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            quantize6(F.min("value")).alias("min_value"),
            quantize6(F.max("value")).alias("max_value"),
            quantize6(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double")
            ).alias("total_value"),
        )
    )


FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel(events: DataFrame, steps: list[str] | None = None) -> DataFrame:
    """Ordered funnel analysis: how many users reached step k, where a user
    reaches step k at the EARLIEST event of type steps[k] that is strictly
    after their step-(k-1) time (min-over-qualifying semantics, the standard
    windowless funnel definition — reference has no such operator class,
    SURVEY §2.11 extension).

    Scale shape (r11): ONE scan of the events (step-type isin pushed to
    it) and ONE user_id shuffle — the step-reach times are per-user
    constants computed as chained window aggregates, so no per-step
    joins, no union recompute (the r10 chained-join form scanned events
    6x; see _funnel_reach_counts). Min timestamps are exact, so step
    attribution is deterministic under any partitioning.
    """
    steps = steps or FUNNEL_STEPS
    return _funnel_reach_counts(
        events.select("user_id", "ts", "event_type"), ["user_id"], steps, "users"
    )


def _funnel_reach_counts(
    df: DataFrame, keys: list[str], steps: list[str], count_alias: str
) -> DataFrame:
    """Shared one-pass funnel engine for :func:`funnel` (user grain) and
    :func:`session_funnel` (session grain).

    r10 shape: step k's per-key frame chained a filter+join+groupBy onto
    step k-1's, and the final per-step counts unioned ALL the chained
    frames — Catalyst shares no subtrees across union branches, so the
    event input was scanned 1+2+..+len(steps) times (6 scans, 8-9
    exchanges for the 3-step faces). r11 shape: the step-reach times are
    per-key constants, so they compute as chained window aggregates over
    ONE key partition (t_k = min ts of type steps[k] strictly after
    t_{k-1}; the chain stops at the first NULL), one row per key via the
    co-partitioned groupBy, one global rollup, and inline() melts the
    single total row — one scan (with the step-type isin pushed to it),
    one data shuffle, no Union. Pinned by tests/test_scale_posture.py.

    Two edges preserved from the join form exactly: a key whose step-0
    events all carry NULL ts still counts at step 1 (the old groupBy
    created the group with t0=NULL), and NULL keys never advance past
    step 1 (the old inner joins dropped them).
    """
    w = Window.partitionBy(*keys)
    typed = df.filter(F.col("event_type").isin(list(steps)))
    staged = typed.withColumns(
        {
            "__r0": F.max((F.col("event_type") == steps[0]).cast("int")).over(w),
            "__t0": F.min(
                F.when(F.col("event_type") == steps[0], F.col("ts"))
            ).over(w),
        }
    )
    keys_nn = F.lit(True)
    for k in keys:
        keys_nn = keys_nn & F.col(k).isNotNull()
    for i, step in enumerate(steps[1:], start=1):
        cond = (
            (F.col("event_type") == step)
            & (F.col("ts") > F.col(f"__t{i-1}"))
            & keys_nn
        )
        staged = staged.withColumn(f"__t{i}", F.min(F.when(cond, F.col("ts"))).over(w))
    per_key = staged.groupBy(*keys).agg(
        F.max("__r0").alias("__r0"),
        *[F.max(f"__t{i}").alias(f"__t{i}") for i in range(1, len(steps))],
    )
    flags = [F.col("__r0") == 1] + [
        F.col(f"__t{i}").isNotNull() for i in range(1, len(steps))
    ]
    totals = per_key.agg(
        *[
            F.coalesce(F.sum(fl.cast("long")), F.lit(0)).alias(f"__u{i}")
            for i, fl in enumerate(flags)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(step).alias("event_type"),
                F.col(f"__u{i}").alias(count_alias),
            )
            for i, step in enumerate(steps)
        ]
    )
    return totals.select(F.inline(rows))


def cohort_retention(events: DataFrame, bucket: str = "week") -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period; for each (cohort, offset) the number of cohort users active
    ``offset`` periods later.

    Scale shape: two aggregates — first-seen per user and distinct
    (user, period) activity — both shuffled on user_id so the join between
    them co-partitions with no extra exchange; the final (cohort, offset)
    rollup is tiny. Period arithmetic is integer datediff, exact in both
    engines.
    """
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc(bucket, F.min("ts")).alias("cohort")
    )
    active = (
        events.select("user_id", F.date_trunc(bucket, F.col("ts")).alias("period"))
        .distinct()
    )
    days = {"week": 7, "day": 1}[bucket]
    return (
        active.join(first_seen, "user_id")
        .select(
            F.to_date("cohort").alias("cohort"),
            (F.datediff(F.to_date("period"), F.to_date("cohort")) / days)
            .cast("int")
            .alias("offset"),
            "user_id",
        )
        .groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def purchase_attribution(
    events: DataFrame,
    lookback_s: int = 3600,
    touch_types: tuple[str, ...] = ("click", "view"),
) -> DataFrame:
    """Marketing-style attribution at the purchase grain: for every
    purchase event, count the user's touchpoints (clicks/views) in the
    ``lookback_s`` window before it and identify the LAST touch. The
    purchase-grain integer output (counts + cents) is deliberate: linear
    credit fractions (value/n_touches) are one deterministic division away
    for any consumer, while the engine-verified surface stays exact.

    Shape: the touches-to-purchases range join is an equi-join on user_id
    with the time band as a join-level filter — per-user work is bounded
    by session activity, the shuffle key is user_id, and no window spans
    users. The last-touch argmax is a struct MAX inside the same
    aggregation (microsecond epoch + event_id tiebreak — total order, so
    deterministic cross-engine), not a second window pass.
    """
    events = events.withColumn("value", finite_or_null("value"))
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_eid"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("purchase_cents"),
    )
    # the touch-side key gets its own name: after a left join built from two
    # frames sharing a lineage, drop(t["user_id"]) can resolve to either
    # column and silently keep the NULL-on-unmatched touch side
    t = events.filter(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_eid"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.col("event_type").alias("t_type"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(lookback_s * 1_000_000)),
        "left",
    ).drop("t_user")
    type_counts = [
        F.sum(F.when(F.col("t_type") == tt, 1).otherwise(0))
        .cast("bigint")
        .alias(f"n_{tt}")
        for tt in touch_types
    ]
    agg = joined.groupBy("p_eid", "user_id", "purchase_cents").agg(
        F.count("t_eid").cast("bigint").alias("n_touches"),
        *type_counts,
        F.max(F.struct(F.col("t_us"), F.col("t_eid"), F.col("t_type"))).alias("__last"),
    )
    return agg.select(
        F.col("p_eid").alias("event_id"),
        "user_id",
        "purchase_cents",
        "n_touches",
        *[f"n_{tt}" for tt in touch_types],
        F.when(F.col("n_touches") > 0, F.col("__last")["t_type"]).alias(
            "last_touch_type"
        ),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition estimate over per-user event streams:
    counts and row-normalized probabilities of consecutive (type -> type)
    steps — the statistic behind next-event prediction baselines and the
    sanity check sequence-model training data gets before a model sees it.

    One user-keyed lead window over the (ts, event_id) total order (the
    same single keyed shuffle every sequence operator here pays), one
    aggregate at the tiny (from, to) grain, and the per-from totals as a
    window over that same tiny table (r11 — the totals used to come from
    a groupBy + broadcast self-join, which recomputed the whole
    scan/window/aggregate on both sides: 2 scans, 5 exchanges; the
    partitioned window computes it once: 1 scan, no join, and the
    (from, to) grain is bounded by the event-type vocabulary squared, so
    the window partition is tiny at any corpus size). The probability is
    a single division of exact counts (quantized) — deterministic
    cross-engine.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("event_type").over(w)
    pairs = (
        # a NULL ts has no place in the (ts, event_id) total order — and
        # Spark sorts NULLS FIRST where DuckDB sorts NULLS LAST, so such
        # corrupt rows would produce different transitions per engine
        events.filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", nxt)
        # NULL next_type = last event of a user stream (no transition);
        # NULL event_type rows must ALSO drop here — the r10 totals
        # equi-join dropped them implicitly (NULL never equi-joins), and
        # the oracle twin keeps that join, so the window form has to make
        # the drop explicit. Applied AFTER the lead so a NULL-type event
        # still occupies its position in the sequence (its predecessor's
        # transition keeps dropping via NULL next_type, exactly as before).
        .filter(F.col("next_type").isNotNull() & F.col("event_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    tot = (
        F.sum("n_transitions")
        .over(Window.partitionBy("from_type"))
        .cast("bigint")
    )
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        quantize6(F.col("n_transitions") / tot).alias("prob"),
    )


def rfm_segments(
    events: DataFrame,
    recent_days: int = 1,
    frequent_n: int = 14,
) -> DataFrame:
    """RFM segmentation: per user, recency (days since last purchase,
    against the corpus max timestamp so the report is reproducible —
    never wall-clock), frequency (purchase count), monetary (integer
    cents), and a deterministic segment label from fixed documented
    thresholds. Users who never purchased segment as 'none' with NULL
    recency. One user-grain aggregate + a 1-row broadcast reference
    date; integer cents keep the hash exact.
    """
    events = events.withColumn("value", finite_or_null("value"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ref = events.agg(F.max(us).alias("__ref_us"))
    per_user = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", us)).alias("__last_us"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("frequency"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("monetary_cents"),
    )
    recency = F.floor(
        (F.col("__ref_us") - F.col("__last_us")) / F.lit(86_400_000_000)
    ).cast("int")
    seg = (
        F.when(F.col("frequency") == 0, "none")
        .when(
            (recency <= recent_days) & (F.col("frequency") >= frequent_n), "champion"
        )
        .when(recency <= recent_days, "recent")
        .when(F.col("frequency") >= frequent_n, "frequent")
        .otherwise("lapsed")
    )
    return per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.when(F.col("frequency") > 0, recency).alias("recency_days"),
        "frequency",
        "monetary_cents",
        seg.alias("segment"),
    )


def session_funnel(
    events: DataFrame,
    steps: list[str] | None = None,
    gap_s: int = 1800,
) -> DataFrame:
    """Funnel at SESSION grain: how many sessions contain the ordered step
    sequence — the intent-level conversion metric (a user who viewed on
    Monday and bought on Friday converts in the user funnel but not
    here). Same chained min-over-qualifying formulation as
    :func:`funnel`, keyed on (user_id, session_idx) from
    :func:`with_session_idx`; session counts per step come out as one
    tiny row per step.

    Scale shape (r11): the session assignment is the one user-keyed
    window every session operator pays; the funnel itself adds NO new
    shuffle — its (user_id, session_idx) windows and per-session rollup
    are clustered by the session window's user_id partitioning (the r10
    chained-join form scanned events 6x and shuffled 9x; see
    _funnel_reach_counts).
    """
    steps = steps or FUNNEL_STEPS
    tagged = with_session_idx(events, gap_s).select(
        "user_id", "session_idx", "ts", "event_type"
    )
    # the step-type filter applies AFTER session assignment (session_idx
    # depends on every event's gap, not just step-type events) but BEFORE
    # the funnel windows, inside _funnel_reach_counts; the funnel windows
    # partition by (user_id, session_idx), which the session window's
    # user_id hash partitioning already clusters — no second exchange
    return _funnel_reach_counts(
        tagged, ["user_id", "session_idx"], steps, "sessions"
    )


def gap_regularity_flags(
    events: DataFrame,
    min_gaps: int = 10,
    rel_var_num: int = 7,
    rel_var_den: int = 10,
) -> DataFrame:
    """Bot/automation heuristic: flag users whose inter-event gaps are
    suspiciously REGULAR. Human arrivals look Poisson (relative gap
    variance (m·ss − s²)/s² near 1); schedulers and scripts produce
    near-constant gaps (near 0). A user flags when the relative variance
    falls below ``rel_var_num/rel_var_den``, tested division-free as

        (m·ss − s²) · den  <  s² · num

    with gaps in integer SECONDS — all BIGINT, so the flag hash-verifies
    exactly (the daily_anomaly_flags playbook). One user-keyed lag window
    and one user-grain aggregate.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = _epoch(F.col("ts"))
    gap = (ep - F.lag(ep).over(w)).alias("gap")
    gaps = events.select("user_id", gap).filter(F.col("gap").isNotNull())
    a = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").alias("__s"),
        F.sum(F.col("gap") * F.col("gap")).alias("__ss"),
    )
    m, s, ss = F.col("n_gaps"), F.col("__s"), F.col("__ss")
    regular = (
        (m >= min_gaps)
        & (s > 0)
        & ((m * ss - s * s) * rel_var_den < s * s * rel_var_num)
    )
    return a.select(
        "user_id",
        "n_gaps",
        quantize6(s / m).alias("mean_gap_s"),
        regular.alias("is_regular"),
    )


def dau_wau(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Daily/weekly active users and stickiness: per day, the EXACT count
    of distinct users active that day (DAU) and in the trailing
    ``window_days`` window (WAU), plus DAU/WAU. Exact rolling distincts
    don't window (COUNT DISTINCT OVER a frame isn't a thing); the scalable
    form is the day-grain range join: distinct (user, day) activity
    (user-keyed aggregate) joined to the tiny day spine with a band
    predicate — per-day work is bounded by window x daily actives, and
    nothing re-scans raw events. (For approximate rolling distincts at
    extreme cardinality, merge daily HLL sketches instead —
    events_hll_merge proves that path.)
    """
    activity = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = activity.select("day").distinct()
    dau = activity.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    a = activity.select(F.col("user_id"), F.col("day").alias("aday"))
    wau = (
        days.join(
            a,
            (F.col("aday") <= F.col("day"))
            & (F.col("aday") >= F.date_sub(F.col("day"), window_days - 1)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )

    return dau.join(wau, "day").select(
        "day", "dau", "wau", quantize6(F.col("dau") / F.col("wau")).alias("stickiness")
    )


def hourly_profile(events: DataFrame) -> DataFrame:
    """Hour-of-day activity profile per event type (UTC): counts and the
    share of the type's events in each hour — the load-shape fingerprint
    capacity planning and anomaly baselines read. Exact counts, one
    division; a tiny (type, hour) aggregate."""
    # pmod, not %: the engines' % follows the dividend's sign, so a
    # pre-1970 timestamp produced impossible negative hours (review
    # finding) — pmod keeps every instant in [0, 24)
    h = (
        F.floor(
            F.pmod(F.unix_timestamp(F.col("ts").cast("timestamp")), F.lit(86400))
            / 3600
        )
    ).cast("int")
    per = events.groupBy("event_type", h.alias("hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("__t")
    )
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour",
        "n_events",
        quantize6(F.col("n_events") / F.col("__t")).alias("share"),
    )
