"""Targeted fixtures for the reference's trickiest semantics (SURVEY §7.4):
priority order under NULL wildcards, per-column coalesce, duplicate-dim
dedup, credits pivot edge cases, mode-4 zero-price guard, extra-discount
pandas-path behavior."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from billing_etl_v1_spark.operators.credits import credits_pivot
from billing_etl_v1_spark.operators.pricing import with_pricing_modes
from billing_etl_v1_spark.operators.rules import dedupe_dim, match_rules

DIM_DDL = (
    "month string, billing_account_id string, project_id string, "
    "service_description string, sku_id string, mode int, discount string, "
    "price string, credit_fields string, customer_id string, contract_id string"
)


def _dim(spark, rows):
    return spark.createDataFrame(rows, schema=DIM_DDL)


def _fact(spark, rows):
    ddl = (
        "invoice_month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string"
    )
    return spark.createDataFrame(rows, schema=ddl)


FACT_ROW = ("202601", "A", "p1", "s1", "k1")


def test_priority_8_beats_1(spark):
    dim = _dim(
        spark,
        [
            ("2026-01", "A", None, None, None, 1, "0.9", None, None, "c1", "t1"),
            ("2026-01", "A", "p1", "s1", "k1", 2, "0.5", "0.1", None, "c8", "t8"),
        ],
    )
    out = match_rules(_fact(spark, [FACT_ROW]), dim).collect()[0]
    assert out.mode == 2 and out.customer_id == "c8"


@pytest.mark.parametrize(
    "winner_rule,loser_rule,winner_mode",
    [
        # (rule pattern of winner, loser) per priority 8>4>6>2>7>3>5>1
        ((("p1", "s1", None), 4), (("p1", None, "k1"), 6), 4),
        ((("p1", None, "k1"), 6), ((None, "s1", "k1"), 7), 6),
        ((("p1", None, None), 2), ((None, "s1", "k1"), 7), 2),
        (((None, "s1", "k1"), 7), ((None, "s1", None), 3), 7),
        (((None, "s1", None), 3), ((None, None, "k1"), 5), 3),
        (((None, None, "k1"), 5), ((None, None, None), 1), 5),
    ],
)
def test_priority_pairs(spark, winner_rule, loser_rule, winner_mode):
    (wp, ws, wk), _ = winner_rule
    (lp, ls, lk), _ = loser_rule
    dim = _dim(
        spark,
        [
            ("2026-01", "A", wp, ws, wk, winner_mode, "0.1", None, None, "w", "w"),
            ("2026-01", "A", lp, ls, lk, 9, "0.2", None, None, "l", "l"),
        ],
    )
    out = match_rules(_fact(spark, [FACT_ROW]), dim).collect()[0]
    assert out.mode == winner_mode and out.customer_id == "w"


def test_per_column_coalesce_falls_through_nulls(spark):
    """The winning rule's NULL cells fall back to lower-priority rules —
    pandas df.update skips NaN per cell (reference calculate/service.py:138)
    and the SQL template coalesces per column (sql_template.py:93-98)."""
    dim = _dim(
        spark,
        [
            ("2026-01", "A", None, None, None, 1, "0.8", None, "cf_low", None, "CTR-low"),
            ("2026-01", "A", "p1", "s1", "k1", 2, None, "0.3", None, "CUST-high", None),
        ],
    )
    out = match_rules(_fact(spark, [FACT_ROW]), dim).collect()[0]
    assert out.mode == 2
    assert out.price == "0.3"
    assert out.discount == "0.8"  # fell through from rule 1
    assert out.credit_fields == "cf_low"
    assert out.customer_id == "CUST-high"
    assert out.contract_id == "CTR-low"


def test_month_mismatch_no_match(spark):
    dim = _dim(spark, [("2026-02", "A", None, None, None, 1, "0.8", None, None, "c", "t")])
    out = match_rules(_fact(spark, [FACT_ROW]), dim).collect()[0]
    assert out.mode is None


def test_duplicate_dim_dedup_deterministic(spark):
    dim = _dim(
        spark,
        [
            ("2026-01", "A", None, None, None, 1, "0.9", None, None, "c", "t"),
            ("2026-01", "A", None, None, None, 1, "0.5", None, None, "c2", "t2"),
        ],
    )
    kept = dedupe_dim(dim).collect()
    assert len(kept) == 1 and kept[0].discount == "0.5"  # smallest payload wins
    out = match_rules(_fact(spark, [FACT_ROW]), dim).collect()
    assert len(out) == 1  # no row multiplication (SURVEY §2.3 hazard)


def _credits_df(spark, types, amounts):
    return spark.createDataFrame(
        [(types, amounts, 0.0)], "credits_type: array<string>, credits_amount: array<double>, c_x: double"
    )


def test_credits_pivot_repeated_and_unknown_types(spark):
    """Repeated types accumulate; unknown types skip buckets but count in the
    total (reference calculate/service.py:35-42)."""
    out = credits_pivot(
        _credits_df(
            spark,
            ["DISCOUNT", "DISCOUNT", "SOMETHING_NEW", "RESELLER_MARGIN"],
            [-1.0, -2.0, -4.0, -8.0],
        )
    ).collect()[0]
    assert out.c_discount == -3.0
    assert out.c_rm == -8.0
    assert out.internal_credits_cost == -15.0  # unknown included
    assert out.internal_credits_consumption == -7.0  # total - c_rm


def test_credits_pivot_empty_array(spark):
    out = credits_pivot(_credits_df(spark, [], [])).collect()[0]
    assert out.internal_credits_cost == 0.0
    assert out.internal_credits_consumption == 0.0
    assert out.c_cud == 0.0


PRICING_COLS = (
    "billing_account_id string, usage_amount_in_pricing_units double, "
    "cost double, cost_at_list double, internal_credits_cost double, "
    "internal_credits_consumption double, c_cud double, c_cud_db double, "
    "c_discount double, c_free_tier double, c_promotion double, c_rm double, "
    "c_sub_benefit double, c_sud double, mode int, discount string, "
    "price string, credit_fields string"
)


def _priced(spark, mode, discount, price, credit_fields, extra=None, acct="A"):
    row = [acct, 10.0, 100.0, 120.0, -5.0, -3.0, -1.0, 0.0, -2.0, 0.0, 0.0, -2.0, 0.0, 0.0,
           mode, discount, price, credit_fields]
    df = spark.createDataFrame([tuple(row)], schema=PRICING_COLS)
    return with_pricing_modes(df, extra or {}).collect()[0]


def test_mode1(spark):
    out = _priced(spark, 1, "0.85", None, None)
    assert out.external_consumption == pytest.approx((100.0 - 3.0) * 0.85)
    assert out.discount_amount == -3.0


def test_mode2_mode3(spark):
    assert _priced(spark, 2, None, "0.5", None).external_consumption == pytest.approx(5.0)
    assert _priced(spark, 3, "0.5", "0.5", None).external_consumption == pytest.approx(2.5)


def test_mode4_with_credit_fields(spark):
    out = _priced(spark, 4, "0.8", "2.0", "c_cud/c_discount")
    credit_part = (-1.0) + (-2.0)
    assert out.external_consumption == pytest.approx(120.0 * 0.8 + (credit_part / 2.0) * 0.8)
    assert out.discount_amount == pytest.approx(credit_part / 2.0)


def test_mode4_zero_price_guard(spark):
    """price==0 -> credit part contributes 0, list part still charged
    (reference calculate/service.py:93-96)."""
    out = _priced(spark, 4, "0.8", "0", "c_cud/c_discount")
    assert out.external_consumption == pytest.approx(120.0 * 0.8)
    assert out.discount_amount == 0.0


def test_mode4_null_price_discount_default_1(spark):
    """NULL price/discount -> 1.0 in mode 4 (reference calculate/service.py:87-88)."""
    out = _priced(spark, 4, None, None, "c_cud")
    assert out.external_consumption == pytest.approx(120.0 * 1.0 + (-1.0 / 1.0) * 1.0)


def test_mode0_unmatched_defaults(spark):
    out = _priced(spark, None, None, None, None)
    assert out.external_consumption == 0.0
    assert out.discount_amount == 0.0


def test_mode4_discount_follows_sql_template(spark):
    """SURVEY §2.10.5: mode-4 `discount_amount` follows the SQL template
    (sql_template.py:197-198 — emit credit_part/price), NOT the production
    pandas path, which computes the same value in `_calculate_mode4_row`
    (calculate/service.py:97) and then discards it because
    `_calculate_mode4` assigns only `external_consumption` back
    (calculate/service.py:79-81) — i.e. production accidentally emits 0.0.
    This test pins the deliberate non-zero choice by name."""
    out = _priced(spark, 4, "0.8", "2.0", "c_cud/c_discount")
    credit_over_price = ((-1.0) + (-2.0)) / 2.0
    # the SQL-template value — NOT the pandas-production 0.0
    assert out.discount_amount == pytest.approx(credit_over_price)
    assert out.discount_amount != 0.0


def test_extra_discount_scales_internal_cost_only(spark):
    """Pandas-path semantics (SURVEY §2.10.1): factor multiplies internal_cost
    only; mode-1 external uses UNSCALED internal_consumption
    (reference calculate/service.py:209)."""
    out = _priced(spark, 1, "0.5", None, None, extra={"A": 0.9})
    assert out.internal_cost == pytest.approx((100.0 - 5.0) * 0.9)
    assert out.internal_consumption == pytest.approx(97.0)  # unscaled
    assert out.external_consumption == pytest.approx(97.0 * 0.5)  # unscaled base


def test_match_rules_dim_cache_does_not_grow(spark):
    """Repeated pipeline runs over the same dim must reuse ONE cached
    relation (round-1 advice: each call leaked a cached dim for the
    session's lifetime)."""
    from billing_etl_v1_spark.operators import rules as rules_mod

    rules_mod.release_dim_cache(spark)
    dim = _dim(
        spark,
        [("2026-01", "A", "p1", "s1", "k1", 2, "0.5", "0.1", None, "c8", "t8")],
    )
    fact = _fact(spark, [FACT_ROW])
    sizes = []
    for _ in range(3):
        rules_mod.match_rules(fact, dim).collect()
        sizes.append(len(rules_mod._DIM_CACHE))
    assert sizes == [1, 1, 1], sizes
    assert rules_mod.release_dim_cache(spark) == 1
    assert len(rules_mod._DIM_CACHE) == 0


def test_pipeline_memos_match_fresh_builds(spark):
    """Expression trees are built once per process (``functions.built_once``)
    and the rule map is memoized on the input dim. Runs with different
    extra-discount mappings, etl_times and grains in one process must each
    equal the same call made after clearing every memo, and repeating the
    identical calls must not grow any memo."""
    import datetime as dt
    from collections import Counter

    import __spark_entry__ as em
    from billing_etl_v1_spark.functions import BUILT_ONCE
    from billing_etl_v1_spark.operators import rules as rules_mod
    from billing_etl_v1_spark.oracle import TEST_EXTRA_DISCOUNTS
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline
    from tests.conftest import SF_SMALL

    fact, dim = em._billing_ctx(spark, SF_SMALL)
    other = {acct: 0.5 for acct in TEST_EXTRA_DISCOUNTS}
    t1, t2 = dt.datetime(2026, 1, 2, 3, 4, 5), dt.datetime(2026, 2, 1)
    calls = [
        dict(grain="detail", extra_discounts=TEST_EXTRA_DISCOUNTS, etl_time=t1),
        dict(grain="detail", extra_discounts=other, etl_time=t2),
        dict(grain="pipeline", extra_discounts=TEST_EXTRA_DISCOUNTS, etl_time=t2),
        dict(grain="pipeline", extra_discounts=other, etl_time=t1),
    ]

    def run(kw):
        return Counter(billing_pipeline(fact, dim, invoice_month="199506", **kw).collect())

    def clear():
        for builder in BUILT_ONCE:
            builder.cache_clear()
        rules_mod.release_dim_cache(spark)

    def sizes():
        return [b.cache_info().currsize for b in BUILT_ONCE] + [len(rules_mod._DIM_CACHE)]

    clear()
    warm = [run(kw) for kw in calls]
    grown = sizes()
    assert [run(kw) for kw in calls] == warm
    assert sizes() == grown
    for kw, got in zip(calls, warm):
        clear()
        assert run(kw) == got, kw
    assert len(warm[0]) > 0 and warm[0] != warm[1] and warm[0] != warm[2]


def test_traced_run_patch_points_resolve(monkeypatch):
    """perfbench's traced run swaps module attributes the pipeline looks up
    at call time (``LAYER_PATCHES`` in perfbench/spans.py); renaming one
    would break the traced run, which no untraced run notices."""
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    # dataclasses look their defining module up in sys.modules
    monkeypatch.setitem(sys.modules, spec.name, spans)
    spec.loader.exec_module(spans)

    assert spans.LAYER_PATCHES
    for mod_name, attr, *_ in spans.LAYER_PATCHES:
        target = getattr(importlib.import_module(mod_name), attr, None)
        assert callable(target), f"{mod_name}.{attr}"


def test_exact_sum_is_exact_signed_and_partition_order_proof(spark):
    """The (hi, lo) BIGINT-pair accumulation behind source_aggregate and
    tpch_q1: exact on the 1e-10 grid for signed values, and bit-identical
    across partitionings (associativity is the whole point)."""
    from billing_etl_v1_spark.functions import exact_sum

    vals = [1.0000000001, -2.0000000003, 123456.789, -0.0000000001,
            99999.5, -99999.5, 0.0, 7.25e-7, -7.25e-7]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    expected = round(sum(round(v * 1e10 + (0.5 if v >= 0 else 0.4999)) for v in vals) / 1e10, 10)
    # floor(x*1e10+0.5) in python for exactness
    import math
    expected = sum(math.floor(v * 1e10 + 0.5) for v in vals) / 1e10

    for parts in (1, 3, 7):
        got = df.repartition(parts).agg(exact_sum(F.col("v")).alias("s")).collect()[0].s
        assert got == pytest.approx(expected, abs=1e-12), (parts, got, expected)

    # negative-heavy group reconstructs exactly (sign-safe hi/lo split)
    neg = spark.createDataFrame([(-1.5,), (-2.5,), (-0.0000000004,)], "v double")
    got = neg.agg(exact_sum(F.col("v")).alias("s")).collect()[0].s
    assert got == pytest.approx(math.floor(-1.5e10 + 0.5) / 1e10
                                + math.floor(-2.5e10 + 0.5) / 1e10
                                + math.floor(-0.0000000004e10 + 0.5) / 1e10, abs=1e-12)


def test_exact_sum_large_magnitudes_use_integer_hi(spark):
    """|value| beyond ~9e5 pushes v10 past 2^53: the old double-division hi
    reconstruction truncated off-by-one (0.1 absolute error per row, both
    engines identically so the oracle couldn't see it). Integer div must
    keep hi exact across the bigint grid range (round-2 advice)."""
    import math

    from billing_etl_v1_spark.functions import exact_sum

    vals = [12345678.9, -98765432.1, 9.0e8, -8.999999e8, 1234567.000000125]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    expected = sum(math.floor(v * 1e10 + 0.5) for v in vals) / 1e10
    for parts in (1, 4):
        got = df.repartition(parts).agg(exact_sum(F.col("v")).alias("s")).collect()[0].s
        assert got == pytest.approx(expected, abs=1e-9), (parts, got, expected)


def test_filter_month_and_day_range_semantics(spark, tmp_path):
    """P3/P4 predicate helpers: filter_month(None) is a passthrough, the
    month equality reaches the parquet scan as a pushed filter (the whole
    point of the helper at 100 TB — partition/row-group pruning), and
    filter_day_range is half-open [start, end)."""
    import datetime as dt

    from billing_etl_v1_spark.operators.aggregate import (
        filter_day_range,
        filter_month,
    )

    rows = [
        ("199505", dt.date(1995, 5, 31)),
        ("199506", dt.date(1995, 6, 1)),
        ("199506", dt.date(1995, 6, 15)),
        ("199506", dt.date(1995, 6, 30)),
        ("199507", dt.date(1995, 7, 1)),
    ]
    df = spark.createDataFrame(rows, "invoice_month string, usage_day date")

    assert filter_month(df, None) is df  # passthrough, no plan node added
    assert filter_month(df, "199506").count() == 3

    got = filter_day_range(
        df, dt.date(1995, 6, 1), dt.date(1995, 6, 30)
    ).select("usage_day").collect()
    days = sorted(r.usage_day for r in got)
    assert days == [dt.date(1995, 6, 1), dt.date(1995, 6, 15)]  # end exclusive

    # pushdown proof: against a parquet source the equality must appear in
    # the scan's PushedFilters, not as a post-scan-only Filter
    path = str(tmp_path / "fact_pushdown")
    df.write.parquet(path)
    plan = filter_month(spark.read.parquet(path), "199506")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "invoice_month" in plan.split("PushedFilters", 1)[1].split("]", 1)[0], plan


def test_conform_strict_fails_loud_permissive_quarantines(spark):
    """Type GARBAGE at the conformance boundary (a string in a numeric
    column, an unparseable usage_day — distinct from NULLs) must fail the
    job loudly under ANSI."""
    import pytest

    from billing_etl_v1_spark.operators.conform import conform_to_target

    df = spark.createDataFrame(
        [("2024-03-01", "3", "1.5"), ("garbage-day", "abc", "x")],
        "usage_day string, mode string, cost string",
    )
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|ANSI|Cannot cast|DateTimeException|CANNOT_PARSE"):
        conform_to_target(df).collect()


def test_credits_pivot_null_amount_contributes_zero_everywhere(spark):
    """A NULL credits_amount element (corrupt data, or arrays_zip padding
    when the type/amount arrays have mismatched lengths) must contribute
    ZERO to its bucket AND the total — before the guard it nulled the
    running total (coalesced to 0) while OTHER buckets kept their sums,
    breaking the consumption identity on exactly the rows a 100 TB corpus
    produces (review finding)."""
    out = credits_pivot(
        _credits_df(
            spark,
            ["DISCOUNT", "PROMOTION", "RESELLER_MARGIN"],
            [-5.0, None, -8.0],
        )
    ).collect()[0]
    assert out.c_discount == -5.0
    assert out.c_promotion == 0.0  # NULL element excluded, not poisoning
    assert out.c_rm == -8.0
    assert out.internal_credits_cost == -13.0  # valid elements only
    assert out.internal_credits_consumption == -5.0  # total - c_rm

    # mismatched lengths: arrays_zip pads the short side with NULLs —
    # padded elements must behave exactly like NULL elements
    out = credits_pivot(
        _credits_df(spark, ["DISCOUNT", "PROMOTION"], [-5.0])
    ).collect()[0]
    assert out.c_discount == -5.0 and out.internal_credits_cost == -5.0


def test_filter_day_range_single_bound(spark):
    """A lone bound must still filter (review finding: the pipeline's old
    inline copy required BOTH bounds and silently recomputed the whole
    month for an incremental caller passing only day_start)."""
    import datetime as dt

    from billing_etl_v1_spark.operators.aggregate import filter_day_range

    rows = [(dt.date(1995, 6, d),) for d in (1, 15, 30)]
    df = spark.createDataFrame(rows, "usage_day date")
    assert filter_day_range(df, dt.date(1995, 6, 10), None).count() == 2
    assert filter_day_range(df, None, dt.date(1995, 6, 10)).count() == 1
    assert filter_day_range(df, None, None).count() == 3


def test_billing_pipeline_rejects_unknown_grain(spark):
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline
    from billing_etl_v1_spark.sources import synthetic
    from billing_etl_v1_spark.sources.readers import register_views
    from tests.conftest import SF_SMALL

    register_views(spark, SF_SMALL, ["lineitem"])
    fact, dim = synthetic.fact_df(spark), synthetic.dim_df(spark)
    with pytest.raises(ValueError, match="grain"):
        billing_pipeline(fact, dim, grain="details")  # typo must not
        # silently select the coarser production grain


def test_billing_pipeline_output_matches_target_schema(spark):
    """At both grains the pipeline emits the target table's columns
    (``schemas.TARGET_SCHEMA``) in its order and with its types."""
    import datetime as dt

    import __spark_entry__ as em
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline
    from billing_etl_v1_spark.schemas import TARGET_SCHEMA
    from tests.conftest import SF_SMALL

    fact, dim = em._billing_ctx(spark, SF_SMALL)
    want = [(f.name, f.dataType) for f in TARGET_SCHEMA]
    for grain in ("detail", "pipeline"):
        out = billing_pipeline(fact, dim, grain=grain, etl_time=dt.datetime(2026, 1, 2))
        assert [(f.name, f.dataType) for f in out.schema] == want, grain


def test_conform_defaults_missing_usage_day(spark):
    """Every absent target column takes a typed default — including
    usage_day (review finding: the one unguarded branch crashed with
    UNRESOLVED_COLUMN on month-grain frames). The sink's policy per
    absent column: strings '', customer_id/contract_id NULL, doubles 0.0,
    mode 0, usage_day NULL."""
    from pyspark.sql.types import DoubleType, StringType

    from billing_etl_v1_spark.operators.conform import conform_to_target
    from billing_etl_v1_spark.schemas import TARGET_SCHEMA

    df = spark.createDataFrame(
        [("199506", "A")], "invoice_month string, billing_account_id string"
    )
    out = conform_to_target(df).collect()[0]
    assert out.usage_day is None
    assert out.invoice_month == "199506" and out.cost == 0.0
    for f in TARGET_SCHEMA:
        if f.name in ("invoice_month", "billing_account_id", "etl_time"):
            continue
        if f.name in ("usage_day", "customer_id", "contract_id"):
            want = None
        elif f.name == "mode":
            want = 0
        elif isinstance(f.dataType, StringType):
            want = ""
        else:
            assert isinstance(f.dataType, DoubleType), f.name
            want = 0.0
        got = out[f.name]
        assert got == want and type(got) is type(want), (f.name, got)


def test_dq_audit_zero_rows_and_mode4_null_price(spark):
    """Empty frames report 0 violations (not NULL), and a mode-4 row whose
    dim price was NULL (priced at the documented default 1.0, then
    conformed to price=0.0) is NOT a zero-price leak — the old
    price=0-and-discount!=0 form flagged that correct output (review
    finding). A real leak is division fallout: non-finite
    discount_amount."""
    from billing_etl_v1_spark.operators.conform import conform_to_target, dq_audit

    empty = conform_to_target(spark.createDataFrame([], "invoice_month string"))
    got = {r["check"]: r.violations for r in dq_audit(empty).collect()}
    assert got == {
        "null_required_keys": 0,
        "negative_cost": 0,
        "mode_out_of_range": 0,
        "mode4_zero_price_leak": 0,
        "duplicate_grain_rows": 0,
    }

    legit = _priced(spark, 4, None, None, "c_cud")
    assert legit.discount_amount != 0.0  # priced at the default 1.0
    frame = conform_to_target(
        spark.createDataFrame(
            [("199506", "A", 4, 0.0, legit.discount_amount)],
            "invoice_month string, billing_account_id string, mode int, "
            "price double, discount_amount double",
        )
    )
    got = {r["check"]: r.violations for r in dq_audit(frame).collect()}
    assert got["mode4_zero_price_leak"] == 0

    poisoned = frame.withColumn(
        "discount_amount", F.lit(float("inf"))
    )
    got = {r["check"]: r.violations for r in dq_audit(poisoned).collect()}
    assert got["mode4_zero_price_leak"] == 1


def test_dq_audit_detail_grain_rate_change_not_duplicate(spark):
    """Two detail rows differing only in currency_conversion_rate are at
    DISTINCT grain (it is one of the 13 DETAIL_KEYS) — the old 12-key
    default counted them as duplicates (review finding)."""
    from billing_etl_v1_spark.operators.conform import conform_to_target, dq_audit

    frame = conform_to_target(
        spark.createDataFrame(
            [("199506", "A", 1.0), ("199506", "A", 1.1)],
            "invoice_month string, billing_account_id string, "
            "currency_conversion_rate double",
        )
    )
    got = {r["check"]: r.violations for r in dq_audit(frame).collect()}
    assert got["duplicate_grain_rows"] == 0


def test_dq_audit_pipeline_grain_counts_match_the_8_key_grain(spark):
    """On a production-grain frame conform fills the five detail-only keys
    with constants, so the 13-key audit groups the rows exactly as an
    8-key groupBy does: no row is a duplicate."""
    import datetime as dt

    import __spark_entry__ as em
    from billing_etl_v1_spark.operators.aggregate import DETAIL_KEYS, PIPELINE_KEYS
    from billing_etl_v1_spark.operators.conform import dq_audit
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline
    from tests.conftest import SF_SMALL

    fact, dim = em._billing_ctx(spark, SF_SMALL)
    out = billing_pipeline(
        fact, dim, grain="pipeline", etl_time=dt.datetime(2026, 1, 2)
    ).cache()
    detail_only = [k for k in DETAIL_KEYS if k not in PIPELINE_KEYS]
    assert len(detail_only) == 5
    assert out.select(*detail_only).distinct().count() == 1
    per8 = out.groupBy(*PIPELINE_KEYS).count()
    dup8 = per8.agg(F.sum(F.col("count") - 1)).first()[0]
    got = {r["check"]: r.violations for r in dq_audit(out).collect()}
    assert got["duplicate_grain_rows"] == dup8 == 0
    assert out.select(*DETAIL_KEYS).distinct().count() == per8.count() == out.count() > 0
    out.unpersist()


def test_scd2_fingerprint_field_boundaries_and_sentinel(spark):
    """Version changes must never merge via fingerprint collisions:
    ('a|b','c') vs ('a','b|c') collide under a '|'-joined string, and a
    literal sentinel string collides with NULL (review finding). Both
    must version."""
    from billing_etl_v1_spark.operators.rules import scd2_history

    cols = (
        "month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string, customer_id string, "
        "contract_id string, mode int, discount string, price string, "
        "credit_fields string"
    )
    k = ("A", "p", "s", "k", "cu", "co")
    rows = [
        ("202401", *k, 1, "a|b", "c", None),
        ("202402", *k, 1, "a", "b|c", None),   # boundary-collision pair
        ("202403", *k, 1, "§null§", "x", None),
        ("202404", *k, 1, None, "x", None),    # sentinel-vs-NULL pair
    ]
    out = scd2_history(spark.createDataFrame(rows, cols)).collect()
    assert len(out) == 4, [
        (r.valid_from, r.valid_to, r.discount, r.price) for r in out
    ]


def test_profile_columns_day_col_listed_once_and_name_validation(spark):
    """Listing the day column in ``columns`` too must not melt its date
    and string forms under one label (merged stats, doubled n_rows —
    review finding); unsafe names are rejected before reaching the
    stack() expression they would be interpolated into."""
    import datetime as dt

    import pytest as _pytest

    from billing_etl_v1_spark.operators.conform import profile_columns

    df = spark.createDataFrame(
        [(dt.date(1995, 6, 1), "A"), (dt.date(1995, 6, 2), "B")],
        "usage_day date, billing_account_id string",
    )
    out = {
        r.column_name: r
        for r in profile_columns(
            df, columns=["usage_day", "billing_account_id"]
        ).collect()
    }
    assert set(out) == {"usage_day", "billing_account_id"}
    assert out["usage_day"].n_rows == 2  # once, not doubled
    assert out["usage_day"].min_value == "1995-06-01"
    with _pytest.raises(ValueError, match="unsafe column name"):
        profile_columns(df, columns=["bad'name"], day_col="usage_day")
    # day_col is interpolated into the stack() label string literal, so it
    # gets the same validation — a quoted name must raise, not inject
    # (review finding)
    df2 = df.withColumnRenamed("usage_day", "bad'day")
    with _pytest.raises(ValueError, match="unsafe column name"):
        profile_columns(df2, columns=["billing_account_id"], day_col="bad'day")
    # day_col=None with a real column literally named __day_str must
    # profile it under its own name, not raise TypeError from
    # str.replace(None) (review finding)
    df3 = spark.createDataFrame([("x",), ("y",)], "__day_str string")
    out3 = {
        r.column_name: r
        for r in profile_columns(df3, columns=["__day_str"], day_col=None).collect()
    }
    assert set(out3) == {"__day_str"} and out3["__day_str"].n_rows == 2
