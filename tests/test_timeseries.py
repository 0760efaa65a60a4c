"""Invariants for operators.timeseries and the range-band join beyond the
oracle hash check: spine completeness, gap semantics, sketch error bounds,
band partition totality."""

from __future__ import annotations

from pyspark.sql import functions as F

from billing_etl_v1_spark.operators import timeseries as ts
from billing_etl_v1_spark.plans import examples
from billing_etl_v1_spark.sources.readers import load_table
from tests.conftest import SF_SMALL

MONTH = "199506"


def _fact(spark):
    import __spark_entry__ as em

    fact, _ = em._billing_ctx(spark, SF_SMALL)
    return fact


def test_gap_fill_spine_is_complete_rectangle(spark):
    out = ts.gap_fill_daily(_fact(spark), MONTH).cache()
    n_accounts = out.select("billing_account_id").distinct().count()
    n_days = out.select("usage_day").distinct().count()
    # every (account, day) cell exactly once
    assert out.count() == n_accounts * n_days
    assert (
        out.groupBy("billing_account_id", "usage_day").count().filter("count > 1").count()
        == 0
    )
    # span matches the month's observed bounds
    lo, hi = out.agg(F.min("usage_day"), F.max("usage_day")).first()
    assert (hi - lo).days + 1 == n_days


def test_gap_fill_gap_rows_are_zero_and_real_rows_match_agg(spark):
    fact = _fact(spark)
    out = ts.gap_fill_daily(fact, MONTH).cache()
    assert out.filter((F.col("is_gap") == 1) & (F.col("day_cost") != 0.0)).count() == 0
    real = fact.filter(F.col("invoice_month") == MONTH).select(
        "billing_account_id", "usage_day"
    ).distinct()
    # non-gap rows are exactly the observed (account, day) pairs
    non_gap = out.filter(F.col("is_gap") == 0).select("billing_account_id", "usage_day")
    assert non_gap.exceptAll(real).count() == 0
    assert real.exceptAll(non_gap).count() == 0


def test_approx_stats_within_bounds_of_exact(spark):
    events = load_table(spark, SF_SMALL, "events")
    approx = ts.approx_group_stats(events).toPandas().set_index("event_type")
    exact = (
        ts.value_percentiles(events).toPandas().set_index("event_type")
    )
    for et, row in approx.iterrows():
        # HLL++ with rsd=0.01 on small exact counts: allow generous 5%
        assert abs(row.approx_users - row.exact_users) <= max(2, 0.05 * row.exact_users)
        ex = exact.loc[et]
        spread = ex.max_value - ex.min_value
        for q in (25, 50, 75, 90):
            assert abs(row[f"approx_p{q}"] - ex[f"p{q}"]) <= 0.05 * spread + 1e-9


def test_approx_stats_checked_flags_trivially_true_for_tiny_groups(spark):
    """The rank-error envelope only binds for groups with >= 1/q_tol rows;
    a 2-row group's approx_percentile (a data element) can legitimately sit
    outside the interpolated exact bounds — the flag must be TRUE anyway so
    the oracle's literal TRUE always matches (round-2 advice)."""
    rows = [("rare", 1, 0.0), ("rare", 2, 1000.0)] + [
        ("common", 100 + i, float(i)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id int, value double")
    out = ts.approx_stats_checked(df).toPandas().set_index("event_type")
    for et in ("rare", "common"):
        for c in out.columns:
            if c.endswith("_in_bounds"):
                assert bool(out.loc[et, c]), (et, c)


def test_top_paths_null_event_type_matches_oracle():
    """NULL event_type mid-sequence: Spark's concat_ws would silently skip
    the step while the oracle's || nulls the path — the shared '<null>'
    sentinel keeps both engines identical (round-2 advice)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from billing_etl_v1_spark.operators.events import top_event_paths
    from billing_etl_v1_spark.oracle_ext import top_event_paths_sql
    from billing_etl_v1_spark.session import get_spark
    from tests.conftest import normalize

    spark = get_spark(
        "nullpath-test", extra_conf={"spark.sql.shuffle.partitions": "4"}
    )
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (1, "u1", t0, "view"),
        (2, "u1", t0 + dt.timedelta(minutes=1), None),
        (3, "u1", t0 + dt.timedelta(minutes=2), "purchase"),
        (4, "u2", t0, "view"),
        (5, "u2", t0 + dt.timedelta(minutes=1), None),
        (6, "u2", t0 + dt.timedelta(minutes=2), "purchase"),
        (7, "u3", t0, "view"),
        (8, "u3", t0 + dt.timedelta(minutes=1), "click"),
        (9, "u3", t0 + dt.timedelta(minutes=2), "purchase"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type"])
    sdf = spark.createDataFrame(
        pdf, "event_id long, user_id string, ts timestamp_ntz, event_type string"
    )
    got = normalize(top_event_paths(sdf).toPandas())
    con = duckdb.connect()
    con.register("events", pdf)
    want = normalize(con.execute(top_event_paths_sql()).df())
    assert got.equals(want), (got, want)
    assert any("<null>" in p for p in got.path)


def test_price_bands_partition_every_part(spark):
    part = load_table(spark, SF_SMALL, "part")
    out = examples.price_band_summary(part).toPandas()
    assert out.n_parts.sum() == part.count()
    assert out.band.is_unique


def test_gap_fill_clamps_out_of_month_corrupt_day(spark):
    """A usage_day that disagrees with its invoice_month (9999-12-31 is a
    VALID date, so every cast passes) must not stretch the spine: unclamped,
    [min, max] spans ~2.9M days and the accounts x spine cross join goes to
    billions of rows — one corrupt row, one dead job. The day grain is
    clamped to the month's calendar window, so the spine stays within the
    month and the corrupt day is excluded (dq audit territory, not a
    zero-filled series)."""
    import datetime as dt

    fact = _fact(spark)
    bad = fact.limit(1).withColumn("usage_day", F.lit(dt.date(9999, 12, 31)))
    out = ts.gap_fill_daily(fact.unionByName(bad), MONTH).cache()
    days = [r.usage_day for r in out.select("usage_day").distinct().collect()]
    assert max(days) <= dt.date(1995, 6, 30)
    assert min(days) >= dt.date(1995, 6, 1)
    # spine row count stays accounts x observed-window days (bounded <= 30)
    n_accounts = out.select("billing_account_id").distinct().count()
    assert out.count() == n_accounts * len(days)
    out.unpersist()
