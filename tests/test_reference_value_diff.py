"""Spark engine vs the REFERENCE engine's own computed VALUES (r12,
closing the r10 evidence item that slipped two rounds).

Everything else in this suite compares Spark against the DuckDB *oracle
twins* — SQL this repo wrote. This lane is the independent check: it drives
the reference's own ``CalculateService`` (imported from /root/reference at
runtime, nothing copied) over the same synthetic fact with
``baseline_ref.drive_reference`` — the verbatim production shape (per-day
8-key server aggregation, whole-month pre-deduped dim, 10k-row batches) —
and asserts the Spark pipeline-grain flagship equals it per column.

Documented, deliberate divergences (SURVEY §2.10) — the ONLY tolerated
differences, each asserted in its expected direction rather than skipped:

- §2.10.5 mode-4 ``discount_amount``: the pandas path COMPUTES the credit
  part but ``_calculate_mode4`` drops it on the floor, so the reference
  emits 0.0; the engine follows the SQL template (the documented intent)
  and emits the value. Asserted: reference exactly 0.0 on every mode-4
  row, engine free to differ THERE and nowhere else.
- §2.10.2/4 sink coercions: the reference frames here are PRE-sink
  (``calculate_with_credits`` output), so the sink's documented fills are
  applied to them before comparing — mode NULL→0
  (billing_calculation_service.py:407-411), numerics NaN→0.0, strings
  NaN→'' EXCEPT customer_id/contract_id which keep NULL (:359-361,
  382-394, 413-419). That mirror is exactly what conform_to_target
  implements.

The extra-discount overlay (§2.10.1) is a no-op on BOTH engines here —
the reference's hardcoded production account ids cannot match synthetic
ACCT-N accounts (asserted below), and the engine side passes no overlay —
so this lane proves the shared pricing core, while the overlay's
pandas-path semantics are pinned by their own unit tests.

Doubles are quantized to the repo-wide 1e-6 grid on both sides (sum order
differs between a distributed Spark aggregate and DuckDB's).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_PATH = "/root/reference"
SF_DIR = "/root/testdata/sf0.001"

sys.path.insert(0, REPO)

import baseline_ref  # noqa: E402


def _q6(s: pd.Series) -> pd.Series:
    # functions.quantize6's grid in numpy: floor(x*1e6 + 0.5) / 1e6
    return np.floor(s.astype(float) * 1e6 + 0.5) / 1e6


@pytest.fixture(scope="module")
def reference_out():
    if not os.path.isdir(REFERENCE_PATH):
        pytest.skip("reference repo not available")
    import duckdb

    sys.path.insert(0, REFERENCE_PATH)
    from calculate.service import CalculateService

    from billing_etl_v1_spark.sources import synthetic

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_DIR}/lineitem.parquet'"
    )
    con.execute(f"CREATE TABLE fact AS {synthetic.FACT_SQL}")
    con.execute(f"CREATE TABLE dim AS {synthetic.DIM_SQL}")
    # §2.10.1 precondition: the overlay is dead code on synthetic accounts
    accounts = {
        r[0]
        for r in con.execute(
            "SELECT DISTINCT billing_account_id FROM fact"
        ).fetchall()
    }
    hardcoded = set()
    import inspect

    src = inspect.getsource(CalculateService.extra_discount)
    assert not any(a in src for a in accounts), (
        "synthetic account unexpectedly present in the reference's "
        "hardcoded extra-discount map — overlay would fire asymmetrically"
    )
    _, rows_out, _, frames = baseline_ref.drive_reference(
        con, CalculateService, baseline_ref.DAY_AGG_SQL, collect=True
    )
    out = pd.concat(frames, ignore_index=True)
    assert len(out) == rows_out
    return out


@pytest.fixture(scope="module")
def engine_out(spark):
    from billing_etl_v1_spark.plans.pipeline import billing_pipeline
    from billing_etl_v1_spark.sources import synthetic

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    fact, dim = synthetic.fact_df(spark), synthetic.dim_df(spark)
    # no extra_discounts (see module docstring), no etl_time (wall clock)
    return (
        billing_pipeline(fact, dim, grain="pipeline", extra_discounts=None)
        .drop("etl_time")
        .toPandas()
    )


def _sink_normalize(ref: pd.DataFrame) -> pd.DataFrame:
    """Apply the reference SINK's documented coercions to the pre-sink
    calculate_with_credits output (billing_calculation_service.py:354-419)."""
    ref = ref.copy()
    ref["mode"] = ref["mode"].fillna(0).astype("int64")
    # the dim carries price/discount as strings (the reference's
    # Nullable(String) dim schema); the sink's numeric-column coercion
    # (fillna(0) + ClickHouse Float64 ingestion) makes them floats
    for c in ("discount", "price"):
        ref[c] = pd.to_numeric(ref[c]).fillna(0.0)
    for c in ref.columns:
        if c in ("customer_id", "contract_id"):
            ref[c] = ref[c].where(pd.notna(ref[c]), None)
        elif ref[c].dtype == object:
            ref[c] = ref[c].fillna("")
        elif pd.api.types.is_float_dtype(ref[c]):
            ref[c] = ref[c].fillna(0.0)
    return ref


def test_engine_matches_reference_values(reference_out, engine_out):
    ref = _sink_normalize(reference_out)
    eng = engine_out

    keys = [
        "invoice_month",
        "billing_account_id",
        "usage_day",
        "project_id",
        "service_id",
        "service_description",
        "sku_id",
        "cost_type",
    ]
    # usage_day: engine emits datetime.date, reference pandas datetime64
    ref["usage_day"] = pd.to_datetime(ref["usage_day"]).dt.date
    eng = eng.copy()
    eng["usage_day"] = pd.to_datetime(eng["usage_day"]).dt.date

    assert len(ref) == len(eng), f"row counts differ: ref {len(ref)} eng {len(eng)}"
    assert not ref.duplicated(subset=keys).any()
    assert not eng.duplicated(subset=keys).any()

    shared = [c for c in ref.columns if c in eng.columns and c not in keys]
    assert "discount_amount" in shared and "external_consumption" in shared
    merged = ref.merge(
        eng, on=keys, how="outer", suffixes=("_ref", "_eng"), indicator=True
    )
    assert (merged["_merge"] == "both").all(), (
        f"key sets differ: {merged[merged._merge != 'both'][keys].head()}"
    )

    # coverage preconditions: the lane must actually exercise every mode
    # and the mode-4 divergence clause
    modes = set(merged["mode_ref"].unique())
    assert modes == {0, 1, 2, 3, 4}, f"modes present: {modes}"
    is_mode4 = merged["mode_eng"] == 4

    mismatches = {}
    for c in shared:
        a, b = merged[f"{c}_ref"], merged[f"{c}_eng"]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            # the oracle lanes are bit-exact because BOTH engines quantize
            # inside the query; the reference computes unquantized, so
            # pandas-vs-Spark accumulation order legitimately differs by
            # ~1 ULP (measured: 8/5997 rows landing on 1e-6 grid ties).
            # Tolerance 1e-9 relative is ~1e5 times tighter than any
            # semantic divergence (discount factors are ~1e-1).
            a, b = a.astype(float), b.astype(float)
            close = np.isclose(a, b, rtol=1e-9, atol=1e-8)
            if c == "discount_amount":
                # §2.10.5: the reference discards the computed mode-4
                # credit part; assert that exact shape, compare the rest
                assert (a[is_mode4] == 0.0).all(), (
                    "reference emitted a nonzero mode-4 discount_amount — "
                    "the documented §2.10.5 divergence no longer holds"
                )
                eq = close | is_mode4
            else:
                eq = pd.Series(close, index=merged.index)
        else:
            a = a.where(pd.notna(a), None)
            b = b.where(pd.notna(b), None)
            eq = a.eq(b) | (a.isna() & b.isna())
        if not eq.all():
            bad = merged[~eq]
            mismatches[c] = (len(bad), bad[keys + [f"{c}_ref", f"{c}_eng"]].head(3))
    assert not mismatches, f"value mismatches vs reference: {mismatches}"

    # the divergence clause must be exercised, not vacuous: some mode-4
    # row where the engine's SQL-form discount_amount is nonzero
    eng_m4 = _q6(merged.loc[is_mode4, "discount_amount_eng"].astype(float))
    assert (eng_m4 != 0.0).any(), (
        "no mode-4 row with a nonzero engine discount_amount — the §2.10.5 "
        "exception clause was never exercised at this scale factor"
    )
