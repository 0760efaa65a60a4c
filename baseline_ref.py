"""Measure the reference engine's single-node throughput on OUR synthetic
fact at a given scale factor, producing the reference wall-clock that
BASELINE.md divides by the engine's time for its engine-vs-reference
ratio (BASELINE.md's "within 2x" bar was unmeasurable in round 1 because
the reference publishes no numbers).

Faithful to the reference's execution model (nothing is copied — the
reference's own ``CalculateService`` is imported from /root/reference at
runtime and driven exactly like production drives it):

- server-side aggregation: the reference pushes the detail-grain GROUP BY
  into ClickHouse (billing_calculation_service.py:164-187,201-222) and pandas
  only sees pre-aggregated rows. DuckDB stands in for the ClickHouse server
  here — a *generous* stand-in (DuckDB is a fast multi-core OLAP engine on
  the same machine, no network hop).
- day loop: months -> days, one aggregation query per (month, day)
  (main.py:38-59 month_task_day -> pipeline_day per day).
- 10k-row batches: each day's rows stream through
  ``CalculateService.calculate_with_credits`` in batches of 10,000
  (get_standard_daily_billing_iterator, billing_calculation_service.py:196-231;
  batch loop :446-468).
- the whole-month dim is loaded once per month (get_dim_contract,
  billing_calculation_service.py:291-327) and pre-deduped per key tuple
  (the reference assumes key uniqueness; SURVEY §2.3).

Timing covers the compute path only (aggregation queries + pandas batches);
materializing the synthetic fact itself is fixture work — in production the
table is at rest in ClickHouse, and the Spark engine likewise reads it at rest.

Usage: python baseline_ref.py [sf_dir]   (default /root/testdata/sf0.1)
Prints one JSON line: {"metric": "reference_pandas_baseline", ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REFERENCE_PATH = "/root/reference"


# the reference's server-side aggregation, verbatim shape
# (billing_calculation_service.py:201-222): detail grain, 13 sums
DAY_AGG_SQL = """
        SELECT invoice_month, billing_account_id, usage_day, project_id,
               service_id, service_description, sku_id, cost_type,
               sum(usage_amount_in_pricing_units) AS usage_amount_in_pricing_units,
               sum(cost) AS cost,
               sum(cost_at_list) AS cost_at_list,
               sum(c_cud) AS c_cud,
               sum(c_cud_db) AS c_cud_db,
               sum(c_discount) AS c_discount,
               sum(c_free_tier) AS c_free_tier,
               sum(c_promotion) AS c_promotion,
               sum(c_rm) AS c_rm,
               sum(c_sub_benefit) AS c_sub_benefit,
               sum(c_sud) AS c_sud,
               sum(internal_credits_cost) AS internal_credits_cost,
               sum(internal_credits_consumption) AS internal_credits_consumption
        FROM fact
        WHERE invoice_month = ? AND usage_day = ?
        GROUP BY invoice_month, billing_account_id, usage_day, project_id,
                 service_id, service_description, sku_id, cost_type
    """


def drive_reference(con, CalculateService, day_agg_sql, collect: bool = False):
    """The reference's execution loop, verbatim shape (months -> whole-month
    dim once, pre-deduped per key tuple -> days -> 10k-row batches through
    ``CalculateService.calculate_with_credits``).

    Shared by the timing lane (:func:`main`) and the r12 value-diff lane
    (tests/test_reference_value_diff.py, the r10 evidence item): with
    ``collect=True`` every batch's output frame is kept and returned so the
    Spark engine's values can be asserted equal per column; the timing lane
    keeps ``collect=False`` so the measured loop carries no extra concat
    work it didn't carry before.

    Returns ``(elapsed_sec, rows_out, n_batches, frames)``.
    """
    months = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT invoice_month FROM fact ORDER BY 1"
        ).fetchall()
    ]
    t0 = time.time()
    rows_out = 0
    batches = 0
    frames = []
    for month in months:
        dim_month = f"{month[:4]}-{month[4:]}"
        # get_dim_contract: whole-month dim once per month; pre-dedup per key
        # tuple (the reference assumes uniqueness — a dup would row-multiply
        # its merge, SURVEY §2.3)
        dim_df = (
            con.execute("SELECT * FROM dim WHERE month = ?", [dim_month])
            .df()
            .drop_duplicates(
                subset=[
                    "billing_account_id",
                    "project_id",
                    "service_description",
                    "sku_id",
                ]
            )
            .reset_index(drop=True)
        )
        days = [
            r[0]
            for r in con.execute(
                "SELECT DISTINCT usage_day FROM fact WHERE invoice_month = ? ORDER BY 1",
                [month],
            ).fetchall()
        ]
        for day in days:
            agg = con.execute(day_agg_sql, [month, day]).df()
            for start in range(0, len(agg), 10_000):
                batch = agg.iloc[start : start + 10_000].reset_index(drop=True)
                out = CalculateService.calculate_with_credits(batch, dim_df)
                rows_out += len(out)
                batches += 1
                if collect:
                    frames.append(out)
    return time.time() - t0, rows_out, batches, frames


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sys.path.insert(0, REFERENCE_PATH)
    from calculate.service import CalculateService  # the reference engine itself

    from billing_etl_v1_spark.sources import synthetic

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    # fixture: the fact/dim tables "at rest" (ClickHouse's role as storage)
    con.execute(f"CREATE TABLE fact AS {synthetic.FACT_SQL}")
    con.execute(f"CREATE TABLE dim AS {synthetic.DIM_SQL}")

    n_months = con.execute(
        "SELECT count(DISTINCT invoice_month) FROM fact"
    ).fetchone()[0]
    elapsed, rows_out, batches, _frames = drive_reference(
        con, CalculateService, DAY_AGG_SQL
    )

    print(
        json.dumps(
            {
                "metric": "reference_pandas_baseline",
                "value": round(elapsed, 3),
                "unit": "sec",
                "sf_dir": sf_dir,
                "months": n_months,
                "batches": batches,
                "rows_out": rows_out,
                "note": (
                    "reference CalculateService.calculate_with_credits driven "
                    "per-day in 10k batches; DuckDB stands in for the "
                    "ClickHouse server-side GROUP BY"
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
