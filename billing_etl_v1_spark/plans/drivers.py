"""Thin batch drivers — the only imperative residue of the reference's
orchestration (SURVEY §2.9).

``run_daily`` reproduces the daily cron's window arithmetic exactly
(a fixed ``LOOKBACK_DAYS`` = 4 lookback clamped to month start,
invoice_month = process date's 'YYYYMM' — reference main.py:165-171);
``run_month`` is the monthly backfill (excute_month_task.py:167-200).
Everything else the reference's drivers did — per-day loops, per-account
loops, tmp-table swaps, manual deletes — is subsumed by the single DAG +
dynamic partition overwrite (stale-day caveat:
``sources.writers.write_calculated``).
No scheduler lives in the engine; any cron can call these.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame

from billing_etl_v1_spark.plans.pipeline import billing_pipeline
from billing_etl_v1_spark.sources.writers import write_calculated


# the daily cron recomputes the last 4 days (reference main.py:165-171)
LOOKBACK_DAYS = 4


def daily_window(process_date: dt.date) -> tuple[str, dt.date, dt.date]:
    """(invoice_month, day_start, day_end]: the ``LOOKBACK_DAYS`` lookback
    clamped to month start (reference main.py:165-171)."""
    month_start = process_date.replace(day=1)
    day_start = max(process_date - dt.timedelta(days=LOOKBACK_DAYS), month_start)
    day_end = process_date + dt.timedelta(days=1)  # half-open upper bound
    return process_date.strftime("%Y%m"), day_start, day_end


def run_daily(
    fact: DataFrame,
    dim: DataFrame,
    target_path: str,
    process_date: dt.date,
    **pipeline_kwargs,
) -> tuple[str, dt.date, dt.date]:
    """Daily incremental run: compute the lookback window (``daily_window``)
    and overwrite the day partitions the output contains
    (``write_calculated``)."""
    invoice_month, day_start, day_end = daily_window(process_date)
    out = billing_pipeline(
        fact,
        dim,
        invoice_month=invoice_month,
        day_start=day_start,
        day_end=day_end,
        **pipeline_kwargs,
    )
    write_calculated(out, target_path)
    return invoice_month, day_start, day_end


def run_month(
    fact: DataFrame,
    dim: DataFrame,
    target_path: str,
    invoice_month: str,
    **pipeline_kwargs,
) -> str:
    """Monthly backfill: one DAG over the whole month, partition overwrite
    (stands in for the reference's delete tmp -> compute -> delete target ->
    merge sequence, excute_month_task.py:167-200). Like ``run_daily`` it
    replaces the day partitions the output contains."""
    out = billing_pipeline(fact, dim, invoice_month=invoice_month, **pipeline_kwargs)
    write_calculated(out, target_path)
    return invoice_month
