"""The flagship end-to-end billing pipeline.

Composes the operators into the single lazy DAG that replaces the reference's
entire orchestration (SURVEY §3.1): per-day loop (main.py:53-57), per-account
loop (main.py:85-133), 10k-row batch loop
(billing_calculation_service.py:450-462) and the ClickHouse SQL template
(calculate/sql_template.py:3-209) all collapse into

    scan -> filter(month/day) -> groupBy.agg
         -> 1 broadcast rule-map join on (contract month, account)
         -> 8 rule lookups + coalesce -> one pricing projection -> conform

The contract month ('YYYY-MM') is not a column of the pipeline: the rule
join derives it from invoice_month (``operators.rules.match_rules``).

Catalyst plans it; AQE handles skew (replacing the hardcoded heavy-account
chunking, main.py:86-104). At 100 TB the only shuffle is the grain
aggregation; the dim join is broadcast and everything downstream is
map-side expression work. The operators build their expression trees once
per process (``functions.built_once``), so a run's plan build costs a few
hundred Python-to-JVM calls, not thousands.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from billing_etl_v1_spark.operators.aggregate import (
    DETAIL_KEYS,
    PIPELINE_KEYS,
    source_aggregate,
)
from billing_etl_v1_spark.operators.conform import conform_to_target
from billing_etl_v1_spark.operators.pricing import with_pricing_modes
from billing_etl_v1_spark.operators.rules import match_rules


def billing_pipeline(
    fact: DataFrame,
    dim: DataFrame,
    invoice_month: str | None = None,
    day_start=None,
    day_end=None,
    grain: str = "detail",
    extra_discounts: dict[str, float] | None = None,
    etl_time: _dt.datetime | None = None,
) -> DataFrame:
    """Full calculation: fact + dim -> calculated invoice lines with exactly
    the 37 ``TARGET_SCHEMA`` columns, names, types and order.

    ``grain='pipeline'`` is the production 8-key grain (the sink then fills
    the missing descriptive strings with '' and numerics with 0 exactly like
    the reference, billing_calculation_service.py:354-371); ``grain='detail'``
    is the 13-key invoice-detail grain of the SQL template.
    """
    # imported at call time, not at module load: a traced run swaps
    # operators.aggregate.filter_day_range, and a name bound here at import
    # would keep calling the original
    from billing_etl_v1_spark.operators.aggregate import (
        filter_day_range,
        filter_month,
    )

    fact = filter_month(fact, invoice_month)
    fact = filter_day_range(fact, day_start, day_end)

    if grain not in ("detail", "pipeline"):
        raise ValueError(
            f"grain must be 'detail' or 'pipeline', got {grain!r} — a typo "
            f"here would otherwise silently aggregate at the wrong grain"
        )
    keys = DETAIL_KEYS if grain == "detail" else PIPELINE_KEYS
    matched = match_rules(source_aggregate(fact, keys=keys), dim)
    return conform_to_target(with_pricing_modes(matched, extra_discounts), etl_time)
