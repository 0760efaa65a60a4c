"""S5: schema conformance toward the 37-column target table.

Mirrors ``_insert_calculated_data`` (reference
billing_calculation_service.py:330-425) as one declarative ``select``
derived from ``schemas.TARGET_SCHEMA``, field by field:

- add missing columns with type-appropriate defaults ('' for strings, 0.0
  for numerics, NULL preserved for the nullable customer_id/contract_id)
  (:354-371)
- NaN->'' for non-nullable strings (:382-388), NaN->0 for numerics (:390-394)
- mode -> int with default 0 (:407-411)
- usage_day -> date (:421-425)
- etl_time = current timestamp (:358,375) — injectable for deterministic tests
- fixed column order (:335-352)

The result always has exactly the 37 target columns; a comparison against
an oracle that has no run timestamp drops etl_time itself.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType

from billing_etl_v1_spark.functions import built_once
from billing_etl_v1_spark.schemas import TARGET_SCHEMA


def conform_to_target(df: DataFrame, etl_time: _dt.datetime | None = None) -> DataFrame:
    """Project onto the exact 37-column ``TARGET_SCHEMA`` with reference
    defaults. ``etl_time`` is the run's timestamp (default
    ``current_timestamp()``).

    Each column is cast to its field's type; on a non-nullable field NULLs
    take the type's default ('' string, 0.0 double, 0 int). Type GARBAGE
    (a string 'abc' in a numeric column, '2024-99-99' in usage_day) meets
    a plain cast, so under ANSI mode one malformed value fails the job
    loudly here."""
    cols = _target_columns(tuple(df.columns))
    etl = F.lit(etl_time).cast("timestamp") if etl_time else F.current_timestamp()
    return df.select(*[etl.alias("etl_time") if c is None else c for c in cols])


# the sink's default per type for a non-nullable field; DateType has none
_DEFAULTS = {StringType(): "", DoubleType(): 0.0, IntegerType(): 0}


@built_once
def _target_columns(present: tuple[str, ...]) -> list[Column | None]:
    """The target projection of a frame with columns ``present``: each
    ``TARGET_SCHEMA`` field cast to its type (an absent one from a typed
    NULL), and a non-nullable one with a type default coalesced to it.
    None stands for etl_time, which is a per-run value."""
    out: list[Column | None] = []
    for f in TARGET_SCHEMA:
        if f.name == "etl_time":
            out.append(None)
            continue
        col = (F.col(f.name) if f.name in present else F.lit(None)).cast(f.dataType)
        if not f.nullable and f.dataType in _DEFAULTS:
            col = F.coalesce(col, F.lit(_DEFAULTS[f.dataType]))
        out.append(col.alias(f.name))
    return out


def dq_audit(calculated: DataFrame) -> DataFrame:
    """Data-quality audit over calculated invoice lines: one row per check
    with its violation count — the post-pipeline gate a billing close runs
    before publishing (the reference's only quality control is sink-side
    schema conformance, billing_calculation_service.py:330-425; it never
    validates VALUES).

    Checks: NULL required keys, negative money, mode outside 0..4,
    mode-4 rows with price=0 AND nonzero discount_amount (the zero-price
    guard must zero the credit part, calculate/service.py:93), and
    duplicate physical grain. Duplicates are counted over the 13
    ``DETAIL_KEYS`` at either grain: on a production-grain frame conform
    fills the five detail-only keys with constants, so grouping on all 13
    is grouping on the 8 production keys. ONE computation of the input:
    the grain groupBy carries the conditional check sums alongside the
    per-grain row count, a global rollup folds both, and ``stack()`` melts the
    single total row to (check, violations) rows. The r10 form melted
    via 4 chained ``unionAll`` of the same 1-row aggregate plus a
    separate duplicate subquery — Catalyst shares no subtrees across
    union branches, so the full upstream pipeline was computed 5×
    (billing_dq_audit planned 45 parquet scans, 5× the flagship DAG);
    this form plans the flagship's own scan count and 2 shuffles, both
    pinned by tests/test_scale_posture.py.
    """
    from billing_etl_v1_spark.operators.aggregate import DETAIL_KEYS

    conds = {
        "null_required_keys": (
            F.col("invoice_month").isNull()
            | F.col("billing_account_id").isNull()
            | F.col("usage_day").isNull()
        ),
        "negative_cost": F.col("cost") < 0,
        "mode_out_of_range": (F.col("mode") < 0) | (F.col("mode") > 4),
        # the zero-price guard's failure mode is division fallout in
        # discount_amount (credit_part / price). The naive post-conform
        # form "price = 0 AND discount_amount != 0" flags CORRECT rows:
        # a NULL dim price legitimately prices at the mode-4 default 1.0
        # (nonzero discount_amount) and conform then collapses the NULL
        # price to 0.0 — indistinguishable from an explicit zero here.
        # So the check targets what a real leak produces: non-finite
        # discount_amount on a mode-4 row (review finding).
        "mode4_zero_price_leak": (F.col("mode") == 4)
        & (F.isnan("discount_amount") | (F.abs("discount_amount") == float("inf"))),
    }
    per_grain = calculated.groupBy(*DETAIL_KEYS).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(cond.cast("long")).alias(name) for name, cond in conds.items()],
    )
    # every sum coalesced: F.sum over an EMPTY frame is NULL, and a gate
    # asserting violations == 0 on a zero-row month would mis-evaluate
    totals = per_grain.agg(
        *[
            F.coalesce(F.sum(name), F.lit(0)).cast("long").alias(name)
            for name in conds
        ],
        F.coalesce(F.sum(F.when(F.col("__n") > 1, F.col("__n") - 1)), F.lit(0))
        .cast("long")
        .alias("duplicate_grain_rows"),
    )
    # melt the 1-row total with stack() (the profile_columns idiom): ONE
    # consumer of the aggregate, not five union branches. Typed F.stack
    # with F.lit labels (ADVICE r11) — no SQL-string interpolation surface
    # even if a future caller ever derived check names from input
    checks = [*conds, "duplicate_grain_rows"]
    args = [c for name in checks for c in (F.lit(name), F.col(name))]
    return totals.select(
        F.stack(F.lit(len(checks)), *args).alias("check", "violations")
    )


PROFILE_COLUMNS = [
    "invoice_month",
    "billing_account_id",
    "project_id",
    "service_id",
    "service_description",
    "sku_id",
    "cost_type",
    "currency",
]


def profile_columns(
    fact: DataFrame, columns: list[str] | None = None, day_col: str = "usage_day"
) -> DataFrame:
    """Column profiling (the ANALYZE-style statistics sweep a warehouse
    runs before/after a load): per column, row/null/exact-distinct counts
    and lexicographic min/max. The inventory feeds partition design
    (distinct counts size shuffle keys), dim conformance checks, and
    drift monitoring between loads.

    One pass: columns melt to (column, value) rows via ``stack`` — a
    map-side expand, no per-column rescans — and the count-distinct
    aggregate runs as Spark's standard two-level rewrite: the first level
    keys on (column, value), so cardinality work spreads over the full
    value space and the tiny final per-column rollup never sees a skewed
    single-key partition. Dates profile through their ISO string form
    (identical text in both engines); doubles are deliberately excluded —
    float-to-string formatting is engine-specific, and numeric ranges
    belong to the quantized numeric queries.
    """
    cols = list(columns or PROFILE_COLUMNS)
    # the day column profiles through its ISO-string form; listing it in
    # ``columns`` too would melt both the date-typed and string forms
    # under ONE label and merge their stats (doubled n_rows) — profile it
    # exactly once, via the string form (review finding)
    if day_col is not None:
        cols = [c for c in cols if c != day_col]
        fact = fact.withColumn("__day_str", F.col(day_col).cast("string"))
        cols = [*cols, "__day_str"]
    # The melt is built from typed expressions (F.stack + F.lit labels, no
    # SQL-string interpolation — ADVICE r11), but names still pass through
    # F.col, which parses dots/backticks as nesting; keep the validation so
    # an exotic name fails loudly here, not as a mis-resolved column. When
    # day_col is None, no label substitution happens (a real column
    # literally named __day_str then profiles under its own name)
    for c in cols + ([day_col] if day_col is not None else []):
        if not c.replace("_", "").isalnum():
            raise ValueError(
                f"profile_columns: unsafe column name {c!r} (names must be "
                f"alphanumeric/underscore)"
            )
    labels = {"__day_str": day_col} if day_col is not None else {}
    args = [c for name in cols for c in (F.lit(labels.get(name, name)), F.col(name))]
    melted = fact.select(
        F.stack(F.lit(len(cols)), *args).alias("column_name", "value")
    )
    return melted.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).cast("bigint").alias("n_nulls"),
        F.countDistinct("value").cast("bigint").alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
