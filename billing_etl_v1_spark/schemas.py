"""Explicit StructTypes for the three billing tables.

Column/type inventory derives from the reference's observed usage
(SURVEY.md §1.2; reference billing_calculation_service.py:164-187,238-284,
335-352 and calculate/service.py:10-43):

- fact ``ods_standard_daily_billing``: usage lines, one row per
  (day, account, project, service, SKU, cost_type) grain pre-aggregation;
  holds BOTH the nested credits arrays and the exploded ``c_*`` buckets.
- dim ``dim_contract``: per-month pricing rules; NULL in
  project_id / service_description / sku_id means "wildcard — match any"
  (reference calculate/service.py:117-124). NULL must never be collapsed
  to '' (SURVEY §2.10.4).
- target ``dwm_standard_daily_billing_calculated``: the 37-column invoice
  output (reference billing_calculation_service.py:335-352). ``TARGET_SCHEMA``
  is its one declaration — order, types and the sink's NULL policy (as
  nullability); ``TARGET_COLUMNS`` and ``TARGET_NUMERIC_COLUMNS`` derive
  from it.

``discount``/``price`` in the dim are stored loosely as strings and re-cast
to double at every use in the reference (calculate/service.py:51,61,70,87-88);
we keep StringType to preserve that contract.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CREDIT_BUCKET_COLUMNS = [
    "c_cud",
    "c_cud_db",
    "c_discount",
    "c_free_tier",
    "c_promotion",
    "c_rm",
    "c_sub_benefit",
    "c_sud",
]

# credits_type element -> exploded bucket column
# (reference calculate/service.py:12-21)
CREDIT_TYPE_TO_COLUMN = {
    "COMMITTED_USAGE_DISCOUNT": "c_cud",
    "COMMITTED_USAGE_DISCOUNT_DOLLAR_BASE": "c_cud_db",
    "DISCOUNT": "c_discount",
    "FREE_TIER": "c_free_tier",
    "PROMOTION": "c_promotion",
    "RESELLER_MARGIN": "c_rm",
    "SUBSCRIPTION_BENEFIT": "c_sub_benefit",
    "SUSTAINED_USAGE_DISCOUNT": "c_sud",
}


def _s(name: str, nullable: bool = False) -> StructField:
    return StructField(name, StringType(), nullable)


def _d(name: str, nullable: bool = False) -> StructField:
    return StructField(name, DoubleType(), nullable)


FACT_SCHEMA = StructType(
    [
        _s("invoice_month"),
        StructField("usage_day", DateType(), False),
        _s("billing_account_id"),
        _s("project_id"),
        _s("project_name"),
        _s("service_id"),
        _s("service_description"),
        _s("sku_id"),
        _s("sku_description"),
        _s("usage_pricing_unit"),
        _d("usage_amount_in_pricing_units"),
        _s("currency"),
        _d("currency_conversion_rate"),
        _s("cost_type"),
        _d("cost"),
        _d("cost_at_list"),
        *[_d(c) for c in CREDIT_BUCKET_COLUMNS],
        _d("internal_credits_cost"),
        _d("internal_credits_consumption"),
        StructField("credits_type", ArrayType(StringType()), True),
        StructField("credits_amount", ArrayType(DoubleType()), True),
    ]
)

DIM_CONTRACT_SCHEMA = StructType(
    [
        _s("month"),  # 'YYYY-MM' (reference main.py:34-36)
        _s("billing_account_id"),
        _s("project_id", nullable=True),  # NULL = wildcard
        _s("service_description", nullable=True),
        _s("sku_id", nullable=True),
        StructField("mode", IntegerType(), False),  # 1-4; 0 = unmatched
        _s("discount", nullable=True),  # loosely-typed, cast at use
        _s("price", nullable=True),
        _s("credit_fields", nullable=True),  # '/'-separated c_* names
        _s("customer_id", nullable=True),
        _s("contract_id", nullable=True),
    ]
)

# The target table's only declaration: 37 columns in this exact order
# (reference billing_calculation_service.py:335-352). Nullability is the
# sink's NULL policy, which conform_to_target derives per field:
# non-nullable strings flatten NaN/NULL to '' (:383-385), doubles to 0.0
# (:390-394), mode to 0 (:407-411); customer_id/contract_id are
# Nullable(String) passthroughs that keep NULL (:359-361, :413-419).
# usage_day has no default (a month-grain frame leaves it NULL) and etl_time
# is the per-run timestamp.
TARGET_SCHEMA = StructType(
    [
        StructField("usage_day", DateType(), False),
        _s("invoice_month"),
        _s("billing_account_id"),
        _s("customer_id", nullable=True),
        _s("contract_id", nullable=True),
        _s("service_id"),
        _s("service_description"),
        _s("sku_id"),
        _s("sku_description"),
        _s("project_id"),
        _s("project_name"),
        _s("usage_pricing_unit"),
        _d("usage_amount_in_pricing_units"),
        _s("currency"),
        _d("currency_conversion_rate"),
        _s("cost_type"),
        _d("cost"),
        _d("cost_at_list"),
        *[_d(c) for c in CREDIT_BUCKET_COLUMNS],
        _d("internal_credits_cost"),
        _d("internal_credits_consumption"),
        _d("internal_cost"),
        _d("internal_consumption"),
        _d("external_consumption"),
        _d("discount_amount"),
        StructField("mode", IntegerType(), False),
        _d("price"),
        _d("discount"),
        _s("credit_fields"),
        StructField("etl_time", TimestampType(), False),
    ]
)

TARGET_COLUMNS = TARGET_SCHEMA.fieldNames()
TARGET_NUMERIC_COLUMNS = [f.name for f in TARGET_SCHEMA if isinstance(f.dataType, DoubleType)]
