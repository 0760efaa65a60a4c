"""Pricing-mode calculations C1-C7 and the extra-discount overlay C6/J3.

Pure ``when/otherwise`` expression trees — no UDFs. The reference implements
these twice (pandas calculate/service.py:45-100,188-209 and SQL
sql_template.py:105-200); where the two diverge we follow the pandas path,
which is the code that runs in production (SURVEY §2.10):

- The extra-discount factor multiplies ``internal_cost`` only
  (calculate/service.py:209); mode-1 external consumption uses the
  *unscaled* internal_consumption (unlike sql_template.py:130,175).
- Mode-4 NULL price/discount default to 1.0 (calculate/service.py:87-88).
- Mode-4 ``discount_amount`` is the selected credit sum divided by price
  with a zero-price guard (calculate/service.py:93-97; sql_template.py:198).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from billing_etl_v1_spark.functions import built_once
from billing_etl_v1_spark.schemas import CREDIT_BUCKET_COLUMNS

# The account -> factor overlay is pure configuration, not a code path. The
# reference hardcodes its ~24 production billing-account IDs at four factor
# tiers (0.975 / 0.965 / 0.95 / 0.88 plus one 28.5/27.2 outlier) directly in
# source (calculate/service.py:189-199; same literals in
# sql_template.py:105-112). A reusable engine must not ship somebody's
# customer list as its default, so here the default overlay is EMPTY (the
# identity factor 1.0 for every account) and deployments pass their own
# mapping as with_pricing_modes(extra_discounts=...), which
# billing_pipeline(extra_discounts=...) forwards; the synthetic-fixture tests
# use oracle.TEST_EXTRA_DISCOUNTS, which exercises all four tiers plus the
# ratio outlier.
DEFAULT_EXTRA_DISCOUNTS: dict[str, float] = {}


def _mode4_credit_part() -> Column:
    """Σ of the c_* buckets named in '/'-separated ``credit_fields``
    (reference calculate/service.py:90-94; sql_template.py:132-142)."""
    fields = F.split(F.coalesce(F.col("credit_fields"), F.lit("")), "/")
    part = F.lit(0.0)
    for c in CREDIT_BUCKET_COLUMNS:
        part = part + F.when(F.array_contains(fields, c), F.col(c)).otherwise(F.lit(0.0))
    return part


def with_pricing_modes(
    df: DataFrame, extra_discounts: dict[str, float] | None = None
) -> DataFrame:
    """C1, C6 and C2-C5 + C7 defaults on a rule-matched frame, as one
    projection like the reference's single SELECT (sql_template.py:101-200).

    Expects the 6 rule columns from ``match_rules`` (discount/price as loose
    strings). Adds ``internal_cost`` (C1 scaled by the C6 factor of
    ``extra_discounts``, pandas-path semantics: reference
    calculate/service.py:206-209), ``internal_consumption``,
    ``external_consumption`` and ``discount_amount``.
    """
    mapping = DEFAULT_EXTRA_DISCOUNTS if extra_discounts is None else extra_discounts
    return df.withColumns(_pricing_modes(tuple(mapping.items())))


@built_once
def _pricing_modes(extra_discounts: tuple[tuple[str, float], ...]) -> dict[str, Column]:
    # C1 (reference calculate/service.py:177-178; sql_template.py:101-102)
    internal_consumption = F.col("cost") + F.col("internal_credits_consumption")

    # J3: map-side literal lookup — a when-chain stays inside whole-stage
    # codegen (no shuffle, no broadcast needed for a few dozen literals;
    # the reference's overlay is ~24 accounts). Accounts are grouped by
    # factor to keep the chain short, like the reference's dict-of-lists
    # (calculate/service.py:189-199).
    factor = F.lit(1.0)
    by_factor: dict[float, list[str]] = {}
    for acct, f in extra_discounts:
        by_factor.setdefault(f, []).append(acct)
    for f, accounts in by_factor.items():
        factor = F.when(F.col("billing_account_id").isin(accounts), F.lit(float(f))).otherwise(
            factor
        )

    mode = F.col("mode")
    discount_d = F.col("discount").cast("double")
    price_d = F.col("price").cast("double")
    # mode-4 NULL defaults (reference calculate/service.py:87-88)
    disc4 = F.coalesce(discount_d, F.lit(1.0))
    price4 = F.coalesce(price_d, F.lit(1.0))

    credit_part = _mode4_credit_part()
    # zero-price guard (reference calculate/service.py:93; sql_template.py:188)
    credit_over_price = F.when(price4 != 0, credit_part / price4).otherwise(F.lit(0.0))

    external = (
        F.when(mode == 1, internal_consumption * discount_d)
        .when(mode == 2, F.col("usage_amount_in_pricing_units") * price_d)
        .when(mode == 3, F.col("usage_amount_in_pricing_units") * price_d * discount_d)
        .when(mode == 4, F.col("cost_at_list") * disc4 + credit_over_price * disc4)
        .otherwise(F.lit(0.0))
    )
    discount_amount = (
        F.when(mode == 1, F.col("internal_credits_consumption"))
        .when(mode == 4, credit_over_price)
        .otherwise(F.lit(0.0))
    )
    return {
        "internal_cost": (F.col("cost") + F.col("internal_credits_cost")) * factor,
        "internal_consumption": internal_consumption,
        "external_consumption": external,
        "discount_amount": discount_amount,
    }
