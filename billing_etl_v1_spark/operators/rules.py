"""Contract-rule matching: the NULL-wildcard priority lookup (J1).

Reference semantics (both implementations agree — SURVEY §2.3):

- ``dim_contract`` rows fall into 8 rules by the NULL pattern of
  (project_id, service_description, sku_id); NULL means wildcard
  (reference calculate/service.py:117-124; sql_template.py:47-61).
- The fact matches each rule on progressively longer key sets and the
  winner is chosen **per column** with priority 8>4>6>2>7>3>5>1:
  the SQL path is a per-column COALESCE (sql_template.py:93-98), and the
  pandas path's ``df.update`` skips NaN cells, which is the same per-column
  fallback (calculate/service.py:126-138 applies rules in reverse priority,
  last-writer-wins per non-null cell).
- Duplicate-dim hazard (SURVEY §2.3): the reference silently assumes dim keys
  are unique per (month, key-tuple); we make that explicit with a
  deterministic dedup (row_number over the key window, ordered by the rule
  payload columns, nulls last).

Shape: the deduped dim is grouped per (month, account) into a map from
``struct(rule, project_id, service_description, sku_id)`` to the payload;
the fact makes ONE broadcast join and looks its key up under each rule.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from billing_etl_v1_spark.functions import built_once
from billing_etl_v1_spark.operators import _memo

WILDCARD_COLUMNS = ("project_id", "service_description", "sku_id")

# rule number -> non-wildcard dim columns (join keys beyond account): bit i
# of rule - 1 marks WILDCARD_COLUMNS[i] as set, the numbering rule_number()
# computes (1 + p + 2s + 4k)
RULE_PATTERNS: dict[int, tuple[str, ...]] = {
    r: tuple(c for i, c in enumerate(WILDCARD_COLUMNS) if (r - 1) >> i & 1)
    for r in range(1, 9)
}

# specificity priority (reference sql_template.py:93 comment;
# calculate/service.py:126 application order reversed)
PRIORITY = (8, 4, 6, 2, 7, 3, 5, 1)

# rule payload carried onto the fact (reference calculate/service.py:115)
RULE_COLUMNS = ("mode", "discount", "price", "credit_fields", "customer_id", "contract_id")


def dedupe_dim(dim: DataFrame) -> DataFrame:
    """Deterministically keep one rule per (month, account, key-tuple).

    The reference assumes uniqueness (pd.merge would otherwise row-multiply,
    calculate/service.py:136); we enforce it: smallest payload wins, ordered
    by the rule columns with NULLs last.
    """
    w = Window.partitionBy("month", "billing_account_id", *WILDCARD_COLUMNS).orderBy(
        *[F.col(c).asc_nulls_last() for c in RULE_COLUMNS]
    )
    return (
        dim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rule_number() -> Column:
    """A dim row's rule, 1 + p + 2s + 4k from the NULL pattern of
    (project_id, service_description, sku_id): the RULE_PATTERNS numbering."""
    p, s, k = (F.col(c).isNotNull().cast("int") for c in WILDCARD_COLUMNS)
    return 1 + p + 2 * s + 4 * k


def _rule_map(dim: DataFrame) -> DataFrame:
    """One row per (month, account) with its deduped rules (``dedupe_dim``:
    map keys must be unique) as a key -> payload map keyed on the rule
    number and the wildcard columns."""
    key = F.struct(rule_number().alias("rule"), *WILDCARD_COLUMNS)
    entry = F.struct(key, F.struct(*RULE_COLUMNS))
    return dedupe_dim(dim).groupBy(
        F.col("month").alias("__m"), F.col("billing_account_id").alias("__a")
    ).agg(F.map_from_entries(F.collect_list(entry)).alias("__rules"))


# session-scoped memo of cached rule maps keyed on the INPUT dim: repeated
# runs over the same dim share ONE cached relation, not one orphan each, and a
# hit skips building the dedupe and grouping plans — see _memo
_DIM_CACHE: _memo.Registry = {}


def release_dim_cache(spark=None) -> int:
    """Unpersist every rule map ``match_rules`` cached (for ``spark`` only,
    or all sessions); returns how many were released. Call between pipeline
    generations when the dim changes."""
    return _memo.release(_DIM_CACHE, spark)


@built_once
def _lookups() -> tuple[Column, dict[str, Column], dict[str, Column]]:
    """The join condition; the fact's key under each rule, looked up in its
    account's map (a NULL fact key in a column the rule needs gives a NULL
    lookup key); and the per-column priority coalesce (sql_template.py:93-98).
    The join turns invoice_month 'YYYYMM' into the dim's contract month
    'YYYY-MM' (reference main.py:34-36, billing_calculation_service.py:129)."""
    month = F.concat(
        F.substring("invoice_month", 1, 4), F.lit("-"), F.substring("invoice_month", 5, 2)
    )
    on = (month == F.col("__m")) & (F.col("billing_account_id") == F.col("__a"))
    null, out = F.lit(None).cast("string"), {}
    for rule in PRIORITY:
        pattern = RULE_PATTERNS[rule]
        fields = [(F.col(c) if c in pattern else null).alias(c) for c in WILDCARD_COLUMNS]
        known = reduce(Column.__and__, [F.col(c).isNotNull() for c in pattern], F.lit(True))
        key = F.when(known, F.struct(F.lit(rule).alias("rule"), *fields))
        out[f"__r{rule}"] = F.element_at("__rules", key)
    return on, out, {c: F.coalesce(*[F.col(f"__r{r}")[c] for r in PRIORITY]) for c in RULE_COLUMNS}


def match_rules(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """J1: attach the winning rule's payload columns to the fact.

    ``fact`` must carry ``invoice_month`` ('YYYYMM'); the join matches it
    to the dim's ``month`` ('YYYY-MM') as the contract month (reference
    main.py:34-36, billing_calculation_service.py:129). Adds the 6
    RULE_COLUMNS; ``discount`` and ``price`` stay loosely-typed strings
    exactly like the dim (cast at use — reference
    calculate/service.py:51,61,70,87-88). The dim is deduped first
    (``dedupe_dim``).

    The rule map is materialized once per (session, input dim plan), as
    the reference loads the dim into driver memory once per run
    (billing_calculation_service.py:291-327); ``release_dim_cache`` drops
    it. The 8 lookups get their own projection: inlined into the 6
    coalesces they would not be shared.
    """
    rules = _memo.memo_persist(dim, _DIM_CACHE, derive=_rule_map)
    on, lookups, coalesced = _lookups()
    return (
        fact.join(F.broadcast(rules), on=on, how="left")
        .withColumns(lookups)
        .withColumns(coalesced)
        .drop("__m", "__a", "__rules", *lookups)
    )


def scd2_history(dim: DataFrame, include_current: bool = True) -> DataFrame:
    """Collapse the monthly contract-dim snapshots into SCD Type-2 history:
    one row per (rule key, version) with a [valid_from, valid_to] month
    range, where a new version starts whenever the pricing attributes
    (mode, discount, price, credit_fields) change OR the month sequence
    has a gap (a contract absent for a month and back later is a NEW
    version — e.g. the reference's March-only account,
    sources/synthetic.py ACCT-18 / reference dim_contract month filtering,
    billing_calculation_service.py:296-315).

    The rule key includes customer_id/contract_id so the deliberately
    duplicated dim rows (the SURVEY §2.3 dedup hazard) version
    independently instead of colliding at the same month.

    Shape: one key-partitioned window (lag month-index + lag attribute
    fingerprint), a running change-count giving the version number, then
    one aggregate per (key, version) — two key-clustered exchanges total,
    no self-join. This is the standard warehouse pattern for turning
    snapshot feeds into effective-dated dimensions at any scale; the month
    spine never leaves the key partition.
    """
    key_cols = [
        "billing_account_id",
        "project_id",
        "service_description",
        "sku_id",
        "customer_id",
        "contract_id",
    ]
    attr_cols = ["mode", "discount", "price", "credit_fields"]
    midx = (
        F.substring("month", 1, 4).cast("int") * 12
        + F.substring("month", 6, 2).cast("int")
    )
    # attribute fingerprint as a STRUCT, not a joined string: concat_ws
    # collides across field boundaries (('a|b','c') vs ('a','b|c')) and a
    # literal sentinel collides with sentinel-valued data — either merged
    # REAL version changes (review finding). Per field, (is_null, value)
    # makes NULL vs '' distinct with no sentinel; struct comparison is
    # field-wise and structs order deterministically in the window.
    attrs = F.struct(
        *[
            F.struct(
                F.col(c).cast("string").isNull().alias("n"),
                F.coalesce(F.col(c).cast("string"), F.lit("")).alias("v"),
            ).alias(c)
            for c in attr_cols
        ]
    )
    # __attrs tiebreak: duplicate (key, month) rows never occur in the
    # synthetic dim, but a library operator must not let window-order ties
    # pick versions nondeterministically if a caller feeds them
    w = Window.partitionBy(*key_cols).orderBy("__midx", "__attrs")
    staged = dim.select(
        *key_cols, *attr_cols, "month", midx.alias("__midx"), attrs.alias("__attrs")
    ).withColumn(
        "__chg",
        F.when(
            (F.lag("__midx").over(w) == F.col("__midx") - 1)
            & (F.lag("__attrs").over(w) == F.col("__attrs")),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    wv = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = staged.withColumn("version", F.sum("__chg").over(wv).cast("int"))
    hist = versioned.groupBy(*key_cols, "version").agg(
        F.min("mode").alias("mode"),
        F.min("discount").alias("discount"),
        F.min("price").alias("price"),
        F.min("credit_fields").alias("credit_fields"),
        F.min("month").alias("valid_from"),
        F.max("month").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    hist = hist.select(
        *key_cols, "version", *attr_cols, "valid_from", "valid_to", "n_months"
    )
    if not include_current:
        # incremental maintainers persist the version FACTS only and derive
        # "current" at read time against the store-wide max month — a flag
        # baked at write time goes stale the moment a later month arrives
        # for any OTHER key (see streaming.streaming_scd2_maintenance)
        return hist
    latest = dim.agg(F.max("month").alias("__maxm"))
    return hist.crossJoin(F.broadcast(latest)).select(
        *key_cols,
        "version",
        *attr_cols,
        "valid_from",
        "valid_to",
        "n_months",
        (F.col("valid_to") == F.col("__maxm")).alias("is_current"),
    )
