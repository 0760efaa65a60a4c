"""Small column-expression helpers shared by queries and tests."""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# every built_once builder, so tests can clear them and watch their sizes
BUILT_ONCE: list = []


def built_once(fn):
    """``functools.cache`` for builders of Column expression trees, which
    otherwise cost thousands of Python-to-JVM calls per run. Keys must be
    configuration, never a per-run value; callers must not mutate a
    returned list or dict. A Column wraps an object in the gateway's JVM,
    so the cache is dropped when the process starts a new gateway."""
    cached = functools.cache(fn)
    jvm = None

    @functools.wraps(fn)
    def builder(*args):
        nonlocal jvm
        if SparkContext._jvm is not jvm:
            cached.cache_clear()
            jvm = SparkContext._jvm
        return cached(*args)

    builder.cache_clear = cached.cache_clear
    builder.cache_info = cached.cache_info
    BUILT_ONCE.append(builder)
    return builder


QUANT_SCALE = 1_000_000.0

# quantize6's floor path is engine-identical only while x*1e6 fits BIGINT:
# Spark's floor(double) returns LONG (and SATURATES at Long.MaxValue on
# overflow) while DuckDB's returns DOUBLE — a corrupt-but-finite 1e300
# quantized to 9.22e12 on one engine and stayed 1e300 on the other.
# Beyond this bound the 1e-6 grid is meaningless anyway (double ulp > 1e-6),
# so out-of-envelope values PASS THROUGH unchanged on both engines.
QUANT_ABS_MAX = 9.0e12


def quantize6(col):
    """Deterministic money quantization: floor(x*1e6 + 0.5)/1e6.

    Used instead of ROUND because engines disagree on decimal-tie breaking
    (Spark HALF_UP on the exact binary expansion vs DuckDB's scaled C round):
    with money inputs of few decimal digits, products land EXACTLY on
    .xxxxxx5 boundaries and a 1e-6 hash mismatch appears. This formula is
    pure IEEE double arithmetic, so both engines produce bit-identical
    results (the DuckDB oracle uses the same text — oracle._r6).

    Values outside the quantization envelope (|x| > QUANT_ABS_MAX, where
    Spark's LONG-returning floor would saturate while DuckDB's DOUBLE
    floor would not) pass through unchanged on both engines — including
    NaN/Inf, whose abs() comparison is false."""
    q = F.floor(col * F.lit(QUANT_SCALE) + F.lit(0.5)) / F.lit(QUANT_SCALE)
    return F.when(F.abs(col) <= F.lit(QUANT_ABS_MAX), q).otherwise(col)


def quantize6_staged(df: DataFrame, keep: list, raw, out_name: str) -> DataFrame:
    """``select(*keep, quantize6(raw) AS out_name)`` with ``raw`` evaluated
    exactly once.

    quantize6's envelope guard references its argument twice per row
    (``abs(col)`` in the condition plus one lazy branch), and Spark's
    runtime subexpression elimination does not span conditional branches —
    so wrapping an expensive projection expression (a vector dot product,
    an array_distinct over n-grams) doubles its cost. Staging the raw
    value as its own column makes the guard's argument an attribute;
    CollapseProject keeps a non-cheap multiply-referenced alias in its own
    projection, so the value is computed once (measured 2.6x on the
    repetition gate at sf0.1). Both projections fuse into one codegen
    stage — this is free."""
    staged = df.select(*keep, raw.alias("__q6_raw"))
    names = [c for c in staged.columns if c != "__q6_raw"]
    return staged.select(*names, quantize6(F.col("__q6_raw")).alias(out_name))


def round_doubles(df: DataFrame) -> DataFrame:
    """Quantize every double column — canonical money rounding so the DuckDB
    oracle hash comparison is insensitive to representation-edge rounding
    (SURVEY §7.4)."""
    return df.withColumns(
        {
            f.name: quantize6(F.col(f.name))
            for f in df.schema.fields
            if isinstance(f.dataType, DoubleType)
        }
    )


# the measure domain guarded by finite_or_null: |v| <= 9e8, aligned with
# exact_sum's 1e-10 BIGINT grid. A FINITE 1e300 is just as corrupt for a
# measure as NaN — it saturates Spark's quantization, overflows
# DECIMAL(38,10) casts under ANSI (job-kill), and DuckDB raises where
# Spark saturates, the worst divergence.
MEASURE_ABS_MAX = 9.0e8


def finite_or_null(col):
    """Out-of-domain doubles (NaN, ±Inf, |v| > MEASURE_ABS_MAX) to NULL at
    operator ingestion.

    At 100 TB a single corrupt measurement WILL occur, and the failure
    modes are all job-level: NaN is absorbing under sum (one poisoned row
    turns a global total into NaN), exact-cents/DECIMAL casts raise
    CAST_OVERFLOW / NUMERIC_VALUE_OUT_OF_RANGE on NaN/Inf/huge values,
    killing the task, and a finite-but-absurd 1e300 saturates Spark's
    LONG-returning floor while DuckDB errors. NULL is the semantic the
    rest of each aggregate already handles (skipped by sums, counted by
    nothing). The DuckDB oracle twins apply the identical rule via
    ``CASE WHEN isfinite(value) AND abs(value) <= 9e8 THEN value END`` so
    cross-engine parity holds on poisoned corpora too
    (tests/test_corrupt_floats.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        ~F.isnan(c) & (F.abs(c) <= F.lit(MEASURE_ABS_MAX)), c
    )


def finite_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop rows whose vector contains any non-finite component: a corrupt
    embedding must not poison centroid means or claim NaN-driven
    similarity ranks. Exclusion (not per-component nulling) is the ANN
    contract — distance to a partial vector is undefined. Twins mirror
    with ``list_aggregate(list_transform(v, x -> isfinite(x)), 'bool_and')``."""
    c = F.col(vec_col)
    return df.filter(
        F.forall(
            c,
            lambda x: x.isNotNull()
            & ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        )
    )


_B = 1_000_000_000

# exact_sum's input domain: the 1e-10 quantization grid fits BIGINT only for
# |v| <= ~9.22e8; values beyond it are treated as corrupt and excluded from
# the sum (see exact_sum docstring). 9e8 leaves a clean margin.
EXACT_SUM_ABS_MAX = 9.0e8


def exact_sum(col) -> "F.Column":
    """Partition-order-proof SUM of a double column, primitive-long fast.

    Quantizes each value to an exact 1e-10 integer grid (round half toward
    +inf), accumulates as a sign-safe (hi, lo) BIGINT pair — lo = pmod(v,
    1e9) ∈ [0, 1e9), hi the exact co-quotient — and reassembles through
    DECIMAL(38,0) once per output row. Exact and associative like a
    DECIMAL(38,10) accumulation but ~3× faster (no BigDecimal boxing in
    the hot loop). Mirrored formula-for-formula by oracle._dsum so both
    engines agree bit-for-bit. Overflow envelope ~9e9 rows/group at
    1e5-scale values; use DECIMAL sums for whole-table totals beyond it.

    hi uses INTEGER division (IntegralDivide; DuckDB ``//`` in the oracle):
    a double division here would truncate hi off-by-one once |v10| exceeds
    2^53 (|value| ~9e5) because the difference is no longer representable.
    Integer div keeps hi exact across the full BIGINT range, so per-row
    |value| is bounded only by the 1e-10 grid itself (~9e8).

    Values OUTSIDE the grid (|v| > 9e8 — finite but absurd for money/measure
    semantics, i.e. corrupt) are excluded from the sum identically on both
    engines: without the guard Spark SATURATES the BIGINT cast (silently
    poisoning the sum with Long.MaxValue) while DuckDB raises a conversion
    error (one corrupt row kills the job) — the worst possible divergence.
    The CASE guard mirrors oracle._dsum token-for-token.
    """
    d = col.cast("double")
    bounded = F.when(F.abs(d) <= F.lit(EXACT_SUM_ABS_MAX), d)
    v10 = F.floor(bounded * F.lit(1e10) + F.lit(0.5)).cast("bigint")
    # pmod is the oracle's ((v10 % B) + B) % B (not in DuckDB) with one
    # copy of v10 fewer: a smaller tree for the analyzer, same value
    lo = F.pmod(v10, F.lit(_B))
    hi = F.call_function("div", v10 - lo, F.lit(_B))  # exact: (v10-lo) % 1e9 == 0
    return (
        (F.sum(hi).cast("decimal(38,0)") * _B + F.sum(lo)).cast("double")
        / F.lit(1e10)
    )
