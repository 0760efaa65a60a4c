from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from billing_etl_v1_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck(request):
    import duckdb

    con = duckdb.connect()
    sf_dir = getattr(request, "param", SF_SMALL)
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(x):
    import datetime as _dt

    if x is None or x is pd.NaT:
        # NaT (a NULL timestamp, e.g. an as-of row whose event has no ts)
        # canonicalizes to None like any other NULL — .to_pydatetime() on
        # NaT raises "NaTType does not support time"
        return None
    if isinstance(x, pd.Timestamp):
        x = x.to_pydatetime()
    if isinstance(x, _dt.datetime):
        if x.time() == _dt.time(0, 0):
            return x.strftime("%Y-%m-%d")
        return x.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(x, _dt.date):
        return x.isoformat()
    return str(x)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted canonical form (mirrors the driver's
    order-insensitive comparison). Dates/timestamps canonicalized so a DATE
    from one engine equals a midnight TIMESTAMP from the other."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].map(_canon)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: _canon(x) if x is not None else None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str = "query"):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            ok = np.isclose(av.fillna(-1.23e18), bv.fillna(-1.23e18), rtol=0, atol=1e-9)
        else:
            ok = (av.astype(str).where(~av.isna(), "<NULL>")
                  == bv.astype(str).where(~bv.isna(), "<NULL>")).to_numpy()
        if not ok.all():
            bad = int(np.argmin(ok))
            raise AssertionError(
                f"{name}: column {c} mismatch at canonical row {bad}: "
                f"spark={a[c].iloc[bad]!r} oracle={b[c].iloc[bad]!r}\n"
                f"spark row: {a.iloc[bad].to_dict()}\noracle row: {b.iloc[bad].to_dict()}"
            )
