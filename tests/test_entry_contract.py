"""Replicates the driver's correctness gate locally: every queries() entry
runs at sf0.01 and, where an oracle exists, must match the DuckDB result
EXACTLY (row count, schema names, and values after column-name sort + row
sort) — the same bar as the driver's value-hash."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and isinstance(pdf[c].iloc[0], (bool, np.bool_)):
            pdf[c] = pdf[c].astype(bool)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def _float_mismatch(a: pd.DataFrame, b: pd.DataFrame, c: str, af: np.ndarray, bf: np.ndarray, name: str) -> str:
    """The first mismatching row of float column ``c``: the row's other
    values, both exact reprs and their distance in ulps."""
    i = int(np.flatnonzero(~((af == bf) | (np.isnan(af) & np.isnan(bf))))[0])
    x, y = af[i], bf[i]
    # ordered int view of the IEEE-754 bits: adjacent doubles differ by 1
    ox, oy = (int(v) if v >= 0 else -(1 << 63) - int(v) for v in np.array([x, y]).view(np.int64))
    rest_a, rest_b = ({k: f[k].iloc[i] for k in f.columns if k != c} for f in (a, b))
    return (
        f"{name}.{c}: float mismatch at sorted row {i}: spark {x!r} vs oracle {y!r} "
        f"({abs(ox - oy)} ulp); spark row {rest_a}; oracle row {rest_b}"
    )


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), f"{name}: columns"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(np.asarray(av).dtype, np.floating) or np.issubdtype(np.asarray(bv).dtype, np.floating):
            af, bf = av.astype(np.float64), bv.astype(np.float64)
            assert np.array_equal(af, bf, equal_nan=True), _float_mismatch(a, b, c, af, bf, name)
        elif np.issubdtype(np.asarray(av).dtype, np.integer) or np.issubdtype(
            np.asarray(bv).dtype, np.integer
        ):
            # Mirror the driver's TYPED value-hash: an integer column must be
            # integer-kind on BOTH sides (DuckDB HUGEINT lands as object/float
            # in pandas and fails the driver even when values match).
            ak, bk = np.asarray(av).dtype.kind, np.asarray(bv).dtype.kind
            assert ak in "iu" and bk in "iu", f"{name}.{c}: dtype kind {ak} vs {bk} (typed-hash mismatch)"
            assert np.array_equal(
                av.astype(np.int64), bv.astype(np.int64)
            ), f"{name}.{c}: int mismatch"
        elif np.asarray(av).dtype.kind == "M" or np.asarray(bv).dtype.kind == "M":
            # Spark lands datetime64[ns], DuckDB datetime64[us]; str() of the
            # numpy scalars is unit-sensitive (trailing zeros) while the
            # driver stringifies pd.Timestamp (unit-independent).  Compare the
            # int64 view at one unit; NaT maps to the same sentinel.
            ai = np.asarray(av, dtype="datetime64[ns]").view("int64")
            bi = np.asarray(bv, dtype="datetime64[ns]").view("int64")
            assert np.array_equal(ai, bi), f"{name}.{c}: timestamp mismatch"
        else:
            assert list(map(str, av)) == list(map(str, bv)), f"{name}.{c}: value mismatch"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert "polygon_id" in df.columns


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_against_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_pdf) > 0, f"{name}: rows-only check failed (empty)"
        return
    duck_pdf = duck.execute(oracle).df()
    compare(spark_pdf, duck_pdf, name)
