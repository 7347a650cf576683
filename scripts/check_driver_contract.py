#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compare row count, schema (column names), and sorted
value hash.  Usage:

    python scripts/check_driver_contract.py [query ...]   # default: all
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def frame_hash(df) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, value hash) for a pandas frame —
    columns sorted by name, rows sorted by all columns, values stringified
    with float rounding to 9 significant-ish decimals like the driver."""
    import numpy as np
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]

    def norm(s: pd.Series) -> pd.Series:
        if s.dtype.kind == "f":
            return s.map(lambda v: "null" if pd.isna(v) else f"{v:.9g}")
        if s.dtype == object:
            return s.map(
                lambda v: "null"
                if v is None
                else (str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
            )
        return s.map(lambda v: "null" if pd.isna(v) else str(v))

    sdf = pd.DataFrame({c: norm(df[c]) for c in cols})
    rows = ["\x01".join(r) for r in sdf.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> None:
    import duckdb

    import __spark_entry__ as entrymod
    from s2_geometry_library_java_spark.session import get_spark

    only = set(sys.argv[1:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("contract-check", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"{name:28s} SPARK-ERROR {e}", flush=True)
            continue
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf):>8} (no oracle — rows-only) "
                  f"[{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"oracle error: {e}"))
            print(f"{name:28s} ORACLE-ERROR {e}", flush=True)
            continue
        sn, sc, sh = frame_hash(sdf)
        on, oc, oh = frame_hash(odf)
        ok = (sn == on) and (sc == oc) and (sh == oh)
        status = "OK" if ok else "MISMATCH"
        print(
            f"{name:28s} {status} rows={sn}/{on} hash={sh}/{oh} [{time.time()-t0:.1f}s]",
            flush=True,
        )
        if not ok:
            if sc != oc:
                failures.append((name, f"schema: spark={sc} oracle={oc}"))
            elif sn != on:
                failures.append((name, f"rows: spark={sn} oracle={on}"))
            else:
                failures.append((name, "value hash mismatch"))

    print(f"\n{len(failures)} failures")
    for name, why in failures:
        print(f"  {name}: {why}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
