"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 (override with SPARK_GRAFT_SF_DIR), sorts columns by name and
rows by all columns, then compares exactly — floats must match bit-for-bit
(we mimic a value-hash, so "close" is not good enough).

Queries run in the engine's own session (``session.get_spark``, 8 shuffle
partitions), so every conf the engine sets is oracle-checked too.
``make gate`` runs it on ``local[8]`` (``SPARK_GRAFT_CPUS=8``).

Usage: python tools/oracle_check.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # lists/arrays -> tuples so they sort/compare
    for c in df.columns:
        if df[c].dtype == object and df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sa = sv.astype(float).to_numpy()
            oa = ov.astype(float).to_numpy()
            both_nan = np.isnan(sa) & np.isnan(oa)
            exact = (sa == oa) | both_nan
            if not exact.all():
                bad = ~exact
                diffs = np.abs(sa[bad] - oa[bad])
                problems.append(
                    f"col {c!r}: {bad.sum()} mismatches, max|diff|={np.nanmax(diffs):.3e} "
                    f"e.g. spark={sa[bad][:3]} oracle={oa[bad][:3]}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c!r}: {(~eq).sum()} mismatches e.g. spark={sv[idx]!r} oracle={ov[idx]!r}"
                )
    return problems


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as ent
    from etl_market_survey_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            ok = len(sdf) >= 0
            print(f"weak  {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"ok    {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_weak} weak, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
