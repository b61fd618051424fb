"""Local replica of the driver's correctness gate.

Runs every queries() entry at sf0.01 on Spark AND its oracle_sql() on
DuckDB, then compares row count, column names, and exact values
(columns sorted by name, rows sorted by all columns, float64 compared
BITWISE on the uint64 view with NaNs canonicalised). Strictly harder
than a value-hash — if this passes, the driver's hash comparison
passes.

Signed zeros: the round-8 `doc_heaps` driver FAIL was Spark round()
emitting +0.0 (BigDecimal HALF_UP has no signed zero) while DuckDB
round() emitted -0.0 (std::round keeps the sign) for a cancellation
residual slope of -7.9e-15; IEEE `==` treats them equal, so the old
gate passed while the driver — which hashes RENDERED values, where
"-0.0" != "0.0" — failed. The uint64-view compare distinguishes them.

Usage: python scripts/check_oracle.py [pattern ...]

Each pattern is a query name or an fnmatch pattern ('streamed_*');
no pattern checks every query. A pattern that matches no query is an
error (exit 2), so a typo cannot pass as "0 failures".
"""

from __future__ import annotations

import sys
import time
from fnmatch import fnmatchcase
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: bytes(v) if isinstance(v, (bytearray, memoryview)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        return problems
    s, d = normalize(sdf), normalize(ddf)
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        s_float = np.issubdtype(sv.dtype, np.floating)
        d_float = np.issubdtype(dv.dtype, np.floating)
        if s_float != d_float:
            # The driver hashes rendered values, so int 1 vs float 1.0
            # mismatch even when numerically equal (e.g. DuckDB windowed
            # SUM -> HUGEINT -> pandas float64 vs Spark BIGINT).
            problems.append(
                f"col {c}: dtype kind mismatch spark={sv.dtype} duck={dv.dtype} "
                "(int-vs-float hashes differently in the driver; CAST the oracle)"
            )
            continue
        if s_float or d_float:
            sv64 = sv.astype(np.float64).copy()
            dv64 = dv.astype(np.float64).copy()
            # canonicalise NaN payloads, then compare BITWISE — IEEE ==
            # would hide -0.0 vs +0.0, which the driver's rendered-value
            # hash distinguishes (the round-8 doc_heaps failure)
            sv64[np.isnan(sv64)] = np.nan
            dv64[np.isnan(dv64)] = np.nan
            sbits, dbits = sv64.view(np.uint64), dv64.view(np.uint64)
            if not np.array_equal(sbits, dbits):
                bad = np.where(sbits != dbits)[0]
                i = bad[0]
                note = (
                    " (SIGNED ZERO — IEEE-equal but renders differently)"
                    if sv64[i] == dv64[i]
                    else ""
                )
                problems.append(
                    f"col {c}: {len(bad)} bitwise mismatches, first idx {i}: "
                    f"spark={sv64[i]!r} duck={dv64[i]!r}{note}"
                )
        else:
            eq = pd.Series(sv).astype(str).eq(pd.Series(dv).astype(str))
            if not eq.all():
                i = int(np.where(~eq.to_numpy())[0][0])
                problems.append(f"col {c}: first mismatch idx {i}: spark={sv[i]!r} duck={dv[i]!r}")
    return problems


def main() -> int:
    import __spark_entry__ as entry
    from unitdb_spark.session import get_spark

    patterns = sys.argv[1:]
    qs, osql = entry.queries(), entry.oracle_sql()
    unmatched = [p for p in patterns if not any(fnmatchcase(n, p) for n in qs)]
    if unmatched:
        print(f"no query matches {unmatched}")
        return 2
    spark = get_spark("check-oracle", cpus=8)
    con = duck_connect()
    fails, rows_only = [], []
    for name, fn in qs.items():
        if patterns and not any(fnmatchcase(name, p) for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            fails.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in osql:
            rows_only.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(osql[name]).df()
        except Exception as e:
            fails.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            fails.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(sdf)} rows match [{time.time()-t0:.1f}s]")
    print(f"\n{len(fails)} failures; rows-only: {rows_only}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
