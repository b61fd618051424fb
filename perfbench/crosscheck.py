"""Cross-check the pinned analytics digests against the DuckDB oracles.

    python3 perfbench/crosscheck.py [--pin]

Run from the repository root. Generates the analytics tables, runs the
ten queries on Spark, compares each result with its
``__spark_entry__.oracle_sql()`` answer on DuckDB using
``scripts/check_oracle.py``'s bitwise comparison (``doc_minhash_lsh`` has
no oracle: its xxhash64 signatures are not expressible in DuckDB), and
prints each digest next to the pinned one. ``--pin`` writes the digests
to ``analytics_digests.json`` when every oracle agrees.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import duckdb

    import __spark_entry__ as entry
    import gen
    from check import DIGESTS_PATH, digest, pinned_digests
    from unitdb_spark.session import get_spark
    from workloads import ANALYTICS_QUERIES

    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "scripts" / "check_oracle.py")
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)

    data = HERE / ".work" / "crosscheck"
    shutil.rmtree(data, ignore_errors=True)
    tables = gen.analytics_tables(data)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    spark = get_spark("perfbench-crosscheck", cpus=len(os.sched_getaffinity(0)))
    queries, sql, pins = entry.queries(), entry.oracle_sql(), pinned_digests()
    digests, failures = {}, 0
    for name in ANALYTICS_QUERIES:
        df = queries[name](spark, str(data))
        rows = df.collect()
        digests[name] = digest(rows)
        if name in sql:
            problems = oracle.compare(name, df.toPandas(), con.execute(sql[name]).df())
        else:
            problems = []
        failures += bool(problems)
        status = "FAIL" if problems else "ok" if name in sql else "no-oracle"
        pin = "pinned" if pins.get(name) == digests[name] else "differs from pin"
        print(f"{status:9} {name}: {len(rows)} rows, digest {digests[name][:16]} ({pin}) {'; '.join(problems)}")
    spark.stop()
    shutil.rmtree(data, ignore_errors=True)
    if "--pin" in sys.argv and not failures:
        DIGESTS_PATH.write_text(json.dumps(digests, indent=2, sort_keys=True) + "\n")
        print(f"wrote {DIGESTS_PATH.name}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
