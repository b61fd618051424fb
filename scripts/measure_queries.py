"""Measure named queries() entries: warmup + N timed reps, median.

The round-13 sf1 panel runner (r12 verdict items 4/6/9): same
methodology as bench.py's heavy panel — one untimed warmup (codegen/
JIT), then reps timed reps from a canonical cache state (clearCache
per rep; no cross-rep reuse, so every graph rep pays the co-purchase
pair build that bench.py bills once), noop sink as the timed action —
but parameterised over repo tree, data dir, core count and extra Spark
confs so the same harness can run the r11 tree vs HEAD, 8 vs 32
cores, lz4 vs zstd, broadcast vs no-broadcast.

Usage:
  python measure_queries.py --repo /root/repo --sf-dir /tmp/sf1 \
      --cpus 32 [--reps 3] [--conf k=v ...] [--label tag] query ...

Prints one JSON line: {"label":..., "cpus":..., "sf_dir":...,
"conf": {...}, "queries": {name: {"median": s, "spread": [lo, hi]}}}.
``conf`` holds the effective value of each --conf key; a static key
whose effective value differs gets a warning on stderr.
PERF-ONLY: sf1 data is make_scale.py output, not oracle-checkable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _edge_pairs(spark, sf_dir):
    # the bench's parts_edge_build core (the cache is cleared per rep,
    # so each rep pays the full |order|^2 self-join plus filling the
    # pair cache) — lets the SHUFFLE_HASH-hint A/B run under
    # autoBroadcastJoinThreshold=-1 (the at-scale regime where neither
    # side broadcasts).
    from unitdb_spark.operators.graph import cooccurrence_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default="/root/repo")
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--label", default="")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    import __spark_entry__ as entry
    from unitdb_spark.session import get_spark

    fns = {**entry.queries(), "_edge_pairs": _edge_pairs}
    unknown = [n for n in args.queries if n not in fns]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")

    # extra confs go on the first builder: static ones (JVM, executor,
    # static SQL) only take effect when the session is created
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{args.cpus}]").config(
        # must be set before the JVM launches — get_spark's configs
        # land too late once this builder has created the session
        "spark.driver.memory",
        os.environ.get("SPARK_DRIVER_MEM", "8g"),
    )
    extra = dict(c.split("=", 1) for c in args.conf)
    for k, v in extra.items():
        builder = builder.config(k, v)
    builder.getOrCreate()  # pin master + extra confs
    spark = get_spark("sf1-panel", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # get_spark's getOrCreate re-applies its fixed runtime SQL confs to
    # the pinned session, overriding colliding --conf values: set those
    # again, then report what is in effect. A static key is fixed when
    # the context starts, so its effective value is the context's.
    started = spark.sparkContext.getConf()
    conf: dict[str, str | None] = {}
    for k, v in extra.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
            conf[k] = spark.conf.get(k)
        else:
            conf[k] = started.get(k, None)
        if conf[k] != v:
            print(
                f"# warning: static --conf {k}={v} differs from its "
                f"effective value {conf[k]}",
                file=sys.stderr,
            )

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = fns[name]
        spark.sparkContext.setJobDescription(f"sf1-panel:{name}")

        def run_once() -> float:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        run_once()  # untimed warmup (codegen/JIT)
        runs = sorted(run_once() for _ in range(args.reps))
        out[name] = {
            "median": round(runs[len(runs) // 2], 3),
            "spread": [round(runs[0], 3), round(runs[-1], 3)],
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)

    print(
        json.dumps(
            {
                "label": args.label,
                "cpus": args.cpus,
                "sf_dir": args.sf_dir,
                "conf": conf,
                "reps": args.reps,
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
