"""sparkmsg benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload get_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, sets up
a ``local[<cores>]`` session exactly as ``unitdb_spark.session.get_spark``
returns it, measures for ``--seconds`` and checks every answer. It prints
one ``# ...`` line per detail (workload metrics by name and unit, setup
phases, load average) and, last, one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run also writes its spans to ``perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args() -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not 1 <= args.seconds <= 600:
        p.error("--seconds must be between 1 and 600")
    return args


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user ... steal), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


def main() -> int:
    sys.path.insert(0, str(ROOT))
    args = parse_args()
    try:
        import unitdb_spark  # noqa: F401
        from unitdb_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the repository root", file=sys.stderr)
        return 2
    import report
    from spans import Tracer
    from workloads import WORKLOADS, Loop, blocks

    load_start, cpu_start = os.getloadavg(), cpu_times()
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
        version = spark.version
        session_s = time.perf_counter() - T_START
        tracer = Tracer() if args.trace else None
        loop = Loop(spark, tracer)
        wl = WORKLOADS[args.workload](spark, work, args.seed, loop)
        phases = wl.setup()
        setup_s = time.perf_counter() - T_START
        if tracer:
            tracer.install()
        loop.recording = True
        n_blocks = blocks(wl, args.seconds)
        if tracer and args.workload == "analytics":
            n_blocks = max(n_blocks, 2)  # each query is traced in one of two passes
        t0 = time.perf_counter()
        for _ in range(n_blocks):
            wl.block()
            loop.end_block()
        loop_s = time.perf_counter() - t0
        if tracer:
            tracer.uninstall()
        plain = [s for s in loop.samples if not s.traced] if tracer else loop.samples
        wl.report(plain)
        if tracer:
            layers = report.per_layer(tracer, loop, getattr(wl, "layout", []))
            tracer.write(HERE / "out" / f"spans-{args.workload}-seed{args.seed}.jsonl")
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, **report.end_to_end(plain)}
    print(f"# {args.workload}: closed loop, 1 client, local[{cores}], seed {args.seed}, "
          f"{n_blocks} blocks, {len(loop.samples)} calls in {loop_s:.1f} s, "
          f"{loop.attempted} checked, {loop.failed} failed")
    print(f"# setup: session {session_s:.2f} s, " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    print(f"# loadavg start {load_start[0]:.2f} end {os.getloadavg()[0]:.2f}")
    cpu = [b - a for a, b in zip(cpu_start, cpu_times())]
    if len(cpu) > 7 and sum(cpu):
        print(f"# cpu over the run: idle {cpu[3] / sum(cpu):.1%}, stolen by the host {cpu[7] / sum(cpu):.1%}")
    print(f"# failed_ratio {loop.failed / max(loop.attempted, 1):.4f}")
    for name, (value, unit, n) in wl.info.items():
        print(f"# {name} {value:.4f} {unit} (n={n})")
    for name, value in e2e.items():
        print(f"# {name} {value:.4f} {report.END_TO_END_UNITS[name]}")
    if tracer:
        units = report.PER_LAYER_UNITS
        for name, value in layers.items():
            print(f"# layer {name} {value:.4f} {units[name]}")
        if layers["get.rows_returned"]:
            print(f"# layer get.read_amplification = {layers['scan.rows_per_get']:.1f} rows scanned / "
                  f"{layers['get.rows_returned']:.1f} rows returned per get")
        for name in sorted(loop.counters.missing):
            print(f"# not in Spark {version}: plan metric {name} (read as 0)")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": report.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
