"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,pipeline} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from ``--seed``, sets
up and warms the workload untimed, measures for ``--seconds`` and checks
the program's outputs. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The full record of the run (host, warm-up count, checks,
cache state) and, when tracing, the spans are written under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

WORKLOADS = ("catalog", "pipeline")
PACKAGE = "binance_data_pipeline_spark"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a tiny input size, and a deliberate output fault
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    ap.add_argument("--inject", choices=("drop-fact-row",), default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    import fcntl

    import common

    os.makedirs(os.path.join(root, common.WORK_DIR), exist_ok=True)
    lock = open(os.path.join(root, common.WORK_DIR, "lock"), "w")
    try:
        # runs in one checkout share .perfbench/: never overlap them
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is using this checkout", file=sys.stderr)
        return 3
    work = common.prepare_environment(root)
    sys.path.insert(0, root)
    ctx = common.Run(root=root, workload=args.workload, seed=args.seed,
                     seconds=args.seconds, trace=bool(args.trace), size=args.size,
                     inject=args.inject, t_start=T_START, work=work)
    module = __import__(args.workload)
    try:
        e2e, layers = module.run(ctx)
        ctx.record["host"] = ctx.host()
        if ctx.trace:
            layers = finish_layers(ctx, layers)
            ctx.tracer.dump(os.path.join(
                ctx.work, "traces", f"{args.workload}-s{args.seed}.jsonl"))
        common.emit(ctx, e2e, layers)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
    return 0


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def finish_layers(ctx, layers: dict) -> dict:
    """Add the session figures and give every per-layer metric a value.
    The workload must produce each of its own layers; the other
    workload's layers read 0."""
    from metrics import LAYERS_OF, PER_LAYER

    import common

    layers = dict(layers)
    layers["session.get_spark_ms"] = ctx.get_spark_ms
    layers.update(common.memory_peaks(ctx.spark))
    own = LAYERS_OF[ctx.workload]
    missing = own - layers.keys()
    if missing:
        raise RuntimeError(f"{ctx.workload} did not measure {sorted(missing)}")
    return {name: layers[name] if name in own else 0.0 for name in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
