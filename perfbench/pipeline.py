"""Workload ``pipeline``: the write path the paper describes.

A pass runs two legs, each from its own fixed starting state:

1. ``ingest.IngestLeg``: a Kafka backlog drained into bronze by the
   streaming query (``sources.kafka_source``, ``sources.json_envelope``,
   ``streaming.ingest``, ``raw_to_bronze`` as micro-batches);
2. ``medallion.MedallionLeg``: a restored week of bronze and fact, the
   daily backfill once, then hourly increments (``raw_to_bronze`` as a
   batch append, ``operators.incremental``, ``quality``, ``jobs``).

``pass_s`` is the drain plus the medallion leg. An operation is one
``hourly_transform`` call: how fresh the fact is after an hour lands. The
stream's micro-batch latencies are per-layer figures.

The two legs were first two workloads of their own. On a 4-core host a
fresh JVM spends 20-24 s on each workload's first pass, so three
workloads left each run a single short timed pass, and run-to-run spread
reached 25% of the median; one workload with both legs affords the
warm-up and a longer timed pass in the same time budget.
"""

from __future__ import annotations

import time

import common
from ingest import IngestLeg
from ingest import SIZES as INGEST_SIZES
from medallion import MedallionLeg
from medallion import SIZES as MEDALLION_SIZES

#: Untimed warm-up passes per size.
WARM = {"full": 2, "tiny": 1}


def run(ctx: common.Run) -> tuple[dict, dict | None]:
    from binance_data_pipeline_spark.sources.kafka_wire import MiniKafkaBroker

    common.start_session(ctx)
    with MiniKafkaBroker() as broker:
        stream = IngestLeg(ctx, broker, INGEST_SIZES[ctx.size])
        medallion = MedallionLeg(ctx, MEDALLION_SIZES[ctx.size])

        def one_pass(tracer: common.Tracer, rec: dict) -> tuple[float, list[float]]:
            drain = stream.run_pass(tracer, rec.setdefault("ingest", {}))
            wall, incs = medallion.run_pass(tracer, rec.setdefault("medallion", {}))
            return drain + wall, incs

        def check(rec: dict) -> None:
            stream.check(rec["ingest"])
            medallion.check(rec["medallion"])

        # warm-up: whole passes, the first one also checked
        untraced = common.Tracer(ctx.spark, False)
        first: dict = {}
        warm = common.warm_up(lambda: one_pass(untraced, first if not first else {}),
                              WARM[ctx.size])
        check(first)
        ctx.record["warmup_passes"] = len(warm)
        ctx.record["warmup_walls_s"] = [round(w, 3) for w in warm]
        setup_s = time.perf_counter() - ctx.t_start

        def timed(tracer) -> tuple[dict, list[dict]]:
            passes, incs, recs = [], [], []
            t_end = time.perf_counter() + ctx.seconds
            while not passes or time.perf_counter() < t_end:
                rec: dict = {}
                wall, inc = one_pass(tracer, rec)
                passes.append(wall)
                incs += inc
                recs.append(rec)
                ctx.attempted += len(inc) + len(rec["ingest"]["progress"]) + 1
                check(rec)
            e2e = {"setup_s": setup_s, "pass_s": common.median(passes),
                   "op_p50_ms": common.percentile(incs, 50),
                   "op_p90_ms": common.percentile(incs, 90),
                   "op_geomean_ms": common.geomean(incs)}
            ctx.record.setdefault("timed", []).append(
                {"traced": tracer.enabled, "passes_s": passes, "increments_ms": incs,
                 "batches_ms": [r["ingest"]["batches_ms"] for r in recs],
                 "drains_s": [r["ingest"]["wall"] for r in recs]})
            return e2e, recs

        ctx.probe_cpu()
        e2e, _ = timed(untraced)
        ctx.probe_cpu()
        if not ctx.trace:
            return e2e, None
        tracer = common.Tracer(ctx.spark, True)
        traced, recs = timed(tracer)
        layers = medallion.layers(tracer, [r["medallion"] for r in recs])
        layers.update(stream.layers([r["ingest"] for r in recs]))
    layers.update({f"trace.overhead.{m}": traced[m] - e2e[m] for m in e2e if m != "setup_s"})
    ctx.tracer = tracer
    return e2e, layers
