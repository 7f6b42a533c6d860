"""The ingest leg of the ``pipeline`` workload: the stream, as a backlog
drain after an outage.

Each pass uses a fresh topic, checkpoint and output directory on an
in-process ``MiniKafkaBroker`` (2 partitions). The stream first runs
briefly over a few messages, so the reader has persisted its rate cursor,
and stops: the outage. A backlog of seeded Binance envelope messages (1%
malformed, 2% non-trade, 1% missing fields) is then produced, and the
restarted stream (``start_bronze_ingest`` over
``read_raw_stream_from_kafka_wire``) drains it in micro-batches of at most
1000 offsets via ``processAllAvailable``. This is a closed backlog drain,
not an open-loop rate test.

Timed: restart to drained. Bronze rows landed per second of drain and
each non-empty micro-batch's ``triggerExecution`` are per-layer figures.
Production into the broker is the generator's cost and is reported only
as a per-layer figure.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.dataset as ds

import common
import inputs

SIZES = {
    "full": dict(messages=1_000, per_trigger=500),
    "tiny": dict(messages=600, per_trigger=200),
}
PARTITIONS = 2
PRE_OUTAGE = 4  # messages the stream consumes before it stops


def produce(port: int, topic: str, msgs: list[str], batch: int = 500) -> None:
    """Round-robin over the partitions, RecordBatch v2 produces."""
    from binance_data_pipeline_spark.sources.kafka_wire import kafka_produce

    per_part: dict[int, list] = {p: [] for p in range(PARTITIONS)}
    for i, m in enumerate(msgs):
        per_part[i % PARTITIONS].append((f"key-{i % 3}".encode(), m.encode(),
                                         inputs.T0_MS + i))
    for p, records in per_part.items():
        for i in range(0, len(records), batch):
            kafka_produce("127.0.0.1", port, topic, p, records[i:i + batch])


class IngestLeg:
    """The stream half of a ``pipeline`` pass: one backlog drain on a
    fresh topic, checkpoint and output."""

    def __init__(self, ctx: common.Run, broker, cfg: dict):
        self.ctx, self.broker, self.cfg, self.spark = ctx, broker, cfg, ctx.spark
        self.base = os.path.join(ctx.work, "ingest")
        shutil.rmtree(self.base, ignore_errors=True)
        self.msgs, self.want_rows = inputs.envelopes(ctx.seed, PRE_OUTAGE + cfg["messages"])
        self.n_pass = 0

    def run_pass(self, tr: common.Tracer, rec: dict) -> float:
        """Outage and backlog (untimed), then restart and drain; returns
        the drain wall in seconds."""
        from binance_data_pipeline_spark.streaming.ingest import (
            read_raw_stream_from_kafka_wire,
            start_bronze_ingest,
        )

        self.n_pass += 1
        broker, topic = self.broker, f"trades-{self.n_pass}"
        out, ckpt = f"{self.base}/bronze-{self.n_pass}", f"{self.base}/ckpt-{self.n_pass}"
        # stationarity guard: a fresh topic, checkpoint and output
        if topic in {t for t, _ in broker._log} or os.path.exists(out) or os.path.exists(ckpt):
            raise common.BenchFailure(f"pass {self.n_pass} does not start from a fresh stream")

        def start():
            raw = read_raw_stream_from_kafka_wire(
                self.spark, f"127.0.0.1:{broker.port}", topic=topic,
                max_offsets_per_trigger=self.cfg["per_trigger"], rate_cursor_dir=f"{ckpt}/rate")
            return start_bronze_ingest(raw, out, ckpt, trigger_interval="0 seconds")

        produce(broker.port, topic, self.msgs[:PRE_OUTAGE])
        q = start()
        q.processAllAvailable()
        q.stop()
        with tr.span("sources.kafka_wire.produce") as produced:
            produce(broker.port, topic, self.msgs[PRE_OUTAGE:])

        # the query runs on its own thread under job group = its run id
        with tr.span("streaming.ingest.drain"):
            t0 = time.perf_counter()
            q = start()
            start_ms = (time.perf_counter() - t0) * 1000.0
            try:
                q.processAllAvailable()
                wall = time.perf_counter() - t0
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            finally:
                q.stop()
        rec.update(wall=wall, produce_ms=produced.wall_ms, start_ms=start_ms,
                   progress=progress, run_id=str(q.runId), out=out,
                   batches_ms=[p["durationMs"]["triggerExecution"] for p in progress])
        return wall

    def check(self, rec: dict) -> None:
        ctx = self.ctx
        t = ds.dataset(rec["out"], format="parquet", partitioning="hive").to_table(
            columns=["trade_id"])
        rows = rec["rows"] = t.num_rows
        distinct = len(pc.unique(t.column("trade_id")))
        ctx.check("bronze_rows", rows == self.want_rows, {"got": rows, "want": self.want_rows})
        ctx.check("no_replays", distinct == rows, {"distinct": distinct, "rows": rows})
        batches = rec["progress"]
        ctx.check("capped_batches",
                  all(p["numInputRows"] <= self.cfg["per_trigger"] for p in batches)
                  and sum(p["numInputRows"] for p in batches) == self.cfg["messages"],
                  {"batches": len(batches)})

    def layers(self, recs: list[dict]) -> dict:
        durations = {"latest_offset_ms": "latestOffset", "add_batch_ms": "addBatch",
                     "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                     "commit_offsets_ms": "commitOffsets"}
        progress = [p for r in recs for p in r["progress"]]
        out = {f"streaming.ingest.{name}": common.median(
            [p["durationMs"].get(key, 0) for p in progress]) for name, key in durations.items()}
        batches = [b for r in recs for b in r["batches_ms"]]
        common.wait_listener_bus(self.spark)
        stage = [common.stage_totals(self.spark, r["run_id"]) for r in recs]
        out.update({
            # bronze rows the stream landed (counted by ``check``) per
            # second of drain, and per message produced
            "streaming.ingest.rows_per_s": common.median([r["rows"] / r["wall"] for r in recs]),
            "streaming.ingest.rows_kept_ratio": common.median(
                [r["rows"] / len(self.msgs) for r in recs]),
            "streaming.ingest.batch_p50_ms": common.percentile(batches, 50),
            "streaming.ingest.batch_p90_ms": common.percentile(batches, 90),
            "streaming.ingest.start_ms": common.median([r["start_ms"] for r in recs]),
            "streaming.ingest.batches": common.median([len(r["progress"]) for r in recs]),
            "streaming.ingest.executor_cpu_ms": common.median(
                [s["executor_cpu_ms"] for s in stage]),
            "streaming.ingest.offcpu_ms": common.median(
                [max(s["executor_run_ms"] - s["executor_cpu_ms"], 0) for s in stage]),
            "sources.kafka_wire.produce_ms": common.median([r["produce_ms"] for r in recs]),
        })
        return out
