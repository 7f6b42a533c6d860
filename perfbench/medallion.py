"""The medallion leg of the ``pipeline`` workload: batch writes.

Set-up writes a week of hourly bronze partitions through the program's
own ``raw_to_bronze`` and loads the fact from it with
``incremental_append``; both are kept as a template, built once per
source tree (see ``template``). Every pass restores that exact bronze and
fact, then runs, timed:

1. ``jobs.daily_backfill_and_transform`` once, with an offline fetcher that
   re-pulls trades the history already holds (below the high-water mark)
   plus one new hour;
2. a fixed list of hourly increments: one hour of bronze appended via
   ``raw_to_bronze`` and a partitioned append, then
   ``jobs.hourly_transform``. Increments carry duplicate trade ids and
   stragglers below the high-water mark.

After each pass the fact is checked against counts derived from the
generator alone.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import common
import inputs
import metrics
from fetcher import CannedFetcher

SIZES = {
    # history hours, trades per hour, increments, late rows per hour
    "full": dict(hours=168, per_hour=500, increments=3, late=10),
    "tiny": dict(hours=30, per_hour=100, increments=2, late=5),
}
SYMBOLS = list(inputs.SYMBOLS)
#: The history is the same for every ``--seed`` so its template (bronze
#: and fact as the program writes them) is built once per source tree;
#: the backfill's new hour and the increments come from ``--seed``.
HISTORY_SEED = 0
FETCH_LIMIT = 1000  # the program's REST page size
DUP_RATE = 0.01
LOOKBACK_DAYS = 3
BACKFILL_HOURS = (12,)


def _hour_start(h: int) -> int:
    return inputs.T0_MS + h * inputs.HOUR_MS


def _day(h: int) -> date:
    return datetime.fromtimestamp(_hour_start(h) / 1000, tz=timezone.utc).date()


def listing(path: str) -> list[tuple[str, int]]:
    """(relative path, size) of every data file under ``path``."""
    out = []
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                full = os.path.join(dirpath, name)
                out.append((os.path.relpath(full, path), os.path.getsize(full)))
    return sorted(out)


def footer_rows(path: str) -> int:
    """Row count from parquet footers, without the program."""
    return sum(pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
               for rel, _ in listing(path))


def fact_ids(path: str) -> pa.Array:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["trade_id"]).column("trade_id")


def history(cfg: dict) -> pa.Table:
    """The week of trades the template holds (``HISTORY_SEED``)."""
    return pa.concat_tables([
        inputs.bronze_hour(HISTORY_SEED, h, cfg["per_hour"], DUP_RATE, cfg["late"] if h else 0)
        for h in range(cfg["hours"])])


class Plan:
    """A pass's inputs and the counts the fact must reach, derived from
    the generator alone (no Spark)."""

    def __init__(self, seed: int, cfg: dict, hist: pa.Table, wire_dir: str):
        H, n, late = cfg["hours"], cfg["per_hour"], cfg["late"]
        self.template_fact_rows = len(pc.unique(hist.column("trade_id")))
        hwm = pc.max(hist.column("event_time")).as_py()

        # backfill: lookback days ending the day after the history, hour
        # 12. Hours inside the history re-pull trades it already holds;
        # the last day's hour is new and comes from ``seed``.
        self.logical_date = _day(H - 1) + timedelta(days=1)
        responses = {}
        for d_off in range(LOOKBACK_DAYS):
            day = self.logical_date - timedelta(days=d_off)
            for hour in BACKFILL_HOURS:
                start = int(datetime(day.year, day.month, day.day, tzinfo=timezone.utc)
                            .timestamp() * 1000) + hour * inputs.HOUR_MS
                h = (start - inputs.T0_MS) // inputs.HOUR_MS
                for sym in SYMBOLS:
                    responses[(sym, start)] = inputs.aggtrades(
                        HISTORY_SEED if h < H else seed, h, sym, n, DUP_RATE, late,
                        FETCH_LIMIT)
        self.fetcher = CannedFetcher(responses)
        fetched = [t for r in responses.values() for t in r]
        self.backfill_ingested = len(fetched)
        fresh = {t["a"] for t in fetched if t["T"] > hwm}
        self.backfill_appended = len(fresh)
        hwm = max([t["T"] for t in fetched if t["T"] > hwm], default=hwm)
        seen = set(fresh)

        # increments: the hours after the backfilled one
        first_inc = ((H - 1) // 24 + 1) * 24 + BACKFILL_HOURS[-1] + 1
        os.makedirs(wire_dir, exist_ok=True)
        self.increments, self.inc_appended = [], []
        for k in range(cfg["increments"]):
            t = inputs.bronze_hour(seed, first_inc + k, n, DUP_RATE, late)
            path = os.path.join(wire_dir, f"inc{k}.parquet")
            pq.write_table(t, path)
            self.increments.append(path)
            ts = t.column("event_time").to_numpy()
            tid = t.column("trade_id").to_numpy()
            new = {int(i) for i, x in zip(tid, ts) if x > hwm}
            self.inc_appended.append(len(new))
            seen |= new
            hwm = max(hwm, int(ts.max()))
        self.final_rows = self.template_fact_rows + len(seen)


def template(ctx: common.Run, cfg: dict, hist: pa.Table) -> tuple[str, str, bool]:
    """The template bronze and fact, built once per source tree and
    history by the program itself: ``raw_to_bronze`` + a partitioned write,
    then the first (full) ``incremental_append``. Returns (bronze, fact,
    cache hit)."""
    from binance_data_pipeline_spark.operators.cleaning import bronze_to_staging, raw_to_bronze
    from binance_data_pipeline_spark.operators.incremental import incremental_append

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, hist.schema) as w:
        w.write_table(hist)
    key = f"{common.source_hash(os.path.join(ctx.root, 'binance_data_pipeline_spark'))[:12]}" \
          f"-{hashlib.sha1(sink.getvalue().to_pybytes()).hexdigest()[:12]}"
    cache = os.path.join(ctx.work, "medallion-cache", f"{ctx.size}-{key}")
    if os.path.isdir(cache):
        return f"{cache}/bronze", f"{cache}/fact", True
    spark = ctx.spark
    build = cache + ".build"
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    pq.write_table(hist, f"{build}/history.parquet")
    raw_to_bronze(spark.read.parquet(f"{build}/history.parquet")).write.mode("overwrite") \
        .partitionBy("event_date", "hour").parquet(f"{build}/bronze")
    incremental_append(spark, bronze_to_staging(spark.read.parquet(f"{build}/bronze")),
                       f"{build}/fact")
    os.remove(f"{build}/history.parquet")
    os.replace(build, cache)
    return f"{cache}/bronze", f"{cache}/fact", False


class MedallionLeg:
    """The medallion half of a ``pipeline`` pass: restore the template,
    backfill once, then the hourly increments."""

    def __init__(self, ctx: common.Run, cfg: dict):
        self.ctx, self.cfg, self.spark = ctx, cfg, ctx.spark
        base = os.path.join(ctx.work, "medallion")
        shutil.rmtree(base, ignore_errors=True)
        self.bronze, self.fact = f"{base}/live/bronze", f"{base}/live/fact"
        hist = history(cfg)
        self.plan = Plan(ctx.seed, cfg, hist, f"{base}/wire")
        self.tpl_bronze, self.tpl_fact, ctx.record["cache_hit"] = template(ctx, cfg, hist)
        self.template_state = self.state(self.tpl_bronze, self.tpl_fact)
        ctx.check("template_fact_rows",
                  self.template_state["fact_rows"] == self.plan.template_fact_rows,
                  {"got": self.template_state["fact_rows"], "want": self.plan.template_fact_rows})

    @staticmethod
    def state(bronze: str, fact: str) -> dict:
        return {"bronze": listing(bronze), "fact": listing(fact),
                "bronze_rows": footer_rows(bronze), "fact_rows": footer_rows(fact)}

    def restore(self) -> None:
        for src, dst in ((self.tpl_bronze, self.bronze), (self.tpl_fact, self.fact)):
            shutil.rmtree(dst, ignore_errors=True)
            # data files are immutable (the program only appends new
            # ones), so hard links restore them without writing a byte
            shutil.copytree(src, dst, copy_function=_link_data)
        os.sync()  # no write-back of the previous pass lands in this one
        # stationarity guard: every pass starts from the template state
        if self.state(self.bronze, self.fact) != self.template_state:
            raise common.BenchFailure("pass does not start from the template state")

    def run_pass(self, tr: common.Tracer, rec: dict) -> tuple[float, list[float]]:
        """Restore (untimed), then backfill and increments; returns the
        timed wall in seconds and each ``hourly_transform`` in ms."""
        from binance_data_pipeline_spark import jobs
        from binance_data_pipeline_spark.operators.cleaning import (
            bronze_to_staging,
            raw_to_bronze,
        )
        from binance_data_pipeline_spark.operators.incremental import (
            incremental_append,
            read_high_watermark,
        )
        from binance_data_pipeline_spark.quality import run_checks, trade_table_checks

        spark, plan, bronze, fact = self.spark, self.plan, self.bronze, self.fact
        self.restore()
        incs: list[float] = []
        t0 = time.perf_counter()
        with tr.span("jobs.daily_backfill_and_transform"):
            rec["backfill"] = jobs.daily_backfill_and_transform(
                spark, plan.logical_date, SYMBOLS, plan.fetcher, bronze, fact,
                lookback_days=LOOKBACK_DAYS, hours=BACKFILL_HOURS)
        if tr.enabled:
            rec["fact_bytes_0"] = sum(s for _, s in listing(fact))
        for path in plan.increments:
            with tr.span("operators.cleaning.raw_to_bronze"):
                raw_to_bronze(spark.read.parquet(path)).write.mode("append") \
                    .partitionBy("event_date", "hour").parquet(bronze)
            if not tr.enabled:
                t1 = time.perf_counter()
                rep = jobs.hourly_transform(spark, bronze, fact)
                incs.append((time.perf_counter() - t1) * 1000.0)
                n_app, ok = rep.rows_appended, rep.ok
            else:
                # hourly_transform's steps, in its order, each under its
                # own job group; the high-water mark read is timed on its
                # own call, outside the increment's span
                with tr.span("operators.incremental.read_high_watermark"):
                    read_high_watermark(spark, fact)
                with tr.span("jobs.hourly_transform") as sp:
                    staging = bronze_to_staging(spark.read.parquet(bronze))
                    with tr.span("operators.incremental.incremental_append"):
                        n_app = incremental_append(spark, staging, fact)
                    with tr.span("quality.run_checks"):
                        ok = all(c.passed for c in run_checks(
                            trade_table_checks(spark.read.parquet(fact))))
                incs.append(sp.wall_ms)
            rec.setdefault("appended", []).append(n_app)
            rec.setdefault("quality_ok", []).append(ok)
        return time.perf_counter() - t0, incs

    def check(self, rec: dict) -> None:
        ctx, plan, rep = self.ctx, self.plan, rec["backfill"]
        ctx.check("backfill_ok", rep.ok and rep.rows_ingested == plan.backfill_ingested
                  and rep.rows_appended == plan.backfill_appended,
                  {"ingested": rep.rows_ingested, "appended": rep.rows_appended,
                   "want": [plan.backfill_ingested, plan.backfill_appended]})
        ctx.check("increments_appended", rec["appended"] == plan.inc_appended,
                  {"got": rec["appended"], "want": plan.inc_appended})
        ctx.check("quality_checks_pass", all(rec["quality_ok"]))
        if ctx.inject == "drop-fact-row":
            _drop_one_fact_row(self.fact)
        ids = fact_ids(self.fact)
        ctx.check("fact_rows", len(ids) == plan.final_rows,
                  {"got": len(ids), "want": plan.final_rows})
        ctx.check("fact_distinct_trade_ids", len(pc.unique(ids)) == plan.final_rows,
                  {"got": len(pc.unique(ids)), "want": plan.final_rows})

    def layers(self, tracer: common.Tracer, recs: list[dict]) -> dict:
        out = {}
        for name in metrics.WRITE_LAYERS:
            out.update(common.layer_metrics(tracer.by_name(name), name, metrics.WRITE_KEYS))
        k = self.cfg["increments"]
        hourly = [s.wall_ms for s in tracer.by_name("jobs.hourly_transform")]
        out["jobs.hourly_transform.first_ms"] = common.median(hourly[0::k])
        out["jobs.hourly_transform.last_ms"] = common.median(hourly[k - 1::k])
        out["storage.bronze_files"] = len(listing(self.bronze))
        out["storage.fact_files"] = len(listing(self.fact))
        out["storage.fact_bytes_per_increment"] = (
            sum(s for _, s in listing(self.fact)) - recs[-1]["fact_bytes_0"]) / k
        return out


def _link_data(src: str, dst: str) -> None:
    if src.endswith(".parquet"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


def _drop_one_fact_row(fact: str) -> None:
    """Self-test corruption: rewrite one fact file without its first row."""
    rel = listing(fact)[0][0]
    path = os.path.join(fact, rel)
    t = pq.read_table(path)
    os.unlink(path)  # a hard link to the template: never write through it
    pq.write_table(t.slice(1), path)
