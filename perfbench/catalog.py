"""Workload ``catalog``: reads through the query catalog.

The 30 headline queries are pinned here by name and order (``HEADLINE``),
together with the ``retrieval_hybrid`` wrapper, so a rewrite of the
repo's own bench script cannot change this workload. A pass runs the
``TIMED`` queries in headline order, each forced with the noop sink.

Inputs: the relational tables and ``events`` come from ``--seed``. The
search corpus (``documents``, ``embeddings``) is generated once from a
fixed corpus seed, because the build-once artifacts (the IVF and LSH
indexes, the recall evidence and the retrieval serving root) are built
from it: they live in a cache keyed on a hash of the package's source
tree and of the corpus, so after the first run in a checkout every pass
runs the serve path, the steady state of a deployed search tier. The
retrieval probes (16 documents) are drawn by ``--seed``.

The first warm-up pass collects every result and checks it: DuckDB oracle
for the oracle-checked queries, the recall floors of the rows-only
queries, and at most ``k`` hits per retrieval probe.
"""

from __future__ import annotations

import hashlib
import io
import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import inputs
import metrics

#: The repo's 30 headline queries, in order (pinned: the workload).
HEADLINE = (
    "pricing_summary", "forecast_revenue", "revenue_by_nation", "q7_volume_shipping",
    "q9_product_profit", "q2_min_cost_supplier", "top_orders", "window_topk_running",
    "window_offsets_rolling", "stg_events_clean", "fact_fee_tax", "sessionize",
    "ohlcv_hourly", "dedup_exact", "doc_token_stats", "doc_exact_dups",
    "minhash_near_dups", "simhash_near_dups", "embed_knn_brute", "embed_ann_lsh",
    "embed_ann_ivf", "star_join", "asof_purchase_click", "vwap_daily",
    "retrieval_hybrid", "doc_winnow_fingerprint", "embed_near_dups_brute",
    "embed_near_dups_lsh", "behavior_funnel_cohort", "conditional_distinct_agg",
)

#: Recall floors of the rows-only queries (no oracle).
RECALL_FLOORS = {
    "minhash_near_dups": 0.5, "simhash_near_dups": 0.5, "embed_ann_lsh": 0.5,
    "embed_ann_ivf": 0.4, "embed_near_dups_lsh": 0.5,
}

#: retrieval_hybrid: 16 probes of the first 6 tokens of a document, k=10.
PROBES, PROBE_TOKENS, K = 16, 6, 10

#: The queries a pass runs: the six the ROADMAP names as targets, plus
#: ``vwap_daily`` so every plan module has one. A pass over all 30, with
#: the cold pass its warm-up needs, costs about 75 s per run on a 4-core
#: host, which the benchmark's run budget cannot hold next to ``pipeline``.
TIMED = (
    "ohlcv_hourly", "simhash_near_dups",
    "embed_ann_lsh", "vwap_daily", "retrieval_hybrid", "embed_near_dups_lsh",
    "conditional_distinct_agg",
)

SIZES = {
    # sf of the seeded tables and of the corpus; untimed warm-up passes
    "full": dict(sf=0.02, warm=2),
    "tiny": dict(sf=0.002, warm=1),
}
CORPUS_SEED = 0
CORPUS = ("documents", "embeddings")


def _module_of(name: str) -> str:
    from binance_data_pipeline_spark.plans import advanced, northstar, pipeline, relational

    for mod in (relational, pipeline, northstar, advanced):
        if name in mod.QUERIES:
            return "plans." + mod.__name__.rsplit(".", 1)[1]
    return "operators.retrieval"


def corpus_hash(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha1()
    for name in CORPUS:
        sink = io.BytesIO()
        pq.write_table(tables[name], sink)
        h.update(sink.getvalue())
    return h.hexdigest()


def prepare(ctx: common.Run, cfg: dict) -> tuple[str, str, dict]:
    """Write the seeded tables and, once, the corpus; point the program's
    temp dir at the build-once cache. Returns (sf_dir, serving root,
    cache state)."""
    corpus = inputs.catalog_tables(CORPUS_SEED, cfg["sf"])
    key = f"{common.source_hash(os.path.join(ctx.root, 'binance_data_pipeline_spark'))[:12]}" \
          f"-{corpus_hash(corpus)[:12]}"
    cache = os.path.join(ctx.work, "catalog-cache", f"{ctx.size}-{key}")
    sf_dir, tmp, root = f"{cache}/tables", f"{cache}/tmp", f"{cache}/serving-root"
    os.makedirs(sf_dir, exist_ok=True)
    # corpus files are written once: the program fingerprints them by
    # name, size and mtime to validate its cached indexes
    for name in CORPUS:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            pq.write_table(corpus[name], path + ".part")
            os.replace(path + ".part", path)
    for name, table in inputs.catalog_tables(ctx.seed, cfg["sf"]).items():
        if name not in CORPUS:
            pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    common.set_tmpdir(tmp)
    artifacts = {p: any(f.startswith(p) for f in os.listdir(tmp))
                 for p in ("bdp_ivf_", "bdp_lsh_", "bdp_recall_")}
    artifacts["serving_root"] = os.path.exists(f"{root}/manifest.parquet")
    return sf_dir, root, {"key": key, "artifacts": artifacts, "hit": all(artifacts.values())}


def run(ctx: common.Run) -> tuple[dict, dict | None]:
    cfg = SIZES[ctx.size]
    sf_dir, root, cache = prepare(ctx, cfg)
    ctx.record["cache_hit"] = cache["hit"]
    ctx.record["cache"] = cache
    common.start_session(ctx)
    spark = ctx.spark

    from binance_data_pipeline_spark.lifecycle import release_barriers
    from binance_data_pipeline_spark.operators.retrieval import (
        build_retrieval_index,
        hybrid_search,
    )
    from binance_data_pipeline_spark.plans import all_oracle_sql, all_queries

    queries = dict(all_queries())
    n_docs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    probe_ids = sorted(int(i) for i in
                       np.random.default_rng(ctx.seed).choice(n_docs, PROBES, replace=False))

    def retrieval_hybrid(s, d):
        qdf = (
            s.read.parquet(f"{d}/documents.parquet")
            .where(f"doc_id in ({','.join(map(str, probe_ids))})")
            .selectExpr(
                "cast(doc_id as string) as query_id",
                f"array_join(slice(split(text, ' '), 1, {PROBE_TOKENS}), ' ') as text",
            )
        )
        return hybrid_search(s, root, qdf, k=K)

    queries["retrieval_hybrid"] = retrieval_hybrid
    if not cache["artifacts"]["serving_root"]:
        t0 = time.perf_counter()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        build_retrieval_index(spark, docs, root, embed_dim=256, n_term_buckets=32,
                              n_centroids=16)
        release_barriers(spark)
        ctx.record["serving_root_build_s"] = time.perf_counter() - t0

    modules = {n: _module_of(n) for n in HEADLINE}
    timed_names = [n for n in HEADLINE if n in TIMED]

    def one_pass(tracer: common.Tracer, collect: dict | None = None, pass_no: int = 0):
        per = {}
        for name in timed_names:
            with tracer.span(f"query.{name}") as sp:
                df = queries[name](spark, sf_dir)
                if collect is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    collect[name] = df.toPandas()
            sp.counters["pass"] = pass_no
            per[name] = sp.wall_ms
            spark.catalog.clearCache()
            release_barriers(spark)
        return per

    # warm-up, the first pass collecting results for the output checks
    results: dict = {}
    untraced = common.Tracer(spark, False)
    warm = common.warm_up(lambda: one_pass(untraced, results if not results else None),
                          cfg["warm"])
    check_outputs(ctx, sf_dir, results, all_oracle_sql())
    ctx.record["warmup_passes"] = len(warm)
    ctx.record["warmup_walls_s"] = [round(w, 3) for w in warm]
    setup_s = time.perf_counter() - ctx.t_start

    def timed(tracer) -> tuple[list[float], dict[str, list[float]]]:
        passes, per_q = [], {n: [] for n in timed_names}
        t_end = time.perf_counter() + ctx.seconds
        while not passes or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            per = one_pass(tracer, pass_no=len(passes))
            passes.append(time.perf_counter() - t0)
            for n, v in per.items():
                per_q[n].append(v)
            ctx.attempted += len(per)
        return passes, per_q

    def e2e_of(passes, per_q) -> dict:
        q = [common.median(v) for v in per_q.values()]
        return {"setup_s": setup_s, "pass_s": common.median(passes),
                "op_p50_ms": common.percentile(q, 50), "op_p90_ms": common.percentile(q, 90),
                "op_geomean_ms": common.geomean(q)}

    ctx.probe_cpu()
    passes, per_q = timed(untraced)
    ctx.probe_cpu()
    e2e = e2e_of(passes, per_q)
    ctx.record.update(passes_s=passes, queries_ms={n: common.median(v) for n, v in per_q.items()},
                      samples=len(timed_names), timed_queries=timed_names, sf=cfg["sf"])
    if not ctx.trace:
        return e2e, None

    tracer = common.Tracer(spark, True)
    traced = e2e_of(*timed(tracer))
    layers = {}
    for layer in metrics.PLAN_LAYERS:
        spans = [s for s in tracer.spans if modules[s.name[len("query."):]] == layer]
        layers.update(common.layer_metrics(spans, layer, metrics.PLAN_KEYS, per="pass"))
    for q in metrics.NAMED_QUERIES:
        layers.update(common.layer_metrics(tracer.by_name(f"query.{q}"), f"query.{q}",
                                           ("wall_ms", "jobs")))
    layers.update({f"trace.overhead.{m}": traced[m] - e2e[m] for m in e2e if m != "setup_s"})
    ctx.tracer = tracer
    return e2e, layers


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def check_outputs(ctx: common.Run, sf_dir: str, results: dict, oracle_sql: dict) -> None:
    import duckdb

    con = duckdb.connect()
    for t in inputs.CATALOG_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name, got in results.items():
        if name in oracle_sql:
            want = con.sql(oracle_sql[name]).df()
            problem = compare_frames(got, want)
            ctx.check(f"oracle:{name}", problem is None,
                      {"problem": problem, "rows": len(got), "hash": frame_hash(want)})
        elif name in RECALL_FLOORS:
            ok = len(got) > 0 and bool(got["recall_ok"].all()) and \
                float(got["recall_vs_exact"].min()) >= RECALL_FLOORS[name]
            ctx.check(f"recall:{name}", ok, {
                "rows": len(got), "floor": RECALL_FLOORS[name],
                "recall": float(got["recall_vs_exact"].min()) if len(got) else None})
        elif name == "retrieval_hybrid":
            hits = got.groupby("query_id").size() if len(got) else None
            ok = hits is not None and len(hits) == PROBES and int(hits.max()) <= K
            ctx.check("retrieval:hits_per_probe", ok,
                      {"probes": 0 if hits is None else len(hits),
                       "max_hits": None if hits is None else int(hits.max())})
    con.close()


def _normalize(df):
    import datetime

    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        first = df[c].dropna().iloc[0] if df[c].notna().any() else None
        if isinstance(first, datetime.date) or str(df[c].dtype).startswith("datetime64"):
            # Spark returns DATE as datetime.date, DuckDB as datetime64
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def compare_frames(got, want, rel_tol: float = 1e-9) -> str | None:
    """None when the two frames hold the same rows (order-insensitive,
    floats within ``rel_tol``), else a description of the first mismatch."""
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            xn, yn = _isnull(x), _isnull(y)
            if xn or yn:
                if xn != yn:
                    return f"{c}: {x!r} vs {y!r}"
            elif isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=rel_tol, abs_tol=1e-9):
                    return f"{c}: {x!r} vs {y!r}"
            elif str(x) != str(y):
                return f"{c}: {x!r} vs {y!r}"
    return None


def _isnull(v) -> bool:
    import pandas as pd

    return v is None or (np.isscalar(v) and bool(pd.isna(v)))


def frame_hash(df) -> str:
    """Order-insensitive digest of a result (floats to 6 significant
    digits), recorded with each oracle check."""
    rows = sorted(
        "|".join(f"{v:.6g}" if isinstance(v, float) else str(v) for v in r)
        for r in _normalize(df).itertuples(index=False)
    )
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()[:16]
