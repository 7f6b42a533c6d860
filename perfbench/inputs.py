"""Seeded input generators for the workloads.

Everything here is a pure function of ``seed`` (and a size), so the same
seed always gives byte-identical inputs:

- ``catalog_tables``: the ten catalog tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) in the shape of the catalog's
  reference test data, at scale factor ``sf``.
- ``bronze_hour``: one hour of wire-shaped trades for the medallion leg,
  with duplicate trade ids and stragglers below the fact's high-water
  mark; ``aggtrades``: the REST responses its backfill fetches.
- ``envelopes``: Binance combined-stream messages for the ingest leg, with
  malformed, non-trade and missing-field noise.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SYMBOLS = ("BTCUSDT", "ETHUSDT", "BNBUSDT")
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so resizing one table leaves the
    others' rows unchanged."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's ten tables at scale factor ``sf`` (sf0.1 is about
    600k lineitem rows)."""
    n_cust = max(int(150_000 * sf), 30)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 40)
    n_ord = max(int(1_500_000 * sf), 300)
    n_li = max(int(6_000_000 * sf), 1200)
    n_ev = max(int(1_000_000 * sf), 500)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 100)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(r, n_ord, "1995-01-01", 2404),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })

    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(r.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _days(r, n_li, "1995-01-02", 2498),
    })

    r = _rng(seed, "events")
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": base + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(int(15_000 * sf), 50), n_ev, dtype=np.int64),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng(seed, "documents")
    lens = r.integers(10, 101, n_doc)
    words = np.array(_WORDS)
    texts = [" ".join(words[r.integers(0, len(_WORDS), n)]) for n in lens]
    # 5% near-duplicates (a copy plus one token) and a few exact copies:
    # the dedup, MinHash and SimHash queries need real positives
    for i in r.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    for i in r.choice(n_doc, max(n_doc // 600, 2), replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[r.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    x = r.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


# ---------------------------------------------------------------------------
# medallion: hourly bronze
# ---------------------------------------------------------------------------

#: First hour of the medallion history (UTC, epoch ms).
T0_MS = int(datetime(2024, 6, 3, 0, 0, tzinfo=timezone.utc).timestamp() * 1000)
HOUR_MS = 3_600_000


def bronze_hour(seed: int, hour: int, n: int, dup_rate: float = 0.01,
                late_rows: int = 0) -> pa.Table:
    """Wire-shaped flat trades (epoch-ms longs, string decimals) for hour
    ``hour`` after ``T0_MS``; trade ids are unique per hour. ``dup_rate`` of
    the rows repeat the trade before them (re-ingest duplicates), and
    ``late_rows`` stragglers carry event times from the previous hour with
    fresh trade ids, so they land below the fact's high-water mark."""
    r = _rng(seed, f"bronze{hour}")
    start = T0_MS + hour * HOUR_MS
    ts = np.sort(r.integers(start, start + HOUR_MS, n))
    ids = hour * 1_000_000 + np.arange(n, dtype=np.int64)
    dup = r.random(n) < dup_rate
    dup[0] = False
    ids = np.where(dup, ids - 1, ids)
    ts = np.where(dup, np.roll(ts, 1), ts)
    late_ts = np.sort(r.integers(start - HOUR_MS, start, late_rows))
    ids = np.concatenate([ids, hour * 1_000_000 + 900_000 + np.arange(late_rows)])
    ts = np.concatenate([ts, late_ts])
    m = n + late_rows
    sym = np.array(SYMBOLS)[r.integers(0, 3, m)]
    return pa.table({
        "trade_id": ids,
        "symbol": sym,
        "price": _decimal(r.integers(10_000, 15_000, m), 2),
        "quantity": _decimal(r.integers(0, 10_000, m), 4),
        "event_time": ts,
        "trade_time": ts - 2,
        "buyer_order_id": 10_000 + np.arange(m, dtype=np.int64),
        "seller_order_id": 20_000 + np.arange(m, dtype=np.int64),
        "is_buyer_maker": (np.arange(m) & 1).astype(bool),
        "ingest_time": ts + 500,
    })


def _decimal(units: np.ndarray, places: int) -> pa.Array:
    """Wire-format decimal strings (``"126.28"``) from integer units."""
    scale = 10 ** places
    whole = pc.cast(pa.array(units // scale), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(units % scale), pa.string()), places, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def aggtrades(seed: int, hour: int, symbol: str, n: int, dup_rate: float, late_rows: int,
              limit: int) -> list[dict]:
    """What a REST aggTrades call returns for ``symbol`` in ``hour``: the
    first ``limit`` of that hour's trades as ``bronze_hour`` generates them."""
    t = bronze_hour(seed, hour, n, dup_rate, late_rows if hour else 0).to_pydict()
    start = T0_MS + hour * HOUR_MS
    out = []
    for i in range(len(t["trade_id"])):
        if t["symbol"][i] == symbol and start <= t["event_time"][i] < start + HOUR_MS:
            out.append({"a": t["trade_id"][i], "p": t["price"][i], "q": t["quantity"][i],
                        "T": t["event_time"][i], "m": t["is_buyer_maker"][i]})
            if len(out) == limit:
                break
    return out


# ---------------------------------------------------------------------------
# ingest: envelope messages
# ---------------------------------------------------------------------------


def envelopes(seed: int, n: int) -> tuple[list[str], int]:
    """``n`` combined-stream messages over three hours: 1% malformed JSON,
    2% non-trade events, 1% missing ``q``. Returns (messages, number of
    valid trades the bronze table must end up with)."""
    r = _rng(seed, "envelopes")
    roll = r.random(n)
    price = 100.0 + r.random(n) * 50.0
    qty = r.random(n)
    base = T0_MS + 9 * HOUR_MS
    out, valid = [], 0
    for i in range(n):
        sym = SYMBOLS[i % 3]
        if roll[i] < 0.01:
            out.append('{"stream": "oops", "data": {broken')
            continue
        t_ms = base + (i * 3 * HOUR_MS) // n
        data = {
            "e": "trade", "E": t_ms, "s": sym, "t": seed * 10_000_000 + i,
            "p": f"{price[i]:.2f}", "q": f"{qty[i]:.4f}", "b": 10_000 + i,
            "a": 20_000 + i, "T": t_ms - 3, "m": bool(i & 1), "M": True,
        }
        if roll[i] < 0.03:
            data["e"] = "aggTrade"
        else:
            valid += 1
            if roll[i] < 0.04:
                del data["q"]
        out.append(json.dumps({"stream": f"{sym.lower()}@trade", "data": data}))
    return out, valid
