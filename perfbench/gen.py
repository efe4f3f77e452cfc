"""Seeded input generator for the benchmark workloads.

Every table is written with the column names and Arrow types of the
repository's synthetic test tables (the TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables), so the DuckDB
oracles registered in ``__spark_entry__`` apply to the generated files
unchanged.  All randomness comes from one ``numpy.random.Generator``
per table, seeded from ``(seed, table name)``: the same seed gives the
same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# Stated input sizes; BENCHMARK.json repeats them in each workload's why.
TS_EVENTS = 10_000          # ts_ops: event stream length
TS_USERS = 500              # ts_ops: distinct user ids the Zipf draw ranges over
TS_ZIPF_S = 1.1             # ts_ops: Zipf exponent of the user skew
ETL_SF = 0.01               # frame_etl: sf0.1 table proportions at this scale
ETL_EVENTS = 10_000         # frame_etl: events rows for append / union ops
ETL_UPDATES = 0.1           # frame_etl: upsert batch size as a share of orders
DEDUP_DOCS = 600            # dedup_corpus: documents
DEDUP_VECS = 600            # dedup_corpus: 64-dim embeddings

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "red", "small", "large", "green", "dark"],
              ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"])
DIM = 64
SPLIT_FILES = 3             # frame_etl: files per split table

# the frame_etl tables whose row order and file split the seed permutes
_SPLIT_TABLES = ("customer", "supplier", "part", "orders", "lineitem")


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _ts_us(day: dt.date) -> int:
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo: dt.date, hi: dt.date, n):
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_ts_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def events(seed: int, n: int, n_users: int, zipf_s: float) -> pa.Table:
    """Event stream over January 2024, ``ts`` strictly increasing with
    ``event_id`` and each event's user drawn with Zipf(``zipf_s``) skew."""
    rng = _rng(seed, "events")
    span_us = 30 * 86_400_000_000 - 60_000_000
    gaps = rng.exponential(span_us / n, n)
    ts = _ts_us(dt.date(2024, 1, 1)) + 10_000_000 + np.cumsum(gaps).astype(np.int64) \
        + np.arange(n)  # strictly increasing even when a gap rounds to 0
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    # the rank -> user id map is fixed, so the hot users (and the shuffle
    # partitions they hash to) are the same for every seed
    users = np.random.default_rng(0).permutation(n_users)[rng.choice(n_users, n, p=p / p.sum())]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tpch(seed: int, sf: float) -> dict[str, pa.Table]:
    """Star-schema tables with the sf0.1 test tables' proportions
    (customer 150k·sf, supplier 10k·sf, part 200k·sf, orders 1.5M·sf,
    lineitem 6M·sf) and value ranges."""
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_c)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_c)),
        "c_mktsegment": _pick(r, SEGMENTS, n_c),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_s)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_s)),
    })
    r = _rng(seed, "part")
    colors, things = PART_WORDS
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in
                            zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_p)]),
        "p_type": _pick(r, PART_TYPES, n_p),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_o),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_o)),
        "o_orderdate": _dates(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_o),
        "o_orderpriority": _pick(r, PRIORITIES, n_o),
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(r.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(r, ["F", "O"], n_l),
        "l_shipdate": _dates(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_l),
    })
    return out


def order_updates(seed: int, orders: pa.Table, share: float) -> pa.Table:
    """Upsert batch for ``orders``: half re-prices existing orders, half
    are new order keys past the current maximum."""
    r = _rng(seed, "orders_updates")
    n_o = orders.num_rows
    n = max(2, int(n_o * share))
    old = np.sort(r.choice(n_o, n // 2, replace=False))
    upd = orders.take(pa.array(old))
    upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice",
                         pa.array(_money(r, 1000.0, 500000.0, len(old))))
    n_new = n - len(old)
    new = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, n_o + n_new), pa.int64()),
        "o_custkey": pa.array(r.integers(0, max(1, n_o // 10), n_new), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_new),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_new)),
        "o_orderdate": _dates(r, dt.date(2001, 8, 2), dt.date(2001, 12, 31), n_new),
        "o_orderpriority": _pick(r, PRIORITIES, n_new),
    }, schema=orders.schema)
    return pa.concat_tables([upd, new])


def documents(seed: int, n: int) -> tuple[pa.Table, dict]:
    """Word-salad documents over the test corpus vocabulary.  A
    seed-drawn share are near-duplicates (about a tenth of the words
    substituted, plus a trailing ``dup`` token, as in the test corpus)
    and a smaller share are exact duplicates up to case and spacing.
    A seed-drawn share of the duplicates copy a document of the
    existing corpus (``doc_id % 3 == 0``, the existing/new split of the
    incremental_dedup op), the rest copy any earlier document."""
    r = _rng(seed, "documents")
    near_frac = float(r.uniform(0.08, 0.12))
    exact_frac = near_frac / 3
    cross_frac = float(r.uniform(0.3, 0.7))
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    kinds = r.random(n)
    for i in range(n):
        k = kinds[i]
        if i > 3 and k < near_frac + exact_frac:
            if r.random() < cross_frac:
                src = 3 * int(r.integers(0, (i - 1) // 3 + 1))
            else:
                src = int(r.integers(0, i))
            toks = texts[src].split()
            if k < near_frac:
                toks = [t for t in toks if t != "dup"]
                hit = r.random(len(toks)) < 0.1
                for j in np.flatnonzero(hit):
                    toks[j] = words[r.integers(0, len(words))]
                texts.append(" ".join(toks) + " dup")
            else:
                texts.append("  ".join(toks).upper())
            continue
        texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 101)))]))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {"near_dup_frac": round(near_frac, 4),
                   "exact_dup_frac": round(exact_frac, 4),
                   "existing_source_frac": round(cross_frac, 4)}


def embeddings(seed: int, n: int) -> tuple[pa.Table, dict]:
    """Gaussian 64-dim vectors (unit-ish norm) with a seed-drawn share of
    planted near-duplicates: an earlier vector plus small noise."""
    r = _rng(seed, "embeddings")
    dup_frac = float(r.uniform(0.08, 0.12))
    vecs = r.normal(0.0, 1.0 / np.sqrt(DIM), (n, DIM)).astype(np.float32)
    for i in np.flatnonzero(r.random(n) < dup_frac):
        if i > 0:
            vecs[i] = vecs[r.integers(0, i)] + r.normal(0.0, 0.04, DIM).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    table = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * DIM + 1, DIM),
                                                       pa.int32()), flat),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })
    return table, {"near_dup_frac": round(dup_frac, 4)}


def _write(table: pa.Table, out_dir: str, name: str, rng=None) -> None:
    """Write ``name.parquet``.  With ``rng``, rows are permuted and split
    over ``SPLIT_FILES`` files of a ``name.parquet`` directory at
    seed-drawn cuts."""
    path = os.path.join(out_dir, f"{name}.parquet")
    if rng is None:
        pq.write_table(table, path)
        return
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), SPLIT_FILES - 1, replace=False))
    os.makedirs(path)
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, table.num_rows])):
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the inputs of ``workload`` into ``out_dir``.  Returns
    ``{"rows": {table: n}, "params": {...}}``."""
    os.makedirs(out_dir, exist_ok=True)
    params: dict = {}
    if workload == "ts_ops":
        tables = {"events": events(seed, TS_EVENTS, TS_USERS, TS_ZIPF_S)}
        params = {"zipf_s": TS_ZIPF_S, "users": TS_USERS}
        for name, t in tables.items():
            _write(t, out_dir, name)
    elif workload == "frame_etl":
        tables = tpch(seed, ETL_SF)
        tables["events"] = events(seed, ETL_EVENTS, int(15_000 * ETL_SF), TS_ZIPF_S)
        tables["orders_updates"] = order_updates(seed, tables["orders"], ETL_UPDATES)
        split = _rng(seed, "split")
        for name, t in tables.items():
            _write(t, out_dir, name, split if name in _SPLIT_TABLES else None)
        params = {"sf": ETL_SF}
    elif workload == "dedup_corpus":
        docs, p_docs = documents(seed, DEDUP_DOCS)
        emb, p_emb = embeddings(seed, DEDUP_VECS)
        tables = {"documents": docs, "embeddings": emb}
        for name, t in tables.items():
            _write(t, out_dir, name)
        params = {"documents": p_docs, "embeddings": p_emb}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"rows": {k: t.num_rows for k, t in tables.items()}, "params": params}
