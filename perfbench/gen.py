"""Seeded input generator for the benchmark.

Writes the tables a workload reads as `<out>/<table>.parquet`, in the
layout and column types `graft.sources.Tables` reads (one parquet file
per table, one row group, timestamps as naive microseconds). The same
seed always gives byte-identical tables; the program under test sees
only these files.

Value domains follow the sf0.1 testdata the engine is developed
against: a TPC-H-style star schema, an `events` log and a synthetic
text corpus over a 30-word vocabulary.  The corpus plants a fixed
share of exact and near duplicates so the dedup stages have work.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PADJ = np.array(["large", "hot", "blue", "old", "cold", "red"])
PNOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"])
STATUS = np.array(["O", "P", "F"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RFLAG = np.array(["A", "N", "R"])
LSTATUS = np.array(["O", "F"])
EVTYPES = np.array(["signup", "click", "error", "view", "purchase"])

# Share of documents that are verbatim copies of an earlier document,
# and share that are an earlier document with one word replaced.
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10

SHAPE_SEED = 20240101
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000      # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000    # 2024-01-01T00:00:00


def _write(out, name, cols):
    """Write one table; returns (rows, bytes on disk)."""
    path = f"{out}/{name}.parquet"
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows, os.path.getsize(path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def relational(out, rng, scale=1.0):
    """TPC-H-style star tables plus `events`, at sf0.1 row counts times
    `scale`. Orders reference existing customers and lineitems existing
    orders, parts and suppliers."""
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_ev = int(150000 * scale), int(100000 * scale)
    stats = {}
    stats["region"] = _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    stats["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    stats["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    stats["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    stats["part"] = _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(PADJ[rng.integers(0, 6, n_part)], " "),
                              PNOUN[rng.integers(0, 7, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    stats["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": STATUS[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": PRIORITY[rng.integers(0, 5, n_ord)]})
    # ~4 lines per order, as in sf0.1; a few orders get none. The count
    # per order is the same for every seed, so every seed scans as much.
    per = np.clip(shape_rng().poisson(4.0, n_ord), 0, 17)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    stats["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": RFLAG[rng.integers(0, 3, n_li)],
        "l_linestatus": LSTATUS[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, n_li) * DAY_US)})
    ets = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    stats["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": EVTYPES[rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(100.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return stats


def shape_rng():
    """The corpus shape (lengths, languages, which documents copy which)
    is the same for every seed, so every seed does the same amount of
    dedup, BPE and packing work; the seed draws the words."""
    return np.random.default_rng(SHAPE_SEED)


def doc_texts(rng, n):
    """`n` texts of 10-99 words; EXACT_DUP_SHARE of them repeat an
    earlier text verbatim and NEAR_DUP_SHARE repeat one with a single
    word replaced."""
    shape = shape_rng()
    words = np.array(WORDS)
    lengths = shape.integers(10, 100, n)
    kinds = shape.choice(3, n, p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE,
                                  EXACT_DUP_SHARE, NEAR_DUP_SHARE])
    sources = [int(shape.integers(0, max(1, i))) for i in range(n)]
    edits = shape.integers(0, 1 << 30, n)
    texts = []
    for i in range(n):
        if i == 0 or kinds[i] == 0:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
            continue
        src = texts[sources[i]].split(" ")
        if kinds[i] == 2:
            src[edits[i] % len(src)] = "dup"
        texts.append(" ".join(src))
    return texts


def documents(out, rng, n, first_id=0):
    texts = doc_texts(rng, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return _write(out, "documents", {
        "doc_id": pa.array(ids),
        "text": texts,
        "lang": LANGS[shape_rng().choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def _feed(out, rng, plan, first_id, t0_us):
    """Write one feed: a file per tick, `plan` = [(due_s, docs)]."""
    os.makedirs(out)
    n = sum(k for _, k in plan)
    texts = doc_texts(rng, n)
    rows, i = [], 0
    with open(f"{out}/schedule.csv", "w") as sched:
        sched.write("file,due_s,docs\n")
        for j, (due, k) in enumerate(plan):
            name = f"{j:05d}.parquet"
            ids = np.arange(first_id + i, first_id + i + k, dtype=np.int64)
            ts = np.full(k, t0_us + int(due * 1e6), dtype=np.int64)
            table = pa.table({"doc_id": pa.array(ids), "text": texts[i:i + k],
                              "ingest_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC"))})
            pq.write_table(table, f"{out}/{name}")
            rows.append(table)
            sched.write(f"{name},{due:.3f},{k}\n")
            i += k
    return pa.concat_tables(rows)


def stream_feed(out, rng, rates, segment_s, tick):
    """An open-loop feed: `segment_s` seconds at each rate in turn, one
    file every `tick` seconds; plus a short warm-up feed. `fed.parquet`
    holds every document of the timed feed, for the output check."""
    plan = []
    for s, rate in enumerate(rates):
        ticks = int(round(segment_s / tick))
        per = rate * tick
        for t in range(ticks):
            k = int(round(per * (t + 1))) - int(round(per * t))
            if k:
                plan.append((s * segment_s + t * tick, k))
    fed = _feed(f"{out}/feed", rng, plan, 0, EPOCH_2024_US)
    _feed(f"{out}/warm", rng, [(0.0, 20)], 10_000_000, EPOCH_2024_US)
    pq.write_table(fed, f"{out}/fed.parquet")
    return {"feed": (fed.num_rows, os.path.getsize(f"{out}/fed.parquet"))}
