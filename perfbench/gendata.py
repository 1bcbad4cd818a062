"""Seeded input tables for the benchmark.

Same star schema + LLM tables and the same distributions as
`tools/gen_scale_data.py` (zipf document vocabulary), with the seed as
an argument instead of a constant.  The benchmark owns this copy so
that two commits measured with the same seed read byte-identical
inputs even if the repo's own generator changes.

Row counts scale linearly with sf (sf0.1: customer 15k, supplier 1k,
part 20k, orders 150k, lineitem ~600k, events 100k, documents 5k,
embeddings 2k; region/nation fixed).

Usage: python3 perfbench/gendata.py SF OUTDIR SEED
"""
from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "scroll", "login"]
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "gizmo"]
DAY_NS = 86400 * 10**9
SHAPE_SEED = 1042  # the near-duplicate graph; see _documents


def _write(out: str, name: str, table: pa.Table) -> None:
    # >= 32 row groups on big tables so a scan splits into several tasks
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(4096, table.num_rows // 32))


def _days(rng, base: str, lo: int, hi: int, n: int) -> np.ndarray:
    return (np.datetime64(base).astype("datetime64[ns]")
            + (rng.integers(lo, hi, n) * DAY_NS).astype("timedelta64[ns]"))


def _documents(rng, n_doc: int) -> list[str]:
    """~95% fresh, ~4.3% mutated near-dup of an earlier doc, ~0.2% exact
    dup; zipf token ids whose head maps onto VOCAB.

    Which document copies or mutates which, every length and every
    mutated position come from a fixed-seed generator; `rng` (the run's
    seed) draws the words.  The near-duplicate graph is thus the same for
    every seed: connected-components rounds grow with its diameter, and
    a per-seed graph changed the curation pass by up to 2x."""
    shape = np.random.default_rng(SHAPE_SEED)

    def words(n: int) -> list[str]:
        return [str(VOCAB[z - 1]) if z <= len(VOCAB) else f"w{z}"
                for z in rng.zipf(1.5, n)]

    docs: list[str] = []
    for i in range(n_doc):
        r = shape.random()
        if i > 10 and r < 0.002:
            docs.append(docs[int(shape.integers(0, i))])
        elif i > 10 and r < 0.045:
            base = docs[int(shape.integers(0, i))].split(" ")
            for _ in range(max(1, len(base) // 12)):
                base[int(shape.integers(0, len(base)))] = words(1)[0]
            docs.append(" ".join(base))
        else:
            docs.append(" ".join(words(int(shape.integers(9, 116)))))
    return docs


def gen(sf: float, out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    k = sf / 0.1
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    n_cust, n_supp, n_part = int(15000 * k), int(1000 * k), int(20000 * k)
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": np.array(BRANDS)[rng.integers(0, 25, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}))

    n_ord = int(150000 * k)
    o_dates = _days(rng, "1995-01-01", 0, 2404, n_ord)
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(850, 356000, n_ord), 2),
        "o_orderdate": pa.array(o_dates.astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    lines_per = rng.integers(1, 8, n_ord)  # ~4 lines per order
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_orderkey)
    l_linenumber = (np.arange(n_li, dtype=np.int64)
                    - np.repeat(np.cumsum(lines_per) - lines_per,
                                lines_per) + 1).astype(np.int32)
    l_ship = (np.repeat(o_dates, lines_per)
              + (rng.integers(1, 122, n_li) * DAY_NS)
              .astype("timedelta64[ns]"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_linenumber),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.choice(3, n_li, p=[0.25, 0.5, 0.25])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(l_ship.astype("datetime64[us]"))}))

    n_ev, n_users = int(100000 * k), int(1500 * k)
    ts = (np.datetime64("2024-01-01").astype("datetime64[ns]")
          + rng.integers(0, 30 * DAY_NS, n_ev).astype("timedelta64[ns]"))
    ts.sort()
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": np.array(EVENT_TYPES)[
            rng.choice(5, n_ev, p=[0.35, 0.35, 0.1, 0.15, 0.05])],
        "value": np.round(rng.exponential(50, n_ev), 4),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]}))

    n_doc = int(5000 * k)
    docs = _documents(rng, n_doc)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": docs,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(d) for d in docs],
                                     dtype=np.int64))}))

    n_emb = int(2000 * k)  # 10 Gaussian clusters in 64 dims
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels]
            + rng.normal(0, 0.35, (n_emb, 64))).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}))


def ensure(root: str, sf: float, seed: int) -> str:
    """Generate (once) and return the table dir for (seed, sf) under
    `root`; a finished dir carries a `.done` marker."""
    out = os.path.join(root, f"seed{seed}_sf{sf:g}")
    if not os.path.exists(os.path.join(out, ".done")):
        tmp = out + f".tmp{os.getpid()}"
        gen(sf, tmp, seed)
        if os.path.isdir(out):
            import shutil
            shutil.rmtree(out)
        os.rename(tmp, out)
        open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: python3 perfbench/gendata.py SF OUTDIR SEED")
    gen(float(sys.argv[1]), sys.argv[2], int(sys.argv[3]))
