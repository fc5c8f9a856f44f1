"""Seeded tables for the driver_mix workload.

Writes the seven parquet tables the driver_mix queries read (region,
nation, customer, orders, lineitem, documents, embeddings) with the same
column names and Arrow types as the engine's driver test data, at a small
scale, so the workload needs nothing outside its own checkout:

- orders/lineitem: each order holds 1-7 parts, which gives the
  co-purchase graph the graph queries walk, and customer 42 (the one the
  served timeline query asks for) always has orders;
- documents: text over a small vocabulary that includes the served
  queries' terms ("spark", "query"), with about a tenth of the documents
  near-copies of an earlier one, so the dedup clusters are not trivial;
- embeddings: 64-dim float vectors around a few labelled centres.

Usage: python3 perfbench/driver_data.py <outdir> <seed>
"""
import sys
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 1500
ORDERS = 8000
PARTS = 1600
SUPPLIERS = 100
DOCUMENTS = 400
EMBEDDINGS = 500
DIM = 64
PROBED_CUSTOMER = 42

WORDS = ("spark query data table join scan filter group order sort key "
         "value row column part line batch stream window merge hash agg "
         "index big small fast slow the a customer vector search rank "
         "graph node edge").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "fr", "de", "es", "zh"]


def days(rng, n, start=datetime(1992, 1, 1), span=2500):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def generate(out: Path, seed: int) -> None:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, CUSTOMERS))})
    custkey = rng.integers(0, CUSTOMERS, ORDERS)
    # q_user_timeline_served asks for Customer#000000042's orders; give it
    # some on every seed, so the query never answers with nothing
    custkey[:6] = PROBED_CUSTOMER
    write(out, "orders", {
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array(custkey, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, ORDERS), 2)),
        "o_orderdate": pa.array(days(rng, ORDERS), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, ORDERS))})

    per = rng.integers(1, 8, ORDERS)
    n = int(per.sum())
    okey = np.repeat(np.arange(ORDERS), per)
    line = np.concatenate([np.arange(1, k + 1) for k in per])
    qty = rng.integers(1, 51, n).astype(float)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(days(rng, n, span=2700), pa.timestamp("us"))})

    texts = []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(20, 80))))
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, DOCUMENTS)),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centres = rng.normal(0, 0.1, (4, DIM))
    label = rng.integers(0, 4, EMBEDDINGS)
    vecs = (centres[label] + rng.normal(0, 0.05, (EMBEDDINGS, DIM))).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    generate(Path(sys.argv[1]), int(sys.argv[2]))
