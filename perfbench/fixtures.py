"""Fixture tables and expected answers for the wire-level benchmark.

The tables follow the schemas of the engine's TPC-H-style fixtures
(see FIXTURES.md at the repository root), at roughly the sf0.01 size,
so that every statement of a run fits the benchmark's time budget.
They are generated from a FIXED seed: they are the data, not the
workload. The workload's inputs (keys, sizes, payloads, statement
order) come from the run's --seed inside the JVM.

Expected answers are computed once per fixture with DuckDB:
  - ClickBench: the engine's own DuckDB oracle for each cb query;
  - exports: row count and per-column checksums of lineitem;
  - point lookups: the orders rows and the hits UserID histogram;
  - LLM operators: the rows of each operator's oracle.
"""
import decimal
import json
import os
import zlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
N_ORDERS = 15000
N_LINEITEM = 60000
N_CUSTOMER = 1500
N_PART = 2000
N_SUPPLIER = 100
N_EVENTS = 10000
N_DOCS = 500
N_EMB = 1000
EMB_DIM = 64

VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window order data column join small customer query big "
         "group filter stream vector").split()
LANGS = ["en"] * 9 + ["zh", "zh", "de", "de", "fr", "fr", "es", "es"]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(seconds):
    return pa.array(seconds.astype("int64") * 1000, type=pa.timestamp("ms"))


def generate(out):
    """Write the ten fixture tables as parquet files under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    day = 86400
    base = 694224000  # 1992-01-01
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)})
    colors = ["red", "green", "blue", "small", "large", "steel"]
    things = ["widget", "ring", "bolt", "gear", "valve"]
    ptypes = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
    _write(out, "part", {
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": [f"{colors[i % 6]} {things[(i // 6) % 5]}" for i in range(N_PART)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [ptypes[i] for i in rng.integers(0, 5, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype("int64"),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts(base + rng.integers(0, 2400, N_ORDERS) * day),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, N_ORDERS)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype("int64"),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype("int64"),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype("int64"),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype("int32"),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(base + rng.integers(0, 2500, N_LINEITEM) * day)})
    etypes = ["click", "view", "error", "purchase"]
    ev_ts = 1704067200 * 1000000 + np.sort(rng.integers(0, 30 * day * 1000000, N_EVENTS))
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 100, N_EVENTS).astype("int64"),
        "event_type": [etypes[i] for i in rng.integers(0, 4, N_EVENTS)],
        "value": np.round(rng.uniform(0, 100, N_EVENTS), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)]})
    # documents: random word sequences, with near-duplicates (one word
    # changed) and exact duplicates so the dedup operators find pairs
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.08:
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(src))
        elif i > 20 and r < 0.12:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = rng.uniform(-0.5, 0.5, (N_EMB, EMB_DIM)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 3, N_EMB).astype("int32")})


def _cell(v):
    """Text form of a DuckDB value, as the TSV checker compares it."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _split_row(r):
    """A result row as (exact key, inexact numbers), mirrored by the JVM
    side: integers, strings and booleans (as 1/0) form the key, floats
    and decimals are compared with a tolerance."""
    key, nums = [], []
    for v in r:
        if isinstance(v, (float, decimal.Decimal)):
            nums.append(float(v))
        elif isinstance(v, bool):
            key.append("1" if v else "0")
        else:
            key.append(_cell(v))
    return ["|".join(key), nums]


def expected(data, prepared, out):
    """Compute expected answers from the fixture files and the statement
    texts the JVM dumped (`prepared`/cb.tsv, llm.tsv)."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    res = {}
    cb = {}
    with open(os.path.join(prepared, "cb.tsv")) as f:
        for line in f:
            name, _sql, oracle = line.rstrip("\n").split("\t")
            oracle = json.loads(oracle)
            cb[name] = [[_cell(v) for v in r] for r in con.execute(oracle).fetchall()]
    res["cb"] = cb
    llm = {}
    with open(os.path.join(prepared, "llm.tsv")) as f:
        for line in f:
            name, oracle = line.rstrip("\n").split("\t")
            rows = con.execute(json.loads(oracle)).fetchall()
            llm[name] = sorted((_split_row(r) for r in rows), key=lambda x: (x[0], x[1]))
    res["llm"] = llm
    # lineitem export checks: count, per-column sums (numeric columns;
    # timestamps as epoch seconds) and crc32 sums (strings)
    li = {"rows": con.execute("SELECT count(*) FROM lineitem").fetchone()[0]}
    for name, typ, *_ in con.execute("DESCRIBE lineitem").fetchall():
        if typ == "VARCHAR":
            vals = [v for (v,) in con.execute(f"SELECT {name} FROM lineitem").fetchall()]
            li[name] = sum(zlib.crc32(v.encode()) for v in vals)
        elif typ.startswith("TIMESTAMP"):
            li[name] = con.execute(f"SELECT sum(epoch({name}))::BIGINT FROM lineitem").fetchone()[0]
        else:
            li[name] = con.execute(f"SELECT sum({name})::DOUBLE FROM lineitem").fetchone()[0]
    res["lineitem"] = li
    res["orders"] = [[k, c, s, p] for (k, c, s, p) in con.execute(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "ORDER BY o_orderkey").fetchall()]
    with open(os.path.join(prepared, "hits_users.sql")) as f:
        users = con.execute(f.read()).fetchall()
    res["hits_users"] = [[int(u), int(c)] for (u, c) in users]
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(res, f)
