"""Seeded TPC-H-ish input tables for the gate_flow workload.

The tables have the schemas and value distributions of the gate's test data
(a star schema plus `events` and `documents`), scaled by `sf`: at sf 0.01
there are 15,000 orders and about 60,000 line items. The same seed and scale
give the same tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["widget", "gear", "bolt", "ring", "plate", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """Returns {name: pyarrow.Table} for every gate_flow input table."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(STATUS, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    return out


def write(seed, sf, outdir, names):
    """Writes the named tables as `<outdir>/<name>.parquet`."""
    for name, table in tables(seed, sf).items():
        if name in names:
            pq.write_table(table, f"{outdir}/{name}.parquet")
