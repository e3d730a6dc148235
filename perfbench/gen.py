"""Seeded input generators for the graft benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files. The relational tables mirror the schemas,
value domains and row ratios of graft's TPC-H-style fixtures
(FIXTURES.md); the edge and message generators add the traffic
properties each workload varies (near-duplicate share, hub skew,
partition-key skew).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Message bodies draw from a vocabulary large enough that unrelated
# bodies share almost no word 3-grams, so a band collision between two
# bodies means one was derived from the other.
VOCAB = [f"w{i}" for i in range(4096)]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tpch(out_dir, seed, sf):
    """The eight-table star schema at scale factor `sf` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = pa.int32()
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = ["red", "blue", "hot", "old", "small", "large", "green", "dark"]
    nouns = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "pipe"]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li)})


def texts(rng, n, min_words=10, max_words=99):
    """`n` bodies of 10-99 words each."""
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def near_dup(rng, text):
    """A near-duplicate: one word of the original replaced, so most
    shingles (and LSH bands) survive and the copy collides."""
    ws = text.split(" ")
    ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(ws)


def bodies_with_dups(rng, n, dup_share):
    """`n` bodies in which `dup_share` of them are near-duplicates of an
    earlier body. Returns (texts, origin) where origin[i] is the index
    of the first body of i's copy chain, or -1 for an original."""
    out, origin = [], np.full(n, -1, dtype=np.int64)
    fresh = texts(rng, n)
    is_dup = rng.random(n) < dup_share
    for i in range(n):
        if i > 0 and is_dup[i]:
            j = int(rng.integers(0, i))
            out.append(near_dup(rng, out[j]))
            origin[i] = origin[j] if origin[j] >= 0 else j
        else:
            out.append(fresh[i])
    return out, origin


def edges(out_dir, seed, n_nodes, n_edges, skew):
    """Undirected hub-skewed graph: one endpoint Zipf(`skew`) over node
    rank, the other uniform; self-loops and repeats dropped; written
    in both directions as (src, dst). Returns the degree figures of the
    graph written."""
    rng = np.random.default_rng([seed, 3])
    p = 1.0 / np.arange(1, n_nodes + 1) ** skew
    perm = rng.permutation(n_nodes)
    a = perm[rng.choice(n_nodes, n_edges, p=p / p.sum())]
    b = rng.integers(0, n_nodes, n_edges)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    pairs = np.unique(np.stack([lo, hi], axis=1)[lo != hi], axis=0)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]]).astype(np.int64)
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]]).astype(np.int64)
    _write(f"{out_dir}/edges.parquet", {"src": src, "dst": dst})
    deg = np.sort(np.bincount(src))[::-1]
    deg = deg[deg > 0]
    return {"graph.nodes": int(deg.size), "graph.edges": int(pairs.shape[0]),
            "graph.max_degree": int(deg[0]), "graph.mean_degree": float(deg.mean()),
            "graph.top1pct_degree_share": float(deg[:max(1, deg.size // 100)].sum() / deg.sum())}


def messages(out_dir, seed, n_msgs, n_keys, key_skew, dup_share):
    """Message bodies for the stream workload, in publish order:
    doc_id (= publish order), Zipf(`key_skew`)-skewed partition key, and
    body text with a `dup_share` of near-duplicates. A near-duplicate
    reuses its original's partition key, so both land on one shard and
    the shard's order keeps the original ahead of the copy. Returns the
    share of bodies written as near-duplicates."""
    rng = np.random.default_rng([seed, 4])
    txt, origin = bodies_with_dups(rng, n_msgs, dup_share)
    p = 1.0 / np.arange(1, n_keys + 1) ** key_skew
    keys = rng.choice(n_keys, n_msgs, p=p / p.sum())
    keys = np.where(origin >= 0, keys[np.maximum(origin, 0)], keys)
    _write(f"{out_dir}/messages.parquet", {
        "doc_id": np.arange(n_msgs, dtype=np.int64),
        "partition_key": [f"key-{k}" for k in keys],
        "text": txt})
    return {"messages.near_dup_share": float((origin >= 0).mean())}

