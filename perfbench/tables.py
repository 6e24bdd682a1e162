"""Deterministic star-schema tables for the benchmark.

The query registry and the consolidation store seed read these tables. They
come from a fixed seed, so query outputs can be pinned once (``pin.py``);
changing this file means re-pinning. Value conventions follow the
repository's test tables (TESTDATA.md): duplicate (l_orderkey,
l_linenumber) pairs, planted exact and near duplicate documents, unit-norm
embeddings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts per scale, as in the repository's test tables of that scale.
SCALES = {
    "sf0.01": dict(cust=1500, supp=100, part=2000, orders=15000,
                   line=60000, events=10000, docs=500, emb=500),
    "sf0.001": dict(cust=150, supp=10, part=200, orders=1500,
                    line=6000, events=1000, docs=500, emb=500),
}
DIMS = 64


def _write(out, name, cols):
    t = pa.table(cols)
    rgs = max(2048, -(-t.num_rows // 8))
    pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=rgs)


def _days(rng, lo, hi, n):
    lo64 = np.datetime64(lo, "D").astype(np.int64)
    hi64 = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(lo64, hi64 + 1, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def tables(out, scale):
    """Write the table set for ``scale`` into ``out`` (deterministic)."""
    n = SCALES[scale]
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(n["cust"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["cust"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["cust"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(0, 10000, n["cust"]), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n["cust"])]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n["supp"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supp"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supp"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n["supp"]), 2)})
    adjs = ["large", "hot", "blue", "old", "new", "small", "red", "green",
            "dark", "pale"]
    nouns = ["ring", "bolt", "plate", "tube", "gear", "wheel", "pin", "rod",
             "cap", "disk"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    ai = rng.integers(0, len(adjs), n["part"])
    ni = rng.integers(0, len(nouns), n["part"])
    _write(out, "part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(ai, ni)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [types[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n["part"]) / 10.0, 2)})
    stat = ["F", "O", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["cust"], no), pa.int64()),
        "o_orderstatus": [stat[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900, 400000, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, no)]})
    nl = n["line"]
    flags = ["A", "N", "R"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supp"], nl), pa.int64()),
        # linenumber 1..7 over random orderkeys: duplicate key pairs exist,
        # as in the repository's test tables
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [flags[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    etypes = ["click", "error", "purchase", "signup", "view"]
    span = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span, ne)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 7), ne), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(np.minimum(rng.exponential(60, ne), 999.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    vocab = ["spark", "batch", "part", "line", "column", "order", "small",
             "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
             "filter", "query", "table", "key", "stream", "join", "window",
             "data", "big", "merge", "vector", "customer", "the", "a"]
    langs = ["de", "en", "es", "fr", "zh"]
    nd = n["docs"]
    texts = [" ".join(vocab[j] for j in
                      rng.integers(0, len(vocab), int(rng.integers(8, 101))))
             for _ in range(nd)]
    lang = [langs[i] for i in rng.integers(0, 5, nd)]
    src = [f"src{i}" for i in rng.integers(0, 20, nd)]
    # planted exact duplicates (same block as their leader) ...
    for i in range(nd):
        if i % 60 in (1, 2):
            lead = i - i % 60
            texts[i], lang[i], src[i] = texts[lead], lang[lead], src[lead]
    # ... and near duplicates: one token substituted
    for i in range(29, nd, 29):
        toks = texts[i - 1].split()
        toks[len(toks) // 2] = "variant"
        texts[i], lang[i], src[i] = " ".join(toks), lang[i - 1], src[i - 1]
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts, "lang": lang, "source": src,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nm = n["emb"]
    labels = rng.integers(0, 10, nm)
    vecs = rng.normal(0, 1, (nm, DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(nm), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def store_seed(table_dir):
    """Keys and totals (in cents) of the invoice view the store is seeded
    from: one row per distinct (l_orderkey, l_linenumber), total = the sum of
    its extended prices rounded to cents."""
    t = pq.read_table(os.path.join(table_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_linenumber", "l_extendedprice"])
    ok = t.column("l_orderkey").to_numpy()
    ln = t.column("l_linenumber").to_numpy()
    cents = np.rint(t.column("l_extendedprice").to_numpy() * 100).astype(np.int64)
    totals = {}
    for o, l, c in zip(ok.tolist(), ln.tolist(), cents.tolist()):
        k = (str(o), str(l))
        totals[k] = totals.get(k, 0) + c
    return totals
