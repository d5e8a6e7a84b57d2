"""Seeded input generators for the benchmark.

Two data sets, both written as parquet in the schemas the engine reads
(`graft.Tables`):

* ``write_base(dir, seed)``: an sf0.1-sized copy of the ten fixture tables
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``). The
  ``topk-search`` workload and the pipeline-query probe run on it. It is
  always generated with ``BASE_SEED`` so the golden row hashes of the
  pipeline queries stay valid; the run's ``--seed`` picks the queries
  instead.
* ``write_pairs(dir, seed)``: the ``pair-joins`` trajectory set, one
  ``events.parquet`` holding only ``purchase`` events. Trajectories come in
  spatial clusters and have a wide spread of lengths, so the sliced-box
  bound and the STR tiles prune.

Both functions are pure functions of their seed: the same seed gives the
same bytes (``content_hash`` shows it). ``write_oracle`` reads a data set's
trajectories back, outside the engine, for the benchmark's result checks.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Bump when a generator changes: cached data under another version is
# never reused.
VERSION = 3

# pair-joins sizing: 1000 trajectories of 4..32 points, log-uniform
# (median ~11, mean ~13, like sf0.1's ~13 but spread from 4 to 32), in 24
# clusters. Chosen to fit the run budget: at this size the costliest op
# (the brute kNN join over all 0.5M pairs) takes ~1 s on 4 cores and the
# cold set-up (JVM start, with the four first calls that build the
# all-pairs, STR and kNN artifacts) 25-35 s, so a run with its 12 s window
# ends in about a minute and a full set of seeded runs of both workloads
# stays under an hour.
# The clusters are what make the sliced-box bound and the STR tiles
# prune, which sf0.1's uniform data never lets them do.
PAIR_USERS = 1000
PAIR_CLUSTERS = 24  # a 6 x 4 grid
PAIR_MIN_POINTS = 4
PAIR_MAX_POINTS = 32

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "index", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

JAN_2024_US = 1704067200000000
DAY_US = 86400 * 10**6


def _write(dir_, name, cols):
    # one row group, no statistics drift: identical bytes for identical data
    pq.write_table(pa.table(cols), os.path.join(dir_, name + ".parquet"),
                   compression="snappy", use_dictionary=True)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(us):
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def write_base(dir_, seed=BASE_SEED):
    rng = np.random.default_rng(seed)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(dir_, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": regions})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n_supp, n_cust, n_part, n_ord = 1000, 15000, 20000, 150000
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(dir_, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    adj = np.array(["large", "hot", "blue", "cold", "small", "red", "green", "dark"])
    noun = np.array(["widget", "ring", "bolt", "gear", "pipe", "valve", "screw", "plate"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    finish = np.array(["ANODIZED", "BRUSHED", "PLATED", "POLISHED"])
    _write(dir_, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.char.add(np.char.add(types[rng.integers(0, 6, n_part)], " "),
                              finish[rng.integers(0, 4, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    d1995 = np.datetime64("1995-01-01", "D").astype("int64")
    d2001 = np.datetime64("2001-08-01", "D").astype("int64")
    odate = rng.integers(d1995, d2001 + 1, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(dir_, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 450000, n_ord),
        "o_orderdate": _ts_us(odate * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(lkey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(dir_, "lineitem", {
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us((odate[lkey] + rng.integers(1, 122, n_li)) * DAY_US)})

    n_ev, n_users = 100000, 1500
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(dir_, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts_us(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_docs = 5000
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_docs):
        toks = vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]
        texts.append(" ".join(toks) + " ")
    # a few exact copies, as a scraped corpus has
    for i in rng.choice(n_docs, 8, replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    _write(dir_, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[
            rng.integers(0, 7, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    n_vec, dim = 2000, 64
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[label] + rng.normal(0, 0.6, (n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(dir_, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_pairs(dir_, seed):
    """Clustered trajectories as purchase events. A trajectory's x is its
    time axis (days since 2024-01-01, as `Tables.pts` derives it), its y the
    event value; each cluster is a (start day, value level) cell."""
    rng = np.random.default_rng([seed, 7])
    # cluster cells on a fixed 6 x 4 (day, value) grid, jittered by the
    # seed: every seed gets the same amount of separation to prune on
    grid_day, grid_val = np.meshgrid(np.linspace(1.0, 25.0, 6), np.linspace(100.0, 900.0, 4))
    c_day = grid_day.ravel() + rng.uniform(-0.5, 0.5, PAIR_CLUSTERS)
    c_val = grid_val.ravel() + rng.uniform(-30.0, 30.0, PAIR_CLUSTERS)
    users = np.arange(PAIR_USERS, dtype="int64")
    cluster = rng.integers(0, PAIR_CLUSTERS, PAIR_USERS)
    # log-uniform lengths: many short trajectories, a long tail of long ones
    npts = np.exp(rng.uniform(np.log(PAIR_MIN_POINTS), np.log(PAIR_MAX_POINTS + 1),
                              PAIR_USERS)).astype("int64")
    npts = np.clip(npts, PAIR_MIN_POINTS, PAIR_MAX_POINTS)
    start = c_day[cluster] + rng.uniform(0.0, 1.5, PAIR_USERS)
    span = rng.uniform(0.3, 2.5, PAIR_USERS)
    uid = np.repeat(users, npts)
    n = len(uid)
    offs = np.repeat(np.cumsum(npts) - npts, npts)
    frac = (np.arange(n) - offs) / np.repeat(npts, npts)
    day = np.repeat(start, npts) + frac * np.repeat(span, npts)
    ts = JAN_2024_US + np.round(day * DAY_US).astype("int64")
    # value: per-trajectory level near its cluster plus a bounded random walk
    level = c_val[cluster] + rng.normal(0.0, 20.0, PAIR_USERS)
    walk = np.cumsum(rng.normal(0.0, 4.0, n))
    walk = walk - walk[offs]
    value = np.round(np.repeat(level, npts) + walk, 2)
    order = np.lexsort((uid, ts))
    _write(dir_, "events", {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts_us(ts[order]),
        "user_id": uid[order],
        "event_type": np.full(n, "purchase"),
        "value": value[order],
        "props": np.full(n, '{"k": 0}')})


def write_oracle(dir_, path):
    """The purchase trajectories of `dir_` as the engine derives them
    (`Tables.pts`): per user, points ordered by (ts, event_id), x = days
    since 2024-01-01, y = value. One line per user, ``user<TAB>xs<TAB>ys``,
    numbers in shortest round-trip form, so the reader gets the exact
    doubles."""
    t = pq.read_table(os.path.join(dir_, "events.parquet"),
                      columns=["event_id", "ts", "user_id", "event_type", "value"])
    keep = np.asarray(t.column("event_type").to_pylist()) == "purchase"
    ts = t.column("ts").cast(pa.int64()).to_numpy()[keep]
    eid = t.column("event_id").to_numpy()[keep]
    uid = t.column("user_id").to_numpy()[keep]
    val = t.column("value").to_numpy()[keep]
    order = np.lexsort((eid, ts, uid))
    x = (ts[order] - JAN_2024_US).astype("float64") / 86400e6
    y = val[order]
    uid = uid[order]
    bounds = np.flatnonzero(np.diff(uid)) + 1
    with open(path, "w") as f:
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(uid)]):
            f.write(f"{uid[lo]}\t{' '.join(map(repr, x[lo:hi].tolist()))}\t"
                    f"{' '.join(map(repr, y[lo:hi].tolist()))}\n")


def content_hash(dir_):
    h = hashlib.sha256()
    for name in sorted(os.listdir(dir_)):
        h.update(name.encode())
        with open(os.path.join(dir_, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
