"""Seeded input generators for the perfbench workloads.

Every table follows the schema and value ranges of the engine's parquet
corpus (FIXTURES.md, part B): a TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables. The same seed always gives the same
bytes, so a cache keyed on (workload, seed) is safe.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part merge "
         "window order column join vector").split()
ADJ = "small red blue hot cold old new large".split()
NOUN = "bolt gear ring widget anvil rod plate gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

US = 1_000_000
DAY_US = 86_400 * US


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us, unit="us"):
    return pa.array(np.asarray(us, dtype=np.int64), pa.int64()).cast(pa.timestamp("us")).cast(pa.timestamp(unit))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n):
    """Word-salad documents over the corpus vocabulary; about one in
    twenty is a near-duplicate (an earlier text plus a `dup` token)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return texts


def corpus(seed, sizes):
    """All ten tables as pyarrow Tables. `sizes` maps a table name to its
    row count (region and nation are fixed). Events come from one user in
    ten customers, as in the corpus (150 users at sf0.01, 1500 at sf0.1)."""
    rng = np.random.default_rng(seed)
    n = sizes
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, o) * DAY_US, "ms"),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    d0, d1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104999.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, li) * DAY_US, "ms")})
    e = n["events"]
    start = _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * DAY_US, e))),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    texts = _docs(rng, n["documents"])
    dn = len(texts)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(dn), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, dn),
        "source": [f"src{i % 20}" for i in range(dn)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, m)
    vec = 0.6 * centers[labels] / 8.0 + rng.normal(0.0, 1.0, (m, 64)) / 8.0
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def replicate(tables, seed, reps):
    """`reps`-replica corpus in the ScaleGen style: replica r > 0 remaps
    ids by r * 10^7, rotates every letter of the documents by a seeded
    per-replica amount (so replicas share no character shingles), and
    jitters each embedding dimension by a seeded per-(replica, dim)
    offset of at most 0.03. Replica 0 is the base corpus."""
    rng = np.random.default_rng(seed + 7919)
    shifts = rng.choice(np.arange(1, 26), reps - 1, replace=False)
    lower = "abcdefghijklmnopqrstuvwxyz"
    docs, emb = tables["documents"], tables["embeddings"]
    dparts, eparts = [docs], [emb]
    for r, k in enumerate(shifts, start=1):
        rot = lower[k:] + lower[:k]
        table = str.maketrans(lower + lower.upper(), rot + rot.upper())
        dparts.append(pa.table({
            "doc_id": pc.add(docs["doc_id"], r * 10_000_000),
            "text": [x.translate(table) for x in docs["text"].to_pylist()],
            "lang": docs["lang"], "source": docs["source"], "n_chars": docs["n_chars"]}))
        jitter = (rng.integers(-3, 4, 64) * 0.01).astype(np.float32)
        vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float32) + jitter
        eparts.append(pa.table({
            "vec_id": pc.add(emb["vec_id"], r * 10_000_000),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": emb["label"]}))
    out = dict(tables)
    out["documents"] = pa.concat_tables(dparts)
    out["embeddings"] = pa.concat_tables(eparts)
    return out


def stream_files(events, seed, per_file, n_files):
    """Cut the first n_files * per_file events (already in event-time
    order) into JSON-lines files. The seed moves each file boundary by up
    to a tenth of a file, shuffles rows within each file, and re-delivers
    about 1% of each file's events inside the same file, so `dedupStream`
    has duplicates to drop. Event-time order across files is kept, so a
    watermark never drops an event. Returns the delivered rows."""
    rng = np.random.default_rng(seed + 104729)
    rows = events.slice(0, per_file * n_files).to_pylist()
    cuts = [0]
    for i in range(1, n_files):
        cuts.append(i * per_file + int(rng.integers(-per_file // 10, per_file // 10 + 1)))
    cuts.append(len(rows))
    files = []
    for a, b in zip(cuts, cuts[1:]):
        chunk = rows[a:b]
        dups = [chunk[int(j)] for j in rng.choice(len(chunk), max(1, len(chunk) // 100), replace=False)]
        chunk = chunk + dups
        order = rng.permutation(len(chunk))
        files.append([chunk[int(j)] for j in order])
    return files


def write_json_lines(files, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        with open(os.path.join(out_dir, f"events-{i:04d}.json"), "w") as f:
            for r in rows:
                ts = r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
                f.write(json.dumps({**r, "ts": ts}) + "\n")


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
