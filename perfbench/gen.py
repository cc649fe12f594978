"""Input generation for the chdbspark benchmark.

Two kinds of input:

* the base fixture: sf0.1-shaped tables (TPC-H star schema, an `events`
  stream, `documents`, `embeddings`) drawn once from a fixed seed and kept
  under the build directory, because every workload reads the same base;
* per-seed inputs: the SQL stream of `sql_interactive` and the replicated
  corpus of `curation_batch`. `ingest_mutate` draws its op mix and batches
  inside the JVM from the same seed, before set-up starts.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import templates

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query key window row table stream "
         "merge data vector big join index cache plan shuffle task stage "
         "node file block page log commit").split()
# replicas of a quarter of the curation corpus (1,250 documents, 500 vectors)
REPLICAS = 2
ROW_GROUP = 50000


def _write(table, path):
    # several row groups per file, as GenData writes them, so a scan splits
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)


def _ts(base, seconds):
    return (np.datetime64(base, "us") +
            (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]"))


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def base_tables(rng):
    """sf0.1 row counts: 600k lineitem, 150k orders, 100k events."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no, nl, ne = 15000, 1000, 20000, 150000, 600000, 100000
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(templates.SEGMENTS)[rng.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adj = np.array(["large", "hot", "small", "cold", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 5, np_)], " "),
                              noun[rng.integers(0, 5, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"])[
            rng.integers(0, 5, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    days = 2405  # 1992-01-01 .. 1998-08-02
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900, 500000, no), 2),
        "o_orderdate": _ts("1992-01-01", rng.integers(0, days, no) * 86400),
        "o_orderpriority": np.array(templates.PRIORITIES)[rng.integers(0, 5, no)]})
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1992-01-02", rng.integers(0, days + 120, nl) * 86400)})
    gaps = rng.integers(1, 60, ne)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps) + rng.uniform(0, 1, ne)),
        "user_id": rng.integers(0, 5000, ne).astype(np.int64),
        "event_type": np.array(templates.EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, 5000)
    t["embeddings"] = _embeddings(rng, 2000, 64)
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.05:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 50 and r < 0.10:    # near duplicate: one word replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            texts.append(_text(rng, int(rng.integers(8, 60))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n)],
        "source": np.char.add("src", rng.integers(0, 10, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(rng, n, dim):
    v = rng.normal(0, 1, (n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    near = np.nonzero(rng.random(n) < 0.05)[0]  # planted near-duplicates
    near = near[near > 0]
    v[near] = v[near - 1] + rng.normal(0, 0.01, (len(near), dim)).astype(np.float32)
    v = (v * 0.25).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def ensure_base(base_dir):
    """Write the base fixture once; later runs reuse it."""
    stamp = os.path.join(base_dir, "_COMPLETE")
    if os.path.exists(stamp):
        return
    os.makedirs(base_dir, exist_ok=True)
    for name, table in base_tables(np.random.default_rng(BASE_SEED)).items():
        _write(table, os.path.join(base_dir, f"{name}.parquet"))
    open(stamp, "w").close()


def link_copies(src_dir, names, dests):
    """Hard-link `names` into each destination: one distinct table path per
    set-up repetition, so each set-up loads and caches from scratch."""
    for d in dests:
        os.makedirs(d, exist_ok=True)
        for n in names:
            os.link(os.path.join(src_dir, f"{n}.parquet"),
                    os.path.join(d, f"{n}.parquet"))


def curation_corpus(base_dir, out_dir, seed):
    """The first quarter of the base documents and embeddings plus REPLICAS
    copies of a seeded quarter of that, GenData's recipe: replica r shifts
    ids by r * span; replica text gets one seeded token appended
    (near-duplicates); replica vectors repeat exactly (exact-replica groups
    that semDedup must collapse to one id)."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    d_span = int(max(docs["doc_id"].to_pylist())) + 1
    v_span = int(max(emb["vec_id"].to_pylist())) + 1
    docs = docs.slice(0, docs.num_rows // 4)
    emb = emb.slice(0, emb.num_rows // 4)
    d_pick = np.sort(rng.choice(docs.num_rows, docs.num_rows // 4, replace=False))
    v_pick = np.sort(rng.choice(emb.num_rows, emb.num_rows // 4, replace=False))
    doc_parts, emb_parts = [docs], [emb]
    for r in range(1, REPLICAS + 1):
        token = f" rep{r}x{int(rng.integers(0, 1 << 30)):x}"
        d = docs.take(d_pick)
        text = [t + token for t in d["text"].to_pylist()]
        doc_parts.append(pa.table({
            "doc_id": pa.array(d["doc_id"].to_numpy() + r * d_span, pa.int64()),
            "text": text, "lang": d["lang"], "source": d["source"],
            "n_chars": pa.array([len(t) for t in text], pa.int64())}))
        e = emb.take(v_pick)
        emb_parts.append(e.set_column(0, "vec_id", pa.array(
            e["vec_id"].to_numpy() + r * v_span, pa.int64())))
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.concat_tables(doc_parts), os.path.join(out_dir, "documents.parquet"))
    _write(pa.concat_tables(emb_parts), os.path.join(out_dir, "embeddings.parquet"))
    base_text = docs["text"].to_pylist()
    # the decontamination benchmark: 8-word windows cut from seeded docs
    pick = rng.choice(len(base_text), 40, replace=False)
    bench = []
    for i in pick:
        w = base_text[int(i)].split(" ")
        start = int(rng.integers(0, max(1, len(w) - 8)))
        bench.append(" ".join(w[start:start + 12]))
    query = " ".join(WORDS[int(i)] for i in rng.choice(len(WORDS), 3, replace=False))
    return {"d_span": d_span, "v_span": v_span, "bm25_query": query,
            "benchmark_texts": bench}


def sql_stream(seed, rounds=400):
    """Rounds of dashboard traffic: dashboards A, B and C take turns, and a
    round sends each of its dashboard's templates once, in seeded order, with
    constants from each template's small domain (repeats are refreshes,
    first sightings are ad-hoc queries)."""
    rnd = random.Random(seed)
    stream = []
    for r in range(rounds):
        board = [t for t in templates.TEMPLATES if t.dashboard == "ABC"[r % 3]]
        rnd.shuffle(board)
        stream.append([t.render(rnd) for t in board])
    return stream


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
