"""Seeded inputs for the graft benchmark.

Two input sets, both a pure function of the seed:

* ``vectors``: a store of N vectors drawn from a mixture of Gaussian
  centres (``metadata = {label: id % 10}``), IVF centroids fitted by the
  generator, query vectors from the same mixture, one change batch for
  the write path with its read-your-writes probes, and the exact top-10
  truth, computed here by brute force so the benchmark never trusts the
  program for its answers.
* ``catalog``: the ten tables the query catalog reads (a small TPC-H-like
  star schema plus embeddings, documents and events), shaped like the
  repository's test data.

Files are written with numpy and pyarrow only; the same seed gives
byte-identical files.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vector inputs: 20k vectors in dim 64 drawn around 256 Gaussian centres.
# The serving index has ceil(N / 256) lists (the reference's density of
# 256 records per list), with centroids fitted here by a few seeded Lloyd
# rounds. SIGMA puts IVF recall at the serving budget (32 probes) near
# 0.97, so recall stays a live metric without being noisy.
N = 20_000
DIM = 64
CENTRES = 256
DENSITY = 256
LISTS = -(-N // DENSITY)
SIGMA = 1.25
N_QUERIES = 500
K = 10
LABELS = 10
STORE_FILES = 8
# The change batch is 1% of the store: 60% new ids, 20% new vectors for
# stored ids, 20% deletes of stored ids.
BATCH_ROWS = N // 100
N_NEW = BATCH_ROWS * 6 // 10
N_REEMBED = BATCH_ROWS * 2 // 10
N_DELETE = BATCH_ROWS - N_NEW - N_REEMBED

# Catalog tables at this scale factor (sf 0.001 = 6,000 lineitem rows).
CATALOG_SF = 0.001

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _mixture(rng, centres, n):
    pick = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, centres.shape[1]))
    return (centres[pick] + SIGMA * noise).astype(np.float32)


def _sq_dists(a, b):
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return (a * a).sum(1)[:, None] - 2.0 * (a @ b.T) + (b * b).sum(1)[None, :]


def _top_k(queries, corpus, ids, k=K):
    """Exact top-k ids by squared L2, ties to the smaller id."""
    out = np.empty((len(queries), k), dtype=np.int64)
    for lo in range(0, len(queries), 250):
        d = _sq_dists(queries[lo:lo + 250], corpus)
        part = np.argpartition(d, k, axis=1)[:, :k + 8]
        for i in range(len(d)):
            cand = part[i]
            order = np.lexsort((ids[cand], d[i, cand]))[:k]
            out[lo + i] = ids[cand[order]]
    return out


def _lloyd(rng, x, k, rounds=10):
    cent = x[rng.choice(len(x), k, replace=False)].astype(np.float64)
    for _ in range(rounds):
        assign = np.argmin(_sq_dists(x, cent), axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(0)
    return cent.astype(np.float32)


def vector_inputs(seed):
    """All vector-workload inputs for one seed, as numpy arrays."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((CENTRES, DIM)).astype(np.float32)
    corpus = _mixture(rng, centres, N)
    ids = np.arange(N, dtype=np.int64)
    lists = _lloyd(rng, corpus, LISTS)
    queries = _mixture(rng, centres, N_QUERIES)
    qlabels = rng.integers(0, LABELS, N_QUERIES).astype(np.int32)
    truth = _top_k(queries, corpus, ids)

    # the change batch, and one read-your-writes probe per kind of change:
    # (vector, id it must return or -1, id it must not return or -1)
    touched = rng.choice(ids, N_REEMBED + N_DELETE, replace=False)
    re_ids, del_ids = touched[:N_REEMBED], touched[N_REEMBED:]
    up_ids = np.concatenate([np.arange(N, N + N_NEW, dtype=np.int64), re_ids])
    up_vecs = _mixture(rng, centres, N_NEW + N_REEMBED)
    changes = [(int(i), "upsert", v) for i, v in zip(up_ids, up_vecs)]
    changes += [(int(i), "delete", None) for i in del_ids]
    probes = [(up_vecs[0], int(up_ids[0]), -1),
              (up_vecs[N_NEW], int(re_ids[0]), -1),
              (corpus[del_ids[0]], -1, int(del_ids[0]))]
    return dict(lists=lists, corpus=corpus, ids=ids, queries=queries,
                qlabels=qlabels, truth=truth,
                changes=changes, probes=probes)


def _vec_col(arr):
    return pa.array(list(arr), type=pa.list_(pa.float32()))


def _meta_col(ids):
    return pa.array([[("label", str(int(i) % LABELS))] for i in ids],
                    type=pa.map_(pa.string(), pa.string()))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _raw(values, dtype, out, name):
    np.asarray(values, dtype=dtype).tofile(os.path.join(out, f"{name}.{dtype[1:]}"))


def read_raw(inputs, name, dtype, dim=None):
    """Read an array written by _raw; `dim` reshapes vectors to rows."""
    a = np.fromfile(os.path.join(inputs, f"{name}.{dtype[1:]}"), dtype=dtype)
    return a.reshape(-1, dim) if dim else a


def write_vectors(seed, out):
    v = vector_inputs(seed)
    # the store as a directory of parquet files, as a Spark job writes it
    store = os.path.join(out, "store")
    os.makedirs(store)
    for f, rows in enumerate(np.array_split(v["ids"], STORE_FILES)):
        _write(pa.table({"id": rows, "embedding": _vec_col(v["corpus"][rows]),
                         "metadata": _meta_col(rows)}),
               os.path.join(store, f"part-{f:05d}.parquet"))
    _write(pa.table({"cluster_id": np.arange(LISTS, dtype=np.int32),
                     "centroid": _vec_col(v["lists"])}),
           os.path.join(out, "centroids.parquet"))
    # query-side inputs as raw little-endian arrays (suffix = numpy dtype),
    # which the harness reads without starting a Spark job
    _raw(v["queries"], "<f4", out, "queries")
    _raw(v["qlabels"], "<i4", out, "queries.label")
    ch = v["changes"]
    _write(pa.table({
        "id": pa.array([c[0] for c in ch], pa.int64()),
        "op": pa.array([c[1] for c in ch], pa.string()),
        "seq": pa.array(range(1, len(ch) + 1), pa.int64()),
        "embedding": pa.array([None if c[2] is None else list(c[2]) for c in ch],
                              pa.list_(pa.float32())),
        "metadata": pa.array([None if c[1] == "delete"
                              else [("label", str(c[0] % LABELS))] for c in ch],
                             pa.map_(pa.string(), pa.string())),
    }), os.path.join(out, "changes.parquet"))
    pr = v["probes"]
    _raw([p[0] for p in pr], "<f4", out, "probes")
    _raw([p[1] for p in pr], "<i8", out, "probes.expect")
    _raw([p[2] for p in pr], "<i8", out, "probes.forbid")
    np.save(os.path.join(out, "truth.npy"), v["truth"])
    return {"n": N, "dim": DIM, "centres": CENTRES, "lists": LISTS,
            "queries": N_QUERIES, "k": K, "batch_rows": BATCH_ROWS}


def catalog_tables(seed):
    """The ten catalog tables, shaped like the repository's sf tables."""
    rng = np.random.default_rng([seed, 2])
    s = CATALOG_SF / 0.001

    def n(base):
        return max(1, int(round(base * s)))

    def ts(start, days, count):
        base = np.datetime64(start, "us")
        off = rng.integers(0, days * 86_400_000_000, count)
        return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))

    def day(start, days, count):
        base = np.datetime64(start, "D")
        d = base + rng.integers(0, days, count).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def pick(values, count):
        return pa.array([values[i] for i in rng.integers(0, len(values), count)])

    def money(lo, hi, count):
        return np.round(rng.uniform(lo, hi, count), 2)

    n_cust, n_supp, n_part = n(150), n(10), n(200)
    n_ord, n_li, n_ev, n_emb, n_doc = n(1500), n(6000), n(1000), n(500), n(500)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp)})
    adj = ["blue", "red", "cold", "hot", "new", "old", "large", "small"]
    noun = ["rod", "gear", "anvil", "widget", "bolt", "spring", "valve", "pump"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.integers(90, 200, n_part) * 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 400000, n_ord),
        "o_orderdate": day("1995-01-01", 2400, n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": day("1995-01-01", 2500, n_li)})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts("2024-01-01", 30, n_ev),
        "user_id": rng.integers(0, max(15, n(15)), n_ev).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 330, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    emb = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vec_col(emb),
        "label": rng.integers(0, LABELS, n_emb).astype(np.int32)})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(8, 90)))
             for _ in range(n_doc)]
    # as in the repository's test data, one document in twenty is a copy of its text
    # shared with one to three other documents, marked with " dup", so
    # the dedup queries find groups to merge
    marked = set(range(0, n_doc, 20))
    free = [i for i in range(n_doc) if i not in marked]
    rng.shuffle(free)
    for d in sorted(marked):
        for _ in range(int(rng.integers(1, 4))):
            if free:
                texts[free.pop()] = texts[d]
        texts[d] += " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    return t


def write_catalog(seed, out):
    for name, table in catalog_tables(seed).items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {"sf": CATALOG_SF}


WRITERS = {"vectors": write_vectors, "catalog": write_catalog}


def ensure(kind, seed, cache_root):
    """Generate the inputs once per (kind, seed, version of this file)
    under ``cache_root`` and return their directory. A half-written
    directory never counts: files go to a staging directory that is
    renamed into place when complete."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache_root, kind, f"seed_{seed}-{version}")
    if os.path.exists(os.path.join(out, "inputs.json")):
        return out
    stage = out + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    info = WRITERS[kind](seed, stage)
    with open(os.path.join(stage, "inputs.json"), "w") as f:
        json.dump(dict(info, kind=kind, seed=seed), f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(stage, out)
    return out

