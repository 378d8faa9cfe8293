"""Seeded input generator for the benchmark.

Everything the program sees during a benchmark run is produced here:

* ``tables``  -- the sf0.1 catalog tables. TPC-H tables, documents and
  embeddings are the base-scale slice of the tracked ``fixtures/sf1``
  data (that fixture is ten key-offset copies of sf0.1); ``events`` is
  synthesised. These inputs are fixed: they do not depend on ``--seed``.
* ``ingest``  -- a text history and a sequence of tick batches that mix
  re-crawled postings (exact repeats), edited postings (one token
  changed) and new postings, with the shares in ``workloads.json``
  (restated in the workload's ``why`` in BENCHMARK.json). Each size and
  rate there names its source under ``basis``: a fixture or a program
  path of this repository, or an unverified assumption.
* ``ann``     -- ANN base vectors, per-request held-out query vectors and
  append deltas.
* ``catalog`` -- the order in which the catalog mix issues its queries.

The same seed gives byte-identical files; see ``tests/test_gen.py``.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings: no statistics timestamps, one row group,
    # so equal tables give equal bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# ---- catalog tables ------------------------------------------------------

# table -> (key column, exclusive bound): the first of the ten copies
SF1_SLICES = {
    "region": None, "nation": None,
    "customer": ("c_custkey", 15000), "supplier": ("s_suppkey", 1000),
    "part": ("p_partkey", 20000), "orders": ("o_orderkey", 150000),
    "lineitem": ("l_orderkey", 150000), "documents": ("doc_id", 5000),
    "embeddings": ("vec_id", 2000),
}
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _events(n=100000, users=1500, seed=42):
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 24 * 3600 * 1000000
    ts = np.sort(t0 + rng.integers(0, span, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def tables(repo_root, out_dir):
    """Write the ten sf0.1 tables under out_dir (one parquet file each)."""
    for name, sl in SF1_SLICES.items():
        t = ds.dataset(os.path.join(repo_root, "fixtures", "sf1",
                                    f"{name}.parquet"), format="parquet")
        filt = None if sl is None else (ds.field(sl[0]) < sl[1])
        tb = t.to_table(filter=filt)
        if sl is not None:
            tb = tb.sort_by(sl[0])
        if name == "embeddings":
            tb = tb.set_column(1, "embedding",
                               tb["embedding"].cast(pa.list_(pa.float32())))
        _write(tb.replace_schema_metadata(None),
               os.path.join(out_dir, f"{name}.parquet"))
    _write(_events(), os.path.join(out_dir, "events.parquet"))


# ---- ingest_tick ---------------------------------------------------------

def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, rng.integers(4, 9))))
    return sorted(words)


def ingest(seed, out_dir):
    """History + tick batches for ingest_tick.

    Doc ids are globally unique; history ids are [0, H), tick t's ids
    follow. truth.json records each batch doc's kind."""
    spec = SPEC["ingest_tick"]
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, spec["vocab"])
    lo, hi = spec["doc_tokens"]

    def fresh():
        return " ".join(vocab[i] for i in
                        rng.integers(0, len(vocab), rng.integers(lo, hi + 1)))

    seen = set()

    def novel():
        while True:
            t = fresh()
            if t not in seen:
                seen.add(t)
                return t

    hist = [novel() for _ in range(spec["history_docs"])]
    _write(pa.table({"doc_id": pa.array(np.arange(len(hist), dtype=np.int64)),
                     "text": pa.array(hist)}),
           os.path.join(out_dir, "history.parquet"))
    # texts later ticks may re-crawl or edit: history, then every
    # earlier batch's new postings
    pool = list(range(len(hist)))
    texts = list(hist)
    next_id = len(hist)
    n = spec["batch_docs"]
    n_re = round(n * spec["shares"]["recrawl"])
    n_ed = round(n * spec["shares"]["edit"])
    batches = []
    for t in range(spec["ticks"]):
        src = rng.choice(len(pool), n_re + n_ed, replace=False)
        rows = []
        for j, s in enumerate(src):
            base = pool[s]
            if j < n_re:
                rows.append(("recrawl", base, texts[base]))
            else:
                toks = texts[base].split(" ")
                k = int(rng.integers(0, len(toks)))
                while True:
                    w = vocab[int(rng.integers(0, len(vocab)))]
                    if w != toks[k]:
                        break
                toks[k] = w
                edited = " ".join(toks)
                if edited in seen:   # astronomically unlikely; keep kinds exact
                    edited = novel()
                seen.add(edited)
                rows.append(("edit", base, edited))
        rows += [("new", None, novel()) for _ in range(n - n_re - n_ed)]
        order = rng.permutation(len(rows))
        ids, kinds, txt = [], [], []
        for o in order:
            kind, _, text = rows[o]
            ids.append(next_id)
            kinds.append(kind)
            txt.append(text)
            texts.append(text)
            if kind == "new":
                pool.append(next_id)
            next_id += 1
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(txt)}),
               os.path.join(out_dir, "ticks", f"tick_{t:04d}.parquet"))
        batches.append({"ids": ids, "kinds": kinds})
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"history_docs": len(hist), "batches": batches}, f)


# ---- ann_serve -----------------------------------------------------------

def _unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def ann(seed, out_dir):
    """Clustered unit vectors: base corpus (vec_id >= 10), per-request
    held-out queries (vec_id < 10, as the serve API requires) and
    append deltas (ids after the base)."""
    spec = SPEC["ann_serve"]
    rng = np.random.default_rng([seed, 2])
    dim, k = spec["dim"], spec["clusters"]
    cents = _unit(rng.normal(size=(k, dim)))

    def draw(n):
        lab = rng.integers(0, k, n)
        return _unit(cents[lab] + spec["spread"] * rng.normal(size=(n, dim))), lab

    first = 10
    nb = spec["base_vectors"]
    v, lab = draw(nb)
    _write(pa.table({
        "vec_id": pa.array(np.arange(first, first + nb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32))}),
        os.path.join(out_dir, "base.parquet"))
    nq, qmax = spec["requests"], spec["queries_per_request"]
    req, vid, emb = [], [], []
    for r in range(nq):
        m = int(rng.integers(1, qmax + 1))
        q, _ = draw(m)
        req += [r] * m
        vid += list(range(m))
        emb += list(q)
    _write(pa.table({"request": pa.array(req, pa.int32()),
                     "vec_id": pa.array(vid, pa.int64()),
                     "embedding": pa.array(emb, pa.list_(pa.float32()))}),
           os.path.join(out_dir, "queries.parquet"))
    na, sz = spec["appends"], spec["append_vectors"]
    v, lab = draw(na * sz)
    _write(pa.table({
        "delta": pa.array(np.repeat(np.arange(na, dtype=np.int32), sz)),
        "vec_id": pa.array(np.arange(first + nb, first + nb + na * sz,
                                     dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32))}),
        os.path.join(out_dir, "appends.parquet"))


# ---- catalog_mix ---------------------------------------------------------

def catalog(seed, out_dir):
    """The query order: `rounds` seeded permutations of the query list."""
    spec = SPEC["catalog_mix"]
    rng = np.random.default_rng([seed, 3])
    names = spec["queries"]
    order = [names[i] for _ in range(spec["rounds"])
             for i in rng.permutation(len(names))]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "order.json"), "w") as f:
        json.dump(order, f)


GENERATORS = {"ingest_tick": ingest, "ann_serve": ann, "catalog_mix": catalog}


def generate(workload, seed, out_dir):
    GENERATORS[workload](seed, out_dir)


def digest(path):
    """sha256 over every file under path (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
