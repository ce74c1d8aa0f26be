"""Seeded input generators, in the FIXTURES.md schemas.

`sf01` writes the tables of the `headline_sf01` mix with the row counts,
value domains and file layout of the sf0.1 fixture described in
FIXTURES.md: one file and one row group per table, `events.ts` spread
over the 30 days from 2024-01-01 (about 26 s apart at 100k rows), and
documents of 10-100 words from the fixture's 31-word vocabulary. The
fixture itself lives outside the repository, and the benchmark reads
only inside its checkout, so it makes a copy of the same shape instead;
perfbench/README.md compares the two.

`llm` writes the document and embedding corpus of the `llm_corpus`
workload from the recipes of `graft.tools.Corpora`: Zipfian documents
with planted near-duplicates, and a clustered embedding mixture with a
uniform background, each split across several files.

The same seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _days_us(start, rng, lo, hi, n):
    """Day-granular timestamps `start + [lo, hi]` days, as epoch micros."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _write(table, path, files=1):
    """One file (one row group) or a directory of `files` part files."""
    if files == 1:
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, part.num_rows))


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


SHORT_WORDS = ["part", "column", "order", "scan", "a", "slow", "agg", "key", "window", "table",
               "merge", "vector", "join", "spark", "line", "small", "fast", "group", "customer",
               "batch", "sort", "value", "hash", "filter", "big", "data", "dup", "query", "row",
               "stream", "the"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _documents_table(ids, texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _mutate(rng, tokens, vocab, p):
    out = list(tokens)
    for j in np.nonzero(rng.random(len(out)) < p)[0]:
        out[j] = vocab[rng.integers(0, len(vocab))]
    return out


def _embeddings_table(vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def _unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def sf01(out_dir, seed):
    """The five tables the headline_sf01 mix reads, at sf0.1 size."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, t: _write(t, os.path.join(out_dir, f"{name}.parquet"))
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    n = 1_000
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)}))
    n = 150_000
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days_us("1995-01-01", rng, 0, 2404, n), ts),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)}))
    n = 600_000
    qty = rng.integers(1, 51, n).astype(np.float64)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), i64),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), i64),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days_us("1995-01-02", rng, 0, 2498, n), ts)}))
    n = 100_000
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    w("events", pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * DAY_US, n)), ts),
        "user_id": pa.array(rng.integers(0, 1_500, n), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))

    # documents: short-vocabulary texts of 10-100 words; every tenth is a
    # near-duplicate of an earlier one, so the minhash route has pairs
    n = 5_000
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            base = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(_mutate(rng, base, SHORT_WORDS, 0.05)))
        else:
            texts.append(" ".join(np.array(SHORT_WORDS)[rng.integers(0, len(SHORT_WORDS), int(rng.integers(10, 101)))]))
    w("documents", _documents_table(np.arange(n), texts, rng))


# graft.tools.Corpora recipe constants
VOCAB, DOC_LEN, ZIPF_S, ORIG_FRAC, MUTATE_P = 8000, 60, 0.7, 0.7, 0.05
DIM, SIGMA, BG_FRAC, CLUSTER_SIZE, N_LABELS = 64, 0.025, 0.15, 50, 8


def llm(out_dir, seed, n_docs, n_vecs, files):
    """Corpora-recipe documents and embeddings, `files` part files each."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    cum = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cum /= cum[-1]
    vocab = np.array([f"w{k}" for k in range(VOCAB)], dtype=object)
    n_orig = max(1, int(n_docs * ORIG_FRAC))
    orig = np.searchsorted(cum, rng.random((n_orig, DOC_LEN)))
    dups = orig[rng.integers(0, n_orig, n_docs - n_orig)].copy()
    hit = rng.random(dups.shape) < MUTATE_P
    dups[hit] = rng.integers(0, VOCAB, int(hit.sum()))
    toks = np.concatenate([orig, dups])
    texts = [" ".join(row) for row in vocab[toks]]
    _write(_documents_table(np.arange(n_docs), texts, rng), os.path.join(out_dir, "documents.parquet"), files)

    n_clusters = max(1, n_vecs // CLUSTER_SIZE)
    centers = _unit(rng.standard_normal((n_clusters, DIM)))
    n_bg = int(n_vecs * BG_FRAC)
    cl = np.arange(n_vecs) % n_clusters
    vecs = _unit(centers[cl] + SIGMA * rng.standard_normal((n_vecs, DIM)))
    vecs[:n_bg] = _unit(rng.standard_normal((n_bg, DIM)))
    labels = cl % N_LABELS
    labels[:n_bg] = rng.integers(0, N_LABELS, n_bg)
    _write(_embeddings_table(vecs, labels), os.path.join(out_dir, "embeddings.parquet"), files)
