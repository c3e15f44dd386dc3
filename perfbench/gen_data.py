"""Seeded input generators for the benchmark.

Two families:

* ``tables(out_dir, sf, seed)``: the ten-table parquet star schema the
  registry queries read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings). Column names, types and value
  domains follow the fixture schema the registry's DuckDB oracles were
  written against (FIXTURES.md section B); the rows are drawn from ``seed``.
* ``corpus(out_dir, seed, text_mb, edge_mb)``: the ``mr_text`` inputs, a
  multi-file text corpus with a planted grep term and a multi-file
  edge list with skewed degrees. Alongside the files it returns the
  expected word counts, grep matches and degrees, counted from the draw
  itself rather than by reading anything the program produced.

Both write one directory per (kind, size, seed) and reuse it when a
``DONE`` marker is present, so repeated runs with one seed generate once.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _done(path):
    return os.path.exists(os.path.join(path, "DONE"))


def _fresh(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _mark_done(path):
    open(os.path.join(path, "DONE"), "w").close()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf, seed):
    """Write the ten parquet tables at scale factor ``sf``; returns ``out_dir``."""
    if _done(out_dir):
        return out_dir
    _fresh(out_dir)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line))})
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(DOC_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vecs = rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))})
    _mark_done(out_dir)
    return out_dir


# --- mr_text corpus ----------------------------------------------------------

GREP_TERM = "needle"
GREP_SHARE = 0.002     # share of lines the term is planted in
TEXT_FILES = 16
EDGE_FILES = 8
LINE_WORDS = (4, 16)   # words per line, uniform in [lo, hi)


def _vocab(rng, size):
    """``size`` distinct lowercase words of 2-10 letters, none holding GREP_TERM."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        for n in rng.integers(2, 11, size):
            w = "".join(rng.choice(letters, n))
            if GREP_TERM not in w:
                words.add(w)
    return sorted(words)[:size]


def corpus(out_dir, seed, text_mb, edge_mb):
    """Write the mr_text corpus and return its manifest (file names relative
    to ``out_dir``, sizes, and the expected results).

    Word frequencies are Zipf-like over a 50k-word vocabulary; edge endpoints
    are Zipf-skewed vertex ids, so a few hub vertices hold most of the degree.
    """
    manifest_path = os.path.join(out_dir, "manifest.json")
    if _done(out_dir):
        with open(manifest_path) as f:
            return json.load(f)
    _fresh(out_dir)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 50_000)
    vocab_arr = np.array(vocab, dtype=object)
    ranks = np.arange(1, len(vocab) + 1)
    p_word = 1.0 / ranks ** 1.05
    p_word /= p_word.sum()
    mean_len = float((np.array([len(w) for w in vocab]) * p_word).sum()) + 1
    words_total = int(text_mb * 1e6 / mean_len)

    word_counts = np.zeros(len(vocab), dtype=np.int64)
    grep_hits = []
    text_files, text_bytes = [], 0
    per_file = words_total // TEXT_FILES
    for fi in range(TEXT_FILES):
        ids = rng.choice(len(vocab), per_file, p=p_word)
        word_counts += np.bincount(ids, minlength=len(vocab))
        cuts = np.cumsum(rng.integers(*LINE_WORDS, per_file // LINE_WORDS[0] + 2))
        cuts = cuts[cuts < per_file]
        lines = [" ".join(chunk) for chunk in np.split(vocab_arr[ids], cuts)]
        planted = np.flatnonzero(rng.random(len(lines)) < GREP_SHARE)
        name = f"text_{fi:02d}.txt"
        for li in planted:
            lines[li] = lines[li] + " " + GREP_TERM
            grep_hits.append([name, int(li) + 1, lines[li]])
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        text_files.append(name)
        text_bytes += len(data)

    n_vert = 200_000
    p_vert = 1.0 / np.arange(1, n_vert + 1) ** 0.9
    p_vert /= p_vert.sum()
    perm = rng.permutation(n_vert)  # hubs get arbitrary ids, not the smallest
    edges_total = int(edge_mb * 1e6 / 12)
    degrees = np.zeros(n_vert, dtype=np.int64)
    edge_files, edge_bytes = [], 0
    for fi in range(EDGE_FILES):
        n = edges_total // EDGE_FILES
        src = perm[rng.choice(n_vert, n, p=p_vert)]
        dst = perm[rng.choice(n_vert, n, p=p_vert)]
        degrees += np.bincount(src, minlength=n_vert) + np.bincount(dst, minlength=n_vert)
        name = f"edges_{fi:02d}.txt"
        data = "".join(f"{s}\t{d}\n" for s, d in zip(src.tolist(), dst.tolist())).encode()
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        edge_files.append(name)
        edge_bytes += len(data)

    nz = np.flatnonzero(word_counts)
    wc = [[vocab[i], int(word_counts[i])] for i in nz]
    if grep_hits:
        wc.append([GREP_TERM, len(grep_hits)])
    vz = np.flatnonzero(degrees)
    manifest = {
        "text_files": text_files, "edge_files": edge_files,
        "text_bytes": text_bytes, "edge_bytes": edge_bytes,
        "tokens": int(word_counts.sum()) + len(grep_hits),
        "edges": edges_total // EDGE_FILES * EDGE_FILES,
        "grep_term": GREP_TERM,
        # expectations, each in the application's own output order
        "wc": sorted(wc, key=lambda r: (r[1], r[0])),
        "grep": sorted(grep_hits, key=lambda r: (r[0], r[1])),
        "degree": [[int(v), int(degrees[v])] for v in vz],
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    _mark_done(out_dir)
    return manifest
