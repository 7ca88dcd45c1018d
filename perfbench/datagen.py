"""Seeded input generators for the benchmark workloads.

`tables()` writes the ten tables the engine reads (TPC-H-style star schema,
`events`, `documents`, `embeddings`) with the testdata's schemas and value
domains (FIXTURES.md), scaled by a row-count dictionary. `corpus()` writes a
`documents` table whose text follows a Zipf law over a generated a-z
vocabulary, for the word-count workload.

Every table is one parquet file written with pyarrow defaults, so each holds a
single row group, like the testdata. The same seed always gives the same files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of the testdata at sf0.1 (FIXTURES.md).
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}

# The testdata's 31-word engine vocabulary ("dup" marks near-duplicate docs).
WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
STOPWORDS = ["a", "the", "of", "and", "to", "in"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, first, last):
    """n timestamp[us] values at midnight, uniform over [first, last]."""
    lo = (first - datetime.date(1970, 1, 1)).days
    hi = (last - datetime.date(1970, 1, 1)).days
    d = rng.integers(lo, hi + 1, n).astype(np.int64) * US_PER_DAY
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, vocab, probs, dup_frac):
    """n space-joined documents of 10..100 tokens; a `dup_frac` share copies
    an earlier document with a few tokens swapped and a trailing "dup"."""
    lens = rng.integers(10, 101, n)
    flat = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    words = np.asarray(vocab, dtype=object)[flat]
    ends = np.cumsum(lens)
    docs = [words[e - k:e] for e, k in zip(ends, lens)]
    texts = []
    for i, toks in enumerate(docs):
        if i > 20 and rng.random() < dup_frac:
            src = docs[int(rng.integers(0, i))].copy()
            swaps = rng.random(len(src)) < 0.05
            src[swaps] = np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), int(swaps.sum()))]
            docs[i] = toks = np.append(src, "dup")
        texts.append(" ".join(toks))
    return texts


def _documents(out_dir, rng, texts):
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(out_dir, seed, rows=SF01):
    """Write the ten engine tables, `rows` giving each table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = np.int32
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5})

    nc, ns, np_, no, nl = (rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, nc)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    adj = np.array("small new red blue old large hot cold".split())
    noun = np.array("ring gear widget gizmo bolt plate rod anvil".split())
    pk = np.arange(np_, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                              noun[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})

    ne = rows["events"]
    start = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days * US_PER_DAY
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, ne * 3 // 200), ne).astype(np.int64),
        "event_type": np.array("click error purchase signup view".split())[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    p = np.full(len(WORDS), 1.0 / len(WORDS))
    _documents(out_dir, rng, _texts(rng, rows["documents"], WORDS, p, 0.05))

    nv, dim = rows["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.05, (10, dim))
    vecs = (centroids[labels] + rng.normal(0.0, 0.12, (nv, dim))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(i32)})


def zipf_vocab(rng, size):
    """`size` distinct a-z words, stopwords first, in Zipf rank order."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab, seen = list(STOPWORDS), set(STOPWORDS)
    while len(vocab) < size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 11)))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


def corpus(out_dir, seed, n_docs, vocab_size, zipf_s=1.0):
    """Write a word-count corpus as `documents.parquet`; return its stats."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = zipf_vocab(rng, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    texts = _texts(rng, n_docs, vocab, p / p.sum(), 0.0)
    _documents(out_dir, rng, texts)
    meta = pq.ParquetFile(os.path.join(out_dir, "documents.parquet")).metadata
    words = set()
    for t in texts:
        words.update(t.split(" "))
    return {"docs": n_docs, "tokens": sum(t.count(" ") + 1 for t in texts),
            "vocabulary": len(words), "row_groups": meta.num_row_groups}


def count_tokens(data_dir):
    """Space-separated tokens in `data_dir/documents.parquet`."""
    text = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])["text"]
    return int(pc.sum(pc.list_value_length(pc.split_pattern(text, " "))).as_py())
