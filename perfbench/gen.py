"""Seeded input generator for the benchmark workloads.

Every table is written as `<dir>/<name>.parquet`, the layout
`graft.Tables` reads. The same seed always yields the same bytes.

- lineitem: TPC-H-shaped rows with uniform columns over the value ranges
  of the sf0.1 test fixture. (l_orderkey, l_linenumber) is unique, so
  the flagship's batch order is total and its output deterministic.
- documents: a fixed base corpus shaped like the sf0.1 fixture (word
  salad over a 30-word vocabulary, 10 to 100 words, 5% of documents
  "<another document> dup" near-duplicates), then a seed-keyed rewrite
  that keeps every text: the ids move by a seeded offset and the rows
  are shuffled. Shingle hashes, the near-duplicate graph, the id order
  and so the clustering rounds are the same for every seed. A seeded
  alphabet permutation, as graft.tools.ScaleSmoke uses, changed the
  MinHash edges and with them the CC round count (28 to 36 dd08 jobs
  across seeds), which is work, not noise.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per workload; sf0.1 of the test fixtures is 600k lineitem rows and
# 5,000 documents
SIZES = {
    "plumber_optimize": {"lineitem": 60_000},
    "curation_mix": {"documents": 5_000},
}
BASE_CORPUS_SEED = 20111  # fixed: the corpus structure never varies
VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
SHIP_DAYS = 2498  # through 2001-11-04


def lineitem(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    # distinct (order, line) cells of an order x 7-line grid, 4 lines per
    # order on average as in TPC-H; the draw order is the row order
    cell = rng.choice(n // 4 * 7, size=n, replace=False)
    return pa.table({
        "l_orderkey": cell // 7,
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": (cell % 7 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": SHIP_EPOCH + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]"),
    })


def documents(seed: int, n: int) -> pa.Table:
    base = np.random.default_rng(BASE_CORPUS_SEED)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[base.integers(0, len(VOCAB), k)])
             for k in base.integers(10, 101, n)]
    pick = base.permutation(n)
    n_dups = n // 20
    for dup, orig in zip(pick[:n_dups], pick[n_dups:2 * n_dups]):
        texts[dup] = texts[orig] + " dup"
    langs = np.array(LANGS)[base.choice(len(LANGS), n, p=LANG_P)]

    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n, dtype=np.int64)
    order = rng.permutation(n)
    return pa.table({
        "doc_id": ids + int(rng.integers(0, 1_000)) * 10_000_000,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).take(order)


def write(out_dir: str, workload: str, seed: int) -> dict:
    """Write the workload's tables; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"lineitem": lineitem, "documents": documents}
    rows = {}
    for name, n in SIZES[workload].items():
        pq.write_table(makers[name](seed, n), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = n
    return rows
