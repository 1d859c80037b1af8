"""Output checks: each op's written results against an independent DuckDB
formulation over the same generated tables."""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

# The flagship pipeline (graft.api.Flagship) written as plain SQL: map,
# filter, sort key, 128-row batches per shard, first 64 batches.
FLAGSHIP_SQL = """
WITH m AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * (1 - l_discount) AS revenue
  FROM lineitem),
k AS (
  SELECT *, (l_orderkey * 2654435761 + l_linenumber * 40503) % 999983 AS skey
  FROM m WHERE revenue > 1000.0),
w AS (
  SELECT l_orderkey % 8 AS shard, l_quantity, revenue,
         (row_number() OVER (PARTITION BY l_orderkey % 8
            ORDER BY skey, l_orderkey, l_linenumber, l_quantity) - 1) // 128
           AS batch_id
  FROM k)
SELECT shard, batch_id, count(*) AS batch_n, sum(l_quantity) AS qty,
       sum(revenue) AS revenue
FROM w GROUP BY shard, batch_id ORDER BY shard, batch_id LIMIT 64
"""


# The clustering oracles close their edge list with a recursive CTE,
# `reach(src, dst)`, which takes minutes in DuckDB at 5,000 documents.
# Everything before it runs in DuckDB; the closure runs as union-find.
CLOSURE = "reach(src, dst) AS ("


def components(ids, src, dst):
    """(doc_id, cluster_id) rows: each id labelled with the smallest id of
    its connected component under the undirected edges src-dst."""
    parent = {int(i): int(i) for i in ids}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": list(parent),
                         "cluster_id": [root(x) for x in parent]}, dtype="int64")


def run_oracle(con, sql):
    cut = sql.find(CLOSURE)
    if cut < 0:
        return con.sql(sql).df()
    edges = con.sql(sql[:cut].rstrip().rstrip(",") + "\nSELECT src, dst FROM edges").fetchnumpy()
    ids = con.sql("SELECT doc_id FROM documents").fetchnumpy()["doc_id"]
    return components(ids, edges["src"], edges["dst"])


def connect(data_dir):
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def read_output(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise ValueError(f"no output written at {path}")
    return pd.read_parquet(path)


def _deep(v):
    if isinstance(v, np.ndarray):
        return tuple(_deep(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_deep(x) for x in v)
    return v


def canon(df):
    """Columns by name, rows by value, list cells as tuples."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_deep)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_eq(a, b, rel):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=rel, abs_tol=0.0)
    return bool(a == b)


def same(got, want, rel=0.0):
    """None when the two frames hold the same rows, else why not.
    `rel` is the relative tolerance for float cells (0: exact, as the
    oracle gate compares)."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].values, want[c].values)):
            if not _cell_eq(a, b, rel):
                return f"{c}[{i}]: {a!r} vs {b!r}"
    return None


class Expected:
    """Expected outputs of one run, computed once from its inputs. Float
    sums over batches may differ in the last bits between engines, so
    the flagship compares them to 1e-9; the registered oracles compare
    exactly."""

    def __init__(self, workload, data_dir, oracle_sql):
        con = connect(data_dir)
        self.want = {}
        self.rel = {}
        if workload == "curation_mix":
            for name, sql in oracle_sql.items():
                self.want[name] = run_oracle(con, sql)
                self.rel[name] = 0.0
        else:
            self.want["optimized"] = con.sql(FLAGSHIP_SQL).df()
            self.rel["optimized"] = 1e-9
        con.close()

    def check(self, op_dir, outputs):
        """None when every output of the op matches, else the first miss."""
        if not outputs:
            return "op wrote no outputs"
        for name in outputs:
            if name not in self.want:
                return f"no expected result for {name}"
            try:
                why = same(read_output(os.path.join(op_dir, name)),
                           self.want[name], self.rel[name])
            except Exception as e:  # unreadable output counts as wrong
                why = f"{type(e).__name__}: {e}"
            if why:
                return f"{name}: {why}"
        return None
