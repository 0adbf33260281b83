"""Reference answers and seeded inputs, computed outside Spark.

PageRank, connected components and label propagation are recomputed
with NumPy from the edge list the engine ran on; the triangle total
comes from the DuckDB query in ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import os

import numpy as np


def dense(src: np.ndarray, dst: np.ndarray):
    """(ids, src_idx, dst_idx): sorted distinct vertex ids and each
    endpoint's position in them."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, tol: float | None, iterations: int | None = None,
             damping: float = 0.85) -> tuple[np.ndarray, np.ndarray, int]:
    """Power iteration with the engine's semantics: ranks start at 1/n,
    rank' = (1-d)/n + d·Σ rank(u)/outdeg(u) over in-edges, and the loop
    halts once max|Δrank| < tol (or after ``iterations``).
    Returns (ids, ranks, supersteps)."""
    ids, s, d = dense(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype("float64")
    ranks = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    ss = 0
    while True:
        share = ranks[s] / outdeg[s]
        new = base + damping * np.bincount(d, weights=share, minlength=n)
        delta = float(np.max(np.abs(new - ranks)))
        ranks = new
        ss += 1
        if iterations is not None and ss >= iterations:
            break
        if iterations is None and delta < tol:
            break
    return ids, ranks, ss


def components(src, dst) -> tuple[np.ndarray, np.ndarray]:
    """Min-label propagation to its fixpoint: each vertex ends with the
    smallest vertex id of its component. Returns (ids, comp)."""
    ids, s, d = dense(src, dst)
    comp = ids.copy()
    while True:
        nxt = comp.copy()
        np.minimum.at(nxt, d, comp[s])
        np.minimum.at(nxt, s, comp[d])
        if np.array_equal(nxt, comp):
            return ids, comp
        comp = nxt


def label_propagation(src, dst, iterations: int) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous LPA with the engine's rule on unit edge weights:
    labels start as the vertex id; each round a vertex takes the label
    most frequent among its in-neighbours, ties to the smallest label,
    and keeps its own without in-edges. Returns (ids, labels)."""
    ids, s, d = dense(src, dst)
    n = len(ids)
    lab = np.arange(n)  # labels are vertex ids; kept as their positions
    for _ in range(iterations):
        keys, w = np.unique(d * n + lab[s], return_counts=True)
        dv, lv = keys // n, keys % n
        order = np.lexsort((lv, -w, dv))  # per dst: heaviest, then min label
        dv, lv = dv[order], lv[order]
        first = np.r_[True, dv[1:] != dv[:-1]]
        lab = lab.copy()
        lab[dv[first]] = lv[first]
    return ids, ids[lab]


def triangle_total(repo_root: str, lineitem_dir: str, threads: int) -> int:
    """The ``triangle_total`` DuckDB oracle over a lineitem table."""
    import sys

    import duckdb

    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["triangle_total"]
    con = duckdb.connect(config={"threads": threads})
    try:
        path = os.path.join(lineitem_dir, "lineitem.parquet")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
        return int(con.execute(sql).fetchone()[0])
    finally:
        con.close()


def lineitem(seed: int, orders: int, parts: int) -> tuple[np.ndarray, np.ndarray]:
    """A seeded TPC-H-shaped ``(l_orderkey, l_partkey)`` table: each
    order holds 1–7 lines drawn uniformly from ``parts`` part keys."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, orders)
    orderkey = np.repeat(np.arange(1, orders + 1, dtype="int64"), lines)
    return orderkey, rng.integers(1, parts + 1, orderkey.size, dtype="int64")


def write_lineitem(out_dir: str, orderkey: np.ndarray, partkey: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"l_orderkey": orderkey, "l_partkey": partkey}),
        os.path.join(out_dir, "lineitem.parquet"),
    )


def copurchase(orderkey: np.ndarray, partkey: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The co-purchase graph of ``copurchase_edges``: parts linked when
    they share an order, each distinct pair in both directions."""
    lines = np.unique(np.stack([orderkey, partkey]), axis=1)  # sorted (order, part)
    order, part = lines
    src, dst = [], []
    for k in range(1, 8):  # an order holds at most 7 lines
        same = order[k:] == order[:-k]
        src.append(part[:-k][same])
        dst.append(part[k:][same])
    pairs = np.unique(np.stack([np.concatenate(src), np.concatenate(dst)]), axis=1)
    return np.concatenate([pairs[0], pairs[1]]), np.concatenate([pairs[1], pairs[0]])


def by_id(ids: np.ndarray, values: np.ndarray, want_ids: np.ndarray) -> np.ndarray:
    """``values`` re-ordered to ``want_ids``; raises if an id is missing."""
    pos = np.searchsorted(ids, want_ids)
    if (pos >= len(ids)).any() or not np.array_equal(ids[np.minimum(pos, len(ids) - 1)], want_ids):
        raise ValueError("result and reference vertex sets differ")
    return values[pos]
