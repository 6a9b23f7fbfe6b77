"""Reference results computed without the engine.

PageRank is a vectorised numpy power iteration, WCC a union-find, and
the triangle count a DuckDB wedge join. Label propagation and SCC reuse the
pure-Python oracles of the test suite (``tests/oracles.py``) unchanged.
Every function takes plain numpy arrays or Python lists collected from
the workload's *input* edges, never from the engine's intermediate plans.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    damping: float = 0.85,
    tolerance: float = 0.0,
    max_iterations: int = 20,
) -> tuple[np.ndarray, int]:
    """Unweighted GDS PageRank over dense ids ``0..n-1``: init 1.0,
    dangling mass lost, stop when max |delta| < tolerance.
    Returns (scores, iterations)."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.ones(n)
    for it in range(1, max_iterations + 1):
        contrib = np.divide(r, out_deg, out=np.zeros(n), where=out_deg > 0)
        msg = np.bincount(dst, weights=contrib[src], minlength=n)
        new_r = (1.0 - damping) + damping * msg
        delta = float(np.abs(new_r - r).max()) if n else 0.0
        r = new_r
        if delta < tolerance:
            return r, it
    return r, max_iterations


def wcc(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Union-find over undirected edges; component id = min member index."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller root so every root is its component's minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph (self-loops ignored), by a
    wedge join over edges oriented a < b, closed by the edge (b, c)."""
    con = duckdb.connect()
    try:
        con.register("raw", pd.DataFrame({"s": src, "d": dst}))
        return con.execute(
            """
            WITH e AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM raw WHERE s <> d
            )
            SELECT count(*)
            FROM e e1
            JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
            """
        ).fetchone()[0]
    finally:
        con.close()
