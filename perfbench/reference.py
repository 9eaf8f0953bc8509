"""Reference answers and the checks against them.

The references never run on Spark:

- PageRank and WCC come from the NumPy oracles in ``linkgraph.oracles``;
- label propagation, triangles and Adamic-Adar come from their DuckDB twins
  in ``linkgraph.oracle_sql``, with the ``edges`` CTE reading the
  reference edge list written as parquet.

Answers are cached under the input fingerprint, so a rerun on the same
input skips the oracles.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from linkgraph.derive import EDGES_SQL
from linkgraph.oracle_sql import adamic_adar_sql, labelprop_sql, triangles_sql
from linkgraph.oracles import pagerank_oracle, wcc_oracle

from pipeline import LP_ROUNDS, MAX_ITERATIONS, TOL, TOP_K

# PageRank in memory tests convergence once per block of `unroll` (4)
# iterations; the oracle tests at the same points.
PAGERANK_BLOCK = 4


def _duck_edges_sql(path: str, n: int) -> str:
    return f"""
edges AS (SELECT src, dst FROM read_parquet('{path}')),
vertices AS (SELECT CAST(range AS BIGINT) AS id FROM range({n}))
"""


def _twin(sql: str, path: str, n: int) -> str:
    if EDGES_SQL not in sql:
        raise ValueError("oracle SQL no longer starts from derive.EDGES_SQL")
    return sql.replace(EDGES_SQL, _duck_edges_sql(path, n))


def compute(ref, edge_parquet, analytics) -> dict:
    """The reference answer of each analytic in ``analytics``."""
    e, n = ref.edges, ref.num_vertices
    pq.write_table(
        pa.table({"src": pa.array(e[:, 0], pa.int64()), "dst": pa.array(e[:, 1], pa.int64())}),
        edge_parquet,
    )
    path = str(edge_parquet)
    out = {}
    if "pagerank" in analytics:
        out["pagerank"] = pagerank_oracle(
            e, n, tol=TOL, max_iterations=MAX_ITERATIONS, check_every=PAGERANK_BLOCK
        )
    if "wcc" in analytics:
        out["wcc"] = wcc_oracle(e, n).astype(np.int64)
    con = duckdb.connect()
    try:
        if "labelprop" in analytics:
            lp = con.execute(_twin(labelprop_sql(LP_ROUNDS), path, n)).fetchnumpy()
            labels = np.zeros(n, dtype=np.int64)
            labels[lp["id"]] = lp["label"]
            out["labelprop"] = labels
        if "triangles" in analytics:
            out["triangles"] = np.int64(
                con.execute(_twin(triangles_sql(), path, n)).fetchone()[0]
            )
        if "linkpred" in analytics:
            aa = con.execute(_twin(adamic_adar_sql(TOP_K), path, n)).fetchnumpy()
            out["linkpred"] = np.column_stack(
                [aa["a"], aa["b"], aa["cn"], aa["aa"]]
            ).astype(np.float64)
    finally:
        con.close()
    return out


def load_or_compute(ref, fingerprint: dict, cache_dir, analytics) -> dict:
    cache_dir.mkdir(parents=True, exist_ok=True)
    path = cache_dir / f"{fingerprint['sha256'][:32]}-n{ref.num_vertices}.npz"
    if path.exists():
        with np.load(path) as z:
            if set(analytics) <= set(z.files):
                return {k: z[k] for k in z.files}
    out = compute(ref, cache_dir / "edges.parquet", analytics)
    tmp = path.with_suffix(".tmp.npz")
    np.savez(tmp, **out)
    tmp.replace(path)
    return out


def check(name: str, got, want) -> str | None:
    """None when ``got`` matches the reference, else what differs."""
    if name == "pagerank":
        err = float(np.max(np.abs(got - want))) if len(want) else 0.0
        return None if np.allclose(got, want, rtol=0.0, atol=TOL) else f"max |Δ| {err:.3g}"
    if name in ("wcc", "labelprop"):
        bad = int(np.count_nonzero(got != want))
        return None if bad == 0 else f"{bad} vertices differ"
    if name == "triangles":
        return None if int(got) == int(want) else f"{got} != {want}"
    if name == "linkpred":
        if got.shape != want.shape:
            return f"{got.shape[0]} rows != {want.shape[0]}"
        same = np.array_equal(got[:, :3], want[:, :3]) and np.array_equal(
            np.round(got[:, 3], 6), np.round(want[:, 3], 6)
        )
        return None if same else "top-k rows differ"
    raise KeyError(name)
