"""One timed pass of a workload: graph build, then the analytics in a
fixed order, each result collected to the driver.

Order: graph build → PageRank to L∞ < 1e-6 → WCC → label propagation
(5 rounds) → global triangle count → Adamic-Adar top-50 uncapped. The
derived views (``out_normalized_edges``, ``symmetrized``,
``canonical_undirected_edges``) are left lazy, so each one's cost falls to
the first analytic that needs it. A traced pass materializes each view in
its own child span instead, so the view's time can be read apart.

A workload runs the analytics it lists, in this order. On the durable
workload label propagation commits every round to a parquet
``CheckpointStore``; it is interrupted after round ``RESUME_AFTER`` and
relaunched on the same store. PageRank and WCC always run in memory.
"""

from __future__ import annotations

import shutil
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter as now

import numpy as np

from linkgraph.ingest import content_hashes, extract_references
from linkgraph.operators import (
    adamic_adar,
    label_propagation,
    pagerank,
    triangle_count,
    wcc,
)
from linkgraph.runner import CheckpointStore

from tracing import cached_bytes

TOL = 1e-6
MAX_ITERATIONS = 200
LP_ROUNDS = 5
TOP_K = 50
RESUME_AFTER = 2  # label-propagation rounds before the interruption


class TimedStore(CheckpointStore):
    """A CheckpointStore that logs each commit and each resume read."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.commits: list[tuple[int, float, float]] = []  # (iteration, t0, t1)
        self.load_s = 0.0

    def checkpointer(self, df, iteration):
        t0 = now()
        out = super().checkpointer(df, iteration)
        self.commits.append((iteration, t0, now()))
        return out

    def latest_iteration(self):
        t0 = now()
        try:
            return super().latest_iteration()
        finally:
            self.load_s += now() - t0

    def load(self, iteration):
        t0 = now()
        try:
            return super().load(iteration)
        finally:
            self.load_s += now() - t0


def dense(df, col: str, n: int, dtype) -> np.ndarray:
    """Collect an (id, value) result into a dense array indexed by id."""
    pdf = df.toPandas()
    out = np.zeros(n, dtype=dtype)
    out[pdf["id"].to_numpy()] = pdf[col].to_numpy()
    return out


@dataclass
class PassResult:
    times: dict = field(default_factory=dict)  # end-to-end seconds
    results: dict = field(default_factory=dict)  # analytic → collected answer
    errors: dict = field(default_factory=dict)  # analytic → traceback text
    stores: list = field(default_factory=list)
    pagerank_iterations: int = 0
    resume: dict = field(default_factory=dict)  # durable workloads only
    counts: dict = field(default_factory=dict)  # engine-side counts, traced only


# The analytics after the graph build, by name. Each takes (ctx, graph) and
# returns the collected answer.
def _pagerank(ctx, g):
    if ctx.rec.tracing:
        with ctx.rec.phase("graph.norm"):
            g.out_normalized_edges().count()
    info: dict = {}
    ranks = dense(
        pagerank(g, tol=TOL, max_iterations=MAX_ITERATIONS, info=info),
        "rank", g.num_vertices, np.float64,
    )
    ctx.out.pagerank_iterations = int(info["iterations"])
    return ranks


def _wcc(ctx, g):
    rec = ctx.rec
    if rec.tracing:
        with rec.phase("graph.sym"):
            g.symmetrized().edges.count()
    df = wcc(g, checkpointer=rec.round_log("wcc") if rec.tracing else None)
    return dense(df, "comp", g.num_vertices, np.int64)


def _labelprop(ctx, g):
    rec = ctx.rec
    if not ctx.workload.durable:
        df = label_propagation(g, iterations=LP_ROUNDS)
        return dense(df, "label", g.num_vertices, np.int64)
    # interrupted after RESUME_AFTER rounds, then relaunched on the same
    # store: the relaunch reads the last committed round and goes on
    first = ctx.store("labelprop", "run")
    label_propagation(g, iterations=RESUME_AFTER, store=first)
    relaunch = ctx.store("labelprop", "run")
    t0 = now()
    with rec.phase("resume"):
        df = label_propagation(g, iterations=LP_ROUNDS, store=relaunch)
        ctx.out.resume = {
            "resume_s": relaunch.commits[0][2] - t0 if relaunch.commits else 0.0,
            "load_s": relaunch.load_s,
            "first_leg": [c[0] for c in first.commits],
            "relaunch": [c[0] for c in relaunch.commits],
        }
    return dense(df, "label", g.num_vertices, np.int64)


def _triangles(ctx, g):
    if ctx.rec.tracing:
        with ctx.rec.phase("graph.canon"):
            g.canonical_undirected_edges().count()
    return int(triangle_count(g).collect()[0]["triangles"])


def _linkpred(ctx, g):
    pdf = adamic_adar(g, top_k=TOP_K, max_center_degree=None).toPandas()
    return pdf[["a", "b", "cn", "aa"]].to_numpy(dtype=np.float64)


ANALYTICS = {
    "pagerank": _pagerank,
    "wcc": _wcc,
    "labelprop": _labelprop,
    "triangles": _triangles,
    "linkpred": _linkpred,
}


class PassContext:
    def __init__(self, spark, workload, ckpt_root: Path, rec):
        self.spark = spark
        self.workload = workload
        self.ckpt_root = ckpt_root
        self.rec = rec
        self.out = PassResult()

    def store(self, algo: str, run_id: str) -> TimedStore:
        s = TimedStore(self.spark, str(self.ckpt_root), algo, run_id)
        self.out.stores.append(s)
        return s


def _fail(out: PassResult, name: str, t0: float) -> None:
    out.errors[name] = traceback.format_exc()
    out.times[name] = now() - t0
    print(f"perfbench: {name} raised:\n{out.errors[name]}", file=sys.stderr)


def run_pass(spark, workload, inp: Path, ckpt_root: Path, rec) -> PassResult:
    """Run every analytic once. An analytic that raises is recorded and the
    pass goes on with the next one; nothing is retried."""
    shutil.rmtree(ckpt_root, ignore_errors=True)
    ctx = PassContext(spark, workload, ckpt_root, rec)
    out = ctx.out
    t_start = now()
    g = None
    try:
        g = workload.build(spark, inp, rec)
    except Exception:  # noqa: BLE001 - a failed build is a counted failure
        _fail(out, "graph", t_start)
    out.times["graph_ready"] = now() - t_start
    if rec.tracing and g is not None:
        rec.note("graph.cached_bytes", cached_bytes(spark))
    for name in workload.analytics:
        t0 = now()
        if g is None:
            out.errors[name] = "graph build failed"
            out.times[name] = 0.0
            continue
        try:
            with rec.phase(name):
                out.results[name] = ANALYTICS[name](ctx, g)
            out.times[name] = now() - t0
        except Exception:  # noqa: BLE001 - counted, reported, never retried
            _fail(out, name, t0)
    out.times["total"] = now() - t_start

    # correctness evidence, collected after the timed region
    if g is not None:
        try:
            e = g.edges.select("src", "dst").toPandas().to_numpy(dtype=np.int64)
            out.results["graph"] = (e, g.num_vertices)
            if workload.durable:
                src = workload.source(spark, inp)
                rows = content_hashes(src).collect()
                out.results["content"] = {r["sha256"]: int(r["n"]) for r in rows}
                if rec.tracing:
                    out.counts["ingest.refs"] = extract_references(src).count()
        except Exception:  # noqa: BLE001
            _fail(out, "graph", now())
    spark.catalog.clearCache()
    return out
