"""Synchronous label propagation (community detection).

Not in the reference binary set, but named by the north rule as the
natural generalization of WCC's writeMin propagation (wcc.c:30-42): where
WCC takes the MIN neighbor label, LP takes the MOST FREQUENT neighbor
label. The reference's CAS races (nondeterministic update order) are
replaced with a total-order tie-break — ties go to the smaller label — so
output is deterministic and exactly testable (north rule: exact match).

Semantics (pinned, mirrored by the SQL oracle and the NumPy oracle):
- undirected view (symmetrized edges, multi-edges count as multiple votes);
- labels[i] = i initially;
- synchronous rounds: every vertex with ≥1 neighbor takes
  argmax_label count(neighbor votes), ties → min label; isolated vertices
  keep their label;
- fixed round count (default 10) — synchronous LP can oscillate on
  bipartite structures, so a fixed budget is the deterministic choice.

Physical notes: one shuffle to join labels onto edges (state → edges, the
small side moves), then ONE wide exchange of the (dst, label) vote rows
keyed on dst — HashPartitioning on dst satisfies both downstream
aggregates, so the (dst, label) count AND the per-vertex argmax run
exchange-free (measured A/B in label_propagation's docstring). The argmax is
``max(struct(cnt, -label))`` — an aggregate, NOT a window, so it needs no
sort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.runner import Checkpoints


def label_propagation(
    graph: Graph,
    iterations: int = 10,
    checkpointer: Callable[[DataFrame, int], DataFrame] | None = None,
    store=None,
    weighted: bool = False,
) -> DataFrame:
    """Returns DataFrame(id: long, label: long). ``store`` commits each
    round's labels; a relaunch continues from the highest committed round
    (fixed-round algorithm — the iteration index is the whole loop state).

    Each round repartitions the joined (dst, label) vote rows by ``dst``
    once; HashPartitioning(dst) satisfies the clustered distribution of
    BOTH the (dst, label) count and the per-dst argmax, so the two
    aggregates run exchange-free — one wide shuffle per round instead of
    the classic two-aggregate plan's two. Measured A/B at 24M symmetrized
    edges / 2^20 vertices, local[32]: 31.0 s → 18.9 s (1.6×) on the Zipf
    hub graph (1%-of-edges hub), labels bit-identical.

    ``weighted=True`` makes every vote carry its edge weight (argmax of
    summed neighbor-edge weight, ties still to the smaller label) — the
    community rule for weighted link graphs (co-occurrence counts,
    anchor-text multiplicity). The vote sums are exact in double for
    integer-valued weights, so determinism and the DuckDB twin's parity
    are preserved; the physical plan is unchanged (the weight column
    rides the same vote rows)."""
    ckpt = Checkpoints(checkpointer, store)
    if weighted and "weight" not in graph.edges.columns:
        raise ValueError("label_propagation: weighted=True needs a weight column")
    vote_cols = ["src", "dst"] + (["weight"] if weighted else [])
    sym = graph.symmetrized().edges.select(*vote_cols)

    start = 0
    resumed = ckpt.resume(iterations)
    if resumed is not None:
        start = resumed
        labels = store.load(start).select("id", "label")
    else:
        labels = graph.vertices().select("id", F.col("id").alias("label"))
        labels = ckpt.cut(labels, 0)

    vote = F.sum("weight") if weighted else F.count("*")
    for it in range(start + 1, iterations + 1):
        joined = sym.join(labels, sym["src"] == labels["id"]).select(
            "dst", "label", *(["weight"] if weighted else [])
        ).repartition(graph.num_partitions, "dst")
        votes = joined.groupBy("dst", "label").agg(vote.alias("cnt"))
        # argmax by (cnt, -label): max count, ties broken by smaller label
        winner = (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("w"))
            .select(F.col("dst"), (-F.col("w.nl")).alias("new_label"))
        )
        labels = (
            labels.join(winner, labels["id"] == winner["dst"], "left")
            .select("id", F.coalesce("new_label", F.col("label")).alias("label"))
        )
        labels = ckpt.cut(labels, it)

    return labels
