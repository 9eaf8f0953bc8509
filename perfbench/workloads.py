"""The benchmark's workloads: how each one makes its input from the seed,
reads that input back independently of the engine, and builds its graph.

Every workload writes one parquet table during set-up. Two readers consume
it:

- the engine, through its public functions, inside the timed pass
  (``build``);
- the benchmark's reference side, through pyarrow and NumPy only
  (``reference_input``). That side never calls ``linkgraph``: it re-derives
  the edge list that the engine is expected to build, so the fingerprint
  and every oracle rest on an independent reading of the input.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from linkgraph.derive import NUM_VERTICES, link_graph
from linkgraph.graph import Graph
from linkgraph.ingest import extract_edges
from linkgraph.ingest.synth import synthesize_source_table_distributed


@dataclass
class ReferenceInput:
    """The input as the reference side reads it."""

    edges: np.ndarray  # (m, 2) int64, src/dst dense vertex ids
    num_vertices: int
    rows: int  # rows of the input table (files, or lineitem rows)
    content_sha256: dict = field(default_factory=dict)  # repo-pipeline only

    def fingerprint(self) -> dict:
        """Shape and identity of the input: a later change that makes the
        generators emit a smaller or different graph changes this."""
        e = self.edges
        order = np.lexsort((e[:, 1], e[:, 0]))
        srt = np.ascontiguousarray(e[order])
        distinct = int(np.unique(srt, axis=0).shape[0]) if len(srt) else 0
        indeg = np.bincount(e[:, 1], minlength=self.num_vertices)
        return {
            "files": self.rows,
            "vertices": self.num_vertices,
            "edges": int(len(e)),
            "distinct_edges": distinct,
            "max_in_degree": int(indeg.max()) if len(indeg) else 0,
            "sha256": hashlib.sha256(srt.astype("<i8").tobytes()).hexdigest(),
        }


class Workload:
    name: str
    durable: bool = False  # label propagation commits through a CheckpointStore
    analytics: tuple[str, ...]  # run after the graph build, in this order
    params: dict

    def write_input(self, spark, seed: int, inp: Path) -> None:
        raise NotImplementedError

    def reference_input(self, inp: Path) -> ReferenceInput:
        raise NotImplementedError

    def build(self, spark, inp: Path, rec) -> Graph:
        raise NotImplementedError


# ------------------------------------------------------------ repo-pipeline
# Import syntax per language, read line by line. Deliberately written apart
# from linkgraph.ingest.extract so the two parsers check each other.
_PY_IMPORT = re.compile(r"^\s*import\s+([\w.]+)\s*$")
_PY_FROM = re.compile(r"^\s*from\s+([\w.]+)\s+import\s+\w+\s*$")
_JAVA_IMPORT = re.compile(r"^\s*import\s+([\w.]+)\s*;")
_C_INCLUDE = re.compile(r'^\s*#include\s+"([^"]+)"')


def _referenced_repos(lang: str, content: str) -> list[str]:
    out = []
    for line in content.split("\n"):
        if lang == "python":
            m = _PY_FROM.match(line) or _PY_IMPORT.match(line)
            parts = m.group(1).split(".") if m else []
            need = 2
        elif lang == "java":
            m = _JAVA_IMPORT.match(line)
            parts = m.group(1).split(".") if m else []
            need = 2
        elif lang == "c":
            m = _C_INCLUDE.match(line)
            parts = m.group(1).split("/") if m else []
            need = 3
        else:
            parts, need = [], 1
        if len(parts) >= need:
            out.append(f"{parts[0]}/{parts[1]}")
    return out


class RepoPipeline(Workload):
    """Source-code table → ingest → graph; durable label propagation."""

    name = "repo-pipeline"
    durable = True
    analytics = ("pagerank", "wcc", "labelprop", "triangles", "linkpred")

    def __init__(self, n_repos: int = 2_000, deps_per_repo: int = 8):
        self.params = {"n_repos": n_repos, "deps_per_repo": deps_per_repo}

    def write_input(self, spark, seed, inp):
        synthesize_source_table_distributed(
            spark, self.params["n_repos"], self.params["deps_per_repo"], seed=seed
        ).write.mode("overwrite").parquet(str(inp / "source"))

    def reference_input(self, inp):
        t = pq.read_table(inp / "source", columns=["repo", "lang", "content"])
        repos = t.column("repo").to_pylist()
        langs = t.column("lang").to_pylist()
        contents = t.column("content").to_pylist()
        names = sorted(set(repos))
        vid = {r: i for i, r in enumerate(names)}
        pairs = set()
        shas: dict[str, int] = {}
        for repo, lang, content in zip(repos, langs, contents):
            for ref in _referenced_repos(lang, content):
                if ref in vid:
                    pairs.add((vid[repo], vid[ref]))
            h = hashlib.sha256(content.encode()).hexdigest()
            shas[h] = shas.get(h, 0) + 1
        edges = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
        return ReferenceInput(edges, len(names), t.num_rows, shas)

    def source(self, spark, inp):
        return spark.read.parquet(str(inp / "source"))

    def build(self, spark, inp, rec):
        src = self.source(spark, inp)
        with rec.phase("ingest"):
            edges, ids = extract_edges(src)
            if rec.tracing:  # materialize so the span holds the extraction
                edges = edges.persist()
                rec.note("ingest.edges", edges.count())
            n = ids.count()
        with rec.phase("graph"):
            g = Graph.from_edges(spark, edges, num_vertices=n)
            g.num_edges()  # builds and persists the layout
        return g


# ---------------------------------------------------------------- gate-dense
PARTS = 20_000  # distinct part keys, as in the test data's lineitem


class GateDense(Workload):
    """``derive.link_graph`` over a generated lineitem-shaped table.

    The columns ``link_graph`` reads are generated like the TPC-H-shaped
    test data's ``lineitem``: four lines per order and uniform part keys
    over ``PARTS`` parts. The gate graph keeps ``(orderkey % 2048,
    partkey % 2048)`` pairs, so its vertex count is fixed and its density
    grows with rows. WCC and label propagation are left out: on 2,048
    vertices they are launch-latency bound like PageRank, which
    repo-pipeline already measures."""

    name = "gate-dense"
    analytics = ("pagerank", "triangles", "linkpred")

    def __init__(self, rows: int = 60_000):
        self.params = {"rows": rows, "parts": PARTS, "vertices": NUM_VERTICES}

    def write_input(self, spark, seed, inp):
        li = spark.range(self.params["rows"], numPartitions=4).select(
            F.floor(F.col("id") / 4).cast("long").alias("l_orderkey"),
            F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(PARTS))
            .cast("long")
            .alias("l_partkey"),
        )
        li.write.mode("overwrite").parquet(str(inp / "lineitem.parquet"))

    def reference_input(self, inp):
        t = pq.read_table(inp / "lineitem.parquet", columns=["l_orderkey", "l_partkey"])
        o = t.column("l_orderkey").to_numpy() % NUM_VERTICES
        p = t.column("l_partkey").to_numpy() % NUM_VERTICES
        edges = np.unique(np.column_stack([o, p]).astype(np.int64), axis=0)
        return ReferenceInput(edges, NUM_VERTICES, t.num_rows)

    def build(self, spark, inp, rec):
        with rec.phase("graph"):
            g = link_graph(spark, str(inp))
            g.num_edges()
        return g


WORKLOADS: dict[str, Workload] = {w.name: w for w in (RepoPipeline(), GateDense())}
