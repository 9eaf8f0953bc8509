"""Tiny-size self-test of the benchmark.

    python3 perfbench/run.py --selftest

For each workload, at a tiny size and without input pins, it checks that

- an untraced run emits every end-to-end metric of BENCHMARK.json, and a
  traced run every per-layer metric;
- a clean run is correct with nothing failed;
- an injected wrong answer (triangle count off by one) and an injected
  exception (Adamic-Adar raises) are each counted as one failed operation;
- on repo-pipeline, a relaunch whose store forgets the committed rounds
  (``latest_iteration`` returns None, so label propagation starts over and
  still gives the right labels) is counted as a failed resume.

Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

import main
import pipeline
from workloads import GateDense, RepoPipeline

SPEC = json.loads((main.HERE.parent / "BENCHMARK.json").read_text())
TINY = (RepoPipeline(n_repos=60, deps_per_repo=3), GateDense(rows=3000))


def _names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


def _wrong_triangles(ctx, g):
    return _real_triangles(ctx, g) + 1


def _raising_linkpred(ctx, g):
    raise RuntimeError("injected failure")


class _ForgetfulStore(pipeline.TimedStore):
    def latest_iteration(self):
        return None


_real_triangles = pipeline.ANALYTICS["triangles"]
_real_linkpred = pipeline.ANALYTICS["linkpred"]
_real_store = pipeline.TimedStore


def main_(argv: list[str]) -> int:
    problems = []
    with tempfile.TemporaryDirectory(dir=Path.cwd()) as tmp:
        work = Path(tmp)
        for wl in TINY:
            traced = main.run(wl, 1, 0, True, work, pins=None)
            missing = _names("per_layer") - set(traced["metrics"])
            if missing or not traced["correct"] or traced["failed"]:
                problems.append(f"{wl.name} traced: missing {sorted(missing)}, {traced['failed']} failed")

            pipeline.ANALYTICS["triangles"] = _wrong_triangles
            pipeline.ANALYTICS["linkpred"] = _raising_linkpred
            pipeline.TimedStore = _ForgetfulStore
            try:
                bad = main.run(wl, 1, 0, False, work, pins=None)
            finally:
                pipeline.ANALYTICS["triangles"] = _real_triangles
                pipeline.ANALYTICS["linkpred"] = _real_linkpred
                pipeline.TimedStore = _real_store
            missing = _names("end_to_end") - set(bad["metrics"])
            if missing:
                problems.append(f"{wl.name} untraced: missing {sorted(missing)}")
            want = 3 if wl.durable else 2
            if bad["correct"] or bad["failed"] != want:
                problems.append(
                    f"{wl.name}: injected faults gave {bad['failed']} failed, want {want}")
            print(f"selftest: {wl.name} traced {traced['failed']} failed, injected {bad['failed']} failed",
                  file=sys.stderr)
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main_(sys.argv[1:]))
