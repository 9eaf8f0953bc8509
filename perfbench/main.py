"""One benchmark run: set up, run timed passes, check, print the result.

    python3 perfbench/run.py --workload repo-pipeline --seed 7 --seconds 30 --trace 0

Start it through ``run.py``, which pins the environment. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import sys
from pathlib import Path
from time import perf_counter as now

import numpy as np

from linkgraph.session import get_spark

import reference
from pipeline import LP_ROUNDS, RESUME_AFTER, run_pass
from tracing import SPARK_PHASES, Recorder, SparkSampler
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
PINS = HERE / "pins.json"
SETUPS = 3  # input writes per run; setup_s takes their median
PINNED_SEEDS = 100  # a run makes its input from seed % 100; pins.json holds all 100

# Instrumentation only, the same for every workload: keep every stage of
# a long iterative run in the status store (the default keeps 1000), and
# keep the console progress bar out of the log.
BENCH_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.showConsoleProgress": "false",
}

SPARK_METRICS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s", "executor_run_s", "core_busy_frac",
)


# ------------------------------------------------------------------ set-up
def set_up(workload, seed: int, inp: Path):
    """Start the session, then write the input SETUPS times. ``setup_s`` is
    the session start plus the median write. The session is started once:
    a restart per round would also restart the Python workers that the
    input generators run in, several seconds each on repo-pipeline."""
    t0 = now()
    spark = get_spark(extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = now() - t0
    writes = []
    for _ in range(SETUPS):
        t = now()
        workload.write_input(spark, seed, inp)
        writes.append(now() - t)
    return spark, start_s + statistics.median(writes), start_s


def check_input(workload, seed: int, fp: dict, pins: dict | None) -> str | None:
    """None when the generated input equals the fingerprint pinned for its
    seed. A seed without a pin fails."""
    if pins is None:
        return None
    entry = pins.get(workload.name)
    if entry is None:
        return "no pinned fingerprints"
    if entry["params"] != workload.params:
        return f"parameters {workload.params} differ from pinned {entry['params']}"
    want = entry["seeds"].get(str(seed))
    if want is None:
        return f"input seed {seed} is not pinned"
    diff = sorted(k for k in want if want[k] != fp.get(k))
    return f"fingerprint differs in {diff}" if diff else None


def check_resume(resume: dict) -> str | None:
    """None when the first leg committed rounds 0..RESUME_AFTER and the
    relaunch went on from the round after, instead of starting over."""
    first, relaunch = resume.get("first_leg"), resume.get("relaunch")
    if first != list(range(RESUME_AFTER + 1)):
        return f"first leg committed rounds {first}"
    if not relaunch or relaunch[0] != RESUME_AFTER + 1:
        return f"relaunch committed rounds {relaunch}, not from {RESUME_AFTER + 1}"
    return None


# ------------------------------------------------------------------ checks
def check_pass(workload, p, ref, answers) -> dict[str, str | None]:
    """Verdict per checked operation of one pass: None when correct."""
    verdicts: dict[str, str | None] = {}
    got = p.results.get("graph")
    if got is None:
        verdicts["graph"] = p.errors.get("graph", "no graph")
    else:
        e, n = got
        e = e[np.lexsort((e[:, 1], e[:, 0]))]
        want = ref.edges[np.lexsort((ref.edges[:, 1], ref.edges[:, 0]))]
        ok = n == ref.num_vertices and np.array_equal(e, want)
        verdicts["graph"] = None if ok else "edge list differs from the reference"
    if workload.durable:
        same = p.results.get("content") == ref.content_sha256
        verdicts["content"] = None if same else "content sha256 multiset changed"
        verdicts["resume"] = check_resume(p.resume)
    for name in workload.analytics:
        if name in p.errors:
            verdicts[name] = p.errors[name].strip().splitlines()[-1]
        else:
            verdicts[name] = reference.check(name, p.results[name], answers[name])
    return verdicts


# ----------------------------------------------------------------- metrics
def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def end_to_end(passes, setup_s: float, num_edges: int) -> dict:
    def med(f):
        return statistics.median(f(p) for p in passes)

    return {
        "setup_s": (setup_s, "s"),
        "total_s": (med(lambda p: p.times["total"]), "s"),
        "graph_ready_s": (med(lambda p: p.times["graph_ready"]), "s"),
        "pagerank_s": (med(lambda p: p.times["pagerank"]), "s"),
        "pr_edges_per_s": (
            med(lambda p: num_edges * p.pagerank_iterations / p.times["pagerank"]),
            "edges/s",
        ),
        "triangles_s": (med(lambda p: p.times["triangles"]), "s"),
        "linkpred_s": (med(lambda p: p.times["linkpred"]), "s"),
    }


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def per_layer(spark, p, rec, start_s, ckpt_root) -> dict:
    t = rec.times
    sp = {ph: rec.spark.get(ph, {}) for ph in SPARK_PHASES}

    def s(phase, key):
        return sp[phase].get(key, 0)

    iters = max(p.pagerank_iterations, 1)
    pr_s = t.get("pagerank", 0.0) - t.get("graph.norm", 0.0)
    wcc_rounds = max(len(rec.rounds.get("wcc", [])) - 1, 0)  # 0: WCC not run
    out = {
        "session.start_s": (start_s, "s"),
        "session.peak_rss_mb": (peak_rss_mb(spark), "MB"),
        "ingest.extract_s": (t.get("ingest", 0.0), "s"),
        "ingest.refs": (p.counts.get("ingest.refs", 0), "count"),
        "ingest.edges": (rec.notes.get("ingest.edges", 0), "count"),
        "graph.build_s": (t.get("graph", 0.0), "s"),
        "graph.norm_s": (t.get("graph.norm", 0.0), "s"),
        "graph.sym_s": (t.get("graph.sym", 0.0), "s"),
        "graph.canon_s": (t.get("graph.canon", 0.0), "s"),
        "graph.cached_bytes": (rec.notes.get("graph.cached_bytes", 0), "bytes"),
        "pagerank.iterations": (p.pagerank_iterations, "count"),
        "pagerank.s_per_iter": (pr_s / iters, "s"),
        "pagerank.stages_per_iter": (s("pagerank", "stages") / iters, "count"),
        "pagerank.tasks_per_iter": (s("pagerank", "tasks") / iters, "count"),
        "pagerank.shuffle_bytes_per_iter": (
            s("pagerank", "shuffle_write_bytes") / iters, "bytes"),
        "wcc.rounds": (wcc_rounds, "count"),
        "wcc.s_per_round": (
            (t.get("wcc", 0.0) - t.get("graph.sym", 0.0)) / max(wcc_rounds, 1), "s"),
        "labelprop.s_per_round": (t.get("labelprop", 0.0) / LP_ROUNDS, "s"),
        "labelprop.task_skew": (s("labelprop", "task_skew"), "ratio"),
        "triangles.task_skew": (s("triangles", "task_skew"), "ratio"),
        "trace.overhead_s": (rec.overhead_s, "s"),
        "trace.total_s": (p.times["total"], "s"),
    }
    commits = [c for st in p.stores for c in st.commits]
    # a relaunch shares its (algo, run_id) lineage rows with the first leg
    runs = {(st.algo, st.run_id): st for st in p.stores}
    lineage = sum(st.metrics().count() for st in runs.values())
    out.update({
        "ckpt.calls": (len(commits), "count"),
        "ckpt.write_s": (sum(c[2] - c[1] for c in commits), "s"),
        "ckpt.bytes": (_dir_bytes(ckpt_root) if ckpt_root.exists() else 0, "bytes"),
        "ckpt.lineage_rows": (lineage, "count"),
        "ckpt.resume_load_s": (p.resume.get("load_s", 0.0), "s"),
        "ckpt.resume_s": (p.resume.get("resume_s", 0.0), "s"),
    })
    units = {"gc_s": "s", "executor_run_s": "s", "core_busy_frac": "ratio"}
    for ph in SPARK_PHASES:
        for key in SPARK_METRICS:
            unit = units.get(key, "bytes" if key.endswith("_bytes") else "count")
            out[f"{ph}.{key}"] = (s(ph, key), unit)
    return out


# -------------------------------------------------------------------- main
def run(workload, seed: int, seconds: float, trace: bool, work: Path, pins) -> dict:
    inp = work / "input" / workload.name
    ckpt_root = work / "ckpt" / workload.name
    input_seed = seed % PINNED_SEEDS
    t_run = now()
    spark, setup_s, start_s = set_up(workload, input_seed, inp)
    try:
        ref = workload.reference_input(inp)
        fp = ref.fingerprint()
        print(
            f"perfbench: {workload.name} seed {seed} (input seed {input_seed}) "
            f"input {json.dumps(fp)}",
            file=sys.stderr,
        )
        attempted, failures = 1, []
        problem = check_input(workload, input_seed, fp, pins)
        if problem:
            failures.append(("input", problem))
        answers = reference.load_or_compute(ref, fp, work / "refcache", workload.analytics)
        t_refs = now()

        passes = []
        while True:
            rec = Recorder(SparkSampler(spark) if trace else None)
            p = run_pass(spark, workload, inp, ckpt_root, rec)
            passes.append(p)
            for op, verdict in check_pass(workload, p, ref, answers).items():
                attempted += 1
                if verdict is not None:
                    failures.append((op, verdict))
            # whole passes only: stop when the next would end after `seconds`
            if trace or now() + p.times["total"] > t_refs + seconds:
                break
        for op, why in failures:
            print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)
        print(
            f"perfbench: set-up and references {t_refs - t_run:.1f} s, "
            f"{len(passes)} pass(es) with checks {now() - t_refs:.1f} s",
            file=sys.stderr,
        )

        if trace:
            metrics = per_layer(spark, p, rec, start_s, ckpt_root)
            spans = work / f"trace-{workload.name}-{seed}.json"
            spans.write_text(json.dumps({"spans": rec.spans, "spark": rec.spark}, indent=1))
        else:
            num_edges = len(p.results["graph"][0]) if "graph" in p.results else 0
            metrics = end_to_end(passes, setup_s, num_edges)
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        spark.stop()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    pins = json.loads(PINS.read_text())
    result = run(
        WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), Path.cwd(), pins
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
