"""Launch one benchmark run in a child process with a pinned environment.

    python3 perfbench/run.py --workload gate-dense --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest           # tiny-size self-test
    python3 perfbench/run.py --pin-inputs 0 99    # rewrite pins.json

Run it from the repository root. The launcher

- refuses to start (exit 2) when the ``linkgraph`` sources are not beside
  ``perfbench/``;
- exports ``PYTHONPATH`` to the repository root, because ``mapInPandas``
  and ``pandas_udf`` workers import ``linkgraph`` by name and fail with
  ``ModuleNotFoundError`` otherwise;
- pins ``SPARK_LOCAL_DIRS`` (shuffle files), ``TMPDIR``, the JVM's
  ``java.io.tmpdir`` and the working directory under ``perfbench/_work/``,
  so every file a run writes stays in the checkout and both sides of an
  A/B shuffle to the same place;
- sets ``SPARK_GRAFT_CPUS`` to the usable core count, so ``get_spark``
  runs ``local[$(nproc)]``;
- runs the benchmark in its own process group, kills the group if it
  outlives the time limit, and waits until every process in it is gone.

The child's standard output is passed through unchanged; its last line is
the result JSON.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
TIME_LIMIT_S = 170.0
# first argument → script run in place of main.py, with the rest as its args
TOOLS = {"--selftest": "selftest.py", "--pin-inputs": "pin_inputs.py"}


def _child_env() -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(WORK / "tmp")
    # the JVM ignores TMPDIR: point java.io.tmpdir (native libraries that
    # Spark unpacks) into the checkout and skip the /tmp/hsperfdata file
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (
            env.get("JAVA_TOOL_OPTIONS", ""),
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "-XX:-UsePerfData",
        ) if o
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _reap_group(pgid: int, grace_s: float) -> None:
    """Wait until no process of the group is left. What still runs after
    ``grace_s`` gets SIGKILL; a killed process that lingers as a zombie
    until init reaps it has ended, so the wait stops 5 s later."""
    deadline = time.monotonic() + grace_s
    killed_at = None
    while killed_at is None or time.monotonic() < killed_at + 5.0:
        try:
            if killed_at is None and time.monotonic() > deadline:
                os.killpg(pgid, signal.SIGKILL)
                killed_at = time.monotonic()
            else:
                os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    if not (ROOT / "linkgraph" / "__init__.py").is_file():
        print(f"perfbench: no linkgraph package under {ROOT}", file=sys.stderr)
        return 2
    tool = TOOLS.get(argv[0]) if argv else None
    script, args = (tool, argv[1:]) if tool else ("main.py", argv)
    limit = None if tool else TIME_LIMIT_S
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, str(HERE / script), *args],
        cwd=WORK,
        env=_child_env(),
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit:.0f} s, killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
    # the Spark JVM and Python workers share the child's process group
    _reap_group(proc.pid, grace_s=10.0)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
