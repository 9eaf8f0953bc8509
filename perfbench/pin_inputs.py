"""Rewrite pins.json: the input fingerprint of every workload for a range
of seeds.

    python3 perfbench/run.py --pin-inputs FIRST LAST

A run makes its input from its seed modulo ``main.PINNED_SEEDS`` (100),
so pin 0 to 99. A run fails unless its input matches the pin exactly, and
fails when its input seed has no pin. Re-pin only when a workload is meant
to change, never to make a run pass.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from linkgraph.session import get_spark

from main import BENCH_CONF, PINS
from workloads import WORKLOADS


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    work = Path.cwd() / "pin-input"
    spark = get_spark(extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    pins = {}
    try:
        for name, wl in sorted(WORKLOADS.items()):
            seeds = {}
            for seed in range(first, last + 1):
                wl.write_input(spark, seed, work)
                seeds[str(seed)] = wl.reference_input(work).fingerprint()
                print(name, seed, seeds[str(seed)], file=sys.stderr, flush=True)
            pins[name] = {"params": wl.params, "seeds": seeds}
    finally:
        spark.stop()
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
