#!/usr/bin/env python3
"""Regenerate the pinned output digests in perfbench/expected.json.

    python3 perfbench/pin.py                  # every workload, seeds 0-31
    python3 perfbench/pin.py --workload vocab_resolve --seeds 0 31

For each seed this generates the workload's input, runs one repetition and
records its output digests. A seed is pinned only if the output passes every
check that holds at any seed (workloads.invariants). Run it after a change to
an input generator or an input size, on a commit whose output is trusted.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import probes, run, trace, workloads  # noqa: E402

GATED = ["durable_build", "vocab_resolve"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append", choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seeds", type=int, nargs=2, default=(0, 31), metavar=("FIRST", "LAST"))
    args = p.parse_args(argv)
    pins = json.loads(workloads.EXPECTED_PATH.read_text())
    work = run.WORK / "pin"
    spark = run.start_session(min(run.MAX_CORES, probes.host_facts()["nproc"]), work)
    failed = 0
    try:
        for name in args.workload or GATED:
            for seed in range(args.seeds[0], args.seeds[1] + 1):
                wl = workloads.WORKLOADS[name](seed, work / f"{name}-{seed}")
                wl.generate(spark)
                wl.bind(spark)
                wl.run(trace.NoTrace())
                res = wl.inspect()
                probes.release(spark)
                shutil.rmtree(wl.work, ignore_errors=True)
                problems = workloads.invariants(name, res, None)
                if problems:
                    failed += 1
                    print(f"{name} seed {seed} not pinned: {problems}", file=sys.stderr)
                    continue
                pins.setdefault(name, {})[str(seed)] = res["outputs"]
                print(f"{name} seed {seed}: {res['outputs']}", file=sys.stderr, flush=True)
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    workloads.EXPECTED_PATH.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
