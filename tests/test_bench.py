"""bench.py's contract: the scaling gate and pinning, and one small
end-to-end run."""

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_scaling_gate_needs_the_pinned_cpus():
    from bench import scaling_skip_reason

    reason = scaling_skip_reason(set(range(4)))
    assert "(16 CPUs)" in reason and "may run on 4" in reason
    assert scaling_skip_reason(set(range(16))) is None
    assert scaling_skip_reason(set(range(32))) is None
    # 16 CPUs, but not the ones the protocol pins
    assert scaling_skip_reason(set(range(1, 17))) is not None


def test_scaling_driver_is_pinned_with_the_master(monkeypatch):
    """Each cluster_scale.py draw, and so its driver JVM, runs under taskset
    on the master's CPU pair, off the executors' pairs. A stub stands in
    for Popen, so no cluster starts."""
    import bench

    argvs = []

    class Draw:
        def __init__(self, args, stdout, **kw):
            argvs.append(args)
            self.args = args
            stdout.write("SCALE 1.5 42\n")

        def wait(self, timeout=None):
            return 0

    monkeypatch.setattr(bench.subprocess, "Popen", Draw)
    assert bench._draw("L", "/in", None) == [(1.5, 42)]
    assert bench._draw("S", "/in", None) == [(1.5, 42)] * 4
    masters = ["8-9", "8-9", "10-11", "12-13", "14-15"]
    for argv, aux in zip(argvs, masters, strict=True):
        assert argv[:3] == ["taskset", "-c", aux]
        assert argv[argv.index("--aux-cpus") + 1] == aux


def test_bench_prints_the_json_contract():
    p = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")], cwd=ROOT, timeout=900,
        capture_output=True, text=True,
        env=dict(os.environ, BENCH_CONVS="200", BENCH_SKIP_SCALING="1"))
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["metric"] == "kg_pipeline_triples_per_sec"
    assert out["value"] > 0 and out["unit"] == "triples/s"
    assert out["n_convs"] == 200 and out["triples"] > 0
    assert out["pipeline_cores"] == len(os.sched_getaffinity(0))
    assert out["host"]["nproc"] == out["pipeline_cores"]
    assert out["scaling"] == {"skipped": "BENCH_SKIP_SCALING is set"}
