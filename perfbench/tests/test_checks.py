"""The benchmark counts a repetition whose output is wrong as a failure.

No Spark session is needed: a repetition is driven through the same
``attempt``/``check`` path the benchmark uses, with stand-in outputs.

    python3 -m pytest perfbench/tests -q
"""

import copy
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import run, workloads  # noqa: E402

GOOD_BUILD = {
    "outputs": {
        "nodes": {"rows": 156, "hsum": 11, "hxor": 12, "mentions": 900},
        "edges": {"rows": 40, "hsum": 21, "hxor": 22, "min_common": 2},
    },
    "recomputed": ["extract", "link", "canonicalize", "materialize"],
    "mentions": 900, "triples": 800, "terms": 300, "assigned": 300, "unassigned": 0,
}
GOOD_VOCAB = {
    "outputs": {"assignments": {"rows": 10, "hsum": 1, "hxor": 2}},
    "terms": 10, "assigned": 10, "unassigned": 0,
    "planted": {"hyphen": [2, 0], "substitution_rejected_by_design": [1, 1]},
}


@pytest.fixture(autouse=True)
def pins(monkeypatch, tmp_path):
    """Point the checks at an empty pin file; returns a setter for pins."""
    path = tmp_path / "expected.json"
    path.write_text("{}")
    monkeypatch.setattr(workloads, "EXPECTED_PATH", path)
    return lambda pinned: path.write_text(json.dumps(pinned))


def _rep(output, first=GOOD_BUILD, workload="durable_build"):
    return run.attempt(
        run=lambda: None,
        inspect=lambda: output,
        check=lambda res: workloads.check(workload, 1, res, first),
        cpu=lambda: 0.0,
        held=lambda: 1.0)


def _corrupt(base, path, value):
    out = copy.deepcopy(base)
    d = out
    for key in path[:-1]:
        d = d[key]
    d[path[-1]] = value
    return out


def test_correct_output_passes():
    reps = [_rep(GOOD_BUILD), _rep(GOOD_BUILD)]
    assert run.summarize(reps) == {"correct": True, "attempted": 2, "failed": 0}
    assert _rep(GOOD_VOCAB, GOOD_VOCAB, "vocab_resolve")["ok"]


def test_corrupted_output_counts_as_failure():
    corruptions = [
        ("outputs", "edges", "hxor"),          # content differs from the warm-up
        ("outputs", "edges", "min_common"),    # an edge below the threshold
        ("unassigned",),                       # a term without a canon
        ("recomputed",),                       # the run resumed instead of building
    ]
    values = [23, 1, 1, ["materialize"]]
    for path, value in zip(corruptions, values):
        bad = _corrupt(GOOD_BUILD, path, value)
        reps = [_rep(GOOD_BUILD), _rep(bad)]
        assert run.summarize(reps) == {"correct": False, "attempted": 2, "failed": 1}, path


def test_missed_planted_variant_counts_as_failure():
    bad = _corrupt(GOOD_VOCAB, ("planted", "hyphen"), [2, 1])
    rep = _rep(bad, GOOD_VOCAB, "vocab_resolve")
    assert not rep["ok"] and "hyphen" in rep["problems"][0]


def test_exception_counts_as_failure():
    def boom():
        raise RuntimeError("executor lost")

    rep = run.attempt(boom, dict, lambda res: [], lambda: 0.0, lambda: 0.0)
    assert not rep["ok"] and "executor lost" in rep["problems"][0]


def test_pinned_digest_mismatch_counts_as_failure(pins):
    pinned = _corrupt(GOOD_BUILD, ("outputs", "nodes", "rows"), 155)["outputs"]
    pins({"durable_build": {"1": pinned}})
    rep = _rep(GOOD_BUILD)
    assert not rep["ok"] and "pinned for seed 1" in rep["problems"][0]
