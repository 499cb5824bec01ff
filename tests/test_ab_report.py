"""``tools/ab.py`` report verdicts on synthetic pairs and its line delta on
a synthetic ``git diff --numstat`` (no Spark)."""

from __future__ import annotations

import importlib.util
import os

SPEC = {"end_to_end": [{"name": "op_p50_rel", "better": "lower", "bound": 0.25}],
        "per_layer": [{"name": "spark.jobs_per_op", "better": "lower"}]}


def _ab():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "tools", "ab.py")
    spec = importlib.util.spec_from_file_location("ab", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(op, jobs):
    return {"correct": True, "failed": 0,
            "metrics": {"op_p50_rel": {"value": op},
                        "spark.jobs_per_op": {"value": jobs}}}


def _verdicts(a, b):
    pairs = [(_run(x, 80), _run(y, 80)) for x, y in zip(a, b)]
    rows = [line.split("|") for line in _ab().report("w", pairs, SPEC)
            if line.startswith("| op_p50_rel ")
            or line.startswith("| spark.jobs_per_op ")]
    return {r[1].strip(): r[8].strip() for r in rows}, pairs


def test_gain():
    a = [84.0, 80.1, 90.9, 75.2, 85.0, 83.0, 88.0, 79.0, 86.0, 82.0]
    b = [61.0, 60.0, 65.7, 48.5, 62.0, 59.0, 64.0, 58.0, 90.0, 60.5]
    got, _ = _verdicts(a, b)
    assert got == {"op_p50_rel": "gain", "spark.jobs_per_op": "-"}


def test_worse_past_bound():
    a = [10.0, 10.2, 9.8, 10.1, 9.9]
    b = [13.0, 13.1, 12.9, 13.2, 12.8]
    assert _verdicts(a, b)[0]["op_p50_rel"] == "worse"


def test_unresolved_when_spread_exceeds_bound():
    a = [60.0, 100.0, 70.0, 110.0, 80.0, 120.0]
    b = [75.0, 95.0, 85.0, 105.0, 90.0, 100.0]
    assert _verdicts(a, b)[0]["op_p50_rel"] == "unresolved"
    # the same A spread, every B run beats every A run, but the medians
    # differ by less than A's IQR: resolved, and no gain
    assert _verdicts(a, [58.0, 59.0, 57.0, 56.0, 55.0, 59.5])[0][
        "op_p50_rel"] == "within"


def test_within_and_pair_values_listed():
    a = [10.0, 10.2, 9.8, 10.1, 9.9]
    b = [10.1, 10.0, 9.9, 10.2, 9.8]
    got, pairs = _verdicts(a, b)
    assert got["op_p50_rel"] == "within"
    lines = _ab().report("w", pairs, SPEC)
    assert "| 3 | 9.8 → 9.9 |" in lines


def test_line_delta_from_numstat():
    numstat = ("12\t40\tprojectone_spark/store/dml.py\n"
               "3\t0\tprojectone_spark/writers/merge.py\n"
               "-\t-\tprojectone_spark/data/blob.bin\n"
               "0\t5\tprojectone_spark/{old => new}/x.py\n")
    assert _ab().line_delta(numstat) == (15, 45)
    assert _ab().line_delta("") == (0, 0)
