"""Smoke test of the benchmark at its smallest scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs every workload in one Spark session (about two minutes).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(*args: str) -> tuple[str, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--seed", "3",
         "--seconds", "1", "--scale", "smoke", *args],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout, json.loads(p.stdout.strip().splitlines()[-1])


def test_every_metric_is_printed_with_its_unit():
    out, result = _run("--trace", "1")
    printed = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] in WORKLOADS:
            printed[(parts[0], parts[1])] = parts[3]
    expected = END_TO_END + [("failed_frac", "ratio")] + PER_LAYER
    for workload in WORKLOADS:
        for name, unit in expected:
            assert printed.get((workload, name)) == unit, (workload, name)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert len(result["metrics"]) == len(WORKLOADS) * len(PER_LAYER)


def test_wrong_expected_output_counts_as_failed():
    out, result = _run("--trace", "0", "--wrong-expected")
    counts = re.findall(r"^# workload (\S+): (\d+) operations attempted \((\d+) warm-up\), (\d+) failed$",
                        out, re.MULTILINE)
    assert {c[0] for c in counts} == set(WORKLOADS)
    for _, attempted, warmups, failed in counts:
        checked = int(attempted) - int(warmups)
        assert checked > 0 and int(failed) == checked
    assert not result["correct"]
