"""Pins for the round-stamped bench artifact contract (round-10
verdict task 5): cross-round per-query diffs must never again depend
on which run's BENCH_FULL.json survived in the working tree.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_round_stamped_bench_payloads_parse():
    stamped = sorted(glob.glob(os.path.join(ROOT, "BENCH_FULL_r*.json")))
    assert len(stamped) >= 2, (
        "need round-stamped payloads for the default bench diff"
    )
    for path in stamped:
        data = json.loads(open(path).read())
        assert data["metric"] == "registry_suite_seconds", path
        assert data["queries"], path
        assert data["n_queries"] == len(data["queries"]), path
        # the probe is the denominator every cross-round conclusion
        # divides by — a payload without one is unusable for diffs
        assert data.get("host_probe_sec") or data.get(
            "host_probe_par8_sec"
        ), path


def test_bench_stamp_matches_rotation_round_convention():
    """bench.py stamps N = latest CORRECTNESS round + 1, so the newest
    stamped payload must never be from a FUTURE round relative to
    that."""
    rounds = [
        int("".join(c for c in os.path.basename(p) if c.isdigit()))
        for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    ]
    expect = (max(rounds) if rounds else 0) + 1
    # numeric round order (r100 > r99, unlike lexicographic sort)
    newest = max(
        int(re.search(r"r(\d+)\.json$", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(ROOT, "BENCH_FULL_r*.json"))
    )
    assert newest <= expect, (newest, expect)


def test_bench_diff_default_discovers_stamped_pair():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_diff.py")],
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    first = proc.stdout.splitlines()[0]
    assert first.startswith("(default) diffing BENCH_FULL_r"), first
    assert "host factor" in proc.stdout, "probe normalization missing"
