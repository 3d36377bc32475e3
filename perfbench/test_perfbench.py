"""The benchmark's own tests: the CDC oracle and span arithmetic in pure
Python, then each workload end to end on the tiny ``--smoke`` inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start Spark (about a minute each on four cores,
some eight minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import cdcgen  # noqa: E402
import spans  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_stale_insert_does_not_resurrect_a_deleted_key():
    gen = cdcgen.LogGenerator(seed=7, n_keys=3)
    ins = gen.initial_inserts()
    dele = gen.delete(2)
    log = ins + [dele] + gen.stale_inserts(1, upto=1)
    assert gen.stale_inserts(1, upto=1) == [ins[1]]
    assert sorted(r[0] for r in cdcgen.expected_snapshot(log)) == [1, 3]


def test_replays_collapse_and_generated_log_has_every_hazard():
    gen = cdcgen.LogGenerator(seed=3, n_keys=200)
    files = cdcgen.bulk_log(gen, n_files=8, changes_per_file=300)
    events = [e for f in files for e in f]
    ops = {e["op"] for e in events}
    assert ops == {"c", "u", "d"}
    assert len({e["seq"] for e in events}) < len(events)  # replay duplicates
    once = cdcgen.expected_snapshot(events)
    assert sorted(cdcgen.expected_snapshot(events + events[::-1])) == sorted(once)
    # every stale insert arrives in a later file than its key's delete
    deleted_in = {}
    for i, f in enumerate(files):
        for e in f:
            if e["op"] == "d":
                deleted_in[e["before"][0]] = i
    stale = [(i, e) for i, f in enumerate(files) for e in f
             if e["op"] == "c" and deleted_in.get(e["after"][0], len(files)) < i]
    assert stale
    live = {r[0] for r in once}
    assert all(e["after"][0] not in live for _, e in stale)


def test_mix_follows_the_reference_workload():
    gen = cdcgen.LogGenerator(seed=4, n_keys=20_000)
    gen.initial_inserts()
    changes = gen.changes(6_200)
    share = {op: sum(e["op"] == op for e in changes) / len(changes) for op in "cud"}
    assert abs(share["c"] - 21 / 31) < 0.02
    assert abs(share["u"] - 7 / 31) < 0.02
    assert abs(share["d"] - 3 / 31) < 0.02
    for e in changes:
        if e["op"] == "u":  # an update changes the phone number only
            diff = [i for i, (a, b) in enumerate(zip(e["before"], e["after"])) if a != b]
            assert diff == [cdcgen.COLUMNS.index("phone")]


def test_generator_is_seeded():
    a = cdcgen.bulk_log(cdcgen.LogGenerator(5, 100), 4, 50)
    b = cdcgen.bulk_log(cdcgen.LogGenerator(5, 100), 4, 50)
    c = cdcgen.bulk_log(cdcgen.LogGenerator(6, 100), 4, 50)
    lines = lambda fs: [e["line"] for f in fs for e in f]  # noqa: E731
    assert lines(a) == lines(b) != lines(c)


def test_self_time_subtracts_covered_child_time():
    t = spans.Tracer(True, "r")
    t.spans = [
        {"id": 0, "name": "p", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0, "run": "r"},
        {"id": 2, "name": "b", "start": 3.0, "end": 5.0, "parent": 0, "run": "r"},
        {"id": 3, "name": "c", "start": 8.0, "end": 12.0, "parent": 0, "run": "r"},
    ]
    assert t.self_times() == {0: 4.0, 1: 3.0, 2: 2.0, 3: 4.0}


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert spans.tail([1.0, 3.0, 2.0]) == 3.0
    vals = [float(i) for i in range(100)]
    assert spans.tail(vals) == 89.0
    assert sum(v > spans.tail(vals) for v in vals) == 10


def _run(workload: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "2", "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("workload", ["cdc_catchup_serve", "batch_analytics"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    rc, res = _run(workload, "--trace", "0")
    assert rc == 0
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload, layer", [
    ("cdc_catchup_serve", "runtime.apply_events_per_s_1cpu"),
    ("batch_analytics", "similarity.ivf_recall_at_10"),
])
def test_smoke_traced_run_prints_every_per_layer_metric(workload, layer):
    rc, res = _run(workload, "--trace", "1")
    assert rc == 0 and res["correct"]
    want = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"][layer]["value"] > 0
    assert res["metrics"]["bench.tracing_overhead_ratio"]["value"] > 0


@pytest.mark.parametrize("workload", ["cdc_catchup_serve", "batch_analytics"])
def test_corrupted_expected_state_fails_the_check(workload):
    rc, res = _run(workload, "--trace", "0", "--corrupt-oracle")
    assert rc == 0
    assert res["correct"] is False and res["failed"] >= 1


@pytest.mark.parametrize("request_type", ["dedup.lsh_near_pairs", "dedup.semantic_pairs"])
def test_an_empty_answer_fails_the_check(request_type):
    rc, res = _run("batch_analytics", "--trace", "0", "--empty-output", request_type)
    assert rc == 0
    assert res["correct"] is False and res["failed"] >= 1
