"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints progress to stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# name -> (unit, better); the same lists as BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
}
_S, _C, _R = ("s", "lower"), ("count", "lower"), ("ratio", "higher")
PER_LAYER = {
    "session.start_s": _S,
    "sources.json_decode_s": _S,
    "cdc.unwrap_s": _S,
    "cdc.latest_state_s": _S,
    "cdc.rows_out_per_event": _R,
    "stream.batches": _C,
    "stream.rows_per_batch": ("count", "higher"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.latest_offset_ms": ("ms", "lower"),
    "stream.query_planning_ms": ("ms", "lower"),
    "stream.jobs_per_batch": _C,
    "runtime.merge_batch_s": _S,
    "runtime.jobs_per_batch": _C,
    "runtime.stages_per_batch": _C,
    "runtime.tasks_per_batch": _C,
    "runtime.buckets_touched_per_batch": _C,
    "runtime.files_written_per_batch": _C,
    "runtime.bytes_written_per_event": ("B", "lower"),
    "runtime.state_bytes": ("B", "lower"),
    "runtime.state_files": _C,
    "runtime.read_snapshot_s": _S,
    "runtime.apply_events_per_s_1cpu": ("events/s", "higher"),
    "serve.count_by_classification_s": _S,
    "serve.new_customers_over_time_s": _S,
    "serve.recent10_s": _S,
    "serve.dashboard_s": _S,
    "serve.jobs_per_dashboard": _C,
    "bench.sched_lag_end_s": _S,
    "bench.sched_lag_max_s": _S,
    "bench.blocking_self_share": _R,
    "tpch.agg_pricing_summary_s": _S,
    "tpch.tpch_q3_shipping_priority_s": _S,
    "tpch.tpch_q5_local_supplier_volume_s": _S,
    "tpch.tpch_q9_product_profit_s": _S,
    "tpch.tpch_q21_waiting_suppliers_s": _S,
    "tpch.jobs_per_query": _C,
    "tpch.tasks_per_query": _C,
    "dedup.minhash_signature_s": _S,
    "dedup.lsh_candidate_pairs_s": _S,
    "dedup.lsh_near_pairs_s": _S,
    "dedup.jaccard_threshold_join_s": _S,
    "dedup.semantic_pairs_s": _S,
    "dedup.candidate_pairs": _C,
    "dedup.useful_ratio": _R,
    "similarity.train_ivf_centroids_s": _S,
    "similarity.cosine_topk_ivf_s": _S,
    "similarity.cosine_topk_bruteforce_s": _S,
    "similarity.ivf_recall_at_10": _R,
    "spark.failed_tasks": _C,
    "failed_ratio": ("ratio", "lower"),
    "bench.tracing_overhead_ratio": ("ratio", "lower"),
    "bench.latency_tail_s": _S,
    "bench.peak_rss_mb": ("MB", "lower"),
}


def _configure_env(work: str) -> None:
    """Keep Spark's and the JVMs' scratch files inside the checkout and the
    console quiet."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # every JVM spark-submit starts (the launcher too) reads this
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf spark.local.dir={local} pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _loop(wl, ctx, repeat: bool = False) -> tuple[list[float], float]:
    """The timed loop's latencies and its latency_p50_s."""
    t0 = time.perf_counter()
    lat = wl.measure(ctx, repeat)
    if not lat:
        raise RuntimeError("no unit of work completed")
    print(f"perfbench: loop {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return lat, wl.latency_p50(lat)


def _check(wl, ctx) -> int:
    t0 = time.perf_counter()
    bad = wl.check(ctx)
    print(f"perfbench: check {time.perf_counter() - t0:.2f}s, {bad} failed", file=sys.stderr)
    return bad


def _baseline_1cpu(args) -> float:
    """The bulk phase of cdc_catchup_serve again, in its own process on
    one core."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "cdc_catchup_serve",
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0", "--bulk-only"]
    if args.smoke:
        cmd.append("--smoke")
    out = subprocess.run(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, timeout=110,
                         check=True, text=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    return res["metrics"]["throughput_per_s"]["value"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sf0.001-sized inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="drop one expected row, to show the output check fails")
    ap.add_argument("--bulk-only", action="store_true",
                    help="cdc_catchup_serve's bulk phase alone (the one-core baseline)")
    ap.add_argument("--empty-output", default="", metavar="REQUEST",
                    help="check an empty answer in place of one request type's output")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import aiven_challenge2_cdc_sharing_spark  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not here ({e}); run from the repository root",
              file=sys.stderr)
        return 2
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, f"run-{os.getpid()}")
    size = workloads.SMOKE if args.smoke else workloads.FULL
    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(os.path.join(WORK, "tables"), size)
    _configure_env(work)
    from aiven_challenge2_cdc_sharing_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(False, run_id)
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, work=work, size=size,
            tracer=tracer, jobs=spans.JobCounter(spark, False),
            cache=os.path.join(WORK, "tables"),
            corrupt_oracle=args.corrupt_oracle, empty_output=args.empty_output,
            bulk_only=args.bulk_only,
        )
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: setup {setup_s:.2f}s (session {session_s:.2f}s)", file=sys.stderr)

        if args.trace:
            # a discarded loop, then untraced, traced, untraced on the same
            # inputs: the first loop after set-up still runs 5-15% slower,
            # and the mean of the two untraced loops cancels what is left
            # of the JVM's warm-up trend.  The untraced loops repeat only
            # what latency_p50_s times (the serve phase, on cdc) and are
            # not checked: they run the same code on the same inputs as
            # the traced loop, which is.
            _loop(wl, ctx, repeat=True)
            untraced, untraced_p50 = _loop(wl, ctx, repeat=True)
            tracer.enabled = ctx.jobs.enabled = True
        lat, p50 = _loop(wl, ctx)
        thr = wl.throughput(lat)
        bad = _check(wl, ctx)
        if args.trace:
            wl.layers(ctx)
            tracer.enabled = ctx.jobs.enabled = False
            untraced_after, untraced_after_p50 = _loop(wl, ctx, repeat=True)
        failed = min(ctx.attempted, ctx.failed + bad)

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "latency_p50_s": p50,
                "throughput_per_s": thr,
            }
            units = END_TO_END
        else:
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(ctx.layers)
            values["session.start_s"] = session_s
            values["failed_ratio"] = failed / ctx.attempted
            values["bench.tracing_overhead_ratio"] = p50 / statistics.mean(
                [untraced_p50, untraced_after_p50])
            values["bench.latency_tail_s"] = spans.tail(untraced + untraced_after)
            values["bench.peak_rss_mb"] = spans.peak_rss_mb(spark)
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
            units = PER_LAYER
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace and args.workload == "cdc_catchup_serve":
        values["runtime.apply_events_per_s_1cpu"] = _baseline_1cpu(args)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k][0]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
