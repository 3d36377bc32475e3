"""Streaming runtime tests: the same CDC algebra under readStream must
produce the batch-path snapshot (batch/stream parity), survive replay,
and support windowed counts + peek."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import (
    generate_envelope_log,
    latest_snapshot,
    unwrap,
)
from aiven_challenge2_cdc_sharing_spark.streaming import (
    read_snapshot,
    envelope_file_stream,
    peek_one,
    run_snapshot_maintenance,
    windowed_counts,
)
from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
    N_SNAPSHOT_BUCKETS,
    merge_snapshot_batch,
    snapshot_bucket,
)
from aiven_challenge2_cdc_sharing_spark.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_event_json(spark, sf_dir, out_dir, partitions=6):
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(partitions).write.mode("overwrite").json(out_dir)
    return log


def rows_set(df):
    return {tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect()}


def test_stream_snapshot_equals_batch(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    expected = latest_snapshot(unwrap(log))

    stream = envelope_file_stream(spark, events_dir)
    assert stream.isStreaming
    q = run_snapshot_maintenance(
        stream, f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)
    got = read_snapshot(spark, f"{tmpdir}/snapshot")
    assert rows_set(got) == rows_set(expected)


def test_stream_restart_is_idempotent(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    expected = latest_snapshot(unwrap(log))

    for _ in range(2):  # second run: checkpoint says nothing new; state intact
        q = run_snapshot_maintenance(
            envelope_file_stream(spark, events_dir),
            f"{tmpdir}/snapshot",
            f"{tmpdir}/ckpt",
        )
        q.awaitTermination(300)
    got = read_snapshot(spark, f"{tmpdir}/snapshot")
    assert rows_set(got) == rows_set(expected)


def test_untouched_buckets_not_rewritten(spark, sf_dir, tmpdir):
    """Key-bucketed incremental maintenance: a micro-batch touching one
    key must rewrite only that key's bucket partition — every other
    bucket's files stay byte-identical (the stock-parquet analogue of
    Delta MERGE file pruning)."""
    import glob
    import hashlib
    import os

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    snap = f"{tmpdir}/snapshot"
    q = run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), snap, f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)

    def digests():
        out = {}
        for path in glob.glob(f"{snap}/__bucket=*/*.parquet"):
            bucket = path.split("__bucket=")[1].split("/")[0]
            with open(path, "rb") as f:
                out.setdefault(int(bucket), []).append(
                    (os.path.basename(path), hashlib.md5(f.read()).hexdigest())
                )
        return {b: sorted(files) for b, files in out.items()}

    before = digests()
    assert len(before) > 1, "need multiple buckets for this test"

    # second stream delivers events for exactly one key
    one_key = log.filter(
        F.coalesce(F.col("after.id"), F.col("before.id")) == 1
    )
    assert one_key.count() > 0
    one_key.coalesce(1).write.json(f"{tmpdir}/events2")
    q2 = run_snapshot_maintenance(
        envelope_file_stream(spark, f"{tmpdir}/events2"), snap, f"{tmpdir}/ckpt2"
    )
    q2.awaitTermination(300)
    after = digests()

    expected_bucket = (
        spark.range(1)
        .select(snapshot_bucket(F.lit(1).cast("int"), N_SNAPSHOT_BUCKETS).alias("b"))
        .collect()[0]["b"]
    )
    changed = {b for b in before if after.get(b) != before[b]}
    assert changed <= {expected_bucket}, f"rewrote untouched buckets: {changed}"
    # and the replayed events left the snapshot unchanged (idempotent)
    got = read_snapshot(spark, snap)
    want = latest_snapshot(unwrap(log))
    assert rows_set(got) == rows_set(want)


def test_snapshot_layout_one_file_per_bucket(spark, sf_dir, tmpdir):
    """Partition-aligned layout: after a multi-file drain plus one more
    merge, each ``__bucket=b`` directory holds exactly one parquet file,
    every row in it has ``snapshot_bucket(id) == b``, and building the
    read view runs no Spark job (the schema comes from the sidecar, not
    from a footer-inference job)."""
    import glob
    import os

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir, partitions=6)
    snap = f"{tmpdir}/snapshot"
    run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), snap, f"{tmpdir}/ckpt"
    ).awaitTermination(300)
    merge_snapshot_batch(log.limit(50), snap, N_SNAPSHOT_BUCKETS)

    bucket_dirs = glob.glob(f"{snap}/__bucket=*")
    assert len(bucket_dirs) > 1, "need multiple buckets for this test"
    for d in bucket_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} holds {files}"
    misplaced = (
        spark.read.parquet(snap)
        .filter(snapshot_bucket(F.col("id"), N_SNAPSHOT_BUCKETS) != F.col("__bucket"))
        .count()
    )
    assert misplaced == 0

    sc = spark.sparkContext
    group = "read_snapshot_builds_without_jobs"
    sc.setJobGroup(group, group)
    try:
        read_snapshot(spark, snap)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert rows_set(read_snapshot(spark, snap)) == rows_set(
        latest_snapshot(unwrap(log))
    )


def test_stream_crash_mid_run_recovers_from_checkpoint(spark, sf_dir, tmpdir):
    """T1/T2 crash recovery: the query dies AFTER applying micro-batch 2
    but BEFORE its offsets commit (the worst at-least-once window — the
    work is done, the checkpoint doesn't know).  A restart from the same
    checkpoint must (a) resume at batch 2, not batch 0 — committed
    batches are never redelivered — and (b) re-apply batch 2's identical
    WAL-pinned data idempotently, converging to the batch snapshot.
    This is the formal content of the 'effectively exactly-once' claim
    in run_snapshot_maintenance's docstring, exercised through a real
    StreamingQueryException instead of a clean stop."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
        merge_snapshot_batch,
    )

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir, partitions=6)
    expected = rows_set(latest_snapshot(unwrap(log)))
    snap, ckpt = f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"

    applied: list[int] = []  # foreachBatch runs on the driver in local mode
    crashed = []

    def merge(batch_df, batch_id, flaky):
        merge_snapshot_batch(batch_df, snap, 16)
        applied.append(batch_id)
        if flaky and batch_id == 2 and not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash after apply, before commit")

    def start(flaky):
        return (
            spark.readStream.schema(CDC_ENVELOPE)
            .option("maxFilesPerTrigger", 1)
            .json(events_dir)
            .writeStream.foreachBatch(lambda df, bid: merge(df, bid, flaky))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException):
        start(flaky=True).awaitTermination(300)
    assert applied[-1] == 2 and crashed, "crash must land after batch 2 applied"

    first_run = list(applied)
    start(flaky=False).awaitTermination(300)
    resumed = applied[len(first_run):]
    assert resumed[0] == 2, f"restart must resume at batch 2, got {resumed}"
    assert 0 not in resumed and 1 not in resumed, "committed batches redelivered"
    assert rows_set(read_snapshot(spark, snap)) == expected


def test_stream_windowed_counts_match_batch(spark, sf_dir, tmpdir):
    events = load_table(spark, sf_dir, "events")
    events_dir = f"{tmpdir}/ev_json"
    events.write.mode("overwrite").json(events_dir)

    batch_result = windowed_counts(events, window="1 hour")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 8)
        .json(events_dir)
    )
    q = (
        windowed_counts(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/win_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT win.start AS s, win.end AS e, cnt FROM win_counts")
    want = batch_result.select(
        F.col("win.start").alias("s"), F.col("win.end").alias("e"), "cnt"
    )
    assert rows_set(got) == rows_set(want)


def test_peek_one(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    _write_event_json(spark, sf_dir, events_dir)
    rows = peek_one(spark, events_dir, f"{tmpdir}/peek_ckpt")
    assert len(rows) == 1
    assert rows[0]["op"] in {"c", "u", "d"}


def test_stream_chaos_chunking_order_robust(spark, sf_dir, tmpdir):
    """T2/T4 adversarial parity: a key's insert/update/delete SCATTERED
    across different files (hash of seq + seed), consumed one file per
    micro-batch — so per-key history spans micro-batches, in arrival
    orders that differ per seed — must always converge to the batch
    snapshot.  This is the formal check that the merge orders on
    (ts_ms, seq), never on arrival: an update landing in an earlier
    micro-batch than its insert, or a delete arriving before the row
    it deletes, must still resolve identically."""
    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE

    log = generate_envelope_log(spark, sf_dir)
    expected = rows_set(latest_snapshot(unwrap(log)))
    for seed in (7, 23):
        events_dir = f"{tmpdir}/events_{seed}"
        (
            log.repartition(
                8, F.pmod(F.xxhash64(F.col("seq") + seed), F.lit(8))
            )
            .write.mode("overwrite")
            .json(events_dir)
        )
        stream = (
            spark.readStream.schema(CDC_ENVELOPE)
            .option("maxFilesPerTrigger", 1)
            .json(events_dir)
        )
        q = run_snapshot_maintenance(
            stream, f"{tmpdir}/snap_{seed}", f"{tmpdir}/ckpt_{seed}"
        )
        q.awaitTermination(300)
        got = rows_set(read_snapshot(spark, f"{tmpdir}/snap_{seed}"))
        assert got == expected, f"chaos chunking diverged for seed {seed}"
