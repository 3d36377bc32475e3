"""Structured Streaming runtime (SURVEY.md §2.9) — the same CDC algebra
under ``readStream``.

The reference's consumer loop (consumer_to_opensearch.py:52-96) maps to:
- T1 continuous keyed consumption -> file/kafka stream source +
  checkpointed offsets (stronger than broker-side auto-commit: offsets
  and state commit atomically per micro-batch);
- T2 at-least-once + idempotent apply -> foreachBatch + deterministic
  last-writer-wins merge == effectively exactly-once materialization;
- T3/T6 tumbling/sliding/session windows; T4 watermarking (the
  reference has no lateness concept — it relies on single-partition
  total order, terraform/main.tf:79,234 — we keep only per-key order);
- S6 peek -> availableNow + limit;
- T7 heartbeat/liveness -> StreamingQuery.lastProgress.

Batch/stream parity is the design invariant: every transform here calls
the *same* functions from ``cdc.algebra``/``cdc.materialize`` that the
batch path uses, so the oracle-checked batch results pin the streaming
semantics too.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..cdc.algebra import unwrap
from ..cdc.materialize import latest_state, published_snapshot
from ..schemas import CDC_ENVELOPE


def envelope_file_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """T1 — stream of Debezium-style envelope events from JSON files.

    In production this would be
    ``spark.readStream.format("kafka")... .option("kafka.isolation.level",
    "read_committed")`` (T8, terraform/main.tf:133) with
    ``from_json(value)``; the file source exercises the identical
    downstream plan.
    """
    return (
        spark.readStream.schema(CDC_ENVELOPE)
        .option("maxFilesPerTrigger", 4)
        .json(events_dir)
    )


N_SNAPSHOT_BUCKETS = 16
SCHEMA_FILE = "_schema.json"


def snapshot_bucket(key: Column, n_buckets: int) -> Column:
    """The state table's bucket of ``key``: ``pmod(hash(key), n)``, which is
    exactly the partition id ``HashPartitioning(key, n)`` assigns, so
    ``repartition(n, key)`` sends every row to the task of its bucket."""
    return F.pmod(F.hash(key), F.lit(n_buckets))


def merge_snapshot_batch(
    batch_df: DataFrame, snapshot_path: str, n_buckets: int
) -> None:
    """One micro-batch's idempotent state merge (the body of
    ``run_snapshot_maintenance``, reusable from multi-sink pipelines):
    unwrap, bucket by key hash, rewrite only touched buckets.

    The merge input (prior touched buckets + changes) goes through one
    ``repartition(n_buckets, "id")``: that exchange also satisfies the
    latest-per-key window, and since the shuffle partition id equals the
    bucket, task b writes exactly one file, into bucket b.  A state
    directory written with another bucket function or count (e.g. one
    bucketed by ``pmod(xxhash64(id), n)``) must be rebuilt from the log."""
    spark = batch_df.sparkSession
    changes = unwrap(batch_df).withColumn(
        "__bucket", snapshot_bucket(F.col("id"), n_buckets)
    )
    # pin: consumed twice (touched-bucket probe + merge)
    changes = changes.localCheckpoint(eager=True)
    touched = [
        r["__bucket"] for r in changes.select("__bucket").distinct().collect()
    ]
    if not touched:
        return
    if os.path.exists(snapshot_path):
        prior = (
            spark.read.schema(changes.schema)
            .parquet(snapshot_path)
            .filter(F.col("__bucket").isin(touched))
        )
        merged = prior.unionByName(changes)
    else:
        merged = changes
    # written before the data so no committed bucket is ever without it;
    # dynamic partition overwrite leaves files at the root alone
    os.makedirs(snapshot_path, exist_ok=True)
    tmp = os.path.join(snapshot_path, f".{SCHEMA_FILE}.tmp")
    with open(tmp, "w") as f:
        f.write(changes.schema.json())
    os.replace(tmp, os.path.join(snapshot_path, SCHEMA_FILE))
    # reading and overwriting the same buckets in one job is safe: dynamic
    # partition overwrite stages its output and swaps buckets at job
    # commit, after the shuffle has read every prior file
    (
        latest_state(merged.repartition(n_buckets, "id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(snapshot_path)
    )


def run_snapshot_maintenance(
    envelopes: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> StreamingQuery:
    """T5 — continuously maintain the current-state snapshot table:
    unwrap each micro-batch and MERGE it into the snapshot (upsert +
    delete, last-writer-wins), the set-oriented version of the
    reference's per-event ``index(id=pk, body=doc)``
    (consumer_to_opensearch.py:94-95).

    Replay-safe: a redelivered batch produces the identical snapshot
    (T2), so checkpoint recovery gives effectively-exactly-once.

    The persisted table is the *state* (latest event per key INCLUDING
    tombstones + (ts_ms, seq) metadata): if the published live-rows-only
    snapshot were persisted instead, an insert arriving in a later
    micro-batch than its delete would resurrect the key.  Read the
    user-facing view with ``read_snapshot``.

    Layout: the state table is hash-partitioned into N_SNAPSHOT_BUCKETS
    key-buckets, ``__bucket = snapshot_bucket(id, n)``, the partition id
    ``HashPartitioning(id, n)`` assigns; each bucket holds one parquet
    file, and the table schema sits in ``_schema.json`` at the snapshot
    root (Spark's listing skips ``_`` names), so readers build the
    DataFrame without a schema-inference job.  Changing the hash or the
    bucket count needs a rebuild from the log (a new layout puts one key
    in two buckets).

    Incremental storage: a micro-batch rewrites ONLY the buckets its
    keys touch — prior state is read with a partition-pruned scan and
    the write uses dynamic partition overwrite, so untouched buckets'
    files are never opened or rewritten.  This approximates
    Delta/Iceberg MERGE file-pruning on stock parquet, and pays off only
    for key-local batches (``test_untouched_buckets_not_rewritten``): a
    200-event Zipf batch from perfbench touches 16 of 16 buckets and
    writes about 40 KB per event.  At 100 TB, size N_SNAPSHOT_BUCKETS so
    one bucket ~ one executor's comfortable rewrite unit, before the
    state table exists.
    """
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_snapshot_batch(batch_df, snapshot_path, N_SNAPSHOT_BUCKETS)

    writer = (
        envelopes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """User-facing current state from a maintained state table; the
    schema comes from the table's ``_schema.json``, so building the
    DataFrame runs no Spark job."""
    with open(os.path.join(snapshot_path, SCHEMA_FILE)) as f:
        schema = T.StructType.fromJson(json.load(f))
    state = spark.read.schema(schema).parquet(snapshot_path)
    return published_snapshot(state).drop("__bucket")


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """T3/T4/T6 — watermarked tumbling (or sliding) window counts;
    works identically on batch and streaming DataFrames (on batch the
    watermark is a no-op, which is what makes the oracle check of the
    batch twin meaningful)."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    df = events
    if events.isStreaming:
        df = events.withWatermark(ts_col, watermark)
    return df.groupBy(win.alias("win"), *[F.col(k) for k in extra_keys]).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def peek_one(
    spark: SparkSession, events_dir: str, checkpoint_path: str
) -> list:
    """S6 — the reference's peek.py:7-25 (read one message and stop):
    availableNow micro-batch into an in-memory sink, return first row."""
    q = (
        envelope_file_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName("__peek")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql("SELECT * FROM __peek LIMIT 1").collect()
