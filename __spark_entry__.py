"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``aiven_challenge2_cdc_sharing_spark``; this file
just exposes its query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aiven_challenge2_cdc_sharing_spark.queries import load_registry

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the full CDC slice — deterministic
    Debezium-envelope log -> unwrap -> last-writer-wins snapshot ->
    count-by-classification (the reference's headline dashboard)."""
    registry = load_registry()
    fn = _with_worker_imports(registry["cdc_count_by_classification"].fn)
    return fn(spark, SMOKE_SF_DIR)


def _with_worker_imports(fn):
    """The driver runs these with ITS OWN SparkSession, possibly built
    from a cwd where this package isn't importable by name — which
    breaks the pandas-UDF queries, whose module-level functions pickle
    by reference and must be re-imported inside the Python workers.
    Ship the package to workers (addPyFile, idempotent) before the
    first query runs on any given session."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from aiven_challenge2_cdc_sharing_spark.session import (
            ensure_workers_can_import,
        )

        ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {
        name: _with_worker_imports(q.fn)
        for name, q in load_registry().items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in load_registry().items()
        if q.oracle is not None
    }
