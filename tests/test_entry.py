"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as se
from aiven_challenge2_cdc_sharing_spark.queries import load_registry


def test_entry_returns_rows(spark):
    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"classification", "cnt"}


def test_registry_consistency():
    qs = se.queries()
    oracles = se.oracle_sql()
    assert qs, "registry must not be empty"
    assert set(oracles) <= set(qs)
    # the contract serves the registry as registered: same names, same
    # order, and every registered oracle string verbatim
    registry = load_registry()
    assert list(qs) == list(registry)
    assert oracles == {n: q.oracle for n, q in registry.items() if q.oracle}


def test_all_queries_run_sf0001(spark, sf_dir):
    for name, fn in se.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_driver_contract_from_foreign_cwd():
    """The driver harness constructs its own vanilla SparkSession,
    potentially from a cwd where this package is not importable by
    name.  Module-level pandas-UDF functions pickle by reference, so
    WORKERS must still be able to import the package — queries() ships
    it via addPyFile.  Subprocess with cwd=/tmp and PYTHONPATH
    scrubbed = the adversarial shape."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as se\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
        "n = se.queries()['mm_decode_png_features']"
        "(spark, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('FOREIGN_CWD_OK', n)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "FOREIGN_CWD_OK" in r.stdout, (r.stdout + r.stderr)[-2000:]
