"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
comparator that mirrors the driver's correctness gate (row-count + schema
+ order-insensitive value comparison at sf0.01; we default to sf0.001 for
speed and run sf0.01 in the oracle test module)."""

from __future__ import annotations

import math
from contextlib import contextmanager

import duckdb
import pytest

from kafka_stream_job_spark.session import get_spark
from kafka_stream_job_spark.tables import TABLE_NAMES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="kafka-stream-job-spark-tests")
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    spark.stop()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the same tables registered as views — the driver's
    oracle setup (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _normalize(value):
    """Engine-neutral value form for comparison."""
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # collapse float64 noise below the rounding we apply in-query
        return round(value, 9)
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    try:  # datetime/date/Decimal → ISO/str
        import datetime
        import decimal

        if isinstance(value, (datetime.datetime, datetime.date)):
            return value.isoformat()
        if isinstance(value, decimal.Decimal):
            return str(value)
    except ImportError:
        pass
    return value


def assert_matches_oracle(spark, sf_dir: str, spark_df, oracle_sql: str, name: str = "?"):
    """Row-count + column-name + order-insensitive value equality — the
    driver's gate, reproduced so failures surface in `pytest` first."""
    con = duck_connection(sf_dir)
    oracle = con.execute(oracle_sql)
    oracle_cols = [d[0] for d in oracle.description]
    oracle_rows = oracle.fetchall()
    con.close()

    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} "
        f"oracle={sorted(oracle_cols)}"
    )
    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: row count spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )

    # sort columns by name (driver contract), then rows. Rows may mix None
    # (grouping-set subtotals, outer-join misses) with values, which tuple
    # comparison can't order — sort on a type-tagged key instead.
    s_order = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_order = [oracle_cols.index(c) for c in sorted(oracle_cols)]

    def row_key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)

    s_set = sorted(
        (tuple(_normalize(row[i]) for i in s_order) for row in spark_rows),
        key=row_key,
    )
    o_set = sorted(
        (tuple(_normalize(row[i]) for i in o_order) for row in oracle_rows),
        key=row_key,
    )
    mismatches = [
        (a, b) for a, b in zip(s_set, o_set) if a != b
    ]
    assert s_set == o_set, (
        f"{name}: value mismatch; first diffs: {mismatches[:3]}"
    )


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_MANAGER = f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
#: Spark's own default, used when the conf is unset.
FILE_CONTEXT_MANAGER = f"{_CHECKPOINTING}.FileContextBasedCheckpointFileManager"


def checkpoint_manager_class(spark, path: str) -> str:
    """Class of the manager Spark resolves for a checkpoint at ``path``
    (``CheckpointFileManager.create`` over the session's Hadoop conf)."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getName()


@contextmanager
def checkpoint_manager(spark, cls: str):
    """Run streaming queries started inside the block under manager ``cls``,
    restoring the session's value afterward."""
    saved = spark.conf.get(CHECKPOINT_MANAGER_KEY)
    spark.conf.set(CHECKPOINT_MANAGER_KEY, cls)
    try:
        yield
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, saved)
