"""Bronze sink path (K1 DDL, K2 streaming append, K3 batch append) driven
end-to-end, plus the jar-gated production branches: the Iceberg provider
(KafkaAvroToIceberg.scala:79-100) and the real `from_avro` decode
(KafkaAvroToIceberg.scala:67-70). The sandbox classpath carries neither
the iceberg-spark-runtime nor the spark-avro jar, so those two tests skip
with the jar named — the skip flips to a real run the moment the jar
appears, proving the switch rather than asserting it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_stream_job_spark.bronze import (
    ORDER_EVENT_AVRO,
    avro_available,
    create_bronze_table,
    decode_events,
    iceberg_available,
    write_batch_append,
    write_stream_append,
)
from kafka_stream_job_spark.producer import encode_order_event

_ORDERS = [
    ("o-1", 10.5, "2024-01-01T00:00:00Z"),
    ("o-2", 99.99, "2024-01-01T00:01:00Z"),
    ("o-3", 0.25, "2024-01-01T00:02:00Z"),
]


def _json_raw(spark, orders=_ORDERS):
    """Kafka-shaped frame: one binary `value` column of JSON payloads."""
    df = spark.createDataFrame(orders, ["orderId", "amount", "ts"])
    return df.select(
        F.encode(F.to_json(F.struct("orderId", "amount", "ts")), "UTF-8").alias(
            "value"
        )
    )


def test_bronze_ddl_and_batch_append_parquet(spark, tmp_path):
    """K1 + K3 on the parquet stand-in provider: DDL creates the table,
    decode→enrich→append lands the rows, a second append is additive."""
    table = "bronze_orders_k3"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_bronze_table(spark, table, provider="parquet")
    assert spark.catalog.tableExists(table)

    decoded = decode_events(_json_raw(spark), source_tag="kafka-batch")
    write_batch_append(decoded, table)
    got = spark.table(table)
    assert got.count() == len(_ORDERS)
    assert {r["orderId"] for r in got.collect()} == {"o-1", "o-2", "o-3"}
    assert got.filter(F.col("source") != "kafka-batch").count() == 0

    write_batch_append(decoded, table)  # K3 append semantics, not overwrite
    assert spark.table(table).count() == 2 * len(_ORDERS)
    spark.sql(f"DROP TABLE {table}")


def test_bronze_stream_append_exactly_once(spark, tmp_path):
    """K2: the streaming append sink drains a bounded stream into the
    bronze table exactly once (checkpointed; a restart re-delivers
    nothing)."""
    table = "bronze_orders_k2"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_bronze_table(spark, table, provider="parquet")

    src_dir = str(tmp_path / "raw")
    _json_raw(spark).write.parquet(src_dir)
    raw_stream = spark.readStream.schema("value binary").parquet(src_dir)
    decoded = decode_events(raw_stream, source_tag="kafka-stream")

    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second start replays nothing (offsets committed)
        q = write_stream_append(decoded, table, ckpt)
        q.processAllAvailable()
        q.stop()
    assert spark.table(table).count() == len(_ORDERS)
    spark.sql(f"DROP TABLE {table}")


def test_bronze_checkpoint_from_filecontext_manager_resumes(spark, tmp_path):
    """A bronze checkpoint written under Spark's FileContext checkpoint
    manager (its own default) resumes under the engine's FileSystem-based
    default: after one more payload file lands, the table holds every
    order exactly once."""
    from .conftest import FILE_CONTEXT_MANAGER, checkpoint_manager

    table = "bronze_orders_ckpt_resume"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_bronze_table(spark, table, provider="parquet")

    src_dir = str(tmp_path / "raw")
    _json_raw(spark).write.parquet(src_dir)
    raw_stream = spark.readStream.schema("value binary").parquet(src_dir)
    decoded = decode_events(raw_stream, source_tag="kafka-stream")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = write_stream_append(decoded, table, ckpt)
        q.processAllAvailable()
        q.stop()

    with checkpoint_manager(spark, FILE_CONTEXT_MANAGER):
        drain()
    more = [("o-4", 7.0, "2024-01-01T00:03:00Z")]
    _json_raw(spark, more).write.mode("append").parquet(src_dir)
    drain()

    got = sorted(r["orderId"] for r in spark.table(table).collect())
    assert got == ["o-1", "o-2", "o-3", "o-4"]
    spark.sql(f"DROP TABLE {table}")


def test_bronze_iceberg_provider(spark, tmp_path):
    """K1-K3 against a real Iceberg catalog — the production provider the
    reference commits to atomically (KafkaAvroToIceberg.scala:92-100)."""
    if not iceberg_available(spark):
        pytest.skip(
            "iceberg-spark-runtime jar not on classpath "
            "(org.apache.iceberg.spark.SparkCatalog unavailable)"
        )
    # Iceberg catalogs resolve lazily, so runtime conf is honored on first use.
    spark.conf.set("spark.sql.catalog.ksj_ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ksj_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ksj_ice.warehouse", str(tmp_path / "wh"))
    table = "ksj_ice.db.bronze_orders"
    create_bronze_table(spark, table, provider="iceberg")

    decoded = decode_events(_json_raw(spark), source_tag="kafka-batch")
    write_batch_append(decoded, table)
    assert spark.table(table).count() == len(_ORDERS)
    write_batch_append(decoded, table)  # atomic snapshot append
    assert spark.table(table).count() == 2 * len(_ORDERS)
    # two appends → two commit snapshots in table history
    assert spark.sql(f"SELECT * FROM {table}.snapshots").count() == 2


def test_from_avro_decode_branch(spark):
    """T1 with the REAL from_avro: producer-encoded Avro binary payloads
    decode through the avro branch of decode_events. The byte format is
    already proven by the pure-Python codec round-trip
    (tests/test_producer.py); this wires those bytes through Spark."""
    if not avro_available(spark):
        pytest.skip(
            "spark-avro jar not on classpath "
            "(org.apache.spark.sql.avro.AvroDataToCatalyst unavailable)"
        )
    payloads = [(encode_order_event(*o),) for o in _ORDERS]
    raw = spark.createDataFrame(payloads, "value binary")
    decoded = decode_events(
        raw,
        payload_format="avro",
        schema_json=ORDER_EVENT_AVRO,
        source_tag="kafka-stream",
    )
    rows = {r["orderId"]: r for r in decoded.collect()}
    assert set(rows) == {"o-1", "o-2", "o-3"}
    assert rows["o-2"]["amount"] == 99.99
    assert rows["o-1"]["ts"] == "2024-01-01T00:00:00Z"
    assert all(r["source"] == "kafka-stream" for r in rows.values())
