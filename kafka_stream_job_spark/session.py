"""SparkSession construction + properties-file config loading.

Re-expresses the reference's ``SparkConfigLoader.scala:9-24`` (classpath
.properties filtered to ``spark.*`` keys) and the session builds at
``KafkaAvroToIceberg.scala:23-36`` / ``KafkaBatchJob.java:64-68`` in Python.

Scale posture: the defaults below are what we would ship to a 1000-executor
cluster modulo sizing knobs — AQE on (runtime re-plan, skew-join splitting,
partition coalescing), explicit broadcast threshold, shuffle partitions
sized by ``SPARK_GRAFT_CPUS`` locally and by cluster cores in production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs we always set. Mirrors the operational conf the reference pins in
#: its captured checkpoint (test/checkpoint-offset.json:12-15) where still
#: relevant, plus the 100-TB-posture knobs from SURVEY.md §7.1.
ENGINE_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Free insurance at any scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at our SFs)
    # must broadcast; 64 MB covers every dim at 100 TB fact scale while the
    # fact side stays shuffle-free on those joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter join reduction: when one join side is selective,
    # inject a bloom filter on the other side's scan — at 100 TB this
    # prunes shuffle input for star-schema joins (e.g. filtered orders →
    # lineitem) before the exchange. Off by default in Spark; safe on.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow transfer for the few Pandas-UDF ops (similarity/multimodal);
    # everything else stays JVM-side.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (Spark 4.1): required for the
    # replay source's pushFilters partition pruning — Spark refuses to
    # plan a pushFilters-capable source while this is false.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Streaming-subplan filter-pruning guard the reference pins
    # (test/checkpoint-offset.json:15).
    "spark.sql.optimizer.pruneFiltersCanPruneStreamingSubplan": "false",
    # Bound per-task input so a 100-TB scan yields mem-fit partitions.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark 4 rejects outright; read nanos as long and convert in the
    # loader (tables.load_table) — same µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming checkpoint I/O (offsets/, commits/, file-source and
    # file-sink logs, state-store deltas) through Hadoop FileSystem
    # instead of Spark's FileContext default. Without libhadoop
    # (NativeCodeLoader.isNativeCodeLoaded() is false in every pip
    # PySpark), each FileContext rename goes through
    # RawLocalFs.getFileLinkStatus, which forks a `readlink` for the file
    # and again for its .crc twin: ~32 readlink forks per one-file bronze
    # micro-batch, ~175 per streaming_dedup_events drain. Safe because
    # this manager keeps the same temp-file-then-rename protocol and file
    # layout (.crc files included); on local disk it is as atomic as the
    # FileContext path (both check the target is absent, then rename) and
    # HDFS rename refuses to overwrite; Spark's state checksum wrapper
    # (spark.sql.streaming.checkpoint.fileChecksum.enabled) still wraps
    # it. Override per deployment (e.g. an object-store manager) through
    # a properties file or extra_conf.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # The driver compares against DuckDB; ANSI stays on (Spark 4 default)
    # so overflow/casts fail loudly instead of silently diverging.
}


def load_properties(path: str) -> dict[str, str]:
    """Parse a java-style .properties file, keeping only ``spark.*`` keys.

    Same contract as the reference's ``SparkConfigLoader.scala:9-24``:
    ``#``/``!`` comments and blank lines skipped, first ``=`` splits
    key/value, non-spark keys dropped.
    """
    conf: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith(("#", "!")) or "=" not in line:
                continue
            key, _, value = line.partition("=")
            key, value = key.strip(), value.strip()
            if key.startswith("spark."):
                conf[key] = value
    return conf


def default_parallelism() -> int:
    """Local-mode core count; on a real cluster Spark supplies this."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "kafka-stream-job-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    properties_file: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``properties_file`` plays the role of the reference's
    ``spark-defaults.properties`` (SparkConfigLoader.scala:9-24); explicit
    ``extra_conf`` wins over it, which wins over ``ENGINE_DEFAULTS``.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")

    conf = dict(ENGINE_DEFAULTS)
    # Shuffle width: locally, match cores so every reduce slot is busy
    # without tiny-partition overhead; on a cluster this is overridden to
    # ~2-3x total cores (or left to AQE coalescing from a high initial).
    conf.setdefault("spark.sql.shuffle.partitions", str(cpus))
    conf.setdefault("spark.default.parallelism", str(cpus))
    if properties_file:
        conf.update(load_properties(properties_file))
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_thread_active_session(spark: SparkSession) -> None:
    """Pin ``spark`` as the JVM-side *active* session for the calling thread.

    py4j pinned-thread mode (the PySpark 4 default) gives every Python
    thread its own dedicated JVM thread — and a freshly attached JVM
    thread has NO active SparkSession. Most DataFrame operations carry
    their session explicitly, but the ``DataFrameWriter`` resolves
    Python DataSources (``df.write.format("<python ds>")``) through
    ``SparkSession.getActiveSession``, so from any non-main Python
    thread the write path fails with ``DATA_SOURCE_NOT_FOUND`` even
    though the source is registered on the session. (The read path is
    unaffected — ``DataFrameReader`` resolves against its own session.)

    Call once per worker thread before writing through a custom Python
    sink. Idempotent and cheap (one py4j round-trip).
    """
    jspark = spark._jsparkSession  # noqa: SLF001 — py4j seam by design
    jvm = spark._jvm  # noqa: SLF001
    for cls in (
        "org.apache.spark.sql.classic.SparkSession",  # Spark 4.x
        "org.apache.spark.sql.SparkSession",  # Spark 3.x layout
    ):
        try:
            obj = jvm
            for part in cls.split("."):
                obj = getattr(obj, part)
            obj.setActiveSession(jspark)
            return
        except Exception:  # noqa: BLE001 — try the next class layout
            continue
    raise RuntimeError("could not locate JVM SparkSession companion object")
