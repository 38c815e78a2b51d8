"""The benchmark workloads.

Each workload function takes a ``RunContext``, prepares its inputs from
the seed, starts the session (timed as set-up together with the registry
import and a warm-up pass), runs its timed region, checks every output
outside the timed region, and returns ``(end_to_end, details)``: the
BENCHMARK.json end-to-end metrics it measured and the workload-specific
figures with their sample counts. Traced runs also fill ``ctx.layers``.
"""

from __future__ import annotations

import json
import os
import random
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import datagen
import oracle
from harness import fold_event_log, fold_progress, gmean, median, timing

#: Scale factor of the registry tables per size profile.
SF = {"full": 0.01, "tiny": 0.001}

#: ``bench=True`` specs left out of ``headline_queries`` because their
#: result disagrees with the DuckDB oracle on some generated inputs:
#: - similarity_topk_bucketed assigns LSH buckets from the sign of a float
#:   projection, and a projection within rounding of zero lands in another
#:   bucket in Spark than in DuckDB (datagen seed 106 at sf0.01);
#: - q5_local_supplier_volume rounds a double sum of 4-decimal products to
#:   cents, and a sum on a half-cent boundary rounds the other way after
#:   Spark's and DuckDB's different summation orders (seed 318 at sf0.01:
#:   NATION_17 1176565.46 vs 1176565.47).
EXCLUDED = ("similarity_topk_bucketed", "q5_local_supplier_volume")

#: Streaming twins drained in ``headline_queries`` next to the bench specs:
#: exact streaming dedup, whose state store, query start/stop and
#: per-batch overhead are what the drain layer metrics measure. It is the
#: cheapest stateful twin, which keeps each run short.
DRAINS = ("streaming_dedup_events",)

#: Client threads of the headline warm-up pass.
WARMUP_THREADS = 4
#: Timed passes of ``headline_queries``, at least.
MIN_PASSES = 2

#: bronze_ingest sizes: rows per payload file, files per micro-batch
#: (``maxFilesPerTrigger``), backlog files per round.
BRONZE_ROWS = {"full": 5_000, "tiny": 1_000}
FILES_PER_TRIGGER = 4
BRONZE_BACKLOG = 12
#: bronze_ingest replays the job lifecycle (restart, catch-up, paced tail,
#: batch append) this many times and reports the mean round.
ROUNDS = 4
#: Warm-up micro-batches before the timed region: catch-up-sized ones,
#: then one-file ones like the tail's. Until about ten micro-batches have
#: run, each is slower than the last while the JVM compiles the decode,
#: sink and commit paths, and how fast that goes depends on the host's
#: load; timing only after them keeps that drift out of the measurements.
WARMUP_CATCHUP_BATCHES = 2
WARMUP_SINGLE_BATCHES = 4
#: The paced tail's fixed open-loop rate, in payload files per second, for
#: ``--seconds`` split over the rounds: about a quarter of the catch-up
#: rate measured when the benchmark was defined (~18k rows/s on 4 cores),
#: so a one-file tail micro-batch ends well before the next file is due.
#: Recorded in BENCHMARK.json and never recomputed.
TAIL_FILES_PER_S = 0.8
TOPIC, PARTITIONS = "orders", 3


def _exec_layers(ctx, layers: dict, progresses: list[dict], action_s: float) -> None:
    """Stop the session (which flushes the event log) and fold the task
    metrics of the timed jobs into ``layers``: jobs tagged ``timed:`` and
    jobs of the streaming runs whose progress fell in the timed region."""
    run_ids = {p["runId"] for p in progresses}
    ctx.spark.stop()
    ev = fold_event_log(ctx.event_dir, lambda g: g.startswith("timed:") or g in run_ids)
    layers.update({
        "exec.action_s": action_s,
        "exec.jobs": ev["jobs"], "exec.stages": ev["stages"], "exec.tasks": ev["tasks"],
        "exec.run_s": ev["run_s"], "exec.cpu_s": ev["cpu_s"], "exec.gc_s": ev["gc_s"],
        "exec.python_s": ev["python_s"], "exec.task_skew": ev["task_skew"],
        "exec.slot_util": ev["run_s"] / (action_s * ctx.cores) if action_s else 0.0,
        "shuffle.read_bytes": ev["shuffle_read_bytes"],
        "shuffle.write_bytes": ev["shuffle_write_bytes"],
        "spill.bytes": ev["spill_bytes"],
    })


def _stream_layers(layers: dict, progresses: list[dict]) -> dict:
    fold = fold_progress(progresses)
    d = fold["durationMs"]
    layers.update({
        "catalyst.queryPlanning_ms": d["queryPlanning"],
        "source.latestOffset_ms": d["latestOffset"],
        "source.getBatch_ms": d["getBatch"],
        "checkpoint.walCommit_ms": d["walCommit"],
        "checkpoint.commitOffsets_ms": d["commitOffsets"],
        "stream.overhead_frac": 1 - d["addBatch"] / d["triggerExecution"]
        if d["triggerExecution"] else 0.0,
        "stream.batches": fold["batches"],
        "state.numRowsTotal": fold["state"]["numRowsTotal"],
        "state.memoryUsedBytes": fold["state"]["memoryUsedBytes"],
        "state.commitTimeMs": fold["state"]["commitTimeMs"],
        "state.instances": fold["state"]["instances"],
    })
    return fold


def _catalyst_phases(df) -> dict[str, float]:
    """Phase durations (s) from a DataFrame's QueryPlanningTracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        pair = it.next()
        out[pair._1()] = pair._2().durationMs() / 1e3
    return out


def _setup(ctx):
    """Session start and registry import; returns (spark, specs, seconds)."""
    with ctx.spans.span("setup", op="setup"):
        with ctx.spans.span("setup.session"):
            t0 = time.perf_counter()
            spark = ctx.start_session()
            session_s = time.perf_counter() - t0
        with ctx.spans.span("setup.registry_import"):
            t0 = time.perf_counter()
            from kafka_stream_job_spark.registry import all_specs

            specs = all_specs()
            import_s = time.perf_counter() - t0
    ctx.layers["session.start_s"] = session_s
    ctx.layers["registry.import_s"] = import_s
    return spark, specs, session_s + import_s


def _epoch(progress: dict) -> float:
    """Trigger start of a progress record, in epoch seconds."""
    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def _wall_in(progress: dict, start: float, end: float) -> bool:
    return start <= _epoch(progress) <= end


# =============================================================================
# headline_queries
# =============================================================================
def headline_queries(ctx):
    """Closed loop, one client: the registry's ``bench=True`` specs (less
    ``EXCLUDED``) plus the ``DRAINS`` twins, in a seed-permuted order, one
    full pass at a time, until ``--seconds`` would be exceeded (at least
    ``MIN_PASSES`` passes). Each operation is ``spec.fn`` (the driver
    build; for a drain, the whole drain) followed by a row-count action."""
    sf_dir = os.path.join(ctx.run_dir, "data")
    datagen.write_tables(sf_dir, SF[ctx.size], ctx.seed)

    spark, specs, base_setup_s = _setup(ctx)
    names = sorted(n for n, s in specs.items() if s.bench and n not in EXCLUDED)
    names += list(DRAINS)
    chosen = [specs[n] for n in names]
    expected = oracle.expected(sf_dir, chosen)
    order = list(names)
    random.Random(ctx.seed).shuffle(order)

    # Warm-up pass: first execution of every operation (codegen, scan
    # cache, first drain), from WARMUP_THREADS client threads so the cold
    # pass keeps the cores busy. Rows are collected so each result is
    # checked against the DuckDB oracle; the comparison is not timed.
    from kafka_stream_job_spark.session import ensure_thread_active_session

    def warm(name):
        ensure_thread_active_session(spark)
        ctx.job_group(f"setup:{name}")
        t0 = time.perf_counter()
        df = specs[name].fn(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        t1 = time.perf_counter()
        return name, t0, t1, df.columns, rows

    with ctx.spans.span("warmup", op="warmup") as root:
        t0 = time.perf_counter()
        # Drains are the longest cold operations: start them first.
        warm_order = sorted(order, key=lambda n: n not in DRAINS)
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            results = list(pool.map(warm, warm_order))
        warm_s = time.perf_counter() - t0
    first_exec = None
    warm_op_s = {}
    for name, start, end, columns, rows in results:
        ctx.spans.add(f"warmup.{name}", start, end, root)
        warm_op_s[name] = end - start
        first_exec = end - start if first_exec is None else first_exec
        ctx.attempted += 1
        ctx.check(oracle.digest(columns, rows) == expected[name],
                  f"{name}: warm-up result differs from the DuckDB oracle")
    setup_s = base_setup_s + warm_s
    ctx.layers["warmup.first_exec_s"] = first_exec

    latencies, passes, counts, windows = [], [], [], []
    build_s = action_s = drain_s = 0.0
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    py4j_before = ctx.py4j_calls
    t_start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for name in order:
            op = f"p{len(passes)}:{name}"
            ctx.job_group(f"timed:{op}")
            w0 = time.time()
            kind = "drain" if name in DRAINS else "query"
            with ctx.spans.span(kind, op=op):
                t0 = time.perf_counter()
                with ctx.spans.span("operators.build"):
                    df = specs[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with ctx.spans.span("exec.action"):
                    counted = df.groupBy().count()
                    n = counted.collect()[0][0]
                t2 = time.perf_counter()
            latencies.append(t2 - t0)
            if kind == "drain":  # the drain runs inside spec.fn
                drain_s += t2 - t0
            else:
                build_s += t1 - t0
            action_s += t2 - t1
            windows.append((w0, time.time()))
            counts.append((name, n))
            if ctx.trace:
                for k, v in _catalyst_phases(counted).items():
                    if k in phases:
                        phases[k] += v
        passes.append(time.perf_counter() - t_pass)
        if len(passes) >= MIN_PASSES and (
            time.perf_counter() - t_start + passes[-1] > ctx.seconds
        ):
            break

    for name, n in counts:
        ctx.attempted += 1
        ctx.check(n == expected[name][0],
                  f"{name}: {n} rows in a timed run, oracle has {expected[name][0]}")

    # Each operation's fastest execution over the passes, as in bench.py:
    # contention from outside the benchmark only ever adds time.
    best = {}
    for (name, _), lat in zip(counts, latencies):
        best[name] = min(lat, best.get(name, lat))
    end_to_end = {
        "setup_s": setup_s,
        "op_gmean_ms": gmean(list(best.values())) * 1e3,
        "pass_s": sum(best.values()),
    }
    details = {
        "sf": SF[ctx.size], "order": order, "loop": "closed, 1 client",
        "op_latency": timing(latencies),
        "pass": timing(passes),
        "warmup_s": warm_s,
        "warmup_op_s": warm_op_s,
        "per_op_s": {
            name: [lat for (nm, _), lat in zip(counts, latencies) if nm == name]
            for name in order
        },
    }
    if ctx.trace:
        layers = ctx.layers
        layers["operators.build_s"] = build_s
        layers["driver.py4j_calls"] = ctx.py4j_calls - py4j_before
        layers["catalyst.analysis_s"] = phases["analysis"]
        layers["catalyst.optimization_s"] = phases["optimization"]
        layers["catalyst.planning_s"] = phases["planning"]
        time.sleep(0.5)  # let the last progress events arrive
        in_region = [p for p in ctx.progress if any(_wall_in(p, a, b) for a, b in windows)]
        fold = _stream_layers(layers, in_region)
        trigger_s = fold["durationMs"]["triggerExecution"] / 1e3
        layers["drain.outside_trigger_s"] = drain_s - trigger_s
        _exec_layers(ctx, layers, in_region, action_s + drain_s)
    return end_to_end, details


# =============================================================================
# bronze_ingest
# =============================================================================
class ShadowKafka:
    """A Kafka-format shadow of the bronze stream: the topic ``orders`` with
    three partitions, where row j of every payload file sits on partition
    j % 3. Each committed micro-batch becomes a Spark-format offsets file
    (``monitors.write_offsets_fixture``) holding the partitions' end
    offsets, and a seed-chosen retention schedule moves the broker's
    earliest offset past records before they are read. The expected loss
    ranges of every mechanism follow from that schedule alone."""

    def __init__(self, ckpt_dir: str, rows_per_file: int, seed: int):
        self.ckpt = ckpt_dir
        self.rng = random.Random(seed * 7919 + 1)
        self.per_file = [len(range(p, rows_per_file, PARTITIONS)) for p in range(PARTITIONS)]
        self.ends: dict[int, list[int]] = {}
        self.earliest = [0] * PARTITIONS
        self.injections: dict[int, int] = {}
        self.expected = {"L1": set(), "L2": set(), "L3": set(), "L4": set(), "L5": set()}
        self.detected = {k: set() for k in self.expected}
        self.times = {k: [] for k in self.expected}
        self.lock = threading.Lock()

    def provider(self, tps):
        return {(t, p): self.earliest[p] for t, p in tps}

    def plan_live(self, batches: list[int]) -> None:
        """Expire records on a random partition just before each of ``batches`` reads."""
        for b in batches:
            self.injections[b] = self.rng.randrange(PARTITIONS)

    def expire_at_restart(self) -> None:
        """Expire records of one partition while the job is down."""
        last = self.ends[max(self.ends)]
        p = self.rng.randrange(PARTITIONS)
        self.earliest[p] = last[p] + self.rng.randint(1, self.per_file[p] - 1)
        self.expected["L2"].add((p, last[p], self.earliest[p] - 1))

    def on_batch(self, batch_id: int, n_files: int) -> None:
        """Record one committed micro-batch of ``n_files`` payload files and
        run the live (L1) and batch-transition (L3) checks on it."""
        from kafka_stream_job_spark import monitors

        with self.lock:
            prev = self.ends.get(batch_id - 1, [0] * PARTITIONS)
            end = [prev[p] + n_files * self.per_file[p] for p in range(PARTITIONS)]
            if batch_id in self.injections:
                p = self.injections[batch_id]
                self.earliest[p] = max(
                    self.earliest[p], prev[p] + self.rng.randint(1, self.per_file[p] - 1)
                )
            self.ends[batch_id] = end
            monitors.write_offsets_fixture(
                self.ckpt, batch_id, {TOPIC: {str(p): end[p] for p in range(PARTITIONS)}}
            )
            if batch_id == 0:
                return
            for p in range(PARTITIONS):
                if self.earliest[p] > prev[p]:
                    self.expected["L1"].add((p, prev[p], self.earliest[p] - 1))
            live = monitors.LiveDataLossMonitor(self.provider)
            t0 = time.perf_counter()
            found = live.check_source(
                f"KafkaV2[Subscribe[{TOPIC}]]",
                json.dumps({TOPIC: {str(p): prev[p] for p in range(PARTITIONS)}}),
                json.dumps({TOPIC: {str(p): end[p] for p in range(PARTITIONS)}}),
            )
            self.times["L1"].append(time.perf_counter() - t0)
            self.detected["L1"] |= {(e.partition, e.lost_from, e.lost_to) for e in found}
            t0 = time.perf_counter()
            suspects = monitors.check_batch_transition(self.ckpt, self.provider)
            self.times["L3"].append(time.perf_counter() - t0)
            self.detected["L3"] |= {(p, pend, early - 1) for _, p, pend, early in suspects}

    def preflight(self) -> None:
        from kafka_stream_job_spark import monitors

        t0 = time.perf_counter()
        found = monitors.preflight_detect(self.ckpt, self.provider)
        self.times["L2"].append(time.perf_counter() - t0)
        self.detected["L2"] |= {(e.partition, e.lost_from, e.lost_to) for e in found}

    def guard(self, first: int, last: int) -> bool:
        """L4 before the batch append of micro-batches ``first..last``."""
        from kafka_stream_job_spark import monitors

        start = self.ends[first - 1]
        end = self.ends[last]
        for p in range(PARTITIONS):
            if self.earliest[p] > start[p]:
                self.expected["L4"].add((p, start[p], self.earliest[p] - 1))
        guard = monitors.BatchOffsetGuard(self.provider)
        t0 = time.perf_counter()
        found = guard.check(
            json.dumps({TOPIC: {str(p): start[p] for p in range(PARTITIONS)}}),
            json.dumps({TOPIC: {str(p): end[p] for p in range(PARTITIONS)}}),
        )
        self.times["L4"].append(time.perf_counter() - t0)
        self.detected["L4"] |= {(e.partition, e.lost_from, e.lost_to) for e in found}
        return guard.ready

    def scan(self, log_path: str) -> None:
        """L5: the standalone detector over every shadow batch."""
        from kafka_stream_job_spark import monitors

        for b, end in self.ends.items():
            for p in range(PARTITIONS):
                if end[p] < self.earliest[p]:
                    self.expected["L5"].add((b, p, end[p], self.earliest[p] - 1))
        t0 = time.perf_counter()
        monitors.detect_and_log(self.ckpt, self.provider, log_path)
        self.times["L5"].append(time.perf_counter() - t0)
        pat = re.compile(r"batch=(\d+) \[DATA-LOSS\] \S+-(\d+): offsets (\d+)\.\.(\d+) ")
        with open(log_path, encoding="utf-8") as fh:
            for line in fh:
                m = pat.match(line)
                if m:
                    self.detected["L5"].add(tuple(int(x) for x in m.groups()))

    def score(self) -> tuple[float, int]:
        injected = set().union(*({(k, *e) for e in v} for k, v in self.expected.items()))
        found = set().union(*({(k, *e) for e in v} for k, v in self.detected.items()))
        recall = len(injected & found) / len(injected) if injected else 1.0
        return recall, len(found - injected)


def _file_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(src, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def bronze_ingest(ctx):
    from pyspark.sql import functions as F

    rows = BRONZE_ROWS[ctx.size]
    n_catchup = BRONZE_BACKLOG // FILES_PER_TRIGGER
    n_tail = max(3, round(TAIL_FILES_PER_S * ctx.seconds / ROUNDS))
    n_warm = WARMUP_CATCHUP_BATCHES * FILES_PER_TRIGGER + WARMUP_SINGLE_BATCHES
    per_round = BRONZE_BACKLOG + n_tail
    files = datagen.order_payload_files(ctx.seed, n_warm + ROUNDS * per_round, rows)
    warm = files[:n_warm]
    rounds = [files[n_warm + r * per_round : n_warm + (r + 1) * per_round] for r in range(ROUNDS)]
    src_dir = os.path.join(ctx.run_dir, "topic")
    ckpt = os.path.join(ctx.run_dir, "ckpt", "bronze_stream")
    shadow = ShadowKafka(os.path.join(ctx.run_dir, "ckpt", "shadow_kafka"), rows, ctx.seed)
    os.makedirs(src_dir)

    spark, _specs, base_setup_s = _setup(ctx)
    from kafka_stream_job_spark import bronze

    def on_progress(p):
        # Runs on the listener thread after each committed micro-batch.
        try:
            if p["name"] == "bronze_stream" and p.get("numInputRows"):
                n_files = round(p["numInputRows"] / rows)
                shadow.on_batch(p["batchId"], n_files)
        except Exception as exc:  # noqa: BLE001 - the listener thread must survive
            ctx.check(False, f"shadow monitor failed: {exc!r}")

    ctx.listener.hook = on_progress

    def start_stream():
        raw = (
            spark.readStream.schema("value binary")
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .parquet(src_dir)
        )
        decoded = bronze.decode_events(raw, source_tag="kafka-stream")
        return (
            decoded.writeStream.format("parquet")
            .queryName("bronze_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .toTable("bronze_stream")
        )

    def batch_append(batch_files):
        raw = spark.read.parquet(*batch_files)
        bronze.write_batch_append(
            bronze.decode_events(raw, source_tag="kafka-batch"), "bronze_batch"
        )

    # Warm-up: DDL, the warm files streamed in WARMUP_CATCHUP_BATCHES
    # catch-up-sized micro-batches and then one file per micro-batch, and
    # one batch append of them all. It creates the stream's checkpoint.
    with ctx.spans.span("warmup", op="warmup"):
        t0 = time.perf_counter()
        ctx.job_group("setup:bronze")
        bronze.create_bronze_table(spark, "bronze_stream")
        bronze.create_bronze_table(spark, "bronze_batch")
        head = WARMUP_CATCHUP_BATCHES * FILES_PER_TRIGGER
        warm_paths = [f.write(src_dir, _file_time(f.index)) for f in warm[:head]]
        q = start_stream()
        for f in warm[head:]:
            _await_files(q, ckpt, [os.path.basename(p) for p in warm_paths], timeout=60)
            warm_paths.append(f.write(src_dir, _file_time(f.index)))
        _await_files(q, ckpt, [os.path.basename(p) for p in warm_paths], timeout=60)
        q.stop()
        batch_append(warm_paths)
        warm_s = time.perf_counter() - t0
    ctx.layers["warmup.first_exec_s"] = warm_s
    setup_s = base_setup_s + warm_s
    _wait_for(lambda: len(shadow.ends) >= 1 + _last_batch(ckpt), 10)

    ctx.progress.clear()
    ctx.job_group("timed:bronze")
    layers = ctx.layers
    py4j_before = ctx.py4j_calls
    rng = random.Random(ctx.seed)
    catchup_s, batch_s, freshness, late, due = [], [], [], [], []
    ready = True
    for r, chunk in enumerate(rounds):
        backlog, tail = chunk[:BRONZE_BACKLOG], chunk[BRONZE_BACKLOG:]
        # The backlog that accumulated while the job was down.
        backlog_paths = [f.write(src_dir, _file_time(f.index)) for f in backlog]
        first = 1 + _last_batch(ckpt)
        last = first + n_catchup - 1
        # The first catch-up batch already reads past the restart's expiry.
        shadow.plan_live(rng.sample(range(first + 1, last + 1), 1))
        shadow.expire_at_restart()

        with ctx.spans.span("restart", op=f"r{r}:restart"):
            t0 = time.perf_counter()
            with ctx.spans.span("monitors.preflight"):
                shadow.preflight()
            with ctx.spans.span("bronze.stream_start"):
                q = start_stream()
        with ctx.spans.span("catchup", op=f"r{r}:catchup"):
            q.processAllAvailable()
            catchup_s.append(time.perf_counter() - t0)

        # Open-loop paced tail: file j is due at t0 + j / rate whatever the
        # stream is doing; lateness of the generator is recorded.
        round_due = []
        with ctx.spans.span("tail", op=f"r{r}:tail"):
            t0_wall = time.time() + 0.2
            for j, f in enumerate(tail):
                when = t0_wall + j / TAIL_FILES_PER_S
                time.sleep(max(0.0, when - time.time()))
                late.append(max(0.0, time.time() - when))
                f.write(src_dir, _file_time(f.index))
                round_due.append((f"orders-{f.index:05d}.parquet", when))
            batch_of = _await_files(q, ckpt, [name for name, _ in round_due], timeout=60)
        q.stop()
        _wait_for(lambda: len(shadow.ends) >= 1 + _last_batch(ckpt), 10)
        commit_at = {
            b: os.stat(os.path.join(ckpt, "commits", str(b))).st_mtime
            for b in {batch_of[name] for name, _ in round_due}
        }
        freshness.append([commit_at[batch_of[name]] - when for name, when in round_due])
        due += round_due

        with ctx.spans.span("batch_append", op=f"r{r}:batch_append"):
            t0 = time.perf_counter()
            with ctx.spans.span("monitors.guard"):
                ready = shadow.guard(first, last) and ready
            with ctx.spans.span("bronze.batch_write"):
                batch_append(backlog_paths)
            batch_s.append(time.perf_counter() - t0)
    with ctx.spans.span("monitors.scan", op="scan"):
        shadow.scan(os.path.join(ctx.run_dir, "loss.log"))

    py4j_calls = ctx.py4j_calls - py4j_before

    # Output checks against the generator's ledger (not timed).
    ctx.job_group("check:bronze")

    def ledger(fs):
        return (sum(f.rows for f in fs), sum(f.amount_cents for f in fs))

    def observed(table):
        r = spark.table(table).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("orderId").alias("ids"),
            F.sum(F.round(F.col("amount") * 100).cast("long")).alias("cents"),
        ).collect()[0]
        return r["n"], r["ids"], r["cents"]

    batch_files = [*warm, *(f for chunk in rounds for f in chunk[:BRONZE_BACKLOG])]
    for table, fs in (("bronze_stream", files), ("bronze_batch", batch_files)):
        n, cents = ledger(fs)
        got = observed(table)
        ctx.attempted += 1
        ctx.check(got == (n, n, cents), f"{table}: got (rows, ids, cents)={got}, ledger {(n, n, cents)}")
    recall, false_pos = shadow.score()
    ctx.attempted += 1
    ctx.check(recall == 1.0 and false_pos == 0 and ready,
              f"loss detection: recall {recall}, {false_pos} false positives")
    ctx.attempted += sum(len(f) for f in freshness)

    # Every round counts: on a shared host a slow spell tends to last a
    # whole run, so the fastest round moves with it about as much as the
    # mean does, and the mean uses all the measured work.
    backlog_rows = BRONZE_BACKLOG * rows
    all_freshness = [x for fs in freshness for x in fs]
    end_to_end = {
        "setup_s": setup_s,
        "op_gmean_ms": gmean(all_freshness) * 1e3,
        "pass_s": (sum(catchup_s) + sum(batch_s)) / ROUNDS,
    }
    details = {
        "loop": f"{ROUNDS} rounds; open-loop paced tail at {TAIL_FILES_PER_S} files/s of {rows} rows",
        "ingest_rows_per_s": backlog_rows / median(catchup_s),
        "batch_ingest_rows_per_s": backlog_rows / median(batch_s),
        "freshness_ms": timing([x * 1e3 for x in all_freshness], "ms"),
        "freshness_by_round_ms": [[round(x * 1e3, 1) for x in fs] for fs in freshness],
        "loadgen_late_ms": timing([x * 1e3 for x in late], "ms"),
        "catchup_s": catchup_s, "batch_s": batch_s,
        "loss_recall": recall, "false_positives": false_pos,
        "injected": {k: sorted(v) for k, v in shadow.expected.items()},
    }
    if ctx.trace:
        time.sleep(0.5)
        stream_progress = [p for p in ctx.progress if p["name"] == "bronze_stream"]
        fold = _stream_layers(layers, stream_progress)
        bytes_written, files_written = _dir_size(os.path.join(ctx.run_dir, "warehouse"))
        pending = _backlog_max(stream_progress, due, _file_batches(ckpt))
        layers.update({
            "bronze.addBatch_ms": fold["durationMs"]["addBatch"],
            "bronze.rows_per_batch": fold["rows"] / fold["batches"] if fold["batches"] else 0.0,
            "bronze.batch_write_s": ctx.spans.total("bronze.batch_write"),
            "bronze.files_written": files_written,
            "bronze.bytes_written": bytes_written,
            "loadgen.late_ms_max": max(late) * 1e3,
            "source.backlog_files_max": pending,
            "monitors.preflight_ms": sum(shadow.times["L2"]) * 1e3,
            "monitors.live_check_ms": sum(shadow.times["L1"]) * 1e3,
            "monitors.transition_ms": sum(shadow.times["L3"]) * 1e3,
            "monitors.guard_ms": sum(shadow.times["L4"]) * 1e3,
            "monitors.scan_ms": sum(shadow.times["L5"]) * 1e3,
            "monitors.loss_recall": recall,
            "monitors.false_positives": false_pos,
            "operators.build_s": ctx.spans.total("bronze.stream_start"),
            "driver.py4j_calls": py4j_calls,
        })
        _exec_layers(ctx, layers, stream_progress, sum(catchup_s) + sum(batch_s))
    return end_to_end, details


def _await_files(query, ckpt: str, names: list[str], timeout: float) -> dict[str, int]:
    """Wait until every file in ``names`` is in a committed micro-batch;
    returns file name -> batch id. ``processAllAvailable`` alone can return
    before a file that landed during the last listing is picked up."""
    deadline = time.monotonic() + timeout
    while True:
        query.processAllAvailable()
        batch_of = _file_batches(ckpt)
        if all(
            n in batch_of and os.path.exists(os.path.join(ckpt, "commits", str(batch_of[n])))
            for n in names
        ):
            return batch_of
        if time.monotonic() > deadline:
            raise TimeoutError(f"paced files not committed within {timeout} s")
        time.sleep(0.05)


def _file_time(k: int) -> float:
    """Modification time of payload file ``k``: one second apart, so the
    file source takes them in order. The file source ignores files much
    older than the newest it has seen, so every file gets its time before
    it becomes visible."""
    return 1_600_000_000.0 + k


def _wait_for(pred, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while not pred() and time.monotonic() < deadline:
        time.sleep(0.02)


def _last_batch(ckpt: str) -> int:
    return max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())


def _dir_size(path: str) -> tuple[int, int]:
    total = count = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, n))
                count += 1
    return total, count


def _backlog_max(progresses, due, batch_of) -> int:
    """Most paced files written but not yet picked up at any batch start."""
    worst = 0
    for p in progresses:
        start = _epoch(p)
        waiting = sum(1 for name, when in due
                      if when <= start and batch_of.get(name, -1) >= p["batchId"])
        worst = max(worst, waiting)
    return worst


WORKLOADS = {
    "bronze_ingest": bronze_ingest,
    "headline_queries": headline_queries,
}
