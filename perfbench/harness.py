"""Run context shared by the workloads: isolation, session start, spans,
memory sampling, host evidence, and the trace folds (event log, streaming
progress, py4j call counts).

Everything here stays outside the program: the engine is configured only
through ``session.get_spark(extra_conf=...)`` and the public PySpark API.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager


# -- percentiles ----------------------------------------------------------------
def median(values):
    return statistics.median(values) if values else None


def gmean(values):
    return statistics.geometric_mean(values) if values else None


def percentile(values, q):
    """Nearest-rank percentile, or None unless at least ten samples lie
    beyond it (a p90 needs 100 samples, a p50 needs 20)."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10:
        return None
    ordered = sorted(values)
    return ordered[min(n - 1, max(0, int(round(q * n + 0.5)) - 1))]


def timing(values, unit="s"):
    """Median plus the highest reportable percentile, with the sample count."""
    out = {"n": len(values), "unit": unit, "p50": median(values)}
    for name, q in (("p99", 0.99), ("p90", 0.90)):
        p = percentile(values, q)
        if p is not None:
            out[name] = p
            break
    return out


# -- host evidence ----------------------------------------------------------------
def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_calib():
    """Best of five single-thread timings of 1e5 chained md5 hashes (the
    same probe as the repository's bench.py), in seconds."""
    best = float("inf")
    for _ in range(5):
        buf = b"spark-graft-calibration"
        start = time.perf_counter()
        for _ in range(100_000):
            buf = hashlib.md5(buf).digest()
        best = min(best, time.perf_counter() - start)
    return best


# -- process tree ---------------------------------------------------------------
def _children_map():
    kids = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its descendant ``java`` and
    ``python`` processes (the driver JVM and the Python workers), sampled
    every ``interval`` seconds. Other descendants are left out: a JVM that
    forks a helper (e.g. ``chmod``) briefly has a child sharing its pages,
    which would count the JVM twice."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True, name="perfbench-rss")
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            by_command: dict[str, int] = {}
            for pid in [me, *descendants(me)]:
                name = _command(pid)
                if name == "java" or name.startswith("python"):
                    by_command[name] = by_command.get(name, 0) + _rss_bytes(pid)
            total = sum(by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_command
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


# -- spans ----------------------------------------------------------------------
class Spans:
    """In-memory span recorder: name, start, end, parent, operation id.
    Spans nest through a stack; all are recorded from the main thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None else (
                self.records[self._stack[-1]]["op"] if self._stack else None
            ),
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, start: float, end: float, parent: dict | None) -> None:
        """Record a finished span timed elsewhere (``perf_counter`` values),
        e.g. on a worker thread, as a child of ``parent``."""
        if not self.enabled:
            return
        self.records.append({
            "id": len(self.records), "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else name,
            "start": start - self._t0, "end": end - self._t0,
        })

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)


def check_span_tree(records: list[dict]) -> list[str]:
    """Problems with a span list: every span closed, one root per
    operation, and each child inside its parent's interval."""
    problems = []
    by_id = {r["id"]: r for r in records}
    roots_per_op: dict = {}
    for r in records:
        if r["end"] is None or r["end"] < r["start"]:
            problems.append(f"span {r['id']} {r['name']} not closed")
            continue
        if r["parent"] is None:
            roots_per_op[r["op"]] = roots_per_op.get(r["op"], 0) + 1
            continue
        p = by_id[r["parent"]]
        if p["op"] != r["op"]:
            problems.append(f"span {r['id']} crosses operations")
        if r["start"] < p["start"] or (p["end"] is not None and r["end"] > p["end"]):
            problems.append(f"span {r['id']} {r['name']} outside its parent")
    problems += [f"operation {op} has {n} roots" for op, n in roots_per_op.items() if n != 1]
    return problems


# -- streaming progress ----------------------------------------------------------
def progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress JSON to ``sink``
    and calls its ``hook(progress)`` if one is attached."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Collector(StreamingQueryListener):
        hook = None

        def onQueryStarted(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryProgress(self, event):
            progress = json.loads(event.progress.json)
            sink.append(progress)
            if self.hook is not None:
                self.hook(progress)

    return Collector()


def fold_progress(progresses: list[dict]) -> dict:
    """Sum streaming progress phases (ms) and state-store metrics."""
    keys = ("triggerExecution", "addBatch", "getBatch", "latestOffset",
            "queryPlanning", "walCommit", "commitOffsets")
    dur = {k: 0.0 for k in keys}
    state = {"numRowsTotal": 0, "memoryUsedBytes": 0, "commitTimeMs": 0, "instances": 0}
    rows = 0
    batches = 0
    for p in progresses:
        if not p.get("numInputRows") and "addBatch" not in p.get("durationMs", {}):
            continue  # idle trigger, no batch ran
        batches += 1
        rows += p.get("numInputRows", 0)
        for k in keys:
            dur[k] += p.get("durationMs", {}).get(k, 0)
        for op in p.get("stateOperators", []):
            state["numRowsTotal"] = max(state["numRowsTotal"], op.get("numRowsTotal", 0))
            state["memoryUsedBytes"] = max(state["memoryUsedBytes"], op.get("memoryUsedBytes", 0))
            state["commitTimeMs"] += op.get("commitTimeMs", 0)
            state["instances"] = max(state["instances"], op.get("numShufflePartitions", 0))
    return {"batches": batches, "rows": rows, "durationMs": dur, "state": state}


# -- event log ------------------------------------------------------------------
def fold_event_log(log_dir: str, in_scope) -> dict:
    """Fold the Spark event log's task metrics for jobs whose job group
    satisfies ``in_scope(group)``. A streaming query runs its jobs under
    its run id as the job group."""
    stage_group: dict[int, str] = {}
    jobs = 0
    tasks: dict[int, list[dict]] = {}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir)
             for n in names if n.startswith("events_") or n.startswith("local-")]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if in_scope(group):
                        jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    out = {
        "jobs": jobs, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "python_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0,
    }
    skews = []
    for sid, evs in tasks.items():
        if sid not in stage_group:
            continue
        out["stages"] += 1
        out["tasks"] += len(evs)
        run_times = []
        python = False
        for ev in evs:
            m = ev["Task Metrics"]
            run_times.append(m.get("Executor Run Time", 0))
            out["run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            python = python or any(
                "python" in a.get("Name", "").lower()
                for a in ev.get("Task Info", {}).get("Accumulables", [])
            )
        if python:
            out["python_s"] += sum(
                ev["Task Metrics"].get("Executor Run Time", 0) / 1e3
                - ev["Task Metrics"].get("Executor CPU Time", 0) / 1e9
                for ev in evs
            )
        if len(run_times) > 1 and statistics.median(run_times) > 0:
            skews.append(max(run_times) / statistics.median(run_times))
    out["task_skew"] = max(skews) if skews else 1.0
    return out


# -- the run context ----------------------------------------------------------------
class RunContext:
    """Owns the run directory, the Spark session and the measurement state
    of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, size: str):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(
            root, ".perfbench_runs", f"{workload}-s{seed}-{os.getpid()}"
        )
        self.tmp = os.path.join(self.run_dir, "tmp")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.tmp)
        os.makedirs(self.event_dir)
        self.spans = Spans(trace)
        self.progress: list[dict] = []
        self.listener = None
        self.rss = RssSampler()
        self.py4j_calls = 0
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict = {}
        self.host = {"nproc": self.cores, "loadavg_before": loadavg()}
        self.host["cpu_calib_s"] = cpu_calib()
        self._t0 = time.perf_counter()
        # Python workers inherit this environment from the JVM, so they can
        # import the package from the checkout root, and every temp file
        # lands inside the run directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root, *filter(None, [os.environ.get("PYTHONPATH")])]
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        import tempfile

        tempfile.tempdir = self.tmp
        self.rss.start()

    # -- checks -----------------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed check counts as a failed operation."""
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    # -- session ------------------------------------------------------------------
    def start_session(self):
        """Start the engine session through `session.get_spark`."""
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": self.tmp,
            # -XX:-UsePerfData: the JVM would otherwise keep its counters
            # in /tmp/hsperfdata_<user>, outside the run directory.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        from kafka_stream_job_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._redirect_stage_roots()
        if self.trace:
            self._count_py4j_calls()
        self.listener = progress_listener(self.progress)
        self.spark.streams.addListener(self.listener)
        return self.spark

    def _redirect_stage_roots(self):
        """The streaming module stages file-source inputs under fixed /tmp
        roots; point those roots into this run's directory instead."""
        from kafka_stream_job_spark.streaming import pipeline

        def move(root: str) -> str:
            return os.path.join(self.tmp, "stage", root.strip("/").replace("/", "_"))

        stage_source, staged_dir = pipeline._stage_stream_source, pipeline._staged_dir
        pipeline._stage_stream_source = lambda sf, table, root: stage_source(sf, table, move(root))
        pipeline._staged_dir = lambda root, *a, **k: staged_dir(move(root), *a, **k)

    def _count_py4j_calls(self):
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting

    def job_group(self, group: str):
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    # -- teardown ------------------------------------------------------------------
    def close(self):
        """Stop the session, the JVM and every process this run started,
        and wait for each."""
        self.host["loadavg_after"] = loadavg()
        self.rss.stop()
        t_close = time.perf_counter()
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                if SparkContext._active_spark_context is not None:
                    for q in self.spark.streams.active:
                        q.stop()
                    self.spark.streams.removeListener(self.listener)
                    self.spark.stop()
                gateway = SparkContext._gateway
                if gateway is not None:
                    proc = getattr(gateway, "proc", None)
                    gateway.shutdown()
                    if proc is not None:
                        proc.terminate()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            reap_descendants()
            self.host["teardown_s"] = time.perf_counter() - t_close
            self.host["run_s"] = time.perf_counter() - self._t0

    def remove_run_dir(self):
        shutil.rmtree(self.run_dir, ignore_errors=True)
        parent = os.path.dirname(self.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def reap_descendants(timeout: float = 30.0):
    """Terminate any process still below this one and wait until gone."""
    import signal

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass
