"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
the seed inside a fresh run directory (``.perfbench_runs/``, removed at the
end), starts the engine through ``kafka_stream_job_spark.session.get_spark``
on ``local[nproc]``, runs the workload, checks its outputs, stops every
process it started, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and spans are written to
``.perfbench_results/<workload>-s<seed>-trace.json``. The line before the
result carries the run's details: per-workload figures with sample
counts, host evidence (nproc, loadavg, CPU calibration) and failures.
Every run is also appended to ``.perfbench_results/<workload>.jsonl``;
a traced run reports its overhead against the untraced runs recorded
there. See ``perfbench/LAYERS.md`` for what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: End-to-end metrics: name -> unit. Every workload reports each.
END_TO_END = {
    "setup_s": "s",
    "op_gmean_ms": "ms",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics: name -> unit. Zero where a workload bypasses the layer.
PER_LAYER = {
    "session.start_s": "s", "registry.import_s": "s", "warmup.first_exec_s": "s",
    "operators.build_s": "s", "driver.py4j_calls": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.queryPlanning_ms": "ms",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.python_s": "s", "exec.task_skew": "ratio", "exec.slot_util": "ratio",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "spill.bytes": "bytes",
    "source.latestOffset_ms": "ms", "source.getBatch_ms": "ms",
    "loadgen.late_ms_max": "ms", "source.backlog_files_max": "count",
    "bronze.addBatch_ms": "ms", "bronze.rows_per_batch": "rows",
    "bronze.batch_write_s": "s", "bronze.files_written": "count",
    "bronze.bytes_written": "bytes",
    "checkpoint.walCommit_ms": "ms", "checkpoint.commitOffsets_ms": "ms",
    "stream.overhead_frac": "ratio", "stream.batches": "count",
    "drain.outside_trigger_s": "s", "state.numRowsTotal": "rows",
    "state.memoryUsedBytes": "bytes", "state.commitTimeMs": "ms",
    "state.instances": "count",
    "monitors.preflight_ms": "ms", "monitors.live_check_ms": "ms",
    "monitors.transition_ms": "ms", "monitors.guard_ms": "ms", "monitors.scan_ms": "ms",
    "monitors.loss_recall": "ratio", "monitors.false_positives": "count",
    "trace.overhead_s": "s",
}


#: A run that has not finished after this many seconds is stopped and fails.
WATCHDOG_S = 170


def _abort(ctx) -> None:
    """Stop every process the run started, remove its directory and exit
    without a result."""
    from harness import reap_descendants

    print(f"run exceeded {WATCHDOG_S} s; stopping", file=sys.stderr, flush=True)
    reap_descendants()
    ctx.remove_run_dir()
    os._exit(3)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input sizes")
    return ap.parse_args(argv)


def _record(results_dir: str, workload: str, record: dict) -> list[dict]:
    """Append ``record`` to the workload's ledger; return earlier records."""
    path = os.path.join(results_dir, f"{workload}.jsonl")
    earlier = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            earlier = [json.loads(line) for line in fh if line.strip()]
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")
    return earlier


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_stream_job_spark")):
        print(f"no kafka_stream_job_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import RunContext, check_span_tree
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    ctx = RunContext(ROOT, args.workload, args.seed, args.seconds,
                     bool(args.trace), args.size)
    watchdog = threading.Timer(WATCHDOG_S, _abort, (ctx,))
    watchdog.daemon = True
    watchdog.start()
    ctx.layers = {name: 0.0 for name in PER_LAYER}
    try:
        end_to_end, details = WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
        ctx.close()
        ctx.remove_run_dir()
    end_to_end["peak_rss_mb"] = ctx.rss.peak / 2**20
    ctx.host["peak_rss_mb_by_command"] = {
        k: v / 2**20 for k, v in ctx.rss.peak_by_command.items()
    }

    results_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results_dir, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "end_to_end": end_to_end,
        "details": details, "host": ctx.host, "attempted": ctx.attempted,
        "failed": ctx.failed, "failures": ctx.failures,
    }
    if args.trace:
        problems = check_span_tree(ctx.spans.records)
        ctx.check(not problems, f"span tree: {problems[:3]}")
        record["layers"] = ctx.layers
    earlier = _record(results_dir, args.workload, record)
    if args.trace:
        untraced = [r["end_to_end"]["pass_s"] for r in earlier
                    if not r["trace"] and r["size"] == args.size]
        if untraced:
            ctx.layers["trace.overhead_s"] = end_to_end["pass_s"] - statistics.median(untraced)
        with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}-trace.json"),
                  "w", encoding="utf-8") as fh:
            json.dump({"layers": ctx.layers, "spans": ctx.spans.records,
                       "span_problems": problems, "untraced_runs": len(untraced)}, fh)

    chosen = PER_LAYER if args.trace else END_TO_END
    source = ctx.layers if args.trace else end_to_end
    metrics = {name: {"value": source[name], "unit": unit} for name, unit in chosen.items()}
    print(json.dumps({"details": details, "host": ctx.host, "failures": ctx.failures}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
