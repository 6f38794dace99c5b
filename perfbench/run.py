"""Run one workload of the CDC benchmark and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload history_scan --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the per-layer metrics (every layer is reported on
every workload; a layer the workload does not exercise reads 0), and
the spans go to ``.perfbench_work/traces/``. The exit code is 0 only if
every operation succeeded and every output checked correct.

Everything the run writes stays under ``.perfbench_work/`` in the
working directory: fixtures (cached by seed, size and encoder source
hash), Spark's local and temp dirs, the split-cache spill dir, the live
binlog directory, store and checkpoint, event logs and traces.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

WORKLOAD_NAMES = ("history_scan", "sink_write")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "warmup.first_op_s": "s",
    "listing.s": "s",
    "listing.files_listed": "count",
    "listing.files_pruned": "count",
    "header_walk.MBps": "MB/s",
    "header_walk.splits": "count",
    "split_cache.hits": "count",
    "split_cache.misses": "count",
    "kernel.decode_MBps": "MB/s",
    "kernel.rows_per_s": "rows/s",
    "query.build_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "latest_state.s": "s",
    "stage.cpu_s": "s",
    "stage.shuffle_write_bytes": "bytes",
    "stage.spill_bytes": "bytes",
    "tail.latest_offset_ms": "ms",
    "tail.rows_per_batch": "count",
    "tail.batches": "count",
    "tail.backlog_end_txns": "count",
    "tail.visible_lag_p50_ms": "ms",
    "tail.visible_lag_p90_ms": "ms",
    "microbatch.query_planning_ms": "ms",
    "microbatch.wal_commit_ms": "ms",
    "microbatch.commit_offsets_ms": "ms",
    "microbatch.trigger_ms": "ms",
    "store.add_batch_ms_p50": "ms",
    "store.add_batch_ms_p90": "ms",
    "store.files": "count",
    "store.bytes_per_live_row": "bytes",
    "encode.rows_per_s": "rows/s",
    "encode.MBps": "MB/s",
    "sink.job_s": "s",
    "sink.rows_per_s": "rows/s",
    "sink.bytes_per_row": "bytes",
    "sink.files": "count",
    "generator.stage_s": "s",
    "generator.late_ms_p99": "ms",
    "generator.offered_txn_per_s": "1/s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "run.error_rate": "ratio",
    "run.nproc": "count",
    "run.load_avg_pre": "count",
}


def _environment(root: str, work: str, trace: bool) -> None:
    """Point every temp, local and log dir of this process, the JVM and
    Spark's Python workers into ``work``, and make the package
    importable by the workers. Must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        shutil.rmtree(d, ignore_errors=True)  # run hygiene: incl. the split-cache spill dir
        os.makedirs(d)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's short-lived launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))
    sys.path.insert(0, root)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mysql_cdc_table_spark", "__init__.py")):
        print("perfbench: mysql_cdc_table_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    load_pre = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work")
    _environment(root, work, bool(args.trace))

    import workloads
    from tracing import NullTracer, RssSampler, Tracer

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else NullTracer()
    run = workloads.Run(work, args.seed, args.seconds, tracer, nproc)
    wl = workloads.WORKLOADS[args.workload](run)
    layer: dict[str, tuple[float, str]] = {}
    crashed = None
    sampler = RssSampler() if args.trace else contextlib.nullcontext()
    staging: dict = {}

    def stage() -> None:
        t = time.perf_counter()
        try:
            wl.stage()
        except Exception as e:  # re-raised by the set-up that waits for it
            staging["error"] = e
        staging["s"] = time.perf_counter() - t

    def ready() -> None:
        stager.join()
        if "error" in staging:
            raise staging["error"]
        wl.prepare(run.spark)

    # the generator runs while the JVM starts; the first warm-up waits for
    # it and for the workload's fixture work on the session
    stager = threading.Thread(target=stage, name="generator")
    stager.start()
    with sampler:
        try:
            run.set_up(wl.warm, ready)
            t0 = time.perf_counter()
            wl.measure()
            loop_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.check()
            check_s = time.perf_counter() - t0
            if args.trace:
                layer.update(wl.layers())
                layer.update(wl.generator_layers())
        except Exception:  # report the crash as a failed run, with its traceback
            crashed = traceback.format_exc()
        finally:
            stager.join()
            run.stop()
    if crashed:
        run.op(False, crashed)
    if run.attempted == 0:
        run.op(False, "no operation ran")

    setups = run.setups
    e2e = {"setup_s": (statistics.median(s["total_s"] for s in setups), "s")} if setups else {}
    e2e.update(run.e2e)
    if args.trace and not crashed:
        layer.update(workloads.stage_layers(
            os.path.join(work, "eventlog"),
            getattr(wl, "stage_group", None), getattr(wl, "stage_ops", 0)))
        layer.update({
            "session.start_s": (statistics.median(s["session_s"] for s in setups), "s"),
            "session.cold_start_s": (setups[0]["session_s"], "s"),
            "warmup.first_op_s": (statistics.median(s["warm_s"] for s in setups), "s"),
            "generator.stage_s": (staging["s"], "s"),
            "proc.peak_rss_mb": (sampler.peak_kb / 1024, "MB"),
            "trace.overhead_pct": (100 * tracer.overhead_s / loop_s, "%"),
        })
    layer["run.error_rate"] = (run.failed / max(run.attempted, 1), "ratio")
    layer["run.nproc"] = (nproc, "count")
    layer["run.load_avg_pre"] = (load_pre, "count")

    correct = run.failed == 0
    if args.trace:
        units = PER_LAYER_UNITS
        chosen = {k: layer.get(k, (0.0, u)) for k, u in units.items()}
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
        with open(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.metrics.json"),
                  "w") as fh:
            json.dump({"setups": setups, "e2e_traced": e2e, "layers": chosen}, fh, indent=1)
    else:
        chosen = {k: e2e.get(k, (0.0, u)) for k, u in E2E_UNITS.items()}
    for p in run.problems[:20]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    if not crashed:
        print(f"perfbench: generator {staging['s']:.1f}s, set-ups "
              f"{[round(s['total_s'], 2) for s in setups]}s, loop {loop_s:.1f}s, "
              f"check {check_s:.1f}s, wall {time.perf_counter() - started:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
