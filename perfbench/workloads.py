"""The workloads: ``history_scan`` and ``sink_write``, plus the
``live_tail`` phase of history_scan's traced run.

Each workload is a class with ``stage`` (generator work, untimed and
excluded from set-up), ``prepare`` (fixture work that needs the Spark
session, run once and excluded from set-up), ``warm`` (the one untimed
warm-up operation that closes each set-up), ``measure`` (the timed
loop, ``seconds`` long), ``check`` (correctness, outside the timed
region) and, for the traced run, ``layers`` (per-layer metrics).
``Run`` owns what they share: the Spark session, set-up repetitions,
the op/failure counts and metrics.

End-to-end metrics have one name across workloads, with a meaning per
workload (README.md):

- ``throughput_rows_per_s``: changelog rows per second of full-query
  wall (history_scan), of write wall (sink_write).
- ``latency_p50_ms`` / ``latency_p90_ms``: GTID-resume latency
  (history_scan), latency of one overwrite write job (sink_write).

The live tail (an appender process feeding ``mysql_binlog_tail_stream``
-> ``materialize_latest_state_partitioned``) is not a timed workload:
its batch latency varies too much from run to run for a bound (README
"Sizing runs"). history_scan's traced run tails a live binlog after
its timed loop and reports the tail, micro-batch and store layers and
the visible lag as per-layer metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import gen
import lag
from tracing import stage_metrics

SETUPS = 3
HISTORY_IMAGES = 240_000
HISTORY_FILES = 12
SINK_IMAGES = 80_000
SINK_FILES = 4
RESUME_BACK_TXNS = 300
PREWARM_ITERS = 2
SINK_PREWARM_WRITES = 1
LIVE_IMAGES_PER_S = 160.0
LIVE_TRIGGER_S = 2.0
LIVE_ROTATE_BYTES = 128 << 10
LIVE_KEYS = 4_000
LIVE_RAMP_S = 5.0
STORE_BUCKETS = 8
DRAIN_TIMEOUT_S = 30.0


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (``statistics.quantiles``'
    inclusive method); ``q`` in (0, 100)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(base, n)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


class Run:
    """State shared by a workload's run: paths, the session, counts."""

    def __init__(self, work, seed, seconds, tracer, nproc):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.nproc = nproc
        self.spark = None
        self.cache = gen.FixtureCache(os.path.join(work, "fixtures"))
        self.params = gen.params_for(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.setups: list[dict] = []

    def scratch(self, name: str) -> str:
        """A run-private directory, emptied first (run hygiene)."""
        d = os.path.join(self.work, "run", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def set_up(self, warm, ready=None) -> None:
        """Set up ``SETUPS`` times: stop the previous SparkContext, start
        the session, register the DataSources, run one untimed warm-up
        operation. Only the first start launches the JVM. ``ready`` is
        called once before the first warm-up (the fixture is generated
        while the JVM starts); the time it waits is not set-up."""
        from mysql_cdc_table_spark.session import get_spark
        from mysql_cdc_table_spark.sources.datasource import register

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", cpus=str(self.nproc))
            t1 = time.perf_counter()
            register(self.spark)
            t2 = time.perf_counter()
            if ready is not None:
                ready()
                ready = None
            t3 = time.perf_counter()
            checked_s = warm(self.spark) or 0.0
            t4 = time.perf_counter()
            warm_s = t4 - t3 - checked_s
            self.setups.append({
                "session_s": t1 - t0,
                "register_s": t2 - t1,
                "warm_s": warm_s,
                "total_s": t2 - t0 + warm_s,
            })
            self.spark.sparkContext.setLogLevel("ERROR")

    def job_group(self, name: str) -> None:
        if self.tracer.enabled:
            with self.tracer.charge():
                self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        """Stop the SparkContext, then the JVM pyspark launched (it exits
        when its stdin closes; Spark's Python daemon exits with it), and
        wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class Workload:
    name = ""

    def __init__(self, run: Run):
        self.run = run

    def stage(self) -> None: ...

    def prepare(self, spark) -> None:
        """Fixture work that needs the session; once, not set-up."""

    def warm(self, spark) -> float | None:
        """One untimed operation; returns the seconds of it that were
        result checking (set-up time excludes them)."""

    def measure(self) -> None: ...

    def check(self) -> None: ...

    def layers(self) -> dict[str, tuple[float, str]]:
        return {}

    def generator_layers(self) -> dict[str, tuple[float, str]]:
        return {}


# -- history_scan -----------------------------------------------------------


class HistoryScan(Workload):
    """Closed loop, one client, over a retained rotated series. Full
    queries (parallel read -> latest_state -> noop sink) alternate with
    GTID resumes from a seeded near-tail gno that advances every
    iteration, so the split cache's key never repeats for a resume."""

    name = "history_scan"

    def stage(self) -> None:
        r = self.run
        sizes = {"images": HISTORY_IMAGES, "files": HISTORY_FILES}
        self.dir, self.meta, _ = r.cache.get_or_build(
            self.name, r.seed, sizes,
            lambda d: gen.build_history(d, r.params, HISTORY_IMAGES, HISTORY_FILES),
        )
        self.series = self.meta["series"]
        self.paths = sorted(os.path.join(self.series, n) for n in os.listdir(self.series))
        self.tgt = gen.target()

    def full_query(self, spark, collect: bool = False):
        """parallel read -> latest_state -> noop sink (or, to check it,
        collected as Arrow)."""
        from mysql_cdc_table_spark.cdc.ops import latest_state
        from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read_parallel

        t = self.run.tracer
        with t.span("full_query"):
            with t.span("query.build"):
                df = latest_state(
                    mysql_binlog_read_parallel(spark, self.series, self.tgt, gen.DB, gen.TABLE),
                    gen.KEY_COLS,
                )
            if t.enabled:
                with t.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
            with t.span("query.exec"):
                if collect:
                    return df.toArrow()
                df.write.format("noop").mode("overwrite").save()

    def resume(self, spark, bound: int):
        from mysql_cdc_table_spark.sources.mysql_binlog import (
            mysql_binlog_read_gtid_range,
            prune_binlog_series_by_gtid,
        )

        t = self.run.tracer
        if t.enabled:
            with t.charge(), t.span("listing", files_listed=len(self.paths)) as c:
                kept = prune_binlog_series_by_gtid(self.paths, bound, None)
                c["files_pruned"] = len(self.paths) - len(kept)
            t.count("split_walks", len(kept))
        with t.span("resume"):
            return mysql_binlog_read_gtid_range(
                spark, self.series, self.tgt, gen.DB, gen.TABLE, start_after_gno=bound
            ).toArrow()

    def warm(self, spark) -> float:
        """One full query, collected and checked against the expected
        latest state (the checking is not set-up time)."""
        tbl = self.full_query(spark, collect=True)
        t0 = time.perf_counter()
        got = gen.digest(gen.arrow_rows(tbl))
        self.run.op(got == tuple(self.meta["state"]),
                    f"latest state: got {got}, want {self.meta['state']}")
        return time.perf_counter() - t0

    def measure(self) -> None:
        r = self.run
        spark = r.spark
        rng = random.Random(f"resume-{r.seed}")
        bound = self.meta["last_gno"] - RESUME_BACK_TXNS + rng.randrange(0, 20)
        self.full_walls: list[float] = []
        self.resume_walls: list[float] = []
        self.resumes: list[tuple[int, object]] = []
        cache_dir = os.path.join(os.environ["TMPDIR"], f"binlog_split_cache_{os.getuid()}")
        self.cache_files_before = len(os.listdir(cache_dir)) if os.path.isdir(cache_dir) else 0
        self.cache_dir = cache_dir
        # PREWARM_ITERS untimed iterations first: the workers and the JIT
        # of the context the last set-up started are still warming up
        i = 0
        end = None
        while end is None or time.perf_counter() < end:
            timed = i >= PREWARM_ITERS
            if i == PREWARM_ITERS:
                end = time.perf_counter() + r.seconds
                self.first_span = len(r.tracer.spans) if r.tracer.enabled else 0
            i += 1
            r.job_group("full_query")
            t0 = time.perf_counter()
            try:
                self.full_query(spark)
                if timed:
                    self.full_walls.append(time.perf_counter() - t0)
                r.op(True, "")
            except Exception as e:  # a failed op is counted, the loop goes on
                r.op(False, f"full query: {e!r}"[:300])
            if r.tracer.enabled:
                r.tracer.count("split_walks", len(self.paths))
            r.job_group("resume")
            t0 = time.perf_counter()
            try:
                tbl = self.resume(spark, bound)
                if timed:
                    self.resume_walls.append(time.perf_counter() - t0)
                self.resumes.append((bound, tbl))
            except Exception as e:
                r.op(False, f"resume after {bound}: {e!r}"[:300])
            bound += rng.randrange(1, 6)
        r.e2e["throughput_rows_per_s"] = (
            self.meta["images"] * len(self.full_walls) / sum(self.full_walls)
            if self.full_walls else 0.0, "rows/s")
        ms = [w * 1000 for w in self.resume_walls] or [0.0]
        r.e2e["latency_p50_ms"] = (pct(ms, 50), "ms")
        r.e2e["latency_p90_ms"] = (pct(ms, 90), "ms")

    def check(self) -> None:
        """Every resume returned exactly the images after its bound (the
        full query's result is checked at every warm-up)."""
        r = self.run
        for bound, tbl in self.resumes:
            got = gen.digest(gen.arrow_rows(tbl, with_ops=True))
            want = gen.expected_after(self.meta, bound)
            r.op(got == want, f"resume after {bound}: got {got}, want {want}")
            if r.tracer.enabled:
                ops = tbl.column("__op").to_pylist()
                for code in set(ops):
                    r.tracer.count(f"resume.op{code}", ops.count(code))
        self.resumes.clear()

    def layers(self) -> dict[str, tuple[float, str]]:
        from mysql_cdc_table_spark.cdc.ops import latest_state
        from mysql_cdc_table_spark.sources.mysql_binlog import (
            mysql_binlog_read_parallel,
            scan_binlog_splits_file,
        )

        r = self.run
        t = r.tracer
        out: dict[str, tuple[float, str]] = {}
        med = lambda name: statistics.median(t.durations(name, self.first_span) or [0.0])  # noqa: E731
        listing = [s for s in t.spans if s["name"] == "listing"]
        out["listing.s"] = (med("listing"), "s")
        out["listing.files_listed"] = (
            statistics.median([s["counts"]["files_listed"] for s in listing] or [0]), "count")
        out["listing.files_pruned"] = (
            statistics.median([s["counts"]["files_pruned"] for s in listing] or [0]), "count")
        misses = len(os.listdir(self.cache_dir)) - self.cache_files_before
        out["split_cache.misses"] = (misses, "count")
        out["split_cache.hits"] = (t.counts.get("split_walks", 0) - misses, "count")
        # header walk: single core, driver side, every file of the series
        t0 = time.perf_counter()
        splits = sum(len(scan_binlog_splits_file(p)) for p in self.paths)
        walk_s = time.perf_counter() - t0
        out["header_walk.MBps"] = (self.meta["bytes"] / 1e6 / walk_s, "MB/s")
        out["header_walk.splits"] = (splits, "count")
        out.update(kernel_layers(self.paths, self.tgt))
        out["query.build_s"] = (med("query.build"), "s")
        out["query.plan_s"] = (med("query.plan"), "s")
        out["query.exec_s"] = (med("query.exec"), "s")
        # latest_state alone, over a persisted decode of the same series
        decoded = mysql_binlog_read_parallel(
            r.spark, self.series, self.tgt, gen.DB, gen.TABLE).persist()
        decoded.count()
        t0 = time.perf_counter()
        latest_state(decoded, gen.KEY_COLS).write.format("noop").mode("overwrite").save()
        out["latest_state.s"] = (time.perf_counter() - t0, "s")
        decoded.unpersist()
        self.stage_group = "full_query"
        self.stage_ops = PREWARM_ITERS + len(self.full_walls)  # every query in the group
        out.update(LiveTail(r).run_phase())
        return out

    def generator_layers(self) -> dict[str, tuple[float, str]]:
        ops = len(self.full_walls) + len(self.resume_walls)
        return {"generator.offered_txn_per_s": (ops / self.run.seconds, "1/s")}


# -- sink_write ---------------------------------------------------------------


class SinkWrite(Workload):
    """Closed loop, one client: the generated changelog, staged as
    parquet repartitioned by ``__gtid``, written again and again with
    ``df.write.format("mysql_binlog")`` in overwrite mode (the
    MysqlBinlogWriter job: encoder, Arrow hand-off, commit)."""

    name = "sink_write"

    def stage(self) -> None:
        r = self.run
        sizes = {"images": SINK_IMAGES, "files": SINK_FILES}
        self.dir, self.meta, _ = r.cache.get_or_build(
            self.name, r.seed, sizes,
            lambda d: gen.build_history(d, r.params, SINK_IMAGES, SINK_FILES),
        )
        self.tgt = gen.target()

    def prepare(self, spark) -> None:
        from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read_parallel

        r = self.run
        self.staged = os.path.join(r.scratch("sink/staged"), "changelog")
        self.out = os.path.join(r.scratch("sink/out"), "binlog")
        (
            mysql_binlog_read_parallel(spark, self.meta["series"], self.tgt, gen.DB, gen.TABLE)
            .repartition(r.nproc, "__gtid")
            .write.parquet(self.staged)
        )

    def write(self, spark) -> None:
        with self.run.tracer.span("sink.write"):
            (
                spark.read.parquet(self.staged)
                .write.format("mysql_binlog")
                .option("schema_ddl", gen.SCHEMA_DDL)
                .option("database", gen.DB)
                .option("table", gen.TABLE)
                .mode("overwrite")
                .save(self.out)
            )

    def read_back(self, spark, what: str) -> None:
        """The written files, read back with mysql_binlog_read, must
        reproduce the input changelog's multiset."""
        from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read

        back = mysql_binlog_read(spark, self.out, self.tgt, gen.DB, gen.TABLE).toArrow()
        got = gen.digest(gen.arrow_rows(back, with_ops=True))
        want = gen.expected_after(self.meta, 0)
        self.run.op(got == want, f"{what} read-back: got {got}, want {want}")

    def warm(self, spark) -> float:
        """One write; the first set-up's is read back and checked (the
        check is not set-up)."""
        self.write(spark)
        if self.run.setups:
            return 0.0
        t0 = time.perf_counter()
        self.read_back(spark, "warm-up write")
        return time.perf_counter() - t0

    def measure(self) -> None:
        r = self.run
        self.walls: list[float] = []
        # an untimed first write, as history_scan's untimed iterations
        i = 0
        end = None
        while end is None or time.perf_counter() < end:
            if i == SINK_PREWARM_WRITES:
                end = time.perf_counter() + r.seconds
            timed = i >= SINK_PREWARM_WRITES
            i += 1
            t0 = time.perf_counter()
            try:
                self.write(r.spark)
                if timed:
                    self.walls.append(time.perf_counter() - t0)
                r.op(True, "")
            except Exception as e:  # a failed op is counted, the loop goes on
                r.op(False, f"write: {e!r}"[:300])
        r.e2e["throughput_rows_per_s"] = (
            self.meta["images"] * len(self.walls) / sum(self.walls) if self.walls else 0.0,
            "rows/s")
        ms = [w * 1000 for w in self.walls] or [0.0]
        r.e2e["latency_p50_ms"] = (pct(ms, 50), "ms")
        r.e2e["latency_p90_ms"] = (pct(ms, 90), "ms")

    def check(self) -> None:
        """The loop's last write (the first set-up's write is checked too)."""
        self.read_back(self.run.spark, "last write")

    def layers(self) -> dict[str, tuple[float, str]]:
        """The encoder single core over a quarter of the changelog's
        transactions, and the write job's figures."""
        r = self.run
        _m, txns = gen.history_txns(r.params, SINK_IMAGES)
        part = txns[: len(txns) // 4]
        t0 = time.perf_counter()
        blob = gen.encode(self.tgt, part)
        el = time.perf_counter() - t0
        rows = sum(len(t["images"]) for t in part)
        job_s = statistics.median(self.walls or [0.0])
        files = dir_files(self.out)
        return {
            "encode.rows_per_s": (rows / el, "rows/s"),
            "encode.MBps": (len(blob) / 1e6 / el, "MB/s"),
            "sink.job_s": (job_s, "s"),
            "sink.rows_per_s": (self.meta["images"] / job_s if job_s else 0.0, "rows/s"),
            "sink.bytes_per_row": (sum(files.values()) / self.meta["images"], "bytes"),
            "sink.files": (len(files), "count"),
        }

    def generator_layers(self) -> dict[str, tuple[float, str]]:
        return {"generator.offered_txn_per_s": (len(self.walls) / self.run.seconds, "1/s")}


def kernel_layers(paths: list[str], tgt) -> dict[str, tuple[float, str]]:
    """Single-core, Spark-free decode of the workload's own files."""
    from mysql_cdc_table_spark.sources.mysql_binlog_vec import decode_binlog_record_batches

    nbytes = rows = 0
    el = 0.0
    for p in paths:
        with open(p, "rb") as fh:
            blob = fh.read()
        t0 = time.perf_counter()
        for b in decode_binlog_record_batches(blob, tgt, gen.DB, gen.TABLE):
            rows += b.num_rows
        el += time.perf_counter() - t0
        nbytes += len(blob)
    return {
        "kernel.decode_MBps": (nbytes / 1e6 / el if el else 0.0, "MB/s"),
        "kernel.rows_per_s": (rows / el if el else 0.0, "rows/s"),
    }


# -- live_tail (a phase of history_scan's traced run) ------------------------


class LiveTail:
    """Open loop: a separate appender process writes pre-encoded
    transactions to the active binlog file at a fixed rate, rotating by
    size; the consumer is mysql_binlog_tail_stream ->
    materialize_latest_state_partitioned into a store pre-seeded with
    the snapshot, on a fixed processing-time trigger (a batch's size is
    set by the offered rate, not by how long the previous batch took).
    A transaction is visible when the first progress event whose end
    offset covers its end byte arrives; its lag runs from its due time
    to that moment.

    Run by history_scan's traced run after its timed loop, on the same
    session; everything it measures is a per-layer metric."""

    name = "live_tail"

    def __init__(self, run: Run):
        self.run = run
        self.query = None

    def run_phase(self) -> dict[str, tuple[float, str]]:
        r = self.run
        r.job_group("live_tail")
        self.stage()
        self.start(r.spark)
        try:
            self.measure()
        finally:
            self.release()
        self.check()
        return self.layers()

    def stage(self) -> None:
        r = self.run
        self.window_s = LIVE_RAMP_S + r.seconds
        images = int(LIVE_IMAGES_PER_S * self.window_s)
        sizes = {"images": images, "rotate_bytes": LIVE_ROTATE_BYTES, "keys": LIVE_KEYS}
        self.dir, self.meta, _ = r.cache.get_or_build(
            self.name, r.seed, sizes,
            lambda d: gen.build_live(d, r.params, LIVE_KEYS, images, LIVE_ROTATE_BYTES),
        )
        # a fixed rate of row images: the seed's rows per transaction and
        # op mix set the transaction rate
        self.rate = self.meta["live_txns"] / self.window_s

    def start(self, spark) -> None:
        """Start the consumer on a fresh binlog dir, store and checkpoint,
        and wait until its first micro-batch has merged the snapshot."""
        from pyspark.sql.streaming import StreamingQueryListener

        from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_tail_stream
        from mysql_cdc_table_spark.streaming.cdc_stream import (
            materialize_latest_state_partitioned,
        )

        r = self.run
        self.logs = r.scratch("live/binlog")
        self.store = os.path.join(r.scratch("live/store"), "state")
        ckpt = os.path.join(r.scratch("live/ckpt"), "q")
        snapshot = os.path.join(self.logs, "binlog.000001")
        shutil.copyfile(os.path.join(self.dir, "snapshot.bin"), snapshot)
        events: list[tuple[float, object]] = []
        self.events = events

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append((time.time(), event.progress))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())
        self.query = materialize_latest_state_partitioned(
            mysql_binlog_tail_stream(spark, self.logs, gen.SCHEMA_DDL, gen.DB, gen.TABLE),
            gen.KEY_COLS, self.store, ckpt, n_buckets=STORE_BUCKETS,
        ).trigger(processingTime=f"{LIVE_TRIGGER_S} seconds").start()
        end = (1, os.path.getsize(snapshot))
        while not any(lag.end_offset(p) >= end for _t, p in list(events)):
            if self.query.exception() is not None or not self.query.isActive:
                raise RuntimeError(f"live query failed: {self.query.exception()}")
            time.sleep(0.01)

    def release(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def measure(self) -> None:
        r = self.run
        q = self.query
        events = self.events
        first = len(events)
        self.appended, self.lags, self.live_events, self.rows_in = [], [], [], 0
        self.seen = [0.0]
        log_path = os.path.join(r.work, "run", "live", "appended.json")
        t0 = time.time() + 0.5
        app = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "appender.py"),
             self.dir, self.logs, repr(t0), repr(self.rate), log_path]
        )
        try:
            app.wait(timeout=self.window_s + 60)
        finally:
            if app.poll() is None:
                app.kill()
                app.wait()
        if app.returncode != 0:
            r.op(False, f"appender exited {app.returncode}")
            return
        with open(log_path) as fh:
            self.appended = json.load(fh)
        last = self.appended[-1]
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if any(lag.covers(lag.end_offset(p), last[1], last[2]) for _t, p in list(events)):
                break
            time.sleep(0.05)
        failure = q.exception()
        self.release()
        if failure is not None:
            r.op(False, f"stream failed: {failure}"[:300])
        events = events[first:]
        progress = [(t, *lag.end_offset(p)) for t, p in events]
        self.lags = lag.visible_lags(self.appended, progress)
        # the first LIVE_RAMP_S seconds of transactions meet a consumer
        # whose workers and JIT are still warming up: appended and
        # checked, not measured
        steady = t0 + LIVE_RAMP_S
        self.seen = [x * 1000 for a, x in zip(self.appended, self.lags)
                     if x is not None and a[3] >= steady] or [0.0]
        self.live_events = [p for t, p in events if t >= steady and p.numInputRows > 0]
        self.rows_in = sum(p.numInputRows for _t, p in events)
        for t, p in events:
            r.tracer.event("microbatch", received=t, batch=p.batchId, rows=p.numInputRows,
                           end_offset=lag.end_offset(p), duration_ms=dict(p.durationMs))

    def check(self) -> None:
        """Every appended transaction became visible; the stream read
        exactly the appended images (no gno twice, none lost); the final
        store equals the expected state."""
        r = self.run
        for (gno, *_rest), x in zip(self.appended, self.lags):
            r.op(x is not None, f"gno {gno} never became visible")
        want_rows = self.meta["live_images"]
        r.op(self.rows_in == want_rows, f"stream read {self.rows_in} images, appended {want_rows}")
        got = gen.digest(gen.arrow_rows(r.spark.read.parquet(self.store).toArrow()))
        r.op(got == tuple(self.meta["state"]), f"store: got {got}, want {self.meta['state']}")

    def layers(self) -> dict[str, tuple[float, str]]:
        ev = self.live_events
        dur = lambda k: [p.durationMs.get(k, 0) for p in ev] or [0]  # noqa: E731
        last_due = self.appended[-1][3] if self.appended else 0.0
        vis_t = [d + x for (_g, _s, _e, d, _w), x in zip(self.appended, self.lags) if x is not None]
        files = dir_files(self.store)
        live_rows = self.meta["state"][0]
        late = [(w - d) * 1000 for _g, _s, _e, d, w in self.appended] or [0.0]
        return {
            "tail.latest_offset_ms": (statistics.median(dur("latestOffset")), "ms"),
            "tail.rows_per_batch": (statistics.median([p.numInputRows for p in ev] or [0]), "count"),
            "tail.batches": (len(ev), "count"),
            "tail.backlog_end_txns": (sum(1 for v in vis_t if v > last_due), "count"),
            "microbatch.query_planning_ms": (statistics.median(dur("queryPlanning")), "ms"),
            "microbatch.wal_commit_ms": (statistics.median(dur("walCommit")), "ms"),
            "microbatch.commit_offsets_ms": (statistics.median(dur("commitOffsets")), "ms"),
            "microbatch.trigger_ms": (statistics.median(dur("triggerExecution")), "ms"),
            "store.add_batch_ms_p50": (pct(dur("addBatch"), 50), "ms"),
            "store.add_batch_ms_p90": (pct(dur("addBatch"), 90), "ms"),
            "store.files": (sum(1 for n in files if n.endswith(".parquet")), "count"),
            "store.bytes_per_live_row": (sum(files.values()) / live_rows, "bytes"),
            "tail.visible_lag_p50_ms": (pct(self.seen, 50), "ms"),
            "tail.visible_lag_p90_ms": (pct(self.seen, 90), "ms"),
            "generator.late_ms_p99": (pct(late, 99), "ms"),
        }


WORKLOADS = {w.name: w for w in (HistoryScan, SinkWrite)}


def stage_layers(event_log_dir: str, group: str | None, ops: int) -> dict[str, tuple[float, str]]:
    """Executor metrics per operation of the workload's main job group."""
    if not group or not ops:
        return {}
    m = stage_metrics(event_log_dir, group)
    return {
        "stage.cpu_s": (m["cpu_s"] / ops, "s"),
        "stage.shuffle_write_bytes": (m["shuffle_write_bytes"] / ops, "bytes"),
        "stage.spill_bytes": (m["spill_bytes"] / ops, "bytes"),
    }

