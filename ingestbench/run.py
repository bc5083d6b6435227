#!/usr/bin/env python3
"""Ingest benchmark: one closed-loop workload against the engine.

    python3 ingestbench/run.py --workload cdc_upsert_read --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. One caller drives ``SinkPipeline.process_batch``
as ``foreachBatch`` would: the next batch starts when the previous commit
returns. Readers run between batches. Every batch, read and the final table
state is checked against DuckDB over the generated inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the engine's
layer entry points, alternates traced and untraced batches, and prints the
per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
details (tail latencies with their percentile and sample count, per-op
counts). The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".ingestbench_work")
OUT_DIR = os.path.join(ROOT, ".ingestbench_out")
# JVM heap: Spark's own default. It fits any machine this runs on (the
# session's 24g default oversubscribes a 15 GB one) and holds the workloads'
# working set; on 4 CPUs batch latency measured no worse than with a 4g heap.
# The heap is committed and touched in full at JVM start, so how much of it
# garbage collection happened to touch does not move the JVM's peak resident
# memory from run to run; what does is memory outside the heap
DRIVER_MEMORY = "1g"
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
STORAGE_AFTER = 5  # storage is measured after this many batches
COUNT_OPS = 3  # count metrics average the first traced ops: same seed, same counts
ONE_CORE_BATCHES = 2
WARM_SLICE_DIV = 4  # warm-up batches carry a quarter of a batch's records
CHILD_GRACE_S = 20.0  # how long child processes get to exit on their own
PR_SET_CHILD_SUBREAPER = 36


def log(msg: str) -> None:
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def adopt_orphans() -> None:
    """Become the reaper of every process this one starts, directly or not:
    one whose parent exits first (Spark's Python workers, when the JVM
    stops) becomes a child of this process, so ``end_children`` waits for
    it too."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> set[int]:
    kids: set[int] = set()
    for task in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{task}/children") as f:
                kids.update(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def end_children() -> None:
    """Reap every child process; those still running after the grace
    period get SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + CHILD_GRACE_S
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no child left
        if time.monotonic() > deadline:
            kids = _children()
            log(f"signalling {len(kids)} child processes still running: {sorted(kids)}")
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.05)


class Bench:
    def __init__(self, args, workdir: str):
        from workloads import WORKLOADS

        self.args = args
        self.workdir = workdir
        self.wl = WORKLOADS[args.workload](args.seed, workdir)
        self.trace = bool(args.trace)
        self.tracer = None
        self.spark = None
        self.conv = None
        self.batch_ms: list[float] = []
        self.batch_traced: list[bool] = []
        self.scan_ms: list[float] = []
        self.records = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.fed: list[int] = []  # batch ids whose process_batch returned
        self.scans: list[tuple] = []  # (scan, aggregate row) per read
        self.head_of: dict[str, str] = {}
        self.polled: dict[str, int] = {}
        self.decode_ms: list[float] = []
        self.op_batches: list[tuple] = []  # traced batch op ids
        self.op_scans: list[tuple] = []  # traced scan op ids
        self.jobs: dict[tuple, tuple[int, int, int]] = {}
        self.storage: tuple[int, int] | None = None  # (last batch, bytes)
        self.bytes_per_row = 0.0

    # ------------------------------------------------------------ session
    def start_session(self, cpus: int):
        from iceberg_kafka_connect_spark.session import get_spark

        local = os.path.join(self.workdir, "spark-local")
        os.makedirs(local, exist_ok=True)
        spark = get_spark(
            app_name="ingestbench",
            cpus=cpus,
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM the session launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ---------------------------------------------------------- operations
    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED: {what}")

    def read_slice(self, path: str):
        from workloads import kafka_schema

        return self.spark.read.schema(kafka_schema(self.wl.value_type)).parquet(path)

    def _job_group(self, op) -> None:
        name = f"{op[0]}-{op[1]}"
        self.spark.sparkContext.setJobGroup(name, name)

    def _job_counts(self, op) -> None:
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"{op[0]}-{op[1]}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        self.jobs[op] = (len(jobs), stages, tasks)
        sc.setJobGroup("idle", "idle")

    def run_batch(self, pipe, i: int, timed: bool, traced: bool = False,
                  path: str | None = None) -> float | None:
        path = path or self.wl.gen.ensure(i)
        op = ("b", i)
        if traced and self.conv is not None:
            # sources layer: a decode-only pass of the value converter,
            # forced outside the batch's timed call
            from pyspark.sql import functions as F

            t0 = time.perf_counter()
            self.conv(self.read_slice(path)).agg(F.sum(F.length("value"))).collect()
            self.decode_ms.append((time.perf_counter() - t0) * 1000.0)
        if traced:
            self.tracer.op = op
            self.tracer.active = True
            self._job_group(op)
            root = self.tracer.begin("batch")
        self.attempted += timed
        t0 = time.perf_counter()
        try:
            pipe.process_batch(self.read_slice(path), i)
            ok = True
        except Exception:  # noqa: BLE001 — a failed batch is a counted outcome
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        if traced:
            self.tracer.end(root)
            self.tracer.active = False
            self._job_counts(op)
            self.op_batches.append(op)
        if not timed:
            if not ok:
                raise RuntimeError(f"warm-up batch {i} failed")
            return dt
        if not ok:
            self.fail(f"batch {i} raised")
            return None
        self.fed.append(i)
        self.records += self.wl.batch_records
        self.batch_ms.append(dt * 1000.0)
        self.batch_traced.append(traced)
        return dt

    def run_scan(self, catalog, scan, timed: bool, traced: bool = False) -> bool:
        if self.wl.incremental:
            scan.since = self.polled.get(scan.table, -1)
        op = ("s", len(self.scans))
        if traced:
            self.tracer.op = op
            self.tracer.active = True
            self._job_group(op)
            root = self.tracer.begin("scan")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                plan = self.tracer.begin("sinks.scan_plan")
            table = catalog.load_table(scan.table)
            df = self.wl.reader(self.spark, table, scan, self.head_of)
            if traced:
                self.tracer.end(plan)
                exe = self.tracer.begin("sinks.scan_exec")
            row = tuple(self.wl.spark_agg(df).collect()[0])
            if traced:
                self.tracer.end(exe)
            ok = True
        except Exception:  # noqa: BLE001 — a failed read is a counted outcome
            traceback.print_exc()
            row, ok = None, False
        dt = time.perf_counter() - t0
        if traced:
            self.tracer.end(root)  # also ends a child left open by a failure
            self.tracer.active = False
            self._job_counts(op)
            self.op_scans.append(op)
        if not ok:
            self.fail(f"scan of {scan.table} after batch {scan.upto} raised")
            return False
        self.polled[scan.table] = scan.upto
        self.scans.append((scan, row))
        if timed:
            self.scan_ms.append(dt * 1000.0)
        return True

    # -------------------------------------------------------------- phases
    def warm_up(self) -> None:
        """One pass of the workload's shape on a throwaway warehouse."""
        from iceberg_kafka_connect_spark.sinks import Catalog
        from workloads import Scan

        catalog = Catalog(os.path.join(self.workdir, "warm"))
        self.wl.prepare(catalog)
        pipe = self.wl.pipeline(catalog, self.conv)
        saved = (self.head_of, self.polled, self.scans, self.attempted)
        self.head_of, self.polled, self.scans = {}, {}, []
        # the first batch of a process pays class loading and code generation
        # whatever its size; JIT compilation then needs repetitions more than
        # volume, so the pass runs short slices of the real inputs, keeping
        # one file per Kafka partition so every Python worker starts here
        import pyarrow.parquet as pq

        for i in range(self.wl.warmup_batches):
            src = self.wl.gen.ensure(i)
            path = os.path.join(self.workdir, "warm-inputs", f"b{i:05d}")
            os.makedirs(path)
            for name in sorted(os.listdir(src)):
                part = pq.read_table(os.path.join(src, name))
                rows = max(1, part.num_rows // WARM_SLICE_DIV)
                pq.write_table(part.slice(0, rows), os.path.join(path, name))
            dt = self.run_batch(pipe, i, timed=False, path=path)
            log(f"warm-up batch {i}: {dt * 1000:.0f} ms")
            table = self.wl.tables[i % len(self.wl.tables)]
            if not self.run_scan(catalog, Scan(table, i), timed=False):
                raise RuntimeError("warm-up read failed")
        self.head_of, self.polled, self.scans, self.attempted = saved
        self.failed = 0
        self.failures = []

    def timed_loop(self, catalog, pipe) -> None:
        deadline = time.perf_counter() + self.args.seconds
        i = n_scans = 0
        # a run ends at the deadline, but not before its first timed read
        while time.perf_counter() < deadline or not self.scan_ms:
            if self.run_batch(pipe, i, timed=True, traced=self.trace and i % 2 == 1) is None:
                return
            for scan in self.wl.scans_after(i):
                traced = self.trace and n_scans % 2 == 1
                n_scans += 1
                if not self.run_scan(catalog, scan, timed=True, traced=traced):
                    return
            if i + 1 == STORAGE_AFTER:
                self.measure_storage(catalog, i)
            i += 1
        if self.storage is None and self.fed:
            self.measure_storage(catalog, self.fed[-1])

    def measure_storage(self, catalog, upto: int) -> None:
        from stats import tree_bytes

        roots = [catalog.load_table(t).root for t in self.wl.tables]
        self.storage = (upto, tree_bytes(roots))

    def verify(self, catalog, pipe) -> None:
        """Replay, final reads and oracle checks."""
        import duckdb

        from workloads import PIPELINE_ID

        last = self.fed[-1] if self.fed else -1
        # exactly-once: replaying the last batch id adds no snapshot
        if last >= 0:
            self.attempted += 1
            before = {t: len(catalog.load_table(t).snapshots()) for t in self.wl.tables}
            try:
                pipe.process_batch(self.read_slice(self.wl.gen.ensure(last)), last)
                after = {t: len(catalog.load_table(t).snapshots()) for t in self.wl.tables}
                if after != before:
                    self.fail(f"replay of batch {last} changed snapshots {before} -> {after}")
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                self.fail(f"replay of batch {last} raised")
        for scan in self.wl.final_scans(last):
            if self.polled.get(scan.table, -1) < last:
                self.run_scan(catalog, scan, timed=False)

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        truth = os.path.join(self.workdir, "truth", "b*.parquet")
        con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{truth}')")
        # every read equals DuckDB over the generated truth
        for scan, row in self.scans:
            want = tuple(self.wl.duck_agg(con, scan))
            got = tuple(int(v) if v is not None else None for v in row)
            want = tuple(int(v) if v is not None else None for v in want)
            if got != want:
                self.fail(f"read of {scan.table} up to batch {scan.upto}: {got} != {want}")
        # each committed batch carries its batch id and offsets
        inputs = os.path.join(self.workdir, "inputs", "b*", "p*.parquet")
        expect: dict[int, dict] = {}
        for fname, topic, part, nxt in con.execute(
            f"SELECT filename, topic, \"partition\", max(\"offset\") + 1 "
            f"FROM read_parquet('{inputs}', filename=true) GROUP BY ALL"
        ).fetchall():
            b = int(os.path.basename(os.path.dirname(fname))[1:])
            expect.setdefault(b, {})[f"{topic}-{part}"] = int(nxt)
        by_batch: dict[str, dict[int, list]] = {}
        for t in self.wl.tables:
            snaps = catalog.load_table(t).snapshots()
            mine = by_batch.setdefault(t, {})
            for s in snaps:
                summ = s["summary"]
                if summ.get("pipeline-id") == PIPELINE_ID:
                    mine.setdefault(int(summ["streaming-batch-id"]), []).append(
                        json.loads(summ["kafka.connect.offsets"])
                    )
        for b in self.fed:
            for t in self.wl.tables:
                got = by_batch[t].get(b, [])
                if got != [expect[b]]:
                    self.fail(f"batch {b} on {t}: snapshot offsets {got} != [{expect[b]}]")
        if self.wl.incremental:
            self.final_state(con, catalog, last)
        if self.storage is not None:
            upto, nbytes = self.storage
            live = sum(
                self.wl.records_in_table(con, t.split(".")[-1], upto)
                + self.wl.aged_rows
                for t in self.wl.tables
            )
            self.bytes_per_row = nbytes / max(1, live)
        con.close()

    def final_state(self, con, catalog, last: int) -> None:
        """Append-only tables are also read file by file from their live
        manifests with DuckDB: aged rows plus every routed row, once."""
        for t in self.wl.tables:
            self.attempted += 1
            table = catalog.load_table(t)
            data, deletes = table.live_files()
            paths = [
                p if os.path.isabs(p) else os.path.join(table.root, p)
                for p in (f["path"] for f in data)
            ]
            agg = "count(*), sum(id), sum(v), sum(length(s))"
            got = con.execute(f"SELECT {agg} FROM read_parquet(?)", [paths]).fetchone()
            aged = con.execute(
                f"SELECT {agg} FROM read_parquet(?)",
                [os.path.join(table.root, "aged", "*.parquet")],
            ).fetchone()
            fed = con.execute(
                f"SELECT {agg} FROM truth WHERE batch <= ? AND tbl = ?",
                [last, t.split(".")[-1]],
            ).fetchone()
            want = tuple(int(a or 0) + int(b or 0) for a, b in zip(aged, fed))
            got = tuple(int(v or 0) for v in got)
            if deletes or got != want:
                self.fail(f"final state of {t}: {got} != {want} (delete files {len(deletes)})")

    def one_core_speedup(self) -> float:
        """Records/s over the same first batches on fresh warehouses, at
        local[n] and then at local[1], both untraced."""
        from iceberg_kafka_connect_spark.sinks import Catalog

        def throughput(tag: str) -> float:
            catalog = Catalog(os.path.join(self.workdir, f"speedup-{tag}"))
            self.wl.prepare(catalog)
            pipe = self.wl.pipeline(catalog, self.conv)
            total = sum(self.run_batch(pipe, i, timed=False) for i in range(ONE_CORE_BATCHES))
            return ONE_CORE_BATCHES * self.wl.batch_records / total

        cpus = cpu_count()
        thr_n = throughput(f"{cpus}core")
        self.spark.stop()
        self.start_session(1)
        warm = Catalog(os.path.join(self.workdir, "speedup-warm"))
        self.wl.prepare(warm)
        self.run_batch(self.wl.pipeline(warm, self.conv), 0, timed=False)
        thr_1 = throughput("1core")
        log(f"speedup: {thr_n:.0f} rec/s at local[{cpus}], {thr_1:.0f} rec/s at local[1]")
        return thr_n / thr_1

    # ------------------------------------------------------------- metrics
    def end_to_end(self, setup_s: float, rss: float) -> dict:
        from stats import p50

        ok = self.attempted - self.failed
        return {
            "ingest_records_per_s": (self.records / (sum(self.batch_ms) / 1000.0), "1/s"),
            "batch_p50_ms": (p50(self.batch_ms), "ms"),
            "scan_p50_ms": (p50(self.scan_ms), "ms"),
            "ok_op_ratio": (ok / self.attempted, "ratio"),
            "storage_bytes_per_live_row": (self.bytes_per_row, "bytes"),
            "peak_rss_mb": (rss, "MB"),
            "setup_s": (setup_s, "s"),
        }

    def per_layer(self, catalog, speedup: float) -> dict:
        from stats import p50

        selfs = self.tracer.self_ms()
        by_op: dict[tuple, list[tuple]] = {}
        for k, s in enumerate(self.tracer.spans):
            by_op.setdefault(s.op, []).append((s, selfs[k]))

        def per_op(ops, fn):
            return [fn(by_op.get(op, [])) for op in ops]

        def self_sum(*names):
            return lambda spans: sum(ms for s, ms in spans if s.name in names)

        def dur_sum(name):
            return lambda spans: sum(s.ms for s, _ in spans if s.name == name)

        def count(name):
            return lambda spans: sum(1 for s, _ in spans if s.name == name)

        def attr(name, key):
            return lambda spans: sum(s.attrs.get(key, 0) for s, _ in spans if s.name == name)

        def med(values):
            return p50(values) if values else 0.0

        def first_mean(values):
            head = values[:COUNT_OPS]
            return sum(head) / len(head) if head else 0.0

        b, sc = self.op_batches, self.op_scans
        commits = sum(per_op(b, count("sinks.commit")))
        versions = sum(per_op(b, count("sinks.write_version")))
        traced_ms = [m for m, t in zip(self.batch_ms, self.batch_traced) if t]
        plain_ms = [m for m, t in zip(self.batch_ms, self.batch_traced) if not t]
        version_bytes = []
        snapshots = 0
        for t in self.wl.tables:
            table = catalog.load_table(t)
            version_bytes.append(os.path.getsize(table._version_path(table.current_version())))
            snapshots += len(table.snapshots())
        m = {
            "sources.decode_ms": (med(self.decode_ms), "ms"),
            "streaming.parse_stats_ms": (med(per_op(b, self_sum("streaming.parse_stats"))), "ms"),
            "routing.route_ms": (med(per_op(b, self_sum("routing.route"))), "ms"),
            "streaming.idempotence_ms": (med(per_op(b, self_sum("streaming.idempotence"))), "ms"),
            "sinks.write_files_ms": (med(per_op(b, self_sum("sinks.write_files"))), "ms"),
            "sinks.data_files_per_batch": (first_mean(per_op(b, attr("sinks.commit", "data_files"))), "count"),
            "sinks.delete_files_per_batch": (first_mean(per_op(b, attr("sinks.commit", "delete_files"))), "count"),
            "sinks.bytes_written_per_batch": (first_mean(per_op(b, attr("sinks.commit", "bytes"))), "bytes"),
            "sinks.commit_ms": (med(per_op(b, self_sum("sinks.commit", "sinks.write_version"))), "ms"),
            "sinks.commit_attempts_per_commit": (versions / commits if commits else 0.0, "ratio"),
            "sinks.metadata_loads_per_batch": (first_mean(per_op(b, count("sinks.metadata"))), "count"),
            "sinks.metadata_ms_per_batch": (med(per_op(b, dur_sum("sinks.metadata"))), "ms"),
            "sinks.version_json_bytes": (sum(version_bytes) / len(version_bytes), "bytes"),
            "sinks.snapshots": (float(snapshots), "count"),
            "sinks.scan_plan_ms": (med(per_op(sc, dur_sum("sinks.scan_plan"))), "ms"),
            "sinks.scan_exec_ms": (med(per_op(sc, dur_sum("sinks.scan_exec"))), "ms"),
            "sinks.scan_file_groups": (first_mean(per_op(sc, attr("sinks.read_file_group", "file_groups"))), "count"),
            "sinks.scan_delete_files": (first_mean(per_op(sc, attr("sinks.apply_deletes", "delete_files"))), "count"),
            "sinks.metadata_loads_per_scan": (first_mean(per_op(sc, count("sinks.metadata"))), "count"),
            "spark.jobs_per_batch": (first_mean([self.jobs[o][0] for o in b]), "count"),
            "spark.stages_per_batch": (first_mean([self.jobs[o][1] for o in b]), "count"),
            "spark.tasks_per_batch": (first_mean([self.jobs[o][2] for o in b]), "count"),
            "spark.jobs_per_scan": (first_mean([self.jobs[o][0] for o in sc]), "count"),
            "streaming.unattributed_ms": (med(per_op(b, self_sum("batch"))), "ms"),
            "spark.speedup_vs_1core": (speedup, "ratio"),
            "trace.overhead_ms": (med(traced_ms) - med(plain_ms) if plain_ms else 0.0, "ms"),
        }
        return m


def run(args) -> int:
    from stats import peak_rss_mb, process_age_s, tail

    workdir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark, the JVMs and Python workers keep temporary files in the run dir
    tmp = os.path.join(workdir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    bench = Bench(args, workdir)
    wl = bench.wl
    warehouse = os.path.join(workdir, "wh")
    try:
        wl.start_background(warehouse)
        bench.conv = wl.open_source()
        gen = wl.make_generator()
        # the set-up inputs are written while the JVM boots
        pregen = threading.Thread(target=lambda: [gen.ensure(i) for i in range(wl.pregen)])
        pregen.start()
        try:
            spark = bench.start_session(cpu_count())
        finally:
            pregen.join()
        log(f"session up, inputs generated at {process_age_s():.2f} s")
        bench.warm_up()
        log(f"warm-up done at {process_age_s():.2f} s")
        wl.finish_background()

        from iceberg_kafka_connect_spark.sinks import Catalog

        catalog = Catalog(warehouse)
        wl.prepare(catalog)
        pipe = wl.pipeline(catalog, bench.conv)
        if wl.incremental:
            for t in wl.tables:
                bench.head_of[t] = catalog.load_table(t).current_snapshot()["snapshot_id"]
        if bench.trace:
            from tracing import Tracer, layer_points

            bench.tracer = Tracer()
            bench.tracer.install(layer_points())
        setup_s = process_age_s()
        log(f"set-up {setup_s:.2f} s; timing {args.seconds} s")

        bench.timed_loop(catalog, pipe)
        if bench.tracer is not None:
            bench.tracer.uninstall()
        bench.verify(catalog, pipe)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        rss_parts = {"python": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([jvm_pid])}
        if bench.trace:
            metrics = bench.per_layer(catalog, bench.one_core_speedup())
            os.makedirs(OUT_DIR, exist_ok=True)
            bench.tracer.dump(
                os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed},
            )
        else:
            metrics = bench.end_to_end(setup_s, rss)
    finally:
        wl.stop_background()
        bench.stop_session()
        wl.close_source()
        shutil.rmtree(workdir, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "batch_ms": [round(m, 1) for m in bench.batch_ms],
        "scan_ms": [round(m, 1) for m in bench.scan_ms],
        "seed": args.seed,
        "batches": len(bench.batch_ms),
        "scans": len(bench.scan_ms),
        "records": bench.records,
        "batch_tail_ms": tail(bench.batch_ms),
        "scan_tail_ms": tail(bench.scan_ms),
        "peak_rss_mb": rss_parts,
        "failures": bench.failures,
    }
    print(json.dumps(detail))
    correct = bench.failed == 0 and bench.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_upsert_read", "trickle_aged"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # the engine is imported from the checkout this file sits in
    sys.path[:0] = [HERE, ROOT]
    try:
        import iceberg_kafka_connect_spark  # noqa: F401
    except ImportError as e:
        print(f"ingestbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    adopt_orphans()
    try:
        return run(args)
    finally:
        end_children()


if __name__ == "__main__":
    sys.exit(main())
