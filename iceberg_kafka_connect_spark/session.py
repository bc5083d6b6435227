"""SparkSession factory tuned for this engine.

Defaults are sized for local[$SPARK_GRAFT_CPUS] testing but every knob is
chosen to also be the right *shape* at cluster scale: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast threshold
raised so dimension tables never shuffle, UTC session timezone so timestamp
semantics are deployment-independent, Arrow enabled for the few pandas-UDF
paths.

Runtime session conf is set only in this module. A session is shared by
every query on it (a ``foreachBatch`` sink's with the user's own), so engine
code — commit paths above all — shapes its plans instead of toggling
session state; ``tests/test_session_conf_guard.py`` enforces it.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "iceberg-kafka-connect-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # tz-naive parquet timestamps (timestamp[us], isAdjustedToUTC=false)
        # read as session-tz TIMESTAMP, not TIMESTAMP_NTZ: with the UTC
        # session timezone above this gives deployment-independent instants
        # and keeps epoch functions (unix_micros & co.) applicable
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # carries no parquet min/max statistics, which would blind both
        # row-group pruning and the lakehouse file-bounds scan planning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # runtime bloom-filter pushdown on shuffle joins: the probe side
        # pre-filters rows that can't match, cutting shuffle volume on
        # selective fact-fact joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # wide aggregations (the 128-column MinHash sketch) exceed the
        # default 100-field whole-stage-codegen cutoff and silently fall
        # back to interpreted eval — measured 1.4x slower on the sketch agg
        .config("spark.sql.codegen.maxFields", "256")
        # lakehouse commits are many small file writes; the v1 committer's
        # job-commit pass renames every task directory sequentially on the
        # driver. v2 renames at task commit — atomicity of a table commit
        # comes from the metadata-version swap, never from the output
        # directory, so v1's stricter job-level atomicity buys nothing here
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # _SUCCESS markers are dead weight: readers discover files through
        # table manifests, never by directory listing
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable by PYTHON WORKERS regardless of the
    driver's cwd/sys.path. A driver that runs from outside the repo
    (the verify driver does) can import us via its own sys.path insert,
    but cloudpickle serializes module-level functions BY REFERENCE — so
    any mapInPandas/pandas_udf closure calling into the package needs
    the workers to import it too. addPyFile ships a zip of the package
    once per application; workers add it to their path automatically.
    Local mode included: worker processes there inherit the driver cwd,
    not its sys.path."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return
    if app_id in _SHIPPED_APPS:
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        base = os.path.join(
            tempfile.gettempdir(), f"iks_pkg_{os.getpid()}"
        )
        zip_path = base + ".zip"
        if not os.path.exists(zip_path):
            shutil.make_archive(
                base,
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir=os.path.basename(pkg_dir),
            )
        spark.sparkContext.addPyFile(zip_path)
        _SHIPPED_APPS.add(app_id)
    except Exception:
        # never fail a query over worker-path plumbing; the common
        # repo-cwd runs work without it
        pass


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session
    (the verify driver hands us its own SparkSession)."""
    ship_package(spark)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        spark.conf.set("spark.sql.codegen.maxFields", "256")
        # runtime twin of the committer tuning in get_spark (the verify
        # driver hands us its own session): hadoopConfiguration is the
        # live conf every subsequent write job snapshots
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        hconf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
        hconf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    except Exception:
        pass
    return spark


def read_parquet_nanos_as_long(spark: SparkSession) -> None:
    """Read parquet TIMESTAMP(NANOS) columns as BIGINT nanoseconds (Spark
    refuses the type otherwise); callers convert them to timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


@contextlib.contextmanager
def few_state_partitions(spark: SparkSession, n: int = 8):
    """Bounded-size replay gates don't need 32 state partitions — the
    state store pays per-partition-per-microbatch task overhead, which
    dominates at gate scale. The stream's checkpoint pins the partition
    count at FIRST run, so setting it for the whole gate keeps every
    run consistent; the finally restores the session default even when
    a run times out or errors."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def caller_job_group_target(spark: SparkSession, fn):
    """``fn`` wrapped for a pool thread so the Spark jobs it launches run
    under the calling thread's job group, description and scheduler pool.
    In pinned-thread mode (PySpark's default) each Python thread drives a
    JVM thread of its own that does not inherit those local properties,
    so ``cancelJobGroup`` and the status tracker would miss the jobs.
    Wrap once per task, in the calling thread: each wrap copies the
    properties once, and the thread installs that copy itself, so tasks
    sharing one wrap would share (and overwrite) one set of properties —
    the SQL execution id and job tags each action sets among them."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    # without pinned threads the wrapper is a no-op that hands back its arg
    return fn if wrap is spark else wrap(fn)
