"""A routed micro-batch writes its tables on one pool, each task in the
caller's job group with local properties of its own.

Every test drives ``SinkPipeline.process_batch`` directly with a Kafka-shaped
batch of 4 input partitions (one per Kafka partition, as the Kafka source
gives it), each holding records for every routed table, on the 8-partition
test session.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.config import SinkConfig
from iceberg_kafka_connect_spark.sinks import Catalog
from iceberg_kafka_connect_spark.sinks.table import LakehouseTable
from iceberg_kafka_connect_spark.streaming import SinkPipeline
from iceberg_kafka_connect_spark.streaming.pipeline import (
    BATCH_ID_PROP,
    OFFSETS_PROP,
)

TABLES = [f"default.t{i}" for i in range(4)]
KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)
VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("tbl", T.StringType()),
        T.StructField("k", T.StringType()),
    ]
)
PER_TABLE_PER_PARTITION = 5


def _batch(spark, offset0: int = 0):
    """4 Kafka partitions, each an input partition of its own, each with
    ``PER_TABLE_PER_PARTITION`` records for every table."""
    from datetime import datetime

    rows = []
    n = 0
    for p in range(4):
        for j in range(PER_TABLE_PER_PARTITION * len(TABLES)):
            rec = {
                "id": n,
                "tbl": TABLES[j % len(TABLES)],
                "k": f"k{j // len(TABLES) % 2}",
            }
            rows.append(
                (json.dumps(rec), "events", p, offset0 + j, datetime(2024, 1, 1))
            )
            n += 1
    rdd = spark.sparkContext.parallelize(rows, 4)
    df = spark.createDataFrame(rdd, KAFKA_SCHEMA)
    assert df.rdd.getNumPartitions() == 4
    return df


def _pipeline(tmp_path, **cfg):
    catalog = Catalog(str(tmp_path / "wh"))
    config = SinkConfig(
        dynamic_enabled=True, route_field="tbl", auto_create=True, **cfg
    )
    return catalog, SinkPipeline(catalog, config, "p-pool", VALUE_SCHEMA)


def test_routed_batch_commits_each_table_once_off_the_caller_thread(
    spark, tmp_path, monkeypatch
):
    """Under the default config the 4 routed tables commit on pool
    threads, one snapshot each carrying the batch id and the offsets; a
    replay of the batch commits nothing."""
    catalog, pipe = _pipeline(tmp_path)
    assert pipe.config.commit_threads == 2 * os.cpu_count()
    threads = []
    real = LakehouseTable._commit_snapshot

    def spy(self, *args, **kwargs):
        threads.append(threading.current_thread())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(LakehouseTable, "_commit_snapshot", spy)
    df = _batch(spark)
    pipe.process_batch(df, 7)
    assert len(threads) == 4
    assert threading.main_thread() not in threads
    offsets = {f"events-{p}": 20 for p in range(4)}
    for name in TABLES:
        snaps = catalog.load_table(name).snapshots()
        assert len(snaps) == 1
        assert snaps[0]["summary"][BATCH_ID_PROP] == "7"
        assert json.loads(snaps[0]["summary"][OFFSETS_PROP]) == offsets
    pipe.process_batch(df, 7)
    assert len(threads) == 4
    assert [len(catalog.load_table(n).snapshots()) for n in TABLES] == [1] * 4


def test_failed_table_leaves_others_committed_and_replay_fills_it(
    spark, tmp_path, monkeypatch
):
    """One table's write raising fails the batch, but the other tables'
    writes still commit; the replay commits only the missing table."""
    catalog, pipe = _pipeline(tmp_path)
    real = LakehouseTable.append
    failed = []

    def flaky(self, *args, **kwargs):
        if self.root.endswith("t0") and not failed:
            failed.append(self.root)
            raise RuntimeError("injected write failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(LakehouseTable, "append", flaky)
    df = _batch(spark)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_batch(df, 3)
    counts = {n: len(catalog.load_table(n).snapshots()) for n in TABLES}
    assert counts == {"default.t0": 0, **{n: 1 for n in TABLES[1:]}}

    pipe.process_batch(df, 3)
    for name in TABLES:
        t = catalog.load_table(name)
        snaps = t.snapshots()
        assert len(snaps) == 1
        assert snaps[0]["summary"][BATCH_ID_PROP] == "3"
        assert t.read(spark).count() == 4 * PER_TABLE_PER_PARTITION


def _ungrouped_jobs(sc) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(None))


@pytest.fixture()
def job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("pool-group", "pool-group")
    try:
        yield sc
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_pool_jobs_run_in_the_callers_job_group(spark, tmp_path, job_group):
    """The table writes the pipeline pool runs and the concurrent delete
    and data writes of an upsert launch their jobs in the caller's job
    group: the status tracker finds them there and none without one."""
    sc = job_group
    catalog, pipe = _pipeline(tmp_path)
    before = _ungrouped_jobs(sc)
    grouped = set(sc.statusTracker().getJobIdsForGroup("pool-group"))
    pipe.process_batch(_batch(spark), 0)
    after = set(sc.statusTracker().getJobIdsForGroup("pool-group"))
    # stats, routing, and at least one write job per table
    assert len(after - grouped) >= 2 + len(TABLES)
    assert not _ungrouped_jobs(sc) - before

    t = catalog.load_table("default.t0")
    grouped = after
    t.upsert(
        spark.createDataFrame([(0, "x")], "id long, k string"), key_cols=["id"]
    )
    after = set(sc.statusTracker().getJobIdsForGroup("pool-group"))
    assert len(after - grouped) >= 2  # the delete write and the data write
    assert not _ungrouped_jobs(sc) - before


def test_pool_tasks_keep_their_own_local_properties(spark, tmp_path, monkeypatch):
    """Each pooled table write runs on its own copy of the caller's local
    properties: a property one write sets (as each SQL action sets its
    execution id and job tags) is not seen by the writes running beside
    it, nor by the caller."""
    sc = spark.sparkContext
    catalog, pipe = _pipeline(tmp_path, commit_threads=len(TABLES))
    barrier = threading.Barrier(len(TABLES), timeout=60)
    seen = {}
    real = SinkPipeline._write_table

    def write(self, name, df, props):
        sc.setLocalProperty("test.pool.table", name)
        barrier.wait()  # every task has set its value before any reads
        seen[name] = sc.getLocalProperty("test.pool.table")
        return real(self, name, df, props)

    monkeypatch.setattr(SinkPipeline, "_write_table", write)
    pipe.process_batch(_batch(spark), 0)
    assert seen == {n: n for n in TABLES}
    assert sc.getLocalProperty("test.pool.table") is None
    assert [len(catalog.load_table(n).snapshots()) for n in TABLES] == [1] * 4
