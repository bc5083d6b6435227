"""Concurrency hardening: multiple writers against one table, dotted route
fields, and topic-based routing."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.routing import RouteSpec, RoutingConfig, plan_routes
from iceberg_kafka_connect_spark.sinks import Catalog

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def test_concurrent_appends_all_land(spark, tmp_path):
    """Two writers racing on one table: optimistic version-file commits
    serialize them; every snapshot lands exactly once."""
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("default.race", SCHEMA)
    errors = []

    def writer(worker: int):
        try:
            for i in range(4):
                df = spark.createDataFrame([(worker * 100 + i, f"w{worker}")], SCHEMA)
                t.append(df, snapshot_props={"writer": str(worker)})
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert len(t.snapshots()) == 8
    assert t.read(spark).count() == 8
    # linear history: every snapshot's parent chain reaches the root
    ids = {s["snapshot_id"] for s in t.snapshots()}
    head = t.current_snapshot()
    seen = 0
    sid = head["snapshot_id"]
    meta = t.metadata()
    while sid is not None:
        seen += 1
        sid = next(s for s in meta["snapshots"] if s["snapshot_id"] == sid)["parent"]
    assert seen == 8 and len(ids) == 8


def test_dotted_route_field(spark):
    """Route on a nested struct field (Utilities.java:123-155 dotted paths)."""
    df = spark.createDataFrame(
        [((1, "events_a"),), ((2, "events_b"),), ((3, "other"),)],
        "rec struct<id: long, target: string>",
    )
    cfg = RoutingConfig(
        tables=[
            RouteSpec("ta", "events_a"),
            RouteSpec("tb", "events_b"),
        ],
        route_field="rec.target",
    )
    routed = plan_routes(df, cfg)
    assert [r.rec.id for r in routed["ta"].collect()] == [1]
    assert [r.rec.id for r in routed["tb"].collect()] == [2]


def test_topic_based_routing(spark):
    """The kafka `topic` column works as a route field directly — per-topic
    table fan-out without any transform."""
    df = spark.createDataFrame(
        [("orders", 1), ("shipments", 2), ("orders", 3)], "topic string, id long"
    )
    cfg = RoutingConfig(
        tables=[RouteSpec("t_orders", "orders"), RouteSpec("t_ship", "shipments")],
        route_field="topic",
    )
    routed = plan_routes(df, cfg)
    assert sorted(r.id for r in routed["t_orders"].collect()) == [1, 3]
    assert [r.id for r in routed["t_ship"].collect()] == [2]


def test_concurrent_append_during_rewrite_detected(spark, tmp_path):
    """A REPLACE commit (compaction) planned against a stale head must fail
    with CommitConflict instead of silently erasing a concurrent append's
    files — Iceberg RewriteFiles validation semantics."""
    from iceberg_kafka_connect_spark.sinks.table import (
        CommitConflict,
        LakehouseTable,
    )

    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("default.rw", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t.append(spark.createDataFrame([(2, "b")], SCHEMA))

    other = LakehouseTable(t.root)  # concurrent writer handle
    orig = t._write_files
    raced = {"done": False}

    def hooked(df, subdir):
        # sneak a concurrent append in between the rewrite's read and commit
        if not raced["done"]:
            raced["done"] = True
            other.append(spark.createDataFrame([(99, "z")], SCHEMA))
        return orig(df, subdir)

    t._write_files = hooked
    with pytest.raises(CommitConflict, match="moved"):
        t.compact(spark)
    t._write_files = orig
    # nothing lost: all three rows (incl. the concurrent one) survive
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 99]
    # and a re-planned compaction now succeeds
    t.compact(spark)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 99]
