"""Contract tests over the five pointer catalogs (jdbc on sqlite, and
dynamodb / glue / hive / nessie against their in-process services): the
shared PointerCatalog protocol under races each leg's primitives decide."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks.dynamodb_catalog import DynamoDbCatalog
from iceberg_kafka_connect_spark.sinks.dynamodb_server import DynamoDbServer
from iceberg_kafka_connect_spark.sinks.glue_catalog import GlueCatalog
from iceberg_kafka_connect_spark.sinks.glue_server import GlueServer
from iceberg_kafka_connect_spark.sinks.hive_catalog import HiveCatalog
from iceberg_kafka_connect_spark.sinks.hive_server import HiveMetastoreServer
from iceberg_kafka_connect_spark.sinks.jdbc_catalog import JdbcCatalog
from iceberg_kafka_connect_spark.sinks.nessie_catalog import NessieCatalog
from iceberg_kafka_connect_spark.sinks.nessie_server import NessieServer
from iceberg_kafka_connect_spark.sinks.table import CommitConflict

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


@contextlib.contextmanager
def _served(server_cls, catalog_cls):
    with server_cls() as srv:
        yield lambda wh: catalog_cls(srv.uri, warehouse=wh)


@contextlib.contextmanager
def _jdbc(tmp_path):
    yield lambda wh: JdbcCatalog(str(tmp_path / "cat.db"), warehouse=wh)


LEGS = {
    "jdbc": _jdbc,
    "dynamodb": lambda _: _served(DynamoDbServer, DynamoDbCatalog),
    "glue": lambda _: _served(GlueServer, GlueCatalog),
    "hive": lambda _: _served(HiveMetastoreServer, HiveCatalog),
    "nessie": lambda _: _served(NessieServer, NessieCatalog),
}


@pytest.fixture(params=sorted(LEGS))
def make_catalog(request, tmp_path):
    """warehouse → a new client of one shared catalog service."""
    with LEGS[request.param](tmp_path) as make:
        yield make


def test_lost_republish_is_swallowed(
    spark, make_catalog, tmp_path, monkeypatch
):
    """A reads a stale pointer, B republishes first, A's CAS loses: the
    loss is swallowed and A still gets the live table."""
    wh = str(tmp_path / "wh")
    a, b = make_catalog(wh), make_catalog(wh)
    t = a.create_table("db.r", SCHEMA)
    t.append(spark.createDataFrame([(1, "x")], SCHEMA))  # pointer now stale
    read, publish = a._get_pointer, a._publish
    lost = []

    def read_then_race(ns, tn):
        ptr = read(ns, tn)
        b.load_table("db.r")  # B republishes between A's read and A's CAS
        return ptr

    def spy(*args):
        try:
            return publish(*args)
        except CommitConflict:
            lost.append(args[2])
            raise

    monkeypatch.setattr(a, "_get_pointer", read_then_race)
    monkeypatch.setattr(a, "_publish", spy)
    got = a.load_table("db.r")
    assert lost == ["r"]
    assert got.root == t.root
    assert got.read(spark).count() == 1
    monkeypatch.undo()
    _, meta = a.load_table_metadata("db.r")
    assert meta["properties"]["export.source-version"] == str(
        t.current_version()
    )


def test_create_if_not_exists_returns_race_winner(
    make_catalog, tmp_path, monkeypatch
):
    """B creates the table after A's existence checks passed: A's pointer
    insert loses, and A returns B's table instead of overwriting it."""
    a = make_catalog(str(tmp_path / "wh_a"))
    b = make_catalog(str(tmp_path / "wh_b"))
    insert = a._insert_pointer
    winner = []

    def race_then_insert(*args):
        winner.append(b.create_table("db.c", SCHEMA))
        return insert(*args)

    monkeypatch.setattr(a, "_insert_pointer", race_then_insert)
    got = a.create_table_if_not_exists("db.c", SCHEMA)
    monkeypatch.undo()
    root = os.path.realpath(winner[0].root)
    assert root.startswith(str(tmp_path / "wh_b"))
    assert os.path.realpath(got.root) == root
    assert os.path.realpath(a.load_table("db.c").root) == root


def test_file_colon_slash_pointer_loads(tmp_path):
    """Iceberg-Java writes locations as ``file:/abs/...``; a pointer in
    that form opens on a non-JDBC leg too."""
    with DynamoDbServer() as srv:
        cat = DynamoDbCatalog(srv.uri, warehouse=str(tmp_path / "wh"))
        t = cat.create_table("db.f", SCHEMA)
        loc, v = cat._pointer("db", "f")
        short = "file:" + loc[len("file://") :]
        cat._swap_pointer("db", "f", loc, v, short)
        assert cat._pointer("db", "f")[0] == short
        assert cat.load_table("db.f").root == t.root
        assert cat.load_table_metadata("db.f")[0] == short
