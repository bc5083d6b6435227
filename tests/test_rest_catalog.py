"""REST catalog: server + client end-to-end over the public protocol.

Reference parity: ``iceberg.catalog.type=rest`` is the reference's most
common managed deployment (data/Utilities.java:68-121 →
CatalogUtil.buildIcebergCatalog → RESTCatalog). Here both halves run
in-process: ``IcebergRestServer`` fronts a directory warehouse,
``RestCatalog`` speaks HTTP to it, and loadTable responses carry real
Iceberg v2 metadata that ``iceberg_import`` can consume as an independent
client."""

from __future__ import annotations

import socket

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks.catalog import (
    NoSuchTableError,
    TableAlreadyExistsError,
    UnsupportedCatalogError,
    catalog_from_properties,
)
from iceberg_kafka_connect_spark.sinks.iceberg_export import _snapshot_id_int
from iceberg_kafka_connect_spark.sinks.rest_catalog import (
    RestCatalog,
    RestCatalogError,
    RestCommitFailed,
)
from iceberg_kafka_connect_spark.sinks.rest_server import IcebergRestServer

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


@pytest.fixture()
def server(tmp_path):
    srv = IcebergRestServer(str(tmp_path / "warehouse")).start()
    yield srv
    srv.stop()


@pytest.fixture()
def client(server):
    return RestCatalog(server.uri)


def _rows(n, base=0):
    import datetime as dt

    return [
        (base + i, f"n{base + i}", dt.datetime(2024, 1, 1 + (i % 5)))
        for i in range(n)
    ]


# ----------------------------------------------------------------- namespaces
def test_config_and_namespaces(client):
    assert client.config == {"defaults": {}, "overrides": {}}
    client._request("POST", "/v1/namespaces", {"namespace": ["db1"]})
    assert "db1" in client.list_namespaces()
    out = client._request("GET", "/v1/namespaces/db1")
    assert out == {"namespace": ["db1"], "properties": {}}
    # duplicate create is a 409
    with pytest.raises(RestCatalogError) as ei:
        client._request("POST", "/v1/namespaces", {"namespace": ["db1"]})
    assert ei.value.code == 409
    # empty namespace deletes; missing namespace is a 404
    client._request("DELETE", "/v1/namespaces/db1")
    with pytest.raises(RestCatalogError) as ei:
        client._request("GET", "/v1/namespaces/db1")
    assert ei.value.code == 404


# --------------------------------------------------------------- lifecycle
def test_create_load_roundtrip(spark, client):
    t = client.create_table(
        "db.events",
        SCHEMA,
        partition_by=["iceberg_bucket(4, id)", "day(ts)"],
        properties={"owner": "rest-test"},
        identifier_fields=["id"],
    )
    t.append(spark.createDataFrame(_rows(20), SCHEMA))
    loaded = client.load_table("db.events")
    assert loaded.properties().get("owner") == "rest-test"
    assert loaded.identifier_fields() == ["id"]
    got = {r.id for r in loaded.read(spark).collect()}
    assert got == set(range(20))
    # served metadata is spec-shaped with the bucket transform intact
    _, meta = client.load_table_metadata("db.events")
    assert meta["format-version"] == 2
    transforms = {
        f["transform"] for f in meta["partition-specs"][0]["fields"]
    }
    assert "bucket[4]" in transforms and "day" in transforms
    assert client.list_tables() == ["db.events"]


def test_metadata_tracks_table_version(spark, client):
    t = client.create_table("db.t", SCHEMA)
    loc0, meta0 = client.load_table_metadata("db.t")
    assert meta0.get("current-snapshot-id", -1) in (-1, None)
    t.append(spark.createDataFrame(_rows(5), SCHEMA))
    loc1, meta1 = client.load_table_metadata("db.t")
    assert meta1["current-snapshot-id"] != meta0.get("current-snapshot-id")
    # unchanged table -> served metadata is the cached export, not a new one
    loc2, _ = client.load_table_metadata("db.t")
    assert loc2 == loc1 and loc1 != loc0


def test_create_conflicts_and_drop(client):
    client.create_table("db.c", SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        client.create_table("db.c", SCHEMA)
    again = client.create_table_if_not_exists("db.c", SCHEMA)
    assert again.root.endswith("db/c")
    assert client.table_exists("db.c")
    client.drop_table("db.c")
    assert not client.table_exists("db.c")
    with pytest.raises(NoSuchTableError):
        client.drop_table("db.c")
    with pytest.raises(NoSuchTableError):
        client.load_table("db.c")


def test_rename_across_namespaces(spark, client):
    t = client.create_table("db.old", SCHEMA)
    t.append(spark.createDataFrame(_rows(3), SCHEMA))
    moved = client.rename_table("db.old", "db2.new")
    assert moved.read(spark).count() == 3
    assert not client.table_exists("db.old")
    assert client.table_exists("db2.new")
    with pytest.raises(NoSuchTableError):
        client.rename_table("db.old", "db2.other")
    client.create_table("db2.other", SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        client.rename_table("db2.new", "db2.other")


# ------------------------------------------------------------ commit protocol
def test_commit_set_and_remove_properties(spark, server, client):
    client.create_table("db.p", SCHEMA)
    client.set_properties("db.p", {"a": "1", "b": "2"})
    # server-side view agrees (same warehouse)
    props = server.catalog.load_table("db.p").properties()
    assert props["a"] == "1" and props["b"] == "2"
    client.set_properties("db.p", {"a": None, "c": "3"})
    props = server.catalog.load_table("db.p").properties()
    assert "a" not in props and props["c"] == "3"


def test_set_ref_branch_and_tag_with_cas(spark, client):
    t = client.create_table("db.r", SCHEMA)
    t.append(spark.createDataFrame(_rows(5), SCHEMA))
    t.append(spark.createDataFrame(_rows(5, base=100), SCHEMA))
    snaps = t.snapshots()
    old_int = _snapshot_id_int(snaps[0]["snapshot_id"])
    head_int = _snapshot_id_int(snaps[1]["snapshot_id"])
    # tag the old snapshot through the catalog
    client.set_ref("db.r", "v1", old_int, ref_type="tag")
    assert t.tags()["v1"] == snaps[0]["snapshot_id"]
    # branch re-point with a correct CAS passes...
    client.set_ref(
        "db.r", "audit", head_int, expected_snapshot_id=None
    )
    client.set_ref(
        "db.r", "audit", old_int, expected_snapshot_id=head_int
    )
    assert {r.id for r in t.read(spark, branch="audit").collect()} == set(
        range(5)
    )
    # ...and a stale CAS is a clean commit failure, not a lost update
    with pytest.raises(RestCommitFailed):
        client.set_ref(
            "db.r", "audit", head_int, expected_snapshot_id=head_int
        )
    # served metadata exposes both refs in Iceberg form
    _, meta = client.load_table_metadata("db.r")
    assert meta["refs"]["v1"]["type"] == "tag"
    assert meta["refs"]["audit"]["type"] == "branch"
    # remove-snapshot-ref drops tag and branch alike; main is protected
    client._commit(
        "db.r", [{"action": "remove-snapshot-ref", "ref-name": "v1"}]
    )
    client._commit(
        "db.r", [{"action": "remove-snapshot-ref", "ref-name": "audit"}]
    )
    _, meta = client.load_table_metadata("db.r")
    assert set(meta["refs"]) == {"main"}
    with pytest.raises((RestCatalogError, RestCommitFailed)):
        client._commit(
            "db.r",
            [{"action": "remove-snapshot-ref", "ref-name": "main"}],
            retries=1,
        )


def test_unsupported_update_is_explicit(spark, client):
    client.create_table("db.u", SCHEMA)
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.u", [{"action": "add-snapshot", "snapshot": {}}], retries=1
        )
    assert ei.value.code == 400


# ------------------------------------------------------------------- wiring
def test_catalog_from_properties_rest_executable(spark, server):
    cat = catalog_from_properties(
        {
            "iceberg.catalog": "mycat",
            "iceberg.catalog.type": "rest",
            "iceberg.catalog.uri": server.uri,
        }
    )
    assert isinstance(cat, RestCatalog)
    t = cat.create_table_if_not_exists("db.wired", SCHEMA)
    t.append(spark.createDataFrame(_rows(4), SCHEMA))
    assert cat.load_table("db.wired").read(spark).count() == 4


def test_unreachable_rest_uri_stays_unsupported():
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()  # guaranteed-closed port
    with pytest.raises(UnsupportedCatalogError, match="rest"):
        catalog_from_properties(
            {
                "iceberg.catalog.type": "rest",
                "iceberg.catalog.uri": f"http://127.0.0.1:{port}",
            }
        )


def test_bearer_token_auth(tmp_path):
    with IcebergRestServer(
        str(tmp_path / "wh"), token="sekret"
    ) as srv:
        with pytest.raises(RestCatalogError) as ei:
            RestCatalog(srv.uri)  # no token -> 401 on the config handshake
        assert ei.value.code == 401
        cat = RestCatalog(srv.uri, token="sekret")
        assert cat.list_namespaces() == []
        # config-driven token passthrough (iceberg.catalog.token)
        cat2 = catalog_from_properties(
            {
                "iceberg.catalog.type": "rest",
                "iceberg.catalog.uri": srv.uri,
                "iceberg.catalog.token": "sekret",
            }
        )
        assert isinstance(cat2, RestCatalog)


# ------------------------------------------- independent-client conformance
def test_external_client_reads_served_metadata(spark, client, tmp_path):
    """A client that never opens the Lakehouse table — only the REST
    LoadTableResult — reconstructs the same rows via iceberg_import,
    proving the served metadata is self-sufficient spec metadata."""
    from iceberg_kafka_connect_spark.sinks.iceberg_import import (
        import_iceberg_table,
    )

    t = client.create_table("db.x", SCHEMA, partition_by=["day(ts)"])
    t.append(spark.createDataFrame(_rows(12), SCHEMA))
    t.delete_where(spark, "id < 2", ["id"])
    meta_loc, _ = client.load_table_metadata("db.x")
    imported = import_iceberg_table(meta_loc, str(tmp_path / "imported"))
    got = {r.id for r in imported.read(spark).collect()}
    assert got == set(range(2, 12))


# ------------------------------------------------------------- concurrency
def test_racing_cas_commits_serialize(spark, client):
    """Two writers race the same ref with the same expected snapshot:
    exactly one commit lands, the loser gets a clean 409 — the
    optimistic-concurrency contract a 1000-writer cluster relies on."""
    import threading

    t = client.create_table("db.race", SCHEMA)
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    t.append(spark.createDataFrame(_rows(2, base=10), SCHEMA))
    snaps = t.snapshots()
    a, b = (_snapshot_id_int(s["snapshot_id"]) for s in snaps[:2])
    client.set_ref("db.race", "ptr", a, expected_snapshot_id=None)

    results = []

    def mover(target):
        try:
            client.set_ref(
                "db.race", "ptr", target, expected_snapshot_id=a
            )
            results.append("ok")
        except RestCommitFailed:
            results.append("conflict")

    threads = [threading.Thread(target=mover, args=(b,)) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(results) == ["conflict", "ok"]
    _, meta = client.load_table_metadata("db.race")
    assert meta["refs"]["ptr"]["snapshot-id"] == b


def test_racing_creates_one_winner(client):
    """N concurrent create_table_if_not_exists calls on one name all
    return a handle to the SAME table (IcebergWriterFactory.java:69-117
    retry-on-race, over REST)."""
    import threading

    roots = []

    def creator():
        tbl = client.create_table_if_not_exists("db.ctr", SCHEMA)
        roots.append(tbl.root)

    threads = [threading.Thread(target=creator) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(set(roots)) == 1 and len(roots) == 4


def test_cli_serve_rest(tmp_path):
    """`cli serve-rest` binds, prints its uri, and serves a real client."""
    import json as jsonmod
    import subprocess
    import sys
    import time

    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "iceberg_kafka_connect_spark.cli",
            "serve-rest",
            "--warehouse",
            str(tmp_path / "wh"),
            "--port",
            "0",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        line = proc.stdout.readline()
        uri = jsonmod.loads(line)["uri"]
        cat = RestCatalog(uri)
        cat.create_table("db.from_cli", SCHEMA)
        assert cat.table_exists("db.from_cli")
        time.sleep(0)  # (no extra wait needed; calls above are synchronous)
    finally:
        proc.terminate()
        proc.wait(timeout=10)


def test_set_ref_carries_retention_fields(spark, client):
    t = client.create_table("db.ret", SCHEMA)
    t.append(spark.createDataFrame(_rows(4), SCHEMA))
    head = _snapshot_id_int(t.snapshots()[-1]["snapshot_id"])
    client.set_ref(
        "db.ret",
        "nightly",
        head,
        min_snapshots_to_keep=3,
        max_snapshot_age_ms=86_400_000,
    )
    client.set_ref(
        "db.ret", "v1", head, ref_type="tag", max_ref_age_ms=3_600_000
    )
    assert t.ref_retention() == {
        "nightly": {
            "min-snapshots-to-keep": 3,
            "max-snapshot-age-ms": 86_400_000,
        },
        "v1": {"max-ref-age-ms": 3_600_000},
    }
    # served Iceberg metadata exposes them on the ref objects
    _, meta = client.load_table_metadata("db.ret")
    assert meta["refs"]["nightly"]["min-snapshots-to-keep"] == 3
    assert meta["refs"]["v1"]["max-ref-age-ms"] == 3_600_000
    # main cannot age out -> clean 400, not a silent accept
    with pytest.raises((RestCatalogError, RestCommitFailed)):
        client.set_ref(
            "db.ret", "main", head, max_ref_age_ms=10, expected_snapshot_id=head
        )


def test_rest_ddl_schema_and_spec_evolution(spark, client):
    """add-schema / add-spec through the commit endpoint: REST-driven
    column adds and partition-spec evolution."""
    t = client.create_table("db.ddl", SCHEMA)
    t.append(spark.createDataFrame(_rows(4), SCHEMA))
    wider = T.StructType(
        list(SCHEMA.fields) + [T.StructField("score", T.DoubleType(), True)]
    )
    client.update_schema("db.ddl", wider)
    t2 = client.load_table("db.ddl")
    assert "score" in [f.name for f in t2.schema().fields]
    # pre-evolution rows read back with the new column null-filled
    rows = t2.read(spark).collect()
    assert len(rows) == 4 and all(r.score is None for r in rows)
    # a reduced schema is a legitimate UpdateSchema: ids absent from the
    # posted schema drop (Iceberg deleteColumn semantics) — on a separate
    # table so the spec-evolution block below keeps its columns
    reduced = client.create_table("db.ddl_red", wider)
    client.update_schema(
        "db.ddl_red",
        T.StructType([T.StructField("id", T.LongType(), False)]),
    )
    assert [f.name for f in client.load_table("db.ddl_red").schema().fields] == [
        "id"
    ]
    # spec evolution over LIVE data: old files keep their layout and the
    # served metadata represents them under a retired spec id
    # (multi-spec export) — loadTable keeps working, no compact needed
    client.update_spec("db.ddl", ["iceberg_bucket(4, id)"])
    t3 = client.load_table("db.ddl")
    assert [p.transform for p in t3.partition_spec()] == ["iceberg_bucket"]
    import datetime as dt

    t3.append(
        spark.createDataFrame(
            [(100, "n", dt.datetime(2024, 2, 1), 0.5)], wider
        )
    )
    assert t3.read(spark).count() == 5
    # served metadata's default spec carries the bucket transform
    _, meta = client.load_table_metadata("db.ddl")
    by_id = {s["spec-id"]: s for s in meta["partition-specs"]}
    spec = by_id[meta["default-spec-id"]]
    assert any(f["transform"] == "bucket[4]" for f in spec["fields"])


def test_rest_rename_and_drop_column(spark, client):
    """Rename and drop land through add-schema diffs keyed by field id —
    the full UpdateSchema surface over the wire."""
    t = client.create_table("db.cols", SCHEMA)
    t.append(spark.createDataFrame(_rows(4), SCHEMA))
    client.rename_column("db.cols", "name", "label")
    t2 = client.load_table("db.cols")
    assert [f.name for f in t2.schema().fields] == ["id", "label", "ts"]
    # pre-rename files resolve through the name mapping
    assert {r.label for r in t2.read(spark).collect()} == {
        f"n{i}" for i in range(4)
    }
    client.drop_column("db.cols", "ts")
    t3 = client.load_table("db.cols")
    assert [f.name for f in t3.schema().fields] == ["id", "label"]
    assert t3.read(spark).count() == 4
    # guards surface as clean errors: identifier/partition-source columns
    guarded = client.create_table(
        "db.cols2", SCHEMA, partition_by=["iceberg_bucket(4, id)"]
    )
    with pytest.raises((RestCatalogError, RestCommitFailed)):
        client.drop_column("db.cols2", "id")
    with pytest.raises(ValueError):
        client.rename_column("db.cols", "nope", "x")


def test_namespace_properties_endpoint(client):
    """POST /v1/namespaces/{ns}/properties: updates + removals with the
    spec's updated/removed/missing response and the both-lists 422."""
    client._request(
        "POST",
        "/v1/namespaces",
        {"namespace": ["nsp"], "properties": {"a": "1", "b": "2"}},
    )
    out = client._request(
        "POST",
        "/v1/namespaces/nsp/properties",
        {"updates": {"c": "3", "b": "20"}, "removals": ["a", "ghost"]},
    )
    assert out == {
        "updated": ["b", "c"],
        "removed": ["a"],
        "missing": ["ghost"],
    }
    got = client._request("GET", "/v1/namespaces/nsp")["properties"]
    assert got == {"b": "20", "c": "3"}
    with pytest.raises(RestCatalogError) as ei:
        client._request(
            "POST",
            "/v1/namespaces/nsp/properties",
            {"updates": {"x": "1"}, "removals": ["x"]},
        )
    assert ei.value.code == 422
    with pytest.raises(RestCatalogError) as ei:
        client._request(
            "POST", "/v1/namespaces/nope/properties", {"updates": {}}
        )
    assert ei.value.code == 404


# ----------------------------------------------------- protocol write side
def _external_write_snapshot(meta, new_sid, n_rows=3, base=1000):
    """Act as an INDEPENDENT spec-conformant Iceberg writer: write a
    parquet data file + an Avro manifest + a manifest list under the
    table location served by loadTable, and return the snapshot JSON to
    post as an ``add-snapshot`` update (public REST spec
    AddSnapshotUpdate). Uses only the served metadata — no engine
    internals beyond the repo's Avro OCF codec to author the files."""
    import datetime as dt
    import os
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _manifest_entry_schema,
        _manifest_list_schema,
        _write_ocf,
    )

    root = meta["location"].removeprefix("file://")
    seq = meta.get("last-sequence-number", 0) + 1
    parent = meta.get("current-snapshot-id")
    parent = None if parent in (None, -1) else parent

    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    dpath = os.path.join(data_dir, f"ext-{_uuid.uuid4().hex}.parquet")
    tbl = pa.table(
        {
            "id": pa.array(
                [base + i for i in range(n_rows)], type=pa.int64()
            ),
            "name": pa.array([f"ext{base + i}" for i in range(n_rows)]),
            "ts": pa.array(
                [dt.datetime(2025, 1, 1 + i) for i in range(n_rows)],
                type=pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, dpath)

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    mpath = os.path.join(meta_dir, f"ext-m-{_uuid.uuid4().hex}.avro")
    entry = {
        "status": 1,
        "snapshot_id": new_sid,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 0,
            "file_path": "file://" + dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n_rows,
            "file_size_in_bytes": os.path.getsize(dpath),
            "equality_ids": None,
            "value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "sort_order_id": None,
        },
    }
    _write_ocf(mpath, _manifest_entry_schema(), [entry], {})

    # a snapshot's manifest list is the COMPLETE live set: carry over the
    # parent snapshot's manifests (reusing their files, as real writers
    # do) and append the new one
    carried = []
    if parent is not None:
        from iceberg_kafka_connect_spark.sinks.iceberg_export import (
            _read_ocf,
        )

        parent_snap = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == parent
        )
        _, _, carried = _read_ocf(
            parent_snap["manifest-list"].removeprefix("file://")
        )
    mlpath = os.path.join(
        meta_dir, f"snap-{new_sid}-1-{_uuid.uuid4().hex}.avro"
    )
    _write_ocf(
        mlpath,
        _manifest_list_schema(),
        carried
        + [
            {
                "manifest_path": "file://" + mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": new_sid,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        {},
    )
    snap = {
        "snapshot-id": new_sid,
        "sequence-number": seq,
        "timestamp-ms": int(_time.time() * 1000),
        "manifest-list": "file://" + mlpath,
        "summary": {"operation": "append"},
        "schema-id": 0,
    }
    if parent is not None:
        snap["parent-snapshot-id"] = parent
    return snap


def test_external_writer_commits_snapshot(spark, server, client):
    """An external spec-conformant writer commits data THROUGH the
    catalog: add-snapshot + set-snapshot-ref in one atomic commit. The
    engine's next read sees the rows, and the snapshot keeps the id the
    writer assigned."""
    t = client.create_table("db.w", SCHEMA)
    t.append(spark.createDataFrame(_rows(5), SCHEMA))
    _, meta = client.load_table_metadata("db.w")
    head = meta["current-snapshot-id"]
    new_sid = 9_900_000_001
    snap = _external_write_snapshot(meta, new_sid)
    client._commit(
        "db.w",
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_sid,
            },
        ],
        requirements=[
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": head,
            }
        ],
        retries=1,
    )
    # the engine reads the externally-committed rows
    got = {r.id for r in server.catalog.load_table("db.w").read(spark).collect()}
    assert got == set(range(5)) | {1000, 1001, 1002}
    # served metadata shows the writer's OWN snapshot id as head, with the
    # parent link intact
    _, meta2 = client.load_table_metadata("db.w")
    assert meta2["current-snapshot-id"] == new_sid
    cur = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == new_sid
    )
    assert cur["parent-snapshot-id"] == head
    assert meta2["last-sequence-number"] >= snap["sequence-number"]
    # a racer replaying the SAME requirement loses with a clean 409
    snap2 = _external_write_snapshot(meta, 9_900_000_002, base=2000)
    with pytest.raises(RestCommitFailed):
        client._commit(
            "db.w",
            updates=[
                {"action": "add-snapshot", "snapshot": snap2},
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "main",
                    "type": "branch",
                    "snapshot-id": 9_900_000_002,
                },
            ],
            requirements=[
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": "main",
                    "snapshot-id": head,
                }
            ],
            retries=1,
        )
    # ...and the losing snapshot did NOT land
    assert {
        r.id for r in server.catalog.load_table("db.w").read(spark).collect()
    } == set(range(5)) | {1000, 1001, 1002}


@pytest.mark.parametrize("live", ["carried", "none"])
def test_external_writer_commits_snapshot_adding_no_files(
    spark, server, client, live
):
    """An add-snapshot onto the existing main head that adds no file
    commits with a 200 and one new version: an empty append whose
    manifest list only carries the parent's manifests, and a snapshot
    whose manifest list has no live file at all."""
    import os
    import time as _time
    import uuid as _uuid

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _manifest_list_schema,
        _read_ocf,
        _write_ocf,
    )

    t = client.create_table("db.e", SCHEMA)
    t.append(spark.createDataFrame(_rows(5), SCHEMA))
    _, meta = client.load_table_metadata("db.e")
    head = meta["current-snapshot-id"]
    carried = []
    if live == "carried":
        parent_snap = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == head
        )
        _, _, carried = _read_ocf(
            parent_snap["manifest-list"].removeprefix("file://")
        )
    meta_dir = os.path.join(meta["location"].removeprefix("file://"), "metadata")
    new_sid = 9_900_000_101
    mlpath = os.path.join(
        meta_dir, f"snap-{new_sid}-1-{_uuid.uuid4().hex}.avro"
    )
    _write_ocf(mlpath, _manifest_list_schema(), carried, {})
    snap = {
        "snapshot-id": new_sid,
        "parent-snapshot-id": head,
        "sequence-number": meta.get("last-sequence-number", 0) + 1,
        "timestamp-ms": int(_time.time() * 1000),
        "manifest-list": "file://" + mlpath,
        "summary": {"operation": "append" if live == "carried" else "delete"},
        "schema-id": 0,
    }
    version = server.catalog.load_table("db.e").metadata()["version"]
    client._commit(
        "db.e",
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_sid,
            },
        ],
        requirements=[
            {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": head}
        ],
        retries=1,
    )
    table = server.catalog.load_table("db.e")
    assert table.metadata()["version"] == version + 1
    _, meta2 = client.load_table_metadata("db.e")
    assert meta2["current-snapshot-id"] == new_sid
    got = {r.id for r in table.read(spark).collect()}
    assert got == (set(range(5)) if live == "carried" else set())


def test_external_writer_stages_then_publishes(spark, server, client):
    """add-snapshot WITHOUT a ref update stages the snapshot (WAP shape);
    a later commit's set-snapshot-ref publishes it and retires the hidden
    staging ref."""
    t = client.create_table("db.wap", SCHEMA)
    t.append(spark.createDataFrame(_rows(4), SCHEMA))
    _, meta = client.load_table_metadata("db.wap")
    head = meta["current-snapshot-id"]
    new_sid = 9_900_000_003
    snap = _external_write_snapshot(meta, new_sid)
    client._commit(
        "db.wap",
        updates=[{"action": "add-snapshot", "snapshot": snap}],
        retries=1,
    )
    _, meta2 = client.load_table_metadata("db.wap")
    # main unmoved; the snapshot exists under its assigned id — with NO
    # ref: the spec's unreferenced add-snapshot just appends to the
    # snapshots list, and the server's rest-staged-* branch is an
    # implementation detail that must stay invisible to clients (r5
    # advice — a leaked staging ref polluted loadTable refs,
    # snapshots=refs trimming, and remove-snapshots reachability)
    assert meta2["current-snapshot-id"] == head
    assert any(
        s["snapshot-id"] == new_sid for s in meta2["snapshots"]
    )
    assert not any(
        r.startswith("rest-staged-") for r in meta2["refs"]
    )
    # publish
    client._commit(
        "db.wap",
        updates=[
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_sid,
            }
        ],
        retries=1,
    )
    _, meta3 = client.load_table_metadata("db.wap")
    assert meta3["current-snapshot-id"] == new_sid
    assert f"rest-staged-{new_sid}" not in meta3["refs"]
    got = {
        r.id for r in server.catalog.load_table("db.wap").read(spark).collect()
    }
    assert got == set(range(4)) | {1000, 1001, 1002}


def test_commit_is_atomic_on_late_failure(spark, server, client):
    """A commit whose SECOND update is invalid applies nothing (the
    protocol's atomic-commit contract): previously set-properties landed
    one-at-a-time before the failing update was even looked at."""
    client.create_table("db.atomic", SCHEMA)
    with pytest.raises((RestCatalogError, RestCommitFailed)):
        client._commit(
            "db.atomic",
            updates=[
                {"action": "set-properties", "updates": {"leak": "yes"}},
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "main",
                    "type": "branch",
                    "snapshot-id": 123456789,
                },
            ],
            retries=1,
        )
    props = server.catalog.load_table("db.atomic").properties()
    assert "leak" not in props


def test_add_schema_rejects_idless_fields(spark, server, client):
    """Iceberg schema JSON requires an id on every field: a field missing
    its id is a 400, NOT a silent drop-and-re-add of the same-named
    column (which would destroy column identity)."""
    t = client.create_table("db.ids", SCHEMA)
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    _, meta = client.load_table_metadata("db.ids")
    fields = [dict(f) for f in meta["schemas"][-1]["fields"]]
    fields[1].pop("id")  # same names, one id missing
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.ids",
            updates=[
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                }
            ],
            retries=1,
        )
    assert ei.value.code == 400
    # schema unchanged
    assert [f.name for f in server.catalog.load_table("db.ids").schema()] == [
        "id",
        "name",
        "ts",
    ]


def test_remove_snapshots_orphan_only(spark, server, client):
    """remove-snapshots retires an orphaned (staged, never published)
    snapshot; anything referenced by a ref — directly or via ancestry —
    is a 400 pointing at expireSnapshots."""
    t = client.create_table("db.rm", SCHEMA)
    t.append(spark.createDataFrame(_rows(3), SCHEMA))
    _, meta = client.load_table_metadata("db.rm")
    head = meta["current-snapshot-id"]
    # referenced head: refused
    with pytest.raises((RestCatalogError, RestCommitFailed)) as ei:
        client._commit(
            "db.rm",
            updates=[
                {"action": "remove-snapshots", "snapshot-ids": [head]}
            ],
            retries=1,
        )
    # stage a snapshot, drop its staging ref, then remove it
    new_sid = 9_900_000_004
    snap = _external_write_snapshot(meta, new_sid)
    client._commit(
        "db.rm",
        updates=[{"action": "add-snapshot", "snapshot": snap}],
        retries=1,
    )
    client._commit(
        "db.rm",
        updates=[
            {
                "action": "remove-snapshot-ref",
                "ref-name": f"rest-staged-{new_sid}",
            },
            {"action": "remove-snapshots", "snapshot-ids": [new_sid]},
        ],
        retries=1,
    )
    _, meta2 = client.load_table_metadata("db.rm")
    assert all(s["snapshot-id"] != new_sid for s in meta2["snapshots"])
    assert meta2["current-snapshot-id"] == head


# ------------------------------------------------- multi-table transactions
def test_transaction_commits_across_tables(spark, server, client):
    """POST /v1/transactions/commit: every table's requirements and
    updates validate before ANY applies — the protocol face of the
    multi-table coordinated commit (T8)."""
    client.create_table("db.tx1", SCHEMA)
    client.create_table("db.tx2", SCHEMA)
    client.commit_transaction(
        [
            ("db.tx1", [{"action": "set-properties", "updates": {"a": "1"}}], None),
            ("db.tx2", [{"action": "set-properties", "updates": {"b": "2"}}], None),
        ]
    )
    assert server.catalog.load_table("db.tx1").properties()["a"] == "1"
    assert server.catalog.load_table("db.tx2").properties()["b"] == "2"

    # malformed update on the SECOND table → nothing applies on the first
    with pytest.raises(RestCatalogError) as ei:
        client.commit_transaction(
            [
                ("db.tx1", [{"action": "set-properties", "updates": {"leak": "y"}}], None),
                ("db.tx2", [{"action": "set-snapshot-ref", "ref-name": "main",
                             "type": "branch", "snapshot-id": 424242}], None),
            ]
        )
    assert ei.value.code == 400
    assert "leak" not in server.catalog.load_table("db.tx1").properties()

    # stale CAS on the second table → clean 409, nothing applies
    t1 = server.catalog.load_table("db.tx1")
    t1.append(spark.createDataFrame(_rows(2), SCHEMA))
    head1 = _snapshot_id_int(t1.current_snapshot()["snapshot_id"])
    with pytest.raises(RestCommitFailed):
        client.commit_transaction(
            [
                ("db.tx1", [{"action": "set-properties", "updates": {"leak2": "y"}}], None),
                (
                    "db.tx2",
                    [{"action": "set-properties", "updates": {"c": "3"}}],
                    [{"type": "assert-ref-snapshot-id", "ref": "main",
                      "snapshot-id": head1}],  # tx2's main is empty → stale
                ),
            ]
        )
    assert "leak2" not in server.catalog.load_table("db.tx1").properties()
    # unknown table → 404 before any lock is taken
    with pytest.raises(RestCatalogError) as ei:
        client.commit_transaction(
            [("db.nope", [{"action": "set-properties", "updates": {}}], None)]
        )
    assert ei.value.code == 404


def test_external_writer_commits_equality_delete(spark, server, client):
    """The write side handles DELETE commits too: an external writer posts
    a snapshot whose new manifest is an equality-delete file; the engine's
    merge-on-read applies it (delete at seq N hits data with seq < N)."""
    import os
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _manifest_entry_schema,
        _manifest_list_schema,
        _read_ocf,
        _write_ocf,
    )

    t = client.create_table("db.ed", SCHEMA)
    t.append(spark.createDataFrame(_rows(6), SCHEMA))
    _, meta = client.load_table_metadata("db.ed")
    head = meta["current-snapshot-id"]
    root = meta["location"].removeprefix("file://")
    seq = meta["last-sequence-number"] + 1
    new_sid = 9_900_000_021

    # equality-delete parquet on the id column (field id 1)
    dpath = os.path.join(root, "data", f"eqdel-{_uuid.uuid4().hex}.parquet")
    pq.write_table(pa.table({"id": pa.array([2, 4], pa.int64())}), dpath)
    mpath = os.path.join(root, "metadata", f"ext-d-{_uuid.uuid4().hex}.avro")
    _write_ocf(
        mpath,
        _manifest_entry_schema(),
        [
            {
                "status": 1,
                "snapshot_id": new_sid,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": "file://" + dpath,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "equality_ids": [1],
                    "value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "sort_order_id": None,
                },
            }
        ],
        {},
    )
    parent_snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == head
    )
    _, _, carried = _read_ocf(
        parent_snap["manifest-list"].removeprefix("file://")
    )
    mlpath = os.path.join(
        root, "metadata", f"snap-{new_sid}-1-{_uuid.uuid4().hex}.avro"
    )
    _write_ocf(
        mlpath,
        _manifest_list_schema(),
        carried
        + [
            {
                "manifest_path": "file://" + mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 1,  # deletes manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": new_sid,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 2,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        {},
    )
    client._commit(
        "db.ed",
        updates=[
            {
                "action": "add-snapshot",
                "snapshot": {
                    "snapshot-id": new_sid,
                    "parent-snapshot-id": head,
                    "sequence-number": seq,
                    "timestamp-ms": int(_time.time() * 1000),
                    "manifest-list": "file://" + mlpath,
                    "summary": {"operation": "delete"},
                    "schema-id": 0,
                },
            },
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_sid,
            },
        ],
        requirements=[
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": head}
        ],
        retries=1,
    )
    got = sorted(
        r.id for r in server.catalog.load_table("db.ed").read(spark).collect()
    )
    assert got == [0, 1, 3, 5]


def test_metrics_endpoint_acknowledged(spark, client):
    """reportMetrics is acknowledged (204) so strict clients that push
    scan reports after every read don't error; unknown table is 404."""
    client.create_table("db.m", SCHEMA)
    out = client._request(
        "POST",
        "/v1/namespaces/db/tables/m/metrics",
        {"report-type": "scan-report", "table-name": "db.m", "snapshot-id": 1},
    )
    assert out == {}
    with pytest.raises(RestCatalogError) as ei:
        client._request(
            "POST", "/v1/namespaces/db/tables/nope/metrics", {"x": 1}
        )
    assert ei.value.code == 404


def test_external_writer_commits_position_delete(spark, server, client):
    """Position-delete commits through add-snapshot: the posted delete
    file references the SERVED data-file path (spec file_path + pos);
    the engine re-encodes it internally and merge-on-read drops exactly
    that row."""
    import os
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _manifest_entry_schema,
        _manifest_list_schema,
        _read_ocf,
        _write_ocf,
    )

    t = client.create_table("db.pd", SCHEMA)
    t.append(
        spark.createDataFrame(sorted(_rows(4)), SCHEMA)
        .coalesce(1)
        .sortWithinPartitions("id")
    )
    _, meta = client.load_table_metadata("db.pd")
    head = meta["current-snapshot-id"]
    root = meta["location"].removeprefix("file://")
    seq = meta["last-sequence-number"] + 1
    new_sid = 9_900_000_031

    # find the served data file and the row ordinal of id=1 within it
    parent_snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == head
    )
    _, _, carried = _read_ocf(
        parent_snap["manifest-list"].removeprefix("file://")
    )
    _, _, entries = _read_ocf(
        carried[0]["manifest_path"].removeprefix("file://")
    )
    target = entries[0]["data_file"]["file_path"]
    ordered = pq.read_table(target.removeprefix("file://")).to_pydict()["id"]
    pos = ordered.index(1)

    dpath = os.path.join(root, "data", f"posdel-{_uuid.uuid4().hex}.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([target]),
                "pos": pa.array([pos], pa.int64()),
            }
        ),
        dpath,
    )
    mpath = os.path.join(root, "metadata", f"ext-p-{_uuid.uuid4().hex}.avro")
    _write_ocf(
        mpath,
        _manifest_entry_schema(),
        [
            {
                "status": 1,
                "snapshot_id": new_sid,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": "file://" + dpath,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "equality_ids": None,
                    "value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "sort_order_id": None,
                },
            }
        ],
        {},
    )
    mlpath = os.path.join(
        root, "metadata", f"snap-{new_sid}-1-{_uuid.uuid4().hex}.avro"
    )
    _write_ocf(
        mlpath,
        _manifest_list_schema(),
        carried
        + [
            {
                "manifest_path": "file://" + mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": new_sid,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 1,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        {},
    )
    client._commit(
        "db.pd",
        updates=[
            {
                "action": "add-snapshot",
                "snapshot": {
                    "snapshot-id": new_sid,
                    "parent-snapshot-id": head,
                    "sequence-number": seq,
                    "timestamp-ms": int(_time.time() * 1000),
                    "manifest-list": "file://" + mlpath,
                    "summary": {"operation": "delete"},
                    "schema-id": 0,
                },
            },
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_sid,
            },
        ],
        retries=1,
    )
    got = sorted(
        r.id for r in server.catalog.load_table("db.pd").read(spark).collect()
    )
    assert got == [0, 2, 3]


def test_retention_guards_fire_before_snapshot_lands(spark, server, client):
    """Review fix: a retention guard violation (main + max-ref-age-ms) in
    the SAME body as add-snapshot must reject in the prepare pass — the
    snapshot must NOT land first, and the corrected body must succeed
    afterwards (no 'snapshot id already exists' wedge)."""
    t = client.create_table("db.rg", SCHEMA)
    t.append(spark.createDataFrame(_rows(3), SCHEMA))
    _, meta = client.load_table_metadata("db.rg")
    head = meta["current-snapshot-id"]
    new_sid = 9_900_000_041
    snap = _external_write_snapshot(meta, new_sid)
    bad_ref = {
        "action": "set-snapshot-ref",
        "ref-name": "main",
        "type": "branch",
        "snapshot-id": new_sid,
        "max-ref-age-ms": 1000,  # main never carries max-ref-age-ms
    }
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.rg",
            updates=[{"action": "add-snapshot", "snapshot": snap}, bad_ref],
            retries=1,
        )
    assert ei.value.code == 400
    _, meta2 = client.load_table_metadata("db.rg")
    assert meta2["current-snapshot-id"] == head
    assert all(s["snapshot-id"] != new_sid for s in meta2["snapshots"])
    # corrected body succeeds — the failed commit left nothing behind
    good_ref = {k: v for k, v in bad_ref.items() if k != "max-ref-age-ms"}
    client._commit(
        "db.rg",
        updates=[{"action": "add-snapshot", "snapshot": snap}, good_ref],
        retries=1,
    )
    _, meta3 = client.load_table_metadata("db.rg")
    assert meta3["current-snapshot-id"] == new_sid
    # tag guard: branch-only retention keys on a tag reject in prepare too
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.rg",
            updates=[
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "rel",
                    "type": "tag",
                    "snapshot-id": new_sid,
                    "min-snapshots-to-keep": 2,
                }
            ],
            retries=1,
        )
    assert ei.value.code == 400
    assert "rel" not in client.load_table_metadata("db.rg")[1]["refs"]


def test_add_schema_ddl_guards_fire_in_prepare(spark, server, client):
    """Review fix: dropping an identifier column via add-schema must 400
    with NO partial renames applied (full _guard_column_ddl mirror in the
    prepare pass)."""
    t = client.create_table("db.ig", SCHEMA, identifier_fields=["id"])
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    _, meta = client.load_table_metadata("db.ig")
    fields = [dict(f) for f in meta["schemas"][-1]["fields"]]
    # rename 'name' AND drop the identifier column 'id' in one schema
    fields[1]["name"] = "renamed_name"
    fields = [f for f in fields if f["name"] != "id"]
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.ig",
            updates=[
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                }
            ],
            retries=1,
        )
    assert ei.value.code == 400
    cols = [f.name for f in server.catalog.load_table("db.ig").schema()]
    assert cols == ["id", "name", "ts"]  # the rename did NOT land


def test_tag_publish_of_staged_snapshot_drops_staging_ref(
    spark, server, client
):
    """Review fix: publishing a previously-staged snapshot as a TAG (not
    a branch) retires the hidden rest-staged ref too."""
    t = client.create_table("db.tg", SCHEMA)
    t.append(spark.createDataFrame(_rows(3), SCHEMA))
    _, meta = client.load_table_metadata("db.tg")
    new_sid = 9_900_000_042
    snap = _external_write_snapshot(meta, new_sid)
    client._commit(
        "db.tg",
        updates=[{"action": "add-snapshot", "snapshot": snap}],
        retries=1,
    )
    # the staging branch exists SERVER-side only; clients never see it
    # (r5 advice — exported refs filter)
    assert f"rest-staged-{new_sid}" in server.catalog.load_table(
        "db.tg"
    ).metadata().get("refs", {})
    assert not any(
        r.startswith("rest-staged-")
        for r in client.load_table_metadata("db.tg")[1]["refs"]
    )
    client._commit(
        "db.tg",
        updates=[
            {
                "action": "set-snapshot-ref",
                "ref-name": "audited",
                "type": "tag",
                "snapshot-id": new_sid,
            }
        ],
        retries=1,
    )
    _, meta2 = client.load_table_metadata("db.tg")
    assert f"rest-staged-{new_sid}" not in meta2["refs"]
    # ...and retired server-side by the tag publication
    assert f"rest-staged-{new_sid}" not in server.catalog.load_table(
        "db.tg"
    ).metadata().get("refs", {})
    assert meta2["refs"]["audited"]["type"] == "tag"
    # and the snapshot can now be removed after dropping the tag
    client._commit(
        "db.tg",
        updates=[
            {"action": "remove-snapshot-ref", "ref-name": "audited"},
            {"action": "remove-snapshots", "snapshot-ids": [new_sid]},
        ],
        retries=1,
    )
    assert all(
        s["snapshot-id"] != new_sid
        for s in client.load_table_metadata("db.tg")[1]["snapshots"]
    )


def test_snapshots_refs_mode_and_pagination(spark, client):
    """Spec conformance: loadTable?snapshots=refs trims history to
    ref-reachable snapshots; list endpoints honor pageSize/pageToken with
    an opaque next-page-token."""
    t = client.create_table("db.sp", SCHEMA)
    for i in range(3):
        t.append(spark.createDataFrame(_rows(2, base=10 * i), SCHEMA))
    all_meta = client._request("GET", "/v1/namespaces/db/tables/sp")[
        "metadata"
    ]
    refs_meta = client._request(
        "GET", "/v1/namespaces/db/tables/sp?snapshots=refs"
    )["metadata"]
    # this exporter serves ref-reachable history only, so refs-mode is a
    # (correct) subset that here equals the full set; every served
    # snapshot must be reachable from a ref and the head must be present
    served = {s["snapshot-id"] for s in all_meta["snapshots"]}
    reachable = {s["snapshot-id"] for s in refs_meta["snapshots"]}
    assert reachable <= served
    assert refs_meta["refs"]["main"]["snapshot-id"] in reachable
    by_id = {s["snapshot-id"]: s for s in refs_meta["snapshots"]}
    for s in refs_meta["snapshots"]:
        p_ = s.get("parent-snapshot-id")
        assert p_ is None or p_ in by_id or p_ not in served

    # pagination over tables
    for n in ("a1", "a2", "a3"):
        client.create_table(f"db.{n}", SCHEMA)
    page1 = client._request(
        "GET", "/v1/namespaces/db/tables?pageSize=2"
    )
    assert len(page1["identifiers"]) == 2
    tok = page1["next-page-token"]
    page2 = client._request(
        "GET", f"/v1/namespaces/db/tables?pageSize=2&pageToken={tok}"
    )
    assert len(page2["identifiers"]) == 2
    names = {
        i["name"] for i in page1["identifiers"] + page2["identifiers"]
    }
    assert names == {"a1", "a2", "a3", "sp"}
    assert "next-page-token" not in page2
    # namespaces listing paginates the same way
    client._request("POST", "/v1/namespaces", {"namespace": ["zb"]})
    p = client._request("GET", "/v1/namespaces?pageSize=1")
    assert len(p["namespaces"]) == 1 and "next-page-token" in p


def test_pagination_token_without_size_and_negative_token(spark, client):
    """Review fixes: resuming with only the server-issued pageToken (no
    pageSize) serves the remainder, never the full list again; negative
    tokens are 400, not silent entry-skipping."""
    for n in ("b1", "b2", "b3"):
        client.create_table(f"dbp.{n}", SCHEMA)
    page1 = client._request("GET", "/v1/namespaces/dbp/tables?pageSize=2")
    tok = page1["next-page-token"]
    rest = client._request(
        "GET", f"/v1/namespaces/dbp/tables?pageToken={tok}"
    )
    names = {i["name"] for i in page1["identifiers"] + rest["identifiers"]}
    assert names == {"b1", "b2", "b3"}
    assert len(page1["identifiers"]) + len(rest["identifiers"]) == 3
    assert "next-page-token" not in rest
    with pytest.raises(RestCatalogError) as ei:
        client._request(
            "GET", "/v1/namespaces/dbp/tables?pageToken=-1&pageSize=2"
        )
    assert ei.value.code == 400


def test_staged_snapshot_invisible_and_directly_removable(
    spark, server, client
):
    """r5 advice pair: (a) the hidden rest-staged-* branch never leaks to
    clients — absent from loadTable refs and from snapshots=refs trimming
    (spec: an unreferenced add-snapshot appends to `snapshots` with no
    ref); (b) remove-snapshots retires a staged snapshot WITHOUT the
    client first naming the server-internal staging ref, dropping the
    staging branch with it."""
    t = client.create_table("db.stg", SCHEMA)
    t.append(spark.createDataFrame(_rows(3), SCHEMA))
    _, meta = client.load_table_metadata("db.stg")
    head = meta["current-snapshot-id"]
    new_sid = 9_900_000_021
    snap = _external_write_snapshot(meta, new_sid)
    client._commit(
        "db.stg",
        updates=[{"action": "add-snapshot", "snapshot": snap}],
        retries=1,
    )
    _, meta2 = client.load_table_metadata("db.stg")
    assert any(s["snapshot-id"] == new_sid for s in meta2["snapshots"])
    assert not any(r.startswith("rest-staged-") for r in meta2["refs"])
    # snapshots=refs: staged snapshot not reachable from any served ref
    refs_meta = client._request(
        "GET", "/v1/namespaces/db/tables/stg?snapshots=refs"
    )["metadata"]
    assert all(
        s["snapshot-id"] != new_sid for s in refs_meta["snapshots"]
    )
    assert refs_meta["refs"]["main"]["snapshot-id"] == head
    # direct removal — no remove-snapshot-ref on the internal staging ref
    client._commit(
        "db.stg",
        updates=[
            {"action": "remove-snapshots", "snapshot-ids": [new_sid]}
        ],
        retries=1,
    )
    _, meta3 = client.load_table_metadata("db.stg")
    assert all(s["snapshot-id"] != new_sid for s in meta3["snapshots"])
    assert meta3["current-snapshot-id"] == head
    # staging branch retired server-side too
    assert not any(
        r.startswith("rest-staged-")
        for r in server.catalog.load_table("db.stg").metadata().get(
            "refs", {}
        )
    )


def _schema_fields(client, name):
    _, meta = client.load_table_metadata(name)
    return [dict(f) for f in meta["schemas"][-1]["fields"]]


def test_add_schema_swap_rename_rejects_at_prepare(spark, server, client):
    """r5 advice: a swap-rename (id1->name2, id2->name1) used to pass
    prepare, land earlier updates plus the first rename, then 400
    mid-apply — breaking the atomic-commit contract. It must reject at
    prepare with nothing applied (and the refusal is also semantically
    right: files on disk still carry each physical name for the OLD
    field, so the name mapping would resolve both ambiguously)."""
    t = client.create_table("db.swap", SCHEMA)
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    fields = _schema_fields(client, "db.swap")
    names = [f["name"] for f in fields]
    assert names == ["id", "name", "ts"]
    fields[1]["name"], fields[2]["name"] = fields[2]["name"], fields[1]["name"]
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.swap",
            updates=[
                {"action": "set-properties", "updates": {"leak": "y"}},
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                },
            ],
            retries=1,
        )
    assert ei.value.code == 400
    tbl = server.catalog.load_table("db.swap")
    assert [f.name for f in tbl.schema().fields] == ["id", "name", "ts"]
    assert "leak" not in tbl.properties()


def test_add_schema_rename_onto_retired_name_rejects_at_prepare(
    spark, server, client
):
    """The retired-name-mapping rule (files on disk still carry the old
    physical name) must fire at prepare, not after earlier updates in the
    body applied."""
    t = client.create_table("db.ret", SCHEMA)
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    client.rename_column("db.ret", "name", "label")  # retires 'name'
    fields = _schema_fields(client, "db.ret")
    for f in fields:
        if f["name"] == "ts":
            f["name"] = "name"  # rename onto the retired physical name
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.ret",
            updates=[
                {"action": "set-properties", "updates": {"leak2": "y"}},
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                },
            ],
            retries=1,
        )
    assert ei.value.code == 400
    tbl = server.catalog.load_table("db.ret")
    assert [f.name for f in tbl.schema().fields] == ["id", "label", "ts"]
    assert "leak2" not in tbl.properties()


def test_add_schema_rename_onto_dropped_name_rejects(spark, server, client):
    """Renaming onto a name freed only by a simultaneous drop in the SAME
    update is refused at prepare: the dropped column's physical name is
    still in data files, so the mapping would resolve old bytes into the
    new field."""
    t = client.create_table("db.rod", SCHEMA)
    t.append(spark.createDataFrame(_rows(2), SCHEMA))
    fields = _schema_fields(client, "db.rod")
    # drop 'name' (omit id) and rename 'ts' -> 'name' in one schema
    fields = [f for f in fields if f["name"] != "name"]
    for f in fields:
        if f["name"] == "ts":
            f["name"] = "name"
    with pytest.raises(RestCatalogError) as ei:
        client._commit(
            "db.rod",
            updates=[
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                }
            ],
            retries=1,
        )
    assert ei.value.code == 400
    assert [
        f.name for f in server.catalog.load_table("db.rod").schema().fields
    ] == ["id", "name", "ts"]


# -------------------------------------------------------- OAuth2 handshake
def test_oauth2_client_credentials_flow(spark, tmp_path):
    """r5 verdict #6: /v1/oauth/tokens completes the handshake the Bearer
    enforcement already assumed — a spec-conformant client exchanges
    client-credentials for the token it presents, commits through it, and
    expired/garbage tokens 401."""
    import json as _json
    import urllib.error
    import urllib.parse
    import urllib.request

    with IcebergRestServer(
        str(tmp_path / "wh"),
        credentials={"svc": "hunter2"},
        token_ttl_s=3600,
    ) as srv:
        # unauthenticated requests are refused (credentials mode)
        with pytest.raises(RestCatalogError) as ei:
            RestCatalog(srv.uri)
        assert ei.value.code == 401
        # raw spec-shaped handshake: form-encoded client_credentials grant
        form = urllib.parse.urlencode(
            {
                "grant_type": "client_credentials",
                "client_id": "svc",
                "client_secret": "hunter2",
                "scope": "catalog",
            }
        ).encode()
        req = urllib.request.Request(
            srv.uri + "/v1/oauth/tokens",
            method="POST",
            data=form,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req, timeout=5) as resp:
            tok = _json.loads(resp.read())
        assert tok["token_type"] == "bearer"
        assert tok["expires_in"] == 3600
        # the issued token authorizes real work: create + commit + load
        cat = RestCatalog(srv.uri, token=tok["access_token"])
        t = cat.create_table("db.oauth", SCHEMA)
        t.append(spark.createDataFrame(_rows(3), SCHEMA))
        cat.set_properties("db.oauth", {"owner": "svc"})
        assert cat.load_table("db.oauth").properties()["owner"] == "svc"
        # client-side credential mode does the exchange itself
        cat2 = RestCatalog(srv.uri, credential="svc:hunter2")
        assert cat2.list_tables() == ["db.oauth"]
        # config passthrough (iceberg.catalog.credential)
        cat3 = catalog_from_properties(
            {
                "iceberg.catalog.type": "rest",
                "iceberg.catalog.uri": srv.uri,
                "iceberg.catalog.credential": "svc:hunter2",
            }
        )
        assert isinstance(cat3, RestCatalog)
        # bad secret -> OAuth 401 invalid_client
        with pytest.raises(RestCatalogError) as ei:
            RestCatalog(srv.uri, credential="svc:wrong")
        assert ei.value.code == 401
        # unsupported grant -> 400
        bad = urllib.request.Request(
            srv.uri + "/v1/oauth/tokens",
            method="POST",
            data=urllib.parse.urlencode({"grant_type": "password"}).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with pytest.raises(urllib.error.HTTPError) as he:
            urllib.request.urlopen(bad, timeout=5)
        assert he.value.code == 400
        # garbage bearer -> 401
        with pytest.raises(RestCatalogError) as ei:
            RestCatalog(srv.uri, token="iks-garbage")
        assert ei.value.code == 401


def test_oauth2_token_expiry_and_refresh(spark, tmp_path):
    """An expired issued token 401s; a credential-mode client re-fetches
    once and replays, so expiry is invisible to callers."""
    with IcebergRestServer(
        str(tmp_path / "wh"),
        credentials={"svc": "s3cr3t"},
        token_ttl_s=3600,
    ) as srv:
        cat = RestCatalog(srv.uri, credential="svc:s3cr3t")
        cat.create_table("db.exp", SCHEMA)
        first = cat.token
        # expire the issued token server-side
        srv._state.issued_tokens[first] = 0.0
        # static-token client with the expired token: hard 401
        with pytest.raises(RestCatalogError) as ei:
            RestCatalog(srv.uri, token=first).list_tables()
        assert ei.value.code == 401
        # credential-mode client refreshes transparently and proceeds
        assert cat.list_tables() == ["db.exp"]
        assert cat.token != first
