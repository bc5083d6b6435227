"""Iceberg import (read direction): external v2 metadata trees →
Lakehouse tables. Covers (1) full round-trips through our own exporter —
read() hash-equal to the source table, including equality AND position
deletes and identity partitioning — and (2) a fixture metadata tree that
was NOT produced by this engine's exporter (hand-authored per the public
spec, with deflate-coded Avro, map-typed bounds, and v2 sequence-number
inheritance) to pin the reader to the spec rather than to our writer's
habits. Reference behavior being re-expressed: loading any pre-existing
table through the catalog (data/Utilities.java:68-121,
IcebergWriterFactory.java:51-66)."""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks.iceberg_export import (
    export_iceberg_metadata,
)
from iceberg_kafka_connect_spark.sinks.iceberg_import import (
    IcebergImportUnsupported,
    iceberg_type_to_spark,
    import_iceberg_table,
    resolve_metadata_file,
)
from iceberg_kafka_connect_spark.sinks.table import LakehouseTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("g", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- round trips
def test_roundtrip_plain_append(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(
        spark.createDataFrame([(i, f"g{i % 3}", i * 10) for i in range(40)], SCHEMA)
    )
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert _rows(imp.read(spark)) == _rows(t.read(spark))
    assert imp.schema().fieldNames() == ["k", "g", "v"]


def test_roundtrip_equality_deletes(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(i, "a", i) for i in range(20)], SCHEMA))
    t.delete_where(spark, "k % 4 = 0", key_cols=["k"])
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert _rows(imp.read(spark)) == _rows(t.read(spark))
    assert imp.read(spark).count() == 15


def test_roundtrip_position_deletes(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (1, "a", 10), (2, "b", 20), (3, "c", 30)], SCHEMA
        )
    )
    t.delete_where_positions(spark, "v = 10")  # both duplicate copies
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert _rows(imp.read(spark)) == [(2, "b", 20), (3, "c", 30)]


def test_roundtrip_identity_partitioned(spark, tmp_path):
    t = LakehouseTable.create(
        str(tmp_path / "src"), SCHEMA, partition_by=["g"]
    )
    t.append(
        spark.createDataFrame([(i, f"p{i % 4}", i) for i in range(40)], SCHEMA)
    )
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert _rows(imp.read(spark)) == _rows(t.read(spark))
    # identity partition spec survives the trip
    assert [(p.source, p.transform) for p in imp.partition_spec()] == [
        ("g", "identity")
    ]


def test_roundtrip_then_reexport(spark, tmp_path):
    """import → export → import again: the snapshot model is closed under
    the two directions."""
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(i, "x", i) for i in range(10)], SCHEMA))
    t.delete_where(spark, "k = 3", key_cols=["k"])
    imp1 = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "d1")
    )
    imp2 = import_iceberg_table(
        export_iceberg_metadata(imp1), str(tmp_path / "d2")
    )
    assert _rows(imp2.read(spark)) == _rows(t.read(spark))


def test_imported_table_accepts_further_dml(spark, tmp_path):
    """The import isn't a dead snapshot: appends, equality deletes, and
    position deletes keep working, with sequence numbers above the
    imported history."""
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(i, "a", i) for i in range(10)], SCHEMA))
    t.delete_where(spark, "k = 1", key_cols=["k"])  # seq 2
    imp = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "dst")
    )
    imp.append(spark.createDataFrame([(100, "z", 0)], SCHEMA))
    imp.delete_where(spark, "k = 2", key_cols=["k"])
    imp.delete_where_positions(spark, "k = 3")
    got = sorted(r.k for r in imp.read(spark).collect())
    assert got == [0, 4, 5, 6, 7, 8, 9, 100]


def test_import_stats_enable_pruning(spark, tmp_path):
    """Manifest lower/upper bounds translate into file-level stats, so the
    imported table prunes scans without reopening parquet footers."""
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(i, "g", i) for i in range(lo, lo + 100)], SCHEMA
            ).coalesce(1)
        )
    imp = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "dst")
    )
    kept, total = imp.scan_files("k >= 250")
    assert total == 3 and len(kept) == 1
    assert imp.read(spark, where="k >= 250").count() == 50


# ------------------------------------- fixture tree NOT from our exporter
MAGIC = b"Obj\x01"


def _zz(buf, n):
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _enc(buf, schema, v):
    """Minimal Avro binary encoder for the fixture schemas (deliberately
    independent of the engine's encoder)."""
    if isinstance(schema, list):
        if v is None:
            _zz(buf, 0)
        else:
            _zz(buf, 1)
            _enc(buf, schema[1], v)
        return
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        for f in schema["fields"]:
            _enc(buf, f["type"], v.get(f["name"]))
    elif t in ("int", "long"):
        _zz(buf, v)
    elif t == "string":
        raw = v.encode()
        _zz(buf, len(raw))
        buf.extend(raw)
    elif t == "bytes":
        _zz(buf, len(v))
        buf.extend(v)
    elif t == "boolean":
        buf.append(1 if v else 0)
    elif t == "double":
        buf.extend(struct.pack("<d", v))
    elif t == "map":  # true Avro map (string keys) — exporter never emits
        if v:
            _zz(buf, len(v))
            for k, val in v.items():
                raw = k.encode()
                _zz(buf, len(raw))
                buf.extend(raw)
                _enc(buf, schema["values"], val)
        _zz(buf, 0)
    elif t == "array":
        if v:
            _zz(buf, len(v))
            for it in v:
                _enc(buf, schema["items"], it)
        _zz(buf, 0)
    else:
        raise AssertionError(t)


def _write_deflate_ocf(path, schema, rows):
    """Deflate-coded OCF — a codec the exporter never writes, proving the
    reader handles externally-produced files."""
    body = bytearray()
    for row in rows:
        _enc(body, schema, row)
    packed = zlib.compressobj(9, zlib.DEFLATED, -15)
    block = packed.compress(bytes(body)) + packed.flush()
    sync = b"\x07" * 16
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema), "avro.codec": "deflate"}
    head = bytearray()
    _zz(head, len(meta))
    for k, v in meta.items():
        rk, rv = k.encode(), v.encode()
        _zz(head, len(rk))
        head.extend(rk)
        _zz(head, len(rv))
        head.extend(rv)
    _zz(head, 0)
    out.write(bytes(head))
    out.write(sync)
    tail = bytearray()
    _zz(tail, len(rows))
    _zz(tail, len(block))
    out.write(bytes(tail))
    out.write(block)
    out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())


MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        # fixture entries leave sequence_number null on ADDED rows → the
        # reader must apply v2 inheritance from the manifest-list entry
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file_r",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                    # bounds as a TRUE avro map keyed by stringified
                    # field-id — the other legal encoding; the exporter
                    # always writes array<key_value>
                    {
                        "name": "lower_bounds",
                        "type": ["null", {"type": "map", "values": "bytes"}],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": ["null", {"type": "map", "values": "bytes"}],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


@pytest.fixture()
def external_tree(spark, tmp_path):
    """A v2 metadata tree laid out by hand: two data parquet files (one
    with a stale 'deleted' entry), an equality-delete file, a position-
    delete file, deflate Avro, map-typed bounds, v1-style naming."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ext"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()

    f1 = str(root / "data" / "part-0001.parquet")
    f2 = str(root / "data" / "part-0002.parquet")
    f3 = str(root / "data" / "dead.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "s": ["a", "b", "c"]}),
        f1,
    )
    pq.write_table(
        pa.table({"k": pa.array([10, 11], pa.int64()), "s": ["x", "y"]}), f2
    )
    pq.write_table(
        pa.table({"k": pa.array([99], pa.int64()), "s": ["dead"]}), f3
    )
    eq_del = str(root / "data" / "eq-delete.parquet")
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), eq_del)
    pos_del = str(root / "data" / "pos-delete.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": ["file://" + f2],
                "pos": pa.array([1], pa.int64()),
            }
        ),
        pos_del,
    )

    def bounds(lo, hi):
        return (
            {"1": struct.pack("<q", lo)},
            {"1": struct.pack("<q", hi)},
        )

    lo1, hi1 = bounds(1, 3)
    lo2, hi2 = bounds(10, 11)
    man_data = str(root / "metadata" / "m0.avro")
    _write_deflate_ocf(
        man_data,
        MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 77,
                "sequence_number": None,  # inherit 1
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + f1,
                    "file_format": "PARQUET",
                    "record_count": 3,
                    "file_size_in_bytes": os.path.getsize(f1),
                    "equality_ids": None,
                    "lower_bounds": lo1,
                    "upper_bounds": hi1,
                },
            },
            {
                "status": 1,
                "snapshot_id": 77,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + f2,
                    "file_format": "PARQUET",
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(f2),
                    "equality_ids": None,
                    "lower_bounds": lo2,
                    "upper_bounds": hi2,
                },
            },
            {
                "status": 2,  # DELETED — must be skipped
                "snapshot_id": 70,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + f3,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(f3),
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            },
        ],
    )
    man_del = str(root / "metadata" / "m1.avro")
    _write_deflate_ocf(
        man_del,
        MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 77,
                "sequence_number": None,  # inherit 2
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": "file://" + eq_del,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(eq_del),
                    "equality_ids": [1],
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            },
            {
                "status": 1,
                "snapshot_id": 77,
                "sequence_number": None,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": "file://" + pos_del,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(pos_del),
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            },
        ],
    )
    mlist = str(root / "metadata" / "snap-77.avro")
    _write_deflate_ocf(
        mlist,
        MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": "file://" + man_data,
                "manifest_length": os.path.getsize(man_data),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 77,
            },
            {
                "manifest_path": "file://" + man_del,
                "manifest_length": os.path.getsize(man_del),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 2,
                "min_sequence_number": 2,
                "added_snapshot_id": 77,
            },
        ],
    )
    metadata = {
        "format-version": 2,
        "table-uuid": "0f2cd834-5cb7-46ff-9cbb-0000deadbeef",
        "location": "file://" + str(root),
        "last-sequence-number": 2,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "identifier-field-ids": [1],
                "fields": [
                    {"id": 1, "name": "k", "required": True, "type": "long"},
                    {"id": 2, "name": "s", "required": False, "type": "string"},
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "properties": {"owner": "someone-else"},
        "current-snapshot-id": 77,
        "refs": {"main": {"snapshot-id": 77, "type": "branch"}},
        "snapshots": [
            {
                "snapshot-id": 77,
                "sequence-number": 2,
                "timestamp-ms": 1700000000000,
                "manifest-list": "file://" + mlist,
                "summary": {"operation": "overwrite"},
                "schema-id": 0,
            }
        ],
    }
    # external v1-style filename, no version-hint — resolver must pick it
    with open(root / "metadata" / "00004-abcd.metadata.json", "w") as f:
        json.dump(metadata, f)
    return root


def test_external_fixture_imports(spark, tmp_path, external_tree):
    imp = import_iceberg_table(str(external_tree), str(tmp_path / "dst"))
    # rows: f1 {1,2,3} + f2 {10,11}; equality delete k=2 (seq 2 > data seq
    # 1); position delete (f2, pos 1) removes k=11; dead file skipped
    got = sorted((r.k, r.s) for r in imp.read(spark).collect())
    assert got == [(1, "a"), (3, "c"), (10, "x")]
    assert imp.properties()["owner"] == "someone-else"
    assert imp.properties()["import.source-uuid"].endswith("deadbeef")
    assert imp.identifier_fields() == ["k"]


def test_import_commits_each_snapshot_in_one_version(tmp_path, external_tree):
    """The fixture's snapshot carries entries at sequence numbers 1 and 2
    on a fresh table (native counter 1). It must land in ONE metadata
    version already at or above its highest entry sequence number — never
    a version whose head sits below its own entries, raised by a second."""
    imp = import_iceberg_table(str(external_tree), str(tmp_path / "dst"))
    snaps_by_version = []
    for v in range(imp.current_version() + 1):
        with open(imp._version_path(v)) as f:
            meta = json.load(f)
        snaps_by_version.append(
            {s["snapshot_id"]: s["sequence_number"] for s in meta["snapshots"]}
        )
    changed = [
        (prev, cur)
        for prev, cur in zip(snaps_by_version, snaps_by_version[1:])
        if cur != prev
    ]
    assert len(changed) == len(imp.snapshots()) == 1
    (prev, cur), = changed
    (sid, seq), = (kv for kv in cur.items() if kv[0] not in prev)
    data, deletes = imp._load_manifest(imp._snapshot_by_id(imp.metadata(), sid))
    assert seq == max(e["seq"] for e in data + deletes) == 2


def test_external_fixture_bounds_prune(spark, tmp_path, external_tree):
    imp = import_iceberg_table(str(external_tree), str(tmp_path / "dst"))
    kept, total = imp.scan_files("k >= 10")
    assert total == 2 and len(kept) == 1


def test_resolver_picks_highest_version(tmp_path, external_tree):
    # add a lower-versioned metadata file; resolver must prefer 00004
    with open(external_tree / "metadata" / "00001-old.metadata.json", "w") as f:
        json.dump({"format-version": 2}, f)
    picked = resolve_metadata_file(str(external_tree))
    assert picked.endswith("00004-abcd.metadata.json")


def test_type_mapping():
    assert iceberg_type_to_spark("long") == T.LongType()
    assert iceberg_type_to_spark("decimal(10, 2)") == T.DecimalType(10, 2)
    assert iceberg_type_to_spark("timestamptz") == T.TimestampType()
    assert iceberg_type_to_spark("timestamp") == T.TimestampNTZType()
    assert iceberg_type_to_spark(
        {"type": "list", "element": "string", "element-required": False}
    ) == T.ArrayType(T.StringType(), True)
    nested = iceberg_type_to_spark(
        {
            "type": "struct",
            "fields": [
                {"id": 9, "name": "a", "required": True, "type": "int"},
                {
                    "id": 10,
                    "name": "m",
                    "required": False,
                    "type": {
                        "type": "map",
                        "key": "string",
                        "value": "double",
                        "value-required": True,
                    },
                },
            ],
        }
    )
    assert nested == T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField(
                "m", T.MapType(T.StringType(), T.DoubleType(), False), True
            ),
        ]
    )
    with pytest.raises(IcebergImportUnsupported):
        iceberg_type_to_spark("geometry")


def test_refs_roundtrip_branches_and_tags(spark, tmp_path):
    """Branches/tags exported as Iceberg refs import back: same-named
    branches with their own file sets, tags readable via read(tag=...)."""
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(i, "a", i) for i in range(10)], SCHEMA))
    t.create_tag("v1")
    t.create_branch("audit")
    t.append(
        spark.createDataFrame([(i, "b", i) for i in range(10, 30)], SCHEMA),
        branch="audit",
    )
    t.append(spark.createDataFrame([(99, "z", 99)], SCHEMA))

    imp = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "dst")
    )
    assert imp.read(spark).count() == 11
    assert imp.read(spark, branch="audit").count() == 30
    assert imp.read(spark, tag="v1").count() == 10
    assert _rows(imp.read(spark, branch="audit")) == _rows(
        t.read(spark, branch="audit")
    )
    assert _rows(imp.read(spark, tag="v1")) == _rows(t.read(spark, tag="v1"))
    # no scratch refs leak
    assert not [
        r for r in imp.metadata()["refs"] if r.startswith("__import__")
    ]


def test_tag_at_head_shares_snapshot(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(1, "a", 1)], SCHEMA))
    t.create_tag("rel")
    imp = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "dst")
    )
    m = imp.metadata()
    assert m["tags"]["rel"] == m["refs"]["main"]
    assert imp.read(spark, tag="rel").count() == 1


def test_cli_import_iceberg(spark, tmp_path, capsys):
    import json as _json

    from iceberg_kafka_connect_spark.cli import main

    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(i, "g", i) for i in range(7)], SCHEMA))
    t.delete_where(spark, "k = 2", key_cols=["k"])
    out = export_iceberg_metadata(t)
    wh = str(tmp_path / "wh")
    assert (
        main(
            [
                "table", "--warehouse", wh, "--name", "default.imp",
                "import-iceberg", "--source", out,
            ]
        )
        == 0
    )
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["data_files"] >= 1 and got["delete_files"] >= 1
    from iceberg_kafka_connect_spark.sinks import Catalog

    imp = Catalog(wh).load_table("default.imp")
    assert imp.read(spark).count() == 6


def test_v1_metadata_imports(spark, tmp_path):
    """format-version 1 metadata (inline 'schema' + 'partition-spec' keys,
    v1 manifest entries without content fields) imports as data-only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "v1"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    f1 = str(root / "data" / "d1.parquet")
    pq.write_table(
        pa.table({"k": pa.array([5, 6], pa.int64()), "s": ["p", "q"]}), f1
    )
    man = str(root / "metadata" / "m.avro")
    v1_entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "df_v1",
                    "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
    _write_deflate_ocf(
        man,
        v1_entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": 11,
                "data_file": {
                    "file_path": "file://" + f1,
                    "file_format": "PARQUET",
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(f1),
                },
            }
        ],
    )
    v1_list_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
        ],
    }
    mlist = str(root / "metadata" / "snap-11.avro")
    _write_deflate_ocf(
        mlist,
        v1_list_schema,
        [
            {
                "manifest_path": "file://" + man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "added_snapshot_id": 11,
            }
        ],
    )
    metadata = {
        "format-version": 1,
        "table-uuid": "11111111-2222-3333-4444-555555555555",
        "location": "file://" + str(root),
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "schema": {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "k", "required": True, "type": "long"},
                {"id": 2, "name": "s", "required": False, "type": "string"},
            ],
        },
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": 11,
        "snapshots": [
            {
                "snapshot-id": 11,
                "timestamp-ms": 1700000000000,
                "manifest-list": "file://" + mlist,
                "summary": {"operation": "append"},
            }
        ],
    }
    with open(root / "metadata" / "v1.metadata.json", "w") as f:
        json.dump(metadata, f)
    imp = import_iceberg_table(str(root), str(tmp_path / "dst"))
    got = sorted((r.k, r.s) for r in imp.read(spark).collect())
    assert got == [(5, "p"), (6, "q")]


def test_import_null_fills_added_columns(spark, tmp_path, external_tree):
    """Iceberg add-column semantics: data files written before a column
    existed read the new column as NULL (projection null-fill)."""
    meta_path = resolve_metadata_file(str(external_tree))
    with open(meta_path) as f:
        md = json.load(f)
    md["schemas"][0]["fields"].append(
        {"id": 3, "name": "added_later", "required": False, "type": "double"}
    )
    md["last-column-id"] = 3
    with open(
        external_tree / "metadata" / "00005-widen.metadata.json", "w"
    ) as f:
        json.dump(md, f)
    imp = import_iceberg_table(str(external_tree), str(tmp_path / "dst"))
    rows = imp.read(spark).collect()
    assert {r.added_later for r in rows} == {None}
    assert len(rows) == 3  # deletes still apply under the widened schema


def test_identifier_fields_roundtrip(spark, tmp_path):
    """Row identity (identifier-field-ids) survives export → import, so
    upsert-by-default keeps working on the imported table."""
    t = LakehouseTable.create(
        str(tmp_path / "src"), SCHEMA, identifier_fields=["k"]
    )
    t.append(spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA))
    out = export_iceberg_metadata(t)
    with open(out) as f:
        md = json.load(f)
    sch = md["schemas"][0]
    kid = next(fl["id"] for fl in sch["fields"] if fl["name"] == "k")
    assert sch["identifier-field-ids"] == [kid]
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert imp.identifier_fields() == ["k"]
    imp.upsert(spark.createDataFrame([(1, "z", 9)], SCHEMA), key_cols=None)
    got = sorted((r.k, r.g) for r in imp.read(spark).collect())
    assert got == [(1, "z"), (2, "b")]


def test_sort_order_roundtrip(spark, tmp_path):
    """An exported identity/asc sort order imports as write.sort-order,
    files keep their sortedness claim, and a re-export stamps
    sort_order_id again instead of degrading to unsorted."""
    t = LakehouseTable.create(
        str(tmp_path / "src"), SCHEMA, properties={"write.sort-order": "k"}
    )
    t.append(
        spark.createDataFrame([(i % 5, f"g{i}", i) for i in range(30)], SCHEMA)
    )
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert imp.properties()["write.sort-order"] == "k"
    with open(export_iceberg_metadata(imp)) as f:
        md = json.load(f)
    assert md["default-sort-order-id"] == 1
    order = next(o for o in md["sort-orders"] if o["order-id"] == 1)
    kid = next(
        fl["id"] for fl in md["schemas"][0]["fields"] if fl["name"] == "k"
    )
    assert order["fields"][0]["source-id"] == kid
    # further writes to the imported table stay sorted under the order:
    # a fresh export stamps sort_order_id on the new file too
    imp.append(spark.createDataFrame([(9, "x", 99)], SCHEMA))
    from iceberg_kafka_connect_spark.sinks.iceberg_export import _read_ocf

    with open(export_iceberg_metadata(imp)) as f:
        md3 = json.load(f)
    snap = next(
        s
        for s in md3["snapshots"]
        if s["snapshot-id"] == md3["current-snapshot-id"]
    )
    _, _, manifests = _read_ocf(snap["manifest-list"].removeprefix("file://"))
    ids = [
        e["data_file"]["sort_order_id"]
        for m in manifests
        if m["content"] == 0
        for e in _read_ocf(m["manifest_path"].removeprefix("file://"))[2]
    ]
    assert ids and all(i == 1 for i in ids)


def test_desc_sort_order_not_claimed(spark, tmp_path):
    """A descending external order has no native equivalent — import it
    as unsorted rather than claiming an order the writer won't maintain."""
    t = LakehouseTable.create(
        str(tmp_path / "src"), SCHEMA, properties={"write.sort-order": "k"}
    )
    t.append(spark.createDataFrame([(1, "a", 1)], SCHEMA))
    out = export_iceberg_metadata(t)
    with open(out) as f:
        md = json.load(f)
    for o in md["sort-orders"]:
        for fld in o["fields"]:
            fld["direction"] = "desc"
    with open(out, "w") as f:
        json.dump(md, f)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert "write.sort-order" not in imp.properties()
    with open(export_iceberg_metadata(imp)) as f:
        md2 = json.load(f)
    assert md2["default-sort-order-id"] == 0


def test_percent_in_partition_value_roundtrips(spark, tmp_path):
    """A partition value containing '%' (hive-escaped to %25 in the
    directory name) must round-trip: the importer may not blindly
    percent-decode raw stored paths."""
    t = LakehouseTable.create(
        str(tmp_path / "src"), SCHEMA, partition_by=["g"]
    )
    t.append(
        spark.createDataFrame([(1, "c%d", 10), (2, "plain", 20)], SCHEMA)
    )
    out = export_iceberg_metadata(t)
    imp = import_iceberg_table(out, str(tmp_path / "dst"))
    assert _rows(imp.read(spark)) == _rows(t.read(spark))


def test_existing_entry_without_seq_rejected(spark, tmp_path):
    """A v2 EXISTING (status 0) manifest entry with a null sequence number
    is invalid metadata — inheriting the manifest's (newer) seq would
    wrongly stop older equality deletes from applying. Reject it."""
    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _read_ocf,
        _write_ocf,
    )

    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(1, "a", 1)], SCHEMA))
    t.append(spark.createDataFrame([(2, "b", 2)], SCHEMA))
    out = export_iceberg_metadata(t)
    with open(out) as f:
        md = json.load(f)
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    mlist = snap["manifest-list"].removeprefix("file://")
    _, _, manifests = _read_ocf(mlist)
    # find a manifest holding an EXISTING entry and null its seq
    for m in manifests:
        mp = m["manifest_path"].removeprefix("file://")
        fmeta, schema_m, entries = _read_ocf(mp)
        hit = False
        for e in entries:
            if e["status"] == 0:
                e["sequence_number"] = None
                hit = True
        if hit:
            extra = {
                k: v
                for k, v in fmeta.items()
                if not k.startswith("avro.")
            }
            _write_ocf(mp, schema_m, entries, extra)
            break
    else:
        pytest.skip("no EXISTING entry in this layout")
    with pytest.raises(IcebergImportUnsupported, match="EXISTING"):
        import_iceberg_table(out, str(tmp_path / "dst"))


def test_external_fixture_refresh(spark, tmp_path, external_tree):
    """refresh_from_iceberg over a hand-authored tree: a second metadata
    version adds snapshot 78 (parent 77) with one new data file; the
    imported copy converges without re-import."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_import import (
        refresh_from_iceberg,
    )

    root = external_tree
    imp = import_iceberg_table(str(root), str(tmp_path / "dst"))
    assert imp.read(spark).count() == 3

    f4 = str(root / "data" / "part-0004.parquet")
    pq.write_table(
        pa.table({"k": pa.array([20, 21], pa.int64()), "s": ["p", "q"]}), f4
    )
    man2 = str(root / "metadata" / "m2.avro")
    _write_deflate_ocf(
        man2,
        MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 78,
                "sequence_number": None,  # inherit 3
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + f4,
                    "file_format": "PARQUET",
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(f4),
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        ],
    )
    with open(root / "metadata" / "00004-abcd.metadata.json") as f:
        md = json.load(f)
    old_mlist = md["snapshots"][0]["manifest-list"].removeprefix("file://")
    mlist2 = str(root / "metadata" / "snap-78.avro")
    # new manifest list = old manifests + the new one
    _, _, old_manifests = __import__(
        "iceberg_kafka_connect_spark.sinks.iceberg_export",
        fromlist=["_read_ocf"],
    )._read_ocf(old_mlist)
    _write_deflate_ocf(
        mlist2,
        MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": m["manifest_path"],
                "manifest_length": m["manifest_length"],
                "partition_spec_id": m["partition_spec_id"],
                "content": m["content"],
                "sequence_number": m["sequence_number"],
                "min_sequence_number": m["min_sequence_number"],
                "added_snapshot_id": m["added_snapshot_id"],
            }
            for m in old_manifests
        ]
        + [
            {
                "manifest_path": "file://" + man2,
                "manifest_length": os.path.getsize(man2),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 3,
                "min_sequence_number": 3,
                "added_snapshot_id": 78,
            }
        ],
    )
    md["last-sequence-number"] = 3
    md["current-snapshot-id"] = 78
    md["refs"]["main"]["snapshot-id"] = 78
    md["snapshots"].append(
        {
            "snapshot-id": 78,
            "sequence-number": 3,
            "parent-snapshot-id": 77,
            "timestamp-ms": 1700000001000,
            "manifest-list": "file://" + mlist2,
            "summary": {"operation": "append"},
            "schema-id": 0,
        }
    )
    with open(root / "metadata" / "00005-abce.metadata.json", "w") as f:
        json.dump(md, f)

    res = refresh_from_iceberg(imp)
    assert res == {"synced": 1, "from": 77, "to": 78}
    got = sorted((r.k, r.s) for r in imp.read(spark).collect())
    assert got == [(1, "a"), (3, "c"), (10, "x"), (20, "p"), (21, "q")]


def test_renamed_table_roundtrip(spark, tmp_path):
    """Files written BEFORE a rename_column resolve after export → import:
    the external name-mapping (old physical name on the same field-id)
    imports with the properties and drives the read-path alias
    resolution."""
    t = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    t.append(spark.createDataFrame([(1, "a", 10)], SCHEMA))
    t.rename_column("v", "val")
    wide = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("g", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )
    t.append(spark.createDataFrame([(2, "b", 20)], wide))
    imp = import_iceberg_table(
        export_iceberg_metadata(t), str(tmp_path / "dst")
    )
    assert imp.schema().fieldNames() == ["k", "g", "val"]
    got = sorted((r.k, r.val) for r in imp.read(spark).collect())
    assert got == [(1, 10), (2, 20)]


def test_name_mapping_synthesized_from_schema_history(spark, tmp_path):
    """An external tree WITHOUT a name-mapping property but WITH schema
    history (a rename recorded across schema-ids) imports with a
    synthesized mapping, so old-named files resolve."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _write_ocf,
        _manifest_entry_schema,
        _manifest_list_schema,
    )

    root = tmp_path / "ext"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    # file written under the OLD schema: column named "s"
    f_old = str(root / "data" / "old.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1], pa.int64()), "s": ["before"]}), f_old
    )
    # file written under the NEW schema: column renamed to "txt"
    f_new = str(root / "data" / "new.parquet")
    pq.write_table(
        pa.table({"k": pa.array([2], pa.int64()), "txt": ["after"]}), f_new
    )
    man = str(root / "metadata" / "m0.avro")
    # the old-named file was written in an earlier snapshot (seq 1,
    # EXISTING here); the renamed-schema file is this snapshot's ADDED
    # (seq 2) — files within one sequence always share a schema
    entries = [
        {
            "status": 0,
            "snapshot_id": 4,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0,
                "file_path": "file://" + f_old,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(f_old),
            },
        },
        {
            "status": 1,
            "snapshot_id": 5,
            "sequence_number": 2,
            "file_sequence_number": 2,
            "data_file": {
                "content": 0,
                "file_path": "file://" + f_new,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(f_new),
            },
        },
    ]
    _write_ocf(man, _manifest_entry_schema(), entries, {"format-version": "2"})
    mlist = str(root / "metadata" / "snap-5.avro")
    _write_ocf(
        mlist,
        _manifest_list_schema(),
        [
            {
                "manifest_path": "file://" + man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 2,
                "min_sequence_number": 1,
                "added_snapshot_id": 5,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 2,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        {"format-version": "2"},
    )
    metadata = {
        "format-version": 2,
        "table-uuid": "0f2cd834-5cb7-46ff-9cbb-00000000cafe",
        "location": "file://" + str(root),
        "last-sequence-number": 2,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 1,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "s", "required": False, "type": "string"},
                ],
            },
            {
                "type": "struct",
                "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "txt", "required": False,
                     "type": "string"},
                ],
            },
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "properties": {},  # NO name-mapping — must be synthesized
        "current-snapshot-id": 5,
        "refs": {"main": {"snapshot-id": 5, "type": "branch"}},
        "snapshots": [
            {
                "snapshot-id": 5,
                "sequence-number": 2,
                "timestamp-ms": 1700000000000,
                "manifest-list": "file://" + mlist,
                "summary": {"operation": "append"},
            }
        ],
    }
    with open(root / "metadata" / "00001-ffff.metadata.json", "w") as f:
        json.dump(metadata, f)
    imp = import_iceberg_table(str(root), str(tmp_path / "dst"))
    assert imp.schema().fieldNames() == ["k", "txt"]
    got = sorted((r.k, r.txt) for r in imp.read(spark).collect())
    assert got == [(1, "before"), (2, "after")]


# ----------------------------------------- time / uuid / fixed type lanes
def _typed_lane_tree(tmp_path):
    """Minimal v2 tree with SURVEY §1.2's Spark-less types: ``time``
    (long micros since midnight), ``uuid`` (string form), ``fixed[8]``
    (binary). The physical parquet carries exactly the documented
    degraded representations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_connect_spark.sinks.iceberg_export import (
        _manifest_entry_schema,
        _manifest_list_schema,
        _write_ocf,
    )

    root = tmp_path / "typed"
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    dpath = str(root / "data" / "d0.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int64()),
                "t": pa.array([3_600_000_000, 7_200_000_000], pa.int64()),
                "u": pa.array(
                    [
                        "0f2cd834-5cb7-46ff-9cbb-000000000001",
                        "0f2cd834-5cb7-46ff-9cbb-000000000002",
                    ]
                ),
                "f": pa.array([b"\x01" * 8, b"\x02" * 8], pa.binary()),
            }
        ),
        dpath,
    )
    mpath = str(root / "metadata" / "m0.avro")
    _write_ocf(
        mpath,
        _manifest_entry_schema(),
        [
            {
                "status": 1,
                "snapshot_id": 42,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + dpath,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 2,
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
    mlist = str(root / "metadata" / "snap-42.avro")
    _write_ocf(
        mlist,
        _manifest_list_schema(),
        [
            {
                "manifest_path": "file://" + mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 42,
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
    metadata = {
        "format-version": 2,
        "table-uuid": "0f2cd834-5cb7-46ff-9cbb-00000000beef",
        "location": "file://" + str(root),
        "last-sequence-number": 1,
        "last-updated-ms": 1700000000000,
        "last-column-id": 4,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": True, "type": "long"},
                    {"id": 2, "name": "t", "required": False, "type": "time"},
                    {"id": 3, "name": "u", "required": False, "type": "uuid"},
                    {
                        "id": 4,
                        "name": "f",
                        "required": False,
                        "type": "fixed[8]",
                    },
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 42,
        "refs": {"main": {"snapshot-id": 42, "type": "branch"}},
        "snapshots": [
            {
                "snapshot-id": 42,
                "sequence-number": 1,
                "timestamp-ms": 1700000000000,
                "manifest-list": "file://" + mlist,
                "summary": {"operation": "append"},
                "schema-id": 0,
            }
        ],
    }
    mf = root / "metadata" / "00001-typed.metadata.json"
    with open(mf, "w") as f:
        json.dump(metadata, f)
    return str(mf)


def test_time_uuid_fixed_import_read_reexport(spark, tmp_path):
    """SURVEY §1.2 lanes Spark has no native type for: time → long
    micros-since-midnight, uuid → string, fixed[N] → binary. The tree
    imports, reads the documented degraded values, and re-exports with
    the field-ids preserved (no silent drops)."""
    from pyspark.sql import types as T

    mf = _typed_lane_tree(tmp_path)
    t = import_iceberg_table(mf, str(tmp_path / "dst"))
    by_name = {f.name: f.dataType for f in t.schema().fields}
    assert by_name["t"] == T.LongType()
    assert by_name["u"] == T.StringType()
    assert by_name["f"] == T.BinaryType()
    rows = {r.k: r for r in t.read(spark).collect()}
    assert rows[1].t == 3_600_000_000  # 01:00:00 in micros
    assert rows[2].u.endswith("02")
    assert bytes(rows[1].f) == b"\x01" * 8
    # re-export: field ids survive (fresh assignment is depth-first in
    # declaration order, matching the fixture's sequential ids); the
    # degraded types are what the data files actually hold
    out = export_iceberg_metadata(t)
    with open(out) as f:
        md = json.load(f)
    exp = {
        f["id"]: (f["name"], f["type"])
        for f in md["schemas"][-1]["fields"]
    }
    assert exp == {
        1: ("k", "long"),
        2: ("t", "long"),
        3: ("u", "string"),
        4: ("f", "binary"),
    }


def test_unknown_iceberg_type_raises_named_error(tmp_path):
    """An unmappable type is a named IcebergImportUnsupported, never a
    silent drop."""
    from iceberg_kafka_connect_spark.sinks.iceberg_import import (
        iceberg_type_to_spark,
    )

    with pytest.raises(IcebergImportUnsupported, match="geometry"):
        iceberg_type_to_spark("geometry")
