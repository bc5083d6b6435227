"""Scan shape: one Spark reader per file layout, one metadata load per scan.

Every unpartitioned write of a table shares one reader, whatever its
write dir or sequence number; each row's sequence number comes from its
file's name. Partitioned writes keep one reader per write (their identity
values live only in directory names). A scan plans from one load of the
version JSON."""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks import table as table_mod
from iceberg_kafka_connect_spark.sinks.table import MAIN, LakehouseTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
    ]
)
OP_SCHEMA = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])

# five per-op upserts: key 3 is deleted at seq 3 and re-inserted at seq 4,
# key 5 is deleted at seq 5
BATCHES = [
    [(i, f"a{i}", "I") for i in range(10)],
    [(1, "b1", "U"), (2, "b2", "U")],
    [(3, None, "D"), (4, "c4", "U")],
    [(3, "d3", "I"), (6, "d6", "U")],
    [(5, None, "D"), (7, "e7", "U")],
]


def _oracle(batches) -> list[tuple]:
    rows: dict[int, str] = {}
    for batch in batches:
        for k, v, op in batch:
            if op == "D":
                rows.pop(k, None)
            else:
                rows[k] = v
    return sorted(rows.items())


def _upserts(spark, t: LakehouseTable, batches=BATCHES) -> None:
    for batch in batches:
        t.upsert(
            spark.createDataFrame(batch, OP_SCHEMA).repartition(8),
            key_cols=["id"],
            op_col="op",
            upsert_mode=False,
        )


def _rows(df) -> list[tuple]:
    return sorted((r["id"], r["v"]) for r in df.collect())


def _relations(df) -> list[list[str]]:
    """The input files of each file-scan leaf of the optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            out.append(list(leaf.relation().location().inputFiles()))
    return out


def _under(rel: list[str], sub: str) -> bool:
    return all(f"/{sub}/" in p for p in rel)


def test_upserts_read_with_one_data_and_one_delete_relation(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    _upserts(spark, t)
    data, deletes = t.live_files()
    assert {f["seq"] for f in data} == {1, 2, 3, 4, 5}
    assert {f["seq"] for f in deletes} >= {2, 3, 4, 5}
    df = t.read(spark)
    rels = _relations(df)
    assert len(rels) == 2
    assert sum(_under(r, "data") for r in rels) == 1
    assert sum(_under(r, "deletes") for r in rels) == 1
    rows = _rows(df)
    assert rows == _oracle(BATCHES)
    keys = [k for k, _ in rows]
    assert (3, "d3") in rows and 5 not in keys


def test_appends_between_four_appends_is_one_relation(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    first = None
    for k in range(5):
        t.append(
            spark.createDataFrame(
                [(k * 10 + i, f"v{k}") for i in range(10)], SCHEMA
            ).repartition(4)
        )
        if first is None:
            first = t.current_snapshot()["snapshot_id"]
    df = t.appends_between(spark, first)
    assert len(_relations(df)) == 1
    assert _rows(df) == [(i, f"v{i // 10}") for i in range(10, 50)]


def test_hash_partitioned_table_keeps_one_reader_per_write(spark, tmp_path):
    schema = T.StructType([*SCHEMA.fields, T.StructField("p", T.LongType())])
    t = LakehouseTable.create(
        str(tmp_path / "t"),
        schema,
        partition_by="p",
        properties={"write.distribution-mode": "hash"},
    )
    expected = []
    for k in range(3):
        rows = [(k * 10 + i, f"v{k}", i % 3) for i in range(10)]
        expected += rows
        t.append(spark.createDataFrame(rows, schema).repartition(8))
    df = t.read(spark)
    assert len(_relations(df)) == 3
    got = sorted((r["id"], r["v"], r["p"]) for r in df.collect())
    assert got == sorted(expected)


def test_flat_group_sharing_a_file_name_falls_back_to_per_write_groups(
    spark, tmp_path
):
    """Two writes whose files share a name cannot be told apart by the
    per-file lookup, so they read as two writes: key 1 deleted at seq 2
    survives only in the seq-3 write."""
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)

    def write(rows):
        return t._write_files(
            spark.createDataFrame(rows, SCHEMA).coalesce(1), "data"
        )

    first = write([(1, "old"), (2, "keep")])
    assert len(first) == 1
    t._commit_snapshot("append", first, [], {}, MAIN)
    t.delete_where(spark, "id = 1", ["id"])
    second = write([(1, "new")])
    src = os.path.join(t.root, second[0]["path"])
    renamed = os.path.join(
        os.path.dirname(second[0]["path"]),
        os.path.basename(first[0]["path"]),
    )
    shutil.move(src, os.path.join(t.root, renamed))
    second[0]["path"] = renamed
    t._commit_snapshot("append", second, [], {}, MAIN)

    data, _ = t.live_files()
    assert [f["seq"] for f in data] == [1, 3]
    groups = LakehouseTable._scan_groups(data)
    assert [len(g) for _, _, g in groups] == [1, 1]
    df = t.read(spark)
    assert sum(_under(r, "data") for r in _relations(df)) == 2
    assert _rows(df) == [(1, "new"), (2, "keep")]


def test_file_missing_from_the_sequence_map_fails_the_scan(
    spark, tmp_path, monkeypatch
):
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    _upserts(spark, t, BATCHES[:2])
    orig = table_mod._file_seq

    def drop_one(seq_of):
        return orig(dict(list(seq_of.items())[1:]))

    monkeypatch.setattr(table_mod, "_file_seq", drop_one)
    with pytest.raises(Exception, match="no sequence number recorded"):
        t.read(spark).collect()


def test_root_with_space_percent_plus_and_non_ascii_reads_the_oracle(
    spark, tmp_path
):
    t = LakehouseTable.create(str(tmp_path / "t a%20b+c é"), SCHEMA)
    inserts = [(k, v) for k, v, _ in BATCHES[0]]
    for half in (inserts[:5], inserts[5:]):
        t.append(spark.createDataFrame(half, SCHEMA).repartition(4))
    _upserts(spark, t, BATCHES[1:])
    # a position delete exercises the scanned file paths of that root too
    t.delete_where_positions(spark, "id = 7")
    expected = [r for r in _oracle(BATCHES) if r[0] != 7]
    assert _rows(t.read(spark)) == expected
    appended = t.appends_between(spark, None, t.snapshots()[1]["snapshot_id"])
    assert len(_relations(appended)) == 1
    assert _rows(appended) == inserts


def _count_loads(monkeypatch) -> list[str]:
    callers: list[str] = []
    orig = LakehouseTable.metadata

    def counting(self):
        callers.append(sys._getframe(1).f_code.co_name)
        return orig(self)

    monkeypatch.setattr(LakehouseTable, "metadata", counting)
    return callers


SCANS = {
    "read": lambda t, spark, first: t.read(spark),
    "read_where": lambda t, spark, first: t.read(spark, where="id >= 2"),
    "appends_between": lambda t, spark, first: t.appends_between(
        spark, first
    ),
    "changes_between": lambda t, spark, first: t.changes_between(
        spark, first
    ),
}


@pytest.mark.parametrize("scan", sorted(SCANS))
def test_scan_loads_the_metadata_once(spark, tmp_path, monkeypatch, scan):
    """Four commits (appends for ``appends_between``, which refuses
    deletes; upserts of a repeated key otherwise), then one scan: its one
    ``metadata()`` call is the entry point's own."""
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    for k in range(4):
        batch = spark.createDataFrame(
            [(k * 10 + i, f"v{k}") for i in range(2, 6)] + [(1, f"u{k}")],
            SCHEMA,
        )
        if scan == "appends_between":
            t.append(batch)
        else:
            t.upsert(batch, key_cols=["id"])
    first = t.snapshots()[0]["snapshot_id"]
    callers = _count_loads(monkeypatch)
    df = SCANS[scan](t, spark, first)
    assert callers == ["read" if scan.startswith("read") else scan]
    assert df.count() > 0
