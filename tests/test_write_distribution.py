"""Row-level writes are sized by the plan, not by session state.

Every row-level commit path (upsert in its three modes, MERGE fast and
slow, UPDATE by key and by position, changelog mirror and sync) writes its
delta from a batch persisted for reuse. On the 8-partition test session a
tiny commit must still land exactly one data file (one per partition value
under ``write.distribution-mode=hash``) and at most one delete file per
delete kind, and no commit may set or unset a runtime conf: the session is
shared with whatever else runs on it."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import types as T
from pyspark.sql.conf import RuntimeConfig

from iceberg_kafka_connect_spark.sinks.table import LakehouseTable
from iceberg_kafka_connect_spark.streaming.changelog_source import (
    ChangelogStream,
)
from iceberg_kafka_connect_spark.streaming.replicate import mirror_changes

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("p", T.LongType()),
    ]
)
OP_SCHEMA = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])
ROWS = [(i, f"v{i}", i % 3) for i in range(40)]
# ids 30..39 exist, 40..41 are new
CHANGES = [(i, f"c{i}", i % 3) for i in range(30, 42)]


def _frame(spark, rows, schema=SCHEMA):
    # spread over every shuffle partition, as a real micro-batch is
    return spark.createDataFrame(rows, schema).repartition(8)


def _changes_with_ops(spark):
    return _frame(
        spark,
        [(*r, "U" if r[0] < 40 else "I") for r in CHANGES]
        + [(0, None, 0, "D")],
        OP_SCHEMA,
    )


def _changelog_source(spark, tmp_path):
    src = LakehouseTable.create(str(tmp_path / "src"), SCHEMA)
    src.append(_frame(spark, ROWS))
    src.upsert(_frame(spark, CHANGES), key_cols=["id"])
    return src


PATHS = {
    "upsert": lambda spark, t, tmp: t.upsert(
        _frame(spark, CHANGES), key_cols=["id"]
    ),
    "upsert_per_op": lambda spark, t, tmp: t.upsert(
        _changes_with_ops(spark), key_cols=["id"], op_col="op",
        upsert_mode=False,
    ),
    "upsert_per_op_unique": lambda spark, t, tmp: t.upsert(
        _changes_with_ops(spark), key_cols=["id"], op_col="op",
        upsert_mode=False, assume_unique=True,
    ),
    "merge_fast": lambda spark, t, tmp: t.merge(
        spark, _frame(spark, CHANGES), on=["id"]
    ),
    "merge_not_matched_by_source": lambda spark, t, tmp: t.merge(
        spark, _frame(spark, CHANGES), on=["id"],
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="id >= 20",
    ),
    "update_where": lambda spark, t, tmp: t.update_where(
        spark, "id >= 30", {"v": "'u'"}, key_cols=["id"]
    ),
    "update_where_positions": lambda spark, t, tmp: t.update_where_positions(
        spark, "id >= 30", {"v": "'u'"}
    ),
    "mirror_changes": lambda spark, t, tmp: mirror_changes(
        spark, _changelog_source(spark, tmp), t, key_cols=["id"]
    ),
    "sync_to_table": lambda spark, t, tmp: ChangelogStream(
        _changelog_source(spark, tmp), str(tmp / "ckpt")
    ).sync_to_table(spark, t, key_cols=["id"]),
}


@pytest.mark.parametrize("layout", ["none", "hash"])
@pytest.mark.parametrize("path", sorted(PATHS))
def test_row_level_commit_file_counts_without_conf_changes(
    spark, tmp_path, monkeypatch, path, layout
):
    if layout == "hash":
        t = LakehouseTable.create(
            str(tmp_path / "t"), SCHEMA, partition_by="p",
            properties={"write.distribution-mode": "hash"},
        )
    else:
        t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    t.append(_frame(spark, ROWS))
    before = {s["snapshot_id"] for s in t.snapshots()}

    conf_calls = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def spy(self, *args, _orig=orig, _name=name):
            conf_calls.append((_name, args))
            return _orig(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    PATHS[path](spark, t, tmp_path)
    monkeypatch.undo()
    assert conf_calls == []

    new = [s for s in t.snapshots() if s["snapshot_id"] not in before]
    assert any(t._load_manifest(s)[1] for s in new)
    for snap in new:
        data, deletes = t._load_manifest(snap)
        dirs = Counter(os.path.dirname(f["path"]) for f in data)
        # one data file per partition value written (unpartitioned: one)
        assert data and set(dirs.values()) == {1}, dirs
        if layout == "hash":
            assert all("p=" in d for d in dirs)
        else:
            assert len(data) == 1
        kinds = Counter(
            tuple(f["key_cols"]) if "key_cols" in f else f["delete_type"]
            for f in deletes
        )
        assert all(n == 1 for n in kinds.values()), kinds
