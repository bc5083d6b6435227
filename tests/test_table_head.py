"""The table head: ``metadata/version-hint.text`` resolves the current
version without listing ``metadata/``; the ``os.link`` of a version file
stays the conflict detector, and the listing stays the fallback."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks.table import (
    VERSION_HINT,
    CommitConflict,
    LakehouseTable,
)

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


@pytest.fixture()
def table(tmp_path) -> LakehouseTable:
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    for k in range(3):
        t.set_properties({"k": str(k)})
    return t


def _hint(t: LakehouseTable) -> str:
    return os.path.join(t._meta_dir, VERSION_HINT)


def _no_listing(monkeypatch):
    import glob as globmod

    def refuse(*args, **kwargs):
        raise AssertionError("metadata/ was listed")

    monkeypatch.setattr(globmod, "glob", refuse)


def test_commit_writes_the_hint_and_head_needs_no_listing(table, monkeypatch):
    with open(_hint(table)) as f:
        assert f.read() == "3"
    _no_listing(monkeypatch)
    assert table.current_version() == 3
    assert table.metadata()["properties"] == {"k": "2"}
    assert LakehouseTable.exists(table.root)


def test_stale_hint_after_another_writers_link(table):
    """A writer that linked v4 but has not replaced the hint yet (or lost
    the race to replace it) leaves the hint at 3: readers probe past it."""
    meta = table.metadata()
    meta["properties"] = {"k": "other"}
    meta["version"] = 4
    with open(table._version_path(4), "w") as f:
        json.dump(meta, f)
    assert table.current_version() == 4
    assert table.properties() == {"k": "other"}
    # the CAS still detects the conflict against the stale hint's head
    with pytest.raises(CommitConflict):
        table._write_version(4, table.metadata())
    table.set_properties({"k": "next"})
    assert table.current_version() == 5
    with open(_hint(table)) as f:
        assert f.read() == "5"


def test_legacy_table_without_hint(table):
    os.remove(_hint(table))
    assert LakehouseTable.exists(table.root)
    assert table.current_version() == 3
    table.set_properties({"k": "new"})
    assert table.current_version() == 4
    assert os.path.exists(_hint(table))


@pytest.mark.parametrize("text", ["", "three", "3.5", "\x00\x01"])
def test_garbled_hint_falls_back_to_listing(table, text):
    with open(_hint(table), "w") as f:
        f.write(text)
    assert table.current_version() == 3
    assert table.properties() == {"k": "2"}


def test_hint_whose_version_file_was_deleted(table):
    """A hint pointing at a version file that is gone (removed by hand,
    or a table rebuilt under the same root) is not trusted."""
    os.remove(table._version_path(3))
    assert table.current_version() == 2
    assert table.properties() == {"k": "1"}
    with open(_hint(table), "w") as f:
        f.write("9")
    assert table.current_version() == 2


def test_failed_hint_write_keeps_the_commit_and_leaves_no_temp_file(
    table, monkeypatch
):
    """The hint is best effort: when replacing it fails, the commit stands,
    the head is still found, and the hint's temp file is removed."""
    real = os.replace

    def refuse_hint(src, dst):
        if dst.endswith(VERSION_HINT):
            raise OSError(28, "No space left on device")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", refuse_hint)
    table.set_properties({"k": "after"})
    assert table.current_version() == 4
    assert table.metadata()["properties"] == {"k": "after"}
    assert not [n for n in os.listdir(table._meta_dir) if n.startswith(".tmp-")]


def test_no_table_without_versions(tmp_path):
    root = tmp_path / "empty"
    os.makedirs(root / "metadata")
    assert not LakehouseTable.exists(str(root))
    with pytest.raises(FileNotFoundError):
        LakehouseTable(str(root)).current_version()


def test_metadata_json_bytes_match_the_streaming_encoder(table, spark):
    """Version and manifest files are written with the C encoder; the
    bytes are the ones ``json.dump`` writes."""
    df = spark.createDataFrame([(1,), (2,)], SCHEMA)
    snap = table.append(df, snapshot_props={"note": "naïve ✓", "x": "1.5e-7"})
    v = table.current_version()
    for path in (table._version_path(v), os.path.join(table.root, snap["manifest"])):
        with open(path) as f:
            raw = f.read()
        doc = json.loads(raw)
        chunks = []

        class Sink:
            write = chunks.append

        json.dump(doc, Sink())
        assert raw == "".join(chunks)


def _ids(spark, lo, hi):
    return spark.createDataFrame([(i,) for i in range(lo, hi)], SCHEMA)


# method → (extra table state it needs, the call)
HEAD_READERS = {
    "live_files": (None, lambda t, spark, tmp: t.live_files()),
    "rewrite_position_deletes": (
        lambda t, spark: t.delete_where_positions(spark, "id = 2"),
        lambda t, spark, tmp: t.rewrite_position_deletes(spark),
    ),
    "clone_to": (None, lambda t, spark, tmp: t.clone_to(str(tmp / "clone"))),
    "rewrite_small_files": (
        None,
        lambda t, spark, tmp: t.rewrite_small_files(spark, min_file_size=1 << 30),
    ),
    "rewrite_manifests": (None, lambda t, spark, tmp: t.rewrite_manifests()),
    "remove_dangling_deletes": (
        None,
        lambda t, spark, tmp: t.remove_dangling_deletes(),
    ),
    "rewrite_where": (
        None,
        lambda t, spark, tmp: t.rewrite_where(spark, "id >= 0"),
    ),
    "column_stats": (None, lambda t, spark, tmp: t.column_stats()),
    "compute_partition_statistics": (
        None,
        lambda t, spark, tmp: t.compute_partition_statistics(),
    ),
}


@pytest.mark.parametrize("method", sorted(HEAD_READERS))
def test_head_readers_load_the_head_once(spark, tmp_path, monkeypatch, method):
    """Each method plans from one head load (its snapshot lookups reuse
    it); a commit it makes loads once more per attempt inside
    ``_update_metadata``, which is not counted here."""
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    t.append(_ids(spark, 0, 4))
    t.append(_ids(spark, 4, 8))
    t.upsert(_ids(spark, 1, 2), key_cols=["id"])
    prep, call = HEAD_READERS[method]
    if prep is not None:
        prep(t, spark)
    callers = []
    orig = LakehouseTable.metadata

    def counting(self):
        caller = sys._getframe(1).f_code.co_name
        if self.root == t.root and caller != "_update_metadata":
            callers.append(caller)
        return orig(self)

    monkeypatch.setattr(LakehouseTable, "metadata", counting)
    call(t, spark, tmp_path)
    assert callers == [method]
