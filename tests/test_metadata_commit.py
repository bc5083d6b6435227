"""The optimistic metadata commit (``LakehouseTable._update_metadata``):
every public method that changes table metadata retries a lost version
CAS, returns what it returns without the conflict, and leaves no
uncommitted manifest or statistics file behind — neither after a retry
that lands nor after ``COMMIT_RETRIES`` lost attempts."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sinks.table import (
    COMMIT_RETRIES,
    CommitConflict,
    LakehouseTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("p", T.StringType()),
    ]
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}", f"p{i % 2}") for i in range(lo, hi)], SCHEMA
    )


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A table whose state lets every case below change its metadata:
    main s1 (tagged t0) → s2 → two position deletes (s3, s4); branch
    ``audit`` one staged append past main (wap.id w1); one unreferenced
    snapshot left by a dropped branch; plus an external parquet dir."""
    work = tmp_path_factory.mktemp("commit")
    root = str(work / "base")
    t = LakehouseTable.create(
        root, SCHEMA, partition_by=["p"], identifier_fields=["id"]
    )
    ids = {"s1": t.append(_df(spark, 0, 6))["snapshot_id"]}
    t.create_tag("t0")
    ids["s2"] = t.append(_df(spark, 6, 12))["snapshot_id"]
    t.delete_where_positions(spark, "id = 1")
    t.delete_where_positions(spark, "id = 2")
    t.create_branch("audit")
    ids["audit"] = t.append(
        _df(spark, 12, 15), branch="audit", snapshot_props={"wap.id": "w1"}
    )["snapshot_id"]
    t.create_branch("scratch")
    ids["orphan"] = t.append(_df(spark, 20, 21), branch="scratch")[
        "snapshot_id"
    ]
    t.drop_branch("scratch")
    src = str(work / "external")
    _df(spark, 30, 33).coalesce(1).write.parquet(src)
    return root, ids, src


def _binpack(t, spark):
    # folds the position deletes' data files away: the deletes dangle
    t.rewrite_small_files(spark, min_file_size=1 << 40)


# (public method, call, prep) — each call changes the table's metadata
CASES = [
    ("append", lambda t, s, ids, src: t.append(_df(s, 40, 42)), None),
    ("overwrite", lambda t, s, ids, src: t.overwrite(_df(s, 40, 42)), None),
    (
        "upsert",
        lambda t, s, ids, src: t.upsert(_df(s, 5, 7), key_cols=["id"]),
        None,
    ),
    (
        "merge",
        lambda t, s, ids, src: t.merge(s, _df(s, 5, 7), on=["id"]),
        None,
    ),
    (
        "delete_where",
        lambda t, s, ids, src: t.delete_where(s, "id = 3", key_cols=["id"]),
        None,
    ),
    (
        "delete_where_positions",
        lambda t, s, ids, src: t.delete_where_positions(s, "id = 4"),
        None,
    ),
    (
        "update_where",
        lambda t, s, ids, src: t.update_where(
            s, "id = 5", {"v": "'x'"}, key_cols=["id"]
        ),
        None,
    ),
    (
        "update_where_positions",
        lambda t, s, ids, src: t.update_where_positions(
            s, "id = 5", {"v": "'x'"}
        ),
        None,
    ),
    ("truncate", lambda t, s, ids, src: t.truncate(), None),
    ("add_files", lambda t, s, ids, src: t.add_files(src), None),
    ("compact", lambda t, s, ids, src: t.compact(s), None),
    (
        "rewrite_small_files",
        lambda t, s, ids, src: t.rewrite_small_files(s, min_file_size=1 << 40),
        None,
    ),
    (
        "rewrite_where",
        lambda t, s, ids, src: t.rewrite_where(s, "id < 3"),
        None,
    ),
    ("rewrite_manifests", lambda t, s, ids, src: t.rewrite_manifests(), None),
    (
        "rewrite_position_deletes",
        lambda t, s, ids, src: t.rewrite_position_deletes(s),
        None,
    ),
    (
        "remove_dangling_deletes",
        lambda t, s, ids, src: t.remove_dangling_deletes(),
        _binpack,
    ),
    (
        "evolve_schema",
        lambda t, s, ids, src: t.evolve_schema(
            T.StructType(
                SCHEMA.fields + [T.StructField("w", T.IntegerType())]
            )
        ),
        None,
    ),
    (
        "add_column",
        lambda t, s, ids, src: t.add_column("z", T.LongType()),
        None,
    ),
    (
        "update_partition_spec",
        lambda t, s, ids, src: t.update_partition_spec(["v"]),
        None,
    ),
    (
        "rename_column",
        lambda t, s, ids, src: t.rename_column("v", "v2"),
        None,
    ),
    ("drop_column", lambda t, s, ids, src: t.drop_column("v"), None),
    ("analyze", lambda t, s, ids, src: t.analyze(s), None),
    (
        "compute_statistics",
        lambda t, s, ids, src: t.compute_statistics(s, k=16),
        None,
    ),
    (
        "compute_partition_statistics",
        lambda t, s, ids, src: t.compute_partition_statistics(),
        None,
    ),
    (
        "expire_snapshots",
        lambda t, s, ids, src: t.expire_snapshots(keep_last=1),
        None,
    ),
    (
        "remove_snapshots",
        lambda t, s, ids, src: t.remove_snapshots([ids["orphan"]]),
        None,
    ),
    ("rollback", lambda t, s, ids, src: t.rollback(ids["s2"]), None),
    (
        "set_ref_retention",
        lambda t, s, ids, src: t.set_ref_retention(
            "audit", max_ref_age_ms=10**9
        ),
        None,
    ),
    ("create_branch", lambda t, s, ids, src: t.create_branch("b2"), None),
    (
        "set_branch",
        lambda t, s, ids, src: t.set_branch("audit", ids["s2"]),
        None,
    ),
    ("drop_branch", lambda t, s, ids, src: t.drop_branch("audit"), None),
    (
        "fast_forward",
        lambda t, s, ids, src: t.fast_forward("main", "audit"),
        None,
    ),
    (
        "cherry_pick",
        lambda t, s, ids, src: t.cherry_pick(ids["audit"]),
        None,
    ),
    ("publish_wap", lambda t, s, ids, src: t.publish_wap("w1"), None),
    (
        "set_properties",
        lambda t, s, ids, src: t.set_properties({"k": "v"}),
        None,
    ),
    ("create_tag", lambda t, s, ids, src: t.create_tag("t1"), None),
    ("drop_tag", lambda t, s, ids, src: t.drop_tag("t0"), None),
]
IDS = [c[0] for c in CASES]

_ID = re.compile(
    r"[0-9a-f]{32}|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)


def _normalize(obj, names: dict[str, str]):
    """Results of runs on copies of one table, comparable: snapshot ids
    that existed before the call become their position in the snapshot
    list, and the ids, clocks and file names a fresh commit draws are
    masked out."""
    if isinstance(obj, dict):
        return {
            k: _normalize(v, names)
            for k, v in obj.items()
            if k not in ("timestamp_ms", "commit-uuid", "manifest")
        }
    if isinstance(obj, (list, tuple)):
        return [_normalize(v, names) for v in obj]
    if isinstance(obj, str):
        return _ID.sub(lambda m: names.get(m[0], "<new>"), obj)
    return obj


def _names(root: str) -> dict[str, str]:
    snaps = LakehouseTable(root).snapshots()
    return {s["snapshot_id"]: f"s{i}" for i, s in enumerate(snaps)}


def _meta_files(root: str) -> list[str]:
    """Manifests and statistics files under ``metadata/``."""
    meta = os.path.join(root, "metadata")
    return sorted(
        glob.glob(os.path.join(meta, "man-*.json"))
        + glob.glob(os.path.join(meta, "*stats-*"))
    )


def _run(monkeypatch, root, call, spark, ids, src, losses):
    """Run ``call`` on the table at ``root`` with the first ``losses``
    version writes losing the CAS; returns (result or raised exception,
    ``_write_version`` calls)."""
    real = LakehouseTable._write_version
    calls = []

    def flaky(self, version, meta):
        calls.append(version)
        if len(calls) <= losses:
            raise CommitConflict("injected: concurrent writer won the CAS")
        return real(self, version, meta)

    monkeypatch.setattr(LakehouseTable, "_write_version", flaky)
    try:
        return call(LakehouseTable(root), spark, ids, src), len(calls)
    except CommitConflict as e:
        return e, len(calls)
    finally:
        monkeypatch.undo()


def _copy(base_root, root, prep, spark) -> str:
    shutil.copytree(base_root, root)
    if prep is not None:
        prep(LakehouseTable(root), spark)
    return root


@pytest.mark.parametrize("call,prep", [c[1:] for c in CASES], ids=IDS)
def test_one_lost_cas_is_retried(
    spark, base, tmp_path, monkeypatch, call, prep
):
    """One lost CAS costs one more ``_write_version`` call and changes
    neither the result nor the files a clean commit leaves."""
    base_root, ids, src = base
    clean_root = _copy(base_root, str(tmp_path / "clean"), prep, spark)
    retry_root = _copy(base_root, str(tmp_path / "retry"), prep, spark)
    clean_names, retry_names = _names(clean_root), _names(retry_root)

    clean, clean_calls = _run(
        monkeypatch, clean_root, call, spark, ids, src, 0
    )
    assert not isinstance(clean, CommitConflict)
    assert clean_calls >= 1, "the call wrote no version"
    retried, calls = _run(monkeypatch, retry_root, call, spark, ids, src, 1)
    assert not isinstance(retried, CommitConflict)
    assert _normalize(retried, retry_names) == _normalize(clean, clean_names)
    assert calls == clean_calls + 1
    # a lost attempt's manifests are removed: both runs add as many
    assert len(_meta_files(retry_root)) == len(_meta_files(clean_root))


@pytest.mark.parametrize("call,prep", [c[1:] for c in CASES], ids=IDS)
def test_lost_commit_leaves_metadata_unchanged(
    spark, base, tmp_path, monkeypatch, call, prep
):
    """``COMMIT_RETRIES`` lost attempts raise ``CommitConflict`` and leave
    ``metadata/`` as it was: no version, and no manifest or statistics
    file (statistics files are written once, before the commit)."""
    base_root, ids, src = base
    root = _copy(base_root, str(tmp_path / "t"), prep, spark)
    meta_dir = os.path.join(root, "metadata")
    before = sorted(os.listdir(meta_dir))

    lost, calls = _run(
        monkeypatch, root, call, spark, ids, src, COMMIT_RETRIES
    )
    assert isinstance(lost, CommitConflict)
    assert calls == COMMIT_RETRIES
    assert sorted(os.listdir(meta_dir)) == before


def test_drop_column_guard_reads_only_the_attempt_metadata(
    spark, tmp_path, monkeypatch
):
    """The drop guard checks the equality deletes live on every branch
    head of the metadata the attempt commits, loading no head of its own:
    one ``metadata()`` call per attempt on a table with a branch and a
    tag, and a refusal for a column only the branch's deletes key on."""
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA)
    t.append(_df(spark, 0, 4))
    t.create_branch("b")
    t.create_tag("t0")
    t.upsert(_df(spark, 2, 3), key_cols=["v"], branch="b")
    loads = []
    orig = LakehouseTable.metadata

    def counting(self):
        loads.append(1)
        return orig(self)

    monkeypatch.setattr(LakehouseTable, "metadata", counting)
    t.drop_column("p")
    assert len(loads) == 1
    with pytest.raises(ValueError, match="branch 'b'"):
        t.drop_column("v")
    assert len(loads) == 2
