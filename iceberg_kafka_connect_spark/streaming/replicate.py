"""Incremental table replication over the changelog.

The downstream half of the CDC story: the ingestion pipeline lands upserts
into a source table; ``mirror_changes`` ships them to a replica by polling
``changes_between`` and applying ONLY the net per-key effect — the same
consume-changelog-apply-merge loop Iceberg users run with
``create_changelog_view`` + MERGE.

Exactly-once: the last mirrored source snapshot id is recorded in the
replica's snapshot summary (``mirror.src-snapshot-id``) — the same
offsets-inside-snapshot idempotence trick the reference uses for Kafka
offsets (Coordinator.java:193-202). A crashed/replayed poll re-reads the
marker and re-applies the same range; the per-op upsert path makes the
application idempotent.

Scale shape: each poll reads O(files added since last poll) (changelog),
collapses per key (one shuffle of the CHANGED keys only), and applies one
equality-delete upsert to the replica — never a full scan of either table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cdc import DELETE, UPDATE

_MARKER = "mirror.src-snapshot-id"


def mirror_changes(
    spark: SparkSession,
    src,
    dst,
    key_cols: list[str],
    branch: str = "main",
) -> dict | None:
    """Apply source changes since the last mirrored snapshot to ``dst``.

    Returns the replica's new snapshot, or None when already up to date
    (a range of row-less source snapshots commits a marker-only advance).
    ``key_cols`` must uniquely identify rows (the table's id-columns).
    """
    head_snap = src.current_snapshot(branch)
    if head_snap is None:
        return None
    head = head_snap["snapshot_id"]
    last = dst.last_summary_value(_MARKER)
    if last == head:
        return None
    ch = src.changes_between(spark, last, head, branch=branch)
    # net effect per key: the change with the highest (ordinal, insert>delete)
    # wins — an upsert snapshot emits delete+insert at one ordinal and the
    # insert is the survivor
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_change_ordinal").desc(),
        (F.col("_change_type") == "insert").desc(),
    )
    net = (
        ch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "_change_snapshot_id", "_change_ordinal")
        .withColumn(
            "__op",
            F.when(
                F.col("_change_type") == "delete", F.lit(DELETE)
            ).otherwise(F.lit(UPDATE)),
        )
        .drop("_change_type")
    )
    # the row_number collapse above guarantees one row per key
    return apply_changes(dst, net, key_cols, {_MARKER: head}, branch)


def apply_changes(
    dst,
    changes: DataFrame,
    key_cols: list[str],
    props: dict,
    branch: str,
    empty: bool | None = None,
) -> dict:
    """Apply a per-op change frame to ``dst`` as ONE commit carrying
    ``props``: the per-op upsert without its arrival-order window, so
    UPDATE and DELETE rows delete their key and every non-DELETE row is
    appended. A change-less frame (e.g. empty appends moved the source
    head) still commits an empty append, so the marker in ``props``
    advances and the next poll does not re-read the stale range —
    O(new files) stays true. A caller that already persisted ``changes``
    and counted its rows passes ``empty``; no second persist or probe."""
    if empty is None:
        # the upsert consumes this twice (delete keys + inserts) on top of
        # the emptiness probe — persist so the change scan runs once
        changes = changes.persist()
        try:
            return apply_changes(
                dst, changes, key_cols, props, branch, changes.isEmpty()
            )
        finally:
            changes.unpersist()
    if empty:
        return dst._commit_snapshot("append", [], [], props, branch)
    return dst.upsert(
        changes,
        key_cols=key_cols,
        op_col="__op",
        upsert_mode=False,
        snapshot_props=props,
        assume_unique=True,
    )
