"""Resumable micro-batch CDC source over a Lakehouse table's changelog.

``changes_between`` (sinks/table.py) is the batch changelog scan; this
module is its streaming face — the read-side twin of ``iceberg_sync_loop``
(streaming/iceberg_sync.py): a downstream pipeline consumes this engine's
tables per committed snapshot the way the reference's downstream consumers
use commit events (channel/Coordinator.java:259-275, T12), with
checkpointed resume across restarts.

Two consumption modes:

- :meth:`ChangelogStream.process_available` — generic callback per source
  snapshot. The checkpoint (an atomically-replaced JSON file) advances
  only AFTER the callback returns, so a crash replays the in-flight
  snapshot: at-least-once for arbitrary side effects, exactly-once when
  the callback is idempotent per ``snapshot_id`` (the same contract
  Structured Streaming's foreachBatch gives batch ids).
- :meth:`ChangelogStream.sync_to_table` — built-in Lakehouse sink with
  TRUE exactly-once: the consumed source snapshot id rides the sink
  commit's summary (``changelog.src-snapshot-id``), so the checkpoint and
  the data land in ONE atomic metadata commit. On restart the sink's
  recorded marker — not the (possibly stale) local file — decides where
  to resume: a crash between the sink commit and the checkpoint write
  replays nothing and misses nothing. This is the engine's own
  offsets-inside-snapshot idempotence (streaming/pipeline.py, T9/T15)
  applied to table-to-table CDC.

Scale shape: each poll lists snapshots (metadata only) and reads exactly
the files the new snapshots added — O(new data) per interval, never a
rescan; the replay is shuffle-free (delete keys and appended rows pass
straight through to the sink's per-op writer).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import DELETE, INSERT
from ..sinks.table import MAIN
from .replicate import apply_changes

_MARKER = "changelog.src-snapshot-id"


class ChangelogStream:
    def __init__(
        self,
        table,
        checkpoint_dir: str,
        branch: str = MAIN,
        on_rewrite: str = "error",
        where: str | None = None,
        with_lineage: bool = False,
    ):
        """``on_rewrite`` decides what happens when a pending snapshot is a
        history rewrite (compaction/expiry seal) that ``changes_between``
        refuses: ``"error"`` (default) surfaces the refusal — the operator
        must decide; ``"diff"`` hops over it with
        :meth:`LakehouseTable.snapshot_diff` — the net change across the
        rewrite (zero rows for a pure compaction) flows as that snapshot's
        batch and the stream continues.

        ``where`` makes this a FILTERED changelog source (a tenant-sharded
        mirror): each batch carries only matching change rows, with the
        added files bounds-pruned before any open
        (``changes_between(where=)``, lenient mode): DELETE rows whose
        non-key columns are NULL pass through unevaluated and no-op at
        the destination when their key is outside the shard — nothing
        inside the shard is ever lost.

        ``with_lineage`` (v3 tables) adds ``_row_id`` /
        ``_last_updated_sequence_number`` to every batch — inserts carry
        the ids they create, position-delete rows the ids they kill —
        so a consumer can key its state on row identity
        (``changes_between(with_lineage=)``). Rewrite hops via
        ``on_rewrite="diff"`` raise: a snapshot_diff has no per-row
        change identity to attach ids to."""
        if on_rewrite not in ("error", "diff"):
            raise ValueError(f"on_rewrite must be 'error' or 'diff', got {on_rewrite!r}")
        self.table = table
        self.branch = branch
        self.on_rewrite = on_rewrite
        self.where = where
        self.with_lineage = with_lineage
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._ckpt = os.path.join(checkpoint_dir, "changelog-offset.json")

    def _changes(self, spark: SparkSession, prev: str | None, sid: str) -> DataFrame:
        try:
            return self.table.changes_between(
                spark, prev, sid, branch=self.branch, where=self.where,
                where_mode="lenient", with_lineage=self.with_lineage,
            )
        except ValueError as e:
            if self.on_rewrite == "diff" and "rewrites history" in str(e):
                if self.with_lineage:
                    raise ValueError(
                        "with_lineage cannot hop a history rewrite via "
                        "snapshot_diff (diff rows carry no change "
                        "identity); resolve the rewrite explicitly"
                    ) from e
                # pushed into both endpoint reads (file pruning); diff rows
                # are FULL rows, so the predicate always evaluates
                return self.table.snapshot_diff(
                    spark, prev, sid, branch=self.branch, where=self.where
                )
            raise

    # ------------------------------------------------------------ offsets
    def last_processed(self) -> str | None:
        if not os.path.isfile(self._ckpt):
            return None
        with open(self._ckpt) as f:
            return json.load(f).get("snapshot_id")

    def _commit_offset(self, snapshot_id: str) -> None:
        tmp = self._ckpt + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snapshot_id}, f)
        os.replace(tmp, self._ckpt)  # atomic on POSIX

    def pending(self, since: str | None = None) -> list[dict]:
        """Snapshots after ``since`` (default: the checkpoint) up to the
        branch head, oldest first — the micro-batches of the stream."""
        start = self.last_processed() if since is None else since
        meta = self.table.metadata()
        head = meta["refs"].get(self.branch)
        out: list[dict] = []
        sid = head
        while sid is not None and sid != start:
            snap = self.table._snapshot_by_id(meta, sid)
            out.append(snap)
            sid = snap["parent"]
        if sid is None and start is not None:
            raise ValueError(
                f"checkpointed snapshot {start!r} is not an ancestor of "
                f"the {self.branch!r} head — was history rewritten "
                "(compaction/expire) under the stream?"
            )
        return list(reversed(out))

    # ------------------------------------------------------ generic sink
    def process_available(
        self,
        spark: SparkSession,
        on_batch: Callable[[DataFrame, str], None],
        max_snapshots: int | None = None,
    ) -> int:
        """Feed each pending snapshot's change rows to ``on_batch(df,
        snapshot_id)``, checkpointing AFTER each callback. Returns the
        number of snapshots processed."""
        done = 0
        prev = self.last_processed()
        for snap in self.pending():
            if max_snapshots is not None and done >= max_snapshots:
                break
            sid = snap["snapshot_id"]
            df = self._changes(spark, prev, sid)
            on_batch(df, sid)
            self._commit_offset(sid)
            prev = sid
            done += 1
        return done

    # ----------------------------------------------------- lakehouse sink
    def sync_to_table(
        self,
        spark: SparkSession,
        dst,
        key_cols: list[str],
        max_snapshots: int | None = None,
    ) -> int:
        """Apply pending source snapshots to ``dst`` one commit per
        snapshot, exactly-once: the source snapshot id rides each sink
        commit's summary, and resume reads the SINK's marker first — a
        crash between the sink commit and the local checkpoint write
        neither replays nor misses a row. Returns snapshots applied."""
        sink_marker = dst.last_summary_value(_MARKER)
        start = sink_marker if sink_marker is not None else self.last_processed()
        applied = 0
        prev = start
        for snap in self.pending(since=start):
            if max_snapshots is not None and applied >= max_snapshots:
                break
            sid = snap["snapshot_id"]
            ch = self._changes(spark, prev, sid)
            # replay the snapshot VERBATIM, no per-key collapse: delete
            # rows become equality-delete keys, insert rows append blindly
            # (per-op mode) — a collapse keyed on key_cols would pick one
            # arbitrary survivor when a source append legitimately carries
            # duplicate keys, nondeterministically dropping rows. The
            # delete file sequences before the appended rows inside the
            # one sink commit, so delete+insert at one ordinal (an upsert)
            # replays exactly.
            # lineage columns (with_lineage=True) are change METADATA for
            # callback/stream consumers keying state on row identity —
            # never destination data: leaving them in would silently
            # evolve the sink schema with _row_id columns and break a
            # later read_with_lineage on a v3 destination (duplicate
            # field against LINEAGE_FIELDS)
            net = (
                ch.drop(
                    "_change_snapshot_id",
                    "_change_ordinal",
                    "_row_id",
                    "_last_updated_sequence_number",
                )
                .withColumn(
                    "__op",
                    F.when(
                        F.col("_change_type") == "delete", F.lit(DELETE)
                    ).otherwise(F.lit(INSERT)),
                )
                .drop("_change_type")
            )
            apply_changes(dst, net, key_cols, {_MARKER: sid}, MAIN)
            self._commit_offset(sid)
            prev = sid
            applied += 1
        return applied


def changelog_sync_loop(
    stream: ChangelogStream,
    spark: SparkSession,
    dst,
    key_cols: list[str],
    poll_interval_s: float = 1.0,
    max_polls: int | None = None,
    stop_when_current: bool = False,
) -> dict:
    """Continuous table-to-table CDC: poll the source and apply new
    snapshots to ``dst`` until stopped — the changelog-side twin of
    ``iceberg_sync_loop`` (streaming/iceberg_sync.py), with the same
    loop controls (``max_polls`` for tests/batch catch-up,
    ``stop_when_current`` to drain and return). A poll at an unchanged
    head costs one metadata read. Returns {"polls": n, "synced": total
    snapshots applied}."""
    import time as _time

    polls = synced = 0
    while max_polls is None or polls < max_polls:
        polls += 1
        n = stream.sync_to_table(spark, dst, key_cols)
        synced += n
        if n == 0 and stop_when_current:
            break
        if max_polls is None or polls < max_polls:
            _time.sleep(poll_interval_s)
    return {"polls": polls, "synced": synced}


class ChangelogPipeline:
    """Config-driven table→table CDC: a Lakehouse table as the SOURCE of a
    pipeline, symmetric with ``sources/stream.py``'s kafka/file sources and
    driven by the same connector-style property names the sink pipeline
    uses. Wraps :class:`ChangelogStream` + :func:`changelog_sync_loop` as a
    rate-limited driver: the poll interval is the commit-interval trigger
    (``iceberg.control.commit.interval-ms``, T1's idiom) and resume is the
    stream's exactly-once sink-marker protocol — kill/restart replays no
    snapshot and misses none.

    Property surface (``from_properties``)::

        iceberg.source.table        source table name (required)
        iceberg.source.branch       source branch        (default main)
        iceberg.source.on-rewrite   error | diff         (default error)
        iceberg.source.where        filter over change rows (tenant shard)
        iceberg.tables              destination table    (required, one)
        iceberg.tables.default-id-columns   upsert key   (required)
        iceberg.tables.auto-create-enabled  create dst from source schema
        iceberg.control.commit.interval-ms  poll interval (default 300000)
    """

    def __init__(
        self,
        catalog,
        src_name: str,
        dst_name: str,
        key_cols: list[str],
        checkpoint_dir: str,
        branch: str = MAIN,
        on_rewrite: str = "error",
        poll_interval_s: float = 300.0,
        auto_create: bool = False,
        where: str | None = None,
        with_lineage: bool = False,
    ):
        self.catalog = catalog
        self.src_name = src_name
        self.dst_name = dst_name
        self.key_cols = list(key_cols)
        self.checkpoint_dir = checkpoint_dir
        self.branch = branch
        self.on_rewrite = on_rewrite
        self.poll_interval_s = poll_interval_s
        self.auto_create = auto_create
        self.where = where
        self.with_lineage = with_lineage

    @classmethod
    def from_properties(
        cls, catalog, props: dict[str, str], checkpoint_dir: str
    ) -> "ChangelogPipeline":
        src = props.get("iceberg.source.table")
        if not src:
            raise ValueError(
                "a table-source pipeline needs iceberg.source.table"
            )
        dst_raw = props.get("iceberg.tables", "")
        dsts = [t.strip() for t in dst_raw.split(",") if t.strip()]
        if len(dsts) != 1:
            raise ValueError(
                "a table-source pipeline routes to exactly one destination "
                f"(iceberg.tables), got {dst_raw!r}"
            )
        dst = dsts[0]
        keys = [
            k.strip()
            for k in (
                props.get(f"iceberg.table.{dst}.id-columns")
                or props.get("iceberg.tables.default-id-columns", "")
            ).split(",")
            if k.strip()
        ]
        if not keys:
            raise ValueError(
                "a table-source pipeline needs id columns "
                "(iceberg.tables.default-id-columns) for its CDC replay"
            )
        return cls(
            catalog,
            src,
            dst,
            keys,
            checkpoint_dir,
            branch=props.get("iceberg.source.branch", MAIN),
            on_rewrite=props.get("iceberg.source.on-rewrite", "error"),
            poll_interval_s=(
                int(props.get("iceberg.control.commit.interval-ms", "300000"))
                / 1000.0
            ),
            auto_create=props.get(
                "iceberg.tables.auto-create-enabled", "false"
            ).lower()
            == "true",
            where=props.get("iceberg.source.where"),
        )

    def run(
        self,
        spark: SparkSession,
        available_now: bool = False,
        max_polls: int | None = None,
    ) -> dict:
        """Drive the sync loop: ``available_now`` drains pending snapshots
        and returns (the CLI's --once semantics); otherwise polls at the
        commit interval until ``max_polls``."""
        src = self.catalog.load_table(self.src_name)
        if not self.catalog.table_exists(self.dst_name):
            if not self.auto_create:
                raise ValueError(
                    f"destination {self.dst_name!r} does not exist "
                    "(set iceberg.tables.auto-create-enabled=true)"
                )
            # logical schema only — a partitioned source's derived
            # partition columns are layout, not data
            self.catalog.create_table(self.dst_name, src.schema())
        dst = self.catalog.load_table(self.dst_name)
        stream = ChangelogStream(
            src, self.checkpoint_dir, branch=self.branch,
            on_rewrite=self.on_rewrite, where=self.where,
            with_lineage=self.with_lineage,
        )
        return changelog_sync_loop(
            stream,
            spark,
            dst,
            self.key_cols,
            poll_interval_s=self.poll_interval_s,
            max_polls=1 if available_now else max_polls,
            stop_when_current=available_now,
        )


# ------------------------------------------------------------- full repair
def reconcile(
    stream: ChangelogStream, spark: SparkSession, dst, key_cols: list[str]
) -> dict:
    """Full-state repair for when incremental resume is impossible — the
    checkpointed snapshot was EXPIRED from source history (``pending``'s
    not-an-ancestor refusal), or the destination was mutated out-of-band.
    Computes the minimal delta between the source and destination CURRENT
    states (multiset ``exceptAll`` both ways) and applies it as ONE sink
    commit carrying the source head marker — incremental sync re-arms
    from that head on the next poll.

    Contract: ``key_cols`` must identify rows uniquely on both sides (the
    same key-unique contract ``sync_to_table``'s upsert replay already
    assumes) — the repair deletes by key then re-inserts the source's
    row, so duplicate keys would over-delete.

    Scale: two full scans + two exceptAll shuffles — the honest cost of a
    repair; the applied delta (and the sink commit) is only as large as
    the actual divergence. Returns {"deletes": n, "inserts": n,
    "src_snapshot_id": head}.
    """
    head = stream.table.metadata()["refs"].get(stream.branch)
    cols = [f.name for f in stream.table.schema().fields]
    src_state = stream.table.read(
        spark, branch=stream.branch, where=stream.where
    ).select(*cols)
    dst_state = dst.read(spark).select(*cols)
    stale = dst_state.exceptAll(src_state).withColumn("__op", F.lit(DELETE))
    missing = src_state.exceptAll(dst_state).withColumn(
        "__op", F.lit(INSERT)
    )
    delta = stale.unionByName(missing).persist()
    try:
        n_del = delta.filter(F.col("__op") == DELETE).count()
        n_ins = delta.filter(F.col("__op") == INSERT).count()
        # states that already agree still stamp the marker, so
        # incremental resume starts from the verified head
        if n_del or n_ins or head is not None:
            props = {_MARKER: head} if head is not None else {}
            apply_changes(
                dst, delta, key_cols, props, MAIN, not (n_del or n_ins)
            )
    finally:
        delta.unpersist()
    if head is not None:
        stream._commit_offset(head)
    return {"deletes": n_del, "inserts": n_ins, "src_snapshot_id": head}
