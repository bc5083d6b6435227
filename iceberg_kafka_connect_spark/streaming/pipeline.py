"""SinkPipeline — the whole connector, Spark-first.

The reference dedicates ~2,500 LoC to worker/coordinator channels, control
topics, commit barriers, and leader election (SURVEY.md §2.6 T2-T5, T8-T11).
Structured Streaming replaces all of it:

- commit interval trigger (T1)  → trigger(processingTime=commit.interval-ms)
- StartCommit / DataComplete barrier (T2-T5) → the micro-batch itself
- one atomic snapshot per table per batch (T6/T7) → LakehouseTable commit
- exactly-once recovery (T9) → checkpoint + batch-id-in-snapshot-summary:
  on restart the batch replays and every already-committed table skips it
  (the reference stores offsets in snapshot props and filters the same way,
  Coordinator.java:193-202)
- offsets + VTTS snapshot props (S2/A2/T6) → computed per batch and stamped
  into each snapshot's summary (Coordinator.java:63-65)
- multi-table fan-out (R1-R3, T8) → one persisted batch, per-table filtered
  writes

Scale: the batch DataFrame is persisted once and every routed table write is
a column-pruned pass; per-table commits are independent snapshots, written
on a thread pool of ``commit_threads`` (default 2 × CPUs, the reference's
commit.threads), which the table commit protocol (one optimistic, retried
metadata commit per change) makes safe. The micro-batch, not the table
write, is the unit of atomicity: a replay skips every table that already
committed it.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SinkConfig
from ..operators.cdc import cdc_op_col
from ..routing import (
    RouteSpec,
    RoutingConfig,
    plan_routes,
    static_route_filter,
)
from ..schema import force_optional
from ..session import caller_job_group_target
from ..sinks.catalog import Catalog

BATCH_ID_PROP = "streaming-batch-id"
PIPELINE_PROP = "pipeline-id"
OFFSETS_PROP = "kafka.connect.offsets"  # name parity with snapshot summary
VTTS_PROP = "vtts-ms"


class SinkPipeline:
    def __init__(
        self,
        catalog: Catalog,
        config: SinkConfig,
        pipeline_id: str,
        value_schema: T.StructType | None = None,
        transforms: list | None = None,
        value_converter=None,
        key_converter=None,
    ):
        self.catalog = catalog
        self.config = config
        self.pipeline_id = pipeline_id
        self.value_schema = value_schema
        self.transforms = transforms or []
        # the Connect framework's value.converter / key.converter stages
        # (README.md:77), built by sources.confluent
        # converter_from_properties: rewrite wire bytes -> JSON text,
        # null-safe (tombstones pass)
        self.value_converter = value_converter
        self.key_converter = key_converter

    # ------------------------------------------------------------ batch body
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One aggregation pass computes offsets, VTTS, AND the malformed
        count; the only other full passes are the per-table writes. This is
        the hot path — a 100 TB pipeline lives here."""
        cfg = self.config
        if self.key_converter is not None and "key" in batch.columns:
            batch = self.key_converter(batch)
        if self.value_converter is not None:
            batch = self.value_converter(batch)
        # P1 entry: parse value into record fields, keep kafka metadata.
        # Offsets/VTTS are computed over the UNFILTERED batch (tombstones
        # included) so a partition whose trailing records are tombstones
        # still advances next_offset in the snapshot summary.
        if self.value_schema is not None:
            # Malformed detection rides INSIDE the one from_json call via a
            # corrupt-record column — broken JSON, valid-but-not-an-object
            # (bare scalar/array), and values unconvertible to the declared
            # field types all populate it. One parse per record instead of
            # the two a separate try_parse_json probe costs (~35% of the
            # parse path at sf0.1); semantics match the reference's
            # DataException on any record the converter can't apply
            # (RecordConverter.java:107-140 throws on unconvertible input,
            # which errors.tolerance routes to the DLQ or fails the batch).
            corrupt = "__iks_corrupt"
            from pyspark.sql import types as T

            parse_schema = T.StructType(
                list(self.value_schema.fields)
                + [T.StructField(corrupt, T.StringType())]
            )
            parsed = (
                batch.select(
                    F.from_json(
                        "value",
                        parse_schema,
                        {"columnNameOfCorruptRecord": corrupt},
                    ).alias("__row"),
                    # P2: null kafka value is an upstream delete marker
                    F.col("value").isNull().alias("__tomb"),
                    "value",
                    "topic",
                    "partition",
                    "offset",
                    "timestamp",
                )
                .withColumn(
                    "__bad",
                    ~F.col("__tomb")
                    & F.col(f"__row.{corrupt}").isNotNull(),
                )
                .persist()
            )
            props, n_bad, n_good = self._stats(parsed, batch_id)
            if props is None:
                parsed.unpersist()
                return  # empty batch
            if n_bad:
                bad = parsed.filter(F.col("__bad"))
                if cfg.dlq_table and cfg.errors_tolerance == "all":
                    self._write_dlq(bad, batch_id)
                elif cfg.errors_tolerance == "none":
                    sample = bad.select("topic", "partition", "offset").first()
                    parsed.unpersist()
                    raise ValueError(
                        f"malformed record at {sample['topic']}-"
                        f"{sample['partition']}:{sample['offset']} "
                        "(errors.tolerance=none)"
                    )
            if n_good == 0:
                parsed.unpersist()
                return  # nothing valid to land (DLQ already handled)
            records = (
                parsed.filter(~F.col("__tomb") & ~F.col("__bad"))
                .select("__row.*", "topic", "partition", "offset", "timestamp")
                .drop(corrupt)
            )
        else:
            parsed = None
            # P2: tombstone filter for the write path only — stats above/
            # below still see the full batch
            records = batch.filter(F.col("value").isNotNull())
        for t in self.transforms:
            records = records.transform(t)
        if cfg.cdc_field:
            records = records.withColumn("_cdc_op", cdc_op_col(cfg.cdc_field))
        records = records.persist()
        try:
            if parsed is None:
                if records.isEmpty():
                    return
                # unparsed batch: null values are tombstones, none is bad
                flags = {"__tomb": F.col("value").isNull(), "__bad": F.lit(False)}
                props, _, _ = self._stats(batch.withColumns(flags), batch_id)
            routed = self._route(records)
            # no-files ⇒ no commit (Coordinator.java commit path: a table
            # with nothing to commit gets no snapshot; the reference even
            # defers table CREATION to the first record,
            # IcebergWriterFactory.java:69-117). Without this, every idle
            # static route accrues one empty snapshot per trigger — pure
            # metadata bloat at streaming cadence. Emptiness is decided
            # WITHOUT per-route isEmpty jobs wherever the mode already
            # answers it: broadcast routes carry the full batch (proven
            # non-empty above), and dynamic targets are the batch's own
            # observed route values — non-empty by construction. Only
            # static regex routes can be empty, and those are counted in
            # ONE aggregation job instead of one LIMIT-1 job per table.
            if (
                not cfg.dynamic_enabled
                and cfg.route_field is not None
                and len(routed) > 0
            ):
                specs = [
                    t for t in cfg.tables
                    if t.route_regex is not None and t.name in routed
                ]
                aggs = [
                    F.count(
                        F.when(
                            static_route_filter(
                                cfg.route_field, t.route_regex
                            ),
                            True,
                        )
                    ).alias(f"__r{i}")
                    for i, t in enumerate(specs)
                ]
                if aggs:
                    counts = records.agg(*aggs).first()
                    for i, t in enumerate(specs):
                        if counts[f"__r{i}"] == 0:
                            routed.pop(t.name, None)
            # T8: parallel per-table commit (Coordinator.java:89,147-153).
            # Spark job submission is thread-safe; each table's snapshot
            # commit is independent, and its jobs run in the caller's job
            # group. Fail-fast on the first error, like the reference's
            # stop-on-failure pool; the pool still drains, and a replay
            # skips the tables that committed. One wrap per task: each
            # thread gets its own copy of the local properties.
            spark = records.sparkSession
            workers = max(1, min(cfg.commit_threads, len(routed)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = [
                    pool.submit(
                        caller_job_group_target(spark, self._write_table),
                        name, df, props,
                    )
                    for name, df in routed.items()
                ]
                for f in futures:
                    f.result()
        finally:
            records.unpersist()
            if parsed is not None:
                parsed.unpersist()

    # ----------------------------------------------------------------- DLQ
    def _write_dlq(self, bad: DataFrame, batch_id: int) -> None:
        """Divert malformed records (raw form + position) to the DLQ table.
        Batch-id-idempotent like every other table write (T9): a replayed
        batch must not duplicate DLQ rows. Only called when the stats pass
        counted malformed rows."""
        # error classification mirrors Connect's DLQ error headers: a
        # CONVERTER_ERROR marker (deserialization failure upstream of
        # the JSON parse — sources/confluent._decode_error, which
        # embeds the exception class) vs a plain parse failure
        dlq_rows = bad.select(
            "value",
            "topic",
            "partition",
            "offset",
            "timestamp",
            F.when(
                F.col("value").startswith("CONVERTER_ERROR"),
                F.lit("CONVERTER_ERROR"),
            )
            .otherwise(F.lit("JSON_PARSE_ERROR"))
            .alias("error"),
            F.when(
                F.col("value").startswith("CONVERTER_ERROR"),
                F.split(F.col("value"), " ").getItem(1),
            ).alias("error_class"),
        )
        table = self.catalog.create_table_if_not_exists(
            self.config.dlq_table, dlq_rows.schema
        )
        last = self._last_batch_id(table.metadata(), "main")
        if last is not None and batch_id <= last:
            return
        table.append(
            dlq_rows,
            snapshot_props={
                PIPELINE_PROP: self.pipeline_id,
                BATCH_ID_PROP: str(batch_id),
            },
        )

    # ------------------------------------------------------------- routing
    def _route(self, records: DataFrame) -> dict[str, DataFrame]:
        cfg = self.config
        if cfg.dynamic_enabled:
            # R3: distinct route values present in the batch; missing tables
            # skipped unless auto-create (IcebergWriterFactory.java:56-60)
            target = F.lower(F.col(cfg.route_field))
            names = [
                r[0]
                for r in records.select(target.alias("t")).distinct().collect()
                if r[0]
            ]
            out = {}
            for name in sorted(names):
                if not self.catalog.table_exists(name) and not cfg.auto_create:
                    continue
                out[name] = records.filter(target == F.lit(name))
            return out
        rcfg = RoutingConfig(
            tables=[RouteSpec(t.name, t.route_regex) for t in self.config.tables],
            route_field=cfg.route_field,
            dynamic=False,
        )
        return plan_routes(records, rcfg)

    # ------------------------------------------------------- snapshot props
    @staticmethod
    def _stats(
        parsed: DataFrame, batch_id: int
    ) -> tuple[dict | None, int, int]:
        """Single pass over the whole batch (tombstones included): the
        offsets JSON (S2: max offset + 1 per topic-partition), the VTTS
        (A2: min over partitions of max record timestamp) and the
        malformed (``__bad``) and valid record counts. Returns (props,
        n_bad, n_good); props is None for an empty batch."""
        rows = (
            parsed.groupBy("topic", "partition")
            .agg(
                (F.max("offset") + 1).alias("next_offset"),
                F.unix_millis(F.max("timestamp")).alias("max_ts"),
                F.sum(F.col("__bad").cast("int")).alias("n_bad"),
                F.sum(
                    (~F.col("__tomb") & ~F.col("__bad")).cast("int")
                ).alias("n_good"),
            )
            .collect()
        )
        if not rows:
            return None, 0, 0
        offsets = {f"{r['topic']}-{r['partition']}": r["next_offset"] for r in rows}
        vtts = min((r["max_ts"] for r in rows), default=None)
        props = {
            BATCH_ID_PROP: str(batch_id),
            OFFSETS_PROP: json.dumps(offsets, sort_keys=True),
        }
        if vtts is not None:
            props[VTTS_PROP] = str(vtts)
        return (
            props,
            sum(r["n_bad"] or 0 for r in rows),
            sum(r["n_good"] or 0 for r in rows),
        )

    # ----------------------------------------------------------- table write
    def _write_table(self, name: str, df: DataFrame, props: dict) -> None:
        """Write and commit one routed table's share of the batch, unless
        a replay finds the batch already committed there. One metadata
        load serves the idempotence walk, the upsert key, the write and
        the mirror check (reloaded only after a schema change); the
        commit loads the head itself."""
        cfg = self.config
        tcfg = cfg.table(name)
        branch = tcfg.commit_branch if tcfg else cfg.default_commit_branch

        record_schema = T.StructType(
            [
                f
                for f in df.schema.fields
                if f.name not in ("topic", "partition", "offset", "timestamp")
                and not f.name.startswith("_cdc")
            ]
        )
        if cfg.schema_force_optional:
            # iceberg.tables.schema-force-optional
            # (SchemaUtils.java:260-280): land every column nullable
            record_schema = force_optional(record_schema)
        if not self.catalog.table_exists(name):
            if not cfg.auto_create:
                return
            partition_by = (
                tcfg.partition_by if tcfg and tcfg.partition_by else cfg.auto_create_partition_by
            )
            # auto-create-props are creation-time table properties
            # (IcebergWriterFactory.java:108); write-props override them
            # since they also apply at every write (Utilities.java:160)
            create_props = {
                **cfg.auto_create_props,
                **((tcfg.write_props if tcfg else None) or {}),
            }
            table = self.catalog.create_table_if_not_exists(
                name,
                record_schema,
                partition_by or None,
                properties=create_props or None,
            )
        else:
            table = self.catalog.load_table(name)

        # T9: idempotent replay — skip batches already in this table's
        # snapshot ancestry for this pipeline (summary-walk like the
        # reference's offset filtering)
        props = {**props, PIPELINE_PROP: self.pipeline_id}
        meta = table.metadata()
        last = self._last_batch_id(meta, branch)
        if last is not None and int(props[BATCH_ID_PROP]) <= last:
            return

        if cfg.evolve_schema and table.evolve_schema(record_schema):
            meta = table.metadata()

        # upsert key: per-table id-columns, else the global default-id-columns
        # (IcebergSinkConfig.java:73,345), else the table schema's identifier
        # fields (IntegrationTest covers all: schema-id-cols / config-id-cols)
        id_cols = (
            (tcfg.id_columns if tcfg else [])
            or cfg.default_id_columns
            or table.identifier_fields(meta)
        )
        if (cfg.upsert_mode or cfg.cdc_field) and id_cols:
            order = [c for c in ("timestamp", "offset") if c in df.columns]
            table.upsert(
                df,
                key_cols=id_cols,
                op_col="_cdc_op" if cfg.cdc_field else None,
                order_cols=order or None,
                branch=branch,
                snapshot_props=props,
                # cdc-field WITHOUT upsert-mode → per-op semantics: INSERT
                # ops append blindly (no equality delete), only U/D rows
                # write delete keys (BaseDeltaTaskWriter.java:72-84)
                upsert_mode=cfg.upsert_mode,
                case_insensitive=cfg.schema_case_insensitive,
                meta=meta,
            )
        else:
            table.append(
                df,
                branch=branch,
                snapshot_props=props,
                case_insensitive=cfg.schema_case_insensitive,
                meta=meta,
            )

        # continuous Iceberg mirror: with the table property
        # ``iceberg.mirror.enabled=true`` every committed batch refreshes a
        # spec-conformant v2 metadata tree under <root>/iceberg-metadata,
        # so external Iceberg engines can follow the stream's output — the
        # reference gets this for free by writing through the Iceberg
        # library (IcebergWriterFactory.java:51-66). Export cost is
        # O(live files) metadata per commit, no data IO; at very high
        # commit cadence set the property on a timer-driven maintenance
        # job instead.
        table_props = meta["properties"]
        mirror = str(table_props.get("iceberg.mirror.enabled", "")).lower()
        if mirror == "true":
            from ..sinks.iceberg_export import export_iceberg_metadata

            # per-commit cadence: default to heads-only (depth 1) so the
            # mirror stays O(live files) per commit instead of
            # O(files × snapshots); an explicit export.history-depth
            # property takes over when the user wants exported history.
            # Likewise default metadata retention ON (Iceberg's
            # write.metadata.delete-after-commit.enabled surface) so a
            # long-lived stream doesn't accrete one full metadata tree
            # per batch forever — an explicit property wins either way.
            export_iceberg_metadata(
                table,
                history_depth=(
                    None if "export.history-depth" in table_props else 1
                ),
                delete_after_commit=(
                    None
                    if "write.metadata.delete-after-commit.enabled"
                    in table_props
                    else True
                ),
            )

    def _last_batch_id(self, meta: dict, branch: str) -> int | None:
        sid = meta["refs"].get(branch)
        while sid is not None:
            snap = next(
                s for s in meta["snapshots"] if s["snapshot_id"] == sid
            )
            if snap["summary"].get(PIPELINE_PROP) == self.pipeline_id:
                return int(snap["summary"][BATCH_ID_PROP])
            sid = snap["parent"]
        return None

    # ---------------------------------------------------------------- start
    def start(
        self,
        stream: DataFrame,
        checkpoint: str,
        available_now: bool = False,
    ):
        """T1: the commit interval is the processing-time trigger."""
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{self.config.commit_interval_ms} milliseconds"
            )
        return writer.start()
