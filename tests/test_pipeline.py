"""End-to-end pipeline tests: kafka-shaped stream → transforms → routing →
lakehouse sink, with exactly-once restart semantics.

Mirrors the reference's integration-test layer (SURVEY.md §5.3:
IntegrationTest / IntegrationCdcTest / IntegrationMultiTableTest /
IntegrationDynamicTableTest) against the file-based kafka-shaped source."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig, from_properties
from iceberg_kafka_connect_spark.sinks import Catalog
from iceberg_kafka_connect_spark.sources.stream import file_stream_source
from iceberg_kafka_connect_spark.streaming import SinkPipeline

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("op", T.StringType()),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("op", T.StringType()),
    ]
)


def _write_records(path, records, offset0=0, partition=0, topic="events"):
    path.mkdir(parents=True, exist_ok=True)
    fname = path / f"chunk-{offset0}.json"
    with open(fname, "w") as f:
        for i, rec in enumerate(records):
            line = {
                "key": str(rec.get("id", i)) if rec is not None else str(i),
                "value": json.dumps(rec) if rec is not None else None,
                "topic": topic,
                "partition": partition,
                "offset": offset0 + i,
                "timestamp": f"2024-01-01T00:00:{(offset0 + i) % 60:02d}.000Z",
            }
            f.write(json.dumps(line) + "\n")


def _run(spark, pipeline, src_dir, ckpt_dir):
    stream = file_stream_source(spark, str(src_dir))
    q = pipeline.start(stream, str(ckpt_dir), available_now=True)
    q.awaitTermination(120)


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_append_stream_end_to_end(spark, tmp_path, catalog):
    cfg = SinkConfig(tables=[TableConfig("default.events_sink")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p1", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": i, "type": "t", "payload": f"p{i}", "op": None} for i in range(10)])
    _run(spark, pipe, src, tmp_path / "ckpt")

    t = catalog.load_table("default.events_sink")
    out = t.read(spark)
    assert out.count() == 10
    snap = t.current_snapshot()
    # snapshot props: offsets JSON + batch id + vtts (T6/A2/S2 parity)
    offs = json.loads(snap["summary"]["kafka.connect.offsets"])
    assert offs == {"events-0": 10}
    assert "vtts-ms" in snap["summary"]
    assert snap["summary"]["pipeline-id"] == "p1"


def test_exactly_once_restart(spark, tmp_path, catalog):
    """T9: kill/restart mid-stream — no duplicated or lost ids."""
    cfg = SinkConfig(tables=[TableConfig("default.eo")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-eo", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    _write_records(src, [{"id": i, "type": "t", "payload": None, "op": None} for i in range(5)])
    _run(spark, pipe, src, ckpt)
    # replay the SAME batch body manually (simulates failure after table
    # commit but before checkpoint advance) → idempotent skip
    from iceberg_kafka_connect_spark.sources.stream import batch_file_source

    pipe.process_batch(batch_file_source(spark, str(src)), batch_id=0)
    t = catalog.load_table("default.eo")
    assert t.read(spark).count() == 5

    # new data + restart with same checkpoint → only the new rows land
    _write_records(src, [{"id": 100 + i, "type": "t", "payload": None, "op": None} for i in range(3)], offset0=5)
    _run(spark, pipe, src, ckpt)
    ids = sorted(r.id for r in t.read(spark).collect())
    assert ids == [0, 1, 2, 3, 4, 100, 101, 102]


def test_tombstones_skipped(spark, tmp_path, catalog):
    cfg = SinkConfig(tables=[TableConfig("default.tomb")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-t", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": 1, "type": "t", "payload": None, "op": None}, None, {"id": 2, "type": "t", "payload": None, "op": None}])
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert catalog.load_table("default.tomb").read(spark).count() == 2


def test_static_regex_routing_multi_table(spark, tmp_path, catalog):
    """R2 + multi-table fan-out (IntegrationMultiTableTest parity)."""
    cfg = SinkConfig(
        tables=[
            TableConfig("default.events_list", route_regex="list"),
            TableConfig("default.events_create", route_regex="create"),
        ],
        route_field="type",
        auto_create=True,
    )
    pipe = SinkPipeline(catalog, cfg, "p-r", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": 1, "type": "list", "payload": None, "op": None},
            {"id": 2, "type": "create", "payload": None, "op": None},
            {"id": 3, "type": "other", "payload": None, "op": None},  # dropped
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert [r.id for r in catalog.load_table("default.events_list").read(spark).collect()] == [1]
    assert [r.id for r in catalog.load_table("default.events_create").read(spark).collect()] == [2]


def test_dynamic_routing_skips_missing(spark, tmp_path, catalog):
    """R3 (IntegrationDynamicTableTest parity): route value names the table,
    lowercased; records for non-existent tables are skipped."""
    # pre-create only one target
    catalog.create_table("default.t_list", RECORD_SCHEMA)
    cfg = SinkConfig(
        tables=[TableConfig("default.t_list")],
        dynamic_enabled=True,
        route_field="type",
    )
    pipe = SinkPipeline(catalog, cfg, "p-d", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": 1, "type": "DEFAULT.T_LIST", "payload": None, "op": None},
            {"id": 2, "type": "default.t_missing", "payload": None, "op": None},
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert [r.id for r in catalog.load_table("default.t_list").read(spark).collect()] == [1]
    assert not catalog.table_exists("default.t_missing")


def test_broadcast_routing(spark, tmp_path, catalog):
    """R1: no route field → every record to every configured table."""
    cfg = SinkConfig(
        tables=[TableConfig("default.b1"), TableConfig("default.b2")],
        auto_create=True,
    )
    pipe = SinkPipeline(catalog, cfg, "p-b", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": 1, "type": "x", "payload": None, "op": None}])
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert catalog.load_table("default.b1").read(spark).count() == 1
    assert catalog.load_table("default.b2").read(spark).count() == 1


def test_parallel_per_table_commit(spark, tmp_path, catalog):
    """T8: commit.threads > 1 fans table writes onto a thread pool
    (Coordinator.java:89,147-153); results identical to serial."""
    cfg = SinkConfig(
        tables=[TableConfig(f"default.par{i}") for i in range(4)],
        auto_create=True,
        commit_threads=4,
    )
    pipe = SinkPipeline(catalog, cfg, "p-par", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": i, "type": "x", "payload": None, "op": None} for i in range(6)])
    _run(spark, pipe, src, tmp_path / "ckpt")
    for i in range(4):
        assert catalog.load_table(f"default.par{i}").read(spark).count() == 6


def test_cdc_upsert_stream(spark, tmp_path, catalog):
    """S5/P5 (IntegrationCdcTest parity): I/U/D mix → final row set."""
    cfg = SinkConfig(
        tables=[TableConfig("default.cdc_sink", id_columns=["id"])],
        cdc_field="op",
        auto_create=True,
    )
    pipe = SinkPipeline(catalog, cfg, "p-c", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": 1, "type": "a", "payload": None, "op": "I"},
            {"id": 2, "type": "b", "payload": None, "op": "insert"},
            {"id": 1, "type": "a2", "payload": None, "op": "U"},
            {"id": 2, "type": None, "payload": None, "op": "D"},
            {"id": 3, "type": "c", "payload": None, "op": "I"},
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.cdc_sink")
    out = {r.id: r.type for r in t.read(spark).collect()}
    assert out == {1: "a2", 3: "c"}
    # second batch deletes 3, re-inserts 2
    _write_records(
        src,
        [
            {"id": 3, "type": None, "payload": None, "op": "D"},
            {"id": 2, "type": "back", "payload": None, "op": "I"},
        ],
        offset0=5,
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    out = {r.id: r.type for r in t.read(spark).collect()}
    assert out == {1: "a2", 2: "back"}


def test_upsert_via_schema_identifier_fields(spark, tmp_path, catalog):
    """Upsert keyed by the table schema's identifier fields when the config
    names no id-columns (IntegrationTest schema-id-cols variant)."""
    catalog.create_table(
        "default.schema_keyed", RECORD_SCHEMA, identifier_fields=["id"]
    )
    cfg = SinkConfig(tables=[TableConfig("default.schema_keyed")], cdc_field="op")
    pipe = SinkPipeline(catalog, cfg, "p-sid", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": 1, "type": "a", "payload": None, "op": "I"},
            {"id": 1, "type": "a2", "payload": None, "op": "U"},
            {"id": 2, "type": "b", "payload": None, "op": "I"},
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.schema_keyed")
    assert {r.id: r.type for r in t.read(spark).collect()} == {1: "a2", 2: "b"}


def test_default_commit_branch(spark, tmp_path, catalog):
    cfg = from_properties(
        {
            "iceberg.tables": "default.branched",
            "iceberg.tables.auto-create-enabled": "true",
            "iceberg.tables.default-commit-branch": "staging",
        }
    )
    assert cfg.table("default.branched").commit_branch == "staging"
    pipe = SinkPipeline(catalog, cfg, "p-br", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": 1, "type": "t", "payload": None, "op": None}])
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.branched")
    assert t.read(spark, branch="staging").count() == 1
    assert t.read(spark, branch="main").count() == 0


def test_schema_evolution_in_stream(spark, tmp_path, catalog):
    """§1.3 evolution (IntegrationTest schema-evolution parity): second
    batch carries a new column; table schema evolves, old rows read as null."""
    narrow = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("type", T.StringType())]
    )
    wide = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("type", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    cfg = SinkConfig(
        tables=[TableConfig("default.ev")], auto_create=True, evolve_schema=True
    )
    src = tmp_path / "src"
    pipe1 = SinkPipeline(catalog, cfg, "p-e", value_schema=narrow)
    _write_records(src, [{"id": 1, "type": "a"}])
    _run(spark, pipe1, src, tmp_path / "ckpt")

    pipe2 = SinkPipeline(catalog, cfg, "p-e", value_schema=wide)
    _write_records(src, [{"id": 2, "type": "b", "payload": "P"}], offset0=1)
    _run(spark, pipe2, src, tmp_path / "ckpt")

    t = catalog.load_table("default.ev")
    rows = {r.id: r.payload for r in t.read(spark).collect()}
    assert rows == {1: None, 2: "P"}
    assert "payload" in [f.name for f in t.schema().fields]


def test_dlq_diverts_malformed_records(spark, tmp_path, catalog):
    """errors.tolerance=all + DLQ table: malformed JSON rows divert, good
    rows land."""
    cfg = SinkConfig(
        tables=[TableConfig("default.good")],
        auto_create=True,
        errors_tolerance="all",
        dlq_table="default.dlq",
    )
    pipe = SinkPipeline(catalog, cfg, "p-dlq", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        rows = [
            {"key": "1", "value": json.dumps({"id": 1, "type": "t", "payload": None, "op": None})},
            {"key": "2", "value": "{not valid json"},
            {"key": "3", "value": json.dumps({"id": 3, "type": "t", "payload": None, "op": None})},
        ]
        for off, r in enumerate(rows):
            f.write(
                json.dumps(
                    {
                        **r,
                        "topic": "events",
                        "partition": 0,
                        "offset": off,
                        "timestamp": "2024-01-01T00:00:00.000Z",
                    }
                )
                + "\n"
            )
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert sorted(
        r.id for r in catalog.load_table("default.good").read(spark).collect()
    ) == [1, 3]
    dlq = catalog.load_table("default.dlq").read(spark).collect()
    assert len(dlq) == 1
    assert dlq[0].offset == 1 and dlq[0].error == "JSON_PARSE_ERROR"
    # replayed batch must not duplicate DLQ rows (T9 applies to the DLQ too)
    from iceberg_kafka_connect_spark.sources.stream import batch_file_source

    pipe.process_batch(batch_file_source(spark, str(src)), batch_id=0)
    assert catalog.load_table("default.dlq").read(spark).count() == 1


def test_errors_tolerance_none_fails_batch(spark, tmp_path, catalog):
    cfg = SinkConfig(tables=[TableConfig("default.strict")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-strict", value_schema=VALUE_SCHEMA)
    from iceberg_kafka_connect_spark.sources.stream import batch_file_source

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(
            json.dumps(
                {
                    "key": "1",
                    "value": "{broken",
                    "topic": "t",
                    "partition": 0,
                    "offset": 0,
                    "timestamp": "2024-01-01T00:00:00.000Z",
                }
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="malformed record at t-0:0"):
        pipe.process_batch(batch_file_source(spark, str(src)), batch_id=0)


def test_metadata_tables(spark, tmp_path, catalog):
    cfg = SinkConfig(tables=[TableConfig("default.meta")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-m", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(src, [{"id": 1, "type": "t", "payload": None, "op": None}])
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.meta")
    snaps = t.snapshots_df(spark).collect()
    assert len(snaps) == 1 and snaps[0].operation == "append"
    assert snaps[0].summary["pipeline-id"] == "p-m"
    files = t.files_df(spark).collect()
    assert len(files) >= 1 and files[0].content == "data"


def test_ingest_then_analyze_loop(spark, tmp_path, catalog):
    """The full 'user switches from the reference' story: stream events into
    the lakehouse, then run the analytics the connector's users run on the
    landed table — through SQL views, matching the source exactly."""
    cfg = SinkConfig(tables=[TableConfig("default.events_lake")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-loop", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": i, "type": ["click", "view", "purchase"][i % 3],
             "payload": None, "op": None}
            for i in range(30)
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    catalog.register_views(spark)
    rolled = spark.sql(
        """
        SELECT type, COUNT(*) AS n FROM default_events_lake
        GROUP BY type ORDER BY type
        """
    ).collect()
    assert [(r.type, r.n) for r in rolled] == [
        ("click", 10), ("purchase", 10), ("view", 10),
    ]


def test_config_from_reference_properties():
    """The reference's flat property names parse directly."""
    cfg = from_properties(
        {
            "iceberg.tables": "default.events_list, default.events_create",
            "iceberg.tables.route-field": "type",
            "iceberg.table.default.events_list.route-regex": "list",
            "iceberg.table.default.events_create.route-regex": "create",
            "iceberg.tables.cdc-field": "op",
            "iceberg.tables.auto-create-enabled": "true",
            "iceberg.tables.evolve-schema-enabled": "true",
            "iceberg.control.commit.interval-ms": "5000",
        }
    )
    assert [t.name for t in cfg.tables] == [
        "default.events_list",
        "default.events_create",
    ]
    assert cfg.table("default.events_list").route_regex == "list"
    assert cfg.cdc_field == "op" and cfg.auto_create and cfg.evolve_schema
    assert cfg.commit_interval_ms == 5000


def test_name_mapping_and_case_insensitive_landing(spark, tmp_path, catalog):
    """A renamed / case-shifted topic lands into an EXISTING table via the
    table's schema.name-mapping.default property + schema-case-insensitive
    config (RecordConverter.java:100-103,245-271)."""
    mapping = json.dumps(
        [
            {"field-id": 1, "names": ["id", "identifier"]},
            {"field-id": 2, "names": ["type", "kind"]},
        ]
    )
    catalog.create_table(
        "default.mapped",
        RECORD_SCHEMA,
        properties={"schema.name-mapping.default": mapping},
    )
    incoming = T.StructType(
        [
            T.StructField("identifier", T.LongType()),  # mapped name
            T.StructField("kind", T.StringType()),  # mapped name
            T.StructField("PAYLOAD", T.StringType()),  # case-shifted
            T.StructField("op", T.StringType()),
        ]
    )
    cfg = SinkConfig(
        tables=[TableConfig("default.mapped")],
        schema_case_insensitive=True,
    )
    pipe = SinkPipeline(catalog, cfg, "p-map", value_schema=incoming)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"identifier": 1, "kind": "a", "PAYLOAD": "x", "op": None},
            {"identifier": 2, "kind": "b", "PAYLOAD": "y", "op": None},
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    out = catalog.load_table("default.mapped").read(spark).orderBy("id")
    rows = [(r.id, r.type, r.payload) for r in out.collect()]
    assert rows == [(1, "a", "x"), (2, "b", "y")]


def test_trailing_tombstones_still_advance_offsets(spark, tmp_path, catalog):
    """ADVICE fix: offsets/VTTS are computed over the unfiltered batch, so a
    partition whose trailing records are all tombstones reports the true
    next_offset in kafka.connect.offsets."""
    cfg = SinkConfig(tables=[TableConfig("default.tomb_off")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-to", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    recs = [{"id": 0, "type": "t", "payload": None, "op": None}, None, None]
    _write_records(src, recs)  # offsets 0,1,2 — 1 and 2 are tombstones
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.tomb_off")
    assert t.read(spark).count() == 1
    offs = json.loads(t.current_snapshot()["summary"]["kafka.connect.offsets"])
    assert offs == {"events-0": 3}


def test_trailing_tombstones_advance_offsets_without_value_schema(
    spark, tmp_path, catalog
):
    """Without a value schema the batch lands unparsed, and its offsets and
    VTTS still come from the whole batch: a partition whose last record is
    a tombstone reports the offset after it."""
    cfg = SinkConfig(tables=[TableConfig("default.tomb_raw")], auto_create=True)
    pipe = SinkPipeline(catalog, cfg, "p-tr")
    src = tmp_path / "src"
    rec = {"id": 0, "type": "t", "payload": None, "op": None}
    _write_records(src, [rec, None, None])  # partition 0: offsets 0..2
    _write_records(src, [rec], offset0=10, partition=1)  # offset 10
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.tomb_raw")
    assert t.read(spark).count() == 2
    summary = t.current_snapshot()["summary"]
    offs = json.loads(summary["kafka.connect.offsets"])
    assert offs == {"events-0": 3, "events-1": 11}
    # VTTS: min over partitions of the latest timestamp, 00:00:02 (p0)
    assert summary["vtts-ms"] == "1704067202000"


def test_scalar_json_value_goes_to_dlq(spark, tmp_path, catalog):
    """ADVICE fix: valid JSON that is not a schema-shaped object (bare
    scalar / array) is malformed — DLQ'd under errors.tolerance=all and
    fails the batch under none, like the reference's DataException."""
    cfg = SinkConfig(
        tables=[TableConfig("default.scalar_dlq")],
        auto_create=True,
        errors_tolerance="all",
        dlq_table="default.dlq",
    )
    pipe = SinkPipeline(catalog, cfg, "p-sc", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    path = src
    path.mkdir(parents=True, exist_ok=True)
    with open(path / "chunk-0.json", "w") as f:
        rows = [
            json.dumps({"id": 1, "type": "t", "payload": None, "op": None}),
            "42",          # valid JSON scalar — NOT schema-shaped
            '["a","b"]',   # valid JSON array — NOT schema-shaped
            "{broken",     # malformed JSON
        ]
        for off, v in enumerate(rows):
            f.write(
                json.dumps(
                    {
                        "key": str(off),
                        "value": v,
                        "topic": "events",
                        "partition": 0,
                        "offset": off,
                        "timestamp": f"2024-01-01T00:00:{off:02d}.000Z",
                    }
                )
                + "\n"
            )
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert catalog.load_table("default.scalar_dlq").read(spark).count() == 1
    assert catalog.load_table("default.dlq").read(spark).count() == 3

    # errors.tolerance=none → the scalar fails the batch
    cfg2 = SinkConfig(
        tables=[TableConfig("default.strict")],
        auto_create=True,
        errors_tolerance="none",
    )
    pipe2 = SinkPipeline(catalog, cfg2, "p-sc2", value_schema=VALUE_SCHEMA)
    from iceberg_kafka_connect_spark.sources.stream import batch_file_source

    with pytest.raises(Exception, match="malformed"):
        pipe2.process_batch(batch_file_source(spark, str(src)), batch_id=0)


def test_unconvertible_field_goes_to_dlq(spark, tmp_path, catalog):
    """A valid JSON object whose field can't convert to the declared type
    is malformed too (single-parse corrupt-record detection) — the
    reference's converter throws DataException on unconvertible input
    (RecordConverter.java), and errors.tolerance routes it the same way as
    broken JSON."""
    cfg = SinkConfig(
        tables=[TableConfig("default.coerce_dlq")],
        auto_create=True,
        errors_tolerance="all",
        dlq_table="default.dlq2",
    )
    pipe = SinkPipeline(catalog, cfg, "p-uc", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src-uc"
    src.mkdir(parents=True, exist_ok=True)
    with open(src / "chunk-0.json", "w") as f:
        rows = [
            json.dumps({"id": 1, "type": "t", "payload": None, "op": None}),
            # id declared LONG but sent as a non-numeric object
            json.dumps({"id": {"not": "a long"}, "type": "t"}),
        ]
        for off, v in enumerate(rows):
            f.write(
                json.dumps(
                    {
                        "key": str(off),
                        "value": v,
                        "topic": "events",
                        "partition": 0,
                        "offset": off,
                        "timestamp": f"2024-01-01T00:00:{off:02d}.000Z",
                    }
                )
                + "\n"
            )
    _run(spark, pipe, src, tmp_path / "ckpt-uc")
    assert catalog.load_table("default.coerce_dlq").read(spark).count() == 1
    assert catalog.load_table("default.dlq2").read(spark).count() == 1


def test_no_files_no_commit(spark, tmp_path, catalog):
    """Coordinator no-files parity (CoordinatorTest: a table that received
    no data files gets NO snapshot): a routed table with zero matching rows
    in a batch must not accrue an empty snapshot per trigger."""
    cfg = SinkConfig(
        tables=[
            TableConfig("default.nf_hit", route_regex="hit"),
            TableConfig("default.nf_miss", route_regex="miss"),
        ],
        route_field="type",
        auto_create=True,
    )
    pipe = SinkPipeline(catalog, cfg, "p-nf", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src, [{"id": 1, "type": "hit", "payload": None, "op": None}]
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    assert len(catalog.load_table("default.nf_hit").snapshots()) == 1
    # the miss table got no records: not even created (the reference creates
    # on first record), let alone committed to
    assert not catalog.table_exists("default.nf_miss")


def test_config_reference_names_round2_surface():
    """Round-2 parity props: default-id-columns, schema-force-optional,
    auto-create-props.*, commit.timeout-ms, and the reference-exact global
    write-props prefix (IcebergSinkConfig.java:65-66,73,82,90)."""
    cfg = from_properties(
        {
            "iceberg.tables": "default.t",
            "iceberg.tables.default-id-columns": "id, region",
            "iceberg.tables.schema-force-optional": "true",
            "iceberg.tables.auto-create-props.commit.retry.num-retries": "5",
            "iceberg.table.write-props.write.format.default": "orc",
            "iceberg.control.commit.timeout-ms": "45000",
            "iceberg.kafka.security.protocol": "SASL_SSL",
        }
    )
    assert cfg.kafka_props == {"security.protocol": "SASL_SSL"}
    assert cfg.default_id_columns == ["id", "region"]
    assert cfg.schema_force_optional
    assert cfg.auto_create_props == {"commit.retry.num-retries": "5"}
    assert cfg.table("default.t").write_props == {
        "write.format.default": "orc"
    }
    assert cfg.commit_timeout_ms == 45000


def test_default_id_columns_upsert(spark, tmp_path, catalog):
    """iceberg.tables.default-id-columns keys the upsert when the table has
    neither per-table id-columns nor schema identifier fields
    (IcebergSinkConfig.java:73,345)."""
    cfg = from_properties(
        {
            "iceberg.tables": "default.def_keyed",
            "iceberg.tables.auto-create-enabled": "true",
            "iceberg.tables.cdc-field": "op",
            "iceberg.tables.default-id-columns": "id",
        }
    )
    pipe = SinkPipeline(catalog, cfg, "p-did", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [
            {"id": 1, "type": "a", "payload": None, "op": "I"},
            {"id": 1, "type": "a2", "payload": None, "op": "U"},
            {"id": 2, "type": "b", "payload": None, "op": "I"},
        ],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.def_keyed")
    assert {r.id: r.type for r in t.read(spark).collect()} == {1: "a2", 2: "b"}


def test_schema_force_optional_auto_create(spark, tmp_path, catalog):
    """schema-force-optional lands a required source column as nullable
    (SchemaUtils.java:260-280)."""
    required = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("type", T.StringType(), False),
        ]
    )
    cfg = from_properties(
        {
            "iceberg.tables": "default.forced_opt",
            "iceberg.tables.auto-create-enabled": "true",
            "iceberg.tables.schema-force-optional": "true",
        }
    )
    pipe = SinkPipeline(catalog, cfg, "p-fo", value_schema=required)
    src = tmp_path / "src"
    _write_records(src, [{"id": 1, "type": "t"}])
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.forced_opt")
    assert all(f.nullable for f in t.schema().fields)


def test_iceberg_mirror_follows_commits(spark, tmp_path, catalog):
    """iceberg.mirror.enabled=true: every committed batch refreshes the
    table's external Iceberg v2 metadata tree, and an external-style import
    of that tree matches the table state."""
    from iceberg_kafka_connect_spark.sinks.iceberg_export import read_exported
    from iceberg_kafka_connect_spark.sinks.iceberg_import import (
        import_iceberg_table,
        resolve_metadata_file,
    )

    cfg = SinkConfig(
        tables=[TableConfig("default.mirrored")],
        auto_create=True,
        auto_create_props={"iceberg.mirror.enabled": "true"},
    )
    pipe = SinkPipeline(catalog, cfg, "p-mirror", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [{"id": i, "type": "t", "payload": f"p{i}", "op": None} for i in range(6)],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")

    t = catalog.load_table("default.mirrored")
    tree = f"{t.root}/iceberg-metadata"
    info = read_exported(resolve_metadata_file(tree))
    assert info["total_rows"] == 6

    # a second batch refreshes the mirror
    _write_records(
        src,
        [{"id": i, "type": "t", "payload": "x", "op": None} for i in range(6, 10)],
        offset0=6,
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    info2 = read_exported(resolve_metadata_file(tree))
    assert info2["total_rows"] == 10

    imp = import_iceberg_table(tree, str(tmp_path / "imported"))
    assert imp.read(spark).count() == 10


def test_mirror_chain_stream_to_synced_copy(spark, tmp_path, catalog):
    """Full continuous-mirror chain: the streaming pipeline ingests and
    exports per commit (write direction, heads-only by default);
    refresh_from_iceberg keeps an imported COPY converging on the stream
    (read direction) — two engines, one metadata tree between them."""
    from iceberg_kafka_connect_spark.sinks.iceberg_import import (
        import_iceberg_table,
        refresh_from_iceberg,
    )

    cfg = SinkConfig(
        tables=[TableConfig("default.chain")],
        auto_create=True,
        auto_create_props={"iceberg.mirror.enabled": "true"},
    )
    pipe = SinkPipeline(catalog, cfg, "p-chain", value_schema=VALUE_SCHEMA)
    src = tmp_path / "src"
    _write_records(
        src,
        [{"id": i, "type": "t", "payload": f"p{i}", "op": None} for i in range(5)],
    )
    _run(spark, pipe, src, tmp_path / "ckpt")
    t = catalog.load_table("default.chain")
    tree = f"{t.root}/iceberg-metadata"
    copy = import_iceberg_table(tree, str(tmp_path / "copy"))
    assert copy.read(spark).count() == 5

    # two more streamed batches → two more heads-only exports; the copy
    # catches up across BOTH (each export carries its dangling parent)
    for lo in (5, 8):
        _write_records(
            src,
            [{"id": i, "type": "t", "payload": "x", "op": None}
             for i in range(lo, lo + 3)],
            offset0=lo,
        )
        _run(spark, pipe, src, tmp_path / "ckpt")
        res = refresh_from_iceberg(copy)
        assert res["synced"] == 1
    assert copy.read(spark).count() == 11
    got = sorted(r.id for r in copy.read(spark).collect())
    assert got == list(range(11))
