"""Confluent wire-format converter layer (sources/registry.py +
sources/confluent.py).

The reference delegates deserialization to Kafka Connect converters
(`README.md:77`); these tests pin the de-facto wire protocol those
converters speak: the 5-byte magic+id header, Avro binary payloads with
per-record writer schemas, proto3 wire semantics (known-answer vectors
from the public protobuf encoding docs), and the registry REST protocol
(global ids, idempotent registration, BACKWARD compatibility).
"""

import io
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.sources.confluent import (
    WireFormatError,
    decode_confluent_avro,
    decode_confluent_json,
    decode_confluent_protobuf,
    decode_proto_message,
    encode_confluent_avro,
    encode_confluent_json,
    encode_confluent_protobuf,
    encode_proto_message,
    frame,
    json_schema_for,
    proto_descriptor_text,
    read_message_indexes,
    spark_to_avro_schema,
    unframe,
    write_message_indexes,
)
from iceberg_kafka_connect_spark.sources.registry import (
    SchemaRegistryClient,
    SchemaRegistryServer,
    backward_compatible,
    canonical_schema,
)


# ----------------------------------------------------------- wire bytes
def test_frame_layout_pinned():
    assert frame(7, b"\x02hi") == b"\x00\x00\x00\x00\x07\x02hi"
    sid, payload = unframe(b"\x00\x00\x00\x01\x00abc")
    assert sid == 256 and payload == b"abc"


def test_unframe_rejects_bad_magic_and_short():
    with pytest.raises(WireFormatError):
        unframe(b"\x01\x00\x00\x00\x07x")
    with pytest.raises(WireFormatError):
        unframe(b"\x00\x00")


def test_message_indexes_special_case_and_roundtrip():
    assert write_message_indexes([0]) == b"\x00"
    assert read_message_indexes(io.BytesIO(b"\x00")) == [0]
    blob = write_message_indexes([1, 2])
    assert read_message_indexes(io.BytesIO(blob)) == [1, 2]


# ------------------------------------------------------------- protobuf
def test_proto_known_answer_vectors():
    # protobuf encoding docs: message Test1 { int32 a = 1; } with a=150
    # serializes to 08 96 01; Test2 { string b = 2; } b="testing" to
    # 12 07 74 65 73 74 69 6e 67
    assert encode_proto_message({1: ("a", "int32")}, {"a": 150}) == bytes.fromhex(
        "089601"
    )
    assert encode_proto_message(
        {2: ("b", "string")}, {"b": "testing"}
    ) == bytes.fromhex("120774657374696e67")


def test_proto3_defaults_off_wire_and_refilled():
    desc = {1: ("a", "int64"), 2: ("b", "string"), 3: ("c", "bool")}
    assert encode_proto_message(desc, {"a": 0, "b": "", "c": False}) == b""
    assert decode_proto_message(desc, b"") == {"a": 0, "b": "", "c": False}


def test_proto_unknown_field_skipped():
    writer = {1: ("a", "int32"), 2: ("b", "string"), 3: ("d", "double")}
    reader = {1: ("a", "int32")}
    data = encode_proto_message(
        writer, {"a": 7, "b": "drop me", "d": 2.5}
    )
    assert decode_proto_message(reader, data) == {"a": 7}


def test_proto_negative_sint_and_packed():
    desc = {1: ("s", "sint64"), 2: ("xs", "packed_int64")}
    data = encode_proto_message(desc, {"s": -3, "xs": [1, 2, 300]})
    assert decode_proto_message(desc, data) == {"s": -3, "xs": [1, 2, 300]}
    # negative int64 (non-zigzag) takes the 10-byte two's-complement form
    d2 = {1: ("v", "int64")}
    enc = encode_proto_message(d2, {"v": -1})
    assert len(enc) == 11  # tag + 10 varint bytes
    assert decode_proto_message(d2, enc) == {"v": -1}


def test_proto_nested_message():
    inner = {1: ("x", "int32"), 2: ("y", "string")}
    outer = {1: ("id", "int64"), 2: ("pt", "message", inner)}
    row = {"id": 9, "pt": {"x": 4, "y": "n"}}
    assert decode_proto_message(
        outer, encode_proto_message(outer, row)
    ) == row


def test_proto_descriptor_text_renders():
    txt = proto_descriptor_text(
        "Order", {1: ("k", "int64"), 2: ("tags", "packed_int64")}
    )
    assert "syntax = \"proto3\";" in txt
    assert "int64 k = 1;" in txt and "repeated int64 tags = 2;" in txt


# ------------------------------------------------------------- registry
def test_registry_global_ids_and_idempotent_register():
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        s1 = {"type": "record", "name": "r", "fields": [
            {"name": "a", "type": "long"}]}
        id_a = c.register("topic-a-value", s1)
        # same schema, other subject -> SAME global id
        assert SchemaRegistryClient(srv.uri).register(
            "topic-b-value", s1
        ) == id_a
        # re-register under same subject -> same id, one version
        assert c.register("topic-a-value", s1) == id_a
        assert c._call("GET", "/subjects/topic-a-value/versions") == [1]
        got = c.get_by_id(id_a)
        assert canonical_schema(got["schema"]) == canonical_schema(s1)
        assert sorted(c._call("GET", "/subjects")) == [
            "topic-a-value", "topic-b-value",
        ]


def test_registry_versions_and_latest():
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        v1 = {"type": "record", "name": "r", "fields": [
            {"name": "a", "type": "long"}]}
        v2 = {"type": "record", "name": "r", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None}]}
        c.register("s-value", v1)
        id2 = c.register("s-value", v2)
        latest = c.latest("s-value")
        assert latest["version"] == 2 and latest["id"] == id2


def test_registry_backward_compatibility_rule():
    v1 = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}]})
    ok = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None}]})
    bad = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"}]})
    assert backward_compatible(ok, v1)
    assert not backward_compatible(bad, v1)
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        c.register("s-value", v1)
        assert c.check_compatibility("s-value", ok)
        assert not c.check_compatibility("s-value", bad)


def test_registry_bearer_auth():
    import urllib.error

    with SchemaRegistryServer(token="sekrit") as srv:
        good = SchemaRegistryClient(srv.uri, token="sekrit")
        sid = good.register("t-value", {"type": "record", "name": "r",
                                        "fields": []})
        assert sid == 1
        with pytest.raises(urllib.error.HTTPError):
            SchemaRegistryClient(srv.uri, token="wrong").latest("t-value")


# ------------------------------------------------- spark integration
@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [(1, "alpha", 2.5, True), (2, "beta", -1.0, False),
         (3, None, 0.0, True)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("flag", T.BooleanType()),
        ]),
    )


def test_avro_encode_decode_roundtrip(spark, sample):
    avro = spark_to_avro_schema(sample.schema, name="sample")
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        sid = c.register("sample-value", avro)
        framed = encode_confluent_avro(sample, sid, avro)
        rows = framed.collect()
        assert all(bytes(r.value)[0] == 0 for r in rows)
        back = decode_confluent_avro(
            framed, sample.schema, schemas={sid: avro}
        )
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, sample.collect())
        )


def test_avro_decode_via_registry_url_and_evolution(spark, sample):
    """Two writer generations on one topic; the reader schema adds a
    column with a default — old records fill it, new records carry it."""
    avro_v1 = spark_to_avro_schema(sample.schema, name="sample")
    # fresh StructType — .add() would mutate the DataFrame's cached schema
    v2_spark = T.StructType(
        list(sample.schema.fields) + [T.StructField("src", T.StringType())]
    )
    avro_v2 = spark_to_avro_schema(v2_spark, name="sample")
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        id1 = c.register("sample-value", avro_v1)
        id2 = c.register("sample-value", avro_v2)
        old = encode_confluent_avro(sample, id1, avro_v1)
        new = encode_confluent_avro(
            sample.withColumn("src", F.lit("k2")), id2, avro_v2
        )
        mixed = old.unionAll(new)
        out = decode_confluent_avro(
            mixed,
            v2_spark,
            registry_url=srv.uri,
            defaults={"src": "legacy"},
        ).collect()
        srcs = sorted(r.src for r in out)
        assert srcs == ["k2"] * 3 + ["legacy"] * 3


def test_avro_timestamp_and_date_roundtrip(spark):
    from datetime import date, datetime

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
    ])
    df = spark.createDataFrame(
        [(datetime(2024, 3, 1, 12, 30, 45, 123456), date(2024, 3, 1))],
        schema,
    )
    avro = spark_to_avro_schema(schema, name="t")
    framed = encode_confluent_avro(df, 1, avro)
    back = decode_confluent_avro(framed, schema, schemas={1: avro})
    assert back.collect() == df.collect()


def test_json_schema_converter_jvm_roundtrip(spark, sample):
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        sid = c.register(
            "sample-value",
            json.dumps(json_schema_for(sample.schema)),
            schema_type="JSON",
        )
        assert c.get_by_id(sid)["schemaType"] == "JSON"
        framed = encode_confluent_json(sample, sid)
    # registry closed: the decode plan is JVM-only, no executor fetches
    back = decode_confluent_json(framed, sample.schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, sample.collect())
    )
    # scale check: the decode plan contains no python evals
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_protobuf_spark_roundtrip(spark, sample):
    desc = {
        1: ("id", "int64"),
        2: ("name", "string"),
        3: ("score", "double"),
        4: ("flag", "bool"),
    }
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        sid = c.register(
            "sample-value",
            proto_descriptor_text("Sample", desc),
            schema_type="PROTOBUF",
        )
        # proto3 has no null string: null -> "" on the wire
        src = sample.withColumn("name", F.coalesce("name", F.lit("")))
        framed = encode_confluent_protobuf(src, sid, desc)
        back = decode_confluent_protobuf(framed, src.schema, desc)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, src.collect())
        )


# ------------------------------------------- pipeline converter stage
def _kafka_batch(spark, rows):
    """Kafka-shaped batch with a BINARY value column."""
    return spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("key", T.StringType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
        ]),
    )


def test_pipeline_value_converter_avro_e2e(spark, tmp_path):
    """A connector config with value.converter=AvroConverter lands
    Schema-Registry-framed Avro bytes in the lakehouse; a tombstone
    (null value) still advances offsets and deletes nothing."""
    from datetime import datetime

    from iceberg_kafka_connect_spark.config import (
        SinkConfig, TableConfig,
    )
    from iceberg_kafka_connect_spark.sinks import Catalog
    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_avro_payload,
        frame as _frame,
        value_converter_from_properties,
    )
    from iceberg_kafka_connect_spark.streaming import SinkPipeline

    value_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    avro = spark_to_avro_schema(value_schema, name="rec")
    with SchemaRegistryServer() as srv:
        client = SchemaRegistryClient(srv.uri)
        sid = client.register("events-value", avro)
        ts = datetime(2024, 1, 1)
        rows = [
            ("k0", _frame(sid, encode_avro_payload(avro, {"id": 1, "name": "a"})),
             "events", 0, 0, ts),
            ("k1", _frame(sid, encode_avro_payload(avro, {"id": 2, "name": "b"})),
             "events", 0, 1, ts),
            ("k2", None, "events", 0, 2, ts),  # tombstone
        ]
        batch = _kafka_batch(spark, rows)
        conv = value_converter_from_properties({
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": srv.uri,
        })
        cat = Catalog(str(tmp_path / "wh"))
        cfg = SinkConfig(tables=[TableConfig("default.ev")], auto_create=True)
        pipe = SinkPipeline(cat, cfg, "pconv", value_schema=value_schema,
                            value_converter=conv)
        pipe.process_batch(batch, 0)
    t = cat.load_table("default.ev")
    got = sorted((r.id, r.name) for r in
                 t.read(spark).select("id", "name").collect())
    assert got == [(1, "a"), (2, "b")]
    # the tombstone advanced the committed offset anyway (P2/A2 parity)
    props = t.current_snapshot()["summary"]
    offsets = json.loads(props["kafka.connect.offsets"])
    assert offsets == {"events-0": 3}


def test_pipeline_value_converter_json_schema_jvm(spark, tmp_path):
    """JsonSchemaConverter lane: header strip is pure JVM — the batch
    plan contains no Python evals from the converter stage."""
    from iceberg_kafka_connect_spark.sources.confluent import (
        frame as _frame,
        value_converter_from_properties,
    )

    conv = value_converter_from_properties({
        "value.converter": "io.confluent.connect.json.JsonSchemaConverter",
    })
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    rows = [
        ("k0", _frame(9, b'{"id": 5}'), "t", 0, 0, ts),
        ("k1", None, "t", 0, 1, ts),
    ]
    out = conv(_kafka_batch(spark, rows))
    vals = [r.value for r in out.orderBy("offset").collect()]
    assert vals == ['{"id": 5}', None]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pipeline_value_converter_json_envelope(spark):
    """Plain JsonConverter with schemas.enable=true: the Connect
    envelope's payload extracts JVM-side."""
    from datetime import datetime

    from iceberg_kafka_connect_spark.sources.confluent import (
        value_converter_from_properties,
    )

    conv = value_converter_from_properties({
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "value.converter.schemas.enable": "true",
    })
    env = json.dumps({"schema": {"type": "struct"},
                      "payload": {"id": 7, "name": "x"}}).encode()
    ts = datetime(2024, 1, 1)
    out = conv(_kafka_batch(spark, [("k", env, "t", 0, 0, ts)]))
    got = json.loads(out.collect()[0].value)
    assert got == {"id": 7, "name": "x"}


def test_value_converter_unknown_class_raises():
    from iceberg_kafka_connect_spark.sources.confluent import (
        value_converter_from_properties,
    )

    assert value_converter_from_properties({}) is None
    with pytest.raises(ValueError):
        value_converter_from_properties(
            {"value.converter": "com.example.MysteryConverter"}
        )
    with pytest.raises(ValueError):
        value_converter_from_properties(
            {"value.converter":
             "io.confluent.connect.protobuf.ProtobufConverter"}
        )


def test_pipeline_value_converter_protobuf_e2e(spark, tmp_path):
    from datetime import datetime

    from iceberg_kafka_connect_spark.config import (
        SinkConfig, TableConfig,
    )
    from iceberg_kafka_connect_spark.sinks import Catalog
    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_proto_message,
        frame as _frame,
        value_converter_from_properties,
        write_message_indexes,
    )
    from iceberg_kafka_connect_spark.streaming import SinkPipeline

    desc = {1: ("id", "int64"), 2: ("name", "string")}
    value_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    conv = value_converter_from_properties({
        "value.converter":
            "io.confluent.connect.protobuf.ProtobufConverter",
        "value.converter.proto.descriptor":
            json.dumps({1: ["id", "int64"], 2: ["name", "string"]}),
    })
    ts = datetime(2024, 1, 1)
    head = _frame(3, b"") + write_message_indexes([0])
    rows = [
        ("a", head + encode_proto_message(desc, {"id": 10, "name": "p"}),
         "t", 0, 0, ts),
        ("b", head + encode_proto_message(desc, {"id": 0, "name": ""}),
         "t", 0, 1, ts),  # all-defaults record: empty payload
    ]
    cat = Catalog(str(tmp_path / "wh"))
    cfg = SinkConfig(tables=[TableConfig("default.pv")], auto_create=True)
    pipe = SinkPipeline(cat, cfg, "pproto", value_schema=value_schema,
                        value_converter=conv)
    pipe.process_batch(_kafka_batch(spark, rows), 0)
    got = sorted((r.id, r.name) for r in
                 cat.load_table("default.pv").read(spark)
                 .select("id", "name").collect())
    assert got == [(0, ""), (10, "p")]


def test_parse_proto_descriptor_roundtrip_and_subset():
    from iceberg_kafka_connect_spark.sources.confluent import (
        parse_proto_descriptor,
    )

    desc = {1: ("k", "int64"), 2: ("name", "string"),
            3: ("tags", "packed_int64")}
    txt = proto_descriptor_text("Order", desc)
    assert parse_proto_descriptor(txt) == desc

    nested = """
    // comment about the schema
    syntax = "proto3";
    message Point { int32 x = 1; int32 y = 2; }
    message Click {
      int64 user = 1;     /* who */
      Point at = 2;
      message Meta { string ua = 1; }
      Meta meta = 3;
      repeated double scores = 4;
    }
    """
    d = parse_proto_descriptor(nested, message="Click")
    assert d[1] == ("user", "int64")
    assert d[2][0:2] == ("at", "message")
    assert d[2][2] == {1: ("x", "int32"), 2: ("y", "int32")}
    assert d[3][2] == {1: ("ua", "string")}
    assert d[4] == ("scores", "packed_double")
    # wire roundtrip through the parsed descriptor
    row = {"user": 7, "at": {"x": 1, "y": 2},
           "meta": {"ua": "z"}, "scores": [0.5, 2.0]}
    assert decode_proto_message(d, encode_proto_message(d, row)) == row
    with pytest.raises(WireFormatError):
        parse_proto_descriptor("message M { repeated string xs = 1; }")
    with pytest.raises(WireFormatError):
        parse_proto_descriptor("message M { Unknown u = 1; }")
    with pytest.raises(WireFormatError):
        parse_proto_descriptor(nested, message="Nope")


def test_converter_decode_error_tolerance_routes_to_dlq(spark, tmp_path):
    """errors.tolerance=all: a record the converter can't decode lands
    in the DLQ (Connect's errant-record semantics applied to
    DESERIALIZATION), the good records commit; tolerance=none fails."""
    from datetime import datetime

    from iceberg_kafka_connect_spark.config import (
        SinkConfig, TableConfig,
    )
    from iceberg_kafka_connect_spark.sinks import Catalog
    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_avro_payload,
        frame as _frame,
        value_converter_from_properties,
    )
    from iceberg_kafka_connect_spark.streaming import SinkPipeline

    value_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    avro = spark_to_avro_schema(value_schema, name="rec")
    ts = datetime(2024, 1, 1)
    with SchemaRegistryServer() as srv:
        sid = SchemaRegistryClient(srv.uri).register("t-value", avro)
        good = _frame(sid, encode_avro_payload(avro, {"id": 1, "name": "a"}))
        bad_magic = b"\x07garbage-not-framed"
        unknown_id = _frame(9999, b"\x02")
        rows = [
            ("k0", good, "t", 0, 0, ts),
            ("k1", bad_magic, "t", 0, 1, ts),
            ("k2", unknown_id, "t", 0, 2, ts),
        ]
        base = {
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": srv.uri,
        }
        batch = spark.createDataFrame(
            rows,
            "key string, value binary, topic string, partition int, "
            "offset long, timestamp timestamp",
        )
        # tolerance=all -> DLQ
        cat = Catalog(str(tmp_path / "wh"))
        cfg = SinkConfig(
            tables=[TableConfig("default.ok")], auto_create=True,
            errors_tolerance="all", dlq_table="default.dlq",
        )
        conv = value_converter_from_properties(
            {**base, "errors.tolerance": "all"}
        )
        SinkPipeline(cat, cfg, "pd", value_schema=value_schema,
                     value_converter=conv).process_batch(batch, 0)
        assert [r.id for r in
                cat.load_table("default.ok").read(spark).collect()] == [1]
        dlq = cat.load_table("default.dlq").read(spark)
        bad_rows = dlq.collect()
        assert len(bad_rows) == 2
        assert all("CONVERTER_ERROR" in r.value for r in bad_rows)
        # Connect-style error classification columns
        assert {r.error for r in bad_rows} == {"CONVERTER_ERROR"}
        # bad magic -> WireFormatError; unknown id -> registry 404
        assert sorted(r.error_class for r in bad_rows) == [
            "HTTPError", "WireFormatError",
        ]
        # tolerance=none -> the batch fails
        cfg2 = SinkConfig(tables=[TableConfig("default.ok2")],
                          auto_create=True)
        conv2 = value_converter_from_properties(base)
        with pytest.raises(Exception):
            SinkPipeline(
                Catalog(str(tmp_path / "wh2")), cfg2, "pf",
                value_schema=value_schema, value_converter=conv2,
            ).process_batch(batch, 0)


# ------------------------------------------ review-fix regression pins
def test_avro_converter_lane_applies_logical_types(spark, tmp_path):
    """Avro timestamp-micros / date / decimal datums must reach
    from_json as ISO/decimal STRINGS (JsonConverter conventions), not
    raw micros/days/unscaled bytes."""
    from datetime import date as d_, datetime
    from decimal import Decimal

    from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig
    from iceberg_kafka_connect_spark.sinks import Catalog
    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_avro_payload,
        frame as _frame,
        value_converter_from_properties,
    )
    from iceberg_kafka_connect_spark.streaming import SinkPipeline

    value_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("day", T.DateType()),
        T.StructField("amt", T.DecimalType(10, 2)),
    ])
    avro = spark_to_avro_schema(value_schema, name="rec")
    ts = datetime(2024, 3, 1, 12, 30, 45, 123456)
    payload = encode_avro_payload(
        avro,
        {"id": 1, "ts": ts, "day": d_(2024, 3, 1), "amt": Decimal("12.34")},
    )
    with SchemaRegistryServer() as srv:
        sid = SchemaRegistryClient(srv.uri).register("t-value", avro)
        conv = value_converter_from_properties({
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": srv.uri,
        })
        batch = spark.createDataFrame(
            [("k", _frame(sid, payload), "t", 0, 0, ts)],
            "key string, value binary, topic string, partition int, "
            "offset long, timestamp timestamp",
        )
        cat = Catalog(str(tmp_path / "wh"))
        cfg = SinkConfig(tables=[TableConfig("default.lt")],
                         auto_create=True)
        SinkPipeline(cat, cfg, "plt", value_schema=value_schema,
                     value_converter=conv).process_batch(batch, 0)
    [row] = cat.load_table("default.lt").read(spark).collect()
    assert row.ts == ts
    assert row.day == d_(2024, 3, 1)
    assert row.amt == Decimal("12.34")


def test_json_envelope_missing_payload_is_error_not_tombstone(spark):
    from datetime import datetime

    from iceberg_kafka_connect_spark.sources.confluent import (
        value_converter_from_properties,
    )

    conv = value_converter_from_properties({
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "value.converter.schemas.enable": "true",
    })
    ts = datetime(2024, 1, 1)
    out = conv(_kafka_batch(spark, [
        ("k", b'{"id": 7}', "t", 0, 0, ts),   # bare JSON, no envelope
        ("k2", None, "t", 0, 1, ts),          # true tombstone stays null
    ])).orderBy("offset").collect()
    assert out[0].value.startswith("CONVERTER_ERROR")
    assert out[1].value is None


def test_proto_descriptor_json_nested_string_keys_normalized():
    from iceberg_kafka_connect_spark.sources.confluent import (
        value_converter_from_properties,
    )

    conv_props = {
        "value.converter":
            "io.confluent.connect.protobuf.ProtobufConverter",
        "value.converter.proto.descriptor": json.dumps(
            {"1": ["id", "int64"],
             "2": ["pt", "message", {"1": ["x", "int32"]}]}
        ),
    }
    # the converter builds without error and the nested descriptor has
    # INT keys all the way down — exercised through a real decode
    conv = value_converter_from_properties(conv_props)
    assert conv is not None
    desc = {1: ("id", "int64"), 2: ("pt", "message", {1: ("x", "int32")})}
    data = encode_proto_message(desc, {"id": 4, "pt": {"x": 9}})
    # decode through the same normalize path used by the lane
    from iceberg_kafka_connect_spark.sources.confluent import (
        decode_proto_message as dpm,
    )
    parsed = json.loads(conv_props["value.converter.proto.descriptor"])
    normalized = {
        int(k): (v[0], v[1]) if len(v) == 2
        else (v[0], v[1], {int(k2): tuple(v2) for k2, v2 in v[2].items()})
        for k, v in parsed.items()
    }
    assert dpm(normalized, data)["pt"] == {"x": 9}


def test_proto_descriptor_text_message_field_roundtrips():
    from iceberg_kafka_connect_spark.sources.confluent import (
        parse_proto_descriptor,
    )

    desc = {1: ("id", "int64"), 2: ("pt", "message", {1: ("x", "int32")})}
    txt = proto_descriptor_text("Order", desc)
    assert parse_proto_descriptor(txt) == desc


def test_parse_proto_rejects_unsupported_field_syntax():
    from iceberg_kafka_connect_spark.sources.confluent import (
        parse_proto_descriptor,
    )

    with pytest.raises(WireFormatError, match="unsupported field syntax"):
        parse_proto_descriptor(
            "message M { map<string, int64> attrs = 5; }"
        )
    # field options are fine
    d = parse_proto_descriptor(
        "message M { int32 a = 1 [deprecated = true]; }"
    )
    assert d == {1: ("a", "int32")}


def test_footer_skip_bool_collection_elements():
    """Compact-protocol collections store one byte per bool element;
    a list<bool> before the wanted i64 field must not desync."""
    import io as _io

    from iceberg_kafka_connect_spark.sinks.parquet_footer import (
        _struct_fields,
    )

    # struct { 1: list<bool> [true, false]; 3: i64 42 } STOP
    blob = bytes([
        0x19,        # field 1, type LIST (delta 1 << 4 | 9)
        0x21,        # list header: size 2, elem type 1 (bool)
        0x01, 0x02,  # true, false — one byte each
        0x26,        # field 3 (delta 2), type I64 (6)
        0x54,        # zigzag(42) = 84 = 0x54
        0x00,        # STOP
    ])
    assert _struct_fields(_io.BytesIO(blob), {3: 6}) == {3: 42}


def test_key_converter_lane_decodes_framed_keys(spark):
    """key.converter applies the same wire formats to the KEY column;
    null keys pass untouched."""
    from datetime import datetime

    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_avro_payload,
        frame as _frame,
        key_converter_from_properties,
    )

    key_schema = T.StructType([T.StructField("uid", T.LongType())])
    avro = spark_to_avro_schema(key_schema, name="key")
    with SchemaRegistryServer() as srv:
        sid = SchemaRegistryClient(srv.uri).register("t-key", avro)
        conv = key_converter_from_properties({
            "key.converter": "io.confluent.connect.avro.AvroConverter",
            "key.converter.schema.registry.url": srv.uri,
        })
        ts = datetime(2024, 1, 1)
        framed_key = _frame(sid, encode_avro_payload(avro, {"uid": 77}))
        batch = spark.createDataFrame(
            [(framed_key, '{"id":1}', "t", 0, 0, ts),
             (None, '{"id":2}', "t", 0, 1, ts)],
            "key binary, value string, topic string, partition int, "
            "offset long, timestamp timestamp",
        )
        out = conv(batch).orderBy("offset").collect()
    assert json.loads(out[0].key) == {"uid": 77}
    assert out[1].key is None
    assert out[0].value == '{"id":1}'  # value untouched


def test_streaming_wire_format_exactly_once_restart(spark, tmp_path):
    """Full streaming e2e: base64 wire files -> binary kafka shape ->
    value.converter=AvroConverter -> lakehouse, across TWO checkpointed
    runs — records land exactly once and the second run only processes
    the new chunk."""
    import base64
    from datetime import datetime

    from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig
    from iceberg_kafka_connect_spark.sinks import Catalog
    from iceberg_kafka_connect_spark.sources.confluent import (
        encode_avro_payload,
        frame as _frame,
        value_converter_from_properties,
    )
    from iceberg_kafka_connect_spark.sources.stream import (
        file_stream_source,
    )
    from iceberg_kafka_connect_spark.streaming import SinkPipeline

    value_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    avro = spark_to_avro_schema(value_schema, name="rec")
    src = tmp_path / "src"
    src.mkdir()

    def _chunk(fname, ids, offset0):
        with open(src / fname, "w") as f:
            for i, rid in enumerate(ids):
                framed = _frame(
                    sid, encode_avro_payload(
                        avro, {"id": rid, "name": f"n{rid}"}
                    )
                )
                f.write(json.dumps({
                    "key": base64.b64encode(str(rid).encode()).decode(),
                    "value": base64.b64encode(framed).decode(),
                    "topic": "t",
                    "partition": 0,
                    "offset": offset0 + i,
                    "timestamp": "2024-01-01T00:00:00.000Z",
                }) + "\n")

    with SchemaRegistryServer() as srv:
        sid = SchemaRegistryClient(srv.uri).register("t-value", avro)
        conv = value_converter_from_properties({
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": srv.uri,
        })
        cat = Catalog(str(tmp_path / "wh"))
        cfg = SinkConfig(tables=[TableConfig("default.wire")],
                         auto_create=True)
        ckpt = str(tmp_path / "ckpt")

        _chunk("c0.json", [1, 2, 3], 0)
        pipe = SinkPipeline(cat, cfg, "pw", value_schema=value_schema,
                            value_converter=conv)
        stream = file_stream_source(spark, str(src), binary_value=True)
        q = pipe.start(stream, ckpt, available_now=True)
        assert q.awaitTermination(120)

        _chunk("c1.json", [4, 5], 3)
        # fresh pipeline object, same checkpoint: the restart shape
        pipe2 = SinkPipeline(cat, cfg, "pw", value_schema=value_schema,
                             value_converter=conv)
        stream2 = file_stream_source(spark, str(src), binary_value=True)
        q2 = pipe2.start(stream2, ckpt, available_now=True)
        assert q2.awaitTermination(120)

    rows = sorted(
        (r.id, r.name)
        for r in cat.load_table("default.wire").read(spark)
        .select("id", "name").collect()
    )
    assert rows == [(1, "n1"), (2, "n2"), (3, "n3"), (4, "n4"), (5, "n5")]


def test_registry_compatibility_enforcement():
    """PUT /config BACKWARD makes the registration-time check real: an
    incompatible schema fails 409; a compatible one registers; the
    idempotent re-register of an existing version always passes."""
    import urllib.error

    v1 = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}]}
    bad = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"}]}
    ok = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None}]}
    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        assert c.get_compatibility() == "NONE"
        id1 = c.register("s-value", v1)
        c.set_compatibility("BACKWARD", subject="s-value")
        assert c.get_compatibility("s-value") == "BACKWARD"
        assert c.get_compatibility() == "NONE"  # global untouched
        with pytest.raises(urllib.error.HTTPError) as ei:
            c.register("s-value", bad)
        assert ei.value.code == 409
        id2 = c.register("s-value", ok)
        assert id2 != id1
        # idempotent re-register of the EXISTING version passes
        assert SchemaRegistryClient(srv.uri).register("s-value", v1) == id1
        # unsupported level rejected loudly
        with pytest.raises(urllib.error.HTTPError):
            c.set_compatibility("FULL_TRANSITIVE")


def test_compiled_decoder_agrees_with_generic_codec():
    """avro_fast.decoder_for == the generic decode_datum + logical
    application across the full type battery, both modes."""
    from datetime import date as d_, datetime
    from decimal import Decimal

    from iceberg_kafka_connect_spark.sources.avro_fast import decoder_for
    from iceberg_kafka_connect_spark.sources.confluent import (
        _apply_logical,
        decode_avro_payload,
        encode_avro_payload,
    )

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "l", "type": ["null", "long"]},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "amt", "type": {"type": "bytes", "logicalType": "decimal",
                                 "precision": 10, "scale": 2}},
        {"name": "raw", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ]}
    row = {"l": -7, "s": "héllo", "d": 2.5, "b": True,
           "ts": datetime(2024, 3, 1, 12, 30, 45, 123456),
           "day": d_(2024, 3, 1), "amt": Decimal("12.34"),
           "raw": b"\x00\x01", "xs": [1, -2, 300], "m": {"k": "v"}}
    payload = encode_avro_payload(schema, row)
    slow = _apply_logical(schema, decode_avro_payload(schema, payload))
    fast = decoder_for(schema)(payload)
    assert fast == slow
    assert fast["ts"] == row["ts"] and fast["amt"] == row["amt"]
    jm = decoder_for(schema, json_mode=True)(payload)
    assert jm["ts"] == "2024-03-01 12:30:45.123456"
    assert jm["day"] == "2024-03-01"
    assert jm["amt"] == "12.34"
    import base64

    assert jm["raw"] == base64.b64encode(b"\x00\x01").decode()
    # null branch
    row2 = dict(row, l=None)
    p2 = encode_avro_payload(schema, row2)
    assert decoder_for(schema)(p2)["l"] is None


def test_writer_schema_compiles_once_per_id_per_process(monkeypatch):
    """The converter hot path compiles each writer schema once per process
    and then finds its decoder with one dict probe per record: no schema
    re-serialization per record, in either lane (registry and prefetched),
    across many records and Arrow batches."""
    import pandas as pd

    from iceberg_kafka_connect_spark.sources import avro_fast, confluent
    from iceberg_kafka_connect_spark.sources.confluent import (
        _avro_values_to_json,
        _resolve_writer_decoder,
        encode_avro_payload,
    )

    base = [("id", "long"), ("name", ["null", "string"])]
    v1 = {"type": "record", "name": "r",
          "fields": [{"name": n, "type": t} for n, t in base]}
    v2 = {"type": "record", "name": "r",
          "fields": v1["fields"] + [{"name": "x", "type": "double"}]}
    compiled, looked_up = [], []
    real_compile, real_for = avro_fast.compile_decoder, avro_fast.decoder_for

    def spy_compile(schema, json_mode=False):
        if schema in (v1, v2):
            compiled.append((schema["fields"][-1]["name"], json_mode))
        return real_compile(schema, json_mode)

    def spy_for(schema, json_mode=False):
        looked_up.append(json_mode)
        return real_for(schema, json_mode)

    monkeypatch.setattr(avro_fast, "compile_decoder", spy_compile)
    monkeypatch.setattr(avro_fast, "decoder_for", spy_for)
    monkeypatch.setattr(avro_fast, "_CACHE", {})
    monkeypatch.setattr(confluent, "_EXECUTOR_DECODERS", {})
    monkeypatch.setattr(confluent, "_EXECUTOR_SCHEMAS", {})

    def _fail(exc, raw):
        raise exc

    with SchemaRegistryServer() as srv:
        c = SchemaRegistryClient(srv.uri)
        id1 = c.register("r-value", v1)
        id2 = c.register("r-value", v2)
        for b in range(3):  # three Arrow batches, 40 records each
            vals = []
            for i in range(40):
                if i % 2:
                    row, sid, sch = {"id": i, "name": None, "x": 0.5}, id2, v2
                else:
                    row, sid, sch = {"id": i, "name": f"n{b}"}, id1, v1
                vals.append(frame(sid, encode_avro_payload(sch, row)))
            out = _avro_values_to_json(pd.Series(vals), srv.uri, None, _fail)
            assert json.loads(out[0]) == {"id": 0, "name": f"n{b}"}
            assert json.loads(out[1])["x"] == 0.5
        assert sorted(compiled) == [("name", True), ("x", True)]
        assert looked_up == [True, True]

        # the prefetched lane (decode_confluent_avro): its own decoders,
        # keyed by the prefetched map's fingerprint, compiled once too
        prefetched = {id1: v1, id2: v2}
        for _ in range(50):
            for sid in (id1, id2):
                _resolve_writer_decoder(
                    sid, None, None, json_mode=False,
                    prefetched=prefetched, prefetched_key="fp",
                )
        assert sorted(compiled) == [
            ("name", False), ("name", True), ("x", False), ("x", True)
        ]
        assert looked_up == [True, True, False, False]
