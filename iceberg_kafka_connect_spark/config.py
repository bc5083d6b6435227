"""Job-spec config — the IcebergSinkConfig surface as a typed dataclass.

Reference: IcebergSinkConfig.java:252-293 (prefix-scoped property maps;
exactly one of static tables / dynamic routing required), TableSinkConfig
per-table settings (route-regex, id-columns, partition-by, commit-branch).

Accepts either the dataclasses directly or a flat dict using the reference's
property names (``iceberg.tables``, ``iceberg.tables.route-field``,
``iceberg.table.<t>.route-regex``, ``iceberg.tables.cdc-field``, ...), so an
existing connector config ports over as-is.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def default_commit_threads() -> int:
    """``iceberg.control.commit.threads`` default: 2 × available cores."""
    return 2 * (os.cpu_count() or 1)


@dataclass
class TableConfig:
    name: str
    route_regex: str | None = None
    id_columns: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)
    commit_branch: str = "main"
    # S6: table-property passthrough (iceberg.table.<t>.write-props.*,
    # Utilities.java:160-167 / IcebergSinkConfig.java:264) — applied at
    # auto-create, e.g. {"write.format.default": "orc"}
    write_props: dict = field(default_factory=dict)


@dataclass
class SinkConfig:
    tables: list[TableConfig] = field(default_factory=list)
    dynamic_enabled: bool = False
    route_field: str | None = None
    cdc_field: str | None = None
    upsert_mode: bool = False
    auto_create: bool = False
    evolve_schema: bool = False
    schema_case_insensitive: bool = False
    commit_interval_ms: int = 300_000  # IcebergSinkConfig.java:88-89
    # T8 parallel per-table commit (Coordinator.java:89): one pool thread
    # per routed table up to this many; the reference defaults to 2 × cores
    # (IcebergSinkConfig.java:92,228-233)
    commit_threads: int = field(default_factory=default_commit_threads)
    auto_create_partition_by: list[str] = field(default_factory=list)
    # Kafka Connect error-handling surface (errors.tolerance /
    # errors.deadletterqueue.topic.name): malformed records either fail the
    # batch ("none") or divert to the DLQ table ("all")
    errors_tolerance: str = "none"
    dlq_table: str | None = None
    default_commit_branch: str = "main"  # iceberg.tables.default-commit-branch
    # iceberg.tables.default-id-columns (IcebergSinkConfig.java:73): upsert
    # key fallback for tables without a per-table id-columns entry
    default_id_columns: list[str] = field(default_factory=list)
    # iceberg.tables.schema-force-optional (IcebergSinkConfig.java:82-83 /
    # SchemaUtils.java:260-280): declared record schemas land every column
    # nullable regardless of the source schema's required flags
    schema_force_optional: bool = False
    # iceberg.tables.auto-create-props.* (IcebergSinkConfig.java:65,262):
    # table properties applied once at auto-create
    # (IcebergWriterFactory.java:108), distinct from per-write write-props
    auto_create_props: dict = field(default_factory=dict)
    # iceberg.kafka.* (IcebergSinkConfig.java:63,259-260): Kafka client
    # property passthrough, forwarded to the kafka source as kafka.<prop>
    # options (security.protocol, sasl.jaas.config, ...)
    kafka_props: dict = field(default_factory=dict)
    # iceberg.control.commit.timeout-ms (IcebergSinkConfig.java:90-91):
    # parsed for config parity; the micro-batch barrier makes a separate
    # coordinator timeout unnecessary (commits are synchronous per batch)
    commit_timeout_ms: int = 30_000

    def __post_init__(self):
        # exactly one of static tables / dynamic routing
        # (IcebergSinkConfig.java validation)
        if self.dynamic_enabled and not self.route_field:
            raise ValueError("dynamic routing requires a route-field")
        if not self.dynamic_enabled and not self.tables:
            raise ValueError("static mode requires iceberg.tables")

    def table(self, name: str) -> TableConfig | None:
        for t in self.tables:
            if t.name == name:
                return t
        return None


def _split(v: str | None) -> list[str]:
    return [s.strip() for s in v.split(",") if s.strip()] if v else []


def from_properties(props: dict[str, str]) -> SinkConfig:
    """Parse the reference's flat property map (IcebergSinkConfig names)."""
    table_names = _split(props.get("iceberg.tables"))
    # reference-exact global prefix is `iceberg.table.write-props.`
    # (IcebergSinkConfig.java:66); the plural form is kept as an accepted
    # alias since it predates the parity fix here
    global_write_props = {}
    for prefix in ("iceberg.tables.write-props.", "iceberg.table.write-props."):
        global_write_props.update(
            {
                k[len(prefix) :]: v
                for k, v in props.items()
                if k.startswith(prefix)
            }
        )
    tables = []
    for name in table_names:
        prefix = f"iceberg.table.{name}."
        write_props = dict(global_write_props)
        write_props.update(
            {
                k[len(prefix + "write-props.") :]: v
                for k, v in props.items()
                if k.startswith(prefix + "write-props.")
            }
        )
        tables.append(
            TableConfig(
                name=name,
                route_regex=props.get(prefix + "route-regex"),
                id_columns=_split(props.get(prefix + "id-columns")),
                partition_by=_split(props.get(prefix + "partition-by")),
                commit_branch=props.get(
                    prefix + "commit-branch",
                    props.get("iceberg.tables.default-commit-branch", "main"),
                ),
                write_props=write_props,
            )
        )
    return SinkConfig(
        tables=tables,
        dynamic_enabled=props.get("iceberg.tables.dynamic-enabled", "false")
        == "true",
        route_field=props.get("iceberg.tables.route-field"),
        cdc_field=props.get("iceberg.tables.cdc-field"),
        upsert_mode=props.get("iceberg.tables.upsert-mode-enabled", "false")
        == "true",
        auto_create=props.get("iceberg.tables.auto-create-enabled", "false")
        == "true",
        evolve_schema=props.get("iceberg.tables.evolve-schema-enabled", "false")
        == "true",
        schema_case_insensitive=props.get(
            "iceberg.tables.schema-case-insensitive", "false"
        )
        == "true",
        commit_interval_ms=int(
            props.get("iceberg.control.commit.interval-ms", "300000")
        ),
        commit_threads=int(
            props.get("iceberg.control.commit.threads", default_commit_threads())
        ),
        errors_tolerance=props.get("errors.tolerance", "none"),
        dlq_table=props.get("errors.deadletterqueue.topic.name"),
        default_commit_branch=props.get(
            "iceberg.tables.default-commit-branch", "main"
        ),
        auto_create_partition_by=_split(
            props.get("iceberg.tables.default-partition-by")
        ),
        default_id_columns=_split(
            props.get("iceberg.tables.default-id-columns")
        ),
        schema_force_optional=props.get(
            "iceberg.tables.schema-force-optional", "false"
        )
        == "true",
        auto_create_props={
            k[len("iceberg.tables.auto-create-props.") :]: v
            for k, v in props.items()
            if k.startswith("iceberg.tables.auto-create-props.")
        },
        commit_timeout_ms=int(
            props.get("iceberg.control.commit.timeout-ms", "30000")
        ),
        kafka_props={
            k[len("iceberg.kafka.") :]: v
            for k, v in props.items()
            if k.startswith("iceberg.kafka.")
        },
    )


# Kafka Connect SMT chain surface: the connector config's ``transforms``
# list plus per-transform ``transforms.<name>.type`` /
# ``transforms.<name>.<key>`` properties (reference deployments configure
# SMTs exactly this way; config key names below are verbatim from the
# reference transform ConfigDefs).
def _require(tcfg: dict, name: str, key: str) -> str:
    if key not in tcfg:
        raise ValueError(f"transforms.{name}.{key} is required")
    return tcfg[key]


def _external_field(tcfg: dict, name: str):
    ext = tcfg.get("external_field")
    if ext is None:
        return None
    if "," not in ext:
        raise ValueError(
            f"transforms.{name}.external_field must be 'key,value', got "
            f"{ext!r}"
        )
    return tuple(ext.split(",", 1))


def _mongo_doc_schema(tcfg: dict[str, str], name: str):
    """MongoDebeziumTransform is schema-driven on our side (one plan-time
    from_json instead of the reference's per-record BSON walk), so the chain
    config must carry the document schema as a DDL string. Raise a named
    error rather than a TypeError when it's missing."""
    from pyspark.sql import types as T

    ddl = tcfg.get("doc.schema")
    if not ddl:
        raise ValueError(
            f"transforms.{name}.doc.schema is required for "
            "MongoDebeziumTransform (DDL string, e.g. '_id BIGINT, name "
            "STRING'): this port resolves the Mongo document schema at "
            "plan time instead of per record"
        )
    try:
        return T.StructType.fromDDL(ddl)
    except Exception as exc:
        raise ValueError(
            f"transforms.{name}.doc.schema: invalid DDL {ddl!r}: {exc}"
        ) from exc


def _col_smt(src: str, dst: str, fn_name: str):
    """Column-level extension SMT: ``df.withColumn(dst, fn(col(src)))``.
    The operator fn resolves lazily from operators.text so chain PARSING
    never imports Spark expression machinery it doesn't need."""

    def apply(df):
        from pyspark.sql import functions as F

        from .operators import text as tx

        return df.withColumn(dst, getattr(tx, fn_name)(F.col(src)))

    return apply


def _token_stats_smt(src: str):
    def apply(df):
        from pyspark.sql import functions as F

        from .operators import text as tx

        t = F.col(src)
        return df.withColumn("n_words", tx.word_count(t)).withColumn(
            "n_tokens", tx.token_count_regex(t)
        )

    return apply


def _split_assign_smt(key: str, splits: str, seed: str, dst: str, name: str):
    parts = []
    for item in splits.split(","):
        label, _, frac = item.strip().partition(":")
        if not frac:
            raise ValueError(
                f"transforms.{name}.splits: expected label:frac, got {item!r}"
            )
        parts.append((label, float(frac)))

    def apply(df):
        from .operators.ids import split_assign

        return split_assign(
            df, key, splits=tuple(parts), seed=seed, out_col=dst
        )

    return apply


def _hash_sample_smt(key: str, hex_threshold: str):
    def apply(df):
        from pyspark.sql import functions as F

        from .operators.text import hash_sample

        return df.filter(hash_sample(F.col(key), hex_threshold))

    return apply


def parse_transform_chain(props: dict[str, str]) -> list:
    """``transforms=a,b`` + ``transforms.a.type=...CopyValue`` +
    ``transforms.a.source.field=...`` → ordered list of DataFrame→DataFrame
    callables, matching Kafka Connect's SMT chain assembly. Unknown types
    and malformed per-SMT config raise naming the offending property.
    Builders are dispatched from ONE dict so validation and construction
    can't drift apart."""
    from .transforms import (
        copy_value,
        debezium_transform,
        dms_transform,
        json_to_map,
        kafka_metadata,
        mongo_debezium_transform,
    )

    # class-name (reference FQCN tail) → builder(tcfg, name); config keys
    # verbatim from the reference transform ConfigDefs
    builders = {
        # CopyValue.java:39-47
        "CopyValue": lambda tcfg, name: copy_value(
            _require(tcfg, name, "source.field"),
            _require(tcfg, name, "target.field"),
        ),
        # DebeziumTransform.java:43
        "DebeziumTransform": lambda tcfg, name: debezium_transform(
            target_pattern=tcfg.get("cdc.target.pattern")
        ),
        "DmsTransform": lambda tcfg, name: dms_transform(),
        # mongo_debezium_transform needs the document schema (the reference
        # derives it per-record from BSON; we are plan-time) — accept it as a
        # DDL string under transforms.<name>.doc.schema
        "MongoDebeziumTransform": lambda tcfg, name: mongo_debezium_transform(
            _mongo_doc_schema(tcfg, name),
            key_field=tcfg.get("doc.key.field", "_id"),
        ),
        # JsonToMapTransform.java:38
        "JsonToMapTransform": lambda tcfg, name: json_to_map(
            root=tcfg.get("json.root", "false") == "true"
        ),
        # KafkaMetadataTransform.java:90-95
        "KafkaMetadataTransform": lambda tcfg, name: kafka_metadata(
            nested=tcfg.get("nested", "false") == "true",
            key_prefix=tcfg.get("field_name", "_kafka_metadata"),
            external_field=_external_field(tcfg, name),
        ),
        # ---- extension SMTs (beyond the reference surface, same chain
        # contract): the LLM-pipeline column operators exposed through the
        # identical transforms.<name>.type config slot, so a connector
        # config can scrub/score/split records inline with the ports above
        "PiiScrubTransform": lambda tcfg, name: _col_smt(
            tcfg.get("text.field", "text"),
            tcfg.get("text.field", "text"),
            "scrub_pii",
        ),
        "LanguageIdTransform": lambda tcfg, name: _col_smt(
            tcfg.get("text.field", "text"),
            tcfg.get("target.field", "lang_pred"),
            "detect_language",
        ),
        "QualityScoreTransform": lambda tcfg, name: _col_smt(
            tcfg.get("text.field", "text"),
            tcfg.get("target.field", "quality"),
            "quality_score",
        ),
        "FingerprintTransform": lambda tcfg, name: _col_smt(
            tcfg.get("text.field", "text"),
            tcfg.get("target.field", "fingerprint"),
            "fingerprint",
        ),
        "TokenStatsTransform": lambda tcfg, name: _token_stats_smt(
            tcfg.get("text.field", "text")
        ),
        "SplitAssignTransform": lambda tcfg, name: _split_assign_smt(
            _require(tcfg, name, "key.field"),
            tcfg.get("splits", "train:0.8,val:0.1,test:0.1"),
            tcfg.get("seed", "v1"),
            tcfg.get("target.field", "split"),
            name,
        ),
        "HashSampleTransform": lambda tcfg, name: _hash_sample_smt(
            _require(tcfg, name, "key.field"),
            tcfg.get("hex.threshold", "28f5c"),
        ),
    }

    chain = []
    for name in _split(props.get("transforms")):
        prefix = f"transforms.{name}."
        tcfg = {
            k[len(prefix):]: v for k, v in props.items() if k.startswith(prefix)
        }
        fqcn = tcfg.pop("type", None)
        if fqcn is None:
            raise ValueError(f"transforms.{name}.type is required")
        cls = fqcn.rsplit(".", 1)[-1].removesuffix("$Key").removesuffix(
            "$Value"
        )
        if cls not in builders:
            raise ValueError(
                f"transforms.{name}.type: unknown transform {fqcn!r}"
            )
        chain.append(builders[cls](tcfg, name))
    return chain
