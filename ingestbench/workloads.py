"""The ingest workloads.

Each workload drives the engine only through the calls a deployment makes:
``SinkPipeline.process_batch`` (what ``foreachBatch`` calls), the
``LakehouseTable.read`` / ``appends_between`` reader calls, and
``LakehouseTable.add_files`` for table set-up. A workload says how to build
its tables and pipeline, which reads follow which batch, and how to compute
each read's aggregate in Spark and, from the generated truth, in DuckDB.
"""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen

PIPELINE_ID = "ingestbench"

KAFKA_FIELDS = [
    T.StructField("key", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
]


def kafka_schema(value_type: T.DataType) -> T.StructType:
    return T.StructType(
        KAFKA_FIELDS[:1] + [T.StructField("value", value_type)] + KAFKA_FIELDS[1:]
    )


# full scans cost more with every commit, so the median of scans spread over
# growing table states is one sample from the middle of that ramp: readers
# instead scan the table several times at one state, after a fixed batch
# that every run reaches, so the scan latencies always cover the same state
FULL_SCAN_AFTER = 3
FULL_SCANS = 5


class Scan:
    """One reader operation: the table it reads and the batch range its
    result must equal."""

    def __init__(self, table: str, upto: int, since: int | None = None):
        self.table = table
        self.upto = upto  # last batch the result must include
        self.since = since  # incremental poll: batches after this one


class Workload:
    name = ""
    batch_records = 0
    pregen = 0  # batches generated in set-up; later ones are made lazily
    # batches of the throwaway warm-up pass: after the cold first one, JIT
    # compilation of the per-batch planning code needs the repetitions
    warmup_batches = 5
    tables: tuple[str, ...] = ()
    value_type: T.DataType = T.StringType()
    aged_rows = 0  # rows per table that set-up registers before the first batch
    incremental = False  # readers poll appends_between instead of read

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.schema_id = 0
        self.gen: gen.Generator | None = None

    # set-up ---------------------------------------------------------
    def start_background(self, warehouse: str) -> None:
        """Spark-free set-up that may overlap the session start."""

    def finish_background(self) -> None:
        """Wait for the background set-up to complete."""

    def stop_background(self) -> None:
        """Stop background set-up work that is still running."""

    def prepare(self, catalog) -> None:
        """Tables that must exist before the first batch."""

    def make_generator(self) -> gen.Generator:
        self.gen = gen.Generator(
            self.name, self.seed, self.workdir, self.batch_records,
            schema_id=self.schema_id,
        )
        return self.gen

    def open_source(self):
        """Source-side services; returns the pipeline's value converter."""
        return None

    def close_source(self) -> None:
        pass

    def pipeline(self, catalog, value_converter=None):
        raise NotImplementedError

    # readers --------------------------------------------------------
    def scans_after(self, i: int) -> list[Scan]:
        return []

    def final_scans(self, last: int) -> list[Scan]:
        """Untimed reads after the loop that cover the final state."""
        return []

    def reader(self, spark, table, scan: Scan, head_of: dict):
        """The reader call under measurement: returns a DataFrame (plan).
        An incremental reader polls from the head it saw last to the
        current head and records the new head in ``head_of``."""
        if not self.incremental:
            return table.read(spark)
        head = table.current_snapshot()["snapshot_id"]
        df = table.appends_between(spark, head_of.get(scan.table), head)
        head_of[scan.table] = head
        return df

    def spark_agg(self, df):
        """The aggregate a reader computes over its result: count plus
        checksums that DuckDB recomputes from the generated truth."""
        return df.agg(
            F.count(F.lit(1)), F.sum("id"), F.sum("v"), F.sum(F.length("s"))
        )

    def duck_agg(self, con, scan: Scan) -> tuple:
        raise NotImplementedError

    def records_in_table(self, con, table: str, last: int) -> int:
        raise NotImplementedError


# --------------------------------------------------------------------- cdc
CDC_ROW = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.LongType()),
    T.StructField("s", T.StringType()),
])
CDC_ENVELOPE = T.StructType([
    T.StructField("op", T.StringType()),
    T.StructField("before", CDC_ROW),
    T.StructField("after", CDC_ROW),
    T.StructField("source", T.StructType([
        T.StructField("db", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
    ])),
    T.StructField("ts_ms", T.LongType()),
])

# last event per key up to a batch; a key is live when that event is not a
# delete (upsert mode: c and u both replace the row)
_LAST_WINS = """
SELECT count(*), sum(id), sum(v), sum(length(s)) FROM (
    SELECT id, op, v, s FROM truth WHERE batch <= ?
    QUALIFY row_number() OVER (PARTITION BY id ORDER BY g DESC) = 1
) WHERE op <> 'd'
"""


class CdcUpsertRead(Workload):
    """Debezium change events, Avro-encoded and Schema-Registry-framed,
    decoded by the AvroConverter and unwrapped by debezium_transform in
    upsert mode over skewed keys; full merge-on-read scans plus aggregate
    between two batches."""

    name = "cdc_upsert_read"
    batch_records = 20_000
    pregen = 18
    tables = ("default.accounts",)
    value_type = T.BinaryType()

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        self._registry = None

    def open_source(self):
        """An in-process Schema Registry on localhost; the AvroConverter's
        executor-side client resolves the writer schema from it."""
        from iceberg_kafka_connect_spark.sources.confluent import (
            value_converter_from_properties,
        )
        from iceberg_kafka_connect_spark.sources.registry import (
            SchemaRegistryClient,
            SchemaRegistryServer,
        )

        self._registry = SchemaRegistryServer()
        self.schema_id = SchemaRegistryClient(self._registry.uri).register(
            "app.accounts-value", gen.ENVELOPE_SCHEMA
        )
        return value_converter_from_properties({
            "value.converter": "io.confluent.connect.avro.AvroConverter",
            "value.converter.schema.registry.url": self._registry.uri,
        })

    def close_source(self):
        if self._registry is not None:
            self._registry.close()
            self._registry = None

    def pipeline(self, catalog, value_converter=None):
        from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig
        from iceberg_kafka_connect_spark.streaming import SinkPipeline
        from iceberg_kafka_connect_spark.transforms import debezium_transform

        cfg = SinkConfig(
            tables=[TableConfig(self.tables[0], id_columns=["id"])],
            cdc_field="_cdc.op",
            upsert_mode=True,
            auto_create=True,
        )
        return SinkPipeline(
            catalog, cfg, PIPELINE_ID, value_schema=CDC_ENVELOPE,
            transforms=[debezium_transform()], value_converter=value_converter,
        )

    def scans_after(self, i):
        if i != FULL_SCAN_AFTER:
            return []
        return [Scan(self.tables[0], i) for _ in range(FULL_SCANS)]

    def final_scans(self, last):
        return [Scan(self.tables[0], last)]

    def duck_agg(self, con, scan):
        return con.execute(_LAST_WINS, [scan.upto]).fetchone()

    def records_in_table(self, con, table, last):
        return con.execute(_LAST_WINS, [last]).fetchone()[0]


# ----------------------------------------------------------------- trickle
TRICKLE_VALUE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("tbl", T.StringType()),
    T.StructField("v", T.LongType()),
    T.StructField("s", T.StringType()),
])
AGED_SNAPSHOTS = 300
AGE_SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "age.py")


class TrickleAged(Workload):
    """Small JSON batches dynamically routed to four tables that set-up aged
    to a few hundred snapshots; after every batch a consumer polls
    appends_between on one table, round robin. The final state is checked
    file by file from the tables' live manifests."""

    name = "trickle_aged"
    batch_records = 500
    pregen = 40
    tables = tuple(gen.TRICKLE_TABLES)
    incremental = True
    aged_rows = AGED_SNAPSHOTS

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        self._aging: list[subprocess.Popen] | None = None

    def prepare(self, catalog):
        for t in self.tables:
            if not catalog.table_exists(t):
                catalog.create_table(t, TRICKLE_VALUE)

    def start_background(self, warehouse):
        """Age every table in its own Python process, one per table."""
        from iceberg_kafka_connect_spark.sinks import Catalog

        catalog = Catalog(warehouse)
        self.prepare(catalog)
        self._aging = [
            subprocess.Popen(
                [sys.executable, AGE_SCRIPT, catalog.load_table(t).root, t,
                 str(AGED_SNAPSHOTS), str(self.seed)],
                stdout=subprocess.PIPE, text=True,
            )
            for t in self.tables
        ]

    def finish_background(self):
        if self._aging is None:
            return
        snaps = []
        for proc in self._aging:
            out, _ = proc.communicate(timeout=120)
            snaps.append(int(out) if proc.returncode == 0 else None)
        self._aging = None
        if snaps != [AGED_SNAPSHOTS] * len(self.tables):
            raise RuntimeError(f"aging produced {snaps} snapshots")

    def stop_background(self):
        if self._aging is None:
            return
        for proc in self._aging:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            proc.stdout.close()
        self._aging = None

    def pipeline(self, catalog, value_converter=None):
        from iceberg_kafka_connect_spark.config import SinkConfig
        from iceberg_kafka_connect_spark.streaming import SinkPipeline

        cfg = SinkConfig(dynamic_enabled=True, route_field="tbl")
        return SinkPipeline(catalog, cfg, PIPELINE_ID, value_schema=TRICKLE_VALUE)

    def scans_after(self, i):
        # one table per batch, round robin: after the first round every
        # poll covers the same number of batches
        return [Scan(self.tables[i % len(self.tables)], i)]

    def duck_agg(self, con, scan):
        return con.execute(
            "SELECT count(*), sum(id), sum(v), sum(length(s)) FROM truth "
            "WHERE batch > ? AND batch <= ? AND tbl = ?",
            [scan.since, scan.upto, scan.table.split(".")[-1]],
        ).fetchone()

    def records_in_table(self, con, table, last):
        return con.execute(
            "SELECT count(*) FROM truth WHERE batch <= ? AND tbl = ?",
            [last, table],
        ).fetchone()[0]


WORKLOADS = {w.name: w for w in (CdcUpsertRead, TrickleAged)}
