"""Seeded Kafka-shaped inputs for the ingest benchmark.

Every batch is a pure function of ``(seed, workload, batch index)``, so a
batch generated lazily mid-run is identical to one generated in set-up.
Each batch is written twice:

- ``inputs/bNNNNN/pK.parquet`` — the wire slice the engine consumes, one
  file per Kafka partition K (so the batch DataFrame has one Spark
  partition per Kafka partition, as the Kafka source gives it), with the
  Kafka record columns (key, value, topic, partition, offset, timestamp);
- ``truth/bNNNNN.parquet`` — the same records as typed columns, before any
  encoding, which the DuckDB oracle reads.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITIONS = 4
CDC_KEYS = 100_000
BASE_TS_US = 1_700_000_000 * 1_000_000  # 2023-11-14T22:13:20Z


def _nullable_record(name: str, fields: list[tuple[str, str]]) -> list:
    return ["null", {
        "type": "record",
        "name": name,
        "fields": [{"name": f, "type": ["null", t]} for f, t in fields],
    }]


# Debezium change-event envelope as the AvroConverter's writer schema
ROW_FIELDS = [("id", "long"), ("v", "long"), ("s", "string")]
ENVELOPE_SCHEMA = {
    "type": "record",
    "name": "envelope",
    "fields": [
        {"name": "op", "type": ["null", "string"]},
        {"name": "before", "type": _nullable_record("before_value", ROW_FIELDS)},
        {"name": "after", "type": _nullable_record("after_value", ROW_FIELDS)},
        {"name": "source", "type": _nullable_record(
            "source_info", [("db", "string"), ("schema", "string"), ("table", "string")]
        )},
        {"name": "ts_ms", "type": ["null", "long"]},
    ],
}
TRICKLE_TABLES = ("t0", "t1", "t2", "t3")
_CODES = {"cdc_upsert_read": 1, "trickle_aged": 2}


def _varint(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _str(s: bytes) -> bytes:
    return b"\x02" + _varint(len(s)) + s  # union branch 1, then the string


_SOURCE = b"\x02" + _str(b"app") + b"\x00" + _str(b"accounts")


def encode_envelope(schema_id: int, g: int, op: str, key: int, v: int, s: bytes) -> bytes:
    """Schema-Registry framing (magic 0 + 4-byte id) around the Avro binary
    of one ``ENVELOPE_SCHEMA`` change event: the row goes in ``before`` for
    a delete and in ``after`` otherwise; a null takes union branch 0."""
    row = b"\x02" + b"\x02" + _varint(key) + b"\x02" + _varint(v) + _str(s)
    before, after = (row, b"\x00") if op == "d" else (b"\x00", row)
    return b"".join((
        b"\x00", struct.pack(">I", schema_id),
        _str(op.encode()), before, after, _SOURCE, b"\x02", _varint(g),
    ))


def _kafka_cols(topic: str, first: int, n: int, ts_us: np.ndarray) -> dict:
    """Partition/offset/timestamp for records ``first .. first+n-1`` of a
    topic whose records go round-robin to ``PARTITIONS`` partitions."""
    g = np.arange(first, first + n, dtype=np.int64)
    return {
        "topic": pa.array([topic] * n),
        "partition": pa.array((g % PARTITIONS).astype(np.int32)),
        "offset": pa.array(g // PARTITIONS),
        "timestamp": pa.array(ts_us.astype("datetime64[us]")),
    }


class Generator:
    """Writes batch ``i`` of one workload under ``workdir``."""

    def __init__(self, workload: str, seed: int, workdir: str, batch_records: int,
                 schema_id: int = 0):
        self.workload = workload
        self.seed = seed
        self.n = batch_records
        self.schema_id = schema_id
        self.inputs = os.path.join(workdir, "inputs")
        self.truth = os.path.join(workdir, "truth")
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(self.truth, exist_ok=True)

    def ensure(self, i: int) -> str:
        """The directory of batch ``i``'s wire slice, written if missing."""
        wire = os.path.join(self.inputs, f"b{i:05d}")
        if not os.path.exists(wire):
            rng = np.random.default_rng([self.seed, _CODES[self.workload], i])
            wire_t, truth_t = getattr(self, "_" + self.workload)(rng, i)
            pq.write_table(truth_t, os.path.join(self.truth, f"b{i:05d}.parquet"))
            parts = wire_t.column("partition").to_numpy()
            tmp = wire + ".tmp"
            os.makedirs(tmp)
            for p in range(PARTITIONS):
                idx = np.flatnonzero(parts == p)
                pq.write_table(wire_t.take(idx), os.path.join(tmp, f"p{p}.parquet"))
            os.rename(tmp, wire)
        return wire

    # ---------------------------------------------------------- workloads
    def _cdc_upsert_read(self, rng, i):
        n, first = self.n, i * self.n
        g = np.arange(first, first + n, dtype=np.int64)
        # skewed keys: the square of a uniform draw favours low ids
        ids = np.floor(rng.random(n) ** 2 * CDC_KEYS).astype(np.int64)
        ops = rng.choice(np.array(["c", "u", "d"]), n, p=[0.2, 0.7, 0.1])
        vs = rng.integers(0, 1 << 40, n)
        values = [
            encode_envelope(self.schema_id, gi, op, k, v, b"s%d" % (v % 99991))
            for gi, k, op, v in zip(g.tolist(), ids.tolist(), ops.tolist(), vs.tolist())
        ]
        ts_us = BASE_TS_US + g * 1000
        wire = pa.table({
            "key": pa.array([str(k) for k in ids.tolist()]),
            "value": pa.array(values, pa.binary()),
            **_kafka_cols("app.accounts", first, n, ts_us),
        })
        truth = pa.table({
            "batch": pa.array(np.full(n, i, dtype=np.int64)),
            "g": pa.array(g),
            "id": pa.array(ids),
            "op": pa.array(ops),
            "v": pa.array(vs),
            "s": pa.array([f"s{v % 99991}" for v in vs.tolist()]),
        })
        return wire, truth

    def _trickle_aged(self, rng, i):
        n, first = self.n, i * self.n
        g = np.arange(first, first + n, dtype=np.int64)
        # every table receives records in every batch
        tbl_idx = rng.permutation(np.arange(n) % len(TRICKLE_TABLES))
        vs = rng.integers(0, 1 << 40, n)
        tbls = [TRICKLE_TABLES[t] for t in tbl_idx.tolist()]
        values = [
            json.dumps({"id": gi, "tbl": t, "v": v, "s": f"s{v % 99991}"})
            for gi, t, v in zip(g.tolist(), tbls, vs.tolist())
        ]
        ts_us = BASE_TS_US + g * 1000
        wire = pa.table({
            "key": pa.array([str(x) for x in g.tolist()]),
            "value": pa.array(values),
            **_kafka_cols("events", first, n, ts_us),
        })
        truth = pa.table({
            "batch": pa.array(np.full(n, i, dtype=np.int64)),
            "id": pa.array(g),
            "tbl": pa.array(tbls),
            "v": pa.array(vs),
            "s": pa.array([f"s{v % 99991}" for v in vs.tolist()]),
        })
        return wire, truth


def write_aged_rows(table_root: str, table: str, count: int, seed: int) -> list[str]:
    """``count`` single-row parquet files under the table root, one per
    aging commit; ids are negative so they never collide with fed ids."""
    rng = np.random.default_rng([seed, 99, TRICKLE_TABLES.index(table)])
    vs = rng.integers(0, 1 << 40, count).tolist()
    out_dir = os.path.join(table_root, "aged")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = -(TRICKLE_TABLES.index(table) + 1) * 1_000_000
    for k, v in enumerate(vs):
        p = os.path.join(out_dir, f"a{k:05d}.parquet")
        pq.write_table(
            pa.table({
                "id": pa.array([base - k], pa.int64()),
                "tbl": pa.array([table]),
                "v": pa.array([v], pa.int64()),
                "s": pa.array([f"s{v % 99991}"]),
            }),
            p,
        )
        paths.append(p)
    return paths
