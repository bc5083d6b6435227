"""Hive Metastore catalog client — the ``iceberg.catalog.type=hive``
leg, the reference's DEFAULT catalog (``data/Utilities.java:68-121``
builds Iceberg's HiveCatalog when no type/catalog-impl is configured).

Speaks the public HMS Thrift service (strict unframed TBinaryProtocol,
thrift_proto.py) with Iceberg's HiveTableOperations commit protocol:

1. ``lock`` — one EXCLUSIVE table-level lock (polling ``check_lock``
   while WAITING, like Iceberg's MetastoreLock);
2. re-read the table under the lock and compare its
   ``metadata_location`` parameter against the base the committer
   started from — a mismatch is a CommitConflict (someone committed
   underneath);
3. ``alter_table_with_environment_context`` moving
   ``metadata_location`` / ``previous_metadata_location``, carrying the
   ``expected_parameter_key``/``expected_parameter_value`` CAS in the
   EnvironmentContext (HIVE-26882 — enforced server-side too);
4. ``unlock``.

Table shape per Iceberg-on-Hive: an EXTERNAL_TABLE whose parameters
carry ``table_type=ICEBERG`` + ``metadata_location``, columns mirrored
into the StorageDescriptor for HMS browsers. The pointer protocol
(sync-on-read republish, create, drop) is
``pointer_catalog.PointerCatalog``'s; this leg supplies its primitives
— ``get_table`` / ``create_table`` (after ensuring the database) /
``drop_table`` / ``get_all_tables`` — and overrides ``_publish`` with
the locked commit above. ``hive_server.HiveMetastoreServer`` is the
in-process verifying twin.
"""

from __future__ import annotations

import getpass
import os
import socket
import time

from pyspark.sql import types as T

from . import thrift_proto as tp
from .catalog import NoSuchTableError, TableAlreadyExistsError
from .hive_server import (
    LEVEL_TABLE,
    LOCK_ACQUIRED,
    LOCK_EXCLUSIVE,
    LOCK_WAITING,
)
from .pointer_catalog import PointerCatalog
from .table import CommitConflict, LakehouseTable


class HiveThriftError(RuntimeError):
    pass


class _HmsClient:
    """One persistent unframed-binary connection; call() returns the
    result struct's success slot and raises mapped service
    exceptions."""

    # declared-exception slot → python exception, per method
    _ERRMAP = {
        "get_database": {1: NoSuchTableError},
        "create_database": {1: TableAlreadyExistsError},
        "get_table": {2: NoSuchTableError},
        "create_table": {1: TableAlreadyExistsError, 4: NoSuchTableError},
        "alter_table_with_environment_context": {1: CommitConflict},
        "drop_table": {1: NoSuchTableError},
    }

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self._host, self._port, self._timeout = host, port, timeout
        self._sock = None  # lazy: config parse/build never dials the wire
        self._rf = None
        self._seq = 0

    def _connect(self):
        if self._sock is None:
            self._sock = socket.create_connection(
                (self._host, self._port), timeout=self._timeout
            )
            self._rf = self._sock.makefile("rb")

    def close(self):
        try:
            if self._sock is not None:
                self._rf.close()
                self._sock.close()
        except OSError:
            pass

    def _reset(self):
        try:
            if self._sock is not None:
                self._rf.close()
                self._sock.close()
        except OSError:
            pass
        self._sock = None
        self._rf = None

    def call(self, name: str, args: dict):
        # one transparent reconnect: the server drops the connection on
        # any protocol error (and a restarted HMS drops everything) —
        # without this, one dropped socket poisons the long-lived
        # catalog handle for every later micro-batch
        try:
            rname, mtype, seqid, fields = self._call_once(name, args)
        except (OSError, EOFError, tp.ThriftProtocolError):
            self._reset()
            rname, mtype, seqid, fields = self._call_once(name, args)
        return self._postprocess(name, rname, mtype, seqid, fields)

    def _call_once(self, name: str, args: dict):
        self._connect()
        self._seq += 1
        self._sock.sendall(tp.encode_message(name, tp.CALL, self._seq, args))
        return tp.decode_message(self._rf)

    def _postprocess(self, name, rname, mtype, seqid, fields):
        if mtype == tp.EXCEPTION:
            raise HiveThriftError(
                f"{name}: TApplicationException {fields.get(1)}"
            )
        if rname != name or seqid != self._seq:
            raise HiveThriftError(
                f"out-of-order thrift reply: sent {name}#{self._seq}, "
                f"got {rname}#{seqid}"
            )
        for fid, exc in self._ERRMAP.get(name, {}).items():
            if fid in fields:
                raise exc(str((fields[fid] or {}).get(1, name)))
        # any other non-success slot is a declared exception we don't map
        for fid, v in fields.items():
            if fid != 0:
                raise HiveThriftError(
                    f"{name}: service exception (slot {fid}): "
                    f"{(v or {}).get(1) if isinstance(v, dict) else v}"
                )
        return fields.get(0)


def _parse_thrift_uri(uri: str) -> tuple[str, int]:
    u = uri
    if u.startswith("thrift://"):
        u = u[len("thrift://") :]
    host, _, port = u.partition(":")
    if not port:
        port = "9083"  # HMS default
    return host, int(port)


# HMS field ids (public hive_metastore.thrift): Table / FieldSchema /
# StorageDescriptor / EnvironmentContext / Lock* structs
def _field_schemas(schema: T.StructType) -> list[dict]:
    _HIVE_TYPES = {
        "long": "bigint", "integer": "int", "short": "smallint",
        "byte": "tinyint", "string": "string", "double": "double",
        "float": "float", "boolean": "boolean", "binary": "binary",
        "date": "date", "timestamp": "timestamp",
    }
    out = []
    for f in schema.fields:
        h = _HIVE_TYPES.get(f.dataType.typeName(), f.dataType.simpleString())
        out.append({1: tp.t_str(f.name), 2: tp.t_str(h), 3: tp.t_str("")})
    return out


class HiveCatalog(PointerCatalog):
    kind = "hive"

    def __init__(
        self,
        uri: str,
        warehouse: str | None = None,
        timeout: float = 10.0,
        lock_check_interval: float = 0.05,
        lock_timeout: float = 30.0,
    ):
        self.uri = uri
        self.warehouse = warehouse
        host, port = _parse_thrift_uri(uri)
        self._client = _HmsClient(host, port, timeout=timeout)
        self.lock_check_interval = lock_check_interval
        self.lock_timeout = lock_timeout

    # ------------------------------------------------------------ pointers
    def _ensure_database(self, db: str) -> None:
        try:
            self._client.call("get_database", {1: tp.t_str(db)})
        except NoSuchTableError:
            try:
                self._client.call(
                    "create_database",
                    {1: tp.t_struct({1: tp.t_str(db), 2: tp.t_str("")})},
                )
            except TableAlreadyExistsError:
                pass

    def _get(self, db: str, t: str) -> dict | None:
        try:
            return self._client.call(
                "get_table", {1: tp.t_str(db), 2: tp.t_str(t)}
            )
        except NoSuchTableError:
            return None

    @staticmethod
    def _params(tbl: dict | None) -> dict:
        return (tbl or {}).get(9) or {}

    def _get_pointer(self, db: str, t: str) -> tuple[str, dict] | None:
        """The token is the whole HMS table: the locked commit compares
        its metadata_location and keeps its mirrored columns."""
        cur = self._get(db, t)
        if cur is None:
            return None
        return self._params(cur).get("metadata_location"), cur

    def _insert_pointer(
        self, name: str, db: str, t: str, loc: str, table=None
    ) -> None:
        self._ensure_database(db)
        struct = self._table_struct(
            db, t, loc, None, table.schema(), table.root
        )
        self._client.call("create_table", {1: struct})

    def _delete_pointer(self, db: str, t: str) -> None:
        self._client.call(
            "drop_table",
            {1: tp.t_str(db), 2: tp.t_str(t), 3: tp.t_bool(False)},
        )

    def _table_struct(
        self,
        db: str,
        t: str,
        loc: str,
        prev: str | None,
        schema: T.StructType | None,
        root: str,
        raw_cols: list | None = None,
    ) -> tuple[int, dict]:
        params = {"table_type": "ICEBERG", "metadata_location": loc,
                  "EXTERNAL": "TRUE"}
        if prev:
            params["previous_metadata_location"] = prev
        if schema is not None:
            cols = _field_schemas(schema)
        else:
            # alter path: keep the mirrored columns the table already
            # carries (decoded {1: name, 2: type, 3: comment} dicts)
            cols = [
                {
                    1: tp.t_str(c.get(1)),
                    2: tp.t_str(c.get(2)),
                    3: tp.t_str(c.get(3, "")),
                }
                for c in (raw_cols or [])
            ]
        return tp.t_struct(
            {
                1: tp.t_str(t),
                2: tp.t_str(db),
                3: tp.t_str(getpass.getuser()),
                4: tp.t_i32(int(time.time())),
                7: tp.t_struct(
                    {
                        1: (tp.LIST, (tp.STRUCT, cols)),
                        2: tp.t_str("file://" + os.path.abspath(root)),
                    }
                ),
                9: tp.t_map_ss(params),
                12: tp.t_str("EXTERNAL_TABLE"),
            }
        )

    # ------------------------------------------------------------ locking
    def _acquire_lock(self, db: str, t: str) -> int:
        resp = self._client.call(
            "lock",
            {
                1: tp.t_struct(
                    {
                        1: tp.t_list_struct(
                            [
                                {
                                    1: tp.t_i32(LOCK_EXCLUSIVE),
                                    2: tp.t_i32(LEVEL_TABLE),
                                    3: tp.t_str(db),
                                    4: tp.t_str(t),
                                }
                            ]
                        ),
                        3: tp.t_str(getpass.getuser()),
                        4: tp.t_str(socket.gethostname()),
                        5: tp.t_str("iceberg-kafka-connect-spark"),
                    }
                )
            },
        )
        lid, state = resp[1], resp[2]
        deadline = time.time() + self.lock_timeout
        while state == LOCK_WAITING:
            if time.time() > deadline:
                self._unlock(lid)
                raise CommitConflict(
                    f"timed out waiting for HMS lock on {db}.{t}"
                )
            time.sleep(self.lock_check_interval)
            resp = self._client.call(
                "check_lock", {1: tp.t_struct({1: tp.t_i64(lid)})}
            )
            state = resp[2]
        if state != LOCK_ACQUIRED:
            raise CommitConflict(f"HMS lock on {db}.{t} not acquired")
        return lid

    def _unlock(self, lid: int) -> None:
        try:
            self._client.call(
                "unlock", {1: tp.t_struct({1: tp.t_i64(lid)})}
            )
        except (HiveThriftError, OSError):
            pass

    # ------------------------------------------------------------- commit
    def _publish(
        self, table: LakehouseTable, db: str, t: str, base: dict
    ) -> str:
        """Iceberg's HiveTableOperations.doCommit: lock → re-read →
        compare base metadata_location → alter (with the expected-param
        CAS in the EnvironmentContext) → unlock."""
        new = self._export(table)
        base_loc = self._params(base).get("metadata_location")
        lid = self._acquire_lock(db, t)
        try:
            cur = self._get(db, t)
            if cur is None:
                raise NoSuchTableError(f"{db}.{t}")
            cur_loc = self._params(cur).get("metadata_location")
            if cur_loc != base_loc:
                raise CommitConflict(
                    f"{db}.{t}: metadata_location moved from "
                    f"{base_loc} to {cur_loc}"
                )
            self._client.call(
                "alter_table_with_environment_context",
                {
                    1: tp.t_str(db),
                    2: tp.t_str(t),
                    3: self._table_struct(
                        db, t, new, cur_loc, None, table.root,
                        raw_cols=(cur.get(7) or {}).get(1),
                    ),
                    4: tp.t_struct(
                        {
                            1: tp.t_map_ss(
                                {
                                    "expected_parameter_key":
                                        "metadata_location",
                                    "expected_parameter_value": base_loc
                                    or "",
                                }
                            )
                        }
                    ),
                },
            )
        finally:
            self._unlock(lid)
        return new

    # ------------------------------------------------------------- surface
    def list_tables(self, namespace: str = "default") -> list[str]:
        names = self._client.call(
            "get_all_tables", {1: tp.t_str(namespace)}
        )
        return sorted(f"{namespace}.{n}" for n in names or [])
