"""PointerCatalog — the commit protocol shared by the five pointer
catalogs (jdbc, dynamodb, glue, hive, nessie).

Iceberg splits every metastore catalog the same way
(``BaseMetastoreCatalog`` / ``BaseMetastoreTableOperations``): a table's
state is a metadata JSON file in the warehouse, and the catalog stores
only a POINTER to the current file, moved by compare-and-swap. This base
owns that protocol once:

- ``load_table`` follows the pointer and, when the live table moved past
  the exported metadata (its ``export.source-version`` stamp is stale),
  republishes: export fresh metadata, then CAS the pointer. Losing that
  CAS is not an error — the winner's metadata is just as fresh. So
  readers that only follow the pointer (external engines reading the
  metadata location) always land on current metadata.
- ``create_table`` checks the warehouse and the name, creates the table,
  exports its metadata and inserts the first pointer; a racing insert
  surfaces as ``TableAlreadyExistsError``, which
  ``create_table_if_not_exists`` turns into a load of the winner's table.
- ``drop_table`` deletes the pointer and, with ``purge``, the data.

A leg supplies only its transport, its wire format and five primitives:

- ``_get_pointer(ns, t)`` → ``(location, token)`` or None, where
  ``token`` is whatever the leg's CAS compares against (the location, a
  version id, the whole catalog entry);
- ``_cas_pointer(ns, t, token, new_location)`` — raises
  ``CommitConflict`` when the pointer moved past ``token``;
- ``_insert_pointer(name, ns, t, location, table)`` — raises
  ``TableAlreadyExistsError`` when the name is taken;
- ``_delete_pointer(ns, t)``;
- ``list_tables``.

Pointers hold ``file://`` + the absolute metadata path unless a leg
overrides ``_pointer_value``. Catalog cost stays O(1) pointer calls plus
an O(live files) metadata export per publish; no data IO ever.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import types as T

from .catalog import NoSuchTableError, TableAlreadyExistsError
from .table import CommitConflict, LakehouseTable


def _uri_to_path(uri: str) -> str:
    """``file:///abs`` and Iceberg-Java's ``file:/abs`` → ``/abs``; a bare
    path passes through."""
    for prefix in ("file://", "file:"):
        if uri.startswith(prefix):
            return uri[len(prefix) :]
    return uri


def _read_json(location: str) -> dict:
    with open(_uri_to_path(location)) as f:
        return json.load(f)


class AutoCreate:
    """``create_table_if_not_exists`` over a catalog's ``table_exists`` /
    ``create_table`` / ``load_table``."""

    def create_table_if_not_exists(
        self,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | str | None = None,
        properties: dict | None = None,
        identifier_fields: list[str] | None = None,
    ) -> LakehouseTable:
        """Auto-create with race tolerance (IcebergWriterFactory.java:69-117:
        create, and when a concurrent creator wins, load its table)."""
        if self.table_exists(name):
            return self.load_table(name)
        try:
            return self.create_table(
                name, schema, partition_by, properties, identifier_fields
            )
        except TableAlreadyExistsError:
            return self.load_table(name)


class PointerCatalog(AutoCreate):
    """Refresh/commit protocol over a leg's pointer primitives (module
    docstring)."""

    kind = "pointer"  # the leg's name in error messages
    warehouse: str | None = None

    # ----------------------------------------------------------- primitives
    def _get_pointer(self, ns: str, t: str) -> tuple[str, object] | None:
        raise NotImplementedError

    def _cas_pointer(self, ns: str, t: str, token, new: str) -> None:
        raise NotImplementedError

    def _insert_pointer(
        self, name: str, ns: str, t: str, loc: str, table=None
    ) -> None:
        raise NotImplementedError

    def _delete_pointer(self, ns: str, t: str) -> None:
        raise NotImplementedError

    # ------------------------------------------------------------- identity
    @staticmethod
    def _ident(name: str) -> tuple[str, str]:
        """(dotted namespace, table): multi-level namespaces stay one
        dotted string ("a.b.c.t" → ns "a.b.c"); a bare name is in
        ``default``."""
        parts = name.split(".")
        if len(parts) == 1:
            parts = ["default", parts[0]]
        return ".".join(parts[:-1]), parts[-1]

    def _pointer_of(self, name: str) -> tuple[str, str, str, object]:
        """(ns, table, location, token) of an existing table."""
        ns, t = self._ident(name)
        ptr = self._get_pointer(ns, t)
        if ptr is None:
            raise NoSuchTableError(name)
        return ns, t, *ptr

    @staticmethod
    def _table_root(loc: str) -> str:
        return _uri_to_path(_read_json(loc)["location"])

    # --------------------------------------------------------------- commit
    def _pointer_value(self, metadata_path: str) -> str:
        """The string a pointer stores for an exported metadata file."""
        return "file://" + os.path.abspath(metadata_path)

    def _export(self, table: LakehouseTable) -> str:
        from .iceberg_export import export_iceberg_metadata

        return self._pointer_value(export_iceberg_metadata(table))

    def _publish(self, table: LakehouseTable, ns: str, t: str, token) -> str:
        """Export the table's current state and CAS the pointer to it."""
        new = self._export(table)
        self._cas_pointer(ns, t, token, new)
        return new

    # -------------------------------------------------------------- surface
    def table_exists(self, name: str) -> bool:
        return self._get_pointer(*self._ident(name)) is not None

    def load_table(self, name: str) -> LakehouseTable:
        """Follow the pointer; republish first when the live table moved
        past the pointed metadata (sync-on-read)."""
        ns, t, loc, token = self._pointer_of(name)
        meta = _read_json(loc)
        table = LakehouseTable(_uri_to_path(meta["location"]))
        stamped = meta.get("properties", {}).get("export.source-version")
        if stamped != str(table.current_version()):
            try:
                self._publish(table, ns, t, token)
            except CommitConflict:
                pass  # a concurrent republish is just as fresh
        return table

    def load_table_metadata(self, name: str) -> tuple[str, dict]:
        """(metadata-location, Iceberg metadata JSON) as currently
        published — the external-engine view of the table."""
        self.load_table(name)  # republish if stale
        loc = self._pointer_of(name)[2]
        return loc, _read_json(loc)

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | str | None = None,
        properties: dict | None = None,
        identifier_fields: list[str] | None = None,
    ) -> LakehouseTable:
        def build(root: str) -> LakehouseTable:
            try:
                return LakehouseTable.create(
                    root, schema, partition_by, properties, identifier_fields
                )
            except (CommitConflict, FileExistsError):
                raise TableAlreadyExistsError(name) from None

        return self._add_table(name, "create", build)

    def _add_table(
        self, name: str, verb: str, build: Callable[[str], LakehouseTable]
    ) -> LakehouseTable:
        """The shared body of create/register: warehouse check, name check,
        ``build(root)`` the table, export it, insert the first pointer."""
        if not self.warehouse:
            raise ValueError(
                f"{self.kind} catalog requires iceberg.catalog.warehouse to "
                f"{verb} tables"
            )
        ns, t = self._ident(name)
        if self._get_pointer(ns, t) is not None:
            raise TableAlreadyExistsError(name)
        table = build(os.path.join(self.warehouse, *ns.split("."), t))
        self._insert_pointer(name, ns, t, self._export(table), table)
        return table

    def _register(self, name: str, metadata_location: str) -> LakehouseTable:
        """Iceberg ``registerTable``: adopt an existing Iceberg metadata
        tree — import it (zero data copy) into the warehouse, then insert
        the pointer."""
        from .iceberg_import import import_iceberg_table

        return self._add_table(
            name,
            "register",
            lambda root: import_iceberg_table(metadata_location, root),
        )

    def drop_table(self, name: str, purge: bool = False) -> None:
        ns, t, loc, _ = self._pointer_of(name)
        self._delete_pointer(ns, t)
        if purge:
            shutil.rmtree(self._table_root(loc), ignore_errors=True)

    def _move_pointer(self, src: str, dst: str) -> LakehouseTable:
        """Rename as insert-destination then delete-source: the insert's
        name-taken check keeps the destination safe, and a crash between
        the two ops leaves both names readable, never neither."""
        sns, st, loc, _ = self._pointer_of(src)
        dns, dt = self._ident(dst)
        self._insert_pointer(dst, dns, dt, loc)
        self._delete_pointer(sns, st)
        return self.load_table(dst)
