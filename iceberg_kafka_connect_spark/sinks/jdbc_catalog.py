"""JDBC catalog — Iceberg's SQL-pointer catalog, executable on sqlite3.

Reference parity: ``iceberg.catalog.type=jdbc`` resolves to Iceberg's
``JdbcCatalog`` (data/Utilities.java:68-121 → CatalogUtil), whose entire
protocol is three public SQL tables (apache/iceberg
``jdbc/JdbcUtil.java``):

- ``iceberg_tables(catalog_name, table_namespace, table_name,
  metadata_location, previous_metadata_location)`` — one row per table,
  the row IS the table's current-metadata pointer;
- ``iceberg_namespace_properties(catalog_name, namespace, property_key,
  property_value)`` — namespace existence + properties;
- ``iceberg_views(catalog_name, view_namespace, view_name,
  metadata_location, previous_metadata_location)`` — one pointer row per
  SQL view (metadata doc in the warehouse, sinks/views.py).

A commit is one compare-and-swap::

    UPDATE iceberg_tables
       SET metadata_location = :new, previous_metadata_location = :old
     WHERE catalog_name = :c AND table_namespace = :ns
       AND table_name = :t AND metadata_location = :old

zero rows updated = another writer won = CommitFailedException. That
protocol is database-agnostic by design; Python's stdlib ``sqlite3``
makes it executable here (a server-grade DB swaps in by changing the
connection factory — the SQL surface is identical on purpose). Other
JDBC drivers named in the uri (postgresql, mysql, …) stay
``UnsupportedCatalogError`` — their runtimes genuinely aren't in this
deployment.

The refresh/commit protocol (sync-on-read republish, create, drop) is
``pointer_catalog.PointerCatalog``'s; this leg supplies its primitives —
SELECT / the CAS UPDATE above / INSERT / DELETE on ``iceberg_tables`` —
and keeps what is JDBC-only: rows hold the RAW metadata path, rename
moves the table directory (rolled back when the CAS loses), drop purges
by default, and namespaces and SQL views have their own tables.
"""

from __future__ import annotations

import os
import re as _re
import shutil
import sqlite3
from contextlib import contextmanager

from .catalog import TableAlreadyExistsError, UnsupportedCatalogError
from .pointer_catalog import PointerCatalog, _read_json, _uri_to_path
from .table import CommitConflict, LakehouseTable

_TABLES_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_tables (
  catalog_name VARCHAR(255) NOT NULL,
  table_namespace VARCHAR(255) NOT NULL,
  table_name VARCHAR(255) NOT NULL,
  metadata_location VARCHAR(1000),
  previous_metadata_location VARCHAR(1000),
  PRIMARY KEY (catalog_name, table_namespace, table_name)
)
"""
_NS_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_namespace_properties (
  catalog_name VARCHAR(255) NOT NULL,
  namespace VARCHAR(255) NOT NULL,
  property_key VARCHAR(255),
  property_value VARCHAR(1000),
  PRIMARY KEY (catalog_name, namespace, property_key)
)
"""
# JdbcUtil marks property-less namespaces with this sentinel row
_NS_EXISTS_KEY = "exists"

# JdbcUtil's third table (apache/iceberg jdbc/JdbcUtil.java): one pointer
# row per SQL view — same CAS protocol as iceberg_tables
_VIEWS_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_views (
  catalog_name VARCHAR(255) NOT NULL,
  view_namespace VARCHAR(255) NOT NULL,
  view_name VARCHAR(255) NOT NULL,
  metadata_location VARCHAR(1000),
  previous_metadata_location VARCHAR(1000),
  PRIMARY KEY (catalog_name, view_namespace, view_name)
)
"""


def parse_jdbc_uri(uri: str) -> str:
    """``jdbc:sqlite:<path>`` (or ``sqlite:<path>`` / bare path) → sqlite
    db file path; any other driver names its missing runtime."""
    rest = uri
    if rest.startswith("jdbc:"):
        rest = rest[len("jdbc:") :]
    driver, _, tail = rest.partition(":")
    if driver == "sqlite":
        return _uri_to_path(tail or rest)
    if "/" in driver or not tail:
        # no driver segment at all — treat the uri as a raw file path
        return rest
    raise UnsupportedCatalogError(
        f"jdbc driver {driver!r} requires an external database runtime "
        "not present in this deployment (executable here: jdbc:sqlite:)"
    )


class JdbcCatalog(PointerCatalog):
    """Catalog over the Iceberg JDBC pointer schema; same surface as the
    directory :class:`~.catalog.Catalog`. Pointer rows hold the raw
    metadata path."""

    kind = "jdbc"

    def __init__(
        self,
        db_path: str,
        warehouse: str | None = None,
        catalog_name: str = "iceberg",
    ):
        self.db_path = db_path
        self.warehouse = warehouse
        self.name = catalog_name
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        with self._conn() as con:
            con.execute(_TABLES_DDL)
            con.execute(_NS_DDL)
            con.execute(_VIEWS_DDL)

    @contextmanager
    def _conn(self):
        con = sqlite3.connect(self.db_path, timeout=10.0)
        con.isolation_level = None  # autocommit; CAS is a single UPDATE
        try:
            yield con
        finally:
            con.close()

    # ------------------------------------------------------------ pointers
    def _pointer(self, ns: str, t: str) -> str | None:
        with self._conn() as con:
            row = con.execute(
                "SELECT metadata_location FROM iceberg_tables "
                "WHERE catalog_name=? AND table_namespace=? AND table_name=?",
                (self.name, ns, t),
            ).fetchone()
        return row[0] if row else None

    def _get_pointer(self, ns: str, t: str) -> tuple[str, str] | None:
        loc = self._pointer(ns, t)
        return None if loc is None else (loc, loc)

    def _swap_pointer(self, ns: str, t: str, old: str, new: str) -> None:
        with self._conn() as con:
            cur = con.execute(
                "UPDATE iceberg_tables SET metadata_location=?, "
                "previous_metadata_location=? WHERE catalog_name=? AND "
                "table_namespace=? AND table_name=? AND metadata_location=?",
                (new, old, self.name, ns, t, old),
            )
        if cur.rowcount != 1:
            raise CommitConflict(
                f"metadata pointer for {ns}.{t} moved from {old!r} — "
                "another writer committed first"
            )

    _cas_pointer = _swap_pointer  # the CAS token is the old location

    def _pointer_value(self, metadata_path: str) -> str:
        return metadata_path

    def _insert_pointer(
        self, name: str, ns: str, t: str, loc: str, table=None
    ) -> None:
        """First pointer row for a table; a racing INSERT loses on the
        primary key and surfaces as TableAlreadyExistsError (the loser's
        just-exported metadata tree under the shared root stays — it
        describes the same table state and the next publish supersedes
        it)."""
        try:
            with self._conn() as con:
                con.execute(
                    "INSERT INTO iceberg_tables (catalog_name, "
                    "table_namespace, table_name, metadata_location, "
                    "previous_metadata_location) VALUES (?,?,?,?,NULL)",
                    (self.name, ns, t, loc),
                )
        except sqlite3.IntegrityError:
            raise TableAlreadyExistsError(name) from None
        self._ensure_namespace_row(ns)

    def _delete_pointer(self, ns: str, t: str) -> None:
        with self._conn() as con:
            con.execute(
                "DELETE FROM iceberg_tables WHERE catalog_name=? AND "
                "table_namespace=? AND table_name=?",
                (self.name, ns, t),
            )

    # ------------------------------------------------------------- surface
    def register_table(
        self, name: str, metadata_location: str
    ) -> LakehouseTable:
        """Iceberg ``registerTable`` parity (PointerCatalog._register)."""
        return self._register(name, metadata_location)

    def drop_table(self, name: str, purge: bool = True) -> None:
        """JdbcCatalog purges the table's directory by default."""
        super().drop_table(name, purge)

    def rename_table(self, src: str, dst: str) -> LakehouseTable:
        """Pointer rename + directory move. Exported metadata embeds
        absolute file URIs, so the move republishes fresh metadata for the
        new location before the pointer lands."""
        sns, st, loc, _ = self._pointer_of(src)
        dns, dt = self._ident(dst)
        if self._pointer(dns, dt) is not None:
            raise TableAlreadyExistsError(dst)
        old_root = self._table_root(loc)
        new_root = (
            os.path.join(self.warehouse, *dns.split("."), dt)
            if self.warehouse
            else os.path.join(os.path.dirname(old_root), dt)
        )
        os.makedirs(os.path.dirname(new_root), exist_ok=True)
        os.rename(old_root, new_root)
        table = LakehouseTable(new_root)
        # the export below rewrites version-hint.text; keep the prior
        # content so a CAS-failure rollback can restore it (r5 advice —
        # a rolled-back rename used to leave the hint pointing at the
        # unlinked new_root metadata path, bricking hint-based readers)
        hint_path = os.path.join(
            new_root, "iceberg-metadata", "version-hint.text"
        )
        prev_hint = None
        if os.path.isfile(hint_path):
            with open(hint_path) as f:
                prev_hint = f.read()
        new_loc = self._export(table)
        with self._conn() as con:
            # CAS on the OLD metadata location: a concurrent drop/rename/
            # publish makes rowcount 0, and the directory move above must
            # then roll back — otherwise the surviving catalog row would
            # dangle, pointing at a location whose data already moved
            # (r4 advice)
            cur = con.execute(
                "UPDATE iceberg_tables SET table_namespace=?, table_name=?, "
                "metadata_location=?, previous_metadata_location=? WHERE "
                "catalog_name=? AND table_namespace=? AND table_name=? "
                "AND metadata_location=?",
                (dns, dt, new_loc, loc, self.name, sns, st, loc),
            )
            if cur.rowcount != 1:
                # the aborted export's metadata file embeds absolute URIs
                # under new_root — it must not ride back with the rollback
                # or the next export's metadata-log would point readers at
                # the dead location
                try:
                    os.unlink(new_loc)
                except OSError:
                    pass
                # drop the aborted export's tree-* subdirectory and restore
                # (or remove) version-hint.text before moving back — the
                # moved-back table must look exactly as it did pre-rename
                base = os.path.basename(new_loc)
                m = _re.match(
                    r"(\d+)-([0-9a-f]+)\.metadata\.json$", base
                )
                if m:
                    shutil.rmtree(
                        os.path.join(
                            os.path.dirname(new_loc),
                            f"tree-{m.group(1)}-{m.group(2)[:8]}",
                        ),
                        ignore_errors=True,
                    )
                if prev_hint is not None:
                    with open(hint_path, "w") as f:
                        f.write(prev_hint)
                else:
                    try:
                        os.unlink(hint_path)
                    except OSError:
                        pass
                os.rename(new_root, old_root)
                raise CommitConflict(
                    f"{src} changed concurrently during rename; "
                    "directory move rolled back"
                )
        self._ensure_namespace_row(dns)
        return table

    def list_tables(self) -> list[str]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT table_namespace, table_name FROM iceberg_tables "
                "WHERE catalog_name=? ORDER BY 1, 2",
                (self.name,),
            ).fetchall()
        return [f"{ns}.{t}" for ns, t in rows]

    def publish(self, name: str) -> str:
        """Export the table's CURRENT state and CAS the pointer — the
        explicit commit-through-the-catalog step (load_table also does
        this lazily)."""
        ns, t, loc, _ = self._pointer_of(name)
        return self._publish(LakehouseTable(self._table_root(loc)), ns, t, loc)

    # ---------------------------------------------------------- namespaces
    def _ensure_namespace_row(self, ns: str) -> None:
        with self._conn() as con:
            con.execute(
                "INSERT OR IGNORE INTO iceberg_namespace_properties "
                "(catalog_name, namespace, property_key, property_value) "
                "VALUES (?,?,?,?)",
                (self.name, ns, _NS_EXISTS_KEY, "true"),
            )

    def create_namespace(self, ns: str, properties: dict | None = None):
        self._ensure_namespace_row(ns)
        with self._conn() as con:
            for k, v in (properties or {}).items():
                con.execute(
                    "INSERT OR REPLACE INTO iceberg_namespace_properties "
                    "(catalog_name, namespace, property_key, property_value)"
                    " VALUES (?,?,?,?)",
                    (self.name, ns, k, str(v)),
                )

    def list_namespaces(self) -> list[str]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT DISTINCT namespace FROM iceberg_namespace_properties "
                "WHERE catalog_name=? UNION SELECT DISTINCT table_namespace "
                "FROM iceberg_tables WHERE catalog_name=? ORDER BY 1",
                (self.name, self.name),
            ).fetchall()
        return [r[0] for r in rows]

    def namespace_properties(self, ns: str) -> dict:
        with self._conn() as con:
            rows = con.execute(
                "SELECT property_key, property_value FROM "
                "iceberg_namespace_properties WHERE catalog_name=? AND "
                "namespace=?",
                (self.name, ns),
            ).fetchall()
        return {k: v for k, v in rows if k != _NS_EXISTS_KEY}

    def register_views(self, spark, prefix: str = "") -> list[str]:
        registered = []
        for name in self.list_tables():
            view = (prefix + name).replace(".", "_")
            self.load_table(name).read(spark).createOrReplaceTempView(view)
            registered.append(view)
        return registered

    # --------------------------------------------------------- SQL views
    # The view's metadata doc lives in the warehouse (sinks/views.py, the
    # Iceberg view-spec shape); the iceberg_views row is the POINTER, same
    # split as tables. Requires a warehouse for the metadata files.
    def _view_store(self):
        from .views import ViewStore

        if not self.warehouse:
            raise ValueError("view operations need a warehouse directory")
        return ViewStore(self.warehouse)

    def _view_pointer(self, ns: str, v: str) -> str | None:
        with self._conn() as con:
            row = con.execute(
                "SELECT metadata_location FROM iceberg_views WHERE "
                "catalog_name=? AND view_namespace=? AND view_name=?",
                (self.name, ns, v),
            ).fetchone()
        return row[0] if row else None

    def create_view(
        self,
        name: str,
        sql: str,
        spark=None,
        dialect: str = "spark",
        properties: dict | None = None,
    ) -> dict:
        from .iceberg_export import iceberg_schema
        from .views import ViewAlreadyExistsError, sql_view_version, view_path

        ns, v = self._ident(name)
        if self._view_pointer(ns, v) is not None:
            raise ViewAlreadyExistsError(name)
        if self._pointer(ns, v) is not None:
            raise TableAlreadyExistsError(
                f"a table named {name!r} already exists"
            )
        schema_json: dict = {"type": "struct", "schema-id": 0, "fields": []}
        if spark is not None:
            from .views import ViewStore, register_relations

            register_relations(
                spark,
                sql,
                list_tables=self.list_tables,
                read_table=lambda t: self.load_table(t).read(spark),
                view_names=self.list_views,
                view_sql=lambda v: ViewStore.current_sql(
                    self.load_view(v)[1], dialect="spark"
                ),
            )
            schema_json, _ = iceberg_schema(spark.sql(sql).schema)
            schema_json["schema-id"] = 0
        store = self._view_store()
        meta = store.create(
            name, schema_json, sql_view_version(sql, dialect=dialect), properties
        )
        loc = "file://" + os.path.abspath(view_path(self.warehouse, name))
        with self._conn() as con:
            try:
                con.execute(
                    "INSERT INTO iceberg_views (catalog_name, view_namespace,"
                    " view_name, metadata_location,"
                    " previous_metadata_location) VALUES (?,?,?,?,NULL)",
                    (self.name, ns, v, loc),
                )
            except sqlite3.IntegrityError:
                store.drop(name)
                raise ViewAlreadyExistsError(name) from None
        self._ensure_namespace_row(ns)
        return meta

    def load_view(self, name: str) -> tuple[str, dict]:
        from .views import NoSuchViewError

        ns, v = self._ident(name)
        loc = self._view_pointer(ns, v)
        if loc is None:
            raise NoSuchViewError(name)
        return loc, _read_json(loc)

    def view_exists(self, name: str) -> bool:
        ns, v = self._ident(name)
        return self._view_pointer(ns, v) is not None

    def drop_view(self, name: str) -> None:
        from .views import NoSuchViewError

        ns, v = self._ident(name)
        loc = self._view_pointer(ns, v)
        if loc is None:
            raise NoSuchViewError(name)
        with self._conn() as con:
            con.execute(
                "DELETE FROM iceberg_views WHERE catalog_name=? AND "
                "view_namespace=? AND view_name=?",
                (self.name, ns, v),
            )
        try:
            os.unlink(_uri_to_path(loc))
        except OSError:
            pass

    def list_views(self, namespace: str | None = None) -> list[str]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT view_namespace, view_name FROM iceberg_views "
                "WHERE catalog_name=? ORDER BY 1, 2",
                (self.name,),
            ).fetchall()
        out = [f"{ns}.{v}" for ns, v in rows]
        if namespace is not None:
            out = [n for n in out if n.rsplit(".", 1)[0] == namespace]
        return out

    def rename_view(self, src: str, dst: str) -> None:
        from .views import NoSuchViewError, ViewAlreadyExistsError, view_path

        sns, sv = self._ident(src)
        dns, dv = self._ident(dst)
        loc = self._view_pointer(sns, sv)
        if loc is None:
            raise NoSuchViewError(src)
        if self._view_pointer(dns, dv) is not None:
            raise ViewAlreadyExistsError(dst)
        if self._pointer(dns, dv) is not None:
            raise TableAlreadyExistsError(
                f"a table named {dst!r} already exists"
            )
        self._view_store().rename(src, dst)
        new_loc = "file://" + os.path.abspath(view_path(self.warehouse, dst))
        with self._conn() as con:
            cur = con.execute(
                "UPDATE iceberg_views SET view_namespace=?, view_name=?, "
                "metadata_location=?, previous_metadata_location=? WHERE "
                "catalog_name=? AND view_namespace=? AND view_name=? AND "
                "metadata_location=?",
                (dns, dv, new_loc, loc, self.name, sns, sv, loc),
            )
            if cur.rowcount != 1:
                self._view_store().rename(dst, src)  # roll the file back
                raise CommitConflict(
                    f"view {src} changed concurrently during rename"
                )
        self._ensure_namespace_row(dns)

    def replace_view(
        self, name: str, sql: str, dialect: str = "spark"
    ) -> dict:
        from .views import NoSuchViewError, sql_view_version

        ns, v = self._ident(name)
        if self._view_pointer(ns, v) is None:
            raise NoSuchViewError(name)
        return self._view_store().add_version(
            name,
            sql_view_version(sql, dialect=dialect),
        )

    def read_view(self, spark, name: str):
        """Execute the view's SQL; only referenced relations register,
        sibling views resolve recursively (cycle → ViewCycleError)."""
        from .views import ViewStore, register_relations

        _, meta = self.load_view(name)
        sql = ViewStore.current_sql(meta, dialect="spark")
        register_relations(
            spark,
            sql,
            list_tables=self.list_tables,
            read_table=lambda t: self.load_table(t).read(spark),
            view_names=self.list_views,
            view_sql=lambda v: ViewStore.current_sql(
                self.load_view(v)[1], dialect="spark"
            ),
            _stack=(name,),
        )
        return spark.sql(sql)
