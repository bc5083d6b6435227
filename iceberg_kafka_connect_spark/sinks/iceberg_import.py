"""Import an external Apache Iceberg v2 table into the Lakehouse model —
the READ direction of ``iceberg_export.py``.

The reference opens any pre-existing Iceberg table through a real catalog
(``data/Utilities.java:68-121`` builds the catalog,
``IcebergWriterFactory.java:51-66`` loads/creates the table); this engine
has no Iceberg runtime available, so the import path parses the public
spec's metadata tree directly:

- ``metadata.json`` (format-version 1 or 2): current schema (field-ids),
  partition specs, snapshots, refs, properties. Every ref imports: named
  branches land on same-named branches, tags become tags (via a scratch
  branch commit when the tagged snapshot isn't any branch head);
- each ref snapshot's manifest list (Avro OCF) → manifest files;
- each manifest (Avro OCF) → data / delete file entries, with v2
  sequence-number inheritance (a null ``sequence_number`` on an ADDED entry
  inherits the manifest's) and spec Appendix-D bound deserialization so
  imported files keep min/max pruning.

The imported table references the external data files IN PLACE (absolute
paths in the snapshot model — zero data copying, which is the only sane
behavior at 100 TB); equality-delete files likewise. Position-delete files
are re-encoded once (tiny: O(deleted rows)) from the spec form (absolute
``file_path`` URIs, reserved field-ids) into the internal form, and
``read()`` then applies both delete classes through the ordinary
merge-on-read path.

Everything here implements the public Apache Iceberg table-spec
(https://iceberg.apache.org/spec/) — no Iceberg code is consulted.
"""

from __future__ import annotations

import glob as globmod
import json
import re
import os
import struct
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import types as T

from .iceberg_export import _read_ocf
from .spec import PartitionField
from .table import MAIN, LakehouseTable


class IcebergImportUnsupported(Exception):
    """Raised when the metadata tree uses a feature outside the supported
    surface (named in the message)."""


# ------------------------------------------------------------------ paths
def _uri_to_path(uri: str) -> str:
    """file:// URI (or bare path) → absolute raw filesystem path.

    Iceberg implementations (and our exporter) store RAW location strings
    — a path containing a literal '%' (e.g. Spark's hive-escaped
    partition dir ``g=c%25d``) must round-trip untouched. Percent-decode
    only as a fallback, when the raw form doesn't resolve but the decoded
    one does (a tree whose writer stored Spark's URI-encoded
    ``_metadata.file_path``)."""
    if uri.startswith("file:"):
        raw = urlparse(uri).path
    elif "://" not in uri:
        raw = uri
    else:
        return uri
    if "%" in raw and not os.path.exists(raw):
        dec = unquote(raw)
        if os.path.exists(dec):
            return dec
    return raw


def resolve_metadata_file(src: str) -> str:
    """Accept a metadata.json path, a table directory, or a ``metadata/``
    directory; resolve to the CURRENT metadata file (version-hint.text when
    present, else the highest-versioned ``*.metadata.json``)."""
    src = _uri_to_path(src)
    if os.path.isfile(src):
        return src
    meta_dir = src
    if os.path.isdir(os.path.join(src, "metadata")):
        meta_dir = os.path.join(src, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as f:
            v = f.read().strip()
        if os.path.isfile(v):  # hint may hold a full path (our exporter)
            return v
        for pat in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(meta_dir, pat)
            if os.path.isfile(p):
                return p
    cands = sorted(globmod.glob(os.path.join(meta_dir, "*.metadata.json")))
    if not cands:
        raise IcebergImportUnsupported(
            f"no *.metadata.json under {meta_dir!r}"
        )

    def _ver(p: str) -> tuple[int, str]:
        base = os.path.basename(p)
        head = base.split(".", 1)[0].split("-", 1)[0].lstrip("v")
        return (int(head), base) if head.isdigit() else (-1, base)

    return max(cands, key=_ver)


# ---------------------------------------------------------- schema mapping
def iceberg_type_to_spark(t) -> T.DataType:
    """Iceberg JSON type → Spark type (spec 'Schemas and Data Types')."""
    if isinstance(t, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "date": T.DateType(),
            # time-of-day has no Spark column type; microseconds-since-
            # midnight keeps the value losslessly
            "time": T.LongType(),
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType(),
            "timestamp_ns": T.TimestampNTZType(),
            "timestamptz_ns": T.TimestampType(),
            "string": T.StringType(),
            "uuid": T.StringType(),
            "binary": T.BinaryType(),
            # v3: semi-structured column; Spark's VariantType reads the
            # Parquet VARIANT group the v3 writer produced
            "variant": T.VariantType(),
        }
        if t in prim:
            return prim[t]
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed"):
            return T.BinaryType()
        raise IcebergImportUnsupported(f"iceberg type {t!r}")
    tt = t["type"]
    if tt == "struct":
        def _md(f: dict) -> dict:
            # v3 default values + docs ride StructField metadata — the
            # same keys add_column stores, so reads on the imported
            # table backfill/fill exactly like the source's
            md = {}
            for k in ("initial-default", "write-default", "doc"):
                if f.get(k) is not None:
                    md[k] = f[k]
            return md

        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                    _md(f),
                )
                for f in t["fields"]
            ]
        )
    if tt == "list":
        return T.ArrayType(
            iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if tt == "map":
        return T.MapType(
            iceberg_type_to_spark(t["key"]),
            iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise IcebergImportUnsupported(f"iceberg type {tt!r}")


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise IcebergImportUnsupported(f"current-schema-id {sid} not found")
    if "schema" in meta:  # format-version 1
        return meta["schema"]
    raise IcebergImportUnsupported("metadata has no schema")


def _field_maps(ice_schema: dict) -> tuple[dict[int, str], dict[int, str]]:
    """(field-id → name, field-id → iceberg-type-string) over TOP-LEVEL
    fields (nested ids resolve for schema conversion but stats/equality
    ids only ever reference top-level columns in this engine)."""
    names, types = {}, {}
    for f in ice_schema["fields"]:
        names[f["id"]] = f["name"]
        if isinstance(f["type"], str):
            types[f["id"]] = f["type"]
    return names, types


# ------------------------------------------------- Appendix-D bound decode
def _bound_value(ice_type: str, raw: bytes):
    """Inverse of iceberg_export._bound_bytes: single-value binary → the
    stats tag + JSON value of sinks/stats.py. None = domain sits out."""
    import datetime as dt

    try:
        if ice_type == "int":
            return ("i", struct.unpack("<i", raw)[0])
        if ice_type == "long":
            return ("i", struct.unpack("<q", raw)[0])
        if ice_type == "float":
            v = struct.unpack("<f", raw)[0]
            return None if v != v else ("f", v)
        if ice_type == "double":
            v = struct.unpack("<d", raw)[0]
            return None if v != v else ("f", v)
        if ice_type == "string":
            return ("s", raw.decode("utf-8"))
        if ice_type == "date":
            days = struct.unpack("<i", raw)[0]
            return ("d", (dt.date(1970, 1, 1) + dt.timedelta(days=days)).isoformat())
        if ice_type in ("timestamp", "timestamptz"):
            micros = struct.unpack("<q", raw)[0]
            t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)
            return ("ts", t.isoformat())
    except (struct.error, ValueError, OverflowError, UnicodeDecodeError):
        return None
    return None


def _entry_stats(df_entry: dict, id_names: dict, id_types: dict) -> dict | None:
    """Manifest bounds → the internal per-file stats shape
    ({rows, cols: {col: {t, min, max}}}) that file_may_match prunes on."""
    rows = df_entry.get("record_count")
    if rows is None:
        return None

    def _kv(field):
        v = df_entry.get(field)
        if v is None:
            return {}
        if isinstance(v, dict):  # avro map encoding
            return {int(k): val for k, val in v.items()}
        return {e["key"]: e["value"] for e in v}  # array<key_value>

    lower, upper = _kv("lower_bounds"), _kv("upper_bounds")
    cols = {}
    for fid, lo_raw in lower.items():
        hi_raw = upper.get(fid)
        name, itype = id_names.get(fid), id_types.get(fid)
        if hi_raw is None or name is None or itype is None:
            continue
        lo = _bound_value(itype, bytes(lo_raw))
        hi = _bound_value(itype, bytes(hi_raw))
        if lo is None or hi is None or lo[0] != hi[0]:
            continue
        cols[name] = {"t": lo[0], "min": lo[1], "max": hi[1]}
    return {"rows": rows, "cols": cols}


# -------------------------------------------------------------- manifests
def _scan_manifests(
    snapshot: dict, fv: int = 2
) -> tuple[list[dict], list[dict]]:
    """Walk the snapshot's manifest list → (data_entries, delete_entries)
    in raw manifest form, v2 sequence-number inheritance applied, deleted
    entries (status=2) dropped."""
    ml = snapshot.get("manifest-list")
    if ml is None:
        # format-version 1 could inline "manifests"; rare — support the
        # list form only
        raise IcebergImportUnsupported(
            "snapshot has no manifest-list (v1 inline manifests unsupported)"
        )
    _, _, manifests = _read_ocf(_uri_to_path(ml))
    data_entries: list[dict] = []
    delete_entries: list[dict] = []
    for mf in manifests:
        m_seq = mf.get("sequence_number", 0) or 0
        m_content = mf.get("content", 0) or 0
        # v3 row-lineage inheritance base: data files with a null
        # first_row_id take manifest.first_row_id + the record_counts of
        # the ADDED data files before them in this manifest (the spec's
        # assignment rule — real v3 writers commonly leave per-file
        # values null and rely on it; without this an import would let
        # the commit path claim FRESH ranges, silently changing row ids)
        m_frid = mf.get("first_row_id")
        frid_cursor = m_frid
        _, _, entries = _read_ocf(_uri_to_path(mf["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:  # DELETED
                continue
            seq = e.get("sequence_number")
            if seq is None:
                # v2 inheritance: ADDED entries inherit the manifest's
                # sequence number; EXISTING entries must carry their own —
                # inheriting the (newer) manifest seq would wrongly stop
                # older equality deletes from applying (strict < compare).
                # v1 has no sequence numbers at all: everything is seq 0.
                if fv >= 2 and e.get("status") == 0:
                    raise IcebergImportUnsupported(
                        "EXISTING (status 0) manifest entry lacks an "
                        "explicit sequence number"
                    )
                seq = m_seq
            df_entry = e["data_file"]
            df_entry["_seq"] = seq
            # the manifest's spec id: identity-column reconstruction must
            # use the spec the FILE was written under (partition
            # evolution), not the table's default
            df_entry["_spec_id"] = mf.get("partition_spec_id", 0) or 0
            # effective ADDING snapshot (v2 inheritance: a null entry
            # snapshot_id inherits the manifest's added_snapshot_id) —
            # refresh uses it to pick out exactly one snapshot's additions
            df_entry["_snap"] = (
                e.get("snapshot_id")
                if e.get("snapshot_id") is not None
                else mf.get("added_snapshot_id")
            )
            content = df_entry.get("content", 0) or 0
            if m_content == 1 or content in (1, 2):
                df_entry["_content"] = content
                delete_entries.append(df_entry)
            else:
                # v3 row-id inheritance: the manifest's first_row_id range
                # is consumed ONLY by ADDED files whose first_row_id is
                # null (spec: "assigned from the manifest's first_row_id,
                # incremented by record_count for each data file with a
                # null first_row_id"). Files carrying an explicit
                # first_row_id keep it and do NOT advance the cursor —
                # a mixed manifest (explicit + null entries, as an
                # external writer may produce) must not shift the
                # inherited ids of later null entries.
                if (
                    fv >= 3
                    and df_entry.get("first_row_id") is None
                    and frid_cursor is not None
                    and e.get("status") == 1  # ADDED files inherit
                ):
                    df_entry["first_row_id"] = frid_cursor
                    if df_entry.get("record_count") is not None:
                        frid_cursor += int(df_entry["record_count"])
                data_entries.append(df_entry)
    return data_entries, delete_entries


def _ident_fields_by_spec(
    meta: dict, id_names: dict[int, str], id_types: dict[int, str]
) -> dict[int, list[tuple[str, str, str]]]:
    """{spec-id → [(tuple field name, column, iceberg type)]} for every
    spec in the metadata — partition evolution means entries of one
    snapshot can span specs, and each reconstructs identity columns under
    its OWN spec."""
    specs = meta.get("partition-specs") or [
        {"spec-id": 0, "fields": meta.get("partition-spec", [])}
    ]
    out: dict[int, list[tuple[str, str, str]]] = {}
    for s in specs:
        out[s.get("spec-id", 0)] = [
            (
                pf.get("name", id_names.get(pf.get("source-id"), "")),
                id_names[pf["source-id"]],
                id_types.get(pf.get("source-id"), ""),
            )
            for pf in s.get("fields", [])
            if pf.get("transform") == "identity"
            and pf.get("source-id") in id_names
        ]
    return out


def _rewrite_position_delete_to_internal(src_path: str, out_dir: str) -> str:
    """Spec-form position delete (absolute file_path URIs, reserved
    field-ids) → internal form (raw absolute paths, plain parquet)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(src_path, columns=["file_path", "pos"])
    fps = pa.array(
        [_uri_to_path(v) for v in t.column("file_path").to_pylist()],
        type=pa.string(),
    )
    out = pa.table({"file_path": fps, "pos": t.column("pos").cast(pa.int64())})
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"pos-del-{uuid.uuid4().hex}.parquet")
    pq.write_table(out, path)
    return path


def _name_mapping_from_schema_history(
    meta: dict, current: dict
) -> list[dict] | None:
    """Reconstruct an Iceberg NameMapping from metadata schema history:
    for each top-level field-id in the CURRENT schema, every name it held
    in an older schema becomes an alias. Returns None when no field was
    ever renamed (no mapping needed)."""
    cur_names = {f["id"]: f["name"] for f in current.get("fields", [])}
    aliases: dict[int, list[str]] = {fid: [] for fid in cur_names}
    for sch in meta.get("schemas", []):
        if sch is current:
            continue
        for f in sch.get("fields", []):
            fid, name = f.get("id"), f.get("name")
            if (
                fid in cur_names
                and name != cur_names[fid]
                and name not in aliases[fid]
            ):
                aliases[fid].append(name)
    if not any(aliases.values()):
        return None
    return [
        {"field-id": fid, "names": [cur_names[fid], *aliases[fid]]}
        for fid in cur_names
    ]


# (dest table root, external delete-file path) → re-encoded internal path;
# spec delete files are immutable, so one re-encode per destination suffices
_POS_DELETE_REENCODES: dict[tuple[str, str], str] = {}


def _default_sort_cols(
    meta: dict, id_names: dict[int, str]
) -> tuple[list[str], int]:
    """(importable sort columns, default order id). Only identity/ascending
    orders import (the one form the native writer produces and can
    maintain); anything else → ([], order id)."""
    default_order_id = meta.get("default-sort-order-id", 0) or 0
    if not default_order_id:
        return [], 0
    order = next(
        (
            o
            for o in meta.get("sort-orders", [])
            if o.get("order-id") == default_order_id
        ),
        None,
    )
    if not order or not order.get("fields"):
        return [], default_order_id
    cols = [
        id_names.get(f.get("source-id"))
        for f in order["fields"]
        if f.get("transform") == "identity"
        and f.get("direction", "asc") == "asc"
    ]
    if len(cols) != len(order["fields"]) or not all(cols):
        return [], default_order_id
    return cols, default_order_id


def _translate_snapshot(
    snap_x: dict,
    *,
    fv: int,
    id_names: dict[int, str],
    id_types: dict[int, str],
    ident_tuple_fields: dict[int, list[tuple[str, str, str]]],
    dest_root: str,
    sort_cols: list[str],
    default_order_id: int,
    only_added_by: int | None = None,
) -> tuple[list[dict], list[dict]]:
    """One external snapshot's manifest entries → internal (data_files,
    delete_files) shape. ``only_added_by`` keeps only entries whose
    effective adding snapshot is that id (refresh's append-only path)."""
    data_entries, delete_entries = _scan_manifests(snap_x, fv)
    if only_added_by is not None:
        data_entries = [
            e for e in data_entries if e.get("_snap") == only_added_by
        ]
        delete_entries = [
            e for e in delete_entries if e.get("_snap") == only_added_by
        ]
    data_files: list[dict] = []
    for e in data_entries:
        path = _uri_to_path(e["file_path"])
        fmt = (e.get("file_format") or "PARQUET").lower()
        if fmt not in ("parquet", "orc", "avro"):
            raise IcebergImportUnsupported(f"data file format {fmt}")
        entry = {
            "path": path,
            "base": os.path.dirname(path),
            "format": fmt,
            "bytes": e.get("file_size_in_bytes"),
            "seq": e["_seq"],
        }
        st = _entry_stats(e, id_names, id_types)
        if st is not None:
            entry["stats"] = st
        # v3 row lineage: the file's claimed row-id range survives the
        # import (commit path preserves explicit first_row_id entries)
        if e.get("first_row_id") is not None:
            entry["first_row_id"] = e["first_row_id"]
        if sort_cols and e.get("sort_order_id") == default_order_id:
            entry["sort"] = list(sort_cols)
        # manifest identity partition tuple → JSON-safe typed values; the
        # read path reconstitutes identity-source columns a writer moved
        # out of the data files (spec PartitionUtil rule). Files that DO
        # carry the column (real Iceberg writers always do) ignore it.
        part_rec = e.get("partition") or {}
        pvals = {}
        for tuple_name, col, itype in ident_tuple_fields.get(
            e.get("_spec_id", 0), ()
        ):
            v = part_rec.get(tuple_name)
            if v is None:
                continue
            if itype == "date":
                pvals[col] = {"t": "date", "v": int(v)}
            elif itype in ("timestamp", "timestamptz"):
                pvals[col] = {"t": "ts", "v": int(v)}
            elif isinstance(v, (int, float, str, bool)):
                pvals[col] = {"t": "raw", "v": v}
        if pvals:
            entry["partition_values"] = pvals
        data_files.append(entry)

    delete_files: list[dict] = []
    for e in delete_entries:
        path = _uri_to_path(e["file_path"])
        fmt = (e.get("file_format") or "PARQUET").lower()
        content = e.get("_content", e.get("content", 0))
        if content == 1 and fmt == "puffin":
            # v3 deletion vector: the entry points at a blob inside a
            # Puffin file — reference it in place (the internal DV read
            # path accepts absolute paths), zero decode at import time
            delete_files.append(
                {
                    "path": path,
                    "bytes": e.get("file_size_in_bytes"),
                    "format": "puffin",
                    "delete_type": "dv",
                    "referenced_data_file": _uri_to_path(
                        e["referenced_data_file"]
                    ),
                    "content_offset": int(e["content_offset"]),
                    "content_size_in_bytes": int(
                        e["content_size_in_bytes"]
                    ),
                    "cardinality": int(e.get("record_count") or 0),
                    "seq": e["_seq"],
                }
            )
            continue
        if content == 1:  # POSITION_DELETES
            # memoized per external file: spec delete files are immutable
            # (new content = new file), so refreshes and multi-ref imports
            # re-encode each one exactly once per destination table
            memo_key = (dest_root, path)
            if not os.path.exists(_POS_DELETE_REENCODES.get(memo_key, "")):
                _POS_DELETE_REENCODES[memo_key] = (
                    _rewrite_position_delete_to_internal(
                        path, os.path.join(dest_root, "deletes", "import")
                    )
                )
                while len(_POS_DELETE_REENCODES) > 4096:  # bound the cache
                    _POS_DELETE_REENCODES.pop(
                        next(iter(_POS_DELETE_REENCODES))
                    )
            internal = _POS_DELETE_REENCODES[memo_key]
            delete_files.append(
                {
                    "path": os.path.relpath(internal, dest_root),
                    "format": "parquet",
                    "bytes": os.path.getsize(internal),
                    "delete_type": "position",
                    "seq": e["_seq"],
                    # original external path = stable identity across
                    # refreshes (each re-encode gets a fresh uuid name)
                    "src": path,
                }
            )
        elif content == 2:  # EQUALITY_DELETES
            eq_ids = e.get("equality_ids") or []
            key_cols = [id_names[i] for i in eq_ids if i in id_names]
            if len(key_cols) != len(eq_ids):
                raise IcebergImportUnsupported(
                    f"equality ids {eq_ids} reference non-top-level fields"
                )
            delete_files.append(
                {
                    "path": path,
                    "format": fmt,
                    "bytes": e.get("file_size_in_bytes"),
                    "key_cols": key_cols,
                    "seq": e["_seq"],
                }
            )
        else:
            raise IcebergImportUnsupported(
                f"delete file content id {content}"
            )
    return data_files, delete_files


# ------------------------------------------------------------------ import
def _put_metadata(table: LakehouseTable, fields: dict) -> None:
    """Set top-level metadata fields in one retried metadata commit."""

    def mutate(meta: dict) -> tuple[None, bool]:
        meta.update(fields)
        return None, True

    table._update_metadata(mutate)


def import_iceberg_table(
    source: str,
    dest_root: str,
    snapshot_id: int | None = None,
) -> LakehouseTable:
    """Materialize an external Iceberg table's CURRENT state (or a chosen
    ``snapshot_id``) as a Lakehouse table at ``dest_root``.

    Data and equality-delete files are referenced in place (absolute
    paths); position-delete files are re-encoded (tiny). The result is a
    fully functional table: read()/scan pruning/time travel-from-here/
    further appends and deletes all work, and export_iceberg_metadata can
    round-trip it back out.
    """
    meta_file = resolve_metadata_file(source)
    with open(meta_file) as f:
        meta = json.load(f)
    fv = meta.get("format-version", 1)
    if fv not in (1, 2, 3):
        raise IcebergImportUnsupported(f"format-version {fv}")

    ice_schema = _current_schema(meta)
    id_names, id_types = _field_maps(ice_schema)
    spark_schema = iceberg_type_to_spark(
        {"type": "struct", "fields": ice_schema["fields"]}
    )
    if not isinstance(spark_schema, T.StructType):  # pragma: no cover
        raise IcebergImportUnsupported("non-struct table schema")

    # ----- snapshot selection
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        refs = meta.get("refs") or {}
        if (snapshot_id in (None, -1)) and "main" in refs:
            snapshot_id = refs["main"]["snapshot-id"]
    if snapshot_id in (None, -1):
        raise IcebergImportUnsupported("metadata has no current snapshot")
    if snapshot_id not in snaps:
        raise IcebergImportUnsupported(f"snapshot {snapshot_id} not found")
    snapshot = snaps[snapshot_id]

    # ----- partition fields → native spec. identity / bucket[n] /
    # year / month / day / hour / string-truncate[w] all have
    # value-equivalent native transforms, so the layout survives the
    # import. Transforms without one don't affect read correctness —
    # files are listed explicitly — so they import as unpartitioned
    # with a recorded note.
    part_fields: list[PartitionField] = []
    skipped_transforms: list[str] = []
    specs = meta.get("partition-specs") or (
        [{"spec-id": 0, "fields": meta.get("partition-spec", [])}]
    )
    spec_id = meta.get("default-spec-id", 0)
    cur_spec = next(
        (s for s in specs if s.get("spec-id", 0) == spec_id), {"fields": []}
    )
    ident_tuple_fields = _ident_fields_by_spec(meta, id_names, id_types)
    for pf in cur_spec.get("fields", []):
        src_name = id_names.get(pf.get("source-id"))
        transform = pf.get("transform", "")
        bucket_m = re.fullmatch(r"bucket\[(\d+)\]", transform)
        if transform == "identity" and src_name:
            part_fields.append(PartitionField(src_name, "identity"))
        elif bucket_m and src_name:
            # murmur3 bucket is spec-conformant here (functions/murmur3.py)
            # so the layout transform survives the import
            part_fields.append(
                PartitionField(
                    src_name, "iceberg_bucket", int(bucket_m.group(1))
                )
            )
        elif transform in ("year", "month", "day", "hour") and src_name:
            # the native time transforms are value-equivalent to Iceberg's
            # (calendar strings <-> epoch ordinals bijectively, see
            # iceberg_export._time_transform_parser), so the time
            # partitioning survives the import: future writes to the
            # imported table keep the layout, and a re-export round-trips
            # the spec instead of degrading it to void
            part_fields.append(PartitionField(src_name, transform))
        elif (
            (m := re.fullmatch(r"truncate\[(\d+)\]", transform))
            and src_name
            and id_types.get(pf.get("source-id")) == "string"
        ):
            # string truncate is codepoint-prefix in both systems
            part_fields.append(
                PartitionField(src_name, "truncate", int(m.group(1)))
            )
        else:
            skipped_transforms.append(
                f"{transform}({src_name or pf.get('source-id')})"
            )

    # ----- default sort order → write.sort-order property. Only
    # identity/ascending orders import (the one form the native writer
    # produces and can maintain); anything else is ignored — sortedness
    # is an optimization claim, never a correctness input. Files whose
    # sort_order_id matches keep the claim, so a re-export stamps them
    # again (round-trip) and future writes stay sorted.
    sort_cols, default_order_id = _default_sort_cols(meta, id_names)

    # ----- create the destination table
    props = dict(meta.get("properties") or {})
    if sort_cols:
        props["write.sort-order"] = ",".join(sort_cols)
    else:
        # a stale property must not outlive a dropped/unsupported order
        props.pop("write.sort-order", None)
    if "schema.name-mapping.default" not in props:
        # Java writers resolve renamed columns through parquet field-ids
        # and often carry no name-mapping; the metadata's SCHEMA HISTORY
        # records every name each field-id ever had, so synthesize the
        # mapping — old-named files then resolve through the ordinary
        # alias path, zero footer reads
        synth = _name_mapping_from_schema_history(meta, ice_schema)
        if synth:
            props["schema.name-mapping.default"] = json.dumps(synth)
    if fv >= 3:
        # the table-level format version is top-level metadata in the
        # spec, not a property; internally it IS the property — pin it
        # so lineage/DV behavior survives even when the source writer
        # didn't mirror it into properties
        props["format-version"] = "3"
    props["import.source-metadata"] = os.path.abspath(meta_file)
    props["import.source-snapshot-id"] = str(snapshot_id)
    props["import.source-uuid"] = meta.get("table-uuid", "")
    # top-level {field-id: name} at import time — refresh diffs it against
    # the source's current schema to apply external RENAMES by field-id
    # (evolve_schema alone would read a rename as add-new-column)
    props["import.source-field-names"] = json.dumps(
        {str(i): n for i, n in id_names.items()}
    )
    if skipped_transforms:
        props["import.skipped-partition-transforms"] = ",".join(
            skipped_transforms
        )
    ident = [
        id_names[i]
        for i in ice_schema.get("identifier-field-ids", [])
        if i in id_names
    ]
    table = LakehouseTable.create(
        dest_root,
        spark_schema,
        partition_by=[
            p.source if p.transform == "identity"
            else f"{p.transform}({p.source})" if p.param is None
            else f"{p.transform}({p.source}, {p.param})"
            for p in part_fields
        ]
        or None,
        properties=props,
        identifier_fields=ident or None,
    )
    if fv >= 3 and meta.get("next-row-id") is not None:
        # continue claiming row-id ranges where the source left off —
        # fresh appends after the import must never reuse imported ids
        _put_metadata(table, {"next-row-id": int(meta["next-row-id"])})

    # ----- translate one external snapshot's entries into the internal
    # file-entry shape (shared by main and every other imported ref, and
    # by refresh_from_iceberg's incremental sync)
    def _translate(snap_x: dict) -> tuple[list[dict], list[dict]]:
        return _translate_snapshot(
            snap_x,
            fv=fv,
            id_names=id_names,
            id_types=id_types,
            ident_tuple_fields=ident_tuple_fields,
            dest_root=dest_root,
            sort_cols=sort_cols,
            default_order_id=default_order_id,
        )

    def _commit_ref(ext_sid: int, branch: str) -> dict:
        snap_x = snaps[ext_sid]
        data_files, delete_files = _translate(snap_x)
        summary = {
            "operation": "import",
            "import.source": os.path.abspath(meta_file),
            "import.snapshot-id": str(ext_sid),
            "import.data-files": str(len(data_files)),
            "import.delete-files": str(len(delete_files)),
        }
        return table._commit_snapshot(
            "append", data_files, delete_files, summary, branch,
            preserve_seq=True,
        )

    imported: dict[int, dict] = {snapshot_id: _commit_ref(snapshot_id, MAIN)}

    # ----- other refs: branches commit their own live set on the same
    # branch name (a parentless commit = standalone replace lineage);
    # tags point at an internal snapshot, committed via a scratch branch
    # ref that is removed once the tag exists. Refs whose snapshot is no
    # longer in the metadata's snapshot list are skipped by name.
    skipped_refs: list[str] = []
    for rname, ref in (meta.get("refs") or {}).items():
        ext_sid = ref.get("snapshot-id")
        if rname == "main":
            continue
        if ext_sid not in snaps:
            skipped_refs.append(rname)
            continue
        rtype = ref.get("type", "branch")
        if rtype == "branch":
            if ext_sid in imported:
                # ref shares a snapshot already imported on another branch
                # — point this branch ref at the internal snapshot directly
                table.set_branch(rname, imported[ext_sid]["snapshot_id"])
            else:
                imported[ext_sid] = _commit_ref(ext_sid, rname)
        else:  # tag
            if ext_sid not in imported:
                scratch = f"__import__{rname}"
                imported[ext_sid] = _commit_ref(ext_sid, scratch)
                table.drop_branch(scratch)
            table.create_tag(
                rname, snapshot_id=imported[ext_sid]["snapshot_id"]
            )
    # per-ref retention fields (spec names on the ref object) survive the
    # import so a later expire_snapshots honors the external policy
    retention = {
        rname: {
            k: int(ref[k])
            for k in (
                # tags legally carry only max-ref-age-ms; tolerate (and
                # drop) branch fields a non-conformant writer put there
                ("max-ref-age-ms",)
                if ref.get("type") == "tag"
                else (
                    "max-ref-age-ms",
                    "min-snapshots-to-keep",
                    "max-snapshot-age-ms",
                )
            )
            if ref.get(k) is not None
        }
        for rname, ref in (meta.get("refs") or {}).items()
        if rname not in skipped_refs
    }
    retention = {r: v for r, v in retention.items() if v}
    if retention:
        _put_metadata(table, {"ref_retention": retention})

    if skipped_refs:
        table.set_properties(
            {"import.skipped-refs": ",".join(sorted(skipped_refs))}
        )

    # ----- table statistics: carry Puffin NDV entries for imported
    # snapshots through (referenced in place; snapshot ids remapped to
    # the internal commits). A planner on the imported table then sees
    # the same per-column NDVs the source recorded.
    stats_in = []
    for s in meta.get("statistics") or []:
        ext_sid = s.get("snapshot-id")
        if ext_sid not in imported:
            continue
        spath = _uri_to_path(s["statistics-path"])
        if not os.path.isfile(spath):
            continue
        blobs = []
        for b in s.get("blob-metadata", []):
            props = b.get("properties") or {}
            col = props.get("column") or next(
                (
                    id_names[i]
                    for i in b.get("fields", [])
                    if i in id_names
                ),
                None,
            )
            if col is None or "ndv" not in props:
                continue
            entry = {
                "type": b.get("type", ""),
                "column": col,
                "ndv": int(props["ndv"]),
            }
            if str(props.get("k") or "").isdigit():
                entry["k"] = int(props["k"])
            blobs.append(entry)
        if blobs:
            stats_in.append(
                {
                    "snapshot-id": imported[ext_sid]["snapshot_id"],
                    "statistics-path": spath,
                    "format": "puffin",
                    "blobs": blobs,
                }
            )
    if stats_in:
        _put_metadata(table, {"statistics": stats_in})

    # ----- partition statistics: carry entries for imported snapshots
    # through, referencing the external stats files in place (the reader
    # tolerates both the spec's struct partition column and the internal
    # JSON-string form; snapshot ids remap to the internal commits).
    pstats_in = []
    for s in meta.get("partition-statistics") or []:
        ext_sid = s.get("snapshot-id")
        if ext_sid not in imported:
            continue
        spath = _uri_to_path(s["statistics-path"])
        if not os.path.isfile(spath):
            continue
        pstats_in.append(
            {
                "snapshot-id": imported[ext_sid]["snapshot_id"],
                "statistics-path": spath,
                "file-size-in-bytes": s.get(
                    "file-size-in-bytes", os.path.getsize(spath)
                ),
            }
        )
    if pstats_in:
        _put_metadata(table, {"partition-statistics": pstats_in})
    return table


# ----------------------------------------------------------------- refresh
def _diff_file_sets(
    prev_data: list[dict],
    prev_del: list[dict],
    cur_data: list[dict],
    cur_del: list[dict],
) -> tuple[list[dict], list[dict], bool]:
    """(added_data, added_deletes, any_removed) between two translated
    live file sets — the append-vs-replace rule SHARED by
    refresh_from_iceberg and translate_rest_snapshot (one copy so the
    subtle delete-identity rule can't drift): re-encoded position deletes
    get fresh internal names per refresh, so delete identity is the
    ORIGINAL external path when recorded, else (path, seq)."""

    def _dkey(e: dict):
        return (e.get("src") or e["path"], e["seq"])

    prev_dp = {e["path"] for e in prev_data}
    prev_dk = {_dkey(e) for e in prev_del}
    added_data = [e for e in cur_data if e["path"] not in prev_dp]
    added_del = [e for e in cur_del if _dkey(e) not in prev_dk]
    removed = bool(
        (prev_dp - {e["path"] for e in cur_data})
        or (prev_dk - {_dkey(e) for e in cur_del})
    )
    return added_data, added_del, removed


def refresh_from_iceberg(
    table: LakehouseTable, source: str | None = None
) -> dict:
    """Incrementally sync an IMPORTED table with its external Iceberg
    source: commit every new main-branch snapshot since the last
    import/refresh — the continuous READ direction of the Iceberg mirror
    (the reference keeps reading the live table through its catalog,
    data/Utilities.java:68-121; here the "catalog" is the metadata tree).

    Pure-append external snapshots commit as appends of exactly their
    added entries; snapshots that also removed files (rewrites, expired
    data) commit as a REPLACE of the snapshot's full live set. External
    schema renames (field-id diff) and additions/widenings apply first.
    Main branch only; refs sync at full import time.

    Crash safety: each applied snapshot's commit stamps
    ``import.snapshot-id`` in its own summary, and the NEXT refresh reads
    the marker from snapshot ancestry — marker and data advance in one
    atomic commit, so a crash anywhere re-applies nothing.

    Depth-capped sources (a continuous mirror exporting heads only) sync
    as long as each poll catches every head: the head's dangling
    parent-snapshot-id proves ancestry, and append snapshots carry their
    own added entries. A non-append snapshot whose parent state wasn't
    exported raises (raise export.history-depth or re-import).

    Returns {"synced": n, "from": <ext sid>, "to": <ext sid>}.
    """
    props = table.properties()
    stored = source or props.get("import.source-metadata")
    if not stored:
        raise IcebergImportUnsupported(
            "table has no import.source-metadata property — only imported "
            "tables can refresh"
        )
    # re-resolve from the directory so a NEW metadata version is found
    src_dir = stored if os.path.isdir(stored) else os.path.dirname(stored)
    meta_file = resolve_metadata_file(src_dir)
    with open(meta_file) as f:
        meta = json.load(f)
    fv = meta.get("format-version", 1)
    src_uuid = props.get("import.source-uuid", "")
    if src_uuid and meta.get("table-uuid", "") not in ("", src_uuid):
        raise IcebergImportUnsupported(
            f"source table-uuid changed ({src_uuid} → "
            f"{meta.get('table-uuid')}) — refusing to sync from a "
            "different table; re-import instead"
        )

    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    cur_sid = meta.get("current-snapshot-id")
    refs = meta.get("refs") or {}
    if cur_sid in (None, -1) and "main" in refs:
        cur_sid = refs["main"]["snapshot-id"]
    # the authoritative sync marker is the latest import.snapshot-id in
    # OUR snapshot summaries — stamped atomically with each applied
    # snapshot's commit, so a crash between commit and any property write
    # can never cause a re-apply (the property is only a fallback cache)
    marker = table.last_summary_value("import.snapshot-id")
    last_sid = (
        int(marker)
        if marker is not None
        else int(props.get("import.source-snapshot-id", 0))
    )
    if cur_sid == last_sid:
        return {"synced": 0, "from": last_sid, "to": last_sid}

    # new main-branch ancestry, oldest first, ending at the recorded sid.
    # The recorded snapshot itself may be absent from the metadata (a
    # depth-capped continuous mirror exports heads only; expire drops old
    # entries) — a DANGLING parent link naming it still proves ancestry.
    chain: list[int] = []
    walk = cur_sid
    while walk is not None and walk != last_sid:
        if walk not in snaps:
            raise IcebergImportUnsupported(
                f"snapshot {last_sid} is no longer an ancestor of the "
                f"source head {cur_sid} (expired, rewritten, or beyond the "
                "exported history depth) — raise export.history-depth on "
                "the source or re-import"
            )
        chain.append(walk)
        walk = snaps[walk].get("parent-snapshot-id")
    if walk is None:
        raise IcebergImportUnsupported(
            f"snapshot {last_sid} is not in the source head's ancestry — "
            "re-import instead"
        )
    chain.reverse()

    # external schema may have evolved — renames (diffed by field-id
    # against the names recorded at import) apply first, then
    # adds/widenings via evolve_schema
    ice_schema = _current_schema(meta)
    id_names, id_types = _field_maps(ice_schema)
    recorded = json.loads(props.get("import.source-field-names", "{}"))
    live = {f.name for f in table.schema().fields}
    for fid_s, old_name in recorded.items():
        new_name = id_names.get(int(fid_s))
        if (
            new_name
            and new_name != old_name
            and old_name in live
            and new_name not in live
        ):
            table.rename_column(old_name, new_name)
            live.discard(old_name)
            live.add(new_name)
    spark_schema = iceberg_type_to_spark(
        {"type": "struct", "fields": ice_schema["fields"]}
    )
    if isinstance(spark_schema, T.StructType):
        table.evolve_schema(spark_schema)

    ident_tuple_fields = _ident_fields_by_spec(meta, id_names, id_types)
    sort_cols, default_order_id = _default_sort_cols(meta, id_names)

    def _files_of(
        ext_sid: int, only_added_by: int | None = None
    ) -> tuple[list[dict], list[dict]]:
        return _translate_snapshot(
            snaps[ext_sid],
            fv=fv,
            id_names=id_names,
            id_types=id_types,
            ident_tuple_fields=ident_tuple_fields,
            dest_root=table.root,
            sort_cols=sort_cols,
            default_order_id=default_order_id,
            only_added_by=only_added_by,
        )

    # the recorded snapshot's own state, when the metadata still has it —
    # a depth-capped mirror exports heads only, so it may not (then the
    # first chain element syncs via its ADDED entries, append-only)
    prev_data, prev_del = (
        _files_of(last_sid) if last_sid in snaps else (None, None)
    )
    synced = 0
    for ext_sid in chain:
        cur_data, cur_del = _files_of(ext_sid)
        op = (snaps[ext_sid].get("summary") or {}).get(
            "operation", "append"
        )
        if prev_data is not None:
            added_data, added_del, removed = _diff_file_sets(
                prev_data, prev_del, cur_data, cur_del
            )
        elif op == "append":
            # no parent state exported: an append snapshot's own additions
            # are exactly its entries whose adding snapshot is this one
            added_data, added_del = _files_of(
                ext_sid, only_added_by=ext_sid
            )
            removed = False
        else:
            raise IcebergImportUnsupported(
                f"snapshot {ext_sid} ({op}) may have removed files but "
                "its parent's state is not in the exported metadata — "
                "raise export.history-depth on the source or re-import"
            )
        summary = {
            "operation": "import-refresh",
            "import.source": os.path.abspath(meta_file),
            "import.snapshot-id": str(ext_sid),
            "import.data-files": str(len(added_data)),
            "import.delete-files": str(len(added_del)),
        }
        # an external snapshot that dropped files (rewrite/expire) is
        # mirrored as a replace commit of its FULL live set
        data, deletes = (
            (cur_data, cur_del) if removed else (added_data, added_del)
        )
        table._commit_snapshot(
            "replace" if removed else "append", data, deletes, summary,
            MAIN, replace=removed, preserve_seq=True,
        )
        prev_data, prev_del = cur_data, cur_del
        synced += 1

    table.set_properties(
        {
            "import.source-metadata": os.path.abspath(meta_file),
            "import.source-snapshot-id": str(cur_sid),
            "import.source-field-names": json.dumps(
                {str(i): n for i, n in id_names.items()}
            ),
        }
    )
    return {"synced": synced, "from": last_sid, "to": cur_sid}


# ----------------------------------------------------- REST commit adoption
def translate_rest_snapshot(
    table: "LakehouseTable", served_meta: dict, snap_x: dict
) -> dict:
    """Validate and translate an externally-written snapshot (REST catalog
    ``add-snapshot`` update) into this table's internal commit shape — the
    side-effect-free PREPARE half of the REST server's atomic commit.

    The external writer worked against the SERVED (exported) metadata: it
    wrote data files + Avro manifests + a manifest list under the table
    location, then posted the snapshot JSON (public Iceberg REST spec,
    ``rest-catalog-open-api.yaml`` TableUpdate/AddSnapshotUpdate; the
    reference commits through real Iceberg catalogs the same way,
    data/IcebergWriterFactory.java:51-66). Here we read the posted
    manifest list with the same machinery the Iceberg-table import uses
    and diff against the snapshot's parent as served, yielding the added
    (or, when files were removed, full replacement) file sets for one
    native commit. Raises IcebergImportUnsupported on anything malformed —
    the server maps that to 400 BEFORE any update in the commit applies.
    """
    fv = served_meta.get("format-version", 2)
    ice_schema = _current_schema(served_meta)
    id_names, id_types = _field_maps(ice_schema)
    ident_tuple_fields = _ident_fields_by_spec(served_meta, id_names, id_types)
    sort_cols, default_order_id = _default_sort_cols(served_meta, id_names)

    def _tr(s: dict) -> tuple[list[dict], list[dict]]:
        return _translate_snapshot(
            s,
            fv=fv,
            id_names=id_names,
            id_types=id_types,
            ident_tuple_fields=ident_tuple_fields,
            dest_root=table.root,
            sort_cols=sort_cols,
            default_order_id=default_order_id,
        )

    try:
        ext_sid = int(snap_x["snapshot-id"])
    except (KeyError, TypeError, ValueError):
        raise IcebergImportUnsupported(
            "add-snapshot: integer snapshot-id required"
        )
    ml = snap_x.get("manifest-list")
    if not ml or not os.path.isfile(_uri_to_path(ml)):
        raise IcebergImportUnsupported(
            f"add-snapshot: manifest-list {ml!r} not found"
        )
    cur_data, cur_del = _tr(snap_x)
    # every referenced file must exist NOW — a commit pointing at files
    # that were never written must fail before it lands, not at read time
    for e in cur_data + cur_del:
        p = e["path"]
        if not os.path.isabs(p):
            p = os.path.join(table.root, p)
        if not os.path.isfile(p):
            raise IcebergImportUnsupported(
                f"add-snapshot: data file {e['path']!r} does not exist"
            )

    parent = snap_x.get("parent-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in served_meta.get("snapshots", [])}
    if parent in (None, -1):
        prev_data, prev_del = [], []
    elif parent in snaps:
        prev_data, prev_del = _tr(snaps[parent])
    else:
        raise IcebergImportUnsupported(
            f"add-snapshot: parent snapshot {parent} is not in the current "
            "table metadata"
        )

    added_data, added_del, removed = _diff_file_sets(
        prev_data, prev_del, cur_data, cur_del
    )
    return {
        "ext_sid": ext_sid,
        "parent": None if parent in (None, -1) else int(parent),
        "operation": (snap_x.get("summary") or {}).get(
            "operation", "append"
        ),
        "replace": removed,
        # removed files → mirror the snapshot's FULL live set as a replace
        # commit (same rule as refresh_from_iceberg); pure adds commit as
        # exactly their added entries
        "data": cur_data if removed else added_data,
        "deletes": cur_del if removed else added_del,
        # full live set, for commits that can't build on a branch head
        # (staged/unreferenced snapshots, new branches) and so must be
        # self-contained replace snapshots
        "full_data": cur_data,
        "full_deletes": cur_del,
    }
