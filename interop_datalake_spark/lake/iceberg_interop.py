"""Apache Iceberg v2 metadata interop for TxnTable snapshots.

The north star names "Spark SQL + Delta/Iceberg" as the storage
pattern; ``lake/delta_interop.py`` delivers the Delta half. This
module is the Iceberg sibling, built only on the PUBLIC Iceberg table
spec (iceberg.apache.org/spec — v2 table metadata JSON, Avro manifest
lists and manifests, single-value binary bound serialization, the
HadoopCatalog ``version-hint.text`` convention):

- :func:`export_iceberg_metadata` writes ``metadata/`` into a
  TxnTable's root, making the root directly readable as an Iceberg
  table by any Iceberg-aware engine pointed at it as a Hadoop table.
  Schema (with assigned field ids + a ``schema.name-mapping.default``
  property, the standard migration path for parquet files written
  without field ids), identity partition specs with per-file
  partition tuples, per-file record counts, and per-column
  lower/upper bounds (the data-skipping metadata, in Iceberg's
  single-value binary serialization) all carry over. Repeated exports
  APPEND snapshots — files unchanged since the previous export carry
  as EXISTING entries with their original snapshot/sequence ids, so
  external engines get real Iceberg time travel across exports and a
  stable table-uuid (no identity churn).
- :func:`read_iceberg` / :func:`iceberg_files` are a minimal,
  self-contained Iceberg READER: version-hint → table metadata →
  manifest list → manifests → pruned parquet scan, with
  identity-partition values injected as constants per the spec's
  Column Projection rule ("return the value from partition metadata
  if an Identity Transform exists") — so this engine can consume
  Iceberg tables other writers publish.

Avro plumbing: the environment has no avro datasource and no Python
avro package, but pyspark ships the Apache Avro JAVA library
(``avro-1.12.1.jar``) — manifests are written and read through py4j
against that library's public ``GenericDatumWriter`` /
``DataFileReader`` API. Manifest writing is driver-side and O(files),
exactly like Iceberg's own commit path; the same 10k-file posture as
the TxnTable manifest guard applies (compact first at 100 TB).

Partition transforms map 1:1 where the SEMANTICS match: TxnTable's
hidden partitioning was modeled on Iceberg's, so identity, the time
transforms (days/months/years/hours → Iceberg day/month/year/hour as
epoch ordinals), and truncate[W] (identical floor-to-width
arithmetic, including negatives) export as real Iceberg transform
specs. bucket[N] REFUSES: TxnTable buckets by xxhash64 while
Iceberg's spec mandates murmur3-32 — exporting the dir numbers under
the bucket[N] name would make a compliant engine's bucket pruning
silently drop matching files.

Merge-on-read carries over too: a vectored snapshot exports its
deletion vectors as Iceberg v2 POSITION DELETES — one delete parquet
(reserved field ids stamped via pyarrow) under an unpartitioned spec
(path-targeted deletes apply globally) + a DELETE manifest in the
manifest list; the reader applies them by (path, position) at the v2
sequence rule (delete seq ≥ data seq). Foreign equality deletes
(content=2 — the Flink CDC producer shape) also apply on read:
null-safe keyed anti-joins at the spec's STRICT sequence rule
(delete seq > data seq), partition-scoped per the delete file's spec
(global when unpartitioned). Iceberg v3 DELETION VECTORS (round 12)
read too: ``content=1`` entries with ``file_format='puffin'`` +
``referenced_data_file``/``content_offset``/``content_size_in_bytes``
decode their Puffin blobs (:mod:`.puffin` — the Delta-compatible
framing over the same portable RoaringBitmapArray) into the MOR
position anti-join, and the CDC mode emits each snapshot's vector
DIFF against the parent (v3 DVs are cumulative supersets — a
shrinking vector refuses as corrupt).

Nested schema types (struct/array/map, round 10) export with
pre-order-assigned nested field ids (struct children, list elements,
map keys/values each get their own id per the spec) and a properly
nested ``schema.name-mapping.default``, so the repo's own FHIR silver
frames (lake/silver.py) round-trip; the reader maps the nested JSON
types back to Spark DDL recursively.

Round 14 closes the v3/write-side surface: ROW LINEAGE
(``next-row-id``/``first-row-id``/``first_row_id`` assignment on v3
exports, ``read_iceberg(with_lineage=True)``,
:func:`compact_preserving_row_lineage`, and a rewrite gate refusing
lineage-losing compactions), EQUALITY-delete WRITE
(``equality_delete_cols=…`` — the content=2 shape, refused unless
provably position-equivalent), snapshot-summary record metrics, and
the :func:`iceberg_history` / :func:`iceberg_refs` audit DataFrames.

Honest limitations, refused loudly (never silently wrong):
xxhash-bucketed partitioning (above), interval/variant primitives,
stats-less files (record_count is required and engines trust it),
vector sets beyond the bounded driver-side delete-file serialization
(compact() first).

Reference parity: the reference publishes parquet for downstream
engines to consume in place (DatalakeRetrieveService.kt:18-39);
exporting the public table format is the 100 TB version of that
contract — consumers bring their own engine.
"""

from __future__ import annotations

import json
import shutil
import struct
import time
import uuid
from datetime import date, datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from interop_datalake_spark.lake.txn import TxnTable

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# -- schema mapping ---------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "integer": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    # Iceberg's zoneless `timestamp` is exactly Spark's TIMESTAMP_NTZ
    # (micros, no zone) — the reader has always mapped it back; the
    # writer refusing it was an asymmetry (round 14)
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}

_ICEBERG_TO_SPARK = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "binary": "binary",
}


def _iceberg_type(simple: str, col: str) -> str:
    if simple.startswith("decimal("):
        return "decimal(" + simple[len("decimal(") :]
    t = _SPARK_TO_ICEBERG.get(simple)
    if t is None:
        raise ValueError(
            f"column {col!r} has type {simple!r}, which this exporter "
            f"cannot map to an Iceberg type with a correct name "
            f"mapping (interval/variant types are out of scope) — "
            f"flatten or cast upstream"
        )
    return t


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type_of(dt, col: str, gen: _IdGen):
    """Spark DataType → Iceberg schema-JSON type, assigning nested
    field ids in PRE-ORDER from ``gen`` (Iceberg's own fresh-id
    assignment order). Pre-order keeps every existing id stable under
    TxnTable's only evolution mode — appending top-level columns —
    because a new column's subtree starts after all previously
    assigned ids."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _St

    if isinstance(dt, _St):
        fields = []
        for f in dt.fields:
            fid = gen.next()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type_of(
                        f.dataType, f"{col}.{f.name}", gen
                    ),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, ArrayType):
        eid = gen.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type_of(
                dt.elementType, f"{col}.element", gen
            ),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, MapType):
        kid = gen.next()
        vid = gen.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type_of(dt.keyType, f"{col}.key", gen),
            "value-id": vid,
            "value": _iceberg_type_of(dt.valueType, f"{col}.value", gen),
            "value-required": not dt.valueContainsNull,
        }
    return _iceberg_type(dt.simpleString(), col)


def _iceberg_schema(
    st: StructType,
) -> tuple[dict, dict[str, int], int]:
    """(iceberg schema dict, top-level name → field-id,
    last-column-id). Field ids are assigned in pre-order across the
    whole tree (struct children, list elements, map keys/values get
    their own ids per the spec) — stable across exports as long as
    the schema only APPENDS columns (TxnTable's only evolution
    mode)."""
    gen = _IdGen()
    fields = []
    ids: dict[str, int] = {}
    for f in st.fields:
        fid = gen.next()
        ids[f.name] = fid
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": _iceberg_type_of(f.dataType, f.name, gen),
            }
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        ids,
        gen.last,
    )


def _name_mapping_type(t) -> list[dict]:
    """Nested name-mapping entries for one Iceberg type (spec: Name
    Mapping Serialization) — structs map their children by name,
    lists their 'element', maps 'key'/'value'; primitives have no
    nested entries."""
    if not isinstance(t, dict):
        return []
    if t["type"] == "struct":
        return [
            {
                "field-id": f["id"],
                "names": [f["name"]],
                **(
                    {"fields": _name_mapping_type(f["type"])}
                    if isinstance(f["type"], dict)
                    else {}
                ),
            }
            for f in t["fields"]
        ]
    if t["type"] == "list":
        return [
            {
                "field-id": t["element-id"],
                "names": ["element"],
                **(
                    {"fields": _name_mapping_type(t["element"])}
                    if isinstance(t["element"], dict)
                    else {}
                ),
            }
        ]
    if t["type"] == "map":
        return [
            {
                "field-id": t["key-id"],
                "names": ["key"],
                **(
                    {"fields": _name_mapping_type(t["key"])}
                    if isinstance(t["key"], dict)
                    else {}
                ),
            },
            {
                "field-id": t["value-id"],
                "names": ["value"],
                **(
                    {"fields": _name_mapping_type(t["value"])}
                    if isinstance(t["value"], dict)
                    else {}
                ),
            },
        ]
    return []


def _name_mapping(schema: dict) -> list[dict]:
    return [
        {
            "field-id": f["id"],
            "names": [f["name"]],
            **(
                {"fields": _name_mapping_type(f["type"])}
                if isinstance(f["type"], dict)
                else {}
            ),
        }
        for f in schema["fields"]
    ]


# -- single-value binary serialization (spec Appendix D) --------------------

_EPOCH_DATE = date(1970, 1, 1)


def _bound_bytes(icetype: str, v) -> bytes | None:
    """Iceberg single-value binary serialization of one bound — None
    when the value/type combination isn't serialized (bound simply
    omitted; readers must treat absent bounds as unprunable)."""
    if v is None:
        return None
    try:
        if icetype == "int":
            return struct.pack("<i", int(v))
        if icetype == "long":
            return struct.pack("<q", int(v))
        if icetype == "float":
            return struct.pack("<f", float(v))
        if icetype == "double":
            return struct.pack("<d", float(v))
        if icetype == "string":
            return str(v).encode("utf-8")
        if icetype == "boolean":
            return b"\x01" if v else b"\x00"
        if icetype == "date":
            d = v if isinstance(v, date) else date.fromisoformat(str(v))
            return struct.pack("<i", (d - _EPOCH_DATE).days)
        if icetype in ("timestamptz", "timestamp"):
            # both serialize as micros from epoch; a zoneless value's
            # micros are its WALL reading taken as UTC (exactly what
            # treating the naive datetime as UTC computes)
            ts = (
                v
                if isinstance(v, datetime)
                else datetime.fromisoformat(str(v))
            )
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            return struct.pack("<q", int(ts.timestamp() * 1_000_000))
    except (ValueError, OverflowError, struct.error):
        return None
    return None


def _bound_decode(icetype: str, b: bytes):
    if b is None:
        return None
    try:
        if icetype == "int":
            return struct.unpack("<i", b)[0]
        if icetype == "long":
            return struct.unpack("<q", b)[0]
        if icetype == "float":
            return struct.unpack("<f", b)[0]
        if icetype == "double":
            return struct.unpack("<d", b)[0]
        if icetype == "string":
            return b.decode("utf-8")
        if icetype == "boolean":
            return b != b"\x00"
        if icetype == "date":
            from datetime import timedelta

            return _EPOCH_DATE + timedelta(days=struct.unpack("<i", b)[0])
        if icetype == "timestamptz":
            return datetime.fromtimestamp(
                struct.unpack("<q", b)[0] / 1_000_000, tz=timezone.utc
            )
        if icetype == "timestamp":
            # zoneless: decode the micros back to a NAIVE wall reading
            return datetime.fromtimestamp(
                struct.unpack("<q", b)[0] / 1_000_000, tz=timezone.utc
            ).replace(tzinfo=None)
    except (ValueError, struct.error):
        return None
    return None


# -- Avro schemas (Iceberg manifest formats, field-ids per the spec) --------


def _partition_field_avro_type(pf: dict, ids_to_type):
    """The Avro type of one partition-spec field's RESULT (the value
    stored in the manifest partition tuple), per the Iceberg spec's
    transform result types: time transforms yield int ordinals (day
    with the date logical type), identity/truncate yield the source
    type."""
    tr = pf["transform"]
    if tr == "day":
        return {"type": "int", "logicalType": "date"}
    if tr in ("year", "month", "hour") or tr.startswith("bucket["):
        return "int"
    # identity / truncate[W]: the source's type
    ice_t = ids_to_type[pf["source-id"]]
    if ice_t == "int":
        return "int"
    if ice_t == "long":
        return "long"
    if ice_t == "string":
        return "string"
    if ice_t == "date":
        return {"type": "int", "logicalType": "date"}
    if ice_t == "boolean":
        return "boolean"
    raise ValueError(
        f"partition field {pf['name']!r} ({tr}) over source type "
        f"{ice_t!r}: this exporter maps int/long/string/date/boolean "
        f"sources for identity/truncate partitions"
    )


def _partition_avro_fields(spec_fields: list[dict], ids_to_type) -> list:
    return [
        {
            "name": pf["name"],
            "type": ["null", _partition_field_avro_type(pf, ids_to_type)],
            "default": None,
            "field-id": pf["field-id"],
        }
        for pf in spec_fields
    ]


def _bounds_map_schema(outer_id: int, key_id: int, value_id: int) -> dict:
    # Iceberg encodes int-keyed maps as arrays of key/value records
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{key_id}_v{value_id}",
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": value_id},
            ],
        },
        "logicalType": "map",
    }


def _manifest_entry_schema(
    partition_fields: list,
    v3_dv: bool = False,
    v3_lineage: bool = False,
) -> str:
    """``v3_dv`` appends the spec's v3 deletion-vector fields
    (referenced_data_file 143, content_offset 144,
    content_size_in_bytes 145) — used by DV-bearing delete manifests
    (the reader is schema-driven and handles both shapes; this
    repo's own exporter writes v2 manifests without them).
    ``v3_lineage`` appends the v3 row-lineage field
    (``first_row_id``, spec field 142) used by DATA manifests of v3
    exports: the ``_row_id`` assigned to the file's first row (null =
    pre-upgrade file with unknown lineage, whose rows read NULL)."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": partition_fields,
                },
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {
                "name": "file_size_in_bytes",
                "type": "long",
                "field-id": 104,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _bounds_map_schema(125, 126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _bounds_map_schema(128, 129, 130)],
                "default": None,
                "field-id": 128,
            },
            {
                # spec field 135: the equality-delete field ids; null
                # for data files and position deletes. Included so the
                # round-trip fixture (and any future eq-delete writer)
                # can express content=2 files; foreign manifests
                # without the field read back as None.
                "name": "equality_ids",
                "type": [
                    "null",
                    {"type": "array", "items": "int", "element-id": 136},
                ],
                "default": None,
                "field-id": 135,
            },
        ],
    }
    if v3_lineage:
        data_file["fields"].append(
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 142,
            }
        )
    if v3_dv:
        data_file["fields"] += [
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
                "field-id": 143,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
                "field-id": 144,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
                "field-id": 145,
            },
        ]
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int", "field-id": 0},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 1,
                },
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 3,
                },
                {
                    "name": "file_sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 4,
                },
                {"name": "data_file", "type": data_file, "field-id": 2},
            ],
        }
    )


_MANIFEST_FILE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {
                "name": "min_sequence_number",
                "type": "long",
                "field-id": 516,
            },
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {
                "name": "existing_files_count",
                "type": "int",
                "field-id": 505,
            },
            {
                "name": "deleted_files_count",
                "type": "int",
                "field-id": 506,
            },
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {
                "name": "existing_rows_count",
                "type": "long",
                "field-id": 513,
            },
            {
                "name": "deleted_rows_count",
                "type": "long",
                "field-id": 514,
            },
        ],
    }
)


def _rec_get_opt(rec, name: str):
    """Read an OPTIONAL field off a decoded Avro record: the Java
    ``GenericData.Record.get(name)`` THROWS AvroRuntimeException when
    the writer's schema lacks the field (a pre-v3 manifest has no
    ``first_row_id``), while the pure-Python reader's dicts return
    None — normalize both to None-when-absent."""
    if isinstance(rec, dict):
        return rec.get(name)
    try:
        if rec.getSchema().getField(name) is None:
            return None
        return rec.get(name)
    except Exception:
        return None


def _manifest_file_schema(v3_lineage: bool = False) -> str:
    """The manifest-list entry schema — v2 verbatim, plus the v3
    row-lineage field ``first_row_id`` (spec field 520: the starting
    ``_row_id`` for rows in the manifest's ADDED data files; null on
    DELETE manifests) when ``v3_lineage``."""
    if not v3_lineage:
        return _MANIFEST_FILE_SCHEMA
    s = json.loads(_MANIFEST_FILE_SCHEMA)
    s["fields"].append(
        {
            "name": "first_row_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 520,
        }
    )
    return json.dumps(s)


# -- Avro via the bundled Java library (py4j) -------------------------------


def _jvm(spark: SparkSession):
    return spark._jvm


class _AvroFileWriter:
    """Thin py4j wrapper over org.apache.avro.file.DataFileWriter —
    the Avro object container file Iceberg manifests require, written
    with the Avro JAVA library pyspark already bundles (no datasource,
    no Python avro package needed). Records are appended as Avro-JSON
    through JsonDecoder: the SCHEMA types every value, sidestepping
    py4j's int/long auto-(un)boxing, which otherwise turns a
    ``java.lang.Long(1)`` back into a Python int and an Avro Integer
    (UnresolvedUnionException on every ["null","long"] field).
    Driver-side: manifests are metadata, one record per data file."""

    def __init__(self, jvm, schema_json: str, path: Path, meta: dict):
        self.jvm = jvm
        self.schema = jvm.org.apache.avro.Schema.Parser().parse(
            schema_json
        )
        writer = jvm.org.apache.avro.generic.GenericDatumWriter(
            self.schema
        )
        self.w = jvm.org.apache.avro.file.DataFileWriter(writer)
        for k, v in meta.items():
            self.w.setMeta(k, str(v))
        self.w.create(self.schema, jvm.java.io.File(str(path)))
        self._reader = jvm.org.apache.avro.generic.GenericDatumReader(
            self.schema
        )

    def append_json(self, obj: dict):
        dec = self.jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            self.schema, json.dumps(obj)
        )
        self.w.append(self._reader.read(None, dec))

    def close(self):
        self.w.close()


def _json_bytes(b: bytes) -> str:
    """Avro-JSON encoding of a bytes value: one unicode codepoint
    (0-255) per byte — exactly latin-1."""
    return b.decode("latin-1")


def _uri_to_path(uri: str) -> str:
    """file:// URI → local filesystem path. ``Path.as_uri()``
    percent-encodes URI-reserved characters (a Hive dir 'tenant=A'
    exports as 'tenant%3DA'), so the reverse must unquote or every
    partitioned path 404s."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme and parsed.scheme != "file":
        raise ValueError(
            f"only file:// data URIs are readable here (got {uri!r})"
        )
    return unquote(parsed.path) if parsed.scheme else uri


def _checked_pos_delete_path(uri: str) -> str:
    """Resolve a position-delete file URI and footer-verify it carries
    the spec columns. ``spark.read.schema(...)`` fills a MISSING
    column with NULLs instead of raising, so a foreign/corrupt delete
    file without ``file_path``/``pos`` would silently match nothing in
    the MOR anti-join and deleted rows would resurrect (round-14
    advice). One pyarrow footer read per delete file — O(delete
    files), driver-side, no data scanned."""
    import pyarrow.parquet as _pq

    path = _uri_to_path(uri)
    names = set(_pq.read_schema(path).names)
    missing = {"file_path", "pos"} - names
    if missing:
        raise ValueError(
            f"position-delete file {uri!r} lacks spec column(s) "
            f"{sorted(missing)} (found {sorted(names)}) — refusing to "
            f"silently skip its deletes"
        )
    return path


def _read_avro(jvm, path: Path):
    """All records of one Avro container file as py4j GenericRecords,
    plus the file's key-value metadata getter."""
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(str(path)), reader
    )
    recs = []
    while dfr.hasNext():
        recs.append(dfr.next())
    meta = {}
    for k in ("format-version", "snapshot-id", "sequence-number",
              "partition-spec", "schema", "content"):
        try:
            v = dfr.getMetaString(k)
            if v is not None:
                meta[k] = v
        except Exception:
            pass
    dfr.close()
    return recs, meta


def _py_bytes(jvm, bb) -> bytes | None:
    if bb is None:
        return None
    arr = jvm.java.util.Arrays.copyOfRange(
        bb.array(),
        bb.position() + bb.arrayOffset(),
        bb.limit() + bb.arrayOffset(),
    )
    return bytes(arr)


# -- export -----------------------------------------------------------------


#: largest vector row count a merge-on-read export will serialize
#: driver-side into position-delete parquet (pyarrow, to stamp the
#: spec's reserved field ids); beyond it compact() first — the same
#: bounded-driver posture as the TxnTable manifest guard
_DELETE_EXPORT_MAX_ROWS = 10_000_000


def _validate_exportable(table: TxnTable, m: dict) -> None:
    dv_rows = sum((m.get("dv_deleted") or {}).values())
    if dv_rows > _DELETE_EXPORT_MAX_ROWS:
        raise ValueError(
            f"table {table.name}: snapshot carries {dv_rows} "
            f"vector-deleted positions — beyond the "
            f"{_DELETE_EXPORT_MAX_ROWS}-row position-delete export "
            f"bound; run compact() (reconciles vectors into clean "
            f"files) and re-export"
        )
    if m.get("schema") is None:
        raise ValueError(
            f"table {table.name}: no log schema recorded; Iceberg "
            f"table metadata requires a schema"
        )
    for tname, spec in (m.get("partition_transforms") or {}).items():
        kind = spec[0]
        if kind == "bucket":
            # TxnTable buckets by xxhash64; Iceberg's bucket[N] is
            # murmur3-32 by spec. Exporting the dir numbers as
            # bucket[N] values would make a COMPLIANT engine prune by
            # recomputing murmur3 over query literals — dropping
            # files that DO hold matching rows, a silently-wrong
            # read. Refused, never remapped.
            raise ValueError(
                f"table {table.name}: transform {tname!r} is "
                f"bucket-partitioned with xxhash64, which cannot map "
                f"to Iceberg's murmur3 bucket[N] — a compliant "
                f"engine's bucket pruning would silently drop "
                f"matching files. Use the 'bucket_mm3' transform "
                f"(the spec's murmur3-32 — exportable) or compact() "
                f"into an unbucketed layout before exporting"
            )
        if kind not in ("identity", "truncate", "days", "months",
                        "years", "hours", "bucket_mm3"):
            raise ValueError(
                f"table {table.name}: unknown partition transform "
                f"kind {kind!r} — cannot map to an Iceberg transform"
            )
    pcols = m.get("partition_cols") or []
    if pcols:
        parts_map = m.get("partitions", {})
        uncovered = [
            f
            for f in m["files"]
            if any(c not in (parts_map.get(f) or {}) for c in pcols)
        ]
        if uncovered:
            raise ValueError(
                f"table {table.name}: {len(uncovered)} file(s) predate "
                f"the current partition spec — their partition tuple "
                f"would export empty and Iceberg readers would NULL "
                f"the column; run compact() first"
            )
    stats = m.get("stats", {})
    statless = [f for f in m["files"] if "rows" not in stats.get(f, {})]
    if statless:
        raise ValueError(
            f"table {table.name}: {len(statless)} file(s) lack row-"
            f"count stats; Iceberg record_count is required and "
            f"engines trust it (count(*) pushdown) — run compact() "
            f"to rewrite with stats"
        )


def _typed_partition_value(pf: dict, ids_to_type, v):
    """Parse the manifest's path-string partition value into the
    typed value the Avro partition tuple stores: time transforms'
    ISO-prefix dir strings become Iceberg's epoch ordinals (days /
    months / years / hours since 1970), identity/truncate values
    parse as their source type."""
    if v is None or v == _HIVE_NULL:
        return None
    tr = pf["transform"]
    if tr.startswith("bucket["):
        return int(v)  # the bucket ordinal is the stored value
    if tr == "day":
        return (date.fromisoformat(str(v)) - _EPOCH_DATE).days
    if tr == "month":
        y, mo = str(v).split("-")
        return (int(y) - 1970) * 12 + (int(mo) - 1)
    if tr == "year":
        return int(v) - 1970
    if tr == "hour":
        dt = datetime.strptime(str(v), "%Y-%m-%d-%H").replace(
            tzinfo=timezone.utc
        )
        return int(dt.timestamp() // 3600)
    icetype = ids_to_type[pf["source-id"]]
    if icetype in ("int", "long"):
        return int(v)
    if icetype == "string":
        return str(v)
    if icetype == "boolean":
        return str(v).lower() == "true"
    if icetype == "date":
        d = v if isinstance(v, date) else date.fromisoformat(str(v))
        return (d - _EPOCH_DATE).days
    raise ValueError(f"unsupported partition source type {icetype!r}")


def _dv_position_pairs(table: TxnTable, m: dict) -> list:
    """The snapshot's deletion vectors as sorted, deduped
    ``[(data file URI, position), …]`` — driver-side and bounded by
    ``_DELETE_EXPORT_MAX_ROWS`` (validated before any read): vectors
    are metadata-sized by the table's own DV design, and Iceberg's
    own delete-file writers are coordinator-side too. Shared by the
    v2 position-delete parquet writer and the v3 Puffin DV writer so
    the two export shapes can never drift on content."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dvs = m["dvs"]
    vec_dirs = sorted({p for ps in dvs.values() for p in ps})
    pairs = set()
    for vd in vec_dirs:
        # a vector parquet may hold rows for files whose vector list
        # no longer references it (consolidation, restore, shared
        # multi-file commits): filter to THIS vector's live file keys
        # ARROW-SIDE before anything reaches Python (round-9 review:
        # to_pylist of the raw table materialized every dead row on
        # the driver — the exact blowup the live-count guard misses)
        live_keys = [f for f, ps in dvs.items() if vd in ps]
        t = pq.read_table(
            str(table.root / vd), columns=["file_key", "row_idx"]
        )
        t = t.filter(pc.is_in(t.column("file_key"), pa.array(live_keys)))
        if t.num_rows > _DELETE_EXPORT_MAX_ROWS:
            raise ValueError(
                f"vector parquet {vd} holds {t.num_rows} live "
                f"positions — beyond the {_DELETE_EXPORT_MAX_ROWS} "
                f"bound; run compact() and re-export"
            )
        for f, r in zip(
            t.column("file_key").to_pylist(),
            t.column("row_idx").to_pylist(),
        ):
            pairs.add(((table.root / f).resolve().as_uri(), int(r)))
    return sorted(pairs)


def _write_equality_deletes(
    table: TxnTable,
    m: dict,
    meta_dir: Path,
    key_cols: list[str],
    ids: dict,
    existing_rel: set,
) -> tuple[Path, int]:
    """Serialize the snapshot's deletion vectors as ONE Iceberg
    EQUALITY-delete parquet (content=2 — the Flink-CDC shape this
    repo's reader already applies): the DELETED rows' ``key_cols``
    values, distinct, written DISTRIBUTED (no driver materialization)
    with each column's schema field id stamped in the footer.

    Equality semantics are stronger than position semantics — a keyed
    delete kills EVERY lower-sequence row matching the key — so the
    conversion refuses loudly unless it is provably
    position-equivalent:

    - every vectored file must be EXISTING (lower sequence than the
      delete file): the spec's STRICT ``delete_seq > data_seq`` rule
      means an equality delete cannot touch same-snapshot files, so
      vectors on a file added by THIS export (e.g. a first full
      export) would silently resurrect their rows;
    - no LIVE lower-sequence row may match a deleted key (null-safe,
      matching the reader's ``eqNullSafe``): otherwise the equality
      file would delete rows the vectors never named."""
    from pyspark.sql import functions as F

    spark = table.spark
    dvs = m.get("dvs") or {}
    dv_files = sorted(f for f in m["files"] if dvs.get(f))
    not_existing = [f for f in dv_files if f not in existing_rel]
    if not_existing:
        raise ValueError(
            f"table {table.name}: vectored file(s) "
            f"{not_existing[:3]} are ADDED by this very export — the "
            f"spec's strict sequence rule (delete_seq > data_seq) "
            f"means an equality delete cannot touch them and their "
            f"deleted rows would resurrect; export once without "
            f"equality_delete_cols first (position deletes/DVs "
            f"express the same state), then switch"
        )
    state_nodv = {**m, "dvs": {}}
    raw = table._load_files(dv_files, state_nodv, keep_lineage=True)
    dv_paths = sorted({p for f in dv_files for p in dvs[f]})
    vec = spark.read.schema("file_key STRING, row_idx BIGINT").parquet(
        *[str(table.root / p) for p in dv_paths]
    ).select(
        F.col("file_key").alias("_dv_file"),
        F.col("row_idx").alias("_dv_row"),
    )
    deleted_keys = (
        raw.join(vec, ["_dv_file", "_dv_row"], "left_semi")
        .select(*key_cols)
        .distinct()
    )
    lower_live = [f for f in m["files"] if f in existing_rel]
    if lower_live:
        live = table._load_files(lower_live, m).alias("_el")
        dk = deleted_keys.alias("_ek")
        cond = F.lit(True)
        for c in key_cols:
            cond = cond & F.col(f"_el.{c}").eqNullSafe(
                F.col(f"_ek.{c}")
            )
        clash = live.join(dk, cond, "left_semi").limit(1).take(1)
        if clash:
            raise ValueError(
                f"table {table.name}: a LIVE row shares its "
                f"{key_cols} key with a vector-deleted row — an "
                f"equality delete would remove it too (keys are not "
                f"unique per live row); export without "
                f"equality_delete_cols (position deletes express "
                f"this state exactly)"
            )
    kdf = deleted_keys
    for c in key_cols:
        kdf = kdf.withMetadata(c, {"parquet.field.id": ids[c]})
    tmp = meta_dir / f".eqtmp-{uuid.uuid4().hex}"
    kdf.coalesce(1).write.parquet(str(tmp))
    part = next(
        p
        for p in tmp.iterdir()
        if p.suffix == ".parquet" and not p.name.startswith(("_", "."))
    )
    out = meta_dir / f"{uuid.uuid4().hex}-eq-deletes.parquet"
    part.rename(out)
    shutil.rmtree(tmp, ignore_errors=True)
    import pyarrow.parquet as _pq

    return out, _pq.read_metadata(out).num_rows


def _write_position_deletes(
    table: TxnTable, m: dict, meta_dir: Path
) -> tuple[Path, int]:
    """Serialize the snapshot's deletion vectors as ONE Iceberg
    position-delete parquet: (file_path URI, pos), deduped and sorted
    by (path, pos) — the spec's recommended layout — with the RESERVED
    field ids (2147483546 file_path / 2147483545 pos) stamped through
    pyarrow so compliant engines project by id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ordered = _dv_position_pairs(table, m)
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483545"},
            ),
        ]
    )
    out = meta_dir / f"{uuid.uuid4().hex}-deletes.parquet"
    pq.write_table(
        pa.Table.from_arrays(
            [
                pa.array([p for p, _ in ordered], pa.string()),
                pa.array([x for _, x in ordered], pa.int64()),
            ],
            schema=schema,
        ),
        str(out),
    )
    return out, len(ordered)


def _prev_metadata(meta_dir: Path) -> tuple[dict | None, int]:
    """(previous table metadata, previous hint version) — (None, 0)
    when absent or unreadable (a torn export restarts identity,
    matching the Delta exporter's torn-marker posture)."""
    hint = meta_dir / "version-hint.text"
    if not hint.exists():
        return None, 0
    try:
        n = int(hint.read_text().strip())
        return (
            json.loads((meta_dir / f"v{n}.metadata.json").read_text()),
            n,
        )
    except (ValueError, OSError, json.JSONDecodeError):
        return None, 0


def export_iceberg_metadata(
    table: TxnTable,
    version: int | None = None,
    format_version: int | None = None,
    equality_delete_cols: list[str] | None = None,
) -> Path:
    """Write Iceberg v2 table metadata for the TxnTable snapshot into
    ``<root>/metadata`` — the root then IS an Iceberg Hadoop table:
    data file paths are absolute ``file://`` URIs to the same parquet
    the TxnTable manifest records, so zero data bytes move.

    Repeated exports APPEND a snapshot: files already listed by the
    previous export carry as EXISTING manifest entries with their
    original (snapshot-id, sequence-number); the table-uuid, schema
    ids and spec ids are carried forward (schema/spec changes append
    new ids), so engines following the table see one continuously
    evolving Iceberg table with time travel over exported snapshots.
    Exporting an unchanged snapshot is an idempotent no-op. Files
    removed since a previous export stay listed in the OLD snapshots
    only — readable until :meth:`TxnTable.vacuum` reclaims them, the
    same staleness contract as Delta time travel after VACUUM.

    Vectored snapshots export as MERGE-ON-READ: under
    ``format_version=2`` (the default for fresh tables; appending
    exports inherit the history's version when the argument is
    omitted) the deletion vectors become an Iceberg v2
    position-delete parquet + DELETE manifest (module docstring);
    under ``format_version=3`` they become a PUFFIN
    ``deletion-vector-v1`` blob file (:mod:`.puffin`) whose delete
    manifest entries carry the spec's v3 DV fields
    (``referenced_data_file`` 143 / ``content_offset`` 144 /
    ``content_size_in_bytes`` 145, ``file_format='PUFFIN'``) and the
    table metadata is stamped ``format-version: 3``. Once a history
    is v3 it stays v3 (Iceberg format upgrades are one-way; a v2
    re-export over a v3 history refuses); the v2→v3 upgrade is
    allowed mid-history. v3 exports also assign ROW LINEAGE (round
    14): ``next-row-id`` / snapshot ``first-row-id`` / per-entry
    ``first_row_id`` per the spec's assignment rule, read back by
    ``read_iceberg(with_lineage=True)`` and preserved through
    rewrites by :func:`compact_preserving_row_lineage`.

    ``equality_delete_cols`` switches the merge-on-read delete
    export from position style to EQUALITY style (content=2 — the
    Flink-CDC shape): the vector-deleted rows' key values export as
    one keyed delete file under the unpartitioned spec. Refuses
    loudly unless provably position-equivalent
    (:func:`_write_equality_deletes`: vectored files must be
    lower-sequence EXISTING entries, and no live lower-sequence row
    may share a deleted key).

    Refuses loudly: xxhash-bucket partitioning,
    nested types, stats-less files, vector sets beyond the bounded
    delete-file serialization, and re-exporting an OLDER TxnTable
    version into an appending history
    (the snapshot id would duplicate), and a concurrent export (one
    writer at a time — the same advisory flock posture as
    ``export_delta_log``). Returns the ``metadata`` directory path."""
    import os

    if format_version not in (None, 2, 3):
        raise ValueError(
            f"format_version={format_version!r}: this exporter writes "
            f"Iceberg format-version 2 (default) or 3 (Puffin "
            f"deletion vectors)"
        )
    lock_fd = _export_lock(table, "export")
    try:
        return _export_locked(
            table, version, format_version, equality_delete_cols
        )
    finally:
        os.close(lock_fd)


def _publish_metadata(meta_dir: Path, meta: dict, prev_hint: int) -> int:
    """Atomic metadata publication (export AND expiry share it —
    round-10 review: two inline copies had already diverged on JSON
    formatting): json fully written before it becomes visible, hint
    flipped LAST — a crash mid-publish leaves the previous metadata
    version current, never a torn file behind the hint."""
    import os

    hint_n = prev_hint + 1
    tmp = meta_dir / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(meta, indent=2))
    os.replace(tmp, meta_dir / f"v{hint_n}.metadata.json")
    tmp2 = meta_dir / f".tmp-{uuid.uuid4().hex}"
    tmp2.write_text(str(hint_n))
    os.replace(tmp2, meta_dir / "version-hint.text")
    return hint_n


def _export_lock(table: TxnTable, what: str):
    """Advisory per-table export flock, NON-blocking refuse-loudly —
    the one single-writer posture every metadata publisher shares."""
    import fcntl
    import os

    lock_path = table.root / ".iceberg_export.lock"
    lock_fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(lock_fd)
        raise ValueError(
            f"table {table.name}: another Iceberg metadata writer "
            f"holds the lock — one {what} writer at a time"
        )
    return lock_fd


def _export_locked(
    table: TxnTable,
    version: int | None,
    format_version: int | None = None,
    equality_delete_cols: list[str] | None = None,
) -> Path:
    m = table.manifest(version)
    _validate_exportable(table, m)
    jvm = _jvm(table.spark)
    now_ms = int(time.time() * 1000)
    meta_dir = table.root / "metadata"
    meta_dir.mkdir(parents=True, exist_ok=True)
    prev, prev_hint = _prev_metadata(meta_dir)
    prev_fv = int((prev or {}).get("format-version") or 2)
    if format_version is None:
        # inherit: a v3 history keeps exporting v3 without the caller
        # re-stating it every time; fresh tables default to v2
        format_version = prev_fv
    if prev_fv > format_version:
        raise ValueError(
            f"table {table.name}: the exported history is "
            f"format-version {prev_fv}; Iceberg format upgrades are "
            f"one-way — re-export with format_version={prev_fv}"
        )

    st = StructType.fromJson(json.loads(m["schema"]))
    schema, ids, last_col_id = _iceberg_schema(st)
    ids_to_type = {
        f["id"]: f["type"] for f in schema["fields"]
    }
    pcols = m.get("partition_cols") or []
    transforms = m.get("partition_transforms") or {}
    _ICE_TRANSFORM = {
        "days": "day",
        "months": "month",
        "years": "year",
        "hours": "hour",
    }
    spec_fields = []
    fid = 1000
    for c in pcols:
        spec_fields.append(
            {
                "name": c,
                "transform": "identity",
                "source-id": ids[c],
                "field-id": fid,
            }
        )
        fid += 1
    for tname, spec in transforms.items():
        kind, src = spec[0], spec[-1]
        if src not in ids:
            raise ValueError(
                f"transform {tname!r} sources column {src!r}, which "
                f"is not in the log schema"
            )
        if kind == "truncate":
            iname = f"truncate[{int(spec[1])}]"
        elif kind == "bucket_mm3":
            # the spec's murmur3-32 bucket — exportable because the
            # write path (txn.py:_mmh3_32_of_long) computes exactly
            # the hash a compliant engine's pruning recomputes
            # (xxhash64 'bucket' still refuses above)
            iname = f"bucket[{int(spec[1])}]"
        else:
            iname = _ICE_TRANSFORM.get(kind, kind)
        spec_fields.append(
            {
                "name": tname,
                "transform": iname,
                "source-id": ids[src],
                "field-id": fid,
            }
        )
        fid += 1

    # identity continuity with the previous export
    table_uuid = (prev or {}).get("table-uuid") or str(uuid.uuid4())
    snap_id = m["version"]
    prev_snaps = (prev or {}).get("snapshots") or []
    if prev is not None and prev.get("current-snapshot-id") == snap_id:
        return meta_dir  # unchanged snapshot: idempotent no-op
    expired_ids = json.loads(
        ((prev or {}).get("properties") or {}).get(
            "txn.expired-snapshot-ids", "[]"
        )
    )
    if any(s["snapshot-id"] == snap_id for s in prev_snaps):
        # re-exporting an OLDER TxnTable version would append a
        # DUPLICATE snapshot-id — _resolve_snapshot and external
        # engines would pick one arbitrarily (round-9 review). Time
        # travel to that version already works via snapshot_id.
        raise ValueError(
            f"table {table.name}: TxnTable version {snap_id} is "
            f"already exported as an Iceberg snapshot — read it with "
            f"read_iceberg(..., snapshot_id={snap_id}) instead of "
            f"re-exporting (an appending history cannot re-add a "
            f"snapshot id)"
        )
    if snap_id in expired_ids:
        # round-10 review: without this, expiry silently re-opened
        # the duplicate-id hole — the id would reappear at a HIGHER
        # sequence number and a resumed stream would re-emit its rows
        # as fresh adds
        raise ValueError(
            f"table {table.name}: TxnTable version {snap_id} was "
            f"EXPIRED from this Iceberg history — an appending "
            f"history cannot re-add an expired snapshot id"
        )
    seq = int((prev or {}).get("last-sequence-number") or 0) + 1

    # schema / spec id continuity: reuse the previous id when equal,
    # else append under a fresh id
    def _versioned(prev_list, key_id, current, prev_default):
        cur = dict(current)
        for e in prev_list or []:
            probe = dict(e)
            probe[key_id] = cur.get(key_id)
            if json.dumps(probe, sort_keys=True) == json.dumps(
                {**cur, key_id: cur.get(key_id)}, sort_keys=True
            ):
                return e[key_id], list(prev_list)
        new_id = (
            max((e[key_id] for e in prev_list), default=-1) + 1
            if prev_list
            else prev_default
        )
        cur[key_id] = new_id
        return new_id, (list(prev_list or []) + [cur])

    schema_id, schemas = _versioned(
        (prev or {}).get("schemas"), "schema-id", schema, 0
    )
    # spec continuity matches on (name, transform, source-id) ONLY —
    # field-ids are the metadata's own allocation, so an unchanged
    # spec reuses its previous ids verbatim and a NEW spec's fields
    # continue from last-partition-id + 1 (round-9 review: restarting
    # at 1000 per export reused one field-id for different partition
    # fields across specs, violating v2's unique-field-id rule)
    prev_specs = (prev or {}).get("partition-specs") or []

    def _spec_shape(fields):
        return [
            (f["name"], f["transform"], f["source-id"]) for f in fields
        ]

    match = next(
        (
            s
            for s in prev_specs
            if _spec_shape(s["fields"]) == _spec_shape(spec_fields)
        ),
        None,
    )
    if match is not None:
        spec_id, specs = match["spec-id"], list(prev_specs)
    else:
        base_fid = int((prev or {}).get("last-partition-id") or 999) + 1
        for off, f in enumerate(spec_fields):
            f["field-id"] = base_fid + off
        spec_id = (
            max((s["spec-id"] for s in prev_specs), default=-1) + 1
            if prev_specs
            else 0
        )
        specs = prev_specs + [
            {"spec-id": spec_id, "fields": spec_fields}
        ]
    spec_fields_final = next(
        s for s in specs if s["spec-id"] == spec_id
    )["fields"]

    # EXISTING carry-over: (path → (snapshot_id, sequence_number))
    # from the previous CURRENT snapshot's DATA manifests; DELETE
    # manifests collect separately (round-9 review 3: keying the
    # delete parquet as a data file polluted the carry map) so an
    # unchanged vector state can carry them forward verbatim instead
    # of re-serializing the cumulative delete set every export
    prev_entries: dict[str, tuple[int, int]] = {}
    prev_delete_mfs: list[dict] = []
    if prev is not None and prev.get("current-snapshot-id") is not None:
        cur_snap = next(
            (
                s
                for s in prev_snaps
                if s["snapshot-id"] == prev["current-snapshot-id"]
            ),
            None,
        )
        if cur_snap is not None:
            try:
                ml = Path(_uri_to_path(cur_snap["manifest-list"]))
                lists, _ = _read_avro(jvm, ml)
                for mf in lists:
                    if (mf.get("content") or 0) == 1:
                        prev_delete_mfs.append(
                            {
                                "manifest_path": str(
                                    mf.get("manifest_path")
                                ),
                                "manifest_length": int(
                                    mf.get("manifest_length")
                                ),
                                "partition_spec_id": int(
                                    mf.get("partition_spec_id")
                                ),
                                "content": 1,
                                "sequence_number": int(
                                    mf.get("sequence_number")
                                ),
                                "min_sequence_number": int(
                                    mf.get("min_sequence_number")
                                ),
                                "added_snapshot_id": int(
                                    mf.get("added_snapshot_id")
                                ),
                                "added_files_count": int(
                                    mf.get("added_files_count")
                                ),
                                "existing_files_count": int(
                                    mf.get("existing_files_count")
                                ),
                                "deleted_files_count": int(
                                    mf.get("deleted_files_count")
                                ),
                                "added_rows_count": int(
                                    mf.get("added_rows_count")
                                ),
                                "existing_rows_count": int(
                                    mf.get("existing_rows_count")
                                ),
                                "deleted_rows_count": int(
                                    mf.get("deleted_rows_count")
                                ),
                            }
                        )
                        continue
                    mp = Path(
                        _uri_to_path(str(mf.get("manifest_path")))
                    )
                    entries, _ = _read_avro(jvm, mp)
                    lseq = mf.get("sequence_number")
                    lsnap = mf.get("added_snapshot_id")
                    mf_first = _rec_get_opt(mf, "first_row_id")
                    run_first = (
                        int(mf_first) if mf_first is not None else None
                    )
                    for e in entries:
                        if e.get("status") == 2:
                            continue
                        df = e.get("data_file")
                        sid = e.get("snapshot_id")
                        sq = e.get("sequence_number")
                        # v3 row lineage carry: an EXISTING entry must
                        # keep the first_row_id its rows were assigned
                        # when ADDED — explicit on the entry, else
                        # inherited from the manifest's first_row_id +
                        # the running record counts of preceding ADDED
                        # files (the spec's assignment rule); None on
                        # pre-v3 history (rows read NULL _row_id)
                        fr = _rec_get_opt(df, "first_row_id")
                        if fr is not None:
                            fr = int(fr)
                        elif run_first is not None and e.get(
                            "status"
                        ) == 1:
                            fr = run_first
                        if (
                            run_first is not None
                            and e.get("status") == 1
                        ):
                            run_first += int(df.get("record_count"))
                        prev_entries[str(df.get("file_path"))] = (
                            int(sid) if sid is not None else int(lsnap),
                            int(sq) if sq is not None else int(lseq),
                            fr,
                        )
            except Exception:
                prev_entries = {}  # unreadable history: all ADDED
                prev_delete_mfs = []

    # dv-state fingerprint: when the vector state is UNCHANGED since
    # the previous export, its delete manifests carry forward verbatim
    # (no re-serialization, no duplicate delete files, and a pure
    # append stays labeled "append" — carried deletes have older
    # sequence numbers and cannot touch the new rows). Stored as a
    # table property; foreign readers ignore it.
    import hashlib as _hashlib

    dvs_now = m.get("dvs") or {}
    if equality_delete_cols:
        for c in equality_delete_cols:
            if c not in ids or isinstance(
                ids_to_type.get(ids[c]), dict
            ):
                raise ValueError(
                    f"equality_delete_cols column {c!r} is not a "
                    f"top-level primitive column of the schema"
                )
    dv_fp = (
        _hashlib.md5(
            json.dumps(
                [
                    sorted(
                        (f, sorted(ps)) for f, ps in dvs_now.items()
                    ),
                    # the delete STYLE is part of the identity: a
                    # position↔equality switch with unchanged vectors
                    # must regenerate, not carry, the delete files
                    sorted(equality_delete_cols or []),
                ]
            ).encode()
        ).hexdigest()
        if dvs_now
        else None
    )
    prev_fp = ((prev or {}).get("properties") or {}).get(
        "txn.dv-fingerprint"
    )
    carry_deletes = bool(
        dvs_now and prev_delete_mfs and dv_fp == prev_fp
    )
    new_deletes = bool(dvs_now) and not carry_deletes

    # HONEST operation labeling (round-9 review): a snapshot that
    # DROPS files vs the previous export (delete / compact / merge
    # rewrote them) — or that adds NEW position deletes — is an
    # "overwrite", never an "append": the label is what makes
    # read_iceberg_changes' (and real Iceberg's) incremental-append
    # refusal actually fire instead of silently re-emitting rewritten
    # rows (or missing soft-deletes) as fresh changes
    cur_uris = {
        (table.root / f).resolve().as_uri() for f in m["files"]
    }
    snapshot_op = (
        "append"
        if set(prev_entries) <= cur_uris and not new_deletes
        else "overwrite"
    )

    # v3 ROW-LINEAGE preservation gate (the Delta mirror's
    # row-tracking twin): a REWRITE (compact / copy-on-write
    # delete/merge) moves rows whose ids the previous v3 export
    # assigned into new files — the spec requires rewriters to carry
    # the ids, which only files with MATERIALIZED lineage columns
    # (compact_preserving_row_lineage) can do. Silently assigning
    # fresh ids would break every consumer keying on them; refuse
    # unless every added file carries the materialized column.
    # Overwrites (logically NEW data) and unknown ops keep fresh
    # assignment — only the known rewrite shapes gate.
    if format_version == 3 and prev_fv == 3 and prev is not None:
        removed_lineage = [
            u
            for u, ent in prev_entries.items()
            if u not in cur_uris and ent[2] is not None
        ]
        added_rel = [
            f
            for f in m["files"]
            if (table.root / f).resolve().as_uri() not in prev_entries
        ]
        if removed_lineage and added_rel:
            try:
                head_op = table.commit_record(m["version"]).get("op")
            except (OSError, ValueError):
                head_op = None
            if head_op in ("compact", "delete", "merge", "merge_sync"):
                import pyarrow.parquet as _pq

                missing = [
                    f
                    for f in added_rel
                    if "_row_id"
                    not in set(
                        _pq.read_schema(table.root / f).names
                    )
                ]
                if missing:
                    raise ValueError(
                        f"table {table.name}: version "
                        f"{m['version']} ({head_op}) rewrites files "
                        f"whose rows carry assigned v3 row ids, and "
                        f"{len(missing)} new file(s) lack the "
                        f"materialized _row_id column — exporting "
                        f"would silently re-identify those rows. "
                        f"Rewrite with "
                        f"compact_preserving_row_lineage(), use "
                        f"merge-on-read operations "
                        f"(merge_on_read=True), or overwrite() for "
                        f"a genuine data replacement"
                    )

    # -- one manifest for the snapshot's files ------------------------------
    part_avro = _partition_avro_fields(spec_fields_final, ids_to_type)
    entry_schema = _manifest_entry_schema(
        part_avro, v3_lineage=(format_version == 3)
    )
    manifest_path = meta_dir / f"{uuid.uuid4().hex}-m0.avro"
    w = _AvroFileWriter(
        jvm,
        entry_schema,
        manifest_path,
        {
            "schema": json.dumps({**schema, "schema-id": schema_id}),
            "schema-id": schema_id,
            "partition-spec": json.dumps(spec_fields_final),
            "partition-spec-id": spec_id,
            "format-version": str(format_version),
            "content": "data",
        },
    )
    counts = {"added": [0, 0], "existing": [0, 0]}
    min_seq = seq
    stats = m.get("stats", {})
    parts_map = m.get("partitions", {})
    from interop_datalake_spark.lake.txn import _decode_range

    # v3 ROW LINEAGE: this snapshot's first-row-id is the table's
    # next-row-id; ADDED files get explicit first_row_id values by the
    # spec's assignment rule (running record counts in manifest
    # order), EXISTING files carry the value from when they were
    # added (None on pre-v3 history — their rows read NULL _row_id)
    snapshot_first_row = (
        int((prev or {}).get("next-row-id") or 0)
        if format_version == 3
        else None
    )
    row_id_cursor = snapshot_first_row

    for f in m["files"]:
        uri = (table.root / f).resolve().as_uri()
        fstat = stats.get(f, {})
        partition = {}
        for pf in spec_fields_final:
            v = _typed_partition_value(
                pf, ids_to_type, (parts_map.get(f) or {}).get(pf["name"])
            )
            # avro-JSON union branch name = the underlying avro type
            at = _partition_field_avro_type(pf, ids_to_type)
            branch = at["type"] if isinstance(at, dict) else at
            partition[pf["name"]] = None if v is None else {branch: v}
        lows, highs = [], []
        for c, mm in fstat.items():
            if c == "rows" or c.startswith("bloom:") or c not in ids:
                continue
            if not (isinstance(mm, (list, tuple)) and len(mm) == 2):
                continue
            lo, hi = _decode_range(mm)
            t = ids_to_type[ids[c]]
            blo, bhi = _bound_bytes(t, lo), _bound_bytes(t, hi)
            if blo is None or bhi is None:
                continue
            lows.append({"key": ids[c], "value": _json_bytes(blo)})
            highs.append({"key": ids[c], "value": _json_bytes(bhi)})
        p = table.root / f
        data_file = {
            "content": 0,
            "file_path": uri,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": int(fstat["rows"]),
            "file_size_in_bytes": p.stat().st_size if p.exists() else 0,
            "lower_bounds": {"array": lows} if lows else None,
            "upper_bounds": {"array": highs} if highs else None,
            # JsonDecoder applies no defaults: every union field must
            # be present explicitly (None for data files)
            "equality_ids": None,
        }
        carried = prev_entries.get(uri)
        if carried is not None:
            # EXISTING: explicit origin (snapshot, sequence) ids,
            # plus the v3 first_row_id its rows were assigned when
            # added (None when the history predates v3)
            if format_version == 3:
                fr = carried[2]
                data_file["first_row_id"] = (
                    {"long": fr} if fr is not None else None
                )
            entry = {
                "status": 0,
                "snapshot_id": {"long": carried[0]},
                "sequence_number": {"long": carried[1]},
                "file_sequence_number": {"long": carried[1]},
                "data_file": data_file,
            }
            min_seq = min(min_seq, carried[1])
            counts["existing"][0] += 1
            counts["existing"][1] += int(fstat["rows"])
        else:
            # ADDED: null ids inherit the manifest list's snapshot /
            # sequence number, per the v2 inheritance rules; the v3
            # first_row_id is written EXPLICITLY (the spec's assigned
            # value — equal to what null-inheritance would compute)
            if format_version == 3:
                data_file["first_row_id"] = {"long": row_id_cursor}
                row_id_cursor += int(fstat["rows"])
            entry = {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": data_file,
            }
            counts["added"][0] += 1
            counts["added"][1] += int(fstat["rows"])
        w.append_json(entry)
    w.close()

    # -- merge-on-read POSITION DELETES (Iceberg v2) --------------------------
    # TxnTable deletion vectors ARE position deletes — (file, row
    # position) pairs — so a vectored snapshot exports as a DELETE
    # MANIFEST + a position-delete parquet (reserved field ids
    # 2147483546/2147483545 stamped via pyarrow) instead of refusing.
    # Delete files are written under an UNPARTITIONED spec: they
    # target data files BY PATH and apply globally, the spec's
    # path-position-delete shape. Regenerated fresh per vectored
    # export (stateless; old delete files stay for old snapshots'
    # time travel). Applied at data seq ≤ delete seq — the v2
    # merge-on-read rule the reader enforces.
    delete_mf = None
    carried_delete_mfs: list[dict] = []
    if carry_deletes:
        carried_delete_mfs = prev_delete_mfs
    elif dvs_now:
        empty_spec = next((s for s in specs if not s["fields"]), None)
        if empty_spec is None:
            del_spec_id = max(s["spec-id"] for s in specs) + 1
            specs = specs + [{"spec-id": del_spec_id, "fields": []}]
        else:
            del_spec_id = empty_spec["spec-id"]
        dm_path = meta_dir / f"{uuid.uuid4().hex}-deletes-m0.avro"
        dw = _AvroFileWriter(
            jvm,
            _manifest_entry_schema([], v3_dv=(format_version == 3)),
            dm_path,
            {
                "schema": json.dumps({**schema, "schema-id": schema_id}),
                "schema-id": schema_id,
                "partition-spec": json.dumps([]),
                "partition-spec-id": del_spec_id,
                "format-version": str(format_version),
                "content": "deletes",
            },
        )
        if equality_delete_cols:
            # EQUALITY style (content=2): the deleted rows' key
            # values, validated position-equivalent or refused
            existing_rel = {
                f
                for f in m["files"]
                if (table.root / f).resolve().as_uri() in prev_entries
            }
            eq_pq, n_del = _write_equality_deletes(
                table, m, meta_dir, list(equality_delete_cols),
                ids, existing_rel,
            )
            eq_entry = {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": eq_pq.resolve().as_uri(),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n_del,
                    "file_size_in_bytes": eq_pq.stat().st_size,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": {
                        "array": [
                            ids[c] for c in equality_delete_cols
                        ]
                    },
                    **(
                        {
                            "referenced_data_file": None,
                            "content_offset": None,
                            "content_size_in_bytes": None,
                        }
                        if format_version == 3
                        else {}
                    ),
                },
            }
            dw.append_json(eq_entry)
            n_del_files = 1
        elif format_version == 3:
            # v3: ONE Puffin file, a deletion-vector-v1 blob per
            # referenced data file; manifest entries pin-point each
            # blob (referenced_data_file/content_offset/
            # content_size_in_bytes) so readers never touch the
            # footer. Both halves are the already-pinned .puffin
            # module (write_puffin_dv_file / read_puffin_dv).
            from interop_datalake_spark.lake.puffin import (
                write_puffin_dv_file,
            )

            per_file: dict[str, list[int]] = {}
            for uri_, pos_ in _dv_position_pairs(table, m):
                per_file.setdefault(uri_, []).append(pos_)
            pf_path = meta_dir / f"dv-{uuid.uuid4().hex}.puffin"
            blob_info = write_puffin_dv_file(
                pf_path, per_file,
                snapshot_id=snap_id, sequence_number=seq,
            )
            pf_uri = pf_path.resolve().as_uri()
            pf_size = pf_path.stat().st_size
            n_del = 0
            for ref, info in blob_info.items():
                n_del += info["cardinality"]
                dw.append_json(
                    {
                        "status": 1,
                        "snapshot_id": None,
                        "sequence_number": None,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 1,  # POSITION_DELETES (DV)
                            "file_path": pf_uri,
                            "file_format": "PUFFIN",
                            "partition": {},
                            "record_count": info["cardinality"],
                            "file_size_in_bytes": pf_size,
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": None,
                            "referenced_data_file": {"string": ref},
                            "content_offset": {
                                "long": info["offset"]
                            },
                            "content_size_in_bytes": {
                                "long": info["length"]
                            },
                        },
                    }
                )
            n_del_files = len(blob_info)
        else:
            delete_pq, n_del = _write_position_deletes(
                table, m, meta_dir
            )
            dw.append_json(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 1,  # POSITION_DELETES
                        "file_path": delete_pq.resolve().as_uri(),
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n_del,
                        "file_size_in_bytes": delete_pq.stat().st_size,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                    },
                }
            )
            n_del_files = 1
        dw.close()
        delete_mf = (dm_path, n_del, del_spec_id, n_del_files)

    # -- manifest list -------------------------------------------------------
    ml_path = meta_dir / f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
    parent = (prev or {}).get("current-snapshot-id")
    v3 = format_version == 3
    lw = _AvroFileWriter(
        jvm,
        _manifest_file_schema(v3_lineage=v3),
        ml_path,
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": parent if parent is not None else "null",
            "sequence-number": seq,
            "format-version": str(format_version),
        },
    )
    lw.append_json(
        {
            "manifest_path": manifest_path.resolve().as_uri(),
            "manifest_length": manifest_path.stat().st_size,
            "partition_spec_id": spec_id,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snap_id,
            "added_files_count": counts["added"][0],
            "existing_files_count": counts["existing"][0],
            "deleted_files_count": 0,
            "added_rows_count": counts["added"][1],
            "existing_rows_count": counts["existing"][1],
            "deleted_rows_count": 0,
            # v3 row lineage: rows in this manifest's ADDED files
            # start at the snapshot's first-row-id
            **(
                {"first_row_id": {"long": snapshot_first_row}}
                if v3
                else {}
            ),
        }
    )
    for cmf in carried_delete_mfs:
        # JsonDecoder applies no defaults: carried v2-era delete
        # manifests must state the v3-schema union fields explicitly
        lw.append_json(
            {**cmf, "first_row_id": None} if v3 else cmf
        )
    if delete_mf is not None:
        dm_path, n_del, del_spec_id, n_del_files = delete_mf
        lw.append_json(
            {
                "manifest_path": dm_path.resolve().as_uri(),
                "manifest_length": dm_path.stat().st_size,
                "partition_spec_id": del_spec_id,
                "content": 1,  # DELETES manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": n_del_files,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_del,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                # deletes add no rows: no lineage range
                **({"first_row_id": None} if v3 else {}),
            }
        )
    lw.close()

    # -- table metadata json -------------------------------------------------
    snapshot = {
        "snapshot-id": snap_id,
        **({"parent-snapshot-id": parent} if parent is not None else {}),
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        # v3 row lineage: the first _row_id assigned by this snapshot
        **({"first-row-id": snapshot_first_row} if v3 else {}),
        "manifest-list": ml_path.resolve().as_uri(),
        # the spec's standard summary metrics (string-valued, like
        # every Iceberg summary entry) — engines surface them in the
        # snapshots metadata table, and iceberg_history projects them
        "summary": {
            "operation": snapshot_op,
            "added-data-files": str(counts["added"][0]),
            "added-records": str(counts["added"][1]),
            "total-data-files": str(
                counts["added"][0] + counts["existing"][0]
            ),
            "total-records": str(
                counts["added"][1] + counts["existing"][1]
            ),
        },
        "schema-id": schema_id,
    }
    meta = {
        "format-version": format_version,
        "table-uuid": table_uuid,
        "location": table.root.resolve().as_uri(),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        # v3 row lineage: the next _row_id to assign — advanced by
        # exactly this snapshot's added rows
        **(
            {"next-row-id": snapshot_first_row + counts["added"][1]}
            if v3
            else {}
        ),
        "last-column-id": last_col_id,
        "current-schema-id": schema_id,
        "schemas": schemas,
        "default-spec-id": spec_id,
        "partition-specs": specs,
        "last-partition-id": max(
            (f["field-id"] for s in specs for f in s["fields"]),
            default=999,
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": json.dumps(
                _name_mapping(schema)
            ),
            **(
                {"txn.dv-fingerprint": dv_fp}
                if dv_fp is not None
                else {}
            ),
            **(
                {"txn.expired-snapshot-ids": json.dumps(expired_ids)}
                if expired_ids
                else {}
            ),
        },
        "current-snapshot-id": snap_id,
        # refs (branches/tags) carry forward; a "main" BRANCH tracks
        # the current snapshot like Iceberg's own commit path (tags
        # stay pinned to their snapshot)
        **(
            {
                "refs": {
                    name: (
                        {**r, "snapshot-id": snap_id}
                        if name == "main" and r.get("type") == "branch"
                        else r
                    )
                    for name, r in (prev or {}).get("refs", {}).items()
                }
            }
            if (prev or {}).get("refs")
            else {}
        ),
        "snapshots": prev_snaps + [snapshot],
        "snapshot-log": ((prev or {}).get("snapshot-log") or [])
        + [{"timestamp-ms": now_ms, "snapshot-id": snap_id}],
        "metadata-log": ((prev or {}).get("metadata-log") or [])
        + (
            [
                {
                    "timestamp-ms": now_ms,
                    "metadata-file": (
                        meta_dir / f"v{prev_hint}.metadata.json"
                    )
                    .resolve()
                    .as_uri(),
                }
            ]
            if prev is not None
            else []
        ),
    }
    _publish_metadata(meta_dir, meta, prev_hint)
    return meta_dir


# -- reader -----------------------------------------------------------------


def _load_metadata(path: str) -> dict:
    meta_dir = Path(path) / "metadata"
    hint = meta_dir / "version-hint.text"
    if hint.exists():
        n = int(hint.read_text().strip())
        return json.loads((meta_dir / f"v{n}.metadata.json").read_text())
    cands = sorted(
        meta_dir.glob("v*.metadata.json"),
        key=lambda p: int(p.stem.split(".")[0][1:]),
    )
    if not cands:
        raise FileNotFoundError(
            f"no Iceberg table metadata under {meta_dir}"
        )
    return json.loads(cands[-1].read_text())


def _snapshot_history(meta: dict) -> list[tuple[int, int]]:
    """``[(monotonized_ts_ms, snapshot_id), …]`` ascending — the
    metadata's ``snapshot-log`` (the spec's authoritative
    (timestamp-ms, snapshot-id) history), falling back to the
    snapshots' own ``timestamp-ms`` when a writer kept no log
    (format-version 1 snapshots carry no sequence-number, so the
    fallback orders by (sequence-number or 0, timestamp-ms) instead
    of raising KeyError). Timestamps are monotonized ascending
    (delta_version_at's rule): an out-of-order stamp must not make a
    later snapshot resolve earlier. Shared by
    :func:`iceberg_snapshot_at` and the changelog's timestamp bounds
    so the two can never drift."""
    entries = [
        (int(e["timestamp-ms"]), int(e["snapshot-id"]))
        for e in (meta.get("snapshot-log") or [])
    ] or [
        (int(s.get("timestamp-ms") or 0), int(s["snapshot-id"]))
        for s in sorted(
            meta.get("snapshots") or [],
            key=lambda s: (
                int(s.get("sequence-number", 0)),
                int(s.get("timestamp-ms") or 0),
            ),
        )
    ]
    if not entries:
        raise ValueError("table has no snapshot history")
    mono, prev = [], None
    for ts, sid in entries:
        if prev is not None and ts < prev:
            ts = prev
        prev = ts
        mono.append((ts, sid))
    return mono


def iceberg_snapshot_at(meta_or_path, timestamp) -> int:
    """Iceberg timestamp travel (``FOR SYSTEM_TIME AS OF``): the
    snapshot CURRENT at the instant — resolved from the metadata's
    ``snapshot-log`` (the spec's authoritative (timestamp-ms,
    snapshot-id) history; falls back to the snapshots' own
    ``timestamp-ms`` when a writer kept no log). Accepts a loaded
    metadata dict or a table path; timestamp as datetime / ISO
    string / epoch millis. Refuses an instant before the earliest
    retained entry or after the latest (same loud-ends contract as
    the Delta twin, delta_interop.delta_version_at)."""
    from interop_datalake_spark.lake.delta_interop import _to_epoch_ms

    meta = (
        meta_or_path
        if isinstance(meta_or_path, dict)
        else _load_metadata(str(meta_or_path))
    )
    want = _to_epoch_ms(timestamp)
    entries = _snapshot_history(meta)
    out = None
    for ts, sid in entries:
        if ts <= want:
            out = sid
    if out is None:
        raise ValueError(
            f"timestamp {timestamp!r} is before the earliest retained "
            f"snapshot ({entries[0][0]} ms)"
        )
    if want > entries[-1][0]:
        raise ValueError(
            f"timestamp {timestamp!r} is after the latest "
            f"snapshot ({entries[-1][0]} ms); read without time "
            f"travel for the current state"
        )
    return out


def _resolve_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    target = (
        meta.get("current-snapshot-id")
        if snapshot_id is None
        else snapshot_id
    )
    snap = next(
        (s for s in snaps if s["snapshot-id"] == target), None
    )
    if snap is None:
        raise ValueError(
            f"Iceberg snapshot {target} not present "
            f"(available: {[s['snapshot-id'] for s in snaps]})"
        )
    return snap


def _snapshot_entries_all(spark: SparkSession, meta: dict, snap: dict):
    """(data entries, delete entries) of one snapshot in ONE manifest-
    list replay — each a list of (entry, data_file record, spec
    fields, manifest-file record) tuples. The manifest-file record
    rides along because v2 null-id inheritance resolves against ITS
    added_snapshot_id / sequence_number, not the scanned snapshot's
    (round-9 review: a real Iceberg writer carries older manifests
    forward in later manifest lists)."""
    jvm = _jvm(spark)
    ml = Path(_uri_to_path(snap["manifest-list"]))
    lists, _ = _read_avro(jvm, ml)
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    data, deletes = [], []
    for mf in lists:
        mp = Path(_uri_to_path(str(mf.get("manifest_path"))))
        entries, _ = _read_avro(jvm, mp)
        spec_fields = specs.get(mf.get("partition_spec_id"), [])
        sink = deletes if (mf.get("content") or 0) == 1 else data
        for e in entries:
            if e.get("status") == 2:  # DELETED
                continue
            sink.append((e, e.get("data_file"), spec_fields, mf))
    return data, deletes


def _snapshot_entries(
    spark: SparkSession, meta: dict, snap: dict, content: int = 0
):
    data, deletes = _snapshot_entries_all(spark, meta, snap)
    return deletes if content == 1 else data


def _entry_seq(e, mf) -> int:
    """A manifest entry's effective sequence number under v2 null
    inheritance: explicit value, else the manifest-list entry's, else
    0 — the spec's sequence number for v1 tables and v1-upgraded
    files (round-9 review 2: int(None) crashed on foreign v1 Hadoop
    tables whose manifest lists have no sequence_number field)."""
    sq = e.get("sequence_number")
    if sq is not None:
        return int(sq)
    msq = mf.get("sequence_number")
    return int(msq) if msq is not None else 0


def _py_int_list(arr) -> list[int] | None:
    """py4j Avro generic array of ints → Python list (None passes)."""
    if arr is None:
        return None
    try:
        return [int(arr.get(i)) for i in range(arr.size())]
    except AttributeError:
        return [int(x) for x in arr]


def _raw_ptn_key(dfr, spec_fields, mf) -> str:
    """Partition identity of one manifest entry for delete scoping:
    spec id + the RAW stored partition tuple (all transforms, not just
    identity — eq-delete scoping compares layout tuples, not column
    values). Iceberg's rule: a partitioned-spec equality delete
    applies only to data files of the same partition under the same
    spec."""
    part = dfr.get("partition")
    vals = {
        pf["name"]: (
            None
            if part is None or part.get(pf["name"]) is None
            else str(part.get(pf["name"]))
        )
        for pf in spec_fields
    }
    return json.dumps(
        {"spec": mf.get("partition_spec_id"), "vals": vals},
        sort_keys=True,
    )


def _split_delete_files(delete_entries):
    """Pre-fetched delete-manifest entries → (position deletes,
    equality deletes, deletion vectors). Position: (URI, effective
    seq). Equality: (URI, effective seq, equality field ids,
    partition key or None for global) — a ``content=2`` file written
    under an unpartitioned spec applies globally; under a partitioned
    spec only to data files of the same partition tuple
    (``_raw_ptn_key``). Deletion vectors (Iceberg v3: ``content=1``
    entries whose ``file_format`` is PUFFIN / that carry
    ``referenced_data_file``): (puffin URI, effective seq, referenced
    data file URI, content_offset, content_size_in_bytes) — decoded
    via :mod:`.puffin`; an entry missing its blob coordinates
    refuses (the spec requires them for DVs)."""
    def _opt(dfr, name):
        """Optional data_file field: a py4j GenericData.Record (the
        JVM avro reader) THROWS on unknown field names — unlike the
        pure-Python reader's plain dicts — and v2 manifests simply
        don't have the v3 columns."""
        try:
            return dfr.get(name)
        except Exception:
            return None

    pos, eq, dvs = [], [], []
    for e, dfr, spec_fields, mf in delete_entries:
        seq = _entry_seq(e, mf)
        uri = str(dfr.get("file_path"))
        fmt = str(_opt(dfr, "file_format") or "").upper()
        if dfr.get("content") == 2:
            fids = _py_int_list(_opt(dfr, "equality_ids"))
            if not fids:
                raise ValueError(
                    f"equality-delete file {uri} carries no "
                    f"equality_ids — the spec requires them and no "
                    f"safe default exists"
                )
            ptn = _raw_ptn_key(dfr, spec_fields, mf) if spec_fields else None
            eq.append((uri, seq, fids, ptn))
        elif fmt == "PUFFIN":
            ref = _opt(dfr, "referenced_data_file")
            off = _opt(dfr, "content_offset")
            size = _opt(dfr, "content_size_in_bytes")
            if not ref or off is None or size is None:
                raise ValueError(
                    f"deletion-vector entry {uri} is missing "
                    f"referenced_data_file/content_offset/"
                    f"content_size_in_bytes — required by the v3 spec"
                )
            dvs.append((uri, seq, str(ref), int(off), int(size)))
        else:
            # a PARQUET position-delete file MAY also carry
            # referenced_data_file (the spec's single-file hint) —
            # it is still a parquet delete, not a DV (routing it to
            # the DV branch refused a valid v2 shape on the missing
            # blob coordinates); the (file_path, pos) content is
            # authoritative either way
            pos.append((uri, seq))
    return pos, eq, dvs


def _entry_partition_values(jvm, dfr, spec_fields, ids_to_type) -> dict:
    """Identity partition values of one manifest entry, as typed
    Python values ready for injection (``jvm`` is unused — kept for
    signature stability; the record works as a py4j GenericRecord OR
    a plain dict from the pure-Python Avro reader). The ONE projection
    site the batch reader, CDC mode, and streaming source share.

    Typed per the Iceberg spec's partition storage: date ordinals →
    date, timestamptz/timestamp micros → datetime (round-10 review:
    injecting raw micros through a cast-to-timestamp treats them as
    SECONDS — silently wrong values for foreign timestamp-identity
    partitions), int/long/string/boolean pass through; anything else
    (decimal/uuid/fixed) refuses loudly rather than injecting a value
    that cannot round-trip faithfully."""
    part = dfr.get("partition")
    vals = {}
    for pf in spec_fields:
        if pf.get("transform") != "identity":
            # non-identity transform values are derived layout, never
            # injected: the SOURCE column is a regular data column in
            # the files (the spec's Column Projection rule applies
            # only to identity transforms). partition_filter on a
            # transform field therefore conservatively keeps files.
            continue
        v = part.get(pf["name"]) if part is not None else None
        t = ids_to_type.get(pf["source-id"])
        if v is not None and t == "date":
            from datetime import timedelta

            v = _EPOCH_DATE + timedelta(days=int(v))
        elif v is not None and t in ("timestamptz", "timestamp"):
            v = datetime.fromtimestamp(
                int(v) / 1_000_000, tz=timezone.utc
            )
            if t == "timestamp":
                v = v.replace(tzinfo=None)
        elif v is not None and t == "string":
            v = str(v)
        elif v is not None and not isinstance(
            t, dict
        ) and t not in ("int", "long", "boolean", "float", "double"):
            raise ValueError(
                f"identity partition {pf['name']!r} over Iceberg type "
                f"{t!r} cannot be injected faithfully by this reader"
            )
        vals[pf["name"]] = v
    return vals


def _schema_of(meta: dict, snap: dict) -> dict:
    return next(
        s
        for s in meta["schemas"]
        if s["schema-id"]
        == snap.get("schema-id", meta["current-schema-id"])
    )


def _pruned_entries(
    spark: SparkSession,
    meta: dict,
    snap: dict,
    key_range: tuple | None,
    partition_filter: dict | None,
    entries=None,
) -> list[tuple]:
    """The snapshot's live manifest entries surviving the predicates,
    as (data_file record, partition values, effective sequence
    number) triples. The SINGLE metadata
    replay both :func:`iceberg_files` and :func:`read_iceberg` share —
    each manifest Avro is read once per call, not once per caller
    (round-9 review: the per-record py4j loop is the O(files)
    driver-side cost the module docstring flags; doubling it doubled
    every read)."""
    jvm = _jvm(spark)
    schema = _schema_of(meta, snap)
    ids_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    if entries is None:
        entries = _snapshot_entries(spark, meta, snap)
    out = []
    for e, dfr, spec_fields, mf in entries:
        pvals = _entry_partition_values(
            jvm, dfr, spec_fields, ids_to_type
        )
        keep = True
        if partition_filter:
            for c, want in partition_filter.items():
                wants = (
                    {str(w) for w in want}
                    if isinstance(want, (list, tuple, set))
                    else {str(want)}
                )
                if c in pvals and str(pvals[c]) not in wants:
                    keep = False
        if keep and key_range is not None:
            col, lo, hi = key_range
            fid = name_to_id.get(col)
            t = ids_to_type.get(fid)
            lbs, ubs = dfr.get("lower_bounds"), dfr.get("upper_bounds")

            def _bound(arr):
                if arr is None:
                    return None
                for i in range(arr.size()):
                    kv = arr.get(i)
                    if kv.get("key") == fid:
                        return _bound_decode(
                            t, _py_bytes(jvm, kv.get("value"))
                        )
                return None

            blo, bhi = _bound(lbs), _bound(ubs)
            if blo is not None and bhi is not None:
                if not (blo <= hi and lo <= bhi):
                    keep = False
            if keep and lo == hi:
                # bucket-transform pruning for POINT lookups: hash
                # the literal with the spec's murmur3 (planner-side
                # pure Python, zero jobs — lake/mmh3.py, pinned to
                # the same Appendix-B vectors as the write path) and
                # drop entries whose recorded bucket ordinal differs.
                # This is what makes point reads over FOREIGN
                # bucket-partitioned tables plan ~one bucket's files
                # even when the writer recorded no column stats.
                from interop_datalake_spark.lake.mmh3 import (
                    iceberg_bucket_of,
                )

                part = dfr.get("partition")
                for pf in spec_fields:
                    tr = str(pf.get("transform") or "")
                    if (
                        pf.get("source-id") != fid
                        or not tr.startswith("bucket[")
                        or part is None
                    ):
                        continue
                    want = iceberg_bucket_of(lo, t, int(tr[7:-1]))
                    got_b = part.get(pf["name"])
                    if (
                        want is not None
                        and got_b is not None
                        and int(got_b) != want
                    ):
                        keep = False
        if keep:
            out.append((dfr, pvals, _entry_seq(e, mf)))
    return out


def iceberg_files(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    key_range: tuple | None = None,
    partition_filter: dict | None = None,
) -> list[str]:
    """The data-file URIs a :func:`read_iceberg` with these predicates
    opens — Iceberg's manifest-level pruning made observable (the
    ``resolve_files`` analog): ``partition_filter`` matches identity
    partition tuples; ``key_range=(col, lo, hi)`` skips files whose
    decoded lower/upper bounds don't intersect (bound-less files are
    conservatively kept)."""
    meta = _load_metadata(path)
    snap = _resolve_snapshot(meta, snapshot_id)
    return [
        str(dfr.get("file_path"))
        for dfr, _pv, _sq in _pruned_entries(
            spark, meta, snap, key_range, partition_filter
        )
    ]


def _dv_positions_frame(spark: SparkSession, dv_entries: list):
    """Decode a snapshot's v3 deletion vectors into ONE
    (_ib_file, _ib_pos, _dseq) frame for the MOR anti-join —
    Arrow-batched localization like delta_interop's twin. Enforces
    the spec's at-most-one-DV-per-data-file rule. Driver-side decode
    (DV blobs are per-file cumulative — bounded by a single file's
    row count each); a table whose DV total outgrows the driver can
    route descriptor rows through the same mapInPandas shape
    delta_interop._dv_positions_df_distributed uses."""
    import numpy as np
    import pandas as pd

    from interop_datalake_spark.lake.puffin import read_puffin_dv

    by_ref: dict[str, tuple] = {}
    for uri, seq, ref, off, size in dv_entries:
        if ref in by_ref:
            raise ValueError(
                f"two deletion vectors reference data file {ref} in "
                f"one snapshot — the v3 spec allows at most one; "
                f"corrupt metadata"
            )
        by_ref[ref] = (uri, seq, off, size)
    files: list[str] = []
    chunks: list = []
    seqs: list[int] = []
    for ref, (uri, seq, off, size) in by_ref.items():
        idxs = read_puffin_dv(_uri_to_path(uri), off, size)
        p = _uri_to_path(ref)
        files += [p] * len(idxs)
        seqs += [int(seq)] * len(idxs)
        chunks.append(np.asarray(idxs, dtype=np.int64))
    pdf = pd.DataFrame(
        {
            "_ib_file": pd.Series(files, dtype="string"),
            "_ib_pos": (
                np.concatenate(chunks)
                if chunks
                else np.empty(0, dtype=np.int64)
            ),
            "_dseq": pd.Series(seqs, dtype="int64"),
        }
    )
    return spark.createDataFrame(pdf)


def resolve_iceberg_ref(meta_or_path, name: str) -> int:
    """The snapshot id a named ref (branch or tag, the metadata's
    ``refs`` map — Iceberg's ``VERSION AS OF 'name'`` /
    ``branch_*``/``tag_*`` addressing) points at. Unknown names
    refuse with the available refs listed."""
    meta = (
        meta_or_path
        if isinstance(meta_or_path, dict)
        else _load_metadata(str(meta_or_path))
    )
    refs = meta.get("refs") or {}
    if name not in refs:
        raise ValueError(
            f"ref {name!r} not found (available: {sorted(refs)})"
        )
    return int(refs[name]["snapshot-id"])


def iceberg_history(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot history AS A DATAFRAME — the ``snapshots`` metadata
    table / DESCRIBE HISTORY analog, newest first: one row per
    RETAINED snapshot with its sequence number, parent, operation and
    the summary's record counts, plus the MONOTONIZED snapshot-log
    timestamp time travel resolves by (:func:`iceberg_snapshot_at`'s
    exact values — the surfaced history and the travel resolution can
    never disagree) and ``is_current``. Driver work is O(retained
    snapshots) over the already-loaded metadata json — no manifest
    or data file opens. The Delta twin is
    :func:`~interop_datalake_spark.lake.delta_interop.delta_history`;
    branches/tags surface via :func:`iceberg_refs`."""
    meta = _load_metadata(str(path))
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise ValueError(f"table at {path} has no snapshots")
    mono = {sid: ts for ts, sid in _snapshot_history(meta)}
    current = meta.get("current-snapshot-id")
    rows = []
    for s in sorted(
        snaps, key=lambda s: int(s.get("sequence-number") or 0),
        reverse=True,
    ):
        sid = int(s["snapshot-id"])
        summary = s.get("summary") or {}

        def _n(key):
            v = summary.get(key)
            return int(v) if v is not None else None

        ts_ms = mono.get(sid, int(s.get("timestamp-ms") or 0))
        parent = s.get("parent-snapshot-id")
        rows.append(
            (
                sid,
                int(s.get("sequence-number") or 0),
                datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc),
                int(parent) if parent is not None else None,
                summary.get("operation"),
                _n("added-records"),
                _n("deleted-records"),
                _n("total-records"),
                sid == current,
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id BIGINT, sequence_number BIGINT, "
        "timestamp TIMESTAMP, parent_snapshot_id BIGINT, "
        "operation STRING, added_records BIGINT, "
        "deleted_records BIGINT, total_records BIGINT, "
        "is_current BOOLEAN",
    )


def iceberg_refs(spark: SparkSession, path: str) -> DataFrame:
    """The metadata's ``refs`` map (branches and tags) as a DataFrame
    — the ``refs`` metadata table analog: name, type, target snapshot
    and that snapshot's sequence number (NULL for a ref left dangling
    by snapshot expiry), plus the retention fields when set. Refs are
    opt-in on this exporter (:func:`iceberg_set_ref` creates them; a
    ``main`` branch then follows each export); no-refs tables return
    an empty frame with the stable schema rather than raising (a v2
    table without refs is valid)."""
    meta = _load_metadata(str(path))
    seq_of = {
        int(s["snapshot-id"]): int(s.get("sequence-number") or 0)
        for s in meta.get("snapshots") or []
    }
    rows = []
    for name, r in sorted((meta.get("refs") or {}).items()):
        sid = int(r["snapshot-id"])

        def _i(key):
            v = r.get(key)
            return int(v) if v is not None else None

        rows.append(
            (
                name,
                r.get("type"),
                sid,
                seq_of.get(sid),
                _i("min-snapshots-to-keep"),
                _i("max-snapshot-age-ms"),
                _i("max-ref-age-ms"),
            )
        )
    return spark.createDataFrame(
        rows,
        "name STRING, type STRING, snapshot_id BIGINT, "
        "sequence_number BIGINT, min_snapshots_to_keep INT, "
        "max_snapshot_age_ms BIGINT, max_ref_age_ms BIGINT",
    )


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    key_range: tuple | None = None,
    partition_filter: dict | None = None,
    timestamp=None,
    ref: str | None = None,
    with_lineage: bool = False,
) -> DataFrame:
    """Read an Iceberg Hadoop table by replaying its metadata — no
    iceberg-spark runtime needed. Time travel via ``snapshot_id`` or
    ``timestamp`` (``FOR SYSTEM_TIME AS OF`` — datetime / ISO string /
    epoch millis, resolved through the snapshot-log by
    :func:`iceberg_snapshot_at`) or ``ref`` (a branch/tag name from
    the metadata's ``refs`` map — Iceberg's ``VERSION AS OF 'name'``);
    the three are mutually exclusive.
    Identity-partition values are injected as per-file constants
    (the spec's Column Projection rule), so hive-layout data files
    that omit the partition column read back complete. Pruning
    (``key_range`` / ``partition_filter``) drops FILES via
    :func:`iceberg_files`; the residual rows still carry every
    matching file's full contents — apply the exact filter on the
    returned frame, as with any manifest-level pruning.

    ``with_lineage=True`` projects the v3 ROW-LINEAGE metadata
    columns ``_row_id`` / ``_last_updated_sequence_number`` (spec
    reserved field ids 2147483540 / 2147483539): per the spec's
    assignment rule a row's id is its file's ``first_row_id`` + its
    position — UNLESS the file MATERIALIZES the column (what
    lineage-preserving rewrites write,
    :func:`compact_preserving_row_lineage`), in which case non-null
    stored values win and null cells fall back to the computed
    value. Files whose history predates v3 (null ``first_row_id``)
    read NULL lineage, exactly as the spec prescribes for upgraded
    tables."""
    meta = _load_metadata(path)
    if sum(x is not None for x in (snapshot_id, timestamp, ref)) > 1:
        raise ValueError(
            "pass one of snapshot_id, timestamp, ref — not both/all"
        )
    if ref is not None:
        snapshot_id = resolve_iceberg_ref(meta, ref)
    if timestamp is not None:
        snapshot_id = iceberg_snapshot_at(meta, timestamp)
    snap = _resolve_snapshot(meta, snapshot_id)
    schema = _schema_of(meta, snap)
    spark_fields = _spark_fields(schema)
    if with_lineage:
        clash = {n for n, _ in spark_fields} & {
            "_row_id", "_last_updated_sequence_number",
        }
        if clash:
            raise ValueError(
                f"table columns {sorted(clash)} collide with the v3 "
                f"row-lineage metadata columns — rename upstream"
            )
        # the two lineage fields join the READ schema so files that
        # MATERIALIZE them (lineage-preserving rewrites) surface the
        # stored values; plain files null-fill (schema-on-read) and
        # take the computed fallback below
        spark_fields = spark_fields + [
            ("_row_id", "BIGINT"),
            ("_last_updated_sequence_number", "BIGINT"),
        ]
    # ONE manifest-list replay covers data AND delete manifests
    data_e, del_e = _snapshot_entries_all(spark, meta, snap)
    pos_deletes, eq_deletes, dv_entries = _split_delete_files(del_e)
    entries = _pruned_entries(
        spark, meta, snap, key_range, partition_filter, entries=data_e
    )
    items = [
        (_uri_to_path(str(dfr.get("file_path"))), pvals)
        for dfr, pvals, _sq in entries
    ]
    need_lineage = (
        bool(pos_deletes or eq_deletes or dv_entries) or with_lineage
    )
    out = _grouped_read(spark, spark_fields, items, lineage=need_lineage)
    if out is None:
        return _empty_frame(spark, spark_fields)
    if need_lineage:
        # per-file seq (+ partition identity when equality deletes
        # need scoping) as a broadcast map — bounded by file count
        ptn_by_path: dict[str, str] = {}
        if eq_deletes:
            for _e, dfr, spec_fields, mf in data_e:
                p = _uri_to_path(str(dfr.get("file_path")))
                ptn_by_path[p] = _raw_ptn_key(dfr, spec_fields, mf)
        seq_rows = [
            (
                _uri_to_path(str(dfr.get("file_path"))),
                sq,
                ptn_by_path.get(
                    _uri_to_path(str(dfr.get("file_path")))
                ),
            )
            for dfr, _pv, sq in entries
        ]
        dmap = spark.createDataFrame(
            seq_rows, "_ib_file STRING, _dataseq BIGINT, _ib_ptn STRING"
        )
    if pos_deletes:
        # merge-on-read application (v2): a position delete removes
        # (path, pos) from data files whose sequence number ≤ the
        # delete file's. The seq map is bounded by file count; the
        # delete rows are metadata-sized — AQE picks the join shape.
        dels = None
        for duri, dseq in pos_deletes:
            d = spark.read.schema(
                "file_path STRING, pos BIGINT"
            ).parquet(_checked_pos_delete_path(duri)).select(
                _canon_path_expr(F.col("file_path")).alias("_ib_file"),
                F.col("pos").alias("_ib_pos"),
                F.lit(dseq).cast("bigint").alias("_dseq"),
            )
            dels = d if dels is None else dels.unionByName(d)
        applicable = (
            dels.join(F.broadcast(dmap), "_ib_file")
            .filter(F.col("_dseq") >= F.col("_dataseq"))
            .select("_ib_file", "_ib_pos")
        )
        out = out.join(applicable, ["_ib_file", "_ib_pos"], "left_anti")
    if dv_entries:
        # Iceberg v3 deletion vectors (Puffin blobs): same MOR
        # position anti-join, positions decoded from the blob each
        # manifest entry pin-points (content_offset/size). The spec
        # allows at most ONE DV per data file per snapshot — two is
        # corrupt metadata, refused (applying both would silently
        # under- or over-delete depending on writer intent).
        dvdf = _dv_positions_frame(spark, dv_entries)
        applicable = (
            dvdf.join(F.broadcast(dmap), "_ib_file")
            .filter(F.col("_dseq") >= F.col("_dataseq"))
            .select("_ib_file", "_ib_pos")
        )
        out = out.join(applicable, ["_ib_file", "_ib_pos"], "left_anti")
    if eq_deletes:
        out = _apply_equality_deletes(
            spark, out, dmap, eq_deletes, schema
        )
    if with_lineage:
        # per-file (first_row_id, data seq) as a broadcast map —
        # bounded by file count, the dmap pattern above. Null
        # inheritance resolves HERE for foreign writers that wrote
        # null first_row_id on added entries (this exporter writes
        # explicit values).
        first_of = _lineage_first_rows(data_e)
        lrows = [
            (
                _uri_to_path(str(dfr.get("file_path"))),
                first_of.get(str(dfr.get("file_path"))),
                sq,
            )
            for dfr, _pv, sq in entries
        ]
        lmap = spark.createDataFrame(
            lrows, "_ib_file STRING, _ib_first BIGINT, _ib_lseq BIGINT"
        )
        out = (
            out.join(F.broadcast(lmap), "_ib_file", "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"),
                    F.col("_ib_first") + F.col("_ib_pos"),
                ),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(
                    F.col("_last_updated_sequence_number"),
                    F.col("_ib_lseq"),
                ),
            )
            .drop("_ib_first", "_ib_lseq")
        )
    if need_lineage:
        out = out.drop("_ib_file", "_ib_pos")
    return out


def compact_preserving_row_lineage(
    table: TxnTable, target_files: int = 1
) -> int:
    """Rewrite the table's snapshot into ``target_files`` files while
    PRESERVING v3 row lineage — the spec's mandate for rewrites: rows
    moved to a new data file must carry their ``_row_id`` /
    ``_last_updated_sequence_number`` values, which this writer
    MATERIALIZES as physical parquet columns stamped with the spec's
    reserved field ids (2147483540 / 2147483539). The columns stay
    OUT of the TxnTable log schema, so every schema-on-read consumer
    (TxnTable reads, the Delta mirror, plain ``read_iceberg``) never
    sees them; ``read_iceberg(with_lineage=True)`` prefers the stored
    values over position arithmetic, making lineage stable across
    append → compact → read.

    Mechanics: the CURRENT v3 export assigns each live file's
    ``first_row_id``; one distributed scan with row lineage
    (``_load_files(keep_lineage=True)`` — deletion vectors already
    anti-joined) broadcast-joins the per-file (first_row_id, data
    sequence) map and computes each surviving row's id as
    ``first_row_id + position``; the rewrite commits through the
    ordinary ``compact`` commit path (op="compact" — the Delta mirror
    labels it OPTIMIZE/dataChange=false, the Iceberg export an
    overwrite snapshot). Export the table again afterwards to publish
    the compacted snapshot.

    Refuses when the current export is not format-version 3, when it
    does not cover the table's CURRENT version (stale lineage would
    mis-id rows committed since), or when the table's columns collide
    with the reserved names."""
    meta = _load_metadata(str(table.root))
    if int(meta.get("format-version") or 1) != 3:
        raise ValueError(
            f"table {table.name}: the current Iceberg export is not "
            f"format-version 3 — row lineage exists only in v3; "
            f"export with format_version=3 first"
        )
    cur = table.current_version()
    if int(meta.get("current-snapshot-id")) != cur:
        raise ValueError(
            f"table {table.name}: the Iceberg export covers snapshot "
            f"{meta.get('current-snapshot-id')} but the table is at "
            f"version {cur} — re-export before a lineage-preserving "
            f"compact (stale lineage would mis-id newer rows)"
        )
    snap = _resolve_snapshot(meta, None)
    data_e, _del_e = _snapshot_entries_all(table.spark, meta, snap)
    first_of = _lineage_first_rows(data_e)
    seq_of_uri: dict[str, int] = {}
    for e, dfr, _sf, mf in data_e:
        sq = e.get("sequence_number")
        seq_of_uri[str(dfr.get("file_path"))] = (
            int(sq)
            if sq is not None
            else int(mf.get("sequence_number"))
        )
    state = table._state(cur)
    if not state.get("files"):
        raise ValueError(f"table {table.name}: nothing to compact")
    clash = {"_row_id", "_last_updated_sequence_number"} & {
        f.name
        for f in StructType.fromJson(json.loads(state["schema"])).fields
    }
    if clash:
        raise ValueError(
            f"table columns {sorted(clash)} collide with the v3 "
            f"row-lineage metadata columns — rename upstream"
        )
    lrows = []
    for rel in state["files"]:
        uri = (table.root / rel).resolve().as_uri()
        lrows.append((rel, first_of.get(uri), seq_of_uri.get(uri)))
    lmap = table.spark.createDataFrame(
        lrows, "_dv_file STRING, _lin_first BIGINT, _lin_seq BIGINT"
    )
    live = table._load_files(state["files"], state, keep_lineage=True)
    logical = [
        c for c in live.columns if c not in ("_dv_file", "_dv_row")
    ]
    df = (
        live.join(F.broadcast(lmap), "_dv_file", "left")
        .select(
            *logical,
            (F.col("_lin_first") + F.col("_dv_row"))
            .cast("bigint")
            .alias("_row_id"),
            F.col("_lin_seq").cast("bigint").alias(
                "_last_updated_sequence_number"
            ),
        )
        # the spec's reserved field ids ride in the parquet footers
        # (Spark writes them from this metadata key), so field-id
        # resolving engines find the lineage columns too
        .withMetadata("_row_id", {"parquet.field.id": 2147483540})
        .withMetadata(
            "_last_updated_sequence_number",
            {"parquet.field.id": 2147483539},
        )
        .coalesce(target_files)
    )
    files, rows, stats, parts, ptypes = table._write_data(df)
    return table._commit(
        cur,
        op="compact",
        added=files,
        removed=list(state["files"]),
        rows_total=rows,
        stats=stats,
        partitions=parts,
        partition_types=ptypes,
    )


def _lineage_first_rows(data_e) -> dict[str, int | None]:
    """Each data file's effective v3 ``first_row_id`` (URI-keyed):
    the entry's explicit value when written, else the spec's
    inheritance — the manifest's ``first_row_id`` plus the record
    counts of preceding ADDED files in that manifest; None when the
    history predates v3 (rows read NULL lineage)."""
    out: dict[str, int | None] = {}
    run_by_mf: dict[str, int | None] = {}
    for e, dfr, _spec_fields, mf in data_e:
        mfp = str(mf.get("manifest_path"))
        if mfp not in run_by_mf:
            mf_first = _rec_get_opt(mf, "first_row_id")
            run_by_mf[mfp] = (
                int(mf_first) if mf_first is not None else None
            )
        fr = _rec_get_opt(dfr, "first_row_id")
        added = e.get("status") == 1
        if fr is not None:
            fr = int(fr)
        elif added and run_by_mf[mfp] is not None:
            fr = run_by_mf[mfp]
        if added and run_by_mf[mfp] is not None:
            run_by_mf[mfp] += int(dfr.get("record_count"))
        out[str(dfr.get("file_path"))] = fr
    return out


def _apply_equality_deletes(
    spark: SparkSession, out: DataFrame, dmap: DataFrame, eq_deletes,
    schema: dict, how: str = "left_anti",
) -> DataFrame:
    """v2 equality-delete application (round-9 verdict item 4 — the
    common foreign producer is Flink CDC): a ``content=2`` file's rows
    are match predicates over its ``equality_ids`` columns; a data row
    is removed when some delete row null-safely equals it on those
    columns AND the delete's sequence number is STRICTLY greater than
    the data file's (the spec's rule — strict, unlike position
    deletes' ≥, so an upsert's own insert survives its delete half)
    AND the delete's partition scope covers the data file (global for
    unpartitioned-spec deletes, same spec+tuple otherwise).

    Shape at scale: delete files group by their equality-id set; each
    group is ONE left-anti join whose keys are the null-safe equality
    columns (hashable — no nested-loop degeneration), with the
    seq/partition guards as join-side filters. Data rows carry their
    file's seq + partition identity from the broadcast ``dmap``.

    ``how='left_semi'`` returns the rows the deletes WOULD remove
    (the CDC dual — :func:`read_iceberg_changes` emits them as
    delete events)."""
    reserved = {"_dataseq", "_ib_ptn", "_dseq", "_dptn"}
    clash = reserved & set(out.columns)
    if clash:
        raise ValueError(
            f"table columns {sorted(clash)} collide with the "
            f"equality-delete working columns — rename upstream "
            f"(the _grouped_read lineage guard's sibling)"
        )
    fid_to_field = {f["id"]: f for f in schema["fields"]}
    groups: dict[tuple, list] = {}
    for uri, seq, fids, ptn in eq_deletes:
        groups.setdefault(tuple(sorted(fids)), []).append(
            (uri, seq, ptn)
        )
    out = out.join(F.broadcast(dmap), "_ib_file")
    semi_frames = []
    for fids, files in groups.items():
        cols, types = [], []
        for fid in fids:
            f = fid_to_field.get(fid)
            if f is None or isinstance(f["type"], dict):
                raise ValueError(
                    f"equality-delete field id {fid} does not name a "
                    f"top-level primitive column of the snapshot "
                    f"schema — nested equality deletes are not "
                    f"supported by this reader"
                )
            cols.append(f["name"])
            types.append(_spark_type_of(f["type"]))
        dels = None
        for duri, dseq, ptn in files:
            d = spark.read.parquet(_uri_to_path(duri)).select(
                *[
                    F.col(c).cast(t).alias(c)
                    for c, t in zip(cols, types)
                ],
                F.lit(dseq).cast("bigint").alias("_dseq"),
                F.lit(ptn).cast("string").alias("_dptn"),
            )
            dels = d if dels is None else dels.unionByName(d)
        left, right = out.alias("_ql"), dels.alias("_qr")
        cond = F.col("_qr._dseq") > F.col("_ql._dataseq")
        cond = cond & (
            F.col("_qr._dptn").isNull()
            | (F.col("_qr._dptn") == F.col("_ql._ib_ptn"))
        )
        for c in cols:
            cond = cond & F.col(f"_ql.{c}").eqNullSafe(
                F.col(f"_qr.{c}")
            )
        if how == "left_anti":
            out = left.join(right, cond, "left_anti")  # chain groups
        else:
            # semi accumulates per group (chaining would intersect);
            # the union dedups on row lineage — a row matched by two
            # id-sets is still ONE delete event
            semi_frames.append(left.join(right, cond, "left_semi"))
    if how == "left_semi":
        out = semi_frames[0]
        for fr in semi_frames[1:]:
            out = out.unionByName(fr)
        if len(semi_frames) > 1:
            out = out.dropDuplicates(["_ib_file", "_ib_pos"])
    return out.drop("_dataseq", "_ib_ptn")


def _spark_type_of(t) -> str:
    """One Iceberg schema-JSON type → Spark DDL type string,
    recursing through struct/list/map (round-10: nested types
    round-trip; required flags drop — Spark DDL fields are nullable
    and TxnTable schemas are too)."""
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "struct":
            inner = ", ".join(
                f"`{f['name']}`: {_spark_type_of(f['type'])}"
                for f in t["fields"]
            )
            return f"STRUCT<{inner}>"
        if kind == "list":
            return f"ARRAY<{_spark_type_of(t['element'])}>"
        if kind == "map":
            return (
                f"MAP<{_spark_type_of(t['key'])}, "
                f"{_spark_type_of(t['value'])}>"
            )
        raise ValueError(
            f"Iceberg nested type kind {kind!r} is not mapped by "
            f"this reader"
        )
    s_t = t if t.startswith("decimal(") else _ICEBERG_TO_SPARK.get(t)
    if s_t is None:
        raise ValueError(
            f"Iceberg type {t!r} is not mapped by this reader"
        )
    return s_t


def _spark_fields(schema: dict) -> list[tuple[str, str]]:
    """Iceberg schema → (name, spark DDL type) pairs — the ONE
    type-mapping site both readers share (round-9 review: the
    duplicated block would let the two readers diverge)."""
    return [(f["name"], _spark_type_of(f["type"])) for f in schema["fields"]]


def _empty_frame(spark: SparkSession, spark_fields) -> DataFrame:
    ddl = ", ".join(f"`{n}` {t}" for n, t in spark_fields)
    return spark.createDataFrame([], ddl)


def _canon_path_expr(col):
    """Spark-side canonicalization of a file URI to its decoded local
    path: the join key position deletes and scan lineage share.
    '+' pre-escapes because url_decode is form-decoding; the scheme
    prefix strips so as_uri()-style and _metadata.file_path-style
    encodings meet on equal terms."""
    dec = F.url_decode(F.replace(col, F.lit("+"), F.lit("%2B")))
    # strip scheme AND any authority ('file://localhost/a' and
    # 'file:///a' and 'file:/a' all canonicalize to '/a' — an
    # authority-full URI is spec-legal and mismatching it would
    # silently resurrect deleted rows, round-9 review 2)
    return F.regexp_replace(dec, "^file:(//[^/]*)?", "")


def _grouped_read(
    spark: SparkSession, spark_fields, items, lineage: bool = False
) -> DataFrame | None:
    """Read (local path, identity partition values) items: files group
    by their partition tuple, each group reads with the schema MINUS
    the injected columns, and the constants come back per the spec's
    Column Projection rule. ``lineage=True`` adds (_ib_file, _ib_pos)
    row lineage off the scan's _metadata — what position-delete
    application anti-joins on. None when there are no items."""
    if lineage and any(
        n in ("_ib_file", "_ib_pos") for n, _ in spark_fields
    ):
        raise ValueError(
            "table columns named _ib_file/_ib_pos collide with the "
            "merge-on-read row-lineage plumbing — rename upstream"
        )
    groups: dict[tuple, list[str]] = {}
    group_vals: dict[tuple, dict] = {}
    for p, pvals in items:
        key = tuple(sorted((k, str(v)) for k, v in pvals.items()))
        groups.setdefault(key, []).append(p)
        group_vals[key] = pvals
    if not groups:
        return None
    # CONSOLIDATED FAST PATH (round 15): when every file injects the
    # SAME column set (the overwhelmingly common single-spec case),
    # ONE reader over all files replaces a reader build + union branch
    # PER partition-value group — measured 21 reader builds and a
    # 25-AQE-job probe collect per 5-probe roundtrip witness, most of
    # it driver py4j time. Per-file constants attach as a when-chain
    # over the canonical file path (a pure projection: no join, no
    # extra job); bounded at 64 files because expression depth grows
    # per file — beyond that the per-group readers below amortize
    # fine (groups ≪ files at real file counts).
    if len(groups) > 1 and len(items) <= 64:
        keysets = {frozenset(pv.keys()) for _, pv in items}
        if len(keysets) == 1:
            inj = next(iter(keysets))
            read_fields = [
                (n, t) for n, t in spark_fields if n not in inj
            ]
            ddl = ", ".join(f"`{n}` {t}" for n, t in read_fields)
            df = spark.read.schema(ddl).parquet(*[p for p, _ in items])
            fcol = _canon_path_expr(F.col("_metadata.file_path"))
            exprs = []
            for n, t in spark_fields:
                if n in inj:
                    e = None
                    for p, pvals in items:
                        c = F.lit(pvals[n]).cast(t)
                        e = (
                            F.when(fcol == F.lit(p), c)
                            if e is None
                            else e.when(fcol == F.lit(p), c)
                        )
                    exprs.append(e.alias(n))
                else:
                    exprs.append(F.col(n))
            if lineage:
                exprs.append(fcol.alias("_ib_file"))
                exprs.append(
                    F.col("_metadata.row_index").alias("_ib_pos")
                )
            return df.select(*exprs)
    frames = []
    for key, files in groups.items():
        pvals = group_vals[key]
        read_fields = [
            (n, t) for n, t in spark_fields if n not in pvals
        ]
        ddl = ", ".join(f"`{n}` {t}" for n, t in read_fields)
        df = spark.read.schema(ddl).parquet(*files)
        if lineage:
            df = df.select(
                "*",
                _canon_path_expr(F.col("_metadata.file_path")).alias(
                    "_ib_file"
                ),
                F.col("_metadata.row_index").alias("_ib_pos"),
            )
        for n, t in spark_fields:
            if n in pvals:
                df = df.withColumn(n, F.lit(pvals[n]).cast(t))
        keep = [n for n, _ in spark_fields]
        if lineage:
            keep = keep + ["_ib_file", "_ib_pos"]
        frames.append(df.select(*keep))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    include_deletes: bool = False,
    from_timestamp=None,
    to_timestamp=None,
    with_lineage: bool = False,
) -> DataFrame:
    """Iceberg INCREMENTAL APPEND SCAN (the spec's incremental-read
    model, Spark's `spark.readStream.format("iceberg")` contract):
    rows added by the snapshots AFTER ``from_snapshot_id`` up to and
    including ``to_snapshot_id`` (default: current), tagged with
    ``_snapshot_id`` — the external-table sibling of
    ``TxnTable.read_changes``. Each in-range snapshot contributes its
    manifests' ADDED entries (status=1, which inherit that snapshot's
    id per v2 inheritance) plus explicit-id entries landing in range;
    EXISTING carry-overs are skipped, so a file is emitted exactly
    once at the snapshot that added it.

    Refuses loudly, exactly like Iceberg's own incremental scan:
    unknown/expired snapshot ids, and any in-range snapshot whose
    summary operation is not ``append`` (a replace/delete/overwrite
    snapshot's delta is not expressible as added rows).

    ``include_deletes=True`` switches to the CDC shape consumers
    actually want across overwrites (round-9 verdict item 6 — the
    ``TxnTable.read_changes(include_deletes=True)`` mirror): a
    ``_change_type`` ('insert' | 'delete') column joins
    ``_snapshot_id``, non-append snapshots are DIFFED instead of
    refused (added files → inserts; files dropped from the parent's
    live set → their parent-live rows as deletes, merge-on-read
    applied), and delete files NEW in a snapshot emit the rows they
    remove (position deletes resolve their (path, pos) pairs against
    PARENT-LIVE rows, so cumulative delete files — this exporter's
    own vectored shape — never re-emit earlier deletions; equality
    deletes semi-join the scope-pruned affected files' rows, parent
    deletes applied first). ``_change_ordinal`` fixes the
    intra-snapshot fold order (deletes=0 before inserts=1), so a
    rewrite snapshot (compact) folds to an unchanged state — note a
    rewrite still EMITS its full row set both ways (a content-level
    no-op proof would need a row diff; Iceberg's own changelog scan
    punts on replace snapshots the same way, by skipping them).

    ``from_timestamp`` / ``to_timestamp`` are the timestamp spellings
    of the same bounds (datetime / ISO string / epoch millis, each
    mutually exclusive with its id twin), resolved through the
    snapshot history exactly like the Delta CDF's
    (:func:`~interop_datalake_spark.lake.delta_interop.
    read_delta_changes`): the start INCLUDES the first snapshot
    stamped at-or-after the instant (an instant before the earliest
    retained snapshot resolves to the full history; one past the
    newest refuses loudly), the end resolves to the snapshot current
    AT the instant (:func:`iceberg_snapshot_at`)."""
    from interop_datalake_spark.lake.delta_interop import _to_epoch_ms

    meta = _load_metadata(path)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["sequence-number"]
    )
    ids = [s["snapshot-id"] for s in snaps]
    from_start = False  # include the very first snapshot
    if from_timestamp is not None:
        if from_snapshot_id is not None:
            raise ValueError(
                "pass either from_snapshot_id or from_timestamp, "
                "not both"
            )
        hist = _snapshot_history(meta)
        want = _to_epoch_ms(from_timestamp)
        if want > hist[-1][0]:
            raise ValueError(
                f"from_timestamp {from_timestamp!r} is after the "
                f"latest snapshot ({hist[-1][0]} ms); no changes "
                f"exist at or past it"
            )
        idx = next(i for i, (t, _) in enumerate(hist) if t >= want)
        if idx == 0:
            from_start = True
            from_snapshot_id = hist[0][1]
        else:
            from_snapshot_id = hist[idx - 1][1]
    if to_timestamp is not None:
        if to_snapshot_id is not None:
            raise ValueError(
                "pass either to_snapshot_id or to_timestamp, not both"
            )
        to_snapshot_id = iceberg_snapshot_at(meta, to_timestamp)
    if from_snapshot_id is None:
        raise ValueError(
            "read_iceberg_changes needs from_snapshot_id or "
            "from_timestamp"
        )
    if from_snapshot_id not in ids:
        raise ValueError(
            f"from_snapshot_id {from_snapshot_id} not present "
            f"(available: {ids})"
        )
    to = (
        meta.get("current-snapshot-id")
        if to_snapshot_id is None
        else to_snapshot_id
    )
    if to not in ids:
        raise ValueError(
            f"to_snapshot_id {to} not present (available: {ids})"
        )
    lo = ids.index(from_snapshot_id)
    if from_start:
        lo = -1  # instant predates history: the window is inclusive
        # of the first snapshot (delta-spark resolves the analogous
        # startingTimestamp to version 0)
    hi = ids.index(to)
    if hi < lo:
        raise ValueError(
            "to_snapshot_id precedes from_snapshot_id in the snapshot "
            "history"
        )
    window = snaps[lo + 1 : hi + 1]
    if include_deletes:
        if with_lineage:
            raise ValueError(
                "with_lineage is the append scan's option: the "
                "changelog mode diffs files positionally and cannot "
                "attribute row ids to its delete events; track "
                "updates by reading snapshots with "
                "read_iceberg(with_lineage=True) instead"
            )
        return _changes_with_deletes(spark, meta, snaps, window, to)
    frames = []
    for s in window:
        op = (s.get("summary") or {}).get("operation")
        if op != "append":
            raise ValueError(
                f"snapshot {s['snapshot-id']} is a {op!r} operation — "
                f"an incremental append scan cannot express its delta "
                f"as added rows (Iceberg's own incremental read "
                f"refuses the same way); read full snapshots instead"
            )
        schema = _schema_of(meta, s)
        spark_fields = _spark_fields(schema)
        ids_to_type = {f["id"]: f["type"] for f in schema["fields"]}
        jvm = _jvm(spark)
        data_e, del_e = _snapshot_entries_all(spark, meta, s)
        # refuse NEW delete files in the window independently of the
        # writer-supplied operation label (round-9 review: a non-
        # compliant writer can label a delete-carrying snapshot
        # "append"); CARRIED delete manifests (seq < this snapshot's)
        # are fine — they cannot affect this snapshot's added rows
        # under the delete-seq ≥ data-seq rule
        new_dels = [
            d
            for d in del_e
            if _entry_seq(d[0], d[3]) >= s["sequence-number"]
        ]
        if new_dels:
            raise ValueError(
                f"snapshot {s['snapshot-id']} adds delete files — an "
                f"incremental append scan cannot express its delta "
                f"as added rows (Iceberg's own incremental read "
                f"refuses the same way); read full snapshots instead"
            )
        items = []
        item_uris: list[str] = []
        for e, dfr, spec_fields, mf in data_e:
            # v2 inheritance: a null-id entry belongs to the MANIFEST
            # LIST ENTRY's added snapshot (round-9 review: real Iceberg
            # writers carry older manifests forward in later lists, so
            # inheriting the scanned snapshot's id would re-emit every
            # old manifest's rows at every window snapshot)
            df_snap = e.get("snapshot_id")
            if df_snap is None:
                df_snap = mf.get("added_snapshot_id")
            if df_snap is None or int(df_snap) != s["snapshot-id"]:
                continue  # carried from an earlier snapshot
            items.append(
                (
                    _uri_to_path(str(dfr.get("file_path"))),
                    _entry_partition_values(
                        jvm, dfr, spec_fields, ids_to_type
                    ),
                )
            )
            item_uris.append(str(dfr.get("file_path")))
        read_fields = spark_fields
        if with_lineage:
            # the new rows' assigned v3 row ids ride the feed — the
            # update-tracking key downstream folds on. Same mechanics
            # as read_iceberg(with_lineage=True): materialized
            # columns win, computed first_row_id + position fills
            # null cells, pre-v3 files read NULL.
            read_fields = spark_fields + [
                ("_row_id", "BIGINT"),
                ("_last_updated_sequence_number", "BIGINT"),
            ]
        fr = _grouped_read(
            spark, read_fields, items, lineage=with_lineage
        )
        if fr is not None:
            if with_lineage:
                first_of = _lineage_first_rows(data_e)
                lrows = [
                    (p, first_of.get(uri))
                    for (p, _pv), uri in zip(items, item_uris)
                ]
                lmap = spark.createDataFrame(
                    lrows, "_ib_file STRING, _ib_first BIGINT"
                )
                fr = (
                    fr.join(F.broadcast(lmap), "_ib_file", "left")
                    .withColumn(
                        "_row_id",
                        F.coalesce(
                            F.col("_row_id"),
                            F.col("_ib_first") + F.col("_ib_pos"),
                        ),
                    )
                    .withColumn(
                        "_last_updated_sequence_number",
                        F.coalesce(
                            F.col("_last_updated_sequence_number"),
                            F.lit(
                                int(s["sequence-number"])
                            ).cast("bigint"),
                        ),
                    )
                    .drop("_ib_first", "_ib_file", "_ib_pos")
                )
            frames.append(
                fr.withColumn(
                    "_snapshot_id",
                    F.lit(s["snapshot-id"]).cast("bigint"),
                )
            )
    if not frames:
        # cheap empty: the schema alone shapes the frame — no
        # manifest I/O for the steady-state "no new snapshots" poll
        schema = _schema_of(meta, _resolve_snapshot(meta, to))
        extra = (
            [
                ("_row_id", "bigint"),
                ("_last_updated_sequence_number", "bigint"),
            ]
            if with_lineage
            else []
        )
        return _empty_frame(
            spark,
            _spark_fields(schema) + extra + [("_snapshot_id", "bigint")],
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


def _added_by(e, mf, snapshot_id: int) -> bool:
    """Was this manifest entry added by the given snapshot? v2 null-id
    inheritance resolves against the manifest-list entry's
    added_snapshot_id (the same rule the append scan uses)."""
    v = e.get("snapshot_id")
    if v is None:
        v = mf.get("added_snapshot_id")
    return v is not None and int(v) == snapshot_id


def _changes_with_deletes(
    spark: SparkSession, meta: dict, snaps: list, window: list, to: int
) -> DataFrame:
    """The CDC mode of :func:`read_iceberg_changes`: per window
    snapshot, DIFF against its parent instead of refusing non-append
    operations. Inserts are the files new in the snapshot's live set;
    deletes are (a) the parent-live rows of files dropped from the
    live set (merge-on-read applied at the parent, so already-deleted
    rows don't re-emit), (b) the rows named by position-delete files
    new in the snapshot — restricted to files live at BOTH the parent
    and the snapshot: a row of a file added by the snapshot itself
    that its own position deletes kill (the Flink within-checkpoint
    upsert) was never visible anywhere and emits NEITHER event (it
    also folds out of the insert frame) — and (c) the rows matched by
    equality-delete files new in the snapshot (semi-join over the
    affected live files, parent deletes applied first, same-snapshot
    position-delete hits excluded so a row never emits delete twice).
    Driver-side state stays
    manifest-scale: the only collect is the distinct referenced-file
    list of new position deletes (bounded by table file count)."""
    jvm = _jvm(spark)
    by_id = {s["snapshot-id"]: s for s in snaps}
    order = [s["snapshot-id"] for s in snaps]
    frames = []
    for s in window:
        sid = s["snapshot-id"]
        schema = _schema_of(meta, s)
        spark_fields = _spark_fields(schema)
        ids_to_type = {f["id"]: f["type"] for f in schema["fields"]}
        parent_id = s.get("parent-snapshot-id")
        if parent_id not in by_id:
            idx = order.index(sid)
            parent_id = order[idx - 1] if idx > 0 else None
        s_data, s_del = _snapshot_entries_all(spark, meta, s)
        if parent_id is not None:
            p_data, p_del = _snapshot_entries_all(
                spark, meta, by_id[parent_id]
            )
        else:
            p_data, p_del = [], []

        def _p(dfr) -> str:
            return _uri_to_path(str(dfr.get("file_path")))

        s_map = {_p(d[1]): d for d in s_data}
        p_map = {_p(d[1]): d for d in p_data}

        def _items(m, paths):
            return [
                (
                    p,
                    _entry_partition_values(
                        jvm, m[p][1], m[p][2], ids_to_type
                    ),
                )
                for p in paths
            ]

        def _dmap_for(m, paths):
            rows = [
                (
                    p,
                    _entry_seq(m[p][0], m[p][3]),
                    _raw_ptn_key(m[p][1], m[p][2], m[p][3]),
                )
                for p in paths
            ]
            return spark.createDataFrame(
                rows, "_ib_file STRING, _dataseq BIGINT, _ib_ptn STRING"
            )

        def _pos_rows(pos_list):
            dels = None
            for duri, dseq in pos_list:
                d = spark.read.schema(
                    "file_path STRING, pos BIGINT"
                ).parquet(_checked_pos_delete_path(duri)).select(
                    _canon_path_expr(F.col("file_path")).alias(
                        "_ib_file"
                    ),
                    F.col("pos").alias("_ib_pos"),
                    F.lit(dseq).cast("bigint").alias("_dseq"),
                )
                dels = d if dels is None else dels.unionByName(d)
            return dels

        def _apply_parent_mor(fr, m, paths):
            """Parent-live rows only: anti-join the parent's position
            deletes, deletion vectors (v3), and equality deletes,
            scoped to ``paths``."""
            for pframe in (
                _pos_rows(p_pos) if p_pos else None,
                p_dv_frame,
            ):
                if pframe is None:
                    continue
                dmap = _dmap_for(m, paths)
                applicable = (
                    pframe.join(F.broadcast(dmap), "_ib_file")
                    .filter(F.col("_dseq") >= F.col("_dataseq"))
                    .select("_ib_file", "_ib_pos")
                )
                fr = fr.join(
                    applicable, ["_ib_file", "_ib_pos"], "left_anti"
                )
            if p_eq:
                fr = _apply_equality_deletes(
                    spark, fr, _dmap_for(m, paths), p_eq, schema
                )
            return fr

        def _emit(fr, change_type):
            # _change_ordinal defines the intra-snapshot fold order
            # (deletes before inserts): a rewrite snapshot that drops
            # and re-adds the same rows folds to PRESENT, not absent
            frames.append(
                fr.withColumn("_change_type", F.lit(change_type))
                .withColumn("_snapshot_id", F.lit(sid).cast("bigint"))
                .withColumn(
                    "_change_ordinal",
                    F.lit(0 if change_type == "delete" else 1).cast(
                        "int"
                    ),
                )
            )

        new_del_entries = [
            d for d in s_del if _added_by(d[0], d[3], sid)
        ]
        new_pos, new_eq, new_dvs = _split_delete_files(new_del_entries)
        p_pos, p_eq, p_dvs = (
            _split_delete_files(p_del) if p_del else ([], [], [])
        )
        pos_frame = _pos_rows(new_pos) if new_pos else None
        # parent's v3 deletion vectors: part of "parent-live" for MOR
        p_dv_frame = (
            _dv_positions_frame(spark, p_dvs) if p_dvs else None
        )
        new_dv_frame = (
            _dv_positions_frame(spark, new_dvs) if new_dvs else None
        )

        def _new_pos_hits(m, paths, frame=None):
            """(file, pos) pairs of the snapshot's OWN new position
            deletes (default) or new DELETION VECTORS (pass
            ``frame=new_dv_frame``) applicable to ``paths`` (the v2
            rule: position deletes apply at delete_seq >= data_seq,
            so they reach files added in the SAME snapshot)."""
            dmap = _dmap_for(m, paths)
            return (
                (pos_frame if frame is None else frame)
                .join(F.broadcast(dmap), "_ib_file")
                .filter(F.col("_dseq") >= F.col("_dataseq"))
                .select("_ib_file", "_ib_pos")
            )

        # inserts: files new in the live set. The snapshot's own new
        # position deletes apply to them (the Flink within-checkpoint
        # upsert shape: one commit both adds a data file and
        # position-deletes some of its rows) — those rows were never
        # visible at ANY snapshot, so they must emit neither an insert
        # nor a delete event. Equality deletes are exempt by the
        # spec's STRICT sequence rule (dseq > fseq never holds for a
        # same-snapshot add).
        added = [p for p in s_map if p not in p_map]
        ins = _grouped_read(
            spark, spark_fields, _items(s_map, added),
            lineage=bool(new_pos or new_dvs),
        )
        if ins is not None:
            # rows of same-snapshot adds killed by the snapshot's own
            # position deletes OR deletion vectors were never visible
            # anywhere: emit neither event
            for frame in (pos_frame, new_dv_frame):
                if frame is not None:
                    ins = ins.join(
                        _new_pos_hits(s_map, added, frame),
                        ["_ib_file", "_ib_pos"],
                        "left_anti",
                    )
            if new_pos or new_dvs:
                ins = ins.drop("_ib_file", "_ib_pos")
            _emit(ins, "insert")

        # deletes (a): files dropped from the parent's live set
        removed = [p for p in p_map if p not in s_map]
        if removed:
            fr = _grouped_read(
                spark, spark_fields, _items(p_map, removed),
                lineage=True,
            )
            if fr is not None:
                fr = _apply_parent_mor(fr, p_map, removed)
                _emit(fr.drop("_ib_file", "_ib_pos"), "delete")

        # deletes (b): new position deletes name their rows directly.
        # The semi-join runs against PARENT-LIVE rows (_apply_parent_mor
        # first): a cumulative delete file that re-lists pairs already
        # applicable at the parent — the repo's own exporter serializes
        # the full DV state per vectored export — re-emits nothing
        # (review: the TxnTable sibling guarantees a row is never
        # emitted as deleted twice, and this mode must too)
        if new_pos:
            refd = [
                r[0]
                for r in pos_frame.select("_ib_file")
                .distinct()
                .collect()  # bounded by table file count
            ]
            # ONLY files live at the parent AND still live here: rows
            # of files added by THIS snapshot were never visible at
            # the parent (they fold out of the insert frame above,
            # and a row never visible at the parent must emit neither
            # event), and rows of files REMOVED here already emitted
            # via (a) — including them again would double-emit.
            refd = [p for p in refd if p in p_map and p in s_map]
            if refd:
                fr = _grouped_read(
                    spark, spark_fields, _items(p_map, refd),
                    lineage=True,
                )
                fr = _apply_parent_mor(fr, p_map, refd)
                fr = fr.join(
                    _new_pos_hits(p_map, refd),
                    ["_ib_file", "_ib_pos"],
                    "left_semi",
                )
                _emit(fr.drop("_ib_file", "_ib_pos"), "delete")

        # deletes (b2): new DELETION VECTORS (v3). A DV is the
        # CUMULATIVE deleted-position set of one file, so the
        # snapshot's delta is the position DIFF against the parent's
        # vector for the same file (exactly delta_interop's DV-update
        # pair semantics). Only files live at BOTH ends emit here:
        # same-snapshot adds folded out of the insert frame above,
        # and dropped files already emitted whole via (a).
        if new_dvs:
            import numpy as np
            import pandas as pd

            from interop_datalake_spark.lake.puffin import (
                read_puffin_dv,
            )

            p_by_ref = {
                ref: (uri, off, size)
                for (uri, _seq, ref, off, size) in p_dvs
            }
            d_files: list[str] = []
            d_chunks: list = []
            for uri, _seq, ref, off, size in new_dvs:
                p = _uri_to_path(ref)
                if p not in p_map or p not in s_map:
                    continue
                new_idx = np.asarray(
                    read_puffin_dv(_uri_to_path(uri), off, size),
                    dtype=np.int64,
                )
                old = p_by_ref.get(ref)
                old_idx = (
                    np.asarray(
                        read_puffin_dv(
                            _uri_to_path(old[0]), old[1], old[2]
                        ),
                        dtype=np.int64,
                    )
                    if old
                    else np.empty(0, dtype=np.int64)
                )
                dropped = np.setdiff1d(old_idx, new_idx)
                if len(dropped):
                    raise ValueError(
                        f"deletion vector for {ref} at snapshot "
                        f"{sid} drops {len(dropped)} position(s) the "
                        f"parent's vector had — v3 DVs are cumulative "
                        f"supersets; corrupt metadata"
                    )
                diff = np.setdiff1d(new_idx, old_idx)
                d_files += [p] * len(diff)
                d_chunks.append(diff)
            if d_files:
                diff_df = spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "_ib_file": pd.Series(
                                d_files, dtype="string"
                            ),
                            "_ib_pos": np.concatenate(d_chunks),
                        }
                    )
                )
                paths = sorted(set(d_files))
                fr = _grouped_read(
                    spark, spark_fields, _items(p_map, paths),
                    lineage=True,
                )
                fr = _apply_parent_mor(fr, p_map, paths)
                if new_pos:
                    # never emit a delete twice: positions also named
                    # by a same-snapshot v2 position delete already
                    # emitted via (b)
                    fr = fr.join(
                        _new_pos_hits(p_map, paths),
                        ["_ib_file", "_ib_pos"],
                        "left_anti",
                    )
                fr = fr.join(
                    diff_df, ["_ib_file", "_ib_pos"], "left_semi"
                )
                _emit(fr.drop("_ib_file", "_ib_pos"), "delete")

        # deletes (c): new equality deletes match rows of live files —
        # pruned at the manifest to files some delete can actually
        # reach (partition scope + the strict sequence guard), so a
        # one-tenant Flink delete on a 10k-file table reads that
        # tenant's files, not the table
        if new_eq:
            live = []
            for p, (e, dfr, sf, mf) in s_map.items():
                fseq = _entry_seq(e, mf)
                fptn = _raw_ptn_key(dfr, sf, mf)
                if any(
                    dseq > fseq and (ptn is None or ptn == fptn)
                    for _u, dseq, _f, ptn in new_eq
                ):
                    live.append(p)
            fr = (
                _grouped_read(
                    spark, spark_fields, _items(s_map, live),
                    lineage=True,
                )
                if live
                else None
            )
            if fr is not None:
                fr = _apply_parent_mor(fr, s_map, live)
                for frame in (pos_frame, new_dv_frame):
                    # a row killed by BOTH a new position delete / DV
                    # and a new equality delete in the same snapshot
                    # already emitted via (b)/(b2) — never twice
                    if frame is not None:
                        fr = fr.join(
                            _new_pos_hits(s_map, live, frame),
                            ["_ib_file", "_ib_pos"],
                            "left_anti",
                        )
                fr = _apply_equality_deletes(
                    spark,
                    fr,
                    _dmap_for(s_map, live),
                    new_eq,
                    schema,
                    how="left_semi",
                )
                _emit(fr.drop("_ib_file", "_ib_pos"), "delete")

    if not frames:
        schema = _schema_of(meta, _resolve_snapshot(meta, to))
        return _empty_frame(
            spark,
            _spark_fields(schema)
            + [
                ("_change_type", "string"),
                ("_snapshot_id", "bigint"),
                ("_change_ordinal", "int"),
            ],
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


def iceberg_set_ref(
    table: TxnTable,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> int:
    """Create or move a named REF (Iceberg branches and tags — the
    metadata ``refs`` map behind ``ALTER TABLE … CREATE TAG/BRANCH``):
    publish a new metadata version whose ``refs[name]`` points at
    ``snapshot_id`` (default: the current snapshot). Tags pin a
    snapshot for as long as they live — :func:`expire_iceberg_snapshots`
    retains ref'd snapshots regardless of ``keep_last`` — and the
    ``main`` branch follows each new export automatically. Same
    atomic publish + single-writer lock as every metadata writer.
    Returns the snapshot id the ref points at."""
    import os

    if ref_type not in ("tag", "branch"):
        raise ValueError("ref_type must be 'tag' or 'branch'")
    meta_dir = table.root / "metadata"
    lock_fd = _export_lock(table, "ref")
    try:
        prev, prev_hint = _prev_metadata(meta_dir)
        if prev is None:
            raise FileNotFoundError(
                f"table {table.name}: no Iceberg export to tag"
            )
        sid = (
            int(prev["current-snapshot-id"])
            if snapshot_id is None
            else int(snapshot_id)
        )
        ids = {s["snapshot-id"] for s in prev.get("snapshots") or []}
        if sid not in ids:
            raise ValueError(
                f"snapshot {sid} not present (available: "
                f"{sorted(ids)})"
            )
        meta = dict(prev)
        meta["last-updated-ms"] = int(time.time() * 1000)
        meta["refs"] = {
            **(prev.get("refs") or {}),
            name: {"snapshot-id": sid, "type": ref_type},
        }
        _publish_metadata(meta_dir, meta, prev_hint)
        return sid
    finally:
        os.close(lock_fd)


def iceberg_drop_ref(table: TxnTable, name: str) -> None:
    """Remove a named ref (releases its snapshot for expiry).
    Unknown names refuse — silently 'dropping' a typo would leave
    the real ref retaining snapshots forever."""
    import os

    meta_dir = table.root / "metadata"
    lock_fd = _export_lock(table, "ref")
    try:
        prev, prev_hint = _prev_metadata(meta_dir)
        refs = dict((prev or {}).get("refs") or {})
        if name not in refs:
            raise ValueError(
                f"ref {name!r} not found (available: {sorted(refs)})"
            )
        del refs[name]
        meta = dict(prev)
        meta["last-updated-ms"] = int(time.time() * 1000)
        if refs:
            meta["refs"] = refs
        else:
            meta.pop("refs", None)
        _publish_metadata(meta_dir, meta, prev_hint)
    finally:
        os.close(lock_fd)


def expire_iceberg_snapshots(
    table: TxnTable, keep_last: int = 1
) -> list[int]:
    """Expire all but the newest ``keep_last`` snapshots from a
    table's EXPORTED Iceberg metadata — the expireSnapshots
    maintenance op for the interop surface (external engines
    otherwise accumulate one snapshot per export forever). Publishes
    a new metadata version (same atomic path + non-blocking
    single-writer lock as exports) whose snapshot list keeps only the
    tail; manifest lists, manifests, AND exporter-written
    position-delete parquets referenced ONLY by expired snapshots are
    deleted by reachability from the retained snapshots (data files
    belong to the TxnTable and follow ``TxnTable.vacuum``'s contract,
    matching Iceberg's own expireSnapshots). Expired snapshot ids are
    recorded in ``txn.expired-snapshot-ids`` (carried forward by
    every later export) so re-exporting an expired TxnTable version
    refuses instead of re-adding its id at a higher sequence number;
    time travel to an expired id refuses (unknown id), and the
    streaming source's expiry guard refuses resumes from before the
    retained history. A metadata-log entry records the superseded
    version like every export. Snapshots referenced by a branch/tag
    in the metadata's ``refs`` map are RETAINED regardless of
    ``keep_last`` (Iceberg's own contract — drop the ref to release
    them). Returns the expired snapshot ids.

    Crash ordering: the new metadata version goes live BEFORE any
    deletion, so a crash leaves only harmless orphan Avro/parquet
    files in ``metadata/``."""
    import os

    meta_dir = table.root / "metadata"
    lock_fd = _export_lock(table, "expiry")
    try:
        prev, prev_hint = _prev_metadata(meta_dir)
        if prev is None:
            raise FileNotFoundError(
                f"table {table.name}: no Iceberg export to expire"
            )
        snaps = sorted(
            prev.get("snapshots") or [],
            key=lambda s: s["sequence-number"],
        )
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return []
        # refs RETAIN (Iceberg's expireSnapshots contract): a
        # snapshot a branch/tag points at never expires while the
        # ref exists — drop the ref first to release it
        ref_ids = {
            int(r["snapshot-id"])
            for r in (prev.get("refs") or {}).values()
        }
        tail = snaps[-keep_last:]
        kept = [
            sn
            for sn in snaps
            if sn in tail or sn["snapshot-id"] in ref_ids
        ]
        expired = [sn for sn in snaps if sn not in kept]
        if not expired:
            return []
        jvm = _jvm(table.spark)

        def _reachable(snapshots) -> set[str]:
            """metadata/-resident files a snapshot set references:
            its manifest lists, every manifest those lists carry, and
            the delete parquets delete-manifest entries point at
            (round-10 review: delete parquets leaked forever)."""
            out: set[str] = set()
            mroot = str(meta_dir.resolve())
            for snp in snapshots:
                ml = Path(_uri_to_path(snp["manifest-list"]))
                if not ml.exists():
                    continue
                out.add(str(ml))
                lists, _ = _read_avro(jvm, ml)
                for mf in lists:
                    mp = Path(
                        _uri_to_path(str(mf.get("manifest_path")))
                    )
                    out.add(str(mp))
                    if (mf.get("content") or 0) == 1 and mp.exists():
                        entries, _m = _read_avro(jvm, mp)
                        for e in entries:
                            dfr = e.get("data_file")
                            fp = Path(
                                _uri_to_path(
                                    str(dfr.get("file_path"))
                                )
                            )
                            if str(fp.resolve()).startswith(mroot):
                                out.add(str(fp))
            return out

        keep_files = _reachable(kept)
        drop_files = _reachable(expired) - keep_files
        expired_ids = sorted(s["snapshot-id"] for s in expired)
        prev_expired = json.loads(
            (prev.get("properties") or {}).get(
                "txn.expired-snapshot-ids", "[]"
            )
        )
        now_ms = int(time.time() * 1000)
        meta = dict(prev)
        # round-11 advice: the expiry-published metadata is a NEW
        # version — carrying the previous last-updated-ms unchanged
        # makes it claim it predates its own metadata-log tail
        meta["last-updated-ms"] = now_ms
        meta["snapshots"] = kept
        meta["snapshot-log"] = [
            e
            for e in prev.get("snapshot-log") or []
            if e.get("snapshot-id") not in set(expired_ids)
        ]
        meta["properties"] = {
            **(prev.get("properties") or {}),
            "txn.expired-snapshot-ids": json.dumps(
                sorted(set(prev_expired) | set(expired_ids))
            ),
        }
        meta["metadata-log"] = (prev.get("metadata-log") or []) + [
            {
                "timestamp-ms": now_ms,
                "metadata-file": (
                    meta_dir / f"v{prev_hint}.metadata.json"
                )
                .resolve()
                .as_uri(),
            }
        ]
        _publish_metadata(meta_dir, meta, prev_hint)
        # deletion AFTER the new version is live (see docstring)
        for f in drop_files:
            Path(f).unlink(missing_ok=True)
        return expired_ids
    finally:
        os.close(lock_fd)
