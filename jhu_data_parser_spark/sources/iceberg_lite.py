"""Minimal Apache-Iceberg-v1 table layer (pure Python, no jar).

The iceberg-spark runtime is absent from this distribution, but the
Iceberg table spec is PUBLIC (iceberg.apache.org/spec) and its
metadata tree is plain JSON + Avro — and this repo already vendors a
spec-complete Avro container codec (``sources/avro_container.py``),
so the second major open table format is vendored directly, the same
precedent as the Delta-lite layer:

- ``metadata/v{N}.metadata.json`` — table metadata: schema (Iceberg
  JSON types, converted to/from Spark ``StructType``), the SCHEMAS
  list + ``current-schema-id`` (schema evolution), partition spec,
  table ``properties``, the snapshot log, and
  ``current-snapshot-id``; ``metadata/version-hint.text`` points at
  the latest N (the HadoopCatalog convention);
- each snapshot's ``manifest-list`` (``snap-{id}-*.avro``) is an Avro
  container of manifest-file entries — read and written by the
  vendored codec;
- each manifest (``*-m{k}.avro``) is an Avro container of
  ``manifest_entry`` records (status ADDED/EXISTING/DELETED + a
  nested ``data_file`` record with path, format, a typed ``partition``
  struct, record count, size) — the codec's nested-record branch
  carries the whole tree;
- a snapshot = the union of data files its manifest list reaches with
  status != DELETED. APPEND snapshots reference the previous
  snapshot's manifests plus one new manifest; OVERWRITE snapshots
  reference only the new manifest; row-level DML snapshots
  (:func:`delete_iceberg` / :func:`merge_iceberg`) rewrite ONLY the
  manifests holding touched files and reuse the rest verbatim —
  the spec's metadata economy at every level;
- HIDDEN PARTITIONING (the spec's defining feature): the partition
  spec maps a source column through a TRANSFORM — ``identity``,
  ``bucket[N]`` (murmur3_x86_32 per spec Appendix B),
  ``truncate[W]``, ``year``/``month``/``day``/``hour`` — and each
  manifest entry carries the file's TRANSFORMED partition value, so a
  reader prunes data files from the MANIFESTS alone (no listing, no
  file opens) while queries keep filtering the raw source column
  (``events.ts >= X`` prunes through ``day(ts)`` without the query
  ever naming the partition field).

Execution split mirrors the real thing (and Delta-lite): data files
are written by a DISTRIBUTED Spark job; manifests and metadata are
driver-side and metadata-sized. Staging, footer bounds, range
pruning, the copy-on-write DELETE/MERGE scan and the commit claim are
the shared core in ``table_files.py``; this module owns the metadata
tree, partition transforms and conflict rules. Commits claim
``v{N}.metadata.json`` with an exclusive atomic create (link(2) of a
complete file) so two concurrent committers can never overwrite each
other's metadata and a reader never sees a torn one: blind appends
retry against the winner's metadata,
overwrites and rewrites raise :class:`ConcurrentCommitError`
(rewrites additionally pin the snapshot version they read — a commit
landing during the rewrite job forces a loud recompute, the same
read-snapshot serializability discipline as ``delta_lite``).

Scope (documented, loud): format-version 1 only (v2 metadata raises
``NotImplementedError`` — never a wrong read), one partition field,
schema evolution limited to new trailing nullable columns (the
Delta-lite ``merge_schema`` semantics), copy-on-write DML only (no
v2 delete files). The ``version-hint.text`` pointer is advisory
(best-effort monotonic); the ``v{N}.metadata.json`` chain is the
truth.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.table_files import (
    claim,
    delete_rewrite,
    evolve_schema,
    footer_stats,
    merge_rewrite,
    range_may_match,
    stage_files,
)

_ADDED, _EXISTING, _DELETED = 1, 0, 2


class ConcurrentCommitError(RuntimeError):
    """A concurrent commit won the metadata version this commit
    claimed (or invalidated the snapshot a rewrite was computed
    against) and the operations do not commute."""


_SPARK_TO_ICE = {
    T.LongType(): "long",
    T.IntegerType(): "int",
    T.StringType(): "string",
    T.DoubleType(): "double",
    T.FloatType(): "float",
    T.BooleanType(): "boolean",
    T.DateType(): "date",
    T.BinaryType(): "binary",
}
_ICE_TO_SPARK = {v: k for k, v in _SPARK_TO_ICE.items()}


def _ice_type(dt: T.DataType) -> str:
    if dt in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[dt]
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise NotImplementedError(
        f"iceberg-lite: unsupported column type {dt.simpleString()}"
    )


def _spark_type(t: str) -> T.DataType:
    if t in _ICE_TO_SPARK:
        return _ICE_TO_SPARK[t]
    if t == "timestamptz":
        return T.TimestampType()
    if t == "timestamp":
        return T.TimestampNTZType()
    if t.startswith("decimal("):
        p, s = t[len("decimal(") : -1].split(",")
        return T.DecimalType(int(p), int(s))
    raise NotImplementedError(f"iceberg-lite: unsupported type {t!r}")


def _schema_to_iceberg(schema: T.StructType, schema_id: int = 0) -> dict:
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _ice_type(f.dataType),
            }
            for i, f in enumerate(schema.fields)
        ],
    }


def _schema_from_iceberg(ice: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], _spark_type(f["type"]), True)
            for f in ice["fields"]
        ]
    )


def _current_ice_schema(meta: dict) -> dict:
    """Resolve the CURRENT schema by ``current-schema-id`` — a
    multi-schema (evolved) table must never read with a stale
    schema."""
    cur = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id", 0) == cur:
            return s
    raise ValueError(
        f"iceberg-lite: current-schema-id {cur} not in schemas list"
    )


# ---------------------------------------------------------------------------
# Partition transforms (spec: Partition Transforms + Appendix B)


def _mmh3_bytes(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 — the spec's required ``bucket[N]`` hash
    (Appendix B: hash the value's serialized bytes with seed 0).
    Pure-Python; the spec's own test vectors are pytest-pinned
    (int/long 34 → 2017239379, string "iceberg" → 1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[4 * nblocks :]
    if tail:
        k = 0
        for i, b in enumerate(tail):
            k |= b << (8 * i)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_of(value, ice_type: str, n: int) -> int | None:
    """Driver-side ``bucket[N]`` of one value (spec: ints hash as
    8-byte little-endian LONGS, strings as UTF-8; bucket =
    (hash & Int.MaxValue) % N)."""
    if value is None:
        return None
    if ice_type in ("int", "long"):
        data = int(value).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise NotImplementedError(
            f"iceberg-lite: bucket transform over {ice_type!r} unsupported"
        )
    return (_mmh3_bytes(data) & 0x7FFFFFFF) % n


def _mmh3_long_np(vals):
    """Vectorized murmur3_x86_32 over int64 values serialized as
    8-byte little-endian (two 4-byte blocks, no tail) — the numpy
    twin of :func:`_mmh3_bytes`, equivalence pytest-pinned. uint32
    arithmetic wraps by construction."""
    import numpy as np

    u = vals.astype(np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.zeros(u.shape, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for blk in (u & np.uint64(0xFFFFFFFF), u >> np.uint64(32)):
            k = blk.astype(np.uint32)
            k = k * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h = h ^ k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
    return h


_TRANSFORM_SUFFIX = {
    "bucket": "bucket",
    "truncate": "trunc",
    "year": "year",
    "month": "month",
    "day": "day",
    "hour": "hour",
}
_CALENDAR = ("year", "month", "day", "hour")


def _parse_partition_by(spec: str, ice_schema: dict) -> dict:
    """Parse a ``partition_by`` spec — a bare column name (identity)
    or Iceberg SQL transform syntax: ``day(ts)``, ``bucket(16, id)``,
    ``truncate(10, col)`` (plural forms ``days(ts)`` etc. accepted,
    as Iceberg SQL does). Returns the spec-field info dict used by
    both the writer and the pruning reader."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    m = re.fullmatch(
        r"\s*([A-Za-z_]+)\s*\(\s*(?:(\d+)\s*,\s*)?([\w.]+)\s*\)\s*", spec
    )
    if m is None:
        if spec not in by_name:
            raise ValueError(f"iceberg-lite: no column {spec!r}")
        f = by_name[spec]
        return {
            "source": spec,
            "source-id": f["id"],
            "source-type": f["type"],
            "transform": "identity",
            "name": spec,
            "part-type": f["type"],
        }
    fn, arg, col = m.group(1), m.group(2), m.group(3)
    fn = {"days": "day", "hours": "hour", "months": "month",
          "years": "year"}.get(fn, fn)
    if col not in by_name:
        raise ValueError(f"iceberg-lite: no column {col!r}")
    f = by_name[col]
    src_t = f["type"]
    if fn == "bucket":
        if not arg:
            raise ValueError("iceberg-lite: bucket(N, col) needs N")
        if src_t not in ("int", "long", "string"):
            raise NotImplementedError(
                f"iceberg-lite: bucket over {src_t!r} unsupported"
            )
        transform, part_t = f"bucket[{arg}]", "int"
    elif fn == "truncate":
        if not arg:
            raise ValueError("iceberg-lite: truncate(W, col) needs W")
        if src_t not in ("int", "long", "string"):
            raise NotImplementedError(
                f"iceberg-lite: truncate over {src_t!r} unsupported"
            )
        transform, part_t = f"truncate[{arg}]", src_t
    elif fn in _CALENDAR:
        if src_t not in ("timestamptz", "timestamp", "date"):
            raise ValueError(
                f"iceberg-lite: {fn}() needs a timestamp/date column, "
                f"got {src_t!r}"
            )
        if fn == "hour" and src_t == "date":
            raise ValueError("iceberg-lite: hour() over date")
        transform, part_t = fn, "int"
    else:
        raise NotImplementedError(
            f"iceberg-lite: transform {fn!r} unsupported"
        )
    return {
        "source": col,
        "source-id": f["id"],
        "source-type": src_t,
        "transform": transform,
        "name": f"{col}_{_TRANSFORM_SUFFIX[fn]}",
        "part-type": part_t,
    }


def _spec_info(meta: dict) -> dict | None:
    """Reconstruct the committed spec-field info from metadata."""
    fields = meta["partition-specs"][0]["fields"]
    if not fields:
        return None
    sf = fields[0]
    ice_schema = _current_ice_schema(meta)
    src = next(
        f for f in ice_schema["fields"] if f["id"] == sf["source-id"]
    )
    transform = sf["transform"]
    if transform == "identity":
        part_t = src["type"]
    elif transform.startswith("truncate["):
        part_t = src["type"]
    else:
        part_t = "int"
    return {
        "source": src["name"],
        "source-id": src["id"],
        "source-type": src["type"],
        "transform": transform,
        "name": sf["name"],
        "part-type": part_t,
    }


def _spec_key(spec: dict | None) -> tuple:
    return (spec or {}).get("transform"), (spec or {}).get("source")


def _transform_expr(spec: dict, spark_type: T.DataType) -> Column:
    """The partition transform as a Spark column expression over the
    SOURCE column — JVM-side for everything but ``bucket`` (whose
    spec-mandated murmur3 has no Catalyst twin; it runs as an
    Arrow-batched pandas_udf, numpy-vectorized for ints)."""
    c, tr = spec["source"], spec["transform"]
    col = F.col(c)
    if tr == "identity":
        return col
    if tr.startswith("truncate["):
        w = int(tr[len("truncate[") : -1])
        if w <= 0:
            raise ValueError("iceberg-lite: truncate width must be > 0")
        if spec["source-type"] == "string":
            return F.substring(col, 1, w)
        return (F.floor(col / F.lit(w)) * w).cast(spark_type)
    if tr.startswith("bucket["):
        n = int(tr[len("bucket[") : -1])
        return _bucket_udf(n, spec["source-type"])(col)
    if tr == "day":
        if isinstance(spark_type, T.DateType):
            return F.datediff(col, F.lit("1970-01-01")).cast("int")
        return F.floor(col.cast("double") / F.lit(86400.0)).cast("int")
    if tr == "hour":
        return F.floor(col.cast("double") / F.lit(3600.0)).cast("int")
    if tr == "month":
        # session timezone is pinned UTC (session.py), so year()/
        # month() read the epoch-UTC calendar the spec defines
        return ((F.year(col) - 1970) * 12 + F.month(col) - 1).cast("int")
    if tr == "year":
        return (F.year(col) - 1970).cast("int")
    raise NotImplementedError(f"iceberg-lite: transform {tr!r}")


def _bucket_udf(n: int, ice_type: str):
    from pyspark.sql.functions import pandas_udf

    if ice_type in ("int", "long"):

        @pandas_udf("int")
        def bucket(s: pd.Series) -> pd.Series:
            import numpy as np

            na = s.isna().to_numpy()
            vals = s.fillna(0).to_numpy(dtype="int64")
            out = (
                (_mmh3_long_np(vals) & np.uint32(0x7FFFFFFF)) % np.uint32(n)
            ).astype("int64")
            res = pd.Series(out, dtype="object")
            res[na] = None
            return res

    else:  # string: per-value hash of the UTF-8 bytes (Arrow-batched)

        @pandas_udf("int")
        def bucket(s: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    None
                    if v is None
                    else (_mmh3_bytes(str(v).encode()) & 0x7FFFFFFF) % n
                    for v in s
                ],
                dtype="object",
            )

    return bucket


def _transform_value(value, spec: dict):
    """Driver-side transform of a FILTER literal into the partition
    domain — the pruning half of hidden partitioning (queries filter
    the source column; the reader maps the literal through the
    committed transform and compares against manifest partition
    values)."""
    import calendar
    import datetime as dt

    if value is None:
        return None
    tr = spec["transform"]
    if tr == "identity":
        return value
    if tr.startswith("bucket["):
        return _bucket_of(value, spec["source-type"], int(tr[7:-1]))
    if tr.startswith("truncate["):
        w = int(tr[len("truncate[") : -1])
        if spec["source-type"] == "string":
            return str(value)[:w]
        return (int(value) // w) * w
    if tr in _CALENDAR:
        if isinstance(value, dt.datetime):
            if value.tzinfo is not None:
                epoch = value.timestamp()
            else:  # naive literals are UTC (session timezone pin)
                epoch = calendar.timegm(value.timetuple())
            y, mo = value.year, value.month
        elif isinstance(value, dt.date):
            days = (value - dt.date(1970, 1, 1)).days
            epoch = days * 86400
            y, mo = value.year, value.month
        else:
            raise ValueError(
                f"iceberg-lite: {tr}() filter needs a date/datetime, "
                f"got {type(value).__name__}"
            )
        if tr == "day":
            return int(epoch // 86400)
        if tr == "hour":
            return int(epoch // 3600)
        if tr == "month":
            return (y - 1970) * 12 + mo - 1
        return y - 1970
    raise NotImplementedError(f"iceberg-lite: transform {tr!r}")


def _part_keep(pv, op: str, tv, transform: str) -> bool:
    """May a file with partition value ``pv`` hold a row whose source
    value satisfies ``source op literal`` (literal transformed to
    ``tv``)? Equality prunes under every transform; range ops only
    under ORDER-PRESERVING transforms (identity, truncate, calendar)
    — ``v >= X`` implies ``t(v) >= t(X)``. ``bucket`` scrambles
    order, so range ops over it raise rather than prune wrongly."""
    if pv is None or tv is None:
        return True  # unknown partition value: never prune
    if op in ("=", "=="):
        return pv == tv
    if transform.startswith("bucket["):
        raise ValueError(
            "iceberg-lite: bucket partitions prune equality filters only"
        )
    if op in (">", ">="):
        return pv >= tv
    if op in ("<", "<="):
        return pv <= tv
    raise ValueError(f"iceberg-lite: unsupported op {op!r}")


def _avro_primitive(ice_type: str) -> object:
    """Avro schema fragment for a partition value of the given
    Iceberg type (nullable union, as the spec's partition structs
    are)."""
    base = {
        "long": "long",
        "int": "int",
        "string": "string",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
    }.get(ice_type)
    if base is None:
        raise NotImplementedError(
            f"iceberg-lite: partition type {ice_type!r} unsupported"
        )
    return base


def _bound_encode(v, ice_type: str) -> bytes | None:
    """Single-value binary serialization for manifest ``lower_bounds``
    / ``upper_bounds`` (spec: Appendix D, little-endian)."""
    import struct

    if v is None:
        return None
    try:
        if ice_type == "long":
            return struct.pack("<q", int(v))
        if ice_type == "int":
            return struct.pack("<i", int(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
    except (struct.error, ValueError, TypeError):
        return None
    return None  # strings/other: no bounds (truncation rules omitted)


def _bound_decode(raw: bytes, ice_type: str):
    import struct

    fmt = {"long": "<q", "int": "<i", "double": "<d", "float": "<f"}.get(
        ice_type
    )
    if fmt is None or raw is None or len(raw) != struct.calcsize(fmt):
        return None
    return struct.unpack(fmt, raw)[0]


def _field(name: str, avro_type, field_id: int) -> dict:
    return {"name": name, "type": avro_type, "field-id": field_id}


def _optional(name: str, avro_type, field_id: int) -> dict:
    return {
        "name": name,
        "type": ["null", avro_type],
        "default": None,
        "field-id": field_id,
    }


def _bounds_field(name: str, field_id: int) -> dict:
    """``lower_bounds`` / ``upper_bounds``: an optional map<int, bytes>
    (an Avro array of key/value records, spec field ids ``field_id``
    to ``field_id + 2``)."""
    kv = {
        "type": "record",
        "name": f"k{field_id + 1}_v{field_id + 2}",
        "fields": [
            _field("key", "int", field_id + 1),
            _field("value", "bytes", field_id + 2),
        ],
    }
    return {
        "name": name,
        "field-id": field_id,
        "default": None,
        "type": ["null", {"type": "array", "logicalType": "map", "items": kv}],
    }


def _manifest_entry_schema(part_field: tuple[str, str] | None) -> dict:
    """Avro schema for ``manifest_entry`` (spec: Manifests) with a
    typed partition struct. Field ids ride as ``field-id`` attributes
    per the spec; the vendored codec ignores unknown attributes, as
    any conforming Avro reader must."""
    part_fields = []
    if part_field is not None:
        name, ice_type = part_field
        part_fields.append(_optional(name, _avro_primitive(ice_type), 1000))
    partition = {"type": "record", "name": "r102", "fields": part_fields}
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _field("file_path", "string", 100),
            _field("file_format", "string", 101),
            {"name": "partition", "field-id": 102, "type": partition},
            _field("record_count", "long", 103),
            _field("file_size_in_bytes", "long", 104),
            _bounds_field("lower_bounds", 125),
            _bounds_field("upper_bounds", 128),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _field("status", "int", 0),
            _optional("snapshot_id", "long", 1),
            {"name": "data_file", "field-id": 2, "type": data_file},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _field("manifest_path", "string", 500),
        _field("manifest_length", "long", 501),
        _field("partition_spec_id", "int", 502),
        _optional("added_snapshot_id", "long", 503),
        _optional("added_data_files_count", "int", 504),
        _optional("existing_data_files_count", "int", 505),
        _optional("deleted_data_files_count", "int", 506),
    ],
}


def _meta_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def _hint_path(table: str) -> str:
    return os.path.join(_meta_dir(table), "version-hint.text")


def _hint_version(table: str) -> int:
    with open(_hint_path(table)) as fh:
        return int(fh.read().strip())


def _load_metadata(table: str, version: int | None = None) -> dict:
    if version is None:
        try:
            version = _hint_version(table)
        except FileNotFoundError:
            raise ValueError(f"iceberg-lite: not a table: {table}")
    path = os.path.join(_meta_dir(table), f"v{version}.metadata.json")
    with open(path) as fh:
        meta = json.load(fh)
    if meta.get("format-version", 1) != 1:
        raise NotImplementedError(
            f"iceberg-lite: format-version {meta['format-version']} "
            "not supported"
        )
    return meta


def _commit_metadata(table: str, meta: dict, version: int) -> None:
    """Claim ``v{version}.metadata.json`` with an EXCLUSIVE atomic
    create — two committers computing the same version cannot
    overwrite each other (one gets ``FileExistsError``, the caller
    arbitrates), and the file only ever appears complete.
    The version hint then advances best-effort-monotonically; it is
    advisory (HadoopCatalog convention) — the metadata chain is the
    truth."""
    claim(
        os.path.join(_meta_dir(table), f"v{version}.metadata.json"),
        lambda fh: json.dump(meta, fh),
    )
    try:
        cur = _hint_version(table)
    except (FileNotFoundError, ValueError):
        cur = 0
    if version > cur:
        tmp = _hint_path(table) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.rename(tmp, _hint_path(table))


def _read_avro_records(path: str) -> list[dict]:
    from jhu_data_parser_spark.sources.avro_container import (
        iter_container_records,
    )

    with open(path, "rb") as fh:
        return list(iter_container_records(fh.read()))


def _write_avro_records(path: str, schema: dict, records: list) -> None:
    from jhu_data_parser_spark.sources.avro_container import write_container

    write_container(path, json.dumps(schema), records)


def _snapshot(meta: dict, snapshot_id: int) -> dict:
    snaps = meta.get("snapshots", [])
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    known = [s["snapshot-id"] for s in snaps]
    raise ValueError(f"iceberg-lite: snapshot {snapshot_id} not in {known}")


def _manifests(
    table: str, meta: dict, snapshot_id: int
) -> list[tuple[dict, list[dict]]]:
    """The snapshot's manifest-list records, each with its manifest's
    entries, statuses preserved (driver-side, metadata-sized — the same
    split as real Iceberg planning). Each file is opened once."""
    snap = _snapshot(meta, snapshot_id)
    return [
        (mf, _read_avro_records(os.path.join(table, mf["manifest_path"])))
        for mf in _read_avro_records(os.path.join(table, snap["manifest-list"]))
    ]


def _snapshot_entries(table: str, meta: dict, snapshot_id: int) -> list[dict]:
    """All manifest entries reachable from the snapshot."""
    return [e for _, es in _manifests(table, meta, snapshot_id) for e in es]


def _write_manifest_list(table: str, snapshot_id: int, manifests: list) -> str:
    list_rel = os.path.join(
        "metadata", f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    _write_avro_records(
        os.path.join(table, list_rel), _MANIFEST_FILE_SCHEMA, manifests
    )
    return list_rel


def _stage_data_files(
    spark_df: DataFrame,
    table: str,
    ice_schema: dict,
    spec: dict | None,
    snapshot_id: int,
) -> list[dict]:
    """Stage the rows as data files under ``data/`` (one distributed
    write), one ADDED manifest entry per file: the partition value
    comes through the committed TRANSFORM (staged under a throwaway
    ``__pt`` Hive layout, so the dir names the value while the file
    keeps every source column, Iceberg semantics) and per-column
    bounds from the parquet footer, keyed by the spec's field ids and
    binary-encoded per Appendix D (numeric columns only)."""
    if spec is not None:
        spark_df = spark_df.withColumn(
            "__pt", _transform_expr(spec, _spark_type(spec["source-type"]))
        )
    staged = stage_files(
        spark_df,
        table,
        ["__pt"] if spec is not None else [],
        lambda i, _dir: os.path.join("data", f"{uuid.uuid4().hex}-{i:05d}.parquet"),
    )
    by_name = {f["name"]: (f["id"], f["type"]) for f in ice_schema["fields"]}

    def encode(name, v):
        f = by_name.get(name)
        return v if f is not None and _bound_encode(v, f[1]) is not None else None

    def bounds(values: dict) -> list | None:
        return [
            {"key": by_name[n][0], "value": _bound_encode(v, by_name[n][1])}
            for n, v in sorted(values.items())
        ] or None

    entries = []
    for f in staged:
        lowers, uppers, _nulls = footer_stats(f.footer, encode)
        partition = {}
        if spec is not None:
            raw = f.partition["__pt"]
            partition[spec["name"]] = (
                None if raw is None else _partition_value(raw, spec["part-type"])
            )
        entries.append(
            {
                "status": _ADDED,
                "snapshot_id": snapshot_id,
                "data_file": {
                    "file_path": f.path,
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": f.footer.num_rows,
                    "file_size_in_bytes": f.size,
                    "lower_bounds": bounds(lowers),
                    "upper_bounds": bounds(uppers),
                },
            }
        )
    return entries


def _write_manifest(
    table: str, entries: list[dict], spec: dict | None
) -> dict:
    """Write one manifest Avro and return its manifest_file record."""
    part_field = (spec["name"], spec["part-type"]) if spec else None
    manifest_rel = os.path.join(
        "metadata", f"{uuid.uuid4().hex}-m0.avro"
    )
    _write_avro_records(
        os.path.join(table, manifest_rel),
        _manifest_entry_schema(part_field),
        entries,
    )
    added = sum(1 for e in entries if e["status"] == _ADDED)
    return {
        "manifest_path": manifest_rel,
        "manifest_length": os.path.getsize(os.path.join(table, manifest_rel)),
        "partition_spec_id": 0,
        "added_snapshot_id": (
            entries[0]["snapshot_id"] if entries else None
        ),
        "added_data_files_count": added,
        "existing_data_files_count": len(entries) - added,
        "deleted_data_files_count": 0,
    }


def write_iceberg(
    spark_df: DataFrame,
    table: str,
    mode: str = "overwrite",
    partition_by: str | None = None,
    summary_props: dict | None = None,
    table_props: dict | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit the DataFrame as a new Iceberg-v1 snapshot; returns the
    snapshot id. ``overwrite`` snapshots reference only the new
    manifest (prior files leave reach but stay time-travelable);
    ``append`` snapshots reference the previous manifests plus the
    new one — manifests are immutable and REUSED across snapshots,
    the spec's core economy (an append never rewrites old metadata).

    ``partition_by`` (first commit only) is a bare column name
    (identity) or a HIDDEN-PARTITIONING transform — ``day(ts)``,
    ``hour(ts)``, ``month(ts)``, ``year(ts)``, ``bucket(N, col)``
    (spec-conformant murmur3), ``truncate(W, col)`` — recording each
    file's TRANSFORMED partition value in its manifest entry so
    readers prune from manifests alone while queries filter the raw
    source column.

    ``merge_schema`` permits appends that ADD trailing nullable
    columns: the new schema joins the ``schemas`` list under a fresh
    ``schema-id`` (old field ids never change, new columns take ids
    above ``last-column-id``), ``current-schema-id`` advances, and
    files from earlier snapshots read the new columns as null.

    ``table_props`` merges into the table-level ``properties`` map
    (carried forward by every commit and by snapshot expiration —
    the durable channel for e.g. a streaming sink's high-water batch
    id, which must outlive the snapshots that recorded it).

    Commits are optimistic: the metadata version is claimed with an
    exclusive create; a losing blind append revalidates against the
    winner (schema or spec changed → :class:`ConcurrentCommitError`)
    and retries at the next version; overwrites never retry."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode {mode!r}")
    os.makedirs(_meta_dir(table), exist_ok=True)

    prev_meta: dict | None = None
    version = 1
    spec: dict | None = None
    evolved_ice: dict | None = None
    if os.path.isfile(_hint_path(table)):
        version = _hint_version(table) + 1
        prev_meta = _load_metadata(table, version - 1)
        spec = _spec_info(prev_meta)
        if partition_by is not None:
            claimed = _parse_partition_by(
                partition_by, _current_ice_schema(prev_meta)
            )
            if _spec_key(claimed) != _spec_key(spec):
                raise ValueError(
                    "iceberg-lite: table is partitioned by "
                    f"{(spec or {}).get('transform')}"
                    f"({(spec or {}).get('source')}), got {partition_by!r}"
                )
        ice_schema = _current_ice_schema(prev_meta)
        committed_spark = _schema_from_iceberg(ice_schema)
        incoming = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in spark_df.schema.fields
            ]
        )
        if incoming != committed_spark:
            widened = evolve_schema(committed_spark, incoming, merge_schema)
            if widened is not None:
                if mode != "append":
                    raise ValueError(
                        "iceberg-lite: schema evolution commits must "
                        "be appends"
                    )
                last_id = prev_meta.get(
                    "last-column-id", len(ice_schema["fields"])
                )
                new_fields = list(ice_schema["fields"])
                have = {f["name"] for f in new_fields}
                for f in widened.fields:
                    if f.name not in have:
                        last_id += 1
                        new_fields.append(
                            {
                                "id": last_id,
                                "name": f.name,
                                "required": False,
                                "type": _ice_type(f.dataType),
                            }
                        )
                evolved_ice = {
                    "type": "struct",
                    "schema-id": max(
                        s.get("schema-id", 0)
                        for s in prev_meta["schemas"]
                    )
                    + 1,
                    "fields": new_fields,
                }
                ice_schema = evolved_ice
    else:
        ice_schema = _schema_to_iceberg(spark_df.schema)
        if partition_by is not None:
            spec = _parse_partition_by(partition_by, ice_schema)

    snapshot_id = int(time.time() * 1000) * 1000 + version
    entries = _stage_data_files(
        spark_df, table, ice_schema, spec, snapshot_id
    )

    while True:
        manifests = [_write_manifest(table, entries, spec)]
        if mode == "append" and prev_meta is not None:
            cur = prev_meta.get("current-snapshot-id", -1)
            if cur != -1:
                snap = _snapshot(prev_meta, cur)
                manifests.extend(
                    _read_avro_records(
                        os.path.join(table, snap["manifest-list"])
                    )
                )
        list_rel = _write_manifest_list(table, snapshot_id, manifests)

        snapshots = list(prev_meta["snapshots"]) if prev_meta else []
        snapshots.append(
            {
                "snapshot-id": snapshot_id,
                "timestamp-ms": int(time.time() * 1000),
                # summary properties are the spec's commit-metadata
                # channel (real Iceberg streaming sinks store their
                # epoch id here — the snapshot log IS a ledger)
                "summary": {"operation": mode, **(summary_props or {})},
                "manifest-list": list_rel,
                # spec: snapshots record their schema so time travel
                # reads with the schema of WHEN, not the current one
                "schema-id": ice_schema.get("schema-id", 0),
            }
        )
        schemas = (
            list(prev_meta["schemas"]) if prev_meta else [ice_schema]
        )
        if evolved_ice is not None:
            schemas.append(evolved_ice)
        spec_fields = (
            [
                {
                    "name": spec["name"],
                    "transform": spec["transform"],
                    "source-id": spec["source-id"],
                    "field-id": 1000,
                }
            ]
            if spec
            else []
        )
        props = dict(prev_meta.get("properties", {})) if prev_meta else {}
        props.update(table_props or {})
        meta = {
            "format-version": 1,
            "table-uuid": (
                prev_meta["table-uuid"] if prev_meta else uuid.uuid4().hex
            ),
            "location": table,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": max(f["id"] for f in ice_schema["fields"]),
            "schemas": schemas,
            "current-schema-id": ice_schema.get("schema-id", 0),
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "properties": props,
            "current-snapshot-id": snapshot_id,
            "snapshots": snapshots,
        }
        try:
            _commit_metadata(table, meta, version)
            return snapshot_id
        except FileExistsError:
            if mode != "append" or prev_meta is None:
                raise ConcurrentCommitError(
                    f"iceberg-lite: metadata version {version} at "
                    f"{table} was committed concurrently and this "
                    "commit does not commute (overwrite / table create)"
                )
            # blind append lost the claim: revalidate against the
            # WINNER's metadata (read the claimed version directly —
            # the hint may lag) and retry at the next version
            winner = _load_metadata(table, version)
            w_schema = _current_ice_schema(winner)
            if evolved_ice is not None or w_schema != _current_ice_schema(
                prev_meta
            ):
                raise ConcurrentCommitError(
                    f"iceberg-lite: version {version} at {table} "
                    "changed the schema concurrently with this append"
                )
            if _spec_key(_spec_info(winner)) != _spec_key(spec):
                raise ConcurrentCommitError(
                    f"iceberg-lite: version {version} at {table} "
                    "changed the partition spec concurrently"
                )
            prev_meta = winner
            version += 1
            snapshot_id = int(time.time() * 1000) * 1000 + version
            for e in entries:
                e["snapshot_id"] = snapshot_id


def _partition_value(raw: str, ice_type: str):
    """Typed partition value from the (unescaped) staged Hive dir
    component."""
    if ice_type == "long" or ice_type == "int":
        return int(raw)
    if ice_type == "double" or ice_type == "float":
        return float(raw)
    if ice_type == "boolean":
        return raw == "true"
    return raw  # string / date ride as strings in the dir name


def _entry_may_match(entry: dict, conjuncts: list, ice_schema: dict) -> bool:
    """Range pruning from a manifest entry's lower/upper bounds: can
    the file hold a row satisfying ALL ``(col, op, value)`` conjuncts
    (op in < <= > >= =)? Missing bounds keep the file — pruning must
    never drop a potential match."""
    by_name = {f["name"]: (f["id"], f["type"]) for f in ice_schema["fields"]}
    df = entry["data_file"]
    lowers = {kv["key"]: kv["value"] for kv in (df.get("lower_bounds") or [])}
    uppers = {kv["key"]: kv["value"] for kv in (df.get("upper_bounds") or [])}
    for col, op, value in conjuncts:
        if col not in by_name:
            raise ValueError(f"iceberg-lite: no column {col!r}")
        fid, ice_type = by_name[col]
        lo = _bound_decode(lowers.get(fid), ice_type)
        hi = _bound_decode(uppers.get(fid), ice_type)
        if lo is not None and hi is not None and not range_may_match(
            lo, hi, op, value
        ):
            return False
    return True


def _partition_keep(entry: dict, conjuncts: list, spec: dict) -> bool:
    """Hidden-partition pruning: each conjunct ``(col, op, value)``
    names the SOURCE column with a raw literal; the literal maps
    through the committed transform and compares against the entry's
    stored partition value. A conjunct naming any other column is a
    caller error (loud, never silently unpruned)."""
    pv = (entry["data_file"].get("partition") or {}).get(spec["name"])
    for col, op, value in conjuncts:
        if col not in (spec["source"], spec["name"]):
            raise ValueError(
                f"iceberg-lite: partition_filter column {col!r} is not "
                f"the partition source {spec['source']!r}"
            )
        tv = (
            value
            if col == spec["name"]
            else _transform_value(value, spec)
        )
        if not _part_keep(pv, op, tv, spec["transform"]):
            return False
    return True


def read_iceberg(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    partition_filter: tuple | list | None = None,
    bounds_filter: list | None = None,
) -> DataFrame:
    """Snapshot read (optionally time-traveled to ``snapshot_id``):
    walk metadata.json → manifest list (Avro) → manifests (Avro) →
    live data files, then feed exactly those files plus the CURRENT
    committed schema (resolved by ``current-schema-id`` — an evolved
    table reads old files' missing columns as null) to the parquet
    scan — the entire plan comes from the metadata tree, no directory
    listing anywhere (Iceberg's defining property; at 100 TB listing
    is the enemy). ``partition_filter`` — ``(col, value)`` equality
    or a list of ``(source_col, op, value)`` conjuncts — prunes files
    from the manifests' TRANSFORMED partition values (hidden
    partitioning: filters name the source column, e.g. a raw ``ts``
    range prunes ``day(ts)`` partitions); ``bounds_filter``
    ``[(col, op, value), ...]`` prunes from the entries' per-column
    lower/upper bounds — both BEFORE any file is opened, and both
    pruning hints only (callers still apply the real predicate).

    Scale note: the selected file list feeds one ``spark.read
    .parquet(*files)`` — planning is inherently metadata-driven on
    the driver (as in real Iceberg); with millions of live files the
    list should shard by manifest into unioned scans."""
    meta = _load_metadata(table)
    sid = (
        meta.get("current-snapshot-id")
        if snapshot_id is None
        else snapshot_id
    )
    ice_schema = _current_ice_schema(meta)
    if snapshot_id is not None:
        # time travel reads with the schema of WHEN: the snapshot's
        # recorded schema-id, not the (possibly evolved) current one
        snap = _snapshot(meta, snapshot_id)
        if "schema-id" in snap:
            ice_schema = next(
                (
                    s
                    for s in meta["schemas"]
                    if s.get("schema-id", 0) == snap["schema-id"]
                ),
                ice_schema,
            )
    return _scan(
        spark,
        table,
        meta,
        ice_schema,
        _snapshot_entries(table, meta, sid),
        partition_filter,
        bounds_filter,
    )


def _scan(
    spark: SparkSession,
    table: str,
    meta: dict,
    ice_schema: dict,
    entries: list[dict],
    partition_filter: tuple | list | None = None,
    bounds_filter: list | None = None,
) -> DataFrame:
    """:func:`read_iceberg` over already-loaded manifest entries."""
    schema = _schema_from_iceberg(ice_schema)
    spec = _spec_info(meta)
    part_conjuncts = None
    if partition_filter is not None:
        if spec is None:
            raise ValueError(
                "iceberg-lite: table has no partition spec"
            )
        if isinstance(partition_filter, tuple):
            part_conjuncts = [
                (partition_filter[0], "=", partition_filter[1])
            ]
        else:
            part_conjuncts = list(partition_filter)
    files = []
    for e in entries:
        if e["status"] == _DELETED:
            continue
        if part_conjuncts is not None and not _partition_keep(
            e, part_conjuncts, spec
        ):
            continue
        if bounds_filter and not _entry_may_match(
            e, bounds_filter, ice_schema
        ):
            continue
        files.append(e["data_file"]["file_path"])
    if not files:
        return local_frame(spark, [], schema)
    return _read_files(spark, table, schema, sorted(files))


def _read_files(
    spark: SparkSession, table: str, schema: T.StructType, rels: list[str]
) -> DataFrame:
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, p) for p in rels]
    )


def _record_counts(entries: list[dict]) -> dict[str, int]:
    return {
        e["data_file"]["file_path"]: e["data_file"]["record_count"]
        for e in entries
        if e["status"] != _DELETED
    }


def _read_current(table: str) -> tuple[int, dict, dict, list]:
    """What a row-level DML reads once: the current metadata version,
    the metadata, its current Iceberg schema and the current
    snapshot's manifests (see :func:`_manifests`)."""
    read_version = _hint_version(table)
    meta = _load_metadata(table, read_version)
    manifests = _manifests(table, meta, meta["current-snapshot-id"])
    return read_version, meta, _current_ice_schema(meta), manifests


def _rewrite_commit(
    spark: SparkSession,
    table: str,
    read_version: int,
    meta: dict,
    touched: set[str],
    new_df: DataFrame | None,
    operation: str,
    summary_props: dict | None = None,
    manifests: list[tuple[dict, list[dict]]] | None = None,
) -> int:
    """Shared commit path for copy-on-write row-level DML
    (:func:`delete_iceberg` / :func:`merge_iceberg`): stage the
    rewritten rows as new data files, rewrite ONLY the manifests that
    reference touched files (kept entries become EXISTING, touched
    entries drop out of reach; untouched manifests are reused
    verbatim — manifest-level metadata economy), and claim exactly
    ``read_version + 1``. Any commit that landed during the rewrite
    job makes the claim collide and raises
    :class:`ConcurrentCommitError` — a rewrite computed against a
    stale snapshot must never commit (read-snapshot
    serializability, as in ``delta_lite``). ``manifests`` are the
    current snapshot's, when the caller has already loaded them."""
    ice_schema = _current_ice_schema(meta)
    spec = _spec_info(meta)
    snapshot_id = int(time.time() * 1000) * 1000 + read_version + 1
    new_entries = (
        _stage_data_files(new_df, table, ice_schema, spec, snapshot_id)
        if new_df is not None
        else []
    )
    new_manifests = []
    if new_entries:
        new_manifests.append(_write_manifest(table, new_entries, spec))
    if manifests is None:
        manifests = _manifests(table, meta, meta["current-snapshot-id"])
    removed = 0
    for mf, m_entries in manifests:
        live = [e for e in m_entries if e["status"] != _DELETED]
        kept = [
            e
            for e in live
            if e["data_file"]["file_path"] not in touched
        ]
        if len(kept) == len(live):
            new_manifests.append(mf)  # untouched manifest: reuse verbatim
            continue
        removed += len(live) - len(kept)
        if kept:
            kept = [dict(e, status=_EXISTING) for e in kept]
            new_manifests.append(_write_manifest(table, kept, spec))
    list_rel = _write_manifest_list(table, snapshot_id, new_manifests)
    new_meta = dict(meta)
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [
        {
            "snapshot-id": snapshot_id,
            "timestamp-ms": int(time.time() * 1000),
            "summary": {
                "operation": operation,
                "deleted-data-files": str(removed),
                "added-data-files": str(len(new_entries)),
                **(summary_props or {}),
            },
            "manifest-list": list_rel,
            "schema-id": ice_schema.get("schema-id", 0),
        }
    ]
    try:
        _commit_metadata(table, new_meta, read_version + 1)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"iceberg-lite: {operation} computed at metadata version "
            f"{read_version} but a concurrent commit claimed "
            f"{read_version + 1} — recompute against the current "
            "snapshot and retry"
        )
    return snapshot_id


def delete_iceberg(
    spark: SparkSession,
    table: str,
    predicate: str,
    bounds_filter: list | None = None,
    partition_filter: tuple | list | None = None,
) -> int:
    """Copy-on-write DELETE WHERE: rewrite only the files holding a
    matching row. ``bounds_filter`` / ``partition_filter`` narrow the
    candidate files from the MANIFESTS before any file is opened (a
    delete against a date range opens only that range's files); a
    distributed scan of the candidates finds the touched files; files
    whose every row matches drop without a rewrite; survivors keep
    rows the predicate does NOT positively match (a NULL predicate
    keeps the row — SQL DELETE semantics, the same NULL discipline
    as ``delta_lite.delete_delta``). One atomic snapshot rewrites
    only the affected manifests; at 100 TB the cost scales with the
    delete footprint, not the table. No-match deletes commit nothing.
    Returns the new snapshot id (or the current one on no-op)."""
    read_version, meta, ice_schema, manifests = _read_current(table)
    entries = [e for _, es in manifests for e in es]
    schema = _schema_from_iceberg(ice_schema)
    touched, survivors = delete_rewrite(
        table,
        _scan(
            spark, table, meta, ice_schema, entries, partition_filter, bounds_filter
        ),
        predicate,
        schema.fieldNames(),
        _record_counts(entries),
        functools.partial(_read_files, spark, table, schema),
    )
    if not touched:
        return meta["current-snapshot-id"]
    return _rewrite_commit(
        spark,
        table,
        read_version,
        meta,
        set(touched),
        survivors,
        "delete",
        manifests=manifests,
    )


def merge_iceberg(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
) -> int:
    """MERGE upsert (``WHEN MATCHED THEN UPDATE SET * / WHEN NOT
    MATCHED THEN INSERT *``) as Iceberg's copy-on-write overwrite:
    a distributed semi-join against the source keys finds the
    TOUCHED files; only those are re-read (their non-matching rows
    survive) and unioned with the full source; one atomic snapshot
    rewrites only the affected manifests (untouched manifests reuse
    verbatim — write cost scales with the update footprint, the
    scale-safe shape shared with ``delta_lite.merge_delta``).
    ``source`` must be key-unique (the caller's contract, as in
    Delta's multiple-matches error). Returns the new snapshot id."""
    read_version, meta, ice_schema, manifests = _read_current(table)
    entries = [e for _, es in manifests for e in es]
    schema = _schema_from_iceberg(ice_schema)
    touched, new_data = merge_rewrite(
        table,
        _scan(spark, table, meta, ice_schema, entries),
        source,
        on,
        schema.fieldNames(),
        _record_counts(entries),
        functools.partial(_read_files, spark, table, schema),
    )
    return _rewrite_commit(
        spark,
        table,
        read_version,
        meta,
        set(touched),
        new_data,
        "overwrite",
        manifests=manifests,
    )


def iceberg_snapshots(table: str) -> list[dict]:
    """The snapshot log (id, timestamp, operation) — the table's
    audit trail, straight from metadata.json."""
    meta = _load_metadata(table)
    return [
        {
            "snapshot-id": s["snapshot-id"],
            "timestamp-ms": s["timestamp-ms"],
            "operation": s.get("summary", {}).get("operation"),
            "summary": dict(s.get("summary", {})),
        }
        for s in meta.get("snapshots", [])
    ]


def table_properties(table: str) -> dict:
    """The table-level ``properties`` map — commit-durable AND
    expiration-durable (every commit carries it forward; snapshot
    expiration preserves it), unlike snapshot summaries which die
    with their snapshot."""
    return dict(_load_metadata(table).get("properties", {}))


def expire_snapshots(table: str, keep_last: int) -> list[str]:
    """Expire all but the newest ``keep_last`` snapshots (the spec's
    maintenance operation — the snapshot log grows per commit and
    old snapshots pin every data file they reach): writes a new
    metadata version carrying only the kept snapshots (table
    ``properties`` preserved — expiration must never lose the
    durable channel), then deletes manifest lists, manifests, and
    DATA files reachable ONLY from expired snapshots (files shared
    with kept snapshots survive — appends reuse manifests, so
    sharing is the norm). The new metadata version is claimed with
    the same exclusive create as data commits — racing a concurrent
    writer raises instead of silently dropping its commit. Returns
    deleted relative paths. Expired snapshot ids stop being
    time-travelable, by definition."""
    if keep_last < 1:
        raise ValueError("iceberg-lite: keep_last must be >= 1")
    version = _hint_version(table)
    meta = _load_metadata(table, version)
    snaps = meta.get("snapshots", [])
    if len(snaps) <= keep_last:
        return []
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    if meta["current-snapshot-id"] not in {s["snapshot-id"] for s in kept}:
        raise ValueError("iceberg-lite: cannot expire the current snapshot")

    def reach(snapshot_list):
        lists, manifests, data = set(), set(), set()
        for s in snapshot_list:
            lists.add(s["manifest-list"])
            for mf in _read_avro_records(
                os.path.join(table, s["manifest-list"])
            ):
                manifests.add(mf["manifest_path"])
                for e in _read_avro_records(
                    os.path.join(table, mf["manifest_path"])
                ):
                    data.add(e["data_file"]["file_path"])
        return lists, manifests, data

    k_lists, k_manifests, k_data = reach(kept)
    e_lists, e_manifests, e_data = reach(expired)
    doomed = sorted(
        (e_lists - k_lists) | (e_manifests - k_manifests) | (e_data - k_data)
    )
    meta = dict(meta)
    meta["snapshots"] = kept
    meta["last-updated-ms"] = int(time.time() * 1000)
    try:
        _commit_metadata(table, meta, version + 1)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"iceberg-lite: metadata version {version + 1} at {table} "
            "was committed concurrently with this expiration — re-run "
            "against the current metadata"
        )
    deleted = []
    for rel in doomed:
        p = os.path.join(table, rel)
        if os.path.isfile(p):
            os.remove(p)
            deleted.append(rel)
    return deleted
