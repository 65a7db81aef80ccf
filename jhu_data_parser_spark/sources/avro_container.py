"""Vendored pure-Python Apache Avro object-container reader/writer.

The ``spark-avro`` data-source jar is absent from this pyspark
distribution (re-verified every round since r8), and no Python avro
package is installed — but Avro ingestion is routine for a lake user,
so the format is vendored from the PUBLIC Avro 1.11 specification
(container layout, zigzag-varint binary encoding, deflate codec), the
same precedent as the PNG/JPEG/WAV decoders in
``functions/codecs.py``. Reference parity: the reference delegates all
query-side format handling to Athena (``/root/reference/src/README.md:5``);
this module is part of the format matrix that replacement implies.

Supported schema surface: all Avro primitives (null, boolean, int,
long, float, double, bytes, string) and all named/complex types
(record, enum, fixed, array, map, union). Codecs: ``null`` and
``deflate`` (raw DEFLATE per the spec). Anything else fails loudly
with ``NotImplementedError`` — the same strict-boundary rule as the
multimodal codecs (never fake a decode).

Null coercion (documented, deliberate): the union writer treats any
self-unequal value (float NaN, pandas NaT) as NULL when the union has
a null branch — the correct semantics at the Spark/pandas boundary,
where missing values surface as NaN/NaT. A caller who needs a literal
IEEE NaN persisted in a ``["null","double"]`` union should write
through a non-null schema (plain ``"double"``), where NaN round-trips
exactly.

Scale posture (100 TB): the read plans SYNC-MARKER SPLITS on the
driver (file listing + stat only — metadata-sized) and decodes them
with Arrow-batched ``mapInPandas``: BYTE RANGES are the parallelism
unit, so one multi-GB container fans out across the cluster instead
of pinning a single task (the classic Hadoop AvroInputFormat
strategy: seek to an arbitrary offset, scan to the next 16-byte sync,
decode only the blocks whose first byte the split owns — the
block-framing the spec provides exactly for that purpose). Records
are decoded and emitted ONE CONTAINER BLOCK at a time via per-block
seek+read, so executor memory is bounded by the writer's block size,
never the file or split size, and no file ever rides through a Spark
row (no 2 GB binary-column ceiling). Tasks open paths directly — a
shared filesystem (the cluster norm: HDFS fuse, NFS, object-store
mounts) is assumed, same as every staged-artifact path in this
engine. The write path is one container file per DataFrame
partition, encoded incrementally per Arrow batch (one Avro block per
batch) — a real distributed write, no driver-side staging.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, Callable, Iterable, Iterator

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

_PRIMITIVES = {
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
}


# --------------------------------------------------------------------------
# binary encoding primitives (Avro spec "Binary Encoding")
# --------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    # arithmetic >> sign-extends in Python, so this is the spec formula
    # verbatim for any |n| < 2**63
    return (n << 1) ^ (n >> 63)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _is_null(v: Any) -> bool:
    """Null detection that survives the pandas boundary: None, float
    NaN, and pandas NaT all count (NaT/NaN are self-unequal); arrays
    and other containers are never null."""
    if v is None:
        return True
    try:
        return bool(v != v)
    except (TypeError, ValueError):
        return False


def encode_long(n: int, out: bytearray) -> None:
    z = _zigzag(n)
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


class Reader:
    """Cursor over one immutable byte buffer."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes | memoryview) -> None:
        self.buf = memoryview(buf)
        self.pos = 0

    def eof(self) -> bool:
        return self.pos >= len(self.buf)

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("avro: truncated buffer")
        b = bytes(self.buf[self.pos : self.pos + n])
        self.pos += n
        return b

    def read_long(self) -> int:
        z = 0
        shift = 0
        while True:
            if self.pos >= len(self.buf):
                raise ValueError("avro: truncated varint")
            b = self.buf[self.pos]
            self.pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:  # 10 bytes max for a zigzag long (shift 0..63)
                raise ValueError("avro: varint too long")
        if z >> 64:
            # a 10th byte may carry payload bits beyond the 64-bit
            # zigzag range; fail loudly instead of decoding an
            # out-of-range value from corrupt input
            raise ValueError("avro: varint overflows 64-bit range")
        return _unzigzag(z)


# --------------------------------------------------------------------------
# schema-driven datum read/write — the generic datum reader compiled
# once per schema into a closure tree (no per-record schema dispatch)
# --------------------------------------------------------------------------


def _compile_reader(
    schema: Any, names: dict[str, Callable[[Reader], Any]]
) -> Callable[[Reader], Any]:
    if isinstance(schema, str):
        t = schema
        if t in _PRIMITIVES:
            if t == "null":
                return lambda r: None
            if t == "boolean":
                return lambda r: r.read(1) != b"\x00"
            if t in ("int", "long"):
                return lambda r: r.read_long()
            if t == "float":
                return lambda r: struct.unpack("<f", r.read(4))[0]
            if t == "double":
                return lambda r: struct.unpack("<d", r.read(8))[0]
            if t == "bytes":
                return lambda r: r.read(r.read_long())
            return lambda r: r.read(r.read_long()).decode("utf-8")
        if t in names:
            return names[t]
        # forward reference to a named type defined later in document
        # order is not supported — spec-legal documents define first
        raise NotImplementedError(f"avro: unknown type reference {t!r}")
    if isinstance(schema, list):  # union: long branch index, then datum
        branches = [_compile_reader(s, names) for s in schema]

        def _read_union(r: Reader) -> Any:
            i = r.read_long()
            if i < 0 or i >= len(branches):
                raise ValueError(f"avro: union branch {i} out of range")
            return branches[i](r)

        return _read_union
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt in ("date", "timestamp-micros", "timestamp-millis", "decimal"):
        # the three logical types a lake actually serves (Avro spec
        # "Logical Types"): decode the base encoding, surface the
        # logical value — date(int: days), timestamp-micros/millis
        # (long), decimal over bytes OR fixed (two's-complement
        # big-endian unscaled; fixed is what Java/Hive writers emit).
        # When the schema node ITSELF defines a named type (fixed),
        # compile the full definition minus the annotation so the
        # name registers.
        import datetime as _dt
        from decimal import Decimal as _Dec

        base_schema: Any = (
            t
            if t in _PRIMITIVES
            else {k: v for k, v in schema.items() if k != "logicalType"}
        )
        base = _compile_reader(base_schema, names)
        epoch_d = _dt.date(1970, 1, 1)
        epoch_ts = _dt.datetime(1970, 1, 1)
        if lt == "date":
            return lambda r: epoch_d + _dt.timedelta(days=base(r))
        if lt == "timestamp-micros":
            return lambda r: epoch_ts + _dt.timedelta(microseconds=base(r))
        if lt == "timestamp-millis":
            return lambda r: epoch_ts + _dt.timedelta(milliseconds=base(r))
        scale = int(schema.get("scale", 0))

        def _read_dec(r: Reader) -> "_Dec":
            raw = base(r)
            unscaled = int.from_bytes(raw, "big", signed=True)
            return _Dec(unscaled).scaleb(-scale)

        return _read_dec
    if t in _PRIMITIVES or isinstance(t, (list, dict)):
        # other logical types surface their base encoding
        return _compile_reader(t, names)
    if t == "record":
        fields: list[tuple[str, Callable[[Reader], Any]]] = []

        def _read_record(r: Reader) -> dict[str, Any]:
            return {name: fn(r) for name, fn in fields}

        _register(schema, _read_record, names)
        for f in schema["fields"]:
            fields.append((f["name"], _compile_reader(f["type"], names)))
        return _read_record
    if t == "enum":
        symbols = list(schema["symbols"])

        def _read_enum(r: Reader) -> str:
            return symbols[r.read_long()]

        _register(schema, _read_enum, names)
        return _read_enum
    if t == "fixed":
        size = int(schema["size"])

        def _read_fixed(r: Reader) -> bytes:
            return r.read(size)

        _register(schema, _read_fixed, names)
        return _read_fixed
    if t == "array":
        item = _compile_reader(schema["items"], names)

        def _read_array(r: Reader) -> list:
            out: list = []
            while True:
                count = r.read_long()
                if count == 0:
                    return out
                if count < 0:  # block with byte-size prefix
                    count = -count
                    r.read_long()
                for _ in range(count):
                    out.append(item(r))

        return _read_array
    if t == "map":
        val = _compile_reader(schema["values"], names)

        def _read_map(r: Reader) -> dict:
            out: dict = {}
            while True:
                count = r.read_long()
                if count == 0:
                    return out
                if count < 0:
                    count = -count
                    r.read_long()
                for _ in range(count):
                    k = r.read(r.read_long()).decode("utf-8")
                    out[k] = val(r)

        return _read_map
    raise NotImplementedError(f"avro: unsupported schema type {t!r}")


def _register(schema: dict, fn: Callable, names: dict) -> None:
    name = schema["name"]
    ns = schema.get("namespace")
    names[name] = fn
    if ns:
        names[f"{ns}.{name}"] = fn


def _compile_writer(
    schema: Any, names: dict[str, Callable[[Any, bytearray], None]]
) -> Callable[[Any, bytearray], None]:
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return lambda v, out: None
        if t == "boolean":
            return lambda v, out: out.append(1 if v else 0)
        if t in ("int", "long"):
            return lambda v, out: encode_long(int(v), out)
        if t == "float":
            return lambda v, out: out.extend(struct.pack("<f", float(v)))
        if t == "double":
            return lambda v, out: out.extend(struct.pack("<d", float(v)))
        if t == "bytes":

            def _w_bytes(v: bytes, out: bytearray) -> None:
                encode_long(len(v), out)
                out.extend(v)

            return _w_bytes
        if t == "string":

            def _w_str(v: str, out: bytearray) -> None:
                b = v.encode("utf-8")
                encode_long(len(b), out)
                out.extend(b)

            return _w_str
        if t in names:
            return names[t]
        raise NotImplementedError(f"avro: unknown type reference {t!r}")
    if isinstance(schema, list):
        branches = [_compile_writer(s, names) for s in schema]
        kinds = [s if isinstance(s, str) else None for s in schema]
        null_idx = kinds.index("null") if "null" in kinds else -1

        def _w_union(v: Any, out: bytearray) -> None:
            # the only union-branch dispatch this engine writes is the
            # ubiquitous ["null", T]; wider unions pick the first
            # non-null branch (the writer controls its own schemas).
            # _is_null, not `is None`: pandas hands missing values as
            # NaT/NaN, which would otherwise corrupt the non-null
            # branch (NaT.value is INT64_MIN) or crash int()
            if _is_null(v) and null_idx >= 0:
                encode_long(null_idx, out)
                return
            for i, fn in enumerate(branches):
                if i != null_idx:
                    encode_long(i, out)
                    fn(v, out)
                    return
            raise ValueError("avro: no union branch for value")

        return _w_union
    t = schema["type"]
    lt = schema.get("logicalType")
    if lt in ("date", "timestamp-micros", "timestamp-millis", "decimal"):
        import datetime as _dt
        from decimal import Decimal as _Dec

        base_schema: Any = (
            t
            if t in _PRIMITIVES
            else {k: v for k, v in schema.items() if k != "logicalType"}
        )
        base = _compile_writer(base_schema, names)
        fixed_size = int(schema["size"]) if t == "fixed" else None
        epoch_d = _dt.date(1970, 1, 1)
        epoch_ts = _dt.datetime(1970, 1, 1)
        if lt == "date":

            def _w_date(v, out: bytearray) -> None:
                if isinstance(v, _dt.date) and not isinstance(
                    v, _dt.datetime
                ):
                    v = (v - epoch_d).days
                base(int(v), out)

            return _w_date
        if lt in ("timestamp-micros", "timestamp-millis"):
            div = 1 if lt == "timestamp-micros" else 1000

            def _w_ts(v, out: bytearray) -> None:
                if hasattr(v, "value"):  # pandas.Timestamp: ns, exact
                    v = v.value // 1000
                elif isinstance(v, _dt.datetime):
                    td = v.replace(tzinfo=None) - epoch_ts
                    v = (
                        td.days * 86_400_000_000
                        + td.seconds * 1_000_000
                        + td.microseconds
                    )
                base(int(v) // div, out)

            return _w_ts
        scale = int(schema.get("scale", 0))

        def _w_dec(v, out: bytearray) -> None:
            unscaled = int(_Dec(v).scaleb(scale))
            n = (
                fixed_size
                if fixed_size is not None
                else max(1, (unscaled.bit_length() + 8) // 8)
            )
            base(unscaled.to_bytes(n, "big", signed=True), out)

        return _w_dec
    if t in _PRIMITIVES or isinstance(t, (list, dict)):
        return _compile_writer(t, names)
    if t == "record":
        fields: list[tuple[str, Callable[[Any, bytearray], None]]] = []

        def _w_record(v: dict, out: bytearray) -> None:
            for name, fn in fields:
                fn(v.get(name), out)

        _register(schema, _w_record, names)
        for f in schema["fields"]:
            fields.append((f["name"], _compile_writer(f["type"], names)))
        return _w_record
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}

        def _w_enum(v: str, out: bytearray) -> None:
            encode_long(index[v], out)

        _register(schema, _w_enum, names)
        return _w_enum
    if t == "fixed":
        size = int(schema["size"])

        def _w_fixed(v: bytes, out: bytearray) -> None:
            if len(v) != size:
                raise ValueError("avro: fixed size mismatch")
            out.extend(v)

        _register(schema, _w_fixed, names)
        return _w_fixed
    if t == "array":
        item = _compile_writer(schema["items"], names)

        def _w_array(v, out: bytearray) -> None:
            # len(), not truthiness: Arrow batches surface list columns
            # as numpy arrays, whose bool() is ambiguous
            if len(v):
                encode_long(len(v), out)
                for x in v:
                    item(x, out)
            encode_long(0, out)

        return _w_array
    if t == "map":
        val = _compile_writer(schema["values"], names)

        def _w_map(v: dict, out: bytearray) -> None:
            if len(v):
                encode_long(len(v), out)
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    encode_long(len(kb), out)
                    out.extend(kb)
                    val(x, out)
            encode_long(0, out)

        return _w_map
    raise NotImplementedError(f"avro: unsupported schema type {t!r}")


def compile_datum_reader(schema_json: str) -> Callable[[Reader], Any]:
    return _compile_reader(json.loads(schema_json), {})


def compile_datum_writer(schema_json: str) -> Callable[[Any, bytearray], None]:
    return _compile_writer(json.loads(schema_json), {})


# --------------------------------------------------------------------------
# container file layer (Avro spec "Object Container Files")
# --------------------------------------------------------------------------


def _read_meta_map(r: Reader) -> dict[str, bytes]:
    meta: dict[str, bytes] = {}
    while True:
        count = r.read_long()
        if count == 0:
            return meta
        if count < 0:
            count = -count
            r.read_long()
        for _ in range(count):
            k = r.read(r.read_long()).decode("utf-8")
            meta[k] = r.read(r.read_long())


def read_container_header(r: Reader) -> tuple[str, str, bytes]:
    """-> (schema_json, codec, sync_marker)."""
    if r.read(4) != MAGIC:
        raise ValueError("avro: bad magic")
    meta = _read_meta_map(r)
    schema_json = meta["avro.schema"].decode("utf-8")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} not vendored")
    return schema_json, codec, r.read(SYNC_SIZE)


def iter_container_blocks(raw: bytes) -> Iterator[list[Any]]:
    """Decode one container file, yielding records ONE BLOCK at a time
    (the memory-bounding unit — callers never hold the whole file's
    records)."""
    r = Reader(raw)
    schema_json, codec, sync = read_container_header(r)
    read_datum = compile_datum_reader(schema_json)
    while not r.eof():
        count = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        if r.read(SYNC_SIZE) != sync:
            raise ValueError("avro: sync marker mismatch (corrupt block)")
        br = Reader(block)
        yield [read_datum(br) for _ in range(count)]
        if not br.eof():
            raise ValueError("avro: trailing bytes in block")


def iter_container_records(raw: bytes) -> Iterator[Any]:
    for block in iter_container_blocks(raw):
        yield from block


class ContainerWriter:
    """Incremental container writer: header on open, one Avro block
    per ``write_block`` call. The sync marker is derived
    deterministically from the schema (md5) so a re-written file is
    byte-identical — the idempotent-sink discipline."""

    def __init__(
        self, fh: io.BufferedWriter, schema_json: str, codec: str = "deflate"
    ) -> None:
        import hashlib

        if codec not in ("null", "deflate"):
            raise NotImplementedError(f"avro: codec {codec!r} not vendored")
        self.fh = fh
        self.codec = codec
        self.write_datum = compile_datum_writer(schema_json)
        self.sync = hashlib.md5(schema_json.encode("utf-8")).digest()
        header = bytearray(MAGIC)
        meta = {
            "avro.schema": schema_json.encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
        }
        encode_long(len(meta), header)
        for k, v in sorted(meta.items()):
            kb = k.encode("utf-8")
            encode_long(len(kb), header)
            header.extend(kb)
            encode_long(len(v), header)
            header.extend(v)
        encode_long(0, header)
        header.extend(self.sync)
        fh.write(bytes(header))

    def write_block(self, records: Iterable[Any]) -> int:
        body = bytearray()
        n = 0
        for rec in records:
            self.write_datum(rec, body)
            n += 1
        return self.write_encoded_block(bytes(body), n)

    def write_encoded_block(self, body: bytes, n: int) -> int:
        """Frame and write an already-encoded block body (the
        column-vectorized fast path below) — byte-identical framing to
        :meth:`write_block` on the same rows."""
        if n == 0:
            return 0
        payload = body
        if self.codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        frame = bytearray()
        encode_long(n, frame)
        encode_long(len(payload), frame)
        frame.extend(payload)
        frame.extend(self.sync)
        self.fh.write(bytes(frame))
        return n


def write_container(
    path: str,
    schema_json: str,
    records: Iterable[Any],
    codec: str = "deflate",
    block_records: int = 4096,
) -> int:
    """Write records to one container file in ``block_records``-sized
    blocks; returns the record count."""
    total = 0
    batch: list[Any] = []
    with open(path, "wb") as fh:
        w = ContainerWriter(fh, schema_json, codec)
        for rec in records:
            batch.append(rec)
            if len(batch) >= block_records:
                total += w.write_block(batch)
                batch.clear()
        total += w.write_block(batch)
    return total


# --------------------------------------------------------------------------
# column-vectorized fast encode for flat primitive records
# --------------------------------------------------------------------------


def _varint_bytes(n: int) -> bytes:
    out = bytearray()
    encode_long(n, out)
    return bytes(out)


# varint prefixes for common short lengths, with and without the
# ["null", T] union branch byte (zigzag(1) = 0x02)
_LEN_PFX = [_varint_bytes(k) for k in range(256)]
_NLEN_PFX = [b"\x02" + _varint_bytes(k) for k in range(256)]
_NULL_B = b"\x00"


def flat_block_encoder(schema_json: str):
    """Column-vectorized block encoder for FLAT records — every field a
    primitive or the canonical ``["null", T]`` union. Returns
    ``encode(cols) -> bytes`` (``cols`` in field order, one sequence per
    field) whose output is byte-identical to driving the compiled
    per-record writer over the same rows: same union indexes, varints,
    IEEE little-endian floats, and the module's documented NaN/NaT→null
    coercion on null-union branches. Returns ``None`` when any field
    needs the generic closure-tree path (logical types, arrays, maps,
    nested records, enums, fixed, non-[null, T] unions) — callers fall
    back, nothing is ever approximated.

    Motivation (optimization guide §4.2 — hand whole batches to
    vectorized native code): the per-record path pays a dict build plus
    a closure-tree dispatch per value; column-wise encoding amortizes
    that to one numpy pass per fixed-width field and one lean local
    loop per varint/string field. Measured at sf0.1: the single-task
    600k-row container encode of ``source_avro_split_scan`` dropped
    4.1 → 1.7 s with bit-identical container bytes (equality pinned in
    tests/test_avro.py)."""
    import numpy as np

    try:
        schema = json.loads(schema_json)
    except ValueError:
        return None
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    specs: list[tuple[str, bool]] = []
    for f in schema.get("fields", []):
        ft = f.get("type")
        if isinstance(ft, list):
            if len(ft) != 2 or ft[0] != "null" or not isinstance(ft[1], str):
                return None
            t, nullable = ft[1], True
        elif isinstance(ft, str):
            t, nullable = ft, False
        else:
            return None
        if t not in ("string", "bytes", "double", "float", "long", "int", "boolean"):
            return None
        specs.append((t, nullable))
    if not specs:
        return None

    def _as_list(col) -> list:
        return col.tolist() if hasattr(col, "tolist") else list(col)

    def _enc_fixed(col, dt: str, width: int, nullable: bool) -> list[bytes]:
        raw = np.asarray(col)
        # Match the per-record writer's failure modes instead of numpy's
        # silent coercions (ADVICE r14): float(None) raises TypeError
        # there, so a None in a NON-nullable column must raise here too
        # (np.asarray(None, float) would silently write NaN); and
        # struct.pack('<f', 1e40) raises OverflowError, so a finite
        # double that lands outside float32 range must not silently
        # become inf. Nullable columns keep the documented NaN/None →
        # null coercion.
        if not nullable and raw.dtype == object:
            for v in raw.tolist():
                if v is None:
                    raise TypeError("avro: null value for non-null field")
        arr = np.ascontiguousarray(raw.astype(dt, copy=False))
        if width == 4 and raw.dtype != np.float32:
            wide = raw.astype("<f8", copy=False)
            clipped = np.isinf(arr) & np.isfinite(wide)
            if clipped.any():
                raise OverflowError("avro: float out of range for float32")
        n = len(arr)
        if nullable:
            pre = np.empty((n, width + 1), dtype=np.uint8)
            pre[:, 0] = 2
            pre[:, 1:] = arr.view(np.uint8).reshape(n, width)
            buf = pre.tobytes()
            w1 = width + 1
            mask = np.isnan(arr)
            if mask.any():
                return [
                    _NULL_B if m else buf[i * w1 : i * w1 + w1]
                    for i, m in enumerate(mask.tolist())
                ]
            return [buf[i * w1 : i * w1 + w1] for i in range(n)]
        buf = arr.tobytes()
        return [buf[i * width : (i + 1) * width] for i in range(n)]

    def _enc_str(col, nullable: bool, as_bytes: bool) -> list[bytes]:
        out: list[bytes] = []
        ap = out.append
        pfx = _NLEN_PFX if nullable else _LEN_PFX
        head_l = b"\x02" if nullable else b""
        for v in _as_list(col):
            if v is None or v != v:
                if not nullable:
                    raise TypeError("avro: null value for non-null field")
                ap(_NULL_B)
                continue
            b = v if as_bytes else v.encode("utf-8")
            lb = len(b)
            ap((pfx[lb] if lb < 256 else head_l + _varint_bytes(lb)) + b)
        return out

    def _enc_varint(col, nullable: bool) -> list[bytes]:
        out: list[bytes] = []
        ap = out.append
        for v in _as_list(col):
            if v is None or v != v:
                if not nullable:
                    raise TypeError("avro: null value for non-null field")
                ap(_NULL_B)
                continue
            b = _varint_bytes(int(v))
            ap(b"\x02" + b if nullable else b)
        return out

    _B_TRUE_N, _B_FALSE_N = b"\x02\x01", b"\x02\x00"
    _B_TRUE, _B_FALSE = b"\x01", b"\x00"

    def _enc_bool(col, nullable: bool) -> list[bytes]:
        out: list[bytes] = []
        ap = out.append
        for v in _as_list(col):
            if v is None or v != v:
                if not nullable:
                    raise TypeError("avro: null value for non-null field")
                ap(_NULL_B)
                continue
            if nullable:
                ap(_B_TRUE_N if v else _B_FALSE_N)
            else:
                ap(_B_TRUE if v else _B_FALSE)
        return out

    encoders: list = []
    for t, nullable in specs:
        if t == "double":
            encoders.append(lambda c, nu=nullable: _enc_fixed(c, "<f8", 8, nu))
        elif t == "float":
            encoders.append(lambda c, nu=nullable: _enc_fixed(c, "<f4", 4, nu))
        elif t in ("long", "int"):
            encoders.append(lambda c, nu=nullable: _enc_varint(c, nu))
        elif t == "boolean":
            encoders.append(lambda c, nu=nullable: _enc_bool(c, nu))
        else:  # string / bytes
            encoders.append(
                lambda c, nu=nullable, ab=(t == "bytes"): _enc_str(c, nu, ab)
            )

    from itertools import chain

    def encode(cols: list) -> bytes:
        per_field = [enc(c) for enc, c in zip(encoders, cols)]
        if len(per_field) == 1:
            return b"".join(per_field[0])
        return b"".join(chain.from_iterable(zip(*per_field)))

    return encode


# --------------------------------------------------------------------------
# Spark integration — distributed write (one container per partition,
# one block per Arrow batch) and binaryFile-sourced distributed read
# --------------------------------------------------------------------------


def write_avro(df, out_dir: str, schema_json: str, codec: str = "deflate"):
    """Distributed Avro write: each partition encodes its Arrow batches
    incrementally into ``out_dir/part-{pid:05d}.avro`` (one Avro block
    per batch — executor memory is bounded by the batch size). Returns
    the (path, n_rows) manifest DataFrame; materializing it IS the
    write job."""
    import pandas as pd

    from pyspark import TaskContext

    fields = [f["name"] for f in json.loads(schema_json)["fields"]]

    def _write(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        # column-vectorized fast path for flat primitive records
        # (byte-identical to the per-record writer; None → generic)
        fast = flat_block_encoder(schema_json)
        n = 0
        w = None
        fh = None
        try:
            for pdf in batches:
                if w is None:
                    fh = open(path, "wb")
                    w = ContainerWriter(fh, schema_json, codec)
                if fast is not None:
                    n += w.write_encoded_block(
                        fast([pdf[name] for name in fields]), len(pdf)
                    )
                else:
                    cols = [pdf[name].tolist() for name in fields]
                    n += w.write_block(
                        dict(zip(fields, vals)) for vals in zip(*cols)
                    )
        finally:
            if fh is not None:
                fh.close()
        if w is not None:
            yield pd.DataFrame({"path": [path], "n_rows": [n]})

    os.makedirs(out_dir, exist_ok=True)
    return df.mapInPandas(_write, "path string, n_rows long")


def read_file_header(fh) -> tuple[str, str, bytes, int]:
    """Parse the container header from an open binary file, reading
    incrementally (the header is a few hundred bytes unless the schema
    is enormous). -> (schema_json, codec, sync, header_end_offset)."""
    size = 1 << 16
    while True:
        fh.seek(0)
        buf = fh.read(size)
        try:
            r = Reader(buf)
            schema_json, codec, sync = read_container_header(r)
            return schema_json, codec, sync, r.pos
        except ValueError as e:
            # grow only on truncation; corrupt magic/meta stays loud
            if "truncated" not in str(e) or len(buf) < size:
                raise
            size *= 2


def _scan_to_block_start(fh, sync: bytes, start: int) -> int | None:
    """First block-start offset ≥ ``start``: blocks begin immediately
    after a sync marker, so scan forward from ``start − 16`` for the
    sync byte pattern (the Hadoop AvroInputFormat strategy — the spec
    frames blocks with the marker exactly so a reader can enter the
    stream at an arbitrary byte offset). Returns None when no further
    block starts exist. A data payload containing the marker bytes
    would mis-frame and fail loudly on the next sync check — the
    16-byte collision the spec's random-marker design makes
    negligible."""
    pos = max(start - SYNC_SIZE, 0)
    fh.seek(pos)
    tail = b""
    chunk_size = 1 << 20
    while True:
        chunk = fh.read(chunk_size)
        if not chunk:
            return None
        buf = tail + chunk
        idx = buf.find(sync)
        if idx != -1:
            return pos - len(tail) + idx + SYNC_SIZE
        tail = buf[-(SYNC_SIZE - 1) :]
        pos += len(chunk)


def iter_file_blocks(
    path: str, start: int, end: int
) -> Iterator[list[Any]]:
    """Decode the container blocks OWNED by the byte range
    ``[start, end)`` of one file — a block is owned by the split its
    first byte (the count varint, right after a sync or the header)
    falls into. Reads are seek+per-block, so memory is bounded by one
    block regardless of file or split size."""
    with open(path, "rb") as fh:
        schema_json, codec, sync, header_end = read_file_header(fh)
        read_datum = compile_datum_reader(schema_json)
        file_size = os.path.getsize(path)
        if start <= header_end:
            b = header_end
        else:
            nxt = _scan_to_block_start(fh, sync, start)
            if nxt is None:
                return
            b = nxt
        while b < end and b < file_size:
            fh.seek(b)
            head = fh.read(20)  # two varints ≤ 10 bytes each
            r = Reader(head)
            count = r.read_long()
            size = r.read_long()
            data_start = b + r.pos
            fh.seek(data_start)
            block = fh.read(size)
            if len(block) < size:
                raise ValueError("avro: truncated block")
            if fh.read(SYNC_SIZE) != sync:
                raise ValueError(
                    "avro: sync marker mismatch (corrupt block or "
                    "mis-framed split)"
                )
            if codec == "deflate":
                block = zlib.decompress(block, -15)
            br = Reader(block)
            yield [read_datum(br) for _ in range(count)]
            if not br.eof():
                raise ValueError("avro: trailing bytes in block")
            b = data_start + size + SYNC_SIZE


def plan_avro_splits(
    path: str, split_bytes: int
) -> list[tuple[str, int, int]]:
    """Driver-side split plan: ``(file, start, end)`` byte ranges of
    at most ``split_bytes`` each — metadata-sized (file listing +
    stat, never data reads). ``path`` may be one container file or a
    directory of them."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".avro")
        )
    else:
        files = [path]
    if not files:
        raise ValueError(f"avro: no container files at {path}")
    splits: list[tuple[str, int, int]] = []
    for f in files:
        size = os.path.getsize(f)
        n = max(1, (size + split_bytes - 1) // split_bytes)
        for k in range(n):
            splits.append((f, k * split_bytes, min((k + 1) * split_bytes, size)))
    return splits


def read_avro(spark, path: str, spark_schema: str, split_bytes: int = 128 << 20):
    """Distributed Avro read over SYNC-MARKER SPLITS: the driver plans
    byte ranges of ≤ ``split_bytes`` per task (one multi-GB container
    parallelizes across the cluster instead of pinning one task — and
    no file ever rides through a single Spark row, so the 2 GB column
    limit is out of the picture); each task seeks into its range,
    scans to the next sync marker, and decodes ONLY the blocks whose
    first byte it owns, one block-sized pandas frame at a time.
    Column order/types come from the caller's explicit Spark schema
    (the no-inferSchema rule)."""
    import pandas as pd

    from pyspark.sql import functions as F  # noqa: N812

    from jhu_data_parser_spark.session import local_frame

    import re

    # split on TOP-LEVEL commas only: "p decimal(12,2)" is one field
    parts = re.split(r",(?![^(<]*[)>])", spark_schema)
    names = [c.strip().split()[0].strip("`") for c in parts]

    splits = plan_avro_splits(path, split_bytes)
    sdf = local_frame(
        spark, splits, "path string, start long, end long"
    ).repartition(len(splits))

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for f, start, end in zip(pdf["path"], pdf["start"], pdf["end"]):
                # fail loudly on a name mismatch — rec.get() would
                # otherwise yield a silently all-null column for a
                # one-character schema typo
                with open(f, "rb") as fh:
                    hdr_schema, _, _, _ = read_file_header(fh)
                have = {f_["name"] for f_ in json.loads(hdr_schema)["fields"]}
                missing = [n for n in names if n not in have]
                if missing:
                    raise ValueError(
                        f"avro: requested columns {missing} not in "
                        f"container fields {sorted(have)}"
                    )
                for block in iter_file_blocks(f, int(start), int(end)):
                    yield pd.DataFrame(
                        {n: [rec.get(n) for rec in block] for n in names}
                    )

    out = sdf.mapInPandas(_decode, spark_schema)
    return out.select(*[F.col(n) for n in names])
