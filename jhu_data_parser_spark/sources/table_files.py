"""Copy-on-write core shared by the vendored table formats.

Delta-lite (``delta_lite.py``) and Iceberg-lite (``iceberg_lite.py``)
follow the same log-plus-immutable-files design: executors write
parquet data files, the driver records them in a snapshot, and
row-level DML rewrites only the files that hold a matching row. The
formats differ in how a snapshot is encoded (a JSON action log versus
JSON metadata over Avro manifests) and in their conflict rules. The
data-file half lives here, once:

- :func:`stage_files` — one distributed parquet write into a scratch
  dir; non-empty files move into the table under fresh names (a
  zero-row task output never reaches a snapshot);
- :func:`footer_stats` — per-column min/max/null counts aggregated
  from the parquet footer's row-group statistics (metadata-only, no
  second data pass), values in the caller's encoding;
- :func:`range_may_match` — the min/max comparator behind data
  skipping;
- :func:`touched_files`, :func:`delete_rewrite`,
  :func:`merge_rewrite` — the touched-file scan and the survivor and
  merge rows of a copy-on-write DELETE or MERGE;
- :func:`claim` — the exclusive, atomic create of a commit file;
- :func:`evolve_schema` — the trailing-column schema evolution rule.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from typing import Callable, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from jhu_data_parser_spark import cache

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class StagedFile(NamedTuple):
    path: str  # relative to the table dir
    partition: dict  # Hive dir components, unescaped (null → None)
    footer: object  # pyarrow FileMetaData
    size: int


def stage_files(
    df: DataFrame,
    table: str,
    partition_by: list[str],
    name: Callable[[int, str], str],
) -> list[StagedFile]:
    """Write ``df`` with one distributed parquet job (Hive-partitioned
    by ``partition_by``) into a scratch dir, then move every non-empty
    file to the table-relative path ``name(i, partition_dir)``. Files
    are visited in sorted staged-path order and ``i`` counts the files
    kept. Zero-row files are dropped: they carry no rows, so they
    never reach a snapshot."""
    import pyarrow.parquet as pq

    stage = cache.scratch_dir("table_stage")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        staged = sorted(
            os.path.relpath(os.path.join(root, f), stage)
            for root, _dirs, files in os.walk(stage)
            for f in files
            if f.endswith(".parquet")
        )
        out: list[StagedFile] = []
        for rel in staged:
            footer = pq.ParquetFile(os.path.join(stage, rel)).metadata
            if footer.num_rows == 0:
                continue
            part_dir = os.path.dirname(rel)
            dst = name(len(out), part_dir)
            full = os.path.join(table, dst)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            shutil.move(os.path.join(stage, rel), full)
            out.append(
                StagedFile(
                    dst,
                    _hive_partition(part_dir),
                    footer,
                    os.path.getsize(full),
                )
            )
        return out
    finally:
        cache.remove_now(stage)


def _hive_partition(part_dir: str) -> dict[str, str | None]:
    values: dict[str, str | None] = {}
    for comp in part_dir.split(os.sep) if part_dir else []:
        if "=" not in comp:
            raise ValueError(f"non-partition dir {comp!r} in staged layout")
        k, _, v = comp.partition("=")
        values[unquote(k)] = None if v == _HIVE_NULL else unquote(v)
    return values


def footer_stats(footer, encode: Callable) -> tuple[dict, dict, dict]:
    """``(mins, maxs, null_counts)`` per top-level column, aggregated
    over the footer's row groups in the ``encode(column, value)``
    encoding (min/max compare encoded values). A column is left out
    when any row group lacks min/max or has min/max pyarrow cannot
    decode, when its values are byte arrays (writers may truncate their
    statistics, and an inexact bound must never prune a file), or when
    ``encode`` returns None for a bound."""
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    skip: set = set()
    for rg in range(footer.num_row_groups):
        g = footer.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in skip:
                continue  # nested leaves: file-level stats are top-level
            st = col.statistics
            lo = hi = None
            if (
                st is not None
                and st.has_min_max
                and st.physical_type
                not in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")
            ):
                # pyarrow cannot decode some statistics (INT32/INT64
                # decimals): such a column gets none
                with contextlib.suppress(NotImplementedError):
                    lo, hi = encode(name, st.min), encode(name, st.max)
            if lo is None or hi is None:
                skip.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
    for name in skip:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return mins, maxs, nulls


def range_may_match(lo, hi, op: str, value) -> bool:
    """Can a file whose column spans ``[lo, hi]`` hold a row with
    ``column op value`` (op in < <= > >= = ==)? False only when the
    bounds rule it out."""
    if op in (">", ">="):
        return not (hi < value or (op == ">" and hi == value))
    if op in ("<", "<="):
        return not (lo > value or (op == "<" and lo == value))
    if op in ("=", "=="):
        return not (value < lo or value > hi)
    raise ValueError(f"unsupported pruning op {op!r}")


def rel_from_uri(uri: str, table: str) -> str:
    """Table-relative path of an ``input_file_name()`` URI (scheme
    dropped, percent-escapes decoded)."""
    return os.path.relpath(unquote(urlparse(uri).path), os.path.abspath(table))


def touched_files(
    table: str, rows: DataFrame, match: Callable[[DataFrame], DataFrame]
) -> dict[str, int]:
    """Matching-row count per data file: each scanned row is tagged
    with ``input_file_name`` before ``match`` (a filter or semi-join)
    runs, so only the per-file counts reach the driver."""
    hits = match(rows.withColumn("_f", F.input_file_name()))
    return {
        rel_from_uri(r["_f"], table): r["count"]
        for r in hits.groupBy("_f").count().collect()
    }


def _survivors(
    touched: dict[str, int],
    record_counts: dict[str, int],
    read_files: Callable[[list[str]], DataFrame],
    keep: Callable[[DataFrame], DataFrame],
    cols: list[str],
) -> DataFrame | None:
    """Rows of the touched files that ``keep`` retains. A file whose
    every row matched is dropped without a rewrite; None when that
    holds for every touched file."""
    rewrite = sorted(p for p, n in touched.items() if record_counts.get(p) != n)
    return keep(read_files(rewrite)).select(*cols) if rewrite else None


def delete_rewrite(
    table: str,
    candidates: DataFrame,
    predicate: str,
    cols: list[str],
    record_counts: dict[str, int],
    read_files: Callable[[list[str]], DataFrame],
) -> tuple[dict[str, int], DataFrame | None]:
    """Copy-on-write DELETE WHERE: the files holding a matching row and
    their survivors — rows the predicate does NOT positively match (a
    NULL predicate keeps the row, SQL DELETE semantics)."""
    touched = touched_files(
        table, candidates, lambda d: d.filter(F.expr(predicate))
    )
    keep = ~F.coalesce(F.expr(predicate), F.lit(False))
    return touched, _survivors(
        touched, record_counts, read_files, lambda d: d.filter(keep), cols
    )


def merge_rewrite(
    table: str,
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    cols: list[str],
    record_counts: dict[str, int],
    read_files: Callable[[list[str]], DataFrame],
) -> tuple[dict[str, int], DataFrame]:
    """Copy-on-write MERGE upsert (update matched keys, insert the
    rest): the files holding a source key and the rows that replace
    them — their non-matching rows plus the whole (key-unique)
    source."""
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} "
            f"!= table columns {sorted(cols)}"
        )
    missing = [k for k in on if k not in cols]
    if missing:
        raise ValueError(f"merge keys not in table: {missing}")
    keys = source.select(*on)
    touched = touched_files(
        table, target, lambda d: d.join(keys, on, "left_semi")
    )
    kept = _survivors(
        touched,
        record_counts,
        read_files,
        lambda d: d.join(keys, on, "left_anti"),
        cols,
    )
    new_rows = source.select(*cols)
    return touched, new_rows if kept is None else kept.unionByName(new_rows)


def claim(path: str, write: Callable) -> None:
    """Create ``path`` exclusively and atomically: ``write(fh)`` fills
    a private temp file that link(2) then publishes as ``path``, so a
    reader never sees a partial file and two writers never overwrite
    each other. ``FileExistsError`` means ``path`` is taken; the
    caller retries or raises."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as fh:
            write(fh)
        os.link(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def evolve_schema(
    committed: StructType, incoming: StructType, allow: bool
) -> StructType | None:
    """Schema check/evolution for a commit against the committed
    schema. Same fields → None. New TRAILING fields with ``allow``
    (merge_schema) → the widened schema (old files read the new
    columns as null — parquet missing-column semantics). Anything
    else — a type change, a dropped column, new columns without
    ``allow`` — raises: schema drift must never be silent."""
    have = {f.name: f for f in committed.fields}
    new_fields = []
    for f in incoming.fields:
        if f.name not in have:
            new_fields.append(f)
        elif f.dataType != have[f.name].dataType:
            raise ValueError(
                f"column {f.name!r} type {f.dataType.simpleString()} "
                f"!= committed {have[f.name].dataType.simpleString()}"
            )
    missing = [n for n in have if n not in incoming.fieldNames()]
    if missing:
        raise ValueError(f"commit missing committed columns {missing}")
    if not new_fields:
        return None
    if not allow:
        raise ValueError(
            f"new columns {[f.name for f in new_fields]} require "
            "merge_schema=True"
        )
    return StructType(list(committed.fields) + new_fields)
