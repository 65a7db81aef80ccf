"""Minimal Delta-Lake-protocol table layer (pure Python, no jar).

The delta-spark connector is absent from this distribution, but the
Delta transaction protocol is PUBLIC (delta.io PROTOCOL.md) and its
log is plain JSON — so the table layer a modern lake user expects
(ACID-ish commits, appends, snapshot reads, time travel, checkpoints,
partitioned tables) is vendored directly, the same precedent as the
Avro codec:

- data files are ordinary parquet written by a DISTRIBUTED Spark job
  into a staging dir, then moved into the table dir by the driver —
  exactly Delta's execution model (executors write data, the driver
  commits metadata). Staging, footer stats, range skipping, the
  touched-file DML scan and the commit claim are the copy-on-write
  core shared with Iceberg-lite (``table_files.py``); this module owns
  the log encoding and the conflict rules;
- ``_delta_log/{version:020d}.json`` holds one action per line:
  ``protocol`` / ``metaData`` (with Spark's own schemaString) on the
  first commit, ``add`` entries per data file, ``remove`` entries on
  overwrite;
- a snapshot at version V replays actions 0..V: active files =
  adds − removes; the reader feeds that file list plus the committed
  schema straight to the parquet scan, so Catalyst pushdown/pruning
  work unchanged;
- every ``_CHECKPOINT_INTERVAL`` (10, the protocol's convention)
  commits the writer emits ``{version:020d}.checkpoint.parquet`` —
  the fully-replayed state (protocol, metaData, active adds, txn
  high-water marks) as one parquet file — plus the ``_last_checkpoint``
  pointer file. Replay then seeds from the newest checkpoint ≤ the
  target version and applies only the JSON log TAIL, so snapshot
  construction is O(interval), not O(commit count), and JSON logs at
  or below a checkpoint may be deleted (log cleanup) without losing
  the latest snapshot;
- ``partition_by=[cols]`` lays data files out in Hive-style
  ``col=value/`` dirs, records ``partitionColumns`` in ``metaData``
  and per-file ``partitionValues`` in each ``add`` (the protocol
  shape), and the snapshot read hands Spark the file list plus the
  table ``basePath`` — Catalyst reconstructs the partition columns
  from the layout and a filter on them becomes ``PartitionFilters``
  (file groups pruned at planning time), the Athena-partition-pruning
  story of ``/root/reference/src/parser.py:73-75`` carried into the
  table layer.

Beyond snapshots/time travel the layer carries the lakehouse DML +
maintenance surface: per-file min/max ``stats`` in every add (footer-
aggregated) with read-side data skipping; file-pruned MERGE upsert,
row-level DELETE WHERE, OPTIMIZE bin-packing + Z-order (all as atomic
remove+add commits, ``dataChange=false`` for reorganizations);
append-only CHANGE DATA FEED (``read_delta_changes``); schema
evolution under ``merge_schema``; CHECK constraints
(``delta.constraints.*`` in metaData configuration, validated on
every commit); retention-bounded ``vacuum_delta``; and OPTIMISTIC
concurrent commits (atomic link(2) claim per version — blind appends
retry, non-commuting commits raise ``ConcurrentWriteConflict``).

Scope (documented, loud): no deletion vectors / column mapping
(reader version >1 fails with ``NotImplementedError`` — never a
wrong read); CDF refuses rewrite commits rather than emitting
per-row change types.
"""

from __future__ import annotations

import functools
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.table_files import (
    claim,
    delete_rewrite,
    evolve_schema,
    footer_stats,
    merge_rewrite,
    range_may_match,
    stage_files,
    touched_files,
)

_LOG_DIR = "_delta_log"
_CHECKPOINT_INTERVAL = 10


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed the contended version and the two
    commits do not commute (overwrite, schema change, or rewrites of
    the same files). Blind appends never raise this — they retry at
    the next version automatically."""


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(
        table, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
    )


def _versions(table: str) -> list[int]:
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    out = []
    for f in os.listdir(log):
        if f.endswith(".json") and not f.startswith("_"):
            try:
                out.append(int(f[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _checkpoint_versions(table: str) -> list[int]:
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    out = []
    suffix = ".checkpoint.parquet"
    for f in os.listdir(log):
        if f.endswith(suffix):
            try:
                out.append(int(f[: -len(suffix)]))
            except ValueError:
                continue
    return sorted(out)


def latest_version(table: str) -> int:
    """Highest committed version — max over JSON commits AND
    checkpoints, so a table whose pre-checkpoint JSON logs were
    cleaned up still reports correctly."""
    vs = _versions(table)
    cps = _checkpoint_versions(table)
    if not vs and not cps:
        raise ValueError(f"delta-lite: not a table: {table}")
    return max(vs + cps)


class _Snapshot:
    """Fully-replayed table state at one version."""

    __slots__ = (
        "active",
        "schema_string",
        "partition_columns",
        "txns",
        "configuration",
    )

    def __init__(self) -> None:
        self.active: dict[str, dict] = {}  # rel path -> add action dict
        self.schema_string: str | None = None
        self.partition_columns: list[str] = []
        self.txns: dict[str, int] = {}  # appId -> high-water version
        self.configuration: dict[str, str] = {}  # delta.constraints.* etc


def _apply_action(state: _Snapshot, a: dict) -> None:
    if "protocol" in a:
        if a["protocol"].get("minReaderVersion", 1) > 1:
            raise NotImplementedError(
                "delta-lite: reader version "
                f"{a['protocol']['minReaderVersion']} not supported"
            )
    elif "metaData" in a:
        state.schema_string = a["metaData"]["schemaString"]
        state.partition_columns = list(
            a["metaData"].get("partitionColumns") or []
        )
        state.configuration = dict(a["metaData"].get("configuration") or {})
    elif "add" in a:
        state.active[a["add"]["path"]] = a["add"]
    elif "remove" in a:
        state.active.pop(a["remove"]["path"], None)
    elif "txn" in a:
        t = a["txn"]
        prev = state.txns.get(t["appId"], -1)
        state.txns[t["appId"]] = max(prev, int(t["version"]))


def _load_checkpoint(table: str, cp_version: int) -> _Snapshot:
    import pyarrow.parquet as pq

    state = _Snapshot()
    tbl = pq.read_table(_checkpoint_path(table, cp_version))
    for row in tbl.to_pylist():
        for kind in ("protocol", "metaData", "add", "txn"):
            if row.get(kind) is not None:
                a = {kind: dict(row[kind])}
                if kind == "add":
                    # pyarrow surfaces map<string,string> as a list of
                    # (k, v) tuples — normalize back to the dict shape
                    # every other code path carries
                    a["add"]["partitionValues"] = dict(
                        a["add"].get("partitionValues") or []
                    )
                elif kind == "metaData":
                    a["metaData"]["configuration"] = dict(
                        a["metaData"].get("configuration") or []
                    )
                _apply_action(state, a)
    if state.schema_string is None:
        raise ValueError(
            f"delta-lite: checkpoint {cp_version} at {table} has no metaData"
        )
    return state


def _write_checkpoint(table: str, version: int, state: _Snapshot) -> None:
    """One parquet file with the replayed state: nullable struct
    columns ``protocol`` / ``metaData`` / ``add`` / ``txn``, one
    action per row (the protocol's checkpoint shape, minus remove
    tombstones — this layer never vacuums, so expired removes need
    not ride along). Driver-side and metadata-sized by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    protocol_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])

    rows: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "schemaString": state.schema_string,
                "partitionColumns": state.partition_columns,
                "configuration": sorted(state.configuration.items()),
            }
        },
    ]
    for app_id in sorted(state.txns):
        rows.append({"txn": {"appId": app_id, "version": state.txns[app_id]}})
    for path in sorted(state.active):
        a = state.active[path]
        rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": sorted(
                        (a.get("partitionValues") or {}).items()
                    ),
                    "size": int(a.get("size", 0)),
                    "modificationTime": int(a.get("modificationTime", 0)),
                    "dataChange": bool(a.get("dataChange", True)),
                    "stats": a.get("stats"),
                }
            }
        )
    schema = pa.schema(
        [
            ("protocol", protocol_t),
            ("metaData", meta_t),
            ("add", add_t),
            ("txn", txn_t),
        ]
    )
    cols = {
        name: [r.get(name) for r in rows]
        for name in ("protocol", "metaData", "add", "txn")
    }
    arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
    cp = _checkpoint_path(table, version)
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), cp)
    # pointer file (protocol: _delta_log/_last_checkpoint, JSON body),
    # write-then-rename so readers never see a torn pointer
    ptr = os.path.join(table, _LOG_DIR, "_last_checkpoint")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.rename(tmp, ptr)


def _replay(table: str, version: int) -> _Snapshot:
    """State at ``version``: seed from the newest checkpoint ≤ version
    (so replay is O(log tail), and JSON logs at/below a checkpoint may
    have been cleaned up), then apply the JSON tail."""
    state = _Snapshot()
    start = -1
    cps = [c for c in _checkpoint_versions(table) if c <= version]
    if cps:
        start = cps[-1]
        state = _load_checkpoint(table, start)
    for v in _versions(table):
        if v <= start or v > version:
            continue
        with open(_log_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    _apply_action(state, json.loads(line))
    if state.schema_string is None:
        raise ValueError(f"delta-lite: no metaData in log at {table}")
    return state


def last_txn_version(table: str, app_id: str) -> int:
    """Highest committed ``txn`` version for ``app_id`` (−1 if none) —
    the protocol's idempotent-streaming-sink handshake: a re-delivered
    micro-batch is recognized and skipped by its (appId, version).
    Checkpoint-seeded, so the cost is the log tail, not the full log."""
    try:
        v = latest_version(table)
    except ValueError:
        return -1
    return _replay(table, v).txns.get(app_id, -1)


_STATS_SKIP_TYPES = ("string", "binary")


def _stats_value(v):
    """JSON encoding for a footer min/max: numbers stay numbers;
    date/timestamp become ISO strings (lexicographic == chronological,
    so the skipping comparator needs no type dispatch). Returns None
    for values that don't encode cleanly (the file is then kept)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        # NaN min/max carries no ordering information
        return None if v != v else v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _stats_json(footer) -> str:
    """Per-file stats for the ``add`` action (the protocol's ``stats``
    JSON string): numRecords + min/max/nullCount per top-level column,
    aggregated from the parquet FOOTER at commit time (metadata-only,
    never a second data pass). String/binary columns get none."""
    mins, maxs, nulls = footer_stats(footer, lambda _col, v: _stats_value(v))
    return json.dumps(
        {
            "numRecords": footer.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        sort_keys=True,
    )


def _pv_may_equal(pv: str | None, value) -> bool:
    """Can a Hive-encoded partition value equal ``value``? False ONLY
    on a provable mismatch (the skipping contract: never drop a
    possible match)."""
    if value is None or pv is None:
        return pv is None and value is None
    if isinstance(value, bool):
        return pv == ("true" if value else "false")
    if isinstance(value, (int, float)):
        try:
            return float(pv) == float(value)
        except ValueError:
            return True  # unparseable dir value: keep the file
    if isinstance(value, str):
        return pv == value
    return True  # unknown value type: keep the file


def _file_may_match(add: dict, conjuncts: list[tuple]) -> bool:
    """Data skipping: can the file possibly hold a row satisfying ALL
    ``(col, op, value)`` conjuncts? Missing stats (or a column without
    them) keep the file — skipping must never drop a potential match.
    Values compare in the :func:`_stats_value` encoding (pass
    datetime/date objects for temporal columns)."""
    raw = add.get("stats")
    try:
        stats = json.loads(raw) if raw else {}
    except (TypeError, ValueError):
        stats = {}
    mins, maxs = stats.get("minValues", {}), stats.get("maxValues", {})
    pv = add.get("partitionValues") or {}
    for col, op, value in conjuncts:
        if col in pv:
            # partition columns carry no footer stats; their logged
            # value supports exact equality pruning (ranges would
            # compare string-encoded values — conservatively kept).
            # Prune only on a PROVABLE mismatch of the Hive-encoded
            # string: bools encode lowercase, numbers compare
            # numerically (dir "1.0" must match value 1), anything
            # unparseable keeps the file.
            if op in ("=", "=="):
                if not _pv_may_equal(pv[col], value):
                    return False
            continue
        v = _stats_value(value)
        if v is None or col not in mins or col not in maxs:
            continue
        if not range_may_match(mins[col], maxs[col], op, v):
            return False
    return True


def _schema(state: _Snapshot) -> StructType:
    return StructType.fromJson(json.loads(state.schema_string))


def _metadata_action(schema: StructType, parts: list, config: dict) -> dict:
    return {
        "metaData": {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": parts,
            "configuration": config,
        }
    }


def _read_files(
    spark: SparkSession, table: str, state: _Snapshot, rels: list[str]
) -> DataFrame:
    """The given data files under the committed schema; partitioned
    tables read with ``basePath`` so the Hive layout reconstructs the
    partition columns."""
    reader = spark.read.schema(_schema(state))
    if state.partition_columns:
        reader = reader.option("basePath", table)
    return reader.parquet(*[os.path.join(table, p) for p in rels])


def _record_counts(state: _Snapshot) -> dict[str, int]:
    return {
        p: json.loads(a["stats"]).get("numRecords")
        for p, a in state.active.items()
        if a.get("stats")
    }


def write_delta(
    spark_df: DataFrame,
    table: str,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
    remove_paths: list[str] | None = None,
    data_change: bool = True,
    merge_schema: bool = False,
    constraints: dict[str, str] | None = None,
    read_version: int | None = None,
    _read_state: _Snapshot | None = None,
) -> int:
    """Commit the DataFrame to the Delta-lite table; returns the new
    version (or the current one when an idempotent txn is skipped).
    ``overwrite`` removes all previously-active files in the commit
    (log-only — old data files stay for time travel, the Delta
    semantics); ``append`` adds alongside them. The data write is one
    distributed parquet job to a staging dir; only the file RENAMES
    and the log append are driver-side (metadata-sized).

    ``partition_by`` (first commit only; later commits inherit the
    committed ``partitionColumns`` and reject a conflicting value)
    partitions the data files Hive-style and records per-file
    ``partitionValues`` — snapshot reads then partition-prune.

    ``txn=(app_id, version)`` records the protocol's ``txn`` action
    with the commit and SKIPS the whole write when that (appId,
    version) is already committed — exactly-once streaming appends
    under checkpoint replay / upstream re-delivery.

    Each ``add`` carries the protocol's ``stats`` JSON (numRecords +
    per-column min/max/nullCount), aggregated from the parquet FOOTER
    row-group statistics at commit time — metadata-only, no second
    data pass; :func:`read_delta`'s ``skip`` then prunes files from
    the log alone, before any file is opened.

    ``remove_paths`` (``append`` mode only — MERGE/OPTIMIZE commits)
    additionally logs ``remove`` actions for those active files in the
    SAME commit: the atomic swap-files shape. ``data_change=False``
    marks adds and removes as reorganization (compaction), letting
    incremental consumers skip the commit.

    ``read_version`` (REQUIRED with ``remove_paths``) is the snapshot
    version the rewrite was computed against. A rewrite commits only
    as ``read_version + 1``: any commit that landed between the
    snapshot read and this call — the widest race window, the whole
    Spark join/rewrite job — makes the claimed version differ and the
    commit raises :class:`ConcurrentWriteConflict` instead of
    silently committing a result computed against a stale snapshot
    (Delta's read-snapshot conflict check; the link(2) claim below
    only arbitrates the narrower same-version race).

    ``_read_state`` is the snapshot at ``read_version`` that a rewrite
    caller has already replayed; it stands in for the replay of the
    current version when no commit has landed since.

    Every ``_CHECKPOINT_INTERVAL`` versions the commit also writes the
    checkpoint parquet + ``_last_checkpoint`` pointer, bounding every
    later replay to the log tail."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode {mode!r}")
    if remove_paths and mode != "append":
        raise ValueError("delta-lite: remove_paths requires mode='append'")
    if remove_paths and read_version is None:
        raise ValueError(
            "delta-lite: remove_paths requires read_version (the "
            "snapshot version the rewrite was computed against)"
        )
    os.makedirs(os.path.join(table, _LOG_DIR), exist_ok=True)
    versions = _versions(table)
    cps = _checkpoint_versions(table)
    current = max(versions + cps) if (versions or cps) else None

    prev_state: _Snapshot | None = None
    evolved: StructType | None = None
    if current is not None:
        prev_state = (
            _read_state
            if _read_state is not None and current == read_version
            else _replay(table, current)
        )
        evolved = evolve_schema(
            _schema(prev_state), spark_df.schema, merge_schema
        )
        committed_parts = prev_state.partition_columns
        if partition_by is not None and list(partition_by) != committed_parts:
            raise ValueError(
                f"delta-lite: table is partitioned by {committed_parts}, "
                f"got partition_by={list(partition_by)}"
            )
        parts = committed_parts
        if txn is not None and int(txn[1]) <= prev_state.txns.get(
            txn[0], -1
        ):
            return current  # idempotent re-delivery: no-op
        if constraints is not None:
            raise ValueError(
                "delta-lite: constraints are set at table creation"
            )
        config = dict(prev_state.configuration)
    else:
        parts = list(partition_by or [])
        config = {
            f"delta.constraints.{k}": v
            for k, v in (constraints or {}).items()
        }
    # CHECK constraints (the protocol's delta.constraints.* metadata):
    # every commit validates the incoming rows — one limit(1) probe per
    # constraint over the input frame (Delta folds this into the write
    # job; the lite layer pays a probe scan and stays loud)
    for key in sorted(config):
        if not key.startswith("delta.constraints."):
            continue
        pred = config[key]
        # collect the probe ONCE: a count()-then-collect() pair can
        # disagree on a nondeterministic input and mask the real
        # violation message behind an IndexError
        bad_rows = (
            spark_df.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            .limit(1)
            .collect()
        )
        if bad_rows:
            name = key[len("delta.constraints.") :]
            raise ValueError(
                f"delta-lite: CHECK constraint {name!r} ({pred}) "
                f"violated, e.g. by row {bad_rows[0].asDict()}"
            )
    version = (current + 1) if current is not None else 0
    if remove_paths and version != read_version + 1:
        # a commit landed between the rewrite's snapshot read and this
        # call (the whole Spark job ran in that window): the rewrite's
        # output may coexist with rows it never read — refuse BEFORE
        # staging any data (the link(2) race below only catches two
        # writers claiming the SAME version)
        raise ConcurrentWriteConflict(
            f"delta-lite: rewrite computed at version {read_version} "
            f"but the table is now at {version - 1} — recompute "
            "against the current snapshot and retry"
        )

    staged = stage_files(
        spark_df,
        table,
        parts,
        lambda i, part_dir: os.path.join(
            part_dir, f"part-{i:05d}-{uuid.uuid4().hex}-v{version}.parquet"
        ),
    )
    adds = [
        {
            "add": {
                "path": f.path,
                "partitionValues": f.partition,
                "size": f.size,
                "modificationTime": int(
                    os.path.getmtime(os.path.join(table, f.path)) * 1000
                ),
                "dataChange": data_change,
                "stats": _stats_json(f.footer),
            }
        }
        for f in staged
    ]

    actions: list[dict] = []
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(_metadata_action(spark_df.schema, parts, config))
    elif mode == "overwrite":
        assert prev_state is not None
        for pth in sorted(prev_state.active):
            actions.append(
                {"remove": {"path": pth, "dataChange": True}}
            )
    if evolved is not None:
        # schema evolution: the commit re-emits metaData with the
        # widened schema; files from earlier commits read the new
        # trailing columns as null (parquet missing-column semantics)
        actions.append(_metadata_action(evolved, parts, config))
    if remove_paths:
        active_now = prev_state.active if prev_state is not None else {}
        unknown = sorted(set(remove_paths) - set(active_now))
        if unknown:
            raise ValueError(
                f"delta-lite: remove_paths not active: {unknown[:3]}"
            )
        for pth in sorted(set(remove_paths)):
            actions.append(
                {"remove": {"path": pth, "dataChange": data_change}}
            )
    if txn is not None:
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1])}}
        )
    actions.extend(adds)
    # OPTIMISTIC commit: the log file is claimed with an atomic
    # link(2) — exclusive create, never an overwriting rename — so two
    # writers racing for the same version cannot clobber each other.
    # The loser re-validates against the winner's state and either
    # retries at the next version (blind appends commute — Delta's
    # ConcurrentAppend allowance), skips (its txn landed concurrently),
    # or raises ConcurrentWriteConflict (overwrites, schema changes,
    # and rewrites of files the winner touched do NOT commute).
    while True:
        try:
            claim(
                _log_path(table, version),
                lambda fh: fh.writelines(json.dumps(a) + "\n" for a in actions),
            )
            break
        except FileExistsError:
            new_state = _replay(table, version)
            if txn is not None and int(txn[1]) <= new_state.txns.get(
                txn[0], -1
            ):
                # the same (appId, version) landed concurrently: this
                # delivery is a duplicate; its staged files stay
                # orphaned-and-invisible (never logged — Delta's own
                # abort semantics; vacuum ignores unreferenced files)
                return version
            if mode != "append" or evolved is not None or version == 0:
                raise ConcurrentWriteConflict(
                    f"delta-lite: version {version} at {table} was "
                    "committed concurrently and this commit does not "
                    "commute (overwrite / schema change / table create)"
                )
            if remove_paths:
                # a rewrite (MERGE/UPDATE/DELETE/OPTIMIZE) was computed
                # against a snapshot the winner has since changed: even
                # if our removed files are all still active, the winner
                # may have ADDED rows this rewrite should have read
                # (concurrent insert of a merge key, rows matching a
                # delete predicate) — committing anyway would violate
                # serializability, so ONLY blind appends retry
                # (Delta's ConcurrentAppendException discipline)
                raise ConcurrentWriteConflict(
                    f"delta-lite: concurrent commit at version {version} "
                    "invalidated this rewrite's snapshot (files it "
                    "touches may coexist with rows it never read) — "
                    "recompute against the new snapshot and retry"
                )
            # blind-append retry: re-validate against the WINNER's
            # metadata — if the winner evolved the schema, this append
            # was validated against the old one and must not commit
            # (Delta's MetadataChangedException discipline)
            try:
                drift = evolve_schema(
                    _schema(new_state), spark_df.schema, False
                )
            except ValueError as exc:
                raise ConcurrentWriteConflict(
                    f"delta-lite: version {version} at {table} changed "
                    f"the table schema concurrently ({exc}) — this "
                    "append was validated against the old schema"
                ) from exc
            if drift is not None:
                raise ConcurrentWriteConflict(
                    f"delta-lite: version {version} at {table} changed "
                    "the table schema concurrently — this append was "
                    "validated against the old schema"
                )
            version += 1

    if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(table, version, _replay(table, version))
    return version


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    skip: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot read (optionally time-traveled to ``version``): replay
    the log (checkpoint-seeded), feed the active file list + the
    COMMITTED schema to the parquet scan — pushdown, pruning and
    column projection are the ordinary Catalyst paths over exactly the
    committed files. Partitioned tables read with ``basePath`` so the
    Hive layout reconstructs the partition columns and a filter on
    them becomes ``PartitionFilters`` (planning-time file pruning).

    ``skip`` — conjunctive ``(col, op, value)`` predicates evaluated
    against each file's logged min/max stats (op in < <= > >= =):
    files that provably hold no matching row are dropped from the scan
    BEFORE any file is opened (Delta data skipping — at 100 TB the
    planner never even lists the skipped files; parquet row-group
    pruning only helps after the footer read). Skipping is a
    file-PRUNING hint only, never a row filter: callers still apply
    the real predicate, so a conservative keep (missing stats, string
    columns) costs correctness nothing."""
    v = latest_version(table) if version is None else version
    if version is not None:
        known = set(_versions(table)) | set(_checkpoint_versions(table))
        if v not in known:
            raise ValueError(
                f"delta-lite: version {v} not in {sorted(known)}"
            )
    return _scan(spark, table, _replay(table, v), skip)


def _scan(
    spark: SparkSession,
    table: str,
    state: _Snapshot,
    skip: list[tuple] | None = None,
) -> DataFrame:
    """:func:`read_delta` of an already-replayed snapshot."""
    active = state.active
    if skip:
        active = {
            p: a for p, a in active.items() if _file_may_match(a, skip)
        }
    if not active:
        return local_frame(spark, [], _schema(state))
    return _read_files(spark, table, state, sorted(active))


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE upsert (``WHEN MATCHED THEN UPDATE SET * / WHEN NOT
    MATCHED THEN INSERT *``): source rows replace target rows sharing
    the ``on`` key; unmatched source rows insert. ``source`` must be
    key-unique (Delta's multiple-matches error is the caller's
    contract here).

    The execution is Delta's file-pruned rewrite, not a table rewrite:

    1. a distributed semi-join of the snapshot (tagged with
       ``input_file_name``) against the source keys finds the TOUCHED
       files — the only driver-side state is that file list
       (metadata-sized);
    2. only touched files are re-read; their non-matching rows are
       kept (anti-join) and unioned with the full source (matched
       rows = updates, unmatched = inserts — both are just the source
       rows, since every matching target row lives in a touched file);
    3. one commit removes the touched files and adds the rewritten
       ones — readers see the merge atomically, untouched files are
       never rewritten (at 100 TB the write cost scales with the
       UPDATE footprint, not the table).

    ``txn=(app_id, version)`` makes the merge exactly-once under
    re-delivery: an already-committed (appId, version) is recognized
    from the high-water mark BEFORE any join work and skipped.
    Returns the committed version."""
    v = latest_version(table)
    state = _replay(table, v)
    if txn is not None and int(txn[1]) <= state.txns.get(txn[0], -1):
        return v  # idempotent re-delivery: skip before any join work
    touched, new_data = merge_rewrite(
        table,
        _scan(spark, table, state),
        source,
        on,
        _schema(state).fieldNames(),
        _record_counts(state),
        functools.partial(_read_files, spark, table, state),
    )
    return write_delta(
        new_data,
        table,
        mode="append",
        remove_paths=sorted(touched),
        txn=txn,
        read_version=v,
        _read_state=state,
    )


def delete_delta(
    spark: SparkSession,
    table: str,
    predicate: str,
    skip: list[tuple] | None = None,
) -> int:
    """Row-level DELETE WHERE: rewrite only the files that hold a
    matching row (same file-pruned shape as :func:`merge_delta` —
    the semi-scan finds touched files, survivors are rewritten, one
    atomic remove+add commit; at 100 TB the cost scales with the
    delete footprint). ``skip`` (the same ``(col, op, value)``
    conjuncts as :func:`read_delta`) narrows the candidate files from
    the log's stats BEFORE any file is opened — a delete against a
    date range touches only that range's files. Files whose every row
    matches are dropped without a rewrite (remove-only). Returns the
    committed version."""
    v = latest_version(table)
    state = _replay(table, v)
    touched, survivors = delete_rewrite(
        table,
        _scan(spark, table, state, skip),
        predicate,
        _schema(state).fieldNames(),
        _record_counts(state),
        functools.partial(_read_files, spark, table, state),
    )
    if not touched:
        return v  # nothing matches: no commit (idempotent no-op)
    if survivors is None:  # every touched file matched in full
        survivors = local_frame(spark, [], _schema(state))
    return write_delta(
        survivors,
        table,
        mode="append",
        remove_paths=sorted(touched),
        read_version=v,
        _read_state=state,
    )


def update_delta(
    spark: SparkSession,
    table: str,
    set_exprs: dict[str, str],
    predicate: str,
    skip: list[tuple] | None = None,
) -> int:
    """Row-level UPDATE SET ... WHERE: the same stats-pruned
    touched-file rewrite as :func:`delete_delta` — candidate files
    narrowed from the log's min/max (``skip``), a semi-scan finds
    files holding a matching row, only those rewrite (matching rows
    get ``set_exprs`` applied, the rest pass through), one atomic
    remove+add commit. ``set_exprs`` maps column name → SQL
    expression (evaluated against the pre-update row, so swaps like
    ``{"a": "b", "b": "a"}`` behave like SQL UPDATE). Updating a
    partition column of a partitioned table is supported — rewritten
    rows land in their new partition dirs. No-match updates commit
    nothing. Returns the committed version."""
    v = latest_version(table)
    state = _replay(table, v)
    schema = _schema(state)
    cols = schema.fieldNames()
    unknown_cols = sorted(set(set_exprs) - set(cols))
    if unknown_cols:
        raise ValueError(
            f"delta-lite: update targets unknown columns {unknown_cols}"
        )
    touched = sorted(
        touched_files(
            table,
            _scan(spark, table, state, skip),
            lambda d: d.filter(F.expr(predicate)),
        )
    )
    if not touched:
        return v
    rows = _read_files(spark, table, state, touched)
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    rewritten = rows.select(
        *[
            F.when(hit, F.expr(set_exprs[c]))
            .otherwise(F.col(c))
            .cast(schema[c].dataType)  # pin the committed column type
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in cols
        ]
    )
    return write_delta(
        rewritten,
        table,
        mode="append",
        remove_paths=touched,
        read_version=v,
        _read_state=state,
    )


def optimize_delta(
    spark: SparkSession,
    table: str,
    zorder_by: list[str] | None = None,
    target_files: int = 1,
) -> int:
    """OPTIMIZE: bin-pack the snapshot's active files into
    ``target_files`` per partition (plain compaction), optionally
    Z-ORDER clustered on two numeric columns first. The rewrite
    commits ``remove`` (old) + ``add`` (new) with ``dataChange=false``
    — the table CONTENT is bit-identical (hash-gated in the catalog);
    only the layout changes, and incremental consumers may skip the
    commit.

    Z-ordering: each ``zorder_by`` column maps to an 8-bit linear
    bucket between its global min/max (one tiny aggregate — two
    numbers per column driver-side), the per-row Z-value interleaves
    the two columns' bucket bits, and the rewrite range-partitions +
    sorts on Z — so every output file covers a narrow range of BOTH
    columns and the logged min/max stats make :func:`read_delta`'s
    ``skip`` effective on EITHER column (multi-dimensional data
    skipping, the reason Z-order exists). Returns the committed
    version."""
    v = latest_version(table)
    state = _replay(table, v)
    if not state.active:
        return v
    snap = _scan(spark, table, state)
    cols = snap.columns
    if zorder_by:
        if len(zorder_by) != 2:
            raise ValueError("delta-lite: zorder_by takes exactly 2 columns")
        a, b = zorder_by
        lims = snap.agg(
            F.min(a).alias("a_lo"),
            F.max(a).alias("a_hi"),
            F.min(b).alias("b_lo"),
            F.max(b).alias("b_hi"),
        ).collect()[0]

        def bucket(col: str, lo, hi) -> str:
            if lo is None or hi is None or float(hi) == float(lo):
                return "CAST(0 AS INT)"
            return (
                f"CAST(least(255.0, greatest(0.0, "
                f"floor((CAST(`{col}` AS DOUBLE) - {float(lo)!r}) "
                f"/ ({float(hi)!r} - {float(lo)!r}) * 256.0))) AS INT)"
            )

        ba = bucket(a, lims["a_lo"], lims["a_hi"])
        bb = bucket(b, lims["b_lo"], lims["b_hi"])
        z = " + ".join(
            f"(shiftleft(shiftright(_ba, {i}) & 1, {2 * i + 1}) + "
            f"shiftleft(shiftright(_bb, {i}) & 1, {2 * i}))"
            for i in range(8)
        )
        packed = (
            snap.withColumn("_ba", F.expr(ba))
            .withColumn("_bb", F.expr(bb))
            .withColumn("_z", F.expr(z))
            .repartitionByRange(max(1, target_files), "_z")
            .sortWithinPartitions("_z")
            .drop("_ba", "_bb", "_z")
        )
    else:
        packed = snap.repartition(max(1, target_files))
    return write_delta(
        packed.select(*cols),
        table,
        mode="append",
        remove_paths=sorted(state.active),
        data_change=False,
        read_version=v,
        _read_state=state,
    )


def read_delta_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental CHANGE read (CDF-lite): the rows ADDED by each
    commit in ``[from_version, to_version]``, tagged with
    ``_commit_version`` — the incremental-consumer handshake (a
    downstream job reads only what landed since its last high-water
    mark, never rescanning the table; at 100 TB this is the difference
    between a daily delta and a daily full scan).

    Append-only ranges only, loudly: a commit whose ``remove`` actions
    carry ``dataChange=true`` (overwrite / MERGE rewrite) raises
    ``NotImplementedError`` — its adds re-contain previously-delivered
    rows, so emitting them as inserts would double-count (full CDF
    needs per-row change types; this layer refuses rather than lies).
    Reorganization commits (``dataChange=false`` — OPTIMIZE) are
    correctly SKIPPED: their adds carry no new rows. Commit JSONs in
    range must still exist (checkpoint-cleaned logs can't be diffed)."""
    v_hi = latest_version(table) if to_version is None else to_version
    have = set(_versions(table))
    want = [v for v in range(from_version, v_hi + 1)]
    missing = sorted(set(want) - have)
    if missing:
        raise ValueError(
            f"delta-lite: commit logs missing for versions {missing[:5]} "
            "(cleaned up past a checkpoint?) — cannot diff"
        )
    state = _replay(table, v_hi)
    per_version: list[tuple[int, list[str]]] = []
    for v in want:
        adds: list[str] = []
        with open(_log_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "remove" in a and a["remove"].get("dataChange", True):
                    raise NotImplementedError(
                        f"delta-lite: version {v} rewrites data "
                        "(dataChange=true remove) — append-only CDF "
                        "cannot represent it"
                    )
                if "add" in a and a["add"].get("dataChange", True):
                    adds.append(a["add"]["path"])
        per_version.append((v, adds))
    parts = [
        _read_files(spark, table, state, sorted(adds)).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        for v, adds in per_version
        if adds
    ]
    if not parts:
        return local_frame(
            spark, [], _schema(state).add("_commit_version", "long")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def vacuum_delta(table: str, keep_from_version: int) -> list[str]:
    """Physically delete data files no snapshot ≥ ``keep_from_version``
    references (the retention-bounded VACUUM: reclaims the space
    time travel was holding; versions before the cutoff stop being
    readable — by explicit choice here, vs Delta's retention-hours
    default). Returns the deleted relative paths. The log itself is
    untouched (history stays listable); a time-travel read below the
    cutoff fails at scan time on the missing file — vacuum trades
    exactly that for space, same as Delta."""
    v_hi = latest_version(table)
    known = set(_versions(table)) | set(_checkpoint_versions(table))
    keep: set = set()
    for v in range(keep_from_version, v_hi + 1):
        if v in known:
            keep.update(_replay(table, v).active)
    referenced: set = set()
    for v in _versions(table):
        with open(_log_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "add" in a:
                        referenced.add(a["add"]["path"])
    for cp in _checkpoint_versions(table):
        referenced.update(_load_checkpoint(table, cp).active)
    deleted = []
    for rel in sorted(referenced - keep):
        p = os.path.join(table, rel)
        if os.path.isfile(p):
            os.remove(p)
            deleted.append(rel)
    return deleted


def table_history(table: str) -> list[dict]:
    """Per-version commit summary (files added/removed) — the DESCRIBE
    HISTORY analogue. Covers the JSON commits still on disk (pre-
    checkpoint logs may have been cleaned up)."""
    out = []
    for v in _versions(table):
        adds = removes = 0
        with open(_log_path(table, v)) as fh:
            for line in fh:
                if '"add"' in line:
                    adds += 1
                elif '"remove"' in line:
                    removes += 1
        out.append({"version": v, "adds": adds, "removes": removes})
    return out
