"""Session artifact cache: the one home of every fitted or built
artifact the engine reuses within a session (index builds, model fits,
checkpointed analysis cores, loaded tables), and of the scratch dirs
the engine leaves for interpreter exit.

**Key rule.** An entry's key is ``(applicationId, kind, tag,
fingerprint, params)``. The fingerprint (:func:`fingerprint`) is the
sorted ``(uri, mtime_ns, size)`` of the frame's input files, so an
in-place rewrite under the same file names misses. It covers files,
not the plan, so it names a frame's content only for a bare scan:
any other frame is cached only under a non-empty ``tag``, and one tag
must mean one frame definition (a plan digest cannot stand in: Spark's
expression ids grow globally, so the same frame built twice digests
differently). A frame with no input files, or with one that does not
stat, is never cached. The application id keeps checkpointed frames
from crossing SparkContexts.

**Bounds.** Each kind holds at most ``_BOUNDS[kind]`` entries and
drops its oldest first.

**Directories.** A kind in ``_DIR_KINDS`` owns one artifact dir per
entry, made by :func:`scratch_dir` and handed to the build. When a
rebuild supersedes an entry (same kind, tag and params over the same
corpus directories) its dir is deleted at once. A dir evicted for
capacity may still back a lazy frame an earlier caller holds, so it is
removed at interpreter exit, with every other :func:`scratch_dir`.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

# No bound is below the distinct keys one full catalog sweep at one
# scale factor creates (sf0.01): ivf_index 1, ivfpq_index 8,
# knng_index 2, unigram_fit 1, rep_analysis 2, distinct_probe 1,
# v3_frames 1, lr_fit 1, pq_fit 2, table 10, binsrc 1.
_BOUNDS = {
    "ivf_index": 8,
    "ivfpq_index": 8,
    "knng_index": 8,
    "unigram_fit": 16,
    "rep_analysis": 32,
    "distinct_probe": 64,
    "v3_frames": 4,
    "lr_fit": 4,
    "pq_fit": 8,
    "table": 32,
    "binsrc": 4,
}
_DIR_KINDS = frozenset({"ivf_index", "ivfpq_index", "knng_index", "binsrc"})
_ENTRIES: dict[str, dict] = {kind: {} for kind in _BOUNDS}
_AT_EXIT: set[str] = set()
atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True) for p in _AT_EXIT])


def scratch_dir(kind: str) -> str:
    """A fresh ``jdps_<kind>_*`` dir, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=f"jdps_{kind}_")
    _AT_EXIT.add(path)
    return path


def remove_now(path: str) -> None:
    """Delete a :func:`scratch_dir` now and drop it from the exit list."""
    shutil.rmtree(path, ignore_errors=True)
    _AT_EXIT.discard(path)


def _is_plain_scan(df: DataFrame) -> bool:
    """True when the analyzed plan is a bare file scan (Relation, under
    at most SubqueryAlias/View nodes). A filter, sample or join over
    the same files, or a Project rewriting a column in place, shares
    the fingerprint but not the content."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        node = re.sub(r"^[\s+:|-]*", "", line).split(" ", 1)[0]
        if node and node not in {"Relation", "SubqueryAlias", "View"}:
            return False
    return True


def fingerprint(df: DataFrame, tag: str = "") -> "tuple | None":
    """Sorted ``(uri, mtime_ns, size)`` of ``df``'s input files, or
    None (do not cache) per the module's key rule. ``file:`` URIs are
    decoded before the stat: Spark escapes them (``a%20b``)."""
    if not tag and not _is_plain_scan(df):
        return None
    out = []
    for uri in sorted(df.inputFiles()):
        path = unquote(urlparse(uri).path) if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
        except OSError:
            return None
        out.append((uri, st.st_mtime_ns, st.st_size))
    return tuple(out) or None


def _corpus_dirs(fp: tuple) -> tuple:
    return tuple(sorted({os.path.dirname(uri) for (uri, _, _) in fp}))


def get_or_build(kind: str, df, params: tuple, build, tag: str = ""):
    """The ``kind`` artifact for ``df`` and ``params``: served from the
    cache, or ``build()`` (``build(path)`` for a kind that owns a dir)
    and cached under the key rule. ``df`` may be a SparkSession for a
    kind keyed by ``params`` alone (``load_table``)."""
    if isinstance(df, SparkSession):
        spark, fp = df, ()
    else:
        spark, fp = df.sparkSession, fingerprint(df, tag)
    entries = _ENTRIES[kind]
    if fp is not None:
        key = (spark.sparkContext.applicationId, kind, tag, fp, params)
        if key in entries:
            return entries[key][0]
    path = scratch_dir(kind) if kind in _DIR_KINDS else None
    value = build() if path is None else build(path)
    if fp is None:
        return value
    same, dirs = key[:3] + key[4:], _corpus_dirs(fp)
    for k in [k for k in entries if k[:3] + k[4:] == same]:
        if _corpus_dirs(k[3]) == dirs:
            old_dir = entries.pop(k)[1]
            if old_dir:
                remove_now(old_dir)
    while len(entries) >= _BOUNDS[kind]:
        entries.pop(next(iter(entries)))
    entries[key] = (value, path)
    return value


def clear() -> None:
    """Empty every kind. Their dirs stay until exit: a lazy frame an
    earlier caller holds may still read them."""
    for entries in _ENTRIES.values():
        entries.clear()
