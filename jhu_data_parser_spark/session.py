"""SparkSession factory with a 100-TB-minded default configuration.

Single place where execution knobs live, so tests / bench / driver all
get identical behavior. Tuned for correctness-at-scale:

- AQE on (runtime partition coalescing, skew-join splitting, join-strategy
  switch) — the main defense against skew and mis-sized shuffles when the
  same plan runs at 1000× the test data.
- Arrow on — every pandas UDF / ``toPandas`` crosses the JVM↔Python
  boundary in columnar batches instead of pickled rows.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
  is env-overridable; on a real cluster AQE coalesces the excess.

Two rules cut a session's per-call fixed cost at the driver→JVM boundary:

- The generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 1000 classes, not Spark's 100. One curation pass (kNN-graph
  serving, Jaccard groups and survivors, rolling fingerprints) compiles
  125 distinct classes, so the default LRU evicted them in a cycle and
  every steady pass recompiled about 100 in Janino and re-JITted them.
  A full sf0.01 catalog sweep compiles 4,355, so the bound holds a
  working session, not the whole catalog. After three curation passes
  at this bound the JVM holds 166 MB of Metaspace and 63 MB of code
  cache, the same as at the default (167 MB and 64 MB). A vanilla
  session keeps Spark's default; nothing depends on the bound.
- Driver-built rows go through :func:`local_frame` (Arrow), never
  ``spark.createDataFrame(<list>, ...)``, which runs Python tasks.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

__all__ = ["get_spark", "local_frame", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "jhu-data-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry point works under the driver harness
    and on a real cluster (where ``master`` is supplied by spark-submit
    and this argument stays ``None`` → builder inherits it).
    """
    builder = SparkSession.builder.appName(app_name)

    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master("local[*]")

    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Adaptive execution: coalesce small shuffle partitions, split skewed
        # ones, switch SMJ→BHJ at runtime when a side turns out small.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every Python↔JVM data transfer (pandas UDFs, toPandas).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Bound Arrow batch ROWS so batch BYTES stay sane when a column
        # carries multi-KB payloads (media binaries): the 10k default ×
        # ~20 KB/row × 32 tasks is ~6 GB of transient batch buffers —
        # measured OOM on the 100× layout's phash pipeline. 2048 keeps
        # payload batches ≤ ~40 MB/task; scalar-column UDFs lose nothing
        # measurable from the smaller batches.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # Sane parquet scan granularity; at 100 TB this bounds task input size.
        "spark.sql.files.maxPartitionBytes": "128m",
        # Broadcast dims up to 64 MB — region/nation/lookup tables are tiny;
        # AQE can still upgrade larger sides at runtime.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Deterministic session timezone so date_format/oracle comparisons
        # never depend on host TZ.
        "spark.sql.session.timeZone": "UTC",
        # InferFiltersFromGenerate turns every explode(f(x)) into an extra
        # `size(f(x)) > 0` filter that predicate pushdown then re-plants
        # BELOW upstream exchanges — re-evaluating f(x) wholesale. When
        # f(x) contains a pandas UDF (MinHash signatures) that is a 2×
        # Python-eval per row (measured: the LSH candidate pass dropped
        # 1.25 s → 0.80 s at sf0.1 with the rule excluded). Our generates
        # run over fixed-width transform(sequence(...)) arrays where the
        # inferred guard can never help anyway.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # Some feeds (events) carry parquet TIMESTAMP(NANOS), which the
        # Spark reader rejects by default; read as long and convert in
        # sources/tables.py.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Hold a session's generated classes (working set and memory
        # cost in the module docstring).
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame of driver-built ``rows`` (tuples in field order) typed
    by ``schema``, a DDL string or a ``StructType``.

    The rows go to the JVM as one ``pyarrow.Table`` with the Arrow schema
    of ``schema``. ``spark.createDataFrame(<list>, schema)`` instead
    parallelizes them behind a ``PythonRDD`` map, so every action on the
    frame runs Python tasks that re-serialize the rows. Works in any
    session: the Arrow conf flags are not consulted. Rows are checked by
    the same type verifier as the list path, because Arrow's own
    conversion would, for one, truncate a float in a bigint column.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    verify = _make_type_verifier(struct)
    rows = list(rows)
    for row in rows:
        verify(row)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
