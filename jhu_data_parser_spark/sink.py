"""JSON lake sink (SURVEY.md §2.1 S3/S4/S5).

The reference PUT one JSON object per record to S3, with Hive-style
``type=<category>/`` prefixes for Athena partition pruning
(``src/parser.py:71-82``). The distributed equivalent is a single
``df.write.partitionBy("type").json(root)`` — tasks write multi-record
part files; record *content* and partition *layout* are the contract,
per-record filenames are not (they can't be reproduced distributed, and
nothing downstream reads them — Athena scans prefixes).

Null-valued fields are dropped by Spark's JSON writer — which exactly
reproduces the reference's absent-on-join-miss behavior (lookup fields
simply missing from the record, ``src/parser.py:64-70``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


from jhu_data_parser_spark.session import local_frame
__all__ = [
    "record_key",
    "write_partitioned_json",
    "write_flat_json",
    "write_bucketed_table",
    "overwrite_partitions",
    "write_partitioned_json_report",
    "merge_upsert",
    "compact_partitions",
    "zorder_key",
    "write_zordered",
]


def record_key(
    country_col: str = "country/region", province_col: str = "province/state"
) -> Column:
    """S5: the reference's object-key rule — ``<country>`` when the
    province is blank, else ``<country>-<province>``
    (``src/parser.py:72-75``). Kept as a data column; '' (not null)
    signals blank, matching DictReader semantics (P3)."""
    return F.when(
        F.col(province_col) == "", F.col(country_col)
    ).otherwise(F.concat_ws("-", F.col(country_col), F.col(province_col)))


def write_partitioned_json(df: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """S4: Hive-partitioned JSON lake (``partitioned/type=<cat>/``). One
    distributed job for all categories — the reference ran three
    sequential full passes (``src/parser.py:95-102``)."""
    df.write.mode(mode).partitionBy("type").json(out_dir)


def write_partitioned_json_report(
    df: DataFrame, out_dir: str, mode: str = "overwrite"
) -> DataFrame:
    """S4 write + observability: the reference checked every PUT's HTTP
    status and dumped failures (``src/parser.py:78-83``); a Spark job's
    commit protocol makes partial writes all-or-nothing instead, so the
    analogous surface is a *write report*: row metrics observed on the
    actual write job (``df.observe`` — no second scan of the data) plus
    a post-commit file audit per partition (a listing, not a read).

    Returns a one-row-per-partition DataFrame::

        type | n_files | n_bytes | n_records_total | n_null_type_total

    ``n_null_type_total`` > 0 is the "failed records" signal — rows
    whose partition key was null land in the
    ``type=__HIVE_DEFAULT_PARTITION__`` bucket, which downstream
    Athena-style pruning never reads.
    """
    from pyspark.sql import Observation

    spark = df.sparkSession
    obs = Observation("write_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.count_if(F.col("type").isNull()).alias("n_null_type"),
    )
    observed.write.mode(mode).partitionBy("type").json(out_dir)
    metrics = obs.get  # blocks until the write job's metrics arrive

    # Post-commit audit via the Hadoop FileSystem (works for any
    # scheme — local, HDFS, S3A); one recursive listing, zero data read.
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = path.getFileSystem(hconf)
    per_part: dict[str, list[int]] = {}
    it = fs.listFiles(path, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath().toString()
        name = status.getPath().getName()
        if name.startswith(("_", ".")):  # _SUCCESS, hidden markers
            continue
        part = next(
            (seg[5:] for seg in p.split("/") if seg.startswith("type=")), ""
        )
        agg = per_part.setdefault(part, [0, 0])
        agg[0] += 1
        agg[1] += status.getLen()
    rows = [
        (part, n_files, n_bytes, metrics["n_records"], metrics["n_null_type"])
        for part, (n_files, n_bytes) in sorted(per_part.items())
    ]
    return local_frame(
        spark,
        rows,
        "type string, n_files bigint, n_bytes bigint, "
        "n_records_total bigint, n_null_type_total bigint",
    )


def write_flat_json(df: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """The parser2.py flat layout (``flat/...``, ``src/parser2.py:20``)."""
    df.write.mode(mode).json(out_dir)


def overwrite_partitions(
    df: DataFrame,
    out_dir: str,
    partition_cols: list[str],
    fmt: str = "json",
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched.

    The incremental form of the reference's daily full refresh
    (``systemd/jhu-data-parser.timer:5``): at 100 TB you rewrite the
    day(s) that changed, not the decade. Spark's static overwrite mode
    would TRUNCATE the whole root first — the ``partitionOverwriteMode=
    dynamic`` setting scoped here is what makes this a partition-level
    upsert."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .format(fmt)
            .save(out_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_upsert(
    updates: DataFrame,
    lake_dir: str,
    key_cols: list[str],
    partition_col: str,
    version_col: str,
    fmt: str = "parquet",
) -> None:
    """Keyed upsert into a partitioned lake without a table format:
    read ONLY the partitions the update batch touches, anti-join out the
    superseded rows (same key, lower-or-equal ``version_col``), union
    the updates, dynamic-overwrite just those partitions.

    This is the CDC-merge the reference's daily full rewrite
    (``systemd/jhu-data-parser.timer:5``) approximates by brute force —
    at 100 TB the read+rewrite cost is bounded by the touched
    partitions, not the lake. (With a transactional table format —
    Delta/Iceberg — this is ``MERGE INTO``; the partition-overwrite
    form is the format-free equivalent with partition-level atomicity.)

    The touched-partition set never lands on the driver: pruning the
    existing lake to the update batch's partitions is a broadcast
    left-semi join on the partition column, which dynamic partition
    pruning turns into a partition-level skip at scan time — at 10⁶
    touched partitions a driver-side ``collect`` + IN-list would be the
    scale ceiling.
    """
    spark = updates.sparkSession
    if updates.isEmpty():
        return
    existing = (
        spark.read.format(fmt)
        .load(lake_dir)
        .join(
            F.broadcast(updates.select(partition_col).distinct()),
            [partition_col],
            "left_semi",
        )
    )
    keep = existing.join(
        F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    merged = keep.unionByName(updates)
    overwrite_partitions(merged, lake_dir, [partition_col], fmt=fmt)


def compact_partitions(
    spark,
    lake_dir: str,
    partition_col: str,
    target_mb: int = 128,
    fmt: str = "parquet",
) -> DataFrame:
    """Small-file compaction — the layout-maintenance job every
    streaming/CDC lake needs: rewrite each partition's many small part
    files into ~``target_mb`` files. Uses a filesystem listing (no data
    read) to size each partition, then one distributed rewrite with
    dynamic partition overwrite. Returns a report (partition, n_files
    before, n_bytes, target file count)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(lake_dir)
    fs = root.getFileSystem(hconf)
    per_part: dict[str, list[int]] = {}
    it = fs.listFiles(root, True)
    prefix = f"{partition_col}="
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        part = next(
            (
                seg[len(prefix) :]
                for seg in status.getPath().toString().split("/")
                if seg.startswith(prefix)
            ),
            None,
        )
        if part is None:
            continue
        agg = per_part.setdefault(part, [0, 0])
        agg[0] += 1
        agg[1] += status.getLen()
    report = [
        (part, n_files, n_bytes, max(1, n_bytes // (target_mb * 1024 * 1024) + 1))
        for part, (n_files, n_bytes) in sorted(per_part.items())
    ]
    # One rewrite job: repartition by the partition column so each
    # partition lands in few tasks; per-partition target file counts
    # beyond 1 come from maxRecordsPerFile-style knobs at real scale —
    # here the common small-file case (target 1-2 files) is exact.
    df = spark.read.format(fmt).load(lake_dir)
    compacted = df.repartition(max(len(report), 1), F.col(partition_col))
    overwrite_partitions(compacted, lake_dir, [partition_col], fmt=fmt)
    return local_frame(
        spark,
        report,
        f"{partition_col} string, n_files_before bigint, n_bytes bigint, "
        "n_files_target bigint",
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (hash-clustered) managed table — the co-located-join
    layout for 100 TB fact⋈fact joins [extension].

    Writing both sides of a recurring join bucketed (and sorted) on the
    join key means every subsequent join is exchange-free — and with
    ``sort_cols`` matching, sort-free: each task zips bucket i of both
    tables. The shuffle is paid ONCE at layout time instead of per
    query; at petabyte scale that's the difference between a join that
    re-shuffles the fact table nightly and one that streams merges.
    """
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)  # external table location
    writer.saveAsTable(table)


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns —
    the multi-dimensional clustering key behind Delta/Iceberg OPTIMIZE
    ZORDER. Interleaving the top ``bits`` bits of each dimension makes
    rows close in EITHER dimension land in nearby key ranges, so a
    range-partitioned write gives every file a narrow min/max envelope
    in BOTH columns — parquet row-group statistics then skip on filters
    against either one (single-column sort can only serve its own
    column). Pure bit arithmetic, whole-stage codegen, no UDF."""
    from pyspark.sql import Column

    a = F.col(col_a) if not isinstance(col_a, Column) else col_a
    b = F.col(col_b) if not isinstance(col_b, Column) else col_b
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(a.bitwiseAND(F.lit(1 << i)), i))
            .bitwiseOR(F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i + 1))
        )
    return z


def write_zordered(
    df: DataFrame,
    out_dir: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Cluster-write ``df`` as parquet z-ordered on (col_a, col_b):
    range-partition on the Morton key so each output file covers a
    compact rectangle of the 2-D key space, then drop the key. At 100 TB
    this is the layout job that turns full scans into stat-pruned reads
    for filters on either clustering column.

    Both dimensions are min/max-normalized to the same ``bits``-wide
    range before interleaving — with raw values, the wider-domain column
    monopolizes the significant bits and the narrow column's file
    envelopes stay global (measured: l_partkey envelope 0.85 of domain
    unnormalized → ~0.2 normalized). The bounds probe is one tiny agg —
    a layout-job cost, same class as the compaction listing."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    top = (1 << bits) - 1

    def scaled(c, lo, hi):
        span = max(int(hi) - int(lo), 1)
        return F.expr(f"CAST(({c} - {lo}) * {top} AS BIGINT) div {span}")

    keyed = df.withColumn(
        "__z", zorder_key(scaled(col_a, lo_a, hi_a), scaled(col_b, lo_b, hi_b), bits)
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(out_dir)
    )
