"""DictReader-compatible CSV scan (SURVEY.md §2.1 S2, §2.2 P3).

The reference reads CSVs with ``csv.DictReader`` — header-driven field
names and every value a *string*, with blank fields as ``''`` (never
None). Spark's CSV reader differs in exactly one observable way: blank
fields become NULL. That divergence silently changes record keys and
join matches downstream (SURVEY.md §7 hard-part a), so this source
normalizes NULL→'' right at the scan.

A scan runs no Spark job before its data job: the all-string schema
comes from the header line, read through the Hadoop FileSystem API
(the same call for file://, HDFS and S3A) and parsed with Python
``csv``, instead of letting ``spark.read.csv`` launch a header job to
infer it.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

__all__ = ["csv_header_schema", "read_csv_dictreader", "read_csv_with_file_order"]


def _header_line(spark: SparkSession, path: str) -> str | None:
    """The first non-blank line of ``path`` (a file, or the first data
    file of a directory or glob), decompressed by its Hadoop codec if
    any and with a UTF-8 BOM stripped — the line Spark's CSV reader
    takes as the header — or None for an empty input."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    matches = fs.globStatus(hpath)
    if not matches:
        raise FileNotFoundError(f"CSV path not found: {path}")
    statuses = []
    for st in matches:
        statuses.extend(fs.listStatus(st.getPath()) if st.isDirectory() else [st])
    files = sorted(
        (st.getPath() for st in statuses if st.isFile()
         and not st.getPath().getName().startswith(("_", "."))),
        key=lambda p: p.toString(),
    )
    if not files:
        return None
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(
        files[0]
    )
    stream = fs.open(files[0])
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        line = reader.readLine()
        while line is not None and not line.strip():
            line = reader.readLine()
    finally:
        stream.close()
    return None if line is None else line.removeprefix("\ufeff")


def csv_header_schema(spark: SparkSession, path: str) -> StructType:
    """All-string schema named by ``path``'s CSV header, without a
    Spark job. Raises ``ValueError`` naming the path for an empty file
    and for a blank or duplicate column name — where Spark would invent
    ``_c<i>``/``<name><i>`` names and ``csv.DictReader`` would silently
    collapse duplicates; ``FileNotFoundError`` for a missing path."""
    line = _header_line(spark, path)
    if line is None:
        raise ValueError(f"CSV has no header line: {path}")
    names = next(csv.reader([line]))
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    seen = set()
    for i, name in enumerate(names):
        if not name.strip():
            raise ValueError(f"CSV header column {i} is blank: {path}")
        key = name if case_sensitive else name.lower()
        if key in seen:
            raise ValueError(f"CSV header repeats column {name!r}: {path}")
        seen.add(key)
    return StructType([StructField(n, StringType(), True) for n in names])


def read_csv_dictreader(spark: SparkSession, path: str) -> DataFrame:
    """Header-named, all-string, ''-for-blank CSV scan — semantics
    identical to ``csv.DictReader`` over the same bytes
    (``src/parser.py:61``, ``src/parser2.py:97``). No ``inferSchema``:
    type casts are explicit plan steps (SURVEY.md §1.2), exactly like the
    reference's per-field ``int()``/``float()`` calls. The schema comes
    from :func:`csv_header_schema`, so building the scan runs no job."""
    df = (
        spark.read.option("header", True)
        .schema(csv_header_schema(spark, path))
        # Python csv escapes a quote by doubling it ("" inside a quoted
        # field); Spark's default escape is backslash — set escape=quote
        # to match DictReader byte-for-byte on fields like
        # "Quoted ""inner"" name".
        .option("escape", '"')
        .csv(path)
    )
    return df.select(*[F.coalesce(F.col(f"`{c}`"), F.lit("")).alias(c) for c in df.columns])


def read_csv_with_file_order(
    spark: SparkSession, path: str, order_col: str = "__file_order"
) -> DataFrame:
    """Same scan plus a monotonically increasing id capturing file order
    — needed where the reference's semantics depend on "first row in the
    file" (the first-match lookup join, ``src/parser.py:70``). The id is
    (partition << 33) + row-in-partition; for contiguously-split single
    files its sort order equals file order."""
    return read_csv_dictreader(spark, path).withColumn(
        order_col, F.monotonically_increasing_id()
    )
