"""Shared copy-on-write core of the vendored table formats
(``sources/table_files.py``): the footer-stats aggregation and range
comparator without Spark, the exclusive claim, and both formats' DML
under a table path that Spark percent-escapes."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from jhu_data_parser_spark.sources.table_files import (
    claim,
    footer_stats,
    range_may_match,
    rel_from_uri,
)


def test_range_may_match_prunes_only_provable_misses():
    assert range_may_match(10, 20, ">", 19)
    assert not range_may_match(10, 20, ">", 20)
    assert range_may_match(10, 20, ">=", 20)
    assert not range_may_match(10, 20, "<", 10)
    assert range_may_match(10, 20, "<=", 10)
    assert range_may_match(10, 20, "=", 15)
    assert not range_may_match(10, 20, "==", 21)
    with pytest.raises(ValueError, match="unsupported"):
        range_may_match(10, 20, "!=", 15)


def test_footer_stats_aggregates_row_groups_and_skips_byte_arrays(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    tbl = pa.table(
        {
            "id": pa.array([5, 1, None, 9], pa.int64()),
            "s": pa.array(["b", "a", "c", "d"]),
        }
    )
    pq.write_table(tbl, path, row_group_size=2)
    footer = pq.ParquetFile(path).metadata
    assert footer.num_row_groups == 2
    mins, maxs, nulls = footer_stats(footer, lambda _c, v: v)
    assert (mins, maxs, nulls) == ({"id": 1}, {"id": 9}, {"id": 1})
    # an encoder that rejects a bound drops the whole column
    assert footer_stats(footer, lambda _c, v: None if v == 9 else v)[0] == {}


def test_claim_is_exclusive_and_leaves_no_partial_file(tmp_path):
    path = str(tmp_path / "v1.json")
    claim(path, lambda fh: fh.write("first"))
    with pytest.raises(FileExistsError):
        claim(path, lambda fh: fh.write("second"))
    assert open(path).read() == "first"

    def torn(fh):
        fh.write("{")
        raise OSError("disk full")

    other = str(tmp_path / "v2.json")
    with pytest.raises(OSError, match="disk full"):
        claim(other, torn)
    assert sorted(os.listdir(tmp_path)) == ["v1.json"]


def test_rel_from_uri_decodes_escaped_paths():
    table = "/data/esc dir %41"
    uri = "file:///data/esc%20dir%20%2541/k=a%3Ab/part-0.parquet"
    assert rel_from_uri(uri, table) == os.path.join("k=a:b", "part-0.parquet")


def test_dml_under_escaped_table_path(spark):
    """DELETE and MERGE of both formats map ``input_file_name`` URIs
    back to logged paths under a directory whose name Spark escapes (a
    space and a ``%`` followed by hex digits)."""
    from jhu_data_parser_spark.sources.delta_lite import (
        delete_delta,
        merge_delta,
        read_delta,
        write_delta,
    )
    from jhu_data_parser_spark.sources.iceberg_lite import (
        delete_iceberg,
        merge_iceberg,
        read_iceberg,
        write_iceberg,
    )

    df = spark.range(100).select("id", (F.col("id") * 1.0).alias("v"))
    src = spark.range(0, 110, 10).select("id", F.lit(-1.0).alias("v"))
    formats = [
        (write_delta, read_delta, delete_delta, merge_delta),
        (write_iceberg, read_iceberg, delete_iceberg, merge_iceberg),
    ]
    with tempfile.TemporaryDirectory() as root:
        for write, read, delete, merge in formats:
            t = os.path.join(root, f"esc dir %41 {write.__name__}")
            write(df.repartition(4), t, "overwrite")
            delete(spark, t, "id >= 50")
            merge(spark, t, src, on=["id"])
            got = {r.id: r.v for r in read(spark, t).collect()}
            want = {i: float(i) for i in range(50)}
            want.update({i: -1.0 for i in range(0, 110, 10)})
            assert got == want, write.__name__


def test_commit_with_int_backed_decimal_column(spark):
    """Spark stores DECIMAL(p <= 18) as INT32/INT64, whose footer
    statistics pyarrow cannot decode: the column gets no stats or
    bounds, and both formats still commit and read it back."""
    from jhu_data_parser_spark.sources.delta_lite import read_delta, write_delta
    from jhu_data_parser_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    df = spark.range(6).select(
        "id", (F.col("id") / 4).cast("decimal(10,2)").alias("amt")
    )
    with tempfile.TemporaryDirectory() as root:
        for write, read in ((write_delta, read_delta), (write_iceberg, read_iceberg)):
            t = os.path.join(root, write.__name__)
            write(df, t, "overwrite")
            got = sorted((r.id, str(r.amt)) for r in read(spark, t).collect())
            assert got == [(i, f"{i / 4:.2f}") for i in range(6)]
