"""Session-level rules (``jhu_data_parser_spark/session.py``): driver-built
rows reach the JVM through ``local_frame`` (Arrow, no Python tasks), and
the codegen cache holds a curation session's working set."""

from __future__ import annotations

import ast
import datetime
import decimal
import os
import shutil
from collections import Counter

import pytest

from jhu_data_parser_spark.session import local_frame

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jhu_data_parser_spark"
)

# One column per type a converted call site uses, each with a null.
_TYPED_ROWS = [
    (
        "i int, l bigint, s string, a array<bigint>",
        [
            (1, 2**40, "x", [3, None, -2**62]),
            (None, None, None, None),
            (-7, 0, "", []),
            (1, 2**40, "x", [3, None, -2**62]),
        ],
    ),
    ("id long, d2 long", [(5, 9), (None, 1)]),
]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("ddl,rows", _TYPED_ROWS)
def test_local_frame_equals_list_path(spark, ddl, rows):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema

    def multiset(df):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    assert multiset(got) == multiset(want)
    assert "PythonRDD" not in _lineage(got)
    assert "PythonRDD" in _lineage(want)


def test_local_frame_zero_rows_nested_schema(spark):
    from pyspark.sql.types import _parse_datatype_string

    ddl = (
        "ts timestamp, amount decimal(12,2), "
        "meta struct<k: string, v: array<bigint>>, tags map<string,int>"
    )
    struct = _parse_datatype_string(ddl)
    for schema in (ddl, struct):
        got = local_frame(spark, [], schema)
        assert got.schema == spark.createDataFrame([], ddl).schema
        assert got.collect() == []
    rows = [
        (
            datetime.datetime(2020, 3, 1, 12, 30),
            decimal.Decimal("12.50"),
            ("a", [1, None]),
            {"k": 2},
        )
    ]
    assert local_frame(spark, rows, struct).collect() == spark.createDataFrame(
        rows, struct
    ).collect()


def test_local_frame_rejects_what_the_list_path_rejects(spark):
    # Arrow alone would truncate 1.5 to 1 in a bigint column.
    with pytest.raises(TypeError):
        local_frame(spark, [(1.5,)], "v bigint")
    with pytest.raises(TypeError):
        spark.createDataFrame([(1.5,)], "v bigint")


def test_local_frame_ignores_arrow_session_flags(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert local_frame(spark, [(1, "a")], "k int, v string").collect()[0] == (1, "a")
    finally:
        spark.conf.set(key, before)


def test_no_create_dataframe_outside_local_frame():
    """Driver-built frames go through ``local_frame``: no other
    ``createDataFrame`` call is left in the package."""
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(open(path, encoding="utf-8").read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.append(f"{os.path.relpath(path, PACKAGE)}:{node.lineno}")
    assert [f for f in found if not f.startswith("session.py:")] == []
    assert len(found) == 1  # local_frame's own call, on a pyarrow.Table


_CURATION = [
    "sim_graph_topk_multi",
    "dedup_jaccard_groups",
    "dedup_jaccard_survivors",
    "text_rolling_fingerprints",
]


def test_curation_second_round_reuses_compiled_classes(spark, sf_dir, tmp_path):
    """The second curation round over a fresh table copy (every artifact
    cache misses) runs only plans whose classes the first round
    generated, so with the codegen cache holding the working set it
    compiles almost none; under the 100-entry default the LRU evicted
    them in a cycle and it recompiled about 100. Not exactly none: in
    about one steady round in five, AQE plans the Jaccard prefix
    stages in another order and a handful (4-8) of classes come out
    with a new codegen stage id."""
    from jhu_data_parser_spark import plans

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled = []
    for round_no in range(2):
        fresh = str(tmp_path / f"tables-{round_no}")
        shutil.copytree(sf_dir, fresh)
        before = metric.getCount()
        for name in _CURATION:
            plans.QUERIES[name](spark, fresh).write.format("noop").mode("overwrite").save()
        compiled.append(metric.getCount() - before)
    assert compiled[0] > 50 and compiled[1] * 10 <= compiled[0], compiled
