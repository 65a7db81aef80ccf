"""Row-level DML on both vendored table formats reads its table metadata
once per call: Delta-lite replays the log once (the snapshot scan and
the commit reuse that replay), Iceberg-lite opens the manifest list and
each manifest once (the scan, the record counts and the manifest
rewrite share one walk)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from jhu_data_parser_spark.sources import delta_lite, iceberg_lite


def _rows(spark, n):
    return spark.range(n).select("id", (F.col("id") * 2).cast("double").alias("v"))


def test_delta_dml_replays_the_log_once(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    delta_lite.write_delta(_rows(spark, 20).repartition(3), table, "overwrite")
    replay = delta_lite._replay
    calls = []

    def counting(t, v):
        calls.append(v)
        return replay(t, v)

    monkeypatch.setattr(delta_lite, "_replay", counting)
    dml = [
        lambda: delta_lite.merge_delta(
            spark, table, _rows(spark, 3).withColumn("v", F.lit(-1.0)), ["id"]
        ),
        lambda: delta_lite.delete_delta(spark, table, "id = 7"),
        lambda: delta_lite.update_delta(spark, table, {"v": "v + 100"}, "id = 9"),
        lambda: delta_lite.optimize_delta(spark, table),
    ]
    for call in dml:
        calls.clear()
        call()
        assert len(calls) == 1, calls
    monkeypatch.setattr(delta_lite, "_replay", replay)
    got = {r.id: r.v for r in delta_lite.read_delta(spark, table).collect()}
    assert len(got) == 19 and 7 not in got
    assert got[1] == -1.0 and got[9] == 118.0 and got[10] == 20.0


def test_iceberg_dml_opens_each_manifest_once(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    iceberg_lite.write_iceberg(_rows(spark, 10), table, "overwrite")
    iceberg_lite.write_iceberg(
        _rows(spark, 10).withColumn("id", F.col("id") + 10), table, "append"
    )
    read = iceberg_lite._read_avro_records
    opened = Counter()

    def counting(path):
        opened[path] += 1
        return read(path)

    monkeypatch.setattr(iceberg_lite, "_read_avro_records", counting)
    dml = [
        lambda: iceberg_lite.delete_iceberg(spark, table, "id = 3"),
        lambda: iceberg_lite.merge_iceberg(
            spark, table, _rows(spark, 2).withColumn("v", F.lit(-1.0)), ["id"]
        ),
    ]
    for call in dml:
        opened.clear()
        call()
        # the manifest list and at least the two appends' manifests
        assert len(opened) >= 3 and set(opened.values()) == {1}, opened
    monkeypatch.setattr(iceberg_lite, "_read_avro_records", read)
    got = {r.id: r.v for r in iceberg_lite.read_iceberg(spark, table).collect()}
    assert len(got) == 19 and 3 not in got
    assert got[1] == -1.0 and got[15] == 10.0
