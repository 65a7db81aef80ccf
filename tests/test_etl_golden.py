"""Golden-output tests for the reference-parity ETL contract
(SURVEY.md §5 item 2): JHU-shaped fixtures → pipelines → emitted JSON
records compared against hand-derived goldens capturing the quirks:
lowercased keys, 'YYYY-MM-DD 00:00:00' date strings (F2), default-0
(F8), first-match join (J1), absent-fields-on-lookup-miss, empty-string
(not null) provinces (P3), partition layout (S4).
"""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _fixture_paths() -> dict[str, str]:
    return {
        "confirmed": os.path.join(FIX, "fixture_timeseries_confirmed.csv"),
        "deaths": os.path.join(FIX, "fixture_timeseries_deaths.csv"),
        "recovered": os.path.join(FIX, "fixture_timeseries_recovered.csv"),
        "lookup": os.path.join(FIX, "fixture_lookup.csv"),
    }


def _load_golden(name: str) -> list[dict]:
    with open(os.path.join(FIX, name)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _read_written_json(path_glob: str) -> list[dict]:
    records = []
    for path in glob.glob(path_glob):
        with open(path) as f:
            for line in f:
                if line.strip():
                    records.append(json.loads(line))
    return records


def _by_key(records: list[dict]) -> dict:
    return {
        (r["country/region"], r.get("province/state", "")): r for r in records
    }


def test_category_pipeline_golden(spark, tmp_path):
    from jhu_data_parser_spark.etl import category_pipeline

    p = _fixture_paths()
    out = str(tmp_path / "partitioned")
    category_pipeline(
        spark,
        {"confirmed": p["confirmed"], "deaths": p["deaths"], "recovered": p["recovered"]},
        p["lookup"],
        out,
    )
    # S4: Hive-style partition dirs per category.
    for cat in ("confirmed", "deaths", "recovered"):
        assert os.path.isdir(os.path.join(out, f"type={cat}")), f"missing partition {cat}"

    written = _by_key(_read_written_json(os.path.join(out, "type=confirmed", "part-*")))
    golden = _by_key(_load_golden("golden_parser_confirmed.jsonl"))
    assert set(written) == set(golden)
    for key in golden:
        assert written[key] == golden[key], f"record mismatch for {key}"

    # Absent-on-miss: Utopia has no lookup row → fields must be ABSENT,
    # not null (src/parser.py:64-70 silent miss).
    utopia = written[("Utopia", "")]
    assert "country-iso2" not in utopia
    assert "country-lat" not in utopia


def test_combined_pipeline_golden(spark, tmp_path):
    from jhu_data_parser_spark.etl import combined_pipeline

    p = _fixture_paths()
    out = str(tmp_path / "flat")
    combined_pipeline(spark, p["confirmed"], p["deaths"], p["recovered"], p["lookup"], out)

    written = _by_key(_read_written_json(os.path.join(out, "part-*")))
    golden = _by_key(_load_golden("golden_parser2_combined.jsonl"))
    assert set(written) == set(golden)
    for key in golden:
        assert written[key] == golden[key], f"record mismatch for {key}"

    # J3 miss: Utopia gets no iso2 field at all.
    assert "iso2" not in written[("Utopia", "")]
    # Whole-family miss: recovered has no BC row → every element 0
    # (src/parser2.py:118 fix_record(c, d, {})).
    bc = written[("Canada", "British Columbia")]
    assert all(e["recovered"] == 0 for e in bc["time_series"])


def test_record_key_and_field_order(spark):
    """S5 key format + field order of the emitted records."""
    from jhu_data_parser_spark.etl import category_pipeline
    from jhu_data_parser_spark.sink import record_key

    p = _fixture_paths()
    df = category_pipeline(spark, {"confirmed": p["confirmed"]}, p["lookup"])
    keyed = df.withColumn("record_key", record_key())
    keys = {r["record_key"] for r in keyed.select("record_key").collect()}
    assert keys == {"Albania", "Canada-British Columbia", "Canada-Ontario", "Utopia"}

    # Field order mirrors fix_record insertion order (time_series first,
    # then lowercased scalars, then lookup fields).
    assert df.columns[:5] == ["time_series", "province/state", "country/region", "lat", "long"]


def test_category_pipeline_realistic_width(spark, tmp_path):
    """The live JHU frame has ~1100 date columns; the U1 build must
    handle realistic width (one struct per date inside a single select —
    no per-column passes, no quadratic planning)."""
    import csv
    import datetime
    import time

    n_dates, n_rows = 400, 200
    d0 = datetime.date(2020, 1, 22)
    dates = [(d0 + datetime.timedelta(days=i)) for i in range(n_dates)]
    headers = ["Province/State", "Country/Region", "Lat", "Long"] + [
        f"{d.month}/{d.day}/{d.strftime('%y')}" for d in dates
    ]
    src = tmp_path / "wide.csv"
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(headers)
        for r in range(n_rows):
            w.writerow([f"P{r % 7}", f"C{r}", "1.5", "2.5"] + [str(r + i) for i in range(n_dates)])

    from jhu_data_parser_spark.etl import category_pipeline

    p = _fixture_paths()
    t0 = time.monotonic()
    df = category_pipeline(spark, {"confirmed": str(src)}, p["lookup"])
    rows = df.select("country/region", "time_series").collect()
    elapsed = time.monotonic() - t0
    assert len(rows) == n_rows
    by_c = {r["country/region"]: r["time_series"] for r in rows}
    ts = by_c["C3"]
    assert len(ts) == n_dates
    assert ts[0]["date"] == "2020-01-22 00:00:00"
    assert [e["value"] for e in ts[:5]] == [3, 4, 5, 6, 7]
    # planning + execution stays sane at width (not minutes)
    assert elapsed < 60, f"wide build took {elapsed:.0f}s"


_QUOTING_CSV = (
    "Province/State,Country/Region,Lat,Long,1/22/20\n"
    ',"Korea, South",35.9,127.7,1\n'
    '"Bonaire, Sint Eustatius and Saba",Netherlands,12.1,-68.2,2\n'
    ',"Quoted ""inner"" name",0,0,3\n'
    ",,,,\n"  # fully blank row: every field '' (never null)
)


def test_csv_source_dictreader_parity_on_quoting(spark, tmp_path):
    """Real JHU data has quoted fields with embedded commas ("Korea,
    South") and csv-module quote doubling; the Spark scan must match
    csv.DictReader byte-for-byte on all of them (Spark's default escape
    is backslash, not the csv-module's doubled quote)."""
    import csv
    import io

    from jhu_data_parser_spark.sources.csv_source import read_csv_dictreader

    raw = _QUOTING_CSV
    want = list(csv.DictReader(io.StringIO(raw)))
    p = tmp_path / "quoting.csv"
    p.write_text(raw)
    got = [r.asDict() for r in read_csv_dictreader(spark, str(p)).collect()]
    assert len(got) == len(want)
    for w, g in zip(want, got):
        for k, v in w.items():
            assert g[k] == v, (k, v, g[k])


def test_csv_header_schema_matches_spark_inference(spark, tmp_path):
    """The scan's header-derived schema equals the one Spark's header
    job would infer, and the rows match, on every fixture, the quoting
    CSV, a header-only file, a BOM-prefixed header, a directory and a
    gzip file; an empty file, a blank or duplicate header name and a
    missing path raise naming the path."""
    from jhu_data_parser_spark.sources.csv_source import (
        csv_header_schema,
        read_csv_dictreader,
    )

    inputs = sorted(glob.glob(os.path.join(FIX, "*.csv")))
    for name, raw in (
        ("quoting.csv", _QUOTING_CSV),
        ("header_only.csv", "Province/State,Country/Region,1/22/20\n"),
        ("bom.csv", "\ufeffProvince/State,Country/Region\n,Chile\n"),
    ):
        p = tmp_path / name
        p.write_text(raw, encoding="utf-8")
        inputs.append(str(p))
    # a directory of part files and a codec-compressed file, both of
    # which spark.read.csv accepts
    part_dir = tmp_path / "parts"
    part_dir.mkdir()
    (part_dir / "part-0.csv").write_text(_QUOTING_CSV, encoding="utf-8")
    gz = tmp_path / "quoting.csv.gz"
    gz.write_bytes(gzip.compress(_QUOTING_CSV.encode("utf-8")))
    inputs += [str(part_dir), str(gz)]
    for path in inputs:
        inferred = (
            spark.read.option("header", True)
            .option("inferSchema", False)
            .option("escape", '"')
            .csv(path)
        )
        assert csv_header_schema(spark, path) == inferred.schema, path
        want = sorted(
            tuple("" if v is None else v for v in r) for r in inferred.collect()
        )
        got = sorted(tuple(r) for r in read_csv_dictreader(spark, path).collect())
        assert got == want, path

    for name, raw in (
        ("empty.csv", ""),
        ("blank_name.csv", "Province/State,,Lat\n,a,1\n"),
        ("dup_name.csv", "Lat,Long,Lat\n1,2,3\n"),
    ):
        p = tmp_path / name
        p.write_text(raw, encoding="utf-8")
        with pytest.raises(ValueError, match=name):
            read_csv_dictreader(spark, str(p))
    with pytest.raises(FileNotFoundError, match="missing.csv"):
        read_csv_dictreader(spark, str(tmp_path / "missing.csv"))


def test_http_source_file_url(spark):
    """S1: the HTTP staging source, driven through a file:// URL."""
    from jhu_data_parser_spark.sources.http import read_http_csv

    p = _fixture_paths()
    df = read_http_csv(spark, "file://" + p["lookup"])
    assert df.count() == 3
    assert df.columns[0] == "Country_Region"
    # DictReader semantics: blanks are '', never null.
    assert df.filter(df["Province_State"].isNull()).count() == 0


def test_overwrite_partitions_is_incremental(spark, tmp_path):
    """Dynamic partition overwrite replaces ONLY the partitions in the
    incoming frame — the partition-level upsert that turns the
    reference's daily full rewrite into an incremental refresh."""
    import json as _json

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.sink import overwrite_partitions

    out = str(tmp_path / "lake")
    day1 = spark.createDataFrame(
        [("2024-01-01", "a", 1), ("2024-01-02", "b", 2)], "day string, k string, v int"
    )
    overwrite_partitions(day1, out, ["day"])
    # Re-land day 2 with corrected data plus a new day 3.
    fix = spark.createDataFrame(
        [("2024-01-02", "b", 99), ("2024-01-03", "c", 3)], "day string, k string, v int"
    )
    overwrite_partitions(fix, out, ["day"])
    got = {
        (r["day"], r["k"], r["v"])
        for r in spark.read.option("basePath", out)
        .json(out)
        .withColumn("day", F.col("day").cast("string"))
        .collect()
    }
    assert got == {("2024-01-01", "a", 1), ("2024-01-02", "b", 99), ("2024-01-03", "c", 3)}


def test_lake_readable_by_external_engine(spark, tmp_path):
    """The written lake must stay queryable by OTHER engines — the
    reference's contract was 'Athena can query this'; here DuckDB plays
    Athena: hive-partitioned glob read, partition column materializes,
    record values match."""
    import duckdb

    from jhu_data_parser_spark.etl import category_pipeline

    p = _fixture_paths()
    out = str(tmp_path / "lake")
    category_pipeline(
        spark, {"confirmed": p["confirmed"], "deaths": p["deaths"]}, p["lookup"], out
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT type, "country/region", len(time_series) AS n
        FROM read_json_auto('{out}/type=*/*.json', hive_partitioning=true)
        ORDER BY type, "country/region"
        """
    ).fetchall()
    assert {r[0] for r in rows} == {"confirmed", "deaths"}
    assert all(r[2] == 3 for r in rows)  # 3 dates per fixture series
    n_spark = spark.read.option("basePath", out).json(out).count()
    assert len(rows) == n_spark


def test_lake_roundtrip_sql(spark, tmp_path):
    """S6: the written lake is queryable via Spark SQL with partition
    pruning on type= (the Athena replacement)."""
    from jhu_data_parser_spark.etl import category_pipeline
    from jhu_data_parser_spark.sources.lake import read_partitioned_lake

    p = _fixture_paths()
    out = str(tmp_path / "lake")
    category_pipeline(
        spark, {"confirmed": p["confirmed"], "deaths": p["deaths"]}, p["lookup"], out
    )
    lake = read_partitioned_lake(spark, out)
    lake.createOrReplaceTempView("covid")
    rows = spark.sql(
        """
        SELECT `country/region`, e.date, e.value
        FROM covid LATERAL VIEW explode(time_series) AS e
        WHERE type = 'confirmed' AND `province/state` = ''
        """
    ).collect()
    assert len(rows) == 6  # Albania + Utopia × 3 dates
    # Partition pruning: the physical plan reads only type=confirmed.
    plan = spark.sql(
        "SELECT count(*) FROM covid WHERE type = 'confirmed'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "type=confirmed" in plan or "PartitionFilters" in plan


def test_write_report_counts_and_audit(spark, tmp_path):
    """Write-metrics surface (reference src/parser.py:78-83 analog): row
    counts observed on the write job itself, committed files/bytes per
    partition from a post-commit listing, null-partition-key rows
    surfaced as the failed-records signal."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.sink import write_partitioned_json_report

    df = spark.createDataFrame(
        [("a", "confirmed"), ("b", "confirmed"), ("c", "deaths"), ("d", None)],
        "k string, type string",
    ).coalesce(1)
    out = str(tmp_path / "report_lake")
    report = write_partitioned_json_report(df, out)
    rows = {r["type"]: r for r in report.collect()}
    assert rows["confirmed"]["n_files"] >= 1
    assert rows["confirmed"]["n_bytes"] > 0
    assert set(rows) == {"confirmed", "deaths", "__HIVE_DEFAULT_PARTITION__"}
    assert all(r["n_records_total"] == 4 for r in rows.values())
    assert all(r["n_null_type_total"] == 1 for r in rows.values())
    # the audit counts exactly the committed data files
    import glob

    n_disk = len(glob.glob(os.path.join(out, "type=*", "part-*")))
    assert n_disk == sum(r["n_files"] for r in rows.values())


def test_merge_upsert_partition_scoped(spark, tmp_path):
    """CDC merge: updates replace same-key rows, inserts land, untouched
    partitions keep their files byte-identical (partition-level blast
    radius)."""
    import glob

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.sink import merge_upsert

    lake = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", 1), (2, "b", "2024-01-01", 1), (3, "c", "2024-01-02", 1)],
        "id long, v string, day string, version int",
    )
    base.repartition(1).write.partitionBy("day").parquet(lake)
    untouched_before = sorted(glob.glob(f"{lake}/day=2024-01-02/part-*"))

    updates = spark.createDataFrame(
        [(1, "a2", "2024-01-01", 2), (4, "d", "2024-01-01", 1)],
        "id long, v string, day string, version int",
    )
    merge_upsert(updates, lake, ["id"], "day", "version")

    got = {r["id"]: r["v"] for r in spark.read.parquet(lake).collect()}
    assert got == {1: "a2", 2: "b", 3: "c", 4: "d"}
    # untouched partition was not rewritten
    assert sorted(glob.glob(f"{lake}/day=2024-01-02/part-*")) == untouched_before


def test_compact_partitions_reduces_files(spark, tmp_path):
    import glob

    from jhu_data_parser_spark.sink import compact_partitions

    lake = str(tmp_path / "frag")
    df = spark.createDataFrame(
        [(i, f"v{i}", f"2024-01-0{1 + i % 2}") for i in range(200)],
        "id long, v string, day string",
    )
    df.repartition(20).write.partitionBy("day").parquet(lake)
    before = len(glob.glob(f"{lake}/day=*/part-*"))
    assert before >= 20
    report = compact_partitions(spark, lake, "day")
    after = len(glob.glob(f"{lake}/day=*/part-*"))
    assert after < before / 2
    rows = {r["day"]: r for r in report.collect()}
    assert set(rows) == {"2024-01-01", "2024-01-02"}
    assert all(r["n_files_target"] == 1 for r in rows.values())
    # data survives byte-for-byte as rows
    assert spark.read.parquet(lake).count() == 200


def test_hll_sketch_merge_accuracy(spark):
    """HLL estimates land within the lgK=14 error envelope (~0.8% rse;
    assert 3σ) of exact distinct counts, and the merged sketch equals
    the estimate over the union."""
    from jhu_data_parser_spark import plans

    sf = "/root/testdata/sf0.01"
    est = {
        r["o_orderpriority"]: r["approx_distinct_customers"]
        for r in plans.QUERIES["agg_hll_sketch_merge"](spark, sf).collect()
    }
    from jhu_data_parser_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, sf, "orders")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["__ALL__"] = o.select("o_custkey").distinct().count()
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(3, 0.025 * e), (k, est[k], e)


def test_jsonl_quarantine_split(spark, tmp_path):
    """PERMISSIVE JSONL ingest: typed good rows, raw corrupt lines
    quarantined (nothing dropped, nothing fails the job)."""
    from jhu_data_parser_spark.sources.jsonl import read_jsonl_quarantine

    p = tmp_path / "landing.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "ok two"}\n'
        '{"doc_id": "NaN-ish", "text": 3}\n'  # parses as JSON, fails types
        '{"doc_id": 4, "text": "ok four"\n'  # truncated
    )
    good, quarantine = read_jsonl_quarantine(
        spark, str(p), "doc_id bigint, text string"
    )
    assert good.columns == ["doc_id", "text"]
    rows = {r["doc_id"]: r["text"] for r in good.collect()}
    assert rows == {1: "ok one", 2: "ok two"}
    bad = sorted(r["raw"] for r in quarantine.collect())
    assert len(bad) == 3
    assert any("not json" in b for b in bad)
    assert any("NaN-ish" in b for b in bad)


def test_format_matrix_roundtrip(spark, tmp_path):
    """Source/sink format matrix: the same frame survives parquet, ORC,
    JSON, and CSV round trips with values intact (types re-asserted via
    explicit schema where the format is schemaless)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a,b \"q\"", 1.5), (2, "", 2.5), (3, "plain", -0.25)],
        "id long, s string, v double",
    ).coalesce(1)
    expected = {(r["id"], r["s"] or "", r["v"]) for r in df.collect()}
    for fmt in ("parquet", "orc", "json", "csv"):
        out = str(tmp_path / fmt)
        w = df.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", True).option("escape", '"')
        w.save(out)
        r = spark.read.format(fmt)
        if fmt in ("json", "csv"):
            r = r.schema("id long, s string, v double")
        if fmt == "csv":
            r = r.option("header", True).option("escape", '"')
        got = {
            (row["id"], row["s"] or "", row["v"])
            for row in r.load(out).collect()
        }
        assert got == expected, fmt


def test_zorder_write_shrinks_file_envelopes(spark, tmp_path):
    """Z-order clustering must give every output file a narrow min/max
    envelope in BOTH key columns — the parquet-statistics property that
    lets scans skip files on filters against either column. Measured
    from the real footers (pyarrow), compared against a round-robin
    layout of the same data."""
    import pyarrow.parquet as pq

    from jhu_data_parser_spark.sink import write_zordered
    from jhu_data_parser_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(li, zdir, "l_orderkey", "l_partkey", n_files=16, bits=20)
    li.repartition(16).write.mode("overwrite").parquet(rdir)

    def mean_envelope(d):
        import glob

        spans = {"l_orderkey": [], "l_partkey": []}
        lo = {"l_orderkey": None, "l_partkey": None}
        hi = {"l_orderkey": None, "l_partkey": None}
        per_file = []
        for f in glob.glob(d + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            fmins, fmaxs = {}, {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if name not in spans:
                        continue
                    st = col.statistics
                    fmins[name] = min(fmins.get(name, st.min), st.min)
                    fmaxs[name] = max(fmaxs.get(name, st.max), st.max)
            per_file.append((fmins, fmaxs))
            for name in spans:
                lo[name] = fmins[name] if lo[name] is None else min(lo[name], fmins[name])
                hi[name] = fmaxs[name] if hi[name] is None else max(hi[name], fmaxs[name])
        out = {}
        for name in spans:
            total = hi[name] - lo[name] or 1
            fracs = [(fmaxs[name] - fmins[name]) / total for fmins, fmaxs in per_file]
            out[name] = sum(fracs) / len(fracs)
        return out

    z, r = mean_envelope(zdir), mean_envelope(rdir)
    # Round-robin files each cover ~the full domain of both columns;
    # z-ordered files must cover well under half of each.
    for name in ("l_orderkey", "l_partkey"):
        assert r[name] > 0.9, (name, r)
        assert z[name] < 0.5, (name, z)
        assert z[name] < r[name] / 2, (name, z, r)
