"""Iceberg-lite v1 table layer: the metadata walk (version-hint →
metadata.json → Avro manifest list → Avro manifests → data files),
snapshot semantics (append reuses manifests, overwrite drops reach,
time travel), identity-partition pruning from manifests alone, and
loud failure on unsupported format versions."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from jhu_data_parser_spark.sources.iceberg_lite import (
    _load_metadata,
    _read_avro_records,
    expire_snapshots,
    iceberg_snapshots,
    read_iceberg,
    write_iceberg,
)


def test_roundtrip_append_overwrite_time_travel(spark):
    df = spark.range(10).select("id", (F.col("id") * 2.0).alias("v"))
    df2 = spark.range(10, 15).select("id", (F.col("id") * 2.0).alias("v"))
    with tempfile.TemporaryDirectory() as t:
        s0 = write_iceberg(df, t, "overwrite")
        s1 = write_iceberg(df2, t, "append")
        s2 = write_iceberg(df2, t, "overwrite")
        assert {r.id for r in read_iceberg(spark, t).collect()} == set(
            range(10, 15)
        )
        assert {
            r.id for r in read_iceberg(spark, t, snapshot_id=s1).collect()
        } == set(range(15))
        assert {
            r.id for r in read_iceberg(spark, t, snapshot_id=s0).collect()
        } == set(range(10))
        # committed schema, not inference
        assert dict(read_iceberg(spark, t).dtypes)["v"] == "double"
        ops = [s["operation"] for s in iceberg_snapshots(t)]
        assert ops == ["overwrite", "append", "overwrite"]
        assert s2 == iceberg_snapshots(t)[-1]["snapshot-id"]
        with pytest.raises(ValueError, match="snapshot 99"):
            read_iceberg(spark, t, snapshot_id=99)


def test_append_reuses_previous_manifests(spark):
    """The spec's metadata economy: an append's manifest list contains
    the NEW manifest plus the previous snapshot's manifests verbatim —
    old metadata is never rewritten."""
    df = spark.range(5).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        meta0 = _load_metadata(t)
        list0 = _read_avro_records(
            os.path.join(t, meta0["snapshots"][0]["manifest-list"])
        )
        write_iceberg(df.withColumn("id", F.col("id") + 10), t, "append")
        meta1 = _load_metadata(t)
        list1 = _read_avro_records(
            os.path.join(t, meta1["snapshots"][1]["manifest-list"])
        )
        assert len(list1) == len(list0) + 1
        assert {m["manifest_path"] for m in list0} <= {
            m["manifest_path"] for m in list1
        }
        # both snapshots' data readable; manifests are proper Avro
        # containers decoded by the vendored codec
        entries = _read_avro_records(
            os.path.join(t, list1[0]["manifest_path"])
        )
        assert all(
            e["data_file"]["file_path"].startswith("data/") for e in entries
        )
        assert all(e["data_file"]["record_count"] > 0 for e in entries)


def test_identity_partition_pruning_from_manifests(spark):
    df = spark.range(90).select(
        "id", (F.col("id") % 3).alias("k"), (F.col("id") * 1.0).alias("v")
    )
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite", partition_by="k")
        full = read_iceberg(spark, t)
        assert full.count() == 90
        # the partition column is IN the data files (Iceberg, not Hive)
        assert full.filter(F.col("k") == 1).count() == 30
        pruned = read_iceberg(spark, t, partition_filter=("k", 1))
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert pruned.filter(F.col("k") == 1).count() == 30
        # appends inherit the committed spec; conflicts reject
        write_iceberg(df.withColumn("id", F.col("id") + 100), t, "append")
        with pytest.raises(ValueError, match="partitioned by"):
            write_iceberg(df, t, "append", partition_by="id")
        assert read_iceberg(spark, t, partition_filter=("k", 1)).filter(
            F.col("k") == 1
        ).count() == 60


def test_bounds_pruning_from_manifests(spark):
    """Manifest entries carry per-column lower/upper bounds (spec
    Appendix D binary encoding, keyed by field id, aggregated from
    parquet footers at commit); bounds_filter prunes data files from
    the manifests alone and never drops a possible match."""
    df = (
        spark.range(1000)
        .select("id", (F.col("id") * 2.0).alias("v"))
        .repartitionByRange(10, "id")
    )
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        meta = _load_metadata(t)
        list0 = _read_avro_records(
            os.path.join(t, meta["snapshots"][0]["manifest-list"])
        )
        entries = _read_avro_records(
            os.path.join(t, list0[0]["manifest_path"])
        )
        assert all(e["data_file"]["lower_bounds"] for e in entries)
        full = read_iceberg(spark, t)
        assert len(full.inputFiles()) == 10
        skinny = read_iceberg(spark, t, bounds_filter=[("id", ">=", 950)])
        assert len(skinny.inputFiles()) < 4
        assert skinny.filter(F.col("id") >= 950).count() == 50
        point = read_iceberg(spark, t, bounds_filter=[("id", "=", 123)])
        assert len(point.inputFiles()) == 1
        assert point.filter(F.col("id") == 123).count() == 1
        # double column prunes too; unknown column is loud
        dv = read_iceberg(spark, t, bounds_filter=[("v", "<", 100.0)])
        assert len(dv.inputFiles()) == 1
        with pytest.raises(ValueError, match="no column"):
            read_iceberg(spark, t, bounds_filter=[("zz", "=", 1)])


def test_unsupported_format_version_fails_loudly(spark):
    df = spark.range(3).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        mpath = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.load(open(mpath))
        meta["format-version"] = 2
        json.dump(meta, open(mpath, "w"))
        with pytest.raises(NotImplementedError, match="format-version 2"):
            read_iceberg(spark, t)


def test_expire_snapshots_keeps_shared_files(spark):
    """Expiring old snapshots deletes only what THEY alone reach:
    appends reuse manifests, so a kept snapshot's shared data files
    must survive; an overwritten-away snapshot's files go."""
    df = spark.range(10).select("id")
    with tempfile.TemporaryDirectory() as t:
        s0 = write_iceberg(df, t, "overwrite")
        write_iceberg(df.withColumn("id", F.col("id") + 10), t, "overwrite")
        s2 = write_iceberg(df.withColumn("id", F.col("id") + 20), t, "append")
        deleted = expire_snapshots(t, keep_last=2)
        # s0's data + manifest + manifest list are unreachable: gone
        assert deleted
        assert all(d.startswith(("data/", "metadata/")) for d in deleted)
        # kept snapshots read in full (shared manifests survived)
        assert read_iceberg(spark, t).count() == 20
        assert {s["snapshot-id"] for s in iceberg_snapshots(t)} == {
            iceberg_snapshots(t)[0]["snapshot-id"],
            s2,
        }
        with pytest.raises(ValueError, match=f"snapshot {s0}"):
            read_iceberg(spark, t, snapshot_id=s0)
        # idempotent; keeping more than exists is a no-op
        assert expire_snapshots(t, keep_last=2) == []
        with pytest.raises(ValueError, match="keep_last"):
            expire_snapshots(t, keep_last=0)


def test_iceberg_append_stream_idempotent(spark):
    """Re-running the streaming append over the same table must not
    add snapshots: the jdps-batch-id summary ledger recognizes every
    re-delivered batch (the spec's commit-metadata channel)."""
    import tempfile as _tf

    from jhu_data_parser_spark.streaming.jobs import (
        run_iceberg_append_stream,
    )

    sf = "/root/testdata/sf0.001"
    table = _tf.mkdtemp(prefix="jdps_ice_stream_t_")
    os.rmdir(table)
    first = {
        tuple(r)
        for r in run_iceberg_append_stream(spark, sf, table=table).collect()
    }
    n_snaps = len(iceberg_snapshots(table))
    again = {
        tuple(r)
        for r in run_iceberg_append_stream(spark, sf, table=table).collect()
    }
    assert first == again
    assert len(iceberg_snapshots(table)) == n_snaps  # nothing re-committed


def test_schema_mismatch_rejected(spark):
    df = spark.range(3).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        with pytest.raises(ValueError, match="merge_schema"):
            write_iceberg(
                df.withColumn("x", F.lit(1)), t, "append"
            )
        # a dropped column and a type change are never silent either
        with pytest.raises(ValueError, match="missing"):
            write_iceberg(df.select(F.lit(1).alias("y")), t, "append")
        with pytest.raises(ValueError, match="type"):
            write_iceberg(
                df.select(F.col("id").cast("int").alias("id")), t, "append"
            )


# ---------------------------------------------------------------------------
# Round-14 features: hidden partitioning, schema evolution, row-level
# DML, concurrent-commit arbitration, expiration-durable properties.


def test_bucket_hash_matches_spec_vectors():
    """The spec's own Appendix-B test vectors pin the murmur3
    implementation: int/long 34 hashes to 2017239379, string
    "iceberg" to 1210000089 — and the numpy-vectorized long path must
    agree bit-for-bit with the pure-Python byte path."""
    import numpy as np

    from jhu_data_parser_spark.sources.iceberg_lite import (
        _bucket_of,
        _mmh3_bytes,
        _mmh3_long_np,
    )

    assert _mmh3_bytes((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert _mmh3_bytes(b"iceberg") == 1210000089
    assert _bucket_of(34, "long", 16) == 2017239379 % 16
    assert _bucket_of(34, "int", 16) == _bucket_of(34, "long", 16)
    assert _bucket_of("iceberg", "string", 16) == 1210000089 % 16
    vals = np.array(
        [0, 1, -1, 34, 2**40, -(2**40), 2**62, -(2**62)], dtype=np.int64
    )
    vec = _mmh3_long_np(vals)
    for v, h in zip(vals.tolist(), vec.tolist()):
        assert h == _mmh3_bytes(int(v).to_bytes(8, "little", signed=True))


def test_hidden_partition_day_pruning(spark):
    """day(ts) hidden partitioning: the manifest stores days-since-
    epoch; a raw ts range filter prunes FILES from the manifests
    alone (file-count pinned) and never drops a matching row."""
    import datetime as dt

    df = spark.range(0, 96).select(
        "id",
        F.to_timestamp(
            F.lit("2024-03-01 00:00:00")
        ).alias("base"),
    ).select(
        "id",
        (F.col("base") + F.make_interval(hours=F.col("id") * 6)).alias("ts"),
    )
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite", partition_by="day(ts)")
        meta = _load_metadata(t)
        sf = meta["partition-specs"][0]["fields"][0]
        assert sf["transform"] == "day" and sf["name"] == "ts_day"
        full = read_iceberg(spark, t)
        assert full.count() == 96
        cut = dt.datetime(2024, 3, 20, 0, 0, 0)
        pruned = read_iceberg(
            spark, t, partition_filter=[("ts", ">=", cut)]
        )
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        want = full.filter(F.col("ts") >= F.lit(cut)).count()
        assert pruned.filter(F.col("ts") >= F.lit(cut)).count() == want
        # boundary day: rows BEFORE the cut on the same day survive
        # the prune (pruning is a hint, never a filter)
        same_day = dt.datetime(2024, 3, 20, 18, 0, 0)
        p2 = read_iceberg(spark, t, partition_filter=[("ts", ">=", same_day)])
        assert (
            p2.filter(F.col("ts") >= F.lit(same_day)).count()
            == full.filter(F.col("ts") >= F.lit(same_day)).count()
        )


def test_hidden_partition_bucket_and_truncate(spark):
    """bucket(4, id) prunes equality filters to a strict file subset
    (and refuses range filters — bucket scrambles order); truncate
    prunes both equality and ranges."""
    df = spark.range(200).select("id", (F.col("id") * 2.0).alias("v"))
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite", partition_by="bucket(4, id)")
        meta = _load_metadata(t)
        assert (
            meta["partition-specs"][0]["fields"][0]["transform"]
            == "bucket[4]"
        )
        full = read_iceberg(spark, t)
        pruned = read_iceberg(spark, t, partition_filter=[("id", "=", 77)])
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert pruned.filter(F.col("id") == 77).count() == 1
        with pytest.raises(ValueError, match="equality"):
            read_iceberg(spark, t, partition_filter=[("id", ">=", 100)])
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite", partition_by="truncate(50, id)")
        full = read_iceberg(spark, t)
        pruned = read_iceberg(spark, t, partition_filter=[("id", ">=", 150)])
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert (
            pruned.filter(F.col("id") >= 150).count()
            == full.filter(F.col("id") >= 150).count()
        )


def test_bucket_partition_values_match_spark_and_driver(spark):
    """The distributed (pandas_udf) bucket and the driver-side
    pruning bucket MUST agree: every row read back through an
    equality partition filter on its own id."""
    from jhu_data_parser_spark.sources.iceberg_lite import _bucket_of

    df = spark.range(50).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite", partition_by="bucket(8, id)")
        meta = _load_metadata(t)
        snap_id = meta["current-snapshot-id"]
        from jhu_data_parser_spark.sources.iceberg_lite import (
            _snapshot_entries,
        )

        # manifest partition values == driver-side transform of the
        # file's actual ids
        for e in _snapshot_entries(t, meta, snap_id):
            pv = e["data_file"]["partition"]["id_bucket"]
            path = os.path.join(t, e["data_file"]["file_path"])
            ids = [r.id for r in spark.read.parquet(path).collect()]
            assert {_bucket_of(i, "long", 8) for i in ids} == {pv}


def test_schema_evolution_append_and_current_schema_read(spark):
    """merge_schema appends: the new schema joins the schemas list
    under a fresh schema-id with STABLE old field ids, current-
    schema-id advances, old files read the new column as null — and
    time travel to a pre-evolution snapshot reads with the OLD
    schema (no phantom columns)."""
    df = spark.range(5).select("id")
    with tempfile.TemporaryDirectory() as t:
        s0 = write_iceberg(df, t, "overwrite")
        df2 = spark.range(5, 10).select(
            "id", (F.col("id") * 1.0).alias("score")
        )
        with pytest.raises(ValueError, match="merge_schema"):
            write_iceberg(df2, t, "append")
        write_iceberg(df2, t, "append", merge_schema=True)
        meta = _load_metadata(t)
        assert len(meta["schemas"]) == 2
        assert meta["current-schema-id"] == 1
        assert meta["last-column-id"] == 2
        # old field ids stable across evolution
        ids0 = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
        ids1 = {f["name"]: f["id"] for f in meta["schemas"][1]["fields"]}
        assert ids1["id"] == ids0["id"]
        snap = read_iceberg(spark, t)
        assert snap.columns == ["id", "score"]
        rows = {r.id: r.score for r in snap.collect()}
        assert rows[0] is None and rows[7] == 7.0
        # time travel: pre-evolution snapshot reads pre-evolution schema
        old = read_iceberg(spark, t, snapshot_id=s0)
        assert old.columns == ["id"]
        # post-evolution appends validate against the CURRENT schema
        with pytest.raises(ValueError, match="missing"):
            write_iceberg(df, t, "append")
        write_iceberg(
            spark.range(10, 12).select(
                "id", (F.col("id") * 1.0).alias("score")
            ),
            t,
            "append",
        )
        assert read_iceberg(spark, t).count() == 12


def test_delete_where_copy_on_write(spark):
    """DELETE WHERE rewrites only touched files; fully-matching files
    drop without a rewrite; rows where the predicate is NULL survive
    (SQL DELETE semantics); untouched manifests are reused verbatim;
    no-match deletes commit nothing."""
    from jhu_data_parser_spark.sources.iceberg_lite import delete_iceberg

    df = spark.range(100).select(
        "id",
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 7)
        .alias("k"),
    ).repartitionByRange(5, "id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        meta0 = _load_metadata(t)
        before = {
            mf["manifest_path"]
            for mf in _read_avro_records(
                os.path.join(
                    t,
                    next(
                        s
                        for s in meta0["snapshots"]
                        if s["snapshot-id"] == meta0["current-snapshot-id"]
                    )["manifest-list"],
                )
            )
        }
        # delete ids < 40 (touches the low-range files only; the
        # bounds_filter narrows candidates from manifests)
        delete_iceberg(
            spark, t, "id < 40", bounds_filter=[("id", "<", 40)]
        )
        snap = read_iceberg(spark, t)
        assert snap.count() == 60
        assert snap.filter(F.col("id") < 40).count() == 0
        # NULL-predicate rows survive a predicate over k
        delete_iceberg(spark, t, "k >= 3")
        snap2 = read_iceberg(spark, t)
        # survivors: id >= 40 with (k < 3 or k null)
        import pyspark.sql.functions as SF

        want = (
            df.filter(SF.col("id") >= 40)
            .filter(~SF.coalesce(SF.col("k") >= 3, SF.lit(False)))
            .count()
        )
        assert snap2.count() == want
        assert snap2.filter(SF.col("k").isNull()).count() > 0
        # no-match: snapshot unchanged
        n_snaps = len(iceberg_snapshots(t))
        delete_iceberg(spark, t, "id > 100000")
        assert len(iceberg_snapshots(t)) == n_snaps


def test_merge_upsert_copy_on_write(spark):
    """MERGE: matched keys update, unmatched insert, only touched
    files rewrite."""
    from jhu_data_parser_spark.sources.iceberg_lite import merge_iceberg

    df = spark.range(40).select(
        "id", (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(4, "id")
    src = spark.createDataFrame(
        [(5, -5.0), (17, -17.0), (100, 100.0)], ["id", "v"]
    )
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")
        merge_iceberg(spark, t, src, on=["id"])
        rows = {r.id: r.v for r in read_iceberg(spark, t).collect()}
        assert len(rows) == 41
        assert rows[5] == -5.0 and rows[17] == -17.0 and rows[100] == 100.0
        assert rows[6] == 6.0
        with pytest.raises(ValueError, match="columns"):
            merge_iceberg(spark, t, src.select("id"), on=["id"])


def test_rewrite_stale_snapshot_conflict(spark):
    """A DML rewrite computed at metadata version v must refuse to
    commit when ANY commit landed during its job — the read-snapshot
    serializability discipline (the exclusive create arbitrates)."""
    from jhu_data_parser_spark.sources.iceberg_lite import (
        ConcurrentCommitError,
        _load_metadata as lm,
        _rewrite_commit,
    )

    df = spark.range(10).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")  # v1
        meta = lm(t, 1)
        # a concurrent append lands while the "rewrite" is running
        write_iceberg(df.withColumn("id", F.col("id") + 10), t, "append")
        with pytest.raises(ConcurrentCommitError, match="recompute"):
            _rewrite_commit(
                spark, t, 1, meta, set(), df.limit(0), "delete"
            )


def test_concurrent_append_retries_overwrite_raises(spark):
    """Two writers racing one metadata version: the exclusive create
    arbitrates — a blind append revalidates against the winner and
    lands at the next version (both commits survive); an overwrite
    raises. Simulated by rolling the advisory hint back so the loser
    recomputes the winner's version."""
    from jhu_data_parser_spark.sources.iceberg_lite import (
        ConcurrentCommitError,
        _hint_path,
    )

    df = spark.range(5).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")  # v1
        write_iceberg(df.withColumn("id", F.col("id") + 10), t, "append")
        # roll the hint back: the next writer claims v2 and collides
        with open(_hint_path(t), "w") as fh:
            fh.write("1")
        write_iceberg(df.withColumn("id", F.col("id") + 20), t, "append")
        got = {r.id for r in read_iceberg(spark, t).collect()}
        assert got == set(range(5)) | set(range(10, 15)) | set(
            range(20, 25)
        )
        with open(_hint_path(t), "w") as fh:
            fh.write("1")
        with pytest.raises(ConcurrentCommitError, match="commute"):
            write_iceberg(df, t, "overwrite")


def test_properties_survive_commits_and_expiration(spark):
    """Table properties are the durable ledger channel: carried
    forward by every commit and preserved by snapshot expiration —
    a batch id recorded there is still recognized after the snapshot
    that committed it expires (the summary-only ledger forgets)."""
    from jhu_data_parser_spark.sources.iceberg_lite import (
        table_properties,
    )

    df = spark.range(5).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(
            df,
            t,
            "overwrite",
            summary_props={"jdps-batch-id": "0"},
            table_props={"jdps-batch-high-water": "0"},
        )
        write_iceberg(
            df.withColumn("id", F.col("id") + 10),
            t,
            "append",
            summary_props={"jdps-batch-id": "1"},
            table_props={"jdps-batch-high-water": "1"},
        )
        write_iceberg(
            df.withColumn("id", F.col("id") + 20),
            t,
            "append",
            summary_props={"jdps-batch-id": "2"},
            table_props={"jdps-batch-high-water": "2"},
        )
        expire_snapshots(t, keep_last=1)
        # summaries for batches 0 and 1 are gone with their snapshots…
        left = {
            s["summary"].get("jdps-batch-id")
            for s in iceberg_snapshots(t)
        }
        assert left == {"2"}
        # …but the high-water property survived expiration
        assert table_properties(t)["jdps-batch-high-water"] == "2"


def test_metadata_claim_never_exposes_a_torn_file(spark, monkeypatch):
    """``v{N}.metadata.json`` appears only complete: while the payload
    is being written the claimed name does not exist yet (a losing
    blind append reads the winner's file directly, so it must never
    see a partial one), and a failed write leaves neither the file
    nor a temp file behind."""
    from jhu_data_parser_spark.sources import iceberg_lite as il

    df = spark.range(5).select("id")
    with tempfile.TemporaryDirectory() as t:
        write_iceberg(df, t, "overwrite")  # v1
        target = os.path.join(t, "metadata", "v2.metadata.json")
        seen = {}
        real_dump = il.json.dump

        def torn_dump(obj, fh, *a, **kw):
            fh.write('{"format-version": 1, ')
            fh.flush()
            seen["visible_while_writing"] = os.path.exists(target)
            raise OSError("disk full")

        monkeypatch.setattr(il.json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            write_iceberg(df.withColumn("id", F.col("id") + 10), t, "append")
        monkeypatch.setattr(il.json, "dump", real_dump)
        assert seen == {"visible_while_writing": False}
        assert not os.path.exists(target)
        assert not [
            f for f in os.listdir(os.path.join(t, "metadata"))
            if f.endswith(".tmp")
        ]
        assert sorted(r.id for r in read_iceberg(spark, t).collect()) == list(
            range(5)
        )
        write_iceberg(df.withColumn("id", F.col("id") + 10), t, "append")
        assert os.path.exists(target)
        assert read_iceberg(spark, t).count() == 10
