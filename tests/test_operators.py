"""Behavioral tests for the custom operators — the semantics a DuckDB
oracle can't check: as-of join, MinHash near-dup recall on planted
duplicates, SimHash locality, language ID on real multilingual text,
LSH top-k recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_asof_join_backward(spark):
    from jhu_data_parser_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 15, "x")],
        "k int, t int, quote string",
    ).select("k", F.timestamp_seconds("t").alias("t"), "quote")
    trades = spark.createDataFrame(
        [(1, 5), (1, 20), (1, 25), (1, 99), (2, 14), (3, 50)],
        "k int, t int",
    ).select("k", F.timestamp_seconds("t").alias("t"))

    out = asof_join(trades, quotes, key="k", left_ts="t", right_ts="t", right_cols=["quote"])
    got = {(r["k"], r["t"].second + r["t"].minute * 60): r["quote"] for r in out.collect()}
    assert got[(1, 5)] is None  # no quote yet
    assert got[(1, 20)] == "b"  # exact-time match counts (<=)
    assert got[(1, 25)] == "b"
    assert got[(1, 99)] == "c"
    assert got[(2, 14)] is None
    assert got[(3, 50)] is None  # key with no quotes at all


def test_asof_join_duplicate_ts_deterministic(spark):
    """Two right rows at the SAME (key, ts): the carried value must be
    deterministic (max payload tuple), not shuffle-arrival order."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b")], "k int, t int, v string"
    ).select("k", F.timestamp_seconds("t").alias("t"), "v")
    left = spark.createDataFrame([(1, 11)], "k int, t int").select(
        "k", F.timestamp_seconds("t").alias("t")
    )
    vals = {
        asof_join(left.repartition(p), right.repartition(5 - p), "k", "t", "t", ["v"])
        .first()["v"]
        for p in (1, 2, 3)
    }
    assert vals == {"b"}


def test_range_join_window_boundaries(spark):
    """Range semantics are (l.ts, l.ts + W]: an event exactly AT l.ts is
    excluded, exactly at l.ts + W included — including across the bucket
    replication boundary."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.joins import range_join_count

    W = 3600
    left = spark.createDataFrame([(100, 1, 7200)], "event_id long, user_id int, t long").select(
        "event_id", "user_id", F.timestamp_seconds("t").alias("ts")
    )
    right_times = [7200, 7201, 10800, 10801]  # ==l.ts, inside, ==l.ts+W, beyond
    right = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(right_times)], "event_id long, user_id int, t long"
    ).select("event_id", "user_id", F.timestamp_seconds("t").alias("ts"))
    out = range_join_count(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        window_seconds=W, left_id="event_id", count_alias="n",
    )
    assert out.first()["n"] == 2  # 7201 and 10800 only


def test_asof_join_tolerance(spark):
    from jhu_data_parser_spark.operators.joins import asof_join

    right = spark.createDataFrame([(1, 10, 1.5)], "k int, t int, v double").select(
        "k", F.timestamp_seconds("t").alias("t"), "v"
    )
    left = spark.createDataFrame([(1, 12), (1, 100)], "k int, t int").select(
        "k", F.timestamp_seconds("t").alias("t")
    )
    out = asof_join(left, right, "k", "t", "t", ["v"], tolerance_seconds=5)
    vals = {r["t"].second + r["t"].minute * 60: r["v"] for r in out.collect()}
    assert vals[12] == 1.5
    assert vals[100] is None  # 100s is beyond the 5s tolerance


def test_minhash_finds_planted_near_dups(spark):
    from jhu_data_parser_spark.operators.dedup import near_dup_pairs_minhash

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # near-dup of 1
        (3, "completely different content about distributed query engines " * 5),
        (4, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in near_dup_pairs_minhash(df, threshold=0.5).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert not any(3 in p for p in pairs)


def test_connected_components_chains_and_islands(spark):
    """(1,2),(2,3) chain into one component labeled 1; disjoint pairs
    stay separate; a 3-hop chain needs multiple propagation rounds."""
    from jhu_data_parser_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8, 11: 8}
    # the distributed propagation path (local_bound=0 forces it) must
    # agree with the adaptive driver-side union-find default
    dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_bound=0).collect()
    }
    assert dist == got


def test_simhash_locality(spark):
    from jhu_data_parser_spark.operators.dedup import hamming_distance, simhash_bits

    df = spark.createDataFrame(
        [
            (1, "spark is a distributed engine for large scale data processing"),
            (2, "spark is a distributed engine for large scale data analytics"),
            (3, "cooking pasta requires salted boiling water and good timing"),
        ],
        "doc_id long, text string",
    ).select("doc_id", simhash_bits("text").alias("bits"))
    rows = {r["doc_id"]: r["bits"] for r in df.collect()}
    pair = spark.createDataFrame([(rows[1], rows[2]), (rows[1], rows[3])], "a array<int>, b array<int>")
    d_similar, d_different = [
        r[0] for r in pair.select(hamming_distance(F.col("a"), F.col("b"))).collect()
    ]
    assert d_similar < d_different
    assert d_similar <= 16


def test_langid_on_real_text(spark):
    from jhu_data_parser_spark.operators.text import langid_heuristic

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was happy"),
            (2, "der Hund und die Katze sind nicht zu Hause"),
            (3, "el perro y la gata viven en la casa de los abuelos"),
            (4, "le chat et le chien sont dans les jardins est une"),
            (5, "我 有 一 本 书 他 是 我 的 朋友"),
            (6, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["guess"] for r in df.select("id", langid_heuristic("text").alias("guess")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "fr"
    assert got[5] == "zh"
    assert got[6] == "und"


def test_langid_ngram_on_real_text(spark):
    from jhu_data_parser_spark.operators.text import langid_ngram

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was going to sleep in the sun"),
            (2, "der Hund und die Katze sind nicht zu Hause und ich gehe einkaufen"),
            (3, "el perro y la gata viven en la casa de los abuelos que quieren"),
            (4, "le chat et le chien sont dans les jardins de la maison que nous"),
            (5, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["g"] for r in df.select("id", langid_ngram("text").alias("g")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "fr"
    assert got[5] == "und"


def test_lsh_topk_recall(spark):
    """LSH top-k must recover most of the brute-force top-k when real
    neighbor structure exists (recall@10 >= 0.6 on planted clusters).

    Note: the synthetic `embeddings` table is near-uniform random
    (top-10 cosine ≈ 0.3 ≈ 70° angles) — NO bucketing scheme has recall
    there, so the recall assertion uses planted neighbors; the random
    table is covered by the rows-only catalog query."""
    import numpy as np

    from jhu_data_parser_spark.operators.similarity import topk_cosine, topk_cosine_lsh

    rng = np.random.RandomState(7)
    q = rng.standard_normal(64)
    planted = [q + 0.15 * rng.standard_normal(64) for _ in range(15)]
    noise = [rng.standard_normal(64) for _ in range(500)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(planted + noise)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    qv = [float(x) for x in q]
    exact = {r["vec_id"] for r in topk_cosine(df, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in topk_cosine_lsh(df, qv, dim=64, k=10, n_planes=8).collect()
    }
    assert exact == set(range(10)) or exact <= set(range(15))
    assert len(exact & approx) >= 6


def test_ivf_topk_recall_and_exhaustive_exactness(spark, tmp_path):
    """The indexed IVF serving path with n_probe == K must equal brute
    force exactly; with a partial probe it must still recover the
    planted neighbors (the cluster structure IVF exists to exploit)."""
    import numpy as np

    from jhu_data_parser_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_ivf_indexed,
    )

    rng = np.random.RandomState(11)
    q = rng.standard_normal(64)
    planted = [q + 0.15 * rng.standard_normal(64) for _ in range(15)]
    noise = [rng.standard_normal(64) for _ in range(500)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(planted + noise)]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.parquet(src)
    df = spark.read.parquet(src)

    qv = [float(x) for x in q]
    exact = [r["vec_id"] for r in topk_cosine(df, qv, k=10).collect()]
    exhaustive = [
        r["vec_id"]
        for r in topk_cosine_ivf_indexed(df, qv, k=10, n_centroids=8, n_probe=8).collect()
    ]
    assert exhaustive == exact  # full probe ⇒ identical to brute force
    partial = {
        r["vec_id"]
        for r in topk_cosine_ivf_indexed(df, qv, k=10, n_centroids=8, n_probe=2).collect()
    }
    assert len(set(exact) & partial) >= 8  # planted cluster lands in few cells


def test_ivf_indexed_serving_matches_exact(spark, tmp_path):
    """The partitionBy(cell) indexed serving path with an exhaustive
    probe must equal brute force exactly, with the row_filter applied
    post-scan (one index serves filtered views)."""
    import numpy as np
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_ivf_indexed,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(src)
    df = spark.read.parquet(src)

    qv = [float(x) for x in rng.standard_normal(16)]
    flt = F.col("vec_id") != 0
    exact = [r["vec_id"] for r in topk_cosine(df.filter(flt), qv, k=10).collect()]
    indexed = [
        r["vec_id"]
        for r in topk_cosine_ivf_indexed(
            df, qv, k=10, n_centroids=4, n_probe=4, row_filter=flt
        ).collect()
    ]
    assert indexed == exact


def test_ivf_cache_refits_on_inplace_overwrite(spark, tmp_path):
    """The centroid/index caches key on file mtime+size, not just the
    listing: overwriting a file IN PLACE (identical path) must refit —
    the r04 staleness edge."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jhu_data_parser_spark.operators.similarity import ivf_fit_centroids

    def write(seed: int) -> None:
        rng = np.random.RandomState(seed)
        vecs = [[float(x) for x in rng.standard_normal(8) + 5 * seed] for _ in range(64)]
        tbl = pa.table(
            {"vec_id": list(range(64)), "embedding": vecs},
        )
        pq.write_table(tbl, str(tmp_path / "data.parquet"))

    write(1)
    df1 = spark.read.parquet(str(tmp_path / "data.parquet"))
    c1 = ivf_fit_centroids(df1, n_centroids=4, n_iter=2)
    # same path, new content — a filename-only cache key would alias
    write(2)
    df2 = spark.read.parquet(str(tmp_path / "data.parquet"))
    c2 = ivf_fit_centroids(df2, n_centroids=4, n_iter=2)
    assert not np.allclose(c1, c2)


def test_exact_collapse_and_expand_semantics(spark):
    """exact_collapse groups byte-identical texts under the min id;
    expand_collapsed_pairs re-materializes every member pair exactly
    once — intra pairs with the identity value, cross pairs inheriting
    the representative pair's value — matching a hand-computed set."""
    from jhu_data_parser_spark.operators.dedup import (
        exact_collapse,
        expand_collapsed_pairs,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "aa bb cc"),
        (4, "aa bb cc"),  # dup of 1
        (2, "dd ee"),
        (7, "aa bb cc"),  # dup of 1
        (5, "dd ee"),  # dup of 2
        (3, "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    reps, members = exact_collapse(df)
    assert {(r.doc_id, r.text) for r in reps.collect()} == {
        (1, "aa bb cc"),
        (2, "dd ee"),
        (3, "zz"),
    }
    got_members = {(r.rep, r.member) for r in members.collect()}
    assert got_members == {(1, 1), (1, 4), (1, 7), (2, 2), (2, 5), (3, 3)}

    rep_pairs = spark.createDataFrame(
        [(1, 2, 0.25)], "id_a long, id_b long, jaccard double"
    )
    out = {
        (r.id_a, r.id_b, r.jaccard)
        for r in expand_collapsed_pairs(rep_pairs, members, {"jaccard": 1.0}).collect()
    }
    intra = {(1, 4, 1.0), (1, 7, 1.0), (4, 7, 1.0), (2, 5, 1.0)}
    cross = {
        (min(a, b), max(a, b), 0.25) for a in (1, 4, 7) for b in (2, 5)
    }
    assert out == intra | cross


def test_exact_dedup_survivors(spark):
    from jhu_data_parser_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa "), (5, "AAA")],
        "doc_id long, text string",
    )
    # normalization: trailing whitespace + case fold into the same group
    survivors = {r["doc_id"] for r in exact_dedup(df).collect()}
    assert survivors == {1, 2}


def test_rolling_fingerprints_winnowing_guarantee(spark):
    """Docs sharing a substring of length >= k + window - 1 must share at
    least one winnowed fingerprint; disjoint docs share none."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.text import rolling_fingerprints

    shared = "a common stretch of copied text here"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "other start " + shared + " different end"),
            (3, "zzz completely unrelated body qqq xyzzy"),
        ],
        "doc_id long, text string",
    )
    fps = df.select("doc_id", rolling_fingerprints("text").alias("fps")).collect()
    sets = {r["doc_id"]: set(r["fps"]) for r in fps}
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3])
    # short docs produce no fingerprints rather than erroring
    tiny = spark.createDataFrame([(9, "abc")], "doc_id long, text string")
    assert tiny.select(rolling_fingerprints("text").alias("f")).first()["f"] == []
    # the vectorized utf-32 codepoint path must match the per-char
    # ord() % 256 reference exactly, including multi-byte and astral
    # codepoints (utf-32-le code units ARE the codepoints)
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    uni = "héllo wörld 汉字 \U0001f389 mixed ascii tail padd"
    udf_out = (
        spark.createDataFrame([(1, uni)], "doc_id long, text string")
        .select(rolling_fingerprints("text").alias("f"))
        .first()["f"]
    )
    k, w, b = 8, 4, 131
    weights = np.array([b ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    codes = np.fromiter((ord(ch) % 256 for ch in uni), np.int64, count=len(uni))
    grams = sliding_window_view(codes, k) @ weights
    ref = np.unique(sliding_window_view(grams, w).min(axis=1)).tolist()
    assert udf_out == ref


def test_rolling_fingerprints_lone_surrogate():
    """A lone surrogate hashes as its code unit mod 256, like ord(),
    instead of raising in the utf-32 encode."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from jhu_data_parser_spark.operators.text import _winnowed_fingerprints

    text = "broken \ud800 surrogate text"
    k, w, b = 8, 4, 131
    weights = np.array([b ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    codes = np.fromiter((ord(ch) % 256 for ch in text), np.int64, count=len(text))
    grams = sliding_window_view(codes, k) @ weights
    ref = np.unique(sliding_window_view(grams, w).min(axis=1)).tolist()
    assert _winnowed_fingerprints([text], k, w, b) == [ref]


def test_salted_broadcast_join_matches_plain_join(spark):
    """Salting must be invisible to results: same rows as the plain
    inner join, including duplicate small-side keys (row fan-out)."""
    from jhu_data_parser_spark.operators.skew import salted_broadcast_join

    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "cold")], "k string, v int"
    )
    small = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("cold", 3)], "k string, tag int"
    )
    got = salted_broadcast_join(big, small, "k").groupBy("k", "tag").count()
    plain = big.join(small, "k").groupBy("k", "tag").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_multimodal_plumbing(spark):
    from jhu_data_parser_spark.operators.multimodal import (
        attach_binary,
        extract_media_meta,
    )

    df = spark.createDataFrame([(1, "hello world"), (2, "x" * 100)], "doc_id long, text string")
    media = attach_binary(df)
    meta = extract_media_meta(media)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[1]["n_bytes"] == 11
    assert rows[2]["n_bytes"] == 100
    assert rows[1]["media_type"] == "image"
    # strict mode surfaces the stub explicitly
    with pytest.raises(Exception):
        extract_media_meta(media, strict=True).collect()


def test_decode_mapper_edges(spark):
    """The shared decode mapper: a batch in which every payload yields
    nothing is a typed empty frame, a None in an int column comes back
    NULL, and a 1→N ``rows`` gives N rows per input."""
    from jhu_data_parser_spark.operators.multimodal import _decode

    df = spark.createDataFrame(
        [(1, b"ab"), (2, b"cde")], "doc_id long, media binary"
    ).coalesce(1)
    schema = "doc_id bigint, tag string, n int"

    empty = _decode(df, schema, lambda did, p: [])
    assert empty.schema.simpleString() == "struct<doc_id:bigint,tag:string,n:int>"
    assert empty.collect() == []

    nulls = _decode(df, schema, lambda did, p: [(did, "x", None if did == 1 else len(p))])
    assert sorted(map(tuple, nulls.collect())) == [(1, "x", None), (2, "x", 3)]

    fan = _decode(df, schema, lambda did, p: [(did, chr(c), i) for i, c in enumerate(p)])
    assert sorted(map(tuple, fan.collect())) == [
        (1, "a", 0), (1, "b", 1), (2, "c", 0), (2, "d", 1), (2, "e", 2)
    ]


def test_multimodal_to_ann_pipeline(spark):
    """End-to-end composition: binary media → resize → feature-extract →
    batch ANN top-k. Near-duplicate payloads must rank as each other's
    nearest neighbors through the whole pipeline."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.multimodal import (
        attach_binary,
        embed_media_stub,
        resize_stub,
    )
    from jhu_data_parser_spark.operators.similarity import topk_cosine_many

    base = ("spark engine media payload " * 40).encode()
    rows = [
        (1, base),
        (2, base[:-8] + b"variant!"),  # near-dup of 1
        (3, bytes(range(256)) * 8),  # uniform byte sweep — different distribution
        (4, b"ZZZZQQQQXXXX" * 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    resized = resize_stub(df, width=128, height=128)
    assert resized.first()["width"] == 128
    emb = embed_media_stub(df, dim=32)
    corpus = emb.filter("doc_id <> 1").withColumnRenamed("doc_id", "vec_id")
    queries = emb.filter("doc_id = 1").select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    top = topk_cosine_many(corpus, queries, k=1).first()
    assert top["vec_id"] == 2  # the near-dup payload is the nearest neighbor


def test_codecs_bmp_ppm_roundtrip():
    from jhu_data_parser_spark.functions.codecs import (
        bmp_row_size,
        decode_image_meta,
        encode_bmp,
        encode_ppm,
    )

    bmp = encode_bmp(33, 21, seed=7)  # width*3 not 4-aligned → padding path
    assert decode_image_meta(bmp) == ("bmp", 33, 21)
    assert len(bmp) == 54 + bmp_row_size(33) * 21
    ppm = encode_ppm(17, 5, seed=7)  # header carries a # comment line
    assert decode_image_meta(ppm) == ("ppm", 17, 5)
    assert len(ppm) > 17 * 5 * 3
    # Top-down BMP: negative height in the DIB header decodes as abs.
    import struct

    topdown = bytearray(encode_bmp(8, 4))
    struct.pack_into("<i", topdown, 22, -4)
    assert decode_image_meta(bytes(topdown)) == ("bmp", 8, 4)
    # Unknown magic → None (stub fallback territory); a recognized
    # JPEG magic with a corrupt body raises instead (r06: jpeg is now a
    # vendored codec, not stub territory).
    assert decode_image_meta(b"MP4\x00not-a-codec-we-parse") is None
    with pytest.raises(ValueError):
        decode_image_meta(b"\xff\xd8\xff\xe0jpeg-ish")
    # Recognized-but-corrupt → ValueError (incl. PNG since r05).
    with pytest.raises(ValueError):
        decode_image_meta(b"BM" + b"\x00" * 10)
    with pytest.raises(ValueError):
        decode_image_meta(b"P6\n12")
    with pytest.raises(ValueError):
        decode_image_meta(b"\x89PNG\r\n\x1a\nrest")


def test_codecs_png_roundtrip_and_filters():
    """encode→decode roundtrips the exact LCG pixel fill (proving
    inflate + Sub-unfilter), the stored-deflate size formula holds, and
    the decoder genuinely undoes ALL five PNG filter types on a
    hand-filtered stream."""
    import struct
    import zlib

    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        _fill_bytes,
        decode_image_meta,
        decode_png_meta,
        decode_png_pixels,
        encode_png,
    )

    w, h = 33, 21
    payload = encode_png(w, h, seed=7)
    assert decode_image_meta(payload) == ("png", w, h)
    assert decode_png_meta(payload) == (w, h, 8, 2)
    n = (3 * w + 1) * h
    assert len(payload) == 63 + 5 * ((n + 65534) // 65535) + n
    px = decode_png_pixels(payload)
    want = np.frombuffer(_fill_bytes(w * h * 3, 7), dtype=np.uint8).reshape(h, w, 3)
    assert (px == want).all()

    # All five filter types: build raw pixels, filter each row with
    # type y % 5 per the spec, wrap in a valid PNG, decode, compare.
    rng = np.random.RandomState(3)
    w2, h2 = 9, 10
    raw = rng.randint(0, 256, size=(h2, w2 * 3), dtype=np.uint8).astype(np.int64)
    scan = bytearray()
    for y in range(h2):
        ftype = y % 5
        prior = raw[y - 1] if y > 0 else np.zeros(w2 * 3, dtype=np.int64)
        row = raw[y]
        enc = np.zeros(w2 * 3, dtype=np.int64)
        for i in range(w2 * 3):
            left = row[i - 3] if i >= 3 else 0
            ul = prior[i - 3] if i >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = prior[i]
            elif ftype == 3:
                pred = (left + prior[i]) // 2
            else:
                p = left + prior[i] - ul
                pa, pb, pc = abs(p - left), abs(p - prior[i]), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (prior[i] if pb <= pc else ul)
            enc[i] = (row[i] - pred) % 256
        scan.append(ftype)
        scan.extend(enc.astype(np.uint8).tobytes())

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w2, h2, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert (got == raw.astype(np.uint8).reshape(h2, w2, 3)).all()

    # Corrupt CRC must be rejected.
    bad = bytearray(png)
    bad[-5] ^= 0xFF  # IEND CRC byte
    with pytest.raises(ValueError):
        decode_png_pixels(bytes(bad))


def test_codecs_jpeg_roundtrip_and_entropy():
    """Baseline JPEG: flat-block content at quant 1 roundtrips EXACTLY
    (the property the oracle relies on); arbitrary content at quant 1
    roundtrips within ±2 (8×8 float DCT rounding); a ZRL/run-heavy
    block exercises the AC run-length path; corrupt streams are
    rejected; sniff/meta dispatch recognizes the format."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        decode_image_meta,
        decode_jpeg_gray,
        decode_jpeg_meta,
        encode_jpeg_gray,
        sniff_format,
    )

    # exact flat-block roundtrip
    rng = np.random.RandomState(11)
    vals = rng.randint(0, 256, size=(3, 4))
    px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    payload = encode_jpeg_gray(px)
    assert sniff_format(payload) == "jpeg"
    assert decode_image_meta(payload) == ("jpeg", 32, 24)
    assert decode_jpeg_meta(payload) == (32, 24, 1)
    assert (decode_jpeg_gray(payload) == px).all()

    # arbitrary content: near-exact at quant 1 (entropy path carries
    # real AC coefficients, including negative categories)
    px2 = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    out2 = decode_jpeg_gray(encode_jpeg_gray(px2))
    assert np.abs(out2.astype(int) - px2.astype(int)).max() <= 2

    # run-length stress: one hot pixel at the block's end forces a
    # >15-zero run (ZRL) through encode AND decode
    px3 = np.full((8, 8), 128, dtype=np.uint8)
    px3[7, 7] = 255
    out3 = decode_jpeg_gray(encode_jpeg_gray(px3))
    assert np.abs(out3.astype(int) - px3.astype(int)).max() <= 2

    # lossy quant: still decodes, bounded error
    out4 = decode_jpeg_gray(encode_jpeg_gray(px2, quant=8))
    assert np.abs(out4.astype(int) - px2.astype(int)).max() <= 16

    # corrupt: truncated entropy stream and bad magic must raise
    with pytest.raises(ValueError):
        decode_jpeg_gray(payload[: len(payload) // 2])
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x01" + payload[2:])
    # non-multiple-of-8 dims are rejected by the encoder
    with pytest.raises(ValueError):
        encode_jpeg_gray(np.zeros((10, 16), dtype=np.uint8))

    # COLOR: achromatic content roundtrips exactly through the
    # 3-component interleaved pipeline (YCbCr exact for R=G=B)...
    from jhu_data_parser_spark.functions.codecs import (
        decode_jpeg_pixels,
        encode_jpeg_rgb,
    )

    rgb = np.stack([px, px, px], axis=2)
    cpay = encode_jpeg_rgb(rgb)
    assert decode_jpeg_meta(cpay) == (32, 24, 3)
    assert (decode_jpeg_pixels(cpay) == rgb).all()
    # ...arbitrary color content decodes within the quant-1 + YCbCr
    # rounding envelope, exercising both chroma Huffman tables
    rgb2 = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    cout = decode_jpeg_pixels(encode_jpeg_rgb(rgb2))
    assert np.abs(cout.astype(int) - rgb2.astype(int)).max() <= 4
    # a gray-expecting caller must not silently get a 3-dim array
    with pytest.raises(ValueError):
        decode_jpeg_gray(cpay)


def test_codecs_png_resize_matches_numpy_reference():
    """resize_png_nearest must equal direct numpy floor-index sampling
    of the decoded source, re-decoded from the re-encoded stream."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        decode_png_pixels,
        encode_png,
        resize_png_nearest,
    )

    w, h, nw, nh = 21, 13, 10, 6
    src = encode_png(w, h, seed=11)
    px = decode_png_pixels(src)
    yi = (np.arange(nh, dtype=np.int64) * h) // nh
    xi = (np.arange(nw, dtype=np.int64) * w) // nw
    want = px[yi][:, xi]
    out = resize_png_nearest(src, nw, nh)
    got = decode_png_pixels(out)
    assert got.shape == (nh, nw, 3)
    assert (got == want).all()
    n = (3 * nw + 1) * nh
    assert len(out) == 63 + 5 * ((n + 65534) // 65535) + n


def test_pagerank_integer_exact(spark):
    """Spark integer PageRank must equal a plain-Python mirror of the
    documented update rule on a hand-built graph (incl. a dangling node
    4 and a no-in-edge node 1)."""
    from jhu_data_parser_spark.operators.graph import PR_SCALE, pagerank

    edge_list = [(1, 2), (2, 3), (3, 2), (2, 4)]
    edges = spark.createDataFrame(edge_list, "src int, dst int")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(edges, iterations=5).collect()}

    nodes = sorted({n for e in edge_list for n in e})
    outdeg = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(5):
        contrib = {}
        for s, d in edge_list:
            contrib[d] = contrib.get(d, 0) + r[s] // outdeg[s]
        r = {v: PR_SCALE // n * 15 // 100 + contrib.get(v, 0) * 85 // 100 for v in nodes}
    assert got == r
    # sanity: node 2 (two in-edges) outranks the no-in-edge node 1
    assert got[2] > got[1]


def test_triangle_counts(spark):
    """Two triangles sharing edge (1,2); node 5 connected but
    triangle-free; directions/duplicates must not matter."""
    from jhu_data_parser_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (1, 4), (2, 4), (4, 5)],
        "src int, dst int",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1, 5: 0}


def test_codecs_wav_roundtrip():
    import struct

    import numpy as np

    from jhu_data_parser_spark.functions.codecs import decode_wav, encode_wav, sniff_format

    wav = encode_wav(100, 16000, seed=9)
    assert sniff_format(wav) == "wav"
    rate, channels, bits, samples = decode_wav(wav)
    assert (rate, channels, bits, len(samples)) == (16000, 1, 16, 100)
    # Sample values follow the documented integer recurrence.
    expected = (9 * 7919 + np.arange(100, dtype=np.int64) * 104729) % 65536 - 32768
    assert (samples.astype(np.int64) == expected).all()
    # Parser is a real chunk walker: an unknown odd-sized chunk inserted
    # before fmt/data is skipped with word alignment.
    body = wav[12:]
    junk = b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # 5 bytes + pad
    rebuilt = b"RIFF" + struct.pack("<I", 4 + len(junk) + len(body)) + b"WAVE" + junk + body
    assert decode_wav(rebuilt)[:3] == (16000, 1, 16)
    # Corruption → ValueError: bad magic, non-PCM format tag, no data chunk.
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + wav[4:])
    nonpcm = bytearray(wav)
    struct.pack_into("<H", nonpcm, 20, 3)  # IEEE float format tag
    with pytest.raises(ValueError):
        decode_wav(bytes(nonpcm))
    with pytest.raises(ValueError):
        decode_wav(wav[: 12 + 24])  # fmt only, truncated before data


def test_extract_audio_meta_real_decode(spark):
    from jhu_data_parser_spark.functions.codecs import encode_wav
    from jhu_data_parser_spark.operators.multimodal import extract_audio_meta

    rows = [(7, encode_wav(64 + 7 % 192, 16000, seed=7))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = extract_audio_meta(df).collect()[0]
    assert out["media_type"] == "wav"
    assert out["n_samples"] == 71
    assert out["duration_us"] == 71 * 1_000_000 // 16000
    assert out["abs_amplitude_sum"] > 0


def test_extract_media_meta_real_decode(spark):
    from jhu_data_parser_spark.functions.codecs import encode_bmp, encode_ppm
    from jhu_data_parser_spark.operators.multimodal import extract_media_meta

    rows = [(1, encode_bmp(40, 30, seed=1)), (2, encode_ppm(20, 10, seed=2))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in extract_media_meta(df, strict=True).collect()}
    assert (out[1]["media_type"], out[1]["width"], out[1]["height"]) == ("bmp", 40, 30)
    assert (out[2]["media_type"], out[2]["width"], out[2]["height"]) == ("ppm", 20, 10)
    # strict mode refuses formats without a vendored codec (jpeg is
    # vendored since r06, so use a genuinely unparsed magic)
    bad = spark.createDataFrame([(3, b"MP4\x00not-a-codec")], "doc_id long, media binary")
    with pytest.raises(Exception, match="NotImplementedError|PythonException"):
        extract_media_meta(bad, strict=True).collect()


def test_salted_agg_spreads_hot_key(spark):
    """Skew demo that bites: one key owns 50% of rows. Under plain hash
    partitioning every hot-key row lands on ONE reducer (max partition
    share ≈ 50%); salting the group key spreads them across
    salt_buckets reducers. Asserts both the distribution fix and exact
    result equality with the unsalted aggregation."""
    from jhu_data_parser_spark.operators.skew import salted_agg

    n, buckets, parts = 200_000, 16, 32
    df = (
        spark.range(n)
        .withColumn(
            "key",
            F.when(F.col("id") % 2 == 0, F.lit("HOT")).otherwise(
                F.concat(F.lit("k"), (F.col("id") % 1000).cast("string"))
            ),
        )
        .withColumn("v", (F.col("id") % 97).cast("long"))
    )

    def max_share(frame, *cols):
        dist = (
            frame.repartition(parts, *[F.col(c) for c in cols])
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
        )
        return max(r["count"] for r in dist.collect()) / n

    unsalted_share = max_share(df, "key")
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))
    salted_share = max_share(df.withColumn("__salt", salt), "key", "__salt")
    assert unsalted_share >= 0.5  # hot key collapses onto one reducer
    # Hot key split ~16 ways; residual mass on the max reducer is hot
    # sub-key collisions (16 sub-keys into 32 partitions) + background
    # keys. The claim is the ratio: salting cuts the max reducer's load
    # by >3× (in practice ~5×: 0.50 → ~0.11).
    assert salted_share <= unsalted_share / 3
    assert salted_share <= 0.2

    expected = {
        r["key"]: (r["n_rows"], r["v_sum"])
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum"))
        .collect()
    }
    got = {
        r["key"]: (r["n_rows"], r["v_sum"])
        for r in salted_agg(
            df,
            ["key"],
            {"n_rows": F.count(F.lit(1)), "v_sum": F.sum("v")},
            salt_buckets=buckets,
        ).collect()
    }
    assert got == expected


def _bpe_reference(word_counts, num_merges):
    """Pure-python classic BPE (Sennrich-style) for cross-checking."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(num_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in kv[0][0]]))
        # deterministic: count desc, then lexicographically smallest pair
        top_n = max(pairs.values())
        cands = sorted([p for p, n in pairs.items() if n == top_n])
        a, b = cands[0]
        n = pairs[(a, b)]
        if n < 2:
            break
        merges.append((rank, a, b, a + b, n))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    from jhu_data_parser_spark.operators.text import bpe_train_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(df, num_merges=8).orderBy("merge_rank").collect()
    ]
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    expected = _bpe_reference(wc, 8)
    assert got == expected
    assert got[0][1:3] == ("e", "w")  # 'ew': newest×6 + new×2 = 8, top pair
    # the distributed per-merge argmax loop (local_vocab_bound=0 forces
    # it) must produce the identical merge table to the adaptive
    # driver-side trainer the default path uses
    dist = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(df, num_merges=8, local_vocab_bound=0)
        .orderBy("merge_rank")
        .collect()
    ]
    assert dist == expected


def test_quantized_topk_recall(spark):
    """Int8 quantization must preserve the neighborhood: recall@10 vs
    exact cosine >= 0.8 on the real embeddings table, and integer dots
    are exact (no float drift in the quantized domain)."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    e = load_table(spark, sf, "embeddings")
    qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
    corpus = e.filter("vec_id <> 0")
    exact = {r["vec_id"] for r in sim.topk_cosine(corpus, qv, k=10).collect()}
    quant = {r["vec_id"] for r in sim.topk_quantized(corpus, qv, k=10).collect()}
    assert len(exact & quant) >= 8


def test_contamination_hits_planted(spark):
    from jhu_data_parser_spark.operators.text import contamination_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # two distinct overlapping 4-shingles ("the quick brown fox",
            # "quick brown fox jumps")
            (1, "prefix the quick brown fox jumps suffix"),
            # repeated shingle must count once (distinct semantics)
            (2, "lazy dog bites lazy dog bites lazy dog bites"),
            (3, "completely unrelated words only here"),
            # case-insensitive match
            (4, "THE QUICK BROWN FOX stops"),
        ],
        "doc_id long, text string",
    )
    out = contamination_hits(docs, bench, k=4)
    got = {r["doc_id"]: r["n_hits"] for r in out.collect()}
    assert got == {1: 2, 4: 1}
    # benchmark probe set must broadcast: corpus-side map probe, no
    # corpus-shingle shuffle
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_codecs_gif_roundtrip_and_canonical_vector():
    import base64

    from jhu_data_parser_spark.functions.codecs import decode_gif, encode_gif, sniff_format

    for w, h, n in [(1, 1, 1), (13, 7, 3), (40, 32, 7)]:
        g = encode_gif(w, h, n, seed=5)
        assert sniff_format(g) == "gif"
        assert decode_gif(g) == (w, h, n)
    # Independent validation: the canonical public 1x1 transparent GIF
    # (not produced by our encoder) must parse — proves the block walker
    # handles a third-party stream, not just its own output.
    onepx = base64.b64decode("R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    assert decode_gif(onepx) == (1, 1, 1)
    # Corruption: bad magic, truncated sub-blocks, missing trailer.
    with pytest.raises(ValueError):
        decode_gif(b"JIF89a" + bytes(20))
    g = encode_gif(4, 4, 2)
    with pytest.raises(ValueError):
        decode_gif(g[:-10])  # cut inside the last frame's data
    with pytest.raises(ValueError):
        decode_gif(g[:-1])  # trailer removed


def test_frame_sample_gif_real_counts(spark):
    from jhu_data_parser_spark.functions.codecs import encode_gif
    from jhu_data_parser_spark.operators.multimodal import frame_sample_gif

    rows = [(1, encode_gif(8, 8, 5, seed=1)), (2, encode_gif(6, 4, 1, seed=2))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = sorted(
        (r["doc_id"], r["frame_no"]) for r in frame_sample_gif(df, every_nth=2).collect()
    )
    assert got == [(1, 0), (1, 2), (1, 4), (2, 0)]


def test_triangle_degree_orientation_equivalent(spark):
    """Degree-orientation (the at-scale skew bound) must count exactly
    the same triangles as id-orientation — on a skewed star-plus-cliques
    graph AND on the derived trade graph."""
    from jhu_data_parser_spark.operators.graph import trade_edges, triangle_counts
    from jhu_data_parser_spark.sources.tables import load_table

    # hub node 0 connected to everyone (degree skew) + two triangles
    edges = [(0, i) for i in range(1, 8)] + [(1, 2), (3, 4), (4, 5), (3, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    by_id = {r["node"]: r["n_triangles"] for r in triangle_counts(df, orient="id").collect()}
    by_deg = {r["node"]: r["n_triangles"] for r in triangle_counts(df, orient="degree").collect()}
    assert by_id == by_deg
    assert by_id[0] == 4  # hub: (0,1,2), (0,3,4), (0,4,5), (0,3,5)
    sf = "/root/testdata/sf0.001"
    trade = trade_edges(
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "supplier"),
    )
    a = sorted(triangle_counts(trade, orient="id").collect())
    b = sorted(triangle_counts(trade, orient="degree").collect())
    assert a == b


def test_contamination_hashed_shingles_equivalent(spark):
    """The xxhash64-shingle scale path must flag identical (doc, count)
    results as the raw-string path on the real documents table."""
    from jhu_data_parser_spark.operators.text import contamination_hits
    from jhu_data_parser_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    raw = sorted(contamination_hits(corpus, bench, k=4).collect())
    hashed = sorted(contamination_hits(corpus, bench, k=4, hash_shingles=True).collect())
    assert raw == hashed and len(raw) > 0


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """With redistribution, total rank mass must stay ~= scale (within
    integer-truncation loss) even when a sink node keeps absorbing rank;
    with drop, mass visibly leaks. Node 4 is the sink."""
    from jhu_data_parser_spark.operators.graph import PR_SCALE, pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "src int, dst int"
    )
    redis = sum(r["rank_scaled"] for r in pagerank(edges, 5, dangling="redistribute").collect())
    drop = sum(r["rank_scaled"] for r in pagerank(edges, 5, dangling="drop").collect())
    # truncation loses at most a few units per node per iteration
    assert abs(redis - PR_SCALE) < PR_SCALE * 0.001
    assert drop < PR_SCALE * 0.9  # sink leak is material without redistribution


def test_simhash_candidates_pigeonhole_recall(spark):
    """bands=8 guarantees recall for hamming <= 7: the near-dup pair
    (measured hamming 7) and exact dups must surface; the unrelated doc
    (hamming 34) must not."""
    from jhu_data_parser_spark.operators.dedup import simhash_candidates

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),
        (3, "completely different content about engines " * 5),
        (4, base),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_candidates(df, bands=8).collect()}
    assert got[(1, 4)] == 0
    assert got[(1, 2)] == 7 and got[(2, 4)] == 7
    assert not any(3 in p for p in got)


def test_resize_bmp_real_pixels(spark):
    """The distributed resize must produce byte-identical output to the
    local codec reference, and the codec itself must match direct numpy
    index-map resampling."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        decode_bmp_pixels,
        encode_bmp,
        resize_bmp_nearest,
    )
    from jhu_data_parser_spark.operators.multimodal import resize_image_real

    src = encode_bmp(34, 22, seed=9)
    px = decode_bmp_pixels(src)
    ref = px[(np.arange(11) * 22) // 11][:, (np.arange(17) * 34) // 17]
    local = resize_bmp_nearest(src, 17, 11)
    assert (decode_bmp_pixels(local) == ref).all()

    df = spark.createDataFrame([(2, src)], "doc_id long, media binary")
    out = resize_image_real(df, scale_den=2).collect()[0]
    assert (out["width"], out["height"]) == (17, 11)
    assert bytes(out["media"]) == local


def test_kmeans_recovers_planted_clusters(spark):
    """Three well-separated planted centers → every point assigned with
    its center-mates, regardless of id order; empty-cluster branch keeps
    the orphaned centroid alive."""
    from jhu_data_parser_spark.operators.clustering import kmeans_assign

    centers = {0: 0, 1: 8_000_000, 2: -8_000_000}
    rows = []
    for i in range(60):
        c = i % 3
        # deterministic jitter well inside the separation
        jit = [((i * 131 + d * 17) % 2001) - 1000 for d in range(4)]
        rows.append((i, [centers[c] + j for j in jit]))
    pts = spark.createDataFrame(rows, "id long, q array<bigint>")
    out = kmeans_assign(pts, k=3, iterations=4).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["id"] % 3)
    # each produced cluster contains exactly one planted center's points
    assert sorted(len(v) for v in by_cluster.values()) == [1, 1, 1]
    assert len(out) == 60


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """Duplicate seed points make round 1 a full tie — the lowest-cid
    tie-break empties cluster 1, and the update must RETAIN its previous
    centroid ([0,0]) instead of dropping the row. Round 2 then pulls the
    origin points back to it; if the retention branch were broken,
    cluster 1 could never reappear."""
    from jhu_data_parser_spark.operators.clustering import kmeans_assign

    rows = [(0, [0, 0]), (1, [0, 0]), (2, [5, 5]), (3, [6, 6])]
    pts = spark.createDataFrame(rows, "id long, q array<bigint>")
    out = kmeans_assign(pts, k=2, iterations=2).collect()
    assigned = {r["id"]: r["cluster"] for r in out}
    assert len(assigned) == 4
    # origin duplicates reclaimed by the retained [0,0] centroid
    assert assigned[0] == 1 and assigned[1] == 1
    assert assigned[2] == 0 and assigned[3] == 0


def test_kmeans_deterministic_across_runs(spark):
    """Fixed-point arithmetic + lowest-id seeding ⇒ bit-identical
    output on re-run (the property the cross-engine oracle relies on)."""
    from jhu_data_parser_spark.operators.clustering import (
        kmeans_assign,
        quantize_vectors,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    pts = quantize_vectors(load_table(spark, SF_SMOKE, "embeddings"))
    a = sorted(map(tuple, kmeans_assign(pts, k=5, iterations=2).collect()))
    b = sorted(map(tuple, kmeans_assign(pts, k=5, iterations=2).collect()))
    assert a == b


def test_kmeans_fit_multi_matches_per_group_fit(spark):
    """The joint multi-group fit (one chain of jobs for M independent
    k-means instances — the PQ codebook build) must return centroids
    bit-identical per group to kmeans_fit run on that group alone,
    including the empty-cluster-retention branch."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.clustering import (
        kmeans_fit,
        kmeans_fit_multi,
    )

    rows = []
    for g in range(3):
        for i in range(25):
            # different geometry per group, including duplicate seeds in
            # group 2 to exercise the tie/empty-cluster path
            base = [0, 0] if (g == 2 and i < 4) else [
                (i % 4) * 1_000_000 + g * 37, (i * 131 + g) % 997
            ]
            rows.append((g, i, base))
    pts = spark.createDataFrame(rows, "g int, id long, q array<bigint>")
    joint = kmeans_fit_multi(pts, k=4, iterations=3).collect()
    got = {
        g: sorted((r["cid"], tuple(r["c"])) for r in joint if r["g"] == g)
        for g in range(3)
    }
    for g in range(3):
        solo = kmeans_fit(
            pts.filter(F.col("g") == g).drop("g"), k=4, iterations=3
        )[1].collect()
        want = sorted((r["cid"], tuple(r["c"])) for r in solo)
        assert got[g] == want, f"group {g} centroids diverge"


def test_star_contraction_matches_propagation(spark):
    """Star contraction (the O(log² n)-round scale path) must produce
    exactly the same (id → component-min) labeling as min-label
    propagation on: a long chain (worst case for propagation), a star
    entered from the leaf side, a cycle, isolated pairs, and a random
    graph."""
    import random

    from jhu_data_parser_spark.operators.dedup import (
        connected_components,
        connected_components_contraction,
    )

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 140)]          # 41-node chain
    edges += [(200, leaf) for leaf in range(201, 208)]     # star
    edges += [(300, 301), (301, 302), (302, 300)]          # cycle
    edges += [(400, 401), (402, 403)]                      # islands
    edges += [(rng.randrange(500, 540), rng.randrange(500, 540)) for _ in range(60)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    prop = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_iter=60, local_bound=0).collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components_contraction(pairs).collect()
    }
    local = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert star == prop == local
    # chain collapses to its minimum
    assert star[139] == 100 and star[302] == 300


def test_interval_sweep_overlap_counts(spark):
    """Sweep-line concurrency must count closed-interval overlaps
    exactly: chain overlaps, touching endpoints (st == other.en) count,
    disjoint and singleton sessions count zero."""
    from jhu_data_parser_spark.operators.intervals import session_overlap_counts

    sess = spark.createDataFrame(
        [
            (1, 0, 1.0, 3.0),   # overlaps B (and touches C at 3.0? no - C starts 3.0)
            (2, 0, 2.0, 4.0),   # overlaps A and C
            (3, 0, 4.0, 5.0),   # touches B at 4.0 → counts (closed intervals)
            (4, 0, 9.0, 9.0),   # zero-length, alone
        ],
        "uid long, session_no long, st double, en double",
    )
    out = {
        r["uid"]: r["n_concurrent"]
        for r in session_overlap_counts(sess, key_cols=["uid", "session_no"]).collect()
    }
    assert out == {1: 1, 2: 2, 3: 1, 4: 0}


def test_global_rank_is_stable_across_evaluations(spark):
    """Regression: RangePartitioning samples boundaries per evaluation —
    without the checkpoint pin inside global_rank, the offsets branch
    could see a different row→partition assignment than the local-sum
    branch, corrupting ranks nondeterministically. Ranks must be
    identical across repeated actions AND match the sequential truth."""
    from jhu_data_parser_spark.operators.intervals import global_rank

    rows = [(float(i % 997), 0, 1, None) for i in range(5000)] + [
        (float(p), 1, 0, f"p{p}") for p in (0, 100, 996)
    ]
    df = spark.createDataFrame(rows, "t double, tag int, w long, sid string")
    ranked = global_rank(df, ["t", "tag"], "w", n_parts=16)
    probe = ranked.filter(F.col("w") == 0).select("sid", "rank")
    a = sorted(map(tuple, probe.collect()))
    b = sorted(map(tuple, probe.collect()))
    assert a == b
    truth = {f"p{p}": sum(1 for i in range(5000) if (i % 997) <= p) for p in (0, 100, 996)}
    assert dict(a) == truth


def test_repetition_signals_planted(spark, tmp_path):
    """Planted repetitive vs diverse docs: the run-length HOF must equal
    hand-computed top-token/top-bigram fractions exactly."""
    import pyspark.sql.functions as F  # noqa: F811
    from jhu_data_parser_spark.plans.pipeline4 import text_repetition_signals

    rows = [
        # "spam spam spam spam eggs": top tok 4/5, bigrams: "spam spam"x3,
        # "spam eggs" -> top bigram 3/4, distinct toks 2/5
        (0, "spam spam spam spam eggs", "en", "s", 24),
        # all-distinct, long enough that 1/(n-1) clears the 0.10
        # bigram threshold: top tok 1/20, top bigram 1/19
        (1, " ".join(chr(ord("a") + i) for i in range(20)), "en", "s", 39),
        # 1-token doc: no bigrams -> NULL bigram stats, token-only gate
        (2, "solo", "en", "s", 4),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    p = str(tmp_path / "documents.parquet")
    df.write.parquet(p)
    # load_table reads <sf_dir>/documents.parquet
    out = {
        r["doc_id"]: r
        for r in text_repetition_signals(spark, str(tmp_path)).collect()
    }
    assert out[0]["top_token_frac"] == 4 / 5
    assert out[0]["top_bigram_frac"] == 3 / 4
    assert out[0]["distinct_token_ratio"] == 2 / 5
    assert not out[0]["passes_repetition"]
    assert out[1]["top_token_frac"] == 1 / 20
    assert out[1]["top_bigram_frac"] == 1 / 19
    assert out[1]["dup_bigram_frac"] == 0.0
    assert out[1]["passes_repetition"]
    assert out[2]["top_token_frac"] == 1.0
    assert out[2]["top_bigram_frac"] is None
    assert out[2]["dup_bigram_frac"] is None
    assert not out[2]["passes_repetition"]  # top_token_frac 1.0 > 0.20


def test_dhash_identity_and_locality():
    """Same payload -> same hash; a single-pixel perturbation can flip at
    most the 2 comparison bits that touch the perturbed grid cell."""
    from jhu_data_parser_spark.functions.codecs import dhash64_bmp, encode_bmp

    a = encode_bmp(40, 30, seed=7)
    assert dhash64_bmp(a) == dhash64_bmp(bytes(a))
    assert dhash64_bmp(encode_bmp(40, 30, seed=7)) == dhash64_bmp(a)
    # different content -> (overwhelmingly) different hash
    assert dhash64_bmp(encode_bmp(40, 30, seed=8)) != dhash64_bmp(a)
    # perturb one pixel byte inside the pixel array (offset 54+) by +128
    b = bytearray(a)
    b[54 + 5] = (b[54 + 5] + 128) % 256
    d = bin(dhash64_bmp(bytes(b)) ^ dhash64_bmp(a)).count("1")
    assert d <= 2


def test_minhash_dense_bucket_full_recall(spark):
    """A planted identical cluster much denser than any sane bucket must
    still yield every pair — the chained-generator expansion streams the
    quadratic pair output with O(bucket) task memory instead of capping
    or dropping — each pair exactly once, alongside normal buckets."""
    from jhu_data_parser_spark.operators.dedup import minhash_candidates

    n = 1200
    base = "identical boilerplate content repeated across the corpus " * 3
    near = "totally separate pair of documents about spark physical plans " * 3
    docs = [(i, base) for i in range(n)]
    docs += [(5001, near), (5002, near)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_candidates(df, num_hashes=16, bands=4).localCheckpoint(eager=True)
    expected_cluster = n * (n - 1) // 2
    assert pairs.count() == expected_cluster + 1
    assert pairs.distinct().count() == expected_cluster + 1  # exactly-once
    assert pairs.filter("id_a = 5001 AND id_b = 5002").count() == 1


def test_simhash_candidates_exactly_once(spark):
    """First-colliding-band emission: identical docs collide in EVERY
    band but each pair must appear once, without a distinct() pass."""
    from jhu_data_parser_spark.operators.dedup import simhash_candidates

    base = "spark is a distributed engine for large scale data processing " * 4
    docs = [(i, base) for i in range(10)] + [
        (100, "cooking pasta requires salted boiling water and timing " * 4)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = simhash_candidates(df).groupBy("id_a", "id_b").count().collect()
    assert len(got) == 45  # C(10,2); outsider excluded
    assert all(r["count"] == 1 for r in got)


def test_contraction_keeps_self_pair_only_nodes(spark):
    """A node that appears ONLY in self-pairs (A,A) is a singleton
    component — both CC variants must agree with each other (and the
    shared oracle) on that edge case."""
    from jhu_data_parser_spark.operators.dedup import (
        connected_components,
        connected_components_contraction,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7), (9, 9), (3, 3)],
        "id_a long, id_b long",
    )
    prop = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_bound=0).collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components_contraction(pairs).collect()
    }
    local = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert star == prop == local == {1: 1, 2: 1, 3: 1, 7: 7, 9: 9}


def test_quality_weighted_keeps_max_weight_docs(spark, tmp_path):
    """Weight 1.0 (>=512 tokens) must keep 100% of documents — the
    9-hex-threshold regression kept ~1/16 of them."""
    from jhu_data_parser_spark import plans

    long_text = "tok " * 600
    docs = [(i, "en", long_text) for i in range(64)]
    docs += [(1000 + i, "en", "short doc") for i in range(64)]
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    kept = plans.QUERIES["sample_quality_weighted"](spark, str(tmp_path))
    # every max-weight doc survives; the 2-token docs draw at ~2/512
    assert kept.filter("n_tokens >= 512").count() == 64
    assert kept.filter("n_tokens < 512").count() < 64


def test_minhash_exactly_once_matches_distinct_reference(spark):
    """Invariant: first-colliding-band emission produces EXACTLY the
    distinct candidate set of the naive any-band bucket join, each pair
    once, on a randomized corpus with planted exact dups (which collide
    in every band) and shuffled near-dups."""
    import random

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.dedup import (
        ensure_parallelism,
        minhash_candidates,
        minhash_signature_fast,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(120):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    # exact-dup clusters (collide in all 16 bands)
    for i in range(120, 140):
        docs.append((i, docs[i % 7][1]))
    # near-dups: copy with one word swapped
    for i in range(140, 160):
        base = docs[i % 11][1].split()
        base[3] = "swapped"
        docs.append((i, " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = sorted((r["id_a"], r["id_b"]) for r in minhash_candidates(df).collect())
    assert len(got) == len(set(got)), "pair emitted more than once"

    # independent reference: any-band bucket join + distinct
    bands, rpb = 16, 4
    sig = minhash_signature_fast("text", 64, 3)
    ws = ensure_parallelism(df).select(F.col("doc_id"), sig.alias("sig"))
    banded = ws.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(0, {bands - 1}), b -> "
            f"struct(b AS band, xxhash64(slice(sig, b * {rpb} + 1, {rpb})) AS h)))"
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.h")
    ref = sorted(
        (r["id_a"], r["id_b"])
        for r in banded.alias("a")
        .join(banded.alias("b"), ["band", "h"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .collect()
    )
    assert got == ref


def test_langid_ngram_native_matches_udf(spark):
    """The oracle-paired native-expression trigram language ID (catalog
    query) must agree with the pandas-UDF operator byte-for-byte on the
    real corpus — same normalization, same first-language-wins ties,
    same >=3-hit threshold."""
    from jhu_data_parser_spark import plans
    from jhu_data_parser_spark.operators import text as tx
    from jhu_data_parser_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    native = {
        (r["doc_id"], r["lang_guess"])
        for r in plans.QUERIES["text_langid_ngram"](spark, SF_SMOKE).collect()
    }
    d = load_table(spark, SF_SMOKE, "documents")
    udf = {
        (r["doc_id"], r["g"])
        for r in d.select("doc_id", tx.langid_ngram("text").alias("g")).collect()
    }
    assert native == udf


def test_etl_contract_first_match_and_defaults(spark):
    """Behavioral assertions behind the etl_contract hash gates: the
    DECOY lookup row (higher file order) never leaks into the enrich
    output, lookup misses surface as NULL (category) and the two U2
    miss shapes (family join miss, missing date column) default to 0."""
    from jhu_data_parser_spark import plans
    from tests.conftest import SF_SMOKE

    cat = plans.QUERIES["etl_category_records"](spark, SF_SMOKE).collect()
    assert len(cat) > 0
    assert all(r["country-iso2"] != "ZZ" for r in cat)
    assert all(r["country-lat"] != -99.0 for r in cat)
    misses = [r for r in cat if r["country-iso2"] is None]
    assert misses and all(r["country-lat"] is None and r["country-long"] is None for r in misses)

    comb = plans.QUERIES["etl_combined_records"](spark, SF_SMOKE).collect()
    assert all(r["iso2"] != "ZZ" for r in comb)
    # whole-family miss: odd nations have deaths == 0 on every date
    assert any(r["deaths"] == 0 for r in comb)
    # missing-column miss: the third date has recovered == 0 everywhere
    third = [r for r in comb if r["series_date"].startswith("1969")]
    assert third and all(r["recovered"] == 0 for r in third)
    assert any(r["recovered"] > 0 for r in comb)


def test_jaccard_prefix_pairs_planted_recall(spark):
    """Prefix filtering must be EXACT: on a planted corpus, the output
    equals brute-force shingle Jaccard >= tau — including a pair at
    exactly the threshold, a pair sharing only RARE shingles, and a
    just-below-threshold pair that must be absent."""
    from itertools import combinations

    from jhu_data_parser_spark.operators import dedup as dd

    docs = [
        # identical pair (J = 1.0)
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        # near-dup pair: one token appended
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven eight"),
        # unrelated docs sharing a common boilerplate prefix with many
        # docs (high-df shingles) but nothing rare
        (5, "the quick brown fox jumps over dogs"),
        (6, "the quick brown cat sleeps under trees"),
        (7, "the quick brown owl flies over rivers"),
        # short docs (< k tokens -> whole-doc shingle)
        (8, "tiny doc"),
        (9, "tiny doc"),
        (10, "tiny document"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_prefix_pairs(df, threshold=0.5).collect()
    }

    def sh(text, k=3):
        toks = text.lower().split(" ")
        if len(toks) >= k:
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    want = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        a, b = sh(ta), sh(tb)
        j = len(a & b) / len(a | b)
        if j >= 0.5:
            want[(ia, ib)] = j
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (8, 9) in got  # whole-doc shingle path
    assert (3, 4) in got  # genuine near-dup survives


def test_shared_span_pairs_planted(spark):
    """Planted exact spans: max_span_tokens must equal the hand-planted
    longest shared run, and disjoint / sub-k overlaps must not pair."""
    from jhu_data_parser_spark.operators import dedup as dd

    span6 = "s1 s2 s3 s4 s5 s6"
    docs = [
        # pair (1,2): one shared 6-token span -> 3 dup grams (k=4), span 6
        (1, f"a b c {span6} x y z"),
        (2, f"p q {span6} r s t u"),
        # pair (3,4): TWO disjoint shared 4-token spans -> 2 dup grams,
        # max span still 4 (runs are not consecutive positions in doc 3)
        (3, "m1 m2 m3 m4 gap1 gap2 n1 n2 n3 n4"),
        (4, "n1 n2 n3 n4 other m1 m2 m3 m4 tail"),
        # 3-token overlap only: below k -> must NOT appear
        (5, "k1 k2 k3 aa bb cc"),
        (6, "k1 k2 k3 dd ee ff"),
        # doc shorter than k: no grams, never pairs
        (7, "x y z"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["n_dup_grams"], r["max_span_tokens"])
        for r in dd.shared_span_pairs(df, k=4).collect()
    }
    assert got == {(1, 2): (3, 6), (3, 4): (2, 4)}


def test_shared_span_repeated_gram_in_partner(spark):
    """A gram occurring at MULTIPLE positions in the partner must count
    the source position once (the bucketed plan emits per source
    position, the quadratic reference dedupes)."""
    from jhu_data_parser_spark.operators import dedup as dd

    docs = [
        (1, "w1 w2 w3 w4 solo"),
        (2, "w1 w2 w3 w4 mid w1 w2 w3 w4"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = dd.shared_span_pairs(df, k=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["n_dup_grams"] == 1 and r["max_span_tokens"] == 4


def test_shared_span_cross_group_orientation(spark):
    """Interleaved duplicate-group ids flip pair orientation during
    exact-collapse expansion: metrics count positions in the LOWER-id
    doc, so pair (2,3) — where 3 duplicates rep 1 but 2 sits between
    them — must report doc 2's side, not rep 1's."""
    from jhu_data_parser_spark.operators import dedup as dd

    docs = [
        (1, "a b a b a b"),
        (2, "a b a b x y"),
        (3, "a b a b a b"),  # exact dup of 1 with an id ABOVE 2
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["n_dup_grams"], r["max_span_tokens"])
        for r in dd.shared_span_pairs(df, k=3).collect()
    }
    # doc1 side vs doc2: all 4 of doc1's grams occur in doc2 -> (4, 6);
    # doc2 side vs doc3: only positions 1-2 of doc2 are shared -> (2, 4);
    # intra (1,3): identical 6-token texts -> (4, 6).
    assert got == {(1, 2): (4, 6), (1, 3): (4, 6), (2, 3): (2, 4)}


def test_shared_span_groups_matches_pair_level_cc(spark):
    """shared_span_groups (linear star edges) must equal connected
    components over the quadratic member pair list — including the
    nastiest corner: a b-side-only qualifying edge whose lower rep is
    NOT itself incident (doc 1 shares a gram with doc 2 but only doc
    2's side carries a long-enough run, and doc 1's duplicate group is
    too short for an intra clique), so doc 1 must be ABSENT and the
    label must be the min INCIDENT member."""
    from jhu_data_parser_spark.operators import dedup as dd

    docs = [
        (1, "w w w"),        # group {1, 100}: 3 tokens -> no intra clique at min 4
        (2, "w w w w w"),    # singleton; b-side span 5 vs group {1,100}
        (100, "w w w"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id"], r["component"])
        for r in dd.shared_span_groups(df, k=3, span_min=4).collect()
    }
    # member-level truth: (1,2) spans 3 (a-side) -> filtered; (1,100)
    # identical 3-token texts span 3 -> filtered; (2,100) lower id 2's
    # side runs 3 consecutive grams -> span 5 -> edge. Doc 1 absent.
    assert got == {(2, 2), (100, 2)}

    # broader equivalence on a duplicate-dense corpus with interleaved
    # group ids, boilerplate overlap, and short texts
    boiler = "the quick brown fox jumps over the lazy dog"
    docs2 = [
        (1, boiler + " alpha beta gamma"),
        (2, "intro text " + boiler),
        (3, boiler + " alpha beta gamma"),   # dup of 1, id between groups
        (4, "unrelated words entirely here today"),
        (5, "intro text " + boiler),          # dup of 2
        (6, "x y"),                            # too short for grams
        (7, "x y"),                            # dup of 6 (short: no clique)
        (8, "the quick brown fox stops here now"),
    ]
    df2 = spark.createDataFrame(docs2, ["doc_id", "text"])
    pairs = dd.shared_span_pairs(df2, k=3).filter(F.col("max_span_tokens") >= 5)
    want = {
        (r["id"], r["component"])
        for r in dd.connected_components(pairs).collect()
    }
    got2 = {
        (r["id"], r["component"])
        for r in dd.shared_span_groups(df2, k=3, span_min=5).collect()
    }
    assert got2 == want


def test_jaccard_groups_matches_pair_level_cc(spark):
    """jaccard_groups (rep pairs + membership stars) must equal CC over
    the expanded member pair list — jaccard is symmetric so every
    member pair of a qualifying rep pair qualifies, and size-≥2 groups
    cluster by their 1.0 intra pairs even with no cross edges."""
    from jhu_data_parser_spark.operators import dedup as dd

    docs = [
        (1, "aa bb cc dd ee ff"),
        (2, "aa bb cc dd ee gg"),   # near-dup of 1
        (3, "aa bb cc dd ee ff"),   # exact dup of 1, interleaved id
        (4, "zz yy xx ww vv uu"),
        (5, "zz yy xx ww vv uu"),   # isolated exact-dup group {4,5}
        (6, "totally different text here now"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = dd.jaccard_prefix_pairs(df, threshold=0.5)
    want = {
        (r["id"], r["component"])
        for r in dd.connected_components(pairs).collect()
    }
    got = {
        (r["id"], r["component"])
        for r in dd.jaccard_groups(df, threshold=0.5).collect()
    }
    assert got == want
    assert {(4, 4), (5, 4)} <= got      # intra-only group clustered
    assert all(i != 6 for (i, _c) in got)  # isolated doc absent


def test_exact_collapse_null_text_singletons(spark):
    """NULL texts must NOT merge into one duplicate group (md5(NULL) is
    NULL and window partitioning groups NULL keys): each NULL-text doc
    stays a singleton and no dedup pair is fabricated among them."""
    from jhu_data_parser_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x y z w"), (4, None)],
        "doc_id long, text string",
    )
    reps, members = dd.exact_collapse(df)
    assert {(r.rep, r.member) for r in members.collect()} == {
        (1, 1),
        (2, 2),
        (3, 3),
        (4, 4),
    }
    pairs = dd.near_dup_pairs_minhash(df, threshold=0.1).collect()
    assert pairs == []


def test_pair_budget_guard_trips_on_dense_group(spark):
    """A 21k-member duplicate group means C(21k,2) ≈ 2.2e8 intra pairs;
    with max_intra_pairs set the producers must fail fast with the
    group-size diagnostic instead of launching the quadratic listing —
    and a budget-free call on a small corpus must be unaffected."""
    import pytest

    from jhu_data_parser_spark.operators import dedup as dd

    big = spark.range(21_000).select(
        F.col("id").alias("doc_id"), F.lit("same text every row").alias("text")
    )
    with pytest.raises(ValueError, match="21,000 members"):
        dd.near_dup_pairs_minhash(big, max_intra_pairs=1_000_000).collect()

    small = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd")], "doc_id long, text string"
    )
    # 1 intra pair <= budget: runs clean and still emits the pair
    got = {
        (r.id_a, r.id_b)
        for r in dd.near_dup_pairs_minhash(
            small, threshold=0.1, max_intra_pairs=10
        ).collect()
    }
    assert (1, 2) in got


def test_ivf_index_cache_cleans_replaced_dirs(spark, tmp_path):
    """Rebuilding the index for an overwritten corpus must delete the
    superseded index directory (no per-rebuild disk leak), and
    fingerprints with unresolvable entries must never be cached."""
    import os
    import shutil

    import numpy as np

    from jhu_data_parser_spark import cache
    from jhu_data_parser_spark.operators import similarity as sim

    def write(seed):
        rng = np.random.RandomState(seed)
        rows = [
            (i, [float(x) for x in rng.randn(4)]) for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(tmp_path / "emb.parquet"), mode="overwrite")

    write(1)
    df1 = spark.read.parquet(str(tmp_path / "emb.parquet"))
    path1, _ = sim.ivf_build_index(df1, n_centroids=4)
    assert os.path.isdir(path1)
    # same call again: served from cache, same dir
    assert sim.ivf_build_index(df1, n_centroids=4)[0] == path1

    write(2)  # in-place overwrite -> new fingerprint, same paths
    df2 = spark.read.parquet(str(tmp_path / "emb.parquet"))
    path2, _ = sim.ivf_build_index(df2, n_centroids=4)
    assert path2 != path1
    assert not os.path.exists(path1)  # superseded dir reclaimed
    assert os.path.isdir(path2)

    # the key rule: every file stats -> a (uri, mtime, size) key; a
    # vanished file or a frame with no files -> None (never cached)
    fp = cache.fingerprint(df2)
    assert fp and all(m is not None and sz is not None for (_, m, sz) in fp)
    gone = str(tmp_path / "gone.parquet")
    spark.range(3).write.parquet(gone)
    df_gone = spark.read.parquet(gone)
    shutil.rmtree(gone)
    assert cache.fingerprint(df_gone) is None
    assert cache.fingerprint(spark.range(3), tag="t") is None


def test_scd2_incremental_matches_rebuild_and_prunes(spark, tmp_path):
    """Synthetic event log covering every merge case: state continuing
    across the cutoff (open row extends), state changing at the cutoff
    (version closes), a user with no new events (must pass through), and
    a brand-new user (history-less insert). Incremental output must
    equal the full rebuild row-for-row."""
    import datetime as dt

    from jhu_data_parser_spark import plans
    from jhu_data_parser_spark.plans.pipeline5 import (
        _SCD2_CUTOFF,
        _state_runs,
    )
    import pyspark.sql.functions as F  # noqa: F811
    from pyspark.sql import Window

    cut = dt.datetime.fromisoformat(_SCD2_CUTOFF)
    b = cut - dt.timedelta(days=2)
    a = cut + dt.timedelta(hours=1)
    rows = [
        # user 1: A A | A B  -> run A extends across cutoff, then B
        (1, 1, "A", b),
        (2, 1, "A", b + dt.timedelta(hours=1)),
        (3, 1, "A", a),
        (4, 1, "B", a + dt.timedelta(hours=1)),
        # user 2: A B | (nothing) -> untouched passthrough
        (5, 2, "A", b),
        (6, 2, "B", b + dt.timedelta(hours=2)),
        # user 3: (nothing) | C C  -> history-less insert, one version
        (7, 3, "C", a),
        (8, 3, "C", a + dt.timedelta(minutes=5)),
        # user 4: B | B  -> single version spanning the cutoff
        (9, 4, "B", b),
        (10, 4, "B", a),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    ev.select(
        "event_id", "ts", "user_id", "event_type",
        F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    ).write.parquet(str(tmp_path / "events.parquet"))

    inc = plans.QUERIES["scd2_incremental_merge"](spark, str(tmp_path))
    got = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from_us"], r["valid_to_us"],
            r["is_current"], r["n_events"],
        )
        for r in inc.collect()
    }

    # full rebuild via the same run-collapse on ALL events
    runs = _state_runs(ev.select("user_id", "event_type", "ts", "event_id"))
    w2 = Window.partitionBy("user_id").orderBy("version")
    full = runs.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "state",
        F.unix_micros(F.col("vf").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.lead("vf").over(w2).cast("timestamp")).alias("valid_to_us"),
        F.lead("vf").over(w2).isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )
    want = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from_us"], r["valid_to_us"],
            r["is_current"], r["n_events"],
        )
        for r in full.collect()
    }
    assert got == want
    # spot-check the stitch semantics
    assert got[(1, 1)][0] == "A" and got[(1, 1)][4] == 3  # run extended to 3 events
    assert got[(1, 2)][0] == "B" and got[(1, 2)][3] is True
    assert got[(4, 1)][4] == 2 and got[(4, 1)][3] is True  # spans cutoff, still v1
    assert (2, 1) in got and (2, 2) in got  # untouched user intact
    assert got[(3, 1)][0] == "C" and got[(3, 1)][4] == 2  # new user


def test_unigram_freq_buckets_orders_head_first(spark, tmp_path):
    """Docs made of corpus-common tokens must land in 'head', rare-token
    docs in 'tail', and tertiles split 12 docs 4/4/4."""
    from jhu_data_parser_spark import plans

    common = "the of and to " * 5  # high corpus frequency
    docs = [(i, "en", "s", common.strip()) for i in range(4)]
    docs += [(10 + i, "en", "s", f"mid mid rare{i} rare{i}x") for i in range(4)]
    docs += [(20 + i, "en", "s", f"u{i}a u{i}b u{i}c u{i}d") for i in range(4)]
    spark.createDataFrame(
        docs, "doc_id long, lang string, source string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = plans.QUERIES["text_unigram_freq_buckets"](spark, str(tmp_path))
    rows = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert all(rows[i] == "head" for i in range(4))
    assert all(rows[10 + i] == "middle" for i in range(4))
    assert all(rows[20 + i] == "tail" for i in range(4))


def test_tz_host_robustness_subprocess():
    """The driver may run in ANY host timezone with a VANILLA session;
    timestamp semantics are pinned at the data-source choke points
    (load_table / streaming readers set session.timeZone=UTC), so
    ts-sensitive queries must still hash-match the oracle when the JVM
    starts under a non-UTC TZ. Subprocess because java.util.TimeZone is
    fixed at JVM launch."""
    import subprocess
    import sys

    script = r"""
import sys; sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from jhu_data_parser_spark import plans
from tests.oracle_compare import compare, duckdb_con
spark = SparkSession.builder.master("local[4]").getOrCreate()
con = duckdb_con("/root/testdata/sf0.001")
for name in ("scd2_incremental_merge", "events_sessionize", "scalar_date_funcs",
             "dialog_thread_turns", "dialog_response_latency"):
    r = compare(plans.QUERIES[name](spark, "/root/testdata/sf0.001"),
                con, plans.ORACLES[name])
    assert r["rows_match"] and r["cols_match"] and r["values_match"], (name, r)
print("TZ_OK")
"""
    import os

    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert "TZ_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_bpe_encode_matches_python_reference(spark, tmp_path):
    """End-to-end train→encode on a tiny corpus must equal a pure-python
    BPE (greedy left-to-right merge application in rank order): exact
    per-doc token counts AND the exact token stream."""
    import hashlib

    from jhu_data_parser_spark import plans

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    rows = [(i, "en", "s", t) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["stream_md5"])
        for r in plans.QUERIES["text_bpe_encode"](spark, str(tmp_path)).collect()
    }

    # python reference: train 10 merges (count>=2 words), then encode
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    vocab = {w: list(w) for w, c in wc.items() if c >= 2}
    merges = []
    for _ in range(10):
        pc = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _n = best
        merges.append((a, b))

        def apply(syms, a=a, b=b):
            outp = []
            for x in syms:
                if outp and outp[-1] == a and x == b:
                    outp[-1] = a + b
                else:
                    outp.append(x)
            return outp

        vocab = {w: apply(s) for w, s in vocab.items()}

    def encode(w):
        syms = list(w)
        for a, b in merges:
            outp = []
            for x in syms:
                if outp and outp[-1] == a and x == b:
                    outp[-1] = a + b
                else:
                    outp.append(x)
            syms = outp
        return syms

    for i, t in enumerate(texts):
        words = t.split()
        streams = ["\x01" + "\x01\x01".join(encode(w)) + "\x01" for w in words]
        md5 = hashlib.md5("\x02".join(streams).encode()).hexdigest()
        ntok = sum(len(encode(w)) for w in words)
        assert out[i] == (len(words), ntok, md5), (i, out[i])


def test_interpolation_invariants(spark, sf_dir):
    """events_interpolate_linear invariants against the raw table:
    observed rows reproduce the exact daily cents sum, every user's
    spine is dense from first to last observed day, and every
    interpolated value lies within [min(v0,v1), max(v0,v1)] of its
    bracketing observations (linearity bound)."""
    import pandas as pd

    from jhu_data_parser_spark import plans

    out = plans.QUERIES["events_interpolate_linear"](spark, sf_dir).toPandas()
    assert len(out) > 0

    # Observed rows reproduce the exact daily cents sum from the raw table.
    from jhu_data_parser_spark.sources.tables import load_table

    raw = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v"))
        .toPandas()
    )
    obs = out[out["is_observed"]][["user_id", "day", "filled_e2"]]
    merged = obs.merge(raw, on=["user_id", "day"], how="outer", indicator=True)
    assert (merged["_merge"] == "both").all()
    assert (merged["filled_e2"] == merged["v"]).all()

    for uid, g in out.groupby("user_id"):
        g = g.sort_values("day").reset_index(drop=True)
        days = pd.to_datetime(g["day"])
        # dense daily spine, endpoints observed
        assert (days.diff().dropna() == pd.Timedelta(days=1)).all()
        assert bool(g.iloc[0]["is_observed"]) and bool(g.iloc[-1]["is_observed"])
        # every gap value bounded by its bracketing observations
        obs_idx = g.index[g["is_observed"]].tolist()
        for a, b in zip(obs_idx, obs_idx[1:]):
            lo = min(g.loc[a, "filled_e2"], g.loc[b, "filled_e2"])
            hi = max(g.loc[a, "filled_e2"], g.loc[b, "filled_e2"])
            mid = g.loc[a + 1 : b - 1, "filled_e2"]
            assert ((mid >= lo) & (mid <= hi)).all(), (uid, a, b)


def test_local_cc_string_ids_and_forced_distributed_agree(spark):
    """The adaptive driver-side union-find must handle non-numeric id
    types (phash-style string keys) and agree with the distributed
    propagation path label-for-label."""
    from jhu_data_parser_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("z", "z")],
        "id_a string, id_b string",
    )
    local = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_bound=0).collect()
    }
    assert local == dist == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_probe_cache_plain_scan_guard(spark, tmp_path):
    """The adaptive-collapse probe cache keys on input FILES, so it
    must refuse to cache any frame whose lineage is more than a bare
    scan (a filtered subset over the same files must not inherit the
    full-corpus verdict — ADVICE r6)."""
    from jhu_data_parser_spark.cache import _is_plain_scan

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "a a a"), (2, "a a a"), (3, "b b b")], ["doc_id", "text"]
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    assert _is_plain_scan(scan)
    assert not _is_plain_scan(scan.filter("doc_id > 1"))
    assert not _is_plain_scan(scan.select("text"))
    assert not _is_plain_scan(scan.limit(2))
    assert not _is_plain_scan(
        spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    )


def test_pair_budget_guard_counts_cross_term(spark):
    """Many mid-size mutually-similar groups can blow the pair listing
    through the CROSS expansion (|A|x|B| per verified rep pair) even
    when no single group's intra term does — the guard must count both
    (ADVICE r6). Two 100-member near-dup groups: intra 2*C(100,2) =
    9,900 fits a 15k budget alone, intra+cross 19,900 must trip it."""
    import pytest

    from jhu_data_parser_spark.operators import dedup as dd

    rows = [(i, "aa bb cc dd ee ff") for i in range(100)] + [
        (1000 + i, "aa bb cc dd ee gg") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="cross-group"):
        dd.jaccard_prefix_pairs(df, threshold=0.5, max_intra_pairs=15_000).collect()
    # a budget that fits intra+cross runs clean and emits the full listing
    n = dd.jaccard_prefix_pairs(df, threshold=0.5, max_intra_pairs=30_000).count()
    assert n == 9_900 + 10_000


def test_ivf_capacity_eviction_defers_rmtree(spark, tmp_path, monkeypatch):
    """Capacity eviction must only drop the registry entry — the index
    DIRECTORY must survive until process exit, because an earlier
    caller may still hold a lazy DataFrame over it (ADVICE r6)."""
    import os

    import numpy as np

    from jhu_data_parser_spark import cache
    from jhu_data_parser_spark.operators import similarity as sim

    monkeypatch.setitem(cache._BOUNDS, "ivf_index", 1)
    monkeypatch.setitem(cache._ENTRIES, "ivf_index", {})

    def write(name, seed):
        rng = np.random.RandomState(seed)
        rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(40)]
        p = str(tmp_path / name)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(p)
        return p

    df1 = spark.read.parquet(write("a.parquet", 1))
    path1, _ = sim.ivf_build_index(df1, n_centroids=4)
    pending = spark.read.parquet(path1)  # lazy reader over index 1
    df2 = spark.read.parquet(write("b.parquet", 2))
    path2, _ = sim.ivf_build_index(df2, n_centroids=4)  # evicts index 1
    assert path2 != path1
    assert os.path.isdir(path1)            # NOT deleted mid-process
    assert path1 in cache._AT_EXIT         # reclaimed at exit instead
    assert pending.count() == 40           # pending query still works


def test_codecs_jpeg_420_subsampled_roundtrip():
    """4:2:0 chroma-subsampled JPEG: flat achromatic 16x16 MCUs at
    quant 1 roundtrip EXACTLY through the subsampled pipeline (chroma
    = 128 survives any downsample — the oracle subset); smooth color
    content decodes within the subsample+rounding envelope; the SOF
    declares Y 2x2 / chroma 1x1; partial-MCU dims are rejected."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        _fill_bytes,
        decode_jpeg_meta,
        decode_jpeg_pixels,
        encode_jpeg_rgb_420,
    )

    vals = np.frombuffer(_fill_bytes(6, seed=9), dtype=np.uint8).reshape(2, 3)
    gray = np.repeat(np.repeat(vals, 16, axis=0), 16, axis=1)
    rgb = np.stack([gray, gray, gray], axis=2)
    payload = encode_jpeg_rgb_420(rgb)
    assert decode_jpeg_meta(payload) == (48, 32, 3)
    # SOF sampling bytes: Y (cid 1) 0x22, chroma 0x11
    sof = payload.index(b"\xff\xc0")
    assert payload[sof + 10 : sof + 12] == b"\x01\x22"
    out = decode_jpeg_pixels(payload)
    assert out.shape == (32, 48, 3)
    assert (out == rgb).all()

    # smooth gradient: the 2x2 box downsample + replication upsample
    # stays within a few levels
    xx = np.linspace(0, 255, 48)[None, :].repeat(32, 0)
    rgb2 = np.stack([xx, np.full_like(xx, 100.0), xx[:, ::-1]], axis=2).astype(
        np.uint8
    )
    out2 = decode_jpeg_pixels(encode_jpeg_rgb_420(rgb2))
    assert np.abs(out2.astype(int) - rgb2.astype(int)).max() <= 8

    import pytest

    with pytest.raises(ValueError):
        encode_jpeg_rgb_420(np.zeros((24, 32, 3), dtype=np.uint8))  # h % 16
    # truncated subsampled entropy stream must still raise
    with pytest.raises(ValueError):
        decode_jpeg_pixels(payload[: len(payload) - 8])


def test_rep_analysis_cache_guard_and_reuse(spark, tmp_path):
    """The Jaccard/span rep-analysis cache must (a) serve repeat
    same-corpus calls identically, (b) key on params so thresholds
    don't cross-poison, and (c) never serve a filtered subset the
    full-corpus result (same plain-scan guard as the probe cache)."""
    from jhu_data_parser_spark.operators import dedup as dd

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff"),
            (2, "aa bb cc dd ee ff"),
            (3, "aa bb cc dd ee ff"),
            (4, "zz yy xx ww vv uu"),
        ],
        "doc_id long, text string",
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    full = {
        (r.id_a, r.id_b) for r in dd.jaccard_prefix_pairs(scan, threshold=0.5).collect()
    }
    assert full == {(1, 2), (1, 3), (2, 3)}
    again = {
        (r.id_a, r.id_b) for r in dd.jaccard_prefix_pairs(scan, threshold=0.5).collect()
    }
    assert again == full
    # tighter threshold is a different cache key, not a stale hit
    strict = {
        (r.id_a, r.id_b)
        for r in dd.jaccard_prefix_pairs(scan, threshold=0.999).collect()
    }
    assert strict == full  # exact dups are jaccard 1.0 either way
    # a filtered subset must compute ITS OWN pairs
    sub = scan.filter("doc_id <= 2")
    sub_pairs = {
        (r.id_a, r.id_b) for r in dd.jaccard_prefix_pairs(sub, threshold=0.5).collect()
    }
    assert sub_pairs == {(1, 2)}
    # span family: same contract
    spans = {
        (r.id_a, r.id_b)
        for r in dd.shared_span_pairs(scan, k=3).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= spans
    sub_spans = {
        (r.id_a, r.id_b) for r in dd.shared_span_pairs(sub, k=3).collect()
    }
    assert (1, 3) not in sub_spans and (2, 3) not in sub_spans


def test_kmeans_local_matches_distributed(spark):
    """The adaptive driver-side Lloyd must be bit-identical to the
    distributed job-chain loop — centroids, assignments, and distances
    — including the empty-cluster keep-previous rule and the (d, cid)
    argmin tie-break, for both the single and multi-group fits."""
    import random

    from jhu_data_parser_spark.operators.clustering import (
        kmeans_fit,
        kmeans_fit_multi,
    )

    rng = random.Random(13)
    pts = [
        (i, [rng.randrange(-1_000_000, 1_000_000) for _ in range(6)])
        for i in range(60)
    ]
    # plant exact ties: two identical points and a duplicated centroid seed
    pts[10] = (10, list(pts[3][1]))
    df = spark.createDataFrame(pts, "id long, q array<bigint>")
    a_loc, c_loc = kmeans_fit(df, k=5, iterations=3)
    a_dist, c_dist = kmeans_fit(df, k=5, iterations=3, local_bound=0)
    assert sorted(map(tuple, a_loc.collect())) == sorted(map(tuple, a_dist.collect()))
    assert sorted(map(tuple, c_loc.collect())) == sorted(map(tuple, c_dist.collect()))

    mpts = [(g, i, q) for g in (0, 1) for (i, q) in pts]
    mdf = spark.createDataFrame(mpts, "g int, id long, q array<bigint>")
    m_loc = sorted(map(tuple, kmeans_fit_multi(mdf, k=4, iterations=2).collect()))
    m_dist = sorted(
        map(tuple, kmeans_fit_multi(mdf, k=4, iterations=2, local_bound=0).collect())
    )
    assert m_loc == m_dist


def test_semdedup_collapse_exact_on_duplicate_vectors(spark, tmp_path):
    """The distinct-vector collapse branch of curation_semdedup_prune
    (n_copies > 1) never fires on the provided testdata — every vector
    there is distinct. Plant exact duplicate vectors (3 extra copies of
    every vec_id % 3 == 0 embedding, interleaved id ranges) and gate
    the collapsed plan against the UNCOLLAPSED quadratic oracle: a
    value-hash match proves the keep-first factorization over copies
    (all but the min-id copy pruned by their twin; the rep pruned iff a
    passing pair has smaller min-id) is exact."""
    import os
    import shutil

    import duckdb

    from jhu_data_parser_spark.plans import ORACLES, QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle_compare import TABLE_NAMES, compare, duckdb_con

    sf = str(tmp_path)
    for name in TABLE_NAMES:
        src = os.path.join(SF_SMOKE, f"{name}.parquet")
        if name != "embeddings":
            os.symlink(src, os.path.join(sf, f"{name}.parquet"))
    dup = duckdb.connect()
    dup.execute(
        f"""
        COPY (
          SELECT vec_id, embedding, label
          FROM read_parquet('{os.path.join(SF_SMOKE, "embeddings.parquet")}')
          UNION ALL
          SELECT vec_id + 100000 * k, embedding, label
          FROM read_parquet('{os.path.join(SF_SMOKE, "embeddings.parquet")}'),
               (SELECT unnest([1, 2, 3]) AS k)
          WHERE vec_id % 3 = 0
        ) TO '{os.path.join(sf, "embeddings.parquet")}' (FORMAT PARQUET)
        """
    )
    df = QUERIES["curation_semdedup_prune"](spark, sf)
    r = compare(df, duckdb_con(sf), ORACLES["curation_semdedup_prune"])
    assert r["rows_match"] and r["cols_match"] and r["values_match"], r
    # the collapse genuinely fired: pruned count exceeds what the
    # distinct-only corpus yields (every planted copy must be pruned)
    total_pruned = sum(row["n_pruned"] for row in df.collect())
    n_dups = dup.execute(
        f"""SELECT 3 * COUNT(*) FROM
        read_parquet('{os.path.join(SF_SMOKE, "embeddings.parquet")}')
        WHERE vec_id % 3 = 0"""
    ).fetchone()[0]
    assert total_pruned >= n_dups


def test_hard_negatives_are_bm25_minus_dense(spark):
    """Every mined hard negative must sit in the BM25 shortlist and
    OUTSIDE the dense cosine top-50 — the defining set property."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.plans import QUERIES
    from jhu_data_parser_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    out = QUERIES["retrieval_hard_negatives"](spark, SF_SMOKE).collect()
    assert out, "expected at least one hard negative on the smoke corpus"
    e = load_table(spark, SF_SMOKE, "embeddings")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    dense = {
        r[0]
        for r in sim.topk_cosine(e.filter(F.col("vec_id") != 0), qv, k=50)
        .select("vec_id")
        .collect()
    }
    negs = {r["doc_id"] for r in out}
    assert not negs & dense
    # ranks are 1..n dense in BM25-rank order
    assert [r["neg_rank"] for r in sorted(out, key=lambda r: r["bm25_rank"])] == list(
        range(1, len(out) + 1)
    )


def test_temperature_mix_flattens_shares(spark):
    """alpha=0.5 temperature sampling must compress the share range:
    below-average sources gain share, above-average sources lose it,
    and the total allocation never exceeds the budget."""
    from jhu_data_parser_spark.plans import QUERIES
    from jhu_data_parser_spark.plans.pipeline10 import _MIX_BUDGET
    from tests.conftest import SF_SMOKE

    rows = QUERIES["sample_temperature_mix"](spark, SF_SMOKE).collect()
    assert len(rows) >= 2
    assert sum(r["alloc_docs"] for r in rows) <= _MIX_BUDGET
    lo = min(rows, key=lambda r: r["n_tokens"])
    hi = max(rows, key=lambda r: r["n_tokens"])
    assert lo["temp_ppm"] >= lo["prop_ppm"]  # low-resource up-sampled
    assert hi["temp_ppm"] <= hi["prop_ppm"]  # high-resource down-sampled


def test_bigram_perplexity_rollup_is_total(spark):
    """Add-one smoothing makes every nll term non-negative, and the
    rollup must account for exactly the documents with >= 2 tokens."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.plans import QUERIES
    from jhu_data_parser_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = QUERIES["text_bigram_perplexity"](spark, SF_SMOKE).collect()
    assert all(r["ppx_bucket"] >= 0 for r in rows)
    assert all(r["sum_ppx_micro"] >= 0 for r in rows)
    n_eligible = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_eligible


def test_incremental_dedup_collapse_exact_on_duplicate_texts(spark, tmp_path):
    """The distinct-text collapse branch of the incremental-dedup twins
    never fires on the provided testdata (texts there are distinct).
    Plant 3 extra copies of every third document (interleaved id
    ranges, so copies land on both the new and old side of the
    doc_id % 5 split) and value-hash both the BATCH twin and the
    STREAMING twin against the uncollapsed quadratic-replay oracle."""
    import os

    import duckdb

    from jhu_data_parser_spark.plans import ORACLES, QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle_compare import TABLE_NAMES, compare, duckdb_con

    sf = str(tmp_path)
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(
                os.path.join(SF_SMOKE, f"{name}.parquet"),
                os.path.join(sf, f"{name}.parquet"),
            )
    src = os.path.join(SF_SMOKE, "documents.parquet")
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT doc_id + 100000 * k, text, lang, source, n_chars
          FROM read_parquet('{src}'), (SELECT unnest([1, 2, 3]) AS k)
          WHERE doc_id % 3 = 0
        ) TO '{os.path.join(sf, "documents.parquet")}' (FORMAT PARQUET)
        """
    )
    con = duckdb_con(sf)
    for name in ("dedup_incremental_vs_index", "stream_incremental_dedup"):
        df = QUERIES[name](spark, sf)
        r = compare(df, con, ORACLES[name])
        assert r["rows_match"] and r["cols_match"] and r["values_match"], (name, r)


def test_kmeans_collapse_duplicates_is_exact(spark):
    """collapse_duplicates fits over DISTINCT vectors with
    multiplicities; Lloyd's integer sums factorize over copies, so the
    assignment and centroids must be bit-identical to the plain fit —
    including when the k lowest-id seeds repeat a vector (planted) and
    when exact ties exist (planted identical points)."""
    import random

    from jhu_data_parser_spark.operators.clustering import kmeans_fit

    rng = random.Random(29)
    base = [
        (i, [rng.randrange(-1_000_000, 1_000_000) for _ in range(6)])
        for i in range(40)
    ]
    base[7] = (7, list(base[2][1]))  # tie among the points
    pts = list(base)
    # copies interleaved so several of the k lowest ids repeat a vector
    nid = 40
    for i, q in base:
        for _ in range(i % 4):
            pts.append((nid, list(q)))
            nid += 1
    pts[3] = (3, list(pts[50][1]))  # a seed row duplicating a later copy
    df = spark.createDataFrame(pts, "id long, q array<bigint>")
    a_plain, c_plain = kmeans_fit(df, k=5, iterations=3)
    # local_bound below the point count but above the distinct count, so
    # the plain local probe overflows and the collapse branch runs
    n_pts = df.count()
    n_distinct = df.select("q").distinct().count()
    assert n_distinct < n_pts
    a_coll, c_coll = kmeans_fit(
        df,
        k=5,
        iterations=3,
        local_bound=n_distinct + 2,
        collapse_duplicates=True,
    )
    assert sorted(map(tuple, a_plain.collect())) == sorted(
        map(tuple, a_coll.collect())
    )
    assert sorted(map(tuple, c_plain.collect())) == sorted(
        map(tuple, c_coll.collect())
    )
    # and against the distributed loop too
    a_dist, c_dist = kmeans_fit(df, k=5, iterations=3, local_bound=0)
    assert sorted(map(tuple, a_dist.collect())) == sorted(
        map(tuple, a_coll.collect())
    )
    assert sorted(map(tuple, c_dist.collect())) == sorted(
        map(tuple, c_coll.collect())
    )


def _unigram_reference(texts, vocab_multi=8, max_piece_len=3, min_count=2, em_iters=2):
    """Independent pure-python unigram hard-EM (no shared code with the
    operator's local trainer beyond the cost formula, which IS the
    contract): seed counts, per-round costs, per-word Viterbi with the
    (cost asc, length desc) tie-break, recount."""
    import math
    from collections import Counter

    wc = Counter()
    for t in texts:
        for w in t.lower().split():
            if w and len(w) <= 16:
                wc[w] += 1
    chars, cand = Counter(), Counter()
    for w, c in wc.items():
        for ch in w:
            chars[ch] += c
        for piece_len in range(2, max_piece_len + 1):
            for i in range(len(w) - piece_len + 1):
                cand[w[i : i + piece_len]] += c
    multi = sorted(
        ((p, n) for p, n in cand.items() if n >= min_count),
        key=lambda kv: (-kv[1], kv[0]),
    )[:vocab_multi]
    counts = dict(chars)
    counts.update(dict(multi))

    def costs(cnts):
        tot, v = sum(cnts.values()), len(cnts)
        return {
            p: math.floor(1_000_000 * math.log((tot + v) / (c + 1)))
            for p, c in cnts.items()
        }

    def viterbi(w, cost):
        n = len(w)
        dp = [0] + [1 << 62] * n
        bl = [0] * (n + 1)
        for i in range(1, n + 1):
            for piece_len in range(1, min(max_piece_len, i) + 1):
                c = cost.get(w[i - piece_len : i])
                if c is None:
                    continue
                d = dp[i - piece_len] + c
                if d < dp[i] or (d == dp[i] and piece_len > bl[i]):
                    dp[i], bl[i] = d, piece_len
        out, pos = [], n
        while pos > 0:
            out.append(w[pos - bl[pos] : pos])
            pos -= bl[pos]
        return out[::-1]

    for _ in range(em_iters):
        cost = costs(counts)
        obs = Counter()
        for w, c in wc.items():
            for p in viterbi(w, cost):
                obs[p] += c
        counts = {p: obs.get(p, 0) for p in counts}
    fc = costs(counts)
    return sorted((p, counts[p], fc[p]) for p in counts), fc


def test_unigram_fit_matches_reference_and_distributed(spark):
    """unigram_fit: local (default) == distributed (local_vocab_bound=0)
    == an independently-written pure-python reference, on a corpus with
    genuine segmentation ambiguity (overlapping frequent substrings) and
    a cost tie the length-desc tie-break must resolve identically."""
    from jhu_data_parser_spark.operators.text import unigram_fit

    texts = [
        "abab ababab abab baba",
        "unrelated words here here",
        "abc bca cab abcabc",
        "xx yy xx yy xyxy",
        "ab ab ba ba",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    kw = dict(vocab_multi=8, max_piece_len=3, min_count=2, em_iters=2)
    rows_l, costs_l = unigram_fit(df, **kw)
    rows_d, costs_d = unigram_fit(df, local_vocab_bound=0, **kw)
    ref_rows, ref_costs = _unigram_reference(texts, **kw)
    assert rows_l == ref_rows and costs_l == ref_costs
    assert rows_d == ref_rows and costs_d == ref_costs


def test_unigram_viterbi_expr_matches_local(spark):
    """The JVM HOF Viterbi expression (the encode path) segments every
    word identically to the python DP, including tie cases."""
    from jhu_data_parser_spark.operators.text import (
        _unigram_viterbi_local,
        unigram_viterbi_expr,
    )
    from pyspark.sql import functions as F

    cost = {"a": 100, "b": 100, "ab": 150, "ba": 150, "aba": 200, "c": 900,
            "bc": 950, "abc": 1000, "x": 5, "xx": 10}
    words = ["ababab", "abc", "abcabc", "xxxx", "a", "cccc", "bab"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: list(r["ps"])
        for r in df.select(
            "w", F.expr(unigram_viterbi_expr("w", cost, 3)).alias("ps")
        ).collect()
    }
    for w in words:
        assert got[w] == _unigram_viterbi_local(w, cost, 3), w


def test_unigram_viterbi_local_raises_on_unknown_char():
    """A cost map trained on a different corpus may lack a character of
    the input word; the backtrack must raise instead of looping forever
    on the uncoverable position (ADVICE r8)."""
    import pytest

    from jhu_data_parser_spark.operators.text import _unigram_viterbi_local

    cost = {"a": 100, "b": 100, "ab": 150}
    with pytest.raises(ValueError, match="no piece covering"):
        _unigram_viterbi_local("abz", cost, 3)
    # uncoverable char mid-word: positions after it still fill, the
    # backtrack hits the hole
    with pytest.raises(ValueError, match="no piece covering"):
        _unigram_viterbi_local("azb", cost, 3)
    assert _unigram_viterbi_local("abab", cost, 3) == ["ab", "ab"]


def test_jpeg_progressive_decode_equals_baseline():
    """A progressive stream carries the identical quantized coefficients
    as its baseline twin, so decode(progressive(px)) must equal
    decode(baseline(px)) EXACTLY — on dense random content (every
    run/size path), coarse quantization (sparse coefficients → real EOB
    runs and refinement correction bits), and smooth gradients (long
    cross-block EOB runs). Flat blocks additionally roundtrip to the
    source pixels bit-for-bit (the oracle-replay subset)."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        decode_jpeg_pixels,
        decode_jpeg_progressive,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    rng = np.random.RandomState(7)
    for quant in (1, 8, 16):
        for _ in range(8):
            h, w = 8 * rng.randint(1, 6), 8 * rng.randint(1, 6)
            px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            base = decode_jpeg_pixels(encode_jpeg_gray(px, quant=quant))
            prog = decode_jpeg_progressive(
                encode_jpeg_gray_progressive(px, quant=quant)
            )
            assert np.array_equal(base, prog), (quant, h, w)
    yy, xx = np.mgrid[0:40, 0:32]
    grad = ((yy + 2 * xx) % 256).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg_pixels(encode_jpeg_gray(grad, quant=16)),
        decode_jpeg_progressive(encode_jpeg_gray_progressive(grad, quant=16)),
    )
    vals = rng.randint(0, 256, size=(3, 4)).astype(np.uint8)
    flat = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    assert np.array_equal(
        decode_jpeg_progressive(encode_jpeg_gray_progressive(flat)), flat
    )
    # and the dispatch: decode_jpeg_pixels routes SOF2 itself
    assert np.array_equal(
        decode_jpeg_pixels(encode_jpeg_gray_progressive(flat)), flat
    )


def test_mp4_raw_container_roundtrip():
    """encode_mp4_raw → decode_mp4_raw: dims/fps/frame bytes recovered
    through the real box walk + sample tables; compressed sample
    formats raise (the vendored-codec boundary)."""
    import numpy as np

    from jhu_data_parser_spark.functions.codecs import (
        _fill_bytes,
        decode_mp4_raw,
        encode_mp4_raw,
        sniff_format,
    )

    for (w, h, n, seed) in [(16, 8, 3, 7), (8, 8, 1, 0), (32, 24, 6, 123)]:
        p = encode_mp4_raw(w, h, n, seed)
        assert sniff_format(p) == "mp4"
        W, H, fps, fr = decode_mp4_raw(p)
        assert (W, H, fps) == (w, h, 25) and fr.shape == (n, h, w, 3)
        vals = _fill_bytes(n, seed)
        for f in range(n):
            assert int(fr[f].astype(np.int64).sum()) == w * h * 3 * vals[f]
    # non-'raw ' sample format must raise, not fake
    p = bytearray(encode_mp4_raw(8, 8, 1, 0))
    i = p.find(b"raw ", 200)  # the stsd sample-entry tag (skip mdat)
    p[i : i + 4] = b"avc1"
    try:
        decode_mp4_raw(bytes(p))
        raise AssertionError("expected ValueError for avc1")
    except ValueError as e:
        assert "avc1" in str(e)


def test_ivfpq_arrow_encoder_matches_expression(spark):
    """The Arrow/numpy index-build encoder must produce the IDENTICAL
    (cell, code0..3) assignment as the pure-expression argmin (HALF_UP
    quantization, int64 squared L2, lowest-cid ties) — raw AND residual
    encodings, on the real embeddings table."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import (
        kmeans_fit,
        kmeans_fit_multi,
        quantize_vectors,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") != 0
    )
    m, sub = 4, 16
    pts = quantize_vectors(df)
    _, cents_df = kmeans_fit(pts, k=8, iterations=2)
    coarse = [
        [int(v) for v in r["c"]]
        for r in sorted(cents_df.collect(), key=lambda r: r["cid"])
    ]
    sub_pts = df.select(
        F.col("vec_id").alias("id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> named_struct('g', s, "
                f"'q', transform(slice(embedding, s * {sub} + 1, {sub}), "
                "x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))))"
            )
        ).alias("e"),
    ).select(F.col("e.g").alias("g"), "id", F.col("e.q").alias("q"))
    rows = kmeans_fit_multi(sub_pts, k=16, iterations=2).collect()
    books = [
        [
            [int(v) for v in c]
            for _cid, c in sorted((r["cid"], r["c"]) for r in rows if r["g"] == s)
        ]
        for s in range(m)
    ]

    def carr_lit(cents):
        return (
            "array("
            + ",".join(
                f"named_struct('cid', {cid}L, 'c', "
                f"array({','.join(str(v) + 'L' for v in c)}))"
                for cid, c in enumerate(cents)
            )
            + ")"
        )

    def argmin_expr(q_expr, cents):
        return (
            f"array_min(transform({carr_lit(cents)}, ctr -> named_struct("
            f"'d', aggregate(zip_with({q_expr}, ctr.c, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x), 'cid', ctr.cid))).cid"
        )

    for residual in (False, True):
        arrow = {
            r["id"]: (r["cell"], r["code0"], r["code1"], r["code2"], r["code3"])
            for r in sim._ivfpq_encode_arrow(
                df, coarse, books, sub, residual, "embedding", "vec_id"
            ).collect()
        }
        q = (
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
        )
        expr_df = df.select(
            F.col("vec_id").alias("id"), F.expr(q).alias("q")
        ).withColumn("cell", F.expr(argmin_expr("q", coarse)).cast("long"))
        src = "q"
        if residual:
            expr_df = expr_df.withColumn(
                "r",
                F.expr(
                    f"zip_with(q, element_at({carr_lit(coarse)}, "
                    "CAST(cell + 1 AS INT)).c, (a, b) -> a - b)"
                ),
            )
            src = "r"
        expr_df = expr_df.select(
            "id",
            "cell",
            *[
                F.expr(argmin_expr(f"slice({src}, {s * sub + 1}, {sub})", books[s]))
                .cast("long")
                .alias(f"code{s}")
                for s in range(m)
            ],
        )
        want = {
            r["id"]: (r["cell"], r["code0"], r["code1"], r["code2"], r["code3"])
            for r in expr_df.collect()
        }
        assert arrow == want, f"residual={residual}"


def test_ivfpq_multi_driver_rerank_matches_inplan(spark):
    """The driver-resident exact re-rank of topk_ivfpq_indexed_multi
    must produce the IDENTICAL rows as the former in-plan formulation
    (broadcast re-rank join + zip_with/aggregate + row_number over
    (exact_dist, id)) — raw AND residual modes, on the real embeddings
    table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    nq, k = 5, 10
    corpus = emb.filter(F.col("vec_id") >= nq)
    queries = sorted(
        (int(r["id"]), [int(v) for v in r["q"]])
        for r in quantize_vectors(emb.filter(F.col("vec_id") < nq))
        .select("id", "q")
        .collect()
    )
    for residual in (False, True):
        tag = f"embt_rr_{residual}"
        got = sorted(
            tuple(r)
            for r in sim.topk_ivfpq_indexed_multi(
                corpus, queries, k=k, cache_tag=tag, residual=residual
            ).collect()
        )
        # reference: the old in-plan re-rank over the same shortlist
        path, coarse, books = sim.ivfpq_build_index(
            corpus, cache_tag=tag, residual=residual
        )
        short = sim.ivfpq_shortlist(
            spark.read.parquet(path), coarse, books, queries, residual=residual
        )
        def arr_lit(vals):
            return "array(" + ",".join(str(int(v)) + "L" for v in vals) + ")"
        qmap = ", ".join(
            f"{int(qid)}L, " + arr_lit(list(qi)) for qid, qi in queries
        )
        base = corpus.select(
            F.col("vec_id").alias("id"),
            F.expr(
                "transform(embedding, x -> "
                "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
            ).alias("qv"),
        )
        rr = base.join(F.broadcast(short), "id").withColumn(
            "exact_dist",
            F.expr(
                f"aggregate(zip_with(qv, element_at(map({qmap}), query_id), "
                "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
                "(acc, x) -> acc + x)"
            ).cast("long"),
        )
        wr = Window.partitionBy("query_id").orderBy("exact_dist", "id")
        want = sorted(
            tuple(r)
            for r in rr.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("id").alias("vec_id"),
                F.col("rank").cast("int").alias("rank"),
                "cell",
                F.col("adc_dist").cast("long").alias("adc_dist"),
                "exact_dist",
            )
            .collect()
        )
        assert got == want, f"residual={residual}"


def test_kmeans_fit_multi_collapse_equivalence(spark):
    """kmeans_fit_multi with collapse (forced via a tiny plain bound
    that the replicated points overflow while the distinct count fits)
    must equal BOTH the plain local fit and the fully-distributed
    chain, per group, on a dup-dense multi-group corpus with a
    seed-duplicate (copies repeating a vector among the k lowest ids)
    and an exact tie."""
    import numpy as np  # noqa: F401

    from jhu_data_parser_spark.operators.clustering import kmeans_fit_multi

    rows = []
    rid = 0
    for g in (0, 1):
        base = [
            [1, 2, 3],
            [1, 2, 3],      # duplicate of the first (seed dup)
            [10, 0, 0],
            [0, 10, 0],
            [5, 5, 5],
        ]
        for copy in range(8):  # 8x replication → dup-dense
            for q in base:
                rows.append((g, rid, [v + g for v in q]))
                rid += 1
    df = spark.createDataFrame(rows, "g int, id long, q array<bigint>")

    def fit(**kw):
        return sorted(
            (r["g"], r["cid"], tuple(r["c"]))
            for r in kmeans_fit_multi(df, k=3, iterations=3, **kw).collect()
        )

    plain = fit(local_bound=10_000)                      # plain local path
    collapsed = fit(local_bound=30, collapse_duplicates=True)  # 80 rows > 30 > 10 distinct
    distributed = fit(local_bound=0)
    assert collapsed == plain == distributed


def test_lr_train_quality_local_equals_distributed(spark, tmp_path):
    """The distributed LR fit (one aggregation per step, weight-literal
    margins, posexplode gradient) must match the independent pure-python
    twin bit-for-bit: same weights, same per-step curve."""
    from jhu_data_parser_spark.operators.text import (
        _lr_train_quality_local,
        lr_train_quality,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    w_d, stats_d = lr_train_quality(d, steps=3)
    rows = [(r["doc_id"], r["text"]) for r in d.select("doc_id", "text").collect()]
    w_l, stats_l = _lr_train_quality_local(rows, steps=3)
    assert w_d == w_l
    assert stats_d == stats_l
    # training must actually learn: some step beats the all-positive
    # step-1 baseline (full-batch GD is non-monotone step to step —
    # the 6-step curve on this corpus is 302 → 415 → 267 → ... → 404)
    assert max(s["n_correct"] for s in stats_d) > stats_d[0]["n_correct"]


def test_pq_balanced_perm_spreads_energy(spark):
    """pq_balanced_perm returns a true permutation that deals the
    high-energy dims round-robin: on the bit-pattern skew corpus the 16
    signal dims (0..15) must land exactly 4 per subspace, so every
    subspace's pattern count stays within one 16-entry codebook."""
    from jhu_data_parser_spark.operators.similarity import pq_balanced_perm
    from jhu_data_parser_spark.plans.pipeline13 import _synth_skewed
    from pyspark.sql import functions as F

    skew = _synth_skewed(spark, "/root/testdata/sf0.001")
    P = pq_balanced_perm(skew.filter(F.col("vec_id") != 0), m=4, sub=16)
    assert sorted(P) == list(range(64))
    for s in range(4):
        sig = [d for d in P[s * 16 : (s + 1) * 16] if d < 16]
        assert len(sig) == 4, (s, sig)


def test_binary_signature_packing_and_recall(spark):
    """The packed sign words must equal the driver-side python twin on
    every row, and the Hamming shortlist must recover planted neighbors
    (sign bits of q + 0.15·noise overwhelmingly match q's sign bits —
    the structure 1-bit quantization exists to exploit)."""
    import numpy as np
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.similarity import (
        binary_query_words,
        binary_signature,
        hamming64,
        topk_cosine,
    )

    rng = np.random.RandomState(13)
    q = rng.standard_normal(64)
    planted = [q + 0.15 * rng.standard_normal(64) for _ in range(15)]
    noise = [rng.standard_normal(64) for _ in range(500)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(planted + noise)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    sigs = binary_signature(df)
    for r in sigs.collect():
        lo, hi = binary_query_words([float(x) for x in r["embedding"]])
        assert (r["sig_lo"], r["sig_hi"]) == (lo, hi), r["vec_id"]

    qv = [float(x) for x in q]
    qlo, qhi = binary_query_words(qv)
    short = {
        r["vec_id"]
        for r in sigs.select(
            "vec_id", hamming64(F.col("sig_lo"), F.col("sig_hi"), qlo, qhi).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(16)
        .collect()
    }
    exact = {r["vec_id"] for r in topk_cosine(df, qv, k=10).collect()}
    assert len(exact & short) >= 8  # shortlist-16 recovers the exact top-10


def test_zorder_interleave_matches_python(spark):
    """The Morton key layout_zorder_pruning sorts by, ``zorder_key(y, x)``,
    must equal the reference python interleave (x bit i at 2i+1, y bit i
    at 2i — the oracle's layout) for every (x, y) in the 6-bit grid
    corners + randoms."""
    import random

    from jhu_data_parser_spark.sink import zorder_key

    def z_py(x: int, y: int) -> int:
        z = 0
        for i in range(6):
            z |= ((x >> i) & 1) << (2 * i + 1)
            z |= ((y >> i) & 1) << (2 * i)
        return z

    rng = random.Random(5)
    pts = [(0, 0), (63, 63), (0, 63), (63, 0)] + [
        (rng.randrange(64), rng.randrange(64)) for _ in range(50)
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    got = df.select("x", "y", zorder_key("y", "x", bits=6).alias("z")).collect()
    for r in got:
        assert r["z"] == z_py(r["x"], r["y"]), (r["x"], r["y"])


def _wp_encode_py(word: str, vocab: set) -> list:
    """Pure-python greedy longest-match WordPiece reference."""
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    pos, out = 0, []
    while pos < len(word):
        best = 0
        for l in range(1, min(max_raw, len(word) - pos) + 1):
            piece = word[pos : pos + l] if pos == 0 else "##" + word[pos : pos + l]
            if piece in vocab:
                best = l
        if best == 0:
            return ["[UNK]"]
        out.append(word[pos : pos + best] if pos == 0 else "##" + word[pos : pos + best])
        pos += best
    return out


def test_wordpiece_trainer_and_encode_with_unk(spark):
    """Local trainer == distributed trainer on a planted corpus; the
    greedy HOF encoder must equal the pure-python reference on every
    distinct word INCLUDING the whole-word [UNK] fallback (the char
    'ä' appears only in a below-frequency-floor word, so it never
    enters the vocabulary — the branch sf-testdata never exercises)."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.text import (
        wordpiece_encode_expr,
        wordpiece_train_merges,
        wordpiece_vocab,
    )

    rows = [
        (0, "hello hello world world worlds"),
        (1, "help held hello world zebra zebra"),
        (2, "tokenizer tokenizer tokens tokens zäbra"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    loc = wordpiece_train_merges(d, num_merges=6).collect()
    dist = wordpiece_train_merges(d, num_merges=6, local_vocab_bound=0).collect()
    assert [tuple(r) for r in loc] == [tuple(r) for r in dist]
    assert len(loc) > 0

    vocab = wordpiece_vocab(d, num_merges=6)
    words = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    got = {
        r["w"]: list(r["ps"])
        for r in words.select(
            "w", F.expr(wordpiece_encode_expr("w", vocab)).alias("ps")
        ).collect()
    }
    vs = set(vocab)
    unks = 0
    for w, ps in got.items():
        want = _wp_encode_py(w, vs)
        assert ps == want, (w, ps, want)
        unks += ps == ["[UNK]"]
    assert unks >= 1  # zäbra has no 'ä' piece -> whole-word UNK


def test_video_neardup_catches_planted_trims(spark):
    """Every planted trimmed-mirror pair (uid, uid+9) must surface with
    n_shared == the trimmed copy's full frame count (containment of the
    shorter video), and the decode-side frame keys must genuinely come
    from the byte stream (mp4_frame_signature raises on a misread)."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark import plans

    df = plans.QUERIES["multimodal_video_neardup_pairs"](
        spark, "/root/testdata/sf0.001"
    )
    rows = {(r["id_a"], r["id_b"]): r for r in df.collect()}
    n_docs = 500
    for uid in range(0, n_docs - 9, 10):
        pair = (uid, uid + 9)
        assert pair in rows, f"planted trim pair {pair} missing"
        r = rows[pair]
        assert r["n_shared"] == r["nf_b"] == r["nf_a"] - 1, dict(r.asDict())


def test_audio_content_dedup_beats_byte_dedup(spark):
    """The byte-vs-content contrast that motivates decode-normalized
    dedup: raw-md5 grouping catches only the byte-exact twin (uid+5),
    while the decoded-PCM fingerprint also catches the re-encoded twin
    (uid+9, extra LIST chunk) — every planted decade triple must land
    in one content group but TWO byte groups."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.multimodal import (
        attach_wav_mirrored,
        wav_content_fingerprint,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    fp = wav_content_fingerprint(attach_wav_mirrored(d))
    rows = {r["doc_id"]: r for r in fp.collect()}
    for uid in range(0, 491, 10):
        head, exact, reenc = rows[uid], rows[uid + 5], rows[uid + 9]
        key = lambda r: (r["sample_rate"], r["n_samples"], r["pcm_fp"])
        assert key(head) == key(exact) == key(reenc), uid
        assert head["raw_md5"] == exact["raw_md5"], uid  # byte-exact twin
        assert head["raw_md5"] != reenc["raw_md5"], uid  # re-encode defeats md5


def test_pack_efficiency_strategy_ordering(spark):
    """The three packing strategies must be waste-monotone per source:
    stream <= harmonic <= per_doc bins, and harmonic bins must cover
    the token mass (bins*B >= total)."""
    from jhu_data_parser_spark import plans

    rows = plans.QUERIES["text_pack_efficiency"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["bins_stream"] <= r["bins_harmonic"] <= r["bins_per_doc"], dict(r.asDict())
        assert r["bins_harmonic"] * 512 >= r["total_tokens"]
        assert r["waste_harmonic"] == r["bins_harmonic"] * 512 - r["total_tokens"]


def test_normalized_dedup_beats_raw_md5(spark):
    """Raw md5 must MISS every homoglyph-disguised pair that the
    normalized hash catches — the contrast that motivates folding
    confusables before dedup."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark import plans
    from jhu_data_parser_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    dup = plans.QUERIES["text_normalized_dedup"](spark, sf)
    planted = {
        r["doc_id"]
        for r in dup.filter(F.col("is_duplicate")).collect()
    }
    # every decade (head, +9) pair is caught
    for uid in range(0, 491, 10):
        assert uid in planted and uid + 9 in planted, uid

    # raw md5 over the SAME augmented corpus groups nothing planted:
    d = load_table(spark, sf, "documents")
    heads = d.select((F.col("doc_id") + 9).alias("doc_id"), F.col("text").alias("ht"))
    aug = d.join(heads, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 9, F.translate(F.col("ht"), "aeocp", "аеоср")
        ).otherwise(F.col("text")).alias("text"),
    )
    raw_groups = (
        aug.groupBy(F.md5(F.lower("text")).alias("h"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert raw_groups == 0


def test_portable_minhash_signature_spread_invariant(spark):
    """The r14 spread inside minhash_signature_portable must not change a
    single signature byte: the min aggregates are placement-independent,
    so spread=True and spread=False are bit-identical on a corpus small
    enough that ensure_parallelism actually repartitions (the case the
    spread exists for)."""
    import random

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators.dedup import minhash_signature_portable

    rng = random.Random(1414)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    t = df.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("toks"))
    a = sorted(
        (r["doc_id"], tuple(r["mh"]))
        for r in minhash_signature_portable(t, spread=True).collect()
    )
    b = sorted(
        (r["doc_id"], tuple(r["mh"]))
        for r in minhash_signature_portable(t, spread=False).collect()
    )
    assert a == b
