"""Catalog wave 12 — round 8: the end-to-end curation funnel v2.

Reference parity note: the reference (/root/reference) has no curation
surface; this is the [extension] integration query (r7 verdict item 5)
— the first thing a real user of the corpus-curation layer runs: the
stage-by-stage yield table of the full pipeline. The round-2
``pipeline_curation_funnel`` predates most of the stages the engine
now carries; v2 composes the round-4..7 operators, each stage reusing
the SAME rule text / synthesis as its standalone oracle-gated query so
the per-stage yields cross-check against the individual queries:

    raw → URL-canonical dedup (pipeline4 chain, min-id keeper)
        → language filter (lang = 'en')
        → Gopher quality rules (pipeline8 integer-rational battery,
          here over the RAW text — the standalone query decorates to
          make every rule fire; the funnel reports true corpus yield)
        → benchmark decontamination (8-token-shingle overlap with a
          synthesized benchmark set — Lee et al. / GPT-3 appendix-C
          style exact n-gram filter)
        → MinHash near-dedup (the engine-portable 16-hash/4-band
          pipeline of dedup_minhash_portable_pairs; drop the larger id
          of every verified pair)

Stage flags are computed INDEPENDENTLY on the full corpus and applied
cumulatively (the v1 discipline): one wide shuffle for URL
survivorship, one for the near-dup banding, one broadcast anti-ish
join for decontamination; everything else is a single projection into
ONE 1-row conditional aggregate and a 6-row stack. The DuckDB oracle
replays every stage — including the ENTIRE portable-MinHash chain —
so the driver gate certifies the integrated pipeline end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.plans.llm import _PORTABLE_MH_ORACLE
from jhu_data_parser_spark.plans.pipeline4 import _URL_CANON_CTES
from jhu_data_parser_spark.operators.text import SHINGLE8_TOKS_SQL
from jhu_data_parser_spark.sources.tables import load_table

_STAGES = (
    "raw",
    "url_dedup",
    "lang_en",
    "gopher_quality",
    "decontaminate",
    "near_dedup",
)


def _funnel_v2_oracle() -> str:
    stack = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage, '{name}' AS stage_name, "
        f"c{i} AS n_docs, t{i} AS n_tokens FROM s"
        for i, name in enumerate(_STAGES)
    )
    conds = [
        "TRUE",
        "url_keep",
        "url_keep AND lang = 'en'",
        "url_keep AND lang = 'en' AND gq",
        "url_keep AND lang = 'en' AND gq AND NOT contam",
        "url_keep AND lang = 'en' AND gq AND NOT contam AND NOT nd",
    ]
    aggs = ",\n             ".join(
        f"CAST(COUNT(*) FILTER (WHERE {c}) AS BIGINT) AS c{i},\n             "
        f"CAST(COALESCE(SUM(n_tok) FILTER (WHERE {c}), 0) AS BIGINT) AS t{i}"
        for i, c in enumerate(conds)
    )
    return f"""
    WITH {_URL_CANON_CTES},
    uk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1
               AS url_keep
      FROM canon),
    gm AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tok,
             length(text) - (len(string_split(text, ' ')) - 1) AS letters,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             len(list_filter(string_split(text, ' '),
                             w -> NOT regexp_matches(w, '[a-z]'))) AS n_nonalpha,
             len(list_intersect(string_split(text, ' '),
                                ['the', 'and', 'of', 'to', 'in', 'a', 'is']))
               AS n_stop
      FROM documents),
    gf AS (
      SELECT doc_id, lang, n_tok,
             (n_tok >= 30
              AND 3 * n_tok <= letters AND letters <= 10 * n_tok
              AND 10 * n_hash <= n_tok
              AND 10 * n_nonalpha <= n_tok
              AND n_stop >= 2) AS gq
      FROM gm),
    lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    bench AS (
      SELECT DISTINCT array_to_string(toks[1:8], ' ') AS g
      FROM lt WHERE doc_id % 17 = 0),
    shg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 6),
                                   i -> array_to_string(toks[i:i+7], ' '))) AS g
      FROM lt),
    contam_ids AS (SELECT DISTINCT shg.doc_id FROM shg JOIN bench USING (g)),
    np AS ({_PORTABLE_MH_ORACLE}),
    nd_ids AS (SELECT DISTINCT id_b AS doc_id FROM np),
    f AS (
      SELECT gf.doc_id, gf.lang, gf.n_tok, gf.gq, uk.url_keep,
             (c.doc_id IS NOT NULL) AS contam,
             (nd.doc_id IS NOT NULL) AS nd
      FROM gf
      JOIN uk USING (doc_id)
      LEFT JOIN contam_ids c ON c.doc_id = gf.doc_id
      LEFT JOIN nd_ids nd ON nd.doc_id = gf.doc_id),
    s AS (SELECT {aggs} FROM f)
    {stack}
    """


@query("pipeline_curation_funnel_v2", oracle=_funnel_v2_oracle())
def pipeline_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrated corpus-curation yield table over the round-4..7
    stages (module docstring): per stage, surviving document and token
    counts under cumulative application of independently-computed
    flags. Each stage reuses its standalone operator — the URL
    canonicalization chain (`pipeline4.url_canonical_frame`), the
    Gopher integer-rational rules, exact 8-gram decontamination
    (`operators/text.shingles`-style explode + broadcast benchmark
    join), and the portable-MinHash near-dup pairs (the
    `dedup_minhash_portable_pairs` plan, larger-id drop rule).

    Scale posture: one corpus projection computes every per-doc metric;
    URL survivorship shuffles 16-byte canonical keys once; the
    benchmark set broadcasts (it is small by definition); the near-dup
    arm is the banded one-shuffle pipeline with exact-collapse +
    budget guard inherited from the standalone query; the final rollup
    is ONE 1-row conditional aggregate + a 6-row stack. No per-stage
    rescans of the corpus beyond those three exchanges."""
    from jhu_data_parser_spark.plans.llm import dedup_minhash_portable_pairs
    from jhu_data_parser_spark.plans.pipeline4 import url_canonical_frame

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    uk = url_canonical_frame(d).select(
        "doc_id", (F.row_number().over(w) == 1).alias("url_keep")
    )
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    letters = (F.length("text") - (F.size(toks) - 1)).cast("long")
    n_hash = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ).cast("long")
    n_nonalpha = F.expr(
        "size(filter(split(text, ' '), w -> NOT (w rlike '[a-z]')))"
    ).cast("long")
    n_stop = F.expr(
        "size(array_intersect(split(text, ' '), "
        "array('the', 'and', 'of', 'to', 'in', 'a', 'is')))"
    ).cast("long")
    gf = d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        (
            (n_tok >= 30)
            & (3 * n_tok <= letters)
            & (letters <= 10 * n_tok)
            & (10 * n_hash <= n_tok)
            & (10 * n_nonalpha <= n_tok)
            & (n_stop >= 2)
        ).alias("gq"),
    )
    lt = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    bench = lt.filter(F.col("doc_id") % 17 == 0).select(
        F.expr("array_join(slice(toks, 1, 8), ' ')").alias("g")
    ).distinct()
    shg = lt.select(
        "doc_id",
        F.explode(
            F.expr(
                SHINGLE8_TOKS_SQL
            )
        ).alias("g"),
    )
    contam_ids = (
        shg.join(F.broadcast(bench), "g").select("doc_id").distinct()
        .withColumn("contam", F.lit(True))
    )
    nd_ids = (
        dedup_minhash_portable_pairs(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("nd", F.lit(True))
    )
    f = (
        gf.join(uk, "doc_id")
        .join(contam_ids, "doc_id", "left")
        .join(nd_ids, "doc_id", "left")
        .select(
            "n_tok",
            "url_keep",
            (F.col("lang") == "en").alias("is_en"),
            "gq",
            F.coalesce("contam", F.lit(False)).alias("contam"),
            F.coalesce("nd", F.lit(False)).alias("nd"),
        )
    )
    conds = [
        F.lit(True),
        F.col("url_keep"),
        F.col("url_keep") & F.col("is_en"),
        F.col("url_keep") & F.col("is_en") & F.col("gq"),
        F.col("url_keep") & F.col("is_en") & F.col("gq") & ~F.col("contam"),
        F.col("url_keep")
        & F.col("is_en")
        & F.col("gq")
        & ~F.col("contam")
        & ~F.col("nd"),
    ]
    s = f.agg(
        *[
            a
            for i, c in enumerate(conds)
            for a in (
                F.count_if(c).cast("long").alias(f"c{i}"),
                F.coalesce(F.sum(F.when(c, F.col("n_tok"))), F.lit(0))
                .cast("long")
                .alias(f"t{i}"),
            )
        ]
    )
    # inline(array(...)) stacks the 6 stage rows from ONE evaluation of
    # the aggregate — a per-stage select+union would re-run the entire
    # funnel subtree (minhash arm included) once per row (caught by the
    # plan audit: 6 SinglePartition exchanges → 1).
    structs = ", ".join(
        f"named_struct('stage', CAST({i} AS INT), 'stage_name', '{name}', "
        f"'n_docs', c{i}, 'n_tokens', t{i})"
        for i, name in enumerate(_STAGES)
    )
    return s.selectExpr(f"inline(array({structs}))")


# --------------------------------------------------------------------------
# Leakage-safe train/test split — the group-aware variant of
# sample_train_test_split that real evaluation pipelines require: a
# near-duplicate of a test document must never land in train (Lee et
# al. 2022 §6 measure the benchmark inflation when it does). Documents
# are first clustered by connected components over the near-dup pair
# graph; the split draw is then a pure function of the GROUP id (md5
# threshold, 20% test), so every member of a duplicate cluster lands
# on the same side by construction. Composes three verified pieces:
# the portable-MinHash pairs, the CC operator, and the deterministic
# md5 draw — and the oracle replays all three (recursive-CTE closure
# over the replayed pair set).
# --------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
    WITH RECURSIVE np AS ({_PORTABLE_MH_ORACLE}),
    edges(x, y) AS (
      SELECT id_a, id_b FROM np UNION SELECT id_b, id_a FROM np),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
    nodes(x) AS (SELECT DISTINCT x FROM edges),
    comp AS (
      SELECT n.x AS id, LEAST(n.x, MIN(r.y)) AS component
      FROM nodes n LEFT JOIN reach r ON r.x = n.x GROUP BY n.x),
    g AS (
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS n_tok,
             COALESCE(c.component, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    sp AS (
      SELECT *,
             CASE WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 8) < '33333333'
                  THEN 'test' ELSE 'train' END AS split
      FROM g)
    SELECT split,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM sp GROUP BY split
    """


@query("sample_split_leakage_safe", oracle=_SPLIT_ORACLE)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 80/20 train/test split: near-dup connected components
    (portable MinHash pairs → min-label CC) are the split unit, the
    draw is the md5-threshold function of the group id — deterministic,
    restart/partitioning-immune, and leakage-free by construction
    (pair-connected docs share a group, hence a side). Reports per
    split the group/document/token counts and a doc-id checksum; the
    oracle replays pairs, closure, grouping, and the draw.

    Scale posture: CC runs over the REP graph (pre-expansion pairs from
    ``_portable_mh_rep_pairs``) and docs map to components through the
    exact-collapse member table — on a dup-dense corpus the EXPANDED
    pair listing is quadratic in copy count (cliques) while the rep
    graph is not; labels are identical either way because the rep is
    its group's min id, so min-reachable-doc == min-reachable-rep (the
    oracle computes CC over the full expanded graph and the driver
    hash proves the equivalence)."""
    from jhu_data_parser_spark.operators.dedup import connected_components
    from jhu_data_parser_spark.plans.llm import _portable_mh_rep_pairs

    d = load_table(spark, sf_dir, "documents")
    rep_pairs, members = _portable_mh_rep_pairs(spark, sf_dir)
    comp = connected_components(rep_pairs.select("id_a", "id_b")).select(
        F.col("id").alias("rep"), "component"
    )
    docs = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    if members is None:
        g = (
            docs.join(comp.withColumnRenamed("rep", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                "n_tok",
                F.coalesce("component", F.col("doc_id")).alias("grp"),
            )
        )
    else:
        g = (
            docs.join(
                members.withColumnRenamed("member", "doc_id"), "doc_id"
            )
            .join(comp, "rep", "left")
            .select(
                "doc_id",
                "n_tok",
                F.coalesce("component", F.col("rep")).alias("grp"),
            )
        )
    sp = g.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("grp").cast("string").cast("binary")), 1, 8)
            < "33333333",
            F.lit("test"),
        ).otherwise("train"),
    )
    return sp.groupBy("split").agg(
        F.countDistinct("grp").cast("long").alias("n_groups"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# Columnar/text sink→source roundtrips — the lake-format surface beyond
# parquet/JSON (S3/S6): write a projection to ORC (built-in, the other
# big columnar lake format) and CSV (the reference's own wire format,
# S2), read each back, and aggregate. The oracle computes the same
# aggregate straight from the parquet table, so a value-hash match
# proves the written files carried every row and type faithfully
# (cents-exact sums, per-flag row counts). Avro's SQL data source jar
# is not in this pyspark distribution, so the Avro roundtrip runs on
# the VENDORED pure-Python object-container codec
# (sources/avro_container.py — same precedent as the image codecs).
# --------------------------------------------------------------------------

_ROUNDTRIP_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


def _roundtrip_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )


def _spread(df: DataFrame) -> DataFrame:
    """Write-side parallelism guard (optimization guide §2.5 "input
    skew" / §6): the harness SF corpora are single-file parquet, so a
    format-roundtrip write otherwise encodes the WHOLE projection in
    one task regardless of core count — measured 6.0 s single-task vs
    3.2 s spread for the vendored Avro encode at sf0.1, and the
    read-back of the resulting single container planned one split
    (6.1 s → 2.0 s spread). At scale inputs have ≥ cores files and
    this is a no-op; every roundtrip result is a grouped integer
    aggregate, so the row→file assignment cannot move any value."""
    from jhu_data_parser_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df)


@query("source_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projection → ORC files → read back → cents-exact
    aggregate. Exercises Spark's built-in ORC writer/reader (the
    vectorized columnar path, same class as the parquet scan) and
    proves row/type fidelity against the parquet-sourced oracle."""
    out = cache.scratch_dir("orc_rt")
    # NOT _spread: the JVM-native ORC write of the 600k-row projection
    # is faster single-task than the round-robin shuffle it would take
    # to spread it (measured r14: 1.11 s plain vs 1.83 s spread).
    _roundtrip_cols(spark, sf_dir).write.mode("overwrite").orc(out)
    return _roundtrip_agg(spark.read.orc(out))


@query("source_avro_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projection → Avro object-container files (VENDORED
    pure-Python codec, ``sources/avro_container.py`` — the spark-avro
    jar is absent from this distribution; spec-conformant container
    layout, zigzag varints, deflate codec) → binaryFile +
    Arrow-batched mapInPandas read-back → cents-exact aggregate
    against the parquet-sourced oracle. The write is one container
    per partition encoded a block per Arrow batch; the read decodes a
    block at a time, so both directions hold only block-sized state
    per executor — and huge single files would split on the sync
    marker (the Hadoop AvroInputFormat strategy, documented in the
    codec module). Closes the format matrix:
    parquet/ORC/CSV/JSON/XML/binaryFile/Avro."""
    import json

    from jhu_data_parser_spark.sources.avro_container import (
        read_avro,
        write_avro,
    )

    out = cache.scratch_dir("avro_rt")
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "lineitem_proj",
            "fields": [
                {"name": "l_returnflag", "type": ["null", "string"]},
                {"name": "l_extendedprice", "type": ["null", "double"]},
                {"name": "l_quantity", "type": ["null", "double"]},
            ],
        }
    )
    # materializing the manifest IS the distributed write job
    write_avro(_spread(_roundtrip_cols(spark, sf_dir)), out, schema_json).collect()
    back = read_avro(
        spark,
        out,
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    return _roundtrip_agg(back)


@query("source_avro_split_scan", oracle=_ROUNDTRIP_ORACLE)
def source_avro_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Avro container read across SYNC-MARKER BYTE-RANGE SPLITS:
    the projection is written to a single container file (the
    pathological shape for a file-per-task reader — at 100 TB a
    single multi-GB container must fan out, not pin one task), then
    read with ``split_bytes`` forced small enough that the driver
    plans many ranges; each task seeks into its range, scans to the
    next 16-byte sync, and decodes only the blocks it owns
    (``sources/avro_container.py:iter_file_blocks``; split-size sweep
    incl. mid-block and in-header boundaries pytest-pinned in
    tests/test_avro.py). Same cents-exact aggregate and oracle as the
    per-file roundtrip — the hash proves the split plan covers every
    block exactly once."""
    import json
    import os

    from jhu_data_parser_spark.sources.avro_container import (
        plan_avro_splits,
        read_avro,
        write_avro,
    )

    out = cache.scratch_dir("avro_split")
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "lineitem_proj",
            "fields": [
                {"name": "l_returnflag", "type": ["null", "string"]},
                {"name": "l_extendedprice", "type": ["null", "double"]},
                {"name": "l_quantity", "type": ["null", "double"]},
            ],
        }
    )
    write_avro(
        _roundtrip_cols(spark, sf_dir).coalesce(1), out, schema_json
    ).collect()
    # size splits so the one container fans out to ~16 ranges
    total = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
    )
    split_bytes = max(1, total // 16)
    assert len(plan_avro_splits(out, split_bytes)) > 1
    back = read_avro(
        spark,
        out,
        "l_returnflag string, l_extendedprice double, l_quantity double",
        split_bytes=split_bytes,
    )
    return _roundtrip_agg(back)


@query("source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projection → headered CSV → read back with an EXPLICIT
    schema (never inferSchema — one pass, deterministic types; the
    all-string DictReader semantics of S2 are the etl_* queries' job,
    this one proves the typed round trip) → cents-exact aggregate."""
    out = cache.scratch_dir("csv_rt")
    # NOT _spread: JVM-native CSV write — measured faster single-task
    # than paying the spread shuffle (r14: 1.89 s plain vs 1.66 s is
    # within noise; kept plain to match the ORC/JSON twins).
    _roundtrip_cols(spark, sf_dir).write.mode("overwrite").option(
        "header", True
    ).csv(out)
    back = (
        spark.read.option("header", True)
        .schema("l_returnflag string, l_extendedprice double, l_quantity double")
        .csv(out)
    )
    return _roundtrip_agg(back)


# --------------------------------------------------------------------------
# Streaming CMS heavy hitters — sketch mergeability as a REAL stream
# (streaming/jobs.run_cms_heavy_hitters_stream): per-micro-batch
# partial d×w cells merge by ADDITION to the exact global sketch (CMS
# is linear), so the stream shares the batch twin's oracle and the
# driver hash proves stream ≡ batch ≡ SQL.
# --------------------------------------------------------------------------


def _cms_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline6 import _CMS_ORACLE

    return _CMS_ORACLE


@query("stream_cms_heavy_hitters", oracle=_cms_oracle())
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min heavy-hitter table built from a REAL documents
    stream: each micro-batch contributes its own partial sketch cells
    and token counts (idempotent batch_id-keyed file sinks); the
    read-back sums ARE the global sketch and counts by CMS linearity —
    the mergeability property that makes sketches the right shape for
    distributed/streaming aggregation. Shares agg_cms_heavy_hitters'
    oracle: the value hash proves stream ≡ batch ≡ SQL."""
    from jhu_data_parser_spark.streaming.jobs import run_cms_heavy_hitters_stream

    return run_cms_heavy_hitters_stream(spark, sf_dir)


@query("source_xml_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projection → XML files (Spark 4's built-in XML data
    source, rowTag framing) → read back with an EXPLICIT schema (same
    no-inferSchema rule as the CSV roundtrip) → cents-exact aggregate
    against the parquet-sourced oracle. Part of the format-breadth
    matrix (parquet/ORC/CSV/JSON/XML/Avro — Avro via the vendored
    container codec, ``source_avro_roundtrip``)."""
    out = cache.scratch_dir("xml_rt")
    _spread(_roundtrip_cols(spark, sf_dir)).write.mode("overwrite").format(
        "xml"
    ).option("rootTag", "lineitems").option("rowTag", "lineitem").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "lineitem")
        .schema("l_returnflag string, l_extendedprice double, l_quantity double")
        .load(out)
    )
    return _roundtrip_agg(back)


# --------------------------------------------------------------------------
# binaryFile ingestion — the multimodal landing path: raw files on a
# prefix read as (path, length, content) by Spark's binaryFile source,
# the standard first hop for image/audio/video corpora. The staging
# dir simulates the upstream-provided landing prefix with a BOUNDED
# deterministic sample (first 256 documents with doc_id % 101 == 0,
# one .txt file of the document's UTF-8 bytes each — scaffolding, not
# the operator). The oracle never touches the files: it recomputes
# byte length and a 16-hex-char prefix from the documents table, so a
# hash match proves the binary source preserved every byte end-to-end.
# --------------------------------------------------------------------------

_BIN_MOD = 101
_BIN_CAP = 256

_BINFILE_ORACLE = f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(hex(encode(text)), 1, 16) AS head_hex
    FROM (SELECT doc_id, text FROM documents
          WHERE doc_id % {_BIN_MOD} = 0 ORDER BY doc_id LIMIT {_BIN_CAP})
    """


@query("source_binaryfile_ingest", oracle=_BINFILE_ORACLE)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a staged binary landing prefix with format('binaryFile')
    and prove byte fidelity (length + 16-hex prefix per file) against
    the table-derived oracle. doc_id rides the file name."""
    import os

    import duckdb

    # The staged prefix is a ``binsrc`` artifact of
    # jhu_data_parser_spark.cache, keyed on the documents files.
    def build(stage: str) -> str:
        src = os.path.join(sf_dir, "documents.parquet")
        glob = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
        rows = duckdb.connect().execute(
            f"SELECT doc_id, text FROM read_parquet('{glob}')"
            f" WHERE doc_id % {_BIN_MOD} = 0 ORDER BY doc_id LIMIT {_BIN_CAP}"
        ).fetchall()
        for doc_id, text in rows:
            with open(os.path.join(stage, f"doc_{doc_id}.txt"), "wb") as fh:
                fh.write(text.encode("utf-8"))
        return stage

    docs = load_table(spark, sf_dir, "documents")
    stage = cache.get_or_build("binsrc", docs, (), build)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(stage)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.substring(F.hex("content"), 1, 16).alias("head_hex"),
    )


# Avro ARRAY-typed roundtrip — the embeddings table through the
# vendored container codec: proves the complex-type branches (array of
# float) survive the distributed write/read path bit-for-bit, not just
# the scalar projection. The checksum is integer fixed point per row
# (ROUND half-up is engine-identical; float values decode to the exact
# same IEEE singles the writer encoded), summed as BIGINT so no
# double-accumulation order can move the hash.
_AVRO_EMB_ORACLE = """
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(list_sum(list_transform(
                 CAST(embedding AS DOUBLE[]),
                 x -> CAST(ROUND(x * 1000000) AS BIGINT))) AS BIGINT))
                AS BIGINT) AS emb_checksum,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum
    FROM embeddings GROUP BY label
    """


@query("source_avro_embeddings_roundtrip", oracle=_AVRO_EMB_ORACLE)
def source_avro_embeddings_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """embeddings (vec_id, array<float>, label) → Avro container files
    (array + long + int branches of the vendored codec) → binaryFile +
    mapInPandas read-back → per-label fixed-point checksum against the
    parquet-sourced oracle. Complements ``source_avro_roundtrip``
    (scalars): a hash match here proves the ARRAY encoding carried
    every element bit-for-bit through both distributed directions."""
    import json

    from jhu_data_parser_spark.sources.avro_container import (
        read_avro,
        write_avro,
    )

    out = cache.scratch_dir("avro_emb")
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "emb_row",
            "fields": [
                {"name": "vec_id", "type": "long"},
                {
                    "name": "embedding",
                    "type": {"type": "array", "items": "float"},
                },
                {"name": "label", "type": "int"},
            ],
        }
    )
    # NOT _spread: the embeddings projection is small enough that the
    # round-robin shuffle of the float arrays costs more than the
    # single-task encode it replaces (measured r14: 1.43 s plain vs
    # 2.16 s spread).
    src = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    write_avro(src, out, schema_json).collect()
    back = read_avro(
        spark, out, "vec_id long, embedding array<float>, label int"
    )
    return back.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.expr(
                "aggregate(transform(embedding, x -> "
                "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)), "
                "CAST(0 AS BIGINT), (s, x) -> s + x)"
            )
        )
        .cast("long")
        .alias("emb_checksum"),
        F.sum("vec_id").cast("long").alias("id_checksum"),
    )


# Avro LOGICAL-type roundtrip — date / timestamp-micros / decimal (the
# trio every Avro lake actually serves): orders projected to typed
# columns, written with logical-type annotations, read back as Spark
# DATE/TIMESTAMP/DECIMAL, aggregated to integer checksums. The oracle
# recomputes from parquet; double→decimal(12,2) rounding is spelled
# floor(x·100 + 0.5) there (Spark's cast is HALF_UP; values positive).
_AVRO_LOGICAL_ORACLE = """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(epoch_us(o_orderdate) % 86400000000) AS BIGINT)
             AS tod_checksum,
           CAST(SUM(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                AS BIGINT) AS date_checksum
    FROM orders GROUP BY 1
    """


@query("source_avro_orders_logical", oracle=_AVRO_LOGICAL_ORACLE)
def source_avro_orders_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → Avro with LOGICAL types (o_orderdate as both
    timestamp-micros and date, o_totalprice as decimal(12,2) bytes) →
    read back as typed Spark columns → integer checksums per order
    year against the parquet-sourced oracle. Proves the codec's
    logical-type layer carries calendar and exact-money semantics —
    not just raw base encodings — through both distributed
    directions."""
    import json

    from jhu_data_parser_spark.sources.avro_container import (
        read_avro,
        write_avro,
    )

    out = cache.scratch_dir("avro_lt")
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "order_row",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {
                    "name": "ots",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                    },
                },
                {"name": "odate", "type": {"type": "int", "logicalType": "date"}},
                {
                    "name": "oprice",
                    "type": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 12,
                        "scale": 2,
                    },
                },
            ],
        }
    )
    src = _spread(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_orderdate").alias("ots"),
            F.to_date("o_orderdate").alias("odate"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("oprice"),
        )
    )
    write_avro(src, out, schema_json).collect()
    back = read_avro(
        spark,
        out,
        "o_orderkey long, ots timestamp, odate date, oprice decimal(12,2)",
    )
    return back.groupBy(F.year("ots").cast("int").alias("order_year")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("oprice") * 100).cast("long"))
        .cast("long")
        .alias("price_cents"),
        # time-of-day micros, NOT raw epoch micros: Σ epoch_us is
        # ~1.7e15/row and ANSI-overflows a per-year group by sf0.1
        # (the verify-skill Σ-bound rule); day + time-of-day together
        # still pin the full timestamp
        F.sum(F.unix_micros("ots") % 86_400_000_000)
        .cast("long")
        .alias("tod_checksum"),
        F.sum(F.datediff("odate", F.lit("1970-01-01")))
        .cast("long")
        .alias("date_checksum"),
    )


# Delta-lite table roundtrips — the modern-lake TABLE layer over the
# format matrix (sources/delta_lite.py: the public Delta transaction
# protocol's JSON log, vendored — no delta-spark jar in this
# distribution). Three commits: v0 overwrite(base), v1 append(hi-qty
# slice), v2 overwrite(slice only — emits remove actions). Reading
# LATEST proves log replay honors removes; reading version 1 proves
# time travel reconstructs the pre-overwrite snapshot from the same
# immutable data files. Oracles recompute both snapshots from the
# parquet source.
_DELTA_SLICE = "l_quantity >= 45"


def _delta_demo_table(spark: SparkSession, sf_dir: str) -> str:

    from jhu_data_parser_spark.sources.delta_lite import write_delta

    table = cache.scratch_dir("delta")
    base = _roundtrip_cols(spark, sf_dir)
    write_delta(base, table, mode="overwrite")  # v0
    write_delta(
        base.filter(F.expr(_DELTA_SLICE)), table, mode="append"
    )  # v1
    write_delta(
        base.filter(F.expr(_DELTA_SLICE)), table, mode="overwrite"
    )  # v2
    return table


_DELTA_LATEST_ORACLE = f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem WHERE {_DELTA_SLICE} GROUP BY l_returnflag
    """

_DELTA_V1_ORACLE = f"""
    WITH all_rows AS (
      SELECT l_returnflag, l_extendedprice, l_quantity FROM lineitem
      UNION ALL
      SELECT l_returnflag, l_extendedprice, l_quantity FROM lineitem
      WHERE {_DELTA_SLICE})
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM all_rows GROUP BY l_returnflag
    """


@query("source_delta_roundtrip", oracle=_DELTA_LATEST_ORACLE)
def source_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite LATEST snapshot after overwrite→append→overwrite:
    the final read must contain ONLY the last overwrite's rows even
    though every earlier data file still sits in the table dir —
    i.e. the log's remove actions, not the filesystem, define the
    table. Cents-exact aggregate vs the slice recomputed from
    parquet."""
    from jhu_data_parser_spark.sources.delta_lite import read_delta

    table = _delta_demo_table(spark, sf_dir)
    return _roundtrip_agg(read_delta(spark, table))


@query("source_delta_time_travel", oracle=_DELTA_V1_ORACLE)
def source_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite TIME TRAVEL: the same table read at version 1 (after
    the append, before the overwrite) reconstructs base ∪ slice from
    the immutable data files the later overwrite logically removed —
    the audit/rollback read every lake user expects from a table
    format. Aggregate vs the UNION ALL recomputed from parquet."""
    from jhu_data_parser_spark.sources.delta_lite import read_delta

    table = _delta_demo_table(spark, sf_dir)
    return _roundtrip_agg(read_delta(spark, table, version=1))


_DELTA_PART_ORACLE = f"""
    WITH all_rows AS (
      SELECT l_returnflag, l_extendedprice, l_quantity FROM lineitem
      UNION ALL
      SELECT l_returnflag, l_extendedprice, l_quantity FROM lineitem
      WHERE {_DELTA_SLICE})
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM all_rows WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """


@query("source_delta_partitioned", oracle=_DELTA_PART_ORACLE)
def source_delta_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite PARTITIONED table (``partition_by=['l_returnflag']``):
    data files land in Hive-style ``l_returnflag=…/`` dirs with
    per-file ``partitionValues`` in the add log and ``partitionColumns``
    in metaData (the protocol shape); the snapshot read hands Spark
    the active file list plus the table basePath, so the flag filter
    becomes ``PartitionFilters`` on the scan — whole partition dirs
    pruned at planning time (the Athena-partition-pruning story of
    the reference's ``type=`` layout, ``/root/reference/src/parser.py:73-75``,
    carried into the table layer; pruning is plan-pinned in
    tests/test_delta_lite.py). Aggregate over two flags of the
    overwrite+append snapshot vs the parquet-recomputed oracle."""
    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_part")
    base = _roundtrip_cols(spark, sf_dir)
    write_delta(
        base, table, mode="overwrite", partition_by=["l_returnflag"]
    )
    write_delta(base.filter(F.expr(_DELTA_SLICE)), table, mode="append")
    snap = read_delta(spark, table).filter(
        F.col("l_returnflag").isin("A", "R")
    )
    return _roundtrip_agg(snap)


_DELTA_CP_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem WHERE l_quantity >= 21 GROUP BY l_returnflag
    """


@query("source_delta_checkpoint", oracle=_DELTA_CP_ORACLE)
def source_delta_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite CHECKPOINT replay, made load-bearing: 13 commits
    (quantity-band appends around a mid-history overwrite at v5) so the
    writer emits the v10 checkpoint parquet + ``_last_checkpoint``,
    then every JSON commit ≤ v10 is DELETED (the protocol's log-cleanup
    allowance) before the read — the snapshot can only come from
    checkpoint state + the two tail commits. A hash match therefore
    proves the checkpoint carried the adds, the v5 overwrite's removes
    (nothing resurrected), and the schema. Oracle recomputes the
    surviving bands (quantity ≥ 21) from parquet."""
    import os

    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_cp")
    base = _roundtrip_cols(spark, sf_dir)

    def band(k: int) -> DataFrame:
        return base.filter(
            (F.col("l_quantity") >= k * 4 + 1)
            & (F.col("l_quantity") < (k + 1) * 4 + 1)
        )

    write_delta(band(0), table, mode="overwrite")  # v0
    for k in range(1, 5):  # v1..v4
        write_delta(band(k), table, mode="append")
    write_delta(band(5), table, mode="overwrite")  # v5: drops bands 0-4
    for k in range(6, 13):  # v6..v12 (checkpoint fires at v10)
        write_delta(band(k), table, mode="append")
    logdir = os.path.join(table, "_delta_log")
    for f in os.listdir(logdir):  # log cleanup below the checkpoint
        if f.endswith(".json") and int(f[:-5]) <= 10:
            os.remove(os.path.join(logdir, f))
    return _roundtrip_agg(read_delta(spark, table))


@query("source_delta_skipping_scan", oracle=_DELTA_LATEST_ORACLE)
def source_delta_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite DATA SKIPPING: every ``add`` logs per-file min/max
    stats (aggregated from the parquet FOOTER at commit — no second
    data pass); ``read_delta(skip=[('l_quantity','>=',45)])`` drops
    files whose logged range excludes the predicate BEFORE any file is
    opened (at 100 TB the planner never even lists them). The table is
    range-laid-out on l_quantity so most files are skippable; the same
    predicate is then applied as a REAL filter, so a hash match proves
    skipping never over-pruned — a file wrongly dropped would lose
    rows the oracle counts. File-count pruning is additionally pinned
    in tests/test_delta_lite.py."""

    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_skip")
    base = _roundtrip_cols(spark, sf_dir)
    write_delta(
        base.repartitionByRange(8, "l_quantity"), table, mode="overwrite"
    )
    snap = read_delta(spark, table, skip=[("l_quantity", ">=", 45)])
    return _roundtrip_agg(snap.filter(F.col("l_quantity") >= 45))


_DELTA_MERGE_ORACLE = """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    src AS (
      SELECT k, cents - 50 AS cents FROM base WHERE k % 10 = 3
      UNION ALL
      SELECT k + 100000000, CAST(42 AS BIGINT) FROM base WHERE k % 1000 = 1),
    merged AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM src)
      UNION ALL SELECT * FROM src)
    SELECT CAST(k % 7 AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY 1
    """


@query("source_delta_merge_upsert", oracle=_DELTA_MERGE_ORACLE)
def source_delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite MERGE (upsert): source rows update matching keys
    (every 10th order gets a 50-cent discount) and insert new ones
    (offset keys), executed as Delta's FILE-PRUNED rewrite — a
    distributed semi-join on ``input_file_name`` finds the touched
    files, only those are re-read and rewritten, and one commit swaps
    them atomically (remove + add). At 100 TB the write cost scales
    with the update footprint, not the table. The oracle recomputes
    the merged state relationally from parquet: a hash match proves
    updates landed, inserts landed, untouched rows survived, and
    nothing duplicated across the rewrite boundary."""

    from jhu_data_parser_spark.sources.delta_lite import (
        merge_delta,
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_merge")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    # hash- rather than range-partitioned base layout: repartitionByRange
    # pays a separate sampling job (~0.2 s at sf0.1, guide §2.4) and buys
    # nothing here — the k % 10 == 3 update keys touch EVERY file under
    # any layout, so the merge's touched-file set, rewrite footprint and
    # final state are identical (oracle re-verified at sf0.001/sf0.01)
    write_delta(base.repartition(8, "k"), table, mode="overwrite")
    src = (
        base.filter(F.col("k") % 10 == 3)
        .select("k", (F.col("cents") - 50).alias("cents"))
        .unionByName(
            base.filter(F.col("k") % 1000 == 1).select(
                (F.col("k") + 100_000_000).alias("k"),
                F.lit(42).cast("long").alias("cents"),
            )
        )
    )
    merge_delta(spark, table, src, on=["k"])
    return (
        read_delta(spark, table)
        .groupBy((F.col("k") % 7).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_DELTA_ZORDER_ORACLE = """
    SELECT CAST(o_custkey % 5 AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders WHERE o_custkey < 500 GROUP BY 1
    """


@query("source_delta_optimize_zorder", oracle=_DELTA_ZORDER_ORACLE)
def source_delta_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite OPTIMIZE + Z-ORDER: a shuffled 8-file layout (every
    file spans the full custkey/price range — no skipping possible) is
    rewritten clustered on the interleaved-bit Z-value of
    (o_custkey, cents), committed with ``dataChange=false`` (remove +
    add, content bit-identical). The read then data-skips on o_custkey
    via the NEW files' logged min/max — multi-dimensional skipping,
    the reason Z-order exists. A hash match proves the reorganization
    changed the layout and nothing else (and that post-Z-order
    skipping never over-prunes); the file-pruning counts on BOTH
    Z-order columns are pinned in tests/test_delta_lite.py."""

    from jhu_data_parser_spark.sources.delta_lite import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_zorder")
    base = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(base.repartition(8), table, mode="overwrite")
    optimize_delta(
        spark, table, zorder_by=["o_custkey", "cents"], target_files=16
    )
    snap = read_delta(spark, table, skip=[("o_custkey", "<", 500)])
    return (
        snap.filter(F.col("o_custkey") < 500)
        .groupBy((F.col("o_custkey") % 5).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_DELTA_CDF_ORACLE = """
    SELECT CAST(CASE WHEN l_quantity <= 8 THEN 1
                     WHEN l_quantity <= 12 THEN 2
                     WHEN l_quantity <= 16 THEN 3
                     ELSE 5 END AS BIGINT) AS _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem WHERE l_quantity BETWEEN 5 AND 20 GROUP BY 1
    """


@query("source_delta_cdf_incremental", oracle=_DELTA_CDF_ORACLE)
def source_delta_cdf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite CHANGE DATA FEED (append-only): quantity bands land
    as commits v1..v3, an OPTIMIZE compaction commits v4 with
    ``dataChange=false``, band 4 lands as v5; the incremental consumer
    reads ``read_delta_changes(from_version=1)`` — only rows each
    commit ADDED, tagged ``_commit_version``. The oracle maps each
    band to the version that committed it: a hash match proves (a)
    per-commit attribution is exact, (b) the reorganization commit
    contributed NOTHING even though it re-added every row's file
    (the dataChange flag is load-bearing), and (c) no row was lost or
    double-delivered. At 100 TB this is the daily-delta read — the
    consumer never rescans the table."""

    from jhu_data_parser_spark.sources.delta_lite import (
        optimize_delta,
        read_delta_changes,
        write_delta,
    )

    table = cache.scratch_dir("delta_cdf")
    base = _roundtrip_cols(spark, sf_dir)

    def band(k: int) -> DataFrame:
        return base.filter(
            (F.col("l_quantity") >= k * 4 + 1)
            & (F.col("l_quantity") < (k + 1) * 4 + 1)
        )

    write_delta(band(0), table, mode="overwrite")  # v0 (pre-watermark)
    for k in range(1, 4):  # v1..v3
        write_delta(band(k), table, mode="append")
    optimize_delta(spark, table, target_files=2)  # v4: dataChange=false
    write_delta(band(4), table, mode="append")  # v5
    return (
        read_delta_changes(spark, table, from_version=1)
        .groupBy("_commit_version")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("price_cents"),
        )
    )


_DELTA_EVOLVE_ORACLE = """
    WITH evolved AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(NULL AS VARCHAR) AS seg
      FROM orders
      UNION ALL
      SELECT o_orderkey + 500000000,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
             o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT COALESCE(seg, 'none') AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM evolved GROUP BY 1
    """


@query("source_delta_schema_evolution", oracle=_DELTA_EVOLVE_ORACLE)
def source_delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite SCHEMA EVOLUTION: a later append carries a new
    trailing column under ``merge_schema=True`` — the commit re-emits
    metaData with the widened schema, files from earlier commits read
    the new column as NULL (parquet missing-column semantics), and
    a mismatched append WITHOUT the opt-in fails loudly (pytest-
    pinned). The oracle recomputes the union with an explicit NULL
    column: a hash match proves old rows surface nulls (not defaults,
    not errors) and new rows carry their values — the add-a-feature-
    column migration every long-lived 100 TB table eventually needs,
    executed without rewriting a byte of existing data."""

    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_evo")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(base, table, mode="overwrite")
    evolved_rows = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") + 500_000_000).alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderstatus").alias("seg"),
    )
    write_delta(evolved_rows, table, mode="append", merge_schema=True)
    return (
        read_delta(spark, table)
        .groupBy(F.coalesce(F.col("seg"), F.lit("none")).alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_DELTA_DELETE_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem WHERE NOT (l_quantity >= 30 AND l_quantity < 41)
    GROUP BY l_returnflag
    """


@query("source_delta_delete_where", oracle=_DELTA_DELETE_ORACLE)
def source_delta_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite row-level DELETE WHERE as a file-pruned rewrite: the
    quantity-range-laid-out table deletes a quantity stripe — the
    log's min/max stats narrow the candidate files before any file is
    opened (``skip``), fully-covered files drop with a remove-only
    action (no rewrite), the partially-covered boundary files rewrite
    their survivors, and one commit swaps it all atomically. At
    100 TB a delete against a date range touches that range's files
    and nothing else (GDPR-erasure / retention economics). The oracle
    recomputes the complement from parquet: a hash match proves
    exactly the predicate's rows vanished — no survivor lost at the
    rewrite boundary, no row outside the stripe touched."""

    from jhu_data_parser_spark.sources.delta_lite import (
        delete_delta,
        read_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_del")
    base = _roundtrip_cols(spark, sf_dir)
    write_delta(
        base.repartitionByRange(8, "l_quantity"), table, mode="overwrite"
    )
    delete_delta(
        spark,
        table,
        "l_quantity >= 30 AND l_quantity < 41",
        skip=[("l_quantity", "<", 41), ("l_quantity", ">=", 30)],
    )
    return _roundtrip_agg(read_delta(spark, table))


# Iceberg-lite table roundtrips — the SECOND major open table format
# (sources/iceberg_lite.py: the public Iceberg v1 spec's JSON metadata
# + Avro manifest tree, vendored; the manifests are read and written
# by this repo's own Avro container codec — the format matrix
# composing with itself). Same three-commit shape as the Delta demo,
# so the oracles are shared: a hash match proves the manifest walk
# (metadata.json → manifest list → manifests → data files) reaches
# exactly the snapshot's files.


def _iceberg_demo_table(spark: SparkSession, sf_dir: str) -> tuple:

    from jhu_data_parser_spark.sources.iceberg_lite import write_iceberg

    table = cache.scratch_dir("ice")
    base = _roundtrip_cols(spark, sf_dir)
    write_iceberg(base, table, mode="overwrite")  # s0
    s1 = write_iceberg(
        base.filter(F.expr(_DELTA_SLICE)), table, mode="append"
    )
    write_iceberg(
        base.filter(F.expr(_DELTA_SLICE)), table, mode="overwrite"
    )  # s2
    return table, s1


@query("source_iceberg_roundtrip", oracle=_DELTA_LATEST_ORACLE)
def source_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-lite LATEST snapshot after overwrite→append→overwrite:
    the current snapshot's manifest list must reach ONLY the last
    overwrite's files even though every earlier data file still sits
    in data/ — the metadata tree, not the filesystem, defines the
    table (no directory listing anywhere in the read path). Cents-
    exact aggregate vs the slice recomputed from parquet."""
    from jhu_data_parser_spark.sources.iceberg_lite import read_iceberg

    table, _ = _iceberg_demo_table(spark, sf_dir)
    return _roundtrip_agg(read_iceberg(spark, table))


@query("source_iceberg_time_travel", oracle=_DELTA_V1_ORACLE)
def source_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-lite TIME TRAVEL: reading the append snapshot by id
    reconstructs base ∪ slice from the immutable manifests the later
    overwrite left behind — and because appends REUSE the previous
    snapshot's manifests verbatim (the spec's metadata economy,
    pytest-pinned), the travel read walks the same Avro files the
    original commit wrote. Aggregate vs UNION ALL from parquet."""
    from jhu_data_parser_spark.sources.iceberg_lite import read_iceberg

    table, s1 = _iceberg_demo_table(spark, sf_dir)
    return _roundtrip_agg(read_iceberg(spark, table, snapshot_id=s1))


@query("source_iceberg_partition_prune", oracle=_DELTA_PART_ORACLE)
def source_iceberg_partition_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg-lite IDENTITY-PARTITIONED table: each manifest entry
    carries the file's typed partition value, so the reader prunes
    data files from the MANIFESTS alone — no listing, no footer reads,
    no file opens for pruned partitions (Iceberg's defining trick;
    the data files keep the column, unlike Hive layouts). Two
    partition-filtered reads (flags A and R) of the overwrite+append
    snapshot, unioned and aggregated vs the parquet-recomputed oracle;
    file-count pruning is pytest-pinned."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_part")
    base = _roundtrip_cols(spark, sf_dir)
    write_iceberg(base, table, mode="overwrite", partition_by="l_returnflag")
    write_iceberg(base.filter(F.expr(_DELTA_SLICE)), table, mode="append")
    snap_a = read_iceberg(
        spark, table, partition_filter=("l_returnflag", "A")
    ).filter(F.col("l_returnflag") == "A")
    snap_r = read_iceberg(
        spark, table, partition_filter=("l_returnflag", "R")
    ).filter(F.col("l_returnflag") == "R")
    return _roundtrip_agg(snap_a.unionByName(snap_r))


@query("source_iceberg_bounds_skipping", oracle=_DELTA_LATEST_ORACLE)
def source_iceberg_bounds_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg-lite BOUNDS pruning: every manifest entry carries
    per-column lower/upper bounds (spec Appendix D — field-id-keyed,
    binary-encoded, aggregated from parquet footers at commit with no
    second data pass); the quantity-range-laid-out table reads with
    ``bounds_filter`` and the same predicate as a real filter, so a
    hash match proves the manifest-only pruning never dropped a file
    holding a matching row (the Delta data-skipping certificate,
    replayed through the SECOND table format's metadata tree —
    pruned file counts pytest-pinned)."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_bounds")
    base = _roundtrip_cols(spark, sf_dir)
    write_iceberg(
        base.repartitionByRange(8, "l_quantity"), table, mode="overwrite"
    )
    snap = read_iceberg(
        spark, table, bounds_filter=[("l_quantity", ">=", 45.0)]
    )
    return _roundtrip_agg(snap.filter(F.col("l_quantity") >= 45))


_ICE_HIDDEN_ORACLE = """
    WITH cut AS (SELECT min(ts) + INTERVAL 15 DAY AS c FROM events)
    SELECT event_type,
           CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS value_fp
    FROM events, cut WHERE ts >= cut.c
    GROUP BY event_type, day
    """


@query("source_iceberg_hidden_partition", oracle=_ICE_HIDDEN_ORACLE)
def source_iceberg_hidden_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg HIDDEN PARTITIONING (the spec's defining feature —
    the Athena partition-pruning story of the reference,
    /root/reference/src/parser.py:73-75 + src/README.md:5,11,
    applied the way a 100 TB events table needs): the table is
    partitioned by ``day(ts)`` — a TRANSFORM, not a physical column —
    so each manifest entry carries days-since-epoch while the data
    keeps raw timestamps. The reader filters the RAW ``ts`` (a 15-day
    cutoff); the manifest walk maps the literal through the committed
    transform and prunes whole days of files before any file opens
    (file-count pruning pytest-pinned; boundary-day rows before the
    cutoff survive the prune and die to the real predicate). The
    oracle recomputes from parquet with the same cutoff: a hash match
    proves transform pruning never dropped a matching row. The bucket
    transform's murmur3 is pinned to the spec's own Appendix-B test
    vectors in tests/test_iceberg_lite.py."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_hidden")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    write_iceberg(events, table, mode="overwrite", partition_by="day(ts)")
    import datetime as dt

    cut = events.agg(F.min("ts")).collect()[0][0] + dt.timedelta(days=15)
    snap = read_iceberg(spark, table, partition_filter=[("ts", ">=", cut)])
    return (
        snap.filter(F.col("ts") >= F.lit(cut))
        .groupBy(
            "event_type",
            F.floor(F.floor(F.col("ts").cast("double")) / 86400)
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("value_fp"),
        )
    )


@query("source_iceberg_schema_evolution", oracle=_DELTA_EVOLVE_ORACLE)
def source_iceberg_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg SCHEMA EVOLUTION: a later append carries a new
    trailing column under ``merge_schema=True`` — the new schema
    joins the metadata's ``schemas`` list under a fresh schema-id
    (old field ids stay stable, the spec's id-based evolution),
    ``current-schema-id`` advances, and the read resolves the
    CURRENT schema so files from earlier snapshots surface the new
    column as NULL; time travel to a pre-evolution snapshot reads
    with the old schema (both pytest-pinned). Same oracle as the
    Delta twin — the two table formats must agree bit-for-bit on
    the add-a-feature-column migration."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_evo")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_iceberg(base, table, mode="overwrite")
    evolved_rows = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") + 500_000_000).alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderstatus").alias("seg"),
    )
    write_iceberg(evolved_rows, table, mode="append", merge_schema=True)
    return (
        read_iceberg(spark, table)
        .groupBy(F.coalesce(F.col("seg"), F.lit("none")).alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


@query("source_iceberg_delete_where", oracle=_DELTA_DELETE_ORACLE)
def source_iceberg_delete_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg copy-on-write DELETE WHERE: the quantity-range-laid-out
    table deletes a quantity stripe — manifest BOUNDS narrow the
    candidate files before any file opens, fully-covered files drop
    without a rewrite, boundary files rewrite their survivors (NULL
    predicate keeps the row — SQL DELETE semantics), and ONE snapshot
    swaps it all: only the manifests referencing touched files are
    rewritten, the rest reuse verbatim (manifest-level metadata
    economy; at 100 TB both data AND metadata cost scale with the
    delete footprint). The commit claims exactly read-version+1 — a
    concurrent commit during the rewrite job aborts loudly instead of
    committing against a stale snapshot. Same oracle as the Delta
    twin: the two formats must agree on the complement."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        delete_iceberg,
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_del")
    base = _roundtrip_cols(spark, sf_dir)
    write_iceberg(
        base.repartitionByRange(8, "l_quantity"), table, mode="overwrite"
    )
    delete_iceberg(
        spark,
        table,
        "l_quantity >= 30 AND l_quantity < 41",
        bounds_filter=[("l_quantity", "<", 41.0), ("l_quantity", ">=", 30.0)],
    )
    return _roundtrip_agg(read_iceberg(spark, table))


@query("source_iceberg_merge_upsert", oracle=_DELTA_MERGE_ORACLE)
def source_iceberg_merge_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg MERGE (upsert) as the copy-on-write overwrite: a
    distributed semi-join on ``input_file_name`` finds the touched
    files, only those re-read (survivors anti-join the source keys)
    and one snapshot commits the swap — untouched manifests reuse
    verbatim. Same oracle as the Delta twin: updates landed, inserts
    landed, untouched rows survived, nothing duplicated across the
    rewrite boundary — the DML matrix now holds for BOTH vendored
    table formats."""

    from jhu_data_parser_spark.sources.iceberg_lite import (
        merge_iceberg,
        read_iceberg,
        write_iceberg,
    )

    table = cache.scratch_dir("ice_merge")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_iceberg(base.repartitionByRange(8, "k"), table, mode="overwrite")
    src = (
        base.filter(F.col("k") % 10 == 3)
        .select("k", (F.col("cents") - 50).alias("cents"))
        .unionByName(
            base.filter(F.col("k") % 1000 == 1).select(
                (F.col("k") + 100_000_000).alias("k"),
                F.lit(42).cast("long").alias("cents"),
            )
        )
    )
    merge_iceberg(spark, table, src, on=["k"])
    return (
        read_iceberg(spark, table)
        .groupBy((F.col("k") % 7).cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


_DELTA_UPDATE_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity >= 45
                         THEN CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT) * 2
                         ELSE CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT) END)
                AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """


@query("source_delta_update_where", oracle=_DELTA_UPDATE_ORACLE)
def source_delta_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-lite row-level UPDATE SET ... WHERE: double the stored
    cents on the high-quantity stripe of a range-laid-out table — the
    same stats-pruned touched-file rewrite as DELETE (candidate files
    narrowed from logged min/max before any open; non-matching rows in
    touched files pass through; one atomic commit). The oracle applies
    the CASE transform relationally: a hash match proves exactly the
    predicate's rows changed, by exactly the SET expression, and the
    rewrite boundary lost nothing."""

    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        update_delta,
        write_delta,
    )

    table = cache.scratch_dir("delta_upd")
    base = _roundtrip_cols(spark, sf_dir).withColumn(
        "cents",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
    )
    write_delta(
        base.repartitionByRange(8, "l_quantity"), table, mode="overwrite"
    )
    update_delta(
        spark,
        table,
        {"cents": "cents * 2"},
        "l_quantity >= 45",
        skip=[("l_quantity", ">=", 45)],
    )
    return (
        read_delta(spark, table)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("price_cents"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty"),
        )
    )


_DELTA_CDF_MERGE_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem WHERE l_quantity BETWEEN 1 AND 20 GROUP BY l_returnflag
    """


@query("stream_delta_cdf_merge", oracle=_DELTA_CDF_MERGE_ORACLE)
def stream_delta_cdf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse incremental loop end-to-end: a source Delta-lite
    table takes 5 band-append commits; a consumer tails its CHANGE
    FEED version-by-version and MERGEs per-flag running totals into a
    downstream Delta-lite table under the ``txn`` exactly-once
    handshake (CDF + MERGE + txn composing — how a derived table
    stays fresh off a source table's commit log without rescans).
    The oracle is the plain batch aggregate over all bands: a hash
    match proves every version was delivered exactly once and folded
    correctly. Re-delivery idempotence is separately pytest-pinned
    (tests/test_delta_lite.py)."""
    from jhu_data_parser_spark.streaming.jobs import (
        run_delta_cdf_merge_stream,
    )

    return run_delta_cdf_merge_stream(spark, sf_dir)


@query(
    "stream_iceberg_append_daily",
    oracle="""
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_fp
    FROM events GROUP BY 1, 2
    """,
)
def stream_iceberg_append_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming appends into the Iceberg-lite table —
    the Iceberg twin of ``stream_delta_append_daily``, using the
    ledger the spec actually provides: no txn action exists, so each
    micro-batch stamps ``jdps-batch-id`` into its snapshot SUMMARY
    (Iceberg's commit-metadata channel — real Iceberg streaming sinks
    store their epoch id exactly this way) and a re-delivered batch
    is recognized from the snapshot log before committing. Daily
    counts from the current snapshot vs the parquet-recomputed
    oracle: a hash match proves no batch was lost or
    double-committed; idempotence under re-delivery is pytest-pinned
    (re-running the stream adds zero snapshots)."""
    from jhu_data_parser_spark.streaming.jobs import (
        run_iceberg_append_stream,
    )

    return run_iceberg_append_stream(spark, sf_dir)


@query(
    "stream_delta_append_daily",
    oracle="""
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_fp
    FROM events GROUP BY 1, 2
    """,
)
def stream_delta_append_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming appends into the Delta-lite table (the
    protocol's ``txn`` (appId, version) handshake — a replayed
    micro-batch is recognized and skipped, no idempotent-filename
    tricks needed), then daily counts from the table's LATEST
    snapshot. The oracle recomputes the same aggregate from the
    source parquet: a hash match proves no batch was lost or
    double-committed. Idempotence under re-delivery is additionally
    pytest-pinned (tests/test_delta_lite.py)."""
    from jhu_data_parser_spark.streaming.jobs import run_delta_append_stream

    return run_delta_append_stream(spark, sf_dir)
