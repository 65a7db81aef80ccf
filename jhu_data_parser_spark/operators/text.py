"""Text-analysis operators for training-data pipelines (SURVEY.md §2.12):
tokenization, quality scoring, language-ID heuristic, fingerprinting.

Design rule: everything that CAN be a built-in column expression IS one
(JVM-side, whole-stage codegen, no Python in the row path at 100 TB).
Only the trigram language-ID model uses a vectorized pandas UDF, because
it needs per-language profile dictionaries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.session import local_frame

__all__ = [
    "tokens",
    "token_count",
    "bpe_ish_token_count",
    "quality_features",
    "fingerprint",
    "rolling_fingerprints",
    "langid_heuristic",
    "langid_ngram",
    "shingles",
    "contamination_hits",
    "STOPWORDS_EN",
]

# Compact stopword list used by the quality score; a production pipeline
# would broadcast a larger set — the plan shape is identical.
STOPWORDS_EN = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

# Word / number / single-punctuation pieces — a BPE-ish pre-tokenizer
# shape (the GPT-2 pre-tokenizer splits on the same class boundaries).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"



# The benchmark-decontamination shingle window over a PRE-SPLIT ``toks``
# array column — shared verbatim by the funnel flags (plans/pipeline13),
# the JSON-roundtrip fixtures (plans/pipeline12), the instruction
# decontamination scan (plans/pipeline18) and the incremental packer
# gate (streaming/jobs): all four are hash-gated against oracles that
# spell the same 8-token window, so the expression must never drift
# per-site. (Unlike :func:`shingles`, this neither dedups nor filters
# empty tokens — it mirrors the oracles' list_transform exactly.)
SHINGLE8_TOKS_SQL = (
    "CASE WHEN size(toks) >= 8 THEN transform("
    "sequence(1, size(toks) - 7), "
    "i -> array_join(slice(toks, i, 8), ' ')) "
    "ELSE CAST(array() AS array<string>) END"
)

def tokens(col: Column | str, sep: str = " ") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, sep)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def quality_features(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> dict[str, Column]:
    """Per-document quality signals, all as native expressions.

    Returns a dict of named columns: char count, token count, mean token
    length, stopword ratio (higher ≈ more natural prose), punctuation
    density, uppercase ratio. The stopword filter uses a higher-order
    array function — no explode, no shuffle, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    sw_array = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_array, t)))
    n_chars = F.length(c)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "mean_token_len": (
            F.length(F.replace(c, F.lit(" "), F.lit(""))).cast("double") / n_tok
        ),
        "stopword_ratio": n_stop.cast("double") / n_tok,
        "punct_ratio": (
            F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("double") / n_chars
        ),
        "upper_ratio": (
            F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double") / n_chars
        ),
    }


def shingles(col: Column | str, k: int = 8) -> Column:
    """Distinct k-token shingles of lowercased space-split text, as an
    array column — all native higher-order functions, no UDF: a length-k
    string window at every token position (``sequence`` + ``slice`` +
    ``concat_ws``). The unit of benchmark-decontamination matching."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.filter(F.split(F.lower(c), " "), lambda x: x != "")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        )
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    hash_shingles: bool = False,
) -> DataFrame:
    """Benchmark decontamination (the n-gram-overlap flagging step every
    LLM training pipeline runs before training): flag every corpus doc
    sharing at least one k-token shingle with the benchmark set →
    ``(doc_id, n_hits)``, n_hits = number of distinct overlapping
    shingles.

    Plan shape for 100 TB: the benchmark side (eval sets — thousands of
    docs, not billions) collapses to a distinct-shingle set and is
    **broadcast**, so the corpus is scanned once with a map-side hash
    probe — no shuffle of corpus shingles. If the benchmark ever
    outgrows broadcast, drop the hint and the same plan shuffle-joins
    on the shingle key; ``hash_shingles=True`` is that regime's key
    compression — xxhash64 the shingles so fixed 8-byte longs travel
    and broadcast instead of arbitrary-length strings (equivalence
    modulo 64-bit collisions, pinned in tests)."""
    sh = shingles(text_col, k)
    if hash_shingles:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    probe = benchmark.select(F.explode(sh).alias("shingle")).distinct()
    doc_shingles = docs.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return (
        doc_shingles.join(F.broadcast(probe), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. Identical across engines and
    runs — the key for exact dedup at 100 TB (group on the 128-bit
    fingerprint instead of the full text: tiny shuffle keys)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(normalized)


def rolling_fingerprints(
    col: Column | str, k: int = 8, window: int = 4, base: int = 131
) -> Column:
    """Winnowed rolling-hash fingerprints (the MOSS/winnowing scheme):
    polynomial rolling hash over every k-char gram, then the minimum
    hash of each sliding window of ``window`` consecutive grams, distinct.

    Near-identical documents share most selected hashes, so grouping on
    exploded (fingerprint → doc) pairs finds overlapping/contained text
    (the winnowing guarantee: any shared substring of length
    ``k + window - 1`` produces at least one shared fingerprint —
    stronger than whole-document hashing, cheaper than shingle Jaccard).

    Integer discipline: codepoints are capped mod 256 and the hash uses
    plain int64 arithmetic with no modulus — exact (no wraparound:
    255·131^7·Σ < 2^63), so the same formula runs as SQL on any engine
    (the DuckDB oracle twin replicates it with list comprehensions).
    Implemented as an Arrow-batched pandas UDF: the per-row work is two
    numpy sliding-window ops; per-char column expressions would be
    O(n·k) interpreted evals per row.
    """

    @pandas_udf("array<long>")
    def _fps(texts: pd.Series) -> pd.Series:
        return pd.Series(_winnowed_fingerprints(texts, k, window, base))

    c = F.col(col) if isinstance(col, str) else col
    return _fps(c)


def _winnowed_fingerprints(texts, k: int, window: int, base: int) -> list[list[int]]:
    """The :func:`rolling_fingerprints` kernel over an iterable of
    strings (None reads as '')."""
    weights = np.array([base ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    out = []
    for t in texts:
        t = t or ""
        if len(t) < k:
            out.append([])
            continue
        # codepoints via one C-level UTF-32 encode — ord(ch) per
        # char is an interpreted per-character loop (measured the
        # bulk of this kernel's time; same values, utf-32-le code
        # units ARE the codepoints). surrogatepass keeps a lone
        # surrogate's code unit, as ord() would, instead of raising.
        utf32 = t.encode("utf-32-le", "surrogatepass")
        codes = np.frombuffer(utf32, dtype="<u4").astype(np.int64) % 256
        grams = sliding_window_view(codes, k) @ weights
        if len(grams) < window:
            out.append([])
            continue
        fps = np.unique(sliding_window_view(grams, window).min(axis=1))
        out.append(fps.tolist())
    return out


# --- language ID -----------------------------------------------------------

# Minimal per-language marker sets (function words / particles). A real
# deployment swaps in trigram log-frequency profiles; the *plan* is the
# interesting part: one pass, score arrays, argmax — all native.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr": ("le", "la", "les", "et", "des", "une", "est", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这"),
}


# Tiny built-in char-trigram profiles (most-frequent trigrams per
# language, space-padded, derived from common function words). A real
# deployment loads profiles trained on corpora; the operator shape —
# Arrow-batched profile scoring, no shuffle — is identical.
_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng ",
           " to", "to ", " in", "in ", "ion", "ed ", " is", "is "),
    "de": ("er ", " de", "der", "ie ", " di", "die", "und", " un", "nd ", "ch ",
           "ein", " ei", "ich", "sch", "en ", " ge"),
    "es": (" de", "de ", " la", "la ", "os ", " el", "el ", " qu", "que", "ue ",
           " en", "en ", "ción", "ar ", " lo", "los"),
    "fr": (" le", "le ", " de", "de ", "es ", "ent", " la", "la ", "et ", " et",
           "ait", "que", " qu", "eur", "ons", " pa"),
}


def langid_ngram(col: Column | str, default: str = "und") -> Column:
    """Char-trigram profile language ID (the classic Cavnar-Trenkle
    n-gram approach, profile-overlap scored): count hits of each
    language's top trigrams in the document's trigram set, argmax with
    deterministic tie-break. Arrow-batched pandas UDF — per-batch numpy
    scoring, no shuffle, embarrassingly parallel at any scale."""

    profiles = {k: frozenset(v) for k, v in _TRIGRAM_PROFILES.items()}
    langs = sorted(profiles)

    @pandas_udf("string")
    def _lid(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = " " + " ".join((t or "").lower().split()) + " "
            grams = {s[i : i + 3] for i in range(len(s) - 2)}
            best_lang, best_score = default, 0
            for lang in langs:
                score = len(grams & profiles[lang])
                if score > best_score:
                    best_lang, best_score = lang, score
            out.append(best_lang if best_score >= 3 else default)
        return pd.Series(out)

    c = F.col(col) if isinstance(col, str) else col
    return _lid(c)


def langid_heuristic(col: Column | str, default: str = "und") -> Column:
    """Marker-word voting language ID: per language, count marker hits in
    the token set; argmax with deterministic tie-break (language order),
    'und' when nothing matches. Pure column expressions — scores for K
    languages cost K higher-order filters over the token array, still
    one scan and zero shuffles."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), r"\s+")
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(marr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # array_max on struct(score, lang): max score, ties broken by lang
    # string order — deterministic.
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit(default))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    feats = quality_features(text_col)
    out = df
    for name, expr in feats.items():
        out = out.withColumn(name, expr)
    return out


# Vocabulary-size bound below which BPE merge learning runs on the
# driver over the collected word-frequency table instead of iterating
# Spark jobs. Classic BPE training is a |vocab|-sized problem after
# the one corpus-sized counting pass (the HuggingFace/SentencePiece
# trainers are single-node over exactly this table), but the
# distributed loop pays one argmax job chain PER MERGE — ~0.4-0.5 s of
# scheduler latency each for a 1-row answer (measured r7: 10 merges =
# ~3-5 s at sf0.01 for 10 output rows). Under the bound the table is
# collected once (Arrow) and the merges are learned locally —
# bit-identical results, same tie-break, one job instead of 10 chains.
# 200k words ≈ a few MB; above it the probe early-exits and the
# distributed loop runs (100 TB corpora: vocab is millions of rows —
# the loop's per-merge shuffle is the honest scale path).
LOCAL_BPE_VOCAB_BOUND = 200_000


def _utf16_units(w: str) -> list:
    """Split a string into UTF-16 code units — the unit Spark's
    ``split(w, '')`` and Java regexes operate on, so the local trainer
    sees exactly the symbol arrays the distributed fold sees (identical
    to ``list(w)`` for BMP-only text)."""
    b = w.encode("utf-16-be", "surrogatepass")
    return [
        b[i : i + 2].decode("utf-16-be", "surrogatepass")
        for i in range(0, len(b), 2)
    ]


def _bpe_train_local(word_counts, num_merges: int) -> list:
    """Driver-side exact BPE merge learning over the full word-frequency
    table: per round, weighted adjacent-pair counts (every occurrence,
    overlapping included), argmax by (count desc, a asc, b asc) — both
    string comparisons are code-point order, matching Spark/DuckDB
    UTF-8 binary ordering — then the greedy non-overlapping
    left-to-right merge fold, exactly the semantics of the distributed
    ``F.aggregate`` rewrite. Stops when the best pair count drops
    below 2."""
    from collections import Counter

    syms = [(_utf16_units(w), int(wc)) for w, wc in word_counts]
    merges = []
    for rank in range(num_merges):
        cnt: Counter = Counter()
        for s, wc in syms:
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += wc
        if not cnt:
            break
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < 2:
            break
        merges.append((rank, a, b, a + b, n))
        merged = a + b
        nxt = []
        for s, wc in syms:
            acc = []
            for x in s:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = merged
                else:
                    acc.append(x)
            nxt.append((acc, wc))
        syms = nxt
    return merges


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_word_count: int = 1,
    local_vocab_bound: int = LOCAL_BPE_VOCAB_BOUND,
) -> DataFrame:
    """Train byte-pair-encoding merges over the corpus — the tokenizer-
    construction step (`text_token_count_bpe` *applies* a BPE-ish rule;
    this *learns* one).

    Distributed form of the classic algorithm:

    1. ONE pass over the corpus builds the word-frequency table (the
       only fact-table-sized job; everything after runs on |vocab| rows).
    2. Each word becomes its symbol array (characters).
    3. Per merge step: weighted adjacent-pair counts (explode → groupBy
       → deterministic top-1 by count desc / pair asc), then a greedy
       left-to-right in-row fold (`F.aggregate`) rewrites every word's
       symbol array. The top-1 `.first()` is a 1-row driver action per
       iteration — inherent to iterative BPE (same class as IVF centroid
       fits); the word table itself never leaves the executors.

    At 100 TB the word table is ~|distinct words| (millions, not
    trillions) — each of the K iterations is a small shuffle on pair
    keys. `localCheckpoint` every few rounds truncates the growing
    lineage exactly like `connected_components` does.

    Returns the ordered merge table: (merge_rank, left, right, merged,
    pair_count).
    """
    words = (
        df.select(F.explode(F.split(F.lower(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.col("wc") >= min_word_count)
    )
    spark = df.sparkSession
    if local_vocab_bound:
        probe = words.limit(local_vocab_bound + 1).toPandas()
        if len(probe) <= local_vocab_bound:
            return local_frame(
                spark,
                _bpe_train_local(
                    list(zip(probe["w"].tolist(), probe["wc"].tolist())),
                    num_merges,
                ),
                "merge_rank int, left string, right string, merged string, "
                "pair_count bigint",
            )
    syms = words.select(
        "wc", F.split("w", "").alias("s")
    )
    merges = []
    for rank in range(num_merges):
        pairs = (
            syms.select(
                "wc",
                F.expr(
                    "explode(transform(slice(s, 1, size(s) - 1), "
                    "(x, i) -> struct(x AS a, element_at(s, i + 2) AS b)))"
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
        )
        best = pairs.first()
        if best is None or best["n"] < 2:
            break
        a, b, n = best["a"], best["b"], int(best["n"])
        merges.append((rank, a, b, a + b, n))
        # Greedy left-to-right merge of (a,b) in every symbol array.
        syms = syms.select(
            "wc",
            F.expr(
                "aggregate(s, CAST(array() AS array<string>), (acc, x) -> "
                f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {_sql_str(a)} "
                f"AND x = {_sql_str(b)} "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array({_sql_str(a + b)})) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("s"),
        )
        if (rank + 1) % 4 == 0:
            syms = syms.localCheckpoint(eager=False)
    return local_frame(
        spark,
        merges, "merge_rank int, left string, right string, merged string, pair_count bigint"
    )


def _sql_str(s: str) -> str:
    """SQL string literal (single-quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training — the second of
# the two tokenizers real pretraining pipelines train (Kudo 2018,
# "Subword Regularization"; BPE above is the first). Hard-EM variant:
# the E-step segments every word by VITERBI under the current piece
# costs (exactly the segmentation SentencePiece uses at encode time),
# the M-step re-estimates piece probabilities from the segment counts
# with add-one smoothing. All arithmetic is fixed-point-replayable:
# counts are exact integers, a piece's cost is
# floor(1e6·ln((total+V)/(cnt+1))) — the identical ln discipline the
# oracle-gated bigram-perplexity query already proved engine-portable —
# and the Viterbi DP is an integer argmin with a deterministic
# (cost asc, piece-length desc) tie-break, so DuckDB unrolls the whole
# fit (seed counts, every EM round's DP + backtrack + recount, final
# costs) as chained CTEs and reproduces it bit-for-bit.
# ---------------------------------------------------------------------------

UNIGRAM_SCALE = 1_000_000
UNIGRAM_INF = 1 << 50  # sentinel for out-of-vocab pieces; never wins
LOCAL_UNIGRAM_VOCAB_BOUND = 200_000


def _unigram_costs(counts: dict) -> dict:
    """piece → floor(1e6·ln((total+V)/(cnt+1))) — add-one-smoothed
    negative log-likelihood in 1e-6-nat fixed point. total/V/cnt are
    exact ints; the double division and ln are single IEEE ops
    identical across Python/Spark/DuckDB (same libm discipline as
    text_bigram_perplexity, driver-gated)."""
    import math

    tot = sum(counts.values())
    v = len(counts)
    return {
        p: int(math.floor(UNIGRAM_SCALE * math.log((tot + v) / (c + 1))))
        for p, c in counts.items()
    }


def _unigram_viterbi_local(word: str, cost: dict, max_piece_len: int) -> list:
    """Min-cost segmentation; ties prefer the LONGER last piece (the
    rule the Spark HOF expression and the oracle's QUALIFY replicate).
    Single characters are always in the vocab, so a path always exists."""
    n = len(word)
    dp = [0] + [UNIGRAM_INF * 32] * n
    bl = [0] * (n + 1)
    for i in range(1, n + 1):
        best_d, best_l = UNIGRAM_INF * 32, 0
        for piece_len in range(1, min(max_piece_len, i) + 1):
            c = cost.get(word[i - piece_len : i])
            if c is None:
                continue
            d = dp[i - piece_len] + c
            if d < best_d or (d == best_d and piece_len > best_l):
                best_d, best_l = d, piece_len
        dp[i], bl[i] = best_d, best_l
    out = []
    pos = n
    while pos > 0:
        piece_len = bl[pos]
        if piece_len == 0:
            # No candidate piece covered this position — possible only
            # when the cost map was trained on a different corpus and
            # lacks one of the word's characters. Without this guard
            # the backtrack would never advance (ADVICE r8).
            raise ValueError(
                f"unigram cost map has no piece covering {word!r} at "
                f"position {pos} (character {word[pos - 1]!r} not in vocab)"
            )
        out.append(word[pos - piece_len : pos])
        pos -= piece_len
    out.reverse()
    return out


def _unigram_cost_map_sql(cost: dict) -> str:
    """The cost dict as a Spark map literal (bounded: |vocab| entries —
    an index artifact like the k-means centroid arrays)."""
    entries = ", ".join(
        f"{_sql_str(p)}, CAST({c} AS BIGINT)" for p, c in sorted(cost.items())
    )
    return f"map({entries})"


def unigram_viterbi_expr(word_col: str, cost: dict, max_piece_len: int = 4) -> str:
    """SQL-expression Viterbi over ``word_col`` under literal costs —
    pure JVM (no Python worker), runs over the DISTINCT-WORD table only.
    Two folds: positions 1..n build (dp, backpointer-length) arrays
    (argmin via struct array_min on (cost, -len) — lowest cost, longest
    piece on ties), then a backtrack fold emits the piece array."""
    m = _unigram_cost_map_sql(cost)
    best = (
        f"array_min(transform(sequence(1, least({max_piece_len}, i)), "
        f"l -> named_struct("
        f"'dd', element_at(acc.d, i - l + 1) + "
        f"coalesce(element_at({m}, substring({word_col}, i - l + 1, l)), "
        f"CAST({UNIGRAM_INF} AS BIGINT)), "
        f"'ml', -l)))"
    )
    dp = (
        f"aggregate(sequence(1, length({word_col})), "
        f"named_struct('d', array(CAST(0 AS BIGINT)), 'bl', array(0)), "
        f"(acc, i) -> named_struct("
        f"'d', concat(acc.d, array({best}.dd)), "
        f"'bl', concat(acc.bl, array(-{best}.ml))))"
    )
    return (
        f"reverse(aggregate(sequence(1, length({word_col})), "
        f"named_struct('pos', length({word_col}), "
        f"'ps', CAST(array() AS array<string>), 'bl', ({dp}).bl), "
        f"(acc, k) -> IF(acc.pos <= 0, acc, named_struct("
        f"'pos', acc.pos - element_at(acc.bl, acc.pos + 1), "
        f"'ps', concat(acc.ps, array(substring({word_col}, "
        f"acc.pos - element_at(acc.bl, acc.pos + 1) + 1, "
        f"element_at(acc.bl, acc.pos + 1)))), "
        f"'bl', acc.bl)), x -> x.ps))"
    )


def unigram_fit(
    df: DataFrame,
    text_col: str = "text",
    vocab_multi: int = 40,
    max_piece_len: int = 4,
    min_count: int = 3,
    em_iters: int = 2,
    word_len_cap: int = 16,
    local_vocab_bound: int = LOCAL_UNIGRAM_VOCAB_BOUND,
) -> tuple[list, dict]:
    """Fit the unigram LM: returns ``(rows, final_costs)`` where rows is
    ``[(piece, final_count, nll_fp), ...]`` (piece-ascending) and
    final_costs the piece→nll_fp dict the encoder segments with.

    Seed vocab = every character of the (≤``word_len_cap``-char,
    whitespace-lowercased) word table ∪ the top-``vocab_multi``
    substrings of length 2..``max_piece_len`` by weighted occurrence
    count (count desc, piece asc; ``min_count`` floor) — the standard
    frequent-substring seeding. Each EM round: costs from counts
    (add-one), Viterbi E-step over the distinct-word table, recount.

    Adaptive like ``bpe_train_merges``: word tables under
    ``local_vocab_bound`` collect once and fit on the driver
    (bit-identical — pinned by the local==distributed test); above the
    bound every E-step is one JVM-side HOF segmentation pass over the
    distributed word table + one piece-key shuffle, and only
    vocab-bounded count tables ever reach the driver (the model is the
    bounded artifact, the corpus never collects). Words longer than
    ``word_len_cap`` are excluded from fit AND encode on both engines
    (the oracle's DP unroll is bounded by it).

    The fit is an index-build artifact (like the PQ codebook), a
    ``unigram_fit`` kind of :mod:`jhu_data_parser_spark.cache`, so
    train + encode over the same corpus fit once."""

    params = (
        text_col,
        vocab_multi,
        max_piece_len,
        min_count,
        em_iters,
        word_len_cap,
        local_vocab_bound,
    )
    return cache.get_or_build(
        "unigram_fit", df, params, lambda: _unigram_fit_build(df, *params)
    )


def _unigram_fit_build(
    df, text_col, vocab_multi, max_piece_len, min_count, em_iters, word_len_cap,
    local_vocab_bound,
) -> tuple[list, dict]:
    """:func:`unigram_fit`'s build."""
    words = (
        df.select(F.explode(F.split(F.lower(text_col), r"\s+")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= word_len_cap))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )

    if local_vocab_bound:
        probe = words.limit(local_vocab_bound + 1).toPandas()
        if len(probe) <= local_vocab_bound:
            wc_pairs = list(zip(probe["w"].tolist(), probe["wc"].tolist()))
            return _unigram_fit_local(
                wc_pairs, vocab_multi, max_piece_len, min_count, em_iters
            )

    # Distributed path: seed counts via two explode passes, then EM
    # rounds of (broadcast-literal Viterbi → explode → piece-key agg).
    chars = (
        words.select(
            "wc",
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("wc").alias("cnt"))
    )
    cand = (
        words.select(
            "wc",
            F.explode(
                # NB: Spark sequence(1, 0) is DESCENDING [1, 0], not
                # empty — words shorter than l must short-circuit to an
                # empty array or they contribute phantom occurrences.
                F.expr(
                    f"flatten(transform(sequence(2, {max_piece_len}), "
                    "l -> IF(length(w) >= l, "
                    "transform(sequence(1, length(w) - l + 1), "
                    "i -> substring(w, i, l)), CAST(array() AS array<string>))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("wc").alias("cnt"))
    )
    multi = (
        cand.filter(F.col("cnt") >= min_count)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(vocab_multi)
    )
    counts = {
        r["piece"]: int(r["cnt"]) for r in chars.collect() + multi.collect()
    }
    for _ in range(em_iters):
        cost = _unigram_costs(counts)
        seg = (
            words.select(
                "wc",
                F.explode(
                    F.expr(unigram_viterbi_expr("w", cost, max_piece_len))
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("wc").alias("cnt"))
        )
        observed = {r["piece"]: int(r["cnt"]) for r in seg.collect()}
        counts = {p: observed.get(p, 0) for p in counts}
    final_costs = _unigram_costs(counts)
    rows = [
        (p, counts[p], final_costs[p]) for p in sorted(counts)
    ]
    return rows, final_costs


def _unigram_fit_local(
    wc_pairs: list,
    vocab_multi: int,
    max_piece_len: int,
    min_count: int,
    em_iters: int,
) -> tuple[list, dict]:
    """Driver-side exact twin of the distributed fit (same seeding,
    costs, Viterbi tie-break, recount)."""
    from collections import Counter

    chars: Counter = Counter()
    cand: Counter = Counter()
    for w, wc in wc_pairs:
        wc = int(wc)
        for i in range(len(w)):
            chars[w[i]] += wc
        for piece_len in range(2, max_piece_len + 1):
            for i in range(len(w) - piece_len + 1):
                cand[w[i : i + piece_len]] += wc
    multi = sorted(
        ((p, c) for p, c in cand.items() if c >= min_count),
        key=lambda kv: (-kv[1], kv[0]),
    )[:vocab_multi]
    counts = dict(chars)
    counts.update(dict(multi))
    for _ in range(em_iters):
        cost = _unigram_costs(counts)
        observed: Counter = Counter()
        for w, wc in wc_pairs:
            for piece in _unigram_viterbi_local(w, cost, max_piece_len):
                observed[piece] += int(wc)
        counts = {p: int(observed.get(p, 0)) for p in counts}
    final_costs = _unigram_costs(counts)
    rows = [(p, counts[p], final_costs[p]) for p in sorted(counts)]
    return rows, final_costs


# --------------------------------------------------------------------------
# Trained quality classifier — full-batch logistic regression in the
# engine's exact-replay discipline (r8 verdict item 4): labels come
# from the Gopher rules, features are the hashed unigram+bigram
# per-mille ratios plus the five Gopher rule inputs, per-feature
# mean-centered in integer fixed point (uncentered, the near-constant
# ratio features act as giant biases and full-batch GD oscillates —
# measured: accuracy flips between all-positive and all-negative).
# Probabilities are floor(1e6·sigmoid(clamp(m)/1e6)) — the same
# quantize-early floor(1e6·f(x)) discipline as the unigram/bigram
# fits: every downstream value (error, gradient, weight) is an exact
# int64, so Spark, DuckDB and the local twin replay bit-identically.
# (Raw exp differs between JVM and C libm by ulps; the 1e-6
# quantization absorbs that everywhere except a ~1e-10-measure
# boundary band — the identical risk class floor(1e6·ln) carries.)
# --------------------------------------------------------------------------

LR_SCALE = 1_000_000
LR_CLAMP = 20 * LR_SCALE
LR_ETA_DIV = 1_000_000.0
LR_N_BUCKETS = 64
LR_N_FEATURES = LR_N_BUCKETS + 6  # buckets + [n, letters‰, hash‰, nonalpha‰, stop] + bias

_LR_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is")


def _lr_sigmoid_fp(m: int) -> int:
    """floor(1e6·sigmoid(clamp(m, ±20e6)/1e6)) — the quantized forward
    pass shared (textually) by the Spark expression and the oracle."""
    import math

    zc = min(LR_CLAMP, max(-LR_CLAMP, int(m)))
    return int(math.floor(LR_SCALE / (1.0 + math.exp(-(zc / LR_SCALE)))))


def lr_quality_raw_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, y, x) where ``x`` is the 69-long RAW integer feature
    array — hashed unigram+bigram per-mille bucket ratios (64, portable
    md5 bucket hash) then [min(n_tok,2000), letters‰, hash‰,
    nonalpha‰, 100·n_stopwords] — and ``y`` the 0/1 Gopher label.

    One explode + one (doc_id, bucket) count + one map collect: the
    per-doc shuffle happens ONCE at feature-build time; training steps
    never touch text again.

    The unigram+bigram explode with a portable md5 per feature does
    ~100x more compute per input byte than the scan, so scan
    parallelism bounds the whole build: a single-file (single
    row-group) corpus runs it on ONE task. When the scan has fewer
    partitions than the session's cores, hash-spread by doc_id first
    (deterministic key; every downstream aggregate is an exact integer
    sum, so placement cannot change results). Measured 3.8 -> 1.2 s at
    sf0.1 (1-file layout); a many-file corpus keeps its natural
    partitioning and skips the shuffle."""
    sc = df.sparkSession.sparkContext
    try:
        n_scan = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - streaming-foreachBatch oddities
        n_scan = sc.defaultParallelism
    if n_scan < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism, "doc_id")
    stop_sql = ", ".join(f"'{s}'" for s in _LR_STOPWORDS)
    # tokenize ONCE per row per branch (r14): the previous inline form
    # re-ran split(text) 3-5 times per row across the stat and feature
    # expressions — pure expression cost, identical values
    toked = df.select("doc_id", F.col(text_col).alias("__t"), F.split(text_col, " ").alias("__w"))
    n = F.size("__w").cast("long")
    letters = (F.length("__t") - (F.size("__w") - 1)).cast("long")
    n_hash = (
        F.length("__t")
        - F.length(F.replace(F.col("__t"), F.lit("#"), F.lit("")))
    ).cast("long")
    n_nonalpha = F.expr(
        "size(filter(__w, w -> NOT (w rlike '[a-z]')))"
    ).cast("long")
    n_stop = F.expr(
        f"size(array_intersect(__w, array({stop_sql})))"
    ).cast("long")
    stats = toked.select(
        "doc_id",
        n.alias("n"),
        letters.alias("letters"),
        n_hash.alias("nh"),
        n_nonalpha.alias("nna"),
        n_stop.alias("ns"),
    )
    feats = toked.select(
        "doc_id",
        (2 * F.size("__w") - 1).cast("long").alias("nf"),
        F.explode(
            F.expr(
                "concat(__w, "
                "zip_with(slice(__w, 1, size(__w) - 1), "
                "slice(__w, 2, size(__w) - 1), "
                "(a, b) -> concat(a, '_', b)))"
            )
        ).alias("feat"),
    )
    bc = (
        feats.select(
            "doc_id",
            "nf",
            (
                F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long")
                % LR_N_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("nf").alias("nf"))
        .select(
            "doc_id",
            "bucket",
            F.expr("CAST((1000 * cnt) DIV nf AS BIGINT)").alias("x"),
        )
    )
    mp = bc.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "x"))).alias("mp")
    )
    gq = (
        (F.col("n") >= 30)
        & (3 * F.col("n") <= F.col("letters"))
        & (F.col("letters") <= 10 * F.col("n"))
        & (10 * F.col("nh") <= F.col("n"))
        & (10 * F.col("nna") <= F.col("n"))
        & (F.col("ns") >= 2)
    )
    return stats.join(mp, "doc_id").select(
        "doc_id",
        F.when(gq, 1).otherwise(0).cast("long").alias("y"),
        F.expr(
            f"concat(transform(sequence(0, {LR_N_BUCKETS - 1}), "
            "b -> coalesce(element_at(mp, CAST(b AS BIGINT)), CAST(0 AS BIGINT))), "
            "array(LEAST(n, CAST(2000 AS BIGINT)), "
            "CAST((1000 * letters) DIV n AS BIGINT), "
            "CAST((1000 * nh) DIV n AS BIGINT), "
            "CAST((1000 * nna) DIV n AS BIGINT), "
            "CAST(ns * 100 AS BIGINT)))"
        ).alias("x"),
    )


def lr_train_quality(
    df: DataFrame, text_col: str = "text", steps: int = 6
) -> tuple[list, list]:
    """(weights, per-step stats) — see :func:`lr_fit_artifacts`."""
    w, stats, _mu, _n = lr_fit_artifacts(df, text_col, steps)
    return w, stats


def lr_fit_artifacts(
    df: DataFrame, text_col: str = "text", steps: int = 6
) -> tuple[list, list, list, int]:
    """Distributed full-batch logistic-regression training: returns
    (weights, per-step stats rows, feature means ×1000, n_docs) — the
    means are part of the model (serving must center inputs the same
    way). An ``lr_fit`` artifact of :mod:`jhu_data_parser_spark.cache`
    — the same fit-once lifecycle as unigram_fit — so the serve query
    reuses the training query's fit. Per step, ONE aggregation job runs
    over the centered feature frame — the margin/sigmoid/error are
    in-row codegen+HOF expressions against the current weight LITERAL,
    posexplode routes the gradient to a 70-row (feature-dim) result,
    and the per-step stats ride the same rows — so the driver-side
    artifact is exactly the weight vector, never data.

    Update rule: w_j ← w_j − floor(g_j / (1e6 · n_docs)) with g_j the
    exact int64 error-weighted feature sum; the int64→double conversion
    and the single division round identically in every engine."""
    return cache.get_or_build(
        "lr_fit", df, (text_col, steps), lambda: _lr_fit_build(df, text_col, steps)
    )


def _lr_fit_build(df, text_col, steps) -> tuple[list, list, list, int]:
    """:func:`lr_fit_artifacts`'s build."""
    import math

    # Checkpoint the RAW frame (not the centered one): the means collect
    # below materializes it, and the per-step centering is then a cheap
    # zip_with projection over the checkpoint — checkpointing the
    # centered frame instead would run the whole feature build twice
    # (measured: 9.0 -> ~5.5 s at sf0.1).
    raw = lr_quality_raw_frame(df, text_col).localCheckpoint(eager=False)
    sums = (
        raw.select(F.posexplode("x").alias("j", "v"))
        .groupBy("j")
        .agg(F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_docs = int(sums[0]["n"])
    mean1000 = [0] * (LR_N_FEATURES - 1)
    for r in sums:
        mean1000[int(r["j"])] = (1000 * int(r["s"])) // n_docs
    mean_lits = ", ".join(f"CAST({m} AS BIGINT)" for m in mean1000)
    xl = raw.select(
        "doc_id",
        "y",
        F.expr(
            f"concat(zip_with(x, array({mean_lits}), "
            "(a, m) -> 1000 * a - m), array(CAST(1000 AS BIGINT)))"
        ).alias("cx"),
    )

    w = [0] * LR_N_FEATURES
    out = []
    for k in range(1, steps + 1):
        w_lit = ", ".join(f"CAST({v} AS BIGINT)" for v in w)
        m_expr = (
            f"aggregate(zip_with(cx, array({w_lit}), (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        p_expr = (
            "CAST(floor(1000000.0 / (1.0 + exp(-(CAST(LEAST("
            f"CAST({LR_CLAMP} AS BIGINT), GREATEST(CAST(-{LR_CLAMP} AS BIGINT), m)) "
            "AS DOUBLE) / 1000000.0)))) AS BIGINT)"
        )
        row = xl.select("y", F.expr(m_expr).alias("m"), "cx").select(
            "y", F.expr(p_expr).alias("p"), "cx"
        )
        # NOTE (r14): a "wide agg" variant — 70 SUM(err*cx[j]) columns
        # with no explode — measured ~2x SLOWER: without the Generate
        # barrier CollapseProject inlines the interpreted margin fold
        # into every aggregate expression (70x recompute per row). The
        # posexplode keeps m/p evaluated once per row.
        ex = row.select(
            "y",
            "p",
            (F.col("p") - F.col("y") * LR_SCALE).alias("err"),
            F.posexplode("cx").alias("j", "cxv"),
        )
        g_rows = (
            ex.groupBy("j")
            .agg(
                F.sum(F.col("err") * F.col("cxv")).cast("long").alias("g"),
                F.sum(F.abs("err")).cast("long").alias("err_abs_sum"),
                F.count_if(
                    (F.col("p") >= LR_SCALE // 2) == (F.col("y") == 1)
                ).cast("long").alias("n_correct"),
                F.count_if(F.col("p") >= LR_SCALE // 2)
                .cast("long")
                .alias("n_pos_pred"),
            )
            .collect()
        )
        by_j = {int(r["j"]): r for r in g_rows}
        for j in range(LR_N_FEATURES):
            w[j] -= math.floor(float(by_j[j]["g"]) / (LR_ETA_DIV * n_docs))
        r0 = by_j[0]
        out.append(
            {
                "step": k,
                "n_pos_pred": int(r0["n_pos_pred"]),
                "n_correct": int(r0["n_correct"]),
                "err_abs_sum": int(r0["err_abs_sum"]),
                "w_sum": sum(w),
                "w_abs_sum": sum(abs(v) for v in w),
            }
        )
    return w, out, mean1000, n_docs


def _lr_train_quality_local(texts_with_ids: list, steps: int = 6) -> tuple[list, list]:
    """Independent pure-python twin of :func:`lr_train_quality` (no
    shared Spark code) for the local == distributed equivalence test;
    same hashing, centering, quantization, and update rule."""
    import hashlib
    import math
    from collections import Counter

    stop = set(_LR_STOPWORDS)
    data = []
    for _doc_id, text in texts_with_ids:
        wds = text.split(" ")
        n = len(wds)
        letters = len(text) - (n - 1)
        nh = text.count("#")
        nna = sum(1 for x in wds if not any("a" <= c <= "z" for c in x))
        ns = len(set(wds) & stop)
        y = (
            1
            if (
                n >= 30
                and 3 * n <= letters <= 10 * n
                and 10 * nh <= n
                and 10 * nna <= n
                and ns >= 2
            )
            else 0
        )
        fs = wds + [a + "_" + b for a, b in zip(wds[:-1], wds[1:])]
        cnt: Counter = Counter()
        for f in fs:
            cnt[int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % LR_N_BUCKETS] += 1
        nf = 2 * n - 1
        x = [(1000 * cnt.get(b, 0)) // nf for b in range(LR_N_BUCKETS)]
        x += [min(n, 2000), (1000 * letters) // n, (1000 * nh) // n,
              (1000 * nna) // n, ns * 100]
        data.append((x, y))
    n_docs = len(data)
    mean1000 = [
        (1000 * sum(x[j] for x, _ in data)) // n_docs
        for j in range(LR_N_FEATURES - 1)
    ]
    cdata = [
        ([1000 * x[j] - mean1000[j] for j in range(LR_N_FEATURES - 1)] + [1000], y)
        for x, y in data
    ]
    w = [0] * LR_N_FEATURES
    out = []
    for k in range(1, steps + 1):
        g = [0] * LR_N_FEATURES
        err_abs = n_correct = n_pos = 0
        for cx, y in cdata:
            m = sum(c * wv for c, wv in zip(cx, w))
            p = _lr_sigmoid_fp(m)
            err = p - y * LR_SCALE
            err_abs += abs(err)
            pred = p >= LR_SCALE // 2
            n_pos += 1 if pred else 0
            n_correct += 1 if pred == (y == 1) else 0
            for j, c in enumerate(cx):
                g[j] += err * c
        for j in range(LR_N_FEATURES):
            w[j] -= math.floor(float(g[j]) / (LR_ETA_DIV * n_docs))
        out.append(
            {
                "step": k,
                "n_pos_pred": n_pos,
                "n_correct": n_correct,
                "err_abs_sum": err_abs,
                "w_sum": sum(w),
                "w_abs_sum": sum(abs(v) for v in w),
            }
        )
    return w, out


# ---------------------------------------------------------------------------
# WordPiece tokenizer — the THIRD tokenizer family real pipelines train
# (Schuster & Nakajima 2012; the BERT tokenizer): like BPE it greedily
# merges adjacent symbol pairs, but the merge argmax maximizes the
# LIKELIHOOD GAIN score count(ab) / (count(a)·count(b)) instead of the
# raw pair count, and encoding is greedy longest-match-first against
# the learned vocabulary (no merge replay, no DP) with the '##'
# continuation-marker convention and whole-word [UNK] fallback.
#
# Exactness discipline: counts are exact integers; the score is ONE
# double multiply + ONE double divide on exactly-representable ints
# (products < 2^53 at any realistic vocab scale), identical IEEE ops
# in Python/Spark/DuckDB; ties break (score desc, a asc, b asc) in
# binary string order. The DuckDB oracle unrolls every training round
# (symbol counts, pair scores, argmax, merge rewrite) and the greedy
# encode walk, so the driver hash gates the whole tokenizer.
# ---------------------------------------------------------------------------

WP_MARK = "##"
WP_UNK = "[UNK]"
LOCAL_WP_VOCAB_BOUND = 200_000


def _wp_syms(w: str) -> list:
    u = _utf16_units(w)
    return [u[0]] + [WP_MARK + c for c in u[1:]]


def _wp_train_local(word_counts, num_merges: int) -> list:
    """Driver-side exact WordPiece merge learning: per round, weighted
    symbol counts + adjacent-pair counts over the current symbol
    arrays, argmax by (n/(ca·cb) desc, a asc, b asc), then the greedy
    non-overlapping left-to-right merge fold. Stops when the best pair
    count drops below 2 (same floor as BPE — a pair seen once carries
    no statistics)."""
    from collections import Counter

    syms = [(_wp_syms(w), int(wc)) for w, wc in word_counts]
    merges = []
    for rank in range(num_merges):
        scnt: Counter = Counter()
        pcnt: Counter = Counter()
        for s, wc in syms:
            for x in s:
                scnt[x] += wc
            for i in range(len(s) - 1):
                pcnt[(s[i], s[i + 1])] += wc
        if not pcnt:
            break
        scored = [
            (float(n) / (float(scnt[a]) * float(scnt[b])), a, b, n)
            for (a, b), n in pcnt.items()
        ]
        score, a, b, n = min(scored, key=lambda t: (-t[0], t[1], t[2]))
        if n < 2:
            break
        merged = a + b[len(WP_MARK):]
        merges.append((rank, a, b, merged, int(n), int(scnt[a]), int(scnt[b]), score))
        nxt = []
        for s, wc in syms:
            acc = []
            for x in s:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = merged
                else:
                    acc.append(x)
            nxt.append((acc, wc))
        syms = nxt
    return merges


_WP_SCHEMA = (
    "merge_rank int, left string, right string, merged string, "
    "pair_count bigint, left_count bigint, right_count bigint, score double"
)


def wordpiece_train_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_word_count: int = 2,
    local_vocab_bound: int = LOCAL_WP_VOCAB_BOUND,
) -> DataFrame:
    """Learn the WordPiece merge table. Same adaptive shape as
    ``bpe_train_merges``: ONE corpus pass builds the word-frequency
    table; under ``local_vocab_bound`` the |vocab|-sized problem
    collects once and trains on the driver (bit-identical, pinned by
    the local==distributed test); above it each round is two small
    shuffles over the word table (symbol counts + pair counts) and a
    1-row argmax action — the honest 100 TB path, since the word table
    is |distinct words|, never corpus-sized."""
    words = (
        df.select(F.explode(F.split(F.lower(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.col("wc") >= min_word_count)
    )
    spark = df.sparkSession
    if local_vocab_bound:
        probe = words.limit(local_vocab_bound + 1).toPandas()
        if len(probe) <= local_vocab_bound:
            return local_frame(
                spark,
                _wp_train_local(
                    list(zip(probe["w"].tolist(), probe["wc"].tolist())),
                    num_merges,
                ),
                _WP_SCHEMA,
            )
    mark_sql = _sql_str(WP_MARK)
    syms = words.select(
        "wc",
        F.expr(
            f"transform(split(w, ''), (c, i) -> "
            f"IF(i = 0, c, concat({mark_sql}, c)))"
        ).alias("s"),
    )
    merges = []
    for rank in range(num_merges):
        scnt = (
            syms.select(F.explode("s").alias("sym"), "wc")
            .groupBy("sym")
            .agg(F.sum("wc").alias("c"))
        )
        pairs = (
            syms.select(
                "wc",
                F.expr(
                    "explode(transform(slice(s, 1, size(s) - 1), "
                    "(x, i) -> struct(x AS a, element_at(s, i + 2) AS b)))"
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wc").alias("n"))
        )
        ca = scnt.select(F.col("sym").alias("a"), F.col("c").alias("ca"))
        cb = scnt.select(F.col("sym").alias("b"), F.col("c").alias("cb"))
        best = (
            pairs.join(F.broadcast(ca), "a")
            .join(F.broadcast(cb), "b")
            .select(
                "a",
                "b",
                "n",
                "ca",
                "cb",
                (
                    F.col("n").cast("double")
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), "a", "b")
            .first()
        )
        if best is None or best["n"] < 2:
            break
        a, b, n = best["a"], best["b"], int(best["n"])
        merged = a + b[len(WP_MARK):]
        merges.append(
            (rank, a, b, merged, n, int(best["ca"]), int(best["cb"]), float(best["score"]))
        )
        syms = syms.select(
            "wc",
            F.expr(
                "aggregate(s, CAST(array() AS array<string>), (acc, x) -> "
                f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {_sql_str(a)} "
                f"AND x = {_sql_str(b)} "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array({_sql_str(merged)})) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("s"),
        )
        if (rank + 1) % 4 == 0:
            syms = syms.localCheckpoint(eager=False)
    return local_frame(spark, merges, _WP_SCHEMA)


def wordpiece_vocab(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_word_count: int = 2,
) -> list:
    """The encode vocabulary: every initial symbol of the (frequency-
    floored) word table — plain first characters and '##'-marked
    continuations — plus the learned merge products, piece-ascending.
    A bounded model artifact (≤ alphabet + num_merges entries)."""
    merges = wordpiece_train_merges(
        df, text_col=text_col, num_merges=num_merges, min_word_count=min_word_count
    ).collect()
    mark_sql = _sql_str(WP_MARK)
    init = (
        df.select(F.explode(F.split(F.lower(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.col("wc") >= min_word_count)
        .select(
            F.explode(
                F.expr(
                    f"transform(split(w, ''), (c, i) -> "
                    f"IF(i = 0, c, concat({mark_sql}, c)))"
                )
            ).alias("sym")
        )
        .distinct()
        .collect()
    )
    vocab = {r["sym"] for r in init} | {m["merged"] for m in merges}
    return sorted(vocab)


def wordpiece_encode_expr(word_col: str, vocab: list) -> str:
    """Greedy longest-match-first WordPiece encode of ``word_col`` as a
    pure-JVM SQL expression (no Python worker; runs over the DISTINCT-
    WORD table only). One forward fold over positions: at each step the
    longest vocabulary piece anchored at the cursor is consumed (the
    '##' marker keys continuation lookups); if none matches, the whole
    word collapses to [UNK] — the standard non-backtracking rule.
    Vocab rides as a literal map (bounded model artifact, same class
    as the unigram cost map)."""
    mark = _sql_str(WP_MARK)
    entries = ", ".join(f"{_sql_str(p)}, 1" for p in sorted(vocab))
    vmap = f"map({entries})"
    max_raw = max(
        (len(p) - len(WP_MARK) if p.startswith(WP_MARK) else len(p)) for p in vocab
    )
    key = (
        f"IF(acc.pos = 1, substring({word_col}, acc.pos, l), "
        f"concat({mark}, substring({word_col}, acc.pos, l)))"
    )
    best_l = (
        f"array_max(filter(sequence(1, least({max_raw}, "
        f"length({word_col}) - acc.pos + 1)), "
        f"l -> element_at({vmap}, {key}) IS NOT NULL))"
    )
    step = (
        f"CASE WHEN acc.bad OR acc.pos > length({word_col}) THEN acc "
        f"WHEN {best_l} IS NULL THEN "
        f"named_struct('pos', length({word_col}) + 1, 'ps', acc.ps, 'bad', true) "
        f"ELSE named_struct("
        f"'pos', acc.pos + {best_l}, "
        f"'ps', concat(acc.ps, array(IF(acc.pos = 1, "
        f"substring({word_col}, acc.pos, {best_l}), "
        f"concat({mark}, substring({word_col}, acc.pos, {best_l}))))), "
        f"'bad', false) END"
    )
    return (
        f"aggregate(sequence(1, length({word_col})), "
        f"named_struct('pos', 1, 'ps', CAST(array() AS array<string>), "
        f"'bad', false), "
        f"(acc, k) -> {step}, "
        f"acc -> IF(acc.bad, array({_sql_str(WP_UNK)}), acc.ps))"
    )
