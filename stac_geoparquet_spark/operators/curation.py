"""Corpus-curation operators beyond the core text/dedup families:
Zipf-slope corpus health check, cross-language contamination audit,
character-level duplicated-span coverage, and a PII scan/redact
surface.

All pure DataFrame expressions (JVM-side, codegen'd — no Python UDFs).
Scale notes per operator:

- text_zipf_slope: the regression runs on the distributed top-K vocab
  (TakeOrderedAndProject over partial counts) — the global rank window
  touches only the K survivors, never the full vocabulary, so the
  single-task stage is K rows at any corpus size.
- cross_lang_contamination: one explode + distinct keyed by
  (lang, gram), then a gram-keyed self-join whose per-gram fan-out is
  capped at C(|langs|, 2) pairs — bounded by the language count, not
  the corpus.
- dedup_substring_spans: strided char shingles keep the explode factor
  at ~len/stride per doc; the cross-doc test is a window min!=max over
  the shingle hash (one shuffle), not a self-join.
- pii_scan / pii_redact: embarrassingly parallel single-pass regex
  scans (Spark `regexp_count`/`regexp_replace`, JVM codegen). The
  driver-gated corpus is synthetic word-soup with zero PII-shaped
  spans, so the operators are verified on injected fixtures with a
  DuckDB cross-check (tests/test_curation.py) instead of a
  zero-information oracle row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_spread, read_table

from stac_geoparquet_spark.caches import session_memo, table_path

from stac_geoparquet_spark.operators._canon import (
    DOCS_CANON_SQL as _DOCS_CANON_SQL,
)
from pyspark.sql.window import Window

from stac_geoparquet_spark.operators.text import (

    BPE_TOP_K,
    SQL_WS,
    _sql_jtrim,
    _sql_lower,
    _sql_words,
    _words,
    bpe_roundtrip_ctes,
    bpe_token_ctes,
)


# --------------------------------------------------------------------------
# Zipf slope: fit ln(freq) ~ ln(rank) over the top-K vocabulary — the
# standard corpus-health statistic (natural text ~ -1; synthetic or
# boilerplate-heavy corpora drift off). regr_slope/regr_intercept are
# exact single-pass aggregates in both engines.
# --------------------------------------------------------------------------
ZIPF_TOP_K = 1000


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the fitted Zipf slope/intercept of ln(freq) on
    ln(rank) over the ``ZIPF_TOP_K`` most frequent words, plus the
    head-vocabulary size the fit used.

    Rank ties break by word (both engines), and the regression is rank-
    order-insensitive (sum-based normal equations), so the only cross-
    engine drift is float accumulation ~1e-12 — nine orders under the
    6-decimal rounding.
    """
    docs = read_table(spark, sf_dir, "documents")
    head = (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(ZIPF_TOP_K)
    )
    ranked = head.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("word"))),
    )
    return ranked.agg(
        F.round(
            F.regr_slope(F.log(F.col("n")), F.log(F.col("rk"))), 6
        ).alias("zipf_slope"),
        F.round(
            F.regr_intercept(F.log(F.col("n")), F.log(F.col("rk"))), 6
        ).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_head_vocab"),
    )


ZIPF_SQL = f"""
WITH counts AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
  GROUP BY word
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk
  FROM counts
  ORDER BY n DESC, word
  LIMIT {ZIPF_TOP_K}
)
SELECT round(regr_slope(ln(n), ln(rk)), 6)     AS zipf_slope,
       round(regr_intercept(ln(n), ln(rk)), 6) AS zipf_intercept,
       count(*)                                AS n_head_vocab
FROM ranked
"""


# --------------------------------------------------------------------------
# cross-language contamination: language pairs sharing word-5-grams —
# the audit that catches one language's boilerplate leaking into
# another's split (or a mislabeled-language subset).
# --------------------------------------------------------------------------
XLANG_NGRAM_N = 5


def cross_lang_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per unordered language pair (lang_a < lang_b), the number of
    DISTINCT word-5-grams occurring in both languages.

    SINGLE scan, NO join: a gram-keyed self-join (the oracle's shape)
    would rescan and re-shingle the corpus once per side, so instead
    each gram aggregates its distinct language SET (bounded by the
    language count), the sorted set explodes to its in-row pair
    combinations — at most C(|langs|, 2) per gram — and a tiny
    pair-keyed aggregate finishes. Shuffles: the (lang, gram)
    distinct, the gram-keyed set-collect, and the final count over
    C(|langs|, 2) groups.
    """
    from stac_geoparquet_spark.operators.pipeline import (
        _text_word_ngrams,
    )

    lang_grams = (
        # r10: gram-heavy — keep the toy-scale spread (read_spread)
        # while the light per-row ops read the bare scan
        read_spread(spark, table_path(sf_dir, "documents"))
        .select(
            "lang",
            # r10: in-row array_distinct BEFORE the explode — in-doc
            # duplicate grams never reach the (lang, gram) distinct
            # exchange (guide §2.3); the cross-doc distinct below is
            # unchanged and the result is identical
            F.explode(
                F.array_distinct(
                    _text_word_ngrams(XLANG_NGRAM_N)
                )
            ).alias("ngram"),
        )
        # r10 session 2: no .distinct() — the gram-keyed collect_set
        # below dedups languages per gram anyway (map-side partials
        # included), so the dedicated (lang, ngram) distinct exchange
        # was a pure extra shuffle of the gram stream (guide §2.4)
    )
    gram_langs = lang_grams.groupBy("ngram").agg(
        F.array_sort(F.collect_set("lang")).alias("ls")
    )
    pairs = gram_langs.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ls",
                    lambda x, i: F.transform(
                        F.slice(F.col("ls"), i + 2, F.size("ls")),
                        lambda y: F.struct(
                            x.alias("lang_a"), y.alias("lang_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy("p.lang_a", "p.lang_b").agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )


def _sql_ngrams_expr(n: int) -> str:
    from stac_geoparquet_spark.operators.pipeline import _sql_ngrams

    return _sql_ngrams(n)


XLANG_SQL = f"""
WITH w AS (
  SELECT lang, {_sql_words()} AS words FROM documents
),
lg AS (
  SELECT DISTINCT lang, ngram
  FROM (SELECT lang, unnest({_sql_ngrams_expr(XLANG_NGRAM_N)}) AS ngram FROM w)
)
SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared_grams
FROM lg a JOIN lg b ON a.ngram = b.ngram AND a.lang < b.lang
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# character-level duplicated-span coverage: the Lee-et-al-style
# substring dedup signal, approximated with strided char shingles. A
# doc's "duplicated fraction" is the share of its shingles that occur
# verbatim in at least one OTHER doc.
# --------------------------------------------------------------------------
SPAN_K = 40  # shingle width (chars)
SPAN_STRIDE = 10  # shingle start stride (chars)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: total strided 40-char shingles, how many of them also
    appear verbatim in a different doc, and the duplicated fraction.

    Single scan: shingles explode to (doc_id, hash) rows; a window
    min/max over each hash's partition marks cross-doc hashes
    (min(doc_id) != max(doc_id) — no count-distinct needed), and the
    per-doc rollup keys back on doc_id. Two shuffles (hash, doc_id),
    both partial-aggregated. A doc shorter than the shingle width
    contributes its whole text as one shingle, so every non-null doc
    is scored; NULL-text docs have no spans and are excluded on both
    engines (Spark's window would group their NULL hashes together
    and call them duplicates while the oracle's join drops them — a
    latent divergence found by NULL-injection differential testing).
    """
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    max_pos = F.greatest(F.length("text") - F.lit(SPAN_K - 1), F.lit(1))
    pos = F.explode(
        F.sequence(F.lit(1), max_pos, F.lit(SPAN_STRIDE))
    ).alias("pos")
    shingled = docs.select("doc_id", "text", pos).select(
        "doc_id",
        F.md5(F.col("text").substr(F.col("pos"), F.lit(SPAN_K))).alias("h"),
    )
    w = Window.partitionBy("h")
    marked = shingled.withColumn(
        "is_dup",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).cast("int"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("is_dup").cast("bigint").alias("n_dup_shingles"),
        F.round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_frac"),
    )


SPAN_SQL = f"""
WITH pos AS (
  SELECT doc_id,
         md5(substring(text, CAST(i AS INT), {SPAN_K})) AS h
  FROM (SELECT * FROM documents WHERE text IS NOT NULL) d,
       unnest(range(1, greatest(length(text) - {SPAN_K - 1}, 1) + 1,
                    {SPAN_STRIDE})) AS t(i)
),
dup AS (
  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)
)
SELECT doc_id,
       count(*) AS n_shingles,
       CAST(count(dup.h) AS BIGINT) AS n_dup_shingles,
       round(count(dup.h) * 1.0 / count(*), 6) AS dup_frac
FROM pos LEFT JOIN dup USING (h)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# PII scan / redact: regex patterns chosen to parse identically under
# Java regex (Spark) and RE2 (DuckDB) — no backrefs, no lookaround.
# --------------------------------------------------------------------------
PII_PATTERNS: dict[str, str] = {
    # order matters for redaction: email first (its local part can
    # contain digits a later pattern would mangle), then the fully
    # anchored numeric shapes, then the loose phone shape.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\+?\d[\d().-]{7,13}\d\b",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append one ``pii_n_<kind>`` count column per pattern plus a
    total; pure ``regexp_count`` projections, no shuffle.

    Each kind is counted on the text AFTER earlier kinds were redacted
    (the same precedence order ``pii_redact`` applies), so overlapping
    spans are attributed to exactly one kind — an SSN no longer also
    counts as a phone — and ``pii_n_total`` equals the number of spans
    redaction would actually replace."""
    out = df
    total = F.lit(0).cast("bigint")
    remaining = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_count(remaining, F.lit(pat)).cast("bigint")
        out = out.withColumn(f"pii_n_{kind}", c)
        remaining = F.regexp_replace(remaining, pat, f"[{kind.upper()}]")
        total = total + F.col(f"pii_n_{kind}")
    return out.withColumn("pii_n_total", total)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace each PII span with ``[<KIND>]`` in ``PII_PATTERNS``
    order (email before the numeric shapes so phone/ssn never clip an
    address); single projection, no shuffle."""
    redacted = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"[{kind.upper()}]")
    return df.withColumn(text_col, redacted)


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style rolling-hash selection): hash
# every char 8-gram, keep each 4-window's minimum, distinct — the
# classic robust document fingerprint. Entirely IN-ROW (higher-order
# transforms over projected columns), so the corpus scan has NO
# explode and NO shuffle until the trivial per-doc projection; at
# 100 TB this is a pure map stage. Each intermediate (norm, hash
# array) is materialized as a projection column before the lambda
# that consumes it — Catalyst does not CSE into lambda bodies, and an
# inlined norm would re-run the regex once per gram (O(len^2)).
# --------------------------------------------------------------------------
WINNOW_K = 8  # char-gram width
WINNOW_W = 4  # winnowing window (grams)


def winnow_fingerprint_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, fps array) — the selected rolling-hash minima per doc;
    the reusable core `fingerprint_winnowing` summarizes and tests
    drive with crafted docs to check the shared-region guarantee.
    NULL-text docs have no fingerprints and are excluded on both
    engines (Spark's array_distinct keeps a [NULL] entry while
    DuckDB's list_distinct drops NULLs — a latent divergence found by
    NULL-injection differential testing)."""
    from stac_geoparquet_spark.operators.text import jlower

    docs = docs.where(F.col("text").isNotNull())
    norm = docs.select(
        "doc_id",
        F.regexp_replace(jlower(F.trim(F.col("text"))), r"\s+", " ").alias(
            "norm"
        ),
    )
    hashed = norm.selectExpr(
        "doc_id",
        f"transform(sequence(1, greatest(length(norm) - {WINNOW_K - 1}, 1)),"
        f" i -> CAST(conv(substring(md5(substring(norm, i, {WINNOW_K})),"
        " 1, 15), 16, 10) AS BIGINT)) AS hs",
    )
    return hashed.selectExpr(
        "doc_id",
        f"array_distinct(transform("
        f"sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)),"
        f" i -> array_min(slice(hs, i, {WINNOW_W})))) AS fps",
    )


def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: the winnowing fingerprint-set size and its min/max
    hash (order-insensitive summary of the selected set; two docs
    sharing text regions share fingerprints by construction)."""
    fps = winnow_fingerprint_sets(read_table(spark, sf_dir, "documents"))
    return fps.selectExpr(
        "doc_id",
        "CAST(size(fps) AS BIGINT) AS n_selected",
        "array_min(fps) AS fp_min",
        "array_max(fps) AS fp_max",
    )


WINNOW_SQL = f"""
WITH n AS (
  SELECT doc_id, regexp_replace({_sql_lower(_sql_jtrim('text'))}, '{SQL_WS}+', ' ', 'g') AS norm
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(length(norm) - {WINNOW_K - 1}, 1) + 1),
           i -> ('0x' || substr(md5(substr(norm, CAST(i AS INT), {WINNOW_K})),
                                1, 15))::BIGINT
         ) AS hs
  FROM n
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
           i -> list_min(hs[CAST(i AS INT):CAST(i + {WINNOW_W - 1} AS INT)])
         )) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_selected,
       list_min(fps) AS fp_min,
       list_max(fps) AS fp_max
FROM w
"""


# --------------------------------------------------------------------------
# BPE merge-candidate counting: one round of byte-pair-encoding
# tokenizer training — count adjacent character pairs across the
# corpus weighted by word frequency, rank the top merge candidates.
# A full BPE train iterates this (merge the winner, recount); the
# distributed step worth pinning is this count, which at 100 TB runs
# over the (Heaps-law small) distinct-word table, not the corpus.
# --------------------------------------------------------------------------


def _word_freq(docs: DataFrame) -> DataFrame:
    """Corpus-weighted word-frequency table (the one corpus-size
    shuffle every BPE step rides)."""
    return (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_topk(wf: DataFrame) -> DataFrame:
    """Top-``BPE_TOP_K`` adjacent char pairs from a word-frequency
    table — the merge vocabulary shared by ``bpe_merge_candidates``
    (training view) and ``tokenize_bpe_encode`` (the encoder)."""
    # guard length >= 2: Spark's sequence(1, 0) counts DOWN ([1, 0])
    # while DuckDB's generate_series(1, 0) is empty — the CASE keeps
    # both engines on the same (empty) branch for 1-char words
    pairs = wf.selectExpr(
        "freq",
        "explode(CASE WHEN length(word) >= 2"
        " THEN transform(sequence(1, length(word) - 1),"
        "                i -> substring(word, i, 2))"
        " ELSE CAST(array() AS array<string>) END) AS pair",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP_K)
    )


@session_memo("curation.bpe_topk", "documents")
def _bpe_topk_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned top-K pair table, fenced: the corpus-wide
    word-frequency aggregate behind it is paid once for its consumers
    (bpe_merge_candidates, tokenize_bpe_encode, pack_sequences)."""
    from stac_geoparquet_spark.operators._io import fenced

    return fenced(_bpe_topk(_word_freq(read_table(spark, sf_dir, "documents"))))


def bpe_merges_vocab_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge vocabulary as ONE row holding a sorted
    ``array<string>`` over the session-cached top-K table —
    cross-join-broadcast it onto any table and the greedy encoder
    runs as a pure in-row fold (zero extra shuffles; the array is
    BPE_TOP_K elements at any corpus size)."""
    return _bpe_topk_cached(spark, sf_dir).agg(
        F.sort_array(F.collect_list("pair")).alias("merges")
    )


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent char pairs by corpus-weighted frequency: word
    frequencies aggregate first (the corpus-size shuffle), then pairs
    explode from the DISTINCT word table only — the explode factor
    applies to the vocabulary, not the corpus. Final top-K is a
    distributed TakeOrderedAndProject; the rank window touches K
    rows."""
    counts = _bpe_topk_cached(spark, sf_dir)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return counts.withColumn("rk", F.row_number().over(w).cast("bigint"))


BPE_SQL = f"""
WITH wf AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
  GROUP BY word
),
p AS (
  SELECT freq,
         unnest(CASE WHEN length(word) >= 2
           THEN list_transform(generate_series(1, length(word) - 1),
                               i -> substr(word, CAST(i AS INT), 2))
           ELSE CAST([] AS VARCHAR[]) END) AS pair
  FROM wf
),
c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair)
SELECT pair, n, rk FROM (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk FROM c
) WHERE rk <= {BPE_TOP_K}
"""


# --------------------------------------------------------------------------
# Edit-distance similarity join (AllPairs/PPJoin-style prefix filter):
# pairs of strings within Levenshtein distance ED_TAU, found WITHOUT
# the quadratic all-pairs scan the oracle runs.  Theory: order each
# string's positional q-grams by global frequency (rarest first); an
# edit destroys at most q grams, so two strings within distance tau
# must share a gram within each other's (q*tau + 1)-prefix — the
# candidate join is an equi-join on prefix grams only, then the exact
# Levenshtein verify (JVM built-in) runs on candidates.  Candidate
# completeness of this exact scheme is re-proven empirically against
# the exhaustive oracle at every gate run.  At 100 TB: the gram
# frequency table is bounded by charset^q (broadcast), the prefix join
# is keyed, and nothing is quadratic in the table size — the entity-
# resolution join shape (ICDE'22 compressed-index string joins are the
# modern descendants).  Strings shorter than ED_MIN_LEN carry too few
# grams for the bound and are excluded by contract on both engines.
# --------------------------------------------------------------------------
ED_Q = 3  # q-gram width
ED_TAU = 1  # Levenshtein radius
ED_MIN_LEN = 6  # >= q + q*tau: the prefix bound needs this many chars


def _ed_name_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT resolvable name domain (k = min part key as the
    canonical representative, s = name): ER operates on the string
    domain, and a catalog with heavily repeated names would otherwise
    make the pair space quadratic in TABLE size instead of vocabulary
    size (measured: 57 s at sf0.1 on raw rows vs sub-second on the
    64-name distinct domain).  ASCII-only by contract: Spark's
    levenshtein counts CODEPOINTS while DuckDB's counts BYTES
    (levenshtein('日本','日本語') = 1 vs 3 — cross-engine fuzz
    finding), so cross-engine edit distance is only well-defined
    where byte == codepoint.

    r10: FENCED — vocabulary-bounded (the whole point of the distinct
    domain), and every consumer reads it several times (the gram
    explode + freq + both prefix self-join sides + the two name-attach
    joins re-planned the part scan + distinct aggregate ~6x each per
    query; guide §2.4)."""
    from stac_geoparquet_spark.operators._io import fenced

    return fenced(
        read_table(spark, sf_dir, "part")
        .where(
            (F.length("p_name") >= ED_MIN_LEN)
            & F.col("p_name").rlike("^[\\x00-\\x7f]*$")
        )
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("k"))
        .select("k", F.col("p_name").alias("s"))
    )


def _ed_candidate_pairs(p: DataFrame) -> DataFrame:
    """AllPairs-style q-gram prefix-filter candidates (ka < kb) over
    the name domain ``p`` — lossless for edit distance <= ED_TAU (a
    pair escaping all ED_Q*ED_TAU+1 rarest grams would need more than
    ED_TAU edits), re-proven against the exhaustive oracle at every
    gate run."""
    g = p.select(
        "k",
        F.expr(
            f"explode(transform(sequence(1, length(s) - {ED_Q - 1}),"
            f" i -> struct(i AS pos, substring(s, i, {ED_Q}) AS gr)))"
        ).alias("t"),
    ).select("k", F.col("t.pos").alias("pos"), F.col("t.gr").alias("gr"))
    # global gram frequencies: bounded by charset^q, always broadcast
    freq = g.groupBy("gr").agg(F.count(F.lit(1)).alias("f"))
    ranked = g.join(F.broadcast(freq), "gr").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("k").orderBy("f", "gr", "pos")
        ),
    )
    prefix = (
        ranked.where(F.col("rn") <= ED_Q * ED_TAU + 1)
        .select("k", "gr")
        .distinct()
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "gr")
        .where(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("ka"), F.col("b.k").alias("kb"))
        .distinct()
    )


def edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _ed_name_domain(spark, sf_dir)
    cand = _ed_candidate_pairs(p)
    named = (
        cand.join(p.select(F.col("k").alias("ka"), F.col("s").alias("sa")), "ka")
        .join(p.select(F.col("k").alias("kb"), F.col("s").alias("sb")), "kb")
    )
    return (
        named.withColumn("dist", F.levenshtein("sa", "sb").cast("bigint"))
        .where(F.col("dist") <= ED_TAU)
        .select(
            F.col("ka").alias("a_key"), F.col("kb").alias("b_key"), "dist"
        )
    )


# exhaustive formulation: ANY pair the prefix filter misses is a
# driver hash-FAIL, so candidate completeness is re-proven on the
# actual data at every gate run
ED_JOIN_SQL = f"""
WITH p AS (
  SELECT p_name AS s, min(p_partkey) AS k FROM part
  WHERE length(p_name) >= {ED_MIN_LEN}
    AND regexp_matches(p_name, '^[\\x00-\\x7f]*$')
  GROUP BY p_name
)
SELECT a.k AS a_key, b.k AS b_key,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM p a JOIN p b ON a.k < b.k
WHERE levenshtein(a.s, b.s) <= {ED_TAU}
"""


# --------------------------------------------------------------------------
# Blocking-quality report (round 9): the standard ER blocking eval —
# reduction ratio (how much of the quadratic pair space the q-gram
# prefix filter prunes) and pairs completeness (what fraction of TRUE
# matches the candidate set retains; 1.0 here because the prefix bound
# is lossless for dist <= ED_TAU, and this op PROVES it on the data
# each run rather than assuming the theorem).  The truth side needs an
# exhaustive comparison, which is only sane on the DISTINCT-name
# domain (vocabulary/Heaps-bounded, the eval-op convention shared with
# dedup_minhash_precision); the pair space is further cut by a
# LOSSLESS length-bucket equi-join — |len(a)-len(b)| <= ED_TAU is
# necessary for dist <= ED_TAU, so each name joins only the 2*TAU+1
# neighboring length classes, never a CartesianProduct.
# --------------------------------------------------------------------------
def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _ed_name_domain(spark, sf_dir)
    cand = _ed_candidate_pairs(p)
    ents = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
    ncand = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    # lossless length-keyed truth join: a explodes to its admissible
    # partner lengths, b joins on its exact length
    al = p.select(
        F.col("k").alias("ka"),
        F.col("s").alias("sa"),
        F.explode(
            F.expr(
                f"sequence(length(s) - {ED_TAU}, length(s) + {ED_TAU})"
            )
        ).alias("lb"),
    )
    bl = p.select(
        F.col("k").alias("kb"),
        F.col("s").alias("sb"),
        F.length("s").alias("lb"),
    )
    truth = (
        al.join(bl, "lb")
        .where(F.col("ka") < F.col("kb"))
        .where(F.levenshtein("sa", "sb") <= ED_TAU)
        .select("ka", "kb")
    )
    nm = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
    nmb = truth.join(cand, ["ka", "kb"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches_blocked")
    )
    return (
        ents.crossJoin(F.broadcast(ncand))
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nmb))
        .selectExpr(
            "n_entities",
            "(n_entities * (n_entities - 1)) div 2 AS n_total_pairs",
            "n_candidates",
            "n_matches",
            "n_matches_blocked",
            """round(1.0 - CAST(n_candidates AS DOUBLE)
               / nullif(CAST((n_entities * (n_entities - 1)) div 2
                             AS DOUBLE), 0.0), 6) AS reduction_ratio""",
            """round(CAST(n_matches_blocked AS DOUBLE)
               / nullif(CAST(n_matches AS DOUBLE), 0.0), 6)
               AS pairs_completeness""",
        )
    )


def _blocking_quality_oracle_sql() -> str:
    return f"""
WITH p AS (
  SELECT p_name AS s, min(p_partkey) AS k FROM part
  WHERE length(p_name) >= {ED_MIN_LEN}
    AND regexp_matches(p_name, '^[\\x00-\\x7f]*$')
  GROUP BY p_name
),
g AS (
  SELECT k, unnest(list_transform(generate_series(1, length(s) - {ED_Q - 1}),
                   i -> {{'pos': i, 'gr': substr(s, CAST(i AS INT), {ED_Q})}}))
           AS t
  FROM p
),
g2 AS (SELECT k, t.pos AS pos, t.gr AS gr FROM g),
freq AS (SELECT gr, count(*) AS f FROM g2 GROUP BY gr),
ranked AS (
  SELECT k, gr,
         row_number() OVER (PARTITION BY k ORDER BY f, gr, pos) AS rn
  FROM g2 JOIN freq USING (gr)
),
prefix AS (SELECT DISTINCT k, gr FROM ranked WHERE rn <= {ED_Q * ED_TAU + 1}),
cand AS (
  SELECT DISTINCT a.k AS ka, b.k AS kb
  FROM prefix a JOIN prefix b ON a.gr = b.gr AND a.k < b.k
),
truth AS (
  SELECT a.k AS ka, b.k AS kb
  FROM p a JOIN p b
    ON a.k < b.k AND abs(length(a.s) - length(b.s)) <= {ED_TAU}
  WHERE levenshtein(a.s, b.s) <= {ED_TAU}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_entities FROM p),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matches FROM truth),
nmb AS (SELECT CAST(count(*) AS BIGINT) AS n_matches_blocked
        FROM truth JOIN cand USING (ka, kb))
SELECT n_entities,
       (n_entities * (n_entities - 1)) // 2 AS n_total_pairs,
       n_candidates,
       n_matches,
       n_matches_blocked,
       round(1.0 - CAST(n_candidates AS DOUBLE)
             / nullif(CAST((n_entities * (n_entities - 1)) // 2
                           AS DOUBLE), 0.0), 6) AS reduction_ratio,
       round(CAST(n_matches_blocked AS DOUBLE)
             / nullif(CAST(n_matches AS DOUBLE), 0.0), 6)
         AS pairs_completeness
FROM tot, nc, nm, nmb
"""


# --------------------------------------------------------------------------
# entity resolution: connected components over the edit-distance pair
# graph — the step after candidate matching in every ER pipeline (group
# name variants under one canonical key).  Nodes are DISTINCT name
# representatives (edit_distance_join's domain), composed with the SAME
# fixpoint label propagation the MinHash dedup clustering uses
# (dedup._min_label_propagate: convergence-checked, so correctness is
# diameter-independent); cluster id = min member key.
# --------------------------------------------------------------------------
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.dedup import _min_label_propagate

    pairs = edit_distance_join(spark, sf_dir).select(
        F.col("a_key").alias("doc_a"), F.col("b_key").alias("doc_b")
    )
    labels = _min_label_propagate(pairs)
    w = Window.partitionBy("label")
    return labels.select(
        F.col("doc_id").alias("p_partkey"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_members"),
    )


def _er_parts_oracle_sql() -> str:
    return f"""
WITH RECURSIVE ed AS ({ED_JOIN_SQL.strip()}),
edges AS (
  SELECT a_key AS s, b_key AS d FROM ed
  UNION ALL
  SELECT b_key, a_key FROM ed
),
walk(k, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.k
),
lab AS (SELECT k AS p_partkey, min(label) AS cluster_id FROM walk GROUP BY k)
SELECT p_partkey, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM lab
"""


# --------------------------------------------------------------------------
# Cross-doc duplicated-span REMOVAL (the Lee et al. 2022 ExactSubstr
# class, round-3 verdict stretch item): dedup_substring_spans MARKS
# duplicated spans; this operator actually removes them and rebuilds
# the cleaned text.  Deterministic, exactly-SQL-checkable contract:
# each doc splits into non-overlapping TILE_K-char tiles; a tile whose
# content appears in more than one doc survives ONLY in the
# lowest-doc_id holder (the canonical occurrence — every occurrence in
# that doc survives, cross-doc removal only); the kept tiles re-concat
# in order into the cleaned text, reported as (kept_len, md5) so the
# output stays scalar while proving the reconstruction byte-for-byte.
#
# Scale shape: explode -> ONE hash-partitioned window over the tile
# hash (key cardinality grows with the corpus — sweep-safe) -> one
# doc-keyed rollup, BOTH moving only (doc_id, tile_idx, h) — tile text
# never shuffles; the cleaned text is rebuilt in-row from each doc's
# kept-index array joined back to the documents scan (plan-pinned: the
# h exchange input is slim).  No pairwise candidate join anywhere:
# duplicate discovery is hash grouping, so the plan is linear in
# corpus size where a match-pairs formulation would be quadratic in
# hot spans (plan-pinned: one doc_id equi-join, no cartesian).  A hot
# boilerplate tile still lands its hash group on one reducer — the
# same bound the decontaminate gram window carries, and the window's
# sort over a constant-key run is effectively linear; rows there are
# 3 slim ints wide.  The grid is coarser than a
# suffix-array ExactSubstr pass (only tile-aligned duplicates are
# removed) — that is the documented contract; unaligned near-dup spans
# are DETECTED by fingerprint_winnowing / dedup_substring_spans and
# handled at doc granularity by the minhash family.
# --------------------------------------------------------------------------
TILE_K = SPAN_K  # 40-char tiles, same width the span marker uses


def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-by-id (_canon.py): tile ownership ("lowest doc_id
    # holder keeps the duplicated tile") is keyed on doc_id, so a
    # re-ingested duplicate id must resolve to one text first
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    # length > 0 guarantees >= 1 tile, so the sequence is never
    # degenerate (Spark's sequence(1, 0) counts DOWN — see the verify
    # gotchas); the last tile may be short, which substring handles on
    # both engines
    n_tiles = F.ceil(F.length("text") / F.lit(float(TILE_K))).cast("bigint")
    # Tile TEXT never shuffles: the marking pipeline carries only
    # (doc_id, tile_idx, h) through the hash window and the per-doc
    # rollup (hashes are 1/2.5 the bytes of a 40-char tile, and at
    # scale the text column dominates shuffle IO); the cleaned text is
    # rebuilt IN-ROW after joining each doc's sorted kept-index array
    # back to the documents scan on doc_id — re-reading text from
    # Parquet (columnar, pushdown) is cheaper than moving it through
    # two shuffles.
    hashes = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_tiles)).alias("tile_idx"),
        "text",
    ).select(
        "doc_id",
        "tile_idx",
        F.md5(
            F.expr(
                f"substring(text, CAST((tile_idx - 1) * {TILE_K} + 1 AS INT),"
                f" {TILE_K})"
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h")
    flagged = (
        hashes.withColumn("canon", F.min("doc_id").over(w))
        .withColumn("xdup", F.min("doc_id").over(w) != F.max("doc_id").over(w))
        .withColumn(
            "keep", ~(F.col("xdup") & (F.col("doc_id") != F.col("canon")))
        )
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum((~F.col("keep")).cast("bigint")).alias("n_removed"),
        # collect_list skips NULL non-kept entries; sorted ints only
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.col("tile_idx")))
        ).alias("kept_idxs"),
    )
    cleaned = F.concat_ws(
        "",
        F.transform(
            F.col("kept_idxs"),
            lambda i: F.expr("text").substr(
                ((i - 1) * TILE_K + 1).cast("int"), F.lit(TILE_K)
            ),
        ),
    )
    return docs.join(per_doc, "doc_id").select(
        "doc_id",
        "n_tiles",
        "n_removed",
        F.length(cleaned).cast("bigint").alias("kept_len"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


SUBSTR_REMOVAL_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM {_DOCS_CANON_SQL} documents
  WHERE text IS NOT NULL AND length(text) > 0
),
tiles AS (
  SELECT doc_id, i AS tile_idx,
         substring(text, CAST((i - 1) * {TILE_K} + 1 AS INT), {TILE_K}) AS tile
  FROM base,
       unnest(range(1, CAST(ceil(length(text) * 1.0 / {TILE_K}) AS BIGINT)
                       + 1)) AS t(i)
),
h AS (SELECT doc_id, tile_idx, tile, md5(tile) AS hh FROM tiles),
marks AS (
  SELECT hh, min(doc_id) AS canon, min(doc_id) <> max(doc_id) AS xdup
  FROM h GROUP BY hh
),
flagged AS (
  SELECT doc_id, tile_idx, tile,
         NOT (xdup AND doc_id <> canon) AS keep
  FROM h JOIN marks USING (hh)
)
SELECT doc_id,
       count(*) AS n_tiles,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(coalesce(length(string_agg(CASE WHEN keep THEN tile END, ''
                                       ORDER BY tile_idx)), 0) AS BIGINT)
         AS kept_len,
       md5(coalesce(string_agg(CASE WHEN keep THEN tile END, ''
                               ORDER BY tile_idx), '')) AS cleaned_md5
FROM flagged
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# PII scrub — the ORACLE-GATED entry point over THE shared PII surface
# (PII_PATTERNS + the pii_scan / pii_redact cascade above; one pattern
# table, one precedence order, never two).  Per document: one count
# per kind under cascade attribution (each kind counted on the text
# AFTER earlier kinds were redacted, so a span belongs to exactly one
# kind), the total, and the redacted text as an md5 fingerprint (the
# full body would bloat the result; fingerprint equality IS output
# equality).  NULL text is excluded — nothing to scrub.
#
# Engine contract: PII_PATTERNS parse identically under Java regex and
# RE2 (header note above); DuckDB regexp_replace needs the 'g' flag to
# match Spark's replace-all, and its single-quoted literals pass
# backslashes through verbatim (no doubling).
#
# Scale shape: pure in-row regex projections over the corpus scan —
# zero shuffle, zero Python; exactly the map stage a 100-TB scrub
# wants (plan-pinned).
# --------------------------------------------------------------------------
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    scanned = pii_redact(pii_scan(docs))
    return scanned.select(
        "doc_id",
        *[f"pii_n_{kind}" for kind in PII_PATTERNS],
        "pii_n_total",
        F.md5(F.col("text")).alias("redacted_fp"),
    )


def _pii_scrub_oracle_sql() -> str:
    """Cascade CTE chain mirroring pii_scan/pii_redact: stage i counts
    kind i on the text with kinds < i already redacted, then redacts
    kind i for stage i+1."""
    ctes = ["s0 AS (SELECT doc_id, text AS t0 FROM documents"
            " WHERE text IS NOT NULL)"]
    prev = "t0"
    for i, (kind, pat) in enumerate(PII_PATTERNS.items(), start=1):
        lit = pat.replace("'", "''")
        ctes.append(
            f"s{i} AS (SELECT *,"
            f" CAST(len(regexp_extract_all({prev}, '{lit}')) AS BIGINT)"
            f" AS pii_n_{kind},"
            f" regexp_replace({prev}, '{lit}', '[{kind.upper()}]', 'g')"
            f" AS t{i} FROM s{i - 1})"
        )
        prev = f"t{i}"
    total = " + ".join(f"pii_n_{kind}" for kind in PII_PATTERNS)
    cols = ", ".join(f"pii_n_{kind}" for kind in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {cols}, {total} AS pii_n_total,"
        f" md5({prev}) AS redacted_fp FROM s{len(PII_PATTERNS)}"
    )


PII_SCRUB_SQL = _pii_scrub_oracle_sql()


# --------------------------------------------------------------------------
# Line-level exact dedup across documents (the CCNet pass, round-5
# verdict task #7): a LINE whose exact content appears in >=
# LINE_DUP_T distinct documents is boilerplate (nav menus, cookie
# banners, license headers) and is dropped from EVERY document — no
# owner keeps it, unlike the tile grid above, where the lowest-id
# holder keeps a duplicated span.  That is the CCNet/RefinedWeb
# boilerplate rule: content shared by "many" documents is template,
# not information.  Lines are '\n'-split segments (this synthetic
# corpus is single-line per doc, so the clean-corpus gate exercises
# the n_docs=1 path; the multi-line logic is pinned by the
# differential fixtures in tests/test_new_ops_invariants.py and the
# all-dup sweep axis, where every line crosses the threshold).
#
# Scale shape: the line TEXT never shuffles — each instance reduces
# in-row to (doc_id, md5, length); the distinct-doc count is a keyed
# aggregate on the md5 (cardinality grows with the corpus —
# sweep-legal), joined back on the same key (AQE picks the strategy),
# then one doc_id rollup.  All outputs are exact integers: no float
# margins anywhere.  A viral boilerplate line lands its hash group on
# one reducer with slim 3-int rows — the same bounded hot-key shape
# as the tile grid's h window.
# --------------------------------------------------------------------------
LINE_DUP_T = 3


def dedup_lines_across_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-by-id (_canon.py): the distinct-doc count is keyed on
    # doc_id, so a re-ingested duplicate id must collapse to one text
    # first or its own lines double-count toward the threshold
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).where(F.col("text").isNotNull())
    lines = docs.select(
        "doc_id", F.explode(F.split("text", "\n", -1)).alias("line")
    ).select("doc_id", F.md5("line").alias("lh"), F.length("line").alias("ln"))
    stats = lines.groupBy("lh").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = lines.join(stats, "lh").withColumn(
        "keep", F.col("n_docs") < F.lit(LINE_DUP_T)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("ln")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_chars"),
    )


LINE_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM {_DOCS_CANON_SQL} documents
  WHERE text IS NOT NULL
),
lines AS (
  SELECT doc_id, md5(line) AS lh, length(line) AS ln
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base)
),
stats AS (SELECT lh, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY lh)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN n_docs < {LINE_DUP_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN n_docs < {LINE_DUP_T} THEN ln ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM lines JOIN stats USING (lh)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Greedy BPE/WordPiece-style subword ENCODE over the corpus-learned
# merge vocabulary (round 8): the packing/budget/fertility family
# counted whitespace tokens; this op closes the loop by actually
# tokenizing with the merges bpe_merge_candidates learns — longest-
# match-first over vocab = {all single chars} ∪ {top-K merged pairs},
# reporting per-source subword fertility (subword tokens per word)
# and chars-per-token compression.
#
# Scale shape (Heaps' law is the whole trick): the encoder fold runs
# over the DISTINCT word table only — vocabulary-scaled, not corpus-
# scaled — as one in-row `aggregate()` higher-order fold (JVM
# expression, no Python, no shuffle) with the K-element merge array
# cross-join-broadcast as one row.  Per-(source, word) frequencies
# then weight the word-level token counts back to corpus totals via a
# vocab-keyed equi-join + bounded groupBy(source).  At 100 TB the
# corpus touches two keyed shuffles (the (source, word) count and the
# word join); the sequential-scan part of tokenization never sees a
# document twice.
#
# Cross-engine exactness: the fold state is (pos, toks) integers; the
# DuckDB oracle replays the identical greedy scan as a recursive CTE
# over the same distinct-word table, and the merge list is the same
# deterministically tie-broken (n DESC, pair) top-K on both engines.
# Empty words are excluded on BOTH sides: `_words('')` yields [''],
# and the engines disagree on folding an empty scan (Spark's
# sequence(1,0) counts DOWN while the CTE recursion never starts) —
# the same sequence(1,0) divergence class bpe_merge_candidates pins.
# --------------------------------------------------------------------------
def bpe_fold_expr(col: str) -> str:
    """The greedy longest-match encoder as one Spark SQL fold over the
    characters of ``col``, counting emitted tokens; expects the
    broadcast ``merges`` array column in scope.  Caller must guard
    length 0 (Spark's sequence(1, 0) counts DOWN)."""
    return f"""aggregate(
  sequence(1, length({col})),
  named_struct('p', 1, 't', CAST(0 AS BIGINT)),
  (acc, i) -> IF(i <> acc.p, acc, named_struct(
      'p', acc.p + IF(array_contains(merges, substring({col}, acc.p, 2)),
                      2, 1),
      't', acc.t + CAST(1 AS BIGINT))),
  acc -> acc.t)"""


_BPE_FOLD = bpe_fold_expr("word")


def tokenize_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf_src = (
        docs.where(F.col("source").isNotNull())
        .select("source", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # r10: the fold runs directly on the (source, word) frequency rows.
    # The previous words.distinct() + equi-join re-planned the whole
    # corpus explode + (source, word) aggregate into the join's other
    # side (Catalyst does not CSE aggregate subtrees) — two corpus
    # passes and two extra exchanges for a fold whose per-word result
    # is identical on every (source, word) copy.  Folding per pair
    # costs |sources| more fold evaluations over the vocab-scaled pair
    # table; the deleted second corpus pass is corpus-scaled.
    agg = (
        wf_src.crossJoin(
            F.broadcast(bpe_merges_vocab_cached(spark, sf_dir))
        )
        .select(
            "source", "word", "freq", F.expr(_BPE_FOLD).alias("toks")
        )
        .groupBy("source")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.length("word")).alias("n_chars"),
            F.sum(F.col("freq") * F.col("toks")).alias("n_bpe_tokens"),
        )
    )
    return agg.selectExpr(
        "source",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        "round(CAST(n_bpe_tokens AS DOUBLE)"
        " / nullif(CAST(n_words AS DOUBLE), 0.0), 6) AS fertility",
        "round(CAST(n_chars AS DOUBLE)"
        " / nullif(CAST(n_bpe_tokens AS DOUBLE), 0.0), 6)"
        " AS chars_per_token",
    )


TOKENIZE_BPE_SQL = f"""
WITH RECURSIVE wf_src AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest({_sql_words()}) AS word FROM documents
        WHERE source IS NOT NULL) t
  WHERE word <> ''
  GROUP BY source, word
),
{bpe_token_ctes("wf_src")}
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(sum(freq * length(word)) AS BIGINT) AS n_chars,
       CAST(sum(freq * toks) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(freq * toks) AS DOUBLE)
             / nullif(CAST(sum(freq) AS DOUBLE), 0.0), 6) AS fertility,
       round(CAST(sum(freq * length(word)) AS DOUBLE)
             / nullif(CAST(sum(freq * toks) AS DOUBLE), 0.0), 6)
         AS chars_per_token
FROM wf_src JOIN tok USING (word)
GROUP BY source
"""


# --------------------------------------------------------------------------
# tokenize_bpe_roundtrip: the tokenizer-integrity audit the r08
# verdict asked for (task #3) — encode every distinct word with the
# learned merges, DECODE by concatenating the emitted tokens back, and
# assert encode∘decode is the identity, reporting the per-source
# round-trip rate plus the char-fallback share (fraction of emitted
# tokens that are single-char fallbacks rather than learned merges —
# the analogue of a byte-fallback rate for this char-level vocab,
# where every single char is in-vocab by construction so true OOV is
# structurally zero and the interesting integrity number is how much
# of the stream the merges actually cover).
#
# Scale shape: identical to tokenize_bpe_encode — the fold (now
# carrying (pos, toks, merged, decoded) state) runs over the DISTINCT
# word table only (Heaps-scaled) with the ONE-row broadcast merge
# vocab; per-(source, word) frequencies weight word-level results back
# to corpus totals via the vocab-keyed equi-join.  The oracle replays
# the identical greedy scan as a recursive CTE that rebuilds the
# decoded string (text.bpe_roundtrip_ctes).
# --------------------------------------------------------------------------
_BPE_RT_HIT = "array_contains(merges, substring(word, acc.p, 2))"
_BPE_RT_FOLD = f"""aggregate(
  sequence(1, length(word)),
  named_struct('p', 1, 't', CAST(0 AS BIGINT), 'mg', CAST(0 AS BIGINT),
               'dec', ''),
  (acc, i) -> IF(i <> acc.p, acc, named_struct(
      'p', acc.p + IF({_BPE_RT_HIT}, 2, 1),
      't', acc.t + CAST(1 AS BIGINT),
      'mg', acc.mg + IF({_BPE_RT_HIT}, CAST(1 AS BIGINT),
                        CAST(0 AS BIGINT)),
      'dec', concat(acc.dec,
                    substring(word, acc.p, IF({_BPE_RT_HIT}, 2, 1))))),
  acc -> named_struct('toks', acc.t, 'merged', acc.mg,
                      'ok', acc.dec = word))"""


def tokenize_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf_src = (
        docs.where(F.col("source").isNotNull())
        .select("source", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # r10: fold directly on the (source, word) rows — same single-pass
    # restructure as tokenize_bpe_encode (the distinct + join shape
    # re-computed the corpus explode + pair aggregate twice)
    agg = (
        wf_src.crossJoin(
            F.broadcast(bpe_merges_vocab_cached(spark, sf_dir))
        )
        .select("source", "word", "freq", F.expr(_BPE_RT_FOLD).alias("r"))
        .groupBy("source")
        .agg(
            F.sum("freq").alias("n_words"),
            F.count_distinct("word").alias("n_distinct_words"),
            F.sum(F.when(F.col("r.ok"), F.col("freq")).otherwise(0))
            .cast("bigint")
            .alias("n_roundtrip_ok"),
            F.sum(F.col("freq") * F.col("r.toks")).alias("n_tokens"),
            F.sum(F.col("freq") * F.col("r.merged")).alias("n_merged"),
        )
    )
    return agg.selectExpr(
        "source",
        "n_words",
        "n_distinct_words",
        "n_roundtrip_ok",
        "round(CAST(n_roundtrip_ok AS DOUBLE)"
        " / nullif(CAST(n_words AS DOUBLE), 0.0), 6) AS roundtrip_rate",
        "round(CAST(n_tokens - n_merged AS DOUBLE)"
        " / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6)"
        " AS char_fallback_share",
    )


BPE_ROUNDTRIP_SQL = f"""
WITH RECURSIVE wf_src AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest({_sql_words()}) AS word FROM documents
        WHERE source IS NOT NULL) t
  WHERE word <> ''
  GROUP BY source, word
),
{bpe_roundtrip_ctes("wf_src")}
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words,
       CAST(coalesce(sum(CASE WHEN ok THEN freq END), 0) AS BIGINT)
         AS n_roundtrip_ok,
       round(CAST(coalesce(sum(CASE WHEN ok THEN freq END), 0) AS DOUBLE)
             / nullif(CAST(sum(freq) AS DOUBLE), 0.0), 6)
         AS roundtrip_rate,
       round(CAST(sum(freq * toks) - sum(freq * merged) AS DOUBLE)
             / nullif(CAST(sum(freq * toks) AS DOUBLE), 0.0), 6)
         AS char_fallback_share
FROM wf_src JOIN tok USING (word)
GROUP BY source
"""


# --------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer eval (round 10): Viterbi
# segmentation over a corpus-learned unigram piece vocabulary, scored
# per source NEXT TO the greedy BPE encoder — the compare-two-
# tokenizer-algorithms readout a pipeline reads before committing to
# one (fertility difference per source is the decision number).
#
# Vocabulary: all corpus characters plus the UNI_TOP_K most frequent
# 2..UNI_MAX_PIECE-char grams (corpus-weighted over the distinct-word
# table, ties by gram text — the _bpe_topk convention).  Each entry
# carries a HALF-BIT integer cost, round(-2·log2(cnt/total_chars)) —
# all libm is confined to ONE rounding per bounded vocab entry, after
# which the whole corpus-scale DP is INTEGER arithmetic (the
# Mann-Whitney half-unit trick): cross-engine equality is structural,
# not a noise-margin argument.
#
# Viterbi: dp over char positions with pieces up to UNI_MAX_PIECE
# long; state per prefix is one ENCODED int key = cost_half * 1024 +
# n_tokens, so the integer min() is the lexicographic (cost, tokens)
# tie-break — adding a piece is key += cost*1024 + 1, linear in the
# encoding.  Tokens per word <= UNI_MAX_WORD < 1024 keeps the
# encoding injective; longer words (junk at this vocab size) are
# excluded IDENTICALLY on both engines.  Missing-piece lookups use a
# coalesce(…, 2^50) sentinel rather than engine NULL-in-least rules.
#
# Scale shape (the tokenize_bpe_encode argument): the DP folds over
# the DISTINCT word table (Heaps-bounded) as one in-row JVM
# `aggregate` with the vocab MAP cross-join-broadcast as one row;
# per-(source, word) frequencies weight word-level results back to
# corpus totals via a vocab-keyed join.  The BPE comparison rides the
# session-cached merge vocabulary — no extra corpus pass.  Oracle:
# the same DP as a recursive CTE carrying the dp list per word.
# --------------------------------------------------------------------------
UNI_TOP_K = 24
UNI_MAX_PIECE = 4
UNI_MAX_WORD = 256
UNI_BIG = 1 << 50

_UNI_COST = (
    "CAST(round(-2.0 * ln(CAST(cnt AS DOUBLE) / CAST(tc AS DOUBLE))"
    " / ln(2.0)) AS BIGINT)"
)


def _uni_vocab(wf: DataFrame) -> DataFrame:
    """(gram, cost_half) over a word-frequency table: every char plus
    the top-K 2..4-grams, half-bit integer costs."""
    grams = None
    for n in range(1, UNI_MAX_PIECE + 1):
        g = wf.selectExpr(
            f"""explode(CASE WHEN length(word) >= {n}
                 THEN transform(sequence(1, length(word) - {n - 1}),
                                i -> substring(word, i, {n}))
                 ELSE CAST(array() AS array<string>) END) AS gram""",
            "freq",
        )
        grams = g if grams is None else grams.unionByName(g)
    counts = grams.groupBy("gram").agg(F.sum("freq").alias("cnt"))
    chars = counts.where(F.length("gram") == 1)
    pieces = (
        counts.where(F.length("gram") >= 2)
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(UNI_TOP_K)
    )
    tc = chars.agg(F.sum("cnt").alias("tc"))
    return (
        chars.unionByName(pieces)
        .crossJoin(F.broadcast(tc))
        .selectExpr("gram", f"{_UNI_COST} AS cost_half")
    )


@session_memo("curation.uni_vocab", "documents")
def _uni_vocab_map_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE row holding the vocab as a map<string,bigint> — fenced +
    session-cached (the bpe_merges_vocab_cached pattern).  Only
    tokenize_unigram_eval reads it; the memo serves that query's
    repeats within a session, which rebuild the vocab aggregate in
    full without it."""
    from stac_geoparquet_spark.operators._io import fenced

    wf = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(_words(F.col("text"))).alias("word"))
        .where(
            (F.col("word") != "")
            & (F.length("word") <= UNI_MAX_WORD)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return fenced(
        _uni_vocab(wf).agg(
            F.map_from_entries(
                F.collect_list(F.struct("gram", "cost_half"))
            ).alias("vmap")
        )
    )


def _uni_cands() -> str:
    cands = []
    for j in range(1, UNI_MAX_PIECE + 1):
        base = (
            f"element_at(dp, i - {j - 1})"
            f" + try_element_at(vmap, substring(word, i - {j - 1}, {j}))"
            f" * 1024 + 1"
        )
        if j == 1:
            cands.append(f"coalesce({base}, {UNI_BIG})")
        else:
            cands.append(
                f"coalesce(IF(i >= {j}, {base}, NULL), {UNI_BIG})"
            )
    return ",\n    ".join(cands)


_UNI_FOLD = f"""aggregate(
  sequence(1, length(word)),
  array(CAST(0 AS BIGINT)),
  (dp, i) -> array_append(dp, least(
    {_uni_cands()}
  )),
  dp -> element_at(dp, -1))"""


def tokenize_unigram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf_src = (
        docs.where(F.col("source").isNotNull())
        .select("source", F.explode(_words(F.col("text"))).alias("word"))
        .where(
            (F.col("word") != "")
            & (F.length("word") <= UNI_MAX_WORD)
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # r10: both folds run directly on the (source, word) rows — the
    # words.distinct() + equi-join shape re-computed the corpus explode
    # + pair aggregate on both sides of the join (no aggregate CSE);
    # per-pair folding is |sources|-bounded extra vocab-scaled work for
    # one fewer corpus pass and two fewer exchanges.
    agg = (
        wf_src.crossJoin(
            F.broadcast(_uni_vocab_map_cached(spark, sf_dir))
        )
        .crossJoin(F.broadcast(bpe_merges_vocab_cached(spark, sf_dir)))
        .selectExpr(
            "source",
            "word",
            "freq",
            f"({_UNI_FOLD}) AS ukey",
            f"{_BPE_FOLD} AS bpe_toks",
        )
        .selectExpr(
            "source",
            "word",
            "freq",
            "ukey % 1024 AS uni_toks",
            "ukey div 1024 AS uni_cost_half",
            "bpe_toks",
        )
        .groupBy("source")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.length("word")).alias("n_chars"),
            F.sum(F.col("freq") * F.col("uni_toks")).alias("n_uni_tokens"),
            F.sum(F.col("freq") * F.col("bpe_toks")).alias("n_bpe_tokens"),
            F.sum(F.col("freq") * F.col("uni_cost_half")).alias(
                "cost_half_sum"
            ),
        )
    )
    return agg.selectExpr(
        "source",
        "n_words",
        "n_chars",
        "n_uni_tokens",
        "n_bpe_tokens",
        "round(CAST(n_uni_tokens AS DOUBLE)"
        " / nullif(CAST(n_words AS DOUBLE), 0.0), 6) AS uni_fertility",
        "round(CAST(n_bpe_tokens AS DOUBLE)"
        " / nullif(CAST(n_words AS DOUBLE), 0.0), 6) AS bpe_fertility",
        # mean half-bits per unigram token: the LM's own compression
        # readout (lower = the vocab models the corpus better)
        "round(CAST(cost_half_sum AS DOUBLE) / 2.0"
        " / nullif(CAST(n_uni_tokens AS DOUBLE), 0.0), 6)"
        " AS bits_per_token",
    )


def _uni_vocab_ctes() -> str:
    """Oracle CTEs: uwf(word, freq) -> uvm(m) one-row vocab map."""
    gram_selects = "\n  UNION ALL\n  ".join(
        f"""SELECT unnest(CASE WHEN length(word) >= {n}
           THEN list_transform(generate_series(1, length(word) - {n - 1}),
                               i -> substr(word, CAST(i AS INT), {n}))
           ELSE CAST([] AS VARCHAR[]) END) AS gram, freq
  FROM uwf"""
        for n in range(1, UNI_MAX_PIECE + 1)
    )
    return f"""ug AS (
  {gram_selects}
),
uc AS (SELECT gram, CAST(sum(freq) AS BIGINT) AS cnt FROM ug GROUP BY gram),
uchars AS (SELECT gram, cnt FROM uc WHERE length(gram) = 1),
upieces AS (
  SELECT gram, cnt FROM (
    SELECT gram, cnt, row_number() OVER (ORDER BY cnt DESC, gram) AS rk
    FROM uc WHERE length(gram) >= 2
  ) t WHERE rk <= {UNI_TOP_K}
),
utc AS (SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM uchars),
uv AS (
  SELECT gram, {_UNI_COST} AS cost_half
  FROM (SELECT * FROM uchars UNION ALL SELECT * FROM upieces) v
  CROSS JOIN utc
),
uvm AS (SELECT map(list(gram), list(cost_half)) AS m FROM uv)"""


def _uni_dp_ctes() -> str:
    """Recursive Viterbi DP over the distinct words of ``uwf_src`` —
    produces ``utok(word, uni_toks, uni_cost_half)``."""
    cands = []
    for j in range(1, UNI_MAX_PIECE + 1):
        base = (
            f"st.dp[st.i + {2 - j}]"
            f" + map_extract(uvm.m, substr(st.word, st.i + {2 - j}, {j}))[1]"
            f" * 1024 + 1"
        )
        if j == 1:
            cands.append(f"coalesce({base}, {UNI_BIG})")
        else:
            cands.append(
                f"coalesce(CASE WHEN st.i + 1 >= {j} THEN {base} END,"
                f" {UNI_BIG})"
            )
    least = ",\n           ".join(cands)
    return f"""ubw AS (SELECT DISTINCT word FROM uwf_src),
ust AS (
  SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS dp FROM ubw
  UNION ALL
  SELECT st.word, st.i + 1,
         list_append(st.dp, least(
           {least}))
  FROM ust st, uvm WHERE st.i < length(st.word)
),
utok AS (
  SELECT word,
         dp[length(word) + 1] % 1024 AS uni_toks,
         dp[length(word) + 1] // 1024 AS uni_cost_half
  FROM ust WHERE i = length(word)
)"""


TOKENIZE_UNIGRAM_SQL = f"""
WITH RECURSIVE uwf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
  WHERE word <> '' AND length(word) <= {UNI_MAX_WORD}
  GROUP BY word
),
{_uni_vocab_ctes()},
uwf_src AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest({_sql_words()}) AS word FROM documents
        WHERE source IS NOT NULL) t
  WHERE word <> '' AND length(word) <= {UNI_MAX_WORD}
  GROUP BY source, word
),
{_uni_dp_ctes()},
{bpe_token_ctes("uwf_src")}
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(sum(freq * length(word)) AS BIGINT) AS n_chars,
       CAST(sum(freq * uni_toks) AS BIGINT) AS n_uni_tokens,
       CAST(sum(freq * toks) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(freq * uni_toks) AS DOUBLE)
             / nullif(CAST(sum(freq) AS DOUBLE), 0.0), 6) AS uni_fertility,
       round(CAST(sum(freq * toks) AS DOUBLE)
             / nullif(CAST(sum(freq) AS DOUBLE), 0.0), 6) AS bpe_fertility,
       round(CAST(sum(freq * uni_cost_half) AS DOUBLE) / 2.0
             / nullif(CAST(sum(freq * uni_toks) AS DOUBLE), 0.0), 6)
         AS bits_per_token
FROM uwf_src JOIN utok USING (word) JOIN tok USING (word)
GROUP BY source
"""


QUERIES = {
    "tokenize_unigram_eval": tokenize_unigram_eval,
    "tokenize_bpe_encode": tokenize_bpe_encode,
    "tokenize_bpe_roundtrip": tokenize_bpe_roundtrip,
    "dedup_lines_across_docs": dedup_lines_across_docs,
    "text_pii_scrub": text_pii_scrub,
    "dedup_substring_removal": dedup_substring_removal,
    "edit_distance_join": edit_distance_join,
    "entity_resolution_parts": entity_resolution_parts,
    "blocking_quality_report": blocking_quality_report,
    "text_zipf_slope": text_zipf_slope,
    "cross_lang_contamination": cross_lang_contamination,
    "dedup_substring_spans": dedup_substring_spans,
    "bpe_merge_candidates": bpe_merge_candidates,
    "fingerprint_winnowing": fingerprint_winnowing,
}

ORACLE = {
    "tokenize_unigram_eval": TOKENIZE_UNIGRAM_SQL,
    "tokenize_bpe_encode": TOKENIZE_BPE_SQL,
    "tokenize_bpe_roundtrip": BPE_ROUNDTRIP_SQL,
    "dedup_lines_across_docs": LINE_DEDUP_SQL,
    "text_pii_scrub": PII_SCRUB_SQL,
    "dedup_substring_removal": SUBSTR_REMOVAL_SQL,
    "edit_distance_join": ED_JOIN_SQL,
    "entity_resolution_parts": _er_parts_oracle_sql(),
    "blocking_quality_report": _blocking_quality_oracle_sql(),
    "text_zipf_slope": ZIPF_SQL,
    "cross_lang_contamination": XLANG_SQL,
    "dedup_substring_spans": SPAN_SQL,
    "bpe_merge_candidates": BPE_SQL,
    "fingerprint_winnowing": WINNOW_SQL,
}


# --------------------------------------------------------------------------
# Fellegi-Sunter match/non-match weights (round 10): the probabilistic
# record-linkage parameters (Fellegi & Sunter 1969) estimated over the
# blocked candidate pairs — for each comparison field f, m_f =
# P(agree on f | match) and u_f = P(agree on f | non-match), and the
# log-likelihood-ratio weights ln(m/u) (agreement) and
# ln((1-m)/(1-u)) (disagreement) a linkage scorer sums per pair.
# Labels come from the same exact edit-distance verify the blocking
# eval trusts (dist <= ED_TAU on candidate pairs = match); comparison
# fields are the part's catalog attributes (brand, type, size, and a
# 100-dollar retail-price band) read through each side's
# representative key.  Probabilities
# are Laplace-smoothed ((a + 0.5)/(n + 1)) so every weight is finite
# even when a field always or never agrees.
#
# Scale shape: candidates are the vocabulary-bounded q-gram prefix
# join (edit_distance_join's argument — never quadratic in table
# size); attribute reads are two keyed joins on the part key; the
# whole estimate is ONE conditional-moment aggregate over the
# candidate set, unpivoted to a 4-row field table in-plan (stack /
# UNION ALL — no LATERAL, the DuckDB-VALUES trap).  Counts are exact
# int64; each m/u/weight is one fixed-shape double expression written
# identically on both engines, round(,6).
# --------------------------------------------------------------------------
FS_FIELDS = ("brand", "type", "size", "price_band")
_FS_M = "((CAST(am AS DOUBLE) + 0.5) / (CAST(nm AS DOUBLE) + 1.0))"
_FS_U = "((CAST(au AS DOUBLE) + 0.5) / (CAST(nu AS DOUBLE) + 1.0))"


def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _ed_name_domain(spark, sf_dir)
    cand = _ed_candidate_pairs(p)
    named = cand.join(
        p.select(F.col("k").alias("ka"), F.col("s").alias("sa")), "ka"
    ).join(p.select(F.col("k").alias("kb"), F.col("s").alias("sb")), "kb")
    # r11 batch 4: the labeled candidate set has exactly ONE consumer
    # (the attr-join -> aggregate chain below), so its former fence
    # bought no reuse — a single plan tree evaluates each node once —
    # and cost one construction-time materialization job per call
    # (batch 3's single-consumer argument; the gram-prefix self-join's
    # two identical subtree copies dedup via AQE exchange reuse over
    # the fenced name domain).
    lab = named.select(
        "ka",
        "kb",
        (F.levenshtein("sa", "sb") <= ED_TAU).alias("is_match"),
    )
    attrs = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        # positive prices: Spark div (truncate) == DuckDB // (floor)
        (
            F.round(F.col("p_retailprice") * 100).cast("bigint") / F.lit(10000)
        ).cast("bigint").alias("p_band"),
    )
    j = (
        lab.join(
            attrs.select(
                F.col("p_partkey").alias("ka"),
                F.col("p_brand").alias("brand_a"),
                F.col("p_type").alias("type_a"),
                F.col("p_size").alias("size_a"),
                F.col("p_band").alias("price_band_a"),
            ),
            "ka",
        ).join(
            attrs.select(
                F.col("p_partkey").alias("kb"),
                F.col("p_brand").alias("brand_b"),
                F.col("p_type").alias("type_b"),
                F.col("p_size").alias("size_b"),
                F.col("p_band").alias("price_band_b"),
            ),
            "kb",
        )
    )
    aggs = [
        F.sum(F.when(F.col("is_match"), 1).otherwise(0))
        .cast("bigint")
        .alias("nm"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0))
        .cast("bigint")
        .alias("nu"),
    ]
    for f in FS_FIELDS:
        ag = F.col(f"{f}_a") == F.col(f"{f}_b")
        aggs.append(
            F.sum(F.when(F.col("is_match") & ag, 1).otherwise(0))
            .cast("bigint")
            .alias(f"am_{f}")
        )
        aggs.append(
            F.sum(F.when(~F.col("is_match") & ag, 1).otherwise(0))
            .cast("bigint")
            .alias(f"au_{f}")
        )
    one = j.agg(*aggs)
    stack_args = ", ".join(
        f"'{f}', am_{f}, au_{f}" for f in FS_FIELDS
    )
    return one.selectExpr(
        "nm",
        "nu",
        f"stack({len(FS_FIELDS)}, {stack_args}) AS (field, am, au)",
    ).selectExpr(
        "field",
        "nm AS n_match_pairs",
        "nu AS n_nonmatch_pairs",
        f"round({_FS_M}, 6) AS m_prob",
        f"round({_FS_U}, 6) AS u_prob",
        f"round(ln({_FS_M} / {_FS_U}), 6) + 0.0 AS w_agree",
        f"round(ln((1.0 - {_FS_M}) / (1.0 - {_FS_U})), 6) + 0.0 AS w_disagree",
    )


def _fs_oracle_sql() -> str:
    field_selects = []
    for f in FS_FIELDS:
        field_selects.append(
            f"""SELECT '{f}' AS field, nm AS n_match_pairs,
       nu AS n_nonmatch_pairs,
       round({_FS_M}, 6) AS m_prob,
       round({_FS_U}, 6) AS u_prob,
       round(ln({_FS_M} / {_FS_U}), 6) + 0.0 AS w_agree,
       round(ln((1.0 - {_FS_M}) / (1.0 - {_FS_U})), 6) + 0.0 AS w_disagree
FROM (SELECT nm, nu, am_{f} AS am, au_{f} AS au FROM agg) t"""
        )
    unioned = "\nUNION ALL\n".join(field_selects)
    am_au = ",\n    ".join(
        f"""CAST(sum(CASE WHEN is_match AND ag_{f} THEN 1 ELSE 0 END)
         AS BIGINT) AS am_{f},
    CAST(sum(CASE WHEN NOT is_match AND ag_{f} THEN 1 ELSE 0 END)
         AS BIGINT) AS au_{f}"""
        for f in FS_FIELDS
    )
    return f"""
WITH p AS (
  SELECT p_name AS s, min(p_partkey) AS k FROM part
  WHERE length(p_name) >= {ED_MIN_LEN}
    AND regexp_matches(p_name, '^[\\x00-\\x7f]*$')
  GROUP BY p_name
),
g AS (
  SELECT k, unnest(list_transform(generate_series(1, length(s) - {ED_Q - 1}),
                   i -> {{'pos': i, 'gr': substr(s, CAST(i AS INT), {ED_Q})}}))
           AS t
  FROM p
),
g2 AS (SELECT k, t.pos AS pos, t.gr AS gr FROM g),
freq AS (SELECT gr, count(*) AS f FROM g2 GROUP BY gr),
ranked AS (
  SELECT k, gr,
         row_number() OVER (PARTITION BY k ORDER BY f, gr, pos) AS rn
  FROM g2 JOIN freq USING (gr)
),
prefix AS (SELECT DISTINCT k, gr FROM ranked WHERE rn <= {ED_Q * ED_TAU + 1}),
cand AS (
  SELECT DISTINCT a.k AS ka, b.k AS kb
  FROM prefix a JOIN prefix b ON a.gr = b.gr AND a.k < b.k
),
lab AS (
  SELECT c.ka, c.kb, levenshtein(pa.s, pb.s) <= {ED_TAU} AS is_match
  FROM cand c
  JOIN p pa ON pa.k = c.ka
  JOIN p pb ON pb.k = c.kb
),
j AS (
  SELECT l.is_match,
         a.p_brand = b.p_brand AS ag_brand,
         a.p_type = b.p_type AS ag_type,
         a.p_size = b.p_size AS ag_size,
         CAST(round(a.p_retailprice * 100) AS BIGINT) // 10000
           = CAST(round(b.p_retailprice * 100) AS BIGINT) // 10000
           AS ag_price_band
  FROM lab l
  JOIN part a ON a.p_partkey = l.ka
  JOIN part b ON b.p_partkey = l.kb
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS nm,
    CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS nu,
    {am_au}
  FROM j
)
{unioned}
"""


QUERIES["er_fellegi_sunter"] = er_fellegi_sunter
ORACLE["er_fellegi_sunter"] = _fs_oracle_sql()


# --------------------------------------------------------------------------
# Heaps-law vocabulary-growth fit (round 10): V(N) ~ K * N^beta over
# ten ingest-order prefixes of the corpus — the companion corpus-
# health statistic to text_zipf_slope (natural text: beta ~ 0.4-0.6;
# a beta collapsing toward 0 means the crawl is re-ingesting the same
# vocabulary — boilerplate/duplication — while beta ~ 1 means
# near-random token soup).  Prefixes are doc_id cutoffs at k/10 of
# the max id (ingest-order proxy; no global sort): V_k = terms whose
# FIRST occurrence (min doc_id) falls at or below the cutoff, N_k =
# tokens in docs at or below it.  The log-log fit uses the same
# regr_slope/regr_intercept sum-based normal equations as the Zipf
# op (rank-order-insensitive; float drift ~1e-12 under the 6-decimal
# rounding).
#
# Scale shape: one (term -> min doc_id) aggregate and one per-doc
# length pass — both linear, map-side combining; the 10-row cutoff
# table broadcasts against them (a x10 constant fan-out via
# BroadcastNestedLoop on the <= predicate, never a shuffle); the fit
# aggregates 10 rows.  All prefix counts are exact int64 before the
# ln(); cutoffs use floor(CAST AS DOUBLE) so both engines bucket
# identically whatever the id sign.
# --------------------------------------------------------------------------
HEAPS_CHECKPOINTS = 10


def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("term")
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fid"))
    dl = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.size(_words(F.col("text"))).cast("bigint").alias("dl")
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    from stac_geoparquet_spark.operators._io import fenced

    # the 10-row cutoff table is consumed by BOTH prefix aggregates —
    # fence it so the max-id scan runs once (no-CSE trap)
    cks = fenced(
        spark.range(1, HEAPS_CHECKPOINTS + 1)
        .select(F.col("id").cast("bigint").alias("ck"))
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "ck",
            f"""CAST(floor(CAST(mx AS DOUBLE) * CAST(ck AS DOUBLE)
                     / {float(HEAPS_CHECKPOINTS)}) AS BIGINT)
                AS doc_id_cutoff""",
        )
    )
    vk = (
        first.join(
            F.broadcast(cks), F.col("fid") <= F.col("doc_id_cutoff")
        )
        .groupBy("ck", "doc_id_cutoff")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_prefix"))
    )
    nk = (
        dl.join(F.broadcast(cks), F.col("doc_id") <= F.col("doc_id_cutoff"))
        .groupBy("ck")
        .agg(F.sum("dl").cast("bigint").alias("n_tokens_prefix"))
    )
    # r11: the regression fit rides an unpartitioned window over the
    # 10-row curve instead of the r10 fence + 1-row aggregate +
    # broadcast join — curve then has ONE consumer, so the two corpus
    # passes (first-occurrence, lengths) still run once, minus the
    # construction-time checkpoint job and the per-call broadcast.
    # regr_* skips NULL pairs, so CASE-nulling the filtered rows'
    # inputs reproduces the old WHERE exactly (results identical).
    from pyspark.sql import Window

    curve = vk.join(nk, "ck")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    keep = (F.col("vocab_prefix") > 0) & (F.col("n_tokens_prefix") > 0)
    ly = F.when(keep, F.log(F.col("vocab_prefix").cast("double")))
    lx = F.when(keep, F.log(F.col("n_tokens_prefix").cast("double")))
    return curve.select(
        "ck",
        "doc_id_cutoff",
        "n_tokens_prefix",
        "vocab_prefix",
        (F.round(F.regr_slope(ly, lx).over(w_all), 6) + F.lit(0.0)).alias(
            "heaps_beta"
        ),
        (
            F.round(F.regr_intercept(ly, lx).over(w_all), 6) + F.lit(0.0)
        ).alias("heaps_log_k"),
    )


HEAPS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS term FROM documents
),
first AS (
  SELECT term, min(doc_id) AS fid FROM toks GROUP BY term
),
dl AS (
  SELECT doc_id, CAST(len({_sql_words()}) AS BIGINT) AS dl
  FROM documents WHERE text IS NOT NULL
),
mx AS (SELECT max(doc_id) AS mx FROM documents),
cks AS (
  SELECT CAST(k AS BIGINT) AS ck,
         CAST(floor(CAST(mx AS DOUBLE) * CAST(k AS DOUBLE)
              / {float(HEAPS_CHECKPOINTS)}) AS BIGINT) AS doc_id_cutoff
  FROM generate_series(1, {HEAPS_CHECKPOINTS}) t(k) CROSS JOIN mx
),
vk AS (
  SELECT ck, doc_id_cutoff,
         CAST(count(*) AS BIGINT) AS vocab_prefix
  FROM first JOIN cks ON fid <= doc_id_cutoff
  GROUP BY ck, doc_id_cutoff
),
nk AS (
  SELECT ck, CAST(sum(dl) AS BIGINT) AS n_tokens_prefix
  FROM dl JOIN cks ON doc_id <= doc_id_cutoff
  GROUP BY ck
),
curve AS (
  SELECT vk.ck, vk.doc_id_cutoff, nk.n_tokens_prefix, vk.vocab_prefix
  FROM vk JOIN nk ON nk.ck = vk.ck
),
fit AS (
  SELECT round(regr_slope(ln(CAST(vocab_prefix AS DOUBLE)),
                          ln(CAST(n_tokens_prefix AS DOUBLE))), 6) + 0.0
           AS heaps_beta,
         round(regr_intercept(ln(CAST(vocab_prefix AS DOUBLE)),
                              ln(CAST(n_tokens_prefix AS DOUBLE))), 6) + 0.0
           AS heaps_log_k
  FROM curve WHERE vocab_prefix > 0 AND n_tokens_prefix > 0
)
SELECT ck, doc_id_cutoff, n_tokens_prefix, vocab_prefix,
       heaps_beta, heaps_log_k
FROM curve CROSS JOIN fit
"""


QUERIES["text_heaps_law_fit"] = text_heaps_law_fit
ORACLE["text_heaps_law_fit"] = HEAPS_SQL
