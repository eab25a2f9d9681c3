"""Text-analysis operators over the ``documents`` table: token
counting, quality scoring, language ID, document fingerprinting.

All pure DataFrame expressions (JVM-side, codegen'd — no Python UDFs),
each with an exact DuckDB oracle. At 100 TB these are embarrassingly
parallel single-pass scans: no shuffle at all except where noted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_table

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")

# language marker profiles for the n-gram/stopword heuristic (tiebreak
# order = tuple order)
LANG_MARKERS = (
    ("en", ("the", "is", "and", "of", "to")),
    ("es", ("el", "la", "los", "que", "y")),
    ("de", ("der", "die", "das", "und", "ist")),
    ("fr", ("le", "les", "et", "est", "une")),
    ("zh", ("de5", "shi4", "le5", "zai4", "he2")),
)


def jlower(col: Column) -> Column:
    """THE Spark-side lowercasing for every oracle-paired text
    operator: capital sigma is normalized to the NON-final form before
    lower().  Java's toLowerCase applies the context-sensitive
    Final_Sigma rule ('ΟΔΟΣ' -> 'οδος' with final ς) which utf8proc
    maps unconditionally to σ and which no per-codepoint patch can
    express — so the tokenizer CONTRACT normalizes Σ -> σ on BOTH
    engines instead (the oracle twin is ``_sql_lower``)."""
    return F.lower(F.regexp_replace(col, "Σ", "σ"))


def _words(col: Column) -> Column:
    return F.split(jlower(F.trim(col)), r"\s+")


# Java's \s char class, written out for RE2: Java regex \s is
# [ \t\n\x0B\f\r] while RE2's \s is [ \t\n\f\r] — a vertical tab
# (\x0b) splits tokens on Spark but not in a DuckDB '\s' oracle
# (cross-engine fuzz finding).  Every oracle whitespace regex uses
# this explicit class so both engines share Java's exact set.
SQL_WS_CHARS = " \\t\\n\\x0b\\f\\r"
SQL_WS = f"[{SQL_WS_CHARS}]"


def _sql_jtrim(expr: str = "text") -> str:
    """Spark-trim emulation for the DuckDB oracles: Spark's trim()
    strips ONLY the ASCII space (0x20) at string edges, while DuckDB's
    default trim() strips the Unicode Zs class — so a leading/trailing
    NBSP survives Spark but not DuckDB's native trim (found by the
    cross-engine fuzz, tests/test_cross_engine_fuzz.py).  The explicit
    one-char trim set makes both engines share Spark's exact edge
    rule; every oracle tokenizer trims through this fragment."""
    return f"trim({expr}, ' ')"


# Case-mapping patch table: the 71 codepoints where DuckDB's utf8proc
# (older Unicode tables) disagrees with the JVM's lowercase — found by
# an exhaustive 0x20..0x10FFFF sweep (tests/test_cross_engine_fuzz.py
# re-runs the BMP slice).  70 are 1:1 (newer-Unicode Coptic/Cyrillic/
# Vithkuqi/Garay case pairs utf8proc doesn't map yet) and patch via
# translate(); U+0130 'İ' is the one full-casing expansion (Java
# lowers it to 'i' + combining dot) and needs a replace().
_LOWER_SRC = (
    "\u1c89\u2c2f\ua7c0\ua7c7\ua7c9\ua7cb\ua7cc\ua7d0\ua7d6\ua7d8"
    "\ua7da\ua7dc\ua7f5"
    "\U00010570\U00010571\U00010572\U00010573\U00010574\U00010575"
    "\U00010576\U00010577\U00010578\U00010579\U0001057a\U0001057c"
    "\U0001057d\U0001057e\U0001057f\U00010580\U00010581\U00010582"
    "\U00010583\U00010584\U00010585\U00010586\U00010587\U00010588"
    "\U00010589\U0001058a\U0001058c\U0001058d\U0001058e\U0001058f"
    "\U00010590\U00010591\U00010592\U00010594\U00010595"
    "\U00010d50\U00010d51\U00010d52\U00010d53\U00010d54\U00010d55"
    "\U00010d56\U00010d57\U00010d58\U00010d59\U00010d5a\U00010d5b"
    "\U00010d5c\U00010d5d\U00010d5e\U00010d5f\U00010d60\U00010d61"
    "\U00010d62\U00010d63\U00010d64\U00010d65"
)
_LOWER_DST = (
    "\u1c8a\u2c5f\ua7c1\ua7c8\ua7ca\u0264\ua7cd\ua7d1\ua7d7\ua7d9"
    "\ua7db\u019b\ua7f6"
    "\U00010597\U00010598\U00010599\U0001059a\U0001059b\U0001059c"
    "\U0001059d\U0001059e\U0001059f\U000105a0\U000105a1\U000105a3"
    "\U000105a4\U000105a5\U000105a6\U000105a7\U000105a8\U000105a9"
    "\U000105aa\U000105ab\U000105ac\U000105ad\U000105ae\U000105af"
    "\U000105b0\U000105b1\U000105b3\U000105b4\U000105b5\U000105b6"
    "\U000105b7\U000105b8\U000105b9\U000105bb\U000105bc"
    "\U00010d70\U00010d71\U00010d72\U00010d73\U00010d74\U00010d75"
    "\U00010d76\U00010d77\U00010d78\U00010d79\U00010d7a\U00010d7b"
    "\U00010d7c\U00010d7d\U00010d7e\U00010d7f\U00010d80\U00010d81"
    "\U00010d82\U00010d83\U00010d84\U00010d85"
)


def _sql_lower(expr: str) -> str:
    """JVM-lowercase emulation for the DuckDB oracles (see the patch
    table above) — the oracle twin of ``jlower``: Σ is normalized to
    non-final σ on both engines because Java's context-sensitive
    Final_Sigma rule cannot be expressed by any per-codepoint mapping;
    every oracle lower() goes through this fragment."""
    return (
        "lower(translate(replace(replace("
        f"{expr}, chr(931), chr(963)), chr(304), chr(105) || chr(775)),"
        f" '{_LOWER_SRC}', '{_LOWER_DST}'))"
    )


def _sql_words(expr: str = "text") -> str:
    return f"regexp_split_to_array({_sql_lower(_sql_jtrim(expr))}, '{SQL_WS}+')"


# --------------------------------------------------------------------------
# BPE merge vocabulary + greedy-encoder oracle CTEs.  These live here
# (not curation.py, the Spark-side home of the tokenizer family)
# because pipeline.py needs the CTE chain at MODULE level for
# PACK_SQL while curation.py imports pipeline helpers at module level
# — text.py is the shared leaf both already depend on.
# --------------------------------------------------------------------------
BPE_TOP_K = 20


def _bpe_merge_ctes() -> str:
    """Merge learning only (gwf→pp→pc→ml, the exact BPE_SQL
    derivation) — the shared prefix of the encode and round-trip
    oracle chains.  Produces ``ml(m)``: one row, the top-K merge
    list."""
    return f"""gwf AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
  GROUP BY word
),
pp AS (
  SELECT freq,
         unnest(CASE WHEN length(word) >= 2
           THEN list_transform(generate_series(1, length(word) - 1),
                               i -> substr(word, CAST(i AS INT), 2))
           ELSE CAST([] AS VARCHAR[]) END) AS pair
  FROM gwf
),
pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pp GROUP BY pair),
ml AS (
  SELECT list(pair) AS m FROM (
    SELECT pair, row_number() OVER (ORDER BY n DESC, pair) AS rk FROM pc
  ) WHERE rk <= {BPE_TOP_K}
)"""


def bpe_token_ctes(word_source: str) -> str:
    """The reusable oracle CTE chain for the greedy BPE encoder:
    merge learning (``_bpe_merge_ctes``) plus the recursive greedy
    scan over the DISTINCT words of ``word_source`` (any prior
    CTE/table exposing a ``word`` column).  The enclosing query must
    open with WITH RECURSIVE.  Produces ``tok(word, toks)``."""
    return f"""{_bpe_merge_ctes()},
bw AS (SELECT DISTINCT word FROM {word_source}),
st AS (
  SELECT word, 1 AS p, CAST(0 AS BIGINT) AS t FROM bw
  UNION ALL
  SELECT st.word,
         st.p + CASE WHEN list_contains(ml.m, substr(st.word, st.p, 2))
                     THEN 2 ELSE 1 END,
         st.t + 1
  FROM st, ml WHERE st.p <= length(st.word)
),
tok AS (SELECT word, t AS toks FROM st WHERE p > length(word))"""


def bpe_roundtrip_ctes(word_source: str) -> str:
    """Round-trip variant of ``bpe_token_ctes``: the recursive state
    additionally carries the merged-token count and the DECODED string
    rebuilt by concatenating each emitted token, so the enclosing
    query can assert encode∘decode == identity per word.  Produces
    ``tok(word, toks, merged, ok)``; must open with WITH RECURSIVE."""
    return f"""{_bpe_merge_ctes()},
bw AS (SELECT DISTINCT word FROM {word_source}),
st AS (
  SELECT word, 1 AS p, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS mg,
         '' AS dec
  FROM bw
  UNION ALL
  SELECT st.word,
         st.p + CASE WHEN list_contains(ml.m, substr(st.word, st.p, 2))
                     THEN 2 ELSE 1 END,
         st.t + 1,
         st.mg + CASE WHEN list_contains(ml.m, substr(st.word, st.p, 2))
                      THEN 1 ELSE 0 END,
         st.dec || substr(st.word, st.p,
           CASE WHEN list_contains(ml.m, substr(st.word, st.p, 2))
                THEN 2 ELSE 1 END)
  FROM st, ml WHERE st.p <= length(st.word)
),
tok AS (SELECT word, t AS toks, mg AS merged, dec = word AS ok
        FROM st WHERE p > length(word))"""


# --------------------------------------------------------------------------
# token counting: whitespace tokens + a BPE-ish subword estimate
# (ceil(chars/4) per word, the common ~4-chars-per-token rule)
# --------------------------------------------------------------------------
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    subword = F.aggregate(
        w,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("bigint"),
    )
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        subword.alias("n_subword_est"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({_sql_words()})                                            AS n_tokens,
       CAST(list_sum(list_transform({_sql_words()},
                                    x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))
            AS BIGINT)                                                AS n_subword_est,
       length(text)                                                   AS n_chars_measured
FROM documents
"""


# --------------------------------------------------------------------------
# quality scoring: length / punctuation / stopword ratios
# --------------------------------------------------------------------------
@const_cols
def quality_score_expr() -> Column:
    """THE quality-score definition (weighted length/punctuation/
    stopword blend in [0, 1]) — shared by ``text_quality_score`` and
    the token-budget selector so the two can never rank by different
    scores.

    Degenerate docs do NOT score NULL: ``least()`` skips NULL operands
    on both engines, so a NULL-text doc scores 0.7 (the capped-term
    defaults) and an empty-string doc ~0.  Consumers that RANK by this
    score must exclude contentless docs explicitly (the token-budget
    selector does) or garbage rows float to the top."""
    w = _words(F.col("text"))
    n_words = F.size(w).cast("double")
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
    n_chars = F.length("text").cast("double")
    punct = (
        n_chars
        - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    ).cast("double")
    # nullif: an empty-string doc has n_chars = 0, and under ANSI mode
    # (Spark 4 default) a bare division would CRASH the job while the
    # oracle emits a row — both engines now yield NULL ratios/score for
    # the degenerate doc
    safe_chars = F.nullif(n_chars, F.lit(0.0))
    return (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct / safe_chars * F.lit(10.0), F.lit(1.0)))
        * 0.3
        + F.least(stop / n_words * F.lit(5.0), F.lit(1.0)) * 0.3
    )


QUALITY_SCORE_SQL = f"""round(least(len({_sql_words()}) / 100.0, 1.0) * 0.4
  + (1.0 - least((length(text) - length(regexp_replace(text, '[^\\w{SQL_WS_CHARS}]', '', 'g')))
                 * 10.0 / nullif(length(text), 0), 1.0)) * 0.3
  + least(len(list_filter({_sql_words()}, x -> x IN ({{stop_in}})))
          * 5.0 / len({_sql_words()}), 1.0) * 0.3, 6)"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    n_words = F.size(w).cast("double")
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
    n_chars = F.length("text").cast("double")
    punct = (
        n_chars
        - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    ).cast("double")
    mean_wlen = (
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / F.size(w)
    ).cast("double")
    safe_chars = F.nullif(n_chars, F.lit(0.0))
    score = quality_score_expr()
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.round(stop / n_words, 6).alias("stopword_ratio"),
        F.round(punct / safe_chars, 6).alias("punct_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

QUALITY_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len({_sql_words()}) AS n_words,
         len(list_filter({_sql_words()}, x -> x IN ({_STOP_IN}))) AS n_stop,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w{SQL_WS_CHARS}]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '{SQL_WS}+', '', 'g')) AS n_nonspace
  FROM documents
)
SELECT doc_id,
       n_words,
       round(n_stop * 1.0 / n_words, 6)    AS stopword_ratio,
       round(n_punct * 1.0 / nullif(n_chars, 0), 6)   AS punct_ratio,
       round(n_nonspace * 1.0 / n_words, 6) AS mean_word_len,
       round(least(n_words / 100.0, 1.0) * 0.4
             + (1.0 - least(n_punct * 10.0 / nullif(n_chars, 0), 1.0)) * 0.3
             + least(n_stop * 5.0 / n_words, 1.0) * 0.3, 6) AS quality_score
FROM m
"""


# --------------------------------------------------------------------------
# language ID: stopword-profile scoring with deterministic tiebreak
# --------------------------------------------------------------------------
def _marker_score(words: Column, markers: tuple[str, ...]) -> Column:
    """Per-language marker hit count over a token array column."""
    return F.size(F.filter(words, lambda x: x.isin(*markers)))


def _pick_lang(score_cols: list[Column]) -> Column:
    """argmax over the marker scores, ties to the FIRST language in
    LANG_MARKERS order — the same total order the SQL CASE uses."""
    best = (
        F.greatest(*score_cols) if len(score_cols) > 1 else score_cols[0]
    )
    pred = None
    for (lang, _), s in zip(LANG_MARKERS, score_cols):
        cond = s == best
        pred = (
            F.when(cond, F.lit(lang))
            if pred is None
            else pred.when(cond, F.lit(lang))
        )
    return pred


def _detect_lang(text: Column) -> Column:
    """Self-contained detected-language expression (the in-row form of
    text_lang_id's scoring, for consumers that only need the label)."""
    w = _words(text)
    return _pick_lang([_marker_score(w, m) for _, m in LANG_MARKERS])


def _detect_lang_sql(text_expr: str) -> str:
    """DuckDB mirror of _detect_lang over a text column expression."""
    words = _sql_words(text_expr)
    scores = [
        f"len(list_filter({words}, x -> x IN "
        f"({', '.join(repr(m) for m in markers)})))"
        for _, markers in LANG_MARKERS
    ]
    best = "greatest(" + ", ".join(scores) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN {s} = {best} THEN '{lang}'"
            for (lang, _), s in zip(LANG_MARKERS, scores)
        )
        + " END"
    )
    return case


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    scored = docs.select("doc_id", "lang", w.alias("w"))
    for lang, markers in LANG_MARKERS:
        scored = scored.withColumn(
            f"s_{lang}", _marker_score(F.col("w"), markers)
        )
    pred = _pick_lang([F.col(f"s_{lang}") for lang, _ in LANG_MARKERS])
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        *[F.col(f"s_{lang}").cast("bigint").alias(f"s_{lang}") for lang, _ in LANG_MARKERS],
    )


def _lang_oracle_sql() -> str:
    score_cols = ",\n       ".join(
        f"len(list_filter({_sql_words()}, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
        for lang, markers in LANG_MARKERS
    )
    langs = [lang for lang, _ in LANG_MARKERS]
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang AS labeled_lang, {case} AS pred_lang,
       {', '.join(f's_{l}' for l in langs)}
FROM scored
"""


# --------------------------------------------------------------------------
# document fingerprinting: md5 over whitespace-normalized content +
# prefix fingerprint (cheap rolling-hash-style partial signature)
# --------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(jlower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.md5(F.substring(norm, 1, 128)).alias("prefix_fp"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


FINGERPRINT_SQL = f"""
WITH n AS (
  SELECT doc_id,
         regexp_replace({_sql_lower(_sql_jtrim('text'))}, '{SQL_WS}+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm)                 AS fingerprint,
       md5(substr(norm, 1, 128)) AS prefix_fp,
       length(norm)              AS norm_len
FROM n
"""


# --------------------------------------------------------------------------
# Deterministic train/holdout split — the sampling primitive a training
# pipeline actually needs at 100 TB: seeded RNG sampling differs across
# engines/runs and can't be re-derived per row, while a content-hash
# split is reproducible, cross-engine identical, and stable under
# repartitioning/backfill (a document keeps its split forever). Pure
# codegen expressions, single pass, one 2-row aggregate.
# --------------------------------------------------------------------------
TRAIN_PCT = 90

# the one definition of the split hash, shared with pipeline.py's
# decontamination (which promises "same hash split as
# split_train_holdout") — keep the Spark and SQL forms in lockstep
SPLIT_PCT_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100"
)


def split_pct() -> Column:
    """Deterministic 0-99 bucket of a document: first 16 bits of
    md5(doc_id) mod 100; identical in DuckDB as ``SPLIT_PCT_SQL``."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        % 100
    )


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pct = split_pct()
    split = F.when(pct < TRAIN_PCT, "train").otherwise("holdout")
    return (
        docs.select(split.alias("split"), F.length("text").alias("len"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("len").cast("bigint").alias("total_chars"),
        )
    )


SPLIT_SQL = f"""
SELECT CASE WHEN {SPLIT_PCT_SQL} < {TRAIN_PCT}
            THEN 'train' ELSE 'holdout' END AS split,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Split-health audit: Jensen-Shannon divergence between the train and
# holdout unigram distributions plus the holdout OOV rate (holdout
# token mass on words train never saw).  A healthy random split has
# JSD near 0 and a small OOV tail; a drifted/contaminated split (or a
# split done after a sort) shows up immediately in both numbers.
#
# Scale shape: one corpus explode -> word-keyed aggregate carrying
# per-split conditional counts, a 1-row totals broadcast, then a 1-row
# reduce — two shuffles, both keyed on the scaling word key.  The JSD
# term sum is order-insensitive math whose cross-engine float drift
# (~1e-15 per term) sits six orders under the 6-decimal rounding.
# --------------------------------------------------------------------------
_JSD_P = "(CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE))"
_JSD_Q = "(CAST(ch AS DOUBLE) / CAST(th AS DOUBLE))"
# per-word contribution in nats; the CASE guards make the 0*ln(0)
# limits exact zeros on both engines
_JSD_TERM = (
    f"(CASE WHEN ct > 0 THEN 0.5 * {_JSD_P}"
    f" * ln(2.0 * {_JSD_P} / ({_JSD_P} + {_JSD_Q})) ELSE 0.0 END"
    f" + CASE WHEN ch > 0 THEN 0.5 * {_JSD_Q}"
    f" * ln(2.0 * {_JSD_Q} / ({_JSD_P} + {_JSD_Q})) ELSE 0.0 END)"
)


def split_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.when(split_pct() < TRAIN_PCT, 1).otherwise(0).alias("is_train"),
        F.explode(_words(F.col("text"))).alias("word"),
    ).where(F.col("word") != "")
    wc = words.groupBy("word").agg(
        F.sum("is_train").cast("bigint").alias("ct"),
        F.sum(1 - F.col("is_train")).cast("bigint").alias("ch"),
    )
    tot = wc.agg(
        F.sum("ct").cast("bigint").alias("tt"),
        F.sum("ch").cast("bigint").alias("th"),
        F.count(F.lit(1)).alias("n_vocab_union"),
        F.sum(F.when((F.col("ct") > 0) & (F.col("ch") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_vocab_shared"),
        F.sum(F.when(F.col("ct") == 0, F.col("ch")).otherwise(0))
        .cast("bigint")
        .alias("oov_holdout_tokens"),
    )
    terms = wc.crossJoin(F.broadcast(tot)).selectExpr(
        "tt",
        "th",
        "n_vocab_union",
        "n_vocab_shared",
        "oov_holdout_tokens",
        f"{_JSD_TERM} AS term",
    )
    return terms.groupBy(
        "tt", "th", "n_vocab_union", "n_vocab_shared", "oov_holdout_tokens"
    ).agg(F.sum("term").alias("jsd_sum")).selectExpr(
        "tt AS n_train_tokens",
        "th AS n_holdout_tokens",
        "n_vocab_union",
        "n_vocab_shared",
        """CASE WHEN tt > 0 AND th > 0
                THEN round(jsd_sum, 6) + 0.0
           END AS jsd_nats""",
        "round(CAST(oov_holdout_tokens AS DOUBLE)"
        " / nullif(CAST(th AS DOUBLE), 0.0), 6) AS oov_holdout_rate",
    )


SPLIT_JSD_SQL = f"""
WITH w AS (
  SELECT CASE WHEN {SPLIT_PCT_SQL} < {TRAIN_PCT} THEN 1 ELSE 0 END
           AS is_train,
         unnest({_sql_words()}) AS word
  FROM documents
),
wc AS (
  SELECT word,
         CAST(sum(is_train) AS BIGINT) AS ct,
         CAST(sum(1 - is_train) AS BIGINT) AS ch
  FROM w WHERE word <> '' GROUP BY word
),
tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS tt,
         CAST(sum(ch) AS BIGINT) AS th,
         CAST(count(*) AS BIGINT) AS n_vocab_union,
         CAST(sum(CASE WHEN ct > 0 AND ch > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_vocab_shared,
         CAST(sum(CASE WHEN ct = 0 THEN ch ELSE 0 END) AS BIGINT)
           AS oov_holdout_tokens
  FROM wc
)
SELECT tt AS n_train_tokens,
       th AS n_holdout_tokens,
       n_vocab_union,
       n_vocab_shared,
       CASE WHEN tt > 0 AND th > 0
            THEN round(sum({_JSD_TERM}), 6) + 0.0
       END AS jsd_nats,
       round(CAST(oov_holdout_tokens AS DOUBLE)
             / nullif(CAST(th AS DOUBLE), 0.0), 6) AS oov_holdout_rate
FROM wc, tot
GROUP BY tt, th, n_vocab_union, n_vocab_shared, oov_holdout_tokens
"""


# --------------------------------------------------------------------------
# TF-IDF top terms — the classic corpus-statistics join: term frequency
# per (doc, word), document frequency per word, idf = ln(N/df), top-3
# terms per doc by tf-idf. Shuffles: one groupBy on (doc_id, word), one
# on word, one window by doc_id. The df side is one row per distinct
# word — broadcast when small, shuffle-join keyed by word at scale (hot
# stopwords are the skew keys; AQE skew-join splits them, and a real
# pipeline would drop df > 50% words first). N reaches every row via a
# broadcast 1-row aggregate, never a driver round-trip.
# --------------------------------------------------------------------------
TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df as a window over the COMPACTED (doc, word) counts: a separate
    # groupBy(word) + join re-planned the whole corpus explode into the
    # join's other side (Catalyst does not CSE aggregate subtrees —
    # 2 Generates + 3 scans in the explain; same defect class fixed in
    # chi2_discriminative_terms).  The window partitions on the
    # SCALING word key over rows already shrunk by the tf aggregate.
    dfw = Window.partitionBy("word")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(dfw))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tfidf", "rk")
    )


TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest({_sql_words()}) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, count(*) AS tf,
         count(*) OVER (PARTITION BY word) AS df
  FROM words GROUP BY doc_id, word
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, word,
         round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
  FROM tf CROSS JOIN n
)
SELECT doc_id, word, tfidf, rk
FROM (
  SELECT doc_id, word, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, word) AS rk
  FROM scored
) t
WHERE rk <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# vocabulary build: global top-K terms by corpus frequency — the
# tokenizer-training / vocab-pruning pass. Distributed top-K
# (TakeOrderedAndProject over partial counts), never a global sort;
# the final row_number runs on the K survivors only.
# --------------------------------------------------------------------------
VOCAB_TOP_K = 50


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(VOCAB_TOP_K)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    return counts.withColumn("rk", F.row_number().over(w).cast("bigint"))


VOCAB_SQL = f"""
SELECT word, n, rk FROM (
  SELECT word, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, word) AS rk
  FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
  GROUP BY word
) r
WHERE rk <= {VOCAB_TOP_K}
"""


# --------------------------------------------------------------------------
# context-length bucketing: docs grouped into power-of-two token-count
# buckets — the batch-packing histogram a training dataloader needs.
# Single scan, partial agg; log2 is exact at integer powers of two on
# both engines (radix-2 libm), so bucket edges agree bit-for-bit.
# --------------------------------------------------------------------------
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(_words(F.col("text"))).cast("bigint")
    return (
        docs.select(
            F.floor(F.log2(n_tok + F.lit(1))).cast("bigint").alias("bucket"),
            n_tok.alias("n_tokens"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


LENGTH_BUCKETS_SQL = f"""
SELECT CAST(floor(log2(len({_sql_words()}) + 1)) AS BIGINT) AS bucket,
       count(*)                                             AS n_docs,
       min(len({_sql_words()}))                             AS min_tokens,
       max(len({_sql_words()}))                             AS max_tokens
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# unigram log-perplexity: the CCNet-style LM quality filter. A unigram
# model is fit on the corpus itself (count/total with add-one
# smoothing), then each doc is scored by its average -log2 p(word) —
# low = typical text, high = out-of-distribution. Two shuffles total:
# the model's word-count aggregate and the per-doc score aggregate;
# the model join is word-keyed and AQE-sized (a real corpus LM is
# top-K truncated and broadcastable; smoothing covers the tail).
# Determinism: per-word -log2 p is left UNROUNDED (rounding each word
# puts every word's value near a potential .5 boundary where Spark and
# DuckDB libm/round ulps can disagree — observed at sf0.1); instead
# only the per-doc mean is rounded, at 4 decimals, where the engines'
# accumulated difference (~1e-13) is nine orders below the quantum.
# --------------------------------------------------------------------------
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    )
    model = words.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    totals = model.agg(
        F.sum("wc").alias("n_total"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    scored = (
        words.join(model, "word")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.col("wc") + F.lit(1))
                    / (F.col("n_total") + F.col("n_vocab"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("nll"), 4).alias("avg_neg_log2_p"),
        F.count(F.lit(1)).alias("n_scored_tokens"),
    )


UNIGRAM_LOGPPL_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest({_sql_words()}) AS word FROM documents
),
model AS (
  SELECT word, count(*) AS wc FROM words GROUP BY word
),
totals AS (
  SELECT CAST(sum(wc) AS BIGINT) AS n_total,
         count(*) AS n_vocab
  FROM model
),
scored AS (
  SELECT doc_id,
         -log2((wc + 1) * 1.0 / (n_total + n_vocab)) AS nll
  FROM words JOIN model USING (word) CROSS JOIN totals
)
SELECT doc_id,
       round(avg(nll), 4) AS avg_neg_log2_p,
       count(*) AS n_scored_tokens
FROM scored
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# stratified 3-way split report: per (lang, split) doc counts and the
# observed fraction within the stratum — the assignment audit run
# before training (is every stratum's val/test slice the right size?).
# The split is the same deterministic md5(doc_id) bucket the rest of
# the engine uses (split_pct), extended to train/val/test cut points.
# Per-stratum totals reach rows via a small groupBy + broadcast join,
# NOT a window partitioned by lang (bounded-cardinality window keys
# are banned by the registry plan sweep).
# --------------------------------------------------------------------------
VAL_PCT = 90  # [TRAIN_PCT, VAL_PCT) = val, [VAL_PCT, 100) = test


def stratified_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pct = split_pct()
    split = (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < VAL_PCT, "val")
        .otherwise("test")
    )
    g = docs.select(F.col("lang"), split.alias("split")).groupBy(
        "lang", "split"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    # rename the total side's key: tot derives from g, so joining on
    # the shared column name is an ambiguous self-join to the analyzer
    tot = (
        g.groupBy("lang")
        .agg(F.sum("n_docs").alias("n_lang"))
        .withColumnRenamed("lang", "lang_t")
    )
    return (
        g.join(F.broadcast(tot), F.col("lang").eqNullSafe(F.col("lang_t")))
        .select(
            "lang",
            "split",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_lang"), 6).alias("frac"),
        )
    )


STRATIFIED_SPLIT_SQL = f"""
WITH g AS (
  SELECT lang,
         CASE WHEN {SPLIT_PCT_SQL} < {TRAIN_PCT} THEN 'train'
              WHEN {SPLIT_PCT_SQL} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         count(*) AS n_docs
  FROM documents GROUP BY 1, 2
),
t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM g GROUP BY 1)
SELECT g.lang, g.split, g.n_docs, round(g.n_docs * 1.0 / t.n_lang, 6) AS frac
FROM g JOIN t ON g.lang IS NOT DISTINCT FROM t.lang
"""


# --------------------------------------------------------------------------
# tokenizer fertility by language: chars-per-token and bytes-per-token
# (UTF-8) — the diagnostic that tells you which languages your
# whitespace/BPE tokenizer fragments worst, i.e. which languages pay
# the most sequence length per character of content.  Ratio of SUMS
# (corpus fertility), not mean of per-doc ratios, so short docs don't
# dominate; NULL-text docs are excluded per the shared contract.
# One keyed aggregate, map-side combined.
# --------------------------------------------------------------------------
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("chars"),
        F.octet_length("text").cast("bigint").alias("bytes"),
        F.size(_words(F.col("text"))).cast("bigint").alias("tokens"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.round(
            F.sum("chars") / F.nullif(F.sum("tokens"), F.lit(0)), 6
        ).alias("chars_per_token"),
        F.round(
            F.sum("bytes") / F.nullif(F.sum("tokens"), F.lit(0)), 6
        ).alias("bytes_per_token"),
        F.round(
            F.sum("tokens") / F.count(F.lit(1)), 6
        ).alias("tokens_per_doc"),
    )


_SQL_WORDS = _sql_words()

TOKEN_FERTILITY_SQL = f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len({_SQL_WORDS})) AS BIGINT) AS total_tokens,
       round(sum(length(text)) * 1.0
             / nullif(sum(len({_SQL_WORDS})), 0), 6) AS chars_per_token,
       round(sum(strlen(text)) * 1.0
             / nullif(sum(len({_SQL_WORDS})), 0), 6) AS bytes_per_token,
       round(sum(len({_SQL_WORDS})) * 1.0 / count(*), 6) AS tokens_per_doc
FROM documents
WHERE text IS NOT NULL
GROUP BY lang
"""


# --------------------------------------------------------------------------
# Gopher/MassiveText rule-based quality filter (Rae et al. 2021, table
# A1 adapted to the word-level rules): word-count bounds, mean-word-
# length band, minimum distinct stop words, minimum alphabetic-word
# fraction, maximum symbol-to-word ratio.  Line/paragraph rules are
# omitted deliberately (single-line corpus fixture; they'd be the same
# in-row shape).  Pure column expressions, zero shuffle — at 100 TB
# this is an embarrassingly parallel scan whose predicate pushes into
# whatever selection runs downstream.  NULL text fails every rule
# (keep = false) but still emits its doc row, mirroring dq_report's
# "report rows, never drop silently" convention.
# --------------------------------------------------------------------------
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_STOP_TYPES = 2
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
# '#' and the one-codepoint ellipsis, the paper's symbol set
_GOPHER_SYMBOLS = ("#", "…")


@const_cols
def _gopher_cols() -> dict[str, Column]:
    """The Gopher rule columns as in-row expressions over ``text`` —
    ONE definition shared by gopher_quality_rules and the calibration
    composition (classifier_calibration_bins) so the rule set cannot
    drift between them."""
    w = _words(F.col("text"))
    n_words = F.size(w).cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    mean_wlen = nonspace.cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    stop_types = F.size(
        F.array_distinct(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    ).cast("bigint")
    alpha_frac = F.size(
        F.filter(w, lambda x: x.rlike("[a-zA-Z]"))
    ).cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0))
    n_sym = sum(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(s), F.lit("")))
        for s in _GOPHER_SYMBOLS
    )
    symbol_ratio = n_sym.cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    keep = F.coalesce(
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wlen.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (stop_types >= GOPHER_MIN_STOP_TYPES)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO),
        F.lit(False),
    )
    return {
        "n_words": n_words,
        "mean_word_len": F.round(mean_wlen, 6),
        "stop_types": stop_types,
        "alpha_frac": F.round(alpha_frac, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "keep": keep,
    }


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cols = _gopher_cols()
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


GOPHER_RULES_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len({_SQL_WORDS}) AS n_words,
         length(regexp_replace(text, '{SQL_WS}+', '', 'g')) AS nonspace,
         len(list_distinct(list_filter({_SQL_WORDS},
                                       x -> x IN ({_STOP_IN})))) AS stop_types,
         len(list_filter({_SQL_WORDS},
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, chr(8230), ''))) AS n_sym
  FROM documents
)
SELECT doc_id,
       n_words,
       round(nonspace * 1.0 / nullif(n_words, 0), 6)  AS mean_word_len,
       stop_types,
       round(n_alpha * 1.0 / nullif(n_words, 0), 6)   AS alpha_frac,
       round(n_sym * 1.0 / nullif(n_words, 0), 6)     AS symbol_ratio,
       coalesce(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND nonspace * 1.0 / nullif(n_words, 0)
                    BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                AND stop_types >= {GOPHER_MIN_STOP_TYPES}
                AND n_alpha * 1.0 / nullif(n_words, 0)
                    >= {GOPHER_MIN_ALPHA_FRAC}
                AND n_sym * 1.0 / nullif(n_words, 0)
                    <= {GOPHER_MAX_SYMBOL_RATIO},
                false) AS keep
FROM m
"""


# --------------------------------------------------------------------------
# fasttext-style linear quality classifier via the hashing trick: each
# token hashes to one of CLF_BUCKETS weight slots (first 16 md5 bits,
# the same cross-engine hash contract as split_pct); the "model" is a
# deterministic weight table derived from the slot index (a Knuth
# multiplicative mix onto [-10, 10]) so both engines share it without
# a side file.  Score = logistic(sum of token weights / scale).  The
# whole scorer is one in-row fold (aggregate over transform) — zero
# shuffle, no Python, no broadcast; swapping in real trained weights
# means replacing the mix with a 1024-slot broadcast array lookup,
# same plan shape.
# --------------------------------------------------------------------------
CLF_BUCKETS = 1024
CLF_WEIGHT_MOD = 21  # slot weights take values in [-10, 10]
CLF_MIX = 2654435761  # Knuth's multiplicative-hash constant
CLF_SCALE = 32.0


@const_cols
def _clf_cols() -> dict[str, Column]:
    """The hashed-linear-classifier columns as in-row expressions over
    ``text`` — ONE definition shared by quality_classifier_score and
    the calibration composition."""
    w = _words(F.col("text"))

    def tok_weight(x: Column) -> Column:
        slot = (
            F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("bigint")
            % CLF_BUCKETS
        )
        return (slot * F.lit(CLF_MIX)) % F.lit(CLF_WEIGHT_MOD) - F.lit(10)

    raw = F.aggregate(
        w, F.lit(0).cast("bigint"), lambda acc, x: acc + tok_weight(x)
    )
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-raw.cast("double") / F.lit(CLF_SCALE))
    )
    return {
        "n_tokens": F.size(w).cast("bigint"),
        "raw_score": raw,
        "prob": F.round(prob, 6),
        "keep": F.coalesce(raw > 0, F.lit(False)),
    }


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cols = _clf_cols()
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


CLF_TRAINED_SCALE = 250_000.0  # logistic temperature for ppm sums


def quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-fed variant of ``quality_classifier_score`` — proves the
    advertised upgrade path ("swapping in trained weights = a
    1024-slot broadcast lookup, same plan") instead of asserting it:
    the weight table is LEARNED from the corpus (per-slot token
    frequency in ppm, centered on the uniform share 1e6/CLF_BUCKETS)
    rather than the synthetic Knuth mix, and reaches every row as a
    CLF_BUCKETS-element literal array feeding the same in-row fold.

    Two stages:

    1. *train* — explode tokens to their hash slot and count: ONE
       shuffle with CLF_BUCKETS keys, map-side combined, then collect
       the histogram — bounded by the MODEL size (1024 rows), never by
       data (same bounded-collect contract as the kmeans centroids).
       Weights are INTEGER micro-units so every per-doc sum is exact
       int64 arithmetic — no float merge-order flake (dsir's lr_micro
       move).  cnt * 1e6 stays under int64 up to ~9e12 tokens per
       slot; past that, pre-divide cnt before scaling.
    2. *score* — plan shape IDENTICAL to quality_classifier_score: a
       pure in-row fold over the token array, zero shuffle, zero
       Python (tests/test_plans.py pins that neither variant's scoring
       plan contains an Exchange).

    Zero-token/NULL-text semantics mirror the untrained variant
    exactly (NULL words -> NULL raw on both engines)."""
    docs = read_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))

    def slot_of(x: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("bigint")
            % CLF_BUCKETS
        )

    hist = (
        docs.select(F.explode(w).alias("tok"))
        .select(slot_of(F.col("tok")).alias("slot"))
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    n_total = sum(r["cnt"] for r in hist)
    uniform = 1_000_000 // CLF_BUCKETS
    wt = [-uniform] * CLF_BUCKETS
    if n_total > 0:
        # truncating div on non-negative ints == DuckDB's // here
        for r in hist:
            wt[r["slot"]] = r["cnt"] * 1_000_000 // n_total - uniform
    # one SQL-string array literal parsed JVM-side (py4j Column
    # construction for 1024 literals costs ~1s of driver time; the
    # parse is the cheap path — same rationale as the minhash exprs)
    wt_arr = F.expr("array(" + ",".join(f"{v}L" for v in wt) + ")")
    raw = F.aggregate(
        w,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.element_at(wt_arr, (slot_of(x) + F.lit(1)).cast("int")),
    )
    prob = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(raw.cast("double") / F.lit(1_000_000.0)) * F.lit(1_000_000.0 / CLF_TRAINED_SCALE))
    )
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        raw.alias("raw_micro"),
        F.round(prob, 6).alias("prob"),
        F.coalesce(raw > 0, F.lit(False)).alias("keep"),
    )


CLASSIFIER_TRAINED_SQL = f"""
WITH toks AS (
  SELECT unnest({_SQL_WORDS}) AS tok FROM documents
),
hist AS (
  SELECT ('0x' || substr(md5(tok), 1, 4))::BIGINT % {CLF_BUCKETS} AS slot,
         count(*) AS cnt
  FROM toks GROUP BY 1
),
n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hist),
wt AS (
  SELECT g.slot,
         CASE WHEN n.n_total IS NULL OR n.n_total = 0
              THEN -(1000000 // {CLF_BUCKETS})
              ELSE coalesce(h.cnt, 0) * 1000000 // n.n_total
                   - (1000000 // {CLF_BUCKETS})
         END AS w
  FROM (SELECT unnest(generate_series(0, {CLF_BUCKETS} - 1)) AS slot) g
  LEFT JOIN hist h USING (slot), n
),
warr AS (SELECT list(w ORDER BY slot) AS wl FROM wt),
s AS (
  SELECT doc_id, len(words) AS n_tokens,
         CAST(list_sum(list_transform(words,
             x -> wl[(('0x' || substr(md5(x), 1, 4))::BIGINT
                      % {CLF_BUCKETS}) + 1])) AS BIGINT) AS raw_micro
  FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents), warr
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, raw_micro,
       round(1.0 / (1.0 + exp(-(raw_micro / 1000000.0)
                              * (1000000.0 / {CLF_TRAINED_SCALE}))), 6)
         AS prob,
       coalesce(raw_micro > 0, false) AS keep
FROM s
"""


CLASSIFIER_SQL = f"""
WITH s AS (
  SELECT doc_id,
         len({_SQL_WORDS}) AS n_tokens,
         CAST(list_sum(list_transform({_SQL_WORDS},
             x -> ((('0x' || substr(md5(x), 1, 4))::BIGINT % {CLF_BUCKETS})
                   * {CLF_MIX}) % {CLF_WEIGHT_MOD} - 10)) AS BIGINT)
           AS raw_score
  FROM documents
)
SELECT doc_id, n_tokens, raw_score,
       round(1.0 / (1.0 + exp(-raw_score / {CLF_SCALE})), 6) AS prob,
       coalesce(raw_score > 0, false) AS keep
FROM s
"""


# --------------------------------------------------------------------------
# Unicode NFC audit: per language, how many documents are NOT in NFC
# normal form and the total code-point delta normalization would
# introduce.  Mixed-normalization corpora silently split token
# statistics ('café' composed vs decomposed are different tokens to
# every downstream op), so pipelines audit + normalize at ingest; this
# is the audit side.
#
# Engine contract: Spark has no NFC builtin, so normalization runs in
# an Arrow-batched Python stage (unicodedata, UAX #15) against
# DuckDB's utf8proc nfc_normalize.  Unicode's normalization stability
# policy guarantees NFC agreement for assigned codepoints across UCD
# versions — the cross-engine differential test pins the contract on
# generated non-ASCII inputs (the corpus itself is ASCII, where the
# audit is trivially all-clean).
#
# Scale shape: the Python stage emits per-(batch, lang) PARTIALS, not
# per-row flags — the manual map-side combine — so the one shuffle
# carries |langs| x n_batches rows; row-level multiset op, raw table
# on both sides.  NULL text is not auditable and is excluded
# identically.
# --------------------------------------------------------------------------
def text_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 session 2: read WITHOUT the toy-file spread repartition —
    # the NFC probe is a light per-row pass (5000 short strings
    # normalize in milliseconds), so the round-robin exchange of the
    # text column + 32 near-empty Python tasks cost more than the
    # work they parallelized (solo noop 1.0 -> 0.37 s measured
    # interleaved).  At scale the spread was a no-op anyway; the scan
    # parallelism IS the split count on both paths.
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("lang", "text")
        .where(F.col("text").isNotNull())
    )

    def audit(batches):
        import pandas as pd
        import unicodedata

        for pdf in batches:
            if len(pdf) == 0:
                continue
            norm = pdf["text"].map(
                lambda s: unicodedata.normalize("NFC", s)
            )
            out = pd.DataFrame(
                {
                    "lang": pdf["lang"],
                    "one": 1,
                    "not_nfc": (norm != pdf["text"]).astype("int64"),
                    "delta": (
                        norm.str.len() - pdf["text"].str.len()
                    ).astype("int64"),
                }
            )
            yield out.groupby(
                "lang", dropna=False, as_index=False
            ).agg(
                n_part=("one", "sum"),
                nn_part=("not_nfc", "sum"),
                d_part=("delta", "sum"),
            )

    parts = docs.mapInPandas(
        audit, "lang string, n_part bigint, nn_part bigint, d_part bigint"
    )
    return parts.groupBy("lang").agg(
        F.sum("n_part").alias("n_docs"),
        F.sum("nn_part").alias("n_not_nfc"),
        F.sum("d_part").alias("sum_len_delta"),
    )


NFC_AUDIT_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN nfc_normalize(text) <> text
                THEN 1 ELSE 0 END) AS BIGINT) AS n_not_nfc,
       CAST(sum(length(nfc_normalize(text)) - length(text)) AS BIGINT)
         AS sum_len_delta
FROM documents WHERE text IS NOT NULL
GROUP BY lang
"""


# Rotation block: registered after the driver window (see
# __spark_entry__._registries); locally strict-gated like everything
# else.
# --------------------------------------------------------------------------
# Per-source unigram KL divergence vs the whole corpus — the mixture-
# design diagnostic (a source whose token distribution diverges hard
# from the pool gets inspected before its mixture weight is raised).
#
# Algebra chosen for the plan, not the notation: KL_s = sum_t
# (c_st/T_s) ln(c_st T_c / (T_s c_t)) is regrouped as
#   (1/T_s) sum_t c_st (ln c_st - ln c_t)  +  ln T_c - ln T_s
# so the per-(source, token) summand needs only the TOKEN total c_t —
# available from a window over the unbounded token key (sweep-legal) —
# and the bounded-cardinality SOURCE totals fall out of the final
# per-source aggregate itself (no window over `source`, which the
# registry sweep rightly rejects).  T_c is an unpartitioned window
# over the tiny (<= |sources|) aggregate.  Three shuffles, all keyed
# by scaling keys: (source, token) agg -> token window -> source agg.
# Float sums round at 6 with the usual ~6-orders margin.
# --------------------------------------------------------------------------
def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    by_st = (
        docs.select("source", F.explode(_words(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    wt = Window.partitionBy("tok")
    summed = by_st.withColumn(
        "a_st",
        F.col("c_st")
        * (F.log(F.col("c_st")) - F.log(F.sum("c_st").over(wt))),
    )
    per_source = summed.groupBy("source").agg(
        F.sum("c_st").alias("t_s"),
        F.sum("a_st").alias("a_s"),
        F.count(F.lit(1)).alias("n_unique_tokens"),
    )
    w_all = Window.partitionBy()  # over the tiny per-source aggregate
    return per_source.select(
        "source",
        F.col("t_s").cast("bigint").alias("n_tokens"),
        F.col("n_unique_tokens"),
        # + 0.0: a source identical to the pool cancels to a merge-
        # order-signed residue; normalize -0.0 (covariance convention)
        (
            F.round(
                F.col("a_s") / F.col("t_s")
                + F.log(F.sum("t_s").over(w_all).cast("double"))
                - F.log(F.col("t_s").cast("double")),
                6,
            )
            + F.lit(0.0)
        ).alias("kl_vs_corpus"),
    )


SOURCE_DIVERGENCE_SQL = f"""
WITH by_st AS (
  SELECT source, tok, count(*) AS c_st
  FROM (SELECT source, unnest({_SQL_WORDS}) AS tok FROM documents)
  GROUP BY source, tok
),
summed AS (
  SELECT source, c_st,
         c_st * (ln(c_st) - ln(sum(c_st) OVER (PARTITION BY tok))) AS a_st
  FROM by_st
),
per_source AS (
  SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s,
         sum(a_st) AS a_s, count(*) AS n_unique_tokens
  FROM summed GROUP BY source
)
SELECT source, t_s AS n_tokens, n_unique_tokens,
       round(a_s / t_s + ln(CAST(sum(t_s) OVER () AS DOUBLE))
             - ln(CAST(t_s AS DOUBLE)), 6) + 0.0 AS kl_vs_corpus
FROM per_source
"""


# --------------------------------------------------------------------------
# Declared-vs-detected language confusion matrix: cross-tabulate the
# corpus's `lang` column against the n-gram heuristic detector behind
# text_lang_id.  The ingest-QA companion to the detector — a heavy
# off-diagonal cell means either mislabeled data or a detector gap.
# Pure in-row detection + one keyed aggregate (map-side combined);
# both axes are bounded label sets, so the output is a tiny matrix.
# --------------------------------------------------------------------------
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        docs.select("lang", _detect_lang(F.col("text")).alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _confusion_oracle_sql() -> str:
    return f"""
SELECT lang, {_detect_lang_sql("text")} AS detected, count(*) AS n_docs
FROM documents
WHERE text IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Winsorized quality scores: clamp each document's quality score to
# its language's [p05, p95] band — the robust-scaling step pipelines
# run before feeding quality into a sampling weight, so a handful of
# pathological docs can't dominate the weight mass.  Scores come from
# quality_score_expr() (THE shared definition); per-lang bounds are an
# exact interpolated percentile aggregate on the bounded lang key
# (tiny result, broadcast back); the clamp is a pure map.  Scores are
# round(,6) values in [0, 1], so the percentile buffer (a distinct-
# value count map, merged map-side) holds at most ~1e6 entries per
# lang at ANY corpus size — exact quantiles stay scale-safe here.  NULL-text
# docs are excluded explicitly — quality_score_expr's documented
# capped-term default (0.7) is a ranking hazard, not a real score.
# --------------------------------------------------------------------------
def quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTEGER micro-units through the percentiles with exact cut
    # recovery (the funnel-latency sf0.1 midpoint class): scores are
    # round(,6) in [0, 1], so micros = round(score*1e6) is an exact
    # int; the p05/p95 interpolation over ints is then a multiple of
    # 0.05 micros in exact decimal, and round(v*20)/20 recovers it
    # BIT-IDENTICALLY on both engines (their lerp expression shapes
    # differ by ~1 ulp, which the half-integer-free round absorbs).
    # Outputs stay in micro-units: the clamped value is either an
    # exact int or the bit-identical cut — no final rounding, because
    # cut/1e6 + round(,6) would re-land exact 6dp midpoints where the
    # two engines' HALF_UP implementations split.
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        "lang",
        F.round(F.round(quality_score_expr(), 6) * 1e6)
        .cast("bigint")
        .alias("score_micro"),
    )
    qs = scored.groupBy("lang").agg(
        (F.round(F.expr("percentile(score_micro, 0.05)") * 20) / 20).alias(
            "p05"
        ),
        (F.round(F.expr("percentile(score_micro, 0.95)") * 20) / 20).alias(
            "p95"
        ),
    )
    return scored.join(F.broadcast(qs), "lang").select(
        "doc_id",
        "lang",
        "score_micro",
        F.least(
            F.greatest(F.col("score_micro").cast("double"), F.col("p05")),
            F.col("p95"),
        ).alias("score_w_micro"),
        (
            (F.col("score_micro") < F.col("p05"))
            | (F.col("score_micro") > F.col("p95"))
        ).alias("clipped"),
    )


# the m-CTE mirrors QUALITY_SQL's score formula (both transcribe
# quality_score_expr; QUALITY_SQL is left untouched on purpose — its
# driver row predates this op)
WINSORIZE_SQL = f"""
WITH m AS (
  SELECT doc_id, lang,
         len({_sql_words()}) AS n_words,
         len(list_filter({_sql_words()}, x -> x IN ({_STOP_IN}))) AS n_stop,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text,
             '[^\\w{SQL_WS_CHARS}]', '', 'g')) AS n_punct
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT doc_id, lang,
         CAST(round(round(least(n_words / 100.0, 1.0) * 0.4
               + (1.0 - least(n_punct * 10.0 / nullif(n_chars, 0), 1.0)) * 0.3
               + least(n_stop * 5.0 / n_words, 1.0) * 0.3, 6) * 1000000)
           AS BIGINT) AS score_micro
  FROM m
),
qs AS (
  SELECT lang,
         round(quantile_cont(score_micro, 0.05) * 20) / 20 AS p05,
         round(quantile_cont(score_micro, 0.95) * 20) / 20 AS p95
  FROM scored GROUP BY lang
)
SELECT doc_id, lang, score_micro,
       least(greatest(CAST(score_micro AS DOUBLE), p05), p95)
         AS score_w_micro,
       (score_micro < p05 OR score_micro > p95) AS clipped
FROM scored JOIN qs USING (lang)
"""


# --------------------------------------------------------------------------
# Flesch reading-ease readability: 206.835 - 1.015*(words/sentences)
# - 84.6*(syllables/words), the standard curation signal for "is this
# prose or a parts list" (used alongside the Gopher rules to route
# documents between quality buckets).  Heuristics, stated exactly:
# words are THE shared tokenizer (_words); sentences are runs of
# [.!?] with a floor of 1 (a fragment still reads as one sentence);
# syllables are vowel-group runs [aeiouy]+ on the shared lowercase
# form — the classic approximation, biased low for silent-e words,
# identical on both engines (ASCII class, RE2 == Java here).
#
# Scale shape: pure in-row regex/array projections over the corpus
# scan — zero shuffle, zero Python (the text_pii_scrub shape).  The
# formula is per-row double arithmetic in one fixed expression order,
# so cross-engine equality is exact; round(,4) + 0.0 per the -0.0
# convention (a doc can land exactly on 0).
# --------------------------------------------------------------------------
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_words = F.size(_words(F.col("text"))).cast("bigint")
    n_sents = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))).cast(
            "bigint"
        ),
    )
    n_syll = F.size(
        F.regexp_extract_all(
            jlower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0)
        )
    ).cast("bigint")
    scored = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (
            F.col("n_syllables")
            / F.nullif(F.col("n_words"), F.lit(0)).cast("double")
        )
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.round(flesch, 4) + F.lit(0.0)).alias("flesch"),
    )


READABILITY_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len({_sql_words("text")}) AS BIGINT) AS n_words,
         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
                          AS BIGINT)) AS n_sentences,
         CAST(len(regexp_extract_all({_sql_lower("text")}, '[aeiouy]+'))
              AS BIGINT) AS n_syllables
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835
             - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
             - 84.6 * (n_syllables / CAST(nullif(n_words, 0) AS DOUBLE)),
             4) + 0.0 AS flesch
FROM scored
"""


# --------------------------------------------------------------------------
# OOV (out-of-vocabulary) rate per language against the corpus's own
# top-K vocabulary — the tokenizer-fit diagnostic: a language whose
# tokens mostly fall outside the shared vocab will fragment into
# subwords at train time (token_fertility_by_lang measures the cost;
# this measures the cause).  The vocab is THE vocab_top_terms
# definition (global count DESC, word ASC — a deterministic total
# order at the K boundary on both engines).
#
# Scale shape: the vocab build is a global top-K
# (TakeOrderedAndProject — per-partition heads, K*P merge, never a
# global sort); the membership probe is a BROADCAST left join of the
# token stream against the K-row vocab (model-bounded, not
# data-bounded); then one map-side-combined agg on lang.  NULL-text
# docs explode to zero tokens on both engines (split(NULL) is NULL in
# Spark, unnest(NULL) is empty in DuckDB).
# --------------------------------------------------------------------------
def vocab_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("vn"))
        .orderBy(F.col("vn").desc(), F.col("word"))
        .limit(VOCAB_TOP_K)
        .select("word")
    )
    toks = docs.select(
        "lang", F.explode(_words(F.col("text"))).alias("word")
    )
    probed = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    return probed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
        F.round(
            F.sum(F.col("in_vocab").isNull().cast("bigint")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


OOV_RATE_SQL = f"""
WITH vocab AS (
  SELECT word FROM (
    SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
    FROM (SELECT unnest({_sql_words()}) AS word FROM documents) t
    GROUP BY word
  ) r WHERE rk <= {VOCAB_TOP_K}
),
tok AS (
  SELECT lang, unnest({_sql_words()}) AS word FROM documents
)
SELECT lang,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (word)
GROUP BY lang
"""


# --------------------------------------------------------------------------
# Per-document token entropy: Shannon entropy of the doc's own token
# distribution — the repetition/diversity screen that catches
# keyword-stuffed and template-generated pages quality_repetition's
# fixed-window max misses (a page cycling 5 phrases has high window
# diversity but low entropy).  Written as H = ln(n) − Σ c·ln(c) / n
# so a fully-distinct doc is EXACTLY ln(n) (the Σ term is 0) and an
# all-same doc cancels to 0.  One explode + two keyed aggregates on
# (doc_id, tok) then doc_id — both scaling keys.  Float margin: the
# Σ c·ln(c) sum is per-doc (≤ tokens/doc terms, bounded by doc
# length), merge-order noise ~1e-14 relative against the 1e-6
# rounding quantum; +0.0 normalizes the cancellation case's −0.0.
# Raw corpus read, the text_token_count family convention (the
# oracle reads raw too; dup ids agree row-for-row).
# --------------------------------------------------------------------------
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_words(F.col("text"))).alias("tok")
    )
    counts = docs.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").cast("double")
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        (
            F.round(
                F.log(n)
                - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
                6,
            )
            + F.lit(0.0)
        ).alias("token_entropy"),
    )


TOKEN_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS tok FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_unique,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(c * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) + 0.0 AS token_entropy
FROM counts GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Classifier calibration (reliability table): decile-bin the hashed
# linear classifier's probability and compare mean predicted
# probability against the EMPIRICAL pass rate of the independent
# Gopher rule labels — the eval a pipeline runs before trusting a
# quality score as a sampling weight (the ann_recall_report pattern:
# compose two shipped per-doc operators and measure one against the
# other, same two-scan + scaling-key-join shape the recall report
# pinned).  gap = mean predicted - observed rate per bin; |gap| large
# means the score is mis-calibrated there and downstream temperature/
# threshold choices would be wrong.
#
# Floats: prob is round(,6) in [0, 1], so mean-predicted aggregates
# EXACT integer micro-units (round(prob*1e6) -> int64; sum < n x 1e6,
# the silhouette bound); pass_rate is one int/int division; gap is
# one IEEE subtraction of the two rounded means, + 0.0 for the -0.0
# sweep.  Bin ids come from the rounded prob (floor(prob*10) capped
# at 9), so bin assignment cannot straddle engines.
# --------------------------------------------------------------------------
def classifier_calibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # r10 optimization: both component ops are pure per-row
    # projections of the SAME docs scan, so the doc_id equi-join of
    # their outputs is the identity — compute prob and the Gopher keep
    # in ONE select (one scan, one tokenize pass, zero join exchange;
    # was: two full scans + a doc-keyed shuffle join).  The shared
    # _clf_cols/_gopher_cols expression factories keep the semantics
    # pinned to the component ops; the oracle still spells the join.
    docs = read_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        _clf_cols()["prob"].alias("prob"),
        _gopher_cols()["keep"].alias("keep"),
    ).where(F.col("prob").isNotNull())
    binned = j.select(
        F.least(F.floor(F.col("prob") * 10), F.lit(9))
        .cast("bigint")
        .alias("bin"),
        F.round(F.col("prob") * 1e6).cast("bigint").alias("p_micro"),
        F.col("keep").cast("bigint").alias("pass_flag"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("p_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_predicted"),
        F.round(
            F.sum("pass_flag").cast("double") / F.count(F.lit(1)), 6
        ).alias("pass_rate"),
        (
            F.round(
                F.sum("p_micro").cast("double") / F.count(F.lit(1)) / 1e6
                - F.sum("pass_flag").cast("double") / F.count(F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("calibration_gap"),
    )


# the oracle mirrors the one-pass composition (r10 optimization): the
# prob and keep expressions are the component oracles' fragments
# VERBATIM, computed from one scan of documents — exactly like the
# Spark side's single select, so dup-id multiplicity agrees on every
# axis (one output row per input row, never the join's k^2)
CALIBRATION_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len({_SQL_WORDS}) AS n_words,
         length(regexp_replace(text, '{SQL_WS}+', '', 'g')) AS nonspace,
         len(list_distinct(list_filter({_SQL_WORDS},
                                       x -> x IN ({_STOP_IN})))) AS stop_types,
         len(list_filter({_SQL_WORDS},
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, chr(8230), ''))) AS n_sym,
         CAST(list_sum(list_transform({_SQL_WORDS},
             x -> ((('0x' || substr(md5(x), 1, 4))::BIGINT % {CLF_BUCKETS})
                   * {CLF_MIX}) % {CLF_WEIGHT_MOD} - 10)) AS BIGINT)
           AS raw_score
  FROM documents
),
j AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-raw_score / {CLF_SCALE})), 6) AS prob,
         coalesce(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                  AND nonspace * 1.0 / nullif(n_words, 0)
                      BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                  AND stop_types >= {GOPHER_MIN_STOP_TYPES}
                  AND n_alpha * 1.0 / nullif(n_words, 0)
                      >= {GOPHER_MIN_ALPHA_FRAC}
                  AND n_sym * 1.0 / nullif(n_words, 0)
                      <= {GOPHER_MAX_SYMBOL_RATIO},
                  false) AS keep
  FROM m
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(p_micro) AS DOUBLE) / count(*) / 1000000.0, 6)
         AS mean_predicted,
       round(CAST(sum(pass_flag) AS DOUBLE) / count(*), 6) AS pass_rate,
       round(CAST(sum(p_micro) AS DOUBLE) / count(*) / 1000000.0
             - CAST(sum(pass_flag) AS DOUBLE) / count(*), 6) + 0.0
         AS calibration_gap
FROM (
  SELECT CAST(least(floor(j.prob * 10), 9) AS BIGINT) AS bin,
         CAST(round(j.prob * 1000000) AS BIGINT) AS p_micro,
         CASE WHEN j.keep THEN 1 ELSE 0 END AS pass_flag
  FROM j
  WHERE j.prob IS NOT NULL
) t
GROUP BY bin
"""


QUERIES = {
    "text_token_count": text_token_count,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "split_train_holdout": split_train_holdout,
    "split_unigram_jsd": split_unigram_jsd,
    "vocab_top_terms": vocab_top_terms,
    "doc_length_buckets": doc_length_buckets,
    "text_unigram_logppl": text_unigram_logppl,
    "classifier_calibration_bins": classifier_calibration_bins,
    "text_token_entropy": text_token_entropy,
    "vocab_oov_rate_by_lang": vocab_oov_rate_by_lang,
    "text_readability": text_readability,
    "quality_winsorize": quality_winsorize,
    "source_unigram_divergence": source_unigram_divergence,
    "lang_confusion_matrix": lang_confusion_matrix,
    "stratified_split_report": stratified_split_report,
    "token_fertility_by_lang": token_fertility_by_lang,
    "gopher_quality_rules": gopher_quality_rules,
    "quality_classifier_score": quality_classifier_score,
    "quality_classifier_trained": quality_classifier_trained,
    "text_nfc_audit": text_nfc_audit,
}

ORACLE = {
    "text_token_count": TOKEN_COUNT_SQL,
    "text_tfidf_top_terms": TFIDF_SQL,
    "text_quality_score": QUALITY_SQL,
    "text_lang_id": _lang_oracle_sql(),
    "text_fingerprint": FINGERPRINT_SQL,
    "split_train_holdout": SPLIT_SQL,
    "split_unigram_jsd": SPLIT_JSD_SQL,
    "vocab_top_terms": VOCAB_SQL,
    "doc_length_buckets": LENGTH_BUCKETS_SQL,
    "text_unigram_logppl": UNIGRAM_LOGPPL_SQL,
    "classifier_calibration_bins": CALIBRATION_SQL,
    "text_token_entropy": TOKEN_ENTROPY_SQL,
    "vocab_oov_rate_by_lang": OOV_RATE_SQL,
    "text_readability": READABILITY_SQL,
    "quality_winsorize": WINSORIZE_SQL,
    "source_unigram_divergence": SOURCE_DIVERGENCE_SQL,
    "lang_confusion_matrix": _confusion_oracle_sql(),
    "stratified_split_report": STRATIFIED_SPLIT_SQL,
    "token_fertility_by_lang": TOKEN_FERTILITY_SQL,
    "gopher_quality_rules": GOPHER_RULES_SQL,
    "quality_classifier_score": CLASSIFIER_SQL,
    "quality_classifier_trained": CLASSIFIER_TRAINED_SQL,
    "text_nfc_audit": NFC_AUDIT_SQL,
}


# --------------------------------------------------------------------------
# Lexical diversity by source (round 9): tokens, vocabulary size,
# type-token ratio, and the hapax-legomena share per source — the
# lexical-health screen behind mixture decisions (a source whose TTR
# collapses is template spam however good its quality score; a hapax
# share near 1 is OCR noise or ID soup).  Complements
# vocab_oov_rate_by_lang (which scores against a FIXED vocabulary)
# with vocabulary-growth signals measured on the source itself.
#
# Scale shape: one corpus scan -> explode through the SHARED jlower
# tokenizer contract -> ONE (source, word) keyed aggregate (the key
# scales with the vocabulary, partials combine map-side) -> a second
# aggregate that regroups the compacted per-(source, word) rows on
# source (bounded key is fine for groupBy — partials combine; the
# sweep bans bounded-key WINDOWS).  Counts are exact int64; the two
# ratios are single divisions, round(,6).
# --------------------------------------------------------------------------
def lexical_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tok = read_table(spark, sf_dir, "documents").select(
        "source", F.explode(_words(F.col("text"))).alias("word")
    )
    counts = tok.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            "round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)"
            " AS ttr",
            "round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)"
            " AS hapax_ratio",
        )
    )


LEXDIV_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_sql_words()}) AS word FROM documents
),
counts AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY source, word
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
FROM counts GROUP BY source
"""


QUERIES["lexical_diversity_by_source"] = lexical_diversity_by_source
ORACLE["lexical_diversity_by_source"] = LEXDIV_SQL


# --------------------------------------------------------------------------
# Script-mix audit (round 9): per-doc character composition across
# explicit codepoint-range classes (Latin incl. Latin-1/Extended,
# Cyrillic, Greek, CJK+kana+hangul, ASCII digits) plus a mixed-script
# flag — the homoglyph/spam screen a curation pass runs before
# trusting lang-ID (Cyrillic 'а' in Latin words defeats dictionary
# filters silently).  Classes are EXPLICIT ranges, never \\p{Script}
# (the cross-engine fuzz campaign: Java and RE2 ship different Unicode
# property tables; literal ranges are table-free).  The ranges are a
# heuristic envelope — U+00D7/U+00F7 ride along in the Latin block —
# which is fine for a screen, and identical on both engines.
#
# Scale shape: pure in-row regexp_count projections over one scan —
# no shuffle at all.  Counts are exact ints; the >= 5% script cuts and
# the mixed flag are EXACT integer predicates (cnt * 20 >= n_chars),
# so the flag cannot drift by a rounding ulp; fractions are
# display-only round(,6).
# --------------------------------------------------------------------------
_SCRIPT_CLASSES = [
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[一-鿿぀-ヿ가-힯]"),
    ("digit", "[0-9]"),
]
_MIX_SCRIPTS = ("latin", "cyrillic", "greek", "cjk")  # digit never mixes


def text_script_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counted = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).cast("bigint").alias(
                f"c_{name}"
            )
            for name, pat in _SCRIPT_CLASSES
        ],
    )
    frac_cols = [
        f"""CASE WHEN n_chars = 0 THEN NULL
             ELSE round(CAST(c_{name} AS DOUBLE)
                        / CAST(n_chars AS DOUBLE), 6)
        END AS frac_{name}"""
        for name, _ in _SCRIPT_CLASSES
    ]
    present = " + ".join(
        f"(CASE WHEN c_{n} > 0 AND c_{n} * 20 >= n_chars"
        " THEN 1 ELSE 0 END)"
        for n in _MIX_SCRIPTS
    )
    return counted.selectExpr(
        "doc_id",
        "n_chars",
        *frac_cols,
        f"({present}) >= 2 AS is_mixed_script",
    )


def _script_mix_sql() -> str:
    cnt = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
        f" AS c_{name}"
        for name, pat in _SCRIPT_CLASSES
    )
    fracs = ",\n       ".join(
        f"""CASE WHEN n_chars = 0 THEN NULL
            ELSE round(CAST(c_{name} AS DOUBLE)
                       / CAST(n_chars AS DOUBLE), 6)
       END AS frac_{name}"""
        for name, _ in _SCRIPT_CLASSES
    )
    present = " + ".join(
        f"(CASE WHEN c_{n} > 0 AND c_{n} * 20 >= n_chars"
        " THEN 1 ELSE 0 END)"
        for n in _MIX_SCRIPTS
    )
    return f"""
WITH counted AS (
  SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       {cnt}
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_chars,
       {fracs},
       ({present}) >= 2 AS is_mixed_script
FROM counted
"""


QUERIES["text_script_mix_audit"] = text_script_mix_audit
ORACLE["text_script_mix_audit"] = _script_mix_sql()


# --------------------------------------------------------------------------
# MATTR — moving-average type-token ratio (round 10, Covington &
# McFall 2010): the length-robust lexical-diversity measure next to
# lexical_diversity_by_source's raw TTR (raw TTR falls mechanically
# with document length, so cross-length comparisons need either
# MATTR's fixed window or Heaps-style modeling; quality filters use
# MATTR to catch keyword-stuffed / template docs whose local
# vocabulary collapses even when the global TTR looks fine).  Per
# doc: the mean over every MATTR_W-token window of (distinct tokens
# in window) / MATTR_W; docs shorter than the window carry NULL
# (their raw TTR column still reports).
#
# Scale shape: pure IN-ROW computation — the token array
# materializes ONCE per doc (a named column, NOT an inline split:
# Catalyst does not CSE inside higher-order-function lambdas, the
# bench-warmup n-gram lesson), and the window fold is
# aggregate(sequence(...)) over slices of that array: O(tokens x W)
# arithmetic per row, zero shuffle, zero join.  The degenerate
# sequence guard (n < W -> no windows) is an explicit CASE on both
# engines (Spark's sequence(1, 0) counts DOWN while DuckDB's
# generate_series(1, 0) is empty — the bpe_merge_candidates trap).
# Counts are exact ints; each ratio is one double division,
# round(,6).
# --------------------------------------------------------------------------
MATTR_W = 25


def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", _words(F.col("text")).alias("w"))
    return toks.selectExpr(
        "doc_id",
        "CAST(size(w) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(w)) AS BIGINT) AS n_types",
        f"""CASE WHEN size(w) >= {MATTR_W} THEN
              aggregate(
                sequence(1, size(w) - {MATTR_W} + 1),
                CAST(0 AS BIGINT),
                (acc, i) -> acc + size(array_distinct(
                              slice(w, i, {MATTR_W})))
              )
            END AS type_sum""",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_types",
        "round(CAST(n_types AS DOUBLE)"
        " / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6) AS ttr",
        f"""CASE WHEN n_tokens >= {MATTR_W} THEN
              round(CAST(type_sum AS DOUBLE)
                    / CAST(n_tokens - {MATTR_W} + 1 AS DOUBLE)
                    / {float(MATTR_W)}, 6)
            END AS mattr""",
    )


MATTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_sql_words()} AS w FROM documents
  WHERE text IS NOT NULL
),
per_doc AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
         CASE WHEN len(w) >= {MATTR_W} THEN
           CAST(list_sum(list_transform(
             generate_series(1, len(w) - {MATTR_W} + 1),
             i -> len(list_distinct(
                    list_slice(w, i, i + {MATTR_W} - 1)))
           )) AS BIGINT)
         END AS type_sum
  FROM toks
)
SELECT doc_id,
       n_tokens,
       n_types,
       round(CAST(n_types AS DOUBLE)
             / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6) AS ttr,
       CASE WHEN n_tokens >= {MATTR_W} THEN
         round(CAST(type_sum AS DOUBLE)
               / CAST(n_tokens - {MATTR_W} + 1 AS DOUBLE)
               / {float(MATTR_W)}, 6)
       END AS mattr
FROM per_doc
"""


QUERIES["text_mattr_diversity"] = text_mattr_diversity
ORACLE["text_mattr_diversity"] = MATTR_SQL


# --------------------------------------------------------------------------
# Classifier gains/lift table (round 10): the cumulative companion to
# classifier_calibration_bins — walk the same prob-value bins from
# the TOP score down and report, per bin, what a pipeline keeping
# "everything scored at or above this bin" would get: cumulative doc
# share, cumulative capture of the Gopher-rule positives (the gains
# curve), and the lift over the base rate.  This is the readout that
# picks a quality-score THRESHOLD (calibration says whether the
# probabilities are honest; lift says where to cut).
#
# Scale shape: one scaling-key join of the two shipped per-doc
# operators (the calibration/recall-report composition shape), one
# 10-row bin aggregate, then prefix sums over the FENCED 10-row bin
# table (the unpartitioned cumulative window runs on a constant-size
# input — the offset-table class).  Counts exact int64; every
# rate/lift is a fixed-shape double expression over them with
# nullif-guarded denominators, round(,6).
# --------------------------------------------------------------------------
def classifier_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # r10: same one-pass composition as classifier_calibration_bins —
    # both scorers are per-row projections of the same scan, so the
    # doc_id join was the identity (one scan, one tokenize pass, zero
    # join exchange; oracle mirrors the one-scan shape)
    docs = read_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        _clf_cols()["prob"].alias("prob"),
        _gopher_cols()["keep"].alias("keep"),
    ).where(F.col("prob").isNotNull())
    bins = (
        j.select(
            F.least(F.floor(F.col("prob") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin"),
            F.col("keep").cast("bigint").alias("pass_flag"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pass_flag").cast("bigint").alias("n_pos"),
        )
    )
    # r11: totals ride an unpartitioned window over the BOUNDED bin
    # table (<= 10 rows post-aggregate) instead of the r10 fence +
    # 1-row-aggregate broadcast join — the fence's localCheckpoint ran
    # the whole scan+scorer job at CONSTRUCTION time and was re-paid
    # on every call (cons 1.33 s solo); in-plan totals make the query
    # one job with zero extra exchanges of the corpus (exact int sums,
    # results identical, oracle unchanged)
    w = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bins.withColumn("cum_docs", F.sum("n_docs").over(w).cast("bigint"))
        .withColumn("cum_pos", F.sum("n_pos").over(w).cast("bigint"))
        .withColumn("t_docs", F.sum("n_docs").over(w_all).cast("bigint"))
        .withColumn("t_pos", F.sum("n_pos").over(w_all).cast("bigint"))
        .selectExpr(
            "bin",
            "n_docs",
            "n_pos",
            "cum_docs",
            "cum_pos",
            "round(CAST(cum_docs AS DOUBLE)"
            " / nullif(CAST(t_docs AS DOUBLE), 0.0), 6) AS doc_share",
            "round(CAST(cum_pos AS DOUBLE)"
            " / nullif(CAST(t_pos AS DOUBLE), 0.0), 6) AS capture",
            """round((CAST(cum_pos AS DOUBLE)
                      / nullif(CAST(cum_docs AS DOUBLE), 0.0))
                     / nullif(CAST(t_pos AS DOUBLE)
                              / nullif(CAST(t_docs AS DOUBLE), 0.0),
                              0.0), 6) AS cum_lift""",
        )
    )


# r10: the oracle mirrors the one-pass composition — prob and keep
# from ONE scan of documents (verbatim component fragments, the
# CALIBRATION_SQL shape), so dup-id multiplicity agrees on every axis
LIFT_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len({_SQL_WORDS}) AS n_words,
         length(regexp_replace(text, '{SQL_WS}+', '', 'g')) AS nonspace,
         len(list_distinct(list_filter({_SQL_WORDS},
                                       x -> x IN ({_STOP_IN})))) AS stop_types,
         len(list_filter({_SQL_WORDS},
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, chr(8230), ''))) AS n_sym,
         CAST(list_sum(list_transform({_SQL_WORDS},
             x -> ((('0x' || substr(md5(x), 1, 4))::BIGINT % {CLF_BUCKETS})
                   * {CLF_MIX}) % {CLF_WEIGHT_MOD} - 10)) AS BIGINT)
           AS raw_score
  FROM documents
),
j AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-raw_score / {CLF_SCALE})), 6) AS prob,
         coalesce(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                  AND nonspace * 1.0 / nullif(n_words, 0)
                      BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                  AND stop_types >= {GOPHER_MIN_STOP_TYPES}
                  AND n_alpha * 1.0 / nullif(n_words, 0)
                      >= {GOPHER_MIN_ALPHA_FRAC}
                  AND n_sym * 1.0 / nullif(n_words, 0)
                      <= {GOPHER_MAX_SYMBOL_RATIO},
                  false) AS keep
  FROM m
),
bins AS (
  SELECT CAST(least(floor(j.prob * 10), 9) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN j.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM j
  WHERE j.prob IS NOT NULL
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
         CAST(sum(n_pos) AS BIGINT) AS t_pos
  FROM bins
),
cum AS (
  SELECT bin, n_docs, n_pos,
         CAST(sum(n_docs) OVER (ORDER BY bin DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
         CAST(sum(n_pos) OVER (ORDER BY bin DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
  FROM bins
)
SELECT bin, n_docs, n_pos, cum_docs, cum_pos,
       round(CAST(cum_docs AS DOUBLE)
             / nullif(CAST(t_docs AS DOUBLE), 0.0), 6) AS doc_share,
       round(CAST(cum_pos AS DOUBLE)
             / nullif(CAST(t_pos AS DOUBLE), 0.0), 6) AS capture,
       round((CAST(cum_pos AS DOUBLE)
              / nullif(CAST(cum_docs AS DOUBLE), 0.0))
             / nullif(CAST(t_pos AS DOUBLE)
                      / nullif(CAST(t_docs AS DOUBLE), 0.0),
                      0.0), 6) AS cum_lift
FROM cum CROSS JOIN tot
"""


QUERIES["classifier_lift_gains"] = classifier_lift_gains
ORACLE["classifier_lift_gains"] = LIFT_SQL
