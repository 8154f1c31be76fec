"""Text-analysis operators for a training-data pipeline: token stats,
quality scoring, language ID, document fingerprinting.

JVM-side built-ins wherever expressible (token/char stats, md5 fingerprint
— all hashable against DuckDB); language ID is a script/stopword n-gram
heuristic in an Arrow-batched pandas UDF (fixture-parquet oracle from the
pure-Python path, plus pytest vs datagen's ground-truth ``lang``).

Ratio metrics are emitted as ``floor(10000 * a / b)`` integers — floor of a
double division is bit-stable across engines, unlike ROUND whose half-way
rule differs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.functions.md5int import md5_int, md5_int_sql
from ocr_platform_spark.operators.registry import fixture_sql as _fixture_sql
from ocr_platform_spark.operators.tables import load


# --- token + quality stats (SQL-expressible) ------------------------------
def ta_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = ws.tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.floor(10000.0 * n_uniq / n_tok).cast("long").alias("ttr_x10k"),
        F.floor(F.length(ws.squash("text"))
                * 10000.0 / n_tok).cast("long").alias("avg_tok_len_x10k"))


TA_TOKEN_SQL = rf"""
SELECT doc_id,
       length(text) AS n_chars,
       len({ws.tokens_sql("text")}) AS n_tokens,
       len(list_distinct({ws.tokens_sql("text")})) AS n_uniq_tokens,
       CAST(floor(10000.0 * len(list_distinct({ws.tokens_sql("text")}))
                  / len({ws.tokens_sql("text")})) AS BIGINT) AS ttr_x10k,
       CAST(floor(length({ws.squash_sql("text")}) * 10000.0
                  / len({ws.tokens_sql("text")})) AS BIGINT) AS avg_tok_len_x10k
FROM documents
"""


def ta_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-grade quality signals (length bounds, repetition, stop ratio)
    — the standard web-corpus heuristics (C4/Gopher-style) as pure SQL."""
    docs = load(spark, sf_dir, "documents")
    toks = ws.tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stop_hits = (F.size(F.filter(toks, lambda t: t.isin("the", "a", "and", "of", "to"))))
    return docs.select(
        "doc_id",
        (F.length("text") < 100).alias("too_short"),
        (n_tok > 0).alias("nonempty"),
        (F.floor(10000.0 * n_uniq / n_tok) < 3000).cast("boolean").alias("repetitive"),
        F.floor(10000.0 * stop_hits / n_tok).cast("long").alias("stop_ratio_x10k"))


TA_QUALITY_SQL = rf"""
SELECT doc_id,
       length(text) < 100 AS too_short,
       len({ws.tokens_sql("text")}) > 0 AS nonempty,
       CAST(floor(10000.0 * len(list_distinct({ws.tokens_sql("text")}))
                  / len({ws.tokens_sql("text")})) < 3000 AS BOOLEAN)
           AS repetitive,
       CAST(floor(10000.0 * len(list_filter({ws.tokens_sql("text")},
                                            t -> t IN ('the','a','and','of','to')))
                  / len({ws.tokens_sql("text")})) AS BIGINT)
           AS stop_ratio_x10k
FROM documents
"""


# Gopher's stop-word rule is language-specific; the published English list
# is {the, be, to, of, and, that, have, with} — extended here with 'a' plus
# Arabic/Turkish function words so the rule discriminates on every corpus
# language instead of auto-failing non-English docs.
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in",
                    "من", "في", "على", "ve", "bir")
# bullet glyphs for the lines-based rule (Gopher §A1.1: <=90% of lines may
# start with a bullet; <=30% may end with an ellipsis)
_BULLETS = ("•", "-", "*", "●")


def gopher_checks(text: F.Column) -> tuple[dict[str, F.Column],
                                           F.Column, F.Column]:
    """The Gopher rule set as column expressions over an arbitrary text
    column: returns ({check_name: bool_col}, n_tok, mean_word_len_x10k).
    Shared by ``ta_gopher_quality`` (documents table) and
    ``plans/corpus_job`` (extracted crawl text) so the filter thresholds
    stay single-sourced."""
    toks = ws.tokens(text)
    n_tok = F.size(toks)
    n_chars_in_toks = F.length(ws.squash(text))
    mean_wl_x10k = F.floor(10000.0 * n_chars_in_toks / n_tok)
    n_sym = (F.length(text)
             - F.length(F.regexp_replace(text, r"[#…]", "")))
    sym_ratio_x10k = F.floor(10000.0 * n_sym / n_tok)
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z؀-ۿ]")))
    alpha_ratio_x10k = F.floor(10000.0 * n_alpha_words / n_tok)
    stop_distinct = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    bullet_set = F.array(*[F.lit(b) for b in _BULLETS])
    n_bullet = F.size(F.filter(
        lines, lambda l: F.array_contains(
            bullet_set, F.substring(F.trim(l), 1, 1))))
    n_ellipsis = F.size(F.filter(
        lines, lambda l: F.trim(l).endswith("…") | F.trim(l).endswith("...")))
    checks = {
        "wc_ok": (n_tok >= 50) & (n_tok <= 100000),
        "mwl_ok": (mean_wl_x10k >= 30000) & (mean_wl_x10k <= 100000),
        "sym_ok": sym_ratio_x10k <= 1000,
        "alpha_ok": alpha_ratio_x10k >= 8000,
        "stop_ok": stop_distinct >= 2,
        "bullet_ok": F.floor(10000.0 * n_bullet / n_lines) <= 9000,
        "ellipsis_ok": F.floor(10000.0 * n_ellipsis / n_lines) <= 3000,
    }
    return checks, n_tok, mean_wl_x10k


def gopher_pass(checks: dict[str, F.Column]) -> F.Column:
    passed = None
    for c in checks.values():
        passed = c if passed is None else (passed & c)
    return passed


def ta_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021, §A1.1) as pure
    JVM column math — the standard pretraining-corpus document filter:

    - word count in [50, 100_000]
    - mean word length in [3, 10] chars
    - symbol-to-word ratio ('#' or '…') <= 0.1
    - fraction of words with >=1 alphabetic char >= 0.80
    - >= 2 distinct common stopwords present ("harmful boilerplate" guard)
    - <= 90% of lines start with a bullet glyph
    - <= 30% of lines end with an ellipsis

    The line rules split on '\\n' (a single-line doc is one line — both
    trivially pass, as Gopher intends for prose); pytest pins multi-line
    bullet/ellipsis fixtures against DuckDB. Every ratio is floor(10000*x)
    integer math so the DuckDB value-hash is bit-stable.
    """
    docs = load(spark, sf_dir, "documents")
    checks, n_tok, mean_wl_x10k = gopher_checks(F.col("text"))
    passed = gopher_pass(checks)
    return docs.select(
        "doc_id", n_tok.alias("n_words"),
        mean_wl_x10k.cast("long").alias("mean_word_len_x10k"),
        *[v.alias(k) for k, v in checks.items()],
        passed.alias("gopher_pass"))


_SQL_STOPLIST = "[" + ",".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
_SQL_BULLETS = "[" + ",".join(f"'{b}'" for b in _BULLETS) + "]"

def gopher_sql_ctes(src: str, key: str = "doc_id") -> str:
    """DuckDB CTE chain ``g_t, g_m`` computing the Gopher metrics over
    relation ``src`` keyed by ``key`` — shared by TA_GOPHER_SQL and the
    corpus-pipeline oracle so the SQL side of the rule set stays
    single-sourced exactly like the Spark side (``gopher_checks``)."""
    return rf"""g_t AS (
  SELECT {key},
         {ws.tokens_sql("text")} AS toks,
         len({ws.tokens_sql("text")}) AS n_tok,
         length({ws.squash_sql("text")}) AS n_chars,
         length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS n_sym,
         regexp_split_to_array(text, '\n') AS lines,
         text
  FROM {src}),
g_m AS (
  SELECT {key}, n_tok,
         floor(10000.0 * n_chars / n_tok) AS mwl,
         floor(10000.0 * n_sym / n_tok) AS symr,
         floor(10000.0 * len(list_filter(toks,
               x -> regexp_matches(x, '[A-Za-z؀-ۿ]'))) / n_tok) AS alphar,
         len(list_intersect(list_distinct(toks),
             {_SQL_STOPLIST})) AS stopd,
         floor(10000.0 * len(list_filter(lines,
               l -> list_contains({_SQL_BULLETS}, substr(trim(l, ' '), 1, 1))))
               / len(lines)) AS bulletr,
         floor(10000.0 * len(list_filter(lines,
               l -> ends_with(trim(l, ' '), '…') OR ends_with(trim(l, ' '), '...')))
               / len(lines)) AS ellipsisr
  FROM g_t)"""


GOPHER_SQL_PASS = (
    "(n_tok >= 50 AND n_tok <= 100000) AND (mwl >= 30000 AND mwl <= 100000) "
    "AND symr <= 1000 AND alphar >= 8000 AND stopd >= 2 "
    "AND bulletr <= 9000 AND ellipsisr <= 3000")


TA_GOPHER_SQL = rf"""
WITH {gopher_sql_ctes('documents', 'doc_id')}
SELECT doc_id, n_tok AS n_words,
       CAST(mwl AS BIGINT) AS mean_word_len_x10k,
       n_tok >= 50 AND n_tok <= 100000 AS wc_ok,
       mwl >= 30000 AND mwl <= 100000 AS mwl_ok,
       symr <= 1000 AS sym_ok,
       alphar >= 8000 AS alpha_ok,
       stopd >= 2 AS stop_ok,
       bulletr <= 9000 AS bullet_ok,
       ellipsisr <= 3000 AS ellipsis_ok,
       {GOPHER_SQL_PASS} AS gopher_pass
FROM g_m
"""


# --- document fingerprint (SQL-expressible) -------------------------------
def ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 fingerprint — the exact-dedup key at scale."""
    docs = load(spark, sf_dir, "documents")
    norm = ws.norm(F.col("text"))
    return docs.select("doc_id", F.md5(F.encode(norm, "UTF-8")).alias("fp"))


TA_FINGERPRINT_SQL = rf"""
SELECT doc_id, md5({ws.norm_sql("text")}) AS fp
FROM documents
"""


# --- BPE token count (merge-table BPE; fixture-parquet oracle) ------------
# Real byte-pair encoding (functions/bpe.py): the checked-in merge table
# (functions/bpe_merges.py, trained deterministically by
# tools/make_bpe_merges.py) is applied in rank order inside an
# Arrow-batched pandas UDF. Token counts drive corpus-mixing budgets, so
# the counter is a real subword tokenizer, not a regex approximation
# (round 2's version). The table ships in the UDF closure (a few KB — no
# broadcast needed at 100 TB) and the per-distinct-word memo makes the
# cost per *distinct* word per batch, not per occurrence.
from pyspark.sql.types import LongType


@F.pandas_udf(LongType())
def bpe_count_udf(text: pd.Series) -> pd.Series:
    from ocr_platform_spark.functions.bpe import default_tokenizer

    tok = default_tokenizer()   # memo cache lives for the whole batch
    return text.map(lambda t: tok.count_tokens(t) if t is not None else 0)


def ta_bpe_tokens(spark: SparkSession, sf_dir: str, *,
                  enforce_fixture_pin: bool = True) -> DataFrame:
    # Scale-free plan; the pin only protects the driver gate, whose oracle
    # is a fixture staged from sf0.01 (see registry.assert_fixture_scale).
    if enforce_fixture_pin:
        from ocr_platform_spark.operators.registry import assert_fixture_scale

        assert_fixture_scale(sf_dir, "ta_bpe_tokens")
    docs = load(spark, sf_dir, "documents")
    n_ws = F.size(ws.tokens(F.col("text")))
    return (docs.select("doc_id",
                        bpe_count_udf("text").alias("n_bpe_tokens"),
                        n_ws.alias("n_ws"))
            .select("doc_id", "n_bpe_tokens",
                    F.floor(10000.0 * F.col("n_bpe_tokens") / F.col("n_ws"))
                    .cast("long").alias("bpe_per_word_x10k")))


# --- compression-ratio quality signal --------------------------------------
# Dolma/Gopher-family heuristic orthogonal to every token statistic
# above: the DEFLATE ratio of the raw utf-8 bytes. Template/boilerplate
# pages compress far below prose (repeated spans collapse); random or
# binary-ish payloads sit near 1.0. Both tails are drop signals. zlib
# level 6 output is deterministic for a given zlib build, and the
# fixture oracle recomputes with the SAME library in the same container
# — the pin is the fixture, not cross-engine SQL (DuckDB has no
# DEFLATE). Arrow-batched pandas UDF (the bpe_count_udf shape): the
# compression itself is C-speed, the batch transfer is columnar, and
# the plan stays a pure projection — zero shuffle at any corpus size.

COMPRESS_LOW_X1E4 = 4200     # below: repetitive/templated
COMPRESS_HIGH_X1E4 = 8500    # above: incompressible (garbage/binary)


@F.pandas_udf(LongType())
def zlib_len_udf(text: pd.Series) -> pd.Series:
    import zlib

    return text.map(
        lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        if t else 0)


def compress_ratios(docs: DataFrame) -> DataFrame:
    n_bytes = F.octet_length("text").cast("long")
    out = docs.select(
        "doc_id", n_bytes.alias("n_bytes"),
        zlib_len_udf("text").alias("n_zlib"))
    ratio = F.expr("(n_zlib * 10000) DIV greatest(n_bytes, 1)")
    return out.select(
        "doc_id", "n_bytes", "n_zlib",
        ratio.cast("long").alias("ratio_x1e4"),
        (ratio < COMPRESS_LOW_X1E4).alias("flag_repetitive"),
        (ratio > COMPRESS_HIGH_X1E4).alias("flag_incompressible"))


def ta_compress_ratio(spark: SparkSession, sf_dir: str, *,
                      enforce_fixture_pin: bool = True) -> DataFrame:
    # Scale-free plan; the pin protects the driver gate, whose oracle is
    # a fixture staged from sf0.01 (registry.assert_fixture_scale).
    if enforce_fixture_pin:
        from ocr_platform_spark.operators.registry import \
            assert_fixture_scale

        assert_fixture_scale(sf_dir, "ta_compress_ratio")
    return compress_ratios(load(spark, sf_dir, "documents"))


# --- readability score (integer Flesch) ------------------------------------
# Flesch reading ease — the oldest text-difficulty feature still used in
# corpus quality stacks (surface-form complement to the LM/classifier
# scores): 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word),
# here in x100 integer fixed point with floor divisions so both engines
# agree bit-for-bit. Syllables = vowel-group count per lowercased word
# (min 1, the standard heuristic; non-Latin tokens floor at 1);
# sentences = [.!?]+ runs (min 1 — the synthetic corpus is largely
# unpunctuated, so the whole document counts as one sentence, which the
# guard makes deterministic rather than divide-by-zero). Pure per-row
# projection, all JVM-side (split/transform/aggregate) — zero shuffle.

_VOWELS = "[aeiouy]+"
_SENT_ENDS = "[.!?]+"


def readability(docs: DataFrame) -> DataFrame:
    toks = ws.tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    ends = (F.size(F.split(F.col("text"), _SENT_ENDS)) - 1).cast("long")
    n_sent = F.greatest(ends, F.lit(1).cast("long"))
    syll = F.aggregate(
        F.transform(toks, lambda w: F.greatest(
            F.size(F.split(F.lower(w), _VOWELS)) - 1, F.lit(1))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (docs.select("doc_id", n_words.alias("n_words"),
                        n_sent.alias("n_sentences"),
                        syll.alias("n_syllables"))
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    F.expr(
                        "20684 - (1015 * ((100 * n_words) DIV n_sentences))"
                        " DIV 1000"
                        " - (8460 * ((100 * n_syllables) DIV n_words))"
                        " DIV 100").cast("long").alias("flesch_x100")))


def ta_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability(load(spark, sf_dir, "documents"))


TA_READABILITY_SQL = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(len({ws.tokens_sql("text")}) AS BIGINT)
             AS n_words,
         CAST(greatest(
             len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
             AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(
             {ws.tokens_sql("text")},
             w -> greatest(len(regexp_split_to_array(
                      lower(w), '[aeiouy]+')) - 1, 1)))
             AS BIGINT) AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(20684 - (1015 * ((100 * n_words) // n_sentences)) // 1000
                  - (8460 * ((100 * n_syllables) // n_words)) // 100
            AS BIGINT) AS flesch_x100
FROM f
"""


# --- winnowing fingerprints (rolling-hash doc fingerprinting; SQL) --------
# Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD 2003): hash every k-char gram of the canonical
# text, keep the minimum hash of each w-window — guarantees any match of
# length >= w+k-1 shares a fingerprint, with ~2/(w+1) selection density.
# All JVM-side (transform/slice/array_min over a sequence); the gram hash
# is functions/md5int's engine-portable hash, so DuckDB replicates
# fingerprints exactly.
WINNOW_K = 8    # gram length (chars of canonical text)
WINNOW_W = 16   # window length (grams)


def ta_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = ws.norm(F.col("text"))
    d = docs.select("doc_id", norm.alias("norm")).filter(
        F.length("norm") >= WINNOW_K + WINNOW_W - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("norm") - WINNOW_K + 1, F.lit(1)),
        lambda i: md5_int(F.substring("norm", i, WINNOW_K), 15))
    fps = F.expr(
        f"array_distinct(transform("
        f"sequence(1, size(gram_hashes) - {WINNOW_W} + 1, 1), "
        f"j -> array_min(slice(gram_hashes, j, {WINNOW_W}))))")
    return (d.withColumn("gram_hashes", grams)
            .select("doc_id", F.explode(fps).alias("fp")))


TA_WINNOW_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         {ws.norm_sql("text")} AS norm
  FROM documents
  WHERE length({ws.norm_sql("text")})
        >= {WINNOW_K + WINNOW_W - 1}),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(norm) - {WINNOW_K} + 1),
           i -> {md5_int_sql(f"substr(norm, i, {WINNOW_K})", 15)}) AS gh
  FROM d),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(gh) - {WINNOW_W} + 1),
           j -> list_min(gh[j: j + {WINNOW_W} - 1]))) AS fps
  FROM h)
SELECT doc_id, unnest(fps) AS fp FROM w
"""


# --- stratified sampling + split assignment (SQL-expressible) -------------
# The corpus-mixing step of a pretraining pipeline: per-stratum (language)
# keep-rates and a deterministic train/val/test assignment, both driven by
# an md5 hash-coin on the document key — reproducible on any engine, no
# RNG state, stable under re-runs and resume (the same property the
# extraction bucket hash relies on).
SAMPLE_RATES_X10K = {"en": 5000, "zh": 2500}   # other langs: 1000
_SPLIT_VAL_X10K = 500      # 5% val
_SPLIT_TEST_X10K = 1000    # next 5% test


def ta_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    coin = md5_int(F.encode(
        F.concat_ws(":", F.lit("mix"), F.col("doc_id").cast("string")),
        "UTF-8"), 15) % 10000
    rate = F.when(F.col("lang") == "en", SAMPLE_RATES_X10K["en"]) \
        .when(F.col("lang") == "zh", SAMPLE_RATES_X10K["zh"]) \
        .otherwise(1000)
    split = (F.when(coin < _SPLIT_VAL_X10K, "val")
             .when(coin < _SPLIT_TEST_X10K, "test")
             .otherwise("train"))
    return (docs.select("doc_id", "lang", coin.alias("coin_x10k"),
                        rate.alias("rate_x10k"))
            .filter(F.col("coin_x10k") < F.col("rate_x10k"))
            .select("doc_id", "lang", "coin_x10k",
                    split.alias("split")))


TA_SAMPLE_SQL = f"""
WITH coined AS (
  SELECT doc_id, lang,
         {md5_int_sql("'mix:' || CAST(doc_id AS VARCHAR)", 15)} % 10000
             AS coin_x10k,
         CASE WHEN lang = 'en' THEN {SAMPLE_RATES_X10K['en']}
              WHEN lang = 'zh' THEN {SAMPLE_RATES_X10K['zh']}
              ELSE 1000 END AS rate_x10k
  FROM documents)
SELECT doc_id, lang, coin_x10k,
       CASE WHEN coin_x10k < {_SPLIT_VAL_X10K} THEN 'val'
            WHEN coin_x10k < {_SPLIT_TEST_X10K} THEN 'test'
            ELSE 'train' END AS split
FROM coined WHERE coin_x10k < rate_x10k
"""


# --- language ID (pandas UDF; fixture-parquet oracle) ---------------------

# Unicode script ranges + per-language stopword/bigram markers. Script wins
# when decisive (Arabic vs Perso-Arabic letters, CJK, ...); Latin-script
# languages fall through to marker-token scoring. Deterministic tie-break by
# language code.
_AR_EXTRA = set("پچژگکی")          # Perso-Arabic letters absent in Arabic
_MARKERS = {
    "en": {"the", "and", "of", "to", "a", "in", "is", "was", "over"},
    "tr": {"ve", "bir", "bu", "eski", "bin", "boyunca", "dedi", "ilim"},
    "de": {"der", "die", "das", "und", "ist", "ein", "von"},
    "fr": {"le", "la", "les", "et", "des", "un", "une", "est"},
    "es": {"el", "los", "las", "y", "de", "un", "una", "es"},
}


def detect_language(text: str) -> str:
    if not text:
        return "und"
    n_arabic = n_cjk = n_latin = n_fa = 0
    for ch in text[:2000]:
        o = ord(ch)
        if 0x0600 <= o <= 0x06FF or 0x0750 <= o <= 0x077F:
            n_arabic += 1
            if ch in _AR_EXTRA:
                n_fa += 1
        elif 0x4E00 <= o <= 0x9FFF or 0x3040 <= o <= 0x30FF:
            n_cjk += 1
        elif (0x41 <= o <= 0x5A) or (0x61 <= o <= 0x7A) or (0xC0 <= o <= 0x24F):
            n_latin += 1
    total = n_arabic + n_cjk + n_latin
    if total == 0:
        return "und"
    if n_cjk / total > 0.3:
        return "zh"
    if n_arabic / total > 0.3:
        return "fa" if n_fa > 0 else "ar"
    # Latin script: marker-token vote, deterministic tie-break by code
    toks = text[:2000].lower().split()
    best, best_score = "und", 0
    for code in sorted(_MARKERS):
        score = sum(1 for t in toks if t in _MARKERS[code])
        if score > best_score:
            best, best_score = code, score
    return best if best_score > 0 else "en"


@F.pandas_udf(StringType())
def detect_language_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: detect_language(t) if t is not None else "und")


def ta_langid_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID over synthesized pages (real ar/en/fa/tr scripts);
    ground truth is the generator's lang column — asserted in pytest."""
    from ocr_platform_spark.plans.extract_job import extract_pages
    from ocr_platform_spark.sources.pages import pages_df

    ext = extract_pages(pages_df(spark, 300), n_buckets=16)
    return (ext.filter(F.col("failed_stage").isNull())
            .select("url", "lang",
                    detect_language_udf("extracted_text").alias("lang_detected")))


# --- language-ID evaluation (confusion matrix) -----------------------------
# The evaluation twin of ta_langid_pages: the (labeled, detected)
# confusion matrix every language-ID deployment publishes — the number
# that decides whether the classifier is good enough to gate a corpus
# split on. One map-side-combined aggregate over the per-page
# detections; oracle = the SAME aggregation in SQL over the langid
# fixture (live SQL over the fixture input — the kernel is pinned by
# the fixture, the matrix is pinned by the aggregation).

def ta_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (ta_langid_pages(spark, sf_dir)
            .groupBy("lang", "lang_detected")
            .agg(F.count("*").cast("long").alias("n")))


def _langid_confusion_sql() -> str:
    return ("SELECT lang, lang_detected, CAST(count(*) AS BIGINT) AS n "
            "FROM (" + _fixture_sql(
                "langid_pages.parquet", "url, lang, lang_detected")
            + ") GROUP BY lang, lang_detected")


# --- PII scrubbing (the C4/RefinedWeb masking step) ------------------------
# Conservative ASCII patterns from the Java-regex ∩ RE2 common subset (no
# lookaround, no backreferences; \d and \b are ASCII-based in both), so
# the SQL oracle replays the scrub bit-for-bit in DuckDB.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.)(?:\d{1,3}\.)(?:\d{1,3}\.)\d{1,3}\b"
PII_PHONE = r"\+\d{8,14}\b"


def _pii_augmented() -> F.Column:
    """The synthetic corpus has no natural PII, so each doc gets a
    deterministic contact line appended IN THE QUERY (the oracle appends
    the identical line) — the scrubber then has real positives to find."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1555"),
        F.lpad((F.col("doc_id") % 10000000).cast("string"), 7, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"))


def ta_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + mask emails / IPv4s / intl phone numbers per document.

    Plan shape: pure per-row JVM regex work over the scan — no shuffle at
    all; at 10^12 docs this is the cheapest possible full-corpus pass.
    The masked text leaves the query as an md5 (hash-portable; the full
    masked string would dominate the comparison payload for no signal).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    aug = _pii_augmented()
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_IPV4), F.lit("<IP>")),
        F.lit(PII_PHONE), F.lit("<PHONE>"))
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(aug, F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(F.encode(masked, "UTF-8")).alias("masked_md5"))


TA_PII_SQL = """
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1555'
                || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0')
                || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{email}')) AS n_emails,
       len(regexp_extract_all(t, '{ipv4}')) AS n_ips,
       len(regexp_extract_all(t, '{phone}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(
           t, '{email}', '<EMAIL>', 'g'),
              '{ipv4}', '<IP>', 'g'),
              '{phone}', '<PHONE>', 'g')) AS masked_md5
FROM aug
""".format(email=PII_EMAIL.replace("\\", "\\"),
           ipv4=PII_IPV4, phone=PII_PHONE)


# --- repetition metrics (Gopher repetition-rule family) ---------------------
def ta_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals: fraction of tokens taken by the most
    frequent unigram and by the most frequent bigram (floor-scaled x10000
    ints). The Gopher repetition rules gate on exactly these shapes;
    corpus-wide this is two explode+agg passes keyed on (doc_id, gram) —
    partial aggregation collapses each doc's grams map-side, so the
    shuffle carries one row per DISTINCT gram per doc."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = ws.tokens(F.col("text"))
    base = (docs.filter(F.size(toks) >= 2)
            .select("doc_id", toks.alias("toks"), F.size(toks).alias("n")))

    uni = (base.select("doc_id", "n", F.explode("toks").alias("g"))
           .groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
           .groupBy("doc_id")
           .agg(F.floor(F.lit(10000.0) * F.max("c") / F.first("n"))
                .cast("long").alias("top_unigram_x10000")))
    bi_arr = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat(F.element_at("toks", i), F.lit(" "),
                           F.element_at("toks", i + 1)))
    bi = (base.select("doc_id", (F.col("n") - 1).alias("nb"),
                      F.explode(bi_arr).alias("g"))
          .groupBy("doc_id", "nb", "g").agg(F.count("*").alias("c"))
          .groupBy("doc_id")
          .agg(F.floor(F.lit(10000.0) * F.max("c") / F.first("nb"))
               .cast("long").alias("top_bigram_x10000")))
    return uni.join(bi, "doc_id")


TA_REPETITION_SQL = f"""
WITH base AS (
    SELECT doc_id,
           {ws.tokens_sql("text")} AS toks
    FROM documents
    WHERE len({ws.tokens_sql("text")}) >= 2
), uni AS (
    SELECT doc_id,
           CAST(floor(10000.0 * MAX(c) / ANY_VALUE(n)) AS BIGINT)
               AS top_unigram_x10000
    FROM (
        SELECT doc_id, len(toks) AS n, u.g AS g, COUNT(*) AS c
        FROM base, unnest(toks) AS u(g)
        GROUP BY doc_id, len(toks), u.g
    ) GROUP BY doc_id
), bi AS (
    SELECT doc_id,
           CAST(floor(10000.0 * MAX(c) / ANY_VALUE(nb)) AS BIGINT)
               AS top_bigram_x10000
    FROM (
        SELECT doc_id, len(toks) - 1 AS nb,
               toks[i] || ' ' || toks[i + 1] AS g, COUNT(*) AS c
        FROM base, unnest(range(1, len(toks))) AS r(i)
        GROUP BY doc_id, len(toks) - 1, g
    ) GROUP BY doc_id
)
SELECT uni.doc_id, top_unigram_x10000, top_bigram_x10000
FROM uni JOIN bi USING (doc_id)
"""


# --- n-gram LM quality score (the CCNet perplexity stage) -------------------
# CCNet (Wenzek et al., LREC 2020) buckets web documents by the
# perplexity of a per-language n-gram LM trained on a clean reference
# corpus — the single most-used model-based quality filter before
# classifier-era scoring. Rebuilt engine-side: a per-language bigram
# model TRAINED on a deterministic held-in slice (doc_id % 10 == 0 —
# an id rule, so both engines select the training set with a literal
# predicate) and APPLIED to every document as its mean bigram
# probability in x1e6 integer fixed point (floor at both divisions) —
# monotone in the same direction as negative perplexity, but exact, so
# the score is hash-comparable across engines without a transcendental
# log.
#
# Shape at scale: training is two map-side-combined counts (bigram,
# prefix) over the reference slice; scoring joins the corpus's exploded
# bigrams against the model on (lang, w1, w2) — a plain shuffle
# equi-join, because at corpus scale the model itself is too large to
# broadcast (vocabulary² upper bound, corpus-token-count in practice).
# Bigrams are built JVM-side with slice+arrays_zip (no Python, no
# self-join on token position). Hot bigrams ("of the") hit the COUNT
# aggregates, which partial-combine map-side; the scoring join probes
# with them, which hash joins handle without skew amplification.
# int64 bound: p_x1e6 multiplies a bigram count by 1e6, exact while a
# single (lang, w1, w2) training count stays < 9.2e12 — at larger
# reference slices drop the fixed-point to x1e3 or pre-scale counts.

_LM_TRAIN_MOD, _LM_TRAIN_RES = 10, 0    # held-in reference slice


def _bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text) → one row per adjacent token pair, built
    with slice+arrays_zip so the pairing never leaves the JVM row."""
    toks = ws.tokens(F.col("text"))
    n = F.size(toks)
    pairs = F.arrays_zip(F.slice(toks, 1, n - 1).alias("w1"),
                         F.slice(toks, 2, n - 1).alias("w2"))
    return (docs.select("doc_id", "lang", pairs.alias("bg"))
            .select("doc_id", "lang", F.explode("bg").alias("p"))
            .select("doc_id", "lang",
                    F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))


def _bigram_model(rows: DataFrame) -> DataFrame:
    """(lang, w1, w2, ...) rows → (lang, w1, w2, p_x1e6): THE bigram
    estimator — c_bi·1e6 DIV c_uni — in one place, shared by lm_scores
    and dsir_weights (and mirrored once in _model_ctes for both
    oracles). A smoothing or fixed-point change lands everywhere or
    nowhere."""
    bi = rows.groupBy("lang", "w1", "w2").agg(F.count("*").alias("c_bi"))
    uni = rows.groupBy("lang", "w1").agg(F.count("*").alias("c_uni"))
    return bi.join(uni, ["lang", "w1"]).select(
        "lang", "w1", "w2",
        F.expr("(c_bi * 1000000) DIV c_uni").alias("p_x1e6"))


def lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text) → (doc_id, n_bigrams, lm_score_x1e6): mean
    probability of the document's bigrams under the per-language model
    trained on the doc_id % 10 == 0 slice; bigrams the model never saw
    contribute 0 (the CCNet out-of-domain signal)."""
    bg = _bigram_rows(docs)
    train = bg.where(
        F.pmod(F.col("doc_id"), F.lit(_LM_TRAIN_MOD)) == _LM_TRAIN_RES)
    model = _bigram_model(train)
    scored = (bg.join(model, ["lang", "w1", "w2"], "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum(F.coalesce("p_x1e6", F.lit(0))).alias("s")))
    return (docs.join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bigrams", F.lit(0))
                .cast("long").alias("n_bigrams"),
                F.coalesce(F.expr("s DIV n_bigrams"), F.lit(0))
                .cast("long").alias("lm_score_x1e6")))


def ta_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_scores(load(spark, sf_dir, "documents"))


# --- DSIR importance weighting (target LM vs source LM) --------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
# ranks raw documents by how much MORE a target-domain n-gram model
# likes them than the raw-source distribution does: weight = log
# p_target - log p_source, estimated from hashed n-gram counts. Rebuilt
# here in the repo's exact-integer idiom: both models are the bigram
# estimator above — the TARGET trained on the held-in reference slice
# (doc_id % 10 == 0, the lm_scores model), the SOURCE trained on the
# WHOLE corpus (the raw distribution DSIR contrasts against) — and the
# weight is the difference of the two mean-bigram-probability scores
# (monotone stand-in for the log-ratio; exact, hash-comparable).
# Selection keeps weight > 0: the document is likelier under the target
# model than the source distribution predicts — DSIR's keep signal with
# a deterministic threshold instead of Gumbel sampling.
#
# Shape at scale: the exploded bigram relation is DERIVED THREE times
# (target-model build, source-model build, scoring pass) — deliberate:
# each derivation pipelines the explode straight into a map-side-
# combined aggregate or the scoring join, while persisting the bigram
# stream would materialize ~10x the corpus bytes to disk for exactly
# two saved re-scans (columnar parquet scans + codegen explode are the
# cheap part; the shuffles behind the aggregates are paid either way).
# The model joins are plain shuffle equi-joins on (lang, w1, w2),
# models too big to broadcast at corpus scale. No window, no driver
# state; the threshold is a literal. Same int64 bound as lm_scores
# (count * 1e6). The estimator itself is _bigram_model — one copy.


def dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text) → (doc_id, n_bigrams, target_x1e6,
    source_x1e6, weight_x1e6, selected)."""
    bg = _bigram_rows(docs)
    target = _bigram_model(bg.where(
        F.pmod(F.col("doc_id"), F.lit(_LM_TRAIN_MOD)) == _LM_TRAIN_RES))
    source = _bigram_model(bg)
    scored = (bg
              .join(target.withColumnRenamed("p_x1e6", "pt"),
                    ["lang", "w1", "w2"], "left")
              .join(source.withColumnRenamed("p_x1e6", "ps"),
                    ["lang", "w1", "w2"], "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum(F.coalesce("pt", F.lit(0))).alias("st"),
                   F.sum(F.coalesce("ps", F.lit(0))).alias("ss")))
    t = F.coalesce(F.expr("st DIV n_bigrams"), F.lit(0)).cast("long")
    s = F.coalesce(F.expr("ss DIV n_bigrams"), F.lit(0)).cast("long")
    return (docs.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    t.alias("target_x1e6"), s.alias("source_x1e6"),
                    (t - s).alias("weight_x1e6"),
                    (t - s > 0).alias("selected")))


def cx_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(load(spark, sf_dir, "documents"))


# Shared oracle fragments — ONE copy of the tokenize/zip CTEs and of
# the model estimator (the SQL mirror of _bigram_model), composed by
# both TA_LM_SQL and CX_DSIR_SQL.
_LM_BG_CTES = rf"""toks AS (
  SELECT doc_id, lang,
         {ws.tokens_sql("text")} AS t
  FROM documents),
bg AS (
  -- two same-length unnests in one SELECT zip positionally in DuckDB:
  -- (t[i], t[i+1]) for i = 1 .. len-1, exactly Spark's arrays_zip pair
  SELECT doc_id, lang,
         unnest(t[1:len(t) - 1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM toks),
train AS (SELECT * FROM bg
          WHERE doc_id % {_LM_TRAIN_MOD} = {_LM_TRAIN_RES})"""


def _model_ctes(name: str, src: str) -> str:
    """CTEs building bigram model ``name`` from relation ``src`` —
    the SQL mirror of _bigram_model."""
    return f"""{name}_bi AS (SELECT lang, w1, w2, count(*) AS c_bi
           FROM {src} GROUP BY lang, w1, w2),
{name}_uni AS (SELECT lang, w1, count(*) AS c_uni
           FROM {src} GROUP BY lang, w1),
{name} AS (
  SELECT b.lang, b.w1, b.w2, (c_bi * 1000000) // c_uni AS p_x1e6
  FROM {name}_bi b JOIN {name}_uni u
    ON u.lang = b.lang AND u.w1 = b.w1)"""


TA_LM_SQL = ("WITH " + _LM_BG_CTES + ",\n" + _model_ctes("model", "train")
             + """,
scored AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
         sum(coalesce(m.p_x1e6, 0)) AS s
  FROM bg LEFT JOIN model m
    ON m.lang = bg.lang AND m.w1 = bg.w1 AND m.w2 = bg.w2
  GROUP BY bg.doc_id)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(sc.s // sc.n_bigrams, 0) AS BIGINT) AS lm_score_x1e6
FROM documents d LEFT JOIN scored sc ON sc.doc_id = d.doc_id
""")


CX_DSIR_SQL = ("WITH " + _LM_BG_CTES + ",\n"
               + _model_ctes("t_model", "train") + ",\n"
               + _model_ctes("s_model", "bg") + """,
scored AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
         sum(coalesce(tm.p_x1e6, 0)) AS st,
         sum(coalesce(sm.p_x1e6, 0)) AS ss
  FROM bg
  LEFT JOIN t_model tm
    ON tm.lang = bg.lang AND tm.w1 = bg.w1 AND tm.w2 = bg.w2
  LEFT JOIN s_model sm
    ON sm.lang = bg.lang AND sm.w1 = bg.w1 AND sm.w2 = bg.w2
  GROUP BY bg.doc_id),
fin AS (
  SELECT d.doc_id,
         CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(coalesce(sc.st // sc.n_bigrams, 0) AS BIGINT)
             AS target_x1e6,
         CAST(coalesce(sc.ss // sc.n_bigrams, 0) AS BIGINT)
             AS source_x1e6
  FROM documents d LEFT JOIN scored sc ON sc.doc_id = d.doc_id)
SELECT doc_id, n_bigrams, target_x1e6, source_x1e6,
       target_x1e6 - source_x1e6 AS weight_x1e6,
       target_x1e6 - source_x1e6 > 0 AS selected
FROM fin
""")


QUERIES: dict = {
    "ta_token_stats": (ta_token_stats, TA_TOKEN_SQL),
    "ta_quality_flags": (ta_quality_flags, TA_QUALITY_SQL),
    "ta_gopher_quality": (ta_gopher_quality, TA_GOPHER_SQL),
    "ta_fingerprint": (ta_fingerprint, TA_FINGERPRINT_SQL),
    "ta_bpe_tokens": (
        ta_bpe_tokens, _fixture_sql("ta_bpe_tokens.sf0.01.parquet")),
    "ta_winnow_fp": (ta_winnow_fp, TA_WINNOW_SQL),
    "ta_sample_split": (ta_sample_split, TA_SAMPLE_SQL),
    "ta_langid_pages": (
        ta_langid_pages,
        _fixture_sql("langid_pages.parquet", "url, lang, lang_detected")),
    "ta_pii_scrub": (ta_pii_scrub, TA_PII_SQL),
    "ta_repetition": (ta_repetition, TA_REPETITION_SQL),
    # wave 13: CCNet-style n-gram LM quality score, beyond-window
    # (local-gate record)
    "ta_lm_score": (ta_lm_score, TA_LM_SQL),
    # wave 22: DSIR importance weighting (target LM vs source LM),
    # beyond-window (local-gate record)
    "cx_dsir_select": (cx_dsir_select, CX_DSIR_SQL),
    # wave 24: DEFLATE compression-ratio quality signal, beyond-window
    # (fixture oracle — DuckDB has no DEFLATE)
    "ta_compress_ratio": (
        ta_compress_ratio,
        _fixture_sql("ta_compress_ratio.sf0.01.parquet")),
    # wave 29: integer Flesch readability, beyond-window (local-gate
    # record)
    "ta_readability": (ta_readability, TA_READABILITY_SQL),
    # wave 35: language-ID confusion matrix, beyond-window (local-gate
    # record)
    "ta_langid_confusion": (ta_langid_confusion, _langid_confusion_sql()),
}
