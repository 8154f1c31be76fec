"""The end-to-end corpus-curation pipeline: the flow a pretraining data
team actually runs, composed from this engine's operators in ONE plan:

    documents
      → quality gate        (published Gopher rules, ta_gopher_quality)
      → exact dedup         (canonical-fingerprint keep-first, dd_exact)
      → near-dup removal    (MinHash-LSH clusters, keep canonical only)
      → stratified sampling (hash-coin mixing + train/val/test split)

Each stage is the already-oracled operator; the composition itself is also
fully DuckDB-oracled (the SQL nests the stage oracles as derived tables),
so the driver verifies the WHOLE pipeline end-to-end, not just its parts.

Physical shape at scale: the gates are semi/anti joins on doc_id — each a
hash join against a derived keep/drop set that is orders of magnitude
smaller than the corpus; nothing rescans text after its own stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.operators.dedup import (
    DD_CLUSTERS_SQL, DD_EXACT_SQL, dd_clusters, dd_exact)
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.operators.text_analysis import (
    TA_GOPHER_SQL, TA_REPETITION_SQL, TA_SAMPLE_SQL, ta_gopher_quality,
    ta_repetition, ta_sample_split)


# Quality gate = the FULL Gopher rule set (content-shape checks, the
# language-aware stopword guard, and the lines-based bullet/ellipsis
# rules) — gopher_pass from ta_gopher_quality, nothing carved out.
_QUALITY_GATE = "gopher_pass"
# Gopher repetition rules (token-level analogues of the paper's
# most-common-n-gram character fractions): drop docs whose top bigram
# exceeds 20% of tokens or whose top unigram exceeds 30%. Expressed as an
# anti-join on FAILURES so docs below ta_repetition's 2-token floor are
# governed by the word-count gate, not silently dropped here.
_REP_FAIL = "top_bigram_x10000 > 2000 OR top_unigram_x10000 > 3000"


def cx_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    good = (ta_gopher_quality(spark, sf_dir)
            .filter(F.expr(_QUALITY_GATE)).select("doc_id"))
    rep_fail = (ta_repetition(spark, sf_dir)
                .filter(F.expr(_REP_FAIL)).select("doc_id"))
    exact_keeps = (dd_exact(spark, sf_dir)
                   .select(F.col("keep_id").alias("doc_id")))
    near_dropped = (dd_clusters(spark, sf_dir)
                    .filter(~F.col("is_canonical")).select("doc_id"))
    sampled = ta_sample_split(spark, sf_dir).select("doc_id", "split")
    return (docs.select("doc_id", "lang")
            .join(good, "doc_id", "left_semi")
            .join(rep_fail, "doc_id", "left_anti")
            .join(exact_keeps, "doc_id", "left_semi")
            .join(near_dropped, "doc_id", "left_anti")
            .join(sampled, "doc_id"))


CX_CURATION_SQL = f"""
SELECT d.doc_id, d.lang, s.split
FROM documents d
JOIN (SELECT doc_id, split FROM ({TA_SAMPLE_SQL}) t) s USING (doc_id)
WHERE d.doc_id IN (SELECT doc_id FROM ({TA_GOPHER_SQL}) g
                   WHERE {_QUALITY_GATE})
  AND d.doc_id NOT IN (SELECT doc_id FROM ({TA_REPETITION_SQL}) r
                       WHERE {_REP_FAIL})
  AND d.doc_id IN (SELECT keep_id FROM ({DD_EXACT_SQL}) e)
  AND d.doc_id NOT IN (SELECT doc_id FROM ({DD_CLUSTERS_SQL}) c
                       WHERE NOT is_canonical)
"""


# --- per-document funnel attribution ---------------------------------------
# Production curation runs publish a removal FUNNEL (FineWeb's filter
# stats, Dolma's per-rule counts): every document is attributed to the
# FIRST stage that removed it, in pipeline order — the number every
# data card reports, and the debugging handle when a filter change
# shifts the corpus. Same stage operators as cx_curation_pipeline, but
# instead of composing semi/anti joins that DISCARD failures, each
# stage's keep/drop set left-joins a marker and one CASE picks the
# first failure — never-drop, one row per document. Physical shape
# unchanged: four hash joins against derived sets orders of magnitude
# smaller than the corpus; the verdict is a projection.

def cx_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def mark(df: DataFrame, name: str) -> DataFrame:
        return df.select("doc_id", F.lit(True).alias(name))

    gpass = mark(ta_gopher_quality(spark, sf_dir)
                 .filter(F.expr(_QUALITY_GATE)).select("doc_id"), "g")
    rfail = mark(ta_repetition(spark, sf_dir)
                 .filter(F.expr(_REP_FAIL)).select("doc_id"), "r")
    keeps = mark(dd_exact(spark, sf_dir)
                 .select(F.col("keep_id").alias("doc_id")), "e")
    ndrop = mark(dd_clusters(spark, sf_dir)
                 .filter(~F.col("is_canonical")).select("doc_id"), "n")
    j = (docs.join(gpass, "doc_id", "left")
         .join(rfail, "doc_id", "left")
         .join(keeps, "doc_id", "left")
         .join(ndrop, "doc_id", "left"))
    verdict = (F.when(F.col("g").isNull(), "gopher")
               .when(F.col("r").isNotNull(), "repetition")
               .when(F.col("e").isNull(), "exact_dup")
               .when(F.col("n").isNotNull(), "near_dup")
               .otherwise("kept"))
    return j.select("doc_id", verdict.alias("verdict"))


CX_FUNNEL_SQL = f"""
SELECT d.doc_id,
       CASE
         WHEN d.doc_id NOT IN (SELECT doc_id FROM ({TA_GOPHER_SQL}) g
                               WHERE {_QUALITY_GATE}) THEN 'gopher'
         WHEN d.doc_id IN (SELECT doc_id FROM ({TA_REPETITION_SQL}) r
                           WHERE {_REP_FAIL}) THEN 'repetition'
         WHEN d.doc_id NOT IN (SELECT keep_id FROM ({DD_EXACT_SQL}) e)
             THEN 'exact_dup'
         WHEN d.doc_id IN (SELECT doc_id FROM ({DD_CLUSTERS_SQL}) c
                           WHERE NOT is_canonical) THEN 'near_dup'
         ELSE 'kept'
       END AS verdict
FROM documents d
"""


# --- corpus data card -------------------------------------------------------
# The one-row summary every dataset release publishes (FineWeb/Dolma
# data cards): corpus size in docs/hosts/langs/tokens/bytes, the exact-
# duplicate mass, and the quality-gate pass count — the numbers a
# consumer reads before deciding to train on the corpus. Three
# independent 1-row aggregates (each map-side combinable: base census,
# dup census over the fingerprint groups, gopher pass count)
# cross-joined broadcast into one row; the corpus never shuffles.

def cx_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = ws.tokens(F.col("text"))
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_hosts"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"))
    dups = dd_exact(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.sum(F.col("n_copies") - 1).cast("long").alias("n_exact_dup_docs"))
    quality = (ta_gopher_quality(spark, sf_dir)
               .agg(F.sum(F.col("gopher_pass").cast("long"))
                    .cast("long").alias("n_gopher_pass")))
    return (base.crossJoin(F.broadcast(dups))
            .crossJoin(F.broadcast(quality)))


CX_DATA_CARD_SQL = rf"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_hosts,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(len({ws.tokens_sql("text")}))
              AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM documents),
dups AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
         CAST(sum(n_copies - 1) AS BIGINT) AS n_exact_dup_docs
  FROM ({DD_EXACT_SQL}) e),
quality AS (
  SELECT CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gopher_pass
  FROM ({TA_GOPHER_SQL}) g)
SELECT * FROM base CROSS JOIN dups CROSS JOIN quality
"""


QUERIES: dict = {
    "cx_curation_pipeline": (cx_curation_pipeline, CX_CURATION_SQL),
    # wave 25: per-document funnel attribution, beyond-window
    # (local-gate record)
    "cx_filter_funnel": (cx_filter_funnel, CX_FUNNEL_SQL),
    # wave 33: one-row corpus data card, beyond-window (local-gate
    # record)
    "cx_data_card": (cx_data_card, CX_DATA_CARD_SQL),
}
