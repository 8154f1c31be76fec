"""Containment dedup — the asymmetric near-dup symmetric Jaccard misses.

A quote page (an excerpt of another document plus its own boilerplate)
is a real dedup target a training pipeline must catch: its text adds
nothing the source doesn't already contribute. Symmetric measures miss
it BY CONSTRUCTION — an excerpt holding 40% of a source's shingles has
Jaccard ≈ 0.4 against it, under dd_ngram_jaccard's 0.5 bar — but its
CONTAINMENT C(a→b) = |S(a) ∩ S(b)| / |S(a)| is near 1. This module is
that one-sided measure (Broder's containment, the same paper the
resemblance/MinHash machinery comes from):

- shingle sets are dedup.py's token-3-gram `_shingles` (shared code,
  shared md5-free identity — the DuckDB oracle rebuilds them with the
  same split/slice arithmetic);
- the pair pass is an inverted-index (posting-list) join on shingle,
  counting shared shingles per ordered pair; the emit rule is exact
  integer math: ``inter * 5 >= na * 4`` (containment >= 0.8) AND
  ``na < nb`` — the strictly smaller set contained in the larger.
  Equal-size near-identical pairs are DELIBERATELY excluded: they are
  the symmetric pipeline's job (dd_ngram_jaccard / dd_minhash_lsh);
  this operator only asserts the subset direction.

The corpus plants the liveness class the measure exists for:
``_quote_corpus`` augments ``documents`` with a deterministic quote
page per doc_id % 7 == 2 — the source's first 40% of words plus a
fixed aggregator suffix — whose containment in its source clears 0.8
while its Jaccard stays under 0.5 (asserted: the dd_containment pair
set minus the dd_ngram_jaccard pair set is non-empty).

Scale: the full posting join is an ORACLE path behind
`_guard_oracle_scale` (the dd_ngram_jaccard discipline). The scale
path is the SAME join with a document-frequency cap: shingles whose
posting list exceeds ``df_cap`` are boilerplate (the aggregator
suffix here; nav chrome at corpus scale) and are dropped BEFORE the
pair join — that removes exactly the hot posting keys that make the
join quadratic. The cap is an approximation with a signed direction
per pair: dropped shingles shrink ``na`` (never ``inter`` for pairs
that didn't share them), so capped containment can only move UP for
quote→source pairs — planted pairs survive capping, and pairs not
touching a capped shingle are bit-identical (both pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.operators.dedup import (ORACLE_MAX_ROWS,
                                                _guard_oracle_scale,
                                                _shingles)
from ocr_platform_spark.operators.tables import load

QUOTE_MOD = 7          # doc_id % QUOTE_MOD == 2 sources get a quote page
QUOTE_ID_BASE = 100_000
# 3 words: a 20-word excerpt keeps containment 18/21 = 0.86 over the
# bar — the first 9-word draft diluted it to 0.67 and every planted
# pair silently missed the threshold (caught by the liveness test)
QUOTE_SUFFIX = "Source: example archive"
CONTAIN_NUM, CONTAIN_DEN = 4, 5      # containment >= 4/5


def _quote_corpus(docs: DataFrame) -> DataFrame:
    """documents + derived quote pages: first 40% of the source's words
    (DIV arithmetic, mirrored in SQL) + the aggregator suffix."""
    toks = ws.tokens(F.col("text"))
    n40 = F.call_function("div", F.size(toks) * 2, F.lit(5))
    quotes = (docs.where(F.col("doc_id") % QUOTE_MOD == 2)
              .where(F.size(toks) >= 10)
              .select((F.col("doc_id") + QUOTE_ID_BASE).alias("doc_id"),
                      F.concat(
                          F.array_join(F.slice(toks, 1, n40), " "),
                          F.lit(" " + QUOTE_SUFFIX)).alias("text")))
    return docs.select("doc_id", "text").unionByName(quotes)


def containment_pairs(corpus: DataFrame,
                      df_cap: int | None = None) -> DataFrame:
    """(a_id contained-in b_id) pairs: inter/na >= 0.8 and na < nb.
    ``df_cap`` drops boilerplate shingles (df > cap) before the join —
    the scale path's hot-key guard."""
    sh = _shingles(corpus)
    if df_cap is not None:
        df = (sh.groupBy("shingle")
              .agg(F.count("*").alias("df"))
              .where(F.col("df") <= df_cap))
        sh = sh.join(df.select("shingle"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("a_id"),
                      F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"),
                      F.col("n_sh").alias("nb"))
    return (inter.join(sa, "a_id").join(sb, "b_id")
            .where((F.col("inter") * CONTAIN_DEN
                    >= F.col("na") * CONTAIN_NUM)
                   & (F.col("na") < F.col("nb")))
            .select("a_id", "b_id", "inter", "na", "nb"))


def dd_containment(spark: SparkSession, sf_dir: str,
                   max_rows: int = ORACLE_MAX_ROWS) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    _guard_oracle_scale(docs, "dd_containment", max_rows)
    return containment_pairs(_quote_corpus(docs))


DD_CONTAINMENT_SQL = rf"""
WITH base AS (SELECT doc_id, text FROM documents),
quotes AS (
  SELECT doc_id + {QUOTE_ID_BASE} AS doc_id,
         array_to_string(list_slice(
             {ws.tokens_sql("text")}, 1,
             (len({ws.tokens_sql("text")}) * 2) // 5),
             ' ') || ' {QUOTE_SUFFIX}' AS text
  FROM base
  WHERE doc_id % {QUOTE_MOD} = 2
    AND len({ws.tokens_sql("text")}) >= 10),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM quotes),
toks AS (
  SELECT doc_id, {ws.tokens_sql("text")} AS t FROM corpus
  WHERE len({ws.tokens_sql("text")}) >= 3),
sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
      generate_series(1, len(t) - 2),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, inter, sa.n_sh AS na, sb.n_sh AS nb
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE inter * {CONTAIN_DEN} >= sa.n_sh * {CONTAIN_NUM}
  AND sa.n_sh < sb.n_sh
"""

QUERIES: dict = {
    # wave 57: asymmetric containment dedup, beyond-window
    "dd_containment": (dd_containment, DD_CONTAINMENT_SQL),
}
