"""Corpus retrieval: BM25 top-k search over the documents table.

The reference's search surface is the client-side command-score ranking
over catalog titles (functions/command_score.py, query f07). A
training-corpus engine needs the corpus-side analogue — rank DOCUMENTS
for a term query — which is BM25 (Robertson/Okapi), the standard
inverted-index scorer.

Exact-integer variant: every quantity here is int64 arithmetic —
``idf`` is the Robertson odds-ratio WITHOUT the log
(``(N - df + ½)/(df + ½)``, scaled ×1000 as an integer division), and
the per-term score is the BM25 fraction multiplied through by
``20·L`` (L = corpus token count) so that with k1 = 1.2 = 6/5 and
b = 0.75 = 3/4:

    term_score = (idf_x1000 · 44·L div (20·L·tf + 6·L + 18·dl·N)) · tf

The log is the single transcendental in BM25 and the only part IEEE 754
does not pin down across engines; dropping it preserves per-term
monotonicity in df while letting the DuckDB oracle reproduce every score
bit-for-bit (the same trade wg_pagerank makes with fixed-point rank).
The division happens BEFORE the tf multiply so the largest intermediate
is idf_x1000·44·L — tf never enters the product. With df ≥ 1 that is
≤ 667·N·44·L, so int64 holds whenever N·L < 3·10^14 — e.g. 7×10^5 docs
at 500 tokens average per scored shard; larger corpora drop the ×1000
idf scale or score per-partition shards. The quotient keeps ≥6
significant digits before the multiply at any realistic scale, so the
extra truncation is noise.

Plan shape at scale: doc lengths and term frequencies are one explode +
two map-side-combined aggregates over the corpus; ``df`` (per query
term) and the 1-row corpus stats are BROADCAST; the final top-k is
TakeOrderedAndProject — no global sort, no corpus-sized shuffle beyond
the tf groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import scoped_persist

# Fixed query so the registry entry is a pure function of the tables;
# terms span the corpus df range (dup is rare, hash/join are common).
BM25_QUERY = ("dup", "hash", "join")
BM25_K = 10


def bm25_topk(docs: DataFrame, terms: tuple[str, ...] = BM25_QUERY,
              k: int = BM25_K) -> DataFrame:
    """(doc_id, bm25_x) for the k best-scoring docs, exact-integer BM25."""
    toks = ws.tokens(F.col("text"))
    stats = (docs.select(F.size(toks).cast("long").alias("dl"))
             .agg(F.count("*").alias("n_docs"),
                  F.sum("dl").alias("corpus_len")))
    # dl rides along through the explode (functionally dependent on
    # doc_id), so no corpus-sized tf⋈dl join ever exists in the plan
    # two consumers (df aggregation + the scoring join) — persist the
    # postings (docs-containing-terms × |terms|, tiny next to the
    # corpus) so the corpus is scanned once for tf, not twice
    tf = scoped_persist("search.bm25_topk", (
        docs.select("doc_id", F.size(toks).cast("long").alias("dl"),
                    F.explode(toks).alias("t"))
        .filter(F.col("t").isin(*terms))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "t")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf_x1000", F.expr(
                  "(1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)"))
              .withColumn("term_score", F.expr(
                  "((idf_x1000 * 44 * corpus_len) div "
                  "(20*corpus_len*tf + 6*corpus_len + 18*dl*n_docs))"
                  " * tf")))
    return (scored.groupBy("doc_id")
            .agg(F.sum("term_score").cast("long").alias("bm25_x"))
            .orderBy(F.desc("bm25_x"), "doc_id").limit(k))


def ta_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(load(spark, sf_dir, "documents"))


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)

TA_BM25_SQL = rf"""
WITH dl AS (
  SELECT doc_id,
         len({ws.tokens_sql("text")}) AS dl
  FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS corpus_len FROM dl),
tf AS (
  SELECT doc_id, t, count(*) AS tf, max(dl) AS dl FROM (
    SELECT doc_id,
           len({ws.tokens_sql("text")}) AS dl,
           unnest({ws.tokens_sql("text")}) AS t
    FROM documents)
  WHERE t IN ({_TERMS_SQL}) GROUP BY doc_id, t),
dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT f.doc_id,
         ((((1000 * (2*s.n_docs - 2*d.df + 1)) // (2*d.df + 1))
           * 44 * s.corpus_len)
          // (20*s.corpus_len*f.tf + 6*s.corpus_len + 18*f.dl*s.n_docs))
         * f.tf AS term_score
  FROM tf f
  JOIN dfq d USING (t)
  CROSS JOIN stats s)
SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS bm25_x
FROM scored GROUP BY doc_id
ORDER BY bm25_x DESC, doc_id LIMIT {BM25_K}
"""

# --- TF-IDF keyword extraction (per-doc top-k) -----------------------------
# The corpus-tagging twin of BM25 retrieval: for every document, the k
# terms most distinctive of it — tf × the same exact-integer Robertson
# odds-ratio idf the BM25 scorer uses (the log dropped for bit-exact
# cross-engine parity; per-term monotone in df, which is all a ranking
# needs). Standard corpus op: keyword tags feed index summaries, topic
# clustering, and retrieval-augmented metadata.
#
# Shape at scale: tf is THE inverted-index build (explode + map-side-
# combined groupBy over (doc, term)); df aggregates the postings by
# term — vocabulary-sized, NOT broadcastable at corpus scale, so the
# scoring join tf⋈df is a plain shuffle equi-join on term (both sides
# hash-partition; df is the smaller side everywhere). The per-doc top-k
# is an AGGREGATE (array_sort + slice over a per-doc collect_list
# bounded by the document's own vocabulary), never a global window —
# rank never crosses an exchange.

KEYWORD_K = 5


def keyword_topk(docs: DataFrame, k: int = KEYWORD_K) -> DataFrame:
    """(doc_id, text) → (doc_id, rank, term, tf, score_x1000): the k
    highest tf·idf terms per document, ties broken lexicographically."""
    toks = ws.tokens(F.col("text"))
    tf = (docs.select("doc_id", F.explode(toks).alias("t"))
          .groupBy("doc_id", "t").agg(F.count("*").alias("tf")))
    stats = docs.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (tf.join(dfreq, "t")
              .crossJoin(F.broadcast(stats))
              .select("doc_id", "t", "tf", F.expr(
                  "tf * ((1000 * (2*n_docs - 2*df + 1)) div (2*df + 1))")
                  .alias("score_x1000")))
    top = scored.groupBy("doc_id").agg(
        F.slice(F.array_sort(F.collect_list(F.struct(
            (-F.col("score_x1000")).alias("ns"),
            F.col("t").alias("t"), F.col("tf").alias("tf"),
            F.col("score_x1000").alias("s")))), 1, k).alias("a"))
    return (top.select("doc_id", F.posexplode("a").alias("pos", "c"))
            .select("doc_id",
                    (F.col("pos") + 1).cast("long").alias("rank"),
                    F.col("c.t").alias("term"),
                    F.col("c.tf").cast("long").alias("tf"),
                    F.col("c.s").cast("long").alias("score_x1000")))


def ta_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keyword_topk(load(spark, sf_dir, "documents"))


TA_KEYWORD_SQL = rf"""
WITH tf AS (
  SELECT doc_id, t, count(*) AS tf FROM (
    SELECT doc_id,
           unnest({ws.tokens_sql("text")}) AS t
    FROM documents) GROUP BY doc_id, t),
stats AS (SELECT count(*) AS n_docs FROM documents),
dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT f.doc_id, f.t, f.tf,
         f.tf * ((1000 * (2*s.n_docs - 2*d.df + 1)) // (2*d.df + 1))
             AS score_x1000
  FROM tf f JOIN dfq d USING (t) CROSS JOIN stats s),
ranked AS (
  SELECT doc_id, t, tf, score_x1000,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_x1000 DESC, t) AS rnk
  FROM scored)
SELECT doc_id, CAST(rnk AS BIGINT) AS rank, t AS term,
       CAST(tf AS BIGINT) AS tf, CAST(score_x1000 AS BIGINT) AS score_x1000
FROM ranked WHERE rnk <= {KEYWORD_K}
"""


# --- positional phrase search ----------------------------------------------
# The third retrieval primitive next to ranked (BM25) and tagging
# (keyword) search: exact phrase match over a POSITIONAL inverted
# index. The classic plan: posting lists carry token positions, each
# phrase slot's postings shift left by its offset, and an equi-join on
# (doc_id, aligned_position) intersects the slots — a phrase occurrence
# is exactly one surviving aligned position. Shape at scale: the
# posexplode postings are filtered to the phrase's literal terms BEFORE
# anything shuffles (predicate on the generator output — the corpus
# never materializes its full position index for a query), and the
# slot joins are hash equi-joins on (doc_id, p) between term-posting
# lists orders of magnitude smaller than the corpus.

PHRASE_QUERY = ("slow", "hash", "batch")


def phrase_search(docs: DataFrame,
                  phrase: tuple[str, ...] = PHRASE_QUERY) -> DataFrame:
    """(doc_id, text) → (doc_id, n_matches) for documents containing the
    exact token phrase, with the number of occurrences."""
    toks = ws.tokens(F.col("text"))
    pos = (docs.select("doc_id", F.posexplode(toks).alias("pos", "t"))
           .filter(F.col("t").isin(*phrase)))
    m = None
    for i, w in enumerate(phrase):
        slot = (pos.filter(F.col("t") == w)
                .select("doc_id", (F.col("pos") - i).alias("p")))
        m = slot if m is None else m.join(slot, ["doc_id", "p"])
    return (m.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_matches")))


def ta_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_search(load(spark, sf_dir, "documents"))


def _phrase_sql(phrase: tuple[str, ...] = PHRASE_QUERY) -> str:
    def q(w: str) -> str:
        return "'" + w.replace("'", "''") + "'"   # SQL-literal escape

    terms = ", ".join(q(w) for w in phrase)
    slots = "\nJOIN ".join(
        f"(SELECT doc_id, pos - {i} AS p FROM pos WHERE t = {q(w)}) m{i}"
        + ("" if i == 0 else " USING (doc_id, p)")
        for i, w in enumerate(phrase))
    return rf"""
WITH pos AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS t FROM (
    SELECT doc_id, {ws.tokens_sql("text")} AS toks
    FROM documents), unnest(range(1, len(toks) + 1)) AS r(i)
  WHERE toks[i] IN ({terms}))
SELECT m0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM {slots}
GROUP BY m0.doc_id
"""


QUERIES: dict = {
    "ta_bm25_search": (ta_bm25_search, TA_BM25_SQL),
    # wave 26: per-doc TF-IDF keyword extraction, beyond-window
    # (local-gate record)
    "ta_keyword_topk": (ta_keyword_topk, TA_KEYWORD_SQL),
    # wave 27: positional phrase search, beyond-window (local-gate
    # record)
    "ta_phrase_search": (ta_phrase_search, _phrase_sql()),
}
