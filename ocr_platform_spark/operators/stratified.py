"""Stratified eval-set carving — exact-size, largest-remainder seats.

ta_sample_split and cx_mix sample by RATE (hash-coin < rate), which is
the right tool for corpus-scale mixing but gives only an EXPECTED
size. A held-out eval set has the opposite contract: EXACTLY N
documents, language representation proportional to the corpus, fully
deterministic. That is an apportionment problem, and the classic
exact-integer answer is Hamilton's largest-remainder method:

    base_l  = (N * n_l) DIV n_total          (floor quota)
    rem_l   = (N * n_l) MOD n_total
    leftover seats (N - Σ base_l, < #strata of them) go to the
    largest rem_l, ties to the lexicographically smaller lang.

Seats are then filled deterministically: within each stratum, docs
rank by the hash-coin ``md5int`` of 'seval:<doc_id>' (the repo's
engine-portable hash) with doc_id tiebreak, and the first seats_l win.

Two driver queries, both LIVE-SQL-oracled:
- ``cx_eval_seats``: the apportionment table (one row per lang:
  n_docs, base, remainder, seats) — Σ seats == N is a hard invariant
  (pinned), which no rounding scheme (round-half-up, pure floor)
  satisfies in general.
- ``cx_stratified_eval``: the carved membership (doc_id, lang,
  rank_in_stratum), exactly N rows.

Scale shape: the apportionment runs on the strata table (rows =
languages, <= dozens) — its global-window ranking is the SAFE window
kind (state-sized relation, the quantile-sketch precedent). The
membership ranking windows by lang over the corpus: a dominant
language concentrates its stratum in one task, the known sessionize
hot spot — at corpus scale, pre-filter with the rate-based coin to
~4x the stratum's seat count first (hash-coin < 4*seats/n_l keeps
every winner with overwhelming probability and is checkable: if a
stratum comes back short, widen the filter), then rank the survivors.
Documented here; at testdata scale the direct window is the honest
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_platform_spark.functions.md5int import md5_int, md5_int_sql
from ocr_platform_spark.operators.tables import load

N_EVAL = 100


def _coin(col) -> F.Column:
    return md5_int(F.encode(
        F.concat_ws(":", F.lit("seval"), col.cast("string")), "UTF-8"), 15)


def eval_seats(docs: DataFrame, n_eval: int = N_EVAL) -> DataFrame:
    strata = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"))
    tot = strata.agg(F.sum("n_docs").alias("n_total"))
    q = (strata.crossJoin(F.broadcast(tot))
         .select("lang", "n_docs",
                 F.call_function("div", F.lit(n_eval) * F.col("n_docs"),
                                 F.col("n_total")).alias("base"),
                 F.pmod(F.lit(n_eval) * F.col("n_docs"),
                        F.col("n_total")).cast("long").alias("rem")))
    # strata-table-sized global window: the SAFE kind (<= dozens rows)
    wr = Window.orderBy(F.desc("rem"), F.asc("lang"))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    return (q.withColumn("rr", F.row_number().over(wr))
            .withColumn("leftover",
                        F.lit(n_eval) - F.sum("base").over(wall))
            .select("lang", "n_docs", "base", "rem",
                    (F.col("base")
                     + F.when(F.col("rr") <= F.col("leftover"), 1)
                     .otherwise(0)).cast("long").alias("seats")))


def stratified_eval(docs: DataFrame, n_eval: int = N_EVAL) -> DataFrame:
    seats = eval_seats(docs, n_eval).select("lang", "seats")
    ranked = (docs.select("doc_id", "lang",
                          _coin(F.col("doc_id")).alias("coin"))
              .withColumn("rank_in_stratum",
                          F.row_number().over(
                              Window.partitionBy("lang")
                              .orderBy("coin", "doc_id"))))
    return (ranked.join(F.broadcast(seats), "lang")
            .where(F.col("rank_in_stratum") <= F.col("seats"))
            .select("doc_id", "lang",
                    F.col("rank_in_stratum").cast("long")
                    .alias("rank_in_stratum")))


def cx_eval_seats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eval_seats(load(spark, sf_dir, "documents"))


def cx_stratified_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_eval(load(spark, sf_dir, "documents"))


_SEATS_CORE = f"""
strata AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT sum(n_docs) AS n_total FROM strata),
q AS (
  SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         CAST(({N_EVAL} * n_docs) // n_total AS BIGINT) AS base,
         CAST(({N_EVAL} * n_docs) % n_total AS BIGINT) AS rem
  FROM strata, tot),
alloc AS (
  SELECT lang, n_docs, base, rem,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rr,
         {N_EVAL} - sum(base) OVER () AS leftover
  FROM q)
"""

CX_EVAL_SEATS_SQL = f"""
WITH {_SEATS_CORE}
SELECT lang, n_docs, base, rem,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS seats
FROM alloc
"""

CX_STRATIFIED_SQL = f"""
WITH {_SEATS_CORE},
seats AS (
  SELECT lang,
         base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS seats
  FROM alloc),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY
             {md5_int_sql("'seval:' || CAST(doc_id AS VARCHAR)", 15)} ASC,
             doc_id ASC) AS rank_in_stratum
  FROM documents)
SELECT r.doc_id, r.lang, CAST(r.rank_in_stratum AS BIGINT)
           AS rank_in_stratum
FROM ranked r JOIN seats s ON r.lang = s.lang
WHERE r.rank_in_stratum <= s.seats
"""

QUERIES: dict = {
    # wave 61: largest-remainder apportionment + carved membership
    "cx_eval_seats": (cx_eval_seats, CX_EVAL_SEATS_SQL),
    "cx_stratified_eval": (cx_stratified_eval, CX_STRATIFIED_SQL),
}
