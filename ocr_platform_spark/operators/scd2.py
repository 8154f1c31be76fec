"""SCD-2 history maintenance — temporal corpus tables across epochs.

cx_crawl_delta classifies what CHANGED between two crawl epochs; this
operator maintains what a warehouse keeps instead: the slowly-changing-
dimension type-2 history table, where every (url, content version)
carries a validity interval and the current version is the open row.
That is how a corpus answers "what did this page say when the model
was trained" — the reference's audit analogue is the status-transition
history its Prisma schema keeps per book (packages/db/prisma/
schema.prisma ``Book.status``/``reviewedAt``); here the dimension is
content identity over re-crawls.

Merge semantics (the Iceberg/Delta MERGE INTO shape, one declarative
pass — reusing crawldelta's deterministic epochs so the planted
change classes are shared):

- unchanged  → one OPEN row valid from epoch 1.
- changed    → the epoch-1 row CLOSES at epoch 2 (valid_to = D2) and
  a new OPEN row starts at D2 (two rows, md5-distinct).
- gone       → the epoch-1 row closes at D2; nothing opens.
- new        → one open row from D2.

Plan shape: ONE full-outer join on the url key (identical to
crawl_delta — at 100 TB both epochs live bucket-partitioned on
url-hash, so the join is storage-partitioned and shuffles nothing)
followed by a union of the two emission branches, all JVM column
math: md5 identity, CASE validity bounds, no window anywhere. History
for N epochs is this merge folded left — each fold touches only the
open rows + the new epoch (the closed history is immutable and never
rewritten), which is what makes SCD-2 the append-friendly layout.

Oracle: the same merge in DuckDB over the same epoch CTEs (live SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.operators.crawldelta import DELTA_CAP, _epochs
from ocr_platform_spark.operators.tables import load

EPOCH1, EPOCH2 = "2024-01-01", "2024-02-01"


def scd2_merge(v1: DataFrame, v2: DataFrame,
               d1: str = EPOCH1, d2: str = EPOCH2) -> DataFrame:
    old = v1.select("doc_id", F.md5("text").alias("old_md5"))
    new = v2.select("doc_id", F.md5("text").alias("new_md5"))
    j = old.join(new, "doc_id", "full_outer")
    changed = (F.col("old_md5").isNotNull()
               & F.col("new_md5").isNotNull()
               & (F.col("old_md5") != F.col("new_md5")))
    gone = F.col("new_md5").isNull()
    # branch 1: every epoch-1 version — closed when it stopped being
    # the live content, open otherwise
    hist_old = (j.where(F.col("old_md5").isNotNull())
                .select("doc_id", F.col("old_md5").alias("content_md5"),
                        F.lit(d1).alias("valid_from"),
                        F.when(changed | gone, F.lit(d2))
                        .otherwise(F.lit(None).cast("string"))
                        .alias("valid_to")))
    # branch 2: versions born at epoch 2 (changed rows' successors +
    # brand-new urls), always open
    hist_new = (j.where(changed | F.col("old_md5").isNull())
                .select("doc_id", F.col("new_md5").alias("content_md5"),
                        F.lit(d2).alias("valid_from"),
                        F.lit(None).cast("string").alias("valid_to")))
    return hist_old.unionByName(hist_new)


def cx_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1, v2 = _epochs(load(spark, sf_dir, "documents"))
    return scd2_merge(v1, v2)


# the epoch synthesis mirrored verbatim from crawldelta's oracle shape
_EPOCHS_SQL = f"""
base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {DELTA_CAP}),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
                THEN text || chr(10) || chr(10) || 'Update '
                     || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 7 = 0 THEN 'BREAKING: ' || text
              ELSE text END AS text
  FROM base WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + {DELTA_CAP}, text FROM base WHERE doc_id % 13 = 0)
"""

CX_SCD2_SQL = f"""
WITH {_EPOCHS_SQL},
old AS (SELECT doc_id, md5(text) AS old_md5 FROM base),
new AS (SELECT doc_id, md5(text) AS new_md5 FROM v2),
j AS (SELECT coalesce(old.doc_id, new.doc_id) AS doc_id, old_md5, new_md5
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
SELECT doc_id, old_md5 AS content_md5, '{EPOCH1}' AS valid_from,
       CASE WHEN new_md5 IS NULL OR new_md5 <> old_md5
            THEN '{EPOCH2}' END AS valid_to
FROM j WHERE old_md5 IS NOT NULL
UNION ALL
SELECT doc_id, new_md5, '{EPOCH2}', NULL
FROM j WHERE new_md5 IS NOT NULL
  AND (old_md5 IS NULL OR old_md5 <> new_md5)
"""

QUERIES: dict = {
    # wave 64: SCD-2 temporal history merge, beyond-window
    "cx_scd2_history": (cx_scd2_history, CX_SCD2_SQL),
}
