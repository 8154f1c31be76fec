"""Cross-run incremental deduplication: new batches vs the already-
ingested corpus.

Round 2's dedup family operates within one batch. A 100 TB pipeline runs
daily top-ups, and the operation it needs is "drop new documents that
near-duplicate anything ALREADY ingested" — without rereading (or even
retaining) the prior corpus text. The standard shape (used by the
Common-Crawl dedup literature, e.g. Lee et al. 2022 "Deduplicating
Training Data Makes Language Models Better") is a persisted MinHash
signature store:

- every ingested batch appends ``(doc_id, mh0..mh{P-1})`` to a signature
  table beside the extraction manifest (a few dozen bytes per doc — the
  text itself is never needed again);
- a new batch computes its own signatures, band-joins them against the
  store's bucket projection, and estimates Jaccard for the collisions by
  counting agreeing signature components (E[matches/P] = J — the classic
  MinHash estimator); ``matches*2 >= P`` ≈ J >= 0.5 marks a duplicate;
- survivors (plus their signatures) are appended to the store, so the
  next run dedups against everything before it.

Scale shape: the store is partitioned/bucketed by band bucket, so the
band-join is a sort-merge join on ``(band, bucket)`` whose store side
reads only matching buckets at 10^12 rows; the new batch's signatures are
tiny relative to the store and broadcast when small. No text ever moves:
candidates are verified from stored signatures alone (the estimator), the
precision/recall trade documented vs the exact-verify batch path
(dd_minhash_lsh) which CAN recompute shingles because both sides of its
join are in the current batch.

Reference seam: the reference's queue skips pages whose output already
exists (apps/queue/src/queues/page/worker.ts — per-page idempotency); this
module is the corpus-level generalization a training pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.operators.dedup import (
    MINHASH_PERMS, _band_bucket_array, _minhash_pair_ctes, minhash_signatures)
from ocr_platform_spark.operators.tables import load

# matches*2 >= PERMS  <=>  estimated Jaccard >= 0.5 (same threshold as the
# exact-verify batch path)
_SIG_MATCH_MIN2 = MINHASH_PERMS


def _sig_cols() -> list[str]:
    return [f"mh{k}" for k in range(MINHASH_PERMS)]


# the store's bucket projection is PARTITIONED by pk = band * N_PFX +
# hash(bucket) % N_PFX — bands × N_PFX directories. A new batch touches a
# subset of pks; the band-join reads ONLY those partitions (proof:
# tests/test_incremental.py pins PartitionFilters on the store scan). At
# 10^12 store rows with a small daily batch this is the difference between
# scanning the whole store and scanning the touched slice.
N_BUCKET_PFX = 16


def _with_pk(bucketed: DataFrame) -> DataFrame:
    return bucketed.withColumn(
        "pk", (F.col("band") * N_BUCKET_PFX
               + F.pmod(F.xxhash64("bucket"), F.lit(N_BUCKET_PFX)))
        .cast("int"))


def _bucket_projection(sigs: DataFrame, id_alias: str) -> DataFrame:
    return _with_pk(sigs.select(
        F.col("doc_id").alias(id_alias),
        F.posexplode(_band_bucket_array()).alias("band", "bucket")))


def write_signature_store(sigs: DataFrame, store_dir: str,
                          epoch: str | None = None) -> None:
    """Append a batch's signatures to the persisted store.

    Two relations: ``sigs/`` (doc_id, mh0..mh{P-1}) for the estimator, and
    ``buckets/`` (band, bucket, doc_id) PARTITIONED BY the band-bucket
    prefix ``pk`` so the incremental band-join prunes to matching
    partitions. Parquet here; the 10^12-row deployment writes the same
    layout to Iceberg (partition transform = identity(pk)).

    With ``epoch`` (the streaming top-up path) both relations gain an
    epoch partition written via DYNAMIC partition overwrite: a replayed
    micro-batch replaces exactly its own rows, making the store append
    idempotent under foreachBatch's at-least-once contract. A store is
    either always-epoch or never-epoch — don't mix layouts."""
    if epoch is None:
        sigs.write.mode("append").parquet(store_dir + "/sigs")
        (_bucket_projection(sigs, "doc_id")
         .write.mode("append").partitionBy("pk")
         .parquet(store_dir + "/buckets"))
        return
    (sigs.withColumn("epoch", F.lit(epoch))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch").parquet(store_dir + "/sigs"))
    (_bucket_projection(sigs, "doc_id").withColumn("epoch", F.lit(epoch))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("pk", "epoch").parquet(store_dir + "/buckets"))


def read_signature_store(spark: SparkSession, store_dir: str,
                         exclude_epoch: str | None = None) -> DataFrame:
    df = spark.read.parquet(store_dir + "/sigs")
    if exclude_epoch is not None and "epoch" in df.columns:
        df = df.filter(F.col("epoch") != exclude_epoch)
    return df


def pruned_store_buckets(spark: SparkSession, store_dir: str,
                         new_sigs: DataFrame,
                         exclude_epoch: str | None = None) -> DataFrame:
    """The store's bucket projection, pruned to the partitions the new
    batch can collide with. The new batch's distinct pk set is bounded by
    bands × N_BUCKET_PFX (= a few hundred ints — model state, not data),
    so collecting it is driver-safe at any corpus size; the literal isin()
    filter lands in the scan's PartitionFilters."""
    pks = sorted({r["pk"] for r in _bucket_projection(new_sigs, "new_id")
                 .select("pk").distinct().collect()})
    df = (spark.read.parquet(store_dir + "/buckets")
          .filter(F.col("pk").isin(pks)))
    if exclude_epoch is not None and "epoch" in df.columns:
        df = df.filter(F.col("epoch") != exclude_epoch)
    return df


def _estimate_dups(cand: DataFrame, new_sigs: DataFrame,
                   store_sigs: DataFrame,
                   exclude_self: bool = False) -> DataFrame:
    """Shared estimator tail: join both signature vectors onto the
    candidate pairs, count matching minhash slots, keep estimated
    Jaccard >= 0.5. One definition so the in-memory and persisted-store
    paths can never drift on threshold/columns/cast.

    ``exclude_self`` (epoch-replay mode only): skip new_id == prior_id
    pairs — a replayed micro-batch's own signatures are the same
    document, not a duplicate of it. The legacy append path keeps the
    self-match: there, a re-arriving doc_id IS a duplicate arrival and
    must be dropped, not re-appended."""
    if exclude_self:
        cand = cand.filter(F.col("new_id") != F.col("prior_id"))
    a = new_sigs.select(F.col("doc_id").alias("new_id"),
                        *[F.col(c).alias(f"a_{c}") for c in _sig_cols()])
    b = store_sigs.select(F.col("doc_id").alias("prior_id"),
                          *[F.col(c).alias(f"b_{c}") for c in _sig_cols()])
    matches = sum((F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int")
                  for c in _sig_cols())
    return (cand
            .join(a, "new_id").join(b, "prior_id")
            .withColumn("sig_matches", matches.cast("long"))
            .filter(F.col("sig_matches") * 2 >= _SIG_MATCH_MIN2)
            .select("new_id", "prior_id", "sig_matches"))


def incremental_dups(new_sigs: DataFrame, store_sigs: DataFrame,
                     ) -> DataFrame:
    """(new_id, prior_id, sig_matches) for every new doc whose estimated
    Jaccard vs a stored doc is >= 0.5.

    Band-bucket join finds candidates (never all-pairs); the estimator
    needs only the two signature vectors — no text on either side."""
    nb = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode(_band_bucket_array()).alias("band", "bucket"))
    sb = store_sigs.select(
        F.col("doc_id").alias("prior_id"),
        F.posexplode(_band_bucket_array()).alias("band", "bucket"))
    cand = (nb.join(sb, ["band", "bucket"])
            .select("new_id", "prior_id").distinct())
    return _estimate_dups(cand, new_sigs, store_sigs)


def incremental_dups_store(spark: SparkSession, new_sigs: DataFrame,
                           store_dir: str,
                           exclude_epoch: str | None = None) -> DataFrame:
    """``incremental_dups`` against the PERSISTED store, reading only the
    band-bucket partitions the new batch touches (partition pruning via
    the pk literal filter) and only the candidate prior docs' signature
    rows for the estimator."""
    nb = _bucket_projection(new_sigs, "new_id")
    sb = pruned_store_buckets(spark, store_dir, new_sigs,
                              exclude_epoch).select(
        F.col("doc_id").alias("prior_id"), "band", "bucket")
    cand = (nb.join(sb, ["band", "bucket"])
            .select("new_id", "prior_id").distinct())
    return _estimate_dups(cand, new_sigs,
                          read_signature_store(spark, store_dir,
                                               exclude_epoch),
                          exclude_self=exclude_epoch is not None)


def incremental_ingest(spark: SparkSession, new_docs: DataFrame,
                       store_dir: str,
                       epoch: str | None = None) -> DataFrame:
    """Dedup ``new_docs`` against the store, append survivors' signatures,
    return the surviving docs. First run (no store yet) ingests everything.

    The anti-join drops every new doc with at least one stored
    near-duplicate; survivors' signatures are appended so subsequent
    batches dedup against them too.

    ``epoch`` (streaming top-up): store rows from the SAME epoch are
    excluded from the dedup check and the append overwrites that epoch's
    partition — a replayed micro-batch reaches the identical decision it
    would have reached the first time, with no self-matches against its
    own failed attempt (see write_signature_store)."""
    sigs = minhash_signatures(new_docs)
    try:
        read_signature_store(spark, store_dir)
    except Exception:   # first batch: nothing to dedup against
        write_signature_store(sigs, store_dir, epoch)
        return new_docs
    # the pk set, the band-join, the estimator and the store append all
    # read sigs — persist it so the Arrow MinHash pass runs once
    sigs = sigs.persist()
    dropped = incremental_dups_store(spark, sigs, store_dir, epoch).select(
        F.col("new_id").alias("doc_id")).distinct()
    survivors = new_docs.join(dropped, "doc_id", "left_anti")
    write_signature_store(sigs.join(dropped, "doc_id", "left_anti"),
                          store_dir, epoch)
    sigs.unpersist()
    return survivors


# --- driver query: two-batch replay over the documents table --------------
def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table as two runs (even doc_ids ingested first,
    odd doc_ids arrive later) and report which late docs the signature
    store would drop, with the estimator evidence.

    Pure signature math end-to-end — the DuckDB oracle replicates every
    constant (same md5-derived permutations as dd_minhash_lsh)."""
    docs = load(spark, sf_dir, "documents")
    prior = minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0))
    new = minhash_signatures(docs.filter(F.col("doc_id") % 2 == 1))
    return incremental_dups(new, prior)


def _incremental_sql() -> str:
    match_sum = " + ".join(
        f"CAST(a.mh{k} = b.mh{k} AS BIGINT)" for k in range(MINHASH_PERMS))
    # reuse the shared CTE chain (toks/th/sh/sigs/banded — same constants
    # as dd_minhash_lsh, single-sourced) and cut in after `banded`:
    # candidates pair odd (new) with even (prior) doc_ids.
    return ("WITH " + _minhash_pair_ctes() + f""",
icand AS (
  SELECT DISTINCT n.doc_id AS new_id, p.doc_id AS prior_id
  FROM banded n JOIN banded p
    ON n.band = p.band AND n.bucket = p.bucket
  WHERE n.doc_id % 2 = 1 AND p.doc_id % 2 = 0)
SELECT c.new_id, c.prior_id, {match_sum} AS sig_matches
FROM icand c
JOIN sigs a ON a.doc_id = c.new_id
JOIN sigs b ON b.doc_id = c.prior_id
WHERE ({match_sum}) * 2 >= {_SIG_MATCH_MIN2}""")


DD_INCREMENTAL_SQL = _incremental_sql()

QUERIES: dict = {
    "dd_incremental": (dd_incremental, DD_INCREMENTAL_SQL),
}
