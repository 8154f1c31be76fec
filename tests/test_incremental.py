"""Cross-run incremental dedup: signature store lifecycle across batches.

Batch 1 ingests a fresh corpus; batch 2 contains exact re-crawls of some
batch-1 docs (new doc_ids, same text) plus fresh docs; batch 3 duplicates
a batch-2 SURVIVOR — proving the store accumulates, not just the first
batch. Verification is signature-only (no text retained between runs)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_platform_spark.operators.incremental import (
    incremental_dups, incremental_ingest, minhash_signatures,
    read_signature_store)

BASE = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "pack my box with five dozen liquor jugs before the long winter night",
    "sphinx of black quartz judge my vow said the old librarian slowly",
    "how vexingly quick daft zebras jump over fences in the summer rain",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store_dir(tmp_path):
    return str(tmp_path / "sig_store")


def test_first_batch_ingests_everything(spark, store_dir):
    b1 = _docs(spark, list(enumerate(BASE)))
    out = incremental_ingest(spark, b1, store_dir)
    assert out.count() == len(BASE)
    assert read_signature_store(spark, store_dir).count() == len(BASE)


def test_second_batch_drops_dups_of_first(spark, store_dir):
    b1 = _docs(spark, list(enumerate(BASE)))
    incremental_ingest(spark, b1, store_dir)
    # 10/11 re-crawl docs 0/1 verbatim; 12 is fresh
    b2 = _docs(spark, [(10, BASE[0]), (11, BASE[1]),
                       (12, "completely new material about spark shuffle "
                            "partitioning strategies at terabyte scale")])
    out = incremental_ingest(spark, b2, store_dir)
    assert {r.doc_id for r in out.collect()} == {12}
    # store grew by the survivor only — dropped docs must NOT pollute it
    assert read_signature_store(spark, store_dir).count() == len(BASE) + 1


def test_third_batch_dedups_against_second_batch_survivor(spark, store_dir):
    incremental_ingest(spark, _docs(spark, list(enumerate(BASE))), store_dir)
    b2 = _docs(spark, [(20, "completely new material about spark shuffle "
                            "partitioning strategies at terabyte scale")])
    incremental_ingest(spark, b2, store_dir)
    b3 = _docs(spark, [(30, "completely new material about spark shuffle "
                            "partitioning strategies at terabyte scale"),
                       (31, BASE[2])])
    out = incremental_ingest(spark, b3, store_dir)
    assert out.count() == 0   # 30 dups batch-2's survivor, 31 dups batch 1


def test_estimator_pairs_have_full_match_on_exact_dup(spark):
    sigs_a = minhash_signatures(_docs(spark, [(0, BASE[0])]))
    sigs_b = minhash_signatures(_docs(spark, [(9, BASE[0])]))
    rows = incremental_dups(sigs_b, sigs_a).collect()
    assert len(rows) == 1
    assert rows[0].sig_matches == 16   # identical text -> all perms agree


def test_near_miss_not_dropped(spark, store_dir):
    incremental_ingest(spark, _docs(spark, [(0, BASE[0])]), store_dir)
    # shares a few tokens but jaccard << 0.5
    b2 = _docs(spark, [(1, "the slow red fox sleeps under a warm dog "
                           "house while rain falls on the quiet meadow")])
    out = incremental_ingest(spark, b2, store_dir)
    assert out.count() == 1


def test_store_band_join_prunes_partitions(spark, store_dir):
    """The scale contract of the signature store: the band-join against a
    small new batch must read ONLY the band-bucket partitions (pk) that
    batch touches — pinned by the PartitionFilters of the store scan —
    and the pruned path must return exactly what the in-memory
    estimator path returns."""
    from ocr_platform_spark.operators.dedup import MINHASH_BANDS
    from ocr_platform_spark.operators.incremental import (
        N_BUCKET_PFX, incremental_dups_store, pruned_store_buckets)

    incremental_ingest(spark, _docs(spark, list(enumerate(BASE))), store_dir)
    new = minhash_signatures(_docs(spark, [(10, BASE[1])]))

    pruned = pruned_store_buckets(spark, store_dir, new)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "pk" in m.group(1) and ("IN" in m.group(1) or "in(" in m.group(1)), \
        f"store scan not partition-pruned: {m.group(1)}"
    # one new doc touches at most MINHASH_BANDS pk partitions
    touched = {r["pk"] for r in pruned.select("pk").distinct().collect()}
    assert 0 < len(touched) <= MINHASH_BANDS
    assert MINHASH_BANDS < MINHASH_BANDS * N_BUCKET_PFX  # pruning is real

    got = incremental_dups_store(spark, new, store_dir).collect()
    want = incremental_dups(new, read_signature_store(spark, store_dir)
                            ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert [r for r in got if r[0] == 10 and r[1] == 1]  # the dup is found


def test_dd_incremental_is_anti_symmetric(spark):
    """The driver query's new/prior split must never pair two docs from
    the same run."""
    from ocr_platform_spark.operators.incremental import dd_incremental

    rows = dd_incremental(spark, "/root/testdata/sf0.001").select(
        (F.col("new_id") % 2).alias("n"),
        (F.col("prior_id") % 2).alias("p")).distinct().collect()
    for r in rows:
        assert (r.n, r.p) == (1, 0)
