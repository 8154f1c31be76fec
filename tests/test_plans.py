"""Physical-plan quality gates.

Correctness tests prove the operators compute the right rows; these prove
Catalyst produced the plan we would want at 100 TB: filters reach the
parquet scan, projections prune the read schema, small dimensions broadcast,
top-k never globally sorts, and the extraction job shuffles exactly once.
A regression here is a silent 10-100x cost at scale long before it is a
wrong answer.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_platform_spark.operators import relational
from ocr_platform_spark.operators.search import ta_bm25_search
from ocr_platform_spark.operators.sketches import cx_ppl_buckets
from ocr_platform_spark.operators.tables import load

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def spark():
    from ocr_platform_spark.session import build_spark
    return build_spark("plan-tests", cores=4)


def test_filter_pushdown_reaches_scan(spark):
    """R1/R2 equality predicates must appear as PushedFilters on the
    parquet scan, not as a post-scan Filter only."""
    df = relational.r01_projection_filter(spark, SF_DIR)
    p = formatted(df)
    assert "PushedFilters:" in p
    assert "EqualTo(l_quantity" in p and "EqualTo(l_returnflag,R)" in p


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection of a 16-column table must read 2 columns."""
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    p = formatted(li)
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_broadcast_join_is_broadcast(spark):
    """R9's dimension join must be a BroadcastHashJoin — no shuffle of the
    fact side on the join key."""
    df = relational.r09_broadcast_join(spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_and_anti_joins_no_fact_shuffle(spark):
    """R5 semi join broadcasts the filter side: the customer scan must not
    be exchanged on the join key."""
    df = relational.r05_semi_join(spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_topk_uses_take_ordered(spark):
    """R13 ORDER BY + LIMIT must plan as TakeOrderedAndProject — a global
    Sort of the full table would be wrong at any scale."""
    df = relational.r13_sort(spark, SF_DIR)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p
    # no full-table Sort operator outside the take-ordered
    assert "Sort [" not in p.replace("TakeOrderedAndProject", "")


def test_pagination_no_global_window_sort(spark):
    """R14 must fetch page k via TakeOrderedAndProject (per-partition top-k
    merge) — never a WindowExec over the unpartitioned full table, which
    moves every row to ONE partition. The window that ranks the already-
    limited page*size rows is fine: its input is bounded by the limit, not
    by the table size."""
    df = relational.r14_pagination(spark, SF_DIR)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p
    # any Window node must sit strictly above the top-k limit, i.e. the
    # plan must not exchange the raw orders scan into a single partition
    scan_side = p.split("TakeOrderedAndProject", 1)[1]
    assert "Window" not in scan_side, p


def test_corrections_overlay_broadcasts_corrections(spark):
    """R21's read path joins the big extracted table with the small
    human-corrections table: the corrections side must broadcast — at
    corpus scale shuffling the extracted side on the join key for a
    tiny overlay would dominate the query."""
    df = relational.r21_corrections_overlay(spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p and "LeftOuter" in p
    assert "SortMergeJoin" not in p


def test_catalog_page_broadcasts_all_dims(spark):
    """R22 composes filter + semi/anti-joins + count + paginate + pivot:
    every dimension side must broadcast (the fact scans never shuffle on a
    join key) and the 1-row count attaches via broadcast nested loop, not
    a cartesian product."""
    df = relational.r22_catalog_page(spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_extract_job_shuffles_exactly_once(spark):
    """The extraction plan has exactly ONE Exchange: the explicit
    (bucket, salt) placement. Anything more means an accidental extra shuffle
    of the multi-KiB html blobs."""
    from ocr_platform_spark.plans.extract_job import extract_pages
    from ocr_platform_spark.sources.pages import pages_df

    ext = extract_pages(pages_df(spark, 200), n_buckets=8)
    p = plan_of(ext)
    assert p.count("Exchange") == 1, p
    assert "ArrowEvalPython" in p or "MapInPandas" in p


@pytest.mark.parametrize("kwargs, want", [
    ({"n_buckets": 16, "n_partitions": 12}, None),
    ({"n_buckets": 64}, lambda cores: min(64 * 4, 2 * cores)),
    ({"n_buckets": 1, "salt": 2}, lambda cores: 2),
], ids=["explicit-12", "default-64x4", "default-1x2"])
def test_extract_repartition_not_coalesced_by_aqe(spark, kwargs, want):
    """The explicit partition count must survive AQE: the compute-bound UDF
    stage would serialize if byte-based coalescing shrank it (measured:
    local[32] slower than local[8] without this). Left unset, the count is
    min(bucket x salt, 2 x cores)."""
    from ocr_platform_spark.plans.extract_job import extract_pages
    from ocr_platform_spark.sources.pages import pages_df

    ext = extract_pages(pages_df(spark, 2000), **kwargs)
    pids = ext.select(F.spark_partition_id().alias("pid")).distinct()
    n_parts = len(pids.collect())
    if want is None:
        assert n_parts >= 10, f"extraction ran on only {n_parts} partitions"
        return
    # the AQE-final plan's extraction exchange carries the task count
    # (distinct partition ids can undercount: two keys may share a task)
    plan = plan_of(pids)
    exchange = re.search(r"shufflepartitionidpassthrough\("
                         r"direct_shuffle_partition_id\(.*\), (\d+)\), "
                         r"REPARTITION_BY_NUM", plan)
    assert exchange, plan
    cores = spark.sparkContext.defaultParallelism
    assert int(exchange.group(1)) == want(cores)


def test_scalar_queries_stay_in_codegen(spark):
    """JVM-side scalar queries (digit translation) must not contain any
    Python evaluation node — only extraction/Unicode-exact functions may."""
    from ocr_platform_spark.operators.scalar_queries import f04_digits
    p = plan_of(f04_digits(spark, SF_DIR))
    assert "Python" not in p
    # '*(n)' prefixes mark WholeStageCodegen spans in executedPlan strings
    assert "*(1)" in p


def test_windowed_agg_single_shuffle_with_partial_agg(spark):
    """ev_windowed_agg must be scan → partial HashAggregate → ONE exchange
    → final aggregate: map-side combine bounds the shuffle by
    (windows x event types), not by input rows."""
    from ocr_platform_spark.streaming.windowed import ev_windowed_agg

    p = formatted(ev_windowed_agg(spark, SF_DIR))
    # formatted output names each node twice (tree + detail section)
    assert p.count(") Exchange") == 1
    assert "partial_count" in p and "partial_sum" in p


def test_sessionize_single_shuffle_reused_across_windows(spark):
    """ev_sessionize: ONE exchange on user_id feeds the lag window, the
    running-sum window, AND the per-session aggregation — Catalyst must
    not re-shuffle between them (grouping keys are a superset of the
    partitioning)."""
    from ocr_platform_spark.streaming.sessions import ev_sessionize

    p = formatted(ev_sessionize(spark, SF_DIR))
    assert p.count(") Exchange") == 1
    assert "hashpartitioning(user_id" in p


def test_bm25_broadcasts_small_sides_and_takes_ordered(spark):
    """ta_bm25_search: per-term df and the 1-row corpus stats broadcast
    (BroadcastHashJoin + BroadcastNestedLoopJoin), no corpus-sized
    doc-length join exists (dl rides through the explode), and the final
    top-k is TakeOrderedAndProject — never a global sort."""
    from ocr_platform_spark.operators.search import ta_bm25_search

    p = formatted(ta_bm25_search(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p          # df per query term
    assert "BroadcastNestedLoopJoin" in p    # 1-row stats cross join
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # corpus scanned exactly twice (tf postings pass + stats pass):
    # count DISTINCT scan nodes via their formatted-detail headers
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2
    assert "InMemoryTableScan" in p          # persisted postings reused


@pytest.mark.parametrize("query", [ta_bm25_search, cx_ppl_buckets],
                         ids=lambda fn: fn.__name__)
def test_repeated_identical_call_keeps_its_cache(spark, query):
    """A second identical call still reads its persisted relation.
    persist() of an already-cached plan is a no-op, so a call that
    evicted its predecessor AFTER persisting would uncache its own
    result; session.scoped_persist evicts first."""
    for call in (1, 2):
        df = query(spark, SF_DIR)
        df.collect()
        assert "InMemoryTableScan" in plan_of(df), f"call {call}"


def test_repeated_call_on_new_input_holds_one_calls_cache(spark):
    """minhash_pairs runs once per micro-batch in the streaming top-up:
    each call's persisted relations replace the previous call's instead
    of piling up in the session. The suite shares a session, and the
    JVM's registry holds persisted RDDs weakly, so an earlier test's
    relation can drop out at any GC: count only the RDDs that were not
    persisted before the first call."""
    from ocr_platform_spark.operators.dedup import minhash_pairs

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    persistent = []
    for run in range(3):
        docs = spark.createDataFrame(
            [(i, f"batch {run} page {i % 12} " + "common words here " * 4)
             for i in range(30)], "doc_id long, text string")
        minhash_pairs(docs).count()
        persistent.append(len(persistent_ids() - before))
    assert persistent[2] == persistent[0], persistent
