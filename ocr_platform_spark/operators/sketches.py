"""Distinct-count sketches: per-host vocabulary cardinality via KMV.

At 10^12 documents, per-host ``COUNT(DISTINCT token)`` is the classic
scale-killer: the exact answer shuffles every distinct (host, token) pair.
Production engines answer it with bounded-memory sketches (Spark's
``approx_count_distinct`` is HyperLogLog++) — but ENGINE-BUILTIN HLL
register layouts are engine-specific, so those estimates can never
participate in a cross-engine value-hashed oracle (a spec'd-layout HLL
can — see ``hll_distinct`` below). The K-minimum-values sketch (Bar-Yossef
et al. 2002; Beyer et al., SIGMOD 2007) CAN: its state is just the K
smallest values of a shared deterministic hash, and its estimator
``(K-1) * H / h_K`` (H = hash-space size, h_K = the Kth smallest) is exact
integer arithmetic any engine reproduces bit-for-bit.

Hash: ``functions/md5int``'s 14-digit (56-bit) hash of the token; 56
bits leave headroom so ``(K-1) * 2^56`` stays inside int64.

Shape at scale (the whole point):

- phase 1 groups by (source, salt) where salt = h % SALTS is a FUNCTION of
  the hash value: the salt shards partition the distinct-value space, so
  per-shard distinct counts SUM to the exact global distinct (no
  double-counting by construction) — the exact column costs nothing extra;
- each shard keeps only its set size and its K smallest hashes, so the
  phase-2 merge sees at most SALTS * K values per host (bounded state, one
  tiny final aggregate) instead of the full distinct-token stream;
- ``collect_set`` partials combine map-side; the per-task set is bounded
  by the shard's distinct values — the salt count is the knob that trades
  shard-set size against merge width. A production deployment at 10^12
  docs raises SALTS with corpus size or swaps phase 1 for a capped-state
  pandas UDAF; the estimator and the oracle stay identical.

The documents table has no url column, so the sketched universe is the
per-host token vocabulary (the corpus-census statistic ta_host_stats
reports exactly; this is its sketched twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.functions.md5int import md5_int, md5_int_sql
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import scoped_persist

KMV_K = 16   # small enough that sf0.01's ~30-token host vocabularies
             # exercise the real estimator branch, not just the under-K
             # exact fallback (a production corpus sketch would use 256+)
_SALTS = 8
_HASH_BITS = 56                       # 14 hex chars of md5
_EST_NUM = (KMV_K - 1) * (1 << _HASH_BITS)   # (K-1) * 2^56, fits int64


def _h56(col: str):
    """The shared 56-bit hash, ``md5_int`` over 14 digits."""
    return md5_int(col, 14)


def kmv_distinct(docs: DataFrame, k: int = KMV_K,
                 salts: int = _SALTS) -> DataFrame:
    """documents(source, text) → (source, n_distinct_exact, kmv_est).

    n_distinct_exact is the true per-host distinct-token count (free from
    the salted decomposition, see module docstring); kmv_est is the KMV
    estimate from the K smallest hashes — equal to the exact count while
    the host's vocabulary is under K.
    """
    toks = docs.select(
        "source",
        F.explode(ws.tokens(F.col("text"))).alias("tok"))
    hashed = toks.select("source", _h56("tok").alias("h"))
    shard = (hashed
             .groupBy("source", F.pmod("h", F.lit(salts)).alias("salt"))
             .agg(F.collect_set("h").alias("hs"))
             .select("source",
                     F.size("hs").alias("n_part"),
                     F.slice(F.array_sort("hs"), 1, k).alias("mins")))
    merged = shard.groupBy("source").agg(
        F.sum("n_part").cast("long").alias("n_distinct_exact"),
        F.slice(F.array_sort(F.flatten(F.collect_list("mins"))),
                1, k).alias("mins"))
    est_num = (k - 1) << _HASH_BITS     # == _EST_NUM at the default k
    hk = F.greatest(F.element_at("mins", k), F.lit(1).cast("long"))
    return merged.select(
        "source",
        "n_distinct_exact",
        F.when(F.size("mins") < k, F.size("mins").cast("long"))
        .otherwise(F.call_function("div", F.lit(est_num).cast("long"), hk))
        .cast("long").alias("kmv_est"))


def ta_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmv_distinct(load(spark, sf_dir, "documents"))


# The oracle computes the same two numbers the direct way — exact distinct
# and the Kth-smallest hash via a per-host rank — so it independently
# validates both the estimator arithmetic AND the salted decomposition's
# exactness claim.
TA_KMV_SQL = rf"""
WITH tok AS (
  SELECT source,
         unnest({ws.tokens_sql("text")}) AS tok
  FROM documents),
hs AS (
  SELECT DISTINCT source,
         {md5_int_sql("tok", 14)} AS h
  FROM tok),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM hs)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_distinct_exact,
       CAST(CASE WHEN max(n) < {KMV_K} THEN max(n)
                 ELSE {_EST_NUM}
                      // max(CASE WHEN rn = {KMV_K} THEN h END)
            END AS BIGINT) AS kmv_est
FROM ranked
GROUP BY source
"""


# --- Bloom-filter membership (the crawled-set gate at scale) ---------------
# cx_frontier anti-joins candidate urls against the crawled set — correct,
# but at 10^12 crawled urls that anti-join shuffles the full crawled-url
# universe every wave. The production gate is a Bloom filter: the crawled
# set collapses to a bitmap (here 512 int64 words = 4 KiB; a real crawl
# sizes it in GiB), the bitmap broadcasts, and the probe side becomes a
# pure projection — candidate urls never shuffle against the crawled set
# at all. False positives only ever SKIP a recrawl (never corrupt data),
# the standard trade every crawler makes.
#
# Determinism (what makes it oracle-able, unlike engine Bloom pushdown):
# double hashing à la Kirsch-Mitzenmacher over two 56-bit md5 slices,
# pos_i = (h1 + i*(h2 % (m-1) + 1)) % m. Words hold 62 bits (bit 62/63
# unused) because DuckDB raises on signed `1 << 63`; all words stay
# non-negative so >> is portable.

BLOOM_WORDS = 512
_BLOOM_BPW = 62                       # usable bits per int64 word
BLOOM_M = BLOOM_WORDS * _BLOOM_BPW    # 31,744 bits
BLOOM_J = 3                           # probes per key
_CRAWLED_MAX = 3000                   # membership = o_orderkey < 3000
_PROBE_MAX = 6000


def _bloom_url(key):
    return F.concat(F.lit("https://h"), F.pmod(key, F.lit(50)),
                    F.lit(".example/p/"), key)


def _km_positions(col: str, m: int, n: int):
    """array of n Kirsch-Mitzenmacher positions in [0, m): one md5, two
    56-bit slices, pos_i = (h1 + i*(h2 % (m-1) + 1)) % m. Shared by the
    Bloom filter (bit positions) and the Count-Min sketch (buckets) —
    one formula, one place to fix."""
    h1 = md5_int(col, 14)
    h2 = md5_int(col, 14, 14)
    step = F.pmod(h2, F.lit(m - 1)) + 1
    return F.array(*[F.pmod(h1 + i * step, F.lit(m)) for i in range(n)])


def _bloom_positions(url_col: str):
    return _km_positions(url_col, BLOOM_M, BLOOM_J)


def bloom_bitmap(urls: DataFrame) -> DataFrame:
    """urls(url) → bitmap(word, bits), ≤BLOOM_WORDS rows. Both exchanges
    carry bit positions (integers), never urls."""
    return (urls
            .select(F.explode(_bloom_positions("url")).alias("pos"))
            .distinct()
            .groupBy(F.expr(f"pos DIV {_BLOOM_BPW}").alias("word"))
            .agg(F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                                 f"CAST(pos % {_BLOOM_BPW} AS INT))"))
                 .alias("bits")))


def bloom_probe(bitmap: DataFrame, probes: DataFrame) -> DataFrame:
    """probes(url) × bitmap → (url, bloom_maybe). The bitmap broadcasts
    into a join on word (≤BLOOM_WORDS distinct values), then one
    map-side-combined bool_and per url — a projection-shaped plan."""
    ppos = probes.select(
        "url", F.explode(_bloom_positions("url")).alias("pos"))
    return (ppos
            .withColumn("word", F.expr(f"pos DIV {_BLOOM_BPW}"))
            .withColumn("bit", F.expr(f"CAST(pos % {_BLOOM_BPW} AS INT)"))
            .join(F.broadcast(bitmap), "word", "left")
            .groupBy("url")
            .agg(F.bool_and(
                F.expr("((coalesce(bits, CAST(0 AS BIGINT)) >> bit)"
                       " & 1) = 1")).alias("bloom_maybe")))


def bloom_membership(crawled: DataFrame, probes: DataFrame) -> DataFrame:
    """crawled(url) + probes(url) → (url, bloom_maybe, is_member,
    false_positive).

    Build/probe via bloom_bitmap + bloom_probe (see each). is_member is
    the exact anti-join ground truth kept ONLY to label false positives
    for the oracle; the production projection drops it — dropping it is
    the entire point of the filter (crawl_frontier_bloom in
    operators/weblinks.py is that production composition).
    """
    probed = bloom_probe(bloom_bitmap(crawled), probes)
    member = crawled.select("url").withColumn("is_member", F.lit(True))
    return (probed.join(F.broadcast(member), "url", "left")
            .select("url", "bloom_maybe",
                    F.coalesce("is_member", F.lit(False)).alias("is_member"),
                    (F.col("bloom_maybe")
                     & ~F.coalesce("is_member", F.lit(False)))
                    .alias("false_positive")))


def dd_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    crawled = (keys.filter(F.col("k") < _CRAWLED_MAX)
               .select(_bloom_url(F.col("k")).alias("url")))
    probes = (keys.filter(F.col("k") < _PROBE_MAX)
              .select(_bloom_url(F.col("k")).alias("url")))
    return bloom_membership(crawled, probes)


def _bloom_pos_sql(alias: str) -> str:
    """SQL twin of _bloom_positions, one column per probe index."""
    return ", ".join(
        f"({md5_int_sql(alias, 14)}"
        f" + {i} * ({md5_int_sql(alias, 14, 14)}"
        f" % {BLOOM_M - 1} + 1)) % {BLOOM_M} AS p{i}"
        for i in range(BLOOM_J))


DD_BLOOM_SQL = f"""
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey < {_PROBE_MAX}),
urls AS (
  SELECT k, 'https://h' || CAST(k % 50 AS VARCHAR)
            || '.example/p/' || CAST(k AS VARCHAR) AS url
  FROM keys),
cpos AS (
  SELECT {_bloom_pos_sql('url')} FROM urls WHERE k < {_CRAWLED_MAX}),
bits AS (
  SELECT pos // {_BLOOM_BPW} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_BPW} AS INT)) AS bits
  FROM (SELECT DISTINCT pos FROM (
          SELECT unnest([p0, p1, p2]) AS pos FROM cpos))
  GROUP BY 1),
ppos AS (
  SELECT url, k, unnest([p0, p1, p2]) AS pos
  FROM (SELECT url, k, {_bloom_pos_sql('url')} FROM urls)),
probed AS (
  SELECT p.url, p.k,
         bool_and(((coalesce(b.bits, CAST(0 AS BIGINT))
                    >> CAST(p.pos % {_BLOOM_BPW} AS INT)) & 1) = 1)
             AS bloom_maybe
  FROM ppos p LEFT JOIN bits b ON b.word = p.pos // {_BLOOM_BPW}
  GROUP BY p.url, p.k)
SELECT url, bloom_maybe,
       k < {_CRAWLED_MAX} AS is_member,
       bloom_maybe AND NOT (k < {_CRAWLED_MAX}) AS false_positive
FROM probed
"""


# --- Count-Min frequency sketch (the third of the sketch trio) -------------
# KMV answers DISTINCT, Bloom answers MEMBERSHIP; Count-Min answers
# FREQUENCY — "how often does this token appear corpus-wide" without a
# corpus-wide per-token aggregate. The sketch is a d×W counter grid:
# every token occurrence increments one bucket per row (d Kirsch-
# Mitzenmacher hashes again), the estimate is the MIN over rows of the
# token's buckets, and by construction estimate >= true count (collisions
# only ever ADD). Build cost at 10^12 docs: one map-side-combinable
# count per (row, bucket) — the grid is d*W rows TOTAL whatever the
# corpus size, and querying any token is a broadcast lookup. The exact
# count column in the query output is the verification twin (same
# honest pattern as dd_bloom_membership's is_member): production keeps
# only the sketch.

CMS_D = 3           # hash rows
CMS_W = 16          # buckets per row — sized to the sf0.01 corpus's
                    # 31-token vocabulary so collisions (the thing that
                    # makes it a sketch) genuinely occur; production
                    # sizes W in the millions, same plan
CMS_TOP_K = 20      # report size (exact top-K keeps the output bounded)


def _cms_positions(col: str):
    return _km_positions(col, CMS_W, CMS_D)


def cms_heavy_hitters(docs: DataFrame, top_k: int = CMS_TOP_K) -> DataFrame:
    """documents(text) → the corpus's top_k tokens with exact count and
    Count-Min estimate: (rk, tok, n_exact, cms_est)."""
    toks = docs.select(
        F.explode(ws.tokens(F.col("text"))).alias("tok"))
    sketch = (toks
              .select(F.posexplode(_cms_positions("tok"))
                      .alias("row", "bucket"))
              .groupBy("row", "bucket")
              .agg(F.count("*").alias("cnt")))
    from pyspark.sql.window import Window
    # distributed top-K (TakeOrderedAndProject — per-partition heads, no
    # global sort); the rank window then runs over only top_k rows
    top = (toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
           .orderBy(F.desc("n_exact"), F.asc("tok")).limit(top_k)
           .withColumn("rk", F.row_number().over(
               Window.orderBy(F.desc("n_exact"), F.asc("tok")))
               .cast("long")))
    probes = top.select(
        "rk", "tok", "n_exact",
        F.posexplode(_cms_positions("tok")).alias("row", "bucket"))
    return (probes.join(F.broadcast(sketch), ["row", "bucket"])
            .groupBy("rk", "tok", "n_exact")
            .agg(F.min("cnt").alias("cms_est"))
            .select("rk", "tok", F.col("n_exact").cast("long"),
                    F.col("cms_est").cast("long")))


def ta_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cms_heavy_hitters(load(spark, sf_dir, "documents"))


TA_CMS_SQL = rf"""
WITH tok AS (
  SELECT unnest({ws.tokens_sql("text")}) AS tok
  FROM documents),
hashed AS (
  SELECT tok,
         {md5_int_sql("tok", 14)} AS h1,
         {md5_int_sql("tok", 14, 14)} AS h2
  FROM tok),
pos AS (
  SELECT tok, r, (h1 + r * (h2 % {CMS_W - 1} + 1)) % {CMS_W} AS bucket
  FROM hashed, unnest([{", ".join(str(r) for r in range(CMS_D))}]) AS t(r)),
sketch AS (
  SELECT r, bucket, count(*) AS cnt FROM pos GROUP BY r, bucket),
top AS (
  SELECT tok, count(*) AS n_exact,
         row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
  FROM tok GROUP BY tok
  QUALIFY rk <= {CMS_TOP_K})
SELECT CAST(t.rk AS BIGINT) AS rk, t.tok,
       CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(min(s.cnt) AS BIGINT) AS cms_est
FROM top t
JOIN pos p ON p.tok = t.tok
JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY t.rk, t.tok, t.n_exact
"""


# --- Exponential-histogram quantiles (the fourth corpus-scale question) ----
# DISTINCT (KMV), MEMBERSHIP (Bloom), FREQUENCY (Count-Min) — and
# DISTRIBUTION: "what is the p99 document length" drives every
# length-cutoff curation rule (Gopher's bounds, packing sequence sizing),
# and an exact quantile at 10^12 docs is a global sort. The
# corpus-scale answer is a histogram sketch; power-of-two bins make it
# DETERMINISTIC (bin = floor(log2 n) = length(bin(n)) - 1, exact integer
# string-length arithmetic in both engines — no float log2 whose
# boundary rounding could differ), and the quantile estimate is integer
# interpolation within the bin. One map-side-combined aggregate into
# <=64 rows whatever the corpus size; the cumulative window runs over
# those <=64 bins, never over documents.

QS_PS = (25, 50, 75, 90, 99)    # report percentiles


def quantile_sketch(docs: DataFrame, value_col: str = "n_chars",
                    ps: tuple = QS_PS) -> DataFrame:
    """documents → (p, n_total, bin, est): percentile estimates of
    value_col from a power-of-two-bin histogram. Estimate convention:
    rank r = ceil(p*N/100) (1-based); within bin b (covering [2^b,
    2^(b+1))), est = 2^b + (r - cum_before - 1) * 2^b DIV cnt_b."""
    from pyspark.sql.window import Window

    hist = (docs.select(
        (F.length(F.bin(F.col(value_col))) - 1).cast("long").alias("bin"))
        .groupBy("bin").agg(F.count("*").alias("cnt")))
    # cumulative counts over <=64 bin rows (bounded; not a corpus window)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = (hist
           .withColumn("cum_before",
                       F.coalesce(F.sum("cnt").over(w), F.lit(0)))
           .withColumn("n_total",
                       F.sum("cnt").over(
                           Window.orderBy(F.lit(1))
                           .rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing))))
    pdf = docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"))
    ranked = (pdf.crossJoin(F.broadcast(cum))
              .withColumn("r", F.expr("(p * n_total + 99) DIV 100"))
              .where((F.col("cum_before") < F.col("r"))
                     & (F.col("r") <= F.col("cum_before") + F.col("cnt"))))
    width = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT))")
    return (ranked.select(
        F.col("p").cast("long"),
        F.col("n_total").cast("long"),
        "bin",
        (width + F.call_function(
            "div", (F.col("r") - F.col("cum_before") - 1) * width,
            F.col("cnt"))).cast("long").alias("est")))


def ta_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantile_sketch(load(spark, sf_dir, "documents"))


def _hist_cum_ctes(src: str, col: str) -> str:
    """Shared power-of-two-bin histogram + cumulative-rank CTEs — ONE
    copy of the bin expression and rank convention for every quantile
    oracle (TA_QS_SQL, CX_BAND_SQL, _ppl_buckets_sql)."""
    return f"""hist AS (
  SELECT CAST(length(bin({col})) - 1 AS BIGINT) AS bin,
         count(*) AS cnt
  FROM {src} GROUP BY 1),
cum AS (
  SELECT bin, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_total
  FROM hist)"""


_QS_EST_EXPR = """CAST((CAST(1 AS BIGINT) << CAST(c.bin AS INT))
            + ((p.p * c.n_total + 99) // 100 - c.cum_before - 1)
              * (CAST(1 AS BIGINT) << CAST(c.bin AS INT)) // c.cnt
            AS BIGINT)"""

_QS_RANK_JOIN = """ON c.cum_before < (p.p * c.n_total + 99) // 100
 AND (p.p * c.n_total + 99) // 100 <= c.cum_before + c.cnt"""


def _est_bounds_ctes(lo: int, hi: int) -> str:
    """est + 1-row (lo, hi) bounds CTEs over the shared cum relation."""
    return f"""est AS (
  SELECT p.p, {_QS_EST_EXPR} AS est
  FROM (SELECT unnest([{lo}, {hi}]) AS p) p JOIN cum c
    {_QS_RANK_JOIN}),
bounds AS (
  SELECT max(CASE WHEN p = {lo} THEN est END) AS lo,
         max(CASE WHEN p = {hi} THEN est END) AS hi
  FROM est)"""


TA_QS_SQL = ("WITH " + _hist_cum_ctes("documents", "n_chars") + f""",
ps AS (SELECT unnest([{", ".join(str(p) for p in QS_PS)}]) AS p)
SELECT CAST(p.p AS BIGINT) AS p,
       c.n_total,
       c.bin,
       {_QS_EST_EXPR} AS est
FROM ps p JOIN cum c
  {_QS_RANK_JOIN}
""")


# --- grouped quantile sketch (per-host median) -----------------------------
# The GROUP BY form of the sketch — the reason sketches exist at all:
# per-host p50 length without per-host sorts. Same power-of-two bins
# and rank convention as quantile_sketch, but the histogram keys on
# (source, bin) and the cumulative window partitions BY SOURCE over
# <=64 bin rows per host — a bounded partition, never a corpus window
# (the WindowExec here is the safe kind: its partition is the sketch
# state, not the data).

GQS_P = 50


def grouped_quantile_sketch(docs: DataFrame, group_col: str = "source",
                            value_col: str = "n_chars",
                            p: int = GQS_P) -> DataFrame:
    """→ (source, n_total, est): per-group percentile estimate."""
    from pyspark.sql.window import Window

    hist = (docs.select(
        F.col(group_col),
        (F.length(F.bin(F.col(value_col))) - 1).cast("long").alias("bin"))
        .groupBy(group_col, "bin").agg(F.count("*").alias("cnt")))
    w = (Window.partitionBy(group_col).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, -1))
    wt = Window.partitionBy(group_col)
    cum = (hist
           .withColumn("cum_before",
                       F.coalesce(F.sum("cnt").over(w), F.lit(0)))
           .withColumn("n_total", F.sum("cnt").over(wt))
           .withColumn("r", F.expr(f"({p} * n_total + 99) DIV 100")))
    width = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT))")
    return (cum.where((F.col("cum_before") < F.col("r"))
                      & (F.col("r") <= F.col("cum_before") + F.col("cnt")))
            .select(F.col(group_col),
                    F.col("n_total").cast("long"),
                    (width + F.call_function(
                        "div",
                        (F.col("r") - F.col("cum_before") - 1) * width,
                        F.col("cnt"))).cast("long").alias("est")))


def ta_host_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_quantile_sketch(load(spark, sf_dir, "documents"))


TA_HOST_MEDIAN_SQL = f"""
WITH hist AS (
  SELECT source, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bin,
         count(*) AS cnt
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, bin, cnt,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_total
  FROM hist),
ranked AS (
  SELECT source, bin, cnt, cum_before, n_total,
         ({GQS_P} * n_total + 99) // 100 AS r
  FROM cum)
SELECT source, n_total,
       CAST((CAST(1 AS BIGINT) << CAST(bin AS INT))
            + (r - cum_before - 1)
              * (CAST(1 AS BIGINT) << CAST(bin AS INT)) // cnt
            AS BIGINT) AS est
FROM ranked
WHERE cum_before < r AND r <= cum_before + cnt
"""


# --- sketch-driven length-band curation ------------------------------------
# The composition that makes the quantile sketch a CURATION operator and
# not a report: "drop the shortest quartile and the >p99 tail" is the
# standard length-cutoff rule, and at 10^12 docs the cutoffs must come
# from the sketch (an exact percentile is a global sort). Plan shape:
# the sketch collapses the corpus to <=64 bin rows, the two estimates
# reduce to ONE bounds row that broadcasts back into a corpus-wide
# projection — the corpus is scanned twice and shuffled only for the
# final per-source aggregate; no percentile state ever leaves the plan.

_BAND_LO_P, _BAND_HI_P = 25, 99


def cx_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → per-source (n_docs, n_below, n_kept, n_above) under
    the sketch-estimated [p25, p99] length band."""
    docs = load(spark, sf_dir, "documents")
    qs = quantile_sketch(docs, ps=(_BAND_LO_P, _BAND_HI_P))
    bounds = qs.agg(
        F.max(F.when(F.col("p") == _BAND_LO_P, F.col("est"))).alias("lo"),
        F.max(F.when(F.col("p") == _BAND_HI_P, F.col("est"))).alias("hi"))
    below = F.col("n_chars") < F.col("lo")
    above = F.col("n_chars") > F.col("hi")
    return (docs.crossJoin(F.broadcast(bounds))
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(below.cast("long")).cast("long").alias("n_below"),
                 F.sum((~below & ~above).cast("long")).cast("long")
                 .alias("n_kept"),
                 F.sum(above.cast("long")).cast("long").alias("n_above"))
            .orderBy("source"))


CX_BAND_SQL = (
    "WITH " + _hist_cum_ctes("documents", "n_chars") + ",\n"
    + _est_bounds_ctes(_BAND_LO_P, _BAND_HI_P) + """
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN d.n_chars >= b.lo AND d.n_chars <= b.hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above
FROM documents d CROSS JOIN bounds b
GROUP BY d.source
""")


# --- CCNet perplexity buckets: LM score × quantile sketch ------------------
# CCNet's signature move: score every document with the reference LM,
# then split the corpus into head/middle/tail TERTILES of the score
# distribution — head feeds training, middle is kept under caps, tail
# is dropped or down-sampled. Composed here from two already-oracled
# engines: the wave-13 bigram LM score (text_analysis.lm_scores, high
# score == reference-like == head) and the exponential-histogram
# quantile sketch estimating the 33rd/67th percentiles. The sketch
# collapses the corpus to <=64 bin rows, the two estimates reduce to
# ONE bounds row broadcast back into a corpus-wide projection — no
# percentile state ever crosses an exchange (cx_length_band's shape).

_PPL_LO_P, _PPL_HI_P = 33, 67    # tertile cut points


def cx_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.text_analysis import lm_scores

    # two consumers: the sketch's histogram branch AND the final
    # bucketing projection — without a persist the full LM subplan, the
    # most expensive text_analysis pipeline, runs twice
    scored = scoped_persist("sketches.cx_ppl_buckets",
                            lm_scores(load(spark, sf_dir, "documents")))
    qs = quantile_sketch(scored, value_col="lm_score_x1e6",
                         ps=(_PPL_LO_P, _PPL_HI_P))
    bounds = qs.agg(
        F.max(F.when(F.col("p") == _PPL_LO_P, F.col("est"))).alias("lo"),
        F.max(F.when(F.col("p") == _PPL_HI_P, F.col("est"))).alias("hi"))
    bucket = (F.when(F.col("lm_score_x1e6") > F.col("hi"), "head")
              .when(F.col("lm_score_x1e6") >= F.col("lo"), "middle")
              .otherwise("tail"))
    return (scored.crossJoin(F.broadcast(bounds))
            .select("doc_id", "lm_score_x1e6", bucket.alias("bucket")))


def _ppl_buckets_sql() -> str:
    from ocr_platform_spark.operators.text_analysis import TA_LM_SQL

    return (f"WITH scored AS ({TA_LM_SQL}),\n"
            + _hist_cum_ctes("scored", "lm_score_x1e6") + ",\n"
            + _est_bounds_ctes(_PPL_LO_P, _PPL_HI_P) + """
SELECT s.doc_id, s.lm_score_x1e6,
       CASE WHEN s.lm_score_x1e6 > b.hi THEN 'head'
            WHEN s.lm_score_x1e6 >= b.lo THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s CROSS JOIN bounds b
""")


# --- HyperLogLog with a SPEC'D register layout -----------------------------
# The module docstring's argument against HLL — engine-specific register
# layouts can't cross-engine-hash — applies to ENGINE-BUILTIN HLL
# (approx_count_distinct). It does not apply to a layout we specify
# ourselves: register index = top 6 bits of the shared 56-bit md5 hash,
# rho = leading-zero run of the remaining 50 bits + 1, estimator in pure
# int64 fixed point, linear-counting correction via a 64-entry
# PRECOMPUTED integer table (math.log runs once at import, on the
# driver; both engines receive the same literals — no runtime floats
# anywhere, the round-4 lesson). This is the industry-standard sketch
# (Flajolet et al. 2007, m=64 → ~13% std error) next to its KMV cousin:
# same hash, same per-host universe, radically smaller state (64 ints vs
# SALTS*K), mergeable by register-wise MAX — the partial aggregate
# combines map-side and the merge width is 64 rows per host, period.

HLL_B = 6                       # register-index bits
HLL_M = 1 << HLL_B              # 64 registers
_HLL_WBITS = _HASH_BITS - HLL_B            # 50 suffix bits
_HLL_WMASK = (1 << _HLL_WBITS) - 1
_HLL_L = 40                     # fixed-point exponent for 2^-M terms
# alpha_64 = 0.709 (Flajolet et al. 2007, Fig. 3) in x1000 fixed point;
# the whole numerator is one exact int64 literal shared with the SQL
_HLL_EST_NUM = (709 * HLL_M * HLL_M * (1 << _HLL_L)) // 1000
_HLL_LC_THRESH = (5 * HLL_M) // 2          # raw <= 160 → linear counting
# linear counting m*ln(m/V) for V = 1..64 zero registers, floored
import math as _math  # noqa: E402  (module-scope on purpose: literals)

HLL_LC_TABLE = tuple(int(HLL_M * _math.log(HLL_M / v)) for v in
                     range(1, HLL_M + 1))


def hll_distinct(docs: DataFrame) -> DataFrame:
    """documents(source, text) → (source, n_reg_hit, hll_est): per-host
    token-vocabulary cardinality estimate. Two aggregates: (source,
    register) max-rho (map-side combinable), then a 64-row-per-host
    fold into the estimator — no distinct-token stream ever shuffles."""
    toks = docs.select(
        "source",
        F.explode(ws.tokens(F.col("text"))).alias("tok"))
    h = _h56("tok")
    w = h.bitwiseAND(F.lit(_HLL_WMASK))
    # bit_length(w) via minimal binary-string conv; w == 0 handled first
    rho = (F.when(w == 0, F.lit(_HLL_WBITS + 1))
           .otherwise(F.lit(_HLL_WBITS + 1)
                      - F.length(F.conv(w, 10, 2))).cast("int"))
    reg = (toks.select("source", F.shiftright(h, _HLL_WBITS).alias("j"),
                       rho.alias("rho"))
           .groupBy("source", "j").agg(F.max("rho").alias("mj")))
    # F.shiftleft's python wrapper wants a literal numBits; the SQL
    # function itself takes a column
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"),
        F.greatest(F.lit(_HLL_L) - F.col("mj"), F.lit(0)))
    folded = reg.groupBy("source").agg(
        F.count("*").cast("long").alias("n_reg_hit"),
        F.sum(term).cast("long").alias("s_hit"))
    n_zero = F.lit(HLL_M) - F.col("n_reg_hit")
    s_total = (F.col("s_hit")
               + n_zero * F.lit(1 << _HLL_L).cast("long"))
    raw = F.call_function("div", F.lit(_HLL_EST_NUM).cast("long"), s_total)
    lc = F.element_at(F.array(*[F.lit(v).cast("long")
                                for v in HLL_LC_TABLE]),
                      n_zero.cast("int"))
    return folded.select(
        "source", "n_reg_hit",
        F.when((n_zero > 0) & (raw <= _HLL_LC_THRESH), lc)
        .otherwise(raw).cast("long").alias("hll_est"))


def ta_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_distinct(load(spark, sf_dir, "documents"))


TA_HLL_SQL = rf"""
WITH tok AS (
  SELECT source,
         unnest({ws.tokens_sql("text")}) AS tok
  FROM documents),
h AS (
  SELECT source,
         {md5_int_sql("tok", 14)} AS h
  FROM tok),
reg AS (
  SELECT source, h >> {_HLL_WBITS} AS j,
         max(CASE WHEN (h & {_HLL_WMASK}) = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h & {_HLL_WMASK}))
             END) AS mj
  FROM h GROUP BY source, j),
folded AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_reg_hit,
         CAST(sum(CAST(1 AS BIGINT)
                  << greatest({_HLL_L} - mj, 0)) AS BIGINT) AS s_hit
  FROM reg GROUP BY source),
est AS (
  SELECT source, n_reg_hit,
         {HLL_M} - n_reg_hit AS n_zero,
         {_HLL_EST_NUM} // (s_hit + ({HLL_M} - n_reg_hit)
                            * (CAST(1 AS BIGINT) << {_HLL_L})) AS raw
  FROM folded)
SELECT source, n_reg_hit,
       CAST(CASE WHEN n_zero > 0 AND raw <= {_HLL_LC_THRESH}
                 THEN ([{", ".join(str(v) for v in HLL_LC_TABLE)}])[n_zero]
                 ELSE raw END AS BIGINT) AS hll_est
FROM est
"""


# --- HLL rollup: sketch once, merge upward ---------------------------------
# Mergeability is the property that makes a sketch DISTRIBUTED: the
# corpus-level distinct count must come from register-wise MAX over the
# per-host registers — never from re-scanning tokens. ta_hll_rollup
# computes the (source, register) table ONCE and emits both levels from
# it; the test additionally pins that the merged estimate equals a
# direct whole-corpus HLL run (exact equality — max is associative, so
# merge-then-estimate IS estimate-over-union by construction).

def hll_registers(docs: DataFrame) -> DataFrame:
    """(source, j, mj): the per-host register table — the sketch state
    every level of the rollup derives from."""
    toks = docs.select(
        "source",
        F.explode(ws.tokens(F.col("text"))).alias("tok"))
    h = _h56("tok")
    w = h.bitwiseAND(F.lit(_HLL_WMASK))
    rho = (F.when(w == 0, F.lit(_HLL_WBITS + 1))
           .otherwise(F.lit(_HLL_WBITS + 1)
                      - F.length(F.conv(w, 10, 2))).cast("int"))
    return (toks.select("source", F.shiftright(h, _HLL_WBITS).alias("j"),
                        rho.alias("rho"))
            .groupBy("source", "j").agg(F.max("rho").alias("mj")))


def hll_estimate(reg: DataFrame, key) -> DataFrame:
    """Fold a register table grouped by ``key`` into the estimator —
    the same int64 fixed-point arithmetic as hll_distinct."""
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"),
        F.greatest(F.lit(_HLL_L) - F.col("mj"), F.lit(0)))
    folded = reg.groupBy(key).agg(
        F.count("*").cast("long").alias("n_reg_hit"),
        F.sum(term).cast("long").alias("s_hit"))
    n_zero = F.lit(HLL_M) - F.col("n_reg_hit")
    s_total = (F.col("s_hit")
               + n_zero * F.lit(1 << _HLL_L).cast("long"))
    raw = F.call_function("div", F.lit(_HLL_EST_NUM).cast("long"), s_total)
    lc = F.element_at(F.array(*[F.lit(v).cast("long")
                                for v in HLL_LC_TABLE]),
                      n_zero.cast("int"))
    return folded.withColumn(
        "hll_est",
        F.when((n_zero > 0) & (raw <= _HLL_LC_THRESH), lc)
        .otherwise(raw).cast("long"))


def ta_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both rollup levels from ONE register pass: per-source rows plus
    the corpus row whose registers are the register-wise MAX merge.
    The register table persists (two consumers; without it the token
    explode would re-run per level, which is exactly what mergeability
    exists to avoid)."""
    reg = scoped_persist("sketches.ta_hll_rollup",
                         hll_registers(load(spark, sf_dir, "documents")))
    per_src = (hll_estimate(reg, "source")
               .select(F.lit("source").alias("level"),
                       F.col("source").alias("key"),
                       "n_reg_hit", "hll_est"))
    merged = reg.groupBy("j").agg(F.max("mj").alias("mj"))
    corpus = (hll_estimate(merged.withColumn("all", F.lit("<ALL>")), "all")
              .select(F.lit("corpus").alias("level"),
                      F.col("all").alias("key"),
                      "n_reg_hit", "hll_est"))
    return per_src.unionByName(corpus)


TA_HLL_ROLLUP_SQL = rf"""
WITH tok AS (
  SELECT source,
         unnest({ws.tokens_sql("text")}) AS tok
  FROM documents),
h AS (
  SELECT source,
         {md5_int_sql("tok", 14)} AS h
  FROM tok),
reg AS (
  SELECT source, h >> {_HLL_WBITS} AS j,
         max(CASE WHEN (h & {_HLL_WMASK}) = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h & {_HLL_WMASK}))
             END) AS mj
  FROM h GROUP BY source, j),
lvl AS (
  SELECT 'source' AS level, source AS key, j, mj FROM reg
  UNION ALL
  SELECT 'corpus', '<ALL>', j, max(mj) FROM reg GROUP BY 3),
folded AS (
  SELECT level, key, CAST(count(*) AS BIGINT) AS n_reg_hit,
         CAST(sum(CAST(1 AS BIGINT)
                  << greatest({_HLL_L} - mj, 0)) AS BIGINT) AS s_hit
  FROM lvl GROUP BY 1, 2),
est AS (
  SELECT level, key, n_reg_hit,
         {HLL_M} - n_reg_hit AS n_zero,
         {_HLL_EST_NUM} // (s_hit + ({HLL_M} - n_reg_hit)
                            * (CAST(1 AS BIGINT) << {_HLL_L})) AS raw
  FROM folded)
SELECT level, key, n_reg_hit,
       CAST(CASE WHEN n_zero > 0 AND raw <= {_HLL_LC_THRESH}
                 THEN ([{", ".join(str(v) for v in HLL_LC_TABLE)}])[n_zero]
                 ELSE raw END AS BIGINT) AS hll_est
FROM est
"""


# --- inverse-CDF percentile normalization ----------------------------------
# The OTHER direction of the quantile sketch: quantile_sketch maps
# p -> value; this maps each document's VALUE -> approximate percentile
# (the inverse CDF) — the normalization step that makes scores from
# different corpora comparable before mixing (CCNet normalizes LM
# scores exactly this way). Estimate: rank(v) = cum_before(bin(v)) +
# (v - 2^bin) * cnt_bin DIV 2^bin (within-bin linear interpolation, the
# mirror of the quantile estimator), pct_x1e4 = rank * 10000 DIV N.
# All int64, both engines identical. The histogram collapses to <=64
# rows and BROADCASTS back onto the corpus projection; the scored
# relation persists (two consumers: histogram + projection).


def ta_lm_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.text_analysis import lm_scores

    scored = scoped_persist("sketches.ta_lm_percentile",
                            lm_scores(load(spark, sf_dir, "documents")))

    from pyspark.sql.window import Window

    hist = (scored.select(
        (F.length(F.bin(F.col("lm_score_x1e6"))) - 1).cast("long")
        .alias("bin"))
        .groupBy("bin").agg(F.count("*").alias("cnt")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wt = (Window.orderBy(F.lit(1))
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    cum = (hist
           .withColumn("cum_before",
                       F.coalesce(F.sum("cnt").over(w), F.lit(0)))
           .withColumn("n_total", F.sum("cnt").over(wt)))
    v = F.col("lm_score_x1e6")
    width = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT))")
    rank = (F.col("cum_before")
            + F.call_function("div",
                              F.greatest(v - width, F.lit(0).cast("long"))
                              * F.col("cnt"), width))
    return (scored
            .withColumn("bin",
                        (F.length(F.bin(v)) - 1).cast("long"))
            .join(F.broadcast(cum), "bin")
            .select("doc_id", "lm_score_x1e6",
                    F.call_function("div", rank * 10000,
                                    F.col("n_total"))
                    .cast("long").alias("pct_x1e4")))


def _lm_percentile_sql() -> str:
    from ocr_platform_spark.operators.text_analysis import TA_LM_SQL

    return (f"WITH scored AS ({TA_LM_SQL}),\n"
            + _hist_cum_ctes("scored", "lm_score_x1e6") + """
SELECT s.doc_id, s.lm_score_x1e6,
       CAST(((c.cum_before
              + (greatest(s.lm_score_x1e6
                          - (CAST(1 AS BIGINT) << CAST(c.bin AS INT)), 0)
                 * c.cnt) // (CAST(1 AS BIGINT) << CAST(c.bin AS INT)))
             * 10000) // c.n_total AS BIGINT) AS pct_x1e4
FROM scored s
JOIN cum c
  ON c.bin = CAST(length(bin(s.lm_score_x1e6)) - 1 AS BIGINT)
""")


QUERIES: dict = {
    "ta_kmv_distinct": (ta_kmv_distinct, TA_KMV_SQL),
    "ta_quantile_sketch": (ta_quantile_sketch, TA_QS_SQL),
    # wave 9: the sketch composed into the curation rule it exists for
    "cx_length_band": (cx_length_band, CX_BAND_SQL),
    "dd_bloom_membership": (dd_bloom_membership, DD_BLOOM_SQL),
    # completes the sketch trio (distinct / membership / frequency);
    # registered beyond the driver's fully-allocated 50-row window —
    # the local gate is its record
    "ta_cms_heavy_hitters": (ta_cms_heavy_hitters, TA_CMS_SQL),
    # wave 18: CCNet head/middle/tail buckets — the LM score composed
    # with the quantile sketch; beyond-window (local-gate record)
    "cx_ppl_buckets": (cx_ppl_buckets, _ppl_buckets_sql()),
    # wave 20: HyperLogLog with a spec'd register layout — beyond-window
    "ta_hll_distinct": (ta_hll_distinct, TA_HLL_SQL),
    # wave 63: sketch-once merge-upward rollup, beyond-window
    "ta_hll_rollup": (ta_hll_rollup, TA_HLL_ROLLUP_SQL),
    # wave 45: grouped quantile sketch (per-host median), beyond-window
    "ta_host_median": (ta_host_median, TA_HOST_MEDIAN_SQL),
    # wave 50: inverse-CDF percentile normalization, beyond-window
    "ta_lm_percentile": (ta_lm_percentile, _lm_percentile_sql()),
}
