"""Web-corpus curation operators beyond per-document filters: the
host/domain-level and cross-corpus passes a pretraining data team runs
after extraction (reference analogue: the corpus-wide review/rollup views
over extracted texts, apps/web/src/server/routers/texts.ts — here
re-expressed as the standard published web-pipeline steps: C4 span dedup,
RefinedWeb/CCNet host stats + per-domain caps, benchmark decontamination,
and a fastText-style linear quality model).

Everything is JVM column math (zero Python UDFs) and every ratio is
``floor(10000*x)`` fixed-point so the DuckDB value-hash is bit-stable.

Physical shape at scale (100 TB):
- ``ta_host_stats``: one hash-aggregate keyed on host; partial (map-side)
  combine does the heavy lifting, distinct counts are Spark's two-level
  expand — no row ever leaves its partition un-combined.
- ``cx_domain_cap``: per-domain top-K WITHOUT a per-domain single
  partition: a salted pre-window prunes each domain to K rows per salt
  shard (bounded memory even for a domain with 10^8 pages), then the
  final window ranks at most K*SALTS rows per domain.
- ``cx_decontaminate``: the eval/benchmark side is tiny by construction
  (benchmarks are ~10^3..10^5 docs), so its distinct shingle set is
  broadcast; the corpus side streams through a broadcast semi-join —
  no corpus-wide shuffle of shingles.
- ``dd_span_dedup``: keep-first is an aggregate (``min(struct(doc_id,
  pos))`` per span hash) + regroup, NOT a global window — map-side
  combine collapses hot spans (boilerplate repeated on millions of
  pages) before the shuffle, the skew-safe form of C4's rule.
- ``ta_quality_model``: pure per-row projection, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.functions.md5int import md5_int, md5_int_sql
from ocr_platform_spark.operators.tables import load


# --- host/domain statistics (RefinedWeb/CCNet-style corpus census) --------
def ta_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus census: volume, token mass, language spread, and
    exact-dup mass — the table a data team reads before writing domain
    rules. ``source`` is the host key of the documents table."""
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "source", "lang",
        F.size(ws.tokens(F.col("text"))).alias("n_tok"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("text").alias("th"))
    return (per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct("th")).alias("n_exact_dup_docs"),
        F.floor(10000.0 * F.sum("n_tok") / F.count("*"))
        .cast("long").alias("mean_tokens_x10k")))


TA_HOST_STATS_SQL = rf"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len({ws.tokens_sql("text")})) AS BIGINT)
           AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       count(*) - count(DISTINCT md5(text)) AS n_exact_dup_docs,
       CAST(floor(10000.0 * sum(len({ws.tokens_sql("text")}))
                  / count(*)) AS BIGINT) AS mean_tokens_x10k
FROM documents
GROUP BY source
"""


# --- per-domain document cap (anti-spam, CCNet/RefinedWeb practice) -------
CAP_K = 10          # max docs kept per host
_CAP_SALTS = 8      # phase-1 shards per host — bounds per-task state


def cx_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most CAP_K docs per host, chosen by a deterministic
    hash-priority (md5 of the doc id — an unbiased sample, not
    first-crawled bias). Two-phase top-K: a salted window prunes each
    host to <=CAP_K rows per salt shard first, so no single task ever
    materializes a whole hot domain; the final per-host rank sees at
    most CAP_K*_CAP_SALTS rows per host."""
    docs = load(spark, sf_dir, "documents")
    pri = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", "source", pri.alias("pri"))
    salted = base.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(_CAP_SALTS)))
    w1 = Window.partitionBy("source", "salt").orderBy("pri", "doc_id")
    pruned = (salted.withColumn("r1", F.row_number().over(w1))
              .filter(F.col("r1") <= CAP_K).drop("r1", "salt"))
    w2 = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (pruned.withColumn("cap_rank", F.row_number().over(w2))
            .filter(F.col("cap_rank") <= CAP_K)
            .select("doc_id", "source", "cap_rank"))


CX_DOMAIN_CAP_SQL = """
SELECT doc_id, source, cap_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS cap_rank
  FROM documents) t
WHERE cap_rank <= 10
"""


# --- benchmark decontamination (GPT-3 §2.2 / PaLM-style n-gram scan) ------
_DECON_N = 5  # word n-gram width; GPT-3 used 13-grams on much longer docs


def _shingles(n: int):
    """Word n-gram array, empty when the doc has fewer than n tokens.
    (Spark's sequence(1, 0) DESCENDS to [1, 0] — the when() guard is
    load-bearing, not style.)"""
    toks = ws.tokens(F.col("text"))
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def cx_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs that share any word 5-gram with the held-out
    eval set (docs with doc_id % 97 == 0 stand in for the benchmark).
    The eval shingle set is broadcast — benchmarks are tiny next to the
    corpus — so the corpus side never shuffles its shingles."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    eval_sh = (docs.filter(is_eval)
               .select(F.explode(_shingles(_DECON_N)).alias("sh"))
               .distinct())
    hits = (docs.filter(~is_eval)
            .select("doc_id", F.explode(_shingles(_DECON_N)).alias("sh"))
            .join(F.broadcast(eval_sh), "sh")
            .groupBy("doc_id")
            .agg(F.countDistinct("sh").alias("n_hits")))
    return (docs.select("doc_id", is_eval.alias("is_eval"))
            .join(hits, "doc_id", "left")
            .select(
                "doc_id", "is_eval",
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                .alias("n_eval_shingle_hits"),
                (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
                .alias("contaminated")))


CX_DECONTAMINATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {ws.tokens_sql("text")} AS ws
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
                               i -> array_to_string(ws[i:i+4], ' '))) AS sh
  FROM toks),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
hits AS (
  SELECT s.doc_id, count(DISTINCT s.sh) AS n
  FROM sh s JOIN ev USING (sh)
  WHERE s.doc_id % 97 <> 0
  GROUP BY s.doc_id)
SELECT d.doc_id,
       d.doc_id % 97 = 0 AS is_eval,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_shingle_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


# --- C4-style duplicate-span removal (keep first occurrence) --------------
_SPAN_W = 8  # words per span; C4 used three-sentence windows


def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's corpus-level rule (Raffel et al. 2020 §2.2): occurring-more-
    than-once spans are kept only at their first occurrence (order by
    doc_id, then position). Spans are non-overlapping 8-word chunks
    (the corpus is flat word text; C4's three-sentence unit assumes
    punctuation). Keep-first is an AGGREGATE — min(struct(doc_id, pos))
    per span — so hot boilerplate spans collapse map-side instead of
    sorting inside one window partition."""
    docs = load(spark, sf_dir, "documents")
    toks = ws.tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(_SPAN_W))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            (i - 1).alias("pos"),
            F.concat_ws(" ", F.slice(toks, (i - 1) * _SPAN_W + 1, _SPAN_W))
            .alias("span")))
    exploded = (docs.select("doc_id", F.explode(chunks).alias("c"))
                .select("doc_id", F.col("c.pos").alias("pos"),
                        F.col("c.span").alias("span")))
    keep = (exploded.groupBy("span")
            .agg(F.min(F.struct("doc_id", "pos")).alias("k"))
            .select(F.col("k.doc_id").alias("doc_id"),
                    F.col("k.pos").alias("pos"), "span"))
    rebuilt = (keep.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "span"))),
            lambda s: s["span"])).alias("clean_text")))
    totals = exploded.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_spans",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


DD_SPAN_DEDUP_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {ws.tokens_sql("text")} AS ws
  FROM documents),
ch AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(ws[(i-1)*8+1 : least((i-1)*8+8, len(ws))], ' ')
             AS span
  FROM (SELECT doc_id, ws,
               unnest(generate_series(
                   1, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        FROM toks)),
k AS (
  SELECT doc_id, pos, span FROM (
    SELECT doc_id, pos, span,
           row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
    FROM ch)
  WHERE rn = 1),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS clean_text
  FROM k GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_spans FROM ch GROUP BY doc_id)
SELECT t.doc_id, t.n_spans,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


# --- linear quality model (fastText-classifier stand-in) ------------------
def ta_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linear quality scorer — the shape of the fastText /
    logistic quality classifiers used to rank web docs (CCNet, LLaMA),
    with fixed interpretable integer weights instead of learned floats:
    rewards lexical diversity (TTR) and stopword presence, penalizes
    digit mass and word lengths far from prose norms, with a capped
    length bonus. Pure projection; all integer fixed-point."""
    docs = load(spark, sf_dir, "documents")
    toks = ws.tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_chars_in_toks = F.length(ws.squash("text"))
    n_digits = (F.length("text")
                - F.length(F.regexp_replace("text", r"[0-9]", "")))
    ttr = F.floor(10000.0 * n_uniq / n_tok)
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "and", "of", "to")))
    stop = F.floor(10000.0 * stop_hits / n_tok)
    mwl = F.floor(10000.0 * n_chars_in_toks / n_tok)
    dig = F.floor(10000.0 * n_digits / F.greatest(F.length("text"), F.lit(1)))
    wl_pen = F.floor(F.abs(mwl - 50000) / 10.0)
    score = (3 * ttr + 6 * stop - 2 * dig - wl_pen
             + 10 * F.least(n_tok, F.lit(300)))
    return docs.select(
        "doc_id",
        ttr.cast("long").alias("ttr_x10k"),
        stop.cast("long").alias("stop_x10k"),
        mwl.cast("long").alias("mean_wl_x10k"),
        dig.cast("long").alias("digit_x10k"),
        score.cast("long").alias("score_x10k"),
        (score >= 12000).alias("quality_pass"))


TA_QUALITY_MODEL_SQL = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(floor(10000.0 * len(list_distinct(
                  {ws.tokens_sql("text")}))
              / len({ws.tokens_sql("text")})) AS BIGINT)
             AS ttr_x10k,
         CAST(floor(10000.0 * len(list_filter(
                  {ws.tokens_sql("text")},
                  t -> t IN ('the','a','and','of','to')))
              / len({ws.tokens_sql("text")})) AS BIGINT)
             AS stop_x10k,
         CAST(floor(10000.0 * length({ws.squash_sql("text")})
              / len({ws.tokens_sql("text")})) AS BIGINT)
             AS mean_wl_x10k,
         CAST(floor(10000.0 * (length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g')))
              / greatest(length(text), 1)) AS BIGINT) AS digit_x10k,
         len({ws.tokens_sql("text")}) AS n_tok
  FROM documents)
SELECT doc_id, ttr_x10k, stop_x10k, mean_wl_x10k, digit_x10k,
       CAST(3 * ttr_x10k + 6 * stop_x10k - 2 * digit_x10k
            - floor(abs(mean_wl_x10k - 50000) / 10.0)
            + 10 * least(n_tok, 300) AS BIGINT) AS score_x10k,
       (3 * ttr_x10k + 6 * stop_x10k - 2 * digit_x10k
            - floor(abs(mean_wl_x10k - 50000) / 10.0)
            + 10 * least(n_tok, 300)) >= 12000 AS quality_pass
FROM f
"""


# --- URL canonicalization + re-crawl dedup (keep newest capture) ----------
def _raw_urls(df: DataFrame) -> DataFrame:
    """Deterministic raw-URL corpus synthesized from orders: each group of
    4 keys yields 4 messy variants (case, default port, fragment, tracking
    params, param order, trailing slash) of ONE canonical URL, captured at
    the row's o_orderdate — the shape of Common-Crawl re-crawls."""
    g = (F.col("o_orderkey") / 4).cast("long")
    v = F.pmod(F.col("o_orderkey"), F.lit(4))
    gs = g.cast("string")
    raw = (F.when(v == 0, F.concat(F.lit("https://WWW.Example.COM/items/"),
                                   gs, F.lit("?b=2&a=1")))
           .when(v == 1, F.concat(F.lit("https://www.example.com:443/items/"),
                                  gs, F.lit("?a=1&b=2#frag")))
           .when(v == 2, F.concat(F.lit("https://www.example.com/items/"),
                                  gs, F.lit("/?utm_source=x&b=2&a=1")))
           .otherwise(F.concat(F.lit("https://www.example.com/items/"),
                               gs, F.lit("?a=1&fbclid=zz&b=2"))))
    return df.select("o_orderkey", "o_orderdate", raw.alias("raw_url"))


_TRACKING = r"^(utm_[a-z]+|fbclid|gclid)="


def canonicalize_url(raw):
    """Column → canonical URL: lowercase scheme+host, strip default port,
    drop fragment, drop tracking params, sort surviving query params,
    strip trailing slash. Pure JVM column math (regex + array ops)."""
    no_frag = F.regexp_replace(raw, r"#.*$", "")
    head = F.regexp_extract(no_frag, r"^([^?]*)", 1)      # scheme://host/path
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    scheme_host = F.lower(F.regexp_extract(head, r"^([a-zA-Z]+://[^/]*)", 1))
    scheme_host = F.regexp_replace(scheme_host, r":(443|80)$", "")
    path = F.regexp_replace(F.regexp_extract(head, r"^[a-zA-Z]+://[^/]*(/.*)?$", 1),
                            r"/$", "")
    params = F.filter(F.split(query, "&"),
                      lambda p: (p != "") & ~p.rlike(_TRACKING))
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(scheme_host, path,
                    F.when(qs != "", F.concat(F.lit("?"), qs))
                    .otherwise(F.lit("")))


def dd_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl dedup: canonicalize every captured URL, keep the NEWEST
    capture per canonical URL (ties broken by key). Keep-newest is an
    aggregate — max(struct(ts, key)) per canonical URL — not a window, so
    a URL recrawled daily for years collapses map-side."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    caps = (_raw_urls(orders)
            .select("o_orderkey", "o_orderdate",
                    canonicalize_url(F.col("raw_url")).alias("canon_url")))
    return (caps.groupBy("canon_url").agg(
        F.count("*").alias("n_captures"),
        F.max(F.struct(F.col("o_orderdate").alias("d"),
                       F.col("o_orderkey").alias("k"))).alias("m"))
        .select("canon_url", "n_captures",
                F.col("m.k").alias("kept_orderkey"),
                F.date_format("m.d", "yyyy-MM-dd").alias("latest_capture")))


DD_URL_DEDUP_SQL = r"""
WITH caps AS (
  SELECT o_orderkey, o_orderdate,
         raw_url,
         -- canonicalize: drop fragment, lowercase scheme://host, strip
         -- default port, strip trailing slash, drop tracking params,
         -- sort surviving params
         lower(regexp_extract(regexp_replace(raw_url, '#.*$', ''),
                              '^([a-zA-Z]+://[^/]*)', 1)) AS sh0,
         regexp_replace(regexp_extract(regexp_replace(raw_url, '#.*$', ''),
                        '^[a-zA-Z]+://[^/]*(/[^?]*)?', 1), '/$', '') AS path,
         array_to_string(list_sort(list_filter(
             string_split(regexp_extract(regexp_replace(raw_url, '#.*$', ''),
                                         '\?([^#]*)$', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(
                 p, '^(utm_[a-z]+|fbclid|gclid)='))), '&') AS qs
  FROM (
    SELECT o_orderkey, o_orderdate,
           CASE CAST(o_orderkey % 4 AS INT)
             WHEN 0 THEN 'https://WWW.Example.COM/items/'
                 || CAST(o_orderkey // 4 AS VARCHAR) || '?b=2&a=1'
             WHEN 1 THEN 'https://www.example.com:443/items/'
                 || CAST(o_orderkey // 4 AS VARCHAR) || '?a=1&b=2#frag'
             WHEN 2 THEN 'https://www.example.com/items/'
                 || CAST(o_orderkey // 4 AS VARCHAR) || '/?utm_source=x&b=2&a=1'
             ELSE 'https://www.example.com/items/'
                 || CAST(o_orderkey // 4 AS VARCHAR) || '?a=1&fbclid=zz&b=2'
           END AS raw_url
    FROM orders WHERE o_orderkey < 2000)),
canon AS (
  SELECT o_orderkey, o_orderdate,
         regexp_replace(sh0, ':(443|80)$', '') || path
             || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon_url
  FROM caps)
SELECT canon_url, count(*) AS n_captures,
       CAST(max(struct_pack(d := o_orderdate, k := o_orderkey)).k AS BIGINT)
           AS kept_orderkey,
       strftime(max(o_orderdate), '%Y-%m-%d') AS latest_capture
FROM canon
GROUP BY canon_url
"""


# --- LM-proxy quality: corpus token-frequency score (CCNet-style) ---------
def ta_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-proxy document score without floats: each token is
    scored by its corpus frequency (the integer stand-in for a KenLM
    unigram log-prob), a doc by floor(10000 * mean token count). Garbage
    and OOV-heavy docs score low; boilerplate scores high — both ends get
    routed to review, the CCNet head/middle/tail practice.

    Shape at scale: pass 1 is one map-side-combined count per token; the
    score join keys tokens on the vocab table — Zipf means the hot head
    (a few thousand tokens covering most mass) belongs in a broadcast and
    only the long tail shuffles; at this corpus size the whole vocab fits
    one broadcast, which is what AQE picks."""
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", F.explode(ws.tokens(F.col("text"))).alias("tok")))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    return (toks.join(vocab, "tok")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tok"),
                 F.floor(10000.0 * F.sum("tf") / F.count("*"))
                 .cast("long").alias("freq_score_x10k")))


TA_FREQ_SCORE_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest({ws.tokens_sql("text")}) AS tok
  FROM documents),
vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
SELECT t.doc_id,
       count(*) AS n_tok,
       CAST(floor(10000.0 * sum(v.tf) / count(*)) AS BIGINT)
           AS freq_score_x10k
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
"""


# --- corpus mixing with derived per-source rates (CCNet/Pile practice) ----
def cx_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a uniform per-source token budget: measure
    each source's token mass, derive its sampling rate toward the uniform
    share (capped at keep-all), apply the deterministic md5 hash-coin.
    Unlike ta_sample_split's FIXED per-language rates, the rates here are
    DERIVED from the corpus itself — the two-pass mixture computation a
    data team runs when sources are wildly imbalanced.

    Shape at scale: pass 1 is one tiny aggregate (rows = n_sources);
    its result broadcasts back onto the corpus — the corpus itself never
    shuffles."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select("doc_id", "source", F.size(ws.tokens(F.col("text"))).alias("n_tok"))
    per_src = per_doc.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens"))
    totals = per_src.agg(
        F.sum("src_tokens").alias("total"),
        F.count("*").alias("n_src"))
    rates = (per_src.crossJoin(F.broadcast(totals))
             .select("source", F.least(
                 F.lit(10000),
                 F.floor(10000.0 * (F.col("total") / F.col("n_src"))
                         / F.col("src_tokens")).cast("long"))
                 .alias("rate_x10k")))
    coin = md5_int(F.encode(
        F.concat_ws(":", F.lit("cxmix"), F.col("doc_id").cast("string")),
        "UTF-8"), 15) % 10000
    return (per_doc.join(F.broadcast(rates), "source")
            .withColumn("coin_x10k", coin)
            .filter(F.col("coin_x10k") < F.col("rate_x10k"))
            .select("doc_id", "source", "n_tok", "rate_x10k", "coin_x10k"))


_CX_MIX_COIN = md5_int_sql("'cxmix:' || CAST(d.doc_id AS VARCHAR)",
                           15) + " % 10000"
CX_MIX_SQL = rf"""
WITH per_doc AS (
  SELECT doc_id, source,
         len({ws.tokens_sql("text")}) AS n_tok
  FROM documents),
per_src AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
  FROM per_doc GROUP BY source),
rates AS (
  SELECT source,
         least(10000, CAST(floor(
             10000.0 * ((SELECT sum(src_tokens) FROM per_src)
                        / (SELECT count(*) FROM per_src))
             / src_tokens) AS BIGINT)) AS rate_x10k
  FROM per_src)
SELECT d.doc_id, d.source, d.n_tok, r.rate_x10k,
       {_CX_MIX_COIN} AS coin_x10k
FROM per_doc d JOIN rates r USING (source)
WHERE {_CX_MIX_COIN} < r.rate_x10k
"""


# --- sequence packing for training (fixed-length token windows) -----------
_SEQ_LEN = 256
_PACK_BUCKETS = 32


def cx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc its position in packed fixed-length training
    sequences: docs are sharded into _PACK_BUCKETS independent streams
    (doc_id hash), concatenated in doc_id order within a shard, and cut
    every _SEQ_LEN tokens. Emits where each doc starts (shard, running
    token offset, sequence id, offset inside the sequence) — the index a
    packer needs to materialize training rows WITHOUT re-reading text.

    The running offset is a window sum partitioned by shard — each shard
    is an independent bounded stream, so no global ordering exists
    anywhere; shard count scales with the cluster, not the corpus."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id"), F.lit(_PACK_BUCKETS))
    per = docs.select("doc_id", bucket.alias("bucket"),
                      F.size(ws.tokens(F.col("text"))).alias("n_tok"))
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (per.withColumn("start_offset", start.cast("long"))
            .select("doc_id", "bucket", "n_tok", "start_offset",
                    (F.col("start_offset") / _SEQ_LEN).cast("long")
                    .alias("seq_id"),
                    F.pmod(F.col("start_offset"), F.lit(_SEQ_LEN))
                    .cast("long").alias("offset_in_seq")))


CX_PACK_SQL = rf"""
WITH per AS (
  SELECT doc_id, doc_id % 32 AS bucket,
         len({ws.tokens_sql("text")}) AS n_tok
  FROM documents)
SELECT doc_id, bucket, n_tok,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start_offset,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 256 AS BIGINT) AS seq_id,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            % 256 AS BIGINT) AS offset_in_seq
FROM per
"""


# --- URL blocklist filter (UT1-style domain + keyword rules) ---------------
_BLOCKED_HOSTS = ("h3.example.net", "h7.example.net")
_URL_KEYWORD_RE = "(casino|xxx)"


def _filter_urls(df: DataFrame) -> DataFrame:
    """Deterministic multi-host URL corpus from orders: 16 hosts, every
    11th key carries a blocked path keyword."""
    host = F.concat(F.lit("h"), F.pmod(F.col("o_orderkey"), F.lit(16)),
                    F.lit(".example.net"))
    kw = F.when(F.pmod(F.col("o_orderkey"), F.lit(11)) == 0,
                F.lit("/casino")).otherwise(F.lit(""))
    url = F.concat(F.lit("https://"), host, kw, F.lit("/p/"),
                   F.col("o_orderkey").cast("string"))
    return df.select("o_orderkey", host.alias("host"), url.alias("url"))


def cx_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-blocklist-style URL filtering: hosts on the blocklist are
    dropped via a BROADCAST anti-join (the list is tiny next to the
    corpus — it must never become the shuffle key), URL keyword rules are
    a per-row regex. Emits every URL with its verdict (never-drop: the
    filter is a flag, the materializer downstream decides)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    urls = _filter_urls(orders)
    block = spark.createDataFrame(
        [(h,) for h in _BLOCKED_HOSTS], "host string")
    hits = (urls.join(F.broadcast(block), "host", "left_semi")
            .select("o_orderkey"))
    return (urls.join(hits.withColumn("bh", F.lit(True)), "o_orderkey", "left")
            .select(
                "o_orderkey", "url", "host",
                F.coalesce("bh", F.lit(False)).alias("blocked_host"),
                F.col("url").rlike(_URL_KEYWORD_RE).alias("blocked_keyword"),
                (F.coalesce("bh", F.lit(False))
                 | F.col("url").rlike(_URL_KEYWORD_RE)).alias("blocked")))


CX_URL_FILTER_SQL = r"""
WITH urls AS (
  SELECT o_orderkey,
         'h' || CAST(o_orderkey % 16 AS VARCHAR) || '.example.net' AS host,
         'https://h' || CAST(o_orderkey % 16 AS VARCHAR) || '.example.net'
             || CASE WHEN o_orderkey % 11 = 0 THEN '/casino' ELSE '' END
             || '/p/' || CAST(o_orderkey AS VARCHAR) AS url
  FROM orders WHERE o_orderkey < 3000)
SELECT o_orderkey, url, host,
       host IN ('h3.example.net', 'h7.example.net') AS blocked_host,
       regexp_matches(url, '(casino|xxx)') AS blocked_keyword,
       host IN ('h3.example.net', 'h7.example.net')
           OR regexp_matches(url, '(casino|xxx)') AS blocked
FROM urls
"""


# --- retrieval-prep passage chunking ----------------------------------------
# The RAG-side twin of cx_pack_sequences: where packing concatenates
# docs into training rows, chunking SPLITS each doc into overlapping
# fixed-size passages with stable ids — the unit every embedding index
# and BM25 passage store is built over. Sliding window of _CHUNK_TOK
# tokens with stride _CHUNK_STRIDE (adjacent chunks share
# _CHUNK_TOK - _CHUNK_STRIDE tokens so answers spanning a boundary
# survive in at least one passage).
#
# Shape at scale: pure projection + explode (the D1 fan-out pattern) —
# ZERO shuffle, chunk count is derived per row with integer ceil
# arithmetic and materialized by sequence()+explode, the chunk body by
# slice()+array_join, all inside whole-stage codegen. The emitted md5
# is the chunk's content address (what the index stores); text itself
# never leaves the stage.

_CHUNK_TOK = 64      # passage length (tokens)
_CHUNK_STRIDE = 48   # overlap 16: boundary answers survive


def chunk_passages(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per overlapping passage: (doc_id,
    chunk_idx, n_chunk_tokens, chunk_md5). Every doc emits >= 1 chunk
    (never-drop); the last chunk is the only one shorter than
    _CHUNK_TOK."""
    toks = ws.tokens(F.col("text"))
    last_idx = F.expr(          # ceil((n_tok - CHUNK) / STRIDE), >= 0
        f"(greatest(n_tok - {_CHUNK_TOK}, 0) + {_CHUNK_STRIDE - 1})"
        f" DIV {_CHUNK_STRIDE}")
    per = (docs.select("doc_id", toks.alias("tk"),
                       F.size(toks).alias("n_tok"))
           .select("doc_id", "tk", "n_tok",
                   F.explode(F.sequence(F.lit(0), last_idx.cast("int")))
                   .alias("chunk_idx")))
    start = F.col("chunk_idx") * _CHUNK_STRIDE
    length = F.least(F.lit(_CHUNK_TOK), F.col("n_tok") - start)
    return per.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        length.cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(F.slice("tk", start + 1, length), " "))
        .alias("chunk_md5"))


def cx_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_passages(load(spark, sf_dir, "documents"))


CX_CHUNK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {ws.tokens_sql("text")} AS tk
  FROM documents),
per AS (
  SELECT doc_id, tk, len(tk) AS n_tok,
         unnest(generate_series(
             0, (greatest(len(tk) - {_CHUNK_TOK}, 0)
                 + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE})) AS chunk_idx
  FROM toks)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(least({_CHUNK_TOK}, n_tok - chunk_idx * {_CHUNK_STRIDE})
            AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(
           tk[chunk_idx * {_CHUNK_STRIDE} + 1
              : chunk_idx * {_CHUNK_STRIDE}
                + least({_CHUNK_TOK},
                        n_tok - chunk_idx * {_CHUNK_STRIDE})],
           ' ')) AS chunk_md5
FROM per
"""


# --- URL structure features (spam-classifier inputs) -----------------------
# The URL-only feature set every crawl spam classifier starts from
# (host digit density, subdomain depth, path depth, parameter count —
# content farms and auto-generated link networks light these up before
# a byte of HTML is fetched). The corpus synthesizes a deterministic
# messy-URL menu from orders keys (the cx_url_filter pattern) spanning
# clean news hosts, hyphen-digit blog hosts, digit-stuffed spam hosts,
# deep subdomains, deep paths, and tracking-parameter tails; the
# OPERATOR then parses host/path/query back out of the raw url string
# with shared regexes (both engines run the same extraction — the
# parse is the operator, the menu is just input). Pure projection,
# zero shuffle at any corpus size.

_UF_HOST_RE = "https://([^/]+)"
_UF_PATH_RE = "https://[^/?]+([^?]*)"
_UF_QUERY_RE = r"\?(.*)$"


def _feature_urls(orders: DataFrame) -> DataFrame:
    k = F.col("o_orderkey")
    ks = k.cast("string")
    host = (F.when(k % 4 == 0, F.lit("news.example.com"))
            .when(k % 4 == 1, F.concat(F.lit("blog-"), (k % 10).cast("string"),
                                       F.lit(".example.net")))
            .when(k % 4 == 2, F.concat(F.lit("a"), (k % 100).cast("string"),
                                       F.lit("b"), (k % 10).cast("string"),
                                       F.lit("c.example.org")))
            .otherwise(F.concat(F.lit("www.sub"), (k % 5).cast("string"),
                                F.lit(".deep.example.com"))))
    path = (F.when(k % 3 == 0, F.concat(F.lit("/p/"), ks))
            .when(k % 3 == 1, F.concat(F.lit("/a/b/c/d/e/f/"), ks))
            .otherwise(F.concat(F.lit("/item-"), ks, F.lit(".html"))))
    query = (F.when(k % 6 == 0, F.concat(
                F.lit("?utm_source=x&ref=y&id="), ks, F.lit("&s=1")))
             .when(k % 6 == 5, F.lit("?q=1"))
             .otherwise(F.lit("")))
    return orders.select(
        "o_orderkey",
        F.concat(F.lit("https://"), host, path, query).alias("url"))


def cx_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _feature_urls(
        load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000))
    host = F.regexp_extract("url", _UF_HOST_RE, 1)
    path = F.regexp_extract("url", _UF_PATH_RE, 1)
    query = F.regexp_extract("url", _UF_QUERY_RE, 1)
    n_digits = (F.length(host)
                - F.length(F.regexp_replace(host, "[0-9]", "")))
    n_sub = F.length(host) - F.length(F.regexp_replace(host, r"\.", ""))
    depth = F.length(path) - F.length(F.regexp_replace(path, "/", ""))
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.length(query) - F.length(F.regexp_replace(query, "&", "")) + 1)
    out = urls.select(
        "o_orderkey", "url",
        F.length(host).cast("long").alias("host_len"),
        n_sub.cast("long").alias("n_subdomains"),
        n_digits.cast("long").alias("host_digits"),
        depth.cast("long").alias("path_depth"),
        n_params.cast("long").alias("n_params"))
    return out.withColumn(
        "suspicious",
        (F.col("host_digits") >= 3) | (F.col("path_depth") >= 6)
        | (F.col("n_params") >= 3))


CX_URL_FEATURES_SQL = r"""
WITH urls AS (
  SELECT o_orderkey,
         'https://'
         || CASE WHEN o_orderkey % 4 = 0 THEN 'news.example.com'
                 WHEN o_orderkey % 4 = 1
                     THEN 'blog-' || CAST(o_orderkey % 10 AS VARCHAR)
                          || '.example.net'
                 WHEN o_orderkey % 4 = 2
                     THEN 'a' || CAST(o_orderkey % 100 AS VARCHAR) || 'b'
                          || CAST(o_orderkey % 10 AS VARCHAR)
                          || 'c.example.org'
                 ELSE 'www.sub' || CAST(o_orderkey % 5 AS VARCHAR)
                      || '.deep.example.com' END
         || CASE WHEN o_orderkey % 3 = 0
                     THEN '/p/' || CAST(o_orderkey AS VARCHAR)
                 WHEN o_orderkey % 3 = 1
                     THEN '/a/b/c/d/e/f/' || CAST(o_orderkey AS VARCHAR)
                 ELSE '/item-' || CAST(o_orderkey AS VARCHAR) || '.html'
            END
         || CASE WHEN o_orderkey % 6 = 0
                     THEN '?utm_source=x&ref=y&id='
                          || CAST(o_orderkey AS VARCHAR) || '&s=1'
                 WHEN o_orderkey % 6 = 5 THEN '?q=1'
                 ELSE '' END AS url
  FROM orders WHERE o_orderkey < 2000),
parts AS (
  SELECT o_orderkey, url,
         regexp_extract(url, 'https://([^/]+)', 1) AS host,
         regexp_extract(url, 'https://[^/?]+([^?]*)', 1) AS path,
         regexp_extract(url, '\?(.*)$', 1) AS query
  FROM urls),
f AS (
  SELECT o_orderkey, url,
         CAST(length(host) AS BIGINT) AS host_len,
         CAST(length(host) - length(replace(host, '.', ''))
              AS BIGINT) AS n_subdomains,
         CAST(length(host)
              - length(regexp_replace(host, '[0-9]', '', 'g'))
              AS BIGINT) AS host_digits,
         CAST(length(path) - length(replace(path, '/', ''))
              AS BIGINT) AS path_depth,
         CAST(CASE WHEN query = '' THEN 0
              ELSE length(query) - length(replace(query, '&', '')) + 1
              END AS BIGINT) AS n_params
  FROM parts)
SELECT o_orderkey, url, host_len, n_subdomains, host_digits,
       path_depth, n_params,
       host_digits >= 3 OR path_depth >= 6 OR n_params >= 3
           AS suspicious
FROM f
"""


# --- domain-level quality filtering ----------------------------------------
# RefinedWeb/Dolma curate at the DOMAIN level next to the document
# level: a host whose pages consistently fail the quality classifier is
# a content farm, and its occasional passing page is almost always a
# false positive — so the host's aggregate pass rate, not the page's
# own score, makes the call. Two hops, both scale-shaped: the per-host
# (n, passes) aggregate combines map-side to one row per host, and the
# verdict joins back on source — a shuffle equi-join (the host table is
# ~10^8 rows at crawl scale, NOT broadcastable; the aggregate side is
# already hash-partitioned by source from its own groupBy, so only the
# probe side exchanges — the cx_canonical_dedup reasoning). Never-drop:
# every document gets a row carrying its host's verdict.

DOMAIN_Q_MIN_X1E4 = 9500      # host pass-rate floor (x1e4 fixed point)


def cx_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    q = ta_quality_model(spark, sf_dir).select("doc_id", "quality_pass")
    per_doc = docs.join(q, "doc_id")
    host = (per_doc.groupBy("source")
            .agg(F.count("*").alias("host_n"),
                 F.sum(F.col("quality_pass").cast("long")).alias("np"))
            .select("source", F.col("host_n").cast("long").alias("host_n"),
                    F.expr("(np * 10000) DIV host_n").cast("long")
                    .alias("host_pass_x1e4")))
    return (per_doc.join(host, "source")
            .select("doc_id", "source", "quality_pass", "host_n",
                    "host_pass_x1e4",
                    (F.col("host_pass_x1e4") >= DOMAIN_Q_MIN_X1E4)
                    .alias("host_kept")))


CX_DOMAIN_QUALITY_SQL = f"""
WITH q AS (SELECT doc_id, quality_pass FROM ({TA_QUALITY_MODEL_SQL})),
per_doc AS (
  SELECT d.doc_id, d.source, q.quality_pass
  FROM documents d JOIN q USING (doc_id)),
host AS (
  SELECT source, CAST(count(*) AS BIGINT) AS host_n,
         CAST((sum(CASE WHEN quality_pass THEN 1 ELSE 0 END) * 10000)
              // count(*) AS BIGINT) AS host_pass_x1e4
  FROM per_doc GROUP BY source)
SELECT p.doc_id, p.source, p.quality_pass, h.host_n, h.host_pass_x1e4,
       h.host_pass_x1e4 >= {DOMAIN_Q_MIN_X1E4} AS host_kept
FROM per_doc p JOIN host h USING (source)
"""


QUERIES: dict = {
    "ta_host_stats": (ta_host_stats, TA_HOST_STATS_SQL),
    "cx_domain_cap": (cx_domain_cap, CX_DOMAIN_CAP_SQL),
    "cx_decontaminate": (cx_decontaminate, CX_DECONTAMINATE_SQL),
    "dd_span_dedup": (dd_span_dedup, DD_SPAN_DEDUP_SQL),
    "ta_quality_model": (ta_quality_model, TA_QUALITY_MODEL_SQL),
    "dd_url_dedup": (dd_url_dedup, DD_URL_DEDUP_SQL),
    "ta_freq_score": (ta_freq_score, TA_FREQ_SCORE_SQL),
    "cx_mix": (cx_mix, CX_MIX_SQL),
    "cx_pack_sequences": (cx_pack_sequences, CX_PACK_SQL),
    "cx_url_filter": (cx_url_filter, CX_URL_FILTER_SQL),
    # wave 15: retrieval-prep passage chunking, beyond-window
    # (local-gate record)
    "cx_chunk_passages": (cx_chunk_passages, CX_CHUNK_SQL),
    # wave 23: domain-level quality filtering, beyond-window
    # (local-gate record)
    "cx_domain_quality": (cx_domain_quality, CX_DOMAIN_QUALITY_SQL),
    # wave 30: URL structure features, beyond-window (local-gate record)
    "cx_url_features": (cx_url_features, CX_URL_FEATURES_SQL),
}
