"""Deduplication operators for web-scale corpus curation: exact, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design notes (the part that must survive 10^12 docs):
- exact dedup is a hash-groupBy on a canonical fingerprint — one shuffle on
  the md5 key, map-side partial agg for the counts;
- MinHash is ONE Arrow-batched pass per document (tokens → md5 token
  hashes → 3-gram shingle hashes → 16 universal-hash minhashes, numpy over
  int64) that also keeps the distinct shingle-hash set; LSH banding, the
  (band, bucket) self-join and the exact-Jaccard verification then run
  JVM-side over that one relation. The only O(n²) work happens inside LSH
  buckets (candidates), never across the corpus; the seeded hash family
  is md5-based so DuckDB reproduces every stage bit-for-bit (full
  value-hash oracles, not just recall tests);
- brute-force n-gram Jaccard (quadratic) exists as the small-scale oracle
  that the probabilistic paths are verified against in pytest;
- SimHash signatures are one Arrow-batched pandas UDF; pair generation is
  banded like MinHash (4×16-bit chunks: Hamming ≤ 3 ⇒ one chunk equal).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.functions.md5int import md5_int_py, md5_int_sql
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import lineage_cut, scoped_persist

MINHASH_PERMS = 16
MINHASH_BANDS = 4          # 4 rows per band
JACCARD_THRESHOLD = 0.5


# --- exact dedup (hash-groupBy; SQL-expressible) --------------------------
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.encode(ws.norm(F.col("text")), "UTF-8"))
    return (docs.select(fp.alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies")))


DD_EXACT_SQL = rf"""
SELECT md5({ws.norm_sql("text")}) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- token-trigram shingles (shared by jaccard + minhash) -----------------
def _shingles(docs: DataFrame) -> DataFrame:
    """doc_id → exploded DISTINCT token-3-gram shingles, all JVM-side.
    `element_at` is 1-based, mirroring DuckDB list indexing.

    The token array is MATERIALIZED as a column before the shingle
    transform: referencing the raw `split(...)` expression inside the
    lambda defeats common-subexpression elimination and re-runs the regex
    split once per element_at — measured 8.8s → 0.9s for the sf0.1
    explosion (the round-2 bench regression's root cause)."""
    toks = ws.tokens(F.col("text"))
    arr = F.col("_toks")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 2),
        lambda i: F.concat_ws(" ", F.element_at(arr, i),
                              F.element_at(arr, i + 1),
                              F.element_at(arr, i + 2)))
    return (docs.filter(F.size(toks) >= 3)
            .select("doc_id", toks.alias("_toks"))
            .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle")))


# --- brute-force n-gram Jaccard (the verifiable oracle path) --------------
# The two all-pairs operators below are ORACLE paths: they exist so the
# probabilistic scale paths (dd_minhash_lsh, dd_embedding_lsh) can be
# verified against exact answers at small scale. Quadratic plans must never
# silently run corpus-wide, so both hard-fail above this row cap (a cheap
# metadata count; override only for a deliberately larger oracle run).
ORACLE_MAX_ROWS = 50_000


def _guard_oracle_scale(df: DataFrame, op: str,
                        max_rows: int = ORACLE_MAX_ROWS) -> None:
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op} is a quadratic all-pairs ORACLE path, refused on "
            f"{n} rows (cap {max_rows}). Use the LSH-bucketed scale path "
            "instead, or raise max_rows for a deliberate oracle run.")


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str,
                     max_rows: int = ORACLE_MAX_ROWS) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    _guard_oracle_scale(docs, "dd_ngram_jaccard", max_rows)
    # the explosion feeds three consumers (sizes + both join sides);
    # persisting it is safe here because the oracle guard above bounds it
    sh = scoped_persist("dedup.dd_ngram_jaccard", _shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    pairs = (inter.join(sa, "a_id").join(sb, "b_id")
             .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
             .filter(F.col("inter") * 2 >= F.col("uni"))  # jaccard >= 0.5
             .select("a_id", "b_id", "inter", "uni"))
    return pairs


DD_JACCARD_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {ws.tokens_sql("text")} AS t FROM documents
  WHERE len({ws.tokens_sql("text")}) >= 3),
sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, inter, sa.n_sh + sb.n_sh - inter AS uni
FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
WHERE inter * 2 >= sa.n_sh + sb.n_sh - inter
"""


# --- MinHash + LSH (the scale path; DuckDB-oracled) -----------------------
# The base hash is functions/md5int's 60-bit hash of each token, the same
# in the Arrow kernel (md5_int_py) and the DuckDB oracle (md5_int_sql) —
# which is what lets the whole LSH path be value-hash verified by the
# driver, not just recall-tested in pytest.
#
# MinHash works entirely in a 31-bit integer field: md5 hashes each TOKEN
# once (the only byte-level hashing), shingle identity is a modular
# combination of its 3 token hashes, and the 16 permutations are the
# classic universal-hash family perm_k(h) = (a_k*h + b_k) mod p. Shingles
# never exist as strings, and every value stays exactly reproducible in
# DuckDB. p = 2^31-1 bounds all products below 2^62: numpy int64 and
# DuckDB BIGINT (which errors on overflow) both stay exact.
MINHASH_P = (1 << 31) - 1
_SHINGLE_COEF = (1000003, 999983, 31)   # order-sensitivity of the 3-gram


def _perm_consts(k: int) -> tuple[int, int]:
    """(a_k, b_k) derived from md5(k) driver-side — deterministic literals
    in both the kernel and the SQL oracle."""
    d = hashlib.md5(f"perm:{k}".encode()).digest()
    a = int.from_bytes(d[:4], "big") % (MINHASH_P - 1) + 1   # 1..p-1
    b = int.from_bytes(d[4:8], "big") % MINHASH_P
    return a, b


def _minhash_batches(batches):
    """``(doc_id, text)`` Arrow batches → ``(doc_id, mh0.., sh)``: the
    distinct 3-gram shingle hashes ``sh`` and their MINHASH_PERMS minhashes,
    one numpy pass per row. Null texts and texts of fewer than 3 tokens
    emit no row. Token hashes are memoised per batch."""
    p = MINHASH_P
    c1, c2, c3 = _SHINGLE_COEF
    a, b = np.array([_perm_consts(k) for k in range(MINHASH_PERMS)],
                    dtype=np.int64).T
    for batch in batches:
        memo: dict[str, int] = {}

        def tok_hash(t: str) -> int:
            h = memo.get(t)
            if h is None:
                h = memo[t] = md5_int_py(t, 15) % p
            return h

        keep, mhs, shs = [], [], []
        for i, text in enumerate(batch.column(1).to_pylist()):
            if text is None:
                continue
            toks = ws.tokens_py(text)
            if len(toks) < 3:
                continue
            h = np.fromiter(map(tok_hash, toks), np.int64, len(toks))
            sh = np.unique((h[:-2] * c1 % p + h[1:-1] * c2 % p
                            + h[2:] * c3 % p) % p)
            keep.append(i)
            mhs.append(((sh[:, None] * a + b) % p).min(axis=0))
            shs.append(sh)
        if not keep:
            continue
        mh = np.vstack(mhs)
        offsets = np.zeros(len(shs) + 1, dtype=np.int32)
        np.cumsum([len(s) for s in shs], out=offsets[1:])
        yield pa.RecordBatch.from_arrays(
            [batch.column(0).take(pa.array(keep)),
             *(pa.array(mh[:, k]) for k in range(MINHASH_PERMS)),
             pa.ListArray.from_arrays(offsets, np.concatenate(shs))],
            ["doc_id", *(f"mh{k}" for k in range(MINHASH_PERMS)), "sh"])


def _minhash_kernel(docs: DataFrame) -> DataFrame:
    """doc_id → mh0..mh{PERMS-1} (long) and sh (array<long>) in one Arrow
    pass over ``(doc_id, text)``; doc_id keeps the input's type and is a
    key (one row per doc)."""
    schema = StructType(
        [docs.schema["doc_id"]]
        + [StructField(f"mh{k}", LongType()) for k in range(MINHASH_PERMS)]
        + [StructField("sh", ArrayType(LongType()))])
    return docs.select("doc_id", "text").mapInArrow(_minhash_batches, schema)


def _band_bucket_array() -> F.Column:
    """One md5 bucket id per band over that band's minhash rows."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    return F.array(*[
        F.md5(F.encode(F.concat_ws(
            ":", *[F.col(f"mh{b * rows_per_band + r}")
                   for r in range(rows_per_band)]), "UTF-8"))
        for b in range(MINHASH_BANDS)])


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → MINHASH_PERMS minhash columns (universal-hash permutations
    over the hashed-shingle field), from the one Arrow MinHash pass."""
    return _minhash_kernel(docs).drop("sh")


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-duplicate pairs over an arbitrary ``(doc_id, text)``
    relation — the df-level core of ``dd_minhash_lsh``, reused by
    ``plans/corpus_job`` with extracted crawl text (url as doc_id).

    Candidate pairs via LSH banding, then exact-Jaccard verification of
    ONLY the candidates (bucket-join → verify; never all-pairs).

    Physical shape: one persisted relation, the Arrow pass's output
    (doc_id, 16 minhashes, and the distinct shingle hashes — 8 bytes per
    shingle, about the size of the text it came from). Banding, the
    candidate self-join and verification all read it; the text is read
    once. Verification joins each candidate pair to both sides' shingle
    arrays and intersects them in place, so no shingle is ever exploded
    into rows."""
    sigs = scoped_persist("dedup.minhash_pairs.sigs", _minhash_kernel(docs))
    banded = sigs.select(
        "doc_id", F.posexplode(_band_bucket_array()).alias("band", "bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"))
            .distinct())
    sa = sigs.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (cand.join(sa, "a_id").join(sb, "b_id")
            .withColumn("inter", inter)
            .withColumn("uni", (F.size("sa") + F.size("sb")).cast("long")
                        - F.col("inter"))
            .filter(F.col("inter") * 2 >= F.col("uni"))
            .select("a_id", "b_id", "inter", "uni"))


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over the documents table (see
    ``minhash_pairs`` for the plan shape and scale notes)."""
    return minhash_pairs(load(spark, sf_dir, "documents"))


# --- DuckDB oracles for the MinHash/cluster path --------------------------
# Exact replicas of the Spark plan in SQL: same hashed shingles, same
# universal-hash permutation family, same banding, same candidate
# verification. Generated programmatically so every constant stays
# single-sourced with the Spark side.


def _minhash_pair_ctes() -> str:
    p = MINHASH_P
    c1, c2, c3 = _SHINGLE_COEF
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    mh_aggs = ",\n         ".join(
        "min((hmod * {a} + {b}) % {p}) AS mh{k}".format(
            a=_perm_consts(k)[0], b=_perm_consts(k)[1], p=p, k=k)
        for k in range(MINHASH_PERMS))
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, md5({payload}) AS bucket FROM sigs"
        .format(b=b, payload=" || ':' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)))
        for b in range(MINHASH_BANDS))
    toks = ws.tokens_sql("text")
    return rf"""toks AS (
  SELECT doc_id, {toks} AS t FROM documents
  WHERE len({toks}) >= 3),
th AS (
  SELECT doc_id,
         list_transform(t, x ->
           {md5_int_sql("x", 15)} % {p}) AS th
  FROM toks),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(th) - 2),
           i -> (th[i] * {c1} % {p} + th[i+1] * {c2} % {p}
                 + th[i+2] * {c3} % {p}) % {p})) AS hmod
  FROM th),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
sigs AS (
  SELECT doc_id,
         {mh_aggs}
  FROM sh GROUP BY doc_id),
banded AS (
  {band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sb.hmod = sa.hmod
  GROUP BY c.a_id, c.b_id),
verified AS (
  SELECT a_id, b_id, inter, sa.n_sh + sb.n_sh - inter AS uni
  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
  WHERE inter * 2 >= sa.n_sh + sb.n_sh - inter)"""


DD_MINHASH_SQL = (
    "WITH " + _minhash_pair_ctes()
    + "\nSELECT a_id, b_id, inter, uni FROM verified")

# connected components over the verified pair set via recursive closure
# (tiny at oracle scale); cluster_id = min doc_id reachable, matching the
# Spark min-label propagation. Only docs appearing in a pair (cluster n>1).
DD_CLUSTERS_SQL = (
    "WITH RECURSIVE " + _minhash_pair_ctes() + """,
edges AS (
  SELECT a_id AS s, b_id AS d FROM verified
  UNION SELECT b_id, a_id FROM verified),
reach AS (
  SELECT s AS node, d AS lbl FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.lbl)
SELECT node AS doc_id,
       least(node, min(lbl)) AS cluster_id,
       node = least(node, min(lbl)) AS is_canonical
FROM reach GROUP BY node""")


# --- SimHash (pandas UDF signature + banded pairing; SQL-oracled) ---------
# integer bit j of int.from_bytes(d8, "big") lives at byte (7 - j//8),
# within-byte LSB position j%8 → unpackbits(bitorder="little") column map:
_SIMHASH_COLS = [(7 - j // 8) * 8 + (j % 8) for j in range(64)]


def simhash64(text: str, _digest_cache: dict | None = None) -> int:
    """64-bit SimHash over whitespace tokens with md5-derived token hashes
    (stable across processes — Python's builtin hash is salted). Bit
    accumulation is numpy-vectorized; output is bit-identical to the naive
    per-bit loop (asserted in tests/test_operators.py).

    ``_digest_cache`` lets the Arrow-batch UDF hash each UNIQUE token once
    per batch (corpora repeat tokens heavily — the md5-per-token loop was
    the hot cost of dd_simhash). Identity unaffected: the cache only
    memoizes a pure function."""
    if not text:
        return 0
    toks = text.lower().split()
    if not toks:
        return 0
    if _digest_cache is None:
        raw = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8]
                       for t in toks)
    else:
        parts = []
        for t in toks:
            d = _digest_cache.get(t)
            if d is None:
                d = _digest_cache[t] = hashlib.md5(
                    t.encode("utf-8")).digest()[:8]
            parts.append(d)
        raw = b"".join(parts)
    bits = np.unpackbits(
        np.frombuffer(raw, dtype=np.uint8).reshape(-1, 8),
        axis=1, bitorder="little")[:, _SIMHASH_COLS]
    acc = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
    sig = 0
    for j in range(64):
        if acc[j] > 0:
            sig |= 1 << j
    # map into signed-64 space for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@F.pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """Arrow-batch SimHash with a shared per-batch token-digest cache."""
    cache: dict[str, bytes] = {}
    return pd.Series(
        [simhash64(t, cache) if t is not None else 0 for t in text],
        dtype="int64")


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + near-pairs at Hamming ≤ 3 via 4×16-bit banding
    (Hamming ≤ 3 over 64 bits ⇒ at least one 16-bit chunk identical)."""
    docs = load(spark, sf_dir, "documents")
    sigs = docs.select("doc_id", simhash_udf("text").alias("sig"))
    # one pass: 4 chunk values per row via posexplode (vs 4 unioned scans,
    # each re-running the signature UDF)
    chunk_vals = F.array(*[
        F.shiftrightunsigned(F.col("sig"), c * 16).bitwiseAND(F.lit(0xFFFF))
        for c in range(4)])
    banded = sigs.select(
        "doc_id", "sig", F.posexplode(chunk_vals).alias("chunk", "val"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.val") == F.col("b.val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"),
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.sig").alias("sig_b"))
            .distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= 3)
            .select("a_id", "b_id", "hamming"))


def _simhash_sql() -> str:
    """DuckDB replica of simhash64 + banded pairing. The token hash is the
    md5-hex-prefix u64 (same bytes as Python's int.from_bytes(md5[:8],
    'big')); bit j of the signature is a per-bit majority vote
    (2*ones_j > n_tokens), assembled in unsigned space then mapped to the
    signed-64 LongType domain exactly like simhash64 does."""
    bit_sums = ",\n         ".join(
        f"sum(CAST((th >> {j}) & 1 AS BIGINT)) AS c{j}" for j in range(64))
    sig_terms = "\n           + ".join(
        f"CASE WHEN 2 * c{j} > n THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END"
        for j in range(64))
    return f"""
WITH dt AS (
  SELECT doc_id, unnest({ws.py_split_sql("lower(text)")}) AS tok
  FROM documents),
th AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 16)) AS UBIGINT) AS th
  FROM dt),
bits AS (
  SELECT doc_id, count(*) AS n,
         {bit_sums}
  FROM th GROUP BY doc_id),
usigs AS (
  SELECT doc_id,
         ({sig_terms}) AS usig
  FROM bits
  UNION ALL
  -- token-less docs: simhash64 returns signature 0 (never absent)
  SELECT doc_id, 0::UBIGINT AS usig FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM th)),
sigs AS (
  SELECT doc_id,
         CAST(CASE WHEN usig >= {1 << 63}::UBIGINT
              THEN CAST(usig AS HUGEINT) - {1 << 64}::HUGEINT
              ELSE CAST(usig AS HUGEINT) END AS BIGINT) AS sig
  FROM usigs),
chunks AS (
  SELECT doc_id, sig, chunk, (sig >> (chunk * 16)) & 65535 AS val
  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) u),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sig AS sig_a, b.sig AS sig_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT a_id, b_id, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3"""


DD_SIMHASH_SQL = _simhash_sql()


# --- embedding-cosine near-dup (SQL-expressible) --------------------------
# testdata embeddings are near-orthogonal random vectors (max pairwise cos
# ≈ 0.51); 0.35 marks the ~top-0.2% most-similar pairs as "near-dups" so
# the operator's join/filter path is exercised with a non-empty result.
COSINE_NEAR_DUP = 0.35


# _cos_expr lives in similarity.py (dedup depends on similarity, never the
# reverse — the LSH bucketing machinery is shared from there)
from ocr_platform_spark.operators.similarity import _cos_expr  # noqa: E402


def dd_embedding_near(spark: SparkSession, sf_dir: str,
                      max_rows: int = ORACLE_MAX_ROWS) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    _guard_oracle_scale(emb, "dd_embedding_near", max_rows)
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    cos = _cos_expr("va", "vb")
    return (pairs.withColumn("cos", cos)
            .filter(F.col("cos") >= COSINE_NEAR_DUP)
            .select("a_id", "b_id",
                    F.floor(F.col("cos") * 1e6).cast("long").alias("cos_x1e6")))


DD_EMBED_SQL = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       CAST(floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) * 1e6)
            AS BIGINT) AS cos_x1e6
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {COSINE_NEAR_DUP}
"""


# --- LSH-bucketed embedding near-dup (the scale path for dd_embedding) ----
def dd_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT the all-pairs cross join: hyperplane-LSH
    bucketing (same md5-derived constant planes as ann_lsh_topk) proposes
    candidates — only vectors sharing a (table, bucket) — and exact cosine
    verifies within candidates. O(n · bucket_size) vs dd_embedding_near's
    O(n²); pytest asserts recall vs the exact path, the DuckDB oracle
    reproduces bucket+verify bit-for-bit."""
    from ocr_platform_spark.operators.similarity import (
        LSH_PLANES, LSH_TABLES, bucket_array_np)

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # bucket ids only — the vectors must NOT ride through the candidate
    # self-join + distinct (each pair would carry 2x 64 doubles through the
    # shuffle; measured 35s -> ~5s at sf0.1 dropping them). Candidates are
    # bare id-pairs; the two vector fetch-joins afterwards touch only the
    # deduplicated pair set — the same shape as the SQL oracle.
    banded = emb.select(
        "vec_id",
        F.posexplode(bucket_array_np("v", LSH_TABLES, LSH_PLANES))
        .alias("tbl", "bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("a_id"),
                    F.col("b.vec_id").alias("b_id"))
            .distinct())
    # norms once per vector; the (many) candidate pairs pay only the dot
    # fold — identical doubles to _cos_expr (see similarity._cos_expr)
    from ocr_platform_spark.operators.similarity import _dot_expr, _norm_expr

    va = emb.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
                    _norm_expr("v").alias("na"))
    vb = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
                    _norm_expr("v").alias("nb"))
    pairs = cand.join(va, "a_id").join(vb, "b_id")
    cos = _dot_expr("va", "vb") / (F.col("na") * F.col("nb"))
    return (pairs.withColumn("cos", cos)
            .filter(F.col("cos") >= COSINE_NEAR_DUP)
            .select("a_id", "b_id",
                    F.floor(F.col("cos") * 1e6).cast("long").alias("cos_x1e6")))


def _dd_embedding_lsh_sql() -> str:
    from ocr_platform_spark.operators.similarity import (
        LSH_PLANES, LSH_TABLES, banded_sql)

    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
banded AS (
  {banded_sql(LSH_TABLES, LSH_PLANES)}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.a_id, c.b_id,
       CAST(floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) * 1e6)
            AS BIGINT) AS cos_x1e6
FROM cand c
JOIN embeddings a ON a.vec_id = c.a_id
JOIN embeddings b ON b.vec_id = c.b_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {COSINE_NEAR_DUP}"""


# --- duplicate-cluster resolution (connected components) ------------------
# A pair list doesn't dedup a corpus: near-dup similarity is transitive in
# practice (A~B, B~C → one cluster), so the keep/drop decision needs the
# connected component, not the edge. Min-label propagation over the pair
# graph: O(diameter) joins, each a hash join on doc_id — the standard
# large-scale CC algorithm when components are shallow (dup clusters are).


def duplicate_clusters(ids: DataFrame, pairs: DataFrame,
                       max_iter: int = 15) -> DataFrame:
    """ids(doc_id) + pairs(a_id, b_id) → (doc_id, cluster_id, is_canonical).

    cluster_id = min doc_id in the connected component; is_canonical marks
    the single document to KEEP per cluster (the reference's unique-key
    keep-first semantics, schema.prisma:100, applied corpus-wide).

    Warns (and still returns the partial labels) if a component's diameter
    exceeds max_iter — long chain-shaped clusters would otherwise silently
    get wrong keep decisions.
    """
    edges = (pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
             .union(pairs.select(F.col("b_id").alias("src"),
                                 F.col("a_id").alias("dst"))))
    labels = ids.select(F.col("doc_id"),
                        F.col("doc_id").alias("cluster_id"))
    changed = 0
    for _ in range(max_iter):
        # each node adopts the min label among itself and its neighbors;
        # carrying the previous label through the projection makes the
        # convergence probe a filter on the SAME materialization (no extra
        # join or shuffle per round)
        nbr_min = (edges.join(labels,
                              edges.dst == labels.doc_id)
                   .groupBy("src").agg(F.min("cluster_id").alias("nbr_label")))
        stepped = (labels.join(nbr_min, labels.doc_id == nbr_min.src,
                               "left")
                   .select(
                       "doc_id",
                       F.col("cluster_id").alias("prev"),
                       F.least(F.col("cluster_id"),
                               F.coalesce(F.col("nbr_label"),
                                          F.col("cluster_id")))
                       .alias("cluster_id")))
        # lineage is cut every round (iterative plans grow exponentially);
        # the eager cut → one job serves both the probe and the next round
        stepped = lineage_cut(stepped)
        changed = stepped.filter("cluster_id != prev").limit(1).count()
        labels = stepped.drop("prev")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(a component's diameter exceeds max_iter); labels are partial "
            "and keep/drop decisions for the affected chains are unreliable "
            "— raise max_iter", RuntimeWarning, stacklevel=2)
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id"))


def dd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the MinHash-LSH pair set. Oracled against a
    DuckDB recursive-CTE closure (plus pytest vs pure-Python union-find)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dd_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    out = duplicate_clusters(docs.select("doc_id"), pairs)
    # only non-singleton clusters (stable small output for the driver)
    sizes = out.groupBy("cluster_id").agg(F.count("*").alias("n"))
    return (out.join(sizes.filter("n > 1"), "cluster_id")
            .select("doc_id", "cluster_id", "is_canonical")
            .orderBy("cluster_id", "doc_id"))


# --- quality-argmax keeper per near-dup cluster ----------------------------
# Production pipelines (FineWeb, RefinedWeb, Gopher's dedup stage) do NOT
# keep the min-id member of a near-dup cluster — they keep the BEST one,
# ranked by the quality classifier, so dedup never deletes the cleanest
# capture of a page in favor of a boilerplate-ridden mirror that merely
# crawled first. The keeper is a quality-argmax AGGREGATE per cluster
# (min(struct(-score, doc_id)) — tie-break lowest doc_id), never a global
# window: a million-member cluster collapses map-side to one combine-able
# row, and the decision joins back on the already-hash-partitioned
# cluster_id. Reference parity: keep-first unique-key semantics
# (schema.prisma:100) upgraded to keep-best, the curation decision the
# reference's single-node pipeline defers to a human.


def keep_best_per_cluster(labels: DataFrame, scores: DataFrame) -> DataFrame:
    """labels(doc_id, cluster_id) × scores(doc_id, score_x10k) →
    (doc_id, cluster_id, score_x10k, keep). Exactly one keep=true per
    cluster: highest score, tie-break lowest doc_id. Docs missing from
    ``labels`` are singleton clusters (cluster_id = doc_id) and always
    keep themselves."""
    full = (scores.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
                    "score_x10k"))
    keeper = (full.groupBy("cluster_id")
              .agg(F.min(F.struct((-F.col("score_x10k")).alias("ns"),
                                  F.col("doc_id").alias("doc_id")))
                   .alias("k"))
              .select("cluster_id", F.col("k.doc_id").alias("keeper_id")))
    return (full.join(keeper, "cluster_id")
            .select("doc_id", "cluster_id", "score_x10k",
                    (F.col("doc_id") == F.col("keeper_id")).alias("keep")))


def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup resolution: MinHash-LSH pairs → connected
    components → quality-argmax keeper per cluster. Every document gets a
    row (never-drop); singletons keep themselves."""
    from ocr_platform_spark.operators.webcorpus import ta_quality_model

    docs = load(spark, sf_dir, "documents")
    pairs = dd_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    labels = (duplicate_clusters(docs.select("doc_id"), pairs)
              .select("doc_id", "cluster_id"))
    scores = ta_quality_model(spark, sf_dir).select("doc_id", "score_x10k")
    return keep_best_per_cluster(labels, scores)


def _keep_best_sql() -> str:
    from ocr_platform_spark.operators.webcorpus import TA_QUALITY_MODEL_SQL

    return ("WITH RECURSIVE " + _minhash_pair_ctes() + f""",
edges AS (
  SELECT a_id AS s, b_id AS d FROM verified
  UNION SELECT b_id, a_id FROM verified),
reach AS (
  SELECT s AS node, d AS lbl FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.lbl),
lbl AS (
  SELECT node AS doc_id, least(node, min(lbl)) AS cluster_id
  FROM reach GROUP BY node),
q AS (SELECT doc_id, score_x10k FROM ({TA_QUALITY_MODEL_SQL})),
fullset AS (
  SELECT q.doc_id, coalesce(l.cluster_id, q.doc_id) AS cluster_id,
         q.score_x10k
  FROM q LEFT JOIN lbl l USING (doc_id))
SELECT doc_id, cluster_id, score_x10k,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY score_x10k DESC, doc_id) = 1 AS keep
FROM fullset""")


# --- mirror-host detection --------------------------------------------------
# Mirrors (the same site served from several hosts) are a host-LEVEL dup
# problem document dedup can't see: every page pair is an exact dup, but
# the curation decision — keep one host, drop the rest — needs the host
# pair, scored by content containment. Method: per-host exact fingerprint
# sets, self-joined on the fingerprint. The scale hazard is the hot
# fingerprint: boilerplate (empty pages, parked-domain templates) appears
# on ~every host, and a fingerprint on H hosts makes H^2/2 pair rows — so
# fingerprints on > MIRROR_HOT_T hosts are dropped BEFORE the pair join
# (a mirror signal must be rare-by-host to mean anything; the cap bounds
# the join fanout at T^2 per fingerprint). The documents table has no
# cross-host dups, so the query synthesizes the mirror corpus
# deterministically (cx_crawl_delta's pattern): hosts srcN with N%3==0
# gain a mirror m-srcN carrying each text verbatim or perturbed on a
# deterministic md5 hash-coin — a doc_id coin would be confounded with
# the generator's round-robin source assignment (doc_id % n_hosts ==
# host index, so doc_id parity is CONSTANT within a host: measured
# containment 1.0 on even hosts and no pair at all on odd ones) — giving
# containment ~0.5, not an echo of 1.0; plus one planted
# '(boilerplate)' row on EVERY host that the hot guard must suppress —
# without the guard every host pair would share a fingerprint.

MIRROR_HOT_T = 5        # fingerprints on more hosts than this are noise
MIRROR_MIN_SHARED = 2   # pairs sharing fewer fingerprints are not mirrors


def mirror_hosts(corpus: DataFrame,
                 hot_t: int = MIRROR_HOT_T,
                 min_shared: int = MIRROR_MIN_SHARED) -> DataFrame:
    """corpus(source, text) → (host_a, host_b, n_a, n_b, shared,
    cont_x1e6): host pairs ranked by content containment
    shared / min(|A|, |B|), after the hot-fingerprint cap."""
    th = (corpus.select("source", F.md5("text").alias("th"))
          .distinct())
    hot = (th.groupBy("th").agg(F.count("*").alias("nh"))
           .filter(F.col("nh") > hot_t).select("th"))
    # three lazy consumers (both self-join sides + sizes)
    kept = scoped_persist("dedup.mirror_hosts",
                          th.join(hot, "th", "left_anti"))
    sizes = kept.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (kept.alias("a")
             .join(kept.alias("b"), "th")
             .filter(F.col("a.source") < F.col("b.source"))
             .groupBy(F.col("a.source").alias("host_a"),
                      F.col("b.source").alias("host_b"))
             .agg(F.count("*").alias("shared"))
             .filter(F.col("shared") >= min_shared))
    out = (pairs
           .join(F.broadcast(sizes.withColumnRenamed("source", "host_a")
                             .withColumnRenamed("n", "n_a")), "host_a")
           .join(F.broadcast(sizes.withColumnRenamed("source", "host_b")
                             .withColumnRenamed("n", "n_b")), "host_b")
           .select("host_a", "host_b", "n_a", "n_b", "shared",
                   F.expr("(shared * 1000000) DIV least(n_a, n_b)")
                   .cast("long").alias("cont_x1e6")))
    return out


def _mirror_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic mirror synthesis shared with the SQL oracle."""
    base = docs.select("source", "text")
    host_n = F.substring("source", 4, 10).cast("int")
    mirrored = (docs.filter(F.pmod(host_n, F.lit(3)) == 0)
                .select(F.concat(F.lit("m-"), F.col("source"))
                        .alias("source"),
                        F.when(F.substring(F.md5("text"), 1, 1) <= "7",
                               F.col("text"))
                        .otherwise(F.concat(F.lit("m:"), F.col("text")))
                        .alias("text")))
    hosts = base.unionByName(mirrored).select("source").distinct()
    boiler = hosts.withColumn("text", F.lit("(boilerplate)"))
    return base.unionByName(mirrored).unionByName(boiler)


def dd_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return mirror_hosts(_mirror_corpus(docs))


DD_MIRROR_SQL = f"""
WITH corpus AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'm-' || source,
         CASE WHEN substr(md5(text), 1, 1) <= '7' THEN text
              ELSE 'm:' || text END
  FROM documents
  WHERE CAST(substr(source, 4) AS INT) % 3 = 0
  UNION ALL
  SELECT source, '(boilerplate)' FROM (
    SELECT DISTINCT source FROM documents
    UNION
    SELECT DISTINCT 'm-' || source FROM documents
    WHERE CAST(substr(source, 4) AS INT) % 3 = 0)),
th AS (SELECT DISTINCT source, md5(text) AS th FROM corpus),
kept AS (
  SELECT source, th FROM th
  WHERE th NOT IN (
    SELECT th FROM th GROUP BY th HAVING count(*) > {MIRROR_HOT_T})),
sizes AS (SELECT source, count(*) AS n FROM kept GROUP BY source),
pairs AS (
  SELECT a.source AS host_a, b.source AS host_b,
         count(*) AS shared
  FROM kept a JOIN kept b ON a.th = b.th AND a.source < b.source
  GROUP BY 1, 2
  HAVING count(*) >= {MIRROR_MIN_SHARED})
SELECT p.host_a, p.host_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(p.shared AS BIGINT) AS shared,
       CAST((p.shared * 1000000) // least(sa.n, sb.n) AS BIGINT)
           AS cont_x1e6
FROM pairs p
JOIN sizes sa ON sa.source = p.host_a
JOIN sizes sb ON sb.source = p.host_b
"""


QUERIES: dict = {
    "dd_exact": (dd_exact, DD_EXACT_SQL),
    "dd_mirror_hosts": (dd_mirror_hosts, DD_MIRROR_SQL),
    "dd_ngram_jaccard": (dd_ngram_jaccard, DD_JACCARD_SQL),
    "dd_minhash_lsh": (dd_minhash_lsh, DD_MINHASH_SQL),
    "dd_simhash": (dd_simhash, DD_SIMHASH_SQL),
    "dd_embedding_near": (dd_embedding_near, DD_EMBED_SQL),
    "dd_embedding_lsh": (dd_embedding_lsh, _dd_embedding_lsh_sql()),
    "dd_clusters": (dd_clusters, DD_CLUSTERS_SQL),
    # wave 19: quality-argmax keeper per near-dup cluster — beyond the
    # driver's 50-row window; the local gate is its record
    "dd_keep_best": (dd_keep_best, _keep_best_sql()),
}
