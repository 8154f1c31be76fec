"""Similarity search over an embedding column (array<float>).

Two paths, per the training-pipeline brief:
- brute-force cosine top-k — the exactness baseline (SQL-oracled against
  DuckDB's list_cosine_similarity, bit-for-bit double math);
- LSH-bucketed ANN — the scale path: random-hyperplane signatures against
  md5-derived constant planes (inlined literals, zero per-row hashing),
  candidates only within matching buckets. At 10^12 rows the brute-force
  cross join is impossible; the LSH variant's cost is O(n · bucket_size).
  The same plane constants are reproduced in the DuckDB oracle, so the
  whole bucket→re-rank pipeline is value-hash verified.

All vector math is sequential-fold double arithmetic (``_cos_expr``) so
results hash-match DuckDB exactly.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_platform_spark.functions.md5int import md5_int_py
from ocr_platform_spark.operators.registry import fixture_sql as _fixture_sql
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import scoped_persist


def _dot_expr(a: str, b: str) -> F.Column:
    """Sequential-fold double dot product (DuckDB list_dot_product twin)."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
                  f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def _norm_expr(v: str) -> F.Column:
    """Sequential-fold euclidean norm of a vector column."""
    return F.sqrt(F.expr(f"aggregate({v}, CAST(0 AS DOUBLE),"
                         f" (acc, v) -> acc + v * v)"))


def _cos_expr(a: str, b: str) -> F.Column:
    """Sequential-fold double cosine — bit-identical to DuckDB's
    list_cosine_similarity on double lists (verified empirically).

    Per-pair cost is THREE interpreted 64-element folds; candidate-verify
    stages with many pairs precompute per-VECTOR norms once (`_norm_expr`
    joined in) and pay only `_dot_expr` per pair — identical doubles,
    since the norm is the same fold either way."""
    return _dot_expr(a, b) / (_norm_expr(a) * _norm_expr(b))

TOP_K = 10
N_QUERIES = 5
# Testdata embeddings are near-orthogonal random 64-dim vectors — the
# hardest case for hyperplane LSH (all angles ≈ 90°). 4 planes × 12 tables
# gives recall@10 ≈ 0.75 here (asserted ≥ 0.5 in pytest); real clustered
# embeddings at scale warrant more planes (deeper buckets, fewer candidates).
LSH_PLANES = 4
LSH_TABLES = 12


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors (by cosine) for the first N_QUERIES vectors.
    Rank ties broken by neighbor id — deterministic output set."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("vq")))
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vn"))
    pairs = q.join(n, F.col("query_id") != F.col("neighbor_id"))
    cos = _cos_expr("vq", "vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (pairs.withColumn("cos", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank",
                    F.floor(F.col("cos") * 1e6).cast("long").alias("cos_x1e6")))


ANN_BRUTE_SQL = f"""
SELECT query_id, neighbor_id, rank, CAST(floor(cos * 1e6) AS BIGINT) AS cos_x1e6
FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) AS cos,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(n.embedding AS DOUBLE[])) DESC,
                    n.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
  WHERE q.vec_id < {N_QUERIES}) t
WHERE rank <= {TOP_K}
"""


# --- LSH-bucketed ANN (scale path; DuckDB-oracled) ------------------------

EMB_DIM = 64


def md5_plane(table: int, plane: int, dim: int = EMB_DIM) -> list[float]:
    """Pseudo-random hyperplane components
    h_i = md5_int_py(f"{t}:{p}:{i}", 15) / 2^59 - 1 ∈ [-1, 1). The planes
    depend only on (table, plane, i) — NOT on the row — so they are
    computed ONCE driver-side and inlined as literals: no per-row hashing
    at all (the round-1 xxhash64 variant re-derived every component per
    row), and any engine can reproduce them (which is what makes the LSH
    paths value-hash oracle-able)."""
    return [md5_int_py(f"{table}:{plane}:{i}", 15) / 2 ** 59 - 1.0
            for i in range(dim)]


def _dot_lit(v_col: str, comps: list[float]) -> F.Column:
    """Sequential-fold <v, comps> (literal plane) — same fold order as the
    pure-Python and SQL replicas. Bucket signs are robust to last-bit dot
    differences anyway: min |dot| over the fixed testdata is 2.9e-5, ten
    orders above double error (verified exhaustively)."""
    arr = F.array(*[F.lit(c) for c in comps])
    return F.aggregate(F.zip_with(F.col(v_col), arr, lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)


def bucket_array(v_col: str, n_tables: int, n_planes: int) -> F.Column:
    """Array of n_tables LSH bucket ids for the vector column — pure
    Catalyst-expression form (the direct analogue of the SQL oracle).

    NOTE: higher-order functions (aggregate/zip_with) are interpreted, not
    codegen'd — n_tables*n_planes folds of EMB_DIM elements per row is the
    slow path. Hot call sites use :func:`bucket_array_np` (identical
    buckets, asserted by tests/test_operators.py); this form remains the
    documented 1:1 SQL replica and the parity reference."""
    buckets = []
    for t in range(n_tables):
        b = F.lit(0)
        for p in range(n_planes):
            b = (F.shiftleft(b, 1)
                 + (_dot_lit(v_col, md5_plane(t, p)) > 0).cast("int"))
        buckets.append(b)
    return F.array(*buckets)


def _planes_matrix(n_tables: int, n_planes: int, dim: int = EMB_DIM):
    """(n_tables*n_planes, dim) float64 matrix of the md5-derived planes,
    row order = (t, p) nested loops — same planes the expression/SQL
    forms inline as literals."""
    import numpy as np

    return np.array([md5_plane(t, p, dim)
                     for t in range(n_tables) for p in range(n_planes)])


def bucket_array_np(v_col: str, n_tables: int, n_planes: int) -> F.Column:
    """Arrow-batched numpy twin of :func:`bucket_array`: one (n, dim) @
    (dim, tables*planes) matmul per batch instead of tables*planes
    interpreted HOF folds per row (measured ~30x on the sf0.1 bucketing
    stage). Buckets depend only on dot-product SIGNS; the smallest |dot|
    across the testdata is 2.9e-5 (see _dot_lit) — ten orders above the
    summation-order difference between numpy's pairwise sum and the
    sequential fold — so bucket ids are identical, which
    tests/test_operators.py asserts over the full embeddings table."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    planes = _planes_matrix(n_tables, n_planes)      # captured in closure
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        V = np.vstack(vs.to_numpy())                 # (n, dim)
        bits = (V @ planes.T > 0).astype(np.int64)   # (n, tables*planes)
        ids = (bits.reshape(len(vs), n_tables, n_planes)
               * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(ids))

    return _buckets(F.col(v_col))


def _plane_sql(comps: list[float]) -> str:
    """repr() round-trips doubles exactly; DuckDB parses to the same bits."""
    return "[" + ",".join(repr(c) for c in comps) + "]::DOUBLE[]"


def banded_sql(n_tables: int, n_planes: int) -> str:
    """DuckDB CTE body: (vec_id, v, tbl, bucket) rows, one per table."""
    selects = []
    for t in range(n_tables):
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_sql(md5_plane(t, p))})"
            f" > 0 THEN {1 << (n_planes - 1 - p)} ELSE 0 END)"
            for p in range(n_planes))
        selects.append(
            f"SELECT vec_id, v, {t} AS tbl, {bucket} AS bucket FROM emb")
    return "\n  UNION ALL\n  ".join(selects)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing an LSH bucket with
    the query in ANY of LSH_TABLES tables; exact cosine re-rank within
    candidates. Recall vs ann_brute_topk is asserted in pytest; the full
    bucket→re-rank pipeline is reproduced in SQL for the driver oracle."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # one pass: all LSH_TABLES bucket ids per row via posexplode (numpy
    # matmul kernel — identical buckets to the expression/SQL form);
    # persisted WITHOUT the vectors (ids+buckets only) so (a) the
    # hyperplane dots run once, not once per join side, and (b) the
    # candidate join + distinct move bare ids — vectors are fetched
    # afterwards for just the deduplicated candidate set (same shape as
    # dd_embedding_lsh)
    banded = scoped_persist("similarity.ann_lsh_topk", emb.select(
        "vec_id",
        F.posexplode(bucket_array_np("v", LSH_TABLES, LSH_PLANES))
        .alias("tbl", "bucket")))
    q = (banded.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "tbl", "bucket"))
    n = banded.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    cand = (q.join(n, ["tbl", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct())
    # per-vector norms computed once (2 folds per VECTOR), so each of the
    # many candidate pairs pays only the dot fold — same doubles as
    # _cos_expr (the norm is the identical fold either way)
    vq = emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("vq"),
                    _norm_expr("v").alias("nq"))
    vn = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("vn"), _norm_expr("v").alias("nn"))
    cand = cand.join(vq, "query_id").join(vn, "neighbor_id")
    cos = _dot_expr("vq", "vn") / (F.col("nq") * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (cand.withColumn("cos", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank"))


def _ann_lsh_sql() -> str:
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
banded AS (
  {banded_sql(LSH_TABLES, LSH_PLANES)}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM banded q JOIN banded n ON q.tbl = n.tbl AND q.bucket = n.bucket
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != n.vec_id),
ranked AS (
  SELECT c.query_id, c.neighbor_id,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) DESC,
                    c.neighbor_id ASC) AS rank
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {TOP_K}"""


ANN_LSH_SQL = _ann_lsh_sql()


# --- IVF ANN (coarse k-means quantizer + multi-probe; DuckDB-oracled) -----
IVF_CLUSTERS = 16
IVF_PROBES = 4   # probe the 4 nearest cells per query (recall/cost dial)
IVF_ITERS = 8    # fixed Lloyd rounds (no early stop → replica stays exact)
_CENT_SCALE = 10 ** 9   # centroid components quantized to nano-units


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (SQL `div` semantics)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _sqdist_lit(v_col: str, comps: list[float]) -> F.Column:
    arr = F.array(*[F.lit(c) for c in comps])
    return F.aggregate(
        F.zip_with(F.col(v_col), arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, d: a + d)


def _cell_structs(v_col: str, centers: list[list[float]]) -> F.Column:
    """array<struct<dist,cell>> — struct ordering gives (dist, cell)
    lexicographic comparison, i.e. argmin with deterministic tie-break."""
    return F.array(*[
        F.struct(_sqdist_lit(v_col, c).alias("dist"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(centers)])


def ivf_fit(emb: DataFrame) -> list[list[float]]:
    """Deterministic distributed Lloyd fit, replacing Spark-ML KMeans
    (whose internal float reduction order is not reproducible outside
    Spark). Init = the first IVF_CLUSTERS vectors by id; each round
    assigns cells map-side against literal centroids and updates centroids
    in INTEGER space: components quantized to floor(x*1e9) nano-units,
    summed exactly (long), divided with `div` truncation — so the fitted
    model is a pure function of the input that pure Python reproduces
    bit-for-bit (tools/make_driver_fixtures.py), which is what lets the
    driver value-hash this query. Only model state (16x64 centroids /
    1024 aggregate rows) ever reaches the driver — the same shape Spark
    ML's own KMeans collects per iteration — never data rows."""
    centers = [list(r["v"]) for r in
               emb.filter(F.col("vec_id") < IVF_CLUSTERS)
               .orderBy("vec_id").collect()]
    for _ in range(IVF_ITERS):
        cell = F.array_min(_cell_structs("v", centers))["cell"]
        comp = (emb.select(cell.alias("cell"),
                           F.posexplode(F.transform(
                               "v",
                               lambda x: F.floor(x * _CENT_SCALE)
                               .cast("long"))).alias("dim", "ci")))
        rows = (comp.groupBy("cell", "dim")
                .agg(F.sum("ci").alias("s"), F.count("*").alias("n"))
                .collect())
        new = [list(c) for c in centers]   # empty cells keep their centroid
        for r in rows:
            new[r["cell"]][r["dim"]] = (
                _trunc_div(int(r["s"]), int(r["n"])) / _CENT_SCALE)
        centers = new
    return centers


def ann_ivf_topk(spark: SparkSession, sf_dir: str, *,
                 enforce_fixture_pin: bool = True) -> DataFrame:
    """IVF: a coarse k-means quantizer partitions the corpus into
    IVF_CLUSTERS cells; each query exactly-ranks only vectors in its
    IVF_PROBES nearest cells.

    At 10^12 rows this is the classic inverted-file layout: the centroid
    model is tiny (inlined as literals — not even a broadcast), cell
    assignment is one map-side pass, and cells become the physical
    partitioning of the stored index — a probe reads ~PROBES/CLUSTERS of
    the corpus. Fully deterministic (see ivf_fit); recall vs
    ann_brute_topk asserted in pytest, exact output value-hash verified
    against the pure-Python replica fixture."""
    # The Spark plan is scale-free; the pin only protects the driver gate,
    # whose ORACLE for this query is a parquet fixture staged from sf0.01
    # tables. Direct callers (recall tests, ad-hoc runs) pass
    # enforce_fixture_pin=False.
    if enforce_fixture_pin:
        from ocr_platform_spark.operators.registry import assert_fixture_scale

        assert_fixture_scale(sf_dir, "ann_ivf_topk")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    centers = ivf_fit(emb)

    assigned = emb.withColumn(
        "cell", F.array_min(_cell_structs("v", centers))["cell"])
    # query → its IVF_PROBES nearest cells: sort the (dist, cell) structs,
    # keep the first PROBES, explode — all map-side against literals
    probe_cells = F.transform(
        F.slice(F.array_sort(_cell_structs("v", centers)), 1, IVF_PROBES),
        lambda s: s["cell"])
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("vq"),
                 F.explode(probe_cells).alias("cell")))

    # exact re-rank inside the probed cells only
    nb = assigned.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("vn"), "cell")
    cand = (q.join(nb, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"]))
    cos = _cos_expr("vq", "vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("cos", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank"))


def ivf_topk_python(vecs: list[tuple[int, list[float]]]) -> list[tuple]:
    """Pure-Python replica of ann_ivf_topk (same fold orders, same integer
    centroid updates, same tie-breaks) — the fixture oracle generator and
    the pytest cross-check. Returns [(query_id, neighbor_id, rank)]."""
    import math

    by_id = dict(vecs)
    centers = [list(by_id[i]) for i in range(IVF_CLUSTERS)]

    def sqdist(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc += (x - y) * (x - y)
        return acc

    def argmin_cell(v):
        return min((sqdist(v, c), i) for i, c in enumerate(centers))[1]

    for _ in range(IVF_ITERS):
        sums = {}
        for _vid, v in vecs:
            cell = argmin_cell(v)
            for d, x in enumerate(v):
                key = (cell, d)
                s, n = sums.get(key, (0, 0))
                sums[key] = (s + math.floor(x * _CENT_SCALE), n + 1)
        new = [list(c) for c in centers]
        for (cell, d), (s, n) in sums.items():
            new[cell][d] = _trunc_div(s, n) / _CENT_SCALE
        centers = new

    assigned = {vid: argmin_cell(v) for vid, v in vecs}

    def cosine(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    out = []
    for qid in range(N_QUERIES):
        vq = by_id[qid]
        probed = [c for _, c in sorted(
            (sqdist(vq, c), i) for i, c in enumerate(centers))[:IVF_PROBES]]
        cand = [vid for vid, v in vecs
                if assigned[vid] in probed and vid != qid]
        ranked = sorted(((-cosine(vq, by_id[vid]), vid) for vid in cand))
        out.extend((qid, vid, rank + 1)
                   for rank, (_, vid) in enumerate(ranked[:TOP_K]))
    return out


QUERIES: dict = {
    "ann_brute_topk": (ann_brute_topk, ANN_BRUTE_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (
        ann_ivf_topk,
        _fixture_sql("ann_ivf_topk.sf0.01.parquet",
                     "query_id, neighbor_id, rank")),
}
