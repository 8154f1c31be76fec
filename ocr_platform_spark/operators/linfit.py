"""Closed-form linear-model fitting at corpus scale — the DataFrame-native
way to train the small linear/logistic quality models web pipelines use
(CCNet's fastText scorer, LLaMA's quality classifier) without MLlib and
without a single float leaving determinism:

    pass 1 (distributed): the 10 sufficient statistics of ridge least
      squares — n, Σx, Σxxᵀ, Σxy, Σy, Σy² — as EXACT int64 sums (the
      features are integers), one map-side-combined aggregate; only these
      10 numbers reach the driver (the same shape as the IVF centroid
      collect, similarity.py:267).
    solve (driver): (XᵀX + λI) w = Xᵀy with exact rational arithmetic
      (Fractions) — no iteration, no learning rate, no float drift.

The model: predict n_chars from (1, n_tok, n_uniq) with ridge λ=1.
Output is the model itself — gcd-reduced numerator/denominator digits per
coefficient plus exact SSE — so the driver gate hashes pure integers.

At true 100 TB scale the int64 moment sums would overflow (Σx² over 10^12
docs); the same one-pass shape holds with DECIMAL(38) / int128
accumulators — the sandbox keeps int64 for whole-stage codegen.

Oracle: a fixture parquet staged by tools/make_driver_fixtures.py from an
independent pure-Python pass over the same parquet (python tokenization +
integer sums), sharing only the rational solver — verifying that the
DISTRIBUTED moment aggregation reproduces the sequential ground truth.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.operators.registry import assert_fixture_scale
from ocr_platform_spark.operators.tables import load

RIDGE_LAMBDA = 1  # integer ridge keeps the system nonsingular and exact

MOMENT_KEYS = ("n", "s1", "s2", "s11", "s12", "s22",
               "sy", "s1y", "s2y", "syy")


def python_moments(rows) -> dict:
    """Sequential ground-truth moments over (text, n_chars) rows,
    replicating the Spark plan token-for-token: ``F.trim`` strips ASCII
    spaces only (so strip(' '), not strip()), and ``F.split`` defaults to
    Java split limit -1, whose leading/trailing empty tokens
    ``whitespace.tokens_py`` reproduces — a text starting or ending with
    non-space whitespace (\\t, \\n) now tokenizes identically on both
    sides (ADVICE round 3)."""
    m = dict.fromkeys(MOMENT_KEYS, 0)
    for text, n_chars in rows:
        toks = ws.tokens_py(text)
        x1, x2, y = len(toks), len(set(toks)), int(n_chars)
        m["n"] += 1
        m["s1"] += x1
        m["s2"] += x2
        m["s11"] += x1 * x1
        m["s12"] += x1 * x2
        m["s22"] += x2 * x2
        m["sy"] += y
        m["s1y"] += x1 * y
        m["s2y"] += x2 * y
        m["syy"] += y * y
    return m


def solve_weights(m: dict) -> list:
    """Exact rational ridge solve of the 3x3 normal equations → the
    three Fraction weights (intercept, n_tok, n_uniq). Shared by the
    model-output query (ml_linear_fit) and the train→apply scorer
    (ml_fit_apply)."""
    lam = RIDGE_LAMBDA
    a = [[Fraction(m["n"] + lam), Fraction(m["s1"]), Fraction(m["s2"])],
         [Fraction(m["s1"]), Fraction(m["s11"] + lam), Fraction(m["s12"])],
         [Fraction(m["s2"]), Fraction(m["s12"]), Fraction(m["s22"] + lam)]]
    b = [Fraction(m["sy"]), Fraction(m["s1y"]), Fraction(m["s2y"])]
    # Gaussian elimination with exact rationals (3x3, partial pivot)
    for col in range(3):
        piv = max(range(col, 3), key=lambda r: abs(a[r][col]))
        a[col], a[piv] = a[piv], a[col]
        b[col], b[piv] = b[piv], b[col]
        for r in range(col + 1, 3):
            f = a[r][col] / a[col][col]
            for c in range(col, 3):
                a[r][c] -= f * a[col][c]
            b[r] -= f * b[col]
    w = [Fraction(0)] * 3
    for r in (2, 1, 0):
        acc = b[r] - sum(a[r][c] * w[c] for c in range(r + 1, 3))
        w[r] = acc / a[r][r]
    return w


def solve_rows(m: dict) -> list:
    """Oracle-hashable rows (term, num, den), den > 0, gcd-reduced."""
    w = solve_weights(m)
    # SSE = y'y - 2 w'X'y + w'(X'X)w, with the UN-ridged X'X
    xtx = [[m["n"], m["s1"], m["s2"]],
           [m["s1"], m["s11"], m["s12"]],
           [m["s2"], m["s12"], m["s22"]]]
    xty = [m["sy"], m["s1y"], m["s2y"]]
    quad = sum(w[i] * xtx[i][j] * w[j] for i in range(3) for j in range(3))
    sse = Fraction(m["syy"]) - 2 * sum(w[i] * xty[i] for i in range(3)) + quad
    terms = ("w_intercept", "w_n_tok", "w_n_uniq")
    rows = [(t, str(w[i].numerator), str(w[i].denominator))
            for i, t in enumerate(terms)]
    rows.append(("sse_x10k", str((10000 * sse.numerator)
                                 // sse.denominator), "1"))
    rows.append(("n_docs", str(m["n"]), "1"))
    return rows


def _features(docs: DataFrame) -> DataFrame:
    """Per-doc integer features + target, the Spark twin of
    ``python_moments``'s tokenization."""
    toks = ws.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("x1"),
        F.size(F.array_distinct(toks)).cast("long").alias("x2"),
        F.col("n_chars").cast("long").alias("y"))


def spark_moments(docs: DataFrame) -> dict:
    """The 10 exact-int64 sufficient statistics, one map-side-combined
    aggregate; only these numbers reach the driver."""
    agg = _features(docs).agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy")).first()
    return {k: int(agg[k]) for k in MOMENT_KEYS}


def ml_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    assert_fixture_scale(sf_dir, "ml_linear_fit")
    docs = load(spark, sf_dir, "documents")
    rows = solve_rows(spark_moments(docs))
    return spark.createDataFrame(rows, "term string, num string, den string")


# --- train → apply: the corpus-scale quality-scorer loop ------------------
W_SCALE = 10 ** 6    # fixed-point weight quantization (driver-side, exact)
PRED_DIV = 10 ** 4   # W_SCALE / 100 → predictions come out x100


def quantize_weights(w: list) -> list:
    """Exact Fractions → floor(w * W_SCALE) int64 literals. The full
    rational weights have arbitrary-precision numerators (products of
    moment sums) that no JVM integer type holds; the quantized form is
    what a production scorer ships, and both the Spark plan and the
    pure-Python fixture derive it with the same floor."""
    return [(W_SCALE * f.numerator) // f.denominator for f in w]


def _floor_div(col: F.Column, d: int) -> F.Column:
    """Floor division for possibly-negative numerators: Spark's ``div``
    truncates toward zero (Java), Python's ``//`` floors — pmod (always
    >= 0) makes the numerator an exact non-positive-remainder multiple of
    d, so truncating ``div`` equals floor. All-int64 arithmetic: the
    float-division form ((num)/d).cast("long") silently loses exactness
    past 2^53."""
    num = col - F.pmod(col, F.lit(d))
    return F.call_function("div", num, F.lit(d).cast("long"))


def ml_fit_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the ridge model distributed (sufficient statistics → exact
    rational solve on the driver), quantize the weights to x10^6
    fixed-point, then score EVERY document JVM-side — the
    train→apply loop of a CCNet/LLaMA-style corpus quality scorer, with
    zero floats anywhere: pred_x100 = floor((q0 + q1·x1 + q2·x2)/10^4),
    resid_x100 = 100·y − pred_x100.

    Plan shape: ONE pass for the moments (10 longs to the driver), ONE
    scoring pass where the weights are integer literals folded into a
    projection — no join, no broadcast, no model state bigger than three
    int64s. The fixture oracle re-derives everything from an independent
    sequential pass (same solver, same quantization)."""
    assert_fixture_scale(sf_dir, "ml_fit_apply")
    docs = load(spark, sf_dir, "documents")
    q0, q1, q2 = quantize_weights(solve_weights(spark_moments(docs)))
    score = (F.lit(q0) + F.lit(q1) * F.col("x1")
             + F.lit(q2) * F.col("x2"))
    return (_features(docs)
            .withColumn("pred_x100", _floor_div(score, PRED_DIV))
            .withColumn("resid_x100",
                        100 * F.col("y") - F.col("pred_x100"))
            .select("doc_id", "x1", "x2", "y", "pred_x100", "resid_x100"))


QUERIES: dict = {}  # registered in registry.py with their fixture oracles
