"""Distributed BPE-merge training — the tokenizer-induction operator.

The repo already APPLIES a byte-pair-encoding merge table
(functions/bpe.py, ta_bpe_tokens); this module LEARNS one with Spark
doing the data-scale work — the step a training-data pipeline runs
once per corpus before tokenizing it (Sennrich et al. 2016). Two very
different cost regimes live in one algorithm:

- the corpus pass (pretokenize + word count) is the only stage that
  touches every byte: one Arrow-batched kernel + one
  map-side-combined count. The result — distinct pre-tokens with
  counts — is VOCABULARY-sized (Heaps' law), not corpus-sized.
- the greedy merge loop then runs ENTIRELY on that distinct-word
  table, distributed: each iteration is one adjacent-pair count
  (explode + weighted sum), one TakeOrdered(1) to the driver (the
  argmax pair — a single row of model state per iteration, the
  kmeans/linfit discipline), and one projection applying the merge.

The merge application stays JVM-side via a regex trick: a word is a
SPACE-JOINED symbol string ('' a a </w> '' with sentinel spaces), and
one ``regexp_replace`` per iteration rewrites ``\\s l r (?=\\s)`` →
`` lr`` — Java's replaceAll scans left-to-right, never rescans the
substitution, and the lookahead leaves the trailing space in place, so
non-overlapping leftmost application ("a a a" → "aa a", the exact
``_merge_word`` rule) falls out of matcher semantics. Symbols are
``\\Q…\\E``-quoted (with the embedded-\\E split) since symbol runs can
carry regex metacharacters. Iteration state is cut with
``session.lineage_cut`` each round: the first draft used
persist/unpersist, which keeps the full logical lineage (iteration
k's analyzed plan nests k regexp_replaces plus the corpus subtree) —
measured to OOM an 8 GB driver heap before rank 48 ON A 31-ROW
VOCAB; truncating lineage holds every iteration's plan at constant
size (48 ranks in ~9 s). The checkpoint blocks are vocabulary-sized.

Tie-break parity: the driver argmax orders by (count DESC, left ASC,
right ASC); Spark's UTF8 binary comparison equals Python's code-point
tuple order for the oracle's ``min(..., key=(-n, pair))``.

Oracle: tools/make_driver_fixtures.py:bpetrain_fixture stages the
SEQUENTIAL ``functions.bpe.train_bpe`` (dict+Counter implementation,
shared with the checked-in production merge table) over the same
corpus — an independent algorithm shape whose output must match merge
for merge. Fixture is sf-pinned (merges are a property of the
corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ocr_platform_spark.functions.spark_udfs import map_rows
from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import lineage_cut

N_MERGES = 48
END = "</w>"
WORD_SCHEMA = StructType([StructField("word", StringType())])


def _rx_quote(s: str) -> str:
    """Pattern.quote: literal-quote s for Java regex, surviving
    embedded ``\\E``."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _rx_replacement(s: str) -> str:
    """Escape for Java replaceAll replacement position."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def word_counts(docs: DataFrame) -> DataFrame:
    """Corpus pass: pretokenize (the regex-module classes shared with
    functions/bpe.py) + count. The ONLY corpus-scale stage."""
    from ocr_platform_spark.functions.bpe import pretokenize

    def rows(t):
        return [(w,) for w in pretokenize(t)] if t else []

    return (map_rows(docs, ["text"], rows, WORD_SCHEMA)
            .groupBy("word").agg(F.count("*").alias("n")))


def train_bpe_distributed(docs: DataFrame,
                          n_merges: int = N_MERGES) -> list[tuple[str, str]]:
    spaced = F.concat(F.lit(" "),
                      F.array_join(F.split(F.col("word"), ""), " "),
                      F.lit(" " + END + " "))
    vocab = lineage_cut(
        word_counts(docs).select(spaced.alias("spaced"), "n"))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        syms = F.split(F.trim(F.col("spaced")), " ")
        # guard: F.sequence(1, 0) DESCENDS ([1, 0]) rather than
        # emitting empty — a fully merged single-symbol word would
        # index past the array
        idx = F.when(F.size(syms) >= 2,
                     F.sequence(F.lit(1), F.size(syms) - 1)) \
            .otherwise(F.array().cast("array<int>"))
        pair = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("r")))
        best = (vocab.select(F.explode(pair).alias("p"), "n")
                .groupBy("p.l", "p.r")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best or best[0]["cnt"] < 2:
            break
        l, r = best[0]["l"], best[0]["r"]
        merges.append((l, r))
        pat = r"\s" + _rx_quote(l) + " " + _rx_quote(r) + r"(?=\s)"
        rep = " " + _rx_replacement(l + r)
        vocab = lineage_cut(vocab.withColumn(
            "spaced", F.regexp_replace("spaced", pat, rep)))
    return merges


def ml_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the learned merge table, rank-ordered. Fixture-
    oracled against the sequential trainer (sf-pinned: merges are a
    corpus property)."""
    from ocr_platform_spark.operators.registry import assert_fixture_scale

    assert_fixture_scale(sf_dir, "ml_bpe_train")
    merges = train_bpe_distributed(load(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string")


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

QUERIES: dict = {
    # wave 58: distributed BPE-merge training, beyond-window
    "ml_bpe_train": (
        ml_bpe_train, _fixture_sql("ml_bpe_train.sf0.01.parquet")),
}
