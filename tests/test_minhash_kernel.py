"""The Arrow MinHash kernel against the JVM expressions it replaced.

``operators.dedup`` computes each document's shingle-hash set and its
MINHASH_PERMS minhashes in one ``mapInArrow`` pass. The reference below
is the all-Spark form it replaced (split → md5 per token → 3-gram
combine → explode → groupBy-min), kept here only as the oracle for
Spark's tokenization: ``trim`` strips U+0020 only, and ``\\s`` is Java's
``[ \\t\\n\\x0b\\f\\r]``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_platform_spark.operators.dedup import (
    MINHASH_P, MINHASH_PERMS, _SHINGLE_COEF, _band_bucket_array,
    _perm_consts, minhash_pairs, minhash_signatures)

TEXTS = [
    "\tleading tab then four words",
    "vertical\x0btab is java whitespace",
    "file\x1cseparator is not java whitespace",
    "　ideographic space is not trimmed",
    "ideographic　space inside one token here",
    "next\x85line stays inside the token",
    "windows line\r\nendings split\r\nhere too",
    "trailing tab keeps an empty token\t",
    "emoji 😀 tokens ünïcödé مرحبا 你好 世界",
    "a a a a a a a a a",
    "the cat the cat the cat sat",
    "shared words of a near duplicate pair in the kernel test set one",
    "shared words of a near duplicate pair in the kernel test set two",
    "exactly three tokens",
    "two tokens",
    "",
    "   ",
    None,
]


def _ref_hashed_shingles(docs):
    toks = F.split(F.trim(F.col("text")), r"\s+")
    th = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 15),
                         16, 10).cast("long") % MINHASH_P)
    c1, c2, c3 = _SHINGLE_COEF
    arr = F.col("th")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 2),
        lambda i: (F.element_at(arr, i) * c1 % MINHASH_P
                   + F.element_at(arr, i + 1) * c2 % MINHASH_P
                   + F.element_at(arr, i + 2) * c3 % MINHASH_P) % MINHASH_P)
    return (docs.filter(F.size(toks) >= 3)
            .select("doc_id", th.alias("th"))
            .select("doc_id", F.explode(F.array_distinct(sh)).alias("hmod")))


def _ref_signatures(docs):
    aggs = []
    for k in range(MINHASH_PERMS):
        a, b = _perm_consts(k)
        aggs.append(F.min((F.col("hmod") * a + b) % MINHASH_P)
                    .alias(f"mh{k}"))
    return _ref_hashed_shingles(docs).groupBy("doc_id").agg(*aggs)


def _ref_pairs(docs):
    sigs = _ref_signatures(docs)
    banded = sigs.select(
        "doc_id", F.posexplode(_band_bucket_array()).alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"))
            .distinct())
    sh = _ref_hashed_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("a_id"), "hmod")
    sb = sh.select(F.col("doc_id").alias("b_id"), "hmod")
    inter = (cand.join(sa, "a_id").join(sb, ["b_id", "hmod"])
             .groupBy("a_id", "b_id").agg(F.count("*").alias("inter")))
    za = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (inter.join(za, "a_id").join(zb, "b_id")
            .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
            .filter(F.col("inter") * 2 >= F.col("uni"))
            .select("a_id", "b_id", "inter", "uni"))


def _docs(spark, id_type, copies=1):
    def doc_id(i):
        return i if id_type == "long" else f"u{i:03d}"

    rows = [(doc_id(c * 100 + i), t)
            for c in range(copies) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_signatures_match_spark_expressions(spark, id_type):
    docs = _docs(spark, id_type)
    got = minhash_signatures(docs)
    want = _ref_signatures(docs)
    assert got.columns == want.columns
    assert dict(got.dtypes) == dict(want.dtypes)
    assert _rows(got) == _rows(want)
    # every row with >= 3 Spark tokens is signed: 14 of the 18 texts
    assert len(_rows(got)) == 14


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_pairs_match_spark_pipeline(spark, id_type):
    docs = _docs(spark, id_type, copies=2)
    got = minhash_pairs(docs)
    want = _ref_pairs(docs)
    assert got.dtypes == want.dtypes
    got_rows = _rows(got)
    assert got_rows == _rows(want)
    # each of the 14 signed texts pairs with its copy, and the two
    # "shared words ..." texts and their copies pair across (10 of 12
    # shingles shared) — 18 pairs, 4 of them partial
    assert len(got_rows) == 18
    assert sum(inter < uni for *_, inter, uni in got_rows) == 4
