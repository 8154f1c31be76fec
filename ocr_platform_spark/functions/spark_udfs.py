"""Arrow-batched pandas UDF wrappers over the pure-Python function library.

Only functions whose semantics genuinely need Python (Unicode property
classes, NFD normalization, fuzzy scoring) live here — everything else is
expressed with built-in ``pyspark.sql.functions`` JVM-side (SURVEY.md §2.4
Spark-mapping column). No row-at-a-time UDFs anywhere.

``map_rows`` is the package's one Arrow row loop: every kernel that maps a
row of a few columns to zero or more output rows runs through it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructType


@F.pandas_udf(IntegerType())
def count_words_udf(text: pd.Series) -> pd.Series:
    """F1: Unicode [\\p{L}\\p{M}\\p{N}]+ token count post HTML-strip
    (ref apps/web/src/lib/page.ts:3-10). Python ``regex`` module — Java
    regex \\p{M} semantics differ, so this stays in Python."""
    from ocr_platform_spark.functions.words import count_words
    return text.map(lambda t: count_words(t) if t is not None else 0).astype("int32")


@F.pandas_udf(StringType())
def slug_udf(text: pd.Series) -> pd.Series:
    """F2: NFD normalize → strip combining marks → slugify
    (ref apps/web/src/lib/slug.ts:3-12). Spark has no NFD."""
    from ocr_platform_spark.functions.slug import text_to_slug
    return text.map(lambda t: text_to_slug(t) if t is not None else None)


def command_score_udf(query: str):
    """F7: fuzzy subsequence scorer (ref apps/web/src/lib/command-score.ts)
    bound to a fixed query string; returns a DoubleType column factory."""
    @F.pandas_udf(DoubleType())
    def _score(text: pd.Series) -> pd.Series:
        from ocr_platform_spark.functions.command_score import command_score
        return text.map(lambda t: command_score(t, query) if t else 0.0)
    return _score


def map_rows(df: DataFrame, cols: list[str], fn: Callable[..., Iterable],
             schema: StructType) -> DataFrame:
    """One ``mapInPandas`` pass over ``df.select(*cols)``: every tuple (or
    dict) that ``fn(*row)`` yields for an input row becomes an output row
    of ``schema``. Per Arrow batch, the rows are built as
    ``pd.DataFrame(rows, columns=<schema names>)``."""
    names = [f.name for f in schema]

    def gen(batches):
        for pdf in batches:
            rows = [r for row in zip(*(pdf[c] for c in cols))
                    for r in fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# JVM-side column builders (no Python at execution time)
# --------------------------------------------------------------------------

WESTERN = "0123456789"
EASTERN = "٠١٢٣٤٥٦٧٨٩"


def to_arabic_digits_col(c: Column) -> Column:
    """F4: exact 1:1 codepoint translation — pure JVM `translate`."""
    return F.translate(c, WESTERN, EASTERN)


def to_western_digits_col(c: Column) -> Column:
    return F.translate(c, EASTERN, WESTERN)


def normalize_transliteration_col(c: Column) -> Column:
    """F5: ʻ→ʿ and straight apostrophe→ʾ on output text
    (ref apps/web/src/lib/openai/transliterate.ts:140-142)."""
    return F.translate(c, "ʻ'", "ʿʾ")


def hijri_year_col(greg_year: Column) -> Column:
    """F3: Gregorian year → Hijri year containing its 1 January.

    Same Julian-day arithmetic as functions/hijri.py (ref apps/web/src/lib/
    hijri.ts:3-122), restricted to years ≥ 1583 (post-Gregorian-reform: the
    only branch live for our data). All-JVM column math, float ops written
    identically to the Python/DuckDB versions so doubles agree bit-for-bit.
    """
    y = greg_year.cast("long") - 1  # month=1 < 3 → year-1, month=13
    a = F.floor(y / 100)
    b = F.lit(2) - a + F.floor(a / 4)
    # floor(30.6001 * 14) = 428; day = 1
    jd = F.floor(365.25 * (y + 4716)) + 428 + 1 + b - 1524
    z = jd - 1948084
    cyc = F.floor(z / 10631.0)
    z2 = z - 10631 * cyc
    j = F.floor((z2 - F.lit(8.01) / 60.0) / (F.lit(10631.0) / 30.0))
    return (30 * cyc + j).cast("long")
