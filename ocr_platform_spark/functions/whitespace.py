"""The one whitespace rule behind every token statistic and text
fingerprint: Spark's ``split(trim(text), '\\s+')``.

Spark's ``trim`` strips U+0020 only and its regex ``\\s`` is Java's
``[ \\t\\n\\x0b\\f\\r]``. DuckDB's one-argument ``trim`` also strips Unicode
spaces (U+3000) and RE2's ``\\s`` lacks ``\\x0b``, so the rule is spelled
out here once per engine, for three operations:

- ``tokens``: the whitespace token array. Like Spark's ``split`` it keeps a
  leading empty token (text that starts with a tab) and gives ``['']``
  for ``''``;
- ``norm``: the exact-dedup canonical form, every run collapsed to one
  space, lowercased;
- ``squash``: the text with every run removed (characters in tokens).

``op(c)`` builds the Spark Column, ``op_sql(c)`` the DuckDB expression over
the SQL column ``c`` and ``op_py(text)`` the pure-Python value.
``py_split_sql`` is a different rule: the DuckDB twin of Python's
``str.split()``, for oracles of kernels that tokenize in Python.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java's \s run, spelled for RE2 and Python's re (both read \v as \x0b)
_RUN = r"[ \t\n\v\f\r]+"
_PY_RUN = re.compile(_RUN)

# every character str.isspace() accepts, i.e. str.split()'s separators
PY_SPACE = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
            "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
            "\u2009\u200a\u2028\u2029\u202f\u205f\u3000")


def tokens(c: Column | str) -> Column:
    return F.split(F.trim(c), r"\s+")


def tokens_sql(c: str) -> str:
    return f"regexp_split_to_array(trim({c}, ' '), '{_RUN}')"


def tokens_py(text: str) -> list[str]:
    return _PY_RUN.split(text.strip(" "))


def norm(c: Column | str) -> Column:
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def norm_sql(c: str) -> str:
    """DuckDB's ``lower`` is not Spark's outside ASCII: it maps U+0130 to
    a bare 'i', misses letters of recent Unicode versions, and has no
    final-sigma rule ('ΟΔΟΣ' gives 'οδοσ'). On text holding such
    characters this twin differs from ``norm``; tests/test_operators.py::
    test_oracle_lower_gap_absent_from_gated_texts keeps them out of the
    gated inputs."""
    return f"lower(regexp_replace(trim({c}, ' '), '{_RUN}', ' ', 'g'))"


def norm_py(text: str) -> str:
    return _PY_RUN.sub(" ", text.strip(" ")).lower()


def squash(c: Column | str) -> Column:
    return F.regexp_replace(c, r"\s+", "")


def squash_sql(c: str) -> str:
    return f"regexp_replace({c}, '{_RUN}', '', 'g')"


def squash_py(text: str) -> str:
    return _PY_RUN.sub("", text)


def py_split_sql(c: str) -> str:
    """DuckDB SQL for Python's ``c.split()``: runs of ``PY_SPACE`` separate
    tokens and no token is empty."""
    cls = "".join(f"\\x{{{ord(ch):x}}}" for ch in PY_SPACE)
    return (f"list_filter(regexp_split_to_array({c}, '[{cls}]+'), "
            "t -> t <> '')")
