"""The one engine-portable hash behind every sampling coin, shard, sketch
and LSH hash: the hex digits ``[offset, offset + digits)`` of ``md5(x)``,
read as a non-negative integer.

md5 gives the same digest on every engine, so anything built on this
value can be recomputed by the DuckDB oracle and by a pure-Python replica.
Read at most 15 digits (60 bits) and the value fits a signed 64-bit
integer, Spark's long and DuckDB's BIGINT; 14 digits leave room for
``(K-1) * 2^56``-style arithmetic. ``dd_simhash``'s 16-digit UBIGINT token
hash is a different value, outside this rule.

``md5_int(c, ..)`` builds the Spark Column, ``md5_int_sql(expr, ..)`` the
DuckDB BIGINT expression over the SQL expression ``expr`` and
``md5_int_py(value, ..)`` the Python int. All three hash the UTF-8 bytes
of a string: Spark's ``md5`` casts a string column to binary as UTF-8
(a caller may pass ``F.encode(x, "UTF-8")`` to keep that spelling),
DuckDB's ``md5`` hashes a VARCHAR's bytes, and ``md5_int_py`` encodes a
``str`` as UTF-8 and takes ``bytes`` as they are.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(c: Column | str, digits: int, offset: int = 0) -> Column:
    return F.conv(F.substring(F.md5(c), offset + 1, digits),
                  16, 10).cast("long")


def md5_int_sql(expr: str, digits: int, offset: int = 0) -> str:
    return (f"CAST(('0x' || substr(md5({expr}), {offset + 1}, {digits}))"
            " AS BIGINT)")


def md5_int_py(value: str | bytes, digits: int, offset: int = 0) -> int:
    if isinstance(value, str):
        value = value.encode("utf-8")
    return int(hashlib.md5(value).hexdigest()[offset:offset + digits], 16)
