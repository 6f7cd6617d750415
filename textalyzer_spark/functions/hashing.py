"""md5-LE8: the engine's one cross-engine 64-bit hash.

``md5-LE8(s)`` = the first 8 bytes of ``md5(s.encode())``, read
little-endian as an unsigned 64-bit int. It equals DuckDB's
``md5_number_upper(s)``, so every operator that hashes with it has a
value-exact SQL twin. Python's builtin ``hash()`` is salted per
process and must never stand in for it.

Three forms with identical values: :func:`md5_le8` for one Python
string, :func:`md5_le8_array` for a whole Arrow string array in a
kernel, and :func:`md5_le8_col` for JVM column expressions (computed
inside whole-stage codegen).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_le8(s: str) -> int:
    """Python md5-LE8 of ``s`` (UTF-8)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def md5_le8_array(strings):
    """md5-LE8 of every value of a pyarrow string array, as a numpy
    uint64 array: the UTF-8 bytes are read straight from Arrow, and
    the eight digest bytes of each value land in one buffer read
    little-endian, so no Python int is built per value."""
    import numpy as np
    import pyarrow as pa

    md5 = hashlib.md5
    digests = b"".join([md5(b).digest()[:8] for b in strings.cast(pa.binary()).to_pylist()])
    return np.frombuffer(digests, "<u8")


def md5_le8_hex_col(c: Column) -> Column:
    """JVM column: md5-LE8 of ``c`` as 16 hex chars, most significant
    first — the first 8 digest bytes are the first 16 hex chars of
    ``md5()``, here byte-reversed. Callers that need only some bits
    carve them from this string on nibble boundaries."""
    h = F.md5(c)
    return F.concat(*[F.substring(h, i, 2) for i in (15, 13, 11, 9, 7, 5, 3, 1)])


def md5_le8_col(c: Column) -> Column:
    """JVM column: md5-LE8 of ``c`` as decimal(20,0) — ``conv(_, 16,
    10)`` of :func:`md5_le8_hex_col` is unsigned 64-bit, read exactly
    via decimal."""
    return F.conv(md5_le8_hex_col(c), 16, 10).cast("decimal(20,0)")
