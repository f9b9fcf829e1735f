"""Engine-portable uniform hashing — the md5-prefix integer idiom.

Both Spark and DuckDB md5 the UTF-8 bytes of the same string and an
8-hex-char prefix decodes to the same unsigned 32-bit value, so every
derived bucket / threshold / sample decision reproduces bit-for-bit in
the oracle. One definition here keeps the sketch builders, their
streaming twins, and the sampling entries hash-compatible forever — a
divergent edit to any one copy would silently break state mergeability
(a streaming sketch re-hashed differently from its batch oracle merges
garbage, not counts).

Oracle-side mirror (DuckDB):
    ('0x' || substr(md5(<same string expr>), 1, 8))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_u32(col: Column) -> Column:
    """First 8 hex chars of md5(col) as an unsigned 32-bit value in a
    LONG — uniform on [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
