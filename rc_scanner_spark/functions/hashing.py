"""Engine-portable hashing: the md5-prefix-long trick shared by every
portable twin (MinHash signatures and band buckets, SimHash word
hashes, Count-Min buckets, Bloom positions, DSIR features, LSH
planes, substring-span keys, hash splits and samples).  Multi-input
hashes join their inputs first: ``md5_long(concat_ws(':', a, b))``.

One definition so a change to the hash width or the hex-cast
portability trick lands everywhere at once; the DuckDB twin of
``md5_long(x)`` is ``CAST(concat('0x', substr(md5(x), 1, 15)) AS
BIGINT)`` (60 bits — never sets the sign bit)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column, n_hex: int = 15) -> Column:
    """Non-negative long from the first ``n_hex`` md5 hex chars (60
    bits at the default 15) — identical in DuckDB via the hex-prefix
    cast (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def md5_long_sql(expr: str, n_hex: int = 15) -> str:
    """The DuckDB twin expression for ``md5_long``."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, {n_hex})) AS BIGINT)"
