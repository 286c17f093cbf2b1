"""Order-insensitive result digests, computed inside Spark.

The BASELINE.md comparison discipline: every cell is canonicalized
(floats to 6 significant digits, timestamps as UTC text, decimals at
their declared scale), columns are ordered by name, and rows compare as
a multiset, so two results digest alike iff they hold the same rows in
any order."""

from __future__ import annotations

import hashlib


def _canon_col(c, dtype):
    """Spark expression rendering one value of ``dtype`` canonically."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        out = F.format_string("%.6g", c)
    elif isinstance(dtype, T.TimestampType):
        out = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dtype, T.ArrayType):
        out = F.concat(
            F.lit("["),
            F.array_join(
                F.transform(c, lambda x: F.coalesce(_canon_col(x, dtype.elementType), F.lit("NULL"))),
                ",",
            ),
            F.lit("]"),
        )
    elif isinstance(dtype, T.StructType):
        out = F.concat_ws(
            ",", *[F.coalesce(_canon_col(c[f.name], f.dataType), F.lit("NULL")) for f in dtype.fields]
        )
    elif isinstance(dtype, T.MapType):
        out = F.to_json(c)
    else:
        out = c.cast("string")
    return F.when(c.isNull(), F.lit("NULL")).otherwise(out)


def relation_digest(df) -> dict:
    """Order-insensitive digest computed inside Spark (one aggregate job):
    every row is rendered canonically (columns by name, floats to 6
    significant digits, timestamps as UTC text), hashed, and the hashes
    are summed as a multiset in two 32-bit halves."""
    from pyspark.sql import functions as F

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    line = F.concat_ws("|", *[_canon_col(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    h = F.xxhash64(line)
    mask = F.lit(0xFFFFFFFF)
    n, lo, hi = df.select(
        F.count(F.lit(1)),
        F.coalesce(F.sum(h.bitwiseAND(mask)), F.lit(0)),
        F.coalesce(F.sum(F.shiftright(h, 32).bitwiseAND(mask)), F.lit(0)),
    ).first()
    return {
        "columns": [f.name for f in fields],
        "rows": n,
        "digest": hashlib.sha256(f"{n}:{lo:x}:{hi:x}".encode()).hexdigest()[:16],
    }
