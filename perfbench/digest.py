"""Order-independent content digest of a table, computed the same way on
both sides of a check.

A row is canonicalised column by column, in a fixed column order:

- NULL (and pandas NA/None)     -> "\\x00"
- boolean                       -> "true" / "false"
- any number (int or float)     -> floor(clamp(x, +-1e12) * 1e6) as an
                                   integer string; NaN reads as NULL,
                                   because pandas holds a NULL of a
                                   numeric DuckDB column as NaN
- string                        -> the string itself

joined with "\\x1f" and hashed with SHA-256. Two 32-bit slices of the hex
digest are summed over all rows, so the result is a triple
``(rows, sum_a, sum_b)`` that does not depend on row order or on how the
rows are partitioned. Numbers use one rule whatever their type, so an
integer column that DuckDB returns as float64 (a nullable integer) still
matches Spark's bigint; IEEE multiplication and floor agree bit for bit
between Java and Python.

The Spark side is a list of aggregate expressions that ride on the timed
write through ``DataFrame.observe``, so the check costs no extra job.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable, Sequence

NULL = "\x00"
SEP = "\x1f"
CLAMP = 1e12
SCALE = 1e6


def canon(v) -> str:
    """Canonical text of one Python value (see module docstring)."""
    if v is None:
        return NULL
    if isinstance(v, str):
        return v
    # numpy.bool_ is not a subclass of bool; test its name before numbers
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return "true" if v else "false"
    try:
        x = float(v)
    except (TypeError, ValueError):
        # pandas NA has no float value
        if repr(v) in ("<NA>", "NaT"):
            return NULL
        raise
    if math.isnan(x):
        return NULL
    x = min(max(x, -CLAMP), CLAMP)
    return str(math.floor(x * SCALE))


def row_hash(values: Iterable) -> tuple[int, int]:
    h = hashlib.sha256(SEP.join(canon(v) for v in values).encode("utf-8")).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def digest_rows(rows: Iterable[Sequence]) -> tuple[int, int, int]:
    n = a = b = 0
    for r in rows:
        x, y = row_hash(r)
        n += 1
        a += x
        b += y
    return n, a, b


def digest_pandas(df, columns: Sequence[str]) -> tuple[int, int, int]:
    """Digest of ``df[columns]``."""
    return digest_rows(zip(*(df[c].tolist() for c in columns)))


def spark_digest_exprs(df, columns: Sequence[str]):
    """Aggregate expressions giving ``(rows, sum_a, sum_b)`` over ``df``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    types = {f.name: f.dataType for f in df.schema.fields}
    parts = []
    for c in columns:
        col, t = F.col(c), types[c]
        if isinstance(t, T.BooleanType):
            v = F.when(col, F.lit("true")).otherwise(F.lit("false"))
        elif isinstance(t, T.NumericType):
            x = col.cast("double")
            clamped = F.least(F.greatest(x, F.lit(-CLAMP)), F.lit(CLAMP))
            v = F.floor(clamped * F.lit(SCALE)).cast("string")
        elif isinstance(t, T.StringType):
            v = col
        else:
            raise TypeError(f"digest: unsupported column type {t} for {c}")
        null = col.isNull()
        if isinstance(t, T.NumericType):
            null = null | F.isnan(col.cast("double"))
        parts.append(F.when(null, F.lit(NULL)).otherwise(v))
    h = F.sha2(F.concat_ws(SEP, *parts), 256)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).alias("sum_a"),
        F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")).alias("sum_b"),
    ]


def from_row(row: dict) -> tuple[int, int, int]:
    """Observation / aggregate row -> digest triple (empty sums read 0)."""
    return int(row["rows"]), int(row["sum_a"] or 0), int(row["sum_b"] or 0)
