"""Vector math as native column expressions over ``array<float|double>``.

Used by similarity search and embedding dedup.  Everything here is
``F.aggregate`` / ``F.zip_with`` — JVM-side, codegen'd, no Python UDFs in
the hot path.  Sums are sequential left-to-right, which makes results
bit-reproducible across engines that iterate arrays in order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_doubles(values) -> Column:
    """One ``array<double>`` literal from driver-side floats, built as a
    SINGLE parsed SQL expression.  ``F.lit(list)`` (and the unrolled
    ``F.array(*[F.lit(x) ...])``) issues one py4j round trip PER
    ELEMENT — measured 54 ms per 64-float plane, ~2 s of pure driver
    time for a 36-plane LSH expression (r12); the parser route is one
    round trip total and constant-folds to the identical array literal
    (repr round-trips binary64 exactly; Java's parseDouble re-reads the
    shortest repr to the same bits).  Non-finite values fall back to
    the slow path (SQL has no nan/inf literal)."""
    vals = [float(x) for x in values]
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    if not all(x == x and abs(x) != float("inf") for x in vals):
        return F.lit(vals)
    return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")


def lit_longs(values) -> Column:
    """``array<bigint>`` twin of :func:`lit_doubles` — one parsed
    expression instead of a py4j round trip per element."""
    vals = [int(x) for x in values]
    if not vals:
        return F.expr("CAST(array() AS array<bigint>)")
    return F.expr("array(" + ",".join(f"{x}L" for x in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )

