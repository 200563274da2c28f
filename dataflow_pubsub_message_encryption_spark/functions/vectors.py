"""Vector math over ``array<float>`` embedding columns.

Spark has no builtin cosine similarity (probed 4.1.2), so these compose
``zip_with`` / ``aggregate`` — still JVM-side codegen, no Python. Arrays are
cast to ``array<double>`` first: both engines then sum 64 doubles in index
order, giving bit-identical accumulation vs the DuckDB oracle
(``list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])``) up to the 6dp
rounding discipline.

Scale note: for top-k against one probe vector the probe is a literal /
broadcast — the scan stays embarrassingly parallel, no shuffle until the
final TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(c: Column | str) -> Column:
    c = c if isinstance(c, Column) else F.col(c)
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot32(a: Column, b: Column) -> Column:
    """Dot of two raw ``array<float>`` columns accumulated in double —
    the cast happens per element INSIDE the fold, values identical to
    ``dot(as_double(a), as_double(b))`` (float32→float64 is exact, and
    the products/accumulation are the same doubles in the same index
    order). Use where no exchange needs protecting and no row is
    re-touched many times (e.g. the recall eval's one-pass brute truth
    join). For the bucket self-joins the measured winner is instead the
    regime-aware shape in ``_emb_lsh_pairs_body`` (shuffle regime:
    float32 through the exchange, 404.2 → 274.9 compressed B/row, one
    per-ROW cast above it) — per-element casting re-pays the cast per
    candidate pair (≈ occupancy/2 × corpus evaluations) and measured
    20% slower at 25×."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
