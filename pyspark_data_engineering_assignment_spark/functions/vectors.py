"""Vector math over ``array<float>`` columns - pure built-in expressions.

Everything stays JVM-side (``zip_with`` / ``aggregate`` higher-order
functions inside whole-stage codegen); no UDF, no Python round-trip, no
driver materialization. This is the hot path of similarity search at
100 TB, so the expressions are written once here and reused.

Determinism contract: elements are cast to double *before* multiplying
(float32 products are exact in float64), and the fold is a sequential
left fold from 0.0 - bit-identical to the DuckDB oracle's
``list_reduce(list_transform(...))`` formulation (verified empirically:
0 bit-mismatches over 1500 pairs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold float64 dot product as SQL text over two SQL
    expressions, for embedding in a larger SQL expression."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(_x, _y) -> CAST(_x AS DOUBLE) * CAST(_y AS DOUBLE)), "
        "0D, (_acc, _v) -> _acc + _v)"
    )


# The Column builders take column names (SQL identifiers; ``a.vec``
# resolves through a DataFrame alias) and parse one SQL string: building
# the same expression from Python lambdas costs a chain of py4j calls
# per lambda, ~100x the driver time of one ``F.expr``.
def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product in float64."""
    return F.expr(dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(f"sqrt({dot_sql(a, a)})")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity: dot / (||a|| * ||b||), all in float64."""
    return F.expr(
        f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------

def int8_scale(a: Column) -> Column:
    """Per-vector symmetric int8 scale: 127 / max|x| (double).
    Null-safe for the all-zero vector: scale 0.0 sentinel (quantizes
    everything to 0 with zero error, see quantize_int8)."""
    maxabs = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    return F.when(maxabs > 0.0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))


def quantize_int8(a: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: round-half-up of x*scale, clamped to
    [-127, 127]. floor(x+0.5) instead of round(): Spark and DuckDB
    disagree on round()'s half-even vs half-up for doubles; floor(x+0.5)
    is the same IEEE expression in both."""
    return F.transform(
        a,
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x.cast("double") * scale + 0.5)),
        ),
    )


def int8_recon_err2_e12(a: Column, scale: Column) -> Column:
    """Per-element squared reconstruction error of int8 quantization,
    fixed-pointed as floor(err^2 * 1e12) BIGINT - elementwise IEEE ops
    only, so per-element values (and therefore any integer aggregate of
    them) are bit-identical across engines regardless of order.

    err = x - dequant(quant(x)); for the zero-scale sentinel the
    reconstruction is defined as 0.0 (exact for the all-zero vector)."""
    def per_elem(x):
        xd = x.cast("double")
        q = F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(xd * scale + 0.5)),
        )
        d = F.when(scale > 0.0, xd - q / scale).otherwise(F.lit(0.0))
        return F.floor(d * d * 1e12).cast("long")

    return F.transform(a, per_elem)
