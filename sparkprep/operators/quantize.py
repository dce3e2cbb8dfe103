"""Embedding compression: per-vector scalar quantization (int8-style).

At 100 TB an `array<float>` embedding column dominates storage and
shuffle width; scalar quantization cuts it 4x (float32 -> uint8 codes +
two doubles) with bounded reconstruction error, and the codes column
shuffles/broadcasts where the float vectors couldn't. All math is native
Catalyst expressions — `transform`/`aggregate` lambdas over columns
materialized in their OWN projection first (interpreted higher-order
lambdas re-evaluate embedded expression trees per element; see
CLAUDE.md).

Reference analogue: none (the reference has no vector ops); this is part
of the LLM-training-data extension surface alongside
``operators/similarity``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scalar_quantize(
    df: DataFrame, vec_col: str, levels: int = 255
) -> DataFrame:
    """Add ``codes`` (array<int> in [0, levels]), ``q_min``, ``q_max``.

    code = floor((x - vmin) / span * levels + 0.5) — floor(z + 0.5)
    instead of round() so both engines (and any reader) agree at .5
    boundaries by construction. Constant vectors (span 0) quantize to
    all-zero codes and reconstruct to vmin exactly; the `when` guard
    also keeps ANSI mode's division-by-zero error out.
    """
    vecd = df.withColumn(
        "_vd", F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    bounds = vecd.select(
        "*",
        F.array_min("_vd").alias("q_min"),
        F.array_max("_vd").alias("q_max"),
    )
    span = F.col("q_max") - F.col("q_min")
    codes = F.when(
        span == 0, F.transform(F.col("_vd"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            F.col("_vd"),
            lambda x: F.floor(
                (x - F.col("q_min")) / (F.col("q_max") - F.col("q_min"))
                * F.lit(float(levels))
                + F.lit(0.5)
            ).cast("int"),
        )
    )
    return bounds.withColumn("codes", codes).drop("_vd")


def dequantize(
    codes: Column, q_min: Column, q_max: Column, levels: int = 255
) -> Column:
    """Reconstruct array<double>: vmin + code / levels * span."""
    return F.transform(
        codes,
        lambda c: q_min
        + c.cast("double") / F.lit(float(levels)) * (q_max - q_min),
    )


def reconstruction_stats(
    df: DataFrame, vec_col: str, levels: int = 255
) -> DataFrame:
    """Per-row quantization fidelity: mean absolute reconstruction error
    and cosine(original, dequantized). Error bound is span/(2*levels)
    per element by construction; cosine should stay ~1."""
    q = scalar_quantize(df, vec_col, levels=levels)
    q = q.withColumn(
        "_vd", F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).withColumn(
        "_dq", dequantize(F.col("codes"), F.col("q_min"), F.col("q_max"), levels)
    )
    dim = F.size("_vd")
    abs_err_sum = F.aggregate(
        F.zip_with(F.col("_vd"), F.col("_dq"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot = F.aggregate(
        F.zip_with(F.col("_vd"), F.col("_dq"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(F.col("_vd"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    norm_d = F.sqrt(
        F.aggregate(F.col("_dq"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # ANSI mode: a zero vector (norm 0) must yield NULL fidelity, not a
    # divide-by-zero error (hypothesis-found edge)
    denom = norm_v * norm_d
    return q.select(
        "*",
        (abs_err_sum / dim).alias("mean_abs_err"),
        F.when(denom != 0, dot / denom).alias("cos_fidelity"),
    ).drop("_vd", "_dq")


def matryoshka_stats(
    df: DataFrame, vec_col: str, k: int
) -> DataFrame:
    """Matryoshka-style truncation fidelity: keep the first ``k``
    dimensions of each vector and report how much of the vector's
    energy (squared L2 mass) they retain, plus the truncated norm and
    the cosine between the full vector and its zero-padded truncation
    (which equals ``norm_k / norm_full`` analytically — emitted from
    that identity, ONE extra division, no second pass).

    Serving at 100 TB often stores a short prefix (k of d dims) and
    re-ranks with the full vector only for finalists; this operator is
    the audit that says whether a chosen k is safe. Adds ``energy_k``,
    ``norm_k``, ``cos_trunc``; all math native (double `aggregate`
    over arrays materialized in their own projection — interpreted
    HOF landmine). Zero vectors yield NULL ratios (ANSI-safe
    try_divide), matching DuckDB's x/0.
    """
    vecd = df.withColumn(
        "_vd", F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).withColumn("_vk", F.slice("_vd", 1, k))
    ss = lambda c: F.aggregate(F.col(c), F.lit(0.0), lambda a, x: a + x * x)  # noqa: E731
    staged = vecd.select(
        "*", ss("_vd").alias("_ss_full"), ss("_vk").alias("_ss_k")
    )
    norm_full = F.sqrt("_ss_full")
    norm_k = F.sqrt("_ss_k")
    return staged.select(
        "*",
        F.try_divide(F.col("_ss_k"), F.col("_ss_full")).alias("energy_k"),
        norm_k.alias("norm_k"),
        F.try_divide(norm_k, norm_full).alias("cos_trunc"),
    ).drop("_vd", "_vk", "_ss_full", "_ss_k")

