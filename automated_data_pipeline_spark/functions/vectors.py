"""Vector expressions over ``array<float>`` embedding columns.

Built-in higher-order functions only (zip_with + aggregate): the dot
product folds in ascending index order with double accumulation, which
is deterministic and engine-portable (the DuckDB oracle reproduces it
with an index-ordered sum). For very wide vectors or huge batches a
Pandas-UDF path would win on constant factors; at 64-dim the JVM
expression path avoids the Python worker hop entirely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

DIGITS = 6  # every cosine here is rounded to 6 digits


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential array fold — the shared
    primitive behind IVF assignment, PQ encode/ADC, and re-ranking.
    Deterministic (left-to-right accumulation, both sides cast to
    double before subtraction)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """RAW cosine — divides by the norm product with NO zero guard.
    Spark 4 ANSI mode raises on x/0, so a single all-zero embedding
    kills the job: production paths use ``cosine_rounded_safe``; this
    stays exported only as the mathematical reference the safe
    variant's tests compare against."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_rounded(a: Column, b: Column) -> Column:
    """Alias of ``cosine_rounded_safe`` — kept for callers of the old
    name; the unguarded form it used to be is exactly the ANSI
    divide-by-zero footgun the safe variant exists to remove, so the
    short name must not hand it back."""
    return cosine_rounded_safe(a, b)


def cosine_rounded_safe(a: Column, b: Column) -> Column:
    """Like cosine_rounded, but a zero-norm side yields 0.0 instead of
    a divide-by-zero (Spark 4 ANSI mode RAISES on x/0 — a single
    all-zero embedding would kill a whole corpus-scale job otherwise).
    0.0 = "no similarity evidence", the right semantics for dedup/ANN
    gates on degenerate vectors."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        F.round(dot(a, b) / denom, DIGITS)
    )


def cosine_hoisted(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """``cosine_rounded_safe`` with the norms supplied as pre-computed
    per-ROW columns — the hard_negative_topk doctrine generalized: the
    array folds behind ``norm()`` never enter codegen (interpreted
    HigherOrderFunction eval), so an inline cosine inside a pair join
    folds each side's norm once per PAIR (and twice each: zero guard +
    division) — 5 interpreted 64-element folds per pair instead of 1.
    Hoisting ``norm(v)`` to a projection before the join evaluates it
    once per ROW; the division here consumes the SAME double (identical
    expression on identical input), so results are bit-identical to
    ``cosine_rounded_safe`` and the oracles still hash-match."""
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        F.round(dot(a, b) / denom, DIGITS)
    )


def int8_scale(a: Column) -> Column:
    """Symmetric per-vector int8 quantization scale: max(|v_i|) / 127.
    Zero vectors get scale 0 (quantize maps them to all-zeros)."""
    absmax = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    return absmax / F.lit(127.0)


def int8_quantize(a: Column) -> Column:
    """Quantize array<float> -> array<int>: round(v / scale) clamped to
    [-127, 127]. Round-half-away-from-zero on the double ratio — the
    same rule DuckDB's round() uses, so the oracle reproduces the exact
    integer codes. Dequantization error is bounded by scale/2 per dim.
    This is the storage/IO form for ANN at scale: 4x smaller embedding
    bytes (and SIMD-friendly int dot products) at <1% recall loss for
    typical corpora.

    The scale is bound ONCE as a HOF lambda variable (array-wrap +
    transform) — inlining it into the per-element lambda would re-walk
    the array_max subtree for every element (O(d^2) per vector, d=768
    means ~590k element visits per row)."""
    return F.element_at(
        F.transform(
            F.array(int8_scale(a)),
            lambda s: F.when(
                s == 0, F.transform(a, lambda x: F.lit(0))
            ).otherwise(
                F.transform(
                    a,
                    lambda x: F.greatest(
                        F.lit(-127),
                        F.least(
                            F.lit(127), F.round(x.cast("double") / s, 0).cast("int")
                        ),
                    ),
                )
            ),
        ),
        1,
    )


def cosine_pandas_udf():
    """Arrow-batched cosine for WIDE vectors: the expression path
    (zip_with+aggregate) evaluates per element inside codegen, fine at
    64-dim; at 1024+-dim the vectorized numpy path wins on constant
    factors. Returns a pandas_udf(cosine(a, b) -> double).

    Same degenerate-input contract as ``cosine_rounded_safe`` (this is
    documented as its drop-in wide-vector replacement): a NULL vector
    on either side yields NULL (np.stack over a Series containing None
    would otherwise kill the Python worker — the single-bad-row
    job-kill class the safe expression was built to prevent), a
    zero-norm pair yields 0.0, and the result is rounded to ``DIGITS``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        mask = a.notna() & b.notna()
        out = np.full(len(a), np.nan)
        if mask.any():
            am = np.stack(a[mask].to_numpy())
            bm = np.stack(b[mask].to_numpy())
            num = (am * bm).sum(axis=1)
            den = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
            vals = np.where(den == 0, 0.0,
                            num / np.where(den == 0, 1.0, den))
            out[mask.to_numpy()] = np.round(vals, DIGITS)
        # NaN positions (NULL inputs) become SQL NULL through Arrow
        return pd.Series(out)

    return _cos
