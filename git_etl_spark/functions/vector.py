"""Vector column helpers (embedding ``array<float>`` columns).

Dot product / norm / cosine are array lambdas (``zip_with`` +
``aggregate``) evaluated JVM-side in whole-stage codegen — no Python,
no shuffle, no UDF. Both Spark and DuckDB fold array sums strictly
left-to-right in IEEE double, so these expressions are *bitwise*
reproducible against the DuckDB oracle (verified: 1225/1225 pairs
bitwise-equal at sf0.01) — which is why the similarity queries can be
hash-checked without decimal detours.

At 100 TB the brute-force shapes below pair with blocking (LSH / IVF
bucketing, see operators/similarity.py) — the per-pair math stays
identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold.

    Contract (shared by norm/cosine and their DuckDB twins): non-null
    elements, equal dims. A NULL array COLUMN yields NULL on both
    engines (comparisons then drop the row — the implicit null-vector
    semantic every simsearch query relies on; similarity.py encodes
    null vectors as NULL columns, never as arrays of NULLs). An array
    containing ANY NULL element — including all-NULL like
    ``[NULL, NULL]`` — or a length-mismatched pair is data corruption,
    not input — and it is
    enforced loudly on BOTH engines (here and in :func:`duck_dot`):
    before round 13 the engines silently diverged on it (Spark's fold
    propagates NULL, DuckDB's list_aggregate sums the non-null
    products; r12 deferred review item). Detection is free: with both
    inputs non-null, the fold is NULL *iff* some product was NULL,
    which under ANSI (pinned, session.py) happens only for a NULL
    element or zip_with's length padding — so one coalesce suffices,
    no second array traversal in the hot path."""
    raw = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return _null_vec_or_loud(a, b, raw)


def _null_vec_or_loud(a: Column, b: Column, raw: Column) -> Column:
    """NULL through for NULL vector(s); raise on a NULL fold result
    with non-null inputs (= partial-NULL element or dim mismatch)."""
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(
        F.coalesce(
            raw,
            F.raise_error(
                F.lit(
                    "dot(): partially-NULL or length-mismatched vectors"
                    " (corrupt input; see functions/vector.py contract)"
                )
            ),
        )
    )


def norm(a: Column) -> Column:
    """L2 norm in double."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double."""
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# Order-independent exact mean machinery (scaled-integer sums)
# ---------------------------------------------------------------------------
#
# A plain double SUM is partial-merge-order dependent, and the sorted-fold
# alternative (array_sort(collect_list(...)) then a sequential fold) carries
# per-group state ∝ group size — an executor OOM once groups are corpus-sized
# (per-label centroids, Lloyd cell means, the PCA mean vector at 100 TB).
#
# This trio instead truncates each double to exact 1e-14-unit integers,
# sums them as DECIMAL(38,0) (order-independent, partial-aggregates map-side,
# no overflow below ~10^24 terms), and reconstructs a double through a
# sign/hi/lo split in which every floating-point operation is correctly
# rounded from exactly representable operands — so Spark, DuckDB, and the
# driver-side Python mirror produce bit-identical doubles regardless of
# partitioning. The ≤1e-14 per-term truncation is the documented accuracy
# contract (callers quantize at ≥1e-9, 5+ orders of margin).
#
# Precondition: |value| ≲ 9e4 so value·1e14 fits in int64 per term.

_DEC14_SPLIT = 1_000_000_000_000  # hi/lo split at 1e12: both halves < 2^53


_SUM14_M = 1 << 24  # per-term hi/lo split: both halves ≲ 1.7e7


def sum14(col: Column) -> Column:
    """:func:`sum_scaled` at the default 1e-14 grid — one delegation,
    not a second copy of the hi/lo split (the r12 review found the
    pair had drifted into verbatim duplicates; a future fix to the
    split must land in exactly one body)."""
    return sum_scaled(col, 1e14)


def sum_scaled(col: Column, scale: float) -> Column:
    """Order-independent exact Σ trunc(col·scale) as DECIMAL(38,0).

    The per-row work stays in LONG arithmetic (a DECIMAL sum per term
    measured ~2.4× slower on the PCA moment pass): each term t splits
    into (t div 2²⁴, t mod 2²⁴) — an identity under Spark's truncating
    div/sign-of-dividend mod for any sign — and the two LONG partial
    sums recombine into one DECIMAL(38,0) per GROUP.

    Exactness bounds (per GROUP, r12-corrected — the earlier "both
    halves ≲1.7e7" claim only holds for |col|·scale ≤ 2⁴⁸):

    - per term: |col|·scale must fit int64 (≲9.2e18), else the ANSI
      cast raises (loud, never a wrap);
    - the Σlo partial is ≤ 2²⁴ per term → exact to ~5·10¹¹ terms;
    - the Σhi partial is ≤ |col|·scale / 2²⁴ per term → exact to
      ~2⁶³ / (max|col|·scale / 2²⁴) terms: ~1.5·10¹² terms for
      |col| ≤ 1 at scale 1e14 (embeddings, products of normalized
      values — the actual hot callers), shrinking to ~1.7·10⁷ terms
      for |col| at the 9e4 per-term ceiling. Callers with BOTH large
      values and >10⁷-row groups must drop ``scale`` (the chi-square
      caller does) or cast the two inner sums to DECIMAL — the
      recombination already is. Overflow is never silent: ANSI sum
      raises.
    """
    t = (col.cast("double") * F.lit(scale)).cast("long")
    m = F.lit(_SUM14_M)
    lo = t % m
    # (t - lo) is an exact multiple of 2²⁴ carrying ≤ 53 significant
    # bits at ANY int64 magnitude — t is truncated from a double
    # product, so t itself never has more mantissa entropy than a
    # double, and clearing its low 24 bits only reduces it (probed
    # empirically to |col| = 8.8e4 at scale 1e14: bit-equal to the
    # DuckDB twin). The long→double conversion and the division by
    # 2²⁴ are therefore exact, and the cast back to long lossless.
    hi = ((t - lo) / m).cast("long")
    return F.sum(hi).cast("decimal(38,0)") * m + F.sum(lo).cast("decimal(38,0)")


def dec_scaled_to_double(s: Column, scale: float) -> Column:
    """dec14_to_double generalized: DECIMAL(38,0) sum of trunc(x·scale)
    terms → double in original units, exact sign/hi/lo reconstruction."""
    sgn = F.when(s < F.lit(0), F.lit(-1.0)).otherwise(F.lit(1.0))
    a = F.abs(s)
    lo = a % F.lit(_DEC14_SPLIT)
    hi = (a - lo) / F.lit(_DEC14_SPLIT)
    return (
        sgn
        * (
            hi.cast("long").cast("double") * F.lit(1e12)
            + lo.cast("long").cast("double")
        )
        / F.lit(scale)
    )


def dec14_to_double(s: Column) -> Column:
    """:func:`dec_scaled_to_double` at the 1e-14 grid (delegation, not
    a copy — see sum14)."""
    return dec_scaled_to_double(s, 1e14)


def mean14(col: Column) -> Column:
    """Exact-reconstruction mean: dec14_to_double(sum14(col)) / COUNT(*).
    Aggregate expression; bit-identical to duck_mean14 / py_dec14."""
    return dec14_to_double(sum14(col)) / F.count("*")


def duck_sum14(expr: str) -> str:
    """DuckDB twin of sum14 (HUGEINT — exact, no overflow); delegates
    to the scaled generalization like the Spark side."""
    return duck_sum_scaled(expr, "1e14")


def duck_sum_scaled(expr: str, scale: str) -> str:
    """DuckDB twin of sum_scaled: pass ``scale`` as a literal like
    '1e10' so Spark and the oracle truncate at the same unit."""
    return f"SUM(CAST(trunc(({expr}) * {scale}) AS BIGINT))"


def duck_dec_scaled_to_double(s: str, scale: str) -> str:
    """DuckDB twin of dec_scaled_to_double."""
    return (
        f"(CASE WHEN ({s}) < 0 THEN -1.0 ELSE 1.0 END"
        f" * (CAST(abs({s}) // {_DEC14_SPLIT} AS DOUBLE) * 1e12"
        f" + CAST(abs({s}) % {_DEC14_SPLIT} AS DOUBLE)) / {scale})"
    )


def duck_dec14_to_double(s: str) -> str:
    """DuckDB twin of dec14_to_double (``//``/``%`` on nonnegative
    operands, so floor ≡ trunc and both engines agree bit-for-bit);
    delegates to the scaled generalization like the Spark side."""
    return duck_dec_scaled_to_double(s, "1e14")


def duck_mean14(expr: str) -> str:
    """DuckDB twin of mean14."""
    return f"({duck_dec14_to_double(duck_sum14(expr))} / COUNT(*))"


def py_dec14(s) -> float:
    """Driver-side mirror of dec14_to_double for collected DECIMAL sums."""
    s = int(s)
    sgn = -1.0 if s < 0 else 1.0
    a = abs(s)
    return (
        sgn
        * (float(a // _DEC14_SPLIT) * 1e12 + float(a % _DEC14_SPLIT))
        / 1e14
    )


# DuckDB twin expressions (oracle side), parameterized by column names
def duck_dot(a: str, b: str) -> str:
    """Twin of :func:`dot`, including its loud contract: NULL through
    for a NULL vector, error() on a partially-NULL or
    length-mismatched pair (list_zip pads the shorter side with NULL,
    so the one filter catches both). Without the guard DuckDB's
    list_aggregate would silently sum the non-null products where
    Spark's fold propagates NULL — the r12 deferred cross-engine
    divergence. CASE evaluates lazily, so error() fires only on an
    actual violation (verified against duckdb in the r13 session)."""
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL"
        f" WHEN len(list_filter(list_zip({a}, {b}),"
        f" p -> p[1] IS NULL OR p[2] IS NULL)) > 0"
        f" THEN error('dot(): partially-NULL or length-mismatched vectors')"
        f" ELSE list_aggregate(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') END)"
    )


def duck_norm(a: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )


def duck_cosine(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / ({duck_norm(a)} * {duck_norm(b)}))"
