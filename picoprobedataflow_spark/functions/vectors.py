"""Vector functions over ``array<float>`` embedding columns.

Everything is built from ``F.zip_with`` / ``F.aggregate`` — JVM-side
higher-order functions, no Python UDF, so similarity search stays in
whole-stage codegen. Accumulation is an ordered left fold in double
precision, which the DuckDB oracle reproduces with an ordered unnest
sum (rounding to 6 decimals absorbs any residual ulp drift).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def const_array(values) -> Column:
    """A literal ``array<double>`` built from ONE parsed SQL
    expression instead of one ``F.lit`` py4j round-trip per element.

    ``F.array(*[F.lit(x) for x in vs])`` spends driver time linear in
    the element count on py4j traffic — measured ~2.4 s of pure plan
    construction for one 8-cell × 64-dim centroid set, which made
    plan BUILDING (not execution) the dominant cost of every
    centroid-literal search (ivfpq_full: 2.5 s construct vs 0.5 s
    exec). The single ``F.expr`` parse is ~5 ms. Values are rendered
    with ``repr``: the shortest round-tripping decimal for a finite
    double, which Spark's correctly-rounded literal parser maps back
    to the identical bit pattern — so the produced array is
    value-identical to the F.lit form (pytest-pinned). Non-finite
    values have no SQL literal form and fall back to the F.lit path.
    """
    vals = [float(v) for v in values]
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    if not all(v == v and v not in (float("inf"), float("-inf"))
               for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not a crash, not NaN) when either vector has zero norm:
    under Spark 4's default ANSI mode a plain ``/`` RAISES
    DIVIDE_BY_ZERO the first time a dead/all-zero embedding reaches
    any cosine consumer — a guaranteed crash at corpus scale, found
    by the round-9 degenerate-input sweep (same totality-bug class as
    round 8's sub-k-token shingle crash). ``try_divide`` yields NULL,
    which ANSI comparison/threshold predicates reject and descending
    sorts place last, so undefined-similarity rows fall out of
    top-k/near-dup results instead of aborting the job. DuckDB twin
    unaffected: oracle corpora carry no zero vectors, and nonzero
    divisors are bit-identical through try_divide."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_prenorm(a: Column, b: Column,
                   na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms — bit-identical to
    :func:`cosine` (same dot fold, same norm fold upstream, same
    product-then-divide), but in a blocked self-join the norm folds
    run once per VECTOR in the pre-join projection instead of once
    per PAIR (3 array folds per candidate pair → 1). At Σblock²
    candidate pairs this is the dominant per-pair cost. NULL on a
    zero norm, like :func:`cosine` (ANSI ``/`` would raise)."""
    return F.try_divide(dot(a, b), na * nb)


def scale(a: Column, s: Column | float) -> Column:
    sc = F.lit(s) if isinstance(s, (int, float)) else s
    return F.transform(a, lambda x: x.cast("double") * sc)


def l2_normalize(a: Column) -> Column:
    """Unit-normalize; a zero vector maps to itself (all zeros) —
    total under ANSI mode, where the unguarded reciprocal raised
    DIVIDE_BY_ZERO on the first dead embedding (round-9 sweep)."""
    n = norm(a)
    return F.when(n > 0, scale(a, F.lit(1.0) / n)) \
            .otherwise(F.transform(a, lambda x: F.lit(0.0)))


def quantize_int8(a: Column, scale_inv: Column | float) -> Column:
    """Symmetric int8 quantization: round(x * scale_inv) clamped to
    [-127, 127], as array<tinyint> — the 4× storage/bandwidth lever
    for 100 TB embedding tables (float32 → int8). ``scale_inv`` is
    127 / max|x| computed over the corpus (or per row); keep it with
    the data to dequantize."""
    si = F.lit(float(scale_inv)) if isinstance(scale_inv, (int, float)) \
        else scale_inv
    return F.transform(
        a, lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.round(x.cast("double") * si, 0).cast("int")))
        .cast("tinyint"))


def dequantize_int8(q: Column, scale_inv: Column | float) -> Column:
    """Inverse of :func:`quantize_int8`: back to array<double>."""
    si = F.lit(float(scale_inv)) if isinstance(scale_inv, (int, float)) \
        else scale_inv
    return F.transform(q, lambda x: x.cast("double") / si)


def random_sign_matrix(out_dim: int, dim: int,
                       salt: str = "rp") -> list[list[float]]:
    """Deterministic ±1 projection rows (the Achlioptas sparse-JL
    sign matrix, density 1) derived from md5 of ``salt:d:j`` — no
    RNG state, so the same matrix regenerates on any driver AND in
    SQL: a hex digit is even iff it is one of ``02468ace``, which is
    exactly ``int(h[0], 16) % 2 == 0`` — the oracle reproduces every
    sign with ``md5()``/``substr()`` and stays engine-identical."""
    import hashlib

    return [[1.0 if int(hashlib.md5(
                f"{salt}:{d}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1.0
             for j in range(dim)]
            for d in range(out_dim)]


def random_project(a: Column, out_dim: int, dim: int,
                   salt: str = "rp") -> Column:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims:
    ``out[d] = (1/√out_dim) · Σⱼ a[j]·g[d,j]`` with the
    deterministic ±1 matrix of :func:`random_sign_matrix`. The
    storage/compute lever for the embedding lane — a 64-d float
    column projects to 16-d at 4× less ANN arithmetic while
    preserving pairwise distances within the JL distortion bound
    (linearity and the exact values are pytest-pinned against a
    numpy model; the ``rand_proj`` family hash-pins them against a
    DuckDB replay of the same md5-sign matrix).

    Row-local (zero shuffle): ``out_dim`` sequential fold-dots per
    row, each a whole-stage-codegen expression — the same shape as
    :func:`dot`, deterministic FP order WITHIN each engine.

    Cross-engine tolerance note (round 13): the ``rand_proj`` oracle
    computes the same dot as an unordered DuckDB ``GROUP BY``/``SUM``
    — a different FP addition order than this fold — so the two
    engines agree only up to FP associativity (~1 ulp per term). The
    family pins 6-dp ROUNDED values, which holds unless a projected
    value lands within that error of an exact .5×10⁻⁶ rounding
    boundary (none of the 4096 family values does; the ±1·float32
    inputs keep magnitudes small). If the family ever flakes on a new
    dataset, that boundary collision is the diagnosis — re-salt the
    matrix or add a guard digit to the family's rounding rather than
    chasing a phantom logic bug."""
    import math

    inv = 1.0 / math.sqrt(out_dim)
    rows = random_sign_matrix(out_dim, dim, salt)
    return F.array(*[
        (dot(a, const_array(row)) * inv)
        for row in rows])
