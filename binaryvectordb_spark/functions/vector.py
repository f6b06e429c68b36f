"""Vector quantization + scoring as pure Spark SQL column expressions.

Everything here stays JVM-side inside whole-stage codegen — no Python UDFs in
the hot path.  These expressions are the Spark-first re-expression of the
reference's numpy/faiss kernels:

- ``pack_bits``    — sign-quantize float vector to 1 bit/dim packed into int64
  lanes (mirrors the "ubinary" embeddings of the reference,
  BinaryVectorDB/BinaryVectorDB.py:109,121-123; np.packbits semantics at :221
  are replaced by an explicit little-endian-within-lane layout fixed HERE, the
  single source of truth for bit order — SURVEY §7 risk 1).
- ``hamming``      — popcount(xor) over the packed lanes (faiss
  IndexBinaryFlat's metric, reference README.md:132).
- ``binary_dot``   — Phase II score  q_float · (2b-1)
  (BinaryVectorDB/BinaryVectorDB.py:221-224: unpackbits, 2b-1, dot).
- ``int8_quantize``/``int8_cosine`` — Phase III score q·d_int8/‖d_int8‖
  (BinaryVectorDB/BinaryVectorDB.py:242 — doc-side norm only; rank-equivalent
  to cosine, not true cosine — semantics preserved exactly).

Bit-order contract (must match any oracle):  dimension ``d`` lives in lane
``d div 64`` at bit position ``d mod 64`` (LSB-first within a lane).  A
dimension sets its bit iff ``value >= 0``.

All dot/sum folds are strict left-to-right over ascending dimension index, so
double-precision results are bit-reproducible and comparable against any
engine that folds in the same order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LANE_BITS = 64


def NUM_LANES(dim: int) -> int:
    return (dim + LANE_BITS - 1) // LANE_BITS


def _sql(col: Column | str) -> str:
    """Render a column reference/expression as a SQL fragment."""
    if isinstance(col, Column):
        # Column -> SQL string via its expression; safest is to require str for
        # composed expressions, but plain attribute columns stringify fine.
        raise TypeError("pass column NAMES (str) so expressions compose into SQL")
    return col


def pack_bits(col: str, dim: int) -> Column:
    """array<float>[dim] -> array<bigint>[ceil(dim/64)], bit = (x >= 0)."""
    c = _sql(col)
    lanes = []
    for j in range(NUM_LANES(dim)):
        base = j * LANE_BITS
        n = min(LANE_BITS, dim - base)
        lanes.append(
            f"aggregate(sequence(0, {n - 1}), 0L, (acc, i) -> acc + "
            f"IF(element_at({c}, {base} + i + 1) >= CAST(0 AS FLOAT), "
            f"shiftleft(1L, i), 0L))"
        )
    return F.expr("array(" + ", ".join(lanes) + ")")


def pack_bits_np(mat):
    """numpy mirror of ``pack_bits`` — (n, dim) float matrix -> (n, lanes)
    uint64, SAME bit layout (dimension d -> lane d//64, bit d%64, set iff
    x >= 0).  vector.py owns the layout contract; numpy code that packs
    (the RAM tier's query and doc bits) runs this one packer,
    ``kernels.pack_lanes``, so the two packers can never drift."""
    from binaryvectordb_spark.functions.kernels import pack_lanes
    return pack_lanes(mat)


def popcount_vec(col: str) -> Column:
    """Total set bits of a packed vector (hamming weight)."""
    c = _sql(col)
    return F.expr(
        f"aggregate({c}, 0, (acc, x) -> acc + bit_count(x))"
    )


def hamming(a: str, b: str, lanes: int | None = None) -> Column:
    """Hamming distance between two packed ARRAY<BIGINT> vectors.

    With ``lanes`` given, emits an UNROLLED sum of ``bit_count(a[i] ^ b[i])``
    terms; with ``lanes=None`` a lambda fold (the Spark analogue of the
    reference's 'popcount(xor) in 2 CPU cycles', README.md:132).

    Measured on 1M cached rows (local[8]): unrolled 62ms vs fold 83ms at
    2 lanes, 76ms vs 63ms at 16 lanes — the two forms are equivalent in
    practice (the scan's cost is array access, not the fold), and neither is
    the bottleneck: Spark's fixed per-job overhead dominates single-query
    latency.  The unrolled form is kept for the cascade because it avoids
    the higher-order-function CodegenFallback node, keeping the projection
    eligible for codegen when the surrounding plan allows it.
    """
    if lanes is not None:
        terms = " + ".join(
            f"bit_count(element_at({_sql(a)}, {j + 1}) ^ element_at({_sql(b)}, {j + 1}))"
            for j in range(lanes))
        return F.expr(terms)
    return F.expr(
        f"aggregate(zip_with({_sql(a)}, {_sql(b)}, (x, y) -> bit_count(x ^ y)), "
        f"0, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """Double-precision dot product of two numeric arrays (left-to-right fold)."""
    return F.expr(
        f"aggregate(zip_with({_sql(a)}, {_sql(b)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """`dot` with the fold UNROLLED to a flat 0+t1+...+t_dim expression.

    Bit-identical to `dot` (same left-associative ascending-d IEEE fold —
    the aggregate lambda is (acc, v) -> acc + v over ascending index, the
    flat sum parses left-associative), but codegen-ELIGIBLE: the
    higher-order aggregate/zip_with form is CodegenFallback, interpreted
    per row, which dominates pair-join queries (r16 measured the blocked
    cosine self-join at 13.9 s interpreted; see cosine_unrolled users).
    Needs the dimension at plan-build time — every fixture/storage path
    here has it."""
    terms = "CAST(0 AS DOUBLE)" + "".join(
        f" + CAST(element_at({_sql(a)}, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at({_sql(b)}, {i + 1}) AS DOUBLE)"
        for i in range(dim))
    return F.expr(terms)


def cosine_unrolled(a: str, b: str, dim: int, na: Column | None = None,
                    nb: Column | None = None) -> Column:
    """`cosine` built from unrolled folds — bit-identical values (the
    dot/norm scalars are the same doubles, the when() guard is the same),
    codegen-eligible.  ``na``/``nb`` accept PRE-COMPUTED norm columns
    (norms are per-vector facts — compute them before a pair join so the
    per-pair work is one dot, not three folds; r16 measured the blocked
    cosine self-join 13.9 s -> 2.9 s with this split)."""
    d = dot_unrolled(a, b, dim)
    if na is None:
        na = F.sqrt(dot_unrolled(a, a, dim))
    if nb is None:
        nb = F.sqrt(dot_unrolled(b, b, dim))
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def norm(a: str) -> Column:
    """Euclidean norm of a numeric array."""
    return F.sqrt(dot(a, a))


def cosine(a: str, b: str) -> Column:
    """True cosine similarity (both sides normalized); 0 when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def with_cosine(df, a: str, b: str, out: str):
    """``df.withColumn(out, cosine(a, b))`` with each HOF fold evaluated
    ONCE per row (r17, guide §1.2 per-task work): the single-expression
    ``cosine`` duplicates the norm subtrees — each appears in the when()
    guard AND the divisor, so the plan evaluates the a-norm and b-norm
    folds up to 3x per row, and HOF aggregates are CodegenFallback with no
    subexpression elimination (the r16 text_repetition_ratios lesson).
    Two projections instead: the three folds land as alias columns (na/nb
    are multi-referenced downstream, so CollapseProject keeps the split),
    then the guard/divide read the columns.  Values bit-identical: the
    same three IEEE folds feed the same when/divide tree."""
    d, na, nb = f"__{out}_dot", f"__{out}_na", f"__{out}_nb"
    step = df.select("*", dot(a, b).alias(d),
                     F.sqrt(dot(a, a)).alias(na),
                     F.sqrt(dot(b, b)).alias(nb))
    val = (F.when((F.col(na) > 0) & (F.col(nb) > 0),
                  F.col(d) / (F.col(na) * F.col(nb)))
           .otherwise(F.lit(0.0)))
    return step.withColumn(out, val).drop(d, na, nb)


def binary_dot(q: str, packed: str, dim: int) -> Column:
    """Phase II score: q_float · (2b - 1) for packed binary doc bits b.

    Mirrors BinaryVectorDB/BinaryVectorDB.py:221-224 (unpackbits -> 2b-1 ->
    dot) without materializing the unpacked vector: each dimension contributes
    +q_i when its bit is set, else -q_i.
    """
    qc, pc = _sql(q), _sql(packed)
    return F.expr(
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS DOUBLE), (acc, i) -> acc + "
        f"IF((shiftright(element_at({pc}, CAST((i div 64) + 1 AS INT)), CAST(i % 64 AS INT)) & 1L) = 1L, "
        f"CAST(element_at({qc}, i + 1) AS DOUBLE), "
        f"-CAST(element_at({qc}, i + 1) AS DOUBLE)))"
    )


def int8_quantize(col: str) -> Column:
    """array<float> -> array<tinyint>: clamp to [-1,1], scale by 127, round.

    The reference receives int8 embeddings from its embedding API
    (BinaryVectorDB/BinaryVectorDB.py:109,125-126); our engine owns the
    quantizer.  round() is HALF_UP (away from zero) in both Spark and DuckDB.
    """
    c = _sql(col)
    return F.expr(
        f"transform({c}, x -> CAST(round(greatest(CAST(-1 AS DOUBLE), "
        f"least(CAST(1 AS DOUBLE), CAST(x AS DOUBLE))) * 127.0D) AS TINYINT))"
    )


def int8_cosine(q: str, d_int8: str) -> Column:
    """Phase III score: q · d_int8 / ‖d_int8‖ — DOC-side norm only.

    Faithful to BinaryVectorDB/BinaryVectorDB.py:242 (query norm omitted —
    rank-equivalent to cosine for a fixed query; README.md:155 calls it
    cossim).  Guarded against zero norm (ANSI mode divides strictly).
    """
    d = dot(q, d_int8)
    nd = norm(d_int8)
    return F.when(nd > 0, d / nd).otherwise(F.lit(0.0))
