"""Product quantization (PQ) for embedding compression and ANN serving.

Jegou, Douze, Schmid — "Product Quantization for Nearest Neighbor Search"
(IEEE TPAMI 2011). The vector is split into ``m`` contiguous subvectors;
each subspace gets its own ``k``-centroid codebook (Lloyd iterations), and
a vector is stored as ``m`` small integer codes. Query scoring uses
asymmetric distance computation (ADC): a per-query lookup table of
``m x k`` partial squared distances is built ONCE on the driver, and
scoring a stored code is ``m`` array lookups — the float vectors are never
read at serving time.

Scale design (100 TB): the embedding column dominates corpus storage
(64 x float64 = 512 B/vec); PQ codes at m=8 are 8 small ints — a 32-64x
working-set reduction, which is what makes a corpus-wide ANN probe fit in
cluster memory at all. Everything row-wise here is a native JVM expression
(slice / aggregate / zip_with / array_position — higher-order exprs run
JVM-side outside whole-stage codegen, still zero Python in the hot path):
``pq_encode`` is a map-only projection, ``pq_adc_topk`` is a projection +
TakeOrderedAndProject (per-partition heaps — no global sort, no shuffle
beyond the final k rows), and training touches the corpus once per Lloyd
iteration with map-combinable per-(subspace, code, dim) averages.

Reference scope note: the reference repo (kmatton/Feature-Extraction) has
no ANN/embedding surface; this module is part of the additive
LLM-training-data layer (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "adc_lut",
]


def _sq_dist(vec: Column, cent: list[float]) -> Column:
    """Squared L2 distance between an array column and a literal centroid —
    one fused aggregate, no intermediate array materialization."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _code_expr(subvec: Column, cents: list[list[float]]) -> Column:
    """Index (0-based) of the nearest centroid; ties -> smallest index
    (array_position returns the FIRST match of the minimum)."""
    dists = F.array(*[_sq_dist(subvec, c) for c in cents])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _subvec(vec: Column, j: int, dsub: int) -> Column:
    # F.slice is 1-indexed
    return F.slice(vec, j * dsub + 1, dsub)


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``m`` independent k-means problems, one per
    subspace, all advanced together in ONE distributed pass per Lloyd
    iteration. Returns ``codebooks[j][c] = centroid`` (length ``dsub``).

    Iterative (like the BPE trainer / LDA): the trainer is exercised by
    value-level pytest (monotone quantization error, determinism); the
    driver-facing correctness query freezes a trained codebook as a
    literal and oracles ``pq_encode`` + ``pq_adc_topk`` exactly in SQL.

    Per iteration: assign = native argmin expression over the broadcast
    codebook literal (no Python), update = posexplode dims + one
    map-combinable groupBy((j, code, dim)).avg — collect is bounded by
    m*k*dsub floats (the codebook), never by the corpus. Deterministic
    init: the k subvectors of the k lowest-xxhash64 ids per subspace.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")

    # deterministic seed rows: k lowest hash ids (collect k*m*dsub floats)
    seed_rows = (
        df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need >= k={k} vectors, got {len(seed_rows)}")
    codebooks = [
        [[float(x) for x in r["_v"][j * dsub : (j + 1) * dsub]]
         for r in seed_rows]
        for j in range(m)
    ]

    # subspace-exploded view: (id, j, subvector) — built once per iteration
    # from the pruned 2-column scan
    base = df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
    for _ in range(iters):
        subs = base.select(
            "_id",
            F.posexplode(
                F.array(*[_subvec(F.col("_v"), j, dsub) for j in range(m)])
            ).alias("j", "sv"),
        )
        # assign: per-subspace argmin via a CASE over j (m branches, each a
        # native expression against that subspace's literal codebook)
        code = F.lit(None).cast("int")
        expr = None
        for j in range(m):
            branch = _code_expr(F.col("sv"), codebooks[j])
            expr = (
                F.when(F.col("j") == j, branch)
                if expr is None
                else expr.when(F.col("j") == j, branch)
            )
        assigned = subs.select("j", F.col("sv"), expr.alias("c"))
        # update: mean per (j, c, dim) — map-combinable, k*m*dsub groups
        means = (
            assigned.select(
                "j", "c", F.posexplode(F.col("sv")).alias("d", "x")
            )
            .groupBy("j", "c", "d")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            upd.setdefault((r["j"], r["c"]), {})[r["d"]] = float(r["mu"])
        for (j, c), dims in upd.items():
            for d, mu in dims.items():
                codebooks[j][c][d] = mu
        # empty clusters keep their previous centroid (standard Lloyd)
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode vectors to PQ codes: ``pq_code`` = array of ``m`` codes,
    ``code_j`` = argmin_c ||subvec_j - codebook[j][c]||^2 (ties -> smallest
    c). Map-only native projection — the serving-path representation."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(
        *[_code_expr(_subvec(vec, j, dsub), codebooks[j]) for j in range(m)]
    )
    cols = [F.col(id_col)] + [F.col(c) for c in (keep_cols or [])]
    return df.select(*cols, codes.alias("pq_code"))


def adc_lut(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[list[float]]:
    """ADC lookup table: ``lut[j][c]`` = squared L2 distance between the
    query's j-th subvector and codebook[j][c]. m*k floats, driver-side."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for j in range(m):
        q = query[j * dsub : (j + 1) * dsub]
        lut.append(
            [
                float(sum((a - b) * (a - b) for a, b in zip(q, c)))
                for c in codebooks[j]
            ]
        )
    return lut


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate k-NN by ADC over PQ codes: distance = sum over
    subspaces of ``lut[j][code_j]`` — per row, ``m`` array lookups inside
    one fused zip_with/aggregate (whole-stage codegen), then ascending
    top-k via TakeOrderedAndProject (per-partition heaps; only k rows
    cross the wire). Deterministic tie-break on id."""
    lut = adc_lut(codebooks, query)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    dist = F.aggregate(
        F.zip_with(
            F.col(code_col),
            lut_lit,
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.col(id_col))
        .limit(k)
    )

