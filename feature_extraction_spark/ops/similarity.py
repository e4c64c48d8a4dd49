"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k against one query vector — the
  baseline. Dot products via zip_with/aggregate (JVM, codegen), global top-k
  via orderBy+limit (Spark runs TakeOrdered, no full sort materialization).
- build_ann_index / ivf_topk_indexed: the ANN path — an IVF index built
  once (centroids + assignments partitioned by cluster), then each probe
  scans only the ``nprobe`` nearest partitions.
- knn_join_exact: small-query-set exact kNN via broadcast of the queries.
- cosine_neardup_pairs: embedding near-dup pairs, random-hyperplane LSH
  banding (``lsh_bucket_expr``) + exact cosine verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (a bare
    division would raise DIVIDE_BY_ZERO with ANSI on)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query``."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        cosine_expr(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def hyperplane_sign_expr(vec: Column, plane_idx: int, dim: int, seed: int) -> Column:
    """Sign bit of <vec, h_p> for a deterministic pseudo-random hyperplane:
    h_p[i] = uniform(-1,1) from xxhash64(seed, p, i)."""
    comps = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda v, i: v
        * (
            (
                F.pmod(F.xxhash64(F.lit(seed), F.lit(plane_idx), i), F.lit(2_000_000))
                .cast("double")
                / 1_000_000.0
            )
            - 1.0
        ),
    )
    s = F.aggregate(comps, F.lit(0.0), lambda acc, v: acc + v)
    return (s > 0).cast("int")


def lsh_bucket_expr(vec: Column, dim: int, planes: int, table: int, seed: int) -> Column:
    """Bucket id = packed sign bits of ``planes`` hyperplanes (per table)."""
    bits = [
        hyperplane_sign_expr(vec, table * 1000 + p, dim, seed) for p in range(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = F.shiftleft(out, 1).bitwiseOR(b)
    return out


def knn_join_exact(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    data_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact kNN join for a SMALL query set: broadcast queries, score every
    (data, query) pair, keep top-k per query via window rank."""
    from pyspark.sql import Window

    d = data.select(F.col(data_id), F.col(vec_col).cast("array<double>").alias("_dv"))
    qdf = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    scored = d.crossJoin(F.broadcast(qdf)).select(
        query_id,
        data_id,
        cosine_expr(F.col("_dv"), F.col("_qv")).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(data_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _partition_topk_candidates(
    scored: DataFrame, query_id: str, data_id: str, k: int
) -> DataFrame:
    """Per-INPUT-PARTITION top-k per query over a ``(query_id, data_id,
    cosine)`` frame — an Arrow ``mapInPandas`` reduction with bounded
    state (at most |Q| x k retained rows plus one Arrow batch), emitting
    <= |Q| x k rows per partition. Selection order is exactly the final
    ranking order (cosine desc, data_id asc), so any row in the global
    top-k survives its partition's prefilter — the reduction is exact,
    not approximate. Same kernel pattern as the Misra-Gries reducer in
    ops/sketches.py; runs map-only (no shuffle, no Python state on the
    driver)."""
    import pandas as pd

    schema = scored.schema

    def kern(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            cand = (
                pdf
                if best is None
                else pd.concat([best, pdf], ignore_index=True)
            )
            cand = cand.sort_values(
                ["cosine", data_id],
                ascending=[False, True],
                kind="mergesort",
            )
            best = cand.groupby(query_id, sort=False).head(k)
        if best is not None and len(best):
            yield best

    return scored.mapInPandas(kern, schema)


def hard_negatives(
    data: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    data_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    partition_prefilter: bool = True,
) -> DataFrame:
    """Hard-negative mining for retrieval training (DPR, Karpukhin et al.
    2020; ANCE, Xiong et al. 2021): per query, the top-k most-similar
    corpus items that are NOT labeled positives — the negatives a
    contrastive loss learns most from. Positives are excluded BEFORE
    ranking (broadcast anti-join on (query, item)), so the output always
    holds k true negatives per query, never a shortfall from post-filter.
    Rows whose cosine is NULL/NaN (zero-norm embeddings) are excluded —
    a degenerate similarity is not a usable negative, and the explicit
    rule keeps both execution paths and the cross-engine oracle aligned.

    Scale notes: queries and positives are training-batch-sized and
    broadcast; the corpus is scanned exactly once. The default path
    bounds the ranking shuffle: scoring + anti-join + a per-partition
    top-k Arrow reduction all run MAP-ONLY in one stage, so the final
    per-query row_number window receives at most k x P x |Q| candidate
    rows (P = input partitions) instead of |corpus| x |Q| — the round-4
    shape that concentrated the whole scored corpus onto |Q| reducers is
    gone (plan + bound pinned in tests/test_dedup_similarity.py).
    ``partition_prefilter=False`` keeps the pure-JVM window form for
    tiny corpora. At corpus scales where exact scoring itself is too
    wide, generate candidates with the persisted IVF index first
    and feed THAT as ``data`` — this op composes unchanged.
    """
    from pyspark.sql import Window

    d = data.select(
        F.col(data_id), F.col(vec_col).cast("array<double>").alias("_dv")
    )
    qdf = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    scored = d.crossJoin(F.broadcast(qdf)).select(
        query_id,
        data_id,
        cosine_expr(F.col("_dv"), F.col("_qv")).alias("cosine"),
    )
    scored = scored.filter(
        F.col("cosine").isNotNull() & ~F.isnan("cosine")
    )
    pos = positives.select(query_id, data_id)
    filtered = scored.join(
        F.broadcast(pos), [query_id, data_id], "left_anti"
    )
    if partition_prefilter:
        filtered = _partition_topk_candidates(filtered, query_id, data_id, k)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(data_id))
    return filtered.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------- IVF


def _centroid_cosines(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of cosine(vec, c) for each centroid (broadcast as an
    array-of-arrays literal — centroid sets are small by construction)."""
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    return F.transform(cents, lambda c: cosine_expr(vec, c))


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cluster",
) -> DataFrame:
    """Assign each row to its max-cosine centroid. At write time this column
    becomes the table's partition/bucket key, so probes prune scans."""
    vec = F.col(vec_col).cast("array<double>")
    sims = _centroid_cosines(vec, centroids)
    return df.withColumn(
        out_col, (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    )


def ivf_train(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seed centroids are the vectors of
    the ``n_centroids`` non-zero-norm rows with smallest xxhash64(id, seed)
    (a seeded uniform sample), refined with ``iters`` Lloyd iterations
    (assign = max-cosine; update = per-cluster mean, one scan + one hash
    agg each). A zero-norm or NULL vector has no cosine to any row, so as a
    seed it would be a centroid no row is ever assigned to; such rows are
    never drawn (fewer non-zero rows than ``n_centroids`` give fewer
    centroids). Centroids are collected to the driver (n_centroids x dim
    floats — tiny) and broadcast back inside expressions."""
    vec = F.col(vec_col).cast("array<double>")
    seed_rows = (
        df.select(vec.alias("v"), F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"))
        .where(_norm(F.col("v")) > 0)
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r["v"]) for r in seed_rows]
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col=vec_col)
        agg = (
            assigned.select("ivf_cluster", F.posexplode(vec).alias("pos", "x"))
            .groupBy("ivf_cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = {c: dict() for c in range(len(centroids))}
        for r in agg:
            # a zero-norm vector has NULL cosine to every centroid and
            # assigns to cluster NULL — skip it rather than KeyError the
            # whole training job on one padding embedding
            if r["ivf_cluster"] is None:
                continue
            new[r["ivf_cluster"]][r["pos"]] = r["m"]
        centroids = [
            [new[c][p] for p in sorted(new[c])] if new.get(c) else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def build_ann_index(
    df: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Persist an IVF ANN index: train the coarse quantizer ONCE, then
    write (a) the centroids as a snapshot-committed table
    (``{index_dir}/centroids`` — versioned, so index rebuilds are atomic
    swaps) and (b) the full assignment table partitioned by
    ``ivf_cluster`` (``{index_dir}/assignments``). At 100 TB the index is
    built once and probed many times: ``ivf_topk_indexed`` reads ONLY the
    nprobe nearest partitions (partition pruning — no Lloyd jobs, no
    re-assignment scan, no exchange) instead of re-deriving the index per
    query. Zero-norm vectors (NULL cluster) land in the Hive default
    partition and are never probed: they have no cosine to rank."""
    from ..sources.io import write_table
    from ..sources.snapshots import commit_snapshot

    spark = df.sparkSession
    centroids = ivf_train(
        df, n_centroids=n_centroids, iters=iters, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    cent_rows = [(c, [float(x) for x in v]) for c, v in enumerate(centroids)]
    cent_df = spark.createDataFrame(
        cent_rows, "ivf_cluster int, centroid array<double>"
    )
    commit_snapshot(cent_df, f"{index_dir}/centroids", mode="overwrite")
    assigned = ivf_assign(df, centroids, vec_col=vec_col).select(
        id_col, vec_col, "ivf_cluster"
    )
    write_table(
        assigned, f"{index_dir}/assignments", partition_by=["ivf_cluster"]
    )
    return centroids


def ivf_topk_indexed(
    spark,
    index_dir: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index (``build_ann_index``): centroids come
    from the committed snapshot (n_centroids rows — driver-side rank of
    the query against them is pure Python), and ONLY the nprobe nearest
    assignment partitions are scanned (`ivf_cluster IN (...)` is a
    partition filter — the plan has no Lloyd jobs and no exchange; the
    top-k is TakeOrderedAndProject). This is the serving path that makes
    IVF pay at scale: cost = nprobe/n_centroids of one table scan.

    A zero-norm centroid (``ivf_train`` never seeds one, but a committed
    centroid table may hold one) ranks last: a NaN sort key would leave
    ``sorted`` unordered around it."""
    import math

    from ..sources.snapshots import last_committed_version, read_snapshot

    cent_t = f"{index_dir}/centroids"
    cents = read_snapshot(
        spark, cent_t, last_committed_version(spark, cent_t)
    ).collect()
    centroids = {r["ivf_cluster"]: list(r["centroid"]) for r in cents}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else float("-inf")

    order = sorted(centroids, key=lambda c: -cos(query, centroids[c]))
    probe = [int(c) for c in order[:nprobe]]
    vec = F.col(vec_col).cast("array<double>")
    q = F.array(*[F.lit(float(x)) for x in query])
    cands = spark.read.parquet(f"{index_dir}/assignments").filter(
        F.col("ivf_cluster").isin(probe)
    )
    return (
        cands.select(F.col(id_col), cosine_expr(vec, q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------- embedding near-dup pairs


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    exact_max_rows: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    method='exact': all-pairs self-join — O(n^2), the small-corpus baseline
    and the test oracle. method='lsh' (default): random-hyperplane banding
    (reuses lsh_bucket_expr) — candidates are pairs sharing a bucket in any
    of ``tables`` hash tables, then exact cosine verification; the 100 TB
    path, where the bucket column shuffles instead of the cross join.

    ``exact_max_rows`` makes misuse of the exact path fail fast: an input
    above the bound raises (with a pointer to the LSH path) instead of
    silently launching an O(n^2) cross join — the same fail-fast contract
    as ops/cluster.py's driver_threshold. Set it to 0 to disable (e.g. a
    deliberately large oracle run)."""
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))

    if method == "exact":
        if exact_max_rows:
            # limit(k+1) bounds the probe: at most exact_max_rows+1 ids move
            probe = base.select("id").limit(exact_max_rows + 1).count()
            if probe > exact_max_rows:
                raise ValueError(
                    f"cosine_neardup_pairs(method='exact') on >"
                    f"{exact_max_rows:,} rows is O(n^2) — use method='lsh' "
                    f"(the scale path) or raise/disable exact_max_rows if "
                    f"this is a deliberate oracle run"
                )
        a, b = base.alias("a"), base.alias("b")
        pairs = (
            a.crossJoin(b)
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                cosine_expr(F.col("a.v"), F.col("b.v")).alias("cosine"),
            )
        )
        return pairs.filter(F.col("cosine") >= threshold)

    if dim is None:
        first = df.select(F.size(v).alias("d")).limit(1).collect()
        dim = int(first[0]["d"]) if first else 0
    buckets = F.array(
        *[lsh_bucket_expr(F.col("v"), dim, planes, t, seed) for t in range(tables)]
    )
    # banded rows carry ONLY the id (8-byte shuffle rows); a near-dup pair
    # collides in most of the `tables` hash tables, so candidates are
    # deduplicated BEFORE the exact-cosine re-rank — the interpreted
    # zip_with/aggregate dot product (the dominant cost) runs once per
    # distinct pair instead of once per collision, and the distinct
    # shuffle moves id pairs, not recomputed scores + vectors.
    banded = base.select("id", F.posexplode(buckets).alias("tbl", "bucket"))
    banded = banded.repartition("tbl", "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("_va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("_vb"))
    pairs = (
        cand_ids.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            cosine_expr(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= threshold)


# ------------------------------------------------------------- SemDeDup


def semdedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster above-threshold cosine pairs — SemDeDup's candidate
    stage (Abbas et al., arXiv:2303.09540: k-means the embedding space,
    then look for semantic duplicates ONLY inside each cluster).

    Scale shape: one repartition by the cluster id shared by both join
    sides (same-exchange-reuse as the shingle dedups), so the pairwise
    stage is O(sum c_i^2) over cluster sizes instead of O(n^2), and no
    row ever crosses clusters. Cluster count is the knob: n_clusters ~
    n/10^4 keeps the per-cluster quadratic bounded at any corpus size."""
    assigned = ivf_assign(df, centroids, vec_col=vec_col, out_col="_c").select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        "_c",
    )
    assigned = assigned.repartition("_c")
    a, b = assigned.alias("a"), assigned.alias("b")
    return (
        a.join(b, on="_c")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("_c").alias("cluster"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_expr(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: drop semantic near-duplicates, keeping one representative
    per duplicate group. Representative rule: the MINIMUM id survives — a
    doc is dropped iff it pairs above threshold with a lower id in its
    cluster (deterministic and SQL-checkable; deviation from the paper's
    keep-lowest-centroid-similarity rule, which depends on the clustering
    and so cannot be verified against a clustering-free oracle).

    Training reuses the seeded Lloyd quantizer (ivf_train); the only
    driver state is the n_clusters x dim centroid matrix."""
    cents = ivf_train(
        df, n_centroids=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col,
        seed=seed,
    )
    losers = (
        semdedup_pairs(df, cents, threshold, id_col, vec_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


def pool_embeddings(
    df: DataFrame,
    group_cols: str | list[str],
    emb_col: str = "embedding",
    method: str = "mean",
    normalize: bool = False,
    out_col: str = "pooled",
) -> DataFrame:
    """Pool per-row embeddings into one vector per group — mean ("average
    of turn embeddings = conversation embedding"), sum, or element-wise
    max. Returns (group_cols..., n_rows, <out_col>: array<double>).

    Scale shape: posexplode to (group, dim_idx, val) then ONE hash
    aggregation keyed on (group, dim_idx) — fully map-side combinable, so
    the shuffle carries at most |groups| x dim partial rows regardless of
    input size — and a second small aggregation reassembles the vector
    ordered by dim_idx. The obvious alternative (collect_list of whole
    arrays + fold) buffers every member vector of a group in one task:
    a hot group (a million-turn conversation) OOMs it; the posexplode
    plan never materializes a group's members together.

    ``normalize=True`` L2-normalizes the pooled vector (cosine-ready;
    zero vectors stay zero rather than NaN). Rows with NULL embeddings
    are ignored; ragged dims within a group raise at aggregation (strict:
    a silent min-length pool would corrupt the space).

    Reference analog: none (the reference has no embedding ops) — this is
    the training-pipeline op that turns turn-level vectors into
    conversation/document-level ones before ANN search or SemDeDup.
    """
    if method not in ("mean", "sum", "max"):
        raise ValueError(f"method must be mean|sum|max, got {method!r}")
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)

    exploded = df.filter(F.col(emb_col).isNotNull()).select(
        *keys, F.posexplode(emb_col).alias("_dim", "_val")
    )
    agg = {"mean": F.avg, "sum": F.sum, "max": F.max}[method]
    per_dim = exploded.groupBy(*keys, "_dim").agg(
        agg(F.col("_val").cast("double")).alias("_pool"),
        F.count(F.lit(1)).alias("_n"),
    )
    pooled = (
        per_dim.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_dim"), F.col("_pool")))
            ).alias("_pairs"),
            F.min("_n").alias("_n_min"),
            F.max("_n").alias("_n_max"),
        )
        .select(
            *keys,
            # the ragged check lives INSIDE the output column — an unused
            # guard column would be pruned by Catalyst and never evaluated
            F.when(
                F.col("_n_min") != F.col("_n_max"),
                F.raise_error(
                    F.concat(
                        F.lit("pool_embeddings: ragged embedding dims in group "),
                        F.concat_ws("/", *[F.col(k).cast("string") for k in keys]),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("_n_max"))
            .alias("n_rows"),
            F.transform(F.col("_pairs"), lambda p: p["_pool"]).alias(out_col),
        )
    )
    if normalize:
        nrm = _norm(F.col(out_col))
        pooled = pooled.withColumn(
            out_col,
            F.when(
                nrm > 0, F.transform(F.col(out_col), lambda v: v / nrm)
            ).otherwise(F.col(out_col)),
        )
    return pooled
