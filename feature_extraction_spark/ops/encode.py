"""Categorical feature encoding: smoothed target encoding, quantile
binning, and hashed feature crosses — the standard transforms between raw
columns and a model-ready feature matrix.

All three follow the engine's leakage-safe fit/transform discipline (the
same contract as ops/normalize.py): statistics are computed from a
TRAINING frame only and joined onto any frame afterwards, so evaluation
rows can never influence the encoding. The reference hand-maintains its
feature matrices per split (csv manifests per subject list); these are the
scalable analogs.

Scale design:
- ``fit_target_encoder`` is ONE hash aggregation over the training frame
  (map-side partial); the resulting encoder table is |categories| rows —
  tiny — and ``apply_target_encoder`` broadcasts it, so encoding a 100 TB
  fact table is a map-only stage (no shuffle of the facts).
- ``fit_quantile_bins`` is one aggregation producing a single row of
  n_bins-1 edges per group; ``apply_quantile_bins`` broadcasts the edges
  and computes the bucket with a native array ``filter`` + ``size`` over
  the (tiny) edge array — no UDF, no shuffle, stays in codegen. Exact
  percentiles by default (matching the engine's exact-median convention);
  pass ``exact=False`` for the mergeable percentile_approx sketch when the
  training frame itself is huge.
- ``feature_cross`` is a pure per-row expression (md5 of the length-
  prefixed key tuple -> 32-bit integer -> mod n_buckets): zero shuffle,
  reproducible bit-for-bit by any engine (the DuckDB oracles run the same
  arithmetic), independent of partitioning and cluster size — the hashing
  trick for high-cardinality crosses at any scale.

Edges and encodings are quantized (round) before use so the fit artifact
is portable across engines; see the _r4 convention in BENCH/BASELINE.md.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.chunk import _entity_hash


def fit_target_encoder(
    train: DataFrame,
    cat_cols: str | Sequence[str],
    target_col: str,
    smoothing: float = 20.0,
    decimals: int = 6,
) -> DataFrame:
    """Per-category smoothed target means from the training frame only.

    encoding = (sum(y) + smoothing * global_mean) / (count + smoothing) —
    the standard empirical-Bayes shrinkage toward the global mean, so rare
    categories don't memorize their few target values (the high-cardinality
    overfit the smoothing term exists to prevent).

    Returns one row per category tuple: ``(cat_cols..., te_n, te_value)``
    plus the global mean replicated in ``te_global`` (the unseen-category
    fallback carried with the artifact). One hash aggregation total.
    """
    from pyspark.sql import Window

    cats = [cat_cols] if isinstance(cat_cols, str) else list(cat_cols)
    y = F.col(target_col).cast("double")
    per_cat = train.groupBy(*cats).agg(
        F.count(y).alias("te_n"),
        F.sum(y).alias("_te_sum"),
    )
    # global mean from the same pass's partials: an unpartitioned window
    # over the |categories|-row frame (tiny — one single-partition exchange
    # of category rows), NOT a second aggregation lineage, so the training
    # frame is scanned exactly once per evaluation of the artifact. The
    # artifact itself is a fit product: persist it (or snapshot-commit it)
    # before applying at scale, as with any fitted encoder.
    w = Window.partitionBy()
    glob = F.sum("_te_sum").over(w) / F.sum("te_n").over(w)
    enc = per_cat.select(
        *cats,
        "te_n",
        F.round(
            (F.col("_te_sum") + F.lit(float(smoothing)) * glob)
            / (F.col("te_n") + F.lit(float(smoothing))),
            decimals,
        ).alias("te_value"),
        F.round(glob, decimals).alias("te_global"),
    )
    return enc


def apply_target_encoder(
    df: DataFrame,
    encoder: DataFrame,
    cat_cols: str | Sequence[str],
    out_col: str = "te",
) -> DataFrame:
    """Broadcast-join the encoder table; categories unseen at fit time get
    the global mean (the artifact's own fallback — never NULL, never a
    train-time statistic recomputed on eval data)."""
    cats = [cat_cols] if isinstance(cat_cols, str) else list(cat_cols)
    fallback = encoder.select(F.max("te_global").alias("_te_fallback"))
    joined = df.join(
        F.broadcast(encoder.select(*cats, "te_value")), on=cats, how="left"
    ).crossJoin(F.broadcast(fallback))
    return joined.withColumn(
        out_col, F.coalesce(F.col("te_value"), F.col("_te_fallback"))
    ).drop("te_value", "_te_fallback")


def target_encode(
    df: DataFrame,
    cat_cols: str | Sequence[str],
    target_col: str,
    train: DataFrame | None = None,
    smoothing: float = 20.0,
    out_col: str = "te",
) -> DataFrame:
    """Fit on ``train`` (defaults to ``df`` — the no-split case) and
    transform ``df``. Pass the training slice explicitly whenever one
    exists; fitting on the frame being scored leaks eval targets into the
    encoding (the exact failure mode target encoding is notorious for)."""
    enc = fit_target_encoder(
        train if train is not None else df, cat_cols, target_col, smoothing
    )
    return apply_target_encoder(df, enc, cat_cols, out_col=out_col)


def fit_quantile_bins(
    train: DataFrame,
    col: str,
    n_bins: int = 10,
    exact: bool = True,
    accuracy: int = 10_000,
    decimals: int = 4,
) -> DataFrame:
    """One row holding the n_bins-1 interior quantile edges of ``col`` on
    the training frame (type-7 interpolation — Spark ``percentile`` ==
    DuckDB ``quantile_cont``). Edges are rounded to ``decimals`` so the
    fitted artifact is engine-portable; ``exact=False`` switches to the
    mergeable percentile_approx sketch for huge training frames."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    probs = [i / n_bins for i in range(1, n_bins)]
    x = F.col(col).cast("double")
    parr = F.array(*[F.lit(p) for p in probs])
    q = (
        F.percentile(x, parr)
        if exact
        else F.percentile_approx(x, parr, F.lit(accuracy))
    )
    return train.agg(
        F.transform(q, lambda e: F.round(e, decimals)).alias("bin_edges")
    )


def apply_quantile_bins(
    df: DataFrame,
    edges: DataFrame,
    col: str,
    out_col: str = "bin",
) -> DataFrame:
    """bucket = #edges strictly below x (0..n_bins-1): a native
    size(filter(...)) over the broadcast edge array — codegen, no UDF.
    NULL/NaN values get bucket NULL (the visible no-signal marker)."""
    x = F.col(col).cast("double")
    bucket = F.size(F.filter(F.col("bin_edges"), lambda e: x > e))
    return (
        df.crossJoin(F.broadcast(edges))
        .withColumn(
            out_col,
            F.when(x.isNull() | F.isnan(x), F.lit(None)).otherwise(bucket),
        )
        .drop("bin_edges")
    )


def quantile_bin(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    train: DataFrame | None = None,
    out_col: str = "bin",
    exact: bool = True,
) -> DataFrame:
    """Fit edges on ``train`` (defaults to ``df``) and bucket ``df``."""
    edges = fit_quantile_bins(
        train if train is not None else df, col, n_bins, exact=exact
    )
    return apply_quantile_bins(df, edges, col, out_col=out_col)


def feature_cross(
    df: DataFrame,
    cols: Sequence[str],
    n_buckets: int = 1 << 16,
    salt: str = "fx",
    out_col: str = "cross_bucket",
) -> DataFrame:
    """Hashed cross of ``cols`` into ``n_buckets`` (the hashing trick):
    bucket = first-32-bits(md5(length-prefixed key tuple, salt)) mod
    n_buckets. Pure per-row expression — deterministic across engines,
    partitioning, and cluster size; collisions are the accepted price of
    bounding the feature dimension (choose n_buckets >> active crosses)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    h = _entity_hash(list(cols), salt)
    word = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    return df.withColumn(out_col, (word % F.lit(int(n_buckets))).cast("int"))
