"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Selects raw-corpus documents that look like a small TARGET corpus by
importance weighting in a hashed n-gram feature space:

1. features: unigrams + bigrams of the whitespace-lowered text, hashed
   into ``n_buckets`` buckets (the hashing trick; the paper uses 10k).
2. fit: bag-of-buckets unigram models for target and raw with add-alpha
   smoothing over the FULL bucket domain:
   p[b] = (count[b] + alpha) / (N + alpha * B).
3. score: per-document log importance weight
   log w(doc) = sum_b count_b(doc) * (ln p_target[b] - ln p_raw[b]).
4. resample: Gumbel top-k over log w / temperature — sampling WITHOUT
   replacement from the softmax of the weights (Gumbel-max trick), with
   the noise derived deterministically from a salted md5 of the id.

Scale design (100 TB): the fitted model is a B-row dimension table
(B ~ 10k) broadcast to the scorers; fitting makes ONE pass over each of
the two fit inputs (explode -> map-combinable groupBy(bucket)); scoring
makes ONE pass over the corpus (explode -> broadcast join -> one
map-combinable groupBy(id)). No corpus-sized shuffle carries text — only
(id, bucket) pairs move. Resampling is TakeOrderedAndProject (per-
partition heaps; only k rows reach the driver side of the sort).

Everything is md5-keyed so the DuckDB oracle replays identical buckets
and Gumbel noise (same convention as ops/chunk's samplers).

The reference repo has no counterpart (its scope ends at per-transcript
features); this op belongs to the LLM-training-data layer the brief adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["dsir_fit", "dsir_score", "dsir_resample", "gram_buckets_expr"]

# 2^52 — the largest power of two whose mantissa fits a double exactly;
# 13 md5 hex digits give a uniform 52-bit integer on both engines.
_U52 = float(1 << 52)


def gram_buckets_expr(
    text_col: str, n_buckets: int, salt: str = "dsir"
) -> Column:
    """Array of hashed feature buckets (unigrams + bigrams, WITH
    multiplicity — counts are the model's sufficient statistics) of the
    lowercased whitespace tokens. bucket = first-32-bits(md5(gram US
    salt)) mod n_buckets — the same single-key convention as
    ops/chunk._salted_md5, so oracles replay it as
    ``CAST('0x' || substr(md5(g || chr(31) || salt), 1, 8) AS BIGINT)``."""
    from feature_extraction_spark.functions.text import (
        ngrams_expr,
        ws_tokens_expr,
    )

    words = ws_tokens_expr(F.lower(F.col(text_col)))
    grams = F.concat(words, ngrams_expr(words, 2))
    return F.transform(
        grams,
        lambda g: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x1f", g, F.lit(salt))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % F.lit(int(n_buckets))
        ).cast("int"),
    )


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int, salt: str
) -> DataFrame:
    """(bucket, cnt) over one fit input: explode the per-doc bucket arrays
    and count — one map-combinable shuffle at bucket grain."""
    return (
        df.select(
            F.explode(
                gram_buckets_expr(text_col, n_buckets, salt)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 0.5,
    salt: str = "dsir",
) -> DataFrame:
    """Fit the importance model: a B-row table (bucket, lr) where
    lr = ln p_target[bucket] - ln p_raw[bucket] under add-alpha smoothing
    over the FULL 0..B-1 domain (spark.range — so scoring joins always
    hit, including buckets unseen in either fit sample). Both fit inputs
    are scanned exactly once; the result is dimension-sized."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing)")
    spark = target.sparkSession
    tc = _bucket_counts(target, text_col, n_buckets, salt)
    rc = _bucket_counts(raw, text_col, n_buckets, salt)
    domain = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        domain.join(tc.withColumnRenamed("cnt", "t_cnt"), "bucket", "left")
        .join(rc.withColumnRenamed("cnt", "r_cnt"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
        )
    )
    # totals via one window-free trick: the domain table is B rows, so a
    # crossJoin with the 1-row totals aggregate broadcasts trivially
    totals = joined.agg(
        F.sum("t_cnt").alias("t_n"), F.sum("r_cnt").alias("r_n")
    )
    a = float(alpha)
    b = float(n_buckets)
    return joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("t_cnt") + F.lit(a)) / (F.col("t_n") + F.lit(a * b)))
            - F.log((F.col("r_cnt") + F.lit(a)) / (F.col("r_n") + F.lit(a * b)))
        ).alias("lr"),
    )


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document log importance weight: (id_col, n_grams, dsir_logw).

    One corpus pass: explode bucket arrays -> broadcast-join the B-row
    model -> map-combinable groupBy(id). Documents with ZERO grams
    (empty/whitespace/NULL text) keep a row with n_grams=0 and
    dsir_logw=0.0 (the empty product — never silently dropped; the
    NULL-entity defect class)."""
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(gram_buckets_expr(text_col, n_buckets, salt)).alias(
            "bucket"
        ),
    )
    scored = (
        exploded.join(F.broadcast(model), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("bucket").alias("n_grams"),
            F.coalesce(F.sum("lr"), F.lit(0.0)).alias("dsir_logw"),
        )
    )
    return scored


def dsir_resample(
    scored: DataFrame,
    k: int,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    weight_col: str = "dsir_logw",
    salt: str = "gumbel",
) -> DataFrame:
    """Gumbel top-k resampling WITHOUT replacement: key = w/T + Gumbel
    noise, noise = -ln(-ln(u)) with u the deterministic 52-bit md5
    uniform of the id (exactly sampling k items w/o replacement from
    softmax(w/T) — the Gumbel-max trick). orderBy+limit plans as
    TakeOrderedAndProject: per-partition heaps, k rows cross the wire."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", F.col(id_col).cast("string"), F.lit(salt)
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_U52)
    key = F.col(weight_col) / F.lit(float(temperature)) - F.log(-F.log(u))
    return (
        scored.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.col(id_col))
        .limit(k)
    )
