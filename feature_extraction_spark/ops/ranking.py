"""BM25 ranked retrieval over a document corpus.

Reference analog: none (the reference has no retrieval ops) — this is part
of the training-pipeline extension layer, using the standard Lucene/
Robertson formulations:

- idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))            (BM25 idf)
- bm25(d)  = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))

Scale design (100 TB corpus, short query):
- ``bm25_topk`` never shuffles the corpus at document grain. The query
  terms are filtered INSIDE the token array before the explode, so the
  exploded stream holds only query-term hits (|hits| rows, not |tokens|);
  the (doc, term) aggregation, the term df aggregation, and the final
  per-doc sum all run over that filtered stream with map-side partial
  aggregation. Corpus stats (N, avgdl) are a 1-row aggregate broadcast via
  crossJoin; the idf table is |query terms| rows, broadcast.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import ws_tokens_expr


def _tokenize_query(query: str) -> list[str]:
    """Same tokenizer as the corpus side: lowered whitespace words,
    duplicates dropped (BM25 treats repeated query terms as one)."""
    seen: dict[str, None] = {}
    for w in re.split(r"\s+", query.lower()):
        if w:
            seen.setdefault(w, None)
    return list(seen)


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    tie_digits: int | None = None,
) -> DataFrame:
    """Top-k documents by BM25 score for ``query``.

    Ties broken by ascending id. Documents matching no query term score 0
    and are not returned (standard retrieval semantics). ``tie_digits``
    ranks by the score ROUNDED to that many digits (then id) — summation
    order of per-term contributions is engine/partitioning-dependent at the
    ulp level, so exact-score ordering is not reproducible across engines;
    rounded ordering is, which is what verification against an external
    oracle needs."""
    terms = _tokenize_query(query)
    if not terms:
        return df.select(
            F.col(id_col), F.lit(0.0).alias("bm25")
        ).limit(0)
    qarr = F.array(*[F.lit(t) for t in terms])
    words = ws_tokens_expr(F.lower(F.coalesce(F.col(text_col), F.lit(""))))

    base = df.select(F.col(id_col), words.alias("_w")).withColumn(
        "dl", F.size("_w")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # keep only query-term tokens BEFORE exploding: the exploded stream is
    # |hits|, not |tokens|
    hits = base.select(
        id_col,
        "dl",
        F.explode(
            F.filter(F.col("_w"), lambda w: F.array_contains(qarr, w))
        ).alias("term"),
    )
    tf = hits.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_tbl = F.broadcast(
        dfreq.crossJoin(F.broadcast(stats)).select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(idf_tbl, "term")
        .select(F.col(id_col), contrib.alias("contrib"))
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("bm25"))
    )
    rank_key = (
        F.round(F.col("bm25"), tie_digits) if tie_digits is not None else F.col("bm25")
    )
    return scored.orderBy(F.desc(rank_key), F.col(id_col)).limit(k)
