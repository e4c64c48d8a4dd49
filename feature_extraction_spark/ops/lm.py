"""Distributed n-gram language-model training and perplexity scoring —
the CCNet-style quality signal for pre-training corpora (Wenzek et al.
2020, arXiv:1911.00359 train a 5-gram KenLM on a clean corpus and bucket
web documents by perplexity; Gopher, LLaMA and the Pile pipelines do the
same). KenLM is a native library; this is the Spark-native equivalent:
an add-k-smoothed bigram model whose training and scoring are both pure
DataFrame plans.

Reference analog: none (the reference has no LM ops) — training-pipeline
extension layer.

Pinned semantics (mirrored in the DuckDB driver oracle and the pytest
pure-python model):

- tokens = whitespace words of lowercased text (shared ws_tokens_expr).
- unigram counts c(w) over the training corpus; T = total tokens;
  V = distinct training tokens (NO extra UNK slot: unseen words already
  get mass from add-k).
- p(w1)       = (c(w1) + k) / (T + k*V)          -- first token
- p(w2 | w1)  = (c(w1,w2) + k) / (c(w1) + k*V)   -- every following token
- log-perplexity of a doc with n tokens = -(1/n) * sum of ln p;
  ppl = exp(log_ppl). n = 0 keeps its row with NaN (NULL-entity
  convention) — degenerate docs must not vanish.

Scale design (train on M tokens, score N docs, vocab V):

- Training is TWO map-side-combinable hash aggregations: one over the
  exploded unigram stream, one over the within-row-zipped bigram stream
  (adjacency never needs a window or a self-join — ``zip_with`` pairs each
  word array with its own tail, so the bigram stream is built row-locally
  before the explode). Model "state" is two DataFrames + a 1-row stats
  aggregate; nothing is collected to the driver.
- Scoring explodes each doc once into (first-token ∪ bigram) rows tagged
  with their join keys, left-joins the unigram table on w1 and the bigram
  table on (w1, w2), then runs one per-doc aggregation. The unigram
  (vocab) side is broadcastable for natural-language vocabularies; the
  joins are left unhinted so AQE picks broadcast when the built model is
  small and shuffle-hash when it is not.
- Self-scoring (driver query) reuses the training exchanges via Spark's
  exchange reuse; the model DataFrames can also be snapshot-committed
  (sources/snapshots.py) and maintained incrementally (unigram/bigram
  counts are trivially mergeable states).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan, ws_tokens_expr


@dataclass(frozen=True)
class NgramLM:
    """A trained bigram model: two count tables + the smoothing constant.

    ``unigrams``: (term, c) · ``bigrams``: (w1, w2, c). ``stats()`` is a
    1-row (t_tokens, v_vocab) aggregate derived lazily so the model stays
    a pure plan until an action forces it."""

    unigrams: DataFrame
    bigrams: DataFrame
    k: float

    def stats(self) -> DataFrame:
        return self.unigrams.agg(
            F.sum("c").alias("t_tokens"),
            F.count(F.lit(1)).alias("v_vocab"),
        )


def _doc_words(df: DataFrame, text_col: str) -> DataFrame:
    words = ws_tokens_expr(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    return df.withColumn("_w", words)


def _bigram_pairs(col: str = "_w"):
    """(w1, w2) structs built row-locally: zip each word with its successor.
    slice(arr, 2, n) is the tail; zip_with stops at the shorter array only
    when lengths differ — they differ by one, so slice the head too."""
    arr = F.col(col)
    n = F.size(arr)
    return F.zip_with(
        F.slice(arr, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", k: float = 0.1
) -> NgramLM:
    """Fit the add-k bigram model on ``df``'s text column. Two hash
    aggregations, no window, no self-join, nothing on the driver."""
    d = _doc_words(df, text_col)
    uni = (
        d.select(F.explode("_w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        d.select(F.explode(_bigram_pairs()).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return NgramLM(unigrams=uni, bigrams=big, k=float(k))


def with_perplexity(
    df: DataFrame,
    lm: NgramLM,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    out_col: str = "ppl",
) -> DataFrame:
    """Append ``log_ppl`` and ``out_col`` (= exp(log_ppl)) per document.

    Every input row keeps its output row; empty/NULL text scores NaN."""
    ids = list(id_cols)
    k = F.lit(lm.k)
    d = _doc_words(df, text_col).withColumn("_n", F.size("_w"))

    # tagged score stream: one 'first' row (is_first=1) + n-1 bigram rows.
    # w1 is the conditioning context (the token itself for the first row).
    first = F.when(
        F.col("_n") >= 1,
        F.array(
            F.struct(
                F.lit(1).alias("is_first"),
                F.element_at("_w", 1).alias("w1"),
                F.lit(None).cast("string").alias("w2"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<is_first:int,w1:string,w2:string>>"))
    bigs = F.transform(
        _bigram_pairs(),
        lambda p: F.struct(
            F.lit(0).alias("is_first"),
            p["w1"].alias("w1"),
            p["w2"].alias("w2"),
        ),
    )
    stream = d.select(
        *ids, F.explode(F.concat(first, bigs)).alias("s")
    ).select(*ids, "s.is_first", "s.w1", "s.w2")

    uni = lm.unigrams.select(
        F.col("term").alias("w1"), F.col("c").alias("_c1")
    )
    big = lm.bigrams.select("w1", "w2", F.col("c").alias("_c12"))
    stats = lm.stats()

    scored = (
        stream.join(uni, on="w1", how="left")
        .join(big, on=["w1", "w2"], how="left")
        .crossJoin(F.broadcast(stats))
    )
    c1 = F.coalesce(F.col("_c1"), F.lit(0)).cast("double")
    c12 = F.coalesce(F.col("_c12"), F.lit(0)).cast("double")
    kv = k * F.col("v_vocab")

    def _log_ratio(num, den):
        # F.log of a non-positive ratio is NULL (non-ANSI), and F.sum
        # SKIPS NULL rows — with k=0 an unseen bigram would silently
        # vanish from the doc's log-prob sum, UNDERESTIMATING perplexity
        # instead of flagging it. Pin the semantics: P=0 -> -inf (the doc
        # scores ppl=inf and every max_ppl cut drops it), undefined
        # denominator (empty model, k=0) -> NaN per the library's
        # zero-denominator convention (functions/text.py).
        return (
            F.when(den <= 0.0, nan())
            .when(num <= 0.0, F.lit(float("-inf")))
            .otherwise(F.log(num / den))
        )

    lp = F.when(
        F.col("is_first") == 1,
        _log_ratio(c1 + k, F.col("t_tokens") + kv),
    ).otherwise(_log_ratio(c12 + k, c1 + kv))
    per_doc = (
        scored.select(*ids, lp.alias("_lp"))
        .groupBy(*ids)
        .agg(F.sum("_lp").alias("_lp_sum"), F.count(F.lit(1)).alias("_terms"))
    )
    # left join keeps n=0 docs (they emit no stream rows)
    out = (
        d.select(*ids, "_n", *[c for c in df.columns if c not in ids])
        .join(per_doc, on=ids, how="left")
        .withColumn(
            "log_ppl",
            F.when(
                F.col("_n") > 0, -F.col("_lp_sum") / F.col("_n")
            ).otherwise(nan()),
        )
        .withColumn(out_col, F.exp("log_ppl"))
    )
    return out.drop("_w", "_n", "_lp_sum", "_terms")


def perplexity_filter(
    df: DataFrame,
    lm: NgramLM,
    max_ppl: float,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """CCNet-style keep rule: input columns only, rows whose perplexity
    under ``lm`` is <= ``max_ppl`` (NaN — empty docs — dropped)."""
    cols = df.columns
    scored = with_perplexity(df, lm, text_col=text_col, id_cols=id_cols)
    keep = (~F.isnan("ppl")) & (F.col("ppl") <= F.lit(max_ppl))
    return scored.filter(keep).select(*cols)


def ppl_buckets(
    df_scored: DataFrame,
    ppl_col: str = "log_ppl",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    method: str = "threshold",
    labels: tuple[str, ...] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): partition
    an already-perplexity-scored corpus into ``n_buckets`` equal-count
    quality tiers (head = lowest perplexity). Adds ``bucket_idx`` (0-based)
    and ``bucket`` (label) columns.

    method='threshold' — the 100 TB path: one percentile_approx aggregate
    produces the n_buckets-1 cut points, labeling is a broadcast of
    (n-1) scalars + map-only comparisons; the corpus never shuffles.
    method='rank' — exact equal-count buckets via a global row_number
    (floor(n_buckets*(rank-1)/n) with (ppl, id) tiebreak): a
    single-partition window, deliberately reserved for small inputs and
    cross-engine oracles where exactness beats scalability.

    NaN perplexity (empty docs) lands in the LAST bucket under both
    methods (worst tier; rank order already sorts NaN last).
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if labels is None:
        labels = (
            ("head", "middle", "tail")
            if n_buckets == 3
            else tuple(f"b{i}" for i in range(n_buckets))
        )
    if len(labels) != n_buckets:
        raise ValueError("labels must have n_buckets entries")

    p = F.col(ppl_col)
    if method == "rank":
        w = Window.orderBy(p.asc(), F.col(id_col).asc())
        idx = F.floor(
            F.lit(n_buckets)
            * (F.row_number().over(w) - 1)
            / F.count(F.lit(1)).over(Window.partitionBy())
        ).cast("int")
    elif method == "threshold":
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = df_scored.filter(~F.isnan(p)).select(
            F.percentile_approx(p, qs, accuracy).alias("_c")
        ).first()["_c"] or []
        # strict: the cut value itself (percentile_approx returns an actual
        # data value) closes the LOWER bucket, matching rank's floor rule
        above = sum((p > F.lit(float(c))).cast("int") for c in cuts)
        idx = F.when(F.isnan(p), F.lit(n_buckets - 1)).otherwise(above)
    else:
        raise ValueError(f"unknown method {method!r}")

    label_arr = F.array(*[F.lit(l) for l in labels])
    return df_scored.withColumn("bucket_idx", idx).withColumn(
        "bucket", F.element_at(label_arr, F.col("bucket_idx") + 1)
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Pointwise-mutual-information collocations: adjacent token pairs
    scored by pmi = ln(p(w1,w2) / (p1(w1) * p2(w2))), plus the normalized
    variant npmi = pmi / -ln(p(w1,w2)) — the classic collocation /
    phrase-mining signal (Church & Hanks 1990; word2vec-style phrase
    joining uses this statistic).

    All three probabilities live in the SAME space — the bigram
    distribution: p(w1,w2) = c12/N, p1/p2 are its positional marginals
    (count of the word as a first/second element over N). That is the
    joint/marginal formulation under which npmi is GUARANTEED in [-1, 1]
    (with unigram-space marginals the bound fails whenever tokens are
    near-exclusive to one pair). It also makes the plan minimal: one
    row-locally-zipped bigram aggregation over the corpus, two tiny
    re-aggregations of the (vocabulary-sized) pair table for the
    marginals, scalar total broadcast via crossJoin — the corpus is
    scanned and shuffled exactly once. The ``min_count`` filter only
    prunes which pairs are emitted (rare pairs have unreliably large PMI —
    the standard guard); marginals and the total always use the full
    stream.

    ``top_k``: optionally keep the k highest-PMI pairs (ties broken by
    (w1, w2)) via TakeOrderedAndProject — never a global sort.

    The pair table has FOUR consumers (the emit filter, both marginals,
    the total); left lazy, each would re-run the corpus explode+agg, so it
    is materialized once at construction (vocabulary-sized; localCheckpoint
    by default, snapshot-committed with ``checkpoint_dir`` — the same
    contract as the LSH candidate set, ops/dedup.py).
    """
    from ..sources.snapshots import materialize

    d = _doc_words(df, text_col)
    big = (
        d.select(F.explode(_bigram_pairs()).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    big = materialize(big, checkpoint_dir, name="pmi_pairs")
    m1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n2 = big.agg(F.sum("c12").cast("double").alias("_n2"))
    out = (
        big.filter(F.col("c12") >= min_count)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(n2))
    )
    lp12 = F.log(F.col("c12") / F.col("_n2"))
    pmi = lp12 - F.log(F.col("c1") / F.col("_n2")) - F.log(F.col("c2") / F.col("_n2"))
    # degenerate case: one pair holds ALL bigram mass (c12 == N) makes
    # -ln(p12) exactly 0; the npmi limit under perfect association is 1.0
    # (Bouma 2009 convention) — guarded so ANSI sessions don't error and
    # non-ANSI ones don't emit NULL
    npmi = F.when(lp12 < 0, pmi / -lp12).otherwise(F.lit(1.0))
    out = out.select(
        "w1", "w2", "c12", "c1", "c2",
        pmi.alias("pmi"),
        npmi.alias("npmi"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("pmi").desc(), F.col("w1"), F.col("w2")
        ).limit(top_k)
    return out


def train_phrases(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    threshold: float = 10.0,
) -> DataFrame:
    """Collocation detection with the gensim-Phrases ORIGINAL scorer
    (Mikolov et al. 2013 eq. 6; the reference's phrase models use it —
    text_util.py:50-71, gensim.models.Phrases):
    score(a, b) = (c_ab - min_count) * V / (c_a * c_b) over UNIGRAM
    counts c_a/c_b and vocabulary size V; a bigram is a phrase when
    score > threshold. V counts distinct unigram types only, while
    gensim's len(vocab) counts unigrams and bigrams, so its V is larger
    and a gensim threshold does not transfer as is. NOT iterative — one
    counting pass plus a threshold rule, so the whole trainer is
    SQL-expressible and value-oracled in the driver (phrase_merge_docs).

    Plan: the corpus is scanned twice (unigram counts; row-locally
    zipped bigram counts) — both map-side-combinable hash aggregations;
    the score join runs on the vocabulary-sized tables (AQE broadcasts
    the unigram side when it fits) and V rides a broadcast crossJoin.
    Returns (w1, w2, c12, c1, c2, score) for bigrams with
    c12 >= min_count, every arithmetic step on exact BIGINTs so the
    score doubles are engine-reproducible bit-for-bit.
    """
    d = _doc_words(df, text_col)
    uni = (
        d.select(F.explode("_w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vs = uni.agg(F.count(F.lit(1)).cast("double").alias("_vs"))
    big = (
        d.select(F.explode(_bigram_pairs()).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    score = (
        (F.col("c12") - F.lit(int(min_count))).cast("double") * F.col("_vs")
    ) / (F.col("c1").cast("double") * F.col("c2"))
    return (
        big.filter(F.col("c12") >= int(min_count))
        .join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(vs))
        .select("w1", "w2", "c12", "c1", "c2", score.alias("score"))
        .filter(F.col("score") > float(threshold))
    )


def merge_phrases(
    df: DataFrame,
    phrases: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "text_phrased",
    delimiter: str = "_",
) -> DataFrame:
    """Apply a trained phrase table: rewrite each document's token stream
    by joining detected collocations into single tokens ("a b" -> "a_b"),
    with gensim Phraser's exact left-to-right NON-OVERLAPPING greedy
    semantics (reference text_util.py:73-93: a merged token is emitted
    and scanning resumes AFTER it, so it can never merge again in the
    same pass; run the op twice for trigrams, exactly like the
    reference's bigram-then-trigram chain).

    The phrase table is vocabulary-bounded and ships as a LITERAL array
    (the same in-memory contract as gensim's Phraser object and the
    frozen _BPE_MERGES); the rewrite is one row-local index fold
    (F.aggregate over token positions with a skip flag — lookahead
    greedy), so the op is map-only: zero shuffles, nothing driver-side
    at scale. Membership tests are O(|phrases|) per position; for phrase
    tables beyond a few thousand entries, pre-filter with
    ``train_phrases(...).orderBy(score desc).limit(k)``.

    Adds ``out_col`` (the rewritten space-joined text) plus
    ``n_tokens`` / ``n_tokens_phrased``. Empty/NULL docs keep a row with
    an empty string and zero counts.
    """
    sep = "\x1f"
    keys = F.array(
        *[F.lit(f"{a}{sep}{b}") for a, b in phrases]
    ) if phrases else F.array().cast("array<string>")
    toks = ws_tokens_expr(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    d = df.withColumn("_pm_w", toks)
    w = F.col("_pm_w")

    def step(acc, i):
        # i is 1-based (never 0/negative, even on the empty-doc guard row)
        cur = F.try_element_at(w, i)
        nxt = F.try_element_at(w, i + 1)
        is_phrase = F.array_contains(
            keys, F.concat_ws(sep, cur, nxt)
        ) & nxt.isNotNull()
        return (
            F.when(
                acc["skip"],
                F.struct(
                    acc["out"].alias("out"), F.lit(False).alias("skip")
                ),
            )
            .when(
                is_phrase,
                F.struct(
                    F.concat(
                        acc["out"],
                        F.array(
                            F.concat(cur, F.lit(delimiter), nxt)
                        ),
                    ).alias("out"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(cur)).alias("out"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )
    folded = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1))),
        zero,
        step,
    )["out"]
    merged = F.when(F.size(w) == 0, F.array().cast("array<string>")).otherwise(
        folded
    )
    return (
        d.withColumn("_pm_m", merged)
        .withColumn(out_col, F.array_join(F.col("_pm_m"), " "))
        .withColumn("n_tokens", F.size(w).cast("long"))
        .withColumn("n_tokens_phrased", F.size("_pm_m").cast("long"))
        .drop("_pm_w", "_pm_m")
    )
