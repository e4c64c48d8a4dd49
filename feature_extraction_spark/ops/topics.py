"""U8 — LDA topic modeling over transcript/document text, distributed.

Reference analog: archived/train_topic_model.py:67-169 — gensim
``Dictionary.filter_extremes`` + ``LdaModel(num_topics, passes, ...)`` on a
single machine, then per-document topic mixtures. Rebuilt on Spark MLlib:

- vocabulary: the SAME first-class document-frequency filter the engine
  already ships (ops/preprocess.df_vocab_filter — gensim filter_extremes
  semantics: min_df absolute, max_df fractional), so the LDA vocabulary and
  A11's vocab filter cannot drift apart.
- counts: ``pyspark.ml.feature.CountVectorizer`` over the vocab-pruned
  token arrays (sparse vectors, no dense doc-term matrix ever exists).
- model: ``pyspark.ml.clustering.LDA`` with the ``online`` optimizer
  (Hoffman et al. online variational Bayes) — mini-batch distributed,
  O(k·vocab) driver state, no per-document state on the driver; this is
  the optimizer that survives a 10^9-document corpus, vs "em" which
  keeps a GraphX edge per (doc, term) occurrence.

Determinism: seeded. Spark's online LDA with a fixed seed and fixed
partitioning is reproducible, but the topic *indices* are arbitrary
(label-switching, same as gensim) — tests assert cluster purity and
mixture properties, not absolute topic ids. Not SQL-expressible, so the
driver records a rows-only check for the LDA query; value-level evidence
lives in tests/test_topics.py (two-vocabulary corpus separates with
purity 1.0; weights sum to 1; same seed -> identical mixtures).

Scale notes: the only collected state is the (k × vocab_size) topic-term
matrix, bounded by construction (vocab_size cap); everything doc-grain
stays a DataFrame. ``doc_topics`` output carries the mixture as
``array<double>`` (vector_to_array) so downstream ops stay JVM-native.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import tokenize_expr
from feature_extraction_spark.ops.preprocess import (
    df_vocab_filter,
    filter_tokens_by_vocab,
)


@dataclass
class TopicModel:
    """Fitted LDA + its vocabulary; holds the small driver-side pieces.

    ``log_perplexity`` is None unless ``train_topics(eval_perplexity=True)``
    asked for it — evaluating it costs a full extra scoring pass over the
    training corpus, which must not be the silent default in a training
    hot path."""

    k: int
    vocabulary: list[str]  # index -> term (bounded by vocab_size)
    lda_model: object  # pyspark.ml.clustering.LDAModel
    cv_model: object  # pyspark.ml.feature.CountVectorizerModel
    log_perplexity: float | None = None


def _doc_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int,
    max_df_frac: float,
) -> DataFrame:
    """Document-grain (id, tokens array) pruned to the df-filtered vocab.
    Documents whose every token was pruned keep an empty array (they must
    still receive a mixture row — gensim emits the prior for them;
    filter_tokens_by_vocab's left-join-back guarantees it)."""
    vocab = df_vocab_filter(
        df, min_df=min_df, max_df_frac=max_df_frac, doc_col=id_col, text_col=text_col
    )
    kept = filter_tokens_by_vocab(
        df, vocab, doc_col=id_col, text_col=text_col, out_col="tokens"
    )
    return kept.select(id_col, "tokens")


def train_topics(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df_frac: float = 0.5,
    vocab_size: int = 50_000,
    max_iter: int = 20,
    seed: int = 7,
    doc_concentration: float | None = None,
    topic_concentration: float | None = None,
    optimizer: str = "online",
    eval_perplexity: bool = False,
) -> TopicModel:
    """Fit LDA on the corpus. Parameters mirror the reference's gensim
    call (archived/train_topic_model.py:120-135: num_topics, passes,
    filter_extremes(no_below, no_above) — gensim's alpha/eta are
    ``doc_concentration``/``topic_concentration`` here; values < 1 favor
    sparse per-doc mixtures, which small corpora need to separate)."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    toks = _doc_tokens(df, id_col, text_col, min_df, max_df_frac)
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=vocab_size, minDF=1.0
    )
    cv_model = cv.fit(toks)
    vec = cv_model.transform(toks)
    lda = LDA(k=k, maxIter=max_iter, seed=seed, optimizer=optimizer)
    if doc_concentration is not None:
        lda = lda.setDocConcentration([doc_concentration] * k)
    if topic_concentration is not None:
        lda = lda.setTopicConcentration(topic_concentration)
    lda_model = lda.fit(vec)
    # "em" yields a DistributedLDAModel (topics on executors); score and
    # transform through its local projection — the k×vocab matrix is
    # bounded by vocab_size, same driver footprint as the online model.
    if hasattr(lda_model, "toLocal"):
        lda_model = lda_model.toLocal()
    return TopicModel(
        k=k,
        vocabulary=list(cv_model.vocabulary),
        lda_model=lda_model,
        cv_model=cv_model,
        log_perplexity=(
            float(lda_model.logPerplexity(vec)) if eval_perplexity else None
        ),
    )


def doc_topics(
    model: TopicModel,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document topic mixture: (id, topic_weights array<double>,
    dominant_topic, dominant_weight). The reference materializes
    ``lda[corpus]`` per doc (train_topic_model.py:150-169); here one
    distributed transform, no driver loop.

    Scoring tokenizes ONLY — the vocabulary is the TRAINED one, enforced
    by the fitted CountVectorizerModel (out-of-vocabulary tokens are
    ignored at counting). Re-deriving the document-frequency filter from
    the scoring corpus (the old behavior) made mixtures depend on what
    else happened to be scored alongside — a 1-doc scoring call pruned
    every token (df=1 fails min_df=2) and returned the uniform prior
    regardless of content."""
    from pyspark.ml.functions import vector_to_array

    toks = df.select(
        id_col,
        F.coalesce(
            F.filter(tokenize_expr(F.col(text_col)), lambda w: w != ""),
            F.array().cast("array<string>"),
        ).alias("tokens"),
    )
    vec = model.cv_model.transform(toks)
    scored = model.lda_model.transform(vec)
    out = scored.select(
        id_col, vector_to_array("topicDistribution").alias("topic_weights")
    )
    # Spark's transform gives an all-zero vector to an empty (fully pruned)
    # document; gensim gives the prior. Substitute the symmetric prior's
    # normalization — uniform 1/k — so every doc carries a proper mixture.
    uniform = F.array(*[F.lit(1.0 / model.k) for _ in range(model.k)])
    zero_sum = F.aggregate("topic_weights", F.lit(0.0), lambda a, x: a + x) == 0.0
    out = out.withColumn(
        "topic_weights", F.when(zero_sum, uniform).otherwise(F.col("topic_weights"))
    )
    # argmax via native array ops; ties break to the LOWEST topic index
    # (array_position returns the first match).
    mx = F.array_max("topic_weights")
    return out.select(
        id_col,
        "topic_weights",
        (F.array_position("topic_weights", mx) - 1).cast("int").alias(
            "dominant_topic"
        ),
        mx.alias("dominant_weight"),
    )
