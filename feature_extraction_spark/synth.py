"""Deterministic synthetic transcripts generator.

Pure function of (seed, row index) — no wall clock, no unseeded RNG — so the
same call is byte-identical across runs and across parallelism levels
(local[8] vs local[32]). Generated distributively via ``spark.range`` +
hash-derived columns; the only shuffle is the per-conversation cumulative-gap
window that produces strictly increasing ``ts``.

Fixture requirements covered (FIXTURES.md §1): Zipf-like long-tail
conversation sizes (skew), single-turn conversations, empty-text turns,
double spaces, non-verbal tokens, apostrophes/punctuation, mixed-case turns,
tool turns, sub-second and super-threshold gaps (sessionization), duplicate
ts with differing turn_idx.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Small vocabulary exercising every text-kernel edge case:
# words >6 chars (lw_count), repeats (MATTR/Honoré), apostrophes and
# punctuation (regex strip), mixed case (truecase path), non-verbal tokens.
_VOCAB = [
    "the", "a", "and", "to", "of", "in", "it", "you", "that", "was",
    "yeah", "okay", "right", "know", "like", "think", "going", "really",
    "something", "anything", "because", "probably", "different",
    "conversation", "understand", "interesting", "remember",
    "don't", "can't", "it's", "I'm", "we're",
    "Hello", "Monday", "Spark", "Tuesday",
    "[noise]", "[laughter]", "<unk>",
    "um", "uh", "well", "so", "but", "just", "very", "good", "time",
    "people", "work,", "done.", "why?",
]

_ROLES = ["user", "assistant", "tool", "system"]
_TOOLS = ["search", "python", "browser", "calculator"]


def _u(seed: int, salt: str, *cols) -> F.Column:
    """Deterministic uniform in [0,1) from hashed inputs."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    zipf_alpha: float = 1.2,
    max_turns: int = 2000,
    mean_words: int = 12,
    session_gap_s: float = 300.0,
    partitions: int | None = None,
) -> DataFrame:
    """Build the canonical transcripts DataFrame
    (conv_id, turn_idx, role, text, tool, ts).

    Conversation sizes follow a truncated Pareto (Zipf-like long tail): a few
    conversations get up to ``max_turns`` turns while the median stays small —
    the skew shape the engine must survive (SURVEY.md §4.3).
    """
    conv = spark.range(0, n_convs, 1, partitions or spark.sparkContext.defaultParallelism)
    u_sz = _u(seed, "size", F.col("id"))
    # Truncated Pareto: n = ceil((1-u)^(-1/alpha)) clamped to [1, max_turns].
    n_turns = F.least(
        F.lit(max_turns),
        F.ceil(F.pow(F.lit(1.0) - u_sz, F.lit(-1.0 / zipf_alpha))).cast("int"),
    )
    conv = conv.select(
        F.format_string("conv_%06d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
        n_turns.alias("n_turns"),
    )

    turns = conv.select(
        "conv_id",
        "conv_n",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    # role: cycles with hash noise over the 4 roles.
    u_role = _u(seed, "role", F.col("conv_id"), F.col("turn_idx"))
    role_idx = F.pmod(
        F.col("turn_idx") + F.when(u_role < 0.15, 1).otherwise(0), F.lit(4)
    )
    roles_arr = F.array(*[F.lit(r) for r in _ROLES])
    role = F.element_at(roles_arr, role_idx.cast("int") + 1)

    # text: 0..(2*mean_words) tokens from the vocabulary; ~2% empty turns.
    u_nw = _u(seed, "nwords", F.col("conv_id"), F.col("turn_idx"))
    n_words = F.when(u_nw < 0.02, F.lit(0)).otherwise(
        (u_nw * (2 * mean_words)).cast("int") + 1
    )
    vocab_arr = F.array(*[F.lit(w) for w in _VOCAB])
    nvocab = len(_VOCAB)
    word_at = lambda j: F.element_at(  # noqa: E731
        vocab_arr,
        (
            F.pmod(
                F.xxhash64(F.lit(seed), F.lit("w"), F.col("conv_id"), F.col("turn_idx"), j),
                F.lit(nvocab),
            )
        ).cast("int")
        + 1,
    )
    words = F.transform(
        F.sequence(F.lit(1), n_words), lambda j: word_at(j)
    )
    # ~1% of tokens become '' -> double spaces after concat_ws (tokenizer edge)
    words = F.transform(
        words,
        lambda w: F.when(
            _u(seed, "gap_tok", F.col("conv_id"), F.col("turn_idx"), w) < 0.01, F.lit("")
        ).otherwise(w),
    )
    text = F.when(n_words == 0, F.lit("")).otherwise(F.concat_ws(" ", words))

    # tool: only for tool-role turns.
    tools_arr = F.array(*[F.lit(t) for t in _TOOLS])
    u_tool = F.pmod(
        F.xxhash64(F.lit(seed), F.lit("tool"), F.col("conv_id"), F.col("turn_idx")),
        F.lit(len(_TOOLS)),
    ).cast("int")
    tool = F.when(role == "tool", F.element_at(tools_arr, u_tool + 1)).otherwise(
        F.lit(None).cast("string")
    )

    # inter-turn gap (ms): 88% sub-5s, 10% medium, 2% above session threshold;
    # 1% exact-zero gaps (duplicate ts, ordering tiebreak test).
    u_gap = _u(seed, "gapms", F.col("conv_id"), F.col("turn_idx"))
    gap_ms = (
        F.when(u_gap < 0.01, F.lit(0.0))
        .when(u_gap < 0.89, 200.0 + u_gap * 5000.0)
        .when(u_gap < 0.98, 5000.0 + u_gap * 60000.0)
        .otherwise(F.lit(session_gap_s * 1000.0 * 2) + u_gap * 1e6)
    )
    gap_ms = F.when(F.col("turn_idx") == 0, F.lit(0.0)).otherwise(gap_ms)

    turns = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        "conv_n",
        gap_ms.alias("gap_ms"),
    )

    # ts = conv epoch + cumulative gaps (strictly increasing up to the
    # deliberate zero-gap duplicates). One window shuffle, partitioned by conv.
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch_s = 1_700_000_000 + (F.col("conv_n") % 10_000) * 7_200
    cum_ms = F.sum("gap_ms").over(w)
    ts = F.timestamp_millis((epoch_s.cast("long") * 1000 + cum_ms.cast("long")))

    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        ts.alias("ts"),
    )


def synth_asr_segments(
    spark: SparkSession,
    n_convs: int = 200,
    seed: int = 42,
    **kwargs,
) -> DataFrame:
    """Transcripts extended with the reference's Microsoft-ASR timing shape
    (FIXTURES.md §2a): per-turn ``offset``/``duration`` in 100-ns units, a
    typed ``word_timing`` array<struct<Word,Duration,Offset>> (the reference
    keeps this as a stringified list parsed by hand,
    extract_timing_features.py:74-100), and a per-turn ``confidence``.

    Word boxes are built with a single ``aggregate`` fold over the turn's
    token array — exact running offsets, no Python, no extra shuffle.
    Includes zero-length gaps (zero-silence filter path,
    extract_timing_features.py:163) and leading/trailing silences.
    """
    t = synth_transcripts(spark, n_convs=n_convs, seed=seed, **kwargs)

    words = F.filter(F.split(F.col("text"), " ", -1), lambda w: F.length(w) > 0)
    # per-turn segment start offset (100 ns) RELATIVE to the conversation's
    # first turn — monotone within every conversation by construction. The
    # previous absolute-ts modulus (unix_micros % 1e10) wrapped for any
    # conversation spanning a 10,000 s boundary, breaking the
    # monotonic-offset invariant the timing ops assume.
    from pyspark.sql import Window as _W

    conv_t0 = F.min(F.unix_micros("ts")).over(_W.partitionBy("conv_id"))
    seg_offset = (F.unix_micros("ts") - conv_t0) * 10

    def h(salt, *extra):
        return F.pmod(
            F.xxhash64(F.lit(seed), F.lit(salt), F.col("conv_id"), F.col("turn_idx"), *extra),
            F.lit(1_000_000),
        )

    # fold: acc = struct(cur: long, arr: array<struct<Word,Duration,Offset>>)
    def step(acc, j):
        dur = (F.lit(1_000_000) + h("wdur", j) * 4).cast("long")  # 0.1-0.5 s
        gap = F.when(
            F.pmod(h("wgap", j), F.lit(3)) == 0, F.lit(0)
        ).otherwise(h("wgap2", j) * 2).cast("long")  # 0 or up to 0.2 s
        start = acc["cur"] + gap
        elem = F.struct(
            F.element_at(F.col("_words"), j.cast("int")).alias("Word"),
            dur.alias("Duration"),
            start.alias("Offset"),
        )
        return F.struct(
            (start + dur).alias("cur"),
            F.concat(acc["arr"], F.array(elem)).alias("arr"),
        )

    lead_sil = F.when(F.pmod(h("lead"), F.lit(4)) == 0, F.lit(0)).otherwise(
        h("lead2") * 2
    ).cast("long")
    trail_sil = F.when(F.pmod(h("trail"), F.lit(4)) == 0, F.lit(0)).otherwise(
        h("trail2") * 2
    ).cast("long")

    t = t.withColumn("_words", words).withColumn("offset", seg_offset.cast("long"))
    init = F.struct(
        (F.col("offset") + lead_sil).cast("long").alias("cur"),
        F.array().cast(
            "array<struct<Word:string,Duration:bigint,Offset:bigint>>"
        ).alias("arr"),
    )
    # sequence(1, 0) would be a DESCENDING sequence — guard empty turns.
    idxs = F.when(F.size("_words") > 0, F.sequence(F.lit(1), F.size("_words"))).otherwise(
        F.array().cast("array<int>")
    )
    folded = F.aggregate(idxs, init, step)
    t = t.withColumn("_folded", folded)
    t = t.withColumn("word_timing", F.col("_folded.arr"))
    # segment duration covers lead silence + words/gaps + trailing silence;
    # empty turns get a small nonzero duration.
    t = t.withColumn(
        "duration",
        F.when(
            F.size("word_timing") > 0,
            (F.col("_folded.cur") - F.col("offset") + trail_sil).cast("long"),
        ).otherwise((F.lit(5_000_000) + h("emptydur") * 10).cast("long")),
    )
    conf = 0.3 + (h("conf").cast("double") / 1_000_000.0) * 0.7
    t = t.withColumn("confidence", conf)
    return t.drop("_words", "_folded")


def synth_durations(segments: DataFrame) -> DataFrame:
    """Conversation-duration dimension (reference durations.csv, FIXTURES.md
    §2c): duration_ms per conv derived from the segment span."""
    return segments.groupBy("conv_id").agg(
        (
            (F.max(F.col("offset") + F.col("duration")) - F.min("offset"))
            / F.lit(10_000)
        ).alias("duration_ms")
    )


_DOC_VOCAB = [
    "spark", "table", "column", "query", "scan", "filter", "join", "group",
    "sort", "hash", "merge", "batch", "stream", "value", "line", "part",
    "order", "small", "big", "fast", "slow", "agg", "key", "vector",
    "customer", "the", "a", "data", "shuffle", "window", "plan", "stage",
]


def synth_documents(
    spark: SparkSession,
    n_docs: int = 50_000,
    seed: int = 7,
    mean_words: int = 50,
    dup_every: int = 40,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic documents table matching the testdata shape
    ``(doc_id, text, lang, source, n_chars)`` — pure function of
    (seed, doc_id), generated distributively (spark.range + hash columns,
    zero shuffles), for bench tiers above the fixed sf0.1 parquet.

    Content model mirrors what makes the corpus ops expensive: 70% of
    draws are Zipf-ish from a small common vocab (repeated n-grams for
    gopher/spans), 30% from a 5000-token hash-derived long-tail — a
    realistic shingle space (a tiny closed vocab makes every trigram a
    stop-shingle and degenerates inverted-index dedup toward all-pairs,
    which no real corpus does). Long-tail doc lengths, 5 langs /
    20 sources, planted near-dups — every ``dup_every``-th doc
    re-renders the PREVIOUS doc's token stream with one word substituted
    (high-Jaccard pair for minhash/LSH/cluster paths); every
    ``2*dup_every``-th is an exact duplicate."""
    v = len(_DOC_VOCAB)
    base = spark.range(n_docs, numPartitions=partitions)
    # near/exact dups re-render a neighbor's stream: content_id points at
    # the duplicated doc, mut flags the one-word substitution
    is_exact = (F.col("id") % (2 * dup_every) == F.lit(2 * dup_every - 1))
    is_near = (F.col("id") % dup_every == F.lit(dup_every - 1)) & ~is_exact
    content_id = (
        F.when(is_exact | is_near, F.col("id") - 1).otherwise(F.col("id"))
    )
    d = base.select(
        F.col("id").alias("doc_id"),
        content_id.alias("cid"),
        is_near.alias("mut"),
    )
    # doc length: long-tail via inverse-uniform, 5..~20*mean words
    u_len = _u(seed, "len", F.col("cid"))
    n_words = (
        F.lit(5)
        + F.floor(F.lit(mean_words * 0.6) / (F.lit(0.03) + u_len * 0.97))
    ).cast("int")
    def _word(i):
        h = F.xxhash64(F.lit(seed), F.lit("w"), F.col("cid"), i)
        u = F.pmod(h, F.lit(10_000)) / 10_000.0
        common = F.element_at(
            F.array(*[F.lit(w) for w in _DOC_VOCAB]),
            # mildly Zipf-ish (exponent 1.3): enough head skew for
            # within-doc repetition signals, but the hottest trigram's
            # document frequency stays sub-linear in corpus size — an
            # uncapped inverted shingle index must not degenerate into
            # one giant bucket (real corpora cap this with stop-shingle
            # df limits; the driver's oracle-matched config runs uncapped)
            (F.pmod(F.floor(F.pow(u / 0.6, F.lit(1.3)) * v), F.lit(v)) + 1)
            .cast("int"),
        )
        rare = F.concat(
            F.lit("tok"),
            F.pmod(F.xxhash64(h, F.lit("r")), F.lit(5_000)).cast("string"),
        )
        return F.when(u < 0.6, common).otherwise(rare)

    words = F.transform(F.sequence(F.lit(0), n_words - 1), _word)
    # near-dup mutation: substitute word 2 (docs have >= 5 words)
    words = F.when(
        F.col("mut"),
        F.concat(
            F.slice(words, 1, 2),
            F.array(F.lit("mutated")),
            F.slice(words, 4, F.greatest(F.size(words) - 3, F.lit(0))),
        ),
    ).otherwise(words)
    text = F.array_join(words, " ")
    return d.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("zh"),
                    F.lit("de"), F.lit("fr"), F.lit("es")),
            (F.pmod(F.xxhash64(F.lit(seed), F.lit("lg"), F.col("doc_id")),
                    F.lit(7)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("src"),
            F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
        ).alias("source"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def synth_embeddings(
    spark: SparkSession,
    n_vecs: int = 20_000,
    dim: int = 64,
    n_labels: int = 16,
    seed: int = 11,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic embeddings table matching the testdata shape
    ``(vec_id, embedding float[], label)`` — pure function of
    (seed, vec_id), generated distributively (spark.range + hash
    expressions, zero shuffles), for bench tiers above the fixed sf0.1
    parquet. Vectors carry real cluster structure (per-label hash-derived
    centers in [-2, 2) per dim + per-vector noise) so IVF/LSH/SemDeDup
    exercise their pruning rather than a degenerate uniform cloud."""
    base = spark.range(n_vecs, numPartitions=partitions)
    label = F.pmod(F.col("id"), F.lit(n_labels)).cast("int")
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    emb = F.transform(
        dims,
        lambda d: (
            (_u(seed, "center", label, d) * 4.0 - 2.0)
            + (_u(seed, "noise", F.col("id"), d) - 0.5)
        ).cast("float"),
    )
    return base.select(
        F.col("id").alias("vec_id"),
        emb.alias("embedding"),
        label.alias("label"),
    )
