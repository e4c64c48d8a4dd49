"""chunk_documents + hash_split (ops/chunk.py): python-oracle chunk parity
across edge cases, reconstruction property, split integrity/fractions."""

import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.ops.chunk import chunk_documents, hash_split


def _chunk_py(text, max_tokens, overlap):
    ws = [w for w in text.split() if w]
    if not ws:
        return []
    stride = max_tokens - overlap
    out = []
    s = 0
    while s < len(ws):
        # a chunk starting at s (0-based) adds tokens beyond the previous
        # chunk's coverage iff s + overlap < len(ws)
        if s != 0 and s + overlap >= len(ws):
            break
        out.append(ws[s : s + max_tokens])
        s += stride
    return out


@pytest.mark.parametrize(
    "max_tokens,overlap",
    [(8, 0), (8, 2), (8, 6), (5, 4), (128, 0)],
)
def test_chunk_matches_python_oracle(spark, max_tokens, overlap):
    texts = [
        "",
        "   ",
        "one",
        " ".join(f"t{i}" for i in range(7)),
        " ".join(f"t{i}" for i in range(8)),
        " ".join(f"t{i}" for i in range(9)),
        " ".join(f"t{i}" for i in range(40)),
        "a  b\tc   d",  # multi-whitespace
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = (
        chunk_documents(df, max_tokens=max_tokens, overlap=overlap)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    exp = []
    for i, t in enumerate(texts):
        for ci, chunk in enumerate(_chunk_py(t, max_tokens, overlap)):
            exp.append((i, ci, " ".join(chunk), len(chunk)))
    assert [(r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in got] == exp


def test_chunk_reconstruction_covers_every_token(spark, transcripts):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0) and
    concatenating reconstructs the original token stream exactly."""
    overlap, mx = 3, 10
    docs = transcripts.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        "text",
    ).filter(F.length("text") > 0)
    chunks = chunk_documents(docs, max_tokens=mx, overlap=overlap)
    rebuilt = (
        chunks.withColumn(
            "_part",
            F.when(F.col("chunk_idx") == 0, F.col("chunk_text")).otherwise(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.split("chunk_text", " ", -1),
                        overlap + 1,
                        mx,
                    ),
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_idx", "_part")))
                .getField("_part")
            ).alias("rebuilt")
        )
    )
    orig = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(F.split("text", r"\s+", -1), lambda w: F.length(w) > 0)
        ).alias("norm"),
    )
    bad = rebuilt.join(orig, "doc_id").filter(F.col("rebuilt") != F.col("norm"))
    assert bad.count() == 0


def test_hash_split_group_integrity_and_fractions(spark, transcripts):
    out = hash_split(transcripts, "conv_id")
    # every conversation maps to exactly one split
    per_conv = out.groupBy("conv_id").agg(
        F.countDistinct("split").alias("n")
    )
    assert per_conv.filter(F.col("n") != 1).count() == 0

    # fractions over many keys approach the targets
    many = spark.range(0, 20_000).select(F.col("id").cast("string").alias("k"))
    got = (
        hash_split(many, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .count()
        .collect()
    )
    fr = {r["split"]: r["count"] / 20_000 for r in got}
    assert abs(fr["train"] - 0.8) < 0.02
    assert abs(fr["val"] - 0.1) < 0.01
    assert abs(fr["test"] - 0.1) < 0.01


def test_hash_split_deterministic_and_salt_sensitive(spark):
    keys = spark.range(0, 2000).select(F.col("id").cast("string").alias("k"))
    a = {r["k"]: r["split"] for r in hash_split(keys, "k").collect()}
    b = {r["k"]: r["split"] for r in hash_split(keys, "k").collect()}
    assert a == b
    c = {r["k"]: r["split"] for r in hash_split(keys, "k", salt="v2").collect()}
    assert any(a[k] != c[k] for k in a)


def test_hash_sample_nested_and_proportional(spark):
    """The keys ``hash_split`` labels "a" at a 0.2 fraction are a subset of
    those it labels "a" at 0.5 (same salt): a fraction draw is nested."""
    keys = spark.range(0, 10_000).select(F.col("id").cast("string").alias("k"))

    def draw(frac):
        split = hash_split(keys, "k", {"a": frac, "b": 1.0 - frac})
        return {r["k"] for r in split.filter(F.col("split") == "a").collect()}

    s20, s50 = draw(0.2), draw(0.5)
    assert s20.issubset(s50)  # nested thresholds
    assert abs(len(s20) / 10_000 - 0.2) < 0.02
    assert abs(len(s50) / 10_000 - 0.5) < 0.02
    assert draw(0.0) == set()
    assert len(draw(1.0)) == 10_000


def test_mixture_sample_rates_and_drops(spark):
    from feature_extraction_spark.ops.chunk import mixture_sample

    n = 12_000
    df = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("books"), F.lit("code")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("source"),
    )
    out = mixture_sample(
        df, "source", {"web": 0.1, "books": 1.0}, key_cols="doc_id"
    )
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "code" not in got  # unlisted group dropped
    assert got["books"] == n // 3  # rate 1.0 keeps everything
    assert abs(got["web"] / (n // 3) - 0.1) < 0.02
    # deterministic
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df, "source", {"web": 0.1, "books": 1.0}, key_cols="doc_id"
        ).collect()
    )
    assert a == b


def test_hash_split_validates_fractions(spark):
    df = spark.range(1).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError):
        hash_split(df, "k", {"train": 0.5, "val": 0.1})


def test_truecase_skips_sentence_initial_observations(spark):
    """Regression (round-2 review): tokens after sentence-ending
    punctuation are force-capitalized and must not flip a word's learned
    majority casing (the docstring's promise, previously turn-initial
    only)."""
    from feature_extraction_spark.ops.truecase import (
        apply_truecase,
        learn_case_model,
    )

    rows = [
        (i, "He left. The end came. The dog barked and the cat slept.")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = {r["lword"]: r["form"] for r in learn_case_model(docs).collect()}
    # 'The' appears only turn-/sentence-initially; mid-sentence 'the' twice
    # per doc -> majority must be lowercase
    assert model["the"] == "the"
    out = apply_truecase(
        docs.limit(1), learn_case_model(docs)
    ).collect()[0]["text_truecased"]
    assert "The end" not in out or "the end" in out


def test_deterministic_shuffle_reproducible_and_seed_sensitive(spark):
    import hashlib

    from feature_extraction_spark.ops.chunk import deterministic_shuffle

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_shuffle(df, "doc_id", seed="s1").collect()}
    b = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_shuffle(df, "doc_id", seed="s1").collect()}
    c = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_shuffle(df, "doc_id", seed="s2").collect()}
    assert a == b  # same seed -> identical permutation
    assert a != c  # different seed -> different permutation
    assert sorted(a.values()) == list(range(1, 201))  # a true permutation
    # order matches a python md5 replay (cross-engine/oracle contract;
    # concat_ws(0x1f) key hygiene)
    exp = sorted(
        range(200),
        key=lambda i: (hashlib.md5(f"s1\x1f{i}".encode()).hexdigest(), i),
    )
    assert [i for i, _ in sorted(a.items(), key=lambda kv: kv[1])] == exp


def test_deterministic_shuffle_sharded_equals_global_window(spark):
    from feature_extraction_spark.ops.chunk import deterministic_shuffle

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    ref = {
        r["doc_id"]: r["shuffle_rank"]
        for r in deterministic_shuffle(
            df, "doc_id", seed="s1", use_global_window=True
        ).collect()
    }
    # the sharded scale path reproduces the global-window rank exactly,
    # for ANY physical shard count (num_shards is not semantic)
    for n_shards in (1, 7, 256):
        got = {
            r["doc_id"]: r["shuffle_rank"]
            for r in deterministic_shuffle(
                df, "doc_id", seed="s1", num_shards=n_shards
            ).collect()
        }
        assert got == ref, f"num_shards={n_shards}"


def test_deterministic_shuffle_multikey_null_hash_hygiene(spark):
    from feature_extraction_spark.ops.chunk import deterministic_shuffle

    df = spark.createDataFrame(
        [("ab", "c"), ("a", "bc"), ("a", None), (None, "a")],
        "k1 string, k2 string",
    )
    out = deterministic_shuffle(df, ("k1", "k2"), seed="s").collect()
    # all four rows ranked (no NULL hash dropping/reordering surprises),
    # ranks a permutation, and the delimiter keeps ('ab','c') != ('a','bc')
    assert sorted(r["shuffle_rank"] for r in out) == [1, 2, 3, 4]
    import hashlib

    def key(k1, k2):
        parts = [p for p in (k1, k2) if p is not None]
        joined = "\x1f".join(["s", *parts])
        return hashlib.md5(joined.encode()).hexdigest()

    exp_order = sorted(
        [("ab", "c"), ("a", "bc"), ("a", None), (None, "a")],
        key=lambda t: (key(*t), t[0] or "", t[1] or ""),
    )
    got_order = [
        (r["k1"], r["k2"])
        for r in sorted(out, key=lambda r: r["shuffle_rank"])
    ]
    assert got_order == exp_order


def test_deterministic_shuffle_plan_is_sharded(spark):
    from feature_extraction_spark.ops.chunk import deterministic_shuffle

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(df, "doc_id", seed="s1")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # corpus row_number window is partitioned by the shard key...
    assert "windowspecdefinition(_ds_shard" in plan
    # ...and the ONLY single-partition exchange is the dimension-sized
    # shard-offset cumsum (fed by the count aggregate), never the corpus
    assert plan.count("Exchange SinglePartition") == 1
    tail = plan.split("Exchange SinglePartition", 1)[1]
    assert "HashAggregate" in tail.split("Window", 1)[0] or (
        "HashAggregate" in tail
    )
