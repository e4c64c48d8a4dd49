"""Deduplication operators for web-scale corpora.

- exact_dedup: hash-groupBy on normalized text (one shuffle, keeps the
  smallest id per group — deterministic winner).
- ngram_jaccard_pairs: EXACT near-dup pairs via an inverted shingle index
  (explode -> self-join on shingle -> count common -> Jaccard threshold).
  The join key is the shingle, so only docs sharing a shingle ever meet —
  no O(n²) cross join. Hot shingles are capped (df-style stop-shingle
  filter) to bound skew at scale.
- minhash_lsh_candidates / minhash_lsh_dedup: MinHash signatures (k
  independent xxhash64 salts, 128 by default) banded into b bands (32);
  docs colliding in any band become candidates, then exact Jaccard
  verification. Scale path: band buckets shuffle-join instead of
  all-pairs.
- simhash_pairs: 64-bit SimHash over token hashes; near-dups = pairs with
  Hamming distance <= d, found by banding the 64 bits into chunks (pigeonhole:
  any pair within distance d shares at least one of d+1 chunks exactly).

All deterministic (seeded hash salts), all DataFrame-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import ngrams_expr
from feature_extraction_spark.ops.textquality import normalized_text_expr
from feature_extraction_spark.sources.io import ensure_parallelism


def _shingles(text_col: str, n: int):
    """Word n-gram shingles of the normalized text (distinct)."""
    words = F.split(normalized_text_expr(F.col(text_col)), " ", -1)
    grams = F.when(F.size(words) >= n, ngrams_expr(words, n)).otherwise(
        F.array(F.concat_ws(" ", words))  # short doc -> whole text
    )
    return F.array_distinct(grams)


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row per distinct normalized text: the minimum id wins.

    NULL text normalizes to '' (one empty-doc group) — md5(NULL) is NULL,
    and a NULL join key matches nothing, so without the coalesce every
    NULL-text row silently vanished from the keep-list (the NULL-entity
    defect class; caught by the corpus-pipeline composition test)."""
    norm = F.coalesce(normalized_text_expr(F.col(text_col)), F.lit(""))
    with_h = df.withColumn("_fp", F.md5(norm))
    keep = with_h.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        with_h.join(keep, on=["_fp", id_col], how="left_semi").drop("_fp")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact near-duplicate pairs (id_a < id_b, jaccard >= threshold) via an
    inverted shingle index. ``max_shingle_df`` drops shingles appearing in
    more than that many docs (stop-shingles: they explode the candidate set
    and cannot be decisive for high thresholds at scale).

    The index/join key is ``xxhash64(shingle)`` (8 bytes), not the shingle
    string: the shuffled bytes shrink ~6x and key comparison is a long
    compare. Exact up to 64-bit hash collisions (~n^2/2^65 — negligible at
    any corpus size this runs on)."""
    base = ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    sh = base.select(
        "id", F.explode(_shingles(text_col, n)).alias("sh")
    ).select("id", F.xxhash64("sh").alias("sh"))
    # Explicit repartition by the join key: both sides of the self-join then
    # need the *same* exchange, so the shuffle stage is computed once and
    # reused instead of shingling the corpus once per side (2 of the 4
    # shingle passes collapse; measured ~40% faster at sf0.1).
    sh = sh.repartition("sh")

    if max_shingle_df is not None:
        hot = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_")).filter(
            F.col("df_") > max_shingle_df
        )
        sh = sh.join(hot.select("sh"), on="sh", how="left_anti")

    # sizes AFTER the stop-shingle filter: the metric is then Jaccard over
    # RETAINED shingles on both the numerator and denominator. Pre-filter
    # sizes with post-filter commons would systematically underestimate —
    # two identical docs sharing several hot shingles would score
    # |unique|/(|unique|+2*|hot|) instead of 1.0 and silently vanish from
    # the pair set exactly on the boilerplate-heavy corpora the cap targets.
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    pairs = (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) minhash signatures.

    Shingles are exploded ONCE and the k minima run as one hash aggregation
    (map-side combinable). The naive form — k array-transforms over the
    shingle expression — recomputes normalization+shingling per hash and is
    ~20x slower; Catalyst's projection collapse cannot CSE it away.

    The shingle STRING is hashed once (`xxhash64(sh, seed)`); the k family
    members re-hash that 8-byte value (`xxhash64(h, i)`), so per-shingle
    cost is one string hash + k long hashes instead of k string hashes.

    One-permutation hashing (Li, Owen & Zhang, NIPS 2012: one hash per
    shingle, min per bin, then densification) hashes each shingle once,
    but its per-bin aggregation, densification window and pivot cost more
    than the k long hashes on both document-length distributions here.
    LSH dedup (threshold 0.8, 128/32, local[4] on a 4-vCPU host, warm
    runs, identical pairs) took, k-hash against one-permutation:
    - sf0.1 documents (5,000 docs, 54 words mean, 100 max, none over
      128 shingles): 3.7-5.1 s against 6.7-7.2 s;
    - ``synth.synth_documents`` at the dedup scaling job's 100,000 docs
      (113 words mean, 1,005 max, 21% over 128 shingles): 28.0-31.1 s
      against 39.5-53.5 s.
    Corpora of much longer documents were not measured."""
    base = ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    tok = base.select(
        "id", F.explode(_shingles(text_col, shingle_n)).alias("sh")
    ).select("id", F.xxhash64("sh", F.lit(seed)).alias("h"))
    return tok.groupBy("id").agg(
        *[
            F.min(F.xxhash64("h", F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_band_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bucket) — the LSH band index of a corpus, i.e. the
    persistable DEDUP STATE: bands*|corpus| rows of three longs. A pure
    function of (text, num_hashes, bands, shingle_n, seed), so a
    state written yesterday composes with bands computed today.

    At scale, write it bucketed by (band, bucket)
    (sources/io.write_bucketed): every future increment probes it with an
    equi-join that needs NO exchange on the state side — the 100 TB corpus
    is never re-shingled, never re-hashed, never re-shuffled; only the
    day's increment is. See ``minhash_lsh_dedup_incremental``."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, seed)
    # variadic xxhash64 over the band's signature columns directly — no
    # intermediate string build (concat_ws was ~30% of the banding stage)
    band_buckets = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)], F.lit(seed))
        for b in range(bands)
    ]
    return sig.select(
        "id",
        F.posexplode(F.array(*band_buckets)).alias("band", "bucket"),
    )


def _band_pairs(banded: DataFrame) -> DataFrame:
    """(id_a < id_b) pairs of a band table colliding in some band, one row
    per collision. Pass ``banded`` repartitioned by (band, bucket): both
    sides of the self-join then reuse that one shuffle stage instead of
    recomputing signatures per side."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs: docs whose signatures collide in >=1 band.
    rows_per_band = num_hashes / bands; collision prob ~ s^(rows) per band.
    At the 128/32 default a 0.8-similar pair is missed with probability
    (1 - 0.8^4)^32 ~ 4e-8."""
    banded = minhash_band_state(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed
    )
    return _band_pairs(banded.repartition("band", "bucket")).distinct()


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard over shingles; returns
    confirmed pairs (id_a, id_b, jaccard).

    Verification shingles ONLY the documents that appear in a candidate
    pair (left-semi prune): the corpus-wide shingle pass happens once, in
    the signature stage — at scale the candidate set is orders of magnitude
    smaller than the corpus, and AQE turns the semi-join into a broadcast
    when the id list is small. The candidate set is materialized once —
    it feeds both the id prune and the final join, and its lineage
    contains the whole signature pipeline. Default materialization is
    ``localCheckpoint`` (fast; executor-pinned, non-recomputable on
    executor loss); pass ``checkpoint_dir`` to commit the candidate set to
    a snapshot table on reliable storage instead — on a long cluster run
    an executor death then costs a re-scan of committed parquet, not a
    replay of the whole signature pipeline (sources/snapshots.py)."""
    from ..sources.snapshots import materialize

    n = lsh_kwargs.get("shingle_n", 3)
    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs)
    cands = materialize(cands, checkpoint_dir, name="minhash_candidates")
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return _verify_jaccard_pairs(cands, docs, n, threshold)


def _verify_jaccard_pairs(
    cands: DataFrame, docs: DataFrame, shingle_n: int, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (id_a, id_b) against a
    (id, text) frame covering every candidate id. Shingles ONLY candidate
    documents (left-semi prune); AQE broadcasts the id list when small."""
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = (
        ensure_parallelism(docs)
        .join(cand_ids, on="id", how="left_semi")
        .select("id", _shingles("text", shingle_n).alias("shset"))
    )
    out = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "shset": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shset": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_lsh_dedup_incremental(
    state: DataFrame,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a corpus INCREMENT against an existing LSH band state — the
    operating mode that matters at 100 TB: a growing corpus is never
    re-deduplicated from scratch; each ingest batch probes the persisted
    band index and only the batch is shingled, hashed, and banded.

    ``state`` is a prior ``minhash_band_state`` output (same config —
    signatures are pure functions of it, so states compose across runs).
    Nothing in the frame records that config: a state built under the
    earlier 64-hash/16-band defaults must be probed with those arguments,
    and one built from one-permutation signatures must be rebuilt.
    Returns ``(pairs, new_state)``:

    - ``pairs``: exact-Jaccard-verified near-dup pairs touching at least
      one NEW doc — new-new collisions (self-join of the increment's
      bands) plus new-old collisions (equi-join of the increment's bands
      against the state). By band-collision symmetry,
      ``full_corpus_pairs == old_corpus_pairs ∪ incremental_pairs`` —
      asserted in tests/test_dedup_incremental.py.
    - ``new_state``: ``state ∪ increment bands`` — commit it (snapshot
      table / bucketed write) and it is next batch's ``state``.

    Scale notes: the state is |corpus| x bands rows of three longs; stored
    bucketed by (band, bucket) the probe join needs no exchange on the
    state side, so per-batch cost is O(|increment|) work plus one
    broadcast-or-shuffle of the increment's bands — independent of corpus
    size. ``old_docs`` is touched only by the verification stage, which
    left-semi prunes it to the candidate ids before shingling (reads a
    vanishing fraction of the corpus; with the id list small, AQE turns
    it into a broadcast probe of the text store).
    """
    from ..sources.snapshots import materialize

    new_banded = minhash_band_state(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n, seed
    )
    new_banded = new_banded.repartition("band", "bucket")
    nn = _band_pairs(new_banded)
    old_hit = state.withColumnsRenamed({"id": "id_old"})
    no = (
        new_banded.join(old_hit, on=["band", "bucket"])
        .filter(F.col("id_old") != F.col("id"))
        .select(
            F.least("id", "id_old").alias("id_a"),
            F.greatest("id", "id_old").alias("id_b"),
        )
    )
    cands = nn.unionByName(no).distinct()
    cands = materialize(cands, checkpoint_dir, name="minhash_incr_candidates")
    docs = old_docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).unionByName(
        new_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    pairs = _verify_jaccard_pairs(cands, docs, shingle_n, threshold)
    new_state = state.unionByName(new_banded)
    return pairs, new_state


def with_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash of the normalized word set per document: for each bit,
    sum +/-1 votes over token hashes; bit set iff the sum is positive.

    Implemented as explode -> one hash aggregation with 64 unrolled
    sum(+/-1) columns (map-side combinable, one shuffle keyed by doc id) —
    no nested array folds, scales to arbitrarily long documents."""
    words = F.array_distinct(
        F.filter(
            F.split(normalized_text_expr(F.col(text_col)), " ", -1),
            lambda w: F.length(w) > 0,
        )
    )
    base = ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    tok = base.select("id", F.explode(words).alias("w"))
    h = F.xxhash64(F.col("w"), F.lit(seed))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sigs = votes.select(F.col("id").alias(id_col), sim.alias(out_col))
    # with_* contract: the input columns are preserved and the signature is
    # appended; docs with no words get simhash 0
    return df.join(sigs, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("long"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using
    (max_hamming+1)-chunk banding (pigeonhole) to avoid all-pairs."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sim = with_simhash(df, id_col, text_col, seed).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sim")
    )
    banded = sim.select(
        "id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), c * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "val"),
    )
    # same-keyed explicit exchange -> self-join reuses one shuffle stage
    banded = banded.repartition("chunk", "val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["chunk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 15,
    threshold: float = 0.8,
    shingle_n: int = 3,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Candidate-generation + verification near-dup pipeline with SimHash as
    the candidate stage: pairs within ``max_hamming`` bits (pigeonhole chunk
    banding, no all-pairs) are verified with EXACT shingle Jaccard and kept
    at ``jaccard >= threshold``.

    Because the emitted metric is the exact Jaccard, the output is
    value-verifiable against a plain-SQL oracle (equal to the exact pair set
    whenever the SimHash stage has full recall at the threshold — it does on
    the driver testdata with the default ``max_hamming=15``, asserted in
    tests). At scale the candidate stage is the point: the Jaccard join runs
    only on hamming-close pairs instead of every shingle-sharing pair.

    SCALE WARNING on ``max_hamming``: chunk width is 64/(d+1) bits, so the
    bucket key space is 2^(64/(d+1)). d=15 -> 4-bit chunks -> 16 buckets per
    chunk: candidate generation degenerates toward all-pairs (fine at the
    driver's test scale, wrong at corpus scale). Production SimHash dedup
    uses d<=6 (>=9-bit chunks, 512+ buckets) — the Manku et al. WWW'07
    regime; for looser similarity use MinHash-LSH, whose bucket space does
    not shrink with the distance bound."""
    cands = simhash_pairs(df, id_col, text_col, max_hamming, seed).select(
        "id_a", "id_b"
    )
    # materialize once: feeds both the id prune and the final join
    # (checkpoint_dir routes to a reliable-storage snapshot table, see
    # minhash_lsh_dedup)
    from ..sources.snapshots import materialize

    cands = materialize(cands, checkpoint_dir, name="simhash_candidates")
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return _verify_jaccard_pairs(cands, docs, shingle_n, threshold)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Test-set decontamination: drop every training document sharing at
    least one word n-gram (default 8-gram, the common eval-decontamination
    setting) with the benchmark corpus.

    Scale shape: the benchmark's distinct shingle hashes are tiny next to
    the corpus -> broadcast; the corpus-side check is then a broadcast
    LEFT SEMI probe per shingle with NO shuffle of the corpus, and the
    final anti-join keys on the 8-byte doc id. Exact up to xxhash64
    collisions (~|shingles|^2 / 2^65)."""
    doc_sh = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(_shingles(text_col, n)).alias("sh"))
        .select("id", F.xxhash64("sh").alias("sh"))
    )
    bench_sh = (
        benchmark.select(F.explode(_shingles(bench_text_col, n)).alias("sh"))
        .select(F.xxhash64("sh").alias("sh"))
        .distinct()
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench_sh), on="sh", how="left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(contaminated, on=id_col, how="left_anti")


def contamination_score(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Graded decontamination: per-document FRACTION of distinct word
    n-grams shared with the benchmark corpus — the contamination metric
    the GPT-3/Llama eval cards report and threshold on (a doc is "dirty"
    above some overlap fraction), where ``decontaminate`` is the boolean
    n >= 1 special case. Returns one row per input doc:
    ``(id_col, n_grams, n_matched, contamination)`` with contamination =
    n_matched / n_grams as double (n_grams >= 1 always: a doc shorter
    than n words contributes its whole text as one gram — same
    convention as every shingle op here).

    Scale shape: the benchmark's distinct shingle hashes broadcast (tiny
    next to the corpus); the corpus side is a map-only broadcast LEFT
    OUTER probe per shingle (no row multiplication — the bench side is
    distinct) followed by ONE map-combinable hash aggregation keyed on
    the 8-byte doc id. The corpus never shuffles its text. Exact up to
    xxhash64 collisions (~|shingles|^2 / 2^65).

    Invariant vs the boolean op (property-tested):
    ``decontaminate(df, bench)`` keeps exactly the contamination == 0
    docs."""
    doc_sh = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(_shingles(text_col, n)).alias("sh"))
        .select("id", F.xxhash64("sh").alias("sh"))
    )
    bench_sh = (
        benchmark.select(F.explode(_shingles(bench_text_col, n)).alias("sh"))
        .select(F.xxhash64("sh").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), on="sh", how="left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_matched",
            (F.col("n_matched") / F.col("n_grams")).alias("contamination"),
        )
    )


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    bits_per_key: int = 16,
    num_hashes: int | None = None,
) -> DataFrame:
    """``decontaminate`` with a broadcast BLOOM-FILTER pre-filter instead
    of a broadcast hash relation — identical output (false positives are
    removed by an exact verification pass), built for benchmark suites too
    large to broadcast as a join relation.

    Scale shape: ``decontaminate`` broadcasts the benchmark's distinct
    shingle hashes as a join relation (16+ bytes/key plus hash-map
    overhead — a 10^9-gram suite is tens of GB, past any broadcast
    budget). Here the benchmark folds into an m-bit Bloom bitset
    (``bits_per_key`` bits/key, default 16 -> ~0.05% FP rate at k=11
    probes), shipped once per executor as a single array<long> row on a
    one-row broadcast join: ~13x smaller than the hash relation, and the
    corpus-side probe is pure whole-stage-codegen bit algebra
    (element_at + shiftleft + AND) — map-only, no join hash table, no
    shuffle of the corpus. Only flagged doc ids (true positives + the FP
    tail) leave the scan stage. Verification re-shingles ONLY the flagged
    docs and exact-joins them against the benchmark shingles WITHOUT a
    broadcast hint — that side being small again, AQE picks the strategy,
    and the too-big-to-broadcast premise never re-enters.

    The bitset is one in-plan array value: practical ceiling ~10^9 keys at
    8-16 bits/key (1-2 GB array, inside Spark's 2^31-element bound); past
    that, shard the benchmark and compose filters. The driver builds the
    dense array from the non-zero words (collect is bounded by
    min(m_bits/64, k x n_keys) longs).

    Exactness: output equals ``decontaminate`` exactly — Bloom only
    over-flags, and verification applies the same xxhash64 shingle
    equality. Property-tested against ``decontaminate`` in
    tests/test_dedup_similarity.py.
    """
    import math

    if bits_per_key < 1:
        raise ValueError("bits_per_key must be >= 1")
    k = num_hashes or max(1, round(bits_per_key * math.log(2)))

    bench_sh = (
        benchmark.select(F.explode(_shingles(bench_text_col, n)).alias("sh"))
        .select(F.xxhash64("sh").alias("h"))
        .distinct()
    )
    # one action over the SMALL side to size the filter (power of two so
    # `pmod` keys spread evenly under xxhash64)
    n_keys = bench_sh.count()
    m_bits = 1 << max(10, math.ceil(math.log2(bits_per_key * max(1, n_keys))))
    n_words = m_bits // 64

    def _with_positions(frame):
        # k positions via seeded rehash of the 8-byte shingle hash; named
        # columns so the shift amount can be a SQL column expression
        # (F.shiftleft only accepts a literal shift)
        for i in range(k):
            frame = frame.withColumn(
                f"_p{i}", F.pmod(F.xxhash64("h", F.lit(i)), F.lit(m_bits))
            )
        return frame

    words_rows = (
        _with_positions(bench_sh)
        .select(
            F.explode(F.array(*[F.col(f"_p{i}") for i in range(k)])).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    dense = [0] * n_words
    for r in words_rows:
        dense[int(r["w"])] = int(r["bits"])
    bits_df = df.sparkSession.createDataFrame(
        [(dense,)], "_bloom_bits array<long>"
    )

    doc_sh = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(_shingles(text_col, n)).alias("sh"))
        .select("id", F.xxhash64("sh").alias("h"))
    )
    probe = _with_positions(doc_sh.crossJoin(F.broadcast(bits_df)))
    hit = F.lit(True)
    for i in range(k):
        word = F.element_at(
            F.col("_bloom_bits"), F.expr(f"CAST(_p{i} div 64 AS INT) + 1")
        )
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))")
        hit = hit & (word.bitwiseAND(mask) != 0)
    flagged = probe.filter(hit).select("id").distinct()

    # exact verification of flagged docs only; NO broadcast hint — the
    # flagged side is small, AQE chooses the join strategy
    contaminated = (
        doc_sh.join(flagged, on="id", how="left_semi")
        .join(bench_sh, on="h", how="left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(contaminated, on=id_col, how="left_anti")
