"""Connected-components near-dup clustering (ops/cluster.py): hand-built
graphs, the worst-case chain (logarithmic round count), a seeded random-graph
sweep verified against networkx, and the end-to-end pairs->keep-list dedup."""

import networkx as nx
import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.ops.cluster import (
    connected_components,
    neardup_clusters,
)


def _cc_map(spark, edges, **kw):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(pairs, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def _nx_map(edges):
    g = nx.Graph()
    g.add_edges_from(edges)
    return {n: min(c) for c in nx.connected_components(g) for n in c}


def test_cc_two_components_and_isolated_edge(spark):
    edges = [(1, 2), (2, 3), (10, 11), (3, 1)]
    assert _cc_map(spark, edges) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_cc_self_and_duplicate_edges_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2)]
    assert _cc_map(spark, edges) == {1: 1, 2: 1}


def test_cc_string_ids(spark):
    pairs = spark.createDataFrame(
        [("conv_b", "conv_a"), ("conv_b", "conv_c"), ("zz", "yy")],
        "id_a string, id_b string",
    )
    out = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert out == {
        "conv_a": "conv_a", "conv_b": "conv_a", "conv_c": "conv_a",
        "yy": "yy", "zz": "yy",
    }


def test_cc_chain_converges_logarithmically(spark):
    """A 256-node path is the adversarial diameter case: naive hash-to-min
    label propagation needs ~256 rounds; the star alternation must finish
    within a small multiple of log2(n). (driver_threshold=0 forces the
    distributed path.)"""
    n = 256
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _cc_map(spark, edges, max_rounds=12, driver_threshold=0)
    assert got == {i: 0 for i in range(n)}


@pytest.mark.parametrize("seed,n,m", [(0, 60, 40), (1, 80, 80), (2, 120, 60)])
def test_cc_matches_networkx_both_paths(spark, seed, n, m):
    """Random graphs: the driver union-find fast path and the distributed
    star alternation must both equal networkx exactly."""
    import random

    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    exp = _nx_map(edges)
    assert _cc_map(spark, edges) == exp  # driver path (small graph)
    assert _cc_map(spark, edges, driver_threshold=0) == exp  # distributed


def test_cc_scale_stress_giant_component(spark):
    """Skew/scale smoke: a 50k-node star (one giant component — the hot
    groupBy key a crawl-dup cluster produces) plus 5k random chain/pair
    components resolves correctly in few rounds; map-side combine keeps the
    hot root from concentrating |edges| rows on one task."""
    import random

    n_star, n_small = 50_000, 5_000
    star = [(0, i) for i in range(1, n_star)]
    rng = random.Random(3)
    small = [
        (n_star + i, n_star + i + 1)
        for i in range(0, n_small, 2)
    ]
    extra = [
        (n_star + rng.randrange(n_small), n_star + rng.randrange(n_small))
        for _ in range(n_small)
    ]
    pairs = spark.createDataFrame(
        star + small + extra, "id_a long, id_b long"
    ).repartition(8)
    out = connected_components(pairs, max_rounds=15, driver_threshold=0)
    star_members = out.filter(F.col("id") < n_star)
    assert star_members.count() == n_star
    assert star_members.filter(F.col("component") != 0).count() == 0
    # the small-graph components never leak into the giant one
    assert out.filter((F.col("id") >= n_star) & (F.col("component") == 0)).count() == 0


def test_neardup_clusters_total_mapping(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(3, 1), (1, 5), (6, 7)], "id_a long, id_b long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 6, 7: 6}


def test_embedding_neardup_to_clusters(spark):
    """The clustering stage composes with the embedding near-dup pair
    generator unchanged: cosine pairs in, canonical keep-list out."""
    import numpy as np

    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=(4, 16))
    rows = []
    for i in range(20):
        v = base[i % 4] + rng.normal(scale=0.01, size=16)  # 4 tight clusters
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = cosine_neardup_pairs(emb, threshold=0.99, method="exact")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in neardup_clusters(
            emb, pairs, id_col="vec_id", src="id_a", dst="id_b"
        ).collect()
    }
    # one cluster per base vector, labelled by its canonical (min) member
    assert got == {i: i % 4 for i in range(20)}


def test_dedup_pipeline_pairs_to_keep_list(spark):
    """End-to-end: synthetic near-dup corpus -> Jaccard pairs -> clusters ->
    keep-list. Groups of near-identical docs collapse to their min id."""
    from feature_extraction_spark.ops.dedup import ngram_jaccard_pairs

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the night ends",
        "sphinx of black quartz judge my vow said the old teacher slowly",
    ]
    rows = []
    for i in range(12):
        g = i % 3
        # per-group variants share all but one word -> Jaccard >= 0.6
        words = base[g].split()
        if i >= 3:
            words = words[:-1] + [f"tail{i}"]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=None)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert got == {i: i % 3 for i in range(12)}
    assert sorted(set(got.values())) == [0, 1, 2]  # the keep-list


def test_cc_distributed_path_under_ansi(spark):
    """Regression (round-2 review): the fixpoint checksum must not overflow
    under Spark's default ANSI mode (bit_xor, not sum, of xxhash64)."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        edges = [(i, i + 1) for i in range(500)] + [(1000 + i, 1500 + i) for i in range(200)]
        got = _cc_map(spark, edges, driver_threshold=0)
        assert got[500] == 0 and got[1500] == 1000
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir routes the per-round materialization through
    snapshot-committed tables: labels identical to the localCheckpoint
    path, edges/rounds durable on disk (survive any executor state), and
    round retention bounds storage."""
    import random

    from feature_extraction_spark.sources.snapshots import (
        _committed_versions,
        read_snapshot,
    )

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    ckpt = str(tmp_path / "cc_ckpt")
    got = connected_components(
        pairs, driver_threshold=0, checkpoint_dir=ckpt
    )
    base = connected_components(pairs, driver_threshold=0)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, base.collect()))

    # the cleaned edge set is a committed, durable snapshot — readable
    # directly from disk, independent of any executor-memory blocks
    e = read_snapshot(spark, f"{ckpt}/cc_edges")
    assert e.count() > 0
    # retention: superseded rounds expired, at most 2 versions kept
    assert len(_committed_versions(spark, f"{ckpt}/cc_rounds")) <= 2


def test_minhash_dedup_checkpoint_dir_matches_default(spark, tmp_path):
    from feature_extraction_spark.ops.dedup import minhash_lsh_dedup
    from feature_extraction_spark.sources.snapshots import read_snapshot

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again "
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, base + f"variant {i % 2}"))
        else:
            rows.append((i, f"totally different document number {i} " * 3))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ckpt = str(tmp_path / "mh_ckpt")
    with_ckpt = minhash_lsh_dedup(docs, threshold=0.7, checkpoint_dir=ckpt)
    default = minhash_lsh_dedup(docs, threshold=0.7)
    assert (
        sorted(map(tuple, with_ckpt.select("id_a", "id_b").collect()))
        == sorted(map(tuple, default.select("id_a", "id_b").collect()))
    )
    # candidate set committed to reliable storage, plan reads the snapshot
    cands = read_snapshot(spark, f"{ckpt}/minhash_candidates")
    assert cands.count() >= with_ckpt.count()
    # (plan toString truncates long paths; inputFiles is exact)
    assert any("minhash_candidates" in f for f in with_ckpt.inputFiles())
