"""Dedup / similarity / text-quality ops over the driver testdata
(documents + embeddings at sf0.001), checked against numpy/pandas oracles."""

import numpy as np
import pytest

from feature_extraction_spark.ops.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from feature_extraction_spark.ops.similarity import cosine_topk, knn_join_exact
from feature_extraction_spark.ops.textquality import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def embs(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    return df


def _norm_py(s):
    import re

    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def _shingles_py(s, n=3):
    ws = _norm_py(s).split(" ")
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def test_exact_dedup(docs):
    out = exact_dedup(docs).toPandas()
    pdf = docs.toPandas()
    pdf["fp"] = pdf["text"].map(_norm_py)
    exp = pdf.loc[pdf.groupby("fp")["doc_id"].idxmin()]
    assert sorted(out["doc_id"]) == sorted(exp["doc_id"])


def test_ngram_jaccard_pairs_exact(docs):
    got = ngram_jaccard_pairs(docs, threshold=0.6).toPandas()
    pdf = docs.toPandas()
    sh = {r.doc_id: _shingles_py(r.text) for r in pdf.itertuples()}
    ids = sorted(sh)
    exp = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / len(sh[a] | sh[b])
            if j >= 0.6:
                exp.append((a, b, j))
    got_set = {(r.id_a, r.id_b) for r in got.itertuples()}
    exp_set = {(a, b) for a, b, _ in exp}
    assert got_set == exp_set
    for a, b, j in exp:
        gj = got[(got.id_a == a) & (got.id_b == b)]["jaccard"].iloc[0]
        assert np.allclose(gj, j)


def test_minhash_lsh_recall(docs):
    """LSH at the default 128 hashes / 32 bands must find the pairs with
    true J>=0.8 on this small corpus (recall >= 0.9), and every returned
    pair is verified exact."""
    got = minhash_lsh_dedup(docs, threshold=0.8).toPandas()
    exact = ngram_jaccard_pairs(docs, threshold=0.8).toPandas()
    got_set = {(r.id_a, r.id_b) for r in got.itertuples()}
    exp_set = {(r.id_a, r.id_b) for r in exact.itertuples()}
    # verified-LSH output must be a subset of the exact pairs; recall high
    assert got_set.issubset(exp_set)
    if exp_set:
        assert len(got_set) / len(exp_set) >= 0.9


def test_minhash_signature_shape_and_determinism(docs):
    """Signatures: one mh_* column per hash, no NULLs even for short docs,
    and deterministic across runs."""
    a = minhash_signatures(docs, num_hashes=32).toPandas().set_index("id").sort_index()
    b = minhash_signatures(docs, num_hashes=32).toPandas().set_index("id").sort_index()
    assert list(a.columns) == [f"mh_{i}" for i in range(32)]
    assert len(a) == docs.count()
    assert not a.isna().any().any()
    assert a.equals(b)


def test_minhash_estimator_tracks_jaccard(spark):
    """Signature agreement fraction between two documents approximates
    their true shingle Jaccard (the MinHash estimator)."""
    import itertools

    base = ("w%d " % i for i in itertools.count())
    words = [next(base).strip() for _ in range(120)]
    rows = [
        (0, " ".join(words)),
        (1, " ".join(words[:90] + [w + "x" for w in words[90:]])),  # ~0.7 overlap
        (2, " ".join(w + "y" for w in words)),  # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df).toPandas().set_index("id")

    def agree(i, j):
        return (sig.loc[i].values == sig.loc[j].values).mean()

    assert agree(0, 1) > 0.5  # similar pair: high agreement
    assert agree(0, 2) < 0.2  # disjoint pair: near-zero agreement
    assert agree(0, 1) > agree(0, 2) + 0.4


def test_simhash_pairs_runs(docs):
    out = simhash_pairs(docs, max_hamming=3).toPandas()
    # simhash of identical normalized text is identical -> exact dupes at
    # hamming 0 must all be found
    pdf = docs.toPandas()
    pdf["fp"] = pdf["text"].map(_norm_py)
    dupe_groups = pdf.groupby("fp")["doc_id"].apply(list)
    exp_zero = set()
    for ids in dupe_groups:
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                exp_zero.add((a, b))
    got_set = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert exp_zero.issubset(got_set)


def test_cosine_topk_exact(embs):
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].values).astype(np.float64)
    q = mat[0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].values, -sims))
    exp = pdf["vec_id"].values[order[:10]]
    got = cosine_topk(embs, list(q), k=10).toPandas()
    assert list(got["vec_id"]) == list(exp)
    assert np.allclose(sorted(got["cosine"], reverse=True), sorted(sims[order[:10]], reverse=True))


def test_knn_join_exact(embs):
    queries = embs.limit(3).selectExpr("vec_id as q_id", "embedding")
    got = knn_join_exact(embs, queries, k=4).toPandas()
    assert set(got.groupby("q_id").size()) == {4}
    # self is always rank 1 with cosine ~1
    self_rows = got[got["q_id"] == got["vec_id"]]
    assert (self_rows["rank"] == 1).all()


def test_token_counts_and_quality(docs):
    out = with_quality_score(with_token_counts(docs)).toPandas()
    pdf = docs.toPandas()
    exp_words = pdf["text"].map(lambda s: len([w for w in s.lower().split() if w]))
    assert (out.sort_values("doc_id")["n_words"].values
            == exp_words[pdf.sort_values("doc_id").index].values).all()
    assert out["q_score"].between(0, 1).all()
    assert (out["n_tokens_bpe"] >= out["n_words"]).all()


def test_lang_id_semantics(spark):
    # NB: testdata documents carry a random `lang` label over English-like
    # tokens, so label accuracy is meaningless there (the langid_docs DuckDB
    # oracle already pins the op's values). Check real sentences instead.
    rows = [
        (1, "the cat is on the table and it is happy", "en"),
        (2, "el gato es un animal y la casa es grande", "es"),
        (3, "le chat est dans la maison et il est pour les enfants", "fr"),
        (4, "der hund ist ein tier und das haus ist nicht zu klein", "de"),
        (5, "zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, expected string")
    out = with_lang_id(df).toPandas().set_index("doc_id")
    for doc_id, _, expected in rows:
        assert out.loc[doc_id, "lang_pred"] == expected


def test_fingerprint_stable(docs):
    a = with_fingerprint(docs).select("doc_id", "fingerprint_md5").toPandas()
    b = with_fingerprint(docs).select("doc_id", "fingerprint_md5").toPandas()
    assert a.sort_values("doc_id").equals(b.sort_values("doc_id"))


def test_simhash_neardup_full_recall(docs):
    """The driver config (hamming<=15 candidates + exact Jaccard>=0.8
    verify) must emit EXACTLY the exact-Jaccard pair set — this is what
    makes simhash_pairs_docs value-checkable against the SQL oracle."""
    from feature_extraction_spark.ops.dedup import simhash_neardup_pairs

    got = simhash_neardup_pairs(docs, max_hamming=15, threshold=0.8).toPandas()
    exact = ngram_jaccard_pairs(docs, threshold=0.8, max_shingle_df=None).toPandas()
    got_set = {(r.id_a, r.id_b) for r in got.itertuples()}
    exp_set = {(r.id_a, r.id_b) for r in exact.itertuples()}
    assert got_set == exp_set
    # and the emitted metric is the exact jaccard
    ej = {(r.id_a, r.id_b): r.jaccard for r in exact.itertuples()}
    for r in got.itertuples():
        assert np.isclose(r.jaccard, ej[(r.id_a, r.id_b)])


def test_pii_scrub(spark):
    from feature_extraction_spark.ops.textquality import with_pii_scrub

    rows = [
        (1, "mail me at jo.do+x@corp.example.org today"),
        (2, "server 10.0.255.3 rebooted"),
        (3, "ssn 123-45-6789 and phone +44 020 7946 0958"),
        (4, "call 555-867-5309 soon"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r.text_scrubbed for r in with_pii_scrub(df).collect()
    }
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "server <IP> rebooted"
    assert got[3] == "ssn <SSN> and phone <PHONE>"
    assert got[4] == "call <PHONE> soon"
    assert got[5] == "no pii here at all"


def test_decontaminate(spark, docs):
    """Docs sharing an 8-gram with the benchmark subset are dropped; the
    benchmark docs remove themselves (self-contamination); disjoint docs
    survive."""
    from feature_extraction_spark.ops.dedup import decontaminate
    import pyspark.sql.functions as F

    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = decontaminate(docs, bench.select("text"), n=8)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert bench_ids.isdisjoint(kept)
    # python oracle
    def sh8(s):
        import re
        ws = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip().split(" ")
        if len(ws) < 8:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + 8]) for i in range(len(ws) - 7)}

    pdf = docs.select("doc_id", "text").toPandas()
    bench_sh = set()
    for r in pdf.itertuples():
        if r.doc_id % 37 == 0:
            bench_sh |= sh8(r.text)
    exp = {r.doc_id for r in pdf.itertuples() if not (sh8(r.text) & bench_sh)}
    assert kept == exp


def test_contamination_score_values_and_boolean_consistency(spark, docs):
    """Per-doc 8-gram overlap fractions match a pure-python oracle, and
    decontaminate keeps exactly the contamination == 0 docs."""
    from feature_extraction_spark.ops.dedup import (
        contamination_score,
        decontaminate,
    )
    import pyspark.sql.functions as F

    bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    got = {
        r.doc_id: (r.n_grams, r.n_matched, r.contamination)
        for r in contamination_score(docs, bench, n=8).collect()
    }

    def sh8(s):
        import re
        ws = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip().split(" ")
        if len(ws) < 8:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + 8]) for i in range(len(ws) - 7)}

    pdf = docs.select("doc_id", "text").toPandas()
    bench_sh = set()
    for r in pdf.itertuples():
        if r.doc_id % 37 == 0:
            bench_sh |= sh8(r.text)
    assert set(got) == set(pdf["doc_id"])
    for r in pdf.itertuples():
        grams = sh8(r.text)
        matched = len(grams & bench_sh)
        assert got[r.doc_id] == (len(grams), matched, matched / len(grams))

    kept = {r.doc_id for r in decontaminate(docs, bench, n=8).collect()}
    clean = {i for i, (_, m, _f) in got.items() if m == 0}
    assert kept == clean


def test_vocab_filter_and_prune(spark, docs):
    from feature_extraction_spark.ops.preprocess import (
        df_vocab_filter,
        filter_tokens_by_vocab,
    )

    vocab = df_vocab_filter(docs, min_df=5, max_df_frac=0.5, doc_col="doc_id")
    vp = vocab.toPandas()
    # python oracle for df bounds
    pdf = docs.select("doc_id", "text").toPandas()
    from collections import Counter

    dfc = Counter()
    for r in pdf.itertuples():
        dfc.update({w for w in r.text.split(" ") if w != ""})
    nd = pdf["doc_id"].nunique()
    exp = {w: c for w, c in dfc.items() if c >= 5 and c <= 0.5 * nd}
    assert dict(zip(vp["word"], vp["df"])) == exp

    pruned = filter_tokens_by_vocab(docs, vocab, doc_col="doc_id")
    row = pruned.filter(pruned.doc_id == pdf["doc_id"].iloc[0]).collect()[0]
    text0 = pdf["text"].iloc[0]
    exp_toks = [w for w in text0.split(" ") if w != "" and w in exp]
    assert list(row["tokens_kept"]) == exp_toks


def test_truecase_learn_apply(spark):
    from feature_extraction_spark.ops.truecase import (
        apply_truecase,
        learn_case_model,
    )

    rows = [
        (1, "Smith went home"),           # initial 'Smith' skipped in learning
        (2, "we met Smith today"),
        (3, "again Smith and smith"),
        (4, "The cat sat"),               # initial 'The' skipped
        (5, "the cat the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    model = {r.lword: r.form for r in learn_case_model(df).collect()}
    assert model["smith"] == "Smith"  # 2 mid-sentence Smith vs 1 smith
    assert model["the"] == "the"      # initial 'The' not counted
    out = {
        r.doc_id: r.text_truecased
        for r in apply_truecase(df, learn_case_model(df), id_col="doc_id").collect()
    }
    assert out[3] == "again Smith and Smith"
    assert out[4] == "the cat sat"  # initial The normalized to majority 'the'


def test_jaccard_stop_shingle_sizes_consistent(spark):
    """Regression (round-2 review): with max_shingle_df active, sizes must
    be computed over RETAINED shingles — identical docs that share hot
    (capped) shingles must still pair at jaccard 1.0, not vanish."""
    hot = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [(i, hot + f" filler{i} end{i} extra{i}") for i in range(10)]
    # docs 100/101 are identical: share the hot shingles AND unique ones
    dup = hot + " unique tail of the duplicated document body here"
    rows += [(100, dup), (101, dup)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_df=5
    ).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert (100, 101) in pairs, pairs
    assert pairs[(100, 101)] == 1.0


def test_with_simhash_preserves_input_columns(spark):
    from feature_extraction_spark.ops.dedup import with_simhash

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en")], "doc_id long, text string, lang string"
    )
    out = with_simhash(docs)
    assert set(out.columns) == {"doc_id", "text", "lang", "simhash"}
    assert out.count() == 1


def test_quality_score_nan_guards_and_ip_boundaries(spark):
    """Regression (round-2 review): empty/whitespace docs must score ~0
    (NaN ratios previously won full credit through least()); the IPv4
    scrub must not fire inside longer numeric strings."""
    import math

    from feature_extraction_spark.ops.textquality import (
        with_pii_scrub,
        with_quality_score,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "the cat and the dog sat on the mat")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in with_quality_score(docs).collect()}
    assert out[0]["q_score"] == 0.0
    assert out[1]["q_score"] == 0.25  # only the zero-punctuation credit
    assert out[2]["q_score"] > 0.7
    assert math.isnan(out[0]["q_stopword_ratio"])

    pii = spark.createDataFrame(
        [(0, "build 10.20.30.4056 at v1.2.3.4-beta from 192.168.0.7 ok")],
        "doc_id long, text string",
    )
    scrubbed = with_pii_scrub(pii).collect()[0]["text_scrubbed"]
    assert "10.20.30.4056" in scrubbed  # not an IP: no partial redaction
    assert "v1.2.3.4-beta" in scrubbed
    assert "192.168.0.7" not in scrubbed and "<IP>" in scrubbed


def test_hard_negatives_excludes_positives_exact_k(spark):
    import numpy as np

    from feature_extraction_spark.ops.similarity import (
        hard_negatives,
        knn_join_exact,
    )

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id < 2").selectExpr("vec_id as q_id", "embedding")
    # positives: the self vector (cosine 1.0 — would otherwise rank first)
    pos = queries.selectExpr("q_id", "q_id as vec_id")
    out = hard_negatives(emb, queries, pos, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 4
        assert all(r["vec_id"] != q for r in rs)  # positive excluded
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4]
    # without positives the self vector ranks 1 (sanity link to knn_join)
    knn = knn_join_exact(emb, queries, k=1).collect()
    assert all(r["vec_id"] == r["q_id"] for r in knn)


def test_hard_negatives_composes_with_candidate_subset(spark):
    import numpy as np

    from feature_extraction_spark.ops.similarity import hard_negatives

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").selectExpr("vec_id as q_id", "embedding")
    pos = queries.selectExpr("q_id", "q_id as vec_id")
    # candidate generation (e.g. an IVF probe) just narrows `data`
    cands = emb.filter("vec_id % 2 = 0")
    out = hard_negatives(cands, queries, pos, k=3).collect()
    assert len(out) == 3 and all(r["vec_id"] % 2 == 0 for r in out)

def test_hard_negatives_prefilter_equals_window_path_and_bounds(spark):
    import numpy as np

    from feature_extraction_spark.ops.similarity import (
        _partition_topk_candidates,
        cosine_expr,
        hard_negatives,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(13)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(120)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(6)
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as q_id", "embedding"
    )
    pos = queries.selectExpr("q_id", "q_id as vec_id")
    key = lambda r: (r["q_id"], r["vec_id"], r["rank"])  # noqa: E731
    got = sorted(
        hard_negatives(emb, queries, pos, k=5).collect(), key=key
    )
    ref = sorted(
        hard_negatives(
            emb, queries, pos, k=5, partition_prefilter=False
        ).collect(),
        key=key,
    )
    assert [key(r) for r in got] == [key(r) for r in ref]
    # cosines bit-identical (same JVM scoring expression on both paths)
    assert [r["cosine"] for r in got] == [r["cosine"] for r in ref]

    # the reduction bound: candidates entering the final window are
    # <= k x P x |Q|, never |corpus| x |Q|
    d = emb.select("vec_id", F.col("embedding").alias("_dv"))
    q = queries.select("q_id", F.col("embedding").alias("_qv"))
    scored = d.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id", cosine_expr(F.col("_dv"), F.col("_qv")).alias("cosine")
    )
    cands = _partition_topk_candidates(scored, "q_id", "vec_id", 5)
    n_parts = emb.rdd.getNumPartitions()
    assert cands.count() <= 5 * n_parts * 3
    assert scored.count() == 120 * 3  # what round 4 shuffled


def test_hard_negatives_plan_shuffles_reduced_candidates(spark):
    import numpy as np

    from feature_extraction_spark.ops.similarity import hard_negatives

    rng = np.random.default_rng(17)
    rows = [(i, rng.normal(size=4).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id < 2").selectExpr("vec_id as q_id", "embedding")
    pos = queries.selectExpr("q_id", "q_id as vec_id")
    out = hard_negatives(emb, queries, pos, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the map-only Arrow reduction sits BELOW the q_id exchange: the only
    # corpus-grain exchange input is the prefiltered candidate set
    assert "MapInPandas" in plan
    exch = plan.split("Exchange hashpartitioning(q_id", 1)
    assert len(exch) == 2 and "MapInPandas" in exch[1]
    # scoring + anti-join + reduction are one stage: broadcast joins only
    assert "SortMergeJoin" not in plan
