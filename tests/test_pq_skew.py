"""Product quantization (ops/pq.py) and skew diagnosis (ops/skew.py):
value parity against pure-Python references, trainer determinism +
monotone quantization error, ADC-vs-exact recall on clustered data, and
plan-shape guards (encode = map-only, ADC top-k = TakeOrderedAndProject,
skew_report = one corpus shuffle)."""

import math

import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.ops.pq import (
    adc_lut,
    pq_adc_topk,
    pq_encode,
    pq_train,
)
from feature_extraction_spark.ops.skew import skew_report
from feature_extraction_spark.synth import synth_embeddings


@pytest.fixture(scope="module")
def emb(spark):
    df = synth_embeddings(spark, n_vecs=300, seed=3).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_pd(emb):
    return emb.toPandas()


def _py_encode(vec, codebooks):
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for j in range(m):
        sv = vec[j * dsub : (j + 1) * dsub]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(sv, c))
            for c in codebooks[j]
        ]
        out.append(dists.index(min(dists)))  # first min == smallest index
    return out


def _quant_err(pdf, codebooks):
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    tot = 0.0
    for vec in pdf["embedding"]:
        for j, c in enumerate(_py_encode(list(vec), codebooks)):
            sv = list(vec)[j * dsub : (j + 1) * dsub]
            tot += sum(
                (a - b) * (a - b) for a, b in zip(sv, codebooks[j][c])
            )
    return tot / len(pdf)


def test_pq_train_deterministic_and_monotone(spark, emb, emb_pd):
    cb1 = pq_train(emb, m=4, k=8, iters=2)
    cb2 = pq_train(emb, m=4, k=8, iters=2)
    assert cb1 == cb2
    # Lloyd iterations cannot increase quantization error
    cb0 = pq_train(emb, m=4, k=8, iters=0)
    e0, e2 = _quant_err(emb_pd, cb0), _quant_err(emb_pd, cb1)
    assert e2 <= e0 + 1e-9, (e0, e2)


def test_pq_encode_matches_python(spark, emb, emb_pd):
    cb = pq_train(emb, m=4, k=8, iters=1)
    got = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, cb).collect()
    }
    for _, row in emb_pd.iterrows():
        assert got[row["vec_id"]] == _py_encode(list(row["embedding"]), cb)


def test_pq_adc_matches_python_and_finds_neighbors(spark, emb, emb_pd):
    cb = pq_train(emb, m=8, k=16, iters=2)
    query = [float(x) for x in emb_pd.iloc[7]["embedding"]]
    codes = pq_encode(emb, cb)
    top = pq_adc_topk(codes, cb, query, k=5).collect()
    # exact ADC parity: recompute each returned distance in Python
    lut = adc_lut(cb, query)
    by_id = {
        row["vec_id"]: _py_encode(list(row["embedding"]), cb)
        for _, row in emb_pd.iterrows()
    }
    for r in top:
        expect = sum(lut[j][c] for j, c in enumerate(by_id[r["vec_id"]]))
        assert math.isclose(r["adc_dist"], expect, rel_tol=1e-12)
    # ascending distances, deterministic
    ds = [r["adc_dist"] for r in top]
    assert ds == sorted(ds)
    # the query's own vector must be its ADC nearest neighbor (distance to
    # its own reconstruction is minimal on clustered synth data)
    assert top[0]["vec_id"] == emb_pd.iloc[7]["vec_id"]


def test_pq_adc_recall_vs_exact(spark, emb, emb_pd):
    """PQ's production shape is shortlist-then-rerank: the ADC top-30
    shortlist must contain most of the exact-L2 top-10 (ADC is lossy at
    m=8/k=16 codebooks, so top-10-vs-top-10 overlap is NOT the contract —
    recall@shortlist is)."""
    cb = pq_train(emb, m=8, k=16, iters=2)
    query = [float(x) for x in emb_pd.iloc[11]["embedding"]]
    adc_ids = {
        r["vec_id"]
        for r in pq_adc_topk(pq_encode(emb, cb), cb, query, k=30).collect()
    }
    exact = sorted(
        (
            sum((a - b) * (a - b) for a, b in zip(list(row["embedding"]), query)),
            row["vec_id"],
        )
        for _, row in emb_pd.iterrows()
    )[:10]
    exact_ids = {vid for _, vid in exact}
    # 10x shortlist over a 300-vector table: random 30 ids would hit ~1
    assert len(adc_ids & exact_ids) >= 7, (adc_ids, exact_ids)


def test_pq_train_validates(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7, k=4, iters=0)


def test_skew_report_values(spark):
    rows = (
        [("hot", i) for i in range(60)]
        + [("warm", i) for i in range(30)]
        + [("a", 0), ("b", 0), ("c", 0)]
    )
    df = spark.createDataFrame(rows, "k string, x int")
    out = {r["k"]: r for r in skew_report(df, ["k"], top_n=2).collect()}
    assert set(out) == {"hot", "warm"}
    total, nkeys = 93, 5
    assert out["hot"]["n_rows"] == 60
    assert math.isclose(out["hot"]["share"], 60 / total)
    assert math.isclose(out["hot"]["skew_factor"], 60 / (total / nkeys))
    assert out["hot"]["rank"] == 1 and out["warm"]["rank"] == 2


def test_skew_report_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("b", 1), ("a", 1), ("c", 1)], "k string, x int"
    )
    got = [r["k"] for r in skew_report(df, ["k"], top_n=3).collect()]
    assert got == ["a", "b", "c"]


# ---------------------------------------------------------------- plans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pq_plan_shapes(spark, emb, tmp_path):
    p = str(tmp_path / "emb")
    emb.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    cb = pq_train(emb, m=4, k=8, iters=0)
    enc = pq_encode(scan, cb)
    plan = _plan(enc)
    # encode is a map-only projection: zero exchanges (higher-order array
    # exprs are JVM-native but not whole-stage-codegen'd, so no codegen
    # assertion), and the scan is pruned to the two used columns
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<vec_id:bigint,embedding" in plan, plan
    topk = pq_adc_topk(enc, cb, [0.0] * 64, k=5)
    tplan = _plan(topk)
    # ADC top-k never globally sorts: per-partition heaps + final k rows
    assert "TakeOrderedAndProject" in tplan, tplan
    assert "Exchange hashpartitioning" not in tplan, tplan


def test_skew_report_single_corpus_shuffle(spark, transcripts, tmp_path):
    p = str(tmp_path / "turns")
    transcripts.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    plan = _plan(skew_report(scan, ["conv_id"], top_n=5))
    # one corpus-sized hash exchange (the groupBy); the window exchanges
    # move only the aggregated key table (SinglePartition)
    assert plan.count("Exchange hashpartitioning") == 1, plan
