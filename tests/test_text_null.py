"""Hostile text for the shared tokenizer: NULL, empty and whitespace-only
turns through verbosity_stats, lexdiv_stats, nonverbal_stats, liwc_features
and the rolling word count, with ANSI off and on. NULL text tokenizes like
'' (one empty token), so a conversation of NULL turns gets the same
features as one of empty turns, whatever the session's ANSI mode.
The shared n-gram builder is checked here too, down to zero words."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import ngrams_expr
from feature_extraction_spark.oracle import kernels as ok
from feature_extraction_spark.ops.lexdiv import lexdiv_stats
from feature_extraction_spark.ops.liwc import liwc_features, parse_dic
from feature_extraction_spark.ops.nonverbal import MARKERS, nonverbal_stats
from feature_extraction_spark.ops.turn_stats import verbosity_stats
from feature_extraction_spark.ops.windows import rolling_turn_features

CONVS = {
    "c_null": [None, None, None],
    "c_empty": ["", "", ""],
    "c_blank": ["  ", " ", "   "],
    "c_mixed": ["hello there friend", None, "", "   ", "a b", None, "x"],
    "c_marker": ["[laughter] hi", None, None],
}
VERBOSITY = [
    "wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max", "total_count",
    "lw_count", "word_len", "syll_mean", "syll_median", "syll_stdev",
    "syll_min", "syll_max",
]
LEXDIV = ["MATTR_10", "MATTR_25", "MATTR_50", "HS"]


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def hostile(spark, request):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (c, i, "user", text, None, t0 + dt.timedelta(seconds=30 * i))
        for c, texts in CONVS.items()
        for i, text in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield df
    spark.conf.set("spark.sql.ansi.enabled", saved)


def _rows(df) -> dict:
    return {r["conv_id"]: r.asDict() for r in df.collect()}


def _close(got: dict, exp: dict, cols: list[str], what: str) -> None:
    for c in cols:
        assert np.isclose(got[c], exp[c], rtol=1e-9, atol=1e-12, equal_nan=True), (
            f"{what} {c}: spark={got[c]} oracle={exp[c]}"
        )


def test_verbosity_hostile_text(hostile):
    got = _rows(verbosity_stats(hostile, level="conv"))
    assert set(got) == set(CONVS)
    for conv, texts in CONVS.items():
        _close(got[conv], ok.verbosity_stats(texts), VERBOSITY, conv)
    # a NULL turn is one empty token, never -1 words or a NULL count
    assert got["c_null"]["wc_min"] == got["c_mixed"]["wc_min"] == 1.0
    assert [got["c_null"][c] for c in VERBOSITY] == [got["c_empty"][c] for c in VERBOSITY]


def test_lexdiv_hostile_text(hostile):
    got = _rows(lexdiv_stats(hostile, level="conv"))
    assert set(got) == set(CONVS)
    for conv, texts in CONVS.items():
        _close(got[conv], ok.lexdiv_stats(texts), LEXDIV, conv)
    assert [got["c_null"][c] for c in LEXDIV] == [got["c_empty"][c] for c in LEXDIV]


def test_nonverbal_hostile_text(hostile):
    got = _rows(nonverbal_stats(hostile, level="conv"))
    assert set(got) == set(CONVS)
    for conv, texts in CONVS.items():
        _close(got[conv], ok.nonverbal_stats(texts), list(MARKERS), conv)
    # the two NULL turns are one empty token each: 1 laughter in 4 tokens
    assert got["c_marker"]["laughter"] == 0.25
    assert [got["c_null"][c] for c in MARKERS] == [got["c_empty"][c] for c in MARKERS]


def test_liwc_hostile_text(hostile):
    """Every entity gets the row it would get with each NULL turn replaced
    by ''."""
    dic = parse_dic("%\n1\tposemo\n%\nhello\t1\nthe*\t1\nhi\t1\n")
    cols = [f"{c}_liwc" for c in dic.categories]
    got = _rows(liwc_features(hostile, dic, level="conv"))
    empty = hostile.fillna({"text": ""})
    exp = _rows(liwc_features(empty, dic, level="conv"))
    assert set(got) == set(CONVS)
    for conv in CONVS:
        _close(got[conv], exp[conv], cols, conv)
    assert got["c_null"]["posemo_liwc"] == 0.0
    assert got["c_marker"]["posemo_liwc"] == 0.25


def test_rolling_wc_hostile_text(hostile):
    k = 10
    got = {
        (r["conv_id"], r["turn_idx"]): r[f"roll_wc_mean_{k}"]
        for r in rolling_turn_features(hostile, trailing_rows=k).collect()
    }
    for conv, texts in CONVS.items():
        wc = [len(ok.tokenize(t)) for t in texts]
        for i in range(len(texts)):
            exp = float(np.mean(wc[max(0, i - k + 1) : i + 1]))
            assert np.isclose(got[(conv, i)], exp), (conv, i, got[(conv, i)], exp)


@pytest.mark.parametrize("n", [1, 2, 3])
def test_ngrams_expr_matches_python(spark, n):
    """Word counts 0 through n+2 (fewer words than n gives no gram), with
    repeated words, in order; NULL stays NULL."""
    rows = [(k, [f"w{i % 3}" for i in range(k)]) for k in range(n + 3)]
    df = spark.createDataFrame(rows + [(-1, None)], "k int, words array<string>")
    got = {
        r["k"]: r["g"]
        for r in df.select("k", ngrams_expr(F.col("words"), n).alias("g")).collect()
    }
    assert got.pop(-1) is None
    for k, ws in rows:
        exp = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        assert got[k] == exp, (k, got[k], exp)
