"""POS pack (native tagger) vs Python-mirror oracle; speech-graph kernel vs
hand-computed values; LIWC vs a synthetic dictionary oracle."""

import numpy as np
import pytest

from feature_extraction_spark.functions.postag import penn_tag
from feature_extraction_spark.ops.graph import graph_feats_for_texts, graph_features
from feature_extraction_spark.ops.liwc import liwc_features, parse_dic
from feature_extraction_spark.ops.pos import POS_KEYS, pos_features


# ------------------------------------------------------------------- POS

def _oracle_pos(texts):
    """Python mirror of the reference extract_pos_features semantics
    (extract_pos.py:70-102) with the rule tagger + identity truecase."""
    feats = dict((k, 0) for k in POS_KEYS)
    num_words = 0
    for seg in texts:
        words = seg.split(" ")
        num_words += len(words)
        words = [w for w in words if w != ""]
        for w in words:
            tag = penn_tag(w)
            if tag.startswith("J"):
                feats["ADJ"] += 1
            elif tag.startswith("V"):
                feats["VERB"] += 1
            elif tag.startswith("N"):
                feats["NOUN"] += 1
            elif tag.startswith("R"):
                feats["ADV"] += 1
            elif tag.startswith("D"):
                feats["DET"] += 1
            elif tag.startswith("U"):
                feats["INT"] += 1
            elif tag.startswith("I") or tag.startswith("T"):
                feats["PREP"] += 1
            elif tag == "CC":
                feats["CC"] += 1
            elif tag == "PRP":
                feats["NOUN"] += 1
                feats["PNOUN"] += 1
            elif tag == "PRP$":
                feats["PSNOUN"] += 1
                feats["NOUN"] += 1
            elif tag.startswith("W"):
                if tag[1] == "D":
                    feats["DET"] += 1
                elif tag[1] == "R":
                    feats["ADV"] += 1
                elif tag.endswith("P"):
                    feats["PNOUN"] += 1
                    feats["NOUN"] += 1
                else:
                    feats["PSNOUN"] += 1
    out = {}
    v, n_, adj = feats["VERB"], feats["NOUN"], feats["ADJ"]
    out["adj_ratio"] = adj / v if v else float("nan")
    out["v_ratio"] = n_ / v if v else float("nan")
    out["n_ratio"] = n_ / (v + n_) if (v + n_) else float("nan")
    out["pn_ratio"] = feats["PNOUN"] / n_ if n_ else float("nan")
    out["sc_ratio"] = feats["PREP"] / feats["CC"] if feats["CC"] else float("nan")
    for k in POS_KEYS:
        out[k] = feats[k] / num_words
    return out


def test_pos_parity(transcripts, transcripts_pd):
    got = pos_features(transcripts, level="conv").toPandas().set_index("conv_id")
    for conv_id, g in transcripts_pd.groupby("conv_id"):
        exp = _oracle_pos(list(g["text"]))
        row = got.loc[conv_id]
        for k in POS_KEYS + ["adj_ratio", "v_ratio", "n_ratio", "pn_ratio", "sc_ratio"]:
            assert np.allclose(row[k], exp[k], equal_nan=True), (
                f"{conv_id} {k}: {row[k]} != {exp[k]}"
            )


# ----------------------------------------------------------------- graph

def test_graph_kernel_known_values():
    # segments: "a b a" -> edges a->b, b->a ; "c" -> isolated node
    out = graph_feats_for_texts(["a b a", "c"])
    assert out["num_nodes_naive"] == 3.0  # a, b, c
    assert out["num_edges_naive"] == 2.0
    assert out["lcc_naive"] == 2.0  # {a,b}
    assert out["lsc_naive"] == 2.0  # a<->b strongly connected
    assert out["l1_naive"] == 0.0
    assert out["num_p_edges_naive"] == 0.0
    # density: e'=2 -> 2/9
    assert np.allclose(out["d_naive"], 2 / 9)
    assert out["di_naive"] == 1.0  # a-b
    assert np.allclose(out["asp_naive"], 1.0)
    # norm = /5 words ("a b a" -> 3 + "c" -> 1 = 4? NO: split(" ") of "a b a"
    # is 3 words, "c" is 1 -> 4
    assert np.allclose(out["num_nodes_naive_norm"], 3 / 4)


def test_graph_self_loop_and_parallel():
    out = graph_feats_for_texts(["a a a b a b"])
    # edges: a->a, a->a? no: consecutive pairs: (a,a),(a,a)? "a a a b a b"
    # pairs: a-a, a-a? -> (a,a),(a,a)?? pairs are (a,a),(a,b)... enumerate:
    # [a,a,a,b,a,b] -> (a,a),(a,a),(a,b),(b,a),(a,b)
    assert out["num_edges_naive"] == 5.0
    assert out["l1_naive"] == 2.0  # two a->a self loops
    # parallel: (a,a) occurs 2 -> +1 (also self-loop parallel);
    # (a,b) occurs 2 -> +1 ; total 2, pe_l1 = 1
    assert out["num_p_edges_naive"] == 2.0
    # e' = 5 - (2 + 2 - 1) = 2 ; nodes = 2 -> d = 2/4
    assert np.allclose(out["d_naive"], 0.5)


def test_graph_features_spark_matches_kernel(spark, transcripts, transcripts_pd):
    got = graph_features(transcripts, level="conv").toPandas().set_index("conv_id")
    n_checked = 0
    for conv_id, g in transcripts_pd.sort_values("turn_idx").groupby("conv_id"):
        exp = graph_feats_for_texts(list(g["text"]))
        row = got.loc[conv_id]
        for k, v in exp.items():
            assert np.allclose(row[k], v, equal_nan=True), f"{conv_id} {k}"
        n_checked += 1
        if n_checked >= 15:
            break
    assert n_checked > 0


# ------------------------------------------------------------------ LIWC

DIC = """%
1\tposemo
2\tnegemo
3\tsocial
%
happ*\t1
good\t1
bad\t2
sad\t2
you\t3
you know\t3
friend*\t3
"""


def _oracle_liwc(texts, dic_text=DIC):
    d = parse_dic(dic_text)
    segs = [t.split(" ") for t in texts]
    words = [w for s in segs for w in s]
    bigrams = []
    trigrams = []
    for s in segs:
        for i in range(len(s) - 1):
            bigrams.append(s[i] + " " + s[i + 1])
            if i < len(s) - 2:
                trigrams.append(s[i] + " " + s[i + 1] + " " + s[i + 2])
    n = float(len(words))

    def cats(tok):
        out = [c for p, c in d.exact if tok == p]
        out += [c for stem, c in d.wild if tok.startswith(stem)]
        return out

    from collections import Counter

    cnt = Counter(c for t in words + bigrams + trigrams for c in cats(t))
    return {
        f"{c}_liwc": (cnt.get(c, 0) / n if n else float("nan"))
        for c in d.categories
    }


def test_liwc_parity(spark):
    import datetime as dt

    rows = [
        ("c1", 0, "you know the happy good bad", dt.datetime(2024, 1, 1)),
        ("c1", 1, "friends are happier you know", dt.datetime(2024, 1, 1, 0, 1)),
        ("c2", 0, "sad sad bad", dt.datetime(2024, 1, 1)),
        ("c3", 0, "", dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )
    d = parse_dic(DIC)
    got = liwc_features(df, d, level="conv").toPandas().set_index("conv_id")
    pdf = {cid: [r[2] for r in rows if r[0] == cid] for cid in ("c1", "c2", "c3")}
    for cid, texts in pdf.items():
        exp = _oracle_liwc(texts)
        row = got.loc[cid]
        for k, v in exp.items():
            assert np.allclose(row[k], v, equal_nan=True), f"{cid} {k}: {row[k]} != {v}"


def test_liwc_on_synth(transcripts):
    d = parse_dic(DIC)
    out = liwc_features(transcripts, d, level="conv")
    assert out.count() == transcripts.select("conv_id").distinct().count()


def test_liwc_null_text(spark):
    """A NULL-text turn is one empty token, like '' in the reference: it
    adds a word that matches no pattern. An entity whose every turn is NULL
    keeps its row, equal to that of an entity of empty turns (proportions
    0.0, not NaN)."""
    import datetime as dt

    rows = [
        ("c1", 0, "good bad", dt.datetime(2024, 1, 1)),
        ("c1", 1, None, dt.datetime(2024, 1, 1, 0, 1)),
        ("c2", 0, None, dt.datetime(2024, 1, 1)),
        ("c3", 0, "", dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )
    d = parse_dic(DIC)
    got = liwc_features(df, d, level="conv").toPandas().set_index("conv_id")
    assert set(got.index) == {"c1", "c2", "c3"}
    # c1: 2 words ('good bad') plus the NULL turn's empty token
    assert np.isclose(got.loc["c1", "posemo_liwc"], 1 / 3)
    assert np.isclose(got.loc["c1", "negemo_liwc"], 1 / 3)
    # c2 (all NULL) == c3 (empty text): one empty token, every proportion 0
    assert got.loc["c2"].tolist() == got.loc["c3"].tolist()
    assert (got.loc["c2"] == 0.0).all()


def test_lexdiv_null_text_entity_keeps_row(spark):
    """Regression (round-2 review): an entity whose every turn has NULL
    text must yield a feature row, not vanish. NULL text tokenizes like
    '' (functions/text.py:tokenize_expr), so its row equals that of an
    entity of empty turns: two empty tokens."""
    import datetime as dt
    import math

    from feature_extraction_spark.ops.lexdiv import lexdiv_stats

    rows = [
        ("c1", 0, "good words here and more", dt.datetime(2024, 1, 1)),
        ("c2", 0, None, dt.datetime(2024, 1, 1)),
        ("c2", 1, None, dt.datetime(2024, 1, 1, 0, 1)),
        ("c3", 0, "", dt.datetime(2024, 1, 1)),
        ("c3", 1, "", dt.datetime(2024, 1, 1, 0, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )
    out = {r["conv_id"]: r for r in lexdiv_stats(df, level="conv").collect()}
    assert set(out) == {"c1", "c2", "c3"}
    assert out["c2"].asDict() | {"conv_id": "c3"} == out["c3"].asDict()
    # N=2, V=1, V1=0: window=n fallback TTR 1/2, HS = 100*ln(2)
    assert out["c2"]["MATTR_10"] == 0.5
    assert math.isclose(out["c2"]["HS"], 100 * math.log(2))
    assert out["c1"]["MATTR_10"] == 1.0  # 5 distinct words, window=n fallback
