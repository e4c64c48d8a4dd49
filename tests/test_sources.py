"""Kaldi timing/conf parsers and MS-ASR CSV source vs a pure-Python oracle
implementing the reference's state machine exactly
(kaldi_asr_features/extract_timing_feats.py:147-202)."""

import numpy as np
import pytest

from feature_extraction_spark.sources.kaldi import (
    kaldi_segment_times,
    read_kaldi_confidence,
    read_kaldi_timing_lines,
)
from feature_extraction_spark.sources.msasr import read_recognizer_csv

KALDI_FILE = '''"s1_c1_0_500
0 10 x x sil
10 30 a b hello
30 45 c d
45 60 x x [noise]
60 80 a b world
80 95 c d
"s1_c1_500_900
0 20 x x sil
"s1_c2_0_300
0 15 a b one
15 25 c d
25 40 x x sil
40 70 a b two
'''


def _oracle_kaldi(segments):
    """Reference get_times state machine, reimplemented independently."""
    times = {"segments": [], "silences": [], "words": [], "phones": [],
             "wps": [], "pps": []}
    for seg in segments:
        word_count = 0
        phone_count = 0
        word_start = -1
        for line in seg:
            items = line.strip().split(" ")
            if len(items) == 5:
                if word_start != -1:
                    times["words"].append((int(items[0]) - word_start) * 25)
                w = items[4]
                if w in ("[noise]", "[laughter]"):
                    word_start = -1
                elif w == "sil":
                    times["silences"].append((int(items[1]) - int(items[0])) * 25)
                    word_start = -1
                else:
                    word_start = int(items[0])
                    word_count += 1
            times["phones"].append((int(items[1]) - int(items[0])) * 25)
            phone_count += 1
        items = seg[-1].strip().split(" ")
        if word_start != -1:
            times["words"].append((int(items[1]) - word_start) * 25)
        if word_count == 0:
            continue
        seg_dur = float(int(items[1])) * 25 * 0.001
        times["segments"].append(seg_dur)
        times["wps"].append(word_count / seg_dur)
        times["pps"].append(phone_count / seg_dur)
    return times


@pytest.fixture(scope="module")
def kaldi_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("kaldi") / "s1_timing.txt"
    p.write_text(KALDI_FILE)
    return str(p)


def test_kaldi_state_machine_parity(spark, kaldi_path):
    lines = read_kaldi_timing_lines(spark, kaldi_path)
    segs = kaldi_segment_times(lines).toPandas().sort_values("seg_idx")

    raw_segments = [
        [ln for ln in blk.splitlines()[1:] if ln.strip()]
        for blk in KALDI_FILE.split('\n"')
        if blk.strip()
    ]
    exp = _oracle_kaldi(raw_segments)

    # all-sil segment (s1_c1_500_900) must be dropped
    assert len(segs) == len(exp["segments"]) == 2

    got_words = sorted(x for arr in segs["word_durs_ms"] for x in arr)
    assert got_words == sorted(exp["words"])
    got_sils = sorted(x for arr in segs["sil_durs_ms"] for x in arr)
    # NB: the oracle collects silences from ALL segments including the
    # dropped all-sil one (reference behavior: silences recorded before the
    # word_count==0 skip) — engine keeps silences only for kept segments.
    # The engine's seg-level lists cover kept segments; check those:
    kept_sils = [(10 - 0) * 25, (40 - 25) * 25]
    assert got_sils == sorted(kept_sils)
    assert sorted(segs["seg_dur_sec"]) == sorted(exp["segments"])
    assert np.allclose(sorted(segs["wps"]), sorted(exp["wps"]))
    assert np.allclose(sorted(segs["pps"]), sorted(exp["pps"]))
    # word ends close at the start of the NEXT 5-field line (noise/sil too)
    seg0 = segs[segs["seg_id"] == "s1_c1_0_500"].iloc[0]
    assert sorted(seg0["word_durs_ms"]) == sorted([(45 - 10) * 25, (95 - 60) * 25])


def test_kaldi_confidence_source(spark, tmp_path):
    p = tmp_path / "conf.txt"
    p.write_text(
        "s1_c1_0_500 w x y z 0.9 extra\n"
        "s1_c1_0_500 w x y z 0.7 extra\n"
        "s1_c2_0_300 w x y z 0.5 extra\n"
    )
    df = read_kaldi_confidence(spark, str(p)).toPandas()
    assert len(df) == 3
    assert set(df["seg_id"]) == {"s1_c1_0_500", "s1_c2_0_300"}
    assert sorted(df["confidence"]) == [0.5, 0.7, 0.9]
    assert df[df.seg_id == "s1_c1_0_500"]["segment_start"].iloc[0] == 0
    assert df[df.seg_id == "s1_c2_0_300"]["segment_end"].iloc[0] == 300


def test_msasr_csv_source(spark, tmp_path):
    p = tmp_path / "recognizer.csv"
    p.write_text(
        "audio_file_id,segment_number,text,duration,offset,confidence,word_timing\n"
        "call1,0,hi there,20000000,0,0.9,\"[{'Word': 'hi', 'Duration': 5000000, "
        "'Offset': 1000000}, {'Word': 'there', 'Duration': 8000000, 'Offset': 7000000}]\"\n"
        "call1,1,bye,15000000,25000000,0.8,\"[{'Word': 'bye', 'Duration': 4000000, "
        "'Offset': 26000000}]\"\n"
    )
    df = read_recognizer_csv(spark, str(p))
    pdf = df.toPandas().sort_values("sort_key")
    assert list(pdf["group_id"]) == ["call1", "call1"]
    wt = pdf["word_timing"].iloc[0]
    assert [w["Word"] for w in wt] == ["hi", "there"]
    assert wt[0]["Duration"] == 5000000 and wt[1]["Offset"] == 7000000
    # typed columns feed the timing pack directly
    from feature_extraction_spark.ops.timing import with_turn_timing

    t = with_turn_timing(df)
    row = t.filter("sort_key = 0").collect()[0]
    assert np.allclose(row["seg_sec"], 2.0)
    assert np.allclose(sorted(row["word_durs_ms"]), [500.0, 800.0])
    # silences: lead 100ms, between 100ms, trail 500ms
    assert np.allclose(sorted(row["sil_durs_ms"]), [100.0, 100.0, 500.0])

def test_size_conf_two_letter_suffixes(spark):
    """Regression (round-2 review): Spark-accepted forms like '512mb' must
    parse, not silently fall back to the default."""
    from feature_extraction_spark.sources.io import _size_conf_bytes

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        for raw, expected in [
            ("512mb", 512 << 20), ("64kb", 64 << 10), ("1gb", 1 << 30),
            ("128m", 128 << 20), ("134217728b", 134217728), ("134217728", 134217728),
        ]:
            spark.conf.set(key, raw)
            assert _size_conf_bytes(spark, key, 0) == expected, raw
    finally:
        spark.conf.set(key, prev)


def test_msasr_word_timing_with_apostrophes(spark, tmp_path):
    """Regression (round-2 review): repr double-quotes values containing
    apostrophes ({'Word': "don't"}); the repr->JSON conversion must not
    corrupt them (the old blanket quote swap NULLed the whole array)."""
    import csv
    import os

    p = str(tmp_path / "rec")
    os.makedirs(p, exist_ok=True)
    wt = ("[{'Word': \"don't\", 'Duration': 2000000, 'Offset': 100}, "
          "{'Word': 'hello', 'Duration': 1000000, 'Offset': 2100100}]")
    with open(os.path.join(p, "r.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["audio_file_id", "segment_number", "offset",
                    "duration", "confidence", "display", "word_timing"])
        w.writerow(["a1", 0, 0, 4000000, 0.9, "don't hello", wt])

    from feature_extraction_spark.sources.msasr import read_recognizer_csv

    row = read_recognizer_csv(spark, os.path.join(p, "r.csv")).collect()[0]
    parsed = row["word_timing"]
    assert parsed is not None, "apostrophe corrupted the JSON conversion"
    assert [w["Word"] for w in parsed] == ["don't", "hello"]
    assert [w["Duration"] for w in parsed] == [2000000, 1000000]


def test_hypothesis_dir_names_with_spaces(spark, tmp_path):
    """Regression (round-2 review): input_file_name() is percent-encoded;
    call/hypothesis ids must be decoded back to the real names."""
    import os

    d = tmp_path / "hyps" / "call 01"
    os.makedirs(d, exist_ok=True)
    (d / "hyp a.txt").write_text("seg_0_100 hello there\n")

    from feature_extraction_spark.sources.hypotheses import read_hypothesis_dirs

    row = read_hypothesis_dirs(spark, str(tmp_path / "hyps" / "*" / "*")).collect()[0]
    assert row["call_id"] == "call 01"
    assert row["hypothesis_id"] == "hyp a.txt"


def test_ensure_parallelism_bulk_probe(spark, tmp_path):
    from feature_extraction_spark.sources.io import ensure_parallelism

    # one small file, under-split vs target -> repartitioned up
    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    df = spark.read.parquet(one)
    assert len(df.inputFiles()) == 1
    up = ensure_parallelism(df, min_partitions=8)
    assert up.rdd.getNumPartitions() == 8
    assert up.count() == 1000

    # already >= one file per requested split -> untouched plan (no
    # Repartition node), metadata probed via ONE listStatus of the dir
    many = str(tmp_path / "many")
    spark.range(1000).repartition(8).write.parquet(many)
    df2 = spark.read.parquet(many)
    assert len(df2.inputFiles()) >= 8
    same = ensure_parallelism(df2, min_partitions=4)
    assert same is df2
