"""Engine runner (checkpoint/resume, lineage metrics), leakage validator,
salted repartition, multimodal plumbing."""

import json
import os

import pyspark.sql.functions as F
import pytest

from feature_extraction_spark.engine import (
    FeaturePipeline,
    FeatureStep,
    salted_repartition,
    validate_no_leakage,
)
from feature_extraction_spark.ops.sessionize import sessionize
from feature_extraction_spark.ops.windows import rolling_turn_features


def test_pipeline_checkpoint_resume(spark, transcripts, tmp_path):
    calls = {"n": 0}

    def step1(df):
        calls["n"] += 1
        return sessionize(df, gap_seconds=300.0)

    def step2(df):
        return df.groupBy("conv_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        )

    pipe = FeaturePipeline([FeatureStep("sess", step1), FeatureStep("agg", step2)])
    ckpt = str(tmp_path / "ckpt")
    out1 = pipe.run(transcripts, checkpoint_dir=ckpt).toPandas()
    m1 = {m.step: m for m in pipe.metrics}
    assert not m1["sess"].resumed and m1["sess"].rows > 0 and m1["sess"].bytes > 0
    # lineage json written
    lineage = json.load(open(os.path.join(ckpt, "sess", "_lineage.json")))
    assert lineage["rows"] == m1["sess"].rows

    # second run resumes: step1 fn must NOT be called again
    out2 = pipe.run(transcripts, checkpoint_dir=ckpt).toPandas()
    m2 = {m.step: m for m in pipe.metrics}
    assert m2["sess"].resumed and m2["agg"].resumed
    assert calls["n"] == 1
    key = ["conv_id", "session_id"]
    assert out1.sort_values(key).reset_index(drop=True).equals(
        out2.sort_values(key).reset_index(drop=True)
    )


def test_leakage_validator_passes_for_pit_pipeline(transcripts):
    assert validate_no_leakage(
        lambda df: rolling_turn_features(df).select(
            "conv_id", "turn_idx", "ts", "roll_turns_600s", "roll_gap_mean_600s"
        ),
        transcripts,
    )


def test_leakage_validator_catches_leaky_pipeline(transcripts):
    from pyspark.sql import Window

    def leaky(df):
        # centered window: uses FUTURE rows -> must be caught
        w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(-2, 2)
        return df.select(
            "conv_id", "turn_idx", "ts",
            F.avg(F.length("text")).over(w).alias("centered_avg"),
        )

    with pytest.raises(AssertionError):
        validate_no_leakage(leaky, transcripts)


def test_salted_repartition(spark, transcripts):
    out = salted_repartition(transcripts, salt_buckets=4, threshold_rows=50)
    assert "_salt" in out.columns
    pdf = out.toPandas()
    big = pdf.groupby("conv_id")["_salt"].nunique()
    sizes = pdf.groupby("conv_id").size()
    # hot conversations get >1 salt bucket; small ones stay at one
    assert (big[sizes > 50] > 1).all()
    assert (big[sizes <= 50] == 1).all()


def test_multimodal_stub_plumbing(spark):
    from feature_extraction_spark.ops.multimodal import (
        extract_image_features,
        synth_media,
    )

    media = synth_media(spark, n=60)
    feats = extract_image_features(media, dim=8).toPandas()
    assert len(feats) == media.filter("kind = 'image'").count()
    assert feats["feat"].map(len).eq(8).all()
    assert (feats["n_bytes"] > 0).all()
    # deterministic across runs
    again = extract_image_features(synth_media(spark, n=60), dim=8).toPandas()
    assert feats.sort_values("media_id")["feat"].map(tuple).tolist() == \
        again.sort_values("media_id")["feat"].map(tuple).tolist()


def test_pipeline_checkpoint_uri_scheme(spark, transcripts, tmp_path):
    """Checkpoint/resume + lineage against an explicit file:/// URI — proves
    the metrics path goes through the Hadoop FileSystem API (north_rule: the
    production checkpoint store is HDFS/S3, where os.listdir sees nothing)."""
    calls = {"n": 0}

    def step1(df):
        calls["n"] += 1
        return sessionize(df, gap_seconds=300.0)

    pipe = FeaturePipeline([FeatureStep("sess", step1)])
    ckpt = "file://" + str(tmp_path / "uri_ckpt")
    out1 = pipe.run(transcripts, checkpoint_dir=ckpt).count()
    m1 = {m.step: m for m in pipe.metrics}
    assert m1["sess"].rows > 0 and m1["sess"].bytes > 0 and m1["sess"].files > 0
    # lineage written through the FS API at the URI location
    lineage = json.load(open(os.path.join(str(tmp_path / "uri_ckpt"), "sess", "_lineage.json")))
    assert lineage["rows"] == m1["sess"].rows
    assert len(lineage["partitions"]) == m1["sess"].files
    assert all(p["bytes"] > 0 for p in lineage["partitions"])

    out2 = pipe.run(transcripts, checkpoint_dir=ckpt).count()
    m2 = {m.step: m for m in pipe.metrics}
    assert m2["sess"].resumed and calls["n"] == 1 and out1 == out2


def test_bmp_codec_roundtrip_and_validation():
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_pixels_bgr,
        decode_bmp,
        encode_bmp,
    )

    # roundtrip across widths that do and don't need row padding
    for mid, (w, h) in enumerate([(8, 8), (9, 11), (15, 16), (16, 9)]):
        px = _synth_pixels_bgr(mid * 7 + 1, w, h)
        blob = encode_bmp(px)
        stride = (w * 3 + 3) // 4 * 4
        assert len(blob) == 54 + h * stride
        back = decode_bmp(blob)
        assert back.shape == (h, w, 3)
        assert (back == px).all()

    # top-down variant (negative height) decodes to the same pixels
    px = _synth_pixels_bgr(3, 9, 5)
    blob = bytearray(encode_bmp(px))
    import struct as _s

    _s.pack_into("<i", blob, 22, -5)  # height := -h (top-down)
    rows = np.frombuffer(bytes(blob[54:]), dtype=np.uint8).reshape(5, 28)
    flipped = rows[::-1].tobytes()
    blob[54:] = flipped
    assert (decode_bmp(bytes(blob)) == px).all()

    import pytest as _pt

    with _pt.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + bytes(100))
    with _pt.raises(ValueError, match="short"):
        decode_bmp(b"BM")
    with _pt.raises(ValueError, match="truncated"):
        decode_bmp(encode_bmp(px)[:-4])
    with _pt.raises(ValueError, match="24-bit"):
        bad = bytearray(encode_bmp(px))
        _s.pack_into("<H", bad, 28, 8)  # bpp := 8
        decode_bmp(bytes(bad))


def test_bmp_stats_distributed_matches_numpy(spark):
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_pixels_bgr,
        extract_bmp_stats,
        synth_media_bmp,
    )

    media = synth_media_bmp(spark, n=30)
    got = {r.media_id: r for r in extract_bmp_stats(media).collect()}
    assert len(got) == 30
    for mid in range(30):
        w, h = 8 + mid % 9, 8 + (mid * 3) % 9
        px = _synth_pixels_bgr(mid, w, h).astype(np.int64)
        r = got[mid]
        assert (r.width, r.height) == (w, h)
        assert r.n_bytes == 54 + h * ((w * 3 + 3) // 4 * 4)
        # exact: same integer sum, same single division
        assert r.mean_b == px[:, :, 0].sum() / (w * h)
        assert r.mean_g == px[:, :, 1].sum() / (w * h)
        assert r.mean_r == px[:, :, 2].sum() / (w * h)


def test_wav_codec_roundtrip_and_validation():
    import numpy as np
    import pytest as _pt

    from feature_extraction_spark.ops.multimodal import (
        _synth_samples,
        decode_wav,
        encode_wav,
    )

    s = _synth_samples(7, 123)
    blob = encode_wav(s, 16000)
    back, sr = decode_wav(blob)
    assert sr == 16000 and (back == s).all()

    # tolerates an extra chunk before data (chunk-walking parser)
    extra = blob[:12] + b"LIST\x04\x00\x00\x00INFO" + blob[12:]
    back2, sr2 = decode_wav(extra)
    assert sr2 == 16000 and (back2 == s).all()

    with _pt.raises(ValueError):
        decode_wav(b"RIFX" + blob[4:])
    with _pt.raises(ValueError):
        decode_wav(blob[:-10])  # truncated data chunk
    bad = bytearray(blob)
    bad[22] = 2  # stereo
    with _pt.raises(ValueError):
        decode_wav(bytes(bad))
    with _pt.raises(ValueError):
        encode_wav(np.zeros((2, 2), dtype=np.int16), 8000)


def test_wav_stats_distributed_matches_numpy(spark):
    import numpy as np

    from feature_extraction_spark.ops.multimodal import (
        _synth_samples,
        extract_wav_stats,
        synth_media_wav,
    )

    media = synth_media_wav(spark, n=20)
    got = {r.media_id: r for r in extract_wav_stats(media).collect()}
    assert len(got) == 20
    for mid in range(20):
        k = 400 + mid % 257
        sr = 8000 + (mid % 4) * 4000
        s = _synth_samples(mid, k).astype(np.int64)
        r = got[mid]
        assert r.n_samples == k and r.sample_rate == sr
        assert r.n_bytes == 44 + 2 * k
        assert r.duration_ms == k * 1000.0 / sr
        assert r.peak == int(np.abs(s).max())
        assert r.rms == float(np.sqrt((s * s).sum() / k))
        assert r.mean_amp == float(s.sum() / k)
