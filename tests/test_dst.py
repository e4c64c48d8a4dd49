"""TIMESTAMP_NTZ input across daylight-saving changes: read as UTC
wall-clock, the turn table gets the same gaps, sessions, as-of matches and
interval containments in every session zone. America/New_York skips NTZ
2024-03-10 02:00-03:00 and repeats 2024-11-03 01:00-02:00 (05:00-07:00
UTC), so a cast through that zone reorders and merges the turns below."""

import calendar
import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from feature_extraction_spark.ops.asof import asof_join
from feature_extraction_spark.ops.rangejoin import interval_join
from feature_extraction_spark.ops.sessionize import sessionize
from feature_extraction_spark.ops.windows import with_inter_turn_latency
from feature_extraction_spark.sources.io import read_transcripts

GAP_S = 1200

TURNS = {
    "spring": [(2024, 3, 10, h, m) for h, m in
               [(1, 40), (1, 55), (2, 20), (2, 45), (3, 10), (3, 35)]],
    "fall": [(2024, 11, 3, h, m) for h, m in
             [(0, 50), (1, 20), (1, 50), (5, 10), (5, 40), (6, 10), (6, 40)]],
}
EVENTS = [
    ("spring", dt.datetime(2024, 3, 10, 2, 0), 1.0),
    ("spring", dt.datetime(2024, 3, 10, 3, 0), 2.0),
    ("fall", dt.datetime(2024, 11, 3, 1, 30), 3.0),
    ("fall", dt.datetime(2024, 11, 3, 6, 0), 4.0),
]
# New York reads the first interval's start after its end
INTERVALS = [
    ("spring", dt.datetime(2024, 3, 10, 2, 40), dt.datetime(2024, 3, 10, 3, 5)),
    ("fall", dt.datetime(2024, 11, 3, 1, 10), dt.datetime(2024, 11, 3, 5, 20)),
]


def _us(ts: dt.datetime) -> int:
    return calendar.timegm(ts.timetuple()) * 1_000_000


@pytest.fixture(scope="module")
def ntz_paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dst")
    turns = [
        (conv, i, "user", "a b", None, dt.datetime(*t))
        for conv, ts in TURNS.items()
        for i, t in enumerate(ts)
    ]
    spark.createDataFrame(
        turns,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz",
    ).coalesce(1).write.parquet(str(root / "turns"))
    spark.createDataFrame(
        EVENTS, "conv_id string, ts timestamp_ntz, value double"
    ).coalesce(1).write.parquet(str(root / "events"))
    return str(root / "turns"), str(root / "events")


def _features(spark, turns_path: str, events_path: str) -> list[tuple]:
    t = read_transcripts(spark, turns_path)
    assert t.schema["ts"].dataType == TimestampType()
    s = with_inter_turn_latency(sessionize(t, gap_seconds=GAP_S))
    # the events stay NTZ: asof_join reads its right side as UTC itself
    ev = spark.read.parquet(events_path)
    j = asof_join(s, ev, on="conv_id", value_cols=["value"])
    rows = j.select(
        "conv_id", "turn_idx", "session_id", "gap_s",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_asof").alias("asof_us"),
        "value_asof",
    ).collect()
    return sorted(tuple(r) for r in rows)


def _contained(spark, turns_path: str) -> list[tuple]:
    iv = spark.createDataFrame(
        INTERVALS, "conv_id string, start timestamp_ntz, end timestamp_ntz"
    )
    j = interval_join(spark.read.parquet(turns_path), iv, granule_seconds=60, on="conv_id")
    return sorted((r.conv_id, r.turn_idx) for r in j.collect())


def _expected() -> list[tuple]:
    out = []
    for conv, ts in TURNS.items():
        us = [_us(dt.datetime(*t)) for t in ts]
        ev = [(_us(e), v) for c, e, v in EVENTS if c == conv]
        session = 0
        for i, u in enumerate(us):
            gap = None if i == 0 else (u - us[i - 1]) / 1e6
            session += int(gap is not None and gap > GAP_S)
            match = [(e, v) for e, v in ev if e <= u]
            asof_us, value = match[-1] if match else (None, None)
            out.append((conv, i, session, gap, u, asof_us, value))
    return sorted(out)


def test_ntz_turns_same_in_every_session_zone(spark, ntz_paths):
    saved = spark.conf.get("spark.sql.session.timeZone")
    got = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got[tz] = _features(spark, *ntz_paths), _contained(spark, ntz_paths[0])
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    contained = sorted(
        (conv, i)
        for conv, ts in TURNS.items()
        for i, t in enumerate(ts)
        for c, lo, hi in INTERVALS
        if c == conv and lo <= dt.datetime(*t) < hi
    )
    assert got["America/New_York"] == got["UTC"] == (_expected(), contained)
