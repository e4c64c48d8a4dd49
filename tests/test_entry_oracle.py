"""Mimic the driver's t2 gate: run every __spark_entry__.queries() entry and
its DuckDB oracle_sql() twin at sf0.001, compare row count, schema (sorted
column names), and values (rows sorted, floats to 1e-6)."""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # decimals and other exotics -> float where possible
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, na_position="first").reset_index(drop=True)
    return df


def _compare(name, got: pd.DataFrame, exp: pd.DataFrame):
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    g, e = _normalize(got), _normalize(exp)
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if np.issubdtype(np.asarray(gv).dtype, np.floating) or np.issubdtype(
            np.asarray(ev).dtype, np.floating
        ):
            assert np.allclose(
                gv.astype(float), ev.astype(float), equal_nan=True, atol=1e-6
            ), f"{name}.{c}: value mismatch"
        else:
            assert (pd.Series(gv).fillna("<null>") == pd.Series(ev).fillna("<null>")).all(), (
                f"{name}.{c}: value mismatch"
            )


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_against_oracle(spark, con, name):
    got = QUERIES[name](spark, SF).toPandas()
    if name not in ORACLES:
        assert len(got) >= 0  # rows-only check
        return
    exp = con.execute(ORACLES[name]).df()
    _compare(name, got, exp)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 5
    assert not math.isnan(float(df.count()))


# conf-sensitive subset: division-by-zero NaN guards (ANSI would throw),
# timestamp arithmetic and calendar days (a session zone would shift NTZ
# instants), and the md5-ranked sampler (string collation). The queries set
# no conf: each must give the oracle's values on a hostile session as it
# stands, and leave that session's confs as it found them
HOSTILE_SUBSET = [
    "timing_stats_events",
    "rolling_events_1h",
    "daily_stats_events",
    "zscore_events",
    "sessionize_events",
    "stratified_sample_docs",
    # as-of joins emit the matched right row's epoch microseconds
    "asof_purchase",
    "asof_purchase_broadcast",
    "asof_purchase_forward",
    "asof_purchase_nearest",
    "asof_purchase_tolerance",
    # day and week keys
    "multilevel_events",
    # r3 encoders/splitters: timestamp-literal cutoffs (TZ), smoothed-mean
    # division + ln of a hash uniform (ANSI), md5-ranked top-k (collation)
    "temporal_split_events",
    "target_encode_events",
    "weighted_sample_docs",
    # r4: fraction division (n_grams >= 1 by the shingle convention, but
    # ANSI division and broadcast-left-join null semantics get a row here)
    "contamination_frac_docs",
]


@pytest.mark.parametrize("name", HOSTILE_SUBSET)
def test_query_under_hostile_session_confs(spark, con, name):
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = QUERIES[name](spark, SF).toPandas()
        exp = con.execute(ORACLES[name]).df()
        _compare(name, got, exp)
        # the query must leave the hostile confs as they were
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_temporal_split_oracle_null_ts_parity(spark, tmp_path):
    """ADVICE r3: the driver testdata has zero NULL timestamps, so the
    engine/oracle NULL-split convention was never exercised by the sweep.
    Plant them here: events with NULL ts (row mode) and a user whose EVERY
    ts is NULL (entity mode) must get a NULL split in BOTH engines."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 18)
    for uid in range(6):
        for i in range(4):
            ts = base + dt.timedelta(days=uid, hours=6 * i)
            # user 4: one NULL ts among real ones (row-mode NULL only);
            # user 5: ALL ts NULL (entity-mode NULL too)
            if uid == 5 or (uid == 4 and i == 0):
                ts = None
            rows.append((uid * 10 + i, uid, "click", ts, float(i)))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "ts timestamp, value double"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    got = QUERIES["temporal_split_events"](spark, sf).toPandas()
    c = duckdb.connect()
    c.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'")
    exp = c.execute(ORACLES["temporal_split_events"]).df()
    _compare("temporal_split_events[null-ts]", got, exp)
    # NULL-split rows exist in both modes (the guard actually fired)
    assert got[got["split"].isna()]["mode"].nunique() == 2
