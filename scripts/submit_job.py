#!/usr/bin/env python3
"""spark-submit entry point for the flagship point-in-time pipeline.

This file is intentionally self-contained except for the
``feature_extraction_spark`` package, which MUST arrive on the Python path
via ``--py-files dist/feature_extraction_spark.zip`` (BASELINE.json
ships-as requirement) — the smoke harness (scripts/submit_smoke.py) runs it
from a scratch cwd with a scrubbed PYTHONPATH so a successful run proves
the zip alone carries the engine.

Usage:
    spark-submit --master local[8] \
        --py-files dist/feature_extraction_spark.zip \
        submit_job.py <events_parquet_dir> [gap_seconds]

Prints one JSON line: {"rows": N, "hash": <order-independent xxhash64 sum>}.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    events_path = sys.argv[1]
    gap_s = float(sys.argv[2]) if len(sys.argv) > 2 else 3600.0

    # spark-submit provides the session; builder picks up the submitted conf
    spark = SparkSession.builder.appName("fes-flagship-submit").getOrCreate()

    # import AFTER session start: proves the zip distributed by --py-files
    # is what resolves the package (driver and executors alike)
    from feature_extraction_spark.ops.backfill import backfill
    from feature_extraction_spark.ops.sessionize import sessionize
    from feature_extraction_spark.ops.windows import (
        rolling_turn_features,
        with_role_transition,
    )
    from feature_extraction_spark.sources.io import with_utc_ts

    e = with_utc_ts(spark.read.parquet(events_path))
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.col("value"),
    )
    t = sessionize(t, gap_seconds=gap_s)
    t = with_role_transition(t)
    t = rolling_turn_features(t, trailing_seconds=3600, trailing_rows=10)
    t = t.withColumn("pv", F.when(F.col("role") == "purchase", F.col("value")))
    t = backfill(t, ["pv"])

    out = t.select(
        "conv_id", "turn_idx", "session_id", "role_transition",
        F.round("gap_s", 6).alias("gap_s"),
        "roll_turns_3600s",
        F.round("roll_wc_mean_10", 6).alias("roll_wc_mean_10"),
        F.round("pv_filled", 6).alias("pv_filled"),
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        # summed in decimal, wrapped to 64 bits below: a bigint sum
        # overflows, which ANSI mode (Spark's default) raises as an error
        F.sum(F.xxhash64(*out.columns).cast("decimal(38,0)")).alias("hash"),
    ).collect()[0]
    h = (int(agg["hash"]) + 2**63) % 2**64 - 2**63
    print(json.dumps({"rows": agg["rows"], "hash": h}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
