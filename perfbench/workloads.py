"""The workloads. Each builds its operation from the package's public
functions, lists the cumulative prefixes its traced run forces layer by
layer, and checks its outputs against ``checks``.

An operation includes building its DataFrames, because some layers launch
jobs while the DataFrame is built (the recognizer-CSV reader does)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import checks
from feature_extraction_spark.ops.asof import asof_join_auto
from feature_extraction_spark.ops.backfill import backfill
from feature_extraction_spark.ops.confidence import confidence_stats
from feature_extraction_spark.ops.incremental import merge_stat_states, partial_stat_state
from feature_extraction_spark.ops.lexdiv import lexdiv_stats
from feature_extraction_spark.ops.sessionize import sessionize
from feature_extraction_spark.ops.timing import timing_stats
from feature_extraction_spark.ops.turn_stats import verbosity_stats
from feature_extraction_spark.ops.windows import rolling_turn_features, with_role_transition
from feature_extraction_spark.sources import msasr
from feature_extraction_spark.sources.snapshots import read_snapshot
from feature_extraction_spark.streaming import feature_store
from feature_extraction_spark.streaming.feature_store import make_state_upserter


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    warmup = 2      # operations run before the timed ones
    # Timed operations per 10 s of --seconds. A fixed count, not "as many as
    # fit": later operations run faster as the JIT compiles more of the
    # plan, so a count that followed the host's speed would move the median
    # with it.
    timed_ops = 2
    max_ops = 10**9  # operations the inputs allow (asr_feature_store: one batch each)
    rows = 0        # input rows per operation
    # Eager calls the traced run times by wrapping them, as (module, name):
    # the module is the namespace the caller looks the function up in.
    eager: tuple = ()

    def __init__(self, spark, inputs: str, meta: dict, work: str):
        self.spark, self.inputs, self.meta, self.work = spark, inputs, meta, work
        self.out = os.path.join(work, "out")

    def locate(self) -> None:
        """Find the input files (part of set-up)."""

    def rows_of(self, k: int) -> int:
        """Input rows of operation ``k``."""
        return self.rows

    def op(self, k: int) -> int:
        """Run operation ``k``; return the bytes it wrote to storage."""
        raise NotImplementedError

    def prefixes(self, k: int) -> list[tuple[str, object]]:
        """Cumulative prefixes of operation ``k``, as (layer, DataFrame)."""
        raise NotImplementedError

    def readings(self, layers: dict, calls: dict, traced: list[dict]) -> dict:
        """The workload's own per-layer metrics, from the prefix figures per
        layer, the wrapped eager calls and the traced operations."""
        return {}

    def extra_ops(self) -> list[list[str]]:
        """Operations made after the loop, as failure messages each."""
        return []

    def check(self, n_ops: int) -> list[list[str]]:
        """Failure messages per operation."""
        raise NotImplementedError

    @staticmethod
    def _guarded(fn, *a) -> list[str]:
        try:
            return fn(*a)
        except Exception as e:  # e.g. an operation that raised left no output
            return [f"{type(e).__name__}: {e}"]

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


class PitFeatures(Workload):
    """Point-in-time training matrix over a parquet transcripts table."""

    name = "pit_features"
    warmup = 2      # the cold first operation, then the leakage operation
    LEAKAGE_OP = 1  # runs over the input cut at a fixed time

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.meta["rows"]

    def _read(self, sub: str = ""):
        r = self.spark.read
        base = os.path.join(self.inputs, sub)
        return tuple(r.parquet(os.path.join(base, n)) for n in ("transcripts", "events", "subjects"))

    def locate(self) -> None:
        for n in ("transcripts", "events", "subjects"):
            if not glob.glob(os.path.join(self.inputs, n, "*.parquet")):
                raise FileNotFoundError(os.path.join(self.inputs, n))

    def _chain(self, t, events, subjects):
        x = t
        yield "sources.scan", x
        x = sessionize(x, gap_seconds=checks.SESSION_GAP_S)
        yield "ops.sessionize", x
        x = with_role_transition(x)
        x = rolling_turn_features(x, trailing_seconds=checks.TRAILING_S,
                                  trailing_rows=checks.TRAILING_ROWS)
        yield "ops.windows", x
        x = x.withColumn(
            "tool_val", F.when(F.col("tool").isNotNull(), F.length("tool").cast("double"))
        )
        x = backfill(x, ["tool_val"])
        yield "ops.backfill", x
        x = asof_join_auto(x, events, on="conv_id", value_cols=["ev_score", "ev_kind"],
                           tolerance_s=float(checks.EVENT_TOLERANCE_S), suffix="_ev")
        x = asof_join_auto(x, subjects, on="subject_id", value_cols=["tier"], suffix="_subj")
        yield "ops.asof", x
        x = x.join(verbosity_stats(t, level="conv"), on="conv_id", how="left")
        yield "ops.turn_stats", x

    def prefixes(self, k: int):
        return list(self._chain(*self._read()))

    def readings(self, layers, calls, traced):
        scan, asof = layers["sources.scan"], layers["ops.asof"]
        return {"sources.scan_s": scan["wall"], "sources.scan_mb": scan["scan_mb"],
                "ops.asof.broadcast_mb": asof["broadcast_mb"], "ops.asof.skew": asof["skew"]}

    def _run(self, sub: str, dest: str) -> int:
        *_, (_, df) = self._chain(*self._read(sub))
        df.write.mode("overwrite").parquet(dest)
        return dir_bytes(dest)

    def rows_of(self, k: int) -> int:
        return self.meta["cut_rows"] if k == self.LEAKAGE_OP else self.rows

    def op(self, k: int) -> int:
        return self._run("cut" if k == self.LEAKAGE_OP else "", os.path.join(self.out, f"op{k}"))

    def check(self, n_ops: int) -> list[list[str]]:
        """Every full-input output against DuckDB and numpy; the leakage
        operation's output against the first operation's."""
        exp = checks.pit_expected(self.inputs)
        conv = checks.pit_conv_expected(self.inputs, self.meta["sample_convs"])
        out = [os.path.join(self.out, f"op{k}") for k in range(n_ops)]
        return [
            self._guarded(checks.check_leakage, out[0], out[k]) if k == self.LEAKAGE_OP
            else self._guarded(checks.check_pit, out[k], exp, conv)
            for k in range(n_ops)
        ]


class AsrFeatureStore(Workload):
    """Micro-batches of recognizer CSVs. One operation reads one batch of
    calls with the reference's reader, writes one wide feature row per call
    and folds the batch's segment durations into the snapshot-committed
    per-call state table (one upsert, one commit). The first batch also
    carries a backlog of earlier calls, so every later commit merges into
    a state of about 20,000 entities."""

    name = "asr_feature_store"
    warmup = 2      # the cold first batch (with the backlog) and one more
    eager = (
        (msasr, "read_recognizer_csv"),
        *((feature_store, n) for n in ("commit_snapshot", "read_snapshot", "expire_snapshots")),
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.table = os.path.join(self.out, "state")
        self.batches: list[list[str]] = []
        self.backlog = os.path.join(self.inputs, "backlog.parquet")
        self.upsert = None
        self.replay_s = 0.0
        self.state_bytes: dict[int, int] = {}  # bytes committed by operation k

    def locate(self) -> None:
        calls = os.path.join(self.inputs, "calls")
        self.batches = [[os.path.join(calls, f"{c}.csv") for c in b]
                        for b in self.meta["batch_calls"]]
        for f in (self.backlog, *self.batches[0]):
            if not os.path.exists(f):
                raise FileNotFoundError(f)
        self.upsert = make_state_upserter(self.table, value_col="v", level="conv")
        self.max_ops = len(self.batches)

    def rows_of(self, k: int) -> int:
        return self.meta["batch_rows"][k] + (self.meta["backlog_rows"] if k == 0 else 0)

    def construct(self, k: int):
        raw = msasr.read_recognizer_csv(self.spark, self.batches[k])
        return raw.select(
            F.col("group_id").alias("conv_id"),
            F.col("sort_key").cast("int").alias("turn_idx"),
            F.timestamp_micros(F.expr("offset div 10")).alias("ts"),
            "text", "duration", "offset", "confidence", "word_timing",
        )

    def values(self, k: int, segs):
        """The rows batch ``k`` folds into the state: segment seconds per
        call, and the backlog with the first batch."""
        v = segs.select("conv_id", (F.col("duration") / F.lit(checks.DURATION_UNITS)).alias("v"))
        return v.unionByName(self.spark.read.parquet(self.backlog)) if k == 0 else v

    def stack(self, df):
        x = df
        yield "sources.msasr", x
        x = timing_stats(df, level="conv")
        yield "ops.timing", x
        x = x.join(confidence_stats(df, level="conv"), on="conv_id", how="left")
        yield "ops.confidence", x
        x = x.join(verbosity_stats(df, level="conv"), on="conv_id", how="left")
        yield "ops.turn_stats", x
        x = x.join(lexdiv_stats(df, level="conv"), on="conv_id", how="left")
        yield "ops.lexdiv", x

    def prefixes(self, k: int):
        """The feature chain of batch ``k`` cumulatively, then the lazy
        layers of its commit: the batch's partial state, and its merge with
        the stored state."""
        segs = self.construct(k)
        partial = partial_stat_state(self.values(k, segs), "v", level="conv")
        merged = merge_stat_states(read_snapshot(self.spark, self.table), partial)
        return [*self.stack(segs), ("ops.incremental.partial", partial),
                ("ops.incremental.merge", merged)]

    def op(self, k: int) -> int:
        if k >= len(self.batches):
            raise RuntimeError(f"only {len(self.batches)} batches generated")
        segs = self.construct(k)
        *_, (_, df) = self.stack(segs)
        dest = os.path.join(self.out, f"op{k}")
        df.write.mode("overwrite").parquet(dest)
        self.upsert(self.values(k, segs), k)
        self.state_bytes[k] = self.version_bytes(k + 1)
        return dir_bytes(dest) + self.state_bytes[k]

    def manifest(self, v: int) -> dict:
        with open(os.path.join(self.table, "metadata", f"v{v}.manifest.json")) as f:
            return json.load(f)

    def version_bytes(self, v: int) -> int:
        meta = os.path.join(self.table, "metadata")
        files = glob.glob(os.path.join(meta, f"v{v}.*")) + glob.glob(os.path.join(meta, f".v{v}.*"))
        return dir_bytes(os.path.join(self.table, "data", f"v{v}")) + sum(
            os.path.getsize(f) for f in files
        )

    def replay(self) -> list[str]:
        """Re-deliver the last committed batch id: the state must not move."""
        before = checks.latest_state(self.table)
        k = before[1]["stream_batch_id"]
        rows = self.values(k, self.construct(k))  # the reader launches jobs here
        t = time.perf_counter()
        self.upsert(rows, k)
        self.replay_s = time.perf_counter() - t
        after = checks.latest_state(self.table)
        if before[0] != after[0] or not before[2].equals(after[2]):
            return [f"asr_feature_store: replay of batch {k} changed the state"]
        return []

    def extra_ops(self) -> list[list[str]]:
        return [self._guarded(self.replay)]

    def check(self, n_ops: int) -> list[list[str]]:
        """Every call of every batch against numpy; the state after the last
        commit against DuckDB over every folded row."""
        res = []
        for k in range(n_ops):
            exp = {os.path.basename(p)[:-4]: checks.asr_call_expected(p) for p in self.batches[k]}
            res.append(self._guarded(checks.check_asr, os.path.join(self.out, f"op{k}"),
                                     len(self.batches[k]), exp))
        files = [f for b in self.batches[:n_ops] for f in b]
        res[-1] += self._guarded(checks.check_state, self.table, self.backlog, files,
                                 n_ops, n_ops - 1)
        return res

    def readings(self, layers, calls, traced):
        med = statistics.median
        construct, commit = calls["read_recognizer_csv"], calls["commit_snapshot"]
        k = traced[-1]["k"]
        # non-NULL parsed word_timing arrays per input string (none is empty)
        parsed = self.construct(k).where(F.col("word_timing").isNotNull()).count()
        man = self.manifest(k + 1)
        return {
            "sources.msasr.construct_s": med(c["wall"] for c in construct),
            "sources.msasr.construct_tasks": construct[-1]["totals"].tasks,
            "sources.msasr.parse_s": layers["sources.msasr"]["wall"],
            "sources.msasr.files": len(self.batches[k]),
            "sources.msasr.parsed_ratio": parsed / self.meta["batch_rows"][k],
            "ops.timing.exploded_rows": layers["ops.timing"]["generated_rows"],
            # the partial state's prefix re-reads the batch: its time over the scan's
            "ops.incremental.partial_s": layers["ops.incremental.partial"]["wall"]
            - layers["sources.msasr"]["wall"],
            "ops.incremental.merge_s": layers["ops.incremental.merge"]["self_s"],
            "sources.snapshots.commit_s": med(c["wall"] for c in commit),
            "sources.snapshots.data_write_s": med(c["totals"].job_s for c in commit),
            "sources.snapshots.metadata_s": med(c["wall"] - c["totals"].job_s for c in commit),
            "sources.snapshots.files_written": len(man["files"]),
            "sources.snapshots.read_s": med(c["wall"] for c in calls["read_snapshot"]),
            "sources.snapshots.expire_s": med(c["wall"] for c in calls["expire_snapshots"]),
            "streaming.feature_store.replay_skip_s": self.replay_s,
            "streaming.feature_store.state_rows": man["rows"],
            "streaming.feature_store.write_amp": med(
                self.state_bytes[o["k"]] / self.meta["batch_bytes"][o["k"]] for o in traced
            ),
        }


WORKLOADS = {w.name: w for w in (PitFeatures, AsrFeatureStore)}
