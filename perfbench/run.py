"""Benchmark command: one workload, one seed, one Python process with one
Spark session, driven as a closed loop (each operation starts when the
previous one returns).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

With ``--trace 0`` the operations run untraced and the end-to-end metrics
are printed; with ``--trace 1`` each layer is measured (see README.md) and
the per-layer metrics are printed. Every run checks its outputs against
computations made apart from the program. The last line of standard output
is one JSON object: correct, attempted, failed, metrics. The line before it
holds host-drift readings (steal seconds, calibration time).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import observe  # noqa: E402
from workloads import WORKLOADS  # noqa: E402  (imports the package under test)

WORK = os.path.join(ROOT, ".bench_work")
CORES = min(4, os.cpu_count() or 4)
CACHED_SEEDS = 6        # input sets kept per workload
TRACE_ROUNDS = 2        # rounds of a traced run: a fixed count, so the state an
                        # asr_feature_store prefix reads is the same in every run
SETUPS = 3              # cold set-ups per run; setup_s is their median
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"
MB = 2**20


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- inputs -----------------------------------------------------------------

def ensure_inputs(workload: str, seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) the inputs for (workload, seed) in a child
    process; returns (dir, meta, seconds spent generating)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha1(f.read()).hexdigest()[:10]  # a changed generator regenerates
    base = os.path.join(WORK, "inputs", workload)
    path = os.path.join(base, f"{gen_id}-s{seed}")
    t = time.perf_counter()
    if not os.path.exists(os.path.join(path, "meta.json")):
        shutil.rmtree(path, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), path],
                       check=True, timeout=120)
        old = sorted((os.path.getmtime(p), p) for p in
                     (os.path.join(base, d) for d in os.listdir(base)) if p != path)
        for _, p in old[: max(0, len(old) - CACHED_SEEDS + 1)]:
            shutil.rmtree(p, ignore_errors=True)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return path, meta, time.perf_counter() - t


# -- Spark session ----------------------------------------------------------

def start_session():
    from feature_extraction_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The session's own driver-memory setting, and a fixed initial heap and
    # young generation. G1 sizes the heap and its young generation from GC
    # pause times, which follow the host's load, so peak RSS varied with
    # it: 3.9-5.9 GB over ten pit_features seeds at the 8 GB default, and
    # 1.45-2.24 GB over ten asr_feature_store seeds with a 2 GB cap alone.
    # With the heap and young generation fixed, what still moves peak RSS is
    # the memory the program retains.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # keep every scratch file of the JVM and of Python inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    t = time.perf_counter()
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    log(f"session stopped in {time.perf_counter() - t:.2f} s")


# -- loops ------------------------------------------------------------------

@contextmanager
def timed_calls(sc, targets, group: str, calls: dict):
    """For the duration, wrap each (module, name) of ``targets``: a call runs
    under its own job group below ``group`` and appends its wall time and
    group to ``calls[name]``."""
    saved = [(m, n, getattr(m, n)) for m, n in targets]
    for m, n, fn in saved:
        def wrapped(*a, _fn=fn, _n=n, **kw):
            sub = f"{group}/{_n}{len(calls.get(_n, []))}"
            sc.setJobGroup(sub, sub)
            t = time.perf_counter()
            try:
                return _fn(*a, **kw)
            finally:
                calls.setdefault(_n, []).append({"wall": time.perf_counter() - t, "group": sub})
                sc.setJobGroup(group, group)

        setattr(m, n, wrapped)
    try:
        yield
    finally:
        for m, n, fn in saved:
            setattr(m, n, fn)


class Runner:
    def __init__(self, wl, seconds: float):
        self.wl = wl
        self.seconds = seconds
        self.sc = wl.spark.sparkContext
        self.store = observe.StatusStore(wl.spark)
        self.watch = observe.ProcWatch(jvm_pid())
        self.ops: list[dict] = []
        self.calls: dict[str, list[dict]] = {}  # the wrapped eager calls of traced ops

    def run_op(self, k: int, group: str, traced: bool = False) -> dict:
        """One operation under its own job group, with its wall time, CPU,
        JVM CPU, GC and stage totals. A traced operation also times the
        workload's eager calls and reads the task skew."""
        self.sc.setJobGroup(group, group)
        calls: dict[str, list[dict]] = {}
        gc0, jvm0, cpu0 = self.store.gc_s(), self.watch.jvm_cpu_s(), self.watch.cpu_s()
        t = time.perf_counter()
        err = []
        written = 0
        try:
            with timed_calls(self.sc, self.wl.eager if traced else (), group, calls):
                written = self.wl.op(k)
        except Exception:  # an operation that raises counts as failed
            err = [traceback.format_exc(limit=3)]
        wall = time.perf_counter() - t
        rec = {"k": k, "wall": wall, "cpu": self.watch.cpu_s() - cpu0,
               "jvm_cpu": self.watch.jvm_cpu_s() - jvm0, "write_bytes": written, "err": err}
        rec["gc"] = self.store.gc_s() - gc0
        subs = [c["group"] for cs in calls.values() for c in cs]
        rec["totals"] = self.store.group_totals([group, *subs], skew=traced)
        for name, cs in calls.items():
            for c in cs:
                c["totals"] = self.store.group_totals(c["group"])
            self.calls.setdefault(name, []).extend(cs)
        log(f"{group}: {wall:.3f} s wall, {rec['cpu']:.2f} s cpu, {rec['gc']:.3f} s gc")
        self.ops.append(rec)
        return rec

    def timed(self) -> None:
        """The warm-up operations, then the timed ones: the workload's
        count per 10 s of ``--seconds``, at least two."""
        n = max(2, round(self.wl.timed_ops * self.seconds / 10))
        for k in range(self.wl.warmup + min(n, self.wl.max_ops - self.wl.warmup)):
            self.run_op(k, f"op{k}")


def end_to_end(r: Runner, setup_s: float, rss_mb: float) -> dict:
    timed = r.ops[r.wl.warmup :]
    walls = [o["wall"] for o in timed]
    med = statistics.median
    return {
        "op_s": (med(walls), "s"),
        "first_op_s": (r.ops[0]["wall"], "s"),
        "rows_per_s": (sum(r.wl.rows_of(o["k"]) for o in timed) / sum(walls), "1/s"),
        "cpu_s": (med(o["cpu"] for o in timed), "s"),
        "shuffle_mb": (med(o["totals"].shuffle_mb for o in timed), "MB"),
        "write_mb": (med(o["write_bytes"] / MB for o in timed), "MB"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


# -- traced run -------------------------------------------------------------

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.nontask_cpu_s": "s", "spark.gc_s": "s",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "sources.scan_mb": "MB", "sources.scan_s": "s",
    "sources.msasr.construct_s": "s", "sources.msasr.construct_tasks": "count",
    "sources.msasr.parse_s": "s", "sources.msasr.files": "count",
    "sources.msasr.parsed_ratio": "ratio",
    **{f"ops.{l}.{m}": u
       for l in ("sessionize", "windows", "backfill", "asof", "turn_stats")
       for m, u in (("self_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"),
                    ("exchanges", "count"), ("sorts", "count"), ("window_ops", "count"))},
    "ops.asof.broadcast_mb": "MB", "ops.asof.skew": "ratio",
    **{f"ops.{l}.{m}": u
       for l in ("timing", "confidence", "lexdiv")
       for m, u in (("self_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"))},
    "ops.timing.exploded_rows": "count",
    "ops.incremental.partial_s": "s", "ops.incremental.merge_s": "s",
    "sources.snapshots.commit_s": "s", "sources.snapshots.data_write_s": "s",
    "sources.snapshots.metadata_s": "s", "sources.snapshots.files_written": "count",
    "sources.snapshots.read_s": "s", "sources.snapshots.expire_s": "s",
    "streaming.feature_store.replay_skip_s": "s",
    "streaming.feature_store.state_rows": "count",
    "streaming.feature_store.write_amp": "ratio",
    "trace.untraced_op_s": "s", "trace.traced_op_s": "s", "trace.overhead": "ratio",
}
LAYER_METRICS = ("self_s", "task_cpu_s", "shuffle_mb", "exchanges", "sorts", "window_ops")


def _force(r: Runner, group: str, df) -> dict:
    r.sc.setJobGroup(group, group)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t
    return {"wall": wall, "totals": r.store.group_totals(group, skew=True),
            "plan": r.store.plan_counts(r.store.last_execution())}


def layer_figures(prefix: dict[str, list[dict]]) -> dict[str, dict]:
    """Per layer: the median wall time of its prefix (``wall``) and, as the
    difference from the previous prefix, its self time, task CPU, shuffle
    bytes and plan counts; ``skew`` is its prefix's own."""
    med = statistics.median
    out, prev = {}, {}
    for layer, samples in prefix.items():
        last = samples[-1]
        cur = {"self_s": med(s["wall"] for s in samples),
               "task_cpu_s": med(s["totals"].task_cpu_s for s in samples),
               "shuffle_mb": last["totals"].shuffle_mb, **last["plan"]}
        out[layer] = {k: v - prev.get(k, 0) for k, v in cur.items()}
        out[layer].update(wall=cur["self_s"], skew=last["totals"].skew)
        prev = cur
    return out


def traced(r: Runner) -> tuple[dict, dict, list[dict]]:
    """After the warm-up, TRACE_ROUNDS rounds of: an untraced and a traced
    operation in alternating order, then the next operation's cumulative
    prefixes, each forced into the noop sink under its own job group.
    Returns the generic per-layer metrics, the figures per layer and the
    traced operations, from which the workload reads its own metrics."""
    wl, med = r.wl, statistics.median
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in range(wl.warmup):
        r.run_op(k, f"warm{k}")
    k = wl.warmup
    untraced, traced_ops, prefix = [], [], {}
    for rnd in range(TRACE_ROUNDS):
        for is_traced in ((True, False) if rnd % 2 == 0 else (False, True)):
            rec = r.run_op(k, f"{'traced' if is_traced else 'plain'}{k}", traced=is_traced)
            (traced_ops if is_traced else untraced).append(rec)
            k += 1
        r.sc.setJobGroup(f"prefixes{k}", "prefixes")
        for layer, df in wl.prefixes(k):
            prefix.setdefault(layer, []).append(_force(r, f"{layer}#{rnd}", df))
    out["trace.untraced_op_s"] = med(o["wall"] for o in untraced)
    out["trace.traced_op_s"] = med(o["wall"] for o in traced_ops)
    out["trace.overhead"] = out["trace.traced_op_s"] / out["trace.untraced_op_s"]

    last = traced_ops[-1]["totals"]
    out.update({
        "spark.jobs": last.jobs, "spark.stages": last.stages, "spark.tasks": last.tasks,
        "spark.task_cpu_s": med(o["totals"].task_cpu_s for o in traced_ops),
        "spark.nontask_cpu_s": med(o["jvm_cpu"] - o["totals"].task_cpu_s for o in traced_ops),
        "spark.gc_s": med(o["gc"] for o in traced_ops),
        "spark.spill_mb": med(o["totals"].spill_mb for o in traced_ops),
        "spark.task_skew": med(o["totals"].skew for o in traced_ops),
    })
    layers = layer_figures(prefix)
    for layer, fig in layers.items():
        for m in LAYER_METRICS:
            if f"{layer}.{m}" in out:
                out[f"{layer}.{m}"] = fig[m]
    return out, layers, traced_ops


# -- main -------------------------------------------------------------------

def main() -> int:
    started = observe.process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    steal0, t = observe.steal_s(), time.perf_counter()
    calib0 = observe.calibrate()
    calib_s = time.perf_counter() - t
    inputs, meta, gen_s = ensure_inputs(args.workload, args.seed)
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(out_dir, ignore_errors=True)

    spark, start_s = start_session()
    wl = WORKLOADS[args.workload](spark, inputs, meta, WORK)
    wl.locate()
    # from process start, less input generation and the calibration above
    setups = [time.time() - started - gen_s - calib_s]
    starts = [start_s]

    try:
        r = Runner(wl, args.seconds)
        if args.trace:
            per_layer, layers, traced_ops = traced(r)
        else:
            r.timed()
        rss_mb = r.watch.peak_rss_mb()
        n_ops = len(r.ops)
        extra = wl.extra_ops()  # e.g. a replayed batch id, which must change nothing
        t = time.perf_counter()
        try:
            checked = wl.check(n_ops)
        except Exception:
            checked = [[traceback.format_exc(limit=3)]] * n_ops
        log(f"outputs checked in {time.perf_counter() - t:.2f} s")
        if args.trace:
            per_layer.update(wl.readings(layers, r.calls, traced_ops))
    except BaseException:
        stop_session(spark)
        raise
    # an operation that raised is failed; one whose output differs is also
    # wrong, unless a known fault of the program explains the difference
    wrong = any(m for c, o in zip(checked, r.ops) if not o["err"]
                for m in c if not m.startswith(checks.KNOWN_FAULT))
    wrong = wrong or any(extra)
    errors = [o["err"] + c for o, c in zip(r.ops, checked)] + extra
    for i, e in enumerate(errors):
        if e:
            more = f" (and {len(e) - 1} more)" if len(e) > 1 else ""
            log(f"operation {i} failed: {e[0]}{more}")
    wl.cleanup()

    # further cold set-ups: a fresh JVM and session, inputs located again
    stop_session(spark)
    for _ in range(SETUPS - 1):
        t = time.perf_counter()
        spark, s = start_session()
        WORKLOADS[args.workload](spark, inputs, meta, WORK).locate()
        setups.append(time.perf_counter() - t)
        starts.append(s)
        stop_session(spark)
    setup_s = statistics.median(setups)

    if args.trace:
        per_layer["session.start_s"] = statistics.median(starts)
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(r, setup_s, rss_mb).items()}
    print(json.dumps({"host": {
        "steal_s": observe.steal_s() - steal0,
        "calibration_s": [calib0, observe.calibrate()],
        "setups_s": setups, "input_generation_s": gen_s,
    }}))
    print(json.dumps({
        "correct": not wrong,
        "attempted": len(errors),
        "failed": sum(1 for e in errors if e),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
