#!/usr/bin/env python3
"""Two-cluster-size scaling protocol (BASELINE.md): run the SAME flagship
pipeline on the SAME input at local[8] (proxy for N executors) and local[32]
(proxy for 4N), report throughput at both + scaling efficiency, and verify
the output feature matrix hashes identically across parallelism levels.

Each level runs in its own subprocess (fresh JVM) so thread pools, shuffle
partitions, and memory fractions are honest per level. Writes
BENCH/BASELINE.md and BENCH/scaling.json.

Usage: python scripts/scaling_bench.py [n_convs] [seed] [reps]

Env knobs:
  FES_JOB=flagship|dedup|ann
                           job class (dedup = MinHash-LSH + exact
                           verification over synth_documents; first CLI
                           arg is then n_docs; writes scaling_dedup.json.
                           ann = 64 probes of the PERSISTED IVF index
                           over synth_embeddings; the index is built once
                           OUTSIDE both levels — serve-path scaling; first
                           CLI arg is n_vecs; writes scaling_ann.json)
  FES_PIN=0                disable per-level CPU pinning
  FES_SHUFFLE_PARTITIONS   fixed across levels (default 64)
  FES_ADVISORY             AQE advisory partition size (e.g. 16m)
  FES_WARMUPS              untimed passes per level (default 3; 1 is
                           enough on 50M+ row inputs)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
cores = int(sys.argv[1]); tpath = sys.argv[2]
sys.path.insert(0, "@REPO@")

# Pin this level to EXACTLY its core budget (inherited by the JVM child).
# Without pinning, local[N] only caps task slots: the JVM still sees all
# host cores and runs GC / Netty shuffle / codegen / parquet IO threads on
# them, so the small level borrows cores a real N-executor cluster would
# not have — deflating T_N and the measured efficiency. Pinning makes
# local[N] mean "N cores of hardware", which is what the N-vs-4N cluster
# criterion compares. Disable with FES_PIN=0 to reproduce the old numbers.
if os.environ.get("FES_PIN", "1") != "0":
    os.sched_setaffinity(0, set(range(cores)))

from feature_extraction_spark.session import get_spark
from bench import flagship_pipeline
# Memory scales with the cluster-size proxy: an N-executor cluster brings
# M total memory, a 4N cluster brings 4M. A fixed heap would starve the
# 32-thread level (same heap / 4x concurrent tasks -> spills + GC) and
# measure memory pressure, not scaling.
# Shuffle partitions are FIXED across levels (a real job's
# spark.sql.shuffle.partitions does not change with cluster size): the
# shuffle layout and per-partition work are then identical at both levels
# and ONLY the number of concurrent slots differs.
parts = int(os.environ.get("FES_SHUFFLE_PARTITIONS", "64"))
extra = {"spark.driver.memory": f"{int(cores * 1.5)}g",
         "spark.ui.enabled": "true",
         "spark.ui.port": "0"}
# Optional AQE advisory partition size (e.g. "16m"): with the default 64m,
# AQE re-coalesces any partition count above input_bytes/64m back down, so
# a finer FES_SHUFFLE_PARTITIONS would be silently undone. Identical at
# both levels — the layout stays cluster-size-independent.
if os.environ.get("FES_ADVISORY"):
    extra["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = \
        os.environ["FES_ADVISORY"]
# Fixed file-split size across levels (ann job): Spark sizes file splits
# from bytes/defaultParallelism, so the 32-thread level otherwise plans
# ~3-4x more (smaller) scan tasks than the 8-thread level — cluster-size-
# dependent layout, same fidelity issue as shuffle partitions.
if os.environ.get("FES_MAX_PARTITION_BYTES"):
    extra["spark.sql.files.maxPartitionBytes"] = \
        os.environ["FES_MAX_PARTITION_BYTES"]
    extra["spark.sql.files.openCostInBytes"] = "0"
spark = get_spark("scaling", cores=cores, shuffle_partitions=parts,
                  extra_conf=extra)
t = spark.read.parquet(tpath)
n_turns = t.count()
job = os.environ.get("FES_JOB", "flagship")

if job == "ann":
    # queries are INPUT, not measured work: deterministic probe vectors
    # collected once, outside every timed/warmup pass. FES_PROBES x
    # FES_NPROBE defaults 64x8; 16x32 holds the total scanned volume
    # constant while quartering the per-probe serial driver work
    # (scheduling + TakeOrdered merges) — the Amdahl attribution knob.
    import pyspark.sql.functions as F
    _n_probes = int(os.environ.get("FES_PROBES", "64"))
    _nprobe = int(os.environ.get("FES_NPROBE", "8"))
    _qvecs = [
        [float(x) for x in r["embedding"]]
        for r in t.filter(F.col("vec_id") < _n_probes)
        .orderBy("vec_id").collect()
    ]
    _idx_dir = tpath + "_index"

def build():
    if job == "dedup":
        # corpus path: MinHash-LSH + exact-Jaccard verification — the
        # driver query's exact configuration (the 128 perms x 32 bands
        # default). The candidate set materializes eagerly at
        # CONSTRUCTION, so the job is rebuilt inside every forced pass to
        # count that work.
        from feature_extraction_spark.ops.dedup import minhash_lsh_dedup
        return minhash_lsh_dedup(t, threshold=0.8)
    if job == "ann":
        # serving path: 64 probes of the persisted IVF index batched as
        # ONE union plan (a serve tier dispatches many probes
        # concurrently; one job also keeps every slot busy at both
        # levels). Each probe partition-prunes to nprobe/64 of the table
        # and runs exchange-free (scan -> cosine -> TakeOrdered heaps).
        # Constructed ONCE outside the wall (unlike dedup): probe
        # construction is DRIVER-side centroid-snapshot reads + plan
        # building, which a serve tier caches — every forced pass still
        # re-executes the full distributed scan work.
        from functools import reduce
        import pyspark.sql.functions as F
        from feature_extraction_spark.ops.similarity import ivf_topk_indexed
        probes = [
            ivf_topk_indexed(spark, _idx_dir, q, k=10, nprobe=_nprobe)
            .withColumn("q", F.lit(i))
            for i, q in enumerate(_qvecs)
        ]
        return reduce(lambda a, b: a.unionByName(b), probes)
    return flagship_pipeline(t)

out = build()
def force(df):
    # noop sink evaluates EVERY column; count() would let Catalyst elide
    # the outer join and windows entirely
    df.write.format("noop").mode("overwrite").save()
# warm-up passes: JIT/codegen compilation and FS cache, untimed; the timed
# pass below measures steady-state compute (what a long cluster job sees —
# C2 promotion of the generated window/agg loops takes ~3 iterations of a
# SMALL plan; on 50M+ row inputs one pass already executes each generated
# loop millions of times, so FES_WARMUPS=1 is enough there)
for _ in range(int(os.environ.get("FES_WARMUPS", "3"))):
    force(build() if job == "dedup" else out)
sc = spark.sparkContext
sc.setJobGroup("timed", "timed scaling pass")
t0 = time.monotonic()
if job == "dedup":
    out = build()  # construction-time materialization counted in the wall
force(out)
wall = time.monotonic() - t0
sc.setJobGroup("untimed", "post-run")

# Per-stage attribution of the timed pass via the UI REST API: which
# stages fail to scale (executorRunTime vs wall), and whether spill /
# shuffle volume differs between levels.
stage_rows = []
try:
    import urllib.request
    base = sc.uiWebUrl + "/api/v1/applications/" + sc.applicationId
    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())
    timed_stages = set()
    for job in get("/jobs"):
        if job.get("jobGroup") == "timed":
            timed_stages.update(job.get("stageIds", []))
    for st in get("/stages?status=COMPLETE"):
        if st["stageId"] not in timed_stages:
            continue
        stage_rows.append({
            "stage": st["stageId"],
            "name": st["name"].split("\n")[0][:90],
            "tasks": st["numCompleteTasks"],
            "run_ms": st["executorRunTime"],
            "cpu_ms": int(st.get("executorCpuTime", 0) / 1e6),
            "input_mb": round(st.get("inputBytes", 0) / 2**20, 1),
            "sh_read_mb": round(st.get("shuffleReadBytes", 0) / 2**20, 1),
            "sh_write_mb": round(st.get("shuffleWriteBytes", 0) / 2**20, 1),
            "spill_mem_mb": round(st.get("memoryBytesSpilled", 0) / 2**20, 1),
            "spill_disk_mb": round(st.get("diskBytesSpilled", 0) / 2**20, 1),
        })
    stage_rows.sort(key=lambda r: -r["run_ms"])
except Exception as e:
    stage_rows = [{"error": str(e)[:200]}]

import pyspark.sql.functions as F
# content hash + count in one action: order-insensitive sum of row hashes.
# Double columns are rounded to 6 decimals first: float partial-aggregation
# order differs with partition count, so raw doubles differ in the last ulp
# between parallelism levels; the correctness contract is allclose-grade
# (1e-6), which this hash encodes exactly.
def _h(c, dt):
    col = F.col(c)
    if dt in ("double", "float"):
        col = F.round(col, 6)
    return F.coalesce(col.cast("string"), F.lit("<null>"))
cols = sorted((f.name, f.dataType.typeName()) for f in out.schema.fields)
# The sum runs in decimal and wraps to a signed 64-bit value here: a bigint
# sum overflows, which ANSI mode (Spark's default) raises as an error.
agg = out.select(
    F.sum(F.xxhash64(*[_h(c, dt) for c, dt in cols]).cast("decimal(38,0)")).alias("h"),
    F.count(F.lit(1)).alias("n"),
).collect()[0]
h = (int(agg["h"]) + 2**63) % 2**64 - 2**63
print(json.dumps({"cores": cores, "wall_s": wall, "rows": int(agg["n"]),
                  "hash": h, "n_turns": n_turns,
                  "turns_per_sec": n_turns / wall,
                  "pinned": os.environ.get("FES_PIN", "1") != "0",
                  "shuffle_partitions": parts,
                  "stages": stage_rows[:12]}))
"""


def run_level(cores: int, tpath: str) -> dict:
    script = CHILD.replace("@REPO@", REPO)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), tpath],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"level local[{cores}] failed")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    job = os.environ.get("FES_JOB", "flagship")
    if job == "dedup":
        tpath = f"/tmp/spark_graft_bench/docs_scaling_{n_convs}_seed{seed}"
        synth_fn, synth_kw = "synth_documents", f"n_docs={n_convs}"
    elif job == "ann":
        tpath = f"/tmp/spark_graft_bench/emb_scaling_{n_convs}_seed{seed}"
        synth_fn, synth_kw = "synth_embeddings", f"n_vecs={n_convs}"
    else:
        tpath = (
            f"/tmp/spark_graft_bench/transcripts_scaling_{n_convs}_seed{seed}"
        )
        synth_fn, synth_kw = "synth_transcripts", f"n_convs={n_convs}"

    if not os.path.exists(os.path.join(tpath, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r});"
            "from feature_extraction_spark.session import get_spark;"
            "from feature_extraction_spark.synth import {fn};"
            "spark = get_spark('gen', cores=32, shuffle_partitions=32);"
            "{fn}(spark, {kw}, seed={s})"
            ".write.mode('overwrite').parquet({p!r})"
        ).format(repo=REPO, fn=synth_fn, kw=synth_kw, s=seed, p=tpath)
        subprocess.run([sys.executable, "-c", gen], check=True, cwd=REPO)

    if job == "ann" and not os.path.exists(tpath + "_index"):
        # the index is built ONCE, outside both levels: serve-path
        # scaling measures the PROBE, not the build (which has its own
        # Lloyd-iteration cost profile and is amortized over every probe
        # of the index's lifetime)
        gen = (
            "import sys; sys.path.insert(0, {repo!r});"
            "from feature_extraction_spark.session import get_spark;"
            "from feature_extraction_spark.ops.similarity import"
            " build_ann_index;"
            "spark = get_spark('idx', cores=32, shuffle_partitions=32);"
            "build_ann_index(spark.read.parquet({p!r}), {i!r},"
            " n_centroids=64, iters=2, seed=42)"
        ).format(repo=REPO, p=tpath, i=tpath + "_index")
        subprocess.run([sys.executable, "-c", gen], check=True, cwd=REPO)

    # This box is SHARED: neighbor load swings single-shot walls 2-3x and
    # can make either level look arbitrarily bad (observed T8 69-174 s on
    # identical inputs). Protocol: alternate the two levels `reps` times
    # and take the per-level MINIMUM wall — the least-interfered sample is
    # the faithful estimate of each level's true cost, so the efficiency
    # ratio reflects the engine, not the neighbors.
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    runs8, runs32 = [], []
    for i in range(reps):
        runs8.append(run_level(8, tpath))
        runs32.append(run_level(32, tpath))
        sys.stderr.write(
            f"rep {i}: T8={runs8[-1]['wall_s']:.1f}s "
            f"T32={runs32[-1]['wall_s']:.1f}s\n"
        )
    hashes = {r["hash"] for r in runs8 + runs32}
    rows = {r["rows"] for r in runs8 + runs32}
    assert len(hashes) == 1 and len(rows) == 1, (
        "output differs across parallelism levels!"
    )
    r8 = min(runs8, key=lambda r: r["wall_s"])
    r32 = min(runs32, key=lambda r: r["wall_s"])
    eff = (r8["wall_s"] / r32["wall_s"]) / 4.0

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    stages8 = r8.pop("stages", [])
    stages32 = r32.pop("stages", [])
    for r in runs8 + runs32:
        r.pop("stages", None)
    result = {
        "job": job,
        "n_turns": r8["n_turns"],
        "local8": r8,
        "local32": r32,
        "scaling_efficiency": round(eff, 3),
        "output_hash_identical": True,
        "seed": seed,
        "n_convs": n_convs,
        "protocol": (
            f"min-of-{reps} alternating reps per level (shared host); "
            f"each level CPU-pinned to its core budget "
            f"(pinned={r8.get('pinned')}); shuffle partitions fixed at "
            f"{r8.get('shuffle_partitions')} across levels"
            + (f"; AQE advisory {os.environ['FES_ADVISORY']}"
               if os.environ.get("FES_ADVISORY") else "")
        ),
        "all_walls_8": [round(r["wall_s"], 2) for r in runs8],
        "all_walls_32": [round(r["wall_s"], 2) for r in runs32],
        "stages_8": stages8,
        "stages_32": stages32,
    }
    out_name = "scaling.json" if job == "flagship" else f"scaling_{job}.json"
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(result, f, indent=2)
    if job != "flagship":
        # non-flagship jobs: JSON artifact only; the BASELINE.md scaling
        # section stays owned by the flagship measurement
        print(json.dumps(result))
        return

    md = f"""# BENCH/BASELINE — measured numbers

## Two-parallelism scaling (N -> 4N proxy, BASELINE.md protocol)

Flagship point-in-time pipeline (sessionize + role transitions + rolling
windows + backfill + conv-level verbosity join) over the deterministic
synthetic transcripts table (seed={seed}, n_convs={n_convs},
{r8['n_turns']:,} turns), identical input at both levels.

| level | wall (s, min of {reps}) | turns/sec |
|---|---|---|
| local[8]  (N)  | {r8['wall_s']:.2f} | {r8['turns_per_sec']:,.0f} |
| local[32] (4N) | {r32['wall_s']:.2f} | {r32['turns_per_sec']:,.0f} |

scaling_efficiency = (T_8 / T_32) / 4 = **{eff:.3f}** (target >= 0.8)

Shared-host protocol: the two levels alternate for {reps} reps and each
level reports its minimum wall (all samples: T8={result['all_walls_8']},
T32={result['all_walls_32']}) — neighbor load on this box swings
single-shot walls 2-3x, and the least-interfered sample per level is the
faithful estimate of that level's true cost.

Output feature matrix: row count and order-insensitive xxhash64 content hash
**identical** across both levels ({r8['rows']:,} rows).

Confs: AQE on (coalescePartitions, skewJoin), shuffle.partitions fixed at
{r8.get('shuffle_partitions')} across both levels, each level CPU-pinned to
its core budget, Arrow batch 10k, UTC session TZ. Single-machine local mode
— shuffles are in-process; on a real 4N-executor cluster the same plan
shapes apply with network exchange (partitioning by conv_id, broadcast
dims, map-side partial aggregation).

## Reference comparison

The reference publishes no numbers (BASELINE.md); its envelope is
single-core pandas with O(n^2) kernels. This engine's single-node
throughput above is the baseline-to-beat for future rounds.
"""
    # preserve hand-appended evidence sections (spark-submit run, round
    # notes): everything from the first non-generated "## " header onward
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    generated_heads = (
        "## Two-parallelism scaling",
        "## Reference comparison",
    )
    tail = ""
    if os.path.exists(path):
        with open(path) as f:
            old = f.read()
        for chunk in old.split("\n## ")[1:]:
            head = "## " + chunk
            if not head.startswith(generated_heads):
                tail += "\n## " + chunk
    with open(path, "w") as f:
        f.write(md + tail)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
