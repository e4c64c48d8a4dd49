"""Connected components over near-duplicate pair graphs — the final stage
of a dedup pipeline: pairs (from exact/Jaccard/MinHash/SimHash/embedding
candidate generation, ops/dedup.py + ops/similarity.py) -> clusters ->
one canonical document per cluster.

Algorithm: alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — the standard
shared-nothing CC algorithm:

- large-star: every node connects its LARGER neighbors to the minimum of
  its neighborhood (incl. itself).
- small-star: every node connects its smaller-or-equal neighbors and
  itself to that minimum.

Each operation preserves the component structure and strictly lowers the
potential; the alternation converges in O(log^2 n) rounds (O(log n) in
practice — a chain of 10^6 docs finishes in ~10 rounds), at which point the
edge set is a star per component centered on the component's minimum id.

Scale shape (100 TB story):
- a round is two groupBy(min) aggregations + two co-partitioned joins over
  the CURRENT edge set — map-side-combinable `min`, 2 shuffles of 16-byte
  rows per round, never the documents themselves;
- the edge set only shrinks toward one edge per non-root node (dedup pair
  graphs are near-cliques: the first large-star collapses most of them);
- a giant component's root is a hot groupBy key, but `min` partial-aggregates
  on the map side, so the hot key reduces |partitions| rows, not |edges|;
- per-round materialization truncates the iterative lineage (otherwise
  the plan doubles every round). Default `localCheckpoint` trades
  executor-loss recovery for speed (right in local mode); pass
  `checkpoint_dir` to commit rounds to reliable-storage snapshot tables
  instead (sources/snapshots.py) — executor death costs a parquet
  re-scan and clustering is resumable from the last committed round.

Reference parity note: the reference has no distributed dedup at all (its
nearest analog is per-file pandas drop_duplicates); this operator exists for
the LLM-training-pipeline extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Edges (v, m) for every neighbor v > u, where m = min(N(u) + {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("u", "_mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; connect each node's smaller
    neighbors and the node itself to the minimum of that in-neighborhood."""
    oriented = e.select(
        F.greatest("u", "v").alias("h"), F.least("u", "v").alias("l")
    )
    mins = oriented.groupBy("h").agg(F.min("l").alias("m"))
    rest = (
        oriented.join(mins, "h")
        .where(F.col("l") != F.col("m"))
        .select(F.col("l").alias("u"), F.col("m").alias("v"))
    )
    return (
        mins.select(F.col("h").alias("u"), F.col("m").alias("v"))
        .union(rest)
        .distinct()
    )


def _union_find_local(edges: list[tuple], spark, id_type) -> DataFrame:
    """Exact union-find over a COLLECTED edge list (bounded by
    ``driver_threshold``); labels = min member per component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by label order so the root IS the minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
    driver_threshold: int | None = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Resolve the undirected graph given as an edge list into components.

    Returns ``(id, component)`` for every node that appears in ``pairs``,
    where ``component`` is the MINIMUM node id reachable from ``id`` (a
    deterministic canonical label of the same type as the ids; ids need only
    be orderable — longs and strings both work).

    Two physical strategies:

    - edge count <= ``driver_threshold`` (default 100k ~ <2 MB): collect
      and solve with exact union-find on the driver. The iterative
      distributed algorithm costs ~6-10 Spark jobs of fixed overhead — on
      the small pair sets real dedup thresholds produce, scheduling
      dominates by 10x. The collect is BOUNDED by the threshold (this is
      the sanctioned dim-sized collect, not an unbounded hot-path one);
      pass ``driver_threshold=None`` or 0 to force the distributed path.
    - larger: alternating large-star/small-star rounds until the edge set
      reaches a fixpoint (count + order-independent xxhash64 checksum, one
      tiny aggregation action per round). Raises ``RuntimeError`` after
      ``max_rounds`` (the alternation provably converges in O(log^2 n);
      hitting the guard means the input violates the contract, e.g. NaN
      ids). Both paths produce identical labels (tested).

    ``checkpoint_dir``: per-round materialization defaults to
    ``localCheckpoint`` (fast; blocks pinned to executors, NOT
    recomputable on executor loss). With a directory, the cleaned edge
    set and each round commit to snapshot tables on reliable storage
    instead (sources/snapshots.py) — executor death costs a parquet
    re-scan, superseded rounds are expired, and a killed job can resume
    clustering from the last committed round's edges.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _sig(df: DataFrame) -> tuple:
        # order-independent checksum via XOR, not SUM: summing 64-bit
        # hashes overflows bigint, which THROWS on any session with Spark
        # 4's default ANSI mode (edges are distinct, so XOR loses nothing)
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    if driver_threshold:
        # limit(k+1) bounds the probe: at most threshold+1 rows ever move
        head = e.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            if not head:
                return e.select(F.col("u").alias("id"), F.col("u").alias("component"))
            return _union_find_local(
                [(r["u"], r["v"]) for r in head],
                pairs.sparkSession,
                pairs.schema[src].dataType,
            )

    # checkpoint the CLEANED edge set once; everything downstream — the
    # star rounds AND the final nodes/join — derives from the materialized
    # blocks, so the pairs lineage (often a whole LSH candidate pipeline)
    # never executes a second time. The edge table and the round table are
    # SEPARATE snapshot names: the final join still reads the edges after
    # many round commits, so round retention must never expire them.
    from ..sources.snapshots import materialize

    e = materialize(e, checkpoint_dir, name="cc_edges")
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    cur = e
    sig = _sig(cur)
    if sig[0] == 0:  # no edges at all -> every node is its own component
        return nodes.withColumn("component", F.col("id"))

    for _ in range(max_rounds):
        nxt = materialize(
            _small_star(_large_star(cur)), checkpoint_dir, name="cc_rounds"
        )
        nsig = _sig(nxt)
        if cur is not e and checkpoint_dir is None:
            # never unpersist e itself: localCheckpoint blocks are not
            # recomputable and the final nodes/join still reads them
            # (snapshot rounds need no unpersist — retention expires them)
            cur.unpersist()
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    # fixpoint edges form stars (child -> component-min root)
    child = cur.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    return (
        nodes.join(child, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Total mapping ``(id_col, cluster_id)`` over ALL rows of ``df``:
    documents connected through ``pairs`` share the minimum member id as
    ``cluster_id``; documents in no pair are their own singleton cluster."""
    comp = connected_components(
        pairs, src=src, dst=dst, checkpoint_dir=checkpoint_dir
    ).withColumnsRenamed({"id": id_col, "component": "cluster_id"})
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
        )
    )
