"""Training-sequence preparation: document chunking and leakage-safe
dataset splitting — the two transforms between a cleaned corpus and a
training dataloader.

- ``chunk_documents``: split each document's token stream into fixed-size
  chunks with optional overlap (sliding stride), fully native: one
  `sequence` of chunk starts + `slice` per chunk, exploded — no UDF, no
  shuffle at all (the chunker is a flat map over the scan; downstream
  writes decide partitioning). Zero-token documents emit no chunks.

- ``hash_split``: deterministic train/val/test assignment by the HASH OF A
  KEY (e.g. conv_id), never by row: every row of an entity lands in the
  same split, so conversation context can never leak across the
  train/eval boundary. The hash is md5-hex compared against fraction
  thresholds precomputed as 32-digit hex strings — a pure function of
  (key, salt) that any engine reproduces bit-for-bit (the DuckDB oracle
  runs the same expression), stable across Spark versions, partitioning,
  and cluster size.

Reference parity note: the reference splits datasets by subject-id lists
maintained by hand (csv manifests); hash_split is the scalable analog with
the same entity-level integrity guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import ws_tokens_expr
from feature_extraction_spark.sources.io import ntz_as_utc, with_utc_ts


def _salted_md5(key: Column, salt: str) -> Column:
    """md5(concat_ws(US, key, salt)) — the single hashing primitive behind
    every sampler and the splitter, so their nested-sample and
    split-consistency guarantees cannot silently diverge."""
    return F.md5(F.concat_ws("\x1f", key, F.lit(salt)))


def _entity_hash(key_cols: str | list[str], salt: str) -> Column:
    """_salted_md5 over the key columns (string-cast).

    Single key: the raw string (NULL -> a NUL sentinel so NULL-keyed rows
    hash as their own entity rather than colliding with the empty string).
    Multiple keys: each component is LENGTH-PREFIXED (``len:value``, NULL
    -> ``n``) before joining — a bare concat_ws silently skips NULLs and
    cannot distinguish ('a\\x1fb','c') from ('a','b\\x1fc'), so distinct
    entities would share a hash and every sampler/splitter decision built
    on it. The single-key form is deliberately unchanged: it is the shape
    every driver oracle mirrors in SQL (md5(col || chr(31) || salt))."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if len(keys) == 1:
        key = F.coalesce(F.col(keys[0]).cast("string"), F.lit("\x00"))
    else:
        parts = []
        for k in keys:
            s = F.col(k).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("n")).otherwise(
                    F.concat(F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        key = F.concat_ws("\x1f", *parts)
    return _salted_md5(key, salt)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Explode documents into (id, chunk_idx, chunk_text, n_tokens) rows of
    at most ``max_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens. stride = max_tokens - overlap; the last chunk may be
    short; empty documents yield no rows."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    words = ws_tokens_expr(F.col(text_col))
    n = F.size(words)
    # chunk starts: 1, 1+stride, ... <= n  (1-based for slice); for short
    # docs a single chunk; for n == 0 an empty sequence -> no rows.
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    # a trailing start that only re-covers overlap tokens (start > n-overlap
    # and not the first chunk) would emit a fully-redundant chunk; keep
    # starts whose chunk adds at least one new token
    starts = F.filter(starts, lambda s: (s == 1) | (s + overlap <= n))
    chunks = F.transform(starts, lambda s: F.slice(words, s, max_tokens))
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_toks"),
    ).select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", "_toks").alias("chunk_text"),
        F.size("_toks").alias("n_tokens"),
    )
    return out


def _hex_threshold(frac: float) -> str:
    """32-hex-digit string t such that P(md5_hex < t) == frac for a uniform
    md5 — exact fraction arithmetic over the 16^32 key space."""
    v = int(frac * (1 << 128))
    return format(min(v, (1 << 128) - 1), "032x")


def split_column(
    key: Column, fractions: dict[str, float], salt: str = ""
) -> Column:
    """Deterministic split label for ``key`` (any column; cast to string).
    ``fractions`` maps label -> fraction, summing to 1.0 (validated)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    h = _salted_md5(key.cast("string"), salt)
    expr = None
    cum = 0.0
    labels = list(fractions.items())
    for name, frac in labels[:-1]:
        cum += frac
        cond = h < F.lit(_hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = labels[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(last)).alias("split")


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_cols: str | list[str],
    salt: str = "",
) -> DataFrame:
    """Deterministic ``fraction`` sample by entity hash: a pure function of
    (key, salt) — reproducible across runs, engines, and cluster sizes,
    and NESTED (a 0.2 sample is a subset of a 0.5 sample at the same salt),
    unlike ``DataFrame.sample``, whose output depends on partitioning.
    Sampling by entity key keeps groups intact (all-or-nothing)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.where(
        _entity_hash(key_cols, salt) < F.lit(_hex_threshold(fraction))
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    key_cols: str | list[str],
    salt: str = "",
) -> DataFrame:
    """Training-mixture assembly: keep each group of ``group_col`` (a
    source/domain label) at its own sampling rate — e.g. up-weight curated
    sources by down-sampling the crawl. Groups absent from ``rates`` are
    DROPPED (explicit mixture spec). Same deterministic md5-threshold
    mechanism as ``hash_sample`` over ``key_cols`` (the sampling unit —
    doc id for per-document rates, conv id for group-intact rates; the
    GROUP label itself would be all-or-nothing and is deliberately not a
    default); one scan, no shuffle, and the predicate reaches the parquet
    scan as a data filter."""
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {g!r} must be in [0, 1]")
    h = _entity_hash(key_cols, salt)
    cond = F.lit(False)
    for g, r in rates.items():
        cond = cond | (
            (F.col(group_col) == g) & (h < F.lit(_hex_threshold(r)))
        )
    return df.where(cond)


def hash_split(
    df: DataFrame,
    key_cols: str | list[str],
    fractions: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Add ``out_col`` with a deterministic split label per ENTITY: all rows
    sharing ``key_cols`` get the same label (group-integrity; no temporal or
    contextual leakage across splits). Change ``salt`` to draw a fresh
    split without touching the data."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    return df.withColumn(out_col, split_column(key, fractions, salt))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str | list[str],
    n_per_stratum: int,
    key_cols: str | list[str],
    salt: str = "",
    tiebreak_cols: str | list[str] | None = None,
    assert_unique_keys: bool = False,
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows from every stratum (fewer if the
    stratum is smaller) — the distributed equivalent of per-stratum
    reservoir sampling, but deterministic: rows are ranked by the salted
    entity hash, so the same (data, salt) always draws the same sample,
    independent of partitioning or cluster size, and the sample is NESTED
    in a larger-n draw at the same salt (reservoirs are neither).

    Use over ``hash_sample`` when strata are heavily skewed and a FRACTION
    would starve small strata (quality tiers, rare languages) — quota
    sampling equalizes representation.

    Scale shape: one shuffle keyed by the strata columns for the
    row_number window. A hot stratum serializes its own window (windows
    cannot be salted without breaking the exact-k contract); at 100 TB
    prefer strata with bounded cardinality ratios, or pre-filter with
    ``hash_sample`` at a safe over-sampling factor and quota-cut the
    small survivor set.

    Determinism contract: the draw is ranked by (salted entity hash,
    key_cols), which is a total order iff ``key_cols`` uniquely identify
    rows within a stratum — the normal case (doc ids, (conv_id, turn_idx)).
    If your keys can repeat, pass ``tiebreak_cols`` (``"row"`` = hash the
    whole row, or an explicit column list): rows tied on the keys are then
    ranked by that hash, so the drawn multiset stays deterministic across
    runs and cluster sizes (rows that still tie are bit-identical on the
    tiebreak columns, so any pick is value-equal). The default stays
    ``None`` because a whole-row tiebreaker references every column and
    defeats parquet column pruning — at 100 TB the sampler should read
    only (strata + keys + output columns), not the text payload. Note the
    unique-keys contract is the same one ``hash_split``/``hash_sample``
    already rely on (an entity hash presumes the keys NAME an entity);
    callers sampling at a coarser grain than their rows must opt in to a
    tiebreak or accept arrival-order picks among within-entity rows.
    ``assert_unique_keys=True`` verifies that contract up front (one extra
    aggregation job over (strata + keys) — debug tool, not a hot-path
    default) and raises if any (stratum, key) repeats without a tiebreak.

    Behavior change vs earlier revisions: the draw was once always
    whole-row tie-broken; it now relies on the unique-keys contract by
    default (parquet column pruning), so duplicate-key callers must pass
    ``tiebreak_cols`` to keep fully deterministic picks."""
    from pyspark.sql import Window

    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    if assert_unique_keys and tiebreak_cols is None:
        strata_k = [strata_col] if isinstance(strata_col, str) else list(strata_col)
        keys_k = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        dup = (
            df.groupBy(*strata_k, *keys_k)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "stratified_sample_exact: key_cols are not unique within a "
                f"stratum (e.g. {dup[0].asDict()}); pass tiebreak_cols for "
                "a deterministic draw"
            )
    strata = [strata_col] if isinstance(strata_col, str) else list(strata_col)
    h = _entity_hash(key_cols, salt)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [h.asc(), *[F.col(k) for k in keys]]
    if tiebreak_cols is not None:
        tie = (
            list(df.columns)
            if tiebreak_cols == "row"
            else ([tiebreak_cols] if isinstance(tiebreak_cols, str) else list(tiebreak_cols))
        )
        order.append(F.xxhash64(*[F.col(c) for c in tie]).asc())
    w = Window.partitionBy(*strata).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_cols: str | list[str],
    salt: str = "",
    priority_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-k rows by
    the A-ES / A-ExpJ priority ln(u) / w (Efraimidis-Spirakis), where u is
    a hash-uniform in (0, 1) derived from (key, salt) — so the draw is a
    pure function of the keys, reproducible across engines, runs, and
    cluster sizes, and P(row in sample) is proportional to its weight.

    u uses the first 13 hex digits of the salted md5 (52 bits — exact in a
    double and in any engine's bigint), u = (v + 0.5) / 2^52, never 0 or 1.
    Non-positive / NULL weights are excluded (zero probability mass).

    Scale: sort-free distributed top-k — orderBy(desc).limit(k) compiles to
    TakeOrderedAndProject (per-partition heaps + one k-row merge at the
    driver), never a global sort; the priority itself is a map-side
    expression. k must fit on the driver (it's a sample).

    ``priority_col`` optionally keeps the priority in the output for
    auditing (rounded values of it are what the driver oracle checks)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col).cast("double")
    v = F.conv(F.substring(_entity_hash(key_cols, salt), 1, 13), 16, 10).cast(
        "double"
    )
    u = (v + F.lit(0.5)) / F.lit(float(1 << 52))
    pri = F.log(u) / w
    out = (
        # filter on the RAW column (no cast) so the predicate pushes down
        # to the parquet scan; the double cast exists only in the priority.
        # The explicit NaN guard matters: Spark orders NaN LARGER than any
        # number, so `NaN > 0` passes and a NaN priority would sort to the
        # TOP of the sample (defect class (c), verify skill notes)
        df.where((F.col(weight_col) > 0) & ~F.isnan(w))
        .withColumn("_pri", pri)
        .orderBy(F.col("_pri").desc())
        .limit(k)
    )
    if priority_col is None:
        return out.drop("_pri")
    return out.withColumnRenamed("_pri", priority_col)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff,
    embargo_seconds: float = 0.0,
    entity_cols: str | list[str] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe temporal train/test split with an embargo gap: rows
    before ``cutoff`` are 'train', rows in [cutoff, cutoff + embargo) are
    'embargo' (quarantined — neither side may use them; they are the
    standard guard against look-ahead leaking through trailing-window
    features computed near the boundary), rows at/after the gap are 'test'.

    With ``entity_cols``, the split is per ENTITY (the temporal analog of
    hash_split's group integrity): an entity whose events all end before
    the cutoff is 'train', one whose events all start at/after the embargo
    end is 'test', and any entity STRADDLING the boundary is 'embargo'
    entirely — it has context on both sides, so using either side leaks
    the other. One window min/max over the entity partition (single
    shuffle by entity, reused by any downstream per-entity op).

    A string ``cutoff`` and an NTZ ``ts_col`` are read as UTC wall-clock.
    """
    df = with_utc_ts(df, ts_col)
    ts = F.col(ts_col)
    cut = F.lit(cutoff)
    if isinstance(cutoff, str):
        cut = ntz_as_utc(cut.cast("timestamp_ntz"))
    else:
        cut = cut.cast("timestamp")
    gap_end = F.timestamp_micros(
        F.unix_micros(cut) + F.lit(int(round(embargo_seconds * 1e6)))
    )
    if entity_cols is None:
        # NULL ts -> NULL split (visible no-signal), never a silent 'test'
        label = (
            F.when(ts.isNull(), F.lit(None).cast("string"))
            .when(ts < cut, "train")
            .when(ts < gap_end, "embargo")
            .otherwise("test")
        )
        return df.withColumn(out_col, label)
    from pyspark.sql import Window

    ents = [entity_cols] if isinstance(entity_cols, str) else list(entity_cols)
    w = Window.partitionBy(*ents)
    lo, hi = F.min(ts).over(w), F.max(ts).over(w)
    # min/max skip NULL ts; an entity with NO timestamp at all has NULL
    # bounds -> NULL split (not a silent 'embargo')
    label = (
        F.when(hi.isNull(), F.lit(None).cast("string"))
        .when(hi < cut, "train")
        .when(lo >= gap_end, "test")
        .otherwise("embargo")
    )
    return df.withColumn(out_col, label)


def deterministic_shuffle(
    df: DataFrame,
    key_cols: tuple[str, ...] | str = ("doc_id",),
    seed: str = "",
    out_col: str = "shuffle_rank",
    num_shards: int = 256,
    use_global_window: bool = False,
) -> DataFrame:
    """Deterministic global training-order shuffle: rank every row by
    md5(concat_ws(0x1f, seed, keys...)) — the reproducible data-order
    randomization every pretraining run applies before sharding (same
    seed => byte-identical order on any cluster; changing the seed is a
    fresh epoch permutation). Adds ``out_col`` (1-based global rank)
    ordered by the salted hash with the keys as tiebreak. The delimiter
    keeps multi-key boundaries distinct (('ab','c') != ('a','bc')) and
    ``concat_ws`` never yields NULL, so the hash column is non-NULL for
    any key mix — the same hygiene as ``hash_split``. (A NULL key is
    skipped by concat_ws in Spark AND DuckDB identically; rows differing
    only in WHICH position is NULL share a hash and fall to the key
    tiebreak — pre-coalesce keys if that distinction matters.)

    Scale shape (default path): the hash's top 16 bits are range-bucketed
    into ``num_shards`` contiguous shards (hex-prefix order == hash
    order, so shard asc + hash asc == global hash order). The intra-shard
    rank is a row_number window partitioned BY SHARD (parallel; the
    corpus shuffles exactly once, on the shard key), shard row-counts are
    a map-side-combinable aggregate of ``num_shards`` rows whose cumsum
    window runs on that dimension-sized table only, and the global rank =
    broadcast-joined shard offset + intra-shard rank. No corpus-wide
    single-partition exchange anywhere (plan-pinned in
    tests/test_chunk_split.py::test_deterministic_shuffle_plan_is_sharded).
    The two corpus passes (count + rank) are inherent to an exact global
    rank without a serial bottleneck — persist ``df`` upstream to make
    the second pass a cache read. ``num_shards`` is purely physical: the
    rank values are identical for any setting (1..65536).

    ``use_global_window=True`` is the reference/oracle form (one global
    row_number window — a deliberate single-partition plan): output-
    identical, used by small inputs and the cross-engine oracle, and the
    equality of the two paths is pytest-pinned.
    """
    from pyspark.sql import Window

    keys = (key_cols,) if isinstance(key_cols, str) else tuple(key_cols)
    h = F.md5(
        F.concat_ws(
            "\x1f",
            F.lit(seed),
            *[F.col(k).cast("string") for k in keys],
        )
    )
    tiebreak = [F.col(k).asc() for k in keys]
    if use_global_window:
        w = Window.orderBy(h.asc(), *tiebreak)
        return df.withColumn(
            out_col, F.row_number().over(w).cast("long")
        )

    if not 1 <= num_shards <= 65536:
        raise ValueError("num_shards must be in [1, 65536]")
    # contiguous range buckets of the top 16 hash bits: monotone in the
    # hex string, so (shard asc, hash asc) == global hash order
    shard = F.floor(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
        * F.lit(int(num_shards))
        / F.lit(65536)
    ).cast("int")
    base = df.withColumn("_ds_h", h).withColumn("_ds_shard", shard)
    counts = base.groupBy("_ds_shard").agg(F.count(F.lit(1)).alias("_ds_n"))
    # cumsum over <= num_shards rows — the only single-partition window,
    # and it is dimension-sized by construction
    w_off = (
        Window.orderBy("_ds_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_ds_shard",
        F.coalesce(F.sum("_ds_n").over(w_off), F.lit(0)).alias("_ds_off"),
    )
    w_intra = Window.partitionBy("_ds_shard").orderBy(
        F.col("_ds_h").asc(), *tiebreak
    )
    ranked = (
        base.withColumn("_ds_intra", F.row_number().over(w_intra))
        .join(F.broadcast(offsets), "_ds_shard")
        .withColumn(
            out_col, (F.col("_ds_off") + F.col("_ds_intra")).cast("long")
        )
    )
    return ranked.drop("_ds_h", "_ds_shard", "_ds_intra", "_ds_off")


def mixture_rates(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    text_col: str = "text",
    decimals: int = 6,
    strict: bool = False,
) -> DataFrame:
    """Token-budget mixture planning: the per-group sampling rates that
    realize a target token mixture WITHOUT upsampling — the missing step
    between "we want 40% src0 / 30% src1 / ..." and ``mixture_sample``'s
    rate table.

    With tok_g = whitespace tokens in group g and normalized shares s_g,
    the largest feasible total is T = min_g tok_g / s_g (the scarcest
    group relative to its share binds the budget); rate_g = s_g * T /
    tok_g, so rate = 1.0 exactly for the binding group and < 1 elsewhere.
    Groups absent from ``target_shares`` get rate 0 (excluded — the same
    explicit-spec contract as mixture_sample). One hash aggregation over
    the corpus + one unpartitioned window over the |groups| rows; rates
    are a pure function of exact integer token counts, reproducible by
    any engine (the driver oracle replays the same arithmetic).

    Returns one row per group present in the data:
    ``(group_col, n_docs, n_tokens, share, rate)``.

    A specified group ABSENT from the data is dropped from the output (no
    row to attach it to) and excluded from the budget min — i.e. the
    realized mixture is the spec renormalized over present groups. A
    specified group present only with zero tokens binds the budget to 0
    (nothing can be sampled at the requested mixture) and its own rate is
    0.0, never a 0/0 NULL. Pass ``strict=True`` to instead raise when any
    specified group is missing or token-empty — the fail-fast mode for
    production mixture plans, at the cost of one dimension-sized collect.
    """
    from pyspark.sql import Window

    total = sum(target_shares.values())
    if total <= 0:
        raise ValueError("target_shares must sum to a positive value")
    shares = {g: s / total for g, s in target_shares.items()}
    share_col = F.lit(None).cast("double")
    for g, s in shares.items():
        share_col = F.when(F.col(group_col) == g, F.lit(s)).otherwise(share_col)
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_tokens_expr(F.coalesce(F.col(text_col), F.lit(""))))).alias(
            "n_tokens"
        ),
    )
    if strict:
        # dimension-sized collect (|groups| rows) — cold-path guard only
        present = {
            r[0]: r[1]
            for r in agg.select(group_col, "n_tokens").collect()
        }
        missing = sorted(g for g in shares if g not in present)
        empty = sorted(g for g in shares if present.get(g) == 0)
        if missing or empty:
            raise ValueError(
                f"mixture_rates: specified groups missing from data: "
                f"{missing}; present but token-empty: {empty}"
            )
    w = Window.partitionBy()
    with_share = agg.withColumn("share", share_col)
    budget = F.min(
        F.when(F.col("share") > 0, F.col("n_tokens") / F.col("share"))
    ).over(w)
    rate = F.when(
        F.col("share").isNull() | (F.col("share") <= 0) | (F.col("n_tokens") == 0),
        F.lit(0.0),
    ).otherwise(F.col("share") * budget / F.col("n_tokens"))
    return with_share.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("share", decimals).alias("share"),
        F.round(rate, decimals).alias("rate"),
    )


def mixture_rates_temperature(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Temperature-based mixture planning: derive the target shares FROM
    the corpus with the multilingual alpha-sampling rule (exponentiated
    smoothing, s_g = tok_g^alpha / sum_h tok_h^alpha — the mixing rule
    published for mBERT/XLM-R-style multilingual pretraining; alpha=1
    reproduces the natural mixture, alpha -> 0 approaches uniform), then
    solve the same no-upsampling token budget as ``mixture_rates``:
    T = min_g tok_g / s_g and rate_g = s_g * T / tok_g.

    Upweighting low-resource groups means the SMALLEST group tends to
    bind the budget (its rate is exactly 1.0) while over-represented
    groups are down-sampled — the standard rebalancing step for a skewed
    100 TB crawl. One hash aggregation over the corpus + unpartitioned
    windows over the |groups| rows (dimension-sized, same shape as
    mixture_rates). Zero-token groups get share 0 and rate 0.0 without
    binding the budget.

    Returns one row per group: ``(group_col, n_docs, n_tokens, share,
    rate)`` — drop-in input for ``mixture_sample``.
    """
    from pyspark.sql import Window

    if alpha <= 0:
        raise ValueError("alpha must be > 0 (alpha=1 = natural mixture)")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(ws_tokens_expr(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("n_tokens"),
    )
    w = Window.partitionBy()
    powed = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    share = powed / F.sum(powed).over(w)
    with_share = agg.withColumn("share", share)
    budget = F.min(
        F.when(F.col("share") > 0, F.col("n_tokens") / F.col("share"))
    ).over(w)
    rate = F.when(
        (F.col("share") <= 0) | (F.col("n_tokens") == 0), F.lit(0.0)
    ).otherwise(F.col("share") * budget / F.col("n_tokens"))
    return with_share.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("share", decimals).alias("share"),
        F.round(rate, decimals).alias("rate"),
    )
