"""Table IO (reference S1/S8-S11 collapsed into real table sinks).

The reference writes one CSV per entity then re-unions them in a second
process (agg_timing_features.py:18-39) — its hand-rolled partial/final
exchange. Under Spark that is a single partitioned write; the union stage
disappears.

Iceberg is the intended production format (`BASELINE.json`): `write_table`
uses the `iceberg` format when a catalog is configured on the session and
transparently falls back to parquet here (no Iceberg runtime jar in this
sandbox). Either way the layout decisions are the same: partition by a
low-cardinality derived column (day), sort within files by the entity key
for row-group skipping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(
            spark.conf.get("spark.sql.catalog.spark_catalog", None)
            or spark.conf.get("spark.sql.catalog.local", None)
        )
    except Exception:
        return False


def ntz_as_utc(c: Column) -> Column:
    """A TIMESTAMP_NTZ column as the TIMESTAMP instant its wall-clock names
    in UTC. Rebuilt from its fields, so no session zone enters: a plain
    cast goes through the session zone, where a DST change maps two wall
    clocks to one instant or puts an extra hour between neighbours."""
    return F.make_timestamp(
        F.year(c), F.month(c), F.dayofmonth(c), F.hour(c), F.minute(c),
        F.extract(F.lit("SECOND"), c), F.lit("UTC"),
    )


def with_utc_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Read an NTZ ``ts_col`` as UTC wall-clock (:func:`ntz_as_utc`), so
    epoch arithmetic on it gives one answer in every session zone. A
    TIMESTAMP column is returned untouched, plan included."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, ntz_as_utc(F.col(ts_col)))
    return df


def read_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Load the canonical transcripts table from an Iceberg table name or a
    parquet path; an NTZ ts is read as UTC wall-clock."""
    if "/" not in path_or_table and _iceberg_available(spark):
        df = spark.read.format("iceberg").load(path_or_table)
    else:
        df = spark.read.parquet(path_or_table)
    return with_utc_ts(df)


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark size conf value ('134217728', '128m', '134217728b')."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    # two-letter forms ("512mb") before single letters: checking bare "b"
    # first would strip only the b and leave an unparseable "512m"
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return default


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan up to the cluster's default parallelism so
    heavy per-row expressions (shingling, hashing, UDF kernels) use every
    core.

    A single small parquet file arrives as ONE input split, serializing all
    downstream projection work onto one task regardless of cluster size. At
    real scale (many files / Iceberg manifests) the scan already has >=
    defaultParallelism splits and this is a no-op. The split estimate is
    plan-side metadata only — input file list + sizes via the Hadoop FS API
    (Spark splits files at spark.sql.files.maxPartitionBytes), no ``.rdd``
    conversion and no Spark job — so it also works under Spark Connect,
    where DataFrame.rdd does not exist. Non-scan inputs (local relations)
    repartition unconditionally: they are driver-created and small."""
    spark = df.sparkSession
    if min_partitions:
        target = min_partitions
    else:
        try:
            target = spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no sparkContext on the client
            target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.repartition(target)
    if len(files) >= target:
        return df  # >= one split per file
    max_bytes = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        # Bulk probe: ONE listStatus RPC per distinct parent directory
        # instead of one getFileStatus per file — on an object store with
        # thousands of small files a per-file loop is a serial RPC chain
        # on the driver before the job even starts.
        def _norm(uri: str) -> str:
            # URI renderings differ between inputFiles() ("file:///x") and
            # Path.toString() ("file:/x"); compare scheme-stripped paths.
            if "://" in uri:
                uri = uri.split("://", 1)[1]
                uri = uri[uri.index("/"):] if "/" in uri else uri
            elif ":" in uri.split("/", 1)[0]:
                uri = uri.split(":", 1)[1]
            return uri
        wanted = {_norm(f) for f in files}
        parents: list[str] = []
        seen = set()
        for f in files:
            p = f.rsplit("/", 1)[0]
            if p not in seen:
                seen.add(p)
                parents.append(p)
        splits = 0
        for parent in parents:
            jparent = jvm.org.apache.hadoop.fs.Path(parent)
            fs = jparent.getFileSystem(conf)
            for st in fs.listStatus(jparent):
                if not st.isFile():
                    continue
                if _norm(st.getPath().toString()) not in wanted:
                    continue
                splits += max(1, -(-int(st.getLen()) // max_bytes))
                if splits >= target:
                    return df
    except Exception:
        pass  # metadata unavailable -> assume under-split
    return df.repartition(target)


def write_table(
    df: DataFrame,
    path_or_table: str,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Feature-matrix sink. At 100 TB: partition pruning by `partition_by`
    (e.g. day), file-internal ordering by entity for min/max skipping."""
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    spark = df.sparkSession
    if "/" not in path_or_table and _iceberg_available(spark):
        w = df.writeTo(path_or_table)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        # honor mode on the Iceberg path too: append must never replace
        # (silently diverging from the parquet fallback would lose data
        # exactly on the production substrate)
        if mode == "append":
            w.append()
        elif mode == "overwrite":
            w.createOrReplace()
        else:
            raise ValueError(f"unsupported mode for Iceberg table: {mode!r}")
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path_or_table)
