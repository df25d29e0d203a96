"""Sources and sinks.

Reference behaviors rebuilt (citations into /root/reference):
- CSV directory ingest with header handling  (00-etl-rwd.py:41-45) — but
  with *explicit* schemas by default instead of ``inferSchema`` (which
  double-scans every file and produces nondeterministic types).
- Delta/parquet scans                        (00-etl-rwd.py:132-134).
- Catalog/SQL scans over registered tables   (00-etl-rwd.py:204,
                                              01-rwe-dashboard.r:14-15).
- Delta sink with overwrite (replacing the reference's
  ``dbutils.fs.rm`` + save dance,            00-etl-rwd.py:91-127).

Delta Lake is optional: if ``delta-spark`` isn't importable we fall back
to parquet transparently (same DataFrame semantics; Delta adds ACID +
OPTIMIZE/ZORDER, see ``catalog.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def has_delta(spark: SparkSession) -> bool:
    """True if the Delta Lake data source is on the classpath."""
    try:
        spark._jvm.Class.forName("org.apache.spark.sql.delta.DeltaLog")  # type: ignore[union-attr]
        return True
    except Exception:
        return False


# The driver's events parquet has shipped ts under different physical
# encodings across regenerations: TIMESTAMP(NANOS) (which the Spark
# parquet reader rejects outright) and TIMESTAMP_NTZ(MICROS) (which
# reads fine but cannot be cast to long under ANSI, and whose naive
# semantics would silently shift with a non-UTC session TZ). Reading
# with an explicit LongType schema sidesteps both: the vectorized
# reader hands back the raw INT64, and we convert to a session-TZ-
# independent TIMESTAMP using the unit declared in the parquet footer.
# Integer `div` keeps full precision (a double division would lose
# bits above 2^53 on ns-scale epochs).
_EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def _memo_key(path: str) -> tuple[str, int | None]:
    """Key for the footer memos below: the absolute path plus its
    ``st_mtime_ns``. A table rewritten in place (Spark's overwrite
    replaces the directory) gets a new mtime, so its new footer is
    read instead of the old one. A missing path keys on None and
    fails in the reader, as it would unmemoized."""
    path = os.path.abspath(path)
    try:
        return path, os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return path, None


_TS_UNIT_CACHE: dict[tuple[tuple[str, int | None], str], str] = {}


def _parquet_ts_unit(path: str, column: str = "ts") -> str:
    """Time unit ('s'|'ms'|'us'|'ns') of a parquet timestamp column,
    from the file footer. Footer-only read: cheap, driver-side, no
    Spark action — and memoized per (path, mtime, column), since query
    construction calls read_table dozens of times per run. Raises if
    the column isn't a timestamp — a loud failure beats silently
    mis-scaling every event time."""
    import pyarrow.parquet as pq

    key = (_memo_key(path), column)
    cached = _TS_UNIT_CACHE.get(key)
    if cached is not None:
        return cached

    if os.path.isdir(path):
        inner = [n for n in sorted(os.listdir(path)) if n.endswith(".parquet")]
        if not inner:
            raise FileNotFoundError(f"no parquet files under {path}")
        path = os.path.join(path, inner[0])
    typ = pq.ParquetFile(path).schema_arrow.field(column).type
    unit = getattr(typ, "unit", None)
    if unit not in ("s", "ms", "us", "ns"):
        raise TypeError(f"{path}:{column} is {typ}, expected a timestamp")
    _TS_UNIT_CACHE[key] = unit
    return unit


_TS_FROM_INT64 = {
    "s": "timestamp_seconds(ts)",
    "ms": "timestamp_millis(ts)",
    "us": "timestamp_micros(ts)",
    "ns": "timestamp_micros(ts div 1000)",
}


# Schema memo per parquet path — METADATA only, like _TS_UNIT_CACHE
# above: the footer-inference pass costs ~75 ms of driver time per
# spark.read.parquet call (measured r16; an explicit-schema read is
# ~19 ms), and a session issues hundreds of read_table calls. The scan
# itself still lists files and reads data on every execution — nothing
# computed is cached. Keyed on ``_memo_key`` (path + mtime), so a
# table rewritten at the same path is read with its new schema.
_SCHEMA_CACHE: dict[tuple[str, int | None], StructType] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``<sf_dir>/<name>.parquet``)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = spark.read.schema(_EVENTS_SCHEMA).parquet(path)
        return df.withColumn("ts", F.expr(_TS_FROM_INT64[_parquet_ts_unit(path)]))
    key = _memo_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register each testdata parquet as a temp view for ``spark.sql``."""
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    infer: bool = False,
) -> DataFrame:
    """CSV ingest (reference: 00-etl-rwd.py:41-45).

    Explicit ``schema`` (StructType or DDL string) is the default path;
    ``infer=True`` reproduces the reference's ``inferSchema`` behavior
    (opt-in because it scans data twice and is nondeterministic across
    data variations).
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Sink (reference: 00-etl-rwd.py:94-141 used rm+save; we use
    ``mode('overwrite')`` which is atomic-enough and avoids the race).

    ``partition_by`` is the 100 TB knob the reference lacked: hive-style
    partitioning on low-cardinality filter columns gives partition pruning
    on every downstream scan.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Dynamic partition overwrite — replace ONLY the hive partitions
    present in ``df``, leaving every other partition untouched: the
    idempotent incremental-load primitive (re-running yesterday's batch
    rewrites yesterday's directories and nothing else). A plain
    ``mode('overwrite')`` with partitionBy would truncate the WHOLE
    table — the classic 100 TB footgun this wrapper exists to remove.

    Implemented with Spark's native
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` scoped to this
    write (set and restored around it, so session behavior elsewhere
    is unchanged).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.write.format(fmt)
            .mode("overwrite")
            .partitionBy(*partition_by)
            .save(path)
        )
    finally:
        spark.conf.set(key, prev)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> DataFrame:
    """JSONL (one JSON object per line) source — the interchange format
    LLM document corpora actually ship in. Schema is REQUIRED: inferred
    JSON schemas double-scan the input and drift across shards (a field
    that is null in one file and int in another infers differently),
    which at 100 TB is both a second full read and a correctness
    hazard. Lines that don't parse land in ``_corrupt_record`` if the
    schema declares it; otherwise PERMISSIVE mode emits a row with
    every schema field null — corrupt lines survive as null rows, they
    are NOT dropped. Callers that want drops should either declare
    ``_corrupt_record`` and filter it, or pass a reader with
    ``mode='DROPMALFORMED'``."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, n_files: int | None = None) -> None:
    """JSONL sink with overwrite. ``n_files`` controls output shard
    count (repartition before write); leave None to keep the upstream
    partitioning — at scale one file per task is what you want."""
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar interchange format warehouse
    exports arrive in (Hive-era lakes are ORC-heavy). Built into Spark:
    predicate pushdown, column pruning, and vectorized reads work the
    same as parquet, so every operator in this package runs on ORC
    tables unchanged."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, n_files: int | None = None) -> None:
    """ORC sink with overwrite; ``n_files`` as in ``write_jsonl``."""
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Opaque-binary source for multimodal ingest: one row per file
    with (path, modificationTime, length, content BINARY) — the
    standard way raw image/audio/video files enter the lake before
    ``llm.multimodal`` probes/features run on the ``content`` column.
    ``glob`` filters by pathname (e.g. ``*.png``). Spark parallelizes
    by file; at 100 TB pair with a manifest-driven directory layout so
    listing doesn't serialize on one driver call."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def partition_stats_report(
    spark: SparkSession,
    path: str,
    stat_cols: list[str],
    key_pattern: str = r"([^/=]+=[^/]+)",
    predicate_col: str | None = None,
    predicate_lo=None,
    predicate_hi=None,
) -> DataFrame:
    """Per-file/partition min-max statistics report over a parquet
    layout — the manifest a format like Delta/Iceberg keeps, derived
    directly from the data: for every file (keyed by the hive
    ``dir=value`` segment of its path, falling back to the basename),
    row count plus min/max of each ``stat_cols`` entry, and — when a
    predicate range is given — a ``would_skip`` flag marking files a
    stats-pruning scan would never open.

    This is the 100 TB LAYOUT AUDIT: the fraction of files skippable
    for the hot predicate tells you whether the table's partitioning /
    Z-ordering actually clusters the filter column (``optimize_table``'s
    effect, measured), before you pay for a full re-cluster.

    Scale shape: one scan with ``input_file_name()`` grouped by the
    extracted key — min/max/count are order-insensitive, so the report
    is exact and partition-invariant; nothing driver-side.
    """
    df = spark.read.parquet(path)
    key = F.regexp_extract(F.input_file_name(), key_pattern, 1)
    key = F.when(key != "", key).otherwise(
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(F.col(c)).alias(f"min_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"max_{c}"))
    out = df.groupBy(key.alias("part_key")).agg(*aggs)
    if predicate_col is not None:
        lo = F.lit(predicate_lo) if predicate_lo is not None else None
        hi = F.lit(predicate_hi) if predicate_hi is not None else None
        overlap = F.lit(True)
        if hi is not None:
            overlap = overlap & (F.col(f"min_{predicate_col}") <= hi)
        if lo is not None:
            overlap = overlap & (F.col(f"max_{predicate_col}") >= lo)
        out = out.withColumn("would_skip", ~overlap)
    return out
