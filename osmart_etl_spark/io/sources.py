"""Source connectors (SURVEY.md §2.1 S1-S5, S11).

The reference extracts via pandas `read_sql_query` over SQLAlchemy /
jaydebeapi (etl_inventory/extract.py:8-22, etl_sales/extract.py:8-28)
with a hand-rolled date-range batcher (seed_raw_stock_movements.py:38-60).
Spark-first, those collapse to:

- ``spark.read.parquet/csv`` with explicit schemas for file sources;
- ``spark.read.jdbc`` with ``partitionColumn/lowerBound/upperBound/
  numPartitions`` for parallel-partition relational scans — Spark's
  native partitioned read replaces the hand-rolled batcher (S4), and a
  driver-jar option covers the legacy driver (S2);
- a loop of per-database reads unioned with ``unionByName`` for the
  multi-schema iteration (S3, etl_sales/extract.py:21-26).

At 100 TB the file path is the hot one: explicit schema (no inference
pass over the footers of millions of files), predicate pushdown and
column pruning reach the parquet scan for free once the plan is
declarative.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmart_etl_spark.schemas import TESTDATA_SCHEMAS


def default_parallelism(spark: SparkSession) -> int:
    """Connect-safe fan-out width for repartitioning single-file inputs.

    Classic sessions report the scheduler's ``defaultParallelism``;
    Spark Connect sessions have no ``sparkContext`` gateway
    (AttributeError / PySparkException), so fall back to the session's
    shuffle-partition setting — the same order of magnitude, and only a
    fan-out hint, never a correctness input.
    """
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Connect: PySparkNotImplementedError subclass varies
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its (Hadoop) filesystem.

    Used by sinks and the watermark store instead of a broad
    ``except Exception`` around the read: a transient FS error or corrupt
    footer must propagate (so a retry sees the real failure), not be
    silently treated as "table missing" — which would overwrite the table
    with only the new batch, or reset a watermark and re-extract
    duplicates.
    """
    from osmart_etl_spark.io.atomic import _fs

    try:
        _, fs, hpath = _fs(spark, path)
        return bool(fs.exists(hpath))
    except AttributeError:
        # Spark Connect session: no _jvm/_jsc gateway. Probe by asking the
        # server to resolve the path's schema — PATH_NOT_FOUND means
        # missing; anything else (corrupt footer, permissions, transient
        # FS error) propagates, same contract as the JVM branch.
        from pyspark.errors import AnalysisException

        try:
            spark.read.format("parquet").load(path).schema
            return True
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in (getattr(e, "getErrorClass", lambda: "")() or str(e)):
                return False
            raise


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its declared schema.

    Passing the explicit schema skips inference and guarantees stable
    types across scale factors; parquet column pruning + filter pushdown
    still apply (the schema only constrains, it does not force reads).

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader can only surface as a raw long via ``nanosAsLong``) and plain
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaced as
    TIMESTAMP_NTZ). Branch on the type the reader actually produced:
    nanos are truncated to micros with exact integer division (a double
    division would lose precision above 2^53 — DuckDB's ns→µs conversion
    truncates the same way), and NTZ micros are reinterpreted as the
    session-UTC TimestampType every downstream operator expects; both
    yield identical values under the UTC session.
    """
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        ts_type = dict(raw.dtypes).get("ts")
        if ts_type == "bigint":
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    schema = TESTDATA_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with explicit schema (S5, dq_exclusions_csv.py:53-55)."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines source with explicit schema and corrupt-record
    quarantine — the crawl-pipeline ingest path (WET/WARC-derived JSONL
    shards). Returns (good, quarantine).

    Scale notes: the schema is REQUIRED — schema inference is a full
    extra pass over the data, unacceptable at 100 TB. Unparseable lines
    become quarantine rows instead of being dropped silently (the same
    errors-as-data doctrine as the CSV quarantine sink, S9); callers
    route the quarantine side to a sink rather than losing it.
    Implemented as ``text`` + ``from_json`` rather than the
    DataFrameReader's PERMISSIVE ``_corrupt_record``
    column: filtering on that column requires caching the whole input
    first (SPARK-21610) — a non-starter at corpus scale — while
    ``from_json`` marks an unparseable line inside one ordinary
    scan-bound projection (the corrupt-capture field is part of the
    parse result itself), so both returned frames are plain filters
    over the same scan with no materialization anywhere.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType(), True)]
    )
    raw = spark.read.text(path)
    parsed = raw.select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    )
    # Blank / whitespace-only lines parse to a NULL struct (not a struct
    # with _corrupt_record set), so `j IS NOT NULL` is part of the good
    # predicate — otherwise every empty line in a crawl shard fabricates
    # a phantom all-null record. Such lines quarantine with their raw
    # text so nothing is dropped silently.
    good = parsed.filter(
        F.col("j").isNotNull() & F.col("j._corrupt_record").isNull()
    ).select(*[F.col(f"j.{f.name}") for f in schema.fields])
    quarantine = parsed.filter(
        F.col("j").isNull() | F.col("j._corrupt_record").isNotNull()
    ).select(
        F.coalesce(F.col("j._corrupt_record"), F.col("value")).alias(
            "_corrupt_record"
        )
    )
    return good, quarantine


def jdbc_scan(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    *,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: str | int | None = None,
    upper_bound: str | int | None = None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Parallel-partition JDBC scan (S1/S2/S4).

    ``table_or_query`` may be a table name or a parenthesized subquery —
    predicates written into the subquery execute source-side, exactly as
    the reference pushes its date/store filters into every SQL branch
    (extract_stock_movements.sql:36-37). For large extracts, pass
    ``partition_column/lower_bound/upper_bound/num_partitions`` so Spark
    issues N range-partitioned queries in parallel — this replaces the
    reference's monthly/daily batch generator (S4).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
        .option("fetchsize", str(fetch_size))
    )
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def union_databases(frames: list[DataFrame]) -> DataFrame:
    """Union the same extract from N source databases (S3).

    Ref: etl_sales/extract.py:21-26 loops ``USE {db}`` and concatenates;
    here each per-db frame carries its own ``source_db`` lit column and
    unionByName keeps schema alignment explicit.
    """
    if not frames:
        raise ValueError("no frames to union")
    return reduce(lambda a, b: a.unionByName(b), frames)
