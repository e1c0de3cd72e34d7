"""Checkpointed incremental-batch driver (SURVEY.md §2.9 T1/T2/T6).

The reference's incremental loop: read per-store watermark from
``etl_progress`` (S11), extract only rows past it (with a +1s late-data
buffer and a client-side re-filter, T2), load idempotently (S7 upserts),
advance the watermark in the same run (update_raw_stock_movements.py:
19-110). This module is that loop, Spark-first:

- the watermark store is a tiny parquet table keyed by pipeline/store,
  updated with keep-latest upsert semantics (io/sinks.upsert_keep_latest);
- extraction is any DataFrame-producing callable; the watermark predicate
  composes onto it and pushes down to the scan;
- the sink is idempotent by construction (append of a deterministic
  slice, or keyed upsert), so re-runs after failure are safe (T6) —
  the watermark only advances after the sink commits.

The Structured Streaming variant (replay_stream.py) subsumes this for
true streams; this driver covers the reference's cron-style cadence and
works against any batch source.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WATERMARK_SCHEMA = StructType(
    [
        StructField("pipeline", StringType(), False),
        StructField("store", StringType(), False),
        StructField("wm_value", StringType(), True),  # stringified watermark
        StructField("updated_at", TimestampType(), True),
    ]
)


class WatermarkStore:
    """Tiny keyed watermark table (the ``etl_progress`` analogue, S11).

    Values are stored stringified (timestamps ISO, ids decimal) exactly
    like the reference keeps typed columns per watermark kind; parsing is
    the caller's contract. At scale this table stays O(pipelines×stores)
    rows — read it whole, broadcast-join if ever needed.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read_all(self) -> DataFrame:
        """Every watermark row. The commit log is listed once, and the
        current version directory is read with ``WATERMARK_SCHEMA``, so
        a read runs no schema-inference Spark job. A store with no
        commit log reads as empty when the path is missing, or as the
        pre-round-12 plain layout when it is not."""
        from osmart_etl_spark.io.atomic import read_committed
        from osmart_etl_spark.io.sources import path_exists

        # Only a genuinely missing store reads as empty; a transient FS
        # error must raise, not silently reset the watermark (which would
        # re-extract and duplicate-append the whole history).
        try:
            return read_committed(
                self.spark, self.path, schema=WATERMARK_SCHEMA
            ).select(*[f.name for f in WATERMARK_SCHEMA.fields])
        except FileNotFoundError:
            pass  # no committed version
        if not path_exists(self.spark, self.path):
            return self.spark.createDataFrame([], WATERMARK_SCHEMA)
        # pre-round-12 plain layout — adopted on the next set()
        return self.spark.read.schema(WATERMARK_SCHEMA).parquet(self.path)

    def get(self, pipeline: str, store: str) -> str | None:
        rows = (
            self.read_all()
            .filter((F.col("pipeline") == pipeline) & (F.col("store") == store))
            .select("wm_value")
            .collect()
        )
        return rows[0]["wm_value"] if rows else None

    def set(self, pipeline: str, store: str, value: str) -> None:
        # Round 12 (review): the old in-place mode("overwrite") rewrite
        # had a delete-then-write window — a crash there lost EVERY
        # pipeline's watermark at once, and the next tick's full
        # re-extract duplicate-appended whole histories into append
        # sinks. The manifest-committed upsert closes the window (a
        # crash leaves the previous version readable), adopts an
        # existing plain-layout store on first write, and turns a
        # concurrent tick's lost update into a loud
        # ConcurrentCommitError (the tick retries; loads are
        # idempotent).
        from osmart_etl_spark.io.atomic import upsert_versioned

        new = self.spark.createDataFrame(
            [(pipeline, store, value, None)], WATERMARK_SCHEMA
        ).withColumn("updated_at", F.current_timestamp())
        upsert_versioned(
            self.spark, new, self.path,
            keys=["pipeline", "store"], order_col="updated_at",
        )

    def reset(self, pipeline: str, store: str) -> None:
        """reset_last_*.sql analogue — drop the watermark row (a full
        REPLACE version through the same commit log as ``set``)."""
        from osmart_etl_spark.io.atomic import (
            commit_version,
            current_version,
            upsert_versioned,
        )
        from osmart_etl_spark.io.sources import path_exists

        if current_version(self.spark, self.path) is None:
            if not path_exists(self.spark, self.path):
                return  # nothing to reset
            # legacy plain layout: adopt it (merge of an empty batch
            # commits the existing rows as v1 and sweeps the plain
            # files), then the CAS replace below drops the row
            empty = self.spark.createDataFrame([], WATERMARK_SCHEMA)
            upsert_versioned(
                self.spark, empty, self.path,
                keys=["pipeline", "store"], order_col="updated_at",
            )
        kept = self.read_all().filter(
            ~((F.col("pipeline") == pipeline) & (F.col("store") == store))
        )
        commit_version(
            self.spark, kept, self.path,
            expected_seq=current_version(self.spark, self.path)[0],
        )


_UNREAD = object()


def run_incremental(
    spark: SparkSession,
    *,
    store: WatermarkStore,
    pipeline: str,
    source_name: str,
    extract: Callable[[SparkSession, Any | None], DataFrame | None],
    load: Callable[[DataFrame], None],
    wm_expr: Callable[[DataFrame], Any],
    last: Any = _UNREAD,
) -> Any | None:
    """One incremental run for one (pipeline, store): extract past the
    watermark, load, advance the watermark (T1/T2/T6).

    ``extract(spark, last_wm)`` returns only rows beyond ``last_wm``
    (None = full backfill — the seed_* scripts' default-epoch path),
    or None when it already knows that nothing lies past it: the run
    then ends before the checkpoint, the load and the watermark write.
    ``wm_expr(df)`` computes the new high-water mark (scalar, A4).
    ``last`` passes a watermark the caller has just read from ``store``
    (None included), so the run does not read it again.
    The watermark writes only after ``load`` returns, so a crash between
    load and checkpoint re-processes the slice — which the idempotent
    sink absorbs, the reference's exact recovery story (T6).
    """
    if last is _UNREAD:
        last = store.get(pipeline, source_name)
    batch = extract(spark, last)
    if batch is None:
        return None  # nothing past the watermark
    # ONE evaluation of the extract lineage (round-12 review): wm_expr's
    # aggregate and load's sink write used to each run the full DAG —
    # doubling every tick's scan/groupBy cost and letting the two
    # evaluations observe different source states (files landing between
    # the wm job and the load job) or different nondeterministic columns
    # (extracted_at timestamps). localCheckpoint materializes on the
    # executors once; both consumers read the same rows.
    batch = batch.localCheckpoint(eager=True)
    new_wm = wm_expr(batch)
    if new_wm is None:
        return None  # empty batch — nothing past the watermark
    load(batch)
    store.set(pipeline, source_name, str(new_wm))
    return new_wm
