"""Streaming twin of ``hll_portable_registers``: the register table as
incrementally-merged micro-batch state.

This is the operational form of the sketch's merge contract — each
micro-batch computes ITS OWN register table (a bounded ≤ groups×m-row
aggregate of the batch, never the users), and folds it into the
persisted state with a MAX groupBy. Because max-merge is associative
and commutative, the drained state equals the batch computation over
the full event history regardless of batch boundaries — proved in
tests/test_hll_stream.py.

Crash safety: state is written as VERSIONED directories
``<state>_v<batch_id>`` (each sealed by parquet's ``_SUCCESS``), never
overwritten in place. A batch reads the latest COMPLETE version, folds,
writes its own version, then garbage-collects older ones — so a crash
at any point leaves the previous complete version intact. Replay of a
batch whose version is ALREADY sealed (crash after write+GC, before
checkpoint commit) is detected and skipped outright: MAX-merge
idempotence means the sealed state already absorbed that batch, and
re-writing it would read and overwrite the same path in one job. This
is the same staged-publish discipline as ``io/atomic.py``, specialized
to bounded sketch state.

Version discovery and GC go through the Hadoop FileSystem API
(``Path.getFileSystem`` on the state path), so the state directory may
live on any Hadoop-visible filesystem — local disk, HDFS, or an object
store — not just what the driver sees as POSIX. The protocol itself is
object-store-safe (no rename-based overwrite, no read-after-overwrite).

100 TB shape: state size is groups × 256 rows FOREVER (the whole point
of a sketch); per batch the shuffle carries at most that many rows, so
a year of streamed events costs the same state I/O as a day. Contrast
``streaming/incremental.py`` watermark state (grows with keys) — the
sketch is the degenerate-size end of the state-management spectrum.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VERSION_RE = re.compile(r"_v(\d+)$")


def batch_registers(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, reg) portable-HLL registers of ``ev`` —
    identical arithmetic to the registered batch query."""
    hx = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(hx, 3, 12), 16, 10).cast("bigint")
    rho = (
        F.when(v == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(v)))
        .cast("bigint")
    )
    return (
        ev.select(
            "event_type",
            F.conv(F.substring(hx, 1, 2), 16, 10).cast("bigint").alias("bucket"),
            rho.alias("r"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("reg"))
    )


def _fs_and_path_cls(spark: SparkSession, path_str: str):
    """(FileSystem, Path class) for ``path_str`` via the Hadoop FS API —
    resolves local, hdfs://, s3a://, … uniformly from the path scheme."""
    from osmart_etl_spark.io.atomic import _hadoop

    _, path_cls, conf = _hadoop(spark)
    return path_cls(path_str).getFileSystem(conf), path_cls


def _list_versions(
    spark: SparkSession, state_base: str, sealed_only: bool
) -> list[int]:
    """Version ids of every ``<state_base>_v<N>`` directory, ascending.
    With ``sealed_only`` only versions carrying a ``_SUCCESS`` marker are
    returned (crash-mid-write partials are invisible to readers, but DO
    appear to GC so they get cleaned up)."""
    fs, path_cls = _fs_and_path_cls(spark, state_base)
    statuses = fs.globStatus(path_cls(state_base + "_v*"))
    out: list[int] = []
    for st in statuses or []:
        p = st.getPath()
        m = _VERSION_RE.search(p.getName())
        if m is None:
            continue
        if sealed_only and not fs.exists(path_cls(p, "_SUCCESS")):
            continue
        out.append(int(m.group(1)))
    return sorted(out)


def _latest_complete_version(spark: SparkSession, state_base: str) -> str | None:
    """Path of the highest-numbered sealed ``<state_base>_v<N>`` directory,
    or None if no complete state exists."""
    sealed = _list_versions(spark, state_base, sealed_only=True)
    return f"{state_base}_v{sealed[-1]}" if sealed else None


def run_hll_stream(
    spark: SparkSession, stream_df: DataFrame, workdir: str
) -> DataFrame:
    """Drain ``stream_df`` (availableNow) folding each micro-batch's
    registers into the versioned state table; returns the final
    registers."""
    state_base = os.path.join(workdir, "hll_state")
    ckpt = os.path.join(workdir, "ckpt")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        sealed = _list_versions(spark, state_base, sealed_only=True)
        if sealed and sealed[-1] == batch_id:
            # A prior attempt at this same batch_id already sealed its
            # version (crash after write+GC, before checkpoint commit).
            # MAX-merge idempotence makes the sealed state correct as-is;
            # re-folding would lazily read _v<batch_id> while overwriting
            # it in the same job ("Cannot overwrite a path that is also
            # being read from"). Skip — the checkpoint commit proceeds.
            return
        if sealed and sealed[-1] > batch_id:
            # NOT crash-replay: a checkpoint never replays a batch id
            # older than its last commit, so state versions AHEAD of the
            # incoming batch id can only mean a FRESH checkpoint (ids
            # restarting at 0) pointed at a stale state directory from a
            # prior run. Silently skipping here would drop every early
            # batch's data while the checkpoint commits — fail loudly
            # instead (round-12 ADVICE, low).
            raise RuntimeError(
                f"hll_stream state/checkpoint mismatch at {state_base}: "
                f"sealed state version {sealed[-1]} is ahead of incoming "
                f"batch id {batch_id}. The checkpoint at {ckpt} is newer "
                "than the state directory it should pair with — point the "
                "query at the original checkpoint, or clear BOTH the "
                "checkpoint and the state directory to restart."
            )
        prev_dir = f"{state_base}_v{sealed[-1]}" if sealed else None
        regs_b = batch_registers(batch_df)
        if prev_dir is not None:
            merged = (
                spark.read.parquet(prev_dir)
                .unionByName(regs_b)
                .groupBy("event_type", "bucket")
                .agg(F.max("reg").alias("reg"))
            )
        else:
            merged = regs_b
        # bounded state: groups × 256 rows — one file is the right layout.
        # mode=overwrite clears a partial (_SUCCESS-less) leftover of a
        # crashed earlier attempt at this same batch_id.
        out = f"{state_base}_v{batch_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(out)
        # GC strictly AFTER the new version is sealed: a crash here
        # leaves extra complete versions behind, which is harmless (the
        # next batch reads only the latest). Partials are GC'd too.
        fs, path_cls = _fs_and_path_cls(spark, state_base)
        for vid in _list_versions(spark, state_base, sealed_only=False):
            if vid < batch_id:
                fs.delete(path_cls(f"{state_base}_v{vid}"), True)

    (
        stream_df.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    final = _latest_complete_version(spark, state_base)
    if final is None:
        raise FileNotFoundError(f"no complete HLL state under {state_base}_v*")
    return spark.read.parquet(final)
