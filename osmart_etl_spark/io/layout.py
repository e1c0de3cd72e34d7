"""Physical-layout helpers beyond partitioning/bucketing: z-order
(Morton-curve) clustering for multi-column data skipping.

Date-partitioning prunes one dimension; bucketing co-locates one join
key. When 100 TB scans filter on TWO independent columns (user AND
time, SKU AND store), neither helps the second column — min/max footer
stats of each file still span the whole domain. Interleaving the bits
of both columns into one sort key clusters files into hyper-rectangles,
so every file's min/max range is narrow in EVERY interleaved dimension
and parquet footer pruning works for all of them at once. This is the
same idea as Delta/Iceberg ``ZORDER BY``, built here from plain
DataFrame expressions (range-normalize → bit-interleave →
repartitionByRange + sortWithinPartitions).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _normalize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map ``col`` into [0, 2^bits) by linear range scaling (min/max from
    a broadcast 1-row aggregate). NULLs map to 0 — they cluster together
    at the curve origin, which is what a scan filter wants."""
    span = (hi.cast("double") - lo.cast("double"))
    frac = F.when(span > 0, (col.cast("double") - lo.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    scaled = F.least(
        F.floor(frac * (2**bits)).cast("long"), F.lit(2**bits - 1)
    )
    return F.coalesce(scaled, F.lit(0))


def zorder_key(norm_cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` of each already-normalized column into
    one Morton key (column i owns bit positions i, i+k, i+2k, ...). Pure
    shift/mask expressions — whole-stage codegen, no UDF.

    Every interleaved position must stay inside the positive range of a
    signed 64-bit long: with k columns the highest position is
    (bits-1)*k + (k-1), which must be < 63 — bit 63 would flip keys
    negative (splitting every hyper-rectangle around the curve origin)
    and positions >= 64 silently wrap (JVM shifts mask the count mod
    64). Raises instead of capping silently, because the NORMALIZATION
    must use the same width — capping only here would drop the scaled
    values' high bits and collide far-apart rows (round-12 review).
    ``write_zordered`` picks a safe width for both sides."""
    k = len(norm_cols)
    if bits * k > 63:
        raise ValueError(
            f"zorder_key: {k} columns x {bits} bits = positions up to "
            f"{(bits - 1) * k + (k - 1)}, past a long's 62 usable bits; "
            f"use bits <= {63 // k} (write_zordered does this for you)"
        )
    terms = []
    for i, c in enumerate(norm_cols):
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return reduce(lambda a, t: a.bitwiseOR(t), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the z-curve
    over ``cols``.

    One extra pass over the data: a broadcast min/max aggregate per
    column (1 row), then repartitionByRange on the Morton key (range
    exchange = sample + split, the same machinery as a global sort but
    only on the key) and an in-partition sort so row groups inside each
    file are clustered too. At 100 TB this is the compaction job's
    layout, not the ingest path's."""
    # one width for normalization AND interleave, capped to a long's
    # usable bits (see zorder_key): 2 cols keep 16, 4 get 15, 5 get 12
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    norm = [
        _normalize(F.col(c), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits) for c in cols
    ]
    keyed = with_stats.withColumn("__z", zorder_key(norm, bits)).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def file_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file row counts and min/max per column — the observable form
    of the parquet footer stats that data skipping prunes on. Grouped
    on ``input_file_name()`` so it works on any filesystem without
    touching footers directly; one scan, one small aggregate (rows =
    |files|). Use it to VERIFY a layout does what it claims: after
    ``write_zordered`` the per-file min/max spans should be narrow in
    every clustered dimension; after ``compact`` the per-file row
    counts should sit near the target."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def compact(
    spark,
    path: str,
    target_rows_per_file: int,
    *,
    sort_within: list[str] | None = None,
) -> dict:
    """Small-files compaction — the maintenance job every long-running
    ingest needs: streaming/incremental sinks accrete thousands of tiny
    files whose per-file open/footer overhead eventually dominates scan
    time. Rewrites the directory into ⌈rows/target⌉ files, optionally
    re-sorting within partitions (pass the Z-order/cluster columns to
    preserve data-skipping locality through the rewrite).

    Crash-safety discipline: the rewrite lands in a SIBLING temp
    directory first, then swaps in via two metadata renames
    (path→backup, tmp→path) and drops the backup. A failure during the
    (long) rewrite leaves the original untouched; a failure between the
    renames leaves the full dataset intact in the backup directory for
    manual recovery — versus the previous in-place overwrite whose
    delete-then-write window could lose the dataset outright, and whose
    localCheckpoint barrier pinned every row in executor memory (gone on
    executor loss). True single-rename atomicity needs a table format
    (Delta/Iceberg); this is the strongest contract plain directories
    offer. Returns {files_before, files_after, n_rows} so callers (and
    tests) can assert the layout contract.
    """
    import math

    from osmart_etl_spark.io.atomic import _fs, hadoop_path

    df = spark.read.parquet(path)
    files_before = df.select(F.input_file_name()).distinct().count()
    n_rows = df.count()
    n_out = max(1, math.ceil(n_rows / target_rows_per_file))
    out = df.repartition(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)

    base = path.rstrip("/")
    tmp, bak = base + "__compact_tmp", base + "__compact_bak"
    out.write.mode("overwrite").parquet(tmp)

    _, fs, hpath = _fs(spark, base)
    p_tmp = hadoop_path(spark, tmp)
    p_bak = hadoop_path(spark, bak)
    fs.delete(p_bak, True)
    if not fs.rename(hpath, p_bak):
        raise IOError(f"compact: could not move {base} aside to {bak}")
    if not fs.rename(p_tmp, hpath):
        if fs.rename(p_bak, hpath):  # roll back; original data intact
            raise IOError(f"compact: could not move {tmp} into place; rolled back")
        raise IOError(
            f"compact: could not move {tmp} into place AND rollback failed — "
            f"dataset is intact at {bak}; restore it manually"
        )
    fs.delete(p_bak, True)

    files_after = (
        spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
    }
