"""Sink connectors (SURVEY.md §2.1 S6-S10).

The reference loads with multi-row INSERTs (S6) and idempotent
``INSERT ... ON DUPLICATE KEY UPDATE`` upserts over composite natural PKs
(S7/S8 — etl_sales/db/db_helpers.py:25-40, seed_stock_points.py:155-175).
Spark-first:

- append sink = ``df.write.mode("append")`` (the file committer makes the
  write atomic — the reference's tmp-file ``os.replace`` dance, S9, is
  free);
- upsert sink = Delta ``MERGE INTO`` where Delta is available, else the
  plain-parquet fallback implemented here: union new over old and keep
  the newest row per key via ``row_number()`` — same keep-latest
  semantics as ON DUPLICATE KEY UPDATE.

Partitioned layout replaces MySQL index design (§4): the raw event log
partitions by store + event date, files sorted by (art_id, fecha) so
parquet min/max stats skip irrelevant row groups — the Spark analogue of
the reference's (art_id,tienda_id,fecha) secondary index
(create_raw_stock_movements.sql:17-20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_append(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Append sink (S6). Partition columns drive partition pruning on read."""
    writer = df.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_overwrite(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Full-refresh sink (S10's drop+create analogue)."""
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def upsert_keep_latest(
    old: DataFrame | None,
    new: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Keep-latest-per-key upsert semantics (S7/S8) as a pure transform.

    Equivalent to MySQL ``INSERT ... ON DUPLICATE KEY UPDATE`` on the
    composite PK (db_helpers.py:25-40): for each key, the row with the
    greatest ``order_col`` wins, new rows out-ranking old on ties.

    Pure DataFrame→DataFrame so it composes and stays testable; the
    ``upsert_parquet`` wrapper materializes it. With Delta available the
    same semantics are one ``MERGE INTO`` keyed on ``keys``.
    """
    staged = new.withColumn("__gen", F.lit(1))
    if old is not None:
        staged = old.withColumn("__gen", F.lit(0)).unionByName(staged)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), F.col("__gen").desc())
    return (
        staged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__gen")
    )


def upsert_parquet(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    *,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Materialized upsert into a parquet table (S7/S8 fallback path).

    Note for scale: rewriting the whole table is O(table); with Delta the
    MERGE touches only matching files. At 100 TB use
    ``merge_upsert_partitioned`` below — the bucket-granular O(delta)
    path with crash-safe per-bucket versioned publishes.
    """
    from osmart_etl_spark.io.sources import path_exists

    # Existence is checked explicitly; any error reading an EXISTING table
    # (transient FS failure, corrupt footer, permissions) propagates
    # instead of being mistaken for "first write" — a broad except here
    # would overwrite the table with only the new batch.
    old = spark.read.parquet(path) if path_exists(spark, path) else None
    merged = upsert_keep_latest(old, new, keys, order_col)
    if old is not None:
        # Sever lineage to the files about to be overwritten (no driver
        # round-trip — localCheckpoint materializes on the executors).
        merged = merged.localCheckpoint(eager=True)
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def merge_upsert_partitioned(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    *,
    n_buckets: int = 64,
    bucket_col: str = "__bucket",
) -> list[int]:
    """MERGE-style upsert with O(delta) write cost (S7/S8 scale path).

    The MySQL reference upserts via ``INSERT … ON DUPLICATE KEY UPDATE``
    (db_helpers.py:25-40) — the engine touches only the rows whose PKs
    appear in the batch. ``upsert_parquet`` above is semantically right
    but rewrites the WHOLE table per batch; at 100 TB that is the first
    real wall. This sink restores the O(delta) property on plain parquet:

    1. the table is laid out partitioned by ``pmod(hash(keys…), n_buckets)``
       — a deterministic function of the key, so every key lives in
       exactly one partition directory forever;
    2. an incoming batch touches only the buckets its keys hash to —
       read back JUST those buckets' current versions (directory
       pruning, not a table scan), merge keep-latest, and publish each
       touched bucket as a NEW immutable ``_v-<token>`` version through
       ``io/atomic``'s commit log (staged in one Spark job, renamed and
       CAS-published per bucket) — never an in-place overwrite, so a
       crash at any point leaves every bucket at a complete version.

    Per-batch cost: O(|delta| + size of touched buckets) ≈
    O(|delta| × table_size/n_buckets · distinct_buckets). With Delta Lake
    available the same call is one ``MERGE INTO`` (file-level instead of
    bucket-level granularity); this is the no-extra-dependency analogue.

    The key→bucket layout (n_buckets, key list, order column) is pinned
    in a ``_layout`` sidecar inside the table directory on first write
    (underscore-prefixed, so table reads never see it) and validated on
    every later batch: a batch with a different n_buckets or key order
    would hash keys to DIFFERENT directories, silently leaving stale
    versions unmerged — that is a hard error here, not a corruption.

    Returns the list of touched bucket ids (for tests / observability).
    """
    import uuid

    from osmart_etl_spark.io.atomic import _fs, hadoop_path, publish_staged
    from osmart_etl_spark.io.sources import path_exists

    base = path.rstrip("/")
    bucketed = new.withColumn(
        bucket_col, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )
    # ONE materialization of the incoming batch: the touched-bucket set
    # and the written rows must come from the same evaluation — a
    # nondeterministic source re-evaluated at write time could emit rows
    # into buckets absent from `touched`, silently losing pre-existing
    # rows of those directories.
    bucketed = bucketed.localCheckpoint(eager=True)

    layout = {
        "n_buckets": n_buckets,
        "keys": list(keys),
        "order_col": order_col,
        "bucket_col": bucket_col,
    }
    layout_path = f"{base}/_layout"
    if path_exists(spark, path):
        # F.hash is order-sensitive over its arguments, so the key LIST
        # (not set) must match exactly.
        try:
            stored = _read_layout(spark, layout_path)
        except (EmptyLayoutError, FileNotFoundError) as exc:
            # EmptyLayoutError(swept): creator died between the
            # sidecar's exclusive create and its content write, and
            # _read_layout just TTL-swept the dead file. Recreate it
            # with THIS batch's layout (the table's bucket dirs were
            # hashed by whoever keeps calling with this layout; a
            # mismatch surfaces on the next batch exactly like
            # first-write contention). FileNotFoundError: the sidecar
            # is GONE on an existing table — a READER already swept the
            # dead file (or an operator removed it per the repair
            # message); same heal. Inside the TTL the creator may be
            # alive mid-write — propagate, don't steal.
            if isinstance(exc, EmptyLayoutError) and not getattr(exc, "swept", False):
                raise
            from osmart_etl_spark.io.atomic import _listdir

            entries = _listdir(spark, base)
            bucket_pfx = (f"{bucket_col}=", "bucket=")
            bucketish = [e for e in entries if e.startswith(bucket_pfx)]
            if isinstance(exc, FileNotFoundError):
                # heal ONLY a table that is recognizably this sink's
                # layout (bucket dirs, nothing else): a plain parquet
                # dir missing _layout is a FOREIGN table — recreating a
                # sidecar there would silently shadow the user's files
                # (read_merge_table reads bucket dirs only). Keep the
                # loud failure for that case.
                foreign = [
                    e for e in entries
                    if not e.startswith(("_", ".")) and not e.startswith(bucket_pfx)
                ]
                if foreign or not bucketish:
                    raise
            # The heal pins THIS batch's layout, which the lost sidecar
            # can no longer confirm. Cross-check it against the on-disk
            # directories: a bucket id >= n_buckets proves the caller's
            # n_buckets is NOT what hashed this table — recreating the
            # sidecar would silently re-home keys and strand their old
            # versions (round-12 review). (A smaller-but-divisible lie
            # is undetectable from ids alone; the check catches the
            # common drift and the message says what to verify.)
            observed = [
                int(e.split("=", 1)[1])
                for e in bucketish
                if e.split("=", 1)[1].isdigit()
            ]
            if observed and max(observed) >= layout["n_buckets"]:
                raise ValueError(
                    f"refusing to heal _layout at {path}: on-disk bucket id "
                    f"{max(observed)} is outside this batch's n_buckets="
                    f"{layout['n_buckets']} — the table was created with a "
                    "different layout; recreate the sidecar by hand only "
                    "with the ORIGINAL n_buckets/keys."
                ) from exc
            if not _write_layout_exclusive(spark, layout_path, layout):
                stored = _read_layout(spark, layout_path)  # racer healed it
                if stored != layout:
                    raise ValueError(
                        f"merge_upsert_partitioned layout race at {path}: a "
                        f"concurrent healer pinned {stored}, this batch "
                        f"supplies {layout}."
                    )
            stored = layout
        if stored != layout:
            raise ValueError(
                f"merge_upsert_partitioned layout mismatch at {path}: "
                f"table was created with {stored}, this batch supplies {layout}. "
                "Changing n_buckets/keys re-homes keys to different directories; "
                "rebuild the table instead."
            )
        # Pre-round-10 tables (dynamic-partition-overwrite layout) pass
        # the _layout check but store rows as plain `<bucket_col>=<b>`
        # dirs with no per-bucket commit log — invisible to
        # _bucket_snapshot, so merging on top of them would silently
        # drop every pre-existing row. Adopt them first.
        _adopt_legacy_buckets(spark, base, bucket_col)
    elif not _write_layout_exclusive(spark, layout_path, layout):
        # lost the creation race (round-11 contention probe: concurrent
        # first-writers used to collide overwriting the same sidecar) —
        # the winner's layout is authoritative; validate ours against it
        stored = _read_layout(spark, layout_path)
        if stored != layout:
            raise ValueError(
                f"merge_upsert_partitioned layout race at {path}: a concurrent "
                f"creator pinned {stored}, this batch supplies {layout}."
            )

    # ≤ n_buckets small ints — a bounded driver-side read, not a data scan.
    touched = sorted(r[0] for r in bucketed.select(bucket_col).distinct().collect())
    # snapshot each touched bucket's (version dir, committed seq): the
    # seq makes every publish a CAS — a writer that committed to the
    # same bucket after this read surfaces as ConcurrentCommitError
    # instead of a silently lost update (retry re-merges from the fresh
    # snapshot; keep-latest makes the retry converge)
    snapshots = {b: _bucket_snapshot(spark, base, b) for b in touched}
    old_dirs = [d for d, _seq in snapshots.values() if d is not None]
    if old_dirs:
        # the staged version dirs store only user columns (the bucket is
        # the directory); recompute the bucket from the keys — the same
        # deterministic hash — to restore the merge/partition column
        old_touched = spark.read.parquet(*old_dirs).withColumn(
            bucket_col, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
        )
        merged = upsert_keep_latest(old_touched, bucketed, keys, order_col)
    else:
        merged = bucketed
    merged = merged.localCheckpoint(eager=True)

    # Crash-safe per-bucket publish (round 10 — replaces the in-place
    # dynamic partition overwrite, whose delete-then-write window could
    # fail the job AFTER dropping partitions): stage every touched
    # bucket in ONE Spark job, then for each bucket rename the staged
    # directory to an immutable `bucket=<b>/_v-<token>` version and
    # CAS-publish it through io/atomic's commit log. A crash during
    # staging leaves every live bucket untouched; a crash between
    # bucket publishes leaves each bucket at a COMPLETE version (old or
    # new) and the keep-latest merge makes a replay of the same batch
    # converge — per-bucket atomicity + idempotent retry. Readers that
    # need a cross-bucket snapshot use `upsert_versioned` instead
    # (whole-table versions); this sink trades snapshot isolation for
    # O(delta) writes, and now loses nothing in a crash.
    token = uuid.uuid4().hex[:12]
    stage = f"{base}/_stage-{token}"
    # one shuffle task per touched bucket -> each version directory is
    # ~one file (a bucket is table_size/n_buckets by design, sized to
    # write in one task); without this, every one of the write's input
    # tasks leaves a file in every bucket it touches (n_par x buckets
    # small files per batch)
    (
        merged.repartition(max(len(touched), 1), F.col(bucket_col))
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(stage)
    )
    _, fs, hbase = _fs(spark, base)
    # sweep crashed-writer staging debris (>1h old) — same TTL doctrine
    # as io/atomic._gc; never touches the current token's stage
    import time as _time

    for st in fs.listStatus(hbase):
        nm = st.getPath().getName()
        if (
            nm.startswith("_stage-")
            and nm != f"_stage-{token}"
            and st.getModificationTime() < (_time.time() - 3600.0) * 1000
        ):
            fs.delete(st.getPath(), True)
    for b in touched:
        bdir = f"{base}/bucket={b}"
        fs.mkdirs(hadoop_path(spark, bdir))
        if not fs.rename(
            hadoop_path(spark, f"{stage}/{bucket_col}={b}"),
            hadoop_path(spark, f"{bdir}/_v-{token}"),
        ):
            raise IOError(f"staging rename failed for bucket {b} under {base}")
        publish_staged(spark, bdir, token, expected_seq=snapshots[b][1])
    fs.delete(hadoop_path(spark, stage), True)
    return touched


def writer_bucket_shard(
    df: DataFrame,
    keys: list[str],
    writer_id: int,
    n_writers: int,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Shard a batch across W concurrent writers by merge bucket — the
    "shard writers by key range" operating rule (SCALE.md, merge sink
    under contention) as code (VERDICT r12 #5).

    Restricts ``df`` to the rows whose ``merge_upsert_partitioned``
    bucket this writer OWNS (``bucket % n_writers == writer_id``, with
    bucket computed by the sink's own hash — same pmod/hash, same key
    order, same ``n_buckets``). W writers that each apply their shard
    of a shared/replicated feed before merging touch pairwise-disjoint
    bucket directories, so the per-bucket CAS never conflicts: the
    fully-contended overlap storm becomes the zero-retry disjoint
    regime (measured in tools/merge_contention_probe.py's
    ``overlap_sharded`` row — the backoff-dominated wall collapses to
    protocol throughput).

    Use when every writer can see the same batch stream (replicated
    queue, fan-out consumer group) or as the ownership predicate when
    assigning key ranges to writers upstream. Writers with distinct,
    un-replicated inputs cannot use a filter to redistribute rows —
    route those through one writer per key range at the source instead.
    ``n_writers`` > ``n_buckets`` leaves some writers with no owned
    bucket (their shard is empty — harmless but wasteful).
    """
    if not 0 <= writer_id < n_writers:
        raise ValueError(f"writer_id {writer_id} not in [0, {n_writers})")
    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    return df.filter(bucket % F.lit(n_writers) == F.lit(writer_id))


_LEGACY_SENTINEL = "_legacy-migration"


def _legacy_bucket_dirs(
    spark: SparkSession, base: str, bucket_col: str
) -> dict[int, str]:
    """Pre-round-10 bucket directories: top-level ``<bucket_col>=<b>`` (or
    ``bucket=<b>``) dirs holding plain data files with NO per-bucket
    ``_commits`` log — the old dynamic-partition-overwrite layout. Keyed
    by bucket id."""
    from osmart_etl_spark.io.atomic import _listdir

    out: dict[int, str] = {}
    prefixes = {f"{bucket_col}=", "bucket="}
    for name in _listdir(spark, base):
        pfx = next((p for p in prefixes if name.startswith(p)), None)
        if pfx is None:
            continue
        b = name[len(pfx):]
        if not b.isdigit():
            continue
        entries = _listdir(spark, f"{base}/{name}")
        if "_commits" in entries:
            continue  # current versioned layout
        if any(not e.startswith(("_", ".")) for e in entries):
            out[int(b)] = f"{base}/{name}"
    return out


def _adopt_legacy_buckets(
    spark: SparkSession, base: str, bucket_col: str
) -> list[int]:
    """Migrate legacy (pre-commit-log) bucket directories into the
    versioned layout — mirror of ``upsert_versioned``'s sentinel
    protocol (io/atomic.py), per bucket:

    - a ``_legacy-migration`` sentinel at the table root marks the
      migration in flight; it is created before the first mutation and
      removed only after every legacy dir is swept, so a crash anywhere
      resumes the migration on the next call;
    - each legacy dir's rows are committed as the bucket's version 1
      (``expected_seq=0`` — a racing writer surfaces as
      ConcurrentCommitError, never a lost update), then the legacy dir
      is deleted;
    - a bucket with BOTH a commit log and a plain legacy dir but NO
      sentinel is ambiguous (were the plain files already merged? are
      they foreign?) and raises loudly instead of guessing.

    Returns the adopted bucket ids.
    """
    from osmart_etl_spark.io.atomic import (
        _fs,
        commit_version,
        current_version,
        hadoop_path,
    )

    legacy = _legacy_bucket_dirs(spark, base, bucket_col)
    _, fs, _ = _fs(spark, base)
    sentinel = hadoop_path(spark, f"{base}/{_LEGACY_SENTINEL}")
    if not legacy:
        # crash window: all buckets adopted+swept, sentinel not yet removed
        if fs.exists(sentinel):
            fs.delete(sentinel, False)
        return []
    already_committed = [
        b for b in legacy if current_version(spark, f"{base}/bucket={b}") is not None
    ]
    if already_committed and not fs.exists(sentinel):
        raise RuntimeError(
            f"{base}: plain bucket dirs {sorted(legacy)} coexist with committed "
            f"versions for buckets {sorted(already_committed)} and no migration "
            "sentinel — refusing to guess whether they were already merged. "
            "Move them aside or rebuild the table."
        )
    if not fs.exists(sentinel):
        fs.create(sentinel, True).close()
    for b, d in sorted(legacy.items()):
        bdir = f"{base}/bucket={b}"
        if current_version(spark, bdir) is None:
            # partitionBy stripped the bucket column from the files, so the
            # legacy dir already stores exactly the user columns a version
            # directory holds; the file listing resolves before staging and
            # the legacy dir is deleted only after the commit is durable.
            commit_version(spark, spark.read.parquet(d), bdir, expected_seq=0)
        if d.rstrip("/") == bdir.rstrip("/"):
            # bucket_col == "bucket": the legacy dir IS the commit target
            # (commit_version just published _v-<token> + _commits inside
            # it), so a recursive delete of `d` would wipe the commit we
            # made durable one line up. Sweep only the plain legacy data
            # files; underscore/dot entries (the versioned layout) stay.
            _sweep_plain_entries(spark, d)
        else:
            fs.delete(hadoop_path(spark, d), True)
    # Crash-resume closure for the d == bdir shape: once commit_version
    # ran, the dir has a _commits log, so _legacy_bucket_dirs never
    # returns it again and its plain files would linger forever. While
    # the sentinel attests a migration, sweep plain entries from EVERY
    # committed bucket dir (same trust rule as upsert_versioned's
    # sentinel-attested _sweep_legacy).
    from osmart_etl_spark.io.atomic import _listdir

    for name in _listdir(spark, base):
        if name.startswith(f"{bucket_col}=") or name.startswith("bucket="):
            bdir = f"{base}/{name}"
            if "_commits" in _listdir(spark, bdir):
                _sweep_plain_entries(spark, bdir)
    fs.delete(sentinel, False)
    return sorted(legacy)


def _sweep_plain_entries(spark: SparkSession, d: str) -> None:
    """Delete the non-underscore/non-dot entries of one directory,
    leaving the versioned layout (_v-*, _commits, markers) intact."""
    from osmart_etl_spark.io.atomic import _fs, _listdir, hadoop_path

    _, fs, _ = _fs(spark, d)
    for name in _listdir(spark, d):
        if not name.startswith(("_", ".")):
            fs.delete(hadoop_path(spark, f"{d}/{name}"), True)


def _bucket_snapshot(
    spark: SparkSession, base: str, bucket: int
) -> tuple[str | None, int]:
    """(current committed version dir or None, committed seq — 0 for a
    never-written bucket) of one bucket."""
    from osmart_etl_spark.io.atomic import current_version

    bdir = f"{base}/bucket={bucket}"
    # a missing bucket's commit log lists empty, so it reads as (None, 0)
    cur = current_version(spark, bdir)
    return (None, 0) if cur is None else (f"{bdir}/_v-{cur[1]}", cur[0])


def _bucket_version_dir(spark: SparkSession, base: str, bucket: int) -> str | None:
    """Current committed version directory of one bucket, or None if the
    bucket has never been written."""
    return _bucket_snapshot(spark, base, bucket)[0]


def _write_layout_exclusive(spark: SparkSession, layout_path: str, layout: dict) -> bool:
    """Create the ``_layout`` sidecar as ONE file with an exclusive
    create — the same CAS primitive as io/atomic's sequence locks — so
    concurrent table CREATORS race safely: exactly one wins, the loser
    returns False and validates against the winner's layout. (The old
    Spark-job ``overwrite`` write let two first-writers collide on the
    sidecar's _temporary directory — found by
    tools/merge_contention_probe.py.) Returns True if this writer
    created the sidecar."""
    import json as _json

    from osmart_etl_spark.io.atomic import _fs

    from osmart_etl_spark.io.atomic import _assert_atomic_create_scheme

    data = _json.dumps(layout, sort_keys=True)
    _, fs, hpath = _fs(spark, layout_path)
    fs.mkdirs(hpath.getParent())
    if fs.getUri().getScheme() != "file":
        # same CAS-atomicity rule as io/atomic's commit locks: refuse
        # schemes whose create-no-overwrite is a check/act race
        _assert_atomic_create_scheme(spark, fs.getUri().getScheme())
    if fs.getUri().getScheme() == "file":
        import os as _os

        local = hpath.toUri().getPath()
        try:
            fd = _os.open(local, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            return False
        with _os.fdopen(fd, "w") as fh:
            fh.write(data)
        return True
    try:
        out = fs.create(hpath, False)
    except Exception as exc:  # py4j surfaces FileAlreadyExistsException
        if "AlreadyExists" in str(exc.__class__) + str(exc):
            return False
        raise
    out.write(bytearray(data.encode()))
    out.close()
    return True


class EmptyLayoutError(RuntimeError):
    """The ``_layout`` sidecar exists but has no content: a creator died
    between the exclusive create and the content write. Distinct from
    FileNotFoundError so a WRITER (which knows the layout it would have
    pinned) can self-heal by recreating the sidecar, while a reader gets
    an actionable message instead of a generic 'no readable layout'."""


def _read_layout(
    spark: SparkSession, layout_path: str, *, dead_ttl_s: float = 3600.0
) -> dict:
    """Read the ``_layout`` sidecar of a merge table (internal). Two
    on-disk forms: a single JSON file (round-11 exclusive-create path)
    or a Spark-written JSON directory (older tables). A just-created
    file may be momentarily empty to a racing reader (create/write are
    two steps); retry briefly before giving up.

    A PERMANENTLY empty sidecar (creator crashed between the exclusive
    create and the content write) would otherwise wedge the table
    forever: every reader/writer spins the full retry then fails. Same
    self-heal rule as io/atomic's dead-claim sweep — past ``dead_ttl_s``
    (mtime) the empty file is deleted so the next writer can recreate
    it; inside the TTL it might be a live creator mid-write, so only the
    distinct ``EmptyLayoutError`` is raised (round-12 ADVICE, low)."""
    import json as _json
    import time as _time

    from osmart_etl_spark.io.atomic import _fs

    _, fs, hpath = _fs(spark, layout_path)
    row = None
    saw_empty_file = False
    for _ in range(100):
        if not fs.exists(hpath):
            _time.sleep(0.05)
            continue
        if fs.getFileStatus(hpath).isDirectory():
            row = spark.read.json(layout_path).collect()[0].asDict()
            break
        from osmart_etl_spark.io.atomic import _read_small_text

        content = _read_small_text(spark, layout_path)
        if content.strip():
            row = _json.loads(content)
            break
        saw_empty_file = True
        _time.sleep(0.05)  # winner mid-write
    if row is None:
        if saw_empty_file and fs.exists(hpath):
            age_s = _time.time() - fs.getFileStatus(hpath).getModificationTime() / 1000.0
            if age_s > dead_ttl_s:
                # TOCTOU guard (round-12 review): a healer may have
                # swept and RECREATED the sidecar with valid content
                # between our last empty read and this delete — re-read
                # once and, if content appeared, return it instead of
                # deleting a freshly pinned layout.
                from osmart_etl_spark.io.atomic import _read_small_text

                content = _read_small_text(spark, layout_path)
                if content.strip():
                    row = _json.loads(content)
                    return {
                        "n_buckets": int(row["n_buckets"]),
                        "keys": list(row["keys"]),
                        "order_col": row["order_col"],
                        "bucket_col": row["bucket_col"],
                    }
                fs.delete(hpath, False)  # dead creation — sweep it
                exc = EmptyLayoutError(
                    f"empty _layout sidecar at {layout_path} (creator died "
                    f"mid-write, age {age_s:.0f}s > TTL {dead_ttl_s:.0f}s) — "
                    "removed; the next merge_upsert_partitioned recreates it"
                )
                exc.swept = True
                raise exc
            exc = EmptyLayoutError(
                f"empty _layout sidecar at {layout_path}: a creator may be "
                f"mid-write (age {age_s:.0f}s <= TTL {dead_ttl_s:.0f}s); "
                "retry, or remove the file to repair if it persists"
            )
            exc.swept = False
            raise exc
        raise FileNotFoundError(f"no readable layout at {layout_path}")
    return {
        "n_buckets": int(row["n_buckets"]),
        "keys": list(row["keys"]),
        "order_col": row["order_col"],
        "bucket_col": row["bucket_col"],
    }


def read_merge_table(spark: SparkSession, path: str, bucket_col: str = "__bucket") -> DataFrame:
    """Read a ``merge_upsert_partitioned`` table: resolve every bucket's
    current committed version through its commit log (one directory
    listing per bucket — O(n_buckets) metadata, no data scan) and union
    the immutable version directories. An in-flight merge is invisible:
    unpublished ``_v-*`` staging never appears in a commit log.

    Legacy (pre-commit-log) bucket dirs are resolved read-only: a bucket
    with no committed version reads its plain directory directly; a
    bucket with BOTH (mid-migration crash) reads the committed version —
    it already absorbed the legacy rows — when the migration sentinel
    attests that, and raises otherwise (same ambiguity rule as the
    writer's adoption)."""
    from osmart_etl_spark.io.atomic import _fs, _listdir, hadoop_path
    from osmart_etl_spark.io.sources import path_exists

    base = path.rstrip("/")
    if path_exists(spark, f"{base}/_layout"):
        bucket_col = _read_layout(spark, f"{base}/_layout")["bucket_col"]
    legacy = _legacy_bucket_dirs(spark, base, bucket_col)
    dirs = list(legacy.values())
    overlap = []
    for name in _listdir(spark, base):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        d = _bucket_version_dir(spark, base, b)
        if d is not None:
            dirs.append(d)
            if b in legacy:
                overlap.append(b)
                dirs.remove(legacy[b])  # committed version supersedes
    if overlap:
        _, fs, _ = _fs(spark, base)
        if not fs.exists(hadoop_path(spark, f"{base}/{_LEGACY_SENTINEL}")):
            raise RuntimeError(
                f"{base}: buckets {sorted(overlap)} have both a committed version "
                "and a plain legacy dir with no migration sentinel — run "
                "merge_upsert_partitioned to adopt, or move the plain dirs aside."
            )
    if not dirs:
        raise FileNotFoundError(f"no committed buckets under {base}")
    return spark.read.parquet(*dirs)


def write_quarantine(df: DataFrame, path: str) -> None:
    """Append-mode quarantine sink (S9, dq_exclusions_csv.py:57-66).

    The reference dedups + atomically replaces a CSV; Spark's committer
    gives atomicity, and dedup happens at read time via dropDuplicates on
    the ``uniq`` key (U5).
    """
    df.write.mode("append").parquet(path)


def scd2_apply(
    current: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    attrs: list[str],
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge as a pure transform — the
    versioned-history completion of the upsert family (S7/S8 keep ONLY
    the latest row; SCD2 keeps every version with its validity window).

    ``changes`` carries (keys, attrs, order_col = change timestamp);
    ``current`` is the existing history (keys, attrs, valid_from,
    valid_to NULL = open, is_current) or None for the initial load.
    Output invariants (locked by tests):

    - per key, versions form a contiguous chain: each row's ``valid_to``
      equals the next ``valid_from``; exactly one open row;
    - a change identical to the key's previous version (NULL-safe
      attribute compare) is a no-op — redelivered batches are absorbed,
      so the merge is idempotent;
    - already-closed history rows are never rewritten.

    Scale shape: everything partitions by the dimension key — one
    exchange, three same-partition window passes over (open ∪ changes),
    which is O(open + batch), never O(closed history); closed rows pass
    through untouched.
    """
    from functools import reduce

    new_v = changes.select(
        *keys, *attrs, F.col(order_col).alias("valid_from")
    ).withColumn("__gen", F.lit(1))
    closed = None
    if current is not None:
        closed = current.filter(F.col("valid_to").isNotNull()).select(
            *keys, *attrs, "valid_from", "valid_to"
        )
        open_rows = (
            current.filter(F.col("valid_to").isNull())
            .select(*keys, *attrs, "valid_from")
            .withColumn("__gen", F.lit(0))
        )
        # Late-arrival guard (the T2 watermark rule applied to dimension
        # maintenance): a redelivered change OLDER than the key's open
        # version was already superseded and closed — re-admitting it
        # would duplicate closed history. Exact ties are kept and
        # resolved by __gen below.
        base_vf = open_rows.select(*keys, F.col("valid_from").alias("__open_vf"))
        new_v = (
            new_v.join(base_vf, keys, "left")
            .filter(F.col("__open_vf").isNull() | (F.col("valid_from") >= F.col("__open_vf")))
            .drop("__open_vf")
        )
        versions = open_rows.unionByName(new_v)
    else:
        versions = new_v

    # exact-timestamp tie: the incoming change beats the stored version.
    # Same key partitioning as every window below — one exchange total.
    w_tie = Window.partitionBy(*keys).orderBy("valid_from", F.col("__gen").desc())
    versions = (
        versions.withColumn(
            "__dup_tie",
            F.coalesce(F.col("valid_from") == F.lag("valid_from").over(w_tie), F.lit(False)),
        )
        .filter(~F.col("__dup_tie"))
        .drop("__dup_tie", "__gen")
    )

    # drop consecutive no-op versions (NULL-safe attr compare)
    w = Window.partitionBy(*keys).orderBy("valid_from")
    same_as_prev = reduce(
        lambda a, b: a & b, [F.col(a).eqNullSafe(F.lag(a).over(w)) for a in attrs]
    )
    versions = (
        versions.withColumn("__same", F.coalesce(same_as_prev, F.lit(False)))
        .filter(~F.col("__same"))
        .drop("__same")
    )

    out = versions.withColumn("valid_to", F.lead("valid_from").over(w)).withColumn(
        "is_current", F.col("valid_to").isNull()
    )
    if closed is not None:
        out = closed.withColumn("is_current", F.lit(False)).unionByName(out)
    return out


def merge_accumulate(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    sum_cols: list[str],
    *,
    batch_id: str,
    ledger_path: str,
    max_cols: list[str] | None = None,
) -> bool:
    """Incremental-view maintenance for an ADDITIVE aggregate: fold a
    batch's partial sums into a materialized per-key aggregate table.
    Returns True if the batch was applied, False if skipped as a
    duplicate.

    Keep-latest upserts (``upsert_parquet``) are naturally idempotent —
    re-applying a batch rewrites the same rows. Accumulation is NOT:
    re-adding a redelivered batch double-counts. The exactly-once
    contract therefore needs a batch LEDGER: applied batch_ids are
    recorded next to the table, and a batch already in the ledger is a
    no-op. This is the same idea Structured Streaming uses for sink
    idempotence (epoch ids in the commit log), available here to any
    cron-style incremental run (cf. the reference's watermark +
    re-filter pattern, update_raw_stock_movements.py:69).

    SINGLE-WRITER contract: two concurrent invocations both read the
    pre-merge table and the later overwrite silently drops the earlier
    batch's contribution (lost update) while its ledger entry survives
    — an unrecoverable loss, unlike keep-latest upserts where replay
    self-heals. Serialize runs (the orchestrator's job ordering, a
    scheduler lock, or a transactional table format); this sink does
    not lock. For concurrent or crash-exposed writers use
    ``merge_accumulate_versioned`` below (round 11): table + ledger in
    one CAS-published commit closes both this hole and the
    table-updated/ledger-missing crash window documented further down.

    Scale shape: the batch is reduced to per-key partials FIRST
    (map-side combine — the shuffle carries one row per key in the
    batch, not batch rows), then a full-outer merge against the
    aggregate table, which is one row per key EVER — the compact thing
    a 100 TB event history folds down to. Same full-rewrite caveat as
    upsert_parquet: with a table format, the merge touches only
    matching files; on raw parquet, partition by a key prefix.
    """
    from osmart_etl_spark.io.sources import path_exists

    if path_exists(spark, ledger_path):
        # membership test pushed to the scan — never collect the whole
        # ledger to the driver (it grows one row per batch forever)
        dup = (
            spark.read.parquet(ledger_path)
            .filter(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
        )
        if dup:
            return False

    partial, acc_types = _additive_partial(updates, keys, sum_cols, max_cols)
    if path_exists(spark, path):
        cur = spark.read.parquet(path)
        merged = _additive_merge(cur, partial, keys, sum_cols, acc_types, max_cols)
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
    else:
        partial.write.mode("overwrite").parquet(path)
    # Ledger append AFTER the table commit: a crash between the two
    # re-applies the batch on retry, which the pre-check then rejects
    # only if the ledger write happened — so the failure mode is
    # "table updated, ledger missing" → retry double-counts. Document:
    # for strict exactly-once use a transactional table format holding
    # table+ledger in one commit; on raw parquet the ledger-last order
    # at least guarantees at-most-once ledger entries per batch.
    spark.createDataFrame([(batch_id,)], ["batch_id"]).write.mode("append").parquet(
        ledger_path
    )
    return True


def _additive_partial(
    updates: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    max_cols: list[str] | None = None,
):
    """Per-key partial sums of a batch (map-side combined) with the
    accumulator types pinned ONCE. Convention: accumulated sums are
    0-based, not NULL-based (an all-NULL key stores 0) — applied
    identically on the first write and every merge, so a key's
    representation cannot depend on which batch it arrived in. This
    deliberately diverges from SQL SUM's all-NULL→NULL semantics;
    matching that incrementally would need a has-nonnull flag per
    column for no operational benefit. Without the cast-back, decimal
    sums widen by one digit per merge (28,2 → 29,2 → … → 38,2),
    changing the stored schema every batch until the cap.

    ``max_cols`` (round 12): keep-MAX accumulators alongside the sums —
    MAX is the other commutative/associative/idempotent monoid an
    incremental rollup needs (latest event time, high-water ids). NULLs
    stay NULL until a value arrives (MAX ignores NULLs on both the
    partial and the merge side), so an all-NULL key is distinguishable
    from one that saw an epoch-zero value."""
    max_cols = max_cols or []
    partial = updates.groupBy(*keys).agg(
        *[F.coalesce(F.sum(F.col(c)), F.lit(0)).alias(c) for c in sum_cols],
        *[F.max(F.col(c)).alias(c) for c in max_cols],
    )
    acc_types = {c: partial.schema[c].dataType.simpleString() for c in sum_cols}
    partial = partial.select(
        *keys,
        *[F.col(c).cast(acc_types[c]).alias(c) for c in sum_cols],
        *max_cols,
    )
    return partial, acc_types


def _additive_merge(
    cur: DataFrame,
    partial: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    acc_types: dict,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Full-outer fold of a batch's partials into the aggregate table
    (one row per key ever — the compact thing a 100 TB event history
    folds down to). Sum columns add; ``max_cols`` keep the greatest
    value seen (F.greatest skips NULLs, so a one-sided key keeps its
    side's value)."""
    from functools import reduce

    max_cols = max_cols or []
    p = partial.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in sum_cols + max_cols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [cur[k].eqNullSafe(F.col(f"__k_{k}")) for k in keys],
    )
    return cur.join(p, cond, "full_outer").select(
        *[F.coalesce(cur[k], F.col(f"__k_{k}")).alias(k) for k in keys],
        *[
            (
                F.coalesce(cur[c], F.lit(0))
                + F.coalesce(F.col(f"__u_{c}"), F.lit(0))
            ).cast(acc_types[c]).alias(c)
            for c in sum_cols
        ],
        *[
            F.greatest(cur[c], F.col(f"__u_{c}")).alias(c)
            for c in max_cols
        ],
    )


def _parse_ledger_json(spark: SparkSession, path: str) -> dict:
    """Applied-batch ledger file → ``{"hwm": {...}, "ids": [...]}``.
    A bare JSON list is the pre-round-12 all-opaque format."""
    import json as _json

    from osmart_etl_spark.io.atomic import _read_small_text

    obj = _json.loads(_read_small_text(spark, path))
    if isinstance(obj, list):
        return {"hwm": {}, "ids": obj}
    return {"hwm": obj.get("hwm", {}), "ids": obj.get("ids", [])}


def read_accumulate_ledger(spark: SparkSession, table: str) -> dict:
    """The COMMITTED applied-batch ledger of a
    ``merge_accumulate_versioned`` table: ``{"hwm": {writer: max_seq},
    "ids": [opaque...]}``. One metadata file read at the commit log's
    altitude — used by callers that must distinguish a legitimate
    crash-replay no-op (seq == hwm) from a state/checkpoint mismatch
    (seq < hwm), e.g. streaming/accumulate_stream.py."""
    from osmart_etl_spark.io.atomic import current_version

    cur = current_version(spark, table)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {table}")
    return _parse_ledger_json(spark, f"{table.rstrip('/')}/_v-{cur[1]}/_ledger.json")


def merge_accumulate_versioned(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    keys: list[str],
    sum_cols: list[str],
    *,
    batch_id: str | tuple[str, int],
    keep_versions: int = 8,
    max_retries: int = 10,
    max_cols: list[str] | None = None,
) -> bool:
    """Exactly-once additive incremental-view maintenance — the
    CAS-protected completion of ``merge_accumulate`` (round 11). That
    sink documents two honest holes: a SINGLE-WRITER contract (two
    concurrent folds both read the pre-merge table; the later overwrite
    silently drops the earlier batch — an unrecoverable lost update)
    and a crash window between the table overwrite and the ledger
    append (retry double-counts). Both close by making the aggregate
    table AND its applied-batch ledger one atomic commit through
    ``io/atomic``'s log:

    - each committed version directory holds the aggregate rows at its
      root and the FULL ledger as a ``_ledger.json`` sidecar file
      (underscore-prefixed, so aggregate reads never see it; written
      and read driver-side — the ledger is O(batches) metadata, the
      commit log's altitude, not a per-fold Spark job) — table+ledger
      cannot diverge, because they are published by the same marker
      rename;
    - the publish is a CAS on the version sequence (create claims
      exactly seq 1, folds claim cur+1): a concurrent fold surfaces as
      ``ConcurrentCommitError`` and retries from a FRESH snapshot —
      re-checking the ledger first, so a racer that already applied
      this batch turns the retry into a no-op;
    - a crash anywhere leaves the previous version (with its matching
      ledger) fully readable; replaying the batch is rejected by the
      committed ledger.

    Ledger size (round 12): ``batch_id`` accepts two forms, with two
    growth laws —

    - ``(writer_id, seq)`` tuple: the ledger keeps ONE high-water-mark
      per writer (``hwm[writer_id] = max seq applied``); a batch with
      ``seq <= hwm[writer_id]`` is a duplicate. The ledger is O(distinct
      writers) FOREVER — the bounded form every long-lived pipeline
      should use. Contract: each writer applies its seqs in increasing
      order (the natural shape of a sequential producer — Structured
      Streaming's foreachBatch epoch ids, a cron run's tick counter); an
      out-of-order seq from the same writer is REJECTED as a duplicate,
      which is exactly-once's answer to regressing epochs.
    - opaque ``str``: membership list, one entry per batch forever —
      kept for ad-hoc ids with no writer structure; at daily folds for
      years, prefer the tuple form.

    Both forms coexist in one ledger; a version's ``_ledger.json`` is
    ``{"v": 2, "hwm": {writer: seq}, "ids": [...]}`` (a bare list from
    a pre-round-12 version reads as all-opaque). Read the aggregate
    with ``io/atomic.read_committed``. ``keep_versions`` defaults
    HIGHER than the upsert sinks (8 vs 2): a version here is a small
    per-key aggregate, and under W concurrent folders a loser's
    snapshot must survive up to W-1 winner commits or its attempts burn
    on GC'd-snapshot reads instead of clean CAS losses.

    Returns True if the batch was applied, False if it was already in
    the committed ledger.
    """
    import time as _time
    import uuid

    from osmart_etl_spark.io.atomic import (
        ConcurrentCommitError,
        _fs,
        _gc,
        _write_small_json,
        current_version,
        hadoop_path,
        publish_staged,
    )

    base = table.rstrip("/")
    partial, acc_types = _additive_partial(updates, keys, sum_cols, max_cols)
    _, fs, _ = _fs(spark, base)

    if isinstance(batch_id, tuple):
        writer_id, seq = str(batch_id[0]), int(batch_id[1])
    else:
        writer_id, seq = None, None

    def _read_ledger(ver_dir: str) -> dict:
        return _parse_ledger_json(spark, f"{ver_dir}/_ledger.json")

    def _write_ledger(ver_dir: str, led: dict) -> None:
        # private staging dir — plain create, no exclusivity needed
        _write_small_json(spark, f"{ver_dir}/_ledger.json", {"v": 2, **led})

    def _is_dup(led: dict) -> bool:
        if writer_id is not None:
            return led["hwm"].get(writer_id, -1) >= seq
        return batch_id in led["ids"]

    def _applied(led: dict) -> dict:
        if writer_id is not None:
            return {"hwm": {**led["hwm"], writer_id: seq}, "ids": led["ids"]}
        return {"hwm": led["hwm"], "ids": led["ids"] + [batch_id]}

    for attempt in range(max_retries):
        token = uuid.uuid4().hex[:12]
        stage = f"{base}/_v-{token}"
        try:
            cur = current_version(spark, base)
            if cur is None:
                # a crashed creator's dead first lock would otherwise
                # wedge creation until a commit runs _gc — sweep on entry
                # (same round-9 rule as upsert_versioned)
                _gc(spark, base, keep_versions, 3600.0)
                merged = partial
                new_ledger = _applied({"hwm": {}, "ids": []})
                expected = 0
            else:
                ver_dir = f"{base}/_v-{cur[1]}"
                ledger = _read_ledger(ver_dir)
                if _is_dup(ledger):
                    return False
                merged = _additive_merge(
                    spark.read.parquet(ver_dir), partial, keys, sum_cols,
                    acc_types, max_cols,
                )
                new_ledger = _applied(ledger)
                expected = cur[0]
            # staging reads the OLD version dir while writing the NEW one
            # — nothing pinned, a crash leaves the live table untouched.
            merged.write.mode("overwrite").parquet(stage)
            _write_ledger(stage, new_ledger)
        except Exception:  # noqa: BLE001 — snapshot/staging races are retryable
            # Under heavy contention the version dir this attempt reads
            # (dup check, merge input) can be GC'd by RACING winners
            # before the attempt finishes (keep_versions guards
            # keep_versions-1 newer commits, not unbounded ones): the
            # read dies with a FileNotFound, not a CAS conflict. Nothing
            # was published, so deleting our stage and retrying from a
            # fresh snapshot is always safe; a non-transient error
            # (schema mismatch, bad path) re-raises after max_retries
            # bounded attempts. PUBLISH is deliberately OUTSIDE this
            # except: once the commit marker may exist, cleanup here
            # would delete a published version's data.
            fs.delete(hadoop_path(spark, stage), True)
            if attempt == max_retries - 1:
                raise
        else:
            try:
                publish_staged(
                    spark, base, token,
                    expected_seq=expected, keep_versions=keep_versions,
                )
                return True
            except ConcurrentCommitError:
                # publish_staged already removed our staged dir
                if attempt == max_retries - 1:
                    raise
        # full-jitter exponential backoff (the contention-probe rule)
        delay = min(2.0, 0.1 * (2**attempt))
        _time.sleep(delay * (0.5 + (hash((batch_id, attempt)) % 1000) / 2000.0))
    return False  # unreachable; loop either returns or raises


def write_sharded_corpus(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    token_col: str = "tokens",
    n_shards: int = 16,
) -> None:
    """Materialize the corpus as token-balanced contiguous shards —
    the writer behind ``corpus_shard_packing``'s plan: shard ids come
    from ``ops.packing.assign_token_shards`` (distributed prefix sum),
    the layout is ``shard_id=<k>/`` hive partitions so a trainer (or a
    resume) addresses shards by directory, and each shard coalesces its
    rows before writing so one shard = one file at test scale
    (``maxRecordsPerFile`` takes over when shards outgrow single
    files). Contiguity by construction: shard k holds a contiguous
    ``id_col`` range, so re-runs and partial reads are range-addressable.
    """
    from osmart_etl_spark.ops.packing import assign_token_shards

    assigned = assign_token_shards(
        docs, id_col, token_col, n_shards=n_shards
    )
    (
        assigned.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
