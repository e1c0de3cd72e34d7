"""Manifest-committed versioned parquet tables — atomic overwrite
without a table format (SURVEY.md §2.1 S7-S10 hardening).

``upsert_parquet``/``compact`` (io/sinks.py, io/layout.py) rewrite a
plain directory in place; their documented weakness is the window where
the directory is mid-swap (compact's two renames) or mid-overwrite
(upsert's delete-then-write) — a crash there loses or hides the table.
The reference has the same exposure in its tmp-file ``os.replace``
CSV dance (dq_exclusions_csv.py) and simply accepts it.

This module removes the window with the two-phase protocol already
proven for the Python DataSource sink (io/pydatasource.py
JsonLinesWriter: stage under job-token names, publish via a manifest):

    table/
      _commits/00000001.lock          sequence claims (create-exclusive
                                      — the CAS primitive)
      _commits/00000001-<token>       commit log: one empty marker file
                                      per committed version, created
                                      ONCE and never rewritten
      _v-<token>/part-*.parquet       immutable version directories

- A writer stages a complete new version directory first (crash here
  leaves orphaned staging; the live table is untouched).
- Publishing claims the sequence number with ONE exclusive create of
  ``_commits/<seq>.lock`` (atomic at the HDFS namenode; on ``file:``
  paths via POSIX ``O_CREAT|O_EXCL`` on the driver, because Hadoop's
  RawLocalFileSystem implements ``overwrite=False`` as a non-atomic
  exists-then-create; one contended filename per sequence), then binds
  the claimed sequence to the staged token with the empty
  ``<seq>-<token>`` marker. A CAS writer (``expected_seq`` set) claims
  EXACTLY ``expected_seq+1``, so two racing writers cannot both claim
  a sequence and a racer that committed first is always detected:
  first wins, the loser's merge was based on a stale snapshot and must
  re-run — a real CAS, unlike the single-writer-by-convention contract
  of ``merge_accumulate``.
- Readers resolve the highest committed sequence and read that version
  directory only: they never observe a partial write, and a reader
  mid-scan keeps a consistent snapshot because version directories are
  immutable (old versions are retained for ``keep_versions`` commits
  before GC, so one in-flight commit never yanks a current scan).

Underscore-prefixed names keep both the log and the staging invisible
to any stray ``spark.read.parquet(table)`` (Spark skips ``_``/``.``
paths), so a mis-aimed plain read fails loudly (no data files) instead
of returning a mix of versions.

Scale notes: the commit log is O(commits) empty files and version
resolution is one directory listing — no data scan. Each commit writes
one full new version, which is the right cost model for compaction and
for the keep-latest upsert below at dimension-table scale; for 100 TB
fact tables the bucket-granular ``merge_upsert_partitioned`` remains
the O(delta) path — and since round 10 it RUNS this protocol per
bucket directory (staged ``_v-<token>`` rename + ``publish_staged``
CAS), so both upsert tiers share one crash-safety story.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

_MARKER_RE = re.compile(r"^(\d{8})-([0-9a-f]{12})$")
_LOCK_RE = re.compile(r"^(\d{8})\.lock$")
_MIGRATION_SENTINEL = "_legacy-migration"


class ConcurrentCommitError(RuntimeError):
    """Another writer published the sequence number this commit staged
    against: the staged version was derived from a stale snapshot.
    Re-read and retry the whole operation."""


#: (JavaSparkContext, Hadoop ``Path`` class, Hadoop Configuration) of the
#: live SparkContext. Resolving ``jvm.org.apache.hadoop.fs.Path`` is five
#: py4j reflection round trips and a data tick builds hundreds of Paths,
#: so the class is resolved once per context; a new SparkContext (after
#: ``stop()``, or on a relaunched gateway) has a new ``_jsc`` and
#: re-resolves.
_HADOOP: tuple | None = None


def _hadoop(spark: SparkSession) -> tuple:
    global _HADOOP
    jsc = spark._jsc
    cached = _HADOOP
    if cached is None or cached[0] is not jsc:
        cached = (jsc, spark._jvm.org.apache.hadoop.fs.Path, jsc.hadoopConfiguration())
        _HADOOP = cached
    return cached


def hadoop_path(spark: SparkSession, path: str):
    """``org.apache.hadoop.fs.Path(path)`` on the live SparkContext's JVM."""
    return _hadoop(spark)[1](path)


def _fs(spark: SparkSession, path: str):
    _, path_cls, conf = _hadoop(spark)
    hpath = path_cls(path)
    return spark._jvm, hpath.getFileSystem(conf), hpath


#: Filesystems whose ``create(path, overwrite=False)`` is a real atomic
#: check-and-create (enforced server-side at one metadata authority).
_ATOMIC_CREATE_SCHEMES = {"hdfs", "viewfs", "webhdfs", "ofs", "o3fs"}


def _assert_atomic_create_scheme(spark: SparkSession, scheme: str) -> None:
    """Refuse create-no-overwrite CAS claims on schemes not known (or
    attested) atomic — see ``_exclusive_create``. Shared by every
    exclusive-create site (commit locks, layout sidecars)."""
    if scheme in _ATOMIC_CREATE_SCHEMES:
        return
    conf = _hadoop(spark)[2]
    attested = conf.getBoolean("osmart.etl.assume.atomic.create", False) or (
        scheme == "s3a"
        and conf.getBoolean("fs.s3a.create.conditional.enabled", False)
    )
    if not attested:
        raise RuntimeError(
            f"exclusive create on scheme '{scheme}' is not known to be "
            "atomic (classic S3A does HEAD-then-PUT — racing writers "
            "could both claim the commit lock and silently lose an "
            "update). Enable conditional creates "
            "(fs.s3a.create.conditional.enabled=true on Hadoop 3.4.1+) "
            "or set osmart.etl.assume.atomic.create=true to attest the "
            "store's create-no-overwrite is atomic."
        )


def _exclusive_create(spark: SparkSession, path: str) -> None:
    """Create an empty file, failing with ``FileExistsError`` if it
    already exists — the CAS primitive, and it must be TRULY atomic.

    Hadoop's ``fs.create(p, overwrite=False)`` is atomic at the HDFS
    namenode, but ``RawLocalFileSystem`` implements it as
    exists()-then-create — a check/act race. For ``file:`` paths the
    claim therefore goes through POSIX ``O_CREAT|O_EXCL`` on the
    driver, which the kernel guarantees exclusive.

    Object stores (round-12 review): classic S3A implements
    overwrite=False as HEAD-then-PUT — two racing writers can BOTH
    believe they claimed the lock and silently shadow each other, the
    exact lost update the lock exists to prevent. Rather than quietly
    degrade, unknown schemes are REFUSED unless the deployment attests
    atomicity: ``fs.s3a.create.conditional.enabled=true`` (Hadoop
    3.4.1+ maps create-no-overwrite onto S3 conditional writes /
    If-None-Match, which IS atomic) or the explicit
    ``osmart.etl.assume.atomic.create=true`` escape hatch for stores
    with conditional-create semantics (ABFS etag-gated create, GCS
    preconditions)."""
    _, fs, hpath = _fs(spark, path)
    scheme = fs.getUri().getScheme()
    if scheme == "file":
        local = hpath.toUri().getPath()
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        return
    _assert_atomic_create_scheme(spark, scheme)
    try:
        fs.create(hpath, False).close()
    except Exception as exc:  # py4j surfaces FileAlreadyExistsException
        if "AlreadyExists" in str(exc.__class__) + str(exc):
            raise FileExistsError(path) from exc
        raise


def _read_small_text(spark: SparkSession, path: str) -> str:
    """One small metadata file → str, driver-side via the Hadoop FS API
    (works for file:, hdfs:, s3a:, …). The single shared read idiom for
    every sidecar/ledger/layout file (round-12 review: five copies of
    the IOUtils dance collapsed here)."""
    jvm, fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_small_json(
    spark: SparkSession, path: str, obj, *, overwrite: bool = True
) -> None:
    """One small metadata file ← JSON, driver-side (the write twin of
    ``_read_small_text``; sort_keys for byte-stable artifacts)."""
    import json as _json

    _, fs, hpath = _fs(spark, path)
    out = fs.create(hpath, overwrite)
    out.write(bytearray(_json.dumps(obj, sort_keys=True).encode()))
    out.close()


def _listdir(spark: SparkSession, path: str) -> list[str]:
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _parse_commit_log(names: list[str]) -> list[tuple[int, str]]:
    """(seq, token) pairs from a ``_commits`` listing, ascending.
    Non-conforming names (e.g. a crashed publisher's temp marker) are
    ignored."""
    return sorted(
        (int(m.group(1)), m.group(2))
        for m in (_MARKER_RE.match(n) for n in names)
        if m
    )


def _commit_log(spark: SparkSession, table: str) -> list[tuple[int, str]]:
    """(seq, token) pairs from the commit log, ascending."""
    return _parse_commit_log(_listdir(spark, f"{table.rstrip('/')}/_commits"))


def current_version(spark: SparkSession, table: str) -> tuple[int, str] | None:
    """Latest committed (seq, token), or None for an empty/absent table."""
    log = _commit_log(spark, table)
    return log[-1] if log else None


def read_committed(
    spark: SparkSession, table: str, at: int | None = None, *, schema=None
) -> DataFrame:
    """Read the latest committed version (or, with ``at``, a retained
    historical sequence — bounded time travel for free from the
    immutable-version layout). ``schema`` (a StructType) reads the
    version directory with it instead of inferring one, which saves the
    footer-reading Spark job that inference runs."""
    log = _commit_log(spark, table)
    if not log:
        raise FileNotFoundError(f"no committed version at {table}")
    if at is None:
        seq, token = log[-1]
    else:
        match = [(s, t) for s, t in log if s == at]
        if not match:
            raise FileNotFoundError(
                f"version {at} not in commit log at {table} "
                f"(have {[s for s, _ in log]})"
            )
        seq, token = match[0]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{table.rstrip('/')}/_v-{token}")


def commit_version(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    *,
    expected_seq: int | None = None,
    keep_versions: int = 2,
    partition_by: tuple[str, ...] = (),
    orphan_ttl_s: float = 3600.0,
    sidecar: dict | None = None,
) -> int:
    """Write ``df`` as the table's next version and publish it atomically.

    Phase 1 (staging): the full version directory ``_v-<token>`` is
    written. A crash anywhere in this phase leaves the live table
    untouched (orphan swept by the next successful commit).

    Phase 2 (publish): a hidden temp marker is renamed to
    ``_commits/<next_seq>-<token>`` — one atomic, no-replace rename.
    ``expected_seq`` (the sequence this write was derived from; None =
    creating) turns the publish into a compare-and-swap: if any other
    writer committed in between, ``ConcurrentCommitError`` is raised
    and the staged orphan is removed.

    ``sidecar`` (round 12): optional JSON-serializable table stats —
    e.g. per-key histogram summaries a downstream tick uses for skew
    dispatch — written as ``_sidecar.json`` INSIDE the staged version
    directory before publish, so stats and data are one atomic commit
    (the same transactional trick as the accumulate sink's ledger).
    Underscore-prefixed, invisible to parquet reads; read it back with
    :func:`read_sidecar`.

    Returns the committed sequence number.
    """
    base = table.rstrip("/")
    token = uuid.uuid4().hex[:12]

    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{base}/_v-{token}")
    if sidecar is not None:
        _write_small_json(spark, f"{base}/_v-{token}/_sidecar.json", sidecar)

    return publish_staged(
        spark,
        base,
        token,
        expected_seq=expected_seq,
        keep_versions=keep_versions,
        orphan_ttl_s=orphan_ttl_s,
    )


def publish_staged(
    spark: SparkSession,
    table: str,
    token: str,
    *,
    expected_seq: int | None = None,
    keep_versions: int = 2,
    orphan_ttl_s: float = 3600.0,
) -> int:
    """Phase 2 of ``commit_version``, exposed for callers that stage
    ``_v-<token>`` themselves (the bucket-granular merge sink renames a
    pre-written directory into place instead of running a per-bucket
    Spark job): claim the next sequence with one exclusive create, bind
    it to the token with the marker file, GC. The staged directory must
    already be complete — a crash before this call leaves the live
    table untouched and the orphan swept later."""
    base = table.rstrip("/")
    _, fs, _ = _fs(spark, base)

    log = _commit_log(spark, base)
    last_seq = log[-1][0] if log else 0
    if expected_seq is not None and last_seq != expected_seq:
        fs.delete(hadoop_path(spark, f"{base}/_v-{token}"), True)
        raise ConcurrentCommitError(
            f"{base}: derived from seq {expected_seq} but log is at {last_seq}"
        )
    commits_dir = f"{base}/_commits"
    fs.mkdirs(hadoop_path(spark, commits_dir))
    if expected_seq is not None:
        # CAS path: claim EXACTLY expected_seq + 1. Claiming any later
        # number would reopen the skip-ahead hole (round-7 fix): a racer
        # that claimed AND committed expected_seq+1 in the window between
        # our log read above and a lock scan here would pass unnoticed —
        # our exclusive create at a higher sequence would succeed and
        # silently supersede the racer's version with a merge derived
        # from a stale snapshot. With the exact claim, any occupant of
        # expected_seq+1 (committed racer OR a crashed claimant's dead
        # lock) surfaces as ConcurrentCommitError; a dead claim makes
        # that conflict spurious until the TTL GC sweeps it — a bounded
        # liveness cost, never a lost update.
        next_seq = expected_seq + 1
    else:
        # Blind write (create / overwrite-latest — no derived-from
        # contract to protect): next sequence skips DEAD CLAIMS too (a
        # lock whose marker never appeared): claimed, never reused.
        lock_seqs = [
            int(m.group(1))
            for m in (_LOCK_RE.match(n) for n in _listdir(spark, commits_dir))
            if m
        ]
        next_seq = max([last_seq, *lock_seqs]) + 1

    # Publish phase 1 — CLAIM the sequence number: one exclusive create
    # of ``<seq>.lock``. A single contended filename per sequence is
    # what makes this a real CAS (the token-suffixed marker alone is
    # not: two racers would create two different filenames for the same
    # sequence and both "succeed"). The create is namenode-atomic on
    # HDFS and O_CREAT|O_EXCL-atomic on local paths (_exclusive_create);
    # a rename would NOT work as the primitive because Hadoop's local
    # filesystem maps it to POSIX rename(2), which silently replaces
    # the destination. Once we hold the lock for expected_seq+1, no
    # other writer can publish that sequence (markers require the
    # lock), so no post-claim log re-read is needed: any concurrent
    # commit either landed before our staleness check (caught there) or
    # needed this very lock (caught here).
    try:
        _exclusive_create(spark, f"{commits_dir}/{next_seq:08d}.lock")
    except FileExistsError as exc:
        # a racer (or a crashed claimant) holds next_seq
        fs.delete(hadoop_path(spark, f"{base}/_v-{token}"), True)
        raise ConcurrentCommitError(
            f"{base}: lost publish race for seq {next_seq}"
        ) from exc

    # Publish phase 2 — the marker binds the claimed sequence to the
    # staged version's token. Content-free: existence IS the commit,
    # so there is no partially-written state a reader could observe.
    # Uncontended (we own the sequence), so plain create. A crash
    # between claim and marker leaves a dead claim: invisible to
    # readers (resolution walks markers only), never reused by writers
    # (see next_seq above), swept by GC once stale.
    final = hadoop_path(spark, f"{commits_dir}/{next_seq:08d}-{token}")
    fs.create(final, True).close()

    # The commit is durable from here. GC is best-effort: any residual
    # cross-writer race in the sweep must not convert a SUCCESSFUL
    # publish into an apparent failure (the next commit re-runs GC).
    try:
        _gc(spark, base, keep_versions, orphan_ttl_s)
    except Exception:  # noqa: BLE001 — GC retries on the next commit
        pass
    return next_seq


def _gc(
    spark: SparkSession, base: str, keep_versions: int, orphan_ttl_s: float
) -> None:
    """Retire version directories beyond the retention horizon, plus
    crashed-writer debris (``_v-*`` staging no commit ever referenced
    and stale ``.tmp-*`` markers). Never touches the last
    ``keep_versions`` committed versions, so concurrent readers of the
    previous version survive this commit.

    Unreferenced staging is only swept once OLDER than
    ``orphan_ttl_s`` (filesystem modification time): a concurrent
    writer mid-staging is indistinguishable from a crashed one by name
    alone, and deleting its directory just before it publishes would
    commit a data-less version — the exact class of race the CAS
    publish exists to prevent. Set the TTL above the longest staging
    write (Delta's VACUUM retention rule, same reasoning). Versions in
    RETIRED commit markers carry no such ambiguity (they were
    published; no writer still owns them) and are removed
    unconditionally."""
    import time

    _, fs, _ = _fs(spark, base)
    # ONE listing of the commit log serves both the retention horizon
    # and the marker/lock sweep below. A marker published after this
    # snapshot is not in it, so the sweep never touches it.
    commit_names = _listdir(spark, f"{base}/_commits")
    log = _parse_commit_log(commit_names)
    committed = {token for _, token in log}
    live = {token for _, token in log[-keep_versions:]}
    horizon_ms = (time.time() - orphan_ttl_s) * 1000.0

    def _old_enough(path: str) -> bool:
        p = hadoop_path(spark, path)
        try:
            return fs.getFileStatus(p).getModificationTime() <= horizon_ms
        except Exception:  # noqa: BLE001 — racing GC already removed it
            # Concurrent writers each run this sweep; a path listed a
            # moment ago may be gone by the stat. "Already gone" means
            # nothing to sweep — it must NOT abort the publish that
            # invoked this GC (round-11 contention probe: an abort here
            # surfaced AFTER the commit marker existed, tricking the
            # caller's cleanup into deleting a published version).
            return False

    for name in _listdir(spark, base):
        if not name.startswith("_v-") or name[3:] in live:
            continue
        full = f"{base}/{name}"
        if name[3:] in committed or _old_enough(full):
            fs.delete(hadoop_path(spark, full), True)
    marker_seqs = {seq for seq, _ in log}
    for name in commit_names:
        full = f"{base}/_commits/{name}"
        m = _MARKER_RE.match(name)
        lk = _LOCK_RE.match(name)
        if m and m.group(2) not in live:
            fs.delete(hadoop_path(spark, full), False)
        elif lk and (int(lk.group(1)) in marker_seqs or _old_enough(full)):
            # a lock whose marker exists is a resolved claim; a stale
            # markerless lock is a dead claim (TTL-gated: inside the
            # TTL it may be a live writer between claim and marker)
            fs.delete(hadoop_path(spark, full), False)
        elif not m and not lk and name != _MIGRATION_SENTINEL and _old_enough(full):
            # foreign debris (e.g. an editor/tool temp file) — swept on
            # the same TTL so resolution listings stay small (the
            # migration sentinel is exempt: it must survive arbitrarily
            # long crash gaps so the legacy sweep can resume)
            fs.delete(hadoop_path(spark, full), False)


def read_sidecar(spark: SparkSession, table: str) -> dict | None:
    """Stats sidecar (``_sidecar.json``) of the table's CURRENT committed
    version, or None when the version carries none. One file read at the
    commit log's altitude — never a Spark job."""
    import json as _json

    base = table.rstrip("/")
    cur = current_version(spark, base)
    if cur is None:
        return None
    _, fs, _ = _fs(spark, base)
    p = f"{base}/_v-{cur[1]}/_sidecar.json"
    if not fs.exists(hadoop_path(spark, p)):
        return None
    return _json.loads(_read_small_text(spark, p))


def upsert_versioned(
    spark: SparkSession,
    new: DataFrame,
    table: str,
    keys: list[str],
    order_col: str,
    *,
    keep_versions: int = 2,
    sidecar: dict | None = None,
) -> int:
    """Keep-latest upsert (S7/S8 semantics, io/sinks.upsert_keep_latest)
    materialized through the commit log. Versus ``upsert_parquet``:

    - no ``localCheckpoint(eager=True)`` barrier — the merge reads the
      OLD version directory while writing a NEW one, so nothing is ever
      pinned in executor memory and an executor loss mid-write just
      fails the staging job, old table intact;
    - a crash at ANY point leaves the previous version fully readable;
    - a concurrent upsert is detected (CAS on the sequence), not
      silently lost.

    Legacy migration (round-8 ADVICE): pointing this sink at an
    existing PLAIN-parquet table (no ``_commits`` log — the old
    ``upsert_parquet`` layout) used to drop its rows silently, because
    the separate WatermarkStore had already marked the source events
    processed so they would never be recomputed. Now the first
    versioned commit ADOPTS the legacy files as the prior snapshot:
    merge(legacy, new) is committed as version 1 and the plain files
    are then removed. Crash-safety: a ``_commits/_legacy-migration``
    sentinel is created before the publish and removed only after the
    legacy sweep completes, so a crash anywhere in between resumes the
    sweep on the next call; plain data files found WITHOUT the
    sentinel on an already-versioned table are foreign (not ours to
    delete) and raise loudly instead.
    """
    from osmart_etl_spark.io.sinks import upsert_keep_latest

    base = table.rstrip("/")
    cur = current_version(spark, base)
    _, fs, _ = _fs(spark, base)
    if cur is None:
        # Round-9 (ADVICE): the adoption/create path CAS-claims exactly
        # lock 00000001, and _gc — the only thing that TTL-sweeps a
        # crashed claimant's dead markerless lock — otherwise runs only
        # AFTER a successful commit on this table, which a dead first
        # lock makes unreachable: every retry would raise
        # ConcurrentCommitError forever. Sweep on entry instead; inside
        # the TTL the conflict stays (could be a live racer mid-publish,
        # the documented bounded-liveness window), past it the table
        # unwedges itself.
        _gc(spark, base, keep_versions, 3600.0)
    legacy = [n for n in _listdir(spark, base) if not n.startswith(("_", "."))]
    sentinel = hadoop_path(spark, f"{base}/_commits/{_MIGRATION_SENTINEL}")

    def _sweep_legacy() -> None:
        for n in legacy:
            fs.delete(hadoop_path(spark, f"{base}/{n}"), True)

    if cur is None:
        if legacy:
            # adopt the plain-parquet table as the prior snapshot; the
            # read's file listing is resolved before commit_version
            # stages under ``_v-<token>``, and the legacy files are only
            # deleted after the merged version is durably committed
            old = spark.read.parquet(base)
            merged = upsert_keep_latest(old, new, keys, order_col)
            fs.mkdirs(hadoop_path(spark, f"{base}/_commits"))
            fs.create(sentinel, True).close()
            seq = commit_version(
                spark, merged, base, expected_seq=0,
                keep_versions=keep_versions, sidecar=sidecar,
            )
            _sweep_legacy()
            fs.delete(sentinel, False)
            return seq
        merged = upsert_keep_latest(None, new, keys, order_col)
        # expected_seq=0, NOT None: a blind create would let two
        # concurrent FIRST upserts both publish (the second computes
        # next_seq past the first's lock and silently shadows its
        # batch). Claiming exactly seq 1 makes the loser surface as
        # ConcurrentCommitError — the same CAS every later upsert gets
        # (round-12 review; the adoption branch above already did this).
        return commit_version(
            spark, merged, base, expected_seq=0,
            keep_versions=keep_versions, sidecar=sidecar,
        )

    if legacy:
        if not fs.exists(sentinel):
            raise RuntimeError(
                f"{base}: plain data files {legacy} coexist with a commit log "
                "and no migration sentinel — refusing to guess whether they "
                "were already merged. Move them aside or re-point the sink."
            )
        _sweep_legacy()  # resume a crashed migration's sweep (already in v1)
    if fs.exists(sentinel):
        fs.delete(sentinel, False)

    old = read_committed(spark, base)
    merged = upsert_keep_latest(old, new, keys, order_col)
    return commit_version(
        spark, merged, base, expected_seq=cur[0],
        keep_versions=keep_versions, sidecar=sidecar,
    )


def compact_versioned(
    spark: SparkSession,
    table: str,
    target_rows_per_file: int,
    *,
    sort_within: list[str] | None = None,
    keep_versions: int = 2,
) -> dict:
    """Small-files compaction through the commit log. Versus
    ``io/layout.compact``'s sibling-dir double-rename: there is no
    moment where the table path is missing or half-swapped — the old
    version stays the committed one until the single marker rename, and
    stays on disk for ``keep_versions`` commits after."""
    import math

    from pyspark.sql import functions as F

    cur = current_version(spark, table)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {table}")
    df = read_committed(spark, table)
    files_before = df.select(F.input_file_name()).distinct().count()
    n_rows = df.count()
    n_out = max(1, math.ceil(n_rows / target_rows_per_file))
    out = df.repartition(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    seq = commit_version(
        spark, out, table, expected_seq=cur[0], keep_versions=keep_versions,
        # compaction is a pure LAYOUT change: the previous version's
        # stats sidecar still describes the rows, so carry it forward —
        # otherwise read_sidecar silently reverts downstream consumers
        # to their unhinted path (round-12 review)
        sidecar=read_sidecar(spark, table),
    )
    after = read_committed(spark, table)
    files_after = after.select(F.input_file_name()).distinct().count()
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
        "seq": seq,
    }
