"""Crash-safety contract of the manifest-committed versioned table
(io/atomic.py): every interruption point between staging and publish
leaves the previously committed version fully readable, orphans are
swept, and the publish is a real CAS under writer races."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmart_etl_spark.io import atomic
from osmart_etl_spark.io.atomic import (
    ConcurrentCommitError,
    commit_version,
    compact_versioned,
    current_version,
    read_committed,
    upsert_versioned,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame(pairs, ["k", "v", "ts"])


def test_commit_and_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = _mk(spark, [(1, "a", 10), (2, "b", 10)])
    seq = commit_version(spark, df, t)
    assert seq == 1
    assert current_version(spark, t)[0] == 1
    assert _rows(read_committed(spark, t)) == _rows(df)


def test_upsert_keep_latest_semantics_and_gc(spark, tmp_path):
    t = str(tmp_path / "tbl")
    upsert_versioned(spark, _mk(spark, [(1, "a", 10), (2, "b", 10)]), t, ["k"], "ts")
    upsert_versioned(spark, _mk(spark, [(2, "B", 20), (3, "c", 5)]), t, ["k"], "ts")
    upsert_versioned(spark, _mk(spark, [(1, "stale", 1)]), t, ["k"], "ts")
    got = {r["k"]: (r["v"], r["ts"]) for r in read_committed(spark, t).collect()}
    # k=2 updated (newer ts), k=1 NOT downgraded by the stale row
    # (keep-latest: greatest ts wins), k=3 inserted.
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 5)}
    # retention: keep_versions=2 → exactly 2 version dirs + 2 markers left
    names = atomic._listdir(spark, t)
    assert sum(n.startswith("_v-") for n in names) == 2
    assert len(atomic._commit_log(spark, t)) == 2
    assert current_version(spark, t)[0] == 3


@pytest.mark.slow
def test_crash_after_staging_before_publish_leaves_table_readable(
    spark, tmp_path, monkeypatch
):
    """The headline scenario: the new version directory is fully
    written but the process dies before the marker rename. The old
    version must stay the committed one, and the orphan must be swept
    by the next successful commit."""
    t = str(tmp_path / "tbl")
    v1 = _mk(spark, [(1, "a", 10)])
    commit_version(spark, v1, t)

    class Boom(RuntimeError):
        pass

    # Simulate the crash at the publish boundary: staging completes,
    # then the process dies the instant before the marker is created.
    real_log = atomic._commit_log

    def die_after_staging(spark_, base):
        # _commit_log is the first thing commit_version does AFTER the
        # staging write — dying here models "crash between phases".
        if atomic._listdir(spark_, base).count("_commits") == 1:
            raise Boom()
        return real_log(spark_, base)

    monkeypatch.setattr(atomic, "_commit_log", die_after_staging)
    with pytest.raises(Boom):
        commit_version(spark, _mk(spark, [(1, "CRASHED", 99)]), t)
    monkeypatch.setattr(atomic, "_commit_log", real_log)

    # Old table readable and unchanged; the crashed version is invisible.
    assert _rows(read_committed(spark, t)) == _rows(v1)
    assert current_version(spark, t)[0] == 1
    # Orphaned staging exists on disk right now…
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 2
    # …survives a commit while inside the orphan TTL (could be a live
    # concurrent writer's staging — must not be yanked)…
    commit_version(spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1)
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 3
    # …and is swept once past the TTL.
    commit_version(
        spark, _mk(spark, [(1, "c", 30)]), t, expected_seq=2, orphan_ttl_s=0.0
    )
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 2
    assert {r["v"] for r in read_committed(spark, t).collect()} == {"c"}


def test_crash_mid_marker_write_is_invisible(spark, tmp_path):
    """A leftover hidden temp marker (crash between create and rename)
    is ignored by version resolution and swept by the next commit."""
    t = str(tmp_path / "tbl")
    commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    (tmp_path / "tbl" / "_commits" / ".tmp-deadbeef0000").write_text("")
    assert current_version(spark, t)[0] == 1
    assert _rows(read_committed(spark, t)) == _rows(_mk(spark, [(1, "a", 10)]))
    commit_version(
        spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1, orphan_ttl_s=0.0
    )
    assert not any(
        n.startswith(".tmp-") for n in atomic._listdir(spark, t + "/_commits")
    )


def test_concurrent_commit_cas(spark, tmp_path):
    """A writer that staged against seq 1 must NOT publish if another
    writer committed seq 2 meanwhile — and its staging is cleaned."""
    t = str(tmp_path / "tbl")
    commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    commit_version(spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1)
    with pytest.raises(ConcurrentCommitError):
        commit_version(spark, _mk(spark, [(1, "lost", 15)]), t, expected_seq=1)
    # loser's staging removed; winner's data intact
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 2
    assert {r["v"] for r in read_committed(spark, t).collect()} == {"b"}


def test_publish_race_on_same_seq(spark, tmp_path):
    """Even without expected_seq, two writers racing to the same next
    sequence cannot both win: the sequence claim is an exclusive
    create, so the second claimant gets ConcurrentCommitError — never
    two committed versions under one sequence number."""
    t = str(tmp_path / "tbl")
    commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    (tmp_path / "tbl" / "_v-aaaaaaaaaaaa").mkdir()
    import osmart_etl_spark.io.atomic as mod

    orig = mod._listdir
    state = {"commits_lists": 0}

    def racer_after_lock_listing(spark_, path):
        names = orig(spark_, path)
        if path.endswith("/_commits"):
            state["commits_lists"] += 1
            # commit_version lists _commits twice before claiming (the
            # marker log, then the lock scan); the racer lands its
            # claim + marker right after the SECOND listing — inside
            # the check-then-claim window.
            if state["commits_lists"] == 2:
                (tmp_path / "tbl" / "_commits" / "00000002.lock").write_text("")
                (
                    tmp_path / "tbl" / "_commits" / "00000002-aaaaaaaaaaaa"
                ).write_text("")
        return names

    mod._listdir = racer_after_lock_listing
    try:
        with pytest.raises(ConcurrentCommitError):
            commit_version(spark, _mk(spark, [(1, "race", 30)]), t)
    finally:
        mod._listdir = orig
    # the racer's claim stands; the loser's staging was cleaned up, so
    # only v1's dir and the racer's dir remain
    assert current_version(spark, t) == (2, "aaaaaaaaaaaa")
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 2


def test_skip_ahead_window_closed(spark, tmp_path, monkeypatch):
    """Round-7 ADVICE hole: a racer claims AND commits expected_seq+1
    in the window after this writer's commit-log read. The CAS writer
    must lose (it derived from a now-stale snapshot) — it must NOT
    claim a higher sequence and silently supersede the racer."""
    t = str(tmp_path / "tbl")
    seq1 = commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    assert seq1 == 1
    tok1 = current_version(spark, t)[1]

    # The racer's committed seq-2 lock + marker are already on disk…
    (tmp_path / "tbl" / "_v-bbbbbbbbbbbb").mkdir()
    (tmp_path / "tbl" / "_commits" / "00000002.lock").write_text("")
    (tmp_path / "tbl" / "_commits" / "00000002-bbbbbbbbbbbb").write_text("")
    # …but this writer's log read happened BEFORE the racer landed:
    monkeypatch.setattr(atomic, "_commit_log", lambda s, b: [(1, tok1)])
    with pytest.raises(ConcurrentCommitError):
        commit_version(spark, _mk(spark, [(1, "stalemerge", 99)]), t, expected_seq=1)
    monkeypatch.undo()
    # racer's version is still the committed one; loser staging cleaned
    assert current_version(spark, t) == (2, "bbbbbbbbbbbb")
    assert sum(n.startswith("_v-") for n in atomic._listdir(spark, t)) == 2


def test_dead_claim_blocks_cas_until_gc_sweep(spark, tmp_path):
    """A crashed claimant's markerless lock at expected_seq+1 makes a
    CAS writer fail with a SPURIOUS ConcurrentCommitError (never a lost
    update); the TTL GC sweeps the dead claim, after which the retry
    succeeds at the same sequence."""
    t = str(tmp_path / "tbl")
    commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    (tmp_path / "tbl" / "_commits" / "00000002.lock").write_text("")
    with pytest.raises(ConcurrentCommitError):
        commit_version(spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1)
    # past the TTL the dead claim is debris; sweep and retry
    atomic._gc(spark, t, keep_versions=2, orphan_ttl_s=0.0)
    seq = commit_version(spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1)
    assert seq == 2
    assert {r["v"] for r in read_committed(spark, t).collect()} == {"b"}


def test_time_travel_within_retention(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_version(spark, _mk(spark, [(1, "a", 10)]), t)
    commit_version(spark, _mk(spark, [(1, "b", 20)]), t, expected_seq=1)
    assert {r["v"] for r in read_committed(spark, t, at=1).collect()} == {"a"}
    assert {r["v"] for r in read_committed(spark, t, at=2).collect()} == {"b"}


@pytest.mark.slow
def test_compact_versioned_preserves_data_and_counts_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.lit(1).alias("ts"),
    ).repartition(16)
    commit_version(spark, df, t)
    before = _rows(read_committed(spark, t))
    stats = compact_versioned(spark, t, target_rows_per_file=500)
    assert stats["files_before"] >= 8
    assert stats["files_after"] <= 4
    assert stats["n_rows"] == 1000
    assert _rows(read_committed(spark, t)) == before
    # previous version retained → a reader that resolved seq 1 before
    # the compaction can still finish its scan
    assert {r["k"] for r in read_committed(spark, t, at=1).collect()} == set(
        range(1000)
    )


@pytest.mark.slow
def test_legacy_plain_parquet_adopted_on_first_versioned_commit(spark, tmp_path):
    """Round-8 ADVICE: switching a sink from upsert_parquet to
    upsert_versioned must not silently drop the previously landed rows
    — the first versioned commit adopts them as the prior snapshot."""
    t = str(tmp_path / "tbl")
    _mk(spark, [(1, "a", 10), (2, "b", 10)]).write.parquet(t)  # legacy layout
    upsert_versioned(spark, _mk(spark, [(2, "B", 20), (3, "c", 5)]), t, ["k"], "ts")
    got = {r["k"]: (r["v"], r["ts"]) for r in read_committed(spark, t).collect()}
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 5)}
    # legacy plain files removed; only _-prefixed versioned layout remains
    names = atomic._listdir(spark, t)
    assert all(n.startswith(("_", ".")) for n in names), names
    # and the table keeps working as a normal versioned sink afterwards
    upsert_versioned(spark, _mk(spark, [(1, "A", 30)]), t, ["k"], "ts")
    got = {r["k"]: r["v"] for r in read_committed(spark, t).collect()}
    assert got == {1: "A", 2: "B", 3: "c"}


@pytest.mark.slow
def test_crashed_legacy_migration_sweep_resumes(spark, tmp_path, monkeypatch):
    """Crash between the migration commit and the legacy sweep: the
    sentinel survives, so the next upsert finishes the sweep instead of
    refusing (and the rows are not double-counted — keep-latest)."""
    t = str(tmp_path / "tbl")
    _mk(spark, [(1, "a", 10)]).write.parquet(t)
    real_commit = atomic.commit_version

    def crash_after_commit(*a, **kw):
        real_commit(*a, **kw)
        raise RuntimeError("simulated crash before legacy sweep")

    monkeypatch.setattr(atomic, "commit_version", crash_after_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_versioned(spark, _mk(spark, [(2, "b", 20)]), t, ["k"], "ts")
    monkeypatch.undo()
    # v1 committed, legacy files still on disk, sentinel present
    assert current_version(spark, t)[0] == 1
    assert any(not n.startswith(("_", ".")) for n in atomic._listdir(spark, t))
    upsert_versioned(spark, _mk(spark, [(3, "c", 30)]), t, ["k"], "ts")
    got = {r["k"]: r["v"] for r in read_committed(spark, t).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    names = atomic._listdir(spark, t)
    assert all(n.startswith(("_", ".")) for n in names), names
    assert atomic._MIGRATION_SENTINEL not in atomic._listdir(spark, f"{t}/_commits")


def test_foreign_plain_files_on_versioned_table_fail_loudly(spark, tmp_path):
    """Plain data files on an already-versioned table WITHOUT the
    migration sentinel are not ours to delete — loud error, no guess."""
    t = str(tmp_path / "tbl")
    upsert_versioned(spark, _mk(spark, [(1, "a", 10)]), t, ["k"], "ts")
    (tmp_path / "tbl" / "stray.parquet").write_bytes(b"not ours")
    with pytest.raises(RuntimeError, match="migration sentinel"):
        upsert_versioned(spark, _mk(spark, [(2, "b", 20)]), t, ["k"], "ts")
    # the stray file is untouched and the table is still readable
    assert (tmp_path / "tbl" / "stray.parquet").exists()
    assert current_version(spark, t)[0] == 1


def test_dead_adoption_claim_unwedges_after_ttl(spark, tmp_path):
    """Round-9 ADVICE: a claimant that crashed between claiming lock
    00000001 and writing its marker used to wedge the table FOREVER —
    the entry-path CAS (expected_seq=0) kept losing to the dead lock,
    and _gc (the only sweeper) only ran after a successful commit on
    the table, which the dead lock made unreachable. upsert_versioned
    now TTL-sweeps on entry when no version exists: inside the TTL the
    spurious conflict remains (could be a live racer), past it the
    first commit goes through."""
    import os

    t = str(tmp_path / "tbl")
    _mk(spark, [(1, "a", 10)]).write.parquet(t)  # legacy layout
    lock = tmp_path / "tbl" / "_commits" / "00000001.lock"
    lock.parent.mkdir()
    lock.write_text("")
    # fresh dead lock: inside the TTL the conflict must survive
    with pytest.raises(ConcurrentCommitError):
        upsert_versioned(spark, _mk(spark, [(2, "b", 20)]), t, ["k"], "ts")
    # age the lock past the TTL; the entry sweep now clears it
    os.utime(lock, (0, 0))
    upsert_versioned(spark, _mk(spark, [(2, "b", 20)]), t, ["k"], "ts")
    assert current_version(spark, t)[0] == 1
    got = {r["k"]: r["v"] for r in read_committed(spark, t).collect()}
    assert got == {1: "a", 2: "b"}


def test_sidecar_rides_the_commit(spark, tmp_path):
    """Round-12: stats sidecars are transactional with the version — a
    commit carrying one exposes it via read_sidecar, the next commit
    without one returns None (stats never outlive the state they
    describe), and keep-latest upserts thread it through."""
    from osmart_etl_spark.io.atomic import read_sidecar

    t = str(tmp_path / "side_tbl")
    assert read_sidecar(spark, t) is None  # absent table
    commit_version(
        spark, _mk(spark, [(1, "a", 10)]), t, sidecar={"max_key_rows": 7}
    )
    assert read_sidecar(spark, t) == {"max_key_rows": 7}
    # a commit WITHOUT a sidecar supersedes: stale stats must not leak
    commit_version(spark, _mk(spark, [(2, "b", 11)]), t, expected_seq=1)
    assert read_sidecar(spark, t) is None
    upsert_versioned(
        spark, _mk(spark, [(3, "c", 12)]), t, ["k"], "ts",
        sidecar={"max_key_rows": 9, "n_keys": 3},
    )
    assert read_sidecar(spark, t) == {"max_key_rows": 9, "n_keys": 3}
    # full-replace commit left {2}; the upsert merged {3} on top
    assert {r["k"] for r in read_committed(spark, t).collect()} == {2, 3}


def test_hadoop_path_class_resolved_once_per_spark_context(monkeypatch):
    """The Hadoop Path class costs py4j reflection round trips to
    resolve: it is looked up once per SparkContext, and again for a new
    context (after ``stop()``) even on the same gateway."""
    from types import SimpleNamespace

    lookups = []

    class JvmPackage:
        def __getattr__(self, name):
            lookups.append(name)
            return (lambda p: ("Path", p)) if name == "Path" else self

    class Jsc:
        def hadoopConfiguration(self):
            return "conf"

    monkeypatch.setattr(atomic, "_HADOOP", None)
    jvm = JvmPackage()
    first = SimpleNamespace(_jsc=Jsc(), _jvm=jvm)
    assert atomic.hadoop_path(first, "/a") == ("Path", "/a")
    per_resolve = len(lookups)
    assert per_resolve == 5  # org.apache.hadoop.fs.Path
    assert atomic.hadoop_path(first, "/b") == ("Path", "/b")
    assert len(lookups) == per_resolve
    restarted = SimpleNamespace(_jsc=Jsc(), _jvm=jvm)
    assert atomic.hadoop_path(restarted, "/c") == ("Path", "/c")
    assert len(lookups) == 2 * per_resolve
