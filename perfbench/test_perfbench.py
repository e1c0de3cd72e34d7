"""The benchmark's own tests: generator determinism, tiny-size runs of each
workload (untraced and traced), span coverage and self-time sums, and
cron ticks against a backfill of the same events.

    python3 -m pytest perfbench -q

Each tiny run starts its own Spark JVM, so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run as bench  # noqa: E402

# Spans every data tick must record, and every query of a pass.
DATA_TICK_SPANS = {
    "op", "orchestrator.run_etl", "orchestrator.sales", "orchestrator.raw_movements",
    "orchestrator.stock_points", "incremental.run", "incremental.wm_get",
    "incremental.wm_set", "incremental.extract", "incremental.load",
    "incremental.wm_expr", "atomic.upsert_versioned", "atomic.commit_version",
    "atomic.read_committed", "sinks.merge_upsert_partitioned",
    "sinks.merge_accumulate_versioned", "sinks.write_append",
    "sinks.read_accumulate_ledger", "windows.replay",
}
NOOP_TICK_SPANS = {
    "op", "orchestrator.run_etl", "orchestrator.sales", "orchestrator.raw_movements",
    "orchestrator.stock_points", "incremental.run", "incremental.wm_get",
    "incremental.extract", "incremental.wm_expr",
}
QUERY_SPANS = {"op", "queries.build", "queries.action", "sources.read_table"}
REPLAY_QUERIES = {"segmented_replay", "stock_points_pipeline", "replay_incremental"}


def test_same_seed_same_rows_other_seed_other_rows():
    shape = gen.Shape(days=3, events_per_day=50, n_keys=10)
    a = gen.EventStream(7, shape).days(0, 3)
    b = gen.EventStream(7, shape).days(0, 3)
    c = gen.EventStream(8, shape).days(0, 3)
    assert a.equals(b)
    assert not a.equals(c)
    ids = a["event_id"].to_pylist()
    ts = a["ts"].cast(pa.int64()).to_pylist()
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert ts == sorted(ts)


def test_timestamp_layouts(tmp_path):
    import pyarrow.parquet as pq

    stream = gen.EventStream(1, gen.Shape(days=2, events_per_day=20, n_keys=5))
    gen.land_day(stream, 1, str(tmp_path / "ev"))
    gen.write_testdata_events(stream, str(tmp_path / "sf"))
    landed = pq.read_schema(tmp_path / "ev" / "day-00001.parquet").field("ts").type
    testdata = pq.read_schema(tmp_path / "sf" / "events.parquet").field("ts").type
    assert landed == pa.timestamp("us", tz="UTC")  # isAdjustedToUTC=true
    assert testdata == pa.timestamp("us")  # isAdjustedToUTC=false


def _tiny_run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _tiny_run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == bench.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def _spans(workload: str) -> list[dict]:
    path = os.path.join(bench.WORK, "traces", f"{workload}-3.jsonl")
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if "sid" in r]


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
def test_tiny_traced_run(workload):
    res = _tiny_run(workload, 1)
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == bench.per_layer_names()

    spans = _spans(workload)
    by_ctx = defaultdict(list)
    for s in spans:
        if s["ctx"] not in (None, "setup"):
            by_ctx[s["ctx"]].append(s)
    assert by_ctx
    for ctx, group in by_ctx.items():
        names = {s["name"] for s in group}
        if ctx.endswith("-data"):
            want = DATA_TICK_SPANS
        elif ctx.endswith("-noop"):
            want = NOOP_TICK_SPANS
        else:
            want = QUERY_SPANS | ({"windows.replay"} if ctx.split("-", 1)[1]
                                  in REPLAY_QUERIES else set())
        assert want <= names, (ctx, sorted(want - names))

        # self times: each span minus its children; never negative, and
        # together no more than the operation's wall time
        child = defaultdict(float)
        for s in group:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        selfs = [s["end"] - s["start"] - child[s["sid"]] for s in group]
        assert min(selfs) > -1e-6
        (root,) = [s for s in group if s["name"] == "op"]
        assert sum(selfs) <= root["end"] - root["start"] + 1e-6


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    spark = bench.start_spark(str(tmp_path_factory.mktemp("work")))
    yield spark
    bench.stop_spark(spark)


def test_cron_ticks_equal_a_backfill_of_the_same_events(spark, tmp_path):
    """The lake after a seed and several daily ticks holds the same
    ``ventas`` and (canonical) stock points as one backfill over all of
    those events, and both match the independent recomputation."""
    from checks import actual_points, actual_ventas, check_lake, diff_frames
    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import read_merge_table
    from osmart_etl_spark.pipelines.orchestrator import run_etl

    size = bench.SIZES["tiny"]["cron_daily"]
    hist, shape = size["history"], size["shape"]
    cron = bench.lake_paths(str(tmp_path / "cron"))
    back = bench.lake_paths(str(tmp_path / "backfill"))
    gen.land_history(gen.EventStream(5, hist), hist.days, cron["events_path"])
    assert not run_etl(spark, **cron).failed
    for d in range(hist.days, hist.days + 3):
        gen.land_day(gen.EventStream(5, shape), d, cron["events_path"])
        assert not run_etl(spark, **cron).failed
        assert not run_etl(spark, **cron).failed  # no-op
    os.makedirs(back["events_path"])
    for f in os.listdir(cron["events_path"]):
        os.link(os.path.join(cron["events_path"], f), os.path.join(back["events_path"], f))
    assert not run_etl(spark, **back).failed

    assert check_lake(spark, cron) == []
    assert check_lake(spark, back) == []

    def state(lake):
        return (actual_ventas(read_merge_table(spark, lake["ventas_path"]).toPandas()),
                actual_points(read_committed(spark, lake["points_path"]).toPandas()))

    (cv, cp), (bv, bp) = state(cron), state(back)
    assert diff_frames("ventas", cv, bv) == []
    assert diff_frames("points", cp, bp) == []
