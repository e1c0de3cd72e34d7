#!/usr/bin/env python3
"""End-to-end benchmark of the osmart ETL on Spark ``local[4]``.

    python3 perfbench/run.py --workload cron_daily --seed 1 --seconds 12 --trace 0

One client drives the program's public entry points in a closed loop, in
one long-lived session: set-up (JVM start, input generation and the
first, cold jobs) is measured as ``setup_s``, then whole operations run
until ``--seconds`` have passed, then the outputs are checked. The last
line on stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. Progress and a
readable summary, wall times included, go to stderr. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
VENTAS_BUCKETS = 64  # run_sales_incremental's default, which run_etl uses
HISTORY_SEED = 0  # the cron history is the same for every seed: one template lake
# No-op ticks per data tick. A no-op tick is short (about 2 s of CPU), so
# one sample of it is at the mercy of a single GC pause or burst of host
# contention; the median of three is steadier.
NOOPS_PER_DATA = 3
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

from gen import EventStream, Shape, land_day, land_history, write_testdata_events  # noqa: E402

# The paper-core registry queries that read only ``events`` and write
# nothing, in the order a pass runs them.
QUERY_MIX = (
    # sales
    "sales_payment_split", "sales_incremental_extract", "sales_pipeline_full",
    "payment_waterfall", "rule_tagger", "conditional_override", "case_sign_flip",
    # movements
    "event_normalizer_branches", "multi_source_union",
    # stock replay
    "segmented_replay", "running_balance", "sod_lag", "change_point_encode",
    "asof_lookup", "calendar_scaffold", "stock_points_pipeline", "replay_incremental",
    # aggregates and keys
    "tumbling_window_net", "daily_net_agg", "watermark_discovery",
    "upsert_keep_latest", "earliest_per_group", "dedup_by_key",
)

# Input sizes. "full" is what the benchmark measures; "tiny" runs the
# same code in seconds, for the benchmark's own tests.
SIZES = {
    "full": {
        # 60 days of history at 200 events a day, then one new day of
        # 5k events per data tick, over 5k Zipf-skewed SKUs.
        "cron_daily": {"history": Shape(days=60, events_per_day=200, n_keys=5000),
                       "shape": Shape(days=100, events_per_day=5000, n_keys=5000)},
        # the sf0.1 key count and span (1.5k uniform keys, 30 days) at a
        # quarter of its volume: ~25k events.
        "query_mix": {"shape": Shape(days=30, events_per_day=834, n_keys=1500,
                                     zipf_s=0.0)},
    },
    "tiny": {
        "cron_daily": {"history": Shape(days=4, events_per_day=100, n_keys=60),
                       "shape": Shape(days=12, events_per_day=200, n_keys=60)},
        "query_mix": {"shape": Shape(days=3, events_per_day=150, n_keys=25, zipf_s=0.0)},
    },
}

# Span → short name used in the per-layer Spark metrics.
SPARK_SPANS = {
    "op": "op",
    "orchestrator.sales": "sales",
    "orchestrator.raw_movements": "raw_movements",
    "orchestrator.stock_points": "stock_points",
    "queries.build": "build",
    "queries.action": "action",
}
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "job_active_s",
)


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in the order they print."""
    names = {
        "orchestrator.sales_s": "s", "orchestrator.raw_movements_s": "s",
        "orchestrator.stock_points_s": "s",
        "incremental.wm_get_s": "s", "incremental.wm_set_s": "s",
        "incremental.wm_calls": "count", "incremental.extract_s": "s",
        "incremental.checkpoint_s": "s", "incremental.load_s": "s",
        "atomic.upsert_versioned_s": "s", "atomic.commit_version_s": "s",
        "atomic.commit_log_reads": "count",
        "sinks.merge_upsert_partitioned_s": "s", "sinks.merge_accumulate_versioned_s": "s",
        "sinks.write_append_s": "s", "sinks.buckets_rewritten_ratio": "ratio",
        "lake.bytes_written_per_event": "B/event",
        "sources.read_table_s": "s", "sources.read_table_calls": "count",
        "queries.build_s": "s", "queries.action_s": "s", "caching.ledger_size_max": "count",
        "windows.replay_calls": "count",
    }
    for short in SPARK_SPANS.values():
        for m in SPARK_METRICS:
            unit = "B" if m.endswith("_bytes") else "s" if m.endswith("_s") else "count"
            names[f"spark.{m}.{short}"] = unit
        names[f"driver.gap_s.{short}"] = "s"
        names[f"spark.slot_util.{short}"] = "ratio"
    names.update({
        "wall.setup_s": "s", "wall.op_p50_s": "s", "wall.fixed_p50_s": "s",
        "wall.events_per_s": "1/s", "mem.peak_rss_mb": "MB",
        "traced.op_cpu_s": "s", "traced.fixed_cpu_s": "s",
    })
    return names


# Times are CPU seconds: on a shared machine, hypervisor steal moves wall
# times by up to 2x within minutes, which no run length here averages out.
# Wall times are printed on stderr and in the traced run's ``wall.*``.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "fixed_cpu_s": "s",
    "lake_bytes_per_event": "B/event",
    "retained_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    """What one workload measured: wall and CPU seconds of set-up, of each
    timed operation (``op_*``) and of its fixed-cost counterpart
    (``fixed_*``)."""

    setup_s: float
    setup_cpu_s: float
    op_s: list[float]
    fixed_s: list[float]
    op_cpu_s: list[float]
    fixed_cpu_s: list[float]
    events: int
    events_s: float
    lake_bytes_per_event: float
    retained_mb: float
    attempted: int
    failed: int
    problems: list[str]
    ops: list[str] = field(default_factory=list)  # ctx ids of timed operations
    extra: dict[str, float] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_spark(work: str):
    """The program's own session factory on ``local[4]``; only where the
    engine keeps its temporary files, the heap cap and the status-store
    retention (for the traced run's job counters) are set here."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from osmart_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        # pinned, so plans and task counts do not follow the host's cores
        shuffle_partitions=max(2 * CORES, 32),
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of this Python process, of the driver JVM
    ``pid`` (every thread) and of the JVM's descendants (Python workers).
    Time the hypervisor steals from the machine is not in it, unlike wall
    time. Used for set-up, which is where JIT warm-up belongs."""
    ticks, parent = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = int(fields[11]) + int(fields[12])
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    own = resource.getrusage(resource.RUSAGE_SELF)
    return (sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")
            + own.ru_utime + own.ru_stime)


def client_cpu_seconds(spark) -> float:
    """CPU seconds of this Python process plus the driver JVM thread that
    serves its calls (py4j pins one JVM thread per Python thread), which
    plans and submits the Spark jobs."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return time.process_time() + mx.getCurrentThreadCpuTime() / 1e9


class CpuMeter:
    """CPU seconds of the timed operations: the client thread (see
    ``client_cpu_seconds``) measured around each phase, plus the executor
    CPU time of the Spark tasks of the jobs the phase submitted, which carry
    the phase's job tag and are read back from the status store afterwards.
    The JVM's background threads (JIT compiler, GC, listener bus, cleaner)
    are left out: they follow host load and compilation timing more than
    the work done."""

    def __init__(self, spark):
        self.spark = spark
        self.client: dict[str, float] = defaultdict(float)

    @contextmanager
    def phase(self, tag: str):
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        c = client_cpu_seconds(self.spark)
        try:
            yield
        finally:
            self.client[tag] += client_cpu_seconds(self.spark) - c
            sc.removeJobTag(tag)

    def totals(self) -> dict[str, float]:
        """phase tag → client plus task CPU seconds."""
        from spans import spark_jobs

        out = dict(self.client)
        for job in spark_jobs(self.spark).values():
            for tag in job["tags"]:
                if tag in out:
                    out[tag] += job["executor_cpu_s"]
        return out


def retained_mb(spark) -> float:
    """Driver JVM heap in use right after a full GC: what the session
    keeps alive, cached blocks included. Non-heap (JIT code cache) is
    left out, it varies with compilation timing. The second GC collects
    what Spark's ContextCleaner released after the first."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class NullTracer:
    """Stands in for ``spans.Tracer`` in an untraced run."""

    ctx = None

    def span(self, name):
        from contextlib import nullcontext

        return nullcontext()


# ---------------------------------------------------------------------------
# Lake helpers
# ---------------------------------------------------------------------------

def lake_paths(work: str) -> dict[str, str]:
    lake = os.path.join(work, "lake")
    return {
        "events_path": os.path.join(lake, "events"),
        "ventas_path": os.path.join(lake, "ventas"),
        "raw_log_path": os.path.join(lake, "raw_stock_movements"),
        "points_path": os.path.join(lake, "stock_points"),
        "watermark_path": os.path.join(lake, "etl_progress"),
    }


def lake_files(lake: dict[str, str]) -> dict[str, int]:
    """path → size of every file of every lake table (the ``ventas``
    accumulator included), retained versions included; the landed
    events are input, not lake."""
    out = {}
    tables = [v for k, v in lake.items() if k != "events_path"]
    tables.append(lake["ventas_path"] + "_accum")
    for t in tables:
        for dirpath, _, files in os.walk(t):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def bucket_seqs(ventas: str) -> dict[str, str]:
    """bucket dir → newest commit-log entry, listed from outside."""
    out = {}
    if not os.path.isdir(ventas):
        return out
    for b in os.listdir(ventas):
        commits = os.path.join(ventas, b, "_commits")
        if b.startswith("bucket=") and os.path.isdir(commits):
            entries = sorted(n for n in os.listdir(commits) if "-" in n)
            out[b] = entries[-1] if entries else ""
    return out


def template_key(history) -> str:
    """Names a template lake: the history's shape plus every source file
    that writes the lake (the program and the generator), so a template is
    never reused across program versions."""
    h = hashlib.sha1(repr(history).encode())
    files = [os.path.join(HERE, "gen.py")]
    for dirpath, _, names in os.walk(os.path.join(ROOT, "osmart_etl_spark")):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def seed_lake(history, lake: dict[str, str], backfill) -> tuple[int, bool]:
    """Give ``lake`` the cron history and the lake its backfill leaves.

    The backfill runs once per checkout and program version; its lake is
    kept under ``WORK/templates`` and copied for every later run. Returns
    the history's event count and whether the backfill ran here."""
    import pyarrow.parquet as pq

    template = os.path.join(WORK, "templates", template_key(history))
    root = os.path.dirname(lake["events_path"])
    ran = not os.path.isdir(template)
    if ran:
        land_history(EventStream(HISTORY_SEED, history), history.days, lake["events_path"])
        backfill()
        tmp = f"{template}.tmp-{os.getpid()}"
        shutil.copytree(root, tmp)
        os.replace(tmp, template)
    else:
        shutil.copytree(template, root)
    events = pq.read_metadata(os.path.join(lake["events_path"], "history.parquet")).num_rows
    return events, ran


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def cron_daily(spark, work: str, seed: int, seconds: float, size: dict, tracer,
               t_start: float) -> Outcome:
    """A lake seeded from 60 days of history (one consolidated file, one
    backfill ``run_etl``, see ``seed_lake``), then cron ticks: a data tick
    (one new whole day lands as a new file, then ``run_etl``) followed by
    ``NOOPS_PER_DATA`` no-op ticks (cron fires again before the next day
    lands). Set-up ends with a warm-up data tick, so the timed data tick
    runs code paths already warmed against an existing lake."""
    from checks import check_lake
    from osmart_etl_spark.pipelines.orchestrator import run_etl

    shape, hist = size["shape"], size["history"].days
    stream = EventStream(seed, shape)
    lake = lake_paths(work)
    meter = CpuMeter(spark)
    traced = not isinstance(tracer, NullTracer)
    failed, attempted = 0, 0

    def tick(ctx: str):
        nonlocal failed, attempted
        tracer.ctx = ctx
        with meter.phase(ctx), tracer.span("op"):
            report = run_etl(spark, **lake)
        attempted += len(report.succeeded) + len(report.failed)
        failed += len(report.failed)
        if report.failed:
            log(f"{ctx}: failed stages {report.failed}")

    def backfill():
        tick("setup")
        if failed:  # never keep a broken lake as the template
            raise RuntimeError("the history backfill failed")

    events, backfilled = seed_lake(size["history"], lake, backfill)
    events += land_day(stream, hist, lake["events_path"])
    # Warm-up data tick, the first run_etl on an existing lake. No warm-up
    # no-op tick: a no-op tick runs a subset of a data tick's code, the
    # median of the timed no-op ticks leaves out the first one if it is
    # slower, and the run budget has no room for the extra tick.
    tick("setup")
    if failed:
        raise RuntimeError("a warm-up tick failed")
    pid = jvm_pid(spark)
    setup_s, setup_cpu_s = time.perf_counter() - t_start, cpu_seconds(pid)
    log(f"cron_daily: lake with {hist} days of history "
        f"({'backfilled, kept as template' if backfilled else 'copied from template'}) "
        f"and one warm-up day, {events} events, in {setup_s:.2f}s")

    wall = {"data": [], "noop": []}
    ops, new_events, rewritten, written = [], 0, [], 0
    day = hist + 1
    t0 = time.perf_counter()
    while day < shape.days:
        for kind in ("data",) + ("noop",) * NOOPS_PER_DATA:
            if kind == "data":
                new_events += land_day(stream, day, lake["events_path"])
                day += 1
                if traced:
                    files0, seqs0 = lake_files(lake), bucket_seqs(lake["ventas_path"])
            ctx = f"tick{len(ops)}-{kind}"
            ops.append(ctx)
            t = time.perf_counter()
            tick(ctx)
            wall[kind].append(time.perf_counter() - t)
            if kind == "data" and traced:
                files1, seqs1 = lake_files(lake), bucket_seqs(lake["ventas_path"])
                written += sum(s for p, s in files1.items() if p not in files0)
                changed = sum(1 for b, s in seqs1.items() if seqs0.get(b) != s)
                rewritten.append(changed / VENTAS_BUCKETS)
        if time.perf_counter() - t0 >= seconds:
            break
    tracer.ctx = None
    log(f"cron_daily: timed region done at {time.perf_counter() - t_start:.2f}s")

    cpu = meter.totals()
    events += new_events
    lake_bytes = sum(lake_files(lake).values())
    retained = retained_mb(spark)
    problems = check_lake(spark, lake)
    extra = {}
    if traced:
        extra["sinks.buckets_rewritten_ratio"] = statistics.mean(rewritten)
        extra["lake.bytes_written_per_event"] = written / new_events
    return Outcome(
        setup_s=setup_s, setup_cpu_s=setup_cpu_s,
        op_s=wall["data"], fixed_s=wall["noop"],
        op_cpu_s=[cpu[c] for c in ops if c.endswith("-data")],
        fixed_cpu_s=[cpu[c] for c in ops if c.endswith("-noop")],
        events=new_events, events_s=sum(wall["data"]),
        lake_bytes_per_event=lake_bytes / events, retained_mb=retained,
        attempted=attempted, failed=failed, problems=problems, ops=ops, extra=extra,
    )


def query_mix(spark, work: str, seed: int, seconds: float, size: dict, tracer,
              t_start: float) -> Outcome:
    """One analyst client runs the paper-core query list over the events
    table, each query built then run through the ``noop`` sink."""
    from checks import check_queries
    from osmart_etl_spark import queries as registry
    from osmart_etl_spark.caching import ledger_size

    shape = size["shape"]
    sf_dir = os.path.join(work, "sf")
    n_events = write_testdata_events(EventStream(seed, shape), sf_dir)
    fns, oracles = registry.queries(), registry.oracle_sql()

    # Warm-up pass, in set-up: each query built and collected once. The
    # collected rows are what the output check compares afterwards.
    tracer.ctx = "setup"
    results, problems = {}, []
    for name in QUERY_MIX:
        try:
            with tracer.span("op"):
                results[name] = fns[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            problems.append(f"{name}: raised {type(exc).__name__}: {exc}"[:300])
    pid = jvm_pid(spark)
    setup_s, setup_cpu_s = time.perf_counter() - t_start, cpu_seconds(pid)
    log(f"query_mix: {n_events} events, warm-up pass in set-up, {setup_s:.2f}s")

    meter = CpuMeter(spark)
    pass_s, build_s = [], []
    ops, failed, attempted, ledger_max = [], 0, 0, 0
    t0 = time.perf_counter()
    while True:
        builds = 0.0
        tp = time.perf_counter()
        for name in QUERY_MIX:
            ctx = f"pass{len(pass_s)}-{name}"
            tracer.ctx = ctx
            ops.append(ctx)
            attempted += 1
            try:
                with tracer.span("op"):
                    tb = time.perf_counter()
                    with meter.phase(f"{ctx}:build"), tracer.span("queries.build"):
                        df = fns[name](spark, sf_dir)
                    builds += time.perf_counter() - tb
                    ledger_max = max(ledger_max, ledger_size())
                    with meter.phase(f"{ctx}:action"), tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                    ledger_max = max(ledger_max, ledger_size())
            except Exception as exc:  # noqa: BLE001 — counted as failed
                failed += 1
                log(f"{ctx}: raised {type(exc).__name__}: {exc}"[:300])
        pass_s.append(time.perf_counter() - tp)
        build_s.append(builds)
        if time.perf_counter() - t0 >= seconds:
            break
    tracer.ctx = None

    cpu = meter.totals()
    pass_cpu = [sum(v for t, v in cpu.items() if t.startswith(f"pass{p}-"))
                for p in range(len(pass_s))]
    build_cpu = [sum(v for t, v in cpu.items() if t.startswith(f"pass{p}-")
                     and t.endswith(":build")) for p in range(len(pass_s))]
    retained = retained_mb(spark)
    problems += check_queries(sf_dir, results, oracles)
    events_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    return Outcome(
        setup_s=setup_s, setup_cpu_s=setup_cpu_s,
        op_s=pass_s, fixed_s=build_s, op_cpu_s=pass_cpu, fixed_cpu_s=build_cpu,
        events=n_events * len(pass_s), events_s=sum(pass_s),
        lake_bytes_per_event=events_bytes / n_events, retained_mb=retained,
        attempted=attempted, failed=failed, problems=problems, ops=ops,
        extra={"caching.ledger_size_max": float(ledger_max)},
    )


WORKLOADS = {"cron_daily": cron_daily, "query_mix": query_mix}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def end_to_end(out: Outcome) -> dict[str, float]:
    return {
        "setup_s": out.setup_cpu_s,
        "op_cpu_s": statistics.median(out.op_cpu_s),
        "fixed_cpu_s": statistics.median(out.fixed_cpu_s),
        "lake_bytes_per_event": out.lake_bytes_per_event,
        "retained_mb": out.retained_mb,
    }


def wall_clock(out: Outcome, rss_mb: float) -> dict[str, float]:
    """What a user of the tick waits for; unbounded (see END_TO_END)."""
    return {
        "wall.setup_s": out.setup_s,
        "wall.op_p50_s": statistics.median(out.op_s),
        "wall.fixed_p50_s": statistics.median(out.fixed_s),
        "wall.events_per_s": out.events / out.events_s,
        "mem.peak_rss_mb": rss_mb,
    }


def per_layer(out: Outcome, tracer, jobs: dict) -> dict[str, float]:
    """Per-layer totals over the timed operations, divided by their count
    (ticks of both kinds, or queries run)."""
    from spans import summarize

    agg = summarize(tracer, jobs, set(out.ops), CORES, tuple(SPARK_SPANS))
    n = len(out.ops)
    vals = {
        "orchestrator.sales_s": agg.get("orchestrator.sales", 0.0),
        "orchestrator.raw_movements_s": agg.get("orchestrator.raw_movements", 0.0),
        "orchestrator.stock_points_s": agg.get("orchestrator.stock_points", 0.0),
        "incremental.wm_get_s": agg.get("incremental.wm_get", 0.0),
        "incremental.wm_set_s": agg.get("incremental.wm_set", 0.0),
        "incremental.wm_calls": agg.get("incremental.wm_calls", 0.0),
        "incremental.extract_s": agg.get("incremental.extract", 0.0),
        "incremental.checkpoint_s": agg.get("incremental.run.self", 0.0),
        "incremental.load_s": agg.get("incremental.load", 0.0),
        "atomic.upsert_versioned_s": agg.get("atomic.upsert_versioned", 0.0),
        "atomic.commit_version_s": agg.get("atomic.commit_version", 0.0),
        "atomic.commit_log_reads": agg.get("atomic.commit_log_reads", 0.0),
        "sinks.merge_upsert_partitioned_s": agg.get("sinks.merge_upsert_partitioned", 0.0),
        "sinks.merge_accumulate_versioned_s": agg.get("sinks.merge_accumulate_versioned", 0.0),
        "sinks.write_append_s": agg.get("sinks.write_append", 0.0),
        "sources.read_table_s": agg.get("sources.read_table", 0.0),
        "sources.read_table_calls": agg.get("sources.read_table_calls", 0.0),
        "queries.build_s": agg.get("queries.build", 0.0),
        "queries.action_s": agg.get("queries.action", 0.0),
        "windows.replay_calls": agg.get("windows.replay_calls", 0.0),
    }
    vals = {k: v / n for k, v in vals.items()}
    for span, short in SPARK_SPANS.items():
        for m in SPARK_METRICS:
            vals[f"spark.{m}.{short}"] = agg.get(f"spark.{m}.{span}", 0.0) / n
        vals[f"driver.gap_s.{short}"] = agg.get(f"driver.gap_s.{span}", 0.0) / n
        vals[f"spark.slot_util.{short}"] = agg.get(f"spark.slot_util.{span}", 0.0)
    vals["sinks.buckets_rewritten_ratio"] = out.extra.get("sinks.buckets_rewritten_ratio", 0.0)
    vals["lake.bytes_written_per_event"] = out.extra.get("lake.bytes_written_per_event", 0.0)
    vals["caching.ledger_size_max"] = out.extra.get("caching.ledger_size_max", 0.0)
    vals["traced.op_cpu_s"] = statistics.median(out.op_cpu_s)
    vals["traced.fixed_cpu_s"] = statistics.median(out.fixed_cpu_s)
    return vals


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full") -> dict:
    """Run one workload and return the result object that ``main`` prints."""
    t_start = time.perf_counter()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)
    try:
        tracer = NullTracer()
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        out = WORKLOADS[workload](spark, work, seed, seconds, SIZES[scale][workload],
                                  tracer, t_start)
        t_checked = time.perf_counter()
        wall = wall_clock(out, peak_rss_mb(spark))
        if trace:
            from spans import spark_jobs

            tracer.uninstall()
            jobs = spark_jobs(spark)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{workload}-{seed}.jsonl"), jobs)
            values = {**per_layer(out, tracer, jobs), **wall}
            units = per_layer_names()
        else:
            values = end_to_end(out)
            units = END_TO_END
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"workload done at {t_checked - t_start:.2f}s, stopped in "
        f"{time.perf_counter() - t_stop:.2f}s, whole run {time.perf_counter() - t_start:.2f}s")

    for p in out.problems:
        log(f"CHECK FAILED {p}")
    log(f"{workload} seed={seed}: {len(out.op_s)} op samples, {len(out.fixed_s)} fixed "
        f"samples, failed {out.failed}/{out.attempted} "
        f"(failed_ratio {out.failed / out.attempted:.3f}), output check "
        f"{'passed' if not out.problems else 'FAILED'}")
    for k, v in values.items():
        log(f"  {k} = {v:.6g} {units[k]}")
    if not trace:
        for k, v in wall.items():
            log(f"  ({k} = {v:.6g}, unbounded)")
    return {
        "correct": not out.problems and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
