"""In-memory span recorder for the traced benchmark run.

The tracer wraps the program's public functions from the outside, at
every module attribute that binds them (``pipelines/inventory.py`` binds
``upsert_versioned``, ``write_append``, ``run_incremental`` and the
replay functions at import time; other modules import inside functions,
which reads the defining module's attribute). Each wrapper records one
span: name, start, end, parent span and the id of the tick or query it
ran under. A span also tags the Spark jobs it submits with a job group,
so per-span engine counters can be read back from the SparkContext's
status store after the run, without the web UI.

``install()`` patches and ``uninstall()`` restores every binding; nothing
is patched on import.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"
PKG = "osmart_etl_spark"

# (defining module, attribute, span name); attributes with a dot are
# methods of a class in that module.
SPANNED = [
    ("pipelines.orchestrator", "run_etl", "orchestrator.run_etl"),
    ("pipelines.sales", "run_sales_incremental", "orchestrator.sales"),
    ("pipelines.inventory", "run_raw_movements_incremental", "orchestrator.raw_movements"),
    ("pipelines.inventory", "run_stock_points_incremental", "orchestrator.stock_points"),
    ("streaming.incremental", "run_incremental", "incremental.run"),
    ("streaming.incremental", "WatermarkStore.get", "incremental.wm_get"),
    ("streaming.incremental", "WatermarkStore.set", "incremental.wm_set"),
    ("io.atomic", "upsert_versioned", "atomic.upsert_versioned"),
    ("io.atomic", "commit_version", "atomic.commit_version"),
    ("io.atomic", "read_committed", "atomic.read_committed"),
    ("io.sinks", "merge_upsert_partitioned", "sinks.merge_upsert_partitioned"),
    ("io.sinks", "merge_accumulate_versioned", "sinks.merge_accumulate_versioned"),
    ("io.sinks", "write_append", "sinks.write_append"),
    ("io.sinks", "read_accumulate_ledger", "sinks.read_accumulate_ledger"),
    ("io.sources", "read_table", "sources.read_table"),
    ("ops.windows", "replay_running_balance", "windows.replay"),
    ("ops.windows", "replay_running_balance_chunked", "windows.replay"),
    ("ops.windows", "replay_running_balance_auto", "windows.replay"),
    ("ops.windows", "replay_running_balance_pandas", "windows.replay"),
]
# Counted, not spanned: called many times per tick from inside spans.
COUNTED = [
    ("io.atomic", "_commit_log", "atomic.commit_log_reads"),
]
# run_incremental's callables, spanned under these names.
INCREMENTAL_CALLABLES = {
    "extract": "incremental.extract",
    "load": "incremental.load",
    "wm_expr": "incremental.wm_expr",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    ctx: str | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans and counts; tags Spark jobs with the innermost span.

    Single-threaded by design: the benchmark drives the program from one
    thread, so a plain stack gives each span its parent.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[tuple[str | None, str], int] = defaultdict(int)
        self.ctx: str | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  self.ctx, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setLocalProperty(JOB_GROUP, f"pb{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, f"pb{parent.sid}" if parent else None)

    def count(self, name: str) -> None:
        self.counts[(self.ctx, name)] += 1

    def in_span(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    # -- patching --------------------------------------------------------
    def _spanned(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "windows.replay" and tracer.in_span(name):
                return fn(*args, **kwargs)  # auto → flat/chunked: one call
            if name == "windows.replay":
                tracer.count("windows.replay_calls")
            if name == "incremental.run":
                for key, sub in INCREMENTAL_CALLABLES.items():
                    if key in kwargs:
                        kwargs[key] = tracer._spanned(kwargs[key], sub)
            if name in ("incremental.wm_get", "incremental.wm_set"):
                tracer.count("incremental.wm_calls")
            if name == "sources.read_table":
                tracer.count("sources.read_table_calls")
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _counted(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(name)
            return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr, new):
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every target at its defining module and at every other
        module of the package that bound the same function object."""
        import importlib

        import osmart_etl_spark.queries  # noqa: F401 — binds read_table etc.

        for mod_name, attr, name, make in (
            [(m, a, n, self._spanned) for m, a, n in SPANNED]
            + [(m, a, n, self._counted) for m, a, n in COUNTED]
        ):
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, make(getattr(cls, meth), name))
                continue
            orig = getattr(mod, attr)
            wrapped = make(orig, name)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PKG):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patch(m, k, wrapped)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output ----------------------------------------------------------
    def dump(self, path: str, jobs: dict[int, dict] | None = None) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "sid": s.sid, "name": s.name, "parent": s.parent, "ctx": s.ctx,
                    "start": s.start, "end": s.end,
                }) + "\n")
            for jid, j in sorted((jobs or {}).items()):
                fh.write(json.dumps({"job": jid, **j}) + "\n")


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


def spark_jobs(spark) -> dict[int, dict]:
    """Per-job counters from the SparkContext's status store, by job id:
    the job group and tags, the [submission, completion] interval in epoch
    seconds and the summed counters of the stages the job actually ran. A
    stage shared by several jobs is credited to the first (lowest-id) job
    that lists it, the one that computed it; later jobs skip it.

    The store's job and stage lists cross py4j once each, as JSON written
    on the JVM side by the same Jackson mapper Spark's REST API uses. One
    py4j call per field took about 20 s for the jobs of one run."""
    sc = spark.sparkContext
    jvm = sc._jvm
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    no_q = sc._gateway.new_array(jvm.double, 0)
    stage_list = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_q, None)))
    job_list = json.loads(mapper.writeValueAsString(store.jobsList(None)))

    stage_rows: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS[1:], 0))
    for s in stage_list:
        if s["status"] == "SKIPPED":
            continue
        r = stage_rows[s["stageId"]]
        r["stages"] += 1
        r["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        r["executor_run_s"] += s["executorRunTime"] / 1e3
        r["executor_cpu_s"] += s["executorCpuTime"] / 1e9
        r["shuffle_read_bytes"] += s["shuffleReadBytes"]
        r["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        r["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        r["gc_s"] += s["jvmGcTime"] / 1e3
    jobs: dict[int, dict] = {}
    claimed: set[int] = set()
    for j in sorted(job_list, key=lambda j: j["jobId"]):
        sub, done = j.get("submissionTime"), j.get("completionTime")
        row = {
            "group": j.get("jobGroup"),
            "tags": sorted(j.get("jobTags") or ()),
            "start": sub / 1e3 if sub is not None else None,
            "end": done / 1e3 if done is not None else None,
            **dict.fromkeys(SPARK_COUNTERS, 0),
        }
        row["jobs"] = 1
        for sid in j["stageIds"]:
            if sid in claimed or sid not in stage_rows:
                continue
            claimed.add(sid)
            for k, v in stage_rows[sid].items():
                row[k] += v
        jobs[j["jobId"]] = row
    return jobs


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(tracer: Tracer, jobs: dict[int, dict], ctxs: set[str],
              cores: int, spark_spans: tuple[str, ...]) -> dict[str, float]:
    """Fold the spans of the operations ``ctxs`` into totals by name.

    Returns, summed over those operations: ``<name>`` inclusive seconds
    (outermost span of a name only), ``<name>.self`` self seconds (span
    minus its children), ``<name>.n`` span count, every tracer count, and
    for each span name in ``spark_spans`` the Spark counters of the jobs
    its subtrees submitted, ``spark.job_active_s`` (time any such job was
    running), ``driver.gap_s`` (span time with no job running) and
    ``spark.slot_util`` (executor run time over job-active time × cores).
    """
    spans = [s for s in tracer.spans if s.ctx in ctxs]
    by_sid = {s.sid: s for s in tracer.spans}
    out: dict[str, float] = defaultdict(float)
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    for s in spans:
        dur = s.end - s.start
        out[f"{s.name}.self"] += dur - child_time[s.sid]
        out[f"{s.name}.n"] += 1
        if not _has_ancestor_named(s, by_sid, s.name):
            out[s.name] += dur
    for (ctx, name), n in tracer.counts.items():
        if ctx in ctxs:
            out[name] += n

    # Jobs → every distinct span name on the path from their group span up.
    per_span_jobs: dict[int, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        g = j["group"]
        if not g or not g.startswith("pb"):
            continue
        sp = by_sid.get(int(g[2:]))
        while sp is not None:
            per_span_jobs[sp.sid].append(jid)
            sp = by_sid.get(sp.parent) if sp.parent is not None else None
    for name in spark_spans:
        roots = [s for s in spans if s.name == name
                 and not _has_ancestor_named(s, by_sid, name)]
        wall = sum(s.end - s.start for s in roots)
        active = 0.0
        for s in roots:
            ivs = [(jobs[j]["start"], jobs[j]["end"]) for j in per_span_jobs[s.sid]
                   if jobs[j]["start"] is not None and jobs[j]["end"] is not None]
            active += _union_length(ivs)
            for j in per_span_jobs[s.sid]:
                for k in SPARK_COUNTERS:
                    out[f"spark.{k}.{name}"] += jobs[j][k]
        out[f"spark.job_active_s.{name}"] += active
        out[f"driver.gap_s.{name}"] += max(wall - active, 0.0)
        run = out[f"spark.executor_run_s.{name}"]
        out[f"spark.slot_util.{name}"] = run / (active * cores) if active else 0.0
    return out


def _has_ancestor_named(s: Span, by_sid: dict[int, Span], name: str) -> bool:
    p = s.parent
    while p is not None:
        ps = by_sid[p]
        if ps.name == name:
            return True
        p = ps.parent
    return False
