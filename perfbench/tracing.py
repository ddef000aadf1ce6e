"""Per-layer tracing for the benchmark: spans, Spark event-log stats,
streaming progress and process-tree RSS.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions (``instrument`` wraps them).  Every span tags
the Spark jobs its thread submits with a thread-local job group, so the
event log, parsed once after the session stops, attributes jobs, tasks,
shuffle bytes and spill to the span that caused them.  Jobs submitted
under another group (a streaming query tags its micro-batches with its
run id) fall to the top-level span whose interval holds their submit
time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
PREFIX = "pb-"
POINT_OPS = ("kvg", "kvi", "kvu", "kvd", "kvt", "kva")

# Per-layer metrics, each with its unit.  Engine, changelog and
# mapreduce figures are means per call; plans and streaming figures are
# per pass over the workload's faces.  A layer a workload does not use
# reads 0 there.
PER_LAYER = {
    "session.start_s": "s",
    "engine.ops": "count",
    "engine.jobs_per_op": "count",
    "engine.driver_gap_s": "s",
    "engine.job_wait_s": "s",
    "engine.kvg_s": "s", "engine.kvi_s": "s", "engine.kvu_s": "s",
    "engine.kvd_s": "s", "engine.sav_s": "s",
    "changelog.append_n": "count",
    "changelog.append_s": "s",
    "changelog.compact_s": "s",
    "changelog.log_files_max": "count",
    "changelog.replay_calls": "count",
    "changelog.replay_hit_ratio": "ratio",
    "mapreduce.runs": "count",
    "mapreduce.run_s": "s",
    "mapreduce.jobs_per_run": "count",
    "mapreduce.task_run_s": "s",
    "quota.rejects": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.driver_gap_s": "s",
    "plans.task_run_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.task_skew": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "kv.read_p50_ms": "ms",
    "kv.read_p90_ms": "ms",
    "kv.write_p50_ms": "ms",
    "kv.write_p90_ms": "ms",
    "kv.kmr_global_p50_ms": "ms",
    "kv.kmr_tree_p50_ms": "ms",
    "faces.pass_s": "s",
    "trace.overhead_ms": "ms",
}


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    start: float
    end: float
    parent: str | None


@dataclass
class Job:
    submit: float
    end: float
    group: str | None
    stages: list[int]
    first_launch: float | None = None


@dataclass
class Stage:
    task_run_s: list[float] = field(default_factory=list)
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Span recorder.  Disabled, it only forwards calls."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def peak(self, name: str, v: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = max(self.counts.get(name, 0), v)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = f"{PREFIX}{next(self._ids)}"
        stack.append(sid)
        self.sc.setLocalProperty(GROUP_KEY, sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent)
            with self._lock:
                self.spans.append(Span(sid, layer, name, start, end, parent))


def wrap(tracer: Tracer, owner, attr: str, layer: str, name: str,
         after=None) -> None:
    """Replace ``owner.attr`` with a version that records a span."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer, name):
            out = fn(*args, **kwargs)
        if after is not None:
            after(args, out)
        return out

    setattr(owner, attr, traced)


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of the engine, changelog, mapreduce and
    quota layers.  Plan builds and executions are spanned by the face
    runner itself."""
    from operating_system_map_reduce_spark import engine
    from operating_system_map_reduce_spark.operators import quota
    from operating_system_map_reduce_spark.sources import changelog

    for attr, name in [("kv_get", "kvg"), ("kv_insert", "kvi"),
                       ("kv_upsert", "kvu"), ("kv_delete", "kvd"),
                       ("kv_top", "kvt"), ("kv_all", "kva"),
                       ("invoke_mr", "kmr"), ("save_file", "sav")]:
        wrap(tracer, engine.KVEngine, attr, "engine", name)

    def appended(args, _out):
        tracer.peak("changelog.log_files_max", len(os.listdir(args[0].log_dir)))

    wrap(tracer, changelog.ChangeLog, "append", "changelog", "append",
         after=appended)
    wrap(tracer, changelog.ChangeLog, "compact", "changelog", "compact")

    replay = changelog.ChangeLog.replay_cached
    last: dict[int, object] = {}

    @functools.wraps(replay)
    def replay_cached(self):
        out = replay(self)
        tracer.add("changelog.replay_calls")
        if last.get(id(self)) is out:
            tracer.add("changelog.replay_hits")
        last[id(self)] = out
        return out

    changelog.ChangeLog.replay_cached = replay_cached
    # the engine calls run_map_reduce through its own module namespace
    wrap(tracer, engine, "run_map_reduce", "mapreduce", "run")

    check_add = quota.QuotaTracker.check_add

    @functools.wraps(check_add)
    def counted(self, add, when):
        ok = check_add(self, add, when)
        if not ok:
            tracer.add("quota.rejects")
        return ok

    quota.QuotaTracker.check_add = counted


# ------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    """Parse the (uncompressed) Spark event log(s) under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = Job(ev["Submission Time"] / 1e3, 0.0,
                                    props.get(GROUP_KEY), ev["Stage IDs"])
                    for s in ev["Stage IDs"]:
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st = stages.setdefault(sid, Stage())
                    st.task_run_s.append(m.get("Executor Run Time", 0) / 1e3)
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                    job = jobs.get(stage_job.get(sid))
                    launch = info["Launch Time"] / 1e3
                    if job is not None and (job.first_launch is None
                                            or launch < job.first_launch):
                        job.first_launch = launch
    return [j for j in jobs.values() if j.end], stages


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[str, list[Job]]:
    """Map span id -> the jobs tagged with it; untagged jobs go to the
    latest-started top-level span whose interval holds their submit."""
    by_span: dict[str, list[Job]] = {s.sid: [] for s in spans}
    tops = sorted((s for s in spans if s.parent is None), key=lambda s: s.start)
    for j in jobs:
        if j.group in by_span:
            by_span[j.group].append(j)
            continue
        owner = None
        for s in tops:
            if s.start <= j.submit <= s.end:
                owner = s
        if owner is not None:
            by_span[owner.sid].append(j)
    return by_span


def union_s(intervals: list[tuple[float, float]]) -> float:
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


class JobView:
    """Job statistics per span subtree."""

    def __init__(self, spans: list[Span], jobs: list[Job],
                 stages: dict[int, Stage]) -> None:
        self.stages = stages
        own = assign_jobs(spans, jobs)
        children: dict[str, list[str]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.sid)

        def subtree(sid: str) -> list[Job]:
            out = list(own.get(sid, []))
            for c in children.get(sid, []):
                out.extend(subtree(c))
            return out

        self.jobs = {s.sid: subtree(s.sid) for s in spans}

    def totals(self, sids: list[str]) -> dict[str, float]:
        jobs = [j for sid in sids for j in self.jobs[sid]]
        stage_ids = {s for j in jobs for s in j.stages if s in self.stages}
        st = [self.stages[s] for s in stage_ids]
        skews = [max(s.task_run_s) / (sum(s.task_run_s) / len(s.task_run_s))
                 for s in st if len(s.task_run_s) > 1 and sum(s.task_run_s) > 0]
        waits = [j.first_launch - j.submit for j in jobs
                 if j.first_launch is not None]
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(len(s.task_run_s) for s in st),
            "task_run_s": sum(sum(s.task_run_s) for s in st),
            "gc_s": sum(s.gc_s for s in st),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
            "spill_bytes": sum(s.spill_bytes for s in st),
            "task_skew": statistics.median(skews) if skews else 1.0,
            "job_wait_s": statistics.fmean(waits) if waits else 0.0,
        }

    def driver_gap_s(self, span: Span) -> float:
        """Span wall not covered by any of its subtree's jobs."""
        inside = [(max(j.submit, span.start), min(j.end, span.end))
                  for j in self.jobs[span.sid]]
        return (span.end - span.start) - union_s(
            [(s, e) for s, e in inside if e > s])


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def per_layer(tracer: Tracer, event_dir: str, workload: dict,
              session_s: float, faces: list[str]) -> dict[str, float]:
    """Every ``PER_LAYER`` metric plus ``query.<face>_s`` for each face,
    from the traced part of a run.  ``workload`` supplies the figures
    the workload measured itself (``layer``) and its pass count."""
    view = JobView(tracer.spans, *read_event_log(event_dir))
    c = tracer.counts

    def spans(layer: str, *names: str) -> list[Span]:
        return [s for s in tracer.spans if s.layer == layer and s.name in names]

    def dur(ss: list[Span]) -> list[float]:
        return [s.end - s.start for s in ss]

    point = spans("engine", *POINT_OPS)
    point_jobs = view.totals([s.sid for s in point])
    runs = spans("mapreduce", "run")
    run_jobs = view.totals([s.sid for s in runs])
    calls = c.get("changelog.replay_calls", 0)
    m = {
        "session.start_s": session_s,
        "engine.ops": len(point),
        "engine.jobs_per_op": point_jobs["jobs"] / max(len(point), 1),
        "engine.driver_gap_s": _mean(view.driver_gap_s(s) for s in point),
        "engine.job_wait_s": point_jobs["job_wait_s"],
        **{f"engine.{op}_s": _mean(dur(spans("engine", op)))
           for op in ("kvg", "kvi", "kvu", "kvd", "sav")},
        "changelog.append_n": len(spans("changelog", "append")),
        "changelog.append_s": _mean(dur(spans("changelog", "append"))),
        "changelog.compact_s": _mean(dur(spans("changelog", "compact"))),
        "changelog.log_files_max": c.get("changelog.log_files_max", 0),
        "changelog.replay_calls": calls,
        "changelog.replay_hit_ratio": c.get("changelog.replay_hits", 0) / max(calls, 1),
        "mapreduce.runs": len(runs),
        "mapreduce.run_s": _mean(dur(runs)),
        "mapreduce.jobs_per_run": run_jobs["jobs"] / max(len(runs), 1),
        "mapreduce.task_run_s": run_jobs["task_run_s"] / max(len(runs), 1),
        "quota.rejects": c.get("quota.rejects", 0),
    }

    passes = workload.get("passes") or 1
    queries = [s for s in tracer.spans
               if s.layer == "plans" and s.name.startswith("query:")]
    q = view.totals([s.sid for s in queries])
    phase = {p: sum(dur([s for s in tracer.spans if s.layer == "plans"
                         and s.name.startswith(p + ":")])) for p in ("build", "exec")}
    m.update({
        "plans.build_s": phase["build"] / passes,
        "plans.exec_s": phase["exec"] / passes,
        "plans.driver_gap_s": sum(view.driver_gap_s(s) for s in queries) / passes,
        "plans.task_skew": q["task_skew"],
        **{f"plans.{k}": q[k] / passes for k in
           ("jobs", "stages", "tasks", "task_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes")},
        **{k: c.get(k, 0) / passes for k in PER_LAYER if k.startswith("streaming.")},
    })
    for k in PER_LAYER:
        m.setdefault(k, 0.0)
    m.update(workload.get("layer", {}))
    for face in faces:
        d = dur([s for s in queries if s.name == f"query:{face}"])
        m[f"query.{face}_s"] = statistics.median(d) if d else 0.0
    return m


# -------------------------------------------------------------- streaming

def progress_listener(spark, tracer: Tracer):
    """Attach a StreamingQueryListener that sums micro-batch phases and
    state-operator progress into the tracer's counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            tracer.add("streaming.batches")
            tracer.add("streaming.trigger_s", d.get("triggerExecution", 0) / 1e3)
            tracer.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            tracer.add("streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
            tracer.add("streaming.commit_s", (d.get("walCommit", 0)
                                              + d.get("commitOffsets", 0)) / 1e3)
            tracer.add("streaming.input_rows", p.numInputRows or 0)
            for op in p.stateOperators or []:
                tracer.add("streaming.state_rows", op.numRowsTotal or 0)
                tracer.add("streaming.state_mem_bytes", op.memoryUsedBytes or 0)
                tracer.add("streaming.state_commit_s", (op.commitTimeMs or 0) / 1e3)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


# -------------------------------------------------------------------- RSS

def _tree_rss_bytes(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident = int(fh.read().split()[1])
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        parent[int(entry)] = ppid
        rss[int(entry)] = resident * page
    keep, total = {root}, 0
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    for pid in keep:
        total += rss.get(pid, 0)
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS (driver
    Python, the JVM and the Python workers are all descendants of this
    process).  ``stop`` returns the median of the samples taken since
    ``measure``: the working set while the measured window runs, which
    unlike the peak does not depend on how many Python workers happened
    to overlap for a moment."""

    def __init__(self, interval: float = 0.25) -> None:
        self.samples: list[int] | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def measure(self) -> None:
        self.samples = []

    def _run(self, interval: float) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            if self.samples is not None:
                self.samples.append(_tree_rss_bytes(root))
            self._stop.wait(interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return statistics.median(self.samples or [_tree_rss_bytes(os.getpid())]) / (1 << 20)
