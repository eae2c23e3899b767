"""Spans around the benchmark's calls into the engine, and the per-layer
figures derived from them.

A span is one call into a module's public function, named
``<layer>.<function>``.  Spans of one operation (one query, one build
cycle, one flush-to-fresh-reader round) share an operation id.  Spans are
always recorded (two clock reads and an append), because the end-to-end
timings are read from them.  With tracing on, each span also runs under
its own Spark job group, so the jobs it launched can be counted through
``sc.statusTracker()`` and matched to Spark's event log after the run.
The counting waits for the end of the run: the status tracker scans every
job it keeps on each lookup, and doing that after every span roughly
halved the measured throughput.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "indexer", "search", "wand", "batch", "merge",
          "streaming")
CHECK_GROUP = "perfbench-check"  # job group of untimed verification work

# per-layer figures taken from the status tracker (counts) and from the
# event log (time and bytes); every layer reports all of them
COUNT_FIELDS = ("jobs", "stages", "tasks", "failed_tasks")
EVENT_FIELDS = ("self_s", "driver_gap_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "python_bytes")
# jobs per operation started by one of these calls, counting the spans of
# the calls' layer in that operation (the call and its collect)
JOBS_PER_OP = {
    "search.jobs_per_query": ("search.search_or", "search.search_and",
                              "search.search_phrase", "search.search_dismax"),
    "wand.jobs_per_query": ("wand.wand_search",),
    "batch.jobs_per_batch": ("batch.batch_search",),
}


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float      # epoch seconds
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    warm: bool = False  # a discarded warm-up call
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Records spans in memory; ``sc`` (a SparkContext) turns on job-group
    attribution.  Without ``sc`` a span costs two clock reads."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        # one fixed offset, so span times are epoch-aligned (to match the
        # event log) while durations come from the monotonic clock
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int = 0, warm: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name, op,
                  parent.id if parent else None, self.now(), warm=warm)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, sp.name)
        try:
            yield sp
        finally:
            sp.end = self.now()
            self._stack.pop()
            if self.sc is not None:
                self._restore_group(parent)

    @contextmanager
    def untimed(self):
        """Verification work: its jobs go to CHECK_GROUP, not to a layer."""
        if self.sc is None:
            yield
            return
        self.sc.setJobGroup(CHECK_GROUP, "perfbench verification")
        try:
            yield
        finally:
            self._restore_group(self._stack[-1] if self._stack else None)

    def _restore_group(self, parent: Span | None) -> None:
        if parent is not None:
            self.sc.setJobGroup(parent.group, parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def count_jobs(self) -> int:
        """Fill in each span's jobs, stages, tasks and failed tasks from
        the status tracker; returns the number of jobs that ran outside
        every span and outside verification (``unattributed.jobs``)."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
            for jid in sp.jobs:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None:     # skipped stage: never submitted
                        continue
                    sp.stages += 1
                    sp.tasks += stage.numTasks
                    sp.failed_tasks += stage.numFailedTasks
        return len(st.getJobIdsForGroup(None))

    def since(self, t: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall time minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.id: s.wall - covered(
        [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans}


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(path: str) -> dict:
    """Per-job figures from a Spark JSON event log:
    ``{job_id: {group, start, end, executor_cpu_s, gc_s,
    shuffle_write_bytes, spill_bytes, python_bytes}}`` (times in epoch s).
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1000.0,
                             "end": ev["Submission Time"] / 1000.0,
                             "executor_cpu_s": 0.0, "gc_s": 0.0,
                             "shuffle_write_bytes": 0, "spill_bytes": 0,
                             "python_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                j = jobs[jid]
                m = ev.get("Task Metrics") or {}
                j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                j["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables",
                                                           []):
                    # Python-runner SQL metrics: "data sent to Python
                    # workers" / "data returned from Python workers"
                    if "Python workers" in str(acc.get("Name", "")):
                        j["python_bytes"] += int(acc.get("Update") or 0)
    return jobs


def jobs_per_op(spans: list[Span], calls: tuple[str, ...]) -> float:
    layer = calls[0].split(".", 1)[0]
    ops = {s.op for s in spans if s.name in calls and not s.warm}
    jobs = sum(len(s.jobs) for s in spans
               if s.op in ops and s.layer == layer)
    return jobs / len(ops) if ops else 0.0


def layer_metrics(spans: list[Span], events: dict | None) -> dict:
    """``<layer>.<field>`` for every layer in LAYERS and every count and
    event field, and the JOBS_PER_OP ratios, over the spans that are not
    warm-up; layers a workload does not exercise report zeros."""
    out = {name: jobs_per_op(spans, calls)
           for name, calls in JOBS_PER_OP.items()}
    out.update({f"{layer}.{f}": 0.0 for layer in LAYERS
                for f in COUNT_FIELDS + EVENT_FIELDS})
    selfs = self_times(spans)
    for s in spans:
        if s.layer not in LAYERS or s.warm:
            continue
        p = s.layer + "."
        out[p + "jobs"] += len(s.jobs)
        out[p + "stages"] += s.stages
        out[p + "tasks"] += s.tasks
        out[p + "failed_tasks"] += s.failed_tasks
        out[p + "self_s"] += selfs[s.id]
        if events is None:
            continue
        mine = [events[j] for j in s.jobs if j in events]
        out[p + "driver_gap_s"] += s.wall - covered(
            [(j["start"], j["end"]) for j in mine], s.start, s.end)
        for f in ("executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes", "python_bytes"):
            out[p + f] += sum(j[f] for j in mine)
    return out
