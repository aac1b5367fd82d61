"""Shared pieces of the benchmark: host-fitted session settings, provenance,
timing statistics, the span recorder and a timing wrapper around
``LakeTable``.

Every call the benchmark makes into an engine layer goes through
``Tracer.span``. With tracing off a span is only a wall-clock interval; with
tracing on it also sets a Spark job group around the call, and after the run
each span is joined with the jobs and stages that group ran (read from the
Spark driver's status store, which works with the web UI disabled).
"""

from __future__ import annotations

import os
import resource
import statistics
import time
from contextlib import contextmanager
from typing import Any


# ------------------------------------------------------------------ host
def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_bytes() -> int:
    """Physical memory, lowered to the cgroup limit when one is set."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def session_settings(work: str, cpus: int, mem_bytes: int) -> dict[str, str]:
    """Spark settings sized from the host, with every scratch path inside
    ``work``. Driver heap is a fifth of memory (1-6 GiB), off-heap a tenth
    (0.5-4 GiB): the engine's own defaults (24g + 16g) assume a large host."""
    mem_mb = mem_bytes // 2**20
    driver_mb = max(1024, min(6144, mem_mb // 5))
    offheap_mb = max(512, min(4096, mem_mb // 10))
    java_tmp = os.path.join(work, "java-tmp")
    os.makedirs(java_tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.memory.offHeap.size": f"{offheap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run back from the status
        # store after it ends; keep them all (same setting untraced, so the
        # two runs differ only in the tracing itself)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def git_commit(root: str) -> str:
    """HEAD of the checkout, read from ``.git`` without leaving ``root``."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return "unknown"


def peak_rss_mb(spark) -> float:
    """Spark driver JVM high-water RSS (``VmHWM`` of the gateway process) plus
    this Python process's ``ru_maxrss``."""
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_seconds(spark) -> float:
    """User plus system CPU seconds used so far by the driver JVM (the
    gateway process, where local-mode tasks run) and this Python process."""
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def steal_seconds() -> float:
    """Host steal time so far (all CPUs): time the hypervisor ran other
    guests while this one had work to run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


# ------------------------------------------------------------ statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def p90(xs: list[float]) -> float | None:
    """The 90th percentile, or None when fewer than ten samples lie beyond
    it (fewer than 100 samples): such a tail is not measured, only guessed."""
    if len(xs) < 100:
        return None
    return float(statistics.quantiles(xs, n=10)[-1])


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory span recorder.

    A span is ``{id, name, parent, run, start, end, attrs}``; times are
    ``time.perf_counter`` seconds. Spans nest through one shared stack: the
    benchmark is a single-writer closed loop, so at any moment exactly one
    thread (the main thread, or the streaming callback thread while the main
    thread waits for the stream) is inside a span.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._next = 0

    def add(self, name: str, start: float, end: float, **attrs) -> dict[str, Any]:
        """Record a span measured outside ``span()`` (e.g. session build)."""
        rec = {"id": self._next, "name": name, "parent": None, "run": self.run_id,
               "start": start, "end": end, "attrs": attrs}
        self._next += 1
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "name": name,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "attrs": attrs}
        self._next += 1
        if self.enabled:
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # ---------------------------------------------- status-store join
    def attach_spark_counters(self) -> None:
        """Join every traced span with the jobs its group ran."""
        traced = [rec for rec in self.spans if "group" in rec]
        if not traced:
            return
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in traced:
            rec["spark"] = _group_counters(store, tracker, rec["group"])

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
        out = {}
        for rec in self.spans:
            ivs = [(max(s, rec["start"]), min(e, rec["end"]))
                   for s, e in children.get(rec["id"], [])]
            out[rec["id"]] = (rec["end"] - rec["start"]) - union_length(ivs)
        return out

    def named(self, name: str, **match) -> list[dict[str, Any]]:
        return [r for r in self.spans if r["name"] == name
                and all(r["attrs"].get(k) == v for k, v in match.items())]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _group_counters(store, tracker, group: str) -> dict[str, Any]:
    c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
         "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "input_bytes": 0, "output_bytes": 0, "output_records": 0,
         "spill_bytes": 0, "job_intervals": [], "job_ids": [], "stage_ids": [],
         "write_task_skew": None}
    biggest_out = -1
    for job_id in tracker.getJobIdsForGroup(group):
        job = store.job(job_id)
        c["jobs"] += 1
        c["job_ids"].append(job_id)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            c["job_intervals"].append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["stage_ids"].append(sid)
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += st.executorRunTime() / 1000.0
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["output_records"] += st.outputRecords()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            # the write stage is the one that wrote the most output bytes;
            # its max/median task time exposes hot-key skew
            if st.outputBytes() > biggest_out and st.outputBytes() > 0:
                biggest_out = st.outputBytes()
                tasks = store.taskList(sid, st.attemptId(), 100000)
                durs = [tasks.apply(k).duration().get() for k in range(tasks.size())
                        if tasks.apply(k).duration().isDefined()]
                if durs and statistics.median(durs) > 0:
                    c["write_task_skew"] = max(durs) / statistics.median(durs)
    c["job_s"] = union_length(c["job_intervals"])
    return c


# ------------------------------------------------------- table wrapper
class TracedTable:
    """Delegating wrapper that records a span around each public
    ``LakeTable`` write call the benchmark or the streaming pipeline makes.
    The engine is not patched: the wrapper is what the caller holds."""

    def __init__(self, table, tracer: Tracer, round_id: int):
        self.unwrapped = table
        self.round = round_id
        self.last_span: dict[str, Any] | None = None
        self._tracer = tracer
        self._last_batch = None

    def merge(self, changes, batch_key=None, **kwargs):
        with self._tracer.span("lake.merge", round=self.round) as s:
            stats = self.unwrapped.merge(changes, batch_key=batch_key, **kwargs)
        s["attrs"].update(skipped=stats.skipped, buckets=len(stats.affected_buckets),
                          upserted=stats.rows_upserted, deleted=stats.rows_deleted)
        self.last_span = s
        self._last_batch = batch_key[1] if batch_key else None
        return stats

    def compact(self, *args, **kwargs):
        with self._tracer.span("lake.compact", round=self.round,
                               after_batch=self._last_batch) as s:
            n = self.unwrapped.compact(*args, **kwargs)
        s["attrs"]["buckets_compacted"] = n
        return n

    def expire_snapshots(self, *args, **kwargs):
        with self._tracer.span("lake.expire_snapshots", round=self.round) as s:
            out = self.unwrapped.expire_snapshots(*args, **kwargs)
        s["attrs"].update(out)
        return out

    def __getattr__(self, name):
        return getattr(self.unwrapped, name)


def table_data_bytes(table) -> int:
    """Bytes of the data files the current snapshot references."""
    return sum(
        dir_bytes(os.path.join(table.path, e["path"]))
        for entries in table.manifest()["buckets"].values()
        for e in entries
    )


def manifest_bytes(table) -> int:
    """Latest manifest file plus the entry-group files it lists."""
    m = table.manifest()
    mdir = os.path.join(table.path, "_manifests")
    files = [f"v{m['version']:08d}.json"] + list(m.get("groups", []))
    return sum(os.path.getsize(os.path.join(mdir, f)) for f in files)


# ------------------------------------------------------------ run state
def span_s(rec: dict[str, Any]) -> float:
    return rec["end"] - rec["start"]


class Run:
    """State of one benchmark run: the session, the tracer, the scratch
    directory, the operation and check tallies, and the round loop."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: float,
                 cpus: int, size: dict[str, int], trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.size = size
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_times: list[float] = []
        # end-of-run state of the workload's table (space, read amplification)
        self.final: dict[str, float] = {}
        # wall clock at each phase boundary, for the report's time line
        self.phases: list[tuple[str, float]] = [("start", time.perf_counter())]

    def phase(self, name: str) -> None:
        """Mark the end of phase ``name`` (set-up, warm-up, timed, check)."""
        self.phases.append((name, time.perf_counter()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, n: int = 1) -> None:
        """Count ``n`` attempted operations (engine calls the run timed)."""
        self.attempted += n

    def check(self, ok: bool, what: str) -> bool:
        """A correctness check is an operation too; a failed one counts in
        ``failed`` and makes the run incorrect."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def repeat_setup(self, setup_fn):
        """Run the input set-up ``size["setup_reps"]`` times (each from
        scratch, into its own directory) and keep the last result; the
        median of the set-up times, which leaves out the first and coldest,
        is the run's input set-up cost."""
        out = None
        for i in range(self.size["setup_reps"]):
            with self.tracer.span("setup", rep=i) as s:
                out = setup_fn(i)
            self.setup_times.append(span_s(s))
        self.phase("setup")
        return out

    def warm_up(self, round_fn) -> None:
        """``size["warmup_rounds"]`` untimed rounds (ids -1, -2, ...): the
        first rounds in a session pay class loading and JIT compilation,
        which would otherwise land in the timed rounds. A count, not a time:
        on a slow stretch of the host a time-based warm-up runs fewer rounds
        and leaves the JIT colder, which widens the spread between runs."""
        for i in range(self.size["warmup_rounds"]):
            round_fn(-1 - i)
        self.phase("warm-up")

    def rounds(self, round_fn, min_rounds: int = 1) -> list[dict[str, Any]]:
        """Closed loop, one client: run rounds back to back until
        ``seconds`` have passed and at least ``min_rounds`` rounds (two in a
        traced run) are done. In a traced run the rounds alternate
        untraced/traced, so the tracing overhead is the difference of the
        two kinds' medians on the same run. ``round_fn(i)`` returns the
        round's samples, or None when its input is used up."""
        if self.trace:
            min_rounds = max(min_rounds, 2)
        out: list[dict[str, Any]] = []
        start = time.perf_counter()
        i = 0
        while True:
            traced = self.trace and i % 2 == 1
            self.tracer.enabled = traced
            c0, st0 = cpu_seconds(self.spark), steal_seconds()
            try:
                r = round_fn(i)
            finally:
                self.tracer.enabled = False
            if r is None:
                break
            r["cpu_s"] = cpu_seconds(self.spark) - c0
            r["steal_s"] = steal_seconds() - st0
            r["traced"] = traced
            out.append(r)
            i += 1
            if i >= min_rounds and time.perf_counter() - start >= self.seconds:
                break
        if not out:
            raise RuntimeError("no round completed")
        self.phase("timed")
        return out
