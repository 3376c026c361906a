"""Pure measurement helpers: spans, percentiles, the Spark event-log parser,
the host audit and the process-tree RSS sampler. Nothing here imports Spark.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from fractions import Fraction


# ---------------------------------------------------------------- percentiles


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile `q` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


SUPPORTED_PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99)


def highest_supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of SUPPORTED_PERCENTILES with at least `min_beyond` of `n`
    samples strictly beyond it, or None when not even the median is."""
    best = None
    for q in SUPPORTED_PERCENTILES:
        if n * (1 - Fraction(str(q)) / 100) >= min_beyond:
            best = q
    return best


def median(values) -> float:
    return percentile(values, 50.0)


def backlog_growth(samples: list[tuple[float, float]]) -> float:
    """Least-squares trend of a backlog over its samples (time, backlog),
    times the time they span: how much the backlog grew over the run, with
    the batch-to-batch noise of any one sample averaged out."""
    if len(samples) < 2:
        raise ValueError("a trend needs at least two samples")
    ts = [t for t, _ in samples]
    bs = [b for _, b in samples]
    mt, mb = sum(ts) / len(ts), sum(bs) / len(bs)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return 0.0
    slope = sum((t - mt) * (b - mb) for t, b in samples) / var
    return slope * (max(ts) - min(ts))


# ---------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int


class Tracer:
    """In-memory span recorder; the run writes its spans once, at exit.

    A disabled tracer records nothing and costs one branch per span, so the
    untraced runs that produce end-to-end numbers carry no tracing work."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), math.nan, parent, self.run_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


# ---------------------------------------------------------- Spark event log

PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes_sent",
}


@dataclass
class StageRec:
    stage_id: int
    job_ids: list[int]
    name: str
    scopes: list[str]
    submit_ms: int
    complete_ms: int
    task_run_ms: list[int]
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_ms: int = 0
    spill: int = 0
    python_run_ms: int = 0
    python_start_ms: int = 0
    python_bytes_sent: int = 0

    @property
    def run_ms(self) -> int:
        return sum(self.task_run_ms)


@dataclass
class JobRec:
    job_id: int
    tags: list[str]
    submit_ms: int
    complete_ms: int
    stage_ids: list[int]


def _scope_name(rdd: dict) -> str:
    try:
        return json.loads(rdd.get("Scope") or "{}").get("name", "")
    except ValueError:
        return ""


def parse_event_log(path: str) -> tuple[dict[int, JobRec], dict[int, StageRec]]:
    """Jobs and completed stages of an uncompressed, non-rolling Spark event
    log. Task metrics are summed per stage (all attempts); a task's SQL
    Python-worker metrics are read from its accumulator updates."""
    jobs: dict[int, JobRec] = {}
    stages: dict[int, StageRec] = {}
    stage_jobs: dict[int, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                jid = ev["Job ID"]
                sids = list(ev.get("Stage IDs", []))
                jobs[jid] = JobRec(jid, [t for t in tags.split(",") if t],
                                   ev["Submission Time"], -1, sids)
                for sid in sids:
                    stage_jobs.setdefault(sid, []).append(jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].complete_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = StageRec(
                    stage_id=sid,
                    job_ids=stage_jobs.get(sid, []),
                    name=si.get("Stage Name", ""),
                    scopes=sorted({_scope_name(r) for r in si.get("RDD Info", [])} - {""}),
                    submit_ms=si.get("Submission Time", 0),
                    complete_ms=si.get("Completion Time", 0),
                    task_run_ms=[],
                )
    for sid, evs in tasks.items():
        st = stages.get(sid)
        if st is None:
            continue
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            st.task_run_ms.append(m.get("Executor Run Time", 0))
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                field = PYTHON_METRICS.get(acc.get("Name"))
                if field is not None:
                    setattr(st, field, getattr(st, field) + int(float(acc.get("Update", 0))))
    return jobs, stages


def spark_totals(jobs: list[JobRec], stages: list[StageRec], wall_s: float, cores: int) -> dict:
    """The spark.* layer metrics over the given jobs and their stages."""
    run_ms = sum(s.run_ms for s in stages)
    cpu_ns = sum(s.cpu_ns for s in stages)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(len(s.task_run_ms) for s in stages),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.cpu_util": (cpu_ns / 1e9) / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spark.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "spark.fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1e3,
        "spark.spill_bytes": sum(s.spill for s in stages),
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.python_run_s": sum(s.python_run_ms for s in stages) / 1e3,
        "spark.python_start_s": sum(s.python_start_ms for s in stages) / 1e3,
        "spark.python_bytes_sent": sum(s.python_bytes_sent for s in stages),
    }


def task_skew(stage: StageRec) -> float:
    """Max task run time over the median task run time of one stage."""
    med = median(stage.task_run_ms) if stage.task_run_ms else 0
    return max(stage.task_run_ms) / med if med > 0 else 1.0


# --------------------------------------------------------------- host audit


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


class HostAudit:
    """nproc, 1-minute load at start, and the /proc/stat steal delta."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.load1_start = os.getloadavg()[0]
        self._steal0, self._total0 = _cpu_jiffies()

    def finish(self, **extra) -> dict:
        steal, total = _cpu_jiffies()
        d_total = max(1, total - self._total0)
        return {
            "nproc": self.nproc,
            "load1_start": self.load1_start,
            "steal_jiffies": steal - self._steal0,
            "steal_frac": (steal - self._steal0) / d_total,
            **extra,
        }


# ------------------------------------------------------------- RSS sampling


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state letter) of every process in /proc."""
    table: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            state, ppid = st[st.rindex(")") + 2 :].split()[:2]
        except (OSError, ValueError, IndexError):
            continue
        table[int(d)] = (int(ppid), state)
    return table


def descendants(root: int) -> list[int]:
    """The live (not yet exited) descendants of `root`, parents first."""
    table = _process_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop(0)
        todo.extend(children.get(p, []))
        if table[p][1] not in "ZX":
            out.append(p)
    return out


def _tree_hwm_bytes(root: int) -> dict[str, int]:
    """VmHWM (each process's own peak RSS, kept by the kernel) of `root`
    and its live java and python descendants, summed per process name."""
    out: dict[str, int] = {}
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            name = fields["Name"].strip()
            if name != "java" and not name.startswith("python"):
                # a helper the JVM spawns (rm, jspawnhelper) or a fork not yet
                # exec'd, which reports its parent's pages as its own
                continue
            out[name] = out.get(name, 0) + int(fields["VmHWM"].split()[0]) * 1024
        except (OSError, KeyError, ValueError):
            continue
    return out


class RssSampler:
    """Background thread sampling the process tree's summed per-process peak
    RSS; `peak_mb` is the largest sum seen. A process that starts and exits
    between two samples is missed."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            by_name = _tree_hwm_bytes(root)
            total = sum(by_name.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.by_name = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def by_name_mb(self) -> dict[str, float]:
        """The peak sample, split by process name."""
        return {k: v / 2**20 for k, v in self.by_name.items()}
