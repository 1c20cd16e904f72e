"""Tracing for the connector benchmark: spans, Spark job-group counts,
event-log parsing, and process-tree CPU time and RSS from ``/proc``.

Spans are recorded from the benchmark's own files around each call into
a layer of the program; nothing inside the program is instrumented.  The
untraced run uses ``Tracer(enabled=False)``, whose spans cost one branch.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span list: (name, start, end, parent, op).  Times are
    ``time.perf_counter`` seconds; ``dump`` writes them out at the end."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def job_group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under ``group``, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def _event_lines(log_dir: str):
    """Lines of every event file under ``log_dir`` (single-file or rolling
    ``eventlog_v2_*`` layout, uncompressed)."""
    for root, _dirs, files in os.walk(log_dir):
        for fname in sorted(files):
            if fname.startswith((".", "appstatus")):  # checksums, status marker
                continue
            with open(os.path.join(root, fname)) as f:
                yield from f


def read_event_log(log_dir: str) -> dict:
    """Per-job facts from a Spark event log directory:
    {job_id: {group, start_ms, end_ms, run_ms, shuffle_bytes, failed_tasks}}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start_ms": ev["Submission Time"],
                "end_ms": None,
                "run_ms": 0,
                "shuffle_bytes": 0,
                "failed_tasks": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            if (ev.get("Task Info") or {}).get("Failed"):
                job["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            job["run_ms"] += m.get("Executor Run Time", 0)
            w = m.get("Shuffle Write Metrics") or {}
            job["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
    return jobs


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def gauge_s(n: int = 400_000) -> tuple[float, float]:
    """Wall and thread-CPU seconds of a fixed pure-Python loop that touches
    nothing of the program: a gauge of how fast the host runs right now."""
    t0, c0 = time.perf_counter(), time.thread_time()
    x = 0
    for i in range(n):
        x += i * i % 7
    return time.perf_counter() - t0, time.thread_time() - c0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and its live descendants,
    including the children each has reaped (short-lived Python workers).
    The kernel leaves time a hypervisor steals out of these counters."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak process-tree RSS, over the whole
    run (``peak``) and since the caller last reset ``window_peak``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.window_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            self.peak = max(self.peak, rss)
            self.window_peak = max(self.window_peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
