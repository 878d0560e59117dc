"""Benchmark-side instrumentation: spans, process-tree memory, event log.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  around each call the benchmark makes into a layer, and writes them out
  once at the end. Disabled, it still times the call (the benchmark
  needs the duration) but keeps nothing.
* ``MemorySampler`` polls the summed proportional set size of this
  process's descendants (the driver JVM, the Python daemon and its
  workers), so pages shared copy-on-write are counted once.
* ``tree_cpu_s`` reads the CPU time of this process and its descendants.
* ``job_phases`` reads an uncompressed, non-rolling Spark event log and
  splits one job's wall time into the phases of ``run_extract_job``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs")

    def __init__(self, name: str, parent: str | None, attrs: dict):
        self.name, self.parent, self.attrs = name, parent, attrs
        self.start = self.end = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(name, self._stack[-1] if self._stack else None, attrs)
        self._stack.append(name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run_id": self.run_id, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent, **s.attrs}) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_mb() -> float:
    """Summed PSS of this process's descendants (not of itself: the
    benchmark's own inputs and oracle live here)."""
    return sum(_pss_kb(pid) for pid in descendants(os.getpid())) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0  # exited while listing
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant, live
    or reaped (time a hypervisor steals is not in it)."""
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    return own + sum(_cpu_ticks(pid) for pid in descendants(os.getpid())) / _TICK


class MemorySampler:
    """Peak summed PSS of the process tree while the ``with`` block runs."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# run_extract_job writes have no Python call site in the log (every one is
# "parquet at NativeMethodAccessorImpl.java:0"), so a SQL execution is
# mapped to a job phase by the directory its plan writes to.
WRITE_PHASES = (("/rollup", "stage"), ("/spans", "spans"), ("/_manifest", "commit"))
PHASES = ("stage", "spans", "stats", "commit")
JOB_METRICS = (*(f"job.{p}_s" for p in PHASES), "job.serial_floor_s",
               "job.shuffle_write_bytes", "job.spill_bytes", "job.task_skew")


_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\nInput: .*\n"
                     r"Arguments: (?:file:)?([^,]+),")


def _exec_phase(plan: str, out_dir: str) -> str | None:
    m = _INSERT.search(plan)
    if m:
        return {out_dir + suffix: phase for suffix, phase in WRITE_PHASES}.get(m.group(1))
    if "Aggregate" in plan and f"{out_dir}/rollup" in plan:
        return "stats"  # the per-part counters collected for the manifest
    return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def job_phases(event_log: str, out_dir: str, t0: float, t1: float) -> dict:
    """Phase split of the run_extract_job call between epoch times t0..t1.

    Each phase is the time at least one of its stages was running;
    ``serial_floor_s`` is the rest of the call's wall, when no stage ran.
    A job with no SQL execution (a parquet schema read) belongs to the
    phase of the next execution that starts after it.
    """
    execs: dict[int, tuple[float, str | None]] = {}
    job_exec: dict[int, int | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[float]] = {}
    shuffle_bytes = spill_bytes = 0
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                execs[ev["executionId"]] = (
                    ev["time"] / 1000.0,
                    _exec_phase(ev.get("physicalPlanDescription", ""), out_dir))
            elif kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                job_exec[jid] = int(eid) if eid is not None else None
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[info["Stage ID"]] = (info["Submission Time"] / 1000.0,
                                                    info["Completion Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                if not t0 <= ti["Launch Time"] / 1000.0 <= t1:
                    continue
                tasks.setdefault(ev["Stage ID"], []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill_bytes += tm.get("Disk Bytes Spilled", 0)

    exec_order = sorted((ts, ph) for ts, ph in execs.values() if t0 <= ts <= t1)

    def job_phase(jid: int) -> str:
        eid = job_exec.get(jid)
        if eid is not None and eid in execs:
            return execs[eid][1] or "other"
        later = [ph for ts, ph in exec_order if ts >= job_start[jid]]
        return (later[0] if later else None) or "other"

    by_phase: dict[str, list] = {}
    all_spans, skew = [], 0.0
    for sid, (s, e) in stage_span.items():
        if not (t0 <= s <= t1) or sid not in stage_job:
            continue
        s, e = max(s, t0), min(e, t1)
        phase = job_phase(stage_job[sid])
        by_phase.setdefault(phase, []).append((s, e))
        all_spans.append((s, e))
        durs = tasks.get(sid, [])
        if phase in ("stage", "spans") and len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                skew = max(skew, max(durs) / med)
    out = {f"job.{p}_s": _union_s(by_phase.get(p, [])) for p in PHASES}
    out["job.other_s"] = _union_s(by_phase.get("other", []))
    out["job.serial_floor_s"] = (t1 - t0) - _union_s(all_spans)
    out["job.shuffle_write_bytes"] = shuffle_bytes
    out["job.spill_bytes"] = spill_bytes
    out["job.task_skew"] = skew
    return out
