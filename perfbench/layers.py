"""Per-layer measurement: spans, Spark event-log attribution and /proc.

Spans are kept in memory and written out when the run ends. Each span
names a layer call made from the benchmark (``get_spark``,
``parse_spec``, ``compile_pipeline``, ``QUERIES[name]``, ``collect``,
``write_parquet``) and carries its operation's id, which is also the
operation's Spark job group, so the event log's jobs, stages and tasks
can be attributed to the same operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

MB = 1 << 20


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, op_id: str, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"op": op_id, "layer": layer, "start": t0,
                               "end": time.perf_counter()})

    def total(self, layer: str, ops: set[str]) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and s["op"] in ops)


# ---------------------------------------------------------------------------
# Spark event log (plain JSON lines: compression and rolling are off)
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_METRICS = {
    "time to run Python workers": "py_run",
    "time to start Python workers": "py_boot",
    "time to initialize Python workers": "py_init",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
}


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages and summed task metrics.

    Returns ``{"groups": {group: {...}}, "untagged_jobs": n,
    "stage_skew": {stage: max/median task run time}}``."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str, dict] = {}
    untagged = 0
    stage_tasks: dict[int, list[float]] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    if g is None:
                        untagged += 1
                        continue
                    rec = groups.setdefault(g, _new_group())
                    rec["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = stage_group.get(sid)
                    if g is not None and "Completion Time" in ev["Stage Info"]:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    _add_task(groups[g], ev)
                    run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    stage_tasks.setdefault(ev["Stage ID"], []).append(run_ms)
    skew = {sid: max(ts) / statistics.median(ts)
            for sid, ts in stage_tasks.items()
            if len(ts) >= 2 and statistics.median(ts) > 0}
    return {"groups": groups, "untagged_jobs": untagged, "stage_skew": skew,
            "stage_group": stage_group}


def _new_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            "input": 0, "output_bytes": 0, "output_rows": 0,
            "py_run": 0, "py_boot": 0, "py_init": 0, "py_sent": 0, "py_recv": 0}


def _add_task(rec: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    rec["tasks"] += 1
    rec["run_ms"] += m.get("Executor Run Time", 0)
    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    rec["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    rec["spill"] += m.get("Disk Bytes Spilled", 0)
    rec["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    out = m.get("Output Metrics") or {}
    rec["output_bytes"] += out.get("Bytes Written", 0)
    rec["output_rows"] += out.get("Records Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            rec[key] += int(acc.get("Update") or 0)


# ---------------------------------------------------------------------------
# /proc: CPU steal and the resident memory of this process tree
# ---------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Peak resident memory of this process tree, sampled from /proc by a
    background thread from construction until ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def _sample(self, interval: float) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_bytes(os.getpid()) / MB)
            if self._done.wait(interval):
                return

    def stop(self) -> float:
        if not self._done.is_set():
            self._done.set()
            self._thread.join()
            self.peak_mb = max(self.peak_mb, tree_rss_bytes(os.getpid()) / MB)
        return self.peak_mb
