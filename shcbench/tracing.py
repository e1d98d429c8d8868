"""Measurement helpers of the benchmark: in-memory spans, process and
machine counters read from /proc, on-disk table listings, and the
reduction of Spark's event log to per-op layer counters."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory: (id, parent id, name, start, end) in
    perf_counter seconds. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, parent, name, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec[4] = time.perf_counter()

    def durations(self, name: str) -> list:
        return [s[4] - s[3] for s in self.spans if s[2] == name and s[4] is not None]

    def self_times(self) -> dict:
        """{name: (calls, total s, self s)}; self time is a span's
        duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for sid, parent, _, t0, t1 in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict = {}
        for sid, _, name, t0, t1 in self.spans:
            if t1 is None:
                continue
            n, tot, slf = out.get(name, (0, 0.0, 0.0))
            out[name] = (n + 1, tot + t1 - t0, slf + t1 - t0 - child[sid])
        return out

    def table(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1][2])
        lines = [f"{'span':<44} {'calls':>6} {'total_s':>9} {'self_s':>9}"]
        lines += [f"{name:<44} {n:>6} {tot:>9.3f} {slf:>9.3f}" for name, (n, tot, slf) in rows]
        return "\n".join(lines)


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def proc_tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and all its live
    descendants, including children they have already reaped."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(int(name))
        except (OSError, ValueError):
            continue
        children.setdefault(int(f[1]), []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            f = _stat_fields(pid)
        except (OSError, ValueError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


def steal_s() -> float:
    """Machine-wide hypervisor steal time so far, in seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK


def pids_with_token(token: str) -> list:
    """Live processes whose environment carries ``token`` (the run's
    JVM and Python workers inherit it from the measured process)."""
    needle = token.encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read():
                    out.append(int(name))
        except OSError:
            continue
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def table_layout(table_dir: str) -> tuple:
    """(live generations, live region files) from ``_regions.json``."""
    with open(os.path.join(table_dir, "_regions.json")) as fh:
        regions = json.load(fh)
    gens = {os.path.basename(os.path.dirname(r["path"])) for r in regions}
    return len(gens), len(regions)


# -- event log ------------------------------------------------------------

_PY_ACCUMS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}


def _walk_plan(node, scan_ids: set):
    for m in node.get("metrics", ()):
        if node["nodeName"].startswith("BatchScan") and m["name"] == "number of output rows":
            scan_ids.add(m["accumulatorId"])
    for c in node.get("children", ()):
        _walk_plan(c, scan_ids)


def reduce_event_log(path: str) -> dict:
    """Per job group: {jobs, stages, tasks, leaf_tasks, launch_delay_s,
    run_s, cpu_s, gc_s, shuffle_bytes, fetch_wait_s, spill_bytes,
    scan_rows, pyworker.*}. Leaf tasks belong to stages without parent
    stages, i.e. the scan partitions the source planned."""
    groups: dict = {}
    stage_group: dict = {}
    stage_leaf: dict = {}
    stage_submit: dict = {}
    scan_ids: set = set()
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]

    def acc(g):
        return groups.setdefault(
            g,
            dict.fromkeys(
                ["jobs", "stages", "tasks", "leaf_tasks", "launch_delay_s", "run_s", "cpu_s",
                 "gc_s", "shuffle_bytes", "fetch_wait_s", "spill_bytes", "scan_rows",
                 *_PY_ACCUMS.values()],
                0,
            ),
        )

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], scan_ids)
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            a = acc(g)
            a["jobs"] += 1
            for s in e["Stage Infos"]:
                stage_group[s["Stage ID"]] = g
                stage_leaf[s["Stage ID"]] = not s["Parent IDs"]
        elif kind == "SparkListenerStageSubmitted":
            s = e["Stage Info"]
            stage_submit[s["Stage ID"]] = s.get("Submission Time")
            acc(stage_group.get(s["Stage ID"]))["stages"] += 1
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        a = acc(stage_group.get(sid))
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        a["tasks"] += 1
        if stage_leaf.get(sid):
            a["leaf_tasks"] += 1
        if stage_submit.get(sid) is not None:
            a["launch_delay_s"] += max(0, info["Launch Time"] - stage_submit[sid]) / 1e3
        a["run_s"] += m.get("Executor Run Time", 0) / 1e3
        a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
        a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for u in info.get("Accumulables", ()):
            name, val = u.get("Name"), u.get("Update")
            try:
                val = float(val)
            except (TypeError, ValueError):
                continue
            if u.get("ID") in scan_ids:
                a["scan_rows"] += val
            elif name in _PY_ACCUMS:
                # worker timings are millisecond SQL metrics
                a[_PY_ACCUMS[name]] += val / 1e3 if name.startswith("time") else val
    return groups
