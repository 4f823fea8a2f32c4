"""Measurement plumbing shared by the workloads: the memory sampler, host
context, in-memory spans and attribution of Spark's event log to layers.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

CORES = max(1, min(4, os.cpu_count() or 1))
SETUPS = 2                  # set-ups per run; setup_s is their median
RSS_INTERVAL_S = 0.05       # memory sampling period

# Job groups the benchmark sets around layer calls, one per package
# module. Jobs run by the benchmark itself (verification, staging) go to
# the "bench" group and are never attributed to a layer.
SPARK_LAYERS = ("session", "sources", "operators.extract",
                "operators.lineage", "operators.dedup", "streaming")
SPARK_FIELDS = ("cpu_s", "run_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "fetch_wait_s", "spill_mb", "tasks",
                "failed_tasks", "task_skew")


# --- processes and memory ---------------------------------------------------

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:  # the process ended while being read
        pass
    return out


def descendants() -> list[int]:
    """Every live process below this one."""
    todo, seen = _children(os.getpid()), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_bytes(pid: int) -> int:
    """Proportional resident set size: pages shared between processes
    (Python workers forked from one daemon) are split among them, so a
    sum over processes counts each resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):  # the process ended
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    (the Spark JVM and its Python workers) every RSS_INTERVAL_S seconds
    and keeps the peak. The one thread the benchmark starts."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in descendants())
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak / 2 ** 20


def host_context() -> dict:
    """Load average, JVMs this run did not start, and a fixed pure-Python
    single-core probe (best of three, ms), so a noisy host shows up next
    to the figures it distorted. Nothing is changed on the host."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mine = set(descendants())
    jvms = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() == "java":
                    jvms.append(int(d))
        except OSError:
            continue
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return {"loadavg": load, "other_jvms": len(jvms),
            "other_jvm_pids": sorted(jvms)[:16],
            "probe_ms": round(best * 1000, 2), "nproc": os.cpu_count(),
            "cores_used": CORES}


# --- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id), written
    out only by ``dump``. When disabled, ``span`` only runs its body.

    Spark jobs submitted inside a span carry its job group (the span's
    ``group``, else its layer), which attributes them in the event log."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    def _set_group(self) -> None:
        if self.sc is not None:
            g = self._stack[-1]["group"] if self._stack else "bench"
            self.sc.setJobGroup(g, g)

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench", group: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "layer": layer,
             "group": group or layer,
             "parent": parent["id"] if parent else None,
             "run_id": self.run_id, "start": time.perf_counter(),
             "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._set_group()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def duration(self, name: str) -> float:
        """Seconds of the latest span called ``name``."""
        s = next(s for s in reversed(self.spans) if s["name"] == name)
        return s["end"] - s["start"]

    def self_times(self, root: str) -> tuple[float, dict]:
        """(wall of the last ``root`` span, {layer: self seconds}) over
        that span's subtree, the root excluded."""
        roots = [s for s in self.spans if s["name"] == root]
        if not roots:
            return 0.0, {}
        r = roots[-1]
        inside = {r["id"]}
        for s in self.spans[r["id"] + 1:]:
            if s["parent"] in inside:
                inside.add(s["id"])
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["id"] in inside and s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] in inside and s["id"] != r["id"]:
                own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
                out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return r["end"] - r["start"], out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- event log --------------------------------------------------------------

def tasks_by_group(log_dir: str, alias: dict | None = None) -> dict:
    """{job group: {stage id: [task-end events]}} from Spark's event log,
    plus the accumulator ids of every scan node's "number of output rows"
    under the key "scan_row_ids". ``alias`` renames groups (a streaming
    query's run id is its job group)."""
    alias = alias or {}
    stage_group: dict[int, str] = {}
    out: dict = {"scan_row_ids": set()}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "bench"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, alias.get(g, g))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    out.setdefault(stage_group.get(sid, "bench"), {}) \
                        .setdefault(sid, []).append(ev)
                elif "sparkPlanInfo" in ev:  # SQL execution start or
                    _scan_ids(ev["sparkPlanInfo"], out["scan_row_ids"])
    return out


def _scan_ids(node: dict, ids: set) -> None:
    name = node.get("nodeName", "")
    if name.startswith("Scan ") or name == "InMemoryTableScan":
        ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m["name"] == "number of output rows")
    for child in node.get("children", []):
        _scan_ids(child, ids)


def spark_layer_metrics(tasks: dict) -> dict:
    """Task metrics summed per layer: {layer: {field: value}} for every
    layer of SPARK_LAYERS. task_skew is the largest max/median task time
    over the layer's stages."""
    out = {}
    for layer in SPARK_LAYERS:
        m = dict.fromkeys(SPARK_FIELDS, 0.0)
        for evs in tasks.get(layer, {}).values():
            durs = []
            for ev in evs:
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["failed_tasks"] += bool(info.get("Failed"))
                durs.append(info["Finish Time"] - info["Launch Time"])
                m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2 ** 20
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)
                                         ) / 2 ** 20
                m["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                0) / 2 ** 20
            med = statistics.median(durs)
            if len(durs) >= 2 and med > 0:
                m["task_skew"] = max(m["task_skew"], max(durs) / med)
        out[layer] = m
    return out


def rows_scanned(tasks: dict, group: str) -> int:
    """Rows produced by the scan nodes (file scans and cached-relation
    scans) of one group's tasks."""
    ids = tasks["scan_row_ids"]
    return sum(int(a.get("Update", 0))
               for evs in tasks.get(group, {}).values() for ev in evs
               for a in ev["Task Info"].get("Accumulables", [])
               if a.get("ID") in ids)
