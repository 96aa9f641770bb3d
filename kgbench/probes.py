"""Measurement helpers: host interference, process-tree memory, spans,
Spark event-log attribution and the in-process kernel replay.

Nothing here changes what the program computes. Spans are recorded in
the benchmark process around calls into the program's modules; Spark
work is attributed to the innermost span whose wall-clock interval
contains the job's submission time (one client thread, so intervals
never interleave).
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from typing import Dict, List, Optional


# ------------------------------------------------------------------ host

def _cpu_times() -> List[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _pressure_total_us(kind: str) -> Optional[int]:
    try:
        with open(f"/proc/pressure/{kind}") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        return None
    return None


class HostRecord:
    """CPU steal share (/proc/stat) and CPU/IO 'some' pressure stall share
    (/proc/pressure) over an interval. For diagnosis only: no sample is
    ever dropped or repeated because of it."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.cpu0 = _cpu_times()
        self.psi0 = {k: _pressure_total_us(k) for k in ("cpu", "io")}

    def result(self) -> dict:
        wall = time.monotonic() - self.t0
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d[:8]) or 1
        out = {"wall_s": round(wall, 3),
               "steal_share": round(d[7] / total, 4),
               "busy_share": round(1 - (d[3] + d[4]) / total, 4)}
        for k, v0 in self.psi0.items():
            v1 = _pressure_total_us(k)
            if v0 is not None and v1 is not None:
                out[f"{k}_pressure_share"] = round((v1 - v0) / 1e6 / wall, 4)
        return out


# ----------------------------------------------------------- memory tree

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> Dict[int, str]:
    """pid -> command name of every process below ``root``."""
    children: Dict[int, list] = {}
    comm: Dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(name)
        comm[pid] = raw[raw.index("(") + 1: raw.rindex(")")]
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out[pid] = comm[pid]
        stack.extend(children.get(pid, ()))
    return out


def reap_tree(timeout: float = 30.0) -> int:
    """Wait until every process below this one has ended; kill what is
    still there at the timeout. Returns how many had to be killed."""
    import signal
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not _descendants(os.getpid()):
            return 0
        time.sleep(0.2)
    left = _descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return len(left)


class TreeMemory:
    """Peak memory of the process tree: the driver's and the JVM's own
    peak RSS (VmHWM, kept by the kernel, so no peak is missed between
    samples) plus the largest summed RSS of the Python workers seen at
    a sample. Sampled between ops, from the client thread, so no
    sampling thread competes with the driver."""

    def __init__(self) -> None:
        self.jvm_kb = 0
        self.workers_kb = 0
        self.python_pids: set = set()

    def sample(self) -> None:
        workers = 0
        for pid, comm in _descendants(os.getpid()).items():
            if comm.startswith("python"):
                self.python_pids.add(pid)
                workers += _status_kb(pid, "VmRSS")
            else:
                self.jvm_kb = max(self.jvm_kb, _status_kb(pid, "VmHWM"))
        self.workers_kb = max(self.workers_kb, workers)

    def peak_mb(self) -> float:
        driver = _status_kb(os.getpid(), "VmHWM")
        return (driver + self.jvm_kb + self.workers_kb) / 1024


# ----------------------------------------------------------------- spans

class Tracer:
    """Spans (name, start, end, parent) kept in memory; written at exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, module, attr: str, name):
        """Replace ``module.attr`` by a wrapper that records a span per
        call; ``name`` may be a callable of the call's arguments."""
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)
        wrapper.__wrapped__ = fn
        setattr(module, attr, wrapper)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.rec: Optional[dict] = None

    def __enter__(self) -> "_Span":
        t = self.tracer
        if t.enabled:
            self.rec = {"id": len(t.spans), "name": self.name,
                        "parent": t._stack[-1] if t._stack else None,
                        "start": time.time(), "end": None, **self.attrs}
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc) -> None:
        if self.rec is not None:
            self.rec["end"] = time.time()
            self.tracer._stack.pop()


# ------------------------------------------------------- Spark event log

_TASK_FIELDS = {"Executor Run Time": "run_ms",
                "Executor CPU Time": "cpu_ns",
                "JVM GC Time": "gc_ms",
                "Memory Bytes Spilled": "spill_bytes",
                "Disk Bytes Spilled": "disk_spill_bytes"}


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def attribute_event_log(path: str, spans: List[dict]) -> None:
    """Add a ``spark`` dict to every span: tasks, executor run/CPU/GC
    time, shuffle and spill bytes, input bytes, files read and the task
    durations of its heaviest stage, summed over the Spark jobs (and
    SQL scans) whose submission time falls inside the span and in none
    of its children."""
    order = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in order]

    def owner(ms: float) -> Optional[dict]:
        t = ms / 1000.0
        best = None
        i = bisect.bisect_right(starts, t)
        for s in order[:i]:
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    stage_owner: Dict[int, dict] = {}
    stage_tasks: Dict[int, list] = {}
    metric_names: Dict[int, str] = {}
    exec_owner: Dict[int, dict] = {}
    for s in spans:
        s["spark"] = {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                      "gc_ms": 0, "shuffle_read_bytes": 0,
                      "shuffle_write_bytes": 0, "spill_bytes": 0,
                      "disk_spill_bytes": 0, "input_bytes": 0,
                      "input_records": 0, "files_read": 0}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                s = owner(e["Submission Time"])
                if s is not None:
                    s["spark"]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_owner[sid] = s
            elif ev == "SparkListenerTaskEnd":
                s = stage_owner.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if s is None or not m:
                    continue
                sp = s["spark"]
                sp["tasks"] += 1
                for k, out in _TASK_FIELDS.items():
                    sp[out] += m.get(k, 0)
                rd = m.get("Shuffle Read Metrics", {})
                sp["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) \
                    + rd.get("Local Bytes Read", 0)
                sp["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics", {})
                sp["input_bytes"] += inp.get("Bytes Read", 0)
                sp["input_records"] += inp.get("Records Read", 0)
                info = e["Task Info"]
                stage_tasks.setdefault(e["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"],
                     m.get("Executor Run Time", 0)))
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                _plan_metric_names(e.get("sparkPlanInfo", {}), metric_names)
                s = owner(e["time"])
                if s is not None:
                    exec_owner[e["executionId"]] = s
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                s = exec_owner.get(e["executionId"])
                if s is None:
                    continue
                for acc_id, value in e["accumUpdates"]:
                    if metric_names.get(acc_id) == "number of files read":
                        s["spark"]["files_read"] += value
    # heaviest stage per span: the one whose tasks ran longest in sum
    heaviest: Dict[int, list] = {}
    for sid, tasks in stage_tasks.items():
        s = stage_owner[sid]
        cur = heaviest.get(s["id"])
        if cur is None or sum(t[1] for t in tasks) > sum(t[1] for t in cur):
            heaviest[s["id"]] = tasks
    for s in spans:
        tasks = heaviest.get(s["id"])
        if tasks:
            durs = [t[0] for t in tasks]
            med = statistics.median(durs)
            s["spark"]["heavy_stage_tasks"] = len(durs)
            s["spark"]["task_skew"] = round(max(durs) / med, 3) if med else None


# ---------------------------------------------------------- kernel replay

class _GcClock:
    """Total time the cyclic collector has paused this process, from
    ``gc.callbacks``; timers subtract it so collection pauses form their
    own layer instead of landing in whichever phase triggered them."""

    def __init__(self) -> None:
        self.total = 0.0
        self._t0 = 0.0

    def __call__(self, phase: str, _info: dict) -> None:
        if phase == "start":
            self._t0 = time.perf_counter()
        else:
            self.total += time.perf_counter() - self._t0

    def now(self) -> tuple:
        return time.perf_counter(), self.total


def _net(clock: _GcClock, t0: tuple) -> float:
    t, g = clock.now()
    return (t - t0[0]) - (g - t0[1])


def kernel_replay(sources: Dict[str, str]) -> dict:
    """Single-thread in-process replay of the fused kernel over
    ``sources``. Times lex, parse and PE build in separate calls
    (``tokenize``, ``parse_java``, ``build_methods``: each includes the
    one before), and PE/CFG/PDG build inside the real
    ``extract_document_columns`` call by timing their ``build`` methods;
    emit is the rest of that call and gc its collector pauses. Self
    times come by subtraction, so they sum to the real call's time only
    when the separate calls agree with it (``self_sum_share``)."""
    import gc

    from propertygraph_spark.kernel import cfg as cfg_mod
    from propertygraph_spark.kernel import pdg as pdg_mod
    from propertygraph_spark.kernel import pebuilder as pe_mod
    from propertygraph_spark.kernel.extract import extract_document_columns
    from propertygraph_spark.kernel.javaparser import parse_java
    from propertygraph_spark.kernel.lexer import tokenize

    clock = _GcClock()
    sep = {"lex": 0.0, "parse_incl": 0.0, "pe_incl": 0.0, "pe_in_call": 0.0}
    inner = {"cfg": 0.0, "pdg": 0.0, "pe": 0.0}
    total = gc_in_call = 0.0
    methods = rows = 0
    per_doc: Dict[str, float] = {}
    classes = (cfg_mod.CFG, pdg_mod.PDG, pe_mod.PEBuilder)
    originals = tuple(c.build for c in classes)

    def timed(orig, key):
        def build(self, *a, **k):
            t0 = clock.now()
            try:
                return orig(self, *a, **k)
            finally:
                inner[key] += _net(clock, t0)
        return build

    for c, orig, key in zip(classes, originals, ("cfg", "pdg", "pe")):
        c.build = timed(orig, key)
    gc.callbacks.append(clock)
    try:
        for doc_id, src in sources.items():
            try:
                t0 = clock.now(); tokenize(src)
                sep["lex"] += _net(clock, t0)
                t0 = clock.now(); parse_java(src)
                sep["parse_incl"] += _net(clock, t0)
                t0 = clock.now(); methods += len(pe_mod.build_methods(src))
                sep["pe_incl"] += _net(clock, t0)
            except Exception:        # malformed doc: the kernel's error path
                pass
            inner["pe"] = 0.0
            t0 = clock.now()
            nc, tc, mc, _err = extract_document_columns(doc_id, src)
            t1 = clock.now()
            per_doc[doc_id] = t1[0] - t0[0]
            total += per_doc[doc_id]
            gc_in_call += t1[1] - t0[1]
            rows += len(nc["node_id"]) + len(tc["subj"]) + len(mc["node_id"])
            sep["pe_in_call"] += inner["pe"]
    finally:
        gc.callbacks.remove(clock)
        for c, orig in zip(classes, originals):
            c.build = orig
    self_s = {"lex": sep["lex"], "parse": sep["parse_incl"] - sep["lex"],
              "pe": sep["pe_incl"] - sep["parse_incl"],
              "cfg": inner["cfg"], "pdg": inner["pdg"], "gc": gc_in_call}
    self_s["emit"] = (total - gc_in_call - sep["pe_in_call"]
                      - inner["cfg"] - inner["pdg"])
    return {"docs": len(sources), "total_s": total, "self_s": self_s, "methods": methods, "rows": rows,
            "per_doc_s": per_doc}
