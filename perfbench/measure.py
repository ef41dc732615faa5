"""Measurement helpers: order statistics, spans, process memory and the
Spark event log.

Spans are recorded from the benchmark's side of each layer boundary: the
traced run replaces the engine's public entry points *at the names their
callers look them up under* with timing wrappers, keeps every span in
memory and writes them out once at the end. Each wrapper also tags the
Spark jobs its call submits (a thread-local Spark property), so the event
log can charge jobs, stages and tasks to the span that caused them.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

# ------------------------------------------------------------ statistics

# a tail percentile is reported only with this many samples above it
TAIL_BEYOND = 10
# seconds between two samples of the process tree's resident memory
RSS_EVERY_S = 0.25


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float] | None:
    """``(percentile, value)`` of the highest nearest-rank percentile that
    still has at least ``TAIL_BEYOND`` samples strictly above its rank, or
    ``None`` when there are too few samples for one."""
    n = len(values)
    rank = n - TAIL_BEYOND  # 1-based rank with exactly that many above
    if rank < 1:
        return None
    return 100.0 * rank / n, float(sorted(values)[rank - 1])


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    child spans cover (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["t0"]), min(b, s["t1"]))
            for a, b in kids.get(s["id"], [])
            if b > s["t0"] and a < s["t1"]
        ]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(clipped)
    return out


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder with reversible entry-point wrapping."""

    JOB_PROP = "perfbench.span"

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module global, class attribute or dict
        entry) with a wrapper that records one span per call."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer = tracer
        self.rec = {"name": name, **attrs}

    def __enter__(self):
        tr = self.tracer
        stack = tr._stack()
        with tr._lock:
            sid = tr._next
            tr._next += 1
        parent = stack[-1] if stack else None
        self.rec.update(id=sid, parent=parent, thread=threading.get_ident())
        if tr.sc is not None:
            self._prev = tr.sc.getLocalProperty(Tracer.JOB_PROP)
            tr.sc.setLocalProperty(Tracer.JOB_PROP, str(sid))
        stack.append(sid)
        self.rec["t0"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        tr = self.tracer
        self.rec["t1"] = time.time()
        tr._stack().pop()
        if tr.sc is not None:
            tr.sc.setLocalProperty(Tracer.JOB_PROP, self._prev)
        with tr._lock:
            tr.spans.append(self.rec)
        return False


# ---------------------------------------------------------------- memory


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes() -> int:
    """Proportional set size of the process tree: each shared page is
    split among the processes that map it, so Python workers forked from
    one daemon are not counted once per worker."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    including children they have already reaped. Time the hypervisor
    steals from the guest is not charged to any process, so CPU cost
    reads the same on a busy host and an idle one."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / tick


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants (the JVM and the Python workers) on a background thread;
    ``peak`` is the largest sum seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(RSS_EVERY_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())
        return False


# ------------------------------------------------------------- event log


class EventLog:
    """Jobs, stages, tasks and SQL metrics parsed from a Spark event log
    directory (read after the SparkContext has stopped, so it is whole)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.sql_metric: dict[int, tuple[str, str]] = {}  # acc id → (node, name)
        for d, _, files in os.walk(log_dir):
            for name in sorted(files):
                if name.startswith(".") or name.endswith(".crc"):
                    continue
                with open(os.path.join(d, name)) as fh:
                    for line in fh:
                        self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.sql_metric[m["accumulatorId"]] = (info["nodeName"], m["name"])
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(Tracer.JOB_PROP)
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "t": ev["Submission Time"] / 1000.0,
                "span": int(span) if span not in (None, "") else None,
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "t0": info["Launch Time"] / 1000.0,
                "t1": info["Finish Time"] / 1000.0,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                # SQL metric updates are logged as strings
                "acc": {
                    a["ID"]: int(a["Update"])
                    for a in info.get("Accumulables", [])
                    if str(a.get("Update", "")).lstrip("-").isdigit()
                },
            })
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            self._plan(ev["sparkPlanInfo"])

    def tasks_between(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["t0"] <= t1]

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        return [j for j, v in self.jobs.items() if t0 <= v["t"] <= t1]

    def sql_sum(self, tasks, node_prefix: str, metric: str) -> int:
        total = 0
        for t in tasks:
            for acc, upd in t["acc"].items():
                node, name = self.sql_metric.get(acc, ("", ""))
                if node.startswith(node_prefix) and name == metric:
                    total += upd
        return int(total)
