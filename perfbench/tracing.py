"""Measurement from outside the program: spans around calls into its
public functions, Spark's own event log, and process-tree memory read
from ``/proc``.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time


# ------------------------------------------------------------------ spans
class Tracer:
    """Records spans ``(name, start, end, parent)``; a disabled tracer
    records nothing, so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Record a span around every call of ``owner.attr``. Callers
        that look the function up on its module at call time (every
        module-level call in the program does) see the wrapper."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def select(self, name: str, within: tuple[float, float] | None = None):
        return [
            s
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (within is None or within[0] <= s["start"] <= within[1])
        ]

    def total(self, name: str, within=None) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, within))

    def count(self, name: str, within=None) -> int:
        return len(self.select(name, within))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------- Spark event log
# Spark SQL metric name -> (per-layer metric, divisor to its unit).
# "timing" metrics are milliseconds, "size" metrics bytes.
EVENT_METRICS = {
    "time to run Python workers": ("spark.python_run_s", 1000.0),
    "time to start Python workers": ("spark.python_boot_s", 1000.0),
    "time to initialize Python workers": ("spark.python_init_s", 1000.0),
    "data sent to Python workers": ("spark.bytes_to_python", 1),
    "data returned from Python workers": ("spark.bytes_from_python", 1),
    "scan time": ("spark.scan_s", 1000.0),
    "written output": ("spark.bytes_written", 1),
    "number of written files": ("spark.files_written", 1),
    "shuffle bytes written": ("spark.shuffle_bytes_written", 1),
    "fetch wait time": ("spark.fetch_wait_s", 1000.0),
}


class EventLog:
    """One uncompressed, non-rolling Spark event log file, read after
    ``spark.stop()`` has flushed it."""

    def __init__(self, path: str):
        self.executions: dict[int, dict] = {}
        self.job_times: list[float] = []
        self._acc_name: dict[int, str] = {}  # accumulator id -> metric
        self._acc_exec: dict[int, int] = {}  # accumulator id -> execution
        self._acc_value: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", ()):
            self._acc_name[m["accumulatorId"]] = m["name"]
            self._acc_exec[m["accumulatorId"]] = exec_id
        for child in node.get("children", ()):
            self._plan(exec_id, child)

    def _value(self, acc_id: int, value) -> None:
        try:
            v = int(value)
        except (TypeError, ValueError):
            return
        # accumulator values are cumulative: the largest one seen is final
        self._acc_value[acc_id] = max(self._acc_value.get(acc_id, 0), v)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = {
                "start": e["time"] / 1000.0,
                "end": None,
                "plan": e.get("physicalPlanDescription", ""),
            }
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"] / 1000.0
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self._value(acc_id, value)
        elif kind == "SparkListenerStageCompleted":
            for acc in e["Stage Info"].get("Accumulables", ()):
                self._value(acc["ID"], acc.get("Value"))
        elif kind == "SparkListenerJobStart":
            self.job_times.append(e["Submission Time"] / 1000.0)

    def execution_ids(self, windows) -> set[int]:
        return {
            i
            for i, x in self.executions.items()
            if any(a <= x["start"] <= b for a, b in windows)
        }

    def metrics(self, windows) -> dict[str, float]:
        """Sums of EVENT_METRICS over the SQL executions started inside
        ``windows`` (epoch-second intervals)."""
        ids = self.execution_ids(windows)
        out = {name: 0.0 for name, _ in EVENT_METRICS.values()}
        for acc_id, metric in self._acc_name.items():
            if metric in EVENT_METRICS and self._acc_exec[acc_id] in ids:
                name, div = EVENT_METRICS[metric]
                out[name] += self._acc_value.get(acc_id, 0) / div
        return out

    def busy_s(self, windows, plan_substring: str) -> float:
        """Wall time of the executions inside ``windows`` whose physical
        plan mentions ``plan_substring``."""
        ids = self.execution_ids(windows)
        return sum(
            x["end"] - x["start"]
            for i, x in self.executions.items()
            if i in ids and x["end"] is not None and plan_substring in x["plan"]
        )

    def jobs(self, windows) -> int:
        return sum(1 for t in self.job_times if any(a <= t <= b for a, b in windows))


# ------------------------------------------------------------- processes
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.1):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pid = os.getpid()
        total = sum(_rss_bytes(p) for p in [pid, *descendants(pid)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_for_exit(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every process in ``pids`` has exited; returns those
    still alive after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    boot = time.time() - uptime
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")
