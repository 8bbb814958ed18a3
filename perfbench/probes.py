"""Measurement from outside the library: process CPU and RSS from ``/proc``,
and the traced-run instruments (job groups, gateway-call counter, Spark
event log, spans).  Nothing here changes what the engine does; the only
conf the traced run adds is the event log, passed at launch."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import time
import types

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(pid: int) -> float:
    """user+sys of the process plus its reaped children, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0
    rest = raw[raw.rindex(")") + 2 :].split()
    return sum(int(x) for x in rest[11:15]) / _TICK


def tree_cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of ``root`` and every live descendant, split into Python
    workers, the JVM and the rest.  A child that exits is folded into its
    parent's reaped-children counters, so the sum stays whole across worker
    restarts."""
    out = {"python": 0.0, "jvm": 0.0, "other": 0.0}
    for pid in process_tree(root):
        if pid != root and _is_python_worker(pid):
            out["python"] += _cpu_s(pid)
        elif _comm(pid) == "java":
            out["jvm"] += _cpu_s(pid)
        else:
            out["other"] += _cpu_s(pid)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _is_python_worker(pid: int) -> bool:
    """A PySpark daemon or worker (the JVM's command line names pyspark too)."""
    if not _comm(pid).startswith("python"):
        return False
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_engine(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the gateway JVM down and wait until every
    process it started (JVM, Python daemon and workers) has exited; any
    still alive after ``timeout`` is killed."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = started
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]
        if alive and time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return "Z"
    return raw[raw.rindex(")") + 2]


class WorkerRss:
    """Peak RSS (VmHWM) of the Python workers under this process.  Workers
    are reused across passes, so sampling at pass ends sees each one's
    lifetime peak; ``peak_mb`` is the highest of any single worker."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0

    def sample(self) -> None:
        for pid in process_tree(self.root):
            if pid != self.root and _is_python_worker(pid):
                self.peak_mb = max(self.peak_mb, _hwm_mb(pid))


class GatewayCounter:
    """Counts commands sent through this session's py4j gateway client by
    wrapping the client instance's ``send_command``."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.active = False
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command

    @contextlib.contextmanager
    def window(self):
        """Counts the calls made inside the ``with`` block into ``.calls``
        of the yielded record."""
        rec = types.SimpleNamespace(calls=0)
        start, self.active = self.calls, True
        try:
            yield rec
        finally:
            self.active = False
            rec.calls = self.calls - start


class Spans:
    """In-memory span recorder: (id, parent, name, start, end) in seconds
    since the recorder was created; written once at exit."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "start": time.perf_counter() - self.t0, "end": None, **attrs,
        })
        return len(self.spans) - 1

    def close(self, sid: int, **attrs) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter() - self.t0
        span.update(attrs)
        return span["end"] - span["start"]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


# ---------------------------------------------------------------- event log

_PY_NODE_MARKS = ("Pandas", "Python", "InArrow")


def _plan_nodes(info: dict, out: list[str]) -> list[str]:
    out.append(info.get("nodeName", ""))
    for child in info.get("children", ()):
        _plan_nodes(child, out)
    return out


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: summed executor run time (s), shuffle write (MB), and
    Exchange / Python node counts of the final plans of its SQL executions.
    Read after the session stopped, so the log is complete."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
         if os.path.isfile(p)),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    tasks: list[tuple[int, float, float]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                    eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.append((ev["Stage ID"], m.get("Executor Run Time", 0) / 1e3, shuffle / 2**20))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "sparkPlanInfo" in ev:
                        plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    out: dict[str, dict[str, float]] = {}

    def slot(group):
        return out.setdefault(group, {"task_s": 0.0, "shuffle_mb": 0.0, "exchanges": 0, "python_nodes": 0})

    for sid, run_s, mb in tasks:
        group = stage_group.get(sid)
        if group:
            s = slot(group)
            s["task_s"] += run_s
            s["shuffle_mb"] += mb
    for eid, group in exec_group.items():
        nodes = _plan_nodes(plans.get(eid, {}), [])
        s = slot(group)
        s["exchanges"] += sum(n.endswith("Exchange") and n != "ReusedExchange" for n in nodes)
        s["python_nodes"] += sum(any(k in n for k in _PY_NODE_MARKS) for n in nodes)
    return out
