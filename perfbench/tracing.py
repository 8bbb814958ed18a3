"""Traced passes: every step runs under its own job groups with the gateway
counter on, spans are recorded around each build and action, and the Spark
event log (enabled at launch for the traced run only) supplies executor
time, shuffle bytes and the executed plans once the session has stopped."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import probes

#: Quantities measured on every operator step.
STEP_QUANTITIES = ("build_s", "exec_s", "probe_jobs", "py4j_calls", "exchanges", "task_s", "shuffle_mb")
#: Source steps only build a frame that later steps consume.
SOURCE_QUANTITIES = ("build_s", "probe_jobs")

#: Per-layer metrics of the JSON result: each is summed over the steps of a
#: traced pass, so every workload reports all of them.
LAYER_METRICS = {
    "session.start_s": "s",
    "driver.build_s": "s",
    "driver.probe_jobs": "count",
    "driver.py4j_calls": "count",
    "exec.exec_s": "s",
    "exec.task_s": "s",
    "exec.shuffle_mb": "MB",
    "exec.python_cpu_s": "s",
    "exec.jvm_cpu_s": "s",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "plans.range_join.rewrites": "count",
    "trace.overhead_s": "s",
}


def step_quantities(step) -> tuple[str, ...]:
    return STEP_QUANTITIES if step.action else SOURCE_QUANTITIES


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.gateway = probes.GatewayCounter(spark)
        self.spans = probes.Spans()

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def _jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def step(self, label: str, step, ctx: dict, pass_span: int) -> dict:
        build_group, exec_group = f"{label}|{step.name}|build", f"{label}|{step.name}|exec"
        sid = self.spans.open(step.name, pass_span)
        self._group(build_group)
        cpu0 = probes.tree_cpu_split(os.getpid())
        span = self.spans.open("build", sid)
        with self.gateway.window() as w:
            out = step.build(ctx)
        rec = {"build_s": self.spans.close(span), "py4j_calls": w.calls,
               "groups": (build_group, exec_group)}
        self._group(exec_group)
        span = self.spans.open("exec", sid)
        if step.action:
            out.write.format("noop").mode("overwrite").save()
        rec["exec_s"] = self.spans.close(span)
        cpu1 = probes.tree_cpu_split(os.getpid())
        rec["python_cpu_s"] = cpu1["python"] - cpu0["python"]
        rec["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
        self._group("bench-idle")
        rec["probe_jobs"] = self._jobs(build_group)
        self.spans.close(sid)
        return rec

    def report(self, steps, work_dir, session_s, traced, untraced, out_dir, name) -> dict:
        """Per-step and per-layer numbers of the traced passes (medians over
        passes), printed as a table; returns the JSON metrics.  ``steps``
        maps each step name to its ``Step``."""
        groups = probes.event_log_metrics(os.path.join(work_dir, "eventlog"))
        per_pass = []
        for p in traced:
            table = {}
            for step_name, rec in p["steps"].items():
                ev = [groups.get(g, {}) for g in rec["groups"]]
                rec["task_s"] = sum(e.get("task_s", 0.0) for e in ev)
                rec["shuffle_mb"] = sum(e.get("shuffle_mb", 0.0) for e in ev)
                rec["exchanges"] = ev[1].get("exchanges", 0)
                rec["python_nodes"] = ev[1].get("python_nodes", 0)
                table[step_name] = rec
            per_pass.append(table)
        order = list(per_pass[0])

        def med(step_name, q):
            return statistics.median(t[step_name][q] for t in per_pass)

        functions = {}
        for step_name in order:
            for q in step_quantities(steps[step_name]):
                functions[f"{step_name}.{q}"] = med(step_name, q)
        rewrites = statistics.median(p["rewrites"] for p in traced)
        if "sql_surface.bio_sql" in order:
            functions["plans.range_join.rewrites"] = rewrites

        def total(q):
            return statistics.median(sum(t[s].get(q, 0) for s in order) for t in per_pass)

        overhead = (statistics.median(p["wall"] for p in traced)
                    - statistics.median(p["wall"] for p in untraced))
        layer = {
            "session.start_s": session_s,
            "driver.build_s": total("build_s"),
            "driver.probe_jobs": total("probe_jobs"),
            "driver.py4j_calls": total("py4j_calls"),
            "exec.exec_s": total("exec_s"),
            "exec.task_s": total("task_s"),
            "exec.shuffle_mb": total("shuffle_mb"),
            "exec.python_cpu_s": total("python_cpu_s"),
            "exec.jvm_cpu_s": total("jvm_cpu_s"),
            "plan.exchanges": total("exchanges"),
            "plan.python_nodes": total("python_nodes"),
            "plans.range_join.rewrites": rewrites,
            "trace.overhead_s": overhead,
        }
        print(f"{'step':<42} " + " ".join(f"{q:>10}" for q in STEP_QUANTITIES + ("py_nodes",)))
        for step_name in order:
            rec = {q: med(step_name, q) for q in STEP_QUANTITIES + ("python_nodes",)}
            print(f"{step_name:<42} " + " ".join(f"{v:>10.3f}" for v in rec.values()))
        for k, v in functions.items():
            print(f"function {k:<50} {v:>12.4f}")
        for k, v in layer.items():
            print(f"layer    {k:<50} {v:>12.4f} {LAYER_METRICS[k]}")
        print(f"tracing overhead: traced pass_p50_s - untraced pass_p50_s = {overhead:+.4f} s "
              f"({len(traced)} traced, {len(untraced)} untraced passes)")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{name}-{int(time.time())}.json")
        self.spans.write(path, {"functions": functions, "layers": layer})
        print(f"span file: {path}")
        return {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in layer.items()}
