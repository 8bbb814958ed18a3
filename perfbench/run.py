#!/usr/bin/env python3
"""Benchmark driver: one named workload at one seed, closed loop, one client.

    python3 perfbench/run.py --workload ranges --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout (any working directory works; the
checkout is located from this file).  It generates the inputs from the seed
under ``.bench_work/``, starts the engine through ``get_or_create_session()``
on ``local[<nproc>]``, runs the workload's untimed warm-up passes (the last
one's outputs are checked against independent references), then timed
passes on fresh input shards until ``--seconds`` of pass wall has been
measured.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, the per-step
table and the tracing overhead, and writes the span file under
``.bench_out/``.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  Exit status is 1 when an
output check fails and 2 when the library is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


_T0 = time.perf_counter()


def _progress(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str, trace: bool) -> None:
    """Process environment for the engine: cores, worker import path and
    scratch locations inside the checkout.  None of these is a Spark conf;
    the traced run adds the event log as launch conf."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        # Python workers import the library by module path
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # UsePerfData off: the JVM would otherwise write its perf-data file
        # under /tmp, whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        + (" " + java_opts if java_opts else ""),
    })
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


class Runner:
    """Runs the passes of one workload and collects every measurement."""

    def __init__(self, groups, spark, rss):
        self.groups, self.spark, self.rss = groups, spark, rss
        self.tracer = None

    def run_pass(self, label: str, collect: bool = False) -> dict:
        """One pass: a fresh shard per group, every step in order.  Returns
        wall, CPU, input records, and (``collect``) each step's output."""
        shards = [g.shard(label) for g in self.groups]  # untimed generation
        ctxs = [g.context(self.spark, s) for g, s in zip(self.groups, shards)]
        tr = self.tracer
        pass_span = tr.spans.open(f"pass:{label}") if tr else None
        outputs, steps, rewrites = {}, {}, 0
        cpu0, t0 = _cpu(), time.perf_counter()
        for g, ctx in zip(self.groups, ctxs):
            for step in g.steps:
                rec = tr.step(label, step, ctx, pass_span) if tr else _plain_step(step, ctx, collect)
                steps[step.name] = rec
                if step.name == "sql_surface.bio_sql":
                    from datafusion_bio_functions_spark.plans.range_join import last_rewrite

                    rewrites += last_rewrite() is not None
                if collect:
                    outputs[step.name] = rec.pop("output")
        wall = time.perf_counter() - t0
        cpu = _cpu() - cpu0
        self.rss.sample()
        if tr:
            tr.spans.close(pass_span, rewrites=rewrites)
        return {
            "label": label, "wall": wall, "cpu": cpu, "steps": steps, "rewrites": rewrites,
            "records": sum(s.records for s in shards), "shards": shards,
            "outputs": outputs,
        }


def _cpu() -> float:
    from perfbench import probes

    return sum(probes.tree_cpu_split(os.getpid()).values())


def _plain_step(step, ctx, collect: bool) -> dict:
    t0 = time.perf_counter()
    out = step.build(ctx)
    t1 = time.perf_counter()
    rec = {"build_s": t1 - t0}
    if collect:
        # warm-up sink: materialize to the driver for the output checks
        rec["output"] = out.toArrow()
    elif step.action:
        out.write.format("noop").mode("overwrite").save()
    rec["exec_s"] = time.perf_counter() - t1
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the engine and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "datafusion_bio_functions_spark", "__init__.py")):
        _fail_setup(f"library package not found next to {HERE}; run from a source checkout")
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail_setup(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, bool(args.trace))
    try:
        group_classes, min_passes = workloads.WORKLOADS[args.workload]
        return _run(args, work, group_classes, min_passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, group_classes, min_passes) -> int:
    from perfbench import checks, gen, probes, tracing
    from perfbench.workloads import WARMUP_PASSES

    groups = [cls(work, args.seed) for cls in group_classes]
    for g in groups:
        g.prepare()
    manifest = [gen.reference_manifest(g) for g in groups]
    trace = bool(args.trace)
    _progress("reference inputs ready")

    from datafusion_bio_functions_spark.session import get_or_create_session

    rss = probes.WorkerRss(os.getpid())
    t0 = time.perf_counter()
    spark = get_or_create_session()
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(groups, spark, rss)
        for i in range(WARMUP_PASSES):
            # the last warm-up pass collects every output for the checks
            warm = runner.run_pass(f"warmup{i}", collect=i == WARMUP_PASSES - 1)
            _progress(f"warm-up pass {i} done")
        setup_s = time.perf_counter() - t0
        _progress(f"session {session_s:.1f}s, setup {setup_s:.1f}s")
        manifest += [gen.shard_manifest(s) for s in warm["shards"]]

        tracer = tracing.Tracer(spark) if trace else None
        timed, traced = [], []
        # traced mode alternates untraced and traced passes and ends on an
        # untraced one, so the overhead compares traced passes with the
        # untraced passes around them
        while True:
            label = f"p{len(timed) + len(traced):03d}"
            if trace and len(traced) < len(timed):
                runner.tracer = tracer
                traced.append(runner.run_pass(label))
                runner.tracer = None
            else:
                timed.append(runner.run_pass(label))
            _progress(f"pass {label} done")
            done = sum(p["wall"] for p in timed + traced)
            if (done >= args.seconds and len(timed) >= min_passes
                    and (not trace or len(timed) > len(traced) > 0)):
                break
        results = checks.run_checks(warm, groups)
        _progress("checks done")
    finally:
        probes.stop_engine(spark)
        _progress("engine stopped")

    failed = [r for r in results if not r["ok"]]
    walls = [p["wall"] for p in timed]
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_rows_s": (sum(p["records"] for p in timed) / sum(walls), "rows/s"),
        "pass_p50_s": (statistics.median(walls), "s"),
        "cpu_s_per_pass": (statistics.median(p["cpu"] for p in timed), "s"),
        "worker_rss_peak_mb": (rss.peak_mb, "MB"),
    }
    attempted = len(results)
    print(f"workload={args.workload} seed={args.seed} cores={os.environ['SPARK_GRAFT_CPUS']} "
          f"timed_passes={len(timed)} traced_passes={len(traced)}")
    for m in manifest:
        print("input " + json.dumps(m))
    for name, rec in warm["steps"].items():
        last = timed[-1]["steps"][name]
        print(f"step {name:<42} warm-up {rec['build_s']:7.3f} + {rec['exec_s']:7.3f} s   "
              f"last timed pass {last['build_s']:7.3f} + {last['exec_s']:7.3f} s (build + exec)")
    for r in results:
        print(f"check {'ok  ' if r['ok'] else 'FAIL'} {r['step']}: {r['detail']}")
    print(f"{'ops_failed_frac':<22} {len(failed) / attempted:>14.4f} ratio "
          f"({len(failed)}/{attempted} steps)")
    for name, (value, unit) in e2e.items():
        print(f"{name:<22} {value:>14.4f} {unit}")
    if trace:
        metrics = tracer.report(
            steps={s.name: s for g in groups for s in g.steps},
            work_dir=work, session_s=session_s, traced=traced, untraced=timed,
            out_dir=os.path.join(ROOT, ".bench_out"),
            name=f"{args.workload}-seed{args.seed}",
        )
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": metrics,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
