#!/usr/bin/env python3
"""Per-query profiler for the optimization rounds (guide §1).

For each requested query it reports, from a session with event logging on:
  build_s   — queries()[name](spark, sf_dir) wall (plan construction incl.
              eager probes / iterative operators)
  plan_s    — time to force analysis+physical planning of the built frame
  run1_s / run2_s — noop-sink executions (bench methodology)
  jobs, stages, tasks — scheduler work during run2 (warm)
  task_time_s — summed executor run time across run2 stages
  py_time_s  — summed JVM->Python (executorRunTime of stages with Python
               eval, approximate)
  run1/run2 compiles, compile ms — generated classes Spark compiled during
              build+plan+run1 and during build2+run2, and their compile
              time (CodegenMetrics count, CodeGenerator.compileTime); a
              warm run2 should compile nothing, so run2 compiles > 0 shows
              a codegen cache miss
plus a per-stage table for run2 (stage name @ callsite, tasks, runtime).

Usage: PYTHONPATH=. python scripts/profile_queries.py annotate_vep cluster_chunked ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_bio_functions_spark.session import get_or_create_session

import __spark_entry__ as entrymod

EVDIR = "/tmp/spark-events-profile"


def _read_events(app_dir: str) -> list[dict]:
    import glob

    files = [app_dir]
    if os.path.isdir(app_dir):
        files = sorted(glob.glob(os.path.join(app_dir, "events_*")))
    evs = []
    for p in files:
        with open(p) as f:
            for line in f:
                try:
                    evs.append(json.loads(line))
                except Exception:
                    pass
    return evs


def _codegen(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(EVDIR, exist_ok=True)
    # The event log is launch conf, so the session is exactly the one
    # get_or_create_session() builds for bench.py (no conf of our own).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{EVDIR} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    spark = get_or_create_session(app_name="bio-profile")
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    # warm up exactly like bench.py
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda v: v, "long")
    spark.range(32).repartition(32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    qs = entrymod.queries()
    results = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        sc = spark.sparkContext
        sc.setJobDescription(f"profile:{name}")

        cg0 = _codegen(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0

        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t_plan = time.perf_counter() - t0

        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        run1 = time.perf_counter() - t0
        cg1 = _codegen(spark)

        # mark run2 window via job group
        sc.setJobGroup(f"run2-{name}", f"profile-run2:{name}")
        t0 = time.perf_counter()
        df2 = qs[name](spark, sf_dir)
        t_build2 = time.perf_counter() - t0
        t0 = time.perf_counter()
        df2.write.mode("overwrite").format("noop").save()
        run2 = time.perf_counter() - t0
        cg2 = _codegen(spark)
        sc.setJobGroup("idle", "idle")
        results[name] = dict(
            build_s=round(t_build, 3),
            plan_s=round(t_plan, 3),
            run1_s=round(run1, 3),
            build2_s=round(t_build2, 3),
            run2_s=round(run2, 3),
            run1_compiles=cg1[0] - cg0[0],
            run1_compile_ms=round(cg1[1] - cg0[1], 1),
            run2_compiles=cg2[0] - cg1[0],
            run2_compile_ms=round(cg2[1] - cg1[1], 1),
        )
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # flush the event log
    spark.stop()
    time.sleep(1.0)

    # parse: map jobs to groups, stages to jobs
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [p for p in os.listdir(EVDIR) if app_id in p]
        if cands:
            path = os.path.join(EVDIR, cands[0])
    evs = _read_events(path)
    job_group = {}
    job_stages = {}
    stage_info = {}
    for e in evs:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id", "")
            job_stages[jid] = [s["Stage ID"] for s in e.get("Stage Infos", [])]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0
            scopes = []
            for ri in si.get("RDD Info", []):
                sc = ri.get("Scope")
                if sc:
                    try:
                        nm = json.loads(sc).get("name", "")
                        if nm and nm not in scopes:
                            scopes.append(nm)
                    except Exception:
                        pass
            stage_info[sid] = dict(
                name=si.get("Stage Name", "")[:90],
                tasks=si.get("Number of Tasks", 0),
                wall_s=round(dur, 3),
                sub=si.get("Submission Time", 0),
                scopes=",".join(scopes[:6])[:110],
            )
    # task metrics per stage
    stage_task = {}
    for e in evs:
        if e.get("Event") == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            tm = e.get("Task Metrics") or {}
            d = stage_task.setdefault(
                sid, dict(run=0.0, gc=0.0, ser=0.0, fetch=0.0, py_total=0)
            )
            d["run"] += tm.get("Executor Run Time", 0) / 1000.0
            d["gc"] += tm.get("JVM GC Time", 0) / 1000.0
            srm = tm.get("Shuffle Read Metrics") or {}
            d["fetch"] += srm.get("Fetch Wait Time", 0) / 1000.0

    for name in names:
        if name not in results:
            continue
        r = results[name]
        print(f"\n=== {name}: build={r['build_s']} plan={r['plan_s']} "
              f"run1={r['run1_s']} build2={r['build2_s']} run2={r['run2_s']}")
        print(f"    compiles: run1 {r['run1_compiles']} ({r['run1_compile_ms']} ms), "
              f"run2 {r['run2_compiles']} ({r['run2_compile_ms']} ms)")
        jids = [j for j, g in job_group.items() if g == f"run2-{name}"]
        sids = sorted({s for j in jids for s in job_stages.get(j, [])})
        done = [s for s in sids if s in stage_info]
        print(f"    run2: {len(jids)} jobs, {len(sids)} stages ({len(done)} executed)")
        t0 = min((stage_info[s]["sub"] for s in done), default=0)
        for s in done:
            si = stage_info[s]
            tt = stage_task.get(s, {})
            print(
                f"    stage {s:>4} t+{(si['sub'] - t0) / 1000.0:>6.3f} tasks={si['tasks']:>3}"
                f" wall={si['wall_s']:>7.3f}"
                f" taskrun={tt.get('run', 0):>8.2f} gc={tt.get('gc', 0):>5.2f}"
                f" fetchwait={tt.get('fetch', 0):>5.2f}  {si['scopes'] or si['name']}"
            )
    print("\nJSON:", json.dumps(results))


if __name__ == "__main__":
    main()
