#!/usr/bin/env python3
"""Per-query empirical profiler (optimization guide §1): run named registered
queries exactly as bench.py does (same session factory, noop sink, cleared
cache between queries) but with the Spark UI enabled, and attribute wall time
from the REST API: build wall (Python plan construction + any eager actions
inside the builder) vs execute wall (the noop write), job/stage counts, task
time, shuffle read/write bytes, input bytes, and the slowest stages.

Usage: python tools/profile_query.py name [name ...] [--sf DIR] [--explain]
       --explain additionally writes plans/r10/<name>_<tag>.txt
       [--tag before|after]  (default: before)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

args, sf, explain, tag = [], "/root/testdata/sf0.1", False, "before"
_argv = sys.argv[1:]
i = 0
while i < len(_argv):
    if _argv[i] == "--sf":
        sf = _argv[i + 1]
        i += 2
    elif _argv[i] == "--explain":
        explain = True
        i += 1
    elif _argv[i] == "--tag":
        tag = _argv[i + 1]
        i += 2
    else:
        args.append(_argv[i])
        i += 1

from map_reduce_group_spark import session as sess_mod


def get_session_ui(app_name="mrg-profile"):
    """bench's session (same confs and Python worker daemon), UI on for
    REST metrics."""
    spark = (
        sess_mod.session_builder(app_name)
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .getOrCreate()
    )
    sess_mod.apply_runtime_confs(spark)
    return spark


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4050/api/v1{path}", timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    from map_reduce_group_spark.plans import queries

    spark = get_session_ui()
    qs = queries()
    app_id = spark.sparkContext.applicationId

    # warm like bench.py: JVM + python worker pool + every fixture table
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    from map_reduce_group_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf, t).write.format("noop").mode("overwrite").save()

    for name in args:
        jobs_before = {j["jobId"] for j in rest(f"/applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = qs[name](spark, sf)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        spark.sparkContext.setJobDescription(None)

        jobs = [
            j
            for j in rest(f"/applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = [
            s
            for s in rest(f"/applications/{app_id}/stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        tot = lambda k: sum(s.get(k, 0) for s in stages)
        print(f"\n=== {name}  build={t_build:.2f}s exec={t_exec:.2f}s "
              f"total={t_build + t_exec:.2f}s")
        print(f"  jobs={len(jobs)} stages={len(stages)} tasks={tot('numCompleteTasks')}"
              f" taskTime={tot('executorRunTime')/1000:.1f}s"
              f" cpuTime={tot('executorCpuTime')/1e9:.1f}s"
              f" gc={tot('jvmGcTime')/1000:.1f}s")
        print(f"  input={tot('inputBytes')/1e6:.1f}MB shufW={tot('shuffleWriteBytes')/1e6:.1f}MB"
              f" shufR={tot('shuffleReadBytes')/1e6:.1f}MB"
              f" spill={tot('diskBytesSpilled')/1e6:.1f}MB"
              f" pyTot~{(tot('executorRunTime')-tot('executorCpuTime')/1e6)/1000:.1f}s")
        slow = sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[:8]
        for s in slow:
            det = (s.get("details") or "").split("\n")
            det = next((l for l in det if "map_reduce_group_spark" in l), det[0] if det else "")
            nm = (s.get("name", "").split(" at ")[0] + " | " + det.strip())[:110]
            print(f"    stage {s['stageId']:>4} {s.get('executorRunTime',0)/1000:7.2f}s "
                  f"tasks={s.get('numCompleteTasks',0):<4} "
                  f"shufR={s.get('shuffleReadBytes',0)/1e6:8.2f}MB "
                  f"shufW={s.get('shuffleWriteBytes',0)/1e6:8.2f}MB  {nm}")
        # per-operator attribution: SQL node metrics of every execution this
        # query triggered (eager builder actions + the noop write)
        try:
            execs = rest(f"/applications/{app_id}/sql?details=true&length=200")
            mine = [e for e in execs if f"profile:{name}" in (e.get("description") or "")]
            for e in mine[-3:]:
                print(f"  SQL exec {e['id']} ({e.get('duration', 0)/1000:.2f}s):")
                nodes = []
                for nd in e.get("nodes", []):
                    mv = {m["name"]: m["value"] for m in nd.get("metrics", [])}
                    t = 0.0
                    for k, v in mv.items():
                        if k.startswith(("duration", "time to", "time in", "task total time", "sort time", "aggregate time", "scan time", "total time")) or " time total" in k:
                            # values like "1.2 s (0.1 s, ...)" — take the leading total
                            head = v.split("(")[0].strip().replace(",", "")
                            try:
                                num, unit = head.split()[:2]
                                mult = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 0)
                                t += float(num) * mult
                            except Exception:
                                pass
                    rows = mv.get("number of output rows", "")
                    nodes.append((t, nd["nodeName"], rows))
                for t, nm, rows in sorted(nodes, reverse=True)[:10]:
                    if t > 0.2:
                        print(f"      {t:8.1f}s  {nm[:60]:60s} rows={rows}")
        except Exception as exc:
            print(f"  (sql metrics unavailable: {exc})")
        if explain:
            os.makedirs(os.path.join(REPO, "plans", "r10"), exist_ok=True)
            out = os.path.join(REPO, "plans", "r10", f"{name}_{tag}.txt")
            with open(out, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted")))
            print(f"  plan -> {out}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
