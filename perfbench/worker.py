"""One benchmark session, run as its own process by ``run.py``.

Usage: ``python3 perfbench/worker.py '<json config>'``. The config names the
workload, its input directory, the run length, whether to trace, and where
to write the result. The session starts and warms, runs whole passes of
the workload's operations in a closed loop (one operation at a time) for the
run length, and finally collects each query's result of the last pass for
the oracle check, outside the timed passes.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback
from contextlib import nullcontext

import canon
import layers
import workloads


def _untraced(name: str):
    return nullcontext()


def _warm(spark, workload: str, input_dir: str, span) -> None:
    """Start the Python worker pool and scan the workload's inputs once."""
    from map_reduce_group_spark.catalog import load_table

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 8).repartition(cores).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    if workload == "mr_jobs":
        spark.sparkContext.textFile(input_dir).count()
    for table in workloads.TABLES[workload]:
        with span("catalog.load_table_s"):
            df = load_table(spark, input_dir, table)
        df.write.format("noop").mode("overwrite").save()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory so far of this Python process plus the JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
                return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _scope(spark, probe, tmp: str) -> dict[str, int]:
    """What operations leave behind: persisted RDDs, entries in the
    benchmark's temp space, running streams, session temp views (a memory
    sink registers its table as one)."""
    out = {
        "scope.persisted_rdds": probe.persisted_rdds(),
        "scope.tmp_dirs": len(os.listdir(tmp)),
        "scope.active_streams": len(spark.streams.active),
        "scope.temp_views": len(spark.catalog.listTables()),
    }
    probe.skip()
    return out


def _passes(spark, cfg: dict, span, spans, probe, listener) -> dict:
    """Whole passes over the workload's operations until the run length is
    used up (at least three: the first, cold one and two more). With a
    ``probe`` (traced run), each operation's layer metrics are collected
    after it and summed per pass."""
    ops = workloads.WORKLOADS[cfg["workload"]]
    passes: list[dict] = []
    attempted = 0
    failed = {op.name: 0 for op in ops}
    failures: list[str] = []
    results: dict = {}
    deadline = time.perf_counter() + cfg["seconds"]
    while True:
        pass_layers: dict[str, float] = {}
        op_walls: dict[str, float] = {}
        for op in ops:
            attempted += 1
            before = _scope(spark, probe, cfg["tmp"]) if probe else None
            t_op = time.perf_counter()
            try:
                results[op.name] = op.run(spark, cfg["input_dir"], cfg["out_dir"], span)
            except Exception:
                results[op.name] = None
                failed[op.name] += 1
                failures.append(f"{op.name}: {traceback.format_exc(limit=4)}")
            spark.catalog.clearCache()
            op_walls[op.name] = time.perf_counter() - t_op
            if probe:
                # collection happens between operations, off the pass clock
                got = probe.collect(mr_job=isinstance(op, workloads.MrJob))
                got.update(listener.take())
                got.update(spans.take())
                for k, v in _scope(spark, probe, cfg["tmp"]).items():
                    got[k] = v - before[k]
                for k, v in got.items():
                    pass_layers[k] = pass_layers.get(k, 0.0) + v
        wall = sum(op_walls.values())
        passes.append(
            {"wall": wall, "ops": op_walls, "layers": pass_layers, "rss_mb": _peak_rss_mb(spark)}
        )
        if len(passes) >= 3 and time.perf_counter() + wall > deadline:
            break
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "passes": passes,
        "checks": _checks(results),
    }


def _checks(results: dict) -> dict:
    """Canonical digest of each query's result from the last pass, taken
    off the pass clock (a stream query's result is its memory table; a
    batch query's plan runs once more)."""
    from map_reduce_group_spark.plans import oracles

    sqls = oracles()
    checks = {}
    for name, df in results.items():
        if name not in sqls:
            continue
        check = {"oracle": sqls[name]}
        try:
            check.update(canon.digest(df.toPandas()) if df is not None else {"error": "failed"})
        except Exception:
            check["error"] = traceback.format_exc(limit=4)
        checks[name] = check
    return checks


def main() -> None:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, cfg["root"])
    workload = cfg["workload"]
    tracing = bool(cfg["trace"])
    spans = layers.Spans()
    span = spans.span if tracing else _untraced

    from map_reduce_group_spark.session import get_session

    result: dict = {}
    with span("session.start_s"):
        spark = get_session(f"perfbench-{workload}")
    probe = layers.StatusProbe(spark) if tracing else None
    with span("session.warm_s"):
        _warm(spark, workload, cfg["input_dir"], span)
    result["setup_end"] = time.time()

    listener = None
    if tracing:
        import bench

        setup = probe.collect()
        result["setup_layers"] = spans.take()
        result["setup_layers"]["catalog.input_mb"] = setup.get("scan.files_mb", 0.0)
        result["probe_before_s"] = bench._calibration_probe(spark)["total"]
        probe.collect()
        listener = layers.StreamListener(spark)
    result.update(_passes(spark, cfg, span, spans, probe, listener))
    if tracing:
        listener.close()
        result["probe_after_s"] = bench._calibration_probe(spark)["total"]
    _stop(spark)
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
