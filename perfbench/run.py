#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one run.

Usage (from anywhere; the program is the checkout this file sits in)::

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 20 --trace 0

A run generates the workload's inputs from the seed, starts the program's
Spark session in a fresh process, runs whole passes of the workload in it
for ``--seconds``, checks
every output against a result computed apart from the program, and prints
one JSON object as its last line of standard output. With ``--trace 0`` it
carries the end-to-end metrics, with ``--trace 1`` the per-layer ones from
a traced session.

Everything a run writes stays under ``.perfbench_work/`` in the checkout;
the run's temp space (Spark local dirs, the JVM and Python temp dirs, the
``mr`` outputs) is removed when the run ends.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import layers
import oracle
import workloads

WORK_DIR = ".perfbench_work"
# Spark's driver heap ceiling. The program defaults to 8g, which the inputs
# here (a few MB) never need; at 8g the peak RSS of a 15 s run tracked how
# far G1 happened to grow the heap (2.6-4.6 GB on llm_batch), and the host
# is shared. At 1g llm_batch peaks at 1.2 GB within 5%.
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "steady_pass_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; pass-level ones are medians over steady passes
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "catalog.load_table_s": "s",
    "catalog.input_mb": "MB",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.sort_s": "s",
    "exec.agg_build_s": "s",
    "exec.shuffle_write_time_s": "s",
    "exec.fetch_wait_s": "s",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_init_s": "s",
    "operators.python_sent_mb": "MB",
    "operators.python_returned_mb": "MB",
    "mr.wordcount.submit_s": "s",
    "mr.sort.submit_s": "s",
    "mr.stages_per_job": "count",
    "mr.input_shuffle_mb": "MB",
    "mr.map_task_s": "s",
    "mr.reduce_task_s": "s",
    "mr.output_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "scope.persisted_rdds": "count",
    "scope.tmp_dirs": "count",
    "scope.active_streams": "count",
    "scope.temp_views": "count",
    "host.probe_s": "s",
    "host.probe_after_s": "s",
    "host.steal_s": "s",
    "trace.steady_pass_s": "s",
}


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_inputs(root: str, workload: str, seed: int) -> str:
    """Generate (once per checkout) the inputs of ``workload`` for ``seed``."""
    path = os.path.join(root, WORK_DIR, "inputs", f"{workload}-{seed}")
    if not os.path.isdir(path):
        part = f"{path}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        inputs.make(workload, seed, part)
        os.replace(part, path)
    return path


def steady(walls: list[float]) -> list[float]:
    """Passes taken as warm: all from the third on. The second pass is
    still 10-50% slower than the third (JIT, code generation and Python
    worker caches are still filling); from the third on the passes of a
    run lie within about 10-15% of each other."""
    return walls[2:]


def _kill_group(pgid: int) -> None:
    """Stop any process still left in the worker's process group."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            time.sleep(0.05)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def _session(root: str, cfg: dict, env: dict, log: str) -> tuple[dict, float]:
    """Run one worker process; return its result and its set-up time
    (from process start to a warm session)."""
    with open(log, "w") as fh:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "worker.py"), json.dumps(cfg)],
            env=env,
            cwd=cfg["tmp"],
            stdin=subprocess.DEVNULL,
            stdout=fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            code = None
        _kill_group(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(cfg["result"]):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"session exited with {code}; log tail:\n{tail}")
    with open(cfg["result"]) as fh:
        result = json.load(fh)
    os.remove(cfg["result"])
    return result, result["setup_end"] - t_spawn


def _mr_key(line: str) -> str:
    # the reference keys on the text before the first tab of the mapper's
    # output line, newline included (worker/__main__.py:138)
    return line.split("\t", 1)[0] if "\t" in line else line + "\n"


def check_mr(input_dir: str, out_dir: str) -> dict[str, str | None]:
    """Check each mr job's part files; returns job -> problem or None.

    Word count must equal a Counter under the mapper's tokenizer, the sort
    job's lines the input lines; every line must sit in part
    ``md5(key) % R`` and each part must be sorted (worker/__main__.py:139-149)."""
    lines: list[str] = []
    for f in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, f), encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    counts: collections.Counter = collections.Counter()
    for line in lines:
        counts.update(t for t in re.split(r"[^a-z]+", line.lower()) if t)
    want = {
        "wordcount": sorted(f"{w}\t{n}" for w, n in counts.items()),
        "sort": sorted(lines),
    }
    problems: dict[str, str | None] = {}
    for job, expect in want.items():
        job_dir = os.path.join(out_dir, job)
        if not os.path.isdir(job_dir):
            problems[job] = "no output directory"
            continue
        parts = sorted(p for p in os.listdir(job_dir) if p.startswith("part-"))
        got: list[str] = []
        problem = None
        if len(parts) != inputs.MR_REDUCERS:
            problem = f"{len(parts)} part files, want {inputs.MR_REDUCERS}"
        for i, p in enumerate(parts):
            with open(os.path.join(job_dir, p), encoding="utf-8") as fh:
                part = fh.read().splitlines()
            got.extend(part)
            if part != sorted(part, key=lambda s: s + "\n"):
                problem = problem or f"{p} is not sorted"
            for line in part:
                h = int.from_bytes(hashlib.md5(_mr_key(line).encode()).digest(), "big")
                if h % inputs.MR_REDUCERS != i:
                    problem = problem or f"{line!r} in {p}, not part {h % inputs.MR_REDUCERS}"
                    break
        if problem is None and sorted(got) != expect:
            problem = f"output differs from the independent result ({len(got)} vs {len(expect)} lines)"
        problems[job] = problem
    return problems


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(result: dict, cores: int, steal_s: float) -> dict[str, float]:
    walls = [p["wall"] for p in result["passes"]]
    warm = steady(walls)
    warm_layers = [p["layers"] for p in result["passes"]][len(walls) - len(warm) :]
    values: dict[str, float] = {}
    for name in PER_LAYER:
        if name in result["setup_layers"]:
            values[name] = result["setup_layers"][name]
        else:
            values[name] = _median([lay.get(name, 0.0) for lay in warm_layers])
    values["exec.core_busy"] = _median(
        [lay.get("exec.task_s", 0.0) / (w * cores) for lay, w in zip(warm_layers, warm)]
    )
    values["mr.stages_per_job"] = _median(
        [lay["mr.stages"] / lay["mr.jobs"] for lay in warm_layers if lay.get("mr.jobs")]
    )
    values["host.probe_s"] = result["probe_before_s"]
    values["host.probe_after_s"] = result["probe_after_s"]
    values["host.steal_s"] = steal_s
    values["trace.steady_pass_s"] = _median(warm)
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description="map_reduce_group_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = checkout_root()
    if not os.path.isfile(os.path.join(root, "map_reduce_group_spark", "mr", "job.py")):
        print(f"no map_reduce_group_spark package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR)
    input_dir = prepare_inputs(root, args.workload, args.seed)
    ops = workloads.WORKLOADS[args.workload]
    # temp space left by a run that was killed before it could clean up
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    tmp = os.path.join(work, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    os.makedirs(tmp)
    try:
        cores = len(os.sched_getaffinity(0))
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
            # keep the JVM's temp files (and its perf-data file, which
            # otherwise goes to /tmp) inside the run's temp space
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
            ),
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        )
        out_dir = os.path.join(tmp, "mr-out")
        cfg = {
            "root": root,
            "workload": args.workload,
            "input_dir": input_dir,
            "out_dir": out_dir,
            "tmp": tmp,
            "seconds": args.seconds,
            "trace": args.trace,
            "result": os.path.join(work, f"result-{os.getpid()}.json"),
        }
        log = os.path.join(work, "logs", f"{args.workload}-{args.seed}.log")
        steal0 = layers.host_steal_ticks()
        result, setup_s = _session(root, cfg, env, log)
        steal_s = (layers.host_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

        checks = result["checks"]
        expected = oracle.expected(
            {name: c.pop("oracle") for name, c in checks.items()},
            input_dir,
            os.path.join(work, "oracle-cache"),
            tmp,
        )
        problems: dict[str, str | None] = {}
        for op in ops:
            if isinstance(op, workloads.Query):
                got, want = checks.get(op.name), expected.get(op.name)
                ok = got is not None and got == want
                problems[op.name] = None if ok else f"got {got}, oracle {want}"
        if any(isinstance(op, workloads.MrJob) for op in ops):
            problems.update(check_mr(input_dir, out_dir))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # a failed check fails every execution of its operation
    runs = {op.name: len(result["passes"]) for op in ops}
    failed = sum(
        runs[name] if problems.get(name) else n for name, n in result["failed"].items()
    )
    for name, problem in problems.items():
        if problem is not None:
            print(f"check failed: {name}: {problem}", file=sys.stderr)
    for failure in result["failures"]:
        print(failure, file=sys.stderr)
    walls = [p["wall"] for p in result["passes"]]
    print(
        f"{args.workload} seed={args.seed}: setup={setup_s:.3f} "
        f"passes={[round(w, 3) for w in walls]} "
        f"ops={[{k: round(v, 2) for k, v in p['ops'].items()} for p in result['passes']]} "
        f"rss_mb={[round(p['rss_mb']) for p in result['passes']]}",
        file=sys.stderr,
    )
    if args.trace:
        values = layer_metrics(result, cores, steal_s)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "first_pass_s": walls[0],
            "steady_pass_s": _median(steady(walls)),
            "peak_rss_mb": result["passes"][-1]["rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": all(p is None for p in problems.values()),
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
