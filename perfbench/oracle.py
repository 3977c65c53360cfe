"""DuckDB oracle results for the benchmark's registered queries, cached.

Each query's registered oracle SQL runs in DuckDB over the same parquet
files the program reads; the canonical digest of the result is what the
program's output must equal. Some oracles are slow (the similarity-join
ones grow quadratically), so each digest is cached under
``.perfbench_work/oracle-cache/``, keyed on the SHA-256 of the oracle text
and of every input file. A changed input or oracle misses the cache.

Recompute every cached digest of a workload and seed anew with::

    python3 perfbench/oracle.py --workload llm_batch --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import canon


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _compute(sql: str, input_dir: str, tmp: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(input_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return canon.digest(con.execute(sql).fetchdf())
    finally:
        con.close()


def expected(
    sqls: dict[str, str], input_dir: str, cache_dir: str, tmp: str, rebuild: bool = False
) -> dict:
    """Digest of each query's oracle result (name -> oracle SQL) over
    ``input_dir``."""
    files = "".join(
        f"{f}:{_file_sha(os.path.join(input_dir, f))};"
        for f in sorted(os.listdir(input_dir))
        if f.endswith(".parquet")
    )
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for name in sqls:
        key = hashlib.sha256((sqls[name] + "\0" + files).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path) and not rebuild:
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        out[name] = _compute(sqls[name], input_dir, tmp)
        with open(path + ".part", "w") as fh:
            json.dump(out[name], fh)
        os.replace(path + ".part", path)
    return out


def main() -> None:
    import run
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    root = run.checkout_root()
    sys.path.insert(0, root)
    from map_reduce_group_spark.plans import oracles

    input_dir = run.prepare_inputs(root, args.workload, args.seed)
    sqls = {
        op.name: oracles()[op.name]
        for op in workloads.WORKLOADS[args.workload]
        if isinstance(op, workloads.Query)
    }
    work = os.path.join(root, run.WORK_DIR)
    got = expected(sqls, input_dir, os.path.join(work, "oracle-cache"), work, rebuild=True)
    print(json.dumps(got, indent=1))


if __name__ == "__main__":
    main()
