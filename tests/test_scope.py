"""Per-query resource lifetime (map_reduce_group_spark/scope.py): confs a
query scopes are restored even when it fails, and nothing it writes to disk
outlives the process."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

import map_reduce_group_spark

REPO = Path(__file__).resolve().parent.parent


def test_incremental_minhash_restores_confs_on_error(spark, tmp_path):
    """The shuffle-width and AQE confs are scoped to the call: an increment
    that fails while planning (here a missing text column) must leave the
    session as it found it."""
    from pyspark.errors import AnalysisException

    from map_reduce_group_spark.operators.dedup import incremental_minhash_lsh

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = [spark.conf.get(k) for k in keys]
    assert before != ["5", "false"]
    batch = spark.createDataFrame([(1, "a b c d")], "doc_id long, body string")
    with pytest.raises(AnalysisException):
        incremental_minhash_lsh(
            batch, str(tmp_path / "state"), "doc_id", "text", shuffle_partitions=5
        )
    assert [spark.conf.get(k) for k in keys] == before


_BUILD_TWICE = """
import sys

from map_reduce_group_spark.plans import REGISTRY
from map_reduce_group_spark.session import get_session
from tests.helpers import assert_matches_oracle

sf_dir = sys.argv[1]
spark = get_session("scope-build-twice")
for name in ("dedup_incremental_exact", "dedup_incremental_minhash"):
    spec = REGISTRY[name]
    first = spec.builder(spark, sf_dir)
    second = spec.builder(spark, sf_dir)  # removes the first call's state
    assert_matches_oracle(first, spec.oracle, sf_dir, name=name)
    assert_matches_oracle(second, spec.oracle, sf_dir, name=name)
"""


def test_incremental_dedup_built_twice_is_correct_and_leaves_no_dirs(
    sf_dir, tmp_path
):
    """Each build gets fresh state and the next build deletes it, so the
    first frame, collected after the second build, must still match the
    oracle; and once the process exits no ``mrg_*`` dir is left in its
    temp dir."""
    env = {
        **os.environ,
        "TMPDIR": str(tmp_path),
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    subprocess.run(
        [sys.executable, "-c", _BUILD_TWICE, sf_dir],
        cwd=REPO,
        env=env,
        check=True,
        timeout=600,
    )
    assert not [p for p in os.listdir(tmp_path) if p.startswith("mrg_")]


_WORKSPACE = """
import os
import signal
import sys

from map_reduce_group_spark.scope import workspace

root = workspace()
if sys.argv[1] == "kill":
    os.kill(os.getpid(), signal.SIGKILL)
if sys.argv[1] == "hold":
    print(root, flush=True)
    sys.stdin.read()
"""


def test_workspace_of_a_killed_process_is_removed_by_the_next(tmp_path):
    """A SIGKILLed process runs no exit hook, so its root stays behind; the
    next process to make a workspace removes it, and leaves the root of a
    process that is still running."""

    def run(mode: str, **kw):
        return subprocess.Popen(
            [sys.executable, "-c", _WORKSPACE, mode],
            cwd=REPO,
            env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(REPO)},
            **kw,
        )

    def roots() -> list[str]:
        return sorted(p for p in os.listdir(tmp_path) if p.startswith("mrg_"))

    holder = run("hold", stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        held = os.path.basename(holder.stdout.readline().strip())
        assert run("kill").wait(timeout=120) == -9
        assert len(roots()) == 2
        assert run("exit").wait(timeout=120) == 0
        assert roots() == [held]
    finally:
        holder.communicate(timeout=120)
    assert holder.returncode == 0
    assert roots() == []


def test_scope_is_the_only_owner_of_temp_dirs():
    """Every directory the package creates lives under scope.workspace(),
    which one exit hook removes: no other module makes temp dirs or
    registers exit hooks of its own."""
    pkg = Path(map_reduce_group_spark.__file__).parent
    offenders = [
        f"{p.relative_to(pkg)}: {word}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "scope.py"
        for word in ("mkdtemp", "atexit")
        if word in p.read_text(encoding="utf-8")
    ]
    assert not offenders, offenders
