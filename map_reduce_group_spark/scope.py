"""The one owner of what queries set or create outside their DataFrames:
scoped Spark confs, and the workspace root every query directory lives
under. Like the reference's one shared temp dir per job (SURVEY.md,
reference manager/__main__.py:353-363), the root is made on first use and
removed at interpreter exit, so nothing a query writes to disk outlives
the process; a root left by a signal-killed process is removed by the
next process that makes one.
"""

from __future__ import annotations

import atexit
import contextlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import SparkSession

_PREFIX = "mrg_workspace_"
_root: str | None = None
_sources: dict[tuple[str, str], str] = {}
_calls = itertools.count()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, object]) -> Iterator[None]:
    """Set ``confs`` inside the ``with``; on exit or error restore each
    key's prior value, or unset a key that had none, so later queries in
    the same (possibly externally owned) session see its own settings."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _remove_dead_roots(tmp: str) -> None:
    """Remove the roots of processes that died without running their exit
    hook (an ``atexit`` hook does not run on a signal). A root's name
    carries its owner's pid; the root of a live process is never touched."""
    for name in os.listdir(tmp):
        pid, sep, _ = name.removeprefix(_PREFIX).partition("_")
        if not (name.startswith(_PREFIX) and sep and pid.isdigit()):
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        except OSError:  # alive, owned by another user
            pass


def workspace() -> str:
    """The process-wide workspace root, removed at interpreter exit, or by
    the first later process to use one if this one is killed."""
    global _root
    if _root is None:
        tmp = tempfile.gettempdir()
        _remove_dead_roots(tmp)
        _root = tempfile.mkdtemp(prefix=f"{_PREFIX}{os.getpid()}_", dir=tmp)
        atexit.register(shutil.rmtree, _root, True)
    return _root


def source_dir(name: str, sf_dir: str, fill: Callable[[str], None]) -> str:
    """The directory ``fill`` wrote once for ``(name, sf_dir)``, reused by
    every later call: its contents must be a pure function of ``sf_dir``.
    A fill that raises is removed and not cached."""
    if (name, sf_dir) not in _sources:
        d = os.path.join(workspace(), f"{name}_src{len(_sources)}")
        os.makedirs(d)
        try:
            fill(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        _sources[name, sf_dir] = d
    return _sources[name, sf_dir]


def fresh_dir(query: str) -> str:
    """A new empty directory for this call of ``query``. The directories of
    its earlier calls are removed first, so a query must materialize any
    result it reads from them before it returns."""
    runs = os.path.join(workspace(), query)
    shutil.rmtree(runs, ignore_errors=True)
    d = os.path.join(runs, str(next(_calls)))
    os.makedirs(d)
    return d
