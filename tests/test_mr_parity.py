"""Reference-parity E2E tests for the MR job API (SURVEY §5.1 test style:
end-to-end word-count job over a text corpus, golden output check), plus
the partition/sort invariants of SURVEY §1.4."""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter

import pytest

from map_reduce_group_spark.mr import Job, submit

pytestmark = pytest.mark.quick
from map_reduce_group_spark.mr.job import pipe_table

EXEC_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_group_spark",
    "mr",
    "exec",
)
WORDS = ["hello", "world", "spark", "graft", "map", "reduce", "shuffle"]


@pytest.fixture()
def corpus(tmp_path):
    inp = tmp_path / "input"
    inp.mkdir()
    golden: Counter = Counter()
    for f in range(4):
        lines = []
        for i in range(100):
            a, b = WORDS[(i * 7 + f) % 7], WORDS[(i * 3 + f) % 7]
            lines.append(f"{a} {b}")
            golden[a] += 1
            golden[b] += 1
        (inp / f"file{f}.txt").write_text("\n".join(lines) + "\n")
    return str(inp), str(tmp_path / "output"), golden


def _read_output(out_dir: str) -> dict[str, int]:
    got: dict[str, int] = {}
    for pf in sorted(os.listdir(out_dir)):
        if pf.startswith("part-"):
            for line in open(os.path.join(out_dir, pf)):
                w, n = line.rstrip("\n").split("\t")
                got[w] = int(n)
    return got


def test_wordcount_job_golden(spark, corpus):
    inp, out, golden = corpus
    job = Job(inp, out, f"{EXEC_DIR}/wc_map.py", f"{EXEC_DIR}/wc_reduce.py", 2, 2)
    submit(spark, job)
    assert _read_output(out) == dict(golden)


def test_partition_and_sort_invariants(spark, corpus):
    """The reference's observable semantics (SURVEY §1.4): every key routed
    by md5 % R, lines sorted within each part file."""
    inp, out, _ = corpus
    r = 3
    job = Job(inp, out, f"{EXEC_DIR}/wc_map.py", f"{EXEC_DIR}/wc_reduce.py", 2, r)
    submit(spark, job)
    part_files = [f for f in sorted(os.listdir(out)) if f.startswith("part-")]
    assert len(part_files) == r
    for pf in part_files:
        lines = open(os.path.join(out, pf)).read().splitlines()
        assert lines == sorted(lines), f"{pf} not sorted"
        pid = int(pf.split("-")[1])
        for line in lines:
            key = line.split("\t", 1)[0]
            assert int(hashlib.md5(key.encode()).hexdigest(), 16) % r == pid


def test_overwrite_semantics(spark, corpus):
    inp, out, golden = corpus
    job = Job(inp, out, f"{EXEC_DIR}/wc_map.py", f"{EXEC_DIR}/wc_reduce.py", 2, 2)
    submit(spark, job)
    submit(spark, job)  # rerun must overwrite, not fail or append
    assert _read_output(out) == dict(golden)


def test_pipe_table_roundtrip(spark, sf_dir):
    """DataFrame-level executable escape hatch: pipe rows through `cat`."""
    from map_reduce_group_spark.catalog import load_table

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    back = pipe_table(nation, "cat", "n_nationkey string, n_name string")
    got = sorted((int(r[0]), r[1]) for r in back.collect())
    want = sorted((r[0], r[1]) for r in nation.collect())
    assert got == want


def test_pipe_table_null_and_tab_roundtrip(spark):
    """The pipe wire format is lossless: NULL round-trips distinctly from
    the empty string, and embedded tabs/newlines/backslashes cannot shift
    fields (Hive TextFile-style \\N + escaping)."""
    rows = [("1", None), ("2", ""), ("3", "has\ttab"), ("4", "has\nnewline"), ("5", "back\\slash")]
    df = spark.createDataFrame(rows, "id string, v string")
    back = pipe_table(df, "cat", "id string, v string")
    got = sorted((int(r[0]), r[1]) for r in back.collect())
    assert got == [(1, None), (2, ""), (3, "has\ttab"), (4, "has\nnewline"), (5, "back\\slash")]


def test_filter_job_arbitrary_executables(spark, corpus):
    """A second executable pair (grep-style filter mapper + identity
    reducer): the job API is generic over programs, not just word count."""
    inp, out, _ = corpus
    job = Job(inp, out, f"{EXEC_DIR}/filter_map.py", f"{EXEC_DIR}/identity_reduce.py", 2, 2)
    submit(spark, job)
    lines = []
    for pf in sorted(os.listdir(out)):
        if pf.startswith("part-"):
            lines += open(os.path.join(out, pf)).read().splitlines()
    n_spark_lines = sum(
        1
        for f in os.listdir(inp)
        for line in open(os.path.join(inp, f))
        if "spark" in line
    )
    assert len(lines) == n_spark_lines > 0
    assert all("spark" in line for line in lines)


def test_cli_submission(corpus, tmp_path):
    """The reference's CLI surface: python -m map_reduce_group_spark.mr."""
    import subprocess
    import sys

    inp, out, golden = corpus
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable, "-m", "map_reduce_group_spark.mr",
            "--input", inp, "--output", out,
            "--nmappers", "2", "--nreducers", "2",
        ],
        cwd=repo,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert _read_output(out) == dict(golden)


def test_executable_sees_environment(spark):
    """Executable-contract parity: the reference spawns executables with an
    inherited environment (worker/__main__.py:128-133, no env= override) —
    rdd.pipe does the same, plus supports per-job injection via env=.
    A mapper that keys on $MRG_TAG must see the injected value."""
    rdd = spark.sparkContext.parallelize(["a", "b", "c"], 2)
    out = rdd.pipe(f"{EXEC_DIR}/env_map.py", env={"MRG_TAG": "tag-42"}).collect()
    assert out == ["tag-42\t1"] * 3


def test_executable_sees_cwd(spark):
    """Executable-contract parity: executables inherit the hosting process's
    working directory (reference Popen without cwd=), so relative sidecar
    paths resolve. The sidecar is written to the executor JVM's cwd (= the
    launch directory in local mode)."""
    sidecar = ".mrg_cwd_sidecar"
    with open(sidecar, "w") as fh:
        fh.write("cwd-probe\n")
    try:
        rdd = spark.sparkContext.parallelize(["x", "y"], 2)
        out = rdd.pipe(f"{EXEC_DIR}/cwd_map.py").collect()
        assert out == ["cwd-probe\t1"] * 2
    finally:
        os.remove(sidecar)


def test_non_utf8_input_is_safe(spark, tmp_path):
    """Non-UTF8 bytes in input files: the engine must not crash and must
    route/sort deterministically. DOCUMENTED DEVIATION from the reference:
    Spark's textFile decodes invalid UTF-8 to U+FFFD replacement chars
    (Hadoop Text semantics), whereas the reference's text-mode open() would
    raise UnicodeDecodeError — we are strictly safer. Valid non-ASCII UTF-8
    (é, 中) must round-trip exactly."""
    from map_reduce_group_spark.mr.job import run_job

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f0.txt").write_bytes("café café\n中文\n".encode() + b"bad \xff\xfe bytes\n")
    job = Job(str(inp), str(tmp_path / "out"), "cat", f"{EXEC_DIR}/identity_reduce.py", 1, 1)
    got = sorted(run_job(spark, job).collect())
    assert "café café" in got
    assert "中文" in got
    bad = [line for line in got if line.startswith("bad ")]
    assert len(bad) == 1 and "�" in bad[0]  # replaced, not crashed


def test_tabless_line_newline_parity(spark):
    """Routing/sort parity for tab-LESS mapper output: the reference hashes
    line.split('\\t')[0] with the trailing '\\n' retained and sorts raw
    lines with '\\n' attached ('\\t' < '\\n' < ' '). Verify both against a
    byte-level emulation of the reference worker."""
    import hashlib as hl

    lines = ["ab", "ab\tz", "ab c", "aa", "b"]
    r = 2

    def ref_partition(line_with_nl: str) -> int:
        key = line_with_nl.split("\t")[0]
        return int(hl.md5(key.encode()).hexdigest(), 16) % r

    from map_reduce_group_spark.mr.job import run_lines

    job = Job("<inline>", "<inline>", "cat", f"{EXEC_DIR}/identity_reduce.py", 2, r)
    rdd = spark.sparkContext.parallelize(lines, 2)
    parts = run_lines(spark, rdd, job).glom().collect()
    assert len(parts) == r
    for pid, part in enumerate(parts):
        # every line landed on the reference's partition
        for line in part:
            assert ref_partition(line + "\n") == pid, (line, pid)
        # and the part is in the reference's sort order (bytes incl. '\n':
        # 'ab\tz' < 'ab' < 'ab c' whenever they share a partition)
        assert [w[:-1] for w in sorted(x + "\n" for x in part)] == part


# ------------------------- hypothesis fuzz of the pure parity kernels ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=0, max_size=64), st.integers(min_value=1, max_value=64))
def test_md5_routing_matches_reference_emulation(key, r):
    """Fuzz the partition function against an independent byte-level
    emulation of the reference worker (md5 of UTF-8 key, hex → int % R)."""
    import hashlib as hl

    from map_reduce_group_spark.mr.job import _md5_mod

    want = int.from_bytes(hl.md5(key.encode("utf-8")).digest(), "big") % r
    assert _md5_mod(key, r) == want


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=32)), min_size=1, max_size=6
    )
)
def test_pipe_wire_format_roundtrip_fuzz(fields):
    """Any row of arbitrary text fields (embedded tabs, newlines,
    backslashes, the literal NULL sentinel, empty strings) and NULLs must
    round-trip the pipe wire format losslessly with no field shifting."""
    from map_reduce_group_spark.mr.job import _pipe_decode, _pipe_encode

    line = "\t".join(_pipe_encode(v) for v in fields)
    assert "\n" not in line  # a row can never span lines
    back = [_pipe_decode(f) for f in line.split("\t")]
    assert back == [None if v is None else str(v) for v in fields]


def test_external_sort_spill_parity():
    """_external_sorted must produce byte-identical output whether it stays
    in memory or spills runs to disk (VERDICT r3 #5: the r3 in-memory
    sorted() OOMed where the reference's GNU sort spilled; the spill path
    is the reference's own sort-runs + heapq.merge shape)."""
    import random

    from map_reduce_group_spark.mr.job import _external_sorted

    rng = random.Random(42)
    words = ["apple", "béta", "zed", "a\tb", " x"]
    lines = [
        "{}\t{}\n".format(rng.choice(words), rng.randrange(10**6)) for _ in range(5000)
    ]
    in_memory = list(_external_sorted(iter(lines), spill_bytes=1 << 30))
    spilled = list(_external_sorted(iter(lines), spill_bytes=4096))  # many runs
    assert in_memory == sorted(lines)
    assert spilled == in_memory


def test_wordcount_job_golden_under_forced_spill(spark, corpus, monkeypatch):
    """End-to-end job parity with the spill threshold forced to ~one line:
    every reduce partition takes the external-merge path and the part files
    must still match the golden counts (reduce partition > memory budget —
    the regression VERDICT r3 #5 asks to pin)."""
    import map_reduce_group_spark.mr.job as mrjob

    monkeypatch.setattr(mrjob, "_SORT_SPILL_BYTES", 64)
    inp, out, golden = corpus
    job = Job(inp, out, f"{EXEC_DIR}/wc_map.py", f"{EXEC_DIR}/wc_reduce.py", 2, 4)
    submit(spark, job)
    assert _read_output(out) == dict(golden)


# ------------------------- map-task membership and the two-stage plan ----


def _numbered_corpus(root, n_files: int) -> tuple[str, Counter]:
    """``n_files`` small files whose every line starts with its file's
    name, plus the word-count golden of the whole corpus."""
    inp = root / "input"
    inp.mkdir()
    golden: Counter = Counter()
    for f in range(n_files):
        name = f"file{f:02d}"
        lines = [f"{name} {WORDS[(i + f) % 7]}" for i in range(50)]
        # wc_map.py's tokens: lowercase runs of letters
        golden.update(w for line in lines for w in re.findall("[a-z]+", line.lower()))
        (inp / f"{name}.txt").write_text("\n".join(lines) + "\n")
    return str(inp), golden


@pytest.mark.parametrize("n_files,m", [(12, 4), (7, 3)])
def test_map_task_membership_matches_reference(spark, tmp_path, n_files, m):
    """Map-task parity: the reference deals its sorted input files
    round-robin, file i to map task i % M (manager/__main__.py:371-390).
    Each map task is one mapper process, so lines from files i and j must
    carry the same process tag exactly when i % M == j % M."""
    from map_reduce_group_spark.mr.job import run_job

    inp, _ = _numbered_corpus(tmp_path, n_files)
    job = Job(inp, "<unused>", f"{EXEC_DIR}/pid_map.py", f"{EXEC_DIR}/identity_reduce.py", m, 2)
    tags: dict[int, set[str]] = {}
    for line in run_job(spark, job).collect():
        tag, text = line.split("\t", 1)
        tags.setdefault(int(text.split()[0][len("file"):]), set()).add(tag)
    assert sorted(tags) == list(range(n_files))
    assert all(len(t) == 1 for t in tags.values())  # a file is never split across tasks
    for i in range(n_files):
        for j in range(n_files):
            assert (tags[i] == tags[j]) == (i % m == j % m), (i, j)


@pytest.mark.parametrize("n_files", [12, 1])
def test_job_shuffles_only_mapper_output(spark, tmp_path, n_files):
    """The reference's two stages, map with partition then sort, merge and
    reduce: the md5 partitionBy is the job's only shuffle, and the input
    reaches the M map tasks by narrow dependencies, whether there are more
    files than M (round-robin groups) or fewer (one file split M ways)."""
    from map_reduce_group_spark.mr.job import run_job

    inp, golden = _numbered_corpus(tmp_path, n_files)
    out = str(tmp_path / "output")
    job = Job(inp, out, f"{EXEC_DIR}/wc_map.py", f"{EXEC_DIR}/wc_reduce.py", 4, 4)
    lineage = run_job(spark, job).toDebugString().decode()
    assert lineage.count("ShuffledRDD") == 1, lineage
    tagger = Job(inp, "<unused>", f"{EXEC_DIR}/pid_map.py", f"{EXEC_DIR}/identity_reduce.py", 4, 4)
    map_tasks = {line.split("\t", 1)[0] for line in run_job(spark, tagger).collect()}
    assert len(map_tasks) == 4
    submit(spark, job)
    assert _read_output(out) == dict(golden)


def test_input_file_names_with_path_syntax(spark, tmp_path):
    """File names that textFile reads as path syntax (a comma separates
    paths; brackets, braces and '*' glob) must still be read once each,
    with no input shuffle, as the reference reads any file name."""
    from map_reduce_group_spark.mr.job import run_job

    inp = tmp_path / "input"
    inp.mkdir()
    names = ["a,b.txt", "c[1].txt", "d{x}.txt", "e*.txt", "f.txt"]
    for name in names:
        (inp / name).write_text(f"{name}\n")
    job = Job(str(inp), "<unused>", "cat", f"{EXEC_DIR}/identity_reduce.py", 2, 2)
    rdd = run_job(spark, job)
    assert rdd.toDebugString().decode().count("ShuffledRDD") == 1
    assert sorted(rdd.collect()) == sorted(names)
