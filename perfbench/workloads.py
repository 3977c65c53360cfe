"""The three workloads: the operations each pass runs, in order.

An operation is one registered query (built, then written to the ``noop``
sink) or one ``mr.submit``. A pass runs a workload's operation list once.

The lists are cut to what one pass of a few seconds can hold: on a 4-vCPU
host every registered query costs 0.5-4 s of fixed Spark work however small
its input, so the full ``dedup_*``/``embed_*`` family (27 queries) takes
about a minute a pass and the ``stream_*`` family about 40 s. Each list keeps
one operation per mechanism the workload is there to exercise.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import inputs

_EXEC_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_group_spark",
    "mr",
    "exec",
)


@dataclass(frozen=True)
class Query:
    """A registered query, forced end to end with the ``noop`` sink."""

    name: str

    def run(self, spark, input_dir: str, out_dir: str, span):
        """Build and execute the query; returns its DataFrame."""
        from map_reduce_group_spark.plans import queries

        with span("plans.build_s"):
            df = queries()[self.name](spark, input_dir)
        with span("plans.execute_s"):
            df.write.format("noop").mode("overwrite").save()
        return df


@dataclass(frozen=True)
class MrJob:
    """One ``mr.submit`` of a reference-style job over the text corpus."""

    name: str
    mapper: str
    reducer: str

    def run(self, spark, input_dir: str, out_dir: str, span) -> None:
        from map_reduce_group_spark.mr import Job, submit

        def command(exe: str) -> str:
            # the shipped executables run under this interpreter, whatever
            # their file mode in the checkout
            if exe.endswith(".py"):
                return f"{sys.executable} {os.path.join(_EXEC_DIR, exe)}"
            return exe

        job = Job(
            input_directory=input_dir,
            output_directory=os.path.join(out_dir, self.name),
            mapper_executable=command(self.mapper),
            reducer_executable=command(self.reducer),
            num_mappers=inputs.MR_MAPPERS,
            num_reducers=inputs.MR_REDUCERS,
        )
        with span(f"mr.{self.name}.submit_s"):
            submit(spark, job)


WORKLOADS: dict[str, tuple] = {
    # map-heavy word count (about 12 output lines per input line, small
    # output) beside a whole-line sort whose every byte is shuffled, sorted
    # and written
    "mr_jobs": (
        MrJob("wordcount", "wc_map.py", "wc_reduce.py"),
        MrJob("sort", "cat", "identity_reduce.py"),
    ),
    # the shingle Jaccard similarity join, then the Arrow/NumPy Python
    # stage (mapInPandas cosine top-k)
    "llm_batch": (
        Query("dedup_ngram_jaccard"),
        Query("embed_cosine_topk"),
    ),
    # availableNow replays: a multi-batch (one file per trigger) quarantine
    # that keeps its own checkpoint and state directories, and a watermarked
    # window aggregation in the state store
    "stream_replay": (
        Query("stream_late_quarantine"),
        Query("stream_tumbling_hourly"),
    ),
}

# Tables each workload's queries read; the set-up scans them once.
TABLES = {
    "mr_jobs": (),
    "llm_batch": ("documents", "embeddings"),
    "stream_replay": ("events",),
}
