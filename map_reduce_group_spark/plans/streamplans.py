"""Structured Streaming queries registered in the main query surface.

Each builder runs a real streaming query (file source → watermarked
stateful aggregation → availableNow trigger → memory sink) and returns the
result table — so the DRIVER'S ORACLE CHECKS RUN AGAINST A STREAMING
EXECUTION: the streaming operators must reproduce the batch SQL answer
exactly (same oracle strings as their batch twins in plans/events.py).
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from map_reduce_group_spark import scope
from map_reduce_group_spark.catalog import load_table
from map_reduce_group_spark.plans.registry import register
from map_reduce_group_spark.streaming import events_stream as es

_COUNTER = itertools.count()


def _events_stream_dir(sf_dir: str, copies: int = 1) -> str:
    """File stream sources need a directory; expose the single events
    parquet file via a symlinked workspace dir (testdata is read-only).
    ``copies=2`` links the same file twice — an at-least-once redelivery
    fixture for the streaming dedup check."""

    def link(d: str) -> None:
        for i in range(copies):
            os.symlink(
                os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, f"events_{i}.parquet"),
            )

    return scope.source_dir(f"events_x{copies}", sf_dir, link)


def _write_mtime_ordered(src: str, stem: str, parts: list[DataFrame]) -> None:
    """Write each of ``parts`` into ``src`` as one single-file parquet,
    ``{stem}_{i}.parquet``, with mtimes ascending in ``i``: the file source
    takes the oldest file first, so under ``maxFilesPerTrigger=1`` a stream
    replays the parts as micro-batches in list order."""

    # the writes are independent single-task jobs; submit them from a
    # thread pool so each back-fills executors the previous write's tail
    # leaves idle (guide §2.6 — actions are only sequential because driver
    # code calls them sequentially). File CONTENT and the mtime ordering
    # are set per index, so concurrency cannot reorder anything the stream
    # observes.
    def write(i: int) -> None:
        # "_"-prefixed, so a file source never lists the staging dir
        part_dir = os.path.join(src, f"_{stem}_{i}")
        parts[i].coalesce(1).write.parquet(part_dir)
        dst = os.path.join(src, f"{stem}_{i}.parquet")
        os.replace(glob.glob(os.path.join(part_dir, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_600_000_000 + i * 1000, 1_600_000_000 + i * 1000))
        shutil.rmtree(part_dir)

    with ThreadPoolExecutor(max_workers=len(parts)) as pool:
        list(pool.map(write, range(len(parts))))


def _replay_into_fresh_state(spark: SparkSession, query: str, src: str, schema, ingest) -> str:
    """Replay ``src`` one file per micro-batch (availableNow) through the
    ``foreachBatch`` sink ``ingest(batch_df, batch_id, state)``, with state
    and checkpoint dirs that start FRESH on every call of ``query`` (the
    replay tests rely on deterministic fresh-state runs). Returns the state
    dir; the next call deletes it (scope.fresh_dir), so the caller must
    materialize what it reads from it before returning."""
    work = scope.fresh_dir(query)
    state = os.path.join(work, "state")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(lambda df, batch_id: ingest(df, batch_id, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked tumbling-window aggregation, executed with an
    availableNow trigger — must match the BATCH oracle bit-for-bit (same
    exact-decimal totals). State: one row per (window, event_type)."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    return es.run_to_memory(
        es.tumbling_counts(stream),
        f"q_stream_tumbling_{next(_COUNTER)}",
        state_partitions=8,
    )


@register(
    "stream_sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTES
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessioned AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS session_value
    FROM sessioned
    GROUP BY user_id, session_seq
    """,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` (30-min gap) under availableNow — checked
    against the batch gaps-and-islands oracle: the incremental session-merge
    state machine must produce the identical session set."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    return es.run_to_memory(
        es.session_aggregate(stream),
        f"q_stream_sessions_{next(_COUNTER)}",
        state_partitions=8,
    )


@register(
    "stream_dedup_redelivery",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value
    FROM events
    """,
)
def stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under at-least-once redelivery: the file source
    sees the events file TWICE (two links in the source dir), and
    ``dropDuplicatesWithinWatermark("event_id")`` must collapse the replay
    back to exactly the batch-distinct row set (the oracle is plain SELECT —
    event_id is unique in the fixture, so any surviving duplicate or any
    dropped original fails the hash). State: one key per event_id inside the
    watermark horizon, GC'd as the watermark advances."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir, copies=2))
    deduped = es.stream_dedup(stream).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return es.run_to_memory(
        deduped,
        f"q_stream_dedup_{next(_COUNTER)}",
        output_mode="append",
        state_partitions=4,
    )


@register(
    "stream_running_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``,
    integer-cents state) checked against the batch exact-decimal aggregate.
    Update mode emits a cumulative row per user per micro-batch; the final
    state is recovered as the emission with the highest n_events (counts are
    monotone), which must equal the batch GROUP BY exactly."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    updates = es.run_to_memory(
        es.user_running_totals(stream),
        f"q_stream_totals_{next(_COUNTER)}",
        output_mode="update",
        state_partitions=8,
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each event enriched with the customer dimension
    (re-read per micro-batch; broadcast-able small side). Append mode — no
    state beyond the join itself."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    enriched = es.enrich_with_static(stream, dim).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    return es.run_to_memory(
        enriched, f"q_stream_enrich_{next(_COUNTER)}", output_mode="append"
    )


def _synthetic_oracle_ref() -> str:
    from map_reduce_group_spark.plans.advanced import _synthetic_oracle

    return _synthetic_oracle()


@register("stream_synthetic_source", oracle=_synthetic_oracle_ref())
def stream_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python STREAMING source under the oracle gate: ingest the
    generated corpus through micro-batch execution (offset-tracked
    SimpleDataSourceStreamReader, sources/synthetic.py) into a complete-mode
    aggregation — which must equal the same DuckDB SQL that regenerates the
    corpus (shared with the batch twin `source_synthetic_docs`). Proves the
    batch source, the streaming source, and an independent engine all agree
    on the source's content contract."""
    from map_reduce_group_spark.sources.synthetic import SyntheticDocsDataSource

    spark.dataSource.register(SyntheticDocsDataSource)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("n_docs", 2000)
        .option("batch_size", 2000)  # availableNow drains in one batch
        .option("seed", 42)
        .load()
    )
    agg = stream.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return es.run_to_memory(
        agg, f"q_stream_synth_{next(_COUNTER)}", state_partitions=8
    )


@register(
    "stream_purchase_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id,
           c.ts AS click_ts
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases to same-user clicks within the
    preceding hour), both sides watermarked so join state evicts. Inner
    append-mode matches emit eagerly; must reproduce the batch interval-join
    row set exactly."""
    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    return es.run_to_memory(
        es.purchases_after_clicks(stream, within="1 hour"),
        f"q_stream_attrib_{next(_COUNTER)}",
        output_mode="append",
        state_partitions=4,
    )


# time-ordered 4-file events source for the outer interval join: unlike the
# parity split (stream_late_quarantine), batches must ASCEND in event time so
# no input row falls below the advancing watermark (a stateful op drops such
# rows as late, which would lose inner matches the batch oracle has)
def _events_timesplit_dir(spark: SparkSession, sf_dir: str, n: int = 4) -> str:
    def split(src: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        # exact interior quantile boundaries (data-relative, deterministic):
        # rows at a boundary go to the earlier file; contiguous ts ranges
        # guarantee every row arrives at-or-above the prior batches' max − 2h
        qs = [i / n for i in range(1, n)]
        bounds = ev.agg(
            F.percentile(
                F.unix_micros("ts"), F.array(*[F.lit(q) for q in qs])
            ).alias("b")
        ).collect()[0]["b"]
        edges = [None] + [int(b) for b in bounds] + [None]
        parts = []
        for i in range(n):
            part = ev
            if edges[i] is not None:
                part = part.filter(F.unix_micros("ts") > edges[i])
            if edges[i + 1] is not None:
                part = part.filter(F.unix_micros("ts") <= edges[i + 1])
            parts.append(part)
        _write_mtime_ordered(src, "events", parts)

    return scope.source_dir(f"events_timesplit{n}", sf_dir, split)


@register(
    "stream_purchase_attribution_outer",
    oracle="""
    WITH thr AS (
        SELECT least(
                   max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
                   max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               ) - 9000000000 AS t_us
        FROM events
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id,
           c.ts AS click_ts
    FROM events p
    LEFT JOIN events c
      ON c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
      AND (c.event_id IS NOT NULL OR epoch_us(p.ts) < (SELECT t_us FROM thr))
    """,
)
def stream_purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark-expired null
    emission (VERDICT r8 #4): purchases attributed to same-user clicks in
    the preceding hour; an unmatched purchase is emitted ONCE, with null
    click columns, only after the watermark provably closes its join
    window. Runs as a REAL multi-micro-batch streaming execution — the
    events are replayed as four mtime-ordered, time-contiguous files
    (maxFilesPerTrigger=1), so watermark advancement, click-state
    eviction, and the final no-data flush batch are all exercised.

    Oracle = the batch left join restricted to the watermark-closed
    region: matched rows are compared in FULL (they emit eagerly — any
    lost or duplicated match fails the hash); null rows are compared for
    every purchase strictly below ``min(max click_ts, max purchase_ts)
    − 2h delay − 30min margin``. The boundary Spark actually evicts at is
    the 2h watermark itself (measured: every unmatched purchase below it
    emitted, none above); the 30-minute margin only excludes the
    ms-truncation band so both engines agree exactly. The builder applies
    the SAME data-relative filter to the streamed result — rows excluded
    are exactly the indeterminate-by-design band, documented here.
    State at 100 TB: both sides' state stores hold only the interval +
    slack horizon (watermarks bound retention on each side); null
    emission is driven by state eviction, so unbounded streams hold
    bounded state and every purchase still emits exactly once."""
    src = _events_timesplit_dir(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    schema = ev.select("event_id", "ts", "user_id", "event_type").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = es.purchases_after_clicks(stream, within="1 hour", how="leftOuter")
    got = es.run_to_memory(
        joined,
        f"q_stream_attrib_outer_{next(_COUNTER)}",
        output_mode="append",
        state_partitions=8,
    )
    mx = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("mc"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("mp"),
    ).collect()[0]
    thr_us = min(mx["mc"], mx["mp"]) - 9_000_000_000
    return got.filter(
        F.col("click_id").isNotNull()
        | (F.unix_micros("purchase_ts") < F.lit(thr_us))
    )


# the stream's two deterministic micro-batches (even docs, then odd docs)
# replay exactly the batch twin's two ingest phases, so the SAME oracle
# adjudicates both. plans/__init__ imports llm before streamplans
# (alphabetical), so the batch spec is always registered first.
from map_reduce_group_spark.plans.registry import REGISTRY as _REG  # noqa: E402


@register(
    "stream_incremental_minhash",
    oracle=_REG["dedup_incremental_minhash"].oracle,
)
def stream_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup ingest (VERDICT r4 #8 stretch): a file-source
    document stream drives ``incremental_minhash_lsh`` through a
    ``foreachBatch`` sink — each micro-batch computes its own portable
    MinHash signatures, probes ONLY the persisted band buckets it lands
    in (state = 32 BIGINTs/doc, never text), materializes its decisions,
    and upserts its signatures, exactly as a 100 TB ingest pipeline runs.

    Determinism: the source dir holds two parquet files (even doc_ids,
    then odd) with strictly increasing mtimes; the file source processes
    oldest-first under ``maxFilesPerTrigger=1``, so the stream replays the
    batch twin's phases 1:1 and the SAME DuckDB oracle hash-checks a REAL
    streaming execution (the streamplans module convention)."""
    from map_reduce_group_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    src = scope.source_dir(
        "docs_parity2",
        sf_dir,
        lambda src: _write_mtime_ordered(
            src, "docs", [d.filter(F.col("doc_id") % 2 == p) for p in (0, 1)]
        ),
    )

    def ingest(batch_df: DataFrame, batch_id: int, state: str) -> None:
        # decisions keyed by Spark's batch_id: a redelivered micro-batch
        # (restart after a pre-checkpoint-commit crash) overwrites its own
        # decisions dir instead of appending a duplicate — the same
        # idempotence contract as the repo's foreachBatch upsert sink
        dedup.incremental_minhash_lsh(
            batch_df, state, "doc_id", "text", batch_tag=batch_id,
            shuffle_partitions="auto",
        )

    state = _replay_into_fresh_state(
        spark, "stream_incremental_minhash", src, d.schema, ingest
    )
    # localCheckpoint EAGERLY: the next invocation deletes this state dir
    # (scope.fresh_dir), and a lazy read over it would PATH_NOT_FOUND for any
    # caller that re-invokes the builder before collecting the earlier
    # result (ADVICE r5). The decisions set is small (pair decisions, not
    # documents), so materializing it is cheap.
    return spark.read.parquet(os.path.join(state, "decisions_*")).localCheckpoint(
        eager=True
    )


@register(
    "stream_hll_cardinality",
    oracle=f"""
    WITH fps AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS fp FROM events
    ), h AS (
        SELECT CAST(('0x' || substr(md5(fp), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bucket,
               CAST(('0x' || substr(md5(fp), 17, 12))::UBIGINT AS BIGINT) AS w
        FROM fps
    )
    SELECT bucket,
           CAST(max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS BIGINT)
               AS register
    FROM h GROUP BY 1
    """,
)
def stream_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user cardinality tracking: the deterministic HLL
    register build (operators/sketches.py:hll_registers) run AS A STREAMING
    AGGREGATION — groupBy(bucket).max(register) in complete mode over the
    event stream, which Structured Streaming maintains with EXACTLY m ≤
    1024 state rows forever. This is the sketch's headline scale property
    made operational: an unbounded stream's distinct-key question answered
    with fixed-size state (a streaming COUNT DISTINCT instead holds every
    key), mergeable across restarts because registers are max-monoid.
    The final register table must equal the batch build over the same
    events — the oracle rebuilds it from the distinct user set in SQL
    (registers are duplication-invariant, so stream replays/ordering
    cannot perturb them)."""
    from map_reduce_group_spark.operators.sketches import hll_registers

    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    regs = hll_registers(stream, "user_id", p=10)
    return es.run_to_memory(
        regs,
        f"q_stream_hll_{next(_COUNTER)}",
        output_mode="complete",
        state_partitions=8,
    )


@register(
    "stream_cms_cells",
    oracle="""
    WITH counts AS (
        SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
        FROM events GROUP BY 1
    ), cells AS (
        SELECT CAST(r.r * 1024 AS BIGINT)
               + CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || key), 1, 16))::UBIGINT
                      % 1024 AS BIGINT) AS cell,
               sum(n) AS cnt
        FROM counts CROSS JOIN range(0, 4) r(r)
        GROUP BY 1
    )
    SELECT cell, CAST(cnt AS BIGINT) AS cnt FROM cells
    """,
)
def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch over the event stream's user keys: each
    micro-batch emits its LOCAL 4×1024 partial matrix (one Arrow pass,
    ≤ d·w rows — operators/sketches.py:cms_sketch_cells), and a complete-
    mode groupBy(cell).sum maintains the merged matrix as EXACTLY ≤ 4096
    state rows forever — frequency tracking over an unbounded stream with
    fixed-size state, the add-monoid sibling of stream_hll_cardinality's
    max-monoid registers. CMS linearity makes micro-batch boundaries
    invisible: Σ_batches sketch(batch) = sketch(Σ batches), so the
    streaming matrix must equal the batch SQL rebuild from exact per-user
    counts (the oracle), regardless of how the files split into batches."""
    from map_reduce_group_spark.operators.sketches import cms_sketch_cells

    stream = es.read_events_stream(spark, _events_stream_dir(sf_dir))
    cells = cms_sketch_cells(stream, "user_id")
    return es.run_to_memory(
        cells,
        f"q_stream_cms_{next(_COUNTER)}",
        output_mode="complete",
        state_partitions=8,
    )


@register(
    "stream_late_quarantine",
    oracle="""
    WITH b AS (
        SELECT event_id % 4 AS batch_id, epoch_us(ts) AS us, event_type
        FROM events
    ), mx AS (
        SELECT batch_id, max(us) AS mts FROM b GROUP BY 1
    ), wm AS (
        SELECT a.batch_id, max(m.mts) - 1800000000 AS wm_us
        FROM (SELECT DISTINCT batch_id FROM b) a
        JOIN mx m ON m.batch_id < a.batch_id
        GROUP BY 1
    )
    SELECT CAST(b.batch_id AS BIGINT) AS batch_id, b.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN w.wm_us IS NOT NULL AND b.us < w.wm_us
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM b LEFT JOIN wm w ON w.batch_id = b.batch_id
    GROUP BY 1, 2
    """,
)
def stream_late_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data quarantine accounting under a REAL multi-batch streaming
    execution (streaming/events_stream.py:quarantine_late): events split
    into four mtime-ordered source files by event_id parity class, so each
    micro-batch spans the full time range and arrives "out of order" —
    the regime watermarks exist for. Per batch, rows older than
    (max event time of PRIOR batches − 30 min) are counted as late per
    event_type — the side-output a 100 TB ingest routes to a backfill
    table while Spark's own watermark path only increments the private
    numRowsDroppedByWatermark counter. Batch 0 has no watermark yet
    (late = 0 everywhere), exactly like Spark's first micro-batch. The
    DuckDB oracle replays the batch assignment, the running max, and
    every lateness comparison in epoch microseconds."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    src = scope.source_dir(
        "events_parity4",
        sf_dir,
        lambda src: _write_mtime_ordered(
            src, "events", [ev.filter(F.col("event_id") % 4 == i) for i in range(4)]
        ),
    )
    state = _replay_into_fresh_state(
        spark,
        "stream_late_quarantine",
        src,
        ev.schema,
        lambda batch_df, batch_id, state: es.quarantine_late(
            batch_df, state, batch_id, delay_us=1_800_000_000
        ),
    )
    # materialize before returning: the next invocation deletes this state
    # dir (scope.fresh_dir; the stream_incremental_minhash lifecycle, ADVICE r5).
    # Project away max_us — it is watermark STATE riding the decisions file
    # (one batch scan + one write per trigger), not part of the query's
    # declared output.
    return (
        spark.read.schema(es.QUARANTINE_DECISIONS_SCHEMA)
        .parquet(os.path.join(state, "decisions_*"))
        .select("batch_id", "event_type", "n_events", "n_late")
        .localCheckpoint(eager=True)
    )
