"""Structured Streaming layer over event streams (SURVEY §2B "Streaming";
§7 phase 6 stretch — nothing in the reference is streaming, its jobs run
serially to completion, reference manager/__main__.py:247-262).

Design: every streaming operator here is the incremental twin of a batch
query in plans/events.py — same grouping keys, same aggregates — so the
batch oracle doubles as the streaming correctness check (run the stream
with an ``availableNow`` trigger over the same files and compare).

Scale: these are the shapes that survive unbounded input — watermarks bound
state, window/session aggregations keep one state row per (key, window),
and ``applyInPandasWithState`` holds an O(1) struct per key. State-store
partitioning follows ``spark.sql.shuffle.partitions``, so the same
skew/sizing levers as batch shuffles apply.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from map_reduce_group_spark.functions.numeric import dsum
from map_reduce_group_spark.scope import scoped_conf

def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet (directory or glob).

    In production this would be Kafka/Kinesis; the file source has the same
    semantics (exactly-once, checkpointable) and is what the fixtures give
    us.

    The ts layout is sniffed with a batch probe (same normalization as
    catalog.load_table): TIMESTAMP(NANOS) parquet arrives as bigint nanos
    under the legacy conf, µs TIMESTAMP_NTZ (e.g. DuckDB-written) as ntz —
    both normalized to a proper instant column.
    """
    # SESSION-WIDE side effect, deliberately NOT restored (unlike the batch
    # loader, which scopes it): the streaming source re-validates parquet
    # footers on EVERY micro-batch, so the conf must outlive this call for
    # the whole life of any query built on the returned stream. Consequence:
    # other TIMESTAMP(NANOS) parquet reads in this session will come back
    # as bigint nanos while a stream is in use (CLAUDE.md rule 5).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe_types = dict(spark.read.parquet(path).dtypes)
    ts_t = probe_types.get("ts", "timestamp")
    schema = ", ".join(f"{n} {t}" for n, t in probe_types.items())
    raw = spark.readStream.schema(schema).parquet(path)
    if ts_t == "bigint":  # raw nanoseconds
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_t == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of plans/events.events_tumbling_hourly: tumbling
    window counts + exact-decimal value totals, late data bounded by the
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            col("w.start").alias("hour_start"), "event_type", "n_events", "total_value"
        )
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via the native ``session_window`` operator
    (incremental merge of overlapping session state; the batch
    gaps-and-islands twin is plans/events.events_sessionization).

    Boundary semantics (verified empirically): an event exactly ``gap``
    after its predecessor MERGES into the same session — identical to the
    batch twin's strict ``gap > threshold`` new-session test, so the two
    stay row-for-row equivalent even on boundary input."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("session_value"))
        .select(
            "user_id",
            col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the streaming face of the dedup operator family (state = one key per
    event_id seen, GC'd by watermark). ``dropDuplicatesWithinWatermark``
    dedups by id alone, so at-least-once redelivery with a different ingest
    timestamp still collapses to one row."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_STATE_SCHEMA = "n bigint, cents bigint"
_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _track_user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # State accumulates INTEGER CENTS, not doubles — the streaming analogue
    # of the repo's exact-decimal policy (functions/numeric.py): the 2-decimal
    # fixture values are exact multiples of 0.01, per-row cents extraction is
    # exact (rint of value*100), and a bigint sum never drifts no matter how
    # many micro-batches fold in. Only the EMIT divides back to double.
    (user_id,) = key
    if state.exists:
        n, cents = state.get
    else:
        n, cents = 0, 0
    for pdf in pdfs:
        n += len(pdf)
        cents += int(np.rint(pdf["value"].to_numpy() * 100).sum()) if len(pdf) else 0
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [cents / 100.0]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, total value), emitted on every update — the arbitrary-
    stateful escape hatch the built-in window aggs can't express (e.g.
    decaying counters, ML feature state). State is one row per user."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _track_user_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (availableNow trigger) into an in-memory table; returns the result as a
    batch DataFrame. This is the harness used by tests to prove
    batch/stream equivalence. The sink's temp view ``name`` is dropped
    before returning, so repeated calls leave the session catalog as they
    found it.

    ``state_partitions`` sizes the state store: streaming state is
    partitioned by ``spark.sql.shuffle.partitions`` AT STREAM START (baked
    into the checkpoint; AQE cannot coalesce it), and every micro-batch
    commits every store — a stream-stream join commits 4 internal stores
    per partition per batch. Profiled on the interval join at sf0.1:
    32 partitions = 128 store commits/batch over ~40k state rows, 13.8 s
    wall; 8 partitions = 2.6 s (5.3x), identical output. Size it to state
    VOLUME (tens of MB per store before splitting further), not to core
    count — at 100 TB state you raise it; at bench scale the machinery
    dominates. Scoped (scope.scoped_conf) so batch queries keep the session value."""
    spark = stream_df.sparkSession
    confs = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = state_partitions
    with scoped_conf(spark, confs):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the resolved plan keeps the sink's rows without the view
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def enrich_with_static(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static join: enrich each event with a broadcast-able static
    dimension (profile/feature table). The static side is re-read per
    micro-batch, so slowly-changing dims pick up updates without restarts."""
    return events.join(dim, on, "left")


def purchases_after_clicks(
    events: DataFrame, within: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user clicks
    that happened within ``within`` BEFORE the purchase.

    Both sides are watermarked so the state store can evict: the join
    condition bounds click retention to the interval + watermark slack.
    This is the streaming face of the as-of/interval join family (batch
    twin: events_asof_join / a range-join).

    ``how="leftOuter"`` is the attribution-pipeline variant: an unmatched
    purchase is emitted ONCE with null click columns as soon as the engine
    can prove no future click can join it — i.e. when the global watermark
    passes its purchase_ts (clicks it could still match satisfy
    ``click_ts <= purchase_ts < watermark`` and would be dropped as late).
    Matched rows still emit eagerly in the batch that completes the match.
    Verified empirically (availableNow over time-ordered micro-batches,
    Spark 4.1): the final no-data micro-batch advances the watermark to
    ``min(max click_ts, max purchase_ts) − delay`` and flushes null rows
    for every evicted unmatched purchase strictly below it."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id"))
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {within}
            """
        ),
        how,
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


# quarantine_late state/output layout — supplied on every read-back so a
# micro-batch never pays a footer-inference job for its own known schema
QUARANTINE_DECISIONS_SCHEMA = (
    "batch_id long, event_type string, n_events long, n_late long, max_us long"
)


def quarantine_late(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    delay_us: int = 1_800_000_000,
) -> None:
    """Late-data quarantine accounting for one micro-batch — the
    watermark semantic Spark applies silently (rows older than
    ``max event time − delay`` are dropped; only the engine-private
    ``numRowsDroppedByWatermark`` counter ever sees them), reified as an
    explicit, replayable side output: a 100 TB ingest pipeline routes
    late rows to a quarantine table for backfill instead of losing them.

    Watermark for batch k = max event time over batches < k minus
    ``delay_us`` — exactly Spark's global watermark under a one-file
    micro-batch replay. All comparisons in ``unix_micros`` (CLAUDE.md
    rule 1: never interval-on-cast('long') arithmetic). State is the
    decisions table itself: per-(batch, event_type) counts PLUS that
    type's max event time (``max_us``), so the batch is scanned ONCE and
    one file is written per micro-batch — the r9 profile showed these
    micro-batch walls are job-floor-bound, and the old layout paid two
    full batch scans (decisions groupBy + a separate global-max pass)
    and two state writes per trigger (guide §1.2: remove passes before
    tuning inside them). The write is keyed by ``batch_id`` and
    overwrites, so a redelivered micro-batch (restart after a
    pre-checkpoint-commit crash) replaces its own output instead of
    double-counting — the module's foreachBatch idempotence convention.
    The watermark read filters the state glob to batch suffixes STRICTLY
    below ``batch_id``: a redelivery of batch k after decisions_k was
    written but before the checkpoint commit must not see its OWN max
    (the watermark would become max over batches <= k and the rewritten
    decisions_k could classify more rows late than the first delivery —
    ADVICE r7 #2). An empty batch writes an empty decisions file, which
    contributes no max — same watermark as the old NULL max row."""
    import glob as _glob
    import os as _os

    spark = batch_df.sparkSession
    b = batch_df.select("event_id", "ts", "event_type")
    wm_us = None
    prior = [
        p
        for p in _glob.glob(_os.path.join(state_dir, "decisions_*"))
        if p.rsplit("_", 1)[-1].isdigit() and int(p.rsplit("_", 1)[-1]) < batch_id
    ]
    if prior:
        row = (
            spark.read.schema(QUARANTINE_DECISIONS_SCHEMA)
            .parquet(*prior)
            .agg(F.max("max_us").alias("m"))
            .collect()[0]
        )
        if row["m"] is not None:
            wm_us = row["m"] - delay_us
    late = (
        F.lit(False)
        if wm_us is None
        else (F.unix_micros(F.col("ts")) < F.lit(wm_us))
    )
    (
        b.withColumn("late", late)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).cast("long").alias("n_late"),
            F.max(F.unix_micros(F.col("ts"))).alias("max_us"),
        )
        .select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "event_type",
            "n_events",
            "n_late",
            "max_us",
        )
        # decision volume is one row per event type — a single file per
        # batch, not one per shuffle partition (guide §6 small files)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_os.path.join(state_dir, f"decisions_{batch_id}"))
    )
