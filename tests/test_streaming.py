"""Batch/stream equivalence: every streaming operator must produce the same
answer as its batch twin when run over the same files with availableNow."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from map_reduce_group_spark.plans import REGISTRY
from map_reduce_group_spark.streaming import events_stream as es
from tests.helpers import canonicalize


@pytest.fixture(scope="module")
def events_path(sf_dir, tmp_path_factory) -> str:
    # the file stream source requires a DIRECTORY; expose the single events
    # parquet file through a symlinked dir (testdata itself is read-only)
    d = tmp_path_factory.mktemp("events_stream_src")
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    return str(d)


def test_stream_tumbling_equals_batch(spark, sf_dir, events_path):
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(es.tumbling_counts(stream), "t_tumbling")
    want = REGISTRY["events_tumbling_hourly"].builder(spark, sf_dir)
    assert canonicalize(got.toPandas()) == canonicalize(want.toPandas())


def test_run_to_memory_leaves_no_temp_view(spark, sf_dir, events_path):
    """The memory sink registers its table as a temp view; run_to_memory
    drops it once resolved, and the returned frame still collects."""
    from map_reduce_group_spark.catalog import load_table

    before = {t.name for t in spark.catalog.listTables()}
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(es.tumbling_counts(stream), "t_tumbling_no_view")
    assert {t.name for t in spark.catalog.listTables()} == before
    assert sum(r["n_events"] for r in got.collect()) == load_table(spark, sf_dir, "events").count()


def test_stream_sessions_equal_batch(spark, sf_dir, events_path):
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(es.session_aggregate(stream), "t_sessions")
    want = (
        REGISTRY["events_sessionization"].builder(spark, sf_dir)
        .select("user_id", "session_start", "n_events", "session_value")
    )
    assert canonicalize(got.toPandas()) == canonicalize(want.toPandas())


def test_stream_dedup_passthrough(spark, sf_dir, events_path):
    # event_ids are unique in the fixture: dedup must be a passthrough
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(es.stream_dedup(stream), "t_dedup", output_mode="append")
    from map_reduce_group_spark.catalog import load_table

    assert got.count() == load_table(spark, sf_dir, "events").count()


def test_stateful_user_totals_equal_batch(spark, sf_dir, events_path):
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(
        es.user_running_totals(stream), "t_state", output_mode="update"
    )
    # update mode may emit one row per micro-batch per user; keep the final state
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )
    from map_reduce_group_spark.catalog import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    # full-row compare (user pairing included): 2-decimal value sums recover
    # the exact decimal on both paths, so fixed-format canon rows are equal
    assert canonicalize(final.toPandas()) == canonicalize(want.toPandas())


def test_foreach_batch_partitioned_sink(spark, events_path, tmp_path):
    """foreachBatch custom sink: stream micro-batches written as
    partitioned parquet (the arbitrary-sink escape hatch)."""
    from map_reduce_group_spark.streaming import events_stream as es

    out = str(tmp_path / "by_type")
    stream = es.read_events_stream(spark, events_path)

    def write_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").partitionBy(
            "event_type"
        ).parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    import os

    back = spark.read.parquet(out)
    assert back.count() == spark.read.parquet(events_path).count()
    assert any(d.startswith("event_type=") for d in os.listdir(out))


def test_stream_static_join(spark, sf_dir, events_path):
    from map_reduce_group_spark.catalog import load_table
    from map_reduce_group_spark.streaming import events_stream as es

    batch_events = load_table(spark, sf_dir, "events")
    dim = batch_events.groupBy("user_id").agg(F.min("event_id").alias("first_event"))
    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(
        es.enrich_with_static(stream, dim).select("event_id", "user_id", "first_event"),
        "t_enrich",
        output_mode="append",
    )
    assert got.count() == batch_events.count()
    assert got.filter(F.col("first_event").isNull()).count() == 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, events_path):
    from map_reduce_group_spark.catalog import load_table
    from map_reduce_group_spark.streaming import events_stream as es

    stream = es.read_events_stream(spark, events_path)
    got = es.run_to_memory(
        es.purchases_after_clicks(stream), "t_ssjoin", output_mode="append"
    )

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    want = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND click_ts <= purchase_ts "
            "AND click_ts >= purchase_ts - INTERVAL 1 HOUR"
        ),
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    assert canonicalize(got.toPandas()) == canonicalize(want.toPandas())


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Incremental processing with checkpoint resume: run availableNow over
    half the input, add the rest, run again with the SAME checkpoint — the
    sink must contain every event exactly once (no reprocessing, no loss)."""
    import os
    import shutil

    from map_reduce_group_spark.catalog import load_table
    from map_reduce_group_spark.streaming import events_stream as es

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    events = load_table(spark, sf_dir, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    # stage first batch of files
    half1.write.parquet(str(tmp_path / "h1"))
    for f in os.listdir(tmp_path / "h1"):
        if f.endswith(".parquet"):
            shutil.copy(tmp_path / "h1" / f, src / f"a_{f}")

    schema = ", ".join(f"{n} {t}" for n, t in events.dtypes)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream.select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == half1.count()

    # stage the remaining files and resume from the same checkpoint
    half2.write.parquet(str(tmp_path / "h2"))
    for f in os.listdir(tmp_path / "h2"):
        if f.endswith(".parquet"):
            shutil.copy(tmp_path / "h2" / f, src / f"b_{f}")
    run_once()

    result = spark.read.parquet(out)
    assert result.count() == events.count()  # exactly once: no dupes, no loss
    assert result.select("event_id").distinct().count() == events.count()


def test_custom_python_streaming_source(spark, tmp_path):
    """The synthetic corpus as a custom STREAMING source (Spark 4
    SimpleDataSourceStreamReader): batch_size docs per micro-batch with
    doc_id-watermark offsets; the streamed corpus must equal the batch scan
    exactly (offsets are replayable — generation is pure), and a windowed
    aggregation over the stream must match the batch groupBy."""
    import pyspark.sql.functions as F

    from map_reduce_group_spark.sources.synthetic import SyntheticDocsDataSource

    spark.dataSource.register(SyntheticDocsDataSource)
    opts = {"n_docs": "300", "batch_size": "75", "seed": "9"}
    stream = spark.readStream.format("synthetic_docs").options(**opts).load()

    # each run consumes the reader's next offset range and commits it to
    # the checkpoint; restarting against the SAME checkpoint resumes from
    # the committed offset — 4 runs drain the 300-doc corpus into a file
    # sink, proving offset recovery across restarts on the way
    out = str(tmp_path / "out")

    def run_once():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for _ in range(4):
        run_once()
    got = spark.read.parquet(out)
    batch = (
        spark.read.format("synthetic_docs")
        .options(**opts).option("pushdown", "false").load()
    )
    assert got.count() == 300
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0
    # per-lang counts agree with the batch twin
    a = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    b = {r["lang"]: r["n"] for r in batch.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert a == b


def test_streaming_upsert_sink_idempotent(spark, tmp_path):
    """Streaming CDC apply: foreachBatch + upsert_by_key as the sink. The
    synthetic stream delivers the same keys across micro-batches (later
    batches carry later versions); the keyed upsert collapses them so the
    final table holds exactly one row per key — and REPLAYING the whole
    stream into the same table changes nothing (idempotent end-to-end, the
    exactly-once story without a lakehouse format)."""
    import pyspark.sql.functions as F

    from map_reduce_group_spark.operators.incremental import upsert_by_key
    from map_reduce_group_spark.sources.io import overwrite_partitions
    from map_reduce_group_spark.sources.synthetic import SyntheticDocsDataSource

    spark.dataSource.register(SyntheticDocsDataSource)
    table = str(tmp_path / "docs_table")
    # seed the table: version 0 of every key
    base = (
        spark.read.format("synthetic_docs")
        .option("n_docs", 200).option("seed", 7).option("pushdown", "false").load()
        .withColumn("version", F.lit(0))
    )
    overwrite_partitions(base, table, ["lang"])

    def run_stream(version, ckpt):
        stream = (
            spark.readStream.format("synthetic_docs")
            .option("n_docs", 200).option("batch_size", 50).option("seed", 7)
            .load()
            .withColumn("version", F.lit(version))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, _id: upsert_by_key(
                    batch_df, table, ["doc_id"], "lang"
                )
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for _ in range(4):  # 4 availableNow runs drain 200 docs at batch_size 50
        run_stream(1, "ckpt_a")
    t = spark.read.parquet(table)
    assert t.count() == 200  # one row per key, no dup keys from 4 batches
    assert t.filter(F.col("version") != 1).count() == 0  # all upserted

    # REDELIVER the whole stream (fresh checkpoint = at-least-once replay):
    # the keyed upsert must leave the table byte-identical
    before = sorted(map(tuple, t.collect()))
    for _ in range(4):
        run_stream(1, "ckpt_b")
    after = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert after == before


def test_stream_incremental_minhash_equals_batch_and_replays(spark, sf_dir):
    """The foreachBatch incremental-minhash stream (r5, VERDICT r4 #8) must
    (a) reproduce the batch twin's decision set exactly — the stream's two
    deterministic micro-batches ARE the batch query's two ingest phases —
    and (b) be replay-idempotent: re-running the whole stream with a fresh
    checkpoint over the same source yields the SAME decisions (a doc never
    matches itself on redelivery; state upserts recreate identical rows).
    The workspace keeps only the latest run's state/ckpt dirs."""
    batch = REGISTRY["dedup_incremental_minhash"].builder(spark, sf_dir)
    stream1 = REGISTRY["stream_incremental_minhash"].builder(spark, sf_dir)
    first_run = _only_run_dir("stream_incremental_minhash")
    key = lambda df: {
        (r["id"], r["match_id"]): r["n_agree"] for r in df.collect()
    }
    k_batch, k_stream = key(batch), key(stream1)
    assert k_stream == k_batch and len(k_stream) > 0

    # replay: a second full builder run (fresh state + checkpoint dirs) is
    # deterministic; and the decision set equals the first run's
    stream2 = REGISTRY["stream_incremental_minhash"].builder(spark, sf_dir)
    assert _only_run_dir("stream_incremental_minhash") != first_run
    assert key(stream2) == k_stream


def _only_run_dir(query: str) -> str:
    """The one per-invocation dir ``query`` holds in the workspace, which
    must contain its state and checkpoint dirs."""
    import os

    from map_reduce_group_spark import scope

    runs = os.path.join(scope.workspace(), query)
    (run,) = os.listdir(runs)
    assert sorted(os.listdir(os.path.join(runs, run))) == ["ckpt", "state"]
    return run


def test_stream_late_quarantine_reinvocation_and_batch0(spark, sf_dir):
    """Back-to-back builder invocations with deferred collection must both
    return correct frames (the stream_incremental_minhash lifecycle lesson,
    ADVICE r5/r6: the second invocation deletes the first's state dirs, so
    the returned frame must be materialized, not lazily bound to them; the
    workspace then holds only the second invocation's dirs).
    Also pins the watermark boot semantics: batch 0 has no prior max event
    time, so nothing in it can be late."""
    from map_reduce_group_spark.plans.registry import REGISTRY

    b = REGISTRY["stream_late_quarantine"].builder
    df1 = b(spark, sf_dir)
    first_run = _only_run_dir("stream_late_quarantine")
    df2 = b(spark, sf_dir)  # deletes df1's state dirs before df1 collects
    assert _only_run_dir("stream_late_quarantine") != first_run
    r1 = sorted(map(tuple, df1.collect()))
    r2 = sorted(map(tuple, df2.collect()))
    assert r1 == r2 and len(r1) > 0
    by_batch = {}
    for batch_id, _etype, n, late in r1:
        tot_n, tot_late = by_batch.get(batch_id, (0, 0))
        by_batch[batch_id] = (tot_n + n, tot_late + late)
    assert by_batch[0][1] == 0, "batch 0 has no watermark yet"
    # catalog.load_table, not a raw parquet read: events is TIMESTAMP(NANOS)
    # and rule 5 routes all batch loads through the catalog's normalization —
    # a raw read only works if an earlier test left nanosAsLong set (order-
    # dependent, fails in isolation; ADVICE r7 #5)
    from map_reduce_group_spark.catalog import load_table

    assert sum(n for n, _ in by_batch.values()) == load_table(
        spark, sf_dir, "events"
    ).count()
    # the parity-class split makes later batches genuinely out-of-order:
    # at least one of batches 1-3 must quarantine something
    assert sum(late for _, late in by_batch.values()) > 0


def test_quarantine_late_redelivery_ignores_own_max(spark, tmp_path):
    """Crash-replay idempotence for the exact window the batch-keyed
    overwrite targets (ADVICE r7 #2): if batch k crashed AFTER writing
    decisions_k (which now carries the max event time as watermark state)
    but BEFORE the checkpoint commit, the redelivered batch k must compute
    its watermark from batches < k only — seeing its OWN max would raise
    the watermark to max over batches <= k and reclassify rows late that
    the first delivery admitted."""
    import datetime as dt

    from map_reduce_group_spark.streaming.events_stream import quarantine_late

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), "click")
                for i, s in rows
            ],
            "event_id long, ts timestamp, event_type string",
        )

    state = str(tmp_path / "qstate")
    delay = 10_000_000  # 10 s
    # batch 0: max event time 1000 s -> watermark for batch 1 = 990 s
    quarantine_late(mk([(1, 1000)]), state, 0, delay_us=delay)
    # batch 1: a 995 s row is NOT late vs the 990 s watermark, but WOULD be
    # late vs batch 1's own 2000 s max (watermark 1990 s) if the glob bug
    # let the redelivery see maxts_1
    b1 = mk([(2, 2000), (3, 995)])
    quarantine_late(b1, state, 1, delay_us=delay)
    cols = ["batch_id", "event_type", "n_events", "n_late"]
    first = sorted(
        map(tuple, spark.read.parquet(f"{state}/decisions_1").select(*cols).collect())
    )
    assert first == [(1, "click", 2, 0)], "first delivery admits the 995s row"
    # redelivery of batch 1: decisions_1 (with its max) is on disk (the
    # crash window)
    quarantine_late(b1, state, 1, delay_us=delay)
    replay = sorted(
        map(tuple, spark.read.parquet(f"{state}/decisions_1").select(*cols).collect())
    )
    assert replay == first, "redelivery must not see its own max"


def test_stream_outer_attribution_null_emission_redelivery(spark, sf_dir, tmp_path):
    """LEFT OUTER interval join (VERDICT r8 #4): (a) null rows are emitted
    exactly once for every unmatched purchase below the watermark-closed
    boundary and never for matched ones; (b) a crash-redelivered micro-batch
    (last checkpoint commit deleted, stream restarted) reproduces its own
    output bit-for-bit — no duplicate and no lost null-emission. The final
    no-data flush batch is the one that carries the null rows, so deleting
    the LAST commit redelivers precisely the null-emission batch."""
    import os
    import shutil

    from map_reduce_group_spark.catalog import load_table
    from map_reduce_group_spark.plans.streamplans import _events_timesplit_dir

    src = _events_timesplit_dir(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:

        def run_once():
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            joined = es.purchases_after_clicks(
                stream, within="1 hour", how="leftOuter"
            )

            def sink(batch_df, batch_id):
                # batch-id-keyed overwrite: the repo's foreachBatch
                # idempotence convention — a redelivered batch replaces
                # its own output instead of appending a duplicate
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(out, f"b_{batch_id}")
                )

            q = (
                joined.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        batches = sorted(os.listdir(out))
        result1 = spark.read.parquet(os.path.join(out, "b_*")).localCheckpoint(
            eager=True
        )

        # (a) correctness of the emitted set against the batch left join
        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        cond = F.expr(
            "user_id = c_user AND click_ts <= purchase_ts "
            "AND click_ts >= purchase_ts - INTERVAL 1 HOUR"
        )
        inner = purchases.join(clicks, cond).select(
            "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"
        )
        got_inner = result1.filter(F.col("click_id").isNotNull())
        assert got_inner.exceptAll(inner).count() == 0
        assert inner.exceptAll(got_inner).count() == 0

        mx = ev.agg(
            F.max(
                F.when(F.col("event_type") == "click", F.unix_micros("ts"))
            ).alias("mc"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("mp"),
        ).collect()[0]
        thr_us = min(mx["mc"], mx["mp"]) - 9_000_000_000
        want_null = purchases.join(clicks, cond, "left_anti").filter(
            F.unix_micros("purchase_ts") < thr_us
        )
        got_null = result1.filter(
            F.col("click_id").isNull()
            & (F.unix_micros("purchase_ts") < thr_us)
        )
        assert want_null.count() > 0  # non-degenerate
        assert got_null.count() == want_null.count()
        assert (
            got_null.select("purchase_id")
            .exceptAll(want_null.select("purchase_id"))
            .count()
            == 0
        )

        # the null rows live in the final flush batch (the one we redeliver)
        last = batches[-1]
        assert (
            spark.read.parquet(os.path.join(out, last))
            .filter(F.col("click_id").isNull())
            .count()
            > 0
        ), "final no-data batch must carry the null emissions"

        # (b) crash-redelivery of the null-emission batch: drop the last
        # checkpoint commit (crash after sink write, before commit) and
        # restart — Spark replays that batch against the same state version
        commits = sorted(
            f for f in os.listdir(os.path.join(ckpt, "commits"))
            if not f.startswith(".")
        )
        os.remove(os.path.join(ckpt, "commits", commits[-1]))
        crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):  # hadoop checksum sidecar of the commit
            os.remove(crc)
        before = sorted(map(tuple, result1.collect()))
        run_once()
        after = sorted(
            map(
                tuple,
                spark.read.parquet(os.path.join(out, "b_*")).collect(),
            )
        )
        assert after == before, "redelivery must not duplicate or lose rows"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        shutil.rmtree(out, ignore_errors=True)
