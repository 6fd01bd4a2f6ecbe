"""Structured Streaming parity tests (SURVEY §2.9 T1–T5).

Each windowed transform is one function used by both the batch oracle
query and the streaming job; these tests run the *streaming* side with
a file source + availableNow and assert it reproduces the batch result,
plus a watermark late-data drop check with a two-file stream.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from pro_etl_spark import streaming_jobs as SJ
from pro_etl_spark.io import dataset_memo, load
from pro_etl_spark.ops.streaming import (
    click_error_interval_join,
    dedup_events,
    enrich_segment,
    session_agg,
    sliding,
    tumbling,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """A stream-source directory holding the sf0.001 events parquet."""
    d = tempfile.mkdtemp(prefix="pro_etl_stream_")
    shutil.copy(f"{SF}/events.parquet", f"{d}/events.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, events_dir):
    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(SJ.tumbling_stream(ev), "t_tumbling")
    got = rows(spark.table("t_tumbling"))
    want = rows(tumbling(load(spark, SF, "events")))
    assert got == want


def test_sliding_stream_matches_batch(spark, events_dir):
    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(SJ.sliding_stream(ev), "t_sliding")
    assert rows(spark.table("t_sliding")) == rows(sliding(load(spark, SF, "events")))


def test_session_stream_matches_batch(spark, events_dir):
    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(SJ.session_stream(ev), "t_session")
    assert rows(spark.table("t_session")) == rows(
        session_agg(load(spark, SF, "events"))
    )


def test_foreach_batch_sink_idempotent(spark, events_dir, tmp_path):
    """foreachBatch parquet sink: contents match the batch dedup, and
    re-running the stream from scratch (replaying every epoch) leaves
    the output identical — the epoch-partition overwrite makes replays
    idempotent."""
    out = str(tmp_path / "fb_out")
    counts = []
    for _ in range(2):  # second run replays all epochs from scratch
        ev = SJ.read_events_stream(spark, events_dir)
        SJ.run_foreach_batch_parquet(SJ.dedup_stream(ev), out)
        counts.append(spark.read.parquet(out).count())
    assert counts[0] == counts[1], "replay duplicated rows — sink not idempotent"
    got_keys = {
        (r.user_id, r.event_type)
        for r in spark.read.parquet(out).select("user_id", "event_type").collect()
    }
    want_keys = {
        (r.user_id, r.event_type)
        for r in load(spark, SF, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got_keys == want_keys


def test_stream_static_join_matches_batch(spark, events_dir):
    ev = SJ.read_events_stream(spark, events_dir)
    cust = load(spark, SF, "customer")
    SJ.run_to_memory(SJ.enriched_stream(ev, cust), "t_enriched")
    got = rows(spark.table("t_enriched"))
    want = rows(enrich_segment(load(spark, SF, "events"), cust))
    assert got == want


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream interval join (append mode) emits
    exactly the batch join's pairs once both watermarks pass."""
    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(SJ.click_error_stream(ev), "t_ssjoin", output_mode="append")
    got = rows(spark.table("t_ssjoin"))
    bev = load(spark, SF, "events")
    want = rows(
        click_error_interval_join(
            bev.where(F.col("event_type") == "click"),
            bev.where(F.col("event_type") == "error"),
        )
    )
    assert got == want


def test_stream_stream_left_outer_matches_batch(spark, events_dir):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    inner join exactly; NULL-error rows are emitted only for clicks the
    final watermark has proven unmatched, so parity for them is
    asserted on the watermark-safe prefix (clicks older than max_ts −
    watermark − join interval) and set-containment on the rest."""
    import datetime

    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(
        SJ.click_error_outer_stream(ev), "t_ssouter", output_mode="append"
    )
    got = spark.table("t_ssouter")
    bev = load(spark, SF, "events")
    want = click_error_interval_join(
        bev.where(F.col("event_type") == "click"),
        bev.where(F.col("event_type") == "error"),
        how="left_outer",
    )
    # matched rows: exact parity with the batch join
    assert rows(got.where(F.col("error_id").isNotNull())) == rows(
        want.where(F.col("error_id").isNotNull())
    )
    # outer (NULL) rows: none spurious ...
    got_nulls = set(rows(got.where(F.col("error_id").isNull())))
    want_nulls = set(rows(want.where(F.col("error_id").isNull())))
    assert got_nulls <= want_nulls
    # ... and complete on the watermark-safe prefix. The engine's
    # global watermark is the MIN across both input streams
    # (multipleWatermarkPolicy=min), so the safe horizon derives from
    # the EARLIER of the two sides' max event times.
    max_ts = min(
        bev.where(F.col("event_type") == t).agg(F.max("ts")).collect()[0][0]
        for t in ("click", "error")
    )
    safe = max_ts - datetime.timedelta(minutes=30)
    missing = {r for r in want_nulls - got_nulls if r[3] <= safe}
    assert not missing


def test_dedup_stream_keyset_matches_batch(spark, events_dir):
    """dropDuplicatesWithinWatermark keeps an arbitrary first-seen row
    per key (order depends on file/partition order), so parity is on the
    key set + one-row-per-key, not on which row survived."""
    ev = SJ.read_events_stream(spark, events_dir)
    SJ.run_to_memory(SJ.dedup_stream(ev), "t_dedup", output_mode="append")
    got = spark.table("t_dedup").select("user_id", "event_type")
    keys = rows(got)
    assert len(keys) == len(set(keys)), "one surviving row per key"
    want = rows(dedup_events(load(spark, SF, "events")).select("user_id", "event_type"))
    assert sorted(set(keys)) == want


def test_apply_in_pandas_with_state_running_totals(spark):
    """Custom stateful operator: two micro-batches (one file each) feed
    a per-user accumulator in the state store; the final emission per
    user must equal the batch groupBy over both files, proving state
    carried across micro-batches."""
    d = tempfile.mkdtemp(prefix="pro_etl_state_")
    try:
        base = 1_700_000_000
        rows1 = [(1, (base + i) * 10**9, 100 + (i % 2), "click", 1.5, "{}") for i in range(6)]
        rows2 = [(10 + i, (base + 60 + i) * 10**9, 100 + (i % 3), "view", 2.0, "{}") for i in range(6)]
        spark.createDataFrame(rows1, SJ.EVENTS_RAW_SCHEMA).coalesce(1).write.parquet(f"{d}/f1")
        time.sleep(1.1)
        spark.createDataFrame(rows2, SJ.EVENTS_RAW_SCHEMA).coalesce(1).write.parquet(f"{d}/f2")

        ev = SJ.read_events_stream(spark, f"{d}/f*")
        SJ.run_to_memory(
            SJ.running_totals_stream(ev), "t_state", output_mode="update"
        )
        emitted = spark.table("t_state")
        # totals are monotone, so the max per user is the final state
        final = {
            r.user_id: (r.n_events, r.total_value)
            for r in emitted.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
            .collect()
        }
        both = spark.createDataFrame(rows1 + rows2, SJ.EVENTS_RAW_SCHEMA)
        want = {
            r.user_id: (r.n, r.t)
            for r in both.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert final == want
        # state actually crossed batches: user 100/101 appear in both
        # files, so they must have >1 emission
        multi = emitted.groupBy("user_id").count().where("count > 1").count()
        assert multi >= 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_drops_late_data(spark):
    """T4: two availableNow runs over a shared checkpoint. Run 1 sees
    on-time events and persists watermark = max(ts) − 10 min in the
    checkpoint; run 2 (restart, same checkpoint) ingests a file whose
    event is an hour older than that watermark, so the windowed
    aggregate must drop it — its window never appears, in either run's
    append output. Also exercises checkpoint recovery."""
    d = tempfile.mkdtemp(prefix="pro_etl_late_")
    src, ckpt = f"{d}/src", f"{d}/ckpt"
    os.makedirs(src)
    try:
        base = 1_700_000_000  # seconds
        spark.createDataFrame(
            [(1, (base + 3600) * 10**9, 1, "click", 1.0, "{}"),
             (2, (base + 3660) * 10**9, 1, "click", 1.0, "{}"),
             # a second hour so the first hour's window closes in run 1
             (4, (base + 7200) * 10**9, 1, "click", 1.0, "{}")],
            SJ.EVENTS_RAW_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

        out = f"{d}/out"

        def run(_name):
            ev = SJ.read_events_stream(spark, src)
            q = (
                SJ.tumbling_stream(ev, watermark="10 minutes")
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out)

        got1 = run("t_late_r1")
        # run 1 closed the [base+3600, base+4200) window (watermark is
        # base+7200-600s past its end)
        assert got1.where(F.col("n_events") == 2).count() == 1

        spark.createDataFrame(
            [(3, base * 10**9, 1, "click", 99.0, "{}")],  # ~2 h late
            SJ.EVENTS_RAW_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        got2 = run("t_late_r2")
        late_windows = got2.where(
            F.col("win_start") <= F.timestamp_seconds(F.lit(base))
        )
        assert late_windows.count() == 0, "late event must be dropped"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_ran_multiple_real_batches(spark):
    """stream_foreach_batch stages two source files with
    maxFilesPerTrigger=1, so foreachBatch must have executed at least
    twice: the append-only journal then holds more rows than the
    compacted result (each batch re-emits its users' latest)."""
    import pro_etl_spark

    res = pro_etl_spark.get_queries()["stream_foreach_batch"](
        spark, "/root/testdata/sf0.001"
    )
    n_final = res.count()
    journal_dir = dataset_memo(
        spark, SF, "fb_journal",
        lambda: pytest.fail("stream_foreach_batch memoized no journal"),
    )
    n_journal = spark.read.parquet(journal_dir).count()
    assert n_final > 0
    assert n_journal > n_final  # >1 batch appended overlapping user sets


def test_session_state_stream_prefix_parity(spark):
    """EventTimeTimeout sessionization: every emitted session must be
    a REAL batch session (same start, same size), and every batch
    session provably closable against the first micro-batch's
    watermark must have been emitted by the timeout path."""
    import datetime

    import pro_etl_spark
    from pyspark.sql import Window

    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in pro_etl_spark.get_queries()["stream_session_state"](
            spark, SF
        ).collect()
    }
    assert got  # the timeout path really fired
    # batch twin with session END times (gaps-and-islands, 5-min gap)
    ev = load(spark, SF, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "new_s",
        (
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                >= F.lag("ts").over(w) + F.expr("INTERVAL 5 MINUTES")
            )
        ).cast("long"),
    ).withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    batch = (
        flagged.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .collect()
    )
    batch_set = {(r.user_id, r.session_start, r.n_events) for r in batch}
    assert got <= batch_set
    # completeness on the watermark-safe prefix: sessions closable
    # against watermark(after batch 1) = max_ts(early 80%) - 1 minute
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.8)")
    ).collect()[0][0]
    max_a = (
        ev.where(F.unix_micros("ts") <= cut).agg(F.max("ts")).collect()[0][0]
    )
    wm1 = max_a - datetime.timedelta(minutes=1)
    must_emit = {
        (r.user_id, r.session_start, r.n_events)
        for r in batch
        # strict <, matching the engine's timeout-firing convention
        # (see test_session_state_tie_at_watermark_stays_open)
        if r.session_end + datetime.timedelta(minutes=5) < wm1
    }
    assert must_emit <= got


def test_checkpoint_recovery_resumes(spark, tmp_path):
    """Checkpoint recovery: a streaming aggregation run to completion
    on the first half of the input, then RESTARTED with the same
    checkpoint after the second half arrives, must process only the
    NEW file (resumed batch ids strictly after run 1's) and converge
    to the full batch answer — the restart-resumes-not-reprocesses
    contract production streams live by. (Both runs use availableNow
    and terminate on their own: staging the second file only between
    runs makes the batch split deterministic — an earlier version
    stopped run 1 mid-flight, which raced: run 1 could finish
    everything, leaving run 2's memory sink empty.)"""
    import glob

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    full = load(spark, SF, "events").select("event_id", "ts", "user_id", "value")
    os.makedirs(src)
    halves = []
    for i, pred in enumerate(
        (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)
    ):
        half = str(tmp_path / f"half_{i}")
        full.where(pred).coalesce(1).write.parquet(half)
        halves.append(glob.glob(f"{half}/*.parquet")[0])

    def run_once(table):
        q = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("tot"),
            )
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
        )
        return q.start()

    # run 1: only the first half staged — drains it and terminates
    shutil.copy(halves[0], f"{src}/part_0.parquet")
    q1 = run_once("t_ck1")
    q1.awaitTermination()
    done_ids = {p["batchId"] for p in q1.recentProgress}
    assert done_ids, "run 1 committed no batch"
    # run 2: second half arrives; same checkpoint — must resume, not
    # restart
    shutil.copy(halves[1], f"{src}/part_1.parquet")
    q2 = run_once("t_ck2")
    q2.awaitTermination()
    resumed_ids = {p["batchId"] for p in q2.recentProgress}
    assert resumed_ids, "run 2 processed nothing despite new input"
    assert max(done_ids) < min(resumed_ids), (
        "restart reprocessed already-committed batches"
    )
    got = {
        (r.user_id, r.n, r.tot) for r in spark.table("t_ck2").collect()
    }
    want = {
        (r.user_id, r.n, r.tot)
        for r in full.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("tot"),
        )
        .collect()
    }
    assert got == want


def test_session_state_tie_at_watermark_stays_open(spark, tmp_path):
    """Pin the boundary predicate of the round-11 value oracle with a
    constructed corpus the real data never produces: a session whose
    last_event + gap lands EXACTLY on the final watermark
    (max(ts) − 1 min). The engine fires an event-time timeout only
    when the watermark passes STRICTLY beyond the set timestamp, and
    the handler sweep is strict to match (streaming_jobs.py), so the
    tie session must stay in state — exactly what the oracle's
    strict `<` twin predicts. (Under a `<=` sweep the tie's fate
    depended on whether a sibling session triggered the callback —
    the divergence this test originally caught.)"""
    import datetime

    import pandas as pd

    import pro_etl_spark

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    # user 7: session A = {10:00} (ends 10:00); session B = {10:06}
    # (the global max). Final watermark = 10:06 − 1 min = 10:05;
    # A closes at 10:00 + 5 min = 10:05 == watermark → the tie.
    # user 8: one event at 10:00 → closes 10:05 == watermark too,
    # but 8 ALSO has a strictly-closable session at 09:30 (09:35 <
    # 10:05) whose callback would have swept a tie under <=.
    rows = [
        (0, t0, 7, "click", 0.0, "{}"),
        (1, t0 + datetime.timedelta(minutes=6), 7, "click", 0.0, "{}"),
        (2, t0 - datetime.timedelta(minutes=30), 8, "click", 0.0, "{}"),
        (3, t0, 8, "click", 0.0, "{}"),
    ]
    d = str(tmp_path / "tie")
    import os

    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(f"{d}/events.parquet")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in pro_etl_spark.get_queries()["stream_session_state"](
            spark, d
        ).collect()
    }
    # only user 8's strictly-closable 09:30 session emits; both tie
    # sessions (users 7 and 8 at 10:00) and the 10:06 max stay open
    assert got == {(8, t0 - datetime.timedelta(minutes=30), 1)}, got


def test_running_totals_state_carries_across_many_batches(spark, tmp_path):
    """T5's core claim — integer-exact state carry-over — exercised
    across REAL micro-batch boundaries: the registered query stages
    one file (one data batch), so this splits events into 3 files
    with maxFilesPerTrigger=1 and asserts (a) the engine genuinely
    ran ≥3 micro-batches and (b) the collapsed final state equals the
    batch aggregate exactly — the associative-exactness contract
    independent of how rows were batched."""
    from pro_etl_spark import streaming_jobs as S

    ev = load(spark, SF, "events")
    src = str(tmp_path / "split3")
    for i in range(3):
        ev.where(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}.parquet")
    import glob
    import os
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(3):
        shutil.copy(
            glob.glob(f"{src}/f{i}.parquet/*.parquet")[0],
            f"{flat}/part_{i}.parquet",
        )
    stream = S.read_events_stream(spark, flat)
    q = S.run_to_memory(
        S.running_totals_exact_stream(stream), "rt_split3", output_mode="update"
    )
    n_data_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_data_batches >= 3, n_data_batches
    emitted = spark.table("rt_split3")
    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(total_micros, n_events)").alias("total_micros"),
        )
        .collect()
    )
    batch = {
        r.user_id: (r.n, r.m)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long")
            ).alias("m"),
        )
        .collect()
    }
    assert {r.user_id: (r.n_events, r.total_micros) for r in final} == batch


def test_topk_state_carries_across_many_batches(spark, tmp_path):
    """Same multi-batch exercise for the top-k leaderboard: 3 files →
    3+ data batches, and the final per-user top-3 must equal the batch
    window-rank exactly (integer-micros ordering makes the state
    batching-invariant; the registered key only ever sees one batch)."""
    from pyspark.sql import Window

    from pro_etl_spark import streaming_jobs as S

    ev = load(spark, SF, "events")
    import glob
    import os
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(3):
        tmp = str(tmp_path / f"s{i}")
        ev.where(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/*.parquet")[0], f"{flat}/part_{i}.parquet")
    stream = S.read_events_stream(spark, flat)
    q = S.run_to_memory(
        S.topk_state_stream(stream, k=3), "topk_split3", output_mode="update"
    )
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) >= 3
    emitted = spark.table("topk_split3")
    w = Window.partitionBy("user_id")
    final = {
        (r.user_id, r.rank, r.micros, r.event_id)
        for r in emitted.withColumn("mx", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("mx"))
        .select("user_id", "rank", "micros", "event_id")
        .collect()
    }
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("micros"), F.asc("event_id")
    )
    batch = {
        (r.user_id, r.rank, r.micros, r.event_id)
        for r in ev.select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * F.lit(1_000_000.0))
            .cast("long")
            .alias("micros"),
        )
        .withColumn("rank", F.row_number().over(wb))
        .where(F.col("rank") <= 3)
        .collect()
    }
    assert final == batch
