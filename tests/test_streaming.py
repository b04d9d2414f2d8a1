"""Structured Streaming jobs: batch/stream consistency pins.

Each live stream (availableNow → memory sink) must produce exactly what the
same transformation computes over a batch read of the same files — the
engine's core streaming guarantee (``withWatermark`` is a no-op in batch, so
one function body serves both modes).  sf0.001 keeps each run a few seconds.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hackatonbigdata_spark.streaming import jobs
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark):
    return jobs.read_events_stream(spark, SF_DIR)


@pytest.fixture(scope="module")
def events_batch(spark):
    return jobs.read_events_batch(spark, SF_DIR)


def _sorted_pdf(df, cols):
    return df.toPandas().sort_values(cols).reset_index(drop=True)


def test_tumbling_hourly_stream_matches_batch(spark, events_stream, events_batch):
    jobs.run_to_memory(
        jobs.tumbling_hourly_stream(events_stream), "t_tumbling", "complete"
    )
    got = spark.table("t_tumbling")
    batch = jobs.tumbling_hourly_stream(events_batch)
    keys = ["window_start", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(batch, keys), rtol=1e-9
    )


def test_threshold_alerts_stream_matches_batch(spark, events_stream, events_batch):
    jobs.run_to_memory(
        jobs.threshold_alerts_stream(events_stream), "t_alerts", "complete"
    )
    got = spark.table("t_alerts")
    batch = jobs.threshold_alerts_stream(events_batch)
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, ["window_start"]), _sorted_pdf(batch, ["window_start"])
    )


def test_dedup_stream_matches_batch_twin(spark, events_stream, events_batch):
    """Append-mode dedup: every emitted row must be exactly the batch twin's
    survivor for its (user, type, 10-min bucket); every bucket closed before
    the final watermark must have been emitted; state is watermark-keyed."""
    jobs.run_to_memory(jobs.dedup_stream(events_stream), "t_dedup", "append")
    got = _sorted_pdf(spark.table("t_dedup"), ["event_id"])
    # batch twin: withWatermark is a no-op in batch, same function body
    bpdf = _sorted_pdf(jobs.dedup_stream(events_batch), ["event_id"])

    # every stream row is a batch-survivor row, byte-for-byte
    merged = got.merge(bpdf, on=["user_id", "event_type", "ts"], suffixes=("_s", "_b"))
    assert len(merged) == len(got), "stream emitted a row the batch dedup doesn't keep"
    assert (merged["event_id_s"] == merged["event_id_b"]).all()
    assert (merged["value_s"] - merged["value_b"]).abs().max() < 1e-9

    # completeness: buckets whose window end precedes the final watermark
    # must all have been emitted (later ones may be withheld in append mode)
    final_wm = events_batch.agg(F.max("ts")).first()[0] - pd.Timedelta(minutes=10)
    bucket_end = bpdf["ts"].dt.floor("10min") + pd.Timedelta(minutes=10)
    closed = bpdf[bucket_end <= final_wm]
    assert len(got) >= len(closed)
    # and the registry's oracled batch query agrees with the batch twin
    from hackatonbigdata_spark.registry import all_queries

    oracle_q = _sorted_pdf(
        all_queries()["stream_dedup_within_watermark"](spark, SF_DIR), ["event_id"]
    )
    pd.testing.assert_frame_equal(
        bpdf[["event_id", "user_id", "event_type", "ts"]],
        oracle_q[["event_id", "user_id", "event_type", "ts"]],
    )


def test_stateful_user_counter_totals(spark, events_stream, events_batch):
    jobs.run_to_memory(
        jobs.stateful_user_counter_stream(events_stream), "t_counter", "update"
    )
    # final state per user (last update) must equal the batch totals
    final = (
        spark.table("t_counter")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    expect = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    f = _sorted_pdf(final, ["user_id"])
    e = _sorted_pdf(expect, ["user_id"])
    pd.testing.assert_series_equal(f["n_events"], e["n_events"], check_names=False)
    pd.testing.assert_series_equal(
        f["total_value"].round(6), e["total_value"].round(6), check_names=False
    )


def test_session_windows_stream_emits_watermark_closed_sessions(
    spark, events_stream, events_batch
):
    """Append-mode sessions: everything emitted must match the batch result
    exactly, and every batch session that closed before the final watermark
    must have been emitted."""
    jobs.run_to_memory(
        jobs.session_windows_stream(events_stream), "t_sessions", "append"
    )
    got = _sorted_pdf(
        spark.table("t_sessions"), ["user_id", "session_start"]
    )
    batch = jobs.session_windows_stream(events_batch)
    bpdf = _sorted_pdf(batch, ["user_id", "session_start"])

    # emitted rows are exactly the batch rows for those sessions
    key = ["user_id", "session_start"]
    merged = got.merge(bpdf, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(got), "stream emitted a session batch doesn't have"
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["sum_value_s"] - merged["sum_value_b"]).abs().max() < 1e-6

    # completeness: sessions closed before the final watermark must be there
    final_wm = events_batch.agg(F.max("ts")).first()[0] - pd.Timedelta(minutes=10)
    closed = bpdf[bpdf["session_end"] <= final_wm]
    assert len(got) >= len(closed)


def test_tumbling_stream_parquet_sink_roundtrip(spark, events_stream, events_batch, tmp_path):
    """Production sink path: windowed agg -> checkpointed parquet file sink
    (append mode), read back and compared to the batch twin restricted to
    watermark-closed windows.  Memory-sink tests cover semantics; this
    covers the real sink + checkpoint wiring."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    (
        jobs.tumbling_hourly_stream(events_stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = _sorted_pdf(spark.read.parquet(out), ["window_start", "event_type"])
    batch = jobs.tumbling_hourly_stream(events_batch)
    bpdf = _sorted_pdf(batch, ["window_start", "event_type"])
    # append mode emits only watermark-closed windows; all emitted rows must
    # equal the batch rows and closed windows must be complete
    key = ["window_start", "event_type"]
    merged = got.merge(bpdf, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["sum_value_s"] - merged["sum_value_b"]).abs().max() < 1e-9
    final_wm = events_batch.agg(F.max("ts")).first()[0] - pd.Timedelta(minutes=10)
    closed = bpdf[bpdf["window_start"] + pd.Timedelta(hours=1) <= final_wm]
    assert len(got) >= len(closed)


def test_rate_limit_stream_one_alert_per_user_window(spark, events_stream, events_batch):
    """dropDuplicatesWithinWatermark path: exactly one surviving alert per
    (user, 5-min window), same windows as the oracled batch query (the
    surviving row may differ: arrival-order vs ts-order keep-first)."""
    jobs.run_to_memory(jobs.rate_limit_stream(events_stream), "t_ratelimit", "append")
    got = spark.table("t_ratelimit").toPandas()
    got["win"] = got["ts"].dt.floor("5min")
    assert got.groupby(["user_id", "win"]).size().max() == 1
    # same (user, window) membership as the batch twin
    from hackatonbigdata_spark.registry import all_queries

    batch = all_queries()["stream_alert_rate_limit"](spark, SF_DIR).toPandas()
    batch["win"] = batch["ts"].dt.floor("5min")
    gkeys = set(map(tuple, got[["user_id", "win"]].itertuples(index=False)))
    bkeys = set(map(tuple, batch[["user_id", "win"]].itertuples(index=False)))
    assert gkeys == bkeys
    # every emitted alert is a real error event
    src = jobs.read_events_batch(spark, SF_DIR).filter("event_type = 'error'")
    assert (
        spark.createDataFrame(got[["event_id"]])
        .join(src.select("event_id"), "event_id", "left_anti")
        .count()
        == 0
    )


def test_upsert_serving_table_stream_converges_to_batch(spark, events_batch, tmp_path):
    """foreachBatch MERGE sink: after availableNow drains the source, the
    parquet serving table must equal the batch aggregate — the table-level
    exactly-once property of idempotent keyed upserts."""
    target = str(tmp_path / "serving")
    jobs.upsert_serving_table_stream(spark, SF_DIR, target)
    got = spark.read.parquet(target)
    batch = jobs.tumbling_hourly_stream(events_batch)
    keys = ["window_start", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got.select(*batch.columns), keys),
        _sorted_pdf(batch, keys),
        rtol=1e-9,
    )
    # idempotence: re-running the stream over the same source changes nothing
    jobs.upsert_serving_table_stream(spark, SF_DIR, target)
    again = spark.read.parquet(target)
    pd.testing.assert_frame_equal(
        _sorted_pdf(again.select(*batch.columns), keys),
        _sorted_pdf(batch, keys),
        rtol=1e-9,
    )


def _marker_job_id(spark) -> int:
    """Id of a one-task marker job.  Job ids are sequential across the
    application, so the gap between two markers counts every job launched
    in between, from any thread (a stream runs its batches, and the
    ``foreachBatch`` body, in its own thread and job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (jid,) = sc.statusTracker().getJobIdsForGroup(group)
    return jid


def test_upsert_serving_table_stream_computes_each_batch_once(spark, tmp_path):
    """Regression guard on the sink's cost: each micro-batch is persisted,
    so its emptiness check and the one-pass MERGE write read the cached
    rows instead of re-running the stateful aggregation per action (about
    15 jobs per call when every action re-ran it and the MERGE counted its
    rows with count() actions)."""
    target = str(tmp_path / "serving")
    jobs.upsert_serving_table_stream(spark, SF_DIR, target)  # creates the table
    first = _marker_job_id(spark)
    jobs.upsert_serving_table_stream(spark, SF_DIR, target)  # MERGEs into it
    n_jobs = _marker_job_id(spark) - first - 1
    assert n_jobs <= 8, f"serving-table MERGE call launched {n_jobs} Spark jobs"


def test_interval_join_stream_matches_batch(spark, events_stream, events_batch):
    """Stream-stream interval join (append mode): the emitted (view,
    purchase) pairs must equal the batch interval join over the same files
    — inner joins emit exactly the pairs whose both sides arrived within
    the watermark, which under availableNow over a bounded source is all
    of them."""
    jobs.run_to_memory(
        jobs.interval_join_stream(events_stream), "t_ivjoin", "append"
    )
    got = spark.table("t_ivjoin")
    batch = jobs.interval_join_stream(events_batch)
    keys = ["view_id", "purchase_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(batch, keys), rtol=1e-9
    )
    assert got.count() > 0, "corpus should contain view->purchase pairs"


def test_interval_join_outer_stream_matches_batch(
    spark, events_batch, tmp_path
):
    """Stream-stream LEFT OUTER interval join over the corpus: every
    emitted row must be a row of the batch left join; the matched pairs
    must ALL emit (same guarantee as the inner join); an unmatched view
    emits its null row exactly once, and every view whose window closed
    safely before the final watermark MUST have its null row.  The
    corpus is restreamed via tmp_path with a far sentinel file on BOTH
    sides (the global watermark is the MIN across the view-side and
    purchase-side watermark nodes, so it only advances when both sides
    see late events) plus a trigger file, because evicted state flushes
    in the batch AFTER the watermark advances."""
    import time

    src = str(tmp_path / "ivjoin_outer_corpus")
    ev = events_batch.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.1)
    max_ts = pd.Timestamp(events_batch.agg(F.max("ts")).first()[0])
    far = max_ts + pd.Timedelta(hours=2)
    sentinel = [
        (10**9 + 1, far.to_pydatetime(), 10**9, "view", 1.0),
        (10**9 + 2, far.to_pydatetime(), 10**9 + 1, "purchase", 1.0),
    ]
    spark.createDataFrame(
        sentinel,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.1)
    # pure trigger batch: filtered out of both join inputs, but it makes
    # the engine run one more micro-batch with the advanced watermark
    spark.createDataFrame(
        [(10**9 + 3, far.to_pydatetime(), 10**9 + 2, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.interval_join_outer_stream(stream), "t_ivjoin_outer", "append"
    )
    got = _sorted_pdf(
        spark.table("t_ivjoin_outer"), ["view_id", "purchase_id"]
    )
    got = got[got["view_id"] < 10**9].reset_index(drop=True)
    batch = _sorted_pdf(
        jobs.interval_join_outer_stream(events_batch),
        ["view_id", "purchase_id"],
    )
    # matched pairs: exactly the batch inner pairs
    gm = got[got["purchase_id"].notna()].reset_index(drop=True)
    bm = batch[batch["purchase_id"].notna()].reset_index(drop=True)
    pd.testing.assert_frame_equal(gm, bm, rtol=1e-9)
    # null rows: a subset of the batch null views, each exactly once, and
    # complete — the sentinel watermark (far - 10min) passed every corpus
    # view's 30-minute window, so EVERY batch-null view must be present
    gn = got[got["purchase_id"].isna()]
    bn = batch[batch["purchase_id"].isna()]
    assert gn["view_id"].is_unique
    assert set(gn["view_id"]) == set(bn["view_id"])
    # no view emits both a null row and a matched row
    assert not (set(gn["view_id"]) & set(gm["view_id"]))
    assert len(gn) > 0 and len(gm) > 0


def test_interval_join_outer_null_emission_and_late_match(spark, tmp_path):
    """The eviction semantics themselves, on a crafted 4-batch stream
    (maxFilesPerTrigger=1): an unmatched view's null row emits exactly
    once, only AFTER the watermark passes view_ts + 30min; a purchase
    arriving in a LATER batch but inside the window converts the
    would-be-null row into a real pair (and no null row ever appears for
    it); a view whose window the watermark never passes stays withheld."""
    import time

    base = pd.Timestamp("2024-03-01 00:00:00")

    def m(minutes):
        return base + pd.Timedelta(minutes=minutes)

    batches = [
        # b1: three views — V1 will match now-ish, V2 never matches,
        # V3 matches only in a later batch
        [
            (1, m(0), 1, "view"),
            (2, m(0), 2, "view"),
            (3, m(2), 3, "view"),
        ],
        # b2: V1's purchase, inside its window
        [(10, m(10), 1, "purchase")],
        # b3: V3's LATE purchase — a later batch, but still inside V3's
        # window and inside the watermark → converts the would-be-null row
        [(11, m(25), 3, "purchase")],
        # b4: far events on BOTH sides push the watermark past V1/V2/V3's
        # windows (the global watermark is the MIN across the view-side
        # and purchase-side nodes: wm = 90 - 10 = 80 > 32) so V2 becomes
        # evictable; the far view's own window never closes → withheld,
        # and the far purchase matches nothing (non-preserved side emits
        # nothing unmatched in a left join)
        [(12, m(90), 9, "view"), (13, m(90), 8, "purchase")],
        # b5: pure trigger — filtered from both inputs, but eviction
        # flushes in the batch AFTER the watermark advanced
        [(14, m(91), 7, "click")],
    ]
    src = str(tmp_path / "ivjoin_outer_src")
    for rows in batches:
        pdf = spark.createDataFrame(
            [
                (eid, ts.to_pydatetime(), uid, et, 1.0)
                for eid, ts, uid, et in rows
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        )
        pdf.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)  # distinct mtimes → deterministic batch order
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.interval_join_outer_stream(stream), "t_ivjoin_outer_nulls", "append"
    )
    got = spark.table("t_ivjoin_outer_nulls").toPandas()
    per_view = got.groupby("view_id").size().to_dict()
    # V1: matched in the next batch — one pair row, no null row
    v1 = got[got["view_id"] == 1]
    assert per_view[1] == 1 and v1["purchase_id"].iloc[0] == 10
    # V2: never matched — exactly ONE null row, flushed after the
    # watermark passed its window
    v2 = got[got["view_id"] == 2]
    assert per_view[2] == 1 and pd.isna(v2["purchase_id"].iloc[0])
    assert pd.isna(v2["lag_seconds"].iloc[0])
    # V3: the late in-window purchase converted it — one pair, never a null
    v3 = got[got["view_id"] == 3]
    assert per_view[3] == 1 and v3["purchase_id"].iloc[0] == 11
    # the far view's window never closed → still withheld in the state store
    assert 12 not in per_view


def test_interval_join_full_outer_stream_matches_batch(
    spark, events_batch, tmp_path
):
    """Stream-stream FULL OUTER interval join over the corpus: matched
    pairs equal the batch inner pairs; every batch-null view emits its
    null-purchase row exactly once; every batch-null purchase emits its
    null-view row exactly once (the flank the left join drops).  Corpus
    restreamed with a far sentinel on BOTH sides plus a trigger file,
    same discipline as the left-outer test — the sentinel watermark
    passes every corpus view's window AND every corpus purchase's own
    timestamp (a purchase's eviction point), so both null sets must be
    complete."""
    import time

    src = str(tmp_path / "ivjoin_fo_corpus")
    ev = events_batch.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.1)
    max_ts = pd.Timestamp(events_batch.agg(F.max("ts")).first()[0])
    far = max_ts + pd.Timedelta(hours=2)
    sentinel = [
        (10**9 + 1, far.to_pydatetime(), 10**9, "view", 1.0),
        (10**9 + 2, far.to_pydatetime(), 10**9 + 1, "purchase", 1.0),
    ]
    spark.createDataFrame(
        sentinel,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.1)
    spark.createDataFrame(
        [(10**9 + 3, far.to_pydatetime(), 10**9 + 2, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.interval_join_full_outer_stream(stream), "t_ivjoin_fo", "append"
    )
    got = _sorted_pdf(
        spark.table("t_ivjoin_fo"), ["view_id", "purchase_id"]
    )
    # drop sentinel-touched rows (null ids survive the < comparison via fillna)
    got = got[
        (got["view_id"].fillna(0) < 10**9)
        & (got["purchase_id"].fillna(0) < 10**9)
    ].reset_index(drop=True)
    batch = _sorted_pdf(
        jobs.interval_join_full_outer_stream(events_batch),
        ["view_id", "purchase_id"],
    )
    # matched pairs: exactly the batch inner pairs
    gm = got[
        got["purchase_id"].notna() & got["view_id"].notna()
    ].reset_index(drop=True)
    bm = batch[
        batch["purchase_id"].notna() & batch["view_id"].notna()
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(gm, bm, rtol=1e-9)
    # view flank: every batch-null view present, exactly once, none matched
    gn_v = got[got["purchase_id"].isna()]
    bn_v = batch[batch["purchase_id"].isna()]
    assert gn_v["view_id"].is_unique
    assert set(gn_v["view_id"]) == set(bn_v["view_id"])
    assert not (set(gn_v["view_id"]) & set(gm["view_id"]))
    # purchase flank: every batch-null purchase present, exactly once
    gn_p = got[got["view_id"].isna()]
    bn_p = batch[batch["view_id"].isna()]
    assert gn_p["purchase_id"].is_unique
    assert set(gn_p["purchase_id"]) == set(bn_p["purchase_id"])
    assert not (set(gn_p["purchase_id"]) & set(gm["purchase_id"]))
    # the null-view rows still carry the purchase-side key
    assert gn_p["user_id"].notna().all()
    assert len(gn_v) > 0 and len(gn_p) > 0 and len(gm) > 0


def test_interval_join_full_outer_null_emission_and_late_match(
    spark, tmp_path
):
    """Eviction semantics on BOTH flanks, crafted multi-batch stream:
    an unmatched view null-extends once after the watermark passes
    view_ts + 30min; an unmatched purchase null-extends once after the
    watermark passes purchase_ts; a late in-window arrival on EITHER
    side (purchase-after-view or view-after-purchase across batches)
    converts the would-be-null row into a real pair; rows whose
    eviction point the watermark never passes stay withheld."""
    import time

    base = pd.Timestamp("2024-03-01 00:00:00")

    def m(minutes):
        return base + pd.Timedelta(minutes=minutes)

    batches = [
        # b1: V1 matches in b2; V2 never matches; V3 matches in b3 (late
        # purchase); P2 (user 5) matches a view that only ARRIVES in b3
        [
            (1, m(0), 1, "view"),
            (2, m(0), 2, "view"),
            (3, m(2), 3, "view"),
            (20, m(5), 5, "purchase"),
        ],
        # b2: V1's purchase; P1 (user 4) never finds a view
        [(10, m(10), 1, "purchase"), (21, m(10), 4, "purchase")],
        # b3: V3's late purchase; P2's late view — event-time m(1) is
        # before P2's m(5) and inside its 30-minute lookback, and it is
        # above the current watermark (m(0) after b2), so it joins
        [(11, m(25), 3, "purchase"), (4, m(1), 5, "view")],
        # b4: far events on BOTH sides push the global watermark to
        # m(80), past V2's window close (m(30)) and P1's own timestamp
        # (m(10)); the far rows' own eviction points stay ahead of it
        [(12, m(90), 9, "view"), (13, m(90), 8, "purchase")],
        # b5: pure trigger — eviction flushes in the batch after the
        # watermark advanced
        [(14, m(91), 7, "click")],
    ]
    src = str(tmp_path / "ivjoin_fo_src")
    for rows in batches:
        pdf = spark.createDataFrame(
            [
                (eid, ts.to_pydatetime(), uid, et, 1.0)
                for eid, ts, uid, et in rows
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        )
        pdf.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)  # distinct mtimes → deterministic batch order
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.interval_join_full_outer_stream(stream),
        "t_ivjoin_fo_nulls",
        "append",
    )
    got = spark.table("t_ivjoin_fo_nulls").toPandas()
    # V1: matched next batch — one pair, no null row
    v1 = got[got["view_id"] == 1]
    assert len(v1) == 1 and v1["purchase_id"].iloc[0] == 10
    # V2: never matched — exactly one null-purchase row after eviction
    v2 = got[got["view_id"] == 2]
    assert len(v2) == 1 and pd.isna(v2["purchase_id"].iloc[0])
    assert pd.isna(v2["lag_seconds"].iloc[0])
    # V3: late in-window purchase converted it — one pair, never a null
    v3 = got[got["view_id"] == 3]
    assert len(v3) == 1 and v3["purchase_id"].iloc[0] == 11
    # P2: the view arrived two batches after the purchase, still in
    # window — converted on the purchase flank, no null-view row
    p2 = got[got["purchase_id"] == 20]
    assert len(p2) == 1 and p2["view_id"].iloc[0] == 4
    # P1: never found a view — exactly one null-view row, key preserved
    p1 = got[got["purchase_id"] == 21]
    assert len(p1) == 1 and pd.isna(p1["view_id"].iloc[0])
    assert p1["user_id"].iloc[0] == 4 and pd.isna(p1["lag_seconds"].iloc[0])
    # far rows: eviction points (m(120) view / m(90) purchase) are past
    # the final watermark m(80-81) → both withheld in the state store
    assert 12 not in set(got["view_id"].dropna())
    assert 13 not in set(got["purchase_id"].dropna())


def test_transition_counts_stream_matches_batch(spark, events_stream, events_batch):
    """Stateful streaming transition extraction aggregates to exactly the
    batch seq_event_transitions counts."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.registry import all_queries
    from hackatonbigdata_spark.streaming.jobs import (
        run_to_memory,
        transition_counts_stream,
    )

    run_to_memory(
        transition_counts_stream(events_stream), "transit_stream", "append"
    )
    got = (
        spark.table("transit_stream")
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n_trans").alias("n_trans"))
        .toPandas()
        .set_index(["prev_type", "next_type"])
        .n_trans.to_dict()
    )
    want = (
        all_queries()["seq_event_transitions"](spark, SF_DIR)
        .select("prev_type", "next_type", "n_trans")
        .toPandas()
        .set_index(["prev_type", "next_type"])
        .n_trans.to_dict()
    )
    assert got == want


def test_time_weighted_avg_stream_matches_batch(spark, events_stream, events_batch):
    """The stateful streaming TWA converges to the batch time_weighted_avg
    values (update mode: keep each user's LAST emitted row)."""
    from hackatonbigdata_spark.registry import all_queries
    from hackatonbigdata_spark.streaming.jobs import (
        run_to_memory,
        time_weighted_avg_stream,
    )

    run_to_memory(time_weighted_avg_stream(events_stream), "twa_stream", "update")
    got = (
        spark.table("twa_stream")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
        .set_index("user_id")
        .sort_index()
    )
    want = (
        all_queries()["time_weighted_avg"](spark, SF_DIR)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got.n_intervals == want.n_intervals).all()
    assert (got.span_seconds == want.span_seconds).all()
    assert (got.twa_value - want.twa_value).abs().max() < 1e-3


def test_enriched_segment_hourly_stream_matches_batch(
    spark, events_stream, events_batch
):
    """Stream-static broadcast enrichment: the streaming (hour, segment)
    rollup over the dim-joined stream equals the batch twin exactly —
    integer-quantized sums make the comparison order-free."""
    customers = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    jobs.run_to_memory(
        jobs.enriched_segment_hourly_stream(events_stream, customers),
        "t_enrich",
        "complete",
    )
    got = spark.table("t_enrich")
    batch = jobs.enriched_segment_hourly_stream(events_batch, customers)
    keys = ["window_start", "segment"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))
    # every event lands in a segment (user_id+1 is always a live custkey
    # in this testdata) — the UNKNOWN fallback must stay unused
    assert (
        spark.table("t_enrich").filter(F.col("segment") == "UNKNOWN").count() == 0
    )


def test_running_drawdown_stream_matches_batch_windows(
    spark, events_stream, events_batch
):
    """The stateful running-drawdown kernel converges (update mode, keep
    last row per user) to the exact batch computation: cumulative
    1e-4-quantized value sum, its running peak, and the deepest
    peak-to-trough gap, per user over (ts, event_id) order."""
    from pyspark.sql import Window as W

    jobs.run_to_memory(
        jobs.running_drawdown_stream(events_stream), "t_drawdown", "update"
    )
    got = (
        spark.table("t_drawdown")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
        .set_index("user_id")
        .sort_index()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = F.sum(
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    ).over(w)
    per_row = events_batch.select(
        "user_id",
        cum.alias("cum4"),
        F.max(cum).over(w).alias("peak4"),
    ).withColumn("dd4", F.col("peak4") - F.col("cum4"))
    totals = events_batch.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias(
            "final_cum4"
        )
    )
    want = (
        per_row.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("peak4").alias("peak4"),
            F.max("dd4").alias("max_dd4"),
        )
        .join(totals, "user_id")
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    for col in ["n_events", "final_cum4", "peak4", "max_dd4"]:
        assert (got[col] == want[col]).all(), col


def test_burnrate_stream_matches_batch_query(spark, events_stream):
    """The stateful burn-rate kernel converges (update mode, last row per
    hour) to the oracled batch alert table: identical paging hours and
    identical counts/rates."""
    from hackatonbigdata_spark.registry import all_queries

    jobs.run_to_memory(jobs.burnrate_stream(events_stream), "t_burn", "update")
    got = (
        spark.table("t_burn")
        .toPandas()
        .drop_duplicates("hour", keep="last")
    )
    got = got[got.page_alert].set_index("hour").sort_index()
    want = (
        all_queries()["alert_error_burnrate"](spark, SF_DIR)
        .toPandas()
        .rename(columns={"hour": "hour"})
        .set_index("hour")
        .sort_index()
    )
    assert list(got.index) == list(want.index)
    for col in ["n_err", "n_all", "rate_1h", "rate_6h", "burn_1h"]:
        assert (got[col] == want[col]).all(), col


def test_session_gap_kernel_matches_batch_sessions(spark, events_stream, events_batch):
    """The timeout-driven sessionizer kernel: every emitted session must
    exactly equal a batch session_window(30 min) session, and all but at
    most one (possibly watermark-withheld) session per user must emit —
    in-batch gap closure plus event-time timeouts cover the rest."""
    jobs.run_to_memory(
        jobs.session_gap_kernel_stream(events_stream), "t_gap_sessions", "append"
    )
    got = spark.table("t_gap_sessions").toPandas()
    assert len(got)
    batch = (
        events_batch.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
            ).alias("sum_v4"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_v4",
        )
        .toPandas()
    )
    want = batch.set_index(["user_id", "session_start"]).sort_index()
    n_users = batch["user_id"].nunique()
    # every emitted session matches the batch session exactly
    for _, r in got.iterrows():
        key = (r.user_id, r.session_start)
        assert key in want.index, key
        assert r.n_events == want.loc[key, "n_events"], key
        assert r.sum_v4 == want.loc[key, "sum_v4"], key
    # and at most one session per user (the final, possibly still-open /
    # watermark-withheld one) may be missing
    assert len(got) >= len(batch) - n_users


def test_session_gap_kernel_matches_custom_close_batch_twin(spark, events_stream):
    """The kernel's EXACT close rule (gap >= 30 min, session_end = last
    event ts) now has an oracled batch twin, ``session_gaps_custom_close``;
    every streamed session must equal its batch-twin row on every column —
    a stronger pin than the built-in session_window comparison, which only
    agrees because no gap in this data lands on exactly 30:00."""
    from hackatonbigdata_spark.registry import all_queries

    jobs.run_to_memory(
        jobs.session_gap_kernel_stream(events_stream), "t_gap_twin", "append"
    )
    got = spark.table("t_gap_twin").toPandas()
    assert len(got)
    want = (
        all_queries()["session_gaps_custom_close"](spark, SF_DIR)
        .toPandas()
        .set_index(["user_id", "session_start"])
        .sort_index()
    )
    for _, r in got.iterrows():
        key = (r.user_id, r.session_start)
        assert key in want.index, key
        for col in ["session_end", "n_events", "sum_v4"]:
            assert r[col] == want.loc[key, col], (key, col)
    n_users = want.reset_index()["user_id"].nunique()
    assert len(got) >= len(want) - n_users


def test_funnel_kernel_matches_batch_funnel_counts(spark, events_stream):
    """The stateful funnel kernel (greedy earliest-advance with
    out-of-order repair) must converge to the oracled batch funnel: the
    per-stage user counts from the final per-user rows equal
    event_funnel_conversion's n_users column, and every completed funnel
    is time-ordered."""
    from hackatonbigdata_spark.registry import all_queries

    jobs.run_to_memory(
        jobs.funnel_stage_kernel_stream(events_stream), "t_funnel", "update"
    )
    got = (
        spark.table("t_funnel")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
    )
    want = {
        r.stage: r.n_users
        for r in all_queries()["event_funnel_conversion"](spark, SF_DIR).collect()
    }
    assert got["t1"].notna().sum() == want["signup"]
    assert got["t2"].notna().sum() == want["view"]
    assert got["t3"].notna().sum() == want["click"]
    assert got["t4"].notna().sum() == want["purchase"]
    done = got[got.stage_reached == 4]
    assert (
        (done["t1"] <= done["t2"])
        & (done["t2"] <= done["t3"])
        & (done["t3"] <= done["t4"])
    ).all()


def test_funnel_kernel_repairs_out_of_order_across_batches(spark, tmp_path):
    """The single-file testdata stream collapses to one micro-batch, so this
    test synthesizes a 4-file stream (maxFilesPerTrigger=1 → 4 batches)
    with deliberate IN-WATERMARK late arrivals: u1's view lands a batch
    AFTER a later click, so the kernel must lower t2 retroactively and
    re-open the buffered click for t3 — the repair path a single batch
    never exercises.  u2 checks the ordering constraint: a view BEFORE the
    (late-arriving) signup must never count as stage 2."""
    import time

    base = pd.Timestamp("2024-03-01 00:00:00")

    def m(minutes):
        return base + pd.Timedelta(minutes=minutes)

    batches = [
        # b1: u1 signup + click (view missing); u2 premature view
        [(1, m(0), 1, "signup"), (2, m(8), 1, "click"), (3, m(1), 2, "view")],
        # b2: u1's view arrives LATE (ts before the already-seen click,
        # inside the 10-min watermark) + the eventual purchase
        [(4, m(5), 1, "view"), (5, m(20), 1, "purchase")],
        # b3: u2 signs up (after their old view)
        [(6, m(30), 2, "signup")],
        # b4: u2 completes in order
        [(7, m(32), 2, "view"), (8, m(33), 2, "click"), (9, m(35), 2, "purchase")],
    ]
    src = str(tmp_path / "funnel_src")
    for rows in batches:
        pdf = spark.createDataFrame(
            [(eid, ts.to_pydatetime(), uid, et, 1.0) for eid, ts, uid, et in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        )
        pdf.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.funnel_stage_kernel_stream(stream), "t_funnel_ooo", "update"
    )
    got = (
        spark.table("t_funnel_ooo")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
        .set_index("user_id")
    )
    # u1: repair must assemble signup@0 -> view@5 -> click@8 -> purchase@20
    assert got.loc[1, "stage_reached"] == 4
    assert got.loc[1, "t1"] == m(0)
    assert got.loc[1, "t2"] == m(5)
    assert got.loc[1, "t3"] == m(8)
    assert got.loc[1, "t4"] == m(20)
    # u2: the premature view@1 must NOT count; funnel restarts at signup@30
    assert got.loc[2, "stage_reached"] == 4
    assert got.loc[2, "t1"] == m(30)
    assert got.loc[2, "t2"] == m(32)
    assert got.loc[2, "t3"] == m(33)
    assert got.loc[2, "t4"] == m(35)
    # the interim (pre-repair) u1 row from batch 1 must show the stall:
    # stage 1 only, no view yet — proving the repair actually happened
    # across batches rather than everything arriving in one batch
    first_u1 = spark.table("t_funnel_ooo").toPandas().query("user_id == 1").iloc[0]
    assert first_u1["stage_reached"] == 1


def test_session_kernel_merges_late_event_across_batches(spark, tmp_path):
    """Watermark-final discipline: two apparent sessions (00:00 and 00:32,
    gap 32 min) must MERGE into one when a late-but-within-watermark event
    at 00:25 arrives a batch later — and nothing may be emitted before the
    watermark finalizes the merged session (append mode cannot retract).
    The r6 in-batch-closure kernel would have emitted the split sessions
    early and could never repair them."""
    import time

    base = pd.Timestamp("2024-03-01 00:00:00")

    def m(minutes):
        return base + pd.Timedelta(minutes=minutes)

    batches = [
        [(1, m(0), 1, "view", 1.0), (2, m(32), 1, "view", 2.0)],
        [(3, m(25), 1, "view", 4.0)],  # late: wm after b1 = 00:22
        [(4, m(120), 1, "view", 8.0)],  # advances wm to 00:22 -> 01:50...
        [(5, m(180), 1, "view", 16.0)],  # ...finalizing the merged session
    ]
    src = str(tmp_path / "sess_src")
    for rows in batches:
        spark.createDataFrame(
            [(eid, ts.to_pydatetime(), uid, et, v) for eid, ts, uid, et, v in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.run_to_memory(
        jobs.session_gap_kernel_stream(stream), "t_sess_merge", "append"
    )
    got = spark.table("t_sess_merge").toPandas().sort_values("session_start")
    # the merged session is final, and the 02:00 singleton closes once the
    # final watermark (02:50) passes its boundary (02:30) via the re-armed
    # timeout; the 03:00 singleton (close 03:30) stays withheld
    assert len(got) == 2, got
    r = got.iloc[0]
    assert r.session_start == m(0)
    assert r.session_end == m(32)
    assert r.n_events == 3
    assert r.sum_v4 == 70000  # (1.0 + 2.0 + 4.0) * 1e4
    r2 = got.iloc[1]
    assert r2.session_start == m(120)
    assert r2.session_end == m(120)
    assert r2.n_events == 1
    assert r2.sum_v4 == 80000


def _ooo_stream(spark, tmp_path, name, batches):
    """Write each batch to its own parquet file (distinct mtimes) and
    return a maxFilesPerTrigger=1 readStream over the directory — one
    micro-batch per listed batch, in order."""
    import time

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    src = str(tmp_path / name)
    for rows in batches:
        spark.createDataFrame(
            [(eid, ts.to_pydatetime(), uid, et, v) for eid, ts, uid, et, v in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )


def test_twa_kernel_retimes_late_event_across_batches(spark, tmp_path):
    """A late-but-within-watermark event must be integrated at its EVENT
    time: 10 held for 12 min then 20 for 8 min (twa 14.0), not 10 held the
    whole 20 minutes with the late point skipped."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    m = lambda mm: base + pd.Timedelta(minutes=mm)  # noqa: E731
    stream = _ooo_stream(
        spark,
        tmp_path,
        "twa_src",
        [
            [(1, m(0), 1, "view", 10.0), (2, m(20), 1, "view", 30.0)],
            [(3, m(12), 1, "view", 20.0)],  # wm after b1 = 00:10
        ],
    )
    jobs.run_to_memory(jobs.time_weighted_avg_stream(stream), "t_twa_ooo", "update")
    got = (
        spark.table("t_twa_ooo")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
        .set_index("user_id")
    )
    assert got.loc[1, "n_intervals"] == 2
    assert got.loc[1, "span_seconds"] == 1200
    assert got.loc[1, "twa_value"] == (10 * 720 + 20 * 480) / 1200.0


def test_drawdown_kernel_reorders_path_across_batches(spark, tmp_path):
    """The cumulative path must follow EVENT order: +10, +6(late), -8 peaks
    at 16; the arrival-order path (+10, -8, +6) would peak at 10."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    m = lambda mm: base + pd.Timedelta(minutes=mm)  # noqa: E731
    stream = _ooo_stream(
        spark,
        tmp_path,
        "dd_src",
        [
            [(1, m(0), 1, "view", 10.0), (2, m(20), 1, "view", -8.0)],
            [(3, m(12), 1, "view", 6.0)],  # wm after b1 = 00:10
        ],
    )
    jobs.run_to_memory(
        jobs.running_drawdown_stream(stream), "t_dd_ooo", "update"
    )
    got = (
        spark.table("t_dd_ooo")
        .toPandas()
        .drop_duplicates("user_id", keep="last")
        .set_index("user_id")
    )
    assert got.loc[1, "final_cum4"] == 80000
    assert got.loc[1, "peak4"] == 160000
    assert got.loc[1, "max_dd4"] == 80000


def test_transition_kernel_retracts_split_pair_across_batches(spark, tmp_path):
    """Retractable deltas: signup->click is emitted in batch 1, then the
    late view splits it — batch 2 must emit signup->click -1 plus
    signup->view +1 and view->click +1, so the delta SUM equals the true
    in-order transitions."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    m = lambda mm: base + pd.Timedelta(minutes=mm)  # noqa: E731
    stream = _ooo_stream(
        spark,
        tmp_path,
        "tr_src",
        [
            [(1, m(0), 1, "signup", 1.0), (2, m(20), 1, "click", 1.0)],
            [(3, m(12), 1, "view", 1.0)],  # wm after b1 = 00:10
        ],
    )
    jobs.run_to_memory(
        jobs.transition_counts_stream(stream), "t_tr_ooo", "append"
    )
    raw = spark.table("t_tr_ooo").toPandas()
    # the repair really was a retraction, not a lucky single batch
    assert (raw["n_trans"] < 0).any()
    agg = raw.groupby(["prev_type", "next_type"])["n_trans"].sum()
    agg = agg[agg != 0].to_dict()
    assert agg == {("signup", "view"): 1, ("view", "click"): 1}


def test_heavyhitters_stream_matches_batch_topk(spark, events_stream, events_batch):
    """The space-saving kernel's final per-hour top-3 must equal the exact
    batch ranking: sf events hold < 32 distinct users per hour, so the
    k=32 sketch IS the exact multiset count (err 0 everywhere)."""
    jobs.run_to_memory(
        jobs.heavyhitters_topk_stream(events_stream), "t_hh", "update"
    )
    emitted = spark.table("t_hh").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final_pdf = emitted[emitted["n_total"] == last]
    assert (final_pdf["err"] == 0).all()
    expect = (
        events_batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "rnk",
            F.row_number().over(
                __import__("pyspark").sql.Window.partitionBy("hour").orderBy(
                    F.col("n_events").desc(), "user_id"
                )
            ),
        )
        .filter(F.col("rnk") <= 3)
    )
    f = (
        final_pdf[["hour", "rnk", "user_id", "n_events"]]
        .sort_values(["hour", "rnk"])
        .reset_index(drop=True)
    )
    e = _sorted_pdf(expect.select("hour", "rnk", "user_id", "n_events"), ["hour", "rnk"])
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_heavyhitters_kernel_exact_across_batches(spark, tmp_path):
    """3-file stream (maxFilesPerTrigger=1): the sketch accumulates across
    micro-batches and the LAST emission per hour equals the exact counts
    over all three files."""
    files = [
        [(0, 1), (1, 1), (2, 2)],
        [(3, 1), (4, 3), (5, 1)],
        [(6, 2), (7, 1), (8, 1)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(jobs.heavyhitters_topk_stream(stream), "t_hh_mb", "update")
    emitted = spark.table("t_hh_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    assert emitted["n_total"].max() == 9
    # exact counts: user 1 -> 6 events, user 2 -> 2, user 3 -> 1
    got = list(
        final.sort_values("rnk")[["rnk", "user_id", "n_events", "err"]]
        .itertuples(index=False, name=None)
    )
    assert got == [(1, 1, 6, 0), (2, 2, 2, 0), (3, 3, 1, 0)]


def _event_files_stream(spark, tmp_path, files, value_fn=None):
    """Write one parquet dir per micro-batch (list of (minute, user_id)
    rows each) and return a maxFilesPerTrigger=1 file stream over them —
    the multi-batch harness the kernel tests share.  ``value_fn(minute,
    user)`` supplies per-event values (default: constant 1.0)."""
    base = pd.Timestamp("2024-03-01 10:00:00")
    src = tmp_path / "src"
    src.mkdir()
    eid = 0
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(
            {
                "event_id": range(eid, eid + len(rows)),
                "ts": [base + pd.Timedelta(minutes=m) for m, _ in rows],
                "user_id": [u for _, u in rows],
                "event_type": "view",
                "value": [
                    value_fn(m, u) if value_fn else 1.0 for m, u in rows
                ],
                "props": "{}",
            }
        )
        eid += len(rows)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src / f"f{i}")
        )
    schema = spark.read.parquet(str(src / "f0")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )


def test_kmv_distinct_stream_matches_batch_twin(spark, events_stream):
    """The bottom-k KMV kernel's final per-hour cardinality must equal the
    oracled batch twin ``stream_hourly_distinct`` exactly: sf events hold
    < 32 distinct users per hour, so the k=32 sketch stays under budget
    and IS the exact distinct count (``exact`` flag true everywhere)."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_distinct,
    )

    jobs.run_to_memory(jobs.distinct_kmv_stream(events_stream), "t_kmv", "update")
    emitted = spark.table("t_kmv").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    assert final["exact"].all()
    f = (
        final[["hour", "n_total", "n_users"]]
        .sort_values("hour")
        .reset_index(drop=True)
    )
    e = _sorted_pdf(
        stream_hourly_distinct(spark, SF_DIR).select(
            "hour", "n_total", "n_users"
        ),
        ["hour"],
    )
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_kmv_kernel_estimates_beyond_budget_across_batches(spark, tmp_path):
    """3-file stream, k=4, 9 distinct users (> budget): the final per-hour
    state must equal the pure-Python KMV fold over the full multiset —
    the sketch is order/chunking-insensitive, so the Spark state plumbing
    is pinned against the deterministic estimator, beyond the exact
    regime the sf-data test exercises."""
    files = [
        [(0, 0), (0, 1), (1, 2), (1, 3)],
        [(2, 2), (2, 3), (3, 4), (3, 5), (4, 6)],
        [(5, 7), (5, 8), (6, 0), (6, 1)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.distinct_kmv_stream(stream, k=4), "t_kmv_mb", "update"
    )
    emitted = spark.table("t_kmv_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    assert len(final) == 1
    row = final.iloc[0]
    all_users = [u for rows in files for _, u in rows]
    want, _ = jobs.kmv_estimate(jobs.kmv_update(set(), all_users, 4), 4)
    assert int(row["n_total"]) == len(all_users) == 13
    assert not bool(row["exact"])  # 9 distinct > k=4: estimator regime
    assert int(row["n_users"]) == want


def test_heavyhitters_kernel_bounds_beyond_budget_across_batches(spark, tmp_path):
    """3-file stream, k=4, 9 distinct users (> budget): the space-saving
    guarantees must hold in-stream, not just in the fuzzed pure function —
    est - err <= true <= est for every emitted counter, and the top-3
    contains every user whose true count exceeds n/k."""
    from collections import Counter

    files = [
        [(0, 1), (0, 1), (1, 1), (1, 2), (2, 3)],
        [(3, 1), (3, 1), (4, 4), (4, 5), (5, 6), (5, 2)],
        [(6, 7), (6, 8), (7, 2)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.heavyhitters_topk_stream(stream, k=4), "t_hh_small", "update"
    )
    emitted = spark.table("t_hh_small").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    all_users = [u for rows in files for _, u in rows]
    true = Counter(all_users)
    n = len(all_users)
    assert int(final["n_total"].max()) == n == 14
    assert len(final) == 3
    for r in final.itertuples():
        est, err = int(r.n_events), int(r.err)
        assert est - err <= true[int(r.user_id)] <= est
    heavy = {u for u, c in true.items() if c > n / 4}
    assert heavy  # the scenario must actually exercise the guarantee
    assert heavy <= set(final["user_id"].astype(int))


def test_bottomk_sample_stream_matches_batch_twin(spark, events_stream):
    """The bottom-k sampling kernel's final per-hour sample must equal the
    oracled batch twin ``stream_hourly_sample`` EXACTLY — bottom-k state
    is a pure set-of-minima, so equality holds at every scale (no
    under-budget caveat)."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_sample,
    )

    jobs.run_to_memory(
        jobs.sample_bottomk_stream(events_stream), "t_bk", "update"
    )
    emitted = spark.table("t_bk").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    f = (
        final[["hour", "rnk", "event_id", "user_id", "h"]]
        .sort_values(["hour", "rnk"])
        .reset_index(drop=True)
    )
    e = _sorted_pdf(
        stream_hourly_sample(spark, SF_DIR).select(
            "hour", "rnk", "event_id", "user_id", "h"
        ),
        ["hour", "rnk"],
    )
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_bottomk_sample_kernel_across_batches(spark, tmp_path):
    """3-file stream, k=4, 13 distinct events: the final sample must equal
    the pure-Python bottom-k fold over all events — cross-batch state
    accumulation under maxFilesPerTrigger=1."""
    files = [
        [(0, 10), (0, 11), (1, 12), (1, 13)],
        [(2, 14), (2, 15), (3, 16), (3, 17), (4, 18)],
        [(5, 19), (5, 20), (6, 21), (6, 22)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.sample_bottomk_stream(stream, k=4), "t_bk_mb", "update"
    )
    emitted = spark.table("t_bk_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    # _event_files_stream assigns event_ids 0..12 in file order
    all_items = []
    eid = 0
    for rows in files:
        for _, u in rows:
            all_items.append((eid, u))
            eid += 1
    want = jobs.bottomk_update([], all_items, 4)
    got = [
        (int(r.h), int(r.event_id), int(r.user_id))
        for r in final.sort_values("rnk").itertuples()
    ]
    assert int(final["n_total"].max()) == 13
    assert got == want


def test_dgim_stream_matches_pure_fold_and_batch_bound(
    spark, events_stream, events_batch
):
    """The DGIM kernel's final per-user estimate must EQUAL the pure-Python
    DGIM fold of the user's full time-ordered event sequence (the
    no-expiry design makes stream == one-shot fold an exact identity) and
    sit within the published bound of the oracled exact twin
    ``stream_user_trailing_count``."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_user_trailing_count,
    )

    jobs.run_to_memory(
        jobs.trailing_count_dgim_stream(events_stream), "t_dgim", "update"
    )
    emitted = spark.table("t_dgim").toPandas()
    last = emitted.groupby("user_id")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last].set_index("user_id")
    exact = (
        stream_user_trailing_count(spark, SF_DIR).toPandas().set_index("user_id")
    )
    ev = (
        events_batch.select("user_id", "ts", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    assert set(final.index) == set(exact.index)
    for uid, grp in ev.groupby("user_id"):
        ts_us = [int(pd.Timestamp(t).value // 1_000) for t in grp["ts"]]
        buckets = jobs.dgim_fold([], ts_us)
        want_est, want_kept = jobs.dgim_estimate(
            buckets, ts_us[-1], jobs.DGIM_WINDOW_US
        )
        row = final.loc[uid]
        assert int(row["n_total"]) == len(ts_us)
        assert int(row["n_window_est"]) == want_est
        assert int(row["n_buckets"]) == want_kept
        true = int(exact.loc[uid]["n_window"])
        assert abs(want_est - true) <= (true + 1) / 2
        assert pd.Timestamp(row["last_ts"]) == pd.Timestamp(
            exact.loc[uid]["last_ts"]
        )


def test_dgim_kernel_repairs_late_event_across_batches(spark, tmp_path):
    """3-file stream with a late-but-within-watermark event arriving two
    batches after its event time: the final bucket structure must equal
    the one-shot fold of the SORTED sequence — the repair path, which an
    append-where-it-arrived fold would get wrong."""
    files = [
        [(0, 1), (1, 1), (2, 1)],
        [(9, 1), (3, 1)],
        [(10, 1), (4, 1), (11, 1)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.trailing_count_dgim_stream(stream), "t_dgim_mb", "update"
    )
    emitted = spark.table("t_dgim_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    assert len(final) == 1
    base = pd.Timestamp("2024-03-01 10:00:00").value // 1_000
    ts_us = sorted(base + m * 60_000_000 for rows in files for m, _ in rows)
    want_est, want_kept = jobs.dgim_estimate(
        jobs.dgim_fold([], ts_us), ts_us[-1], jobs.DGIM_WINDOW_US
    )
    row = final.iloc[0]
    assert int(row["n_total"]) == 8
    assert int(row["n_window_est"]) == want_est
    assert int(row["n_buckets"]) == want_kept


def test_cms_stream_matches_batch_twin(spark, events_stream):
    """The count-min sketch kernel's final per-hour point estimates must
    equal the oracled batch twin ``stream_hourly_cms`` EXACTLY — CMS
    counters are plain sums of increments (order/chunking/duplication
    commutative), so equality holds at every scale with no under-budget
    caveat, and the twin reconstructs the very same counter cells as
    grouped sums over the shared md5 bucket hash."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_cms,
    )

    jobs.run_to_memory(jobs.freq_cms_stream(events_stream), "t_cms", "update")
    emitted = spark.table("t_cms").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    f = (
        final[["hour", "user_id", "est"]]
        .sort_values(["hour", "user_id"])
        .reset_index(drop=True)
    )
    e = _sorted_pdf(
        stream_hourly_cms(spark, SF_DIR)
        .withColumnRenamed("cms_est", "est")
        .select("hour", "user_id", "est"),
        ["hour", "user_id"],
    )
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_cms_kernel_collisions_across_batches(spark, tmp_path):
    """3-file stream, 2x4 grid, 9 distinct users (> width, so collisions
    are structural): the final counter-derived estimates must equal the
    pure-Python fold over the full multiset, every estimate must respect
    true <= est <= n in-stream, and the scenario must actually produce an
    overcount — pinning the Spark state plumbing in the collision regime
    the sf-data twin test never reaches."""
    from collections import Counter

    files = [
        [(0, 0), (0, 1), (1, 2), (1, 3), (2, 0)],
        [(3, 4), (3, 5), (4, 6), (4, 0), (5, 1)],
        [(6, 7), (6, 8), (7, 2), (7, 0)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.freq_cms_stream(stream, d=2, w=4, monitored=tuple(range(9))),
        "t_cms_mb",
        "update",
    )
    emitted = spark.table("t_cms_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    all_users = [u for rows in files for _, u in rows]
    true = Counter(all_users)
    n = len(all_users)
    assert int(final["n_total"].max()) == n == 14
    assert len(final) == 9
    counters = jobs.cms_update([0] * 8, all_users, 2, 4)
    overcounted = False
    for r in final.itertuples():
        u, est = int(r.user_id), int(r.est)
        assert est == jobs.cms_query(counters, u, 2, 4)
        assert true[u] <= est <= n
        overcounted = overcounted or est > true[u]
    assert overcounted


def test_quantile_histogram_stream_matches_batch_twin(spark, events_stream):
    """The histogram quantile kernel's final per-hour p50/p90/p99 must
    equal the oracled batch twin ``stream_hourly_value_quantiles``
    EXACTLY — histogram state is a plain sum of increments, so equality
    holds at every scale with no under-budget caveat."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_value_quantiles,
    )

    jobs.run_to_memory(
        jobs.value_quantiles_histogram_stream(events_stream), "t_hq", "update"
    )
    emitted = spark.table("t_hq").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    f = (
        final[["hour", "n_total", "pct", "cent", "value"]]
        .sort_values(["hour", "pct"])
        .reset_index(drop=True)
    )
    e = _sorted_pdf(
        stream_hourly_value_quantiles(spark, SF_DIR)
        .withColumnRenamed("n_events", "n_total")
        .select("hour", "n_total", "pct", "cent", "value"),
        ["hour", "pct"],
    )
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_quantile_histogram_kernel_across_batches(spark, tmp_path):
    """3-file stream: the final per-hour percentiles must equal the
    pure-Python fold over all events — cross-batch histogram
    accumulation under maxFilesPerTrigger=1, over a spread value
    distribution so each percentile lands on a different grid point."""
    files = [
        [(0, 0), (0, 1), (1, 2), (1, 3)],
        [(2, 2), (2, 3), (3, 4), (3, 5), (4, 6)],
        [(5, 7), (5, 8), (6, 0), (6, 1)],
    ]
    value_fn = lambda m, u: (m * 7 + u * 3) % 11 + 0.25  # noqa: E731
    stream = _event_files_stream(spark, tmp_path, files, value_fn)
    jobs.run_to_memory(
        jobs.value_quantiles_histogram_stream(stream), "t_hq_mb", "update"
    )
    emitted = spark.table("t_hq_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    n = sum(len(rows) for rows in files)
    assert int(final["n_total"].max()) == n == 13
    assert len(final) == 3
    cents = [
        jobs.hist_cent(value_fn(m, u)) for rows in files for m, u in rows
    ]
    assert len(set(cents)) >= 5  # the scenario must spread the grid
    counter = jobs.hist_update({}, cents)
    want = {pct: jobs.hist_quantile(counter, pct)[0] for pct in (50, 90, 99)}
    assert len(set(want.values())) >= 2  # percentiles must differ
    for r in final.itertuples():
        assert int(r.cent) == want[int(r.pct)]
        assert float(r.value) == want[int(r.pct)] / 100.0


def test_bloom_stream_matches_batch_twin(spark, events_stream):
    """The Bloom membership kernel's final per-hour lit-bit count and
    fill-rate estimate must equal the oracled batch twin
    ``stream_hourly_bloom`` EXACTLY — Bloom state is a pure OR-fold
    (idempotent set union, order/chunking/duplication/merge
    commutative), so equality holds at every scale with no under-budget
    caveat, and the twin reconstructs the very same lit-bit set as a
    DISTINCT over the shared md5 positions."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_bloom,
    )

    jobs.run_to_memory(
        jobs.bloom_membership_stream(events_stream), "t_bloom", "update"
    )
    emitted = spark.table("t_bloom").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    f = (
        final[["hour", "n_total", "n_bits_set", "est_users"]]
        .sort_values("hour")
        .reset_index(drop=True)
    )
    e = _sorted_pdf(
        stream_hourly_bloom(spark, SF_DIR).select(
            "hour", "n_total", "n_bits_set", "est_users"
        ),
        ["hour"],
    )
    pd.testing.assert_frame_equal(f, e, check_dtype=False, check_names=False)


def test_bloom_kernel_saturation_across_batches(spark, tmp_path):
    """3-file stream with a TINY m=16/k=2 filter and 12 distinct users
    (including replays): the final lit-bit set must equal the pure-Python
    fold over the full multiset, replayed users must not move it, the
    estimate must match bloom_estimate on the same bits, and the scenario
    must light enough bits that the estimator visibly overcounts a
    fresh-key probe regime — pinning the Spark state plumbing in the
    high-fill regime the sf-data twin test never reaches."""
    files = [
        [(0, 0), (0, 1), (1, 2), (1, 3), (2, 0)],
        [(3, 4), (3, 5), (4, 6), (4, 0), (5, 7)],
        [(6, 8), (6, 9), (7, 10), (7, 11), (8, 1)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.bloom_membership_stream(stream, m=16, k=2), "t_bloom_mb", "update"
    )
    emitted = spark.table("t_bloom_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    assert len(final) == 1
    all_users = [u for rows in files for _, u in rows]
    bits = jobs.bloom_update(set(), all_users, m=16, k=2)
    assert int(final["n_total"].iloc[0]) == len(all_users) == 15
    assert int(final["n_bits_set"].iloc[0]) == len(bits)
    want = jobs.bloom_estimate(bits, m=16, k=2)
    got = final["est_users"].iloc[0]
    if want is None:
        assert pd.isna(got)
    else:
        assert float(got) == want
    # high-fill regime reached: >= half the bits lit by 12 distinct keys
    assert len(bits) >= 8


def test_hll_stream_matches_batch_twin(spark, events_stream):
    """The HyperLogLog kernel's final per-hour zero-register count and
    cardinality estimate must equal the oracled batch twin
    ``stream_hourly_hll`` EXACTLY — HLL state is a pure elementwise-MAX
    fold (idempotent, order/chunking/duplication/merge commutative), so
    equality holds at every scale with no under-budget caveat, and the
    twin reconstructs the very same registers as a grouped max over the
    shared md5 hex rule.  Also pins the estimator's accuracy contract on
    real data: median relative error under 10% (HLL with m=64 promises
    sigma ~= 1.04/8 = 13%)."""
    from hackatonbigdata_spark.operators.streaming_batch import (
        stream_hourly_hll,
    )

    jobs.run_to_memory(
        jobs.hll_distinct_stream(events_stream), "t_hll", "update"
    )
    emitted = spark.table("t_hll").toPandas()
    last = emitted.groupby("hour")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    f = (
        final[["hour", "n_total", "n_zero_registers", "est_users"]]
        .sort_values("hour")
        .reset_index(drop=True)
    )
    batch = _sorted_pdf(
        stream_hourly_hll(spark, SF_DIR).select(
            "hour", "n_total", "n_zero_registers", "est_users", "n_users"
        ),
        ["hour"],
    )
    pd.testing.assert_frame_equal(
        f,
        batch[["hour", "n_total", "n_zero_registers", "est_users"]],
        check_dtype=False,
        check_names=False,
    )
    relerr = (batch["est_users"] - batch["n_users"]).abs() / batch["n_users"]
    assert relerr.median() < 0.10


def test_hll_kernel_raw_branch_across_batches(spark, tmp_path):
    """3-file stream with a TINY m=16 sketch and enough distinct users
    (80, plus replays) that every register fills — V=0 forces the RAW
    alpha*m^2/sum harmonic estimate, the branch the sf-data twin test
    never reaches (hourly cardinalities there always leave zero
    registers).  The final registers must equal the pure-Python fold
    over the full multiset, replayed users must not move them, and the
    emitted estimate must match hll_estimate on the same registers."""
    files = [
        [(0, u) for u in range(0, 27)] + [(1, 3)],
        [(2, u) for u in range(27, 54)] + [(3, 0)],
        [(4, u) for u in range(54, 80)] + [(5, 17)],
    ]
    stream = _event_files_stream(spark, tmp_path, files)
    jobs.run_to_memory(
        jobs.hll_distinct_stream(stream, m=16), "t_hll_mb", "update"
    )
    emitted = spark.table("t_hll_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    assert len(final) == 1
    all_users = [u for rows in files for _, u in rows]
    regs = jobs.hll_update([0] * 16, all_users, m=16)
    assert int(final["n_total"].iloc[0]) == len(all_users) == 83
    assert int(final["n_zero_registers"].iloc[0]) == sum(
        1 for r in regs if r == 0
    )
    assert float(final["est_users"].iloc[0]) == jobs.hll_estimate(regs, m=16)
    # the scenario must actually exercise the raw branch: no zero
    # registers, so linear counting is unavailable
    assert sum(1 for r in regs if r == 0) == 0


def test_kll_stream_within_certificate_of_exact(spark, events_stream):
    """The KLL compactor kernel over the live stream: every final
    per-day percentile must sit within the sketch's SELF-CERTIFIED rank
    bound of the exact per-day order statistics (computed straight from
    the raw events), and any day whose certificate is zero must serve
    the exact order statistic — the pin that works regardless of how
    the engine chunks the stream into micro-batches (compaction timing
    is arrival-dependent, so twin EQUALITY is deliberately not the
    contract here; the batch twin sketch_kll_quantiles has its own
    single-cascade oracle)."""
    import duckdb

    jobs.run_to_memory(jobs.kll_quantiles_stream(events_stream), "t_kll", "update")
    emitted = spark.table("t_kll").toPandas()
    assert len(emitted) > 0
    last = emitted.groupby("day")["n_total"].transform("max")
    final = emitted[emitted["n_total"] == last]
    raw = duckdb.connect().execute(
        "SELECT CAST(ts AS DATE) d, list(value ORDER BY value) "
        "FROM read_parquet(?) WHERE value IS NOT NULL GROUP BY 1",
        [f"{SF_DIR}/events.parquet"],
    ).fetchall()
    exact = {d: vals for d, vals in raw}
    assert set(final["day"]) == set(exact)
    for r in final.itertuples():
        srt = exact[r.day]
        n = len(srt)
        assert int(r.n_total) == n
        err = int(r.err_bound)
        assert abs(int(r.w_total) - n) <= err
        tgt = (int(r.pct) * int(r.w_total) + 99) // 100
        lo = srt.index(r.value) + 1
        hi = n - srt[::-1].index(r.value)
        if err == 0:
            k = (int(r.pct) * n + 99) // 100
            assert srt[k - 1] == r.value
        else:
            assert lo - 2 * err <= tgt <= hi + 2 * err


def test_kll_kernel_across_batches(spark, tmp_path):
    """3-file stream with k=4 so compaction fires mid-stream: the final
    state must equal the pure-Python fold of the same batches in the
    same order (the kernel is deterministic given the chunking), and
    the served medians must respect the certificate against the exact
    values."""
    files = [
        [(0, 0), (0, 1), (1, 2), (1, 3), (2, 4)],
        [(3, 0), (3, 1), (4, 2)],
        [(5, 3), (5, 4), (6, 0), (6, 1)],
    ]
    value_fn = lambda m, u: float((m * 7 + u * 3) % 11) + 0.25  # noqa: E731
    stream = _event_files_stream(spark, tmp_path, files, value_fn)
    jobs.run_to_memory(
        jobs.kll_quantiles_stream(stream, k=4), "t_kll_mb", "update"
    )
    emitted = spark.table("t_kll_mb").toPandas()
    final = emitted[emitted["n_total"] == emitted["n_total"].max()]
    n = sum(len(rows) for rows in files)
    assert int(final["n_total"].max()) == n == 12
    # replay the same per-batch fold in pure Python (batch rows sorted by
    # (value, id) — the kernel's documented within-batch order)
    st, eid = ([], 0), 0
    for rows in files:
        items = []
        for m, u in rows:
            items.append((value_fn(m, u), eid))
            eid += 1
        st = jobs.kll_update(st, sorted(items), k=4)
    for r in final.itertuples():
        val, w_total = jobs.kll_quantile(st, int(r.pct))
        assert r.value == val
        assert int(r.w_total) == w_total
        assert int(r.err_bound) == st[1]
