"""Streaming layer tests: replay the events fixture as a file-source
stream (availableNow trigger → memory sink) and check the results
against the BATCH equivalents on the same data — the strongest
equivalence the layer claims (streaming q02 sessionization must agree
with the batch lag-based plan on session count and totals).
"""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from hpat_jl_spark.streaming.sources import stream_events
from hpat_jl_spark.streaming.windows import sessionize_stream, tumbling_counts
from hpat_jl_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_match_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    got = _run_stream(spark, tumbling_counts(stream), "tumbling").toPandas()
    batch = (
        load_table(spark, "events", SF)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    assert len(got) == len(batch)
    assert int(got["n_events"].sum()) == 1000  # every event in one window


def test_stream_static_join(spark, events_dir):
    from hpat_jl_spark.streaming.windows import enrich_with_dim

    dim = spark.createDataFrame(
        [(u, f"user-{u}") for u in range(20)], "user_id long, user_name string"
    )
    stream = stream_events(spark, events_dir)
    enriched = enrich_with_dim(stream, dim, "user_id").groupBy("user_name").count()
    got = _run_stream(spark, enriched, "enriched").toPandas()
    assert int(got["count"].sum()) == 1000
    assert got["user_name"].notna().all()


def test_stream_stream_join_matches_batch(spark, events_dir):
    from hpat_jl_spark.streaming.windows import stream_stream_purchase_after_view

    stream = stream_events(spark, events_dir)
    j = stream_stream_purchase_after_view(stream)
    q = (
        j.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ss_join").toPandas()
    # batch twin on the same data
    ev = load_table(spark, "events", SF)
    views = ev.filter("event_type = 'view'").selectExpr(
        "user_id v_user", "ts v_ts", "value v_value"
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id p_user", "ts p_ts", "event_id p_event_id"
    )
    batch = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 3600 SECONDS")),
    ).count()
    assert len(got) == batch
    assert len(got) > 0


def test_streaming_dedup_drop_duplicates(spark, events_dir):
    """Streaming exact dedup: dropDuplicates within the watermark —
    the streaming twin of the batch dedup pass (duplicate event_ids
    from a doubled source collapse to one)."""
    d2 = events_dir + "_dup"
    import os
    import shutil as sh

    os.makedirs(d2, exist_ok=True)
    sh.copy(f"{SF}/events.parquet", f"{d2}/a.parquet")
    sh.copy(f"{SF}/events.parquet", f"{d2}/b.parquet")  # exact duplicates
    stream = stream_events(spark, d2)
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    agg = deduped.groupBy().count()
    got = _run_stream(spark, agg, "dedup_stream").toPandas()
    assert int(got["count"].iloc[0]) == 1000  # 2000 rows → 1000 unique


def test_sessionize_stream_matches_batch_sessions(spark, events_dir):
    from hpat_jl_spark.plans.windowed import sessionize_events

    stream = stream_events(spark, events_dir)
    got = _run_stream(
        spark, sessionize_stream(stream, gap="1 hour"), "sessions"
    ).toPandas()
    batch = sessionize_events(spark, SF).toPandas()
    # same number of sessions overall and per user
    assert len(got) == len(batch)
    g = got.groupby("user_id").size().to_dict()
    b = batch.groupby("user_id").size().to_dict()
    assert g == b
    # same total events across sessions
    assert int(got["n_events"].sum()) == 1000
    # per-session values agree (compare sorted totals per user)
    for uid in g:
        gv = sorted(got[got.user_id == uid]["session_value"])
        bv = sorted(batch[batch.user_id == uid]["session_value"])
        assert gv == pytest.approx(bv)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, not just windowing: once a window's state
    is EVICTED (end of the micro-batch in which the watermark passed
    its end), a later-arriving event for that window is dropped — not
    merged, not re-emitted. Nuance pinned here: eviction happens at
    batch END, so a late row arriving in the SAME batch that finalizes
    its window still merges; the drop is guaranteed from the next batch
    on. Three files replayed one per micro-batch (maxFilesPerTrigger=1).
    """
    import glob
    import shutil
    import time

    from hpat_jl_spark.streaming.sources import stream_events
    from hpat_jl_spark.streaming.windows import tumbling_counts

    d = tmp_path / "late_events"
    d.mkdir()

    def ns(hour, minute):
        base = 1704100000 * 1_000_000_000  # fixed epoch base
        return base + (hour * 3600 + minute * 60) * 1_000_000_000

    def write(name, rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        src = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(src, d / f"{name}.parquet")
        time.sleep(1.1)  # distinct mtimes keep file order deterministic

    # batch 0: three on-time events in hour H plus one at H+3 that will
    # push the watermark (1h) past H's window end
    write(
        "a-one",
        [
            (1, ns(0, 5), 1, "view", 1.0, "{}"),
            (2, ns(0, 20), 1, "view", 1.0, "{}"),
            (3, ns(0, 40), 1, "view", 1.0, "{}"),
            (4, ns(3, 0), 1, "view", 1.0, "{}"),
        ],
    )
    # batch 1: fresh event — H's window is emitted and its state
    # evicted at this batch's end
    write("b-two", [(6, ns(4, 0), 1, "view", 1.0, "{}")])
    # batch 2: a LATE event back in hour H (evicted) must be dropped;
    # a far-future event finalizes every remaining window
    write(
        "c-three",
        [
            (5, ns(0, 30), 1, "view", 99.0, "{}"),
            (7, ns(9, 0), 1, "view", 1.0, "{}"),
        ],
    )

    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    out = tumbling_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("late_test").collect()
    first = min(r.start for r in rows)
    h0 = [r for r in rows if r.start == first]
    # the finalized hour-H window holds ONLY the 3 on-time events; the
    # late 99.0-value event was dropped
    assert len(h0) == 1 and h0[0].n_events == 3, rows
    assert abs(h0[0].total_value - 3.0) < 1e-9, rows


def test_warehouse_sink_idempotent_overwrite(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: replaying the same
    micro-batch (a retry) rewrites its window partitions in place —
    the warehouse holds ONE copy of each window, and unrelated
    partitions survive."""
    import shutil

    from hpat_jl_spark.streaming.sources import stream_events
    from hpat_jl_spark.streaming.windows import stream_to_warehouse, tumbling_counts

    src = tmp_path / "wh_events"
    src.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", src / "part-000.parquet"
    )
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_events(spark, str(src))
    q = stream_to_warehouse(tumbling_counts(stream), out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n_first = first.count()
    total_first = first.agg(F.sum("n_events")).collect()[0][0]
    assert total_first == 1000  # every fixture event accounted once

    # simulate a RETRY of the same data: fresh checkpoint, same source,
    # same output dir — dynamic overwrite must leave one copy, not two
    q2 = stream_to_warehouse(
        tumbling_counts(stream_events(spark, str(src))),
        out,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    again = spark.read.parquet(out)
    assert again.count() == n_first
    assert again.agg(F.sum("n_events")).collect()[0][0] == total_first


def test_warehouse_sink_multibatch_preserves_sibling_keys(spark, tmp_path):
    """ADVICE r01 regression: with maxFilesPerTrigger=1, a later
    micro-batch that updates only ONE group key inside a window must not
    delete the other keys' rows already written for that window. The old
    hour-grained partitioning overwrote the whole hour partition with
    the updated key only; partitioning by (exact window, group key)
    makes dynamic overwrite a per-group upsert."""
    import glob
    import shutil
    import time

    from hpat_jl_spark.streaming.sources import stream_events
    from hpat_jl_spark.streaming.windows import stream_to_warehouse, tumbling_counts

    d = tmp_path / "wh_multi"
    d.mkdir()

    def ns(hour, minute):
        base = 1704100000 * 1_000_000_000
        return base + (hour * 3600 + minute * 60) * 1_000_000_000

    def write(name, rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        src = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(src, d / f"{name}.parquet")
        time.sleep(1.1)  # distinct mtimes keep file order deterministic

    # batch 0: one view + one purchase in hour H → both keys written
    write(
        "a-first",
        [
            (1, ns(0, 5), 1, "view", 1.0, "{}"),
            (2, ns(0, 10), 1, "purchase", 5.0, "{}"),
        ],
    )
    # batch 1: another view in hour H → updates ONLY the view key
    write("b-second", [(3, ns(0, 20), 1, "view", 2.0, "{}")])

    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    q = stream_to_warehouse(
        tumbling_counts(stream, window="1 hour", watermark="4 hours"),
        str(tmp_path / "wh_out"),
        str(tmp_path / "wh_ckpt"),
    )
    q.awaitTermination(120)

    rows = {
        r.event_type: r
        for r in spark.read.parquet(str(tmp_path / "wh_out")).collect()
    }
    # the purchase row written in batch 0 must survive batch 1's update
    assert set(rows) == {"view", "purchase"}, rows
    assert rows["purchase"].n_events == 1
    assert abs(rows["purchase"].total_value - 5.0) < 1e-9
    # and the view row reflects the batch-1 update, exactly once
    assert rows["view"].n_events == 2
    assert abs(rows["view"].total_value - 3.0) < 1e-9


def test_sliding_counts_overlap_factor(spark, tmp_path):
    """Sliding windows: every event lands in exactly window/slide
    windows (1h/15min → 4), so the sliding total is 4× the event count."""
    import shutil

    from hpat_jl_spark.streaming.sources import stream_events
    from hpat_jl_spark.streaming.windows import sliding_counts

    d = tmp_path / "slide_events"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "p.parquet")
    stream = stream_events(spark, str(d))
    q = (
        sliding_counts(stream, window="1 hour", slide="15 minutes")
        .writeStream.format("memory")
        .queryName("sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = sum(r.n_events for r in spark.table("sliding").collect())
    assert total == 4 * 1000


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract (streaming/dedup.py):
    duplicates on the key within the delay collapse even when their
    event TIMESTAMPS differ (retries/replays), and a duplicate
    re-arriving after its key's state was evicted is re-emitted — the
    explicit price of bounded state. Three files, one per micro-batch.
    """
    import glob
    import shutil
    import time

    from hpat_jl_spark.streaming.dedup import dedup_within_watermark
    from hpat_jl_spark.streaming.sources import stream_events

    d = tmp_path / "dedup_events"
    d.mkdir()

    def ns(hour, minute):
        base = 1704100000 * 1_000_000_000
        return base + (hour * 3600 + minute * 60) * 1_000_000_000

    def write(name, rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        src = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(src, d / f"{name}.parquet")
        time.sleep(1.1)

    # b0: first sight of key 1 (state expires at 0:05 + 1h = 1:05)
    write("a-one", [(1, ns(0, 5), 1, "view", 1.0, "{}"), (9, ns(0, 10), 1, "view", 1.0, "{}")])
    # b1: duplicate of key 1 at a DIFFERENT ts while state is live →
    # dropped; key 2 at 2:30 advances the watermark to 1:30 at batch
    # end, evicting key 1's state
    write("b-two", [(1, ns(0, 30), 1, "view", 2.0, "{}"), (2, ns(2, 30), 1, "view", 1.0, "{}")])
    # b2: filler — state eviction COMMITS at this batch's end (the
    # same batch-END nuance test_watermark_drops_late_rows pins)
    write("c-three", [(3, ns(2, 10), 1, "view", 1.0, "{}")])
    # b3: key 1 again at 2:00 (> watermark 1:30, so not late) AFTER
    # eviction → re-emitted
    write("d-four", [(1, ns(2, 0), 1, "view", 3.0, "{}")])

    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    deduped = dedup_within_watermark(stream, ["event_id"], delay="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("dedup_wm").collect()
    per_key = {}
    for r in rows:
        per_key[r.event_id] = per_key.get(r.event_id, 0) + 1
    assert per_key[9] == 1 and per_key[2] == 1 and per_key[3] == 1
    # within-delay duplicate collapsed; post-eviction duplicate re-emitted
    assert per_key[1] == 2, rows
    emitted_values = sorted(r.value for r in rows if r.event_id == 1)
    assert emitted_values == [1.0, 3.0], rows


def test_dedup_within_watermark_doubled_source_matches_batch(spark, tmp_path):
    """Doubled source (exact duplicate file) through the bounded-state
    dedup equals the batch distinct count — duplicates land within the
    delay, so no re-emits."""
    import shutil

    from hpat_jl_spark.streaming.dedup import dedup_within_watermark
    from hpat_jl_spark.streaming.sources import stream_events

    d = tmp_path / "doubled"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "b.parquet")
    stream = stream_events(spark, str(d))
    deduped = dedup_within_watermark(stream, ["event_id"], delay="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_double")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_wm_double").count()
    want = load_table(spark, "events", SF).select("event_id").distinct().count()
    assert got == want


# ------------------------------------------- bounded-replay state width


class _StateWidths(StreamingQueryListener):
    """Records each query's first state operator's shuffle-partition
    count, keyed by query name."""

    def __init__(self):
        self.widths: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.stateOperators:
            self.widths[p.name] = p.stateOperators[0].numShufflePartitions

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@pytest.mark.parametrize(
    "query, prefix, width",
    [
        # one staged file with one row group: one scan split
        ("stream_tumbling_counts", "stream_tumbling_", 1),
        # the same file staged twice (copies=2): two scan splits
        ("stream_dedup_events", "stream_dedup_", 2),
    ],
)
def test_bounded_replay_state_width_follows_input_splits(
    spark, query, prefix, width
):
    """A bounded replay's state store is as wide as its input's scan
    splits, not the session's shuffle setting, and the session's
    setting is left as it was."""
    from hpat_jl_spark import registry

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert int(before) > width
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        registry.queries()[query](spark, SF)
        deadline = time.monotonic() + 30
        while not listener.widths and time.monotonic() < deadline:
            time.sleep(0.1)  # listener events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    got = {n: w for n, w in listener.widths.items() if n.startswith(prefix)}
    assert list(got.values()) == [width], listener.widths
    assert spark.conf.get(key) == before


def test_bounded_replay_restores_shuffle_conf_when_start_fails(spark, events_dir):
    """Append mode on an aggregation without a watermark fails in
    .start(); the narrowed shuffle setting must not outlive it."""
    from pyspark.errors import AnalysisException

    from hpat_jl_spark.plans.streaming import _run_to_memory

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    agg = stream_events(spark, events_dir).groupBy("event_type").count()
    with pytest.raises(AnalysisException):
        _run_to_memory(
            agg, mode="append", prefix="no_watermark", source_dir=events_dir
        )
    assert spark.conf.get(key) == before


def test_stream_query_on_relative_sf_dir(spark, monkeypatch):
    """A relative ``sf_dir`` stages links that still resolve from the
    temp dir the stream watches (they used to dangle, and the broken
    dir was memoized for later absolute-path calls too)."""
    import os

    from hpat_jl_spark.plans import streaming
    from hpat_jl_spark.testing import check_query

    staged: dict = {}
    monkeypatch.setattr(streaming, "_STAGED_DIRS", staged)
    monkeypatch.chdir(os.path.dirname(SF))
    try:
        assert check_query(spark, "stream_tumbling_counts", os.path.basename(SF)) == []
    finally:
        for d in staged.values():
            shutil.rmtree(d, ignore_errors=True)
