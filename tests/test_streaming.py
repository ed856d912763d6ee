"""Structured Streaming ingestion test: file source → windowed agg → memory
sink, checked against the batch run of the SAME transformation."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from contentwise_impressions_spark.sources.tables import load_table
from contentwise_impressions_spark.streaming.ingest import (
    stream_events,
    tumbling_event_counts,
)


def test_stream_matches_batch(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    tmp = Path(tempfile.mkdtemp(prefix="cwi_stream_"))
    try:
        # split the log into 3 chronological 'flush' files (log shippers
        # deliver roughly in order; the watermark is allowed to drop only
        # beyond-watermark stragglers, of which an ordered feed has none)
        import pyspark.sql.functions as F

        bounds = ev.agg(F.min("ts"), F.max("ts")).first()
        lo, hi = bounds[0], bounds[1]
        step = (hi - lo) / 3
        for i in range(3):
            part = ev.filter(
                (F.col("ts") >= F.lit(lo + i * step))
                & (F.col("ts") < F.lit(lo + (i + 1) * step) if i < 2 else F.lit(True))
            )
            part.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        agg = tumbling_event_counts(src, "1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["window_start"], r["event_type"]): r["cnt"]
            for r in spark.sql(
                "SELECT window_start, event_type, max(cnt) AS cnt "
                "FROM win_counts GROUP BY 1, 2"
            ).collect()
        }
        expect = {
            (r["window_start"], r["event_type"]): r["cnt"]
            for r in tumbling_event_counts(ev, "1 hour").collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_toppop_stream(spark, sf_dir):
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.sources.interactions import (
        events_as_interactions,
    )
    from contentwise_impressions_spark.streaming.ingest import incremental_toppop

    ev = load_table(spark, sf_dir, "events")
    tmp = Path(tempfile.mkdtemp(prefix="cwi_toppop_"))
    try:
        ev.coalesce(1).write.mode("overwrite").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        inter = events_as_interactions(src).filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        pop = incremental_toppop(inter)
        q = (
            pop.writeStream.format("memory")
            .queryName("inc_toppop")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            r["item_id"]: r["popularity"]
            for r in spark.sql("SELECT * FROM inc_toppop").collect()
        }
        batch = events_as_interactions(ev).filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        expect = {
            r["item_id"]: r["cnt"]
            for r in batch.groupBy("item_id").agg(F.count("*").alias("cnt")).collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_running_user_profiles_stateful(spark, sf_dir):
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.streaming.ingest import running_user_profiles

    ev = load_table(spark, sf_dir, "events")
    tmp = Path(tempfile.mkdtemp(prefix="cwi_state_"))
    try:
        # two chronological micro-batches so state must carry across batches
        bounds = ev.agg(F.min("ts"), F.max("ts")).first()
        mid = bounds[0] + (bounds[1] - bounds[0]) / 2
        ev.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))
        ev.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        prof = running_user_profiles(src)
        q = (
            prof.writeStream.format("memory")
            .queryName("user_profiles")
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # the LAST update per user must equal the batch aggregate
        got = {
            r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
            for r in spark.sql(
                "SELECT user_id, n_events, sum_value FROM ("
                "  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id"
                "         ORDER BY n_events DESC) AS rn FROM user_profiles"
                ") WHERE rn = 1"
            ).collect()
        }
        expect = {
            r["user_id"]: (r["n"], round(r["s"], 6))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_running_user_profiles_idle_timeout_tombstone(spark):
    """Idle-timeout eviction: a user silent past `idle_timeout_ms` gets a
    final tombstone row (is_final=true) carrying their last known profile,
    and their state is removed.

    CAUTION — do NOT use processAllAvailable() here: with
    ProcessingTimeTimeout configured, FlatMapGroupsWithStateExec's
    shouldRunAnotherBatch is unconditionally true, so the engine keeps
    scheduling no-data micro-batches to fire timeouts and the `noNewData`
    latch processAllAvailable() waits on never sets.  Poll the memory sink
    with a deadline instead; those same no-data batches are what deliver
    the tombstone (no second data batch is needed)."""
    import datetime as dt
    import time

    from contentwise_impressions_spark.streaming.ingest import running_user_profiles

    tmp = Path(tempfile.mkdtemp(prefix="cwi_tomb_"))
    try:
        schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        batch1 = spark.createDataFrame(
            [(1, t0, 2.0), (1, t0 + dt.timedelta(minutes=5), 3.0)], schema=schema
        )
        batch1.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=batch1.schema)
        prof = running_user_profiles(src, idle_timeout_ms=500)
        q = (
            prof.writeStream.format("memory")
            .queryName("tomb_profiles")
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(processingTime="250 milliseconds")  # bound the batch churn
            .start()
        )

        def poll(predicate_sql, deadline_s=90):
            end = time.monotonic() + deadline_s
            while time.monotonic() < end:
                if q.exception() is not None:
                    raise q.exception()
                rows = spark.sql(
                    f"SELECT * FROM tomb_profiles WHERE {predicate_sql}"
                ).collect()
                if rows:
                    return rows
                time.sleep(0.25)
            raise AssertionError(f"timed out waiting for: {predicate_sql}")

        # live update arrives first ...
        lives = poll("user_id = 1 AND NOT is_final")
        assert lives[-1]["n_events"] == 2
        # ... then the idle deadline lapses and a no-data batch evicts
        finals = poll("user_id = 1 AND is_final")
        q.stop()
        assert len(finals) == 1, f"expected one tombstone, got {finals}"
        tomb = finals[0]
        # tombstone carries the complete profile accumulated before eviction
        assert tomb["n_events"] == 2
        assert round(tomb["sum_value"], 6) == 5.0
        assert tomb["last_ts"] is not None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_running_user_profiles_event_time_tombstone(spark):
    """EventTimeTimeout mode: the deadline lives in EVENT time and fires
    when the watermark passes it — deterministic w.r.t. the data, so
    processAllAvailable() works (unlike the processing-time mode).  A
    second batch 2h ahead advances the watermark past user 1's deadline
    and the next batch emits the tombstone."""
    import datetime as dt

    from contentwise_impressions_spark.streaming.ingest import running_user_profiles

    tmp = Path(tempfile.mkdtemp(prefix="cwi_ett_"))
    try:
        schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        batch1 = spark.createDataFrame(
            [(1, t0, 2.0), (1, t0 + dt.timedelta(minutes=5), 3.0)], schema=schema
        )
        batch1.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=batch1.schema)
        prof = running_user_profiles(
            src,
            idle_timeout_ms=60_000,  # 1 min of event-time silence
            event_time=True,
            watermark="0 seconds",
        )
        q = (
            prof.writeStream.format("memory")
            .queryName("ett_profiles")
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        # watermark jumps 2h past user 1's deadline; timeout fires in the
        # batch AFTER the one that advances the watermark
        for extra in (1, 2):
            spark.createDataFrame(
                [(2, t0 + dt.timedelta(hours=1, minutes=extra), 1.0)],
                schema=schema,
            ).coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM ett_profiles WHERE user_id = 1").collect()
        finals = [r for r in rows if r["is_final"]]
        assert len(finals) == 1, f"expected one tombstone, got {rows}"
        assert finals[0]["n_events"] == 2
        assert round(finals[0]["sum_value"], 6) == 5.0
        # user 2 stays live (its deadline is ahead of the watermark)
        u2 = spark.sql(
            "SELECT * FROM ett_profiles WHERE user_id = 2 AND is_final"
        ).collect()
        assert u2 == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream range join (views ⋈ clicks within 1h) must emit exactly
    the pairs the batch run of the same transformation produces."""
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.streaming.ingest import (
        stream_view_click_join,
    )

    ev = load_table(spark, sf_dir, "events")
    views_b = ev.filter(F.col("event_type") == "view")
    clicks_b = ev.filter(F.col("event_type") == "click")
    expect = {
        (r["view_id"], r["click_id"])
        for r in stream_view_click_join(views_b, clicks_b).collect()
    }
    assert expect, "fixture should produce at least one joined pair"

    tmp = Path(tempfile.mkdtemp(prefix="cwi_ssj_"))
    try:
        ev.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        joined = stream_view_click_join(
            src.filter(F.col("event_type") == "view"),
            src.filter(F.col("event_type") == "click"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_pairs")
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["view_id"], r["click_id"])
            for r in spark.sql("SELECT view_id, click_id FROM ssj_pairs").collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_popularity_serving_store_matches_batch(spark, sf_dir):
    """foreachBatch-maintained serving table must equal the batch popularity
    counts after the stream drains, and survive multi-batch upserts."""
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.sources.interactions import (
        events_as_interactions,
    )
    from contentwise_impressions_spark.streaming.serving import (
        maintain_popularity_store,
        read_popularity_store,
    )

    ev = load_table(spark, sf_dir, "events")
    tmp = Path(tempfile.mkdtemp(prefix="cwi_store_"))
    try:
        # two chronological flush files → at least two micro-batches, so
        # the merge path (not just the bootstrap path) is exercised
        from contentwise_impressions_spark.functions.timeutil import epoch_seconds

        mid = (
            ev.select(epoch_seconds("ts").alias("e"))
            .agg(F.expr("percentile(e, 0.5)"))
            .first()[0]
        )
        ev.filter(epoch_seconds("ts") <= mid).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))
        ev.filter(epoch_seconds("ts") > mid).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))

        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        q = maintain_popularity_store(
            events_as_interactions(src).select("item_id", "ts"),
            str(tmp / "store"),
            str(tmp / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r["item_id"], r["popularity"])
            for r in read_popularity_store(spark, str(tmp / "store")).collect()
        }
        expect = {
            (r["item_id"], r["popularity"])
            for r in events_as_interactions(ev)
            .groupBy("item_id")
            .agg(F.count("*").alias("popularity"))
            .collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _deliver_half(ev, in_dir: Path, part: int) -> None:
    """Ship one flush file: the events whose id has parity ``part``."""
    import pyspark.sql.functions as F

    ev.filter(F.col("event_id") % 2 == part).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))


def _run_popularity_store(spark, ev, tmp: Path, store: Path):
    """Drain ``tmp/in`` into the store (available-now trigger, checkpoint
    ``tmp/ckpt``) and return the finished query."""
    from contentwise_impressions_spark.sources.interactions import (
        events_as_interactions,
    )
    from contentwise_impressions_spark.streaming.serving import (
        maintain_popularity_store,
    )

    src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
    q = maintain_popularity_store(
        events_as_interactions(src).select("item_id"),
        str(store),
        str(tmp / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(300)
    return q


def _batch_counts(ev) -> set:
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.sources.interactions import (
        events_as_interactions,
    )

    return {
        (r["item_id"], r["popularity"])
        for r in events_as_interactions(ev)
        .groupBy("item_id")
        .agg(F.count("*").alias("popularity"))
        .collect()
    }


def _store_rows(spark, store: Path) -> set:
    from contentwise_impressions_spark.streaming.serving import (
        read_popularity_store,
    )

    return {
        (r["item_id"], r["popularity"])
        for r in read_popularity_store(spark, str(store)).collect()
    }


def test_popularity_store_two_files_two_batches(spark, sf_dir, tmp_path):
    """Two delivered files make exactly two micro-batches: the item key
    carries no event time, so no watermark schedules a trailing no-data
    batch that rewrites an identical snapshot."""
    import os

    ev = load_table(spark, sf_dir, "events")
    for part in (0, 1):
        _deliver_half(ev, tmp_path / "in", part)
    store = tmp_path / "store"
    q = _run_popularity_store(spark, ev, tmp_path, store)
    assert [p.batchId for p in q.recentProgress] == [0, 1]
    assert sorted(d for d in os.listdir(store) if d.startswith("v")) == [
        "v0",
        "v1",
    ]
    assert _store_rows(spark, store) == _batch_counts(ev)


def test_popularity_store_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Drain file 1, then deliver file 2 and restart on the same
    checkpoint and store: the resumed run processes only the new file,
    merges it over the first snapshot and ends where an uninterrupted
    run over both files ends."""
    ev = load_table(spark, sf_dir, "events")
    whole = tmp_path / "whole"
    for part in (0, 1):
        _deliver_half(ev, whole / "in", part)
    _run_popularity_store(spark, ev, whole, whole / "store")

    cut = tmp_path / "cut"
    _deliver_half(ev, cut / "in", 0)
    q = _run_popularity_store(spark, ev, cut, cut / "store")
    assert [p.batchId for p in q.recentProgress] == [0]
    _deliver_half(ev, cut / "in", 1)
    q = _run_popularity_store(spark, ev, cut, cut / "store")
    assert [p.batchId for p in q.recentProgress] == [1]
    got = _store_rows(spark, cut / "store")
    assert got == _store_rows(spark, whole / "store")
    assert got == _batch_counts(ev)


def test_stream_dedup_suppresses_redelivery(spark, sf_dir):
    """At-least-once delivery: the same flush file shipped twice must yield
    each event exactly once downstream."""
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.streaming.ingest import (
        dedup_events_stream,
    )

    ev = load_table(spark, sf_dir, "events").limit(500)
    tmp = Path(tempfile.mkdtemp(prefix="cwi_dedup_"))
    try:
        # the same batch delivered twice (two files, identical rows)
        ev.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        ev.coalesce(1).write.mode("append").parquet(str(tmp / "in"))
        src = stream_events(spark, str(tmp / "in"), schema=ev.schema)
        q = (
            dedup_events_stream(src)
            .writeStream.format("memory")
            .queryName("dedup_ev")
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql(
            "SELECT event_id, COUNT(*) AS c FROM dedup_ev GROUP BY 1"
        ).collect()
        assert len(got) == ev.count()
        assert all(r["c"] == 1 for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_static_incremental_dedup_matches_batch(spark, sf_dir):
    """Stream-static join: incoming doc stream probes the static band
    index; the union of per-micro-batch matches equals the one-shot batch
    join on the same inputs."""
    from contentwise_impressions_spark.streaming.ingest import (
        rowwise_minhash_bands,
        stream_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    import pyspark.sql.functions as F

    in_index = (F.col("doc_id") * 2654435761) % 1000 < 700
    index_bands = rowwise_minhash_bands(docs.filter(in_index))
    incoming = docs.filter(~in_index).select("doc_id", "text")

    tmp = Path(tempfile.mkdtemp(prefix="cwi_sdedup_"))
    try:
        # deliver the incoming batch as two micro-batch files
        incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))
        incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp / "in"))
        src = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp / "in"))
        )
        matches = stream_incremental_dedup(src, index_bands)
        q = (
            matches.writeStream.format("memory")
            .queryName("dedup_matches")
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["match_id"], r["band"])
            for r in spark.sql("SELECT * FROM dedup_matches").collect()
        }
        expect = {
            (r["doc_id"], r["match_id"], r["band"])
            for r in stream_incremental_dedup(
                incoming, index_bands
            ).collect()
        }
        assert got == expect and len(expect) > 0
        # and no incoming doc ever matches itself or another incoming doc
        incoming_ids = {r["doc_id"] for r in incoming.select("doc_id").collect()}
        assert all(m not in incoming_ids for _, m, _ in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_availablenow_sessionization_watermark_boundary(spark):
    """Pins the emission contract the stream_sessionization_counts oracle
    encodes: final watermark = MILLISECOND-floored max event time minus
    the delay, and a session is emitted iff session_end <= watermark
    (inclusive).  Crafted boundary rows: one session ending exactly AT
    the watermark (emitted), one 200 us past it (held), one 1 s before
    it (emitted); max event time carries +500 us to prove ms flooring."""
    import datetime
    import os
    import tempfile

    from contentwise_impressions_spark.streaming.ingest import (
        run_stream_once,
        sessionize_events,
        stream_events,
    )

    T0 = datetime.datetime(2024, 1, 1)

    def ts(**kw):
        return T0 + datetime.timedelta(**kw)

    rows = [
        (1, ts(minutes=30), 1.0),                    # end == wm -> emitted
        (2, ts(minutes=29, seconds=59), 1.0),        # end < wm  -> emitted
        (3, ts(minutes=31), 1.0),                    # end > wm  -> held
        (4, ts(minutes=30, microseconds=200), 1.0),  # past ms-floored wm -> held
        (9, ts(hours=2, microseconds=500), 1.0),     # sets max (wm floors to +1h)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    d = tempfile.mkdtemp(prefix="cwi_sessbnd_")
    df.coalesce(1).write.parquet(os.path.join(d, "data"))
    src = stream_events(spark, os.path.join(d, "data"), schema=df.schema)
    out = run_stream_once(
        sessionize_events(src, gap="30 minutes", watermark="1 hour"),
        "sessbnd",
    )
    got = sorted(r["user_id"] for r in out.collect())
    assert got == [1, 2], got


def test_stream_sessionization_query_runs_live_engine(spark, sf_dir):
    """The registered query drives the real streaming engine and returns
    exactly the batch sessions whose end clears the final watermark."""
    from pyspark.sql import functions as F

    from contentwise_impressions_spark.plans.modelops import (
        q_stream_sessionization,
        q_user_sessions,
    )

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q_stream_sessionization(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    wm = mx.replace(microsecond=mx.microsecond // 1000 * 1000) - __import__(
        "datetime"
    ).timedelta(hours=1)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q_user_sessions(spark, sf_dir).collect()
        if r["session_end"] <= wm
    }
    assert got == want and len(got) > 0


def test_availablenow_tumbling_watermark_boundary(spark):
    """Tumbling windows share the inclusive eviction predicate the
    stream_tumbling_counts oracle encodes: a window whose end equals the
    final watermark IS emitted; a later window is held."""
    import datetime
    import os
    import tempfile

    from contentwise_impressions_spark.streaming.ingest import (
        run_stream_once,
        stream_events,
        tumbling_event_counts,
    )

    T0 = datetime.datetime(2024, 1, 1)

    def ts(**kw):
        return T0 + datetime.timedelta(**kw)

    rows = [
        (1, ts(minutes=10), "a", 1.0),  # [00:00,01:00) end == wm -> emitted
        (2, ts(minutes=70), "a", 1.0),  # [01:00,02:00) end > wm  -> held
        (9, ts(hours=2), "b", 1.0),     # sets max -> wm = 01:00
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    d = tempfile.mkdtemp(prefix="cwi_tmbbnd_")
    df.coalesce(1).write.parquet(os.path.join(d, "data"))
    src = stream_events(spark, os.path.join(d, "data"), schema=df.schema)
    out = run_stream_once(
        tumbling_event_counts(src, "1 hour", watermark="1 hour"), "tmbbnd"
    )
    got = sorted(
        (str(r["window_start"]), r["event_type"], r["cnt"])
        for r in out.collect()
    )
    assert got == [("2024-01-01 00:00:00", "a", 1)], got


def test_stream_dedup_query_emission_is_distinct_event_set(spark, sf_dir):
    """The registered stream_dedup_events query (doubled symlink delivery,
    availableNow) must emit EXACTLY the batch event set — pins the
    emission boundary the DuckDB twin assumes: every key once, no late
    re-emission from the second micro-batch."""
    from contentwise_impressions_spark.plans.registry import all_queries

    out = all_queries()["stream_dedup_events"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.count()
    # exact set equality, not just counts: anti-join empty both ways
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    a, b = out.select(cols), ev.select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_availablenow_outer_join_watermark_boundary(spark):
    """Pins the stream-stream LEFT OUTER eviction-emission boundary the
    stream_view_click_outer twin encodes, derived from Spark's
    stream-stream state-watermark rule (StreamingJoinHelper solves the
    join's event-time bound for the left side: a view can't match once
    globalWatermark > view_ts + horizon, so NULL emission requires
    view_ts + horizon STRICTLY below the final watermark) and from the
    min-across-sides global-watermark policy
    (multipleWatermarkPolicy=min, each filtered side watermarked
    separately).

    Crafted boundary rows (horizon 1h, delay 2h; no user has a matching
    click):
      * click-side max = 04:00:00.0007 (micros prove ms flooring), view
        side max = 06:00 -> global watermark = min(04:00, 06:00) - 2h
        = 02:00
      * view @01:00 -> window closes exactly AT the watermark -> HELD
        (the strict-< case the twin's `+ 1h < w` encodes)
      * view @00:59:59 -> window closed 1s before -> NULL-emitted
      * view @02:30 -> closes 03:30: below the WRONG unified-max
        watermark (04:00) but above the min-policy one (02:00) -> HELD
        (pins the min rule)
    """
    import datetime
    import os
    import tempfile

    from contentwise_impressions_spark.streaming.ingest import (
        run_stream_once,
        stream_events,
        stream_view_click_join,
    )

    T0 = datetime.datetime(2024, 1, 1)

    def ts(**kw):
        return T0 + datetime.timedelta(**kw)

    rows = [
        (1, 11, ts(hours=1), "view"),                    # closes == wm -> held
        (2, 12, ts(minutes=59, seconds=59), "view"),     # closed < wm -> NULL-emitted
        (3, 13, ts(hours=2, minutes=30), "view"),        # min-policy: held
        (101, 14, ts(hours=6), "view"),                  # view-side max
        (100, 15, ts(hours=4, microseconds=700), "click"),  # click-side max (ms-floored)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    d = tempfile.mkdtemp(prefix="cwi_ssobnd_")
    df.coalesce(1).write.parquet(os.path.join(d, "data"))
    src = stream_events(spark, os.path.join(d, "data"), schema=df.schema)
    joined = stream_view_click_join(
        src.filter("event_type = 'view'"),
        src.filter("event_type = 'click'"),
        horizon="1 hour",
        watermark="2 hours",
        how="left_outer",
    )
    out = run_stream_once(joined, "ssobnd")
    got = sorted(
        (r["user_id"], r["click_id"]) for r in out.collect()
    )
    assert got == [(2, None)], got


def test_tws_user_ledger(spark, sf_dir):
    """transformWithStateInPandas ledger == batch GROUP BY under single
    delivery.  SKIPS where the google.protobuf runtime is absent (the TWS
    Python worker's state protocol needs it — streaming/tws.py gate)."""
    import pytest

    from contentwise_impressions_spark.streaming.tws import (
        run_ledger_once,
        tws_available,
    )

    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            from contentwise_impressions_spark.streaming.tws import (
                user_type_ledger,
            )

            user_type_ledger(load_table(spark, sf_dir, "events"))
        pytest.skip("google.protobuf not installed; TWS worker cannot start")

    import pyspark.sql.functions as F

    from contentwise_impressions_spark.streaming.ingest import (
        stream_dir_for_file,
    )

    ev = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    try:
        src = stream_events(spark, src_dir, schema=ev.schema)
        got = run_ledger_once(src).toPandas()
        want = (
            ev.groupBy("user_id", "event_type")
            .agg(
                F.count("*").alias("cnt"),
                F.sum("value").alias("sum_value"),
                F.max(F.col("ts").cast("timestamp")).alias("last_ts"),
            )
            .toPandas()
        )
        key = ["user_id", "event_type"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want[got.columns].sort_values(key).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
        assert (
            abs(got["sum_value"].to_numpy() - want["sum_value"].to_numpy())
            < 1e-9
        ).all()
        assert (
            got["last_ts"].to_numpy() == want["last_ts"].to_numpy()
        ).all()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_availablenow_chained_rollup_watermark_boundary(spark):
    """Cascade-emission boundary for the chained dual-agg rollup: an
    outer (hourly) window is emitted iff `outer_end <= final watermark`
    — INCLUSIVE at exact equality (the tumbling predicate applied at the
    outer level), and an hour whose end is past the watermark stays in
    state even when all its INNER windows have closed."""
    import pandas as pd
    import pyspark.sql.functions as F  # noqa: F401

    from contentwise_impressions_spark.streaming.ingest import (
        chained_window_rollup,
        run_stream_once,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="cwi_chain_"))
    src = tmp / "in"
    src.mkdir()
    # watermark delay 1 h; final event at exactly 02:00 -> wm = 01:00.
    # hour 0 (end 01:00): boundary case, emitted iff predicate INCLUSIVE.
    # hour 1 (end 02:00): all its inner 15-min windows end <= 01:25 wm?
    #   no — wm is 01:00, so only [01:00,01:15) closed... regardless,
    #   hour 1's END (02:00) > wm -> must NOT be emitted.
    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1],
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
            "ts": pd.to_datetime(
                ["2024-01-01 00:05:00", "2024-01-01 00:20:00",
                 "2024-01-01 01:10:00", "2024-01-01 02:00:00"]
            ),
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.parquet(str(src / "f0"))
    stream = stream_events(
        spark,
        str(src / "f0"),
        schema=spark.read.parquet(str(src / "f0")).schema,
    )
    try:
        out = run_stream_once(
            chained_window_rollup(stream, "15 minutes", "1 hour", "1 hour"),
            "chain_boundary",
        ).toPandas()
        got = {
            (str(r.window_start), r.event_type): (
                r.max_cnt, r.sum_cnt, r.n_windows,
            )
            for r in out.itertuples()
        }
        # hour 0 emitted at the INCLUSIVE boundary, with both 15-min
        # windows rolled up; hours 1 and 2 held in state (end > wm)
        assert got == {
            ("2024-01-01 00:00:00", "view"): (1, 2, 2)
        }, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_availablenow_join_agg_watermark_boundary(spark):
    """Watermark PROPAGATION through a join→agg chain: the join delays
    the downstream watermark by its buffered-side state bound (horizon),
    and the agg's emission is STRICT at millisecond resolution —
    window emitted iff `window_end + horizon < raw_wm`.  Probed around
    the exact boundary: with watermark 2 h and horizon 1 h, the
    [00:00, 01:00) window needs raw max-ts strictly past 04:00.000
    (04:00.001 emits; 04:00.000 and 03:59:59.999 do not).  Contrast:
    the single-operator tumbling agg is INCLUSIVE at equality
    (test_availablenow_tumbling_watermark_boundary)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from contentwise_impressions_spark.streaming.ingest import (
        joined_conversion_counts,
        run_stream_once,
        stream_events,
    )

    def run_case(final_ts: str) -> list[str]:
        rows = pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5, 6],
                "user_id": [1, 1, 2, 2, 9, 9],
                "event_type": ["view", "click"] * 3,
                "value": [1.0] * 6,
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 00:10:00", "2024-01-01 00:20:00",
                        "2024-01-01 01:10:00", "2024-01-01 01:15:00",
                        final_ts, final_ts,
                    ],
                    format="ISO8601",
                ),
            }
        )
        tmp = Path(tempfile.mkdtemp(prefix="cwi_jb_"))
        try:
            spark.createDataFrame(rows).coalesce(1).write.parquet(
                str(tmp / "in")
            )
            src = stream_events(
                spark,
                str(tmp / "in"),
                schema=spark.read.parquet(str(tmp / "in")).schema,
            )
            out = run_stream_once(
                joined_conversion_counts(
                    src.filter(F.col("event_type") == "view"),
                    src.filter(F.col("event_type") == "click"),
                    horizon="1 hour",
                    watermark="2 hours",
                ),
                "join_boundary",
            ).toPandas()
            return sorted(str(x) for x in out["window_start"])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # raw_wm = floor_ms(final) - 2h; window [00:00,01:00) emits iff
    # 01:00 + 1h < raw_wm  <=>  final > 04:00.000 at ms resolution
    assert run_case("2024-01-01 04:00:00.001") == ["2024-01-01 00:00:00"]
    assert run_case("2024-01-01 04:00:00") == []
    assert run_case("2024-01-01 03:59:59.999") == []
