"""Structured Streaming ingestion extension.

The reference is pure batch (SURVEY.md §2.12) — timestamps are data, not
event time.  This module adds the natural streaming path for the same
interaction log: tumbling-window interaction counts and an incremental
TopPop, expressed as ONE transformation function applied identically to a
batch DataFrame (oracle-checkable) or a readStream DataFrame (with
watermarking) — the recommended Spark pattern for batch/stream parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def as_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to tz-aware TIMESTAMP.

    Watermarks reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    and pandas/pyarrow-written parquet without a timezone reads back NTZ
    under Spark 4's inferTimestampNTZ default.  With the engine-wide UTC
    session timezone the cast is value-preserving.
    """
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def tumbling_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Events per (tumbling window, event_type).

    Batch: plain windowed agg.  Streaming: add a watermark so state for
    closed windows is evicted — late rows beyond the watermark are dropped,
    which is the standard completeness/latency trade.
    """
    src = as_event_time(events)
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def incremental_toppop(interactions: DataFrame) -> DataFrame:
    """Streaming item-popularity counts (the TopPop model, incrementally).

    One state row per item, partial-aggregated map-side; the serving store
    (streaming/serving.py) and complete-mode readers take the latest
    counts.  No watermark: the ``item_id`` key carries no event time, so a
    watermark could neither evict state nor drop a row — it would only
    schedule an idle no-data micro-batch after the last input.
    """
    return interactions.groupBy(
        F.col("item_id").cast("bigint").alias("item_id")
    ).agg(F.count("*").alias("popularity"))


def stream_events(
    spark: SparkSession, source_dir: str, schema=None
) -> DataFrame:
    """File-source stream over a directory of event parquet files —
    the deploy shape for log ingestion (one file per flush interval)."""
    reader = spark.readStream.format("parquet").option("maxFilesPerTrigger", 1)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(source_dir)


#: scratch dirs this process created for bounded streams, all under the
#: engine temp dir (``TMPDIR``).  Checkpoints are removed at the end of
#: their run and re-swept on each later run and at exit: the state-store
#: maintenance thread can re-write snapshot files into a checkpoint AFTER
#: its query stopped.  Output dirs feed the RETURNED DataFrame — a
#: consumer may hold several results before collecting — so a successful
#: run's output is swept only at exit (an emission is top-K/aggregate
#: sized, not bulk data).  Source dirs (symlinks only) are reused by
#: every run over the same table.
_CKPT_DIRS: set[str] = set()
_OUT_DIRS: set[str] = set()
_SRC_DIRS: dict[tuple[str, int], str] = {}
_SWEEP_REGISTERED = False

#: state-store partitions of a bounded run.  A streaming query freezes
#: the count into its checkpoint at first start; the session default
#: (over-provisioned for batch AQE to coalesce) would pin dozens of tiny
#: state tasks per micro-batch, and stateful queries run without AQE.
STATE_PARTITIONS = 8


def _sweep_at_exit() -> None:
    global _SWEEP_REGISTERED
    if _SWEEP_REGISTERED:
        return
    import atexit
    import shutil

    atexit.register(
        lambda: [
            shutil.rmtree(d, ignore_errors=True)
            for d in (_CKPT_DIRS | _OUT_DIRS | set(_SRC_DIRS.values()))
        ]
    )
    _SWEEP_REGISTERED = True


def run_stream_once(
    stream_df: DataFrame,
    name_prefix: str = "stream_once",
    output_mode: str = "append",
) -> DataFrame:
    """Run a streaming transformation until its input is drained and
    return the emitted rows as a batch DataFrame — the one way this
    package runs a bounded stream.

    The REAL Structured Streaming engine runs (source → watermark →
    state store → emission), each micro-batch's emission goes to an
    ephemeral parquet directory through ``foreachBatch``, and the result
    reads that directory back, so an external oracle can check it and
    the emission never has to fit in driver memory.  ``append`` and
    ``update`` modes append each batch's emission; ``complete`` mode
    overwrites, so the directory holds the last full result table.

    Drain: the default trigger plus ``processAllAvailable()``, which
    returns once no new data is available AND no further batch is due —
    the engine keeps scheduling no-data batches while the advancing
    watermark can still evict state, so the emission reflects the
    end-of-input watermark.  Not ``availableNow``: Spark wraps a source
    without native support for it (such as a Python
    ``DataSourceStreamReader``, sources/pyds.py) in a wrapper that
    freezes ``latestOffset`` after one call, which would cut a
    multi-batch source to its first batch.  Do not pass a stream with a
    ProcessingTimeTimeout state function: the engine then schedules
    no-data batches forever and ``processAllAvailable`` never returns
    (see :func:`running_user_profiles`).

    The run uses :data:`STATE_PARTITIONS` shuffle partitions and
    restores the session setting afterwards.  Its checkpoint and output
    dirs are fresh ``tempfile`` dirs under the engine temp dir; the
    checkpoint is removed when the run ends, and on failure the output
    dir too.  A production stream's checkpoint is its recovery contract
    and belongs on durable storage (streaming/serving.py takes it as an
    argument)."""
    import os
    import shutil
    import tempfile
    import uuid

    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name_prefix}_")
    out_dir = tempfile.mkdtemp(prefix=f"out_{name_prefix}_")
    for old in list(_CKPT_DIRS):
        shutil.rmtree(old, ignore_errors=True)
        if not os.path.exists(old):
            _CKPT_DIRS.discard(old)
    _CKPT_DIRS.add(ckpt)
    _OUT_DIRS.add(out_dir)
    _sweep_at_exit()
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def _sink(bdf, _bid) -> None:
        # runs on the DRIVER once per micro-batch; the write itself is an
        # ordinary executor-parallel parquet job
        bdf.write.mode(write_mode).parquet(out_dir)

    try:
        q = (
            stream_df.writeStream.foreachBatch(_sink)
            .queryName(f"{name_prefix}_{uuid.uuid4().hex}")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        _OUT_DIRS.discard(out_dir)
        raise
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    # explicit schema: an emission can be empty (zero part files), and
    # the caller's downstream plan needs the stream's exact columns
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def stream_dir_for_file(path: str, copies: int = 1) -> str:
    """A temp directory containing symlink(s) to `path` — the parquet
    file-stream source requires a DIRECTORY (basePath), while the test
    tables are single parquet files.  Symlinking instead of copying keeps
    this O(1) at any table size.

    ``copies > 1`` links the same file under distinct names: with
    ``maxFilesPerTrigger=1`` each link becomes its own micro-batch, so
    every row is DELIVERED `copies` times — the at-least-once redelivery
    shape that exercises cross-batch dedup state for real."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="stream_src_")
    base = os.path.basename(path)
    for i in range(copies):
        name = base if i == 0 else f"redelivery{i}_{base}"
        os.symlink(os.path.abspath(path), os.path.join(d, name))
    return d


def stream_events_table(
    spark: SparkSession, sf_dir: str, copies: int = 1
) -> DataFrame:
    """File-source stream over the ``events`` table of ``sf_dir``, each
    link one micro-batch (:func:`stream_dir_for_file`; ``copies`` > 1
    redelivers every row).  The symlink dir is made once per (file,
    copies) per process and swept at exit, so a run — failed or not —
    leaves nothing behind; the schema is ``load_table``'s, so the stream
    reads ``ts`` exactly as the batch table does."""
    import os

    from ..sources.tables import load_table

    path = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    src_dir = _SRC_DIRS.get((path, copies))
    if src_dir is None or not os.path.isdir(src_dir):
        src_dir = _SRC_DIRS[(path, copies)] = stream_dir_for_file(path, copies)
        _sweep_at_exit()
    schema = load_table(spark, sf_dir, "events").schema
    return stream_events(spark, src_dir, schema=schema)


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization.

    Session-window aggregation (gap-based): consecutive events of a user
    closer than `gap` belong to one session; emits one row per closed
    session with its bounds, event count, and value sum.  Uses the built-in
    ``session_window`` (Spark's gap-window state store) — the declarative
    form of what the reference would have hand-rolled; for logic beyond
    gap-windows (e.g. conversion funnels) the escape hatch is
    ``applyInPandasWithState`` over the same user-keyed stream.
    """
    src = as_event_time(events)
    src = src.withWatermark("ts", watermark) if watermark else src
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def running_user_profiles(
    events: DataFrame,
    idle_timeout_ms: int = 0,
    event_time: bool = False,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a running per-user profile (event count, value sum, last seen ts)
    maintained across micro-batches and emitted every update.

    This is the escape hatch for stateful logic the built-in windows can't
    express (the brief's `applyInPandasWithState` surface): state is one
    row per user in the state store, each micro-batch folds its Arrow
    batches into it.  With `idle_timeout_ms` > 0 the state evicts after
    inactivity, emitting a final tombstone row with is_final=true, in one
    of two modes:

    - `event_time=False`: ProcessingTimeTimeout — wall-clock idleness.
      CAUTION: with this mode the engine schedules no-data micro-batches
      indefinitely (shouldRunAnotherBatch is unconditionally true), so
      `processAllAvailable()` never returns — poll the sink instead
      (tests/test_streaming.py) and bound churn with a processingTime
      trigger.
    - `event_time=True`: EventTimeTimeout — the deadline is
      `last_ts + idle_timeout_ms` in EVENT time and fires when the
      watermark (configured by `watermark`) passes it.  Deterministic
      w.r.t. the data (replayable, no wall clock), the right mode for
      backfills and exactly-reproducible pipelines; eviction latency is
      bounded by the watermark delay.
    """
    import sys as _sys

    try:  # by-value pickling (see recommenders/slim.py note)
        from pyspark import cloudpickle as _cp

        _cp.register_pickle_by_value(_sys.modules[__name__])
    except Exception:  # pragma: no cover
        pass

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("last_ts", TimestampType()),
            StructField("is_final", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("last_ts_us", LongType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, s, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        user_id,
                        n,
                        s,
                        pd.Timestamp(last_us, unit="us"),
                        True,
                    )
                ],
                columns=["user_id", "n_events", "sum_value", "last_ts", "is_final"],
            )
            return
        n, s, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            s += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
        state.update((n, s, last_us))
        if idle_timeout_ms > 0:
            if event_time:
                # event-time deadline in ms epoch; fires when the
                # watermark passes it
                state.setTimeoutTimestamp(last_us // 1000 + idle_timeout_ms)
            else:
                state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [(user_id, n, s, pd.Timestamp(last_us, unit="us"), False)],
            columns=["user_id", "n_events", "sum_value", "last_ts", "is_final"],
        )

    if idle_timeout_ms <= 0:
        timeout = GroupStateTimeout.NoTimeout
    elif event_time:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    src = as_event_time(events).select("user_id", "ts", "value")
    if idle_timeout_ms > 0 and event_time:
        src = src.withWatermark("ts", watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        fold, out_schema, state_schema, "update", timeout
    )


def stream_view_click_join(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join (``how`` = 'inner' or 'left_outer'): clicks
    within `horizon` AFTER a view by the same user — the streaming twin of
    the batch bounded-range join (operators/asof.range_join_within,
    `view_to_click_conversions`).

    Structured Streaming requires BOTH sides watermarked and an event-time
    bound in the join condition; together they let the engine evict
    buffered rows once no future match is possible (state ≈ one horizon +
    watermark of traffic per side, not the whole stream).

    Outer semantics (``how='left_outer'``): a view with no matching click
    is NOT emitted when first seen — it is held in the state store and
    emitted with NULL click columns only when the join state watermark
    (min across both sides' watermarks) passes the end of its match window
    (view_ts + horizon), i.e. when the engine can prove no future click
    can match.  NULL rows therefore appear one watermark delay after the
    window closes, and views whose windows are still open when the stream
    ends are never emitted (see `stream_view_click_outer`'s twin in
    plans/modelops.py for the exact eviction boundary).  Works identically
    on batch DataFrames for the inner case (watermarks are a no-op in
    batch; batch left_outer emits ALL unmatched views immediately) — the
    batch/stream parity pattern this module uses throughout.
    """
    v = as_event_time(views).select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    c = as_event_time(clicks).select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (v.user_id == c.c_user_id)
        & (c.click_ts >= v.view_ts)
        & (c.click_ts <= v.view_ts + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(c, cond, how).select(
        "user_id", "view_id", "click_id", "view_ts", "click_ts"
    )


def dedup_events_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup for at-least-once log delivery
    (the streaming twin of operators/dedup.dedup_exact).

    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts the
    key's dedup state once the watermark passes it — bounded state, unlike
    a plain streaming dropDuplicates whose state grows forever.  Duplicates
    arriving within the watermark horizon (the realistic redelivery window
    for log shippers) are suppressed; in batch mode watermarks are a no-op
    and it degrades to exact dedup.
    """
    keys = keys or ["event_id"]
    src = as_event_time(events).withWatermark("ts", watermark)
    if src.isStreaming:
        return src.dropDuplicatesWithinWatermark(keys)
    return src.dropDuplicates(keys)


def rowwise_minhash_bands(
    docs: DataFrame, rows_per_band: int | None = None
) -> DataFrame:
    """(doc_id, band, bucket) MinHash LSH bands computed PER ROW — no
    groupBy, no state: shingle → xxhash64 sid → 8 affine min-hashes via
    array_min(transform(...)) entirely inside codegen.

    This is the streaming-compatible formulation of
    operators/neardup.minhash_signatures: the batch path aggregates a
    shingle-id stream (portable dense_rank ids for the oracle), while a
    stream needs each doc's signature from its own row alone — xxhash64
    sids (the documented 100 TB convention) make the min-hash a pure
    per-row expression, so banding a document STREAM is a stateless map.
    Docs with fewer than 3 tokens have no shingles and emit no bands.
    """
    from ..operators.neardup import MINHASH_A, MINHASH_B, MINHASH_P

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n_sh = F.greatest(F.size("toks") - 2, F.lit(0))
    # nested zip_with over three shifted slices — the positional
    # transform+element_at form is O(len) per lookup (measured 6.5x
    # slower on the analogous bigram build, plans/textops.py)
    sh = F.zip_with(
        F.zip_with(
            F.slice("toks", 1, n_sh),
            F.slice("toks", 2, n_sh),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice("toks", 3, n_sh),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    sids = F.transform(
        "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P))
    )
    def affine(a: int, b: int):
        # closure factory: a bare 1-arg lambda (extra default args would
        # be read as higher-order-function arity by the analyzer)
        return lambda s: (s * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)

    base = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", sh.alias("shingles"))
        .select("doc_id", sids.alias("sids"))
        .select(
            "doc_id",
            *[
                F.array_min(F.transform("sids", affine(a, b))).alias(f"mh{k}")
                for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ],
        )
    )
    from ..operators.neardup import DEFAULT_ROWS_PER_BAND, band_buckets

    if rows_per_band is None:
        rows_per_band = DEFAULT_ROWS_PER_BAND

    return band_buckets(base, rows_per_band)


def stream_incremental_dedup(
    incoming: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """(doc_id, match_id, band) near-dup match events: each micro-batch of
    the incoming document STREAM probes the STATIC corpus band index — the
    streaming twin of plans/dedupops.q_incremental_dedup_flags and the
    third join flavor this engine demonstrates (stream-static, alongside
    stream-stream interval and batch as-of).

    A stream-static equi-join is STATELESS: no watermark, no state store —
    the static side is (re)broadcast/scanned per micro-batch and arbitrary
    late arrivals still match, which is exactly the dedup-service
    semantics (the index does not age out).

    CONVENTION CONTRACT: `index_bands` MUST be built with
    `rowwise_minhash_bands` over the index documents (the xxhash64 sid
    convention this module uses) — the batch query
    `incremental_dedup_flags` bands over PORTABLE dense_rank shingle ids
    (its DuckDB-oracle convention), which is a DIFFERENT bucket space;
    mixing the two silently yields near-zero matches.  Both share the
    one `operators/neardup.band_buckets` wire format, so the convention
    choice is entirely in the signature ids.  At 100 TB, persist the
    `rowwise_minhash_bands` output of the corpus as a bucketed table and
    point each micro-batch at it; rolling matches up per doc
    (n_candidates/min_match_id) belongs in the foreachBatch sink,
    keeping the streaming plan append-only.
    """
    inc = rowwise_minhash_bands(incoming)
    idx = index_bands.select(
        F.col("doc_id").alias("match_id"), "band", "bucket"
    )
    return inc.join(idx, ["band", "bucket"]).select(
        "doc_id", "match_id", "band"
    )


def chained_window_rollup(
    events: DataFrame,
    inner_duration: str = "15 minutes",
    outer_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Two CHAINED stateful windowed aggregations in one streaming query:
    fine-grained tumbling counts per event_type, re-aggregated into a
    coarser window (max / sum / n_windows of the inner counts) — the
    streaming form of a multi-resolution continuous aggregate (the batch
    twin is `multires_event_rollup`'s resolution ladder).

    Mechanism: Spark ≥3.4 allows multiple stateful operators in ONE
    append-mode query when the downstream groupBy keys on the upstream's
    WINDOW COLUMN (`F.window(F.col("win"), outer)`): the inner window
    struct carries the event-time interval, so the outer agg derives its
    own eviction from the same query watermark instead of needing a
    second `withWatermark`.  Emission cascades: an inner window is
    emitted once `watermark >= inner_end` (the inclusive eviction
    predicate pinned for `stream_tumbling_counts`), flows into the outer
    state store in a LATER micro-batch, and the outer window is emitted
    once `watermark >= outer_end`.  With aligned durations
    (outer % inner == 0) the last inner window of an outer window ends
    exactly at outer_end, so both predicates reduce to
    `outer_end <= final watermark` — the SQL-twin cutoff.  The drain
    keeps scheduling micro-batches while eviction can still progress
    (shouldRunAnotherBatch), so the cascade completes within one run.

    Why this matters at 100 TB/day: the raw-to-fine agg is the only one
    that sees full input volume; the fine-to-coarse agg's state is
    bounded by open windows × types (thousands of rows), making
    arbitrarily deep rollup ladders nearly free — the alternative
    (re-aggregating raw events per resolution) multiplies the full-volume
    scan and shuffle per level.
    """
    src = as_event_time(events).withWatermark("ts", watermark)
    inner = src.groupBy(
        F.window("ts", inner_duration).alias("win"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    return (
        inner.groupBy(
            F.window(F.col("win"), outer_duration).alias("outer_win"),
            "event_type",
        )
        .agg(
            F.max("cnt").alias("max_cnt"),
            F.sum("cnt").alias("sum_cnt"),
            F.count("*").cast("bigint").alias("n_windows"),
        )
        .select(
            F.col("outer_win.start").alias("window_start"),
            "event_type",
            "max_cnt",
            "sum_cnt",
            "n_windows",
        )
    )


def joined_conversion_counts(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join CHAINED into a windowed aggregation in
    ONE query — the other multiple-stateful-operator combination (Spark
    ≥3.4) next to agg→agg (`chained_window_rollup`): hourly conversion
    counts and total view→click delay, computed from the join output
    without landing it.

    Watermark propagation (pinned empirically in
    tests/test_streaming.py::test_availablenow_join_agg_watermark_boundary,
    derived from SPARK-40925's simulated propagation): the join DELAYS
    the downstream watermark by its state bound on the buffered side —
    an emitted row's view_ts can be as old as `wm − horizon` (a view
    stays joinable until the watermark passes view_ts + horizon), so the
    agg's effective watermark is `raw_wm − horizon` and a window is
    emitted iff `window_end + horizon < raw_wm` — STRICT at millisecond
    resolution, unlike the single-operator tumbling agg's inclusive
    boundary (raw_wm = ms-floored min of both sides' max event time,
    minus the watermark delay).

    The delay sum is exact epoch-micros integer arithmetic (bigint), so
    the emission is engine-portable; `countDistinct` is deliberately NOT
    used (unsupported on streaming aggregations).

    Why one query matters at 100 TB/day: the join's output never hits
    storage — matched pairs flow straight into window state (bounded by
    open windows), so the attribution dashboard costs one pass over each
    input stream; the two-job alternative lands |pairs| rows and rescans
    them per rollup.
    """
    joined = stream_view_click_join(
        views, clicks, horizon=horizon, watermark=watermark, how="inner"
    )
    return (
        joined.groupBy(F.window("view_ts", window_duration).alias("w"))
        .agg(
            F.count("*").alias("conversions"),
            F.sum(
                F.unix_micros("click_ts") - F.unix_micros("view_ts")
            ).alias("sum_delay_us"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "conversions",
            "sum_delay_us",
        )
    )
