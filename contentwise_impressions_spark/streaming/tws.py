"""transformWithState operators — Spark 4.x's arbitrary-state API.

`transformWithStateInPandas` (SPARK-49212, GA in Spark 4.0) supersedes
`applyInPandasWithState` with composable typed state (ValueState /
ListState / MapState), per-key timers, state TTL, and initial-state
bootstrap.  This module carries the engine's TWS formulation of the
per-user ledger (the `stream_user_profiles` family's newer-API twin).

AVAILABILITY GATE: the TWS Python worker speaks a protobuf-framed state
protocol to the JVM (`pyspark.sql.streaming.proto`), so it requires the
`google.protobuf` runtime — which this container does not ship.  The
operator therefore fails fast with a clear message when protobuf is
missing (see :func:`tws_available`), and its test skips rather than
registering a driver query that cannot run here.  On a cluster with
protobuf installed the operator is exercised by
tests/test_streaming.py::test_tws_user_ledger unchanged.

The state layout mirrors what the RocksDB provider persists at scale:
one MapState row per (user, event_type) — bounded by live keys, evicted
by TTL in a real deployment — rather than one opaque blob per user, so
hot users never rewrite their whole profile per event.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: RocksDB is the only state-store provider transformWithState supports
#: (the HDFS-backed default lacks the column-family layout TWS needs).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

LEDGER_SCHEMA = (
    "user_id bigint, event_type string, cnt bigint, "
    "sum_value double, last_us bigint"
)


def tws_available() -> bool:
    """True iff the transformWithState Python worker can start here
    (requires the google.protobuf runtime for the state protocol)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_type_ledger(events: DataFrame) -> DataFrame:
    """(user_id, event_type, cnt, sum_value, last_us) running ledger via
    ``transformWithStateInPandas`` + MapState — the TWS twin of the
    `applyInPandasWithState` fold in `streaming/ingest.py` (same
    semantics as the batch GROUP BY user_id, event_type under
    single-delivery run_stream_once).

    Each input micro-batch updates the user's MapState entries
    (event_type → (cnt, sum_value, last_us)) and emits a full snapshot
    of the map — update-mode semantics, so a downstream store upserts by
    (user_id, event_type).  Timestamps travel as epoch-micros BIGINTs:
    state-schema types are the stable cross-version subset, and the
    caller re-hydrates with ``F.timestamp_micros``.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the google.protobuf runtime "
            "(pyspark's TWS state protocol); not installed in this "
            "environment — see streaming/tws.py module docstring"
        )
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from .ingest import as_event_time

    class Ledger(StatefulProcessor):
        def init(self, handle) -> None:
            self.counts = handle.getMapState(
                "counts",
                "event_type string",
                "cnt bigint, sum_value double, last_us bigint",
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for et, g in pdf.groupby("event_type"):
                    prev = (
                        self.counts.getValue((et,))
                        if self.counts.containsKey((et,))
                        else (0, 0.0, -(2**63))
                    )
                    ts_us = (
                        g["ts"].astype("datetime64[us]").astype("int64").max()
                    )
                    self.counts.updateValue(
                        (et,),
                        (
                            int(prev[0]) + len(g),
                            float(prev[1]) + float(g["value"].sum()),
                            max(int(prev[2]), int(ts_us)),
                        ),
                    )
            uid = int(key[0])
            snap = [
                (uid, et[0], int(v[0]), float(v[1]), int(v[2]))
                for et, v in self.counts.iterator()
            ]
            yield pd.DataFrame(
                snap,
                columns=[
                    "user_id", "event_type", "cnt", "sum_value", "last_us",
                ],
            )

        def close(self) -> None:
            pass

    return (
        as_event_time(events)
        .select("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(Ledger(), LEDGER_SCHEMA, "update", "None")
    )


def run_ledger_once(events_stream: DataFrame) -> DataFrame:
    """Drain :func:`user_type_ledger` through ``run_stream_once`` with
    the RocksDB provider pinned for the run (TWS refuses the default
    HDFS-backed provider), returning the snapshot with a rehydrated
    timestamp column."""
    from .ingest import run_stream_once

    spark = events_stream.sparkSession
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        out = run_stream_once(
            user_type_ledger(events_stream), "tws_ledger", output_mode="update"
        )
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    return out.withColumn(
        "last_ts", F.timestamp_micros(F.col("last_us"))
    ).drop("last_us")
