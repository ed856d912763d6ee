"""Python DataSource (Spark 4 V2 extension API) for ratings text files.

The reference consumes `(user, item, rating[, ts])` text files with
arbitrary separators (Data_manager/DataReader_utils.py:96-170,
load_CSV_into_SparseBuilder); `sources/ratings_csv.load_ratings_csv` is
the production path (Spark's JVM CSV reader handles multi-char seps like
MovieLens' ``::`` natively and is the fast scan).  This module carries
the SAME format as a registered **Python DataSource** — the Spark 4
extension surface for formats the engine lacks a native reader for —
so the repo demonstrates the full source-extension API, not only the
built-in readers:

    spark.dataSource.register(RatingsDataSource)
    spark.read.format("ratings").option("sep", "::").load(path)

Engine mechanics worth knowing at scale:

- ``partitions()`` returns one :class:`InputPartition` per input file —
  Spark schedules one Python task per partition, so a directory of N
  shard files scans with N-way parallelism exactly like a native source.
- ``read()`` yields plain tuples; the worker Arrow-batches them back to
  the JVM.  A Python source is a per-row Python loop — fine for the
  long-tail formats this API exists for, NOT for the hot path (the
  repo-wide UDF discipline).  For hot formats use the JVM reader.
- ``pushFilters()`` (Spark 4.1; requires
  ``spark.sql.python.filterPushdown.enabled=true`` — the engine REFUSES
  a reader that overrides pushFilters while the flag is off, so the
  capability cannot silently degrade) implements source-side filtering:
  EqualTo on the token columns and numeric bounds on ``rating`` are
  consumed here (rows are dropped before serialization, the only saving
  a full-scan text source can offer), everything else is returned to
  Spark for post-scan evaluation.  Filters arrive ONLY for top-level
  AND conjuncts, mirroring the JVM pushdown contract.

Parity with the production loader is pinned by
tests/test_sources.py::test_python_datasource_matches_csv_loader; the
pushdown path by ::test_python_datasource_pushdown_prunes_rows.

The module also carries the other two V2 surfaces: a partition-planned
STREAMING reader (`SyntheticEventsDataSource`, under the driver hash
gate via `stream_synthetic_counts` and drained by the package's one
bounded-stream runner, streaming/ingest.run_stream_once) and a
transactional batch WRITER (`JsonlDataSource` — task-temp files
promoted only by the driver-side commit;
::test_python_datasource_jsonl_writer_commit_protocol).
"""

from __future__ import annotations

import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

try:  # by-value pickling: the registered DataSource class ships to the
    # planning worker and executors by cloudpickle, which serializes it
    # BY REFERENCE unless the module is registered by value — from a
    # foreign CWD (the driver contract) the workers cannot import this
    # package (same note as recommenders/slim.py)
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

RATINGS_SCHEMA = (
    "user_token string, item_token string, rating double, ts bigint"
)
_COLS = ("user_token", "item_token", "rating", "ts")


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class RatingsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ratings source requires a path")
        self.sep = options.get("sep", ",")
        self.header = options.get("header", "false").lower() == "true"
        self.pushed: list[Filter] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        for f in filters:
            # attribute paths are tuples; only top-level columns exist here
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            if isinstance(f, EqualTo) and col in ("user_token", "item_token"):
                self.pushed.append(f)
            elif (
                isinstance(
                    f,
                    (
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                    ),
                )
                and col == "rating"
            ):
                self.pushed.append(f)
            else:
                yield f  # unsupported -> Spark evaluates post-scan

    def partitions(self):
        import glob
        import os

        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*")))
        else:
            files = sorted(glob.glob(self.path)) or [self.path]
        return [_FilePartition(p) for p in files]

    def _keep(self, row: tuple) -> bool:
        vals = dict(zip(_COLS, row))
        for f in self.pushed:
            col, v = f.attribute[0], vals[f.attribute[0]]
            if v is None:
                # SQL comparison semantics: NULL <op> literal is unknown —
                # the post-scan Filter would drop the row, so the pushed
                # evaluation must too
                return False
            if isinstance(f, EqualTo) and v != f.value:
                return False
            if isinstance(f, GreaterThan) and not v > f.value:
                return False
            if isinstance(f, GreaterThanOrEqual) and not v >= f.value:
                return False
            if isinstance(f, LessThan) and not v < f.value:
                return False
            if isinstance(f, LessThanOrEqual) and not v <= f.value:
                return False
        return True

    @staticmethod
    def _parse(parts: list[str]) -> tuple:
        """Permissive row parse, matching the JVM CSV loader's tolerance
        (sources/ratings_csv.py reads with no schema and CASTS): a short
        line pads missing fields with NULL, an empty field is NULL (the
        csv reader's default nullValue), and an unparsable numeric casts
        to NULL instead of raising — malformed input must not kill the
        scan task.  ts keeps the loader's absent-column convention
        (lit(0) when the file carries no 4th column)."""

        def tok(i: int) -> str | None:
            return parts[i] if i < len(parts) and parts[i] != "" else None

        def num(i: int, cast):
            if i >= len(parts) or parts[i] == "":
                return None
            try:
                return cast(parts[i])
            except ValueError:
                return None

        ts = 0 if len(parts) <= 3 else num(3, int)
        return (tok(0), tok(1), num(2, float), ts)

    def read(self, partition: _FilePartition):
        first = True
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                if first and self.header:
                    first = False
                    continue
                first = False
                line = line.rstrip("\n")
                if not line:
                    continue
                row = self._parse(line.split(self.sep))
                if self._keep(row):
                    yield row


class RatingsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ratings"

    def schema(self) -> str:
        return RATINGS_SCHEMA

    def reader(self, schema) -> RatingsReader:
        return RatingsReader(self.options)


# ---------------------------------------------------------------------------
# streaming Python DataSource: deterministic synthetic event feed
# ---------------------------------------------------------------------------
#: the house portable-hash primes (functions/hashing.P1/P2): every field
#: is a pure function of the row id under SMALL final moduli, so any
#: engine regenerates the same rows (the DuckDB twin of
#: `stream_synthetic_counts` does exactly that from range()).  Each
#: field uses a modulus coprime to its multiplier so no residue class
#: degenerates (the first cut used one big-prime hash whose %5 was
#: constant for i < M/30 — multiplicative hashes only mix AFTER the
#: first wrap).
_P1 = 1_000_003
_P2 = 7_919

SYNTH_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"
_TYPES = ("view", "click", "purchase", "signup", "error")


def synth_row(i: int) -> tuple:
    """Row i of the synthetic feed — pure function of the row id (the
    engine-portability contract: any engine regenerates the same row)."""
    return (
        i,
        (i * _P2) % 97,
        _TYPES[(i * _P1) % 5],
        float((i * _P2) % 1000) / 100.0,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start, self.end = start, end


class SyntheticEventsStreamReader(DataSourceStreamReader):
    """Partition-planned streaming reader (the scale-path API — unlike
    SimpleDataSourceStreamReader, rows are generated on EXECUTORS):
    offsets are row counts, each micro-batch advances by `rows_per_batch`
    up to `max_rows`, and every batch's row range splits into
    `num_partitions` tasks.  Drain it with processAllAvailable
    (streaming/ingest.run_stream_once), not availableNow: this reader
    lacks native availableNow support, so Spark would wrap it and freeze
    latestOffset after one call — a single rows_per_batch batch."""

    def __init__(self, options) -> None:
        self.max_rows = int(options.get("max_rows", "10000"))
        self.rows_per_batch = int(options.get("rows_per_batch", "2500"))
        self.num_partitions = int(options.get("num_partitions", "4"))
        self._committed = 0

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"row": 0}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        # advances one quantum per planning probe, floored at the
        # committed high-water mark.  An extra probe only WIDENS the next
        # batch (partitions() always covers the full start..end range, so
        # no row is ever skipped); flooring at _committed plus the
        # partitions() clamp below makes reader re-instantiation
        # (checkpoint restart) well-defined — the fresh counter walks
        # forward in empty batches until it passes the checkpointed
        # start, then emission resumes.  NOTE: commit() arrives only
        # after the NEXT batch is planned (engine order), so _latest must
        # advance on its own — deriving latestOffset purely from
        # _committed deadlocks processAllAvailable after one batch
        # (measured, r13).
        self._latest = max(
            getattr(self, "_latest", 0), self._committed
        )
        self._latest = min(self._latest + self.rows_per_batch, self.max_rows)
        return {"row": self._latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        if hi <= lo:
            # end can trail start right after a checkpoint restart (fresh
            # reader, committed=0, while the offset log is further along);
            # an empty batch is the correct answer, never a negative range
            return []
        n = max(1, self.num_partitions)
        step = max(1, (hi - lo + n - 1) // n)
        return [
            _RangePartition(s, min(s + step, hi))
            for s in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synth_row(i)

    def commit(self, end: dict) -> None:
        # monotone high-water mark: a replayed/duplicate commit after
        # restart must never rewind the progression
        self._committed = max(self._committed, int(end["row"]))


class SyntheticEventsDataSource(DataSource):
    """format 'synthetic_events' — registered streaming source."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def streamReader(self, schema) -> SyntheticEventsStreamReader:  # noqa: N802
        return SyntheticEventsStreamReader(self.options)


def run_synthetic_counts(spark, max_rows: int = 10_000,
                         rows_per_batch: int = 2_500,
                         num_partitions: int = 4):
    """Per-type (cnt, sum_cents) of the synthetic stream, drained to
    completion: ceil(max_rows / rows_per_batch) micro-batches through the
    REAL offset/commit protocol, aggregated in complete mode by
    streaming/ingest.run_stream_once (which also says why the drain is
    processAllAvailable, not availableNow)."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import run_stream_once

    spark.dataSource.register(SyntheticEventsDataSource)
    src = (
        spark.readStream.format("synthetic_events")
        .option("max_rows", str(max_rows))
        .option("rows_per_batch", str(rows_per_batch))
        .option("num_partitions", str(num_partitions))
        .load()
    )
    # sum in integer cents (value is cents/100 by construction), so the
    # aggregate is an exact bigint in any engine
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.floor(F.col("value") * 100))
        .cast("bigint")
        .alias("sum_cents"),
    )
    return run_stream_once(agg, "synth", output_mode="complete")


# ---------------------------------------------------------------------------
# batch Python DataSourceWriter: transactional JSONL sink
# ---------------------------------------------------------------------------
class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path, self.rows = path, rows


class JsonlWriter(DataSourceWriter):
    """Per-task writer with the V2 COMMIT PROTOCOL — the part a naive
    foreachPartition sink gets wrong: each task writes to a hidden
    ``_tmp_<uuid>`` file and returns a :class:`WriterCommitMessage`; the
    DRIVER then either ``commit()``s (atomically renames every temp file
    into place and stamps ``_SUCCESS``) or ``abort()``s (deletes the
    temps).  A failed/speculatively-retried task therefore never leaves
    a partial file visible — the same task-commit contract the JVM
    FileFormatWriter implements, here in ~40 lines of Python for sinks
    Spark lacks a native writer for."""

    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl sink requires a path")
        self.overwrite = overwrite

    def write(self, iterator) -> _WroteFile:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _WroteFile(tmp, n)

    def commit(self, messages) -> None:
        import os

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-") or f == "_SUCCESS":
                    os.remove(os.path.join(self.path, f))
        for i, m in enumerate(messages):
            # keep the task uuid in the committed name so append jobs
            # never collide with an earlier commit's part files
            uid = os.path.basename(m.path)[len("_tmp_"):-len(".jsonl")]
            os.replace(
                m.path,
                os.path.join(self.path, f"part-{i:05d}-{uid}.jsonl"),
            )
        self._sweep_stale_tmps(exclude=set())
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        import os

        keep: set[str] = set()
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
        self._sweep_stale_tmps(exclude=keep)

    def _sweep_stale_tmps(self, exclude: set[str]) -> None:
        """Remove orphaned ``_tmp_*`` files (tasks that died mid-write
        return no commit message, so their temps are named in neither
        commit() nor abort() and would otherwise accumulate forever).
        The sink contract is ONE job per directory at a time — the same
        contract the JVM FileFormatWriter's staging dir assumes — so any
        temp left at job end that this job did not promote is stale."""
        import glob
        import os

        for f in glob.glob(os.path.join(self.path, "_tmp_*.jsonl")):
            if os.path.basename(f) not in exclude:
                try:
                    os.remove(f)
                except OSError:  # pragma: no cover - concurrent cleanup
                    pass


class JsonlDataSource(DataSource):
    """format 'jsonl_sink' — registered batch writer (local/NFS paths;
    a real deployment points it at a fuse mount or swaps the file ops
    for an object-store client — the commit protocol is the point)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> JsonlWriter:
        return JsonlWriter(self.options, overwrite)
