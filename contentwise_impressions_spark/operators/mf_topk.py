"""Bounded matrix-factorization top-K serving — no user×catalog
materialization.

The naive MF serving plan (``factor.mf_scores``: users crossJoin broadcast
item factors → per-user window over the whole catalog) is correct but
scores O(U·I) rows before ranking — at 10⁷ users × 10⁶ items that is 10¹³
window-input rows, the definitional 100× scale-killer.  The reference
bounds the same computation with 1000-user dense blocks
(Evaluator.py:482-484); MLlib's ``recommendForAllUsers`` uses a blocked
GEMM + per-block top-k for the same reason.  This operator is that idiom,
with the repo's deterministic ordering contract kept end to end:

- **Per-user over-fetch**: each user keeps its top ``k + deg(u)``
  candidates (deg = that user's train-profile length).  Remove-seen can
  strike at most deg(u) items from u's list, so the final top-k after the
  anti-join is provably inside the kept prefix — the ``toppop_scores``
  bound (operators/scoring.py:94-128), tightened from the global max
  degree to the per-user degree so one power user cannot inflate every
  user's candidate list.  Output volume is Σ_u (k + deg(u)) =
  U·k + nnz(train) — linear in the URM, not U·I.
- **Broadcast path** (item factors fit ``item_broadcast_mb``): the
  (n_items × width) factor matrix ships once per executor — 10⁶ items ×
  rank 16 is 128 MB, so this is the normal catalog-scale path — and a
  ``mapInPandas`` kernel streams user-factor partitions through a
  user-chunked GEMM, emitting only each user's top-(k+deg) rows.  The
  driver collect is size-GATED by the same contract as Spark's
  broadcast-join threshold (cf. blocked_topk._feat_broadcast).
- **Blocked path** (above the gate): users hash into UB blocks, items
  into IB blocks of ~``item_block_rows``; the tagged-union + one
  ``applyInPandas`` per (ub, ib) grid task does a bounded GEMM and emits
  per-user partial top-(k+deg) per item block (cf. blocked_topk's grid —
  no symmetry here, so the full UB×IB grid).  A user's merged candidates
  are IB·(k+deg(u)) rows — still catalog-free.
- **Exact partial/merge split**: kernels rank on half-up-rounded scores
  (matching F.round / DuckDB semantics, see blocked_topk) and the merge
  window orders by the SAME emitted doubles (rsim desc, item_id asc), so
  block partials are supersets of the global top list by construction and
  cross-engine tie order is stable.

Semantics equal ``recommend_top_k(mf_scores(uf, itf), k, train=...)``
(pinned by tests/test_models.py equivalence on both paths); the crossJoin
formulation survives only as that test oracle.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

try:  # by-value pickling: executors need no PYTHONPATH (see slim.py note)
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

from ..functions.blasctl import limit_blas_threads  # noqa: E402
from .. import sizing  # noqa: E402

#: per-session bounded registry of live item-factor broadcasts / persisted
#: factor frames: repeated serving calls (e.g. the quality-gate plan serving
#: several models in one session) would otherwise accumulate
#: O(n_items·rank·8) blocks per call on driver + executors (never freed
#: until GC).  Each new entry evicts beyond the cap with a non-blocking
#: ``unpersist()`` — safe even if an evicted broadcast's DataFrame is
#: re-executed later (Spark re-ships from the driver value) — so live
#: footprint is bounded by the cap, not the call count.
_LIVE_CAP = 3
_LIVE: dict[str, list] = {}


def _track(spark, handle) -> None:
    key = spark.sparkContext.applicationId
    live = _LIVE.setdefault(key, [])
    live.append(handle)
    while len(live) > _LIVE_CAP:
        old = live.pop(0)
        try:
            old.unpersist(False)
        except Exception:  # pragma: no cover
            pass


_PARTIAL = StructType(
    [
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("score", DoubleType()),
        StructField("rsim", DoubleType()),
    ]
)

#: per-GEMM slab budget (doubles): user rows per chunk = budget // n_items
_GEMM_FLOATS = 8_000_000


def _empty_partial() -> pd.DataFrame:
    return pd.DataFrame(
        {"user_id": [], "item_id": [], "score": [], "rsim": []}
    ).astype(
        {
            "user_id": "int64",
            "item_id": "int64",
            "score": "float64",
            "rsim": "float64",
        }
    )


def _emit_topm(
    rnd: np.ndarray,
    sms: np.ndarray,
    row_ids: np.ndarray,
    col_ids: np.ndarray,
    m_rows: np.ndarray,
) -> pd.DataFrame:
    """Per-row top-m_rows[r] of `rnd` in (value desc, col_id asc) total
    order — the vectorized emission of blocked_topk, generalized to a
    PER-ROW keep count (no self-pair mask: user≠item spaces)."""
    n_r, n_c = rnd.shape
    m_eff = np.minimum(m_rows, n_c)
    mmax = int(m_eff.max()) if len(m_eff) else 0
    if mmax <= 0 or n_c == 0:
        return _empty_partial()
    if n_c > mmax:
        # boundary = each row's m-th largest rounded value; >= keeps all
        # boundary ties, trimmed to exactly m below in total order
        # (ascending argpartition — no negated full-matrix copy)
        pvals = np.take_along_axis(
            rnd,
            np.argpartition(rnd, n_c - mmax, axis=1)[:, n_c - mmax:],
            axis=1,
        )
        pv_sorted = -np.sort(-pvals, axis=1)
        kth = pv_sorted[np.arange(n_r), m_eff - 1]
        cand = rnd >= kth[:, None]
    else:
        cand = np.ones((n_r, n_c), dtype=bool)
    r_idx, c_idx = np.nonzero(cand)
    rvals = rnd[r_idx, c_idx]
    order = np.lexsort((col_ids[c_idx], -rvals, r_idx))
    r_s, c_s = r_idx[order], c_idx[order]
    starts = np.searchsorted(r_s, np.arange(n_r))
    pos = np.arange(len(r_s)) - starts[r_s]
    keep = pos < m_eff[r_s]
    r_k, c_k = r_s[keep], c_s[keep]
    return pd.DataFrame(
        {
            "user_id": row_ids[r_k].astype(np.int64),
            "item_id": col_ids[c_k].astype(np.int64),
            "score": sms[r_k, c_k].astype(np.float64),
            "rsim": rvals[order][keep].astype(np.float64),
        }
    )


def _round_half_up(s: np.ndarray, scale: float | None) -> np.ndarray:
    # one temporary instead of five, identical IEEE op sequence per
    # element (first-touch provisioning rationale, see blocked_topk);
    # `s` itself is left untouched — callers emit its raw values
    if scale is None:
        return s
    out = np.abs(s)
    out *= scale
    out += 0.5
    np.floor(out, out=out)
    out /= scale
    np.copysign(out, s, out=out)
    return out


def _user_side(
    user_factors: DataFrame,
    train: DataFrame | None,
    users: DataFrame | None,
    k: int,
) -> DataFrame:
    """(user_id, features, _m): factors restricted to `users` with the
    per-user candidate budget _m = k + deg(u)."""
    uf = user_factors.select("user_id", "features")
    if users is not None:
        uf = uf.join(users.select("user_id"), "user_id", "left_semi")
    if train is None:
        return uf.withColumn("_m", F.lit(int(k)))
    deg = train.groupBy("user_id").agg(F.count("*").alias("_deg"))
    return uf.join(deg, "user_id", "left").select(
        "user_id",
        "features",
        (F.lit(int(k)) + F.coalesce("_deg", F.lit(0))).cast("int").alias("_m"),
    )


def mf_recommend_top_k(
    user_factors: DataFrame,
    item_factors: DataFrame,
    k: int,
    train: DataFrame | None = None,
    users: DataFrame | None = None,
    round_digits: int | None = 9,
    item_broadcast_mb: float = 256.0,
    item_block_rows: int = 4096,
) -> DataFrame:
    """Top-k MF recommendations (user_id, item_id, score, rank) with
    remove-seen, never materializing a user×catalog score stream.

    `train`: (user_id, item_id) pairs to exclude (remove-seen) — also sets
    the per-user over-fetch budget.  `users`: optional user subset to
    serve.  `round_digits`: rank on round(score, d) half-up with item_id
    tiebreak (the recommend_top_k contract).  `item_broadcast_mb`: budget
    for the broadcast-items fast path; 0 forces the blocked grid.
    """
    from pyspark import StorageLevel

    spark = user_factors.sparkSession
    uf = _user_side(user_factors, train, users, k)
    # persist across this operator's driver actions (count/first + the
    # collect-or-grid consumption): a lazy caller whose factors are an
    # unmaterialized fit lineage pays the fit ONCE here, not per action
    itf = item_factors.select("item_id", "features").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_items = itf.count()  # dimension-scale action (catalog cardinality)
    if n_items == 0:
        itf.unpersist(False)
        return spark.createDataFrame([], _PARTIAL).withColumn(
            "rank", F.lit(0).cast("int")
        ).drop("rsim")
    width = len(itf.first()["features"])  # cached: reads one partition
    scale = None if round_digits is None else 10.0 ** int(round_digits)

    if n_items * max(width, 1) * 8 <= item_broadcast_mb * (1 << 20):
        cand = _broadcast_gemm(uf, itf, n_items, scale)
        itf.unpersist(False)  # payload now lives in the broadcast
    else:
        cand = _blocked_gemm(uf, itf, n_items, scale, item_block_rows)
        _track(spark, itf)  # lazily read by the grid; evicted by cap

    if train is not None:
        cand = cand.join(
            train.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
        )
    w = Window.partitionBy("user_id").orderBy(
        F.col("rsim").desc(), F.col("item_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .drop("rsim")
    )


def _broadcast_gemm(
    uf: DataFrame, itf: DataFrame, n_items: int, scale: float | None
) -> DataFrame:
    """Item factors once per executor; user partitions stream through a
    chunked GEMM emitting per-user top-_m partials.

    Driver materialization goes through Arrow (``toPandas``), not
    ``collect()``: Row objects cost ~10-30× the packed 8 B/float the
    ``item_broadcast_mb`` gate budgets, so the Arrow path keeps driver
    peak near the gated estimate instead of a multiple of it."""
    spark = uf.sparkSession
    try:  # Arrow transfer keeps driver RSS ≈ the gated ndarray size
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:  # pragma: no cover
        pass
    pdf = itf.toPandas()  # size-gated by the caller
    pdf = pdf.sort_values("item_id", kind="stable")
    ids = pdf["item_id"].to_numpy(dtype=np.int64)
    vmat = np.stack(
        [np.asarray(f, dtype=np.float64) for f in pdf["features"]]
    )
    bc = spark.sparkContext.broadcast((ids, vmat))
    _track(spark, bc)  # bounded-lifetime: evicted beyond _LIVE_CAP

    def gen(batches):
        limit_blas_threads()  # Spark tasks are the parallel unit
        ids_b, v = bc.value
        chunk = max(1, _GEMM_FLOATS // max(len(ids_b), 1))
        for pdf in batches:
            for c0 in range(0, len(pdf), chunk):
                sub = pdf.iloc[c0 : c0 + chunk]
                u = np.stack(
                    [np.asarray(f, dtype=np.float64) for f in sub["features"]]
                )
                s = u @ v.T
                yield _emit_topm(
                    _round_half_up(s, scale),
                    s,
                    sub["user_id"].to_numpy(),
                    ids_b,
                    sub["_m"].to_numpy().astype(np.int64),
                )

    return uf.mapInPandas(gen, _PARTIAL)


def _blocked_gemm(
    uf: DataFrame,
    itf: DataFrame,
    n_items: int,
    scale: float | None,
    item_block_rows: int,
) -> DataFrame:
    """UB×IB grid of bounded GEMM tasks (the any-scale path): users are
    shipped IB times, items UB times, each task holds one user block + one
    item block and emits per-user partial top-_m for its item block."""
    c = sizing.cores(uf.sparkSession)
    n_ib = max(1, int(math.ceil(n_items / float(item_block_rows))))
    # user blocks from the grid's work (sizing.kernel_tasks); the catalog
    # count stands in for the uncounted user side
    work = n_items * n_items
    n_ub = max(1, -(-sizing.kernel_tasks(c, n_items * n_ib, work) // n_ib))
    u_side = uf.select(
        F.lit(1).alias("_side"),
        F.col("user_id").alias("fid"),
        "features",
        "_m",
        F.pmod(F.xxhash64("user_id"), F.lit(n_ub)).cast("int").alias("_ub"),
        F.explode(F.sequence(F.lit(0), F.lit(n_ib - 1))).alias("_ib"),
    )
    i_side = itf.select(
        F.lit(0).alias("_side"),
        F.col("item_id").alias("fid"),
        "features",
        F.lit(0).alias("_m"),
        F.explode(F.sequence(F.lit(0), F.lit(n_ub - 1))).alias("_ub"),
        F.pmod(F.xxhash64("item_id"), F.lit(n_ib)).cast("int").alias("_ib"),
    )
    both = u_side.unionByName(i_side.select(u_side.columns))

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        limit_blas_threads()  # Spark tasks are the parallel unit
        up = pdf[pdf["_side"] == 1]
        ip = pdf[pdf["_side"] == 0]
        if len(up) == 0 or len(ip) == 0:
            return _empty_partial()
        iids = ip["fid"].to_numpy().astype(np.int64)
        v = np.stack([np.asarray(f, dtype=np.float64) for f in ip["features"]])
        m_all = up["_m"].to_numpy().astype(np.int64)
        uids = up["fid"].to_numpy().astype(np.int64)
        chunk = max(1, _GEMM_FLOATS // max(len(iids), 1))
        parts = []
        for c0 in range(0, len(up), chunk):
            sub = up.iloc[c0 : c0 + chunk]
            u = np.stack(
                [np.asarray(f, dtype=np.float64) for f in sub["features"]]
            )
            s = u @ v.T
            parts.append(
                _emit_topm(
                    _round_half_up(s, scale),
                    s,
                    uids[c0 : c0 + chunk],
                    iids,
                    m_all[c0 : c0 + chunk],
                )
            )
        return pd.concat(parts, ignore_index=True)

    # explicit grid-task repartition: AQE would coalesce the shuffle-tiny
    # but compute-heavy tasks onto a handful of cores (see blocked_topk)
    n_tasks = sizing.kernel_tasks(c, n_ub * n_ib, work)
    return (
        both.repartition(n_tasks, "_ub", "_ib")
        .groupby("_ub", "_ib")
        .applyInPandas(lambda _k, pdf: task(pdf), _PARTIAL)
    )
