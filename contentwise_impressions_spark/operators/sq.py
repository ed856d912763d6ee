"""SQ8 scalar quantization ANN — the FAISS ``ScalarQuantizer`` (QT_8bit)
analog, completing the quantization family next to PQ/IVF-PQ.

Reference context: the reference serves similarity from float matrices
(Compute_Similarity_Python.py); SQ8 is the standard 4× compression step a
production vector store applies before them (one byte per dimension,
per-dimension affine codec).  Unlike PQ there is no codebook training —
the "model" is the per-dimension (min, max) bounds, one tiny aggregate.

Engine-exactness by integer design (same philosophy as operators/ann.py's
QUANT): every quantity that crosses an engine boundary is an integer on a
fixed grid, so sums are order-independent and bit-identical anywhere:

- bounds grid: ``xg = floor(x·2^10 + 0.5)`` → per-dim ``imn/imx`` ints;
- code = clamp(floor((xg−imn)·255 / max(imx−imn, 1) + 0.5), 0, 255);
- decoded value (scaled by 255 to stay integral):
  ``X = 255·imn + code·(imx−imn)`` — |X| ≲ 2^20;
- probes quantize on the usual 2^22 grid → |pq| ≲ 2^23;
- ADC dot = Σ_d pq·X ≤ 64·2^43 < 2^53 → EXACT in float64 GEMM; the
  norms (Σ pq², Σ X²) stay under 2^53 too, and IEEE sqrt/divide are
  correctly rounded — the cosine is bit-identical cross-engine.

Scale shape: bounds are a d-row aggregate (broadcast as literals); codes
are pure codegen column expressions (no UDF); the flat search is the
blocked all-pairs GEMM (`ann._hash_blocks` — bounded task memory, no
driver collect, grid sized by `contentwise_impressions_spark.sizing`).
At 100 TB the same codes feed the IVF-routed kernel instead; the flat
path here is the exact-baseline index.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # by-value pickling (see recommenders/slim.py note)
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

from .ann import (  # noqa: E402
    QUANT,
    _TOPK_PARTIAL,
    _as_double,
    _hash_blocks,
    _list_sizes,
    _merge_topk,
)
from .blocked_topk import _cached  # noqa: E402
from ..functions.blasctl import limit_blas_threads  # noqa: E402
from .. import sizing  # noqa: E402

#: bounds grid 2^10: coarse enough that 255·imn + code·(imx−imn) and all
#: its sums stay exact (see module docstring), fine enough that the grid
#: error (≤ 2^-11) is far below the codec's own 1/255 step.
GRID = 1024.0


def sq8_bounds(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> list[tuple[int, int]]:
    """Per-dimension (imn, imx) integer bounds on the GRID — the SQ8
    "model".  A d-row aggregate: collect is bounded by the embedding
    dimensionality, never the corpus."""
    rows = (
        embeddings.select(
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(
            F.min(
                F.floor(F.col("x") * GRID + F.lit(0.5)).cast("bigint")
            ).alias("imn"),
            F.max(
                F.floor(F.col("x") * GRID + F.lit(0.5)).cast("bigint")
            ).alias("imx"),
        )
        .collect()
    )
    rows.sort(key=lambda r: r["pos"])
    return [(int(r["imn"]), int(r["imx"])) for r in rows]


def sq8_decode_col(vec_col, bounds: list[tuple[int, int]]):
    """Column expression: embedding array → decoded 255-scaled integer
    values (as array<double>) through the 8-bit codec — encode + decode
    fused in pure codegen (no UDF).  ``X = 255·imn + code·(imx−imn)``."""
    imn = F.array(*[F.lit(int(a)) for a, _ in bounds])
    rng_raw = F.array(*[F.lit(int(b - a)) for a, b in bounds])
    rng_div = F.array(*[F.lit(int(max(b - a, 1))) for a, b in bounds])

    def dec(x, i):
        xg = F.floor(x * F.lit(GRID) + F.lit(0.5)).cast("bigint")
        mn = F.element_at(imn, i + 1)
        code = F.least(
            F.greatest(
                F.floor(
                    ((xg - mn) * 255).cast("double")
                    / F.element_at(rng_div, i + 1)
                    + F.lit(0.5)
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(255).cast("bigint"),
        )
        return (
            F.lit(255) * mn + code * F.element_at(rng_raw, i + 1)
        ).cast("double")

    return F.transform(_as_double(vec_col), dec)


def _sq8_task(pdf: pd.DataFrame, kk: int) -> pd.DataFrame:
    """Per-block SQ8 ADC top-k: full-precision probe rows (_side=1)
    against decoded 8-bit index rows (_side=0).  Shared by the flat
    all-pairs path (`sq8_topk`) and the IVF-routed path
    (`sq8_ivf_topk`) — only the block decomposition differs."""
    limit_blas_threads()  # Spark tasks are the parallel unit
    probes = pdf[pdf["_side"] == 1]
    index = pdf[pdf["_side"] == 0]
    if len(probes) == 0 or len(index) == 0:
        return pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "cosine": []}
        ).astype(
            {
                "vec_id": "int64",
                "neighbor_id": "int64",
                "cosine": "float64",
            }
        )
    p_ids = probes["vec_id"].to_numpy(dtype=np.int64)
    i_ids = index["vec_id"].to_numpy(dtype=np.int64)
    pq = np.floor(
        np.array(list(probes["_emb"]), dtype=np.float64) * QUANT + 0.5
    )
    xm = np.array(list(index["_x"]), dtype=np.float64)
    # in-place block math (first-touch provisioning, see blocked_topk)
    cos = pq @ xm.T
    denom = np.outer(
        np.sqrt((pq * pq).sum(axis=1)), np.sqrt((xm * xm).sum(axis=1))
    )
    np.divide(cos, denom, out=cos)
    n_p, n_i = len(p_ids), len(i_ids)
    cos[i_ids[None, :] == p_ids[:, None]] = -np.inf
    m_sel = min(n_i, kk + 1)  # +1 allows dropping a self-pair
    if n_i > m_sel:
        part = np.argpartition(cos, n_i - m_sel, axis=1)[
            :, n_i - m_sel:
        ]
        pvals = np.take_along_axis(cos, part, axis=1)
        cand = cos >= pvals.min(axis=1)[:, None]
    else:
        cand = np.ones((n_p, n_i), dtype=bool)
    r_idx, c_idx = np.nonzero(cand)
    rvals = cos[r_idx, c_idx]
    order = np.lexsort((i_ids[c_idx], -rvals, r_idx))
    r_s, c_s = r_idx[order], c_idx[order]
    starts = np.searchsorted(r_s, np.arange(n_p))
    pos = np.arange(len(r_s)) - starts[r_s]
    keep = pos < kk
    r_k, c_k = r_s[keep], c_s[keep]
    ok = i_ids[c_k] != p_ids[r_k]  # self sorts last; drop if kept
    r_k, c_k = r_k[ok], c_k[ok]
    return pd.DataFrame(
        {
            "vec_id": p_ids[r_k],
            "neighbor_id": i_ids[c_k],
            "cosine": cos[r_k, c_k].astype(np.float64),
        }
    )


def _sq8_task_fn(kk: int):
    """Bare two-arg (key, pdf) closure for applyInPandas — extra default
    args would be mis-read as UDF arity (see verify notes)."""

    def run(_key, pdf):
        return _sq8_task(pdf, kk)

    return run


def _sq8_payload(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, _emb, _x): full-precision probe array next to the decoded
    SQ8 index array — both sides of the asymmetric-distance convention in
    one row, so either search path needs only ONE corpus scan."""
    bounds = sq8_bounds(embeddings, vec_col)
    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        _as_double(F.col(vec_col)).alias("_emb"),
        sq8_decode_col(F.col(vec_col), bounds).alias("_x"),
    )


def sq8_topk(
    embeddings: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    block_rows: int = 4096,
    min_blocks: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """(vec_id, neighbor_id, cosine, rank): top-k by SQ8 ADC cosine —
    full-precision probes against 8-bit-compressed index vectors, the
    asymmetric-distance convention (probe error contributes nothing).

    Blocked all-pairs GEMM (bounded task memory, no driver state); the
    emitted cosine is exact integer arithmetic end to end, so the DuckDB
    twin reproduces it bit-for-bit."""
    payload = _sq8_payload(embeddings, vec_col)
    both, n, n_blk = _hash_blocks(payload, block_rows, min_blocks, key=cache_key)
    kk = int(k)

    partials = both.groupby("pblk", "iblk").applyInPandas(
        _sq8_task_fn(kk), _TOPK_PARTIAL
    )
    # every probe contributes <= k rows from each of its n_blk index blocks
    return _merge_topk(partials, k, est_rows=n * n_blk * kk)


def sq8_residual_payload(
    embeddings: DataFrame,
    home: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, list_id, _emb, _x): the RESIDUAL SQ8 codec — encode
    r = x − c_home on the bounds grid, reconstruct x̂ = c_home + dec(r)
    (the FAISS ``IndexIVFScalarQuantizer`` with ``by_residual=True``,
    mirroring what operators/pq.ivfpq_residual_topk does for PQ).

    Residuals concentrate around the origin, so the per-dimension
    (imn, imx) bounds span the WITHIN-list spread instead of the global
    coordinate range — the same 8-bit budget buys a finer step.

    Exactness discipline (the residual-PQ argument on the SQ8 grid): the
    coarse centroid is re-rounded to the bounds grid from EXACT integer
    sums (floor(Σxg/n + 0.5) — a float centroid's last ulp would not
    replay cross-engine), so residuals, bounds, codes and the 255-scaled
    reconstruction x̂₂₅₅ = 255·cg + 255·imn + code·(imx−imn) are all
    integers: |x̂₂₅₅| ≲ 2^20, probe entries ≲ 2^23, dots ≤ 64·2^43 < 2^53
    — exact in float64, bit-identical in any engine.

    Scale shape: the centroid table is n_list × d rows (broadcast), the
    bounds a d-row aggregate (broadcast), and the codec one map-side
    pass over the exploded corpus — no driver state, no collect."""
    e = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"),
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("x") * GRID + F.lit(0.5)).cast("bigint").alias("xg"),
    )
    hm = home.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "list_id"
    )
    eh = e.join(hm, "vec_id")
    cg = eh.groupBy("list_id", "pos").agg(
        F.floor(F.sum("xg") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("bigint")
        .alias("cg")
    )
    r = eh.join(F.broadcast(cg), ["list_id", "pos"]).withColumn(
        "rg", F.col("xg") - F.col("cg")
    )
    bounds = r.groupBy("pos").agg(
        F.min("rg").alias("imn"), F.max("rg").alias("imx")
    )
    code = F.least(
        F.greatest(
            F.floor(
                ((F.col("rg") - F.col("imn")) * 255).cast("double")
                / F.greatest(F.col("imx") - F.col("imn"), F.lit(1))
                + F.lit(0.5)
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        ),
        F.lit(255).cast("bigint"),
    )
    xv = r.join(F.broadcast(bounds), "pos").select(
        "vec_id",
        "list_id",
        "pos",
        (
            F.lit(255) * F.col("cg")
            + F.lit(255) * F.col("imn")
            + code * (F.col("imx") - F.col("imn"))
        )
        .cast("double")
        .alias("xv"),
    )
    dec = xv.groupBy("vec_id", "list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "xv"))),
            lambda s: s["xv"],
        ).alias("_x")
    )
    prb = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        _as_double(F.col(vec_col)).alias("_emb"),
    )
    return dec.join(prb, "vec_id").select("vec_id", "list_id", "_emb", "_x")


def _list_grid_topk(
    idx: DataFrame,
    prb: DataFrame,
    k: int,
    n_groups: int,
    n_pairs: int,
    est_rows: int,
) -> DataFrame:
    """Shared (list_id, sub) search of both IVF-SQ8 paths: tagged union →
    one groupBy, the `_sq8_task` ADC kernel per group, global merge.

    Explicit task-count repartition on the group keys (r16): AQE-exempt,
    keeps the GEMM tasks spread under the session's size-based
    coalescing; the width comes from the score-cell count
    (sizing.kernel_tasks)."""
    n_tasks = sizing.kernel_tasks(
        sizing.cores(idx.sparkSession), n_groups, n_pairs
    )
    partials = (
        idx.unionByName(prb.select(idx.columns))
        .repartition(n_tasks, "list_id", "sub")
        .groupby("list_id", "sub")
        .applyInPandas(_sq8_task_fn(int(k)), _TOPK_PARTIAL)
    )
    return _merge_topk(partials, k, est_rows=est_rows)


def sq8_ivf_residual_topk(
    embeddings: DataFrame,
    assignments: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    block_rows: int = 4096,
    cache_key: str | None = None,
) -> DataFrame:
    """Residual-encoded IVF-SQ8 — ``sq8_ivf_topk`` with the
    ``by_residual=True`` codec of :func:`sq8_residual_payload`; same
    routing (home list only), same sub-blocked (list_id, sub) shuffle,
    same exact-merge argument, same `_sq8_task` ADC kernel.

    The assignment table and the codec output are PERSISTED before the
    search fans them out: `home` anchors the centroid/residual/bounds
    groupBys and the index/probe branches (without it the caller's Lloyd
    subtree re-executes per reuse — measured 24.5x warm at 10x data on
    an uncached 80-list quantizer), and `payload` carries the
    reconstruction arrays both union branches read.  `cache_key`: as in
    ``sq8_ivf_topk``."""
    from pyspark import StorageLevel

    def build() -> tuple:
        home = assignments.select("vec_id", "list_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        payload = sq8_residual_payload(embeddings, home, vec_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return (home, payload, *_list_sizes(payload))

    _, payload, n_lists, mx, n_vec, n_pairs = _cached(
        embeddings.sparkSession, cache_key and ("sq8ivfr", cache_key), build
    )
    n_sub = max(1, int(math.ceil(mx / float(block_rows))))
    idx = payload.withColumn("_side", F.lit(0)).withColumn(
        "sub", F.pmod(F.xxhash64("vec_id"), F.lit(n_sub)).cast("int")
    )
    prb = payload.withColumn("_side", F.lit(1)).withColumn(
        "sub", F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1)))
    )
    # home-list routing: each probe scores in its home list's n_sub
    # sub-blocks, <= k rows each
    return _list_grid_topk(
        idx, prb, k, n_lists * n_sub, n_pairs, n_vec * n_sub * int(k)
    )


def sq8_ivf_topk(
    embeddings: DataFrame,
    assignments: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    block_rows: int = 4096,
    probes: DataFrame | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-routed SQ8 search — the FAISS ``IndexIVFScalarQuantizer``
    analog, and the scale path for the flat ``sq8_topk`` baseline
    (exactly the composition step PQ took to IVF-PQ).

    (vec_id, neighbor_id, cosine, rank): each probe scores ONLY the
    vectors sharing its IVF home list (`assignments` = (vec_id, list_id)
    from operators/ann.ivf_assignments, n_probe=1), by the same SQ8 ADC
    cosine as the flat path — full-precision probe against the 8-bit
    decoded index vector, global per-dimension bounds (FAISS trains the
    scalar quantizer once over the corpus; the inverted lists only route).

    Scale shape: support drops from n² to Σ_l n_l² — with √N-scaled
    n_list the per-list slab stays bounded, and a skewed list is
    sub-blocked (probes replicate across a list's sub-blocks, index
    vectors hash into them) so a hot cluster can never pin one unbounded
    task.  Exactness of the merge: a candidate's home list is unique, so
    each (probe, candidate) pair is scored in exactly ONE task and the
    per-task partial top-k + global window merge equals the one-shot
    ranking over the list-restricted candidate set.  Every emitted cosine
    is exact integer arithmetic on the fixed grids (module header), so
    the DuckDB twin replays the whole route-encode-score pipeline
    bit-for-bit.

    The assignment table is PERSISTED before the search fans it out
    (sizing aggregate + index and probe branches): with an uncached
    coarse quantizer, each reuse would otherwise re-execute the caller's
    whole Lloyd subtree — measured 24.5x warm at 10x data on an 80-list
    quantizer before the pin, ~0.9x after (constant per-list slab).  The
    SQ8 payload is persisted for the same reason (both union branches
    read it).  Deliberately NOT unpersisted: the returned plan reads
    through the caches lazily.

    `cache_key`: optional session-cache key (see blocked_topk._cached) —
    it must name every input the cached value depends on (the table, the
    quantizer's n_list/n_iters, the probe routing).  Keyed calls share ONE
    persisted payload/home/probe copy and its sizing facts per session,
    released by ``plans.shared.release_session_payloads``; an un-keyed
    call persists fresh copies that its caller owns (sweep them with
    ``spark.catalog.clearCache()`` or a targeted ``unpersist``)."""
    from pyspark import StorageLevel

    def build() -> tuple:
        payload = _sq8_payload(embeddings, vec_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        home = assignments.select("vec_id", "list_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # multiprobe: `probes` = (vec_id, list_id) pairs for each probe's
        # n_probe nearest lists (ann.ivf_probe_lists) — the standard IVF
        # recall knob.  Exactly-once scoring holds: the index side stays
        # home-list-only (unique per candidate) and a probe's lists are
        # distinct, so each (probe, candidate) pair meets in at most one
        # (list_id, sub) task.
        prb_lists = (
            home
            if probes is None
            else probes.select("vec_id", "list_id").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
        return (payload, home, prb_lists, *_list_sizes(home))

    payload, home, prb_lists, n_lists, mx, n_vec, n_pairs = _cached(
        embeddings.sparkSession, cache_key and ("sq8ivf", cache_key), build
    )
    n_sub = max(1, int(math.ceil(mx / float(block_rows))))
    idx = (
        payload.join(home, "vec_id")
        .withColumn("_side", F.lit(0))
        .withColumn(
            "sub", F.pmod(F.xxhash64("vec_id"), F.lit(n_sub)).cast("int")
        )
    )
    prb = (
        payload.join(prb_lists, "vec_id")
        .withColumn("_side", F.lit(1))
        .withColumn("sub", F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))))
    )
    # probes route to n_sub sub-blocks per probed list, <= k rows each
    # (n_vec counts home rows and Σ list² the home-only cells; the
    # multiprobe factor is a small constant, an order-of-magnitude
    # sizing, not a contract)
    return _list_grid_topk(
        idx, prb, k, n_lists * n_sub, n_pairs, n_vec * n_sub * int(k)
    )
