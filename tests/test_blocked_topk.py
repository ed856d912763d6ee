"""Unit tests for the distributed blocked cosine top-K kernel — edge cases
the parametrized oracle-parity suite doesn't isolate: k > n, tiny inputs,
feat-only vs adj-only vs hybrid agreement with a naive numpy computation."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from contentwise_impressions_spark.operators.blocked_topk import blocked_cosine_topk


def _naive_hybrid(feat_rows, adj_rows, icm_weight, k, eps=1e-6):
    """Reference computation over dicts: cosine of hstack([ICM·w, adjᵀ])."""
    items = sorted(
        {i for i, _, _ in feat_rows} | {i for i, _ in adj_rows}
    )
    feats = sorted({f for _, f, _ in feat_rows})
    vecs = {}
    for it in items:
        fv = {f: 0.0 for f in feats}
        for i, f, v in feat_rows:
            if i == it:
                fv[f] += v * icm_weight
        nbrs = {n for i, n in adj_rows if i == it}
        vecs[it] = (np.array([fv[f] for f in feats]), nbrs)
    out = []
    for j in items:
        sims = []
        for i in items:
            if i == j:
                continue
            fi, ni = vecs[i]
            fj, nj = vecs[j]
            dot = float(fi @ fj) + len(ni & nj)
            norm_i = math.sqrt(float(fi @ fi) + len(ni))
            norm_j = math.sqrt(float(fj @ fj) + len(nj))
            sims.append((i, dot / (norm_i * norm_j + eps)))
        sims.sort(key=lambda t: (-round(t[1], 9), t[0]))
        for rank, (i, s) in enumerate(sims[:k], start=1):
            out.append((i, j, round(s, 6), rank))
    return sorted(out)


def _collected(df):
    return sorted(
        (r["item_i"], r["item_j"], round(r["sim"], 6), r["rank"])
        for r in df.collect()
    )


@pytest.fixture()
def tiny(spark):
    feat_rows = [
        (1, "a", 1.0), (1, "b", 1.0),
        (2, "a", 1.0),
        (3, "b", 1.0), (3, "c", 1.0),
        (4, "c", 1.0),
    ]
    adj_rows = [(1, 10), (1, 11), (2, 10), (3, 11), (4, 12)]
    feat = spark.createDataFrame(feat_rows, "item_id long, feature string, value double")
    adj = spark.createDataFrame(adj_rows, "item_id long, nbr long")
    return feat_rows, adj_rows, feat, adj


def test_k_exceeds_n(tiny, spark):
    feat_rows, _, feat, _ = tiny
    out = _collected(blocked_cosine_topk(feat=feat, k=50))
    # 4 items, k=50 → each probe gets all 3 non-self neighbors
    per_probe = {}
    for i, j, s, r in out:
        per_probe.setdefault(j, []).append(r)
    assert all(sorted(v) == [1, 2, 3] for v in per_probe.values())
    assert out == _naive_hybrid(feat_rows, [], 1.0, 50)


def test_feat_only_matches_naive(tiny):
    feat_rows, _, feat, _ = tiny
    assert _collected(blocked_cosine_topk(feat=feat, k=2)) == _naive_hybrid(
        feat_rows, [], 1.0, 2
    )


def test_adj_only_matches_naive(tiny):
    _, adj_rows, _, adj = tiny
    assert _collected(blocked_cosine_topk(adj=adj, k=2)) == _naive_hybrid(
        [], adj_rows, 1.0, 2
    )


def test_hybrid_matches_naive(tiny):
    feat_rows, adj_rows, feat, adj = tiny
    assert _collected(
        blocked_cosine_topk(feat=feat, adj=adj, k=3, icm_weight=0.5)
    ) == _naive_hybrid(feat_rows, adj_rows, 0.5, 3)


def test_single_item_emits_nothing(spark):
    feat = spark.createDataFrame(
        [(1, "a", 1.0)], "item_id long, feature string, value double"
    )
    assert blocked_cosine_topk(feat=feat, k=5).count() == 0


def test_blocking_invariance(tiny, spark):
    # results must not depend on the block decomposition
    feat_rows, adj_rows, feat, adj = tiny
    a = _collected(blocked_cosine_topk(feat=feat, adj=adj, k=2, block_rows=2))
    b = _collected(
        blocked_cosine_topk(feat=feat, adj=adj, k=2, block_rows=4096, min_blocks=2)
    )
    assert a == b
    # adjacency only (the user-KNN shape): 60 users over 25 items is far
    # below one task's work, so the sizing rule puts it on a 1-block grid
    from contentwise_impressions_spark import sizing
    from contentwise_impressions_spark.operators.blocked_topk import _grid_blocks

    urm_rows = [
        (u, it) for u in range(1, 61) for it in range(25) if (u * 7 + it * 3) % 5 < 2
    ]
    assert _grid_blocks(60, sizing.cores(spark)) == 1
    urm = spark.createDataFrame(urm_rows, "item_id long, nbr long")
    one = _collected(blocked_cosine_topk(adj=urm, k=4))
    five = _collected(blocked_cosine_topk(adj=urm, k=4, min_blocks=5))
    assert one == five == _naive_hybrid([], urm_rows, 1.0, 4)


def test_requires_some_input():
    with pytest.raises(ValueError):
        blocked_cosine_topk()


def test_tie_heavy_topk_matches_naive(spark):
    # r16 emit rewrite (composite int-key selection): the risk case is a
    # rounded-value tie group that STRADDLES the k boundary — the winners
    # inside the group must be the smallest item ids, across every task
    # shape (diagonal, off-diagonal probe orientation, mirror
    # orientation).  Many items sharing identical binary feature vectors
    # produce exactly such tie groups; small blocks force all three
    # shapes; k=4 cuts inside the tie groups.
    feat_rows = []
    for it in range(1, 61):
        # 12 distinct vectors over 4 features → ~5-way duplicate vectors
        bits = [(it * 7 + 3) % 12 >> b & 1 for b in range(4)]
        if not any(bits):
            bits[it % 4] = 1
        for f, b in enumerate(bits):
            if b:
                feat_rows.append((it, f"f{f}", 1.0))
    feat = spark.createDataFrame(
        feat_rows, "item_id long, feature string, value double"
    )
    got = _collected(blocked_cosine_topk(feat=feat, k=4, block_rows=16))
    assert got == _naive_hybrid(feat_rows, [], 1.0, 4)


def _rint(sims, scale):
    """The kernel's half-up rounded integer form of a sims block."""
    r = np.floor(np.abs(sims) * scale + 0.5)
    return np.copysign(r, sims)


def _naive_select(rint, sims, p_ids, i_ids, mirror, k, scale):
    """Per-row top-k by (rounded desc, id asc), self-pairs excluded."""
    out = []
    for rnd, sms, rows, cols in [(rint, sims, p_ids, i_ids)] + (
        [(rint.T, sims.T, i_ids, p_ids)] if mirror else []
    ):
        for r, row_id in enumerate(rows):
            cand = [c for c in range(len(cols)) if cols[c] != row_id]
            cand.sort(key=lambda c: (-rnd[r, c], cols[c]))
            out += [
                (int(cols[c]), int(row_id), float(sms[r, c]),
                 float(rnd[r, c]) / scale)
                for c in cand[:k]
            ]
    return sorted(out)


def _rows(pdf):
    cols = ["item_i", "item_j", "sim", "rsim"]
    rows = sorted(map(tuple, pdf[cols].itertuples(index=False)))
    return [(int(i), int(j), float(s), float(r)) for i, j, s, r in rows]


def _sign_bits(pdf):
    pdf = pdf.sort_values(["item_j", "item_i"])
    return np.signbit(pdf["rsim"].to_numpy()).tolist()


@pytest.mark.parametrize("diagonal", [False, True])
def test_fast_selection_matches_lexsort_on_ties(diagonal):
    # the composite-key selection and the lexsort reference (also the
    # |sim|-overflow fallback) on a tie-heavy block: few distinct values,
    # k cutting inside the tie groups, unsorted ids, and ±tiny sims that
    # round to a signed zero.  Off-diagonal blocks emit both
    # orientations; a diagonal block masks its self-pairs.
    from contentwise_impressions_spark.operators.blocked_topk import (
        _key_base,
        _key_overflows,
        _select_lexsort,
        _select_topk,
    )

    rng = np.random.default_rng(7)
    levels = [0.5, 0.25, 1e-12, -1e-12, -0.25]
    weights = [0.05, 0.05, 0.35, 0.35, 0.2]
    n_p, n_i, k, scale = 23, 23 if diagonal else 31, 4, 1e9
    p_ids = rng.permutation(np.arange(100, 100 + 3 * n_p, 3))
    i_ids = p_ids if diagonal else rng.permutation(np.arange(500, 500 + n_i))
    sims = rng.choice(levels, size=(n_p, n_i), p=weights)
    if diagonal:
        sims = np.triu(sims) + np.triu(sims, 1).T  # symmetric block
    rint = _rint(sims, scale)
    assert not _key_overflows(rint, _key_base(n_p, n_i))
    mirror = not diagonal
    fast = _select_topk(
        rint.copy(), sims, p_ids, i_ids, diagonal, mirror, k, scale
    )
    ref = _select_lexsort(rint.copy(), sims, p_ids, i_ids, mirror, k, scale)
    assert _rows(fast) == _rows(ref)
    assert _rows(fast) == _naive_select(
        rint, sims, p_ids, i_ids, mirror, k, scale
    )
    assert _sign_bits(fast) == _sign_bits(ref)
    assert len(fast) == (n_p + (n_i if mirror else 0)) * k


def test_key_overflow_falls_back_to_lexsort():
    # |sim| ~ 1e7 at round_digits=9 puts rint·K past 2^53: the magnitude
    # guard alone must route the block to the lexsort selection, whose
    # rows are still the exact (rounded desc, id asc) top-k
    from contentwise_impressions_spark.operators.blocked_topk import (
        _key_base,
        _key_overflows,
        _select_lexsort,
        _select_topk,
    )

    rng = np.random.default_rng(11)
    n_p, n_i, k, scale = 9, 14, 3, 1e9
    p_ids = rng.permutation(np.arange(n_p)) + 1000
    i_ids = rng.permutation(np.arange(n_i)) + 2000
    sims = rng.choice([3e7, 1e7, 1e7, -2e7], size=(n_p, n_i))
    rint = _rint(sims, scale)
    assert _key_overflows(rint, _key_base(n_p, n_i))
    got = _select_topk(rint.copy(), sims, p_ids, i_ids, False, True, k, scale)
    assert _rows(got) == _rows(
        _select_lexsort(rint.copy(), sims, p_ids, i_ids, True, k, scale)
    )
    assert _rows(got) == _naive_select(
        rint, sims, p_ids, i_ids, True, k, scale
    )


def test_broadcast_path_matches_fallback(tiny):
    # asymmetric replication: features via executor broadcast (default)
    # must be bit-identical to features carried inside the blocked payload
    # (feat_broadcast_mb=0 forces the fallback)
    feat_rows, adj_rows, feat, adj = tiny
    bc = _collected(
        blocked_cosine_topk(feat=feat, adj=adj, k=3, icm_weight=0.5)
    )
    fb = _collected(
        blocked_cosine_topk(
            feat=feat, adj=adj, k=3, icm_weight=0.5, feat_broadcast_mb=0.0
        )
    )
    assert bc == fb == _naive_hybrid(feat_rows, adj_rows, 0.5, 3)


def test_merge_exchange_width_is_data_derived(tiny, spark):
    # r16 #12: the top-k merge window repartitions on its key with a width
    # derived from the partial-row estimate (AQE-exempt REPARTITION_BY_NUM),
    # instead of inheriting the session shuffle default — and the rows are
    # identical under any width (the window result is partitioning-free).
    from contentwise_impressions_spark.operators.ann import _merge_topk
    from contentwise_impressions_spark.sizing import ROWS_PER_TASK

    partials = spark.createDataFrame(
        [(i % 7, 100 + i, float(i % 13)) for i in range(200)],
        "vec_id long, neighbor_id long, cosine double",
    )
    base = _merge_topk(partials, 3)
    hinted = _merge_topk(partials, 3, est_rows=5 * ROWS_PER_TASK)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, hinted.collect())
    )
    plan = hinted._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(vec_id" in plan
    # exactly one exchange on the window key: the explicit repartition
    # satisfies the window's required distribution
    assert plan.count("hashpartitioning(vec_id") <= 2  # spec + its Arguments line

    # the blocked kernel's item_j merge carries the same pin
    _, _, feat, adj = tiny
    out = blocked_cosine_topk(feat=feat, adj=adj, k=3)
    bplan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "hashpartitioning(item_j" in bplan
    assert "REPARTITION_BY_NUM" in bplan


def test_alloc_mode_geometry():
    # thresholds derive from the block geometry: mmap above one full-matrix
    # buffer (arena-backed), trim above the task working set — and floor at
    # (256, 64) MB for small blocks
    from contentwise_impressions_spark.operators.blocked_topk import (
        _alloc_mode_for,
        _grid_blocks,
    )

    assert _alloc_mode_for(1430) == (256, 64)  # 16 MB buffer -> floors
    trim, mmap = _alloc_mode_for(4096)  # 134 MB buffer (block_rows cap)
    assert trim == 8 * 128 and mmap == 2 * 128
    # _grid_blocks is the call blocked_cosine_topk makes (exported so the
    # family warmup pre-faults the exact task shape).  Large grids keep
    # the former ≈3×-cores rule's block counts ...
    for n, par in [(20_000, 32), (1_000_000, 32)]:
        min_blocks = max(
            2, int(math.ceil((math.sqrt(1.0 + 24.0 * par) - 1.0) / 2.0))
        )
        assert _grid_blocks(n, par) == max(
            min_blocks, int(math.ceil(n / 4096.0))
        )
    # ... while work below one task's worth (sizing.WORK_PER_TASK cells)
    # runs on a single block instead of a core-count-sized grid
    for n, par in [(6, 4), (200, 8)]:
        assert _grid_blocks(n, par) == 1


def test_retain_task_buffers_idempotent():
    from contentwise_impressions_spark.functions import blasctl

    blasctl.retain_task_buffers(256, 128)
    applied = blasctl._ALLOC_APPLIED
    blasctl.retain_task_buffers(256, 128)  # second call is a no-op
    assert blasctl._ALLOC_APPLIED == applied == (256, 128)
    blasctl.retain_task_buffers(512, 128)  # new values re-apply
    assert blasctl._ALLOC_APPLIED == (512, 128)
