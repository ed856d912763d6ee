"""Bench-session hygiene: shared payload caches must be releasable.

Round-4 postmortem: the official bench ran 112 queries in ONE session while
the shared kernel payloads (ICM/URM/adjacency/embedding builds) were
deliberately never unpersisted — by the late-alphabet queries, accumulated
MEMORY_AND_DISK partitions and localCheckpoints inflated UNRELATED queries
up to 6x (value_outliers 10.0 s polluted vs 1.5 s clean, code unchanged).
bench.py now calls ``release_session_payloads`` between query families;
these tests pin that the release (a) actually empties every cache layer and
(b) keeps a cheap query's cost flat after a heavy persisted-payload query.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import bench

from contentwise_impressions_spark.plans import shared
from contentwise_impressions_spark.plans.registry import all_queries
from contentwise_impressions_spark.plans.shared import release_session_payloads

SF = "/root/testdata/sf0.01"


def _jvm_persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _run(spark, name: str) -> float:
    qs = all_queries()
    t0 = time.perf_counter()
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def test_family_warmups_cover_shared_payload_modules(spark):
    """Every plan module that materializes session-shared payloads must
    expose a bench warmup (so the bench attributes build cost to a family
    line, not to whichever query touches the payload first) — and each
    warmup must actually populate a cache layer."""
    from contentwise_impressions_spark.operators import blocked_topk
    from contentwise_impressions_spark.plans.registry import bench_warmups

    warmups = bench_warmups()
    for fam in ("recsys", "mlops", "modelops", "cbfops",
                "textops", "selectionops"):
        assert fam in warmups, fam
    # dedupops splits its warmup into labeled parts (LSH pair
    # materialization vs ANN/PQ index builds) so regressions localize
    for part in ("dedupops/lsh", "dedupops/ann_index"):
        assert part in warmups, part
    release_session_payloads(spark)
    warmups["cbfops"](spark, SF)
    assert blocked_topk._CACHE  # the kernel payloads are pre-built
    release_session_payloads(spark)
    warmups["recsys"](spark, SF)
    assert shared._CACHE  # the URM is pre-materialized
    release_session_payloads(spark)


def test_release_empties_every_cache_layer(spark):
    """After release_session_payloads: the Python-side caches are empty and
    the JVM block manager holds zero persistent RDDs (persists AND
    localCheckpoints — the two accumulation vectors from round 4)."""
    from contentwise_impressions_spark.operators import blocked_topk

    release_session_payloads(spark)  # clean slate (session fixture is shared)
    # touch the three cache layers: a shared.materialized intermediate, a
    # blocked-kernel payload, and a localCheckpoint (minhash clusters)
    _run(spark, "itemcbf_cosine_topk")
    _run(spark, "minhash_dedup_clusters")
    assert blocked_topk._CACHE or shared._CACHE
    dropped = release_session_payloads(spark)
    assert dropped > 0
    assert not blocked_topk._CACHE
    assert not shared._CACHE
    assert _jvm_persistent_rdd_count(spark) == 0


def test_dedupops_subfamily_split_is_total_and_warmup_scoped(spark):
    """Round-13 verdict: the session-cached residual-PQ artifacts crowded
    five LSH-family queries 2-4x in-suite because all 39 dedupops queries
    ran as ONE bench family with both payload groups resident.  Pin the
    fix's shape: every bench-enabled dedupops query is assigned to one of
    the three sub-families (none left in the base module family, which
    would prefix-match BOTH warmups), and each warmup-backed sub-family
    matches exactly its own warmup key under bench.py's matching rule."""
    from contentwise_impressions_spark.plans.registry import (
        bench_query_families,
        bench_warmups,
    )

    fams = bench_query_families()
    warmups = bench_warmups()
    sub = {n: f for n, f in fams.items() if f.startswith("dedupops")}
    assert sub, "dedupops queries missing from the bench family map"
    allowed = {"dedupops/embed", "dedupops/ann_index", "dedupops/lsh"}
    assert set(sub.values()) <= allowed, sorted(set(sub.values()) - allowed)
    assert "dedupops" not in fams.values()  # base family would double-warm
    for fam in sorted(set(sub.values())):
        matched = [
            k for k in warmups if k == fam or k.startswith(f"{fam}/")
        ]
        assert len(matched) <= 1, (fam, matched)
    # the five round-13 victims all live in families WITHOUT the ANN
    # index payloads
    for victim in (
        "incremental_dedup_flags",
        "hard_negative_pairs",
        "minhash_dedup_clusters",
        "lsh_recall_stats",
        "eval_contamination",
    ):
        assert sub[victim] != "dedupops/ann_index", victim


def test_lsh_query_cost_flat_after_ann_index_payloads_released(spark):
    """The cross-sub-family pin the round-13 verdict asked for: an LSH
    query's cost must stay within 2x of its isolated cost when it runs
    after the ANN index payloads (IVF distances, PQ codebooks, residual-PQ
    centroid/code tables) were materialized and then released — exactly
    the boundary bench.py now crosses between the dedupops/ann_index and
    dedupops/lsh sub-families."""
    from contentwise_impressions_spark.plans.registry import bench_warmups

    release_session_payloads(spark)
    warmups = bench_warmups()
    warmups["dedupops/lsh"](spark, SF)
    _run(spark, "lsh_recall_stats")  # JIT/codegen warm-up
    t_iso = min(_run(spark, "lsh_recall_stats") for _ in range(3))
    release_session_payloads(spark)
    # the round-13 crowding source: the full ANN index build, residual-PQ
    # artifacts included
    warmups["dedupops/ann_index"](spark, SF)
    release_session_payloads(spark)
    warmups["dedupops/lsh"](spark, SF)
    _run(spark, "lsh_recall_stats")  # settle run, mirroring t_iso's warm-up
    t_after = min(_run(spark, "lsh_recall_stats") for _ in range(3))
    # structural gate above is the real pin; this wall-clock check gets an
    # absolute floor (sub-second plans are steal/GC-noise-dominated on this
    # VM) and ONE re-measure before failing — a loaded host inflates a
    # single triple far more often than a genuine payload re-accumulation,
    # which would survive the retry (r14 ADVICE).
    bound = 2.0 * max(t_iso, 0.5)
    if t_after > bound:
        # keep the first (failed) measurement visible in CI output so a
        # real regression trend isn't masked by the retry (r15 ADVICE)
        print(
            f"lsh wall-clock gate retry: first triple {t_after:.3f}s > "
            f"bound {bound:.3f}s (t_iso {t_iso:.3f}s) — re-measuring"
        )
        _run(spark, "lsh_recall_stats")  # re-settle
        t_after = min(_run(spark, "lsh_recall_stats") for _ in range(3))
    release_session_payloads(spark)
    assert t_after <= bound


def test_cheap_query_cost_flat_after_heavy_payload_query(spark):
    """A cheap scan-and-aggregate query must stay within 2x of its isolated
    cost when run after a heavy persisted-payload query + release — pins
    the de-pollution so silent re-accumulation fails loudly."""
    release_session_payloads(spark)
    _run(spark, "value_histogram")  # JIT/codegen warm-up for the cheap plan
    t_iso = min(_run(spark, "value_histogram") for _ in range(3))
    # heavy: builds and persists the ICM+CF payloads and runs the GEMM grid
    _run(spark, "cfcbf_hybrid_topk")
    release_session_payloads(spark)
    # one untimed settle run, mirroring the pre-t_iso warm-up: the GEMM grid
    # leaves JVM GC churn that decays within one run and is not the retained-
    # payload pollution this test pins (a re-accumulated persisted payload
    # would still slow the settled triple).
    _run(spark, "value_histogram")
    t_after = min(_run(spark, "value_histogram") for _ in range(3))
    # floor the baseline: sub-100ms plans are scheduler-noise-dominated
    assert t_after <= 2.0 * max(t_iso, 0.1)


def test_ivfpq_persist_before_fanout_pin(spark):
    """Regression pin for the r15 scale fix: ivfpq_topk must persist its
    trained artifacts (codebook, probe table, index payload) so the
    sizing count and the serving union don't re-execute the Lloyd/encode
    subtrees per consumer (BENCH_sf1 measured the family 5.2-7.1x warm
    at 10x data before the pin, 1.07-1.51x after).  And the blocks must
    stay sweepable: release_session_payloads' JVM block-manager sweep is
    what keeps the no-unpersist contract leak-free between families."""
    from contentwise_impressions_spark.operators.pq import ivfpq_topk
    from contentwise_impressions_spark.sources.tables import load_table

    release_session_payloads(spark, blocking=True)
    emb = load_table(spark, SF, "embeddings")
    out = ivfpq_topk(emb, k=3, n_list=8, ivf_iters=2)
    n_cached = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert n_cached >= 3, (
        f"expected the codebook/probe-table/index-payload persists, "
        f"found {n_cached} persistent RDDs"
    )
    assert out.count() > 0  # serving reads through the caches
    release_session_payloads(spark, blocking=True)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_overlap_jobs_runs_all_and_propagates_failure(spark):
    """The r16 warmup-overlap helper must (a) run every thunk to
    completion — a dropped build would leave a family payload cold and
    silently shift its cost onto the first timed query — and (b) surface
    a thunk's exception like the serial form did, AFTER all thunks
    settle (so one failed chain can't strand another mid-build)."""
    import pytest

    done: list[str] = []
    shared.overlap_jobs(
        lambda: done.append("a"),
        lambda: done.append("b"),
        lambda: done.append("c"),
    )
    assert sorted(done) == ["a", "b", "c"]

    seen: list[str] = []

    def boom() -> None:
        raise RuntimeError("chain failed")

    with pytest.raises(RuntimeError, match="chain failed"):
        shared.overlap_jobs(lambda: seen.append("x"), boom)
    assert seen == ["x"]  # the healthy chain still completed


def test_ivf_sq8_keyed_calls_share_one_persisted_copy(spark):
    """Both IVF-SQ8 searches session-cache their persisted payload/home
    tables and sizing facts under ``cache_key``: a second keyed call adds
    no persisted relation, runs no eager sizing job while it builds, and
    returns the same rows; after ``release_session_payloads`` the next
    call rebuilds identical rows."""
    from contentwise_impressions_spark.operators.ann import ivf_assignments
    from contentwise_impressions_spark.operators.sq import (
        sq8_ivf_residual_topk,
        sq8_ivf_topk,
    )
    from contentwise_impressions_spark.sources.tables import load_table

    sc = spark.sparkContext
    release_session_payloads(spark, blocking=True)
    emb = load_table(spark, SF, "embeddings")
    # the quantizer's Lloyd iterations run eagerly; only the search's own
    # build is watched for jobs
    home = ivf_assignments(emb, n_list=8, n_iters=2)
    for fn in (sq8_ivf_topk, sq8_ivf_residual_topk):
        key = f"{SF}:{fn.__name__}:8:2"

        def build(group: str):
            sc.setJobGroup(group, group)
            try:
                return fn(emb, home, k=3, cache_key=key)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        def rows(df):
            return sorted(map(tuple, df.collect()))

        first = rows(build(f"{fn.__name__}-first"))
        n_persisted = _jvm_persistent_rdd_count(spark)
        group = f"{fn.__name__}-second"
        second = build(group)
        assert not sc.statusTracker().getJobIdsForGroup(group)
        assert rows(second) == first
        assert _jvm_persistent_rdd_count(spark) == n_persisted
        release_session_payloads(spark, blocking=True)
        assert _jvm_persistent_rdd_count(spark) == 0
        assert rows(build(f"{fn.__name__}-rebuilt")) == first
        release_session_payloads(spark, blocking=True)


def test_stream_warmup_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """bench.py's streaming warmup drains its stream and removes every dir
    it made (source, checkpoint and output), and puts the engine temp dir
    setting back."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    bench._stream_warmup(spark)
    assert spark.streams.active == []
    assert tempfile.tempdir == str(scratch)
    assert os.listdir(scratch) == []


#: analyst_queries ops that compiled nothing on any of 10 warm re-runs at
#: sf0.001 (two sessions, five each).  A cold pass over them compiles ~190
#: generated classes, more than Spark's default 100-entry cache holds.
#: Ops whose AQE plan can number its codegen stages differently per run
#: (countmin_heavy_hitters, hll_distinct_sketch, item_pmi_topk, kcore_filter,
#: split_sizes, user_survival_curve) are left out.
WARM_OPS = (
    "click_attribution",
    "click_position_heatmap",
    "conversion_funnel",
    "daily_value_gapfill",
    "decayed_toppop",
    "event_transition_matrix",
    "multi_touch_attribution",
    "user_activity_deciles",
    "user_activity_gini",
    "user_retention_cohorts",
)


def test_warm_queries_compile_nothing(spark, sf_dir):
    """A query mix that repeats in a session compiles nothing the second
    time: the generated-class cache holds the mix's working set.  With
    Spark's 100-entry default the LRU is smaller than the cycle, so every
    repeat recompiles every class."""
    from contentwise_impressions_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    qs = all_queries()
    for name in WARM_OPS:
        bench._run_timed(qs[name], spark, sf_dir)
    warm = {name: bench._run_timed(qs[name], spark, sf_dir)[1] for name in WARM_OPS}
    assert not any(warm.values()), warm


def test_bench_artifact_records_codegen_compiles(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The artifact carries each in-suite query's compile delta next to
    ``queries`` and the suite total as a top-level key.  Two stub queries
    stand in for the suite and a Python counter for Spark's."""
    counter = {"n": 0}

    def stub(bump: int):
        def query(s, _sf_dir):
            counter["n"] += bump
            return s.range(1)

        return query

    monkeypatch.setattr(
        bench, "bench_queries", lambda: {"q_a": stub(3), "q_b": stub(5)}
    )
    monkeypatch.setattr(bench, "bench_query_families", lambda: {})
    monkeypatch.setattr(bench, "bench_warmups", lambda: {})
    monkeypatch.setattr(bench, "_stream_warmup", lambda s: None)
    monkeypatch.setattr(bench, "_codegen_compiles", lambda s: counter["n"])
    monkeypatch.setattr(bench, "_round", lambda: (tmp_path, "1"))
    monkeypatch.setattr(bench, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    bench.main()
    art = json.loads((tmp_path / "BENCH_full_r01.json").read_text())
    assert set(art["queries"]) == {"q_a", "q_b"}
    assert art["codegen_compiles"] == {"q_a": 3, "q_b": 5}
    assert art["codegen_compiles_total"] == 8
    keys = list(art)
    assert keys.index("codegen_compiles") == keys.index("queries") + 1
