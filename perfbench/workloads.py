"""The benchmark's fixed op sets, drawn from the query registry.

Each workload's *pool* is the set of registered bench queries it describes
(``select_pool``); the op set it runs is a fixed, named subset of that pool
(``OPS``), sized so that every run, with its set-up, one untimed pass and
the timed window, fits the benchmark's time budget on a 4-core host.
``--seed`` only shuffles the order the ops run in within each pass.
"""

from __future__ import annotations

import random
import re

#: workload -> the payload-sharing families (``bench_query_families``) its
#: pool is drawn from, plus named extra queries.  ``analyst_queries`` keeps
#: only queries whose oracle reads ``events``.  ``recsys_experiment`` adds
#: the popularity serving store, the streaming upsert that serves the TopPop
#: model, so the streaming layer is measured too.
FAMILIES = {
    "analyst_queries": ("relational", "recsys", "impressionops"),
    "recsys_experiment": ("mlops", "cbfops", "dedupops/ann_index"),
}
EXTRA = {"recsys_experiment": ("stream_popularity_store",)}
WORKLOADS = tuple(FAMILIES)

#: The fixed op sets.  analyst_queries: dataset statistics over the
#: interaction log (sketches, windows, joins, pivots, sessions, cohort,
#: funnel and split statistics, impression lists): short ops where
#: driver-side build, planning and job scheduling dominate.
#: recsys_experiment: graph and KNN scoring, the blocked cosine top-K
#: kernel, IVF-SQ8 retrieval, ranking evaluation, and the serving store's
#: streaming upsert through state store and foreachBatch sink: Python Arrow
#: kernels, URM shuffles and the write path.
OPS = {
    "analyst_queries": (
        "active_users",
        "click_attribution",
        "click_position_heatmap",
        "conversion_funnel",
        "countmin_heavy_hitters",
        "daily_value_gapfill",
        "decayed_toppop",
        "event_transition_matrix",
        "events_of_known_customers",
        "hll_distinct_sketch",
        "impression_urm",
        "item_pmi_topk",
        "kcore_filter",
        "latest_event_per_user",
        "multi_touch_attribution",
        "split_sizes",
        "top_events_per_type",
        "user_activity_deciles",
        "user_activity_gini",
        "user_journey_patterns",
        "user_retention_cohorts",
        "user_survival_curve",
        "value_quantiles",
        "weekday_hour_traffic",
    ),
    "recsys_experiment": (
        "ann_ivf_sq8_topk",
        "itemcbf_cosine_topk",
        "rp3beta_topk",
        "stream_popularity_store",
        "toppop_eval_metrics",
        "userknn_recommendations",
    ),
}

#: workload -> the registry family warmups (``bench_warmups``) it runs in
#: set-up: those whose payloads its ops read.  The relational warmup builds
#: the lineitem co-order graph, which no events query reads; the
#: ann_index warmup builds every index variant, of which the ANN op needs
#: only its own and builds it on first touch in the untimed pass.
WARMUPS = {
    "analyst_queries": ("recsys",),
    "recsys_experiment": ("mlops", "cbfops"),
}

_READS_EVENTS = re.compile(r"\bevents\b")


def select_pool(workload: str, queries, families, oracles) -> list[str]:
    """Sorted names of the bench queries the workload's pool holds."""
    fams = FAMILIES[workload]
    names = [n for n in queries if families.get(n) in fams]
    if workload == "analyst_queries":
        names = [n for n in names if _READS_EVENTS.search(oracles.get(n, ""))]
    return sorted(names + [n for n in EXTRA.get(workload, ()) if n in queries])


def pass_order(ops, seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a shuffle keyed by (seed, pass number)."""
    order = sorted(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
