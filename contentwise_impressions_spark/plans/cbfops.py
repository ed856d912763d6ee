"""Content-based / hybrid operators over a real item-content matrix.

The ICM (item × content-feature) comes from `part` attributes (brand, type
tokens, size bucket); the CF interaction matrix is customer×part derived
from lineitem ⋈ orders — the harness analog of URM + ICM that the CBF and
hybrid recommenders need.

Reference:
- ItemKNN-CBF — KNN/ItemKNNCBFRecommender.py:30-51 (similarity over ICMᵀ)
- CFCBF hybrid — KNN/ItemKNN_CFCBF_Hybrid_Recommender.py:20-29:
  hstack([ICM·w, URMᵀ]) then one CBF similarity — relationally a UNION of
  weighted feature triples with namespaced feature ids.
- feature pruning — Data_manager/DataReader_utils.py:208-245
- cold entities — Base/BaseRecommender.py:41-51
- RMSE — Base/Evaluation/metrics.py:219-266 (present-but-disabled in the
  reference harness; exposed here over the GlobalEffects predictor)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import bucket_hash
from ..operators.similarity import similarity_scores, similarity_top_k
from ..sources.tables import load_table
from . import shared
from .mlops import RATED_CTE, _rated
from .registry import QuerySpec, register

#: oracle CTE: the item-content matrix (item_id, feature, value=1)
ICM_CTE = """
    icm AS (
        SELECT p_partkey AS item_id, 'b:' || p_brand AS feature, 1.0 AS value
        FROM part
        UNION ALL
        SELECT DISTINCT p_partkey, 't:' || UNNEST(string_split(p_type, ' ')), 1.0
        FROM part
        UNION ALL
        SELECT p_partkey, 's:' || CAST(p_size // 10 AS VARCHAR), 1.0 FROM part
    )
"""

#: oracle CTE: customer×part CF matrix from lineitem ⋈ orders
CF_CTE = """
    cf AS (
        SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id, 1.0 AS value
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
"""


def _icm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted once per session (plans/shared.py) — four queries read it
    return shared.materialized(spark, sf_dir, "icm", lambda: _build_icm(spark, sf_dir))


def _build_icm(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    brand = part.select(
        F.col("p_partkey").alias("item_id"),
        F.concat(F.lit("b:"), F.col("p_brand")).alias("feature"),
        F.lit(1.0).alias("value"),
    )
    types = (
        part.select(
            F.col("p_partkey").alias("item_id"),
            F.explode(F.split("p_type", " ")).alias("tok"),
        )
        .distinct()
        .select(
            "item_id",
            F.concat(F.lit("t:"), F.col("tok")).alias("feature"),
            F.lit(1.0).alias("value"),
        )
    )
    size = part.select(
        F.col("p_partkey").alias("item_id"),
        F.concat(
            F.lit("s:"), (F.col("p_size") / 10).cast("int").cast("string")
        ).alias("feature"),
        F.lit(1.0).alias("value"),
    )
    return brand.unionByName(types).unionByName(size)


def _cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the widest shared intermediate (lineitem ⋈ orders + dedup shuffle)
    return shared.materialized(spark, sf_dir, "cf", lambda: _build_cf(spark, sf_dir))


def _build_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .dropDuplicates(["user_id", "item_id"])
        .withColumn("value", F.lit(1.0))
    )


def bench_warmup(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the family's shared payloads — ICM, CF matrix, and the
    blocked-kernel payloads/broadcast both KNN queries consume — so the
    bench attributes the build cost to a family line, not to whichever of
    itemcbf/cfcbf runs first (round-5 artifact: 19.4 s vs 3.5 s warm)."""
    from ..operators.blocked_topk import prepare_kernel_payloads

    icm = _icm(spark, sf_dir)
    adj = _cf(spark, sf_dir).select("item_id", F.col("user_id").alias("nbr"))
    feat_key, adj_key = f"{sf_dir}:icm", f"{sf_dir}:cf"
    # same gate + cache keys as the queries' own kernel calls — above the
    # broadcast budget this warms the fallback payload, never an
    # unbounded driver collect.
    # r16: the feature chain (payload → gate count → broadcast assembly)
    # and the CF adjacency build are independent — run as concurrent
    # jobs (guide §2.6); exactly one thread touches each kernel-cache
    # key (the second prepare call below only stitches the two cached
    # pieces).  Payload contents unchanged.
    from ..operators.blocked_topk import _adj_payload
    from .shared import overlap_jobs

    box: dict[str, object] = {}

    def chain_feat() -> None:
        box["bc1"], *_ = prepare_kernel_payloads(icm, None, feat_key)

    overlap_jobs(
        chain_feat,
        lambda: _adj_payload(adj, adj_key).count(),
    )
    bc1 = box["bc1"]  # itemcbf
    bc2, _, n_items, _ = prepare_kernel_payloads(
        icm, adj, feat_key, adj_key
    )  # cfcbf
    # ...and run one trivial ARROW task per worker slot that touches the
    # feature broadcast: the r12 in-suite-vs-best-of-3 gap on this family
    # (itemcbf 9.7 s vs 4.5; 14.4 vs 3.9 measured in isolation) is
    # first-kernel-contact cost on the python workers — pandas/pyarrow
    # import + Arrow serializer init + the n×F broadcast unpickle, paid
    # once per worker process and previously all attributed to whichever
    # timed kernel ran first.  A 2×cores mapInPandas probe fills every
    # task slot concurrently, so the per-worker tax lands here, on the
    # family build line where first-touch cost belongs.
    #
    # r17: the probe ALSO pre-faults each worker's kernel buffer working
    # set inside the retained allocator arena
    # (operators/blocked_topk._alloc_mode_for / blasctl.retain_task_buffers):
    # the r17 phase log showed the first timed kernel run paying 231 s of
    # in-task numpy time vs 31 s warm at sf0.1 — fresh-page faults on the
    # ~80 MB/task full-matrix buffers, concurrent across 32 workers and
    # host-throttled (~50x re-touch cost).  Retention makes the fault a
    # once-per-worker cost; this probe makes it land HERE, on the family
    # build line, instead of on whichever timed kernel query runs first.
    from ..operators import blocked_topk as _bt
    from ..functions.blasctl import retain_task_buffers as _retain

    bcs = [b for b in {id(bc1): bc1, id(bc2): bc2}.values() if b is not None]
    sc = spark.sparkContext
    n_slots = max(sc.defaultParallelism, 1)
    blk = -(-int(n_items) // _bt._grid_blocks(int(n_items), n_slots))
    alloc = _bt._alloc_mode_for(blk)

    def _touch(batches):
        import numpy as np
        import pandas as pd

        s = sum(int(b.value[0][0]) for b in bcs)
        _retain(*alloc)
        # fault the per-task full-matrix working set once (kernel tasks
        # hold ~5 blk×blk float64 buffers at peak); the pages stay
        # arena-resident for every later kernel task on this worker
        ws = [np.empty((blk, blk)) for _ in range(5)]
        for a in ws:
            a.fill(0.0)
        s += int(ws[0][0, 0])
        del ws
        for _ in batches:
            yield pd.DataFrame({"v": [s]})

    spark.range(2 * n_slots, numPartitions=2 * n_slots).mapInPandas(
        _touch, "v bigint"
    ).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# ItemKNN-CBF (KNN/ItemKNNCBFRecommender.py:30-51)
# ---------------------------------------------------------------------------
def q_itemcbf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based item-item cosine over the ICM, top-5 per item.

    Runs through the DISTRIBUTED blocked kernel (operators/blocked_topk
    .py): content features are low-cardinality, so the relational
    self-join's pair support is effectively all-pairs — O(n_items²)
    output no plan can shrink (measured >120 s at sf0.1 vs ~3 s blocked).
    The cogrouped block-GEMM computes identical cosines without
    materializing the pair table OR the matrix on the driver (the oracle
    SQL keeps the join formulation, feasible at oracle scale)."""
    from ..operators.blocked_topk import blocked_cosine_topk

    icm = _icm(spark, sf_dir)
    return blocked_cosine_topk(
        feat=icm, k=5, icm_weight=1.0, feat_key=f"{sf_dir}:icm"
    )


register(
    QuerySpec(
        "itemcbf_cosine_topk",
        q_itemcbf_cosine_topk,
        f"""
        WITH {ICM_CTE},
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM icm GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM icm a JOIN icm b
              ON a.feature = b.feature AND a.item_id <> b.item_id
            GROUP BY 1, 2
        )
        SELECT item_i, item_j,
               dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                    ORDER BY dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) DESC,
                             item_i ASC) AS INT) AS rank
        FROM d JOIN n ni ON d.item_i = ni.item_id
               JOIN n nj ON d.item_j = nj.item_id
        QUALIFY rank <= 5
        """,
        doc="ItemKNN-CBF cosine (KNN/ItemKNNCBFRecommender.py:30-51)",
    )
)


# ---------------------------------------------------------------------------
# CFCBF hybrid feature union (ItemKNN_CFCBF_Hybrid_Recommender.py:20-29)
# ---------------------------------------------------------------------------
def q_cfcbf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid: ICM features (weight 0.5) ⊕ CF user-columns, one cosine.

    hstack([ICM·w, URMᵀ]) == union of namespaced weighted feature triples.
    The ICM is the dense block-GEMM part; the CF user-columns are the
    sparse adjacency part (task-local CSR intersection, Σ deg² support) —
    both inside the distributed blocked kernel, no driver materialization.
    """
    from ..operators.blocked_topk import blocked_cosine_topk

    icm = _icm(spark, sf_dir)
    cf = _cf(spark, sf_dir).select(
        "item_id", F.col("user_id").alias("nbr")
    )
    return blocked_cosine_topk(
        feat=icm,
        adj=cf,
        k=5,
        icm_weight=0.5,
        feat_key=f"{sf_dir}:icm",  # shared with itemcbf (weight is in-task)
        adj_key=f"{sf_dir}:cf",
    )


register(
    QuerySpec(
        "cfcbf_hybrid_topk",
        q_cfcbf_hybrid_topk,
        f"""
        WITH {ICM_CTE},
        {CF_CTE},
        merged AS (
            SELECT item_id, feature, value * 0.5 AS value FROM icm
            UNION ALL
            SELECT item_id, 'u:' || CAST(user_id AS VARCHAR), value FROM cf
        ),
        n AS (SELECT item_id, SUM(value * value) AS sq FROM merged GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   SUM(a.value * b.value) AS dot
            FROM merged a JOIN merged b
              ON a.feature = b.feature AND a.item_id <> b.item_id
            GROUP BY 1, 2
        )
        SELECT item_i, item_j,
               dot / (sqrt(ni.sq) * sqrt(nj.sq) + 1e-6) AS sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                    ORDER BY round(dot / (sqrt(ni.sq) * sqrt(nj.sq) + 1e-6), 9) DESC,
                             item_i ASC) AS INT) AS rank
        FROM d JOIN n ni ON d.item_i = ni.item_id
               JOIN n nj ON d.item_j = nj.item_id
        QUALIFY rank <= 5
        """,
        doc="CFCBF hybrid feature union "
        "(ItemKNN_CFCBF_Hybrid_Recommender.py:20-29)",
    )
)


# ---------------------------------------------------------------------------
# cold entities (BaseRecommender.py:41-51)
# ---------------------------------------------------------------------------
def q_cold_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items never ordered / customers who never ordered — nnz==0 masks."""
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    cf = _cf(spark, sf_dir)
    cold_items = part.join(
        cf.select(F.col("item_id").alias("p_partkey")).distinct(),
        "p_partkey",
        "left_anti",
    ).agg(F.count("*").cast("bigint").alias("n"))
    cold_users = cust.join(
        cf.select(F.col("user_id").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_anti",
    ).agg(F.count("*").cast("bigint").alias("n"))
    return cold_items.select(
        F.col("n").alias("n_cold_items")
    ).crossJoin(cold_users.select(F.col("n").alias("n_cold_users")))


register(
    QuerySpec(
        "cold_entities",
        q_cold_entities,
        f"""
        WITH {CF_CTE}
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM part
             WHERE p_partkey NOT IN (SELECT item_id FROM cf)) AS n_cold_items,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             WHERE c_custkey NOT IN (SELECT user_id FROM cf)) AS n_cold_users
        """,
        doc="cold user/item masks (BaseRecommender.py:41-51)",
    )
)


# ---------------------------------------------------------------------------
# feature pruning (DataReader_utils.py:208-245)
# ---------------------------------------------------------------------------
def q_feature_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop ICM features occurring in < 5 or > 40% of items; summary."""
    icm = _icm(spark, sf_dir)
    n_items = icm.select("item_id").distinct().count()
    counts = icm.groupBy("feature").agg(F.count("*").alias("df"))
    kept = counts.filter(
        (F.col("df") >= 5) & (F.col("df") <= 0.4 * n_items)
    )
    pruned_icm = icm.join(kept.select("feature"), "feature", "left_semi")
    return pruned_icm.agg(
        F.countDistinct("feature").cast("bigint").alias("n_features_kept"),
        F.count("*").cast("bigint").alias("n_entries_kept"),
        F.countDistinct("item_id").cast("bigint").alias("n_items_covered"),
    )


register(
    QuerySpec(
        "feature_pruning",
        q_feature_pruning,
        f"""
        WITH {ICM_CTE},
        ni AS (SELECT COUNT(DISTINCT item_id) AS n FROM icm),
        kept AS (
            SELECT feature FROM icm CROSS JOIN ni
            GROUP BY feature, ni.n
            HAVING COUNT(*) >= 5 AND COUNT(*) <= 0.4 * ni.n
        )
        SELECT CAST(COUNT(DISTINCT feature) AS BIGINT) AS n_features_kept,
               CAST(COUNT(*) AS BIGINT) AS n_entries_kept,
               CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_items_covered
        FROM icm WHERE feature IN (SELECT feature FROM kept)
        """,
        doc="ICM feature pruning (DataReader_utils.py:208-245)",
    )
)


# ---------------------------------------------------------------------------
# per-user percentage holdout (split_train_validation.py:17-78)
# ---------------------------------------------------------------------------
def q_user_holdout_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80% per-user holdout over the CF matrix, hash-ordered; split sizes."""
    from ..operators.splits import per_user_holdout

    cf = _cf(spark, sf_dir)
    tagged = per_user_holdout(cf, "user_id", "item_id", train_fraction=0.8)
    return tagged.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


register(
    QuerySpec(
        "user_holdout_sizes",
        q_user_holdout_sizes,
        f"""
        WITH {CF_CTE},
        tagged AS (
            SELECT *, CASE WHEN rn <= CEIL(0.8 * cnt) THEN 0 ELSE 1 END AS split
            FROM (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ((item_id * 1000003 + user_id * 7919) % 997
                                     + 997) % 997,
                                    item_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY user_id) AS cnt
                FROM cf
            )
        )
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged GROUP BY 1
        """,
        doc="per-user percentage holdout (split_train_validation.py:17-78)",
    )
)


# ---------------------------------------------------------------------------
# RMSE over the GlobalEffects predictor (metrics.py:219-266)
# ---------------------------------------------------------------------------
def q_rmse_global_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train GlobalEffects biases on a hash-split train set, score RMSE on
    the held-out ratings: pred = mu + item_bias + user_bias."""
    from ..recommenders.nonpersonalized import global_effects

    rated = _rated(spark, sf_dir)
    tagged = rated.withColumn(
        "split",
        F.when(bucket_hash(F.col("user_id"), F.col("item_id")) < 698, 0).otherwise(1),
    )
    train = tagged.filter(F.col("split") == 0).drop("split")
    test = tagged.filter(F.col("split") == 1).drop("split")
    mu_df, item_bias, user_bias = global_effects(
        train, lambda_item=25.0, lambda_user=10.0
    )
    pred = (
        test.crossJoin(F.broadcast(mu_df))
        .join(F.broadcast(item_bias), "item_id", "left")
        .join(F.broadcast(user_bias), "user_id", "left")
        .select(
            "user_id",
            "item_id",
            "rating",
            (
                F.col("mu")
                + F.coalesce(F.col("item_bias"), F.lit(0.0))
                + F.coalesce(F.col("user_bias"), F.lit(0.0))
            ).alias("pred"),
        )
    )
    return pred.agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.sqrt(F.avg(F.pow(F.col("pred") - F.col("rating"), 2))).alias("rmse"),
        F.avg(F.abs(F.col("pred") - F.col("rating"))).alias("mae"),
    )


register(
    QuerySpec(
        "rmse_global_effects",
        q_rmse_global_effects,
        f"""
        WITH {RATED_CTE},
        tagged AS (
            SELECT *, CASE WHEN ((user_id * 1000003 + item_id * 7919) % 997
                                 + 997) % 997 < 698
                           THEN 0 ELSE 1 END AS split
            FROM rated
        ),
        train AS (SELECT user_id, item_id, rating FROM tagged WHERE split = 0),
        test  AS (SELECT user_id, item_id, rating FROM tagged WHERE split = 1),
        mu AS (SELECT AVG(rating) AS mu FROM train),
        ib AS (
            SELECT item_id, SUM(rating - mu) / (COUNT(*) + 25.0) AS item_bias
            FROM train CROSS JOIN mu GROUP BY item_id
        ),
        ub AS (
            SELECT user_id,
                   SUM(rating - mu - item_bias) / (COUNT(*) + 10.0) AS user_bias
            FROM train CROSS JOIN mu JOIN ib USING (item_id)
            GROUP BY user_id
        ),
        pred AS (
            SELECT t.rating,
                   mu.mu + COALESCE(ib.item_bias, 0.0)
                         + COALESCE(ub.user_bias, 0.0) AS pred
            FROM test t
            CROSS JOIN mu
            LEFT JOIN ib USING (item_id)
            LEFT JOIN ub USING (user_id)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               sqrt(AVG((pred - rating) * (pred - rating))) AS rmse,
               AVG(ABS(pred - rating)) AS mae
        FROM pred
        """,
        doc="RMSE/MAE over GlobalEffects predictions (metrics.py:219-266)",
    )
)
