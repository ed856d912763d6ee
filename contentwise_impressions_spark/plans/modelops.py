"""Model-fit operator suite (SURVEY.md §2.7): ALS/IALS, PureSVD, NMF,
SLIM-EN, EASE_R, BPR-MF, plus the streaming-shaped windowed aggregation.

Iterative fits have no SQL oracle (the driver records the weaker rows-only
check); the DETERMINISTIC pieces of those pipelines — the BPR negative
sampler and the tumbling-window aggregation — do carry oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..recommenders.bpr import bpr_mf_fit, bpr_triplets
from ..recommenders.factor import (
    ials_recommend,
    pure_svd_item_factors,
)
from ..recommenders.slim import EASE_R_L2, ease_r, slim_elasticnet_distributed
from ..sources.interactions import events_as_interactions, implicit_urm
from ..sources.tables import load_table
from ..streaming.ingest import tumbling_event_counts
from .recsys import URM_CTE
from . import shared
from .registry import QuerySpec, register, utc


#: IALS normal-equation operating point (all integers so the pipeline is
#: exact relational algebra end to end): rank, confidence alpha
#: (IALSRecommender.py:99-123 linear mode over interaction COUNTS — the
#: canonical Hu/Koren implicit-strength encoding), Tikhonov reg.
_IALS_NE_RANK = 4
_IALS_NE_ALPHA = 20
_IALS_NE_REG = 0.1


def _urm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared.urm(spark, sf_dir)  # persisted once per session (plans/shared.py)


def bench_warmup(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the session-shared URM and the ratings spool shards
    (bench family build line) — both are one-time session artifacts the
    family's queries consume.

    r16: also touch the Python-datasource machinery once, and run the
    three independent builds as concurrent jobs (guide §2.6).  A session's
    FIRST ``format("ratings")`` scan pays ~5 s of datasource runner /
    per-shard python worker spin-up that has nothing to do with the query
    plan (measured: scan 5.93 s first touch vs 0.93 s warm with the spool
    already built); a 4-tiny-shard probe scan absorbs that spin-up on the
    family build line, where first-touch infrastructure cost belongs
    (same rationale as cbfops' Arrow broadcast touch probe).  Query
    results are unaffected — the probe reads throwaway temp shards."""
    from .shared import overlap_jobs

    def touch_ratings_datasource() -> None:
        import os
        import tempfile

        from ..sources.pyds import RatingsDataSource

        d = tempfile.mkdtemp(prefix="cwi_rds_touch_")
        for i in range(4):  # one tiny shard per spool shard → same fan-out
            with open(os.path.join(d, f"shard{i}.dat"), "w") as fh:
                fh.write(f"u{i}::i{i}::5.0::{i}\n")
        spark.dataSource.register(RatingsDataSource)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        (
            spark.read.format("ratings")
            .option("sep", "::")
            .option("path", d)
            .load()
            .filter(F.col("rating") >= 5.0)  # exercise the pushdown path
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    overlap_jobs(
        lambda: _urm(spark, sf_dir).count(),
        lambda: _ratings_spool_dir(spark, sf_dir),
        touch_ratings_datasource,
    )


def _impressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impression-shaped pairs: shown-but-not-interaction event types.

    The CW impressions tables have no testdata analog; signup/error events
    play the 'shown' role for the sampling operators.
    """
    inter = events_as_interactions(load_table(spark, sf_dir, "events"))
    return (
        inter.filter(F.col("event_type").isin("signup", "error"))
        .select("user_id", "item_id")
        .dropDuplicates(["user_id", "item_id"])
    )


IMP_CTE = """
    imp AS (
        SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
               CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS item_id
        FROM events
        WHERE event_type IN ('signup', 'error')
    )
"""


# ---------------------------------------------------------------------------
# BPR negative sampler — deterministic, oracle-checked
# (MatrixFactorizationImpressions_Cython_Epoch.pyx:1010-1084)
# ---------------------------------------------------------------------------
def q_bpr_triplets_inside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, pos, neg) with the negative drawn INSIDE the user's
    impressions minus seen (…Epoch.pyx:1047-1049), hash-ordered."""
    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    return bpr_triplets(urm, impressions=_impressions(spark, sf_dir), mode="inside")


register(
    QuerySpec(
        "bpr_triplets_inside",
        q_bpr_triplets_inside,
        f"""
        WITH {URM_CTE},
        {IMP_CTE},
        cand AS (
            SELECT i.user_id, i.item_id FROM imp i
            LEFT JOIN urm u ON i.user_id = u.user_id AND i.item_id = u.item_id
            WHERE u.user_id IS NULL
        ),
        neg AS (
            SELECT user_id, item_id AS neg_item FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY ((item_id * 1000003 + user_id * 7919) % 997 + 997) % 997,
                              item_id ASC) AS r
                FROM cand
            ) WHERE r = 1
        )
        SELECT u.user_id, u.item_id AS pos_item, n.neg_item
        FROM urm u JOIN neg n USING (user_id)
        """,
        doc="impression-aware BPR negative sampling, inside mode "
        "(MatrixFactorizationImpressions_Cython_Epoch.pyx:1047-1049)",
    )
)


def q_bpr_triplets_outside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative drawn OUTSIDE impressions: catalog minus seen minus
    impressions (…Epoch.pyx:1069-1079)."""
    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    return bpr_triplets(urm, impressions=_impressions(spark, sf_dir), mode="outside")


register(
    QuerySpec(
        "bpr_triplets_outside",
        q_bpr_triplets_outside,
        f"""
        WITH {URM_CTE},
        {IMP_CTE},
        items_idx AS (
            SELECT item_id, ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS idx
            FROM (SELECT DISTINCT item_id FROM urm)
        ),
        nitems AS (SELECT COUNT(*) AS n FROM items_idx),
        props AS (
            SELECT u.user_id, s.seq,
                   ((((u.user_id * 1000003 + s.seq) % 1000003619) * 48271
                     % 2147483647) * 16807 % 2147483647) % nitems.n AS idx
            FROM (SELECT DISTINCT user_id FROM urm) u
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS seq) s
            CROSS JOIN nitems
        ),
        cand AS (
            SELECT p.user_id, i.item_id, p.seq
            FROM props p JOIN items_idx i USING (idx)
            WHERE NOT EXISTS (SELECT 1 FROM urm u
                  WHERE u.user_id = p.user_id AND u.item_id = i.item_id)
              AND NOT EXISTS (SELECT 1 FROM imp m
                  WHERE m.user_id = p.user_id AND m.item_id = i.item_id)
        ),
        neg AS (
            SELECT user_id, item_id AS neg_item FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY seq ASC, seq ASC) AS r
                FROM cand
            ) WHERE r = 1
        )
        SELECT u.user_id, u.item_id AS pos_item, n.neg_item
        FROM urm u JOIN neg n USING (user_id)
        """,
        doc="impression-aware BPR negative sampling, outside mode, bounded "
        "proposals (…Epoch.pyx:1069-1079)",
    )
)


# ---------------------------------------------------------------------------
# tumbling-window aggregation (streaming extension, batch-checkable)
# ---------------------------------------------------------------------------
def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour per-type event counts via F.window — the SAME transformation
    streaming/ingest.py applies to readStream with a watermark."""
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return tumbling_event_counts(ev, "1 hour")


register(
    QuerySpec(
        "tumbling_window_counts",
        q_tumbling_window_counts,
        """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               SUM(value) AS sum_value
        FROM events GROUP BY 1, 2
        """,
        doc="tumbling-window agg shared by the Structured Streaming path",
    )
)


# ---------------------------------------------------------------------------
# iterative model fits — rows-only checks (no SQL equivalent)
# ---------------------------------------------------------------------------
def q_ials_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib ALS(implicitPrefs) top-10 per user — IALSRecommender.py:40-211."""
    urm = _urm(spark, sf_dir)
    return ials_recommend(urm, k=10, rank=16, max_iter=10, reg=0.1, alpha=20.0)


register(
    QuerySpec(
        "ials_recommendations",
        q_ials_recommendations,
        None,
        doc="implicit ALS, exact MLlib analog of IALSRecommender.py:111-123",
        bench=False,
    )
)


def q_pure_svd_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-SVD item factors (PureSVDRecommender.py:33-45)."""
    urm = _urm(spark, sf_dir)
    f_ = pure_svd_item_factors(urm, k=8)
    # factor VALUES are rotation/sign-indeterminate; expose the invariants
    return f_.select(
        "item_id",
        F.sqrt(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("factor_norm"),
    )


register(
    QuerySpec(
        "pure_svd_factors",
        q_pure_svd_factors,
        None,
        doc="PureSVD via distributed randomized SVD "
        "(PureSVDRecommender.py:33-45); norms exposed (rotation-invariant)",
        bench=False,
    )
)


def q_pure_svd_range_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC multiply of PureSVD's randomized power chain
    oracled (same conversion as ials_normal_eq / ease_r_gram): one
    alternating step Z = Xᵀ(X·Ω) of the randomized range finder (Halko,
    Martinsson & Tropp 2011 alg. 4.3 — the step
    recommenders/factor.pure_svd_item_factors chains n_iter times) over
    a PINNED integer-grid test matrix Ω on the house multiplicative-hash
    convention (ω_if = ((item·P1 + (f+1)·P2) mod 7) − 3, the same grid
    as ials_normal_eq — no RNG stream).  Under the implicit 0/1 URM both
    matmuls are join+groupBy integer sums, so the whole step replays
    bit-for-bit in SQL; only the Gaussian draw and the driver-side
    QR/eigh epilogue stay rows-only.

    Scale shape: identical to the fit's own `_matmul_urm_df` — two
    equi-joins on the URM's keys with partial aggregation, user-side
    intermediate never leaves the cluster."""
    from ..functions.hashing import P1, P2

    r = _IALS_NE_RANK
    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    omega = (
        urm.select("item_id")
        .distinct()
        .select(
            "item_id",
            F.explode(F.array(*[F.lit(i) for i in range(r)])).alias("f"),
        )
        .select(
            "item_id",
            F.col("f").cast("int").alias("f"),
            (
                (F.col("item_id") * F.lit(P1) + (F.col("f") + 1) * F.lit(P2))
                % 7
                - 3
            ).cast("bigint").alias("w"),
        )
    )
    p = (
        urm.join(omega, "item_id")
        .groupBy("user_id", "f")
        .agg(F.sum("w").cast("bigint").alias("p"))
    )
    return (
        urm.join(p, "user_id")
        .groupBy("item_id", "f")
        .agg(F.sum("p").cast("bigint").alias("z"))
    )


register(
    QuerySpec(
        "pure_svd_range_finder",
        q_pure_svd_range_finder,
        f"""
        WITH {URM_CTE},
        omega AS (
            SELECT item_id, CAST(f.f AS INT) AS f,
                   CAST((item_id * 1000003 + (f.f + 1) * 7919) % 7 - 3
                        AS BIGINT) AS w
            FROM (SELECT DISTINCT item_id FROM urm)
            CROSS JOIN (SELECT UNNEST(range({_IALS_NE_RANK})) AS f) f
        ),
        p AS (
            SELECT u.user_id, o.f, CAST(SUM(o.w) AS BIGINT) AS p
            FROM urm u JOIN omega o ON u.item_id = o.item_id
            GROUP BY 1, 2
        )
        SELECT u.item_id, p.f, CAST(SUM(p.p) AS BIGINT) AS z
        FROM urm u JOIN p ON u.user_id = p.user_id
        GROUP BY 1, 2
        """,
        doc="randomized-SVD range-finder step oracled (Halko et al. 2011 "
        "alg 4.3): Z = X^T(X*Omega) over a pinned integer-grid Omega — "
        "the deterministic multiply PureSVD's power chain iterates; only "
        "the Gaussian draw and the driver QR/eigh epilogue stay rows-only",
    )
)


def q_slim_elasticnet_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIM-EN per-item ElasticNet, DISTRIBUTED co-occurrence-neighborhood
    fit — no driver URM, no item cap (SLIMElasticNetRecommender.py:41-149;
    equivalence vs the dense broadcast twin pinned in tests/test_models)."""
    urm = _urm(spark, sf_dir)
    return slim_elasticnet_distributed(urm, alpha=1e-4, l1_ratio=0.1, top_k=10)


register(
    QuerySpec(
        "slim_elasticnet_weights",
        q_slim_elasticnet_weights,
        None,
        doc="SLIM ElasticNet, parallel per-item fit "
        "(SLIMElasticNetRecommender.py:41-149); the deterministic "
        "predictor-selection/Gram stage is oracled separately as "
        "slim_en_support — only the iterative CD solve is rows-only "
        "(exact-equivalence twin vs the dense broadcast fit in "
        "tests/test_models.py)",
        bench=False,
    )
)


def q_slim_en_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stages of the SLIM-EN fit under the hash gate
    (r12 verdict task: oracle what is exact, leave only the CD solve
    rows-only): per target item, the fsSLIM top-10 co-occurrence
    predictor neighborhood (Ning & Karypis 2011 §3.3 — the
    ``max_predictors`` selection of
    recommenders/slim.slim_elasticnet_distributed) together with its
    Gram-matrix inputs.  With the implicit value=1 URM the off-diagonal
    Gram entry g_ij IS the co-occurrence count and the diagonal g_ii is
    item popularity, so the whole input side of the solver is exact
    relational algebra.

    Scale: the user-keyed self-join is the similarity family's standard
    Σ_u deg(u)² budget (hub users are what k-core prunes); top-10 per
    target via window over the aggregated PAIR table (never the raw
    pairs), popularity joined un-hinted — Catalyst broadcasts the
    |items|-row side while it fits and falls back to shuffle when it
    doesn't (the nation_market_share rule).
    """
    from pyspark.sql import Window

    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    a, b = urm.alias("a"), urm.alias("b")
    pairs = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter(F.col("a.item_id") != F.col("b.item_id"))
        .groupBy(
            F.col("b.item_id").alias("item_j"),
            F.col("a.item_id").alias("item_i"),
        )
        .agg(F.count("*").cast("bigint").alias("cooc"))
    )
    wnd = Window.partitionBy("item_j").orderBy(
        F.col("cooc").desc(), F.col("item_i").asc()
    )
    top = pairs.withColumn(
        "rnk", F.row_number().over(wnd).cast("bigint")
    ).filter(F.col("rnk") <= 10)
    pop = urm.groupBy(F.col("item_id").alias("item_i")).agg(
        F.count("*").cast("bigint").alias("pop_i")
    )
    return top.join(pop, "item_i").select(
        "item_j", "item_i", "cooc", "pop_i", "rnk"
    ).orderBy("item_j", "rnk")


register(
    QuerySpec(
        "slim_en_support",
        q_slim_en_support,
        f"""
        WITH {URM_CTE},
        pairs AS (
            SELECT b.item_id AS item_j, a.item_id AS item_i,
                   CAST(COUNT(*) AS BIGINT) AS cooc
            FROM urm a
            JOIN urm b ON a.user_id = b.user_id
                      AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT item_j, item_i, cooc,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY item_j
                       ORDER BY cooc DESC, item_i ASC
                   ) AS BIGINT) AS rnk
            FROM pairs
        ),
        pop AS (
            SELECT item_id AS item_i, CAST(COUNT(*) AS BIGINT) AS pop_i
            FROM urm GROUP BY 1
        )
        SELECT r.item_j, r.item_i, r.cooc, p.pop_i, r.rnk
        FROM ranked r JOIN pop p USING (item_i)
        WHERE r.rnk <= 10
        ORDER BY item_j, rnk
        """,
        doc="deterministic SLIM-EN stages oracled: fsSLIM top-10 "
        "co-occurrence predictor selection + Gram inputs (g_ij = cooc, "
        "g_ii = popularity under the implicit URM)",
    )
)


def q_ease_r_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EASE_R closed-form item weights (EASE_R_Recommender.py:40-79)."""
    urm = _urm(spark, sf_dir)
    return ease_r(urm, l2=10.0, top_k=10)


register(
    QuerySpec(
        "ease_r_weights",
        q_ease_r_weights,
        None,
        doc="EASE_R: distributed Gram + driver inverse "
        "(EASE_R_Recommender.py:40-79); the deterministic Gram stage is "
        "oracled separately as ease_r_gram — only the inverse is "
        "rows-only (exact-equivalence twins in tests/test_models.py)",
        bench=False,
    )
)


def q_ease_r_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stage of the EASE_R fit under the hash gate
    (same argument as slim_en_support): the regularized Gram matrix
    G = XᵀX + λI the closed-form inverse consumes
    (EASE_R_Recommender.py:55-64, recommenders/slim.ease_r).  Under the
    implicit value=1 URM the off-diagonal entry g_ij IS the co-occurrence
    count and the diagonal is item popularity + λ — exact relational
    algebra end to end; only the O(n³) inverse stays rows-only.

    Scale: the user-keyed self-join is the similarity family's Σ_u
    deg(u)² budget; the diagonal is a |items|-row aggregate unioned in —
    no driver state, no collect."""
    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    a, b = urm.alias("a"), urm.alias("b")
    off = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter(F.col("a.item_id") != F.col("b.item_id"))
        .groupBy(
            F.col("a.item_id").alias("item_i"),
            F.col("b.item_id").alias("item_j"),
        )
        .agg(F.count("*").cast("bigint").alias("gram"))
    )
    diag = urm.groupBy(F.col("item_id").alias("item_i")).agg(
        (F.count("*") + F.lit(int(EASE_R_L2))).cast("bigint").alias("gram")
    )
    diag = diag.select("item_i", F.col("item_i").alias("item_j"), "gram")
    return off.unionByName(diag).orderBy("item_i", "item_j")


register(
    QuerySpec(
        "ease_r_gram",
        q_ease_r_gram,
        f"""
        WITH {URM_CTE},
        goff AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS BIGINT) AS gram
            FROM urm a
            JOIN urm b ON a.user_id = b.user_id
                      AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        gdiag AS (
            SELECT item_id AS item_i, item_id AS item_j,
                   CAST(COUNT(*) + {int(EASE_R_L2)} AS BIGINT) AS gram
            FROM urm GROUP BY item_id
        )
        SELECT item_i, item_j, gram FROM goff
        UNION ALL
        SELECT item_i, item_j, gram FROM gdiag
        ORDER BY item_i, item_j
        """,
        doc="EASE_R deterministic Gram stage oracled: G = X^T X + 10*I "
        "under the implicit URM (off-diag = co-occurrence, diag = "
        "popularity + lambda) — the exact input the driver inverse of "
        "ease_r_weights consumes",
    )
)


def q_ials_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stage of the IALS half-step (same conversion
    move as ease_r_gram / slim_en_support): given pinned integer-grid
    item factors Y, emit each user's normal-equation system

        A_u = YᵀY + α·Σ_{i∈obs(u)} n_ui·y_i y_iᵀ + λI
        b_u = Σ_{i∈obs(u)} (1 + α·n_ui)·y_i

    — the per-user solve input of implicit ALS (Hu, Koren & Volinsky
    2008 eq. 4 with C_u = I + α·diag(n_u)), leaving only the k×k solve
    rows-only.  The system SHAPE matches the repo's fit (MLlib
    ``ALS(implicitPrefs=True)``, recommenders/factor.ials_factors) but
    the confidence input differs deliberately: ials_factors trains on
    the binarized implicit URM (n_ui = 1 ⇒ C = 1 + α), while this spec
    uses the raw interaction COUNT n_ui (C = 1 + α·n_ui) so the
    emitted BIGINT entries exercise the general Hu-Koren weighting, not
    just its binary special case.  Y is pinned on the multiplicative-hash grid
    y_if = ((item·P1 + (f+1)·P2) mod 7) − 3 ∈ [−3, 3] — deterministic,
    engine-portable, no RNG stream — and n_ui is the interaction COUNT,
    so every matrix entry is an exact BIGINT sum; the single λ addition
    is one IEEE double op, bit-identical cross-engine.

    Scale shape: YᵀY is a 16-row broadcast; the per-user terms are two
    equi-joins on item_id + one groupBy (user, f, g) — ALS's own cost
    structure, no driver state, no collect."""
    from ..functions.hashing import P1, P2

    r, alpha = _IALS_NE_RANK, _IALS_NE_ALPHA
    inter = events_as_interactions(
        load_table(spark, sf_dir, "events")
    ).filter(F.col("event_type").isin("view", "click", "purchase"))
    cnt = inter.groupBy("user_id", "item_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # pinned item factors: explode the factor index (no cross join —
    # plan-lint forbids cartesian shapes registry-wide)
    yf = (
        inter.select("item_id")
        .distinct()
        .select(
            "item_id",
            F.explode(F.array(*[F.lit(i) for i in range(r)])).alias("f"),
        )
        .select("item_id", F.col("f").cast("int").alias("f"))
        .select(
            "item_id",
            "f",
            (
                (F.col("item_id") * F.lit(P1) + (F.col("f") + 1) * F.lit(P2))
                % 7
                - 3
            ).cast("bigint").alias("y"),
        )
    )
    g0 = (
        yf.alias("a")
        .join(yf.alias("b"), "item_id")
        .groupBy(F.col("a.f").alias("f"), F.col("b.f").alias("g"))
        .agg(F.sum(F.col("a.y") * F.col("b.y")).cast("bigint").alias("yy"))
    )
    ya = yf.select(
        "item_id", F.col("f").alias("f"), F.col("y").alias("ya")
    )
    yb = yf.select(
        "item_id", F.col("f").alias("g"), F.col("y").alias("yb")
    )
    uterm = (
        cnt.join(ya, "item_id")
        .join(yb, "item_id")
        .groupBy("user_id", "f", "g")
        .agg(
            F.sum(F.col("n") * F.col("ya") * F.col("yb"))
            .cast("bigint")
            .alias("w")
        )
    )
    bvec = (
        cnt.join(ya, "item_id")
        .groupBy("user_id", "f")
        .agg(
            F.sum((F.lit(1) + F.lit(alpha) * F.col("n")) * F.col("ya"))
            .cast("bigint")
            .alias("b_val")
        )
    )
    return (
        uterm.join(F.broadcast(g0), ["f", "g"])
        .join(bvec, ["user_id", "f"])
        .select(
            "user_id",
            "f",
            "g",
            (
                (F.col("yy") + F.lit(alpha) * F.col("w")).cast("double")
                + F.when(F.col("f") == F.col("g"), F.lit(_IALS_NE_REG))
                .otherwise(F.lit(0.0))
            ).alias("a_val"),
            "b_val",
        )
    )


register(
    QuerySpec(
        "ials_normal_eq",
        q_ials_normal_eq,
        f"""
        WITH inter AS (
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
                       AS item_id
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        cnt AS (
            SELECT user_id, item_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM inter GROUP BY 1, 2
        ),
        yf AS (
            SELECT item_id, CAST(f.f AS INT) AS f,
                   CAST((item_id * {{p1}} + (f.f + 1) * {{p2}}) % 7 - 3
                        AS BIGINT) AS y
            FROM (SELECT DISTINCT item_id FROM inter)
            CROSS JOIN (SELECT UNNEST(range({_IALS_NE_RANK})) AS f) f
        ),
        g0 AS (
            SELECT a.f AS f, b.f AS g, CAST(SUM(a.y * b.y) AS BIGINT) AS yy
            FROM yf a JOIN yf b USING (item_id) GROUP BY 1, 2
        ),
        uterm AS (
            SELECT c.user_id, a.f AS f, b.f AS g,
                   CAST(SUM(c.n * a.y * b.y) AS BIGINT) AS w
            FROM cnt c
            JOIN yf a ON c.item_id = a.item_id
            JOIN yf b ON c.item_id = b.item_id
            GROUP BY 1, 2, 3
        ),
        bvec AS (
            SELECT c.user_id, a.f,
                   CAST(SUM((1 + {_IALS_NE_ALPHA} * c.n) * a.y) AS BIGINT)
                       AS b_val
            FROM cnt c JOIN yf a ON c.item_id = a.item_id GROUP BY 1, 2
        )
        SELECT u.user_id, u.f, u.g,
               CAST(g.yy + {_IALS_NE_ALPHA} * u.w AS DOUBLE)
                   + CASE WHEN u.f = u.g THEN {_IALS_NE_REG} ELSE 0.0 END
                   AS a_val,
               b.b_val AS b_val
        FROM uterm u
        JOIN g0 g ON u.f = g.f AND u.g = g.g
        JOIN bvec b ON u.user_id = b.user_id AND u.f = b.f
        """.replace("{p1}", "1000003").replace("{p2}", "7919"),
        doc="IALS per-user normal-equation system oracled (Hu/Koren/"
        "Volinsky 2008 eq. 4): A_u = Y^T Y + alpha*sum n_ui y y^T + "
        "lambda*I and b_u = sum (1+alpha*n_ui) y over pinned integer-grid "
        "factors — the exact solve input of the implicit-ALS user step; "
        "only the k x k solve stays rows-only",
    )
)


def q_nmf_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NMF factor norms — DISTRIBUTED multiplicative updates (both
    matmuls on the cluster, only k×k Grams cross the driver;
    NMFRecommender.py:36-73; equivalence vs the driver-numpy twin pinned
    in tests/test_models.py)."""
    from ..recommenders.factor import nmf_factors_distributed

    urm = _urm(spark, sf_dir)
    # short MU budget: the query certifies the distributed serving
    # surface; convergence quality is pinned in tests (equivalence + MU
    # monotonicity on the fixture), not by this smoke row count
    uf, _ = nmf_factors_distributed(urm, k=8, n_iter=8)
    return uf.select(
        "user_id",
        F.sqrt(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("factor_norm"),
    )


register(
    QuerySpec(
        "nmf_user_factors",
        q_nmf_user_factors,
        None,
        doc="NMF multiplicative updates (NMFRecommender.py:36-73)",
        bench=False,
    )
)


def q_nmf_mu_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stage of one Lee–Seung H-update oracled (the
    third rows-only→oracled conversion of this family, after
    ials_normal_eq and pure_svd_range_finder): given pinned nonnegative
    integer-grid factors W (users×k) and H₀ (k×items), the update
    H₁ = H₀ ⊙ (WᵀA) ⊘ ((WᵀW)·H₀) — NMFRecommender.py:36-73,
    recommenders/factor.nmf_factors_distributed's per-iteration algebra —
    factors into exact BIGINT relational sums.  Emitting the numerator
    and denominator as separate integer columns (h0, num, den) keeps the
    whole stage bit-exact in any engine; only the elementwise ratio and
    the iteration chain stay rows-only (the ratio is one IEEE division
    the consumer applies per entry).

    Under the implicit 0/1 URM: num_if = Σ_{u∈obs(i)} w_uf;
    (WᵀW)_fg = Σ_u w_uf·w_ug (a k×k broadcast);
    den_if = Σ_g (WᵀW)_fg · h0_gi.  W uses the house mod-7 hash grid,
    H₀ a mod-5 grid (decorrelated), both nonnegative as NMF requires.

    Scale shape: num is one join+groupBy on the URM; WᵀW is k² values
    (broadcast); den is an items×k² map-side expansion + partial agg —
    exactly the distributed-MU fit's own cost structure."""
    from ..functions.hashing import P1, P2

    r = _IALS_NE_RANK
    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    f_arr = F.array(*[F.lit(i) for i in range(r)])
    w = (
        urm.select("user_id")
        .distinct()
        .select("user_id", F.explode(f_arr).alias("f"))
        .select(
            "user_id",
            F.col("f").cast("int").alias("f"),
            (
                (F.col("user_id") * F.lit(P1) + (F.col("f") + 1) * F.lit(P2))
                % 7
            ).cast("bigint").alias("w"),
        )
    )
    h0 = (
        urm.select("item_id")
        .distinct()
        .select("item_id", F.explode(f_arr).alias("g"))
        .select(
            "item_id",
            F.col("g").cast("int").alias("g"),
            (
                (F.col("item_id") * F.lit(P1) + (F.col("g") + 1) * F.lit(P2))
                % 5
            ).cast("bigint").alias("h0"),
        )
    )
    num = (
        urm.join(w, "user_id")
        .groupBy("item_id", "f")
        .agg(F.sum("w").cast("bigint").alias("num"))
    )
    wtw = (
        w.alias("a")
        .join(w.alias("b"), "user_id")
        .groupBy(F.col("a.f").alias("f"), F.col("b.f").alias("g"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("ww"))
    )
    den = (
        h0.join(F.broadcast(wtw), "g")
        .groupBy("item_id", "f")
        .agg(F.sum(F.col("ww") * F.col("h0")).cast("bigint").alias("den"))
    )
    h0f = h0.select(
        "item_id", F.col("g").alias("f"), F.col("h0").alias("h0")
    )
    return (
        num.join(den, ["item_id", "f"])
        .join(h0f, ["item_id", "f"])
        .select("item_id", "f", "h0", "num", "den")
    )


register(
    QuerySpec(
        "nmf_mu_step",
        q_nmf_mu_step,
        f"""
        WITH {URM_CTE},
        fr AS (SELECT CAST(UNNEST(range({_IALS_NE_RANK})) AS INT) AS f),
        w AS (
            SELECT user_id, fr.f,
                   CAST((user_id * 1000003 + (fr.f + 1) * 7919) % 7
                        AS BIGINT) AS w
            FROM (SELECT DISTINCT user_id FROM urm) CROSS JOIN fr
        ),
        h0 AS (
            SELECT item_id, fr.f AS g,
                   CAST((item_id * 1000003 + (fr.f + 1) * 7919) % 5
                        AS BIGINT) AS h0
            FROM (SELECT DISTINCT item_id FROM urm) CROSS JOIN fr
        ),
        num AS (
            SELECT u.item_id, w.f, CAST(SUM(w.w) AS BIGINT) AS num
            FROM urm u JOIN w ON u.user_id = w.user_id
            GROUP BY 1, 2
        ),
        wtw AS (
            SELECT a.f AS f, b.f AS g,
                   CAST(SUM(a.w * b.w) AS BIGINT) AS ww
            FROM w a JOIN w b ON a.user_id = b.user_id
            GROUP BY 1, 2
        ),
        den AS (
            SELECT h.item_id, t.f, CAST(SUM(t.ww * h.h0) AS BIGINT) AS den
            FROM h0 h JOIN wtw t ON h.g = t.g
            GROUP BY 1, 2
        )
        SELECT n.item_id, n.f, h.h0, n.num, d.den
        FROM num n
        JOIN den d ON n.item_id = d.item_id AND n.f = d.f
        JOIN h0 h ON n.item_id = h.item_id AND n.f = h.g
        """,
        doc="Lee-Seung NMF H-update deterministic stage oracled "
        "(NMFRecommender.py:36-73): numerator W^T A and denominator "
        "(W^T W) H0 as exact BIGINT columns over pinned nonnegative "
        "integer-grid factors — only the elementwise ratio and the "
        "iteration chain stay rows-only",
    )
)


def q_bpr_mf_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPR-MF top-10 (parallel minibatch SGD + averaging;
    MatrixFactorization_Cython_Epoch.pyx:662-709), served by the bounded
    blocked-GEMM top-k (no user×catalog score stream)."""
    from ..operators.mf_topk import mf_recommend_top_k

    urm = _urm(spark, sf_dir)
    uf, itf = bpr_mf_fit(
        urm, rank=8, epochs=3, impressions=_impressions(spark, sf_dir),
        mode="outside",
    )
    return mf_recommend_top_k(
        uf, itf, 10, train=urm.select("user_id", "item_id"), round_digits=9
    )


register(
    QuerySpec(
        "bpr_mf_recommendations",
        q_bpr_mf_recommendations,
        None,
        doc="BPR-MF with impression-aware sampling "
        "(MatrixFactorizationImpressions_Cython_Epoch.pyx:1010-1084)",
        bench=False,
    )
)


# ---------------------------------------------------------------------------
# FunkSVD / AsySVD explicit-rating MF-SGD
# (MatrixFactorization_Cython.py:195-266, epoch kernels in
# MatrixFactorization_Cython_Epoch.pyx:286-520)
# ---------------------------------------------------------------------------
def q_funk_svd_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunkSVD top-10 over the explicit rating table (bucketed parallel
    pointwise SGD with biases; MatrixFactorization_Cython_Epoch.pyx:286-390).
    The scalar global bias shifts every score equally, so rankings are
    unaffected by adding it.  Served by the bounded blocked-GEMM top-k
    (no user×catalog score stream)."""
    from ..operators.mf_topk import mf_recommend_top_k
    from ..recommenders.mfsgd import funk_svd_fit, scoring_factors
    from .mlops import _rated

    rated = _rated(spark, sf_dir)
    uf, itf, _g = funk_svd_fit(
        rated, rank=8, epochs=3, lr=0.2, sgd_mode="adagrad", seed=42,
        n_buckets=16,
    )
    su, si = scoring_factors(uf, itf)
    return mf_recommend_top_k(
        su, si, 10, train=rated.select("user_id", "item_id"), round_digits=9
    )


register(
    QuerySpec(
        "funk_svd_recommendations",
        q_funk_svd_recommendations,
        None,
        doc="FunkSVD explicit-rating MF-SGD "
        "(MatrixFactorization_Cython.py:195-225, epoch kernel "
        "MatrixFactorization_Cython_Epoch.pyx:286-390)",
        bench=False,
    )
)


def q_asy_svd_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AsySVD top-10: users represented through the items they rated
    (Koren 2008; MatrixFactorization_Cython.py:227-266).  User factors are
    re-estimated as (URM·Y)/sqrt(profile length) after the fit — also the
    cold-user path (any user with ratings gets factors).  Served by the
    bounded blocked-GEMM top-k (no user×catalog score stream)."""
    from ..operators.mf_topk import mf_recommend_top_k
    from ..recommenders.mfsgd import (
        asy_svd_fit,
        asy_user_factors,
        scoring_factors,
    )
    from .mlops import _rated

    rated = _rated(spark, sf_dir)
    x_fac, y_fac, ub, _g = asy_svd_fit(
        rated, rank=8, epochs=3, lr=0.2, sgd_mode="adagrad", seed=42,
        n_buckets=16,
    )
    su, si = scoring_factors(asy_user_factors(rated, y_fac, ub), x_fac)
    return mf_recommend_top_k(
        su, si, 10, train=rated.select("user_id", "item_id"), round_digits=9
    )


register(
    QuerySpec(
        "asy_svd_recommendations",
        q_asy_svd_recommendations,
        None,
        doc="AsySVD item-profile MF-SGD "
        "(MatrixFactorization_Cython.py:227-266, epoch kernel "
        "MatrixFactorization_Cython_Epoch.pyx:393-520)",
        bench=False,
    )
)


def q_funk_svd_epoch0_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic per-bucket ordered sample stream the FunkSVD /
    AsySVD bucketed SGD consumes every epoch (n_buckets=16, matching
    ``funk_svd_recommendations``) — the SQL-checkable input decomposition
    of the otherwise rows-only iterative fits
    (MatrixFactorization_Cython_Epoch.pyx:286-390's ordered sweep)."""
    from ..recommenders.mfsgd import epoch0_stream
    from .mlops import _rated

    return epoch0_stream(_rated(spark, sf_dir), n_buckets=16)


def _epoch0_oracle() -> str:
    from ..functions.hashing import bucket_sql
    from .mlops import RATED_CTE

    return f"""
        WITH {RATED_CTE},
        b AS (
            SELECT {bucket_sql("user_id", mod=16)} AS bucket,
                   user_id, item_id, CAST(rating AS DOUBLE) AS rating
            FROM rated
        )
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY bucket ORDER BY user_id, item_id
               ) AS BIGINT) AS seq,
               user_id, item_id, rating
        FROM b
    """


register(
    QuerySpec(
        "funk_svd_epoch0_stream",
        q_funk_svd_epoch0_stream,
        _epoch0_oracle(),
        doc="portable-hash bucket assignment + per-bucket (user,item) "
        "sample order of the MF-SGD epoch kernel "
        "(MatrixFactorization_Cython_Epoch.pyx:286-390)",
    )
)


def q_funk_svd_grad_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stage of the FunkSVD SGD update oracled (the
    r15-verdict conversion that puts the SGD family's math under the
    oracle the way nmf_mu_step does for NMF): the per-sample gradient of
    the reference epoch kernel
    (MatrixFactorization_Cython_Epoch.pyx:286-347)

        e_ui  = r_ui − Σ_f W_uf·H_if
        gW_uf = e_ui·H_if − reg·W_uf      (:347 local_gradient_user)
        gH_if = e_ui·W_uf − reg·H_if      (:346 local_gradient_item)

    evaluated at pinned integer-grid INITIAL factors for every sample
    independently — epoch-0 before any write-back, so no sequential
    dependence and every entry is an exact BIGINT sum.  Together with the
    already-oracled sample stream (funk_svd_epoch0_stream) this certifies
    everything about an SGD epoch except the order-dependent accumulation
    itself, which stays rows-only by its stochastic nature.

    Pinning choices (each deliberate, mirroring the sibling specs):
    r_ui is the interaction COUNT (exact BIGINT; the fit's AVG-rating
    input is a float — same count-for-exactness move as ials_normal_eq),
    W on the house mod-7 grid, H on a mod-5 grid (decorrelated, as in
    nmf_mu_step), reg pinned to the integer 1 standing in for the
    reference's float user_reg/positive_reg pair.

    Scale shape: two equi-joins on the interaction keys + one (u,i)
    groupBy for the dot, then a join back on (u,i) — linear in
    nnz·rank, the epoch kernel's own budget; no driver state."""
    from ..functions.hashing import P1, P2

    r, reg = _IALS_NE_RANK, 1
    inter = events_as_interactions(
        load_table(spark, sf_dir, "events")
    ).filter(F.col("event_type").isin("view", "click", "purchase"))
    cnt = inter.groupBy("user_id", "item_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    f_arr = F.array(*[F.lit(i) for i in range(r)])
    wf = (
        cnt.select("user_id")
        .distinct()
        .select("user_id", F.explode(f_arr).alias("f"))
        .select(
            "user_id",
            F.col("f").cast("int").alias("f"),
            (
                (F.col("user_id") * F.lit(P1) + (F.col("f") + 1) * F.lit(P2))
                % 7
                - 3
            ).cast("bigint").alias("w"),
        )
    )
    hf = (
        cnt.select("item_id")
        .distinct()
        .select("item_id", F.explode(f_arr).alias("f"))
        .select(
            "item_id",
            F.col("f").cast("int").alias("f"),
            (
                (F.col("item_id") * F.lit(P1) + (F.col("f") + 1) * F.lit(P2))
                % 5
                - 2
            ).cast("bigint").alias("h"),
        )
    )
    joint = cnt.join(wf, "user_id").join(hf, ["item_id", "f"])
    pred = joint.groupBy("user_id", "item_id").agg(
        F.sum(F.col("w") * F.col("h")).cast("bigint").alias("pred")
    )
    return (
        joint.join(pred, ["user_id", "item_id"])
        .select(
            "user_id",
            "item_id",
            "f",
            (F.col("n") - F.col("pred")).cast("bigint").alias("err"),
            (
                (F.col("n") - F.col("pred")) * F.col("h")
                - F.lit(reg) * F.col("w")
            ).cast("bigint").alias("grad_user"),
            (
                (F.col("n") - F.col("pred")) * F.col("w")
                - F.lit(reg) * F.col("h")
            ).cast("bigint").alias("grad_item"),
        )
    )


register(
    QuerySpec(
        "funk_svd_grad_step",
        q_funk_svd_grad_step,
        f"""
        WITH inter AS (
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
                       AS item_id
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        cnt AS (
            SELECT user_id, item_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM inter GROUP BY 1, 2
        ),
        wf AS (
            SELECT user_id, CAST(f.f AS INT) AS f,
                   CAST((user_id * 1000003 + (f.f + 1) * 7919) % 7 - 3
                        AS BIGINT) AS w
            FROM (SELECT DISTINCT user_id FROM cnt)
            CROSS JOIN (SELECT UNNEST(range({_IALS_NE_RANK})) AS f) f
        ),
        hf AS (
            SELECT item_id, CAST(f.f AS INT) AS f,
                   CAST((item_id * 1000003 + (f.f + 1) * 7919) % 5 - 2
                        AS BIGINT) AS h
            FROM (SELECT DISTINCT item_id FROM cnt)
            CROSS JOIN (SELECT UNNEST(range({_IALS_NE_RANK})) AS f) f
        ),
        joint AS (
            SELECT c.user_id, c.item_id, w.f, c.n, w.w, h.h
            FROM cnt c
            JOIN wf w ON c.user_id = w.user_id
            JOIN hf h ON c.item_id = h.item_id AND w.f = h.f
        ),
        pred AS (
            SELECT user_id, item_id, CAST(SUM(w * h) AS BIGINT) AS pred
            FROM joint GROUP BY 1, 2
        )
        SELECT j.user_id, j.item_id, j.f,
               CAST(j.n - p.pred AS BIGINT) AS err,
               CAST((j.n - p.pred) * j.h - 1 * j.w AS BIGINT) AS grad_user,
               CAST((j.n - p.pred) * j.w - 1 * j.h AS BIGINT) AS grad_item
        FROM joint j
        JOIN pred p ON j.user_id = p.user_id AND j.item_id = p.item_id
        """,
        doc="FunkSVD per-sample SGD gradient at epoch-0 oracled "
        "(MatrixFactorization_Cython_Epoch.pyx:286-347): e = n - W.H, "
        "gW = e*H - reg*W, gH = e*W - reg*H over pinned integer-grid "
        "factors — only the order-dependent accumulation stays rows-only",
    )
)


# ---------------------------------------------------------------------------
# fit-free MF serving: the bounded top-k kernel itself, oracle-checkable
# ---------------------------------------------------------------------------
_MF_SERVE_RANK = 8


def _hash_factors(ids: DataFrame, id_col: str, rank: int) -> DataFrame:
    """Deterministic dense factors derived from the id alone:
    feature[j] = ((id·P1 + j·P2) mod MOD)/MOD − 0.5 — portable across
    Spark and SQL, so the SERVING kernel (not a stochastic fit) is what
    the oracle certifies.  Mirrors functions/hashing.bucket_hash."""
    from ..functions.hashing import MOD, P1, P2

    feats = F.transform(
        F.sequence(F.lit(0), F.lit(rank - 1)),
        lambda j: F.pmod(
            F.col(id_col).cast("bigint") * F.lit(P1)
            + j.cast("bigint") * F.lit(P2),
            F.lit(MOD),
        ).cast("double")
        / F.lit(float(MOD))
        - F.lit(0.5),
    )
    return ids.select(F.col(id_col), feats.alias("features"))


def q_mf_serving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIT-FREE MF serving: deterministic hash-derived rank-8 factors →
    ``mf_recommend_top_k`` (k=10, remove-seen) on the broadcast-GEMM path.

    This is the round-7 bounded serving kernel (operators/mf_topk.py,
    replacing the reference's dense user-block scoring loop at
    Evaluator.py:482-484 + BaseMatrixFactorizationRecommender.py:165-197)
    exercised WITHOUT an iterative fit in front, so (a) the driver can
    hash-check the kernel against a full U×I DuckDB twin, and (b) bench
    times pure serving throughput."""
    from ..operators.mf_topk import mf_recommend_top_k

    urm = _urm(spark, sf_dir)
    uf = _hash_factors(
        urm.select("user_id").distinct(), "user_id", _MF_SERVE_RANK
    )
    itf = _hash_factors(
        urm.select("item_id").distinct(), "item_id", _MF_SERVE_RANK
    )
    return mf_recommend_top_k(
        uf, itf, 10, train=urm.select("user_id", "item_id"), round_digits=9
    )


def q_mf_serving_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same serving query with ``item_broadcast_mb=0``: pins the ANY-scale
    UB×IB blocked-grid path (the 100 TB shape) to the same oracle."""
    from ..operators.mf_topk import mf_recommend_top_k

    urm = _urm(spark, sf_dir)
    uf = _hash_factors(
        urm.select("user_id").distinct(), "user_id", _MF_SERVE_RANK
    )
    itf = _hash_factors(
        urm.select("item_id").distinct(), "item_id", _MF_SERVE_RANK
    )
    return mf_recommend_top_k(
        uf,
        itf,
        10,
        train=urm.select("user_id", "item_id"),
        round_digits=9,
        item_broadcast_mb=0.0,
        item_block_rows=512,
    )


def _mf_serving_oracle() -> str:
    from ..functions.hashing import MOD, P1, P2

    val = (
        f"CAST(((CAST({{id}} AS BIGINT) * {P1} + j * {P2}) % {MOD} + {MOD})"
        f" % {MOD} AS DOUBLE) / {MOD} - 0.5"
    )
    return f"""
        WITH {URM_CTE},
        js AS (SELECT unnest(generate_series(0, {_MF_SERVE_RANK - 1})) AS j),
        ufl AS (
            SELECT user_id, j, {val.format(id="user_id")} AS v
            FROM (SELECT DISTINCT user_id FROM urm) CROSS JOIN js
        ),
        ifl AS (
            SELECT item_id, j, {val.format(id="item_id")} AS v
            FROM (SELECT DISTINCT item_id FROM urm) CROSS JOIN js
        ),
        scores AS (
            SELECT u.user_id, i.item_id, SUM(u.v * i.v) AS score
            FROM ufl u JOIN ifl i USING (j)
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT s.* FROM scores s
            LEFT JOIN urm t ON s.user_id = t.user_id AND s.item_id = t.item_id
            WHERE t.user_id IS NULL
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY round(score, 9) DESC, item_id ASC) AS INT) AS rank
        FROM unseen QUALIFY rank <= 10
    """


register(
    QuerySpec(
        "mf_serving_topk",
        q_mf_serving_topk,
        _mf_serving_oracle(),
        doc="bounded MF top-k serving kernel, broadcast-GEMM path "
        "(operators/mf_topk.py; Evaluator.py:482-484 blocked scoring)",
    )
)

register(
    QuerySpec(
        "mf_serving_topk_blocked",
        q_mf_serving_topk_blocked,
        _mf_serving_oracle(),
        doc="bounded MF top-k serving kernel, forced UB×IB blocked-grid "
        "path (operators/mf_topk.py)",
    )
)


def q_rating_model_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out RMSE of the explicit-rating MF fits vs the GlobalEffects
    baseline on the fixed hash split — the rating-model analog of
    model_quality_gates (pytest pins funk/asy ≤ baseline)."""
    from functools import reduce

    from ..functions.hashing import bucket_hash
    from ..recommenders.mfsgd import (
        asy_svd_fit,
        asy_user_factors,
        funk_svd_fit,
        predict_ratings,
    )
    from ..recommenders.nonpersonalized import global_effects
    from .mlops import _rated

    rated = _rated(spark, sf_dir)
    tagged = rated.withColumn(
        "split",
        F.when(
            bucket_hash(F.col("user_id"), F.col("item_id")) < 698, 0
        ).otherwise(1),
    )
    train = tagged.filter(F.col("split") == 0).drop("split")
    test = tagged.filter(F.col("split") == 1).drop("split")

    def rmse_of(pred: DataFrame, name: str) -> DataFrame:
        return (
            test.join(pred, ["user_id", "item_id"], "left")
            .fillna(0.0, subset=["score"])
            .agg(
                F.lit(name).alias("model"),
                F.sqrt(
                    F.avg(F.pow(F.col("score") - F.col("rating"), 2))
                ).alias("rmse"),
            )
        )

    mu_df, item_bias, user_bias = global_effects(
        train, lambda_item=25.0, lambda_user=10.0
    )
    ge_pred = (
        test.select("user_id", "item_id")
        .crossJoin(F.broadcast(mu_df))
        .join(F.broadcast(item_bias), "item_id", "left")
        .join(F.broadcast(user_bias), "user_id", "left")
        .select(
            "user_id",
            "item_id",
            (
                F.col("mu")
                + F.coalesce(F.col("item_bias"), F.lit(0.0))
                + F.coalesce(F.col("user_bias"), F.lit(0.0))
            ).alias("score"),
        )
    )

    uf, itf, g_f = funk_svd_fit(
        train, rank=8, epochs=6, lr=0.2, sgd_mode="adagrad", seed=42,
        n_buckets=16,
    )
    funk_pred = predict_ratings(test, uf, itf, g_f)

    x_fac, y_fac, ub, g_a = asy_svd_fit(
        train, rank=8, epochs=6, lr=0.2, sgd_mode="adagrad", seed=42,
        n_buckets=16,
    )
    asy_pred = predict_ratings(
        test, asy_user_factors(train, y_fac, ub), x_fac, g_a
    )

    rows = [
        rmse_of(ge_pred, "global_effects"),
        rmse_of(funk_pred, "funk_svd"),
        rmse_of(asy_pred, "asy_svd"),
    ]
    allm = reduce(lambda a, b: a.unionByName(b), rows)
    base = allm.filter(F.col("model") == "global_effects").select(
        F.col("rmse").alias("_base")
    )
    return (
        allm.crossJoin(F.broadcast(base))
        .select(
            "model",
            "rmse",
            (F.col("rmse") <= F.col("_base")).alias("beats_global_effects"),
        )
        .orderBy("model")
    )


register(
    QuerySpec(
        "rating_model_quality_gates",
        q_rating_model_quality_gates,
        None,
        doc="held-out RMSE gates: FunkSVD/AsySVD vs GlobalEffects "
        "(metrics.py:219-266 metric; fits from "
        "MatrixFactorization_Cython.py:195-266)",
        bench=False,
    )
)


# ---------------------------------------------------------------------------
# gap-based sessionization (streaming extension; batch-checkable)
# ---------------------------------------------------------------------------
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap) — session_window in batch mode;
    the streaming path applies the SAME transformation with a watermark."""
    from ..streaming.ingest import sessionize_events

    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return sessionize_events(ev, gap="30 minutes", watermark=None)


register(
    QuerySpec(
        "user_sessions",
        q_user_sessions,
        """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        )
        SELECT user_id,
               CAST(MIN(ts) AS TIMESTAMP) AS session_start,
               CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(value) AS sum_value
        FROM sess GROUP BY user_id, sess_id
        """,
        doc="gap-based session windows (streaming extension, "
        "session_window state store)",
    )
)


def q_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the REAL Structured Streaming engine: file
    source over the events parquet → 1-hour watermark → session_window
    state store → append-mode emission, run to completion with an
    ``availableNow`` trigger and returned from the memory sink.

    Driver-checkable streaming evidence (the streaming family was
    pytest-only before round 8): the emitted set is deterministic —
    sessions whose end ≤ final watermark, where the final watermark is
    the millisecond-floored max event time minus the delay (Spark keeps
    event-time stats in ms) — so a batch SQL twin reproduces it exactly.
    Single-file source ⇒ one data micro-batch, then the watermark-flush
    batch; with multi-file logs the same holds as long as no user's
    session straddles a watermark advance (late data would be dropped,
    which is the documented streaming semantics, not a defect)."""
    from ..streaming.ingest import (
        run_stream_once,
        sessionize_events,
        stream_dir_for_file,
        stream_events,
    )

    import shutil

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    sess = sessionize_events(src, gap="30 minutes", watermark="1 hour")
    out = run_stream_once(sess, "sessionization")
    # the memory sink holds materialized rows; the symlink dir is done
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_sessionization_counts",
        q_stream_sessionization,
        """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        ),
        agg AS (
            SELECT user_id,
                   CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                   CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   SUM(value) AS sum_value
            FROM sess GROUP BY user_id, sess_id
        ),
        wm AS (
            SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
            FROM events
        )
        SELECT user_id, session_start, session_end, n_events, sum_value
        FROM agg, wm WHERE session_end <= w
        """,
        doc="streaming sessionization through the live engine (file "
        "source + watermark + state store, availableNow); emission "
        "boundary = ms-floored max event time - delay, end <= wm "
        "(pinned empirically in tests/test_streaming.py)",
    )
)


def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts through the LIVE streaming engine (same
    bridge as ``stream_sessionization_counts``; the batch twin is
    ``tumbling_window_counts``).  Append mode emits a window once the
    final watermark reaches its end (inclusive — same eviction predicate
    as session windows, pinned in tests/test_streaming.py)."""
    import shutil

    from ..streaming.ingest import (
        run_stream_once,
        stream_dir_for_file,
        stream_events,
        tumbling_event_counts,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    out = run_stream_once(
        tumbling_event_counts(src, "1 hour", watermark="1 hour"), "tumbling"
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_tumbling_counts",
        q_stream_tumbling_counts,
        """
        WITH agg AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   SUM(value) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        wm AS (
            SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
            FROM events
        )
        SELECT window_start, event_type, cnt, sum_value
        FROM agg, wm WHERE window_start + INTERVAL 1 HOUR <= w
        """,
        doc="live-engine tumbling windows + watermark (availableNow); "
        "append emission at window_end <= final watermark",
        bench=False,
    )
)


def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-per-key dedup through the LIVE streaming engine under
    at-least-once redelivery: the events file is delivered TWICE (two
    source links → two micro-batches under maxFilesPerTrigger=1), and
    ``dropDuplicatesWithinWatermark`` must emit each event exactly once.

    Batch 1 emits every first-seen key and stores per-key state; between
    batches the watermark advances to max(ts) − 2 h, so batch 2's copies
    are suppressed by key state (rows inside the horizon — state is only
    evictable once the watermark passes ts + delay) or dropped as late
    rows (rows behind the watermark).  Either path yields the same
    deterministic emission: exactly the distinct event set, which is the
    SQL twin.  Empirically pinned in tests/test_streaming.py.  At 100 TB
    this is the log-ingest front door: state is bounded by keys inside
    the redelivery horizon, not by history.
    """
    import shutil

    from ..streaming.ingest import (
        dedup_events_stream,
        run_stream_once,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet", copies=2)
    src = stream_events(spark, src_dir, schema=batch.schema)
    out = run_stream_once(
        dedup_events_stream(src, keys=["event_id"], watermark="2 hours"),
        "stream_dedup",
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_dedup_events",
        q_stream_dedup_events,
        """
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               value, props
        FROM events
        """,
        doc="live-engine streaming dedup (dropDuplicatesWithinWatermark) "
        "under doubled at-least-once delivery; emission == the distinct "
        "event set",
    )
)


def q_stream_view_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the LIVE streaming engine:
    views ⋈ clicks by the same user with click_ts ∈ [view_ts, view_ts+1h]
    (the streaming twin of the batch bounded-range join behind
    ``view_to_click_conversions``).

    Both sides carry a watermark and the join condition carries an
    event-time bound — the two requirements Structured Streaming imposes
    so it can evict buffered rows once no future match is possible
    (state ≈ horizon + watermark of traffic per side, NOT the whole
    stream — the property that makes this run forever at 100 TB/day).
    Emission is deterministic for an inner join: a pair is emitted in the
    micro-batch where both sides are buffered, and nothing is dropped as
    late in a single-delivery availableNow run (the first batch's
    watermark is 0), so the emitted set equals the exact batch interval
    join — the SQL twin below."""
    import shutil

    from ..streaming.ingest import (
        run_stream_once,
        stream_dir_for_file,
        stream_events,
        stream_view_click_join,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    joined = stream_view_click_join(
        src.filter(F.col("event_type") == "view"),
        src.filter(F.col("event_type") == "click"),
        horizon="1 hour",
        watermark="2 hours",
    )
    out = run_stream_once(joined, "stream_vc_join")
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_view_click_pairs",
        q_stream_view_click_pairs,
        """
        SELECT v.user_id,
               v.event_id AS view_id,
               c.event_id AS click_id,
               CAST(v.ts AS TIMESTAMP) AS view_ts,
               CAST(c.ts AS TIMESTAMP) AS click_ts
        FROM events v
        JOIN events c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND c.event_type = 'click'
        """,
        doc="live-engine stream-stream interval join (views x clicks "
        "within 1h, both sides watermarked); inner-join emission == "
        "exact batch interval join",
    )
)


def q_stream_view_click_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join through the LIVE engine —
    the emission surface the inner join never exercises: a view's
    NULL-side row may only be emitted once the global watermark proves no
    matching click can still arrive (watermark > view_ts + horizon), i.e.
    outer results are produced by STATE EVICTION, not by row arrival.
    That deferred emission is exactly what keeps unbounded stream-stream
    outer joins memory-bounded at 100 TB/day: left-side state is one
    horizon + watermark of traffic, evicted rows leave as NULL matches.

    Determinism: matched pairs equal the exact batch interval join
    (single-delivery availableNow run, nothing late); unmatched views are
    NULL-emitted iff their match window [view_ts, view_ts + 1h] closed
    STRICTLY under the FINAL watermark.  The boundary is derived from
    Spark's stream-stream state-watermark rule (StreamingJoinHelper
    solves the join's event-time bound for the buffered side: a view is
    evictable once globalWatermark > view_ts + horizon) plus two engine
    conventions: each filtered side carries its OWN watermark and the
    global watermark is their MIN (multipleWatermarkPolicy=min), and
    event-time stats are millisecond-floored.  Eviction horizon =
    min(max view_ts, max click_ts) truncated to millis, minus the 2h
    delay.  All three boundary behaviors (strict '<' at exact window
    close, the min-across-sides rule, ms flooring) are pinned by
    tests/test_streaming.py::test_availablenow_outer_join_watermark_boundary
    with crafted at/just-under/just-over rows, not only by whole-query
    parity at sf0.001.  Views newer than the horizon stay buffered and
    are NOT emitted, so the SQL twin applies the same cutoff.  The NULL
    side is surfaced
    as the engine-wide -1 sentinel so the output schema carries no
    nullable column (driver-hash portability).
    """
    import shutil

    from ..streaming.ingest import (
        run_stream_once,
        stream_dir_for_file,
        stream_events,
        stream_view_click_join,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    joined = stream_view_click_join(
        src.filter(F.col("event_type") == "view"),
        src.filter(F.col("event_type") == "click"),
        horizon="1 hour",
        watermark="2 hours",
        how="left_outer",
    ).select(
        "user_id",
        "view_id",
        F.coalesce(F.col("click_id"), F.lit(-1).cast("bigint")).alias(
            "click_id"
        ),
        "view_ts",
    )
    out = run_stream_once(joined, "stream_vc_outer")
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_view_click_outer",
        q_stream_view_click_outer,
        """
        WITH v AS (
            SELECT user_id, event_id AS view_id, ts AS view_ts
            FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        wm AS (
            -- the engine watermarks each FILTERED side separately and the
            -- global watermark is their MIN (multipleWatermarkPolicy=min),
            -- so the eviction horizon tracks the slower side's max event
            -- time, not the unified table's
            SELECT least((SELECT date_trunc('milliseconds', MAX(view_ts))
                          FROM v),
                         (SELECT date_trunc('milliseconds', MAX(click_ts))
                          FROM c))
                   - INTERVAL 2 HOUR AS w
        ),
        matched AS (
            SELECT v.user_id, v.view_id, c.click_id,
                   CAST(v.view_ts AS TIMESTAMP) AS view_ts
            FROM v JOIN c
              ON v.user_id = c.user_id
             AND c.click_ts >= v.view_ts
             AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
        ),
        unmatched AS (
            SELECT v.user_id, v.view_id, CAST(-1 AS BIGINT) AS click_id,
                   CAST(v.view_ts AS TIMESTAMP) AS view_ts
            FROM v CROSS JOIN wm
            WHERE v.view_ts + INTERVAL 1 HOUR < wm.w
              AND NOT EXISTS (
                  SELECT 1 FROM c
                  WHERE c.user_id = v.user_id
                    AND c.click_ts >= v.view_ts
                    AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
              )
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        """,
        doc="live-engine stream-stream LEFT OUTER interval join: matched "
        "pairs == exact batch join; NULL-side rows emitted by state "
        "eviction once the final watermark closes the match window",
    )
)


def q_stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows through the LIVE streaming engine:
    2-hour windows every hour, watermarked, append emission — the
    streaming twin of the batch `hopping_window_counts`, completing the
    window-family driver evidence (tumbling + session + hopping all run
    the real state store now).

    Append mode emits a window once the final watermark passes its end
    (the eviction predicate pinned for stream_tumbling_counts); each
    event updates duration/slide = 2 window states, so state is bounded
    by open windows × types regardless of input size.
    """
    import shutil

    from ..streaming.ingest import (
        as_event_time,
        run_stream_once,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    agg = (
        as_event_time(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    out = run_stream_once(agg, "stream_hopping")
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_hopping_counts",
        q_stream_hopping_counts,
        """
        WITH agg AS (
            SELECT CAST(date_trunc('hour', ts) - o.h * INTERVAL 1 HOUR
                        AS TIMESTAMP) AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   SUM(value) AS sum_value
            FROM events CROSS JOIN (VALUES (0), (1)) o(h)
            GROUP BY 1, 2
        ),
        wm AS (
            SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR
                       AS w
            FROM events
        )
        SELECT window_start, event_type, cnt, sum_value
        FROM agg, wm WHERE window_start + INTERVAL 2 HOUR <= w
        """,
        doc="live-engine hopping windows + watermark (availableNow); "
        "append emission at window_end <= final watermark",
    )
)


def q_stream_chained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful aggregations in ONE streaming query through
    the LIVE engine: 15-minute tumbling counts per event_type re-rolled
    into hourly (max / sum / n_windows) — the multiple-stateful-operator
    capability Spark added in 3.4 (groupBy on the upstream WINDOW column;
    no second withWatermark), exercised end-to-end with append-mode
    cascade emission.

    Emission boundary: with aligned durations (1 h % 15 min == 0) the
    cascade reduces to `outer_end <= final watermark` — the inner windows
    of a closed hour are all emitted (inner_end <= outer_end <= wm) and
    flow into the outer state store in the follow-up micro-batches that
    availableNow schedules while eviction progresses.  Watermark
    conventions as pinned for stream_tumbling_counts: ms-floored max
    event time minus the 1 h delay, window-end INCLUSIVE eviction.

    Scale rationale (the 100 TB point): only the fine agg sees raw input
    volume; the hourly re-agg's state and input are bounded by open
    windows × types — a rollup LADDER is nearly free in one query,
    instead of one full-volume scan + shuffle per resolution (the batch
    ladder `multires_event_rollup` pays per level from parquet).
    """
    import shutil

    from ..streaming.ingest import (
        chained_window_rollup,
        run_stream_once,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    out = run_stream_once(
        chained_window_rollup(src, "15 minutes", "1 hour", "1 hour"),
        "stream_chained",
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_chained_rollup",
        q_stream_chained_rollup,
        """
        WITH q AS (
            SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS ws, event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        wm AS (
            SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR
                       AS w
            FROM events
        )
        SELECT CAST(date_trunc('hour', ws) AS TIMESTAMP) AS window_start,
               event_type,
               MAX(cnt) AS max_cnt,
               CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM q, wm
        WHERE date_trunc('hour', ws) + INTERVAL 1 HOUR <= w
        GROUP BY 1, 2
        """,
        doc="live-engine CHAINED stateful aggs (15-min tumbling -> hourly "
        "rollup in one append-mode query, groupBy on the window column); "
        "cascade emission at outer window_end <= final watermark",
    )
)


def q_stream_join_hourly_conversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join chained into a windowed aggregation —
    ONE query, two stateful operators of DIFFERENT kinds (join state +
    window state), completing the multiple-stateful-operator matrix next
    to `stream_chained_rollup`'s agg→agg.  Hourly conversion counts and
    summed view→click delay, never landing the join output.

    Emission boundary (probed to the millisecond, see
    tests/test_streaming.py::test_availablenow_join_agg_watermark_boundary):
    the join delays the downstream watermark by its buffered-side state
    bound, so a window emits iff `window_end + horizon < raw_wm`, STRICT
    — where raw_wm is the ms-floored min of both sides' max event time
    minus the 2 h delay (the min-across-sides rule pinned for
    `stream_view_click_outer`).  The delay sum is exact bigint micros.
    """
    import shutil

    from ..streaming.ingest import (
        joined_conversion_counts,
        run_stream_once,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    out = run_stream_once(
        joined_conversion_counts(
            src.filter(F.col("event_type") == "view"),
            src.filter(F.col("event_type") == "click"),
            horizon="1 hour",
            watermark="2 hours",
            window_duration="1 hour",
        ),
        "stream_join_agg",
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_join_hourly_conversions",
        q_stream_join_hourly_conversions,
        """
        WITH v AS (
            SELECT user_id, ts AS view_ts FROM events
            WHERE event_type = 'view'
        ),
        c AS (
            SELECT user_id, ts AS click_ts FROM events
            WHERE event_type = 'click'
        ),
        m AS (
            SELECT v.user_id, v.view_ts, c.click_ts
            FROM v JOIN c
              ON v.user_id = c.user_id
             AND c.click_ts >= v.view_ts
             AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
        ),
        wm AS (
            SELECT date_trunc('milliseconds',
                       least((SELECT MAX(view_ts) FROM v),
                             (SELECT MAX(click_ts) FROM c)))
                   - INTERVAL 2 HOUR AS w
        )
        SELECT CAST(date_trunc('hour', view_ts) AS TIMESTAMP)
                   AS window_start,
               CAST(COUNT(*) AS BIGINT) AS conversions,
               CAST(SUM(epoch_us(click_ts) - epoch_us(view_ts)) AS BIGINT)
                   AS sum_delay_us
        FROM m, wm
        WHERE date_trunc('hour', view_ts) + INTERVAL 1 HOUR
                  + INTERVAL 1 HOUR < w
        GROUP BY 1
        """,
        doc="live-engine stream-stream join CHAINED into a windowed agg "
        "(join state + window state in one append query); window emits "
        "iff window_end + horizon < raw watermark, strict at ms "
        "resolution (the join delays the downstream watermark by its "
        "buffered-side bound)",
    )
)


def q_stream_synthetic_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CUSTOM Python streaming DataSource through the LIVE engine
    (sources/pyds.SyntheticEventsDataSource, the Spark 4 V2 extension
    API): a partition-planned deterministic event feed — offsets are row
    counts, each micro-batch advances by 2,500 rows to 10,000, every
    batch fans out over 4 executor-side InputPartitions — aggregated in
    complete mode and drained through the real offset/commit protocol
    (4 micro-batches; processAllAvailable, see run_synthetic_counts for
    why not availableNow).

    Every generated field is a pure function of the row id under the
    house portable-hash primes, so the DuckDB twin regenerates the
    entire feed from range() — the oracle covers source, offsets, and
    aggregation end to end.  ``sf_dir`` is unused by construction (the
    source IS the data); the spec exists to put the source-extension
    API under the driver's correctness gate.
    """
    utc(spark)
    from ..sources.pyds import run_synthetic_counts

    return run_synthetic_counts(
        spark, max_rows=10_000, rows_per_batch=2_500, num_partitions=4
    )


register(
    QuerySpec(
        "stream_synthetic_counts",
        q_stream_synthetic_counts,
        """
        SELECT CASE (i * 1000003) % 5
                   WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                   WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                   ELSE 'error' END AS event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(FLOOR(((i * 7919) % 1000) / 100.0 * 100)) AS BIGINT)
                   AS sum_cents
        FROM range(0, 10000) t(i)
        GROUP BY 1
        """,
        doc="custom Python streaming DataSource (Spark 4 V2 API) through "
        "the live engine: row-count offsets, 4 micro-batches x 4 "
        "executor partitions, complete-mode agg; the twin regenerates "
        "the deterministic feed from range()",
    )
)


#: per-(session, sf_dir) spool directory for ratings_source_scan — the
#: split-cache protocol applied to the DERIVED text shards: a deployment
#: exports the ``::`` files once and every scan reads them, so re-spooling
#: per invocation (the round-13 shape) charged ~4.7 s of one-time export
#: to every in-suite sample while the warm scan itself costs ~1 s.  The
#: family warmup pre-builds it; a fresh session (the driver) builds it on
#: first touch inside the query, keeping the spec self-contained.
_SPOOL_CACHE: dict[tuple[str, str], str] = {}


def _ratings_spool_dir(spark: SparkSession, sf_dir: str) -> str:
    import glob
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SPOOL_CACHE.get(key)
    if cached and glob.glob(os.path.join(cached, "shard*.dat")):
        return cached
    work = tempfile.mkdtemp(prefix="cwi_ratings_src_")
    out = os.path.join(work, "spool")
    src = os.path.join(work, "src")
    os.makedirs(src)
    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.concat_ws(
                "::",
                F.concat(F.lit("u"), F.col("user_id")),
                F.concat(
                    F.lit("i"),
                    F.get_json_object(F.col("props"), "$.k"),
                ),
                F.col("value"),
                F.col("event_id"),
            ).alias("line")
        )
        .repartition(4)
        .write.mode("overwrite")
        .text(out)
    )
    for i, pf in enumerate(sorted(glob.glob(os.path.join(out, "part-*")))):
        os.link(pf, os.path.join(src, f"shard{i}.dat"))
    _SPOOL_CACHE[key] = src
    return src


def q_ratings_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python BATCH DataSource under the driver gate, WITH
    source-side filter pushdown live (sources/pyds.RatingsDataSource;
    reference format: Data_manager/DataReader_utils.py:96-170's
    ``user::item::rating[::ts]`` text files).

    The purchase slice of the event log is spooled to a 4-shard
    ``::``-separated text file ONCE per session (derived data — the
    deterministic bridge that lets the DuckDB twin recompute the same
    rows straight from the events parquet; see ``_ratings_spool_dir``),
    then scanned back through ``format("ratings")`` with
    ``spark.sql.python.filterPushdown.enabled`` on: the ``rating >= 5``
    bound is CONSUMED by the reader (rows drop before Arrow
    serialization — the only saving a full-scan text source can offer;
    tests/test_sources.py pins the plan split), and the scan fans out
    one Python task per shard file exactly like a native source.  The
    aggregate is integer-cents so the twin is exact.
    """
    from ..sources.pyds import RatingsDataSource

    utc(spark)
    src = _ratings_spool_dir(spark, sf_dir)
    spark.dataSource.register(RatingsDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ratings = (
        spark.read.format("ratings")
        .option("sep", "::")
        .option("path", src)
        .load()
    )
    return (
        ratings.filter(F.col("rating") >= 5.0)
        .groupBy("user_token")
        .agg(
            F.count("*").cast("bigint").alias("n_ratings"),
            F.sum(F.floor(F.col("rating") * 100))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("user_token")
    )


register(
    QuerySpec(
        "ratings_source_scan",
        q_ratings_source_scan,
        """
        SELECT 'u' || CAST(user_id AS VARCHAR) AS user_token,
               CAST(COUNT(*) AS BIGINT) AS n_ratings,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        WHERE event_type = 'purchase' AND value >= 5.0
        GROUP BY 1
        ORDER BY 1
        """,
        doc="custom Python BATCH DataSource (Spark 4 V2 API) with live "
        "pushFilters: purchase events spooled to ::-separated shards, "
        "scanned back via format('ratings') with the rating bound "
        "consumed source-side; integer-cents agg == parquet-direct twin",
    )
)


def q_stream_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator through the driver gate:
    per-user running profiles (event count, value sum, last-seen ts)
    maintained by ``applyInPandasWithState`` — the escape hatch for
    stateful logic the built-in windows can't express (state = one row
    per user in the state store, Arrow batches folded in per
    micro-batch).

    Single-file availableNow delivery ⇒ one data micro-batch, so the
    update-mode emission is exactly one final profile per user — the
    batch-SQL twin.  The multi-batch running-update and both
    idle-timeout eviction modes (wall-clock and event-time tombstones)
    are pinned separately in tests/test_streaming.py; at scale state
    stays one row per ACTIVE user and the timeout path is what bounds
    it.  Timestamps fold to microseconds (ns // 1000), matching the
    oracle engine's timestamp precision exactly.
    """
    import shutil

    from ..streaming.ingest import (
        run_stream_once,
        running_user_profiles,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    out = run_stream_once(
        running_user_profiles(src), "stream_profiles", output_mode="update"
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    return out.orderBy("user_id")


register(
    QuerySpec(
        "stream_user_profiles",
        q_stream_user_profiles,
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(value) AS sum_value,
               CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
               FALSE AS is_final
        FROM events
        GROUP BY user_id
        ORDER BY user_id
        """,
        doc="applyInPandasWithState running per-user profiles through the "
        "live engine (single-batch availableNow); update emission == "
        "batch per-user aggregate",
    )
)


def q_stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment through the LIVE engine: the
    event stream joined to the static customer dimension, then a
    watermarked tumbling-window aggregation per (hour, market segment,
    event type) — the canonical streaming-ETL front door (enrich first,
    aggregate second).

    The stream-side join is STATELESS: the dimension is a batch relation
    broadcast into every micro-batch (no stream-stream buffering, no
    watermark requirement on the join itself — only the downstream
    window aggregation needs one), which is why stream-static is the
    recommended enrichment shape at any scale: dimension updates ship as
    new broadcast snapshots, state stays bounded by open windows only.
    Emission is deterministic (append mode, window_end <= final
    watermark, same eviction predicate pinned for stream_tumbling) so a
    batch join + windowed-agg SQL twin reproduces it exactly.
    """
    import shutil

    from ..streaming.ingest import (
        as_event_time,
        run_stream_once,
        stream_dir_for_file,
        stream_events,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src_dir = stream_dir_for_file(f"{sf_dir}/events.parquet")
    src = stream_events(spark, src_dir, schema=batch.schema)
    enriched = (
        as_event_time(src)
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(cust), "user_id")
    )
    agg = (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("win"),
            "c_mktsegment",
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "c_mktsegment",
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    out = run_stream_once(agg, "stream_enrich")
    shutil.rmtree(src_dir, ignore_errors=True)
    return out


register(
    QuerySpec(
        "stream_enriched_counts",
        q_stream_enriched_counts,
        """
        WITH j AS (
            SELECT e.ts, e.event_type, e.value, c.c_mktsegment
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ),
        agg AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   c_mktsegment, event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   SUM(value) AS sum_value
            FROM j GROUP BY 1, 2, 3
        ),
        wm AS (
            SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR
                       AS w
            FROM events
        )
        SELECT window_start, c_mktsegment, event_type, cnt, sum_value
        FROM agg, wm WHERE window_start + INTERVAL 1 HOUR <= w
        """,
        doc="live-engine stream-static broadcast enrichment join + "
        "watermarked tumbling agg; append emission == batch join twin",
    )
)


def q_stream_popularity_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-popularity SERVING STORE maintained by the live streaming
    engine (streaming/serving.py: update-mode aggregation → foreachBatch
    snapshot upsert → atomic pointer flip), then read back with a plain
    batch read — the materialized-view analog of the reference's
    split-cache + model-zip serving artifacts (Utils/dataset.py:271-306,
    Base/DataIO.py).

    Delivery is TWO micro-batches (the event log split in half by
    event-id hash, maxFilesPerTrigger=1; the store's aggregation has no
    watermark, so no no-data batch follows), so batch 2 exercises the real
    snapshot MERGE path — left-anti of the previous snapshot against the
    updated groups, union, new version directory, pointer flip — not
    just the bootstrap write.  The final snapshot is a pure function of
    the checkpointed state store: per-item total counts, which is the
    SQL twin.  At 100 TB of events the maintained table stays |items|
    rows (state is one row per item, partial-aggregated map-side), and
    readers only ever touch the |items|-row snapshot — the whole point
    of pushing the aggregation into the stream instead of re-scanning
    the log per refresh.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ..sizing import width_for_rows
    from ..sources.interactions import events_as_interactions
    from ..sources.tables import table_rows
    from ..streaming.ingest import stream_events
    from ..streaming.serving import (
        _store_dir,
        maintain_popularity_store,
        read_popularity_store,
    )

    utc(spark)
    batch = load_table(spark, sf_dir, "events")
    # scratch split (r16 ADVICE): ONLY the fsync-heavy checkpoint rides
    # the ephemeral scratch base (tmpfs by default — every micro-batch
    # fsyncs the offset WAL + one state delta per state partition there,
    # the partition count sized from the event count below; the r16 #9
    # win); the delivery halves (a full parquet copy of the event log)
    # and the snapshot versions stay on the default temp dir so a larger
    # SF or a memory-constrained host can't exhaust tmpfs on bulk data.  A
    # production store belongs on durable storage ($SPARK_GRAFT_STREAM_CKPT
    # overrides the scratch base).
    from ..streaming.ingest import scratch_base

    work = tempfile.mkdtemp(prefix="cwi_pop_store_")
    ckpt_work = tempfile.mkdtemp(prefix="cwi_pop_ckpt_", dir=scratch_base())
    try:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        # ONE pass over the event log writes both delivery halves
        # (dynamic partition write on the hash bit) — the former per-half
        # filter+coalesce(1) loop scanned the log twice and serialized the
        # two writes (r16, guide §2.4: don't re-scan what one pass can split)
        halves_dir = os.path.join(work, "halves")
        batch.withColumn(
            "_h", F.pmod(F.xxhash64(F.col("event_id")), F.lit(2))
        ).repartition("_h").write.mode("overwrite").partitionBy("_h").parquet(
            halves_dir
        )
        for part in (0, 1):
            (pf,) = glob.glob(
                os.path.join(halves_dir, f"_h={part}", "part-*.parquet")
            )
            os.link(pf, os.path.join(src_dir, f"{part}.parquet"))
        store = os.path.join(work, "store")
        ckpt = os.path.join(ckpt_work, "ckpt")
        src = stream_events(spark, src_dir, schema=batch.schema)
        # state-store width from the event count (parquet footer, rows per
        # task — sizing.width_for_rows): every state partition commits a
        # delta per micro-batch, so the width follows the data, not the
        # session's shuffle width.  A fresh checkpoint per run picks the
        # width up; an unknown row count keeps the session width.
        width = width_for_rows(table_rows(sf_dir, "events"))
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        if width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            q = maintain_popularity_store(
                events_as_interactions(src).select("item_id"),
                store,
                ckpt,
                available_now=True,
            )
            q.awaitTermination()
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    except BaseException:
        # a mid-run failure must not leak the scaffolding (the checkpoint
        # sits in RAM-backed tmpfs until reboot otherwise)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt_work, ignore_errors=True)
        raise
    # keep ONLY the published snapshot (|items| rows) the returned plan
    # reads from; the source halves / checkpoint / superseded versions
    # are run scaffolding
    shutil.rmtree(ckpt_work, ignore_errors=True)
    cur = _store_dir(store)
    for entry in os.listdir(work):
        p = os.path.join(work, entry)
        if p != store:
            shutil.rmtree(p, ignore_errors=True)
    for entry in os.listdir(store):
        p = os.path.join(store, entry)
        if os.path.isdir(p) and p != cur:
            shutil.rmtree(p, ignore_errors=True)
    return read_popularity_store(spark, store).orderBy("item_id")


register(
    QuerySpec(
        "stream_popularity_store",
        q_stream_popularity_store,
        """
        SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
                   AS item_id,
               CAST(COUNT(*) AS BIGINT) AS popularity
        FROM events
        GROUP BY 1
        ORDER BY 1
        """,
        doc="foreachBatch-maintained item-popularity serving store "
        "(update-mode state + atomic snapshot pointer), 2-batch "
        "delivery exercising the merge path; snapshot == batch counts",
    )
)


def q_slim_bpr_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIM-BPR item-item weights, DISTRIBUTED sparse-W fit — no dense
    n_items² matrix anywhere (SLIM_BPR_Cython_Epoch.pyx:59-1421;
    single-bucket equivalence vs the driver twin pinned in
    tests/test_models.py)."""
    from ..recommenders.bpr import slim_bpr_fit_distributed

    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    return slim_bpr_fit_distributed(urm, epochs=2, top_k=10, n_buckets=16)


register(
    QuerySpec(
        "slim_bpr_weights",
        q_slim_bpr_weights,
        None,
        doc="SLIM-BPR sparse item-item model "
        "(SLIM_BPR/Cython/SLIM_BPR_Cython_Epoch.pyx:59-1421)",
        bench=False,
    )
)


def q_custom_w_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ItemKNN with an externally-supplied W (pass-through + topK):
    KNN/ItemKNNCustomSimilarityRecommender.py:20-33.  The 'external' W here
    is the EASE_R output, re-truncated and served."""
    from ..operators.scoring import item_based_scores, recommend_top_k
    from ..operators.similarity import similarity_top_k
    from ..recommenders.slim import ease_r

    urm = _urm(spark, sf_dir)
    w = ease_r(urm, l2=50.0, top_k=None)
    w = similarity_top_k(w, 5, round_digits=9).select("item_i", "item_j", "sim")
    scores = item_based_scores(urm, w)
    return recommend_top_k(scores, 10, train=urm, round_digits=9)


register(
    QuerySpec(
        "custom_w_recommendations",
        q_custom_w_recommendations,
        None,
        doc="custom-W ItemKNN pass-through "
        "(KNN/ItemKNNCustomSimilarityRecommender.py:20-33); EASE_R W "
        "needs a matrix inverse → rows-only; the serving stage itself "
        "is hash-green via custom_w_serving_topk",
        bench=False,
    )
)


def q_custom_w_serving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic SERVING stage of the custom-W recommender,
    carved out hash-green (round-12 conversion, mirroring the round-11
    tuning_refit_metrics pattern): given a fixed externally-supplied W,
    pass-through + URM·W + remove-seen + top-K is pure relational
    algebra (KNN/ItemKNNCustomSimilarityRecommender.py:20-33 accepts ANY
    similarity matrix — that arbitrariness is the operator's point).

    The external W here is a pseudo-random sparse matrix from the
    portable Lehmer mix (5 proposed neighbors per item, hash-uniform
    weights) so the whole pipeline is exactly replayable in ANSI SQL;
    the EASE_R-weighted composite above stays rows-only because ITS W
    needs a matrix inverse, not because serving is untestable.

    Scale shape: identical to itemknn_recommendations — W bounded to 5
    entries per item caps the scoring-join fan-out, remove-seen is a
    left_anti, one per-user window over candidate rows only."""
    from ..operators.scoring import item_based_scores, recommend_top_k
    from ..operators.splits import bounded_item_proposals

    urm = _urm(spark, sf_dir)
    items = urm.select("item_id").distinct()
    props = (
        bounded_item_proposals(
            items.select(F.col("item_id").alias("user_id")),
            items,
            n_props=5,
            epoch=7,
        )
        .select(
            F.col("user_id").alias("item_i"),
            F.col("item_id").alias("item_j"),
        )
        .filter(F.col("item_i") != F.col("item_j"))
        .dropDuplicates(["item_i", "item_j"])
    )
    r1 = F.pmod(
        F.col("item_i") * F.lit(1_000_003)
        + F.col("item_j") * F.lit(7_919)
        + F.lit(7),
        F.lit(1_000_003_619),
    )
    w = props.withColumn(
        "sim",
        F.pmod(r1 * F.lit(48_271), F.lit(2_147_483_647)).cast("double")
        / F.lit(2_147_483_647.0),
    )
    scores = item_based_scores(urm, w)
    return recommend_top_k(scores, 10, train=urm, round_digits=9)


register(
    QuerySpec(
        "custom_w_serving_topk",
        q_custom_w_serving_topk,
        f"""
        WITH {URM_CTE},
        items_idx AS (
            SELECT item_id, ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS idx
            FROM (SELECT DISTINCT item_id FROM urm)
        ),
        nitems AS (SELECT COUNT(*) AS n FROM items_idx),
        -- bounded_item_proposals over the item vocabulary (epoch=7)
        wprops AS (
            SELECT it.item_id AS item_i,
                   ((((it.item_id * 1000003 + s.seq + 7 * 7919)
                      % 1000003619) * 48271
                     % 2147483647) * 16807 % 2147483647) % nitems.n AS idx
            FROM (SELECT DISTINCT item_id FROM urm) it
            CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS seq) s
            CROSS JOIN nitems
        ),
        w AS (
            SELECT DISTINCT p.item_i, i.item_id AS item_j
            FROM wprops p JOIN items_idx i USING (idx)
            WHERE p.item_i <> i.item_id
        ),
        ws AS (
            SELECT item_i, item_j,
                   CAST((((item_i * 1000003 + item_j * 7919 + 7)
                          % 1000003619) * 48271 % 2147483647) AS DOUBLE)
                       / 2147483647.0 AS sim
            FROM w
        ),
        scores AS (
            SELECT u.user_id, ws.item_j AS item_id, SUM(ws.sim) AS score
            FROM urm u JOIN ws ON u.item_id = ws.item_i
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT s.* FROM scores s
            LEFT JOIN urm t ON s.user_id = t.user_id AND s.item_id = t.item_id
            WHERE t.user_id IS NULL
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY round(score, 9) DESC, item_id ASC) AS INT) AS rank
        FROM unseen QUALIFY rank <= 10
        """,
        doc="custom-W ItemKNN SERVING stage with a fixed external W "
        "(KNN/ItemKNNCustomSimilarityRecommender.py:20-33): pass-through "
        "+ URM·W + remove-seen + top-K, exactly SQL-replayable",
    )
)


def q_random_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Random recommender (NonPersonalizedRecommender.py:155-180)
    via the bounded-proposal scale path (O(U·n_props) candidate rows, no
    user×catalog crossJoin — top-k of uniform over a random subset IS a
    uniform random pick).

    Hash-green since round 12: the draw AND the scores are the portable
    Lehmer/MINSTD mix (int64 arithmetic, exactly replayable in ANSI
    SQL), so the full recommend output carries a DuckDB twin — the
    reference seeds NumPy for determinism, not for a particular RNG
    stream, and a counter-based hash RNG is the distributed-engine
    equivalent (uniformity gate stays in tests/test_models.py)."""
    from ..recommenders.nonpersonalized import random_recommend

    urm = _urm(spark, sf_dir)
    return random_recommend(urm, k=10, seed=42)


register(
    QuerySpec(
        "random_recommendations",
        q_random_recommendations,
        f"""
        WITH {URM_CTE},
        items_idx AS (
            SELECT item_id, ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS idx
            FROM (SELECT DISTINCT item_id FROM urm)
        ),
        nitems AS (SELECT COUNT(*) AS n FROM items_idx),
        -- bounded_item_proposals(epoch=42): Lehmer/MINSTD proposal stream
        props AS (
            SELECT u.user_id,
                   ((((u.user_id * 1000003 + s.seq + 42 * 7919)
                      % 1000003619) * 48271
                     % 2147483647) * 16807 % 2147483647) % nitems.n AS idx
            FROM (SELECT DISTINCT user_id FROM urm) u
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS seq) s
            CROSS JOIN nitems
        ),
        cand AS (
            SELECT DISTINCT p.user_id, i.item_id
            FROM props p JOIN items_idx i USING (idx)
        ),
        scored AS (
            SELECT user_id, item_id,
                   CAST((((user_id * 1000003 + item_id * 7919 + 42)
                          % 1000003619) * 48271 % 2147483647) AS DOUBLE)
                       / 2147483647.0 AS score
            FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM urm t
                 WHERE t.user_id = c.user_id AND t.item_id = c.item_id)
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY score DESC, item_id ASC) AS INT) AS rank
        FROM scored QUALIFY rank <= 10
        """,
        doc="seeded Random recommender "
        "(NonPersonalizedRecommender.py:155-180); portable Lehmer-mix "
        "draw + scores → full SQL twin (rows-only until round 12)",
        bench=False,
    )
)


def q_ease_r_blocked_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed blocked EASE_R — the scale path past the O(n_items³)
    driver inverse (EASE_R_Recommender.py:64): items sharded into blocks,
    per-block closed form inside applyInPandas, zero driver linear
    algebra.  n_blocks=1 equals exact EASE_R (tested); rows-only here
    because the sharded approximation is engine-policy, not reference
    semantics."""
    from ..recommenders.slim import ease_r_blocked

    urm = _urm(spark, sf_dir)
    return ease_r_blocked(urm, l2=10.0, n_blocks=4, top_k=10)


register(
    QuerySpec(
        "ease_r_blocked_weights",
        q_ease_r_blocked_weights,
        None,
        doc="blocked EASE_R scale path: per-shard closed form in "
        "applyInPandas (EASE_R_Recommender.py:40-79)",
        bench=False,
    )
)

def q_ease_r_cg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global EXACT EASE_R via distributed conjugate gradient — closes the
    blocked path's cross-block approximation: sparse-Gram broadcast +
    matrix-form CG per column chunk in mapInPandas, no O(n_items³) driver
    inverse (EASE_R_Recommender.py:64).  Converges to ease_r's closed form
    (equivalence tested); rows-only because CG iteration count is engine
    policy, not reference semantics."""
    from ..recommenders.slim import ease_r_cg

    urm = _urm(spark, sf_dir)
    return ease_r_cg(urm, l2=10.0, top_k=10)


register(
    QuerySpec(
        "ease_r_cg_weights",
        q_ease_r_cg_weights,
        None,
        doc="global EASE_R via sparse-Gram CG in mapInPandas "
        "(EASE_R_Recommender.py:40-79, iterative scale path)",
        bench=False,
    )
)


def q_ease_r_cg_matvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC kernel of the EASE-R conjugate-gradient scale
    path oracled (the r15-verdict conversion, same move as ials_normal_eq
    / pure_svd_range_finder / nmf_mu_step): one CG iteration's matvec

        q = (G + λI)·p = Xᵀ(X·p) + λ·p

    over a pinned integer-grid search direction
    p_i = ((item·P1 + P2) mod 7) − 3 ∈ [−3, 3].  This is exactly the
    per-iteration product ease_r_cg's kernel computes against the sparse
    Gram (recommenders/slim.ease_r_cg; reference math
    EASE_R_Recommender.py:40-79) — only the iteration CHAIN (α/β scalars,
    direction updates) stays rows-only, the algebra each step runs is
    certified here.

    The factored form never materializes G: under the binary implicit URM
    s_u = Σ_{i∈obs(u)} p_i (one join+groupBy on user), then
    (XᵀXp)_j = Σ_{u∈obs(j)} s_u (one join+groupBy on item) — every entry
    an exact BIGINT sum, λ = EASE_R_L2 an integer addition.

    Scale shape: TWO linear-in-nnz shuffles per matvec and an O(|items|)
    result — the reason CG is the 100 TB path while the closed-form
    inverse (O(n³) driver) and even the materialized Gram
    (Σ_u deg(u)² pairs) are not."""
    from ..functions.hashing import P1, P2

    urm = _urm(spark, sf_dir).select("user_id", "item_id")
    p = (
        urm.select("item_id")
        .distinct()
        .select(
            "item_id",
            ((F.col("item_id") * F.lit(P1) + F.lit(P2)) % 7 - 3)
            .cast("bigint")
            .alias("p"),
        )
    )
    s = (
        urm.join(p, "item_id")
        .groupBy("user_id")
        .agg(F.sum("p").cast("bigint").alias("s"))
    )
    xtxp = (
        urm.join(s, "user_id")
        .groupBy("item_id")
        .agg(F.sum("s").cast("bigint").alias("xtxp"))
    )
    return (
        xtxp.join(p, "item_id")
        .select(
            "item_id",
            "p",
            (F.col("xtxp") + F.lit(int(EASE_R_L2)) * F.col("p"))
            .cast("bigint")
            .alias("q"),
        )
        .orderBy("item_id")
    )


register(
    QuerySpec(
        "ease_r_cg_matvec",
        q_ease_r_cg_matvec,
        f"""
        WITH {URM_CTE},
        p AS (
            SELECT DISTINCT item_id,
                   CAST((item_id * 1000003 + 7919) % 7 - 3 AS BIGINT) AS p
            FROM urm
        ),
        s AS (
            SELECT u.user_id, CAST(SUM(p.p) AS BIGINT) AS s
            FROM urm u JOIN p USING (item_id) GROUP BY 1
        ),
        xtxp AS (
            SELECT u.item_id, CAST(SUM(s.s) AS BIGINT) AS xtxp
            FROM urm u JOIN s USING (user_id) GROUP BY 1
        )
        SELECT x.item_id, p.p AS p,
               CAST(x.xtxp + {int(EASE_R_L2)} * p.p AS BIGINT) AS q
        FROM xtxp x JOIN p USING (item_id)
        ORDER BY item_id
        """,
        doc="EASE-R CG matvec oracled: q = (X^T X + lambda*I) p over a "
        "pinned integer-grid direction, factored as X^T(Xp) + lambda*p "
        "(two linear-in-nnz passes, Gram never materialized) — the exact "
        "per-iteration kernel of ease_r_cg_weights; only the CG scalar "
        "chain stays rows-only",
    )
)


# ---------------------------------------------------------------------------
# quality gates for the stochastic fits (rows-only — a deterministic
# post-fit signal per model, so the driver sees more than "rows came back")
# ---------------------------------------------------------------------------
def q_model_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 of each stochastic/iterative fit vs the TopPop baseline on
    the fixed 70/10/20 hash split — one row per model.

    The rows-only driver check only proves these fits RETURN rows; this
    query adds a deterministic quality signal (same split, same metric
    program as toppop_eval_metrics) that pytest pins with floors, so a
    silently-broken fit (all-zero factors, degenerate W) fails loudly.
    n_buckets/seed are fixed so BPR's bucketed SGD is machine-independent.
    """
    from functools import reduce

    from ..evaluation.metrics import ranking_metrics
    from ..operators.scoring import (
        item_based_scores,
        recommend_top_k,
        toppop_scores,
    )
    from .mlops import _train_test

    train, test = _train_test(spark, sf_dir)
    train_v = train.withColumn("value", F.lit(1.0))
    users = test.select("user_id").distinct()

    def top10(scores):
        return recommend_top_k(
            scores.join(users, "user_id", "left_semi"),
            10,
            train=train,
            round_digits=9,
        )

    recs = {}
    recs["toppop"] = recommend_top_k(
        toppop_scores(train_v, users, cutoff=10), 10, train=train
    )
    recs["ials"] = ials_recommend(
        train_v, k=10, users=users, rank=16, max_iter=10, reg=0.1,
        alpha=20.0, seed=42,
    )
    uf, itf = bpr_mf_fit(train, rank=8, epochs=3, seed=42, n_buckets=16)
    from ..operators.mf_topk import mf_recommend_top_k

    recs["bpr_mf"] = mf_recommend_top_k(
        uf, itf, 10, train=train, users=users, round_digits=9
    )
    # the DISTRIBUTED fit feeds the gate, so its MAP@10 floor certifies
    # the scale path (equivalence vs the broadcast twin is pinned in
    # tests/test_models.py)
    w_slim = slim_elasticnet_distributed(
        train_v, alpha=1e-4, l1_ratio=0.1, top_k=10
    )
    recs["slim_elasticnet"] = top10(
        item_based_scores(
            train_v,
            w_slim.select("item_i", "item_j", F.col("weight").alias("sim")),
        )
    )
    w_ease = ease_r(train_v, l2=10.0, top_k=10)
    recs["ease_r"] = top10(
        item_based_scores(train_v, w_ease.select("item_i", "item_j", "sim"))
    )

    rows = [
        ranking_metrics(df.select("user_id", "item_id", "rank"), test, cutoff=10)
        .select(F.lit(name).alias("model"), F.col("map").alias("map10"))
        for name, df in recs.items()
    ]
    allm = reduce(lambda a, b: a.unionByName(b), rows)
    base = allm.filter(F.col("model") == "toppop").select(
        F.col("map10").alias("_base")
    )
    return (
        allm.crossJoin(F.broadcast(base))
        .select(
            "model",
            "map10",
            (F.col("map10") >= F.col("_base")).alias("beats_toppop"),
        )
        .orderBy("model")
    )


register(
    QuerySpec(
        "model_quality_gates",
        q_model_quality_gates,
        None,
        doc="per-model MAP@10 vs TopPop on the fixed split — deterministic "
        "post-fit quality gate for the rows-only fits (pytest pins floors)",
        bench=False,
    )
)


def q_tuning_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_hyperparameter_tuning END-TO-END through the driver gate:
    deterministic 70/10/20 split -> seeded random search (4 cases) over
    ItemKNN (similarity kind, top_k, shrink) scored by validation MAP@10
    -> last-test REFIT on train+validation with the winning params ->
    test MAP, returned as ONE pinned result table (search history rows
    + a refit row).

    Reference flow: run_hyperparameter_tuning.py ->
    SearchBayesianSkopt (ParameterTuning/SearchBayesianSkopt.py:21-271)
    with the last-test refit + results gathering; CLI parity:
    ``cwi-spark tuning`` drives the same search/refit path
    (cli.py:run_tuning).

    Rows-only BY DESIGN: the search loop is driver-orchestrated — each
    case is a full distributed fit+evaluate and the sampler consumes a
    seeded RNG, so no SQL twin can replay it.  Gated instead by
    tests/test_tuning.py: table shape, seed-determinism of the chosen
    params, and a refit-quality floor.

    Scale shape: each case runs the same distributed ItemKNN fit and
    one-pass evaluator as the standalone queries; only ONE scalar metric
    per case ever reaches the driver, and search state is O(n_cases).
    """
    from ..evaluation.metrics import ranking_metrics
    from ..operators.scoring import item_based_scores, recommend_top_k
    from ..operators.similarity import similarity_scores, similarity_top_k
    from ..operators.splits import deterministic_split
    from ..tuning import Categorical, Integer, Real, random_search

    utc(spark)
    tagged = shared.materialized(
        spark,
        sf_dir,
        "tuning_split",
        lambda: deterministic_split(
            _urm(spark, sf_dir), "user_id", "item_id", [0.7, 0.1, 0.2]
        ),
    )
    train = tagged.filter(F.col("split") == 0).select("user_id", "item_id")
    val = tagged.filter(F.col("split") == 1).select("user_id", "item_id")
    test = tagged.filter(F.col("split") == 2).select("user_id", "item_id")

    def fit_eval(fit_pairs: DataFrame, holdout: DataFrame, p: dict) -> float:
        train_v = fit_pairs.withColumn("value", F.lit(1.0))
        w = similarity_top_k(
            similarity_scores(train_v, p["kind"], shrink=p["shrink"]),
            p["top_k"],
        ).select("item_i", "item_j", "sim")
        recs = recommend_top_k(
            item_based_scores(train_v, w), 10, train=fit_pairs, round_digits=9
        ).select("user_id", "item_id", "rank")
        return float(
            ranking_metrics(recs, holdout, cutoff=10).collect()[0]["map"]
        )

    space = {
        "top_k": Integer(5, 25),
        "shrink": Real(0.0, 10.0),
        "kind": Categorical(("cosine", "jaccard", "dice")),
    }
    best, hist = random_search(
        space, lambda p: fit_eval(train, val, p), n_cases=4, seed=42
    )
    refit_map = fit_eval(train.unionAll(val), test, best)
    rows = [
        (
            "search",
            int(r["case"]),
            str(r["param_kind"]),
            int(r["param_top_k"]),
            float(r["param_shrink"]),
            float(r["metric"]),
            bool(r["is_best"]),
            None,
        )
        for _, r in hist.iterrows()
    ]
    rows.append(
        (
            "refit",
            None,
            str(best["kind"]),
            int(best["top_k"]),
            float(best["shrink"]),
            None,
            True,
            float(refit_map),
        )
    )
    schema = (
        "phase string, case_id int, kind string, top_k int, shrink double,"
        " val_map double, is_best boolean, test_map double"
    )
    return spark.createDataFrame(rows, schema)


register(
    QuerySpec(
        "tuning_end_to_end",
        q_tuning_end_to_end,
        None,
        doc="hyperparameter search -> last-test refit -> test metrics as "
        "one composite run (run_hyperparameter_tuning.py / "
        "SearchBayesianSkopt.py:21-271 flow); rows-only, pytest-gated",
        bench=False,
    )
)


#: winning config of the seeded random search in q_tuning_end_to_end
#: (seed=42, 4 cases, verified at the driver's sf0.01) — PINNED so the
#: deterministic last-test refit stage gets its own SQL-oracled query;
#: tests/test_tuning.py asserts this stays equal to random_search's output.
REFIT_BEST = {"kind": "dice", "top_k": 14, "shrink": 6.973680290593639}


def q_tuning_refit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC stage of run_hyperparameter_tuning: refit on
    train+validation with the winning config, evaluate on test.

    Reference flow: SearchAbstractClass._evaluate_on_test (last-test refit,
    SearchBayesianSkopt.py:214-271) followed by the full Evaluator pass
    (Evaluator.py:284-364).  The search loop itself is the rows-only
    composite (``tuning_end_to_end``); this query replays ONLY the
    refit-on-best + test-metric stage with the winning params pinned as
    constants, which makes the whole stage SQL-expressible and hash-checked.

    Scale shape: identical to itemknn_recommendations + toppop_eval_metrics
    — item co-occurrence shuffles once on user_id, W is top-K-pruned per
    column, scores are semi-joined to test users before ranking (per-user
    top-K is user-independent, and ranking_metrics aggregates test users
    only, so the semi-join is an exact optimization the composite's
    fit_eval skips).
    """
    from ..evaluation.metrics import ranking_metrics
    from ..operators.scoring import item_based_scores, recommend_top_k
    from ..operators.similarity import similarity_scores, similarity_top_k
    from ..operators.splits import deterministic_split

    utc(spark)
    tagged = shared.materialized(
        spark,
        sf_dir,
        "tuning_split",
        lambda: deterministic_split(
            _urm(spark, sf_dir), "user_id", "item_id", [0.7, 0.1, 0.2]
        ),
    )
    fit = tagged.filter(F.col("split") != 2).select("user_id", "item_id")
    test = tagged.filter(F.col("split") == 2).select("user_id", "item_id")
    fit_v = fit.withColumn("value", F.lit(1.0))
    w = similarity_top_k(
        similarity_scores(
            fit_v, REFIT_BEST["kind"], shrink=REFIT_BEST["shrink"]
        ),
        REFIT_BEST["top_k"],
    ).select("item_i", "item_j", "sim")
    scores = item_based_scores(fit_v, w).join(
        test.select("user_id").distinct(), "user_id", "left_semi"
    )
    recs = recommend_top_k(
        scores, 10, train=fit, round_digits=9
    ).select("user_id", "item_id", "rank")
    return ranking_metrics(recs, test, cutoff=10)


register(
    QuerySpec(
        "tuning_refit_metrics",
        q_tuning_refit_metrics,
        f"""
        WITH {URM_CTE},
        tagged AS (
            SELECT *, ((user_id * 1000003 + item_id * 7919) % 997 + 997) % 997
                          AS h
            FROM urm
        ),
        fit  AS (SELECT user_id, item_id FROM tagged WHERE h < 798),
        test AS (SELECT user_id, item_id FROM tagged WHERE h >= 798),
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM fit GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM fit a JOIN fit b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        s AS (
            -- dice: dot / (ni + nj + (shrink + eps)); the shrink+eps sum is
            -- parenthesized to match the engine's F.lit(shrink)+F.lit(EPS)
            -- association bit-for-bit
            SELECT item_i, item_j,
                   dot / (ni.n + nj.n + (6.973680290593639 + 1e-6)) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY item_j
                        ORDER BY dot / (ni.n + nj.n + (6.973680290593639 + 1e-6))
                                     DESC,
                                 item_i ASC) AS rnk
            FROM d JOIN n ni ON d.item_i = ni.item_id
                   JOIN n nj ON d.item_j = nj.item_id
            QUALIFY rnk <= 14
        ),
        eu AS (SELECT DISTINCT user_id FROM test),
        scores AS (
            SELECT t.user_id, s.item_j AS item_id, SUM(s.sim) AS score
            FROM fit t JOIN s ON t.item_id = s.item_i
            WHERE t.user_id IN (SELECT user_id FROM eu)
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT sc.* FROM scores sc
            LEFT JOIN fit t ON sc.user_id = t.user_id AND sc.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY round(score, 9) DESC, item_id ASC) AS rank
            FROM unseen QUALIFY rank <= 10
        ),
        ntest AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
        lab AS (
            SELECT r.user_id, r.rank, n.n_test,
                   CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
            FROM recs r
            JOIN ntest n USING (user_id)
            LEFT JOIN test t ON r.user_id = t.user_id AND r.item_id = t.item_id
        ),
        cum AS (
            SELECT *,
                   CAST(SUM(is_hit) OVER (PARTITION BY user_id ORDER BY rank
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hits,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_rows_u,
                   CAST(SUM(is_hit) OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_hits_u
            FROM lab
        ),
        pu AS (
            SELECT user_id, ANY_VALUE(n_test) AS n_test,
                   SUM(is_hit) AS n_hits,
                   SUM(is_hit * cum_hits * 1.0 / rank) AS ap_num,
                   MIN(CASE WHEN is_hit = 1 THEN rank END) AS fhr,
                   SUM(is_hit * 1.0 / rank) AS arhr,
                   SUM(is_hit / log2(rank + 1.0)) AS dcg,
                   COUNT(*) AS n_recs,
                   SUM(is_hit * (n_rows_u - rank - (n_hits_u - cum_hits)))
                       AS auc_num
            FROM cum GROUP BY user_id
        ),
        idcg AS (
            SELECT i AS n, SUM(1.0 / log2(i + 1.0)) OVER (ORDER BY i
                           ROWS UNBOUNDED PRECEDING) AS idcg
            FROM range(1, 11) t(i)
        ),
        per_user AS (
            SELECT nt.user_id,
                   COALESCE(p.n_hits / 10.0, 0.0)                    AS precision,
                   COALESCE(p.n_hits * 1.0 / LEAST(nt.n_test, 10), 0.0) AS precision_min_den,
                   COALESCE(p.n_hits * 1.0 / nt.n_test, 0.0)         AS recall,
                   COALESCE(p.ap_num / LEAST(nt.n_test, 10), 0.0)    AS ap,
                   COALESCE(1.0 / p.fhr, 0.0)                        AS rr,
                   COALESCE(p.dcg / i.idcg, 0.0)                     AS ndcg,
                   COALESCE(p.arhr, 0.0)                             AS arhr,
                   COALESCE(CAST(p.n_hits AS DOUBLE), 0.0)           AS hits,
                   COALESCE(CASE WHEN p.n_recs = p.n_hits THEN 1.0
                                 WHEN p.n_hits = 0 THEN 0.0
                                 ELSE p.auc_num * 1.0
                                      / (p.n_hits * (p.n_recs - p.n_hits)) END,
                            0.0)                                     AS roc_auc
            FROM ntest nt
            LEFT JOIN pu p ON nt.user_id = p.user_id
            LEFT JOIN idcg i ON LEAST(nt.n_test, 10) = i.n
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
                   AVG(precision)         AS precision,
                   AVG(precision_min_den) AS precision_min_den,
                   AVG(recall)            AS recall,
                   AVG(ap)                AS map,
                   AVG(rr)                AS mrr,
                   AVG(ndcg)              AS ndcg,
                   AVG(arhr)              AS arhr,
                   AVG(hits)              AS hit_rate,
                   AVG(roc_auc)           AS roc_auc
            FROM per_user
        )
        SELECT *, CASE WHEN precision + recall > 0
                       THEN 2.0 * precision * recall / (precision + recall)
                       ELSE 0.0 END AS f1
        FROM agg
        """,
        doc="deterministic refit-on-best + test metrics stage of the tuning "
        "composite (SearchBayesianSkopt.py:214-271 last-test refit + "
        "Evaluator.py:284-364), winning config pinned from the seeded search",
        bench=False,
    )
)
