"""Relational operator suite (SURVEY.md §2.1-2.5) as registered queries.

Each query exercises one operator family from the reference on the harness
star schema, with a DuckDB oracle.  Reference citations are on each spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stats import gini_coefficient, herfindahl_index, shannon_entropy
from ..functions.timeutil import epoch_seconds
from ..operators.dedup import keep_last_by_timestamp
from ..operators.topk import top_k_global, top_k_per_group
from ..sources.interactions import events_as_interactions
from ..sources.tables import load_table
from .registry import QuerySpec, register, utc
from .shared import materialized


# ---------------------------------------------------------------------------
# scan + wide aggregate (fused multi-aggregate compute — dataset.py:835-880)
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → groupBy → 8 shared-scan aggs.

    Reference idiom: dozens of lazy aggregates fused into one compute
    (Utils/dataset.py:835-880); Catalyst shares the scan + partial-aggregates
    map-side, so this is one shuffle of |groups| rows regardless of input TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register(
    QuerySpec(
        "pricing_summary",
        q_pricing_summary,
        """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity)                                            AS sum_qty,
               SUM(l_extendedprice)                                       AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount))                    AS sum_disc_price,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))      AS sum_charge,
               AVG(l_quantity)                                            AS avg_qty,
               AVG(l_extendedprice)                                       AS avg_price,
               AVG(l_discount)                                            AS avg_disc,
               CAST(COUNT(*) AS BIGINT)                                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        doc="fused multi-aggregate over one scan (dataset.py:835-880)",
    )
)


# ---------------------------------------------------------------------------
# projection + sentinel/enum predicate filters (dataset.py:737,1423-1445)
# ---------------------------------------------------------------------------
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enum filter + projection on the interaction log.

    Reference: `interactions[interactions.interaction_type == 0]` and the
    sentinel filter `recommendation_id >= 0` (Utils/dataset.py:737,1423-1445).
    Both predicates + the 3-column projection push down to the parquet scan.
    """
    ev = events_as_interactions(load_table(spark, sf_dir, "events"))
    return ev.filter(
        (F.col("event_type") == "click") & (F.col("item_id") >= 0)
    ).select("user_id", "item_id", "value")


register(
    QuerySpec(
        "filter_project",
        q_filter_project,
        """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS item_id,
               value
        FROM events
        WHERE event_type = 'click'
          AND CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) >= 0
        """,
        doc="sentinel/enum predicate + projection (dataset.py:737,1423-1445)",
    )
)


# ---------------------------------------------------------------------------
# broadcast join chain (dataset.py:412-417 impression×map join)
# ---------------------------------------------------------------------------
def q_region_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region rollup; both dims broadcast.

    Reference: small-dimension merge at Utils/dataset.py:412-417,464-468 —
    the item↔series map join.  nation/region are tiny → broadcast hash join,
    zero shuffle of the fact side.
    """
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.avg("c_acctbal").alias("avg_acctbal"),
            F.sum("c_acctbal").alias("sum_acctbal"),
        )
    )


register(
    QuerySpec(
        "region_customer_rollup",
        q_region_customer_rollup,
        """
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               AVG(c_acctbal)           AS avg_acctbal,
               SUM(c_acctbal)           AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """,
        doc="broadcast dim-join chain (dataset.py:412-417)",
    )
)


# ---------------------------------------------------------------------------
# fact-fact shuffle join + agg + global top-k (dataset.py:428-433; §2.5)
# ---------------------------------------------------------------------------
def q_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem revenue per order, global top-10.

    Reference: the (user,rec_id)×impression fact join (dataset.py:428-433)
    plus nlargest (dataset.py:1186-1187).  Lowers to shuffle join + hash agg
    + TakeOrderedAndProject (per-partition heaps — the argpartition analog,
    BaseRecommender.py:193-200).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    return top_k_global(
        rev, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10
    )


register(
    QuerySpec(
        "top_orders_by_revenue",
        q_top_orders_by_revenue,
        """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
        """,
        doc="fact join + agg + global top-k (dataset.py:428-433, §2.5)",
    )
)


# ---------------------------------------------------------------------------
# group-count threshold / HAVING (dataset.py:1593-1603)
# ---------------------------------------------------------------------------
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with >= 60 events (threshold filter on group counts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= 60)
    )


register(
    QuerySpec(
        "active_users",
        q_active_users,
        """
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id HAVING COUNT(*) >= 60
        """,
        doc="threshold filter on group counts (dataset.py:1593-1603)",
    )
)


# ---------------------------------------------------------------------------
# count-distinct corpus cardinalities (dataset.py:979-985)
# ---------------------------------------------------------------------------
def q_corpus_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts + global min/max — the metadata.json numbers.

    Reference: `.unique()` over six columns + first/last timestamp
    (dataset.py:976-985).  One wide agg, one scan.
    """
    utc(spark)
    ev = events_as_interactions(load_table(spark, sf_dir, "events"))
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("item_id").alias("n_items"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("max_ts"),
    )


register(
    QuerySpec(
        "corpus_cardinalities",
        q_corpus_cardinalities,
        """
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS n_items,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
               MAX(CAST(ts AS TIMESTAMP)) AS max_ts
        FROM events
        """,
        doc="corpus cardinalities (dataset.py:976-985)",
    )
)


# ---------------------------------------------------------------------------
# keep-last-by-timestamp dedup (DataReader_utils.py:134-150)
# ---------------------------------------------------------------------------
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user most recent event (keep='last' dedup as a window)."""
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return keep_last_by_timestamp(
        ev, ["user_id"], "ts", tiebreak=["event_id"]
    ).select("user_id", "event_id", "ts", "event_type")


register(
    QuerySpec(
        "latest_event_per_user",
        q_latest_event_per_user,
        """
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
        """,
        doc="keep-last-by-ts dedup (DataReader_utils.py:134-150)",
    )
)


# ---------------------------------------------------------------------------
# gini / entropy / herfindahl (gini.py:8-28, metrics.py:472-530)
# ---------------------------------------------------------------------------
def q_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return gini_coefficient(counts, "cnt", out_col="gini")


register(
    QuerySpec(
        "user_activity_gini",
        q_user_activity_gini,
        """
        WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS x FROM events GROUP BY user_id),
             r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC) AS i FROM c)
        SELECT (SUM(2.0 * i * x) - (COUNT(*) + 1) * SUM(x)) / (COUNT(*) * SUM(x)) AS gini
        FROM r
        """,
        doc="Gini of interaction counts (Utils/gini.py:8-28)",
    )
)


def q_event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return shannon_entropy(counts, "cnt", out_col="entropy")


register(
    QuerySpec(
        "event_type_entropy",
        q_event_type_entropy,
        """
        WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM events GROUP BY event_type)
        SELECT LOG2(SUM(cnt)) - SUM(cnt * LOG2(cnt)) / SUM(cnt) AS entropy FROM c
        """,
        doc="Shannon entropy (metrics.py:515-530)",
    )
)


def q_event_type_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return herfindahl_index(counts, "cnt", out_col="herfindahl")


register(
    QuerySpec(
        "event_type_herfindahl",
        q_event_type_herfindahl,
        """
        WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM events GROUP BY event_type)
        SELECT 1.0 - SUM(cnt * cnt) / (SUM(cnt) * SUM(cnt)) AS herfindahl FROM c
        """,
        doc="Herfindahl index (metrics.py:472-479)",
    )
)


# ---------------------------------------------------------------------------
# histogram / binning (dataset.py:1265-1289,2053-2074)
# ---------------------------------------------------------------------------
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width binning of event values (reference frequency plots)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bin", F.floor(F.col("value") / F.lit(10.0)).cast("bigint"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


register(
    QuerySpec(
        "value_histogram",
        q_value_histogram,
        """
        SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
        """,
        doc="fixed-width histogram (dataset.py:1265-1289)",
    )
)


# ---------------------------------------------------------------------------
# cumulative-sum percentile cut (dataset.py:1201-1260)
# ---------------------------------------------------------------------------
def q_users_covering_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many top users cover 50% / 80% of all events.

    Reference: cumulative-share cuts at 20..80% of interactions
    (dataset.py:1201-1260): sort counts desc, prefix-sum window, count rows
    below the cut.  Integer cumsums → engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    # tie decomposition (see functions/stats.gini_coefficient): users in a
    # tie block of count c are interchangeable, and the number of them
    # whose heavier-prefix sum sb + k*c stays under the cut p*T is
    # clamp_0..m(ceil((p*T - sb)/c)) — so the prefix window runs over
    # DISTINCT counts (desc), never a per-row sort.  The ceil is done in
    # exact bigint arithmetic (p = a/b cleared to a*T - b*sb over b*c) so
    # block boundaries can't wobble in float.
    by_c = counts.groupBy("cnt").agg(F.count("*").alias("m"))
    w = Window.orderBy(F.col("cnt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_sb = by_c.withColumn(
        "sb", F.coalesce(F.sum(F.col("cnt") * F.col("m")).over(w), F.lit(0))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    j = with_sb.crossJoin(F.broadcast(total))

    def covered(a: int, b: int):
        # exact bigint ceil((a*T - b*sb) / (b*c)), clamped to [0, m]
        return F.sum(
            F.expr(
                f"greatest(0L, least(cast(m as long), "
                f"({a}L*total - {b}L*sb + {b}L*cnt - 1L) div ({b}L*cnt)))"
            )
        )

    return j.agg(
        covered(1, 2).cast("bigint").alias("users_for_50pct"),
        covered(4, 5).cast("bigint").alias("users_for_80pct"),
    )


register(
    QuerySpec(
        "users_covering_traffic",
        q_users_covering_traffic,
        """
        WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
             r AS (SELECT cnt,
                          SUM(cnt) OVER (ORDER BY cnt DESC, user_id ASC
                                         ROWS UNBOUNDED PRECEDING) AS cum
                   FROM c),
             t AS (SELECT SUM(cnt) AS total FROM c)
        SELECT CAST(SUM(CASE WHEN cum - cnt < 0.5 * total THEN 1 ELSE 0 END) AS BIGINT) AS users_for_50pct,
               CAST(SUM(CASE WHEN cum - cnt < 0.8 * total THEN 1 ELSE 0 END) AS BIGINT) AS users_for_80pct
        FROM r CROSS JOIN t
        """,
        doc="cumulative coverage cut (dataset.py:1201-1260)",
    )
)


# ---------------------------------------------------------------------------
# pivot (dataset.py:2076-2142)
# ---------------------------------------------------------------------------
def q_hourly_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hour-of-day × event_type count matrix (row_position × rec_index analog).

    Expressed as conditional aggregation (not .pivot()) so the output schema
    is static — required for the oracle and for stable streaming/ML
    consumers; same physical plan as pivot (single hash agg).
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    hours = ev.withColumn("hour", F.hour("ts"))
    types = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("bigint")
        .alias(f"n_{t}")
        for t in types
    ]
    return hours.groupBy("hour").agg(*aggs)


register(
    QuerySpec(
        "hourly_event_type_pivot",
        q_hourly_event_type_pivot,
        """
        SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        FROM events GROUP BY 1
        """,
        doc="pivot as conditional agg (dataset.py:2076-2142)",
    )
)


# ---------------------------------------------------------------------------
# anti join / semi join (dataset.py:1999-2015; test_dataset_consistency.py:469-486)
# ---------------------------------------------------------------------------
def q_clickers_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who clicked but never purchased — the residual anti-join.

    Reference: impressions-minus-interactions residual via matrix
    subtraction (dataset.py:1999-2015) → relational left_anti.
    """
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    return clickers.join(purchasers, "user_id", "left_anti")


register(
    QuerySpec(
        "clickers_never_purchased",
        q_clickers_never_purchased,
        """
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'purchase')
        """,
        doc="anti-join residual (dataset.py:1999-2015)",
    )
)


def q_events_of_known_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: event count for users that exist in the customer dim.

    Reference: shared-user referential check
    (test_dataset_consistency.py:469-486) → left_semi join.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(
            cust.select(F.col("c_custkey").alias("user_id")), "user_id", "left_semi"
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


register(
    QuerySpec(
        "events_of_known_customers",
        q_events_of_known_customers,
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events WHERE user_id IN (SELECT c_custkey FROM customer)
        GROUP BY event_type
        """,
        doc="semi-join shared users (test_dataset_consistency.py:469-486)",
    )
)


# ---------------------------------------------------------------------------
# explode / array ops (dataset.py:404-409; §2.2 array ops)
# ---------------------------------------------------------------------------
def q_part_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize p_name and count token frequency — explode-as-UDTF.

    Reference: unnesting recommended_series_list (dataset.py:404-409).
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


register(
    QuerySpec(
        "part_name_tokens",
        q_part_name_tokens,
        """
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT UNNEST(string_split(p_name, ' ')) AS token FROM part)
        WHERE token <> '' GROUP BY token
        """,
        doc="explode array column (dataset.py:404-409)",
    )
)


def q_token_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_position/size over tokenized doc text.

    Reference: position-of-series-in-list row op (dataset.py:1905-1923) and
    declared-vs-actual length check (test_dataset_consistency.py:319-332).
    0 ⇒ absent (mirrors the reference's -1 sentinel, shifted: they use
    np.where → -1; array_position is 1-based with 0 = not found).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn("tokens", F.split(F.col("text"), " "))
    return toks.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.array_position(F.col("tokens"), "spark").cast("bigint").alias("spark_pos"),
    )


register(
    QuerySpec(
        "token_position",
        q_token_position,
        """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(COALESCE(list_position(string_split(text, ' '), 'spark'), 0) AS BIGINT) AS spark_pos
        FROM documents
        """,
        doc="array_position + size (dataset.py:1905-1923)",
    )
)


# ---------------------------------------------------------------------------
# calendar decode + period filter (dataset.py:1481-1571)
# ---------------------------------------------------------------------------
def q_weekday_hour_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar histogram: events by ISO weekday and hour."""
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("isodow", (F.weekday("ts") + F.lit(1)).cast("int"))
        .withColumn("hour", F.hour("ts"))
        .groupBy("isodow", "hour")
        .agg(F.count("*").alias("cnt"))
    )


register(
    QuerySpec(
        "weekday_hour_traffic",
        q_weekday_hour_traffic,
        """
        SELECT CAST(isodow(ts) AS INT) AS isodow,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
        """,
        doc="timestamp decode histogram (dataset.py:1481-1526)",
    )
)


def q_january_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-range filter (dataset.py:1528-1550): one calendar month."""
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
    )


register(
    QuerySpec(
        "january_traffic",
        q_january_traffic,
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt, SUM(value) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        GROUP BY event_type
        """,
        doc="period range filter (dataset.py:1528-1550)",
    )
)


# ---------------------------------------------------------------------------
# per-group window top-k (§2.5 batch top-K ranking)
# ---------------------------------------------------------------------------
def q_top_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-value events per event_type with rank attached."""
    ev = load_table(spark, sf_dir, "events")
    return top_k_per_group(
        ev.select("event_type", "event_id", "value"),
        ["event_type"],
        [F.col("value").desc(), F.col("event_id").asc()],
        3,
        rank_col="rank",
    ).select("event_type", "event_id", "value", F.col("rank").cast("int").alias("rank"))


register(
    QuerySpec(
        "top_events_per_type",
        q_top_events_per_type,
        """
        SELECT event_type, event_id, value, CAST(rank AS INT) AS rank FROM (
            SELECT event_type, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id ASC) AS rank
            FROM events
        ) WHERE rank <= 3
        """,
        doc="per-group top-k window (BaseRecommender.py:175-213)",
    )
)


# ---------------------------------------------------------------------------
# grouped min/max functional-dependency check (test_dataset_consistency.py:196-249)
# ---------------------------------------------------------------------------
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose lineitems disagree on shipdate bounds — grouped min/max.

    Reference shape: FD tests item→series via groupBy(min,max) equality
    (test_dataset_consistency.py:196-249).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
            F.count("*").alias("n_lines"),
        )
        .filter(F.col("min_ship") != F.col("max_ship"))
        .agg(F.count("*").cast("bigint").alias("n_orders_with_spread"))
    )


register(
    QuerySpec(
        "fd_violations",
        q_fd_violations,
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_with_spread FROM (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING MIN(l_shipdate) <> MAX(l_shipdate)
        )
        """,
        doc="grouped min/max FD check (test_dataset_consistency.py:196-249)",
    )
)


# ---------------------------------------------------------------------------
# salted skew-join (scale pattern; operators/skew.py)
# ---------------------------------------------------------------------------
def q_salted_user_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts per customer nation through an explicitly SALTED join.

    The user key is Zipf-hot (SURVEY.md §1); `salted_join` widens the
    physical join key to (user_id, salt) with the nation dim replicated
    per salt, so no shuffle task owns a whole hot key.  Semantics are the
    plain join's — the oracle is the unsalted SQL."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    return (
        salted_join(ev, cust, "user_id", n_salts=8)
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )


register(
    QuerySpec(
        "salted_user_nation_counts",
        q_salted_user_nation_counts,
        """
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_nationkey
        """,
        doc="salted skew-join: identical semantics to the plain join, "
        "physical key widened for Zipf-hot users (operators/skew.py)",
    )
)


# ---------------------------------------------------------------------------
# temporal joins: as-of and bounded range (operators Spark lacks — brief)
# ---------------------------------------------------------------------------
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click attributed to the user's latest view ≤2h before it —
    the point-in-time (as-of backward) join, union-window formulation
    (one key shuffle, no theta-join pair explosion)."""
    from ..operators.asof import asof_join_backward

    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join_backward(
        clicks,
        views,
        on=["user_id"],
        right_payload=["event_id"],
        right_tiebreak="event_id",
        tolerance_seconds=7200.0,
    )
    return j.select(
        "click_id",
        "user_id",
        F.col("event_id_right").alias("view_id"),
        (
            epoch_seconds("ts") - epoch_seconds("ts_right")
        ).alias("gap_sec"),
    )


register(
    QuerySpec(
        "click_attribution",
        q_click_attribution,
        """
        WITH c AS (
            SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click'
        ),
        v AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'view'
        ),
        best AS (
            SELECT c.click_id, v.event_id AS view_id, v.ts AS vts,
                   ROW_NUMBER() OVER (PARTITION BY c.click_id
                       ORDER BY v.ts DESC, v.event_id DESC) AS rn
            FROM c JOIN v
              ON c.user_id = v.user_id
             AND v.ts <= c.ts
             AND epoch(c.ts) - epoch(v.ts) <= 7200.0
        )
        SELECT c.click_id, c.user_id, b.view_id,
               epoch(c.ts) - epoch(b.vts) AS gap_sec
        FROM c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (click_id)
        """,
        doc="as-of backward join: click → latest prior view within "
        "tolerance (no reference analog; pipeline extension)",
    )
)


def q_view_to_click_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 1h AFTER each view, per view — the bounded range
    join, bucketed to an equi-join (≤2 candidate buckets per probe)."""
    from ..operators.asof import range_join_within

    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    j = range_join_within(
        views,
        clicks,
        on=["user_id"],
        lower_seconds=0.0,
        upper_seconds=3600.0,
    )
    return j.groupBy("view_id").agg(
        F.count("*").cast("bigint").alias("n_clicks"),
        F.max(
            epoch_seconds("ts_r") - epoch_seconds("ts")
        ).alias("max_gap_sec"),
    )


register(
    QuerySpec(
        "view_to_click_conversions",
        q_view_to_click_conversions,
        """
        WITH v AS (
            SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click'
        )
        SELECT v.view_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
               MAX(epoch(c.ts) - epoch(v.ts)) AS max_gap_sec
        FROM v JOIN c
          ON v.user_id = c.user_id
         AND epoch(c.ts) - epoch(v.ts) >= 0.0
         AND epoch(c.ts) - epoch(v.ts) <= 3600.0
        GROUP BY v.view_id
        """,
        doc="bounded range join (bucketed equi-join): clicks within 1h "
        "after each view (no reference analog; pipeline extension)",
    )
)


# ---------------------------------------------------------------------------
# SQL-text surface: the same Catalyst pipeline from ANSI SQL
# ---------------------------------------------------------------------------
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority, written as SQL text against
    registered temp views — the SQL layer the reference lacks entirely
    (its 'queries' are hand-fused dataflow programs).  spark.sql and the
    DataFrame API compile to identical logical plans, so this rides the
    same optimizer: both date filters push into the parquet scans and the
    3-way join + agg is planned by Catalyst/AQE like every other query
    here."""
    from ..sources.views import register_views

    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate  > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


register(
    QuerySpec(
        "sql_shipping_priority",
        q_sql_shipping_priority,
        """
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate  > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """,
        doc="SQL-text entry point (TPC-H Q3 shape) through the same "
        "Catalyst pipeline (sources/views.py)",
    )
)


# ---------------------------------------------------------------------------
# grouping-set aggregation breadth: ROLLUP, exact quantiles, ntile
# ---------------------------------------------------------------------------
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (returnflag, linestatus) with ROLLUP subtotals + grand
    total — multi-granularity aggregates in ONE pass over the fact table
    (the scaled analog of the reference computing per-level stats in
    separate dataflows, dataset.py:643-732)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "revenue",
        )
    )


register(
    QuerySpec(
        "revenue_rollup",
        q_revenue_rollup,
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        doc="ROLLUP grouping sets: per-group, subtotal, grand total in one "
        "scan (aggregation-breadth extension)",
    )
)


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p95 of event values per event_type — exact
    `percentile` (continuous interpolation), the distribution summary the
    reference plots as histograms (dataset.py:1265-1289).  At 100 TB the
    approx_percentile sketch (t-digest, mergeable, one pass) replaces
    this; exact is kept here because it is oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


register(
    QuerySpec(
        "value_quantiles",
        q_value_quantiles,
        """
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25,
               quantile_cont(value, 0.5)  AS p50,
               quantile_cont(value, 0.75) AS p75,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
        """,
        doc="exact continuous quantiles per group (histogram analog, "
        "dataset.py:1265-1289; approx_percentile is the 100 TB path)",
    )
)


def q_user_activity_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed into activity deciles (ntile semantics) with
    per-decile event totals — the reference's cumulative-percentile
    traffic cut (dataset.py:1201-1260) as rank bucketing.

    Scale path: `ntile(10) OVER (ORDER BY ...)` is an EMPTY-FRAME global
    window — every user funnels through one task.  Instead the global rank
    comes from the two-phase distributed ranker (operators/neardup.
    distributed_ordered_ids; parallel range-partitioned sort + offsets) on
    a composite (activity desc, user asc) key, and the exact ntile bucket
    (first n%10 buckets one element larger) is a closed-form expression
    over (rank, n) — identical output, no single-task sort."""
    from ..operators.neardup import distributed_ordered_ids

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    mx = counts.agg(F.max("cnt")).first()[0] or 0
    # (cnt desc, user_id asc) as one ascending bigint key; user_id < 2^31
    keyed = counts.withColumn(
        "_key",
        (F.lit(int(mx)) - F.col("cnt")) * F.lit(2**31) + F.col("user_id"),
    )
    ranked = distributed_ordered_ids(keyed, "_key", out_col="_rank")
    n_df = counts.agg(F.count("*").cast("bigint").alias("_n"))
    q = F.col("_n") - (F.col("_n") / 10).cast("bigint") * 10  # n % 10 = r
    big = (F.col("_n") / 10).cast("bigint") + 1  # q+1
    decile = F.when(
        F.col("_rank") <= q * big, ((F.col("_rank") - 1) / big).cast("bigint") + 1
    ).otherwise(
        q
        + ((F.col("_rank") - q * big - 1) / ((F.col("_n") / 10).cast("bigint")))
        .cast("bigint")
        + 1
    )
    return (
        ranked.crossJoin(F.broadcast(n_df))
        .withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("cnt").cast("bigint").alias("n_events"),
        )
    )


register(
    QuerySpec(
        "user_activity_deciles",
        q_user_activity_deciles,
        """
        WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        d AS (
            SELECT cnt, NTILE(10) OVER (ORDER BY cnt DESC, user_id ASC) AS decile
            FROM c
        )
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(cnt) AS BIGINT) AS n_events
        FROM d GROUP BY 1
        """,
        doc="ntile decile bucketing of user activity "
        "(cumsum-percentile-cut analog, dataset.py:1201-1260)",
    )
)


# ---------------------------------------------------------------------------
# sketch aggregates: the one-pass mergeable 100 TB path
# ---------------------------------------------------------------------------
def q_sketch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts and t-digest percentiles in ONE pass —
    the mergeable-sketch replacements for exact countDistinct / percentile
    at corpus scale (constant state per partition, partial-aggregable, no
    sort).  No SQL oracle: sketch estimates are implementation-defined
    (DuckDB's HLL differs), so the driver records the rows-only check; the
    pytest suite bounds the estimates against the exact values instead
    (±5% rsd for HLL, t-digest within the p25–p95 envelope)."""
    ev = load_table(spark, sf_dir, "events")
    # scalar p50/p95 columns (not one array column) so downstream
    # canonicalizers that sort rows by value can hash the result
    return ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("approx_events"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_value_p50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("approx_value_p95"),
    )


register(
    QuerySpec(
        "sketch_summary",
        q_sketch_summary,
        None,
        doc="HLL++ + t-digest sketches (one-pass mergeable aggregates; "
        "estimates bounded vs exact in tests/test_properties.py). "
        "Rows-only is STRUCTURAL, not deferred work: the registers live "
        "inside Spark's HyperLogLogPlusPlus/ApproximatePercentile "
        "aggregation buffers (xxhash64-based, interpolation-order "
        "dependent) and no other engine reproduces them — the oracled "
        "twins of this family are the portable register-level sketches "
        "hll_distinct_sketch / hll_register_rollup / "
        "countmin_heavy_hitters / logbin_value_quantiles",
        bench=True,
    )
)


def q_logbin_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable QUANTILE sketch — the engine-reproducible counterpart of
    ``sketch_summary``'s t-digest, completing the oracled sketch family
    (portable HLL and Count-Min already exist).

    Design: integer log-boundary histogram, the DDSketch idea (Masson et
    al., VLDB'19) with EXACT integer bucketing instead of float
    ``log_gamma`` (whose last-ulp differences would flip boundary rows
    between engines): value → integer cents, bucket = the leading FOUR
    bits of cents (shift = max(bitlength−4, 0), lo = (cents>>s)<<s,
    width = 1<<s) — 8 sub-ranges per octave, relative error ≤ 1/8, and
    every boundary an exact int64 in any engine.  Quantile estimate =
    linear interpolation inside the bracketing bucket from the
    cumulative counts, at target rank q·N (the inverse-CDF convention:
    the rank-⌈q·N⌉ order statistic provably shares the estimate's
    bucket, which is what the ≤1/8 bound is stated against — see
    tests/test_properties.py).

    100 TB shape: the state is ≤ 16·8 buckets per octave per group —
    constant-size, partial-aggregable map-side, mergeable across any
    partitioning (counts add), no sort of the data ever happens; the
    window runs over the tiny bucket table.  Reference analog:
    Base/Evaluation metrics' percentile reporting; the sketch is the
    scale path the exact ``value_quantiles`` (sort-based) cannot be.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # the python shiftleft/shiftright wrappers take only literal shift
    # amounts — the SQL forms accept a column
    sb = ev.withColumn(
        "s",
        F.greatest(
            F.length(F.bin(F.col("cents"))) - F.lit(4), F.lit(0)
        ).cast("int"),
    )
    lo = F.expr("shiftleft(shiftright(cents, s), s)")
    hi = F.expr(
        "shiftleft(shiftright(cents, s), s)"
        " + shiftleft(cast(1 as bigint), s)"
    )
    bk = sb.groupBy(
        "event_type", lo.alias("lo"), hi.alias("hi")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    wnd = Window.partitionBy("event_type").orderBy("lo")
    cum = bk.withColumn("cum", F.sum("cnt").over(wnd))
    tot = bk.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_events")
    )
    # attach the 3 probe quantiles by per-row explode — cheaper than any
    # join form and keeps the registry's cartesian-free lint trivially
    j = cum.join(tot, "event_type").withColumn(
        "q",
        F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))),
    )
    target = F.col("q") * F.col("n_events")
    est = F.col("lo") + (F.col("hi") - F.col("lo")) * (
        target - (F.col("cum") - F.col("cnt"))
    ) / F.col("cnt")
    picked = j.filter(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
    )
    return (
        picked.groupBy("event_type", "n_events")
        .agg(
            F.round(
                F.max(F.when(F.col("q") == 0.5, est)) / 100.0, 6
            ).alias("p50_est"),
            F.round(
                F.max(F.when(F.col("q") == 0.95, est)) / 100.0, 6
            ).alias("p95_est"),
            F.round(
                F.max(F.when(F.col("q") == 0.99, est)) / 100.0, 6
            ).alias("p99_est"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "logbin_value_quantiles",
        q_logbin_value_quantiles,
        """
        WITH c AS (
            SELECT event_type,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        sb AS (
            SELECT event_type, cents,
                   GREATEST(LENGTH(BIN(cents)) - 4, 0) AS s
            FROM c
        ),
        bk AS (
            SELECT event_type,
                   (cents >> s) << s AS lo,
                   ((cents >> s) << s) + (CAST(1 AS BIGINT) << s) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM sb GROUP BY 1, 2, 3
        ),
        cum AS (
            SELECT *,
                   CAST(SUM(cnt) OVER (
                       PARTITION BY event_type ORDER BY lo
                   ) AS BIGINT) AS cum
            FROM bk
        ),
        tot AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_events
            FROM bk GROUP BY 1
        ),
        qs AS (SELECT UNNEST([0.5, 0.95, 0.99]) AS q),
        picked AS (
            SELECT c.event_type, t.n_events, q.q,
                   c.lo + (c.hi - c.lo)
                       * (q.q * t.n_events - (c.cum - c.cnt)) / c.cnt
                       AS est
            FROM cum c JOIN tot t USING (event_type) CROSS JOIN qs q
            WHERE c.cum >= q.q * t.n_events
              AND (c.cum - c.cnt) < q.q * t.n_events
        )
        SELECT event_type, n_events,
               ROUND(MAX(CASE WHEN q = 0.5 THEN est END) / 100.0, 6)
                   AS p50_est,
               ROUND(MAX(CASE WHEN q = 0.95 THEN est END) / 100.0, 6)
                   AS p95_est,
               ROUND(MAX(CASE WHEN q = 0.99 THEN est END) / 100.0, 6)
                   AS p99_est
        FROM picked GROUP BY 1, 2 ORDER BY 1
        """,
        doc="portable integer-log-bucket quantile sketch (DDSketch idea "
        "with exact int64 boundaries): p50/p95/p99 estimates "
        "reproducible bit-for-bit cross-engine; constant mergeable "
        "state, no data sort — the oracled t-digest counterpart",
    )
)


#: portable-HLL constants: three multiply-mod rounds interleaved with
#: xor-shifts (multiply-mod alone leaves sequential ids on a lattice whose
#: payload bits overestimate 2x; the xor-shift avalanche brings sequential,
#: strided and offset id streams within ~1σ of exact up to ~15k distinct —
#: measured in tests/test_properties.py), 64 registers (b=6, standard
#: error 1.04/√64 ≈ 13%).  Mirrored verbatim into the SQL twin; every op
#: (mod-prime multiply, XOR, shift) is exact in both engines and products
#: stay under 2^51, inside DuckDB's checked int64.
_HLL_A1 = 1_000_003
_HLL_A2 = 1_000_033
_HLL_P = 1_000_000_007
_HLL_M = 64
#: register payload = the hash's LOW 20 bits (a power-of-two slice — the
#: h // m payload of the textbook layout spans [0, P/64) whose non-dyadic
#: top skews the leading-zero geometry by +7%), register = next 6 bits
#: mod m; rho = 21 - bitlength(w); both engines get bitlength from
#: LENGTH(BIN(w)) (neither pads leading zeros).
_HLL_WBITS = 20
_HLL_RHO_MAX = _HLL_WBITS + 1
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _hll_reg_rho(key):
    """(register, rho) columns of the portable-HLL hash of ``key`` —
    shared by the sketch query and the register-rollup query (layout
    documented at the constants block above)."""
    h1 = F.pmod(key.cast("bigint") * _HLL_A1, F.lit(_HLL_P))
    h1x = h1.bitwiseXOR(F.shiftright(h1, 13))
    h2 = F.pmod(h1x * _HLL_A2, F.lit(_HLL_P))
    h2x = h2.bitwiseXOR(F.shiftright(h2, 7))
    h3 = F.pmod(h2x * _HLL_A1, F.lit(_HLL_P))
    w = F.pmod(h3, F.lit(1 << _HLL_WBITS))
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    reg = F.pmod(F.shiftright(h3, _HLL_WBITS), F.lit(_HLL_M))
    return reg, rho


def _hll_estimate(mj: DataFrame, keys: list[str]) -> DataFrame:
    """Small-range-corrected HLL estimate from a (``*keys``, reg, mj)
    register table — every register term an exact power of two, so the
    sum is order-independent (see q_hll_distinct_sketch)."""
    agg = mj.groupBy(*keys).agg(
        F.sum(
            F.lit(1.0)
            / F.expr("cast(shiftleft(cast(1 as bigint), mj) as double)")
        ).alias("sum_present"),
        F.count("*").alias("n_present"),
    )
    e_raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / (
        F.col("sum_present") + (F.lit(_HLL_M) - F.col("n_present"))
    )
    zero = (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    corrected = F.when(
        (e_raw <= 2.5 * _HLL_M) & (zero > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zero),
    ).otherwise(e_raw)
    return agg.select(
        *keys, F.round(corrected, 6).alias("hll_distinct_users")
    )


def q_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog: per-event-type distinct-user estimates whose
    VALUE is engine-reproducible, next to the exact counts.

    ``sketch_summary`` demos the built-in HLL++/t-digest (rows-only: the
    estimates are implementation-defined).  This query implements the
    Flajolet-Durand-style register sketch from first principles with the
    engine's portable hash, so the estimate itself is a deterministic
    function of the data and a DuckDB twin reproduces it bit-for-bit:

    * payload w = the hash's LOW ``_HLL_WBITS`` (20) bits, register =
      the NEXT 6 bits mod m, rho = ``_HLL_RHO_MAX`` (21) − bitlength(w)
      (LENGTH(BIN(w)) — exact integer ops, no log floats; see the
      constants block above for why the dyadic slice beats h // m);
    * register term 1/2^Mj via integer shift + division — every term an
      exact power of two, so the 64-term sum is EXACT in any addition
      order (partial sums need ≤ 31 mantissa bits);
    * small-range correction m·ln(m/V) when E ≤ 2.5m and V > 0, output
      rounded to 6 decimals (the one sub-ulp-sensitive op).

    This is the true 100 TB shape the built-in shares: max-per-register
    partial-aggregates map-side, only m rows per group ever shuffle, and
    registers merge across any partitioning.  Duplicates never need a
    distinct shuffle — max() absorbs them.
    """
    ev = load_table(spark, sf_dir, "events")
    reg, rho = _hll_reg_rho(F.col("user_id"))
    regs = ev.select("event_type", reg.alias("reg"), rho.alias("rho"))
    mj = regs.groupBy("event_type", "reg").agg(F.max("rho").alias("mj"))
    agg = mj.groupBy("event_type").agg(
        F.sum(
            F.lit(1.0)
            / F.expr("cast(shiftleft(cast(1 as bigint), mj) as double)")
        ).alias("sum_present"),
        F.count("*").alias("n_present"),
    )
    est = agg.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("n_present")).cast("int").alias("zero_registers"),
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (F.col("sum_present") + (F.lit(_HLL_M) - F.col("n_present")))
        ).alias("e_raw"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct_users")
    )
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("zero_registers") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zero_registers")),
    ).otherwise(F.col("e_raw"))
    return est.join(exact, "event_type").select(
        "event_type",
        "zero_registers",
        F.round(corrected, 6).alias("hll_distinct_users"),
        "exact_distinct_users",
    )


register(
    QuerySpec(
        "hll_distinct_sketch",
        q_hll_distinct_sketch,
        f"""
        WITH h1 AS (
            SELECT event_type,
                   CAST(user_id AS BIGINT) * {_HLL_A1} % {_HLL_P} AS h1
            FROM events
        ),
        h2 AS (
            SELECT event_type,
                   xor(h1, h1 >> 13) * {_HLL_A2} % {_HLL_P} AS h2
            FROM h1
        ),
        h AS (
            SELECT event_type,
                   xor(h2, h2 >> 7) * {_HLL_A1} % {_HLL_P} AS h3
            FROM h2
        ),
        regs AS (
            SELECT event_type, (h3 >> {_HLL_WBITS}) % {_HLL_M} AS reg,
                   CASE WHEN h3 % {1 << _HLL_WBITS} = 0 THEN {_HLL_RHO_MAX}
                        ELSE {_HLL_RHO_MAX}
                             - LENGTH(BIN(h3 % {1 << _HLL_WBITS}))
                   END AS rho
            FROM h
        ),
        mj AS (
            SELECT event_type, reg, MAX(rho) AS mj FROM regs GROUP BY 1, 2
        ),
        agg AS (
            SELECT event_type,
                   SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS sum_present,
                   COUNT(*) AS n_present
            FROM mj GROUP BY 1
        ),
        est AS (
            SELECT event_type,
                   CAST({_HLL_M} - n_present AS INT) AS zero_registers,
                   {_HLL_ALPHA * _HLL_M * _HLL_M!r}
                       / (sum_present + ({_HLL_M} - n_present)) AS e_raw
            FROM agg
        ),
        ex AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT)
                       AS exact_distinct_users
            FROM events GROUP BY 1
        )
        SELECT e.event_type, e.zero_registers,
               ROUND(CASE WHEN e.e_raw <= {2.5 * _HLL_M!r}
                               AND e.zero_registers > 0
                          THEN {float(_HLL_M)!r}
                               * LN({float(_HLL_M)!r} / e.zero_registers)
                          ELSE e.e_raw END, 6) AS hll_distinct_users,
               ex.exact_distinct_users
        FROM est e JOIN ex USING (event_type)
        """,
        doc="portable HyperLogLog distinct sketch: estimate reproducible "
        "bit-for-bit cross-engine (integer register arithmetic, exact "
        "power-of-two sums) — the oracled counterpart of sketch_summary",
    )
)


#: Count-Min constants: d=3 hash rows × w=1024 buckets.  Each row's bucket
#: hash is the 2-round multiply-mod + xor-shift mix (same avalanche
#: rationale as the portable HLL above) with a row-specific prime pair.
_CM_W = 1024
_CM_PAIRS = [(1_000_003, 1_000_033), (1_000_033, 7_919), (7_919, 1_000_003)]


def _cm_bucket_col(key, a1: int, a2: int, width: int = _CM_W):
    h1 = F.pmod(key.cast("bigint") * a1, F.lit(_HLL_P))
    h1x = h1.bitwiseXOR(F.shiftright(h1, 13))
    h2 = F.pmod(h1x * a2, F.lit(_HLL_P))
    h2x = h2.bitwiseXOR(F.shiftright(h2, 7))
    return F.pmod(h2x, F.lit(width))


def _cm_bucket_sql(key: str, a1: int, a2: int, width: int = _CM_W) -> str:
    h1 = f"(CAST({key} AS BIGINT) * {a1} % {_HLL_P})"
    h1x = f"xor({h1}, {h1} >> 13)"
    h2 = f"({h1x} * {a2} % {_HLL_P})"
    h2x = f"xor({h2}, {h2} >> 7)"
    return f"({h2x} % {width})"


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a portable Count-Min sketch: users whose
    CM-estimated event count clears 1.2× the mean, with the exact count
    alongside.  Because CM only ever OVER-estimates (collisions add,
    never subtract), recall is exact by construction — every true heavy
    hitter appears; the sketch trades a few near-threshold false
    positives for never touching per-key state.

    The mergeable-counter shape at 100 TB: the d×w counter table
    (``len(_CM_PAIRS)`` × ``_CM_W`` = 3×1024 rows) partial-aggregates
    map-side and merges by addition
    across any partitioning; probing broadcast-joins the tiny sketch
    back to the candidate keys, so the only data-scale shuffle is the
    candidate key list itself.  Every hash is the engine's portable mix,
    so the DuckDB twin reproduces estimates exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id")
    buckets = F.array(
        *[_cm_bucket_col(uid, a1, a2) for a1, a2 in _CM_PAIRS]
    )
    sketch = (
        ev.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    users = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("exact_count")
    )
    probes = users.select(
        "user_id", "exact_count", F.posexplode(buckets).alias("j", "bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").cast("bigint").alias("cm_estimate"))
    )
    totals = ev.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return (
        est.crossJoin(F.broadcast(totals))
        .filter(
            F.col("cm_estimate")
            >= 1.2 * F.col("n_total") / F.col("n_users")
        )
        .select("user_id", "cm_estimate", "exact_count")
    )


register(
    QuerySpec(
        "countmin_heavy_hitters",
        q_countmin_heavy_hitters,
        f"""
        WITH b AS (
            {" UNION ALL ".join(
                f"SELECT user_id, {j} AS j, "
                f"{_cm_bucket_sql('user_id', a1, a2)} AS bucket FROM events"
                for j, (a1, a2) in enumerate(_CM_PAIRS)
            )}
        ),
        sk AS (SELECT j, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        ex AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM events GROUP BY 1
        ),
        pb AS (SELECT DISTINCT user_id, j, bucket FROM b),
        est AS (
            SELECT p.user_id, CAST(MIN(sk.c) AS BIGINT) AS cm_estimate
            FROM pb p JOIN sk USING (j, bucket) GROUP BY 1
        ),
        tot AS (
            SELECT COUNT(*) AS n_total, COUNT(DISTINCT user_id) AS n_users
            FROM events
        )
        SELECT e.user_id, e.cm_estimate, x.exact_count
        FROM est e JOIN ex x USING (user_id), tot
        WHERE e.cm_estimate >= 1.2 * n_total / n_users
        """,
        doc="Count-Min heavy hitters: overestimate-only portable sketch "
        "(d=3×w=1024 mergeable counters, broadcast probe) — exact recall "
        "of true heavy hitters by construction",
    )
)


# ---------------------------------------------------------------------------
# time-range window frame (trailing-window rollup; SURVEY.md §2.4 window aggs)
# ---------------------------------------------------------------------------
def q_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order trailing 7-day revenue/count per customer via a RANGE
    window frame — the time-series rolling aggregate the reference
    expresses as a pandas ``rolling`` (dataset statistics notebooks) and
    a training pipeline needs for per-entity trailing features.

    Scale shape: ONE shuffle on the partition key, then each frame is
    evaluated by Catalyst's streaming WindowExec with a sliding frame
    pointer — O(n) per partition, no self-join, no pair explosion (the
    naive `o2.date BETWEEN o1.date - 7d AND o1.date` formulation is a
    range self-join that explodes quadratically per active customer).
    The frame orders by epoch seconds because Spark's ``rangeBetween``
    needs a numeric ordering column; DuckDB's INTERVAL frame over the
    raw timestamp is the same inclusive-boundary semantics.
    """
    utc(spark)
    o = load_table(spark, sf_dir, "orders")
    # r17 (§2.2): pin the window's one exchange to a DATA-derived width
    # (~32k rows/task from the parquet footer, no extra job) instead of
    # the session shuffle default — this row ran FASTER on 8 cores than
    # 32 in the r16 driver scaling block (0.54 ratio): at test scale the
    # default's 32+ post-AQE tasks are pure scheduling overhead for a
    # 150k-row frame, while at 100 TB the same rule yields thousands of
    # partitions.  The explicit repartition satisfies the window's
    # required distribution, so the exchange COUNT is unchanged.
    from ..sizing import width_for_rows
    from ..sources.tables import table_rows

    width = width_for_rows(table_rows(sf_dir, "orders"))
    if width is not None:
        o = o.repartition(width, "o_custkey")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_seconds("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("o_orderdate"),
        F.sum("o_totalprice").over(w).alias("rev_7d"),
        F.count("*").over(w).cast("bigint").alias("orders_7d"),
    )


register(
    QuerySpec(
        "rolling_7d_revenue",
        q_rolling_7d_revenue,
        """
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               SUM(o_totalprice) OVER w AS rev_7d,
               CAST(COUNT(*) OVER w AS BIGINT) AS orders_7d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        """,
        doc="trailing 7-day per-customer rollup via RANGE window frame "
        "(one shuffle, streaming frame evaluation — no range self-join)",
    )
)


#: Bloom-filter prejoin constants: k=3 hash rows (reusing the CM prime
#: pairs) × m=4096 bit positions.  3 hashes over 4096 bits holds the
#: false-positive rate ≈ (k·n/m)³ low for selective dims while keeping the
#: SET-BITS relation tiny (≤ 3·4096 rows) and trivially broadcastable.
_BLOOM_M = 4096


def q_bloom_prejoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning: build a portable Bloom filter over a
    selective dimension (customers with c_acctbal > 9000), probe every
    order's o_custkey against it, and report the pruning quality —
    candidates, true members, false positives, and missed members (0 by
    construction: Bloom filters have no false negatives).

    This is runtime-filter / sideways-information-passing pushdown made
    explicit (the optimization engines apply to cut shuffle volume before
    a fact⋈dim join): at 100 TB the fact side is filtered map-side by a
    broadcast O(k·m)-row bit-set BEFORE the shuffle, so the exact join
    only pays for candidates.  The filter is represented as its set-bit
    relation (j, pos) rather than a packed bitmap so an external SQL
    engine reproduces it bit-for-bit with the same multiply-mod hashes.
    """
    utc(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000
    )
    orders = load_table(spark, sf_dir, "orders")

    def positions(key):
        return F.posexplode(
            F.array(
                *[
                    _cm_bucket_col(key, a1, a2, _BLOOM_M)
                    for a1, a2 in _CM_PAIRS
                ]
            )
        )

    bloom = (
        cust.select(positions(F.col("c_custkey")).alias("j", "pos"))
        .distinct()
    )
    probes = orders.select(
        "o_orderkey", positions(F.col("o_custkey")).alias("j", "pos")
    )
    candidates = (
        probes.join(F.broadcast(bloom), ["j", "pos"])
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("k_hits"))
        .filter(F.col("k_hits") == len(_CM_PAIRS))
        .select("o_orderkey", F.lit(1).alias("is_cand"))
    )
    members = cust.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("is_member")
    ).distinct()
    flagged = (
        orders.select("o_orderkey", "o_custkey")
        .join(candidates, "o_orderkey", "left")
        .join(F.broadcast(members), "o_custkey", "left")
    )
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.coalesce("is_cand", F.lit(0))).cast("bigint").alias(
            "n_candidates"
        ),
        F.sum(F.coalesce("is_member", F.lit(0))).cast("bigint").alias(
            "n_true_members"
        ),
        F.sum(
            F.coalesce("is_cand", F.lit(0))
            * (1 - F.coalesce("is_member", F.lit(0)))
        )
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum(
            F.coalesce("is_member", F.lit(0))
            * (1 - F.coalesce("is_cand", F.lit(0)))
        )
        .cast("bigint")
        .alias("n_missed"),
    )


register(
    QuerySpec(
        "bloom_prejoin_stats",
        q_bloom_prejoin_stats,
        f"""
        WITH dim AS (
            SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000
        ),
        bloom AS (
            SELECT DISTINCT j, pos FROM (
                {" UNION ALL ".join(
                    f"SELECT {j} AS j, "
                    f"{_cm_bucket_sql('c_custkey', a1, a2, _BLOOM_M)} AS pos "
                    "FROM dim"
                    for j, (a1, a2) in enumerate(_CM_PAIRS)
                )}
            )
        ),
        probe AS (
            {" UNION ALL ".join(
                f"SELECT o_orderkey, {j} AS j, "
                f"{_cm_bucket_sql('o_custkey', a1, a2, _BLOOM_M)} AS pos "
                "FROM orders"
                for j, (a1, a2) in enumerate(_CM_PAIRS)
            )}
        ),
        cand AS (
            SELECT o_orderkey, 1 AS is_cand
            FROM probe JOIN bloom USING (j, pos)
            GROUP BY o_orderkey HAVING COUNT(*) = {len(_CM_PAIRS)}
        ),
        flagged AS (
            SELECT o.o_orderkey,
                   COALESCE(c.is_cand, 0) AS is_cand,
                   CASE WHEN d.c_custkey IS NULL THEN 0 ELSE 1 END AS is_member
            FROM orders o
            LEFT JOIN cand c USING (o_orderkey)
            LEFT JOIN dim d ON o.o_custkey = d.c_custkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
               CAST(SUM(is_member) AS BIGINT) AS n_true_members,
               CAST(SUM(is_cand * (1 - is_member)) AS BIGINT)
                   AS n_false_positives,
               CAST(SUM(is_member * (1 - is_cand)) AS BIGINT) AS n_missed
        FROM flagged
        """,
        doc="Bloom-filter semi-join pruning (k=3 x m=4096 portable "
        "set-bit relation, broadcast probe): runtime-filter pushdown with "
        "exact no-false-negative guarantee surfaced as n_missed = 0",
    )
)


# ---------------------------------------------------------------------------
# hierarchical aggregation (ROLLUP grouping sets; SURVEY.md §2.4 two-level aggs
# generalized to the multi-level form OLAP reports need)
# ---------------------------------------------------------------------------
def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/revenue at three grouping levels in ONE pass —
    (status, priority), (status), and grand total — via ROLLUP grouping
    sets, with ``grouping_id`` disambiguating rolled-up NULLs from data
    NULLs.

    Scale shape: Catalyst plans this as Expand (3 rows per input row,
    one per grouping set) → partial HashAggregate → ONE shuffle of
    |groups| rows → final HashAggregate.  The multi-query alternative
    (3 separate groupBys + union) scans the fact 3×; the Expand form
    scans once and still map-side combines each set.
    """
    utc(spark)
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
        F.grouping_id().cast("bigint").alias("gid"),
    )


register(
    QuerySpec(
        "order_priority_rollup",
        q_order_priority_rollup,
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(o_totalprice) AS revenue,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        doc="ROLLUP grouping sets: 3 aggregation levels in one Expand + "
        "single shuffle (vs 3x scan for separate groupBys)",
    )
)


# ---------------------------------------------------------------------------
# multi-way star join (6 tables; SURVEY.md §2.3 joins at their widest —
# the Catalyst join-reordering / broadcast-chain showcase)
# ---------------------------------------------------------------------------
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from orders where the customer and the line's supplier sit
    in the same ASIA nation, by nation — the TPC-H Q5 shape: two fact
    tables and four dimensions in one 6-way join.

    Scale shape: region→nation→supplier is a broadcast dimension CHAIN
    (each step stays under the broadcast threshold), and the selective
    region + order-year predicates are pushed into the scans, so the
    only data-scale work is the lineitem⋈orders equi-shuffle; Catalyst
    + AQE pick the join order and flip sides at runtime.  The same-nation
    condition (c_nationkey = s_nationkey) rides the supplier join as an
    extra equi-key instead of a post-join filter, so mismatched rows
    never materialize.
    """
    utc(spark)
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    dims = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            # no broadcast hint: customer grows with SF (unlike the nation/
            # region chain), so the custkey equi-join is left to Catalyst —
            # AQE broadcasts it at small SF and shuffles it at 100 TB
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(dims),
            (lineitem.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


register(
    QuerySpec(
        "local_supplier_volume",
        q_local_supplier_volume,
        """
        SELECT n_name,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        """,
        doc="TPC-H Q5-shaped 6-way star join: broadcast dimension chain + "
        "one fact-fact shuffle; selective predicates pushed to scans",
    )
)


# ---------------------------------------------------------------------------
# outer join + zero-group distribution (TPC-H Q13 shape): how many
# customers placed 0, 1, 2, ... urgent orders — the left-join shape whose
# whole point is keeping the unmatched (count = 0) groups
# ---------------------------------------------------------------------------
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer URGENT-order counts, zero bucket included.

    Scale shape: orders is pre-aggregated to one row per custkey BEFORE
    the outer join, so the join input shrinks from |orders| to
    |active custkeys| — the classic aggregate-below-outer-join rewrite
    TPC-H Q13 rewards.  The left join is an equi-shuffle on custkey (both
    sides grow with SF; AQE may still broadcast the pre-agg at small SF),
    and the final distribution aggregate is |distinct counts| rows.
    """
    utc(spark)
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


register(
    QuerySpec(
        "customer_order_distribution",
        q_customer_order_distribution,
        """
        WITH per_cust AS (
            SELECT o_custkey, COUNT(*) AS n
            FROM orders WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_custkey
        )
        SELECT CAST(COALESCE(n, 0) AS BIGINT) AS c_count,
               CAST(COUNT(*) AS BIGINT) AS custdist
        FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
        GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
        """,
        doc="TPC-H Q13-shaped outer join + count distribution with the "
        "aggregate pushed below the join (zero-order customers kept)",
    )
)


# ---------------------------------------------------------------------------
# correlated scalar subquery, decorrelated (TPC-H Q17 shape): revenue
# from small-quantity lineitems of one brand, where "small" is relative
# to each part's own average order quantity
# ---------------------------------------------------------------------------
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if sub-half-average-quantity orders of
    Brand#13 parts stopped shipping — TPC-H Q17's correlated scalar
    subquery (`l_quantity < 0.5 * avg over same part`).

    Scale shape: the correlation is decorrelated into a WINDOW average
    partitioned by partkey over the brand-filtered fact slice — ONE
    shuffle on partkey, no self-join and no re-scan of lineitem (the
    naive decorrelation joins lineitem to an aggregated copy of itself,
    scanning the fact twice).  The brand filter rides a broadcast join
    with `part` and prunes before the shuffle.
    """
    utc(spark)
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    return (
        branded.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").cast("bigint").alias("n_small_lines"),
        )
    )


register(
    QuerySpec(
        "small_quantity_revenue",
        q_small_quantity_revenue,
        """
        WITH branded AS (
            SELECT l_partkey, l_quantity, l_extendedprice,
                   AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13'
        )
        SELECT SUM(l_extendedprice) / 7.0 AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_small_lines
        FROM branded WHERE l_quantity < 0.5 * avg_qty
        """,
        doc="TPC-H Q17-shaped correlated scalar subquery decorrelated into "
        "a per-part window average (one shuffle, fact scanned once)",
    )
)


# ---------------------------------------------------------------------------
# HAVING-subquery semi-join (TPC-H Q18 shape): large-volume orders —
# orders whose total quantity clears a threshold, with customer detail
# ---------------------------------------------------------------------------
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 largest-volume orders (Σ quantity > 250) with customer names.

    Scale shape: the HAVING aggregate runs FIRST (one shuffle on
    orderkey, map-side partial sums), shrinking the fact to the few
    qualifying orders before any dimension joins; orders/customer then
    attach by equi-join (AQE broadcasts the tiny qualifying set).  The
    final top-20 is a TakeOrderedAndProject — no global sort
    materialization.
    """
    utc(spark)
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(20)
    )


register(
    QuerySpec(
        "large_volume_orders",
        q_large_volume_orders,
        """
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum_qty
        FROM big JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 20
        """,
        doc="TPC-H Q18-shaped HAVING semi-join: aggregate-first shrink, "
        "then dimension joins and TakeOrderedAndProject top-20",
    )
)


# ---------------------------------------------------------------------------
# anti-join + global-average scalar threshold (TPC-H Q22 shape):
# above-average-balance customers with no recent orders, by nation
# ---------------------------------------------------------------------------
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count + total balance of customers whose balance beats
    the global positive-balance average and who placed NO order since
    2000-01-01 — TPC-H Q22's NOT EXISTS + scalar-subquery pattern.

    Scale shape: the global average is a 1-row broadcast scalar
    attachment (pinned in the plan lint); the NOT EXISTS is a left-anti
    equi-join against orders pre-filtered (and pre-projected to custkey
    only) by the pushed-down date predicate.  Both fact-side shuffles
    key on custkey; the final aggregate is |nations| rows.
    """
    utc(spark)
    customer = load_table(spark, sf_dir, "customer")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


register(
    QuerySpec(
        "dormant_rich_customers",
        q_dormant_rich_customers,
        """
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               SUM(c_acctbal) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """,
        doc="TPC-H Q22-shaped anti-join + global-average scalar threshold "
        "(left-anti equi-join, date predicate pushed to the orders scan)",
    )
)


# ---------------------------------------------------------------------------
# nested semi-join with aggregate threshold (TPC-H Q20 shape): suppliers
# who shipped an above-average volume of red parts in 1998
# ---------------------------------------------------------------------------
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose 1998 shipped quantity of 'red *' parts beats the
    average across shipping suppliers, with their nation — the TPC-H Q20
    nested-subquery shape (semi-join driven by an aggregate threshold).

    Scale shape: part is name-filtered and broadcast into the
    date-pruned lineitem scan, the per-supplier sum is one shuffle on
    suppkey, the threshold is a 1-row broadcast scalar (lint-pinned),
    and supplier/nation attach by broadcast-chain equi-joins — the fact
    is scanned once and nothing bigger than |suppliers| survives it.
    """
    utc(spark)
    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    # both the threshold and the main branch consume this ≤|suppliers|-row
    # aggregate; persisting it keeps the fact slice to ONE scan — routed
    # through the session payload registry so release_session_payloads
    # reclaims the blocks instead of leaving them to LRU eviction
    shipped = materialized(
        spark,
        sf_dir,
        "excess_stock_shipped",
        lambda: li.join(
            F.broadcast(red.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("shipped_qty")),
    )
    thresh = shipped.agg(F.avg("shipped_qty").alias("avg_qty"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        shipped.crossJoin(F.broadcast(thresh))
        .filter(F.col("shipped_qty") > F.col("avg_qty"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .select("s_name", "n_name", "shipped_qty")
        .orderBy("s_name")
    )


register(
    QuerySpec(
        "excess_stock_suppliers",
        q_excess_stock_suppliers,
        """
        WITH shipped AS (
            SELECT l_suppkey, SUM(l_quantity) AS shipped_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate <  TIMESTAMP '1999-01-01'
            GROUP BY l_suppkey
        )
        SELECT s_name, n_name, shipped_qty
        FROM shipped
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE shipped_qty > (SELECT AVG(shipped_qty) FROM shipped)
        ORDER BY s_name
        """,
        doc="TPC-H Q20-shaped nested semi-join: aggregate threshold over a "
        "broadcast-pruned fact slice, supplier/nation broadcast chain",
    )
)


# ---------------------------------------------------------------------------
# the co-order part graph: shared payload for the graph-shaped queries
# (BFS hops, Adamic-Adar link prediction)
# ---------------------------------------------------------------------------
def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edge list of "parts that appeared in the same
    order", built with ONE shuffle (groupBy orderkey → collect_set, pair
    expansion map-side via nested explode bounded by lines-per-order²,
    then distinct) and persisted through the session payload registry so
    every graph query probes it without re-shuffling."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    def build_edges() -> DataFrame:
        grp = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        half = (
            grp.select(F.explode("ps").alias("src"), "ps")
            .select("src", F.explode("ps").alias("dst"))
            .filter(F.col("src") < F.col("dst"))
            .distinct()
        )
        return half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    return materialized(spark, sf_dir, "co_order_edges", build_edges)


#: shared DuckDB CTE text for the co-order edge list (kept in lockstep
#: with _co_order_edges)
_CO_ORDER_EDGES_CTE = """
        half AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS (
            SELECT src, dst FROM half
            UNION ALL SELECT dst AS src, src AS dst FROM half
        )
"""


# ---------------------------------------------------------------------------
# iterative frontier BFS (graph traversal as bounded join iteration):
# hop distance from the smallest part in the co-order graph
# ---------------------------------------------------------------------------
def q_part_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance (≤ 4) from the smallest co-ordered part to every
    part reachable through the "appeared in the same order" graph.

    Scale shape — level-synchronous BFS as bounded join iteration:

    * the edge list is built once — ONE shuffle (groupBy orderkey →
      collect_set, vs the self-join's two shuffle writes of the same
      scan), pair expansion map-side via nested explode bounded by
      lines-per-order², then distinct — and persisted through the
      session payload registry, so the multi-million-row edge side is
      never re-shuffled (the round-9 plan re-exchanged it every level:
      4 full-edge shuffles, 8.5 s at sf0.1);
    * each level = one size-gated BROADCAST join frontier⋈edges (the
      frontier is the active node set — part ids, counted exactly after
      its cache materializes — so while it stays under the gate the edge
      side is probed in place, map-side, with zero movement), then a
      frontier-sized distinct and an anti-join against the visited set
      so re-reached nodes never re-expand; a frontier that outgrows the
      gate falls back to an equi-join against a once-repartitioned edge
      copy, where only the frontier moves — the hop-unbounded regime
      belongs to operators/dedup.py:connected_components
      (large-star/small-star);
    * per-level frontiers persist via the same registry (each is read by
      the next level's expansion, the anti-join chain, and the final
      union), so release_session_payloads reclaims every block;
    * with exact visited pruning every node lands in exactly one level,
      so the final min-hop groupBy is a cheap invariant that keeps the
      output contract identical to the recursive-CTE oracle.
    """
    utc(spark)
    bcast_max = 5_000_000  # ~40 MB of bigint node ids per executor
    edges = _co_order_edges(spark, sf_dir)
    frontier = materialized(
        spark,
        sf_dir,
        "bfs_frontier_0",
        lambda: edges.agg(F.min("src").alias("node")),
    )
    n_frontier = n_visited = frontier.count()  # materializes the cache
    levels = [frontier.withColumn("hop", F.lit(0))]
    visited = frontier
    for h in range(1, 5):
        if n_frontier <= bcast_max:
            probe, edge_side = F.broadcast(frontier), edges
        else:
            probe = frontier
            edge_side = materialized(
                spark,
                sf_dir,
                "bfs_edges_by_src",
                lambda: edges.repartition("src"),
            )
        expanded = probe.join(
            edge_side, frontier.node == edge_side.src
        ).select(F.col("dst").alias("node"))
        seen = F.broadcast(visited) if n_visited <= bcast_max else visited
        frontier = materialized(
            spark,
            sf_dir,
            f"bfs_frontier_{h}",
            lambda e=expanded, s=seen: e.distinct().join(
                s, "node", "left_anti"
            ),
        )
        n_frontier = frontier.count()
        if n_frontier == 0:  # traversal exhausted before the hop bound
            break
        n_visited += n_frontier
        levels.append(frontier.withColumn("hop", F.lit(h)))
        visited = visited.unionAll(frontier)
    reached = levels[0]
    for lv in levels[1:]:
        reached = reached.unionAll(lv)
    return (
        reached.groupBy("node")
        .agg(F.min("hop").cast("int").alias("hop"))
        .select(F.col("node").alias("part_id"), "hop")
        .orderBy("part_id")
    )


register(
    QuerySpec(
        "part_bfs_hops",
        q_part_bfs_hops,
        """
        WITH RECURSIVE half AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS (
            SELECT src, dst FROM half
            UNION ALL SELECT dst AS src, src AS dst FROM half
        ),
        bfs(node, hop) AS (
            SELECT MIN(src), 0 FROM e
            UNION
            SELECT e.dst, bfs.hop + 1
            FROM bfs JOIN e ON bfs.node = e.src
            WHERE bfs.hop < 4
        )
        SELECT node AS part_id, CAST(MIN(hop) AS INT) AS hop
        FROM bfs GROUP BY node ORDER BY part_id
        """,
        doc="level-synchronous BFS (hop ≤ 4) over the co-order part graph: "
        "bounded join iteration vs a recursive-CTE oracle",
    )
)


# ---------------------------------------------------------------------------
# SCD2 interval construction (run-length change compression): each user's
# event-type state history as [valid_from, valid_to) validity intervals
# ---------------------------------------------------------------------------
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history of each user's event-type
    state: consecutive same-type events compress into one validity
    interval, closed by the next state change (the conventional
    2100-01-01 high date while current — a sentinel rather than NULL so
    interval-containment predicates need no null branch).

    Scale shape: both window passes (lag to mark changes, lead to close
    intervals) partition on user_id — ONE shuffle keyed on user, no
    self-join, and every partition is a single user's modest event run.
    The run-length compression happens BEFORE lead(), so the second pass
    sees only change rows.  This is the standard warehouse MERGE/SCD2
    build expressed as pure windows.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    by_ts = Window.partitionBy("user_id").orderBy("ts")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(by_ts))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .drop("prev_type")
    )
    closed = changes.withColumn(
        "valid_to",
        F.coalesce(
            F.lead("ts").over(by_ts),
            F.lit("2100-01-01 00:00:00").cast("timestamp"),
        ),
    )
    return closed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        "valid_to",
    ).orderBy("user_id", "valid_from")


register(
    QuerySpec(
        "user_state_history",
        q_user_state_history,
        """
        WITH changes AS (
            SELECT user_id, ts, event_type
            FROM (
                SELECT user_id, ts, event_type,
                       LAG(event_type) OVER w AS prev_type
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type AS state, ts AS valid_from,
               COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                        TIMESTAMP '2100-01-01 00:00:00') AS valid_to
        FROM changes
        ORDER BY user_id, valid_from
        """,
        doc="SCD2 validity-interval construction: run-length state "
        "compression + lead() interval close, one user-keyed shuffle",
    )
)


# ---------------------------------------------------------------------------
# time-series gap fill + forward fill (regular-grid resample): each user's
# daily value series completed to a dense calendar with last-observation-
# carried-forward — the standard feature-store densification step
# ---------------------------------------------------------------------------
def q_daily_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily value series: missing days between a user's
    first and last active day are materialized and forward-filled with
    the last observed daily total (is_gap marks carried rows).

    Scale shape: the sparse daily aggregate is one (user, day) shuffle;
    the calendar grid is a per-user sequence() explode (narrow — |days in
    span| rows per user, no cross join against a calendar dimension); the
    fill is last(ignorenulls) over a user-keyed running frame — Spark's
    ignore-nulls window is a single forward scan per partition, NOT a
    self-join back to the latest preceding observation.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("v"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    run = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        # timestamp, not date: Spark dates surface as python objects in
        # Arrow/pandas while DuckDB dates become datetime64 — a dtype
        # mismatch at the comparison layer even when values agree
        F.col("day").cast("timestamp").alias("day"),
        F.last("v", ignorenulls=True).over(run).alias("value_filled"),
        F.col("v").isNull().alias("is_gap"),
    ).orderBy("user_id", "day")


register(
    QuerySpec(
        "daily_value_gapfill",
        q_daily_value_gapfill,
        """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day, SUM(value) AS v
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        span AS (
            SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY user_id
        ),
        grid AS (
            SELECT user_id, CAST(UNNEST(generate_series(
                CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                INTERVAL 1 DAY)) AS DATE) AS day
            FROM span
        )
        SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
               LAST_VALUE(d.v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS UNBOUNDED PRECEDING
               ) AS value_filled,
               d.v IS NULL AS is_gap
        FROM grid g LEFT JOIN daily d
          ON g.user_id = d.user_id AND g.day = d.day
        ORDER BY g.user_id, g.day
        """,
        doc="dense daily resample + forward fill: sequence() calendar "
        "explode, one (user, day) join, single ignore-nulls window scan",
    )
)


# ---------------------------------------------------------------------------
# CDC / MERGE apply (upsert + delete tombstones): final table state after
# replaying the event log as change-data-capture operations
# ---------------------------------------------------------------------------
def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-user state after applying the event log as a CDC stream:
    'error' events are DELETE tombstones, everything else an UPSERT of
    (state, value); a user survives iff their latest operation (by ts,
    event_id tiebreak) is not a delete — the MERGE INTO outcome.

    Scale shape: MERGE is usually written as a full-outer join of
    snapshot×changes; replay-from-log needs no join at all — ONE
    user-keyed shuffle into a keep-last window, then the tombstone
    filter.  At 100 TB the window partitions are single users (bounded),
    and the op classification is a codegen'd CASE, not a UDF.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("value").alias("state_value"),
            F.col("ts").alias("updated_at"),
        )
        .orderBy("user_id")
    )


register(
    QuerySpec(
        "cdc_final_state",
        q_cdc_final_state,
        """
        SELECT user_id, event_type AS state, value AS state_value,
               ts AS updated_at
        FROM (
            SELECT user_id, event_type, value, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id
        """,
        doc="CDC/MERGE apply with delete tombstones: join-free keep-last "
        "window + tombstone filter (the full-outer-join MERGE rewritten "
        "for log replay)",
    )
)


# ---------------------------------------------------------------------------
# exact weighted median per group (cumulative-weight crossing): the
# order-statistic aggregate SQL lacks natively, as one window pass
# ---------------------------------------------------------------------------
def q_nation_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median line price per supplier nation: the
    smallest price whose cumulative quantity reaches half the nation's
    total — the weighted-median definition, computed distributed.

    Scale shape: ONE shuffle keys everything on (nation): the running
    quantity is a cumulative window ordered by (price, orderkey,
    linenumber) — a total order, so the crossing row is unique — and the
    per-nation total rides the same partition as a window aggregate (no
    second shuffle, no scalar-subquery join).  The crossing filter and
    the final min() are narrow.  This is the two-pass-free formulation:
    sort-once per group, no all-pairs rank join, no driver collect.
    """
    utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    priced = li.join(
        F.broadcast(
            supplier.join(
                F.broadcast(nation),
                supplier.s_nationkey == nation.n_nationkey,
            ).select("s_suppkey", "n_name")
        ),
        li.l_suppkey == F.col("s_suppkey"),
    )
    run = (
        Window.partitionBy("n_name")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    whole = Window.partitionBy("n_name")
    crossed = (
        priced.withColumn("cum_qty", F.sum("l_quantity").over(run))
        .withColumn("tot_qty", F.sum("l_quantity").over(whole))
        .filter(F.col("cum_qty") * 2 >= F.col("tot_qty"))
    )
    return (
        crossed.groupBy("n_name")
        .agg(
            F.min("l_extendedprice").alias("weighted_median_price"),
            F.min("tot_qty").alias("total_qty"),
        )
        .orderBy("n_name")
    )


register(
    QuerySpec(
        "nation_weighted_median_price",
        q_nation_weighted_median_price,
        """
        WITH priced AS (
            SELECT n_name, l_extendedprice, l_quantity,
                   l_orderkey, l_linenumber
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        ),
        crossed AS (
            SELECT n_name, l_extendedprice,
                   SUM(l_quantity) OVER (
                       PARTITION BY n_name
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum_qty,
                   SUM(l_quantity) OVER (PARTITION BY n_name) AS tot_qty
            FROM priced
        )
        SELECT n_name,
               MIN(l_extendedprice) AS weighted_median_price,
               MIN(tot_qty) AS total_qty
        FROM crossed
        WHERE cum_qty * 2 >= tot_qty
        GROUP BY n_name
        ORDER BY n_name
        """,
        doc="exact weighted median per group: cumulative-weight crossing "
        "in one nation-keyed shuffle (running + whole-partition windows "
        "share the sort), no rank self-join",
    )
)


# ---------------------------------------------------------------------------
# multi-EXISTS / NOT-EXISTS anti-join chain (TPC-H Q21 shape): suppliers
# who were the ONLY supplier with returned lines in a multi-supplier order
# ---------------------------------------------------------------------------
def q_lone_returner_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by the number of multi-supplier orders where they
    were the SOLE supplier with a returned line — the TPC-H Q21 shape
    (correlated EXISTS + NOT EXISTS against the same fact), with the
    return flag standing in for the receipt-after-commit predicate the
    harness schema doesn't carry.

    Scale shape: both correlated subqueries decorrelate into ONE
    per-order aggregate — n_supp = COUNT(DISTINCT suppkey) (the EXISTS:
    some other supplier touched the order), n_ret_supp = COUNT(DISTINCT
    suppkey) FILTER (returned) (the NOT EXISTS: nobody else returned ⟺
    exactly one returning supplier), and when n_ret_supp = 1 that sole
    supplier IS max(suppkey) FILTER (returned), so even the credited-
    supplier join-back disappears: the fact is scanned ONCE, shuffled
    once on orderkey, and the naive plan's two correlated re-scans per
    outer row never happen.  The qualifying orders then reduce on
    suppkey (second shuffle, ≤|suppliers| groups) and supplier names
    ride a broadcast.  The final TakeOrderedAndProject orders by
    (numwait DESC, s_name) — a total order, so the LIMIT cut is
    engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    ret_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(ret_supp).alias("n_ret_supp"),
        F.max(ret_supp).alias("l_suppkey"),
    )
    credited = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1)
    ).select("l_suppkey")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        credited.groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


register(
    QuerySpec(
        "lone_returner_suppliers",
        q_lone_returner_suppliers,
        """
        WITH rl AS (
            SELECT DISTINCT l_orderkey, l_suppkey
            FROM lineitem WHERE l_returnflag = 'R'
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM rl l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """,
        doc="TPC-H Q21-shaped EXISTS + NOT-EXISTS chain, decorrelated to "
        "one per-order aggregate (sole returning supplier in "
        "multi-supplier orders)",
    )
)


# ---------------------------------------------------------------------------
# NOT-IN anti-join + grouped COUNT DISTINCT (TPC-H Q16 shape)
# ---------------------------------------------------------------------------
def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier counts per (brand, type, size) for selected part
    sizes, excluding suppliers in deficit — the TPC-H Q16 shape (NOT IN
    subquery over a supplier blacklist + grouped COUNT DISTINCT).

    Scale shape: the blacklist (suppliers with negative balance) is a
    dimension-sized broadcast LEFT ANTI join applied to the fact BEFORE
    anything else (NOT IN with a non-nullable key is exactly an
    anti-join — no null-semantics trap here, and Catalyst can't be
    tripped into a nested-loop NAAJ); the size-filtered part dimension
    broadcasts too, so the only shuffle is the COUNT DISTINCT's
    two-phase aggregate on (brand, type, size, suppkey) — partial
    map-side, |groups|x|suppliers| bounded.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(1, 9, 19, 29, 39, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


register(
    QuerySpec(
        "part_supplier_counts",
        q_part_supplier_counts,
        """
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size IN (1, 9, 19, 29, 39, 49)
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        doc="TPC-H Q16-shaped NOT-IN blacklist anti-join + grouped "
        "COUNT DISTINCT",
    )
)


# ---------------------------------------------------------------------------
# disjunctive multi-attribute join predicate (TPC-H Q19 shape)
# ---------------------------------------------------------------------------
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three OR'd (brand x size-range x quantity-range)
    clauses — the TPC-H Q19 shape: a disjunction that mixes join-side
    attributes (brand, size) with fact attributes (quantity), which
    defeats naive pushdown.

    Scale shape: the join itself stays a plain broadcast equi-join on
    partkey with the disjunction evaluated as a residual filter —
    Catalyst pushes the DERIVABLE conjuncts down each side (quantity
    BETWEEN min-of-mins AND max-of-maxes onto the fact scan, the brand
    IN-list + size bound onto the part scan), so the scans shrink even
    though no single clause is separable.  One fact scan, one broadcast,
    one 1-row aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    clause = (
        ((brand == "Brand#2") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#17") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#25") & size.between(20, 50) & qty.between(20, 50))
    )
    return j.filter(clause).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count("*").cast("bigint").alias("n_lines"),
    )


register(
    QuerySpec(
        "disjunctive_brand_revenue",
        q_disjunctive_brand_revenue,
        """
        SELECT SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
        """,
        doc="TPC-H Q19-shaped disjunctive mixed-side predicate over a "
        "broadcast join",
    )
)


# ---------------------------------------------------------------------------
# co-order pair counts: shared payload for link prediction + market-basket
# ---------------------------------------------------------------------------
def _co_order_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, w): unordered part pairs and the number of orders containing
    both — ONE shuffle (groupBy orderkey → collect_set), pair expansion
    map-side, one pair-count aggregate.  Session-materialized: the
    Adamic-Adar and association-rule queries consume the same table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    def build() -> DataFrame:
        grp = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        return (
            grp.select(F.explode("ps").alias("u"), "ps")
            .select("u", F.explode("ps").alias("v"))
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").cast("bigint").alias("w"))
        )

    return materialized(spark, sf_dir, "co_order_pair_counts", build)


_PAIR_CTE = """
        b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        p AS (
            SELECT a.l_partkey AS u, c.l_partkey AS v,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM b a JOIN b c
              ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
            GROUP BY 1, 2
        )
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the repeat-co-order graph
# ---------------------------------------------------------------------------
def q_part_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 NOT-YET-CO-ORDERED part pairs by Adamic-Adar score over the
    repeat-co-order graph (edges = pairs co-ordered >= 2 times):
    AA(u,v) = SUM over common neighbors w of 1/ln(deg(w)) — the classic
    link-prediction index (Adamic & Adar 2003).

    Scale shape: the support-2 prune IS the scale control — the raw
    co-order graph is uniformly dense (median degree ~115 at sf0.1, 298M
    wedges), while repeat co-orders form the sparse signal graph (~3.6k
    edges, ~10k wedges at sf0.1), so wedge enumeration Σ deg² is bounded
    by the same threshold that makes the prediction meaningful.  Wedges
    are one equi-join of the symmetric edge list with itself on the
    middle vertex; middle degrees ride a broadcast (|V| rows); existing
    edges are removed with a left-anti join; deg(middle) >= 2 for any
    wedge so ln never hits zero.  The LIMIT orders by (rounded score
    DESC, u, v) — a total order, engine-stable.
    """
    pairs2 = _co_order_pair_counts(spark, sf_dir).filter(F.col("w") >= 2)
    sym = pairs2.select("u", "v").unionAll(
        pairs2.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("mid")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    e1 = sym.select(F.col("u").alias("mid"), F.col("v").alias("nu"))
    e2 = sym.select(F.col("u").alias("mid"), F.col("v").alias("nv"))
    wed = (
        e1.join(e2, "mid")
        .filter(F.col("nu") < F.col("nv"))
        .join(F.broadcast(deg), "mid")
    )
    cand = (
        wed.groupBy("nu", "nv")
        .agg(
            F.round(F.sum(1.0 / F.log(F.col("d"))), 9).alias("aa_score"),
            F.count("*").cast("bigint").alias("common_nbrs"),
        )
        .join(
            pairs2.select(
                F.col("u").alias("nu"), F.col("v").alias("nv")
            ),
            ["nu", "nv"],
            "left_anti",
        )
    )
    return (
        cand.select(
            F.col("nu").alias("part_u"),
            F.col("nv").alias("part_v"),
            "aa_score",
            "common_nbrs",
        )
        .orderBy(F.col("aa_score").desc(), "part_u", "part_v")
        .limit(50)
    )


register(
    QuerySpec(
        "part_adamic_adar",
        q_part_adamic_adar,
        f"""
        WITH {_PAIR_CTE},
        p2 AS (SELECT u, v FROM p WHERE w >= 2),
        e AS (SELECT u AS mid, v AS nbr FROM p2
              UNION ALL SELECT v AS mid, u AS nbr FROM p2),
        deg AS (SELECT mid, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        wed AS (
            SELECT e1.nbr AS nu, e2.nbr AS nv, e1.mid
            FROM e e1 JOIN e e2
              ON e1.mid = e2.mid AND e1.nbr < e2.nbr
        ),
        cand AS (
            SELECT w.nu, w.nv,
                   ROUND(SUM(1.0 / LN(d)), 9) AS aa_score,
                   CAST(COUNT(*) AS BIGINT) AS common_nbrs
            FROM wed w JOIN deg USING (mid)
            GROUP BY 1, 2
        )
        SELECT nu AS part_u, nv AS part_v, aa_score, common_nbrs
        FROM cand
        WHERE NOT EXISTS
              (SELECT 1 FROM p2 WHERE p2.u = cand.nu AND p2.v = cand.nv)
        ORDER BY aa_score DESC, part_u, part_v
        LIMIT 50
        """,
        doc="Adamic-Adar link prediction over the support-2 co-order "
        "graph (Adamic & Adar 2003); wedge join + broadcast degrees",
    )
)


# ---------------------------------------------------------------------------
# market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------
def q_order_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 directed association rules A -> B over per-order part
    baskets, by lift: support = P(A,B), confidence = P(B|A), lift =
    confidence / P(B) — the Agrawal-Srikant market-basket statistics,
    min pair support 2 orders.

    Scale shape: baskets never leave the executors — pair counts come
    from the shared one-shuffle collect_set payload (bounded by
    basket-size², baskets are O(lines-per-order)); per-item order counts
    and the global order count are dimension-sized broadcasts attached
    to the pair table; every ratio is a single IEEE division of exact
    int64 counts rounded to 9 places, so the DuckDB twin reproduces the
    LIMIT cut bit-for-bit.  (The frequent-ITEMSET generalization beyond
    pairs is the iterative a-priori loop — same pruned-expansion shape
    per level.)
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item_cnt = li.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    pairs2 = _co_order_pair_counts(spark, sf_dir).filter(F.col("w") >= 2)
    directed = pairs2.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "w"
    ).unionAll(
        pairs2.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "w"
        )
    )
    scored = (
        directed.join(
            F.broadcast(
                item_cnt.select(
                    F.col("l_partkey").alias("antecedent"),
                    F.col("cnt").alias("cnt_a"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_cnt.select(
                    F.col("l_partkey").alias("consequent"),
                    F.col("cnt").alias("cnt_b"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("w").alias("pair_cnt"),
            F.round(F.col("w") / F.col("n_orders"), 9).alias("support"),
            F.round(F.col("w") / F.col("cnt_a"), 9).alias("confidence"),
            F.round(
                (F.col("w") * F.col("n_orders"))
                / (F.col("cnt_a") * F.col("cnt_b")),
                9,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(25)


register(
    QuerySpec(
        "order_association_rules",
        q_order_association_rules,
        f"""
        WITH {_PAIR_CTE},
        n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM b),
        ic AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM b GROUP BY 1),
        d AS (
            SELECT u AS antecedent, v AS consequent, w FROM p WHERE w >= 2
            UNION ALL
            SELECT v AS antecedent, u AS consequent, w FROM p WHERE w >= 2
        )
        SELECT antecedent, consequent, w AS pair_cnt,
               ROUND(CAST(w AS DOUBLE) / n_orders, 9) AS support,
               ROUND(CAST(w AS DOUBLE) / a.cnt, 9) AS confidence,
               ROUND(CAST(w * n_orders AS DOUBLE) / (a.cnt * c.cnt), 9)
                   AS lift
        FROM d
        JOIN ic a ON a.l_partkey = d.antecedent
        JOIN ic c ON c.l_partkey = d.consequent
        CROSS JOIN n
        ORDER BY lift DESC, antecedent, consequent
        LIMIT 25
        """,
        doc="market-basket association rules (support/confidence/lift, "
        "Agrawal-Srikant) over per-order baskets; min pair support 2",
    )
)


# ---------------------------------------------------------------------------
# point-in-time (effective-dated dimension) join, lowered to a window
# ---------------------------------------------------------------------------
def q_purchase_state_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined to the user's state AS OF the purchase
    instant, where "state" is the SCD2 history built from the user's
    non-purchase events — the warehouse point-in-time join (fact ⋈
    effective-dated dimension on key + containment interval).

    Scale shape: the interval-containment join is LOWERED TO A WINDOW —
    state rows and probe rows union into one relation tagged by role,
    and last(state, ignorenulls) over (user, ts, tag) assigns every
    probe its in-effect state in ONE user-keyed shuffle with no join at
    all (the same as-of lowering click_attribution uses).  The naive
    formulation — the SQL twin — is a range join whose worst case is
    |facts|×|dim versions| per user; the window form is linear in the
    union and never re-buffers.  Probes before any state row drop
    (inner-join semantics), matching the twin's containment predicate.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    states = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.col("event_type").alias("state"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(0).alias("tag"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("state"),
        "event_id",
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = states.unionByName(probes).withColumn(
        "state_at", F.last("state", ignorenulls=True).over(w)
    )
    return (
        tagged.filter((F.col("tag") == 1) & F.col("state_at").isNotNull())
        .select(
            "event_id", "user_id", F.col("state_at").alias("state")
        )
        .orderBy("event_id")
    )


register(
    QuerySpec(
        "purchase_state_pit_join",
        q_purchase_state_pit_join,
        """
        WITH np AS (
            SELECT user_id, ts, event_type FROM events
            WHERE event_type <> 'purchase'
        ),
        changes AS (
            SELECT user_id, ts, event_type FROM (
                SELECT user_id, ts, event_type,
                       LAG(event_type) OVER w AS prev_type
                FROM np WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ) WHERE prev_type IS NULL OR event_type <> prev_type
        ),
        scd AS (
            SELECT user_id, event_type AS state, ts AS valid_from,
                   COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                            TIMESTAMP '2100-01-01 00:00:00') AS valid_to
            FROM changes
        )
        SELECT e.event_id, e.user_id, s.state
        FROM events e JOIN scd s
          ON e.user_id = s.user_id
         AND e.ts >= s.valid_from AND e.ts < s.valid_to
        WHERE e.event_type = 'purchase'
        ORDER BY event_id
        """,
        doc="point-in-time SCD2 dimension join lowered to one tagged-union "
        "window pass (no join); twin is the naive interval-containment "
        "range join",
    )
)


# ---------------------------------------------------------------------------
# sequential pattern detection over per-user event journeys
# ---------------------------------------------------------------------------
def q_user_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event JOURNEY string (one initial per event, time order)
    and whether it contains the view→click→purchase funnel subsequence —
    MATCH_RECOGNIZE-lite sequential pattern detection as pure relational
    ops.

    Scale shape: one user-keyed aggregation; the journey is built
    executor-side with array_sort over (ts, event_id) structs →
    transform → concat (all codegen, no UDF), so pattern matching is a
    regex over a per-user string whose length is the user's event count
    — never a self-join of the event log against itself (the classic
    funnel-query trap).  Per-user skew is bounded by the same per-user
    event cap every sessionization query in this registry relies on; a
    true MATCH_RECOGNIZE engine would stream the same partition order.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    journey = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.concat_ws(
                "",
                F.transform(
                    F.col("evs"),
                    lambda s: F.substring(s["event_type"], 1, 1),
                ),
            ).alias("journey"),
        )
    )
    return journey.select(
        "user_id",
        "journey",
        F.length("journey").cast("bigint").alias("n_events"),
        F.col("journey").rlike("v.*c.*p").alias("converted"),
    ).orderBy("user_id")


register(
    QuerySpec(
        "user_journey_patterns",
        q_user_journey_patterns,
        """
        SELECT user_id,
               journey,
               CAST(LENGTH(journey) AS BIGINT) AS n_events,
               regexp_matches(journey, 'v.*c.*p') AS converted
        FROM (
            SELECT user_id,
                   STRING_AGG(SUBSTR(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS journey
            FROM events GROUP BY user_id
        )
        ORDER BY user_id
        """,
        doc="sequential funnel-pattern detection over per-user journey "
        "strings (MATCH_RECOGNIZE-lite; codegen array ops, no UDF, no "
        "event-log self-join)",
    )
)


# ---------------------------------------------------------------------------
# synchronous label propagation (community detection), 3 unrolled rounds
# ---------------------------------------------------------------------------
def q_part_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels after 3 rounds of SYNCHRONOUS label propagation
    (Raghavan et al. 2007) over the repeat-co-order part graph: init
    label = own id; each round every node adopts its neighbors' modal
    label, ties broken by smallest label — fully deterministic, so the
    DuckDB twin unrolls the same 3 rounds and matches bit-for-bit.

    Scale shape: one round = one equi-join of the symmetric edge list
    with the |V|-row label table + a (node, label) count + a per-node
    argmax window — all shuffles keyed on node id, Σ deg rows per round
    (the support-2 prune keeps the graph sparse); rounds chain through
    session-materialized label tables so each is computed once.  The
    asynchronous/convergence variant is the iterative driver loop
    (operators/dedup.py:connected_components shows the same pattern
    with a convergence test); a FIXED round count is what makes this
    instance oracle-checkable.
    """
    pairs2 = _co_order_pair_counts(spark, sf_dir).filter(F.col("w") >= 2)
    sym = pairs2.select("u", "v").unionAll(
        pairs2.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = materialized(
        spark,
        sf_dir,
        "lpa_labels_0",
        lambda: sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
    )
    rank_w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for r in (1, 2, 3):
        labels = materialized(
            spark,
            sf_dir,
            f"lpa_labels_{r}",
            lambda prev=labels: sym.join(
                prev.select(
                    F.col("node").alias("v"), "label"
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rk", F.row_number().over(rank_w))
            .filter(F.col("rk") == 1)
            .select("node", "label"),
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return (
        labels.join(F.broadcast(sizes), "label")
        .select(
            F.col("node").alias("part_id"),
            F.col("label").alias("community"),
            "community_size",
        )
        .orderBy("part_id")
    )


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
        {cur} AS (
            SELECT node, label FROM (
                SELECT e.u AS node, l.label,
                       COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (PARTITION BY e.u
                           ORDER BY COUNT(*) DESC, l.label ASC) AS rk
                FROM e JOIN {prev} l ON l.node = e.v
                GROUP BY e.u, l.label
            ) WHERE rk = 1
        )"""


register(
    QuerySpec(
        "part_label_propagation",
        q_part_label_propagation,
        f"""
        WITH {_PAIR_CTE},
        p2 AS (SELECT u, v FROM p WHERE w >= 2),
        e AS (SELECT u, v FROM p2 UNION ALL SELECT v AS u, u AS v FROM p2),
        l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
        {_lpa_round_sql('l0', 'l1')},
        {_lpa_round_sql('l1', 'l2')},
        {_lpa_round_sql('l2', 'l3')},
        sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
                  FROM l3 GROUP BY 1)
        SELECT node AS part_id, l3.label AS community, community_size
        FROM l3 JOIN sizes ON l3.label = sizes.label
        ORDER BY part_id
        """,
        doc="synchronous label propagation, 3 unrolled rounds with "
        "min-label tie-break (Raghavan et al. 2007); per-round equi-join "
        "+ modal-label window, exact twin",
    )
)


# ---------------------------------------------------------------------------
# entity-resolution candidate generation: blocking key + edit-distance verify
# ---------------------------------------------------------------------------
def q_part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part NAMES: block on the head noun (last token),
    pair distinct names within a block, keep pairs with Levenshtein
    distance ≤ 2 — the classic record-linkage shape (blocking-key
    candidate generation, then an exact verify on the survivors; Fellegi
    & Sunter framing, MinHash/SimHash are this registry's set-similarity
    analogs).

    Scale shape: linkage runs at the NAME level, not the row level —
    names dedup to a (name, n_parts) table first, so the quadratic
    candidate step is |distinct names per block|², never |rows|²
    (name-level pairs then re-expand to row pairs only if a consumer
    asks).  The block self-join is an equi-join on the blocking key;
    Levenshtein is evaluated engine-side (identical plain-edit-distance
    semantics in Spark and DuckDB).  A skewed block would bound by the
    same stop-key cap the shingle joins use.
    """
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .withColumn(
            "block", F.element_at(F.split(F.col("p_name"), " "), -1)
        )
    )
    a = names.select(
        "block",
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        "block",
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .select("name_a", "name_b", "n_parts_a", "n_parts_b", "edit_dist")
        .orderBy("name_a", "name_b")
    )


register(
    QuerySpec(
        "part_name_linkage",
        q_part_name_linkage,
        """
        WITH names AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
                   regexp_extract(p_name, '([^ ]+)$', 1) AS block
            FROM part GROUP BY 1
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
        FROM names a JOIN names b
          ON a.block = b.block AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY name_a, name_b
        """,
        doc="record-linkage candidate generation: head-noun blocking key "
        "+ Levenshtein<=2 verify at the distinct-name level",
    )
)


# ---------------------------------------------------------------------------
# linear multi-touch attribution (range join -> bucketed equi-join)
# ---------------------------------------------------------------------------
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase's value split EQUALLY across the same user's view
    events in the preceding hour (linear multi-touch attribution — the
    marketing-analytics counterpart of last-touch `click_attribution`),
    aggregated back to per-view credited revenue.

    Scale shape: the event-time range join lowers to the same
    epoch-bucketed EQUI-join `view_to_click_conversions` pinned (each
    purchase probes ≤2 hour-buckets of the same user, so matching is
    one shuffle on (user, bucket) with no inequality-join fallback);
    per-purchase touch counts come from ONE window over the matched
    pairs (no second join against the pair table), and the final
    per-view rollup is a key-bounded aggregation.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        "user_id",
        F.col("ts").alias("buy_ts"),
        F.col("value").alias("buy_value"),
    )
    hour = 3600
    vb = views.withColumn(
        "bucket", F.floor(epoch_seconds(F.col("view_ts")) / hour)
    )
    # each purchase probes its own bucket and the previous one
    pb = buys.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(epoch_seconds(F.col("buy_ts")) / hour) - 1,
                F.floor(epoch_seconds(F.col("buy_ts")) / hour),
            )
        ),
    )
    pairs = vb.join(pb, ["user_id", "bucket"]).filter(
        (F.col("view_ts") < F.col("buy_ts"))
        & (
            epoch_seconds(F.col("buy_ts")) - epoch_seconds(F.col("view_ts"))
            <= hour
        )
    )
    w_buy = Window.partitionBy("buy_id")
    credited = pairs.withColumn(
        "n_touches", F.count("*").over(w_buy)
    ).withColumn("credit", F.col("buy_value") / F.col("n_touches"))
    return (
        credited.groupBy("view_id")
        .agg(
            F.round(F.sum("credit"), 6).alias("credited_value"),
            F.count("*").cast("bigint").alias("n_purchases_touched"),
        )
        .orderBy("view_id")
    )


register(
    QuerySpec(
        "multi_touch_attribution",
        q_multi_touch_attribution,
        """
        WITH pairs AS (
            SELECT v.event_id AS view_id, b.event_id AS buy_id,
                   b.value AS buy_value
            FROM events v JOIN events b
              ON v.user_id = b.user_id
             AND v.ts < b.ts
             AND epoch(b.ts) - epoch(v.ts) <= 3600
            WHERE v.event_type = 'view' AND b.event_type = 'purchase'
        ),
        counted AS (
            SELECT view_id, buy_value,
                   COUNT(*) OVER (PARTITION BY buy_id) AS n_touches
            FROM pairs
        )
        SELECT view_id,
               ROUND(SUM(buy_value / n_touches), 6) AS credited_value,
               CAST(COUNT(*) AS BIGINT) AS n_purchases_touched
        FROM counted
        GROUP BY view_id
        ORDER BY view_id
        """,
        doc="linear multi-touch attribution: 1h range join lowered to the "
        "epoch-bucketed equi-join, ONE window for touch counts",
    )
)


# ---------------------------------------------------------------------------
# CUBE grouping sets + grouping_id over the event log
# ---------------------------------------------------------------------------
def q_event_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts and value sums over CUBE(event_type, weekday): all
    four grouping sets — (type, weekday), (type), (weekday), () — from
    ONE scan, with grouping_id() distinguishing the levels (the
    complement of `order_priority_rollup`'s ROLLUP hierarchy: CUBE is
    the cross-dimensional lattice).

    Scale shape: Catalyst lowers CUBE to a single Expand (×4) over the
    scan followed by one partial-aggregated shuffle of |groups| rows —
    the input is read once no matter how many sets the lattice has.
    NULL-vs-subtotal ambiguity is resolved by grouping_id, not by the
    NULL placeholder (the standard warehouse-correctness trap; weekday
    is never NULL in the data so the twin maps gid bit-exactly).
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").alias("weekday"),
        "value",
    )
    return (
        ev.cube("event_type", "weekday")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("bigint").alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("gid", "event_type", "weekday", "cnt", "sum_value")
        .orderBy("gid", "event_type", "weekday")
    )


register(
    QuerySpec(
        "event_cube_stats",
        q_event_cube_stats,
        """
        SELECT CAST(GROUPING(event_type) * 2 + GROUPING(weekday) AS BIGINT)
                   AS gid,
               event_type, weekday,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(SUM(value), 6) AS sum_value
        FROM (
            SELECT event_type,
                   CAST(dayofweek(ts) + 1 AS INT) AS weekday, value
            FROM events
        )
        GROUP BY CUBE (event_type, weekday)
        ORDER BY gid, event_type, weekday
        """,
        doc="CUBE grouping-set lattice + grouping_id over one Expand scan "
        "(complement of the ROLLUP hierarchy query)",
    )
)


def bench_warmup(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the co-order graph payloads (symmetric edge list, pair
    counts) shared by the graph-shaped queries (BFS hops, Adamic-Adar,
    label propagation, association rules) — bench family build line, so
    per-query numbers reflect traversal cost rather than whichever query
    touches the payload first.

    r16: the two payloads are independent builds over lineitem —
    submitted as concurrent jobs (guide §2.6) so the family line pays
    max of the two builds, not their sum.  Payload contents unchanged."""
    from .shared import overlap_jobs

    overlap_jobs(
        lambda: _co_order_edges(spark, sf_dir).count(),
        lambda: _co_order_pair_counts(spark, sf_dir).count(),
    )


# ---------------------------------------------------------------------------
# sketch ROLLUP: daily HLL registers merged upward without rescanning
# ---------------------------------------------------------------------------
def q_hll_register_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-user estimates from ONE register table: daily
    per-event-type HLL registers, then the per-type TOTAL obtained by
    max-merging the DAILY registers — the continuous-aggregate /
    hypertable-rollup pattern for a non-additive metric (COUNT DISTINCT
    cannot roll up from daily counts; its sketch can, exactly).

    Scale shape: events are scanned ONCE into the (type, day, reg, mj)
    register table (max partial-aggregates map-side, m=64 rows per
    bucket), which persists via the session payload registry; the total
    level reads only that table — at 100 TB this is the difference
    between re-scanning the log per rollup level and merging a few KB of
    registers.  max() associativity makes the merged estimate EXACTLY
    the direct estimate, and the twin reproduces both levels
    bit-for-bit (power-of-two register sums, see q_hll_distinct_sketch).
    The exact distinct columns are the verification baseline.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    reg, rho = _hll_reg_rho(F.col("user_id"))
    regs = ev.select(
        "event_type", "day", reg.alias("reg"), rho.alias("rho")
    )
    daily_mj = materialized(
        spark,
        sf_dir,
        "hll_daily_regs",
        lambda: regs.groupBy("event_type", "day", "reg").agg(
            F.max("rho").alias("mj")
        ),
    )
    daily = _hll_estimate(daily_mj, ["event_type", "day"])
    total_mj = daily_mj.groupBy("event_type", "reg").agg(
        F.max("mj").alias("mj")
    )
    total = _hll_estimate(total_mj, ["event_type"])
    ex_daily = ev.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct_users")
    )
    ex_total = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct_users")
    )
    daily_lvl = daily.join(ex_daily, ["event_type", "day"])
    total_lvl = total.join(ex_total, ["event_type"]).withColumn(
        "day", F.lit(None).cast("date")
    )
    return (
        daily_lvl.unionByName(total_lvl)
        .select(
            "event_type",
            # ISO string, not DATE: engines render bare dates differently
            # through the comparison layer; the string is unambiguous
            F.col("day").cast("string").alias("day"),
            "hll_distinct_users",
            "exact_distinct_users",
        )
        .orderBy("event_type", "day")
    )


register(
    QuerySpec(
        "hll_register_rollup",
        q_hll_register_rollup,
        f"""
        WITH src AS (
            SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   user_id
            FROM events
        ),
        h1 AS (
            SELECT event_type, day,
                   CAST(user_id AS BIGINT) * {_HLL_A1} % {_HLL_P} AS h1
            FROM src
        ),
        h2 AS (
            SELECT event_type, day,
                   xor(h1, h1 >> 13) * {_HLL_A2} % {_HLL_P} AS h2
            FROM h1
        ),
        h AS (
            SELECT event_type, day,
                   xor(h2, h2 >> 7) * {_HLL_A1} % {_HLL_P} AS h3
            FROM h2
        ),
        regs AS (
            SELECT event_type, day,
                   (h3 >> {_HLL_WBITS}) % {_HLL_M} AS reg,
                   CASE WHEN h3 % {1 << _HLL_WBITS} = 0 THEN {_HLL_RHO_MAX}
                        ELSE {_HLL_RHO_MAX}
                             - LENGTH(BIN(h3 % {1 << _HLL_WBITS}))
                   END AS rho
            FROM h
        ),
        mjd AS (
            SELECT event_type, day, reg, MAX(rho) AS mj
            FROM regs GROUP BY 1, 2, 3
        ),
        mjt AS (
            SELECT event_type, reg, MAX(mj) AS mj FROM mjd GROUP BY 1, 2
        ),
        estd AS (
            SELECT event_type, day,
                   SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS sp,
                   COUNT(*) AS np
            FROM mjd GROUP BY 1, 2
        ),
        estt AS (
            SELECT event_type,
                   SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS sp,
                   COUNT(*) AS np
            FROM mjt GROUP BY 1
        ),
        exd AS (
            SELECT event_type, day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
            FROM src GROUP BY 1, 2
        ),
        ext AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
            FROM src GROUP BY 1
        ),
        lvl AS (
            SELECT e.event_type, e.day, e.sp, e.np, x.ex
            FROM estd e JOIN exd x USING (event_type, day)
            UNION ALL
            SELECT e.event_type, NULL AS day, e.sp, e.np, x.ex
            FROM estt e JOIN ext x USING (event_type)
        )
        SELECT event_type, day,
               ROUND(CASE WHEN {_HLL_ALPHA * _HLL_M * _HLL_M!r}
                               / (sp + ({_HLL_M} - np)) <= {2.5 * _HLL_M!r}
                               AND {_HLL_M} - np > 0
                          THEN {float(_HLL_M)!r}
                               * LN({float(_HLL_M)!r} / ({_HLL_M} - np))
                          ELSE {_HLL_ALPHA * _HLL_M * _HLL_M!r}
                               / (sp + ({_HLL_M} - np)) END, 6)
                   AS hll_distinct_users,
               ex AS exact_distinct_users
        FROM lvl
        ORDER BY event_type, day
        """,
        doc="continuous-aggregate sketch rollup: daily HLL registers "
        "max-merged to per-type totals without rescanning the log; "
        "non-additive COUNT DISTINCT rolls up exactly via its sketch",
    )
)


# ---------------------------------------------------------------------------
# snapshot diff / change-data generation from two snapshot versions
# ---------------------------------------------------------------------------
def q_snapshot_diff_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change rows between two per-part shipment snapshots (aggregates as
    of 1998-06-01 vs 1998-12-01): 'insert' for parts that first shipped
    between the cutoffs, 'update' for parts whose line count grew — the
    inverse of CDC APPLY (`cdc_final_state`): snapshot reconciliation
    GENERATES the change feed.

    Scale shape: because both snapshots derive from one log, the
    textbook FULL OUTER JOIN of v1×v2 (the SQL twin) collapses to ONE
    scan with conditional aggregation — each part's v1/v2 measures are
    filtered sums in the same groupBy, so there is no join at all and
    the fact is read once (the same lower-the-join move as the PIT
    query).  Against two genuinely independent snapshot TABLES this
    becomes one co-partitioned full outer join; v2 ⊇ v1 here, so
    'delete' rows cannot occur by construction (the CDC-apply query
    owns tombstones).
    """
    utc(spark)
    cut1, cut2 = "1998-06-01", "1998-12-01"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_shipdate"
    )
    in1 = F.col("l_shipdate") < F.lit(cut1).cast("timestamp")
    in2 = F.col("l_shipdate") < F.lit(cut2).cast("timestamp")
    snap = li.groupBy("l_partkey").agg(
        F.sum(F.when(in1, F.col("l_quantity"))).alias("qty_v1"),
        F.sum(F.when(in1, F.lit(1)).cast("bigint")).alias("n_v1"),
        F.sum(F.when(in2, F.col("l_quantity"))).alias("qty_v2"),
        F.sum(F.when(in2, F.lit(1)).cast("bigint")).alias("n_v2"),
    )
    return (
        snap.filter(F.col("n_v2").isNotNull())
        .withColumn(
            "change_type",
            F.when(F.col("n_v1").isNull(), F.lit("insert")).when(
                F.col("n_v1") != F.col("n_v2"), F.lit("update")
            ),
        )
        .filter(F.col("change_type").isNotNull())
        .select(
            F.col("l_partkey").alias("part_id"),
            "change_type",
            "qty_v1",
            "n_v1",
            "qty_v2",
            "n_v2",
        )
        .orderBy("part_id")
    )


register(
    QuerySpec(
        "snapshot_diff_parts",
        q_snapshot_diff_parts,
        """
        WITH v1 AS (
            SELECT l_partkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-06-01'
            GROUP BY 1
        ),
        v2 AS (
            SELECT l_partkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-12-01'
            GROUP BY 1
        )
        SELECT COALESCE(v2.l_partkey, v1.l_partkey) AS part_id,
               CASE WHEN v1.l_partkey IS NULL THEN 'insert'
                    WHEN v1.n <> v2.n THEN 'update' END AS change_type,
               v1.qty AS qty_v1, v1.n AS n_v1,
               v2.qty AS qty_v2, v2.n AS n_v2
        FROM v1 FULL OUTER JOIN v2 ON v1.l_partkey = v2.l_partkey
        WHERE v2.l_partkey IS NOT NULL
          AND (v1.l_partkey IS NULL OR v1.n <> v2.n)
        ORDER BY part_id
        """,
        doc="snapshot diff / change-feed generation: full-outer-join "
        "reconciliation collapsed to one conditional-aggregation scan "
        "(the inverse of cdc_final_state)",
    )
)


# ---------------------------------------------------------------------------
# cohort retention matrix (product-analytics standard)
# ---------------------------------------------------------------------------
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users cohorted by the Monday of their
    FIRST event, counted distinct in each subsequent week-offset — the
    standard cohort-retention analysis.

    Scale shape: two aggregations sharing one user_id shuffle — first-
    touch per user (min), then the (cohort, week_offset) distinct-count
    after a user-keyed equi-join of the log back to its own first-touch
    table (the join is user-keyed, so at 100 TB it co-partitions with
    the first aggregate; at extreme user counts the distinct count
    would flip to the HLL registers of `hll_register_rollup`).
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    cohort = F.date_trunc("week", F.col("first_d")).cast("date")
    j = ev.join(first, "user_id").select(
        "user_id",
        cohort.cast("string").alias("cohort_week"),
        F.floor(F.datediff(F.col("d"), cohort) / 7)
        .cast("int")
        .alias("week_offset"),
    )
    return (
        j.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


register(
    QuerySpec(
        "user_retention_cohorts",
        q_user_retention_cohorts,
        """
        WITH ev AS (
            SELECT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        first AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(d)) AS DATE) AS cw
            FROM ev GROUP BY 1
        )
        SELECT CAST(cw AS VARCHAR) AS cohort_week,
               CAST(FLOOR(date_diff('day', cw, d) / 7.0) AS INT)
                   AS week_offset,
               CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
        FROM ev JOIN first USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
        """,
        doc="weekly cohort retention matrix: first-touch cohorting + "
        "week-offset distinct users, one user-keyed shuffle",
    )
)


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------
def q_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    event, against the log's global horizon), frequency (event count)
    and monetary (purchase value sum) quintiled into 1-5 scores
    (5 = best) and concatenated into the classic 3-digit segment.

    Scale shape: ONE user-keyed aggregation builds all three metrics;
    the horizon is a 1-row broadcast scalar; the quintile windows rank
    the |users|-row aggregate (deterministic (metric, user_id) order) —
    a global ntile sort of the AGGREGATE, never of the event log.  At
    extreme user counts the exact ntile flips to approx_percentile
    cutoffs broadcast back (the `value_quantiles` scale note).
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "event_type", "value"
    )
    horizon = ev.agg(F.max("d").alias("horizon"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase", F.col("value")
                        )
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.datediff(F.col("horizon"), F.col("last_d"))
            .cast("int")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("user_id"))
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("user_id"))
    m_w = Window.orderBy(F.col("monetary").asc(), F.col("user_id"))
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    ).orderBy("user_id")


register(
    QuerySpec(
        "user_rfm_segments",
        q_user_rfm_segments,
        """
        WITH ev AS (
            SELECT user_id, CAST(ts AS DATE) AS d, event_type, value
            FROM events
        ),
        h AS (SELECT MAX(d) AS horizon FROM ev),
        pu AS (
            SELECT user_id,
                   CAST(date_diff('day', MAX(d),
                        (SELECT horizon FROM h)) AS INT) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                           THEN value END), 0.0), 6)
                       AS monetary
            FROM ev GROUP BY user_id
        ),
        scored AS (
            SELECT *,
                   NTILE(5) OVER (ORDER BY recency_days DESC, user_id)
                       AS r_score,
                   NTILE(5) OVER (ORDER BY frequency ASC, user_id)
                       AS f_score,
                   NTILE(5) OVER (ORDER BY monetary ASC, user_id)
                       AS m_score
            FROM pu
        )
        SELECT user_id, recency_days, frequency, monetary,
               r_score, f_score, m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                   || CAST(m_score AS VARCHAR) AS segment
        FROM scored
        ORDER BY user_id
        """,
        doc="RFM quintile segmentation over one user-keyed aggregate; "
        "deterministic (metric, user_id) ntile order",
    )
)


# ---------------------------------------------------------------------------
# first-order Markov transition matrix over event types
# ---------------------------------------------------------------------------
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and row-normalized
    probabilities between consecutive event types per user — the
    behavioral sequence model behind next-action prediction baselines.

    Scale shape: one lag window over the user-keyed log (the same
    single-shuffle pass the sessionization family uses), then a
    |types|²-row aggregate; the per-source normalizer is a window over
    that tiny matrix.  Probabilities are exact-count ratios rounded to
    9 places, engine-identical.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        trans.withColumn(
            "prob", F.round(F.col("cnt") / F.sum("cnt").over(w_from), 9)
        )
        .orderBy("from_type", "to_type")
    )


register(
    QuerySpec(
        "event_transition_matrix",
        q_event_transition_matrix,
        """
        WITH t AS (
            SELECT LAG(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS from_type,
                   event_type AS to_type
            FROM events
        ),
        m AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM t WHERE from_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, cnt,
               ROUND(CAST(cnt AS DOUBLE)
                     / SUM(cnt) OVER (PARTITION BY from_type), 9) AS prob
        FROM m
        ORDER BY from_type, to_type
        """,
        doc="first-order Markov transition matrix over per-user event "
        "sequences: one lag window + |types|^2 aggregate",
    )
)


# ---------------------------------------------------------------------------
# bilateral trade volume (TPC-H Q7 shape): one dimension in two roles
# ---------------------------------------------------------------------------
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue between (supplier nation, customer nation) pairs —
    the TPC-H Q7 shape: the SAME nation dimension participates twice
    under different roles (shipper vs customer), classically a
    self-join-ambiguity trap.

    Scale shape: ONE fact-fact shuffle (lineitem ⋈ orders on orderkey);
    supplier and BOTH nation roles ride broadcasts (the nation dim
    broadcasts twice under distinct aliases — no ambiguity, no
    re-shuffle).  Customer is NOT hinted — it scales with SF (15M rows
    at sf100), so AQE broadcasts it at small SF and shuffles past the
    threshold, matching the reference Q7 plan.  The final aggregate is
    |nation-pairs|×|years| rows.  The supp<cust filter halves the pair
    space without losing information (revenue is direction-tagged by
    the role columns).
    """
    utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("l_year")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


register(
    QuerySpec(
        "nation_trade_volume",
        q_nation_trade_volume,
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(o_orderdate) AS BIGINT) AS l_year,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
        """,
        doc="TPC-H Q7-shaped bilateral volume: one fact-fact shuffle, the "
        "nation dim broadcast TWICE under distinct role aliases",
    )
)


# ---------------------------------------------------------------------------
# conditional-share aggregate (TPC-H Q14 shape): promo revenue fraction
# ---------------------------------------------------------------------------
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts — the TPC-H Q14
    shape: a conditional aggregate ratio (CASE inside SUM over a
    broadcast join), the pattern behind every 'percent of business'
    metric.

    Scale shape: part broadcasts into the fact scan; BOTH the promo and
    total sums come from the SAME grouped aggregate (one scan, one
    shuffle of |months| rows) — never two scans diffed.  The share is a
    single division of two exact-input sums, rounded to 9.
    """
    utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev"))).alias(
                "promo_revenue"
            ),
            F.sum("rev").alias("total_revenue"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev"))),
                    F.lit(0.0),
                )
                / F.sum("rev"),
                9,
            ).alias("promo_share"),
        )
        .orderBy("ship_month")
    )


register(
    QuerySpec(
        "promo_revenue_share",
        q_promo_revenue_share,
        """
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               SUM(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) END)
                   AS promo_revenue,
               SUM(l_extendedprice * (1 - l_discount)) AS total_revenue,
               ROUND(COALESCE(SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) END),
                              0.0)
                     / SUM(l_extendedprice * (1 - l_discount)), 9)
                   AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1 ORDER BY 1
        """,
        doc="TPC-H Q14-shaped conditional revenue share: one scan, one "
        "|months|-row shuffle, promo+total from the same aggregate",
    )
)


# ---------------------------------------------------------------------------
# existence-driven aggregate (TPC-H Q4 shape): priority counts with EXISTS
# ---------------------------------------------------------------------------
def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority counts of Q3-1995 orders, split by whether ANY line
    shipped after the order date — the TPC-H Q4 shape: an EXISTS
    correlated subquery lowered to a semi-join, counted per group.

    Scale shape: the 3-month order slice is date-pruned at the scan and
    BROADCAST into the lineitem probe (the fact side never shuffles for
    the existence test); the correlated predicate (l_shipdate >
    o_orderdate) rides the broadcast join as a residual filter; the
    distinct-orderkey collapse is one shuffle of the matched slice, and
    the final aggregate is |priorities| rows.  No row of lineitem is
    materialized beyond (orderkey, shipdate).
    """
    utc(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1995-07-01")
            & (F.col("o_orderdate") < "1995-10-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late_keys = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("o_orderkey")
        .distinct()
        .withColumn("is_late", F.lit(1))
    )
    return (
        # late_keys ⊆ the order slice that is itself broadcast above, so
        # broadcasting it back is size-safe by construction (Catalyst has
        # no static stats for the distinct's output; the hint avoids an
        # SMJ of two already-small sides)
        orders.join(F.broadcast(late_keys), "o_orderkey", "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.coalesce(F.col("is_late"), F.lit(0)))
            .cast("bigint")
            .alias("n_late"),
        )
        .orderBy("o_orderpriority")
    )


register(
    QuerySpec(
        "priority_late_orders",
        q_priority_late_orders,
        """
        WITH o AS (
            SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
            WHERE o_orderdate >= '1995-07-01' AND o_orderdate < '1995-10-01'
        ),
        late AS (
            SELECT DISTINCT o.o_orderkey
            FROM o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate > o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN late.o_orderkey IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        FROM o LEFT JOIN late USING (o_orderkey)
        GROUP BY 1 ORDER BY 1
        """,
        doc="TPC-H Q4-shaped existence aggregate (EXISTS -> broadcast "
        "semi-probe + distinct collapse), exact integer counts",
    )
)


# ---------------------------------------------------------------------------
# market share within group (TPC-H Q8 shape): two-role dims + share ratio
# ---------------------------------------------------------------------------
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_2's share of ASIA-customer revenue per order year — the
    TPC-H Q8 shape: the nation dim serves two roles (supplier origin vs
    customer market), with the share computed WITHIN each year group.

    Scale shape: one fact-fact shuffle (lineitem ⋈ orders on orderkey);
    supplier/nation/region broadcast (nation twice, under role aliases).
    Customer is NOT hinted: it scales with SF (15M rows at sf100, far
    past any broadcast threshold — the reference Q8 plan shuffles it),
    so AQE picks broadcast at small SF and a shuffle join at scale.
    Numerator and denominator come from ONE grouped aggregate via a
    conditional sum — never two scans diffed, never a window over the
    fact.  Output is |years| rows.
    """
    utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "volume"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n_cust = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
        "left_semi",
    ).select(F.col("n_nationkey").alias("cn_key"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", F.col("volume"))
            ).alias("nation_volume"),
            F.sum("volume").alias("total_volume"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("supp_nation") == "NATION_2",
                            F.col("volume"),
                        )
                    ),
                    F.lit(0.0),
                )
                / F.sum("volume"),
                9,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


register(
    QuerySpec(
        "nation_market_share",
        q_nation_market_share,
        """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               SUM(CASE WHEN ns.n_name = 'NATION_2'
                        THEN l_extendedprice * (1 - l_discount) END)
                   AS nation_volume,
               SUM(l_extendedprice * (1 - l_discount)) AS total_volume,
               ROUND(COALESCE(SUM(CASE WHEN ns.n_name = 'NATION_2'
                              THEN l_extendedprice * (1 - l_discount) END),
                              0.0)
                     / SUM(l_extendedprice * (1 - l_discount)), 9)
                   AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        GROUP BY 1 ORDER BY 1
        """,
        doc="TPC-H Q8-shaped market share: two-role nation dim, share "
        "within year from one conditional aggregate",
    )
)


# ---------------------------------------------------------------------------
# global argmax (TPC-H Q15 shape): top supplier by windowed revenue
# ---------------------------------------------------------------------------
def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-3 suppliers by Q1-1996 shipped revenue, with names — the
    TPC-H Q15 shape (revenue view + global max), made deterministic by
    ranking on round(revenue, 6) with a suppkey tie-break.

    Scale shape: the date slice prunes at the scan, the per-supplier sum
    is one shuffle of the slice keyed by suppkey (|suppliers| rows out),
    the global top-3 is a distributed TakeOrderedAndProject (per-partition
    partial top-k, no single-partition window), and supplier names attach
    by broadcast AFTER the top-k so only 3 rows are enriched.
    """
    utc(spark)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select(
            "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    top = (
        li.groupBy("l_suppkey")
        .agg(F.sum("rev").alias("total_revenue"))
        .orderBy(
            F.round(F.col("total_revenue"), 6).desc(),
            F.col("l_suppkey").asc(),
        )
        .limit(3)
    )
    return (
        top.join(F.broadcast(supplier), top.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.round(F.col("total_revenue"), 6).alias("total_revenue"),
        )
        .orderBy(F.col("total_revenue").desc(), F.col("s_suppkey").asc())
    )


register(
    QuerySpec(
        "top_revenue_suppliers",
        q_top_revenue_suppliers,
        """
        WITH rev AS (
            SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount))
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
            GROUP BY 1
        ),
        top AS (
            SELECT l_suppkey, total_revenue,
                   ROW_NUMBER() OVER (ORDER BY round(total_revenue, 6) DESC,
                                      l_suppkey ASC) AS rnk
            FROM rev QUALIFY rnk <= 3
        )
        SELECT l_suppkey AS s_suppkey, s_name,
               ROUND(total_revenue, 6) AS total_revenue
        FROM top JOIN supplier ON l_suppkey = s_suppkey
        ORDER BY total_revenue DESC, s_suppkey ASC
        """,
        doc="TPC-H Q15-shaped global argmax: distributed "
        "TakeOrderedAndProject top-k, names attached post-top-k",
    )
)


def q_top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue in 1996-Q1 — the TPC-H
    Q10 shape.  What distinguishes it from the Q15 global-argmax: the
    group key (custkey) SCALES with SF, and the enrichment dimension
    (customer) scales too — so the plan must group first (one fact-fact
    shuffle keyed custkey after the orderkey join), take the distributed
    top-20, and only THEN attach customer attributes by broadcasting the
    20-ROW top side INTO the customer scan (never customer into the
    agg): at sf100 customer is 15M rows and must not cross the wire for
    the sake of 20 output rows.  Nation attaches last, dimension-sized.
    Ranking is deterministic via round(revenue, 6) + custkey tiebreak.
    """
    utc(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )
    )
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("rev"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
        .limit(20)
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        customer.join(F.broadcast(top), customer.c_custkey == top.o_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    )


register(
    QuerySpec(
        "top_returning_customers",
        q_top_returning_customers,
        """
        WITH top AS (
            SELECT o_custkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)
                       AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
            GROUP BY 1
            ORDER BY revenue DESC, o_custkey ASC
            LIMIT 20
        )
        SELECT c_custkey, revenue, c_acctbal, n_name
        FROM top
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey ASC
        """,
        doc="TPC-H Q10-shaped top returned-revenue customers: scaling "
        "group key, distributed top-20, 20-row side broadcast INTO the "
        "scaling customer dimension post-top-k",
    )
)


# ---------------------------------------------------------------------------
# single-scan scalar forecast (TPC-H Q6 shape): revenue delta from a
# hypothetical discount change — the pushdown-purity benchmark
# ---------------------------------------------------------------------------
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue increase if 1998's 5-7% discounts on small-quantity lines
    had been eliminated — the TPC-H Q6 shape: ONE scan, every predicate
    a scan-pushable range, one scalar aggregate.  This is the purest
    pushdown benchmark in the suite: at 100 TB the plan must read only
    the (shipdate, discount, quantity, extendedprice) columns and prune
    row groups on all three ranges — tests/test_plans.py pins
    PushedFilters carrying every bound.  Completes the Q1-Q22 shape
    sweep together with the Q11/Q12 shapes below."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue_delta"
        ),
        F.count("*").cast("bigint").alias("n_lines"),
    )


register(
    QuerySpec(
        "forecast_revenue_change",
        q_forecast_revenue_change,
        """
        SELECT SUM(l_extendedprice * l_discount) AS revenue_delta,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
        doc="TPC-H Q6-shaped single-scan scalar forecast: all predicates "
        "scan-pushable ranges, 4-column ReadSchema (plan-pinned)",
    )
)


# ---------------------------------------------------------------------------
# grouped value vs global-fraction threshold (TPC-H Q11 shape)
# ---------------------------------------------------------------------------
def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from nation-7 suppliers exceeds 0.1% of
    that nation's total — the TPC-H Q11 shape: grouped aggregate HAVING
    a scalar-subquery fraction of the SAME aggregate.

    Scale shape: the nation's supplier set semi-filters the fact (joined
    un-hinted — Catalyst broadcasts the 1/25th supplier slice while it
    fits); the grouped part values reduce to |parts| rows; the global
    total is a 1-row aggregate attached by broadcast (the lint's scalar
    allowance) — never a second fact scan and never a window over an
    unpartitioned data-scale frame."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = sup.filter(F.col("s_nationkey") == 7).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    vals = (
        li.join(nat, "l_suppkey")
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("stock_value")
        )
    )
    tot = vals.agg(F.sum("stock_value").alias("_tot"))
    return (
        vals.crossJoin(F.broadcast(tot))
        .filter(F.col("stock_value") > 0.001 * F.col("_tot"))
        .select("part_key", "stock_value")
        .orderBy(F.col("stock_value").desc(), "part_key")
    )


register(
    QuerySpec(
        "important_part_stock",
        q_important_part_stock,
        """
        WITH vals AS (
            SELECT l_partkey AS part_key,
                   SUM(l_extendedprice * (1 - l_discount)) AS stock_value
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey = 7
            GROUP BY 1
        )
        SELECT part_key, stock_value
        FROM vals
        WHERE stock_value > 0.001 * (SELECT SUM(stock_value) FROM vals)
        ORDER BY stock_value DESC, part_key
        """,
        doc="TPC-H Q11-shaped grouped value vs global-fraction threshold "
        "(HAVING over a scalar subquery of the same aggregate)",
    )
)


# ---------------------------------------------------------------------------
# late-shipment priority split (TPC-H Q12 shape)
# ---------------------------------------------------------------------------
def q_late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1998 shipments more than 90 days after their order, split into
    high/low order priority per return flag — the TPC-H Q12 shape: a
    fact-fact equi join whose FILTER mixes both sides (shipdate vs
    orderdate + interval) and a CASE-conditional aggregate.

    Scale shape: one orderkey shuffle (both facts already filtered by
    their pushable date ranges), the cross-side date comparison runs
    post-join inside codegen, and the output is |return flags| rows —
    counts only, so the twin is integer-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_priority_lates"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_priority_lates"),
        )
        .orderBy("l_returnflag")
    )


register(
    QuerySpec(
        "late_shipment_priorities",
        q_late_shipment_priorities,
        """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_priority_lates,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_priority_lates
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY 1
        ORDER BY 1
        """,
        doc="TPC-H Q12-shaped late-shipment priority split: fact-fact "
        "equi join, mixed-side date predicate, CASE-conditional counts",
    )
)


def q_nation_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on 'red' product lines by supplier nation and order year —
    the TPC-H Q9 shape: line profit = revenue − supplycost·quantity,
    where the supply-cost catalog (partsupp's analog) is DERIVED from the
    same fact as the per-(part, supplier) MIN unit price, then joined
    back on the composite key.

    Scale shape: the name-filtered part set broadcasts as a left-semi
    filter into BOTH fact passes (catalog build and profit scan), so the
    double scan only touches the 'red' slice; the catalog build is one
    shuffle keyed (l_partkey, l_suppkey) with map-side partial MIN; the
    profit pass shuffles the slice twice — orders on orderkey (the
    fact-fact join Q9 cannot avoid) and the catalog join on the same
    composite key the catalog is already partitioned by; supplier→nation
    rides a broadcast chain.  Output is |nations|×|years| rows from one
    grouped agg.  unit price (one divide) and the profit expression are
    single-op float chains — engine-portable at the canonicalizer's
    rounding, same convention as every revenue rollup here.
    """
    utc(spark)
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(red),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    catalog = li.groupBy(
        F.col("l_partkey").alias("c_partkey"),
        F.col("l_suppkey").alias("c_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "supplycost"
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            catalog,
            (F.col("l_partkey") == F.col("c_partkey"))
            & (F.col("l_suppkey") == F.col("c_suppkey")),
        )
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", "o_year")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("supplycost") * F.col("l_quantity")
            ).alias("sum_profit")
        )
        .orderBy("n_name", F.col("o_year").desc())
    )


register(
    QuerySpec(
        "nation_profit_rollup",
        q_nation_profit_rollup,
        """
        WITH red AS (
            SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
        ),
        li AS (
            SELECT * FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM red)
        ),
        catalog AS (
            SELECT l_partkey AS c_partkey, l_suppkey AS c_suppkey,
                   MIN(l_extendedprice / l_quantity) AS supplycost
            FROM li GROUP BY 1, 2
        )
        SELECT n_name, year(o_orderdate) AS o_year,
               SUM(l_extendedprice * (1 - l_discount)
                   - supplycost * l_quantity) AS sum_profit
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        JOIN catalog ON l_partkey = c_partkey AND l_suppkey = c_suppkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
        ORDER BY n_name, o_year DESC
        """,
        doc="TPC-H Q9-shaped profit rollup: self-derived supply-cost "
        "catalog joined back on the composite (part, supplier) key, "
        "broadcast name-filter into both fact passes, one grouped agg",
    )
)


def q_min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest EUROPE supplier per ECONOMY part of selected sizes — the
    TPC-H Q2 shape: a correlated MIN subquery (min supplycost among the
    region's suppliers, per part) decorrelated into a grouped MIN joined
    back on (partkey, cost), then ordered by supplier balance, top 100.
    The supply catalog (partsupp's analog here) is the per-(part,
    supplier) MIN line price observed in lineitem.

    Scale shape: the region→nation→supplier chain is a broadcast
    dimension filter applied to the fact BEFORE the first aggregate
    (left-semi, so the catalog agg only sees qualifying suppliers); the
    catalog build is ONE shuffle of the filtered fact keyed by
    (l_partkey, l_suppkey) with map-side partial MIN; the per-part MIN
    re-aggregates the |part×supplier_region| catalog — dimension-sized,
    no second fact scan; the equality join-back on (partkey, min cost)
    is catalog ⋈ part-sized mins (AQE broadcasts at small SF, shuffles
    at scale), the exact decorrelation Catalyst itself applies to the
    correlated-subquery SQL form.  The MIN key is a raw double (no
    arithmetic), so the equality join is engine-portable.  Final top-100
    is a distributed TakeOrderedAndProject over a fully-tiebroken key.
    """
    utc(spark)
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation")
    eur_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supplier = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(eur_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == "ECONOMY") & F.col("p_size").isin(15, 25, 35)
        )
        .select("p_partkey", "p_size")
    )
    catalog = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(supplier.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supplycost"))
    )
    mins = catalog.groupBy(
        F.col("l_partkey").alias("m_partkey")
    ).agg(F.min("supplycost").alias("min_cost"))
    return (
        catalog.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .select(F.col("l_partkey").alias("p_partkey"), "l_suppkey", "supplycost")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), "p_partkey")
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_size",
            "supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
        )
        .limit(100)
    )


register(
    QuerySpec(
        "min_cost_part_supplier",
        q_min_cost_part_supplier,
        """
        WITH eur_supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        sel_part AS (
            SELECT p_partkey, p_size FROM part
            WHERE p_type = 'ECONOMY' AND p_size IN (15, 25, 35)
        ),
        catalog AS (
            SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
            FROM lineitem
            WHERE l_suppkey IN (SELECT s_suppkey FROM eur_supp)
              AND l_partkey IN (SELECT p_partkey FROM sel_part)
            GROUP BY 1, 2
        )
        SELECT s_acctbal, s_name, n_name,
               c.l_partkey AS p_partkey, p_size, supplycost
        FROM catalog c
        JOIN eur_supp ON c.l_suppkey = s_suppkey
        JOIN sel_part ON c.l_partkey = p_partkey
        WHERE supplycost = (
            SELECT MIN(c2.supplycost) FROM catalog c2
            WHERE c2.l_partkey = c.l_partkey
        )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """,
        doc="TPC-H Q2-shaped correlated-MIN lookup: broadcast region "
        "supplier filter, one fact shuffle to a (part,supplier) catalog, "
        "grouped-MIN decorrelation + equality join-back, top-100",
    )
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve over user activity spans
# ---------------------------------------------------------------------------
def q_user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user activity lifetime: a user's
    duration is last-event-day − first-event-day; the churn EVENT fires
    if the user was inactive for the log's final 7 days, otherwise the
    observation is right-CENSORED (still active at the horizon) — the
    standard retention-modeling estimator (Kaplan & Meier 1958):
    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i).

    Scale shape: one user-keyed aggregate (first/last day per user), a
    |durations|-row life table, and two ordered windows over that tiny
    table (at-risk counts via cumulative complement, the product via
    exp·Σln).  All counts are exact ints; the d=n full-depletion time
    is handled by an explicit zero flag so ln(0) never evaluates; the
    log-sum terms are identical single-op floats in both engines.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    horizon = ev.agg(F.max("d").alias("horizon"))
    per_user = (
        ev.groupBy("user_id")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.col("last_d"), F.col("first_d"))
            .cast("int")
            .alias("duration_days"),
            (
                F.datediff(F.col("horizon"), F.col("last_d")) > 7
            ).alias("churned"),
        )
    )
    life = per_user.groupBy("duration_days").agg(
        F.count("*").cast("bigint").alias("n_ending"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churned"),
    )
    w_prev = (
        Window.orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # count users from the log directly (== |per_user| rows) so the
    # per_user subtree — which carries the horizon scalar attach — is
    # planned exactly once
    total = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_total"))
    at_risk = (
        life.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0)),
        )
    )
    term = F.when(
        (F.col("n_churned") > 0) & (F.col("n_churned") < F.col("n_risk")),
        F.log(1.0 - F.col("n_churned") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    depleted = F.max(
        (F.col("n_churned") == F.col("n_risk")).cast("int")
    ).over(w_cum)
    return (
        at_risk.withColumn("_term", term)
        .withColumn("_dep", depleted)
        .select(
            "duration_days",
            "n_risk",
            "n_churned",
            F.when(F.col("_dep") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.sum("_term").over(w_cum)), 6))
            .alias("survival"),
        )
        .orderBy("duration_days")
    )


register(
    QuerySpec(
        "user_survival_curve",
        q_user_survival_curve,
        """
        WITH ev AS (
            SELECT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        h AS (SELECT MAX(d) AS horizon FROM ev),
        pu AS (
            SELECT CAST(date_diff('day', MIN(d), MAX(d)) AS INT)
                       AS duration_days,
                   date_diff('day', MAX(d), (SELECT horizon FROM h)) > 7
                       AS churned
            FROM ev GROUP BY user_id
        ),
        life AS (
            SELECT duration_days,
                   CAST(COUNT(*) AS BIGINT) AS n_ending,
                   CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_churned
            FROM pu GROUP BY 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM pu),
        risk AS (
            SELECT duration_days, n_ending, n_churned,
                   n_total - COALESCE(CAST(SUM(n_ending) OVER (
                       ORDER BY duration_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS n_risk
            FROM life CROSS JOIN tot
        ),
        terms AS (
            SELECT *,
                   CASE WHEN n_churned > 0 AND n_churned < n_risk
                        THEN LN(1.0 - CAST(n_churned AS DOUBLE) / n_risk)
                        ELSE 0.0 END AS t_term,
                   MAX(CASE WHEN n_churned = n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY duration_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS dep
            FROM risk
        )
        SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk, n_churned,
               CASE WHEN dep = 1 THEN 0.0
                    ELSE ROUND(EXP(CAST(SUM(t_term) OVER (
                         ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS DOUBLE)), 6) END AS survival
        FROM terms
        ORDER BY duration_days
        """,
        doc="Kaplan-Meier survival over user activity spans (churn = 7-day "
        "inactivity at the horizon, censored otherwise); exact-int life "
        "table + exp-sum-log product",
    )
)


# ---------------------------------------------------------------------------
# declarative data-quality check suite (one pass + one FK probe)
# ---------------------------------------------------------------------------
def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt/Deequ-style assertion counters for the event log, as data:
    primary-key duplicates, null keys, value-domain violations,
    enum-domain violations, and foreign-key orphans (events.user_id ∉
    customer) — each check one row with its violation count.

    Scale shape: the four row-local checks fuse into ONE aggregate scan
    (no per-check jobs — the split_invariants move); the FK check is a
    broadcast left-anti against the key side of the dimension.  A
    declarative runner would assert all counters are zero; emitting them
    as data keeps the driver/oracle contract.
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    one_pass = ev.agg(
        (F.count("*") - F.countDistinct("event_id")).alias("pk_duplicates"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).alias(
            "null_pk"
        ),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias(
            "negative_value"
        ),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "view", "click", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        ).alias("bad_event_type"),
    )
    orphans = (
        ev.select("user_id")
        .join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("fk_orphan_user"))
    )
    wide = one_pass.crossJoin(F.broadcast(orphans))
    checks = [
        "pk_duplicates",
        "null_pk",
        "negative_value",
        "bad_event_type",
        "fk_orphan_user",
    ]
    stacked = wide.select(
        F.expr(
            "stack({n}, {pairs}) as (check_name, violations)".format(
                n=len(checks),
                pairs=", ".join(f"'{c}', {c}" for c in checks),
            )
        )
    )
    return stacked.select(
        "check_name",
        F.col("violations").cast("bigint").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    ).orderBy("check_name")


register(
    QuerySpec(
        "data_quality_checks",
        q_data_quality_checks,
        """
        WITH one_pass AS (
            SELECT COUNT(*) - COUNT(DISTINCT event_id) AS pk_duplicates,
                   SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                       AS null_pk,
                   SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                       AS negative_value,
                   SUM(CASE WHEN event_type NOT IN
                            ('view','click','purchase','signup','error')
                            THEN 1 ELSE 0 END) AS bad_event_type
            FROM events
        ),
        fk AS (
            SELECT COUNT(*) AS fk_orphan_user
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
            WHERE c.c_custkey IS NULL
        ),
        u AS (
            SELECT 'pk_duplicates' AS check_name, pk_duplicates AS v
            FROM one_pass
            UNION ALL SELECT 'null_pk', null_pk FROM one_pass
            UNION ALL SELECT 'negative_value', negative_value FROM one_pass
            UNION ALL SELECT 'bad_event_type', bad_event_type FROM one_pass
            UNION ALL SELECT 'fk_orphan_user', fk_orphan_user FROM fk
        )
        SELECT check_name, CAST(v AS BIGINT) AS violations,
               v = 0 AS passed
        FROM u ORDER BY check_name
        """,
        doc="declarative data-quality counters (PK dup / null / domain / "
        "enum / FK orphan): four checks fused into one scan + one "
        "broadcast anti-join FK probe",
    )
)


# ---------------------------------------------------------------------------
# hypertable continuous aggregate: multi-resolution rollup, level-from-level
# ---------------------------------------------------------------------------
def q_multires_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute -> hour -> day event rollup where every coarser level is
    derived ONLY from the next finer one — the hypertable / continuous-
    aggregate pattern (TimescaleDB-style): the fact is scanned exactly
    once, at minute grain, and each coarser materialization re-aggregates
    |finer| rows, not the fact.

    Scale shape: at 100 TB/day the minute level is the only scan of raw
    events; hour re-aggregates ~1440x fewer rows and day ~24x fewer
    again, so refresh cost is dominated by the finest grain regardless of
    how many resolutions serve queries.  Counts and sums are additive so
    level-from-level is EXACT (the non-additive analog — COUNT DISTINCT
    via register max-merge — is ``hll_register_rollup``).  The minute
    level is persisted through the session payload registry so the union
    of the three levels does not re-scan the fact per branch.  Sums are
    rounded at the output boundary only (the internal re-aggregation uses
    unrounded partials, matching the SQL twin's CTE chain).
    """
    utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        "event_type",
        "value",
    )
    minute = materialized(
        spark,
        sf_dir,
        "multires_minute",
        lambda: ev.groupBy("bucket_ts", "event_type").agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum("value").alias("sum_value"),
        ),
    )
    hour = materialized(
        spark,
        sf_dir,
        "multires_hour",
        lambda: minute.groupBy(
            F.date_trunc("hour", F.col("bucket_ts")).alias("bucket_ts"),
            "event_type",
        ).agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_value").alias("sum_value"),
        ),
    )
    day = hour.groupBy(
        F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts"),
        "event_type",
    ).agg(
        F.sum("cnt").cast("bigint").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
    )
    out = (
        minute.withColumn("level", F.lit("minute"))
        .unionByName(hour.withColumn("level", F.lit("hour")))
        .unionByName(day.withColumn("level", F.lit("day")))
    )
    return out.select(
        "level",
        "bucket_ts",
        "event_type",
        "cnt",
        F.round("sum_value", 6).alias("sum_value"),
    ).orderBy("level", "bucket_ts", "event_type")


register(
    QuerySpec(
        "multires_event_rollup",
        q_multires_event_rollup,
        """
        WITH minute AS (
            SELECT date_trunc('minute', ts) AS bucket_ts, event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   SUM(value) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        hour AS (
            SELECT date_trunc('hour', bucket_ts) AS bucket_ts, event_type,
                   CAST(SUM(cnt) AS BIGINT) AS cnt,
                   SUM(sum_value) AS sum_value
            FROM minute GROUP BY 1, 2
        ),
        day AS (
            SELECT date_trunc('day', bucket_ts) AS bucket_ts, event_type,
                   CAST(SUM(cnt) AS BIGINT) AS cnt,
                   SUM(sum_value) AS sum_value
            FROM hour GROUP BY 1, 2
        )
        SELECT 'minute' AS level, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts,
               event_type, cnt, ROUND(sum_value, 6) AS sum_value FROM minute
        UNION ALL
        SELECT 'hour', CAST(bucket_ts AS TIMESTAMP), event_type, cnt,
               ROUND(sum_value, 6) FROM hour
        UNION ALL
        SELECT 'day', CAST(bucket_ts AS TIMESTAMP), event_type, cnt,
               ROUND(sum_value, 6) FROM day
        ORDER BY level, bucket_ts, event_type
        """,
        doc="hypertable continuous aggregate: one fact scan at minute "
        "grain, hour/day derived level-from-level (exact for additive "
        "aggs; the non-additive twin is hll_register_rollup)",
    )
)
