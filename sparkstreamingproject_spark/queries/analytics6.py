"""Round-4 late additions (round-5 driver-window candidates): YoY
growth, equi-width histograms, keyword-in-context, link-prediction
features, inter-event-time distribution, rank-movement windows.

Same float discipline as analytics5.py: integer/DECIMAL algebra,
exact order statistics, or one terminal float op on exact inputs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table


@register(
    "orders_yoy_revenue_growth",
    oracle="""
    WITH y AS (
      SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2),
    g AS (
      SELECT o_orderpriority, yr, rev,
             lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY yr)
               AS prev
      FROM y)
    SELECT o_orderpriority, yr,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                      ELSE (CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
                           / CAST(prev AS DOUBLE) END, 4) AS yoy_growth
    FROM g
    """,
    tags=("sql", "window", "agg"),
)
def orders_yoy_revenue_growth(spark, sf_dir):
    """Year-over-year revenue growth per order priority — the standard
    reporting window (lag over the year dimension). Revenue accumulates
    as exact DECIMAL (order-free); the growth ratio is one terminal
    float expression on two exact decimals, rounded 4dp. The window
    runs over the (priority × year) aggregate — dimension cardinality,
    never the fact stream."""
    y = (table(spark, sf_dir, "orders")
         .groupBy("o_orderpriority",
                  F.year("o_orderdate").cast("int").alias("yr"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .alias("rev")))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    g = y.withColumn("prev", F.lag("rev").over(w))
    growth = F.when(
        F.col("prev").isNull() | (F.col("prev") == 0), F.lit(None)
    ).otherwise((F.col("rev").cast("double") - F.col("prev").cast("double"))
                / F.col("prev").cast("double"))
    return g.select(
        "o_orderpriority", "yr",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(growth, 4).alias("yoy_growth"))


@register(
    "part_price_histogram",
    oracle="""
    WITH s AS (SELECT min(p_retailprice) AS lo, max(p_retailprice) AS hi
               FROM part),
    b AS (SELECT CAST(least(floor((p_retailprice - s.lo) * 20.0
                                  / (s.hi - s.lo)), 19) AS INT) AS bucket
          FROM part, s)
    SELECT bucket, count(*) AS n FROM b GROUP BY bucket
    """,
    tags=("sql", "agg", "stats"),
)
def part_price_histogram(spark, sf_dir):
    """Equi-width 20-bucket histogram of part retail prices — the
    profiling primitive behind range-partition planning and data-skew
    dashboards. min/max ride as a broadcast 1-row aggregate (no
    separate jobs); bucketing is `floor((v−lo)·20/(hi−lo))` — the same
    double expression evaluated on identical inputs in both engines
    (single multiply/divide, no accumulation), clamped so v = hi lands
    in the last bucket. One scan + one tiny groupBy."""
    p = table(spark, sf_dir, "part")
    s = p.agg(F.min("p_retailprice").alias("lo"),
              F.max("p_retailprice").alias("hi"))
    return (p.crossJoin(F.broadcast(s))
            .select(F.least(
                F.floor((F.col("p_retailprice") - F.col("lo")) * 20.0
                        / (F.col("hi") - F.col("lo"))), F.lit(19))
                .cast("int").alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n")))


@register(
    "text_keyword_in_context",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    p AS (SELECT doc_id, CAST(i AS INT) AS pos
          FROM t, unnest(range(1, len(w) + 1)) AS g(i)
          WHERE w[i] = 'data'),
    k AS (SELECT p.doc_id, p.pos,
                 -- coalesce: DuckDB returns NULL for empty edge
                 -- slices where Spark's array_join gives ''
                 coalesce(array_to_string(
                   t.w[greatest(p.pos - 2, 1):p.pos - 1], ' '), '')
                   AS left_ctx,
                 coalesce(array_to_string(
                   t.w[p.pos + 1:least(p.pos + 2, len(t.w))], ' '), '')
                   AS right_ctx
          FROM p JOIN t ON p.doc_id = t.doc_id)
    SELECT doc_id, pos, left_ctx, right_ctx FROM k
    """,
    tags=("llm", "text"),
)
def text_keyword_in_context(spark, sf_dir):
    """Keyword-in-context (KWIC) extraction: every occurrence of a
    keyword with its ±2-word window — the corpus-inspection primitive
    behind contamination review and prompt-template mining.

    All structural array ops (posexplode + slice) in whole-stage
    codegen; positions are exact integers; output strings are direct
    token joins. Scale: the match filter lands before the context
    join, so only keyword hits (corpus-sparse) carry any cost; the
    per-doc token array never shuffles — the join back to `t` is by
    doc_id on the already-scanned relation."""
    t = (table(spark, sf_dir, "documents")
         .select("doc_id", F.split("text", " ").alias("w")))
    p = (t.select("doc_id", F.posexplode("w").alias("i", "tok"))
         .filter(F.col("tok") == "data")
         .select("doc_id", (F.col("i") + 1).alias("pos")))  # 1-based
    k = p.join(t, "doc_id")
    left = F.array_join(
        F.expr("slice(w, greatest(pos - 2, 1), "
               "pos - greatest(pos - 2, 1))"), " ")
    right = F.array_join(
        F.expr("slice(w, pos + 1, "
               "least(pos + 2, size(w)) - pos)"), " ")
    return k.select("doc_id", "pos", left.alias("left_ctx"),
                    right.alias("right_ctx"))


@register(
    "graph_common_neighbors",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_suppkey < b.l_suppkey),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    cn AS (SELECT a1.u AS u, a2.u AS v, count(*) AS common
           FROM adj a1 JOIN adj a2
             ON a1.v = a2.v AND a1.u < a2.u
           GROUP BY 1, 2)
    SELECT cn.u, cn.v, cn.common,
           CASE WHEN e.u IS NOT NULL THEN 1 ELSE 0 END AS is_edge
    FROM cn LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
    ORDER BY cn.common DESC, cn.u, cn.v LIMIT 50
    """,
    tags=("graph",),
)
def graph_common_neighbors(spark, sf_dir):
    """Common-neighbor counts for supplier pairs — THE classic
    link-prediction feature (pairs with many shared partners but no
    edge are the 'missing link' candidates an analyst inspects).

    Plan: the adaptive `operators/graph.py:common_neighbor_counts`
    kernel — packed-bitmap AND+popcount when the graph is small/dense
    (this one is 91% complete at sf0.1: the naive wedge self-join
    this query originally used enumerated Σ deg(w)² ≈ 8e8 wedge rows
    there and OOMed the 1-times-retry local executor; found by the
    first whole-registry sf0.1 parity run), wedge self-join in the
    large/sparse regime where bitmaps don't pay. Then left-join the
    edge list to flag existing edges. Top-50 by
    TakeOrderedAndProject with full tiebreak (common DESC, u, v) —
    deterministic, never a global sort. All integers."""
    from ..operators.graph import common_neighbor_counts
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_suppkey").select("u", "v")
    cn = common_neighbor_counts(e)
    flag = (cn.join(e.withColumn("is_edge", F.lit(1)), ["u", "v"], "left")
            .select("u", "v", "common",
                    F.coalesce("is_edge", F.lit(0)).alias("is_edge")))
    return flag.orderBy(F.desc("common"), "u", "v").limit(50)


@register(
    "events_intergap_buckets",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
    g AS (SELECT us - lag(us) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS gap
          FROM e),
    b AS (SELECT CASE WHEN gap < 1000000 THEN '<1s'
                      WHEN gap < 60000000 THEN '<1m'
                      WHEN gap < 3600000000 THEN '<1h'
                      WHEN gap < 86400000000 THEN '<1d'
                      ELSE '>=1d' END AS bucket
          FROM g WHERE gap IS NOT NULL)
    SELECT bucket, count(*) AS n FROM b GROUP BY bucket
    """,
    tags=("events", "stats"),
)
def events_intergap_buckets(spark, sf_dir):
    """Inter-event-time distribution in human-scale buckets (<1s, <1m,
    <1h, <1d, ≥1d) — the first diagnostic for session-gap tuning and
    bot detection (a spike in <1s gaps is automation). Integer µs
    threshold ladder — exact in any engine; one user-keyed window over
    the stream, then a 5-row aggregate."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.select((F.col("us") - F.lag("us").over(w)).alias("gap"))
    b = (g.filter(F.col("gap").isNotNull())
         .select(F.when(F.col("gap") < 1_000_000, "<1s")
                 .when(F.col("gap") < 60_000_000, "<1m")
                 .when(F.col("gap") < 3_600_000_000, "<1h")
                 .when(F.col("gap") < 86_400_000_000, "<1d")
                 .otherwise(">=1d").alias("bucket")))
    return b.groupBy("bucket").agg(F.count("*").alias("n"))


@register(
    "nation_yearly_rank_change",
    oracle="""
    WITH r AS (
      SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS yr,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    k AS (SELECT n_name, yr,
                 CAST(rank() OVER (PARTITION BY yr
                                   ORDER BY rev DESC, n_name) AS INT)
                   AS rnk
          FROM r)
    SELECT n_name, yr, rnk,
           CAST(lag(rnk) OVER (PARTITION BY n_name ORDER BY yr)
                - rnk AS INT) AS rank_gain
    FROM k
    """,
    tags=("sql", "window"),
)
def nation_yearly_rank_change(spark, sf_dir):
    """League-table movement: each nation's revenue rank within every
    year and its gain/loss versus the prior year — rank windows stacked
    on a lag window, the standard leaderboard-delta idiom. Ranks
    compare exact DECIMAL revenue (name tiebreak ⇒ total order ⇒
    deterministic ranks); output is all integers. Both windows run
    over the (nation × year) aggregate — dimension cardinality."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .alias("rev")))
    wr = Window.partitionBy("yr").orderBy(F.desc("rev"), "n_name")
    k = r.select("n_name", "yr",
                 F.rank().over(wr).cast("int").alias("rnk"))
    wl = Window.partitionBy("n_name").orderBy("yr")
    return k.select(
        "n_name", "yr", "rnk",
        (F.lag("rnk").over(wl) - F.col("rnk")).cast("int")
        .alias("rank_gain"))
