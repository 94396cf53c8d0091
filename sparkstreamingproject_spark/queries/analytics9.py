"""Round-4 continuation, wave 5 (round-5 driver-window candidates):
marketing attribution, market-basket association rules, next-word
suggestion. Exact-algebra discipline throughout (integer counts and
µs timestamps; terminal divisions only).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

_US_7D = 7 * 86_400_000_000


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type
      FROM events),
    t AS (
      SELECT user_id, us, event_id, event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN us END IGNORE NULLS)
               OVER w AS touch_us
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (
      SELECT coalesce(CASE WHEN us - touch_us <= {_US_7D}
                           THEN touch_type END, 'organic')
               AS attributed_to
      FROM t WHERE event_type = 'purchase')
    SELECT attributed_to, count(*) AS n_conversions
    FROM conv GROUP BY attributed_to
    """,
    tags=("events", "window", "analytics"),
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: every purchase is credited to the most
    recent non-purchase event by the same user within a 7-day
    lookback, else 'organic' — the marketing-analytics primitive
    behind every channel-ROI dashboard.

    One user-keyed ordered window with IGNORE NULLS `last_value`
    carries the latest touch (type, time) forward; the lookback is an
    exact integer-µs comparison applied at the conversion row. The
    window runs over the per-user event stream once; output is a
    touch-type-cardinality aggregate. All integers and strings —
    nothing float anywhere."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id",
        "event_type")
    w = (Window.partitionBy("user_id").orderBy("us", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch_t = F.last(F.when(F.col("event_type") != "purchase",
                            F.col("event_type")), ignorenulls=True).over(w)
    touch_u = F.last(F.when(F.col("event_type") != "purchase",
                            F.col("us")), ignorenulls=True).over(w)
    t = e.select("us", "event_type", touch_t.alias("touch_type"),
                 touch_u.alias("touch_us"))
    conv = (t.filter(F.col("event_type") == "purchase")
            .select(F.coalesce(
                F.when(F.col("us") - F.col("touch_us") <= _US_7D,
                       F.col("touch_type")),
                F.lit("organic")).alias("attributed_to")))
    return (conv.groupBy("attributed_to")
            .agg(F.count("*").alias("n_conversions")))


@register(
    "basket_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
    supp AS (SELECT p_brand, count(*) AS cnt FROM items GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS lhs, b.p_brand AS rhs, count(*) AS both_cnt
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2),
    rules AS (
      SELECT p.lhs, p.rhs, p.both_cnt,
             sa.cnt AS lhs_cnt, sb.cnt AS rhs_cnt, nb.n_baskets
      FROM pairs p
      JOIN supp sa ON p.lhs = sa.p_brand
      JOIN supp sb ON p.rhs = sb.p_brand, nb
      WHERE p.both_cnt * 100 >= nb.n_baskets)
    SELECT lhs, rhs, CAST(both_cnt AS BIGINT) AS both_cnt,
           round(both_cnt * 1.0 / n_baskets, 6) AS support,
           round(both_cnt * 1.0 / lhs_cnt, 6) AS confidence,
           round(both_cnt * 1.0 * n_baskets / (lhs_cnt * rhs_cnt), 6)
             AS lift
    FROM rules
    ORDER BY lift DESC, lhs, rhs LIMIT 25
    """,
    tags=("analytics", "join"),
)
def basket_association_rules(spark, sf_dir):
    """Market-basket association rules over order baskets: for brand
    pairs co-occurring in ≥1% of baskets, report support, confidence
    and lift — single-level Apriori, the classic retail co-purchase
    miner.

    The pair join is keyed on the basket id, so cost is Σ(items per
    basket)² — bounded by basket width (TPC-H orders hold ≤7 items),
    NEVER |items|²; the support filter prunes before the dimension
    joins. Counts are integers; support/confidence/lift are terminal
    divisions; top-25 by (lift, lhs, rhs) total order via
    TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    items = (li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                     li.l_partkey == p.p_partkey)
             .select("l_orderkey", "p_brand").distinct())
    nb = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    supp = items.groupBy("p_brand").agg(F.count("*").alias("cnt"))
    pairs = order_copairs(items, "p_brand").select(
        F.col("u").alias("lhs"), F.col("v").alias("rhs"),
        F.col("w").alias("both_cnt"))
    sa = supp.select(F.col("p_brand").alias("lhs"),
                     F.col("cnt").alias("lhs_cnt"))
    sb = supp.select(F.col("p_brand").alias("rhs"),
                     F.col("cnt").alias("rhs_cnt"))
    rules = (pairs.join(F.broadcast(sa), "lhs")
             .join(F.broadcast(sb), "rhs")
             .crossJoin(F.broadcast(nb))
             .filter(F.col("both_cnt") * 100 >= F.col("n_baskets")))
    out = rules.select(
        "lhs", "rhs", F.col("both_cnt").cast("long").alias("both_cnt"),
        F.round(F.col("both_cnt") * 1.0 / F.col("n_baskets"), 6)
        .alias("support"),
        F.round(F.col("both_cnt") * 1.0 / F.col("lhs_cnt"), 6)
        .alias("confidence"),
        F.round(F.col("both_cnt") * 1.0 * F.col("n_baskets")
                / (F.col("lhs_cnt") * F.col("rhs_cnt")), 6)
        .alias("lift"))
    return out.orderBy(F.desc("lift"), "lhs", "rhs").limit(25)


@register(
    "text_next_word_suggest",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    big AS (
      SELECT ws[i] AS w, ws[i + 1] AS nxt, count(*) AS cnt
      FROM w, unnest(range(1, len(ws))) AS g(i)
      GROUP BY 1, 2),
    tot AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS w_cnt
            FROM big GROUP BY w),
    r AS (
      SELECT b.w, b.nxt, b.cnt, t.w_cnt,
             row_number() OVER (PARTITION BY b.w
                                ORDER BY b.cnt DESC, b.nxt) AS rnk
      FROM big b JOIN tot t ON b.w = t.w)
    SELECT w, nxt, CAST(rnk AS INT) AS rnk,
           CAST(cnt AS BIGINT) AS cnt,
           round(cnt * 1.0 / w_cnt, 6) AS p
    FROM r WHERE rnk <= 3
    """,
    tags=("llm", "text"),
)
def text_next_word_suggest(spark, sf_dir):
    """Next-word suggestion table: the top-3 continuations of every
    word with conditional probability P(next|word) — the
    autocomplete / speculative-decoding lookup structure distilled
    from the corpus (the serving-side sibling of
    `text_bigram_lm_score`, which SCORES docs with these counts).

    Bigram pairing is a map-side higher-order-function zip (no
    self-join); counts aggregate once keyed by the pair; per-word
    ranking windows run over the bigram vocabulary — bounded by
    realized vocab², not corpus size. Integer counts; one terminal
    division per row."""
    w = (table(spark, sf_dir, "documents")
         .select("doc_id", F.split("text", " ").alias("ws"))
         # guard: Spark's sequence(1, 0) auto-steps DOWN; single-word
         # docs must produce no bigrams, as DuckDB's range(1, 1) does
         .filter(F.size("ws") >= 2))
    big = (w.select(F.explode(F.expr(
        "transform(sequence(1, size(ws) - 1), i -> "
        "struct(element_at(ws, i) AS w, element_at(ws, i + 1) AS nxt))"))
        .alias("b"))
        .groupBy("b.w", "b.nxt").agg(F.count("*").alias("cnt")))
    tot = big.groupBy("w").agg(F.sum("cnt").alias("w_cnt"))
    wr = Window.partitionBy("w").orderBy(F.desc("cnt"), "nxt")
    r = (big.join(tot, "w")
         .withColumn("rnk", F.row_number().over(wr))
         .filter(F.col("rnk") <= 3))
    return r.select(
        "w", "nxt", F.col("rnk").cast("int").alias("rnk"),
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") * 1.0 / F.col("w_cnt"), 6).alias("p"))


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH first AS (
      SELECT o_custkey,
             min(CAST(year(o_orderdate) * 12 + month(o_orderdate)
                      AS BIGINT)) AS cohort_mo
      FROM orders GROUP BY o_custkey),
    rev AS (
      SELECT f.cohort_mo,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                  AS BIGINT) - f.cohort_mo AS age,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    size_ AS (SELECT cohort_mo, count(*) AS n_customers
              FROM first GROUP BY cohort_mo),
    cum AS (
      SELECT r.cohort_mo, r.age, s.n_customers,
             CAST(sum(r.cents) OVER (PARTITION BY r.cohort_mo
                                     ORDER BY r.age) AS BIGINT) AS cum
      FROM rev r JOIN size_ s ON r.cohort_mo = s.cohort_mo)
    SELECT cohort_mo, age, CAST(n_customers AS BIGINT) AS n_customers,
           round(cum / 100.0, 2) AS cum_revenue,
           -- ltv at 4dp via integer round-half-up: float round() differs
           -- between engines exactly on representable .xxxx5 boundaries
           ((2 * cum * 100 + n_customers) // (2 * n_customers)) / 10000.0
             AS ltv_per_customer
    FROM cum WHERE age <= 12
    """,
    tags=("analytics", "window"),
)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: cumulative revenue per first-purchase-month
    cohort by months-since-acquisition, absolute and per customer —
    the companion of `cohort_retention_matrix` that tracks VALUE
    instead of presence (the number a growth team actually discounts
    against acquisition cost).

    The cohort assignment is one customer-keyed aggregate; revenue
    folds to (cohort × age) before the cumulative window, so the
    ordered window runs over a months² grid bounded by the time
    range. Integer cents throughout; two terminal divisions."""
    o = table(spark, sf_dir, "orders")
    mo = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    first = (o.groupBy("o_custkey")
             .agg(F.min(mo).alias("cohort_mo")))
    rev = (o.join(first, "o_custkey")
           .groupBy("cohort_mo", (mo - F.col("cohort_mo")).alias("age"))
           .agg(F.sum(F.expr(
               "CAST(round(o_totalprice * 100) AS BIGINT)"))
               .alias("cents")))
    size_ = first.groupBy("cohort_mo").agg(
        F.count("*").alias("n_customers"))
    w = (Window.partitionBy("cohort_mo").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (rev.join(F.broadcast(size_), "cohort_mo")
           .withColumn("cum", F.sum("cents").over(w)))
    # 4dp round-half-up in exact integer algebra (see oracle comment)
    ltv = (F.expr("(2 * cum * 100 + n_customers) div (2 * n_customers)")
           / 10000.0)
    return (cum.filter(F.col("age") <= 12)
            .select("cohort_mo", "age",
                    F.col("n_customers").cast("long"),
                    F.round(F.col("cum") / 100.0, 2).alias("cum_revenue"),
                    ltv.alias("ltv_per_customer")))


@register(
    "part_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey),
    cum AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey)
                  AS BIGINT) AS cum,
             CAST(sum(cents) OVER () AS BIGINT) AS tot
      FROM rev),
    cls AS (
      SELECT CASE WHEN (cum - cents) * 5 < tot * 4 THEN 'A'
                  WHEN (cum - cents) * 20 < tot * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, tot
      FROM cum)
    SELECT abc_class, count(*) AS n_parts,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS revenue,
           round(CAST(sum(cents) AS BIGINT) * 1.0 / max(tot), 6)
             AS revenue_share
    FROM cls
    GROUP BY abc_class
    """,
    tags=("analytics", "window"),
)
def part_abc_classification(spark, sf_dir):
    """ABC inventory classification: parts ranked by revenue, class A
    = the head covering the first 80% of cumulative revenue, B = next
    15%, C = the tail — the Pareto-banded sibling of
    `pareto_top_parts` that every supply-chain system materializes.

    Class boundaries use the EXCLUSIVE cumulative share ((cum−cents)
    vs thresholds) so each class is the set of parts whose prefix
    STARTS inside the band — integer cross-multiplication instead of
    a float share comparison, so the banding is exact. One hash agg
    to part cardinality, one ordered window over it, 3-row output."""
    li = table(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.expr(
               "CAST(round(l_extendedprice * 100) AS BIGINT)"))
               .alias("cents")))
    wc = (Window.orderBy(F.desc("cents"), "l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wa = Window.partitionBy()
    cum = rev.select(
        "cents", F.sum("cents").over(wc).alias("cum"),
        F.sum("cents").over(wa).alias("tot"))
    cls = cum.select(
        "cents", "tot",
        F.when((F.col("cum") - F.col("cents")) * 5 < F.col("tot") * 4, "A")
        .when((F.col("cum") - F.col("cents")) * 20 < F.col("tot") * 19,
              "B")
        .otherwise("C").alias("abc_class"))
    return (cls.groupBy("abc_class")
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
                 F.round(F.sum("cents") * 1.0 / F.max("tot"), 6)
                 .alias("revenue_share")))


@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH span AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS open_day,
             CAST(min(l.l_shipdate) AS DATE) AS close_day
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    delta AS (
      SELECT open_day AS day, 1 AS d FROM span
      UNION ALL
      SELECT close_day + 1 AS day, -1 AS d FROM span),
    daily AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS net
      FROM delta GROUP BY day)
    SELECT day,
           CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS open_orders
    FROM daily
    """,
    tags=("analytics", "window", "scale"),
)
def orders_open_backlog_daily(spark, sf_dir):
    """Daily open-order backlog: how many orders were placed but not
    yet (first-)shipped on each day — the operational WIP metric.

    Computed as a SWEEP LINE, the scale pattern interval problems
    want: every order contributes a +1 row at open and a −1 row the
    day after close; a day-keyed aggregate and one ordered prefix sum
    over the (bounded) day axis give the concurrent count. No
    interval join, no day×order explode — 100 TB of orders becomes
    2 rows each, then |days| rows. All integers."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    span = (o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey",
                     F.to_date("o_orderdate").alias("open_day"))
            .agg(F.to_date(F.min("l_shipdate")).alias("close_day")))
    delta = (span.select(F.col("open_day").alias("day"),
                         F.lit(1).alias("d"))
             .unionAll(span.select(
                 F.date_add("close_day", 1).alias("day"),
                 F.lit(-1).alias("d"))))
    daily = delta.groupBy("day").agg(F.sum("d").alias("net"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return daily.select(
        "day", F.sum("net").over(w).cast("long").alias("open_orders"))


# ------------------------------------------------ k-core peeling

_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled bounded-round k-core peel (loop at SQL-generation
    time, like the PageRank / k-means / BPE oracles)."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    parts = [f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    adj0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    deg{r} AS (SELECT u, count(*) AS d FROM adj{r - 1} GROUP BY u),
    keep{r} AS (SELECT u FROM deg{r} WHERE d >= {k}),
    adj{r} AS (
      SELECT a.u, a.v FROM adj{r - 1} a
      JOIN keep{r} ku ON a.u = ku.u
      JOIN keep{r} kv ON a.v = kv.u)""")
    parts.append(f"""
    SELECT u AS suppkey, CAST(count(*) AS BIGINT) AS degree
    FROM adj{rounds} GROUP BY u""")
    return "".join(parts)


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative"),
)
def graph_kcore_peel(spark, sf_dir):
    """Bounded k-core decomposition (k=2, 3 peel rounds) of the
    supplier co-occurrence graph: iteratively drop nodes with degree
    < k and the edges they carry — the standard graph-sparsification
    pass that strips hair before community detection or dense-
    subgraph mining. Output: surviving nodes with their in-core
    degree after 3 rounds (a fixpoint prefix; production runs peel
    until no change, each round one degree-aggregate + semi-join).

    Scale shape: edges come from the order-keyed self-join with
    bounded per-basket fanout (never all-pairs); each peel round is a
    hash aggregate over edges plus two semi-joins keyed on the node —
    cost O(|E|) per round with lineage cut by the bounded unroll.
    All integers."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_suppkey").select("u", "v")
    adj = e.unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
    for _ in range(_KCORE_ROUNDS):
        deg = adj.groupBy("u").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= _KCORE_K).select("u")
        adj = (adj.join(keep, "u", "left_semi")
               .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
               .select("u", "v"))
    return (adj.groupBy(F.col("u").alias("suppkey"))
            .agg(F.count("*").cast("long").alias("degree")))


@register(
    "events_new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(epoch_us(ts) // 86400000000) AS first_day
      FROM events GROUP BY user_id),
    d AS (
      SELECT e.user_id, epoch_us(e.ts) // 86400000000 AS day,
             f.first_day
      FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT day,
           count(DISTINCT CASE WHEN day = first_day
                               THEN user_id END) AS new_users,
           count(DISTINCT CASE WHEN day > first_day
                               THEN user_id END) AS returning_users
    FROM d GROUP BY day
    """,
    tags=("events", "analytics"),
)
def events_new_vs_returning(spark, sf_dir):
    """Daily new vs returning active users — the growth-accounting
    split (every DAU is exactly one of new/returning by first-seen
    day). First-seen is one user-keyed aggregate; the daily split is
    a conditional distinct-count over the day-joined stream. Integer
    epoch-day buckets (timezone-free); the same user shuffle serves
    both distinct counts."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") / 86_400_000_000).cast("long").alias("day"))
    f = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    d = ev.join(f, "user_id")
    return (d.groupBy("day")
            .agg(F.countDistinct(
                F.when(F.col("day") == F.col("first_day"),
                       F.col("user_id"))).alias("new_users"),
                F.countDistinct(
                F.when(F.col("day") > F.col("first_day"),
                       F.col("user_id"))).alias("returning_users")))


@register(
    "window_cume_dist_price",
    oracle="""
    SELECT p_brand, p_partkey,
           round(cume_dist() OVER w, 6) AS cd,
           round(percent_rank() OVER w, 6) AS pr
    FROM part
    WINDOW w AS (PARTITION BY p_brand
                 ORDER BY p_retailprice, p_partkey)
    """,
    tags=("sql", "window"),
)
def window_cume_dist_price(spark, sf_dir):
    """cume_dist + percent_rank over part prices within brand — the
    two distribution-position window functions not yet covered by
    `window_percent_ntile` (which pins percent_rank's sibling ntile).
    Both are rank/count ratios over exact integers with a total
    tiebreak, rounded 6dp identically."""
    w = Window.partitionBy("p_brand").orderBy("p_retailprice",
                                              "p_partkey")
    return (table(spark, sf_dir, "part")
            .select("p_brand", "p_partkey",
                    F.round(F.cume_dist().over(w), 6).alias("cd"),
                    F.round(F.percent_rank().over(w), 6).alias("pr")))


@register(
    "ts_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             count(*) AS x
      FROM events GROUP BY 1),
    f AS (
      SELECT day, x,
             lag(x, 7) OVER (ORDER BY day) AS forecast
      FROM daily),
    e AS (
      SELECT day, x, forecast,
             abs(x - forecast) AS abs_err
      FROM f WHERE forecast IS NOT NULL)
    SELECT count(*) AS n_days,
           CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
           round(CAST(sum(abs_err) AS BIGINT) * 1.0 / count(*), 4)
             AS mae,
           round(CAST(sum(abs_err) AS BIGINT) * 100.0
                 / CAST(sum(x) AS BIGINT), 4) AS wape_pct
    FROM e
    """,
    tags=("timeseries", "stats"),
)
def ts_seasonal_naive_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: forecast(day) = value(day−7),
    scored by MAE and WAPE over the whole history — the baseline every
    forecasting pipeline must beat, and the backtest harness that
    proves it, in one query.

    The lag-7 forecast is one ordered window over the daily aggregate;
    errors are integer |x − x₋₇| sums (WAPE = Σ|err|/Σactual avoids
    per-row MAPE division entirely, so no float accumulates); the two
    scores are terminal divisions."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.groupBy((F.unix_micros("ts") / 86_400_000_000)
                        .cast("long").alias("day"))
             .agg(F.count("*").alias("x")))
    w = Window.orderBy("day")
    f = daily.withColumn("forecast", F.lag("x", 7).over(w))
    e = (f.filter(F.col("forecast").isNotNull())
         .withColumn("abs_err", F.abs(F.col("x") - F.col("forecast"))))
    return e.agg(
        F.count("*").alias("n_days"),
        F.sum("abs_err").cast("long").alias("total_abs_err"),
        F.round(F.sum("abs_err") * 1.0 / F.count("*"), 4).alias("mae"),
        F.round(F.sum("abs_err") * 100.0 / F.sum("x"), 4)
        .alias("wape_pct"))


@register(
    "stat_spearman_rank",
    oracle="""
    WITH v AS (
      SELECT p_size AS a,
             CAST(round(p_retailprice * 100) AS BIGINT) AS b
      FROM part),
    r AS (
      -- average ranks doubled to stay integer under ties
      SELECT (CAST(min(ra) + max(ra) AS BIGINT)) AS ra2_grp, a, b,
             count(*) AS cnt
      FROM (SELECT a, b,
                   row_number() OVER (ORDER BY a, b) AS ra
            FROM v)
      GROUP BY a, b),
    e AS (
      -- re-expand: every row in a tie group gets the same avg rank
      SELECT a, b, ra2_grp FROM r, unnest(range(0, cnt)) AS g(i)),
    rb AS (
      SELECT ra2_grp AS ra2,
             (CAST(min(rb_) + max(rb_) AS BIGINT)) AS rb2_grp, a, b
      FROM (SELECT a, b, ra2_grp,
                   row_number() OVER (ORDER BY b, a) AS rb_
            FROM e)
      GROUP BY a, b, ra2_grp),
    eb AS (
      SELECT ra2, rb2_grp AS rb2
      FROM rb JOIN (SELECT a, b, count(*) AS cnt FROM v GROUP BY a, b) c
        ON rb.a = c.a AND rb.b = c.b,
           unnest(range(0, c.cnt)) AS g(i)),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(ra2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sa,
             CAST(sum(CAST(rb2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb,
             CAST(sum(CAST(ra2 AS DECIMAL(38,0)) * rb2) AS DECIMAL(38,0)) AS sab,
             CAST(sum(CAST(ra2 AS DECIMAL(38,0)) * ra2) AS DECIMAL(38,0)) AS saa,
             CAST(sum(CAST(rb2 AS DECIMAL(38,0)) * rb2) AS DECIMAL(38,0)) AS sbb
      FROM eb)
    SELECT CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
                 6) AS spearman_rho
    FROM s
    """,
    tags=("stats",),
)
def stat_spearman_rank(spark, sf_dir):
    """Spearman rank correlation between part size and retail price —
    the monotonic-association measure that complements the Pearson
    `stat_corr_matrix` (robust to nonlinearity and outliers because it
    correlates RANKS).

    Tie handling is the textbook average-rank, kept EXACT by doubling:
    each tie group's rank is min+max of its row_numbers (= 2× the
    average), so every accumulated sum is integer; Pearson's formula
    on the doubled ranks equals ρ on the true ranks (scale-invariant).
    The only floats are the two sqrt's and one division at the end.
    Ranking costs two ordered windows over the part dimension."""
    v = table(spark, sf_dir, "part").select(
        F.col("p_size").alias("a"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("b"))
    wa = Window.orderBy("a", "b")
    ra = (v.withColumn("ra", F.row_number().over(wa))
          .groupBy("a", "b")
          .agg((F.min("ra") + F.max("ra")).alias("ra2"),
               F.count("*").alias("cnt")))
    wb = Window.orderBy("b", "a")
    # expand tie groups back to row multiplicity, then rank by b
    e = ra.select("a", "b", "ra2",
                  F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("i"))
    rb = (e.withColumn("rb_", F.row_number().over(wb))
          .groupBy("a", "b", "ra2")
          .agg((F.min("rb_") + F.max("rb_")).alias("rb2"),
               F.count("*").alias("cnt")))
    eb = rb.select("ra2", "rb2",
                   F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("i"))
    # doubled-rank moments square (Σr ≈ n², Σr·r ≈ 4n³) past int64 once
    # the part dimension nears ~1.5e9 keys (SF ~1e4): accumulate in
    # exact DECIMAL(38,0) (headroom to n ≈ 4e12), then assemble
    # n·Σab − Σa·Σb IN DOUBLE — the n⁴-scale cross terms exceed even
    # 128-bit integers at that n, and the identical fixed-arity float
    # expression on both engines is the honest terminal (the
    # `graph_degree_assortativity` recipe)
    dec = "decimal(38,0)"
    s = eb.agg(F.count("*").alias("n"),
               F.sum(F.col("ra2").cast(dec)).cast(dec).alias("sa"),
               F.sum(F.col("rb2").cast(dec)).cast(dec).alias("sb"),
               F.sum(F.col("ra2").cast(dec) * F.col("rb2")).cast(dec)
               .alias("sab"),
               F.sum(F.col("ra2").cast(dec) * F.col("ra2")).cast(dec)
               .alias("saa"),
               F.sum(F.col("rb2").cast(dec) * F.col("rb2")).cast(dec)
               .alias("sbb"))
    nd = F.col("n").cast("double")
    sad, sbd = F.col("sa").cast("double"), F.col("sb").cast("double")
    num = nd * F.col("sab").cast("double") - sad * sbd
    den = (F.sqrt(nd * F.col("saa").cast("double") - sad * sad)
           * F.sqrt(nd * F.col("sbb").cast("double") - sbd * sbd))
    return s.select(F.col("n").cast("long").alias("n"),
                    F.round(num / den, 6).alias("spearman_rho"))
