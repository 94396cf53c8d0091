"""Round-9 analytics wave 1: Yule-Walker AR(2) fit + forecast, Katz
centrality by exact-integer iteration, and the Hodges-Lehmann shift
estimator.

Cross-engine discipline as everywhere in the registry: moment
accumulations in DECIMAL(38,0)/BIGINT, ACF inputs rounded to 6dp
BEFORE any recursion so both engines recurse on identical doubles,
order statistics via row_number with full tiebreaks (never
interpolating aggregates over floats), iterative kernels on exact
integers with one terminal float divide.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .analytics28 import _acf_expr_sql
from .base import register, table

# ------------------------------------------------ Yule-Walker AR(2)

# shared recursion text (both engines run the same expression tree on
# 6dp-rounded r1/r2 and exact mu / last observations)
_YW_PHI1 = "r1 * (1.0 - r2) / (1.0 - r1 * r1)"
_YW_PHI2 = "(r2 - r1 * r1) / (1.0 - r1 * r1)"


def _yw_oracle() -> str:
    leads = ",\n             ".join(
        f"lead(x, {k}) OVER (ORDER BY d) AS x{k}" for k in (1, 2))
    aggs = ",\n             ".join(
        f"CAST(sum(CAST(x AS DECIMAL(38,0)) * x{k}) AS DECIMAL(38,0))"
        f" AS p{k},\n             "
        f"CAST(sum(CASE WHEN x{k} IS NOT NULL THEN x ELSE 0 END)"
        f" AS BIGINT) AS a{k},\n             "
        f"CAST(sum(x{k}) AS BIGINT) AS b{k}"
        for k in (1, 2))
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (SELECT x, {leads} FROM daily),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
               AS q,
             {aggs}
      FROM l),
    tail2 AS (
      SELECT max(CASE WHEN rn = 1 THEN x END) AS x_last,
             max(CASE WHEN rn = 2 THEN x END) AS x_prev
      FROM (SELECT x, row_number() OVER (ORDER BY d DESC) AS rn
            FROM daily)
      ),
    acf AS (
      SELECT {_acf_expr_sql(1)} AS r1, {_acf_expr_sql(2)} AS r2,
             CAST(s AS DOUBLE) / n AS mu
      FROM g),
    fit AS (
      SELECT r1, r2, mu, x_last, x_prev,
             {_YW_PHI1} AS phi1, {_YW_PHI2} AS phi2
      FROM acf CROSS JOIN tail2),
    fc AS (
      SELECT phi1, phi2, mu, x_last,
             mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu) AS f1
      FROM fit)
    SELECT round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
           round(f1, 4) AS forecast_h1,
           round(mu + phi1 * (f1 - mu) + phi2 * (x_last - mu), 4)
             AS forecast_h2
    FROM fc
    """


@register(
    "ts_yule_walker_ar2",
    oracle=_yw_oracle(),
    tags=("timeseries", "stat"),
)
def ts_yule_walker_ar2(spark, sf_dir):
    """AR(2) fit of the daily order-count series by the Yule-Walker
    equations plus the 1- and 2-step-ahead forecasts — the third leg
    of the Box-Jenkins triple (ACF `ts_autocorrelation_lags`
    identifies, PACF `ts_pacf_durbin` orders, Yule-Walker fits):
    phi1 = r1(1-r2)/(1-r1²), phi2 = (r2-r1²)/(1-r1²), and forecasts
    in deviation-from-mean form re-using phi-hat.

    Exactness: r1/r2 come from the certified exact DECIMAL(38,0) ACF
    algebra rounded to 6dp BEFORE the fit; mu is one exact-integer
    divide; the last two observations are exact order statistics.
    Both engines evaluate one shared expression tree from there.
    Scale: identical to the ACF — the fact stream collapses to the
    day grain first; everything after is scalar."""
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    w = Window.orderBy("d")
    lagged = daily.select(
        "x", *[F.lead("x", k).over(w).alias(f"x{k}") for k in (1, 2)])
    dec = "decimal(38,0)"
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("q")]
    for k in (1, 2):
        aggs += [
            F.sum(F.col("x").cast(dec) * F.col(f"x{k}")).cast(dec)
            .alias(f"p{k}"),
            F.sum(F.when(F.col(f"x{k}").isNotNull(), F.col("x"))
                  .otherwise(0)).cast("long").alias(f"a{k}"),
            F.sum(f"x{k}").cast("long").alias(f"b{k}")]
    g = lagged.agg(*aggs)
    wd = Window.orderBy(F.col("d").desc())
    tail2 = (daily.withColumn("rn", F.row_number().over(wd))
             .filter(F.col("rn") <= 2)
             .agg(F.max(F.when(F.col("rn") == 1, F.col("x")))
                  .alias("x_last"),
                  F.max(F.when(F.col("rn") == 2, F.col("x")))
                  .alias("x_prev")))
    acf = g.selectExpr(f"{_acf_expr_sql(1)} AS r1",
                       f"{_acf_expr_sql(2)} AS r2",
                       "CAST(s AS DOUBLE) / n AS mu")
    fit = (acf.crossJoin(F.broadcast(tail2))
           .selectExpr("r1", "r2", "mu", "x_last", "x_prev",
                       f"{_YW_PHI1} AS phi1", f"{_YW_PHI2} AS phi2"))
    fc = fit.selectExpr(
        "phi1", "phi2", "mu", "x_last",
        "mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu) AS f1")
    return fc.selectExpr(
        "round(phi1, 6) AS phi1", "round(phi2, 6) AS phi2",
        "round(f1, 4) AS forecast_h1",
        "round(mu + phi1 * (f1 - mu) + phi2 * (x_last - mu), 4)"
        " AS forecast_h2")


# ------------------------------------------------ Katz centrality

_KATZ_ROUNDS = 4
_KATZ_INV_ALPHA = 200  # alpha = 1/200 < 1/lambda_max for this graph
_KATZ_TOP = 20


def _katz_oracle() -> str:
    steps = []
    for i in range(_KATZ_ROUNDS):
        scale = _KATZ_INV_ALPHA ** (i + 1)
        steps.append(f"""
    x{i + 1} AS MATERIALIZED (
      SELECT d.b AS node,
             CAST(sum(x.v) + {scale} AS DECIMAL(38,0)) AS v
      FROM dir d JOIN x{i} x ON x.node = d.a
      GROUP BY d.b)""")
    final_scale = _KATZ_INV_ALPHA ** _KATZ_ROUNDS
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    dir AS MATERIALIZED (SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v, u FROM e),
    x0 AS MATERIALIZED (
      SELECT DISTINCT a AS node, CAST(1 AS DECIMAL(38,0)) AS v
      FROM dir),{",".join(steps)}
    SELECT node, round(CAST(v AS DOUBLE) / {final_scale}, 6) AS katz,
           CAST(rank AS INT) AS rank
    FROM (SELECT node, v,
                 row_number() OVER (ORDER BY v DESC, node) AS rank
          FROM x{_KATZ_ROUNDS})
    WHERE rank <= {_KATZ_TOP}
    """


@register(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    tags=("graph",),
)
def graph_katz_centrality(spark, sf_dir):
    """Katz centrality on the part co-occurrence graph, top-20 — the
    walk-counting centrality (x = Σ_k α^k A^k·1) that PageRank's
    damping approximates; bounded to {_KATZ_ROUNDS} terms like the
    registry's other iterative kernels so both engines run the same
    rounds.

    EXACT-INTEGER iteration (the PageRank float-drift problem
    engineered away): with α = 1/{_KATZ_INV_ALPHA}, track
    X_k = x_k·{_KATZ_INV_ALPHA}^k, giving the pure-integer recurrence
    X_(k+1)(v) = Σ_(u→v) X_k(u) + {_KATZ_INV_ALPHA}^(k+1) in
    DECIMAL(38,0) — bit-identical across engines and partitionings;
    ONE terminal float divide by {_KATZ_INV_ALPHA}^{_KATZ_ROUNDS}
    and a 6dp round. Ranking compares exact integers.

    Scale shape: each round is one edge⋈vector join + aggregate (the
    PageRank/label-prop shuffle), lineage-cut per round via
    localCheckpoint; top-20 is a heap (TakeOrdered), not a global
    sort. Edge generation is the shared order-key self-join."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_partkey").select("u", "v")
    dirn = (e.select(F.col("u").alias("na"), F.col("v").alias("nb"))
            .unionAll(e.select(F.col("v").alias("na"),
                               F.col("u").alias("nb"))))
    dirn = dirn.localCheckpoint()
    dec = "decimal(38,0)"
    x = (dirn.select(F.col("na").alias("node")).distinct()
         .withColumn("v", F.lit(1).cast(dec))
         .localCheckpoint())
    for i in range(_KATZ_ROUNDS):
        scale = _KATZ_INV_ALPHA ** (i + 1)
        x = (dirn.join(x.withColumnRenamed("node", "na"), "na")
             .groupBy(F.col("nb").alias("node"))
             .agg((F.sum("v") + F.lit(scale)).cast(dec).alias("v"))
             .localCheckpoint())
    w = Window.orderBy(F.col("v").desc(), "node")
    final_scale = _KATZ_INV_ALPHA ** _KATZ_ROUNDS
    return (x.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _KATZ_TOP)
            .select("node",
                    F.round(F.col("v").cast("double") / final_scale, 6)
                    .alias("katz"),
                    F.col("rank").cast("int").alias("rank")))


# ------------------------------------------------ Hodges-Lehmann shift

_HL_BASE = "1-URGENT"


@register(
    "stat_hodges_lehmann_shift",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority AS pri,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    p AS (
      SELECT b.pri, b.cents - a.cents AS diff,
             a.mo AS mi, b.mo AS mj
      FROM m a JOIN m b
        ON a.pri = '{_HL_BASE}' AND b.pri <> '{_HL_BASE}'),
    r AS (
      SELECT pri, diff,
             row_number() OVER (PARTITION BY pri
                                ORDER BY diff, mi, mj) AS rn,
             count(*) OVER (PARTITION BY pri) AS n
      FROM p)
    SELECT pri, CAST(max(n) AS BIGINT) AS n_pairs,
           round(avg(CAST(diff AS DOUBLE)) / 100.0, 4) AS hl_shift
    FROM r
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY pri
    """,
    tags=("stats",),
)
def stat_hodges_lehmann_shift(spark, sf_dir):
    """Hodges-Lehmann shift estimator of each priority's monthly
    revenue vs the {_HL_BASE} baseline: the MEDIAN of all cross
    pairwise differences — the location-shift companion of the
    rank-sum test (`stat_mann_whitney_u`) and the robust sibling of
    a difference in means, immune to the outlier months.

    Pair volume is quadratic in MONTHS (time-range constant, ~80² per
    priority), never in rows — the fact stream collapses to the
    monthly grain first (the Theil-Sen discipline). Differences are
    exact integers (cents); the median is an exact order statistic
    via row_number with a full (diff, mi, mj) tiebreak, averaging the
    two middle elements on even counts — a two-operand sum, not an
    accumulation."""
    m = (table(spark, sf_dir, "orders")
         .groupBy(F.col("o_orderpriority").alias("pri"),
                  (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                  .cast("long").alias("mo"))
         .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .alias("cents")))
    base = (m.filter(F.col("pri") == _HL_BASE)
            .select(F.col("mo").alias("mi"), F.col("cents").alias("ca")))
    rest = (m.filter(F.col("pri") != _HL_BASE)
            .select("pri", F.col("mo").alias("mj"),
                    F.col("cents").alias("cb")))
    p = (rest.crossJoin(F.broadcast(base))
         .select("pri", (F.col("cb") - F.col("ca")).alias("diff"),
                 "mi", "mj"))
    wr = Window.partitionBy("pri").orderBy("diff", "mi", "mj")
    wn = Window.partitionBy("pri")
    r = p.select("pri", "diff",
                 F.row_number().over(wr).alias("rn"),
                 F.count("*").over(wn).alias("n"))
    mid = r.filter((F.col("rn") == F.expr("(n + 1) div 2"))
                   | (F.col("rn") == F.expr("(n + 2) div 2")))
    return (mid.groupBy("pri")
            .agg(F.max("n").cast("long").alias("n_pairs"),
                 F.round(F.avg(F.col("diff").cast("double")) / 100.0, 4)
                 .alias("hl_shift")))


# ------------------------------------------------ Croston intermittent

_CR_MOD = 199     # deterministic sparse-part selection
_CR_WIN = 32      # SES window: last 32 demand events (2^31 scale fits)


@register(
    "ts_croston_intermittent",
    oracle=f"""
    WITH d AS (
      SELECT l_partkey AS pk,
             datediff('day', DATE '1992-01-01',
                      CAST(l_shipdate AS DATE)) AS day,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x
      FROM lineitem WHERE l_partkey % {_CR_MOD} = 0
      GROUP BY 1, 2),
    lastw AS (
      SELECT pk, day, x,
             row_number() OVER (PARTITION BY pk ORDER BY day DESC) AS rd,
             count(*) OVER (PARTITION BY pk) AS n_events
      FROM d),
    w AS (
      SELECT pk, day, x, n_events,
             row_number() OVER (PARTITION BY pk ORDER BY day) AS t,
             count(*) OVER (PARTITION BY pk) AS m,
             day - lag(day) OVER (PARTITION BY pk ORDER BY day) AS gap
      FROM lastw WHERE rd <= {_CR_WIN}),
    agg AS (
      SELECT pk, max(n_events) AS n_events, max(m) AS m,
             CAST(sum(x * (CASE WHEN t = 1 THEN 1::BIGINT
                           ELSE 1::BIGINT << CAST(t - 2 AS INT) END))
                  AS BIGINT) AS z,
             CAST(sum(CASE WHEN t >= 2 THEN gap *
                       (CASE WHEN t = 2 THEN 1::BIGINT
                        ELSE 1::BIGINT << CAST(t - 3 AS INT) END)
                       ELSE 0 END) AS BIGINT) AS p
      FROM w GROUP BY pk HAVING max(m) >= 2 AND
             CAST(sum(CASE WHEN t >= 2 THEN gap ELSE 0 END) AS BIGINT) > 0)
    SELECT pk AS partkey, CAST(n_events AS BIGINT) AS n_events,
           CAST(m AS BIGINT) AS m_used,
           round(z / (2.0 ^ CAST(m - 1 AS INT)), 6) AS z_hat,
           round(p / (2.0 ^ CAST(m - 2 AS INT)), 6) AS p_hat,
           round(z / (2.0 * p), 6) AS croston_forecast
    FROM agg
    """,
    tags=("timeseries", "forecast"),
)
def ts_croston_intermittent(spark, sf_dir):
    """Croston's method for intermittent demand on sparse parts
    (every {_CR_MOD}th part key): separate exponential smoothing of
    the nonzero demand SIZES and the inter-demand INTERVALS, forecast
    = z-hat / p-hat — the standard spare-parts forecaster where
    ordinary SES just decays to zero between demands
    (`ts_holt_linear_forecast` is the dense-series sibling).

    EXACT SES: with alpha = 1/2 over the last {_CR_WIN} demand
    events, the smoothed value is z-hat = Z / 2^(m-1) where
    Z = x_1 + Σ_(t≥2) x_t·2^(t-2) is a pure BIGINT dot product with
    power-of-two weights — and dividing by 2^k only changes the
    float exponent, so z-hat is EXACT in both engines; same for the
    interval series (m-1 gaps, scale 2^(m-2)). The forecast ratio
    collapses to Z/(2·P) — one float divide. The {_CR_WIN}-event
    truncation is the documented state bound (weights below 2^-31
    are beneath 6dp anyway).

    Scale shape: demand series collapse to (part, day) grain first;
    the SES is one windowed pass per key — at 100 TB this is the
    per-SKU forecast job, key-partitioned, no cross-key traffic."""
    d = (table(spark, sf_dir, "lineitem")
         .filter(F.col("l_partkey") % _CR_MOD == 0)
         .groupBy(F.col("l_partkey").alias("pk"),
                  F.datediff(F.col("l_shipdate").cast("date"),
                             F.lit("1992-01-01")).alias("day"))
         .agg(F.sum(F.expr("CAST(round(l_quantity) AS BIGINT)"))
              .cast("long").alias("x")))
    wd = Window.partitionBy("pk").orderBy(F.col("day").desc())
    wk = Window.partitionBy("pk")
    lastw = d.select(
        "pk", "day", "x",
        F.row_number().over(wd).alias("rd"),
        F.count("*").over(wk).alias("n_events"))
    wa = Window.partitionBy("pk").orderBy("day")
    w = (lastw.filter(F.col("rd") <= _CR_WIN)
         .select("pk", "day", "x", "n_events",
                 F.row_number().over(wa).alias("t"),
                 F.count("*").over(wk).alias("m"),
                 (F.col("day") - F.lag("day").over(wa)).alias("gap")))
    zterm = F.col("x") * F.when(
        F.col("t") == 1, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(t - 2 AS INT))"))
    pterm = F.when(F.col("t") >= 2, F.col("gap") * F.when(
        F.col("t") == 2, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(t - 3 AS INT))"))) \
        .otherwise(0)
    agg = (w.groupBy("pk")
           .agg(F.max("n_events").alias("n_events"),
                F.max("m").alias("m"),
                F.sum(zterm).cast("long").alias("z"),
                F.sum(pterm).cast("long").alias("p"),
                F.sum(F.when(F.col("t") >= 2, F.col("gap"))
                      .otherwise(0)).cast("long").alias("gap_sum"))
           .filter((F.col("m") >= 2) & (F.col("gap_sum") > 0)))
    return agg.select(
        F.col("pk").alias("partkey"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("m").cast("long").alias("m_used"),
        F.round(F.col("z") / F.pow(F.lit(2.0), F.col("m") - 1), 6)
        .alias("z_hat"),
        F.round(F.col("p") / F.pow(F.lit(2.0), F.col("m") - 2), 6)
        .alias("p_hat"),
        F.round(F.col("z") / (2.0 * F.col("p")), 6)
        .alias("croston_forecast"))


# ------------------------------------------------ Mood's median test

_MOOD_PRIS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]


def _mood_oracle() -> str:
    grp = " ".join(
        f"WHEN o_orderpriority = '{p}' THEN {i + 1}"
        for i, p in enumerate(_MOOD_PRIS))
    cells = ",\n             ".join(
        f"CAST(sum(CASE WHEN grp = {i + 1} AND 2 * cents > med2 "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS a{i + 1},\n             "
        f"CAST(sum(CASE WHEN grp = {i + 1} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n{i + 1}"
        for i in range(5))
    d_terms = " + ".join(
        f"CAST(CAST(nn AS DECIMAL(38,0)) * a{i + 1}"
        f" - CAST(n{i + 1} AS DECIMAL(38,0)) * aa AS DOUBLE)"
        f" * CAST(CAST(nn AS DECIMAL(38,0)) * a{i + 1}"
        f" - CAST(n{i + 1} AS DECIMAL(38,0)) * aa AS DOUBLE)"
        f" / n{i + 1}" for i in range(5))
    return f"""
    WITH p AS (
      SELECT CASE {grp} END AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    md AS (SELECT CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2
           FROM p),
    c AS (
      SELECT {cells}
      FROM p CROSS JOIN md),
    t AS (
      SELECT *, a1 + a2 + a3 + a4 + a5 AS aa,
             n1 + n2 + n3 + n4 + n5 AS nn
      FROM c)
    SELECT CAST(aa AS BIGINT) AS n_above, CAST(nn AS BIGINT) AS n_total,
           round(({d_terms})
                 / (CAST(aa AS DOUBLE) * (nn - aa)), 4) AS chi2
    FROM t
    """


@register(
    "stat_mood_median_test",
    oracle=_mood_oracle(),
    tags=("stats",),
)
def stat_mood_median_test(spark, sf_dir):
    """Mood's median test across the five order priorities: does each
    group put the same share of orders above the POOLED median price?
    The coarsest, most outlier-proof k-sample location test — the
    counting sibling of `stat_kruskal_wallis` (which uses full
    ranks).

    Exactness: counts above the doubled pooled median (the exact
    `med2` integer trick) are integers; the chi-square collapses
    algebraically to Σ_i D_i²/n_i / (A·B) with D_i = N·a_i - n_i·A
    exact DECIMAL integers, evaluated as ONE fixed-order expression
    tree over the five per-group columns (conditional aggregation
    pivots groups into columns, so no float accumulation order
    exists). One terminal divide + 4dp round.

    Scale: one pass to the per-group counts (map-side combinable),
    one exact median over the cents histogram — the same state bound
    as every med2 query."""
    grp = F.when(F.col("o_orderpriority") == _MOOD_PRIS[0], 1)
    for i, pr in enumerate(_MOOD_PRIS[1:], 2):
        grp = grp.when(F.col("o_orderpriority") == pr, i)
    p = (table(spark, sf_dir, "orders")
         .select(grp.alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    md = p.agg((F.expr("percentile(cents, 0.5)") * 2)
               .cast("long").alias("med2"))
    cells = []
    for i in range(1, 6):
        cells.append(F.sum(F.when((F.col("grp") == i)
                                  & (2 * F.col("cents") > F.col("med2")),
                                  1).otherwise(0))
                     .cast("long").alias(f"a{i}"))
        cells.append(F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
                     .cast("long").alias(f"n{i}"))
    c = p.crossJoin(F.broadcast(md)).agg(*cells)
    t = c.selectExpr("*", "a1 + a2 + a3 + a4 + a5 AS aa",
                     "n1 + n2 + n3 + n4 + n5 AS nn")
    d_terms = " + ".join(
        f"CAST(CAST(nn AS DECIMAL(38,0)) * a{i}"
        f" - CAST(n{i} AS DECIMAL(38,0)) * aa AS DOUBLE)"
        f" * CAST(CAST(nn AS DECIMAL(38,0)) * a{i}"
        f" - CAST(n{i} AS DECIMAL(38,0)) * aa AS DOUBLE)"
        f" / n{i}" for i in range(1, 6))
    return t.selectExpr(
        "CAST(aa AS BIGINT) AS n_above", "CAST(nn AS BIGINT) AS n_total",
        f"round(({d_terms}) / (CAST(aa AS DOUBLE) * (nn - aa)), 4)"
        " AS chi2")


# ------------------------------------------------ MAD robust outliers


@register(
    "dq_outlier_mad_robust",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    m AS (SELECT pri, CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT)
                 AS med2
          FROM p GROUP BY pri),
    dev AS (
      SELECT p.pri, p.cents, m.med2,
             abs(2 * p.cents - m.med2) AS dev2
      FROM p JOIN m ON m.pri = p.pri),
    md AS (SELECT pri, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT)
                  AS mad4
           FROM dev GROUP BY pri)
    SELECT d.pri,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN 1349 * abs(2 * d.cents - d.med2)
                              > 3500 * md.mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(sum(CASE WHEN 1349 * abs(2 * d.cents - d.med2)
                               > 3500 * md.mad4
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS outlier_share,
           round(max(md.mad4) / 400.0, 2) AS mad
    FROM dev d JOIN md ON md.pri = d.pri
    GROUP BY d.pri
    """,
    tags=("dq", "stats"),
)
def dq_outlier_mad_robust(spark, sf_dir):
    """Robust outlier screen per order priority by the modified
    z-score (Iglewicz-Hoaglin): |0.6745·(x-median)/MAD| > 3.5 — the
    estimator whose breakdown point (50%) survives the very outliers
    it hunts, unlike the IQR fence (`dq_expectations_report`) whose
    quartiles a heavy tail drags.

    PURE-INTEGER decision: with doubled medians (med2 = 2·median,
    exact for integer cents) and doubled deviation medians
    (mad4 = 4·MAD), the threshold 0.6745·2·|2x-med2|/mad4 > 3.5
    cross-multiplies to 1349·|2x-med2| > 3500·mad4 — integers on
    both sides, no float ever compared. The reported MAD is the one
    terminal divide (mad4/4, in currency units /100).

    Scale: two exact medians per group over the cents histogram +
    one counting pass — the med2 state bound; at 100 TB the medians
    come from the same bounded value-histogram every med2 query
    uses."""
    p = (table(spark, sf_dir, "orders")
         .select(F.col("o_orderpriority").alias("pri"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    m = (p.groupBy("pri")
         .agg((F.expr("percentile(cents, 0.5)") * 2)
              .cast("long").alias("med2")))
    dev = (p.join(F.broadcast(m), "pri")
           .select("pri", "cents", "med2",
                   F.abs(2 * F.col("cents") - F.col("med2"))
                   .alias("dev2")))
    md = (dev.groupBy("pri")
          .agg((F.expr("percentile(dev2, 0.5)") * 2)
               .cast("long").alias("mad4")))
    flag = (1349 * F.abs(2 * F.col("cents") - F.col("med2"))
            > 3500 * F.col("mad4"))
    return (dev.join(F.broadcast(md), "pri")
            .groupBy("pri")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.when(flag, 1).otherwise(0)).cast("long")
                 .alias("n_outliers"),
                 F.round(F.sum(F.when(flag, 1).otherwise(0))
                         / F.count("*").cast("double"), 6)
                 .alias("outlier_share"),
                 F.round(F.max("mad4") / 400.0, 2).alias("mad")))


# ------------------------------------------------ Ansari-Bradley scale

# shared z expression (exact DECIMAL numerators, one terminal sqrt):
# null moments of the AB statistic differ by parity of N.
_AB_Z = (
    "CASE WHEN nn % 2 = 0 THEN "
    "CAST(4 * CAST(ab AS DECIMAL(38,0)) - CAST(n1 AS DECIMAL(38,0))"
    " * (nn + 2) AS DOUBLE)"
    " / (4.0 * sqrt(CAST(CAST(n1 AS DECIMAL(38,0)) * n2 * (nn + 2)"
    " * (nn - 2) AS DOUBLE) / (48.0 * (nn - 1))))"
    " ELSE "
    "CAST(4 * CAST(nn AS DECIMAL(38,0)) * ab"
    " - CAST(n1 AS DECIMAL(38,0)) * (nn + 1) * (nn + 1) AS DOUBLE)"
    " / (4.0 * CAST(nn AS DOUBLE)"
    " * sqrt(CAST(CAST(n1 AS DECIMAL(38,0)) * n2 * (nn + 1)"
    " * (3 + CAST(nn AS DECIMAL(38,0)) * nn) AS DOUBLE)"
    " / (48.0 * CAST(CAST(nn AS DECIMAL(38,0)) * nn AS DOUBLE)))) END")


@register(
    "stat_ansari_bradley_scale",
    oracle=f"""
    WITH p AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
               AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey AS okey
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    r AS (
      SELECT grp,
             row_number() OVER (ORDER BY cents, okey) AS rn,
             count(*) OVER () AS nn
      FROM p),
    s AS (
      SELECT grp, least(rn, nn + 1 - rn) AS score FROM r),
    a AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(sum(CASE WHEN grp = 1 THEN score ELSE 0 END)
                  AS BIGINT) AS ab
      FROM s),
    t AS (SELECT n1, n2, n1 + n2 AS nn, ab FROM a)
    SELECT n1, n2, ab AS ab_sum, round({_AB_Z}, 4) AS z
    FROM t
    """,
    tags=("stats",),
)
def stat_ansari_bradley_scale(spark, sf_dir):
    """Ansari-Bradley test for a SCALE (dispersion) difference between
    URGENT and LOW order prices: rank from both ends inward
    (score = min(rank, N+1-rank)), so a group concentrated near the
    pooled median scores high — the rank test for variance that
    pairs with `stat_mann_whitney_u` (location) and `stat_levene_test`
    (the moment-based scale test).

    Deterministic-tiebreak variant: ranks use the TOTAL order
    (cents, orderkey) rather than midranks, so every score is an
    exact integer in both engines (midrank AB scores carry
    per-tie-block rational denominators that no common scaling
    clears; the orderkey tiebreak is the documented deterministic
    resolution, like the registry's other full-tiebreak order
    statistics). The z uses the exact null moments (parity-split
    closed forms) with DECIMAL(38,0) numerators and one terminal
    sqrt.

    Scale note: score assignment is one ordered pass here; at 100 TB
    ranks come from the standard two-pass range-partitioned ranking
    (per-partition counts → prefix offsets), identical algebra."""
    p = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(2).alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents"),
                 F.col("o_orderkey").alias("okey")))
    wr = Window.orderBy("cents", "okey")
    wn = Window.partitionBy()
    r = p.select("grp",
                 F.row_number().over(wr).alias("rn"),
                 F.count("*").over(wn).alias("nn"))
    s = r.select("grp",
                 F.least(F.col("rn"), F.col("nn") + 1 - F.col("rn"))
                 .alias("score"))
    a = s.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("score")).otherwise(0))
        .cast("long").alias("ab"))
    t = a.selectExpr("n1", "n2", "n1 + n2 AS nn", "ab")
    return t.selectExpr("n1", "n2", "ab AS ab_sum",
                        f"round({_AB_Z}, 4) AS z")


# ------------------------------------------------ HyperANF

_HA_M = 8       # HLL registers per vertex (8 B sketch state each)
_HA_ROUNDS = 2  # neighborhood function N(0), N(1), N(2)
_HA_ALPHA_NUM = (0.7213 / (1 + 1.079 / _HA_M)) * (_HA_M * _HA_M)
_HA_2_33 = 8589934592  # 2^33


def _hyperanf_oracle() -> str:
    rounds = []
    ests = []
    for h in range(_HA_ROUNDS + 1):
        if h > 0:
            rounds.append(f""",
    r{h} AS MATERIALIZED (
      SELECT node, bucket, max(m) AS m
      FROM (SELECT d.b AS node, r.bucket, r.m
            FROM dir d JOIN r{h - 1} r ON r.node = d.a
            UNION ALL
            SELECT node, bucket, m FROM r{h - 1})
      GROUP BY 1, 2)""")
        ests.append(f"""
      SELECT {h} AS h,
             CAST(count(*) AS BIGINT) AS n_vertices,
             CAST(sum(est) AS DOUBLE) AS est_reachable_pairs
      FROM (SELECT node,
                   CAST(round((CAST({_HA_ALPHA_NUM} AS DOUBLE)
                         * CAST({_HA_2_33} AS DOUBLE))
                        / (sum(CAST(1 AS BIGINT) << (33 - m))
                           + ({_HA_M} - count(*)) * {_HA_2_33}), 4)
                        AS DECIMAL(28,4)) AS est
            FROM r{h} GROUP BY node)""")
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    dir AS MATERIALIZED (SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v, u FROM e),
    hx AS (SELECT DISTINCT a AS node,
                  md5(CAST(a AS VARCHAR)) AS h
           FROM dir),
    r0 AS MATERIALIZED (
      SELECT node,
             CAST(('0x' || substr(h, 1, 3)) AS BIGINT) % {_HA_M}
               AS bucket,
             max(CASE WHEN CAST(('0x' || substr(h, 4, 8)) AS BIGINT) = 0
                      THEN 33
                      ELSE 33 - length(bin(CAST(('0x' || substr(h, 4, 8))
                                               AS BIGINT))) END) AS m
      FROM hx GROUP BY 1, 2){"".join(rounds)}
    SELECT h, n_vertices, round(est_reachable_pairs, 2)
             AS est_reachable_pairs
    FROM ({" UNION ALL ".join(ests)})
    """


@register(
    "graph_hyperanf_reachable_pairs",
    oracle=_hyperanf_oracle(),
    tags=("graph", "sketch"),
)
def graph_hyperanf_reachable_pairs(spark, sf_dir):
    """HyperANF (Boldi-Rosa-Vigna): the neighborhood function
    N(h) = Σ_v |ball(v, h)| estimated by giving every vertex a
    {_HA_M}-register HyperLogLog and max-merging neighbors' sketches
    per round — THE way to measure reachable pairs / effective
    diameter on a graph too big for BFS-per-vertex (exact
    all-pairs is O(V·E); this is O(h·E) with {_HA_M}-byte state per
    vertex). Two rounds here; the curve's growth rate N(2)/N(1) is
    the expansion signal.

    Exactness: registers are the certified `sketch_hll_distinct`
    integers (md5 bucket + leading-one position via length(bin), no
    libm); merges are max() — exact, associative, order-free; each
    vertex's estimate is ONE fixed-order float expression over its
    own ≤{_HA_M} registers; and the vertex SUM is over estimates
    rounded to DECIMAL(28,4) first — decimal addition is exact and
    commutative, so no float-summation order exists anywhere. The
    linear-counting small-range correction is omitted (its ln() is a
    cross-engine libm hazard — same documented choice as
    `sketch_hll_distinct`), so tiny-ball estimates carry the known
    raw-HLL upward bias identically in both engines; the h≥1 growth
    curve is the product.

    Scale shape: per round ONE edge⋈register join + (node, bucket)
    max-aggregate — register rows ≤ {_HA_M}·V, the join is the
    PageRank shuffle with a {_HA_M}× fanout cap; localCheckpoint
    cuts lineage per round. At 100 TB this is exactly the HyperANF
    layout: sketches live beside vertices, rounds are map-side-
    combinable max-merges."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_partkey").select("u", "v")
    dirn = (e.select(F.col("u").alias("na"), F.col("v").alias("nb"))
            .unionAll(e.select(F.col("v").alias("na"),
                               F.col("u").alias("nb"))))
    dirn = dirn.localCheckpoint()
    hx = (dirn.select(F.col("na").alias("node")).distinct()
          .select("node", F.md5(F.col("node").cast("string")).alias("h")))
    r = (hx.groupBy("node",
                    (F.conv(F.substring("h", 1, 3), 16, 10).cast("long")
                     % _HA_M).alias("bucket"))
         .agg(F.max(F.when(F.conv(F.substring("h", 4, 8), 16, 10)
                           .cast("long") == 0, 33)
                    .otherwise(33 - F.length(F.bin(
                        F.conv(F.substring("h", 4, 8), 16, 10)
                        .cast("long"))))).alias("m"))
         .localCheckpoint())

    def estimate(regs, h):
        per = (regs.groupBy("node")
               .agg(F.sum(F.expr(
                   "shiftleft(CAST(1 AS BIGINT), CAST(33 - m AS INT))"))
                   .alias("s_filled"),
                   F.count("*").alias("v")))
        est = (F.lit(_HA_ALPHA_NUM) * F.lit(float(_HA_2_33))) / (
            F.col("s_filled") + (F.lit(_HA_M) - F.col("v"))
            * F.lit(_HA_2_33))
        return (per.select(F.round(est, 4).cast("decimal(28,4)")
                           .alias("est"))
                .agg(F.count("*").cast("long").alias("n_vertices"),
                     F.sum("est").cast("double")
                     .alias("est_reachable_pairs"))
                .select(F.lit(h).cast("int").alias("h"), "n_vertices",
                        F.round("est_reachable_pairs", 2)
                        .alias("est_reachable_pairs")))

    out = estimate(r, 0)
    for h in range(1, _HA_ROUNDS + 1):
        # sort-merge, NOT broadcast and NOT hash: broadcasting EDGES
        # is the wrong plan at any scale (they are the big relation,
        # and at sf0.1 the 38 MB edge list slips under the session's
        # 64 MB broadcast threshold and blows a 1 GB driver heap);
        # hash builds also pressure small heaps, while SMJ spills —
        # the right posture for a register-fanout join that emits
        # |E|·m rows
        prop = (dirn.join(r.withColumnRenamed("node", "na")
                          .hint("merge"), "na")
                .select(F.col("nb").alias("node"), "bucket", "m")
                # pre-partition on the agg key at higher parallelism:
                # the |E|·m fanout is the round's big relation, and
                # 32-way tasks of it overrun a 1 GB heap — 256-way
                # tasks stream/spill comfortably, and the groupBy
                # reuses the partitioning (no extra exchange)
                .repartition(256, "node", "bucket"))
        r = (prop.unionByName(r)
             .groupBy("node", "bucket").agg(F.max("m").alias("m"))
             .localCheckpoint())
        out = out.unionByName(estimate(r, h))
    return out


# ------------------------------------------------ Ljung-Box portmanteau

# Q = n(n+2) Σ_k r_k²/(n-k), k=1..3 — written as one fixed-order
# expression over the 6dp-rounded certified ACF values
_LB_Q = ("CAST(n AS DOUBLE) * (n + 2) * ("
         "r1 * r1 / (n - 1) + r2 * r2 / (n - 2) + r3 * r3 / (n - 3))")


def _ljung_box_oracle() -> str:
    leads = ",\n             ".join(
        f"lead(x, {k}) OVER (ORDER BY d) AS x{k}" for k in (1, 2, 3))
    aggs = ",\n             ".join(
        f"CAST(sum(CAST(x AS DECIMAL(38,0)) * x{k}) AS DECIMAL(38,0))"
        f" AS p{k},\n             "
        f"CAST(sum(CASE WHEN x{k} IS NOT NULL THEN x ELSE 0 END)"
        f" AS BIGINT) AS a{k},\n             "
        f"CAST(sum(x{k}) AS BIGINT) AS b{k}"
        for k in (1, 2, 3))
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (SELECT x, {leads} FROM daily),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
               AS q,
             {aggs}
      FROM l),
    acf AS (
      SELECT n, {_acf_expr_sql(1)} AS r1, {_acf_expr_sql(2)} AS r2,
             {_acf_expr_sql(3)} AS r3
      FROM g)
    SELECT CAST(n AS BIGINT) AS n, r1, r2, r3,
           round({_LB_Q}, 4) AS q_lb
    FROM acf
    """


@register(
    "ts_ljung_box",
    oracle=_ljung_box_oracle(),
    tags=("timeseries", "stat"),
)
def ts_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau statistic on the daily order-count
    series at lags 1-3: Q = n(n+2)·Σ r_k²/(n-k), the standard
    is-there-any-autocorrelation-left test — the residual-whiteness
    gate that closes the Box-Jenkins loop (ACF identifies → PACF
    orders → Yule-Walker fits → Ljung-Box validates).

    Exactness: r_k are the certified exact DECIMAL(38,0) ACF values
    rounded to 6dp BEFORE Q; Q itself is one fixed-order three-term
    expression tree shared by both engines (no aggregate over
    floats). Scale: identical to the ACF — day-grain collapse, one
    3-lag moment pass, scalar tail."""
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    w = Window.orderBy("d")
    lagged = daily.select(
        "x", *[F.lead("x", k).over(w).alias(f"x{k}") for k in (1, 2, 3)])
    dec = "decimal(38,0)"
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("q")]
    for k in (1, 2, 3):
        aggs += [
            F.sum(F.col("x").cast(dec) * F.col(f"x{k}")).cast(dec)
            .alias(f"p{k}"),
            F.sum(F.when(F.col(f"x{k}").isNotNull(), F.col("x"))
                  .otherwise(0)).cast("long").alias(f"a{k}"),
            F.sum(f"x{k}").cast("long").alias(f"b{k}")]
    g = lagged.agg(*aggs)
    acf = g.selectExpr("n", f"{_acf_expr_sql(1)} AS r1",
                       f"{_acf_expr_sql(2)} AS r2",
                       f"{_acf_expr_sql(3)} AS r3")
    return acf.selectExpr("CAST(n AS BIGINT) AS n", "r1", "r2", "r3",
                          f"round({_LB_Q}, 4) AS q_lb")


# ------------------------------------------------ Grubbs statistic

# G = max|x - mean| / s with the mean cleared of fractions:
# max|n·x - S| / (n·s), s² = (n·Q - S²)/(n·(n-1)) — one sqrt at the end
_GRUBBS_G = ("CAST(dmax AS DOUBLE) / sqrt(CAST(n AS DOUBLE) * "
             "(CAST(CAST(n AS DECIMAL(38,0)) * q "
             "- CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) / (n - 1.0)))")


@register(
    "stat_grubbs_test",
    oracle=f"""
    WITH p AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    g AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM p GROUP BY pri),
    d AS (
      SELECT p.pri,
             max(abs(CAST(g.n AS DECIMAL(38,0)) * p.cents - g.s))
               AS dmax
      FROM p JOIN g ON g.pri = p.pri
      GROUP BY p.pri)
    SELECT g.pri, g.n,
           round({_GRUBBS_G}, 4) AS grubbs_g
    FROM g JOIN d ON d.pri = g.pri
    """,
    tags=("stats", "dq"),
)
def stat_grubbs_test(spark, sf_dir):
    """Grubbs' statistic per order priority: the maximum studentized
    deviation G = max|x-x̄|/s — the single-most-extreme-outlier test
    (the parametric partner of the MAD screen
    `dq_outlier_mad_robust`, which survives what Grubbs assumes
    away).

    Exactness: the mean is cleared of fractions by working with
    n·x - S (exact DECIMAL integers, so the max is an exact integer
    order statistic), and the sample variance comes from the exact
    n·Q - S² form; ONE terminal sqrt + divide shared by both
    engines. Scale: two map-side-combinable aggregates over the
    fact stream + one broadcast join of the 5-row moment relation —
    no sort, no window."""
    p = (table(spark, sf_dir, "orders")
         .select(F.col("o_orderpriority").alias("pri"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    dec = "decimal(38,0)"
    g = (p.groupBy("pri")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum("cents").cast("long").alias("s"),
              F.sum(F.col("cents").cast(dec) * F.col("cents"))
              .cast(dec).alias("q")))
    d = (p.join(F.broadcast(g), "pri")
         .groupBy("pri")
         .agg(F.max(F.abs(F.col("n").cast(dec) * F.col("cents")
                          - F.col("s"))).alias("dmax")))
    return (g.join(d, "pri")
            .selectExpr("pri", "n", f"round({_GRUBBS_G}, 4) AS grubbs_g"))


# ------------------------------------------------ bitmap retention

_BM_W = 60  # bits per word (sign bit + headroom clear)
_US_DAY_BM = 86_400_000_000


@register(
    "events_retention_bitmap_index",
    oracle=f"""
    WITH e AS (
      SELECT CAST(epoch_us(ts) // {_US_DAY_BM} AS BIGINT) AS day,
             user_id
      FROM events),
    bm AS MATERIALIZED (
      SELECT day, CAST(user_id // {_BM_W} AS BIGINT) AS w,
             bit_or(CAST(1 AS BIGINT)
                    << CAST(user_id % {_BM_W} AS INT)) AS bits
      FROM e GROUP BY 1, 2),
    dau AS (
      SELECT day, CAST(sum(bit_count(bits)) AS BIGINT) AS dau
      FROM bm GROUP BY day),
    ret AS (
      SELECT a.day,
             CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT)
               AS retained
      FROM bm a JOIN bm b ON b.day = a.day + 1 AND b.w = a.w
      GROUP BY a.day)
    SELECT d.day, d.dau, n.dau AS dau_next,
           coalesce(r.retained, 0) AS retained,
           round(coalesce(r.retained, 0) * 1.0 / d.dau, 6)
             AS retention_rate
    FROM dau d
    JOIN dau n ON n.day = d.day + 1
    LEFT JOIN ret r ON r.day = d.day
    """,
    tags=("events", "sketch"),
)
def events_retention_bitmap_index(spark, sf_dir):
    """Day-over-day user retention from a WORD-PARTITIONED presence
    bitmap index — the roaring-bitmap engine trick behind every
    production DAU/retention dashboard: each day's active users
    become (word = id div {_BM_W}, bits) rows via bit_or, and
    "active on d AND d+1" is Σ bit_count(a & b) over matching words
    — NO distinct set intersection, no user-grain shuffle at query
    time. (`bitmap_user_segments` is the fixed-width segment
    miniature; this is the full index keyed by user-id word.)

    Exactness: bit_or is associative, commutative, and idempotent —
    the ideal distributed aggregate (any partitioning, bit-exact);
    counts are integers; one terminal ratio. Duplicate events per
    user collapse for free in the OR.

    Scale shape: the bitmap build is one map-side-combinable
    aggregate producing ≤ users/{_BM_W} words per day (a ~60×
    compression of the presence relation); the retention join is
    word-keyed day-to-day — at 100 TB this index IS the product, and
    any cohort/funnel slice is ANDs over it."""
    bm = day_word_bitmaps(table(spark, sf_dir, "events"))
    return retention_over_bitmaps(bm.localCheckpoint())


def day_word_bitmaps(e):
    """(day, w, bits) presence-bitmap index rows from an events
    relation (ts, user_id). Exact integer arithmetic end-to-end
    (ADVICE r09 item 3): `div` instead of float-divide-then-cast
    (bit-exact past 2^53), and pmod keeps the shift count in
    [0, _BM_W) for any id sign. Spark `div` truncates while the
    oracle's `//` floors — identical on this dataset's non-negative
    day/user_id domain. bit_or is associative, commutative, AND
    idempotent, so these rows fold across micro-batches replay-safely
    (streaming/retention_maintain.py maintains exactly this table)."""
    return (e.select(F.expr(f"unix_micros(ts) div {_US_DAY_BM}")
                     .alias("day"), "user_id")
            .groupBy("day",
                     F.expr(f"user_id div {_BM_W}").alias("w"))
            .agg(F.bit_or(F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod(user_id, {_BM_W}) AS INT))")).alias("bits")))


def retention_over_bitmaps(bm):
    """Day-over-day retention from a (day, w, bits) bitmap index —
    shared verbatim by the batch query above and the maintained
    streaming index, so stream≡batch is an identity on this plan."""
    dau = (bm.groupBy("day")
           .agg(F.sum(F.bit_count("bits")).cast("long").alias("dau")))
    a, b = bm.alias("a"), bm.alias("b")
    ret = (a.join(b, (F.col("b.day") == F.col("a.day") + 1)
                  & (F.col("b.w") == F.col("a.w")))
           .groupBy(F.col("a.day").alias("day"))
           .agg(F.sum(F.bit_count(F.col("a.bits")
                                  .bitwiseAND(F.col("b.bits"))))
                .cast("long").alias("retained")))
    nxt = dau.select((F.col("day") - 1).alias("day"),
                     F.col("dau").alias("dau_next"))
    return (dau.join(nxt, "day")
            .join(ret, "day", "left")
            .select("day", "dau", "dau_next",
                    F.coalesce("retained", F.lit(0)).cast("long")
                    .alias("retained"),
                    F.round(F.coalesce("retained", F.lit(0))
                            / F.col("dau").cast("double"), 6)
                    .alias("retention_rate")))


# ------------------------------------------------ binary segmentation

# CUSUM split score at relative position t of an n-point segment with
# prefix sum p and total s: D = n·p - t·s (exact integer); score =
# D² / (t·(n-t)) — one fixed expression, ties to the earliest day
_BS_SCORE = ("CAST(CAST(nn AS DECIMAL(38,0)) * p "
             "- CAST(t AS DECIMAL(38,0)) * s AS DOUBLE)"
             " * CAST(CAST(nn AS DECIMAL(38,0)) * p "
             "- CAST(t AS DECIMAL(38,0)) * s AS DOUBLE)"
             " / (CAST(t AS DOUBLE) * (nn - t))")


@register(
    "ts_changepoint_binseg",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT d, x,
             row_number() OVER (ORDER BY d) AS t,
             CAST(sum(x) OVER (ORDER BY d) AS BIGINT) AS p,
             count(*) OVER () AS n_all,
             CAST(sum(x) OVER () AS BIGINT) AS s_all
      FROM daily),
    l1 AS MATERIALIZED (
      SELECT d, t, score
      FROM (SELECT d, t,
                   {_BS_SCORE.replace("nn", "n_all")
                             .replace(" s ", " s_all ")
                             .replace("* s A", "* s_all A")} AS score,
                   row_number() OVER (
                     ORDER BY {_BS_SCORE.replace("nn", "n_all")
                                        .replace(" s ", " s_all ")
                                        .replace("* s A", "* s_all A")}
                       DESC, t) AS rn
            FROM idx WHERE t < n_all)
      WHERE rn = 1),
    seg AS MATERIALIZED (
      SELECT i.d, i.x,
             CASE WHEN i.t <= l1.t THEN 'L' ELSE 'R' END AS sg
      FROM idx i CROSS JOIN l1),
    idx2 AS (
      SELECT sg, d,
             row_number() OVER (PARTITION BY sg ORDER BY d) AS t,
             CAST(sum(x) OVER (PARTITION BY sg ORDER BY d) AS BIGINT)
               AS p,
             count(*) OVER (PARTITION BY sg) AS nn,
             CAST(sum(x) OVER (PARTITION BY sg) AS BIGINT) AS s
      FROM seg),
    l2 AS (
      SELECT sg, d, t, score
      FROM (SELECT sg, d, t, {_BS_SCORE} AS score,
                   row_number() OVER (
                     PARTITION BY sg
                     ORDER BY {_BS_SCORE} DESC, t) AS rn
            FROM idx2 WHERE t < nn AND nn >= 2)
      WHERE rn = 1)
    SELECT 1 AS level, 'all' AS segment, d AS split_day,
           CAST(t AS BIGINT) AS t_rel, round(score, 4) AS score
    FROM l1
    UNION ALL
    SELECT 2, sg, d, CAST(t AS BIGINT), round(score, 4) FROM l2
    """,
    tags=("timeseries", "stat"),
)
def ts_changepoint_binseg(spark, sf_dir):
    """Two-level BINARY SEGMENTATION changepoints on the daily
    order-count series: level 1 finds the split maximizing the
    normalized CUSUM statistic D²/(t(n-t)) with D = n·P_t - t·S
    over the whole series; level 2 re-runs the same search inside
    each half — the recursive scheme that turns a single-changepoint
    test into a multiple-changepoint detector (`ts_changepoint_pettitt`
    is the rank-based single-split sibling; `events_cusum_changepoint`
    the sequential alarm).

    Exactness: D is an exact DECIMAL integer from windowed prefix
    sums; the score is one fixed expression per row; argmax breaks
    ties on the earliest position. Both levels run identical algebra
    (level 2 merely partitions the windows by the level-1 side).

    Scale: the series collapses to day grain first; each level is
    one windowed pass over the day-grain relation — at 100 TB
    segmentation depth adds passes, never data volume."""
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    wo = Window.orderBy("d")
    wall = Window.partitionBy()
    idx = daily.select(
        "d", "x",
        F.row_number().over(wo).alias("t"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("p"),
        F.count("*").over(wall).alias("n_all"),
        F.sum("x").over(wall).cast("long").alias("s_all"))
    sc1 = _BS_SCORE.replace("nn", "n_all") \
        .replace(" s ", " s_all ").replace("* s A", "* s_all A")
    w1 = Window.orderBy(F.expr(sc1).desc(), "t")
    l1 = (idx.filter(F.col("t") < F.col("n_all"))
          .withColumn("score", F.expr(sc1))
          .withColumn("rn", F.row_number().over(w1))
          .filter(F.col("rn") == 1)
          .select("d", "t", "score")
          .localCheckpoint())
    seg = (idx.crossJoin(F.broadcast(l1.select(F.col("t").alias("t1"))))
           .select("d", "x",
                   F.when(F.col("t") <= F.col("t1"), "L")
                   .otherwise("R").alias("sg")))
    ws = Window.partitionBy("sg").orderBy("d")
    wsn = Window.partitionBy("sg")
    idx2 = seg.select(
        "sg", "d",
        F.row_number().over(ws).alias("t"),
        F.sum("x").over(ws.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("p"),
        F.count("*").over(wsn).alias("nn"),
        F.sum("x").over(wsn).cast("long").alias("s"))
    w2 = Window.partitionBy("sg").orderBy(F.expr(_BS_SCORE).desc(), "t")
    l2 = (idx2.filter((F.col("t") < F.col("nn")) & (F.col("nn") >= 2))
          .withColumn("score", F.expr(_BS_SCORE))
          .withColumn("rn", F.row_number().over(w2))
          .filter(F.col("rn") == 1)
          .select("sg", "d", "t", "score"))
    out1 = l1.select(F.lit(1).cast("int").alias("level"),
                     F.lit("all").alias("segment"),
                     F.col("d").alias("split_day"),
                     F.col("t").cast("long").alias("t_rel"),
                     F.round("score", 4).alias("score"))
    out2 = l2.select(F.lit(2).cast("int").alias("level"),
                     F.col("sg").alias("segment"),
                     F.col("d").alias("split_day"),
                     F.col("t").cast("long").alias("t_rel"),
                     F.round("score", 4).alias("score"))
    return out1.unionByName(out2)
