"""Round-10 stats/TS/graph wave: effect sizes, agreement, robust rank
tests, power-law degree fits, theta forecasting, lexical diversity,
and randomized-response privacy.

Exactness discipline (the r03/r07 lessons): every accumulation that
crosses a shuffle is integer/DECIMAL (ranks doubled to integers,
deviations cross-multiplied through denominators); floats appear only
in terminal fixed-arity expressions, rounded once.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

_US_DAY = 86_400_000_000

# ------------------------------------------------------- Cramér's V


@register(
    "stat_cramers_v",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST((epoch_us(ts) // {_US_DAY} + 4) % 7 AS BIGINT) AS dow
      FROM events),
    obs AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
            FROM e GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
          FROM obs GROUP BY 1),
    c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
                 CAST(count(DISTINCT dow) AS BIGINT) AS nc FROM obs),
    cell AS (
      SELECT r.event_type, c.dow,
             CAST(coalesce(obs.o, 0) AS DECIMAL(38,0)) AS o,
             CAST(r.rt AS DECIMAL(38,0)) * c.ct AS rc
      FROM r CROSS JOIN c
      LEFT JOIN obs ON obs.event_type = r.event_type
                   AND obs.dow = c.dow),
    chi AS (
      SELECT sum((o * t.n - rc) * (o * t.n - rc) * 1.0 / (rc * t.n))
               AS chi2
      FROM cell, t)
    SELECT round(chi.chi2, 4) AS chi2,
           (t.nr - 1) * (t.nc - 1) AS df,
           round(sqrt(chi.chi2 / (t.n * (least(t.nr, t.nc) - 1))), 4)
             AS cramers_v
    FROM chi, t
    """,
    tags=("stats",),
)
def stat_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the event-type × day-of-week
    contingency — the "is the association MEANINGFUL, not just
    significant" companion to ``stat_chi_square`` (which only reports
    the statistic): V = sqrt(χ²/(n·(min(r,c)−1))) ∈ [0,1]. Day-of-week
    is exact epoch-day arithmetic ((day+4) mod 7 — 1970-01-01 was a
    Thursday), never an engine calendar function (they disagree on
    week start). χ² accumulates as (o·n − rt·ct)²/(rt·ct·n) so every
    numerator is an exact integer before the one division.

    Scale: the contingency is |types|×7 cells from one
    map-side-combinable count; everything after is arithmetic on a
    broadcast-sized relation."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(unix_micros(ts) div {_US_DAY} + 4) % 7")
        .cast("long").alias("dow"))
    obs = e.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("o"))
    r = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    c = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    t = obs.agg(F.sum("o").cast("long").alias("n"),
                F.countDistinct("event_type").cast("long").alias("nr"),
                F.countDistinct("dow").cast("long").alias("nc"))
    # o·n and rt·ct as DECIMAL(38,0) so the cross-multiplied numerator
    # is exact past ~3e9 total events (ADVICE r10 item 3 — the
    # Brunner-Munzel discipline; BIGINT products would silently wrap)
    dec = "decimal(38,0)"
    cell = (r.crossJoin(c)
            .join(obs, ["event_type", "dow"], "left")
            .select(F.coalesce("o", F.lit(0)).cast(dec).alias("o"),
                    (F.col("rt").cast(dec) * F.col("ct")).alias("rc")))
    dev = F.col("o") * F.col("n").cast(dec) - F.col("rc")
    chi = (cell.crossJoin(F.broadcast(t))
           .agg(F.sum((dev * dev).cast("double")
                      / (F.col("rc").cast("double")
                         * F.col("n").cast("double")))
                .alias("chi2")))
    return (chi.crossJoin(F.broadcast(t))
            .select(F.round("chi2", 4).alias("chi2"),
                    ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("df"),
                    F.round(F.sqrt(F.col("chi2")
                                   / (F.col("n")
                                      * (F.least("nr", "nc") - 1))), 4)
                    .alias("cramers_v")))


# ---------------------------------------------------- Cohen's kappa


@register(
    "stat_cohens_kappa",
    oracle="""
    WITH rated AS (
      SELECT doc_id,
             CASE WHEN n_chars < 200 THEN 'short'
                  WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS ra,
             CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
                  WHEN len(string_split(text, ' ')) < 80 THEN 'mid'
                  ELSE 'long' END AS rb
      FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rated),
    po AS (SELECT CAST(count(*) AS BIGINT) AS agree FROM rated
           WHERE ra = rb),
    m AS (
      SELECT cat, CAST(sum(na) AS BIGINT) AS na,
             CAST(sum(nb) AS BIGINT) AS nb
      FROM (
        SELECT ra AS cat, count(*) AS na, 0 AS nb FROM rated GROUP BY 1
        UNION ALL
        SELECT rb AS cat, 0 AS na, count(*) AS nb FROM rated GROUP BY 1)
      GROUP BY 1),
    pe AS (SELECT CAST(sum(na * nb) AS BIGINT) AS cross_mass FROM m)
    SELECT n.n,
           round(po.agree * 1.0 / n.n, 6) AS po,
           round(pe.cross_mass * 1.0 / (n.n * n.n), 6) AS pe,
           round((po.agree * 1.0 * n.n - pe.cross_mass)
                 / (n.n * 1.0 * n.n - pe.cross_mass), 4) AS kappa
    FROM n, po, pe
    """,
    tags=("stats", "llm"),
)
def stat_cohens_kappa(spark, sf_dir):
    """Cohen's kappa agreement between two deterministic document
    "raters" — the char-length band vs the word-count band (the
    labeling-QA primitive: chance-corrected agreement between two
    annotators/classifiers). κ = (po − pe)/(1 − pe) computed in the
    all-integer form (agree·n − Σ na·nb)/(n² − Σ na·nb), one terminal
    division. Scale: two map-only classifications + counts; the
    marginal relation is |categories| rows."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 400, "mid")
        .otherwise("long").alias("ra"),
        F.when(F.size(F.split("text", " ")) < 40, "short")
        .when(F.size(F.split("text", " ")) < 80, "mid")
        .otherwise("long").alias("rb"))
    n = d.agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("ra") == F.col("rb"), 1)
                    .otherwise(0)).cast("long").alias("agree"))
    m = (d.select(F.col("ra").alias("cat"), F.lit(1).alias("na"),
                  F.lit(0).alias("nb"))
         .unionAll(d.select(F.col("rb").alias("cat"),
                            F.lit(0).alias("na"), F.lit(1).alias("nb")))
         .groupBy("cat")
         .agg(F.sum("na").cast("long").alias("na"),
              F.sum("nb").cast("long").alias("nb")))
    pe = m.agg(F.sum(F.col("na") * F.col("nb")).cast("long")
               .alias("cross_mass"))
    return (n.crossJoin(F.broadcast(pe))
            .select("n",
                    F.round(F.col("agree") / F.col("n").cast("double"), 6)
                    .alias("po"),
                    F.round(F.col("cross_mass")
                            / (F.col("n") * F.col("n")).cast("double"), 6)
                    .alias("pe"),
                    F.round((F.col("agree") * F.col("n")
                             - F.col("cross_mass"))
                            / (F.col("n") * F.col("n")
                               - F.col("cross_mass")).cast("double"), 4)
                    .alias("kappa")))


# ------------------------------------------- degree power-law fit


@register(
    "graph_degree_powerlaw_fit",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    hist AS MATERIALIZED (
      SELECT d, CAST(count(*) AS BIGINT) AS nd FROM deg GROUP BY 1),
    pts AS (SELECT ln(d * 1.0) AS x, ln(nd * 1.0) AS y FROM hist),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(x) AS sx,
                 sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy
          FROM pts)
    SELECT k AS n_points,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
             AS slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx)
                 / k, 4) AS intercept,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 4)
             AS r2
    FROM s
    """,
    tags=("graph", "stats"),
)
def graph_degree_powerlaw_fit(spark, sf_dir):
    """Scale-free check on the part co-purchase graph: OLS of
    ln(count of nodes with degree d) on ln(d) — the log-log degree
    histogram slope is the power-law exponent estimate (−α), and r²
    says how power-law the graph actually is. The sanity gate before
    betting a partitioning strategy on "degrees are heavy-tailed".

    Scale: the histogram collapses the graph to ≤ max-degree rows
    before any float; the OLS runs over that tiny relation with
    moment sums (the stat_linear_trend kernel)."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_partkey").select("u", "v")
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("d")))
    hist = deg.groupBy("d").agg(F.count("*").cast("long").alias("nd"))
    pts = hist.select(F.log(F.col("d").cast("double")).alias("x"),
                      F.log(F.col("nd").cast("double")).alias("y"))
    s = pts.agg(F.count("*").cast("long").alias("k"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(
        F.col("k").alias("n_points"),
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 4)
        .alias("intercept"),
        F.round((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / ((F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
                   * (F.col("k") * F.col("syy")
                      - F.col("sy") * F.col("sy"))), 4).alias("r2"))


# ------------------------------------------------ Brunner-Munzel


@register(
    "stat_brunner_munzel",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
               AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    r AS MATERIALIZED (
      SELECT grp, cents,
             CAST(2 * rank() OVER (ORDER BY cents)
                  + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT)
               AS r2c,
             CAST(2 * rank() OVER (PARTITION BY grp ORDER BY cents)
                  + count(*) OVER (PARTITION BY grp, cents) - 1
                  AS BIGINT) AS r2w
      FROM v),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(r2c) AS BIGINT) AS u2
      FROM r GROUP BY 1),
    dev AS (
      SELECT r.grp,
             CAST(sum(CAST(g.nk * (r.r2c - r.r2w) - g.u2
                           + g.nk * g.nk + g.nk
                           AS DECIMAL(38,0))
                      * CAST(g.nk * (r.r2c - r.r2w) - g.u2
                             + g.nk * g.nk + g.nk
                             AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS vss
      FROM r JOIN g ON g.grp = r.grp
      GROUP BY 1),
    st AS (
      SELECT
        (SELECT nk FROM g WHERE grp = 1) AS n1,
        (SELECT nk FROM g WHERE grp = 2) AS n2,
        (SELECT u2 FROM g WHERE grp = 1) AS u1,
        (SELECT u2 FROM g WHERE grp = 2) AS u2,
        (SELECT CAST(vss AS DOUBLE) FROM dev WHERE grp = 1) AS vss1,
        (SELECT CAST(vss AS DOUBLE) FROM dev WHERE grp = 2) AS vss2)
    SELECT n1, n2,
           round((u2 * 1.0 / n2 - u1 * 1.0 / n1) / (2.0 * (n1 + n2))
                 + 0.5, 6) AS p_hat,
           round(n1 * n2 * ((u2 * 1.0 / n2 - u1 * 1.0 / n1) / 2)
                 / ((n1 + n2)
                    * sqrt(n1 * (vss1 / (4.0 * n1 * n1 * (n1 - 1)))
                           + n2 * (vss2 / (4.0 * n2 * n2 * (n2 - 1))))),
                 4) AS bm_stat
    FROM st
    """,
    tags=("stats",),
)
def stat_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel rank test (the heteroscedastic-and-ties-safe
    replacement for Mann-Whitney): P(X < Y) + ½P(X = Y) for URGENT vs
    LOW order prices, with the studentized statistic. All rank
    arithmetic is exact: tie-averaged ranks are half-integers, so the
    engine carries 2·rank (integers — 2R = 2·rank() + ties − 1); the
    within-group deviation is cross-multiplied through its
    denominator (v_i = nk·(2R_comb − 2R_within) − Σ2R + nk² + nk =
    2nk·deviation, an exact integer) so the deviation sum of squares
    shuffles as DECIMAL(38,0) — bit-stable under any partitioning —
    and floats appear only in the terminal statistic.

    Scale: two ordered windows over the two-priority slice (AQE-sized
    range partitioning), one grouped integer aggregate, 1-row output."""
    v = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(2).alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    wc = Window.orderBy("cents")
    ww = Window.partitionBy("grp").orderBy("cents")
    r = v.select(
        "grp",
        (2 * F.rank().over(wc)
         + F.count("*").over(Window.partitionBy("cents")) - 1)
        .cast("long").alias("r2c"),
        (2 * F.rank().over(ww)
         + F.count("*").over(Window.partitionBy("grp", "cents")) - 1)
        .cast("long").alias("r2w"))
    g = r.groupBy("grp").agg(F.count("*").cast("long").alias("nk"),
                             F.sum("r2c").cast("long").alias("u2"))
    dec = "decimal(38,0)"
    dev = (r.join(F.broadcast(g), "grp")
           .select("grp",
                   (F.col("nk") * (F.col("r2c") - F.col("r2w"))
                    - F.col("u2") + F.col("nk") * F.col("nk")
                    + F.col("nk")).cast(dec).alias("vi"))
           .groupBy("grp")
           .agg(F.sum(F.col("vi") * F.col("vi")).cast(dec).alias("vss")))
    gd = g.join(dev, "grp")
    one = gd.filter(F.col("grp") == 1).select(
        F.col("nk").alias("n1"), F.col("u2").alias("u1"),
        F.col("vss").cast("double").alias("vss1"))
    two = gd.filter(F.col("grp") == 2).select(
        F.col("nk").alias("n2"), F.col("u2").alias("u2"),
        F.col("vss").cast("double").alias("vss2"))
    st = one.crossJoin(F.broadcast(two))
    mean_diff = (F.col("u2") / F.col("n2") - F.col("u1") / F.col("n1"))
    return st.select(
        "n1", "n2",
        F.round(mean_diff / (2.0 * (F.col("n1") + F.col("n2"))) + 0.5, 6)
        .alias("p_hat"),
        F.round(F.col("n1") * F.col("n2") * (mean_diff / 2)
                / ((F.col("n1") + F.col("n2"))
                   * F.sqrt(F.col("n1")
                            * (F.col("vss1")
                               / (4.0 * F.col("n1") * F.col("n1")
                                  * (F.col("n1") - 1)))
                            + F.col("n2")
                            * (F.col("vss2")
                               / (4.0 * F.col("n2") * F.col("n2")
                                  * (F.col("n2") - 1))))),
                4).alias("bm_stat"))


# ------------------------------------------------- theta forecast

_TH_ALPHA = 0.3   # SES smoothing for the theta-2 line
_TH_K = 8         # truncated SES depth (the ts_ewma discipline)
# literal weights (1-a)^i — generated constants, no runtime pow()
_TH_W = [round((1 - _TH_ALPHA) ** i, 12) for i in range(_TH_K)]


def _theta_ses(col: str) -> tuple[str, str]:
    """Truncated-SES numerator/denominator over lag columns
    ``{col}0..{col}K-1`` with literal weights, renormalized over the
    lags that exist (series head)."""
    num = " + ".join(f"coalesce({col}{i} * {_TH_W[i]!r}, 0.0)"
                     for i in range(_TH_K))
    den = " + ".join(
        f"(CASE WHEN {col}{i} IS NOT NULL THEN {_TH_W[i]!r} ELSE 0.0 END)"
        for i in range(_TH_K))
    return num, den


@register(
    "ts_theta_forecast",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    idx AS MATERIALIZED (
      SELECT pri, day, cents,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY day) - 1
                  AS BIGINT) AS t
      FROM daily),
    fit AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(t * cents) AS BIGINT) AS sty
      FROM idx GROUP BY 1),
    ab AS MATERIALIZED (
      SELECT pri, n,
             (n * sty - st * sy) * 1.0 / (n * stt - st * st) AS b,
             (sy - (n * sty - st * sy) * 1.0 / (n * stt - st * st)
              * st) / n AS a
      FROM fit),
    z AS MATERIALIZED (
      SELECT i.pri, i.t, 2.0 * i.cents - (ab.a + ab.b * i.t) AS z,
             ab.a AS a, ab.b AS b, ab.n AS n
      FROM idx i JOIN ab ON ab.pri = i.pri),
    lag_z AS (
      SELECT pri, t, a, b, n,
             {", ".join(f"lag(z, {i}) OVER (PARTITION BY pri ORDER BY t) AS z{i}" if i else "z AS z0" for i in range(_TH_K))}
      FROM z),
    last AS (
      SELECT pri, a, b, n,
             ({_theta_ses('z')[0]}) / ({_theta_ses('z')[1]}) AS ses_z
      FROM lag_z
      WHERE t = n - 1)
    SELECT pri, n AS n_days,
           round(b / 100.0, 4) AS trend_per_day,
           round(ses_z / 100.0, 4) AS ses_theta2,
           round((0.5 * (a + b * n) + 0.5 * ses_z) / 100.0, 4)
             AS forecast_next
    FROM last
    """,
    tags=("timeseries", "stats"),
)
def ts_theta_forecast(spark, sf_dir):
    """Theta-method one-step forecast (Assimakopoulos & Nikolopoulos
    2000 — the M3-winning decomposition) per order priority: the
    series splits into the θ=0 line (the OLS linear trend, damping
    all curvature) and the θ=2 line (2y − trend, doubling it); the
    forecast averages the trend extrapolation with an SES of the
    θ=2 line. SES follows the ``ts_ewma`` truncated-lag discipline —
    literal (1−α)^i weights over the last {_TH_K} observations, a
    fixed-arity expression, no recursive float state and no runtime
    pow() — so the result is bit-stable under any partitioning.
    Trend coefficients come from exact integer moment sums.

    Scale: daily aggregate (map-side combinable) → one per-key OLS
    over integer moments → one per-key window for the last {_TH_K}
    lags; dimension × |days| rows end to end."""
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderpriority").alias("pri"),
                      F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.expr(
                 "CAST(round(o_totalprice * 100) AS BIGINT)"))
                 .alias("cents")))
    wd = Window.partitionBy("pri").orderBy("day")
    idx = daily.select(
        "pri", "cents",
        (F.row_number().over(wd) - 1).cast("long").alias("t"))
    fit = idx.groupBy("pri").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("cents")).cast("long").alias("sty"))
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) \
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")) \
        .cast("double")
    ab = fit.select("pri", "n", b.alias("b"),
                    ((F.col("sy") - b * F.col("st")) / F.col("n"))
                    .alias("a"))
    z = (idx.join(F.broadcast(ab), "pri")
         .select("pri", "t", "a", "b", "n",
                 (2.0 * F.col("cents")
                  - (F.col("a") + F.col("b") * F.col("t"))).alias("z")))
    wt = Window.partitionBy("pri").orderBy("t")
    lagged = z.select(
        "pri", "t", "a", "b", "n", F.col("z").alias("z0"),
        *[F.lag("z", i).over(wt).alias(f"z{i}")
          for i in range(1, _TH_K)])
    num, den = _theta_ses("z")
    last = (lagged.filter(F.col("t") == F.col("n") - 1)
            .select("pri", "a", "b", "n",
                    F.expr(f"({num}) / ({den})").alias("ses_z")))
    return last.select(
        "pri", F.col("n").alias("n_days"),
        F.round(F.col("b") / 100.0, 4).alias("trend_per_day"),
        F.round(F.col("ses_z") / 100.0, 4).alias("ses_theta2"),
        F.round((0.5 * (F.col("a") + F.col("b") * F.col("n"))
                 + 0.5 * F.col("ses_z")) / 100.0, 4)
        .alias("forecast_next"))


# ---------------------------------------------- MSTTR lexical diversity

_MS_W = 50  # tokens per segment


@register(
    "text_msttr_diversity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents),
    seg AS (
      SELECT doc_id, CAST(pos // {_MS_W} AS BIGINT) AS seg,
             word, count(*) OVER (PARTITION BY doc_id) AS n_tok
      FROM w),
    full_segs AS (
      SELECT doc_id, seg,
             CAST(count(DISTINCT word) AS BIGINT) AS types
      FROM seg
      WHERE (seg + 1) * {_MS_W} <= n_tok
      GROUP BY 1, 2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
           round(sum(types) * 1.0 / (count(*) * {_MS_W}), 6) AS msttr
    FROM full_segs
    GROUP BY 1
    """,
    tags=("llm", "text"),
)
def text_msttr_diversity(spark, sf_dir):
    """Mean segmental type-token ratio (MSTTR-{_MS_W}): lexical
    diversity measured over consecutive {_MS_W}-token segments and
    averaged — the length-robust replacement for raw TTR (which decays
    with doc length — Heaps' law — making long docs look artificially
    repetitive; ``text_heaps_law`` measures that decay, this corrects
    for it). Incomplete tail segments are dropped (the standard
    definition), so every segment's ratio has the same denominator
    and the mean is Σtypes/(k·{_MS_W}) — one exact integer sum per
    doc, one terminal division.

    Scale: posexplode + integer div segment keys — map-only until the
    (doc, segment) distinct-count aggregate; no windows over the
    corpus."""
    w = (table(spark, sf_dir, "documents")
         .select("doc_id",
                 F.posexplode(F.split("text", " ")).alias("pos", "word")))
    seg = w.select(
        "doc_id", "word",
        F.expr(f"pos div {_MS_W}").cast("long").alias("seg"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_tok"))
    full_segs = (seg.filter((F.col("seg") + 1) * _MS_W <= F.col("n_tok"))
                 .groupBy("doc_id", "seg")
                 .agg(F.countDistinct("word").cast("long").alias("types")))
    return (full_segs.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_segments"),
                 F.round(F.sum("types")
                         / (F.count("*") * _MS_W).cast("double"), 6)
                 .alias("msttr")))


# ---------------------------------------- randomized response debias


@register(
    "privacy_randomized_response",
    oracle="""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS truth
      FROM events GROUP BY 1),
    rr AS (
      SELECT user_id, truth,
             CAST('0x' || substr(md5('rr:' || CAST(user_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 4 AS coin
      FROM u),
    rep AS (
      SELECT CASE WHEN coin <= 1 THEN truth
                  WHEN coin = 2 THEN 1 ELSE 0 END AS report,
             truth
      FROM rr)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(report), 6) AS p_observed,
           round(2 * avg(report) - 0.5, 6) AS p_estimated,
           round(avg(truth), 6) AS p_actual
    FROM rep
    """,
    tags=("privacy", "stats"),
)
def privacy_randomized_response(spark, sf_dir):
    """Warner randomized response with debiasing — the local-DP
    primitive: each user reports the truth with probability 1/2 and a
    coin flip otherwise (P(report=1) = p/2 + 1/4), so individual
    reports are plausibly deniable (ε = ln 3 local DP) while the
    population rate recovers as p̂ = 2·p_obs − 1/2. The "randomness"
    is a deterministic salted-md5 coin per user — reproducible across
    engines AND the exact mechanism a production pipeline uses to
    make privacy audits replayable. Reported next to the true rate so
    the debiasing error is visible.

    Scale: one user-level aggregate (map-side combinable max), one
    map-only coin, one global average — no shuffle wider than the
    user relation."""
    u = (table(spark, sf_dir, "events")
         .groupBy("user_id")
         .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("truth")))
    coin = (F.conv(F.substring(
        F.md5(F.concat(F.lit("rr:"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 4)
    rep = u.select(
        "truth",
        F.when(coin <= 1, F.col("truth"))
        .when(coin == 2, F.lit(1)).otherwise(F.lit(0)).alias("report"))
    return rep.agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(F.avg("report"), 6).alias("p_observed"),
        F.round(2 * F.avg("report") - 0.5, 6).alias("p_estimated"),
        F.round(F.avg("truth"), 6).alias("p_actual"))


# ------------------------------------------------------- McNemar


@register(
    "stat_mcnemar",
    oracle="""
    WITH rated AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1
                  ELSE 0 END AS b
      FROM documents),
    cnt AS (
      SELECT CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b01,
             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c10
      FROM rated)
    SELECT b01, c10,
           round((abs(b01 - c10) - 1) * (abs(b01 - c10) - 1) * 1.0
                 / (b01 + c10), 4) AS mcnemar_chi2
    FROM cnt
    """,
    tags=("stats",),
)
def stat_mcnemar(spark, sf_dir):
    """McNemar's paired-proportions test (continuity-corrected) on
    the two binary document raters — did classifier B flip cases
    relative to classifier A beyond chance? Only the discordant cells
    matter: χ² = (|b−c|−1)²/(b+c), exact integers until the one
    terminal division. The paired sibling of ``stat_cohens_kappa``
    (agreement) and ``stat_ab_proportion_ztest`` (unpaired).
    Scale: one map-only classification + one global count."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split("text", " ")) >= 60, 1)
        .otherwise(0).alias("b"))
    cnt = d.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1)
              .otherwise(0)).cast("long").alias("b01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1)
              .otherwise(0)).cast("long").alias("c10"))
    dlt = F.abs(F.col("b01") - F.col("c10"))
    return cnt.select(
        "b01", "c10",
        F.round((dlt - 1) * (dlt - 1)
                / (F.col("b01") + F.col("c10")).cast("double"), 4)
        .alias("mcnemar_chi2"))


# ------------------------------------------------------ Cohen's d


@register(
    "stat_cohens_d",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
               AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM v GROUP BY 1),
    st AS (
      SELECT
        (SELECT n FROM m WHERE grp = 1) AS n1,
        (SELECT s FROM m WHERE grp = 1) AS s1,
        (SELECT CAST(q AS DOUBLE) FROM m WHERE grp = 1) AS q1,
        (SELECT n FROM m WHERE grp = 2) AS n2,
        (SELECT s FROM m WHERE grp = 2) AS s2,
        (SELECT CAST(q AS DOUBLE) FROM m WHERE grp = 2) AS q2)
    SELECT n1, n2,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2) / 100, 2)
             AS mean_diff,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2)
                 / sqrt(((q1 - s1 * 1.0 / n1 * s1)
                         + (q2 - s2 * 1.0 / n2 * s2))
                        / (n1 + n2 - 2)), 4) AS cohens_d,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2)
                 / sqrt(((q1 - s1 * 1.0 / n1 * s1)
                         + (q2 - s2 * 1.0 / n2 * s2))
                        / (n1 + n2 - 2))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 4) AS hedges_g
    FROM st
    """,
    tags=("stats",),
)
def stat_cohens_d(spark, sf_dir):
    """Cohen's d standardized mean difference (URGENT vs LOW order
    value) with the Hedges' g small-sample correction — the effect
    size behind ``stat_ttest_welch``'s significance. Pooled variance
    from exact integer moments (Σx as BIGINT cents, Σx² as
    DECIMAL(38,0)): (n−1)s² = q − s²/n, summed across groups, one
    terminal sqrt. Scale: one two-group moment aggregate."""
    v = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(2).alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    dec = "decimal(38,0)"
    m = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec)
        .alias("q"))
    one = m.filter(F.col("grp") == 1).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("q").cast("double").alias("q1"))
    two = m.filter(F.col("grp") == 2).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"),
        F.col("q").cast("double").alias("q2"))
    st = one.crossJoin(F.broadcast(two))
    mean_diff = (F.col("s1") / F.col("n1").cast("double")
                 - F.col("s2") / F.col("n2").cast("double"))
    pooled = F.sqrt(((F.col("q1") - F.col("s1") / F.col("n1").cast("double")
                      * F.col("s1"))
                     + (F.col("q2")
                        - F.col("s2") / F.col("n2").cast("double")
                        * F.col("s2")))
                    / (F.col("n1") + F.col("n2") - 2))
    d = mean_diff / pooled
    return st.select(
        "n1", "n2",
        F.round(mean_diff / 100, 2).alias("mean_diff"),
        F.round(d, 4).alias("cohens_d"),
        F.round(d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 4)
        .alias("hedges_g"))


# ---------------------------------------------- rich-club coefficient

_RC_KS = [2, 4, 8, 16]


@register(
    "graph_rich_club_coefficient",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    ks AS (SELECT unnest(ARRAY{_RC_KS}) AS k),
    nodes AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS n_nodes
      FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1),
    edges AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS n_edges
      FROM ks
      JOIN e ON true
      JOIN deg du ON du.node = e.u AND du.d > ks.k
      JOIN deg dv ON dv.node = e.v AND dv.d > ks.k
      GROUP BY 1)
    SELECT CAST(n.k AS BIGINT) AS k, n.n_nodes,
           coalesce(ed.n_edges, 0) AS n_edges,
           round(coalesce(ed.n_edges, 0) * 2.0
                 / (n.n_nodes * (n.n_nodes - 1)), 6) AS phi
    FROM nodes n LEFT JOIN edges ed ON ed.k = n.k
    WHERE n.n_nodes >= 2
    """,
    tags=("graph",),
)
def graph_rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient φ(k) of the part co-purchase graph: among
    nodes with degree > k, the fraction of possible edges that exist —
    do the hubs preferentially interconnect? (The hub-connectivity
    companion to ``graph_degree_assortativity``'s global correlation
    and ``graph_degree_powerlaw_fit``'s tail shape.) Exact integer
    counts; one terminal ratio per k.

    Scale: the edge relation joins the (node, degree) relation twice
    (key-partitioned), the k-threshold probe is a 4-row broadcast —
    never an all-pairs count."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_partkey").select("u", "v")
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("d")))
    ks = spark.createDataFrame([(k,) for k in _RC_KS], "k long")
    nodes = (deg.crossJoin(F.broadcast(ks))
             .filter(F.col("d") > F.col("k"))
             .groupBy("k").agg(F.count("*").cast("long").alias("n_nodes")))
    edges = (e.join(deg.select(F.col("node").alias("u"),
                               F.col("d").alias("du")), "u")
             .join(deg.select(F.col("node").alias("v"),
                              F.col("d").alias("dv")), "v")
             .crossJoin(F.broadcast(ks))
             .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
             .groupBy("k").agg(F.count("*").cast("long").alias("n_edges")))
    return (nodes.join(edges, "k", "left")
            .filter(F.col("n_nodes") >= 2)
            .select("k", "n_nodes",
                    F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
                    F.round(F.coalesce("n_edges", F.lit(0)) * 2.0
                            / (F.col("n_nodes")
                               * (F.col("n_nodes") - 1)), 6)
                    .alias("phi")))


# ------------------------------------------ Horvitz-Thompson estimate

_HT_PCT = 10  # Bernoulli inclusion probability, percent


@register(
    "sample_horvitz_thompson",
    oracle=f"""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST('0x' || substr(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                                 1, 8) AS BIGINT) % 100 AS coin
      FROM orders),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(sum(cents) AS BIGINT) AS sample_cents
      FROM o WHERE coin < {_HT_PCT}),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(cents) AS BIGINT) AS total_cents FROM o)
    SELECT s.n_sampled, t.n_total,
           round(s.sample_cents * (100.0 / {_HT_PCT}) / 100, 2)
             AS ht_total_est,
           round(t.total_cents / 100.0, 2) AS actual_total,
           round((s.sample_cents * (100 // {_HT_PCT}) - t.total_cents)
                 * 1.0 / t.total_cents, 6) AS rel_err
    FROM s, t
    """,
    tags=("sampling", "stats"),
)
def sample_horvitz_thompson(spark, sf_dir):
    """Horvitz-Thompson total estimator under deterministic
    hash-Bernoulli sampling (π = {_HT_PCT}%): T̂ = Σ_sample y_i/π —
    the unbiasedness workhorse behind every sampled dashboard; shown
    against the true total so the realized error is visible. The
    inclusion coin is a salted md5 (reproducible in both engines, and
    how production pipelines make sampled metrics replayable); the
    estimator is an exact integer sum times an integer weight
    (100/{_HT_PCT}), floats only in terminal display ratios.

    Scale: one map-only coin + two global integer aggregates over one
    scan — the sampled branch never materializes separately."""
    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.conv(F.substring(F.md5(F.concat(
            F.lit("ht:"), F.col("o_orderkey").cast("string"))), 1, 8),
            16, 10).cast("long") % 100).alias("coin"))
    s = (o.filter(F.col("coin") < _HT_PCT)
         .agg(F.count("*").cast("long").alias("n_sampled"),
              F.sum("cents").cast("long").alias("sample_cents")))
    t = o.agg(F.count("*").cast("long").alias("n_total"),
              F.sum("cents").cast("long").alias("total_cents"))
    return (s.crossJoin(F.broadcast(t))
            .select("n_sampled", "n_total",
                    F.round(F.col("sample_cents") * (100.0 / _HT_PCT)
                            / 100, 2).alias("ht_total_est"),
                    F.round(F.col("total_cents") / 100.0, 2)
                    .alias("actual_total"),
                    F.round((F.col("sample_cents") * (100 // _HT_PCT)
                             - F.col("total_cents"))
                            / F.col("total_cents").cast("double"), 6)
                    .alias("rel_err")))


# ------------------------------------- seasonal Mann-Kendall trend


@register(
    "ts_seasonal_mann_kendall",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT epoch_us(ts) // {_US_DAY} AS day,
             CAST((epoch_us(ts) // {_US_DAY} + 4) % 7 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM d a JOIN d b ON a.dow = b.dow AND a.day < b.day),
    vmain AS (
      SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS vmain
      FROM (SELECT dow, count(*) AS n FROM d GROUP BY 1)),
    vties AS (
      SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
               AS vties
      FROM (SELECT dow, x, count(*) AS c FROM d GROUP BY 1, 2)
      WHERE c > 1),
    var_s AS (SELECT vmain, vties FROM vmain, vties)
    SELECT s.s_stat,
           round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((vmain - vties) / 18.0), 4) AS z
    FROM s, var_s
    """,
    tags=("timeseries", "stats"),
)
def ts_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall (Hirsch-Slack) on daily event volume:
    the MK pair-sign statistic computed WITHIN each day-of-week
    series and summed, so a strong weekly cycle cannot masquerade as
    (or mask) a monotonic trend — the seasonal-data companion to the
    driver-green ``stat_mann_kendall_trend``. S and the tie-corrected
    variance are exact integers per season (the per-(dow, x) tie
    groups correct each season's variance); the continuity-corrected
    z is one terminal float.

    Scale: pairs form within a season only (7 × (days/7)² bounded by
    calendar span, not corpus size); day-of-week is exact epoch
    arithmetic."""
    e = table(spark, sf_dir, "events")
    d = (e.groupBy(
        F.expr(f"unix_micros(ts) div {_US_DAY}").alias("day"),
        F.expr(f"(unix_micros(ts) div {_US_DAY} + 4) % 7")
        .cast("long").alias("dow"))
        .agg(F.count("*").cast("long").alias("x")))
    a = d.select(F.col("dow"), F.col("day").alias("da"),
                 F.col("x").alias("xa"))
    b = d.select(F.col("dow"), F.col("day").alias("db"),
                 F.col("x").alias("xb"))
    s = (a.join(b, "dow")
         .filter(F.col("da") < F.col("db"))
         .agg(F.sum(F.when(F.col("xb") > F.col("xa"), 1)
                    .when(F.col("xb") < F.col("xa"), -1)
                    .otherwise(0)).cast("long").alias("s_stat")))
    per_season = d.groupBy("dow").agg(F.count("*").alias("n"))
    vmain = per_season.agg(
        F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
        .cast("long").alias("vmain"))
    ties = (d.groupBy("dow", "x").agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)
                                  * (2 * F.col("c") + 5)), F.lit(0))
                 .cast("long").alias("vties")))
    j = s.crossJoin(F.broadcast(vmain)).crossJoin(F.broadcast(ties))
    cc = (F.when(F.col("s_stat") > 0, 1)
          .when(F.col("s_stat") < 0, -1).otherwise(0))
    return j.select(
        "s_stat",
        F.round((F.col("s_stat") - cc)
                / F.sqrt((F.col("vmain") - F.col("vties")) / 18.0), 4)
        .alias("z"))


# ------------------------------------------ Nelson-Aalen hazard


@register(
    "orders_nelson_aalen_hazard",
    oracle="""
    WITH lat AS (
      SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT)
               AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    ev AS (SELECT days, CAST(count(*) AS BIGINT) AS d
           FROM lat GROUP BY 1),
    risk AS (
      SELECT days, d,
             CAST(sum(d) OVER (ORDER BY days DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk
      FROM ev)
    SELECT days, d, n_at_risk,
           round(sum(d * 1.0 / n_at_risk)
                 OVER (ORDER BY days ROWS UNBOUNDED PRECEDING), 6)
             AS cum_hazard
    FROM risk
    """,
    tags=("stats", "timeseries"),
)
def orders_nelson_aalen_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of ship latency: H(t) =
    Σ_{t_i ≤ t} d_i/n_i over event days — the hazard-scale companion
    to the driver-green Kaplan-Meier survival curve (H = −ln S only
    asymptotically; NA is the estimator production reliability
    dashboards plot). d_i and the at-risk counts are exact integers
    (n_at_risk = a reversed cumulative sum — no censoring in this
    fixture); the hazard increments are summed by BOTH engines in the
    same day order (ordered window), so the float sequence is
    identical operation-for-operation.

    Scale: one grouped count to the ~day-grain relation, two ordered
    windows over it — |distinct latencies| rows, not the fact table."""
    lat = (table(spark, sf_dir, "lineitem").alias("l")
           .join(table(spark, sf_dir, "orders").alias("o"),
                 F.col("o.o_orderkey") == F.col("l.l_orderkey"))
           .select(F.datediff(F.col("l.l_shipdate"),
                              F.col("o.o_orderdate"))
                   .cast("long").alias("days")))
    ev = lat.groupBy("days").agg(F.count("*").cast("long").alias("d"))
    w_desc = Window.orderBy(F.col("days").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    w_asc = Window.orderBy("days") \
        .rowsBetween(Window.unboundedPreceding, 0)
    risk = ev.select(
        "days", "d", F.sum("d").over(w_desc).cast("long")
        .alias("n_at_risk"))
    return risk.select(
        "days", "d", "n_at_risk",
        F.round(F.sum(F.col("d") / F.col("n_at_risk").cast("double"))
                .over(w_asc), 6).alias("cum_hazard"))


# --------------------------------- sign-flip permutation test

_PM_N = 200  # deterministic permutations


@register(
    "stat_signflip_permutation_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cu,
             CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                           THEN CAST(round(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cl,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nu,
             CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nl
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1),
    pairs AS MATERIALIZED (
      SELECT day, cu - cl AS diff FROM daily
      WHERE nu > 0 AND nl > 0),
    obs AS (SELECT CAST(sum(diff) AS BIGINT) AS obs_diff,
                   CAST(count(*) AS BIGINT) AS n_days FROM pairs),
    perms AS (
      SELECT p.p,
             CAST(sum(CASE WHEN CAST('0x' || substr(md5(
                        CAST(p.p AS VARCHAR) || ':'
                        || CAST(pairs.day AS VARCHAR)), 1, 8) AS BIGINT)
                        % 2 = 0
                       THEN pairs.diff ELSE -pairs.diff END) AS BIGINT)
               AS pstat
      FROM (SELECT unnest(range(0, {_PM_N})) AS p) p, pairs
      GROUP BY 1),
    pv AS (
      SELECT CAST(sum(CASE WHEN abs(perms.pstat) >= abs(obs.obs_diff)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM perms, obs)
    SELECT obs.n_days, round(obs.obs_diff / 100.0, 2) AS obs_diff,
           CAST({_PM_N} AS BIGINT) AS n_perms,
           round((pv.n_extreme + 1.0) / ({_PM_N} + 1), 6) AS p_value
    FROM obs, pv
    """,
    tags=("stats",),
)
def stat_signflip_permutation_test(spark, sf_dir):
    """Exact sign-flip permutation test on the paired daily revenue
    difference (URGENT − LOW, days where both traded): under H₀ the
    difference is symmetric, so each day's sign flips ±1 with equal
    probability — the distribution-free paired test with NO variance
    formula to get wrong. The {_PM_N} permutations are deterministic
    salted-md5 coin sequences (replayable audits — the same discipline
    as the Poisson bootstrap and randomized-response queries), every
    permutation statistic is an exact integer sum of ±cents, and the
    add-one p-value is the single terminal float.

    Scale: |days| × {_PM_N} rows from a broadcast of the {_PM_N}-row
    permutation relation against the day-grain aggregate — bounded by
    calendar span, never the order stream; the flip-sum is map-side
    combinable."""
    daily = (table(spark, sf_dir, "orders")
             .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
             .groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(*[F.sum(F.when(F.col("o_orderpriority") == pri,
                                 F.expr("CAST(round(o_totalprice * 100)"
                                        " AS BIGINT)")).otherwise(0))
                    .cast("long").alias(c)
                    for pri, c in [("1-URGENT", "cu"), ("5-LOW", "cl")]],
                  *[F.sum(F.when(F.col("o_orderpriority") == pri, 1)
                          .otherwise(0)).cast("long").alias(c)
                    for pri, c in [("1-URGENT", "nu"), ("5-LOW", "nl")]]))
    pairs = (daily.filter((F.col("nu") > 0) & (F.col("nl") > 0))
             .select("day", (F.col("cu") - F.col("cl")).alias("diff")))
    obs = pairs.agg(F.sum("diff").cast("long").alias("obs_diff"),
                    F.count("*").cast("long").alias("n_days"))
    perm_ids = spark.range(_PM_N).select(F.col("id").alias("p"))
    coin = (F.conv(F.substring(F.md5(F.concat(
        F.col("p").cast("string"), F.lit(":"),
        F.col("day").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2)
    perms = (pairs.crossJoin(F.broadcast(perm_ids))
             .select("p", F.when(coin == 0, F.col("diff"))
                     .otherwise(-F.col("diff")).alias("sdiff"))
             .groupBy("p")
             .agg(F.sum("sdiff").cast("long").alias("pstat")))
    pv = (perms.crossJoin(F.broadcast(obs))
          .agg(F.sum(F.when(F.abs(F.col("pstat"))
                            >= F.abs(F.col("obs_diff")), 1)
                     .otherwise(0)).cast("long").alias("n_extreme")))
    return (obs.crossJoin(F.broadcast(pv))
            .select("n_days",
                    F.round(F.col("obs_diff") / 100.0, 2)
                    .alias("obs_diff"),
                    F.lit(_PM_N).cast("long").alias("n_perms"),
                    F.round((F.col("n_extreme") + 1.0) / (_PM_N + 1), 6)
                    .alias("p_value")))


# ------------------------------------- interpurchase gamma fit


@register(
    "events_interpurchase_gamma_fit",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase'),
    gaps AS (
      SELECT (us - lag(us) OVER (PARTITION BY user_id ORDER BY us))
               // 1000000 AS gap_s
      FROM p
      QUALIFY gap_s IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap_s) AS BIGINT) AS s,
             CAST(sum(CAST(gap_s AS DECIMAL(38,0)) * gap_s)
                  AS DECIMAL(38,0)) AS q
      FROM gaps)
    SELECT n,
           round(s * 1.0 / n, 2) AS mean_gap_s,
           round((s * 1.0 / n) * (s * 1.0 / n)
                 / ((CAST(q AS DOUBLE) - s * 1.0 / n * s) / (n - 1)), 4)
             AS k_hat,
           round(((CAST(q AS DOUBLE) - s * 1.0 / n * s) / (n - 1))
                 / (s * 1.0 / n), 2) AS theta_hat
    FROM m
    """,
    tags=("events", "stats"),
)
def events_interpurchase_gamma_fit(spark, sf_dir):
    """Method-of-moments Gamma fit of inter-purchase times: k̂ = m²/s²,
    θ̂ = s²/m — the parametric intensity model behind buy-till-you-die
    CLV estimates (k̂ < 1 = bursty repurchasing, k̂ ≈ 1 = Poisson,
    k̂ > 1 = regular). Gaps are exact integer seconds from a per-user
    ordered lag; moments accumulate as BIGINT/DECIMAL (q − s·m is the
    exact (n−1)s² form), two terminal divisions.

    Scale: one user-keyed window over purchases + one global moment
    aggregate; no state beyond the moment triple."""
    p = (table(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase")
         .select("user_id", F.unix_micros("ts").alias("us")))
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = (p.select(F.expr("(us - lag(us) OVER (PARTITION BY user_id "
                            "ORDER BY us)) div 1000000").alias("gap_s"))
            .filter(F.col("gap_s").isNotNull()))
    dec = "decimal(38,0)"
    m = gaps.agg(F.count("*").cast("long").alias("n"),
                 F.sum("gap_s").cast("long").alias("s"),
                 F.sum(F.col("gap_s").cast(dec) * F.col("gap_s"))
                 .cast(dec).alias("q"))
    mean = F.col("s") / F.col("n").cast("double")
    var = (F.col("q").cast("double") - mean * F.col("s")) \
        / (F.col("n") - 1)
    return m.select(
        "n", F.round(mean, 2).alias("mean_gap_s"),
        F.round(mean * mean / var, 4).alias("k_hat"),
        F.round(var / mean, 2).alias("theta_hat"))


# --------------------------------- event-sequence Markov perplexity


@register(
    "events_markov_perplexity",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM events),
    tr AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS nxt
      FROM s QUALIFY nxt IS NOT NULL),
    pair AS MATERIALIZED (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
      FROM tr GROUP BY 1, 2),
    marg AS (SELECT cur, CAST(sum(c) AS BIGINT) AS cc
             FROM pair GROUP BY 1),
    h AS (
      SELECT CAST(sum(p.c) AS BIGINT) AS n_transitions,
             CAST(count(*) AS BIGINT) AS n_pairs,
             -sum(p.c * ln(p.c * 1.0 / m.cc)) AS nll
      FROM pair p JOIN marg m ON m.cur = p.cur)
    SELECT n_transitions, n_pairs,
           round(nll / n_transitions, 4) AS cross_entropy_nats,
           round(exp(nll / n_transitions), 4) AS perplexity
    FROM h
    """,
    tags=("events", "stats", "llm"),
)
def events_markov_perplexity(spark, sf_dir):
    """In-sample perplexity of user event sequences under the MLE
    first-order Markov model — "how predictable is the clickstream":
    H = −Σ c(u,v)·ln(c(u,v)/c(u))/N over the transition-count
    relation, PPL = e^H. The language-modeling evaluation applied to
    behavioral sequences (the LM-side siblings are
    ``text_bigram_lm_score``/``text_kneser_ney_bigram``); the MLE
    transition matrix is the same relation ``events_markov_stationary``
    iterates. Ordering ties (same user, same micro-second) break on
    event_id so both engines see identical sequences; counts are exact
    integers, the log-sum runs over the |types|² pair relation (tiny),
    two terminal rounds.

    Scale: one user-keyed ordered window over events + one grouped
    count; the entropy aggregate touches |types|² rows."""
    s = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"),
        "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tr = (s.select(F.col("event_type").alias("cur"),
                   F.lead("event_type").over(w).alias("nxt"))
          .filter(F.col("nxt").isNotNull()))
    pair = tr.groupBy("cur", "nxt").agg(F.count("*").cast("long")
                                        .alias("c"))
    marg = pair.groupBy("cur").agg(F.sum("c").cast("long").alias("cc"))
    h = (pair.join(F.broadcast(marg), "cur")
         .agg(F.sum("c").cast("long").alias("n_transitions"),
              F.count("*").cast("long").alias("n_pairs"),
              (-F.sum(F.col("c")
                      * F.log(F.col("c") / F.col("cc").cast("double"))))
              .alias("nll")))
    return h.select(
        "n_transitions", "n_pairs",
        F.round(F.col("nll") / F.col("n_transitions"), 4)
        .alias("cross_entropy_nats"),
        F.round(F.exp(F.col("nll") / F.col("n_transitions")), 4)
        .alias("perplexity"))


# ------------------------------------------ F-test variance ratio


@register(
    "stat_f_test_variance_ratio",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
               AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM v GROUP BY 1),
    st AS (
      SELECT
        (SELECT n FROM m WHERE grp = 1) AS n1,
        (SELECT s FROM m WHERE grp = 1) AS s1,
        (SELECT CAST(q AS DOUBLE) FROM m WHERE grp = 1) AS q1,
        (SELECT n FROM m WHERE grp = 2) AS n2,
        (SELECT s FROM m WHERE grp = 2) AS s2,
        (SELECT CAST(q AS DOUBLE) FROM m WHERE grp = 2) AS q2)
    SELECT n1 - 1 AS df1, n2 - 1 AS df2,
           round(((q1 - s1 * 1.0 / n1 * s1) / (n1 - 1))
                 / ((q2 - s2 * 1.0 / n2 * s2) / (n2 - 1)), 4)
             AS f_stat
    FROM st
    """,
    tags=("stats",),
)
def stat_f_test_variance_ratio(spark, sf_dir):
    """F-test of equal variances (URGENT vs LOW order value): the
    parametric member of the scale-test family next to the rank-based
    Levene/Ansari-Bradley entries — F = s₁²/s₂² with each sample
    variance from exact integer/DECIMAL moments ((n−1)s² = q − s²/n),
    one terminal division. Scale: one two-group moment aggregate."""
    v = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(2).alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    dec = "decimal(38,0)"
    m = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec)
        .alias("q"))
    one = m.filter(F.col("grp") == 1).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("q").cast("double").alias("q1"))
    two = m.filter(F.col("grp") == 2).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"),
        F.col("q").cast("double").alias("q2"))
    st = one.crossJoin(F.broadcast(two))
    var1 = (F.col("q1") - F.col("s1") / F.col("n1").cast("double")
            * F.col("s1")) / (F.col("n1") - 1)
    var2 = (F.col("q2") - F.col("s2") / F.col("n2").cast("double")
            * F.col("s2")) / (F.col("n2") - 1)
    return st.select((F.col("n1") - 1).alias("df1"),
                     (F.col("n2") - 1).alias("df2"),
                     F.round(var1 / var2, 4).alias("f_stat"))


# ------------------------------------ RAPPOR categorical histogram


@register(
    "privacy_rappor_histogram",
    oracle="""
    WITH u AS (
      SELECT user_id, min(event_type) AS truth
      FROM events GROUP BY 1),
    cats AS (SELECT DISTINCT event_type AS cat FROM events),
    reports AS (
      SELECT u.user_id, c.cat,
             CASE WHEN CAST('0x' || substr(md5('rp:'
                        || CAST(u.user_id AS VARCHAR) || ':' || c.cat),
                        1, 8) AS BIGINT) % 4 <= 1
                  THEN CASE WHEN u.truth = c.cat THEN 1 ELSE 0 END
                  WHEN CAST('0x' || substr(md5('rp:'
                        || CAST(u.user_id AS VARCHAR) || ':' || c.cat),
                        1, 8) AS BIGINT) % 4 = 2
                  THEN 1 ELSE 0 END AS bit,
             CASE WHEN u.truth = c.cat THEN 1 ELSE 0 END AS true_bit
      FROM u CROSS JOIN cats c),
    agg AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bit) AS BIGINT) AS ones,
             CAST(sum(true_bit) AS BIGINT) AS true_ones
      FROM reports GROUP BY 1)
    SELECT cat, n,
           round(ones * 1.0 / n, 6) AS p_observed,
           round(2.0 * ones / n - 0.5, 6) AS p_estimated,
           round(true_ones * 1.0 / n, 6) AS p_actual
    FROM agg
    """,
    tags=("privacy", "stats"),
)
def privacy_rappor_histogram(spark, sf_dir):
    """RAPPOR-style locally-private categorical histogram: each user's
    first event type becomes a one-hot bit vector, every BIT goes
    through randomized response independently (report truth w.p. 1/2,
    else a fair coin — the ε = ln 3 basic-RAPPOR round), and each
    category's rate debiases as 2·p_obs − ½ — the multi-category
    extension of ``privacy_randomized_response``. Coins are
    deterministic per (user, category) salted md5, so the privacy
    audit replays bit-for-bit in both engines; debiased vs actual
    shown per category.

    Scale: |users| × |categories| one-hot rows from a broadcast of the
    tiny category relation; one grouped integer aggregate."""
    u = (table(spark, sf_dir, "events")
         .groupBy("user_id").agg(F.min("event_type").alias("truth")))
    cats = (table(spark, sf_dir, "events")
            .select(F.col("event_type").alias("cat")).distinct())
    coin = (F.conv(F.substring(F.md5(F.concat(
        F.lit("rp:"), F.col("user_id").cast("string"),
        F.lit(":"), F.col("cat"))), 1, 8), 16, 10)
        .cast("long") % 4)
    true_bit = F.when(F.col("truth") == F.col("cat"), 1).otherwise(0)
    rep = (u.crossJoin(F.broadcast(cats))
           .select("cat", true_bit.alias("true_bit"),
                   F.when(coin <= 1, true_bit)
                   .when(coin == 2, F.lit(1))
                   .otherwise(F.lit(0)).alias("bit")))
    return (rep.groupBy("cat")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("bit").cast("long").alias("ones"),
                 F.sum("true_bit").cast("long").alias("true_ones"))
            .select("cat", "n",
                    F.round(F.col("ones") / F.col("n").cast("double"), 6)
                    .alias("p_observed"),
                    F.round(2.0 * F.col("ones") / F.col("n") - 0.5, 6)
                    .alias("p_estimated"),
                    F.round(F.col("true_ones")
                            / F.col("n").cast("double"), 6)
                    .alias("p_actual")))
