"""Round-11 stats wave: Fisher's exact test, Benjamini-Hochberg FDR
over a per-nation test battery, and TOST equivalence testing.

These close three long-standing gaps in the inference family: the
chi-square/G² queries approximate what Fisher's exact test computes
exactly (and the approximation is exactly wrong in the small-cell
regime curation slices hit); every per-group test battery in the
registry (per-nation, per-type) reports UNADJUSTED statistics —
Benjamini-Hochberg is the standard multiple-comparison correction; and
the existing t/z tests can only reject equality — TOST (two one-sided
tests) is how you *demonstrate* equivalence, the thing an A/B "no
regression" claim actually needs.

Float discipline: the Fisher log-probabilities come from ONE
running-sum log-factorial table (an ordered window cumsum — sequential
left-to-right in BOTH engines, so the table is engine-identical to the
last bit modulo libm ln); every p-value is a fixed-arity float tree
rounded BEFORE any ranking; the BH step-up runs on rounded p-values
with explicit key tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

# ------------------------------------------------- Fisher's exact test

_F_LANG = "en"
_F_SRC = "src0"


@register(
    "stat_fisher_exact",
    oracle=f"""
    WITH m AS (
      SELECT CAST(count(*) FILTER (WHERE lang = '{_F_LANG}'
                    AND source = '{_F_SRC}') AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE lang = '{_F_LANG}') AS BIGINT)
               AS r1,
             CAST(count(*) FILTER (WHERE source = '{_F_SRC}') AS BIGINT)
               AS c1,
             CAST(count(*) AS BIGINT) AS nn
      FROM documents),
    lf AS (
      SELECT i,
             sum(CASE WHEN i = 0 THEN 0.0 ELSE ln(i) END)
               OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS lf
      FROM (SELECT unnest(range(0, nn + 1)) AS i FROM m)),
    ks AS (
      SELECT m.*, k
      FROM m, unnest(range(greatest(0, m.r1 + m.c1 - m.nn),
                           least(m.r1, m.c1) + 1)) AS t(k)),
    logp AS (
      SELECT ks.k, ks.a, ks.r1, ks.c1, ks.nn,
             (SELECT lf FROM lf WHERE i = ks.r1)
           - (SELECT lf FROM lf WHERE i = ks.k)
           - (SELECT lf FROM lf WHERE i = ks.r1 - ks.k)
           + (SELECT lf FROM lf WHERE i = ks.nn - ks.r1)
           - (SELECT lf FROM lf WHERE i = ks.c1 - ks.k)
           - (SELECT lf FROM lf WHERE i = ks.nn - ks.r1 - ks.c1 + ks.k)
           - (SELECT lf FROM lf WHERE i = ks.nn)
           + (SELECT lf FROM lf WHERE i = ks.c1)
           + (SELECT lf FROM lf WHERE i = ks.nn - ks.c1) AS lp
      FROM ks),
    obs AS (SELECT lp AS lp_obs FROM logp WHERE k = a)
    SELECT logp.a, logp.r1, logp.c1, logp.nn,
           round(sum(CASE WHEN logp.lp <= obs.lp_obs + 1e-7
                          THEN exp(logp.lp) ELSE 0 END), 6)
             AS p_two_sided,
           round(CASE WHEN (logp.r1 - logp.a) * (logp.c1 - logp.a) = 0
                      THEN NULL
                      ELSE CAST(logp.a AS DOUBLE)
                           * (logp.nn - logp.r1 - logp.c1 + logp.a)
                           / (CAST(logp.r1 - logp.a AS DOUBLE)
                              * (logp.c1 - logp.a)) END, 6) AS odds_ratio
    FROM logp CROSS JOIN obs
    GROUP BY 1, 2, 3, 4, obs.lp_obs
    """,
    tags=("analytics", "stats"),
)
def stat_fisher_exact(spark, sf_dir):
    """Fisher's EXACT test of lang='{_F_LANG}' × source='{_F_SRC}' on
    the corpus — the hypergeometric-tail answer the chi-square /
    G² queries approximate, and the only valid one when cells are
    small. Two-sided p = Σ P(k) over tables no more likely than the
    observed one (scipy's convention, tolerance 1e-7 on the
    log-probability).

    Determinism: the log-factorial table is ONE ordered running-sum
    window — a sequential left-to-right cumsum in both engines, so
    lf(i) is engine-identical; each log-probability is a fixed-arity
    combination of 9 lf lookups; the terminal tail sum is over ≤
    min(r1,c1) bounded-magnitude terms, rounded 6dp. Scale note: the
    exact tail is for BOUNDED margins (the regime where it matters —
    small-cell contingency); at 10⁹-row margins the normal/chi-square
    approximations in this family are correct and this query's lf
    table (O(N) rows, one ordered cumsum) would be replaced by a
    Stirling/lgamma expression — documented trade, same answer to 6dp
    where both apply."""
    docs = table(spark, sf_dir, "documents")
    m = docs.agg(
        F.count(F.when((F.col("lang") == _F_LANG)
                       & (F.col("source") == _F_SRC), 1))
        .cast("long").alias("a"),
        F.count(F.when(F.col("lang") == _F_LANG, 1)).cast("long")
        .alias("r1"),
        F.count(F.when(F.col("source") == _F_SRC, 1)).cast("long")
        .alias("c1"),
        F.count("*").cast("long").alias("nn"))
    lf = (m.select(F.explode(F.sequence(F.lit(0), F.col("nn")))
                   .alias("i"))
          .select("i", F.sum(F.when(F.col("i") == 0, F.lit(0.0))
                             .otherwise(F.log(F.col("i"))))
                  .over(Window.orderBy("i")
                        .rowsBetween(Window.unboundedPreceding, 0))
                  .alias("lf")))
    ks = m.select("a", "r1", "c1", "nn",
                  F.explode(F.sequence(
                      F.greatest(F.lit(0), F.col("r1") + F.col("c1")
                                 - F.col("nn")),
                      F.least(F.col("r1"), F.col("c1")))).alias("k"))

    def look(expr, name):
        sub = lf.select(F.col("i").alias(f"{name}_i"),
                        F.col("lf").alias(name))
        return lambda df: df.join(sub, expr == F.col(f"{name}_i")) \
                            .drop(f"{name}_i")

    j = ks
    for name, expr in [
            ("lr1", F.col("r1")), ("lk", F.col("k")),
            ("lr1k", F.col("r1") - F.col("k")),
            ("lnr1", F.col("nn") - F.col("r1")),
            ("lc1k", F.col("c1") - F.col("k")),
            ("ld", F.col("nn") - F.col("r1") - F.col("c1") + F.col("k")),
            ("lnn", F.col("nn")), ("lc1", F.col("c1")),
            ("lnc1", F.col("nn") - F.col("c1"))]:
        j = look(expr, name)(j)
    lp = (F.col("lr1") - F.col("lk") - F.col("lr1k") + F.col("lnr1")
          - F.col("lc1k") - F.col("ld") - F.col("lnn") + F.col("lc1")
          + F.col("lnc1"))
    logp = j.select("k", "a", "r1", "c1", "nn", lp.alias("lp"))
    obs = logp.filter(F.col("k") == F.col("a")) \
              .select(F.col("lp").alias("lp_obs"))
    b = F.col("r1") - F.col("a")
    c = F.col("c1") - F.col("a")
    d = F.col("nn") - F.col("r1") - F.col("c1") + F.col("a")
    orat = F.when(b * c == 0, F.lit(None).cast("double")).otherwise(
        F.col("a").cast("double") * d / (b.cast("double") * c))
    return (logp.crossJoin(F.broadcast(obs))
            .groupBy("a", "r1", "c1", "nn", "lp_obs")
            .agg(F.round(F.sum(F.when(
                F.col("lp") <= F.col("lp_obs") + 1e-7,
                F.exp(F.col("lp"))).otherwise(F.lit(0.0))), 6)
                .alias("p_two_sided"))
            .select("a", "r1", "c1", "nn", "p_two_sided",
                    F.round(orat, 6).alias("odds_ratio")))


# --------------------------------- Benjamini-Hochberg FDR step-up

_BH_Q = 0.10
# Zelen & Severo (A&S 26.2.17) polynomial for the standard normal CDF
_BH_T = 0.2316419
_BH_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def _phi_tail_sql(z: str) -> str:
    """DuckDB upper-tail 1-Φ(|z|) via the A&S 26.2.17 polynomial —
    written as the identical Horner tree the Spark side builds."""
    t = f"(1.0 / (1.0 + {_BH_T} * abs({z})))"
    b1, b2, b3, b4, b5 = _BH_B
    horner = (f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} "
              f"* ({b4} + {t} * {b5})))))")
    return (f"({_INV_SQRT_2PI} * exp(-abs({z}) * abs({z}) / 2.0) "
            f"* {horner})")


@register(
    "stat_benjamini_hochberg_fdr",
    oracle=f"""
    WITH li AS (
      SELECT c.c_nationkey,
             CAST(count(*) FILTER (WHERE l.l_returnflag = 'R') AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS n
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1),
    g AS (SELECT CAST(sum(x) AS BIGINT) AS gx,
                 CAST(sum(n) AS BIGINT) AS gn,
                 CAST(count(*) AS BIGINT) AS m
          FROM li),
    zt AS (
      SELECT li.c_nationkey, li.x, li.n, g.m,
             (CAST(li.x AS DOUBLE) / li.n
              - CAST(g.gx - li.x AS DOUBLE) / (g.gn - li.n))
             / sqrt((CAST(g.gx AS DOUBLE) / g.gn)
                    * (1.0 - CAST(g.gx AS DOUBLE) / g.gn)
                    * (1.0 / li.n + 1.0 / (g.gn - li.n))) AS z
      FROM li CROSS JOIN g),
    zr AS (SELECT c_nationkey, x, n, m, round(z, 4) AS z FROM zt),
    pv AS (
      SELECT c_nationkey, x, n, m, z,
             round(2.0 * {_phi_tail_sql('z')}, 6) AS p_raw
      FROM zr),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY p_raw, c_nationkey) AS i
      FROM pv),
    adj AS (
      SELECT *, least(1.0, min(p_raw * m / i)
               OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING)) AS bh
      FROM rk)
    SELECT c_nationkey, x, n, z, p_raw,
           round(bh, 6) AS p_bh,
           round(bh, 6) <= {_BH_Q} AS reject
    FROM adj
    """,
    tags=("analytics", "stats"),
)
def stat_benjamini_hochberg_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR correction over a per-nation test
    battery: each nation's returned-line share is z-tested against the
    rest of the world (two-proportion, pooled), then the 25 raw
    p-values go through the BH step-up (p·m/i with a reverse running
    min) at q={_BH_Q}. This is the missing layer over every per-group
    battery in the registry — 25 uncorrected tests at α=0.05 expect a
    false positive; BH bounds the false-discovery RATE.

    Determinism: Φ is the A&S 26.2.17 polynomial — the same Horner
    float tree in both engines (libm exp only); p is rounded 6dp
    BEFORE ranking (nationkey tie-break), and the step-up is a
    windowed running min over those rounded values — no float
    accumulation anywhere. Scale: the battery is one
    customer⋈orders⋈lineitem aggregate keyed by nation; everything
    after is |nations| rows on one partition by construction."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    per = (cust.join(orders, cust.c_custkey == orders.o_custkey)
           .join(li, li.l_orderkey == orders.o_orderkey)
           .groupBy("c_nationkey")
           .agg(F.count(F.when(F.col("l_returnflag") == "R", 1))
                .cast("long").alias("x"),
                F.count("*").cast("long").alias("n")))
    g = per.agg(F.sum("x").cast("long").alias("gx"),
                F.sum("n").cast("long").alias("gn"),
                F.count("*").cast("long").alias("m"))
    ph = F.col("gx").cast("double") / F.col("gn")
    z = ((F.col("x").cast("double") / F.col("n")
          - (F.col("gx") - F.col("x")).cast("double")
          / (F.col("gn") - F.col("n")))
         / F.sqrt(ph * (1.0 - ph)
                  * (1.0 / F.col("n")
                     + 1.0 / (F.col("gn") - F.col("n")))))
    zt = (per.crossJoin(F.broadcast(g))
          .select("c_nationkey", "x", "n", "m", F.round(z, 4).alias("z")))
    az = F.abs(F.col("z"))
    t = 1.0 / (1.0 + _BH_T * az)
    b1, b2, b3, b4, b5 = _BH_B
    horner = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    tail = _INV_SQRT_2PI * F.exp(-az * az / 2.0) * horner
    pv = zt.select("c_nationkey", "x", "n", "m", "z",
                   F.round(2.0 * tail, 6).alias("p_raw"))
    wi = Window.orderBy("p_raw", "c_nationkey")
    wmin = (Window.orderBy("i")
            .rowsBetween(0, Window.unboundedFollowing))
    rk = pv.withColumn("i", F.row_number().over(wi))
    bh = F.least(F.lit(1.0),
                 F.min(F.col("p_raw") * F.col("m") / F.col("i"))
                 .over(wmin))
    return (rk.withColumn("bh", bh)
            .select("c_nationkey", "x", "n", "z", "p_raw",
                    F.round("bh", 6).alias("p_bh"),
                    (F.round("bh", 6) <= _BH_Q).alias("reject")))


# ----------------------------------------------- TOST equivalence test

_TOST_A = "1-URGENT"
_TOST_B = "5-LOW"
_TOST_MARGIN = 0.02   # ±2% of the pooled mean
_TOST_CRIT = 1.6449   # one-sided z at alpha = 0.05


@register(
    "stat_tost_equivalence",
    oracle=f"""
    WITH s AS (
      SELECT count(*) FILTER (WHERE o_orderpriority = '{_TOST_A}') AS n1,
             avg(o_totalprice) FILTER (WHERE o_orderpriority = '{_TOST_A}')
               AS m1,
             var_samp(o_totalprice)
               FILTER (WHERE o_orderpriority = '{_TOST_A}') AS v1,
             count(*) FILTER (WHERE o_orderpriority = '{_TOST_B}') AS n2,
             avg(o_totalprice) FILTER (WHERE o_orderpriority = '{_TOST_B}')
               AS m2,
             var_samp(o_totalprice)
               FILTER (WHERE o_orderpriority = '{_TOST_B}') AS v2
      FROM orders),
    d AS (
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             m1 - m2 AS diff,
             {_TOST_MARGIN} * ((m1 * n1 + m2 * n2) / (n1 + n2)) AS delta,
             sqrt(v1 / n1 + v2 / n2) AS se
      FROM s)
    SELECT n1, n2, round(diff, 4) AS mean_diff,
           round(delta, 4) AS delta,
           round((diff + delta) / se, 4) AS t_lower,
           round((delta - diff) / se, 4) AS t_upper,
           round((diff + delta) / se, 4) > {_TOST_CRIT}
             AND round((delta - diff) / se, 4) > {_TOST_CRIT}
             AS equivalent
    FROM d
    """,
    tags=("analytics", "stats"),
)
def stat_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (two one-sided tests): are
    '{_TOST_A}' and '{_TOST_B}' order totals THE SAME to within ±2% of
    the pooled mean? The t/z tests in this family can only fail to
    reject equality — TOST is the procedure that affirmatively
    demonstrates equivalence (both one-sided statistics must clear the
    one-sided critical value), which is what an A/B "no regression"
    readout actually claims. Same one-scan conditional-aggregate shape
    as `stat_ttest_welch`; the margin δ is data-derived from the same
    single result row, so the whole readout is one fixed-arity float
    tree, each reported statistic rounded 4dp before the boolean."""
    orders = table(spark, sf_dir, "orders")

    def side(p):
        c = F.when(F.col("o_orderpriority") == p, F.col("o_totalprice"))
        return (F.count(c), F.avg(c), F.var_samp(c))

    n1, m1, v1 = side(_TOST_A)
    n2, m2, v2 = side(_TOST_B)
    s = orders.agg(n1.cast("long").alias("n1"), m1.alias("m1"),
                   v1.alias("v1"), n2.cast("long").alias("n2"),
                   m2.alias("m2"), v2.alias("v2"))
    diff = F.col("m1") - F.col("m2")
    delta = _TOST_MARGIN * ((F.col("m1") * F.col("n1")
                             + F.col("m2") * F.col("n2"))
                            / (F.col("n1") + F.col("n2")))
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    tl = F.round((diff + delta) / se, 4)
    tu = F.round((delta - diff) / se, 4)
    return s.select("n1", "n2",
                    F.round(diff, 4).alias("mean_diff"),
                    F.round(delta, 4).alias("delta"),
                    tl.alias("t_lower"), tu.alias("t_upper"),
                    ((tl > _TOST_CRIT) & (tu > _TOST_CRIT))
                    .alias("equivalent"))


# --------------------------------- Holt-Winters additive (seasonal)

_US_DAY = 86_400_000_000
_HW_W = 21             # 3 complete weekly seasons
_HW_M = 7
_HW_A, _HW_B, _HW_G = 0.5, 0.3, 0.4


def _hw_weights():
    """Coefficient vectors of the truncated Holt-Winters additive
    recursion over the last W days — the `ts_holt_linear_forecast`
    truncated-kernel recipe extended to THREE state variables.
    Init from the first season: l = mean(y_0..y_{m-1}), b = 0,
    s_p = y_p - l; then W-m coupled update steps. Everything is
    linear in y, so the final (level, trend, next-season seasonal,
    forecast) are four literal weight vectors shared by both
    engines."""
    w, m, a, b, g = _HW_W, _HW_M, _HW_A, _HW_B, _HW_G
    lw = [1.0 / m if i < m else 0.0 for i in range(w)]
    bw = [0.0] * w
    sw = {p: [(1.0 if i == p else 0.0) - (1.0 / m if i < m else 0.0)
              for i in range(w)] for p in range(m)}
    for t in range(m, w):
        p = t % m
        y = [1.0 if i == t else 0.0 for i in range(w)]
        l_new = [a * (y[i] - sw[p][i]) + (1 - a) * (lw[i] + bw[i])
                 for i in range(w)]
        b_new = [b * (l_new[i] - lw[i]) + (1 - b) * bw[i]
                 for i in range(w)]
        s_new = [g * (y[i] - l_new[i]) + (1 - g) * sw[p][i]
                 for i in range(w)]
        lw, bw, sw[p] = l_new, b_new, s_new
    fp = w % m
    fw = [lw[i] + bw[i] + sw[fp][i] for i in range(w)]
    r = lambda v: [round(x, 12) for x in v]
    return r(lw), r(bw), r(sw[fp]), r(fw)


_HW_LW, _HW_BW, _HW_SW, _HW_FW = _hw_weights()


def _hw_oracle() -> str:
    ycols = ",\n             ".join(
        f"CAST(max(CASE WHEN idx = {i} THEN cents END) AS BIGINT) AS y{i}"
        for i in range(_HW_W))

    def dot(ws):
        return " + ".join(f"({w!r} * y{i})" for i, w in enumerate(ws))

    return f"""
    WITH d AS (
      SELECT epoch_us(ts) // {_US_DAY} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    r AS (
      SELECT cents,
             {_HW_W} - row_number() OVER (ORDER BY day DESC) AS idx
      FROM d),
    p AS (
      SELECT {ycols},
             CAST(count(*) AS BIGINT) AS n_used
      FROM r WHERE idx >= 0)
    SELECT n_used,
           round(({dot(_HW_LW)}) / 100, 4) AS level,
           round(({dot(_HW_BW)}) / 100, 4) AS trend,
           round(({dot(_HW_SW)}) / 100, 4) AS seasonal_next,
           round(({dot(_HW_FW)}) / 100, 4) AS forecast_next
    FROM p
    """


@register("ts_holt_winters_additive", oracle=_hw_oracle(),
          tags=("timeseries", "forecast"))
def ts_holt_winters_additive(spark, sf_dir):
    """Holt-Winters ADDITIVE one-step forecast of daily revenue —
    level + trend + weekly seasonality, completing the exponential-
    smoothing ladder (EWMA → Holt linear → this). The coupled
    3-variable recursion over the last 21 days unrolls at IMPORT time
    into four literal weight vectors (level, trend, the next day's
    seasonal state, and their forecast sum), so the runtime is one
    conditional-aggregate pivot of exact integer day-cents plus four
    fixed-arity dot products with shared literals — identical operand
    order in both engines, no recursion, no state at run time. Scale:
    reads the day-grain aggregate (bounded by calendar span); the
    kernel is a 21-column single row."""
    e = table(spark, sf_dir, "events")
    d = (e.groupBy((F.unix_micros("ts") / _US_DAY).cast("long")
                   .alias("day"))
         .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
              .cast("long").alias("cents")))
    r = d.select(
        "cents",
        (_HW_W - F.row_number().over(Window.orderBy(F.col("day").desc())))
        .alias("idx")).filter(F.col("idx") >= 0)
    p = r.agg(
        *[F.max(F.when(F.col("idx") == i, F.col("cents"))).cast("long")
          .alias(f"y{i}") for i in range(_HW_W)],
        F.count("*").cast("long").alias("n_used"))

    def dot(ws):
        acc = None
        for i, wgt in enumerate(ws):
            t = F.lit(wgt) * F.col(f"y{i}")
            acc = t if acc is None else acc + t
        return acc

    return p.select(
        "n_used",
        F.round(dot(_HW_LW) / 100, 4).alias("level"),
        F.round(dot(_HW_BW) / 100, 4).alias("trend"),
        F.round(dot(_HW_SW) / 100, 4).alias("seasonal_next"),
        F.round(dot(_HW_FW) / 100, 4).alias("forecast_next"))


# ------------------------------------- DP exponential mechanism

_EM_EPS = 1.0


@register(
    "privacy_exponential_mechanism",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(('0x' || substr(md5(event_type), 1, 15)) AS BIGINT)
               AS h
      FROM events GROUP BY 1),
    mx AS (SELECT max(n) AS nmax FROM c),
    sc AS (
      SELECT event_type, n,
             round(exp({_EM_EPS} * (n - nmax) / 2.0), 6) AS w,
             round({_EM_EPS} * n / 2.0
                   - ln(-ln((h + 1.0) / {1 << 60})), 6) AS noisy
      FROM c CROSS JOIN mx),
    tot AS (SELECT sum(w) AS tw FROM sc)
    SELECT event_type, n,
           round(w / tw, 6) AS p_select,
           noisy,
           noisy = (SELECT max(noisy) FROM sc) AS is_selected
    FROM sc CROSS JOIN tot
    """,
    tags=("privacy", "stats"),
)
def privacy_exponential_mechanism(spark, sf_dir):
    """The DP exponential mechanism (McSherry-Talwar) selecting the
    most frequent event type at ε={_EM_EPS}, via the Gumbel-max trick:
    winner = argmax(ε·u/2Δ + Gumbel noise) — distributed over the
    utility relation, no sequential sampling. The audit columns carry
    each candidate's EXACT selection probability exp(εu/2)/Σ
    (max-shifted so the exponentials stay bounded).

    Determinism discipline (same as `privacy_randomized_response` /
    RAPPOR): the Gumbel draw's uniform is the candidate's md5 15-hex
    prefix mapped into (0,1] — reproducible across engines and
    re-runs, which is what makes a DP *pipeline* testable; a
    production release swaps the hash for a sealed RNG without
    touching the plan. All per-row float trees are fixed-arity and
    rounded 6dp before the argmax comparison; the only cross-row
    float is the |candidates|-row weight sum. Scale: one keyed
    aggregate; candidates = |event types|."""
    e = table(spark, sf_dir, "events")
    c = (e.groupBy("event_type")
         .agg(F.count("*").cast("long").alias("n"))
         .withColumn("h", F.conv(F.substring(F.md5("event_type"), 1, 15),
                                 16, 10).cast("long")))
    mx = c.agg(F.max("n").alias("nmax"))
    u = (F.col("h") + 1.0) / float(1 << 60)
    sc = (c.crossJoin(F.broadcast(mx))
          .select("event_type", "n",
                  F.round(F.exp(_EM_EPS * (F.col("n") - F.col("nmax"))
                                / 2.0), 6).alias("w"),
                  F.round(_EM_EPS * F.col("n") / 2.0
                          - F.log(-F.log(u)), 6).alias("noisy")))
    tot = sc.agg(F.sum("w").alias("tw"))
    best = sc.agg(F.max("noisy").alias("nbest"))
    return (sc.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(best))
            .select("event_type", "n",
                    F.round(F.col("w") / F.col("tw"), 6).alias("p_select"),
                    "noisy",
                    (F.col("noisy") == F.col("nbest")).alias("is_selected")))


# ------------------------------------------ Weibull median-rank fit

_WB_TMAX = 200


@register(
    "survival_weibull_fit",
    oracle=f"""
    WITH t AS (
      SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS t
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', o.o_orderdate, l.l_shipdate)
            BETWEEN 1 AND {_WB_TMAX}),
    v AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
    r AS (
      SELECT t, c,
             sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER () AS n
      FROM v),
    xy AS (
      SELECT round(ln(t), 6) AS x,
             round(ln(-ln(1.0 - (cum - 0.3) / (n + 0.4))), 6) AS y
      FROM r WHERE cum < n),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS np, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM xy),
    fit AS (
      SELECT np,
             (np * sxy - sx * sy) / (np * sxx - sx * sx) AS k,
             (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np
               AS b
      FROM s)
    SELECT np AS n_points,
           (SELECT CAST(max(n) AS BIGINT) FROM r) AS n_obs,
           round(k, 4) AS shape_k,
           round(exp(-b / k), 4) AS scale_days
    FROM fit
    """,
    tags=("analytics", "stats", "survival"),
)
def survival_weibull_fit(spark, sf_dir):
    """Weibull shape/scale fit of ship latency by MEDIAN-RANK
    REGRESSION (the reliability-engineering standard: Bernard's
    approximation F_i=(i-0.3)/(n+0.4) at each distinct latency's
    cumulative rank, then OLS of ln(-ln(1-F)) on ln(t)) — the
    parametric member of the survival family beside the nonparametric
    `survival_km_ship_latency` and `orders_nelson_aalen_hazard`.
    shape_k > 1 means latency hazard RISES with age (lines overdue
    tend to ship), < 1 means a long tail of stragglers.

    Determinism: ranks and counts are exact integers from one
    value-grain aggregate; x/y are rounded 6dp per point BEFORE the
    OLS sums (≤ {_WB_TMAX} bounded terms); the top rank (F=1,
    y=-ln(0)=∞) is excluded by construction. Scale: everything after
    the day-grain aggregate is ≤ {_WB_TMAX} rows."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    t = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select(F.datediff("l_shipdate", "o_orderdate").alias("t"))
         .filter(F.col("t").between(1, _WB_TMAX)))
    v = t.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    r = v.select(
        "t", "c",
        F.sum("c").over(Window.orderBy("t")
                        .rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"))
    xy = (r.filter(F.col("cum") < F.col("n"))
          .select(F.round(F.log("t"), 6).alias("x"),
                  F.round(F.log(-F.log(1.0 - (F.col("cum") - 0.3)
                                       / (F.col("n") + 0.4))), 6)
                  .alias("y")))
    s = xy.agg(F.count("*").cast("long").alias("np"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"))
    nobs = r.agg(F.max("n").cast("long").alias("n_obs"))
    k = ((F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")))
    b = (F.col("sy") - k * F.col("sx")) / F.col("np")
    return (s.crossJoin(F.broadcast(nobs))
            .select(F.col("np").alias("n_points"), "n_obs",
                    F.round(k, 4).alias("shape_k"),
                    F.round(F.exp(-b / k), 4).alias("scale_days")))


# --------------------------------- negative-binomial overdispersion

@register(
    "stat_negbin_overdispersion",
    oracle="""
    WITH uc AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             avg(c) AS mu, var_samp(c) AS v
      FROM uc GROUP BY 1)
    SELECT event_type, n_users,
           round(mu, 4) AS mean_per_user,
           round(v / mu, 4) AS dispersion_index,
           CASE WHEN v > mu
                THEN round(mu * mu / (v - mu), 4) END AS nb_r,
           CASE WHEN v > mu THEN round(mu / v, 4) END AS nb_p
    FROM s
    """,
    tags=("analytics", "stats"),
)
def stat_negbin_overdispersion(spark, sf_dir):
    """Negative-binomial overdispersion fit of per-user event counts,
    per event type: dispersion index var/mean (Poisson ⇒ 1; real user
    activity is almost always > 1 — burstiness), and the NB
    method-of-moments parameters r = μ²/(σ²-μ), p = μ/σ² when
    overdispersed (NULL when at-or-under Poisson — the honest answer,
    not a negative r). The count-model companion to
    `stat_poisson_rate_test` (which assumes the dispersion this query
    measures) and `events_burstiness_fano` (the time-axis view).
    Per-user counts are exact integers from one (type,user) aggregate;
    mean/var are the same one-pass conditional moments as
    `stat_ttest_welch`, rounded 4dp. Scale: two keyed aggregates,
    output rows = |event types|."""
    e = table(spark, sf_dir, "events")
    uc = (e.filter(F.col("user_id").isNotNull())
          .groupBy("event_type", "user_id")
          .agg(F.count("*").cast("long").alias("c")))
    s = uc.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.avg("c").alias("mu"), F.var_samp("c").alias("v"))
    over = F.col("v") > F.col("mu")
    return s.select(
        "event_type", "n_users",
        F.round("mu", 4).alias("mean_per_user"),
        F.round(F.col("v") / F.col("mu"), 4).alias("dispersion_index"),
        F.when(over, F.round(F.col("mu") * F.col("mu")
                             / (F.col("v") - F.col("mu")), 4))
        .alias("nb_r"),
        F.when(over, F.round(F.col("mu") / F.col("v"), 4)).alias("nb_p"))


# ------------------------------------------ modularity of a partition

def _modularity_oracle() -> str:
    from .analytics10 import _LPA_ROUNDS, _lpa_ctes
    return _lpa_ctes() + f""",
    lab AS (SELECT u, lbl FROM lab{_LPA_ROUNDS}),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    intra AS (
      SELECT CAST(count(*) AS BIGINT) AS ei
      FROM e JOIN lab la ON la.u = e.u JOIN lab lb ON lb.u = e.v
      WHERE la.lbl = lb.lbl),
    dc AS (
      SELECT CAST(sum(dd * dd) AS DECIMAL(38,0)) AS sum_dc2,
             CAST(count(*) AS BIGINT) AS n_comm
      FROM (SELECT la.lbl, CAST(sum(deg.d) AS DECIMAL(38,0)) AS dd
            FROM deg JOIN lab la ON la.u = deg.u GROUP BY 1))
    SELECT dc.n_comm AS n_communities, m.m AS m_edges,
           intra.ei AS intra_edges,
           round(CAST(intra.ei AS DOUBLE) / m.m
                 - CAST(dc.sum_dc2 AS DOUBLE) / (4.0 * m.m * m.m), 6)
             AS q_modularity
    FROM dc CROSS JOIN m CROSS JOIN intra
    """


@register(
    "graph_modularity_score",
    oracle=_modularity_oracle(),
    tags=("graph", "stats"),
)
def graph_modularity_score(spark, sf_dir):
    """Newman modularity Q of the `graph_label_propagation` partition
    on the part co-purchase graph — the quality score that turns
    'here are communities' into 'and they are {{Q}} better than random
    rewiring'. Q = Σ_c e_c/m − (d_c/2m)², computed from EXACT
    integers: intra-community edge count (one edge⋈label⋈label
    semi-restriction), per-community degree sums squared as
    DECIMAL(38,0) (d_c ≤ 2m squares past int64 at corpus scale — the
    analytics29 overflow discipline), one terminal fixed-arity float
    rounded 6dp. The partition comes from the SHARED `lpa_partition`
    code path, so this scores exactly the certified partition, not a
    re-derivation. Scale: label joins are node-keyed; everything after
    the LPA rounds is |communities| rows."""
    from .analytics10 import lpa_partition
    e, adj, lab = lpa_partition(spark, sf_dir)
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    m = e.agg(F.count("*").cast("long").alias("m"))
    la = lab.select(F.col("u").alias("ea"), F.col("lbl").alias("lbl_a"))
    lb = lab.select(F.col("u").alias("eb"), F.col("lbl").alias("lbl_b"))
    intra = (e.join(la, e.u == la.ea).join(lb, e.v == lb.eb)
             .filter(F.col("lbl_a") == F.col("lbl_b"))
             .agg(F.count("*").cast("long").alias("ei")))
    dd = (deg.join(lab, "u")
          .groupBy("lbl")
          .agg(F.sum("d").cast("decimal(38,0)").alias("dd")))
    dc = dd.agg(F.sum(F.col("dd") * F.col("dd")).cast("decimal(38,0)")
                .alias("sum_dc2"),
                F.count("*").cast("long").alias("n_comm"))
    return (dc.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(intra))
            .select(F.col("n_comm").alias("n_communities"),
                    F.col("m").alias("m_edges"),
                    F.col("ei").alias("intra_edges"),
                    F.round(F.col("ei").cast("double") / F.col("m")
                            - F.col("sum_dc2").cast("double")
                            / (4.0 * F.col("m") * F.col("m")), 6)
                    .alias("q_modularity")))


# ------------------------------------------ split-conformal interval

_CF_ALPHA = 0.10


@register(
    "stat_conformal_interval",
    oracle=f"""
    WITH d AS (
      SELECT o_orderpriority AS grp, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 2 AS part
      FROM orders),
    fit AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_fit,
             CAST(sum(cents) AS BIGINT) // count(*) AS mu
      FROM d WHERE part = 0 GROUP BY 1),
    cal AS (
      SELECT d.grp, abs(d.cents - fit.mu) AS r
      FROM d JOIN fit ON fit.grp = d.grp WHERE d.part = 1),
    rk AS (
      SELECT grp, r,
             row_number() OVER (PARTITION BY grp ORDER BY r) AS rn,
             count(*) OVER (PARTITION BY grp) AS n_cal
      FROM cal),
    q AS (
      SELECT grp, n_cal, r AS qhat
      FROM rk
      WHERE rn = least(n_cal,
                       CAST(ceil((n_cal + 1) * {1 - _CF_ALPHA})
                            AS BIGINT))),
    cov AS (
      SELECT cal.grp,
             CAST(sum(CASE WHEN cal.r <= q.qhat THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_in
      FROM cal JOIN q ON q.grp = cal.grp GROUP BY 1)
    SELECT q.grp AS o_orderpriority, fit.n_fit,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           round(fit.mu / 100.0, 2) AS center,
           round(q.qhat / 100.0, 2) AS half_width,
           round((fit.mu - q.qhat) / 100.0, 2) AS lo,
           round((fit.mu + q.qhat) / 100.0, 2) AS hi,
           round(CAST(cov.n_in AS DOUBLE) / q.n_cal, 6) AS cal_coverage
    FROM q JOIN fit ON fit.grp = q.grp JOIN cov ON cov.grp = q.grp
    """,
    tags=("analytics", "stats"),
)
def stat_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval for order totals per
    priority: fit a (deliberately simple) group-mean model on the even
    orderkeys, take the ceil((n+1)(1-α))-th smallest absolute residual
    on the odd-key calibration half as q̂, report center ± q̂ — the
    distribution-free ≥90% coverage guarantee that holds for ANY
    model, with the calibration coverage as the audit column. This is
    the modern uncertainty layer the point-estimate queries lack.

    Exactness: the group mean is a truncating integer-cent division,
    residuals are exact integer cents, q̂ is an order statistic —
    nothing float until the terminal /100 display conversions. Scale:
    one scan splits by key parity (deterministic, replayable), one
    residual join keyed by group, one per-group rank window."""
    o = table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderpriority").alias("grp"), "o_orderkey",
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents"),
                 (F.col("o_orderkey") % 2).alias("part"))
    fit = (d.filter(F.col("part") == 0).groupBy("grp")
           .agg(F.count("*").cast("long").alias("n_fit"),
                F.expr("CAST(sum(cents) AS BIGINT) div count(*)")
                .alias("mu")))
    cal = (d.filter(F.col("part") == 1).join(fit, "grp")
           .select("grp", F.abs(F.col("cents") - F.col("mu")).alias("r")))
    wr = Window.partitionBy("grp").orderBy("r")
    wn = Window.partitionBy("grp")
    rk = (cal.withColumn("rn", F.row_number().over(wr))
          .withColumn("n_cal", F.count("*").over(wn)))
    q = (rk.filter(F.col("rn") == F.least(
            F.col("n_cal"),
            F.ceil((F.col("n_cal") + 1) * (1 - _CF_ALPHA)).cast("long")))
         .select("grp", "n_cal", F.col("r").alias("qhat")))
    cov = (cal.join(q, "grp")
           .groupBy("grp")
           .agg(F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
                .cast("long").alias("n_in")))
    return (q.join(fit, "grp").join(cov, "grp")
            .select(F.col("grp").alias("o_orderpriority"), "n_fit",
                    F.col("n_cal").cast("long"),
                    F.round(F.col("mu") / 100.0, 2).alias("center"),
                    F.round(F.col("qhat") / 100.0, 2).alias("half_width"),
                    F.round((F.col("mu") - F.col("qhat")) / 100.0, 2)
                    .alias("lo"),
                    F.round((F.col("mu") + F.col("qhat")) / 100.0, 2)
                    .alias("hi"),
                    F.round(F.col("n_in").cast("double") / F.col("n_cal"),
                            6).alias("cal_coverage")))


# ------------------------------------------------ Deming regression

@register(
    "stat_deming_regression",
    oracle="""
    WITH d AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
               AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS syy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS sxy
      FROM d),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy,
             CAST(sx AS DOUBLE) / n AS mx,
             CAST(sy AS DOUBLE) / n AS my
      FROM s)
    SELECT n,
           round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                   + 4 * cxy * cxy))
                 / (2 * cxy) / 100.0, 6) AS slope_dollars_per_unit,
           round((my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                         + 4 * cxy * cxy))
                       / (2 * cxy) * mx) / 100.0, 4)
             AS intercept_dollars
    FROM c
    """,
    tags=("analytics", "stats"),
)
def stat_deming_regression(spark, sf_dir):
    """Deming (errors-in-variables, λ=1) regression of line price on
    quantity — the fit to use when BOTH variables carry noise, where
    OLS (`stat_ols_two_features`) attenuates the slope toward zero.
    Closed form: slope = (S_yy−S_xx+√((S_yy−S_xx)²+4S_xy²))/(2S_xy)
    over the centered second moments. The moment sums are EXACT
    DECIMAL(38,0) over integer quantity × integer cents (Σy² at
    corpus scale squares far past int64 — the analytics29 overflow
    discipline); the slope/intercept are one fixed-arity float tree
    each, rounded 6/4dp. Scale: a single map-side moment aggregate —
    one row out, no shuffle beyond the partial-merge."""
    li = table(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_quantity").cast("long").alias("x"),
                  F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                  .alias("y"))
    s = d.agg(F.count("*").cast("long").alias("n"),
              F.sum("x").cast("decimal(38,0)").alias("sx"),
              F.sum("y").cast("decimal(38,0)").alias("sy"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
              .cast("decimal(38,0)").alias("sxx"),
              F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
              .cast("decimal(38,0)").alias("syy"),
              F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
              .cast("decimal(38,0)").alias("sxy"))
    nd = F.col("n").cast("double")
    cxx = nd * F.col("sxx").cast("double") \
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    cyy = nd * F.col("syy").cast("double") \
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    cxy = nd * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    slope = (cyy - cxx + F.sqrt((cyy - cxx) * (cyy - cxx)
                                + 4 * cxy * cxy)) / (2 * cxy)
    return s.select(
        "n",
        F.round(slope / 100.0, 6).alias("slope_dollars_per_unit"),
        F.round((my - slope * mx) / 100.0, 4).alias("intercept_dollars"))


# --------------------------------------------- DP median via EM

_DPM_BIN = 100_000      # $1000 bins over order totals
_DPM_EPS = 1.0


@register(
    "privacy_dp_median_em",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT)
               // {_DPM_BIN} AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM v),
    u AS (
      SELECT bin, c,
             -abs(2 * sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                  - c - n.n) AS util2,
             CAST(('0x' || substr(md5(CAST(bin AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM v CROSS JOIN n),
    mx AS (SELECT max(util2) AS umax2 FROM u),
    sc AS (
      SELECT bin, c, util2,
             round(exp({_DPM_EPS} * (util2 - umax2) / 4.0), 6) AS w,
             round({_DPM_EPS} * util2 / 4.0
                   - ln(-ln((h + 1.0) / {1 << 60})), 6) AS noisy
      FROM u CROSS JOIN mx),
    tot AS (SELECT sum(w) AS tw FROM sc)
    SELECT bin,
           round((bin * {_DPM_BIN} + {_DPM_BIN // 2}) / 100.0, 2)
             AS bin_mid_dollars,
           c, CAST(util2 AS BIGINT) AS util2,
           round(w / tw, 6) AS p_select,
           noisy,
           noisy = (SELECT max(noisy) FROM sc) AS is_selected
    FROM sc CROSS JOIN tot
    """,
    tags=("privacy", "stats", "sketch"),
)
def privacy_dp_median_em(spark, sf_dir):
    """Differentially-private MEDIAN of order totals by the
    exponential mechanism over $1000 value bins: utility = −|rank −
    n/2| (rank sensitivity Δ=1), selection by the Gumbel-max trick
    with the same deterministic md5 uniforms as
    `privacy_exponential_mechanism` — the rank-statistic counterpart
    to that query's count argmax (quantiles are where EM beats
    Laplace noise: the answer is a VALUE, not a count, so noise must
    live in selection space). Each bin's utility is an exact integer
    from one ordered cumulative count (mid-bin rank −c/2 keeps the
    utility symmetric); p_select = exp(εu/2)/Σ max-shifted, 6dp;
    audit columns carry the exact per-bin counts. Scale: bins are
    bounded by the value domain (not the row count); everything after
    the bin histogram is |bins| rows."""
    o = table(spark, sf_dir, "orders")
    v = (o.select(F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT)"
                         f" div {_DPM_BIN}").alias("bin"))
         .groupBy("bin").agg(F.count("*").cast("long").alias("c")))
    n = v.agg(F.sum("c").cast("long").alias("n"))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    u = (v.crossJoin(F.broadcast(n))
         .withColumn("util2", -F.abs(
             2 * F.sum("c").over(wcum) - F.col("c") - F.col("n")))
         .withColumn("h", F.conv(
             F.substring(F.md5(F.col("bin").cast("string")), 1, 15),
             16, 10).cast("long")))
    mx = u.agg(F.max("util2").alias("umax2"))
    uh = (F.col("h") + 1.0) / float(1 << 60)
    sc = (u.crossJoin(F.broadcast(mx))
          .select("bin", "c", "util2",
                  F.round(F.exp(_DPM_EPS * (F.col("util2")
                                            - F.col("umax2"))
                                / 4.0), 6).alias("w"),
                  F.round(_DPM_EPS * F.col("util2") / 4.0
                          - F.log(-F.log(uh)), 6).alias("noisy")))
    tot = sc.agg(F.sum("w").alias("tw"))
    best = sc.agg(F.max("noisy").alias("nbest"))
    return (sc.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(best))
            .select("bin",
                    F.round((F.col("bin") * _DPM_BIN + _DPM_BIN // 2)
                            / 100.0, 2).alias("bin_mid_dollars"),
                    "c", F.col("util2").cast("long").alias("util2"),
                    F.round(F.col("w") / F.col("tw"), 6).alias("p_select"),
                    "noisy",
                    (F.col("noisy") == F.col("nbest"))
                    .alias("is_selected")))


# ------------------------------------- Mantel-Haenszel stratified OR

_MH_EXPOSED = ("1-URGENT", "2-HIGH")


@register(
    "stat_mantel_haenszel_or",
    oracle=f"""
    WITH cell AS (
      SELECT c.c_nationkey AS stratum,
             CAST(count(*) FILTER (WHERE o.o_orderpriority IN
               ('{_MH_EXPOSED[0]}', '{_MH_EXPOSED[1]}')
               AND l.l_returnflag = 'R') AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE o.o_orderpriority IN
               ('{_MH_EXPOSED[0]}', '{_MH_EXPOSED[1]}')
               AND l.l_returnflag <> 'R') AS BIGINT) AS b,
             CAST(count(*) FILTER (WHERE o.o_orderpriority NOT IN
               ('{_MH_EXPOSED[0]}', '{_MH_EXPOSED[1]}')
               AND l.l_returnflag = 'R') AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE o.o_orderpriority NOT IN
               ('{_MH_EXPOSED[0]}', '{_MH_EXPOSED[1]}')
               AND l.l_returnflag <> 'R') AS BIGINT) AS d
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1),
    terms AS (
      SELECT stratum,
             CAST(a AS DOUBLE) * d / (a + b + c + d) AS adn,
             CAST(b AS DOUBLE) * c / (a + b + c + d) AS bcn
      FROM cell WHERE a + b + c + d > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           round(sum(adn), 6) AS sum_ad_n,
           round(sum(bcn), 6) AS sum_bc_n,
           round(sum(adn) / sum(bcn), 6) AS mh_odds_ratio
    FROM terms
    """,
    tags=("analytics", "stats"),
)
def stat_mantel_haenszel_or(spark, sf_dir):
    """Mantel-Haenszel common odds ratio of (urgent/high priority →
    returned line) STRATIFIED BY NATION — the pooled-association
    estimator that is immune to the confounding a naive pooled 2×2
    suffers when strata differ in both exposure and outcome rates
    (Simpson's-paradox protection; `stat_cochran_armitage` and
    `stat_cramers_v` test single tables, this COMBINES tables).
    OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i): cells are exact integers
    from ONE three-way-join aggregate keyed by nation; each stratum
    term is a fixed-arity float; the two 25-term sums are rounded 6dp
    before the final ratio. Scale: one customer⋈orders⋈lineitem
    shuffle keyed on nation, then |nations| rows."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    exposed = F.col("o_orderpriority").isin(*_MH_EXPOSED)
    ret = F.col("l_returnflag") == "R"
    cell = (cust.join(orders, cust.c_custkey == orders.o_custkey)
            .join(li, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("c_nationkey").alias("stratum"))
            .agg(F.count(F.when(exposed & ret, 1)).cast("long").alias("a"),
                 F.count(F.when(exposed & ~ret, 1)).cast("long")
                 .alias("b"),
                 F.count(F.when(~exposed & ret, 1)).cast("long")
                 .alias("c"),
                 F.count(F.when(~exposed & ~ret, 1)).cast("long")
                 .alias("d")))
    nsum = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = (cell.filter(nsum > 0)
             .select((F.col("a").cast("double") * F.col("d") / nsum)
                     .alias("adn"),
                     (F.col("b").cast("double") * F.col("c") / nsum)
                     .alias("bcn")))
    return terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.round(F.sum("adn"), 6).alias("sum_ad_n"),
        F.round(F.sum("bcn"), 6).alias("sum_bc_n"),
        F.round(F.sum("adn") / F.sum("bcn"), 6).alias("mh_odds_ratio"))


# ------------------------------------------- capture-recapture

@register(
    "stat_capture_recapture",
    oracle="""
    WITH span AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
    tagged AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) * 2 <= epoch_us(span.t0) + epoch_us(span.t1)
               AS first_half
      FROM events CROSS JOIN span
      WHERE user_id IS NOT NULL),
    caps AS (
      SELECT CAST(count(DISTINCT CASE WHEN first_half THEN user_id END)
                  AS BIGINT) AS n1,
             CAST(count(DISTINCT CASE WHEN NOT first_half THEN user_id
                        END) AS BIGINT) AS n2
      FROM tagged),
    bo AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM (
        SELECT user_id FROM tagged GROUP BY user_id HAVING count(*) = 2)),
    truth AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
      FROM events WHERE user_id IS NOT NULL)
    SELECT caps.n1, caps.n2, bo.m,
           round((CAST(caps.n1 AS DOUBLE) + 1) * (caps.n2 + 1)
                 / (bo.m + 1) - 1, 2) AS n_hat_chapman,
           truth.n_true
    FROM caps CROSS JOIN bo CROSS JOIN truth
    """,
    tags=("analytics", "stats", "sketch"),
)
def stat_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen capture-recapture (Chapman-corrected) estimate
    of the total user population from two temporal 'captures': users
    seen in the first half of the event span vs the second half;
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 where m = recaptured in both. The
    ecology estimator that answers 'how many users exist that we have
    NOT seen' — the abundance complement to HLL/KMV (which count only
    what was observed); the exact distinct count rides along as the
    audit column. All counts are exact integers from one distinct
    (user, half) aggregate; the estimate is one fixed-arity float,
    2dp. Scale: one user-keyed distinct aggregate; the halves split on
    an exact integer microsecond midpoint (×2 comparison avoids the
    truncating halving both engines would have to agree on)."""
    e = table(spark, sf_dir, "events")
    span = e.agg(F.min(F.unix_micros("ts")).alias("t0"),
                 F.max(F.unix_micros("ts")).alias("t1"))
    tagged = (e.filter(F.col("user_id").isNotNull())
              .crossJoin(F.broadcast(span))
              .select("user_id",
                      (F.unix_micros("ts") * 2
                       <= F.col("t0") + F.col("t1")).alias("first_half"))
              .distinct())
    caps = tagged.agg(
        F.countDistinct(F.when(F.col("first_half"), F.col("user_id")))
        .cast("long").alias("n1"),
        F.countDistinct(F.when(~F.col("first_half"), F.col("user_id")))
        .cast("long").alias("n2"))
    both = (tagged.groupBy("user_id").agg(F.count("*").alias("k"))
            .filter(F.col("k") == 2)
            .agg(F.count("*").cast("long").alias("m")))
    truth = (e.filter(F.col("user_id").isNotNull())
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("n_true")))
    nhat = ((F.col("n1").cast("double") + 1) * (F.col("n2") + 1)
            / (F.col("m") + 1) - 1)
    return (caps.crossJoin(F.broadcast(both))
            .crossJoin(F.broadcast(truth))
            .select("n1", "n2", "m",
                    F.round(nhat, 2).alias("n_hat_chapman"), "n_true"))


# ------------------------------------------- spectral entropy

def _spectral_entropy_oracle() -> str:
    from .analytics14 import _PG_DAYS, _PG_PERIODS, _PG_W, _US_DAY
    ycols = ",\n             ".join(
        f"CAST(coalesce(max(CASE WHEN idx = {i} THEN cents END), 0)"
        f" AS BIGINT) AS y{i}"
        for i in range(_PG_DAYS))
    powers = []
    for p in _PG_PERIODS:
        cos, sin = _PG_W[p]
        cs = " + ".join(f"({w!r} * (y{i} - mu))"
                        for i, w in enumerate(cos))
        sn = " + ".join(f"({w!r} * (y{i} - mu))"
                        for i, w in enumerate(sin))
        powers.append(f"round((({cs}) * ({cs}) + ({sn}) * ({sn}))"
                      f" / {_PG_DAYS} / 1e4, 4)")
    pw = ", ".join(f"{e} AS pw{i}" for i, e in enumerate(powers))
    tot = " + ".join(f"pw{i}" for i in range(len(_PG_PERIODS)))
    hterms = " + ".join(
        f"(CASE WHEN pw{i} > 0 THEN -(pw{i} / ({tot}))"
        f" * ln(pw{i} / ({tot})) ELSE 0 END)"
        for i in range(len(_PG_PERIODS)))
    return f"""
    WITH d AS (
      SELECT epoch_us(ts) // {_US_DAY} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    r AS (
      SELECT cents,
             day - (SELECT max(day) FROM d) + {_PG_DAYS} - 1 AS idx
      FROM d),
    p AS (
      SELECT {ycols},
             CAST(sum(cents) AS DOUBLE) / {_PG_DAYS} AS mu
      FROM r WHERE idx >= 0),
    pws AS (SELECT {pw} FROM p)
    SELECT CAST({len(_PG_PERIODS)} AS INT) AS n_periods,
           round({tot}, 4) AS total_power,
           round(({hterms}) / ln({len(_PG_PERIODS)}), 6)
             AS spectral_entropy_norm
    FROM pws
    """


@register("ts_spectral_entropy", oracle=_spectral_entropy_oracle(),
          tags=("timeseries", "stat"))
def ts_spectral_entropy(spark, sf_dir):
    """Normalized spectral entropy of the daily-revenue periodogram
    (candidate periods 7/14/28 days, the `ts_periodogram` weights):
    H = −Σ p̂ᵢ ln p̂ᵢ / ln k over the normalized band powers — the
    one-number seasonality-strength diagnostic (→0 = one period
    dominates, the series is strongly seasonal; →1 = power is flat,
    no usable cycle), the decision input for whether the seasonal
    forecasters (`ts_holt_winters_additive`, seasonal-naive) apply at
    all. Powers are the SAME import-time Fourier-literal fixed-arity
    trees as the periodogram, rounded 4dp BEFORE the entropy (the
    value the user would see drives the statistic); the entropy is
    one fixed-arity tree over k=3 scalars in a single row — no float
    crosses a shuffle anywhere. Scale: reads the day-grain aggregate
    only."""
    from .analytics14 import _PG_DAYS, _PG_PERIODS, _PG_W, _US_DAY
    e = table(spark, sf_dir, "events")
    d = (e.groupBy((F.unix_micros("ts") / _US_DAY).cast("long")
                   .alias("day"))
         .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
              .cast("long").alias("cents")))
    mx = d.agg(F.max("day").alias("mxd"))
    r = (d.crossJoin(F.broadcast(mx))
         .select("cents", (F.col("day") - F.col("mxd") + _PG_DAYS - 1)
                 .alias("idx"))
         .filter(F.col("idx") >= 0))
    p = r.agg(
        *[F.coalesce(F.max(F.when(F.col("idx") == i, F.col("cents"))),
                     F.lit(0)).cast("long")
          .alias(f"y{i}") for i in range(_PG_DAYS)],
        (F.sum("cents").cast("double") / _PG_DAYS).alias("mu"))
    pws = []
    for per in _PG_PERIODS:
        cos, sin = _PG_W[per]
        cs = None
        sn = None
        for i in range(_PG_DAYS):
            ct = F.lit(cos[i]) * (F.col(f"y{i}") - F.col("mu"))
            st = F.lit(sin[i]) * (F.col(f"y{i}") - F.col("mu"))
            cs = ct if cs is None else cs + ct
            sn = st if sn is None else sn + st
        pws.append(F.round((cs * cs + sn * sn) / _PG_DAYS / 1e4, 4))
    import math
    pcols = p.select(*[pw.alias(f"pw{i}") for i, pw in enumerate(pws)])
    tot = None
    for i in range(len(_PG_PERIODS)):
        tot = F.col(f"pw{i}") if tot is None else tot + F.col(f"pw{i}")
    h = None
    for i in range(len(_PG_PERIODS)):
        frac = F.col(f"pw{i}") / tot
        term = F.when(F.col(f"pw{i}") > 0,
                      -frac * F.log(frac)).otherwise(F.lit(0.0))
        h = term if h is None else h + term
    return pcols.select(
        F.lit(len(_PG_PERIODS)).cast("int").alias("n_periods"),
        F.round(tot, 4).alias("total_power"),
        F.round(h / math.log(len(_PG_PERIODS)), 6)
        .alias("spectral_entropy_norm"))


# ------------------------------------------- bot regularity score

_BOT_MIN_EVENTS = 20
_BOT_CV = 0.1


@register(
    "events_bot_regularity_score",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events WHERE user_id IS NOT NULL),
    gv AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
    med AS (
      SELECT user_id, gap AS med_gap FROM (
        SELECT user_id, gap,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY gap, gap) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM gv)
      WHERE rn = (n + 1) // 2),
    mad AS (
      SELECT user_id, dev AS mad_gap FROM (
        SELECT gv.user_id, abs(gv.gap - med.med_gap) AS dev,
               row_number() OVER (PARTITION BY gv.user_id
                                  ORDER BY abs(gv.gap - med.med_gap),
                                           gv.gap) AS rn,
               count(*) OVER (PARTITION BY gv.user_id) AS n
        FROM gv JOIN med ON med.user_id = gv.user_id)
      WHERE rn = (n + 1) // 2),
    s AS (
      SELECT gv.user_id, CAST(count(*) + 1 AS BIGINT) AS n_events,
             CAST(max(med.med_gap) AS BIGINT) AS med_gap_us,
             CAST(max(mad.mad_gap) AS BIGINT) AS mad_gap_us
      FROM gv
      JOIN med ON med.user_id = gv.user_id
      JOIN mad ON mad.user_id = gv.user_id
      GROUP BY gv.user_id)
    SELECT user_id, n_events, med_gap_us, mad_gap_us,
           round(CAST(mad_gap_us AS DOUBLE)
                 / greatest(med_gap_us, 1), 6) AS gap_cv,
           n_events >= {_BOT_MIN_EVENTS}
             AND round(CAST(mad_gap_us AS DOUBLE)
                       / greatest(med_gap_us, 1), 6) < {_BOT_CV}
             AS is_bot_like
    FROM s
    """,
    tags=("analytics", "events"),
)
def events_bot_regularity_score(spark, sf_dir):
    """Bot-likeness by inter-event REGULARITY: real users are bursty
    (`events_burstiness_fano` measures it); schedulers fire on a
    clock. Per user: median inter-event gap, MAD of gaps (both exact
    integer-microsecond order statistics — the robust pair that one
    crazy outlier can't move), and the robust CV = MAD/median; flagged
    when a user has ≥ {_BOT_MIN_EVENTS} events and CV < {_BOT_CV}.
    The abuse-filtering gate a training-data pipeline runs before
    user-generated text enters the corpus. Scale: one user-keyed
    window for gaps, two per-user rank windows for the order
    statistics — all user-partitioned, no global state."""
    e = table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (e.filter(F.col("user_id").isNotNull())
         .select("user_id",
                 (F.unix_micros("ts")
                  - F.lag(F.unix_micros("ts")).over(wl)).alias("gap"))
         .filter(F.col("gap").isNotNull()))

    def lower_median(df, val, out):
        w = Window.partitionBy("user_id").orderBy(val, "gap")
        wn = Window.partitionBy("user_id")
        return (df.withColumn("rn", F.row_number().over(w))
                .withColumn("n", F.count("*").over(wn))
                .filter(F.col("rn") == F.expr("(n + 1) div 2"))
                .select("user_id", F.col(val).alias(out)))

    med = lower_median(g, "gap", "med_gap")
    mad = lower_median(
        g.join(med, "user_id")
        .withColumn("dev", F.abs(F.col("gap") - F.col("med_gap"))),
        "dev", "mad_gap")
    s = (g.join(med, "user_id").join(mad, "user_id")
         .groupBy("user_id")
         .agg((F.count("*") + 1).cast("long").alias("n_events"),
              F.max("med_gap").cast("long").alias("med_gap_us"),
              F.max("mad_gap").cast("long").alias("mad_gap_us")))
    cv = F.round(F.col("mad_gap_us").cast("double")
                 / F.greatest(F.col("med_gap_us"), F.lit(1)), 6)
    return s.select("user_id", "n_events", "med_gap_us", "mad_gap_us",
                    cv.alias("gap_cv"),
                    ((F.col("n_events") >= _BOT_MIN_EVENTS)
                     & (cv < _BOT_CV)).alias("is_bot_like"))


# --------------------------------------- Freeman degree centralization

@register(
    "graph_degree_centralization",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(d) AS BIGINT) AS dmax,
             CAST(sum(d) AS BIGINT) AS dsum
      FROM deg)
    SELECT n, dmax,
           round(CAST(dsum AS DOUBLE) / n, 4) AS mean_degree,
           round(CAST(n * dmax - dsum AS DOUBLE)
                 / (CAST(n - 1 AS DOUBLE) * (n - 2)), 6)
             AS centralization
    FROM s
    """,
    tags=("graph", "stats"),
)
def graph_degree_centralization(spark, sf_dir):
    """Freeman degree centralization of the part co-purchase graph:
    Σ(d_max − d_i) / ((n−1)(n−2)) — 0 for a regular/ring structure,
    1 for a perfect star. The one-number hub-dominance summary beside
    the distributional views (`graph_degree_powerlaw_fit` fits the
    tail, `graph_degree_assortativity` its mixing; this says how much
    ONE hub dominates) — the same edge definition as the LPA/
    modularity pair so all graph summaries describe the same graph.
    Exact integer degree sums (Σ(dmax−d) = n·dmax − Σd); one terminal
    fixed-arity float, 6dp. Scale: edge build is the shared
    order-keyed aggregate; everything after is |nodes| rows → 1."""
    e = (order_copairs(table(spark, sf_dir, "lineitem"), "l_partkey")
         .filter(F.col("w") >= 2).select("u", "v"))
    adj = e.unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    s = deg.agg(F.count("*").cast("long").alias("n"),
                F.max("d").cast("long").alias("dmax"),
                F.sum("d").cast("long").alias("dsum"))
    return s.select(
        "n", "dmax",
        F.round(F.col("dsum").cast("double") / F.col("n"), 4)
        .alias("mean_degree"),
        F.round((F.col("n") * F.col("dmax") - F.col("dsum"))
                .cast("double")
                / ((F.col("n") - 1).cast("double") * (F.col("n") - 2)),
                6).alias("centralization"))


# ------------------------------------------------ peak detection

_PK_W = 2          # neighbors each side for the local-max test
_PK_PROM = 20      # minimum prominence, % of the global median day


@register(
    "ts_peak_detection",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {86_400_000_000} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    md AS (
      SELECT cents AS med FROM (
        SELECT cents, row_number() OVER (ORDER BY cents, day) AS rn,
               count(*) OVER () AS n
        FROM d)
      WHERE rn = (n + 1) // 2),
    w AS (
      SELECT day, cents,
             max(cents) OVER (ORDER BY day
               ROWS BETWEEN {_PK_W} PRECEDING AND 1 PRECEDING) AS lmax,
             max(cents) OVER (ORDER BY day
               ROWS BETWEEN 1 FOLLOWING AND {_PK_W} FOLLOWING) AS rmax,
             min(cents) OVER (ORDER BY day
               ROWS BETWEEN {_PK_W} PRECEDING AND 1 PRECEDING) AS lmin,
             min(cents) OVER (ORDER BY day
               ROWS BETWEEN 1 FOLLOWING AND {_PK_W} FOLLOWING) AS rmin
      FROM d)
    SELECT w.day, round(w.cents / 100.0, 2) AS value,
           round(greatest(w.cents - greatest(w.lmin, w.rmin), 0)
                 / 100.0, 2) AS prominence
    FROM w CROSS JOIN md
    WHERE w.lmax IS NOT NULL AND w.rmax IS NOT NULL
      AND w.cents > w.lmax AND w.cents > w.rmax
      AND (w.cents - greatest(w.lmin, w.rmin)) * 100
          >= {_PK_PROM} * md.med
    """,
    tags=("timeseries", "stat"),
)
def ts_peak_detection(spark, sf_dir):
    """Peak detection on the daily revenue series: a day is a peak
    when it strictly exceeds every day in a ±{_PK_W}-day window AND
    its prominence (height above the higher of the two windowed
    minima) clears {_PK_PROM}% of the median day — the
    promotions/incidents detector that `events_cusum_changepoint`
    (level shifts) and `events_outliers_mad` (point outliers, no
    neighborhood) don't express: a peak is a LOCAL shape, not a
    global deviation. Everything is exact integer cents through four
    bounded ROWS-frame windows and one median order statistic;
    boundary days (incomplete windows) are excluded rather than
    half-tested. Scale: runs on the day-grain aggregate (bounded by
    calendar span), single ordered window partition."""
    e = table(spark, sf_dir, "events")
    d = (e.groupBy((F.unix_micros("ts") / 86_400_000_000).cast("long")
                   .alias("day"))
         .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
              .cast("long").alias("cents")))
    wmed = Window.orderBy("cents", "day")
    md = (d.withColumn("rn", F.row_number().over(wmed))
          .withColumn("n", F.count("*").over(Window.partitionBy()))
          .filter(F.col("rn") == F.expr("(n + 1) div 2"))
          .select(F.col("cents").alias("med")))
    wd = Window.orderBy("day")
    w = d.select(
        "day", "cents",
        F.max("cents").over(wd.rowsBetween(-_PK_W, -1)).alias("lmax"),
        F.max("cents").over(wd.rowsBetween(1, _PK_W)).alias("rmax"),
        F.min("cents").over(wd.rowsBetween(-_PK_W, -1)).alias("lmin"),
        F.min("cents").over(wd.rowsBetween(1, _PK_W)).alias("rmin"))
    prom = F.col("cents") - F.greatest("lmin", "rmin")
    return (w.crossJoin(F.broadcast(md))
            .filter(F.col("lmax").isNotNull() & F.col("rmax").isNotNull()
                    & (F.col("cents") > F.col("lmax"))
                    & (F.col("cents") > F.col("rmax"))
                    & (prom * 100 >= _PK_PROM * F.col("med")))
            .select("day",
                    F.round(F.col("cents") / 100.0, 2).alias("value"),
                    F.round(F.greatest(prom, F.lit(0)) / 100.0, 2)
                    .alias("prominence")))


# --------------------------------------- log-log price elasticity

@register(
    "orders_price_elasticity_loglog",
    oracle="""
    WITH d AS (
      SELECT round(ln(l_quantity), 6) AS y,
             round(ln(l_extendedprice / l_quantity), 6) AS x
      FROM lineitem
      WHERE l_quantity > 0 AND l_extendedprice > 0),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM d)
    SELECT n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS elasticity,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 4) AS intercept_ln_qty
    FROM s
    """,
    tags=("analytics", "stats"),
)
def orders_price_elasticity_loglog(spark, sf_dir):
    """Own-price elasticity of demand by the log-log regression
    ε = d ln(qty)/d ln(unit price) — the econometric readout
    (`rolling_ols_slope_30d` fits levels over time; elasticity needs
    the log-log form so the slope IS the percentage response). Unit
    price is extendedprice/quantity; both logs rounded 6dp per row
    BEFORE the OLS sums so the (large) float accumulations start from
    engine-identical operands, outputs rounded 6/4dp. Scale: one
    map-side moment aggregate over the scan — no shuffle beyond the
    partial merge."""
    li = table(spark, sf_dir, "lineitem")
    d = (li.filter((F.col("l_quantity") > 0)
                   & (F.col("l_extendedprice") > 0))
         .select(F.round(F.log("l_quantity"), 6).alias("y"),
                 F.round(F.log(F.col("l_extendedprice")
                               / F.col("l_quantity")), 6).alias("x")))
    s = d.agg(F.count("*").cast("long").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(
        "n", F.round(slope, 6).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4)
        .alias("intercept_ln_qty"))
