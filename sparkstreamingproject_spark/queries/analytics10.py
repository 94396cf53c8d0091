"""Round-4 continuation, wave 10 (round-5 driver-window candidates):
nonparametric statistics (Mann-Whitney U, two-sample KS), time-series
autocorrelation, label-propagation communities, higher-order array
functions, null-safe join semantics, and a Benford first-digit audit.

Float discipline (COVERAGE.md): every query keeps its accumulations
integer (ranks doubled to absorb .5 tie-averages, ECDF distances
cross-multiplied, ACF numerators in DECIMAL(38,0) algebra) and performs
at most one terminal float division/sqrt written identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table


# ------------------------------------------------ Mann-Whitney U

@register(
    "stat_mann_whitney_u",
    oracle="""
    WITH p AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    r AS (
      SELECT grp,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS dr
      FROM p),
    a AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN grp = 1 THEN CAST(dr AS DECIMAL(38,0))
                           ELSE 0 END) AS DECIMAL(38,0)) AS r1d
      FROM r)
    SELECT n1, n2,
           CAST(r1d - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                AS DOUBLE) AS u1_x2,
           round(CAST(r1d - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                      - CAST(n1 AS DECIMAL(38,0)) * n2 AS DOUBLE)
                 / (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)
                               / 12.0)), 4) AS z
    FROM a
    """,
    tags=("stat",),
)
def stat_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U rank-sum test: do URGENT and LOW priority orders
    draw their totalprice from the same distribution? The workhorse
    nonparametric two-sample test when t-test normality can't be
    assumed (`stat_ttest_welch` is the parametric sibling).

    Integer discipline: tied ranks average to .5 halves, so ranks are
    kept DOUBLED (dr = 2·(count below) + t + 1 — an integer), making
    the rank sum and 2·U exact integers in both engines; the
    normal-approximation z-score is the single terminal float (tie
    variance correction omitted, documented). Ranks come from a
    value-histogram + prefix offsets (the `stat_kruskal_wallis` plan):
    the ordered pass runs over one row per distinct cent value — state
    bounded by the value domain, never the fact table. The oracle
    keeps the per-row rank form; the algebra is identical."""
    p = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(2).alias("grp"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents")))
    vc = (p.groupBy("cents")
          .agg(F.count("*").alias("t"),
               F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("g1"),
               F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("g2")))
    wv = (Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vc = vc.withColumn("dr", 2 * (F.sum("t").over(wv) - F.col("t"))
                       + F.col("t") + 1)
    # r1d ≈ n1·2n and u1 ≤ n1·n2 square past int64 once the two groups
    # hold ~3e9 orders (SF ~2000); accumulate in exact DECIMAL(38,0)
    # both sides — Spark (ANSI off) would wrap the bigint silently
    # while DuckDB raised, the silent-divergence class this repo bans.
    # u1_x2 SHIPS as DOUBLE (identical terminal cast both engines):
    # its value itself passes int64 at that scale, and double is the
    # driver-certified output type for scale-unbounded magnitudes.
    # n1/n2 stay bigint (row counts).
    a = vc.agg(
        F.sum("g1").cast("long").alias("n1"),
        F.sum("g2").cast("long").alias("n2"),
        F.sum(F.col("g1") * F.col("dr").cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("r1d"))
    u1_x2 = (F.col("r1d") - F.col("n1").cast("decimal(38,0)")
             * (F.col("n1") + 1))
    z = ((u1_x2 - F.col("n1").cast("decimal(38,0)") * F.col("n2"))
         .cast("double")) / (
        2.0 * F.sqrt(F.col("n1").cast("double") * F.col("n2")
                     * (F.col("n1") + F.col("n2") + 1) / 12.0))
    return a.select("n1", "n2", u1_x2.cast("double").alias("u1_x2"),
                    F.round(z, 4).alias("z"))


# ------------------------------------------------ two-sample KS

@register(
    "stat_ks_two_sample",
    oracle="""
    WITH b AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS bin,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    c AS (
      SELECT sum(c1) OVER (ORDER BY bin) AS f1,
             sum(c2) OVER (ORDER BY bin) AS f2
      FROM b),
    t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2 FROM b)
    SELECT t.n1, t.n2,
           CAST(max(abs(CAST(f1 AS DECIMAL(38,0)) * t.n2
                        - CAST(f2 AS DECIMAL(38,0)) * t.n1))
                AS DOUBLE) AS d_num,
           round(CAST(max(abs(CAST(f1 AS DECIMAL(38,0)) * t.n2
                              - CAST(f2 AS DECIMAL(38,0)) * t.n1))
                      AS DOUBLE)
                 / (CAST(t.n1 AS DOUBLE) * t.n2), 6) AS d_stat
    FROM c, t GROUP BY t.n1, t.n2
    """,
    tags=("stat",),
)
def stat_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the `value`
    distributions of click and view events: D = max |F₁(x) − F₂(x)|
    over the pooled support — the standard drift test a feature-store
    monitor runs between yesterday's and today's distribution.

    The event values carry 2 decimal places, so cent-binning
    (round(value·100)) is LOSSLESS — this is the exact KS statistic,
    not an approximation. The ECDF difference is kept integer by
    cross-multiplication (|F₁n₂ − F₂n₁| over raw counts); the single
    terminal division produces the [0,1] statistic. Scale: state after
    the first aggregate is one row per distinct cent value (bounded by
    the value range, not the row count); the prefix sum over that
    bounded relation is the only ordered pass."""
    b = (table(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("click", "view"))
         .groupBy(F.expr("CAST(round(value * 100) AS BIGINT)").alias("bin"))
         .agg(F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
              .cast("long").alias("c1"),
              F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
              .cast("long").alias("c2")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    c = b.select(F.sum("c1").over(w).alias("f1"),
                 F.sum("c2").over(w).alias("f2"))
    t = b.agg(F.sum("c1").cast("long").alias("n1"),
              F.sum("c2").cast("long").alias("n2"))
    # F·n cross-products square past int64 once each sample holds ~3e9
    # events; exact DECIMAL(38,0) both sides (Spark would wrap the
    # bigint silently, DuckDB would raise). d_num ships as DOUBLE —
    # its value passes int64 at that scale and double is the
    # driver-certified type; d_stat's divisor is double too
    d = (c.crossJoin(F.broadcast(t))
         .groupBy("n1", "n2")
         .agg(F.max(F.abs(F.col("f1").cast("decimal(38,0)") * F.col("n2")
                          - F.col("f2").cast("decimal(38,0)")
                          * F.col("n1")))
              .cast("double").alias("d_num")))
    return d.select("n1", "n2", "d_num",
                    F.round(F.col("d_num")
                            / (F.col("n1").cast("double") * F.col("n2")),
                            6).alias("d_stat"))


# ------------------------------------------------ autocorrelation

_ACF_LAGS = 7


def _acf_oracle() -> str:
    leads = ",\n             ".join(
        f"lead(x, {k}) OVER (ORDER BY d) AS x{k}" for k in range(1, _ACF_LAGS + 1))
    aggs = ",\n             ".join(
        f"CAST(sum(CAST(x AS DECIMAL(38,0)) * x{k}) AS DECIMAL(38,0)) AS p{k},\n             "
        f"CAST(sum(CASE WHEN x{k} IS NOT NULL THEN x ELSE 0 END) AS BIGINT) AS a{k},\n             "
        f"CAST(sum(x{k}) AS BIGINT) AS b{k}"
        for k in range(1, _ACF_LAGS + 1))
    rows = "\n    UNION ALL\n".join(f"""
    SELECT {k} AS lag, CAST(n - {k} AS BIGINT) AS pairs,
           round(CAST(CAST(n AS DECIMAL(38,0)) * n * p{k}
                  - CAST(n AS DECIMAL(38,0)) * s * (a{k} + b{k})
                  + CAST(n - {k} AS DECIMAL(38,0)) * s * s AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE), 6)
             AS acf
    FROM g""" for k in range(1, _ACF_LAGS + 1))
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (
      SELECT x,
             {leads}
      FROM daily),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS q,
             {aggs}
      FROM l)
    {rows}
    """


@register(
    "ts_autocorrelation_lags",
    oracle=_acf_oracle(),
    tags=("timeseries", "stat"),
)
def ts_autocorrelation_lags(spark, sf_dir):
    """Autocorrelation function of the daily order-count series at lags
    1..7 — the first diagnostic a forecaster runs (a lag-7 spike means
    weekly seasonality; `ts_seasonal_decompose` then extracts it).

    Exact algebra: the series is integer (counts/day), and
    r_k = C_k/C_0 is expanded so both numerator and denominator are
    exact DECIMAL(38,0) integers — n²·Σx_t·x_{t+k} − n·S·(A_k+B_k) +
    (n−k)·S² over n·(n·Q − S²) — summation-order-proof in both engines;
    the one float division + round lands at the end. The lead() window
    runs over the day-grain aggregate (≤ series length rows, thousands
    at any corpus size), never over raw orders."""
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    w = Window.orderBy("d")
    lead_cols = [F.lead("x", k).over(w).alias(f"x{k}")
                 for k in range(1, _ACF_LAGS + 1)]
    l = daily.select("x", *lead_cols)
    # Σx² and Σx·x_k square past int64 once daily order counts near
    # ~6e7 over a ~2500-day span (SF ~1e5): exact DECIMAL(38,0)
    # accumulators both sides; Σx itself is row-count-linear and safe
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            .cast("decimal(38,0)").alias("q")]
    for k in range(1, _ACF_LAGS + 1):
        aggs += [
            F.sum(F.col("x").cast("decimal(38,0)") * F.col(f"x{k}"))
            .cast("decimal(38,0)").alias(f"p{k}"),
            F.sum(F.when(F.col(f"x{k}").isNotNull(), F.col("x")).otherwise(0))
            .cast("long").alias(f"a{k}"),
            F.sum(f"x{k}").cast("long").alias(f"b{k}")]
    g = l.agg(*aggs)
    dec = "CAST(n AS DECIMAL(38,0))"
    selects = []
    for k in range(1, _ACF_LAGS + 1):
        num = (f"{dec} * n * p{k} - {dec} * s * (a{k} + b{k}) "
               f"+ CAST(n - {k} AS DECIMAL(38,0)) * s * s")
        den = f"{dec} * ({dec} * q - CAST(s AS DECIMAL(38,0)) * s)"
        selects.append(
            f"SELECT {k} AS lag, CAST(n - {k} AS BIGINT) AS pairs, "
            f"round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE), 6)"
            f" AS acf FROM g")
    g.createOrReplaceTempView("g")
    return spark.sql("\nUNION ALL\n".join(selects))


# ------------------------------------------------ label propagation

_LPA_ROUNDS = 2


def _lpa_ctes() -> str:
    """Shared CTE chain (edges + bounded LPA rounds) — reused by
    `graph_modularity_score` (analytics31) so the partition it scores
    is THIS query's partition by construction."""
    parts = ["""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    lab0 AS (SELECT DISTINCT u, u AS lbl FROM adj)"""]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f""",
    cnt{r} AS (
      SELECT a.u, l.lbl, count(*) AS c
      FROM adj a JOIN lab{r - 1} l ON a.v = l.u
      GROUP BY 1, 2),
    lab{r} AS (
      SELECT u, lbl FROM (
        SELECT u, lbl,
               row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
        FROM cnt{r})
      WHERE rn = 1)"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    return _lpa_ctes() + f"""
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM lab{_LPA_ROUNDS} GROUP BY 1"""


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark, sf_dir):
    """Synchronous label-propagation community detection (2 bounded
    rounds) on the part co-purchase graph (parts co-listed in >=2
    orders — the weight floor keeps the graph sparse; the weight-1
    supplier graph is so dense that min-tie-break LPA collapses it to
    one giant community): each node adopts the most frequent label
    among its neighbors, ties broken by minimum label — fully
    deterministic, unlike the randomized classic. Output: community
    label → member count. Complements `connected_components` (pure
    reachability) by finding *dense* groupings, and `graph_kcore_peel`
    (which strips hair before exactly this pass).

    Scale shape: per round one edge-side join against the label
    relation (node-keyed, broadcastable while labels ≪ edges), one
    (node,label) count aggregate, one per-node arg-max window
    partitioned by node — all shuffles keyed on node id; the bounded
    unroll cuts lineage exactly like the PageRank/k-means/BPE loops."""
    _e, _adj, lab = lpa_partition(spark, sf_dir)
    return (lab.groupBy(F.col("lbl").alias("community"))
            .agg(F.count("*").cast("long").alias("n_members")))


def lpa_partition(spark, sf_dir):
    """(edges, adjacency, final labels) of the bounded LPA pass —
    shared with `graph_modularity_score` (analytics31) so the scored
    partition is this query's partition by construction."""
    e = (order_copairs(table(spark, sf_dir, "lineitem"), "l_partkey")
         .filter(F.col("w") >= 2).select("u", "v"))
    adj = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = adj.select("u").distinct().select("u", F.col("u").alias("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnt = (adj.join(lab.withColumnRenamed("u", "v"), "v")
               .groupBy("u", "lbl").agg(F.count("*").alias("c")))
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("lbl"))
        lab = (cnt.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).select("u", "lbl"))
    return e, adj, lab


# ------------------------------------------------ higher-order arrays

@register(
    "hof_array_pipeline",
    oracle="""
    WITH a AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS INT))) AS q
      FROM lineitem GROUP BY 1)
    SELECT l_orderkey,
           CAST(len(q) AS INT) AS n_items,
           CAST(list_sum(q) AS BIGINT) AS total_qty,
           CAST(len(list_filter(q, x -> x > 25)) AS INT) AS n_big,
           CAST(q[-1] - q[1] AS INT) AS span
    FROM a
    """,
    tags=("functions", "array"),
)
def hof_array_pipeline(spark, sf_dir):
    """Higher-order array-function pipeline: per-order quantity profile
    computed entirely inside array columns — collect, sort, fold
    (aggregate), filter, index — with zero extra shuffles beyond the one
    groupBy. This is the §2.G8/G9 list-surface generalized to lambda
    functions: what Redis `lrange`+client code did, done declaratively
    in codegen (`Jedis_Pool.java:72-78`).

    The array is sorted before any positional access, so the result is
    independent of collect_list's partition-dependent order — the same
    discipline the partitioning-robustness gate enforces repo-wide.
    Per-order arrays are bounded by basket width (≤7 in TPC-H), so the
    HOF work is map-side constant per group at any corpus size."""
    li = table(spark, sf_dir, "lineitem")
    a = (li.groupBy("l_orderkey")
         .agg(F.sort_array(F.collect_list(F.col("l_quantity").cast("int")))
              .alias("q")))
    return a.select(
        "l_orderkey",
        F.size("q").alias("n_items"),
        F.expr("aggregate(q, 0L, (acc, x) -> acc + x)").alias("total_qty"),
        F.size(F.expr("filter(q, x -> x > 25)")).alias("n_big"),
        (F.element_at("q", -1) - F.element_at("q", 1)).alias("span"))


# ------------------------------------------------ null-safe join

@register(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio,
             CAST(count(*) AS BIGINT) AS cnt_1995
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
    b AS (
      SELECT nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio,
             CAST(count(*) AS BIGINT) AS cnt_1996
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
    SELECT a.prio AS priority, a.cnt_1995, b.cnt_1996
    FROM a JOIN b ON a.prio IS NOT DISTINCT FROM b.prio
    """,
    tags=("join",),
)
def join_null_safe_eq(spark, sf_dir):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    NULL-keyed rows on both sides MATCH each other instead of silently
    dropping — the semantics every CDC merge needs when the business
    key is nullable (a plain `=` join loses exactly the rows a
    reconciliation most needs to see). Here: 1995-vs-1996 order counts
    by priority with '4-NOT SPECIFIED' mapped to NULL — the unspecified
    bucket still reconciles year-over-year instead of vanishing.

    Spark plans eqNullSafe as an ordinary hash join on a
    null-coalesced key (no fallback to nested-loop), so the null-safe
    form costs the same shuffle as the plain equi-join — both sides
    here are 5-row aggregates anyway (broadcast)."""
    o = table(spark, sf_dir, "orders")
    prio = F.expr("nullif(o_orderpriority, '4-NOT SPECIFIED')")
    a = (o.filter(F.year("o_orderdate") == 1995)
         .groupBy(prio.alias("prio"))
         .agg(F.count("*").cast("long").alias("cnt_1995")))
    b = (o.filter(F.year("o_orderdate") == 1996)
         .groupBy(prio.alias("prio"))
         .agg(F.count("*").cast("long").alias("cnt_1996")))
    return (a.join(b, a["prio"].eqNullSafe(b["prio"]))
            .select(a["prio"].alias("priority"), "cnt_1995", "cnt_1996"))


# ------------------------------------------------ Benford audit

# log10(1 + 1/d) to 6dp, as shared literals — computing log10 at query
# time would trust two engines' libm to round identically; constants
# can't drift.
_BENFORD = {1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
            5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153,
            9: 0.045757}


def _benford_oracle() -> str:
    cases = " ".join(f"WHEN '{d}' THEN {p}" for d, p in _BENFORD.items())
    return f"""
    WITH c AS (
      SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM c GROUP BY 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM c)
    SELECT g.digit, g.observed,
           round(g.observed * 1.0 / t.total, 6) AS obs_pct,
           CAST(CASE g.digit {cases} END AS DOUBLE) AS benford_pct,
           round(g.observed * 1.0 / t.total
                 - CASE g.digit {cases} END, 6) AS deviation
    FROM g, t
    """


@register(
    "stat_benford_first_digit",
    oracle=_benford_oracle(),
    tags=("stat", "dq"),
)
def stat_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit of order totals: the
    fraud/data-quality screen that compares the observed leading-digit
    distribution against log10(1 + 1/d). Fabricated or clipped amounts
    bow the curve; TPC-H's uniform price generator visibly violates it
    — which is exactly what the deviation column should show.

    The first significant digit comes from the exact integer cents
    value (no float formatting); the Benford expectations are shared
    6dp literals, not engine-computed logs. Per-digit deviations avoid
    any cross-digit float sum — a 9-row result from one count aggregate
    plus a broadcast total."""
    o = table(spark, sf_dir, "orders")
    c = o.select(F.substring(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("string"),
        1, 1).alias("digit"))
    g = c.groupBy("digit").agg(F.count("*").cast("long").alias("observed"))
    t = c.agg(F.count("*").cast("long").alias("total"))
    p = F.create_map(*[x for d, v in _BENFORD.items()
                       for x in (F.lit(str(d)), F.lit(v))])[F.col("digit")]
    return (g.crossJoin(F.broadcast(t))
            .select("digit", "observed",
                    F.round(F.col("observed") * 1.0 / F.col("total"), 6)
                    .alias("obs_pct"),
                    p.cast("double").alias("benford_pct"),
                    F.round(F.col("observed") * 1.0 / F.col("total") - p, 6)
                    .alias("deviation")))
