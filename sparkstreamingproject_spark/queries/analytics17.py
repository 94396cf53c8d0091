"""Round-4 continuation, wave 22: global clustering coefficient and
tokenizer OOV-rate sweep.

Float discipline: wedge and triangle counts are exact integers
(DECIMAL(38,0) wedge sum); the clustering coefficient and OOV rates
are single terminal divides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

_OOV_SIZES = (100, 500, 1000)


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    w AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(CAST(d * (d - 1) // 2 AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS wedges
      FROM deg),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS triangles
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS edges FROM e)
    SELECT w.n_nodes, ne.edges, CAST(w.wedges AS BIGINT) AS wedges,
           tri.triangles,
           round(3.0 * tri.triangles / CAST(w.wedges AS DOUBLE), 6)
             AS global_clustering
    FROM w, tri, ne
    """,
    tags=("graph", "stat"),
)
def graph_clustering_coefficient(spark, sf_dir):
    """Global clustering coefficient of the supplier co-occurrence
    graph: C = 3·triangles / wedges — how much the graph closes its
    open triads (the cohesion summary that contextualizes
    `graph_triangle_count`; C ≈ p for a random graph, ≫ p for a
    clustered one). Triangles reuse the oriented wedge-closure plan;
    wedges are Σ d(d−1)/2 over one degree aggregate — both exact
    integers, one terminal divide. Scale: edge generation is bounded
    by order width; everything downstream is keyed joins/aggregates
    on the edge list."""
    e = (order_copairs(table(spark, sf_dir, "lineitem"), "l_suppkey")
         .select("u", "v").localCheckpoint())
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    # d*(d-1) is always even -> per-node integer halves; the sum is an
    # exact DECIMAL in BOTH engines (a /2 after a DECIMAL product types
    # as DOUBLE in DuckDB — the at-scale exactness leak to avoid)
    w = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("CAST(d * (d - 1) div 2 AS DECIMAL(38,0))"))
        .cast("decimal(38,0)").alias("wedges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .agg(F.count("*").cast("long").alias("triangles")))
    ne = e.agg(F.count("*").cast("long").alias("edges"))
    return (w.crossJoin(F.broadcast(tri)).crossJoin(F.broadcast(ne))
            .select("n_nodes", "edges",
                    F.col("wedges").cast("long").alias("wedges"),
                    "triangles",
                    F.round(3.0 * F.col("triangles")
                            / F.col("wedges").cast("double"), 6)
                    .alias("global_clustering")))


@register(
    "tokenizer_oov_sweep",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE w <> '' GROUP BY w),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
      FROM wc),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_types
            FROM ranked),
    vs AS (SELECT unnest([{", ".join(str(v) for v in _OOV_SIZES)}])
             AS vocab_size),
    cov AS (
      SELECT vs.vocab_size,
             CAST(coalesce(sum(CASE WHEN r.rnk <= vs.vocab_size
                                    THEN r.c ELSE 0 END), 0) AS BIGINT)
               AS covered
      FROM vs, ranked r GROUP BY vs.vocab_size)
    SELECT CAST(cov.vocab_size AS INT) AS vocab_size, tot.n_types,
           cov.covered, tot.total,
           round(1.0 - CAST(cov.covered AS DOUBLE) / tot.total, 6)
             AS oov_rate
    FROM cov, tot
    """,
    tags=("llm", "tokenize", "eval"),
)
def tokenizer_oov_sweep(spark, sf_dir):
    """Out-of-vocabulary rate as a function of vocabulary size (top-V
    words by frequency, deterministic (count, word) tie-break) — the
    coverage curve that sizes a word-level vocabulary before training
    (`vocab_build_topk` builds the chosen V; `bpe_encode_apply`
    measures the subword alternative). One corpus scan builds the
    frequency table; the rank pass runs over the TYPE relation
    (vocabulary-sized, not corpus-sized); the sweep is a 3-row
    conditional aggregate. All counts exact; terminal divide."""
    docs = table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    ranked = wc.select(
        "c", F.row_number().over(
            Window.orderBy(F.col("c").desc(), "w")).alias("rnk"))
    tot = ranked.agg(F.sum("c").cast("long").alias("total"),
                     F.count("*").cast("long").alias("n_types"))
    vs = spark.createDataFrame([(v,) for v in _OOV_SIZES], ["vocab_size"])
    cov = (ranked.crossJoin(F.broadcast(vs))
           .groupBy("vocab_size")
           .agg(F.coalesce(
               F.sum(F.when(F.col("rnk") <= F.col("vocab_size"),
                            F.col("c")).otherwise(0)), F.lit(0))
               .cast("long").alias("covered")))
    return (cov.crossJoin(F.broadcast(tot))
            .select(F.col("vocab_size").cast("int").alias("vocab_size"),
                    "n_types", "covered", "total",
                    F.round(1.0 - F.col("covered").cast("double")
                            / F.col("total"), 6).alias("oov_rate")))


# ------------------------------------------------ Cochran-Armitage

_CA_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"]


def _ca_oracle() -> str:
    ps = _CA_PRIORITIES
    cells = []
    for i, p in enumerate(ps, 1):
        cells.append(
            f"CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS n{i},\n"
            f"             CAST(sum(CASE WHEN o_orderpriority = '{p}' AND l_returnflag = 'R' "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS r{i}")
    sr = " + ".join(f"r{i}" for i in range(1, 6))
    sn = " + ".join(f"n{i}" for i in range(1, 6))
    swr = " + ".join(f"{i} * r{i}" for i in range(1, 6))
    swn = " + ".join(f"{i} * n{i}" for i in range(1, 6))
    sw2n = " + ".join(f"{i * i} * n{i}" for i in range(1, 6))
    return f"""
    WITH g AS (
      SELECT {cells[0]},
             {cells[1]},
             {cells[2]},
             {cells[3]},
             {cells[4]}
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (
      SELECT CAST({sn} AS BIGINT) AS n, CAST({sr} AS BIGINT) AS r,
             CAST({swr} AS BIGINT) AS swr, CAST({swn} AS BIGINT) AS swn,
             CAST({sw2n} AS BIGINT) AS sw2n
      FROM g)
    SELECT n, r,
           round((CAST(swr AS DOUBLE) - CAST(r AS DOUBLE) * swn / n)
                 / sqrt((CAST(r AS DOUBLE) / n)
                        * (1 - CAST(r AS DOUBLE) / n)
                        * (CAST(sw2n AS DOUBLE)
                           - CAST(swn AS DOUBLE) * swn / n)), 4) AS z
    FROM e
    """


@register("stat_cochran_armitage", oracle=_ca_oracle(), tags=("stat",))
def stat_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test: does the RETURN rate trend
    monotonically across the 5 ordered priority levels (scores 1..5)?
    The ordered-categories sibling of `stat_chi_square` (chi-square
    sees any deviation; CA targets a dose-response trend, gaining
    power when order matters). One fact-dim join + one conditional
    pivot; z is a fixed-arity float over 5 exact (n_i, r_i) pairs."""
    ps = _CA_PRIORITIES
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    aggs = []
    for i, p in enumerate(ps, 1):
        is_p = F.col("o_orderpriority") == p
        aggs.append(F.sum(F.when(is_p, 1).otherwise(0))
                    .cast("long").alias(f"n{i}"))
        aggs.append(F.sum(F.when(is_p & (F.col("l_returnflag") == "R"), 1)
                          .otherwise(0)).cast("long").alias(f"r{i}"))
    g = j.agg(*aggs)
    sn = sum(F.col(f"n{i}") for i in range(1, 6))
    sr = sum(F.col(f"r{i}") for i in range(1, 6))
    swr = sum(i * F.col(f"r{i}") for i in range(1, 6))
    swn = sum(i * F.col(f"n{i}") for i in range(1, 6))
    sw2n = sum(i * i * F.col(f"n{i}") for i in range(1, 6))
    e = g.select(sn.cast("long").alias("n"), sr.cast("long").alias("r"),
                 swr.cast("long").alias("swr"),
                 swn.cast("long").alias("swn"),
                 sw2n.cast("long").alias("sw2n"))
    p_bar = F.col("r").cast("double") / F.col("n")
    z = ((F.col("swr").cast("double")
          - F.col("r").cast("double") * F.col("swn") / F.col("n"))
         / F.sqrt(p_bar * (1 - p_bar)
                  * (F.col("sw2n").cast("double")
                     - F.col("swn").cast("double") * F.col("swn")
                     / F.col("n"))))
    return e.select("n", "r", F.round(z, 4).alias("z"))


# ------------------------------------------------ repeat purchase

@register(
    "orders_repeat_purchase_curve",
    oracle="""
    WITH oc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n_buyers FROM oc),
    ks AS (SELECT unnest([1, 2, 3, 5, 10]) AS k)
    SELECT CAST(ks.k AS INT) AS k,
           CAST(coalesce(sum(CASE WHEN oc.n_orders >= ks.k
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_customers,
           round(CAST(coalesce(sum(CASE WHEN oc.n_orders >= ks.k
                                        THEN 1 ELSE 0 END), 0) AS DOUBLE)
                 / base.n_buyers, 6) AS share_of_buyers
    FROM ks, oc, base
    GROUP BY ks.k, base.n_buyers
    """,
    tags=("analytics", "behavioral"),
)
def orders_repeat_purchase_curve(spark, sf_dir):
    """Repeat-purchase survival curve: the share of buyers who placed
    at least k orders, k ∈ {1,2,3,5,10} — the loyalty summary behind
    `events_new_vs_returning` and the input to repeat-rate forecasting
    (`orders_cohort_ltv` gives the revenue view). One customer-keyed
    count + a 5-row threshold sweep (conditional aggregate — the
    customer relation is scanned once, not once per k). All integers;
    terminal share divide."""
    o = table(spark, sf_dir, "orders")
    oc = o.groupBy("o_custkey").agg(F.count("*").cast("long")
                                    .alias("n_orders"))
    base = oc.agg(F.count("*").cast("long").alias("n_buyers"))
    ks = spark.createDataFrame([(k,) for k in (1, 2, 3, 5, 10)], ["k"])
    return (oc.crossJoin(F.broadcast(ks))
            .groupBy("k")
            .agg(F.coalesce(F.sum(F.when(F.col("n_orders") >= F.col("k"), 1)
                                  .otherwise(0)), F.lit(0))
                 .cast("long").alias("n_customers"))
            .crossJoin(F.broadcast(base))
            .select(F.col("k").cast("int").alias("k"), "n_customers",
                    F.round(F.col("n_customers").cast("double")
                            / F.col("n_buyers"), 6)
                    .alias("share_of_buyers")))


# ------------------------------------------------ OLS (2 features)

# terminal math shared VERBATIM by both engines (Spark selectExpr +
# DuckDB SELECT): Cramer's rule on the 3x3 normal equations, then R².
_OLS_DET = ("(n * (s11 * s22 - s12 * s12) "
            "- s1 * (s1 * s22 - s12 * s2) "
            "+ s2 * (s1 * s12 - s11 * s2))")
_OLS_B0 = ("(sy * (s11 * s22 - s12 * s12) "
           "- s1 * (s1y * s22 - s12 * s2y) "
           "+ s2 * (s1y * s12 - s11 * s2y))")
_OLS_B1 = ("(n * (s1y * s22 - s12 * s2y) "
           "- sy * (s1 * s22 - s12 * s2) "
           "+ s2 * (s1 * s2y - s1y * s2))")
_OLS_B2 = ("(n * (s11 * s2y - s1y * s12) "
           "- s1 * (s1 * s2y - s1y * s2) "
           "+ sy * (s1 * s12 - s11 * s2))")
_OLS_SELECT = f"""
           CAST(n AS BIGINT) AS n,
           round({_OLS_B0} / {_OLS_DET}, 6) AS intercept_cents,
           round({_OLS_B1} / {_OLS_DET}, 6) AS beta_qty,
           round({_OLS_B2} / {_OLS_DET}, 6) AS beta_disc_pct,
           round(1 - (syy - ({_OLS_B0} / {_OLS_DET}) * sy
                          - ({_OLS_B1} / {_OLS_DET}) * s1y
                          - ({_OLS_B2} / {_OLS_DET}) * s2y)
                   / (syy - sy * sy / n), 6) AS r2
"""


@register(
    "stat_ols_two_features",
    oracle=f"""
    WITH x AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS s11,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s22,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s12,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
      FROM x)
    SELECT {_OLS_SELECT}
    FROM m
    """,
    tags=("stat", "ml"),
)
def stat_ols_two_features(spark, sf_dir):
    """Multiple linear regression (2 features + intercept) by exact
    normal equations: extendedprice ~ quantity + discount — the
    closed-form ML-in-SQL primitive (`stat_linear_trend` is the
    1-feature sibling; for wide feature sets the same moments feed a
    driver-side solve like `embedding_pca_project`). All ten moment
    sums are exact DECIMAL(38,0) integers; the 3x3 Cramer solve and
    R² are ONE terminal float expression shared VERBATIM with the
    oracle (same string through selectExpr), so operand order is
    identical by construction. One scan, one aggregate row,
    corpus-size-independent solve."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("x1"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x2"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"))
    d = lambda c: F.col(c).cast("decimal(38,0)")
    m = x.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(d("x1")).cast("double").alias("s1"),
        F.sum(d("x2")).cast("double").alias("s2"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(d("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(d("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(d("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(d("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(d("y") * F.col("y")).cast("double").alias("syy"))
    return m.selectExpr(*[
        p.strip() for p in _OLS_SELECT.split(",\n") if p.strip()])
