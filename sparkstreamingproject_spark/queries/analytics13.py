"""Round-4 continuation, wave 14: Pettitt changepoint detection,
l-diversity privacy audit, Matryoshka dimension-truncation retrieval
eval, and HITS hubs/authorities.

Float discipline: Pettitt's U_t is an exact integer prefix statistic
(doubled ranks); HITS scores are re-scaled to integers every round
(max-normalize → round(·1e6) → BIGINT) so every cross-row sum is
exact; Matryoshka uses integer-quantized dot products end to end. The
only floats are fixed-arity terminal expressions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.similarity import _int_vec
from .base import register, table

_US_DAY = 86_400_000_000


# ------------------------------------------------ Pettitt changepoint

@register(
    "ts_changepoint_pettitt",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {_US_DAY} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    r AS (
      SELECT day,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS dr,
             CAST(count(*) OVER () AS BIGINT) AS t_n
      FROM d),
    u AS (
      SELECT day, t_n,
             row_number() OVER (ORDER BY day) AS t,
             sum(dr) OVER (ORDER BY day) AS pref
      FROM r),
    k AS (
      SELECT day, t_n,
             CAST(pref - t * (t_n + 1) AS BIGINT) AS u_t,
             row_number() OVER (
               ORDER BY abs(pref - t * (t_n + 1)) DESC, day) AS rn
      FROM u WHERE t < t_n)
    SELECT day AS changepoint_day, t_n AS n_days,
           CAST(abs(u_t) AS BIGINT) AS k_stat,
           round(2 * exp(-6.0 * CAST(u_t AS DOUBLE) * u_t
                         / (CAST(t_n AS DOUBLE) * t_n * t_n
                            + CAST(t_n AS DOUBLE) * t_n)), 6)
             AS p_approx
    FROM k WHERE rn = 1
    """,
    tags=("timeseries", "stat"),
)
def ts_changepoint_pettitt(spark, sf_dir):
    """Pettitt changepoint test on the daily revenue series: the
    rank-based (distribution-free) detector of a single mean shift —
    the structural-break sibling of `ts_cusum_nation_drift` (CUSUM
    assumes a known baseline; Pettitt ranks the whole series). With
    doubled average ranks, U_t = prefix(dr) - t(T+1) is an exact
    integer for every split point t; K = max|U_t| picks the
    changepoint (day tiebreak), and the significance approximation
    2·exp(-6K²/(T³+T²)) is the one terminal float. Scale: the ordered
    pass runs over the DAY-grain aggregate (30 rows here, bounded by
    calendar span at any corpus size), never the event log."""
    e = table(spark, sf_dir, "events")
    d = (e.groupBy((F.unix_micros("ts") / _US_DAY).cast("long").alias("day"))
         .agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
              .cast("long").alias("cents")))
    dr = (2 * F.rank().over(Window.orderBy("cents"))
          + F.count("*").over(Window.partitionBy("cents")) - 1)
    r = d.select("day", dr.alias("dr"),
                 F.count("*").over(Window.partitionBy()).cast("long")
                 .alias("t_n"))
    wd = Window.orderBy("day")
    u = r.select("day", "t_n",
                 F.row_number().over(wd).alias("t"),
                 F.sum("dr").over(wd).alias("pref"))
    u_t = F.col("pref") - F.col("t") * (F.col("t_n") + 1)
    k = (u.filter(F.col("t") < F.col("t_n"))
         .select("day", "t_n", u_t.cast("long").alias("u_t"))
         .withColumn("rn", F.row_number().over(
             Window.orderBy(F.abs("u_t").desc(), "day")))
         .filter(F.col("rn") == 1))
    tn = F.col("t_n").cast("double")
    p = 2 * F.exp(-6.0 * F.col("u_t").cast("double") * F.col("u_t")
                  / (tn * F.col("t_n") * F.col("t_n")
                     + tn * F.col("t_n")))
    return k.select(F.col("day").alias("changepoint_day"),
                    F.col("t_n").alias("n_days"),
                    F.abs("u_t").cast("long").alias("k_stat"),
                    F.round(p, 6).alias("p_approx"))


# ------------------------------------------------ l-diversity

@register(
    "privacy_l_diversity",
    oracle="""
    WITH q AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INT) AS order_year,
             o.o_orderpriority AS priority,
             c.c_mktsegment AS sensitive
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    g AS (
      SELECT nation, order_year, priority,
             count(DISTINCT sensitive) AS l,
             count(*) AS n_rows
      FROM q GROUP BY 1, 2, 3)
    SELECT CAST(CASE WHEN l < 2 THEN '1'
                     WHEN l < 4 THEN '2-3'
                     ELSE '>=4' END AS VARCHAR) AS l_band,
           count(*) AS n_groups,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(min(l) AS BIGINT) AS min_l
    FROM g GROUP BY 1
    """,
    tags=("privacy", "agg"),
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit over the same quasi-identifier groups as
    `privacy_k_anonymity` (nation × order year × priority), with
    market segment as the sensitive attribute: a group can be
    k-anonymous yet leak the sensitive value if every member shares it
    (l = 1) — this measures exactly that. Groups below l = 2 need
    suppression even when k is large. One fact-dim join + one
    distinct-count per QI group + a 3-row banding; all integers."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    q = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .select(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("order_year"),
                 F.col("o_orderpriority").alias("priority"),
                 F.col("c_mktsegment").alias("sensitive")))
    g = (q.groupBy("nation", "order_year", "priority")
         .agg(F.countDistinct("sensitive").alias("l"),
              F.count("*").alias("n_rows")))
    band = (F.when(F.col("l") < 2, "1")
            .when(F.col("l") < 4, "2-3").otherwise(">=4"))
    return (g.groupBy(band.alias("l_band"))
            .agg(F.count("*").alias("n_groups"),
                 F.sum("n_rows").cast("long").alias("n_rows"),
                 F.min("l").cast("long").alias("min_l")))


# ------------------------------------------------ Matryoshka eval

_MAT_QUERIES = 8
_MAT_TOPK = 5
_MAT_TRUNC = 16


@register(
    "sim_matryoshka_eval",
    oracle=f"""
    WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    el AS (SELECT vec_id, CAST(i AS INT) AS pos,
                  CAST(round(v[i] * 1000000) AS BIGINT) AS x
           FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    q AS (SELECT vec_id AS q_id, pos, x FROM el
          WHERE vec_id < {_MAT_QUERIES}),
    dots AS (
      SELECT q.q_id, e.vec_id,
             CAST(sum(CAST(q.x AS DECIMAL(38,0)) * e.x) AS DECIMAL(38,0))
               AS dot_full,
             CAST(sum(CASE WHEN q.pos <= {_MAT_TRUNC}
                           THEN CAST(q.x AS DECIMAL(38,0)) * e.x
                           ELSE 0 END) AS DECIMAL(38,0)) AS dot_trunc
      FROM q JOIN el e ON q.pos = e.pos AND e.vec_id <> q.q_id
      GROUP BY 1, 2),
    tf AS (SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY dot_full DESC, vec_id)
                    AS rf
           FROM dots),
    tt AS (SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY dot_trunc DESC, vec_id)
                    AS rt
           FROM dots)
    SELECT f.q_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
           round(CAST(count(t.vec_id) AS DOUBLE) / {_MAT_TOPK}, 4)
             AS recall_at_{_MAT_TOPK}
    FROM tf f LEFT JOIN tt t
      ON f.q_id = t.q_id AND f.vec_id = t.vec_id AND t.rt <= {_MAT_TOPK}
    WHERE f.rf <= {_MAT_TOPK}
    GROUP BY f.q_id
    """,
    tags=("llm", "similarity", "eval"),
)
def sim_matryoshka_eval(spark, sf_dir):
    """Matryoshka-style truncation eval: how much retrieval quality
    survives keeping only the first {16} of 64 embedding dimensions —
    recall@5 of truncated-dot retrieval against full-dot ground truth
    per query (the measurement behind MRL-style 'use a prefix of the
    vector at serving time' deployments; `sim_recall_at_k_eval` is the
    LSH sibling). Inner products are exact integer sums over quantized
    elements, so both rankings are engine- and partition-exact. Scale:
    |q|·N scoring like `brute_force_topk` — the truncated pass reads
    1/4 of the vector bytes, which is the point being measured."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", _int_vec("embedding").alias("v"))
    qs = (pts.filter(F.col("vec_id") < _MAT_QUERIES)
          .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"),
                   lambda x, y: x.cast("decimal(38,0)") * y),
        F.lit(0).cast("decimal(38,0)"), lambda acc, t: acc + t)
    dot_t = F.aggregate(
        F.zip_with(F.slice("qv", 1, _MAT_TRUNC), F.slice("v", 1, _MAT_TRUNC),
                   lambda x, y: x.cast("decimal(38,0)") * y),
        F.lit(0).cast("decimal(38,0)"), lambda acc, t: acc + t)
    dots = (pts.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", dot.alias("dot_full"),
                    dot_t.alias("dot_trunc")))
    wf = Window.partitionBy("q_id").orderBy(F.col("dot_full").desc(),
                                            "vec_id")
    wt = Window.partitionBy("q_id").orderBy(F.col("dot_trunc").desc(),
                                            "vec_id")
    ranked = dots.select("q_id", "vec_id",
                         F.row_number().over(wf).alias("rf"),
                         F.row_number().over(wt).alias("rt"))
    full = (ranked.filter(F.col("rf") <= _MAT_TOPK)
            .select("q_id", "vec_id"))
    trunc = (ranked.filter(F.col("rt") <= _MAT_TOPK)
             .select(F.col("q_id").alias("tq"), F.col("vec_id").alias("tv")))
    return (full.join(trunc,
                      (F.col("q_id") == F.col("tq"))
                      & (F.col("vec_id") == F.col("tv")), "left")
            .groupBy("q_id")
            .agg(F.count("tv").cast("long").alias("n_overlap"),
                 F.round(F.count("tv").cast("double") / _MAT_TOPK, 4)
                 .alias(f"recall_at_{_MAT_TOPK}")))


# ------------------------------------------------ HITS

_HITS_TOP = 10


def _hits_oracle() -> str:
    """Two HITS iterations unrolled; scores re-scaled to BIGINT(·1e6 /
    max) after every half-step so all sums are exact integers."""
    return f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS raw FROM e GROUP BY p),
    a1n AS (SELECT p, CAST(round(raw * 1000000.0
                                 / (SELECT max(raw) FROM a1)) AS BIGINT)
                      AS s FROM a1),
    h1 AS (SELECT e.c, CAST(sum(a.s) AS BIGINT) AS raw
           FROM e JOIN a1n a ON e.p = a.p GROUP BY e.c),
    h1n AS (SELECT c, CAST(round(raw * 1000000.0
                                 / (SELECT max(raw) FROM h1)) AS BIGINT)
                      AS s FROM h1),
    a2 AS (SELECT e.p, CAST(sum(h.s) AS BIGINT) AS raw
           FROM e JOIN h1n h ON e.c = h.c GROUP BY e.p),
    a2n AS (SELECT p, CAST(round(raw * 1000000.0
                                 / (SELECT max(raw) FROM a2)) AS BIGINT)
                      AS s FROM a2),
    h2 AS (SELECT e.c, CAST(sum(a.s) AS BIGINT) AS raw
           FROM e JOIN a2n a ON e.p = a.p GROUP BY e.c),
    h2n AS (SELECT c, CAST(round(raw * 1000000.0
                                 / (SELECT max(raw) FROM h2)) AS BIGINT)
                      AS s FROM h2),
    tops AS (
      SELECT 'authority' AS side, p AS node_id, s,
             row_number() OVER (ORDER BY s DESC, p) AS rnk
      FROM a2n
      UNION ALL
      SELECT 'hub' AS side, c AS node_id, s,
             row_number() OVER (ORDER BY s DESC, c) AS rnk
      FROM h2n)
    SELECT side, node_id, s AS score_ppm, CAST(rnk AS INT) AS rnk
    FROM tops WHERE rnk <= {_HITS_TOP}
    """


@register("graph_hits_hubs_authorities", oracle=_hits_oracle(),
          tags=("graph",))
def graph_hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg) on the customer→part purchase bipartite graph:
    hubs = broad buyers, authorities = widely-bought parts — the
    mutual-reinforcement companion to `graph_pagerank_transitions`.
    Two full iterations; after EVERY half-step scores are
    max-normalized and re-quantized to BIGINT parts-per-million, so
    each propagation is an exact integer edge-keyed sum (stricter than
    the PageRank recipe — no float crosses a variable row count
    anywhere). Per round: one edge⋈score join + one keyed sum, both
    O(|E|) shuffles; the normalizing max is a 1-row broadcast join."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e = (o.join(li, o.o_orderkey == li.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_partkey").alias("p"))
         .distinct().localCheckpoint())

    def norm(df, key):
        mx = df.agg(F.max("raw").alias("mx"))
        return (df.crossJoin(F.broadcast(mx))
                .select(key, F.round(F.col("raw") * 1e6 / F.col("mx"))
                        .cast("long").alias("s")))

    a1 = norm(e.groupBy("p").agg(F.count("*").cast("long").alias("raw")),
              "p")
    h1 = norm(e.join(a1, "p").groupBy("c")
              .agg(F.sum("s").cast("long").alias("raw")), "c")
    a2 = norm(e.join(h1, "c").groupBy("p")
              .agg(F.sum("s").cast("long").alias("raw")), "p")
    h2 = norm(e.join(a2, "p").groupBy("c")
              .agg(F.sum("s").cast("long").alias("raw")), "c")
    auth = a2.select(F.lit("authority").alias("side"),
                     F.col("p").alias("node_id"), "s",
                     F.row_number().over(
                         Window.orderBy(F.desc("s"), "p")).alias("rnk"))
    hub = h2.select(F.lit("hub").alias("side"),
                    F.col("c").alias("node_id"), "s",
                    F.row_number().over(
                        Window.orderBy(F.desc("s"), "c")).alias("rnk"))
    return (auth.unionAll(hub)
            .filter(F.col("rnk") <= _HITS_TOP)
            .select("side", "node_id", F.col("s").alias("score_ppm"),
                    F.col("rnk").cast("int").alias("rnk")))
