"""Round-5 wave 8: Adamic-Adar link weighting (the inverse-log-degree
refinement of common-neighbor prediction) and session peak concurrency
(the +1/-1 interval-endpoint sweep behind every capacity dashboard).

Float discipline: Adamic-Adar center weights are quantized once to
BIGINT micro-units (1e6/ln(deg)) so per-pair scores are exact integer
sums; concurrency is pure integer.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

_AA_TOP = 20
_GAP_US = 1_800_000_000  # 30-minute session gap
_DAY_US = 86_400_000_000


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    p AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v,
                 CAST(count(*) AS BIGINT) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
          GROUP BY 1, 2),
    rk AS (SELECT u, v, w,
                  row_number() OVER (ORDER BY w DESC, u, v) AS rn
           FROM p),
    np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM p),
    e AS (SELECT u, v FROM rk CROSS JOIN np WHERE rn * 4 <= np),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj
            GROUP BY u),
    wq AS (SELECT u, CAST(round(1000000.0 / ln(d)) AS BIGINT) AS aa_e6
           FROM deg WHERE d > 1),
    cn AS (SELECT a1.u AS p, a2.u AS q,
                  CAST(sum(wq.aa_e6) AS BIGINT) AS aa
           FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.u < a2.u
           JOIN wq ON wq.u = a1.v
           GROUP BY 1, 2),
    ne AS (SELECT cn.p, cn.q, cn.aa FROM cn
           LEFT JOIN e ON e.u = cn.p AND e.v = cn.q
           WHERE e.u IS NULL)
    SELECT p AS u, q AS v, aa AS aa_e6 FROM ne
    ORDER BY aa DESC, p, q LIMIT {_AA_TOP}
    """,
    tags=("graph",),
)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction on the strong-partnership graph:
    candidate pairs score Σ 1/ln(deg(w)) over shared neighbors w —
    rare shared partners count more than promiscuous hubs (the
    standard refinement over raw common-neighbor counts, and the
    weighted companion to graph_jaccard_link_prediction).

    Center weights are quantized ONCE (1e6/ln(d), BIGINT), so the
    per-pair aggregation is an exact integer sum under any
    partitioning. The weighted wedge join is the Σdeg² bound over the
    supplier-pair-cardinality graph (a bitmap kernel cannot carry
    per-center weights through AND+popcount); degree-1 centers are
    dropped up front — they can never center a wedge."""
    p = order_copairs(table(spark, sf_dir, "lineitem"), "l_suppkey")
    np_ = p.agg(F.count("*").alias("np"))
    rk = (p.withColumn("rn", F.row_number().over(
              Window.partitionBy(F.lit(1))
              .orderBy(F.desc("w"), "u", "v")))
          .crossJoin(F.broadcast(np_)))
    e = (rk.filter(F.col("rn") * 4 <= F.col("np")).select("u", "v")
         .localCheckpoint())
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    wq = (deg.filter(F.col("d") > 1)
          .select(F.col("u").alias("w_key"),
                  F.round(F.lit(1_000_000.0) / F.log("d"), 0)
                  .cast("bigint").alias("aa_e6")))
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    cn = (a1.join(a2, (F.col("a1.v") == F.col("a2.v"))
                  & (F.col("a1.u") < F.col("a2.u")))
          .join(F.broadcast(wq), F.col("a1.v") == F.col("w_key"))
          .groupBy(F.col("a1.u").alias("p"), F.col("a2.u").alias("q"))
          .agg(F.sum("aa_e6").alias("aa")))
    ne = (cn.join(e.select(F.col("u").alias("p"),
                           F.col("v").alias("q")),
                  ["p", "q"], "left_anti"))
    return (ne.select(F.col("p").alias("u"), F.col("q").alias("v"),
                      F.col("aa").alias("aa_e6"))
            .orderBy(F.desc("aa_e6"), "u", "v").limit(_AA_TOP))


@register(
    "sessions_peak_concurrency",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
               FROM events),
    g AS (SELECT user_id, us, event_id,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                              ORDER BY us, event_id)
                           > {_GAP_US}
                      OR lag(us) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id) IS NULL
                      THEN 1 ELSE 0 END AS brk
          FROM e),
    sid AS (SELECT user_id, us,
                   sum(brk) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS s
            FROM g),
    iv AS (SELECT user_id, s, min(us) AS a, max(us) + 1 AS b
           FROM sid GROUP BY 1, 2),
    pts AS (SELECT a AS t, 1 AS delta FROM iv
            UNION ALL SELECT b, -1 FROM iv),
    agg AS (SELECT t, CAST(sum(delta) AS BIGINT) AS delta
            FROM pts GROUP BY t),
    run AS (SELECT t, CAST(sum(delta) OVER (ORDER BY t) AS BIGINT)
                   AS conc
            FROM agg),
    day AS (SELECT t // {_DAY_US} AS day, max(conc) AS peak
            FROM run GROUP BY 1)
    SELECT CAST(day AS BIGINT) AS day, CAST(peak AS BIGINT) AS peak
    FROM day
    """,
    tags=("events", "analytics", "window"),
)
def sessions_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day: gap-sessionize (30-minute
    idle timeout), then the classic +1/-1 endpoint sweep — a running
    sum over merged interval endpoints whose per-day max is the
    capacity-planning number.

    The Spark plan computes the running sum TWO-PHASE (the
    shard_by_token_budget pattern): endpoints bucket by day — a
    PREFIX of the time order, so buckets are order-contiguous —
    per-day delta totals become exclusive offsets via a window over
    the day-cardinality relation, and the within-day cumsum runs
    partitioned by day. No single-partition global window at any
    scale; sessions spanning midnight are handled by the offsets
    (their +1 lands in one day's total, their -1 in a later day's).
    The oracle states the same semantics as one window. All integer."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id")
    wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        (F.col("us") - F.lag("us").over(wu) > _GAP_US)
        | F.lag("us").over(wu).isNull(), 1).otherwise(0)
    sid = (ev.withColumn("brk", brk)
           .withColumn("s", F.sum("brk").over(
               wu.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))))
    iv = (sid.groupBy("user_id", "s")
          .agg(F.min("us").alias("a"), (F.max("us") + 1).alias("b")))
    pts = (iv.select(F.col("a").alias("t"), F.lit(1).alias("delta"))
           .unionAll(iv.select(F.col("b").alias("t"),
                               F.lit(-1).alias("delta"))))
    agg = pts.groupBy("t").agg(F.sum("delta").alias("delta"))
    day = agg.withColumn("day", F.expr(f"t div {_DAY_US}"))
    per_day = day.groupBy("day").agg(F.sum("delta").alias("dt"))
    offsets = per_day.select(
        "day",
        (F.sum("dt").over(
            Window.partitionBy(F.lit(1)).orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
         - F.col("dt")).alias("off"))
    run = (day.join(F.broadcast(offsets), "day")
           .withColumn("conc", F.col("off") + F.sum("delta").over(
               Window.partitionBy("day").orderBy("t")
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))))
    return (run.groupBy("day")
            .agg(F.max("conc").cast("long").alias("peak"))
            .select(F.col("day").cast("long").alias("day"), "peak"))


# ------------------------------------------------ k-core peeling

_KC_ROUNDS = 6


def _kcore_oracle() -> str:
    # unrolled peeling rounds: s{i+1} = nodes of s{i} whose degree
    # WITHIN s{i} still reaches k (simultaneous removal per round)
    steps = []
    for i in range(_KC_ROUNDS):
        steps.append(f"""
    s{i + 1} AS MATERIALIZED (
      SELECT d.a AS node FROM dir d
      JOIN s{i} sa ON d.a = sa.node
      JOIN s{i} sb ON d.b = sb.node
      CROSS JOIN kk
      GROUP BY d.a, kk.k HAVING count(*) >= kk.k)""")
    counts = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS round, CAST(count(*) AS BIGINT)"
        f" AS n_vertices FROM s{i}" for i in range(_KC_ROUNDS + 1))
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    dir AS MATERIALIZED (SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS MATERIALIZED (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM dir GROUP BY 1),
    kk AS MATERIALIZED (SELECT CAST(3 * sum(d) // (4 * count(*))
                             AS BIGINT) + 1 AS k
           FROM deg),
    s0 AS MATERIALIZED (SELECT node FROM deg),{",".join(steps)},
    cnts AS (
{counts}),
    flow AS (
      SELECT round, n_vertices,
             coalesce(lag(n_vertices) OVER (ORDER BY round)
                      - n_vertices, 0) AS n_removed
      FROM cnts),
    conv AS (
      SELECT CASE WHEN min(CASE WHEN round >= {_KC_ROUNDS - 1}
                                THEN n_vertices END)
                       = max(CASE WHEN round >= {_KC_ROUNDS - 1}
                                  THEN n_vertices END)
                  THEN 1 ELSE 0 END AS converged
      FROM flow)
    SELECT CAST(round AS INT) AS round, n_vertices,
           CAST(n_removed AS BIGINT) AS n_removed,
           kk.k, CAST(conv.converged AS INT) AS converged
    FROM flow CROSS JOIN kk CROSS JOIN conv
    """


@register(
    "graph_kcore_peeling",
    oracle=_kcore_oracle(),
    tags=("graph",),
)
def graph_kcore_peeling(spark, sf_dir):
    """k-core extraction on the part co-occurrence graph by
    simultaneous-removal peeling — the round-LEDGER/convergence view
    of the k-core family (`graph_kcore_peel` is the node-membership
    view: fixed k=2, 3 rounds, surviving nodes with in-core degrees)
    —
    drop every vertex whose degree
    within the surviving set is below k (k = 3/4 of the truncated
    mean degree + 1, computed from the graph so the threshold bites
    at every SF: the core survives at sf0.001 while larger SFs are
    mid-cascade at round 6 and the flag honestly reports
    non-convergence),
    repeat {_KC_ROUNDS} rounds. Emits the per-round survivor/removal
    ledger plus a CONVERGED flag (last two rounds equal) — the
    bounded-iteration determinism discipline of the pagerank/k-means
    kernels: both engines run exactly the same rounds, so results
    hash-match whether or not the fixpoint was reached, and the flag
    reports which (converged at all tested SFs). The part graph
    (parts linked when co-ordered) is the sparse sibling of the
    supplier graph the triangle/link-prediction queries use — sparse
    enough that peeling has real structure at every SF. The oracle's
    unrolled rounds are MATERIALIZED CTEs: each s_i is referenced
    twice per round, and without materialization DuckDB re-derives
    the whole chain per reference (measured 198 s on a 10-node graph;
    0.5 s materialized).

    Scale shape — DELTA PEELING (VERDICT r08 §next 3): the naive
    round re-aggregates degrees over the full survivor-restricted
    edge relation (two vertex-keyed shuffle joins of the whole edge
    list, every round). Instead the running ``degrees`` relation is
    maintained incrementally: per round, only edges incident to the
    JUST-REMOVED vertex set are counted (``deg_{i+1}(v) = deg_i(v) -
    |edges(v, removed_i)|`` — removal is simultaneous, so the delta
    is exact), which touches the edge relation once per round keyed
    by the removed side. The removed set shrinks geometrically after
    the first round, so the edge⋈removed join is left UNHINTED: AQE
    converts it to a broadcast join from the *runtime* size of the
    removed list (its autoBroadcastJoinThreshold is the driver-safety
    guard — a worst-case vertex-cardinality round-1 removal stays a
    shuffled join, the failure mode of r07's 79679a3, while typical
    rounds never shuffle the edge relation at all). Measured r09
    sf0.1: every round broadcasts, no edge shuffle after the degree
    build. (`repartition` before `localCheckpoint` was tried and
    rejected: LogicalRDD does not report the partitioning, so the
    exchange reappeared per round anyway.)
    `localCheckpoint` cuts lineage per round exactly as
    `llm/dedup.py:connected_components` does, so the plan stays
    linear in rounds. Edge generation is the triangle-count
    order-key self-join (per-key fanout bounded by order size)."""
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_partkey").select("u", "v")
    dirn = (e.select(F.col("u").alias("na"), F.col("v").alias("nb"))
            .unionAll(e.select(F.col("v").alias("na"),
                               F.col("u").alias("nb"))))
    dirn = dirn.localCheckpoint()
    degrees = (dirn.groupBy(F.col("na").alias("node"))
               .agg(F.count("*").cast("long").alias("d"))
               .localCheckpoint())
    kk = (degrees.agg((F.expr("(3 * sum(d)) div (4 * count(*))") + 1)
                      .cast("long").alias("k"))
          .localCheckpoint())  # 1 row — free to broadcast per round
    cnts = degrees.agg(F.count("*").alias("n_vertices")) \
        .select(F.lit(0).alias("round"), "n_vertices")
    for i in range(_KC_ROUNDS):
        below = F.col("d") < F.col("k")
        removed = (degrees.crossJoin(F.broadcast(kk))
                   .filter(below)
                   .select(F.col("node").alias("nb")))
        surv = (degrees.crossJoin(F.broadcast(kk))
                .filter(~below).select("node", "d"))
        lost = (dirn.join(removed, "nb")
                .groupBy(F.col("na").alias("node"))
                .agg(F.count("*").cast("long").alias("lost")))
        degrees = (surv.join(lost, "node", "left")
                   .select("node",
                           (F.col("d")
                            - F.coalesce("lost", F.lit(0)))
                           .cast("long").alias("d"))
                   .localCheckpoint())
        cnts = cnts.unionByName(
            degrees.agg(F.count("*").alias("n_vertices"))
            .select(F.lit(i + 1).alias("round"), "n_vertices"))
    w = Window.orderBy("round")
    flow = cnts.select(
        "round", "n_vertices",
        F.coalesce(F.lag("n_vertices").over(w) - F.col("n_vertices"),
                   F.lit(0)).cast("long").alias("n_removed"))
    conv = (flow.filter(F.col("round") >= _KC_ROUNDS - 1)
            .agg((F.min("n_vertices") == F.max("n_vertices"))
                 .cast("int").alias("converged")))
    return (flow.crossJoin(F.broadcast(kk))
            .crossJoin(F.broadcast(conv))
            .select(F.col("round").cast("int").alias("round"),
                    F.col("n_vertices").cast("long").alias("n_vertices"),
                    "n_removed", "k", "converged"))
