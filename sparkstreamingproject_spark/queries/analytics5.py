"""Round-4 additions: curation quality gates, dataset splitting,
centroid classification, graph motifs, CUBE/LATERAL SQL surfaces,
sessionization, and robust outliers.

Cross-engine float discipline (see base.py header): every derived
number here is either pure integer/DECIMAL algebra (order-free in both
engines), an exact order statistic (``percentile_disc`` — a real data
value, no interpolation arithmetic), or a single terminal float
division on exact integer inputs — nothing accumulates floats in
engine-dependent order. All window queries pass
tests/test_partitioning_robustness.py's hostile-partitioning check.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.similarity import _int_vec
from ..operators.graph import order_copairs
from .base import register, table


# --------------------------------------------------------------------------
# corpus quality gate (Gopher-style rules)
# --------------------------------------------------------------------------

@register(
    "doc_quality_rules_gate",
    oracle="""
    WITH f AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_words,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_sym,
             length(text) AS n_chars,
             (CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' to ') THEN 1 ELSE 0 END) AS n_stop
      FROM documents),
    r AS (
      SELECT lang,
             (n_words BETWEEN 20 AND 80) AS r_words,
             (n_alpha >= 3 * n_words AND n_alpha <= 8 * n_words) AS r_wordlen,
             (10 * n_sym <= n_chars) AS r_sym,
             (n_stop >= 2) AS r_stop
      FROM f)
    SELECT lang,
           count(*) AS docs,
           count(*) FILTER (WHERE r_words AND r_wordlen AND r_sym AND r_stop)
             AS pass_all,
           count(*) FILTER (WHERE NOT r_words) AS fail_words,
           count(*) FILTER (WHERE NOT r_wordlen) AS fail_wordlen,
           count(*) FILTER (WHERE NOT r_sym) AS fail_sym,
           count(*) FILTER (WHERE NOT r_stop) AS fail_stop
    FROM r GROUP BY lang
    """,
    tags=("llm", "curation"),
)
def doc_quality_rules_gate(spark, sf_dir):
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1 rule
    shapes): word-count bounds, mean-word-length bounds, symbol ratio,
    stopword presence — summarized as per-language pass/fail counts.

    Every rule is an INTEGER comparison (mean word length as
    ``3·n_words ≤ n_alpha ≤ 8·n_words``, symbol ratio as
    ``10·n_sym ≤ n_chars``) so the gate is bit-deterministic in any
    engine at any partitioning. One scan, one partial-aggregated
    groupBy — the same shape at 100 TB; the rules fuse into the scan
    projection (whole-stage codegen, no UDF)."""
    d = table(spark, sf_dir, "documents")
    stop = sum(F.when(F.expr(f"contains(' ' || text || ' ', ' {w} ')"), 1)
               .otherwise(0) for w in ("the", "and", "of", "to"))
    f = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias("n_sym"),
        F.length("text").alias("n_chars"),
        stop.alias("n_stop"))
    r = f.select(
        "lang",
        F.col("n_words").between(20, 80).alias("r_words"),
        ((F.col("n_alpha") >= 3 * F.col("n_words"))
         & (F.col("n_alpha") <= 8 * F.col("n_words"))).alias("r_wordlen"),
        (10 * F.col("n_sym") <= F.col("n_chars")).alias("r_sym"),
        (F.col("n_stop") >= 2).alias("r_stop"))
    c = lambda cond: F.count(F.when(cond, 1))  # noqa: E731
    return r.groupBy("lang").agg(
        F.count("*").alias("docs"),
        c(F.col("r_words") & F.col("r_wordlen") & F.col("r_sym")
          & F.col("r_stop")).alias("pass_all"),
        c(~F.col("r_words")).alias("fail_words"),
        c(~F.col("r_wordlen")).alias("fail_wordlen"),
        c(~F.col("r_sym")).alias("fail_sym"),
        c(~F.col("r_stop")).alias("fail_stop"))


# --------------------------------------------------------------------------
# deterministic stratified dataset split
# --------------------------------------------------------------------------

@register(
    "split_stratified_hash",
    oracle="""
    WITH s AS (
      SELECT lang,
             CASE WHEN (doc_id * 40503 + 17) % 1000 < 800 THEN 'train'
                  WHEN (doc_id * 40503 + 17) % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    c AS (SELECT lang, split, count(*) AS n FROM s GROUP BY 1, 2)
    SELECT lang, split, n,
           round(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 4)
             AS share
    FROM c
    """,
    tags=("llm", "curation"),
)
def split_stratified_hash(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split with per-language
    share audit — the reproducible-split step of a training pipeline.

    The splitter is pure modular arithmetic on the key
    (``(doc_id·40503 + 17) mod 1000``): identical in every engine and
    every run, no RNG, no sampling operator (engine samplers are
    seed/partition dependent and never cross-engine comparable).
    Multiplier bound documented: ids up to ~1e13 stay inside int64.
    Scale: split assignment fuses into the scan; the audit is one
    partial-agg groupBy + a dimension-cardinality window. The single
    float is one terminal division of two exact integers."""
    d = table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * 40503 + 17, F.lit(1000))
    s = d.select(
        "lang",
        F.when(bucket < 800, "train").when(bucket < 900, "val")
        .otherwise("test").alias("split"))
    c = s.groupBy("lang", "split").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return c.select(
        "lang", "split", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(w).cast("double"), 4).alias("share"))


# --------------------------------------------------------------------------
# nearest-centroid classification (exact integer distance algebra)
# --------------------------------------------------------------------------

@register(
    "embedding_centroid_classify",
    oracle="""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
                 CAST(round(v[i] * 1000000) AS BIGINT) AS q
          FROM x, unnest(range(1, len(v) + 1)) AS g(i)),
    c AS (SELECT label AS ctr_label, dim, sum(CAST(q AS DECIMAL(38,0))) AS s,
                 count(*) AS n
          FROM q GROUP BY 1, 2),
    d AS (SELECT q.vec_id, q.label, c.ctr_label,
                 sum((CAST(q.q AS HUGEINT) * c.n - CAST(c.s AS HUGEINT))
                     * (CAST(q.q AS HUGEINT) * c.n - CAST(c.s AS HUGEINT)))
                   AS dist2
          FROM q JOIN c ON q.dim = c.dim GROUP BY 1, 2, 3),
    p AS (SELECT vec_id, label, ctr_label,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist2, ctr_label) AS rn
          FROM d)
    SELECT label, ctr_label AS pred, count(*) AS n
    FROM p WHERE rn = 1 GROUP BY 1, 2
    """,
    tags=("llm", "embedding"),
)
def embedding_centroid_classify(spark, sf_dir):
    """Nearest-label-centroid classification with a confusion-matrix
    output — the cheap-and-cheerful classifier/cluster-audit an
    embedding pipeline runs before anything heavier.

    Exact-integer distance algebra (same recipe as
    ``embedding_covariance``): elements quantize once to
    ``BIGINT(round(v·1e6))``; per-label centroid NUMERATORS (Σq, n)
    stay exact integers; and the argmin compares
    ``Σ_d (q_d·n − S_d)²`` — the squared distance to the centroid
    scaled by n², exact DECIMAL arithmetic, so the prediction is
    bit-deterministic under any partitioning/engine. No float exists
    anywhere in the query.

    Scale: centroid sums are a (labels × d)-cardinality partial-agg
    groupBy; classification broadcasts the (labels × d) centroid table
    and evaluates the distance as an in-order ``zip_with``/``aggregate``
    HOF per row — one scan, zero per-row shuffle, codegen end-to-end."""
    e = table(spark, sf_dir, "embeddings")
    qarr = _int_vec("embedding").alias("q")
    vecs = e.select("vec_id", "label", qarr)
    dims = vecs.select(
        "vec_id", "label", F.posexplode("q").alias("dim", "qv"))
    cent = (dims.groupBy("label", "dim")
            .agg(F.sum(F.col("qv").cast("decimal(38,0)")).alias("s"),
                 F.count("*").alias("n")))
    carr = (cent.groupBy("label")
            .agg(F.expr("transform(sort_array(collect_list(struct(dim, s))),"
                        " x -> x.s)").alias("s_arr"),
                 F.max("n").alias("n"))
            .select(F.col("label").alias("ctr_label"), "s_arr", "n"))
    dist2 = F.expr(
        "aggregate(zip_with(q, s_arr, (a, s) -> "
        "  CAST(CAST(a AS DECIMAL(18,0)) * n - s AS DECIMAL(18,0))), "
        "CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x * x)").alias("dist2")
    scored = vecs.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "ctr_label", dist2)
    pred = (scored.groupBy("vec_id", "label")
            .agg(F.min(F.struct("dist2", "ctr_label")).alias("m"))
            .select("vec_id", "label", F.col("m.ctr_label").alias("pred")))
    return pred.groupBy("label", "pred").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# graph motif: supplier co-occurrence triangles
# --------------------------------------------------------------------------

@register(
    "graph_triangle_count",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    t AS (SELECT count(*) AS triangles
          FROM e e1 JOIN e e2 ON e1.v = e2.u
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT count(*) FROM e) AS edges, t.triangles FROM t
    """,
    tags=("graph",),
)
def graph_triangle_count(spark, sf_dir):
    """Triangle counting on the supplier co-occurrence graph (suppliers
    linked when they serve the same order) — the standard graph-motif
    primitive (clustering coefficient, community cohesion).

    Scale shape: edges are generated by an order-key self-join whose
    per-key fanout is BOUNDED by order size (≤7 lineitems in TPC-H ⇒
    ≤21 pairs/order), never all-pairs. Triangle closure is the
    adaptive ``operators/graph.py:triangle_count`` op: degree-ordered
    orientation (out-degree O(√m)), then a size-guarded packed-bitmap
    popcount kernel for the dense/small-id regime (this graph is 91%
    complete at sf0.1) or per-edge ``array_intersect`` adjacency
    closure for the large/sparse regime — either way the wedge
    population Σ deg⁺(u)·deg⁺(v) is never materialized or shuffled
    (the r04 wedge-join formulation shuffled ~1e8 wedge rows at sf0.1
    and grows with density³). All integers."""
    from ..operators.graph import triangle_count
    e = order_copairs(table(spark, sf_dir, "lineitem"),
                      "l_suppkey").select("u", "v")
    # the edge list feeds four actions (degree guard, mask build,
    # closure pass, edge count) — materialize the self-join ONCE
    e = e.localCheckpoint()
    edges = e.agg(F.count("*").alias("edges"))
    return edges.crossJoin(triangle_count(e))


# --------------------------------------------------------------------------
# CUBE aggregation surface
# --------------------------------------------------------------------------

@register(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("sql", "agg"),
)
def agg_cube_status_priority(spark, sf_dir):
    """CUBE over (status, priority): all four grouping levels in one
    pass (Spark expands the cube map-side into the same shuffle as a
    plain groupBy — one scan for 2^k rollup levels, vs k separate
    jobs). Money goes through exact DECIMAL sums rounded 2dp before
    the final double cast (base.py float discipline)."""
    return (table(spark, sf_dir, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                 .cast("double").alias("revenue")))


# --------------------------------------------------------------------------
# LATERAL top-k-per-group SQL surface
# --------------------------------------------------------------------------

@register(
    "lateral_topk_suppliers",
    oracle="""
    SELECT n.n_name, l.s_name, l.s_acctbal
    FROM nation n,
    LATERAL (SELECT s_name, s_acctbal FROM supplier s
             WHERE s.s_nationkey = n.n_nationkey
             ORDER BY s_acctbal DESC, s_name LIMIT 3) l
    """,
    tags=("sql", "join"),
)
def lateral_topk_suppliers(spark, sf_dir):
    """LATERAL correlated subquery with ORDER BY + LIMIT: top-3
    suppliers by account balance per nation — the SQL-standard
    top-k-per-group idiom (Spark 3.4+ lateral joins). Catalyst plans
    the correlated limit as a partitioned window rank, not a per-row
    re-execution; ties broken by name for determinism."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    return spark.sql("""
        SELECT n.n_name, l.s_name, l.s_acctbal
        FROM nation_v n
        JOIN LATERAL (SELECT s_name, s_acctbal FROM supplier_v s
                      WHERE s.s_nationkey = n.n_nationkey
                      ORDER BY s_acctbal DESC, s_name LIMIT 3) l
    """)


# --------------------------------------------------------------------------
# gap-based sessionization
# --------------------------------------------------------------------------

@register(
    "events_gap_sessionize",
    oracle="""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM m),
    g AS (SELECT user_id, sess, count(*) AS sess_n
          FROM s GROUP BY 1, 2)
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(sess_n) AS BIGINT) AS n_events,
           max(sess_n) AS max_session_events
    FROM g GROUP BY user_id
    """,
    tags=("events", "window"),
)
def events_gap_sessionize(spark, sf_dir):
    """Classic 30-minute-gap sessionization (the batch formulation of
    what ``session_window`` does in streaming): a new session starts
    when the gap to the previous event exceeds 1800 s; output per-user
    session counts and sizes.

    Pure integer window algebra on epoch-microseconds (ties broken by
    event_id), so cross-engine exact. Scale: ONE shuffle by user_id
    serves both windows and both aggregations — Catalyst reuses the
    partitioning; per-user data is bounded by user activity, the usual
    sessionization skew caveat (a bot user concentrates one partition —
    mitigate upstream with activity caps)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    m = e.select(
        "user_id", "us",
        F.when(F.col("us") - F.lag("us").over(w) > 1_800_000_000, 1)
        .otherwise(0).alias("new_sess"))
    ws = (Window.partitionBy("user_id").orderBy("us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = m.select("user_id", F.sum("new_sess").over(ws).alias("sess"))
    g = s.groupBy("user_id", "sess").agg(F.count("*").alias("sess_n"))
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("sess_n").alias("n_events"),
        F.max("sess_n").alias("max_session_events"))


# --------------------------------------------------------------------------
# robust outliers: median absolute deviation
# --------------------------------------------------------------------------

@register(
    "events_outliers_mad",
    oracle="""
    WITH med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type),
    j AS (SELECT e.event_type, e.value, med.med
          FROM events e JOIN med ON e.event_type = med.event_type),
    mad AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))
               AS mad
      FROM j GROUP BY event_type)
    SELECT j.event_type, j.med, mad.mad,
           count(*) FILTER (WHERE abs(j.value - j.med) > 3 * mad.mad)
             AS n_out
    FROM j JOIN mad ON j.event_type = mad.event_type
    GROUP BY j.event_type, j.med, mad.mad
    """,
    tags=("events", "stats"),
)
def events_outliers_mad(spark, sf_dir):
    """Median-absolute-deviation outlier counts per event type — the
    robust-statistics sibling of the IQR (events_value_outliers_iqr)
    and z-score (ts_anomaly_zscore) detectors; MAD survives the heavy
    tails that wreck mean/stddev gates on real telemetry.

    Determinism: both medians are ``percentile_disc`` — exact data
    values selected by rank (no interpolation arithmetic to drift
    between engines), so ``abs(v − med)``, ``3·mad`` and the comparison
    are single exact float ops on identical inputs. Scale: two
    aggregations + broadcast joins of dimension-cardinality medians;
    exact per-group percentiles sort within the group — at extreme
    cardinality swap in approx_percentile and accept the tolerance."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("med"))
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))")
        .alias("mad"))
    f = j.join(F.broadcast(mad), "event_type")
    return (f.groupBy("event_type", "med", "mad")
            .agg(F.count(F.when(F.abs(F.col("value") - F.col("med"))
                                > 3 * F.col("mad"), 1)).alias("n_out")))


# --------------------------------------------------------------------------
# recursive CTE: BFS over the nation trade network
# --------------------------------------------------------------------------

_TRADE_EDGES_SQL = """
    SELECT DISTINCT s.s_nationkey AS u, c.c_nationkey AS v
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey <> c.c_nationkey
"""

_TRADE_BFS_SQL = """
    WITH RECURSIVE hops(nk, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.v, h.d + 1
      FROM hops h JOIN {edges} e ON e.u = h.nk
      WHERE h.d < 3
    )
    SELECT n.n_name, CAST(m.hops AS INT) AS hops
    FROM (SELECT nk, min(d) AS hops FROM hops GROUP BY nk) m
    JOIN {nation} n ON n.n_nationkey = m.nk
"""


@register(
    "recursive_trade_reach",
    oracle="""
    WITH RECURSIVE e AS (""" + _TRADE_EDGES_SQL + """),
    hops(nk, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.v, h.d + 1
      FROM hops h JOIN e ON e.u = h.nk
      WHERE h.d < 3
    )
    SELECT n.n_name, CAST(m.hops AS INT) AS hops
    FROM (SELECT nk, min(d) AS hops FROM hops GROUP BY nk) m
    JOIN nation n ON n.n_nationkey = m.nk
    """,
    tags=("sql", "graph"),
)
def recursive_trade_reach(spark, sf_dir):
    """WITH RECURSIVE (Spark 4.0+ surface): BFS hop distance from
    nation 0 across the supplier→customer trade network, capped at 3
    hops — min-hop reachability, the canonical recursive-CTE workload.

    Scale shape: the FACT tables are touched exactly once, to build the
    DISTINCT nation-pair edge list (dimension cardinality, ≤ 25×25
    rows); the recursion then iterates over that tiny broadcastable
    relation, so the fixpoint never re-scans facts — the pattern that
    keeps recursive queries viable at 100 TB. min(d) makes the result
    iteration-order independent; all integers."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_rv")
    edges_sql = (_TRADE_EDGES_SQL
                 .replace("lineitem l", "lineitem_rv l")
                 .replace("orders o", "orders_rv o")
                 .replace("customer c", "customer_rv c")
                 .replace("supplier s", "supplier_rv s"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW trade_edges_rv AS "
              + edges_sql)
    return spark.sql(_TRADE_BFS_SQL.format(edges="trade_edges_rv",
                                           nation="nation_rv"))


# --------------------------------------------------------------------------
# bitmap segment membership
# --------------------------------------------------------------------------

@register(
    "bitmap_user_segments",
    oracle="""
    SELECT event_type,
           bit_or(CAST(1 AS BIGINT) << CAST(user_id % 60 AS INT)) AS seg_bits,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                                 << CAST(user_id % 60 AS INT))) AS INT)
             AS n_segments
    FROM events GROUP BY event_type
    """,
    tags=("events", "sketch"),
)
def bitmap_user_segments(spark, sf_dir):
    """Bitmap segment membership: users bucket into 60 segments
    (``user_id mod 60``) and each event type aggregates one 64-bit
    membership bitmap — the fixed-width miniature of the roaring-bitmap
    audience index OLAP engines use for segment intersection/union
    without distinct-counting.

    bit_or is associative+commutative+idempotent ⇒ partial aggregation
    map-side, any merge order, bit-exact — the ideal distributed
    aggregate. Segment intersections downstream are single AND ops on
    the bigint. All integer; 60 (not 64) buckets keeps the sign bit
    clear."""
    e = table(spark, sf_dir, "events")
    # F.shiftleft only takes a literal shift count; the per-row shift
    # needs the SQL expression form
    bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 60) AS INT))")
    return (e.groupBy("event_type")
            .agg(F.bit_or(bit).alias("seg_bits"),
                 F.bit_count(F.bit_or(bit)).cast("int").alias("n_segments")))
