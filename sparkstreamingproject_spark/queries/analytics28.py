"""Round-8 additions, wave 1: referential-integrity audit (the DQ
check every warehouse load runs before trusting a star schema) and
temperature-scaled source mixing (the data-mixing step of an LLM
training pipeline — upweight rare domains, downweight dominant ones).

Float discipline: the integrity report is pure exact integers; the
mixture weights quantize sqrt(n) to integer ppm ONCE, sum exactly, and
the shares/expected counts are single terminal float ops on identical
integer inputs in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table


# ------------------------------------------- referential-orphan audit

# (child table, child key, parent table, parent key, rule label)
_FK_RULES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey",
     "l_orderkey->orders"),
    ("lineitem", "l_partkey", "part", "p_partkey", "l_partkey->part"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey",
     "l_suppkey->supplier"),
    ("orders", "o_custkey", "customer", "c_custkey",
     "o_custkey->customer"),
    ("events", "user_id", "customer", "c_custkey", "user_id->customer"),
]
# coverage rules: parents with no children (childless, not orphaned)
_COVERAGE_RULES = [
    ("customer", "c_custkey", "orders", "o_custkey", "no_orders"),
    ("part", "p_partkey", "lineitem", "l_partkey", "never_ordered"),
]


def _fk_oracle() -> str:
    parts = []
    for child, ck, parent, pk, rule in _FK_RULES:
        parts.append(f"""
    SELECT '{child}' AS relation, '{rule}' AS rule,
           (SELECT count(*) FROM {child}) AS n_rows,
           count(*) AS n_violations,
           count(DISTINCT c.{ck}) AS n_bad_keys
    FROM {child} c
    WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                      WHERE p.{pk} = c.{ck})""")
    for parent, pk, child, ck, rule in _COVERAGE_RULES:
        parts.append(f"""
    SELECT '{parent}' AS relation, '{rule}' AS rule,
           (SELECT count(*) FROM {parent}) AS n_rows,
           count(*) AS n_violations,
           count(DISTINCT p.{pk}) AS n_bad_keys
    FROM {parent} p
    WHERE NOT EXISTS (SELECT 1 FROM {child} c
                      WHERE c.{ck} = p.{pk})""")
    return " UNION ALL ".join(parts)


@register(
    "dq_referential_orphans",
    oracle=_fk_oracle(),
    tags=("dq", "join"),
)
def dq_referential_orphans(spark, sf_dir):
    """Referential-integrity audit of the star schema: for every FK
    edge, the child rows whose parent key does not exist (orphans),
    and for the two coverage rules, the parents with no children
    (inactive customers, never-ordered parts). One report row per
    rule: (relation, rule, n_rows, n_violations, n_bad_keys) — all
    exact integers.

    Scale shape: each rule is ONE left-anti join on its key — the
    join strategy is Catalyst's choice (broadcast for dim-sized
    parents, shuffle for fact-fact edges like lineitem->orders at
    100 TB), followed by a count/count-distinct aggregate whose
    partials are map-side combinable. The per-rule total is a
    1-row aggregate crossJoined (broadcast nested loop over one row)
    onto the violation counts; the seven report rows union at the
    end. No collect, no driver loop over data — the audit reads each
    fact table once per rule; on a lakehouse the five FK rules would
    share one lineitem scan via a multi-way rollup, kept separate
    here for rule-level clarity."""
    def rule_row(child_df, ck, parent_df, pk, relation, rule):
        k = child_df.select(F.col(ck).alias("k"))
        pkeys = parent_df.select(F.col(pk).alias("k")).distinct()
        orph = k.join(pkeys, "k", "left_anti")
        return (k.agg(F.count("*").alias("n_rows"))
                .crossJoin(orph.agg(
                    F.count("*").alias("n_violations"),
                    F.count_distinct("k").alias("n_bad_keys")))
                .select(F.lit(relation).alias("relation"),
                        F.lit(rule).alias("rule"),
                        "n_rows", "n_violations", "n_bad_keys"))

    dfs = {}

    def t(name):
        if name not in dfs:
            dfs[name] = table(spark, sf_dir, name)
        return dfs[name]

    rows = [rule_row(t(c), ck, t(p), pk, c, rule)
            for c, ck, p, pk, rule in _FK_RULES]
    rows += [rule_row(t(p), pk, t(c), ck, p, rule)
             for p, pk, c, ck, rule in _COVERAGE_RULES]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ------------------------------------------- temperature source mixing

_MIX_SAMPLE = 10_000


@register(
    "curation_mix_temperature",
    oracle=f"""
    WITH s AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    tot AS (SELECT sum(n_docs) AS n, sum(wq) AS wsum
            FROM (SELECT n_docs,
                         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                              AS BIGINT) AS wq FROM s)),
    w AS (SELECT source, n_docs,
                 CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                      AS BIGINT) AS wq FROM s)
    SELECT w.source, w.n_docs,
           round(CAST(w.n_docs AS DOUBLE) / tot.n, 6) AS raw_share,
           round(CAST(w.wq AS DOUBLE) / tot.wsum, 6) AS temp_share,
           CAST(round({_MIX_SAMPLE} * CAST(w.wq AS DOUBLE) / tot.wsum)
                AS BIGINT) AS expected_{_MIX_SAMPLE // 1000}k
    FROM w, tot
    """,
    tags=("llm", "curation"),
)
def curation_mix_temperature(spark, sf_dir):
    """Temperature-scaled domain mixture (the data-mixing knob of LLM
    pretraining — T5/GLaM-style alpha-weighted sampling): with
    alpha = 0.5, a source's sampling weight is proportional to
    sqrt(n_docs), flattening the natural distribution so dominant
    domains shrink and rare domains grow. Emits per source the raw
    share, the temperature share, and the expected document count in
    a 10k-doc sample.

    Determinism: sqrt runs on an exact integer count (IEEE-identical
    in both engines) and is quantized to integer ppm ONCE; the weight
    sum is exact integer addition (order-free under any partitioning);
    the shares are single terminal float divides on identical integer
    inputs. Scale: one groupBy(source) with map-side combine; the
    totals are a broadcast 1-row crossJoin — corpus-size work is one
    scan, mixture math is source-cardinality."""
    s = (table(spark, sf_dir, "documents")
         .groupBy("source").agg(F.count("*").alias("n_docs"))
         .withColumn("wq", F.round(F.sqrt(F.col("n_docs")
                                          .cast("double")) * 1e6)
                     .cast("long")))
    tot = s.agg(F.sum("n_docs").alias("n"), F.sum("wq").alias("wsum"))
    return (s.crossJoin(F.broadcast(tot))
            .select("source", "n_docs",
                    F.round(F.col("n_docs").cast("double") / F.col("n"),
                            6).alias("raw_share"),
                    F.round(F.col("wq").cast("double") / F.col("wsum"),
                            6).alias("temp_share"),
                    F.round(F.lit(_MIX_SAMPLE) * F.col("wq")
                            .cast("double") / F.col("wsum"))
                    .cast("long")
                    .alias(f"expected_{_MIX_SAMPLE // 1000}k")))


# ------------------------------------------- rescaled-range (Hurst)

_HURST_NS = (8, 16, 32)


def _hurst_oracle() -> str:
    xs = [float(__import__("math").log(n)) for n in _HURST_NS]
    xbar = sum(xs) / 3.0
    sxx = sum((x - xbar) ** 2 for x in xs)
    rs_cols = ", ".join(
        f"max(CASE WHEN n = {n} THEN avg_q END) AS rsq{n}"
        for n in _HURST_NS)
    y = {n: f"ln(CAST(rsq{n} AS DOUBLE) / 1000000.0)" for n in _HURST_NS}
    ybar = "(" + " + ".join(y.values()) + ") / 3.0"
    sxy = " + ".join(f"({x!r} - {xbar!r}) * ({y[n]} - ({ybar}))"
                     for x, n in zip(xs, _HURST_NS))
    per_n = " UNION ALL ".join(f"""
      SELECT o_orderpriority AS priority, {n} AS n, rn, x
      FROM series""" for n in _HURST_NS)
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2),
    series AS MATERIALIZED (
      SELECT o_orderpriority, x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY d) AS rn
      FROM daily),
    spread AS ({per_n}),
    chunked AS (
      SELECT priority, n, (rn - 1) // n AS chunk, rn, x,
             count(*) OVER (PARTITION BY priority, n,
                            (rn - 1) // n) AS csize
      FROM spread),
    full_chunks AS (SELECT * FROM chunked WHERE csize = n),
    stats AS (
      SELECT priority, n, chunk,
             sum(x) OVER w_all AS s,
             x
             , rn
      FROM full_chunks
      WINDOW w_all AS (PARTITION BY priority, n, chunk)),
    devs AS (
      SELECT priority, n, chunk, rn, n * x - s AS e
      FROM stats),
    cums AS (
      SELECT priority, n, chunk, e,
             sum(e) OVER (PARTITION BY priority, n, chunk
                          ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM devs),
    per_chunk AS (
      SELECT priority, n, chunk,
             max(c) - min(c) AS r_scaled,
             sum(e * e) AS ss
      FROM cums GROUP BY 1, 2, 3),
    rsq AS (
      SELECT priority, n,
             CAST(round(r_scaled * sqrt(CAST(n AS DOUBLE) / ss)
                        * 1000000) AS BIGINT) AS q
      FROM per_chunk WHERE ss > 0),
    avg_rs AS (
      SELECT priority, n,
             CAST(round(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT)
               AS avg_q
      FROM rsq GROUP BY 1, 2),
    piv AS (
      SELECT priority, {rs_cols} FROM avg_rs GROUP BY priority)
    SELECT priority,
           round(CAST(rsq8 AS DOUBLE) / 1000000.0, 6) AS rs8,
           round(CAST(rsq16 AS DOUBLE) / 1000000.0, 6) AS rs16,
           round(CAST(rsq32 AS DOUBLE) / 1000000.0, 6) AS rs32,
           round(({sxy}) / {sxx!r}, 6) AS hurst
    FROM piv
    """


@register(
    "ts_hurst_rs",
    oracle=_hurst_oracle(),
    tags=("timeseries", "stats"),
)
def ts_hurst_rs(spark, sf_dir):
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    order-count series per order priority — the classic
    long-range-dependence estimator (H>0.5 persistent, <0.5
    mean-reverting): at window sizes {8,16,32} split the series into
    full chunks, per chunk take R = range of cumulative deviations and
    S = population std, average R/S per size, and fit H as the
    log-log OLS slope over the three sizes.

    Exactness discipline: per-chunk deviations are scaled by n
    (n*x - sum → exact integers), so R and the squared-deviation sum
    SS are exact; R/S = R_scaled*sqrt(n/SS) is one float op on exact
    ints, quantized to integer ppm per chunk, and the per-size mean is
    an exact integer sum divided once — the same recipe as the KS/MWU
    family. The slope is a closed form over three identical doubles
    with constant x-values baked in at build time.

    Scale: dailies are a map-side-combinable groupBy; chunking/cumsums
    are ONE window partitioning (priority, n, chunk) over the
    date-indexed series — series-cardinality, not fact-cardinality; at
    100 TB the fact scan reduces to dailies first and everything after
    is tiny."""
    import math

    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderpriority").alias("priority"),
                       F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    series = daily.select(
        "priority", "x",
        F.row_number().over(
            Window.partitionBy("priority").orderBy("d")).alias("rn"))
    spread = None
    for n in _HURST_NS:
        part = series.select("priority", F.lit(n).alias("n"), "rn", "x")
        spread = part if spread is None else spread.unionByName(part)
    chunked = spread.withColumn(
        "chunk", ((F.col("rn") - 1) / F.col("n")).cast("long"))
    wc = Window.partitionBy("priority", "n", "chunk")
    full = (chunked.withColumn("csize", F.count("*").over(wc))
            .filter(F.col("csize") == F.col("n")))
    devs = full.withColumn("e", F.col("n") * F.col("x")
                           - F.sum("x").over(wc))
    cums = devs.withColumn(
        "c", F.sum("e").over(wc.orderBy("rn")
                             .rowsBetween(Window.unboundedPreceding, 0)))
    per_chunk = (cums.groupBy("priority", "n", "chunk")
                 .agg((F.max("c") - F.min("c")).alias("r_scaled"),
                      F.sum(F.col("e") * F.col("e")).alias("ss"))
                 .filter(F.col("ss") > 0))
    rsq = per_chunk.select(
        "priority", "n",
        F.round(F.col("r_scaled")
                * F.sqrt(F.col("n").cast("double") / F.col("ss"))
                * 1e6).cast("long").alias("q"))
    avg_rs = (rsq.groupBy("priority", "n")
              .agg(F.round(F.sum("q").cast("double") / F.count("*"))
                   .cast("long").alias("avg_q")))
    piv = (avg_rs.groupBy("priority")
           .agg(*[F.max(F.when(F.col("n") == n, F.col("avg_q")))
                  .alias(f"rsq{n}") for n in _HURST_NS]))
    xs = [math.log(n) for n in _HURST_NS]
    xbar = sum(xs) / 3.0
    sxx = sum((x - xbar) ** 2 for x in xs)
    ys = {n: F.log(F.col(f"rsq{n}").cast("double") / F.lit(1e6))
          for n in _HURST_NS}
    ybar = sum(ys.values()) / F.lit(3.0)
    sxy = sum((F.lit(x - xbar)) * (ys[n] - ybar)
              for x, n in zip(xs, _HURST_NS))
    return piv.select(
        "priority",
        *[F.round(F.col(f"rsq{n}").cast("double") / F.lit(1e6), 6)
          .alias(f"rs{n}") for n in _HURST_NS],
        F.round(sxy / F.lit(sxx), 6).alias("hurst"))


# --------------------------------------- fixed-size uniform sample

_BK_K = 200


@register(
    "sample_bottomk_uniform",
    oracle=f"""
    SELECT doc_id, source, n_chars, h
    FROM (SELECT doc_id, source, n_chars,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents)
    ORDER BY h, doc_id LIMIT {_BK_K}
    """,
    tags=("sample",),
)
def sample_bottomk_uniform(spark, sf_dir):
    """Fixed-SIZE uniform sample by bottom-k hash: keep the k=200 rows
    with the smallest md5(doc_id) — the mergeable, reproducible
    eval-set/holdout primitive. Unlike rate-based hash splits
    (``split_stratified_hash``: fixed FRACTION, size drifts with the
    corpus) or priority sampling (``sample_priority_topk``: weighted),
    bottom-k yields an exactly-k uniform sample whose union rule is
    trivial — bottom-k of a union is the bottom-k of the merged
    bottom-ks, so shards/micro-batches maintain it independently
    (identical algebra to the KMV sketch, reused for ROWS, not
    distinct counts).

    Scale: TakeOrdered heap per partition + k-row merge on the driver
    — no global sort, no shuffle of the corpus (the same plan shape
    `tests/test_plans.py::test_topn_uses_heap_not_global_sort` pins
    for top-n)."""
    d = table(spark, sf_dir, "documents")
    return (d.select("doc_id", "source", "n_chars",
                     F.md5(F.col("doc_id").cast("string")).alias("h"))
            .orderBy("h", "doc_id").limit(_BK_K))


# --------------------------------------- personalized PageRank (PPR)

_PPR_ROUNDS = 4
_PPR_SEEDS = 3
_PPR_SEED_Q = 1_000_000 // _PPR_SEEDS  # ppm mass per seed


def _ppr_oracle() -> str:
    parts = [f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    adj AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS MATERIALIZED (SELECT u, count(*) AS d FROM adj GROUP BY u),
    nodes AS MATERIALIZED (SELECT DISTINCT u FROM adj),
    seeds AS MATERIALIZED (SELECT u FROM nodes ORDER BY u LIMIT {_PPR_SEEDS}),
    r0 AS (SELECT n.u,
                  CAST(CASE WHEN s.u IS NOT NULL
                            THEN {_PPR_SEED_Q} ELSE 0 END AS BIGINT) AS q
           FROM nodes n LEFT JOIN seeds s ON s.u = n.u)"""]
    for t in range(1, _PPR_ROUNDS + 1):
        parts.append(f""",
    c{t} AS (
      SELECT a.v AS i, CAST(sum(r.q // d.d) AS BIGINT) AS m
      FROM adj a JOIN r{t - 1} r ON r.u = a.u
      JOIN deg d ON d.u = a.u
      GROUP BY a.v),
    r{t} AS MATERIALIZED (
      SELECT n.u,
             CAST((85 * coalesce(c.m, 0)
                   + 15 * (CASE WHEN s.u IS NOT NULL
                                THEN {_PPR_SEED_Q} ELSE 0 END)) // 100
                  AS BIGINT) AS q
      FROM nodes n LEFT JOIN c{t} c ON c.i = n.u
      LEFT JOIN seeds s ON s.u = n.u)""")
    parts.append(f"""
    SELECT u AS part, q AS rank_ppm,
           CAST(u IN (SELECT u FROM seeds) AS BOOLEAN) AS is_seed
    FROM r{_PPR_ROUNDS} WHERE q > 0
    ORDER BY q DESC, u LIMIT 20""")
    return "".join(parts)


@register(
    "graph_ppr_seeded",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative"),
)
def graph_ppr_seeded(spark, sf_dir):
    """Personalized PageRank from a 3-node seed set on the part
    co-purchase graph (the LPA edge relation: parts co-listed in >= 2
    orders) — the LOCAL graph-ranking primitive behind similar-items
    and related-entity retrieval, vs the registry's GLOBAL
    `graph_pagerank_transitions` (uniform teleport on the tiny
    event-type graph). Four damped rounds, teleport mass returned to
    the seeds only; top-20 by final rank.

    Exactness — integer-only iteration: ranks are ppm BIGINTs; each
    node's per-edge share is the FLOOR division q div deg (exact,
    order-free to sum under any partitioning — no per-edge float whose
    summation order could flip a rounding); the damping mix
    (85*contrib + 15*seed) div 100 is again integer floor. Mass decays
    slightly by flooring, which is fine for ranking and keeps every
    round bit-identical across engines.

    Scale: per round ONE keyed join of the edge relation to the rank
    vector + one aggregate by destination — the generic billion-edge
    PR shape; ranks/degrees are node-cardinality; rounds are lineage-
    cut with localCheckpoint."""
    e = (order_copairs(table(spark, sf_dir, "lineitem"), "l_partkey")
         .filter(F.col("w") >= 2).select("u", "v"))
    adj = (e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
           .localCheckpoint())
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    # degree-annotated adjacency, materialized ONCE (r15, guide §2.4):
    # the old loop joined `deg` (a fresh groupBy over the whole edge
    # relation) into every round — 4 redundant edge aggregations +
    # joins; deg(u) never changes, so it rides on the edge row.
    adjd = adj.join(deg, "u").localCheckpoint()
    nodes = adj.select("u").distinct()
    seeds = nodes.orderBy("u").limit(_PPR_SEEDS)
    # seed flags are consumed by every round's damping mix AND the
    # final projection — checkpoint them once (r15): lazily reused,
    # the nodes-distinct + sort-limit subtree re-executed per round.
    seed_flag = (nodes.join(
        seeds.withColumnRenamed("u", "su"),
        F.col("u") == F.col("su"), "left").select(
        "u", F.col("su").isNotNull().alias("is_seed"))
        .localCheckpoint())
    r = seed_flag.select(
        "u", F.when(F.col("is_seed"), F.lit(_PPR_SEED_Q)).otherwise(0)
        .cast("long").alias("q"))
    for _ in range(_PPR_ROUNDS):
        c = (adjd.join(r, "u")
             .select(F.col("v").alias("i"),
                     F.expr("q div d").alias("share"))
             .groupBy("i").agg(F.sum("share").cast("long").alias("m")))
        r = (seed_flag.join(c, F.col("u") == F.col("i"), "left")
             .select("u",
                     F.expr(f"CAST((85 * coalesce(m, 0) + 15 * "
                            f"(CASE WHEN is_seed THEN {_PPR_SEED_Q} "
                            f"ELSE 0 END)) div 100 AS BIGINT)")
                     .alias("q"))
             .localCheckpoint())
    return (r.join(seed_flag, "u")
            .filter(F.col("q") > 0)
            .select(F.col("u").alias("part"),
                    F.col("q").alias("rank_ppm"), "is_seed")
            .orderBy(F.desc("rank_ppm"), "part").limit(20))


# --------------------------------------- MATCH_RECOGNIZE-style V shape


@register(
    "ts_match_recognize_vshape",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    ctx AS (
      SELECT priority, d, cents,
             lag(cents, 2) OVER w AS m2, lag(cents, 1) OVER w AS m1,
             lead(cents, 1) OVER w AS p1, lead(cents, 2) OVER w AS p2
      FROM daily
      WINDOW w AS (PARTITION BY priority ORDER BY d)),
    v AS (
      SELECT priority, d FROM ctx
      WHERE m2 > m1 AND m1 > cents AND cents < p1 AND p1 < p2)
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           min(d) AS first_trough
    FROM v GROUP BY priority
    """,
    tags=("timeseries", "pattern"),
)
def ts_match_recognize_vshape(spark, sf_dir):
    """Sequential pattern matching (the MATCH_RECOGNIZE surface of
    Flink/Oracle/Trino, which Spark SQL lacks) expressed with window
    functions: find strict V-shapes — two days of strictly falling
    daily revenue followed by two strictly rising — per order
    priority; emit the occurrence count and the first trough date.
    The pattern DFA (DOWN{2} TROUGH UP{2}) compiles to lag/lead
    context columns + one predicate, the general recipe for
    fixed-length MATCH_RECOGNIZE patterns on a distributed engine.

    Exactness: revenue in integer cents (map-side-combinable daily
    rollup); comparisons are exact. Scale: the windows run over the
    day-grain aggregate (series-cardinality), never over raw orders —
    one shuffle to the daily rollup, one partition-local window."""
    from pyspark.sql import Window
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderpriority").alias("priority"),
                      F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")).cast("long").alias("cents")))
    w = Window.partitionBy("priority").orderBy("d")
    ctx = daily.select(
        "priority", "d", "cents",
        F.lag("cents", 2).over(w).alias("m2"),
        F.lag("cents", 1).over(w).alias("m1"),
        F.lead("cents", 1).over(w).alias("p1"),
        F.lead("cents", 2).over(w).alias("p2"))
    v = ctx.filter((F.col("m2") > F.col("m1"))
                   & (F.col("m1") > F.col("cents"))
                   & (F.col("cents") < F.col("p1"))
                   & (F.col("p1") < F.col("p2")))
    return (v.groupBy("priority")
            .agg(F.count("*").cast("long").alias("n_vshapes"),
                 F.min("d").alias("first_trough")))


# --------------------------------------- logistic regression (Newton)

_LOGIT_ROUNDS = 3

# the 3x3 symmetric Newton solve, shared verbatim by both engines:
# cofactors/determinant/updates are ONE double expression tree over the
# exact integer sums (identical text => identical IEEE results)
_COF = {
    "a00": "(h11 * h22 - h12 * h12)",
    "a01": "(h02 * h12 - h01 * h22)",
    "a02": "(h01 * h12 - h02 * h11)",
    "a11": "(h00 * h22 - h02 * h02)",
    "a12": "(h02 * h01 - h00 * h12)",
    "a22": "(h00 * h11 - h01 * h01)",
}
_DET = ("(h00 * (h11 * h22 - h12 * h12) "
        "- h01 * (h01 * h22 - h12 * h02) "
        "+ h02 * (h01 * h12 - h11 * h02))")
_STEP = {
    0: f"(({_COF['a00']} * g0 + {_COF['a01']} * g1 + {_COF['a02']} * g2)"
       f" / {_DET})",
    1: f"(({_COF['a01']} * g0 + {_COF['a11']} * g1 + {_COF['a12']} * g2)"
       f" / {_DET})",
    2: f"(({_COF['a02']} * g0 + {_COF['a12']} * g1 + {_COF['a22']} * g2)"
       f" / {_DET})",
}


def _logit_oracle() -> str:
    parts = ["""
    WITH pts AS MATERIALIZED (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2
      FROM lineitem),
    th0 AS (SELECT CAST(0 AS BIGINT) AS t0, CAST(0 AS BIGINT) AS t1,
                   CAST(0 AS BIGINT) AS t2)"""]
    for t in range(1, _LOGIT_ROUNDS + 1):
        parts.append(f""",
    p{t} AS (
      SELECT y, x1, x2,
             CAST(round(1000000.0 / (1.0 + exp(
               -(th.t0 + th.t1 * x1 + th.t2 * x2) / 1000000.0)))
               AS BIGINT) AS p
      FROM pts, th{t - 1} th),
    s{t} AS (
      SELECT
        CAST(sum(CAST(y * 1000000 - p AS DECIMAL(38,0))) AS DOUBLE) AS g0,
        CAST(sum(CAST(y * 1000000 - p AS DECIMAL(38,0)) * x1) AS DOUBLE) AS g1,
        CAST(sum(CAST(y * 1000000 - p AS DECIMAL(38,0)) * x2) AS DOUBLE) AS g2,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0))) AS DOUBLE) AS h00,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0)) * x1) AS DOUBLE) AS h01,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0)) * x2) AS DOUBLE) AS h02,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0)) * x1 * x1) AS DOUBLE) AS h11,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0)) * x1 * x2) AS DOUBLE) AS h12,
        CAST(sum(CAST(p * (1000000 - p) AS DECIMAL(38,0)) * x2 * x2) AS DOUBLE) AS h22
      FROM p{t}),
    th{t} AS (
      SELECT CAST(th.t0 + round(1e12 * {_STEP[0]}) AS BIGINT) AS t0,
             CAST(th.t1 + round(1e12 * {_STEP[1]}) AS BIGINT) AS t1,
             CAST(th.t2 + round(1e12 * {_STEP[2]}) AS BIGINT) AS t2
      FROM th{t - 1} th, s{t})""")
    n = _LOGIT_ROUNDS
    parts.append(f""",
    fit AS (
      SELECT y, CAST(round(1000000.0 / (1.0 + exp(
               -(th.t0 + th.t1 * x1 + th.t2 * x2) / 1000000.0)))
               AS BIGINT) AS p
      FROM pts, th{n} th)
    SELECT th.t0 AS theta0_ppm, th.t1 AS theta1_ppm, th.t2 AS theta2_ppm,
           (SELECT count(*) FROM pts) AS n_rows,
           (SELECT count(*) FROM fit
            WHERE (p >= 500000) = (y = 1)) AS n_correct
    FROM th{n} th""")
    return "".join(parts)


@register(
    "stat_logistic_newton",
    oracle=_logit_oracle(),
    tags=("stats", "iterative", "ml"),
)
def stat_logistic_newton(spark, sf_dir):
    """Logistic regression by Newton-Raphson (IRLS), hash-verified
    across engines — return-flag probability from quantity and
    discount over lineitem. The iterative-ML counterpart of
    `stat_ols_two_features` (closed-form) and the power-iteration
    family (linear algebra): three Newton rounds, each one corpus
    aggregate.

    Determinism recipe: per-row probabilities are quantized to ppm
    BIGINTs (the ONLY libm call, exp, runs on identical ppm-exact
    logits in both engines); gradient and Hessian entries are then
    EXACT DECIMAL(38,0) integer sums (w = p(1e6-p) peaks ~2.5e15 per
    row — past int64 at corpus row counts), so the accumulations are
    partition-order-free; the 3x3 Newton solve (adjugate / det) is one
    double expression tree shared verbatim with the oracle, applied
    once per round to identical integer inputs; the step re-quantizes
    theta to ppm. Final row: theta (ppm), row count, and exact
    training accuracy at the 0.5 threshold.

    Scale: each round is ONE map-side-combinable aggregate over the
    fact table (9 sums) + a broadcast 1-row theta join — no per-row
    state, no driver math beyond the 1-row solve; rounds are
    lineage-cut."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"))
    theta = spark.createDataFrame([(0, 0, 0)],
                                  "t0 long, t1 long, t2 long")

    def probs(th):
        z = (F.col("t0") + F.col("t1") * F.col("x1")
             + F.col("t2") * F.col("x2")).cast("double") / F.lit(1e6)
        return (pts.crossJoin(F.broadcast(th))
                .withColumn("p", F.round(F.lit(1e6)
                                         / (F.lit(1.0) + F.exp(-z)))
                            .cast("long")))

    dec = "decimal(38,0)"
    for _ in range(_LOGIT_ROUNDS):
        p = probs(theta)
        r = (F.col("y") * 1000000 - F.col("p")).cast(dec)
        w = (F.col("p") * (1000000 - F.col("p"))).cast(dec)
        s = p.agg(
            F.sum(r).cast("double").alias("g0"),
            F.sum(r * F.col("x1")).cast("double").alias("g1"),
            F.sum(r * F.col("x2")).cast("double").alias("g2"),
            F.sum(w).cast("double").alias("h00"),
            F.sum(w * F.col("x1")).cast("double").alias("h01"),
            F.sum(w * F.col("x2")).cast("double").alias("h02"),
            F.sum(w * F.col("x1") * F.col("x1")).cast("double")
            .alias("h11"),
            F.sum(w * F.col("x1") * F.col("x2")).cast("double")
            .alias("h12"),
            F.sum(w * F.col("x2") * F.col("x2")).cast("double")
            .alias("h22"))
        theta = (theta.crossJoin(F.broadcast(s))
                 .select(*[
                     F.expr(f"CAST(t{k} + round(1e12 * {_STEP[k]}) "
                            f"AS BIGINT)").alias(f"t{k}")
                     for k in range(3)])
                 .localCheckpoint())
    fit = probs(theta)
    acc = fit.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when((F.col("p") >= 500000) == (F.col("y") == 1), 1)
              .otherwise(0)).cast("long").alias("n_correct"))
    return (theta.crossJoin(F.broadcast(acc))
            .select(F.col("t0").alias("theta0_ppm"),
                    F.col("t1").alias("theta1_ppm"),
                    F.col("t2").alias("theta2_ppm"),
                    "n_rows", "n_correct"))


# --------------------------------------- top conversion paths


@register(
    "events_top_conversion_paths",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events),
    fp AS (
      SELECT user_id, us AS pus, event_id AS pid FROM (
        SELECT user_id, us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS rn
        FROM e WHERE event_type = 'purchase') WHERE rn = 1),
    pre AS (
      SELECT e.user_id, e.event_type, e.us, e.event_id
      FROM e JOIN fp ON fp.user_id = e.user_id
      WHERE e.us < fp.pus
         OR (e.us = fp.pus AND e.event_id <= fp.pid)),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '->' ORDER BY us, event_id) AS path
      FROM pre GROUP BY user_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 10
    """,
    tags=("events", "funnel"),
)
def events_top_conversion_paths(spark, sf_dir):
    """Top-10 full conversion paths: each purchasing user's exact
    event-type sequence from first activity through their FIRST
    purchase, counted across users — the product-analytics view
    (`what journeys convert?`) that complements the registry's
    aggregate funnels (`window_funnel_levels`) and Markov attribution
    (which see transitions, not whole journeys). The first purchase is
    the lexicographic minimum of (event time, event_id) — a unique
    composite, so the truncation point is total-order deterministic
    (compared column-wise; a packed us*1e10+id BIGINT would overflow
    int64 on epoch-microsecond timestamps).

    Scale: one groupBy(user) with an in-group sort of that user's
    events (bounded by per-user activity, not corpus size) building
    the path string; path counting is a map-side-combinable groupBy.
    Paths are high-cardinality — the top-10 is a heap TakeOrdered,
    never a global sort."""
    ev = table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("us"))
    fp = (e.filter(F.col("event_type") == "purchase")
          .groupBy("user_id")
          .agg(F.min(F.struct("us", "event_id")).alias("p"))
          .select("user_id", F.col("p.us").alias("pus"),
                  F.col("p.event_id").alias("pid")))
    pre = (e.join(fp, "user_id")
           .filter((F.col("us") < F.col("pus"))
                   | ((F.col("us") == F.col("pus"))
                      & (F.col("event_id") <= F.col("pid")))))
    paths = (pre.groupBy("user_id")
             .agg(F.concat_ws(
                 "->",
                 F.expr("transform(array_sort(collect_list("
                        "struct(us, event_id, event_type))), "
                        "x -> x.event_type)")).alias("path")))
    return (paths.groupBy("path")
            .agg(F.count("*").cast("long").alias("n_users"))
            .orderBy(F.desc("n_users"), "path").limit(10))


# --------------------------------------- primary-key uniqueness audit

# (table, key expression) — composite keys are struct-compared
_PK_RULES = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
]


def _pk_oracle() -> str:
    parts = []
    for t, k in _PK_RULES:
        parts.append(f"""
    SELECT '{t}' AS relation, '{k}' AS pk,
           (SELECT count(*) FROM {t}) AS n_rows,
           count(*) AS n_keys,
           CAST(coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_dup_keys,
           CAST(coalesce(max(c), 0) AS BIGINT) AS max_multiplicity
    FROM (SELECT {k}, count(*) AS c FROM {t} GROUP BY {k})""")
    parts.append("""
    SELECT 'lineitem' AS relation, 'l_orderkey,l_linenumber' AS pk,
           (SELECT count(*) FROM lineitem) AS n_rows,
           count(*) AS n_keys,
           CAST(coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_dup_keys,
           CAST(coalesce(max(c), 0) AS BIGINT) AS max_multiplicity
    FROM (SELECT l_orderkey, l_linenumber, count(*) AS c
          FROM lineitem GROUP BY 1, 2)""")
    return " UNION ALL ".join(parts)


@register(
    "dq_duplicate_key_report",
    oracle=_pk_oracle(),
    tags=("dq",),
)
def dq_duplicate_key_report(spark, sf_dir):
    """Primary-key uniqueness audit across every table — the second
    half of the load-time contract next to `dq_referential_orphans`
    (FKs point somewhere; PKs are unique): per declared key, total
    rows, distinct keys, duplicated keys, and the worst multiplicity.
    Composite keys (lineitem) group on the full tuple. All exact
    integers.

    Scale: each rule is one map-side-combinable groupBy on the key
    followed by a 3-value aggregate over key-cardinality rows; the
    per-table total crossJoins as a broadcast 1-row relation. At
    100 TB this is the cheapest possible shape for the check — the
    same shuffle a downstream join on that key would pay anyway."""
    def rule(df, key_cols, relation, label):
        per_key = (df.groupBy(*key_cols)
                   .agg(F.count("*").alias("c")))
        return (df.agg(F.count("*").alias("n_rows"))
                .crossJoin(per_key.agg(
                    F.count("*").alias("n_keys"),
                    F.coalesce(F.sum(F.when(F.col("c") > 1, 1)
                                     .otherwise(0)), F.lit(0))
                    .cast("long").alias("n_dup_keys"),
                    F.coalesce(F.max("c"), F.lit(0)).cast("long")
                    .alias("max_multiplicity")))
                .select(F.lit(relation).alias("relation"),
                        F.lit(label).alias("pk"),
                        "n_rows", "n_keys", "n_dup_keys",
                        "max_multiplicity"))

    rows = [rule(table(spark, sf_dir, t), [k], t, k)
            for t, k in _PK_RULES]
    rows.append(rule(table(spark, sf_dir, "lineitem"),
                     ["l_orderkey", "l_linenumber"],
                     "lineitem", "l_orderkey,l_linenumber"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------- t-closeness (privacy triad)

_TC_BUCKETS = 5  # ordered acctbal quintile buckets (sensitive attr)


@register(
    "privacy_t_closeness",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT n.n_name AS nation, cu.c_mktsegment AS segment,
             cu.c_acctbal AS bal, cu.c_custkey AS ck
      FROM customer cu JOIN nation n ON n.n_nationkey = cu.c_nationkey),
    binned AS MATERIALIZED (
      SELECT nation, segment,
             CAST(least((rk * {_TC_BUCKETS}) // cnt,
                        {_TC_BUCKETS - 1}) AS BIGINT) AS b
      FROM (SELECT nation, segment,
                   row_number() OVER (ORDER BY bal, ck) - 1 AS rk,
                   count(*) OVER () AS cnt
            FROM c)),
    cls AS (SELECT nation, segment, b, count(*) AS n
            FROM binned GROUP BY 1, 2, 3),
    cls_tot AS (SELECT nation, segment, CAST(sum(n) AS BIGINT) AS ct
                FROM cls GROUP BY 1, 2),
    gdist AS (SELECT b, CAST(count(*) AS BIGINT) AS gn FROM binned
              GROUP BY b),
    gtot AS (SELECT CAST(count(*) AS BIGINT) AS gt FROM binned),
    grid AS (
      SELECT t.nation, t.segment, g.b, t.ct, g.gn, gt.gt,
             coalesce(c2.n, 0) AS n
      FROM cls_tot t CROSS JOIN gdist g CROSS JOIN gtot gt
      LEFT JOIN cls c2 ON c2.nation = t.nation
                      AND c2.segment = t.segment AND c2.b = g.b),
    cums AS (
      SELECT nation, segment, b, ct, gt,
             sum(n) OVER w AS cn, sum(gn) OVER w AS cg
      FROM grid
      WINDOW w AS (PARTITION BY nation, segment ORDER BY b
                   ROWS UNBOUNDED PRECEDING)),
    emd AS (
      SELECT nation, segment, max(ct) AS class_size,
             round(sum(abs(CAST(cn AS DOUBLE) / ct
                           - CAST(cg AS DOUBLE) / gt))
                   / ({_TC_BUCKETS} - 1), 6) AS t_emd
      FROM cums WHERE b < {_TC_BUCKETS - 1} + 1
      GROUP BY 1, 2)
    SELECT nation, segment, CAST(class_size AS BIGINT) AS class_size,
           t_emd
    FROM emd
    """,
    tags=("privacy",),
)
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit — the third leg of the privacy triad beside
    `privacy_k_anonymity` and `privacy_l_diversity`: for each
    quasi-identifier class (nation × market segment), the Earth
    Mover's Distance between the class's distribution of the ORDERED
    sensitive attribute (account-balance quintile) and the global
    distribution — for ordered buckets EMD is the mean absolute
    cumulative-share gap. Classes with large t leak the sensitive
    attribute even when k-anonymous and l-diverse.

    Exactness: quintile bucketing is INTEGER floor division
    (rk*5 div cnt — a CAST(double AS BIGINT) would round-to-nearest in
    DuckDB but truncate in Spark); the rank runs over the UNIQUE
    (balance, custkey) order, so
    tied balances at a quintile boundary bucket identically in both
    engines — a value-keyed join-back would fan boundary ties into two
    buckets); all counts
    exact; the cumulative shares are single divides of exact ints
    inside one shared expression, rounded at 6dp. Scale: one rank pass
    over the sensitive column (at 100 TB: replace with fixed value
    breakpoints or the registry's histogram sketch), then
    class-cardinality aggregates on a quasi-identifier grid built by
    two broadcast-sized cross joins."""
    from pyspark.sql import Window
    cu = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    c = (cu.join(F.broadcast(n),
                 cu.c_nationkey == n.n_nationkey)
         .select(F.col("n_name").alias("nation"),
                 F.col("c_mktsegment").alias("segment"),
                 F.col("c_acctbal").alias("bal"),
                 F.col("c_custkey").alias("ck")))
    w_rank = Window.orderBy("bal", "ck")
    binned = (c.withColumn("rk", F.row_number().over(w_rank) - 1)
              .withColumn("cnt", F.count("*").over(Window.partitionBy()))
              .select("nation", "segment",
                      F.least(F.expr(f"(rk * {_TC_BUCKETS}) div cnt"),
                              F.lit(_TC_BUCKETS - 1).cast("long"))
                      .cast("long").alias("b")))
    cls = (binned.groupBy("nation", "segment", "b")
           .agg(F.count("*").alias("n")))
    cls_tot = (cls.groupBy("nation", "segment")
               .agg(F.sum("n").cast("long").alias("ct")))
    glob = binned.groupBy("b").agg(F.count("*").cast("long").alias("gn"))
    gtot = binned.agg(F.count("*").cast("long").alias("gt"))
    grid = (cls_tot.crossJoin(F.broadcast(glob))
            .crossJoin(F.broadcast(gtot))
            .join(cls, ["nation", "segment", "b"], "left")
            .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
    wc = (Window.partitionBy("nation", "segment").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0))
    cums = grid.select(
        "nation", "segment", "b", "ct", "gt",
        F.sum("n").over(wc).alias("cn"),
        F.sum("gn").over(wc).alias("cg"))
    return (cums.groupBy("nation", "segment")
            .agg(F.max("ct").cast("long").alias("class_size"),
                 F.round(F.sum(F.abs(F.col("cn").cast("double")
                                     / F.col("ct")
                                     - F.col("cg").cast("double")
                                     / F.col("gt")))
                         / F.lit(_TC_BUCKETS - 1), 6).alias("t_emd")))


# --------------------------------------- DAU/WAU stickiness


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH e AS (
      SELECT DATE '1970-01-01'
               + CAST(epoch_us(ts) // 86400000000 AS INT) AS d,
             CAST(date_trunc('week', DATE '1970-01-01'
               + CAST(epoch_us(ts) // 86400000000 AS INT)) AS DATE) AS wk,
             user_id
      FROM events),
    dau AS (SELECT wk, d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM e GROUP BY 1, 2),
    wau AS (SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM e GROUP BY 1),
    wk_dau AS (SELECT wk, CAST(sum(dau) AS BIGINT) AS dau_sum,
                      CAST(count(*) AS BIGINT) AS n_days
               FROM dau GROUP BY wk)
    SELECT w.wk AS week_start, d.dau_sum, d.n_days, w.wau,
           round(CAST(d.dau_sum AS DOUBLE) / d.n_days / w.wau, 6)
             AS stickiness
    FROM wau w JOIN wk_dau d ON d.wk = w.wk
    """,
    tags=("events", "engagement"),
)
def events_dau_wau_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per ISO week — the engagement ratio product
    teams track (mean daily actives over weekly actives; 1/7 means
    every user shows up once, 1.0 means everyone is daily): exact
    distinct counts per day and per week, mean DAU as an exact
    integer sum over the days present, one terminal divide.

    Scale: two distinct-count aggregates keyed by (week[, day]) —
    both map-side partial with Spark's distinct-aggregate expansion;
    at 100 TB the same report swaps exact distincts for the
    registry's HLL sketches (`sketch_hll_distinct` family) with the
    ratio algebra unchanged. The week join is week-cardinality.

    Timezone discipline: the day is the UTC epoch day
    (``unix_micros div 86400e6``), NOT ``ts.cast("date")`` — Spark's
    timestamp→date cast goes through the session timezone, which
    shifts events near midnight on a non-UTC machine while DuckDB
    reads the stored naive value as UTC (caught at sf0.01 under
    TZ=America/New_York, round 9)."""
    e = (table(spark, sf_dir, "events")
         .select(F.date_add(
                     F.lit("1970-01-01").cast("date"),
                     (F.unix_micros("ts") / 86_400_000_000)
                     .cast("int")).alias("d"),
                 "user_id")
         .withColumn("wk", F.date_trunc("week", F.col("d"))
                     .cast("date")))
    dau = (e.groupBy("wk", "d")
           .agg(F.count_distinct("user_id").cast("long").alias("dau")))
    wau = (e.groupBy("wk")
           .agg(F.count_distinct("user_id").cast("long").alias("wau")))
    wk_dau = (dau.groupBy("wk")
              .agg(F.sum("dau").cast("long").alias("dau_sum"),
                   F.count("*").cast("long").alias("n_days")))
    return (wau.join(wk_dau, "wk")
            .select(F.col("wk").alias("week_start"), "dau_sum",
                    "n_days", "wau",
                    F.round(F.col("dau_sum").cast("double")
                            / F.col("n_days") / F.col("wau"), 6)
                    .alias("stickiness")))


# --------------------------------------- SAX symbolization

_SAX_DAYS = 32
_SAX_SEGS = 8
_SAX_ALPH = 3  # symbols a/b/c by global terciles


@register(
    "ts_sax_symbolize",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    first_days AS (
      SELECT priority, cents,
             row_number() OVER (PARTITION BY priority ORDER BY d) - 1
               AS rn
      FROM daily
      QUALIFY rn < {_SAX_DAYS}),
    paa AS (
      SELECT priority, rn // {_SAX_DAYS // _SAX_SEGS} AS seg,
             CAST(sum(cents) AS BIGINT) AS s
      FROM first_days GROUP BY 1, 2),
    sym AS (
      SELECT priority, seg,
             ntile({_SAX_ALPH}) OVER (ORDER BY s, priority, seg) AS t
      FROM paa)
    SELECT priority,
           string_agg(chr(CAST(96 + t AS INT)), '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY priority
    """,
    tags=("timeseries", "pattern"),
)
def ts_sax_symbolize(spark, sf_dir):
    """SAX symbolization (Lin/Keogh) of the first 32 days of
    daily revenue per priority: PAA-compress into 8 segments
    (exact integer cent sums over 4-day windows) and map each segment
    to a 3-letter alphabet by GLOBAL rank terciles (ntile
    over the unique (sum, priority, seg) order — the rank-based
    breakpoint variant; classic SAX z-normalizes first, which would
    put a float sqrt inside the discretization). The 8-char word per
    priority is the index key motif search / anomaly lookup engines
    store instead of raw series.

    Exactness: PAA sums exact integers; ntile over a total order is
    deterministic in both engines (first n%k buckets take the extra
    row — the SQL-standard split); the word is an ordered string_agg.
    Scale: day-grain rollup then segment-cardinality everything."""
    from pyspark.sql import Window
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderpriority").alias("priority"),
                      F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")).cast("long").alias("cents")))
    w = Window.partitionBy("priority").orderBy("d")
    first_days = (daily.withColumn("rn", F.row_number().over(w) - 1)
                  .filter(F.col("rn") < _SAX_DAYS))
    paa = (first_days
           .groupBy("priority",
                    F.expr(f"rn div {_SAX_DAYS // _SAX_SEGS}")
                    .alias("seg"))
           .agg(F.sum("cents").cast("long").alias("s")))
    sym = paa.withColumn(
        "t", F.ntile(_SAX_ALPH).over(Window.orderBy("s", "priority",
                                                    "seg")))
    return (sym.groupBy("priority")
            .agg(F.concat_ws("", F.expr(
                "transform(array_sort(collect_list(struct(seg, t))), "
                "x -> chr(96 + x.t))")).alias("sax_word")))


# --------------------------------------- Redis SCAN MATCH + INCRBY

_SCAN_PAGE = 25


@register(
    "kv_scan_match_cursor",
    oracle=f"""
    WITH m AS (
      SELECT c_name AS key, c_custkey, c_acctbal
      FROM customer WHERE c_name LIKE '%42%'),
    pg AS (
      SELECT key, c_custkey, c_acctbal,
             row_number() OVER (ORDER BY key) - 1 AS rn
      FROM m)
    SELECT CAST(rn // {_SCAN_PAGE} AS BIGINT) AS cursor_page, key,
           c_custkey, c_acctbal
    FROM pg WHERE rn < 2 * {_SCAN_PAGE}
    """,
    tags=("kv",),
)
def kv_scan_match_cursor(spark, sf_dir):
    """Redis SCAN-with-MATCH semantics (the one Jedis surface the G
    family didn't cover: ``Jedis_Pool.java`` exposes the pool; SCAN
    iterates keyspace pages matching a glob): keys matching the glob
    `*42*` over the customer keyspace, returned as deterministic
    cursor pages of 25 (first two pages). Redis cursors are
    unordered server-state; the engine form is the ordered-key
    row-number page — same contract (stable resumable iteration, no
    key skipped or repeated), strictly stronger ordering.

    Scale: the glob compiles to a LIKE predicate (pushed to the scan
    as a filter); pagination is a window over the MATCHED set only.
    For key-sorted/bucketed layouts the page is a range scan — no
    window at all."""
    from pyspark.sql import Window
    c = table(spark, sf_dir, "customer")
    m = (c.filter(F.col("c_name").like("%42%"))
         .select(F.col("c_name").alias("key"), "c_custkey", "c_acctbal"))
    pg = m.withColumn("rn", F.row_number().over(Window.orderBy("key")) - 1)
    return (pg.filter(F.col("rn") < 2 * _SCAN_PAGE)
            .select(F.expr(f"CAST(rn div {_SCAN_PAGE} AS BIGINT)")
                    .alias("cursor_page"),
                    "key", "c_custkey", "c_acctbal"))


@register(
    "kv_incrby_counter_fold",
    oracle="""
    WITH ops AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  WHEN event_type = 'refund'
                  THEN -CAST(round(value * 100) AS BIGINT)
                  ELSE 1 END AS delta
      FROM events),
    c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_ops,
             CAST(sum(delta) AS BIGINT) AS counter
      FROM ops GROUP BY user_id)
    SELECT user_id, n_ops, counter
    FROM c ORDER BY counter DESC, user_id LIMIT 25
    """,
    tags=("kv", "events"),
)
def kv_incrby_counter_fold(spark, sf_dir):
    """Redis INCR/INCRBY/DECRBY counter semantics as a fold over the
    event log (the reference's DwsTrafficApp keeps exactly such
    per-key counters in Redis): +value-cents per purchase,
    -value-cents per refund, +1 (INCR) for every other op; the
    counter's final value is the exact integer sum of deltas — the
    commutative property that makes Redis counters replayable from a
    log. Top-25 counters with op counts.

    Scale: one map-side-combinable groupBy(user) over the log; the
    top-25 is heap TakeOrdered. The streaming form is the additive
    rollup fold (`streaming/rollup_maintain.py`) keyed by user —
    identical merge algebra."""
    ev = table(spark, sf_dir, "events")
    delta = (F.when(F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"))
             .when(F.col("event_type") == "refund",
                   -F.round(F.col("value") * 100).cast("long"))
             .otherwise(F.lit(1).cast("long")))
    c = (ev.select("user_id", delta.alias("delta"))
         .groupBy("user_id")
         .agg(F.count("*").cast("long").alias("n_ops"),
              F.sum("delta").cast("long").alias("counter")))
    return c.orderBy(F.desc("counter"), "user_id").limit(25)


# --------------------------------------- regexp function surface


@register(
    "regexp_functions_surface",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)ing\b', 1) AS first_ing_stem,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g'))
                AS BIGINT) AS consonant_len,
           CAST(len(regexp_extract_all(text, '\b[a-z]{7,}\b'))
                AS BIGINT) AS n_long_words,
           regexp_matches(text, 'data|model') AS mentions_topic
    FROM documents
    """,
    tags=("functions", "text"),
)
def regexp_functions_surface(spark, sf_dir):
    """The regexp column-function surface (H-family sibling of
    `scalar_functions` / `date_functions` / `map_functions_surface`):
    group extraction (first '-ing' stem), global replacement length
    (consonant count), match enumeration (count of 7+-letter words),
    and boolean match — the four regexp shapes ETL actually uses,
    verified to agree across engines' regex dialects on word-boundary
    and class syntax.

    Scale: all four are per-row JVM expressions inside whole-stage
    codegen — map-only, no shuffle; regex compiles once per task."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)ing\b", 1)
        .alias("first_ing_stem"),
        F.length(F.regexp_replace("text", "[aeiou]", ""))
        .cast("long").alias("consonant_len"),
        F.size(F.expr(r"regexp_extract_all(text, '\\b[a-z]{7,}\\b', 0)"))
        .cast("long").alias("n_long_words"),
        F.col("text").rlike("data|model").alias("mentions_topic"))


# --------------------------------------- deterministic per-group mode


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS priority,
             count(*) AS cnt
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1, 2)
    SELECT nation, priority AS modal_priority, CAST(cnt AS BIGINT)
             AS n_orders
    FROM (SELECT nation, priority, cnt,
                 row_number() OVER (PARTITION BY nation
                                    ORDER BY cnt DESC, priority) AS rn
          FROM c)
    WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_mode_deterministic(spark, sf_dir):
    """Per-group modal value with a DETERMINISTIC tie-break — the
    portable form of SQL `mode()` (both engines ship one, but neither
    defines which of several equally-frequent values wins; at 100 TB a
    nondeterministic mode flips between runs and breaks downstream
    diffs): most frequent order priority per nation, ties to the
    lexicographically smallest priority.

    Scale: one count aggregate on (group, value) — map-side
    combinable, cardinality bounded by the value domain per group —
    then a per-group rank over value-cardinality rows. Never a
    collect_list of raw rows."""
    from pyspark.sql import Window
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    c = (o.join(cu, o.o_custkey == cu.c_custkey)
         .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
         .groupBy(F.col("n_name").alias("nation"),
                  F.col("o_orderpriority").alias("priority"))
         .agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("nation").orderBy(F.desc("cnt"), "priority")
    return (c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("nation", F.col("priority").alias("modal_priority"),
                    F.col("cnt").cast("long").alias("n_orders")))


# --------------------------------------- Wilson lower-bound ranking

_WILSON_Z2 = "3.8415"  # z^2 for 95% (1.96^2), shared literal


@register(
    "stat_wilson_lower_bound",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY l_suppkey),
    w AS (
      SELECT l_suppkey, n, k,
             round((CAST(k AS DOUBLE) / n + {_WILSON_Z2} / (2 * n)
                    - sqrt({_WILSON_Z2}) * sqrt(
                        (CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                   / (1.0 + {_WILSON_Z2} / n), 6) AS wilson_lb
      FROM s WHERE n >= 20)
    SELECT l_suppkey, n, k, wilson_lb
    FROM w ORDER BY wilson_lb DESC, l_suppkey LIMIT 20
    """,
    tags=("stats", "ranking"),
)
def stat_wilson_lower_bound(spark, sf_dir):
    """Wilson-score lower confidence bound ranking — the
    sort-by-rating op that fixes naive proportion ranking (a 2/2
    supplier must NOT outrank a 95/100 one): per supplier, the 95%
    lower bound of the return-rate proportion, shipment floor n>=20,
    top-20 by bound. The formula every comment-ranking and
    seller-score system ships.

    Determinism: n and k are exact integers; the bound is ONE float
    expression tree shared verbatim with the oracle (z^2 baked as the
    same literal), rounded at 6dp before the ordering so the rank is
    tie-broken on integers. Scale: one map-side-combinable
    groupBy(supplier) then a heap top-20."""
    li = table(spark, sf_dir, "lineitem")
    s = (li.groupBy("l_suppkey")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("l_returnflag") == "R", 1)
                    .otherwise(0)).cast("long").alias("k"))
         .filter(F.col("n") >= 20))
    z2 = float(_WILSON_Z2)
    p = F.col("k").cast("double") / F.col("n")
    lb = F.round(
        (p + F.lit(z2) / (2 * F.col("n"))
         - F.sqrt(F.lit(z2)) * F.sqrt(
             p * (F.lit(1.0) - p) / F.col("n")
             + F.lit(z2) / (4.0 * F.col("n") * F.col("n"))))
        / (F.lit(1.0) + F.lit(z2) / F.col("n")), 6)
    return (s.select("l_suppkey", "n", "k", lb.alias("wilson_lb"))
            .orderBy(F.desc("wilson_lb"), "l_suppkey").limit(20))


# --------------------------------------- Gini concentration


@register(
    "stat_gini_revenue_concentration",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             count(*) OVER () AS n
      FROM c),
    g AS (
      SELECT max(n) AS n,
             CAST(sum(CAST(i AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS iws,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s AS BIGINT) AS total_cents,
           round(2.0 * CAST(iws AS DOUBLE)
                 / (n * CAST(s AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM g
    """,
    tags=("stats",),
)
def stat_gini_revenue_concentration(spark, sf_dir):
    """Gini coefficient of customer revenue — the classic inequality/
    concentration measure beside the registry's HHI
    (`supplier_part_hhi`) and ABC (`part_abc_classification`) views:
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over customers sorted ascending by
    spend. A training-data analogue reads source concentration the
    same way.

    Exactness: spend is integer cents; the rank runs over the unique
    (cents, custkey) order; Σ(i·x) and Σx accumulate as DECIMAL(38,0)
    (i·x peaks ~1e5·1e9 = 1e14 per row — safe, but the SUM crosses
    int64 at fact scale); the single float expression is shared
    verbatim. Scale: one groupBy(customer), one rank over
    customer-cardinality rows, one 3-value aggregate."""
    from pyspark.sql import Window
    o = table(spark, sf_dir, "orders")
    c = (o.groupBy("o_custkey")
         .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .cast("long").alias("cents")))
    r = (c.withColumn("i", F.row_number().over(
            Window.orderBy("cents", "o_custkey")))
         .withColumn("n", F.count("*").over(Window.partitionBy())))
    dec = "decimal(38,0)"
    g = r.agg(
        F.max("n").alias("n"),
        F.sum(F.col("i").cast(dec) * F.col("cents")).cast(dec)
        .alias("iws"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("s"))
    return g.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        F.round(F.lit(2.0) * F.col("iws").cast("double")
                / (F.col("n") * F.col("s").cast("double"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"), 6)
        .alias("gini"))


# --------------------------------------- PACF (Durbin-Levinson)

# acf_k as ONE shared exact-to-float expression (the certified
# ts_autocorrelation_lags algebra, 6dp-rounded before the recursion so
# both engines recurse on identical doubles)
def _acf_expr_sql(k: int) -> str:
    return (f"round(CAST(CAST(n AS DECIMAL(38,0)) * n * p{k}"
            f" - CAST(n AS DECIMAL(38,0)) * s * (a{k} + b{k})"
            f" + CAST(n - {k} AS DECIMAL(38,0)) * s * s AS DOUBLE)"
            f" / CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))"
            f" * q - CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE), 6)")


def _pacf_oracle() -> str:
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
      SELECT {_acf_expr_sql(1)} AS r1, {_acf_expr_sql(2)} AS r2,
             {_acf_expr_sql(3)} AS r3
      FROM g),
    dl AS (
      SELECT r1, r2, r3,
             r1 AS f11,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS f22
      FROM acf),
    dl2 AS (
      SELECT r1, r2, r3, f11, f22,
             f11 - f22 * f11 AS f21
      FROM dl)
    SELECT round(f11, 6) AS pacf1,
           round(f22, 6) AS pacf2,
           round((r3 - f21 * r2 - f22 * r1)
                 / (1.0 - f21 * r1 - f22 * r2), 6) AS pacf3
    FROM dl2
    """


@register(
    "ts_pacf_durbin",
    oracle=_pacf_oracle(),
    tags=("timeseries", "stat"),
)
def ts_pacf_durbin(spark, sf_dir):
    """Partial autocorrelation of the daily order-count series at lags
    1-3 by the Durbin-Levinson recursion — the other half of the
    Box-Jenkins diagnostic pair (`ts_autocorrelation_lags` is the
    ACF): ACF tails off / PACF cuts at p identifies an AR(p) series.

    Exactness: the three ACF inputs come from the CERTIFIED exact
    DECIMAL(38,0) algebra of the ACF query and are rounded to 6dp
    BEFORE the recursion, so both engines recurse on identical
    doubles; the recursion itself is one shared expression tree
    (phi11 = r1; phi22 = (r2-r1^2)/(1-r1^2); phi21 = phi11(1-phi22);
    phi33 = (r3 - phi21 r2 - phi22 r1)/(1 - phi21 r1 - phi22 r2)).
    Scale: identical to the ACF — lead() windows over the day-grain
    aggregate, one 3-lag moment pass; the recursion is scalar."""
    from pyspark.sql import Window
    daily = (table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").alias("d"))
             .agg(F.count("*").cast("long").alias("x")))
    w = Window.orderBy("d")
    l = daily.select(
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
    g = l.agg(*aggs)
    # Chained selectExpr (no named temp view — session-global names
    # clobber under concurrent harnesses, ADVICE r08); each stage is
    # one CTE of the oracle.
    acf = g.selectExpr(f"{_acf_expr_sql(1)} AS r1",
                       f"{_acf_expr_sql(2)} AS r2",
                       f"{_acf_expr_sql(3)} AS r3")
    dl = acf.selectExpr("r1", "r2", "r3", "r1 AS f11",
                        "(r2 - r1 * r1) / (1.0 - r1 * r1) AS f22")
    dl2 = dl.selectExpr("r1", "r2", "r3", "f11", "f22",
                        "f11 - f22 * f11 AS f21")
    return dl2.selectExpr(
        "round(f11, 6) AS pacf1",
        "round(f22, 6) AS pacf2",
        "round((r3 - f21 * r2 - f22 * r1)"
        " / (1.0 - f21 * r1 - f22 * r2), 6) AS pacf3")
