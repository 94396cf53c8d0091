"""Round-4 continuation, wave 27: chi-square keyness (distinctive
vocabulary per source), embedding drift via per-label centroid shift,
and tolerance-bounded as-of join.

Float discipline: keyness chi-square is a fixed-arity expression over
four exact integer cells per word; centroid shift uses exact integer
element sums with one terminal scaled distance; the as-of tolerance is
an exact integer microsecond comparison.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.similarity import _int_vec
from .base import register, table

_KEY_TOP = 5


@register(
    "text_chi2_keyness",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents),
    wc AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS a
      FROM w WHERE word <> '' GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(a) AS BIGINT) AS src_total
           FROM wc GROUP BY source),
    gt AS (SELECT word, CAST(sum(a) AS BIGINT) AS word_total FROM wc
           GROUP BY word),
    n AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM wc),
    cells AS (
      SELECT wc.source, wc.word, wc.a,
             gt.word_total - wc.a AS b,
             st.src_total - wc.a AS c,
             n.nn - gt.word_total - st.src_total + wc.a AS d,
             n.nn
      FROM wc JOIN st USING (source) JOIN gt USING (word) CROSS JOIN n),
    scored AS (
      SELECT source, word,
             round(CAST(nn AS DOUBLE)
                   * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                   * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                   / ((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d)
                      * (CAST(a AS DOUBLE) + c)
                      * (CAST(b AS DOUBLE) + d)), 4) AS chi2,
             CAST(a AS DOUBLE) * (nn - src_total)
               - CAST(b AS DOUBLE) * src_total AS lift_sign
      FROM (SELECT source, word, a, b, c, d, nn,
                   c + a AS src_total FROM cells)),
    ranked AS (
      SELECT source, word, chi2,
             row_number() OVER (PARTITION BY source
                                ORDER BY chi2 DESC, word) AS rnk
      FROM scored WHERE lift_sign > 0)
    SELECT source, word, chi2, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_KEY_TOP}
    """,
    tags=("llm", "text", "stat"),
)
def text_chi2_keyness(spark, sf_dir):
    """Keyness analysis: the top-5 words most DISTINCTIVE of each
    source by 2x2 chi-square against the rest of the corpus (the
    corpus-linguistics tool behind 'what makes this domain's text
    different' — `text_tfidf_top_terms` ranks within a document, this
    ranks across sources; the log-likelihood variant needs ln, the
    chi-square form stays libm-free). Cells a/b/c/d are exact integer
    counts from one word-count aggregate + two marginals; chi-square
    is one fixed-arity float per word, over-represented words only
    (positive lift), ties broken by word. Scale: everything is keyed
    on (source, word) / word / source — marginals broadcast."""
    docs = table(spark, sf_dir, "documents")
    wc = (docs.select("source", F.explode(F.split("text", " ")).alias("word"))
          .filter(F.col("word") != "")
          .groupBy("source", "word").agg(F.count("*").cast("long")
                                         .alias("a")))
    st = wc.groupBy("source").agg(F.sum("a").cast("long").alias("src_total"))
    gt = wc.groupBy("word").agg(F.sum("a").cast("long").alias("word_total"))
    n = wc.agg(F.sum("a").cast("long").alias("nn"))
    cells = (wc.join(F.broadcast(st), "source").join(gt, "word")
             .crossJoin(F.broadcast(n))
             .select("source", "word", "a", "src_total", "nn",
                     (F.col("word_total") - F.col("a")).alias("b"),
                     (F.col("src_total") - F.col("a")).alias("c"),
                     (F.col("nn") - F.col("word_total")
                      - F.col("src_total") + F.col("a")).alias("d")))
    ad_bc = (F.col("a").cast("double") * F.col("d")
             - F.col("b").cast("double") * F.col("c"))
    chi2 = (F.col("nn").cast("double") * ad_bc * ad_bc
            / ((F.col("a").cast("double") + F.col("b"))
               * (F.col("c").cast("double") + F.col("d"))
               * (F.col("a").cast("double") + F.col("c"))
               * (F.col("b").cast("double") + F.col("d"))))
    lift = (F.col("a").cast("double") * (F.col("nn") - F.col("src_total"))
            - F.col("b").cast("double") * F.col("src_total"))
    scored = cells.select("source", "word",
                          F.round(chi2, 4).alias("chi2"),
                          lift.alias("lift_sign"))
    w = Window.partitionBy("source").orderBy(F.col("chi2").desc(), "word")
    return (scored.filter(F.col("lift_sign") > 0)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _KEY_TOP)
            .select("source", "word", "chi2",
                    F.col("rnk").cast("int").alias("rnk")))


@register(
    "embedding_drift_centroid_shift",
    oracle="""
    WITH pts AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN vec_id * 2 < (SELECT max(vec_id) + 1
                                     FROM embeddings)
                  THEN 0 ELSE 1 END AS half
      FROM embeddings),
    el AS (SELECT label, half, CAST(i AS INT) AS pos,
                  CAST(round(v[i] * 1000000) AS BIGINT) AS x
           FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    cent AS (
      SELECT label, half, pos,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM el GROUP BY 1, 2, 3),
    d AS (
      SELECT a.label, a.pos,
             CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n
               AS diff,
             a.n AS n0, b.n AS n1
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1)
    SELECT label,
           CAST(min(n0) AS BIGINT) AS n_first,
           CAST(min(n1) AS BIGINT) AS n_second,
           round(sum(diff * diff) / 1e12, 6) AS centroid_shift_sq
    FROM d GROUP BY label
    """,
    tags=("llm", "embedding", "drift"),
)
def embedding_drift_centroid_shift(spark, sf_dir):
    """Embedding drift monitor: per-label squared centroid shift
    between the first and second half of the corpus (by vec_id — the
    ingestion-order proxy for 'yesterday vs today'). The feature-store
    check that catches an upstream encoder change before it poisons an
    index (`embedding_norm_stats` watches magnitudes; this watches
    directions). Element sums are exact DECIMAL(38,0) integers per
    (label, half, dim); the per-dim mean difference and the final
    64-term shift are float expressions with identical shape in both
    engines — but NOTE the d-bounded relation they run over: after
    one scan, state is labels x 2 x 64 rows, corpus-independent."""
    emb = table(spark, sf_dir, "embeddings")
    mx = emb.agg((F.max("vec_id") + 1).alias("m"))
    pts = (emb.crossJoin(F.broadcast(mx))
           .select("label",
                   F.when(F.col("vec_id") * 2 < F.col("m"), 0)
                   .otherwise(1).alias("half"),
                   F.posexplode(_int_vec("embedding"))
                   .alias("pos0", "x")))
    el = pts.select("label", "half", (F.col("pos0") + 1).alias("pos"), "x")
    cent = (el.groupBy("label", "half", "pos")
            .agg(F.sum(F.col("x").cast("decimal(38,0)"))
                 .cast("decimal(38,0)").alias("s"),
                 F.count("*").cast("long").alias("n")))
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("s0"), F.col("n").alias("n0"))
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("s1"), F.col("n").alias("n1"))
    d = (a.join(b, ["label", "pos"])
         .select("label", "n0", "n1",
                 (F.col("s0").cast("double") / F.col("n0")
                  - F.col("s1").cast("double") / F.col("n1"))
                 .alias("diff")))
    return (d.groupBy("label")
            .agg(F.min("n0").cast("long").alias("n_first"),
                 F.min("n1").cast("long").alias("n_second"),
                 F.round(F.sum(F.col("diff") * F.col("diff")) / 1e12, 6)
                 .alias("centroid_shift_sq")))


@register(
    "asof_tolerance_recent_order",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'),
    o AS (
      SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS ous
      FROM orders),
    best AS (
      SELECT e.event_id, e.user_id, o.o_orderkey, e.us - o.ous AS age_us,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.ous DESC, o.o_orderkey DESC)
               AS rn
      FROM e JOIN o ON o.o_custkey = e.user_id AND o.ous <= e.us)
    SELECT e.event_id, e.user_id,
           CASE WHEN b.age_us <= CAST(400 AS BIGINT) * 86400000000
                THEN b.o_orderkey END AS within_orderkey
    FROM e LEFT JOIN best b
      ON b.event_id = e.event_id AND b.rn = 1
    """,
    tags=("join", "temporal"),
)
def asof_tolerance_recent_order(spark, sf_dir):
    """Tolerance-bounded as-of join (pandas merge_asof's `tolerance`):
    each purchase event takes its user's most recent order ONLY if it
    is within 400 days — older matches null out instead of silently
    attaching stale context (the staleness guard every feature-join
    needs; `asof_join_latest_order` is the unbounded form). Composed
    as the standard backward as-of (one key shuffle + per-key sort)
    with an exact integer microsecond age filter applied to the
    matched column — the tolerance adds zero extra shuffles."""
    from ..operators.temporal import asof_join
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("event_type") == "purchase")
          .select("event_id", "user_id", "ts"))
    o = (table(spark, sf_dir, "orders")
         .select(F.col("o_custkey").alias("user_id"),
                 F.col("o_orderdate").alias("o_ts"), "o_orderkey"))
    out = asof_join(ev, o, key="user_id", left_ts="ts", right_ts="o_ts",
                    right_cols=["o_ts", "o_orderkey"],
                    tiebreak="o_orderkey")
    tol_us = 400 * 86_400_000_000
    # o_ts is TIMESTAMP_NTZ: wall-clock-only timestampdiff from the
    # NTZ epoch == DuckDB's epoch_us, at any session/machine timezone
    # (the queries/base.py events-normalization idiom)
    o_us = F.expr("timestampdiff(MICROSECOND, "
                  "TIMESTAMP_NTZ'1970-01-01 00:00:00', o_ts)")
    within = F.when(
        (F.unix_micros("ts") - o_us) <= tol_us, F.col("o_orderkey"))
    return out.select("event_id", "user_id",
                      within.alias("within_orderkey"))


# ------------------------------------------------ lifecycle accounting

_US_WEEK = 7 * 86_400_000_000


@register(
    "events_lifecycle_accounting",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_US_WEEK} AS week
      FROM events),
    fs AS (SELECT user_id, min(week) AS first_week FROM uw
           GROUP BY user_id),
    lagged AS (
      SELECT uw.user_id, uw.week, fs.first_week,
             lag(uw.week) OVER (PARTITION BY uw.user_id
                                ORDER BY uw.week) AS prev_week
      FROM uw JOIN fs USING (user_id)),
    states AS (
      SELECT week,
             CASE WHEN week = first_week THEN 'new'
                  WHEN prev_week = week - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM lagged),
    active AS (
      SELECT week, state, CAST(count(*) AS BIGINT) AS n
      FROM states GROUP BY 1, 2),
    churn AS (
      SELECT week + 1 AS week, 'churned' AS state,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT user_id, week,
                   lead(week) OVER (PARTITION BY user_id
                                    ORDER BY week) AS next_week
            FROM uw)
      WHERE next_week IS NULL OR next_week > week + 1
      GROUP BY 1, 2),
    allw AS (SELECT week FROM uw GROUP BY week)
    SELECT s.week, s.state, s.n
    FROM (SELECT * FROM active
          UNION ALL
          SELECT c.week, c.state, c.n FROM churn c
          JOIN allw ON allw.week = c.week) s
    """,
    tags=("analytics", "behavioral"),
)
def events_lifecycle_accounting(spark, sf_dir):
    """Weekly growth accounting: every active user is exactly one of
    new / retained / resurrected, and users active in week w but not
    w+1 are counted as churned in w+1 — the full lifecycle state
    machine behind `events_new_vs_returning` (which only splits
    new/returning) and `events_dau_wau` (which only counts). One
    distinct (user, week) relation feeds everything; states come from
    first-seen + one lag window per user (integer week arithmetic,
    state per row is a CASE); churn is the lead-gap complement. All
    counts exact. Scale: user-keyed windows over the deduplicated
    (user, week) relation — rows bounded by users x weeks, not
    events."""
    e = table(spark, sf_dir, "events")
    uw = (e.select("user_id",
                   (F.unix_micros("ts") / _US_WEEK).cast("long")
                   .alias("week"))
          .distinct().localCheckpoint())
    fs = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    wu = Window.partitionBy("user_id").orderBy("week")
    lagged = (uw.join(fs, "user_id")
              .withColumn("prev_week", F.lag("week").over(wu)))
    state = (F.when(F.col("week") == F.col("first_week"), "new")
             .when(F.col("prev_week") == F.col("week") - 1, "retained")
             .otherwise("resurrected"))
    active = (lagged.select("week", state.alias("state"))
              .groupBy("week", "state")
              .agg(F.count("*").cast("long").alias("n")))
    churn = (uw.withColumn("next_week", F.lead("week").over(wu))
             .filter(F.col("next_week").isNull()
                     | (F.col("next_week") > F.col("week") + 1))
             .select((F.col("week") + 1).alias("week"),
                     F.lit("churned").alias("state"))
             .groupBy("week", "state")
             .agg(F.count("*").cast("long").alias("n")))
    allw = uw.select("week").distinct()
    churn_in_range = churn.join(allw, "week")
    return active.unionByName(churn_in_range)


# ------------------------------------------------ class balancing

@register(
    "sample_class_balance",
    oracle="""
    WITH lc AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label),
    mn AS (SELECT CAST(min(n) AS BIGINT) AS min_n FROM lc),
    keep AS (
      SELECT e.vec_id, e.label
      FROM embeddings e JOIN lc ON lc.label = e.label
      CROSS JOIN mn
      WHERE CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 1000000
            < CAST(mn.min_n AS BIGINT) * 1000000 / lc.n)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_kept,
           min(vec_id) AS min_kept_id
    FROM keep GROUP BY label
    """,
    tags=("llm", "sampling"),
)
def sample_class_balance(spark, sf_dir):
    """Class-balanced downsampling: per-label keep rates target the
    MINORITY class size (keep_rate = min_n / n_label), decided by a
    deterministic md5 bucket per row — the label-space sibling of
    `domain_mix_rebalance` (sources) and the standard rebalancing
    step before training a classifier on skewed labels. The keep
    decision is an integer cross-multiplication (bucket·n < min_n·1e6
    — no float rate), reproducible row-by-row on any cluster. One
    label-count aggregate broadcasts; the filter fuses into the
    scan."""
    emb = table(spark, sf_dir, "embeddings")
    lc = emb.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    mn = lc.agg(F.min("n").cast("long").alias("min_n"))
    bucket = (F.conv(F.substring(F.md5(F.col("vec_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 1_000_000)
    keep = (emb.join(F.broadcast(lc), "label")
            .crossJoin(F.broadcast(mn))
            .filter(bucket * F.col("n")
                    < F.col("min_n") * F.lit(1_000_000)))
    return (keep.groupBy("label")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.min("vec_id").alias("min_kept_id")))
