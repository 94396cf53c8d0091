"""Round-5 wave 1: classifier-based curation (Naive Bayes), token-
budget output sharding, LM-perplexity quality filtering, and Jaccard
link prediction — the scoring/packing stages of a training-data
pipeline that sit between dedup/decontamination and the tokenizer.

Float discipline: NB log-probabilities are quantized once to scaled
BIGINTs (``round(ln(p)·1e6)``) so score sums and the argmax are exact
integer arithmetic; sharding and link prediction are pure integer;
the perplexity filter compares the 4dp-rounded score (the
driver-green ``text_bigram_lm_score`` expression) against a constant
whose 5th decimal is 5, which no 4dp-rounded value can equal.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import order_copairs
from .base import register, table

#: tokens per output shard (sized so every SF yields multiple shards)
_SHARD_BUDGET = 2000

#: keep docs whose avg bigram log-prob (4dp) clears this gate — the
#: 5th decimal is 5 so no rounded value can sit exactly on the fence
_PPL_GATE = -3.41235


@register(
    "nb_lang_classifier",
    oracle="""
    WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
               FROM documents),
    wf AS (SELECT * FROM w WHERE word <> ''),
    trw AS (SELECT * FROM wf WHERE doc_id % 5 <> 0),
    tew AS (SELECT doc_id, word FROM wf WHERE doc_id % 5 = 0),
    wc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS c
           FROM trw GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM wc GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS vv FROM trw),
    pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd,
                   CAST(sum(count(*)) OVER () AS BIGINT) AS ntr
            FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang),
    cls AS (SELECT tot.lang AS cls,
                   CAST(round(ln(CAST(pri.nd AS DOUBLE) / pri.ntr)
                              * 1000000) AS BIGINT) AS qprior,
                   CAST(round(ln(1.0 / (tot.t + v.vv))
                              * 1000000) AS BIGINT) AS qunk
            FROM tot CROSS JOIN v JOIN pri ON pri.lang = tot.lang),
    qp AS (SELECT wc.lang AS cls, wc.word,
                  CAST(round(ln((wc.c + 1.0) / (tot.t + v.vv))
                             * 1000000) AS BIGINT) AS q
           FROM wc JOIN tot ON wc.lang = tot.lang CROSS JOIN v),
    sc AS (SELECT te.doc_id, cls.cls,
                  cls.qprior + sum(coalesce(qp.q, cls.qunk)) AS score
           FROM tew te CROSS JOIN cls
           LEFT JOIN qp ON qp.cls = cls.cls AND qp.word = te.word
           GROUP BY te.doc_id, cls.cls, cls.qprior),
    pred AS (SELECT doc_id, cls AS predicted,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, cls) AS rn
             FROM sc)
    SELECT a.lang AS actual, p.predicted, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0) a
    JOIN pred p ON a.doc_id = p.doc_id AND p.rn = 1
    GROUP BY 1, 2
    """,
    tags=("llm", "classify"),
)
def nb_lang_classifier(spark, sf_dir):
    """fastText-style corpus classifier as one declarative plan
    (llm/classify.py): add-one multinomial NB trained on the 80% of
    docs with doc_id % 5 != 0 (a plain modulo split — deterministic
    and cheap; hash doc_id first if ids are not uniformly assigned),
    the held-out 20% scored and argmax'd, confusion matrix out.
    Model relations are classes x vocab — broadcast joins against the
    token stream, integer-quantized log-probs so the argmax is exact."""
    from ..llm.classify import nb_train_predict
    docs = table(spark, sf_dir, "documents")
    per_doc = nb_train_predict(docs, label_col="lang", holdout_mod=5)
    return (per_doc.groupBy("actual", "predicted")
            .agg(F.count("*").alias("n")))


@register(
    "shard_token_budget_assign",
    oracle=f"""
    WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                      CAST(len(list_filter(string_split(text, ' '),
                                           w -> w <> '')) AS BIGINT)
                        AS ntok
               FROM documents),
    c AS (SELECT doc_id, ntok,
                 CAST(sum(ntok) OVER (ORDER BY h, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - ntok
                      AS BIGINT) AS ce
          FROM t)
    SELECT CAST(ce // {_SHARD_BUDGET} AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens
    FROM c GROUP BY 1
    """,
    tags=("llm", "curation", "layout"),
)
def shard_token_budget_assign(spark, sf_dir):
    """Training-shard writer step (llm/curation.py:
    shard_by_token_budget): deterministic hash-shuffle order, exact
    integer prefix sum of token counts, shard = prefix // budget.
    The Spark plan computes the prefix sum two-phase (16 hash-prefix
    ranges + broadcast offsets) so no global single-partition window
    exists at scale; the oracle states the same semantics as one
    window. Output: per-shard doc/token totals."""
    from ..llm.curation import shard_by_token_budget
    docs = table(spark, sf_dir, "documents")
    return (shard_by_token_budget(docs, _SHARD_BUDGET)
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").alias("tokens")))


@register(
    "curation_perplexity_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM toks, unnest(range(1, len(t))) AS g(i)),
    bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
    uc AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS vocab
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents)),
    s AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS nb,
                 round(avg(ln((bc.c2 + 1.0) / (uc.c1 + v.vocab))), 4)
                   AS lp
          FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1)
          CROSS JOIN v
          GROUP BY b.doc_id)
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s.lp >= {_PPL_GATE} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN s.lp >= {_PPL_GATE} THEN s.nb ELSE 0 END)
                AS BIGINT) AS kept_bigrams
    FROM documents d JOIN s USING (doc_id)
    GROUP BY 1
    """,
    tags=("llm", "quality", "curation"),
)
def curation_perplexity_filter(spark, sf_dir):
    """CCNet-style LM quality gate: score every doc with the corpus
    bigram LM (llm/textstats.py:bigram_lm_score — the driver-green
    expression), keep docs above a fixed log-prob gate, report
    retention and surviving token mass per source. The model relations
    are vocabulary-sized; the gate itself is a scan-side filter."""
    from ..llm.textstats import bigram_lm_score
    docs = table(spark, sf_dir, "documents")
    scored = bigram_lm_score(docs)
    kept = F.when(F.col("avg_logprob") >= _PPL_GATE, 1).otherwise(0)
    return (docs.select("doc_id", "source")
            .join(scored, "doc_id")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(kept).alias("n_kept"),
                 F.sum(kept * F.col("n_bigrams")).alias("kept_bigrams")))


@register(
    "graph_jaccard_link_prediction",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    p AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v,
                 CAST(count(*) AS BIGINT) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
          GROUP BY 1, 2),
    rk AS (SELECT u, v, w,
                  row_number() OVER (ORDER BY w DESC, u, v) AS rn,
                  count(*) OVER () AS np
           FROM p),
    e AS (SELECT u, v FROM rk WHERE rn * 4 <= np),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    cn AS (SELECT a1.u AS u, a2.u AS v, CAST(count(*) AS BIGINT) AS common
           FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.u < a2.u
           GROUP BY 1, 2),
    ne AS (SELECT cn.u, cn.v, cn.common FROM cn
           LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
           WHERE e.u IS NULL),
    j AS (SELECT n.u, n.v, n.common, du.d AS deg_u, dv.d AS deg_v,
                 CAST((n.common * 10000) // (du.d + dv.d - n.common)
                      AS BIGINT) AS jac_bp
          FROM ne n JOIN deg du ON du.u = n.u JOIN deg dv ON dv.u = n.v)
    SELECT u, v, common, deg_u, deg_v, jac_bp FROM j
    ORDER BY jac_bp DESC, u, v LIMIT 20
    """,
    tags=("graph",),
)
def graph_jaccard_link_prediction(spark, sf_dir):
    """Jaccard-coefficient link prediction over the strong-partnership
    graph: edges are the top-quartile supplier co-occurrence pairs by
    weight (rank cutoff with full tiebreak — deterministic in any
    engine), candidates are non-adjacent pairs sharing neighbors,
    scored |N(u)∩N(v)| / |N(u)∪N(v)| in exact integer basis points.

    Scale: every relation here is bounded by supplier-pair cardinality
    (|V|²/2), not fact-table size — the one global rank window runs
    over that bounded pair relation, and the wedge join is the same
    Σdeg² bound as triangle counting. Top-20 via
    TakeOrderedAndProject."""
    p = order_copairs(table(spark, sf_dir, "lineitem"), "l_suppkey")
    np_ = p.agg(F.count("*").alias("np"))
    rk = (p.withColumn("rn", F.row_number().over(
              Window.partitionBy(F.lit(1))
              .orderBy(F.desc("w"), "u", "v")))
          .crossJoin(F.broadcast(np_)))
    # the rank-cutoff edge list is consumed by four plans (degrees,
    # kernel guard, kernel, anti-join) — materialize it once
    e = (rk.filter(F.col("rn") * 4 <= F.col("np")).select("u", "v")
         .localCheckpoint())
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    # shared-neighbor counts via the size-guarded bitmap kernel
    # (operators/graph.py:common_neighbor_counts): a near-complete
    # co-occurrence graph makes the adjacency self-join shuffle ~10^7
    # wedge rows; the packed-bitmap AND+popcount path collapses that
    # to SIMD arithmetic, with the Σdeg² wedge join as the
    # large/sparse fallback
    from ..operators.graph import common_neighbor_counts
    cn = common_neighbor_counts(e, "u", "v")
    ne = cn.join(e, ["u", "v"], "left_anti")
    j = (ne.join(deg.select(F.col("u").alias("du_k"),
                            F.col("d").alias("deg_u")),
                 F.col("u") == F.col("du_k"))
         .join(deg.select(F.col("u").alias("dv_k"),
                          F.col("d").alias("deg_v")),
               F.col("v") == F.col("dv_k"))
         .select("u", "v", "common", "deg_u", "deg_v",
                 F.expr("(common * 10000) div (deg_u + deg_v - common)")
                 .alias("jac_bp")))
    return j.orderBy(F.desc("jac_bp"), "u", "v").limit(20)
