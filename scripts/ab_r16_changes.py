"""Interleaved A/B for the r16 optimization changes (guide §1; this
host's noise protocol): each pair = (new = current tree, old = the
pre-r16 shape reproduced inline against the same kernels), run
A,B,A,B,… in ONE session, ContextCleaner drained before each rep,
result-identity gated before any timing.

Usage: python scripts/ab_r16_changes.py [reps] [pair ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from sparkstreamingproject_spark.queries import REGISTRY  # noqa: E402
from sparkstreamingproject_spark.queries.base import table  # noqa: E402
from sparkstreamingproject_spark.session import (  # noqa: E402
    drain_cleaner, get_spark)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ---------------------------------------------------------- old shapes

def bm25_old(spark, sf_dir):
    """Pre-r16 bm25_scores: tf/dl un-checkpointed (4 corpus scans)."""
    from sparkstreamingproject_spark.llm.textstats import bm25_rank
    from sparkstreamingproject_spark.queries.llm import BM25_TERMS
    df = table(spark, sf_dir, "documents")
    words = df.select("doc_id",
                      F.explode(F.split(F.col("text"), " ")).alias("word"))
    dl = df.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("dl"))
    tf = (words.filter(F.col("word").isin(*BM25_TERMS))
          .groupBy("doc_id", "word").agg(F.count("*").alias("tf")))
    return bm25_rank(tf, dl)


def tfidf_old(spark, sf_dir):
    """Pre-r16 tfidf: df from a second full words explode."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (tf.join(F.broadcast(df), "word")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", "word",
                      F.round(F.col("tf")
                              * F.log(F.col("n_docs") / F.col("df")), 4)
                      .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3).select("doc_id", "word", "tfidf"))


def _lshe_pairs_old(keys, counts, sh, id_col="doc_id",
                    threshold=0.9, bucket_cap=None):
    from sparkstreamingproject_spark.llm.dedup import LSHE_BUCKET_CAP
    bucket_cap = bucket_cap or LSHE_BUCKET_CAP
    lists = (keys.groupBy("j", "h", "q")
             .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
             .filter((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap)))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    cands = (lists.select(F.explode(pair_expr).alias("pr"))
             .select("pr.id_a", "pr.id_b").distinct())
    inter = (cands
             .join(sh.select(F.col(id_col).alias("id_a"), "shingle"),
                   "id_a")
             .join(sh.select(F.col(id_col).alias("id_b"), "shingle"),
                   ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
    cont = F.round(F.col("i") / F.least(F.col("ca"), F.col("cb")), 6)
    return (inter
            .join(counts.select(F.col(id_col).alias("id_a"),
                                F.col("c").alias("ca")), "id_a")
            .join(counts.select(F.col(id_col).alias("id_b"),
                                F.col("c").alias("cb")), "id_b")
            .select("id_a", "id_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold))


def lshe_old(spark, sf_dir):
    """Pre-r16 LSHE: un-pruned b leg, cands un-checkpointed."""
    from sparkstreamingproject_spark.llm.dedup import (
        lshe_doc_postings, word_shingles)
    df = table(spark, sf_dir, "documents")
    sh = word_shingles(df, "doc_id", "text", distinct=True).localCheckpoint()
    counts, keys = lshe_doc_postings(sh, "doc_id")
    return _lshe_pairs_old(keys, counts, sh)


def lsh_verified_old(spark, sf_dir):
    """Pre-r16 lsh_verified_pairs at the dedup_lsh_verified threshold."""
    from sparkstreamingproject_spark.llm.dedup import (
        lsh_candidate_pairs, word_shingles)
    df = table(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(df, "doc_id", "text")
    sh = word_shingles(df, "doc_id", "text", distinct=True).localCheckpoint()
    counts = (sh.groupBy("doc_id").agg(F.count("*").alias("c"))
              .localCheckpoint(eager=False))
    inter = (cands
             .join(sh.select(F.col("doc_id").alias("id_a"), "shingle"),
                   "id_a")
             .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"),
                   ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
    jac = F.round(F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 6)
    return (inter
            .join(counts.select(F.col("doc_id").alias("id_a"),
                                F.col("c").alias("ca")), "id_a")
            .join(counts.select(F.col("doc_id").alias("id_b"),
                                F.col("c").alias("cb")), "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.8))


def _quantized_elements_old(emb):
    """Pre-r16 rerank relation: (vec_id, pos, x), the n·d explode."""
    return emb.select(
        "vec_id",
        F.posexplode(F.expr(
            "transform(embedding, v -> "
            "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))"
        )).alias("pos", "x"))


def _exact_d2_old(pairs, el):
    """Pre-r16 exact rerank: two keyed joins of the element relation
    on (vec_id[, pos]) and a per-pair GROUP BY sum."""
    return (pairs
            .join(el.select(F.col("vec_id").alias("src"), "pos",
                            F.col("x").alias("xa")), "src")
            .join(el.select(F.col("vec_id").alias("dst"), "pos",
                            F.col("x").alias("xb")), ["dst", "pos"])
            .groupBy("src", "dst")
            .agg(F.sum((F.col("xa") - F.col("xb"))
                       * (F.col("xa") - F.col("xb"))).alias("d2")))


def knn_graph_old(spark, sf_dir):
    """Pre-r16 seed kNN: element-exploded exact d2 (double explode)."""
    from sparkstreamingproject_spark.llm.similarity import (
        lsh_multi_table_pairs)
    from sparkstreamingproject_spark.queries.llm12 import (
        _format_knn, _topk_per_src)
    emb = table(spark, sf_dir, "embeddings")
    cand = lsh_multi_table_pairs(emb)
    sym = (cand.select(F.col("id_a").alias("src"),
                       F.col("id_b").alias("dst"))
           .unionByName(cand.select(F.col("id_b").alias("src"),
                                    F.col("id_a").alias("dst"))))
    return _format_knn(_topk_per_src(
        _exact_d2_old(sym, _quantized_elements_old(emb))))


def knn_descent_old(spark, sf_dir):
    from sparkstreamingproject_spark.queries.llm12 import (
        _format_knn, _knn_seed_edges, _quantized_pts, _topk_per_src)
    emb = table(spark, sf_dir, "embeddings")
    seed = (_knn_seed_edges(emb, _quantized_pts(emb)).select("src", "dst")
            .localCheckpoint())
    gsym = (seed.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .unionByName(seed.select(F.col("dst").alias("a"),
                                     F.col("src").alias("b")))
            .distinct())
    non = (gsym.alias("p")
           .join(gsym.alias("q"), F.col("p.b") == F.col("q.a"))
           .filter(F.col("p.a") != F.col("q.b"))
           .select(F.col("p.a").alias("src"), F.col("q.b").alias("dst")))
    cand2 = (non.unionByName(gsym.select(F.col("a").alias("src"),
                                         F.col("b").alias("dst")))
             .distinct())
    d2 = _exact_d2_old(cand2, _quantized_elements_old(emb))
    return _format_knn(_topk_per_src(d2))


PAIRS = {
    "text_search_bm25": (REGISTRY["text_search_bm25"].fn, bm25_old),
    "text_tfidf_top_terms": (REGISTRY["text_tfidf_top_terms"].fn,
                             tfidf_old),
    "dedup_containment_lsh_ensemble": (
        REGISTRY["dedup_containment_lsh_ensemble"].fn, lshe_old),
    "dedup_lsh_verified": (REGISTRY["dedup_lsh_verified"].fn,
                           lsh_verified_old),
    "embedding_knn_graph": (REGISTRY["embedding_knn_graph"].fn,
                            knn_graph_old),
    "embedding_knn_descent_round": (
        REGISTRY["embedding_knn_descent_round"].fn, knn_descent_old),
}


def main() -> None:
    args = sys.argv[1:]
    reps = int(args[0]) if args and args[0].isdigit() else 4
    names = [a for a in args if not a.isdigit()] or list(PAIRS)
    spark = get_spark("ab-r16-changes")
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    def _warm(it):
        import numpy as _np
        _np.ones((8, 8)) @ _np.ones((8, 8))
        yield from it
    n_cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    (spark.range(n_cores * 4, numPartitions=n_cores * 4)
     .mapInPandas(_warm, "id long").count())

    out = {}
    for name in names:
        new_fn, old_fn = PAIRS[name]
        new_rows = sorted(map(tuple, new_fn(spark, SF_DIR).collect()))
        old_rows = sorted(map(tuple, old_fn(spark, SF_DIR).collect()))
        same = new_rows == old_rows
        print(f"{name}: results identical = {same} "
              f"({len(new_rows)} rows)", flush=True)
        times = {"new": [], "old": []}
        for i in range(reps):
            for tag, fn in (("new", new_fn), ("old", old_fn)):
                drain_cleaner(spark, wait_s=5.0)
                spark.sparkContext.setJobDescription(f"ab {name} {tag} #{i}")
                t0 = time.perf_counter()
                fn(spark, SF_DIR).collect()
                t = round(time.perf_counter() - t0, 3)
                times[tag].append(t)
                print(f"  {tag} #{i}: {t:.3f}s", flush=True)
        out[name] = {"identical": same,
                     "new": times["new"], "old": times["old"],
                     "new_min": min(times["new"]),
                     "old_min": min(times["old"])}
    print(json.dumps({"protocol": f"interleaved A/B, min-of-{reps}, "
                                  "drained reps", "sf_dir": SF_DIR,
                      "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
