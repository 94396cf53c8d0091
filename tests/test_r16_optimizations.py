"""Round-16 optimization equivalence tests.

Each r16 rewrite changed an operator's INTERNALS while contracting to
identical results — these tests pin the equivalences directly against
the pre-r16 formulation on hostile inputs (ties, negatives, repeated
tokens, singleton docs), complementing the oracle-parity suite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.smoke


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect())


# ------------------------------------------- tfidf df-from-tf identity


def test_df_from_tf_equals_countdistinct_over_words(spark):
    """r16 tfidf derivation: tf has exactly one row per distinct
    (doc_id, word), so count(*) per word over tf must equal
    countDistinct(doc_id) per word over the raw words explode —
    including repeated tokens within a doc and words shared by all
    docs."""
    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b b"), (3, "a"), (4, "d d d d")],
        "doc_id long, text string")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    got = tf.groupBy("word").agg(F.count("*").alias("df"))
    want = words.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df"))
    assert _rows(got, ["word", "df"]) == _rows(want, ["word", "df"])


# ------------------------------------------- exact-d2 array formulation


def test_exact_d2_arrays_equals_element_join(spark):
    """r16 kNN rerank: the zip_with array fold must equal the exact
    element-by-element integer sum over the same quantized rows —
    including zero vectors, negative components, d2 ties and values at
    the 1e6-quantization edge. (Degenerate vectors raise; see
    tests/test_vector_format.py.)"""
    from sparkstreamingproject_spark.queries.llm12 import (
        _exact_d2_arrays, _quantized_pts)
    emb = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.0, 1.0]),
         (2, [0.5, -0.25, 0.0, 1.0]),        # identical to 1 (d2=0)
         (3, [-1.0, -1.0, -1.0, -1.0]),
         (4, [0.0, 0.0, 0.0, 0.0]),          # zero vector
         (5, [0.1234567, 0.7654321, -0.5, 0.5])],  # rounding edge
        "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (4, 5), (2, 5), (5, 1)],
        "src long, dst long")
    ptsq = _quantized_pts(emb)
    got = _exact_d2_arrays(pairs, ptsq)
    qv = {r.vec_id: r.qv for r in ptsq.collect()}
    want = sorted(
        (r.src, r.dst, sum((a - b) * (a - b)
                           for a, b in zip(qv[r.src], qv[r.dst])))
        for r in pairs.collect())
    assert qv[5] == [123457, 765432, -500000, 500000]
    assert _rows(got, ["src", "dst", "d2"]) == want
    assert dict(got.dtypes)["d2"] == "bigint"


# -------------------------------- verify-join b-leg prune (exactness)


def test_pruned_verify_leg_equals_unpruned(spark):
    """r16 lsh_verified/LSHE restructure: restricting the (id_b,
    shingle) join leg to ids that occur as id_b in the candidate set
    must not change the intersection counts — non-candidate ids can
    never match the join key."""
    sh = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z"),
         (3, "x"), (4, "q"), (5, "x"), (5, "q")],
        "doc_id long, shingle string")
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 5)], "id_a long, id_b long")

    def inter(sh_b):
        return (cands
                .join(sh.select(F.col("doc_id").alias("id_a"),
                                "shingle"), "id_a")
                .join(sh_b.select(F.col("doc_id").alias("id_b"),
                                  "shingle"), ["id_b", "shingle"])
                .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))

    bids = cands.select(F.col("id_b").alias("doc_id")).distinct()
    got = inter(sh.join(bids, "doc_id"))
    want = inter(sh)
    assert _rows(got, ["id_a", "id_b", "i"]) == \
        _rows(want, ["id_a", "id_b", "i"])


def test_lsh_verified_pairs_matches_manual_jaccard(spark):
    """End-to-end: the restructured lsh_verified_pairs must still
    produce the exact Jaccard of its candidate pairs (computed here
    with plain python over collected shingle sets)."""
    from sparkstreamingproject_spark.llm.dedup import (
        lsh_candidate_pairs, lsh_verified_pairs, word_shingles)
    docs = spark.createDataFrame(
        [(i, "w%d the quick brown fox jumps over the lazy dog" % (i % 3))
         for i in range(12)],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in lsh_verified_pairs(docs, threshold=0.0).collect()}
    cand = {(r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(docs).collect()}
    sets: dict[int, set] = {}
    for r in word_shingles(docs, distinct=True).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    want = {}
    for a, b in cand:
        i = len(sets[a] & sets[b])
        if i:  # inner joins drop zero-intersection candidates
            want[(a, b)] = round(i / (len(sets[a]) + len(sets[b]) - i), 6)
    assert got == pytest.approx(want)
