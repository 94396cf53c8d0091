"""Graph analytics on edge-list DataFrames.

Connected components (the dedup canonicalizer) lives in
``llm/dedup.py:connected_components``; this module holds the general
iterative-propagation operators. All of them follow the same
distributed iteration discipline as k-means (llm/similarity.py) and
components: per-round keyed joins + aggregations only (never
whole-graph driver state), ``localCheckpoint`` lineage cuts so plans
stay flat, and 6dp rounding of propagated floats each round so any
executor count / summation order reproduces bit-identical fixpoints —
which is also what makes an unrolled-CTE SQL oracle able to verify the
iteration exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 10, damping: float = 0.85) -> DataFrame:
    """PageRank over a directed edge list (simplified: dangling mass is
    not redistributed — documented, and mirrored exactly by the
    oracle). Per iteration: one edges⋈ranks join keyed on src, one
    dst-keyed sum — both partial-aggregated shuffles; rank vectors
    live as DataFrames, never on the driver. The only driver scalar is
    |V| (one count). Returns (node, rank) with rank rounded to 6dp.
    """
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct().localCheckpoint())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(F.col(src).alias("node")) \
                   .agg(F.count("*").alias("deg"))
    ranks = nodes.withColumn("rank", F.round(F.lit(1.0 / n), 6))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (edges
                   .join(ranks.withColumnRenamed("node", src), src)
                   .join(out_deg.withColumnRenamed("node", src), src)
                   .select(F.col(dst).alias("node"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(sums, "node", "left")
                 .select("node",
                         F.round(F.lit(base)
                                 + damping * F.coalesce(F.col("s"),
                                                        F.lit(0.0)), 6)
                         .alias("rank"))
                 .localCheckpoint())
    return ranks


def order_copairs(items: DataFrame, key: str) -> DataFrame:
    """Co-purchase edge list: two ``key`` values bought in one order
    are linked, ``(u, v, w)`` with ``u < v`` and ``w`` the number of
    distinct orders the pair shares — the edge relation of every
    lineitem graph query (and the input ``triangle_count`` /
    ``common_neighbor_counts`` expect).

    ``(l_orderkey, key)`` rows are deduplicated first, so repeated
    lines of one order count once. The self-join is keyed on the
    order, so its fanout is bounded by order width (≤7 lines per
    TPC-H order ⇒ ≤21 pairs), never |items|². Callers that need only
    the unweighted edges select ``u, v``: Catalyst then prunes the
    count out of the aggregate, leaving the plain pair distinct."""
    li = items.select("l_orderkey", key).distinct()
    a, b = li.alias("a"), li.alias("b")
    return (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col(f"a.{key}") < F.col(f"b.{key}")))
            .groupBy(F.col(f"a.{key}").alias("u"),
                     F.col(f"b.{key}").alias("v"))
            .agg(F.count("*").alias("w")))


def _popcount_lut():
    """256-entry byte-popcount table for the bitmap kernels."""
    import numpy as np
    return np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1
    ).sum(axis=1).astype(np.uint32)


def _pack_mask_matrix(grouped: DataFrame, key_col: str, mx: int,
                      n_words: int):
    """Packed-bitmap adjacency: build each vertex's neighbor bitset
    distributed (mapInPandas, O(deg) per vertex per Arrow batch),
    collect the (key, mask) rows — bounded by the caller's size guard
    — and assemble the id-indexed uint64 matrix. Shared by the
    triangle and common-neighbor kernels so the size-guard semantics
    can never drift between them."""
    import numpy as np
    import pandas as pd

    def pack(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = np.zeros((len(pdf), n_words), dtype=np.uint64)
            for r, nb in enumerate(pdf["nbrs"]):
                a = np.asarray(nb, dtype=np.int64)
                np.bitwise_or.at(
                    rows[r], a >> 6,
                    np.left_shift(np.uint64(1),
                                  (a & 63).astype(np.uint64)))
            yield pd.DataFrame({"k": pdf["k"],
                                "mask": list(rows.astype(np.int64))})

    mask_rows = (grouped
                 .select(F.col(key_col).alias("k"), "nbrs")
                 .mapInPandas(pack, schema="k long, mask array<long>")
                 .collect())
    M = np.zeros((mx + 1, n_words), dtype=np.uint64)
    for r in mask_rows:
        M[r["k"]] = np.asarray(r["mask"], dtype=np.int64).view(np.uint64)
    return M


def triangle_count(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Exact triangle count over an undirected edge list (one row per
    edge, ``u < v``), returning a single ``triangles`` BIGINT row.

    Every edge is oriented from its (degree, id)-smaller endpoint to
    the larger one, so oriented out-degree is O(sqrt(m)) even on hub
    vertices, and each triangle is counted exactly once as
    |N+(src) ∩ N+(dst)| on its lowest-ranked edge.

    Two physical strategies behind one logical op, picked by a
    vertex-cardinality size guard (same pattern as the broadcast
    BLAS kernel in llm/similarity.py):

    * **bitmap kernel** (dense/small-id regime, mask matrix ≤ 64 MB —
      n_vertices × ceil(max_id/64) words): each vertex's oriented
      neighbor set becomes a packed bit row of a numpy matrix built
      distributed (mapInPandas over the adjacency relation, O(deg) per
      vertex), collected (n²/8 bytes, bounded by the guard) and
      broadcast; a mapInPandas pass over the EDGE LIST then counts
      popcount(M[src] & M[dst]) per Arrow batch. The wedge population
      is never materialized, shuffled, or even looped per-element —
      it collapses into SIMD AND + popcount, which is what survives
      the near-complete co-occurrence graphs dense datasets produce.

    * **array-intersect fallback** (large/sparse regime): the same
      oriented adjacency as array<long> rows, joined to the edge list
      (broadcast when small), closing wedges with per-row
      ``array_intersect`` in codegen — O(deg+) per edge, no wedge
      shuffle, no driver state beyond the two guard scalars.
    """
    import numpy as np
    import pandas as pd

    deg = (edges.select(F.col(u).alias("x"))
           .unionAll(edges.select(F.col(v).alias("x")))
           .groupBy("x").agg(F.count("*").alias("deg")))
    du = deg.select(F.col("x").alias(u), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("x").alias(v), F.col("deg").alias("deg_v"))
    lower = ((F.col("deg_u") < F.col("deg_v"))
             | ((F.col("deg_u") == F.col("deg_v")) & (F.col(u) < F.col(v))))
    oriented = (edges.join(F.broadcast(du), u).join(F.broadcast(dv), v)
                .select(F.when(lower, F.col(u)).otherwise(F.col(v))
                        .alias("src"),
                        F.when(lower, F.col(v)).otherwise(F.col(u))
                        .alias("dst")))
    # duplicate edge rows would double-count in the array-intersect
    # fallback while the bitmap OR dedups them — canonicalize once so
    # both strategies agree on any input
    oriented = oriented.distinct()
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))

    # ---- strategy guard ----
    stats = (deg.agg(F.max("x").alias("mx"), F.min("x").alias("mn"),
                     F.count("*").alias("nv")).first())
    if stats["mx"] is None:
        return edges.sparkSession.createDataFrame(
            [(0,)], "triangles bigint")
    n_words = int(stats["mx"]) // 64 + 1
    # the mask matrix is id-indexed: (max_id + 1) rows, NOT n_vertices
    # (a sparse large-id graph would otherwise pass the guard and OOM
    # the driver); negative ids would wrap numpy indexing — fallback
    mask_bytes = (int(stats["mx"]) + 1) * n_words * 8

    if int(stats["mn"]) >= 0 and mask_bytes <= (64 << 20):
        M = _pack_mask_matrix(adj, "src", int(stats["mx"]), n_words)
        bcast = edges.sparkSession.sparkContext.broadcast(M)
        pop_lut = _popcount_lut()

        def count(batches):
            Mm = bcast.value
            for pdf in batches:
                if not len(pdf):
                    continue
                s = pdf["src"].to_numpy(dtype=np.int64)
                d = pdf["dst"].to_numpy(dtype=np.int64)
                z = Mm[s] & Mm[d]
                n = int(pop_lut[z.view(np.uint8)].sum())
                yield pd.DataFrame({"c": [n]})

        partials = oriented.mapInPandas(count, schema="c long")
        return partials.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                            .alias("triangles"))

    a_src = adj.select(F.col("src").alias("s_key"),
                       F.col("nbrs").alias("n_src"))
    a_dst = adj.select(F.col("src").alias("d_key"),
                       F.col("nbrs").alias("n_dst"))
    return (oriented
            .join(F.broadcast(a_src), F.col("src") == F.col("s_key"))
            .join(F.broadcast(a_dst), F.col("dst") == F.col("d_key"))
            .select(F.size(F.array_intersect("n_src", "n_dst")).alias("c"))
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                 .alias("triangles")))


def common_neighbor_counts(edges: DataFrame, u: str = "u",
                           v: str = "v") -> DataFrame:
    """All vertex pairs (u < v) sharing at least one neighbor, with the
    exact shared-neighbor count — the candidate+feature relation of
    common-neighbor / Jaccard link prediction.

    Unlike triangles, orientation cannot prune this wedge population
    (every center contributes C(deg,2) pairs regardless of direction),
    so the dense regime is where the naive adjacency self-join
    explodes. Two strategies behind one logical op, mirroring
    ``triangle_count``:

    * **bitmap kernel** (non-negative ids, vertex count <= 4096, and
      the id-indexed (max_id+1) x ceil(max_id/64)-word mask matrix <=
      64 MB): packed full-adjacency bit rows built distributed and
      broadcast; a mapInPandas pass over the (vertex x vertex) pair
      relation ANDs + popcounts per Arrow batch and emits only pairs
      with a nonzero count. n²/2 popcounts — SIMD arithmetic, no
      wedge ever shuffled.

    * **wedge self-join fallback** (large/sparse regime): symmetric
      adjacency joined on the shared center and aggregated per pair —
      the Σdeg² plan, correct at any vertex cardinality and cheap
      exactly when the graph is sparse enough that bitmaps would not
      pay off.
    """
    import numpy as np
    import pandas as pd

    # distinct-ify: duplicate edge rows (or both orientations supplied)
    # would inflate wedge counts in the fallback while the bitmap OR
    # dedups them — canonicalize so both strategies agree on any input
    adj = (edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
           .unionAll(edges.select(F.col(v).alias("a"),
                                  F.col(u).alias("b")))
           .distinct())
    stats = (adj.agg(F.max("a").alias("mx"), F.min("a").alias("mn"),
                     F.countDistinct("a").alias("nv")).first())
    if stats["mx"] is None:
        return edges.sparkSession.createDataFrame(
            [], f"{u} long, {v} long, common bigint")
    n_words = int(stats["mx"]) // 64 + 1
    # id-indexed matrix: (max_id + 1) rows — see triangle_count's guard
    mask_bytes = (int(stats["mx"]) + 1) * n_words * 8

    if (int(stats["mn"]) >= 0 and stats["nv"] <= 4096
            and mask_bytes <= (64 << 20)):
        grouped = adj.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
        M = _pack_mask_matrix(grouped, "a", int(stats["mx"]), n_words)
        bcast = edges.sparkSession.sparkContext.broadcast(M)
        pop_lut = _popcount_lut()

        nodes = adj.select(F.col("a").alias("x")).distinct()
        # broadcast one side: the guard bounds nodes to <=4096, so the
        # non-equi pair generation plans as BroadcastNestedLoopJoin
        # (the sanctioned bounded shape), never CartesianProduct
        pairs = (nodes.join(F.broadcast(nodes.select(F.col("x")
                                                     .alias("y"))),
                            F.col("x") < F.col("y")))

        def count(batches):
            Mm = bcast.value
            for pdf in batches:
                if not len(pdf):
                    continue
                xs = pdf["x"].to_numpy(dtype=np.int64)
                ys = pdf["y"].to_numpy(dtype=np.int64)
                z = Mm[xs] & Mm[ys]
                c = pop_lut[z.view(np.uint8)].reshape(len(pdf), -1) \
                    .sum(axis=1).astype(np.int64)
                keep = c > 0
                yield pd.DataFrame({"u": xs[keep], "v": ys[keep],
                                    "common": c[keep]})

        out = pairs.mapInPandas(count,
                                schema="u long, v long, common long")
        return out.select(F.col("u").alias(u), F.col("v").alias(v),
                          "common")

    a1 = adj.select(F.col("b").alias("w"), F.col("a").alias("p"))
    a2 = adj.select(F.col("b").alias("w"), F.col("a").alias("q"))
    return (a1.join(a2, "w")
            .filter(F.col("p") < F.col("q"))
            .groupBy(F.col("p").alias(u), F.col("q").alias(v))
            .agg(F.count("*").alias("common")))
