"""Similarity search over embedding columns (``array<float>``).

Two paths:
- brute-force cosine top-k — exact baseline. The query set broadcasts
  (it is always small); candidates never shuffle. Cost is
  O(|queries|·N·d) inside codegen — acceptable for reranking, not for
  all-pairs at scale.
- LSH-bucketed ANN — random-hyperplane signatures partition vectors
  into buckets; search joins query buckets to candidate buckets, so the
  cross product is per-bucket. The hyperplanes are deterministic
  (seeded) constants, which keeps the operator reproducible and lets
  the DuckDB oracle verify the bucketing.

All vector math is JVM higher-order functions (zip_with/aggregate) —
no Python in the scoring loop. For very wide batch scoring where BLAS
wins, swap in an Arrow-batched pandas_udf (same signature).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity

LSH_SEED = 42
LSH_PLANES = 8
EMB_DIM = 64


def hyperplanes(n_planes: int = LSH_PLANES, dim: int = EMB_DIM,
                seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes (shared with the oracle SQL)."""
    rng = np.random.RandomState(seed)
    return [[round(float(v), 6) for v in rng.randn(dim)] for _ in range(n_planes)]


def _dot_with_literal(col, plane: list[float]):
    lit = F.array(*[F.lit(v) for v in plane])
    return F.aggregate(
        F.zip_with(col, lit, lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, v: acc + v)


def lsh_bucket(df: DataFrame, emb_col: str = "embedding",
               planes: list[list[float]] | None = None) -> DataFrame:
    """Random-hyperplane LSH: bucket = concatenated sign bits of the
    projections. Vectors in the same bucket are likely neighbors."""
    planes = planes or hyperplanes()
    bits = [F.when(_dot_with_literal(F.col(emb_col), p) >= 0, "1").otherwise("0")
            for p in planes]
    return df.withColumn("bucket", F.concat(*bits))


def brute_force_topk(candidates: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against
    all candidates, score in codegen, per-query window top-k (partial
    sort per query, never global). Similarity rounded to 6dp before
    ranking so ordering is reproducible across engines."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(emb_col).alias("q_emb"))
    c = candidates.select(F.col(id_col).alias("cand_id"),
                          F.col(emb_col).alias("c_emb"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine",
                    F.col("rank").cast("long").alias("rank")))


def _quantize_int8(df: DataFrame, id_alias: str, id_col: str,
                   emb_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (same arithmetic as the
    ``embedding_quantize_int8`` query): q_i = round(x_i·127/max|x|),
    scale = max|x|/127."""
    d = df.select(F.col(id_col).alias(id_alias),
                  F.col(emb_col).cast("array<double>").alias("v"))
    d = d.withColumn("mx", F.array_max(F.transform("v", lambda x: F.abs(x))))
    return (d.withColumn(
        "qv", F.transform("v", lambda x: F.round(x * 127 / F.col("mx"))
                          .cast("long")))
        .withColumn("scale", F.col("mx") / 127))


def int8_rerank_topk(candidates: DataFrame, queries: DataFrame, k: int = 5,
                     pool: int = 20, id_col: str = "vec_id",
                     emb_col: str = "embedding") -> DataFrame:
    """Quantized-retrieval + exact-rerank ANN (the ADC pattern every
    production vector index uses): the approximate pass scores int8
    codes only — an integer dot product rescaled by the two per-vector
    scales, reading 4× fewer bytes than full precision — keeps the top
    ``pool`` candidates per query, then fetches full-precision vectors
    for just those pool·|Q| rows and re-ranks by exact cosine.

    At scale the quantized relation IS the index (scanned; 4× less
    bandwidth) while full vectors are only touched via the final keyed
    join — pool·|Q| lookups, not N·|Q|. The integer dot product is
    exact in both engines; the rescale multiply is written in the same
    operand order as the oracle so the 6dp rounding agrees."""
    qq = _quantize_int8(queries, "query_id", id_col, emb_col).select(
        "query_id", F.col("qv").alias("q_qv"), F.col("scale").alias("q_scale"))
    cc = _quantize_int8(candidates, "cand_id", id_col, emb_col).select(
        "cand_id", "qv", "scale")
    qdot = F.aggregate(
        F.zip_with("qv", "q_qv", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    approx = (cc.crossJoin(F.broadcast(qq))
              .filter(F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      F.round(qdot.cast("double") * F.col("q_scale")
                              * F.col("scale"), 6).alias("approx")))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("cand_id"))
    pool_df = (approx.withColumn("prk", F.row_number().over(wp))
               .filter(F.col("prk") <= pool)
               .select("query_id", "cand_id"))
    c_full = candidates.select(F.col(id_col).alias("cand_id"),
                               F.col(emb_col).alias("c_emb"))
    q_full = queries.select(F.col(id_col).alias("query_id"),
                            F.col(emb_col).alias("q_emb"))
    scored = (pool_df.join(c_full, "cand_id")
              .join(F.broadcast(q_full), "query_id")
              .select("query_id", "cand_id",
                      F.round(cosine_similarity("q_emb", "c_emb"), 6)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine",
                    F.col("rank").cast("long").alias("rank")))


def lsh_topk(candidates: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", emb_col: str = "embedding",
             planes: list[list[float]] | None = None,
             n_planes: int = 4) -> DataFrame:
    """ANN: score only candidates sharing the query's LSH bucket.
    The join is keyed on the bucket — per-bucket cross products instead
    of a full N×Q sweep. Recall/cost tunes via plane count (fewer planes
    → bigger buckets → higher recall, more compute); the default 4
    planes ≈ N/16 candidates per query. For higher recall at the same
    cost, use multiple independent plane sets (OR-amplification) and
    union the candidates."""
    planes = planes or hyperplanes(n_planes)
    cb = lsh_bucket(candidates, emb_col, planes).select(
        F.col(id_col).alias("cand_id"), F.col(emb_col).alias("c_emb"), "bucket")
    qb = lsh_bucket(queries, emb_col, planes).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"), "bucket")
    scored = (cb.join(F.broadcast(qb), "bucket")
              .filter(F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine",
                    F.col("rank").cast("long").alias("rank")))


N_IVF_CELLS = 8


def ivf_assign(df: DataFrame, id_col: str = "vec_id",
               emb_col: str = "embedding",
               n_cells: int = N_IVF_CELLS) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid.

    Centroids are the first ``n_cells`` vectors by id — deterministic
    and data-derived (a production build would k-means a sample; the
    index structure and search path are identical). Assignment is a
    small cross join (N × n_cells) scored in codegen, then argmin via
    window — the centroid set always broadcasts.
    """
    cents = (df.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).alias("cell"),
                     F.col(emb_col).alias("c_emb")))
    scored = (df.select(F.col(id_col), F.col(emb_col))
              .crossJoin(F.broadcast(cents))
              .select(id_col, emb_col, "cell",
                      F.round(cosine_similarity(emb_col, "c_emb"), 6).alias("sim")))
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, emb_col, "cell"))


def ivf_topk(candidates: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", emb_col: str = "embedding",
             n_cells: int = N_IVF_CELLS, nprobe: int = 2) -> DataFrame:
    """IVF search: score only candidates in the query's ``nprobe``
    closest cells. Search cost drops by ~n_cells/nprobe vs brute force;
    recall tunes with nprobe. Candidates partitioned by cell — the
    inverted-list layout that makes this work at 100 TB (each probe
    reads one cell partition, not the whole index)."""
    cents = (candidates.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).alias("cell"), F.col(emb_col).alias("c_emb")))
    cand_cells = ivf_assign(candidates, id_col, emb_col, n_cells).select(
        F.col(id_col).alias("cand_id"), F.col(emb_col).alias("cand_emb"), "cell")
    qscored = (queries.select(F.col(id_col).alias("query_id"),
                              F.col(emb_col).alias("q_emb"))
               .crossJoin(F.broadcast(cents))
               .select("query_id", "q_emb", "cell",
                       F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cell"))
    probes = (qscored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= nprobe)
              .select("query_id", "q_emb", "cell"))
    scored = (cand_cells.join(F.broadcast(probes), "cell")
              .filter(F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      F.round(cosine_similarity("q_emb", "cand_emb"), 6).alias("cosine")))
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine",
                    F.col("rank").cast("long").alias("rank")))


BROADCAST_MAX_BYTES = 512 << 20  # dense f64 matrix cap for the exact kernel


# 10^19 > any non-negative long id: the radix that packs (sim, cell)
# into one DECIMAL for the hash-aggregated argmax below
_ARGMAX_RADIX = "10000000000000000000"


def argmax_cell(scored: DataFrame, id_col: str,
                cell_col: str = "cell",
                keep_sim: bool = False) -> DataFrame:
    """(id, best cell [, winning sim]) from (id, cell, sim) scored rows
    — argmax by (sim DESC, cell ASC), exactly row_number()==1 over that
    ordering.

    Shape (r15, guide §2.3 "aggregate before you shuffle"): the window
    formulation shuffled and sorted ALL n·k scored rows; here the
    argmax is a plain ``min()`` over ONE decimal that encodes
    ``(1e6 - sim6) · 10^19 + cell`` — lexicographically (sim DESC,
    cell ASC) — so the aggregate is hash-based (decimals are
    fixed-width mutable buffer types; a struct-valued max falls back
    to SortAggregate) and map-side partial aggregation reduces n·k
    rows to n BEFORE the exchange. sim6 = round(sim·1e6) is exact:
    sim is already 6dp-rounded, so sim6 is the integer the decimal
    literally means; the winning sim is recovered from a sibling
    ``max(sim6)`` (the max similarity IS the winner's similarity,
    whatever cell broke the tie) and sim6/1e6 reproduces the 6dp
    double bit-exactly (both are the nearest double to the same
    decimal). Requires cell ids to be non-negative longs (< 10^19 —
    every id in this engine).

    Two further input contracts (vs the window formulation, which this
    replaced — ADVICE r15): ``sim`` must be non-null and FINITE — a
    NaN/null sim becomes a null decimal and is silently dropped by
    min/max, where row_number() would still have ranked the row (NaN
    sorts AFTER every double in Spark, null depends on nulls-first/
    last) — a zero-norm vector (null cosine) is the one way callers
    could produce this, so feed only non-degenerate embeddings; and
    ids must be UNIQUE per scored relation — ``kmeans_assign``
    re-attaches the vector by an id-equi-join, so a duplicated id
    would fan out into duplicate output rows where the window kept
    per-row ranks."""
    s6 = F.round(F.col("sim") * 1e6).cast("long")
    p = F.lit(_ARGMAX_RADIX).cast("decimal(20,0)")
    enc = ((F.lit(1_000_000).cast("decimal(7,0)") - s6.cast("decimal(7,0)"))
           * p + F.col(cell_col).cast("decimal(19,0)"))
    best = (scored.groupBy(id_col)
            .agg(F.min(enc).alias("_enc"), F.max(s6).alias("_s6")))
    cols = [F.col(id_col),
            F.pmod(F.col("_enc"), p).cast("long").alias(cell_col)]
    if keep_sim:
        cols.append((F.col("_s6").cast("double") / F.lit(1e6)).alias("sim"))
    return best.select(*cols)


def kmeans_assign(pts: DataFrame, cents: DataFrame,
                  id_col: str = "vec_id",
                  keep_sim: bool = False) -> DataFrame:
    """Assign each point to its most-cosine-similar centroid.
    Centroids broadcast (k rows); similarity rounded to 6dp before the
    argmax and ties broken by cell id, so assignment is reproducible
    across engines and summation orders.

    The argmax is the hash-aggregated ``argmax_cell`` (r15): the
    broadcast cross join emits n·k scored rows map-side and partial
    aggregation reduces them to n rows before the exchange — the old
    row_number window shuffled (and sorted) all n·k rows, each
    carrying the d-element vector. The vector is kept OUT of the
    scored relation entirely (guide §2.3 "project before the
    exchange") and re-attached with one id-keyed join of n-row
    relations.

    ``keep_sim=True`` also returns the winning similarity (the value
    the window version recomputed via a centroids re-join) as ``sim``.
    """
    scored = (pts.crossJoin(F.broadcast(cents))
              .select(id_col, "cell",
                      F.round(cosine_similarity("v", "cv"), 6).alias("sim")))
    best = argmax_cell(scored, id_col, keep_sim=keep_sim)
    out_cols = [F.col(id_col), F.col("v"), F.col("cell")]
    if keep_sim:
        out_cols.append(F.col("sim"))
    return best.join(pts, id_col).select(*out_cols)


def kmeans_centroids(df: DataFrame, id_col: str = "vec_id",
                     emb_col: str = "embedding", k: int = N_IVF_CELLS,
                     n_iter: int = 2) -> DataFrame:
    """Distributed Lloyd's k-means for IVF coarse centroids — the
    production replacement for ``ivf_assign``'s first-N-ids stand-in.

    Each iteration: assign (k-row broadcast cross join, codegen cosine,
    hash-aggregated argmax — see ``kmeans_assign``) then recompute
    means (posexplode to (cell, pos, val) → avg per (cell, pos) →
    rebuild arrays). Both stages shuffle only (cell/pos)-keyed
    aggregates — never point×point; cost per iteration is one corpus
    scan, the same shape at 1000 executors. Centroid components are
    rounded to 6dp after every mean so both engines (and any summation
    order) see bit-identical centroid inputs — the same
    reproducibility discipline as the LSH hyperplanes.

    (r15 note: a per-dimension ``avg(v[i])`` single-aggregate means —
    one cell-keyed exchange instead of posexplode's two — was measured
    and REJECTED at the bench SF: the d-wide aggregate pays ~1 s of
    plan/codegen setup per iteration, a fixed cost that dominates
    until the exploded relation is ≳10× this corpus; see
    OPTIMIZATION_r15.md §kmeans. r16 re-measured the predicted
    crossover at sf1.0* — it does not exist there either: interleaved
    A/B min-of-3, posexplode 12.25 s vs avg-columns 14.33 s at the
    production k=400, 3.13 vs 3.70 s at k=40, every rep pair in
    posexplode's favor (scripts/ab_r16_means_sf1.py). The d-wide
    aggregate's per-row update cost scales WITH the data, so the
    setup-cost story was incomplete — posexplode is simply the faster
    shape for d=64 at any measured size; revisit only for d ≳ 512.)

    Deterministic init: the first k vectors by id (documented stand-in
    for k-means|| sampling; the iteration structure is what matters).
    Returns (cell, cv: array<double>).
    """
    pts = df.select(F.col(id_col),
                    F.col(emb_col).cast("array<double>").alias("v"))
    cents = (pts.filter(F.col(id_col) < k)
             .select(F.col(id_col).alias("cell"),
                     F.transform("v", lambda x: F.round(x, 6)).alias("cv")))
    for _ in range(n_iter):
        assigned = kmeans_assign(pts, cents, id_col)
        cents = (assigned
                 .select("cell", F.posexplode("v").alias("pos", "val"))
                 .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                 .select("cell",
                         F.transform("pm", lambda s: F.round(s["m"], 6))
                         .alias("cv")))
    return cents


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.3,
                             id_col: str = "vec_id",
                             emb_col: str = "embedding",
                             broadcast_max_bytes: int = BROADCAST_MAX_BYTES) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Size-guarded with zero extra jobs in the CLEAR cases: Catalyst's
    optimized-plan statistics (``sizeInBytes`` — file-size-derived for
    parquet scans) estimate the input, and a 4× margin covers
    f32-on-disk → dense-f64 in-memory expansion plus typical parquet
    compression. But file-size stats are a heuristic: quantized or
    low-entropy embeddings can dictionary/RLE-compress far better than
    2×, making the estimate dangerously low — so estimates that land
    NEAR the cap (within 8× either way) are re-checked with the exact
    count×width aggregate (one small job) before the broadcast kernel
    is allowed. Far-under-cap inputs broadcast with no job; far-over
    inputs go bucketed with no job; only borderline inputs pay the
    aggregate. The result: no unbounded ``collect()`` exists on this
    path at any data size — at billions of vectors the bucketed plan
    (``_near_dup_bucketed``, driver-free) is chosen automatically.
    """
    est = _plan_size_bytes(df)
    if est is not None:
        est4 = est * 4
        if est4 * 8 <= broadcast_max_bytes:      # safe even if est is 8× low
            _record_kernel("broadcast", est=est, exact=None,
                           cap=broadcast_max_bytes)
            return _near_dup_broadcast(df, threshold, id_col, emb_col)
        if est4 > broadcast_max_bytes * 8:       # hopeless even if 8× high
            _record_kernel("bucketed", est=est, exact=None,
                           cap=broadcast_max_bytes)
            return _near_dup_bucketed(df, threshold, id_col, emb_col)
    # borderline (or stats unavailable): exact dense-f64 bytes = n*d*8
    head = (df.groupBy()
            .agg(F.count("*").alias("n"), F.first(F.size(emb_col)).alias("d"))
            .first())
    exact = (head["n"] or 0) * (head["d"] or 0) * 8
    if exact <= broadcast_max_bytes:
        _record_kernel("broadcast", est=est, exact=exact,
                       cap=broadcast_max_bytes)
        return _near_dup_broadcast(df, threshold, id_col, emb_col)
    _record_kernel("bucketed", est=est, exact=exact,
                   cap=broadcast_max_bytes)
    return _near_dup_bucketed(df, threshold, id_col, emb_col)


# Last guard decision, for bench/diagnostic logging (VERDICT r08
# §next 4): which kernel ran, the plan-stats estimate, and the exact
# n·d·8 bytes when the borderline path computed it.
last_kernel_decision: dict = {}


def _record_kernel(kernel: str, est: int | None, exact: int | None,
                   cap: int) -> None:
    last_kernel_decision.clear()
    last_kernel_decision.update(
        kernel=kernel, plan_stats_bytes=est, exact_bytes=exact,
        cap_bytes=cap)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated relation size in bytes (no job). Private
    py4j surface — any failure degrades to the caller's fallback."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def _near_dup_broadcast(df: DataFrame, threshold: float,
                        id_col: str, emb_col: str) -> DataFrame:
    """Exact kernel: the comparison side becomes one dense float64
    matrix (bounded by the caller's size guard) and every input
    partition scores its rows against it with one BLAS matmul inside
    Arrow-batched ``mapInPandas``. No N² shuffle, no per-pair array
    allocation — this replaced a higher-order-function version that was
    75 µs/pair (150 s at sf0.1); the matmul does the same pairs in ~2 s.

    Similarity is rounded to 4dp and thresholded on the rounded value:
    BLAS pairwise summation and the oracle's sequential summation can
    differ in the last ulp, and 4dp makes that unobservable.
    """
    import pandas as pd

    spark = df.sparkSession
    rows = df.select(F.col(id_col), F.col(emb_col)).collect()
    if not rows:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def score(batches):
        m_ids, m = b_ids.value, b_mat.value
        for batch in batches:
            q = np.array(list(batch[emb_col]), dtype=np.float64)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = np.round(q @ m.T, 4)
            qid = batch[id_col].to_numpy(dtype=np.int64)
            keep = (sims >= threshold) & (qid[:, None] < m_ids[None, :])
            qi, mi = np.nonzero(keep)
            yield pd.DataFrame({"id_a": qid[qi], "id_b": m_ids[mi],
                                "cosine": sims[qi, mi]})

    out_schema = "id_a long, id_b long, cosine double"
    return df.select(id_col, emb_col).mapInPandas(score, out_schema)


def _lsh_params(threshold: float, target_recall: float = 0.8,
                max_tables: int = 16) -> tuple[int, int]:
    """(planes_per_table, n_tables) hitting ``target_recall`` for pairs
    at exactly ``threshold`` cosine. Per-plane collision probability is
    p = 1 - θ/π; a b-plane table collides with p^b and T OR-ed tables
    reach 1-(1-p^b)^T. Maximize b (buckets = 2^b — more planes → smaller
    buckets → smaller per-bucket quadratic) subject to T ≤ max_tables:
    high thresholds get many planes/few tables (cheap, tiny buckets);
    loose thresholds trade tables for recall. Pairs above the threshold
    collide strictly more often, so target_recall is a floor."""
    import math
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    for b in range(16, 1, -1):
        pb = p ** b
        if pb >= 1.0:
            return b, 1
        t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if t <= max_tables:
            return b, t
    return 2, max_tables


def _near_dup_bucketed(df: DataFrame, threshold: float,
                       id_col: str, emb_col: str) -> DataFrame:
    """Scale kernel: OR-amplified hyperplane LSH proposes candidate
    pairs (per-bucket posting lists — one shuffle, never all-pairs),
    then each candidate is re-scored EXACTLY by joining the embeddings
    back on both ids. Fully distributed: the only driver traffic is the
    job itself. Approximate in recall (pairs whose buckets never
    collide in any table are missed — table/plane counts are solved
    from the threshold by ``_lsh_params`` to floor recall at ~0.8),
    exact in precision (every emitted cosine is the true value, same
    4dp rounding as the broadcast kernel)."""
    planes_per_table, n_tables = _lsh_params(threshold)
    cand = lsh_multi_table_pairs(df, id_col, emb_col,
                                 n_tables=n_tables,
                                 planes_per_table=planes_per_table)
    a = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.round(cosine_similarity("emb_a", "emb_b"), 4).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                    "cosine"))


LSH_TABLES = 3
LSH_TABLE_PLANES = 10


def lsh_multi_table_pairs(df: DataFrame, id_col: str = "vec_id",
                          emb_col: str = "embedding",
                          n_tables: int = LSH_TABLES,
                          planes_per_table: int = LSH_TABLE_PLANES) -> DataFrame:
    """OR-amplified hyperplane LSH: T independent tables (seeds
    LSH_SEED+t), candidates = union of per-table bucket collisions.

    A single table with b bits finds a pair with probability
    (1 - θ/π)^b (θ = angle); OR-ing T tables lifts recall to
    1-(1-p)^T while the per-table bucket count 2^b keeps buckets — and
    therefore the quadratic in-bucket pair step — small. That is the
    knob a 100 TB ANN pass tunes: more tables → recall, more bits →
    smaller buckets. Pairs come from per-bucket posting lists (one
    shuffle per nothing extra — the union is map-side; dedup of pairs
    found by several tables is the final distinct).
    """
    from .dedup import pairs_from_postings
    tables = []
    for t in range(n_tables):
        planes = hyperplanes(planes_per_table, seed=LSH_SEED + t)
        bits = [F.when(_dot_with_literal(F.col(emb_col), p) >= 0, "1")
                .otherwise("0") for p in planes]
        tables.append(df.select(F.col(id_col), F.lit(t).alias("tbl"),
                                F.concat(*bits).alias("bucket")))
    banded = tables[0]
    for other in tables[1:]:
        banded = banded.unionByName(other)
    return (pairs_from_postings(banded, ["tbl", "bucket"], id_col)
            .distinct())


# --------------------------------------------- fixed-point vectors

_SQ_L2_CONTRACT = ("_sq_l2_int: vectors must be non-null, hold no null "
                  "element and have equal length")


def _int_vec(emb_col: str):
    """The engine's one fixed-point vector format: each element
    quantized once to ``BIGINT(round(x * 1e6))`` — the exact-algebra
    discipline (see llm/features.py covariance). Every distance, dot
    product and centroid sum downstream is then an exact integer sum,
    so no float summation order can flip a code assignment or a
    ranking between engines or between partitionings. The DuckDB
    oracles spell the same format as ``CAST(round(v[i] * 1000000) AS
    BIGINT)``; callers that need (pos, x) rows ``posexplode`` this."""
    return F.transform(F.col(emb_col).cast("array<double>"),
                       lambda x: F.round(x * 1e6).cast("long"))


def _sq_l2_int(a, b):
    """The one exact integer squared-L2 between two ``_int_vec``
    vectors (a JVM zip_with/aggregate fold: no shuffle, no float).

    Contract: both vectors are non-null, hold no null element and
    have the same length (d = 64 in the ``embeddings`` table). The
    fold is null exactly when that fails (zip_with pads the shorter
    side with nulls), and the coalesce turns that null into one
    ``USER_RAISED_EXCEPTION`` carrying ``_SQ_L2_CONTRACT`` — checked
    lazily per row, so it starts no job and the result stays
    ``bigint``."""
    d = F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
    return F.coalesce(d, F.raise_error(F.lit(_SQ_L2_CONTRACT)))


# --------------------------------------------------------------- PQ

PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_int_subvectors(df: DataFrame, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      m_sub: int = PQ_SUBSPACES,
                      dim: int = EMB_DIM) -> DataFrame:
    """Explode each vector into ``m_sub`` integer-quantized subvectors
    (``_int_vec`` elements). Output: (id, sub, sv array<bigint> of
    length dim/m_sub).
    """
    d_sub = dim // m_sub
    q = _int_vec(emb_col)
    subs = F.array(*[
        F.struct(F.lit(s).alias("sub"),
                 F.slice(q, s * d_sub + 1, d_sub).alias("sv"))
        for s in range(m_sub)
    ])
    return (df.select(F.col(id_col), F.explode(subs).alias("p"))
            .select(id_col, F.col("p.sub").alias("sub"),
                    F.col("p.sv").alias("sv")))


def pq_codebook(df: DataFrame, id_col: str = "vec_id",
                emb_col: str = "embedding",
                m_sub: int = PQ_SUBSPACES, k: int = PQ_CODES) -> DataFrame:
    """Deterministic PQ codebook: per subspace, the ``k`` training
    centroids are the subvectors of the first ``k`` ids (a production
    build would Lloyd-refine per subspace — ``kmeans_centroids`` shows
    that loop; the index layout and search path are identical).
    Output: (sub, code, cv) — m_sub*k rows, always broadcastable
    (for d=1024, m=64, k=256 it is 64 KiB of ints — the whole point of
    PQ is that the codebook is tiny while codes compress N*d floats
    ~32x)."""
    subs = pq_int_subvectors(df, id_col, emb_col, m_sub)
    return (subs.filter(F.col(id_col) < k)
            .select("sub", F.col(id_col).cast("int").alias("code"),
                    F.col("sv").alias("cv")))


def pq_encode(df: DataFrame, codebook: DataFrame, id_col: str = "vec_id",
              emb_col: str = "embedding",
              m_sub: int = PQ_SUBSPACES) -> DataFrame:
    """Encode every vector as ``m_sub`` nibble/byte codes: per
    subspace, the argmin-distance centroid (exact integer distances;
    ties broken by code). The codebook broadcasts; assignment is a
    map-side join + per-(id, sub) argmin window. Codes are what an
    index persists at scale: N*m_sub small ints instead of N*d floats
    — 100 TB of f32 vectors become ~3 TB of codes.
    Output: (id, sub, code, dist_sq)."""
    subs = pq_int_subvectors(df, id_col, emb_col, m_sub)
    scored = (subs.join(F.broadcast(codebook), "sub")
              .select(id_col, "sub", "code",
                      _sq_l2_int(F.col("sv"), F.col("cv")).alias("dist_sq")))
    w = Window.partitionBy(id_col, "sub").orderBy("dist_sq", "code")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "sub", "code", "dist_sq"))


def pq_adc_topk(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                k: int = 5, id_col: str = "vec_id",
                emb_col: str = "embedding",
                m_sub: int = PQ_SUBSPACES) -> DataFrame:
    """Asymmetric-distance (ADC) search over PQ codes.

    Each query builds a per-subspace lookup table — exact integer
    distance from the query subvector to every centroid
    (|q|*m_sub*k rows; tiny, broadcast). Scoring a database vector is
    then a LUT join on (sub, code) + an integer sum over its m_sub
    code rows: the database embeddings are never touched, which is why
    ADC scans billions of codes cheaply. Top-k per query by (distance,
    id) via window — a per-query partial sort. At 100 TB this kernel
    runs inside IVF cells (compose with ``ivf_assign``: codes carry
    the cell key, the LUT join prunes to probed cells first).
    Output: (q_id, id, adc_dist float = exact int / 1e12, rank).
    """
    qsubs = (pq_int_subvectors(queries, id_col, emb_col, m_sub)
             .withColumnRenamed(id_col, "q_id"))
    lut = (qsubs.join(F.broadcast(codebook), "sub")
           .select("q_id", "sub", "code",
                   _sq_l2_int(F.col("sv"), F.col("cv")).alias("d")))
    totals = (codes.join(F.broadcast(lut), ["sub", "code"])
              .filter(F.col("q_id") != F.col(id_col))
              .groupBy("q_id", id_col)
              .agg(F.sum("d").alias("adc_int")))
    w = Window.partitionBy("q_id").orderBy("adc_int", id_col)
    return (totals.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col(id_col),
                    F.round(F.col("adc_int") / F.lit(1e12), 6).alias("adc_dist"),
                    "rank"))


# ------------------------------------------------------------ DBSCAN

def dbscan_lsh(df: DataFrame, eps2_scaled: int, min_pts: int,
               id_col: str = "vec_id",
               emb_col: str = "embedding") -> DataFrame:
    """Density-based clustering (DBSCAN) over an embedding column,
    with OR-amplified LSH proposing the neighbor candidates.

    Classic DBSCAN needs every point's eps-neighborhood — a range
    query that is quadratic done naively. Here candidates come from
    ``lsh_multi_table_pairs`` (per-bucket posting lists, one shuffle,
    never all-pairs) and only candidates are distance-checked, so the
    plan stays keyed at any corpus size; pairs whose buckets never
    collide are missed (recall floor tunes with table count — the
    standard LSH-DBSCAN trade documented for ANN here).

    Distances are EXACT integer squared-L2 over 1e6-quantized
    elements (``eps2_scaled`` = eps^2 * 1e12), so core status, cluster
    membership, and labels are engine- and partition-independent.
    Stages: candidate distance check -> degree count -> core filter
    (>= min_pts-1 neighbors, self excluded) -> connected components
    over core-core edges (iterative min-label) -> border attachment
    (non-core point joins its minimum-labeled core neighbor).

    Returns (id, role 'core'|'border'|'noise', cluster — NULL for
    noise).
    """
    from .dedup import connected_components

    pts = df.select(F.col(id_col), _int_vec(emb_col).alias("iv"))
    cand = lsh_multi_table_pairs(df, id_col, emb_col)
    a = pts.select(F.col(id_col).alias("id_a"), F.col("iv").alias("va"))
    b = pts.select(F.col(id_col).alias("id_b"), F.col("iv").alias("vb"))
    close = (cand.join(a, "id_a").join(b, "id_b")
             .filter(_sq_l2_int(F.col("va"), F.col("vb"))
                     <= F.lit(eps2_scaled))
             .select("id_a", "id_b"))
    nbr = close.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    nbr = nbr.union(nbr.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nbr = nbr.localCheckpoint()
    deg = nbr.groupBy("u").agg(F.count("*").alias("deg"))
    core = deg.filter(F.col("deg") >= min_pts - 1).select("u")
    cs = core.select(F.col("u").alias("cu"))
    ce = (nbr.join(core, "u")
          .join(cs, nbr.v == cs.cu)
          .filter(F.col("u") < F.col("v"))
          .select(F.col("u").alias("id_a"), F.col("v").alias("id_b")))
    # max_iter raised well past the default 25: DBSCAN's signature
    # clusters are long eps-chains of core points, and the oracle's
    # recursive CTE always reaches the fixpoint — the label pass must
    # too. connected_components exits early on convergence, so the
    # higher cap costs nothing once the diameter is covered.
    comp = connected_components(ce, max_iter=200)
    core_lab = (core.join(comp, "u", "left")
                .select("u", F.coalesce("label", F.col("u")).alias("label"))
                .localCheckpoint())
    is_core = core_lab.select(F.col("u").alias("k")).withColumn(
        "c_flag", F.lit(1))
    border = (nbr.join(core_lab.withColumnRenamed("u", "v")
                       .withColumnRenamed("label", "v_label"), "v")
              .join(is_core, F.col("u") == F.col("k"), "left_anti")
              .groupBy("u").agg(F.min("v_label").alias("label")))
    out_core = core_lab.select("u", F.lit("core").alias("role"), "label")
    out_border = border.select("u", F.lit("border").alias("role"), "label")
    assigned = out_core.unionAll(out_border)
    noise = (pts.select(F.col(id_col).alias("u"))
             .join(assigned.select("u"), "u", "left_anti")
             .select("u", F.lit("noise").alias("role"),
                     F.lit(None).cast(dict(pts.dtypes)[id_col]).alias("label")))
    return (assigned.unionAll(noise)
            .select(F.col("u").alias(id_col), "role",
                    F.col("label").alias("cluster")))


# ----------------------------------------------------------- IVFADC

def ivfadc_index(df: DataFrame, n_cells: int = 8, m_sub: int = PQ_SUBSPACES,
                 k: int = PQ_CODES, cb_offset: int = 8,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 dim: int = EMB_DIM):
    """Build the FAISS-style IVFADC index layout: coarse quantizer
    cells + product-quantized RESIDUALS (x - centroid) per cell.

    Returns (cents, cb, codes):
    - cents (cell, cv): integer coarse centroids (first ``n_cells``
      ids — deterministic; a production build Lloyd-refines with
      ``kmeans_centroids``, the layout is identical);
    - cb (sub, code, cv2): the shared residual codebook (subvectors of
      ids [cb_offset, cb_offset+k) — offset past the centroids so no
      zero-residual degenerates train it);
    - codes (id, cell, sub, code): the persisted index — N*m small
      ints partitionable BY CELL, which is the 100 TB layout: a probe
      touches only its cells' code partitions.

    Every distance is an exact integer sum over 1e6-quantized
    elements; residuals subtract exactly; assignment ties break on
    cell/code id — the whole index is bit-reproducible.
    """
    d_sub = dim // m_sub
    pts = df.select(F.col(id_col), _int_vec(emb_col).alias("iv"))
    cents = (pts.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).cast("int").alias("cell"),
                     F.col("iv").alias("cv")))
    w = Window.partitionBy(id_col).orderBy("d", "cell")
    assigned = (pts.crossJoin(F.broadcast(cents))
                .select(id_col, "iv", "cell", "cv",
                        _sq_l2_int(F.col("iv"), F.col("cv")).alias("d"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(id_col, "cell",
                        F.zip_with("iv", "cv", lambda x, y: x - y)
                        .alias("rv")))
    subs = F.array(*[
        F.struct(F.lit(s).alias("sub"),
                 F.slice("rv", s * d_sub + 1, d_sub).alias("sv"))
        for s in range(m_sub)])
    rsubs = (assigned.select(id_col, "cell", F.explode(subs).alias("p"))
             .select(id_col, "cell", F.col("p.sub").alias("sub"),
                     F.col("p.sv").alias("sv")))
    cb = (rsubs.filter((F.col(id_col) >= cb_offset)
                       & (F.col(id_col) < cb_offset + k))
          .select("sub", (F.col(id_col) - cb_offset).cast("int")
                  .alias("code"), F.col("sv").alias("cv2")))
    wc = Window.partitionBy(id_col, "sub").orderBy("d", "code")
    codes = (rsubs.join(F.broadcast(cb), "sub")
             .select(id_col, "cell", "sub", "code",
                     _sq_l2_int(F.col("sv"), F.col("cv2")).alias("d"))
             .withColumn("rn", F.row_number().over(wc))
             .filter(F.col("rn") == 1)
             .select(id_col, "cell", "sub", "code"))
    return cents, cb, codes


def ivfadc_search(queries: DataFrame, cents: DataFrame, cb: DataFrame,
                  codes: DataFrame, nprobe: int = 2, topk: int = 5,
                  m_sub: int = PQ_SUBSPACES, id_col: str = "vec_id",
                  emb_col: str = "embedding",
                  dim: int = EMB_DIM) -> DataFrame:
    """IVFADC query path: probe the ``nprobe`` nearest cells, compute
    the per-(cell, subspace) residual LUT against the codebook, score
    candidates through a LUT join + m-row integer sum — raw database
    vectors never participate (the ADC property), and only probed
    cells' codes are read (the IVF property). Output: (q_id, id, cell,
    adc_dist, rank)."""
    d_sub = dim // m_sub
    qs = queries.select(F.col(id_col).alias("q_id"),
                        _int_vec(emb_col).alias("qv"))
    wp = Window.partitionBy("q_id").orderBy("d", "cell")
    probes = (qs.crossJoin(F.broadcast(cents))
              .select("q_id", "qv", "cell", "cv",
                      _sq_l2_int(F.col("qv"), F.col("cv")).alias("d"))
              .withColumn("rn", F.row_number().over(wp))
              .filter(F.col("rn") <= nprobe)
              .select("q_id", "qv", "cell", "cv"))
    qres = probes.select(
        "q_id", "cell",
        F.zip_with("qv", "cv", lambda x, y: x - y).alias("qr"))
    subs = F.array(*[
        F.struct(F.lit(s).alias("sub"),
                 F.slice("qr", s * d_sub + 1, d_sub).alias("qsv"))
        for s in range(m_sub)])
    qrsubs = (qres.select("q_id", "cell", F.explode(subs).alias("p"))
              .select("q_id", "cell", F.col("p.sub").alias("sub"),
                      F.col("p.qsv").alias("qsv")))
    lut = (qrsubs.join(F.broadcast(cb), "sub")
           .select("q_id", "cell", "sub", "code",
                   _sq_l2_int(F.col("qsv"), F.col("cv2")).alias("d")))
    cand = (codes.join(F.broadcast(probes.select("q_id", "cell")), "cell")
            .filter(F.col(id_col) != F.col("q_id")))
    tot = (cand.join(F.broadcast(lut), ["q_id", "cell", "sub", "code"])
           .groupBy("q_id", id_col, "cell")
           .agg(F.sum("d").alias("adc_int")))
    wr = Window.partitionBy("q_id").orderBy("adc_int", id_col)
    return (tot.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= topk)
            .select("q_id", F.col(id_col), "cell",
                    F.round(F.col("adc_int") / F.lit(1e12), 6)
                    .alias("adc_dist"), "rank"))


# --------------------------------------------- residual quantization

RQ_K1 = 16   # level-1 (coarse) centroids
RQ_K2 = 16   # level-2 (residual) centroids


def rq_codebooks(df: DataFrame, id_col: str = "vec_id",
                 emb_col: str = "embedding",
                 k1: int = RQ_K1, k2: int = RQ_K2):
    """Deterministic two-level residual-quantization codebooks (RVQ —
    the additive-codebook family behind modern retrieval and neural
    audio codecs): level 1 = the first ``k1`` vectors; level 2 = the
    RESIDUALS of the next ``k2`` vectors after level-1 assignment (a
    production build Lloyd-refines each level; layout and search are
    identical), PLUS a reserved all-zero centroid at ``code2 = k2`` —
    standard RVQ practice: "leave the residual uncorrected" is always
    an available code, which guarantees the level-2 reconstruction
    error never exceeds the level-1 error per vector (monotone
    refinement). Both are tiny (k*d ints) and always broadcast.
    Returns (cb1, cb2): (code1, cv1) / (code2, cv2)."""
    v = df.select(F.col(id_col), _int_vec(emb_col).alias("v"))
    cb1 = (v.filter(F.col(id_col) < k1)
           .select(F.col(id_col).cast("int").alias("code1"),
                   F.col("v").alias("cv1")))
    train2 = (v.filter((F.col(id_col) >= k1) & (F.col(id_col) < k1 + k2))
              .crossJoin(F.broadcast(cb1))
              .withColumn("d1", _sq_l2_int(F.col("v"), F.col("cv1"))))
    w = Window.partitionBy(id_col).orderBy("d1", "code1")
    cb2 = (train2.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select((F.col(id_col) - k1).cast("int").alias("code2"),
                   F.zip_with("v", "cv1", lambda x, y: x - y)
                   .alias("cv2")))
    zero = (cb1.limit(1)
            .select(F.lit(k2).cast("int").alias("code2"),
                    F.transform("cv1", lambda x: F.lit(0).cast("long"))
                    .alias("cv2")))
    return cb1, cb2.unionByName(zero)


def rq_encode(df: DataFrame, cb1: DataFrame, cb2: DataFrame,
              id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """Encode each vector as (c1, c2): nearest level-1 centroid by
    exact integer L2 (ties by code), then nearest level-2 centroid to
    the residual. Both assignments are broadcast joins + per-id argmin
    windows — one shuffle on the vector id per level, never
    vector x vector. Output: (id, c1, d1_int, c2, recon_int) where
    recon_int = ||v - cv1(c1) - cv2(c2)||^2, the two-level
    reconstruction error (<= d1_int by construction)."""
    v = df.select(F.col(id_col), _int_vec(emb_col).alias("v"))
    s1 = (v.crossJoin(F.broadcast(cb1))
          .withColumn("d1", _sq_l2_int(F.col("v"), F.col("cv1"))))
    w1 = Window.partitionBy(id_col).orderBy("d1", "code1")
    a1 = (s1.withColumn("rn", F.row_number().over(w1))
          .filter(F.col("rn") == 1)
          .select(id_col, F.col("code1").alias("c1"),
                  F.col("d1").alias("d1_int"),
                  F.zip_with("v", "cv1", lambda x, y: x - y).alias("r")))
    s2 = (a1.crossJoin(F.broadcast(cb2))
          .withColumn("d2", _sq_l2_int(F.col("r"), F.col("cv2"))))
    w2 = Window.partitionBy(id_col).orderBy("d2", "code2")
    return (s2.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") == 1)
            .select(id_col, "c1", "d1_int",
                    F.col("code2").alias("c2"),
                    F.col("d2").alias("recon_int")))


def rq_adc_topk(codes: DataFrame, cb1: DataFrame, cb2: DataFrame,
                queries: DataFrame, k: int = 5, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """Two-level asymmetric-distance search over RQ codes via the
    exact integer decomposition
    ``||q - c1 - c2||^2 = L1[c1] + (||c2||^2 - 2 q.c2) + 2 c1.c2``:
    two per-query LUTs (|q|*k1 and |q|*k2 rows) plus ONE
    query-independent k1 x k2 cross table — all broadcast; scoring a
    database vector is three lookups and an integer add, the raw
    embeddings never enter the scan (the RQ analog of pq_adc_topk,
    same 100 TB posture: compose with ivf_assign to score only probed
    cells). Output: (q_id, id, rq_dist float = exact int / 1e12,
    rank)."""
    qv = queries.select(F.col(id_col).alias("q_id"),
                        _int_vec(emb_col).alias("v"))
    l1 = (qv.crossJoin(F.broadcast(cb1))
          .select("q_id", F.col("code1").alias("c1"),
                  _sq_l2_int(F.col("v"), F.col("cv1")).alias("t1")))
    l2 = (qv.crossJoin(F.broadcast(cb2))
          .select("q_id", F.col("code2").alias("c2"),
                  F.aggregate(
                      F.zip_with("v", "cv2",
                                 lambda x, z: z * z - 2 * x * z),
                      F.lit(0).cast("long"),
                      lambda acc, t: acc + t).alias("t2")))
    cross = (cb1.crossJoin(cb2)
             .select(F.col("code1").alias("c1"),
                     F.col("code2").alias("c2"),
                     (2 * F.aggregate(
                         F.zip_with("cv1", "cv2", lambda y, z: y * z),
                         F.lit(0).cast("long"),
                         lambda acc, t: acc + t)).alias("t12")))
    tot = (codes.select(id_col, "c1", "c2")
           .join(F.broadcast(cross), ["c1", "c2"])
           .join(F.broadcast(l1), "c1")
           .join(F.broadcast(l2), ["q_id", "c2"])
           .filter(F.col("q_id") != F.col(id_col))
           .select("q_id", id_col,
                   (F.col("t1") + F.col("t2") + F.col("t12"))
                   .alias("rq_int")))
    w = Window.partitionBy("q_id").orderBy("rq_int", id_col)
    return (tot.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col(id_col),
                    F.round(F.col("rq_int") / F.lit(1e12), 6)
                    .alias("rq_dist"),
                    "rank"))
