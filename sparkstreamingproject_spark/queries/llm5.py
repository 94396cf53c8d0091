"""Round-4 continuation, wave 12: product quantization (PQ) — the
FAISS-style compressed-vector ANN family (Jégou et al., TPAMI 2011).
Two queries: codebook/encode statistics and asymmetric-distance (ADC)
top-k search. Registered past the r04 driver cap; r05 window
candidates.

Float discipline: embedding elements are quantized ONCE to
BIGINT(round(x*1e6)) in both engines (the exact-algebra recipe from
embedding_covariance); every distance is then an exact integer sum of
squared integer diffs, so code assignment, ADC totals, and every
ranking are partition-order- and engine-independent. The only floats
are terminal divides by 1e12, rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm.similarity import _int_vec
from .base import register, table

_M_SUB = 8       # subspaces (d=64 -> 8 dims each)
_K_CODES = 16    # centroids per subspace (nibble codes)
_N_QUERIES = 8   # ADC query set: vec_id < 8
_TOPK = 5

# shared oracle prelude: integer-quantized elements keyed by
# (vec_id, sub, pos_in); codebook = subvectors of the first K ids
_PQ_PRELUDE = f"""
    pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
    el AS (SELECT vec_id,
                  CAST((i - 1) // {64 // _M_SUB} AS INT) AS sub,
                  CAST((i - 1) % {64 // _M_SUB} AS INT) AS pos_in,
                  CAST(round(v[i] * 1000000) AS BIGINT) AS x
           FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    cb AS (SELECT sub, CAST(vec_id AS INT) AS code, pos_in, x AS y
           FROM el WHERE vec_id < {_K_CODES}),
    dist AS (SELECT e.vec_id, e.sub, c.code,
                    sum((e.x - c.y) * (e.x - c.y)) AS d
             FROM el e JOIN cb c
               ON e.sub = c.sub AND e.pos_in = c.pos_in
             GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, sub, code, d FROM (
                SELECT vec_id, sub, code, d,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d, code) AS rn
                FROM dist) WHERE rn = 1)
"""


@register(
    "embedding_pq_codebook",
    oracle=f"""
    WITH {_PQ_PRELUDE}
    SELECT sub, code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           min(vec_id) AS min_vec_id,
           round(CAST(sum(CAST(d AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*) / 1e12, 6) AS avg_sq_err
    FROM codes
    GROUP BY sub, code
    """,
    tags=("llm", "similarity", "pq"),
)
def embedding_pq_codebook(spark, sf_dir):
    """PQ codebook population + quantization error per (subspace,
    code) cell (llm/similarity.py:pq_codebook/pq_encode). The codebook
    (m*k subvectors of ints) broadcasts; encoding is a map-side join +
    per-(id, sub) argmin window — one shuffle on the vector id, never
    vector x vector. Codes are the persisted index: N*m bytes instead
    of N*d floats (~32x), which is what makes 100 TB of embeddings
    scannable."""
    from ..llm.similarity import pq_codebook, pq_encode
    emb = table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, m_sub=_M_SUB, k=_K_CODES)
    codes = pq_encode(emb, cb, m_sub=_M_SUB)
    n = F.count("*")
    return (codes.groupBy("sub", "code")
            .agg(n.alias("n_vectors"),
                 F.min("vec_id").alias("min_vec_id"),
                 F.round(
                     F.sum(F.col("dist_sq").cast("decimal(38,0)"))
                     .cast("double") / F.count("*") / F.lit(1e12),
                     6).alias("avg_sq_err")))


@register(
    "sim_ann_pq_adc",
    oracle=f"""
    WITH {_PQ_PRELUDE},
    q AS (SELECT vec_id AS q_id, sub, pos_in, x
          FROM el WHERE vec_id < {_N_QUERIES}),
    lut AS (SELECT q.q_id, q.sub, c.code,
                   sum((q.x - c.y) * (q.x - c.y)) AS d
            FROM q JOIN cb c ON q.sub = c.sub AND q.pos_in = c.pos_in
            GROUP BY 1, 2, 3),
    tot AS (SELECT l.q_id, cd.vec_id, sum(l.d) AS adc_int
            FROM codes cd JOIN lut l
              ON cd.sub = l.sub AND cd.code = l.code
            WHERE l.q_id <> cd.vec_id
            GROUP BY 1, 2)
    SELECT q_id, vec_id,
           round(CAST(adc_int AS DOUBLE) / 1e12, 6) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (SELECT q_id, vec_id, adc_int,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc_int, vec_id) AS rank
          FROM tot)
    WHERE rank <= {_TOPK}
    """,
    tags=("llm", "similarity", "pq"),
)
def sim_ann_pq_adc(spark, sf_dir):
    """ADC top-5 neighbors for 8 query vectors over PQ codes
    (llm/similarity.py:pq_adc_topk). Each query precomputes a
    per-subspace distance LUT to every centroid (|q|*m*k rows —
    broadcast); scoring touches only the CODES relation via a LUT join
    + integer sum over m rows per vector. The raw embeddings never
    participate in the scan — the property that lets ADC rank billions
    of vectors; at scale the same kernel runs inside IVF cells
    (compose with ivf_assign) so only probed cells are scored."""
    from ..llm.similarity import pq_adc_topk, pq_codebook, pq_encode
    emb = table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, m_sub=_M_SUB, k=_K_CODES)
    codes = pq_encode(emb, cb, m_sub=_M_SUB)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return pq_adc_topk(codes, cb, queries, k=_TOPK, m_sub=_M_SUB)


# ------------------------------------------------ DBSCAN

_DB_EPS2 = 1_690_000_000_000   # eps = 1.3 -> eps^2 * 1e12, exact literal
_DB_MINPTS = 4


def _dbscan_oracle() -> str:
    from ..llm import similarity as S
    selects = []
    for t in range(S.LSH_TABLES):
        planes = S.hyperplanes(S.LSH_TABLE_PLANES, seed=S.LSH_SEED + t)
        bits = " || ".join(
            "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{p!r}::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes)
        selects.append(
            f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM embeddings")
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH RECURSIVE b AS ({union}),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM b x JOIN b y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
    pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
    el AS (SELECT vec_id, CAST(i AS INT) AS pos,
                  CAST(round(v[i] * 1000000) AS BIGINT) AS x
           FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    d2 AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN el a ON a.vec_id = c.id_a
      JOIN el e2 ON e2.vec_id = c.id_b AND e2.pos = a.pos
      GROUP BY c.id_a, c.id_b
      HAVING sum((a.x - e2.x) * (a.x - e2.x)) <= {_DB_EPS2}),
    nbr AS (SELECT id_a AS u, id_b AS v FROM d2
            UNION ALL SELECT id_b, id_a FROM d2),
    deg AS (SELECT u, count(*) AS deg FROM nbr GROUP BY u),
    core AS (SELECT u FROM deg WHERE deg >= {_DB_MINPTS - 1}),
    ce AS (SELECT n.u, n.v FROM nbr n
           JOIN core c1 ON n.u = c1.u JOIN core c2 ON n.v = c2.u),
    walk(u, label) AS (
      SELECT u, u FROM core
      UNION
      SELECT ce.v, walk.label FROM walk JOIN ce ON ce.u = walk.u),
    comp AS (SELECT u, min(label) AS label FROM walk GROUP BY u),
    border AS (
      SELECT n.u, min(c.label) AS label
      FROM nbr n JOIN comp c ON n.v = c.u
      WHERE n.u NOT IN (SELECT u FROM core)
      GROUP BY n.u),
    assigned AS (
      SELECT u, 'core' AS role, label FROM comp
      UNION ALL
      SELECT u, 'border' AS role, label FROM border)
    SELECT p.vec_id, coalesce(a.role, 'noise') AS role,
           a.label AS cluster
    FROM pts p LEFT JOIN assigned a ON p.vec_id = a.u
    """


@register("cluster_dbscan_lsh", oracle=_dbscan_oracle(),
          tags=("llm", "similarity", "cluster"))
def cluster_dbscan_lsh(spark, sf_dir):
    """DBSCAN over the corpus embeddings (llm/similarity.py:
    dbscan_lsh — eps=1.3, minPts=4): density-based clusters with
    core/border/noise roles, the clustering that finds arbitrarily-
    shaped dense groups k-means can't (`sim_ivf_kmeans_cells` is the
    centroid sibling; `dedup_cluster_keep_best` consumes exactly this
    kind of cluster assignment). Neighbor candidates come from the
    OR-amplified LSH index — per-bucket posting lists, never
    all-pairs — and every distance/label decision is exact integer
    algebra, so even this multi-stage iterative operator hash-matches
    a recursive-CTE oracle."""
    from ..llm.similarity import dbscan_lsh
    emb = table(spark, sf_dir, "embeddings")
    return dbscan_lsh(emb, _DB_EPS2, _DB_MINPTS)


# ------------------------------------------------ IVFADC

_IVFADC_CELLS = 8
_IVFADC_CB_OFF = 8    # codebook trains on ids 8..23 (past the centroids)
_IVFADC_QLO = 24      # queries: ids 24..31
_IVFADC_QHI = 32
_IVFADC_NPROBE = 2
_IVFADC_TOPK = 5


def _ivfadc_oracle() -> str:
    k = _K_CODES
    return f"""
    WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    el AS (SELECT vec_id,
                  CAST((i - 1) // {64 // _M_SUB} AS INT) AS sub,
                  CAST((i - 1) % {64 // _M_SUB} AS INT) AS pos_in,
                  CAST(i - 1 AS INT) AS pos,
                  CAST(round(v[i] * 1000000) AS BIGINT) AS x
           FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, pos, x AS cx
              FROM el WHERE vec_id < {_IVFADC_CELLS}),
    cd AS (SELECT e.vec_id, c.cell, sum((e.x - c.cx) * (e.x - c.cx)) AS d
           FROM el e JOIN cents c ON e.pos = c.pos
           GROUP BY 1, 2),
    asg AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d, cell) AS rn
              FROM cd) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.cell, e.sub, e.pos_in, e.pos,
                   e.x - c.cx AS r
            FROM el e
            JOIN asg a ON a.vec_id = e.vec_id
            JOIN cents c ON c.cell = a.cell AND c.pos = e.pos),
    cb AS (SELECT sub, CAST(vec_id - {_IVFADC_CB_OFF} AS INT) AS code,
                  pos_in, r AS y
           FROM res WHERE vec_id >= {_IVFADC_CB_OFF}
                      AND vec_id < {_IVFADC_CB_OFF + k}),
    cdist AS (SELECT r.vec_id, r.cell, r.sub, b.code,
                     sum((r.r - b.y) * (r.r - b.y)) AS d
              FROM res r JOIN cb b
                ON b.sub = r.sub AND b.pos_in = r.pos_in
              GROUP BY 1, 2, 3, 4),
    codes AS (SELECT vec_id, cell, sub, code FROM (
                SELECT vec_id, cell, sub, code,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d, code) AS rn
                FROM cdist) WHERE rn = 1),
    qel AS (SELECT vec_id AS q_id, sub, pos_in, pos, x FROM el
            WHERE vec_id >= {_IVFADC_QLO} AND vec_id < {_IVFADC_QHI}),
    qcd AS (SELECT q.q_id, c.cell, sum((q.x - c.cx) * (q.x - c.cx)) AS d
            FROM qel q JOIN cents c ON q.pos = c.pos
            GROUP BY 1, 2),
    probes AS (SELECT q_id, cell FROM (
                 SELECT q_id, cell,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY d, cell) AS rn
                 FROM qcd) WHERE rn <= {_IVFADC_NPROBE}),
    qres AS (SELECT q.q_id, p.cell, q.sub, q.pos_in, q.x - c.cx AS qr
             FROM qel q
             JOIN probes p ON p.q_id = q.q_id
             JOIN cents c ON c.cell = p.cell AND c.pos = q.pos),
    lut AS (SELECT r.q_id, r.cell, r.sub, b.code,
                   sum((r.qr - b.y) * (r.qr - b.y)) AS d
            FROM qres r JOIN cb b
              ON b.sub = r.sub AND b.pos_in = r.pos_in
            GROUP BY 1, 2, 3, 4),
    tot AS (SELECT p.q_id, cd2.vec_id, cd2.cell,
                   sum(l.d) AS adc_int
            FROM probes p
            JOIN codes cd2 ON cd2.cell = p.cell AND cd2.vec_id <> p.q_id
            JOIN lut l ON l.q_id = p.q_id AND l.cell = cd2.cell
                      AND l.sub = cd2.sub AND l.code = cd2.code
            GROUP BY 1, 2, 3)
    SELECT q_id, vec_id, CAST(cell AS INT) AS cell,
           round(CAST(adc_int AS DOUBLE) / 1e12, 6) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (SELECT q_id, vec_id, cell, adc_int,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc_int, vec_id) AS rank
          FROM tot)
    WHERE rank <= {_IVFADC_TOPK}
    """


@register("sim_ann_ivfadc", oracle=_ivfadc_oracle(),
          tags=("llm", "similarity", "pq"))
def sim_ann_ivfadc(spark, sf_dir):
    """The complete IVFADC pipeline (llm/similarity.py:ivfadc_index /
    ivfadc_search) — the layout FAISS ships for billion-scale ANN:
    coarse quantizer cells + product-quantized RESIDUALS, probed
    nprobe=2 cells per query, ADC scoring through a residual LUT join.
    This composes the registry's IVF (`sim_ivf_kmeans_cells`) and PQ
    (`sim_ann_pq_adc`) halves into the real thing: only probed cells'
    codes are read (IVF), raw vectors never participate in the scan
    (ADC), and residual encoding shrinks quantization error vs plain
    PQ. Integer-exact end to end; even this 4-stage index
    hash-matches its oracle."""
    from ..llm.similarity import ivfadc_index, ivfadc_search
    emb = table(spark, sf_dir, "embeddings")
    cents, cb, codes = ivfadc_index(
        emb, n_cells=_IVFADC_CELLS, m_sub=_M_SUB, k=_K_CODES,
        cb_offset=_IVFADC_CB_OFF)
    queries = emb.filter((F.col("vec_id") >= _IVFADC_QLO)
                         & (F.col("vec_id") < _IVFADC_QHI))
    return ivfadc_search(queries, cents, cb, codes,
                         nprobe=_IVFADC_NPROBE, topk=_IVFADC_TOPK,
                         m_sub=_M_SUB)


# ------------------------------------- top eigenvector (power iteration)

_PI_ITERS = 3

# the Gram/covariance CTEs are SHARED with the embedding_covariance
# oracle (llm2.GRAM_CTE / COV_EXPR — one definition); cq applies the
# SAME two-step rounding as the Spark side (cov rounded to 6dp first,
# then scaled to an integer) so no double-rounding asymmetry exists
# between engines
from .llm2 import COV_EXPR, GRAM_CTE  # noqa: E402

_CMAT_CTE = f"""{GRAM_CTE},
    cmat AS (
      SELECT g.i, g.j,
             CAST(round(round({COV_EXPR}, 6) * 1000000) AS BIGINT) AS cq
      FROM g JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j)"""


def _eigvec_oracle() -> str:
    parts = [f"""
    WITH {_CMAT_CTE},
    dims AS (SELECT DISTINCT i FROM cmat),
    v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM dims)"""]
    for t in range(1, _PI_ITERS + 1):
        parts.append(f""",
    r{t} AS (SELECT c.i, CAST(sum(c.cq * v.p) AS BIGINT) AS raw
             FROM cmat c JOIN v{t - 1} v ON v.i = c.j
             GROUP BY c.i),
    v{t} AS (SELECT i, CAST(round(CAST(raw AS DOUBLE) * 1000000
                                  / (SELECT max(abs(raw)) FROM r{t}))
                            AS BIGINT) AS p
             FROM r{t})""")
    parts.append(f"""
    SELECT i AS dim, p AS eigvec_ppm FROM v{_PI_ITERS}""")
    return "".join(parts)


@register("embedding_top_eigvec_power", oracle=_eigvec_oracle(),
          tags=("llm", "embedding", "iterative"))
def embedding_top_eigvec_power(spark, sf_dir):
    """Top eigenvector of the embedding covariance by power iteration
    — the oracle-expressible core of PCA (`embedding_pca_project`
    below projects the whole corpus onto this direction; this query
    hash-verifies the dominant direction itself). The covariance comes from the exact
    integer Gram algebra (the r03 fix), quantized once to a BIGINT
    matrix; each iteration is C·v as exact integer sums over the
    d²-row relation, re-quantized to integer ppm by max-|component|
    (the HITS discipline), so three matrix-vector products are
    bit-reproducible in both engines. Convergence is eigengap-paced —
    3 iterations demonstrate the kernel; production runs more (each
    is one d²-row join) and the Rayleigh quotient improves
    monotonically either way (pinned by the numpy-replication test).
    Scale: after ONE corpus scan builds C (d² rows — dimension-, not
    corpus-, sized), iterations are corpus-independent."""
    from ..llm.features import covariance_matrix
    emb = table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb)  # (i, j, cov) — cov rounded 6dp
    cmat = cov.select("i", "j", F.round(F.col("cov") * 1e6)
                      .cast("long").alias("cq")).localCheckpoint()
    dims = cmat.select("i").distinct()
    v = dims.select("i", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(_PI_ITERS):
        raw = (cmat.join(v.select(F.col("i").alias("j"),
                                  F.col("p").alias("vp")), "j")
               .groupBy("i")
               .agg(F.sum(F.col("cq") * F.col("vp")).cast("long")
                    .alias("raw")))
        mx = raw.agg(F.max(F.abs("raw")).alias("mx"))
        v = (raw.crossJoin(F.broadcast(mx))
             .select("i", F.round(F.col("raw").cast("double") * 1e6
                                  / F.col("mx")).cast("long").alias("p")))
    return v.select(F.col("i").alias("dim"),
                    F.col("p").alias("eigvec_ppm"))


# --------------------------------------- PCA projection (oracle-backed)

def _pca_project_oracle() -> str:
    """Extends the power-iteration chain with sign canonicalization and
    the corpus projection: every quantized embedding row (the GRAM_CTE
    `u` relation — vec_id, dim, BIGINT q) dotted with the canonicalized
    eigenvector, as exact integer sums."""
    chain = _eigvec_oracle()
    # strip the final SELECT; keep the WITH ... v{n} chain
    head = chain[:chain.rindex("SELECT")].rstrip().rstrip(",")
    return f"""{head},
    sgn AS (SELECT CASE WHEN p < 0 THEN -1 ELSE 1 END AS s
            FROM v{_PI_ITERS} WHERE p <> 0 ORDER BY i LIMIT 1),
    vc AS (SELECT v.i AS i, v.p * sgn.s AS p FROM v{_PI_ITERS} v, sgn)
    SELECT u.vec_id,
           CAST(sum(CAST(u.q AS DECIMAL(38,0))
                    * CAST(vc.p AS DECIMAL(38,0))) AS BIGINT) AS pc1_q,
           round(CAST(CAST(sum(CAST(u.q AS DECIMAL(38,0))
                               * CAST(vc.p AS DECIMAL(38,0)))
                           AS BIGINT) AS DOUBLE) / 1e12, 6) + 0.0 AS pc1
    FROM u JOIN vc ON vc.i = u.i
    GROUP BY u.vec_id
    """


@register("embedding_pca_project", oracle=_pca_project_oracle(),
          tags=("llm", "embedding", "iterative"))
def embedding_pca_project(spark, sf_dir):
    """Corpus-wide PCA projection onto the dominant principal
    component (llm/features.py semantics; VERDICT r07 §next 2 — this
    replaces the eigh-based rows-only registry entry with a fully
    hash-verifiable variant). The direction is the exact-integer
    power-iteration eigenvector (same algebra as
    `embedding_top_eigvec_power`), sign-canonicalized so the lowest
    nonzero dimension is positive — making the output independent of
    the start-vector convention, the same determinism discipline the
    eigh path applies driver-side. Each embedding is quantized ONCE to
    BIGINT (round(v*1e6), the covariance_matrix discipline) and dotted
    with the ppm eigenvector as an exact integer sum, so the score is
    bit-reproducible under any partitioning; the single float divide +
    round happens last on identical inputs (`+ 0.0` canonicalizes IEEE
    signed zero, the r04 fix).

    Scale: the d-row eigenvector is a broadcast join; the projection
    is one corpus scan with a map-side-combinable groupBy on vec_id
    (one row per dim per vector after the explode — at 100 TB, swap
    the explode for the mapInPandas BLAS kernel in features.pca_project
    with this eigenvector as W; both are certified to the same
    algebra). The eigh-based top-k projection remains available as
    llm/features.py:pca_project, certified via pca_variance_invariants
    and the numpy-parity pytest."""
    from ..llm.features import covariance_matrix
    emb = table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb)
    cmat = cov.select("i", "j", F.round(F.col("cov") * 1e6)
                      .cast("long").alias("cq")).localCheckpoint()
    dims = cmat.select("i").distinct()
    v = dims.select("i", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(_PI_ITERS):
        raw = (cmat.join(v.select(F.col("i").alias("j"),
                                  F.col("p").alias("vp")), "j")
               .groupBy("i")
               .agg(F.sum(F.col("cq") * F.col("vp")).cast("long")
                    .alias("raw")))
        mx = raw.agg(F.max(F.abs("raw")).alias("mx"))
        v = (raw.crossJoin(F.broadcast(mx))
             .select("i", F.round(F.col("raw").cast("double") * 1e6
                                  / F.col("mx")).cast("long").alias("p")))
    sgn = (v.filter(F.col("p") != 0).orderBy("i").limit(1)
           .select(F.when(F.col("p") < 0, F.lit(-1)).otherwise(F.lit(1))
                   .cast("long").alias("s")))
    vc = (v.crossJoin(F.broadcast(sgn))
          .select("i", (F.col("p") * F.col("s")).alias("p")))
    # quantize embeddings exactly as covariance_matrix does, explode to
    # (vec_id, dim, q), and dot with the broadcast eigenvector
    q = emb.select("vec_id",
                   F.posexplode(_int_vec("embedding")).alias("i", "q"))
    pq = (q.join(F.broadcast(vc), "i")
          .groupBy("vec_id")
          .agg(F.sum(F.col("q").cast("decimal(38,0)")
                     * F.col("p").cast("decimal(38,0)"))
               .cast("long").alias("pc1_q")))
    return pq.select(
        "vec_id", "pc1_q",
        (F.round(F.col("pc1_q").cast("double") / F.lit(1e12), 6)
         + F.lit(0.0)).alias("pc1"))


# ---------------------------------- top-2 PCA projection via deflation

def _pca2_oracle() -> str:
    """PC1 chain (shared with `_eigvec_oracle` / `_pca_project_oracle`)
    + 3 deflated power iterations for PC2: each iteration multiplies by
    C, subtracts the exact-integer projection onto the canonicalized
    PC1 (Gram–Schmidt, re-applied every iteration so PC1 leakage from
    the re-quantization cannot compound), and re-quantizes to integer
    ppm. Dot products run in 128-bit (HUGEINT / DECIMAL(38,0)) — the
    u·v product peaks ~4e21, past int64."""
    chain = _eigvec_oracle()
    head = chain[:chain.rindex("SELECT")].rstrip().rstrip(",")
    # DuckDB inlines single-reference CTEs; in this chain cmat/vc/u are
    # referenced many times, which without materialization re-expands
    # the whole Gram pipeline per reference (dozens of parquet scans —
    # "too many open files" at sf0.01). Purely physical hint; the
    # relational semantics and every value are unchanged.
    for cte in ("x AS (", "u AS (", "cmat AS ("):
        head = head.replace(cte, cte.replace("AS (", "AS MATERIALIZED ("))
    n = _PI_ITERS
    parts = [f"""{head},
    sgn AS (SELECT CASE WHEN p < 0 THEN -1 ELSE 1 END AS s
            FROM v{n} WHERE p <> 0 ORDER BY i LIMIT 1),
    vc AS MATERIALIZED (
        SELECT v.i AS i, v.p * sgn.s AS p FROM v{n} v, sgn),
    dvv AS (SELECT sum(CAST(p AS HUGEINT) * CAST(p AS HUGEINT)) AS x
            FROM vc),
    w0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM dims)"""]
    for t in range(1, n + 1):
        parts.append(f""",
    u{t} AS MATERIALIZED (
        SELECT c.i, CAST(sum(c.cq * w.p) AS BIGINT) AS u
        FROM cmat c JOIN w{t - 1} w ON w.i = c.j GROUP BY c.i),
    d{t} AS (SELECT sum(CAST(u.u AS HUGEINT) * CAST(vc.p AS HUGEINT))
                    AS duv
             FROM u{t} u JOIN vc ON vc.i = u.i),
    o{t} AS MATERIALIZED (
        SELECT u.i,
               u.u - CAST(round(CAST(d.duv AS DOUBLE)
                                / CAST(dvv.x AS DOUBLE)
                                * vc.p) AS BIGINT) AS w
        FROM u{t} u JOIN vc ON vc.i = u.i, d{t} d, dvv),
    w{t} AS MATERIALIZED (
        SELECT i, CAST(round(CAST(w AS DOUBLE) * 1000000
                             / (SELECT max(abs(w)) FROM o{t}))
                       AS BIGINT) AS p
        FROM o{t})""")
    parts.append(f""",
    wsgn AS (SELECT CASE WHEN p < 0 THEN -1 ELSE 1 END AS s
             FROM w{n} WHERE p <> 0 ORDER BY i LIMIT 1),
    wc AS (SELECT w.i AS i, w.p * wsgn.s AS p FROM w{n} w, wsgn),
    p1 AS (SELECT u.vec_id,
                  CAST(sum(CAST(u.q AS DECIMAL(38,0))
                           * CAST(vc.p AS DECIMAL(38,0))) AS BIGINT)
                    AS pc1_q
           FROM u JOIN vc ON vc.i = u.i GROUP BY u.vec_id),
    p2 AS (SELECT u.vec_id,
                  CAST(sum(CAST(u.q AS DECIMAL(38,0))
                           * CAST(wc.p AS DECIMAL(38,0))) AS BIGINT)
                    AS pc2_q
           FROM u JOIN wc ON wc.i = u.i GROUP BY u.vec_id)
    SELECT p1.vec_id, p1.pc1_q, p2.pc2_q,
           round(CAST(p1.pc1_q AS DOUBLE) / 1e12, 6) + 0.0 AS pc1,
           round(CAST(p2.pc2_q AS DOUBLE) / 1e12, 6) + 0.0 AS pc2
    FROM p1 JOIN p2 ON p2.vec_id = p1.vec_id""")
    return "".join(parts)


def _canonicalize_sign(v):
    """Flip so the lowest nonzero dimension is positive (both engines
    order by dim index — start-vector-convention independence)."""
    sgn = (v.filter(F.col("p") != 0).orderBy("i").limit(1)
           .select(F.when(F.col("p") < 0, F.lit(-1)).otherwise(F.lit(1))
                   .cast("long").alias("s")))
    return (v.crossJoin(F.broadcast(sgn))
            .select("i", (F.col("p") * F.col("s")).alias("p")))


@register("embedding_pca_top2_project", oracle=_pca2_oracle(),
          tags=("llm", "embedding", "iterative"))
def embedding_pca_top2_project(spark, sf_dir):
    """Top-2 PCA projection, fully oracle-backed: PC1 by exact-integer
    power iteration (the `embedding_top_eigvec_power` kernel), PC2 by
    DEFLATED power iteration — every iteration multiplies by C then
    subtracts the exact-integer Gram–Schmidt projection onto the
    canonicalized PC1 before re-quantizing, so the iterate can never
    re-converge to the dominant direction. This completes the eigh
    surface (llm/features.py:pca_project, certified by
    pca_variance_invariants) with a projection whose every value
    hash-matches a SQL oracle: dot products run in 128-bit exact
    integers (u·v peaks ~4e21), the single float divide per
    orthogonalization happens on identical integer inputs, and both
    components are sign-canonicalized.

    Scale: C is d²-row (corpus-independent after ONE scan); all six
    iterations are dimension-cardinality joins; the final projection
    is one corpus scan dotted against two broadcast d-row vectors with
    a map-side-combinable groupBy(vec_id)."""
    from ..llm.features import covariance_matrix
    emb = table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb)
    cmat = cov.select("i", "j", F.round(F.col("cov") * 1e6)
                      .cast("long").alias("cq")).localCheckpoint()
    dims = cmat.select("i").distinct()

    def times_c(vec):
        # one exact C·vec product over the d²-row relation
        return (cmat.join(vec.select(F.col("i").alias("j"),
                                     F.col("p").alias("vp")), "j")
                .groupBy("i")
                .agg(F.sum(F.col("cq") * F.col("vp")).cast("long")
                     .alias("raw")))

    def rescale(raw, col="raw"):
        mx = raw.agg(F.max(F.abs(col)).alias("mx"))
        return (raw.crossJoin(F.broadcast(mx))
                .select("i", F.round(F.col(col).cast("double") * 1e6
                                     / F.col("mx")).cast("long")
                        .alias("p")))

    # localCheckpoint per round: each iteration's rescale embeds a
    # broadcast max-aggregate, and every broadcast re-executes its
    # whole upstream subtree — an un-cut 3-round chain re-runs the
    # earlier rounds once per broadcast (measured 25.6 s → 9.9 s for
    # the full query at sf0.1)
    v = dims.select("i", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(_PI_ITERS):
        v = rescale(times_c(v)).localCheckpoint()
    vc = _canonicalize_sign(v).localCheckpoint()
    dvv = vc.agg(F.sum(F.col("p").cast("decimal(38,0)")
                       * F.col("p").cast("decimal(38,0)")).alias("x"))

    w = dims.select("i", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(_PI_ITERS):
        u = times_c(w).withColumnRenamed("raw", "u")
        duv = (u.join(vc, "i")
               .agg(F.sum(F.col("u").cast("decimal(38,0)")
                          * F.col("p").cast("decimal(38,0)"))
                    .alias("duv")))
        o = (u.join(vc, "i")
             .crossJoin(F.broadcast(duv))
             .crossJoin(F.broadcast(dvv))
             .select("i", (F.col("u")
                           - F.round(F.col("duv").cast("double")
                                     / F.col("x").cast("double")
                                     * F.col("p")).cast("long"))
                     .alias("w")))
        w = rescale(o, "w").localCheckpoint()
    wc = _canonicalize_sign(w)

    q = emb.select("vec_id",
                   F.posexplode(_int_vec("embedding")).alias("i", "q")) \
        .localCheckpoint()

    def project(vec, out):
        return (q.join(F.broadcast(vec), "i")
                .groupBy("vec_id")
                .agg(F.sum(F.col("q").cast("decimal(38,0)")
                           * F.col("p").cast("decimal(38,0)"))
                     .cast("long").alias(out)))

    p1 = project(vc, "pc1_q")
    p2 = project(wc, "pc2_q")
    return (p1.join(p2, "vec_id")
            .select("vec_id", "pc1_q", "pc2_q",
                    (F.round(F.col("pc1_q").cast("double") / F.lit(1e12),
                             6) + F.lit(0.0)).alias("pc1"),
                    (F.round(F.col("pc2_q").cast("double") / F.lit(1e12),
                             6) + F.lit(0.0)).alias("pc2")))
