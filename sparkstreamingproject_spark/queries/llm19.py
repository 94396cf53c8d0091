"""Round-12 LLM wave: closing the SemDeDup recall envelope
(multi-probe boundary recovery) and its assignment-cost ceiling
(two-level hierarchical cells).

`dedup_semantic_cells` documents two honest limits:

1. pairs whose members land in DIFFERENT cells are missed by design
   (the cell trade). `dedup_semantic_multiprobe` buys back the
   boundary misses the standard way — each vector joins its TOP-2
   cells (IVF multi-probe, `sim_ann_multiprobe`'s trick applied to
   the pair stage), so any pair whose members share either primary or
   runner-up cell is found, for a bounded 2× posting volume.
2. once k ∝ n (the `dedup_semantic_cells_scaled` contract) the ASSIGN
   stage is n·k cosine per Lloyd round. `sim_ann_hierarchical_cells`
   is the standard mitigation: a two-level centroid tree — route each
   vector through k1 coarse cells, then k2 sub-cells INSIDE its
   coarse cell — makes assignment n·(k1+k2) ≈ n·2√(k·cells) while
   keeping k1·k2 leaf cells; the IVF-HNSW/IMI shape, oracle-unrolled.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .base import register, table
from .llm2 import _lloyd_chain
from .llm15 import SEM_ITER, SEM_K, SEM_TARGET, SEM_THRESHOLD

# ------------------------------------- multi-probe boundary recovery


def _multiprobe_oracle(k: int = SEM_K, n_iter: int = SEM_ITER,
                       threshold: float = SEM_THRESHOLD,
                       k_sql: str | None = None,
                       pre_cte: str = "") -> str:
    chain, prev = _lloyd_chain(n_iter)
    return f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {pre_cte}c0 AS (
      SELECT vec_id AS cell,
             list_transform(v, x -> round(x, 6)) AS cv
      FROM pts WHERE vec_id < {k_sql if k_sql is not None else k}),
    {chain},
    top2 AS (
      SELECT vec_id, v, cell, rn FROM (
        SELECT p.vec_id, p.v, c.cell,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.cell) AS rn
        FROM pts p CROSS JOIN {prev} c) WHERE rn <= 2),
    prim AS (SELECT vec_id, cell AS pcell FROM top2 WHERE rn = 1),
    pr AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      FROM top2 a JOIN top2 b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {threshold})
    SELECT pr.id_a, pr.id_b, pr.cosine,
           pa.pcell != pb.pcell AS cross_cell
    FROM pr
    JOIN prim pa ON pa.vec_id = pr.id_a
    JOIN prim pb ON pb.vec_id = pr.id_b
    """


@register(
    "dedup_semantic_multiprobe",
    oracle=_multiprobe_oracle(),
    tags=("llm", "dedup", "similarity"),
)
def dedup_semantic_multiprobe(spark, sf_dir):
    """SemDeDup pair stage with TOP-2 cell multi-probe: every vector
    posts into its best AND second-best cell, so a near-dup pair is
    found whenever the two members share either — recovering the
    boundary pairs the single-assignment stage misses by design
    (`dedup_semantic_cells`' documented envelope; `cross_cell` marks
    the recovered ones, i.e. pairs whose PRIMARY cells differ).

    Scale shape: posting volume is exactly 2n rows (double, not
    quadratic — the same OR-amplification accounting as
    `sim_ann_lsh_or_pairs`); the pair stage is still cell-keyed
    self-join, Σ over cells of (2-probe occupancy)², ~4× the
    single-probe work with bounded cells. Candidate pairs sharing
    both cells are generated twice and collapsed by an exact
    DISTINCT on the pair key — cosine is a deterministic 4dp value,
    so the collapse is lossless.

    Like `dedup_semantic_cells`, this PINNED-k registration is the
    oracle anchor; `dedup_semantic_multiprobe_scaled` below is the
    production (k ∝ n) shape whose pair stage stays ~4×-of-linear."""
    return _multiprobe(spark, sf_dir, SEM_K)


def _multiprobe(spark, sf_dir, k: int):
    from ..llm.similarity import cosine_similarity, kmeans_centroids
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("v"))
    cents = kmeans_centroids(emb, k=k, n_iter=SEM_ITER)
    # top-2 probes: the row_number window shuffles the n·k scored rows
    # — keep the d-element vector OUT of that exchange (score narrow
    # (vec_id, cell, sim) rows, take the top-2, then re-attach v with
    # one id-keyed join of 2n rows; r15, guide §2.3 "project before
    # the exchange"). At k ∝ n the old shape shuffled n·k·d doubles.
    scored = (pts.crossJoin(F.broadcast(cents))
              .select("vec_id", "cell",
                      F.round(cosine_similarity("v", "cv"), 6)
                      .alias("sim")))
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cell")
    top2 = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select("vec_id", "cell", "rn")
            .join(pts, "vec_id")
            .select("vec_id", "v", "cell", "rn")
            .localCheckpoint())  # feeds pairs twice + primary map
    prim = (top2.filter(F.col("rn") == 1)
            .select("vec_id", F.col("cell").alias("pcell")))
    # r15: same (cell, salt) split as semantic_cell_pairs — the
    # pinned-k anchor's pair stage otherwise runs its quadratic on k
    # tasks only (k=8 keys on 32 cores); result identical for any s
    from .llm15 import _pair_salt
    s = _pair_salt(top2, k)
    a = top2.select(F.col("vec_id").alias("id_a"),
                    F.col("v").alias("va"), "cell")
    b = top2.select(F.col("vec_id").alias("id_b"),
                    F.col("v").alias("vb"), "cell")
    if s > 1:
        a = a.withColumn("salt", F.pmod(F.col("id_a"), F.lit(s)))
        b = b.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(s)])))
        keys = ["cell", "salt"]
    else:
        keys = ["cell"]
    pairs = (a.join(b, keys)
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(cosine_similarity("va", "vb"), 4)
                     .alias("cosine"))
             .filter(F.col("cosine") >= SEM_THRESHOLD)
             .dropDuplicates(["id_a", "id_b"]))
    return (pairs
            .join(prim.withColumnRenamed("vec_id", "id_a")
                  .withColumnRenamed("pcell", "pcell_a"), "id_a")
            .join(prim.withColumnRenamed("vec_id", "id_b")
                  .withColumnRenamed("pcell", "pcell_b"), "id_b")
            .select("id_a", "id_b", "cosine",
                    (F.col("pcell_a") != F.col("pcell_b"))
                    .alias("cross_cell")))


@register(
    "dedup_semantic_multiprobe_scaled",
    oracle=_multiprobe_oracle(
        k_sql="(SELECT k FROM kp)",
        pre_cte=(f"kp AS (SELECT greatest({SEM_K}, CAST(ceil("
                 f"count(*) / {float(SEM_TARGET)!r}) AS BIGINT)) AS k "
                 "FROM pts),\n    ")),
    tags=("llm", "dedup", "similarity", "scale"),
)
def dedup_semantic_multiprobe_scaled(spark, sf_dir):
    """Multi-probe boundary recovery at the 100 TB shape: the SAME
    k ∝ n contract as `dedup_semantic_cells_scaled` (k = max(SEM_K,
    ⌈n/SEM_TARGET⌉) holds mean cell size constant), so the 2-probe
    pair stage is Σ(2-probe occupancy)² ≈ 4·n·TARGET — LINEAR in
    corpus size at a fixed 4× premium over single-probe, instead of
    the pinned anchor's (n/8)² quadratic. This is the variant the
    scale curve in scripts/scale_bench.py measures alongside the
    anchor (VERDICT r12 §next 4: "bound the probe-2 pair stage the
    same way TARGET bounds cells"). The oracle parameterizes the same
    unroll with a scalar-subquery k, so the dynamic-k multi-probe
    path itself is hash-verified."""
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(SEM_K, -(-n // SEM_TARGET))
    return _multiprobe(spark, sf_dir, int(k))


# ------------------------------------- two-level hierarchical cells

_H_K1 = 4       # coarse cells
_H_K2 = 4       # sub-cells per coarse cell (k1·k2 = 16 leaves)


def _hierarchical_oracle(k1: int = _H_K1, k2: int = _H_K2,
                         n_iter: int = SEM_ITER) -> str:
    chain, prev = _lloyd_chain(n_iter)

    def sub_assign(cn: str, an: str) -> str:
        cols = "vec_id, v, g, sub"
        return f"""
    {an} AS (
      SELECT {cols} FROM (
        SELECT p.vec_id, p.v, p.g, c.sub,
               round(list_cosine_similarity(p.v, c.cv), 6) AS sim,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.sub) AS rn
        FROM ga p JOIN {cn} c ON c.g = p.g) WHERE rn = 1)"""

    def sub_means(an: str, cn: str) -> str:
        return f"""
    {cn} AS (
      SELECT g, sub, list(round(m, 6) ORDER BY pos) AS cv FROM (
        SELECT g, sub, pos, avg(val) AS m FROM (
          SELECT g, sub, unnest(v) AS val,
                 generate_subscripts(v, 1) AS pos
          FROM {an})
        GROUP BY g, sub, pos)
      GROUP BY g, sub)"""

    steps = []
    sprev = "s0"
    for i in range(1, n_iter + 1):
        steps.append(sub_assign(sprev, f"sa{i}"))
        steps.append(sub_means(f"sa{i}", f"s{i}"))
        sprev = f"s{i}"
    sub_chain = ",".join(steps)
    return f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (
      SELECT vec_id AS cell,
             list_transform(v, x -> round(x, 6)) AS cv
      FROM pts WHERE vec_id < {k1}),
    {chain},
    ga AS (
      SELECT vec_id, v, cell AS g FROM (
        SELECT p.vec_id, p.v, c.cell,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.cell) AS rn
        FROM pts p CROSS JOIN {prev} c) WHERE rn = 1),
    s0 AS (
      SELECT g, sub, list_transform(v, x -> round(x, 6)) AS cv FROM (
        SELECT g, vec_id AS sub, v,
               row_number() OVER (PARTITION BY g ORDER BY vec_id) AS rn
        FROM ga) WHERE rn <= {k2}),
    {sub_chain},
    fin AS (
      SELECT vec_id, g, sub, sim FROM (
        SELECT p.vec_id, p.g, c.sub,
               round(list_cosine_similarity(p.v, c.cv), 6) AS sim,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.sub) AS rn
        FROM ga p JOIN {sprev} c ON c.g = p.g) WHERE rn = 1)
    SELECT vec_id, g AS coarse_cell, sub AS sub_cell,
           sim AS centroid_sim
    FROM fin
    """


@register(
    "sim_ann_hierarchical_cells",
    oracle=_hierarchical_oracle(),
    tags=("llm", "similarity", "scale"),
)
def sim_ann_hierarchical_cells(spark, sf_dir):
    """Two-level centroid hierarchy (IVF-IMI shape): Lloyd k-means to
    k1 COARSE cells over the corpus, then an independent Lloyd k-means
    to k2 SUB-cells INSIDE each coarse cell (init: first-k2 members by
    id per cell — the same documented stand-in as the flat kernel's
    first-k init). Output is the leaf assignment
    (vec_id, coarse_cell, sub_cell, centroid_sim).

    Why it exists (SCALE.md §round-12): once cell count k ∝ n (the
    `dedup_semantic_cells_scaled` contract), FLAT assignment costs n·k
    cosine per Lloyd round — the scale ceiling moves from the pair
    stage to assignment. Routing through the tree costs n·(k1+k2)
    with k1·k2 leaves: for the same leaf count k, n·2√k instead of
    n·k. Every stage is the flat kernel's shape — broadcast centroids
    (level 2's relation is k1·k2 rows, joined on the coarse key),
    argmax windows, (key, pos)-keyed mean aggregates — so the plan
    scales exactly like `kmeans_centroids` does, per level.

    cites: reference has no ANN surface; this extends the mandated
    similarity-search family (SURVEY.md §2 extension list).
    """
    from ..llm.similarity import (cosine_similarity, kmeans_assign,
                                  kmeans_centroids)
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("v"))
    coarse = kmeans_centroids(emb, k=_H_K1, n_iter=SEM_ITER)
    ga = (kmeans_assign(pts, coarse)
          .withColumnRenamed("cell", "g")
          .localCheckpoint())  # coarse Lloyd runs once, feeds 2·n_iter+2 scans

    w_init = Window.partitionBy("g").orderBy("vec_id")
    scents = (ga.withColumn("rn", F.row_number().over(w_init))
              .filter(F.col("rn") <= _H_K2)
              .select("g", F.col("vec_id").alias("sub"),
                      F.transform("v", lambda x: F.round(x, 6)).alias("cv")))

    def sub_assign(cents):
        scored = (ga.join(F.broadcast(cents), "g")
                  .select("vec_id", "v", "g", "sub",
                          F.round(cosine_similarity("v", "cv"), 6)
                          .alias("sim")))
        w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(),
                                                 "sub")
        return (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1))

    for _ in range(SEM_ITER):
        scents = (sub_assign(scents)
                  .select("g", "sub", F.posexplode("v").alias("pos", "val"))
                  .groupBy("g", "sub", "pos").agg(F.avg("val").alias("m"))
                  .groupBy("g", "sub")
                  .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                       .alias("pm"))
                  .select("g", "sub",
                          F.transform("pm", lambda s: F.round(s["m"], 6))
                          .alias("cv")))
    return (sub_assign(scents)
            .select("vec_id", F.col("g").alias("coarse_cell"),
                    F.col("sub").alias("sub_cell"),
                    F.col("sim").alias("centroid_sim")))


# ------------------------------------- tokenizer fertility by lang

def _fertility_oracle() -> str:
    from .llm4 import _BPE_ITERS, _bpe_oracle_chain
    return f"""
    {_bpe_oracle_chain()},
    dw AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w
      FROM documents),
    enc AS (
      SELECT d.lang,
             len(string_split(trim(s.s, '·'), '·')) AS n_tok,
             length(d.w) AS n_chars
      FROM dw d JOIN seg{_BPE_ITERS} s ON d.w = s.w
      WHERE d.w <> ''),
    per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
             round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4)
               AS tokens_per_word,
             round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tok), 4)
               AS chars_per_token
      FROM enc GROUP BY lang),
    best AS (SELECT min(tokens_per_word) AS b FROM per)
    SELECT lang, n_words, n_bpe_tokens, tokens_per_word, chars_per_token,
           round(tokens_per_word / b, 4) AS fertility_premium
    FROM per CROSS JOIN best
    """


@register(
    "text_tokenizer_fertility_by_lang",
    oracle=_fertility_oracle(),
    tags=("llm", "tokenize", "text"),
)
def text_tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility disparity across languages — the standard
    tokenizer-fairness eval (tokens/word per language, and each
    language's premium over the best-served one). A tokenizer trained
    on a skewed mix over-fragments under-represented languages; the
    premium column is the number multilingual-pipeline reports quote
    (e.g. NLLB/XLM-R report 2-4× fertility for low-resource scripts).

    Composes the certified BPE train/apply pair: `_bpe_run`'s K-round
    merge loop (vocab-sized state, winner broadcast back) and
    `bpe_encode_apply`'s broadcast word→segmentation join, aggregated
    by the documents' lang column instead of doc_id — one corpus scan
    for the word explode, vocab-sized everything else, then a
    #langs-row relation; the premium is a broadcast scalar join.
    Determinism: integer token/char counts; the two ratios divide
    4dp-rounded doubles and re-round (both engines see bit-identical
    inputs)."""
    from .llm4 import _bpe_run
    docs = table(spark, sf_dir, "documents")
    _, seg = _bpe_run(spark, sf_dir)
    seg_tok = seg.select(
        "w", F.expr("size(split(trim(BOTH '·' FROM s), '·'))").alias("n_tok"))
    dw = (docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != ""))
    enc = (dw.join(F.broadcast(seg_tok), "w")
           .select("lang", "n_tok", F.length("w").alias("n_chars")))
    per = (enc.groupBy("lang")
           .agg(F.count("*").cast("long").alias("n_words"),
                F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
                F.round(F.sum("n_tok").cast("double") / F.count("*"), 4)
                .alias("tokens_per_word"),
                F.round(F.sum("n_chars").cast("double") / F.sum("n_tok"), 4)
                .alias("chars_per_token")))
    best = per.agg(F.min("tokens_per_word").alias("b"))
    return (per.crossJoin(F.broadcast(best))
            .select("lang", "n_words", "n_bpe_tokens", "tokens_per_word",
                    "chars_per_token",
                    F.round(F.col("tokens_per_word") / F.col("b"), 4)
                    .alias("fertility_premium")))


# ------------------------------------- margin-based bitext mining

_BM_SRC, _BM_TGT = "es", "en"
_BM_K = 4


def _bitext_oracle(k: int = _BM_K) -> str:
    return f"""
    WITH d AS (SELECT doc_id, lang FROM documents),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    xs AS (SELECT e.vec_id AS sid, v FROM e
           JOIN d ON d.doc_id = e.vec_id WHERE d.lang = '{_BM_SRC}'),
    ys AS (SELECT e.vec_id AS tid, v FROM e
           JOIN d ON d.doc_id = e.vec_id WHERE d.lang = '{_BM_TGT}'),
    p AS (
      SELECT sid, tid,
             CAST(round(round(list_cosine_similarity(x.v, y.v), 6)
                        * 1000000, 0) AS BIGINT) AS c6
      FROM xs x CROSS JOIN ys y),
    fwd AS (
      SELECT sid, CAST(sum(c6) AS BIGINT) AS sf,
             CAST(count(*) AS BIGINT) AS kf
      FROM (SELECT sid, c6,
                   row_number() OVER (PARTITION BY sid
                                      ORDER BY c6 DESC, tid) AS rn
            FROM p) WHERE rn <= {k} GROUP BY sid),
    bwd AS (
      SELECT tid, CAST(sum(c6) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS kb
      FROM (SELECT tid, c6,
                   row_number() OVER (PARTITION BY tid
                                      ORDER BY c6 DESC, sid) AS rn
            FROM p) WHERE rn <= {k} GROUP BY tid),
    m AS (
      SELECT p.sid, p.tid,
             round(p.c6 / 1000000.0, 6) AS cosine,
             round(p.c6 / ((CAST(f.sf AS DOUBLE) / f.kf
                            + CAST(b.sb AS DOUBLE) / b.kb) / 2), 4)
               AS margin
      FROM p JOIN fwd f ON f.sid = p.sid
             JOIN bwd b ON b.tid = p.tid)
    SELECT sid AS src_id, tid AS tgt_id, cosine, margin FROM (
      SELECT sid, tid, cosine, margin,
             row_number() OVER (PARTITION BY sid
                                ORDER BY margin DESC, tid) AS rn
      FROM m) WHERE rn = 1
    """


@register(
    "text_bitext_mining_margin",
    oracle=_bitext_oracle(),
    tags=("llm", "similarity", "text"),
)
def text_bitext_mining_margin(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus recipe): for every source-language
    document, the target-language document maximizing the RATIO margin
    cos(x,y) / ((avg of x's k-NN cosines + avg of y's k-NN cosines)/2)
    — the margin denominator penalizes "hub" vectors that are close to
    everything, which raw cosine mining mis-pairs.

    Determinism: cosines are 6dp-rounded then held as exact integers
    (×10⁶, BIGINT), so the k-NN sums are order-free integer aggregates
    and the margin is one IEEE double expression over integers —
    bit-identical across engines and partitionings. Tie-breaks:
    (c6 DESC, id) in the k-NN windows, (margin DESC, tgt_id) at the
    final argmax.

    Scale shape: the pair stage here is exact brute force over the two
    lang slices (broadcast nested loop, the `sim_topk_bruteforce`
    pattern — fine at the corpus sizes the oracle checks); at 100 TB
    the pair generation swaps to the family's ANN candidates (LSH
    bands / IVF cells / `sim_binary_hamming_index`) with margin
    statistics computed over each point's candidate k-NN — the
    CCMatrix deployment shape — leaving the margin arithmetic and
    argmax unchanged."""
    from ..llm.similarity import cosine_similarity
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = table(spark, sf_dir, "embeddings")
    pts = (emb.join(docs, emb.vec_id == docs.doc_id)
           .select("vec_id", "lang",
                   F.col("embedding").cast("array<double>").alias("v")))
    xs = pts.filter(F.col("lang") == _BM_SRC) \
        .select(F.col("vec_id").alias("sid"), F.col("v").alias("xv"))
    ys = pts.filter(F.col("lang") == _BM_TGT) \
        .select(F.col("vec_id").alias("tid"), F.col("v").alias("yv"))
    p = (xs.crossJoin(F.broadcast(ys))
         .select("sid", "tid",
                 F.round(F.round(cosine_similarity("xv", "yv"), 6)
                         * 1000000, 0).cast("long").alias("c6"))
         .localCheckpoint())  # feeds fwd + bwd windows and the final join
    wf = Window.partitionBy("sid").orderBy(F.col("c6").desc(), "tid")
    fwd = (p.withColumn("rn", F.row_number().over(wf))
           .filter(F.col("rn") <= _BM_K)
           .groupBy("sid").agg(F.sum("c6").cast("long").alias("sf"),
                               F.count("*").cast("long").alias("kf")))
    wb = Window.partitionBy("tid").orderBy(F.col("c6").desc(), "sid")
    bwd = (p.withColumn("rn", F.row_number().over(wb))
           .filter(F.col("rn") <= _BM_K)
           .groupBy("tid").agg(F.sum("c6").cast("long").alias("sb"),
                               F.count("*").cast("long").alias("kb")))
    m = (p.join(fwd, "sid").join(bwd, "tid")
         .select("sid", "tid",
                 F.round(F.col("c6") / 1000000.0, 6).alias("cosine"),
                 F.round(F.col("c6")
                         / ((F.col("sf").cast("double") / F.col("kf")
                             + F.col("sb").cast("double") / F.col("kb"))
                            / 2), 4).alias("margin")))
    wm = Window.partitionBy("sid").orderBy(F.col("margin").desc(), "tid")
    return (m.withColumn("rn", F.row_number().over(wm))
            .filter(F.col("rn") == 1)
            .select(F.col("sid").alias("src_id"),
                    F.col("tid").alias("tgt_id"), "cosine", "margin"))


# ------------------------------------- LSH banding S-curve tuning

_BT_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]  # (bands, rows/band)
_BT_MIN_J = 0.2
# theoretical detection probability at each Jaccard-bucket midpoint,
# computed ONCE here so both engines consume identical double literals
_BT_THEORY = [
    (b, r, k, round(1.0 - (1.0 - ((k + 0.5) / 5.0) ** r) ** b, 6))
    for (b, r) in _BT_CONFIGS for k in range(1, 5)
]


def _band_tuning_oracle() -> str:
    from .llm import MINHASH_CTE
    from ..llm import dedup as DD
    parts = [f"WITH {MINHASH_CTE},"]
    parts.append("""
    capped AS (
      SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 50),
    sh2 AS (SELECT s.doc_id, s.shingle FROM shingles s
            JOIN capped USING (shingle)),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jp AS (
      SELECT id_a, id_b,
             CAST(least(floor(round(i * 1.0 / (ca.c + cb.c - i), 6) * 5),
                        4) AS INT) AS j_bucket
      FROM inter
      JOIN cnt ca ON ca.doc_id = id_a
      JOIN cnt cb ON cb.doc_id = id_b
      WHERE round(i * 1.0 / (ca.c + cb.c - i), 6) >= """
                 + f"{_BT_MIN_J}),")
    cfg_selects = []
    for b, r in _BT_CONFIGS:
        keys = "\n      UNION ALL\n".join(
            f"      SELECT doc_id, {i} AS band, "
            + " || ".join(f"h{i * r + j}" for j in range(r))
            + " AS key FROM sig"
            for i in range(b))
        parts.append(f"""
    k{b} AS (
{keys}),
    d{b} AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, 1 AS hit
      FROM k{b} x JOIN k{b} y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),""")
        cfg_selects.append(
            f"""    SELECT {b} AS bands, {r} AS rows_per_band, jp.j_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(d.hit) AS BIGINT) AS n_detected
    FROM jp LEFT JOIN d{b} d
      ON d.id_a = jp.id_a AND d.id_b = jp.id_b
    GROUP BY 3""")
    theory_rows = ", ".join(f"({b}, {r}, {k}, {v!r})"
                            for b, r, k, v in _BT_THEORY)
    parts.append(f"""
    cfg AS (
{" UNION ALL ".join(cfg_selects)}),
    tv(bands, rows_per_band, j_bucket, theory_rate) AS (
      VALUES {theory_rows})
    SELECT c.bands, c.rows_per_band, c.j_bucket, c.n_pairs, c.n_detected,
           round(c.n_detected * 1.0 / c.n_pairs, 4) AS detect_rate,
           t.theory_rate
    FROM cfg c JOIN tv t
      ON t.bands = c.bands AND t.j_bucket = c.j_bucket""")
    assert DD.N_MINHASH == 8  # the config set enumerates 8's divisors
    return "".join(parts)


@register(
    "dedup_lsh_band_tuning",
    oracle=_band_tuning_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_lsh_band_tuning(spark, sf_dir):
    """The LSH (bands, rows) S-curve, measured on the corpus itself —
    THE tuning analysis run before deploying MinHash dedup at scale:
    for every banding of the 8-hash signature ((8,1) (4,2) (2,4)
    (1,8)), the empirical detection rate of true pairs per Jaccard
    bucket, next to the theoretical 1-(1-s^r)^b at the bucket
    midpoint. More bands = catch lower similarities (left-shifted
    S-curve) at the cost of more false candidates; the table makes
    the trade measurable instead of folklore.

    Truth pairs come from the capped exact-Jaccard kernel (the
    `dedup_ngram_jaccard` discipline — stop-shingles dropped before
    pair generation); detection pairs from the standard uncapped
    signature index, exactly what `dedup_minhash_lsh` deploys, so the
    measured rate is the production pipeline's real recall. One
    signature pass feeds all four configs (band keys are column
    concatenations of the same 8 mins); per config the candidate set
    is posting-list pairs — one shuffle each, never all-pairs.
    Integer counts make every rate a ratio of longs; the theory
    column is a shared Python-computed literal."""
    from ..llm import dedup as DD
    docs = table(spark, sf_dir, "documents")
    truth = (DD.jaccard_pairs(docs, threshold=_BT_MIN_J, max_postings=50)
             .select("id_a", "id_b",
                     F.least(F.floor(F.col("jaccard") * 5), F.lit(4))
                     .cast("int").alias("j_bucket"))
             .localCheckpoint())  # feeds all four config joins
    sig = DD.minhash_signatures(docs).localCheckpoint()
    out = None
    for b, r in _BT_CONFIGS:
        band_structs = F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.concat(*[F.col(f"h{i * r + j}") for j in range(r)])
                     .alias("key"))
            for i in range(b)])
        keys = (sig.select("doc_id", F.explode(band_structs).alias("bk"))
                .select("doc_id", "bk.band", "bk.key"))
        det = (DD.pairs_from_postings(keys, ["band", "key"], "doc_id")
               .distinct().withColumn("hit", F.lit(1)))
        agg = (truth.join(det, ["id_a", "id_b"], "left")
               .groupBy("j_bucket")
               .agg(F.count("*").cast("long").alias("n_pairs"),
                    F.count("hit").cast("long").alias("n_detected"))
               .select(F.lit(b).cast("int").alias("bands"),
                       F.lit(r).cast("int").alias("rows_per_band"),
                       "j_bucket", "n_pairs", "n_detected"))
        out = agg if out is None else out.unionByName(agg)
    theory = spark.createDataFrame(
        _BT_THEORY, "bands int, rows_per_band int, j_bucket int, "
                    "theory_rate double")
    return (out.join(F.broadcast(theory),
                     ["bands", "rows_per_band", "j_bucket"])
            .select("bands", "rows_per_band", "j_bucket", "n_pairs",
                    "n_detected",
                    F.round(F.col("n_detected") / F.col("n_pairs"), 4)
                    .alias("detect_rate"),
                    "theory_rate"))


# ------------------------------------- in-batch negative sampling

_NEG_MOD = 20   # every 20th doc is an anchor
_NEG_K = 4      # negatives per anchor


def _negatives_oracle() -> str:
    from .llm import MINHASH_CTE, _BAND_SELECTS
    return f"""
    WITH {MINHASH_CTE},
    bands AS (
{_BAND_SELECTS}),
    near AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    anchors AS (
      SELECT doc_id AS query_id, md5(text) AS qh FROM documents
      WHERE doc_id % {_NEG_MOD} = 0),
    pool AS (SELECT doc_id AS neg_id, md5(text) AS nh FROM documents),
    cand AS (
      SELECT a.query_id, p.neg_id,
             md5(CAST(a.query_id AS VARCHAR) || '-'
                 || CAST(p.neg_id AS VARCHAR)) AS draw
      FROM anchors a CROSS JOIN pool p
      WHERE p.neg_id != a.query_id AND p.nh != a.qh
        AND NOT EXISTS (
          SELECT 1 FROM near n
          WHERE (n.id_a = least(a.query_id, p.neg_id)
                 AND n.id_b = greatest(a.query_id, p.neg_id))))
    SELECT query_id, neg_id, CAST(rn AS INT) AS rank FROM (
      SELECT query_id, neg_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY draw, neg_id) AS rn
      FROM cand) WHERE rn <= {_NEG_K}
    """


@register(
    "sample_inbatch_negatives",
    oracle=_negatives_oracle(),
    tags=("llm", "sample", "similarity"),
)
def sample_inbatch_negatives(spark, sf_dir):
    """Deterministic negative sampling for contrastive training
    (DPR/CLIP-style): every anchor document draws K pseudo-random
    negatives from the corpus, EXCLUDING itself, exact duplicates
    (same content hash), and LSH near-dup candidates — the standard
    false-negative guard (a paraphrase of the anchor must never be
    labeled negative, or the contrastive loss pushes apart true
    positives). The draw is md5(query_id ‖ '-' ‖ neg_id): a
    deterministic per-pair coin, so the sample is reproducible across
    engines, runs, and partitionings — no RNG state anywhere.

    Scale shape: the anchor set is a modulus slice (1/{mod} of the
    corpus); the candidate stage here is anchors × corpus (broadcast
    nested loop over the bench corpus — the exact anchor); at 100 TB
    the draw's uniformity lets the cross join collapse to a
    hash-bucket equi-join (precompute bucket = first hex of draw per
    (anchor-salt, doc) and probe only the first few buckets per
    anchor — each holds 1/16 of the corpus, and the K smallest draws
    land in the smallest non-empty buckets with overwhelming
    probability). The near-dup exclusion reuses the deployed LSH band
    index (`dedup_minhash_lsh`) as an anti-join — no extra index.
    cites: SURVEY.md §2 extension list (similarity/curation family).
    """
    from ..llm import dedup as DD
    docs = table(spark, sf_dir, "documents")
    near = (DD.lsh_candidate_pairs(docs)
            .select("id_a", "id_b"))
    anchors = (docs.filter(F.col("doc_id") % _NEG_MOD == 0)
               .select(F.col("doc_id").alias("query_id"),
                       F.md5("text").alias("qh")))
    pool = docs.select(F.col("doc_id").alias("neg_id"),
                       F.md5("text").alias("nh"))
    cand = (pool.crossJoin(F.broadcast(anchors))
            .filter((F.col("neg_id") != F.col("query_id"))
                    & (F.col("nh") != F.col("qh")))
            .select("query_id", "neg_id",
                    F.md5(F.concat(F.col("query_id").cast("string"),
                                   F.lit("-"),
                                   F.col("neg_id").cast("string")))
                    .alias("draw"),
                    F.least("query_id", "neg_id").alias("id_a"),
                    F.greatest("query_id", "neg_id").alias("id_b")))
    cand = cand.join(near, ["id_a", "id_b"], "left_anti")
    w = Window.partitionBy("query_id").orderBy("draw", "neg_id")
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _NEG_K)
            .select("query_id", "neg_id",
                    F.col("rn").cast("int").alias("rank")))
