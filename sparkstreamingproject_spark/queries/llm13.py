"""Round-9 LLM wave: content-defined chunking dedup and a DCT
perceptual hash — two more storage/visual dedup primitives of the
training-data pipeline family.

Both follow the registry's exactness discipline: md5 is the shared
hash primitive, all accumulations are integers, the only floats are
terminal ratios rounded once.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.similarity import _sq_l2_int
from .base import register, table
from .llm12 import _quantized_pts

# ------------------------------------------------ content-defined chunking

_CDC_K = 8       # rolling-window width (chars)
_CDC_HEX = "0"   # cut when md5(window) starts with this → P(cut)=1/16


def _cdc_oracle() -> str:
    return f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n
      FROM documents),
    cuts AS (
      SELECT doc_id, CAST(i AS BIGINT) AS c
      FROM d, unnest(range({_CDC_K}, n + 1)) AS t(i)
      WHERE n >= {_CDC_K}
        AND substr(md5(substr(text, CAST(i - {_CDC_K} + 1 AS INT),
                              {_CDC_K})), 1, 1) = '{_CDC_HEX}'
      UNION
      SELECT doc_id, n FROM d WHERE n > 0),
    spans AS (
      SELECT doc_id,
             coalesce(lag(c) OVER (PARTITION BY doc_id ORDER BY c), 0)
               + 1 AS s,
             c AS e
      FROM cuts),
    chunks AS (
      SELECT sp.doc_id, d.source,
             md5(substr(d.text, CAST(sp.s AS INT),
                        CAST(sp.e - sp.s + 1 AS INT))) AS h,
             sp.e - sp.s + 1 AS blen
      FROM spans sp JOIN d ON d.doc_id = sp.doc_id),
    uniq AS (
      SELECT source, h, max(blen) AS blen
      FROM chunks GROUP BY 1, 2)
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(max(u.n_distinct) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(c.blen) AS BIGINT) AS total_bytes,
           CAST(max(u.unique_bytes) AS BIGINT) AS unique_bytes,
           round(1.0 - max(u.unique_bytes) * 1.0 / sum(c.blen), 6)
             AS dedup_ratio
    FROM chunks c
    JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(sum(blen) AS BIGINT) AS unique_bytes
          FROM uniq GROUP BY source) u ON u.source = c.source
    GROUP BY c.source
    """


@register(
    "dedup_cdc_chunking",
    oracle=_cdc_oracle(),
    tags=("llm", "dedup"),
)
def dedup_cdc_chunking(spark, sf_dir):
    """Content-defined chunking dedup report per source — the
    storage-side dedup primitive (LBFS/FastCDC family): cut points
    are where the rolling {_CDC_K}-gram's md5 lands in 1/16 of hash
    space, so chunk boundaries survive insertions/deletions (a fixed
    -width chunker would shift every boundary after an edit); then
    chunk-level dedup ratio = bytes saved by storing each distinct
    chunk once. The basic form — no min/max chunk clamp — so both
    engines share one boundary predicate.

    Scale shape: boundary detection is a map-only explode of ~n
    positions per doc (the shingle volume the Jaccard family already
    pays) with no shuffle until the per-(source, chunk-hash)
    aggregate; chunk text never moves — only (hash, length) pairs
    shuffle. At 100 TB the chunk index is the dedup store; this
    report is its admission audit."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "source", "text",
                 F.length("text").cast("long").alias("n")))
    cuts_hash = (d.filter(F.col("n") >= _CDC_K)
                 .select("doc_id", F.explode(F.expr(
                     f"filter(sequence(CAST({_CDC_K} AS BIGINT), n), "
                     f"c -> substr(md5(substr(text, "
                     f"CAST(c - {_CDC_K} + 1 AS INT), {_CDC_K})), 1, 1)"
                     f" = '{_CDC_HEX}')")).alias("c")))
    cuts = (cuts_hash
            .unionByName(d.filter(F.col("n") > 0)
                         .select("doc_id", F.col("n").alias("c")))
            .distinct())
    w = Window.partitionBy("doc_id").orderBy("c")
    spans = cuts.select(
        "doc_id",
        (F.coalesce(F.lag("c").over(w), F.lit(0)) + 1).alias("s"),
        F.col("c").alias("e"))
    chunks = (spans.join(d.select("doc_id", "source", "text"), "doc_id")
              .select("doc_id", "source",
                      F.md5(F.expr(
                          "substr(text, CAST(s AS INT), "
                          "CAST(e - s + 1 AS INT))")).alias("h"),
                      (F.col("e") - F.col("s") + 1).alias("blen")))
    uniq = (chunks.groupBy("source", "h")
            .agg(F.max("blen").alias("blen")))
    u = (uniq.groupBy("source")
         .agg(F.count("*").cast("long").alias("n_distinct"),
              F.sum("blen").cast("long").alias("unique_bytes")))
    return (chunks.join(u, "source")
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.max("n_distinct").cast("long")
                 .alias("n_distinct_chunks"),
                 F.sum("blen").cast("long").alias("total_bytes"),
                 F.max("unique_bytes").cast("long").alias("unique_bytes"),
                 F.round(F.lit(1.0) - F.max("unique_bytes")
                         / F.sum("blen").cast("double"), 6)
                 .alias("dedup_ratio")))


# ------------------------------------------------ pHash (DCT) fingerprint

_PH_GRID = 8          # 8x8 raster
_PH_LOW = 4           # keep the low-frequency 4x4 block
_PH_SCALE = 10_000    # DCT basis quantization: round(cos * 1e4)


def _dct_coeffs() -> list[tuple[int, int, int]]:
    """Integer-quantized DCT-II basis rows for u in 0..3, i in 0..7:
    C[u][i] = round(cos(pi*(2i+1)*u/16) * 1e4). Quantized ONCE here so
    Spark and the oracle share identical integer constants — the
    float cosine never crosses an engine boundary."""
    out = []
    for u in range(_PH_LOW):
        for i in range(_PH_GRID):
            c = round(math.cos(math.pi * (2 * i + 1) * u
                               / (2 * _PH_GRID)) * _PH_SCALE)
            out.append((u, i, c))
    return out


def _phash_oracle() -> str:
    coeff_rows = ", ".join(f"({u}, {i}, {c})" for u, i, c in _dct_coeffs())
    return f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) >= {_PH_GRID * _PH_GRID}),
    g AS (SELECT doc_id, text,
                 CAST(n // {_PH_GRID * _PH_GRID} AS BIGINT) AS cw
          FROM d),
    px AS (
      SELECT doc_id,
             CAST((i - 1) // cw AS BIGINT) AS cell,
             ascii(substr(text, CAST(i AS INT), 1)) AS code
      FROM g, unnest(range(1,
           CAST({_PH_GRID * _PH_GRID} * cw + 1 AS BIGINT))) AS t(i)),
    cells AS MATERIALIZED (
      SELECT doc_id, CAST(cell // {_PH_GRID} AS BIGINT) AS gi,
             CAST(cell % {_PH_GRID} AS BIGINT) AS gj,
             CAST(sum(code) AS BIGINT) AS p
      FROM px GROUP BY 1, 2, 3),
    cmat AS (SELECT * FROM (VALUES {coeff_rows}) AS t(u, i, c)),
    dct AS MATERIALIZED (
      SELECT cells.doc_id, cu.u, cv.u AS v,
             CAST(sum(CAST(cu.c AS DECIMAL(38,0)) * cv.c * cells.p)
                  AS DECIMAL(38,0)) AS f
      FROM cells
      JOIN cmat cu ON cu.i = cells.gi
      JOIN cmat cv ON cv.i = cells.gj
      GROUP BY 1, 2, 3),
    ac AS (SELECT doc_id, u, v, {_PH_LOW} * u + v AS idx, f
           FROM dct WHERE NOT (u = 0 AND v = 0)),
    med AS (
      SELECT doc_id, f AS m
      FROM (SELECT doc_id, f,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY f, idx) AS rn
            FROM ac)
      WHERE rn = {(_PH_LOW * _PH_LOW - 1 + 1) // 2})
    SELECT ac.doc_id,
           CAST(sum(CASE WHEN ac.f > med.m
                         THEN 1::BIGINT << CAST(ac.idx AS INT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM ac JOIN med ON med.doc_id = ac.doc_id
    GROUP BY ac.doc_id
    """


@register("multimodal_phash_dct", oracle=_phash_oracle(),
          tags=("llm", "multimodal", "dedup"))
def multimodal_phash_dct(spark, sf_dir):
    """Perceptual DCT hash (pHash) over the text-as-raster stand-in —
    the robust sibling of `multimodal_ahash_dedup`'s average hash
    (aHash flips bits under brightness shifts; pHash compares
    LOW-FREQUENCY structure): raster to an {_PH_GRID}x{_PH_GRID}
    integer grid, 2D DCT-II, keep the low {_PH_LOW}x{_PH_LOW} block,
    bit = coefficient > median of the 15 AC coefficients. A real
    image pipeline feeds pixel blocks from the Arrow decode kernel
    into the SAME grid→DCT→median→bits chain.

    Exactness: the DCT basis is quantized to integers ONCE in Python
    (shared constants in both engines), so every coefficient is an
    exact DECIMAL(38,0) integer sum; the median is an exact order
    statistic (15 values, rn=8, (f, idx) tiebreak); bits compare
    integers. No float exists anywhere.

    Scale shape: one bounded explode (64·cell-width chars per doc),
    one grid aggregate, then a 64-row-per-doc join against the
    32-row broadcast basis — map-side work ending in one per-doc
    aggregate; the hash is then LSH-bandable exactly like aHash."""
    npix = _PH_GRID * _PH_GRID
    d = (table(spark, sf_dir, "documents")
         .filter(F.length("text") >= npix)
         .select("doc_id", "text",
                 (F.length("text").cast("long") / npix)
                 .cast("long").alias("cw")))
    px = d.select(
        "doc_id", "cw",
        F.posexplode(F.expr(
            f"transform(sequence(1, {npix} * cw), "
            "i -> ascii(substr(text, CAST(i AS INT), 1)))"
        )).alias("i0", "code")).select(
        "doc_id",
        (F.col("i0") / F.col("cw")).cast("long").alias("cell"),
        "code")
    cells = (px.groupBy("doc_id",
                        (F.col("cell") / _PH_GRID).cast("long").alias("gi"),
                        (F.col("cell") % _PH_GRID).alias("gj"))
             .agg(F.sum("code").cast("long").alias("p")))
    cmat = spark.createDataFrame(_dct_coeffs(), "u int, i int, c long")
    dec = "decimal(38,0)"
    dct = (cells
           .join(F.broadcast(cmat.select(F.col("u").alias("u"),
                                         F.col("i").alias("gi"),
                                         F.col("c").alias("cu"))), "gi")
           .join(F.broadcast(cmat.select(F.col("u").alias("v"),
                                         F.col("i").alias("gj"),
                                         F.col("c").alias("cv"))), "gj")
           .groupBy("doc_id", "u", "v")
           .agg(F.sum(F.col("cu").cast(dec) * F.col("cv") * F.col("p"))
                .cast(dec).alias("f")))
    ac = (dct.filter(~((F.col("u") == 0) & (F.col("v") == 0)))
          .select("doc_id", (_PH_LOW * F.col("u") + F.col("v"))
                  .alias("idx"), "f"))
    wmed = Window.partitionBy("doc_id").orderBy("f", "idx")
    med = (ac.withColumn("rn", F.row_number().over(wmed))
           .filter(F.col("rn") == (_PH_LOW * _PH_LOW) // 2)
           .select("doc_id", F.col("f").alias("m")))
    return (ac.join(med, "doc_id")
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("f") > F.col("m"),
                              F.expr("shiftleft(CAST(1 AS BIGINT), "
                                     "CAST(idx AS INT))"))
                       .otherwise(0)).cast("long").alias("phash")))


# ------------------------------------------------ submodular coverage

_SC_K = 5  # greedy selection rounds


def _subcov_oracle() -> str:
    ctes = ["""g1 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM dw GROUP BY doc_id),
    s1 AS MATERIALIZED (
      SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
    c1 AS MATERIALIZED (
      SELECT DISTINCT word FROM dw JOIN s1 USING (doc_id))"""]
    for k in range(2, _SC_K + 1):
        ctes.append(f"""g{k} AS (
      SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM dw LEFT JOIN c{k - 1} cc ON cc.word = dw.word
      WHERE cc.word IS NULL GROUP BY dw.doc_id),
    s{k} AS MATERIALIZED (
      SELECT doc_id, gain FROM g{k} ORDER BY gain DESC, doc_id LIMIT 1),
    c{k} AS MATERIALIZED (
      SELECT word FROM c{k - 1}
      UNION
      SELECT word FROM dw JOIN s{k} USING (doc_id))""")
    sels = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS round, doc_id, gain FROM s{k}"
        for k in range(1, _SC_K + 1))
    return f"""
    WITH dw AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    {",".join(ctes)}
    SELECT CAST(round AS INT) AS round, doc_id, gain
    FROM ({sels})
    """


@register(
    "curation_submodular_coverage",
    oracle=_subcov_oracle(),
    tags=("llm", "curation"),
)
def curation_submodular_coverage(spark, sf_dir):
    """Greedy submodular max-coverage selection of {_SC_K} documents —
    the classic (1-1/e)-approximation for picking a small subset that
    covers the most distinct vocabulary: each round scores every doc
    by its MARGINAL gain (words not yet covered) and takes the
    argmax, ties to the lowest doc_id. The coverage-first complement
    of `curation_mmr_diverse_select` (which balances relevance
    against pairwise similarity; facility location and coverage are
    the two standard submodular objectives for data subset
    selection).

    Deterministic by construction: gains are integer counts, argmax
    is (gain DESC, doc_id) — no floats at all. Scale shape: each
    round is one anti-join of the posting relation against the
    covered-vocabulary relation + one count aggregate + a top-1 heap
    (TakeOrdered, never a global sort); the covered set grows by one
    doc's vocabulary per round and is lineage-cut (localCheckpoint)
    exactly like the other iterative kernels. K rounds = K bounded
    passes; at corpus scale the CELF lazy-evaluation upgrade
    (re-scoring only stale winners) drops into the same loop."""
    dw = (table(spark, sf_dir, "documents")
          .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
          .distinct()
          .localCheckpoint())
    covered = None
    sels = None
    for k in range(1, _SC_K + 1):
        rem = (dw if covered is None
               else dw.join(covered, "word", "left_anti"))
        gains = (rem.groupBy("doc_id")
                 .agg(F.count("*").cast("long").alias("gain")))
        pick = (gains.orderBy(F.desc("gain"), "doc_id").limit(1)
                .localCheckpoint())
        sel = pick.select(F.lit(k).cast("int").alias("round"),
                          "doc_id", "gain")
        sels = sel if sels is None else sels.unionByName(sel)
        new_words = (dw.join(pick.select("doc_id"), "doc_id",
                             "left_semi").select("word"))
        covered = (new_words if covered is None
                   else covered.unionByName(new_words).distinct())
        covered = covered.localCheckpoint()
    return sels


# ------------------------------------------------ Hilbert layout index

_HB_ORDER = 8  # 8 bits/dimension → 256x256 grid, d in [0, 65535]


def _hilbert_stage_exprs() -> list[tuple[int, str, str, str]]:
    """Per-level (s, d_expr, x_expr, y_expr) for the standard xy→d
    Hilbert walk, as ONE shared SQL text per stage (runs verbatim in
    Spark and DuckDB): the quadrant term (3·rx) XOR ry is folded to
    pure CASE arithmetic (rx=0 → ry; rx=1 → 3-ry), and the
    reflect+swap rotation is two CASE expressions over the ORIGINAL
    x/y of the stage."""
    stages = []
    for k in range(_HB_ORDER - 1, -1, -1):
        s = 1 << k
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        d = (f"d + {s * s} * (CASE WHEN {rx} = 0 THEN {ry} "
             f"ELSE 3 - {ry} END)")
        x = (f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
             f"THEN {s} - 1 - y ELSE y END) ELSE x END")
        y_ = (f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
              f"THEN {s} - 1 - x ELSE x END) ELSE y END")
        stages.append((s, d, x, y_))
    return stages


def _hilbert_oracle() -> str:
    ctes = []
    prev = "h0"
    for i, (_s, d, x, y) in enumerate(_hilbert_stage_exprs(), 1):
        ctes.append(f"""h{i} AS (
      SELECT pk, ({d}) AS d, ({x}) AS x, ({y}) AS y FROM {prev})""")
        prev = f"h{i}"
    n = _HB_ORDER
    return f"""
    WITH h0 AS (
      SELECT p_partkey AS pk,
             CAST(0 AS BIGINT) AS d,
             CAST(p_size * 5 AS BIGINT) & 255 AS x,
             CAST(round(p_retailprice) AS BIGINT) & 255 AS y
      FROM part),
    {",".join(ctes)},
    fin AS (SELECT pk, d FROM {prev}),
    adj AS (
      SELECT abs(d - lag(d) OVER (ORDER BY x0.x, x0.y, pk)) AS jump
      FROM fin JOIN (SELECT pk, x, y FROM h0) x0 USING (pk))
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT)
             AS max_d,
           CAST((SELECT sum(jump) FROM adj WHERE jump IS NOT NULL)
                AS BIGINT) AS rowmajor_scan_jump_total
    FROM fin
    """


@register(
    "layout_hilbert_order",
    oracle=_hilbert_oracle(),
    tags=("layout",),
)
def layout_hilbert_order(spark, sf_dir):
    """Hilbert space-filling-curve layout key over the part
    (size, price) plane — the better-locality sibling of the z-order
    key (`operators/zorder.py` / `layout_zonemap_pruning`): unlike
    Morton interleave, the Hilbert walk never makes the diagonal
    jumps that scatter a 2-D range across the 1-D order, so min/max
    zone maps prune tighter for the same data. Emits the layout
    audit: key range + total |Δd| along a row-major sweep of the
    grid (the locality figure you compare against z-order's before
    rewriting a 100 TB table).

    Exactness: the xy→d walk is the standard {_HB_ORDER}-level
    reflect/swap recurrence, generated ONCE as per-level CASE
    arithmetic over integers (the (3rx)⊕ry quadrant term folds to
    rx=0→ry / rx=1→3-ry, so no engine-specific XOR syntax exists)
    and run verbatim by both engines — chained selectExpr in Spark,
    the identical text as CTE stages in DuckDB.

    Scale shape: map-only per-row integer arithmetic inside
    whole-stage codegen (like zorder_key's shift/or chain) + one
    ordered grid-grain pass for the audit metric; writing a
    table Hilbert-clustered is `write_zordered` with this key."""
    d0 = (table(spark, sf_dir, "part")
          .selectExpr("p_partkey AS pk",
                      "CAST(0 AS BIGINT) AS d",
                      "CAST(p_size * 5 AS BIGINT) & 255 AS x",
                      "CAST(round(p_retailprice) AS BIGINT) & 255 AS y"))
    cur = d0
    for _s, dd, xx, yy in _hilbert_stage_exprs():
        cur = cur.selectExpr("pk", f"({dd}) AS d", f"({xx}) AS x",
                             f"({yy}) AS y")
    fin = cur.select("pk", "d")
    x0 = d0.select("pk", "x", "y")
    w = Window.orderBy("x", "y", "pk")
    adj = (fin.join(x0, "pk")
           .select(F.abs(F.col("d") - F.lag("d").over(w)).alias("jump")))
    tot = adj.filter(F.col("jump").isNotNull()) \
        .agg(F.sum("jump").cast("long").alias("rowmajor_scan_jump_total"))
    return (fin.agg(F.count("*").cast("long").alias("n_parts"),
                    F.min("d").cast("long").alias("min_d"),
                    F.max("d").cast("long").alias("max_d"))
            .crossJoin(F.broadcast(tot)))


# ------------------------------------------------ audio landmark FP

# single source of truth: the same constants drive the streaming
# catalog ingest (streaming/landmark_ingest.py)
from ..llm.multimodal import LANDMARK_FAN as _LM_FAN  # noqa: E402
from ..llm.multimodal import LANDMARK_MIN_AMP as _LM_MIN  # noqa: E402


@register(
    "multimodal_audio_landmarks",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) >= 3),
    sig AS (
      SELECT doc_id, CAST(i AS BIGINT) AS t,
             ascii(substr(text, CAST(i AS INT), 1)) AS amp
      FROM d, unnest(range(1, n + 1)) AS g(i)),
    pk AS MATERIALIZED (
      SELECT doc_id, t, amp
      FROM (SELECT doc_id, t, amp,
                   lag(amp) OVER (PARTITION BY doc_id ORDER BY t)
                     AS la,
                   lead(amp) OVER (PARTITION BY doc_id ORDER BY t)
                     AS lb
            FROM sig)
      WHERE amp > {_LM_MIN} AND la IS NOT NULL AND lb IS NOT NULL
        AND amp > la AND amp > lb),
    lm AS (
      SELECT a.doc_id,
             a.amp * 65536 + b.amp * 256 + (b.t - a.t) AS lhash
      FROM pk a JOIN pk b
        ON b.doc_id = a.doc_id AND b.t > a.t
       AND b.t - a.t <= {_LM_FAN}),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_landmarks,
             md5(string_agg(CAST(lhash AS VARCHAR), ','
                            ORDER BY lhash)) AS fingerprint
      FROM lm GROUP BY doc_id),
    np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_peaks
           FROM pk GROUP BY doc_id)
    SELECT np.doc_id, np.n_peaks,
           coalesce(per.n_landmarks, 0) AS n_landmarks,
           per.fingerprint
    FROM np LEFT JOIN per ON per.doc_id = np.doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_audio_landmarks(spark, sf_dir):
    """Shazam-style constellation fingerprinting over the
    text-as-waveform stand-in: strict local maxima above an
    amplitude floor become PEAKS; each anchor peak pairs with every
    peak within {_LM_FAN} steps ahead into a LANDMARK hash
    (f1·2^16 + f2·2^8 + Δt — the classic target-zone triple); a
    document's fingerprint is the md5 of its ordered landmark list.
    A real audio pipeline feeds spectrogram-bin peaks from the Arrow
    decode kernel into the SAME peak→pair→hash chain — this is how
    near-duplicate audio is matched at catalog scale.

    Exactness: amplitudes, peak tests, and landmark hashes are pure
    integers; the fingerprint aggregates the landmark list in
    EXPLICIT lhash order on both engines (ordered string_agg /
    sort_array+concat_ws), so the md5 is deterministic under any
    partitioning.

    Scale shape: peak detection is one windowed pass over the signal
    explode (map-only volume, like VAD); the landmark self-join is
    per-doc with a {_LM_FAN}-step target zone — fanout bounded by
    peak density × zone width, never quadratic in signal length;
    the fingerprint aggregate is per-doc. Matching two catalogs is
    then an equi-join on lhash (posting lists), the same shape as
    every banding dedup here."""
    from ..llm.multimodal import landmark_postings
    d = (table(spark, sf_dir, "documents")
         .filter(F.length("text") >= 3)
         .select("doc_id", "text"))
    # the peak detector, inlined only for its peak COUNT output — the
    # landmark pairing itself is the shared llm.multimodal chain the
    # streaming catalog ingest also runs
    sig = d.select(
        "doc_id",
        F.posexplode(F.expr(
            "transform(sequence(1, length(text)), "
            "i -> ascii(substr(text, CAST(i AS INT), 1)))"
        )).alias("i0", "amp")).select(
        "doc_id", (F.col("i0") + 1).alias("t"), "amp")
    w = Window.partitionBy("doc_id").orderBy("t")
    pk = (sig.select("doc_id", "t", "amp",
                     F.lag("amp").over(w).alias("la"),
                     F.lead("amp").over(w).alias("lb"))
          .filter((F.col("amp") > _LM_MIN)
                  & F.col("la").isNotNull() & F.col("lb").isNotNull()
                  & (F.col("amp") > F.col("la"))
                  & (F.col("amp") > F.col("lb")))
          .select("doc_id", "t", "amp"))
    lm = landmark_postings(d, "doc_id", "text")
    per = (lm.groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_landmarks"),
                F.md5(F.concat_ws(",", F.expr(
                    "transform(sort_array(collect_list(lhash)), "
                    "v -> CAST(v AS STRING))")))
                .alias("fingerprint")))
    np_ = pk.groupBy("doc_id").agg(F.count("*").cast("long")
                                   .alias("n_peaks"))
    return (np_.join(per, "doc_id", "left")
            .select("doc_id", "n_peaks",
                    F.coalesce("n_landmarks", F.lit(0)).cast("long")
                    .alias("n_landmarks"),
                    "fingerprint"))


# ------------------------------------------------ Cavnar-Trenkle lang-ID

_CT_LP = 30   # language-profile depth (top trigrams)
_CT_DP = 20   # document-profile depth
_CT_PEN = 30  # out-of-place penalty for grams absent from a profile


@register(
    "text_lang_id_cavnar_trenkle",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) >= 3),
    tg AS MATERIALIZED (
      SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS g
      FROM d, unnest(range(1, n - 1)) AS t(i)),
    lp AS MATERIALIZED (
      SELECT lang, g, rnk
      FROM (SELECT lang, g,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, g)
                     AS rnk
            FROM tg GROUP BY lang, g)
      WHERE rnk <= {_CT_LP}),
    dp AS MATERIALIZED (
      SELECT doc_id, lang AS true_lang, g, rnk
      FROM (SELECT doc_id, lang, g,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY count(*) DESC, g)
                     AS rnk
            FROM tg GROUP BY doc_id, lang, g)
      WHERE rnk <= {_CT_DP}),
    langs AS (SELECT DISTINCT lang FROM d),
    sc AS (
      SELECT dp.doc_id, dp.true_lang, l.lang AS cand,
             CAST(sum(CASE WHEN lp.rnk IS NULL THEN {_CT_PEN}
                           ELSE abs(dp.rnk - lp.rnk) END) AS BIGINT)
               AS score
      FROM dp CROSS JOIN langs l
      LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
      GROUP BY 1, 2, 3),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang
      FROM (SELECT doc_id, true_lang, cand,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score, cand) AS rn
            FROM sc)
      WHERE rn = 1)
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
    tags=("llm", "text", "classify"),
)
def text_lang_id_cavnar_trenkle(spark, sf_dir):
    """Cavnar-Trenkle n-gram rank-profile language ID (the classic
    'out-of-place' measure behind textcat/langdetect): each language
    gets a profile of its top-{_CT_LP} character trigrams by
    frequency rank; a document's top-{_CT_DP} trigram ranks are
    compared to each profile by summed rank displacement (absent
    grams pay the max penalty {_CT_PEN}); predict the
    minimum-displacement language. Emits the confusion matrix — the
    rank-statistics alternative to the registry's Naive-Bayes
    classifier (`nb_lang_classifier`), and the corpus-quality gate
    run before language-filtering a 100 TB crawl.

    Exactness: counts, ranks (full (count DESC, gram) tiebreaks),
    displacements, and argmin (score, lang) are all integers — no
    float exists. In-sample profiles by design (the profile build IS
    part of the measured pipeline).

    Scale shape: one trigram explode (≈ text volume) feeding two
    rank windows — per-language profiles are {_CT_LP}-row relations
    (broadcast), document profiles are {_CT_DP} rows/doc; scoring
    joins doc-profile grams against the tiny profile relation and
    aggregates per (doc, candidate) — |langs|·{_CT_DP} rows per doc,
    map-side combinable."""
    d = (table(spark, sf_dir, "documents")
         .filter(F.length("text") >= 3)
         .select("doc_id", "lang", "text"))
    tg = d.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 2), "
            "i -> substr(text, CAST(i AS INT), 3))")).alias("g"))
    tg = tg.localCheckpoint()
    wl = Window.partitionBy("lang").orderBy(F.desc("c"), "g")
    lp = (tg.groupBy("lang", "g").agg(F.count("*").alias("c"))
          .withColumn("rnk", F.row_number().over(wl))
          .filter(F.col("rnk") <= _CT_LP)
          .select("lang", "g", "rnk"))
    wd = Window.partitionBy("doc_id").orderBy(F.desc("c"), "g")
    dp = (tg.groupBy("doc_id", "lang", "g").agg(F.count("*").alias("c"))
          .withColumn("rnk", F.row_number().over(wd))
          .filter(F.col("rnk") <= _CT_DP)
          .select("doc_id", F.col("lang").alias("true_lang"), "g",
                  "rnk"))
    langs = d.select("lang").distinct()
    sc = (dp.crossJoin(F.broadcast(langs.withColumnRenamed("lang",
                                                           "cand")))
          .join(F.broadcast(lp.select(F.col("lang").alias("cand"),
                                      "g",
                                      F.col("rnk").alias("lp_rnk"))),
                ["cand", "g"], "left")
          .groupBy("doc_id", "true_lang", "cand")
          .agg(F.sum(F.when(F.col("lp_rnk").isNull(), _CT_PEN)
                     .otherwise(F.abs(F.col("rnk") - F.col("lp_rnk"))))
               .cast("long").alias("score")))
    wp = Window.partitionBy("doc_id").orderBy("score", "cand")
    pred = (sc.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select("doc_id", "true_lang",
                    F.col("cand").alias("pred_lang")))
    return (pred.groupBy("true_lang", "pred_lang")
            .agg(F.count("*").cast("long").alias("n")))


# ------------------------------------------------ Burrows' Delta

_BD_WORDS = 50  # most-frequent-word profile depth
_BD_TOP = 10    # closest source pairs reported


@register(
    "text_burrows_delta",
    oracle=f"""
    WITH w AS MATERIALIZED (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents),
    topw AS MATERIALIZED (
      SELECT word FROM (
        SELECT word, row_number() OVER (ORDER BY count(*) DESC, word)
                 AS rn
        FROM w GROUP BY word)
      WHERE rn <= {_BD_WORDS}),
    srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS nw
             FROM w GROUP BY source),
    cnt AS (
      SELECT w.source, w.word, CAST(count(*) AS BIGINT) AS c
      FROM w JOIN topw USING (word) GROUP BY 1, 2),
    grid AS (
      SELECT t.word, s.source,
             CAST(round(coalesce(c.c, 0) * 1.0 / s.nw, 9)
                  AS DECIMAL(20,9)) AS f
      FROM topw t CROSS JOIN srcs s
      LEFT JOIN cnt c ON c.word = t.word AND c.source = s.source),
    mom AS (
      SELECT word, CAST(count(*) AS BIGINT) AS k,
             sum(f) AS s1, sum(f * f) AS s2
      FROM grid GROUP BY word),
    z AS (
      SELECT g.word, g.source,
             (CAST(g.f AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.k)
               / sqrt((m.k * CAST(m.s2 AS DOUBLE)
                       - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE))
                      / (CAST(m.k AS DOUBLE) * m.k)) AS zv
      FROM grid g JOIN mom m ON m.word = g.word
      WHERE m.k * CAST(m.s2 AS DOUBLE)
            - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) > 0),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_words,
             sum(CAST(round(abs(a.zv - b.zv), 6) AS DECIMAL(18,6)))
               AS dsum
      FROM z a JOIN z b
        ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, n_words,
           round(CAST(dsum AS DOUBLE) / n_words, 4) AS delta,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
                      ORDER BY CAST(dsum AS DOUBLE) / n_words,
                               src_a, src_b) AS rn
          FROM pairs)
    WHERE rn <= {_BD_TOP}
    """,
    tags=("llm", "text"),
)
def text_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance between sources — the
    standard authorship-attribution measure: z-score each source's
    relative frequency of the {_BD_WORDS} most frequent words
    (function words carry style, not topic), then Delta(a,b) = mean
    |z_a - z_b| over the profile; report the {_BD_TOP} closest
    pairs. In a training-data pipeline this is the
    same-author/same-template detector that catches near-duplicate
    SOURCES the document-level dedups miss.

    Determinism discipline: relative frequencies are rounded to
    DECIMAL(20,9) BEFORE any aggregation, so the per-word moment
    sums are exact decimal arithmetic (no float order); z-scores are
    then fixed expressions over exact inputs; per-pair sums run over
    6dp-rounded DECIMAL terms (the HyperANF trick) — no float
    accumulation order exists anywhere. Zero-variance words are
    excluded on both engines by the same exact predicate.

    Scale shape: word counts are map-side combinable; the grid is
    {_BD_WORDS}×|sources| (tiny, broadcast); the pair join is
    |sources|²·{_BD_WORDS} rows — quadratic only in SOURCES (the
    entities being compared), never in documents or tokens."""
    w = (table(spark, sf_dir, "documents")
         .select("source", F.explode(F.split("text", " ")).alias("word")))
    w = w.localCheckpoint()
    wr = Window.orderBy(F.desc("c"), "word")
    topw = (w.groupBy("word").agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= _BD_WORDS).select("word"))
    srcs = w.groupBy("source").agg(F.count("*").cast("long").alias("nw"))
    cnt = (w.join(F.broadcast(topw), "word")
           .groupBy("source", "word").agg(F.count("*").cast("long")
                                          .alias("c")))
    grid = (topw.crossJoin(srcs)
            .join(cnt, ["word", "source"], "left")
            .select("word", "source",
                    F.round(F.coalesce(F.col("c"), F.lit(0))
                            / F.col("nw").cast("double"), 9)
                    .cast("decimal(20,9)").alias("f")))
    mom = (grid.groupBy("word")
           .agg(F.count("*").cast("long").alias("k"),
                F.sum("f").alias("s1"),
                F.sum(F.col("f") * F.col("f")).alias("s2")))
    var_num = (F.col("k") * F.col("s2").cast("double")
               - F.col("s1").cast("double") * F.col("s1").cast("double"))
    z = (grid.join(F.broadcast(mom), "word")
         .filter(var_num > 0)
         .select("word", "source",
                 ((F.col("f").cast("double")
                   - F.col("s1").cast("double") / F.col("k"))
                  / F.sqrt(var_num / (F.col("k").cast("double")
                                      * F.col("k")))).alias("zv")))
    a, b = z.alias("a"), z.alias("b")
    pairs = (a.join(b, (F.col("a.word") == F.col("b.word"))
                    & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("src_a"),
                      F.col("b.source").alias("src_b"))
             .agg(F.count("*").cast("long").alias("n_words"),
                  F.sum(F.round(F.abs(F.col("a.zv") - F.col("b.zv")), 6)
                        .cast("decimal(18,6)")).alias("dsum")))
    wp = Window.orderBy(F.col("dsum").cast("double") / F.col("n_words"),
                        "src_a", "src_b")
    return (pairs.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= _BD_TOP)
            .select("src_a", "src_b", "n_words",
                    F.round(F.col("dsum").cast("double")
                            / F.col("n_words"), 4).alias("delta"),
                    F.col("rn").cast("int").alias("rank")))


# ------------------------------------------------ k-center greedy

_KC_PICKS = 4  # greedy rounds after the deterministic seed


def _kcenter_oracle() -> str:
    ctes = []
    for k in range(1, _KC_PICKS + 1):
        ctes.append(f""",
    md{k} AS (
      SELECT e.vec_id, min(d.d2) AS min_d2
      FROM el e
      JOIN c{k - 1} ch ON TRUE
      JOIN (SELECT a.vec_id AS p, b.vec_id AS q,
                   sum((ea.x - eb.x) * (ea.x - eb.x)) AS d2
            FROM pts a JOIN c{k - 1} b ON a.vec_id <> b.vec_id
            JOIN elx ea ON ea.vec_id = a.vec_id
            JOIN elx eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
            GROUP BY 1, 2) d
        ON d.p = e.vec_id AND d.q = ch.vec_id
      GROUP BY e.vec_id),
    s{k} AS MATERIALIZED (
      SELECT vec_id, min_d2
      FROM (SELECT vec_id, min_d2,
                   row_number() OVER (ORDER BY min_d2 DESC, vec_id)
                     AS rn
            FROM md{k}
            WHERE vec_id NOT IN (SELECT vec_id FROM c{k - 1}))
      WHERE rn = 1),
    c{k} AS MATERIALIZED (
      SELECT vec_id FROM c{k - 1}
      UNION ALL SELECT vec_id FROM s{k})""")
    sels = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS round, vec_id, min_d2 FROM s{k}"
        for k in range(1, _KC_PICKS + 1))
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    elx AS MATERIALIZED (
      SELECT vec_id, CAST(i AS INT) AS pos,
             CAST(round(v[i] * 1000000) AS BIGINT) AS x
      FROM pts, unnest(range(1, len(v) + 1)) AS g(i)),
    el AS (SELECT DISTINCT vec_id FROM elx),
    c0 AS MATERIALIZED (
      SELECT min(vec_id) AS vec_id FROM pts){"".join(ctes)}
    SELECT CAST(round AS INT) AS round, vec_id,
           round(CAST(min_d2 AS DOUBLE) / 1e12, 6) AS min_dist_sq
    FROM ({sels})
    """


@register("sample_kcenter_greedy", oracle=_kcenter_oracle(),
          tags=("llm", "sample", "similarity"))
def sample_kcenter_greedy(spark, sf_dir):
    """Farthest-first traversal (Gonzalez k-center greedy) over the
    embedding space: seed with the lowest vec_id, then {_KC_PICKS}
    rounds each add the point FARTHEST from the chosen set (max
    min-distance, ties to the lowest id) — the 2-approximation
    coreset/diversity selector whose emitted min_dist_sq sequence IS
    the coverage-radius curve (each value bounds how far any point
    sits from the selected set). The geometric complement of
    `curation_submodular_coverage` (vocabulary coverage) and
    `curation_mmr_diverse_select` (relevance-diversity trade).

    Exactness: distances are the exact once-quantized integer
    squared-L2 of the kNN family; min/argmax are integer order
    statistics with full (d2 DESC, id) tiebreaks.

    Scale shape: per round ONE pass computing each point's distance
    to the ≤{_KC_PICKS}+1 chosen centers (broadcast — centers are a
    handful of rows) and a top-1 heap; never a point-point pair
    relation. At corpus scale this is the standard coreset builder
    (seed k-means++, pick annotation batches, cap per-cluster
    sampling)."""
    emb = table(spark, sf_dir, "embeddings")
    pts = _quantized_pts(emb).localCheckpoint()
    chosen = (emb.agg(F.min("vec_id").alias("vec_id"))
              .localCheckpoint())
    sels = None
    for k in range(1, _KC_PICKS + 1):
        # distance of every point to every chosen center (centers
        # broadcast), min per point, excluding already-chosen
        centers = pts.join(chosen, "vec_id").select(
            F.col("vec_id").alias("q"), F.col("qv").alias("cv"))
        pairs = (pts.crossJoin(F.broadcast(centers))
                 .filter(F.col("vec_id") != F.col("q"))
                 .select("vec_id",
                         _sq_l2_int(F.col("qv"), F.col("cv")).alias("d2")))
        md = (pairs.groupBy("vec_id").agg(F.min("d2").alias("min_d2"))
              .join(chosen, "vec_id", "left_anti"))
        pick = (md.orderBy(F.desc("min_d2"), "vec_id").limit(1)
                .localCheckpoint())
        sel = pick.select(F.lit(k).cast("int").alias("round"),
                          "vec_id",
                          F.round(F.col("min_d2").cast("double")
                                  / F.lit(1e12), 6)
                          .alias("min_dist_sq"))
        sels = sel if sels is None else sels.unionByName(sel)
        chosen = (chosen.unionByName(pick.select("vec_id"))
                  .localCheckpoint())
    return sels

