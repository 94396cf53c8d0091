"""Curation-wave queries (llm/curation.py): decontamination,
repetition quality signals, PII scrubbing, incremental dedup.

Oracle discipline matches queries/llm.py: the SQL is generated from the
same constants (shingle K, MinHash seeds/bands, split buckets, redaction
regexes) as the Spark implementation, md5 as the shared primitive.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import curation as C
from ..llm import dedup as D
from .base import register, table

# deterministic doc split bucket — same expression as split_train_val_test
_BUCKET_SQL = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
               "AS BIGINT) % 100")


def _bucket_col():
    return (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("long") % 100)


# the canonical 80/10/10 split labels over the bucket — the same
# thresholds as `split_train_val_test` (queries/sketches.py) and the
# decontamination queries (test ≥ 90, train < 80); report queries
# (llm21.py) import these so the convention lives in one place
SPLIT_SQL = (f"CASE WHEN {_BUCKET_SQL} < 80 THEN 'train' "
             f"WHEN {_BUCKET_SQL} < 90 THEN 'val' ELSE 'test' END")


def split_col():
    b = _bucket_col()
    return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")


def _shingles_sql(src: str, prefix: str) -> str:
    """words+shingles CTE pair over CTE ``src`` (same shape as
    queries/llm.py:SHINGLES_CTE, parameterized by source)."""
    k = D.SHINGLE_K
    return f"""
    {prefix}_words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
    {prefix}_sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ws) - {k - 2}, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      FROM {prefix}_words)"""


def _bands_sql(prefix: str) -> str:
    """sig+bands CTE pair over ``{prefix}_sh`` — MinHash signatures and
    LSH band keys from the shared constants."""
    aggs = ",\n             ".join(
        f"min({D.minhash_hex_sql(j)}) AS h{j}" for j in range(D.N_MINHASH))
    rows = D.N_MINHASH // D.LSH_BANDS
    bands = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, "
        + " || ".join(f"h{b * rows + r}" for r in range(rows))
        + f" AS key FROM {prefix}_sig"
        for b in range(D.LSH_BANDS))
    return f"""
    {prefix}_sig AS (
      SELECT doc_id,
             {aggs}
      FROM {prefix}_sh GROUP BY doc_id),
    {prefix}_bands AS (
{bands})"""


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, {_BUCKET_SQL} AS bk FROM documents),
    tr AS (SELECT doc_id, text FROM b WHERE bk < 80),
    te AS (SELECT doc_id, text FROM b WHERE bk >= 90),
    {_shingles_sql('tr', 'tr')},
    {_shingles_sql('te', 'te')},
    postings AS (
      SELECT shingle, count(DISTINCT doc_id) AS n_train_docs
      FROM tr_sh GROUP BY shingle),
    hits AS (
      SELECT t.doc_id, count(*) AS n_shared_shingles,
             max(n_train_docs) AS max_train_df
      FROM te_sh t JOIN postings USING (shingle)
      GROUP BY t.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM te_sh GROUP BY doc_id)
    SELECT h.doc_id AS test_id, n_shared_shingles, max_train_df,
           round(n_shared_shingles * 1.0 / n, 6) AS contamination_ratio
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """,
    tags=("llm", "curation"),
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: test-split docs sharing k-word
    shingles with the train split (llm/curation.py:decontaminate).
    Train side collapses to a shingle-keyed posting index; one shuffle,
    never doc×doc."""
    d = table(spark, sf_dir, "documents")
    bk = _bucket_col()
    return C.decontaminate(d.filter(bk < 80), d.filter(bk >= 90))


@register(
    "text_repetition_stats",
    oracle="""
    WITH wc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
    cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           round(1 - count(*) * 1.0 / sum(c), 6) AS dup_word_ratio,
           round(max(c) * 1.0 / sum(c), 6) AS top_word_frac
    FROM cnt GROUP BY doc_id
    """,
    tags=("llm", "quality"),
)
def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (llm/curation.py:
    repetition_stats): duplicate-word ratio + top-word fraction."""
    return C.repetition_stats(table(spark, sf_dir, "documents"))


@register(
    "pii_scrub_redact",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{C.EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{C.PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{C.EMAIL_RE}',
                                             '<EMAIL>', 'g'),
                              '{C.PHONE_RE}', '<PHONE>', 'g'))
             AS scrubbed_md5
    FROM pii
    """,
    tags=("llm", "curation"),
)
def pii_scrub_redact(spark, sf_dir):
    """PII scrub audit (llm/curation.py:pii_scrub). The fixture corpus
    carries no PII, so both engines append the same deterministic
    contact string per doc, then redact it — verifying the scrub
    mechanics (replace-all semantics, counts, scrubbed-content hash)
    end to end."""
    d = table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    return C.pii_scrub(d.withColumn("text", pii_text))


@register(
    "dedup_incremental",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, n_chars, {_BUCKET_SQL} AS bk
               FROM documents),
    ex AS (SELECT doc_id, text FROM b WHERE bk < 80),
    inc AS (SELECT doc_id, text, n_chars FROM b WHERE bk >= 80),
    ex_hash AS (SELECT DISTINCT md5(text) AS h FROM ex),
    new_exact AS (
      SELECT * FROM inc WHERE md5(text) NOT IN (SELECT h FROM ex_hash)),
    {_shingles_sql('ex', 'ex')},
    {_shingles_sql('new_exact', 'ni')},
    {_bands_sql('ex')},
    {_bands_sql('ni')},
    near AS (
      SELECT DISTINCT n.doc_id
      FROM ni_bands n JOIN ex_bands e
        ON n.band = e.band AND n.key = e.key)
    SELECT doc_id, n_chars FROM new_exact
    WHERE doc_id NOT IN (SELECT doc_id FROM near)
    """,
    tags=("llm", "dedup"),
)
def dedup_incremental(spark, sf_dir):
    """Nightly-ingest dedup (llm/curation.py:incremental_dedup): new
    batch (buckets 80-99) vs existing corpus (buckets 0-79), exact-hash
    anti-join then MinHash-band anti-join — the corpus participates
    only as precomputable index relations."""
    d = table(spark, sf_dir, "documents")
    bk = _bucket_col()
    kept = C.incremental_dedup(d.filter(bk < 80), d.filter(bk >= 80))
    return kept.select("doc_id", "n_chars")


def _lloyd_chain(n_iter: int) -> tuple[str, str]:
    """(CTE chain SQL, final-centroid CTE name) for the unrolled Lloyd
    iterations — k-agnostic (k only enters via the c0 init), shared by
    the IVF k-means oracle below and every semantic-cells oracle."""
    def assign(cn: str, an: str) -> str:
        return f"""
    {an} AS (
      SELECT vec_id, v, cell FROM (
        SELECT p.vec_id, p.v, c.cell,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.cell) AS rn
        FROM pts p CROSS JOIN {cn} c) WHERE rn = 1)"""

    def means(an: str, cn: str) -> str:
        return f"""
    {cn} AS (
      SELECT cell, list(round(m, 6) ORDER BY pos) AS cv FROM (
        SELECT cell, pos, avg(val) AS m FROM (
          SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) AS pos
          FROM {an})
        GROUP BY cell, pos)
      GROUP BY cell)"""

    steps = []
    prev = "c0"
    for i in range(1, n_iter + 1):
        steps.append(assign(prev, f"a{i}"))
        steps.append(means(f"a{i}", f"c{i}"))
        prev = f"c{i}"
    return ",".join(steps), prev


def _kmeans_oracle(k: int = 8, n_iter: int = 2) -> str:
    """Lloyd's iterations unrolled as CTE pairs (``_lloyd_chain``) —
    same 6dp centroid rounding and 6dp-sim/cell-id tie-break as the
    Spark side, so assignment is engine-independent."""
    chain, prev = _lloyd_chain(n_iter)
    return f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (
      SELECT vec_id AS cell,
             list_transform(v, x -> round(x, 6)) AS cv
      FROM pts WHERE vec_id < {k}),
    {chain},
    final AS (
      SELECT vec_id, cell FROM (
        SELECT p.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round(list_cosine_similarity(p.v, c.cv), 6) DESC,
                          c.cell) AS rn
        FROM pts p CROSS JOIN {prev} c) WHERE rn = 1)
    SELECT cell, count(*) AS n_points, min(vec_id) AS min_vec_id
    FROM final GROUP BY cell
    """


@register("sim_ivf_kmeans_cells", oracle=_kmeans_oracle(),
          tags=("llm", "similarity"))
def sim_ivf_kmeans_cells(spark, sf_dir):
    """IVF with Lloyd-refined centroids (llm/similarity.py:
    kmeans_centroids, 2 iterations): per-cell population after
    convergence steps — the coarse-quantizer layout a real IVF index
    persists. Every stage is (cell/pos)-keyed aggregation; never
    point×point."""
    from ..llm.similarity import kmeans_assign, kmeans_centroids
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = kmeans_centroids(emb, n_iter=2)
    final = kmeans_assign(pts, cents)
    return (final.groupBy("cell")
            .agg(F.count("*").alias("n_points"),
                 F.min("vec_id").alias("min_vec_id")))


@register(
    "seq_pack_contiguous",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 32 AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, bucket, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start
      FROM t)
    SELECT doc_id, bucket, n_tokens,
           start // 128 AS bin_id,
           start % 128 AS bin_offset
    FROM c
    """,
    tags=("llm", "packing"),
)
def seq_pack_contiguous(spark, sf_dir):
    """Training-sequence packing (llm/curation.py:pack_sequences):
    hash-bucketed contiguous concatenation sliced into 128-token
    windows — per-bucket running sums, no global order, n_buckets
    independent packer streams at scale."""
    return C.pack_sequences(table(spark, sf_dir, "documents"),
                            window_tokens=128, n_buckets=32)


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
    cnt AS (
      SELECT doc_id, c, count(*) AS n FROM chars
      WHERE c <> '' GROUP BY doc_id, c)
    SELECT doc_id,
           round(log2(CAST(sum(n) AS DOUBLE))
                 - sum(n * log2(CAST(n AS DOUBLE)))
                   / CAST(sum(n) AS DOUBLE), 6) AS char_entropy,
           CAST(sum(n) AS BIGINT) AS n_chars_counted
    FROM cnt GROUP BY doc_id
    """,
    tags=("llm", "quality"),
)
def text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per doc
    (llm/curation.py:char_entropy) — the perplexity proxy quality
    gate; algebraic one-pass form keeps it a single aggregation."""
    return C.char_entropy(table(spark, sf_dir, "documents"))


@register(
    "vocab_build_topk",
    oracle="""
    WITH wc AS (
      SELECT w, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w),
    top AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT 100)
    SELECT w AS word, n, row_number() OVER (ORDER BY n DESC, w) AS token_id
    FROM top
    """,
    tags=("llm", "vocab"),
)
def vocab_build_topk(spark, sf_dir):
    """Frequency-ranked vocabulary construction — the tokenizer-training
    primitive: corpus word counts (map-side partial agg), top-V by
    (count, word) via TakeOrderedAndProject (never a global sort of the
    vocabulary), dense token ids by the same deterministic order."""
    from pyspark.sql import Window
    d = table(spark, sf_dir, "documents")
    wc = (d.select(F.explode(F.split("text", " ")).alias("word"))
          .groupBy("word").agg(F.count("*").alias("n")))
    top = wc.orderBy(F.col("n").desc(), "word").limit(100)
    w = Window.orderBy(F.col("n").desc(), "word")
    return top.select("word", "n",
                      F.row_number().over(w).cast("long").alias("token_id"))


@register(
    "profile_columns",
    oracle="""
    SELECT 'l_orderkey' AS col, count(*) AS n_rows,
           CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
           count(DISTINCT l_orderkey) AS n_distinct,
           CAST(min(l_orderkey) AS VARCHAR) AS min_s,
           CAST(max(l_orderkey) AS VARCHAR) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*),
           CAST(count(*) - count(l_quantity) AS BIGINT),
           count(DISTINCT l_quantity),
           CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*),
           CAST(count(*) - count(l_returnflag) AS BIGINT),
           count(DISTINCT l_returnflag),
           min(l_returnflag), max(l_returnflag)
    FROM lineitem
    """,
    tags=("profiling",),
)
def profile_columns(spark, sf_dir):
    """One-pass-per-metric column profiler (the data-quality sweep a
    pipeline runs on every new drop): nulls, exact distinct, min/max
    per column. One aggregate computes ALL columns' metrics in a single
    scan, then unpivots to (col, metric...) rows — vs the oracle's
    3-scan UNION ALL, the Spark plan reads the table once."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag"]
    aggs = []
    for c in cols:
        aggs += [F.count("*").alias(f"{c}__rows"),
                 (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
                 F.countDistinct(c).alias(f"{c}__dist"),
                 F.min(c).cast("string").alias(f"{c}__min"),
                 F.max(c).cast("string").alias(f"{c}__max")]
    one = li.agg(*aggs)
    structs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(f"{c}__rows").alias("n_rows"),
                 F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                 F.col(f"{c}__dist").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_s"),
                 F.col(f"{c}__max").alias("max_s"))
        for c in cols])
    return (one.select(F.explode(structs).alias("s")).select("s.*"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx
      FROM e),
    q AS (
      SELECT vec_id, v, mx,
             list_transform(v, x -> CAST(round(x * 127 / mx) AS INTEGER))
               AS qv
      FROM m)
    SELECT vec_id,
           round(mx / 127, 6) AS scale,
           md5(array_to_string(qv, ',')) AS q_md5,
           round(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - qv[i] * mx / 127))), 6) AS max_abs_err
    FROM q
    """,
    tags=("llm", "embedding"),
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization of embeddings — the 4×
    storage/bandwidth compression an ANN index applies before sharding:
    q_i = round(x_i·127 / max|x|), per-vector scale. Entirely
    element-local HOFs (transform/zip_with) in codegen — zero shuffles,
    zero Python; max-abs reconstruction error is order-independent
    (max, not sum), so both engines agree bit-for-bit before the final
    rounding."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    mx = F.array_max(F.transform("v", lambda x: F.abs(x)))
    m = e.withColumn("mx", mx)
    qv = F.transform("v", lambda x: F.round(x * 127 / F.col("mx"))
                     .cast("int"))
    q = m.withColumn("qv", qv)
    err = F.array_max(F.zip_with(
        "v", "qv", lambda x, qq: F.abs(x - qq * F.col("mx") / 127)))
    return q.select(
        "vec_id",
        F.round(F.col("mx") / 127, 6).alias("scale"),
        F.md5(F.concat_ws(",", F.transform("qv", lambda x: x.cast("string"))))
        .alias("q_md5"),
        F.round(err, 6).alias("max_abs_err"))


@register(
    "multimodal_image_tiles",
    oracle="""
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS byte_len FROM documents),
    t AS (
      SELECT doc_id, byte_len,
             CAST(ceil(ceil(byte_len / 16.0) / 4.0) AS BIGINT) AS n_tiles
      FROM m)
    SELECT doc_id, n_tiles, u AS tile_idx,
           u * 64 AS byte_start,
           least(u * 64 + 64, byte_len) AS byte_end
    FROM (SELECT doc_id, byte_len, n_tiles,
                 unnest(range(0, n_tiles)) AS u
          FROM t)
    """,
    tags=("llm", "multimodal"),
)
def multimodal_image_tiles(spark, sf_dir):
    """ViT-style tiling plan (llm/multimodal.py:image_tile_plan): one
    fetch extent per 4x16-byte tile from metadata only — the payload
    column is pruned; extents cover every byte exactly once (final
    partial tile truncates)."""
    from ..llm.multimodal import attach_payload, image_tile_plan
    d = attach_payload(table(spark, sf_dir, "documents"))
    return image_tile_plan(d).select(
        "doc_id", "n_tiles",
        F.col("tile_idx").cast("long").alias("tile_idx"),
        F.col("byte_start").cast("long").alias("byte_start"),
        F.col("byte_end").cast("long").alias("byte_end"))


@register(
    "multimodal_audio_windows",
    oracle="""
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS byte_len FROM documents),
    t AS (
      SELECT doc_id, byte_len,
             CASE WHEN byte_len > 0
                  THEN CAST(ceil(byte_len / 16.0) AS BIGINT)
                  ELSE 0 END AS n_windows
      FROM m)
    SELECT doc_id, n_windows, u AS window_idx,
           u * 16 AS byte_start,
           least(u * 16 + 40, byte_len) AS byte_end
    FROM (SELECT doc_id, byte_len, n_windows,
                 unnest(range(0, n_windows)) AS u
          FROM t)
    """,
    tags=("llm", "multimodal"),
)
def multimodal_audio_windows(spark, sf_dir):
    """STFT-style overlapping window plan (llm/multimodal.py:
    audio_window_plan): 5s windows at 2s hop over a stand-in 8 B/s
    'sample rate' — the fetch schedule an MFCC extractor consumes;
    metadata-only, map-side."""
    from ..llm.multimodal import attach_payload, audio_window_plan
    d = attach_payload(table(spark, sf_dir, "documents"))
    return audio_window_plan(d).select(
        "doc_id", "n_windows",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.col("byte_start").cast("long").alias("byte_start"),
        F.col("byte_end").cast("long").alias("byte_end"))


@register(
    "lang_id_trigram",
    oracle="""
    WITH tg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                    i -> substr(text, i, 3))) AS t
      FROM documents),
    prof AS (
      SELECT lang AS plang, t, count(*) AS pn,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, t) AS rk
      FROM tg GROUP BY lang, t),
    top_prof AS (SELECT plang, t, pn FROM prof WHERE rk <= 50),
    scored AS (
      SELECT g.doc_id, g.lang, p.plang,
             CAST(count(*) AS BIGINT) AS hits
      FROM tg g JOIN top_prof p ON g.t = p.t
      GROUP BY g.doc_id, g.lang, p.plang),
    best AS (
      SELECT doc_id, lang, plang AS predicted_lang FROM (
        SELECT doc_id, lang, plang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, plang) AS rn
        FROM scored) WHERE rn = 1)
    SELECT lang, predicted_lang, count(*) AS n_docs
    FROM best GROUP BY lang, predicted_lang
    """,
    tags=("llm", "text"),
)
def lang_id_trigram(spark, sf_dir):
    """Char-trigram language ID — the real fastText-style structure
    (replacing the degenerate marker heuristic of text_lang_id, kept
    for reference parity): per-language trigram profiles built from
    the labeled corpus (top-50 by count, deterministic tie-break),
    docs scored by profile-trigram hits, argmax with language
    tie-break. Profiles are langs×50 rows — always broadcast; the only
    big shuffle is the doc-trigram aggregate. On the shared-vocabulary
    fixtures the confusion matrix is near-uniform BY CONSTRUCTION —
    the operator verifies structure and determinism, not fixture
    separability (real corpora separate)."""
    from pyspark.sql import Window
    d = table(spark, sf_dir, "documents")
    n = F.length("text")
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>"))
    tg = (d.select("doc_id", "lang",
                   F.explode(F.transform(
                       idx, lambda i: F.col("text").substr(i, F.lit(3))))
                   .alias("t")))
    wp = Window.partitionBy("plang").orderBy(F.col("pn").desc(), "t")
    prof = (tg.groupBy(F.col("lang").alias("plang"), "t")
            .agg(F.count("*").alias("pn"))
            .withColumn("rk", F.row_number().over(wp))
            .filter(F.col("rk") <= 50)
            .select("plang", "t"))
    scored = (tg.join(F.broadcast(prof), "t")
              .groupBy("doc_id", "lang", "plang")
              .agg(F.count("*").alias("hits")))
    wd = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "plang")
    best = (scored.withColumn("rn", F.row_number().over(wd))
            .filter("rn = 1"))
    return (best.groupBy("lang", F.col("plang").alias("predicted_lang"))
            .agg(F.count("*").alias("n_docs")))


@register(
    "text_bigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS g(i)),
    bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
    uc AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS vocab
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents))
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(ln((bc.c2 + 1.0) / (uc.c1 + v.vocab))), 4) AS avg_logprob
    FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
    GROUP BY b.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_bigram_lm_score(spark, sf_dir):
    """Perplexity-style corpus LM filter (llm/textstats.py:
    bigram_lm_score): add-one bigram model trained on the corpus,
    every doc scored by average bigram log-probability — the KenLM
    quality gate of training-data pipelines."""
    from ..llm.textstats import bigram_lm_score
    return bigram_lm_score(table(spark, sf_dir, "documents"))


@register(
    "sim_topk_int8_rerank",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q8 AS (
      SELECT vec_id,
             list_max(list_transform(v, x -> abs(x))) / 127 AS scale,
             list_transform(v, x -> CAST(round(
               x * 127 / list_max(list_transform(v, y -> abs(y)))) AS BIGINT))
               AS qv
      FROM e),
    ap AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_sum(list_transform(range(1, len(q.qv) + 1),
                     i -> q.qv[i] * c.qv[i]))
                   * q.scale * c.scale, 6) AS approx
      FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 5),
    pool AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, cand_id) AS prk
        FROM ap)
      WHERE prk <= 20)
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT p.query_id, p.cand_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                        p.cand_id) AS rank
      FROM pool p
      JOIN e q ON q.vec_id = p.query_id
      JOIN e c ON c.vec_id = p.cand_id)
    WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def sim_topk_int8_rerank(spark, sf_dir):
    """Quantized-retrieval + exact-rerank ANN (llm/similarity.py:
    int8_rerank_topk): int8 asymmetric-distance scan picks a 20-deep
    pool per query, full-precision cosine re-ranks the pool to top-5
    — the scan touches 4x fewer bytes than brute force and full
    vectors are fetched for pool rows only."""
    from ..llm import similarity as S
    emb = table(spark, sf_dir, "embeddings")
    return S.int8_rerank_topk(emb, emb.filter(F.col("vec_id") < 5),
                              k=5, pool=20)


@register(
    "dedup_lsh_verified",
    oracle=f"""
    WITH {_shingles_sql('documents', 'd').lstrip().rstrip(',')},
    {_bands_sql('d').lstrip()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d_bands a JOIN d_bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, count(*) AS c FROM d_sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN d_sh sa ON sa.doc_id = c.id_a
      JOIN d_sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           round(i.i * 1.0 / (ca.c + cb.c - i.i), 6) AS jaccard
    FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a
                 JOIN cnt cb ON cb.doc_id = i.id_b
    WHERE round(i.i * 1.0 / (ca.c + cb.c - i.i), 6) >= 0.8
    """,
    tags=("llm", "dedup"),
)
def dedup_lsh_verified(spark, sf_dir):
    """LSH candidates + exact-Jaccard verification (llm/dedup.py:
    lsh_verified_pairs) — the two-stage pipeline production near-dedup
    runs: banded MinHash bounds the candidate count, the exact check
    over candidate docs' shingles removes LSH false positives."""
    return D.lsh_verified_pairs(table(spark, sf_dir, "documents"),
                                threshold=0.8)


@register(
    "text_ngram_top",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS g(i))
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
    FROM big GROUP BY w1, w2
    ORDER BY c DESC, w1, w2 LIMIT 20
    """,
    tags=("llm", "text"),
)
def text_ngram_top(spark, sf_dir):
    """Top-20 corpus bigrams — the n-gram census step of corpus
    analysis (stop-phrase lists, boilerplate detection). Pairing is the
    map-side structural HOF (same shape as llm/textstats.py:
    bigram_lm_score:98); counting runs on exploded rows with map-side
    partial aggregation, and the top-20 is TakeOrderedAndProject
    ((c DESC, w1, w2) — deterministic under ties), never a global
    sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("t"))
    big = (toks.select(F.explode(F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)), "
        "(w, i) -> struct(w AS w1, element_at(t, i + 2) AS w2))"
    )).alias("bg")).select("bg.w1", "bg.w2"))
    return (big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), "w1", "w2").limit(20))


# shared integer-Gram CTE chain + covariance expression — consumed by
# the embedding_covariance oracle here AND the power-iteration oracle
# in llm5.py (one definition, no silent divergence)
GRAM_CTE = """x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    u AS (SELECT vec_id, CAST(i - 1 AS INT) AS i,
                 CAST(round(v[i] * 1000000) AS BIGINT) AS q
          FROM x, unnest(range(1, len(v) + 1)) AS g(i)),
    m AS (SELECT i, sum(CAST(q AS DECIMAL(38,0))) AS c, count(*) AS n
          FROM u GROUP BY i),
    g AS (SELECT a.i AS i, b.i AS j,
                 sum(CAST(a.q AS DECIMAL(38,0)) * CAST(b.q AS DECIMAL(38,0))) AS s
          FROM u a JOIN u b ON a.vec_id = b.vec_id GROUP BY 1, 2)"""

# covariance of the 1e6-quantized ints, in ORIGINAL units (float expr
# over the exact integer partials; identical text in every consumer)
COV_EXPR = """(CAST(g.s AS DOUBLE)
                  - CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)
                    / CAST(ma.n AS DOUBLE))
                 / (CAST(ma.n AS DOUBLE) - 1.0) / 1e12"""


@register(
    "embedding_covariance",
    # Exact-integer Gram algebra (r03 fix): elements quantized once to
    # BIGINT(round(v*1e6)) in BOTH engines, partials summed as exact
    # DECIMAL(38,0) (order-free under any partitioning), and the single
    # float divide + round(.,6) happens last on identical inputs — so
    # the hash is partition-order independent. The terminal `+ 0.0`
    # canonicalizes IEEE signed zero (r04 fix): DuckDB's native double
    # round() preserves the sign of round(-4e-7, 6) → -0.0 while
    # Spark's BigDecimal round() yields +0.0; `-0.0 + 0.0 = +0.0`
    # makes both engines emit the same bit pattern (mirrored as a
    # no-op `+ lit(0.0)` on the Spark side for identical shape).
    oracle=f"""
    WITH {GRAM_CTE}
    SELECT g.i, g.j,
           round({COV_EXPR}, 6) + 0.0 AS cov
    FROM g JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j
    """,
    tags=("llm", "embedding", "stats"),
)
def embedding_covariance(spark, sf_dir):
    """Sample covariance matrix of the embedding space (llm/features.py:
    covariance_matrix): one mapInPandas pass emits per-batch BLAS Gram
    partials (d^2+d+1 rows per Arrow batch), one dimension-cardinality
    groupBy sums them — the oracle's per-row d^2 self-join is exactly
    the shuffle shape this design avoids at corpus scale. Feeds
    pca_project (driver-side eigh on the d x d collect, broadcast
    projection)."""
    from ..llm.features import covariance_matrix
    return covariance_matrix(table(spark, sf_dir, "embeddings"))


# NOTE: `embedding_pca_project` is registered in llm5.py as a fully
# oracle-backed projection onto the power-iteration top eigenvector
# (VERDICT r07 §next 2 — it replaced the rows-only eigh-based entry
# that lived here). The eigh-based top-k path (llm/features.py:
# pca_project) remains a library capability, hash-certified through
# `pca_variance_invariants` below plus the numpy-parity pytest.


@register(
    "pca_variance_invariants",
    # Gives the otherwise un-hashable eigendecomposition a
    # driver-checkable row (VERDICT r04 §next 4). The oracle computes
    # the exact-integer trace of the covariance matrix (sum of the
    # 6dp-rounded diagonal, quantized to BIGINT and summed as
    # DECIMAL — order-free) plus literal TRUE for the eigen
    # invariants; the Spark side computes the SAME trace from the
    # driver-checked covariance output AND evaluates the invariants
    # over the actual PCA projection. If eigh, sign canonicalization,
    # or the projection kernel ever breaks, a flag flips to false and
    # the driver hash mismatches. Tolerances sit 3+ orders of
    # magnitude from the true values, so no partitioning can flip
    # them (pc scores are rounded at 4dp; orthogonality noise is
    # ~1e-8, tested against 1e-3).
    oracle=f"""
    WITH {GRAM_CTE},
    diag AS (
      SELECT sum(CAST(CAST(round(round({COV_EXPR}, 6) * 1000000)
                           AS BIGINT) AS DECIMAL(38,0))) AS tq
      FROM g JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j
      WHERE g.i = g.j)
    SELECT CAST(diag.tq AS DOUBLE) / 1000000.0 AS trace_var,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vec,
           TRUE AS ok_var_order, TRUE AS ok_orth, TRUE AS ok_sum_leq,
           TRUE AS ok_pc1_pos
    FROM diag
    """,
    tags=("llm", "embedding", "stats"),
)
def pca_variance_invariants(spark, sf_dir):
    """Hashable eigen-invariants of the top-2 PCA projection: the
    projected variances must be ordered (pc1 >= pc2), jointly bounded
    by the covariance trace (total variance), mutually orthogonal
    (sample covariance of the scores ~ 0), and pc1 must carry positive
    variance. The trace is recomputed from the exact-integer
    covariance diagonal with the same algebra as the oracle, so the
    float value hashes identically; the booleans certify the
    driver-side eigh + broadcast projection (llm/features.py:
    pca_project) without shipping eigenvalues into SQL."""
    from ..llm.features import covariance_matrix, pca_project
    emb = table(spark, sf_dir, "embeddings")
    proj = pca_project(emb, k=2)
    stats = proj.agg(
        F.count("*").alias("n_vec"),
        F.var_samp("pc1").alias("v1"),
        F.var_samp("pc2").alias("v2"),
        F.covar_samp("pc1", "pc2").alias("c12"))
    trace = (covariance_matrix(emb, digits=6)
             .filter(F.col("i") == F.col("j"))
             .agg(F.sum(F.round(F.col("cov") * F.lit(1000000.0))
                        .cast("long").cast("decimal(38,0)")).alias("tq"))
             .select((F.col("tq").cast("double") / F.lit(1000000.0))
                     .alias("trace_var")))
    return (stats.crossJoin(F.broadcast(trace))
            .select("trace_var",
                    F.col("n_vec").cast("long").alias("n_vec"),
                    (F.col("v1") >= F.col("v2") - F.lit(1e-9))
                    .alias("ok_var_order"),
                    (F.abs(F.col("c12")) <= F.lit(1e-3)).alias("ok_orth"),
                    (F.col("v1") + F.col("v2")
                     <= F.col("trace_var") + F.lit(1e-6))
                    .alias("ok_sum_leq"),
                    (F.col("v1") > F.lit(0.0)).alias("ok_pc1_pos")))
