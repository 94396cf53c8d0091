"""Deduplication operators for training-data pipelines.

Five families, all engine-verifiable because every hash primitive is
md5 (identical across Spark and DuckDB) and every reduction is
order-insensitive (min / sum / set):

- exact:      md5(text) hash-groupBy — one shuffle on the hash.
- MinHash:    per-doc signature = min over shingles of md5(seed‖shingle)
              (string min of fixed-width hex == numeric min of the
              128-bit value). LSH banding groups signatures into band
              keys; candidate pairs come from a self-join *within
              buckets only* — at 100 TB this is the difference between
              O(n²) pairs and O(collisions).
- SimHash:    per-bit majority vote over word hashes → one 16-bit
              fingerprint per doc; near-dups share the fingerprint
              (or differ in ≤k bits — compare via grouped fingerprint).
- n-gram Jaccard: exact pairwise similarity, but only over pairs that
              share at least one shingle (the shingle self-join is the
              candidate filter) — never an all-pairs cross join.
- embedding cosine: see ``similarity.embedding_near_dup_pairs``.

Everything here is whole-stage-codegen'd built-ins — no Python UDFs.

Storage/fault-tolerance note on the r15 reuse checkpoints (ADVICE r15):
the eager ``localCheckpoint()`` calls below pin CORPUS-SCALE relations
(the capped posting lists, the distinct-shingle explode, the LSHE
signature) in executor block storage — unreplicated, so losing an
executor mid-query is unrecoverable (the query re-runs from the source;
correctness is unaffected) and the footprint grows with the corpus.
The trade is deliberate: without the cut, ``collect_set``/
``collect_list`` non-determinism defeats ReusedExchange and every
consumer re-scans + re-explodes the corpus (3-6 scans in the r15 audit
plans). On a cluster where mid-query executor loss is routine, swap
for ``persist(StorageLevel.MEMORY_AND_DISK)`` (lineage kept, spillable)
at the cost of keeping the lineage-replay plans alive. Never checkpoint
an UNCAPPED explode (e.g. an n·d element explode of the embeddings; the
kNN searches checkpoint the n-row ``_quantized_pts`` arrays instead)
without sizing it first — the cure would exceed the disease.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# shared constants — the DuckDB oracle SQL is generated from the same values
SHINGLE_K = 3
N_MINHASH = 8
LSH_BANDS = 4  # rows per band = N_MINHASH / LSH_BANDS = 2
SIMHASH_BITS = 16


def words_col(text_col: str = "text"):
    return F.split(F.col(text_col), " ")


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = SHINGLE_K, distinct: bool = True) -> DataFrame:
    """k-word shingles per document (distinct by default).

    ``slice``/``transform``/``sequence`` are JVM higher-order functions;
    the guard keeps ``sequence`` ascending for texts shorter than k.
    ``distinct=False`` skips the dedup SHUFFLE for consumers whose
    aggregate is idempotent over repeats (MinHash ``min``) — on a
    corpus-size input that is a whole exchange of the exploded shingle
    relation saved.
    """
    ws = words_col(text_col)
    n = F.size(ws)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>"))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k)))
    out = df.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.
    One shuffle keyed on the hash; payload reduced to (hash, id) before
    the shuffle, so 100 TB of text moves 32 bytes/row."""
    return (df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")))


MINHASH_SLICES = 4  # 32-hex md5 → four 8-hex (32-bit) hash slices


def minhash_hex(j: int):
    """Hash function j as an 8-hex-char slice of md5(seed‖shingle):
    seed = j // 4, slice = j % 4. One md5 evaluation feeds four
    independent 32-bit hashes — 4× less hashing than one md5 per
    function, which dominates the signature stage's CPU at scale.
    Fixed-width lowercase hex compares as the numeric value, so
    ``min`` over slices is a valid MinHash min."""
    seed, s = divmod(j, MINHASH_SLICES)
    return F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle"))), s * 8 + 1, 8)


def minhash_hex_sql(j: int) -> str:
    """The same hash slice as DuckDB SQL (oracle generation)."""
    seed, s = divmod(j, MINHASH_SLICES)
    return f"substr(md5('{seed}:' || shingle), {s * 8 + 1}, 8)"


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature: h_j(doc) = min over shingles of the j-th
    md5-slice hash (see ``minhash_hex``).

    A single groupBy computes all ``n_hashes`` mins — one pass, ONE
    shuffle keyed on doc_id (``distinct=False``: min is idempotent
    over repeated shingles, so the shingle-dedup exchange is skipped;
    map-side partial mins reduce before the shuffle anyway).

    (r15 note: aggregating the PARSED 32-bit slice — min(long), which
    hash-aggregates — was measured and REJECTED: min over the hex
    STRING is a SortAggregate, but its sort runs over nearly
    doc-ordered Generate output and costs less than the 8-32 conv()
    parses per shingle row; A/B min-of-4 read 2.54 s vs 3.26 s for
    the 8-hash signature and 3.72 s vs 5.07 s for the 32-hash LSHE
    signature at sf0.1. See OPTIMIZATION_r15.md §minhash.)
    """
    sh = word_shingles(df, id_col, text_col, distinct=False)
    aggs = [F.min(minhash_hex(j)).alias(f"h{j}") for j in range(n_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def pairs_from_postings(df: DataFrame, key_cols: list[str],
                        id_col: str) -> DataFrame:
    """Candidate pairs from posting lists: group ids by key, emit all
    (a < b) combinations per key with array higher-order functions.

    vs a key-keyed self-join this is ONE shuffle instead of two (each
    join side shuffles) and never materializes the N×N join hash table.
    The quadratic blow-up on a hot key is inherent to the semantics;
    at scale, cap posting-list size (drop stop-shingles) before this.
    Output may contain a pair once per shared key — callers dedup or
    count as their semantics need.
    """
    lists = (df.groupBy(*key_cols)
             .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
             .filter(F.size("ids") >= 2))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    return (lists.select(F.explode(pair_expr).alias("p"))
            .select("p.id_a", "p.id_b"))


def band_keys(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              n_hashes: int = N_MINHASH, bands: int = LSH_BANDS) -> DataFrame:
    """(id, band, key) LSH band keys from MinHash signatures — the
    shared index layout: ``lsh_candidate_pairs`` self-joins it within
    one corpus; ``curation.incremental_dedup`` probes a new batch's
    band keys against an existing corpus's (the persisted form IS this
    DataFrame, partitioned by (band, key))."""
    rows = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes)
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias("key"))
        for b in range(bands)
    ])
    return (sig.select(F.col(id_col), F.explode(band_structs).alias("bk"))
            .select(id_col, "bk.band", "bk.key"))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        n_hashes: int = N_MINHASH, bands: int = LSH_BANDS) -> DataFrame:
    """MinHash-LSH candidate pairs: signatures → band keys → pairs from
    per-bucket posting lists. Docs agreeing on all rows of any band
    collide; only true collisions ever meet — the scale path for
    near-dedup at 100 TB.
    """
    banded = band_keys(df, id_col, text_col, n_hashes, bands)
    return pairs_from_postings(banded, ["band", "key"], id_col).distinct()


def lsh_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", threshold: float = 0.8,
                       n_hashes: int = N_MINHASH,
                       bands: int = LSH_BANDS) -> DataFrame:
    """The full production near-dedup pipeline: LSH candidate
    generation followed by exact Jaccard verification of ONLY the
    candidates — LSH bounds the pair count (never all-pairs), the
    verification removes LSH's false positives, and false negatives
    are governed by the (bands, rows) S-curve.

    Cost shape at 100 TB: |candidates| is near-dup-bounded (tiny
    relative to N²); the verification joins are keyed — candidates ⋈
    shingles(id_a) on id_a, then ⋈ shingles on (id_b, shingle) — so
    the exact intersection touches candidate docs' shingles only,
    ~|cands|·|doc shingles| rows, never the corpus cross product.
    """
    # r16: cands gains a second consumer (the b-side prune below) —
    # LAZY cut (caches on first materialization; the eager variant
    # pays a separate candidate job, measured slower at sf0.1)
    cands = (lsh_candidate_pairs(df, id_col, text_col, n_hashes, bands)
             .localCheckpoint(eager=False))
    # r15: sh feeds the two verify joins AND the size counts — three
    # consumers, and the distinct-shingle explode re-ran for each
    # (ObjectHashAggregate canonicalization, same class as the
    # jaccard_pairs fix). One cut = one corpus explode.
    sh = word_shingles(df, id_col, text_col, distinct=True).localCheckpoint()
    counts = (sh.groupBy(id_col).agg(F.count("*").alias("c"))
              .localCheckpoint(eager=False))
    # r16 verify-join restructure (guide §3.2, same shape as
    # lshe_pairs_from_postings): the (id_b, shingle) leg exchanged the
    # whole shingle relation once it outgrows the broadcast cap; the b
    # leg is now pre-filtered to candidate docs (exact — non-candidate
    # ids can never match the join key), candidate-bounded at any
    # corpus size.
    bids = cands.select(F.col("id_b").alias(id_col)).distinct()
    sh_b = sh.join(bids, id_col)
    inter = (cands
             .join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
             .join(sh_b.select(F.col(id_col).alias("id_b"),
                               F.col("shingle").alias("shingle")),
                   ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
    jac = F.round(
        F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 6)
    return (inter
            .join(counts.select(F.col(id_col).alias("id_a"),
                                F.col("c").alias("ca")), "id_a")
            .join(counts.select(F.col(id_col).alias("id_b"),
                                F.col("c").alias("cb")), "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  threshold: float = 0.8,
                  max_postings: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    |A∩B| from the shingle self-join, |A|,|B| from per-doc counts
    (broadcast — it's one row per doc); J = i / (|A|+|B|-i). The
    threshold is applied on a 6dp-rounded value so float drift can't
    flip membership between engines.

    ``max_postings`` drops shingles shared by more than that many docs
    *before* pair generation — the stop-shingle guard that keeps the
    per-key quadratic blow-up bounded at corpus scale (a shingle in
    10k docs would otherwise emit 50M pairs from one key). Both the
    intersection AND the per-doc sizes are computed over the filtered
    shingle universe, so the capped Jaccard is internally consistent.
    """
    # distinct=False: collect_set dedups ids per shingle key anyway, so
    # the shingle-distinct exchange would be a second shuffle of the
    # same relation for nothing. One grouping of shingles feeds BOTH
    # per-doc counts and pair generation — but the reuse must be an
    # EXPLICIT localCheckpoint (r15): collect_set is a non-deterministic
    # aggregate, so the three consumer subtrees canonicalize unequal
    # and ReusedExchange never fires — the r14 plan re-scanned,
    # re-exploded and re-aggregated the whole corpus once per consumer
    # (3 parquet scans + 3 md5-shingle explodes in the audit plan;
    # plans/r15/dedup_ngram_jaccard_audit.txt; the post-fix single-scan
    # plan is plans/r16/dedup_ngram_jaccard_after.txt).
    sh = word_shingles(df, id_col, text_col, distinct=False)
    lists = (sh.groupBy("shingle")
             .agg(F.sort_array(F.collect_set(id_col)).alias("ids")))
    if max_postings is not None:
        lists = lists.filter(F.size("ids") <= max_postings)
    lists = lists.localCheckpoint()
    # counts is consumed twice (ca/cb) — doc-cardinality, cut it too
    counts = (lists.select(F.explode("ids").alias(id_col))
              .groupBy(id_col).agg(F.count("*").alias("c"))
              .localCheckpoint(eager=False))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    # each shared shingle contributes one pair occurrence → the pair
    # count IS the intersection size
    inter = (lists.filter(F.size("ids") >= 2)
             .select(F.explode(pair_expr).alias("p"))
             .select("p.id_a", "p.id_b")
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("i")))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("c").alias("cb"))
    jacc = F.round(F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 6)
    # counts is one row per DOCUMENT — no broadcast hint (same rule as
    # lshe_pairs_from_postings, VERDICT r10 §wrong 2); AQE broadcasts
    # when the relation is genuinely small.
    return (inter.join(ca, "id_a").join(cb, "id_b")
            .select("id_a", "id_b", jacc.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.9,
                      max_postings: int | None = None) -> DataFrame:
    """Exact n-gram containment C = |A∩B| / min(|A|, |B|) for pairs
    sharing ≥1 shingle — the near-SUBSET detector Jaccard misses: a
    short doc fully quoted inside a long one scores C≈1 but Jaccard≈
    |A|/|B| (arbitrarily low), so quote/boilerplate containment needs
    this metric. Same posting-list plan as ``jaccard_pairs`` (one
    shingle grouping feeds both per-doc counts and pair generation —
    shuffle reused, never all-pairs), same ``max_postings``
    stop-shingle guard, 6dp-rounded threshold on both engines.
    """
    sh = word_shingles(df, id_col, text_col, distinct=False)
    lists = (sh.groupBy("shingle")
             .agg(F.sort_array(F.collect_set(id_col)).alias("ids")))
    if max_postings is not None:
        lists = lists.filter(F.size("ids") <= max_postings)
    # same r15 reuse fix as jaccard_pairs: collect_set's
    # non-determinism defeats ReusedExchange, so the corpus explode
    # ran once per consumer without the explicit cut
    lists = lists.localCheckpoint()
    counts = (lists.select(F.explode("ids").alias(id_col))
              .groupBy(id_col).agg(F.count("*").alias("c"))
              .localCheckpoint(eager=False))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    inter = (lists.filter(F.size("ids") >= 2)
             .select(F.explode(pair_expr).alias("p"))
             .select("p.id_a", "p.id_b")
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("i")))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("c").alias("cb"))
    cont = F.round(F.col("i") / F.least(F.col("ca"), F.col("cb")), 6)
    # per-document counts: plain keyed joins, AQE picks the strategy
    return (inter.join(ca, "id_a").join(cb, "id_b")
            .select("id_a", "id_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint: per-word hash (first ceil(bits/4) md5 hex
    chars → ``bits``-wide int), per-bit ±1 majority vote over all word
    occurrences, sign → bit. One explode + one groupBy with ``bits``
    sums — all codegen. ``bits`` ≤ 60 keeps the fingerprint (and the
    hex-parsed word hash) inside a signed 64-bit long.
    """
    n_hex = (bits + 3) // 4
    w = (df.select(F.col(id_col), F.explode(words_col(text_col)).alias("w"))
         .select(id_col,
                 F.conv(F.substring(F.md5("w"), 1, n_hex), 16, 10)
                 .cast("long").alias("hv")))
    sums = [F.sum(2 * F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) - 1).alias(f"s{b}")
            for b in range(bits)]
    agg = w.groupBy(id_col).agg(*sums)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(id_col, fingerprint.cast("long").alias("simhash"))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair graph — the
    canonicalization step of near-dedup: every document in a near-dup
    cluster maps to the cluster's minimum doc id, so "keep one per
    cluster" is a single filter (label == node).

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converges in
    O(diameter) rounds. Near-dup graphs are short-chained (diameter a
    few hops), so this beats the O(log n)-round large-star/small-star
    scheme in practice while using the same primitives — a self-join
    and a min-groupBy per round, both AQE-sized shuffles.
    ``localCheckpoint(eager=False)`` cuts the lineage each round so the
    plan does not grow exponentially; convergence is detected by
    comparing Σlabel between rounds (labels only ever DECREASE under
    min-propagation, so the sum is strictly monotone and equality ⟺
    zero changed labels — the r15 rewrite of the old join+count check,
    which cost a second job plus a node-keyed join every round; the
    sum is the same single action that materializes the lazy
    checkpoint, so each round is ONE job instead of two).
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint()
    labels = (sym.select("u").distinct().withColumn("label", F.col("u"))
              .localCheckpoint(eager=False))
    # Σlabel as DECIMAL(38,0): exact at any node count / id magnitude
    _sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    prev = labels.agg(_sum).first()["s"]
    for _ in range(max_iter):
        nbr = (sym.join(labels.withColumnRenamed("u", "v"), "v")
               .select("u", "label"))
        new = (nbr.union(labels)
               .groupBy("u").agg(F.min("label").alias("label"))
               .localCheckpoint(eager=False))
        cur = new.agg(_sum).first()["s"]
        labels = new
        if cur == prev:
            break
        prev = cur
    return labels


# ------------------------------------------------------------ LSH-Ensemble

LSHE_N_HASHES = 32   # 8 md5 evaluations per shingle, 4 slices each
LSHE_MAX_GAP = 4     # probe own + next 4 ratio-2 partitions: a pair with
                     # size ratio R has partition gap < log2(R)+1, so
                     # gap<=4 GUARANTEES coverage for R<=16 (partial to 32)
LSHE_BUCKET_CAP = 200  # stop-bucket guard (deterministic, both engines)


def lsh_ensemble_containment_pairs(
        df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        threshold: float = 0.9, n_hashes: int = LSHE_N_HASHES,
        max_gap: int = LSHE_MAX_GAP,
        bucket_cap: int = LSHE_BUCKET_CAP) -> DataFrame:
    """LSH-Ensemble containment dedup (Zhu et al., VLDB 2016): a
    size-PARTITIONED MinHash-LSH index tuned for containment
    C = |A∩B| / min(|A|,|B|) rather than Jaccard — the scale path for
    near-subset detection that ``containment_pairs``' posting-cap
    approximation degrades on (a hot shingle shared by >cap docs
    silently drops true subset pairs; here recall is governed by an
    explicit S-curve envelope instead).

    Index layout: every doc lands in geometric size partition
    p = floor(log2(|shingles|)) — computed as the exact integer bit
    width ``length(bin(c)) - 1`` so a power-of-two count can never
    round across engines — and emits, per hash j, one posting row into
    the buckets of partitions p..p+max_gap (its own index entry plus
    the "transplanted query" probes of the ensemble). Two docs meet
    iff they agree on some MinHash AND their size partitions differ by
    ≤ max_gap; a pair with size ratio R always has partition gap
    ≤ floor(log2(R)) + 1, so max_gap=4 covers every pair up to a 16×
    size ratio (and gap-4 pairs reach ratio 32).

    Recall envelope (r=1, b=n_hashes bands): a containment-t pair with
    size ratio R has Jaccard ≥ t/(1+R−t), so detection probability is
    ≥ 1−(1−t/(1+R−t))^n_hashes — at t=0.9, n=32: ~1.0 for R≤2, 0.97
    at R≤8, 0.84 at R≤16, 0.62 at the gap-4 worst case R≈32; pairs
    beyond the envelope need a larger max_gap (linear posting cost,
    the paper's partition-coverage dial). Candidates are verified EXACTLY over the uncapped
    shingle sets, so precision is 1 — false positives cannot survive.

    Scale shape: one shuffle builds (count + 32 mins) per doc; posting
    rows are (j, 8-hex, q, id) — 128 tiny rows per doc, bucket sizes
    bounded by partition scoping plus the deterministic ``bucket_cap``
    stop-bucket guard; pair expansion is per-bucket array HOFs (one
    shuffle, never a self-join); the exact verify joins touch candidate
    docs' shingles only. No cross join anywhere.
    """
    # r15: sh feeds the signature build AND both exact-verify joins —
    # one cut, one corpus explode (same reuse class as jaccard_pairs)
    sh = word_shingles(df, id_col, text_col, distinct=True).localCheckpoint()
    counts, keys = lshe_doc_postings(sh, id_col, n_hashes, max_gap)
    return lshe_pairs_from_postings(keys, counts, sh, id_col=id_col,
                                    threshold=threshold,
                                    bucket_cap=bucket_cap)


def lshe_doc_postings(sh: DataFrame, id_col: str = "doc_id",
                      n_hashes: int = LSHE_N_HASHES,
                      max_gap: int = LSHE_MAX_GAP
                      ) -> tuple[DataFrame, DataFrame]:
    """The per-document HALF of the LSH-Ensemble index: from a
    (id, shingle) relation, one shuffle builds (id, c) counts and the
    (id, j, h, q) posting rows. Split out so the STREAMING fold
    (``streaming/containment_maintain.py``) appends exactly the rows
    the batch kernel would compute — a doc's shingle count (hence its
    size partition and probes) never changes, so posting rows are
    append-stable and the stream≡batch equivalence holds by shared
    code, not by parallel reimplementation."""
    sig = (sh.groupBy(id_col)
           .agg(F.count("*").alias("c"),
                *[F.min(minhash_hex(j)).alias(f"h{j}")
                  for j in range(n_hashes)]))
    # r15: sig feeds BOTH returns (counts and the posting keys) — one
    # doc-cardinality cut instead of running the shingle explode + the
    # 32-min aggregate once per consumer (batch query AND the
    # streaming fold consume both halves every time)
    sig = sig.localCheckpoint()
    sig = sig.withColumn("p", (F.length(F.bin("c")) - 1).cast("int"))
    key_structs = F.array(*[
        F.struct(F.lit(j).alias("j"), F.col(f"h{j}").alias("h"),
                 (F.col("p") + F.lit(s)).alias("q"))
        for j in range(n_hashes) for s in range(max_gap + 1)])
    keys = (sig.select(F.col(id_col), F.explode(key_structs).alias("k"))
            .select(id_col, "k.j", "k.h", "k.q"))
    return sig.select(F.col(id_col), "c"), keys


def lshe_pairs_from_postings(keys: DataFrame, counts: DataFrame,
                             sh: DataFrame, id_col: str = "doc_id",
                             threshold: float = 0.9,
                             bucket_cap: int = LSHE_BUCKET_CAP
                             ) -> DataFrame:
    """The query HALF: bucket the posting rows, cap, expand pairs,
    verify exactly over the candidate docs' shingles. The bucket cap
    is applied HERE — at read time over the full posting set — because
    bucket membership grows as batches land; baking it at append time
    would freeze a stale cap."""
    lists = (keys.groupBy("j", "h", "q")
             .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
             .filter((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap)))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    cands = (lists.select(F.explode(pair_expr).alias("pr"))
             .select("pr.id_a", "pr.id_b").distinct()
             # r16: cands now has TWO consumers (the b-side prune below
             # and the intersect join) — LAZY cut (the eager variant
             # serialized a separate candidate-generation job ahead of
             # the main job and measured +26% at sf0.1; lazy caches on
             # first materialization, no extra job)
             .localCheckpoint(eager=False))
    # per-doc sizes arrive from the signature aggregate (or the
    # persisted counts relation) — never a second full shingle scan
    # (r10 review finding; this is the heaviest sidecar)
    #
    # r16 verify-join restructure (guide §3.2; VERDICT r15 §next 6):
    # the id_a leg streams sh against broadcast-able cands (no sh
    # exchange at any scale), but the (id_b, shingle) leg exchanged
    # the WHOLE shingle relation by (id, shingle) once sh outgrows the
    # broadcast cap — a full corpus shuffle to verify a near-dup-
    # bounded candidate set. Pre-filtering the b leg to candidate docs
    # (inner join on the distinct id_b values — a semi-join in effect,
    # exact because non-candidate ids can never match the join key)
    # makes that leg candidate-bounded instead of corpus-bounded.
    bids = cands.select(F.col("id_b").alias(id_col)).distinct()
    sh_b = sh.join(bids, id_col)
    inter = (cands
             .join(sh.select(F.col(id_col).alias("id_a"), "shingle"),
                   "id_a")
             .join(sh_b.select(F.col(id_col).alias("id_b"), "shingle"),
                   ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
    cont = F.round(F.col("i") / F.least(F.col("ca"), F.col("cb")), 6)
    # counts is one row per DOCUMENT — an unconditional broadcast hint
    # here would OOM the driver at 10^9 docs (VERDICT r10 §wrong 2).
    # Plain keyed joins: AQE converts to broadcast when counts is
    # genuinely small, and the verified-pair side is tiny anyway.
    return (inter
            .join(counts.select(F.col(id_col).alias("id_a"),
                                F.col("c").alias("ca")), "id_a")
            .join(counts.select(F.col(id_col).alias("id_b"),
                                F.col("c").alias("cb")), "id_b")
            .select("id_a", "id_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold))
