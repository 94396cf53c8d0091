"""Streaming maintenance for SemDeDup semantic dedup — maintained
fold #14: the embedding-side dedup was the one LLM family without a
streaming ingest path (VERDICT r11 §next 3).

Why the fold is natural: against FROZEN centroids, a vector's cell,
its centroid similarity, and its near-dup pairs with already-ingested
vectors are all APPEND-STABLE — assignment is a deterministic argmax
(6dp-rounded cosine, cell-id tie-break, `llm/similarity.py:
kmeans_assign`), so nothing about an ingested vector is ever
rewritten. Each micro-batch appends:

  {dir}/pairs/ingest_batch=<id>/     (id_a, id_b, cosine) — near-dup
                                     edges with ≥1 endpoint in the
                                     batch (new×prior same-cell +
                                     new×new), id_a < id_b
  {dir}/assigned/ingest_batch=<id>/  (vec_id, v, cell, centroid_sim)
                                     — the commit signal, written LAST

The mutable parts of SemDeDup — connected components and the
keep-farthest-from-centroid decision (a new member can become a
component's keeper) — are recomputed at READ time over the folded
edge set by the SHARED `queries/llm15.py:semantic_keep_labels`, the
same contract as the BM25 fold recomputing N/avgdl/df at query time:
stream≡batch by shared code.

Centroids are trained once (`init_semantic_state`, the shared Lloyd
`kmeans_centroids`) and FROZEN — the production SemDeDup deployment
shape (train the clustering on a sample, assign forever after).
Periodic re-train + full re-assign is the compaction analog
(`refresh_semantic_state`): it re-trains at the `_scaled` k ∝ n
contract over ALL committed vectors, recomputes assignment and the
full pair set, and publishes centroids+assigned+pairs as ONE new
state version behind an atomic manifest rename
(`manifest_commit.commit_version`) — a crash anywhere inside the
refresh leaves readers on the pre-refresh state, and the retry
converges. Run it in a compaction window (stream stopped): the fold
and the refresh share the single-writer assumption. All readers and
the fold resolve the live version through the manifest (`_resolve`);
a never-refreshed state dir is its own version (legacy layout).

Replay safety: `ingest_batch=<id>` overwrite discipline. Pairs are
written BEFORE assigned rows, so the assigned row is the commit
signal; the read restricts pairs to committed endpoints (left-semi on
BOTH sides, the ADVICE-r11 BM25 discipline), so a crash between the
two writes leaves the batch consistently invisible — no phantom
component merge through an uncommitted vector — and the retry
(prior state masked via ``exclude_batch``) overwrites both
partitions with identical rows. Cross-batch re-delivery of the same
vec_id is EXACT here (unlike the KLL fold's counted state): both
relations are deterministic functions of content, so the defensive
``dropDuplicates`` loses nothing.

At 100 TB: per batch, assignment is one broadcast-centroid scan of
the micro-batch; the pair stage joins the (small) batch against the
state PRUNED TO ITS CELLS — with bounded cells (the
`dedup_semantic_cells_scaled` k ∝ n contract) that is ~|batch|·TARGET
comparisons, linear per batch; components and keep labels run on the
(tiny) accumulated edge set only, never the corpus.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.similarity import (cosine_similarity, kmeans_assign,
                              kmeans_centroids)
from ..queries.llm15 import (SEM_ITER, SEM_K, SEM_TARGET, SEM_THRESHOLD,
                             semantic_keep_labels)
from .manifest_commit import (_manifest_path, _maybe_read, _write,
                              commit_version, state_path)

_ASSIGNED_SCHEMA = ("vec_id long, v array<double>, cell long, "
                    "centroid_sim double")
_PAIRS_SCHEMA = "id_a long, id_b long, cosine double"

# refresh_semantic_state consolidates the full re-assignment under
# this ingest_batch partition: foreachBatch epoch ids are >= 0, so no
# post-refresh replay can ever overwrite the consolidated state.
_REFRESH_BATCH = -1


def _resolve(state_dir: str) -> str:
    """The LIVE state tree: the manifest-named version dir after a
    refresh, the raw ``state_dir`` before one (legacy layout)."""
    p = state_path(state_dir)
    return p if p is not None else state_dir


def init_semantic_state(train: DataFrame, state_dir: str, k: int,
                        n_iter: int = SEM_ITER) -> None:
    """Train and freeze the cell centroids (shared Lloyd kernel) —
    run once before streaming; ``refresh_semantic_state`` is the
    re-train compaction. Refuses to run once a manifest exists:
    writing through ``_resolve`` then would mutate a committed
    'immutable' version dir in place — re-training an existing state
    is exactly what ``refresh_semantic_state`` is for."""
    if os.path.exists(_manifest_path(state_dir)):
        raise RuntimeError(
            f"semantic state at {state_dir!r} already has a committed "
            "manifest version; init_semantic_state is one-time setup — "
            "use refresh_semantic_state to re-train an existing state.")
    if os.path.isdir(state_dir) and any(
            f.endswith(".parquet") or f == "_SUCCESS"
            for f in os.listdir(state_dir)):
        raise RuntimeError(
            f"{state_dir!r} holds a plain parquet table, not a semantic "
            "state tree; refusing to write centroids into it — point "
            "init_semantic_state at a fresh state directory.")
    if os.path.isdir(state_dir) and any(
            os.path.exists(os.path.join(state_dir, d))
            for d in ("centroids", "assigned", "pairs")):
        # pre-manifest legacy tree (never refreshed, so no manifest):
        # overwriting the frozen centroids would silently invalidate
        # every assignment already on disk (ADVICE r14 item 1)
        raise RuntimeError(
            f"{state_dir!r} already holds semantic state "
            "(centroids/assigned/pairs); init_semantic_state is "
            "one-time setup — use refresh_semantic_state to re-train.")
    cents = kmeans_centroids(train, k=k, n_iter=n_iter)
    cents.write.mode("overwrite").parquet(f"{state_dir}/centroids")


def _assign_sim(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cell, centroid_sim) against frozen centroids — the
    shared assignment kernel of the fold and the refresh."""
    return (kmeans_assign(pts, cents)
            .join(F.broadcast(cents), "cell")
            .select("vec_id", "v", "cell",
                    F.round(cosine_similarity("v", "cv"), 6)
                    .alias("centroid_sim")))


def fold_semantic_cells(batch: DataFrame, state_dir: str,
                        threshold: float = SEM_THRESHOLD,
                        batch_id: int | None = None) -> None:
    """foreachBatch body: assign the batch against the frozen
    centroids, emit its new near-dup edges, then its assigned rows
    (the commit signal)."""
    spark = batch.sparkSession
    state_dir = _resolve(state_dir)
    cents = spark.read.parquet(f"{state_dir}/centroids")
    pts = batch.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    csim = _assign_sim(pts, cents) \
        .localCheckpoint()  # feeds two pair branches + the write
    prior = (_maybe_read(spark, f"{state_dir}/assigned", _ASSIGNED_SCHEMA,
                         exclude_batch=batch_id)
             .drop("ingest_batch").dropDuplicates(["vec_id"]))

    def _edges(left, right, cond):
        a = left.select(F.col("vec_id").alias("id_a"),
                        F.col("v").alias("va"), "cell")
        b = right.select(F.col("vec_id").alias("id_b"),
                         F.col("v").alias("vb"), "cell")
        return (a.join(b, "cell").filter(cond)
                .select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                        F.round(cosine_similarity("va", "vb"), 4)
                        .alias("cosine"))
                .filter(F.col("cosine") >= threshold))

    # new×prior: one endpoint per side, so each pair appears once
    # regardless of id order; new×new: strict id order de-dups the
    # self-join. Batch-vs-state join is pruned to the batch's cells.
    pairs = (_edges(csim, prior, F.col("id_a") != F.col("id_b"))
             .unionByName(_edges(csim, csim,
                                 F.col("id_a") < F.col("id_b"))))
    # pairs first, assigned last: the assigned row is the commit
    # signal — see module doc for the crash-window argument
    _write(pairs, f"{state_dir}/pairs", batch_id)
    _write(csim, f"{state_dir}/assigned", batch_id)


def semantic_cells_stream(emb_stream: DataFrame, state_dir: str,
                          checkpoint: str):
    """Wire a streaming embeddings source into the fold (availableNow);
    foreachBatch's epoch id keys the replay-idempotent partitions."""
    return (emb_stream.writeStream
            .foreachBatch(lambda b, i: fold_semantic_cells(
                b, state_dir, batch_id=i))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def refresh_semantic_state(spark, state_dir: str,
                           threshold: float = SEM_THRESHOLD,
                           n_iter: int = SEM_ITER) -> None:
    """The re-train compaction: re-train centroids over ALL committed
    vectors at the `dedup_semantic_cells_scaled` k ∝ n contract
    (k = max(SEM_K, ⌈n/SEM_TARGET⌉)), fully re-assign, recompute the
    complete near-dup pair set, and publish the new
    centroids/assigned/pairs tree as ONE manifest-named version
    (atomic rename — `manifest_commit.commit_version`). Crash anywhere
    before the rename: readers stay on the pre-refresh state and the
    orphan version dir is GC'd by the retry's commit. Single-writer:
    run with the ingest stream stopped (compaction window).

    Consolidation lands under ``ingest_batch=-1`` so no foreachBatch
    replay (epoch ids >= 0) can overwrite it; post-refresh batches
    append exactly as before against the new frozen centroids.

    First refresh over a LEGACY (never-refreshed) raw ``state_dir``:
    the raw tree is left IN PLACE through that commit — lazy readers
    bound to the raw paths keep working, the standard one-commit
    retention contract. The NEXT refresh retires it below (this
    module owns the tree layout, so the cleanup lives here, not in
    the generic ``manifest_commit._gc``, which cannot tell a
    superseded tree state from foreign data) —
    closing the unbounded-orphan leak (ADVICE r13) without shrinking
    the grace window."""
    if state_path(state_dir) is not None and os.path.isdir(state_dir):
        # a manifest exists, so an earlier refresh committed and the
        # raw legacy tree has had >= one full commit of grace. Only
        # delete what is provably THIS module's tree: a raw dir whose
        # top level holds anything beyond centroids/assigned/pairs is
        # foreign data that happens to sit beside a manifest — skip it
        # rather than destroy it (ADVICE r14 item 3), and let rmtree
        # failures surface instead of hiding partial deletes.
        entries = set(os.listdir(state_dir))
        if entries and entries <= {"centroids", "assigned", "pairs"}:
            shutil.rmtree(state_dir)
        elif entries:
            warnings.warn(
                f"refresh_semantic_state: {state_dir!r} contains "
                f"non-semantic entries {sorted(entries - {'centroids', 'assigned', 'pairs'})!r}; "
                "leaving the raw dir in place (foreign data is never "
                "deleted by the compaction path).")
    cur = _resolve(state_dir)
    assigned = (_maybe_read(spark, f"{cur}/assigned", _ASSIGNED_SCHEMA)
                .drop("ingest_batch").dropDuplicates(["vec_id"]))
    pts = assigned.select("vec_id", "v").localCheckpoint()
    n = pts.count()
    k = max(SEM_K, -(-n // SEM_TARGET))
    cents = kmeans_centroids(pts, emb_col="v", k=int(k), n_iter=n_iter) \
        .localCheckpoint()
    token = uuid.uuid4().hex[:8]
    vdir = f"{os.path.abspath(state_dir)}.v-{token}"
    cents.write.mode("overwrite").parquet(f"{vdir}/centroids")
    csim = _assign_sim(pts, cents).localCheckpoint()
    a = csim.select(F.col("vec_id").alias("id_a"),
                    F.col("v").alias("va"), "cell")
    b = csim.select(F.col("vec_id").alias("id_b"),
                    F.col("v").alias("vb"), "cell")
    pairs = (a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(cosine_similarity("va", "vb"), 4)
                     .alias("cosine"))
             .filter(F.col("cosine") >= threshold))
    _write(pairs, f"{vdir}/pairs", _REFRESH_BATCH)
    _write(csim, f"{vdir}/assigned", _REFRESH_BATCH)
    commit_version(state_dir, token, batch_id=_REFRESH_BATCH)


def semantic_dedup_from_state(spark, state_dir: str) -> DataFrame:
    """Read the dedup decision off the maintained state: committed
    assignments + committed-endpoint edges → the SHARED
    `semantic_keep_labels` (components + keep-farthest-from-centroid)
    — the same code path as the batch queries."""
    state_dir = _resolve(state_dir)
    assigned = (_maybe_read(spark, f"{state_dir}/assigned",
                            _ASSIGNED_SCHEMA)
                .drop("ingest_batch").dropDuplicates(["vec_id"]))
    pairs = (_maybe_read(spark, f"{state_dir}/pairs", _PAIRS_SCHEMA)
             .drop("ingest_batch").dropDuplicates(["id_a", "id_b"]))
    committed = assigned.select("vec_id")
    pairs = (pairs
             .join(committed.withColumnRenamed("vec_id", "id_a"),
                   "id_a", "left_semi")
             .join(committed.withColumnRenamed("vec_id", "id_b"),
                   "id_b", "left_semi"))
    return semantic_keep_labels(assigned, pairs)
