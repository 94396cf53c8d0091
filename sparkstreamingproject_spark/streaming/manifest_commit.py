"""Manifest-last state commit — closes the additive-fold double-count
window (VERDICT r11 §next 4) with plain parquet.

The marker protocol (``idempotent.py`` + ``statestore.swap_in``) has a
documented residual window for ADDITIVE folds: the data swap and the
batch-id marker are two separate renames, so a crash after the swap
lands but before the marker does replays the fold against the
POST-swap state and double-counts that one batch.

This module makes the state pointer and the batch-id watermark ONE
atomic rename — a single-table miniature of what Delta/Iceberg's
commit log does:

  <table>.v-<token>/   immutable state versions (plain parquet)
  <table>.manifest     one JSON line {"version": token, "batch_id": N}
                       — the ONLY mutable name, replaced by atomic
                       ``os.replace``

A merge reads the version the manifest names, writes a NEW version
directory (never touching the old one — so the merge plan's lineage
is never starved), then replaces the manifest. Every crash point is
now exact:

- crash while writing the new version, or after it but BEFORE the
  manifest replace (the old protocol's residual window): the manifest
  still names the pre-merge version AND the pre-merge batch id — the
  replay re-merges from the OLD state; the orphan version dir is
  garbage-collected at the next successful commit;
- crash AFTER the manifest replace: the manifest's batch_id watermark
  names this batch — the replay is skipped.

There is no point at which the state includes a batch the watermark
does not (or vice versa), which is exactly the atomicity the marker
protocol lacked.

Single-writer assumption (same as ``statestore``): Structured
Streaming serializes foreachBatch per query. GC of superseded version
dirs runs inside the committing writer and RETAINS the immediately
previous COMMITTED version (the manifest records its predecessor
token, so crashed-attempt orphans are still collected immediately):
``read_state`` hands out a
LAZY DataFrame bound to the resolved version path, so an action
executed after one subsequent commit would otherwise hit
FileNotFoundException — retention gives same-process lazy readers a
one-commit grace window. A production multi-reader deployment would
widen this to a time-based retention window (as Delta's VACUUM does).
Readers that must survive arbitrarily many later commits should
eagerly materialize (``.cache()`` + an action, or ``.collect()``).

Batch-id watermark, not per-id markers: foreachBatch epoch ids are
monotonically increasing, so `batch_id <= watermark` ⇔ already
committed — one integer replaces the marker directory.

TABLE↔CHECKPOINT COUPLING: the batch-id sequence is scoped to the
streaming CHECKPOINT, but the watermark persists with the state TABLE.
They must be paired for life. Re-pointing a stream at an existing
table with a FRESH checkpoint restarts batch ids at 0 while the
table's watermark stays high — naively every new batch would be
"skipped as a replay" and silently dropped. ``manifest_foreach_batch``
detects the signature of that mistake (incoming id strictly below
the watermark — a genuine Structured Streaming replay only ever
re-delivers the tail batch, id == watermark, because the engine
commits epoch N-1 before starting N) and raises instead of silently
skipping.

LEGACY LAYOUT ADOPTION: folds that predate this module kept their
state as a plain parquet directory at ``table_dir`` itself (the
``statestore.swap_in`` layout). If no manifest exists but ``table_dir``
is such a directory, the first ``manifest_info``/``read_state``/
``commit_state`` call ADOPTS it: the directory is renamed to a
version dir and a manifest is written pointing at it (batch_id −1 —
the legacy watermark lived in per-id marker files under the
checkpoint, which still guard replays of old batches through their
own wrapper). Without adoption an upgrade would silently reset
accumulated state to empty while the old data sat orphaned.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame


def _has_parquet(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _manifest_path(table_dir: str) -> str:
    return os.path.abspath(table_dir) + ".manifest"


def _adopt_legacy(table_dir: str) -> tuple[str, int] | None:
    """Adopt a pre-manifest ``statestore.swap_in`` state directory
    sitting at ``table_dir`` itself: rename it to a version dir and
    commit a manifest naming it (see module docstring). Returns the
    new (token, batch_id) or None if there is nothing to adopt.

    Crash-resumable: a crash between the rename and the manifest
    write leaves an orphan ``.v-legacy-*`` dir with no manifest — the
    next touch finds it and finishes the manifest write instead of
    reporting empty state (the very bug class adoption exists to
    prevent)."""
    table_dir = os.path.abspath(table_dir)
    token = None
    if os.path.isdir(table_dir) and any(
            f.endswith(".parquet") or f == "_SUCCESS"
            for f in os.listdir(table_dir)):
        token = "legacy-" + uuid.uuid4().hex[:8]
        os.rename(table_dir, f"{table_dir}.v-{token}")
    else:
        # resume a crashed adoption: orphan legacy version, no manifest
        parent, name = os.path.split(table_dir)  # abspath'd: parent != ""
        orphans = sorted(d for d in os.listdir(parent)
                         if d.startswith(f"{name}.v-legacy-")) \
            if os.path.isdir(parent) else []
        if orphans:
            token = orphans[-1].split(".v-", 1)[1]
    if token is None:
        return None
    tmp = f"{table_dir}.manifest.tmp-{token}"
    with open(tmp, "w") as f:
        json.dump({"version": token, "batch_id": -1}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _manifest_path(table_dir))
    return token, -1


def manifest_info(table_dir: str) -> tuple[str | None, int]:
    """(current version token, last committed batch id); (None, -1)
    before the first commit. A legacy plain-parquet directory at
    ``table_dir`` is adopted as the initial version on first touch."""
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        adopted = _adopt_legacy(table_dir)
        if adopted is not None:
            return adopted
        return None, -1
    with open(p) as f:
        m = json.load(f)
    return m["version"], int(m["batch_id"])


def state_path(table_dir: str) -> str | None:
    token, _ = manifest_info(table_dir)
    if token is None:
        return None
    return f"{os.path.abspath(table_dir)}.v-{token}"


def read_state(spark, table_dir: str, schema: str | None = None):
    """The committed state relation, or an empty relation of
    ``schema`` (None → Python None) before the first commit."""
    p = state_path(table_dir)
    if p is None or not os.path.isdir(p):
        return None if schema is None else spark.createDataFrame([], schema)
    return spark.read.parquet(p)


def commit_state(merged: DataFrame, table_dir: str, batch_id: int) -> None:
    """Write ``merged`` as a new immutable version and atomically
    repoint manifest+watermark to it. ``merged`` may (and in the
    additive folds does) read the current version — the old version
    dir is never renamed or deleted before the new one is complete
    and committed."""
    table_dir = os.path.abspath(table_dir)
    token = uuid.uuid4().hex[:8]
    manifest_info(table_dir)  # adopt a legacy layout before writing
    merged.write.mode("overwrite").parquet(f"{table_dir}.v-{token}")
    commit_version(table_dir, token, batch_id)


def commit_version(table_dir: str, token: str, batch_id: int) -> None:
    """Atomically repoint the manifest at an ALREADY-WRITTEN version
    ``{table_dir}.v-{token}`` — split from ``commit_state`` so states
    that are directory TREES (e.g. the semantic-dedup fold's
    centroids/assigned/pairs, ``semantic_maintain.py``) can assemble
    the version themselves and still get the one-rename commit + GC
    discipline."""
    table_dir = os.path.abspath(table_dir)
    prev, _ = manifest_info(table_dir)
    tmp = f"{table_dir}.manifest.tmp-{token}"
    with open(tmp, "w") as f:
        json.dump({"version": token, "batch_id": int(batch_id),
                   "prev": prev}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _manifest_path(table_dir))  # THE commit point
    _gc(table_dir, keep={token, prev})


def _gc(table_dir: str, keep: set[str | None]) -> None:
    """Remove version dirs not in ``keep`` and stale manifest tmps —
    debris from completed or crashed earlier attempts. ``keep`` is the
    committed version plus its manifest-recorded predecessor, so lazy
    DataFrames bound to the PREVIOUS committed version survive one
    more commit (module docstring) while orphans from crashed attempts
    are collected immediately.

    A residual directory at ``table_dir`` ITSELF (the pre-manifest
    legacy layout of a directory-TREE state) is deliberately NOT
    touched here: this generic layer cannot tell a superseded tree
    state from foreign data ``_adopt_legacy`` declined to adopt, and
    deleting the latter would be unrecoverable. The module that owns
    the tree layout retires its own raw dir once it has had a full
    commit of grace (`semantic_maintain.refresh_semantic_state`)."""
    parent, name = os.path.split(table_dir)  # abspath'd: parent != ""
    live = {f"{name}.v-{t}" for t in keep if t}
    for d in os.listdir(parent):
        full = os.path.join(parent, d)
        if d.startswith(name + ".v-") and d not in live:
            shutil.rmtree(full, ignore_errors=True)
        elif d.startswith(name + ".manifest.tmp-"):
            os.remove(full)


# ------------------------------------------------- multi-directory
# One atomic manifest rename naming ALL directories a micro-batch
# produced (VERDICT r12 §next 2) — the multi-sink generalization of
# the single-table protocol above, built for the CDC router's batch
# shape (``cdc_router.py``): per-batch APPEND-ONCE fact partitions
# (never superseded) plus per-table REPLACED dim snapshots. The
# reference gets the same per-key atomicity from Redis SET
# (``OdsBaseDbApp.scala:160-164``); here the whole batch — every
# per-topic fact partition AND every dim snapshot — becomes visible
# in one ``os.replace``, so a crash between topic-directory writes
# leaves the batch entirely invisible and the replay converges.
#
# Layout under ``root``:
#   facts/commit=<token>/topic=<T>/part-*.parquet   (k=v dir names so
#       Spark partition discovery works across committed roots)
#   dim/<table>/commit=<token>/part-*.parquet
#   .cdc.manifest    {"batch_id": N,
#                     "facts": {batch_id: token, ...},     append log
#                     "dims": {table: token, ...},         current
#                     "dim_prev": {table: token|null}}     GC grace
#
# The facts map grows one entry per batch — a JSON line per commit; a
# production deployment would periodically compact old entries into a
# consolidated fact partition (exactly Delta/Iceberg's checkpointing
# of their commit logs). Dim GC keeps each table's previous committed
# snapshot (same lazy-reader grace window as ``_gc`` above).

_CDC_MANIFEST = ".cdc.manifest"


def _cdc_adopt_legacy(root: str) -> dict | None:
    """Adopt a pre-manifest CDC output (the r12 marker-protocol
    layout: ``facts/batch_id=N/topic=T`` partitions + ``dim/<t>``
    swap_in tables) on first touch — same rationale as
    ``_adopt_legacy`` above: without adoption the new readers would
    silently show an empty output and the dim merge would reset LWW
    state while the old data sat orphaned. Fact dirs rename to
    ``commit=legacy-N`` (their files lack the batch_id data column;
    it reads as NULL for adopted rows), dim tables move under a
    ``commit=legacy-*`` version; the watermark adopts the highest
    adopted batch id. Only COMPLETE fact dirs (``_SUCCESS`` marker)
    adopt — a partial dir from a mid-write crash stays un-adopted and
    below the watermark, so the engine's replay of that batch re-runs
    it fresh (the old protocol's own recovery path). Crash-resumable
    on BOTH sides: dims park at ``<t>.adopt-<token>`` (resumed below),
    and fact dirs already renamed to ``commit=legacy-N`` by a crashed
    attempt are re-discovered through the token's embedded batch id.
    Returns the adopted manifest, or None if there is nothing
    legacy-shaped to adopt."""
    root = os.path.abspath(root)
    facts_root = os.path.join(root, "facts")
    dim_root = os.path.join(root, "dim")
    # resume a crashed dim adoption first: data parked at
    # <t>.adopt-<token> with dim/<t> renamed away — move it back into
    # place as the version dir before the normal scan re-adopts it
    for d in (os.listdir(dim_root) if os.path.isdir(dim_root) else []):
        if ".adopt-" in d:
            t, token = d.split(".adopt-", 1)
            tdir = os.path.join(dim_root, t)
            os.makedirs(tdir, exist_ok=True)
            os.rename(os.path.join(dim_root, d),
                      os.path.join(tdir, f"commit={token}"))
    fact_entries = (os.listdir(facts_root) if os.path.isdir(facts_root)
                    else [])
    legacy_facts = sorted(
        d for d in fact_entries
        if d.startswith("batch_id=")
        and os.path.exists(os.path.join(facts_root, d, "_SUCCESS")))
    # resume a crashed fact adoption: dirs an earlier attempt already
    # renamed to commit=legacy-N before dying pre-manifest — the token
    # deterministically encodes the batch id, so fold them back in
    # (without this they would be invisible to readers and GC'd as
    # orphans at the next cdc_commit: permanent data loss). Guarded
    # like the batch_id= scan above: a genuine resumed dir is a
    # directory with a numeric id and the _SUCCESS marker the original
    # complete batch dir carried through the rename; anything else at
    # that name is debris and is left alone for manual inspection
    # rather than wedging every cdc_manifest_info call on int().
    resumed_facts = sorted(
        d for d in fact_entries
        if d.startswith("commit=legacy-")
        and d.split("legacy-", 1)[1].isdigit()
        and os.path.exists(os.path.join(facts_root, d, "_SUCCESS")))
    legacy_dims = sorted(
        t for t in (os.listdir(dim_root) if os.path.isdir(dim_root)
                    else [])
        if os.path.isdir(os.path.join(dim_root, t))
        and (any(f.endswith(".parquet") or f == "_SUCCESS"
                 for f in os.listdir(os.path.join(dim_root, t)))
             or any(f.startswith("commit=legacy-")
                    for f in os.listdir(os.path.join(dim_root, t)))))
    if not legacy_facts and not legacy_dims and not resumed_facts:
        return None
    m = {"batch_id": -1, "facts": {}, "dims": {}, "dim_prev": {}}
    for d in resumed_facts:
        token = d.split("=", 1)[1]
        n = int(token.split("legacy-", 1)[1])
        m["facts"][str(n)] = token
        m["batch_id"] = max(m["batch_id"], n)
    for d in legacy_facts:
        n = int(d.split("=", 1)[1])
        token = f"legacy-{n}"
        os.rename(os.path.join(facts_root, d),
                  os.path.join(facts_root, f"commit={token}"))
        m["facts"][str(n)] = token
        m["batch_id"] = max(m["batch_id"], n)
    for t in legacy_dims:
        tdir = os.path.join(dim_root, t)
        resumed = sorted(f for f in os.listdir(tdir)
                         if f.startswith("commit=legacy-"))
        if resumed:  # already version-shaped by the resume pass above
            token = resumed[-1].split("=", 1)[1]
        else:
            token = "legacy-" + uuid.uuid4().hex[:8]
            vdir = os.path.join(tdir, f"commit={token}")
            staged = tdir + f".adopt-{token}"
            os.rename(tdir, staged)
            os.makedirs(tdir)
            os.rename(staged, vdir)
        m["dims"][t] = token
        m["dim_prev"][t] = None
    tmp = os.path.join(root, f"{_CDC_MANIFEST}.tmp-adopt")
    with open(tmp, "w") as f:
        json.dump(m, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, _CDC_MANIFEST))
    return m


def cdc_manifest_info(root: str) -> dict:
    """The committed multi-directory manifest; adopts a legacy
    (pre-manifest) CDC layout on first touch; an empty pre-first-
    commit shape (batch_id -1) when neither exists."""
    p = os.path.join(os.path.abspath(root), _CDC_MANIFEST)
    if not os.path.exists(p):
        adopted = _cdc_adopt_legacy(root)
        if adopted is not None:
            return adopted
        return {"batch_id": -1, "facts": {}, "dims": {}, "dim_prev": {}}
    with open(p) as f:
        return json.load(f)


def cdc_commit(root: str, batch_id: int, fact_token: str | None,
               dim_tokens: dict[str, str]) -> None:
    """THE commit point for one router batch: fold the batch's fact
    partition (if any) and replaced dim snapshots into the manifest
    and atomically rename it over the old one, then GC everything the
    new manifest does not name (crashed-attempt orphans, dim versions
    older than the per-table predecessor)."""
    root = os.path.abspath(root)
    m = cdc_manifest_info(root)
    new = {"batch_id": int(batch_id),
           "facts": dict(m["facts"]),
           "dims": dict(m["dims"]),
           "dim_prev": dict(m.get("dim_prev", {}))}
    if fact_token is not None:
        new["facts"][str(batch_id)] = fact_token
    for table, token in dim_tokens.items():
        new["dim_prev"][table] = new["dims"].get(table)
        new["dims"][table] = token
    tmp = os.path.join(root, f"{_CDC_MANIFEST}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(new, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, _CDC_MANIFEST))  # commit point
    _cdc_gc(root, new)


def _cdc_gc(root: str, manifest: dict) -> None:
    """Remove commit= dirs the manifest does not name — fact/dim debris
    from crashed attempts and dim snapshots older than the per-table
    predecessor. Runs inside the committing writer (single-writer)."""
    facts_root = os.path.join(root, "facts")
    live = {f"commit={t}" for t in manifest["facts"].values()}
    if os.path.isdir(facts_root):
        for d in os.listdir(facts_root):
            if d.startswith("commit=") and d not in live:
                shutil.rmtree(os.path.join(facts_root, d),
                              ignore_errors=True)
    dim_root = os.path.join(root, "dim")
    if os.path.isdir(dim_root):
        for table in os.listdir(dim_root):
            keep = {manifest["dims"].get(table),
                    manifest.get("dim_prev", {}).get(table)}
            live = {f"commit={t}" for t in keep if t}
            tdir = os.path.join(dim_root, table)
            for d in os.listdir(tdir):
                if d.startswith("commit=") and d not in live:
                    shutil.rmtree(os.path.join(tdir, d),
                                  ignore_errors=True)
    for d in os.listdir(root):
        if d.startswith(_CDC_MANIFEST + ".tmp-"):
            os.remove(os.path.join(root, d))


def read_cdc_facts(spark, root: str,
                   schema: str = "topic string, value string, "
                                 "batch_id long"):
    """All COMMITTED fact rows — uncommitted commit= dirs are
    invisible because only manifest-named paths are enumerated.
    Empty relation of ``schema`` before the first fact commit (the
    default is the CDC router's payload shape; append-log reuses like
    the stream-stream join sink pass their own). ``schema`` is passed
    to the reader EXPLICITLY: adopted ``commit=legacy-*`` files lack
    the batch_id data column, and without a declared schema the
    resolved one would depend on which parquet footer Spark samples —
    batch_id could silently vanish for every row. With the explicit
    schema, legacy rows read batch_id as NULL, new rows as written
    (and the scan skips footer schema-merging entirely — the cheap
    path at scale)."""
    root = os.path.abspath(root)
    tokens = sorted(set(cdc_manifest_info(root)["facts"].values()))
    if not tokens:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(root, "facts", f"commit={t}") for t in tokens]
    return (spark.read.schema(schema)
            .option("basePath", os.path.join(root, "facts"))
            .parquet(*paths).drop("commit"))


def read_cdc_dim(spark, root: str, table: str, schema: str | None = None):
    """The committed snapshot of one dim table, or an empty relation
    of ``schema`` (None → Python None) before its first commit."""
    root = os.path.abspath(root)
    token = cdc_manifest_info(root)["dims"].get(table)
    if token is None:
        return None if schema is None else spark.createDataFrame([], schema)
    return spark.read.parquet(
        os.path.join(root, "dim", table, f"commit={token}"))


def cdc_foreach_batch(route_fn, root: str):
    """Watermark wrapper for the router: committed batch ids skip; a
    deep gap (fresh checkpoint against an existing output — see
    TABLE↔CHECKPOINT COUPLING above) raises instead of silently
    dropping data."""
    def wrapped(batch_df, batch_id: int) -> None:
        watermark = cdc_manifest_info(root)["batch_id"]
        if int(batch_id) < watermark:
            raise RuntimeError(
                f"batch_id {batch_id} is below the "
                f"committed watermark {watermark} for {root!r}: this "
                "stream's checkpoint does not belong to this output "
                "directory. Pair them, or start a new output dir.")
        if int(batch_id) == watermark:
            return  # replay of the committed tail batch
        route_fn(batch_df, batch_id)

    return wrapped


def manifest_foreach_batch(merge_fn, table_dir: str):
    """Wrap a ``(batch_df, batch_id) -> None`` merge (which must end
    in ``commit_state(..., batch_id)``) so batch ids at or below the
    committed watermark are skipped.

    Raises instead of skipping when the incoming id is STRICTLY below
    the watermark: a genuine Structured Streaming replay only
    re-delivers the tail (uncommitted) batch (id == watermark), so any
    lower id means a fresh checkpoint was pointed at an existing state
    table — silent skipping there drops genuinely new data (module
    docstring, TABLE↔CHECKPOINT COUPLING)."""
    def wrapped(batch_df, batch_id: int) -> None:
        _, watermark = manifest_info(table_dir)
        if int(batch_id) < watermark:
            raise RuntimeError(
                f"batch_id {batch_id} is below the "
                f"committed watermark {watermark} for {table_dir!r}: "
                "this stream's checkpoint does not belong to this state "
                "table (a fresh checkpoint restarts ids at 0, and "
                "skipping would silently drop new data). Pair the table "
                "with its original checkpoint, or start a new table.")
        if int(batch_id) == watermark:
            return  # replay of the committed tail batch
        merge_fn(batch_df, batch_id)

    return wrapped
