"""Commit protocols for streaming state and outputs: every way a
micro-batch's writes become visible lives in this module.

Structured Streaming replays an uncommitted micro-batch under the same
batch id, so every sink sees at-least-once delivery. The reference has
the same exposure: it flushes its sinks and then commits offsets
(``OdsBaseLogApp.scala:194,205``). Each writer in ``streaming/`` is
made replay-safe by one of four protocols:

- ``commit_state`` / ``commit_version`` — one REPLACED state table per
  fold (sketches, rollups, dims): immutable versions plus one manifest
  carrying the version pointer and the batch-id watermark together
  (below);
- ``cdc_commit`` — the multi-directory generalization for the CDC
  router and the stream-stream join sink (section below);
- ``_write`` — APPEND-ONLY index relations: each batch overwrites its
  own ``ingest_batch=<id>`` partition, and reads can mask the current
  batch's partial output (``_maybe_read``);
- ``write_batch_files`` — APPEND-ONLY flat sinks (the five-way log
  split): each batch replaces its own ``part-b<id>-*`` files, so
  ``<out>/<topic>`` stays one flat parquet directory.

``compaction.py`` keeps its own rename-aside swap: it rewrites a whole
``ingest_batch=`` table in place, and readers open that table by path.

Manifest-last state commit — a single-table miniature of what
Delta/Iceberg's commit log does:

  <table>.v-<token>/   immutable state versions (plain parquet)
  <table>.manifest     one JSON line {"version": token, "batch_id": N}
                       — the ONLY mutable name, replaced by atomic
                       ``os.replace``

A merge reads the version the manifest names, writes a NEW version
directory (never touching the old one — so the merge plan's lineage
is never starved), then replaces the manifest. Every crash point is
exact:

- crash while writing the new version, or after it but BEFORE the
  manifest replace: the manifest still names the pre-merge version
  AND the pre-merge batch id — the replay re-merges from the OLD
  state; the orphan version dir is garbage-collected at the next
  successful commit;
- crash AFTER the manifest replace: the manifest's batch_id watermark
  names this batch — the replay is skipped.

There is no point at which the state includes a batch the watermark
does not (or vice versa), so additive folds (which double-count a
re-merged batch) and lattice folds (max, bit_or, LWW, bottom-k) share
one protocol.

Single-writer assumption: Structured Streaming serializes foreachBatch
per query. GC of superseded version dirs runs inside the committing
writer and RETAINS the immediately previous COMMITTED version (the
manifest records its predecessor token, so crashed-attempt orphans
are still collected immediately): ``read_state`` hands out a
LAZY DataFrame bound to the resolved version path, so an action
executed after one subsequent commit would otherwise hit
FileNotFoundException — retention gives same-process lazy readers a
one-commit grace window. A production multi-reader deployment would
widen this to a time-based retention window (as Delta's VACUUM does).
Readers that must survive arbitrarily many later commits should
eagerly materialize (``.cache()`` + an action, or ``.collect()``).

Batch-id watermark, not per-id markers: foreachBatch epoch ids are
monotonically increasing, so `batch_id <= watermark` ⇔ already
committed — one integer replaces a marker directory.

TABLE↔CHECKPOINT COUPLING: the batch-id sequence is scoped to the
streaming CHECKPOINT, but the watermark persists with the state TABLE.
They must be paired for life. Re-pointing a stream at an existing
table with a FRESH checkpoint restarts batch ids at 0 while the
table's watermark stays put — naively every new batch up to the
watermark would be "skipped as a replay" and silently dropped. So each
commit also records the streaming query id it ran under (Spark keeps
that id across restarts from one checkpoint; None for a direct call
outside a stream), and the stream wrappers (``manifest_foreach_batch``,
``cdc_foreach_batch``) skip a batch only when it is the committed tail
(id == watermark — the engine commits epoch N-1 before starting N, so
a genuine replay only ever re-delivers the tail) AND comes from the
query that committed it. Any other id at or below the watermark raises
instead of silently skipping, and a commit never moves the watermark
backwards.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _query_id() -> str | None:
    """The streaming query id inside a foreachBatch call (stable
    across restarts from one checkpoint); None outside a stream."""
    return SparkContext.getOrCreate().getLocalProperty(
        "sql.streaming.queryId")


def _check_forward(batch_id: int, watermark: int, where: str) -> None:
    if int(batch_id) < watermark:
        raise ValueError(
            f"batch_id {batch_id} is below the committed watermark "
            f"{watermark} of {where!r}: a commit never moves the "
            "watermark backwards (pass the next batch id).")


def _replayed(batch_id: int, committed: dict, where: str) -> bool:
    """True when ``batch_id`` re-delivers the committed tail batch of
    the same streaming query (skip it); False when it is new. Raises
    on any other id at or below the watermark (module docstring,
    TABLE↔CHECKPOINT COUPLING)."""
    watermark = int(committed["batch_id"])
    if int(batch_id) > watermark:
        return False
    query = _query_id()
    if int(batch_id) == watermark and committed.get("query") == query:
        return True
    raise RuntimeError(
        f"batch_id {batch_id} of streaming query {query} is at or below "
        f"the watermark {watermark} that query {committed.get('query')} "
        f"committed to {where!r}: this stream's checkpoint does not "
        "belong to this output (a fresh checkpoint restarts ids at 0, "
        "and skipping would silently drop new data). Pair the output "
        "with its original checkpoint, or start a new output.")


def _manifest_path(table_dir: str) -> str:
    return os.path.abspath(table_dir) + ".manifest"


def _manifest(table_dir: str) -> dict:
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        return {"version": None, "batch_id": -1}
    with open(p) as f:
        return json.load(f)


def manifest_info(table_dir: str) -> tuple[str | None, int]:
    """(current version token, last committed batch id); (None, -1)
    before the first commit."""
    m = _manifest(table_dir)
    return m["version"], int(m["batch_id"])


def state_path(table_dir: str) -> str | None:
    token, _ = manifest_info(table_dir)
    if token is None:
        return None
    return f"{os.path.abspath(table_dir)}.v-{token}"


def read_state(spark, table_dir: str, schema: str | None = None):
    """The committed state relation, or an empty relation of
    ``schema`` (None → Python None) before the first commit.

    Raises when there is no manifest but ``table_dir`` itself holds
    parquet: that is the retired rename-aside layout, and starting
    from empty state beside it would silently drop its data."""
    p = state_path(table_dir)
    if p is None and _has_parquet(table_dir):
        raise RuntimeError(
            f"{table_dir!r} holds parquet but no manifest: a state "
            "table in the old rename-aside layout, which is no longer "
            "read. Rebuild it through this fold, or move it away.")
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
    merged.write.mode("overwrite").parquet(f"{table_dir}.v-{token}")
    commit_version(table_dir, token, batch_id)


def commit_version(table_dir: str, token: str, batch_id: int) -> None:
    """Atomically repoint the manifest at an ALREADY-WRITTEN version
    ``{table_dir}.v-{token}`` — split from ``commit_state`` so states
    that are directory TREES (e.g. the semantic-dedup fold's
    centroids/assigned/pairs, ``semantic_maintain.py``) can assemble
    the version themselves and still get the one-rename commit + GC
    discipline. Refuses a ``batch_id`` below the watermark; the
    refused version dir is collected by the next commit."""
    table_dir = os.path.abspath(table_dir)
    m = _manifest(table_dir)
    _check_forward(batch_id, int(m["batch_id"]), table_dir)
    prev = m["version"]
    tmp = f"{table_dir}.manifest.tmp-{token}"
    with open(tmp, "w") as f:
        json.dump({"version": token, "batch_id": int(batch_id),
                   "prev": prev, "query": _query_id()}, f)
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

    A directory at ``table_dir`` ITSELF (e.g. the pre-refresh tree of
    a semantic-dedup state) is deliberately NOT touched here: this
    generic layer cannot tell a superseded tree state from foreign
    data, and deleting the latter would be unrecoverable. The module
    that owns the tree layout retires its own raw dir once it has had
    a full commit of grace (`semantic_maintain.refresh_semantic_state`)."""
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
#   .cdc.manifest    {"batch_id": N, "query": id|null,
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


def cdc_manifest_info(root: str) -> dict:
    """The committed multi-directory manifest, or an empty
    pre-first-commit shape (batch_id -1)."""
    p = os.path.join(os.path.abspath(root), _CDC_MANIFEST)
    if not os.path.exists(p):
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
    _check_forward(batch_id, int(m["batch_id"]), root)
    new = {"batch_id": int(batch_id), "query": _query_id(),
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
    to the reader EXPLICITLY, so the scan skips footer schema
    inference entirely — the cheap path at scale."""
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
    """Watermark wrapper for the router: a replay of the committed
    tail batch skips; any other id at or below the watermark (a fresh
    checkpoint against an existing output — see TABLE↔CHECKPOINT
    COUPLING above) raises instead of silently dropping data."""
    def wrapped(batch_df, batch_id: int) -> None:
        if not _replayed(batch_id, cdc_manifest_info(root), root):
            route_fn(batch_df, batch_id)

    return wrapped


def manifest_foreach_batch(merge_fn, table_dir: str):
    """Wrap a ``(batch_df, batch_id) -> None`` merge (which must end
    in ``commit_state(..., batch_id)``) so a replay of the committed
    tail batch is skipped. Any other id at or below the watermark
    means a checkpoint that does not belong to this state table, and
    raises: skipping there would drop genuinely new data (module
    docstring, TABLE↔CHECKPOINT COUPLING)."""
    def wrapped(batch_df, batch_id: int) -> None:
        if not _replayed(batch_id, _manifest(table_dir), table_dir):
            merge_fn(batch_df, batch_id)

    return wrapped


def fold_stream(stream: DataFrame, merge_fn, table_dir: str,
                checkpoint: str, trigger_seconds: int | None = None):
    """Start ``stream`` into a replaced-state fold: every micro-batch
    runs ``merge_fn(batch_df, batch_id)`` (ending in ``commit_state``)
    through ``manifest_foreach_batch``. ``trigger_seconds`` None →
    availableNow (drain and stop); an int → a processing-time trigger."""
    writer = (stream.writeStream
              .foreachBatch(manifest_foreach_batch(merge_fn, table_dir))
              .option("checkpointLocation", checkpoint))
    if trigger_seconds is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(
        processingTime=f"{trigger_seconds} seconds").start()


# ------------------------------------------------- batch-id-keyed appends
# Append-only outputs need no manifest: a batch's rows never change once
# written, so it is enough that a replay of batch id N REPLACES what an
# earlier attempt of N left behind instead of adding to it.


def _has_parquet(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _maybe_read(spark, path: str, schema: str, exclude_batch=None):
    """Read an index relation if it exists (else an empty relation of
    ``schema``). Streaming-written relations carry an ``ingest_batch``
    partition column; ``exclude_batch`` masks the current micro-batch's
    own (possibly partial, pre-crash) output so retries are idempotent
    — partition pruning makes the exclusion free.

    Empty-index detection is an explicit data-file probe, NOT a broad
    except around the read: swallowing a real read failure (corrupt
    footer, mixed layouts) as "empty index" would silently disable
    dedup and re-ingest the whole batch as duplicates — corruption
    must propagate loudly."""
    if not os.path.isdir(path) or not _has_parquet(path):
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(path)
    if exclude_batch is not None and "ingest_batch" in df.columns:
        df = df.filter(F.col("ingest_batch") != F.lit(exclude_batch))
    return df


def _check_layout(path: str, batch_id) -> None:
    """Refuse to mix flat-append and ingest_batch= partition layouts on
    one root (ADVICE r07): the mix passes silently at write time and
    fails later at read time as a Spark partition-discovery error —
    surface it loudly at the write that would create it."""
    if not os.path.isdir(path):
        return
    has_parts = any(e.startswith("ingest_batch=")
                    for e in os.listdir(path))
    has_flat = any(e.endswith(".parquet") for e in os.listdir(path))
    if batch_id is None and has_parts:
        raise ValueError(
            f"{path} holds ingest_batch= partitions; appending "
            "unpartitioned files to it would corrupt partition "
            "discovery — pass the batch_id.")
    if batch_id is not None and has_flat:
        raise ValueError(
            f"{path} holds flat appended files; writing an "
            "ingest_batch= partition into it would corrupt partition "
            "discovery — use a fresh root for batch-id mode.")


def _write(df: DataFrame, path: str, batch_id) -> None:
    _check_layout(path, batch_id)
    if batch_id is None:
        df.write.mode("append").parquet(path)
    else:
        (df.write.mode("overwrite")
         .parquet(f"{path}/ingest_batch={int(batch_id)}"))


def _publish(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


def write_batch_files(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as batch ``batch_id``'s files of the flat parquet
    directory ``path``, replacing whatever an earlier attempt of the
    same batch left there.

    The batch's files are named ``part-b<id>-*``: they are deleted
    first, the frame is written to the hidden staging directory
    ``_batch-<id>/`` (Spark's reader skips ``_``-prefixed names), and
    its part files are renamed into ``path``. A crash at any step
    leaves at most this batch's files partly published, and the
    replay deletes and rewrites them; other batches' files are never
    touched. As with a plain append, readers may see a partial batch
    until the replay finishes. The listing, renames and deletes go
    through the Hadoop FileSystem of ``path``, as Spark's own writer
    does, so ``hdfs://``, ``s3a://`` and ``file:`` outputs work like
    local paths."""
    sc = df.sparkSession.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    prefix = f"part-b{int(batch_id)}-"
    for st in fs.globStatus(Path(root, prefix + "*")) or []:
        fs.delete(st.getPath(), False)
    staging = Path(root, f"_batch-{int(batch_id)}")
    df.write.mode("overwrite").parquet(staging.toString())
    for st in fs.listStatus(staging):
        name = st.getPath().getName()
        if name.startswith("part-"):
            _publish(fs, st.getPath(),
                     Path(root, prefix + name[len("part-"):]))
    fs.delete(staging, True)
