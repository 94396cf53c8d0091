"""Small-file compaction for append-mode streaming outputs.

The idempotent streaming writers (``dedup_ingest``, ``ivf_ingest``)
land every micro-batch in its own ``ingest_batch=<id>`` partition —
the layout that makes crashed-batch retries overwrite-in-place. The
cost is file explosion: one-plus files per batch forever, and at a
few-seconds trigger that is tens of thousands of tiny files per day —
the classic day-2 operational problem of streaming lakes (every scan
pays per-file open cost; the namenode/listing pays per-object).

``compact_batched_output`` folds all COMMITTED batch partitions into a
single consolidated ``ingest_batch=-1`` partition while leaving the
most recent ``keep_last`` batch partitions untouched:

- Structured Streaming can only ever replay the uncommitted tail, so
  partitions older than that horizon are immutable history — safe to
  consolidate. ``keep_last`` should be ≥ the number of batches the
  checkpoint could replay (1 in practice; default 2 for margin).
- The retry contract survives: a replayed batch id still overwrites
  its own (kept) partition, and the self-exclusion read filter
  (``ingest_batch != id``) can never match the consolidated ``-1``.
- Reads see the identical relation before and after — only the file
  layout changes.

This is the one writer in the package that REPLACES a table readers
open by path (``spark.read.parquet(table_dir)``), so it cannot publish
through a manifest and keeps its own rename-aside swap (``_swap_in``):

1. write the compacted table to ``<table>.tmp-<token>`` (this is what
   materializes the plan, so it still READS the current table);
2. rename the current table aside to ``<table>.old-<token>``;
3. rename the tmp in as the table;
4. delete the old dir last.

``_recover`` runs before every compaction and leaves a consistent
table whatever point the last one died at: an orphan ``.tmp-*`` is
deleted; a missing table with an ``.old-*`` beside it (crash between 2
and 3) gets the ``.old-*`` renamed back; an ``.old-*`` beside a live
table (crash between 3 and 4) is deleted. Either the old or the new
table is always recoverable, never neither. Single-writer assumption
as everywhere in this package: run compaction between micro-batches
(e.g. from the maintenance window of the job itself), not concurrently
with a fold.

On a lakehouse format this module is ``OPTIMIZE``/``rewrite_data_files``;
the parquet form keeps the operational story honest in this container.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest_commit import _has_parquet

#: partition id the consolidated history lands in — no real foreachBatch
#: epoch is ever negative, so retry self-exclusion can never mask it
CONSOLIDATED = -1


def _recover(table_dir: str) -> None:
    """Clean up after an interrupted ``_swap_in`` (module docstring).
    Idempotent; one listdir when there is no debris."""
    table_dir = os.path.abspath(table_dir)
    parent, name = os.path.split(table_dir)
    if not os.path.isdir(parent):
        return
    olds = sorted(d for d in os.listdir(parent)
                  if d.startswith(name + ".old-"))
    if olds and not os.path.isdir(table_dir):
        # crash between rename-aside and rename-in: the .old dir IS the
        # complete prior table (recovery runs before every swap, so at
        # most one .old can exist here)
        os.rename(os.path.join(parent, olds.pop()), table_dir)
    for d in olds:  # completed-swap leftovers
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    for d in os.listdir(parent):  # incomplete tmp writes
        if d.startswith(name + ".tmp-"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _swap_in(new: DataFrame, table_dir: str,
             partition_by: list[str]) -> None:
    """Replace ``table_dir`` with ``new`` by rename-aside (module
    docstring); ``new`` may read ``table_dir``."""
    table_dir = os.path.abspath(table_dir)
    token = uuid.uuid4().hex[:8]
    tmp = f"{table_dir}.tmp-{token}"
    new.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    old = f"{table_dir}.old-{token}"
    if os.path.isdir(table_dir):
        os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old, ignore_errors=True)


def compact_batched_output(spark: SparkSession, table_dir: str,
                           keep_last: int = 2,
                           target_files: int = 1,
                           sub_partition_by: list[str] | None = None
                           ) -> dict:
    """Consolidate committed ``ingest_batch`` partitions of
    ``table_dir`` into one ``ingest_batch=-1`` partition, keeping the
    newest ``keep_last`` batch partitions replayable.
    ``sub_partition_by`` preserves a nested partition layout under the
    batch level (e.g. the IVF postings' ``cell=`` dirs, which probe
    pruning depends on). Returns a small stats dict (batches
    folded/kept, row count). No-op when there is nothing to fold."""
    _recover(table_dir)
    if not _has_parquet(table_dir):
        return {"folded": 0, "kept": 0, "rows": 0}
    df = spark.read.parquet(table_dir)
    if "ingest_batch" not in df.columns:
        raise ValueError(
            f"{table_dir} has no ingest_batch partition column — "
            "compaction only applies to batch-partitioned outputs")
    # distinct partition ids: bounded by batch count (partition-pruned
    # listing, not a data scan over row payloads)
    ids = sorted(r[0] for r in
                 df.select("ingest_batch").distinct().collect())
    tail = [i for i in ids if i != CONSOLIDATED][-keep_last:] \
        if keep_last > 0 else []
    fold_ids = [i for i in ids if i not in tail]
    if not fold_ids or fold_ids == [CONSOLIDATED]:
        return {"folded": 0, "kept": len(tail),
                "rows": df.count()}
    folded = (df.filter(~F.col("ingest_batch").isin(tail))
              .withColumn("ingest_batch", F.lit(CONSOLIDATED))
              .coalesce(target_files))
    new = folded.unionByName(df.filter(F.col("ingest_batch").isin(tail)))
    _swap_in(new, table_dir,
             partition_by=["ingest_batch"] + list(sub_partition_by or []))
    return {"folded": len(fold_ids), "kept": len(tail),
            "rows": spark.read.parquet(table_dir).count()}
