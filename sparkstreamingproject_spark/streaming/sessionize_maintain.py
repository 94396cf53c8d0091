"""Streaming incremental sessionization — the streaming form of the
``events_gap_sessionize`` batch query (analytics5.py): maintain
per-user session statistics across micro-batches WITHOUT rescanning
history, closing sessions as the event-time gap (30 min) passes and
carrying exactly one open session per user.

This is the third state-fold shape in the streaming family, and the
interesting one:

- ``rollup_maintain``   — ADDITIVE fold   (sum/count combine)
- ``hll_maintain``      — MAX fold        (idempotent register merge)
- THIS                  — SESSION-MERGE fold: the batch's first
  session may coalesce with the state's open session, interior batch
  sessions close immediately, and the batch's last session becomes
  the new open one. Not additive, not idempotent — since r12 it
  commits through the manifest-last protocol (``manifest_commit.py``):
  committed batch ids skip against the watermark and state + watermark
  move in one atomic rename.

Ordering contract: micro-batches must arrive in event-time order PER
USER (the standard incremental-sessionization assumption — a
Kafka-keyed source partitions by user and preserves per-key order;
the file-source tests split chunks on global event-time order, which
implies per-user order). Rows WITHIN a batch may be unordered.

State schema (one row per user ever seen; all BIGINT — integer
microsecond arithmetic end-to-end, no floats anywhere):

  user_id | n_closed | closed_events | max_closed
          | open_start_us | open_last_us | open_n

Invariant: every user in state has exactly one OPEN session (closing
happens only when a newer event opens the next one), so the summary
read path is ``n_closed + 1`` sessions. ``session_summary`` reproduces
the ``events_gap_sessionize`` output columns exactly; the
stream≡batch test pins equality over chunked replays.

100 TB posture: the per-batch sessionize windows partition by user
(never global); the state merge is a key-equi full-outer join that a
lakehouse MERGE expresses directly; state size is O(users), not
O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .manifest_commit import commit_state, fold_stream, read_state

#: session gap — 30 minutes in microseconds (events_gap_sessionize's
#: 1800000000; a NEW session starts when the gap is strictly greater)
GAP_US = 1_800_000_000

_STATE_COLS = ("user_id", "n_closed", "closed_events", "max_closed",
               "open_start_us", "open_last_us", "open_n")


def _batch_session_summary(batch: DataFrame, gap_us: int) -> DataFrame:
    """Sessionize ONE micro-batch alone (user_id, event_id, us) and
    collapse it to one row per user: the first/last batch sessions
    (which interact with neighbouring batches) kept whole, interior
    sessions pre-aggregated — the only parts the merge needs."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = (batch
         .withColumn("new_sess",
                     F.when(F.col("us") - F.lag("us").over(w) > gap_us,
                            F.lit(1)).otherwise(F.lit(0)))
         .withColumn("sess", F.sum("new_sess").over(run)))
    bs = (s.groupBy("user_id", "sess")
          .agg(F.count("*").alias("n"),
               F.min("us").alias("start_us"),
               F.max("us").alias("end_us")))
    uw = Window.partitionBy("user_id")
    bs = bs.withColumn("kmax", F.max("sess").over(uw))
    mid = (F.col("sess") > 0) & (F.col("sess") < F.col("kmax"))
    return (bs.groupBy("user_id")
            .agg((F.max("kmax") + 1).alias("k"),
                 F.max(F.when(F.col("sess") == 0, F.col("n")))
                 .alias("first_n"),
                 F.max(F.when(F.col("sess") == 0, F.col("start_us")))
                 .alias("first_start"),
                 F.max(F.when(F.col("sess") == 0, F.col("end_us")))
                 .alias("first_end"),
                 F.max(F.when(F.col("sess") == F.col("kmax"),
                              F.col("n"))).alias("last_n"),
                 F.max(F.when(F.col("sess") == F.col("kmax"),
                              F.col("start_us"))).alias("last_start"),
                 F.max(F.when(F.col("sess") == F.col("kmax"),
                              F.col("end_us"))).alias("last_end"),
                 F.coalesce(F.sum(F.when(mid, F.col("n"))), F.lit(0))
                 .alias("mid_events"),
                 F.coalesce(F.count(F.when(mid, F.lit(1))), F.lit(0))
                 .alias("mid_count"),
                 F.max(F.when(mid, F.col("n"))).alias("mid_max")))


def merge_sessions(batch: DataFrame, table_dir: str,
                   gap_us: int = GAP_US, batch_id: int = 0) -> None:
    """Fold one micro-batch (user_id, event_id, us BIGINT) into the
    session state table. Per user:

    - the batch's FIRST session coalesces with the state's open
      session when ``first_start - open_last <= gap`` (the strict-``>``
      split rule of the batch query, inverted);
    - the open session CLOSES if it did not coalesce;
    - interior batch sessions close immediately;
    - the batch's LAST session (after any coalescing when the batch
      has a single session) becomes the new open session."""
    spark = batch.sparkSession
    b = _batch_session_summary(batch, gap_us)
    st = read_state(
        spark, table_dir,
        "user_id long, n_closed long, closed_events long, "
        "max_closed long, open_start_us long, open_last_us long, "
        "open_n long")

    j = st.alias("s").join(b.alias("b"), "user_id", "full_outer")
    has_s = F.col("s.open_n").isNotNull()
    has_b = F.col("b.k").isNotNull()
    merged = has_s & has_b & (
        (F.col("b.first_start") - F.col("s.open_last_us")) <= gap_us)
    multi = F.col("b.k") > 1
    # events absorbed into the batch's first session from the prior open
    first_total = F.col("b.first_n") + F.when(merged, F.col("s.open_n")) \
                                        .otherwise(F.lit(0))
    # prior open closes as its own session iff present and not coalesced
    open_closes = has_s & ~merged
    prev_closed = F.coalesce(F.col("s.n_closed"), F.lit(0))
    prev_events = F.coalesce(F.col("s.closed_events"), F.lit(0))
    prev_max = F.coalesce(F.col("s.max_closed"), F.lit(0))

    closes_n = (F.when(open_closes, 1).otherwise(0)
                + F.when(multi, F.col("b.mid_count") + 1).otherwise(0))
    closes_events = (F.when(open_closes, F.col("s.open_n")).otherwise(0)
                     + F.when(multi,
                              F.col("b.mid_events") + first_total)
                     .otherwise(0))
    closes_max = F.greatest(
        F.when(open_closes, F.col("s.open_n")),
        F.when(multi, F.col("b.mid_max")),
        F.when(multi, first_total))

    out = j.select(
        "user_id",
        F.when(has_b, prev_closed + closes_n)
        .otherwise(F.col("s.n_closed")).alias("n_closed"),
        F.when(has_b, prev_events + closes_events)
        .otherwise(F.col("s.closed_events")).alias("closed_events"),
        F.when(has_b, F.greatest(prev_max, F.coalesce(closes_max,
                                                      F.lit(0))))
        .otherwise(F.col("s.max_closed")).alias("max_closed"),
        F.when(~has_b, F.col("s.open_start_us"))
        .when(multi, F.col("b.last_start"))
        .when(merged, F.col("s.open_start_us"))
        .otherwise(F.col("b.first_start")).alias("open_start_us"),
        F.when(~has_b, F.col("s.open_last_us"))
        .otherwise(F.col("b.last_end")).alias("open_last_us"),
        F.when(~has_b, F.col("s.open_n"))
        .when(multi, F.col("b.last_n"))
        .otherwise(first_total).alias("open_n"),
    ).select(*[F.col(c).cast("long").alias(c) for c in _STATE_COLS])
    commit_state(out, table_dir, batch_id)


def session_summary(state: DataFrame) -> DataFrame:
    """Read path: per-user session stats in exactly the
    ``events_gap_sessionize`` output shape (the open session counts —
    the batch query has no watermark and counts every session)."""
    return state.select(
        "user_id",
        (F.col("n_closed") + 1).alias("n_sessions"),
        (F.col("closed_events") + F.col("open_n")).alias("n_events"),
        F.greatest("max_closed", "open_n").alias("max_session_events"))


def maintain_sessions_stream(events_stream: DataFrame, table_dir: str,
                             checkpoint_dir: str,
                             gap_us: int = GAP_US,
                             trigger_seconds: int | None = None):
    """writeStream.foreachBatch wrapper. The session-merge fold is not
    idempotent (re-closing a session double-counts), so committed
    batch ids skip against the manifest watermark and the commit is
    the single atomic manifest rename (``manifest_commit.py``).
    Expects columns (user_id, event_id, us)."""
    return fold_stream(
        events_stream, lambda b, i: merge_sessions(b, table_dir, gap_us, i),
        table_dir, checkpoint_dir, trigger_seconds)
