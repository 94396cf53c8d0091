"""Streaming OHLC bar maintenance — per-micro-batch fold of the
candlestick bars (``queries/analytics27.py:ts_ohlc_bars``), the fourth
state-fold shape in the maintain family: not additive (rollup /
histogram), not max-merge (HLL), not coalescing (sessionize) — a
MIN/MAX-BY merge where open/close carry their tie-break keys so
partial bars from any micro-batch split fold to the batch answer.

State is one row per (brand, bar) holding ``min(struct(tick, cents))``
/ ``max(struct(tick, cents))`` extrema plus additive volume/tick
counts — bounded by bars × brands forever, while the tick stream it
summarizes is unbounded. Volume/count addition makes the fold
non-idempotent under an uncommitted-batch replay, so since r12 it
commits through the manifest-last protocol (``manifest_commit.py``):
committed batch ids skip against the watermark, and state + watermark
move in one atomic rename — same contract as the histogram/rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..queries.analytics27 import finalize_bars, merge_bars, tick_bars
from .manifest_commit import commit_state, fold_stream, read_state


def merge_ohlc(batch_ticks: DataFrame, table_dir: str,
               batch_id: int = 0) -> None:
    """Fold one micro-batch of ticks (brand, bar, cents, qty, tick)
    into the persisted bars: state ⊕ batch₁ ⊕ batch₂ equals the
    batch-recomputed bars of all ticks (struct-min/max and sums are
    associative and commutative)."""
    spark = batch_ticks.sparkSession
    part = tick_bars(batch_ticks)
    base = read_state(spark, table_dir)
    if base is not None:
        merged = merge_bars(base.unionByName(part))
    else:
        merged = part
    commit_state(merged.coalesce(1), table_dir, batch_id)


# Committed-state schema (tick_bars output): passed to read_state so a
# pre-first-commit read returns an empty TYPED relation instead of
# None → AttributeError (ADVICE r12).
_TICK = "struct<d: timestamp, ok: bigint, ln: int>"
_BARS_SCHEMA = (
    "brand string, bar int, "
    f"o struct<tick: {_TICK}, cents: bigint>, "
    f"c struct<tick: {_TICK}, cents: bigint>, "
    "high_cents bigint, low_cents bigint, volume bigint, n_ticks bigint")


def read_bars(spark, table_dir: str) -> DataFrame:
    """The user-facing OHLC schema off the maintained state (drops the
    tie-break keys); empty typed relation before the first commit."""
    return finalize_bars(read_state(spark, table_dir, _BARS_SCHEMA))


def ohlc_stream(tick_stream: DataFrame, table_dir: str,
                checkpoint_dir: str):
    """Wire a tick stream (already shaped brand/bar/cents/qty/tick,
    e.g. ``analytics27.lineitem_ticks`` semantics) into the
    manifest-committed bar fold (availableNow)."""
    return fold_stream(tick_stream,
                       lambda b, i: merge_ohlc(b, table_dir, i),
                       table_dir, checkpoint_dir)
