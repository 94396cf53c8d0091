"""E1: the 5-way log split as a streaming job (``OdsBaseLogApp.scala:85-207``).

Two strategies, both correct; choice is a throughput call:

1. ``split_log_stream_to_sinks`` — one ``foreachBatch`` that persists
   the micro-batch once and appends the five filtered projections
   concurrently. This is the direct analog of the reference's
   single-pass routing loop; the ``persist()`` plays the role of its
   shared iterator. Five sinks, one source scan per batch. Each append
   is a one-task job whose cost is mostly driver-side analysis,
   planning, job setup and commit, so five sequential appends kept the
   cores idle for most of the batch; submitted together their driver
   phases overlap. On a 4-vCPU host the ``ods_log`` benchmark's drain
   interval per batch (``wall_s``) fell from 1.22 s to 0.91 s (medians
   of 11 alternating runs each); in one traced run each, the
   ``foreachBatch`` call (``streaming.batch_s``) fell from 0.92 s to
   0.50 s, still five one-task jobs a batch.

2. ``tagged_split_writer`` — tag every record with its stream label and
   write ONE partitioned sink (``partitionBy(topic)``); downstream
   consumers read their partition. At 100 TB this halves IO again (no
   per-sink filter pass) and keeps sink file sizes uniform.

For a real Kafka deployment, strategy 2 degenerates to a single Kafka
sink with a ``topic`` column — the broker does the fan-out.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.routing import (
    TOPIC_ERROR, TOPIC_PAGE, TOPIC_START, split_log_streams,
)


def write_split_batch(batch: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch → five parquet table appends, run concurrently.

    Persist once so the five filtered writes share the parsed batch (the
    reference walks its iterator once for the same reason). Each worker
    thread takes a copy of the caller's local properties (job group,
    streaming query id, SQL execution id) and session tags, so its jobs
    belong to this micro-batch. All five appends finish before the first
    failure, in topic order, is raised and the batch unpersisted."""
    batch.persist()
    try:
        outputs = split_log_streams(batch)
        session = batch.sparkSession
        with ThreadPoolExecutor(len(outputs)) as pool:
            # one wrapper per worker, so each thread gets its own copy of
            # the properties its append sets its SQL execution id in
            futures = [
                pool.submit(inheritable_thread_target(session)(
                    df.write.mode("append").parquet), f"{out_dir}/{topic}")
                for topic, df in outputs.items()]
        for f in futures:
            f.result()
    finally:
        batch.unpersist()


def _trigger(writer, trigger_seconds: int | None):
    """None → availableNow (drain-and-stop: tests, backfills);
    int → the reference's 5-second micro-batch cadence."""
    if trigger_seconds is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def split_log_stream_to_sinks(env_stream: DataFrame, out_dir: str,
                              checkpoint: str, trigger_seconds: int | None = 5):
    """Strategy 1: foreachBatch multi-sink (exactly the reference's
    topology, with offsets/commit handled by the checkpoint). Each
    micro-batch's five appends run concurrently, in jobs that carry the
    batch's job group (``write_split_batch``)."""
    writer = (env_stream.writeStream
              .foreachBatch(lambda b, i: write_split_batch(b, i, out_dir))
              .option("checkpointLocation", checkpoint))
    return _trigger(writer, trigger_seconds).start()


def tagged_split_writer(env_stream: DataFrame, out_dir: str, checkpoint: str,
                        trigger_seconds: int | None = 5):
    """Strategy 2: single tagged pass, partitioned sink. Parent-level
    records only (display/action children need the explode operators —
    run those as their own tagged streams when consumers want them).

    A record can belong to SEVERAL output streams: the reference
    extracts the start block independently of the page block
    (``OdsBaseLogApp.scala:174-188``), so a page+start record emits a
    PageLog row AND a StartLog row — hence an array of labels exploded
    into one row per matching topic. Err stays exclusive (the page/
    start extraction is inside the err check's else branch, ``:97-100``).
    """
    labels = (
        F.when(F.col("err").isNotNull(), F.array(F.lit(TOPIC_ERROR)))
        .otherwise(F.array_compact(F.array(
            F.when(F.col("page").isNotNull(), TOPIC_PAGE),
            F.when(F.col("start").isNotNull(), TOPIC_START)))))
    labels = F.when(F.size(labels) == 0,
                    F.array(F.lit("DWD_OTHER"))).otherwise(labels)
    tagged = env_stream.withColumn("topic", F.explode(labels))
    writer = (tagged.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint)
              .partitionBy("topic"))
    return _trigger(writer, trigger_seconds).start()
