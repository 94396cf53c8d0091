"""E2/E3/F3: the CDC fact/dim router (``OdsBaseDbApp.scala:76-182``).

Fact rows are tagged with their dynamic topic (``upper(table)_op``) and
written to a topic-partitioned sink; dim rows are upserted
last-write-wins into per-table parquet dimension tables.

F3 (per-batch re-read of routing config, ``OdsBaseDbApp.scala:82-99``):
the config loader runs inside ``foreachBatch``, so edits to the config
file take effect on the next micro-batch without a restart — the same
dynamic-reconfiguration property the reference gets from re-reading
Redis sets each batch, minus the external service.

Commit protocol (r13, VERDICT r12 §next 2): every directory a batch
produces — the per-topic fact partition AND every touched dim
snapshot — is written under an uncommitted ``commit=<token>`` name and
becomes visible in ONE atomic manifest rename
(``manifest_commit.cdc_commit``). A crash between topic-directory
writes leaves the whole batch invisible (not just replay-safe), and
the watermark travels in the same rename,
so replay-vs-committed can never disagree with the data. The reference
gets per-key atomicity from Redis SET (``OdsBaseDbApp.scala:160-164``);
this is the whole-batch analog. Read the outputs through
``manifest_commit.read_cdc_facts`` / ``read_cdc_dim`` — raw directory
listings would also see uncommitted staging dirs.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.routing import dim_rows, map_cdc_optype
from .dim_upsert import latest_per_key
from .manifest_commit import (_has_parquet, cdc_commit, cdc_foreach_batch,
                              read_cdc_dim)


def load_routing_config(path: str) -> tuple[list[str], list[str]]:
    """Routing config as a JSON file {"fact_tables": [...],
    "dim_tables": [...]} — the FACT:TABLES / DIM:TABLES analog."""
    with open(path) as f:
        cfg = json.load(f)
    return list(cfg.get("fact_tables", [])), list(cfg.get("dim_tables", []))


def fact_topic_payload(batch: DataFrame, fact_tables: list[str]) -> DataFrame:
    """E2's dynamic-topic projection: fact CDC rows as the exact
    (topic, value) relation the Kafka sink consumes when no static
    topic is set (``OdsBaseDbApp.scala:123-129`` — topic =
    ``upper(table)_op``, value = row JSON). Satisfies
    ``sources.kafka.validate_kafka_payload`` by construction; the
    parquet fan-out below and a real broker sink are two sinks over
    this one relation."""
    return (batch
            .withColumn("op", map_cdc_optype())
            .filter(F.col("op").isNotNull())
            .filter(F.col("table").isin(*fact_tables))
            .select(F.concat(F.upper("table"), F.lit("_"), F.col("op"))
                    .alias("topic"),
                    F.to_json("data").alias("value")))


def merge_dim_version(one: DataFrame, current: DataFrame | None,
                      out_path: str, key_cols: list[str],
                      version_col: str) -> None:
    """Write the LWW merge of the committed snapshot and one batch's
    rows for a single dim table to an UNCOMMITTED version path (the
    manifest rename in ``route_cdc_batch`` makes it visible). Split
    out so crash drills can inject failures between per-table
    writes."""
    incoming = latest_per_key(one, key_cols, version_col)
    if current is not None:
        merged = latest_per_key(current.unionByName(incoming),
                                key_cols, version_col)
    else:
        merged = incoming
    merged.write.mode("overwrite").parquet(out_path)


def route_cdc_batch(batch: DataFrame, batch_id: int, out_dir: str,
                    config_path: str) -> None:
    """One micro-batch of the router — effectively-once AND atomically
    visible under Structured Streaming's at-least-once replay:

    - facts land under an uncommitted ``facts/commit=<token>`` dir
      (topic-partitioned, batch_id as a data column);
    - each dim table PRESENT IN THE BATCH gets a new LWW-merged
      snapshot at ``dim/<table>/commit=<token>`` (untouched tables
      keep their committed snapshot);
    - ONE manifest rename (``cdc_commit``) publishes all of it with
      the batch-id watermark — a crash anywhere earlier leaves every
      reader on the pre-batch state, and the staging debris is GC'd
      by the retry's commit.
    """
    spark = batch.sparkSession
    fact_tables, dim_tables = load_routing_config(config_path)  # F3: per batch
    token = uuid.uuid4().hex[:8]
    batch.persist()
    try:
        fact_token = None
        if fact_tables:
            fact = (fact_topic_payload(batch, fact_tables)
                    .withColumn("batch_id", F.lit(int(batch_id))))
            path = os.path.join(out_dir, "facts", f"commit={token}")
            fact.write.mode("overwrite").partitionBy("topic").parquet(path)
            if _has_parquet(path):  # skip empty-batch commits
                fact_token = token
        dim_tokens: dict[str, str] = {}
        if dim_tables:
            dims = dim_rows(batch, dim_tables)
            present = sorted(r["table"] for r in
                             dims.select("table").distinct().collect())
            for t in present:
                one = dims.filter(F.col("table") == t)
                cur = read_cdc_dim(spark, out_dir, t)
                merge_dim_version(
                    one, cur,
                    os.path.join(out_dir, "dim", t, f"commit={token}"),
                    key_cols=["id"], version_col="ts")
                dim_tokens[t] = token
        cdc_commit(out_dir, batch_id, fact_token, dim_tokens)
    finally:
        batch.unpersist()


def route_cdc_stream(cdc_stream: DataFrame, out_dir: str, checkpoint: str,
                     config_path: str, trigger_seconds: int | None = 5):
    from .split import _trigger
    os.makedirs(out_dir, exist_ok=True)
    fold = cdc_foreach_batch(
        lambda b, i: route_cdc_batch(b, i, out_dir, config_path),
        root=out_dir)
    writer = (cdc_stream.writeStream
              .foreachBatch(fold)
              .option("checkpointLocation", checkpoint))
    return _trigger(writer, trigger_seconds).start()
