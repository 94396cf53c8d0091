"""Structured Streaming job tests (SURVEY.md §5.3).

Each streaming op is driven with a file-source stream (the Kafka
stand-in — identical DataFrame surface) under ``availableNow`` triggers,
and its output asserted against the batch-equivalent computation on the
same data — the verification strategy SURVEY.md §5 prescribes.
"""

from __future__ import annotations

import json

import pytest

# E2E tests that SPIN a real Structured Streaming query (engine start/
# stop + availableNow drain, ~20-60 s each) are marked slow: the fold
# ALGEBRA (merge semantics, crash recovery, idempotence) stays in the
# inner loop; stream wiring re-verifies at round close with the full
# suite.
from pyspark.sql import functions as F

from sparkstreamingproject_spark.operators.flatten import (
    explode_actions, explode_displays, page_log, start_log, error_log,
)
from sparkstreamingproject_spark.operators.routing import (
    TOPIC_ACTION, TOPIC_DISPLAY, TOPIC_ERROR, TOPIC_PAGE, TOPIC_START,
    split_log_streams,
)
from sparkstreamingproject_spark.schemas import CDC_ENVELOPE_SCHEMA, LOG_ENVELOPE_SCHEMA
from sparkstreamingproject_spark.sources.streams import file_stream
from sparkstreamingproject_spark.streaming.cdc_router import route_cdc_stream
from sparkstreamingproject_spark.streaming.dim_upsert import upsert_dim_parquet
from sparkstreamingproject_spark.streaming.split import (
    split_log_stream_to_sinks, tagged_split_writer, write_split_batch,
)

from .fixtures import cdc_df, log_envelope_df


@pytest.fixture()
def land_logs(spark, tmp_path):
    """Write envelope fixtures as the streaming landing zone."""
    src = str(tmp_path / "land")
    log_envelope_df(spark, n=200).coalesce(2).write.parquet(src)
    return src


@pytest.mark.slow
def test_split_5way_stream_matches_batch(spark, tmp_path, land_logs):
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    stream = file_stream(spark, land_logs, LOG_ENVELOPE_SCHEMA)
    q = split_log_stream_to_sinks(stream, out, ck, trigger_seconds=None)
    q.awaitTermination(120)

    batch_env = spark.read.parquet(land_logs)
    expected = {
        TOPIC_ERROR: error_log(batch_env).count(),
        TOPIC_PAGE: page_log(batch_env).count(),
        TOPIC_DISPLAY: explode_displays(batch_env).count(),
        TOPIC_ACTION: explode_actions(batch_env).count(),
        TOPIC_START: start_log(batch_env).count(),
    }
    for topic, n in expected.items():
        got = spark.read.parquet(f"{out}/{topic}").count()
        assert got == n, f"{topic}: stream={got} batch={n}"


@pytest.mark.slow
def test_split_stream_resume_is_incremental(spark, tmp_path, land_logs):
    """F1/F2: the checkpoint resumes where the last run committed —
    re-running over the same landing zone adds nothing; new files add
    exactly their own records (at-least-once, no reprocessing)."""
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    stream = file_stream(spark, land_logs, LOG_ENVELOPE_SCHEMA)
    split_log_stream_to_sinks(stream, out, ck, trigger_seconds=None).awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/{TOPIC_PAGE}").count()

    # resume with no new input: nothing re-emitted
    stream2 = file_stream(spark, land_logs, LOG_ENVELOPE_SCHEMA)
    split_log_stream_to_sinks(stream2, out, ck, trigger_seconds=None).awaitTermination(120)
    assert spark.read.parquet(f"{out}/{TOPIC_PAGE}").count() == n1

    # new landing file: only its records appear
    log_envelope_df(spark, n=40, seed=99).coalesce(1).write.mode("append").parquet(land_logs)
    stream3 = file_stream(spark, land_logs, LOG_ENVELOPE_SCHEMA)
    split_log_stream_to_sinks(stream3, out, ck, trigger_seconds=None).awaitTermination(120)
    n3 = spark.read.parquet(f"{out}/{TOPIC_PAGE}").count()
    added = page_log(log_envelope_df(spark, n=40, seed=99)).count()
    assert n3 == n1 + added


@pytest.mark.slow
def test_tagged_split_writer_partitions(spark, tmp_path, land_logs):
    """Strategy 2 emits one row per (record, matching topic): err
    exclusively to ERROR; page+start records to BOTH topics
    (OdsBaseLogApp.scala:174-188 extracts start independently of page)."""
    out = str(tmp_path / "tagged")
    ck = str(tmp_path / "ck2")
    stream = file_stream(spark, land_logs, LOG_ENVELOPE_SCHEMA)
    tagged_split_writer(stream, out, ck, trigger_seconds=None).awaitTermination(120)
    df = spark.read.parquet(out)
    topics = {r["topic"] for r in df.select("topic").distinct().collect()}
    assert TOPIC_ERROR in topics and (TOPIC_PAGE in topics or TOPIC_START in topics)

    env = spark.read.parquet(land_logs)
    err = F.col("err").isNotNull()
    n_err = env.filter(err).count()
    n_page = env.filter(~err & F.col("page").isNotNull()).count()
    n_start = env.filter(~err & F.col("start").isNotNull()).count()
    n_other = env.filter(~err & F.col("page").isNull()
                         & F.col("start").isNull()).count()
    by_topic = {r["topic"]: r["n"] for r in
                df.groupBy("topic").agg(F.count("*").alias("n")).collect()}
    assert by_topic.get(TOPIC_ERROR, 0) == n_err
    assert by_topic.get(TOPIC_PAGE, 0) == n_page
    assert by_topic.get(TOPIC_START, 0) == n_start
    assert by_topic.get("DWD_OTHER", 0) == n_other
    # fixtures co-generate page+start (~7%): both-membership must occur
    n_both = env.filter(~err & F.col("page").isNotNull()
                        & F.col("start").isNotNull()).count()
    assert n_both > 0, "fixture should contain page+start records"
    assert df.count() == env.count() + n_both


def test_err_records_only_in_error_output(spark):
    """The reference routes err records exclusively to the error topic
    (page/start/display/action extraction is inside the else branch,
    OdsBaseLogApp.scala:97-100) — no err mid may appear in any other
    split output."""
    from sparkstreamingproject_spark.operators.routing import split_log_streams
    env = log_envelope_df(spark, n=400)
    outs = split_log_streams(env)
    err_mids = {r["mid"] for r in
                outs[TOPIC_ERROR].select("common.mid").collect()}
    assert err_mids, "fixture should contain err records"
    # fixtures co-generate err+page (~5% err, independent): without the
    # else-branch exclusion these outputs WOULD contain err mids
    assert env.filter(F.col("err").isNotNull()
                      & F.col("page").isNotNull()).count() > 0
    for topic in (TOPIC_PAGE, TOPIC_START, TOPIC_DISPLAY, TOPIC_ACTION):
        mids = {r["mid"] for r in outs[topic].select("mid").collect()}
        assert not (mids & err_mids), f"err mids leaked into {topic}"


def _count_and_hash(df):
    """Row count and an order-insensitive content hash (the sum of the
    rows' xxhash64, so duplicates count with their multiplicity)."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return r["n"], r["h"]


def test_write_split_batch_writes_each_split_output(spark, tmp_path):
    """One micro-batch through the concurrent five-way append: each
    topic's table holds exactly its ``split_log_streams`` frame."""
    env = log_envelope_df(spark, n=200)
    out = str(tmp_path / "out")
    write_split_batch(env, 0, out)
    for topic, want in split_log_streams(env).items():
        n, h = _count_and_hash(want)
        assert n > 0, f"fixture should feed {topic}"
        got = spark.read.parquet(f"{out}/{topic}")
        assert _count_and_hash(got) == (n, h), topic


def test_write_split_batch_failed_append_waits_for_the_rest(spark, tmp_path):
    """A failing sink (its target is a regular file) fails the batch,
    but only after the other four appends have finished, and the
    persisted batch is released either way."""
    from pyspark import StorageLevel

    env = log_envelope_df(spark, n=200)
    out = tmp_path / "out"
    out.mkdir()
    (out / TOPIC_PAGE).write_text("not a table")
    with pytest.raises(Exception, match="not a directory"):
        write_split_batch(env, 0, str(out))
    for topic, want in split_log_streams(env).items():
        if topic == TOPIC_PAGE:
            continue
        got = spark.read.parquet(str(out / topic))
        assert _count_and_hash(got) == _count_and_hash(want), topic
    assert not env.is_cached
    assert env.storageLevel == StorageLevel.NONE


def test_write_split_batch_jobs_keep_caller_job_group(spark, tmp_path):
    """The appends run on worker threads; their jobs must still carry
    the caller's job group (the benchmark's trace joins on it)."""
    import time

    env = log_envelope_df(spark, n=200)
    sc = spark.sparkContext
    group = "write-split-batch-test"
    sc.setJobGroup(group, "write_split_batch")
    try:
        write_split_batch(env, 0, str(tmp_path / "out"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job starts reach the status store through the async listener bus
    deadline = time.time() + 30
    while (len(sc.statusTracker().getJobIdsForGroup(group)) < 5
           and time.time() < deadline):
        time.sleep(0.1)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 5


@pytest.mark.slow
def test_cdc_router_facts_and_dims(spark, tmp_path):
    src = str(tmp_path / "cdc_land")
    cdc_df(spark, n=100).coalesce(1).write.parquet(src)
    cfg = tmp_path / "routing.json"
    cfg.write_text(json.dumps({"fact_tables": ["order_info", "order_detail"],
                               "dim_tables": ["user_info", "base_province"]}))
    out = str(tmp_path / "routed")
    ck = str(tmp_path / "ck3")
    stream = file_stream(spark, src, CDC_ENVELOPE_SCHEMA)
    route_cdc_stream(stream, out, ck, str(cfg), trigger_seconds=None).awaitTermination(120)

    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_cdc_dim, read_cdc_facts)

    batch = spark.read.parquet(src)
    kept = batch.filter(F.col("type").isin("insert", "update", "bootstrap-insert"))
    facts = read_cdc_facts(spark, out)
    exp_facts = kept.filter(F.col("table").isin("order_info", "order_detail")).count()
    assert facts.count() == exp_facts
    # dynamic topic names: UPPER(table)_op
    topics = {r["topic"] for r in facts.select("topic").distinct().collect()}
    assert topics <= {"ORDER_INFO_I", "ORDER_INFO_U", "ORDER_DETAIL_I", "ORDER_DETAIL_U"}

    # dim store holds exactly one (latest) row per id
    dim = read_cdc_dim(spark, out, "user_info")
    assert dim.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    # last-write-wins: the stored ts is the max ts per id
    src_latest = (kept.filter(F.col("table") == "user_info")
                  .groupBy(F.col("data")["id"].alias("id"))
                  .agg(F.max("ts").alias("max_ts")))
    joined = dim.join(src_latest, "id").filter(F.col("ts") != F.col("max_ts"))
    assert joined.count() == 0


def test_dim_upsert_lww_across_batches(spark, tmp_path):
    """E3 determinism: two successive update batches end in the newest
    value per key regardless of batch internal order."""
    table_dir = str(tmp_path / "dim_t")
    b1 = spark.createDataFrame(
        [("1", "alice", 100), ("2", "bob", 100)], "id string, name string, ts long")
    b2 = spark.createDataFrame(
        [("1", "alice2", 200), ("3", "carol", 150), ("1", "alice3", 50)],
        "id string, name string, ts long")
    upsert_dim_parquet(b1, table_dir, ["id"], "ts")
    upsert_dim_parquet(b2, table_dir, ["id"], "ts")
    got = {r["id"]: (r["name"], r["ts"]) for r in spark.read.parquet(table_dir).collect()}
    assert got == {"1": ("alice2", 200), "2": ("bob", 100), "3": ("carol", 150)}


@pytest.mark.slow
def test_windowed_stream_matches_batch(spark, tmp_path):
    """Tumbling window over a file stream == batch groupBy on the same
    data (the §5.1 batch-first verification contract)."""
    from sparkstreamingproject_spark.streaming.windows import tumbling_counts
    src = str(tmp_path / "ev_land")
    rows = [(i, 1_700_000_000_000_000 + i * 60_000_000, f"u{i % 5}") for i in range(240)]
    df = spark.createDataFrame(rows, "event_id long, ts_us long, user string") \
        .select("event_id", F.timestamp_micros("ts_us").alias("ts"), "user")
    df.coalesce(1).write.parquet(src)

    stream = file_stream(spark, src, df.schema)
    out = str(tmp_path / "win_out")
    ck = str(tmp_path / "ck4")
    q = (tumbling_counts(stream, "ts", "1 hour", "1 hour")
         .writeStream.format("parquet").outputMode("append")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = (spark.read.parquet(src)
             .groupBy(F.window("ts", "1 hour").alias("w"))
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("window_start"), "n"))
    # append mode only emits windows closed by the watermark; every
    # emitted window must match the batch result exactly
    diff = got.join(batch, ["window_start"]).filter("got_n != n") \
        if "got_n" in got.columns else got.alias("g").join(
            batch.alias("b"), "window_start").filter(F.col("g.n") != F.col("b.n"))
    assert diff.count() == 0
    # append mode withholds windows not yet closed by the watermark
    # (watermark = max event time - 1h ⇒ up to 2 open windows withheld)
    assert got.count() >= batch.count() - 2
    assert got.count() >= 1


def test_idempotent_foreach_batch_skips_replay(spark, tmp_path):
    """Replaying a committed batch_id must not double-write; an
    uncommitted batch_id must write."""
    from sparkstreamingproject_spark.streaming.idempotent import (
        idempotent_foreach_batch,
    )
    out = str(tmp_path / "sink")
    markers = str(tmp_path / "markers")
    writes = []

    def write(batch_df, batch_id):
        writes.append(batch_id)
        batch_df.write.mode("append").parquet(out)

    wrapped = idempotent_foreach_batch(write, markers)
    df = spark.range(100)
    wrapped(df, 0)          # first attempt: writes
    wrapped(df, 0)          # crash-replay of committed batch: skipped
    wrapped(df, 1)          # next batch: writes
    assert writes == [0, 1]
    assert spark.read.parquet(out).count() == 200


@pytest.mark.slow
def test_dedup_ingest_stream_invariants(spark, tmp_path):
    """Streaming corpus ingest with cross-batch dedup
    (streaming/dedup_ingest.py): after two micro-batches, the corpus
    holds no two docs sharing a content hash OR a MinHash band key, and
    every dropped doc collides with something in the corpus (or lost an
    in-batch canonical race). Replaying the stream adds nothing."""
    from sparkstreamingproject_spark.llm.dedup import band_keys
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dedup_ingest import (
        dedup_ingest_stream)

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows1 = [(1, base), (2, base),                       # exact dup in-batch
             (3, "completely different content one two three four five")]
    rows2 = [(10, base),                                 # cross-batch exact
             (11, base.replace("dog", "cat")),           # cross-batch near
             (12, "novel second batch text with fresh vocabulary entirely")]
    src = str(tmp_path / "docs_land")
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    idx, corpus, ck = (str(tmp_path / "idx"), str(tmp_path / "corpus"),
                       str(tmp_path / "ckd2"))
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    st = StructType([StructField("doc_id", LongType()),
                     StructField("text", StringType())])
    dedup_ingest_stream(file_stream(spark, src, st), idx, corpus,
                        ck).awaitTermination(120)

    got = spark.read.parquet(corpus)
    ids = {r["doc_id"] for r in got.collect()}
    assert 3 in ids and 12 in ids, "novel docs must survive"
    assert ids & {1, 2}, "one of the in-batch exact dups must survive"
    assert 10 not in ids, "cross-batch exact dup survived"
    assert 11 not in ids, "cross-batch near dup survived"
    # invariant: unique content hashes and unique band keys
    from pyspark.sql import functions as F
    assert (got.groupBy(F.md5("text")).count()
            .filter("count > 1").count()) == 0
    assert (band_keys(got).groupBy("band", "key").count()
            .filter("count > 1").count()) == 0

    # replay with same checkpoint: no growth
    n1 = got.count()
    dedup_ingest_stream(file_stream(spark, src, st), idx, corpus,
                        ck).awaitTermination(120)
    assert spark.read.parquet(corpus).count() == n1


@pytest.mark.slow
def test_dedup_within_watermark_stream_matches_batch(spark, tmp_path):
    """Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
    == batch dropDuplicates on the key, when all duplicate pairs arrive
    within the watermark delay — including dups split ACROSS micro-batches
    (maxFilesPerTrigger=1 forces two batches, so the second batch's dups
    are dropped by store state, not in-batch collapse)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dedup_ingest import (
        dedup_within_watermark_stream)

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    rows1 = [(1, "alpha", t0), (2, "beta", t0 + sec),
             (3, "alpha", t0 + 2 * sec)]          # in-batch dup of 1
    rows2 = [(4, "alpha", t0 + 3 * sec),          # cross-batch dup of 1
             (5, "gamma", t0 + 4 * sec),
             (6, "beta", t0 + 5 * sec)]           # cross-batch dup of 2
    st = StructType([StructField("doc_id", LongType()),
                     StructField("h", StringType()),
                     StructField("ts", TimestampType())])
    src = str(tmp_path / "wm_land")
    spark.createDataFrame(rows1, st).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, st).coalesce(1).write.mode("append").parquet(src)

    out, ck = str(tmp_path / "wm_out"), str(tmp_path / "wm_ck")
    stream = file_stream(spark, src, st, max_files_per_trigger=1)
    dedup_within_watermark_stream(stream, out, ck).awaitTermination(120)

    got = spark.read.parquet(out)
    keys = [r["h"] for r in got.collect()]
    assert sorted(keys) == ["alpha", "beta", "gamma"], keys
    # matches the batch form on the same landing data
    batch = spark.read.parquet(src).dropDuplicates(["h"])
    assert got.count() == batch.count() == 3

    # replay with the same checkpoint: no new output
    dedup_within_watermark_stream(
        file_stream(spark, src, st, max_files_per_trigger=1),
        out, ck).awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_scd2_upsert_matches_batch_with_late_data(spark, tmp_path):
    """Streaming SCD2 maintenance == one-shot batch scd2_history: a
    late change lands mid-history and repairs neighbor intervals, and
    at-least-once redelivery is idempotent."""
    from sparkstreamingproject_spark.operators.temporal import scd2_history
    from sparkstreamingproject_spark.streaming.dim_upsert import upsert_scd2_parquet

    def mk(rows):
        return (spark.createDataFrame(rows, "uid long, ts_us long, attr string")
                .select("uid", F.timestamp_micros("ts_us").alias("ts"), "attr"))

    t0 = 1_700_000_000_000_000
    b1 = [(1, t0 + 10_000_000, "a"), (1, t0 + 30_000_000, "c"),
          (2, t0 + 5_000_000, "x")]
    b2 = [(1, t0 + 20_000_000, "b"),       # late: lands between a and c
          (1, t0 + 10_000_000, "a"),       # redelivered duplicate
          (3, t0 + 1_000_000, "z"),        # new key
          (2, t0 + 50_000_000, "y")]
    d = str(tmp_path / "scd2_dim")
    upsert_scd2_parquet(mk(b1), d, "uid", "ts", ["attr"])
    upsert_scd2_parquet(mk(b2), d, "uid", "ts", ["attr"])
    got = spark.read.parquet(d)

    allrows = mk(b1).unionByName(mk(b2)).dropDuplicates(["uid", "ts", "attr"])
    want = scd2_history(allrows, "uid", "ts", ["attr"])
    assert sorted(map(tuple, got.select(*want.columns).collect())) \
        == sorted(map(tuple, want.collect()))

    u1 = sorted((r["attr"], r["valid_from_us"], r["valid_to_us"])
                for r in got.filter("uid = 1").collect())
    assert [a for a, _, _ in u1] == ["a", "b", "c"]
    # intervals tile: a's end == b's start, b's end == c's start
    assert u1[0][2] == u1[1][1] and u1[1][2] == u1[2][1]


@pytest.mark.slow
def test_scd2_stream_wrapper_drains_landing(spark, tmp_path):
    """foreachBatch wrapper: two landing files drained through one
    checkpoint leave the same history as the batch rebuild."""
    from sparkstreamingproject_spark.operators.temporal import scd2_history
    from sparkstreamingproject_spark.streaming.dim_upsert import scd2_stream

    rows = [(i % 4, 1_700_000_000_000_000 + i * 7_000_000, f"v{i}")
            for i in range(40)]
    df = (spark.createDataFrame(rows, "uid long, ts_us long, attr string")
          .select("uid", F.timestamp_micros("ts_us").alias("ts"), "attr"))
    land = str(tmp_path / "scd2_land")
    first, second = df.filter("uid != 0"), df.filter("uid = 0")
    first.coalesce(1).write.mode("append").parquet(land)
    d, ck = str(tmp_path / "scd2_tab"), str(tmp_path / "scd2_ck")
    scd2_stream(file_stream(spark, land, df.schema), d, ck,
                "uid", "ts", ["attr"]).awaitTermination(120)
    second.coalesce(1).write.mode("append").parquet(land)
    scd2_stream(file_stream(spark, land, df.schema), d, ck,
                "uid", "ts", ["attr"]).awaitTermination(120)
    got = spark.read.parquet(d)
    want = scd2_history(df, "uid", "ts", ["attr"])
    assert sorted(map(tuple, got.select(*want.columns).collect())) \
        == sorted(map(tuple, want.collect()))


@pytest.mark.slow
def test_anomaly_stream_matches_batch(spark, tmp_path):
    """Streaming daily z-score anomalies == the batch composition
    (daily counts → broadcast baseline join → flag) on the same data;
    append mode may withhold only watermark-open windows."""
    from sparkstreamingproject_spark.streaming.anomaly import (
        US_PER_DAY, anomaly_stream, daily_count_baseline, zscore_flags,
    )
    src = str(tmp_path / "anom_land")
    # 10 days × varying volume: day 7 is a 5x spike
    rows = []
    eid = 0
    for day in range(10):
        per_day = 200 if day == 7 else 40
        for i in range(per_day):
            rows.append((eid, day * US_PER_DAY + i * 1_000_000,
                         "click" if i % 2 else "view"))
            eid += 1
    df = (spark.createDataFrame(rows, "event_id long, us long, event_type string")
          .select("event_id", F.timestamp_micros("us").alias("ts"), "event_type"))
    df.coalesce(2).write.parquet(src)

    hist = spark.read.parquet(src)
    baseline = daily_count_baseline(hist)

    stream = file_stream(spark, src, hist.schema)
    out = str(tmp_path / "anom_out")
    ck = str(tmp_path / "anom_ck")
    q = (anomaly_stream(stream, baseline)
         .writeStream.format("parquet").outputMode("append")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["event_type"], r["day"]): (r["n"], r["z"], r["is_anomaly"])
           for r in spark.read.parquet(out).collect()}
    daily = (hist.groupBy("event_type",
                          F.floor(F.unix_micros("ts") / US_PER_DAY)
                          .cast("long").alias("day"))
             .agg(F.count("*").alias("n")))
    want = {(r["event_type"], r["day"]): (r["n"], r["z"], r["is_anomaly"])
            for r in zscore_flags(daily, baseline).collect()}
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert want[k] == v, f"{k}: stream={v} batch={want[k]}"
    # the spike day must be flagged wherever the stream emitted it
    spikes = [k for k, v in got.items() if v[2]]
    assert all(k[1] == 7 for k in spikes)
    # append mode withholds up to 2 watermark-open trailing days per key
    assert len(got) >= len(want) - 4


@pytest.mark.slow
def test_rollup_maintenance_stream_equals_batch(spark, tmp_path, sf_dir):
    """Streaming incremental rollup (foreachBatch additive MERGE) must
    equal the direct batch rollup over all data, with each file
    arriving as its own micro-batch."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.streaming.rollup_maintain import (
        maintain_rollup_stream,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    land = str(tmp_path / "orders_land")
    # split into 3 landing files -> 3 micro-batches
    (orders.withColumn(
        "_b", F.ntile(3).over(W.orderBy("o_orderkey")))
     .repartition(3, "_b").drop("_b")
     .write.parquet(land))

    from sparkstreamingproject_spark.sources.streams import file_stream
    stream = file_stream(spark, land, orders.schema,
                         max_files_per_trigger=1)
    rollup = str(tmp_path / "rollup")
    q = maintain_rollup_stream(stream, rollup,
                               str(tmp_path / "ck_rollup"))
    q.awaitTermination(180)

    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    got = {r.day: (r.cents, r.n)
           for r in read_state(spark, rollup).collect()}
    exp = {r.day: (r.cents, r.n)
           for r in orders.groupBy(F.to_date("o_orderdate").alias("day"))
           .agg(F.sum(F.expr(
               "CAST(round(o_totalprice * 100) AS BIGINT)"))
               .alias("cents"), F.count("*").alias("n")).collect()}
    assert got == exp


@pytest.mark.slow
def test_hll_rollup_stream_equals_batch(spark, tmp_path, sf_dir):
    """Streaming HLL register maintenance (foreachBatch MAX-merge)
    must produce byte-identical registers — and therefore identical
    distinct estimates — to a direct batch sketch over all events,
    with files arriving as separate micro-batches. Max-merge is
    idempotent, so this holds even under replay."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.streaming.hll_maintain import (
        day_user_registers, estimate_daily_distinct, hll_rollup_stream)

    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    land = str(tmp_path / "events_land")
    (events.withColumn("_b", F.ntile(3).over(W.orderBy("user_id", "ts")))
     .repartition(3, "_b").drop("_b").write.parquet(land))

    from sparkstreamingproject_spark.sources.streams import file_stream
    stream = file_stream(spark, land, events.schema,
                         max_files_per_trigger=1)
    regs_dir = str(tmp_path / "hll_regs")
    q = hll_rollup_stream(stream, regs_dir, str(tmp_path / "ck_hll"))
    q.awaitTermination(180)

    maintained = spark.read.parquet(regs_dir)
    direct = day_user_registers(events)
    got = {(r.day, r.bucket): r.m for r in maintained.collect()}
    exp = {(r.day, r.bucket): r.m for r in direct.collect()}
    assert got == exp  # registers byte-identical, not just estimates

    est = {r.day: r.hll_est
           for r in estimate_daily_distinct(maintained).collect()}
    exact = {r.day: r.n for r in
             events.groupBy((F.unix_micros("ts") / 86_400_000_000)
                            .cast("long").alias("day"))
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for day, n in exact.items():
        # linear-counting regime at this SF: tight relative error
        assert abs(est[day] - n) <= max(0.2 * n, 3), (day, est[day], n)


@pytest.mark.slow
def test_dedup_ingest_stream_index_equals_batch_over_three_batches(
        spark, tmp_path):
    """VERDICT r05 §next 7: the streaming band-key index maintenance
    IS the batch operator applied per micro-batch — so over the same
    three chunks, (a) the stream (maxFilesPerTrigger=1, three
    micro-batches) and a sequential batch loop of ``ingest_batch``
    must produce IDENTICAL corpus, content-hash index, and band-key
    index relations, and (b) the incrementally-maintained band index
    must equal ``band_keys`` recomputed from scratch over the final
    corpus — the self-consistency that makes the persisted index
    probe-able by ``curation.incremental_dedup`` without rebuilds."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from sparkstreamingproject_spark.llm.dedup import band_keys
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dedup_ingest import (
        dedup_ingest_stream, ingest_batch)

    base = "the quick brown fox jumps over the lazy dog again and again"
    chunks = [
        [(1, base),
         (2, "completely different content one two three four five")],
        [(10, base),                                  # cross-batch exact
         (11, base.replace("dog", "cat")),            # cross-batch near
         (12, "novel second batch text with fresh vocabulary entirely")],
        [(20, base.replace("quick", "swift")),        # near dup of 1
         (21, "third wave document carrying yet more unseen tokens"),
         (21, "third wave document carrying yet more unseen tokens")],
    ]
    schema = "doc_id long, text string"
    st = StructType([StructField("doc_id", LongType()),
                     StructField("text", StringType())])

    # land each chunk as exactly one file → one micro-batch each.
    # FileStreamSource orders new files by modification time; pin each
    # chunk's mtime strictly increasing so an mtime tie can never flip
    # micro-batch order (chunk order decides WHICH near-dup id wins).
    src = str(tmp_path / "land3")
    for i, rows in enumerate(chunks):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (1_700_000_000 + i,
                                                1_700_000_000 + i))
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files == 3

    idx_s, corp_s, ck = (str(tmp_path / "idx_s"), str(tmp_path / "corp_s"),
                         str(tmp_path / "ck3"))
    dedup_ingest_stream(
        file_stream(spark, src, st, max_files_per_trigger=1),
        idx_s, corp_s, ck).awaitTermination(180)

    # sequential batch loop over the same chunks
    idx_b, corp_b = str(tmp_path / "idx_b"), str(tmp_path / "corp_b")
    for rows in chunks:
        ingest_batch(spark.createDataFrame(rows, schema), idx_b, corp_b)

    def rows_of(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    corpus_s = spark.read.parquet(corp_s)
    corpus_b = spark.read.parquet(corp_b)
    assert rows_of(corpus_s, ["doc_id", "text"]) == \
        rows_of(corpus_b, ["doc_id", "text"])
    # ADVICE r06: chunk 3 replays doc 21 identically (same id AND
    # text) inside ONE micro-batch — exactly what an at-least-once
    # source does. Symmetric stream≡batch equality can't see a dup
    # present on BOTH sides, so pin multiplicity-level uniqueness too.
    for corp in (corpus_s, corpus_b):
        rows = rows_of(corp, ["doc_id", "text"])
        assert len(rows) == len(set(rows)), "identical replayed row ingested twice"
    assert rows_of(spark.read.parquet(f"{idx_s}/content_hash"), ["h"]) == \
        rows_of(spark.read.parquet(f"{idx_b}/content_hash"), ["h"])
    got_bands = spark.read.parquet(f"{idx_s}/bands")
    cols = ["doc_id", "band", "key"]
    assert rows_of(got_bands, cols) == \
        rows_of(spark.read.parquet(f"{idx_b}/bands"), cols)

    # incremental index == from-scratch batch index over the corpus
    assert rows_of(got_bands, cols) == rows_of(band_keys(corpus_s), cols)
    # and the cross-batch near-dups were actually exercised
    ids = {r["doc_id"] for r in corpus_s.collect()}
    assert 10 not in ids and 11 not in ids and 20 not in ids
    assert {1, 2, 12, 21} <= ids


@pytest.mark.smoke
def test_manifest_crash_before_commit_preserves_rollup_state(
        spark, tmp_path, monkeypatch):
    """The r12 manifest-last upgrade of the r06 swap-crash drill: the
    new state VERSION is fully written but the process dies before the
    manifest replace (the exact window where the old marker protocol
    double-counted). The manifest still names the pre-merge version,
    so the crashed merge is INVISIBLE (asserted, not just survivable),
    the replayed batch re-folds the pre-merge state exactly once, and
    the only debris — the orphan version dir — is GC'd by the retry's
    commit."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.rollup_maintain import merge_rollup

    table = str(tmp_path / "rollup")
    sch = "o_orderdate string, o_totalprice double"
    b1 = spark.createDataFrame(
        [("1995-01-01", 10.0), ("1995-01-02", 5.0)], sch)
    b2 = spark.createDataFrame([("1995-01-01", 2.5)], sch)
    merge_rollup(b1, table, batch_id=0)

    real_replace = _os.replace
    calls = {"n": 0}

    def crashing(src, dst):
        calls["n"] += 1
        raise OSError("injected crash before manifest commit")

    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        merge_rollup(b2, table, batch_id=1)
    monkeypatch.setattr(manifest_commit.os, "replace", real_replace)
    assert calls["n"] == 1

    # the crashed merge must be invisible: watermark and state are
    # exactly the pre-merge commit
    assert manifest_commit.manifest_info(table)[1] == 0
    got = {str(r.day): (r.cents, r.n)
           for r in read_state(spark, table).collect()}
    assert got == {"1995-01-01": (1000, 1), "1995-01-02": (500, 1)}

    # foreachBatch replay of the uncommitted batch (same data)
    merge_rollup(b2, table, batch_id=1)
    got = {str(r.day): (r.cents, r.n)
           for r in read_state(spark, table).collect()}
    assert got == {"1995-01-01": (1250, 2), "1995-01-02": (500, 1)}
    # exactly the committed version + its manifest-recorded PREDECESSOR
    # remain (the one-commit grace window for lazy readers, ADVICE
    # r12) — the orphan from the crashed attempt was GC'd by the
    # retry's commit
    import json as _json
    with open(str(tmp_path / "rollup.manifest")) as f:
        m = _json.load(f)
    left = sorted(d for d in _os.listdir(str(tmp_path))
                  if d.startswith("rollup."))
    vdirs = sorted(d for d in left if ".v-" in d)
    assert vdirs == sorted([f"rollup.v-{m['version']}",
                            f"rollup.v-{m['prev']}"]), left
    assert "rollup.manifest" in left, left


def test_swap_in_recovery_adopts_orphans_for_dim_upsert(
        spark, tmp_path, monkeypatch):
    """Same crash window through the dim-LWW caller, plus tmp/old
    debris cleanup: a stale .tmp from a crashed write and a leftover
    .old from a completed swap are both removed, and the .old of an
    interrupted swap is adopted as the table."""
    import os as _os
    import shutil as _shutil

    from sparkstreamingproject_spark.streaming import statestore

    table = str(tmp_path / "dim")
    sch = "k long, v string, ver long"
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], sch)
    b2 = spark.createDataFrame([(1, "a2", 2), (3, "c", 1)], sch)
    upsert_dim_parquet(b1, table, ["k"], "ver")

    # stale tmp from a write that died mid-flight → cleaned on read
    _os.makedirs(table + ".tmp-deadbeef")
    assert statestore.table_exists(table)
    assert not _os.path.isdir(table + ".tmp-deadbeef")

    real_rename = _os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected")
        real_rename(src, dst)

    monkeypatch.setattr(statestore.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        upsert_dim_parquet(b2, table, ["k"], "ver")
    monkeypatch.setattr(statestore.os, "rename", real_rename)
    assert not _os.path.isdir(table)

    upsert_dim_parquet(b2, table, ["k"], "ver")  # replay
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}

    # a leftover .old of a COMPLETED swap (crash after rename-in,
    # before the delete) must be discarded, never adopted over the
    # newer table
    _shutil.copytree(table, table + ".old-feedface")
    upsert_dim_parquet(
        spark.createDataFrame([(2, "b2", 2)], sch), table, ["k"], "ver")
    assert not _os.path.isdir(table + ".old-feedface")
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a2", 2), 2: ("b2", 2), 3: ("c", 1)}


def test_dedup_ingest_batch_retry_is_idempotent(spark, tmp_path):
    """ADVICE r06: with a batch_id, ingest_batch must converge under
    retry after ANY prefix of its three writes landed — the retry's
    index reads exclude the batch's own partitions, so it recomputes
    the identical survivor set and overwrites in place. Simulate the
    worst prefix (hash index committed, corpus + bands lost): the old
    append path would anti-join the in-flight docs away forever."""
    from sparkstreamingproject_spark.streaming.dedup_ingest import ingest_batch

    idx, corp = str(tmp_path / "idx"), str(tmp_path / "corp")
    sch = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely different content one two three four five")], sch)
    b1 = spark.createDataFrame(
        [(10, "novel second batch text with fresh vocabulary entirely")], sch)
    ingest_batch(b0, idx, corp, batch_id=0)

    # crashed attempt of batch 1: ONLY the hash index write survived
    (b1.withColumn("h", F.md5("text")).select("h")
     .write.mode("overwrite").parquet(f"{idx}/content_hash/ingest_batch=1"))

    ingest_batch(b1, idx, corp, batch_id=1)  # streaming retry

    corpus = spark.read.parquet(corp)
    ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert ids == [1, 2, 10], "retry lost or duplicated the in-flight doc"
    # index is exactly the from-scratch index of the final corpus
    from sparkstreamingproject_spark.llm.dedup import band_keys
    got_b = sorted(map(tuple, spark.read.parquet(f"{idx}/bands")
                       .select("doc_id", "band", "key").collect()))
    exp_b = sorted(map(tuple, band_keys(corpus).select(
        "doc_id", "band", "key").collect()))
    assert got_b == exp_b
    n_h = spark.read.parquet(f"{idx}/content_hash").select("h").distinct().count()
    assert spark.read.parquet(f"{idx}/content_hash").count() == 3 == n_h


def test_swap_in_crash_recovery_hll_and_scd2(spark, tmp_path, monkeypatch):
    """Generalize the crash-window coverage across the remaining two
    _swap_in callers (VERDICT r06 §next 6a): HLL register max-merge
    and SCD2 history rebuild both survive a crash injected between the
    rename-aside and rename-in, replay included."""
    import os as _os

    from sparkstreamingproject_spark.streaming import statestore
    from sparkstreamingproject_spark.streaming.dim_upsert import (
        upsert_scd2_parquet)
    from sparkstreamingproject_spark.streaming.hll_maintain import (
        day_user_registers, merge_hll_registers)

    def crash_second_rename():
        real = _os.rename
        calls = {"n": 0}

        def flaky(src, dst):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected")
            real(src, dst)
        return flaky, real

    # --- HLL registers ---
    from datetime import datetime, timezone
    hll = str(tmp_path / "hll")
    sch = "user_id long, ts timestamp"
    t1 = datetime(2024, 1, 1, 10, tzinfo=timezone.utc)
    t2 = datetime(2024, 1, 2, 10, tzinfo=timezone.utc)
    b1 = spark.createDataFrame([(i, t1) for i in range(40)], sch)
    b2 = spark.createDataFrame([(i, t2) for i in range(20, 60)], sch)
    merge_hll_registers(b1, hll)
    flaky, real = crash_second_rename()
    monkeypatch.setattr(statestore.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        merge_hll_registers(b2, hll)
    monkeypatch.setattr(statestore.os, "rename", real)
    assert not _os.path.isdir(hll)
    merge_hll_registers(b2, hll)  # replay
    got = {(r.day, r.bucket): r.m
           for r in spark.read.parquet(hll).collect()}
    exp = {(r.day, r.bucket): r.m
           for r in day_user_registers(b1.unionByName(b2)).collect()}
    assert got == exp  # registers byte-identical to batch recompute

    # --- SCD2 history ---
    scd = str(tmp_path / "scd2")
    csch = "k long, ts timestamp, v string"
    d1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    d2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
    c1 = spark.createDataFrame([(1, d1, "a"), (2, d1, "x")], csch)
    c2 = spark.createDataFrame([(1, d2, "b")], csch)
    upsert_scd2_parquet(c1, scd, "k", "ts", ["v"])
    flaky, real = crash_second_rename()
    monkeypatch.setattr(statestore.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        upsert_scd2_parquet(c2, scd, "k", "ts", ["v"])
    monkeypatch.setattr(statestore.os, "rename", real)
    assert not _os.path.isdir(scd)
    upsert_scd2_parquet(c2, scd, "k", "ts", ["v"])  # replay
    hist = spark.read.parquet(scd)
    rows = {(r.k, r.v): (r.valid_from_us, r.valid_to_us)
            for r in hist.collect()}
    # key 1 has two tiled versions; key 2 (untouched by batch 2) survived
    assert set(rows) == {(1, "a"), (1, "b"), (2, "x")}
    assert rows[(1, "a")][1] == rows[(1, "b")][0]  # tiling repaired


def test_rollup_stream_fold_is_batchid_idempotent(spark, tmp_path):
    """The additive rollup fold must not double-count a replayed
    micro-batch: maintain_rollup_stream wraps merge_rollup in the
    manifest watermark, so re-invoking the fold with an
    already-committed batch id is a no-op (the crash-after-checkpoint
    -uncommitted replay scenario)."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch, read_state)
    from sparkstreamingproject_spark.streaming.rollup_maintain import (
        merge_rollup)

    table = str(tmp_path / "rollup")
    fold = manifest_foreach_batch(
        lambda b, i: merge_rollup(b, table, i), table)
    b = spark.createDataFrame([("1995-01-01", 10.0)],
                              "o_orderdate string, o_totalprice double")
    fold(b, 0)
    fold(b, 0)  # replay of a fully-committed batch: skipped
    rows = read_state(spark, table).collect()
    assert len(rows) == 1 and (rows[0].cents, rows[0].n) == (1000, 1)
    fold(b, 1)  # a NEW batch id still folds
    rows = read_state(spark, table).collect()
    assert (rows[0].cents, rows[0].n) == (2000, 2)


def test_session_gap_boundary_matches_oracle_semantics(spark):
    """r07 review finding: Spark's session_window MERGES two events
    exactly gap apart; the DuckDB gaps-and-islands oracles must use
    STRICT > (new session only when the gap is exceeded) or the
    engines diverge on exact-gap pairs. Pin both engines on a crafted
    boundary triple: gaps of exactly 3600s (merge) and 3601s (split).
    """
    from datetime import datetime, timezone

    import duckdb

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [(1, t0), (1, datetime(2024, 1, 1, 1, tzinfo=timezone.utc)),
            (1, datetime(2024, 1, 1, 2, 0, 1, tzinfo=timezone.utc))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(r.n for r in df.groupBy(
        F.session_window("ts", "3600 seconds"), "user_id")
        .agg(F.count("*").alias("n")).collect())
    assert got == [1, 2]  # first two merge (exact gap), third splits

    con = duckdb.connect()
    duck = con.sql("""
        WITH v(u, ts) AS (VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00'),
          (1, TIMESTAMP '2024-01-01 01:00:00'),
          (1, TIMESTAMP '2024-01-01 02:00:01')),
        f AS (SELECT u, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 3600 SECOND
                          THEN 1 ELSE 0 END AS ns
              FROM v WINDOW w AS (PARTITION BY u ORDER BY ts)),
        n AS (SELECT u, sum(ns) OVER (PARTITION BY u ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM f)
        SELECT count(*) AS n FROM n GROUP BY u, sid ORDER BY n
    """).fetchall()
    con.close()
    assert [r[0] for r in duck] == got


@pytest.mark.slow
def test_histogram_rollup_stream_equals_batch(spark, tmp_path, sf_dir):
    """The maintained histogram sketch ≡ batch recompute over the same
    events (bin counts are additive), and a replayed batch id does not
    double-fold (marker-guarded like the daily rollup)."""
    from sparkstreamingproject_spark.queries.sketches2 import value_bins
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.histogram_maintain import (
        histogram_rollup_stream, merge_histogram)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch, read_state)

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    land = str(tmp_path / "land")
    events.repartition(3).write.parquet(land)

    table = str(tmp_path / "hist")
    q = histogram_rollup_stream(
        file_stream(spark, land, events.schema, max_files_per_trigger=1),
        table, str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = {(r.bin): r.n for r in read_state(spark, table).collect()}
    exp = {(r.bin): r.n for r in value_bins(events).collect()}
    assert got == exp  # maintained sketch byte-equal to batch recompute

    # replayed batch id is a no-op (watermark after the stream is 2)
    fold = manifest_foreach_batch(
        lambda b, i: merge_histogram(b, table, i), table)
    fold(events.limit(10), 3)
    snap = {(r.bin): r.n for r in read_state(spark, table).collect()}
    fold(events.limit(10), 3)  # replay: skipped
    assert {(r.bin): r.n
            for r in read_state(spark, table).collect()} == snap


@pytest.mark.slow
def test_ivf_ingest_stream_postings_equal_batch_assign(spark, tmp_path,
                                                       sf_dir):
    """Streaming IVF index maintenance ≡ batch ivf_assign against the
    same frozen centroids, over three micro-batches; a crashed
    partial write converges on retry (overwrite-by-batch-id)."""
    import os

    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.ivf_ingest import (
        assign_to_centroids, ingest_embeddings_batch, init_centroids,
        ivf_ingest_stream, read_postings)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    init_centroids(emb, idx)

    # land three disjoint id-range chunks with pinned mtimes
    land = str(tmp_path / "land")
    n = emb.count()
    cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 8)]
    for i, (lo, hi) in enumerate(cuts):
        before = set(os.listdir(land)) if os.path.isdir(land) else set()
        (emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
         .coalesce(1).write.mode("append").parquet(land))
        for f in set(os.listdir(land)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(land, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    ivf_ingest_stream(
        file_stream(spark, land, emb.schema, max_files_per_trigger=1),
        idx, str(tmp_path / "ck")).awaitTermination(180)

    got = sorted((r.vec_id, r.cell) for r in
                 read_postings(spark, idx).select("vec_id", "cell").collect())
    cents = spark.read.parquet(f"{idx}/centroids")
    exp = sorted((r.vec_id, r.cell) for r in
                 assign_to_centroids(emb, cents)
                 .select("vec_id", "cell").collect())
    assert got == exp and len(got) == n

    # crashed attempt of a later batch: partial partition overwritten
    extra = emb.limit(5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    (assign_to_centroids(extra.limit(2), cents)
     .write.partitionBy("cell").mode("overwrite")
     .parquet(f"{idx}/postings/ingest_batch=99"))       # partial prefix
    ingest_embeddings_batch(extra, idx, batch_id=99)    # retry
    after = read_postings(spark, idx).filter(
        F.col("vec_id") >= 1_000_000).count()
    assert after == 5, "retry must replace the partial batch wholesale"

    # probe over the MAINTAINED index == ivf_topk over the full relation
    from sparkstreamingproject_spark.llm.similarity import ivf_topk
    from sparkstreamingproject_spark.streaming.ivf_ingest import (
        probe_postings)
    full = emb.select("vec_id", "embedding").unionByName(extra)
    qset = emb.filter(F.col("vec_id").isin(10, 11, 12))
    got_p = sorted(map(tuple, probe_postings(spark, qset, idx, k=5)
                       .select("query_id", "cand_id", "rank").collect()))
    exp_p = sorted(map(tuple, ivf_topk(full, qset, k=5)
                       .select("query_id", "cand_id", "rank").collect()))
    assert got_p == exp_p


@pytest.mark.slow
def test_sessionize_stream_equals_batch(spark, tmp_path, sf_dir):
    """Incremental sessionization (foreachBatch session-merge fold)
    must equal the events_gap_sessionize batch query over all events,
    with three time-ordered micro-batches — sessions spanning chunk
    boundaries must coalesce across the fold."""
    import os

    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.base import table as qtable
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.sessionize_maintain import (
        maintain_sessions_stream, session_summary)

    ev = (qtable(spark, sf_dir, "events")
          .select("user_id", "event_id", F.unix_micros("ts").alias("us")))
    # split on GLOBAL event-time order (which implies per-user order —
    # the module's ordering contract); one file per chunk, mtimes
    # strictly increasing so FileStreamSource replays them in order
    chunks = ev.withColumn(
        "_b", F.ntile(3).over(W.orderBy("us", "event_id")))
    src = str(tmp_path / "land_sess")
    for i in (1, 2, 3):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        (chunks.filter(F.col("_b") == i).drop("_b").coalesce(1)
         .write.mode("append").parquet(src))
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    state = str(tmp_path / "sess_state")
    q = maintain_sessions_stream(
        file_stream(spark, src, spark.read.parquet(src).schema,
                    max_files_per_trigger=1),
        state, str(tmp_path / "ck_sess"))
    q.awaitTermination(180)

    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    got = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in session_summary(read_state(spark, state)).collect()}
    exp = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in REGISTRY["events_gap_sessionize"]
           .fn(spark, sf_dir).collect()}
    assert got == exp


def test_sessionize_merge_semantics(spark, tmp_path):
    """Pin the session-merge fold algebra on constructed batches:
    coalesce at EXACTLY the gap (strict-> split rule), close past the
    gap, interior batch sessions close immediately, and a
    multi-session batch whose first session absorbs the open one."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.sessionize_maintain import (
        merge_sessions, session_summary)

    MIN = 60_000_000  # one minute in microseconds
    state = str(tmp_path / "sess_st")

    def fold(rows):
        merge_sessions(spark.createDataFrame(
            rows, "user_id long, event_id long, us long"), state)

    def summary():
        return {r.user_id: (r.n_sessions, r.n_events,
                            r.max_session_events)
                for r in session_summary(
                    read_state(spark, state)).collect()}

    # batch 1 — u1: two in-batch sessions (gap 31 min); u2: one session
    fold([(1, 1, 0), (1, 2, 10 * MIN), (1, 3, 41 * MIN),
          (2, 4, 0), (2, 5, 5 * MIN)])
    assert summary() == {1: (2, 3, 2), 2: (1, 2, 2)}

    # batch 2 — u1: gap EXACTLY 30 min from open (71-41) -> coalesce;
    # u2: 95 min gap -> open closes; u3: new user, two sessions
    fold([(1, 6, 71 * MIN), (2, 7, 100 * MIN),
          (3, 8, 0), (3, 9, 100 * MIN)])
    assert summary() == {1: (2, 4, 2), 2: (2, 3, 2), 3: (2, 2, 1)}

    # batch 3 — u1 multi-session batch: first session (101,102) merges
    # into the open (41,71) -> 4-event closed session; interior (200)
    # closes; (300) becomes the open session
    fold([(1, 10, 101 * MIN), (1, 11, 102 * MIN),
          (1, 12, 200 * MIN), (1, 13, 300 * MIN)])
    assert summary()[1] == (4, 8, 4)


def test_sessionize_fold_is_batchid_idempotent(spark, tmp_path):
    """A replayed fully-committed micro-batch must not re-close or
    re-count sessions: committed batch ids skip against the manifest
    watermark."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch, read_state)
    from sparkstreamingproject_spark.streaming.sessionize_maintain import (
        merge_sessions, session_summary)

    MIN = 60_000_000
    table = str(tmp_path / "sess_idem")
    fold = manifest_foreach_batch(
        lambda b, i: merge_sessions(b, table, batch_id=i), table)
    b = spark.createDataFrame([(1, 1, 0), (1, 2, 10 * MIN)],
                              "user_id long, event_id long, us long")
    fold(b, 0)
    fold(b, 0)  # replay of a committed batch id: skipped
    got = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in session_summary(read_state(spark, table)).collect()}
    assert got == {1: (1, 2, 2)}
    # a NEW batch id past the gap closes the open session
    fold(spark.createDataFrame([(1, 3, 100 * MIN)],
                               "user_id long, event_id long, us long"), 1)
    got = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in session_summary(read_state(spark, table)).collect()}
    assert got == {1: (2, 3, 2)}


def test_sessionize_fold_empty_batch_is_noop(spark, tmp_path):
    """Empty micro-batches are routine (trigger with no new files);
    the session fold must leave state untouched."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.sessionize_maintain import (
        merge_sessions, session_summary)

    MIN = 60_000_000
    table = str(tmp_path / "sess_empty")
    schema = "user_id long, event_id long, us long"
    merge_sessions(spark.createDataFrame(
        [(1, 1, 0), (1, 2, 50 * MIN)], schema), table)
    before = sorted(map(tuple, read_state(spark, table).collect()))
    merge_sessions(spark.createDataFrame([], schema), table)
    after = sorted(map(tuple, read_state(spark, table).collect()))
    assert before == after
    got = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in session_summary(read_state(spark, table)).collect()}
    assert got == {1: (2, 2, 1)}


@pytest.mark.slow
def test_progress_recorder_captures_batches(spark, tmp_path):
    """StreamingQueryListener observability: the recorder must see
    every micro-batch with its input-row count, the health report must
    reconcile with the data actually processed, and lag_alerts must
    flag exactly the over-budget batches."""
    import os
    import time

    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.monitor import (
        ProgressRecorder, health_report, lag_alerts)

    src = str(tmp_path / "mon_land")
    for i in range(2):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        (spark.createDataFrame([(j, f"r{j}") for j in range(50)],
                               "id long, s string").coalesce(1)
         .write.mode("append").parquet(src))
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    jsonl = str(tmp_path / "progress.jsonl")
    rec = ProgressRecorder(jsonl_path=jsonl)
    spark.streams.addListener(rec)
    try:
        q = (file_stream(spark, src, spark.read.parquet(src).schema,
                         max_files_per_trigger=1)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ck_mon"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        # listener events arrive on the async event bus — poll briefly
        deadline = time.time() + 30
        while time.time() < deadline:
            if sum(r["num_input_rows"] for r in rec.rows()) >= 100:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    rows = rec.rows()
    assert sum(r["num_input_rows"] for r in rows) == 100
    assert len([r for r in rows if r["num_input_rows"] > 0]) == 2

    rep = health_report(rows)
    assert rep["n_batches"] == len(rows)
    assert rep["total_input_rows"] == 100
    assert rep["max_batch_duration_ms"] >= rep["p50_batch_duration_ms"]

    # every batch beats an absurd budget; none beats an impossible one
    assert lag_alerts(rows, max_batch_ms=10_000_000) == []
    assert {a["batch_id"] for a in
            lag_alerts(rows, max_batch_ms=-1)} == \
        {r["batch_id"] for r in rows}

    # the JSONL post-mortem trail carries the same rows
    import json as _json
    with open(jsonl) as f:
        disk = [_json.loads(line) for line in f]
    assert sum(r["num_input_rows"] for r in disk) == 100


def test_compaction_preserves_ingest_semantics(spark, tmp_path):
    """Folding committed ingest_batch partitions into the consolidated
    partition must change ONLY the file layout: the corpus and index
    relations stay content-identical to an uncompacted control run,
    later batches ingest identically, a replayed kept-tail batch still
    converges, and the parquet file count actually drops."""
    import os

    from sparkstreamingproject_spark.streaming.compaction import (
        compact_batched_output)
    from sparkstreamingproject_spark.streaming.dedup_ingest import (
        ingest_batch)

    base = "the quick brown fox jumps over the lazy dog again and again"
    chunks = [
        [(1, base), (2, "completely different content one two three")],
        [(10, base), (11, "novel second batch text fresh vocabulary")],
        [(20, base.replace("quick", "swift")),
         (21, "third wave carrying yet more unseen tokens")],
    ]
    schema = "doc_id long, text string"

    def run(tag, compact_after=None):
        idx = str(tmp_path / f"idx_{tag}")
        corp = str(tmp_path / f"corp_{tag}")
        for bid, rows in enumerate(chunks):
            ingest_batch(spark.createDataFrame(rows, schema), idx, corp,
                         batch_id=bid)
            if compact_after is not None and bid == compact_after:
                for d in (corp, f"{idx}/content_hash", f"{idx}/bands"):
                    stats = compact_batched_output(spark, d, keep_last=1)
                    assert stats["folded"] >= 1
        return idx, corp

    idx_a, corp_a = run("a")                      # control
    idx_b, corp_b = run("b", compact_after=1)     # compact mid-stream

    def content(path, cols):
        return sorted(tuple(r) for r in
                      spark.read.parquet(path).select(*cols).collect())

    assert content(corp_a, ["doc_id", "text"]) == \
        content(corp_b, ["doc_id", "text"])
    assert content(f"{idx_a}/content_hash", ["h"]) == \
        content(f"{idx_b}/content_hash", ["h"])
    assert content(f"{idx_a}/bands", ["doc_id", "band", "key"]) == \
        content(f"{idx_b}/bands", ["doc_id", "band", "key"])

    def n_files(path):
        return sum(1 for root, _d, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet"))

    # batches 0-1 of the hash index folded to target_files=1 (+ the
    # kept batch-1? no: keep_last=1 kept batch 1; batch 0 folded; batch
    # 2 landed after) — layout must not have MORE files than control
    assert n_files(f"{idx_b}/content_hash") <= n_files(f"{idx_a}/content_hash")

    # replay the kept tail batch id on the compacted run: overwrite-in-
    # place semantics must still converge to the same content
    ingest_batch(spark.createDataFrame(chunks[2], schema), idx_b, corp_b,
                 batch_id=2)
    assert content(corp_b, ["doc_id", "text"]) == \
        content(corp_a, ["doc_id", "text"])
    assert content(f"{idx_b}/bands", ["doc_id", "band", "key"]) == \
        content(f"{idx_a}/bands", ["doc_id", "band", "key"])

    # compacting everything (keep_last=0) twice is idempotent
    st1 = compact_batched_output(spark, corp_b, keep_last=0)
    st2 = compact_batched_output(spark, corp_b, keep_last=0)
    assert st1["rows"] == st2["rows"]
    assert st2["folded"] == 0
    assert content(corp_b, ["doc_id", "text"]) == \
        content(corp_a, ["doc_id", "text"])
    assert n_files(corp_b) == 1


def test_compaction_preserves_ivf_postings_and_cell_layout(spark, tmp_path):
    """Compacting the IVF posting lists must preserve (a) the probe
    results exactly and (b) the nested cell= partition dirs that probe
    pruning reads — sub_partition_by carries the layout through the
    swap."""
    import os
    import random

    from sparkstreamingproject_spark.streaming.compaction import (
        compact_batched_output)
    from sparkstreamingproject_spark.streaming.ivf_ingest import (
        ingest_embeddings_batch, init_centroids, probe_postings,
        read_postings)

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(30)]
    schema = "vec_id long, embedding array<float>"
    full = spark.createDataFrame(vecs, schema)

    def build(tag, compact):
        idx = str(tmp_path / f"ivf_{tag}")
        init_centroids(full, idx)
        for bid in range(3):
            ingest_embeddings_batch(
                spark.createDataFrame(vecs[bid * 10:(bid + 1) * 10],
                                      schema), idx, batch_id=bid)
            if compact and bid == 1:
                st = compact_batched_output(
                    spark, f"{idx}/postings", keep_last=1,
                    sub_partition_by=["cell"])
                assert st["folded"] >= 1
        return idx

    idx_a = build("a", compact=False)
    idx_b = build("b", compact=True)

    def postings(idx):
        return sorted((r.vec_id, r.cell) for r in
                      read_postings(spark, idx).collect())

    assert postings(idx_a) == postings(idx_b)

    # cell= dirs survive under the consolidated partition
    cons = f"{idx_b}/postings/ingest_batch=-1"
    assert os.path.isdir(cons)
    assert any(d.startswith("cell=") for d in os.listdir(cons))

    qset = full.filter(F.col("vec_id").isin(3, 17))
    pa = sorted(map(tuple, probe_postings(spark, qset, idx_a, k=5)
                    .select("query_id", "cand_id", "rank").collect()))
    pb = sorted(map(tuple, probe_postings(spark, qset, idx_b, k=5)
                    .select("query_id", "cand_id", "rank").collect()))
    assert pa == pb


@pytest.mark.slow
def test_ohlc_stream_equals_batch_bars(spark, tmp_path, sf_dir):
    """The maintained OHLC bars ≡ the batch ts_ohlc_bars recompute over
    the same ticks after three micro-batches — the min/max-by merge
    with carried tie-break keys must reconstruct the true first/last
    tick per bar even when a bar's ticks span micro-batches — and a
    replayed batch id does not double-count volume."""
    from sparkstreamingproject_spark.queries.analytics27 import (
        lineitem_ticks,
    )
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch,
    )
    from sparkstreamingproject_spark.streaming.ohlc_maintain import (
        merge_ohlc, ohlc_stream, read_bars,
    )

    ticks = lineitem_ticks(spark, sf_dir)
    land = str(tmp_path / "land")
    # 3 chunks split on the tick's orderkey — bars straddle chunks
    ticks.repartition(3, "tick.ok").write.parquet(land)

    table = str(tmp_path / "bars")
    q = ohlc_stream(
        file_stream(spark, land, ticks.schema, max_files_per_trigger=1),
        table, str(tmp_path / "ck"))
    q.awaitTermination(180)

    def key(r):
        return (r.brand, r.bar)

    got = {key(r): (r.open_cents, r.close_cents, r.high_cents,
                    r.low_cents, r.volume, r.n_ticks)
           for r in read_bars(spark, table).collect()}
    exp = {key(r): (r.open_cents, r.close_cents, r.high_cents,
                    r.low_cents, r.volume, r.n_ticks)
           for r in REGISTRY["ts_ohlc_bars"].fn(spark, sf_dir).collect()}
    assert got == exp

    # replayed batch id is a no-op (volume/n_ticks are additive);
    # the stream left the watermark at 2, so use a fresh higher id
    fold = manifest_foreach_batch(
        lambda b, i: merge_ohlc(b, table, i), table)
    extra = ticks.limit(20)
    fold(extra, 3)
    snap = sorted(map(tuple, read_bars(spark, table).collect()))
    fold(extra, 3)  # replay: skipped by the watermark
    assert sorted(map(tuple, read_bars(spark, table).collect())) == snap


@pytest.mark.slow
def test_kmv_bottomk_stream_equals_batch_and_replay_noop(
        spark, tmp_path, sf_dir):
    """Streaming KMV bottom-k maintenance (foreachBatch union +
    truncate-to-k) must produce the exact hash set of a direct batch
    sketch over all events, with files arriving as separate
    micro-batches — union/min-k is a lattice merge, so arrival order
    is irrelevant and replaying an already-folded batch is a no-op
    (asserted by re-folding the whole input after the stream ends)."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.streaming.kmv_maintain import (
        _bottom_k, estimate_distinct_by_type, maintain_kmv_stream,
        merge_kmv_bottomk, type_user_hashes)

    k = 16  # small k → the truncation path actually runs at sf0.001
    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_type")
    land = str(tmp_path / "events_land")
    (events.withColumn("_b", F.ntile(3).over(
        W.orderBy("user_id", "event_type")))
     .repartition(3, "_b").drop("_b").write.parquet(land))

    from sparkstreamingproject_spark.sources.streams import file_stream
    stream = file_stream(spark, land, events.schema,
                         max_files_per_trigger=1)
    sk_dir = str(tmp_path / "kmv_sketch")
    q = maintain_kmv_stream(stream, sk_dir, str(tmp_path / "ck_kmv"), k)
    q.awaitTermination(180)

    got = {(r.event_type, r.h)
           for r in spark.read.parquet(sk_dir).collect()}
    exp = {(r.event_type, r.h)
           for r in _bottom_k(type_user_hashes(events), k).collect()}
    assert got == exp and len(got) > 0

    # replay the ENTIRE input as one more "batch": state must not move
    merge_kmv_bottomk(events, sk_dir, k)
    again = {(r.event_type, r.h)
             for r in spark.read.parquet(sk_dir).collect()}
    assert again == got

    # estimator sanity: every type saturated its sketch (n_kept == k)
    # and the estimate is within the ~1/sqrt(k) KMV error band
    exact = {r.event_type: r.n for r in
             events.filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    est = {r.event_type: (r.n_kept, r.kmv_est) for r in
           estimate_distinct_by_type(
               spark.read.parquet(sk_dir), k).collect()}
    assert set(est) == set(exact)
    for t, n in exact.items():
        n_kept, e = est[t]
        if n >= k:
            assert n_kept == k
            assert abs(e - n) <= 0.75 * n, (t, e, n)
        else:
            assert (n_kept, e) == (n, float(n))


def test_swap_in_crash_recovery_kmv(spark, tmp_path, monkeypatch):
    """The KMV bottom-k fold must survive a crash between the two
    swap renames: state recovered from the .old-* aside, the replayed
    batch re-merges, and the final sketch equals the batch sketch —
    same protocol as the HLL/SCD2 crash test, for the fifth fold."""
    import os as _os

    from sparkstreamingproject_spark.streaming import statestore
    from sparkstreamingproject_spark.streaming.kmv_maintain import (
        _bottom_k, merge_kmv_bottomk, type_user_hashes)

    k = 8
    sch = "user_id long, event_type string"
    b1 = spark.createDataFrame(
        [(i, "view") for i in range(30)], sch)
    b2 = spark.createDataFrame(
        [(i, "view") for i in range(20, 50)]
        + [(i, "purchase") for i in range(10)], sch)
    kmv = str(tmp_path / "kmv")
    merge_kmv_bottomk(b1, kmv, k)

    real = _os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected")
        real(src, dst)

    monkeypatch.setattr(statestore.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        merge_kmv_bottomk(b2, kmv, k)
    monkeypatch.setattr(statestore.os, "rename", real)
    assert not _os.path.isdir(kmv)  # mid-swap layout, not a live table

    merge_kmv_bottomk(b2, kmv, k)  # replay
    got = {(r.event_type, r.h)
           for r in spark.read.parquet(kmv).collect()}
    exp = {(r.event_type, r.h)
           for r in _bottom_k(type_user_hashes(b1.unionByName(b2)),
                              k).collect()}
    assert got == exp


def test_manifest_crash_recovery_ohlc(spark, tmp_path, monkeypatch):
    """The OHLC bar fold must survive a crash INSIDE the commit (new
    version written, manifest replace fails): the crashed merge is
    invisible, the replayed batch re-merges the pre-merge state, and
    the final bars equal the batch-recomputed bars of all ticks."""
    import datetime as _dt
    import os as _os

    from sparkstreamingproject_spark.queries.analytics27 import (
        finalize_bars, tick_bars)
    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.ohlc_maintain import (
        merge_ohlc, read_bars)

    sch = ("brand string, bar int, cents long, qty long, "
           "tick struct<d: date, ok: bigint, ln: int>")
    d = _dt.date
    b1 = spark.createDataFrame(
        [("B1", 0, 1000, 5, (d(1995, 1, 1), 1, 1)),
         ("B1", 0, 1200, 3, (d(1995, 1, 2), 2, 1)),
         ("B2", 1, 900, 2, (d(1995, 1, 9), 3, 1))], sch)
    b2 = spark.createDataFrame(
        [("B1", 0, 800, 1, (d(1995, 1, 3), 4, 1)),
         ("B2", 1, 1500, 7, (d(1995, 1, 10), 5, 1)),
         ("B3", 2, 700, 4, (d(1995, 1, 20), 6, 1))], sch)
    table = str(tmp_path / "ohlc")
    merge_ohlc(b1, table, batch_id=0)

    real = _os.replace

    def crashing(src, dst):
        raise OSError("injected")

    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        merge_ohlc(b2, table, batch_id=1)
    monkeypatch.setattr(manifest_commit.os, "replace", real)
    # the crashed merge is invisible: state still equals batch-1 bars
    assert sorted(map(tuple, read_bars(spark, table).collect())) == \
        sorted(map(tuple, finalize_bars(tick_bars(b1)).collect()))

    merge_ohlc(b2, table, batch_id=1)  # replay
    got = sorted(map(tuple, read_bars(spark, table).collect()))
    exp = sorted(map(tuple, finalize_bars(
        tick_bars(b1.unionByName(b2))).collect()))
    assert got == exp
    # spot the min/max-by semantics across the crash boundary: B1 bar 0
    # open=1000 (earliest tick), close=800 (latest tick from batch 2)
    b1bar = [r for r in got if r[0] == "B1"][0]
    assert (b1bar[2], b1bar[3]) == (1000, 800)


def test_manifest_crash_recovery_histogram(spark, tmp_path, monkeypatch):
    """The additive histogram fold must survive a crash INSIDE the
    commit: the crashed merge is invisible (bin counts still equal
    batch 1 alone — the exact state the old marker protocol would
    have double-counted from), the replayed batch re-adds exactly
    once, and the final counts equal the batch histogram."""
    import os as _os

    from sparkstreamingproject_spark.queries.sketches2 import value_bins
    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.histogram_maintain import (
        merge_histogram)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)

    sch = "value double"
    b1 = spark.createDataFrame([(float(v),) for v in range(0, 300, 10)],
                               sch)
    b2 = spark.createDataFrame([(float(v),) for v in range(5, 500, 7)],
                               sch)
    table = str(tmp_path / "hist")
    merge_histogram(b1, table, batch_id=0)

    real = _os.replace

    def crashing(src, dst):
        raise OSError("injected")

    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        merge_histogram(b2, table, batch_id=1)
    monkeypatch.setattr(manifest_commit.os, "replace", real)
    # invisible: state is exactly the batch-1 histogram
    got = {(r.bin, r.n) for r in read_state(spark, table).collect()}
    assert got == {(r.bin, r.n) for r in value_bins(b1).collect()}

    merge_histogram(b2, table, batch_id=1)  # replay
    got = {(r.bin, r.n) for r in read_state(spark, table).collect()}
    exp = {(r.bin, r.n)
           for r in value_bins(b1.unionByName(b2)).collect()}
    assert got == exp


def test_manifest_crash_recovery_sessionize(spark, tmp_path, monkeypatch):
    """The session-coalescing fold must survive a crash INSIDE the
    commit: the crashed merge is invisible and the replayed batch
    coalesces/closes exactly as an uninterrupted control run does —
    re-closing a session (the old protocol's double-count mode) cannot
    happen because the watermark and the state move together."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.sessionize_maintain import (
        merge_sessions, session_summary)

    MIN = 60_000_000
    sch = "user_id long, event_id long, us long"
    b1 = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 10 * MIN), (1, 3, 41 * MIN),
         (2, 4, 0), (2, 5, 5 * MIN)], sch)
    # u1 coalesces into the open session (gap exactly 30 min);
    # u2's open session closes (95 min gap); u3 is brand new
    b2 = spark.createDataFrame(
        [(1, 6, 71 * MIN), (2, 7, 100 * MIN),
         (3, 8, 0), (3, 9, 100 * MIN)], sch)

    table = str(tmp_path / "sess_crash")
    control = str(tmp_path / "sess_control")
    merge_sessions(b1, table, batch_id=0)
    merge_sessions(b1, control, batch_id=0)
    merge_sessions(b2, control, batch_id=1)

    real = _os.replace

    def crashing(src, dst):
        raise OSError("injected")

    def summ(path):
        return {r.user_id: tuple(r)[1:] for r in session_summary(
            read_state(spark, path)).collect()}

    pre = summ(table)
    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        merge_sessions(b2, table, batch_id=1)
    monkeypatch.setattr(manifest_commit.os, "replace", real)
    assert summ(table) == pre  # crashed merge invisible

    merge_sessions(b2, table, batch_id=1)  # replay

    assert summ(table) == summ(control)
    # and the coalesce-at-exactly-the-gap semantics held across the
    # crash: u1 still has 2 sessions, 4 events
    s1 = session_summary(read_state(spark, table)).filter(
        F.col("user_id") == 1).collect()[0]
    assert (s1.n_sessions, s1.n_events) == (2, 4)


def test_trending_fold_matches_decay_formula(spark, tmp_path):
    """The decayed fold's state after batches B1..Bn must be exactly
    sum_i counts(B_i) >> (n-i), keys at zero dropped — the invariant
    that makes the 'trending' summary bounded and deterministic."""
    from sparkstreamingproject_spark.streaming.trending_maintain import (
        merge_trending, read_trending_topk)

    sch = "event_type string"
    batches = [
        [("a",)] * 8 + [("b",)] * 2,
        [("a",)] * 1 + [("c",)] * 4,
        [("b",)] * 5,
    ]
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    table = str(tmp_path / "trend")
    for rows in batches:
        merge_trending(spark.createDataFrame(rows, sch), table)

    got = {r.k: r.w for r in read_state(spark, table).collect()}
    # replay the formula in python: state = state//2 + counts
    exp: dict = {}
    for rows in batches:
        exp = {k: v // 2 for k, v in exp.items()}
        for (k,) in rows:
            exp[k] = exp.get(k, 0) + 1
        exp = {k: v for k, v in exp.items() if v > 0}
    assert got == exp
    # a=8 halves twice -> 2 (+1 from batch2 halved once -> ... ) checked
    # via formula; top-1 by decayed weight is the batch-3 burst 'b'
    top = read_trending_topk(spark, table, k=1).collect()[0]
    assert top.k == "b"


def test_trending_fold_decays_stale_keys_out(spark, tmp_path):
    """A key untouched for enough batches decays to zero and leaves
    the state entirely — the bounded-state property."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.trending_maintain import (
        merge_trending)

    sch = "event_type string"
    table = str(tmp_path / "trend_decay")
    merge_trending(spark.createDataFrame([("old",)] * 3, sch), table)
    for _ in range(3):  # 3 >> 1 -> 1 -> 0: gone after three halvings
        merge_trending(spark.createDataFrame([("new",)], sch), table)
    keys = {r.k for r in read_state(spark, table).collect()}
    assert keys == {"new"}


def test_manifest_crash_recovery_trending(spark, tmp_path, monkeypatch):
    """The decayed fold survives a crash INSIDE the commit: the
    crashed merge (which would have HALVED every weight — the most
    dangerous replay mode, since re-halving is lossy) is invisible,
    and the replayed batch re-folds exactly once, matching an
    uninterrupted control run."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.trending_maintain import (
        merge_trending)

    sch = "event_type string"
    b1 = [("a",)] * 6 + [("b",)] * 2
    b2 = [("a",)] * 2 + [("c",)] * 3
    table = str(tmp_path / "trend_crash")
    control = str(tmp_path / "trend_ctrl")
    merge_trending(spark.createDataFrame(b1, sch), table, batch_id=0)
    merge_trending(spark.createDataFrame(b1, sch), control, batch_id=0)
    merge_trending(spark.createDataFrame(b2, sch), control, batch_id=1)

    real = _os.replace

    def crashing(src, dst):
        raise OSError("injected")

    pre = {r.k: r.w for r in read_state(spark, table).collect()}
    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        merge_trending(spark.createDataFrame(b2, sch), table, batch_id=1)
    monkeypatch.setattr(manifest_commit.os, "replace", real)
    assert {r.k: r.w for r in read_state(spark, table).collect()} == pre

    merge_trending(spark.createDataFrame(b2, sch), table,
                   batch_id=1)  # replay
    got = {r.k: r.w for r in read_state(spark, table).collect()}
    exp = {r.k: r.w for r in read_state(spark, control).collect()}
    assert got == exp


@pytest.mark.slow
def test_trending_stream_equals_batched_folds(spark, tmp_path):
    """Feeding the same rows through the availableNow stream (per-file
    micro-batches) produces the same decayed state as direct fold
    calls in file order."""
    import os
    import time

    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.trending_maintain import (
        merge_trending, trending_stream)

    src = str(tmp_path / "src")
    os.makedirs(src)
    chunks = [[("a",)] * 4 + [("b",)] * 1, [("b",)] * 3, [("a",)] * 2]
    for i, rows in enumerate(chunks):
        before = set(os.listdir(src))
        (spark.createDataFrame(rows, "event_type string")
         .coalesce(1).write.mode("append").parquet(src))
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    table = str(tmp_path / "trend_stream")
    q = trending_stream(
        file_stream(spark, src, spark.read.parquet(src).schema,
                    max_files_per_trigger=1),
        table, str(tmp_path / "ck_trend"))
    q.awaitTermination(120)
    time.sleep(0.5)

    control = str(tmp_path / "trend_stream_ctrl")
    for rows in chunks:
        merge_trending(spark.createDataFrame(rows, "event_type string"),
                       control)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    got = {r.k: r.w for r in read_state(spark, table).collect()}
    exp = {r.k: r.w for r in read_state(spark, control).collect()}
    assert got == exp


@pytest.mark.slow
def test_cdc_end_to_end_effectively_once(spark, tmp_path, monkeypatch):
    """VERDICT r08 §next 6 — the full CDC app path (apps/ods_base_db →
    route_cdc_stream → idempotent markers) under an injected MID-BATCH
    crash + engine replay: facts are already on disk and the first dim
    table already upserted when the second dim upsert dies, the query
    fails, and the restarted query replays the same micro-batch.
    Since r13 the router publishes through ONE atomic manifest rename
    (``manifest_commit.cdc_commit``), so the drill asserts strict
    IN-WINDOW INVISIBILITY — after the mid-batch crash the committed
    view shows NOTHING of the batch, not merely a replay-safe partial —
    then convergence: fact rows exactly once, dim state last-write-wins
    with one row per key, and a third run from the drained checkpoint
    changes nothing."""
    from sparkstreamingproject_spark.apps.ods_base_db import (
        build_parser, run,
    )
    from sparkstreamingproject_spark.streaming import cdc_router
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        cdc_manifest_info, read_cdc_dim, read_cdc_facts)

    src = str(tmp_path / "cdc_land")
    cdc_df(spark, n=120).coalesce(1).write.parquet(src)
    cfg = tmp_path / "routing.json"
    cfg.write_text(json.dumps(
        {"fact_tables": ["order_info", "order_detail"],
         "dim_tables": ["user_info", "base_province"]}))
    out = str(tmp_path / "routed")
    ck = str(tmp_path / "ck_e2e")
    args = build_parser().parse_args(
        ["--source", src, "--out", out, "--checkpoint", ck,
         "--routing-config", str(cfg), "--once"])

    real_merge = cdc_router.merge_dim_version
    calls = {"n": 0}

    def flaky(one, current, out_path, key_cols, version_col):
        calls["n"] += 1
        if calls["n"] == 2:  # facts + first dim table already written
            raise RuntimeError("injected mid-batch crash")
        return real_merge(one, current, out_path, key_cols=key_cols,
                          version_col=version_col)

    monkeypatch.setattr(cdc_router, "merge_dim_version", flaky)
    q = run(args, spark=spark)
    with pytest.raises(Exception, match="injected mid-batch crash"):
        q.awaitTermination(120)
    assert calls["n"] == 2  # the crash really was mid-batch

    # IN-WINDOW INVISIBILITY: the fact partition and one dim snapshot
    # are physically on disk, but the manifest was never renamed — the
    # committed view shows nothing of the crashed batch
    assert cdc_manifest_info(out)["batch_id"] == -1
    assert read_cdc_facts(spark, out).count() == 0
    for t in ("user_info", "base_province"):
        assert read_cdc_dim(spark, out, t) is None

    # recover: restore the real merge, restart from the checkpoint —
    # the engine replays the failed batch (its offsets never committed)
    monkeypatch.setattr(cdc_router, "merge_dim_version", real_merge)
    run(args, spark=spark).awaitTermination(120)

    batch = spark.read.parquet(src)
    kept = batch.filter(
        F.col("type").isin("insert", "update", "bootstrap-insert"))

    # fact path: exactly-once — counts match the batch computation
    # per topic, no replay double-write
    facts = read_cdc_facts(spark, out)
    exp = (kept.filter(F.col("table").isin("order_info", "order_detail"))
           .groupBy(F.concat(F.upper("table"), F.lit("_"),
                             F.when(F.col("type") == "update", "U")
                             .otherwise("I")).alias("topic"))
           .count())
    got = facts.groupBy("topic").count()
    assert {(r["topic"], r["count"]) for r in got.collect()} == \
        {(r["topic"], r["count"]) for r in exp.collect()}

    # dim path: one row per key, LWW ts, across BOTH dim tables —
    # including the one whose first-attempt merge already hit disk
    for t in ("user_info", "base_province"):
        dim = read_cdc_dim(spark, out, t)
        assert dim.groupBy("id").count() \
            .filter(F.col("count") > 1).count() == 0
        src_latest = (kept.filter(F.col("table") == t)
                      .groupBy(F.col("data")["id"].alias("id"))
                      .agg(F.max("ts").alias("max_ts")))
        assert dim.join(src_latest, "id") \
            .filter(F.col("ts") != F.col("max_ts")).count() == 0

    # the crashed attempt's staging dirs were GC'd by the retry commit
    import os as _os
    staging = [d for d in _os.listdir(f"{out}/facts")
               if d.startswith("commit=")]
    assert len(staging) == len(cdc_manifest_info(out)["facts"])

    # third run from the drained checkpoint: nothing changes
    fact_rows = facts.count()
    dim_rows_n = read_cdc_dim(spark, out, "user_info").count()
    run(args, spark=spark).awaitTermination(120)
    assert read_cdc_facts(spark, out).count() == fact_rows
    assert read_cdc_dim(spark, out, "user_info").count() == dim_rows_n


def test_progress_recorder_flushes_on_terminate_and_bounds_pending(
        tmp_path):
    """ADVICE r08: (a) a crash/stop with NO reader must still leave
    the post-mortem JSONL populated — onQueryTerminated flushes the
    buffer; (b) the pending buffer is bounded by max_batches, drops
    the oldest rows, and counts the drops."""
    import json as _json
    from types import SimpleNamespace

    from sparkstreamingproject_spark.streaming.monitor import (
        ProgressRecorder,
    )

    jsonl = str(tmp_path / "pm.jsonl")
    rec = ProgressRecorder(max_batches=3, jsonl_path=jsonl)
    for i in range(5):
        p = SimpleNamespace(
            id=f"q-{i}", batchId=i, timestamp=f"t{i}",
            numInputRows=10 * i, inputRowsPerSecond=1.0,
            processedRowsPerSecond=2.0, batchDuration=100 + i,
            stateOperators=[], eventTime={})
        rec.onQueryProgress(SimpleNamespace(progress=p))

    # bounded: 3 kept, 2 oldest dropped and counted
    assert rec.dropped_pending == 2
    # terminal event persists WITHOUT any rows()/flush() reader call
    rec.onQueryTerminated(None)
    with open(jsonl) as f:
        disk = [_json.loads(line) for line in f]
    assert [r["batch_id"] for r in disk] == [2, 3, 4]
    # idempotent: a second terminate adds nothing
    rec.onQueryTerminated(None)
    with open(jsonl) as f:
        assert len(f.readlines()) == 3


@pytest.mark.slow
def test_landmark_ingest_stream_matches_batch_and_replay(
        spark, tmp_path):
    """Streaming audio-fingerprint catalog ingest: after two
    micro-batches, (a) the posting index equals the batch
    landmark_postings of all docs, (b) emitted matches are exactly
    the cross-batch pairs sharing >= MATCH_MIN_SHARED landmarks
    (batch-2 docs vs batch-1 catalog; within-batch pairs excluded by
    contract), and (c) replaying the drained stream adds nothing."""
    from sparkstreamingproject_spark.llm.multimodal import (
        landmark_postings,
    )
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.landmark_ingest import (
        MATCH_MIN_SHARED, landmark_ingest_stream,
    )

    # batch 1: two originals; batch 2: a near-copy of doc 1 (same
    # text, should share every landmark) + an unrelated doc
    t1 = "zz Zebra QUArtz zz VORtex zz Zebra QUArtz zz"
    t2 = "aa mm bb nn cc oo dd pp ee qq ff rr gg ss hh"
    t3 = t1.replace("VORtex", "VURtex")  # one landmark region differs
    t4 = "1234 5678 90 1234 5678 90 1234 5678 90 1234"
    src = str(tmp_path / "lm_land")
    import os
    import time as _time
    b1 = spark.createDataFrame([(1, t1), (2, t2)],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(3, t3), (4, t4)],
                               "doc_id long, text string")
    b1.coalesce(1).write.mode("append").parquet(src)
    for f in os.listdir(src):
        os.utime(os.path.join(src, f), (1_700_000_000, 1_700_000_000))
    before = set(os.listdir(src))
    b2.coalesce(1).write.mode("append").parquet(src)
    for f in set(os.listdir(src)) - before:
        os.utime(os.path.join(src, f), (1_700_000_100, 1_700_000_100))

    index_dir = str(tmp_path / "lm_index")
    matches_dir = str(tmp_path / "lm_matches")
    ck = str(tmp_path / "lm_ck")
    stream = file_stream(spark, src, b1.schema, max_files_per_trigger=1)
    q = landmark_ingest_stream(stream, index_dir, matches_dir, ck)
    q.awaitTermination(120)

    all_docs = b1.unionByName(b2)
    exp_post = {(r["doc_id"], r["lhash"]) for r in
                landmark_postings(all_docs).distinct().collect()}
    got_post = {(r["doc_id"], r["lhash"]) for r in
                spark.read.parquet(f"{index_dir}/postings")
                .select("doc_id", "lhash").collect()}
    assert got_post == exp_post

    # expected matches: batch2 docs vs batch1 docs sharing >= T
    p = landmark_postings(all_docs).distinct()
    exp_pairs = {}
    rows = {(r["doc_id"], r["lhash"]) for r in p.collect()}
    import collections
    by_doc = collections.defaultdict(set)
    for d_, h_ in rows:
        by_doc[d_].add(h_)
    for new in (3, 4):
        for old in (1, 2):
            n = len(by_doc[new] & by_doc[old])
            if n >= MATCH_MIN_SHARED:
                exp_pairs[(new, old)] = n
    got_pairs = {(r["doc_id"], r["catalog_id"]): r["n_shared"]
                 for r in spark.read.parquet(matches_dir)
                 .select("doc_id", "catalog_id", "n_shared").collect()}
    assert got_pairs == exp_pairs
    assert (3, 1) in got_pairs  # the near-copy IS caught

    # replay: restart from the drained checkpoint — no growth
    _time.sleep(0.1)
    q2 = landmark_ingest_stream(
        file_stream(spark, src, b1.schema, max_files_per_trigger=1),
        index_dir, matches_dir, ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{index_dir}/postings").count() == \
        len(exp_post)
    # unconditional (ADVICE r09 item 4): even with zero expected match
    # rows, a replay that wrongly ADDS rows must fail.
    n_match_rows = len(got_pairs)
    assert spark.read.parquet(matches_dir).count() == n_match_rows


@pytest.mark.slow
def test_retention_bitmap_stream_equals_batch(spark, tmp_path, sf_dir):
    """Maintained (day, w, bits) presence index (foreachBatch
    bit_or-merge) must be byte-identical to a batch rebuild over all
    events, with files arriving as separate micro-batches — and the
    retention query over the maintained index must equal the batch
    events_retention_bitmap_index result (VERDICT r09 §next 7)."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.analytics29 import (
        day_word_bitmaps)
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.retention_maintain import (
        retention_bitmap_stream, retention_from_index)

    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    land = str(tmp_path / "events_land")
    (events.withColumn("_b", F.ntile(3).over(W.orderBy("user_id", "ts")))
     .repartition(3, "_b").drop("_b").write.parquet(land))

    stream = file_stream(spark, land, events.schema,
                         max_files_per_trigger=1)
    idx_dir = str(tmp_path / "bm_idx")
    q = retention_bitmap_stream(stream, idx_dir, str(tmp_path / "ck_bm"))
    q.awaitTermination(180)

    got_bits = {(r.day, r.w): r.bits
                for r in spark.read.parquet(idx_dir).collect()}
    exp_bits = {(r.day, r.w): r.bits
                for r in day_word_bitmaps(events).collect()}
    assert got_bits == exp_bits  # index byte-identical, not just rates

    got = {r.day: (r.dau, r.dau_next, r.retained, r.retention_rate)
           for r in retention_from_index(spark, idx_dir).collect()}
    exp = {r.day: (r.dau, r.dau_next, r.retained, r.retention_rate)
           for r in REGISTRY["events_retention_bitmap_index"]
           .fn(spark, sf_dir).collect()}
    assert got == exp and len(got) > 0


def test_swap_in_crash_recovery_retention_bitmap(spark, tmp_path,
                                                 monkeypatch):
    """Crash-replay drill for the retention-bitmap fold: a crash
    injected between the rename-aside and rename-in leaves the old
    index readable; the replayed batch re-ORs to bits identical to a
    batch recompute (bit_or idempotence — no dupes, no loss)."""
    import os as _os
    from datetime import datetime, timezone

    from sparkstreamingproject_spark.queries.analytics29 import (
        day_word_bitmaps)
    from sparkstreamingproject_spark.streaming import statestore
    from sparkstreamingproject_spark.streaming.retention_maintain import (
        merge_bitmaps)

    sch = "user_id long, ts timestamp"
    t1 = datetime(2024, 1, 1, 10, tzinfo=timezone.utc)
    t2 = datetime(2024, 1, 2, 10, tzinfo=timezone.utc)
    b1 = spark.createDataFrame([(i, t1) for i in range(100)], sch)
    b2 = spark.createDataFrame(
        [(i, t2) for i in range(50, 150)] + [(7, t1)], sch)

    idx = str(tmp_path / "bm")
    merge_bitmaps(b1, idx)

    real = _os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected")
        real(src, dst)

    monkeypatch.setattr(statestore.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        merge_bitmaps(b2, idx)
    monkeypatch.setattr(statestore.os, "rename", real)
    assert not _os.path.isdir(idx)  # old state renamed aside, no torn dir

    merge_bitmaps(b2, idx)  # replay
    merge_bitmaps(b2, idx)  # double replay: idempotent, bits unchanged
    got = {(r.day, r.w): r.bits for r in spark.read.parquet(idx).collect()}
    exp = {(r.day, r.w): r.bits
           for r in day_word_bitmaps(b1.unionByName(b2)).collect()}
    assert got == exp


@pytest.mark.slow
def test_dsir_stats_stream_equals_batch_and_scoring(spark, tmp_path,
                                                    sf_dir):
    """Maintained DSIR bucket stats (marker-guarded additive fold)
    must equal a batch recompute over all documents, and scoring
    against the maintained model must equal the oracle-checked batch
    query exactly."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.llm14 import (
        dsir_bucket_stats, dsir_doc_buckets)
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dsir_maintain import (
        dsir_stats_stream, score_against_model)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    land = str(tmp_path / "docs_land")
    (docs.withColumn("_b", F.ntile(3).over(W.orderBy("doc_id")))
     .repartition(3, "_b").drop("_b").write.parquet(land))

    stream = file_stream(spark, land, docs.schema, max_files_per_trigger=1)
    tbl = str(tmp_path / "dsir_stats")
    q = dsir_stats_stream(stream, tbl, str(tmp_path / "ck_dsir"))
    q.awaitTermination(180)

    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    got = {r.bucket: (r.c_raw, r.c_tgt)
           for r in read_state(spark, tbl).collect()}
    exp = {r.bucket: (r.c_raw, r.c_tgt)
           for r in dsir_bucket_stats(dsir_doc_buckets(docs)).collect()}
    assert got == exp and len(got) > 0  # counters exactly additive

    scored = {(r.doc_id): (r.dsir_weight, r.rank)
              for r in score_against_model(docs, tbl).collect()}
    batch = {(r.doc_id): (r.dsir_weight, r.rank)
             for r in REGISTRY["curation_dsir_importance"]
             .fn(spark, sf_dir).collect()}
    assert scored == batch


def test_dsir_stats_replay_and_crash_inside_old_residual_window(
        spark, tmp_path):
    """Manifest-last commit (VERDICT r11 §next 4): the additive fold
    must be exact under (a) replay of a committed batch id — skipped
    by the watermark — and (b) a crash INSIDE the old marker
    protocol's residual window: new state version fully written but
    the commit (manifest replace) never landed. Under the marker
    protocol that crash double-counted the batch (data swapped in,
    marker missing → replay re-merged post-swap state); under the
    manifest protocol the replay re-merges the PRE-merge version the
    manifest still names, so the result is exact."""
    from sparkstreamingproject_spark.queries.llm14 import (
        dsir_bucket_stats, dsir_doc_buckets)
    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.dsir_maintain import (
        merge_dsir_stats)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch, manifest_info, read_state)

    sch = "doc_id long, lang string, text string"
    b1 = spark.createDataFrame(
        [(1, "en", "a b c a b"), (2, "de", "x y z")], sch)
    b2 = spark.createDataFrame([(3, "en", "a b q r")], sch)
    b3 = spark.createDataFrame([(4, "en", "q r s t")], sch)
    tbl = str(tmp_path / "stats")
    write = manifest_foreach_batch(
        lambda b, i: merge_dsir_stats(b, tbl, i), tbl)
    write(b1, 0)
    write(b2, 1)
    write(b2, 1)  # replay of a committed batch id — watermark skips it
    got = {r.bucket: (r.c_raw, r.c_tgt)
           for r in read_state(spark, tbl).collect()}
    exp = {r.bucket: (r.c_raw, r.c_tgt)
           for r in dsir_bucket_stats(
               dsir_doc_buckets(b1.unionByName(b2))).collect()}
    assert got == exp

    # crash drill INSIDE the old residual window: batch 2's merged
    # version dir lands completely, but the process dies before the
    # manifest replace — simulated by failing os.replace exactly once
    orig_replace = manifest_commit.os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        calls["n"] += 1
        raise OSError("simulated crash before manifest commit")

    manifest_commit.os.replace = crashing_replace
    try:
        try:
            write(b3, 2)
            raise AssertionError("crash injection did not fire")
        except OSError:
            pass
    finally:
        manifest_commit.os.replace = orig_replace
    assert calls["n"] == 1
    # state unchanged: manifest still names the pre-merge version
    assert manifest_info(tbl)[1] == 1
    mid = {r.bucket: (r.c_raw, r.c_tgt)
           for r in read_state(spark, tbl).collect()}
    assert mid == exp, "crashed commit must be invisible"

    write(b3, 2)  # the replay — re-merges the PRE-merge state, exact
    got2 = {r.bucket: (r.c_raw, r.c_tgt)
            for r in read_state(spark, tbl).collect()}
    exp2 = {r.bucket: (r.c_raw, r.c_tgt)
            for r in dsir_bucket_stats(dsir_doc_buckets(
                b1.unionByName(b2).unionByName(b3))).collect()}
    assert got2 == exp2, "no double-count after in-window crash"


@pytest.mark.slow
def test_containment_index_stream_equals_batch_and_replay(
        spark, tmp_path, sf_dir):
    """Maintained LSH-Ensemble containment index (VERDICT r10 §next
    7): pairs queried from the streamed index must equal the batch
    kernel on the full corpus EXACTLY (the per-doc half is
    append-stable and code-shared; the bucket cap re-checks at read
    time), and a replayed micro-batch must leave the index unchanged
    (ingest_batch= overwrite partitions)."""
    from pyspark.sql.window import Window as W

    from sparkstreamingproject_spark.llm.dedup import (
        lsh_ensemble_containment_pairs)
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.containment_maintain import (
        containment_index_stream, containment_pairs_from_index,
        fold_containment_index)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    land = str(tmp_path / "docs_land")
    (docs.withColumn("_b", F.ntile(3).over(W.orderBy("doc_id")))
     .repartition(3, "_b").drop("_b").write.parquet(land))

    idx = str(tmp_path / "cont_idx")
    q = containment_index_stream(
        file_stream(spark, land, docs.schema, max_files_per_trigger=1),
        idx, str(tmp_path / "ck_cont"))
    q.awaitTermination(180)

    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs_from_index(
               spark, idx, docs).collect()}
    exp = {(r.id_a, r.id_b): r.containment
           for r in lsh_ensemble_containment_pairs(docs).collect()}
    assert got == exp

    # crash-replay drill: re-deliver batch 0's OWN rows (a real replay
    # repeats the same data) — the overwrite partition absorbs both
    b0_ids = (spark.read.parquet(f"{idx}/postings")
              .filter(F.col("ingest_batch") == 0)
              .select("doc_id").distinct())
    replayed = docs.join(b0_ids, "doc_id", "left_semi").localCheckpoint()
    fold_containment_index(replayed, idx, batch_id=0)
    fold_containment_index(replayed, idx, batch_id=0)  # double replay
    got2 = {(r.id_a, r.id_b): r.containment
            for r in containment_pairs_from_index(
                spark, idx, docs).collect()}
    assert got2 == exp


def test_kll_sketch_stream_equals_batch_and_replay(spark, tmp_path,
                                                   sf_dir):
    """Maintained KLL level-sampling sketch (fold #12): quantiles read
    off the streamed state must equal the batch `sketch_kll_quantiles`
    EXACTLY — the nested inclusion masks mean every batch's survivors
    (written at a prefix level) re-thin at read time to the batch
    sketch over the union. Then three replay drills on a manually
    folded twin (explicit batch ids): double replay of a batch
    (overwrite partitions absorb it), a LATE replay after later
    batches landed (the recomputed higher write level is a subset;
    the read re-thin erases it), and a partial crash (sample
    partition written, meta commit row missing) that the retry
    converges."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dedup_ingest import _write
    from sparkstreamingproject_spark.streaming.kll_maintain import (
        fold_kll_sample, kll_quantiles_from_state, kll_stream)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    land = str(tmp_path / "orders_land")
    orders.repartition(3).write.parquet(land)

    st = str(tmp_path / "kll_state")
    q = kll_stream(
        file_stream(spark, land, orders.schema, max_files_per_trigger=1),
        st, str(tmp_path / "ck_kll"))
    assert q.awaitTermination(300), "availableNow stream must terminate"

    exp = sorted(map(tuple, REGISTRY["sketch_kll_quantiles"]
                     .fn(spark, sf_dir).collect()))
    got = sorted(map(tuple, kll_quantiles_from_state(spark, st).collect()))
    assert got == exp
    assert exp[0][1] > 0, "level must be non-trivial at this SF"

    # manually folded twin with explicit batch ids for the drills
    st2 = str(tmp_path / "kll_state2")
    thirds = [orders.filter(F.col("o_orderkey") % 3 == r).localCheckpoint()
              for r in range(3)]
    for i, part in enumerate(thirds):
        fold_kll_sample(part, st2, batch_id=i)
    got2 = sorted(map(tuple, kll_quantiles_from_state(spark, st2).collect()))
    assert got2 == exp

    # drill 1+2: double replay of batch 0, landing AFTER batches 1-2 —
    # the late replay writes at a HIGHER level (prior_n now includes
    # every batch); nested masks make that a subset and the read-time
    # re-thin yields the identical sketch
    fold_kll_sample(thirds[0], st2, batch_id=0)
    fold_kll_sample(thirds[0], st2, batch_id=0)
    got3 = sorted(map(tuple, kll_quantiles_from_state(spark, st2).collect()))
    assert got3 == exp

    # drill 3: partial crash — batch 0's sample partition lands, the
    # meta commit row does not; the retry overwrites both and converges
    from sparkstreamingproject_spark.queries.sketches2 import (
        kll_order_rows)
    _write(kll_order_rows(thirds[0]).limit(7), f"{st2}/sample", 0)
    fold_kll_sample(thirds[0], st2, batch_id=0)
    got4 = sorted(map(tuple, kll_quantiles_from_state(spark, st2).collect()))
    assert got4 == exp


def test_bm25_index_stream_equals_batch_and_replay(spark, tmp_path,
                                                   sf_dir):
    """Maintained BM25 inverted index (fold #13): searching the
    streamed index must equal the batch `text_search_bm25` EXACTLY —
    posting and length rows are append-stable per document and the
    scorer (corpus N/avgdl/df included) is the shared
    `textstats.bm25_rank` over the folded relations. Replay drills:
    double replay of a batch, and a partial crash (postings landed,
    length rows missing → the doc is consistently invisible, then the
    retry converges)."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.llm import BM25_TERMS
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.bm25_maintain import (
        bm25_index_stream, doc_index_rows, fold_bm25_index,
        search_bm25_index)
    from sparkstreamingproject_spark.streaming.dedup_ingest import _write

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    land = str(tmp_path / "docs_land")
    docs.repartition(3).write.parquet(land)

    idx = str(tmp_path / "bm25_idx")
    q = bm25_index_stream(
        file_stream(spark, land, docs.schema, max_files_per_trigger=1),
        idx, str(tmp_path / "ck_bm25"))
    assert q.awaitTermination(300), "availableNow stream must terminate"

    exp = sorted(map(tuple, REGISTRY["text_search_bm25"]
                     .fn(spark, sf_dir).collect()))
    got = sorted(map(tuple,
                     search_bm25_index(spark, idx, BM25_TERMS).collect()))
    assert got == exp and len(exp) > 0

    # manually folded twin with explicit batch ids for the drills
    # (replaying into the STREAM's state dir would need the stream's
    # own batch→rows mapping, which foreachBatch does not expose)
    idx2 = str(tmp_path / "bm25_idx2")
    thirds = [docs.filter(F.col("doc_id") % 3 == r).localCheckpoint()
              for r in range(3)]
    for i, part in enumerate(thirds):
        fold_bm25_index(part, idx2, batch_id=i)
    got2 = sorted(map(tuple,
                      search_bm25_index(spark, idx2, BM25_TERMS).collect()))
    assert got2 == exp

    # drill 1: double replay of batch 0 (overwrite partitions absorb it)
    fold_bm25_index(thirds[0], idx2, batch_id=0)
    fold_bm25_index(thirds[0], idx2, batch_id=0)
    got3 = sorted(map(tuple,
                      search_bm25_index(spark, idx2, BM25_TERMS).collect()))
    assert got3 == exp

    # drill 2: partial crash — postings land, length rows do not;
    # the retry overwrites both partitions and converges
    tf, _dl = doc_index_rows(thirds[0])
    _write(tf.limit(9), f"{idx2}/tf", 0)       # pre-crash partial state
    fold_bm25_index(thirds[0], idx2, batch_id=0)  # retry
    got4 = sorted(map(tuple,
                      search_bm25_index(spark, idx2, BM25_TERMS).collect()))
    assert got4 == exp

    # drill 3 (ADVICE r11): consistent absence IN the crashed state —
    # batch 2's postings land but its length rows do not; the search
    # must score exactly as if batch 2 never arrived (orphaned
    # postings must not inflate per-term df/idf for committed docs)
    from sparkstreamingproject_spark.llm.textstats import bm25_rank
    idx3 = str(tmp_path / "bm25_idx3")
    for i in (0, 1):
        fold_bm25_index(thirds[i], idx3, batch_id=i)
    tf2, _dl2 = doc_index_rows(thirds[2])
    _write(tf2, f"{idx3}/tf", 2)               # crash: tf landed, dl did not
    committed = thirds[0].unionByName(thirds[1])
    ctf, cdl = doc_index_rows(committed)
    exp5 = sorted(map(tuple, bm25_rank(
        ctf.filter(F.col("word").isin(*BM25_TERMS)), cdl).collect()))
    got5 = sorted(map(tuple,
                      search_bm25_index(spark, idx3, BM25_TERMS).collect()))
    assert got5 == exp5 and len(exp5) > 0


def test_semantic_cells_stream_equals_batch_and_replay(spark, tmp_path,
                                                       sf_dir):
    """Maintained SemDeDup fold (#14): with centroids trained on the
    full corpus and frozen, streaming the corpus through the fold and
    reading keep labels off the state must equal the batch
    `dedup_semantic_cells` EXACTLY — assignment against frozen
    centroids is append-stable and the edge set accumulates to the
    batch pair set (new×prior + new×new per batch, least/greatest
    normalized). Drills on a manually folded twin: double replay of a
    batch; a crash that lands pairs without assigned rows (the commit
    signal) must leave the batch CONSISTENTLY invisible — in
    particular no phantom component merge through the uncommitted
    vector — then converge on retry."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.llm15 import SEM_K
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.dedup_ingest import _write
    from sparkstreamingproject_spark.streaming.semantic_maintain import (
        fold_semantic_cells, init_semantic_state,
        semantic_cells_stream, semantic_dedup_from_state)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    land = str(tmp_path / "emb_land")
    emb.repartition(3).write.parquet(land)

    st = str(tmp_path / "sem_state")
    init_semantic_state(emb, st, k=SEM_K)
    q = semantic_cells_stream(
        file_stream(spark, land, emb.schema, max_files_per_trigger=1),
        st, str(tmp_path / "ck_sem"))
    assert q.awaitTermination(300), "availableNow stream must terminate"

    exp = sorted(map(tuple, REGISTRY["dedup_semantic_cells"]
                     .fn(spark, sf_dir).collect()))
    got = sorted(map(tuple,
                     semantic_dedup_from_state(spark, st).collect()))
    assert got == exp and len(exp) > 0

    # manually folded twin with explicit batch ids for the drills
    st2 = str(tmp_path / "sem_state2")
    init_semantic_state(emb, st2, k=SEM_K)
    thirds = [emb.filter(F.col("vec_id") % 3 == r).localCheckpoint()
              for r in range(3)]
    for i, part in enumerate(thirds):
        fold_semantic_cells(part, st2, batch_id=i)
    got2 = sorted(map(tuple,
                      semantic_dedup_from_state(spark, st2).collect()))
    assert got2 == exp

    # drill 1: double replay of batch 1 (overwrite partitions absorb)
    fold_semantic_cells(thirds[1], st2, batch_id=1)
    fold_semantic_cells(thirds[1], st2, batch_id=1)
    got3 = sorted(map(tuple,
                      semantic_dedup_from_state(spark, st2).collect()))
    assert got3 == exp

    # drill 2: crash INSIDE the commit window — batch 2's pairs land,
    # its assigned rows (the commit signal) do not. The read must
    # behave as if batch 2 never arrived: committed-endpoint semi-join
    # drops the orphaned edges, so no phantom merges and no missing
    # keepers among committed vectors.
    st3 = str(tmp_path / "sem_state3")
    init_semantic_state(emb, st3, k=SEM_K)
    for i in (0, 1):
        fold_semantic_cells(thirds[i], st3, batch_id=i)
    pre_crash = sorted(map(tuple,
                           semantic_dedup_from_state(spark, st3).collect()))
    # replicate the fold's pair stage for batch 2, write pairs ONLY
    import shutil
    fold_semantic_cells(thirds[2], st3, batch_id=2)
    shutil.rmtree(f"{st3}/assigned/ingest_batch=2")
    in_crash = sorted(map(tuple,
                          semantic_dedup_from_state(spark, st3).collect()))
    assert in_crash == pre_crash, "crashed batch must be invisible"
    fold_semantic_cells(thirds[2], st3, batch_id=2)  # retry converges
    got4 = sorted(map(tuple,
                      semantic_dedup_from_state(spark, st3).collect()))
    assert got4 == exp


def test_semantic_cells_stream_equals_batch_at_scaled_k(spark, tmp_path,
                                                        sf_dir):
    """Fold #14 × the k ∝ n contract: with centroids trained at the
    `dedup_semantic_cells_scaled` cell count (k = max(8, ⌈n/50⌉)) and
    frozen, the manually-folded state must read back EXACTLY the
    scaled batch query's output — the fold is k-agnostic, so the
    production pairing (bounded cells at ingest) inherits the same
    stream≡batch guarantee as the pinned-k drill."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.llm15 import SEM_K, SEM_TARGET
    from sparkstreamingproject_spark.streaming.semantic_maintain import (
        fold_semantic_cells, init_semantic_state,
        semantic_dedup_from_state)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    k = max(SEM_K, -(-emb.count() // SEM_TARGET))
    st = str(tmp_path / "sem_scaled_state")
    init_semantic_state(emb, st, k=int(k))
    thirds = [emb.filter(F.col("vec_id") % 3 == r).localCheckpoint()
              for r in range(3)]
    for i, part in enumerate(thirds):
        fold_semantic_cells(part, st, batch_id=i)
    exp = sorted(map(tuple, REGISTRY["dedup_semantic_cells_scaled"]
                     .fn(spark, sf_dir).collect()))
    got = sorted(map(tuple,
                     semantic_dedup_from_state(spark, st).collect()))
    assert got == exp and len(exp) > 0


# --------------------------------------------------------------- r13:
# manifest_commit hardening drills (ADVICE r12 items 1-4)


def test_manifest_adopts_legacy_swap_in_layout(spark, tmp_path):
    """Upgrading a fold from the swap_in layout (state parquet at
    table_dir itself) to manifest-last must ADOPT the legacy state as
    the initial version, not silently reset to empty while the old
    data sits orphaned (ADVICE r12 item 1)."""
    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.rollup_maintain import (
        merge_rollup)

    table = str(tmp_path / "rollup")
    sch = "o_orderdate string, o_totalprice double"
    legacy = spark.createDataFrame(
        [("1995-01-01", 1000, 1), ("1995-01-02", 500, 1)],
        "day string, cents long, n long")
    legacy.coalesce(1).write.parquet(table)  # the old layout

    # first touch adopts: manifest names the legacy data, watermark -1
    token, wm = manifest_commit.manifest_info(table)
    assert token and token.startswith("legacy-") and wm == -1
    got = {str(r.day): (r.cents, r.n)
           for r in manifest_commit.read_state(spark, table).collect()}
    assert got == {"1995-01-01": (1000, 1), "1995-01-02": (500, 1)}

    # a post-upgrade merge folds ON TOP of the adopted state
    merge_rollup(spark.createDataFrame([("1995-01-01", 2.5)], sch),
                 table, batch_id=0)
    got = {str(r.day): (r.cents, r.n)
           for r in manifest_commit.read_state(spark, table).collect()}
    assert got == {"1995-01-01": (1250, 2), "1995-01-02": (500, 1)}


def test_manifest_raises_on_foreign_checkpoint_gap(spark, tmp_path):
    """A fresh checkpoint pointed at an existing state table restarts
    batch ids at 0 while the table watermark is high; the fold must
    RAISE, not silently skip the 'replays' (ADVICE r12 item 2). The
    committed tail batch (id == watermark) still skips silently —
    that's a genuine replay."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        manifest_foreach_batch)
    from sparkstreamingproject_spark.streaming.rollup_maintain import (
        merge_rollup)

    table = str(tmp_path / "rollup")
    sch = "o_orderdate string, o_totalprice double"
    b = spark.createDataFrame([("1995-01-01", 10.0)], sch)
    fold = manifest_foreach_batch(
        lambda df, i: merge_rollup(df, table, batch_id=i), table)
    fold(b, 0)
    fold(b, 1)
    fold(b, 2)
    calls = {"n": 0}
    counting = manifest_foreach_batch(
        lambda df, i: calls.__setitem__("n", calls["n"] + 1), table)
    counting(b, 2)          # genuine tail replay: silent skip
    assert calls["n"] == 0
    with pytest.raises(RuntimeError, match="checkpoint"):
        counting(b, 0)      # fresh-checkpoint signature: refuse


def test_manifest_gc_retains_previous_committed_version(spark, tmp_path):
    """A lazy DataFrame bound to the pre-commit version must survive
    ONE subsequent commit (the manifest records its predecessor and GC
    keeps it — ADVICE r12 item 3), and be collected by the commit
    after that."""
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        read_state)
    from sparkstreamingproject_spark.streaming.rollup_maintain import (
        merge_rollup)

    table = str(tmp_path / "rollup")
    sch = "o_orderdate string, o_totalprice double"
    merge_rollup(spark.createDataFrame([("1995-01-01", 10.0)], sch),
                 table, batch_id=0)
    lazy = read_state(spark, table)  # bound to v0's path, no action yet
    merge_rollup(spark.createDataFrame([("1995-01-02", 5.0)], sch),
                 table, batch_id=1)
    # one commit later: the lazy reader still resolves
    assert {str(r.day) for r in lazy.collect()} == {"1995-01-01"}
    stale = read_state(spark, table)
    merge_rollup(spark.createDataFrame([("1995-01-03", 1.0)], sch),
                 table, batch_id=2)
    merge_rollup(spark.createDataFrame([("1995-01-04", 1.0)], sch),
                 table, batch_id=3)
    # two commits later the old version is gone — documented hazard
    with pytest.raises(Exception):
        lazy.collect()
    del stale


def test_maintain_readers_empty_before_first_commit(spark, tmp_path):
    """read_trending_topk / read_bars on a never-committed table
    return an empty TYPED relation, not an AttributeError on None
    (ADVICE r12 item 4)."""
    from sparkstreamingproject_spark.streaming.ohlc_maintain import (
        read_bars)
    from sparkstreamingproject_spark.streaming.trending_maintain import (
        read_trending_topk)

    topk = read_trending_topk(spark, str(tmp_path / "none_t"))
    assert topk.columns == ["k", "w"] and topk.count() == 0
    bars = read_bars(spark, str(tmp_path / "none_b"))
    assert bars.columns == ["brand", "bar", "open_cents", "close_cents",
                            "high_cents", "low_cents", "volume",
                            "n_ticks"]
    assert bars.count() == 0


def test_semantic_refresh_retrain_equals_scaled_batch(spark, tmp_path,
                                                      sf_dir):
    """Fold #14 centroid-refresh drill (VERDICT r12 §next 3): ingest N
    batches on frozen PINNED-k centroids, run `refresh_semantic_state`
    (re-train at the k ∝ n contract + full re-assign), and the
    post-refresh state must equal `dedup_semantic_cells_scaled`
    batch-recomputed on the same rows. Post-refresh ingest keeps
    working against the new frozen centroids."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.queries.llm15 import SEM_K
    from sparkstreamingproject_spark.streaming.semantic_maintain import (
        fold_semantic_cells, init_semantic_state, refresh_semantic_state,
        semantic_dedup_from_state)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    st = str(tmp_path / "sem_refresh_state")
    init_semantic_state(emb, st, k=SEM_K)  # pinned-k anchor centroids
    thirds = [emb.filter(F.col("vec_id") % 3 == r).localCheckpoint()
              for r in range(3)]
    for i, part in enumerate(thirds):
        fold_semantic_cells(part, st, batch_id=i)
    # lazy reader bound to the RAW (pre-refresh) state paths — must
    # survive the refresh commit (one-commit retention contract);
    # plain spark.read keeps it genuinely lazy (the dedup read-path
    # materializes its component loop eagerly)
    pre_reader = spark.read.parquet(f"{st}/assigned")
    pre_rows = sorted(map(tuple, pre_reader.collect()))

    refresh_semantic_state(spark, st)

    exp = sorted(map(tuple, REGISTRY["dedup_semantic_cells_scaled"]
                     .fn(spark, sf_dir).collect()))
    got = sorted(map(tuple,
                     semantic_dedup_from_state(spark, st).collect()))
    assert got == exp and len(exp) > 0

    # one-commit retention for the legacy raw tree (ADVICE r13, shaped
    # by the r14 self-review): the raw state stays IN PLACE through
    # the refresh commit — a lazy reader created BEFORE the refresh
    # still works after it — and is GC'd by the NEXT commit
    import os as _os
    assert _os.path.isdir(st)  # grace window, not an immediate delete
    assert sorted(map(tuple, pre_reader.collect())) == pre_rows
    sibs = [d for d in _os.listdir(str(tmp_path))
            if d.startswith("sem_refresh_state.v-")]
    assert len(sibs) == 1

    # init is one-time setup: once a manifest exists it must refuse
    # rather than mutate the committed version dir in place
    with pytest.raises(RuntimeError, match="refresh_semantic_state"):
        init_semantic_state(emb, st, k=SEM_K)

    # ... and BOTH refusal checks are side-effect-free: pointing init
    # at a plain parquet table refuses WITHOUT renaming it or writing
    # a manifest (the old state_path-based guard adopted-then-raised,
    # destructively relocating the user's data — r14 self-review)
    flat = str(tmp_path / "some_flat_table")
    spark.createDataFrame([(1, "x")], "id long, v string") \
        .coalesce(1).write.parquet(flat)
    before = sorted(_os.listdir(str(tmp_path)))
    with pytest.raises(RuntimeError, match="plain parquet"):
        init_semantic_state(emb, flat, k=SEM_K)
    assert sorted(_os.listdir(str(tmp_path))) == before
    assert _os.path.isdir(flat) and not _os.path.exists(flat + ".manifest")

    # the fold keeps working against the refreshed (resolved) state:
    # re-ingesting existing rows is a no-op by content determinism
    fold_semantic_cells(thirds[0], st, batch_id=3)
    again = sorted(map(tuple,
                       semantic_dedup_from_state(spark, st).collect()))
    assert again == exp


def test_semantic_refresh_crash_drill_manifest_last(spark, tmp_path,
                                                    sf_dir, monkeypatch):
    """Crash drill across the refresh swap (VERDICT r12 §next 3): the
    refreshed tree is fully written but the process dies before the
    manifest rename — readers must stay EXACTLY on the pre-refresh
    state; the retried refresh converges and GCs the orphan version."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.semantic_maintain import (
        fold_semantic_cells, init_semantic_state, refresh_semantic_state,
        semantic_dedup_from_state)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    st = str(tmp_path / "sem_crash_state")
    init_semantic_state(emb, st, k=8)
    halves = [emb.filter(F.col("vec_id") % 2 == r).localCheckpoint()
              for r in range(2)]
    for i, part in enumerate(halves):
        fold_semantic_cells(part, st, batch_id=i)
    pre = sorted(map(tuple,
                     semantic_dedup_from_state(spark, st).collect()))

    real_replace = _os.replace

    def crashing(src, dst):
        raise OSError("injected crash before refresh manifest rename")

    monkeypatch.setattr(manifest_commit.os, "replace", crashing)
    with pytest.raises(OSError, match="injected"):
        refresh_semantic_state(spark, st)
    monkeypatch.setattr(manifest_commit.os, "replace", real_replace)

    # in-window invisibility: the fully-written refresh tree is on
    # disk, the raw tree is UNTOUCHED (no manifest landed), and
    # readers resolve to EXACTLY the pre-refresh state
    orphans = [d for d in _os.listdir(str(tmp_path))
               if d.startswith("sem_crash_state.v-")]
    assert len(orphans) == 1
    assert _os.path.isdir(st)
    in_crash = sorted(map(tuple,
                          semantic_dedup_from_state(spark, st).collect()))
    assert in_crash == pre

    # retry converges; the crashed-attempt version dir is GC'd by its
    # commit while the raw tree survives THIS commit as the implicit
    # predecessor (the standard lazy-reader grace window)
    refresh_semantic_state(spark, st)
    left = [d for d in _os.listdir(str(tmp_path))
            if d.startswith("sem_crash_state.v-")]
    assert len(left) == 1 and left[0] not in orphans
    assert _os.path.isdir(st)  # grace window
    post = sorted(map(tuple,
                      semantic_dedup_from_state(spark, st).collect()))
    assert {t[0] for t in post} == {t[0] for t in pre}  # same vec_ids

    # the NEXT commit collects the raw predecessor: the pre-refresh
    # state is gone for good — no unbounded orphan (ADVICE r13) —
    # while the previous committed version gets the usual retention
    refresh_semantic_state(spark, st)
    assert not _os.path.exists(st)
    final = [d for d in _os.listdir(str(tmp_path))
             if d.startswith("sem_crash_state.v-")]
    assert len(final) == 2 and left[0] in final


def test_semantic_state_guards_legacy_tree_and_foreign_data(
        spark, tmp_path, sf_dir):
    """ADVICE r14 items 1+3 drill: (a) `init_semantic_state` must
    refuse a PRE-MANIFEST legacy tree that already holds
    centroids/assigned data — a silent re-init there overwrites the
    frozen centroids while assignments computed against the old
    centroids stay on disk; (b) `refresh_semantic_state`'s raw-tree
    GC must only delete a dir that is provably this module's tree —
    foreign entries beside the manifest are skipped with a warning,
    never rmtree'd."""
    import os as _os
    import warnings as _warnings

    from sparkstreamingproject_spark.streaming.semantic_maintain import (
        fold_semantic_cells, init_semantic_state, refresh_semantic_state,
        semantic_dedup_from_state)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding") \
        .filter(F.col("vec_id") % 4 == 0).localCheckpoint()

    # (a) pre-manifest legacy tree: init once + one fold, NO refresh
    # (so no manifest); a second init must refuse WITHOUT touching
    # the tree — previously both guards passed (no manifest, no
    # top-level parquet) and the centroids were silently overwritten
    st = str(tmp_path / "sem_guard_state")
    init_semantic_state(emb, st, k=4)
    fold_semantic_cells(emb, st, batch_id=0)
    before = sorted(map(tuple, spark.read.parquet(
        f"{st}/centroids").collect()))
    with pytest.raises(RuntimeError, match="already holds semantic"):
        init_semantic_state(emb, st, k=4)
    assert sorted(map(tuple, spark.read.parquet(
        f"{st}/centroids").collect())) == before
    # centroids-only tree (init ran, no fold yet) refuses too
    st2 = str(tmp_path / "sem_guard_state2")
    init_semantic_state(emb, st2, k=4)
    with pytest.raises(RuntimeError, match="already holds semantic"):
        init_semantic_state(emb, st2, k=4)

    # (b) foreign data beside the manifest: first refresh commits and
    # leaves the raw tree for its grace window; a user then lands
    # unrelated data inside the raw dir — the SECOND refresh must
    # skip the GC (with a warning) instead of deleting it
    refresh_semantic_state(spark, st)
    foreign = _os.path.join(st, "user_notes.txt")
    with open(foreign, "w") as f:
        f.write("not semantic state\n")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        refresh_semantic_state(spark, st)
    assert any("non-semantic entries" in str(w.message) for w in caught)
    assert _os.path.exists(foreign)  # foreign data never deleted
    # the refresh itself still committed: dedup read-path works
    assert semantic_dedup_from_state(spark, st).count() > 0

    # control: a clean raw tree (only centroids/assigned/pairs) IS
    # collected by the second refresh — the guard narrows the delete,
    # it does not disable the orphan GC (ADVICE r13 contract)
    stc = str(tmp_path / "sem_guard_clean")
    init_semantic_state(emb, stc, k=4)
    fold_semantic_cells(emb, stc, batch_id=0)
    refresh_semantic_state(spark, stc)
    assert _os.path.isdir(stc)  # grace window after first refresh
    refresh_semantic_state(spark, stc)
    assert not _os.path.exists(stc)  # clean tree GC'd by next commit


def test_cdc_manifest_adopts_legacy_marker_layout(spark, tmp_path):
    """Upgrading a CDC output from the r12 marker layout
    (facts/batch_id=N partitions + dim/<t> swap_in tables) to the
    manifest protocol must ADOPT the legacy data: readers see it, the
    watermark resumes after the highest complete legacy batch, and
    the next dim merge folds ON TOP of the adopted snapshot."""
    from sparkstreamingproject_spark.streaming.cdc_router import (
        route_cdc_batch)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        cdc_manifest_info, read_cdc_dim, read_cdc_facts)

    out = str(tmp_path / "routed")
    # legacy facts: one complete per-batch dir, topic-partitioned
    legacy_facts = spark.createDataFrame(
        [("ORDER_INFO_I", '{"id":"1"}'), ("ORDER_INFO_U", '{"id":"2"}')],
        "topic string, value string")
    (legacy_facts.write.mode("overwrite").partitionBy("topic")
     .parquet(f"{out}/facts/batch_id=0"))
    # legacy dim: swap_in layout — parquet directly at dim/<t>, in the
    # router's dim_rows shape (key, table, id, value, ts)
    legacy_dim = spark.createDataFrame(
        [("DIM:USER_INFO:u1", "user_info", "u1", '{"name":"alice"}', 100)],
        "key string, table string, id string, value string, ts long")
    legacy_dim.coalesce(1).write.parquet(f"{out}/dim/user_info")

    m = cdc_manifest_info(out)  # first touch adopts
    assert m["batch_id"] == 0 and m["facts"] == {"0": "legacy-0"}
    facts = read_cdc_facts(spark, out)
    assert facts.count() == 2
    assert {r.topic for r in facts.collect()} == \
        {"ORDER_INFO_I", "ORDER_INFO_U"}
    dim = read_cdc_dim(spark, out, "user_info")
    assert [(r.id, r.value, r.ts) for r in dim.collect()] == \
        [("u1", '{"name":"alice"}', 100)]

    # a post-upgrade batch merges on top of the adopted dim snapshot
    cfg = tmp_path / "routing.json"
    cfg.write_text(json.dumps({"fact_tables": ["order_info"],
                               "dim_tables": ["user_info"]}))
    batch = cdc_df(spark, n=20)
    route_cdc_batch(batch, 1, out, str(cfg))
    dim2 = read_cdc_dim(spark, out, "user_info")
    got = {r.id: r.value for r in dim2.collect()}
    assert got.get("u1") == '{"name":"alice"}'  # adopted row survived
    assert len(got) > 1              # plus the new batch's dim rows

    # mixed legacy/new fact read after the post-upgrade commit: the
    # declared schema keeps batch_id stable regardless of which footer
    # Spark would sample — adopted rows NULL, new rows as written
    facts2 = read_cdc_facts(spark, out)
    assert "batch_id" in facts2.columns
    by_val = {r.value: r.batch_id for r in facts2.collect()}
    assert by_val['{"id":"1"}'] is None and by_val['{"id":"2"}'] is None
    new_ids = {v for k, v in by_val.items()
               if k not in ('{"id":"1"}', '{"id":"2"}')}
    assert new_ids == {1} and len(by_val) > 2


@pytest.mark.slow
def test_cdc_manifest_crash_point_sweep_converges(spark, tmp_path,
                                                  monkeypatch):
    """Property-style sweep of the multi-directory commit: crash the
    manifest rename at EVERY commit point of a 3-batch run (not just
    the one the targeted drill picks). Invariants at each point:
    (a) in-window invisibility — the committed view equals the view
    after the last SUCCESSFUL commit; (b) replaying the crashed batch
    (what the engine does from its checkpoint) converges; (c) the
    final state equals a crash-free run of the same batches."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.cdc_router import (
        route_cdc_batch)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        cdc_foreach_batch, read_cdc_dim, read_cdc_facts)

    cfg = tmp_path / "routing.json"
    cfg.write_text(json.dumps({"fact_tables": ["order_info"],
                               "dim_tables": ["user_info"]}))
    batches = [cdc_df(spark, n=30, seed=s).localCheckpoint()
               for s in (11, 13, 17)]

    def run_batches(out, crash_at: int | None):
        """Drive the fold; crash the crash_at-th os.replace (1-based).
        Returns the number of replaces attempted."""
        calls = {"n": 0}
        real_replace = _os.replace

        def maybe_crash(src, dst):
            calls["n"] += 1
            if crash_at is not None and calls["n"] == crash_at:
                raise OSError("swept crash")
            return real_replace(src, dst)

        fold = cdc_foreach_batch(
            lambda b, i: route_cdc_batch(b, i, out, str(cfg)), root=out)
        monkeypatch.setattr(manifest_commit.os, "replace", maybe_crash)
        try:
            for i, b in enumerate(batches):
                try:
                    fold(b, i)
                except OSError:
                    # in-window invisibility: view == last good commit
                    snap_facts = read_cdc_facts(spark, out).count()
                    wm = manifest_commit.cdc_manifest_info(out)["batch_id"]
                    exp_facts = read_cdc_facts(spark, ref_out).filter(
                        F.col("batch_id") <= wm).count()
                    assert snap_facts == exp_facts
                    # engine replay of the crashed batch: converge
                    monkeypatch.setattr(manifest_commit.os, "replace",
                                        real_replace)
                    fold(b, i)
                    monkeypatch.setattr(manifest_commit.os, "replace",
                                        maybe_crash)
        finally:
            monkeypatch.setattr(manifest_commit.os, "replace",
                                real_replace)
        return calls["n"]

    # crash-free reference run
    ref_out = str(tmp_path / "ref")
    n_replaces = run_batches(ref_out, crash_at=None)
    ref_facts = sorted((r.topic, r.value, r.batch_id)
                       for r in read_cdc_facts(spark, ref_out).collect())
    ref_dim = sorted((r.id, r.value, r.ts) for r in read_cdc_dim(
        spark, ref_out, "user_info").collect())
    assert n_replaces == 3 and len(ref_facts) > 0

    for point in range(1, n_replaces + 1):
        out = str(tmp_path / f"crash{point}")
        run_batches(out, crash_at=point)
        got_facts = sorted((r.topic, r.value, r.batch_id)
                           for r in read_cdc_facts(spark, out).collect())
        got_dim = sorted((r.id, r.value, r.ts) for r in read_cdc_dim(
            spark, out, "user_info").collect())
        assert got_facts == ref_facts, f"facts diverged at point {point}"
        assert got_dim == ref_dim, f"dim diverged at point {point}"


@pytest.mark.smoke
def test_adoption_resume_after_crash_windows(spark, tmp_path):
    """The adoption paths are themselves crash-resumable: (a) a
    single-table adoption that crashed between the rename and the
    manifest write (orphan .v-legacy-* dir, no manifest) is finished
    on the next touch instead of reporting empty state; (b) a CDC dim
    adoption that crashed after parking the table at <t>.adopt-<token>
    is moved into version shape and adopted; (c) a CDC FACT adoption
    that crashed after the batch_id=N -> commit=legacy-N renames but
    before the manifest write is re-discovered through the token's
    embedded batch id (ADVICE r13: those dirs were invisible to the
    batch_id=* resume scan and permanently GC'd at the next commit)."""
    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        cdc_manifest_info, read_cdc_dim, read_cdc_facts, read_state)

    # (a) single-table: only the orphan version dir exists
    table = str(tmp_path / "rollup")
    spark.createDataFrame([("d", 1)], "day string, n long") \
        .coalesce(1).write.parquet(f"{table}.v-legacy-deadbeef")
    token, wm = manifest_commit.manifest_info(table)
    assert token == "legacy-deadbeef" and wm == -1
    assert [(r.day, r.n) for r in read_state(spark, table).collect()] \
        == [("d", 1)]

    # (b) CDC dim: data parked at the adopt staging name
    out = str(tmp_path / "routed")
    staged = f"{out}/dim/user_info.adopt-legacy-cafe1234"
    spark.createDataFrame(
        [("DIM:USER_INFO:u9", "user_info", "u9", '{"x":1}', 5)],
        "key string, table string, id string, value string, ts long") \
        .coalesce(1).write.parquet(staged)
    m = cdc_manifest_info(out)
    assert m["dims"] == {"user_info": "legacy-cafe1234"}
    dim = read_cdc_dim(spark, out, "user_info")
    assert [(r.id, r.ts) for r in dim.collect()] == [("u9", 5)]

    # (c) CDC facts: a crashed adoption renamed batch_id={0,2} to
    # commit=legacy-{0,2} and died pre-manifest, while batch_id=1
    # was not yet renamed — the resume must fold BOTH shapes in and
    # set the watermark to the highest adopted id
    out2 = str(tmp_path / "routed_facts")
    for n, shape in ((0, "commit=legacy-0"), (1, "batch_id=1"),
                     (2, "commit=legacy-2")):
        spark.createDataFrame([("T", f'{{"id":"{n}"}}')],
                              "topic string, value string") \
            .write.partitionBy("topic") \
            .parquet(f"{out2}/facts/{shape}")
    m2 = cdc_manifest_info(out2)
    assert m2["facts"] == {"0": "legacy-0", "1": "legacy-1",
                           "2": "legacy-2"}
    assert m2["batch_id"] == 2
    facts = read_cdc_facts(spark, out2)
    assert sorted(r.value for r in facts.collect()) == \
        ['{"id":"0"}', '{"id":"1"}', '{"id":"2"}']
    # adopted rows carry no batch_id data column -> declared-schema NULL
    assert [r.batch_id for r in facts.collect()] == [None] * 3

    # (d) pre-first-commit info on a path whose PARENT directory does
    # not exist must report empty state, not raise (ADVICE r13)
    ghost = str(tmp_path / "no_such_parent" / "tbl")
    assert manifest_commit.manifest_info(ghost) == (None, -1)
    assert read_state(spark, ghost) is None

    # (e) stray facts/ entries that merely LOOK like resumed legacy
    # commits (non-numeric id, or no _SUCCESS marker) must neither
    # wedge cdc_manifest_info nor be adopted into the manifest —
    # only a genuine renamed-complete-batch dir qualifies (r14
    # self-review)
    import os as _os
    out3 = str(tmp_path / "routed_stray")
    fr = f"{out3}/facts"
    _os.makedirs(f"{fr}/commit=legacy-notanumber")
    _os.makedirs(f"{fr}/commit=legacy-7")  # dir but NO _SUCCESS
    spark.createDataFrame([("T", "v")], "topic string, value string") \
        .write.partitionBy("topic").parquet(f"{fr}/commit=legacy-1")
    m3 = cdc_manifest_info(out3)
    assert m3["facts"] == {"1": "legacy-1"} and m3["batch_id"] == 1

    # (f) a directory at a single-table state path that adoption
    # DECLINED (no top-level parquet/_SUCCESS — e.g. a partitioned
    # legacy layout) must survive commits untouched: generic GC never
    # deletes data it cannot prove it owns (r14 self-review)
    tbl2 = str(tmp_path / "rollup2")
    _os.makedirs(f"{tbl2}/day=1")
    with open(f"{tbl2}/day=1/part-0.parquet", "w") as f:
        f.write("opaque")
    for bid in (0, 1, 2):
        manifest_commit.commit_state(
            spark.createDataFrame([("d", bid)], "day string, n long"),
            tbl2, batch_id=bid)
    assert _os.path.isdir(f"{tbl2}/day=1")  # foreign data untouched
    assert [r.n for r in read_state(spark, tbl2).collect()] == [2]


def test_paragraph_fold_stream_equals_batch(spark, tmp_path, sf_dir):
    """Fold #16: ingesting the corpus in doc_id-ordered micro-batches
    (the module's ordering contract) through the first-seen chunk
    dedup reads back EXACTLY the batch query's output — keep rule,
    totals, and reconstructed text all equal."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.streaming.paragraph_maintain import (
        fold_paragraphs, paragraph_dedup_from_state)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    n = docs.count()
    cut1, cut2 = n // 3, 2 * n // 3
    st = str(tmp_path / "para_state")
    batches = [docs.filter(F.col("doc_id") < cut1),
               docs.filter((F.col("doc_id") >= cut1)
                           & (F.col("doc_id") < cut2)),
               docs.filter(F.col("doc_id") >= cut2)]
    for i, b in enumerate(batches):
        fold_paragraphs(b.localCheckpoint(), st, batch_id=i)

    got = sorted(map(tuple,
                     paragraph_dedup_from_state(spark, st).collect()))
    exp = sorted(map(tuple, REGISTRY["dedup_paragraph_reconstruct"]
                     .fn(spark, sf_dir).collect()))
    assert got == exp and len(exp) > 0


def test_paragraph_fold_crash_invisible_then_converges(spark, tmp_path,
                                                       sf_dir):
    """Fold #16 crash drill: chunks of the last batch are on disk but
    the docs commit signal is not (crash between the two writes) —
    the read must show EXACTLY the prior batches; the replayed fold
    converges."""
    import shutil

    from sparkstreamingproject_spark.streaming.paragraph_maintain import (
        fold_paragraphs, paragraph_dedup_from_state)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    n = docs.count()
    st = str(tmp_path / "para_crash")
    halves = [docs.filter(F.col("doc_id") < n // 2).localCheckpoint(),
              docs.filter(F.col("doc_id") >= n // 2).localCheckpoint()]
    fold_paragraphs(halves[0], st, batch_id=0)
    pre = sorted(map(tuple,
                     paragraph_dedup_from_state(spark, st).collect()))

    fold_paragraphs(halves[1], st, batch_id=1)
    post = sorted(map(tuple,
                      paragraph_dedup_from_state(spark, st).collect()))
    # simulate the crash window: docs (commit signal) missing
    shutil.rmtree(f"{st}/docs/ingest_batch=1")
    in_crash = sorted(map(tuple,
                          paragraph_dedup_from_state(spark, st).collect()))
    assert in_crash == pre, "crashed batch must be invisible"
    fold_paragraphs(halves[1], st, batch_id=1)  # engine replay
    again = sorted(map(tuple,
                       paragraph_dedup_from_state(spark, st).collect()))
    assert again == post


@pytest.mark.slow
def test_paragraph_stream_availablenow_equals_batch(spark, tmp_path,
                                                    sf_dir):
    """Fold #16 through the engine: a file stream of doc_id-ordered
    files drained with availableNow reads back the batch answer."""
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming.paragraph_maintain import (
        paragraph_dedup_from_state, paragraph_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    n = docs.count()
    land = str(tmp_path / "docs_land")
    # one file per ordered range; 1 file/trigger + distinct modTimes
    # (the source orders new files by timestamp) preserve the order
    import time as _time
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3),
                                  (2 * n // 3, n + 1)]):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(land))
        _time.sleep(1.2)
    st, ck = str(tmp_path / "para_s"), str(tmp_path / "para_ck")
    stream = file_stream(spark, land, docs.schema, max_files_per_trigger=1)
    paragraph_stream(stream, st, ck).awaitTermination(120)

    got = sorted(map(tuple,
                     paragraph_dedup_from_state(spark, st).collect()))
    exp = sorted(map(tuple, REGISTRY["dedup_paragraph_reconstruct"]
                     .fn(spark, sf_dir).collect()))
    assert got == exp and len(exp) > 0


def test_paragraph_fold_crash_point_sweep_converges(spark, tmp_path,
                                                    sf_dir):
    """Fold #16 crash-point sweep: simulate the crash window (chunks
    landed, docs commit signal missing) after EVERY batch of a 3-batch
    ordered ingest, not just the last one the targeted drill picks.
    After each crash: state == the view after the last committed
    batch; after the replay: the run converges to the crash-free
    state."""
    import shutil

    from sparkstreamingproject_spark.streaming.paragraph_maintain import (
        fold_paragraphs, paragraph_dedup_from_state)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    n = docs.count()
    cut1, cut2 = n // 3, 2 * n // 3
    batches = [docs.filter(F.col("doc_id") < cut1).localCheckpoint(),
               docs.filter((F.col("doc_id") >= cut1)
                           & (F.col("doc_id") < cut2)).localCheckpoint(),
               docs.filter(F.col("doc_id") >= cut2).localCheckpoint()]

    # crash-free reference
    ref = str(tmp_path / "ref")
    for i, b in enumerate(batches):
        fold_paragraphs(b, ref, batch_id=i)
    ref_state = sorted(map(tuple,
                           paragraph_dedup_from_state(spark, ref).collect()))

    for crash_at in range(3):
        st = str(tmp_path / f"crash{crash_at}")
        snapshots = []
        for i, b in enumerate(batches):
            fold_paragraphs(b, st, batch_id=i)
            if i == crash_at:
                shutil.rmtree(f"{st}/docs/ingest_batch={i}")
                in_crash = sorted(map(tuple, paragraph_dedup_from_state(
                    spark, st).collect()))
                assert in_crash == (snapshots[-1] if snapshots else []), \
                    f"crashed batch {i} visible"
                fold_paragraphs(b, st, batch_id=i)  # engine replay
            snapshots.append(sorted(map(tuple, paragraph_dedup_from_state(
                spark, st).collect())))
        got = sorted(map(tuple,
                         paragraph_dedup_from_state(spark, st).collect()))
        assert got == ref_state, f"diverged after crash at batch {crash_at}"


def test_joined_table_crash_point_sweep_converges(spark, tmp_path,
                                                  monkeypatch):
    """Fold #15 crash-point sweep (manual folds — the engine drill
    lives in test_scale_patterns): crash the manifest rename at every
    commit of a 3-batch run of the join-output sink; each crash is
    invisible and the replay converges to the crash-free output."""
    import os as _os

    from sparkstreamingproject_spark.streaming import manifest_commit
    from sparkstreamingproject_spark.streaming.joins import (
        write_joined_batch)
    from sparkstreamingproject_spark.streaming.manifest_commit import (
        cdc_foreach_batch, read_cdc_facts)

    sch = "view_id long, click_id long"
    batches = [spark.createDataFrame(
        [(i * 10 + j, i * 100 + j) for j in range(4)], sch)
        .localCheckpoint() for i in range(3)]

    def run(out, crash_at):
        calls = {"n": 0}
        real = _os.replace

        def maybe(src, dst):
            calls["n"] += 1
            if crash_at is not None and calls["n"] == crash_at:
                raise OSError("swept crash")
            return real(src, dst)

        fold = cdc_foreach_batch(
            lambda b, i: write_joined_batch(b, i, out), root=out)
        monkeypatch.setattr(manifest_commit.os, "replace", maybe)
        try:
            for i, b in enumerate(batches):
                try:
                    fold(b, i)
                except OSError:
                    wm = manifest_commit.cdc_manifest_info(out)["batch_id"]
                    assert wm == i - 1  # crashed batch invisible
                    monkeypatch.setattr(manifest_commit.os, "replace", real)
                    fold(b, i)  # replay
                    monkeypatch.setattr(manifest_commit.os, "replace", maybe)
        finally:
            monkeypatch.setattr(manifest_commit.os, "replace", real)
        return sorted((r.view_id, r.click_id, r.batch_id)
                      for r in read_cdc_facts(
                          spark, out, sch + ", batch_id long").collect())

    ref = run(str(tmp_path / "ref"), None)
    assert len(ref) == 12
    for point in range(1, 4):
        got = run(str(tmp_path / f"c{point}"), point)
        assert got == ref, f"diverged at crash point {point}"
