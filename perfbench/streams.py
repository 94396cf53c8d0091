"""Stream workloads: ``ods_log`` (the 5-way log splitter) and ``ods_cdc``
(the fact/dim router), each fed by seeded files.

Phases, all on one session:

0. warm-up — ``WARM_STREAMS`` concurrent queries each drain
   ``WARM_BATCHES`` one-file batches, so the per-batch code paths run
   many times in little wall time before anything is timed.
1. drain — a fresh query drains a pre-landed backlog of ``DRAIN_FILES``
   files at ``DRAIN_PER_BATCH`` per batch. Its wall time per batch is
   the median interval between consecutive batch commits.
2. open loop — a generator thread releases one ``OPEN_EVENTS``-record
   file every ``TICK`` seconds, by atomic rename into the landing
   directory, on a fixed schedule whatever the engine does. The first
   ``WARM_FILES`` files warm the new query and are not sampled; one file
   per ``TICK`` of ``--seconds`` follows. Each sampled file's latency is
   the commit time of the micro-batch that read it minus its scheduled
   release time.

The open loop offers 1,000 records/s as one 2,000-record file every
2 s, so each micro-batch reads one file; README.md gives the measured
batch and drain rates this load is a share of.

Every input file is one operation; a file fails when its outputs
differ from what its generated records imply.
"""

from __future__ import annotations

import json
import os
import threading
import time

import gen
from harness import blocks_held, median, tail

TICK = 2.0               # s between released files (open loop)
OPEN_EVENTS = 2000       # records per open-loop and warm-up file
WARM_STREAMS = 3         # concurrent warm-up queries ...
WARM_BATCHES = 4         # ... each draining this many one-file batches
WARM_FILES = 2           # open-loop files that only warm the new query
DRAIN_FILES = 12         # pre-landed backlog: 11 commit intervals
DRAIN_EVENTS = 5000      # records per backlog file
DRAIN_PER_BATCH = 1      # maxFilesPerTrigger while draining


class _Kind:
    """What differs between the two pipelines."""

    def __init__(self, kind: str, work: str):
        self.kind = kind
        self.records = gen.log_records if kind == "log" else gen.cdc_records
        self.expect = (gen.log_expect if kind == "log"
                       else gen.cdc_fact_expect)
        self.config = os.path.join(work, "routing.json")
        if kind == "cdc":
            with open(self.config, "w") as f:
                json.dump({"fact_tables": gen.FACT_TABLES,
                           "dim_tables": gen.DIM_TABLES}, f)

    def start(self, spark, src, out, ckpt, trigger, max_files=None):
        from sparkstreamingproject_spark.operators import flatten
        reader = spark.readStream.schema("value string")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        raw = reader.text(src)
        if self.kind == "log":
            from sparkstreamingproject_spark.streaming import split
            return split.split_log_stream_to_sinks(
                flatten.parse_log_envelope(raw), out, ckpt, trigger)
        from sparkstreamingproject_spark.streaming import cdc_router
        return cdc_router.route_cdc_stream(
            flatten.parse_cdc_envelope(raw), out, ckpt, self.config, trigger)


# ------------------------------------------------------- checkpoint join


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it, from the file
    source's metadata log (plain and compacted entries)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    fn = os.path.basename(e["path"])
                    out[fn] = min(out.get(fn, e["batchId"]), e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime
            for n in os.listdir(d) if n.isdigit()}


# ----------------------------------------------------------- the phases


class _Releaser(threading.Thread):
    """Open-loop generator: renames staged files into the landing
    directory on a fixed schedule and records how late it ran."""

    def __init__(self, names, stage, land, t0):
        super().__init__(daemon=True)
        self.names, self.stage, self.land, self.t0 = names, stage, land, t0
        self.due = {}
        self.late = 0.0

    def run(self):
        for k, name in enumerate(self.names):
            due = self.t0 + k * TICK
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.stage, name),
                      os.path.join(self.land, name))
            self.late = max(self.late, time.time() - due)
            self.due[name] = due


def _stage(kd, seed, first_idx, n, events, d, expect):
    """Write files ``first_idx ..`` into ``d``. Keep only what the checks
    need: each file's expected outputs (into ``expect``) and, for CDC,
    the last-write-wins dim state of the stream these files feed."""
    os.makedirs(d, exist_ok=True)
    names, state = [], None
    for i in range(first_idx, first_idx + n):
        name = f"f{i:06d}.json"
        r = kd.records(seed, i, events)
        gen.write_lines(os.path.join(d, name), r)
        names.append(name)
        expect[i] = kd.expect(r)
        if kd.kind == "cdc":
            state = gen.cdc_dim_lww(r, state)
    return names, state


def run(ctx, kind: str) -> None:
    spark, work, seed, tracer = ctx.spark, ctx.work, ctx.seed, ctx.tracer
    kd = _Kind(kind, work)
    n_open = WARM_FILES + max(1, int(ctx.seconds / TICK))

    # inputs, all written before anything is timed
    t0 = time.perf_counter()
    expect: dict[int, dict] = {}
    live_names, live_state = _stage(kd, seed, 0, n_open, OPEN_EVENTS,
                                    os.path.join(work, "stage"), expect)
    warm = []
    for w in range(WARM_STREAMS):
        d = os.path.join(work, f"in-warm{w}")
        warm.append((d, *_stage(kd, seed, n_open + DRAIN_FILES
                                + w * WARM_BATCHES, WARM_BATCHES,
                                OPEN_EVENTS, d, expect)))
    drain_src = os.path.join(work, "in-drain")
    drain_names, drain_state = _stage(kd, seed, n_open, DRAIN_FILES,
                                      DRAIN_EVENTS, drain_src, expect)
    ctx.info["inputs_s"] = time.perf_counter() - t0
    ctx.inputs_ready()
    _instrument(ctx, kind)

    # 0. warm-up
    t0 = time.perf_counter()
    qs = [kd.start(spark, d, os.path.join(work, f"out-warm{w}"),
                   os.path.join(work, f"ck-warm{w}"), trigger=None,
                   max_files=1) for w, (d, _, _) in enumerate(warm)]
    for wq in qs:
        wq.awaitTermination()
    ctx.info["warmup_s"] = time.perf_counter() - t0

    # 1. drain (it also warms the open loop further)
    drain_out = os.path.join(work, "out-drain")
    drain_ck = os.path.join(work, "ck-drain")
    t0 = time.perf_counter()
    with tracer.span("drain", "bench", op="drain"):
        dq = kd.start(spark, drain_src, drain_out, drain_ck, trigger=None,
                      max_files=DRAIN_PER_BATCH)
        dq.awaitTermination()
    drain_s = time.perf_counter() - t0
    dc = commit_times(drain_ck)
    intervals = [dc[b] - dc[b - 1] for b in sorted(dc) if b - 1 in dc]
    wall = median(intervals)

    # 2. open loop
    land = os.path.join(work, "in-live")
    os.makedirs(land)
    out, ckpt = os.path.join(work, "out-live"), os.path.join(work, "ck-live")
    q = kd.start(spark, land, out, ckpt, trigger=0)
    rel = _Releaser(live_names, os.path.join(work, "stage"), land,
                    time.time() + 0.5)
    rel.start()
    rel.join()
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()

    batch_of = file_batches(ckpt)
    commit = commit_times(ckpt)
    t_warm = rel.t0 + WARM_FILES * TICK
    lat = [commit[batch_of[n]] - rel.due[n] for n in live_names
           if rel.due[n] >= t_warm and n in batch_of
           and batch_of[n] in commit]
    timed_batches = sorted({batch_of[n] for n in live_names
                            if rel.due[n] >= t_warm and n in batch_of})
    period = [commit[b] - commit[b - 1] for b in timed_batches
              if b - 1 in commit and b in commit]
    ctx.timed_done()

    # checks (untimed)
    outs = [(out, live_names, live_state),
            (drain_out, drain_names, drain_state)] + [
        (os.path.join(work, f"out-warm{w}"), names, state)
        for w, (_, names, state) in enumerate(warm)]
    if kind == "log":
        failed = _check_log(spark, [o for o, _, _ in outs], expect)
    else:
        failed = set()
        for o, names, state in outs:
            failed |= _check_cdc(spark, o, [int(n[1:7]) for n in names],
                                 expect, state)
    never = {int(n[1:7]) for n in live_names if n not in batch_of}
    failed |= never

    t, pct, beyond = tail(lat)
    ctx.report.update({
        "latency_s": median(lat),
        "latency_tail_s": t,
        "wall_s": wall,
    })
    ctx.info.update({
        "latency_samples": len(lat),
        "latency_samples_s": [round(x, 3) for x in lat],
        "drain_intervals_s": [round(x, 3) for x in intervals],
        "latency_tail_pct": round(pct, 1),
        "latency_tail_beyond": beyond,
        "events_per_s": DRAIN_PER_BATCH * DRAIN_EVENTS / wall,
        "drain_s": drain_s,
        "open.batches": len(timed_batches),
        "open.batch_period_s": median(period),
        "bench.gen_late_s": rel.late,
    })
    ctx.attempted = len(expect)
    ctx.failed = len(failed)
    if tracer.enabled:
        _layers(ctx, kind, rel, batch_of, commit, timed_batches, progress,
                out)


# --------------------------------------------------------------- checks


def _per_file_counts(df, mid_col):
    from pyspark.sql import functions as F
    f = F.regexp_extract(F.col(mid_col), r"^f(\d+)-", 1).cast("int")
    return df.groupBy(f.alias("f")).count().collect()


def _check_log(spark, outs, want) -> set[int]:
    """Per-topic row counts of every file, read across all sinks at once
    (file indices are unique across sinks)."""
    got: dict = {i: dict.fromkeys(gen.TOPICS, 0) for i in want}
    for topic in gen.TOPICS:
        paths = [p for p in (os.path.join(o, topic) for o in outs)
                 if os.path.isdir(p)]
        if not paths:
            continue
        df = spark.read.parquet(*paths)
        col = "mid" if "mid" in df.columns else "common.mid"
        for r in _per_file_counts(df, col):
            got.setdefault(r["f"], dict.fromkeys(gen.TOPICS, 0))[topic] = \
                r["count"]
    return {i for i in got if got[i] != want.get(i)}


def _check_cdc(spark, out, idx, expect, state) -> set[int]:
    """Fact rows per file and topic, and the committed dim snapshots
    against ``state``, the last-write-wins over this stream's files."""
    from pyspark.sql import functions as F
    from sparkstreamingproject_spark.streaming import manifest_commit as M

    failed = set()
    want = {i: expect[i] for i in idx}
    got: dict = {i: {} for i in idx}
    facts = M.read_cdc_facts(spark, out)
    rows = (facts.select(F.get_json_object("value", "$._f").cast("int")
                         .alias("f"), "topic")
            .groupBy("f", "topic").count().collect())
    for r in rows:
        got.setdefault(r["f"], {})[r["topic"]] = r["count"]
    failed |= {i for i in got if got[i] != want.get(i)}

    for t in gen.DIM_TABLES:
        df = M.read_cdc_dim(spark, out, t)
        actual = {} if df is None else {
            r["id"]: (r["ts"], json.loads(r["value"]))
            for r in df.select("id", "ts", "value").collect()}
        exp = state[t]
        for k in exp.keys() | actual.keys():
            if exp.get(k) != actual.get(k):
                src = exp.get(k) or actual.get(k)
                failed.add(int(src[1]["_f"]))
    return failed


# ------------------------------------------------------------ per layer


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _instrument(ctx, kind):
    """Traced run only: wrap the package functions each micro-batch
    calls, as module globals, from here."""
    tracer = ctx.tracer
    if not tracer.enabled:
        return
    from sparkstreamingproject_spark.streaming import cdc_router, split

    if kind == "log":
        mod, attr = split, "write_split_batch"
    else:
        mod, attr = cdc_router, "route_cdc_batch"
        tracer.wrap(cdc_router, "merge_dim_version", "streaming")
        tracer.wrap(cdc_router, "cdc_commit", "streaming")
    orig = getattr(mod, attr)

    def batch(*args):
        t0 = time.time()
        out = args[2]
        before = _tree(out)
        with tracer.span(f"streaming.{attr}", "streaming",
                         op=f"batch-{args[1]}", group=True,
                         batch_id=int(args[1]), out=out) as sp:
            orig(*args)
        # read now: the CDC commit later deletes superseded dim versions
        new = {p: s for p, s in _tree(out).items() if p not in before}
        rows: dict[str, int] = {}
        for p in new:
            rows[_topic(p, out)] = rows.get(_topic(p, out), 0) + _rows(p)
        sp["sink_files"] = len(new)
        sp["sink_bytes"] = sum(new.values())
        sp["sink_rows"] = rows
        sp["blocks"] = blocks_held(args[0].sparkSession)
        # the whole wrapper, bookkeeping included: the part of the
        # progress event's trigger time that the benchmark spent
        sp["wrapper_s"] = time.time() - t0

    tracer.replace(mod, attr, batch)


def _rows(path: str) -> int:
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


def _layers(ctx, kind, rel, batch_of, commit, timed, progress, out):
    """Per-layer numbers for the open-loop phase's timed batches."""
    tracer = ctx.tracer
    name = ("streaming.write_split_batch" if kind == "log"
            else "streaming.route_cdc_batch")
    spans = {s["batch_id"]: s for s in tracer.by_name(name)
             if s.get("out") == out}
    timed = [b for b in timed if b in spans]
    prog = {p.batchId: p for p in progress}
    files_in = {}
    for n, b in batch_of.items():
        files_in.setdefault(b, []).append(n)
    L = ctx.layers
    L["sources.files_per_batch"] = median(
        [len(files_in.get(b, ())) for b in timed])
    lags = []
    for b in timed:
        p = prog.get(b)
        if p is None:
            continue
        start = _epoch(p.timestamp)
        newest_in = max(rel.due[n] for n in files_in[b])
        released = [d for d in rel.due.values() if d <= start]
        lags.append(max(released) - newest_in if released else 0.0)
    L["sources.read_lag_s"] = median(lags)
    L["sinks.files"] = median([spans[b]["sink_files"] for b in timed])
    L["sinks.bytes"] = median([spans[b]["sink_bytes"] for b in timed])
    for k in sorted({k for b in timed for k in spans[b]["sink_rows"]}):
        L[f"operators.rows_out.{k}"] = sum(
            spans[b]["sink_rows"].get(k, 0) for b in timed) / len(timed)
    batch_s = [spans[b]["end"] - spans[b]["start"] for b in timed]
    L["streaming.batch_s"] = L["work.exec_s"] = median(batch_s)
    L["streaming.overhead_s"] = L["work.plan_s"] = median(
        [prog[b].durationMs["triggerExecution"] / 1000.0
         - spans[b]["wrapper_s"] for b in timed if b in prog])
    L["trace.bookkeeping_s"] = median(
        [spans[b]["wrapper_s"] - (spans[b]["end"] - spans[b]["start"])
         for b in timed])
    if kind == "cdc":
        from sparkstreamingproject_spark.streaming import manifest_commit as M
        ids = {spans[b]["id"] for b in timed}
        for key, nm in (("streaming.dim_merge_s",
                         "cdc_router.merge_dim_version"),
                        ("streaming.commit_s", "cdc_router.cdc_commit")):
            L[key] = median([s["end"] - s["start"] for s in tracer.by_name(nm)
                             if s["parent"] in ids])
        m = M.cdc_manifest_info(out)
        rows = byts = 0
        for t, tok in m["dims"].items():
            for p in _tree(os.path.join(out, "dim", t, f"commit={tok}")):
                rows += _rows(p)
                byts += os.path.getsize(p)
        L["streaming.state_rows"] = rows
        L["streaming.state_bytes"] = byts
    ctx.op_blocks = [spans[b]["blocks"] for b in timed]
    ctx.op_rows = [sum(spans[b]["sink_rows"].values()) for b in timed]
    for b in timed:
        rel_files = files_in[b]
        for n in rel_files:
            tracer.add(name="file", layer="bench", op=n,
                       start=rel.due[n], end=commit[b], batch_id=b)
    ctx.op_groups = [[spans[b]["group"]] for b in timed]
    ctx.op_window = (min(spans[b]["start"] for b in timed),
                     max(spans[b]["end"] for b in timed))


def _topic(path: str, out: str) -> str:
    rel = os.path.relpath(path, out).split(os.sep)
    for part in rel:
        if part.startswith("topic="):
            return part[6:]
    if rel[0] == "dim":
        return f"dim.{rel[1]}"
    return rel[0]


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
