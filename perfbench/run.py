"""perfbench — the repository's benchmark.

    python3 perfbench/run.py --workload ods_log --seed 1 --seconds 15 --trace 0

Runs one workload in this process on ``local[<cores>]`` against the
package in the checkout this file sits in, checks the workload's
outputs, prints one ``name value unit`` line per metric, and prints as
its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs
the workload untraced on a fresh JVM, then again traced on another, and
reports the per-layer metrics; it writes the spans and the per-layer
table under ``perfbench/out/``. See ``perfbench/README.md``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sparkstreamingproject_spark"

WORKLOADS = ("ods_log", "ods_cdc", "batch_queries", "batch_iterative")
SETUPS = 2  # cold session starts per untraced run; setup_s is their median

# the metrics BENCHMARK.json names, with their units
END_TO_END = {"setup_s": "s", "latency_s": "s", "latency_tail_s": "s",
              "wall_s": "s", "mem_mb": "MB"}
# per-layer metrics every listed workload measures and none reads as 0;
# the rest are printed and written to the per-layer table
PER_LAYER = {
    "session.build_s": "s",
    "work.plan_s": "s",
    "work.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.busy_frac": "ratio",
}


class Ctx:
    """What one workload execution needs and what it reports."""

    def __init__(self, args, work, spark, tracer, pids):
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.spark = work, spark
        self.tracer, self.pids = tracer, pids
        self.report, self.info, self.layers = {}, {}, {}
        self.attempted = self.failed = 0
        # per timed operation: its job groups, name, rows out, blocks held
        self.op_groups, self.op_names = [], []
        self.op_rows, self.op_blocks = [], []
        self.op_window = None

    def inputs_ready(self):
        """Inputs are generated: count memory and host load from here."""
        import harness
        harness.reset_peak_rss(*self.pids())
        self.health = harness.Health()

    def health_mark(self):
        self.info.update(self.health.snapshot())

    def timed_done(self):
        import harness
        if "host.load1" not in self.info:
            self.health_mark()
        self.info["rss_mb"] = harness.peak_rss_mb(*self.pids())
        live = harness.live_mb(self.spark)
        self.info.update(live)
        self.report["mem_mb"] = sum(live.values())


def _run_workload(name, ctx):
    if name.startswith("ods_"):
        import streams
        streams.run(ctx, name[4:])
    else:
        import batch
        batch.run(ctx, name)


def _emit(metrics: dict, units: dict, ctx, extra: dict) -> None:
    bad = [k for k in units if not math.isfinite(metrics[k])]
    if bad:  # a phase measured nothing: no result rather than a wrong one
        raise RuntimeError(f"no measurement for {bad}")
    for k, v in sorted(extra.items()):
        print(f"  {k} {v}")
    for k in units:
        print(f"{k} {metrics[k]!r} {units[k]}")
    frac = ctx.failed / max(ctx.attempted, 1)
    print(f"failed_frac {frac!r} ratio")
    sys.stdout.flush()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside "
              f"{os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    n = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs_dir = os.path.join(HERE, ".work")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=runs_dir)
    os.environ["TMPDIR"] = tempfile.tempdir = work
    try:
        import harness
        import pyspark  # noqa: F401
        import sparkstreamingproject_spark  # noqa: F401
        import_s = time.perf_counter() - T_START
        if args.trace:
            return _traced(args, work)
        sess, setups, builds = harness.cold_setups(work, SETUPS, import_s)
        from tracing import Tracer
        ctx = Ctx(args, work, sess.spark, Tracer(False),
                  lambda: (os.getpid(), sess.jvm_pid()))
        try:
            _run_workload(args.workload, ctx)
        finally:
            sess.stop()
        ctx.report["setup_s"] = harness.median(setups)
        ctx.info["setup_samples_s"] = [round(s, 4) for s in setups]
        ctx.info["session.build_s"] = harness.median(builds)
        _emit(ctx.report, END_TO_END, ctx, ctx.info)
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed,
                  "metrics": {k: {"value": ctx.report[k], "unit": u}
                              for k, u in END_TO_END.items()}}
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass


def _traced(args, work) -> int:
    import harness
    from tracing import Tracer, read_event_log, self_times

    # untraced reference on the same seed, for trace.overhead_frac
    w0 = os.path.join(work, "untraced")
    sess = harness.Session(w0, traced=False)
    sess.start()
    ref = Ctx(args, w0, sess.spark, Tracer(False),
              lambda: (os.getpid(), sess.jvm_pid()))
    try:
        _run_workload(args.workload, ref)
    finally:
        sess.stop()

    w1 = os.path.join(work, "traced")
    tracer = Tracer(True)
    sess = harness.Session(w1, traced=True)
    with tracer.span("session.start", "session", op="setup"):
        sess.start()
    tracer.sc = sess.spark.sparkContext
    ctx = Ctx(args, w1, sess.spark, tracer,
              lambda: (os.getpid(), sess.jvm_pid()))
    try:
        _run_workload(args.workload, ctx)
    finally:
        tracer.unwrap()
        sess.stop()

    L = ctx.layers
    L["session.build_s"] = sess.build_s
    ev = read_event_log(os.path.join(w1, "eventlog"))
    # Spark's numbers per timed operation (mean), joined by job group
    nops = max(len(ctx.op_groups), 1)
    groups = [ev["groups"][g] for gs in ctx.op_groups for g in gs
              if g in ev["groups"]]

    def per_op(key, scale=1.0):
        return sum(g[key] for g in groups) * scale / nops

    for key, src in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                     ("spark.tasks", "tasks"),
                     ("spark.shuffle_bytes", "shuffle_bytes"),
                     ("spark.spill_bytes", "spill_bytes")):
        L[key] = per_op(src)
    L["spark.task_s"] = per_op("run_ms", 1e-3)
    L["spark.gc_s"] = per_op("gc_ms", 1e-3)
    L["spark.task_retries"] = ev["task_retries"]
    for name in sorted(set(ctx.op_names)):  # per query (batch workloads)
        mine = [ev["groups"][g]
                for gs, n in zip(ctx.op_groups, ctx.op_names) if n == name
                for g in gs if g in ev["groups"]]
        runs = ctx.op_names.count(name)
        for key in ("jobs", "stages", "tasks"):
            L[f"queries.{name}.{key}"] = sum(g[key] for g in mine) / runs
    L["operators.rows_out"] = sum(ctx.op_rows) / nops
    L["spark.blocks_held"] = sum(b[0] for b in ctx.op_blocks) / nops
    L["spark.block_bytes_held"] = sum(b[1] for b in ctx.op_blocks) / nops
    a, b = ctx.op_window
    busy = sum(max(0.0, min(t1, b) - max(t0, a)) / max(t1 - t0, 1e-9) * run
               for t0, t1, run, _ in ev["tasks"] if t1 > a and t0 < b)
    L["spark.busy_frac"] = busy / ((b - a) * harness.ncores())
    L["trace.overhead_frac"] = ctx.report["wall_s"] / ref.report["wall_s"] - 1
    for k, v in ctx.info.items():
        if k.startswith(("host.", "bench.")):
            L[k] = v

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    tracer.write(stem + ".spans.json")
    selfs = self_times([s for s in tracer.spans if s["layer"] != "bench"])
    with open(stem + ".layers.tsv", "w") as f:
        f.write("metric\tvalue\n")
        for k, v in sorted(L.items()):
            f.write(f"{k}\t{v!r}\n")
        for k, v in sorted(selfs.items()):
            f.write(f"self_s.{k}\t{v!r}\n")
    extra = dict(sorted(L.items()))
    extra.update({f"self_s.{k}": v for k, v in selfs.items()})
    _emit(L, PER_LAYER, ctx, extra)
    result = {"correct": ctx.failed == 0 and ref.failed == 0,
              "attempted": ctx.attempted + ref.attempted,
              "failed": ctx.failed + ref.failed,
              "metrics": {k: {"value": L[k], "unit": u}
                          for k, u in PER_LAYER.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
