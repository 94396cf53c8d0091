"""Batch workloads: registered queries run as ``REGISTRY[name].fn(spark,
dir)`` followed by ``.collect()``, in passes over seeded tables.

- ``batch_queries``: single-pass queries from the frozen headline set,
  one or more per family (relational, LLM, Python boundary).
- ``batch_iterative``: the round-barrier kernels back to back, with no
  ``drain_cleaner`` between them, as a user would run them.

Two untimed rounds warm the session, the first one concurrent; its
results are checked against each query's DuckDB oracle on the same files
(row count, column set and an order-insensitive value hash, as
``tests/oracle_harness.py`` compares).
Timed passes follow until ``--seconds`` have passed, at least
``MIN_PASSES``; each timed result must hash like the checked one. One
query execution is one operation.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from harness import blocks_held, median, ncores

SF = 0.01
MIN_PASSES = 3

FAMILY = {
    "agg_pricing_summary": "relational",
    "bloom_semi_join_prune": "relational",
    "dedup_minhash_lsh": "llm",
    "text_search_bm25": "llm",
    "dedup_embedding_cosine": "llm",
    "pandas_grouped_zscore": "python",
    "graph_kcore_peeling": "iterative",
    "graph_ppr_seeded": "iterative",
    "dedup_semantic_cells": "iterative",
}
QUERIES = {
    "batch_queries": [q for q, f in FAMILY.items() if f != "iterative"],
    "batch_iterative": [q for q, f in FAMILY.items() if f == "iterative"],
}


def _digest(rows, cols) -> str:
    from tests.oracle_harness import _rowset
    return hashlib.sha1("\n".join(
        _rowset([tuple(r) for r in rows], cols)).encode()).hexdigest()


def _oracle(data: str, names: list[str]) -> dict:
    """Each query's oracle result on the same files: (cols, types, rows)."""
    import duckdb
    from sparkstreamingproject_spark.queries import REGISTRY
    from sparkstreamingproject_spark.schemas import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads = {ncores()}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet/*.parquet')")
    out = {}
    for q in names:
        res = con.sql(REGISTRY[q].oracle)
        out[q] = (res.columns, dict(zip(res.columns, res.types)),
                  res.fetchall())
    con.close()
    return out


def _matches(df_dtypes, cols, rows, oracle) -> bool:
    from tests.oracle_harness import _rowset, _type_drift
    o_cols, o_types, o_rows = oracle
    return (not _type_drift(df_dtypes, o_types)
            and sorted(cols) == sorted(o_cols)
            and len(rows) == len(o_rows)
            and _rowset([tuple(r) for r in rows], cols)
            == _rowset(o_rows, o_cols))


def _verify_tables(data: str, tables: dict) -> None:
    """The files hold exactly the generated rows: per table, row count
    and an order-insensitive hash of the rows read back."""
    import duckdb
    con = duckdb.connect()
    for t, tbl in tables.items():
        con.register("generated", tbl)
        want = con.sql("SELECT count(*), sum(hash(x)) FROM "
                       "(SELECT g AS x FROM generated g)").fetchone()
        con.unregister("generated")
        got = con.sql(
            "SELECT count(*), sum(hash(x)) FROM (SELECT p AS x FROM "
            f"read_parquet('{data}/{t}.parquet/*.parquet') p)").fetchone()
        if want != got:
            raise RuntimeError(f"generated table {t} did not round-trip")
    con.close()


def run(ctx, name: str) -> None:
    from sparkstreamingproject_spark.queries import REGISTRY

    spark, tracer = ctx.spark, ctx.tracer
    names = QUERIES[name]
    data = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    tables = gen.write_tables(data, ctx.seed, SF, ncores())
    _verify_tables(data, tables)
    del tables
    oracle = _oracle(data, names)
    ctx.info["inputs_s"] = time.perf_counter() - t0
    ctx.inputs_ready()

    def execute(q, p):
        op = f"{q}#{p}"
        with tracer.span(f"queries.{q}", "queries", op=op):
            t0 = time.perf_counter()
            with tracer.span(f"queries.{q}.build", "queries",
                             group=True) as b:
                df = REGISTRY[q].fn(spark, data)
            t1 = time.perf_counter()
            with tracer.span(f"queries.{q}.exec", "spark", group=True) as e:
                rows = df.collect()
            t2 = time.perf_counter()
        if b is not None and not str(p).startswith("warm"):
            ctx.op_groups.append([b["group"], e["group"]])
            ctx.op_names.append(q)
            ctx.op_rows.append(len(rows))
            ctx.op_blocks.append(blocks_held(spark))
        return df, rows, t1 - t0, t2 - t1

    # warm-up: one round runs the queries concurrently, so the JIT sees
    # every code path in little wall time, and its results are checked
    # against the oracles; one sequential pass then runs the timed path
    failed = attempted = 0
    want = {}
    with ThreadPoolExecutor(ncores()) as ex:
        done = list(ex.map(lambda q: execute(q, "warm"), names))
    done += [execute(q, "warm") for q in names]
    for i, (df, rows, _, _) in enumerate(done):
        q = names[i % len(names)]
        attempted += 1
        if i < len(names) and _matches(df.dtypes, df.columns, rows,
                                       oracle[q]):
            want[q] = _digest(rows, df.columns)
        elif want.get(q) != _digest(rows, df.columns):
            failed += 1
    del oracle, done
    ctx.info["warmup_s"] = time.perf_counter() - t0 - ctx.info["inputs_s"]

    passes = []  # per pass: {query: (build_s, exec_s)}
    t_start = time.time()
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        cur = {}
        for q in names:
            df, rows, b, e = execute(q, len(passes))
            cur[q] = (b, e)
            attempted += 1
            if want.get(q) != _digest(rows, df.columns):
                failed += 1
        passes.append(cur)
    ctx.op_window = (t_start, time.time())
    ctx.timed_done()

    walls = [sum(b + e for b, e in p.values()) for p in passes]
    per_query = {q: median([p[q][0] + p[q][1] for p in passes])
                 for q in names}
    ctx.report.update({
        "wall_s": median(walls),
        "latency_s": math.exp(sum(math.log(v) for v in per_query.values())
                              / len(per_query)),
        "latency_tail_s": max(per_query.values()),
    })
    ctx.info.update({"passes": len(passes),
                     "query_s": {q: round(v, 4)
                                 for q, v in per_query.items()},
                     "pass_walls_s": [round(w, 4) for w in walls]})
    ctx.attempted, ctx.failed = attempted, failed
    if tracer.enabled:
        _layers(ctx, passes, names)


def _layers(ctx, passes, names):
    L = ctx.layers
    fam: dict[str, list] = {}
    for q in names:
        b = [p[q][0] for p in passes]
        e = [p[q][1] for p in passes]
        L[f"queries.{q}.build_s"] = median(b)
        L[f"queries.{q}.exec_s"] = median(e)
    for p in passes:
        tot: dict[str, float] = {}
        for q, (b, e) in p.items():
            tot[FAMILY[q]] = tot.get(FAMILY[q], 0.0) + b + e
        for f, v in tot.items():
            fam.setdefault(f, []).append(v)
    for f, v in fam.items():
        L[f"queries.family.{f}_s"] = median(v)
    ops = [x for p in passes for x in p.values()]
    L["work.plan_s"] = median([b for b, _ in ops])
    L["work.exec_s"] = median([e for _, e in ops])
