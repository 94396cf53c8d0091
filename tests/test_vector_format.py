"""The embedding family's one fixed-point vector format and one exact
squared-L2 kernel (``llm/similarity.py``: ``_int_vec``, ``_sq_l2_int``).

Every exact distance in the engine folds two ``_int_vec`` arrays with
``_sq_l2_int``, whose fixed-length contract raises one error for a null
vector, a null element or unequal lengths — so a degenerate embedding
fails the query instead of silently changing which neighbours it finds.
"""

from __future__ import annotations

import ast
import pathlib
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkstreamingproject_spark.llm.similarity import (
    _SQ_L2_CONTRACT, _sq_l2_int)
from sparkstreamingproject_spark.queries import REGISTRY
from sparkstreamingproject_spark.queries.llm12 import (
    _exact_d2_arrays, _quantized_pts)

PKG = pathlib.Path(__file__).resolve().parents[1] / "sparkstreamingproject_spark"


def _assert_contract_error(excinfo):
    msg = str(excinfo.value)
    assert "USER_RAISED_EXCEPTION" in msg, msg
    assert _SQ_L2_CONTRACT in msg, msg


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_GOOD = [(1, [0.5, -0.25, 0.0, 1.0]), (2, [-1.0, 0.125, 0.0, 0.5])]
_BAD = {
    "null_vector": (3, None),
    "null_element": (3, [0.5, None, 0.0, 1.0]),
    "short_vector": (3, [0.5, -0.25, 0.0]),
}


def test_sq_l2_int_valid_pairs_keep_bigint(spark):
    pts = _quantized_pts(_emb(spark, _GOOD))
    d = (pts.alias("a").crossJoin(pts.alias("b"))
         .select(_sq_l2_int(F.col("a.qv"), F.col("b.qv")).alias("d2")))
    assert dict(d.dtypes)["d2"] == "bigint"
    # (0.5+1)^2 + (-0.25-0.125)^2 + 0 + (1-0.5)^2, in units of 1e-12
    assert sorted(r.d2 for r in d.collect()) == [
        0, 0, 2640625000000, 2640625000000]


@pytest.mark.parametrize("case", sorted(_BAD))
def test_sq_l2_int_raises_on_degenerate_vector(spark, case):
    emb = _emb(spark, _GOOD + [_BAD[case]])
    pts = _quantized_pts(emb)
    d = (pts.filter("vec_id = 1").select(F.col("qv").alias("qa"))
         .crossJoin(pts.filter("vec_id = 3").select(F.col("qv").alias("qb")))
         .select(_sq_l2_int(F.col("qa"), F.col("qb")).alias("d2")))
    with pytest.raises(Exception) as ei:
        d.collect()
    _assert_contract_error(ei)
    pairs = spark.createDataFrame([(1, 2), (3, 1)], "src long, dst long")
    with pytest.raises(Exception) as ei:
        _exact_d2_arrays(pairs, pts).collect()
    _assert_contract_error(ei)
    # pairs that do not touch the degenerate vector still compute
    ok = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert [r.d2 for r in _exact_d2_arrays(ok, pts).collect()] == [
        2640625000000]


def test_contract_check_starts_no_job(spark):
    """The check is an expression: building a frame on it runs nothing."""
    sc = spark.sparkContext
    pts = _quantized_pts(_emb(spark, _GOOD + [_BAD["short_vector"]]))
    pairs = spark.createDataFrame([(1, 3)], "src long, dst long")
    sc.setJobGroup("vector-contract-build", "build only")
    try:
        d = _exact_d2_arrays(pairs, pts)
        assert dict(d.dtypes)["d2"] == "bigint"
        assert sc.statusTracker().getJobIdsForGroup(
            "vector-contract-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------- degenerate embedding in a corpus

_DIST_FROM_VEC0 = ["sim_knn_graph_greedy_search", "sim_ann_two_layer_search",
                   "sample_kcenter_greedy", "sim_ann_dim_prefix_recall"]


def _corpus_with_vec0(src_dir, dst_dir, embedding):
    shutil.copytree(src_dir, dst_dir)
    path = pathlib.Path(dst_dir) / "embeddings.parquet"
    t = pq.read_table(path)
    rows = t.to_pylist()
    for r in rows:
        if r["vec_id"] == 0:
            r["embedding"] = embedding(r["embedding"])
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
    return str(dst_dir)


@pytest.fixture(scope="module")
def degenerate_dirs(sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("degenerate")
    return {
        "short_vector": _corpus_with_vec0(sf_dir, base / "short",
                                          lambda v: v[:63]),
        "null_vector": _corpus_with_vec0(sf_dir, base / "null",
                                         lambda v: None),
    }


@pytest.mark.parametrize("case", ["short_vector", "null_vector"])
@pytest.mark.parametrize("name", _DIST_FROM_VEC0)
def test_query_raises_on_degenerate_vec0(spark, degenerate_dirs, case, name):
    with pytest.raises(Exception) as ei:
        REGISTRY[name].fn(spark, degenerate_dirs[case]).collect()
    _assert_contract_error(ei)


# ------------------------------------------------ one spelling (guard)

# the Spark-side spellings of the fixed-point format; DuckDB oracle SQL
# spells it as CAST(round(v[i] * 1000000) AS BIGINT) and is exempt
_SQL_QUANTIZER = re.compile(
    r"round\(CAST\(\w+ AS DOUBLE\) \* 1000000, 0\) AS BIGINT")
_PY_QUANTIZER = re.compile(r"F\.round\(\w+ \* 1e6\)\.cast\(\"long\"\)")
_SPARK_SQL_CALLS = {"expr", "selectExpr", "sql"}


def _spark_sql_strings(tree):
    """String constants passed to F.expr / selectExpr / spark.sql."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name not in _SPARK_SQL_CALLS:
            continue
        for arg in ast.walk(node):
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                yield arg.value


def test_quantizer_spelled_only_in_similarity():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "llm/similarity.py":
            continue
        src = path.read_text()
        if _PY_QUANTIZER.search(src):
            offenders.append(f"{rel}: F.round(x * 1e6).cast(\"long\")")
        if any(_SQL_QUANTIZER.search(s)
               for s in _spark_sql_strings(ast.parse(src))):
            offenders.append(f"{rel}: round(CAST(v AS DOUBLE) * 1000000, 0)")
    assert not offenders, (
        "quantize embeddings with llm/similarity.py:_int_vec: "
        f"{offenders}")


def test_guard_patterns_match_the_old_spellings():
    old_sql = ('F.expr("transform(embedding, v -> "\n'
               '       "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) '
               'AS BIGINT))")')
    assert any(_SQL_QUANTIZER.search(s)
               for s in _spark_sql_strings(ast.parse(old_sql)))
    assert _PY_QUANTIZER.search(
        'F.transform(c, lambda x: F.round(x * 1e6).cast("long"))')
    oracle = 'oracle = "SELECT CAST(round(v[i] * 1000000) AS BIGINT) AS x"'
    assert not any(_SQL_QUANTIZER.search(s)
                   for s in _spark_sql_strings(ast.parse(oracle)))
