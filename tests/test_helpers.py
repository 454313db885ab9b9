"""Unit tests for queries/helpers.py, session.conf_override and the
tables.py relation memo — the r12 hardening of shared infrastructure
(VERDICT r11 item 7 / ADVICE r11)."""

from __future__ import annotations

import math
import pathlib
import sys
import threading

import pytest

from csv2parquet_spark.queries.helpers import local_result_df
from csv2parquet_spark.session import conf_override, no_aqe

AQE = "spark.sql.adaptive.enabled"


def test_local_result_df_empty_rows(spark):
    """`FROM VALUES` with zero tuples is a ParseException; the helper
    must degrade to a valid empty relation with the declared schema."""
    df = local_result_df(spark, [], "a bigint, b double")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_local_result_df_non_finite_floats(spark):
    """repr(inf) is 'inf', which Spark's string→double cast NULLs
    silently — the helper must spell non-finite doubles the way Spark
    parses them."""
    rows = [(1, float("inf")), (2, float("-inf")), (3, float("nan")), (4, 1.5)]
    got = {
        r["a"]: r["b"]
        for r in local_result_df(spark, rows, "a bigint, b double").collect()
    }
    assert got[1] == float("inf")
    assert got[2] == float("-inf")
    assert math.isnan(got[3])
    assert got[4] == 1.5


def test_local_result_df_repr_roundtrip(spark):
    """Finite doubles cross bit-for-bit (string→double is exact IEEE
    nearest of the repr round-trip)."""
    vals = [0.1, 1e-300, 1.7976931348623157e308, -2.2250738585072014e-308]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = {
        r["a"]: r["b"]
        for r in local_result_df(spark, rows, "a bigint, b double").collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == v


def _nested_same_key(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with conf_override(spark.conf, {key: "7"}):
        with conf_override(spark.conf, {key: "9"}):
            assert spark.conf.get(key) == "9"
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before


def _unset_stays_unset(spark):
    key = "spark.graft.test.unsetKey"
    assert spark.conf.get(key, None) is None
    with conf_override(spark.conf, {key: "x"}):
        assert spark.conf.get(key) == "x"
    assert spark.conf.get(key, None) is None  # unset again, not ""


def _hadoop_conf(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "graft.test.hadoopKey"
    assert conf.get(key, None) is None
    with conf_override(conf, {key: "x"}):
        assert conf.get(key) == "x"
        with conf_override(conf, {key: "y"}):
            assert conf.get(key) == "y"
        assert conf.get(key) == "x"
    assert conf.get(key, None) is None


def _exception_in_body(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with no_aqe(spark):
            assert spark.conf.get(AQE) == "false"
            raise RuntimeError("boom")


def _two_threads_overlap(spark):
    """Thread B asks for its override while A's is live. Without the
    lock B saves A's "false" as its prior and restores it after A has
    restored "true"; with it, B waits until A is done."""
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def b():
        assert a_in.wait(10)
        with no_aqe(spark):
            b_in.set()
            a_out.wait(10)

    t = threading.Thread(target=b)
    t.start()
    with no_aqe(spark):
        a_in.set()
        b_in.wait(0.5)  # times out when B is held at the lock
    a_out.set()
    t.join(10)
    assert not t.is_alive()


def _threads_stress(spark):
    """More threads than cores, fast switching, nested overrides: every
    body sees its own pin and the session ends where it began."""
    seen = []

    def worker():
        for _ in range(20):
            with no_aqe(spark):
                with conf_override(spark.conf, {AQE: "true"}):
                    seen.append(spark.conf.get(AQE) == "true")
                seen.append(spark.conf.get(AQE) == "false")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 8 * 20 * 2 and all(seen)


@pytest.mark.parametrize(
    "case",
    [
        _nested_same_key,
        _unset_stays_unset,
        _hadoop_conf,
        _exception_in_body,
        _two_threads_overlap,
        _threads_stress,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_conf_override_restores(spark, case):
    assert spark.conf.get(AQE) == "true"
    case(spark)
    assert spark.conf.get(AQE) == "true"


def test_no_hand_rolled_conf_restore():
    """Tripwire: only session.py may unset a conf, or set/unset one in a
    ``finally:`` block. Every other module pins conf through
    ``conf_override``, the one restore that is reentrant, serialized
    across threads and unsets keys that were unset before."""
    import ast

    import csv2parquet_spark

    root = pathlib.Path(csv2parquet_spark.__file__).parent

    def conf_call(node, names):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in names
            and "conf" in ast.unparse(node.func.value).lower()
        )

    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if conf_call(node, {"unset"}):
                hits.append(f"{path.relative_to(root)}:{node.lineno} unset")
            if isinstance(node, ast.Try):
                for stmt in node.finalbody:
                    for sub in ast.walk(stmt):
                        if conf_call(sub, {"set", "unset"}):
                            hits.append(
                                f"{path.relative_to(root)}:{sub.lineno} "
                                "conf restore in finally"
                            )
    assert not hits, hits


# Deployment and run-size settings, plus the switch plan-only tooling
# (scripts/dump_plans.py) needs; nothing else may read the environment.
ENV_ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DIM_GUARD"}
_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "root, allowed",
    [
        (_REPO / "csv2parquet_spark", ENV_ALLOWED),
        # the suite's one input knob: which fixture scale factor to run
        (_REPO / "tests", {"SPARK_GRAFT_TEST_SF_DIR"}),
    ],
    ids=["csv2parquet_spark", "tests"],
)
def test_no_ab_env_switch(root, allowed):
    """Tripwire: neither the package nor the suite reads an environment
    variable outside its allowed set. A/B or kill-switch variables that
    every caller leaves at the default are dead configurations no test
    covers."""
    import ast

    def env_name(node):
        if isinstance(node, ast.Call) and ast.unparse(node.func) in {
            "os.environ.get",
            "os.getenv",
        }:
            key = node.args[0]
        elif isinstance(node, ast.Subscript) and ast.unparse(node.value) == "os.environ":
            key = node.slice
        else:
            return None
        return key.value if isinstance(key, ast.Constant) else ast.unparse(key)

    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = env_name(node)
            if name is not None and name not in allowed:
                hits.append(f"{path.relative_to(root)}:{node.lineno} {name}")
    assert not hits, hits


def test_localcheckpoint_partitioned_keeps_layout(spark):
    """Tripwire for the graph supersteps' structural win: a relation
    hash-partitioned on ``k`` and materialized through
    ``localcheckpoint_partitioned`` keeps that layout, so a shuffle-hash
    join on ``k`` exchanges only the other side. A plain
    ``localCheckpoint()`` under AQE records UnknownPartitioning and the
    join re-exchanges the checkpointed relation too."""
    import re

    from csv2parquet_spark.operators import scan

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    left = scan.localcheckpoint_partitioned(
        spark.range(200).selectExpr("id % 50 AS k", "id AS a").repartition(n, "k")
    )
    right = spark.range(100).selectExpr("id % 50 AS k", "id AS b")
    joined = left.join(right.hint("shuffle_hash"), "k")
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin" in final, plan
    (left_k,) = re.findall(r"Scan ExistingRDD\[(k#\d+)", final)
    exchanged = re.findall(r"Exchange hashpartitioning\((k#\d+)", final)
    assert len(exchanged) == 1 and exchanged[0] != left_k, plan


def test_table_memo_bounded(spark, sf_dir, tmp_path):
    """The memo evicts LRU past its bound instead of pinning every
    (session, path, mtime) keyed plan for process lifetime."""
    import shutil

    from csv2parquet_spark import tables

    src = f"{sf_dir}/region.parquet"
    old = dict(tables._TABLE_MEMO)
    try:
        tables._TABLE_MEMO.clear()
        for i in range(70):
            d = tmp_path / f"sf{i}"
            d.mkdir()
            shutil.copy(src, d / "region.parquet")
            tables.table(spark, str(d), "region")
        assert len(tables._TABLE_MEMO) <= 64
    finally:
        tables._TABLE_MEMO.clear()
        tables._TABLE_MEMO.update(old)


@pytest.mark.parametrize("nested", [False, True], ids=["flat", "nested"])
def test_table_memo_dir_fixture_invalidation(spark, sf_dir, tmp_path, nested):
    """A file rewritten IN PLACE inside a directory-shaped table must
    miss the memo (the dir's own mtime/size may not change) — also when
    the file sits one partition directory down (``k=v/``)."""
    import os

    from csv2parquet_spark import tables
    from pyspark.sql import functions as F

    # The loader requires a known table name; drive the memo through a
    # directory-shaped copy of the region fixture.
    rd = tmp_path / "sfdir"
    rd.mkdir()
    tgt = rd / "region.parquet"
    data = tgt / "part=0" if nested else tgt
    spark.read.parquet(f"{sf_dir}/region.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(data))
    df1 = tables.table(spark, str(rd), "region")
    c1 = df1.count()
    # rewrite one contained file in place with different contents,
    # pinning the stat fields of every directory above it
    pinned = [(p, os.stat(p)) for p in (data, tgt)]
    spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_regionkey") < 2
    ).coalesce(1).write.mode("overwrite").parquet(str(data))
    for p, st in pinned:
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    df2 = tables.table(spark, str(rd), "region")
    assert df2.count() != c1
