"""Round-14: the Scala typed (zero-copy buffer) aggregate twins.

The pyspark wheel bundles scala-compiler-2.13 in its jars, so the
TypedImperativeAggregate path PERF.md had recorded as blocked ("Scala
build chain") is buildable after all: TypedAggs.scala compiles via
``java -cp <jars> scala.tools.nsc.Main`` and registers through the
public Aggregator + functions.udaf API under the SAME SQL names the
UDAF forms used. These tests pin

- availability (the compile must succeed in this environment),
- bit-identity vs the UDAF forms on multi-partition fixtures (the
  merge-order-invariance argument made executable),
- the plan shape: ObjectHashAggregate with a partial_ mode below the
  exchange (zero-copy buffer + map-side combine).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile

from pyspark.sql import functions as F

from flink_example_spark import jvm as J


def test_typed_twins_built():
    """The jar must carry the Scala typed classes — a regression here
    means the bundled scala-compiler vanished or the compile broke."""
    assert J.typed_available()


def test_jars_build_in_the_c_locale(tmp_path):
    """The sources hold non-ASCII characters, so javac and scalac must read
    them as UTF-8 whatever the locale. Under ``LC_ALL=C`` Python does not
    coerce the child processes to a UTF-8 locale and both compilers would
    fall back to US-ASCII."""
    src = tmp_path / "src"
    shutil.copytree(os.path.join(J._SRC_DIR, "fes"), src / "fes")
    code = (
        "from flink_example_spark import jvm\n"
        f"jvm._SRC_DIR = {str(src)!r}\n"
        f"jvm._JAR = {str(src / 'fes_udaf.jar')!r}\n"
        f"jvm._FOLD_JAR = {str(src / 'fes_fold.jar')!r}\n"
        "jvm.ensure_jar()\n"
        "jvm.ensure_fold_jar()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(J.__file__)))
    env = {**os.environ, "LC_ALL": "C", "PYTHONPATH": root}
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=600)
    with zipfile.ZipFile(src / "fes_udaf.jar") as zf:
        names = set(zf.namelist())
    assert {"fes/DyadicHist.class", "fes/ScalaReg.class"} <= names
    fold = {
        "fes/EntityWalk.class", "fes/BackfillFold.class", "fes/StreamFold.class",
        "fes/HistoryWalk.class", "fes/Walk.class",
    }
    assert not fold & names
    with zipfile.ZipFile(src / "fes_fold.jar") as zf:
        assert fold <= set(zf.namelist())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dyadic_typed_equals_udaf_and_plans_object_hash(spark):
    fn = J.register_dyadic_hist(spark, 64)
    spark.udf.registerJavaUDAF("t_dyadic_udaf", "fes.DyadicHist64")
    df = (
        spark.range(120_000)
        .selectExpr("id % 5 AS g", "(id * 37) % 977000 AS v")
        .repartition(8)
    )
    typed = df.groupBy("g").agg(F.expr(f"{fn}(v)").alias("a"))
    a = {r["g"]: list(r["a"]) for r in typed.collect()}
    b = {
        r["g"]: list(r["a"])
        for r in df.groupBy("g")
        .agg(F.expr("t_dyadic_udaf(v)").alias("a"))
        .collect()
    }
    assert a == b
    plan = _plan(typed)
    assert "ObjectHashAggregate" in plan
    assert f"partial_{fn}" in plan  # map-side combine under the same name


def test_dyadic_weighted_typed_equals_udaf(spark):
    fnw = J.register_dyadic_histw(spark, 64)
    spark.udf.registerJavaUDAF("t_histw_udaf", "fes.DyadicHistW64")
    pre = (
        spark.range(120_000)
        .selectExpr("id % 3 AS g", "(id * 37) % 9770 AS v")
        .repartition(8)
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = {
        r["g"]: list(r["a"])
        for r in pre.groupBy("g").agg(F.expr(f"{fnw}(v, c)").alias("a")).collect()
    }
    b = {
        r["g"]: list(r["a"])
        for r in pre.groupBy("g")
        .agg(F.expr("t_histw_udaf(v, c)").alias("a"))
        .collect()
    }
    assert a == b


def test_kmv_typed_equals_udaf(spark):
    fnk = J.register_kmv_bottomk(spark, 64)
    spark.udf.registerJavaUDAF("t_kmv_udaf", "fes.KmvBottomK64")
    df = (
        spark.range(200_000)
        .selectExpr("id % 4 AS g", "xxhash64(id % 30000) AS h")
        .repartition(8)
    )
    a = {
        r["g"]: list(r["a"])
        for r in df.groupBy("g").agg(F.expr(f"{fnk}(h)").alias("a")).collect()
    }
    b = {
        r["g"]: list(r["a"])
        for r in df.groupBy("g")
        .agg(F.expr("t_kmv_udaf(h)").alias("a"))
        .collect()
    }
    assert a == b
    # bottom-k distinct: sorted ascending, capped at k
    for arr in a.values():
        assert arr == sorted(set(arr)) and len(arr) <= 64


def test_kmv_sample_typed_equals_udaf(spark):
    """The payload-carrying bottom-k sample: identical multiset insert
    semantics (unsigned-UTF-8 key ties, stable order, NULL payloads
    preserved) through the typed buffer."""
    fns = J.register_kmv_sample_bottomk(spark, 64)
    spark.udf.registerJavaUDAF("t_kmvs_udaf", "fes.KmvSampleBottomK64")
    df = (
        spark.range(40_000)
        .selectExpr(
            "id % 3 AS g",
            "xxhash64(concat('x', id)) & 4294967295 AS h",
            "concat('k', id) AS key",
            "CASE WHEN id % 17 = 0 THEN NULL"
            " ELSE CAST((id * 13) % 997 AS DOUBLE) END AS v",
        )
        .repartition(8)
    )
    a = {
        r["g"]: list(r["a"])
        for r in df.groupBy("g")
        .agg(F.expr(f"{fns}(h, key, v)").alias("a"))
        .collect()
    }
    b = {
        r["g"]: list(r["a"])
        for r in df.groupBy("g")
        .agg(F.expr("t_kmvs_udaf(h, key, v)").alias("a"))
        .collect()
    }
    assert a == b
    assert all(len(x) == 64 for x in a.values())


def test_hll_typed_equals_register_relation(spark):
    """The O(m)-byte HllTI buffer must reproduce the register RELATION
    bit-for-bit (register-wise max of a pure hash function is merge-
    order invariant) — estimate, reg_sum, n_registers all identical."""
    from flink_example_spark.operators.sketch import (
        hll_distinct,
        hll_distinct_jvm,
    )

    df = (
        spark.range(60_000)
        .selectExpr("id % 4 AS g", "concat('v', id % 7000) AS val")
        .repartition(8)
    )
    a = sorted(tuple(r) for r in hll_distinct(df, "g", "val", p=8).collect())
    b = sorted(
        tuple(r) for r in hll_distinct_jvm(df, "g", "val", p=8).collect()
    )
    assert a == b
    # and the typed plan partial-aggregates below the exchange
    plan = _plan(hll_distinct_jvm(df, "g", "val", p=8))
    assert "partial_hll_jvm8" in plan


def test_cm_typed_equals_relation(spark):
    """The CmTI matrix buffer equals the exploded-relation cm_sketch
    bit-for-bit (pure-md5 coordinates mirrored JVM-side, sum monoid)
    — nonzero cells, dtypes included."""
    from flink_example_spark.operators.sketch import cm_sketch, cm_sketch_jvm

    df = (
        spark.range(30_000)
        .selectExpr("concat('t', (id * 7) % 500) AS term")
        .repartition(8)
    )
    a = sorted(tuple(r) for r in cm_sketch(df, "term", depth=3, width=8).collect())
    b = sorted(
        tuple(r) for r in cm_sketch_jvm(df, "term", depth=3, width=8).collect()
    )
    assert a == b and len(a) > 0
    assert (
        cm_sketch(df, "term", 3, 8).dtypes
        == cm_sketch_jvm(df, "term", 3, 8).dtypes
    )
    plan = _plan(cm_sketch_jvm(df, "term", depth=3, width=8))
    assert "partial_cm_jvm3x8" in plan


def test_mg_typed_respects_guarantee(spark):
    """MG content is merge-order-dependent, so no bit-comparison vs the
    UDAF — the pinned property is the guarantee both implementations
    certify: every f > n/(k+1) key survives, est in [f - n/(k+1), f]."""
    fnm = J.register_mg_topk(spark, 8)
    df = (
        spark.range(90_000)
        .selectExpr(
            "0 AS g",
            "CASE WHEN id % 3 = 0 THEN 'heavy'"
            " ELSE concat('t', id % 50) END AS key",
        )
        .repartition(8)
    )
    arr = df.groupBy("g").agg(F.expr(f"{fnm}(key)").alias("a")).first()["a"]
    entries = dict(e.split("\t") for e in arr)
    assert len(entries) <= 8
    n, f = 90_000, 30_000
    assert "heavy" in entries
    assert f - n // 9 <= int(entries["heavy"]) <= f
