"""JVM-side aggregates: lazy javac build + per-session registration.

The one capability the pure-Python surface could not provide (PERF.md
"missing: JVM merge aggregates", VERDICT r8-r11): a BOUNDED-STATE
aggregate that partial-aggregates on the map side. Python grouped-agg
pandas UDFs ship whole groups across the Arrow boundary; the Java
``UserDefinedAggregateFunction`` here plans as
``partial_kmv_bottomk{k}`` below the exchange, so only
``partitions x k`` hashes per group ever shuffle.

Build chain: the JDK (required by Spark itself) compiles
``src/fes/*.java`` once against the installed PySpark jars; the jar is
cached next to the sources and rebuilt when any source is newer.
Registration is runtime-only (``ADD JAR`` + ``registerJavaUDAF``), so
it works on ANY running session — including the driver's vanilla one.

The temporal join's per-entity walk (``fes.EntityWalk``), its two
callers, the backfill's ``mapPartitions`` fold (``fes.BackfillFold``) and
the stream's ``transformWithState`` processor (``fes.StreamFold``), and the
processor's second walk, the version history (``fes.HistoryWalk``), build
with javac alone into a jar of their own, so a cold backfill does not
wait on the Scala compiler.
"""

from __future__ import annotations

import os
import shutil
import subprocess

_SRC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
_JAR = os.path.join(_SRC_DIR, "fes_udaf.jar")
# The walks and their callers build alone (javac only) into their own jar.
_FOLD_SOURCES = (
    "BackfillFold.java", "EntityWalk.java", "HistoryWalk.java", "StreamFold.java", "Walk.java",
)
_FOLD_JAR = os.path.join(_SRC_DIR, "fes_fold.jar")
_KS = (8, 16, 32, 64, 128)
_REGISTERED: set = set()


def _pyspark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def _jar_list() -> list[str]:
    import glob

    import pyspark

    return sorted(
        glob.glob(
            os.path.join(os.path.dirname(pyspark.__file__), "jars", "*.jar")
        )
    )


def _sources(ext: str, fold: bool) -> list[str]:
    """The ``fes`` sources with extension ``ext``: the fold's own, or the rest."""
    fes_dir = os.path.join(_SRC_DIR, "fes")
    return [
        os.path.join(fes_dir, f)
        for f in sorted(os.listdir(fes_dir))
        if f.endswith(ext) and (f in _FOLD_SOURCES) == fold
    ]


def ensure_jar() -> str:
    """Compile the Java aggregates — plus the Scala typed (zero-copy
    buffer) twins when the pyspark-bundled scala-compiler jar is present
    — into one jar (cached; rebuilt when any source is newer). Raises a
    clear error when no JDK compiler is available (runtime-only JREs);
    a Scala compile failure is non-fatal (the UDAF forms remain)."""
    return _build(_JAR, _sources(".java", False), _sources(".scala", False))


def ensure_fold_jar() -> str:
    """Compile the walks and their callers into their own jar with javac
    alone, so a cold backfill does not wait on the Scala compiler."""
    return _build(_FOLD_JAR, _sources(".java", True), [])


def _build(dest: str, src_files: list[str], scala_files: list[str]) -> str:
    if os.path.exists(dest) and all(
        os.path.getmtime(dest) >= os.path.getmtime(s)
        for s in src_files + scala_files
    ):
        return dest
    javac = shutil.which("javac") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "javac"
    )
    jar = shutil.which("jar") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jar"
    )
    if not (javac and os.path.exists(javac)):
        raise RuntimeError(
            "JVM functions need a JDK compiler (javac); found none. "
            "kmv_distinct(method='window'|'merge') runs without one."
        )
    # Compile into a per-process temp dir (-d) and jar from THERE: two
    # drivers compiling concurrently must not share .class files or the
    # tmp jar path, and a fresh dir can never pack stale .class files
    # from removed/renamed sources. os.replace keeps the publish atomic.
    # The sources are UTF-8 whatever the locale says.
    import tempfile

    build = tempfile.mkdtemp(prefix="fes_udaf_")
    try:
        subprocess.run(
            [javac, "-encoding", "UTF-8", "-cp", _pyspark_jars(), "-d", build,
             *src_files],
            check=True,
            capture_output=True,
        )
        # Scala typed aggregates: the compiler ships INSIDE the pyspark
        # jars (scala-compiler-2.13) and runs as a plain java main class
        # — no external toolchain. Wildcard classpaths are a JVM
        # launcher feature, so the -classpath arg is the explicit list.
        if scala_files:
            java_bin = shutil.which("java") or os.path.join(
                os.environ.get("JAVA_HOME", ""), "bin", "java"
            )
            cp = ":".join(_jar_list())
            try:
                subprocess.run(
                    [
                        java_bin, "-cp", cp, "scala.tools.nsc.Main",
                        "-encoding", "UTF-8",
                        "-classpath", cp, "-d", build, *scala_files,
                    ],
                    check=True,
                    capture_output=True,
                    timeout=600,
                )
            except (subprocess.SubprocessError, OSError):
                pass  # typed twins unavailable; UDAF forms still work
        # Jar into the temp dir, but PUBLISH via a tmp file NEXT TO the
        # destination: os.replace across filesystems (mkdtemp is often
        # tmpfs) raises EXDEV and would not be atomic anyway
        # (ADVICE-r13). Same-dir replace is always same-fs + atomic.
        tmp = os.path.join(build, os.path.basename(dest))
        subprocess.run(
            [jar, "cf", tmp, "-C", build, "fes"],
            check=True,
            capture_output=True,
        )
        stage = f"{dest}.{os.getpid()}.tmp"
        shutil.copyfile(tmp, stage)
        os.replace(stage, dest)
    finally:
        shutil.rmtree(build, ignore_errors=True)
    return dest


def typed_available() -> bool:
    """True when the built jar carries the Scala typed twins (the
    scala-compiler jar was present and the compile succeeded)."""
    import zipfile

    try:
        with zipfile.ZipFile(ensure_jar()) as zf:
            return "fes/ScalaReg.class" in zf.namelist()
    except Exception:
        return False


def _load_class(spark, name: str):
    """The class ``name`` from a jar this session added (ADD JAR)."""
    try:
        loader = spark._jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
        return loader.loadClass(name)
    except Exception:
        return (
            spark._jsparkSession.sharedState().jarClassLoader().loadClass(name)
        )


def backfill_fold(df, label_delay_micros: int):
    """``fes.BackfillFold.apply(df, label_delay_micros)``: the examples of
    ``df`` with their features, one row each (BackfillFold.java)."""
    return _fold("fes.BackfillFold", "apply", df, label_delay_micros)


def stream_fold(df, label_delay_micros: int):
    """``fes.StreamFold.examples(df, label_delay_micros)``: the same
    examples of the watermarked stream ``df``, each once its label frame is
    complete (StreamFold.java)."""
    return _fold("fes.StreamFold", "examples", df, label_delay_micros)


def history_fold(df):
    """``fes.StreamFold.history(df)``: the version rows of the watermarked
    stream ``df``, each once the watermark is past its ts (HistoryWalk.java)."""
    return _fold("fes.StreamFold", "history", df)


def _fold(cls: str, method: str, df, *longs: int):
    """``cls.method(df, *longs)``; the fold jar is added once per session."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    key = (spark.sparkContext.applicationId, "fold")
    if key not in _REGISTERED:
        spark.sql(f"ADD JAR '{ensure_fold_jar()}'")
        _REGISTERED.add(key)
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    argt = gw.new_array(jvm.java.lang.Class, 1 + len(longs))
    argt[0] = jvm.java.lang.Class.forName("org.apache.spark.sql.Dataset")
    args = gw.new_array(jvm.java.lang.Object, 1 + len(longs))
    args[0] = df._jdf
    for i, v in enumerate(longs, 1):
        argt[i] = jvm.java.lang.Long.TYPE
        args[i] = v
    fold = _load_class(spark, cls).getMethod(method, argt)
    return DataFrame(fold.invoke(None, args), spark)


def _register_scala(spark, method: str, name: str, *ks: int) -> None:
    """Invoke ``fes.ScalaReg.<method>(name, *ks)`` through the
    session's ADD JAR classloader (py4j reflection): registers the
    Aggregator-based function (planned as TypedImperativeAggregate
    inside ObjectHashAggregate — the zero-copy buffer path) under the
    SAME SQL name the UDAF form would use. Works on a vanilla driver
    session — no spark.jars at startup, same device registerJavaUDAF
    relies on."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = _load_class(spark, "fes.ScalaReg")
    argt = gw.new_array(jvm.java.lang.Class, 1 + len(ks))
    argt[0] = jvm.java.lang.Class.forName("java.lang.String")
    for i in range(len(ks)):
        argt[1 + i] = jvm.java.lang.Integer.TYPE
    m = cls.getMethod(method, argt)
    args = gw.new_array(jvm.java.lang.Object, 1 + len(ks))
    args[0] = name
    for i, k in enumerate(ks):
        args[1 + i] = k
    m.invoke(None, args)


def _register(
    spark,
    name: str,
    cls: str,
    typed_method: str | None = None,
    k: int | None = None,
) -> str:
    key = (spark.sparkContext.applicationId, name)
    if key in _REGISTERED:
        return name
    path = ensure_jar()
    spark.sql(f"ADD JAR '{path}'")
    # Prefer the typed (zero-copy buffer) implementation when built —
    # results are bit-identical (merge-order invariance / certified
    # reads; TypedAggs.scala header), only the per-row buffer copy
    # disappears: 2-4x faster than the UDAF form on 8M rows (PERF.md,
    # round 14 "Zero-copy JVM aggregate buffers").
    if typed_method and k is not None and typed_available():
        try:
            _register_scala(spark, typed_method, name, k)
            _REGISTERED.add(key)
            return name
        except Exception:
            pass  # fall back to the UDAF form below
    spark.udf.registerJavaUDAF(name, cls)
    _REGISTERED.add(key)
    return name


def register_kmv_bottomk(spark, k: int) -> str:
    """Idempotently register ``kmv_bottomk{k}`` on this session; returns
    the SQL function name."""
    if k not in _KS:
        raise ValueError(f"k must be one of {_KS}, got {k}")
    return _register(
        spark, f"kmv_bottomk{k}", f"fes.KmvBottomK{k}",
        typed_method="registerKmv", k=k,
    )


def register_kmv_sample_bottomk(spark, k: int) -> str:
    """Idempotently register the payload-carrying sample aggregate
    ``kmv_sample_bottomk{k}`` (hash, key, value) -> array of values."""
    if k not in (64, 256):
        raise ValueError(f"k must be 64 or 256, got {k}")
    return _register(
        spark, f"kmv_sample_bottomk{k}", f"fes.KmvSampleBottomK{k}",
        typed_method="registerKmvSample", k=k,
    )


def register_dyadic_hist(spark, k: int) -> str:
    """Idempotently register the adaptive dyadic-histogram quantile
    sketch ``dyadic_hist{k}`` (non-negative long) -> flat long array
    [level, b1, c1, ...] — merge-order-invariant exact bucket counts at
    the coarsest-needed resolution (fes.DyadicHist)."""
    if k not in (64, 256):
        raise ValueError(f"k must be 64 or 256, got {k}")
    return _register(
        spark, f"dyadic_hist{k}", f"fes.DyadicHist{k}",
        typed_method="registerDyadic", k=k,
    )


def register_dyadic_histw(spark, k: int) -> str:
    """Idempotently register the WEIGHTED-input dyadic histogram
    ``dyadic_histw{k}`` (value, count) — lets a codegen pre-aggregation
    feed distinct values instead of raw rows; state identical to the
    row-fed form by merge-order invariance."""
    if k != 64:
        raise ValueError(f"k must be 64, got {k}")
    return _register(
        spark, f"dyadic_histw{k}", f"fes.DyadicHistW{k}",
        typed_method="registerDyadicW", k=k,
    )


def register_mg_topk(spark, k: int) -> str:
    """Idempotently register the Misra-Gries heavy-hitter summary
    ``mg_topk{k}`` (string key) -> array of 'key\\tcount' strings.
    Content is merge-order-DEPENDENT; only the guarantee/bound reads
    are deterministic (fes.MGTopK docstring)."""
    if k not in (8, 32):
        raise ValueError(f"k must be 8 or 32, got {k}")
    return _register(
        spark, f"mg_topk{k}", f"fes.MGTopK{k}",
        typed_method="registerMg", k=k,
    )


def register_hll(spark, p: int) -> str:
    """Idempotently register the typed portable-HLL register aggregate
    ``hll_jvm{p}`` (portable_hash32 long) -> flat [bucket, max_rho, ...]
    pairs — the O(m)-byte-buffer form of ``sketch.hll_registers`` (same
    registers, same oracle; fes.HllTI). Typed-only: there is no Java
    UDAF fallback (and none is needed — the register RELATION path
    serves when the Scala twins are unavailable). Note: no pinned-p
    subclasses — typed registration passes p straight to the ctor."""
    if not 4 <= p <= 14:
        raise ValueError(f"p must be in [4, 14], got {p}")
    return _register_typed_only(
        spark, f"hll_jvm{p}", "registerHll", "hll_registers", p
    )


def _register_typed_only(
    spark, name: str, method: str, fallback_hint: str, *ks: int
) -> str:
    """Register a typed-only aggregate (no Java UDAF twin exists — the
    relation-form operator is the fallback path when the Scala twins
    are unavailable)."""
    key = (spark.sparkContext.applicationId, name)
    if key in _REGISTERED:
        return name
    path = ensure_jar()
    spark.sql(f"ADD JAR '{path}'")
    if not typed_available():
        raise RuntimeError(
            f"{name} needs the Scala typed twins (scala-compiler jar "
            f"absent or compile failed); use {fallback_hint} instead"
        )
    _register_scala(spark, method, name, *ks)
    _REGISTERED.add(key)
    return name


def register_cm(spark, depth: int, width: int) -> str:
    """Idempotently register the typed count-min aggregate
    ``cm_jvm{depth}x{width}`` (string value) -> flat row-major
    depth*width counter matrix — the O(depth*width)-buffer form of
    ``sketch.cm_sketch`` (same md5 coordinates, same counts, same
    oracle; fes.CmTI). Typed-only: the exploded-relation path serves
    when the Scala twins are unavailable."""
    if not (1 <= depth <= 16 and 1 <= width <= 65536):
        raise ValueError(f"bad depth/width {depth}/{width}")
    return _register_typed_only(
        spark,
        f"cm_jvm{depth}x{width}",
        "registerCm",
        "cm_sketch",
        depth,
        width,
    )
