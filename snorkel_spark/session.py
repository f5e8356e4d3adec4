"""SparkSession factory with scale-oriented defaults.

Replaces the reference's multiprocess ``UDFRunner`` fan-out
(⚠ snorkel/udf.py::UDFRunner.apply_mt, reconstructed — see SURVEY.md §0)
with Spark executor parallelism.  All knobs here are chosen for the
100 TB target (AQE on, Arrow batching, partial aggregation) and merely
scaled down by core count for local testing.

Two settings size the driver JVM's compilers.  The codegen cache holds
1 000 generated classes, so the warm-up's 24 and the KG chain's 77 all
fit and a warm pass compiles none; with the default of 100, warm passes
recompiled 22–28 classes in some sessions.  On a ``local…`` master the
driver JVM starts with ``-XX:CICompilerCount=2``: one C1 and one C2
compiler thread, where HotSpot gives a 4-CPU box two C2 threads.  In
local mode that JVM plans and runs every task, and JIT compilation is
most of a pass's CPU (16 s of a 27 s cold ``batch_small`` pass on 4
cores).  With one C2 thread the tiered policy still compiles the
hottest methods first, and methods that cool while queued are dropped
instead of compiled; a cold single-task stage's hot methods wait
longer for C2 while the other cores idle (the sf0.1 sentences stage
rose 3.4 → 3.9 s; about 1.6 s of that stage's cold time was the ICU
table below).  The flag is gated to local masters:
on a cluster the driver only plans and the executors are other JVMs,
so their ergonomics stay untouched.  A JVM started by ``spark-submit`` is
already running when this code runs, so the flag cannot reach it; pass
``--driver-java-options -XX:CICompilerCount=2`` there.

Case mapping is the JVM's, not ICU's
(``spark.sql.icu.caseMappings.enabled=false``).  The chain lowercases
at three sites (the rule lemma, the case-insensitive dictionary match,
the linker's casefold tier).  With ICU on, the first ``lower`` in a JVM
runs ``CollationAwareUTF8String``'s static initializer, which title-cases
all 1 114 112 code points: 1.6 s inside the cold sentences task, and on
a cluster once in every executor JVM.  With it off, ``lower`` takes
``UTF8String.toLowerCase`` (an ASCII fast path, else
``String.toLowerCase()``, as in Spark 3.x).  On an en_US JVM that
agreed with ICU and with Python's ``str.lower`` on every non-ASCII
probe tried (final sigma, ``İ``, ``ẞ``, ``ǅ``, Cyrillic), so the
driver-side keys built with ``str.lower`` (the matcher's IN list, the
linker's literal maps) keep matching.  It is a SQL conf, so every
master gets it and outputs do not depend on the master.  One caveat:
for non-ASCII text the JVM path follows the JVM's default locale (a
tr/az locale maps ``I`` to ``ı``), where ICU used the root locale.

``session_conf`` holds every setting applied through the session
builder; ``get_spark`` and ``tools/submit_job.py`` both apply it.  The
master, the driver heap and the JIT flag are launch settings: ``get_spark``
sets them, and a ``spark-submit`` job takes them from its command line.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import log

# Arrow batch size: large enough to amortize (de)serialization, small
# enough that a densified per-batch label block (batch × m·k) stays
# comfortably in executor memory at any corpus size.
ARROW_BATCH = 10_000


def master_url(cores: int | str) -> str:
    """``cores`` as a master URL: digits or ``*`` → ``local[…]``; any
    other string already is a master (``local[2]``, ``spark://…``,
    ``yarn``, ``k8s://…``)."""
    c = str(cores)
    return f"local[{c}]" if c.isdigit() or c == "*" else c


def session_conf(n_cores: int, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The settings every session of this package runs with, sized by
    ``n_cores``: the cores a task scheduler may use."""
    if shuffle_partitions is None:
        # 4× cores: enough granularity for AQE to coalesce, not so many
        # that small local runs drown in task overhead.
        shuffle_partitions = max(8, 4 * n_cores)
    # The KG chain runs no Python on executors; Python stages outside it
    # (pandas-only LFs, MinHash, streaming) unpickle closures that import
    # this package, so the worker must find it.  Only the workers' env is
    # set — the driver process's own PYTHONPATH is left alone — and an
    # entry that does not exist on a cluster node is simply skipped
    # (there ``spark-submit --py-files`` ships the package).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(max(8, 2 * n_cores)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.executorEnv.PYTHONPATH": pkg_root,
        # NOTE on spark.python.worker.idleTimeoutSeconds: an aggressive
        # idle-kill (1 s + killOnIdleTimeout) was tried to drain
        # resident worker pools (OPTIMIZATION_r06.md §8b) and REVERTED:
        # the kill races with worker reuse ("Python worker exited
        # unexpectedly"), and local mode's task.maxFailures=1 turns
        # that race into a job failure.  It also showed no measurable
        # bench benefit.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.icu.caseMappings.enabled": "false",
    }
    # Shuffle/spill files default to /tmp — ONE spinning-rust queue that
    # does not scale with cores, while a real cluster shuffles to
    # per-node local disks (bandwidth ∝ nodes).  tmpfs is the honest
    # single-box proxy; override with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark_local" if os.path.isdir("/dev/shm") else None,
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        conf["spark.local.dir"] = local_dir
    return conf


def get_spark(
    app_name: str = "snorkel_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` is an int or digit string (→ ``local[n]``), ``*``, or a
    full master URL (``master_url``).  On a real cluster you would omit
    it and let ``spark-submit`` decide; the partitioning logic below only
    keys off the session's parallelism, never off "local mode", so the
    same code ships unchanged via ``spark-submit --py-files``.  The one
    local-only setting is the driver's JIT flag (module docstring): it
    goes before any ``spark.driver.extraJavaOptions`` in ``extra``, so a
    caller's own ``-XX:CICompilerCount`` wins.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = master_url(cores)
    n_cores = len(os.sched_getaffinity(0))
    if master.startswith("local[") and master[6:-1].isdigit():
        n_cores = int(master[6:-1])
    conf = session_conf(n_cores, shuffle_partitions)
    conf["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEM", "8g")
    extra = dict(extra or {})
    if master.startswith("local"):
        key = "spark.driver.extraJavaOptions"
        extra[key] = f"-XX:CICompilerCount=2 {extra.get(key, '')}".strip()
    spark = SparkSession.builder.appName(app_name).master(master).config(
        map={**conf, **extra}
    ).getOrCreate()
    _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """Exercise the generic execution machinery once at session
    creation — Janino codegen compilation, a regex ``split``, the
    interpreted higher-order ``filter``, explode, object hash
    aggregation (``count``, ``collect_list``) and a tiny parquet
    write+read — over a few thousand SYNTHETIC rows (spark.range; no
    input data touched).  Only what survives the optimizer runs: a
    column nothing downstream reads is pruned.  No ``lower`` runs here,
    so the ICU case-mapping table, were its setting ever turned back on,
    would not be built inside set-up either.
    It compiles 24 Janino classes, none of which the KG chain reuses:
    what it warms is class loading and the JIT of the shared execution
    code.  On 4 cores it takes about 6.5 s of ``get_spark``'s 13 s
    wall, and removing it raised ``mention_dense``'s cold-pass CPU by
    21 % in an earlier ablation.  Guarded by a conf flag so repeated
    get_spark calls warm once."""
    try:
        if spark.conf.get("spark.snorkel.engineWarm", None):
            return
    except Exception as e:
        log.warning("engine warm-up: session conf unreadable: %r", e)
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        df = (
            spark.range(0, 2000, 1, 8)
            .selectExpr("cast(id as string) as s", "id % 7 as k")
            .selectExpr("s", "k", "split(concat_ws(' ', s, s, 'a b c'), '\\\\s+') as toks")
            .selectExpr("s", "k", "filter(toks, t -> t != '') as toks")
            .select("k", F.explode("toks").alias("tok"))
        )
        df.groupBy("k").agg(F.count("*"), F.collect_list("tok")).write.format(
            "noop"
        ).mode("overwrite").save()
        d = tempfile.mkdtemp(prefix="snorkel_warm_")
        try:
            spark.range(0, 100, 1, 4).selectExpr("id", "cast(id as string) s").write.mode(
                "overwrite"
            ).parquet(d)
            spark.read.parquet(d).count()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.snorkel.engineWarm", "1")
    except Exception as e:  # best-effort: never block the session
        log.warning("engine warm-up failed: %r", e)

