"""Session factory: the best-effort warm-up fails loudly, never
fatally; Python workers import the package without the driver's
PYTHONPATH being touched; a local driver JVM runs one C2 thread and
keeps the caller's Java options; ``lower`` never builds ICU's
case-mapping table; a ``cores`` string is a master URL unless it is a
core count."""

import logging
import os
import subprocess
import sys


class _BrokenSession:
    """Enough of a SparkSession for the warm-up to reach its work,
    which then fails."""

    class conf:
        @staticmethod
        def get(key, default=None):
            return default

    def range(self, *a, **k):
        raise RuntimeError("engine unavailable")


def test_warm_up_failure_logs_warning(caplog):
    from snorkel_spark.session import _warm_engine

    with caplog.at_level(logging.WARNING, logger="snorkel_spark"):
        _warm_engine(_BrokenSession())  # returns instead of raising
    msgs = [r.getMessage() for r in caplog.records if r.name == "snorkel_spark"]
    assert len(msgs) == 1, msgs
    assert "warm-up failed" in msgs[0] and "engine unavailable" in msgs[0]


# Runs in a fresh interpreter whose cwd is not the repo and whose
# environment has no PYTHONPATH: only sys.path (driver-side) finds the
# package, so a Python worker can import it only through the session.
_WORKER_IMPORTS = """
import sys
sys.path.insert(0, sys.argv[1])
import os
from snorkel_spark.functions.labeling import LF, apply_lfs
from snorkel_spark.session import get_spark

spark = get_spark(cores=2, extra={"spark.driver.extraJavaOptions": "-Dsnorkel.probe=1"})
assert "PYTHONPATH" not in os.environ, os.environ["PYTHONPATH"]
jvm = spark.sparkContext._jvm
hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
assert hotspot.getVMOption("CICompilerCount").getValue() == "2"
assert jvm.java.lang.System.getProperty("snorkel.probe") == "1"

# the rule lemma lowercases; with ICU case mapping on, the first lower
# in a JVM initializes CollationAwareUTF8String, which title-cases every
# code point
from snorkel_spark.operators.parser import parse_sentences

raw = spark.createDataFrame(
    [("d1", [("text", "ÉMILE ZOLA was", None, 0)])],
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
)
lemmas = [r["lemmas"] for r in parse_sentences(raw).select("lemmas").collect()]
assert lemmas == [["émile", "zola", "was"]], lemmas
assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
field = jvm.java.lang.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
field.setAccessible(True)
collation = jvm.java.lang.Class.forName(
    "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String", False,
    jvm.java.lang.Thread.currentThread().getContextClassLoader(),
)
assert field.get(None).shouldBeInitialized(collation), "ICU case-mapping table was built"
rows = spark.createDataFrame(
    [("c1", "married"), ("c2", "brother of")], "candidate_id string, text_between string"
)
# the LF instance is pickled by reference to its class, so the Python
# worker must import snorkel_spark to run it
lf = LF(0, "lf_married", lambda p: p["text_between"].str.contains("married").astype(int))
got = {tuple(r) for r in apply_lfs(rows, [lf], fault_tolerant=False).collect()}
assert got == {("c1", 0, 1)}, got
spark.stop()
"""


def test_python_workers_import_package_without_driver_pythonpath(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORTS, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_cores_string_is_a_master_url_unless_a_core_count():
    from snorkel_spark.session import master_url

    assert master_url(4) == "local[4]"
    assert master_url("4") == "local[4]"
    assert master_url("*") == "local[*]"
    for url in ("local[2]", "local", "spark://h:7077", "yarn", "k8s://https://h:6443",
                "mesos://h:5050"):
        assert master_url(url) == url
