"""Python-worker daemon with the heavy scientific stack preimported.

Installed via ``spark.python.daemon.module`` (see ``session.get_spark``).
The daemon forks one process per worker; forked children inherit the
parent's loaded modules copy-on-write, so importing pandas/NumPy/Arrow
HERE — once, in the daemon — means every worker starts with them
already in memory instead of paying ~0.5–1 s of imports per worker
process (guide §4.5's heavyweight-init-once rule, applied at the
process-image level).  This also keeps sessions from needing a wide
warm-up fan-out that leaves a pool of idle resident workers behind.

Failure policy: the imports are best-effort — a broken/missing optional
package must never take down the worker machinery, so each is guarded
and a failure is logged.
"""

from snorkel_spark import log

for _mod in ("numpy", "pandas", "pyarrow", "pyarrow.pandas_compat"):
    try:
        __import__(_mod)
    except Exception as e:
        log.warning("worker daemon: preloading %s failed: %r", _mod, e)

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
