"""Session factory: best-effort warm-ups fail loudly, never fatally."""

import logging


class _BrokenSession:
    """Enough of a SparkSession for the warm-ups to reach their work,
    which then fails."""

    class conf:
        @staticmethod
        def get(key, default=None):
            return default

    def range(self, *a, **k):
        raise RuntimeError("engine unavailable")


def test_warm_up_failure_logs_warning(caplog):
    from snorkel_spark.session import _warm_engine, _warm_python_workers

    with caplog.at_level(logging.WARNING, logger="snorkel_spark"):
        _warm_engine(_BrokenSession())  # returns instead of raising
        _warm_python_workers(_BrokenSession())
    msgs = [r.getMessage() for r in caplog.records if r.name == "snorkel_spark"]
    assert len(msgs) == 2, msgs
    assert all("warm-up failed" in m and "engine unavailable" in m for m in msgs)
