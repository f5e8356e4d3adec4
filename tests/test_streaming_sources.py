"""Streaming ops (batch == streaming under AvailableNow) and the S1–S4
corpus preprocessors."""

import os

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF, plan_nodes


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_windowed_counts_batch_vs_streaming(spark, events, tmp_path_factory):
    from snorkel_spark.streaming.events import (
        run_stream_to_memory, windowed_counts, windowed_counts_streaming,
    )

    batch = windowed_counts(events)
    sdf = windowed_counts_streaming(spark, f"{SF}/events.parquet")
    got = run_stream_to_memory(spark, sdf, "wc_test")
    assert batch.exceptAll(got).count() == 0
    assert got.exceptAll(batch).count() == 0


def test_sessionize(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 10)),
        (1, dt.datetime(2024, 1, 1, 2, 0)),   # gap > 30min → new session
        (2, dt.datetime(2024, 1, 1, 5, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    from snorkel_spark.streaming.events import sessionize

    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in sessionize(df).collect()}
    assert got == {1: (2, 3), 2: (1, 1)}


def test_tsv_and_text_preprocessors(spark, tmp_path_factory):
    from snorkel_spark.sources.preprocessors import (
        csv_paths_preprocessor, text_doc_preprocessor, tsv_doc_preprocessor,
    )

    d = tmp_path_factory.mktemp("docs")
    tsv = d / "docs.tsv"
    tsv.write_text("doc1\thello world\ndoc2\tsecond doc\n")
    out = tsv_doc_preprocessor(spark, str(tsv))
    assert {(r["doc_id"], r["text"]) for r in out.collect()} == {
        ("doc1", "hello world"), ("doc2", "second doc"),
    }
    assert tsv_doc_preprocessor(spark, str(tsv), max_docs=1).count() == 1

    (d / "a.txt").write_text("file a text")
    (d / "b.txt").write_text("file b text")
    out2 = text_doc_preprocessor(spark, str(d / "*.txt"))
    got = {(r["doc_id"], r["text"]) for r in out2.collect()}
    assert got == {("a.txt", "file a text"), ("b.txt", "file b text")}

    paths = d / "paths.csv"
    paths.write_text(f"{d}/a.txt\n{d}/b.txt\n")
    out3 = csv_paths_preprocessor(spark, str(paths))
    assert out3.count() == 2


def test_xml_preprocessor(spark, tmp_path_factory):
    from snorkel_spark.sources.preprocessors import xml_multidoc_preprocessor

    d = tmp_path_factory.mktemp("xml")
    (d / "c.xml").write_text(
        "<collection>"
        "<document><id>d1</id><passage>text one</passage><passage>more</passage></document>"
        "<document><id>d2</id><passage>text two</passage></document>"
        "</collection>"
    )
    out = xml_multidoc_preprocessor(spark, str(d / "*.xml"))
    got = {(r["doc_id"], r["text"]) for r in out.collect()}
    assert got == {("d1", "text one more"), ("d2", "text two")}


def test_hot_path_discipline():
    """BASELINE.md: no row-at-a-time Python UDFs / rdd.map in pipeline
    modules — only pandas/Arrow UDFs, mapInPandas, built-ins."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "snorkel_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if ".rdd.map(" in src or "F.udf(" in src or "@udf(" in src:
            offenders.append(str(p))
    assert offenders == []


def test_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionization ≡ batch sessionize: the
    GroupState-carried totals' final update equals the batch result."""
    import pyspark.sql.functions as F

    from snorkel_spark.streaming.events import (
        run_stream_updates_to_memory,
        sessionize,
        sessionize_stateful_streaming,
    )
    from tests.conftest import SF

    path = f"{SF}/events.parquet"
    batch = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in sessionize(spark.read.parquet(path)).collect()
    }
    sdf = sessionize_stateful_streaming(spark, path)
    mem = run_stream_updates_to_memory(spark, sdf, "sess_state")
    # keep the last update per user (multiple micro-batches possible)
    final = mem.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("n_sessions").alias("n_sessions")
    )
    got = {(r["user_id"], r["n_sessions"], r["n_events"]) for r in final.collect()}
    assert got == batch


def test_stateful_sessionize_out_of_order_chunks(spark, tmp_path):
    """Events delivered out of time order across MULTIPLE Arrow chunks
    of the same micro-batch must still sessionize like batch: the
    operator concatenates + sorts all chunks before the gap diff, so a
    tiny maxRecordsPerBatch (forcing many chunks per group) changes
    nothing."""
    import pyspark.sql.functions as F

    from snorkel_spark.streaming.events import (
        run_stream_updates_to_memory,
        sessionize,
        sessionize_stateful_streaming,
    )

    # one user, 12 events in 3 sessions (gap 30 min), written REVERSED
    ts = []
    base = 1_600_000_000
    for s in range(3):
        for i in range(4):
            ts.append(base + s * 7200 + i * 60)  # 2h between sessions
    rows = [(1, t) for t in reversed(ts)]
    df = spark.createDataFrame(rows, "user_id long, ts_s long").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    path = str(tmp_path / "ooo_events.parquet")
    df.coalesce(1).write.parquet(path)

    batch = {(r["user_id"], r["n_sessions"], r["n_events"])
             for r in sessionize(spark.read.parquet(path)).collect()}
    assert batch == {(1, 3, 12)}

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        sdf = sessionize_stateful_streaming(spark, path)
        mem = run_stream_updates_to_memory(spark, sdf, "sess_state_ooo")
        final = mem.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("n_sessions").alias("n_sessions"),
        )
        got = {(r["user_id"], r["n_sessions"], r["n_events"])
               for r in final.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == batch


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    """The watermark's actual late-data contract, exercised across
    micro-batches.  The contract is one-directional: a window is
    GUARANTEED finalized (emitted, state evicted) once the watermark
    passes its end, and a late row is GUARANTEED dropped only once its
    window's state is gone — a late row arriving while the state still
    lingers may legally merge.  So the drop needs three batches:
    batch 1 seeds two windows, batch 2's fresh row advances the
    watermark past both (evicting them), batch 3 delivers a row into
    an evicted window — dropped — while batch 2's own window stays
    withheld in state forever (never finalized).  Append-mode output
    therefore differs from the all-data batch aggregation in exactly
    those two rows — single-batch drains (every other streaming test)
    can never show any of this."""
    import os
    from datetime import datetime

    from snorkel_spark.streaming.events import (
        run_stream_append_to_memory,
        windowed_counts,
        windowed_counts_streaming,
    )

    def write_file(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, "ts timestamp, event_type string, value double") \
            .coalesce(1).write.parquet(p)
        return p

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    d1 = write_file("a", [(t(10, 0), "click", 1.0), (t(10, 1), "click", 1.0),
                          (t(10, 29), "click", 1.0)])
    d2 = write_file("b", [(t(11, 0), "click", 1.0)])   # advances wm to 10:55
    d3 = write_file("c", [(t(10, 2), "click", 1.0)])   # late: state evicted
    # one dir, three files; file-source batch order = modification time
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, d in enumerate((d1, d2, d3)):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{i}_{f}")
                os.rename(os.path.join(d, f), dst)
                os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    sdf = windowed_counts_streaming(
        spark, src, minutes=5, watermark="5 minutes", max_files_per_trigger=1
    )
    got = {
        (r["window_start"].strftime("%H:%M"), r["event_type"], r["n"])
        for r in run_stream_append_to_memory(spark, sdf, "wm_late").collect()
    }
    # 10:00 (n=2, WITHOUT the late 10:02 row) and 10:25 finalized when
    # the watermark hit 10:55; the 11:00 window is never emitted.
    assert got == {("10:00", "click", 2), ("10:25", "click", 1)}, got
    # the batch twin sees everything — the difference IS the late-drop
    allrows = spark.read.parquet(src)
    batch = {
        (r["window_start"].strftime("%H:%M"), r["event_type"], r["n"])
        for r in windowed_counts(allrows, minutes=5).collect()
    }
    assert batch == {("10:00", "click", 3), ("10:25", "click", 1),
                     ("11:00", "click", 1)}, batch


def test_asof_join_semantics(spark):
    """Pinned as-of contract: latest at-or-before right row per key;
    equal timestamps MATCH (>= convention, like DuckDB ASOF JOIN);
    left rows before any right row drop; carry resets per key."""
    from datetime import datetime

    from snorkel_spark.operators.temporal import asof_join

    t = lambda m: datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, t(0), 10.0),   # before any right row for key 1 → drops
         (1, t(5), 11.0),   # matches right @10:03 (w=7), not @10:06
         (1, t(6), 12.0),   # equal-ts right @10:06 visible → w=8
         (2, t(9), 13.0)],  # key 2 has its own carry → w=5
        "user_id int, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(1, t(3), 7.0), (1, t(6), 8.0), (2, t(1), 5.0)],
        "user_id int, ts timestamp, value double",
    )
    got = {
        (r["user_id"], r["ts"].minute): (r["r_ts"].minute, r["r_value"])
        for r in asof_join(left, right).collect()
    }
    assert got == {(1, 5): (3, 7.0), (1, 6): (6, 8.0), (2, 9): (1, 5.0)}, got


def test_range_join_bucketed_equals_naive(spark, events):
    """The bucketed band join returns EXACTLY the naive theta-join's
    pairs (bucketing is candidate generation, the |dt| filter is
    exact), and its plan is an equi-join on the bucket key — no
    BroadcastNestedLoop/cartesian anywhere."""
    from snorkel_spark.operators.temporal import range_join_bucketed

    l = events.filter("event_type = 'signup'")
    r = events.filter("event_type = 'error'")
    got = range_join_bucketed(l, r, window_sec=150)
    naive = (
        l.selectExpr("cast(ts as timestamp) ts", "cast(value as double) value")
        .join(
            r.selectExpr("cast(ts as timestamp) r_ts", "cast(value as double) r_value"),
            F.expr("abs(unix_micros(ts) - unix_micros(r_ts)) <= 150000000"),
        )
    )
    assert got.count() == naive.count() > 0
    assert got.exceptAll(naive).count() == 0
    names = [n for n, _ in plan_nodes(got)]
    assert not [n for n in names if "NestedLoop" in n or "Cartesian" in n], names


# ---------------------------------------------------------- as-of join
@pytest.fixture(scope="module")
def skewed_events(spark):
    """One mega-key (u0: 600 left / 150 right rows over 50 h — spans
    many 1 h buckets, with right-empty gaps that exercise the
    cross-bucket carry) plus normal keys, plus a key with left rows
    BEFORE any right row (inner-drop case) and same-timestamp
    collisions (at-timestamp visibility case)."""
    rows = []
    base = 1_700_000_000
    for i in range(600):  # mega key left
        rows.append(("u0", base + i * 300, float(i), "L"))
    for i in range(150):  # mega key right: every 20 min, first 50 h... then silence
        rows.append(("u0", base + i * 1200, float(1000 + i), "R"))
    for k in range(1, 4):  # normal keys
        for i in range(10):
            rows.append((f"u{k}", base + i * 7000 + k, float(i), "L"))
        for i in range(3):
            rows.append((f"u{k}", base + i * 21000 + k, float(100 + i), "R"))
    # left strictly before the only right row → must drop (inner)
    rows.append(("u9", base - 500, 7.0, "L"))
    rows.append(("u9", base + 500, 8.0, "R"))
    # same-timestamp left/right → right visible to that left row
    rows.append(("u8", base + 42, 1.0, "L"))
    rows.append(("u8", base + 42, 2.0, "R"))
    df = spark.createDataFrame(
        rows, "user_id string, epoch bigint, value double, side string"
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "value", "side"
    )
    return df.cache()


def _canon_asof(df):
    return sorted(
        (r["user_id"], r["ts"], r["value"], r["r_ts"], r["r_value"])
        for r in df.collect()
    )


def test_asof_bucketed_equals_window_on_skew(spark, skewed_events):
    from snorkel_spark.operators.temporal import asof_join, asof_join_bucketed

    left = skewed_events.filter("side = 'L'")
    right = skewed_events.filter("side = 'R'")
    plain = asof_join(left, right, key="user_id", ts_col="ts")
    for bucket_sec in (3600, 900):  # two widths: many buckets both ways
        bucketed = asof_join_bucketed(
            left, right, key="user_id", ts_col="ts", bucket_sec=bucket_sec
        )
        assert _canon_asof(bucketed) == _canon_asof(plain)
    got = _canon_asof(plain)
    # inner semantics: u9's too-early left row dropped
    assert not any(u == "u9" for u, *_ in got)
    # at-timestamp right row visible
    u8 = [r for r in got if r[0] == "u8"]
    assert len(u8) == 1 and u8[0][4] == 2.0
