"""Streaming runner tests (SURVEY.md §2.8): the flagship CSV feed as a
drain-mode stream with source archival, plus the ST8 event-time operators
the reference lacks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelineetl_spark.operators.cleaning import clean_cell_metrics
from datapipelineetl_spark.schemas import CELL_METRICS_SCHEMA
from datapipelineetl_spark.streaming import runner

CSV_HEADER = (
    "Time,eNodeB Name,Cell Name,Frequency band,Downlink EARFCN,"
    "Downlink bandwidth,LocalCell Id,Latitude,Longitude,Integrity,"
    '"FT_UL.Interference","FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)",'
    '"FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)","FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)",'
    '"FT_4G/LTE CALL SETUP SUCCESS RATE"'
)
CSV_ROWS = [
    '07-04-2025 13:45,ENB1,CellA,B3,100,20,11,36.8,10.1,OK,2.25,1000.5,55.5,12,0.99',
    '07-04-2025 14:00,,CellB,B7,,,,,,OK," NIL ",,,,',
]


@pytest.fixture()
def csv_feed(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "report1.csv").write_text(CSV_HEADER + "\n" + "\n".join(CSV_ROWS) + "\n")
    return tmp_path


def test_csv_drain_with_archive(spark, csv_feed):
    """S1 + C1–C6 + ST3 + ST6: stream the CSV feed, clean, drain to parquet,
    verify the source archived the consumed file."""
    src = str(csv_feed / "in")
    archive = str(csv_feed / "done")
    out = str(csv_feed / "out")
    ckpt = str(csv_feed / "ckpt")

    stream = runner.read_file_stream(
        spark, src, "csv", CELL_METRICS_SCHEMA, archive_dir=archive, header="true"
    )
    assert stream.isStreaming

    runner.run_drain(
        stream,
        lambda df: clean_cell_metrics(df.drop("input_file")),
        checkpoint=ckpt,
        sink_path=out,
    )

    result = spark.read.parquet(out)
    rows = {r["Cell Name"]: r for r in result.collect()}
    assert rows["CellB"]["eNodeB Name"] == "N/A"
    assert rows["CellB"]["Latitude"] == 999.0
    assert rows["CellB"]["FT_UL_Interference"] == "0"
    assert rows["CellA"]["FT_UL_Interference"] == "2.25"
    # ST6: source-managed archival is asynchronous — consumed files are
    # moved when a later batch runs maintenance. Drop a second file, drain
    # again (same checkpoint), then the first file must be archived.
    (csv_feed / "in" / "report2.csv").write_text(
        CSV_HEADER + "\n" + CSV_ROWS[0] + "\n"
    )
    stream2 = runner.read_file_stream(
        spark, src, "csv", CELL_METRICS_SCHEMA, archive_dir=archive, header="true"
    )
    runner.run_drain(
        stream2,
        lambda df: clean_cell_metrics(df.drop("input_file")),
        checkpoint=ckpt,
        sink_path=out,
    )
    archived = [
        f for _, _, fs in os.walk(archive) for f in fs if f.endswith(".csv")
    ]
    assert "report1.csv" in archived
    assert "report1.csv" not in runner.audit_leftovers(src, "*.csv")


def test_processing_time_trigger_multi_batch(spark, csv_feed):
    """ST2: the reference's always-on shape — a processing-time trigger
    query stays live across micro-batches (file 1 in batch 0, file 2
    dropped while running picked up by a later trigger), then shuts down
    gracefully (ST9). Asserts ≥2 non-empty micro-batches committed and
    all rows landed exactly once."""
    import time

    src = str(csv_feed / "in")
    out = str(csv_feed / "out")
    ckpt = str(csv_feed / "ckpt")

    stream = runner.read_file_stream(
        spark, src, "csv", CELL_METRICS_SCHEMA, header="true",
        max_files_per_trigger=1, lineage=False,
    )
    q = runner.run_processing_time(
        stream,
        clean_cell_metrics,
        checkpoint=ckpt,
        sink_path=out,
        interval="200 milliseconds",
        query_name="st2_live",
    )
    try:
        def committed_batches() -> set[int]:
            return {
                p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0
            }

        deadline = time.monotonic() + 60
        while not committed_batches() and time.monotonic() < deadline:
            time.sleep(0.2)
        assert committed_batches(), "first micro-batch never committed"

        # drop a second file while the query is LIVE — a later trigger
        # must pick it up (the always-on semantics drain mode can't show)
        (csv_feed / "in" / "report2.csv").write_text(
            CSV_HEADER + "\n" + CSV_ROWS[0] + "\n"
        )
        while len(committed_batches()) < 2 and time.monotonic() < deadline:
            time.sleep(0.2)
        assert len(committed_batches()) >= 2, (
            f"second live micro-batch never committed: {q.recentProgress}"
        )
    finally:
        runner.stop_gracefully(q)

    assert not q.isActive
    result = spark.read.parquet(out)
    # 2 rows from report1 (batch 0) + 1 from report2 — exactly once
    assert result.count() == 3


def test_foreach_batch_skip_empty(spark, tmp_path):
    """ST1/P5: empty micro-batches short-circuit before the batch fn."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "empty.csv").write_text(CSV_HEADER + "\n")
    seen = []
    stream = runner.read_file_stream(
        spark, str(src), "csv", CELL_METRICS_SCHEMA, header="true", lineage=False
    )
    runner.run_foreach_batch(
        stream, lambda df, eid: seen.append(df.count()), checkpoint=str(tmp_path / "c")
    )
    assert seen == []


def test_windowed_aggregate_with_watermark(spark, tmp_path):
    """ST8: watermarked tumbling-window agg over an event-time stream."""
    pdir = str(tmp_path / "events")
    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:02:00", "click", 2.0),
        ("2024-01-01 00:07:00", "view", 3.0),
        ("2024-01-01 01:00:00", "click", 4.0),  # advances watermark, closes earlier windows
    ]
    df = spark.createDataFrame(rows, ["ts_s", "event_type", "value"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.coalesce(1).write.parquet(pdir)

    stream = spark.readStream.schema(df.schema).parquet(pdir)
    agg = runner.windowed_aggregate(
        stream, "ts", "5 minutes", watermark="10 minutes",
        group_cols=("event_type",), aggs={"*": "count", "value": "sum"},
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("winagg")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window.start.minute, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert got[(0, "click")] == (2, 3.0)
    assert got[(5, "view")] == (1, 3.0)


def test_sliding_window_aggregate(spark, tmp_path):
    """ST8: sliding windows — each event lands in window_duration/slide
    overlapping windows."""
    pdir = str(tmp_path / "ev_slide")
    rows = [
        ("2024-01-01 00:03:00", "click", 1.0),
        ("2024-01-01 01:00:00", "click", 9.0),  # watermark advance
    ]
    df = spark.createDataFrame(rows, ["ts_s", "event_type", "value"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.coalesce(1).write.parquet(pdir)
    stream = spark.readStream.schema(df.schema).parquet(pdir)
    agg = runner.windowed_aggregate(
        stream, "ts", "10 minutes", slide="5 minutes", watermark="1 minute",
        group_cols=("event_type",), aggs={"*": "count"},
    )
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName("slide")
        .option("checkpointLocation", str(tmp_path / "cks"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    starts = sorted(
        (r.window.start.hour, r.window.start.minute)
        for r in spark.sql("SELECT * FROM slide").collect()
        if r.window.start.day == 31 or r.window.start.hour == 0
    )
    # 00:03 event → windows [23:55,00:05) (prev day) and [00:00,00:10)
    assert starts == [(0, 0), (23, 55)]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): state must carry
    across micro-batches (two files × maxFilesPerTrigger=1 → two batches)."""
    pdir = tmp_path / "ev_state"
    pdir.mkdir()
    schema = "user_id long, value double, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, ["user_id", "value", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(str(pdir / name))

    write_file("f1", [(1, 2.0, "2024-01-01 00:01:00"), (2, 5.0, "2024-01-01 00:02:00")])
    write_file("f2", [(1, 3.0, "2024-01-01 00:30:00")])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(pdir / "*"))
    )
    totals = runner.stateful_running_totals(stream, "user_id", "value", "ts")
    q = (
        totals.writeStream.outputMode("update").format("memory").queryName("totals")
        .option("checkpointLocation", str(tmp_path / "ckst"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM totals"
    ).collect()
    latest = {}
    for r in rows:  # update mode appends per batch; last write wins per key
        latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (2, 5.0)
    assert latest[2] == (1, 5.0)


def test_stateful_running_totals_ttl_expires_idle_keys(spark, tmp_path):
    """Event-time TTL: a key idle past last_event + ttl (proven by the
    watermark) emits a final expired=True row and its state is DROPPED —
    a later event for the same key restarts the totals from zero. This
    is what bounds state size on unbounded key spaces."""
    pdir = tmp_path / "ev_ttl"
    pdir.mkdir()
    schema = "user_id long, value double, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, ["user_id", "value", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(str(pdir / name))

    def drain(qname):
        # foreachBatch, not the memory sink: the memory sink cannot
        # recover from an existing checkpoint, and this test restarts
        # the query three times against the same state store
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(pdir / "*"))
        )
        totals = runner.stateful_running_totals(
            stream, "user_id", "value", "ts", watermark="1 minute", ttl="10 minutes"
        )
        rows = []

        def sink(df, _bid):
            rows.extend(df.collect())

        q = (
            totals.writeStream.outputMode("update").foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_ttl"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return rows

    # run 1: key 1 accumulates two events
    write_file("f1", [(1, 2.0, "2024-01-01 00:01:00")])
    write_file("f2", [(1, 3.0, "2024-01-01 00:02:00")])
    rows = drain("ttl_run1")
    live = [r for r in rows if not r.expired]
    assert live and max(r.n_events for r in live if r.user_id == 1) == 2

    # run 2: only key 2, an hour later → watermark passes key 1's
    # last_event + ttl → key 1 must emit its final expired row
    write_file("f3", [(2, 7.0, "2024-01-01 01:00:00")])
    rows = drain("ttl_run2")
    exp = [r for r in rows if r.expired]
    assert any(r.user_id == 1 and r.n_events == 2 and r.total_value == 5.0 for r in exp)

    # run 3: key 1 reappears → totals restart from zero (state was dropped)
    write_file("f4", [(1, 9.0, "2024-01-01 01:30:00")])
    rows = drain("ttl_run3")
    k1 = [r for r in rows if r.user_id == 1 and not r.expired]
    assert any(r.n_events == 1 and r.total_value == 9.0 for r in k1)


def test_idempotent_sink_replay_no_duplicates(spark, tmp_path):
    """Exactly-once file sink: replaying batches (checkpoint wiped) must
    not duplicate rows — the batch-id partition is overwritten."""
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ckpt")
    spark.range(10).coalesce(1).write.parquet(src)

    def drain():
        stream = spark.readStream.schema("id long").parquet(src)
        runner.idempotent_parquet_sink(stream, out, ck)

    drain()
    assert spark.read.parquet(out).count() == 10
    shutil.rmtree(ck)  # simulate checkpoint loss → full replay
    drain()
    assert spark.read.parquet(out).count() == 10  # rewritten, not appended


def test_sink_writes_never_set_session_conf(spark, tmp_path, monkeypatch):
    """Neither ``overwrite_partitions`` nor a runner sink's epoch write
    sets a session conf: the dynamic mode is a writer option, so
    concurrent queries in one session cannot interleave it."""
    from pyspark.sql.conf import RuntimeConfig

    from datapipelineetl_spark.sinks import maintenance

    keys = []
    orig = RuntimeConfig.set

    def record(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    maintenance.overwrite_partitions(
        spark.range(4).withColumn("day", F.col("id") % 2), str(tmp_path / "t"), ["day"]
    )
    src = str(tmp_path / "src")
    spark.range(3).coalesce(1).write.parquet(src)
    runner.idempotent_parquet_sink(
        spark.readStream.schema("id long").parquet(src), str(tmp_path / "sink"),
        str(tmp_path / "ck"),
    )
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 3
    assert "spark.sql.sources.partitionOverwriteMode" not in keys


def test_runner_sink_compiles_nothing_new_per_epoch(spark, tmp_path):
    """Later epochs of a runner sink reuse every generated class of the
    first: no per-epoch literal reaches the plan. The source files are
    written before the counted window, because ``spark.range`` with new
    bounds compiles on its own."""
    import shutil

    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    src, out, ck = (str(tmp_path / n) for n in ("src", "out", "ck"))
    staged = []
    for i in range(4):
        stage = tmp_path / f"stage{i}"
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(str(stage))
        staged.append(next(stage.glob("part-*.parquet")))
    os.makedirs(src)

    def drain(i):
        shutil.move(str(staged[i]), os.path.join(src, f"f{i}.parquet"))
        runner.idempotent_parquet_sink(spark.readStream.schema("id long").parquet(src), out, ck)

    drain(0)
    before = cm.METRIC_COMPILATION_TIME().getCount()
    for i in (1, 2, 3):
        drain(i)
    assert cm.METRIC_COMPILATION_TIME().getCount() == before
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert sorted(r[0] for r in got.select("__batch_id").distinct().collect()) == [0, 1, 2, 3]


def test_write_epoch_replaces_only_its_epoch(spark, tmp_path):
    """``_write_epoch`` on a store of several epochs: rewriting epoch 0
    replaces epoch 0 alone, and an empty frame leaves an epoch that reads
    back as zero rows with the store's schema."""
    store = str(tmp_path / "store")

    def frame(ids):
        return spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, v string")

    def rows():
        return sorted((r["__batch_id"], r["id"], r["v"]) for r in spark.read.parquet(store).collect())

    runner._write_epoch(frame([1, 2]), store, 0)
    runner._write_epoch(frame([3]), store, 1)
    runner._write_epoch(frame([4, 5]), store, 0)
    assert rows() == [(0, 4, "v4"), (0, 5, "v5"), (1, 3, "v3")]
    runner._write_epoch(frame([]), store, 2)
    assert rows() == [(0, 4, "v4"), (0, 5, "v5"), (1, 3, "v3")]
    got = spark.read.parquet(store)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("id", "bigint"), ("v", "string"), ("__batch_id", "int")
    ]
    assert got.filter("__batch_id = 2").count() == 0
    assert os.path.isdir(os.path.join(store, "__batch_id=2"))


def test_observe_quality_metrics_in_stream(spark, tmp_path):
    """observe(): per-micro-batch row/null counters ride the write —
    no second pass (the row-level ST7 audit)."""
    pdir = str(tmp_path / "obs")
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], ["k", "s"]
    ).coalesce(1).write.parquet(pdir)
    stream = spark.readStream.schema("k long, s string").parquet(pdir)
    observed = runner.observe_quality(stream, null_cols=("s",))
    q = (
        observed.writeStream.outputMode("append").format("memory").queryName("obs")
        .option("checkpointLocation", str(tmp_path / "cko"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p.observedMetrics]
    metrics = progresses[-1].observedMetrics["quality"]
    assert metrics.n_rows == 3 and metrics.n_null_s == 1


def test_session_aggregate_stream(spark, tmp_path):
    """Event-time session windows: a >gap pause splits sessions; the
    watermark closes expired ones."""
    pdir = str(tmp_path / "sess")
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # session A (2 events)
        (1, "2024-01-01 01:30:00"),                               # session B
        (2, "2024-01-01 00:05:00"),                               # session C
        (1, "2024-01-01 05:00:00"),                               # watermark advance
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.coalesce(1).write.parquet(pdir)
    stream = spark.readStream.schema(df.schema).parquet(pdir)
    sessions = runner.session_aggregate(
        stream, "ts", gap="30 minutes", watermark="1 minute", group_cols=("user_id",)
    )
    q = (
        sessions.writeStream.outputMode("append").format("memory").queryName("sess")
        .option("checkpointLocation", str(tmp_path / "cksess"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start.hour, r.session_start.minute): r.n_events
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert got[(1, 0, 0)] == 2
    assert got[(1, 1, 30)] == 1
    assert got[(2, 0, 5)] == 1


def test_interval_join_streams(spark, tmp_path):
    """Stream-stream join with event-time interval bound: click joins the
    impression that preceded it by ≤15 min on the same user."""
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    schema = "user_id long, ts timestamp"

    def mk(path, rows):
        spark.createDataFrame(rows, ["user_id", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(path)

    mk(imp_dir, [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")])
    mk(clk_dir, [(1, "2024-01-01 00:05:00"),   # within 15 min → match
                 (2, "2024-01-01 00:40:00")])  # 40 min later → no match
    imp = spark.readStream.schema(schema).parquet(imp_dir).withColumnRenamed("ts", "imp_ts")
    clk = spark.readStream.schema(schema).parquet(clk_dir).withColumnRenamed("ts", "click_ts")
    joined = runner.interval_join_streams(
        clk, imp, on="user_id", left_ts="click_ts", right_ts="imp_ts",
        watermark="1 minute", max_lag="15 minutes",
    )
    q = (
        joined.writeStream.outputMode("append").format("memory").queryName("ssjoin")
        .option("checkpointLocation", str(tmp_path / "ckj"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.user_id for r in spark.sql("SELECT user_id FROM ssjoin").collect()}
    assert got == {1}


def test_interval_join_streams_left_outer(spark, tmp_path):
    """Stream-stream LEFT OUTER: unmatched left rows must emit (with null
    right side) once the watermark proves no match can arrive."""
    imp_dir, clk_dir = str(tmp_path / "imp2"), str(tmp_path / "clk2")
    schema = "user_id long, ts timestamp"

    def mk(path, rows):
        spark.createDataFrame(rows, ["user_id", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(path)

    mk(imp_dir, [(1, "2024-01-01 00:00:00"), (9, "2024-01-01 10:00:00")])
    mk(clk_dir, [(1, "2024-01-01 00:05:00"),   # matches imp
                 (2, "2024-01-01 00:06:00"),   # no imp → null row
                 (3, "2024-01-01 09:59:00")])  # watermark advance
    imp = spark.readStream.schema(schema).parquet(imp_dir).withColumnRenamed("ts", "imp_ts")
    clk = spark.readStream.schema(schema).parquet(clk_dir).withColumnRenamed("ts", "click_ts")
    joined = runner.interval_join_streams(
        clk, imp, on="user_id", left_ts="click_ts", right_ts="imp_ts",
        watermark="1 minute", max_lag="15 minutes", how="leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append").format("memory").queryName("ssjoin2")
        .option("checkpointLocation", str(tmp_path / "ckj2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r.user_id: r.imp_ts
        for r in spark.sql("SELECT user_id, imp_ts FROM ssjoin2").collect()
    }
    assert got[1] is not None
    assert 2 in got and got[2] is None


def test_stateful_totals_on_rocksdb_state_store(spark, tmp_path):
    """The custom stateful operator must run unchanged on the RocksDB
    state-store provider — the production backend at 100 TB (keyed state
    spills to disk instead of living on the JVM heap). Engagement is
    proven from the query's own metrics, not just the conf."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = [
            ("2024-01-01 00:01:00", 1, 10.0),
            ("2024-01-01 00:02:00", 1, 5.0),
            ("2024-01-01 00:03:00", 2, 1.0),
        ]
        df = spark.createDataFrame(rows, ["ts_s", "k", "v"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        df.coalesce(1).write.parquet(str(tmp_path / "in"))
        stream = spark.readStream.schema(df.schema).parquet(str(tmp_path / "in"))
        out = runner.stateful_running_totals(stream, "k", "v", "ts")
        q = (
            out.writeStream.outputMode("update").format("memory").queryName("rdb")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            r.k: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM rdb").collect()
        }
        assert got == {1: (2, 15.0), 2: (1, 1.0)}
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any(name.startswith("rocksdb") for name in metrics), (
            f"RocksDB provider not engaged; state metrics: {sorted(metrics)[:5]}"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_interval_join_drops_late_rows_after_watermark(spark, tmp_path):
    """State-timeout edge cases across a restart on the same checkpoint:
    once the global watermark has advanced, (a) a late LEFT row and (b) a
    late RIGHT row are dropped by the watermark filter — neither produces
    a match, even though their event times satisfy the join interval.
    This is the state-eviction contract that bounds the join's state to
    O(rate × (watermark + max_lag)) on unbounded streams."""
    imp_dir, clk_dir = str(tmp_path / "imp3"), str(tmp_path / "clk3")
    ck = str(tmp_path / "ckj3")
    schema = "user_id long, ts timestamp"

    def mk(path, name, rows):
        spark.createDataFrame(rows, ["user_id", "ts_s"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(path)

    out_dir = str(tmp_path / "out3")

    def drain(_qname):
        imp = spark.readStream.schema(schema).parquet(imp_dir).withColumnRenamed("ts", "imp_ts")
        clk = spark.readStream.schema(schema).parquet(clk_dir).withColumnRenamed("ts", "click_ts")
        joined = runner.interval_join_streams(
            clk, imp, on="user_id", left_ts="click_ts", right_ts="imp_ts",
            watermark="1 minute", max_lag="15 minutes",
        )
        # parquet sink (memory sink cannot recover from a checkpoint, and
        # the restart-on-same-checkpoint IS the thing under test)
        q = (
            joined.writeStream.outputMode("append").format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r.user_id for r in spark.read.parquet(out_dir).collect()}

    # drain 1: one matchable pair + watermark pushers at 02:00 on BOTH
    # sides (global watermark = min over inputs) → watermark ≈ 01:59
    mk(imp_dir, "i1", [(1, "2024-01-01 00:00:00"), (98, "2024-01-01 02:00:00")])
    mk(clk_dir, "c1", [(1, "2024-01-01 00:05:00"), (99, "2024-01-01 02:00:00")])
    got1 = drain("ssjoin3a")
    assert 1 in got1

    # drain 2: LATE left (click ts 00:06 ≪ watermark; its imp is long
    # evicted) and LATE right (imp ts 01:58 < watermark) + an on-time
    # click at 02:05 whose interval [01:50, 02:05] would cover that imp
    # had it arrived on time. Both must be dropped: no user-2, no user-3.
    mk(clk_dir, "c2", [(2, "2024-01-01 00:06:00"), (3, "2024-01-01 02:05:00")])
    mk(imp_dir, "i2", [(2, "2024-01-01 00:00:30"), (3, "2024-01-01 01:58:00")])
    got2 = drain("ssjoin3b")
    assert 2 not in got2, "late left row escaped the watermark filter"
    assert 3 not in got2, "late right row revived evicted-state semantics"


def test_continuous_rollup_incremental_equals_batch(spark, tmp_path):
    """Streaming continuous aggregate: per-batch partials folded at read
    time must equal the one-shot batch rollup over the same events, with
    the partial store actually holding MULTIPLE batch partitions (i.e.
    the aggregate really accumulated incrementally, replay-safely)."""
    src = str(tmp_path / "ev_in")
    store = str(tmp_path / "rollup_store")
    rows1 = [("2024-01-01 00:10:00", "click", 1.0), ("2024-01-01 00:40:00", "click", 2.0)]
    rows2 = [("2024-01-01 01:10:00", "view", 4.0), ("2024-01-02 03:00:00", "click", 8.0)]

    def mk(rows):
        spark.createDataFrame(rows, ["ts_s", "event_type", "value"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)

    mk(rows1)
    mk(rows2)
    schema = "event_type string, value double, ts timestamp"
    stream = runner.read_file_stream(
        spark, src, "parquet", T._parse_datatype_string(schema),
        max_files_per_trigger=1, lineage=False,
    )
    q = runner.continuous_rollup(
        stream, "ts", ["event_type"], "value", store, str(tmp_path / "ckroll")
    )
    q.awaitTermination()

    served = {
        (r.grain, r.bucket_ts, r.event_type): (r.n_events, r.sum_value)
        for r in runner.read_rollup(spark, store, ["event_type"]).collect()
    }
    # one-shot batch reference over the identical rows
    ev = spark.read.parquet(src).select(
        F.date_trunc("hour", "ts").alias("h"), F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"), "event_type", "value",
    )
    grain = (
        F.when(F.grouping("h") == 0, F.lit("hour"))
        .when(F.grouping("d") == 0, F.lit("day")).otherwise(F.lit("month"))
    )
    ref = {
        (r.grain, r.bucket_ts, r.event_type): (r.n_events, r.sum_value)
        for r in ev.groupingSets(
            [["h", "event_type"], ["d", "event_type"], ["m", "event_type"]],
            "h", "d", "m", "event_type",
        ).agg(
            grain.alias("grain"), F.coalesce("h", "d", "m").alias("bucket_ts"),
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"),
        ).collect()
    }
    assert served == ref and len(served) > 5
    # incrementality: the store holds one partial partition per micro-batch
    batches = {r["__batch_id"] for r in
               spark.read.parquet(store).select("__batch_id").distinct().collect()}
    assert len(batches) >= 2


def test_orc_file_stream_drain(spark, tmp_path):
    """read_file_stream is format-generic: an ORC feed drains through the
    same source-managed path as CSV/JSON/parquet (S1/S2 machinery is one
    implementation, N formats)."""
    src = str(tmp_path / "orc_in")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    df.coalesce(1).write.orc(src)
    stream = runner.read_file_stream(
        spark, src, "orc", df.schema, max_files_per_trigger=None, lineage=False
    )
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("orcdr")
        .option("checkpointLocation", str(tmp_path / "ckorc"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.k, r.s) for r in spark.sql("SELECT * FROM orcdr").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_dedupe_stream_within_watermark(spark, tmp_path):
    pdir = str(tmp_path / "dups")
    rows = [
        ("2024-01-01 00:01:00", 1), ("2024-01-01 00:02:00", 1),
        ("2024-01-01 00:03:00", 2),
    ]
    df = spark.createDataFrame(rows, ["ts_s", "k"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.coalesce(1).write.parquet(pdir)
    stream = spark.readStream.schema(df.schema).parquet(pdir)
    dd = runner.dedupe_stream(stream, ("k",), "ts")
    q = (
        dd.writeStream.outputMode("append").format("memory").queryName("dd")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted(r.k for r in spark.sql("SELECT k FROM dd").collect()) == [1, 2]


def test_stateful_running_totals_string_key(spark, tmp_path):
    """The output key field must mirror the stream's key type — string
    keys previously hit the hardcoded LongType and died in Arrow."""
    pdir = tmp_path / "ev_state_str"
    pdir.mkdir()
    spark.createDataFrame(
        [("alice", 2.0, "2024-01-01 00:01:00"), ("bob", 5.0, "2024-01-01 00:02:00")],
        ["user", "value", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(1).write.parquet(
        str(pdir / "f1")
    )
    stream = (
        spark.readStream.schema("user string, value double, ts timestamp")
        .parquet(str(pdir / "*"))
    )
    totals = runner.stateful_running_totals(stream, "user", "value", "ts")
    q = (
        totals.writeStream.outputMode("update").format("memory").queryName("totals_str")
        .option("checkpointLocation", str(tmp_path / "ckst2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.user: (r.n_events, r.total_value)
           for r in spark.sql("SELECT * FROM totals_str").collect()}
    assert got == {"alice": (1, 2.0), "bob": (1, 5.0)}


def test_eval_gram_store_column_binding(spark):
    """ADVICE r6 low: the eval-gram store's id column is inferred only
    for an unambiguous two-column store; custom gram_col and extra
    columns must be named explicitly instead of silently binding the
    wrong column as the eval id."""
    import pytest as _pytest

    two = spark.createDataFrame([(1, 42)], ["eval_doc", "__g"])
    assert runner._eval_gram_store(two, None, "__g").columns == [
        "__eval_id", "__g"
    ]
    custom = spark.createDataFrame([(1, 42)], ["eval_doc", "gram"])
    # default gram_col no longer silently binds 'gram' as the eval id
    with _pytest.raises(ValueError, match="gram column"):
        runner._eval_gram_store(custom, None, "__g")
    assert runner._eval_gram_store(custom, None, "gram").columns == [
        "__eval_id", "__g"
    ]
    extra = spark.createDataFrame([(1, 42, "x")], ["eval_doc", "__g", "note"])
    with _pytest.raises(ValueError, match="eval-id"):
        runner._eval_gram_store(extra, None, "__g")
    out = runner._eval_gram_store(extra, "eval_doc", "__g")
    assert out.columns == ["__eval_id", "__g"]
    with _pytest.raises(ValueError, match="eval_id_col"):
        runner._eval_gram_store(extra, "nope", "__g")


def test_streaming_decontaminate_matches_batch_operator(spark, tmp_path):
    """Streaming decontamination (foreachBatch vs a static eval-side
    n-gram store) must drop exactly the docs the BATCH operator
    (corpus.contaminated_ids, oracle-checked) drops, write clean rows
    exactly-once, and audit the dropped pairs."""
    import shutil

    from datapipelineetl_spark.operators import corpus

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    eval_df = spark.createDataFrame(
        [(900, leak + " held out tail"),
         (901, "totally different evaluation prompt nothing shared here at all")],
        ["doc_id", "text"],
    )
    train_rows = [
        (1, leak + " crawled page one"),            # contaminated
        (2, "clean document about something else entirely unrelated words"),
        (3, "another clean page with its own vocabulary and phrasing style"),
        (4, leak + " scraped elsewhere too"),        # contaminated
    ]
    src = str(tmp_path / "src")
    out = str(tmp_path / "clean")
    dropped = str(tmp_path / "dropped")
    ck = str(tmp_path / "ckpt")
    spark.createDataFrame(train_rows, ["doc_id", "text"]).coalesce(2).write.parquet(src)

    eval_grams = corpus.ngram_hashes(eval_df, n=8)

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        runner.streaming_decontaminate(
            stream, eval_grams, out, ck, n=8, dropped_dir=dropped
        )

    drain()
    clean_ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    batch_bad = {
        r.doc_id
        for r in corpus.contaminated_ids(
            spark.createDataFrame(train_rows, ["doc_id", "text"]),
            eval_df, n=8, side="train",
        ).collect()
    }
    assert batch_bad == {1, 4}
    assert clean_ids == {2, 3}  # streaming drops exactly the batch set
    audit = {(r.doc_id, r.eval_id) for r in spark.read.parquet(dropped).collect()}
    assert audit == {(1, 900), (4, 900)}
    # exactly-once: checkpoint loss → replay rewrites, never duplicates
    shutil.rmtree(ck)
    drain()
    assert spark.read.parquet(out).count() == 2


def test_streaming_near_dup_filter_incremental_state(spark, tmp_path):
    """Incremental streaming dedup: batch 2's near-dup of a batch-1
    ACCEPTED doc is dropped via the persisted LSH state; within-batch
    dups keep the min-id representative; checkpoint-loss replay
    reproduces the same store without duplicating state or output."""
    import shutil

    base = "the quick brown fox jumps over the lazy dog by the river today"
    other = "completely different text about compilers and type systems here now"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "accepted")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ckpt")
    dropped = str(tmp_path / "dropped")

    def run():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src))
        runner.streaming_near_dup_filter(
            stream, state, out, ck, threshold=0.7, dropped_dir=dropped
        )

    def drop_file(df, name):
        # the file source does not recurse into subdirectories: stage the
        # parquet write, then move its part file to the source root
        import shutil as _sh

        stage = src.parent / ("stage_" + name)
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        _sh.move(str(part), str(src / name))
        _sh.rmtree(stage)

    # batch 1: an intra-batch dup pair (1,2) + a distinct doc (3)
    drop_file(
        spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, other)], ["doc_id", "text"]
        ),
        "b1.parquet",
    )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}

    # batch 2: near-dup of ACCEPTED doc 1 (drop), fresh doc (keep)
    drop_file(
        spark.createDataFrame(
            [(10, base + " again"), (11, "utterly novel content with unique words only")],
            ["doc_id", "text"],
        ),
        "b2.parquet",
    )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}
    # state holds only accepted docs' rows
    state_ids = {r.doc_id for r in spark.read.parquet(state + "/tokens").collect()}
    assert state_ids == {1, 3, 11}
    assert {r.doc_id for r in spark.read.parquet(dropped).collect()} == {2, 10}

    # replay both batches from scratch: same result, state not duplicated
    shutil.rmtree(ck)
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}
    toks = spark.read.parquet(state + "/tokens").collect()
    assert len(toks) == 3  # one row per accepted doc — replay overwrote


def test_streaming_near_dup_hashed_state_tokens(spark, tmp_path):
    """VERDICT r6 item 5: state_tokens='hashed' (+salt) keeps the same
    accept/drop decisions — Jaccard over keyed 60-bit token hashes
    equals Jaccard over tokens up to md5 collisions — while the tokens/
    store holds array<bigint>, no recoverable text."""
    base = "the quick brown fox jumps over the lazy dog by the river today"
    other = "completely different text about compilers and type systems here now"
    src = tmp_path / "src"
    src.mkdir()
    out, state, ck = (str(tmp_path / n) for n in ("out", "state", "ck"))

    def run():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src))
        runner.streaming_near_dup_filter(
            stream, state, out, ck, threshold=0.7,
            state_tokens="hashed", state_token_salt="pepper",
        )

    def drop_file(df, name):
        import shutil as _sh

        stage = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(stage))
        _sh.move(str(next(stage.glob("part-*.parquet"))), str(src / name))
        _sh.rmtree(stage)

    drop_file(
        spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, other)], ["doc_id", "text"]
        ),
        "b1.parquet",
    )
    run()
    # cross-batch near-dup of accepted doc 1 must still be dropped
    drop_file(
        spark.createDataFrame(
            [(10, base + " again"), (11, "utterly novel content with unique words only")],
            ["doc_id", "text"],
        ),
        "b2.parquet",
    )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}
    toks = spark.read.parquet(state + "/tokens")
    assert dict(toks.dtypes)["__toks"] == "array<bigint>"  # no raw text

    # misconfiguration guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="state_tokens"):
        runner._near_dup_batch_state(
            spark.createDataFrame([(1, base)], ["doc_id", "text"]),
            0, state, "doc_id", "text", 0.7, 16, 4, 4, None,
            state_tokens="nope",
        )
    with _pytest.raises(ValueError, match="salt"):
        runner._near_dup_batch_state(
            spark.createDataFrame([(1, base)], ["doc_id", "text"]),
            0, state, "doc_id", "text", 0.7, 16, 4, 4, None,
            state_tokens="raw", state_token_salt="pepper",
        )


def test_streaming_near_dup_single_batch_matches_batch_ladder(spark, tmp_path):
    """The documented recovery contract: replaying the whole corpus as
    ONE batch reproduces the batch ladder's min-id-representative
    survivor set exactly (fixture documents, production cap config)."""
    from datapipelineetl_spark import catalog
    from datapipelineetl_spark.operators import dedup

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    runner.streaming_near_dup_filter(
        stream, str(tmp_path / "state"), out, str(tmp_path / "ck"),
        threshold=0.7, max_bucket_size=50,
    )
    streamed = {r.doc_id for r in spark.read.parquet(out).collect()}
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", threshold=0.7, max_bucket_size=50
    )
    losers = {
        r.doc_id
        for r in dedup.cluster_pairs(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .collect()
    }
    expected = {r.doc_id for r in docs.collect()} - losers
    assert streamed == expected


def test_compact_state_folds_partitions_and_preserves_dedup(spark, tmp_path):
    """State compaction: old batch partitions fold into one keyed by the
    highest merged id; subsequent batches still dedup against ALL
    previously accepted docs."""
    base = "the quick brown fox jumps over the lazy dog by the river today"
    src = tmp_path / "src"
    src.mkdir()
    out, state, ck = (str(tmp_path / n) for n in ("out", "state", "ck"))

    def drop_file(df, name):
        import shutil as _sh

        stage = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(stage))
        _sh.move(str(next(stage.glob("part-*.parquet"))), str(src / name))
        _sh.rmtree(stage)

    def run():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src))
        runner.streaming_near_dup_filter(stream, state, out, ck, threshold=0.7)

    drop_file(spark.createDataFrame([(1, base)], ["doc_id", "text"]), "b1.parquet")
    run()
    drop_file(
        spark.createDataFrame(
            [(2, "entirely different text about compilers and type systems here")],
            ["doc_id", "text"],
        ),
        "b2.parquet",
    )
    run()
    drop_file(
        spark.createDataFrame(
            [(3, "a third unrelated document mentioning streams state and parquet")],
            ["doc_id", "text"],
        ),
        "b3.parquet",
    )
    run()
    from pathlib import Path as _P

    import pytest as _pytest

    assert len(list((_P(state) / "tokens").glob("__batch_id=*"))) == 3
    # the newest partition may belong to an uncommitted epoch — folding
    # into it is forbidden (ADVICE r6: a replay would first ignore, then
    # overwrite, the folded history)
    with _pytest.raises(ValueError, match="keep_last"):
        runner.compact_state(spark, state, keep_last=0)
    folded = runner.compact_state(spark, state, keep_last=1)
    assert folded == 2  # one partition folded away per sub-store (bands, tokens)
    assert len(list((_P(state) / "tokens").glob("__batch_id=*"))) == 2
    # a later near-dup of doc 1 (folded partition) must STILL be caught
    drop_file(
        spark.createDataFrame([(4, base + " again")], ["doc_id", "text"]),
        "b4.parquet",
    )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 3}


def test_streaming_corpus_filter_single_pass(spark, tmp_path):
    """Combined ingest filter: one drain applies near-dup (cross-batch +
    within-batch) AND decontamination AND redaction; dropped rows carry
    their rejecting stage; state holds only docs that passed BOTH."""
    from datapipelineetl_spark.operators import corpus

    base = "the quick brown fox jumps over the lazy dog by the river today"
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa leaked"
    eval_grams = corpus.ngram_hashes(
        spark.createDataFrame([(900, leak + " held out")], ["doc_id", "text"]), n=8
    )
    src = tmp_path / "src"
    src.mkdir()
    out, state, ck = (str(tmp_path / n) for n in ("out", "state", "ck"))
    dropped = str(tmp_path / "dropped")

    def drop_file(df, name):
        import shutil as _sh

        stage = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(stage))
        _sh.move(str(next(stage.glob("part-*.parquet"))), str(src / name))
        _sh.rmtree(stage)

    def run():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src))
        runner.streaming_corpus_filter(
            stream, eval_grams, state, out, ck, threshold=0.7, n=8,
            dropped_dir=dropped,
        )

    # batch 1: keeper(1), its near-dup(2), contaminated(3 — email inside
    # to also check redaction happens only to accepted docs)
    drop_file(
        spark.createDataFrame(
            [(1, base), (2, base + " extra"),
             (3, leak + " crawled tail mail me a@b.co")],
            ["doc_id", "text"],
        ),
        "b1.parquet",
    )
    run()
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {1}
    # batch 2: near-dup of ACCEPTED 1 (drop), fresh clean doc with PII
    drop_file(
        spark.createDataFrame(
            [(10, base + " again"),
             (11, "fresh novel content mail x@y.io and nothing shared")],
            ["doc_id", "text"],
        ),
        "b2.parquet",
    )
    run()
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 11}
    assert "<EMAIL>" in got[11] and "@" not in got[11]  # redacted on accept
    reasons = {
        (r.doc_id, r.reason) for r in spark.read.parquet(dropped).collect()
    }
    assert reasons == {(2, "near_dup"), (3, "contaminated"), (10, "near_dup")}
    state_ids = {r.doc_id for r in spark.read.parquet(state + "/tokens").collect()}
    assert state_ids == {1, 11}  # contaminated doc 3 never entered state


def test_streaming_corpus_filter_normalize_stage(spark, tmp_path):
    """normalize=True: a later arrival differing from an accepted doc
    only by mojibake/CRLF spelling normalizes to the same token set and
    is dropped as a near-dup; without the stage it slips through."""
    from datapipelineetl_spark.operators import corpus

    base = "the quick brown fox cafÃ© jumps over the lazy dog by the river"
    variant = base.replace("cafÃ©", "café").replace(" ", "  ") \
        .replace("river", "river\r\n")
    eval_grams = corpus.ngram_hashes(
        spark.createDataFrame(
            [(900, "totally unrelated holdout content for the gram store")],
            ["doc_id", "text"],
        ),
        n=8,
    )
    for norm, expect in ((True, {1}), (False, {1, 2})):
        src = tmp_path / f"src_{norm}"
        src.mkdir()
        out, state, ck = (
            str(tmp_path / f"{n}_{norm}") for n in ("out", "state", "ck")
        )

        def drop_file(df, name, src=src):
            import shutil as _sh

            stage = tmp_path / f"stage_{norm}_{name}"
            df.coalesce(1).write.parquet(str(stage))
            _sh.move(str(next(stage.glob("part-*.parquet"))), str(src / name))
            _sh.rmtree(stage)

        def run(src=src, out=out, state=state, ck=ck, norm=norm):
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).option("maxFilesPerTrigger", "1").parquet(str(src))
            runner.streaming_corpus_filter(
                stream, eval_grams, state, out, ck,
                threshold=0.9, redact=False, normalize=norm,
            )

        drop_file(spark.createDataFrame([(1, base)], ["doc_id", "text"]),
                  "b1.parquet")
        run()
        drop_file(spark.createDataFrame([(2, variant)], ["doc_id", "text"]),
                  "b2.parquet")
        run()
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got == expect, (norm, got)


def test_streaming_lm_counts_incremental_fit(spark, tmp_path):
    """Streaming unigram-LM fit: per-batch partial token counts fold at
    read time into EXACTLY the batch fit's counts; unigram_logprob
    scores identically through lm_counts as through a direct fit; a
    checkpoint-loss replay rewrites partitions instead of
    double-counting."""
    import shutil

    from datapipelineetl_spark.operators import text as text_ops

    rows = [(1, "a a b"), (2, "b c"), (3, "a c c d")]
    src = str(tmp_path / "src")
    store = str(tmp_path / "lm_store")
    ck = str(tmp_path / "ckpt")
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # one file PER ROW with forced-distinct mtimes: the old
    # repartition(3) write leaves the file count to round-robin offsets
    # (2 files under local[8], and same-mtime files can merge into one
    # micro-batch despite maxFilesPerTrigger=1) — this test ASSERTS on
    # batch multiplicity, so the source layout must be deterministic
    import os as _os

    for _i, _r in enumerate(rows):
        spark.createDataFrame([_r], ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    for _i, _f in enumerate(sorted((tmp_path / "src").glob("*.parquet"))):
        _os.utime(_f, (1_000_000_000 + _i, 1_000_000_000 + _i))

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        runner.streaming_lm_counts(stream, store=store, checkpoint=ck)

    drain()
    got = {r.token: r["count"] for r in runner.read_lm_counts(spark, store).collect()}
    assert got == {"a": 3, "b": 2, "c": 3, "d": 1}
    # multiple batches actually accrued (1-file triggers)
    parts = {r["__batch_id"] for r in
             spark.read.parquet(store).select("__batch_id").distinct().collect()}
    assert len(parts) > 1

    # scoring through the folded counts == scoring through a direct fit
    via_counts = {
        r.doc_id: r.avg_logprob
        for r in text_ops.unigram_logprob(
            docs, lm_counts=runner.read_lm_counts(spark, store)
        ).collect()
    }
    direct = {r.doc_id: r.avg_logprob
              for r in text_ops.unigram_logprob(docs).collect()}
    assert via_counts == direct

    # checkpoint loss → full replay rewrites each batch's partition
    # (overwrite, not append): counts unchanged
    shutil.rmtree(ck)
    drain()
    again = {r.token: r["count"] for r in runner.read_lm_counts(spark, store).collect()}
    assert again == got

    with pytest.raises(ValueError, match="not both"):
        text_ops.unigram_logprob(docs, lm_df=docs,
                                 lm_counts=runner.read_lm_counts(spark, store))


def test_streaming_perplexity_buckets_parity(spark, tmp_path):
    """Streaming CCNet bucketing: each micro-batch scored against the
    accumulated streaming_lm_counts store and bucketed by the FIXED
    calibrated thresholds must match the batch path
    (unigram_logprob + bucket_by_thresholds against the same folded
    LM) doc for doc — scores AND buckets; every input row survives
    (NULL buckets for unknown groups / tokenless docs); a
    checkpoint-loss replay rewrites partitions, no duplicate rows."""
    import shutil

    from datapipelineetl_spark.operators import text as text_ops

    common = "the common words appear here again and again and again"
    cal_rows = [
        (101, common + " " + common, "en"),
        (102, common + " unusual", "en"),
        (103, "rare zyx qwv tokens", "en"),
        (104, common, "fr"),
        (105, "un deux trois quatre", "fr"),
    ]
    stream_rows = [
        (1, common, "en"),
        (2, "zyx qwv", "en"),
        (3, "un deux", "fr"),
        (4, "  ", "fr"),          # tokenless -> NULL bucket
        (5, common, "de"),        # uncalibrated group -> NULL bucket
    ]
    cal = spark.createDataFrame(cal_rows, ["doc_id", "text", "lang"])
    docs = spark.createDataFrame(stream_rows, ["doc_id", "text", "lang"])
    src = str(tmp_path / "src")
    lm_store = str(tmp_path / "lm_store")
    out = str(tmp_path / "out")
    ck_lm = str(tmp_path / "ck_lm")
    ck = str(tmp_path / "ck")
    docs.repartition(3).write.parquet(src)

    # fit the LM incrementally over the calibration corpus
    cal_src = str(tmp_path / "cal_src")
    cal.write.parquet(cal_src)
    lm_stream = spark.readStream.schema("doc_id long, text string, lang string").parquet(cal_src)
    runner.streaming_lm_counts(lm_stream, store=lm_store, checkpoint=ck_lm)
    lm = runner.read_lm_counts(spark, lm_store)

    thr = text_ops.perplexity_thresholds(
        cal, group_col="lang", n_buckets=2, lm_counts=lm
    )

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        runner.streaming_perplexity_buckets(
            stream, lm_store, thr, out, ck, group_col="lang"
        )

    drain()
    got = {r.doc_id: (r.avg_logprob, r.ppl_bucket)
           for r in spark.read.parquet(out).collect()}

    scored = text_ops.unigram_logprob(docs, lm_counts=lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    want = {r.doc_id: (r.avg_logprob, r.ppl_bucket)
            for r in text_ops.bucket_by_thresholds(
                scored, thr, group_col="lang").collect()}
    assert got == want
    assert len(got) == 5           # nothing dropped
    assert got[4][1] is None and got[5][1] is None
    assert got[2][1] == 1          # rare tokens -> tail of en
    assert got[1][1] == 0          # in-distribution -> head

    # replay after checkpoint loss: partitions rewritten, not appended
    shutil.rmtree(ck)
    drain()
    assert spark.read.parquet(out).count() == 5

    # ADVICE r10: a stream already carrying the scoring columns must
    # fail fast at wire-up (the join would make them ambiguous)
    import pytest

    bad = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, avg_logprob double")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="avg_logprob"):
        runner.streaming_perplexity_buckets(
            bad, lm_store, thr, out, ck, group_col="lang"
        )


def test_streaming_quality_then_perplexity_composition(spark, tmp_path):
    """The production CCNet ingest shape on ONE readStream (VERDICT r10
    item 6): gopher_rules + quality_linear (annotate=True — stateless
    narrow projections applied directly to the stream) feed
    streaming_perplexity_buckets, so each output row carries BOTH
    quality flags and a perplexity bucket from a single pass over the
    source. Parity: the drained output equals the batch composition of
    the same operators over the same files, doc for doc — every source
    column plus every annotation; replay after checkpoint loss rewrites
    partitions (row count stable)."""
    import shutil

    from datapipelineetl_spark.operators import text as text_ops

    common = "the common words appear here again and again and again"
    good = "the quick brown fox and the lazy dog " * 8
    cal_rows = [
        (101, common + " " + common, "en"),
        (102, common + " unusual", "en"),
        (103, "rare zyx qwv tokens", "en"),
        (104, good + " " + common, "en"),   # the stream's head vocabulary
    ]
    stream_rows = [
        (1, good + " " + common, "en"),   # passes gopher, head bucket
        (2, "zyx qwv", "en"),             # fails gopher, tail bucket
        (3, None, "en"),                  # NULL text: kept=0 row, NULL bucket
        (4, "a " * 60, "fr"),             # uncalibrated group: NULL bucket
    ]
    cal = spark.createDataFrame(cal_rows, ["doc_id", "text", "lang"])
    docs = spark.createDataFrame(stream_rows, ["doc_id", "text", "lang"])
    src = str(tmp_path / "src")
    lm_store = str(tmp_path / "lm_store")
    out = str(tmp_path / "out")
    ck_lm = str(tmp_path / "ck_lm")
    ck = str(tmp_path / "ck")
    docs.repartition(2).write.parquet(src)

    cal_src = str(tmp_path / "cal_src")
    cal.write.parquet(cal_src)
    lm_stream = spark.readStream.schema(
        "doc_id long, text string, lang string").parquet(cal_src)
    runner.streaming_lm_counts(lm_stream, store=lm_store, checkpoint=ck_lm)
    lm = runner.read_lm_counts(spark, lm_store)
    thr = text_ops.perplexity_thresholds(
        cal, group_col="lang", n_buckets=2, lm_counts=lm)

    def annotate(frame):
        g = text_ops.gopher_rules(frame, stopwords=("the", "and"),
                                  annotate=True)
        return text_ops.quality_linear(g, n_buckets=64, annotate=True)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        runner.streaming_perplexity_buckets(
            annotate(stream), lm_store, thr, out, ck, group_col="lang")

    drain()
    got = {r.doc_id: r.asDict() for r in spark.read.parquet(out).collect()}

    scored = text_ops.unigram_logprob(docs, lm_counts=lm)
    batch = annotate(docs).join(
        scored.select("doc_id", "n_tokens", "avg_logprob"), "doc_id")
    want = {r.doc_id: r.asDict() for r in text_ops.bucket_by_thresholds(
        batch, thr, group_col="lang").collect()}
    for d in got.values():
        d.pop("__batch_id")
    assert got == want
    assert len(got) == 4                      # nothing dropped anywhere
    # both annotation families present on every row
    assert {"kept", "quality_prob", "n_words", "n_tokens",
            "avg_logprob", "ppl_bucket"} <= set(got[1])
    assert got[1]["kept"] == 1 and got[1]["ppl_bucket"] == 0
    assert got[2]["kept"] == 0 and got[2]["ppl_bucket"] == 1
    assert got[3]["kept"] == 0 and got[3]["ppl_bucket"] is None
    assert got[4]["ppl_bucket"] is None       # group the LM never saw

    # checkpoint-loss replay: partitions rewritten, not appended
    shutil.rmtree(ck)
    drain()
    assert spark.read.parquet(out).count() == 4


def test_streaming_perplexity_frozen_lm_replay_deterministic(spark, tmp_path):
    """ADVICE r10: lm_mode='frozen' snapshots the folded LM at wire-up
    (<output>/_lm_snapshot, hidden from parquet reads) so a
    checkpoint-loss replay reproduces the ORIGINAL values even after
    the live store accumulated more counts — where the default
    accumulated mode only guarantees row idempotence. Also: invalid
    lm_mode rejected; the snapshot is reused, not rewritten."""
    import shutil

    from datapipelineetl_spark.operators import text as text_ops

    common = "the common words appear here again and again and again"
    cal = spark.createDataFrame(
        [(101, common + " " + common, "en"), (102, "rare zyx qwv", "en")],
        ["doc_id", "text", "lang"])
    docs = spark.createDataFrame(
        [(1, common, "en"), (2, "zyx unusual", "en")],
        ["doc_id", "text", "lang"])
    src, lm_store, out = (str(tmp_path / d) for d in ("src", "lm", "out"))
    ck_lm, ck = str(tmp_path / "ck_lm"), str(tmp_path / "ck")
    docs.coalesce(1).write.parquet(src)
    cal_src = str(tmp_path / "cal_src")
    cal.write.parquet(cal_src)

    def feed_lm():
        s = spark.readStream.schema(
            "doc_id long, text string, lang string").parquet(cal_src)
        runner.streaming_lm_counts(s, store=lm_store, checkpoint=ck_lm)

    feed_lm()
    thr = text_ops.perplexity_thresholds(
        cal, group_col="lang", n_buckets=2,
        lm_counts=runner.read_lm_counts(spark, lm_store))

    def drain():
        s = spark.readStream.schema(
            "doc_id long, text string, lang string").parquet(src)
        runner.streaming_perplexity_buckets(
            s, lm_store, thr, out, ck, group_col="lang", lm_mode="frozen")

    drain()
    first = {r.doc_id: (r.avg_logprob, r.ppl_bucket)
             for r in spark.read.parquet(out).collect()}
    assert len(first) == 2
    # the snapshot is invisible to parquet reads of the output dir
    assert "avg_logprob" in spark.read.parquet(out).columns

    # grow the live store (new files into the LM source, same
    # checkpoint), lose the BUCKETING checkpoint, replay: frozen
    # scores must be IDENTICAL
    spark.createDataFrame(
        [(201, "zyx zyx zyx unusual unusual", "en")],
        ["doc_id", "text", "lang"]).write.mode("append").parquet(cal_src)
    feed_lm()
    shutil.rmtree(ck)
    drain()
    replay = {r.doc_id: (r.avg_logprob, r.ppl_bucket)
              for r in spark.read.parquet(out).collect()}
    assert replay == first

    # sanity: the accumulated model HAS moved — scoring doc 2 against
    # the grown store gives a different avg_logprob than the snapshot
    grown = text_ops.unigram_logprob(
        docs, lm_counts=runner.read_lm_counts(spark, lm_store))
    frozen_lm = spark.read.parquet(out + "/_lm_snapshot")
    snap = text_ops.unigram_logprob(docs, lm_counts=frozen_lm)
    g2 = {r.doc_id: r.avg_logprob for r in grown.collect()}
    s2 = {r.doc_id: r.avg_logprob for r in snap.collect()}
    assert s2[2] == first[2][0] and g2[2] != s2[2]

    with pytest.raises(ValueError, match="lm_mode"):
        runner.streaming_perplexity_buckets(
            spark.readStream.schema(
                "doc_id long, text string, lang string").parquet(src),
            lm_store, thr, out, ck, lm_mode="live")




def test_streaming_semantic_dedup_single_batch_matches_batch_ladder(spark, tmp_path):
    """One batch through streaming_semantic_dedup must reproduce the
    batch ladder exactly: lsh_cosine_near_pairs (same planes/tables/
    seed/threshold) -> cluster_pairs -> keep each component's min id.
    NULL and corrupt (NULL-element) vectors are kept, never flagged."""
    import numpy as np

    from datapipelineetl_spark.operators import dedup, similarity

    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 16))
    rows = []
    for i in range(6):
        rows.append((i, [float(x) for x in base[i]]))
    # 10/11: near-dups of 0 (tiny perturbation); 12: near-dup of 10
    for j, src in ((10, 0), (11, 0), (12, 0)):
        rows.append((j, [float(x) for x in base[src] + rng.normal(scale=1e-4, size=16)]))
    rows.append((20, None))
    rows.append((21, [1.0] + [None] * 15))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src_dir, state, out, ck = (str(tmp_path / d) for d in
                               ("src", "state", "out", "ck"))
    df.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    runner.streaming_semantic_dedup(
        stream, state, out, ck, dim=16, threshold=0.95,
        num_planes=8, num_tables=2,
    )
    got_ids = {r.vec_id for r in spark.read.parquet(out).collect()}

    pairs = similarity.lsh_cosine_near_pairs(
        df, threshold=0.95, num_planes=8, num_tables=2, dim=16)
    losers = {
        r.doc_id for r in dedup.cluster_pairs(pairs)
        .filter("doc_id != cluster_id").collect()
    }
    want_ids = {r.vec_id for r in df.collect()} - losers
    assert got_ids == want_ids
    assert {20, 21} <= got_ids          # NULL/corrupt vectors kept
    assert {10, 11, 12} & got_ids == set()  # all dups of 0 dropped
    # state holds only accepted, comparable vectors
    state_ids = {r.vec_id for r in spark.read.parquet(state + "/vecs").collect()}
    assert state_ids == want_ids - {20, 21}


def test_streaming_semantic_dedup_cross_batch_and_replay(spark, tmp_path):
    """Batch 2 vectors near-duplicating batch-1 ACCEPTED vectors are
    dropped; a vector similar only to a batch-1 DROPPED vector survives
    (arrival-order contract — state keeps accepted only); replaying
    with the same checkpoint after new files arrive never duplicates
    rows (partition overwrite)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(size=16)
    b = rng.normal(size=16)
    perturb = lambda v, s: [float(x) for x in v + rng.normal(scale=s, size=16)]

    src_dir, state, out, ck = (str(tmp_path / d) for d in
                               ("src", "state", "out", "ck"))
    schema = "vec_id long, embedding array<double>"
    # batch 1: 0 (rep of A-cluster), 1 (dup of 0 -> dropped), 5 (B)
    b1 = spark.createDataFrame(
        [(0, [float(x) for x in a]), (1, perturb(a, 1e-4)),
         (5, [float(x) for x in b])], schema)
    b1.coalesce(1).write.parquet(src_dir)

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src_dir)
        )
        runner.streaming_semantic_dedup(
            stream, state, out, ck, dim=16, threshold=0.95,
            num_planes=4, num_tables=4,
        )

    drain()
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {0, 5}

    # batch 2: 10 dups accepted 0 -> dropped; 11 dups accepted 5 ->
    # dropped; 12 is a fresh vector -> accepted
    c = rng.normal(size=16)
    spark.createDataFrame(
        [(10, perturb(a, 1e-4)), (11, perturb(b, 1e-4)),
         (12, [float(x) for x in c])], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    drain()
    got = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert got == {0, 5, 12}

    # idempotent re-drain: nothing new, nothing duplicated
    drain()
    assert spark.read.parquet(out).count() == 3


def test_streaming_semantic_dedup_state_compaction(spark, tmp_path):
    """compact_state folds the semantic store's old sigs/vecs batch
    partitions (the docstring's duplicate-rows-are-harmless invariant
    holds: candidates and drop sets end in .distinct()) — after the
    fold, a later batch still drops dups of early-accepted vectors."""
    import numpy as np

    rng = np.random.default_rng(11)
    vs = [rng.normal(size=16) for _ in range(3)]
    as_list = lambda v: [float(x) for x in v]
    src_dir, state, out, ck = (str(tmp_path / d) for d in
                               ("src", "state", "out", "ck"))
    schema = "vec_id long, embedding array<double>"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src_dir)
        )
        runner.streaming_semantic_dedup(
            stream, state, out, ck, dim=16, threshold=0.95,
            num_planes=4, num_tables=4,
        )

    # three 1-row arrival files -> three state partitions
    spark.createDataFrame([(0, as_list(vs[0]))], schema).coalesce(1).write.parquet(src_dir)
    drain()
    for i in (1, 2):
        spark.createDataFrame([(i, as_list(vs[i]))], schema).coalesce(1) \
            .write.mode("append").parquet(src_dir)
        drain()
    import pathlib
    sig_parts = list(pathlib.Path(state, "sigs").glob("__batch_id=*"))
    assert len(sig_parts) == 3
    folded = runner.compact_state(spark, state, keep_last=1)
    assert folded >= 2  # sigs and vecs each folded 2 partitions -> 1
    assert len(list(pathlib.Path(state, "sigs").glob("__batch_id=*"))) == 2

    # batch 4: a dup of vector 0 (accepted in the FOLDED history) must
    # still be dropped
    dup = vs[0] + rng.normal(scale=1e-4, size=16)
    spark.createDataFrame([(10, as_list(dup))], schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    drain()
    got = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert got == {0, 1, 2}


def test_streaming_dsir_weights_matches_batch(spark, tmp_path):
    """streaming_dsir_weights scores every micro-batch against the
    FIXED collected model and must match corpus.dsir_score over the
    same docs value for value; every input column survives; gramless
    docs carry NULL weight; checkpoint-loss replay rewrites partitions
    with IDENTICAL values (no state, immutable model); reserved
    columns fail fast."""
    import shutil

    from datapipelineetl_spark.operators import corpus as corpus_ops

    raw_rows = [
        (1, "alpha beta gamma delta alpha beta", "web"),
        (2, "alpha beta gamma", "web"),
        (3, "xxx yyy zzz www", "crawl"),
        (4, "", "crawl"),
    ]
    docs = spark.createDataFrame(raw_rows, ["doc_id", "text", "source"])
    target = docs.filter("doc_id = 1").select("doc_id", "text")
    model = corpus_ops.dsir_model(
        docs.select("doc_id", "text"), target, n_buckets=64)

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    docs.repartition(2).write.parquet(src)

    def drain():
        s = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", "1").parquet(src)
        )
        runner.streaming_dsir_weights(s, model, out, ck, n_buckets=64)

    drain()
    got = {r.doc_id: (r.n_grams, r.dsir_weight, r.source)
           for r in spark.read.parquet(out).collect()}
    want = {r.doc_id: (r.n_grams, r.dsir_weight)
            for r in corpus_ops.dsir_score(docs, model, n_buckets=64).collect()}
    assert {d: v[:2] for d, v in got.items()} == want
    assert got[1][2] == "web"            # source column survived
    assert got[4][0] == 0 and got[4][1] is None

    shutil.rmtree(ck)
    drain()
    replay = {r.doc_id: (r.n_grams, r.dsir_weight, r.source)
              for r in spark.read.parquet(out).collect()}
    assert replay == got                  # value-deterministic, no dupes

    bad = spark.readStream.schema(
        "doc_id long, text string, dsir_weight double").parquet(src)
    with pytest.raises(ValueError, match="dsir_weight"):
        runner.streaming_dsir_weights(bad, model, out, ck, n_buckets=64)


def test_streaming_semantic_dedup_bucket_cap(spark, tmp_path):
    """max_bucket_size caps HOT PRIOR buckets (boilerplate embeddings):
    with a cap below the bucket's population the cross-batch candidate
    join is suppressed for that bucket — the arriving dup of an
    early-accepted vector survives (the documented recall trade) —
    while an uncapped run drops it. The hot bucket is built
    deterministically: five mutually near-orthogonal vectors all on
    the positive side of the single hyperplane (num_planes=1,
    num_tables=1), so they share the one-bit signature while their
    pairwise cosines (~0.1) stay far below the threshold."""
    import numpy as np

    from datapipelineetl_spark.operators.similarity import _hyperplanes

    plane = np.array(_hyperplanes(1, 16, seed=42)[0], dtype=np.float64)
    p_unit = plane / np.linalg.norm(plane)
    # Gram-Schmidt five basis vectors against the plane normal
    es = []
    for j in range(5):
        e = np.zeros(16)
        e[j] = 1.0
        e = e - np.dot(e, p_unit) * p_unit
        for prev in es:
            e = e - np.dot(e, prev) * prev
        es.append(e / np.linalg.norm(e))
    vecs = [p_unit + 3.0 * e for e in es]   # same bucket, cos ~0.1 apart
    as_list = lambda v: [float(x) for x in v]
    schema = "vec_id long, embedding array<double>"
    rng = np.random.default_rng(13)

    def run(cap, sub):
        src, state, out, ck = (str(tmp_path / sub / d) for d in
                               ("src", "state", "out", "ck"))
        spark.createDataFrame(
            [(i, as_list(vecs[i])) for i in range(5)], schema
        ).coalesce(1).write.parquet(src)

        def drain():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src)
            )
            runner.streaming_semantic_dedup(
                stream, state, out, ck, dim=16, threshold=0.95,
                num_planes=1, num_tables=1, max_bucket_size=cap,
            )

        drain()
        # mutually non-dup: all five accepted, the ONE bucket is hot
        assert spark.read.parquet(out).count() == 5
        # batch 2: a near-dup of vector 0 arrives
        dup = vecs[0] + rng.normal(scale=1e-4, size=16)
        spark.createDataFrame([(10, as_list(dup))], schema).coalesce(1) \
            .write.mode("append").parquet(src)
        drain()
        return {r.vec_id for r in spark.read.parquet(out).collect()}

    uncapped = run(None, "u")
    assert 10 not in uncapped          # dup of accepted state -> dropped
    capped = run(3, "c")
    assert 10 in capped                # hot prior bucket suppressed


def test_streaming_semantic_dedup_transitive_drop_survivor(spark, tmp_path):
    """Greedy contract across the batch boundary (VERDICT r11 item 1):
    batch-2 vector B near-duplicates batch-1 ACCEPTED vector A
    (cross-dropped), batch-2 vector C near-duplicates ONLY B. C must
    SURVIVE — cross-dropped ids are anti-joined out of the intra-batch
    pair graph before components form, so C is not transitively
    dropped through the ghost. C then enters state and suppresses its
    own later dups. Geometry: A/B/C are 0/18/36-degree rotations of
    the (single) hyperplane normal within a fixed orthogonal plane —
    cos(A,B)=cos(B,C)=cos18=0.9511 >= 0.95, cos(A,C)=cos36=0.8090 <
    0.95, all on the plane's positive side so the one 1-bit bucket
    (num_planes=1, num_tables=1) generates every candidate."""
    import numpy as np

    from datapipelineetl_spark.operators.similarity import _hyperplanes

    plane = np.array(_hyperplanes(1, 16, seed=42)[0], dtype=np.float64)
    p = plane / np.linalg.norm(plane)
    e = np.zeros(16)
    e[0] = 1.0
    e = e - np.dot(e, p) * p
    e = e / np.linalg.norm(e)

    def rot(deg):
        th = np.radians(deg)
        return [float(x) for x in np.cos(th) * p + np.sin(th) * e]

    schema = "vec_id long, embedding array<double>"
    src, state, out, ck = (str(tmp_path / d) for d in
                           ("src", "state", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
        )
        runner.streaming_semantic_dedup(
            stream, state, out, ck, dim=16, threshold=0.95,
            num_planes=1, num_tables=1,
        )

    # batch 1: A accepted
    spark.createDataFrame([(0, rot(0))], schema).coalesce(1).write.parquet(src)
    drain()
    # batch 2: B (id 10) dups A -> cross-dropped; C (id 11) dups ONLY B
    spark.createDataFrame([(10, rot(18)), (11, rot(36))], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    drain()
    got = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert got == {0, 11}          # C survived the transitive-drop trap
    state_ids = {r.vec_id for r in spark.read.parquet(state + "/vecs").collect()}
    assert state_ids == {0, 11}    # and entered state
    # batch 3: a dup of C is now suppressed BY C
    import numpy.random as npr
    dup_c = [float(x) for x in np.array(rot(36)) + npr.default_rng(5).normal(scale=1e-4, size=16)]
    spark.createDataFrame([(20, dup_c)], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    drain()
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {0, 11}


def test_streaming_semantic_dedup_intra_batch_bucket_cap(spark, tmp_path):
    """max_bucket_size also caps hot buckets INSIDE the current batch
    (ADVICE r11): a single batch whose one bucket holds six vectors —
    five mutually near-orthogonal plus one true dup of vector 0 —
    generates NO intra candidates under cap=5 (the documented recall
    trade, mirroring lsh_cosine_near_pairs' pre-self-join cap), so all
    six survive; uncapped, the dup is dropped. The single-batch run
    must agree with the batch ladder under the SAME cap."""
    import numpy as np

    from datapipelineetl_spark.operators import dedup, similarity
    from datapipelineetl_spark.operators.similarity import _hyperplanes

    plane = np.array(_hyperplanes(1, 16, seed=42)[0], dtype=np.float64)
    p_unit = plane / np.linalg.norm(plane)
    es = []
    for j in range(5):
        e = np.zeros(16)
        e[j] = 1.0
        e = e - np.dot(e, p_unit) * p_unit
        for prev in es:
            e = e - np.dot(e, prev) * prev
        es.append(e / np.linalg.norm(e))
    vecs = [p_unit + 3.0 * e for e in es]
    rng = np.random.default_rng(17)
    dup0 = vecs[0] + rng.normal(scale=1e-4, size=16)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(5)]
    rows.append((5, [float(x) for x in dup0]))
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(rows, schema)

    def run(cap, sub):
        src, state, out, ck = (str(tmp_path / sub / d) for d in
                               ("src", "state", "out", "ck"))
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        runner.streaming_semantic_dedup(
            stream, state, out, ck, dim=16, threshold=0.95,
            num_planes=1, num_tables=1, max_bucket_size=cap,
        )
        return {r.vec_id for r in spark.read.parquet(out).collect()}

    assert run(None, "u") == {0, 1, 2, 3, 4}      # dup dropped
    assert run(5, "c") == {0, 1, 2, 3, 4, 5}      # hot bucket suppressed

    # parity: batch ladder with the same cap keeps the dup too
    pairs = similarity.lsh_cosine_near_pairs(
        df, threshold=0.95, num_planes=1, num_tables=1, dim=16,
        max_bucket_size=5)
    losers = {r.doc_id for r in dedup.cluster_pairs(pairs)
              .filter("doc_id != cluster_id").collect()}
    assert losers == set()


def test_frozen_lm_snapshot_rename_failure(spark, tmp_path, monkeypatch):
    """ADVICE r11: the frozen-LM snapshot commit must distinguish a
    LOST WIRE-UP RACE (another writer committed — swallow, score
    against theirs) from a real rename failure (permissions,
    read-only FS — re-raise at wire-up instead of surfacing batches
    later as an opaque parquet-read error). Also pins the null-safe
    join-back: a NULL-doc-id row survives annotation."""
    import shutil

    from datapipelineetl_spark.operators import text as text_ops

    cal = spark.createDataFrame(
        [(101, "alpha beta gamma alpha beta", "en"),
         (102, "rare zyx tokens", "en")],
        ["doc_id", "text", "lang"])
    src, lm_store, ck_lm = (str(tmp_path / d) for d in
                            ("src", "lm_store", "ck_lm"))
    cal_src = str(tmp_path / "cal_src")
    cal.write.parquet(cal_src)
    runner.streaming_lm_counts(
        spark.readStream.schema("doc_id long, text string, lang string")
        .parquet(cal_src), store=lm_store, checkpoint=ck_lm)
    lm = runner.read_lm_counts(spark, lm_store)
    thr = text_ops.perplexity_thresholds(
        cal, group_col="lang", n_buckets=2, lm_counts=lm)

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en"), (None, "rare zyx", "en")],
        "doc_id long, text string, lang string")
    docs.coalesce(1).write.parquet(src)

    def wire(out, ck):
        s = spark.readStream.schema(
            "doc_id long, text string, lang string").parquet(src)
        runner.streaming_perplexity_buckets(
            s, lm_store, thr, out, ck, group_col="lang", lm_mode="frozen")

    real_rename = os.rename

    # (1) hard failure: rename raises, nothing committed -> wire-up raises
    def rename_denied(s, d):
        raise OSError(13, "Permission denied", d)

    monkeypatch.setattr(os, "rename", rename_denied)
    with pytest.raises(OSError, match="Permission denied"):
        wire(str(tmp_path / "out1"), str(tmp_path / "ck1"))

    # (2) benign race: "another writer" commits between our write and
    # rename -> swallowed, batches score against the committed snapshot
    def rename_raced(s, d):
        shutil.copytree(s, d)           # the other writer's commit
        raise OSError(17, "File exists", d)

    monkeypatch.setattr(os, "rename", rename_raced)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    wire(out2, ck2)
    monkeypatch.setattr(os, "rename", real_rename)
    rows = spark.read.parquet(out2).collect()
    assert len(rows) == 2               # NULL-id row annotated, not dropped
    by_id = {r.doc_id: r for r in rows}
    assert by_id[None].avg_logprob is not None
    assert by_id[1].ppl_bucket is not None


def test_streaming_dsir_weights_null_and_duplicate_ids(spark, tmp_path):
    """ADVICE r11: the join back onto the batch is a null-safe LEFT
    join — a NULL-doc-id row is annotated (matching the scorer's
    NULL-id group) instead of silently dropped, and duplicate ids each
    carry the shared group score; row count is preserved exactly."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    rows = [
        (None, "alpha beta gamma", "web"),
        (7, "alpha beta", "web"),
        (7, "gamma delta", "crawl"),
        (8, "alpha alpha", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    target = docs.filter("doc_id = 8").select("doc_id", "text")
    model = corpus_ops.dsir_model(
        docs.filter("doc_id is not null").select("doc_id", "text"),
        target, n_buckets=64)

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    docs.coalesce(1).write.parquet(src)
    s = spark.readStream.schema(
        "doc_id long, text string, source string").parquet(src)
    runner.streaming_dsir_weights(s, model, out, ck, n_buckets=64)

    got = spark.read.parquet(out).collect()
    assert len(got) == 4                          # never a dropped row
    null_rows = [r for r in got if r.doc_id is None]
    assert len(null_rows) == 1 and null_rows[0].dsir_weight is not None
    sevens = [r for r in got if r.doc_id == 7]
    assert len(sevens) == 2
    assert sevens[0].dsir_weight == sevens[1].dsir_weight
    # the shared score is the batch scorer's merged-group value
    want = {r.doc_id: r.dsir_weight
            for r in corpus_ops.dsir_score(docs, model, n_buckets=64).collect()}
    assert sevens[0].dsir_weight == want[7]


def test_streaming_ann_index_matches_batch_and_replays(spark, tmp_path):
    """ST8+ × ANN: the stream-maintained IVF-PQ store must equal the
    batch-built index of the same rows (frozen models → deterministic
    assignments), keep ivf_cell as a prunable top-level partition, and
    survive checkpoint-loss replay without duplicating (the
    idempotent_parquet_sink guarantee on (cell, batch) partitions)."""
    import shutil

    from datapipelineetl_spark.operators import similarity

    src = str(tmp_path / "vecs")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ckpt")
    dim = 8
    rows = [
        (i, [((i * 31 + z * 7) % 97) / 97.0 - 0.5 for z in range(dim)])
        for i in range(40)
    ]
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(rows, schema)
    base.filter(F.col("vec_id") < 20).coalesce(1).write.parquet(src)
    base.filter(F.col("vec_id") >= 20).coalesce(1).write.mode("append").parquet(src)

    cents = similarity.ivf_fit_centroids(base, k_cells=4, iters=2, dim=dim)
    books = similarity.pq_fit(base, m=2, k_sub=4, iters=1, dim=dim)

    def drain():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        runner.streaming_ann_index(stream, cents, books, store, ck)

    drain()
    got = spark.read.parquet(store)
    # layout: both partition columns present, cell on top
    assert {"ivf_cell", "__batch_id"} <= set(got.columns)
    assert got.select("__batch_id").distinct().count() >= 2
    expected = similarity.pq_encode(
        similarity.ivf_assign(base, cents), books
    )
    canon = lambda df: sorted(
        (r.vec_id, r.ivf_cell, tuple(r.pq_code)) for r in df.collect()
    )
    assert canon(got.select("vec_id", "ivf_cell", "pq_code")) == canon(expected)

    # checkpoint loss → full replay: partitions rewritten, never appended
    shutil.rmtree(ck)
    drain()
    again = spark.read.parquet(store)
    assert canon(again.select("vec_id", "ivf_cell", "pq_code")) == canon(expected)

    # and the store answers pruned ivfpq queries identically to flat
    q = rows[0][1]
    pruned = similarity.ivfpq_topk(
        again, q, cents, books, k=5, nprobe=2,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
    )
    flat = similarity.ivfpq_topk(
        expected, q, cents, books, k=5, nprobe=2,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
    )
    assert [(r.vec_id, r.adc) for r in pruned.collect()] == [
        (r.vec_id, r.adc) for r in flat.collect()
    ]


def test_streaming_ann_index_residual_matches_batch(spark, tmp_path):
    """ST8+ × residual IVF-PQ (round 13): with residual=True the
    stream-maintained store must equal the batch-built residual index
    (frozen L2 coarse tier + residual-fit codebooks → deterministic
    codes) and answer pruned ivfpq_residual_topk queries identically to
    the flat frame."""
    from datapipelineetl_spark.operators import similarity

    src = str(tmp_path / "vecs")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ckpt")
    dim = 8
    rows = [
        (i, [((i * 37 + z * 11) % 101) / 101.0 - 0.5 for z in range(dim)])
        for i in range(40)
    ]
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(rows, schema)
    base.filter(F.col("vec_id") < 20).coalesce(1).write.parquet(src)
    base.filter(F.col("vec_id") >= 20).coalesce(1).write.mode("append").parquet(src)

    cents = similarity.ivf_fit_centroids(
        base, k_cells=4, iters=2, dim=dim, metric="l2"
    )
    books = similarity.pq_fit(
        similarity.residualize(base, cents, metric="l2"),
        m=2, k_sub=4, iters=1, vec_col="residual", dim=dim,
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    runner.streaming_ann_index(stream, cents, books, store, ck, residual=True)

    got = spark.read.parquet(store)
    expected = similarity.pq_encode(
        similarity.residualize(
            similarity.ivf_assign(base, cents, metric="l2"),
            cents, cell_col="ivf_cell", out="__res", metric="l2",
        ),
        books, "__res",
    ).drop("__res")
    canon = lambda df: sorted(
        (r.vec_id, r.ivf_cell, tuple(r.pq_code)) for r in df.collect()
    )
    assert canon(got.select("vec_id", "ivf_cell", "pq_code")) == canon(expected)

    q = rows[3][1]
    pruned = similarity.ivfpq_residual_topk(
        got, q, cents, books, k=5, nprobe=2,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(3,),
    )
    flat = similarity.ivfpq_residual_topk(
        expected, q, cents, books, k=5, nprobe=2,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(3,),
    )
    assert [(r.vec_id, r.adc) for r in pruned.collect()] == [
        (r.vec_id, r.adc) for r in flat.collect()
    ]
