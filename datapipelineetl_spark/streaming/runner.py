"""Streaming semantics (SURVEY.md §2.8, ST1–ST9), done the Spark-native way.

The reference runs all four feeds as Structured Streaming jobs whose logic
lives in ``foreachBatch`` callbacks with manual file move/backup side
effects (/root/reference/mypy/streaming.py:109-142 et al.) — at-least-once
by construction (ST6). This runner standardizes on:

- **one archiver per query**: ``read_file_stream(archive_dir=...)`` turns
  on Spark's own ``cleanSource=archive`` (the reference does this once for
  the CSV feed, mypy/preprocessproduce.py:185-186), and the feed pipelines
  instead sweep the checkpoint's committed source log after each drain
  (``archive_committed_sources``); never both on one query, which would
  leave Spark's archiver retrying files the sweep already moved;
- **replay-safe writes keyed by batch id**: each ``foreachBatch`` sink
  overwrites only its epoch's ``__batch_id=<epoch>`` directory
  (``_write_epoch``), so a replayed batch rewrites instead of duplicating;
- **drain-mode triggers** via ``availableNow`` (the modern form of the
  reference's ``trigger(once=True)``, mypy/streaming.py:153) — processes
  everything present, respecting rate limits, then exits;
- **declarative transforms**: the per-batch logic is a plain
  DataFrame → DataFrame function applied to the *stream* (so Catalyst plans
  it incrementally) — ``foreachBatch`` remains available for sinks that
  need batch semantics (e.g. Kafka producers keyed by batch id,
  mypy/preprocessproduce.py:71).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def read_file_stream(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = 1,
    archive_dir: str | None = None,
    lineage: bool = True,
    **options,
) -> DataFrame:
    """S1/S2 file-source stream with engine-managed archival.

    ``maxFilesPerTrigger=1`` mirrors the reference's per-file micro-batches
    (mypy/preprocessproduce.py:184) — a latency/ordering knob; raise it for
    throughput drains. ``archive_dir`` enables ``cleanSource=archive``
    (ST6 done right). ``lineage`` adds the S3 input-file column.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if lineage:
        df = df.withColumn("input_file", F.input_file_name())
    return df


def run_drain(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame] | None,
    checkpoint: str,
    sink_format: str = "parquet",
    sink_path: str | None = None,
    query_name: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """ST3 drain-and-exit: apply ``transform`` to the stream, write with
    ``availableNow``, block until drained.

    The transform runs on the streaming DataFrame itself — Catalyst plans it
    incrementally per micro-batch; no driver-side loops.
    """
    df = transform(stream) if transform else stream
    writer = (
        df.writeStream.outputMode(output_mode)
        .format(sink_format)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if sink_path:
        writer = writer.option("path", sink_path)
    q = writer.start()
    q.awaitTermination()
    return q


def run_processing_time(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame] | None,
    checkpoint: str,
    sink_format: str = "parquet",
    sink_path: str | None = None,
    interval: str = "1 second",
    query_name: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """ST2 long-lived trigger: start a processing-time-interval query and
    return immediately — the always-on shape of the reference's CSV job
    (mypy/preprocessproduce.py:190-200, ``trigger(processingTime=...)``
    running until killed). Pair with ``stop_gracefully`` for the
    reference's clean-shutdown semantics (ST9: finish the in-flight
    micro-batch, then stop — no partial batch replayed on restart beyond
    the checkpoint's exactly-once guarantee).
    """
    df = transform(stream) if transform else stream
    writer = (
        df.writeStream.outputMode(output_mode)
        .format(sink_format)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=interval)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if sink_path:
        writer = writer.option("path", sink_path)
    return writer.start()


def stop_gracefully(query: StreamingQuery, timeout_sec: float = 30.0) -> None:
    """ST9 graceful shutdown: wait for the current micro-batch to finish
    (status no longer trigger-active) before ``stop()`` — the programmatic
    twin of ``spark.streaming.stopGracefullyOnShutdown`` for driver-owned
    queries. Times out rather than hanging on a stuck batch."""
    import time

    deadline = time.monotonic() + timeout_sec
    while time.monotonic() < deadline:
        status = query.status
        if not status["isTriggerActive"]:
            break
        time.sleep(0.2)
    query.stop()
    query.awaitTermination(int(timeout_sec))


def run_foreach_batch(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = True,
    skip_empty: bool = True,
) -> StreamingQuery:
    """ST1 micro-batch callback runner with the P5 empty-batch skip.

    Mirrors the reference's ``foreachBatch(process_batch)`` shape
    (mypy/preprocessproduce.py:37-85) for sinks that need per-batch
    semantics (Kafka key = batch id, C11). The empty-batch early return is
    the reference's ``df.isEmpty()`` guard (mypy/streaming.py:111).

    The probe is a Spark job of its own on every non-empty batch. The
    feed pipelines (``pipelines.run_csv_feed`` / ``run_xml_feed``) pass
    ``skip_empty=False``: each of their batches counts its rows from its
    own write, so an empty batch costs the one write job that finds no
    rows, and a non-empty batch no longer pays for the probe.
    """

    def wrapped(df: DataFrame, epoch_id: int) -> None:
        if skip_empty and df.isEmpty():
            return
        batch_fn(df, epoch_id)

    writer = stream.writeStream.foreachBatch(wrapped).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def archive_committed_sources(checkpoint: str, archive_dir: str) -> list[str]:
    """ST6 deterministic post-drain archival sweep.

    ``cleanSource=archive`` is asynchronous: Spark's file-source cleaner
    archives a batch's inputs during a LATER batch's maintenance pass, so
    an ``availableNow`` drain that stops after its final batch leaves that
    batch's files in the input dir. The reference's manual move-to-done
    (mypy/streaming.py:119-141, dags/Dag3.py:111-113) has no such lag —
    this sweep restores that semantics transactionally: it replays the
    checkpoint's own source log and moves exactly the files Spark has
    COMMITTED into ``archive_dir``, mirroring Spark's archival layout
    (original path appended under the archive root).

    Batches commit in order, so an entry is committed when its batch id
    is at or below the highest one in ``commits/``. That holds after
    ``minBatchesToRetain`` purges the older commit files, so a drain of
    any length leaves nothing behind, and a sweep after a failed drain
    catches up. ``.compact`` logs fold earlier batches' entries in and
    are read like any other.

    It replaces the cleaner: read the stream WITHOUT ``archive_dir``,
    or Spark's archiver retries every file the sweep already moved.
    Idempotent: files already archived are skipped; each move is a
    single-filesystem rename. Returns the list of source paths moved.
    """
    sources_dir = os.path.join(checkpoint, "sources", "0")
    commits_dir = os.path.join(checkpoint, "commits")
    if not (os.path.isdir(sources_dir) and os.path.isdir(commits_dir)):
        return []
    committed = [int(n) for n in os.listdir(commits_dir) if n.isdigit()]
    if not committed:
        return []
    last = max(committed)
    moved: list[str] = []
    for log_name in sorted(os.listdir(sources_dir)):
        if log_name.startswith("."):
            continue
        with open(os.path.join(sources_dir, log_name)) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                entry = json.loads(line)
                if int(entry["batchId"]) > last:
                    continue
                src = unquote(urlparse(entry["path"]).path)
                if not os.path.isfile(src):
                    continue  # a prior sweep got it
                dest = os.path.join(archive_dir, src.lstrip("/"))
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(src, dest)
                moved.append(src)
    return moved


# --- ST8: event-time operators the reference lacks ---------------------------

def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation.

    State scale note: watermark bounds the state store to
    O(active windows × groups); without it a 100 TB stream accretes
    unbounded state. Late rows beyond the watermark are dropped —
    at-most-once for stragglers, which is the documented trade.
    """
    aggs = aggs or {"*": "count"}
    win = F.window(F.col(ts_col), window_duration, slide) if slide else F.window(
        F.col(ts_col), window_duration
    )
    agg_cols = []
    for col, fn in aggs.items():
        if fn == "count":
            agg_cols.append(F.count(F.lit(1)).alias("n" if col == "*" else f"n_{col}"))
        else:
            agg_cols.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win, *group_cols)
        .agg(*agg_cols)
    )


def session_aggregate(
    stream: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Event-time session windows (``F.session_window``): a session closes
    when no event arrives within ``gap`` — the streaming-native form of
    the batch sessionize operator (relational.sessionize).

    State scale: one open session per (group, active window); the
    watermark closes and emits sessions whose gap has provably expired,
    so state is O(active users), not O(history).
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *group_cols,
            "n_events",
        )
    )


def dedupe_stream(
    stream: DataFrame, keys: tuple[str, ...], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark horizon are suppressed; state is purged past it."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "10 minutes",
    max_lag: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound:
    rows match when keys are equal and ``right_ts`` ∈
    [``left_ts`` - max_lag, ``left_ts``].

    The time bound + watermarks are what make the join feasible on
    unbounded streams: each side's state store only retains rows younger
    than watermark + max_lag, so state is O(rate × horizon), not O(stream).
    An unbounded stream-stream join (no time bound) is rejected by Spark
    for outer joins and accretes state forever for inner — always bound.

    Scale: the join shuffles both streams on the key once; state lives in
    the per-partition state store (RocksDB in prod) keyed identically.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag}"))
        & (rw[right_ts] <= F.col(left_ts))
    )
    return lw.join(rw, cond, how).drop(rw[on])


def stateful_running_totals(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    ttl: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-key running event count / value total / last event time, carried
    across micro-batches in the state store.

    This is the escape hatch for stateful semantics Spark's built-ins
    (windowed agg, dropDuplicatesWithinWatermark, stream-stream join)
    can't express. Emits one row per key per micro-batch that touched it
    (output mode ``update`` — a memory/Kafka sink sees the latest totals).

    ``ttl`` (duration string, e.g. ``"30 minutes"``): event-time state
    expiry. A key idle past its last event + ttl (as proven by the
    watermark) emits one final row with ``expired=True`` and its state is
    REMOVED — the next event for that key starts from zero. Without a
    ttl the output has no ``expired`` column and keys live forever.

    State scale: O(distinct keys) rows of (long, double, long) — keyed
    state is hash-partitioned across executors with the shuffle, so a
    1000-executor cluster shards a billion keys evenly; the watermark
    bounds replay on recovery. For an unbounded key space (user ids,
    session ids at 100 TB) the ttl is what bounds STATE SIZE to
    O(active keys in the ttl horizon) — without it state grows with
    every key ever seen.
    """
    has_ttl = ttl is not None
    if has_ttl:
        import pandas as _pd  # noqa: PLC0415

        ttl_ms = int(_pd.Timedelta(ttl).total_seconds() * 1000)
        if ttl_ms <= 0:
            raise ValueError(f"ttl must be a positive duration, got {ttl!r}")
    # key field mirrors the stream's actual key type — hardcoding long
    # would yield nulls / Arrow type errors for string or int key streams
    out_fields = [
        T.StructField(key_col, stream.schema[key_col].dataType),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
    if has_ttl:
        out_fields.append(T.StructField("expired", T.BooleanType()))
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("last_us", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):  # executor-side; Arrow-batched pandas
        import pandas as pd  # noqa: PLC0415

        def row(n, total, last_us, expired):
            out = {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pd.Timestamp(last_us * 1_000)],
            }
            if has_ttl:
                out["expired"] = [expired]
            return pd.DataFrame(out)

        if has_ttl and state.hasTimedOut:
            # watermark passed last event + ttl: final row, state dropped
            n, total, last_us = state.get
            state.remove()
            yield row(n, total, last_us, True)
            return
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
            if len(pdf):
                last_us = max(last_us, int(pdf[ts_col].max().value // 1_000))
        state.update((n, total, last_us))
        if has_ttl:
            # must be strictly ahead of the current watermark or Spark
            # rejects it (late data can put last_event + ttl in the past)
            state.setTimeoutTimestamp(
                max(last_us // 1_000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield row(n, total, last_us, False)

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    timeout = (
        GroupStateTimeout.EventTimeTimeout if has_ttl else GroupStateTimeout.NoTimeout
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", timeout)
    )


def _write_epoch(df: DataFrame, path: str, epoch: int) -> None:
    """The replay-safe write of one micro-batch: overwrite the epoch's own
    ``path/__batch_id=<epoch>`` directory and nothing else.

    A replayed epoch rewrites its directory instead of appending
    duplicates, and every other epoch's directory is left as it was.
    Readers of ``path`` see ``__batch_id`` as an inferred int partition
    column. The write sets no session conf and adds no per-epoch literal
    column, so later epochs reuse the generated classes of the first. An
    empty ``df`` still leaves its epoch's directory, holding one
    schema-only file that reads back as zero rows.
    """
    df.write.mode("overwrite").parquet(os.path.join(path, f"__batch_id={epoch}"))


def idempotent_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once file sink via foreachBatch + an overwrite of the
    batch id's own partition directory (``_write_epoch``): replaying a
    micro-batch (recovery, restart after checkpoint loss within
    retention) REWRITES its partition instead of appending duplicates.

    This is the general at-least-once → exactly-once upgrade for
    non-transactional sinks: make the write idempotent on (batch_id), let
    the checkpoint guarantee each batch id carries the same data. The
    reference's manual move/backup (mypy/streaming.py:119-141) has neither
    property (ST6)."""

    def write(df: DataFrame, epoch_id: int) -> None:
        _write_epoch(df, path, epoch_id)

    return run_foreach_batch(
        stream, write, checkpoint, available_now=available_now, skip_empty=True
    )


ROLLUP_GRAINS = ("hour", "day", "month")


def continuous_rollup(
    stream: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    store: str,
    checkpoint: str,
    grains: tuple[str, ...] = ROLLUP_GRAINS,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming continuous aggregate — the incremental form of
    q_hypertable_rollup (TimescaleDB's continuous aggregate / a
    materialized multi-grain rollup): each micro-batch computes its
    PARTIAL (grain, bucket, keys) → (count, sum) aggregates in one
    Expand pass and writes them to ``store`` partitioned by batch id.

    Exactly-once WITHOUT a transactional sink: merges are dangerous to
    replay (re-merging a recovered batch double-counts), so nothing is
    merged at write time — partials land under their ``__batch_id``
    partition through ``_write_epoch`` (same idempotence contract
    as ``idempotent_parquet_sink``: a replayed batch REWRITES its
    partition). ``read_rollup`` folds partials into finals at read time;
    count/sum partials are associative, so the fold is exact. Compact
    partials periodically with ``sinks.maintenance.compact`` when batch
    count grows.

    Scale: per batch ONE Expand + ONE partial-agg shuffle over that
    batch only (never the history); state lives in the store as data,
    not in the state store — restarts replay nothing but the unfinished
    batch.
    """
    def agg(df: DataFrame, epoch_id: int) -> None:
        ev = df.select(
            *[F.date_trunc(g, ts_col).alias(f"__g_{g}") for g in grains],
            *key_cols,
            F.col(value_col).alias("__v"),
        )
        grain = F.lit(None).cast("string")
        for g in grains:  # finest grain with GROUPING()==0 wins
            grain = F.when(F.grouping(f"__g_{g}") == 0, F.lit(g)).otherwise(grain)
        partial = (
            ev.groupingSets(
                [[f"__g_{g}", *key_cols] for g in grains],
                *[f"__g_{g}" for g in grains],
                *key_cols,
            )
            .agg(
                grain.alias("grain"),
                F.coalesce(*[f"__g_{g}" for g in grains]).alias("bucket_ts"),
                F.count(F.lit(1)).alias("n_partial"),
                F.sum("__v").alias("sum_partial"),
            )
            .select("grain", "bucket_ts", *key_cols, "n_partial", "sum_partial")
        )
        _write_epoch(partial, store, epoch_id)

    return run_foreach_batch(
        stream, agg, checkpoint, available_now=available_now, skip_empty=True
    )


def read_rollup(
    spark: SparkSession, store: str, key_cols: list[str]
) -> DataFrame:
    """Serve the continuous aggregate: fold the per-batch partials into
    final (grain, bucket, keys) rows. One partial-agg shuffle over the
    partial store — whose size is O(buckets × batches), not O(events);
    compaction keeps the batch factor bounded."""
    return (
        spark.read.parquet(store)
        .groupBy("grain", "bucket_ts", *key_cols)
        .agg(
            F.sum("n_partial").alias("n_events"),
            F.sum("sum_partial").alias("sum_value"),
        )
    )


def observe_quality(
    df: DataFrame,
    name: str = "quality",
    null_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Attach in-flight data-quality metrics (``Dataset.observe``): row
    count plus a null counter per listed column, collected DURING the
    write — no second pass over the data.

    Batch: read results from a ``QueryExecutionListener``. Streaming: each
    micro-batch's values appear in ``query.lastProgress.observedMetrics``
    — this is the engine-native replacement for the reference's driver-side
    completeness audit (ST7) at row granularity.
    """
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        metrics.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}"))
    return df.observe(name, *metrics)


# --- ST7: completeness audit -------------------------------------------------

def audit_leftovers(input_dir: str, pattern: str = "*") -> list[str]:
    """Post-drain completeness audit (mypy/streaming.py:159-161): any file
    still in the input dir after a drain was not consumed+archived."""
    return sorted(
        p for p in glob.glob(os.path.join(input_dir, pattern)) if os.path.isfile(p)
    )


# --- streaming decontamination (the corpus tier's streaming form) ------------

def _eval_gram_store(
    eval_grams: DataFrame, eval_id_col: str | None, gram_col: str
) -> DataFrame:
    """Normalize an eval-side n-gram store to ``(__eval_id, __g)``.

    The id column is inferred ONLY when the store has exactly two
    columns (ADVICE r6: a store built with a custom ``gram_col`` or
    carrying extra columns used to silently bind the wrong column as
    the eval id, corrupting the join key and the dropped-pairs audit) —
    otherwise callers must name it via ``eval_id_col``.
    """
    if gram_col not in eval_grams.columns:
        raise ValueError(
            f"gram column {gram_col!r} not in eval_grams columns "
            f"{eval_grams.columns} — pass gram_col matching the store's"
        )
    if eval_id_col is None:
        others = [c for c in eval_grams.columns if c != gram_col]
        if len(others) != 1:
            raise ValueError(
                f"cannot infer the eval-id column among {others} — pass "
                "eval_id_col explicitly for stores with extra columns"
            )
        eval_id_col = others[0]
    elif eval_id_col not in eval_grams.columns:
        raise ValueError(
            f"eval_id_col {eval_id_col!r} not in eval_grams columns "
            f"{eval_grams.columns}"
        )
    return eval_grams.select(
        F.col(eval_id_col).alias("__eval_id"), F.col(gram_col).alias("__g")
    )


def streaming_decontaminate(
    stream: DataFrame,
    eval_grams: DataFrame,
    output_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    dropped_dir: str | None = None,
    available_now: bool = True,
    eval_id_col: str | None = None,
    gram_col: str = "__g",
) -> StreamingQuery:
    """Streaming train-side decontamination: documents arrive as a file
    stream, and every micro-batch drops the ones sharing at least
    ``min_shared`` distinct word ``n``-grams with SOME document of a
    static held-out set — the continuous-ingest form of
    ``corpus.contaminated_ids(side="train")``, for pipelines that
    decontaminate while crawling rather than in a terminal batch pass.

    ``eval_grams`` is the PRECOMPUTED eval-side n-gram store —
    ``corpus.ngram_hashes(eval_df, n=n)``, persisted once (columns:
    eval id + ``__g``; a store built with a custom ``gram_col`` or
    carrying extra columns must name its columns via the
    ``eval_id_col``/``gram_col`` parameters — inference requires
    exactly two columns); ``n`` here must match the store's. Per batch the
    incoming docs shingle narrowly, equi-join the store on the gram
    hash, and pairwise-count shared grams (identical semantics to the
    batch operator, oracle-checked there); clean rows land in
    ``output_dir`` through the epoch-keyed idempotent write (replays
    rewrite, never duplicate — ST6), contaminated ids optionally land in
    ``dropped_dir`` with the matched eval id and count for audit.

    Scale: the store is eval-sized (thousands of docs), so the per-batch
    join broadcasts under AQE; the stream side is one narrow
    shingle+explode, one partial-agg shuffle per batch on the pair key.
    State lives in the checkpoint only — no grams accumulate across
    batches (the eval set is static; a growing eval set means rebuilding
    a store that costs seconds).
    """
    from datapipelineetl_spark.operators import corpus as _corpus  # noqa: PLC0415

    store = _eval_gram_store(eval_grams, eval_id_col, gram_col)

    def handle(df: DataFrame, epoch_id: int) -> None:
        grams = _corpus.ngram_hashes(df, id_col=id_col, text_col=text_col, n=n)
        pairs = (
            grams.join(store, "__g")
            .groupBy(id_col, "__eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        if dropped_dir is not None:
            # two consumers (clean anti-join + audit write): materialize
            # once or the shingle+join+agg pipeline executes twice per
            # batch (same rationale as streaming_near_dup_filter's
            # checkpointed drop set)
            pairs = pairs.localCheckpoint(eager=True)
        bad = pairs.select(id_col).distinct()
        clean = df.join(bad, id_col, "anti")
        _write_epoch(clean, output_dir, epoch_id)
        if dropped_dir is not None:
            _write_epoch(
                pairs.withColumnRenamed("__eval_id", "eval_id"), dropped_dir, epoch_id
            )

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def _near_dup_batch_state(
    df: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None,
    state_tokens: str = "raw",
    state_token_salt: str | None = None,
):
    """Per-micro-batch near-dup core shared by
    ``streaming_near_dup_filter`` and ``streaming_corpus_filter`` (ONE
    implementation — a state-semantics fix here fixes both): computes
    the batch's band keys and token sets (checkpointed — several
    consumers), joins candidates against the persisted prior state
    (partition-pruned ``__batch_id < epoch``, hot prior buckets capped),
    exact-Jaccard-verifies them, and forms within-batch cluster losers.
    Returns ``(dropped_ids, my_bands, my_tokens)`` with ``dropped_ids``
    checkpointed.

    ``state_tokens``: ``"raw"`` persists the accepted docs' distinct
    token sets (exact-Jaccard verification); ``"hashed"`` persists
    60-bit token HASHES instead — Jaccard over distinct hashes equals
    Jaccard over distinct tokens up to md5 collisions (~2^-60 per
    pair), and the state then retains no recoverable document text
    (VERDICT r6 item 5: the tokens/ store otherwise keeps raw
    text-derived data for every accepted doc indefinitely). An optional
    ``state_token_salt`` keys the hash so common-token dictionary
    attacks on an exfiltrated store don't invert it. Both settings must
    stay CONSTANT over a store's lifetime — raw and hashed token sets
    never compare equal, so switching modes mid-store silently disables
    cross-batch dedup against the older partitions.
    """
    from datapipelineetl_spark.operators import dedup as _dedup  # noqa: PLC0415
    from datapipelineetl_spark.operators import text as _text  # noqa: PLC0415

    if state_tokens not in ("raw", "hashed"):
        raise ValueError(
            f"state_tokens must be 'raw' or 'hashed', got {state_tokens!r}"
        )
    if state_token_salt is not None and state_tokens != "hashed":
        raise ValueError("state_token_salt requires state_tokens='hashed'")
    spark = df.sparkSession
    bands_dir = os.path.join(state_dir, "bands")
    tokens_dir = os.path.join(state_dir, "tokens")
    sig = _dedup.minhash_signature(df, text_col, num_hashes=num_hashes)
    my_bands = _dedup.band_keys(
        sig, id_col, "minhash", bands, rows_per_band
    ).localCheckpoint(eager=True)
    tok_set = _text.tokens(text_col, distinct=True)
    if state_tokens == "hashed":
        salt = state_token_salt or ""
        tok_set = F.transform(
            tok_set,
            lambda t: _text.token_hash60(F.concat(F.lit(salt), t)),
        )
    my_tokens = df.select(
        F.col(id_col), tok_set.alias("__toks")
    ).localCheckpoint(eager=True)

    def read_state(path: str) -> DataFrame | None:
        # existence check, not a bare except: a REAL read error (corrupt
        # footer, transient FS failure) must fail the batch — treating
        # it as "first batch, no store yet" would silently skip
        # cross-batch dedup and corrupt output + state. Local-FS check
        # like the rest of this module's swap logic; on object stores
        # gate on the store's listing instead.
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path).filter(F.col("__batch_id") < epoch_id)

    prior_bands = read_state(bands_dir)
    prior_tokens = read_state(tokens_dir)

    # (a) cross-batch: candidates vs ACCEPTED state, exact-verified
    cross_dups = None
    if prior_bands is not None and prior_tokens is not None:
        prior_b = prior_bands
        if max_bucket_size is not None:
            # cap hot PRIOR buckets (boilerplate clusters) before the
            # join — same mitigation/caveat as the batch ladder
            sizes = prior_b.groupBy("band", "band_key").agg(
                F.count(F.lit(1)).alias("__bsz")
            )
            prior_b = prior_b.join(
                sizes.filter(F.col("__bsz") <= max_bucket_size).select(
                    "band", "band_key"
                ),
                ["band", "band_key"],
            )
        cands = (
            my_bands.join(
                prior_b.select(
                    F.col(id_col).alias("__prior_id"), "band", "band_key"
                ),
                ["band", "band_key"],
            )
            .select(id_col, "__prior_id")
            .distinct()
        )
        cross_dups = (
            cands.join(my_tokens, id_col)
            .join(
                prior_tokens.select(
                    F.col(id_col).alias("__prior_id"),
                    F.col("__toks").alias("__ptoks"),
                ),
                "__prior_id",
            )
            .withColumn("__j", _dedup.jaccard(F.col("__toks"), F.col("__ptoks")))
            .filter(F.col("__j") >= threshold)
            .select(id_col)
            .distinct()
        )

    # (b) within-batch: the batch ladder, min-id representative kept
    pairs = _dedup.near_dup_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    intra_losers = (
        _dedup.cluster_pairs(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    dropped = intra_losers
    if cross_dups is not None:
        dropped = dropped.unionByName(cross_dups).distinct()
    return dropped.localCheckpoint(eager=True), my_bands, my_tokens


def _write_near_dup_state(
    my_bands: DataFrame,
    my_tokens: DataFrame,
    accepted_ids: DataFrame,
    state_dir: str,
    epoch_id: int,
    id_col: str,
) -> None:
    """Append the accepted docs' band/token rows as the batch's state
    partitions (replay = overwrite). Shared by both streaming filters."""
    _write_epoch(
        my_bands.join(accepted_ids, id_col, "semi"),
        os.path.join(state_dir, "bands"),
        epoch_id,
    )
    _write_epoch(
        my_tokens.join(accepted_ids, id_col, "semi"),
        os.path.join(state_dir, "tokens"),
        epoch_id,
    )


def streaming_near_dup_filter(
    stream: DataFrame,
    state_dir: str,
    output_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    dropped_dir: str | None = None,
    available_now: bool = True,
    state_tokens: str = "raw",
    state_token_salt: str | None = None,
) -> StreamingQuery:
    """Streaming MinHash near-duplicate filter with INCREMENTAL state:
    documents arrive as a file stream; each micro-batch drops (a) docs
    near-duplicating anything ACCEPTED in an earlier batch and (b)
    within-batch near-dups beyond each cluster's min-id representative,
    then appends the survivors' LSH state so later batches dedup against
    them — crawl-ingest dedup without re-running the batch ladder over
    the whole corpus per arrival.

    State = two parquet stores under ``state_dir``, both partitioned by
    ``__batch_id``: ``bands/`` holds accepted docs' (id, band, band_key)
    rows (``dedup.band_keys``), ``tokens/`` their distinct token sets
    (for exact-Jaccard verification of candidates) — or, with
    ``state_tokens="hashed"`` (+ optional ``state_token_salt``), keyed
    60-bit token hashes instead, so the state retains no recoverable
    document text while verification stays value-identical up to md5
    collisions (keep the mode constant per store — raw and hashed
    partitions never compare equal). Replay safety: batch
    N reads state strictly ``__batch_id < N`` (partition-pruned scan),
    so a crashed/replayed batch never collides with its own partial
    writes, and every write overwrites only its own batch-id partition
    (``_write_epoch``) — the same replay-idempotence scheme as
    ``idempotent_parquet_sink`` /
    ``continuous_rollup``. CAVEAT: the checkpoint and ``state_dir``
    share fate — deleting the checkpoint resets the epoch counter to 0
    while the state keeps its old batch ids, so a full-history replay
    that re-batches the source differently would leave orphaned
    higher-id partitions as stale state. Lose them TOGETHER (wipe
    state_dir with the checkpoint), exactly as you would a stateful
    query's state store. One partition accrues per batch; fold old ones
    with :func:`compact_state` on schedule.

    Semantics match the batch ladder (``dedup.near_dup_pairs`` with the
    same banding/threshold) except ordering: a doc's survival depends on
    ARRIVAL order (earlier accepted doc wins), the natural contract for
    continuous ingest — the batch ladder's min-id rule is recovered by
    replaying the whole corpus as one batch.

    Scale: per batch, banding is narrow; the state join is a (band,
    band_key) equi-join against a partition-pruned parquet scan that
    AQE broadcasts while the state is small; verification touches only
    candidates. ``max_bucket_size`` caps hot boilerplate buckets exactly
    as in the batch ladder. State grows O(accepted × bands) rows —
    compact it periodically with ``sinks.maintenance.compact``.
    """
    def handle(df: DataFrame, epoch_id: int) -> None:
        dropped, my_bands, my_tokens = _near_dup_batch_state(
            df, epoch_id, state_dir, id_col, text_col, threshold,
            num_hashes, bands, rows_per_band, max_bucket_size,
            state_tokens, state_token_salt,
        )
        accepted = df.join(dropped, id_col, "anti")
        _write_epoch(accepted, output_dir, epoch_id)
        _write_near_dup_state(
            my_bands, my_tokens, accepted.select(id_col),
            state_dir, epoch_id, id_col,
        )
        if dropped_dir is not None:
            _write_epoch(dropped, dropped_dir, epoch_id)

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def compact_state(spark: SparkSession, state_dir: str, keep_last: int = 1) -> int:
    """Fold a ``streaming_near_dup_filter`` state store's old batch
    partitions into one. Every sub-store (``bands/``, ``tokens/``)
    accrues a ``__batch_id=N`` partition per micro-batch; long-running
    ingest ends up metadata-bound scanning thousands of small
    partitions. This merges all partitions except the newest
    ``keep_last`` into a single partition keyed by the HIGHEST merged
    batch id — which preserves the read contract exactly: merged rows
    keep a ``__batch_id`` strictly below any future epoch, and epochs
    at or below the merge point are already committed (they can only
    re-run after a checkpoint wipe, which resets the state too — see
    the fate-sharing caveat on ``streaming_near_dup_filter``).

    Run it BETWEEN drains, never while a query is writing the store.
    Returns the number of partitions folded away.

    ``keep_last`` must be >= 1: the newest partition can belong to an
    epoch whose checkpoint commit never landed (drain crashed between
    the state write and the commit). That epoch REPLAYS on restart —
    its state read filters ``__batch_id < N`` (a fold into N would be
    invisible, silently skipping cross-batch dedup) and its overwrite
    of the ``__batch_id=N`` directory would then destroy the
    folded history. Only batch ids strictly below the newest on-disk
    partition are guaranteed committed, so the fold may never target
    the newest partition.

    Crash safety rests on an invariant of the state CONSUMERS: every
    read path ends in ``.distinct()`` on ids (candidate pairs, drop
    sets), so DUPLICATE state rows are semantically harmless — which
    lets the fold run as copy-then-delete with no window where rows are
    missing: (1) the pre-target partitions' rows are APPENDED into the
    target partition (Spark's commit makes them visible atomically;
    until then the originals serve reads), then (2) the now-redundant
    source partitions are deleted — a crash at any point leaves extra
    copies, never absent state.

    Scale: one column-pruned read + one append per sub-store.
    """
    import re as _re
    import shutil  # noqa: PLC0415
    from pathlib import Path as _Path

    if keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): folding into the "
            "newest partition is destroyed if its epoch replays after a "
            "crash between the state write and the checkpoint commit"
        )
    folded = 0
    for sub in sorted(p for p in _Path(state_dir).iterdir() if p.is_dir()):
        parts = sorted(
            (
                int(m.group(1))
                for p in sub.iterdir()
                if (m := _re.fullmatch(r"__batch_id=(\d+)", p.name))
            )
        )
        merge = parts[: max(len(parts) - keep_last, 0)]
        if len(merge) < 2:
            continue
        target = merge[-1]
        moving = spark.read.parquet(str(sub)).filter(
            F.col("__batch_id") < target
        ).drop("__batch_id")
        # step 1: copy rows into the surviving partition (atomic at the
        # write commit; duplicates are fine per the invariant above)
        moving.write.mode("append").parquet(str(sub / f"__batch_id={target}"))
        # step 2: drop the now-redundant source partitions
        for b in merge[:-1]:
            shutil.rmtree(sub / f"__batch_id={b}")
        folded += len(merge) - 1
    return folded


def streaming_corpus_filter(
    stream: DataFrame,
    eval_grams: DataFrame,
    state_dir: str,
    output_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    n: int = 8,
    min_shared: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    redact: bool = True,
    dropped_dir: str | None = None,
    available_now: bool = True,
    eval_id_col: str | None = None,
    gram_col: str = "__g",
    state_tokens: str = "raw",
    state_token_salt: str | None = None,
    normalize: bool = False,
) -> StreamingQuery:
    """Single-pass continuous corpus ingest: each micro-batch runs the
    WHOLE acceptance ladder — optional Unicode normalization
    (``normalize=True`` maps each batch through ``text.normalize_text``
    FIRST, so the dedup state and every hash see one spelling per
    content; like ``state_tokens``, keep it constant for a store's
    lifetime or pre-normalization state rows won't match their
    normalized near-dups) — then near-dup filtering against the
    persisted LSH state (cross-batch + within-batch, exactly
    ``streaming_near_dup_filter``'s semantics), then decontamination
    against the static eval n-gram store
    (``streaming_decontaminate``'s), then optional PII redaction — with
    ONE source read, one checkpoint, and one output store, instead of
    chaining two drains through an intermediate store (the demo's
    two-stage topology). Dropped rows land in ``dropped_dir`` tagged
    with the stage that rejected them (``near_dup`` / ``contaminated``).

    State semantics: only docs that pass BOTH filters enter the dedup
    state — a future near-dup of a contaminated (hence absent) doc is
    judged on its own grams, which is the correct contract: its
    contaminated span either survives into its own text (the
    decontamination stage catches it) or does not (nothing to drop it
    for). Same batch-id-partitioned replay safety and checkpoint/state
    fate-sharing as ``streaming_near_dup_filter``; fold state with
    ``compact_state``. NOTE: by default the ``tokens/`` state store
    keeps accepted docs' RAW token sets (pre-redaction — dedup must
    compare original text); under a PII-retention policy either treat
    ``state_dir`` as sensitive storage alongside the source feed, or
    pass ``state_tokens="hashed"`` (optionally with
    ``state_token_salt``) to persist only keyed 60-bit token hashes —
    verification is value-identical up to md5 collisions and the store
    retains no recoverable text. Keep the setting constant for a
    store's lifetime (raw and hashed partitions never compare equal).

    Scale: the union of the two operators' per-batch costs — narrow
    signature/shingle math, one partition-pruned state join, one
    eval-sized broadcast join — minus a full intermediate-store
    write+read per document.
    """
    from datapipelineetl_spark.operators import corpus as _corpus  # noqa: PLC0415

    store = _eval_gram_store(eval_grams, eval_id_col, gram_col)

    def handle(df: DataFrame, epoch_id: int) -> None:
        if normalize:
            from datapipelineetl_spark.operators import text as _text  # noqa: PLC0415

            df = _text.normalize_text(df, text_col)
        dup_all, my_bands, my_tokens = _near_dup_batch_state(
            df, epoch_id, state_dir, id_col, text_col, threshold,
            num_hashes, bands, rows_per_band, max_bucket_size,
            state_tokens, state_token_salt,
        )
        survivors = df.join(dup_all, id_col, "anti")

        grams = _corpus.ngram_hashes(survivors, id_col=id_col, text_col=text_col, n=n)
        contaminated = (
            grams.join(store, "__g")
            .groupBy(id_col, "__eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .select(id_col)
            .distinct()
            .localCheckpoint(eager=True)
        )
        accepted = survivors.join(contaminated, id_col, "anti")
        if redact:
            accepted = _corpus.redact_pii(accepted, text_col)
        _write_epoch(accepted, output_dir, epoch_id)
        _write_near_dup_state(
            my_bands, my_tokens, accepted.select(id_col),
            state_dir, epoch_id, id_col,
        )
        if dropped_dir is not None:
            audit = dup_all.withColumn("reason", F.lit("near_dup")).unionByName(
                contaminated.withColumn("reason", F.lit("contaminated"))
            )
            _write_epoch(audit, dropped_dir, epoch_id)

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def streaming_lm_counts(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming incremental unigram-LM fit: each micro-batch writes its
    PARTIAL token counts under its ``__batch_id`` partition
    (``_write_epoch`` — a replayed batch REWRITES its partition, the
    ``continuous_rollup`` exactly-once contract), and ``read_lm_counts``
    folds the partials exactly (counts are associative). Feed the folded
    frame to ``text.unigram_logprob(lm_counts=...)`` and LM-based
    quality scoring tracks a growing crawl without ever refitting over
    history — the model is always "every token seen so far".

    Scale: per batch ONE explode + ONE partial-agg shuffle over THAT
    batch only; the store grows by ≤ batch-vocabulary rows per batch —
    fold old partitions with ``compact_state``-style maintenance
    (``sinks.maintenance.compact``) when batch count grows.
    """
    from datapipelineetl_spark.operators import text as text_ops  # noqa: PLC0415

    def agg(df: DataFrame, epoch_id: int) -> None:
        partial = (
            df.select(F.explode(text_ops.tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("count_partial"))
        )
        _write_epoch(partial, store, epoch_id)

    return run_foreach_batch(
        stream, agg, checkpoint, available_now=available_now, skip_empty=True
    )


def read_lm_counts(spark: SparkSession, store: str) -> DataFrame:
    """Fold a ``streaming_lm_counts`` store into the (token, count)
    frame ``text.unigram_logprob(lm_counts=...)`` consumes — one
    partial-agg groupBy over the partials; exact because counts are
    associative (the ``read_rollup`` read-time-fold contract)."""
    return (
        spark.read.parquet(store)
        .groupBy("token")
        .agg(F.sum("count_partial").cast("long").alias("count"))
    )


def streaming_perplexity_buckets(
    stream: DataFrame,
    lm_store: str,
    thresholds: DataFrame,
    output_dir: str,
    checkpoint: str,
    group_col: str | None = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    available_now: bool = True,
    lm_mode: str = "accumulated",
) -> StreamingQuery:
    """Streaming CCNet perplexity bucketing — the production
    composition the batch pair ``perplexity_thresholds`` /
    ``bucket_by_thresholds`` exists for: each micro-batch is scored
    with ``text.unigram_logprob`` against the LM in a
    ``streaming_lm_counts`` store, bucketed against the FIXED
    calibrated thresholds, and written annotated under its
    ``__batch_id`` partition (``_write_epoch`` — a replayed
    batch REWRITES its partition, the exactly-once contract shared by
    every store in this module). Rank-based bucketing is a GLOBAL
    window and cannot stream; fixed thresholds are how CCNet itself
    shipped — calibrate once on a sample (``perplexity_thresholds``),
    annotate the crawl forever after.

    ``lm_mode`` picks which LM scores each batch:

    - ``"accumulated"`` (default): the store re-folded at batch start,
      so the model is "every token seen before this write" — freshest
      scores, but see the replay caveat below.
    - ``"frozen"``: the store folded ONCE at wire-up and snapshotted
      to ``<output_dir>/_lm_snapshot`` (vocabulary-sized parquet,
      written only if ABSENT — restarts and even checkpoint-loss
      replays reuse the original snapshot; the underscore prefix hides
      it from parquet reads of the output). Every batch scores against
      the SAME model, making replay value-deterministic — the CCNet
      production shape, where the scoring LM is a fixed artifact
      shipped with the thresholds.

    The thresholds frame is collected ONCE at wire-up time (it is
    groups × (n_buckets-1) doubles — broadcast metadata by
    construction) and re-created per batch, so a caller mutating the
    source frame mid-stream cannot tear a batch. Docs in groups the
    calibration never saw, and tokenless docs, get NULL buckets —
    never a dropped row (audit-friendly: filter downstream).

    Replay semantics: exactly-once holds at ROW granularity (a
    replayed batch rewrites its partition with the same rows), but
    under ``lm_mode="accumulated"`` a batch replayed after CHECKPOINT
    LOSS is re-scored against the LM store's CURRENT contents — which
    may include counts accumulated after the original write — so its
    avg_logprob/bucket VALUES can differ from the original run.
    ``lm_mode="frozen"`` is the value-deterministic alternative.

    The stream must not already carry ``n_tokens`` / ``avg_logprob``
    columns — the scoring join would produce ambiguous duplicates —
    so wire-up fails fast if it does.

    Scale: per batch, the LM fold (vocabulary-bounded partial agg over
    the store) + one explode + one vocab join + one groupBy(doc) over
    THAT batch + the broadcast threshold join. The LM re-fold each
    batch is the price of always-current scoring; on a store with many
    batch partitions run ``compact_state``-style maintenance, or
    accept one-batch-stale scores by folding less often upstream.
    """
    from datapipelineetl_spark.operators import text as text_ops  # noqa: PLC0415

    reserved = {"n_tokens", "avg_logprob"} & set(stream.columns)
    if reserved:
        raise ValueError(
            "streaming_perplexity_buckets adds scoring columns "
            f"{sorted(reserved)} via join; rename or drop them on the "
            "input stream first (they would become ambiguous duplicates)"
        )
    if lm_mode not in ("accumulated", "frozen"):
        raise ValueError(
            f"lm_mode must be 'accumulated' or 'frozen', got {lm_mode!r}"
        )

    snapshot = os.path.join(output_dir, "_lm_snapshot")
    if lm_mode == "frozen" and not os.path.exists(snapshot):
        # fold once, persist: the snapshot is the scoring artifact —
        # vocabulary-sized, written before the first batch so every
        # batch (and every future replay) reads the same model. Written
        # to an attempt-unique tmp dir + atomic rename (the NOTES.md
        # discipline): a crash mid-write must not leave a partial dir
        # that a restart would mistake for the committed snapshot.
        import shutil  # noqa: PLC0415
        import uuid  # noqa: PLC0415

        tmp = f"{snapshot}.tmp-{uuid.uuid4().hex}"
        read_lm_counts(stream.sparkSession, lm_store).write.parquet(tmp)
        try:
            os.rename(tmp, snapshot)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # only a LOST WIRE-UP RACE is benign (another writer
            # committed first; theirs is the frozen model). Any other
            # rename failure (permissions, cross-device, read-only FS)
            # would otherwise surface batches later as an opaque
            # parquet-read error on a missing snapshot — fail here.
            if not os.path.exists(snapshot):
                raise

    thr_schema = thresholds.schema
    thr_rows = [tuple(r) for r in thresholds.collect()]

    def handle(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        if lm_mode == "frozen":
            lm = spark.read.parquet(snapshot)
        else:
            lm = read_lm_counts(spark, lm_store)
        scored = text_ops.unigram_logprob(
            df, id_col=id_col, text_col=text_col, alpha=alpha, lm_counts=lm,
        )
        # null-safe LEFT join back (the streaming_dsir_weights rule):
        # NULL doc ids annotate instead of silently dropping
        sc = scored.select(
            F.col(id_col).alias("__score_id"), "n_tokens", "avg_logprob"
        )
        annotated = df.join(
            sc, F.col(id_col).eqNullSafe(F.col("__score_id")), "left"
        ).drop("__score_id")
        thr = spark.createDataFrame(thr_rows, thr_schema)
        bucketed = text_ops.bucket_by_thresholds(
            annotated, thr, group_col=group_col
        )
        _write_epoch(bucketed, output_dir, epoch_id)

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def streaming_sketch_state(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    text_col: str = "text",
    group_col: str = "source",
    depth: int = 3,
    width: int = 64,
    m: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming sketch maintenance: each micro-batch writes its
    PARTIAL count-min cells (``<store>/cm``) and HLL max-rank registers
    (``<store>/hll``) under its ``__batch_id`` partition
    (``_write_epoch`` — a replayed batch REWRITES its partition, the
    ``continuous_rollup`` exactly-once contract). Sketches are the
    canonical mergeable state: CM cells fold by SUM, HLL registers by
    MAX — both associative AND (for HLL) idempotent — so
    ``read_countmin_state`` / ``read_hll_state`` reconstruct EXACTLY
    the sketch a batch build over the full history would produce
    (pinned by the parity test). A crawl's heavy-hitter counters and
    per-source vocabulary cardinality advance batch-by-batch with no
    pass over history.

    Scale: per batch ONE explode + partial-agg shuffles over THAT
    batch only, each bounded by sketch geometry (depth*width cells,
    m registers per group) — the store grows by at most that many rows
    per batch regardless of batch size; ``compact_state``-style
    maintenance folds old partitions when batch count grows.
    """
    from datapipelineetl_spark.operators import sketch  # noqa: PLC0415

    def agg(df: DataFrame, epoch_id: int) -> None:
        cm = sketch.countmin_sketch(df, text_col, depth, width)
        _write_epoch(cm, f"{store}/cm", epoch_id)
        hll = sketch.hll_registers(df, group_col, text_col, m)
        _write_epoch(hll, f"{store}/hll", epoch_id)

    return run_foreach_batch(
        stream, agg, checkpoint, available_now=available_now, skip_empty=True
    )


def read_countmin_state(spark: SparkSession, store: str) -> DataFrame:
    """Fold a ``streaming_sketch_state`` CM store into the
    (row, bucket, cnt) grid ``sketch.countmin_estimate`` consumes —
    counter sums are associative, so the fold is exact."""
    return (
        spark.read.parquet(f"{store}/cm")
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def read_hll_state(
    spark: SparkSession,
    store: str,
    group_col: str = "source",
    m: int = 64,
    out: str = "hll_estimate",
) -> DataFrame:
    """Fold a ``streaming_sketch_state`` HLL store into per-group
    estimates: register MAX across batch partials (exact — max is
    associative and idempotent), then the shared estimator
    (``sketch.hll_estimate_from_registers``)."""
    from datapipelineetl_spark.operators import sketch  # noqa: PLC0415

    regs = (
        spark.read.parquet(f"{store}/hll")
        .groupBy(group_col, "__bucket")
        .agg(F.max("__reg").alias("__reg"))
    )
    return sketch.hll_estimate_from_registers(regs, group_col, m, out)


def streaming_bloom_decontaminate(
    stream: DataFrame,
    bitset,
    output_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    k: int = 2,
    hex_width: int = 5,
    dropped_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming decontamination through the Bloom bitset — the
    MAP-ONLY form of ``streaming_decontaminate``: per micro-batch,
    every document's distinct word ``n``-grams take one Arrow-batched
    bit test against the broadcast benchmark bitset
    (``sketch.build_bloom_bitset``, built ONCE from the held-out set);
    hits are dropped, clean rows land in ``output_dir`` through the
    epoch-keyed idempotent write. No eval-store join, no per-batch
    shuffle of grams — the batch pipeline is scan → narrow gram math →
    bit test → anti-semi on the flag.

    Direction of error is the SAFE one for this job: Bloom false
    positives only ever over-drop training documents (the benchmark
    never leaks through), false negatives don't exist. Size m
    (``hex_width``) to the eval set to bound the over-drop —
    ``q_bloom_decontam``'s oracle pins the false-positive behavior
    exactly, and the parity test pins this wrapper against the exact
    join at the collision-free width.

    ``dropped_dir`` records (id, n_grams, n_bloom_hits) per batch for
    the attrition audit.
    """
    from datapipelineetl_spark.operators import sketch  # noqa: PLC0415

    def handle(df: DataFrame, epoch_id: int) -> None:
        flags = sketch.bloom_flag_contaminated(
            df, bitset, id_col=id_col, text_col=text_col, n=n, k=k,
            hex_width=hex_width,
        )
        # two consumers (clean anti-join + audit write) — materialize
        # once so the gram/bit pass runs once per batch
        bad = flags.filter(F.col("bloom_contaminated") == 1).localCheckpoint(
            eager=True
        )
        clean = df.join(bad.select(id_col), id_col, "anti")
        _write_epoch(clean, output_dir, epoch_id)
        if dropped_dir is not None:
            _write_epoch(
                bad.select(id_col, "n_grams", "n_bloom_hits"), dropped_dir, epoch_id
            )

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )



def streaming_semantic_dedup(
    stream: DataFrame,
    state_dir: str,
    output_dir: str,
    checkpoint: str,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cos_dp: int = 4,
    max_bucket_size: int | None = None,
    dropped_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming EMBEDDING-space near-duplicate filter with incremental
    state — the semantic twin of ``streaming_near_dup_filter``: each
    micro-batch drops vectors whose rounded cosine to (a) anything
    ACCEPTED in an earlier batch or (b) a surviving within-batch
    representative reaches ``threshold``, then appends the survivors'
    SRP signatures and unit vectors so later batches dedup against
    them. This is SemDeDup's "semantic copies sharing no surface
    n-grams" contract (translations, templated rewrites) for
    continuous ingest — without re-running k-means over the whole
    corpus per arrival: LSH buckets replace the cluster fence as the
    pair bound, exactly the trade ``similarity.lsh_cosine_near_pairs``
    makes against batch ``semdedup``.

    ``dim`` is REQUIRED (a stream cannot be probed for the embedding
    width at wire-up); the hyperplanes derive deterministically from
    (num_planes, num_tables, dim, seed), so restarts and replays hash
    into the SAME buckets — keep those four constant over a store's
    lifetime, like the surface filter's token mode.

    State = two parquet stores under ``state_dir``, both partitioned by
    ``__batch_id``: ``sigs/`` holds accepted vectors' (id, __table,
    __sig) rows, ``vecs/`` their UNIT vectors (zero-norm inputs map to
    the zero vector; a corrupt vector — NULL element — gets a NULL unit
    vector: NULL cosine, never flagged, never in state, exactly
    ``semdedup``'s normalization contract). Replay safety: batch N
    reads state strictly ``__batch_id < N`` (partition-pruned) and
    every write is a batch-id partition OVERWRITE — the
    ``streaming_near_dup_filter`` scheme, including its caveats: the
    checkpoint and ``state_dir`` share fate, and ``compact_state``
    folds old partitions (its duplicate-rows-are-harmless invariant
    holds here: candidates and drop sets end in ``.distinct()``).

    Semantics: survival depends on ARRIVAL order (an earlier accepted
    vector wins), and a vector similar only to DROPPED vectors
    survives — the greedy representative contract of continuous
    ingest. That holds across the batch boundary by construction:
    cross-batch dups are anti-joined OUT of the intra-batch pair graph
    before components form, so a batch-mate whose only near-dup was
    itself cross-dropped is NOT transitively dropped through the
    ghost. WITHIN one micro-batch the contract is coarser — min-id
    representative per connected component of the verified pair graph,
    so an in-batch chain a~b~c keeps only min(a,b,c) even where a and
    c are not themselves similar; that component rule is exactly what
    replaying the whole corpus as ONE batch needs to recover the batch
    ladder (parity-tested against ``lsh_cosine_near_pairs`` +
    ``cluster_pairs``). Float discipline: the verify cosine is
    ``semdedup``'s normalize-then-dot form (unit vectors stored once,
    one dot fold per pair), not ``cosine()``'s dot-over-norms — the
    two can differ in the last ulp, so a pair sitting exactly on the
    ``cos_dp`` rounding boundary could decide differently from
    ``lsh_cosine_near_pairs``; the parity test uses well-separated
    cosines, and within THIS operator the decision is deterministic.

    Scale: per batch, signatures are ONE Arrow matmul over the batch
    (``_lsh_signatures_pandas``); the state join is a (__table, __sig)
    equi-join against a partition-pruned scan (AQE broadcasts the
    batch side while it is small); cosine verification — a JVM dot
    fold over unit vectors, rounded HALF_UP like the batch operators —
    touches candidates only. ``max_bucket_size`` caps hot buckets on
    BOTH sides (near-constant embeddings): prior-state buckets above
    the cap are dropped from the cross-batch probe, and — mirroring
    ``lsh_cosine_near_pairs`` — batch buckets above the cap are
    dropped from the intra self-join input. State grows O(accepted ×
    tables) signature rows + O(accepted) unit vectors; the vecs store
    dominates at dim×8 bytes per accepted vector — at 10⁹ accepted
    768-dim vectors that is ~6 TB spread over the cluster FS, read
    only via the candidate-id semi-join, never scanned whole.
    """
    from datapipelineetl_spark.operators import similarity as _sim  # noqa: PLC0415

    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    planes_t = [
        _sim._hyperplanes(num_planes, dim, seed + 1000003 * t)
        for t in range(num_tables)
    ]
    sigs_dir = os.path.join(state_dir, "sigs")
    vecs_dir = os.path.join(state_dir, "vecs")

    def handle(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        vec = F.col(vec_col).cast("array<double>")
        # unit-normalize once (semdedup's contract — see its docstring
        # for why the norm routes through its own column first)
        unit = (
            df.select(F.col(id_col), vec.alias("__v"))
            .withColumn("__n", _sim.norm(F.col("__v")))
            .select(
                F.col(id_col),
                F.transform(
                    F.col("__v"),
                    lambda x: F.when(F.col("__n") > 0, x / F.col("__n"))
                    .when(F.col("__n") == 0, F.lit(0.0)),
                ).alias("__u"),
            )
            .localCheckpoint(eager=True)
        )
        # a corrupt vector (NULL element) yields a unit array of NULLs:
        # keep the ROW (accepted — nothing comparable) but exclude it
        # from buckets and state, mirroring semdedup's NULL-cosine rule
        clean = unit.filter(
            F.col("__u").isNotNull()
            & ~F.exists(F.col("__u"), lambda x: x.isNull())
        )
        sig_arr = _sim._lsh_signatures_pandas(planes_t)(F.col("__u"))
        tabled = (
            clean
            .select(F.col(id_col), F.posexplode_outer(sig_arr).alias("__table", "__sig"))
            .localCheckpoint(eager=True)
        )

        def read_state(path: str) -> DataFrame | None:
            if not os.path.isdir(path):
                return None
            return spark.read.parquet(path).filter(F.col("__batch_id") < epoch_id)

        def verified_pairs(cand: DataFrame, left_vecs, right_vecs) -> DataFrame:
            return (
                cand.join(left_vecs, "id_a")
                .join(right_vecs, "id_b")
                .withColumn(
                    "__cos",
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("__ua"), F.col("__ub"),
                                lambda a, b: a * b,
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        cos_dp,
                    ),
                )
                .filter(F.col("__cos") >= threshold)
            )

        ua = unit.withColumnsRenamed({id_col: "id_a", "__u": "__ua"})
        ub = unit.withColumnsRenamed({id_col: "id_b", "__u": "__ub"})

        prior_sigs = read_state(sigs_dir)
        prior_vecs = read_state(vecs_dir)
        cross_dups = None
        if prior_sigs is not None and prior_vecs is not None:
            pb = prior_sigs
            if max_bucket_size is not None:
                sizes = pb.groupBy("__table", "__sig").agg(
                    F.count(F.lit(1)).alias("__bsz")
                )
                pb = pb.join(
                    sizes.filter(F.col("__bsz") <= max_bucket_size)
                    .select("__table", "__sig"),
                    ["__table", "__sig"],
                )
            cands = (
                tabled.join(
                    pb.select(
                        F.col(id_col).alias("id_b"), "__table", "__sig"
                    ),
                    ["__table", "__sig"],
                )
                .select(F.col(id_col).alias("id_a"), "id_b")
                .distinct()
            )
            cross_dups = (
                verified_pairs(
                    cands,
                    ua,
                    prior_vecs.select(
                        F.col(id_col).alias("id_b"), F.col("__u").alias("__ub")
                    ),
                )
                .select(F.col("id_a").alias(id_col))
                .distinct()
            )

        # Intra-batch pair graph. Two pre-filters on the self-join input:
        # (1) the SAME max_bucket_size cap lsh_cosine_near_pairs applies
        # before ITS self-join — a hot bucket inside the batch
        # (near-constant embeddings) would otherwise still generate
        # O(m^2) candidates even though the prior-state side is capped;
        # (2) cross-dropped vectors are anti-joined OUT before component
        # formation, so an intra cluster-mate of a cross-dropped
        # representative is judged only against the batch's SURVIVORS —
        # the greedy contract (a vector similar only to dropped vectors
        # survives) instead of a transitive drop through a ghost.
        intra_src = tabled
        if max_bucket_size is not None:
            isz = tabled.groupBy("__table", "__sig").agg(
                F.count(F.lit(1)).alias("__bsz")
            )
            intra_src = tabled.join(
                isz.filter(F.col("__bsz") <= max_bucket_size)
                .select("__table", "__sig"),
                ["__table", "__sig"],
            )
        if cross_dups is not None:
            cross_dups = cross_dups.localCheckpoint(eager=True)
            intra_src = intra_src.join(cross_dups, id_col, "anti")
        a, b = intra_src.alias("a"), intra_src.alias("b")
        intra_cand = (
            a.join(
                b,
                (F.col("a.__table") == F.col("b.__table"))
                & (F.col("a.__sig") == F.col("b.__sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        intra_pairs = verified_pairs(intra_cand, ua, ub).select("id_a", "id_b")
        from datapipelineetl_spark.operators import dedup as _dedup  # noqa: PLC0415

        intra_losers = (
            _dedup.cluster_pairs(intra_pairs)
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        dropped = intra_losers
        if cross_dups is not None:
            dropped = dropped.unionByName(cross_dups).distinct()
        dropped = dropped.localCheckpoint(eager=True)

        accepted = df.join(dropped, id_col, "anti")
        _write_epoch(accepted, output_dir, epoch_id)
        accepted_ids = accepted.select(id_col)
        _write_epoch(tabled.join(accepted_ids, id_col, "semi"), sigs_dir, epoch_id)
        _write_epoch(clean.join(accepted_ids, id_col, "semi"), vecs_dir, epoch_id)
        if dropped_dir is not None:
            _write_epoch(df.join(dropped, id_col, "semi"), dropped_dir, epoch_id)

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def streaming_dsir_weights(
    stream: DataFrame,
    model: DataFrame,
    output_dir: str,
    checkpoint: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "dsir_weight",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming DSIR annotation — the importance-resampling twin of
    ``streaming_perplexity_buckets``'s frozen mode: the
    ``corpus.dsir_model`` bucket table is fit ONCE (raw sample +
    target, both batch-side), collected at wire-up (at most
    ``n_buckets`` rows of three integers — broadcast metadata by
    construction, the hashing trick's size story), and every
    micro-batch is scored against that FIXED model and written
    annotated under its ``__batch_id`` partition (``_write_epoch`` —
    replay rewrites, value-deterministic because the model
    never moves). Every input column survives; gramless docs carry
    n_grams 0 and a NULL weight. The join back onto the batch rows is
    a NULL-SAFE LEFT join: a NULL doc id annotates (matching the
    scorer's NULL-id group) rather than silently dropping, and
    duplicate ids each carry their shared group score — never a
    dropped row. Downstream, rank or ``corpus.dsir_resample`` the
    accumulated store.

    ``n_buckets`` must equal the model's fit value (``dsir_model``
    docstring). The stream must not already carry ``n_grams`` / the
    ``out`` column — wire-up fails fast (the scoring join would make
    them ambiguous duplicates).

    Scale: per batch, one explode + one broadcast model join + one
    groupBy over THAT batch, then the null-safe left join back onto
    the batch rows — no state store at all: the model is immutable
    input, which
    is exactly what makes replay value-deterministic with no
    snapshot machinery.
    """
    from datapipelineetl_spark.operators import corpus as corpus_ops  # noqa: PLC0415

    reserved = {"n_grams", out} & set(stream.columns)
    if reserved:
        raise ValueError(
            "streaming_dsir_weights adds scoring columns "
            f"{sorted(reserved)} via join; rename or drop them on the "
            "input stream first (they would become ambiguous duplicates)"
        )
    model_schema = model.schema
    model_rows = [tuple(r) for r in model.collect()]

    def handle(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        m = spark.createDataFrame(model_rows, model_schema)
        scored = corpus_ops.dsir_score(
            df, m, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets, alpha=alpha, out=out,
        )
        # null-safe LEFT join back: a NULL doc id must not silently
        # drop the row (the docstring's never-a-dropped-row contract) —
        # NULL-id rows match the scorer's NULL-id group; duplicate ids
        # each receive their shared group score
        sc = scored.withColumnRenamed(id_col, "__score_id")
        annotated = df.join(
            sc, F.col(id_col).eqNullSafe(F.col("__score_id")), "left"
        ).drop("__score_id")
        _write_epoch(annotated, output_dir, epoch_id)

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )


def streaming_ann_index(
    stream: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    store: str,
    checkpoint: str,
    vec_col: str = "embedding",
    available_now: bool = True,
    residual: bool = False,
) -> StreamingQuery:
    """Streaming maintenance of the persisted IVF-PQ ANN store
    (examples/ann_index_build.py's layout, kept fresh as embeddings
    arrive): per micro-batch, ONE Arrow pass attaches the coarse cell
    (`similarity.ivf_assign`) and the m-int PQ code
    (`similarity.pq_encode`), then a dynamic
    partition-overwrite lands the batch under
    ``store/ivf_cell=*/__batch_id=*`` — exactly-once at partition
    granularity (a replayed batch REWRITES its (cell, batch)
    partitions; assignments are deterministic given the frozen models,
    so the rewritten partitions are the originals), with ``ivf_cell``
    kept as the TOP-level partition so `ivfpq_topk` queries still
    prune directories.

    **Replay constraint (ADVICE r12 item 4)**: the exactly-once claim
    requires a replay to reproduce the same file→batch GROUPING. With
    the checkpoint intact, Structured Streaming's offset log guarantees
    exactly that. After CHECKPOINT LOSS, a re-run with a different
    ``maxFilesPerTrigger`` grouping (or a grown source) lands rows
    under NEW ``__batch_id`` values while the stale (cell, old-batch)
    partitions survive the dynamic overwrite — duplicate vec_ids in
    the store. Recovery from checkpoint loss is therefore: start the
    re-run against an EMPTY store directory (cheap — the store is a
    derived index, rebuilt by one pass over the source), or run
    ``sinks.maintenance.compact_ann_store`` afterwards, whose
    keep-newest-``__batch_id`` dedup by vec_id collapses exactly this
    duplication for the compacted range.

    The index models are FROZEN broadcast artifacts (fit once on a
    sample, the `ivf_fit_centroids` practice) — the streaming-DSIR
    pattern: no state store, no cross-batch coupling, value-
    deterministic replay. Re-fitting the coarse tier is an OFFLINE
    event (rewrite the store's layout); the GLOBAL, non-residual PQ
    codebook is exactly what keeps arriving codes valid across that
    event (similarity.ivfpq_topk docstring).

    ``residual=True`` maintains the FAISS-default accuracy variant
    instead: ``codebooks`` must have been fit on residuals
    (``pq_fit(residualize(sample, centroids), vec_col="residual")``,
    with an L2-metric coarse fit — the round-12 A/B), and each
    arriving vector's code is computed from x − centroid[cell]. Same
    layout, same exactly-once discipline; query the store with
    ``ivfpq_residual_topk(cell_col="ivf_cell", codes_col="pq_code")``.
    The accuracy/operational trade (residual codes are COUPLED to the
    coarse tier — re-clustering re-encodes the corpus) is measured in
    SCALING.md "Round 12: residual vs global PQ"; choose this variant
    when that measurement's tight-cluster regime applies.

    Scale: per batch = arrival-sized narrow work + one partitioned
    write; the store grows by appendable partitions, never rewritten
    corpus-wide. Query cost is unchanged as the store grows beyond
    any single batch: pruning is on cell directories, not batch ids.
    """
    from datapipelineetl_spark.operators import similarity  # noqa: PLC0415
    from datapipelineetl_spark.sinks import maintenance  # noqa: PLC0415

    def handle(df: DataFrame, epoch: int) -> None:
        if residual:
            assigned = similarity.residualize(
                similarity.ivf_assign(df, centroids, vec_col, metric="l2"),
                centroids,
                vec_col,
                cell_col="ivf_cell",
                out="__res",
                metric="l2",
            )
            enc = similarity.pq_encode(assigned, codebooks, "__res").drop("__res")
        else:
            enc = similarity.pq_encode(
                similarity.ivf_assign(df, centroids, vec_col), codebooks, vec_col
            )
        maintenance.overwrite_partitions(
            enc.withColumn("__batch_id", F.lit(epoch)),
            store,
            ["ivf_cell", "__batch_id"],
        )

    return run_foreach_batch(
        stream, handle, checkpoint, available_now=available_now, skip_empty=True
    )
