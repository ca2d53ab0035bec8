"""End-to-end feed pipelines — one call per reference job.

A user of the reference runs four Airflow-orchestrated jobs; each maps to
one function here (same feed semantics, Spark-native execution):

| Reference job (file)                  | Here              |
| ------------------------------------- | ----------------- |
| csv feed  (mypy/preprocessproduce.py) | ``run_csv_feed``  |
| gzip XML  (dags/Dag3 + mypy/streaming.py)    | ``run_xml_feed(variant="gzip")`` |
| fast XML  (dags/Dag2 + mypy/xmlonly.py)      | ``run_xml_feed(variant="xmlonly")`` |
| hardware XML (dags/Dag4 + mypy/xmlhard.py)   | ``run_xml_feed(variant="hardware")`` |

Differences by design (SURVEY.md §7): XML parsing runs on executors (not
the Airflow worker), gunzip is implicit (Spark reads ``*.gz``), file
archival is one sweep of the checkpoint's committed source log after each
drain (``runner.archive_committed_sources``: only committed files move, vs
the reference's manual moves — at-least-once), and the sink is pluggable:
``sink="kafka"`` publishes the reference's JSON envelope to the feed's
topic; ``sink="parquet"`` (default, used by tests — no broker in this
environment) writes feed-partitioned parquet that a Kafka/Elasticsearch
stage can relay.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import cleaning
from datapipelineetl_spark.schemas import CELL_METRICS_SCHEMA
from datapipelineetl_spark.sinks import serde
from datapipelineetl_spark.sources import meascollec
from datapipelineetl_spark.streaming import runner

# reference topic names (logstash.conf:4): feed → Kafka topic
FEED_TOPICS = {
    "csv": "csv",
    "gzip": "xmlt",
    "xmlonly": "xmlt_fast",
    "hardware": "xmlhard",
}


# the checkpoint's cumulative row record: one small JSON file
_ROWS_RECORD = "feed_rows.json"


@dataclass
class FeedResult:
    """What a drain produced (ST7 audit).

    ``rows`` is the cumulative count of rows this checkpointed query has
    committed to its sink, over this drain and every earlier drain on the
    same checkpoint, for Parquet and Kafka sinks alike. Each micro-batch
    counts the rows it writes from the write itself (an ``Observation`` on
    the written frame), and the running total is kept in the checkpoint,
    so no sink is read back. A query that has committed no micro-batch
    reports 0. An epoch replayed after a crash between its write and
    Spark's commit is counted once, although its append can still leave
    duplicate rows in a Parquet sink.
    ``leftovers`` lists the input files still in the input directory
    after the drain, i.e. not consumed and archived."""

    rows: int
    leftovers: list[str]


def _read_rows_record(checkpoint: str) -> dict | None:
    path = os.path.join(checkpoint, _ROWS_RECORD)
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _record_rows(checkpoint: str, epoch: int, n: int) -> None:
    """Fold epoch ``epoch``'s ``n`` written rows into the checkpoint's
    ``(epoch, base, n)`` record, where ``base`` counts every earlier
    epoch. A replayed epoch finds its own record and keeps its ``base``,
    so it is counted once. The record is replaced atomically (write, then
    rename), and its cost does not grow with the query's age — unlike
    ``commits/``, whose old entries ``minBatchesToRetain`` purges."""
    prev = _read_rows_record(checkpoint)
    base = 0
    if prev is not None:
        base = prev["base"] if prev["epoch"] == epoch else prev["base"] + prev["n"]
    path = os.path.join(checkpoint, _ROWS_RECORD)
    with open(path + ".tmp", "w") as fh:
        json.dump({"epoch": epoch, "base": base, "n": n}, fh)
    os.replace(path + ".tmp", path)


def _committed_rows(checkpoint: str) -> int:
    rec = _read_rows_record(checkpoint)
    return 0 if rec is None else rec["base"] + rec["n"]


def _sink(
    cleaned: DataFrame,
    feed: str,
    sink: str,
    out_dir: str | None,
    bootstrap: str | None,
) -> None:
    if sink == "kafka":
        env = serde.to_envelope(cleaned, exclude=["input_file"])
        serde.write_kafka(env, FEED_TOPICS[feed], bootstrap or "localhost:9092")
        return
    tagged = cleaned.drop(*(c for c in ("input_file",) if c in cleaned.columns))
    serde.write_routed_parquet(tagged.withColumn("feed", F.lit(feed)), out_dir)


def _drain(stream: DataFrame, batch, checkpoint: str, archive_dir: str | None) -> int:
    """Run ``batch`` over every micro-batch without the runner's
    empty-batch probe (``runner.run_foreach_batch`` says why), then return
    the cumulative row count the batches recorded in the checkpoint.
    With ``archive_dir``, every committed input file is archived after the
    drain, also when it raises."""
    try:
        runner.run_foreach_batch(stream, batch, checkpoint, skip_empty=False)
    finally:
        if archive_dir:
            runner.archive_committed_sources(checkpoint, archive_dir)
    return _committed_rows(checkpoint)


def run_csv_feed(
    spark: SparkSession,
    in_dir: str,
    out_dir: str | None = None,
    archive_dir: str | None = None,
    checkpoint: str | None = None,
    sink: str = "parquet",
    bootstrap: str | None = None,
    quarantine_dir: str | None = None,
) -> FeedResult:
    """The flagship CSV pipeline: streaming scan (S1) → cleaning chain
    C1–C6 + P1/P3 → envelope/route (K1/K2), drain-mode with source
    archival (ST3/ST6) and completeness audit (ST7).

    ``quarantine_dir`` adds the malformed-row split (S7+): rows the
    declared schema cannot parse land there as raw lines (batch-id
    partition overwrite — replay-idempotent) instead of flowing on as
    all-null records; the cleaning chain sees only parseable rows. The
    reference's sentinel cleaning handles dirty VALUES — this handles
    dirty LINES."""
    from pyspark.sql import types as T  # noqa: PLC0415

    from datapipelineetl_spark.sources import tabular  # noqa: PLC0415

    checkpoint = checkpoint or f"{in_dir.rstrip('/')}__ckpt"
    schema = CELL_METRICS_SCHEMA
    extra = {}
    if quarantine_dir:
        schema = T.StructType(
            list(CELL_METRICS_SCHEMA.fields)
            + [T.StructField(tabular.CORRUPT_COL, T.StringType(), True)]
        )
        extra = {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": tabular.CORRUPT_COL,
        }
    stream = runner.read_file_stream(spark, in_dir, "csv", schema, header="true", **extra)
    corrupt = F.col(tabular.CORRUPT_COL)

    def batch(df: DataFrame, epoch: int) -> None:
        # one job for a clean batch: the sink write counts every row, good
        # and bad together, above the corrupt-column filter
        obs = Observation()
        if quarantine_dir:
            good = df.observe(
                obs, F.count(F.lit(1)).alias("n"), F.count(corrupt).alias("bad")
            ).filter(corrupt.isNull()).drop(tabular.CORRUPT_COL)
        else:
            good = df.observe(obs, F.count(F.lit(1)).alias("n"))
        _sink(cleaning.clean_cell_metrics(good.drop("input_file")),
              "csv", sink, out_dir, bootstrap)
        counts = obs.get
        bad = counts.get("bad", 0)
        if bad:
            # a second job only for a dirty batch
            runner._write_epoch(
                df.filter(corrupt.isNotNull()).select(corrupt, "input_file"),
                quarantine_dir, epoch,
            )
        _record_rows(checkpoint, epoch, counts["n"] - bad)

    rows = _drain(stream, batch, checkpoint, archive_dir)
    return FeedResult(rows=rows, leftovers=runner.audit_leftovers(in_dir, "*.csv"))


def run_xml_feed(
    spark: SparkSession,
    in_dir: str,
    variant: str = "xmlonly",
    out_dir: str | None = None,
    checkpoint: str | None = None,
    sink: str = "parquet",
    bootstrap: str | None = None,
    archive_dir: str | None = None,
) -> FeedResult:
    """The three XML feeds (gzip / fast / hardware): streaming measCollec
    scan (S4, ``*.xml`` and ``*.xml.gz`` alike — S5 is implicit) →
    executor-side flatten → C7 clean (int for gzip, double otherwise) →
    envelope/route. Replaces Dag2/Dag3/Dag4 + their Spark jobs.

    ``archive_dir`` (as in run_csv_feed): after the drain, one sweep of
    the checkpoint's committed source log
    (``runner.archive_committed_sources``) moves every consumed file out
    of ``in_dir`` before this returns, so the leftover audit is clean.
    Without ``archive_dir``, consumed files stay in ``in_dir`` and the
    audit reports them — pass it in production."""
    checkpoint = checkpoint or f"{in_dir.rstrip('/')}__ckpt_{variant}"
    raw = meascollec.read_meascollec(spark, in_dir, streaming=True)

    def batch(df: DataFrame, epoch: int) -> None:
        flat = meascollec.flatten_meascollec(df, variant)
        cleaned = cleaning.clean_kpi_records(
            flat, "int" if variant == "gzip" else "double"
        )
        obs = Observation()
        _sink(cleaned.observe(obs, F.count(F.lit(1)).alias("n")),
              variant, sink, out_dir, bootstrap)
        _record_rows(checkpoint, epoch, obs.get["n"])

    rows = _drain(raw, batch, checkpoint, archive_dir)
    return FeedResult(rows=rows, leftovers=runner.audit_leftovers(in_dir, "*.xml*"))
