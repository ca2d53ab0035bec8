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
archival is source-managed (transactional, vs the reference's manual moves
— at-least-once), and the sink is pluggable: ``sink="kafka"`` publishes the
reference's JSON envelope to the feed's topic; ``sink="parquet"`` (default,
used by tests — no broker in this environment) writes feed-partitioned
parquet that a Kafka/Elasticsearch stage can relay.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
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


@dataclass
class FeedResult:
    """What a drain produced (ST7 audit).

    ``rows`` is not the count this drain wrote. For a Parquet sink it is
    the feed's CUMULATIVE row count in the sink, read back after each
    micro-batch, so rows from earlier drains are included; a drain that
    commits no micro-batch reports 0. A Kafka sink has no count to read
    back (``_sink`` returns −1), so ``rows`` stays 0.
    ``leftovers`` lists the input files still in the input directory
    after the drain, i.e. not consumed and archived."""

    rows: int
    leftovers: list[str]


def _sink(
    cleaned: DataFrame,
    feed: str,
    sink: str,
    out_dir: str | None,
    bootstrap: str | None,
) -> int:
    if sink == "kafka":
        env = serde.to_envelope(cleaned, exclude=["input_file"])
        serde.write_kafka(env, FEED_TOPICS[feed], bootstrap or "localhost:9092")
        return -1  # Kafka reports no count
    tagged = cleaned.drop(*(c for c in ("input_file",) if c in cleaned.columns))
    tagged = tagged.withColumn("feed", F.lit(feed))
    serde.write_routed_parquet(tagged, out_dir)
    return tagged.sparkSession.read.parquet(out_dir).filter(
        F.col("feed") == feed
    ).count()


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

    from datapipelineetl_spark.sinks import maintenance  # noqa: PLC0415
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
    stream = runner.read_file_stream(
        spark, in_dir, "csv", schema,
        archive_dir=archive_dir, header="true", **extra,
    )

    rows = 0

    def batch(df: DataFrame, epoch: int) -> None:
        nonlocal rows
        if quarantine_dir:
            good, bad = tabular.split_quarantine(df, keep_cols=("input_file",))
            # skip the write job entirely on clean batches (the common
            # case — df is cached by the split, so the probe is cheap)
            if not bad.isEmpty():
                maintenance.overwrite_partitions(
                    bad.withColumn("__batch_id", F.lit(epoch)),
                    quarantine_dir,
                    ["__batch_id"],
                )
        else:
            good = df
        cleaned = cleaning.clean_cell_metrics(good.drop("input_file"))
        rows = max(rows, _sink(cleaned, "csv", sink, out_dir, bootstrap))
        if quarantine_dir:
            df.unpersist()

    runner.run_foreach_batch(stream, batch, checkpoint)
    if archive_dir:
        runner.archive_committed_sources(checkpoint, archive_dir)
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

    ``archive_dir`` threads source-managed archival through the XML scan
    (mirrors run_csv_feed). Spark's ``cleanSource`` cleaner is async and
    lags one batch behind, so after the drain we sweep the checkpoint's
    committed source log (``runner.archive_committed_sources``) — every
    consumed file leaves ``in_dir`` before this returns and the leftover
    audit is clean. Without ``archive_dir``, consumed files stay in
    ``in_dir`` and the audit reports them — pass it in production."""
    checkpoint = checkpoint or f"{in_dir.rstrip('/')}__ckpt_{variant}"
    raw = meascollec.read_meascollec(spark, in_dir, streaming=True, archive_dir=archive_dir)

    rows = 0

    def batch(df: DataFrame, _epoch: int) -> None:
        nonlocal rows
        flat = meascollec.flatten_meascollec(df, variant)
        cleaned = cleaning.clean_kpi_records(
            flat, "int" if variant == "gzip" else "double"
        )
        rows = max(rows, _sink(cleaned, variant, sink, out_dir, bootstrap))

    runner.run_foreach_batch(raw, batch, checkpoint)
    if archive_dir:
        runner.archive_committed_sources(checkpoint, archive_dir)
    return FeedResult(rows=rows, leftovers=runner.audit_leftovers(in_dir, "*.xml*"))
