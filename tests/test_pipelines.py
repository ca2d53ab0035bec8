"""End-to-end feed pipeline tests: one call per reference job."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from datapipelineetl_spark import pipelines

CSV_HEADER = (
    "Time,eNodeB Name,Cell Name,Frequency band,Downlink EARFCN,"
    "Downlink bandwidth,LocalCell Id,Latitude,Longitude,Integrity,"
    '"FT_UL.Interference","FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)",'
    '"FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)","FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)",'
    '"FT_4G/LTE CALL SETUP SUCCESS RATE"'
)

XML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<measCollecFile xmlns="http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec">
  <fileHeader fileFormatVersion="32.435 V10.0">
    <measCollec beginTime="2025-07-04T13:00:00+01:00"/>
  </fileHeader>
  <measData>
    <managedElement localDn="SubNetwork=1,ManagedElement=ENB1"/>
    <measInfo measInfoId="m1">
      <job jobId="j1"/>
      <granPeriod duration="PT900S" endTime="2025-07-04T13:15:00+01:00"/>
      <measType p="1">KPI.A</measType>
      <measValue measObjLdn="eNodeBFunctionName=E1,cellId=1">
        <r p="1">41</r>
      </measValue>
    </measInfo>
  </measData>
</measCollecFile>
"""


def test_run_csv_feed_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "r.csv").write_text(
        CSV_HEADER + "\n07-04-2025 13:45,,CellX,B3,,20,11,,,OK,\" NIL \",,55.5,,0.99\n"
    )
    res = pipelines.run_csv_feed(
        spark,
        str(src),
        out_dir=str(tmp_path / "out"),
        archive_dir=str(tmp_path / "done"),
        checkpoint=str(tmp_path / "ck"),
    )
    assert res.rows == 1
    got = spark.read.parquet(str(tmp_path / "out")).collect()[0]
    assert got["eNodeB Name"] == "N/A" and got["Latitude"] == 999.0
    assert got["feed"] == "csv"


def test_run_xml_feed_gzip_end_to_end(spark, tmp_path):
    src = tmp_path / "xin"
    src.mkdir()
    with gzip.open(src / "a.xml.gz", "wt") as f:
        f.write(XML_DOC)
    res = pipelines.run_xml_feed(
        spark,
        str(src),
        variant="gzip",
        out_dir=str(tmp_path / "xout"),
        checkpoint=str(tmp_path / "xck"),
    )
    assert res.rows == 1
    got = spark.read.parquet(str(tmp_path / "xout")).collect()[0]
    assert got.kpiName == "KPI.A" and got.kpiValue == 41  # int cast (gzip feed)
    assert got.feed == "gzip"


def test_run_xml_feed_hardware_double_cast(spark, tmp_path):
    src = tmp_path / "hin"
    src.mkdir()
    (src / "a.xml").write_text(XML_DOC)
    pipelines.run_xml_feed(
        spark,
        str(src),
        variant="hardware",
        out_dir=str(tmp_path / "hout"),
        checkpoint=str(tmp_path / "hck"),
    )
    got = spark.read.parquet(str(tmp_path / "hout")).collect()[0]
    assert got.kpiValue == 41.0 and got.localDn == "SubNetwork=1,ManagedElement=ENB1"


def test_run_xml_feed_archives_sources(spark, tmp_path):
    """archive_dir must move every consumed file out of in_dir by the
    time the drain returns, so the ST7 leftover audit is clean."""
    src = tmp_path / "ain"
    src.mkdir()
    (src / "a.xml").write_text(XML_DOC)
    res = pipelines.run_xml_feed(
        spark,
        str(src),
        variant="xmlonly",
        out_dir=str(tmp_path / "aout"),
        checkpoint=str(tmp_path / "ack"),
        archive_dir=str(tmp_path / "adone"),
    )
    assert res.rows == 1
    assert res.leftovers == []
    archived = list((tmp_path / "adone").rglob("*.xml"))
    assert len(archived) == 1


def test_training_corpus_example_runs_end_to_end(spark, tmp_path, capsys):
    """The README's demo script must stay runnable: full pipeline from
    raw documents to a z-ordered pack store at sf0.001."""
    import examples.prepare_training_corpus as demo

    out = str(tmp_path / "corpus_demo")
    import sys as _sys

    argv, _sys.argv = _sys.argv, ["demo", "/root/testdata/sf0.001", out]
    try:
        assert demo.main() == 0
    finally:
        _sys.argv = argv
    packed = spark.read.parquet(out)
    assert packed.count() > 0
    assert {"pack_id", "doc_id", "chunk_idx", "text", "n_tokens"} <= set(packed.columns)


def test_streaming_corpus_ingest_example_runs_end_to_end(spark, tmp_path):
    """The streaming ingest demo must stay runnable: arrivals → incremental
    near-dup filter → decontamination → redacted final store at sf0.001."""
    import examples.streaming_corpus_ingest as demo

    work = str(tmp_path / "stream_demo")
    import sys as _sys

    argv, _sys.argv = _sys.argv, ["demo", "/root/testdata/sf0.001", work]
    try:
        assert demo.main() == 0
    finally:
        _sys.argv = argv
    final = spark.read.parquet(work + "/final")
    assert 0 < final.count() <= 500
    assert {"doc_id", "text"} <= set(final.columns)


def test_run_csv_feed_with_quarantine(spark, tmp_path):
    """quarantine_dir: unparseable lines land as raw text in the
    quarantine store (replay-idempotent batch partitions); parseable
    rows flow through the cleaning chain untouched."""
    src = tmp_path / "qin"
    src.mkdir()
    good_line = '07-04-2025 13:45,,CellX,B3,,20,11,,,OK," NIL ",,55.5,,0.99\n'
    bad_line = "not a date,,CellY,B3,,NOT_AN_INT,11,,,OK,x,,55.5,,0.99\n"
    (src / "r.csv").write_text(CSV_HEADER + "\n" + good_line + bad_line)
    res = pipelines.run_csv_feed(
        spark,
        str(src),
        out_dir=str(tmp_path / "qout"),
        checkpoint=str(tmp_path / "qck"),
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    assert res.rows == 1  # only the parseable row reaches the sink
    cleaned = spark.read.parquet(str(tmp_path / "qout")).collect()
    assert len(cleaned) == 1 and cleaned[0]["Cell Name"] == "CellX"
    q = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert len(q) == 1 and "NOT_AN_INT" in q[0]._corrupt_record
    assert q[0].input_file.endswith("r.csv")  # source-file lineage kept


def test_ccnet_quality_stream_example_runs_end_to_end(spark, tmp_path):
    """The CCNet streaming demo must stay runnable: calibration (LM +
    fixed thresholds) -> one annotated, bucketed crawl stream with a
    frozen scoring LM -> a non-empty training tier at sf0.001."""
    import examples.ccnet_quality_stream as demo

    work = str(tmp_path / "ccnet_demo")
    import sys as _sys

    argv, _sys.argv = _sys.argv, ["demo", "/root/testdata/sf0.001", work]
    try:
        assert demo.main() == 0
    finally:
        _sys.argv = argv
    store = spark.read.parquet(work + "/annotated")
    assert store.count() == 500  # every crawl row survives, annotated
    assert {"kept", "quality_prob", "avg_logprob", "ppl_bucket"} <= set(store.columns)
    weighted = spark.read.parquet(work + "/weighted")
    assert weighted.count() == 500  # DSIR tier drops nothing either
    assert {"dsir_weight", "n_grams"} <= set(weighted.columns)
    assert weighted.filter("dsir_weight IS NOT NULL").count() > 0
    train = spark.read.parquet(work + "/train_tier")
    assert 0 < train.count() < 500


GOOD_LINE = '07-04-2025 13:45,,CellX,B3,,20,11,,,OK," NIL ",,55.5,,0.99\n'
BAD_LINE = "not a date,,CellY,B3,,NOT_AN_INT,11,,,OK,x,,55.5,,0.99\n"


def _csv_drain(spark, tmp_path, name, lines, **kw):
    """Drop one CSV into ``tmp_path/in`` and drain it with quarantine and
    archival onto the same sink and checkpoint as earlier calls."""
    src = tmp_path / "in"
    src.mkdir(exist_ok=True)
    (src / name).write_text(CSV_HEADER + "\n" + "".join(lines))
    return pipelines.run_csv_feed(
        spark, str(src), out_dir=str(tmp_path / "out"), checkpoint=str(tmp_path / "ck"),
        archive_dir=str(tmp_path / "done"), quarantine_dir=str(tmp_path / "quarantine"), **kw,
    )


def _parquet_files(path):
    return sorted(str(p) for p in path.rglob("*.parquet")) if path.exists() else []


def test_feed_rows_accumulate_across_drains(spark, tmp_path):
    """``rows`` is the checkpointed query's cumulative committed count,
    taken from the write: two drains of one row each report 1, then 2,
    and a malformed line counts in neither. After each drain every
    consumed CSV is in the archive exactly once and none is left over."""

    def archived():
        return sorted(p.name for p in (tmp_path / "done").rglob("*.csv"))

    res = _csv_drain(spark, tmp_path, "a.csv", [GOOD_LINE])
    assert res.rows == 1 and res.leftovers == [] and archived() == ["a.csv"]
    res = _csv_drain(spark, tmp_path, "b.csv", [GOOD_LINE, BAD_LINE])
    assert res.rows == 2 and res.leftovers == [] and archived() == ["a.csv", "b.csv"]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_feed_archives_every_file_past_commit_retention(spark, tmp_path):
    """One drain of more batches than ``minBatchesToRetain`` keeps commit
    files for: Spark purges the early commits, and the archive sweep
    still moves every consumed CSV, so none is left over."""
    src = tmp_path / "in"
    src.mkdir()
    names = [f"f{i}.csv" for i in range(4)]
    for name in names:
        (src / name).write_text(CSV_HEADER + "\n" + GOOD_LINE)
    key = "spark.sql.streaming.minBatchesToRetain"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        res = pipelines.run_csv_feed(
            spark, str(src), out_dir=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ck"), archive_dir=str(tmp_path / "done"),
        )
    finally:
        spark.conf.set(key, prev)
    assert not (tmp_path / "ck" / "commits" / "0").exists()  # purged
    assert res.rows == 4 and res.leftovers == []
    assert sorted(p.name for p in (tmp_path / "done").rglob("*.csv")) == names


def test_feed_header_only_csv_writes_nothing(spark, tmp_path):
    """A header-only CSV is an empty micro-batch: it runs with no
    emptiness probe, reports 0 rows and leaves no sink or quarantine
    data file."""
    res = _csv_drain(spark, tmp_path, "empty.csv", [])
    assert res.rows == 0 and res.leftovers == []
    assert _parquet_files(tmp_path / "out") == []
    assert _parquet_files(tmp_path / "quarantine") == []


def test_feed_replayed_epoch_counts_once(tmp_path):
    """The checkpoint's row record: a replayed epoch (the same epoch
    recorded again, as after a crash between write and commit) keeps its
    base, so its rows count once."""
    ck = str(tmp_path)
    assert pipelines._committed_rows(ck) == 0
    for epoch, n in ((0, 3), (1, 2), (1, 2), (2, 0), (3, 4)):
        pipelines._record_rows(ck, epoch, n)
    assert pipelines._committed_rows(ck) == 9


class _RunIds(StreamingQueryListener):
    """Collects the ``runId`` of every query started: Spark runs a
    micro-batch's jobs, foreachBatch actions included, in that job group."""

    def __init__(self):
        self.ids = []

    def onQueryStarted(self, event):
        self.ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _plans_of_jobs(spark, job_ids):
    """Plans of the SQL executions that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(store.size()):
        ex = store.apply(i)
        ids = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
        if ids & set(job_ids):
            plans.append(ex.physicalPlanDescription())
    return plans


def test_feed_batch_job_counts(spark, tmp_path):
    """One micro-batch is one job when clean, two when it has malformed
    lines (the quarantine write), and one for an XML file; no job reads
    the sink back."""
    listener = _RunIds()
    spark.streams.addListener(listener)
    sc = spark.sparkContext
    out = str(tmp_path / "out")

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = list(sc.statusTracker().getJobIdsForGroup(listener.ids[-1]))
        for plan in _plans_of_jobs(spark, ids):
            assert out not in plan or "InsertIntoHadoopFsRelationCommand" in plan, plan
        return len(ids)

    try:
        assert _csv_drain(spark, tmp_path, "a.csv", [GOOD_LINE]).rows == 1
        assert jobs() == 1
        assert _csv_drain(spark, tmp_path, "b.csv", [GOOD_LINE, BAD_LINE]).rows == 2
        assert jobs() == 2
        xin = tmp_path / "xin"
        xin.mkdir()
        (xin / "a.xml").write_text(XML_DOC)
        res = pipelines.run_xml_feed(spark, str(xin), variant="xmlonly", out_dir=out,
                                     checkpoint=str(tmp_path / "xck"))
        assert res.rows == 1
        assert jobs() == 1
    finally:
        spark.streams.removeListener(listener)


def test_feed_quarantine_write_compiles_nothing_new(spark, tmp_path):
    """The quarantine write goes straight to its epoch's directory, with no
    per-epoch literal column, so later dirty drains reuse every generated
    class of the first. Three later drains, so that epochs no other test
    reaches are among them."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _csv_drain(spark, tmp_path, "a.csv", [GOOD_LINE, BAD_LINE])
    before = cm.METRIC_COMPILATION_TIME().getCount()
    for i in range(3):
        assert _csv_drain(spark, tmp_path, f"b{i}.csv", [GOOD_LINE, BAD_LINE]).rows == i + 2
    assert cm.METRIC_COMPILATION_TIME().getCount() == before
    q = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert sorted(r["__batch_id"] for r in q) == [0, 1, 2, 3]
