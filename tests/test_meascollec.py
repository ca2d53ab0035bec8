"""Golden-file test for the TS 32.435 flattener (FIXTURES.md §A3)."""

from __future__ import annotations

import gzip
import shutil

import pytest

from datapipelineetl_spark.sources import meascollec as mc

XML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<measCollecFile xmlns="http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec">
  <fileHeader fileFormatVersion="32.435 V10.0">
    <fileSender localDn="ENB1"/>
    <measCollec beginTime="2025-07-04T13:00:00+01:00"/>
  </fileHeader>
  <measData>
    <managedElement localDn="SubNetwork=1,ManagedElement=ENB1"/>
    <measInfo measInfoId="measInfo_Cell">
      <job jobId="job1"/>
      <granPeriod duration="PT900S" endTime="2025-07-04T13:15:00+01:00"/>
      <measType p="1">RRC.ConnEstabAtt</measType>
      <measType p="2">RRC.ConnEstabSucc</measType>
      <measValue measObjLdn="eNodeBFunctionName=ENB1,cellId=7">
        <r p="1">100</r>
        <r p="2">95</r>
        <r p="3">7</r>
      </measValue>
      <measValue measObjLdn="eNodeBFunctionName=ENB1,cellId=8">
        <r p="1">NIL</r>
        <r p="2">50</r>
      </measValue>
    </measInfo>
    <measInfo measInfoId="measInfo_Thrp">
      <job jobId="job2"/>
      <granPeriod duration="PT900S" endTime="2025-07-04T13:15:00+01:00"/>
      <measType p="1">DL.Thrp</measType>
      <measValue measObjLdn="eNodeBFunctionName=ENB2,cellId=1">
        <r p="1">123.5</r>
      </measValue>
    </measInfo>
  </measData>
</measCollecFile>
"""


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("meascollec")
    (d / "A20250704.xml").write_text(XML_DOC)
    return str(d)


def test_flatten_xmlonly_golden(spark, xml_dir):
    out = mc.flatten_meascollec(mc.read_meascollec(spark, xml_dir), "xmlonly")
    assert out.columns == [
        "measInfoId", "jobId", "granPeriod", "beginTime", "endTime",
        "measObjLdn", "nodeid", "kpiId", "kpiName", "kpiValue",
    ]
    rows = {(r.measInfoId, r.measObjLdn, r.kpiId): r for r in out.collect()}
    assert len(rows) == 6
    r1 = rows[("measInfo_Cell", "eNodeBFunctionName=ENB1,cellId=7", "1")]
    assert (r1.kpiName, r1.kpiValue, r1.nodeid) == ("RRC.ConnEstabAtt", "100", "ENB1")
    assert r1.jobId == "job1" and r1.granPeriod == "PT900S"
    assert r1.beginTime == "2025-07-04T13:00:00+01:00"
    assert r1.endTime == "2025-07-04T13:15:00+01:00"
    # missing measType → UNKNOWN_{p} (dags/Dag2.py:129)
    assert rows[("measInfo_Cell", "eNodeBFunctionName=ENB1,cellId=7", "3")].kpiName == "UNKNOWN_3"
    # NIL → "0" (C8 intent, dags/Dag2.py:118)
    assert rows[("measInfo_Cell", "eNodeBFunctionName=ENB1,cellId=8", "1")].kpiValue == "0"


def test_flatten_variants(spark, xml_dir):
    raw = mc.read_meascollec(spark, xml_dir)
    gz = mc.flatten_meascollec(raw, "gzip")
    assert "nodeid" not in gz.columns and "localDn" not in gz.columns
    hw = mc.flatten_meascollec(raw, "hardware")
    assert "localDn" in hw.columns and "nodeid" not in hw.columns
    assert hw.collect()[0].localDn == "SubNetwork=1,ManagedElement=ENB1"


def test_streaming_meascollec_drain(spark, tmp_path):
    """S2/S4 streaming: the XML feed as a Structured Streaming source —
    the engine-native replacement for the reference's per-minute Airflow
    flatten loop (dags/Dag2.py)."""
    (tmp_path / "A20250704.xml").write_text(XML_DOC)
    stream = mc.read_meascollec(spark, str(tmp_path), streaming=True)
    assert stream.isStreaming
    q = (
        mc.flatten_meascollec(stream, "xmlonly")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("xmlstream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM xmlstream").collect()
    assert len(rows) > 0
    assert {"measInfoId", "kpiName", "kpiValue", "nodeid"} <= set(rows[0].asDict())


def test_gzip_transparent(spark, tmp_path):
    """S5: Spark reads .xml.gz transparently — no separate gunzip stage."""
    p = tmp_path / "A20250704.xml.gz"
    with gzip.open(p, "wt") as f:
        f.write(XML_DOC)
    out = mc.flatten_meascollec(mc.read_meascollec(spark, str(tmp_path)), "gzip")
    assert out.count() == 6


def test_lineage_column(spark, xml_dir):
    out = mc.flatten_meascollec(mc.read_meascollec(spark, xml_dir), "xmlonly", lineage=True)
    assert out.select("input_file").distinct().count() == 1
    assert out.collect()[0].input_file.endswith("A20250704.xml")


def test_malformed_xml_is_tolerated(spark, tmp_path):
    """Robustness: a corrupt document must not fail the job (PERMISSIVE
    default) — it contributes zero flat records; well-formed siblings in
    the same directory still parse."""
    (tmp_path / "good.xml").write_text(XML_DOC)
    (tmp_path / "bad.xml").write_text("<measCollecFile><unclosed></measCollecFile")
    out = mc.flatten_meascollec(mc.read_meascollec(spark, str(tmp_path)), "xmlonly")
    assert out.count() == 6  # only the good doc's records


def test_no_shuffle_in_flatten_plan(spark, xml_dir):
    """The flatten must be a narrow pipeline — no Exchange in the plan."""
    out = mc.flatten_meascollec(mc.read_meascollec(spark, xml_dir), "xmlonly")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
