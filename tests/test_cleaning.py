"""Sentinel-matrix unit tests for the cleaning operators (SURVEY.md §5).

Micro-DataFrames with every sentinel class the reference handles: null,
"NIL", "NULL", "nil " with whitespace/case, unparseable timestamps,
out-of-range geo nulls. Locks in the load-bearing C2–C5 ordering.
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelineetl_spark.operators import cleaning
from datapipelineetl_spark.schemas import CELL_METRICS_SCHEMA


def test_parse_timestamp_reference_format(spark):
    df = spark.createDataFrame(
        [("07-04-2025 13:45",), ("not a date",), (None,)], ["Time"]
    )
    out = cleaning.parse_timestamp(df, "Time").collect()
    assert out[0].Time == datetime.datetime(2025, 7, 4, 13, 45)
    assert out[1].Time is None and out[2].Time is None


def test_fill_nulls_targeted_and_global(spark):
    df = spark.createDataFrame(
        [(None, None, 1.5), (2, "x", None)],
        T.StructType(
            [
                T.StructField("a", T.IntegerType()),
                T.StructField("s", T.StringType()),
                T.StructField("d", T.DoubleType()),
            ]
        ),
    )
    out = cleaning.fill_nulls(cleaning.fill_nulls(df, 0, ["a"]), "N/A", ["s"])
    rows = {r.a: r for r in out.collect()}
    assert rows[0].s == "N/A" and rows[0].d == 1.5
    out2 = cleaning.fill_nulls(out, 0).collect()
    assert all(r.d is not None for r in out2)


def test_sentinel_fill_order_c4_before_c5(spark):
    """C4's 999 geo sentinel must win over C5's global 0 fill."""
    df = spark.createDataFrame(
        [(None, None)],
        T.StructType(
            [
                T.StructField("Latitude", T.DoubleType()),
                T.StructField("other", T.DoubleType()),
            ]
        ),
    )
    df = cleaning.replace_null_with_sentinel(df, ["Latitude"], 999.0)
    df = cleaning.fill_nulls(df, 0)
    r = df.collect()[0]
    assert r.Latitude == 999.0 and r.other == 0.0


def test_string_sentinel_case_and_whitespace(spark):
    df = spark.createDataFrame(
        [("nil",), (" NIL ",), ("Nil",), ("3.5",), (None,)], ["v"]
    )
    out = [r.v for r in cleaning.string_sentinel_to_value(df, "v", "nil", 0).collect()]
    assert out == ["0", "0", "0", "3.5", None]


def test_cast_with_sentinel_int_vs_double(spark):
    df = spark.createDataFrame([("42",), ("NIL",), ("3.9",), (None,)], ["kpiValue"])
    ints = [r.kpiValue for r in cleaning.clean_kpi_records(df, "int").collect()]
    assert ints == [42, 0, None, None]  # "3.9" doesn't cast to int → null
    dbls = [r.kpiValue for r in cleaning.clean_kpi_records(df.selectExpr("kpiValue"), "double").collect()]
    assert dbls == [42.0, 0.0, 3.9, None]


def test_nil_null_nan_to_zero(spark):
    df = spark.createDataFrame([("NIL",), ("NULL",), (None,), ("7",)], ["v"])
    out = [r.v for r in cleaning.nil_null_nan_to_zero(df, "v").collect()]
    assert out == ["0", "0", "0", "7"]


def test_extract_between_nodeid(spark):
    df = spark.createDataFrame(
        [("eNodeBFunctionName=ENB123,cellId=7",), ("nokey",), (None,)], ["measObjLdn"]
    )
    out = [r.nodeid for r in cleaning.extract_between(df, "measObjLdn", "nodeid").collect()]
    assert out == ["ENB123", "", None]


def test_clean_cell_metrics_full_chain(spark):
    rows = [
        (
            "07-04-2025 13:45", None, "CellA", "B3", None, 20, 11,
            None, None, "OK", " NIL ", None, 55.5, None, 0.99,
        ),
        (
            "bad", "ENB1", None, "B7", 100, None, None,
            36.8, 10.1, "OK", "2.25", 1000.0, None, 12, None,
        ),
    ]
    df = spark.createDataFrame(rows, CELL_METRICS_SCHEMA)
    out = cleaning.clean_cell_metrics(df)
    assert "Integrity" not in out.columns
    assert "FT_UL_Interference" in out.columns and "FT_UL.Interference" not in out.columns
    r0, r1 = out.collect()
    assert r0["eNodeB Name"] == "N/A" and r1["Cell Name"] == "N/A"
    assert r0["Downlink EARFCN"] == 0 and r1["Downlink bandwidth"] == 0
    assert r0["Latitude"] == 999.0 and r0["Longitude"] == 999.0
    assert r1["Latitude"] == 36.8
    assert r0["FT_UL_Interference"] == "0" and r1["FT_UL_Interference"] == "2.25"
    assert r0["FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)"] == 0.0
    assert r1["Time"] is None
    assert r0["Time"] == datetime.datetime(2025, 7, 4, 13, 45)


def test_cleaning_chain_property(spark):
    """Property (hypothesis): after the full chain, targeted numeric cols
    are never null, geo sentinels fire exactly on null coords, and the
    nil→0 rule is case/whitespace-insensitive — for arbitrary input mixes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    nilish = st.sampled_from(["NIL", "nil", " NIL ", "Nil  ", "0.5", "7", None])
    coord = st.one_of(st.none(), st.floats(-90, 90, allow_nan=False))
    intval = st.one_of(st.none(), st.integers(-1000, 1000))

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.tuples(nilish, coord, intval), min_size=1, max_size=8))
    def run(rows):
        df = spark.createDataFrame(
            [("07-04-2025 13:45", "E", "C", "B3", 20, 1, 9.9, "OK", n, c, i)
             for n, c, i in rows],
            T.StructType(
                [
                    T.StructField("Time", T.StringType()),
                    T.StructField("eNodeB Name", T.StringType()),
                    T.StructField("Cell Name", T.StringType()),
                    T.StructField("Frequency band", T.StringType()),
                    T.StructField("Downlink bandwidth", T.IntegerType()),
                    T.StructField("LocalCell Id", T.IntegerType()),
                    T.StructField("Longitude", T.DoubleType()),
                    T.StructField("Integrity", T.StringType()),
                    T.StructField("FT_UL.Interference", T.StringType()),
                    T.StructField("Latitude", T.DoubleType()),
                    T.StructField("Downlink EARFCN", T.IntegerType()),
                ]
            ),
        )
        out = cleaning.clean_cell_metrics(df).collect()
        for (n, c, i), row in zip(rows, out):
            if n is not None and n.strip().lower() == "nil":
                assert row["FT_UL_Interference"] == "0"
            elif n is not None:
                assert row["FT_UL_Interference"] == n
            assert row["Latitude"] == (999.0 if c is None else c)
            assert row["Downlink EARFCN"] == (0 if i is None else i)

    run()


def test_malformed_csv_rows_tolerated(spark, tmp_path):
    """A row whose numeric field doesn't parse yields null (PERMISSIVE) —
    which the cleaning chain then fills; the job never dies on bad input."""
    p = tmp_path / "bad.csv"
    p.write_text(
        "Time,eNodeB Name,Cell Name,Frequency band,Downlink EARFCN,"
        "Downlink bandwidth,LocalCell Id,Latitude,Longitude,Integrity,"
        '"FT_UL.Interference","FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)",'
        '"FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)","FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)",'
        '"FT_4G/LTE CALL SETUP SUCCESS RATE"\n'
        "07-04-2025 13:45,ENB1,CellA,B3,NOT_A_NUMBER,20,11,36.8,10.1,OK,1.0,2.0,3.0,4,0.5\n"
    )
    from datapipelineetl_spark.schemas import CELL_METRICS_SCHEMA

    raw = spark.read.schema(CELL_METRICS_SCHEMA).option("header", "true").csv(str(p))
    out = cleaning.clean_cell_metrics(raw).collect()[0]
    assert out["Downlink EARFCN"] == 0  # unparseable int → null → C2 fill


def test_strip_file_uri_prefix(spark):
    df = spark.createDataFrame([("file:///a/b.xml",), ("file:/a/b.xml",), ("/a/b.xml",)], ["p"])
    out = [r.p for r in cleaning.strip_file_uri_prefix(df, "p").collect()]
    assert out == ["/a/b.xml"] * 3


def test_read_with_quarantine_splits_malformed_rows(spark, tmp_path):
    """§2.1 malformed-row quarantine: PERMISSIVE parse + split — good
    rows typed, bad raw lines preserved verbatim for audit; JSON parse
    errors quarantine the same way; neither path drops rows silently."""
    from pyspark.sql import types as T

    from datapipelineetl_spark.sources import tabular

    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "feed.csv").write_text("a,b\n1,x\nnot_an_int,y\n3,z\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    good, bad = tabular.split_quarantine(
        tabular.read_with_quarantine(spark, str(csv_dir), "csv", schema, header="true")
    )
    assert sorted((r.a, r.b) for r in good.collect()) == [(1, "x"), (3, "z")]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["not_an_int,y"]

    json_dir = tmp_path / "json"
    json_dir.mkdir()
    (json_dir / "feed.json").write_text(
        '{"a": 1, "b": "x"}\n{"a": oops not json\n{"a": 3, "b": "z"}\n'
    )
    goodj, badj = tabular.split_quarantine(
        tabular.read_with_quarantine(spark, str(json_dir), "json", schema)
    )
    assert sorted((r.a, r.b) for r in goodj.collect()) == [(1, "x"), (3, "z")]
    assert badj.count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fmt"):
        tabular.read_with_quarantine(spark, str(csv_dir), "orc", schema)


# --- parity: the one-projection chain vs the step-by-step chain --------------
_NAN, _INF = float("nan"), float("inf")
# (Time, eNodeB Name, Cell Name, Frequency band, Downlink EARFCN, Downlink
# bandwidth, LocalCell Id, Latitude, Longitude, Integrity, FT_UL.Interference,
# DL thrput, PRB load, users, setup rate)
_EDGE_ROWS = [
    ("07-04-2025 13:45", "E", "C", "B3", 1, 2, 3, 1.5, -1.5, "OK", "nil", 1.0, 2.0, 4, 0.5),
    (None, None, None, None, None, None, None, None, None, None, None, None, None, None, None),
    ("not a date", "", "", "", 0, 0, 0, _NAN, _NAN, "", "NIL", _NAN, _NAN, 0, _NAN),
    ("", "x", "y", "z", -1, -2, -3, _INF, -_INF, "BAD", " Nil ", _INF, -_INF, -4, -_INF),
    (" 07-04-2025 13:45", None, "c", None, None, 5, None, -0.0, 0.0, None, "\tnil", -0.0, 0.0, None, -0.0),
    ("13-45-2025 99:99", "e", None, "B7", 7, None, 8, None, -0.0, "OK", "nil0", None, -0.0, 9, None),
    ("02-29-2024 00:00", "f", "g", "B1", None, None, None, 999.0, None, "OK", "", 0.0, None, None, _NAN),
    ("07-04-2025 13:45", "h", "i", "B2", 2147483647, -2147483648, 0, -90.0, 180.0, "OK", "NiL  ", 1e308, -1e-308, 2147483647, 5e-324),
]


def _reference_clean_cell_metrics(df):
    """The step-by-step chain ``clean_cell_metrics`` replaced: one
    DataFrame per C-rule, each rule in the Column spelling its public
    operator had before the rules became SQL helpers, so this shares no
    code with the projection it checks."""
    df = df.withColumn("Time", F.try_to_timestamp(F.col("Time"), F.lit("MM-dd-yyyy HH:mm")))
    df = df.na.fill(0, subset=["Downlink EARFCN", "LocalCell Id", "Downlink bandwidth"])
    df = df.na.fill("N/A", subset=["eNodeB Name", "Cell Name"])
    df = df.withColumns({
        c: F.when(F.col(c).isNull(), F.lit(999.0)).otherwise(F.col(c))
        for c in ("Longitude", "Latitude")
    })
    df = df.na.fill(0)
    df = df.withColumnRenamed("FT_UL.Interference", "FT_UL_Interference")
    c = F.col("FT_UL_Interference")
    df = df.withColumn(
        "FT_UL_Interference",
        F.when(F.lower(F.trim(c)) == "nil", F.lit(0).cast("string")).otherwise(c),
    )
    return df.drop("Integrity")


def _bits(rows):
    """Rows with every float replaced by its IEEE-754 bit pattern, so NaN
    equals NaN and -0.0 differs from 0.0."""
    return sorted(
        (tuple(struct.pack(">d", v) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


def _assert_same_frame(got, want):
    assert got.schema == want.schema  # names, types and nullability
    assert _bits(got.collect()) == _bits(want.collect())


def test_clean_cell_metrics_matches_step_by_step_chain(spark):
    """The one-``selectExpr`` chain against the step-by-step chain on an
    edge table: NULL, NaN, ±inf, -0.0, int extremes, ``nil`` case and
    space variants, and unparseable or empty times."""
    # PySpark's own list-backed createDataFrame, which keeps NaN
    edge = type(spark).createDataFrame(spark, _EDGE_ROWS, CELL_METRICS_SCHEMA)
    _assert_same_frame(cleaning.clean_cell_metrics(edge), _reference_clean_cell_metrics(edge))


def test_public_c_rules_match_their_column_spelling(spark):
    """Each public C-rule operator, now one SQL helper, against its former
    Column spelling on the same edge table."""
    edge = type(spark).createDataFrame(spark, _EDGE_ROWS, CELL_METRICS_SCHEMA)
    edge = edge.withColumnRenamed("FT_UL.Interference", "ul")
    ul = F.col("ul")
    pairs = [
        (cleaning.parse_timestamp(edge, "Time", out="t"),
         edge.withColumn("t", F.try_to_timestamp(F.col("Time"), F.lit("MM-dd-yyyy HH:mm")))),
        (cleaning.fill_nulls(edge, 0), edge.na.fill(0)),
        (cleaning.fill_nulls(edge, 1.5, ["Latitude", "LocalCell Id"]),
         edge.na.fill(1.5, subset=["Latitude", "LocalCell Id"])),
        (cleaning.fill_nulls(edge, "N/A", ["Cell Name", "Latitude"]),
         edge.na.fill("N/A", subset=["Cell Name", "Latitude"])),
        (cleaning.replace_null_with_sentinel(edge, ["Latitude", "LocalCell Id"], 999.0),
         edge.withColumns({c: F.when(F.col(c).isNull(), F.lit(999.0)).otherwise(F.col(c))
                           for c in ("Latitude", "LocalCell Id")})),
        (cleaning.string_sentinel_to_value(edge, "ul", "NIL", 0),
         edge.withColumn("ul", F.when(F.lower(F.trim(ul)) == "nil", F.lit(0).cast("string"))
                         .otherwise(ul))),
    ]
    for got, want in pairs:
        _assert_same_frame(got, want)
