"""3GPP TS 32.435 measCollec XML → flat EAV records, entirely in Spark.

Replaces the reference's driver-side ElementTree flattening
(/root/reference/dags/Dag2.py:70-155, duplicated at Dag3.py:136-221 and
varied at Dag4.py:65-156) — single-threaded Python over every file each
minute, the reference's real physical bottleneck (SURVEY.md §4).

Spark-first design: the built-in XML data source (native since Spark 4)
parses each document into a nested struct; three ``explode``s unnest
measInfo → measValue → r; the per-measInfo measType position→name lookup
(the reference's Python dict, dags/Dag2.py:103-106) becomes
``map_from_entries`` + ``element_at`` — a collection lookup that never
leaves the row, so no join and no shuffle at all. The whole flatten is a
narrow pipeline: at 100 TB parallelism comes from file count, and each
task streams documents through codegen.

Gzip input (reference stage dags/Dag3.py:83-134) needs no separate
operator: Spark's text-based sources decompress ``*.gz`` transparently.

Output matches the reference's record shape exactly (dags/Dag2.py:120-132):
``measInfoId, jobId, granPeriod, beginTime, endTime, measObjLdn, [nodeid |
localDn], kpiId, kpiName, kpiValue`` — all strings, with the reference's
cleaning intent applied: missing measType name → ``UNKNOWN_{p}``
(Dag2.py:129), kpiValue null/"NIL"/"NULL" → "0" (C8, Dag2.py:118 intent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelineetl_spark.operators.cleaning import extract_between, nil_null_nan_to_zero

# Explicit nested schema (all leaves string — the reference treats every
# field as string until the per-feed cast, SURVEY.md §1.1b). Declared, not
# inferred: inference would scan twice and can drift per-file.
_PV = T.StructType(
    [T.StructField("_VALUE", T.StringType()), T.StructField("_p", T.StringType())]
)
MEASCOLLEC_SCHEMA = T.StructType(
    [
        T.StructField(
            "fileHeader",
            T.StructType(
                [
                    T.StructField(
                        "measCollec",
                        T.StructType([T.StructField("_beginTime", T.StringType())]),
                    )
                ]
            ),
        ),
        T.StructField(
            "measData",
            T.StructType(
                [
                    T.StructField(
                        "managedElement",
                        T.StructType([T.StructField("_localDn", T.StringType())]),
                    ),
                    T.StructField(
                        "measInfo",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("_measInfoId", T.StringType()),
                                    T.StructField(
                                        "job",
                                        T.StructType(
                                            [T.StructField("_jobId", T.StringType())]
                                        ),
                                    ),
                                    T.StructField(
                                        "granPeriod",
                                        T.StructType(
                                            [
                                                T.StructField("_duration", T.StringType()),
                                                T.StructField("_endTime", T.StringType()),
                                            ]
                                        ),
                                    ),
                                    T.StructField("measType", T.ArrayType(_PV)),
                                    T.StructField("measValue", T.ArrayType(
                                        T.StructType(
                                            [
                                                T.StructField("_measObjLdn", T.StringType()),
                                                T.StructField("r", T.ArrayType(_PV)),
                                            ]
                                        )
                                    )),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)

VARIANTS = ("gzip", "xmlonly", "hardware")


def read_meascollec(
    spark: SparkSession,
    path: str,
    streaming: bool = False,
) -> DataFrame:
    """Scan measCollec XML documents (plain or .gz) into nested rows.

    One row per document (rowTag = root). Document-level parallelism: at
    scale each executor parses its own slice of the file listing. The
    XML source is built into Spark ≥ 4.0, which the package needs
    anyway (``toArrow`` runs on its default fit and serving paths), so
    there is no second parser. A malformed document yields no rows
    (PERMISSIVE).
    """
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("xml").option("rowTag", "measCollecFile").schema(MEASCOLLEC_SCHEMA)
    return reader.load(path)


def flatten_meascollec(
    raw: DataFrame, variant: str = "xmlonly", lineage: bool = False
) -> DataFrame:
    """Nested measCollec rows → flat EAV records (one per ``r`` element).

    Feed variants (SURVEY.md §1.1b):
    - ``gzip``:     9 base columns (Dag3 → mypy/streaming.py:93-103; the
      flatten also computes nodeid but the reading schema drops it).
    - ``xmlonly``:  base + ``nodeid`` (Dag2.py:111 → mypy/xmlonly.py:84-95).
    - ``hardware``: base + ``localDn``, ``measObjLdn`` kept raw
      (Dag4.py:89-91,125 → mypy/xmlhard.py:70-81).
    """
    if variant not in VARIANTS:
        raise ValueError(f"variant must be one of {VARIANTS}")

    cols = [
        F.col("fileHeader.measCollec._beginTime").alias("beginTime"),
        F.col("measData.managedElement._localDn").alias("localDn"),
        F.explode("measData.measInfo").alias("mi"),
    ]
    if lineage:
        # S3 lineage column (mypy/streaming.py:150)
        cols.append(F.input_file_name().alias("input_file"))
    mi = raw.select(*cols)

    mv = mi.select(
        "beginTime",
        "localDn",
        *(["input_file"] if lineage else []),
        F.col("mi._measInfoId").alias("measInfoId"),
        F.col("mi.job._jobId").alias("jobId"),
        F.col("mi.granPeriod._duration").alias("granPeriod"),
        F.col("mi.granPeriod._endTime").alias("endTime"),
        # The per-measInfo measType dict (dags/Dag2.py:103-106) as a row-local
        # map — C10 without a join.
        F.map_from_entries(
            F.transform("mi.measType", lambda t: F.struct(t["_p"], t["_VALUE"]))
        ).alias("type_map"),
        F.explode("mi.measValue").alias("mv"),
    )

    r = mv.select(
        "beginTime",
        "localDn",
        *(["input_file"] if lineage else []),
        "measInfoId",
        "jobId",
        "granPeriod",
        "endTime",
        "type_map",
        F.col("mv._measObjLdn").alias("measObjLdn"),
        F.explode("mv.r").alias("r"),
    )

    out = r.select(
        "measInfoId",
        "jobId",
        "granPeriod",
        "beginTime",
        "endTime",
        "measObjLdn",
        "localDn",
        *(["input_file"] if lineage else []),
        F.col("r._p").alias("kpiId"),
        # missing measType name → UNKNOWN_{p} (dags/Dag2.py:129)
        F.coalesce(
            F.element_at("type_map", F.col("r._p")),
            F.concat(F.lit("UNKNOWN_"), F.col("r._p")),
        ).alias("kpiName"),
        F.col("r._VALUE").alias("kpiValue"),
    )
    # C8: null/NIL/NULL/NaN → "0" during flatten (dags/Dag2.py:118 intent)
    out = nil_null_nan_to_zero(out, "kpiValue")

    base = [
        "measInfoId",
        "jobId",
        "granPeriod",
        "beginTime",
        "endTime",
        "measObjLdn",
        "kpiId",
        "kpiName",
        "kpiValue",
    ]
    lin = ["input_file"] if lineage else []
    if variant == "xmlonly":
        # C9 nodeid extraction (dags/Dag2.py:111), null-safe
        out = extract_between(out, "measObjLdn", "nodeid")
        return out.select(*base[:6], "nodeid", *base[6:], *lin)
    if variant == "hardware":
        return out.select(*base[:6], "localDn", *base[6:], *lin)
    return out.select(*base, *lin)
