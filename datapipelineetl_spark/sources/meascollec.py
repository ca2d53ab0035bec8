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

MEASCOLLEC_NS = "http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec"

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
    scale each executor parses its own slice of the file listing.
    """
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("xml").option("rowTag", "measCollecFile").schema(MEASCOLLEC_SCHEMA)
    return reader.load(path)


def read_meascollec_portable(spark: SparkSession, path: str) -> DataFrame:
    """Portable fallback for :func:`read_meascollec`: whole-file text read
    + ElementTree inside Arrow-batched ``mapInPandas``, emitting the SAME
    nested schema — so :func:`flatten_meascollec` (and everything after
    it) is shared verbatim between the native and portable paths.

    Use when the deployment's Spark lacks the XML data source (< 4.0
    without the spark-xml package). This is the reference's parser
    (dags/Dag2.py:70-155) relocated from the Airflow worker to executors:
    document-level parallelism, no driver bottleneck. ``*.gz`` still
    decompresses transparently (text source).

    Scale note: ``wholetext`` materializes each document as one row —
    fine for measurement files (KB–MB); for multi-GB documents use the
    native source, which streams.
    """

    def parse(batches):
        import xml.etree.ElementTree as ET  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        ns = {"ns": MEASCOLLEC_NS}

        def pv(el):
            return {"_VALUE": el.text, "_p": el.get("p")}

        for pdf in batches:
            headers, datas = [], []
            for doc in pdf["value"]:
                try:
                    root = ET.fromstring(doc)
                except ET.ParseError:
                    continue  # PERMISSIVE parity: corrupt doc → no rows
                mc = root.find("ns:fileHeader/ns:measCollec", ns)
                headers.append(
                    {"measCollec": {"_beginTime": mc.get("beginTime") if mc is not None else None}}
                )
                me = root.find("ns:measData/ns:managedElement", ns)
                infos = []
                for mi in root.findall("ns:measData/ns:measInfo", ns):
                    job = mi.find("ns:job", ns)
                    gran = mi.find("ns:granPeriod", ns)
                    infos.append(
                        {
                            "_measInfoId": mi.get("measInfoId"),
                            "job": {"_jobId": job.get("jobId") if job is not None else None},
                            "granPeriod": {
                                "_duration": gran.get("duration") if gran is not None else None,
                                "_endTime": gran.get("endTime") if gran is not None else None,
                            },
                            "measType": [pv(t) for t in mi.findall("ns:measType", ns)],
                            "measValue": [
                                {
                                    "_measObjLdn": v.get("measObjLdn"),
                                    "r": [pv(r) for r in v.findall("ns:r", ns)],
                                }
                                for v in mi.findall("ns:measValue", ns)
                            ],
                        }
                    )
                datas.append(
                    {
                        "managedElement": {"_localDn": me.get("localDn") if me is not None else None},
                        "measInfo": infos,
                    }
                )
            if headers:  # an all-corrupt batch yields nothing (empty
                # object columns degrade to float64, which Arrow rejects)
                yield pd.DataFrame({"fileHeader": headers, "measData": datas})

    txt = spark.read.text(path, wholetext=True)
    return txt.mapInPandas(parse, MEASCOLLEC_SCHEMA)


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
