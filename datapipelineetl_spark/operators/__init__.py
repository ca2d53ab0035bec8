"""Pure DataFrame → DataFrame operators.

Every operator is declarative (built-in ``pyspark.sql.functions`` only, no
row-at-a-time Python) so Catalyst can push filters, prune columns, and keep
the whole chain inside whole-stage codegen. Pandas UDFs appear only where
built-ins genuinely can't express the semantics (MinHash banding, multimodal
decode stubs) and are Arrow-batched.
"""

from __future__ import annotations

import weakref


def _arrow_rows(df, budget: int):
    """The size probe that also fetches: ONE Spark job collects at most
    ``budget + 1`` rows of ``df`` over Arrow. The rows come back as a
    ``pyarrow.Table`` when there are at most ``budget`` of them, else
    None (over budget)."""
    t = df.limit(budget + 1).toArrow()
    return t if t.num_rows <= budget else None


# {py4j gateway: (readArrowStreamFromFile, toDataFrame)}: the two static
# methods of PythonSQLUtils, looked up once per gateway (each lookup is
# a round trip of its own)
_arrow_entry: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _arrow_frame(spark, table, schema):
    """``spark.createDataFrame(table, schema)`` in two gateway round
    trips: the same ``LocalRelation``, from the same JVM entry points
    (``PythonSQLUtils.readArrowStreamFromFile``, then ``toDataFrame``)
    over PySpark's own transport (``SparkContext._serialize_to_jvm``: a
    temp file, or a socket under ``spark.io.encryption.enabled``).

    ``schema`` is a ``StructType`` and ``table`` has no timestamp
    column: then the session's time zone, timestamp type, large-var-type
    and batch-size confs, which cost a round trip each, cannot change a
    row, and neither does the active session. The table is cast to
    ``schema`` as ``createDataFrame`` casts it."""
    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    sc = spark.sparkContext
    entry = _arrow_entry.get(sc._gateway)
    if entry is None:
        utils = sc._jvm.PythonSQLUtils
        entry = _arrow_entry[sc._gateway] = (utils.readArrowStreamFromFile, utils.toDataFrame)
    read, to_frame = entry
    table = table.cast(to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True))
    jiter = sc._serialize_to_jvm(table.to_batches(), ArrowStreamSerializer(), read,
                                 lambda: sc._jvm.ArrowIteratorServer())
    df = DataFrame(to_frame(jiter, schema.json(), spark._jsparkSession), spark)
    # the schema the JVM was given, set where the ``schema`` cached
    # property keeps it, so reading it costs no round trip either
    df.__dict__["schema"] = schema
    return df
