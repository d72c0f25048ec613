"""The driver path shared by the operators that answer a small input in
the driver process with Arrow and numpy instead of a Spark plan (BM25
top-k in ``search.py``, the ingest dedup in ``dedup.py``).

One gate decides which inputs go there. The input's columns must have
the types the operator handles, and Spark's size estimate of them must
be within ``spark.sql.autoBroadcastJoinThreshold``, the size Spark
already ships through the driver for one side of a broadcast join; -1
turns the path off. The estimate can be far too low (Spark counts a
string column as 20 bytes whatever its length), so the bytes are
counted again as they are collected, and a relation over the same
threshold is dropped for the Spark plan as soon as the count passes it:
a read of about the threshold wasted, and only where the estimate was
wrong. The answer goes back as a local relation, so collecting it runs
no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def is_integral(t: T.DataType) -> bool:
    return isinstance(t, _INTEGRAL)


def is_string(t: T.DataType) -> bool:
    return t == T.StringType()


def is_key(t: T.DataType) -> bool:
    """A ``doc_id`` the driver groups and compares as Spark does."""
    return is_integral(t) or is_string(t)


def _threshold(df: DataFrame) -> int:
    return df.sparkSession._jconf.autoBroadcastJoinThreshold()


def small_relation(df: DataFrame, **columns) -> DataFrame | None:
    """``df.select(*columns)`` when the driver may collect it, else None:
    each column's resolved type passes its check in ``columns``
    (name -> predicate) and Spark's size estimate of the selection is
    within the threshold. A relation that :func:`local_relation` made
    hands its Arrow table on to the selection."""
    rel = df.select(*columns)
    if not all(ok(f.dataType) for ok, f in zip(columns.values(), rel.schema.fields)):
        return None
    threshold = _threshold(rel)
    size = rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if threshold < 0 or int(size) > threshold:
        return None
    table = getattr(df, "_driver_table", None)
    if table is not None and set(rel.columns) <= set(table.column_names):
        rel._driver_table = table.select(rel.columns)
    return rel


def collect_small(rel: DataFrame):
    """The rows of a :func:`small_relation` as an Arrow table, or None
    when they take more bytes than the threshold.

    The rows are read as ``toArrow`` reads them, as a stream of Arrow
    batches from the job, but the read stops at the first batch past the
    threshold and the job's remaining tasks are cancelled: an estimate
    that was wrong costs the threshold plus the task results already in
    flight, not the whole relation. A job that fails on
    ``spark.driver.maxResultSize`` also gives None, so the Spark plan
    runs instead."""
    import uuid

    import pyarrow as pa
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import local_connect_and_auth

    limit = _threshold(rel)
    table = getattr(rel, "_driver_table", None)
    if table is not None:
        return table if table.nbytes <= limit else None
    sc = rel.sparkSession.sparkContext
    tag = f"driver-collect-{uuid.uuid4().hex}"
    sc.addJobTag(tag)  # inherited by the thread that runs the job
    try:
        port, secret, server = rel._jdf.collectAsArrowToPython()
    finally:
        sc.removeJobTag(tag)
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)
    batches, order, size, over = [], [], 0, False
    try:
        for item in ArrowCollectSerializer().load_stream(sockfile):
            if not isinstance(item, pa.RecordBatch):
                order = item  # the batches' order comes last
                continue
            size += item.nbytes
            if size > limit:
                over = True
                sc.cancelJobsWithTag(tag)
                break
            batches.append(item)
    finally:
        sockfile.close()
        sock.close()
        try:
            server.getResult()  # raises what failed the job
        except Py4JJavaError as err:
            if not (over or "spark.driver.maxResultSize" in str(err)):
                raise
            over = True
    if over:
        return None
    schema = to_arrow_schema(
        rel.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=rel.sparkSession._jconf.arrowUseLargeVarTypes(),
    )
    if not batches:
        return schema.empty_table()
    return pa.Table.from_batches([batches[i] for i in order]).cast(schema)


def local_relation(spark, table, schema: T.StructType) -> DataFrame:
    """``table`` as a local relation of ``schema``, whose collect runs no
    job (above ``spark.sql.execution.arrow.localRelationThreshold``,
    48 MB by default, Spark makes it an RDD of the batches instead). It
    is handed over as one chunk, or as an empty table when it has no
    rows: ``createDataFrame`` drops every row after an empty record
    batch and rejects a table of no chunks. The relation keeps
    ``table``, so a driver path it is passed to reads it without a job."""
    table = table.combine_chunks() if table.num_rows else table.schema.empty_table()
    df = spark.createDataFrame(table, schema=schema)
    df._driver_table = table
    return df


def round_half_up_6(x, spark):
    """Spark's ``round(x, 6)`` of non-negative doubles:
    ``BigDecimal.valueOf(x)`` — the decimal digits of JDK 17's
    ``Double.toString`` — set to scale 6 with HALF_UP, back to a double.

    Vectorized as ``floor(x·1e6 + 0.5) / 1e6``. That is exact wherever
    ``x·1e6`` lies clearly off a half-way point: then the decimal string
    and the binary value round to the same integer ``n``, and both
    ``n / 1e6`` and ``BigDecimal.doubleValue`` are the double nearest to
    ``n·10⁻⁶``. Values within a few ulps of a half-way point (where
    JDK 17's digits may differ from Python's shortest ``repr``) and
    values too large for an exact ``n`` are rounded by the JVM itself.
    """
    from decimal import ROUND_HALF_UP, Context, Decimal

    import numpy as np

    scaled = x * 1e6
    out = np.floor(scaled + 0.5) / 1e6
    frac = scaled - np.floor(scaled)
    to_string = spark._jvm.java.lang.Double.toString
    exact = Context(prec=400)  # every digit of any double at scale 6
    for i in np.flatnonzero(
        (np.abs(frac - 0.5) <= 64 * np.spacing(scaled)) | (scaled >= 2.0**52)
    ):
        digits = Decimal(to_string(float(x[i])))
        out[i] = float(digits.quantize(Decimal("1e-6"), ROUND_HALF_UP, exact))
    return out
