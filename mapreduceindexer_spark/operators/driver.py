"""The driver path shared by the operators that answer a small input in
the driver process with Arrow and numpy instead of a Spark plan (BM25
top-k in ``search.py``, the ingest dedup in ``dedup.py``).

One gate decides which inputs go there. The input's columns must have
the types the operator handles, and Spark's size estimate of them must
be within ``spark.sql.autoBroadcastJoinThreshold``, the size Spark
already ships through the driver for one side of a broadcast join; -1
turns the path off. The estimate can be far too low (Spark counts a
string column as 20 bytes whatever its length), so the bytes are
counted again as they are read, and a relation over the same threshold
is dropped for the Spark plan as soon as the count passes it: a read of
about the threshold wasted, and only where the estimate was wrong.

An input that is a plain scan of local parquet files is read straight
from them with ``pyarrow.dataset`` (:func:`read_parquet`), with no Spark
job; any other input is collected from a Spark job as ``toArrow``
collects it. The answer goes back as a local relation, so collecting
it runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# Column types whose parquet values pyarrow reads as Spark's scan does.
# Dates and timestamps depend on the calendar-rebase settings and the
# writer's file metadata, so they, decimals and nested types take the
# Spark job.
_FILE_TYPES = (T.BooleanType, *_INTEGRAL, T.FloatType, T.DoubleType, T.StringType, T.BinaryType)
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"


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

    A relation whose optimized plan is a plain scan of local parquet
    files (:func:`_plain_parquet_files`) is read from them on the driver
    (:func:`read_parquet`), with no Spark job. The read takes no more
    than ``spark.driver.maxResultSize`` either, the most a collect may
    bring back. When a file's footer does not carry every column under
    its exact name and type, or pyarrow raises on a file, the rows are
    collected from a Spark job instead, so Spark's own schema
    resolution, ``ignoreCorruptFiles``, ``ignoreMissingFiles`` and
    errors hold.

    The job read collects a stream of Arrow batches, as ``toArrow``
    does, but stops at the first batch past the threshold and cancels
    the job's remaining tasks: an estimate that was wrong costs the
    threshold plus the task results already in flight, not the whole
    relation. A job that fails on ``spark.driver.maxResultSize`` also
    gives None, so the Spark plan runs instead."""
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
    schema = to_arrow_schema(
        rel.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=rel.sparkSession._jconf.arrowUseLargeVarTypes(),
    )
    sc = rel.sparkSession.sparkContext
    files = _plain_parquet_files(rel) if limit >= 0 else None
    if files is not None:
        max_result = sc._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")
        try:
            return read_parquet(files, schema, limit=min(limit, max_result or limit), exact=True)
        except Exception:  # a footer that differs, or a file pyarrow cannot read
            pass
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
    if not batches:
        return schema.empty_table()
    return pa.Table.from_batches([batches[i] for i in order]).cast(schema)


def _plain_parquet_files(rel: DataFrame) -> list[str] | None:
    """The local paths of the files ``rel`` reads when its optimized plan
    is a plain scan of them, else None: an unpartitioned V1 parquet
    relation, bare or under a projection of its own columns, each of a
    type in ``_FILE_TYPES`` and a column of the files' data schema (not
    ``_metadata``), listed under ``file:`` URIs. A filter, a computed
    column, partition columns, a V2 or streaming scan and any other
    plan give None."""
    from urllib.parse import unquote, urlparse

    plan = rel._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        cols = plan.projectList()
        if any(
            cols.apply(i).getClass().getSimpleName() != "AttributeReference"
            for i in range(cols.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getName() != _LOGICAL_RELATION or plan.isStreaming():
        return None
    fs = plan.relation()
    if (
        fs.getClass().getName() != _FS_RELATION
        or fs.fileFormat().getClass().getName() != _PARQUET
        or not fs.partitionSchema().isEmpty()
    ):
        return None
    data = set(fs.dataSchema().fieldNames())
    if not all(f.name in data and isinstance(f.dataType, _FILE_TYPES) for f in rel.schema.fields):
        return None
    files = []
    for uri in rel.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file" or u.netloc not in ("", "localhost"):
            return None
        files.append(unquote(u.path))
    return files


def _plain_type(t):
    import pyarrow as pa

    return {pa.large_string(): pa.string(), pa.large_binary(): pa.binary()}.get(t, t)


def read_parquet(files, schema, filter=None, limit: int | None = None, exact: bool = False):
    """The rows of the parquet ``files`` as an Arrow table of ``schema``,
    read with ``pyarrow.dataset`` one file at a time: the columns of
    ``schema`` cast to it, a file without one reading it as nulls, and
    only the rows that pass ``filter`` (an Arrow expression) when given.
    None once the batches read take more than ``limit`` bytes; the read
    stops there. With ``exact``, each file's footer must carry every
    column of ``schema`` under its exact name, and no other name that
    differs from it only in case, with the same Arrow type (``string``
    and ``large_string`` count as equal), else ``ValueError`` is
    raised."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    batches, size = [], 0
    for fragment in ds.dataset(files, schema=schema, format="parquet").get_fragments():
        if exact:
            footer = fragment.physical_schema
            lower = [n.lower() for n in footer.names]
            for field in schema:
                i = footer.get_field_index(field.name)
                if (
                    i < 0
                    or lower.count(field.name.lower()) != 1
                    or _plain_type(footer.field(i).type) != _plain_type(field.type)
                ):
                    raise ValueError(f"{fragment.path} does not carry {field}")
        for batch in fragment.to_batches(schema=schema, columns=schema.names, filter=filter):
            size += batch.nbytes
            if limit is not None and size > limit:
                return None
            if batch.num_rows:
                batches.append(batch)
    if not batches:
        return schema.empty_table()
    return pa.Table.from_batches(batches, schema)


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
