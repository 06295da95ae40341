"""Local metadata rows as DataFrames — through Arrow, never pickled
Python partitions.

Plain ``spark.createDataFrame(rows)`` ships local rows as PICKLED
PYTHON RDD partitions (``defaultParallelism`` of them), so every
downstream evaluation pays ~0.2 s of Python-worker round-trip PER
PARTITION — measured 7.9 s vs 0.16 s for a 50-row list on local[32].
That tax lands exactly on the metadata-scale plans this engine builds
constantly: Delta/Iceberg file state, manifest-store probes, broadcast
key lists, DV descriptors, ledger listings.  ``local_df`` routes
through an explicit Arrow table instead (JVM-side record batches,
free to evaluate); empty inputs become a 0-row JVM Range projection.

Every driver-resident Arrow table becomes a DataFrame through one
funnel, ``arrow_df``: ``local_df``'s rows and the manifest store's
driver-served lookups.  It is pyspark's own Arrow-table path
(``createDataFrame(pa.Table, schema)``) less the lookups it repeats on
every call, so it makes 2 to 4 py4j round trips where that path makes
24 (DDL parse, ``setActiveSession``, three session-conf walks, an
unused ``isTimestampNTZPreferred`` and four reflection lookups).  Per
call it sends the table (``readArrowStreamFromFile``) and builds the
frame (``toDataFrame``).  It reads ``arrow.useLargeVarTypes`` only
for a table with a string or binary column, and the session time zone
only for one with a timestamp or nested column.

A small result also keeps its Arrow table on the returned object, so a
driver-side consumer (``manifest_lookup``'s bucket routing) reads its
rows back in Python instead of asking the JVM for the plan it built.
"""

from __future__ import annotations

import functools
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Rows of at most this many sit in driver memory: ``local_df`` keeps
# them on its result, and the manifest store routes keys this many to
# buckets in Python.  Hashing costs ~3 us per long key and ~15-18 us
# per 48-byte string; the discovery job it replaces costs >= ~100 ms,
# so even 4096 string keys stay under one job.
_DRIVER_KEYS_MAX = 4096
_ROWS_ATTR = "_wps_rows"
_JVM_ATTR = "_wps_arrow_jvm"


@functools.lru_cache(maxsize=256)
def _ddl_json(ddl: str) -> str:
    return T._parse_datatype_string(ddl).json()


def _parse_schema(schema) -> T.DataType:
    """``schema`` parsed when it is a DDL string.  A DDL naming no
    timestamp type parses the same under any session conf, so its
    parse is memoized (a fresh copy per call); one that does follows
    ``spark.sql.timestampType`` and is parsed afresh."""
    if not isinstance(schema, str):
        return schema
    if "timestamp" in schema.lower():
        return T._parse_datatype_string(schema)
    return T._parse_datatype_json_string(_ddl_json(schema))


def _jvm_arrow(spark: SparkSession):
    """``spark``'s live ``SQLConf`` and the two ``PythonSQLUtils``
    methods ``arrow_df`` calls, looked up once per session."""
    got = vars(spark).get(_JVM_ATTR)
    if got is None:
        utils = spark._jvm.PythonSQLUtils
        got = (spark._jsparkSession.sessionState().conf(),
               utils.readArrowStreamFromFile, utils.toDataFrame)
        setattr(spark, _JVM_ATTR, got)
    return got


def arrow_df(spark: SparkSession, tbl, schema: T.StructType) -> DataFrame:
    """The Arrow table ``tbl`` (its columns in ``schema``'s order and
    in the types ``to_arrow_schema`` gives them, timestamps naive or
    not) as a DataFrame of ``schema`` — what
    ``spark.createDataFrame(tbl, schema)`` returns, in 2 py4j round
    trips plus one per conf it reads (below), instead of 24.

    It reads a session conf, from the session's ``SQLConf`` handle
    (live, so a runtime ``spark.conf.set`` takes effect), only where
    it can change the result:

    - the session time zone, when a column is a timestamp or nested;
      the table then goes through pyspark's own
      ``_check_arrow_table_timestamps_localize``;
    - ``arrow.useLargeVarTypes``, when a column holds a string or
      binary: the JVM reads those vectors at the offset width it
      names, so the table is cast to match.

    ``arrow.maxRecordsPerBatch`` only sizes the transfer:
    ``toDataFrame`` reads every batch into one ``LocalRelation``
    whatever their sizes, so the table goes over in its own chunks.
    The data travels through ``_serialize_to_jvm`` as pyspark's does
    (a temp file, or the encrypted socket).  The result carries
    ``schema`` as its ``.schema``, so reading it makes no round
    trip."""
    import pyarrow.types as pt
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import (
        _check_arrow_table_timestamps_localize, to_arrow_schema)

    conf, read_stream, to_frame = _jvm_arrow(spark)
    if any(pt.is_nested(t) or pt.is_timestamp(t) for t in tbl.schema.types):
        tbl = _check_arrow_table_timestamps_localize(
            tbl, schema, True, conf.sessionLocalTimeZone())
    target = to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True)
    large = to_arrow_schema(schema, prefers_large_types=True)
    if large != target and conf.arrowUseLargeVarTypes():
        target = large
    tbl = tbl.cast(target)
    jiter = spark._sc._serialize_to_jvm(
        tbl.to_batches(), ArrowStreamSerializer(), read_stream,
        lambda: spark._jvm.ArrowIteratorServer())
    js = schema.json()
    df = DataFrame(to_frame(jiter, js, spark._jsparkSession), spark)
    # pyspark's ``df._schema = schema`` sets nothing ``schema`` reads
    df.__dict__["schema"] = T._parse_datatype_json_string(js)
    return df


def local_df(spark: SparkSession, rows: list,
             schema) -> DataFrame:
    """``rows`` (tuples matching ``schema``, which may be a StructType
    or a DDL string) as a DataFrame whose evaluation never spawns
    Python workers.  Falls back to plain ``createDataFrame`` when the
    Arrow conversion can't represent a value (correctness over
    speed).

    The conversion builds an explicit ``pyarrow.Table`` with the
    target Arrow types — NOT a ``pandas.DataFrame`` — because pandas
    silently promotes an int column containing ``None`` to float64,
    losing exactness above 2**53 without ever raising (so a pandas
    path's exception fallback would never trigger on the mangled
    values).  ``timestamp_utc=False`` keeps naive datetimes on the
    session-timezone interpretation that plain ``createDataFrame``
    uses.  Any Arrow-side failure raises out of ``pa.array`` /
    ``pa.Table`` construction here (never a silent downstream
    fallback) and routes to the exact pickled path.

    Per call it makes 2 to 4 py4j round trips (``arrow_df``), plus 3
    to parse a DDL string the first time, or every time when it names
    a timestamp type (``_parse_schema``).  A memoized DDL skips the
    parser, so one that a later
    ``spark.sql.ansi.enforceReservedKeywords`` would reject stays
    accepted.

    A non-empty Arrow result of at most ``_DRIVER_KEYS_MAX`` rows keeps
    its table on the returned object (``local_rows`` reads it back);
    any frame derived from it — a filter, select or ``withColumn`` — is
    a new object and keeps nothing."""
    schema = _parse_schema(schema)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in schema.fields])
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
        cols = [tuple(r) for r in rows]
        cols = list(zip(*cols))
        tbl = pa.Table.from_arrays(
            [pa.array(list(col), type=f.type)
             for col, f in zip(cols, arrow_schema)],
            schema=arrow_schema)
        df = arrow_df(spark, tbl, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)
    if tbl.num_rows <= _DRIVER_KEYS_MAX:
        setattr(df, _ROWS_ATTR, tbl)
    return df


def local_rows(df: DataFrame, names) -> Optional[list[tuple]]:
    """The values of columns ``names`` of each row of ``df`` as tuples,
    as Arrow converted them, when ``df`` is itself a ``local_df``
    result that kept its rows; None otherwise.  A kept binary value is
    ``bytes`` whatever ``binaryAsBytes`` says."""
    tbl = vars(df).get(_ROWS_ATTR)
    if tbl is None:
        return None
    at = [tbl.schema.get_field_index(n) for n in names]
    if -1 in at:  # absent, or a duplicated name
        return None
    return list(zip(*[tbl.column(i).to_pylist() for i in at]))
