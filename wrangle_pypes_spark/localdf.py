"""Local metadata rows as DataFrames — through Arrow, never pickled
Python partitions.

Plain ``spark.createDataFrame(rows)`` ships local rows as PICKLED
PYTHON RDD partitions (``defaultParallelism`` of them), so every
downstream evaluation pays ~0.2 s of Python-worker round-trip PER
PARTITION — measured 7.9 s vs 0.16 s for a 50-row list on local[32].
That tax lands exactly on the metadata-scale plans this engine builds
constantly: Delta/Iceberg file state, manifest-store probes, broadcast
key lists, DV descriptors, ledger listings.  ``local_df`` routes
through the pandas/Arrow conversion instead (JVM-side record batches,
free to evaluate); empty inputs become a 0-row JVM Range projection
(empty pandas silently falls back to the pickled path).

A small result also keeps its Arrow table on the returned object, so a
driver-side consumer (``manifest_lookup``'s bucket routing) reads its
rows back in Python instead of asking the JVM for the plan it built.
"""

from __future__ import annotations

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

    A non-empty Arrow result of at most ``_DRIVER_KEYS_MAX`` rows keeps
    its table on the returned object (``local_rows`` reads it back);
    any frame derived from it — a filter, select or ``withColumn`` — is
    a new object and keeps nothing."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
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
        df = spark.createDataFrame(tbl, schema)
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
