"""local_df: Arrow-exact local metadata DataFrames.

Pins the ADVICE-r13 exactness contract: an int64 column containing
``None`` must round-trip values above 2**53 exactly (a pandas-based
conversion silently promotes to float64 and mangles them without
raising), and conversion failures must fall back to the pickled
``createDataFrame`` path rather than producing wrong values.
"""
import contextlib
import datetime
import decimal

import pytest
from pyspark.sql import types as T

from wrangle_pypes_spark.localdf import arrow_df, local_df

BIG = 2**53 + 1  # not representable in float64: float(BIG) == 2**53


def test_int64_with_null_stays_exact(spark):
    df = local_df(spark, [(BIG,), (None,), (BIG + 2,)], "v bigint")
    got = sorted((r.v for r in df.collect()),
                 key=lambda x: (x is None, x))
    assert got == [BIG, BIG + 2, None]


def test_mixed_types_roundtrip(spark):
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.TimestampType()),
        T.StructField("d", T.ArrayType(T.IntegerType())),
        T.StructField("e", T.StructType([
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.StringType())])),
        T.StructField("f", T.DecimalType(10, 2)),
        T.StructField("g", T.BinaryType()),
        T.StructField("h", T.DateType()),
    ])
    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    rows = [
        (BIG, "hi", ts, [1, None, 3], (7, "z"),
         decimal.Decimal("12345678.25"), b"\x00\xff", datetime.date(2024, 3, 1)),
        (None, None, None, None, None, None, None, None),
    ]
    got = local_df(spark, rows, schema).collect()
    byname = {r.a: r for r in got}
    r = byname[BIG]
    assert r.b == "hi" and r.c == ts and r.d == [1, None, 3]
    assert (r.e.x, r.e.y) == (7, "z")
    assert r.f == decimal.Decimal("12345678.25")
    assert bytes(r.g) == b"\x00\xff" and r.h == datetime.date(2024, 3, 1)
    r0 = byname[None]
    assert all(v is None for v in (r0.b, r0.c, r0.d, r0.e, r0.f, r0.g, r0.h))


def test_timestamp_matches_plain_createdataframe(spark):
    # Naive datetimes must get the same (session-timezone) reading the
    # plain pickled path gives them.
    ts = datetime.datetime(2021, 7, 4, 23, 59, 59)
    a = local_df(spark, [(ts,)], "t timestamp").collect()[0].t
    b = spark.createDataFrame([(ts,)], "t timestamp").collect()[0].t
    assert a == b == ts


def test_empty_rows_gives_typed_zero_row_plan(spark):
    df = local_df(spark, [], "a bigint, b string")
    assert df.count() == 0
    assert [f.dataType for f in df.schema.fields] == [
        T.LongType(), T.StringType()]


def test_unrepresentable_value_falls_back(spark):
    # A string where the schema says bigint: Arrow refuses; the plain
    # path must take over and raise the same error plain
    # createDataFrame would (loud, not silent nulls).
    with pytest.raises(Exception):
        local_df(spark, [("notanint",)], "v bigint").collect()


# --------------------------------------------------------------------------
# arrow_df: the one Arrow-to-DataFrame funnel must build what pyspark's
# createDataFrame(pa.Table, schema) builds, under the confs that path reads
# --------------------------------------------------------------------------

@contextlib.contextmanager
def _conf(spark, confs: dict):
    """The session confs ``confs`` set for the block, then restored."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _table(rows, schema):
    """``rows`` as the Arrow table ``local_df`` builds from them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)


def _assert_same(spark, rows, schema):
    """``arrow_df`` and ``spark.createDataFrame`` over the same table —
    and ``local_df`` over its rows — agree on schema, the JVM's schema,
    partitioning and collected rows; the carried ``.schema`` is the
    JVM's."""
    tbl = _table(rows, schema)
    want = spark.createDataFrame(tbl, schema)
    got = arrow_df(spark, tbl, schema)
    assert got.schema.json() == want.schema.json() == schema.json()
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert got.schema == T._parse_datatype_json_string(
        got._jdf.schema().json())
    assert got._jdf.rdd().getNumPartitions() \
        == want._jdf.rdd().getNumPartitions()
    expect = want.collect()
    assert got.collect() == expect
    assert local_df(spark, rows, schema).collect() == expect
    return expect


_FLAT = [
    ("bo", T.BooleanType(), True), ("by", T.ByteType(), -7),
    ("sh", T.ShortType(), 300), ("i", T.IntegerType(), -2 ** 31),
    ("l", T.LongType(), BIG), ("f", T.FloatType(), 1.5),
    ("d", T.DoubleType(), -0.1), ("s", T.StringType(), "héllo"),
    ("bi", T.BinaryType(), b"\x00\xff"),
    ("da", T.DateType(), datetime.date(1969, 12, 31)),
    ("de", T.DecimalType(38, 10), decimal.Decimal("-1234567.0123456789")),
    ("ds", T.DecimalType(5, 2), decimal.Decimal("999.99")),
]


def test_flat_types_cover_the_manifest_store():
    from wrangle_pypes_spark.sources.manifest import _FLAT_TYPES
    assert {type(t) for _, t, _ in _FLAT} == set(_FLAT_TYPES)


@pytest.mark.parametrize("large", ["false", "true"])
@pytest.mark.parametrize("batch", ["10000", "2"])
def test_arrow_df_matches_create_dataframe_on_flat_types(spark, large,
                                                         batch):
    schema = T.StructType([T.StructField(n, t) for n, t, _ in _FLAT])
    full = tuple(v for _, _, v in _FLAT)
    rows = [full, tuple(None for _ in _FLAT), full, full]
    with _conf(spark, {
            "spark.sql.execution.arrow.useLargeVarTypes": large,
            "spark.sql.execution.arrow.maxRecordsPerBatch": batch}):
        assert _assert_same(spark, rows, schema)[0] == full
        # and without nulls
        _assert_same(spark, [full] * 3, schema)


@pytest.mark.parametrize("tz", ["America/Los_Angeles", "Asia/Kolkata"])
def test_arrow_df_timestamps_follow_the_session_time_zone(spark, tz):
    ts = datetime.datetime(2021, 7, 4, 2, 30, 0, 123456)
    rows = [(ts,), (None,), (datetime.datetime(1999, 12, 31, 23, 59),)]

    def wall():
        return [r.t for r in local_df(spark, rows, "t timestamp")
                .selectExpr("cast(t as string) as t").collect()]

    with _conf(spark, {"spark.sql.session.timeZone": tz}):
        schema = local_df(spark, rows, "t timestamp").schema
        assert schema["t"].dataType == T.TimestampType()
        _assert_same(spark, rows, schema)
        zoned = wall()
    # a naive datetime reads as wall time in the session's zone, read
    # afresh on each call
    assert zoned == wall() == [
        "2021-07-04 02:30:00.123456", None, "1999-12-31 23:59:00"]


def test_arrow_df_ntz_and_nested_timestamps(spark):
    ts = datetime.datetime(2022, 6, 1, 8, 0, 0, 1)
    with _conf(spark, {"spark.sql.timestampType": "TIMESTAMP_NTZ",
                       "spark.sql.session.timeZone": "America/New_York"}):
        schema = local_df(spark, [(ts,)], "t timestamp").schema
        assert schema["t"].dataType == T.TimestampNTZType()
        _assert_same(spark, [(ts,), (None,)], schema)
    nested = T.StructType([
        T.StructField("s", T.StructType([
            T.StructField("t", T.TimestampType()),
            T.StructField("n", T.IntegerType())])),
        T.StructField("a", T.ArrayType(T.TimestampType())),
        T.StructField("m", T.MapType(T.StringType(), T.TimestampType())),
    ])
    rows = [((ts, 1), [ts, None], {"x": ts}), (None, None, None),
            ((None, 2), [], {})]
    # the map's string keys are the only strings: nested ones are cast
    # to the offset width the JVM reads too
    for tz, large in (("UTC", "false"), ("Europe/Berlin", "true")):
        with _conf(spark, {
                "spark.sql.session.timeZone": tz,
                "spark.sql.execution.arrow.useLargeVarTypes": large}):
            _assert_same(spark, rows, nested)


def test_ddl_with_a_timestamp_reparses_when_its_type_changes(spark):
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5)
    ddl = "k bigint, t timestamp"
    before = local_df(spark, [(1, ts)], ddl)
    with _conf(spark, {"spark.sql.timestampType": "TIMESTAMP_NTZ"}):
        during = local_df(spark, [(1, ts)], ddl)
    after = local_df(spark, [(1, ts)], ddl)
    assert before.schema["t"].dataType == T.TimestampType()
    assert during.schema["t"].dataType == T.TimestampNTZType()
    assert after.schema == before.schema
    for df in (before, during, after):
        assert df.schema == T._parse_datatype_json_string(
            df._jdf.schema().json())
        assert df.collect()[0].t == ts


def test_memoized_ddl_gives_each_frame_its_own_schema(spark):
    ddl = "k bigint, v string"
    a = local_df(spark, [(1, "x")], ddl)
    a.schema.add("extra", T.IntegerType())
    b = local_df(spark, [(2, "y")], ddl)
    assert b.schema.names == ["k", "v"] == b.columns
    assert b.collect() == [T.Row(k=2, v="y")]


def test_local_df_py4j_round_trips(spark, py4j_calls):
    """A ``local_df`` whose DDL was parsed before makes at most 4 py4j
    round trips (pyspark's ``createDataFrame`` makes 24), and reading
    its ``.schema`` makes none."""
    ddl = "k bigint, c bigint, s string, dead boolean"
    rows = [(j, j * 7, f"x{j}", j % 5 == 0) for j in range(24)]
    local_df(spark, rows, ddl)
    assert py4j_calls(lambda: lambda: local_df(spark, rows, ddl)) <= 4
    df = local_df(spark, rows, ddl)
    assert py4j_calls(lambda: lambda: df.schema, tries=1) == 0
    assert df.schema.names == ["k", "c", "s", "dead"]
