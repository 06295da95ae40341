"""Pipeline-level tests: nested models (README acceptance), dataclass
schema derivation, get_or_create join protocol."""

import datetime as dt
from dataclasses import dataclass
from typing import Optional

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangle_pypes_spark import (
    Attr,
    Cast,
    Create,
    CreateMultiple,
    Default,
    Gather,
    Get,
    GetValues,
    Pipeline,
    SpecError,
    spark_schema_for,
)


@dataclass
class Point:
    x: int
    y: int


@dataclass
class Square:
    A: Point
    B: Point


def test_readme_acceptance(spark):
    """The corrected README example (SURVEY §2.3.6) as golden test."""
    data = [
        Row(A=Row(x="0", y="0"), B=Row(x="1", y="1")),
        Row(A=Row(x="10", y="10"), B=Row(x="11", y="11")),
    ]
    df = spark.createDataFrame(
        data, "A struct<x: string, y: string>, B struct<x: string, y: string>")
    pipeline = Pipeline({
        Square: {"A": Get("A") | Create(Point),
                 "B": Get("B") | Create(Point)},
        Point: {"x": Get("x") | Cast(int),
                "y": Get("y") | Cast(int)},
    })
    out = pipeline.create_multiple(Square, df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == \
        ["struct<x:bigint,y:bigint>"] * 2
    rows = out.collect()
    assert rows == [
        Row(A=Row(x=0, y=0), B=Row(x=1, y=1)),
        Row(A=Row(x=10, y=10), B=Row(x=11, y=11)),
    ]


def test_create_multiple_nested_list(spark):
    @dataclass
    class Poly:
        pts: list

    df = spark.createDataFrame(
        [Row(pts=[Row(x="1", y="2"), Row(x="3", y="4")])],
        "pts array<struct<x: string, y: string>>")
    p = Pipeline({
        Poly: {"pts": Get("pts") | CreateMultiple(Point)},
        Point: {"x": Get("x") | Cast(int), "y": Get("y") | Cast(int)},
    })
    rows = p.create_multiple(Poly, df).collect()
    assert rows[0].pts == [Row(x=1, y=2), Row(x=3, y=4)]


def test_spec_cycle_detection(spark):
    @dataclass
    class A:
        b: object

    df = spark.createDataFrame([(1,)], "x long")
    p = Pipeline({A: {"b": Create(A)}})
    with pytest.raises(SpecError, match="cycle"):
        p.create_multiple(A, df)


def test_missing_model_spec(spark):
    @dataclass
    class Nope:
        x: int

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(SpecError, match="no spec"):
        Pipeline({}).create_multiple(Nope, df)


def test_schema_derivation():
    @dataclass
    class M:
        i: int
        f: float
        s: str
        b: bool
        ts: dt.datetime
        maybe: Optional[int]
        tags: list
        child: Point

    sch = spark_schema_for(M)
    by_name = {f.name: f.dataType for f in sch.fields}
    assert isinstance(by_name["i"], T.LongType)
    assert isinstance(by_name["f"], T.DoubleType)
    assert isinstance(by_name["s"], T.StringType)
    assert isinstance(by_name["b"], T.BooleanType)
    assert isinstance(by_name["ts"], T.TimestampType)
    assert isinstance(by_name["maybe"], T.LongType)
    assert isinstance(by_name["child"], T.StructType)


def test_audit_column(spark):
    @dataclass
    class M:
        x: int

    df = spark.createDataFrame([("1",), ("bad",)], "x string")
    p = Pipeline({M: {"x": Get("x") | Cast(int)}}, strict=False)
    rows = p.create_multiple(M, df, audit=True).collect()
    assert rows[0]._nulled_fields == []
    assert rows[1]._nulled_fields == ["x"]


# --- get_or_create ----------------------------------------------------------

@dataclass
class User:
    email: str
    name: str


def test_get_or_create_join(spark):
    dim = spark.createDataFrame(
        [("a@x.com", "Dim Alice"), ("b@x.com", "Dim Bob")],
        "email string, name string")
    incoming = spark.createDataFrame(
        [("a@x.com", "New Alice"), ("c@x.com", "New Carol")],
        "email string, name string")
    p = Pipeline({User: {"email": Get("email"), "name": Get("name")}})
    result, new_dim = p.get_or_create(User, incoming, dim,
                                      match_targets=["email"])
    got = {r.email: (r.name, r.created) for r in result.collect()}
    # hit: dim's values win, created=False; miss: built values, created=True
    assert got == {"a@x.com": ("Dim Alice", False),
                   "c@x.com": ("New Carol", True)}
    emails = sorted(r.email for r in new_dim.collect())
    assert emails == ["a@x.com", "b@x.com", "c@x.com"]


def test_get_or_create_all_fields_match(spark):
    dim = spark.createDataFrame([("a@x.com", "Alice")], "email string, name string")
    incoming = spark.createDataFrame(
        [("a@x.com", "Alice"), ("a@x.com", "Different")],
        "email string, name string")
    p = Pipeline({User: {"email": Get("email"), "name": Get("name")}})
    result, _ = p.get_or_create(User, incoming, dim)  # match on ALL fields
    got = sorted((r.email, r.name, r.created) for r in result.collect())
    assert got == [("a@x.com", "Alice", False), ("a@x.com", "Different", True)]


def test_get_or_create_null_key_dim_match(spark):
    """A dim row whose match-key IS NULL must count as a hit (eqNullSafe),
    not be re-created and re-appended to the dim on every call."""
    dim = spark.createDataFrame([(None, "Dim Null"), ("a@x.com", "Alice")],
                                "email string, name string")
    incoming = spark.createDataFrame([(None, "New Null")],
                                     "email string, name string")
    p = Pipeline({User: {"email": Get("email"), "name": Get("name")}})
    result, new_dim = p.get_or_create(User, incoming, dim,
                                      match_targets=["email"])
    rows = result.collect()
    assert len(rows) == 1
    assert rows[0].created is False  # null-key dim row matched
    assert rows[0].name == "Dim Null"  # dim values win on a hit
    assert new_dim.count() == 2  # nothing appended
    # idempotent across repeated calls (the foreach-batch topology)
    _, dim2 = p.get_or_create(User, incoming, new_dim,
                              match_targets=["email"])
    assert dim2.count() == 2


def test_get_or_create_in_arrays_empty_and_null(spark):
    """Empty arrays come back as empty item lists; NULL arrays stay
    NULL; neither row is dropped (reference GetOrCreateMultiple returns
    [] for empty input)."""
    from pyspark.sql import types as T

    elem = T.StructType([T.StructField("email", T.StringType()),
                         T.StructField("name", T.StringType())])
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("members", T.ArrayType(elem))])
    df = spark.createDataFrame(
        [(1, [("a@x.com", "New Alice"), ("c@x.com", "Carol")]),
         (2, []),
         (3, None)], schema)
    dim = spark.createDataFrame([("a@x.com", "Dim Alice")],
                                "email string, name string")
    p = Pipeline({User: {"email": Get("email"), "name": Get("name")}})
    result, new_dim = p.get_or_create_in_arrays(
        User, df, "members", dim, ["email"], id_col="id")
    got = {r.id: r.items for r in result.collect()}
    assert set(got) == {1, 2, 3}
    assert [ (i.email, i.created) for i in got[1] ] == [
        ("a@x.com", False), ("c@x.com", True)]
    assert got[1][0].name == "Dim Alice"
    assert got[2] == []
    assert got[3] is None
    assert sorted(r.email for r in new_dim.collect()) == ["a@x.com", "c@x.com"]


def test_to_instances_materializes_dataclasses(spark):
    """API-shape parity with the reference: the final hand-off yields
    real dataclass instances with nested models (reference
    pipeline.py:41 model(**kwargs))."""
    from wrangle_pypes_spark import to_instances

    data = [
        Row(A=Row(x="0", y="0"), B=Row(x="1", y="1")),
        Row(A=Row(x="10", y="10"), B=Row(x="11", y="11")),
    ]
    df = spark.createDataFrame(
        data, "A struct<x: string, y: string>, B struct<x: string, y: string>")
    pipeline = Pipeline({
        Square: {"A": Get("A") | Create(Point),
                 "B": Get("B") | Create(Point)},
        Point: {"x": Get("x") | Cast(int),
                "y": Get("y") | Cast(int)},
    })
    built = pipeline.create_multiple(Square, df)
    out = sorted(to_instances(Square, built), key=lambda s: s.A.x)
    assert all(isinstance(s, Square) for s in out)
    assert all(isinstance(s.A, Point) and isinstance(s.B, Point) for s in out)
    assert out == [Square(A=Point(x=0, y=0), B=Point(x=1, y=1)),
                   Square(A=Point(x=10, y=10), B=Point(x=11, y=11))]
    # extra columns (e.g. the created flag) are ignored
    flagged = built.withColumn("created", F.lit(True))
    again = list(to_instances(Square, flagged))
    assert len(again) == 2 and isinstance(again[0], Square)


def test_pipeline_explain_reports_spec_and_plan(spark, tables):
    from dataclasses import dataclass

    @dataclass
    class Flat:
        key: int

    p = Pipeline({Flat: {"key": Get("o_orderkey")}})
    text = p.explain(Flat, tables["orders"])
    assert "Pipeline spec for Flat" in text
    assert "key <-" in text
    assert "jvm_only=True" in text and "shuffles=0" in text


# --- flat compile -----------------------------------------------------------

def _analyzed_len(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def test_flat_compile_plan_grows_linearly(spark):
    """A spec of n root Gets over n columns compiles to n column
    references.  Wrapping the row as struct(<every column>) per field
    made the analysed plan grow as n**2 (5x from n=8 to n=16; larger n
    hits Spark's 25-field cap on printed structs)."""
    def plan_len(n):
        model = type(f"Wide{n}", (), {})
        df = spark.range(1).select(*[F.lit(i).alias(f"c{i}") for i in range(n)])
        p = Pipeline({model: {f"f{i}": Get(f"c{i}") for i in range(n)}})
        return _analyzed_len(p.create_multiple(model, df))

    small, large = plan_len(8), plan_len(16)
    assert large < 2.5 * small, (small, large)


def test_root_names_with_dots_and_backticks(spark):
    """Root columns are referenced by their literal name: a `.` is not
    read as struct nesting and a backtick is not read as quoting."""
    class Odd:
        pass

    df = spark.createDataFrame([(1, 2, 3)], "`a.b` int, `c``d` int, e int")
    p = Pipeline({Odd: {
        "get_dot": Get("a.b"),
        "get_tick": Get("c`d"),
        "attr_dot": Attr("a.b"),
        "attr_tick": Attr("c`d"),
        "gather": Gather(["a.b", "c`d"]),
        "values": GetValues(),
    }})
    row = p.create_multiple(Odd, df, audit=True).first()
    assert row.asDict(True) == {
        "get_dot": 1, "get_tick": 2, "attr_dot": 1, "attr_tick": 2,
        "gather": {"a.b": 1, "c`d": 2}, "values": [1, 2, 3],
        "_nulled_fields": []}


def test_root_dotted_struct_column_nested_get(spark):
    class Nested:
        pass

    df = spark.createDataFrame([((4, 5),)], "`s.t` struct<x: int, `y.z`: int>")
    p = Pipeline({Nested: {"x": Get("s.t") | Get("x"),
                           "yz": Get("s.t") | Attr("y.z")}})
    assert p.create_multiple(Nested, df).first().asDict() == {"x": 4, "yz": 5}


# --- compile memo -----------------------------------------------------------

class Flex:
    pass


def test_memo_per_schema(spark):
    """One Pipeline over two schemas differing in one field's type: the
    truthiness test of Default is type-dispatched, so reusing one
    schema's compile for the other would give wrong values."""
    p = Pipeline({Flex: {"x": Get("x") | Default("-1") | Cast(int)}})
    as_str = spark.createDataFrame([("0",), ("",)], "x string")
    as_int = spark.createDataFrame([(0,), (7,)], "x int")
    for _ in range(2):
        assert [r.x for r in p.create_multiple(Flex, as_str).collect()] == [0, -1]
        assert [r.x for r in p.create_multiple(Flex, as_int).collect()] == [-1, 7]


def test_memo_reuses_compile_for_same_schema(spark):
    p = Pipeline({Flex: {"x": Get("x")}})
    first = p.compile(Flex, spark.createDataFrame([(1,)], "x long"))
    again = p.compile(Flex, spark.createDataFrame([(2,)], "x long"))
    assert all(a is b for a, b in zip(first, again))


def test_memo_flipping_strict_recompiles(spark):
    from pyspark.errors import NumberFormatException

    df = spark.createDataFrame([("bad",)], "x string")
    p = Pipeline({Flex: {"x": Get("x") | Cast(int)}}, strict=False)
    assert p.create_multiple(Flex, df).first().x is None
    p.strict = True
    with pytest.raises(NumberFormatException):
        p.create_multiple(Flex, df).collect()
    p.strict = False
    assert p.create_multiple(Flex, df).first().x is None


def test_memo_honours_replaced_chain(spark):
    """Replacing a field chain after a compile, in the root spec or a
    child model's spec, takes effect on the next call."""
    class Child:
        pass

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    root = {"v": Get("x"), "c": Create(Child)}
    child = {"w": Get("x")}
    p = Pipeline({Flex: root, Child: child})
    assert p.create_multiple(Flex, df).first().asDict(True) == {
        "v": 1, "c": {"w": 1}}
    root["v"] = Get("y")
    child["w"] = Get("y")
    assert p.create_multiple(Flex, df).first().asDict(True) == {
        "v": 2, "c": {"w": 2}}
    p.transformations[Flex]["v"] = Get("x")
    built, _ = p.get_or_create(Flex, df, df.select(F.lit(9).alias("v")), ["v"])
    assert built.first().v == 1
