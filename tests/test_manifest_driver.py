"""Driver-served manifest probes: Python bucket routing must equal
Spark's ``pmod(xxhash64(keys), n)``, and a probe served on the driver
(keys in driver memory, read with pyarrow) must return exactly the rows
of the Spark path (a probe Spark must evaluate)."""

import datetime
import itertools
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangle_pypes_spark.localdf import local_df
from wrangle_pypes_spark.sources import (manifest_lookup, manifest_merge,
                                         manifest_read,
                                         pmanifest_lookup, pmanifest_merge)
from wrangle_pypes_spark.sources import manifest, xxhash64
from wrangle_pypes_spark.sources.manifest import (_bucket_col,
                                                  _driver_buckets)

_VALUES = {
    "tinyint": st.integers(-2 ** 7, 2 ** 7 - 1),
    "smallint": st.integers(-2 ** 15, 2 ** 15 - 1),
    "int": st.integers(-2 ** 31, 2 ** 31 - 1),
    "bigint": st.integers(-2 ** 63, 2 ** 63 - 1),
    "boolean": st.booleans(),
    "date": st.dates(),
    # long strings exercise the 4-lane (>= 32 byte) path; the default
    # alphabet is all of Unicode, so most strings are non-ASCII
    "string": st.text(max_size=80),
    "binary": st.binary(max_size=80),
}
_EDGES = {
    "tinyint": [-2 ** 7, 2 ** 7 - 1, 0, -1],
    "smallint": [-2 ** 15, 2 ** 15 - 1, 0, -1],
    "int": [-2 ** 31, 2 ** 31 - 1, 0, -1],
    "bigint": [-2 ** 63, 2 ** 63 - 1, 0, -1, 2 ** 31, -2 ** 31 - 1],
    "boolean": [True, False],
    "date": [datetime.date(1, 1, 1), datetime.date(9999, 12, 31),
             datetime.date(1969, 12, 31), datetime.date(1970, 1, 1)],
    "string": ["", "a" * 31, "b" * 32, "c" * 33, "d" * 64 + "xyz",
               "é" * 16, "漢字🙂" * 9, "\x00" * 40],
    "binary": [b"", b"\xff" * 32, bytes(range(75))],
}
_COMBOS = [(t,) for t in _VALUES] + [
    ("bigint", "string", "int"),
    ("string", "date", "boolean", "smallint"),
    ("binary", "tinyint"),
]


def _schema(types):
    return T._parse_datatype_string(
        ", ".join(f"c{i} {t}" for i, t in enumerate(types)))


def _spark_hashes(spark, rows, schema, n_buckets):
    cols = [F.col(c) for c in schema.names]
    df = spark.createDataFrame(rows, schema)
    return [(r[0], r[1]) for r in df.select(
        F.xxhash64(*cols), _bucket_col(schema.names, n_buckets)).collect()]


def _check_hashes(spark, rows, types):
    schema = _schema(types)
    hashers = [xxhash64.hasher(f.dataType) for f in schema.fields]
    got = [xxhash64.xxhash64(r, hashers) for r in rows]
    assert [(h, h % 61) for h in got] == _spark_hashes(spark, rows, schema,
                                                       61)
    for n in (1, 16):
        assert _driver_buckets(rows, [f.dataType for f in schema.fields],
                               n) == sorted({b for _, b in _spark_hashes(
                                   spark, rows, schema, n)})


@pytest.mark.parametrize("types", _COMBOS, ids="-".join)
def test_xxhash64_edges_match_spark(spark, types):
    """Extremes, nulls and byte-length boundaries, every type
    combination: the Python hash and bucket equal Spark's."""
    cols = [_EDGES[t] + [None] for t in types]
    rows = list(itertools.islice(itertools.product(*cols), 1000))
    _check_hashes(spark, rows, types)


@pytest.mark.parametrize("types", _COMBOS, ids="-".join)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_xxhash64_matches_spark_property(spark, types, data):
    rows = data.draw(st.lists(
        st.tuples(*[st.none() | _VALUES[t] for t in types]),
        min_size=1, max_size=40))
    _check_hashes(spark, rows, types)


def test_hasher_declines_unsupported_types():
    for dt in (T.DoubleType(), T.FloatType(), T.DecimalType(10, 2),
               T.TimestampType(), T.TimestampNTZType(),
               T.StringType("UTF8_LCASE"),
               T.ArrayType(T.LongType()),
               T.StructType([T.StructField("a", T.LongType())])):
        assert xxhash64.hasher(dt) is None
    assert _driver_buckets([(1.5,)], [T.DoubleType()], 4) is None


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _both(spark, lookup, probes, schema, max_jobs=0):
    """Rows of ``lookup(keys)`` for the probes as a local relation
    (driver path: no Spark job) and as a pickled-RDD frame (Spark
    path)."""
    on_driver = lookup(local_df(spark, probes, schema))
    on_spark = lookup(spark.createDataFrame(probes, schema))
    assert not _is_local(on_spark)
    driver_rows, jobs = _jobs(spark, on_driver.collect)
    assert jobs <= max_jobs
    a = sorted(map(tuple, driver_rows), key=repr)
    b = sorted(map(tuple, on_spark.collect()), key=repr)
    assert a == b
    assert on_driver.columns == on_spark.columns
    return a


_PROBED = [(7, "g1"), (8, "g2"), (9, "g0"), (11, "g2")]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A composite-keyed store: bootstrap, a tombstone commit that
    empties bucket ``emptied``, then an evolve_schema commit adding
    column ``x`` to the buckets it touches only."""
    path = str(tmp_path_factory.mktemp("drv") / "s")
    rows = [(i, f"g{i % 3}", i * 10, float(i) / 4, datetime.date(2024, 1,
             1 + i % 28)) for i in range(60)]
    schema = "k int, g string, val bigint, f double, d date"
    manifest_merge(spark.createDataFrame(rows, schema), path, ["k", "g"],
                   epoch_id=0, n_buckets=8)
    types = [T.IntegerType(), T.StringType()]
    bucket = {r[:2]: _driver_buckets([r[:2]], types, 8)[0] for r in rows}
    probed = {bucket[k] for k in _PROBED}
    emptied = min(set(bucket.values()) - probed)
    dead = [k + (None, None, None, True) for k, b in bucket.items()
            if b == emptied]
    manifest_merge(spark.createDataFrame(
        dead, schema + ", dead boolean"), path, ["k", "g"], epoch_id=1,
        n_buckets=8, tombstone_col="dead")
    manifest_merge(spark.createDataFrame(
        [(7, "g1", -1, 0.0, None, "new")], schema + ", x string"),
        path, ["k", "g"], epoch_id=2, n_buckets=8, evolve_schema=True)
    return path, bucket, emptied


def test_driver_and_spark_lookups_agree(spark, store):
    path, bucket, emptied = store
    schema = "k int, g string"

    def look(keys):
        return manifest_lookup(spark, path, keys)

    hit = _both(spark, look, [(7, "g1"), (8, "g2"), (9, "g0")], schema)
    # 7 was rewritten with x; 8 and 9 null-fill x unless rewritten too
    assert {r[0]: (r[2], r[5]) for r in hit}[7] == (-1, "new")
    assert len(hit) == 3
    # duplicate and null probe keys, a wrong composite half, a miss
    got = _both(spark, look, [(8, "g2"), (8, "g2"), (None, "g1"),
                              (9, None), (9, "g2"), (10_000, "g1")],
                schema)
    assert [r[:2] for r in got] == [(8, "g2")]
    assert _both(spark, look, [(10_000, "g0"), (20_000, "g1")],
                 schema) == []
    # every key of the tombstoned bucket is gone
    gone = [k for k, b in bucket.items() if b == emptied]
    assert _both(spark, look, gone, schema) == []
    # time travel: version 1 predates the deletes and x
    old = _both(spark, lambda keys: manifest_lookup(
        spark, path, keys, version=1), gone[:3], schema)
    assert len(old) == len(gone[:3]) > 0
    assert all(len(r) == 5 for r in old)


def test_driver_read_covers_every_flat_type(spark, tmp_path):
    import decimal
    path = str(tmp_path / "flat_types")
    schema = ("k tinyint, s smallint, f float, d1 decimal(9, 2), "
              "d2 decimal(30, 6), b binary, t boolean, u string")
    rows = [(i, i * 300, i / 4, decimal.Decimal(i) / 4,
             decimal.Decimal(10) ** 20 + i, bytes([i + 20]), i % 2 == 0,
             "ü" * i) for i in range(-20, 20)]
    manifest_merge(spark.createDataFrame(rows, schema), path, ["k"],
                   n_buckets=4)
    got = _both(spark, lambda keys: manifest_lookup(spark, path, keys),
                [(-20,), (0,), (3,), (19,)], "k tinyint")
    assert got == sorted((r for r in rows if r[0] in (-20, 0, 3, 19)),
                         key=repr)


@pytest.mark.parametrize("as_bytes", ["true", "false"])
@pytest.mark.parametrize("key_cols", [["k"], ["k", "n"]], ids="-".join)
def test_binary_keys_agree_on_both_paths(spark, tmp_path, as_bytes,
                                         key_cols):
    """Binary keys, alone and in a composite key: lookups and merges
    from driver-resident keys equal the Spark path's.  With
    ``binaryAsBytes`` off, binary values collect as (unhashable)
    bytearray."""
    schema = "k binary, n int, v int"
    kschema = ", ".join(schema.split(", ")[:len(key_cols)])

    def key(i):
        return (bytes([i, 7]), i % 3)[:len(key_cols)]

    def row(i, v):
        k = key(i)
        return k + (i % 3,) * (2 - len(k)) + (v,)

    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, as_bytes)
    try:
        contents = {}
        for name, frame in (
                ("local", lambda rows: local_df(spark, rows, schema)),
                ("rdd", lambda rows: spark.createDataFrame(rows, schema))):
            path = str(tmp_path / name)
            manifest_merge(spark.createDataFrame(
                [row(i, i) for i in range(30)], schema), path, key_cols,
                n_buckets=4)
            manifest_merge(frame([row(i, -i) for i in (1, 2, 40)]), path,
                           key_cols, n_buckets=4)
            contents[name] = sorted(
                map(tuple, manifest_read(spark, path).collect()), key=repr)
            got = _both(spark, lambda keys: manifest_lookup(
                spark, path, keys), [key(i) for i in (1, 2, 3, 40, 99)]
                + [(None,) * len(key_cols)], kschema)
            assert sorted(r[-1] for r in got) == [-40, -2, -1, 3]
        assert contents["local"] == contents["rdd"]
        assert len(contents["local"]) == 31
    finally:
        spark.conf.set(conf, old)


def test_driver_lookup_runs_no_job(spark, store):
    path, _, _ = store
    keys = local_df(spark, [(7, "g1"), (11, "g2")], "k int, g string")
    rows, jobs = _jobs(spark, lambda: manifest_lookup(
        spark, path, keys).collect())
    assert len(rows) == 2 and jobs == 0
    spark_keys = spark.createDataFrame([(7, "g1")], "k int, g string")
    _, jobs = _jobs(spark, lambda: manifest_lookup(
        spark, path, spark_keys).collect())
    assert jobs > 0


def test_lookup_keeps_spark_path_for_nested_or_large_stores(
        spark, tmp_path, monkeypatch):
    path = str(tmp_path / "nested")
    manifest_merge(spark.createDataFrame(
        [(i, [i, i + 1]) for i in range(20)], "k bigint, xs array<int>"),
        path, ["k"], n_buckets=4)
    probe = local_df(spark, [(3,), (4,)], "k bigint")
    out = manifest_lookup(spark, path, probe)
    assert not _is_local(out)
    assert sorted(r.xs for r in out.collect()) == [[3, 4], [4, 5]]
    flat = str(tmp_path / "flat")
    manifest_merge(spark.range(50).select(F.col("id").alias("k")), flat,
                   ["k"], n_buckets=4)
    assert _is_local(manifest_lookup(spark, flat, probe))
    # the broadcast threshold tunes joins, not this choice
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        assert _is_local(manifest_lookup(spark, flat, probe))
    finally:
        spark.conf.set(conf, old)
    monkeypatch.setattr(manifest, "_DRIVER_READ_MAX_BYTES", 10)
    out = manifest_lookup(spark, flat, probe)
    assert not _is_local(out)
    assert sorted(r.k for r in out.collect()) == [3, 4]


def test_lookup_routes_probes_under_store_key_types(spark, tmp_path):
    """An int probe against a bigint store must route under bigint:
    hashing it as int read the wrong buckets and dropped rows."""
    path = str(tmp_path / "big")
    manifest_merge(spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        path, ["k"], n_buckets=16)
    ks = [(i,) for i in range(20)]
    for keys in (spark.createDataFrame(ks, "k int"),
                 local_df(spark, ks, "k int")):
        out = manifest_lookup(spark, path, keys)
        assert sorted((r.k, r.v) for r in out.collect()) == \
            [(i, 2 * i) for i in range(20)]
        assert out.schema["k"].dataType == T.LongType()
    # values the store's type cannot hold, or not whole, match nothing
    small = str(tmp_path / "small")
    manifest_merge(spark.createDataFrame([(i, i) for i in range(10)],
                                         "k int, v int"),
                   small, ["k"], n_buckets=4)
    for target, probes, schema in (
            (path, [(7.0,), (7.5,), (1e30,), (None,)], "k double"),
            (small, [(3,), (2 ** 40,), (-2 ** 63,)], "k bigint")):
        got = _both(spark, lambda keys: manifest_lookup(
            spark, target, keys), probes, schema)
        assert [r[0] for r in got] == [int(probes[0][0])]
    # a double key has no Python hasher: the Spark path converts
    dbl = str(tmp_path / "dbl")
    manifest_merge(spark.createDataFrame([(1.0, 1), (2.5, 2)],
                                         "k double, v int"),
                   dbl, ["k"], n_buckets=4)
    out = manifest_lookup(spark, dbl, local_df(spark, [(1,), (2,)], "k int"))
    assert not _is_local(out)
    assert [tuple(r) for r in out.collect()] == [(1.0, 1)]
    with pytest.raises(ValueError, match="probe key 'k' is string"):
        manifest_lookup(spark, path,
                        spark.createDataFrame([("1",)], "k string"))


def test_local_merge_skips_the_discovery_job(spark, tmp_path):
    schema = "k int, val string"
    rows = [(i, f"v{i}") for i in range(40)]
    upd = [(i, "u") for i in range(0, 40, 7)]
    jobs = {}
    for name, frame in (("local", local_df(spark, upd, schema)),
                        ("rdd", spark.createDataFrame(upd, schema))):
        path = str(tmp_path / name)
        manifest_merge(spark.createDataFrame(rows, schema), path, ["k"],
                       n_buckets=8)
        _, jobs[name] = _jobs(spark, lambda: manifest_merge(
            frame, path, ["k"], n_buckets=8))
        assert {r.k: r.val for r in manifest_lookup(
            spark, path, local_df(spark, [(7,), (8,)], "k int"))
            .collect()} == {7: "u", 8: "v8"}
    discovery = _jobs(spark, lambda: spark.createDataFrame(upd, schema)
                      .select(_bucket_col(["k"], 8)).distinct()
                      .collect())[1]
    assert discovery >= 1
    assert jobs["local"] == jobs["rdd"] - discovery


def test_pmanifest_lookup_driver_and_spark_agree(spark, tmp_path):
    path = str(tmp_path / "p")
    rows = [(i, f"2024-0{1 + i % 3}", i * 3) for i in range(45)]
    pmanifest_merge(spark.createDataFrame(rows, "k bigint, p string, "
                                                "v bigint"),
                    path, "p", ["k"], n_buckets=4)

    def look(keys):
        return pmanifest_lookup(spark, path, keys)

    with_p = _both(spark, look, [(1, "2024-02"), (2, "2024-02"),
                                 (4, "2024-02"), (99, "2024-01")],
                   "k bigint, p string")
    assert sorted(r[0] for r in with_p) == [1, 4]
    # every partition is probed; collecting the union of their local
    # results is one job over in-memory rows
    without_p = _both(spark, look, [(1,), (2,), (44,), (99,)], "k bigint",
                      max_jobs=1)
    assert sorted(r[0] for r in without_p) == [1, 2, 44]
