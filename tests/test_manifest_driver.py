"""Driver-served manifest probes: Python bucket routing must equal
Spark's ``pmod(xxhash64(keys), n)``, and a probe served on the driver
(keys in driver memory, read with pyarrow) must return exactly the rows
of the Spark path (a probe Spark must evaluate)."""

import datetime
import decimal
import itertools
import json
import os
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangle_pypes_spark.localdf import local_df
from wrangle_pypes_spark.sources import (manifest_changes, manifest_current,
                                         manifest_history, manifest_lookup,
                                         manifest_merge, manifest_read,
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


def test_local_merge_skips_the_discovery_job(spark, tmp_path, monkeypatch):
    """With the driver writer ruled out (cap below the files), a merge
    of driver-resident keys still skips the discovery job."""
    monkeypatch.setattr(manifest, "_DRIVER_READ_MAX_BYTES", 0)
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


def _man(path, version=None):
    version = version or manifest_current(path)[0]
    with open(os.path.join(path, f"_m{version:06d}.json")) as f:
        return json.load(f)


def _sorted(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _rows_written(spark, path, man):
    """The rows of the bucket files the commit ``man`` wrote."""
    dirs = [os.path.join(path, rel) for rel in man["buckets"].values()
            if rel.startswith(f"data/v{man['version']:06d}/")]
    return spark.read.parquet(*dirs).count() if dirs else 0


def _commit_both(spark, tmp_path, boot, batches, schema, keys, probes,
                 **kw):
    """Bootstrap two stores alike, then commit each batch to one as
    ``local_df`` output (the driver writer: no Spark job) and to the
    other as a pickled-RDD frame (the Spark writer).  Reads, lookups,
    change feeds and manifests must agree; the manifests differ only
    in which writer their summary names, the bytes it wrote and the
    rows it wrote (which only the driver writer counts).  Returns the
    driver-written store's path."""
    paths = {}
    for side in ("driver", "spark"):
        paths[side] = path = str(tmp_path / side)
        manifest_merge(spark.createDataFrame(boot, schema), path, keys,
                       n_buckets=8, **kw)
    fields = T._parse_datatype_string(schema)
    kschema = T.StructType([fields[k] for k in keys])
    for rows, bschema in batches:
        _, jobs = _jobs(spark, lambda: manifest_merge(
            local_df(spark, rows, bschema), paths["driver"], keys,
            n_buckets=8, **kw))
        assert jobs == 0
        manifest_merge(spark.createDataFrame(rows, bschema), paths["spark"],
                       keys, n_buckets=8, **kw)
        mans = {side: _man(p) for side, p in paths.items()}
        for side, m in mans.items():
            assert m["summary"].pop("writer") == side
            assert m["summary"].pop("bytes_added") > 0 \
                or not m["summary"]["files_added"]
        assert mans["spark"]["summary"].pop("rows_written") is None
        assert mans["driver"]["summary"].pop("rows_written") == \
            _rows_written(spark, paths["driver"], mans["driver"])
        assert mans["driver"] == mans["spark"]
    for fn in (lambda p: manifest_read(spark, p),
               lambda p: manifest_lookup(spark, p,
                                         local_df(spark, probes, kschema)),
               lambda p: manifest_changes(spark, p, from_version=1)):
        a, b = (fn(paths[side]) for side in ("driver", "spark"))
        assert a.columns == b.columns
        assert _sorted(a) == _sorted(b)
    return paths["driver"]


def test_driver_commit_agrees_with_spark_composite_keys(spark, tmp_path):
    """Upserts, a tombstone batch that empties a bucket, and a batch
    whose keys all land in empty buckets."""
    schema = "k int, g string, v bigint, dead boolean"
    types = [T.IntegerType(), T.StringType()]
    boot = [(i, f"g{i % 3}", i, False) for i in range(0, 40, 2)]
    by_bucket = {}
    for r in boot:
        by_bucket.setdefault(_driver_buckets([r[:2]], types, 8)[0],
                             []).append(r)
    victim = min(by_bucket, key=lambda b: len(by_bucket[b]))
    upsert = [(2, "g2", -2, False), (3, "g0", -3, False),
              (4, "g1", None, True), (41, "g2", 41, None)]
    # keys whose buckets no earlier batch wrote: the victim bucket,
    # emptied by the tombstone batch, and any bucket never used
    used = set(_driver_buckets([r[:2] for r in boot + upsert], types, 8))
    empty = [k for k in [(i, "h") for i in range(100, 400)]
             if _driver_buckets([k], types, 8)[0] not in used - {victim}]
    empty = empty[:3]
    assert len(empty) == 3
    tomb = [r[:2] + (None, True) for r in by_bucket[victim]]
    into_empty = [k + (7, False) for k in empty]
    path = _commit_both(
        spark, tmp_path, boot,
        [(upsert, schema), (tomb, schema), (into_empty, schema)], schema,
        ["k", "g"], [(2, "g2"), (4, "g1"), (41, "g2"), empty[0],
                     by_bucket[victim][0][:2], (5, "g2")],
        tombstone_col="dead")
    # the tombstones emptied the victim bucket, and the last batch's
    # keys landed only in buckets that were empty before it
    emptied = _man(path, 3)["buckets"]
    assert str(victim) not in emptied
    assert not {str(b) for b in _driver_buckets(empty, types, 8)} & \
        set(emptied)
    got = {r[:2]: r[2] for r in _sorted(manifest_read(spark, path))}
    assert got[(2, "g2")] == -2 and (4, "g1") not in got
    assert all(got[k] == 7 for k in empty)
    hist = {r.version: r for r in manifest_history(spark, path).collect()}
    assert [hist[v].writer for v in sorted(hist)] == \
        ["spark", "driver", "driver", "driver"]
    tomb_commit = hist[3]
    assert tomb_commit.buckets_touched == 1 and tomb_commit.files_added == 0


@pytest.mark.parametrize("as_bytes", ["true", "false"])
def test_driver_commit_agrees_with_spark_every_flat_type(spark, tmp_path,
                                                         as_bytes):
    """Every flat column type, keyed by a composite of every hashable
    key type; binary values collect as bytearray when binaryAsBytes is
    off."""
    schema = ("kb boolean, kt tinyint, ks smallint, ki int, kl bigint, "
              "kd date, kx string, ky binary, f float, d double, "
              "d1 decimal(9, 2), d2 decimal(30, 6), b binary, u string")

    def row(i, v):
        return (i % 2 == 0, i - 20, i * 300, -i, 2 ** 40 + i,
                datetime.date(2024, 1, 1 + i % 28), f"x{i}", bytes([i, 1]),
                v / 4, v / 3, decimal.Decimal(v) / 4,
                decimal.Decimal(10) ** 20 + v, bytes([v % 256]), "ü" * i)

    keys = ["kb", "kt", "ks", "ki", "kl", "kd", "kx", "ky"]
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, as_bytes)
    try:
        _commit_both(
            spark, tmp_path, [row(i, i) for i in range(30)],
            [([row(i, -i) for i in (1, 2, 33)], schema)], schema, keys,
            [row(i, 0)[:8] for i in (1, 3, 33, 50)])
    finally:
        spark.conf.set(conf, old)


def test_driver_commit_agrees_with_spark_on_schema_widening(spark,
                                                            tmp_path):
    schema = "k bigint, v string"
    wide = "k bigint, v string, x int"
    path = _commit_both(
        spark, tmp_path, [(i, f"v{i}") for i in range(30)],
        [([(1, "a", 10), (40, "b", 11)], wide), ([(2, "c")], schema)],
        schema, ["k"], [(1,), (2,), (3,), (40,)], evolve_schema=True)
    assert [f["name"] for f in _man(path)["schema"]["fields"]] == \
        ["k", "v", "x"]
    got = {r.k: (r.v, r.x) for r in manifest_read(spark, path).collect()}
    assert got[1] == ("a", 10) and got[2] == ("c", None)


def test_driver_commit_falls_back_to_spark(spark, tmp_path, monkeypatch):
    """Each case the driver writer does not serve commits through the
    Spark writer, with the same result."""
    def commit(name, rows, schema, keys=("k",), **kw):
        path = str(tmp_path / name)
        manifest_merge(spark.createDataFrame(rows, schema), path,
                       list(keys), n_buckets=4, **kw)
        manifest_merge(local_df(spark, rows[:3], schema), path,
                       list(keys), n_buckets=4, **kw)
        return path, _man(path)["summary"]["writer"]

    rows = [(i, i) for i in range(10)]
    path, writer = commit("additive", rows, "k int, v bigint",
                          mode="additive", value_cols=["v"])
    assert writer == "spark"
    assert {r.k: r.v for r in manifest_read(spark, path).collect()} == \
        {i: 2 * i if i < 3 else i for i in range(10)}

    def keep_new(stored, updates):
        return updates if stored is None else stored.join(
            updates, ["k"], "left_anti").unionByName(updates)

    assert commit("merge_fn", rows, "k int, v bigint",
                  merge_fn=keep_new)[1] == "spark"
    path, writer = commit("nested", [(i, [i]) for i in range(10)],
                          "k int, xs array<int>")
    assert writer == "spark" and manifest_read(spark, path).count() == 10
    assert commit("double", [(i / 2, i) for i in range(10)],
                  "k double, v int")[1] == "spark"
    assert commit("flat", rows, "k int, v bigint")[1] == "driver"
    monkeypatch.setattr(manifest, "_DRIVER_READ_MAX_BYTES", 10)
    path, writer = commit("capped", rows, "k int, v bigint")
    assert writer == "spark" and manifest_read(spark, path).count() == 10


@pytest.mark.parametrize("frame", ["local", "rdd"])
def test_merge_routes_batch_keys_under_store_key_types(spark, tmp_path,
                                                       frame):
    """An int batch against a bigint store used to hash its touched
    buckets as int while the write hashed the bigint union, so the
    merge raised the stray-bucket error instead of committing."""
    make = {"local": lambda r, s: local_df(spark, r, s),
            "rdd": spark.createDataFrame}[frame]
    path = str(tmp_path / "big")
    manifest_merge(spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        path, ["k"], n_buckets=16)
    manifest_merge(make([(i, -i) for i in range(0, 30, 3)], "k int, v bigint"),
                   path, ["k"], n_buckets=16)
    got = {r.k: r.v for r in manifest_read(spark, path).collect()}
    assert got == {i: -i if i < 30 and i % 3 == 0 else 2 * i
                   for i in range(100)}
    assert manifest_read(spark, path).schema["k"].dataType == T.LongType()
    assert _man(path)["summary"]["writer"] == \
        ("driver" if frame == "local" else "spark")
    small = str(tmp_path / "small")
    manifest_merge(spark.createDataFrame([(1, 1)], "k int, v int"), small,
                   ["k"], n_buckets=4)
    head = manifest_current(small)
    with pytest.raises(Exception, match="cannot hold"):
        manifest_merge(make([(2 ** 40, 1)], "k bigint, v int"), small, ["k"],
                       n_buckets=4)
    assert manifest_current(small) == head
    with pytest.raises(ValueError, match="batch key 'k' is string"):
        manifest_merge(make([("1", 1)], "k string, v int"), small, ["k"],
                       n_buckets=4)


def test_driver_commit_crash_before_pointer_replays_once(spark, tmp_path,
                                                         monkeypatch):
    """A driver commit that dies after writing its data and manifest but
    before the pointer leaves the store as it was; the version number
    is never reused and the replayed batch merges exactly once."""
    path = str(tmp_path / "s")
    schema = "k bigint, v bigint, dead boolean"
    manifest_merge(spark.createDataFrame(
        [(i, i, False) for i in range(40)], schema), path, ["k"],
        epoch_id=0, n_buckets=8, tombstone_col="dead")
    before = _sorted(manifest_read(spark, path))
    batch = [(1, 100, False), (2, None, True), (50, 50, False)]
    real = manifest.fsutil.write_text_atomic

    def crash_at_pointer(p, text, spark=None):
        if p.endswith("_ptr.json"):
            raise OSError("crash before the pointer")
        real(p, text, spark=spark)

    monkeypatch.setattr(manifest.fsutil, "write_text_atomic",
                        crash_at_pointer)
    with pytest.raises(OSError, match="crash before the pointer"):
        manifest_merge(local_df(spark, batch, schema), path, ["k"],
                       epoch_id=1, n_buckets=8, tombstone_col="dead")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(path, "_m000002.json"))
    assert os.listdir(os.path.join(path, "data", "v000002"))
    assert manifest_current(path) == (1, 0)
    assert _sorted(manifest_read(spark, path)) == before
    # the epoch did not advance, so the batch replays
    assert manifest_merge(local_df(spark, batch, schema), path, ["k"],
                          epoch_id=1, n_buckets=8,
                          tombstone_col="dead") == 3
    assert manifest_current(path) == (3, 1)
    assert _man(path)["summary"]["writer"] == "driver"
    want = {i: i for i in range(40)}
    want.update({1: 100, 50: 50})
    del want[2]
    assert {r.k: r.v for r in manifest_read(spark, path).collect()} == want
    manifest.manifest_vacuum(path, keep=1)
    assert not os.path.exists(os.path.join(path, "data", "v000002"))
    assert {r.k: r.v for r in manifest_read(spark, path).collect()} == want


def test_history_summary_is_null_for_older_manifests(spark, tmp_path):
    path = str(tmp_path / "s")
    for e in range(2):
        manifest_merge(local_df(spark, [(e, e)], "k int, v int"), path,
                       ["k"], epoch_id=e, n_buckets=4)
    m1 = os.path.join(path, "_m000001.json")
    with open(m1) as f:
        doc = json.load(f)
    del doc["summary"]
    with open(m1, "w") as f:
        json.dump(doc, f)
    # a Spark commit counts no rows: that would cost a job
    manifest_merge(spark.createDataFrame([(0, 9)], "k int, v int"), path,
                   ["k"], epoch_id=2, n_buckets=4)
    rows = sorted(manifest_history(spark, path).collect())
    assert rows[0][5:] == (None, None, None, None, None)
    # the second commit rewrote key 1's bucket, which holds key 0 too
    # when both hash there
    b0, b1 = _driver_buckets([(0,), (1,)], [T.IntegerType()], 4)
    assert rows[1][5:] == ("driver", 1, 1, rows[1].bytes_added,
                           1 + (b0 == b1))
    assert rows[1].bytes_added > 0
    assert rows[2][5:] == ("spark", 1, 1, rows[2].bytes_added, None)


# one column of each type the driver serves: the derived merge schema
# must equal Spark's for all of them
_FLAT_DDL = ("k bigint, b boolean, t tinyint, s smallint, i int, f float, "
             "d double, u string, y binary, dt date, dc decimal(10, 2)")


def _flat_row(i):
    return (i, i % 2 == 0, i % 100, i * 3, -i, i / 4, i / 3, f"u{i}",
            bytes([i % 256]), datetime.date(2024, 1, 1 + i % 28),
            decimal.Decimal(i) / 4)


def _pinned(spark, tmp_path, boot, batch, keys, tombstone_col=None,
            evolve_schema=False):
    """The derived merge schema of ``batch`` against a store bootstrapped
    from ``boot``, asserted equal to the analysed plan's — both with the
    store's rows (``_read_buckets``) and with none (every touched bucket
    empty, or a first commit)."""
    path = str(tmp_path / uuid.uuid4().hex)
    manifest_merge(boot, path, keys, n_buckets=1)
    man = _man(path)
    recorded = T.StructType.fromJson(man["schema"])
    out = {}
    for name, stored, rec in (
            ("stored", manifest._read_buckets(spark, path, man), recorded),
            ("empty", None, None)):
        want = manifest._merge_upsert(stored, batch, keys, tombstone_col,
                                      evolve_schema).schema
        got = manifest._upsert_schema(rec, batch.schema, keys,
                                      tombstone_col, evolve_schema)
        assert got is not None, name
        assert got.jsonValue() == want.jsonValue(), name
        out[name] = got
    return out


def test_derived_merge_schema_equals_spark_analysis(spark, tmp_path):
    flat = T._parse_datatype_string(_FLAT_DDL)
    assert {type(f.dataType) for f in flat.fields} == \
        set(manifest._FLAT_TYPES)
    rows = [_flat_row(i) for i in range(6)]
    boot = spark.createDataFrame(rows, flat)
    # every flat type, keys leading, with a tombstone column to drop
    dead = T.StructType(flat.fields + [T.StructField("dead",
                                                     T.BooleanType())])
    got = _pinned(spark, tmp_path, boot, spark.createDataFrame(
        [r + (i == 1,) for i, r in enumerate(rows[:3])], dead), ["k"],
        tombstone_col="dead")
    assert "dead" not in got["stored"].names
    assert all(f.nullable for f in got["stored"].fields)
    # non-nullable batch fields, keys NOT leading: the anti-join moves
    # the keys first, and stored rows make every field nullable
    strict = spark.range(5).select(
        (F.col("id") * 2).alias("v"), F.col("id").alias("k"),
        F.lit("x").alias("w"))
    got = _pinned(spark, tmp_path, strict, strict, ["k"])
    assert got["stored"].names == ["k", "v", "w"]
    assert all(f.nullable for f in got["stored"].fields)
    assert got["empty"].names == ["v", "k", "w"]
    assert not any(f.nullable for f in got["empty"].fields)
    # evolve_schema: the batch carries a column the store lacks, lacks
    # one the store carries, and both at once
    base = spark.range(5).select(F.col("id").alias("k"),
                                 F.col("id").cast("string").alias("a"))
    for cols in (["k", "a", F.lit(1).alias("new")], ["k"],
                 [F.lit(2.5).alias("new"), "k"]):
        got = _pinned(spark, tmp_path, base, base.select(*cols), ["k"],
                      evolve_schema=True)
    assert got["stored"].names == ["k", "a", "new"]
    assert got["empty"].names == ["new", "k"]


def test_derived_merge_schema_declines_what_spark_would_widen(spark):
    stored = T._parse_datatype_string("k bigint, v int")
    batch = T._parse_datatype_string

    def derived(ddl, **kw):
        return manifest._upsert_schema(stored, batch(ddl), ["k"],
                                       kw.get("tombstone_col"),
                                       kw.get("evolve_schema", False))

    assert derived("k bigint, v int") is not None
    assert derived("k bigint, v bigint") is None  # Spark widens
    assert derived("k bigint, V int") is None  # case-only name clash
    assert derived("k bigint, v int, x int") is None  # strict union fails
    assert derived("k bigint, v int, d int", tombstone_col="d") is None
    assert derived("k bigint, v int", tombstone_col="d") is None


def test_case_only_name_clash_commits_like_spark(spark, tmp_path):
    """Spark's ``unionByName`` matches names case-insensitively, so under
    evolve_schema a batch column ``V`` updates the stored ``v``.  The
    driver writer matches names exactly and would write nulls there, so
    such a batch commits through the Spark writer."""
    got = {}
    for name, frame in (
            ("local", lambda rows, ddl: local_df(spark, rows, ddl)),
            ("rdd", spark.createDataFrame)):
        path = str(tmp_path / name)
        manifest_merge(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k bigint, v string"), path, ["k"],
            n_buckets=2)
        manifest_merge(frame([(1, "z")], "k bigint, V string"), path,
                       ["k"], n_buckets=2, evolve_schema=True)
        got[name] = _sorted(manifest_read(spark, path))
    assert got["local"] == got["rdd"] == [(1, "z"), (2, "b")]


def _raise(*_, **__):
    raise AssertionError("patched to raise")


def _kept(spark, monkeypatch, lookup, probes, schema):
    """Rows of ``lookup`` over a bare ``local_df`` of the probes, with
    the plan-folding ``_driver_rows`` patched to raise."""
    with monkeypatch.context() as m:
        m.setattr(manifest, "_driver_rows", _raise)
        out = lookup(local_df(spark, probes, schema))
        return sorted(map(tuple, out.collect()), key=repr)


def test_driver_commit_builds_no_merge_plan(spark, tmp_path, monkeypatch):
    """A driver commit derives the merge schema in Python: with the plan
    builders patched to raise, the first commit, upserts with
    tombstones and both evolve_schema directions still commit on the
    driver.  The commits the driver writer declines still build the
    plan."""
    path = str(tmp_path / "s")
    schema = "k bigint, v string, dead boolean"
    manifest_merge(spark.createDataFrame(
        [(i, f"v{i}", False) for i in range(20)], schema), path, ["k"],
        n_buckets=4, tombstone_col="dead")
    monkeypatch.setattr(manifest, "_read_buckets", _raise)
    monkeypatch.setattr(manifest, "_merge_upsert", _raise)
    first = str(tmp_path / "first")
    for target, rows, ddl, kw in (
            (first, [(1, "a", False)], schema, {"tombstone_col": "dead"}),
            (path, [(1, "a", False), (2, None, True), (30, "c", False)],
             schema, {"tombstone_col": "dead"}),
            (path, [(3, "w", 7)], "k bigint, v string, x int",
             {"evolve_schema": True}),
            (path, [(4,)], "k bigint", {"evolve_schema": True})):
        manifest_merge(local_df(spark, rows, ddl), target, ["k"],
                       n_buckets=4, **kw)
        assert _man(target)["summary"]["writer"] == "driver"
    monkeypatch.undo()
    got = {r.k: (r.v, r.x) for r in manifest_read(spark, path).collect()}
    assert len(got) == 20 and 2 not in got and got[30] == ("c", None)
    assert got[1] == ("a", None) and got[3] == ("w", 7)
    assert got[4] == (None, None) and got[5] == ("v5", None)

    def keep_new(stored, updates):
        return updates if stored is None else stored.join(
            updates, ["k"], "left_anti").unionByName(updates)

    rows = [(i, i) for i in range(10)]
    for name, data, ddl, kw in (
            ("capped", rows, "k int, v bigint", {}),
            ("nested", [(i, [i]) for i in range(10)],
             "k int, xs array<int>", {}),
            ("double", [(i / 2, i) for i in range(10)], "k double, v int",
             {}),
            ("additive", rows, "k int, v bigint",
             {"mode": "additive", "value_cols": ["v"]}),
            ("merge_fn", rows, "k int, v bigint", {"merge_fn": keep_new})):
        p = str(tmp_path / name)
        manifest_merge(spark.createDataFrame(data, ddl), p, ["k"],
                       n_buckets=4, **kw)
        with monkeypatch.context() as m:
            m.setattr(manifest, "_read_buckets", _raise)
            if name == "capped":
                m.setattr(manifest, "_DRIVER_READ_MAX_BYTES", 0)
            with pytest.raises(AssertionError, match="patched to raise"):
                manifest_merge(local_df(spark, data[:3], ddl), p, ["k"],
                               n_buckets=4, **kw)


def test_driver_commit_and_lookup_py4j_round_trips(spark, tmp_path,
                                                   py4j_calls):
    """A 24-row driver commit (a projection over ``local_df``, as
    ``Pipeline.create_multiple`` gives) and a 4-key lookup stay under
    a fixed number of py4j round trips.  Analysing a merge plan per
    commit and folding a probe projection per lookup would take ~110
    and ~50; building the lookup's result with
    ``spark.createDataFrame`` instead of ``arrow_df`` would take 23."""
    path = str(tmp_path / "s")
    manifest_merge(spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("c"),
        F.col("id").cast("string").alias("s")), path, ["k"], n_buckets=16)
    ddl = "k bigint, c bigint, s string, dead boolean"
    nxt = iter(range(10_000))

    def commit():
        i = next(nxt) * 24
        batch = local_df(spark, [((j * 7) % 3000, j, f"x{j}", j % 5 == 0)
                                 for j in range(i, i + 24)], ddl).select(
            "k", (F.col("c") + 1).alias("c"), "s", "dead")
        return lambda: manifest_merge(batch, path, ["k"], n_buckets=16,
                                      tombstone_col="dead")

    def lookup():
        keys = local_df(spark, [(next(nxt) % 2500,) for _ in range(4)],
                        "k bigint")
        return lambda: manifest_lookup(spark, path, keys)

    commit_calls = py4j_calls(commit)
    lookup_calls = py4j_calls(lookup)
    assert _man(path)["summary"]["writer"] == "driver"
    assert commit_calls <= 25, commit_calls
    assert lookup_calls <= 5, lookup_calls


def test_lookup_reads_kept_rows_of_a_bare_local_df(spark, tmp_path,
                                                   monkeypatch):
    """A bare ``local_df`` of the store's key types is routed from the
    rows it kept, with no plan to optimize; an empty one, one above the
    cap and any frame derived from one are not, and every one of them
    returns what the Spark path does."""
    from wrangle_pypes_spark.localdf import local_rows
    path = str(tmp_path / "s")
    manifest_merge(spark.range(6000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")), path,
        ["k"], n_buckets=8)

    def look(keys):
        return manifest_lookup(spark, path, keys)

    probes = [(3,), (4,), (5_000,), (9_999,), (None,)]
    got = _both(spark, look, probes, "k bigint")
    assert _kept(spark, monkeypatch, look, probes, "k bigint") == got
    assert [r[0] for r in got] == [3, 4, 5_000]
    bare = local_df(spark, probes, "k bigint")
    for derived in (bare.filter(F.col("k") > 3),
                    bare.select((F.col("k") + 1).alias("k")),
                    bare.withColumn("k", F.col("k") * 2)):
        assert local_rows(derived, ["k"]) is None
        a = sorted(map(tuple, look(derived).collect()))
        b = sorted(map(tuple, look(derived.localCheckpoint()).collect()))
        assert a == b
    assert sorted(r.k for r in look(bare.withColumn(
        "k", F.col("k") * 2)).collect()) == [6, 8]
    # 4096 rows keep theirs; one more keeps none
    many = [(i,) for i in range(4097)]
    assert local_rows(local_df(spark, many[:4096], "k bigint"),
                      ["k"]) == many[:4096]
    assert local_rows(local_df(spark, many, "k bigint"), ["k"]) is None
    assert len(_both(spark, look, many, "k bigint", max_jobs=9)) == 4097
    assert local_rows(local_df(spark, [], "k bigint"), ["k"]) is None
    assert _both(spark, look, [], "k bigint", max_jobs=9) == []
    # an int probe converts through _as_type, not through kept rows
    seen = []
    real = manifest._as_type

    def spy(k, dt, strict=False):
        seen.append((k, dt, strict))
        return real(k, dt, strict)

    monkeypatch.setattr(manifest, "_as_type", spy)
    got = _both(spark, look, [(3,), (2 ** 31 - 1,), (None,)], "k int")
    assert [r[0] for r in got] == [3] and ("k", T.LongType(), False) in seen


@pytest.mark.parametrize("as_bytes", ["true", "false"])
def test_kept_binary_keys_match_the_spark_path(spark, tmp_path,
                                               monkeypatch, as_bytes):
    path = str(tmp_path / "s")
    manifest_merge(spark.createDataFrame(
        [(bytes([i, 3]), i) for i in range(40)], "k binary, v int"), path,
        ["k"], n_buckets=4)
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, as_bytes)
    probes = [(bytes([i, 3]),) for i in (1, 2, 77)] + [(None,)]

    def look(keys):
        return manifest_lookup(spark, path, keys)

    try:
        got = _both(spark, look, probes, "k binary")
        assert _kept(spark, monkeypatch, look, probes, "k binary") == got
    finally:
        spark.conf.set(conf, old)
    assert sorted(r[1] for r in got) == [1, 2]
