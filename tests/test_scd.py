"""SCD2 dimension versioning: build, incremental merge, snapshots."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators import scd2_build, scd2_merge, scd2_snapshot


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def updates(spark):
    # customer 1 changes segment twice (with one no-op observation),
    # customer 2 never changes, customer 3 has a same-instant tie.
    rows = [
        (1, "BRONZE", _ts("2024-01-01")),
        (1, "BRONZE", _ts("2024-02-01")),   # no-op: collapses
        (1, "SILVER", _ts("2024-03-01")),
        (1, "GOLD", _ts("2024-06-01")),
        (2, "BRONZE", _ts("2024-01-15")),
        (3, "A", _ts("2024-01-01")),
        (3, "B", _ts("2024-01-01")),        # tie on ts -> tiebreak on attr
    ]
    return spark.createDataFrame(rows, "custkey int, segment string, ts timestamp")


def test_scd2_build_intervals(spark, updates):
    dim = scd2_build(updates, key_cols=["custkey"], ts_col="ts",
                     attr_cols=["segment"], tiebreak_cols=["segment"])
    got = {(r.custkey, r.segment): (r.valid_from, r.valid_to, r.is_current)
           for r in dim.collect()}
    assert got[(1, "BRONZE")] == (_ts("2024-01-01"), _ts("2024-03-01"), False)
    assert got[(1, "SILVER")] == (_ts("2024-03-01"), _ts("2024-06-01"), False)
    assert got[(1, "GOLD")] == (_ts("2024-06-01"), None, True)
    assert got[(2, "BRONZE")] == (_ts("2024-01-15"), None, True)
    # tie: A orders before B, B is current; intervals half-open, no gap
    assert got[(3, "A")] == (_ts("2024-01-01"), _ts("2024-01-01"), False)
    assert got[(3, "B")] == (_ts("2024-01-01"), None, True)
    # exactly one current row per key
    cur = dim.filter("is_current").groupBy("custkey").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_merge_touches_only_batch_keys(spark, updates):
    dim = scd2_build(updates, key_cols=["custkey"], ts_col="ts",
                     attr_cols=["segment"], tiebreak_cols=["segment"])
    batch = spark.createDataFrame(
        [(1, "PLATINUM", _ts("2024-09-01")),      # change for key 1
         (4, "NEW", _ts("2024-09-01"))],          # brand-new key
        "custkey int, segment string, ts timestamp")
    merged = scd2_merge(dim, batch, key_cols=["custkey"], ts_col="ts",
                        attr_cols=["segment"], tiebreak_cols=["segment"])
    got = {(r.custkey, r.segment): (r.valid_from, r.valid_to, r.is_current)
           for r in merged.collect()}
    # untouched key 2 byte-identical
    assert got[(2, "BRONZE")] == (_ts("2024-01-15"), None, True)
    # key 1: GOLD closed at the new version's start, PLATINUM current
    assert got[(1, "GOLD")] == (_ts("2024-06-01"), _ts("2024-09-01"), False)
    assert got[(1, "PLATINUM")] == (_ts("2024-09-01"), None, True)
    assert got[(4, "NEW")] == (_ts("2024-09-01"), None, True)
    # idempotent: replaying the same batch changes nothing
    again = scd2_merge(merged, batch, key_cols=["custkey"], ts_col="ts",
                       attr_cols=["segment"], tiebreak_cols=["segment"])
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, merged.collect()))


def test_scd2_snapshot(spark, updates):
    dim = scd2_build(updates, key_cols=["custkey"], ts_col="ts",
                     attr_cols=["segment"], tiebreak_cols=["segment"])
    snap = scd2_snapshot(dim, _ts("2024-04-01"))
    got = {r.custkey: r.segment for r in snap.collect()}
    assert got == {1: "SILVER", 2: "BRONZE", 3: "B"}
    # before any observation of key 2
    early = scd2_snapshot(dim, _ts("2024-01-10"))
    got_early = {r.custkey: r.segment for r in early.collect()}
    assert got_early == {1: "BRONZE", 3: "B"}


def test_scd2_build_on_real_orders(spark, tables):
    """Priority history per customer from the orders stream — the query
    registered as scd2_customer_history."""
    o = tables["orders"]
    dim = scd2_build(o.select("o_custkey", "o_orderpriority", "o_orderdate"),
                     key_cols=["o_custkey"], ts_col="o_orderdate",
                     attr_cols=["o_orderpriority"],
                     tiebreak_cols=["o_orderpriority"])
    # every customer with orders has exactly one current version
    n_cust = o.select("o_custkey").distinct().count()
    assert dim.filter("is_current").count() == n_cust
    # intervals chain: valid_to of version k == valid_from of version k+1
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy("valid_from")
    chained = (dim.withColumn("_next_from", F.lead("valid_from").over(w))
               .filter(F.col("valid_to").isNotNull())
               .filter(~F.col("valid_to").eqNullSafe(F.col("_next_from"))))
    assert chained.count() == 0


def test_streaming_scd2_merge_equals_batch_build(spark, tables, tmp_path):
    """Drain events through foreach_batch_scd2_merge in TWO micro-batches
    split by TIME (per-key observations non-decreasing across batches —
    the documented CDC-load contract): the durable dimension must equal
    scd2_build over all rows, and replaying the last batch must be a
    no-op."""
    from wrangle_pypes_spark.streaming import foreach_batch_scd2_merge
    from wrangle_pypes_spark.operators.scd import scd2_merge
    from wrangle_pypes_spark.sources.manifest import manifest_read

    ev = tables["events"].select("user_id", "event_type", "ts")
    # deterministic midpoint: median row's ts via sort+limit
    n = ev.count()
    mid_ts = (ev.orderBy("ts").limit(n // 2)
              .agg(F.max("ts")).collect()[0][0])
    src_dir = str(tmp_path / "scd_src")
    import glob
    import shutil
    for tag, half in (("a", ev.filter(F.col("ts") <= mid_ts)),
                      ("b", ev.filter(F.col("ts") > mid_ts))):
        half.coalesce(1).write.parquet(f"{src_dir}/{tag}")
    files = [f for d in ("a", "b")
             for f in sorted(glob.glob(f"{src_dir}/{d}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(f"{src_dir}/a"), shutil.rmtree(f"{src_dir}/b")

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir))
    dim_path = str(tmp_path / "scd_dim")
    q = foreach_batch_scd2_merge(stream, dim_path, key_cols=["user_id"],
                                 ts_col="ts", attr_cols=["event_type"],
                                 tiebreak_cols=["event_type"])
    q.awaitTermination()

    want = scd2_build(ev, key_cols=["user_id"], ts_col="ts",
                      attr_cols=["event_type"],
                      tiebreak_cols=["event_type"])

    def rows(df):
        return sorted((r.user_id, r.valid_from, r.event_type,
                       r.valid_to, r.is_current) for r in df.collect())

    got = manifest_read(spark, dim_path)
    assert rows(got) == rows(want)
    # replaying the second half (checkpoint recovery) is a no-op
    replay = scd2_merge(got, ev.filter(F.col("ts") > mid_ts),
                        key_cols=["user_id"], ts_col="ts",
                        attr_cols=["event_type"],
                        tiebreak_cols=["event_type"])
    assert rows(replay) == rows(want)


def test_scd2_rebuild_store_heals_late_observation(spark, tmp_path):
    """A straggler whose ts falls BETWEEN two already-stored versions is
    the case the streaming merge documents it cannot fix (collapsed
    versions can't resurrect the interval the straggler splits);
    scd2_rebuild_store over the raw log must heal exactly that key."""
    import datetime as dt

    from wrangle_pypes_spark.operators.scd import (scd2_build,
                                                   scd2_rebuild_store)
    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import foreach_batch_scd2_merge

    def t(day):
        return dt.datetime(2024, 1, day)

    # full raw observation log: key 1 goes A -> B -> A, key 2 X -> Y
    all_obs = spark.createDataFrame(
        [(1, "A", t(1)), (1, "B", t(5)), (1, "A", t(9)),
         (2, "X", t(2)), (2, "Y", t(6))],
        "user_id int, status string, ts timestamp")
    straggler = all_obs.filter(F.col("ts") == t(5))
    on_time = all_obs.filter(F.col("ts") != t(5))

    def rows(df):
        return sorted((r.user_id, r.valid_from, r.status,
                       r.valid_to, r.is_current) for r in df.collect())

    # streaming arrival violating the per-key order contract: batch 1
    # carries (t1,A) and (t9,A) — they collapse to ONE interval — then
    # batch 2 delivers the t5 straggler, each drained through the
    # foreachBatch maintainer
    dim_path = str(tmp_path / "dim")
    for i, batch in enumerate((on_time, straggler)):
        src = str(tmp_path / f"src{i}")
        batch.coalesce(1).write.parquet(src)
        foreach_batch_scd2_merge(
            spark.readStream.schema(batch.schema).parquet(src), dim_path,
            key_cols=["user_id"], ts_col="ts",
            attr_cols=["status"]).awaitTermination()

    want = scd2_build(all_obs, key_cols=["user_id"], ts_col="ts",
                      attr_cols=["status"])
    # the streaming path lost the A@t9 resurrection — store is WRONG
    assert rows(manifest_read(spark, dim_path)) != rows(want)

    # heal ONLY the late key from the raw log
    late_keys = spark.createDataFrame([(1,)], "user_id int")
    scd2_rebuild_store(all_obs, dim_path, key_cols=["user_id"],
                       ts_col="ts", attr_cols=["status"], keys=late_keys)
    assert rows(manifest_read(spark, dim_path)) == rows(want)


def test_scd2_rebuild_store_carries_tiebreak_column(spark, tmp_path):
    """A dedicated per-key sequence column (the usual CDC tiebreaker,
    NOT among key/attr columns) must survive the rebuild projection —
    same-instant observations order by it."""
    import datetime as dt

    from wrangle_pypes_spark.operators.scd import (scd2_build,
                                                   scd2_rebuild_store)
    from wrangle_pypes_spark.sources.manifest import manifest_read

    t = dt.datetime(2024, 1, 1)
    log = spark.createDataFrame(
        [(1, "A", t, 1), (1, "B", t, 2)],  # same ts; seq orders them
        "user_id int, status string, ts timestamp, seq int")
    dim_path = str(tmp_path / "dim")
    scd2_rebuild_store(log, dim_path, key_cols=["user_id"], ts_col="ts",
                       attr_cols=["status"], tiebreak_cols=["seq"])
    got = manifest_read(spark, dim_path).collect()
    want = scd2_build(log, key_cols=["user_id"], ts_col="ts",
                      attr_cols=["status"], tiebreak_cols=["seq"]).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # seq=2 wins the current interval
    assert [r.status for r in got if r.is_current] == ["B"]


# ---------------------------------------------------------------------------
# CDC apply
# ---------------------------------------------------------------------------

def test_cdc_apply_semantics(spark):
    """Latest-per-key change wins; D removes, U/I upsert, untouched
    keys pass through; update-for-missing-key inserts."""
    from wrangle_pypes_spark.operators.cdc import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id int, name string, v int")
    changes = spark.createDataFrame(
        [(1, "U", 1, "a1", 11),   # superseded by seq 2
         (1, "U", 2, "a2", 12),   # latest for key 1
         (2, "D", 1, None, None),  # delete key 2
         (5, "I", 1, "e", 50),    # brand-new key
         (6, "U", 1, "f", 60),    # update for unseen key -> upsert
         (3, "I", 1, "c1", 31),   # insert superseded by delete
         (3, "D", 2, None, None)],
        "id int, op string, seq int, name string, v int")
    out = cdc_apply(base, changes, key_cols=["id"], seq_col="seq")
    rows = {r.id: (r.name, r.v) for r in out.collect()}
    assert rows == {1: ("a2", 12), 4: ("d", 40),
                    5: ("e", 50), 6: ("f", 60)}


def test_cdc_apply_rejects_unknown_op_and_missing_cols(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException
    from wrangle_pypes_spark.operators.cdc import cdc_apply

    base = spark.createDataFrame([(1, 10)], "id int, v int")
    bad_op = spark.createDataFrame([(1, "X", 1, 11)],
                                   "id int, op string, seq int, v int")
    with pytest.raises(SparkRuntimeException, match="unknown op code"):
        cdc_apply(base, bad_op, key_cols=["id"], seq_col="seq").collect()

    # NULL op is malformed too — it must fail, not read as "no change"
    null_op = spark.createDataFrame([(1, None, 1, 11)],
                                    "id int, op string, seq int, v int")
    with pytest.raises(SparkRuntimeException, match="unknown op code"):
        cdc_apply(base, null_op, key_cols=["id"],
                  seq_col="seq").collect()

    no_payload = spark.createDataFrame([(1, "U", 1)],
                                       "id int, op string, seq int")
    with pytest.raises(ValueError, match="missing columns"):
        cdc_apply(base, no_payload, key_cols=["id"], seq_col="seq")


def test_cdc_apply_idempotent_and_plan(spark):
    from wrangle_pypes_spark.operators.cdc import cdc_apply
    from wrangle_pypes_spark.plans import audit

    base = spark.createDataFrame([(i, i * 10) for i in range(100)],
                                 "id int, v int")
    changes = spark.createDataFrame(
        [(i, "U" if i % 2 else "D", 1, i * 100) for i in range(0, 100, 5)],
        "id int, op string, seq int, v int")
    once = cdc_apply(base, changes, key_cols=["id"], seq_col="seq")
    twice = cdc_apply(once, changes, key_cols=["id"], seq_col="seq")
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))
    rep = audit(once)
    assert rep.jvm_only()


def test_cdc_vacuum_tombstone_retention(spark, tmp_path):
    """Vacuum drops only tombstones below the horizon; live rows and
    young tombstones survive; a kept tombstone still blocks a late
    stale update from resurrecting the key."""
    from wrangle_pypes_spark.operators.cdc import cdc_vacuum
    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import (foreach_batch_cdc_apply,
                                               read_cdc_store)

    feed = spark.createDataFrame(
        [(1, "U", 10, "live"), (2, "D", 3, None), (3, "D", 9, None)],
        "id int, op string, seq int, val string")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    stream = (spark.readStream.schema(feed.schema)
              .format("parquet").load(src))
    foreach_batch_cdc_apply(stream, store, key_cols=["id"],
                            seq_col="seq").awaitTermination()

    # horizon 5: only key 2's tombstone (seq 3) is past retention
    assert cdc_vacuum(spark, store, min_seq=5) == 1
    raw = {r.id: (r._cdc_seq, r._cdc_deleted)
           for r in manifest_read(spark, store).collect()}
    assert set(raw) == {1, 3}
    assert raw[3] == (9, True)  # young tombstone kept
    assert cdc_vacuum(spark, store, min_seq=5) == 0  # idempotent

    # the kept tombstone still wins against a late stale update
    late = spark.createDataFrame([(3, "U", 7, "zombie")],
                                 "id int, op string, seq int, val string")
    src2 = str(tmp_path / "src2")
    late.coalesce(1).write.parquet(src2)
    stream2 = (spark.readStream.schema(late.schema)
               .format("parquet").load(src2))
    foreach_batch_cdc_apply(stream2, store, key_cols=["id"],
                            seq_col="seq").awaitTermination()
    cur = {r.id: r.val for r in read_cdc_store(spark, store).collect()}
    assert cur == {1: "live"}


def test_temporal_join_boundaries_and_left(spark):
    from wrangle_pypes_spark.operators.scd import (scd2_build,
                                                   scd2_temporal_join)

    obs = spark.createDataFrame(
        [(1, "bronze", 10), (1, "silver", 20), (1, "gold", 30),
         (2, "basic", 15)],
        "k int, tier string, ts int")
    dim = scd2_build(obs, key_cols=["k"], ts_col="ts",
                     attr_cols=["tier"], tiebreak_cols=["tier"])
    facts = spark.createDataFrame(
        [(100, 1, 10),   # exactly at valid_from -> bronze
         (101, 1, 19),   # mid-interval -> bronze
         (102, 1, 20),   # half-open boundary -> silver, not bronze
         (103, 1, 99),   # open current interval -> gold
         (104, 1, 5),    # before every version -> no match
         (105, 2, 15)],  # second key isolated
        "fid int, k int, ts int")

    inner = {r.fid: r.tier for r in scd2_temporal_join(
        facts, dim, key_cols=["k"], ts_col="ts").collect()}
    assert inner == {100: "bronze", 101: "bronze", 102: "silver",
                     103: "gold", 105: "basic"}

    left = {r.fid: r.tier for r in scd2_temporal_join(
        facts, dim, key_cols=["k"], ts_col="ts", how="left").collect()}
    assert left[104] is None and len(left) == 6
    # each fact matched at most once (disjoint intervals)
    assert scd2_temporal_join(facts, dim, key_cols=["k"],
                              ts_col="ts", how="left").count() == 6

    import pytest as _pt
    with _pt.raises(ValueError, match="collide"):
        scd2_temporal_join(facts.withColumn("tier", F.lit("x")), dim,
                           key_cols=["k"], ts_col="ts")
    with _pt.raises(ValueError, match="lacks column"):
        scd2_temporal_join(facts, obs, key_cols=["k"], ts_col="ts")
