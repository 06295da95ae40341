"""Partition-pruned manifest store (sources/partitioned.py): value
partitioning composed over unmodified per-partition manifest stores —
prune decision, merge/read roundtrip, per-partition epoch guard
(mid-batch-crash convergence), epoch time travel, vacuum."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.sources.manifest import manifest_current
from wrangle_pypes_spark.sources.partitioned import (
    _encode_pval, pmanifest_merge, pmanifest_partitions,
    pmanifest_read, pmanifest_vacuum, select_partitions)


def _rows(spark, triples):
    return spark.createDataFrame(triples, "k int, day date, val string")


def _d(s):
    return dt.date.fromisoformat(s)


def _kv(spark, store, **kw):
    df = pmanifest_read(spark, store, **kw)
    return {} if df is None else {r.k: (r.day, r.val)
                                  for r in df.collect()}


# ---------------------------------------------------------------- prune

def test_select_partitions_range_typed_and_explicit():
    toks = [_encode_pval(v) for v in (1, 2, 9, 10, 30)]
    # typed int comparison: 9 < 10 numerically, not lexically
    assert select_partitions(toks, lo=2, hi=10) == ["2", "9", "10"]
    days = [_encode_pval(_d(s)) for s in
            ("2024-01-01", "2024-02-01", "2024-03-01")]
    assert select_partitions(days, lo=_d("2024-01-15")) == \
        ["2024-02-01", "2024-03-01"]
    assert select_partitions(days, partitions=[_d("2024-02-01")]) == \
        ["2024-02-01"]
    # a token that doesn't decode under the probe type is KEPT (safe)
    assert select_partitions(["2024-01-01", "junk"],
                             lo=_d("2024-01-02")) == ["junk"]
    # ADVICE r8: mixed-type bounds used to decode under lo's type and
    # blow up mid-comparison on `v > hi`; now a clear up-front error
    with pytest.raises(TypeError, match="same type"):
        select_partitions(["2024-01-01"], lo=_d("2024-01-01"),
                          hi="2024-02-01")


def test_encode_rejects_null_bool_and_unknown_types():
    for bad in (None, True, 1.5):
        with pytest.raises(TypeError):
            _encode_pval(bad)
    # strings with separators can never break the dir layout
    assert "/" not in _encode_pval("a/b=c")


# ----------------------------------------------------- merge/read basics

def test_merge_read_roundtrip_with_pruning(spark, tmp_path):
    store = str(tmp_path / "pstore")
    assert pmanifest_read(spark, store) is None
    base = _rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-01-01"), "b"),
        (3, _d("2024-02-01"), "c"), (4, _d("2024-03-01"), "d")])
    committed = pmanifest_merge(base, store, "day", ["k"],
                                epoch_id=0, n_buckets=4)
    assert set(committed) == {"2024-01-01", "2024-02-01", "2024-03-01"}
    assert _kv(spark, store) == {
        1: (_d("2024-01-01"), "a"), 2: (_d("2024-01-01"), "b"),
        3: (_d("2024-02-01"), "c"), 4: (_d("2024-03-01"), "d")}
    # range prune reads only the selected partitions
    assert _kv(spark, store, lo=_d("2024-01-15"), hi=_d("2024-02-15")) \
        == {3: (_d("2024-02-01"), "c")}
    # upsert within a partition; untouched partitions not re-committed
    upd = _rows(spark, [(2, _d("2024-01-01"), "B2")])
    committed = pmanifest_merge(upd, store, "day", ["k"],
                                epoch_id=1, n_buckets=4)
    assert set(committed) == {"2024-01-01"}
    assert _kv(spark, store)[2] == (_d("2024-01-01"), "B2")
    # directory layout: one complete sub-store per partition value
    assert sorted(p for p in os.listdir(store)
                  if p.startswith("p=")) == \
        ["p=2024-01-01", "p=2024-02-01", "p=2024-03-01"]
    assert manifest_current(os.path.join(store, "p=2024-02-01")) == (1, 0)
    assert manifest_current(os.path.join(store, "p=2024-01-01")) == (2, 1)


def test_merge_contract_violations(spark, tmp_path):
    store = str(tmp_path / "pbad")
    withnull = spark.createDataFrame(
        [(1, None, "a")], "k int, day date, val string")
    with pytest.raises(ValueError, match="NULL in partition column"):
        pmanifest_merge(withnull, store, "day", ["k"])
    ok = _rows(spark, [(1, _d("2024-01-01"), "a")])
    with pytest.raises(ValueError, match="lack partition column"):
        pmanifest_merge(ok, store, "nope", ["k"])
    with pytest.raises(ValueError, match="must not repeat a key"):
        pmanifest_merge(ok, store, "day", ["day", "k"])


# ------------------------------------------------- epoch guard / replay

def test_per_partition_epoch_guard_converges_after_midbatch_crash(
        spark, tmp_path):
    """Crash simulation: batch 1 commits partition A then dies before
    partition B.  The replay must skip A (already at epoch 1) and
    apply B — converging to the uncrashed outcome, exactly once per
    partition."""
    store = str(tmp_path / "pcrash")
    pmanifest_merge(_rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=4)
    # batch 1 touches both partitions, but "crashes" after A: simulate
    # by merging only A's slice under epoch 1
    batch1 = _rows(spark, [
        (1, _d("2024-01-01"), "A1"), (2, _d("2024-02-01"), "B1")])
    pmanifest_merge(batch1.filter(F.col("k") == 1), store, "day",
                    ["k"], epoch_id=1, n_buckets=4)
    # replay of the FULL batch 1: A skips, B applies
    committed = pmanifest_merge(batch1, store, "day", ["k"],
                                epoch_id=1, n_buckets=4)
    assert set(committed) == {"2024-02-01"}
    assert _kv(spark, store) == {
        1: (_d("2024-01-01"), "A1"), 2: (_d("2024-02-01"), "B1")}
    # a second full replay is a no-op everywhere
    assert pmanifest_merge(batch1, store, "day", ["k"], epoch_id=1,
                           n_buckets=4) == {}
    # ad-hoc merges (epoch_id=-1) never engage the guard
    adhoc = _rows(spark, [(1, _d("2024-01-01"), "ADHOC")])
    assert set(pmanifest_merge(adhoc, store, "day", ["k"],
                               n_buckets=4)) == {"2024-01-01"}


# ------------------------------------------------------ epoch as-of read

def test_epoch_asof_reads_consistent_cross_partition_snapshot(
        spark, tmp_path):
    store = str(tmp_path / "pasof")
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "a")]),
                    store, "day", ["k"], epoch_id=0, n_buckets=4)
    pmanifest_merge(_rows(spark, [(2, _d("2024-02-01"), "b")]),
                    store, "day", ["k"], epoch_id=1, n_buckets=4)
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "a2"),
                                  (3, _d("2024-03-01"), "c")]),
                    store, "day", ["k"], epoch_id=2, n_buckets=4)
    # as of epoch 0: only the first partition, original value
    assert _kv(spark, store, epoch=0) == {1: (_d("2024-01-01"), "a")}
    # as of epoch 1: partition 3 (first committed at epoch 2) absent
    assert _kv(spark, store, epoch=1) == {
        1: (_d("2024-01-01"), "a"), 2: (_d("2024-02-01"), "b")}
    # head
    assert _kv(spark, store) == {
        1: (_d("2024-01-01"), "a2"), 2: (_d("2024-02-01"), "b"),
        3: (_d("2024-03-01"), "c")}
    # discovery surface
    parts = {r.partition: (r.version, r.epoch) for r in
             pmanifest_partitions(spark, store).collect()}
    assert parts == {"2024-01-01": (2, 2), "2024-02-01": (1, 1),
                     "2024-03-01": (1, 2)}


# ------------------------------------------------------------ vacuum

def test_vacuum_spans_substores_and_preserves_head(spark, tmp_path):
    store = str(tmp_path / "pvac")
    for e in range(3):
        pmanifest_merge(_rows(spark, [
            (1, _d("2024-01-01"), f"v{e}"),
            (2, _d("2024-02-01"), f"w{e}")]),
            store, "day", ["k"], epoch_id=e, n_buckets=4)
    reclaimed = pmanifest_vacuum(store, keep=1)
    assert reclaimed >= 2  # at least one old version per sub-store
    assert _kv(spark, store) == {
        1: (_d("2024-01-01"), "v2"), 2: (_d("2024-02-01"), "w2")}


# -------------------------------------------------- ops: stats + rebucket

def test_stats_and_partial_rebucket(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import _load_manifest
    from wrangle_pypes_spark.sources.partitioned import (
        pmanifest_rebucket, pmanifest_stats)

    store = str(tmp_path / "pops")
    base = _rows(spark, [
        (i, _d("2024-01-01") if i % 2 else _d("2024-02-01"), f"v{i}")
        for i in range(20)])
    pmanifest_merge(base, store, "day", ["k"], epoch_id=0, n_buckets=2)
    st = pmanifest_stats(spark, store)
    assert set(r.partition for r in st.collect()) == \
        {"2024-01-01", "2024-02-01"}
    assert st.agg(F.sum("rows")).collect()[0][0] == 20
    # rebucket ONLY one partition: bucket counts diverge by design
    done = pmanifest_rebucket(spark, store, 8,
                              partitions=[_d("2024-01-01")])
    assert set(done) == {"2024-01-01"}
    m1 = _load_manifest(str(tmp_path / "pops" / "p=2024-01-01"), done["2024-01-01"])
    assert int(m1["n_buckets"]) == 8
    # content unchanged, reads span mixed layouts fine
    assert _kv(spark, store) == {i: ((_d("2024-01-01") if i % 2
                                      else _d("2024-02-01")), f"v{i}")
                                 for i in range(20)}


# ----------------------------------------- schema drift across partitions

def test_read_tolerates_per_partition_schema_drift(spark, tmp_path):
    store = str(tmp_path / "pdrift")
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "a")]),
                    store, "day", ["k"], epoch_id=0, n_buckets=4)
    widened = spark.createDataFrame(
        [(2, _d("2024-02-01"), "b", 9)],
        "k int, day date, val string, extra int")
    pmanifest_merge(widened, store, "day", ["k"], epoch_id=1,
                    n_buckets=4, evolve_schema=True)
    rows = {r.k: r.asDict() for r in
            pmanifest_read(spark, store).collect()}
    assert rows[1]["extra"] is None and rows[2]["extra"] == 9


# --------------------------------------------------- double-pruned lookup

def test_lookup_double_pruned_and_pcol_immutable(spark, tmp_path):
    from wrangle_pypes_spark.sources.partitioned import pmanifest_lookup

    store = str(tmp_path / "plkp")
    base = _rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-01-01"), "b"),
        (3, _d("2024-02-01"), "c"), (4, _d("2024-03-01"), "d")])
    pmanifest_merge(base, store, "day", ["k"], epoch_id=0, n_buckets=4)
    # probes WITH the partition column: only their partitions open
    probe = spark.createDataFrame(
        [(1, _d("2024-01-01")), (3, _d("2024-02-01")),
         (99, _d("2024-02-01")), (4, None)],
        "k int, day date")
    got = {r.k: r.val for r in
           pmanifest_lookup(spark, store, probe).collect()}
    assert got == {1: "a", 3: "c"}  # 99 absent; null-day probe matches nothing
    # probes WITHOUT the partition column: every partition probed,
    # key matches in exactly one
    bare = spark.createDataFrame([(2,), (4,)], "k int")
    got = {r.k: r.val for r in
           pmanifest_lookup(spark, store, bare).collect()}
    assert got == {2: "b", 4: "d"}
    # range restriction composes with the bare-key path
    got = pmanifest_lookup(spark, store, bare, hi=_d("2024-02-28"))
    assert {r.k for r in got.collect()} == {2}
    # nothing selected -> None
    assert pmanifest_lookup(spark, store, bare,
                            lo=_d("2030-01-01")) is None
    # the partition column is pinned at first commit
    with pytest.raises(ValueError, match="immutable"):
        pmanifest_merge(base, store, "val", ["k"], n_buckets=4)


# --------------- property: random partitioned batches vs a dict model

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PDAYS = [_d("2024-01-01"), _d("2024-02-01"), _d("2024-03-01")]

_pbatch_strategy = st.lists(
    st.lists(st.tuples(st.integers(0, 12),          # key (within partition)
                       st.integers(0, 2),           # partition index
                       st.integers(-50, 50),        # value
                       st.booleans()),              # tombstone
             min_size=0, max_size=8),
    min_size=1, max_size=4)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_pbatch_strategy)
def test_property_partitioned_upsert_matches_dict_model(
        spark, tmp_path_factory, batches):
    """Any sequence of partitioned upsert/delete batches drains to
    what a per-(partition, key) dict holds — the composed layer must
    not change the sub-store's upsert/tombstone semantics, and a
    full read must equal the union of the partitions.  Also checks
    range reads against the model filtered by partition."""
    store = str(tmp_path_factory.mktemp("pprop") / "pman")
    model: dict[tuple, int] = {}
    for e, rows in enumerate(batches):
        collapsed: dict[tuple, tuple] = {}
        for k, pi, v, dead in rows:
            collapsed[(k, _PDAYS[pi])] = (v, dead)  # last occurrence wins
        for (k, day), (v, dead) in collapsed.items():
            if dead:
                model.pop((k, day), None)
            else:
                model[(k, day)] = v
        batch = [(k, day, v, dead)
                 for (k, day), (v, dead) in collapsed.items()]
        df = spark.createDataFrame(
            batch or [(None, None, None, None)],
            "k int, day date, v int, dead boolean") \
            .filter(F.col("k").isNotNull())
        pmanifest_merge(df, store, "day", ["k"], epoch_id=e,
                        n_buckets=4, tombstone_col="dead")
    got_df = pmanifest_read(spark, store)
    got = {} if got_df is None else \
        {(r.k, r.day): r.v for r in got_df.collect()}
    assert got == model
    # range read == model filtered by partition value
    got_df = pmanifest_read(spark, store, lo=_PDAYS[1])
    got = {} if got_df is None else \
        {(r.k, r.day): r.v for r in got_df.collect()}
    assert got == {kd: v for kd, v in model.items()
                   if kd[1] >= _PDAYS[1]}


# ------------------------------- streaming rollup over a pmanifest store

def test_streaming_rollup_partitioned_manifest_equals_batch(
        spark, tables, tmp_path):
    """foreach_batch_rollup_upsert with
    store_partition_by=[time grain] lays the store out as value
    partitions over hash-bucketed sub-stores: the drained store must
    equal the one-shot rollup, a partition-range read must equal the
    filtered rollup, and a re-drain must not double-merge (per-
    partition epoch guard)."""
    import glob
    import shutil

    from wrangle_pypes_spark.operators import rollup_build, time_bucket
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    events = tables["events"].withColumn(
        "day", F.to_date(time_bucket(F.col("ts"), "day")))
    metrics = {"n": ("count", "*"), "sum_value": ("sum", "value")}

    src_dir = str(tmp_path / "psrc")
    for i, half in enumerate((events.filter(F.col("event_id") % 2 == 0),
                              events.filter(F.col("event_id") % 2 == 1))):
        half.coalesce(1).write.parquet(f"{src_dir}/h{i}")
    files = sorted(glob.glob(f"{src_dir}/h*/*.parquet"))
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    for i in range(2):
        shutil.rmtree(f"{src_dir}/h{i}")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir)
              .select("day", "event_type", "value"))
    store = str(tmp_path / "prollup")
    q = foreach_batch_rollup_upsert(
        stream, store, group_cols=["day", "event_type"],
        metrics=metrics,
        store_partition_by=["day"], store_buckets=4)
    q.awaitTermination()

    # layout: one sub-store per day
    days = sorted(r[0] for r in events.select("day").distinct().collect())
    assert sorted(p for p in os.listdir(store)
                  if p.startswith("p=")) == \
        [f"p={d.isoformat()}" for d in days]

    def _rows(df):
        return sorted((r.day, r.event_type, r.n,
                       round(r.sum_value, 6)) for r in df.collect())

    want = rollup_build(events, group_cols=["day", "event_type"],
                        metrics=metrics)
    assert _rows(pmanifest_read(spark, store)) == _rows(want)

    # partition-range read equals the filtered rollup
    mid = days[len(days) // 2]
    assert _rows(pmanifest_read(spark, store, lo=mid)) == \
        _rows(want.filter(F.col("day") >= F.lit(mid)))

    # byte-identical re-drain: per-partition guard skips every epoch
    with pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        q2 = foreach_batch_rollup_upsert(
            stream, store, group_cols=["day", "event_type"],
            metrics=metrics,
            store_partition_by=["day"], store_buckets=4)
    q2.awaitTermination()
    assert _rows(pmanifest_read(spark, store)) == _rows(want)


def test_streaming_cdc_partitioned_store_converges_and_lookups(
        spark, tmp_path):
    """foreach_batch_cdc_apply(store_partition_col='day'): out-of-order I/U/D batches converge
    to the one-shot latest image laid out one sub-store per day
    (partition value immutable per key — the stated contract),
    replay is a no-op (idempotent max_by, guard disabled on purpose),
    read_cdc_store detects the layout, and cdc_store_lookup
    double-prunes when the probes carry the day."""
    import glob
    import shutil

    from wrangle_pypes_spark.streaming import (cdc_store_lookup,
                                               foreach_batch_cdc_apply,
                                               read_cdc_store)

    d1, d2 = _d("2024-01-01"), _d("2024-02-01")
    batch_a = spark.createDataFrame(
        [(1, "U", 3, d1, "v3"), (2, "D", 5, d1, None),
         (3, "I", 1, d2, "c1")],
        "id int, op string, seq int, day date, val string")
    batch_b = spark.createDataFrame(
        [(1, "U", 2, d1, "v2"),    # stale: loses to applied seq 3
         (2, "U", 4, d1, "zomb"),  # stale update after delete seq 5
         (4, "I", 1, d2, "d1")],
        "id int, op string, seq int, day date, val string")
    src = str(tmp_path / "pcdc_src")
    for i, b in enumerate((batch_a, batch_b)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    store = str(tmp_path / "pcdc_store")

    def drain():
        stream = (spark.readStream.schema(batch_a.schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_cdc_apply(
            stream, store, key_cols=["id"], seq_col="seq",
            store_buckets=4, store_partition_col="day")
        q.awaitTermination()

    drain()
    assert sorted(p for p in os.listdir(store)
                  if p.startswith("p=")) == \
        ["p=2024-01-01", "p=2024-02-01"]
    cur = {r.id: (r.day, r.val)
           for r in read_cdc_store(spark, store).collect()}
    assert cur == {1: (d1, "v3"), 3: (d2, "c1"), 4: (d2, "d1")}

    before = sorted(map(tuple, read_cdc_store(spark, store).collect()))
    drain()  # full replay: idempotent, not skipped
    assert sorted(map(tuple,
                      read_cdc_store(spark, store).collect())) == before

    # double-pruned GET: probes carry the partition value
    probe = spark.createDataFrame([(1, d1), (2, d1), (3, d2)],
                                  "id int, day date")
    got = {r.id: r.val
           for r in cdc_store_lookup(spark, store, probe).collect()}
    assert got == {1: "v3", 3: "c1"}  # 2 tombstoned
    # bare-key probes still resolve (every partition probed)
    bare = spark.createDataFrame([(4,)], "id int")
    assert {r.id for r in
            cdc_store_lookup(spark, store, bare).collect()} == {4}

    # contract validations
    with pytest.raises(ValueError, match="payload column"):
        foreach_batch_cdc_apply(
            spark.readStream.schema(batch_a.schema)
            .format("parquet").load(src),
            store, key_cols=["id"], seq_col="seq",
            store_partition_col="id")


def test_streaming_keep_best_partitioned_equals_batch(spark, tmp_path):
    """foreach_batch_dedup_keep_best(store_partition_col='src'):
    fingerprints arrive across two micro-batches; the partitioned
    store equals the one-shot dedup_keep_best, laid out one sub-store
    per source, and a replay converges (idempotent max_by)."""
    import glob
    import shutil

    from wrangle_pypes_spark.operators.dedup import dedup_keep_best
    from wrangle_pypes_spark.streaming import foreach_batch_dedup_keep_best

    rows_a = [(1, "s1", 5, "x5"), (2, "s2", 3, "y3")]
    rows_b = [(1, "s1", 9, "x9"),   # better duplicate of fp 1
              (2, "s2", 1, "y1"),   # worse duplicate of fp 2
              (3, "s1", 2, "z2")]
    schema = "fp int, src string, score int, doc string"
    src_dir = str(tmp_path / "kb_src")
    for i, rows in enumerate((rows_a, rows_b)):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(f"{src_dir}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src_dir}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(f"{src_dir}/0"), shutil.rmtree(f"{src_dir}/1")

    store = str(tmp_path / "kb_store")

    def drain():
        stream = (spark.readStream.schema(
            spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src_dir))
        q = foreach_batch_dedup_keep_best(
            stream, store, key_cols=["fp"],
            order_cols=[F.col("score")],
            store_buckets=4, store_partition_col="src")
        q.awaitTermination()

    drain()
    assert sorted(p for p in os.listdir(store)
                  if p.startswith("p=")) == ["p=s1", "p=s2"]
    want = sorted(map(tuple, dedup_keep_best(
        spark.createDataFrame(rows_a + rows_b, schema),
        ["fp"], [F.col("score")]).collect()))
    got = sorted(map(tuple, pmanifest_read(spark, store).collect()))
    assert got == want
    drain()  # replay converges
    assert sorted(map(tuple,
                      pmanifest_read(spark, store).collect())) == want


def test_cdc_vacuum_sweeps_manifest_and_partitioned_stores(
        spark, tmp_path):
    """cdc_vacuum detects the store layout: on a manifest store it
    merges tombstone deletes for exactly the expired keys (only their
    buckets rewrite, epoch preserved); on a partitioned store it
    sweeps each sub-store, leaving partitions without expired
    tombstones untouched.  Tombstones at or above the horizon stay —
    dropping them early would re-open the resurrection window."""
    from wrangle_pypes_spark.operators.cdc import cdc_vacuum
    from wrangle_pypes_spark.sources.manifest import (manifest_current,
                                                      manifest_merge,
                                                      manifest_read)

    # ---- flat manifest store with old + fresh tombstones
    store = str(tmp_path / "vman")
    img = spark.createDataFrame(
        [(1, "a", 10, False), (2, None, 3, True),   # expired tombstone
         (3, None, 20, True),                       # fresh tombstone
         (4, "d", 5, False)],
        "id int, val string, _cdc_seq int, _cdc_deleted boolean")
    manifest_merge(img, store, ["id"], epoch_id=7, n_buckets=4)
    assert cdc_vacuum(spark, store, min_seq=15) == 1
    left = {r.id: r._cdc_deleted
            for r in manifest_read(spark, store).collect()}
    assert left == {1: False, 3: True, 4: False}  # only key 2 swept
    assert manifest_current(store)[1] == 7  # epoch preserved
    assert cdc_vacuum(spark, store, min_seq=15) == 0  # idempotent

    # ---- partitioned store: only the partition with expired dead keys
    pstore = str(tmp_path / "vpman")
    pimg = spark.createDataFrame(
        [(1, _d("2024-01-01"), 2, True),    # expired, Jan
         (2, _d("2024-02-01"), 9, False)],  # live, Feb
        "id int, day date, _cdc_seq int, _cdc_deleted boolean")
    pmanifest_merge(pimg, pstore, "day", ["id"], epoch_id=3,
                    n_buckets=2)
    feb_v_before = manifest_current(
        os.path.join(pstore, "p=2024-02-01"))[0]
    assert cdc_vacuum(spark, pstore, min_seq=5) == 1
    assert {r.id for r in
            pmanifest_read(spark, pstore).collect()} == {2}
    # the clean partition committed nothing new
    assert manifest_current(
        os.path.join(pstore, "p=2024-02-01"))[0] == feb_v_before


def test_rollup_partition_col_must_be_group_col(spark, tables, tmp_path):
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    stream = (spark.readStream.schema(tables["events"].schema)
              .format("parquet").load(str(tmp_path)))
    with pytest.raises(ValueError, match="must be one of the group"):
        foreach_batch_rollup_upsert(
            stream, str(tmp_path / "s"), group_cols=["event_type"],
            metrics={"n": ("count", "*")},
            store_partition_by=["day"])
    with pytest.raises(ValueError, match="exactly one partition"):
        foreach_batch_rollup_upsert(
            stream, str(tmp_path / "s"), group_cols=["a", "b"],
            metrics={"n": ("count", "*")},
            store_partition_by=["a", "b"])


# -------------------------------------------------- change data feed

def test_pchanges_epoch_diff_and_replay_invariant(spark, tmp_path):
    from wrangle_pypes_spark.sources.partitioned import pmanifest_changes

    store = str(tmp_path / "pcdf")
    # epoch 0: two days
    pmanifest_merge(_rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-01-01"), "b"),
        (3, _d("2024-01-02"), "c")]), store, "day", ["k"], epoch_id=0)
    # epoch 1: update day-1, delete one day-1 key, new day-3 partition
    upd = spark.createDataFrame(
        [(1, _d("2024-01-01"), "A", False),
         (2, _d("2024-01-01"), None, True),
         (9, _d("2024-01-03"), "z", False)],
        "k int, day date, val string, dead boolean")
    pmanifest_merge(upd, store, "day", ["k"], epoch_id=1,
                    tombstone_col="dead")

    feed = pmanifest_changes(spark, store, from_epoch=0)
    got = {(r.k, r.change_op) for r in feed.collect()}
    assert got == {(1, "update"), (2, "delete"), (9, "insert")}
    # untouched day-2 contributed nothing (skipped driver-side)
    assert all(r.day != _d("2024-01-02") for r in feed.collect())

    # replay invariant: as-of(0) + feed == as-of(1) key-wise
    base = _kv(spark, store, epoch=0)
    for r in feed.collect():
        if r.change_op == "delete":
            base.pop(r.k)
        else:
            base[r.k] = (r.day, r.val)
    assert base == _kv(spark, store, epoch=1)

    # bootstrap: from before the first epoch, everything is an insert
    boot = pmanifest_changes(spark, store, from_epoch=-1, to_epoch=0)
    assert sorted((r.k, r.change_op) for r in boot.collect()) == \
        [(1, "insert"), (2, "insert"), (3, "insert")]

    # same epoch twice: nothing selected changed -> None (no feeds)
    assert pmanifest_changes(spark, store, from_epoch=1) is None


def test_pchanges_partition_prune_and_validation(spark, tmp_path):
    from wrangle_pypes_spark.sources.partitioned import pmanifest_changes

    store = str(tmp_path / "pcdf2")
    pmanifest_merge(_rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0)
    upd = _rows(spark, [(1, _d("2024-01-01"), "A"),
                        (2, _d("2024-02-01"), "B")])
    pmanifest_merge(upd, store, "day", ["k"], epoch_id=1)

    # range prune: only January's feed
    feed = pmanifest_changes(spark, store, from_epoch=0,
                             lo=_d("2024-01-01"), hi=_d("2024-01-31"))
    assert [(r.k, r.change_op) for r in feed.collect()] == \
        [(1, "update")]

    with pytest.raises(ValueError, match="from_epoch"):
        pmanifest_changes(spark, store, from_epoch=2, to_epoch=1)
    # nothing committed at all
    assert pmanifest_changes(spark, str(tmp_path / "nope"),
                             from_epoch=0) is None


# -------------------------------------------------- MERGE INTO

def test_pmerge_into_routes_clauses_per_partition(spark, tmp_path):
    from wrangle_pypes_spark.sources.partitioned import \
        pmanifest_merge_into

    store = str(tmp_path / "pmi")
    pmanifest_merge(_rows(spark, [
        (1, _d("2024-01-01"), "a"), (2, _d("2024-01-01"), "b"),
        (3, _d("2024-01-02"), "c")]), store, "day", ["k"], epoch_id=0)

    src = spark.createDataFrame(
        [(1, _d("2024-01-01"), "DEL"),   # delete clause fires
         (2, _d("2024-01-01"), "B2"),    # update
         (9, _d("2024-01-02"), "new")],  # insert (existing partition)
        "k int, day date, val string")
    out = pmanifest_merge_into(
        src, store, epoch_id=1,
        when_matched_delete=F.col("val") == "DEL",
        when_matched_update={"val": F.upper(F.col("val"))})
    assert set(out) == {"2024-01-01", "2024-01-02"}

    got = _kv(spark, store)
    assert 1 not in got
    assert got[2] == (_d("2024-01-01"), "B2")
    assert got[3] == (_d("2024-01-02"), "c")   # untouched carries
    assert got[9] == (_d("2024-01-02"), "new")

    # a source partition with no committed sub-store refuses loudly
    import pytest as _pt
    bad = spark.createDataFrame([(5, _d("2024-03-01"), "x")],
                                "k int, day date, val string")
    with _pt.raises(ValueError, match="no\ncommitted sub-store"
                    .replace("\n", " ")):
        pmanifest_merge_into(bad, store)
    with _pt.raises(ValueError, match="bootstrap"):
        pmanifest_merge_into(src, str(tmp_path / "none"))


def test_pchanges_refuses_vacuumed_bootstrap(spark, tmp_path):
    """An all-inserts bootstrap is only sound when version 1 is still
    retained; once the pre-epoch versions are vacuumed the as-of
    state is unknowable and the feed must refuse, not fabricate."""
    from wrangle_pypes_spark.sources.partitioned import (
        pmanifest_changes, pmanifest_vacuum)

    store = str(tmp_path / "pv")
    for e in range(3):
        pmanifest_merge(
            _rows(spark, [(e * 10, _d("2024-01-01"), f"v{e}")]),
            store, "day", ["k"], epoch_id=e)
    # before vacuum: bootstrap from pre-history is provably sound
    assert pmanifest_changes(spark, store, from_epoch=-1,
                             to_epoch=0).count() == 1
    pmanifest_vacuum(store, keep=1)  # only version 3 retained
    with pytest.raises(ValueError, match="retained version window"):
        pmanifest_changes(spark, store, from_epoch=-1)
    # diffing between RETAINED states still works: epoch 2 == head,
    # no commits between -> no feeds -> None by contract
    assert pmanifest_changes(spark, store, from_epoch=2) is None


def test_asof_read_refuses_vacuumed_epoch(spark, tmp_path):
    """pmanifest_read(epoch=) inherits the same proof rule: a
    partition whose pre-epoch versions were vacuumed must raise, not
    silently read as absent-at-E."""
    from wrangle_pypes_spark.sources.partitioned import pmanifest_vacuum

    store = str(tmp_path / "pae")
    for e in range(3):
        pmanifest_merge(
            _rows(spark, [(e, _d("2024-01-01"), f"v{e}")]),
            store, "day", ["k"], epoch_id=e)
    assert _kv(spark, store, epoch=0) == {0: (_d("2024-01-01"), "v0")}
    pmanifest_vacuum(store, keep=1)
    with pytest.raises(ValueError, match="retained version window"):
        pmanifest_read(spark, store, epoch=0)
    # the retained head still reads
    assert len(_kv(spark, store, epoch=2)) == 3


# ----------------------------------------------------- root pointer

def test_root_pointer_mid_batch_crash_reader_sees_old_view(
        spark, tmp_path, monkeypatch):
    """VERDICT r8 #3: batch atomicity via the root pointer.  A crash
    after SOME partitions' sub-commits but before the root publish
    must leave every reader on the OLD consistent view of EVERY
    partition; the replay converges and publishes the batch."""
    from wrangle_pypes_spark.sources import manifest as man_mod
    from wrangle_pypes_spark.sources.partitioned import (
        pmanifest_lookup, root_current)

    store = str(tmp_path / "root")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    v0 = _kv(spark, store)
    root0 = root_current(store)
    assert root0 is not None and root0[1] == 0

    # crash injection: first partition's sub-commit lands, then boom
    real_merge = man_mod.manifest_merge
    calls = {"n": 0}

    def _flaky(updates, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-batch")
        return real_merge(updates, path, *a, **kw)

    import wrangle_pypes_spark.sources.partitioned as p_mod
    monkeypatch.setattr(p_mod._m, "manifest_merge", _flaky)
    with pytest.raises(RuntimeError, match="injected"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "A2"),
                          (2, _d("2024-02-01"), "B2")]),
            store, "day", ["k"], epoch_id=1, n_buckets=2,
            max_concurrency=1)
    monkeypatch.setattr(p_mod._m, "manifest_merge", real_merge)

    # the Jan sub-store HAS a staged commit...
    assert manifest_current(os.path.join(store, "p=2024-01-01"))[1] == 1
    # ...but every reader still sees the OLD consistent view
    assert root_current(store) == root0
    assert _kv(spark, store) == v0
    probe = spark.createDataFrame([(1,), (2,)], "k int")
    got = {r.k: r.val
           for r in pmanifest_lookup(spark, store, probe).collect()}
    assert got == {1: "a", 2: "b"}
    parts = {r.partition: (r.version, r.epoch)
             for r in pmanifest_partitions(spark, store).collect()}
    assert parts == {"2024-01-01": (1, 0), "2024-02-01": (1, 0)}
    # as-of the crashed epoch: still the old view, not a torn one
    assert _kv(spark, store, epoch=1) == v0

    # replay: Jan guard-skips, Feb commits, root publishes the batch
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "A2"),
                      (2, _d("2024-02-01"), "B2")]),
        store, "day", ["k"], epoch_id=1, n_buckets=2,
        max_concurrency=1)
    assert root_current(store)[1] == 1
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "A2"),
                                 2: (_d("2024-02-01"), "B2")}


def test_root_vacuum_keeps_referenced_versions(spark, tmp_path,
                                               monkeypatch):
    """Two reader guarantees under vacuum: (1) a partition untouched
    for many root commits keeps its old-but-still-referenced version
    past a keep=1 window; (2) a crash-staged sub commit does not let
    vacuum reclaim the root-referenced version under the reader."""
    from wrangle_pypes_spark.sources import manifest as man_mod
    import wrangle_pypes_spark.sources.partitioned as p_mod

    store = str(tmp_path / "vac")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    # many commits touching ONLY Jan; Feb's v1 stays referenced
    for e in range(1, 4):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), f"a{e}")]),
            store, "day", ["k"], epoch_id=e, n_buckets=2,
            max_concurrency=1)
    pmanifest_vacuum(store, keep=1)
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "a3"),
                                 2: (_d("2024-02-01"), "b")}

    # crash-staged Jan commit, then vacuum keep=1: the staged head
    # must not evict the root-referenced version from under readers
    real_merge = man_mod.manifest_merge
    calls = {"n": 0}

    def _flaky(updates, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("boom")
        return real_merge(updates, path, *a, **kw)

    monkeypatch.setattr(p_mod._m, "manifest_merge", _flaky)
    with pytest.raises(RuntimeError, match="boom"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "a4"),
                          (2, _d("2024-02-01"), "b4")]),
            store, "day", ["k"], epoch_id=4, n_buckets=2,
            max_concurrency=1)
    monkeypatch.setattr(p_mod._m, "manifest_merge", real_merge)
    pmanifest_vacuum(store, keep=1)
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "a3"),
                                 2: (_d("2024-02-01"), "b")}
    # replay heals and the vacuumed store serves the new batch
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a4"),
                      (2, _d("2024-02-01"), "b4")]),
        store, "day", ["k"], epoch_id=4, n_buckets=2,
        max_concurrency=1)
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "a4"),
                                 2: (_d("2024-02-01"), "b4")}


def test_legacy_store_without_root_reads_heads_then_upgrades(
        spark, tmp_path):
    """A pre-root (r8) store has no _rptr.json: readers fall back to
    each sub-store's head; the next merge publishes a root covering
    ALL partitions, not just the touched one."""
    import glob

    from wrangle_pypes_spark.sources.partitioned import root_current

    store = str(tmp_path / "legacy")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    # strip the root layer: what an r8-written store looks like
    for f in glob.glob(os.path.join(store, "_r*.json")):
        os.remove(f)
    os.remove(os.path.join(store, "_rptr.json")) \
        if os.path.exists(os.path.join(store, "_rptr.json")) else None
    assert root_current(store) is None
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "a"),
                                 2: (_d("2024-02-01"), "b")}
    # next merge (touching only Jan) publishes a root naming BOTH
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a2")]),
        store, "day", ["k"], epoch_id=1, n_buckets=2,
        max_concurrency=1)
    root = root_current(store)
    assert root is not None
    from wrangle_pypes_spark.sources.partitioned import _load_root
    assert set(_load_root(store, root[0])["parts"]) == \
        {"2024-01-01", "2024-02-01"}
    assert _kv(spark, store) == {1: (_d("2024-01-01"), "a2"),
                                 2: (_d("2024-02-01"), "b")}


def test_root_history_and_version_asof_read(spark, tmp_path):
    """pmanifest_history lists retained root commits; root_version=
    reads the exact cross-partition snapshot each one named."""
    from wrangle_pypes_spark.sources.partitioned import pmanifest_history

    store = str(tmp_path / "hist")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2)
    pmanifest_merge(
        _rows(spark, [(2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=1, n_buckets=2)
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a2")]),
        store, "day", ["k"], epoch_id=2, n_buckets=2)

    h = {r.version: (r.epoch, r.n_partitions, r.is_head)
         for r in pmanifest_history(spark, store).collect()}
    assert h == {1: (0, 1, False), 2: (1, 2, False), 3: (2, 2, True)}
    assert _kv(spark, store, root_version=1) == \
        {1: (_d("2024-01-01"), "a")}
    assert _kv(spark, store, root_version=2) == \
        {1: (_d("2024-01-01"), "a"), 2: (_d("2024-02-01"), "b")}
    assert _kv(spark, store, root_version=3) == _kv(spark, store)

    with pytest.raises(ValueError, match="never committed"):
        pmanifest_read(spark, store, root_version=9)
    with pytest.raises(ValueError, match="not both"):
        pmanifest_read(spark, store, root_version=1, epoch=0)
    # vacuum shrinks the travelable window, loudly
    pmanifest_vacuum(store, keep=1)
    assert sorted(r.version for r in
                  pmanifest_history(spark, store).collect()) == [3]
    with pytest.raises(ValueError, match="retained window"):
        pmanifest_read(spark, store, root_version=1)
    assert pmanifest_history(spark, str(tmp_path / "none")) is None


def test_root_pointer_vacuum_reader_soak(spark, tmp_path):
    """Partitioned twin of the flat store's vacuum soak, one level up:
    a maintainer loop committing many epochs across skewed partitions
    (one hot, one cold) with a vacuum cadence keeps root manifests
    bounded by keep, a current reader always sees a whole consistent
    store, a reader pinned to an old ROOT version works exactly until
    the keep horizon passes it, and the cold partition's old-but-
    root-referenced sub version survives every vacuum."""
    import glob as _glob

    from wrangle_pypes_spark.sources.partitioned import (
        pmanifest_history, pmanifest_lookup)

    store = str(tmp_path / "root_soak")
    keep, vacuum_every = 2, 4
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "h0"),
                      (2, _d("2024-02-01"), "cold")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    pinned = None  # (root version, expected hot value)
    for e in range(1, 14):
        # only the HOT partition commits; the cold one's sub version
        # stays referenced by every new root
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), f"h{e}")]),
            store, "day", ["k"], epoch_id=e, n_buckets=2,
            max_concurrency=1)
        from wrangle_pypes_spark.sources.partitioned import root_current
        ver = root_current(store)[0]
        if pinned is None and e == 4:
            pinned = (ver, f"h{e}")
        got = _kv(spark, store)
        assert got == {1: (_d("2024-01-01"), f"h{e}"),
                       2: (_d("2024-02-01"), "cold")}
        probe = spark.createDataFrame([(1,), (2,)], "k int")
        lk = {r.k: r.val for r in
              pmanifest_lookup(spark, store, probe).collect()}
        assert lk == {1: f"h{e}", 2: "cold"}
        if pinned is not None and ver - keep < pinned[0] <= ver:
            old = _kv(spark, store, root_version=pinned[0])
            assert old == {1: (_d("2024-01-01"), pinned[1]),
                           2: (_d("2024-02-01"), "cold")}
            oldlk = {r.k: r.val for r in
                     pmanifest_lookup(spark, store, probe,
                                      root_version=pinned[0])
                     .collect()}
            assert oldlk == {1: pinned[1], 2: "cold"}
        if e % vacuum_every == 0:
            pmanifest_vacuum(store, keep=keep)
            roots = _glob.glob(os.path.join(store, "_r0*.json"))
            assert len(roots) <= keep
            hist = sorted(r.version for r in
                          pmanifest_history(spark, store).collect())
            assert len(hist) <= keep and hist[-1] == ver
            got = _kv(spark, store)
            assert got[1] == (_d("2024-01-01"), f"h{e}")
            assert got[2] == (_d("2024-02-01"), "cold")
    # pinned root long past the horizon now
    with pytest.raises(ValueError, match="retained window"):
        pmanifest_read(spark, store, root_version=pinned[0])
    # cold sub-store was never rewritten: still at version 1, alive
    assert manifest_current(os.path.join(store, "p=2024-02-01"))[0] == 1


def test_unreplayed_crashed_batch_stays_invisible(spark, tmp_path,
                                                  monkeypatch):
    """ADVICE r10: a batch crashes after SOME sub-commits and is never
    replayed.  A later merge to OTHER partitions (and a rebucket)
    must not sweep the crashed batch's staging into the published
    view — the old from-heads root publish did exactly that."""
    import warnings as _warnings

    from wrangle_pypes_spark.sources import manifest as man_mod
    from wrangle_pypes_spark.sources.partitioned import (
        _root_parts, pmanifest_rebucket, root_current)

    store = str(tmp_path / "ghost")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    v0 = _kv(spark, store)

    # epoch 1 crashes after Jan's sub-commit, before Feb's
    real_merge = man_mod.manifest_merge
    calls = {"n": 0}

    def _flaky(updates, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-batch")
        return real_merge(updates, path, *a, **kw)

    import wrangle_pypes_spark.sources.partitioned as p_mod
    monkeypatch.setattr(p_mod._m, "manifest_merge", _flaky)
    with pytest.raises(RuntimeError, match="injected"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "GHOST"),
                          (2, _d("2024-02-01"), "GHOST")]),
            store, "day", ["k"], epoch_id=1, n_buckets=2,
            max_concurrency=1)
    monkeypatch.setattr(p_mod._m, "manifest_merge", real_merge)
    assert manifest_current(os.path.join(store, "p=2024-01-01"))[1] == 1

    # epoch 2: an UNRELATED merge to March only — the crashed Jan
    # staging must stay invisible, at head publish it leaked here
    pmanifest_merge(
        _rows(spark, [(3, _d("2024-03-01"), "c")]),
        store, "day", ["k"], epoch_id=2, n_buckets=2,
        max_concurrency=1)
    expect = dict(v0)
    expect[3] = (_d("2024-03-01"), "c")
    assert _kv(spark, store) == expect
    assert _root_parts(store)["2024-01-01"] == 1  # pinned pre-crash
    assert root_current(store)[1] == 2

    # rebucket must not rewrite-and-publish the staged head either:
    # the staged partition is skipped loudly, the rest rebucket
    # (same count — layout is irrelevant here, the skip is the point)
    with pytest.warns(UserWarning, match="staged sub-commits"):
        out = pmanifest_rebucket(spark, store, 2)
    assert "2024-01-01" not in out and "2024-03-01" in out
    assert _kv(spark, store) == expect

    # a LATER batch into the staged partition refuses by default
    # (r11: the staged-head residual is now a loud error, not a
    # silent adopt) ...
    with pytest.raises(RuntimeError, match="staged sub-commits"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "A3"),
                          (2, _d("2024-02-01"), "B3")]),
            store, "day", ["k"], epoch_id=3, n_buckets=2,
            max_concurrency=1)
    # ... and on_staged='adopt' keeps the pre-r11 behavior: build on
    # the staged head and publish it, loudly
    with pytest.warns(UserWarning, match="on_staged='adopt'"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "A3"),
                          (2, _d("2024-02-01"), "B3")]),
            store, "day", ["k"], epoch_id=3, n_buckets=2,
            max_concurrency=1, on_staged="adopt")
    got = _kv(spark, store)
    assert got[1] == (_d("2024-01-01"), "A3")
    assert got[2] == (_d("2024-02-01"), "B3")


def _crash_after_first_subcommit(monkeypatch):
    """Monkeypatch manifest_merge to die after its first call in the
    NEXT pmanifest_merge — the canonical mid-batch crash."""
    from wrangle_pypes_spark.sources import manifest as man_mod
    import wrangle_pypes_spark.sources.partitioned as p_mod

    real_merge = man_mod.manifest_merge
    calls = {"n": 0}

    def _flaky(updates, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash mid-batch")
        return real_merge(updates, path, *a, **kw)

    monkeypatch.setattr(p_mod._m, "manifest_merge", _flaky)
    return lambda: monkeypatch.setattr(p_mod._m, "manifest_merge",
                                       real_merge)


def test_staged_head_rollback_discards_orphan_rows(spark, tmp_path,
                                                   monkeypatch):
    """r11 (VERDICT r10 #3): crash batch N after its Jan sub-commit,
    never replay it, run batch N+1 into the SAME partition — the
    orphan's rows must never become root-visible.  Default refuses
    (covered in the unreplayed-crash test); on_staged='rollback'
    heals by discarding the staging and merging on committed state."""
    from wrangle_pypes_spark.sources.partitioned import _root_parts

    store = str(tmp_path / "heal")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)

    # epoch 1: key 9 (GHOST) into Jan commits, Feb crashes — Jan's
    # sub head is now staged (v2) above the root (v1), never replayed
    restore = _crash_after_first_subcommit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        pmanifest_merge(
            _rows(spark, [(9, _d("2024-01-01"), "GHOST"),
                          (2, _d("2024-02-01"), "GHOST")]),
            store, "day", ["k"], epoch_id=1, n_buckets=2,
            max_concurrency=1)
    restore()
    assert manifest_current(os.path.join(store, "p=2024-01-01")) == (2, 1)

    # batch 2 into Jan with rollback: the staging is discarded, the
    # merge builds on the committed v1, and GHOST never appears
    with pytest.warns(UserWarning, match="rolled partition"):
        pmanifest_merge(
            _rows(spark, [(1, _d("2024-01-01"), "A2")]),
            store, "day", ["k"], epoch_id=2, n_buckets=2,
            max_concurrency=1, on_staged="rollback")
    got = _kv(spark, store)
    assert got[1] == (_d("2024-01-01"), "A2")
    assert 9 not in got, "orphan rows became visible"
    # the rolled-back sub re-committed on top of the orphan's number
    sub = os.path.join(store, "p=2024-01-01")
    assert manifest_current(sub) == (3, 2)
    assert _root_parts(store)["2024-01-01"] == 3
    # and a full un-pruned read agrees (no torn view anywhere)
    assert _kv(spark, store)[2] == (_d("2024-02-01"), "b")


def test_staged_new_partition_rollback_deletes_substore(
        spark, tmp_path, monkeypatch):
    """A crashed batch that CREATED a partition (no root entry at all)
    leaves a whole staged sub-store; rollback has no committed version
    to return to, so the heal deletes the sub-store and merges fresh."""
    store = str(tmp_path / "newpart")
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "a")]),
                    store, "day", ["k"], epoch_id=0, n_buckets=2,
                    max_concurrency=1)
    # epoch 1 touches ONLY the new Feb partition and crashes at the
    # root publish: Feb's sub-store exists with a commit the root
    # never names
    import wrangle_pypes_spark.sources.partitioned as p_mod

    real_pub = p_mod._publish_root_from_heads

    def _boom(*a, **kw):
        raise RuntimeError("injected crash before root publish")

    monkeypatch.setattr(p_mod, "_publish_root_from_heads", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        pmanifest_merge(_rows(spark, [(7, _d("2024-02-01"), "GHOST")]),
                        store, "day", ["k"], epoch_id=1, n_buckets=2,
                        max_concurrency=1)
    monkeypatch.setattr(p_mod, "_publish_root_from_heads", real_pub)
    # Feb exists on disk but the root never named it: invisible
    assert manifest_current(os.path.join(store, "p=2024-02-01")) == (1, 1)
    assert 7 not in _kv(spark, store)

    # a later batch into Feb: default refuses, rollback deletes the
    # orphan sub-store and commits fresh
    with pytest.raises(RuntimeError, match="staged sub-commits"):
        pmanifest_merge(_rows(spark, [(8, _d("2024-02-01"), "real")]),
                        store, "day", ["k"], epoch_id=2, n_buckets=2,
                        max_concurrency=1)
    with pytest.warns(UserWarning):
        pmanifest_merge(_rows(spark, [(8, _d("2024-02-01"), "real")]),
                        store, "day", ["k"], epoch_id=2, n_buckets=2,
                        max_concurrency=1, on_staged="rollback")
    got = _kv(spark, store)
    assert got[8] == (_d("2024-02-01"), "real") and 7 not in got
    assert manifest_current(os.path.join(store, "p=2024-02-01")) == (1, 2)


def test_older_epoch_replay_never_publishes_newer_staging(
        spark, tmp_path, monkeypatch):
    """ADVICE r11 (partitioned.py:455): the epoch guard used to treat
    cur_epoch >= epoch_id as committed-BY-THIS-BATCH and advance the
    partition's root entry to its head — so replaying an OLDER batch
    against a partition whose head is a NEWER crashed batch's staging
    published that staging.  Now only cur_epoch == epoch_id counts."""
    from wrangle_pypes_spark.sources.partitioned import _root_parts

    store = str(tmp_path / "older")
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "a")]),
                    store, "day", ["k"], epoch_id=0, n_buckets=2,
                    max_concurrency=1)
    # epoch 5 stages Jan (crash at root publish), never replayed
    import wrangle_pypes_spark.sources.partitioned as p_mod

    real_pub = p_mod._publish_root_from_heads
    monkeypatch.setattr(
        p_mod, "_publish_root_from_heads",
        lambda *a, **kw: (_ for _ in ()).throw(
            RuntimeError("injected crash before root publish")))
    with pytest.raises(RuntimeError, match="injected"):
        pmanifest_merge(_rows(spark, [(9, _d("2024-01-01"), "GHOST")]),
                        store, "day", ["k"], epoch_id=5, n_buckets=2,
                        max_concurrency=1)
    monkeypatch.setattr(p_mod, "_publish_root_from_heads", real_pub)
    assert _root_parts(store)["2024-01-01"] == 1  # staging invisible

    # an OLDER epoch replays against Jan (no-checkpoint restart):
    # guard-skips (nothing to apply) AND must not advance the root
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "OLD")]),
                    store, "day", ["k"], epoch_id=3, n_buckets=2,
                    max_concurrency=1)
    assert _root_parts(store)["2024-01-01"] == 1
    got = _kv(spark, store)
    assert got[1] == (_d("2024-01-01"), "a") and 9 not in got


def test_pmanifest_staged_and_bulk_heal(spark, tmp_path, monkeypatch):
    """r11 ops surface: pmanifest_staged lists exactly the partitions
    whose sub head the committed root doesn't name;
    pmanifest_heal_staged bulk-discards (rollback) or publishes
    (adopt) them so merges stop refusing."""
    from wrangle_pypes_spark.sources.partitioned import (
        _root_parts, pmanifest_heal_staged, pmanifest_staged)

    store = str(tmp_path / "ops")
    pmanifest_merge(
        _rows(spark, [(1, _d("2024-01-01"), "a"),
                      (2, _d("2024-02-01"), "b")]),
        store, "day", ["k"], epoch_id=0, n_buckets=2,
        max_concurrency=1)
    st = pmanifest_staged(spark, store)
    assert st.count() == 0  # clean store

    # crash epoch 1 before the root publish: Jan staged (v2 over
    # root v1) AND a brand-new March partition staged (no root entry)
    import wrangle_pypes_spark.sources.partitioned as p_mod

    real_pub = p_mod._publish_root_from_heads
    monkeypatch.setattr(
        p_mod, "_publish_root_from_heads",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        pmanifest_merge(
            _rows(spark, [(9, _d("2024-01-01"), "GHOST"),
                          (7, _d("2024-03-01"), "GHOST")]),
            store, "day", ["k"], epoch_id=1, n_buckets=2,
            max_concurrency=1)
    monkeypatch.setattr(p_mod, "_publish_root_from_heads", real_pub)

    st = {r.partition: (r.head_version, r.head_epoch, r.root_version)
          for r in pmanifest_staged(spark, store).collect()}
    assert st == {"2024-01-01": (2, 1, 1), "2024-03-01": (1, 1, None)}

    # rollback heal: Jan back to v1, March's sub-store deleted whole
    healed = pmanifest_heal_staged(store, mode="rollback")
    assert healed == {"2024-01-01": 1, "2024-03-01": 0}
    assert pmanifest_staged(spark, store).count() == 0
    got = _kv(spark, store)
    assert 9 not in got and 7 not in got
    assert not os.path.isdir(os.path.join(store, "p=2024-03-01"))
    # and merges into the healed partition work again (no refusal)
    pmanifest_merge(_rows(spark, [(1, _d("2024-01-01"), "A2")]),
                    store, "day", ["k"], epoch_id=2, n_buckets=2,
                    max_concurrency=1)
    assert _kv(spark, store)[1] == (_d("2024-01-01"), "A2")

    # adopt heal on a fresh staging: the orphan rows become visible
    monkeypatch.setattr(
        p_mod, "_publish_root_from_heads",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        pmanifest_merge(
            _rows(spark, [(8, _d("2024-02-01"), "adopted")]),
            store, "day", ["k"], epoch_id=3, n_buckets=2,
            max_concurrency=1)
    monkeypatch.setattr(p_mod, "_publish_root_from_heads", real_pub)
    healed = pmanifest_heal_staged(store, mode="adopt")
    assert list(healed) == ["2024-02-01"]
    assert pmanifest_staged(spark, store).count() == 0
    assert _kv(spark, store)[8] == (_d("2024-02-01"), "adopted")
    assert _root_parts(store)["2024-02-01"] == healed["2024-02-01"]
    with pytest.raises(ValueError, match="rollback"):
        pmanifest_heal_staged(store, mode="nope")
