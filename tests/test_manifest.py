"""Bucketed copy-on-write manifest store: file-level delta commits
with an atomic pointer (sources/manifest.py) — O(touched buckets) per
merge instead of an O(store) full rewrite."""

import json
import os

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.sources.manifest import (
    manifest_current, manifest_merge, manifest_read, manifest_vacuum)

BUCKETS = 8


def _man(store, version):
    with open(os.path.join(store, f"_m{version:06d}.json")) as f:
        return json.load(f)


def _kv(spark, store):
    return {r.k: r.val for r in manifest_read(spark, store).collect()}


def test_merge_read_roundtrip_and_upsert_semantics(spark, tmp_path):
    store = str(tmp_path / "man")
    assert manifest_read(spark, store) is None
    assert manifest_current(store) is None

    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                                 "k int, val string")
    v1 = manifest_merge(base, store, ["k"], epoch_id=0,
                        n_buckets=BUCKETS)
    assert v1 == 1 and manifest_current(store) == (1, 0)
    assert _kv(spark, store) == {i: f"v{i}" for i in range(20)}

    upd = spark.createDataFrame(
        [(3, "NEW", False), (100, "x", False), (5, None, True)],
        "k int, val string, dead boolean")
    v2 = manifest_merge(upd, store, ["k"], epoch_id=1,
                        n_buckets=BUCKETS, tombstone_col="dead")
    assert v2 == 2 and manifest_current(store) == (2, 1)
    got = _kv(spark, store)
    assert got[3] == "NEW" and got[100] == "x" and 5 not in got
    assert len(got) == 20  # 20 - 1 deleted + 1 inserted


def test_untouched_buckets_carry_over_by_reference(spark, tmp_path):
    """The whole point of the format: a merge rewrites ONLY the buckets
    its keys hash into — every other bucket's manifest entry (and so
    its files) is carried over verbatim from the previous version."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i * 10) for i in range(200)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    manifest_merge(
        spark.createDataFrame([(7, -1)], "k int, val int"),
        store, ["k"], epoch_id=1, n_buckets=BUCKETS)
    m1, m2 = _man(store, 1), _man(store, 2)
    changed = [b for b in m2["buckets"]
               if m1["buckets"].get(b) != m2["buckets"][b]]
    assert len(changed) == 1  # exactly the one bucket k=7 hashes into
    carried = [b for b in m2["buckets"]
               if m1["buckets"].get(b) == m2["buckets"][b]]
    assert len(carried) == len(m1["buckets"]) - 1
    # carried entries still point into v000001's directory tree
    assert all(m2["buckets"][b].startswith("data/v000001/")
               for b in carried)
    assert _kv(spark, store) == {
        **{i: i * 10 for i in range(200)}, 7: -1}


def test_additive_mode_equals_batch_sum(spark, tmp_path):
    store = str(tmp_path / "man_add")
    batches = [
        [("a", 1.0), ("b", 2.0), ("a", 3.0)],
        [("a", 10.0), ("c", 5.0)],
        [("b", -2.0), ("c", 0.5)],
    ]
    for e, rows in enumerate(batches):
        manifest_merge(
            spark.createDataFrame(rows, "g string, s double"),
            store, ["g"], epoch_id=e, mode="additive",
            value_cols=["s"], n_buckets=4)
    got = {r.g: r.s for r in manifest_read(spark, store).collect()}
    assert got == {"a": 14.0, "b": 0.0, "c": 5.5}


def test_crashed_commit_is_invisible_and_never_reused(spark, tmp_path):
    """Crash after data write (and even after manifest write) but
    before the pointer: readers see the old store, the epoch is
    unchanged so the batch replays exactly once, and the recovery
    commit skips the orphan's version number."""
    store = str(tmp_path / "man")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    # crashed commit: data dir AND manifest for v2 exist, pointer says 1
    spark.range(9).write.parquet(os.path.join(store, "data/v000002/bkt=0"))
    with open(os.path.join(store, "_m000002.json"), "w") as f:
        json.dump({"version": 2, "epoch": 1, "n_buckets": BUCKETS,
                   "key_cols": ["k"], "hash": "xxhash64",
                   "buckets": {"0": "data/v000002/bkt=0"}}, f)
    assert manifest_current(store) == (1, 0)
    assert _kv(spark, store) == {1: "a"}
    # recovery (the replayed batch) must not collide with the orphan
    v = manifest_merge(
        spark.createDataFrame([(2, "b")], "k int, val string"),
        store, ["k"], epoch_id=1, n_buckets=BUCKETS)
    assert v == 3
    assert _kv(spark, store) == {1: "a", 2: "b"}
    # vacuum removes the orphan manifest + its unreferenced data dir
    manifest_vacuum(store, keep=1)
    assert not os.path.exists(os.path.join(store, "_m000002.json"))
    assert not os.path.exists(os.path.join(store, "data/v000002"))
    assert _kv(spark, store) == {1: "a", 2: "b"}


def test_torn_pointer_reads_as_uncommitted(spark, tmp_path):
    store = str(tmp_path / "man")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=5, n_buckets=BUCKETS)
    with open(os.path.join(store, "_ptr.json"), "w") as f:
        f.write('{"vers')
    assert manifest_current(store) is None
    assert manifest_read(spark, store) is None


def test_vacuum_keeps_referenced_old_version_dirs(spark, tmp_path):
    """The difference from a full-snapshot vacuum: an OLD version's
    bucket directory stays alive as long as the committed manifest
    still references it — only unreferenced directories go."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i) for i in range(200)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    for e in range(1, 4):  # three single-key merges, same key
        manifest_merge(
            spark.createDataFrame([(7, -e)], "k int, val int"),
            store, ["k"], epoch_id=e, n_buckets=BUCKETS)
    removed = manifest_vacuum(store, keep=1)
    assert removed > 0
    # v000001 still holds the 7 untouched buckets -> must survive
    assert os.path.exists(os.path.join(store, "data/v000001"))
    # superseded rewrites of k=7's bucket (v2, v3) are gone
    assert not os.path.exists(os.path.join(store, "data/v000002"))
    assert not os.path.exists(os.path.join(store, "data/v000003"))
    got = _kv(spark, store)
    assert got[7] == -3 and len(got) == 200
    assert manifest_vacuum(store, keep=1) == 0  # idempotent
    with pytest.raises(ValueError):
        manifest_vacuum(store, keep=0)


def test_empty_batch_still_advances_epoch(spark, tmp_path):
    store = str(tmp_path / "man")
    df = spark.createDataFrame([(1, "a")], "k int, val string")
    manifest_merge(df, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    v = manifest_merge(df.filter(F.lit(False)), store, ["k"],
                       epoch_id=1, n_buckets=BUCKETS)
    assert manifest_current(store) == (v, 1)  # replay guard advances
    assert _kv(spark, store) == {1: "a"}


def test_deleting_every_key_in_a_bucket_drops_its_entry(spark, tmp_path):
    store = str(tmp_path / "man")
    df = spark.createDataFrame([(1, "a")], "k int, val string")
    manifest_merge(df, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    manifest_merge(
        spark.createDataFrame([(1, None, True)],
                              "k int, val string, dead boolean"),
        store, ["k"], epoch_id=1, n_buckets=BUCKETS,
        tombstone_col="dead")
    assert _man(store, 2)["buckets"] == {}
    assert manifest_read(spark, store) is None  # empty store


def test_time_travel_reads_retained_versions(spark, tmp_path):
    """Manifests and data dirs are immutable, so any version inside
    the vacuum window reads exactly as committed; versions newer than
    the pointer (crash orphans) are refused."""
    store = str(tmp_path / "man")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    manifest_merge(spark.createDataFrame([(1, "b"), (2, "c")],
                                         "k int, val string"),
                   store, ["k"], epoch_id=1, n_buckets=BUCKETS)
    as_of_1 = {r.k: r.val for r in
               manifest_read(spark, store, version=1).collect()}
    assert as_of_1 == {1: "a"}
    assert _kv(spark, store) == {1: "b", 2: "c"}
    with pytest.raises(ValueError, match="never committed"):
        manifest_read(spark, store, version=3)
    manifest_vacuum(store, keep=1)
    with pytest.raises(FileNotFoundError):
        manifest_read(spark, store, version=1)  # outside keep window


def test_rebucket_preserves_content_and_changes_layout(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_rebucket

    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i * 2) for i in range(100)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=7, n_buckets=4)
    v = manifest_rebucket(spark, store, 16)
    assert manifest_current(store) == (v, 7)  # epoch unchanged
    assert _man(store, v)["n_buckets"] == 16
    assert {r.k: r.val for r in manifest_read(spark, store).collect()} \
        == {i: i * 2 for i in range(100)}
    # merges keep working under the new layout (old count now rejected)
    with pytest.raises(ValueError, match="n_buckets"):
        manifest_merge(base, store, ["k"], n_buckets=4)
    manifest_merge(spark.createDataFrame([(5, -1)], "k int, val int"),
                   store, ["k"], epoch_id=8, n_buckets=16)
    got = {r.k: r.val for r in manifest_read(spark, store).collect()}
    assert got[5] == -1 and len(got) == 100
    manifest_vacuum(store, keep=1)
    assert not os.path.exists(os.path.join(store, "data/v000001"))
    assert len({r.k for r in manifest_read(spark, store).collect()}) \
        == 100


def test_stats_reports_buckets_and_versions(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_stats

    store = str(tmp_path / "man")
    assert manifest_stats(spark, store) is None
    base = spark.createDataFrame([(i, i) for i in range(100)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=4)
    manifest_merge(spark.createDataFrame([(7, -1)], "k int, val int"),
                   store, ["k"], epoch_id=1, n_buckets=4)
    st = manifest_stats(spark, store)
    got = {r.bucket: (r.rows, r.written_version, r.files)
           for r in st.collect()}
    assert sum(r for r, _, _ in got.values()) == 100
    # exactly one bucket was rewritten at version 2 (and re-compacted)
    assert sorted(v for _, v, _ in got.values()).count(2) == 1
    assert all(f >= 1 for _, _, f in got.values())
    assert st.filter(F.col("bytes") <= 0).count() == 0


def test_additive_schema_evolution(spark, tmp_path):
    """evolve_schema=True widens the store: the new column lands in
    the rewritten buckets' files and the manifest's recorded schema;
    buckets not yet rewritten null-fill it on read.  Off by default —
    drift fails loudly."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(50)],
                                 "k int, val string")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    widened = spark.createDataFrame([(3, "NEW", 0.9)],
                                    "k int, val string, score double")
    # default: loud failure on drift
    with pytest.raises(Exception):
        manifest_merge(widened, store, ["k"], epoch_id=1,
                       n_buckets=BUCKETS)
    v = manifest_merge(widened, store, ["k"], epoch_id=1,
                       n_buckets=BUCKETS, evolve_schema=True)
    got = manifest_read(spark, store)
    assert set(got.columns) == {"k", "val", "score"}
    rows = {r.k: (r.val, r.score) for r in got.collect()}
    assert rows[3] == ("NEW", 0.9)
    assert rows[7] == ("v7", None)  # untouched bucket null-fills
    assert len(rows) == 50
    # the widened schema is recorded in the manifest, so later merges
    # of OLD-shaped updates must also opt in (their rows null-fill)
    with pytest.raises(Exception):
        manifest_merge(spark.createDataFrame([(9, "x")],
                                             "k int, val string"),
                       store, ["k"], epoch_id=2, n_buckets=BUCKETS)
    manifest_merge(spark.createDataFrame([(9, "x")],
                                         "k int, val string"),
                   store, ["k"], epoch_id=2, n_buckets=BUCKETS,
                   evolve_schema=True)
    rows = {r.k: (r.val, r.score)
            for r in manifest_read(spark, store).collect()}
    assert rows[9] == ("x", None) and rows[3] == ("NEW", 0.9)
    with pytest.raises(ValueError, match="upsert mode only"):
        manifest_merge(widened, store, ["k"], mode="additive",
                       value_cols=["score"], evolve_schema=True,
                       n_buckets=BUCKETS)


def test_validation_errors(spark, tmp_path):
    store = str(tmp_path / "man")
    df = spark.createDataFrame([(1, "a")], "k int, val string")
    manifest_merge(df, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        manifest_merge(df, store, ["k"], n_buckets=BUCKETS * 2)
    with pytest.raises(ValueError, match="keyed by"):
        manifest_merge(df, store, ["val"], n_buckets=BUCKETS)
    with pytest.raises(ValueError, match="key columns"):
        manifest_merge(df.drop("k"), str(tmp_path / "x"), ["k"])
    with pytest.raises(ValueError, match="reserved"):
        manifest_merge(df.withColumn("bkt", F.lit(1)),
                       str(tmp_path / "x"), ["k"])
    with pytest.raises(ValueError, match="mode"):
        manifest_merge(df, str(tmp_path / "x"), ["k"], mode="merge")
    with pytest.raises(ValueError, match="value_cols"):
        manifest_merge(df, str(tmp_path / "x"), ["k"], mode="additive")
    with pytest.raises(ValueError, match="non-empty"):
        manifest_merge(df, str(tmp_path / "x"), [])
    with pytest.raises(ValueError, match="merge_fn result"):
        manifest_merge(df, str(tmp_path / "x"), ["k"],
                       merge_fn=lambda stored, upd: upd.drop("k"))


# --- the streaming rollup maintainer on the manifest store ----------

def _two_file_stream(spark, events, tmp_path):
    import glob
    import shutil

    src_dir = str(tmp_path / "stream_src")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1) \
        .write.parquet(src_dir + "/a")
    events.filter(F.col("event_id") % 2 == 1).coalesce(1) \
        .write.parquet(src_dir + "/b")
    files = [f for d in ("a", "b")
             for f in glob.glob(f"{src_dir}/{d}/*.parquet")]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(src_dir + "/a"), shutil.rmtree(src_dir + "/b")
    return (spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src_dir)
            .select("bucket", "event_type", "value", "user_id"))


@pytest.fixture()
def events(spark, tables):
    from wrangle_pypes_spark.operators.rollup import time_bucket
    return tables["events"].withColumn("bucket",
                                       time_bucket(F.col("ts"), "hour"))


METRICS = {"n": ("count", "*"), "total": ("sum", "value")}


def _state(spark, store):
    return {(r.bucket, r.event_type): (r.n, round(r.total, 9))
            for r in manifest_read(spark, store).collect()}


def test_streaming_rollup_manifest_store_equals_batch_and_survives_crash(
        spark, events, tmp_path):
    """The manifest-backed rollup maintainer matches the one-shot
    rollup, skips re-delivered epochs, and recovers EXACTLY-ONCE from
    a crash between the data/manifest writes and the pointer publish —
    while rewriting only touched buckets per batch."""
    from wrangle_pypes_spark.operators.rollup import rollup_build
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    stream = _two_file_stream(spark, events, tmp_path)
    store = str(tmp_path / "rollup_man")
    q = foreach_batch_rollup_upsert(
        stream, store, group_cols=["bucket", "event_type"],
        metrics=METRICS, store_buckets=16)
    q.awaitTermination()

    want = {(r.bucket, r.event_type): (r.n, round(r.total, 9))
            for r in rollup_build(
                events, group_cols=["bucket", "event_type"],
                metrics=METRICS).collect()}
    assert _state(spark, store) == want

    # byte-identical re-drain: epochs <= committed epoch are skipped
    with pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        q2 = foreach_batch_rollup_upsert(
            stream, store, group_cols=["bucket", "event_type"],
            metrics=METRICS, store_buckets=16)
    q2.awaitTermination()
    assert _state(spark, store) == want

    # crash injection: data + manifest written, pointer never published
    ver, epoch = manifest_current(store)
    spark.range(1).write.parquet(
        os.path.join(store, f"data/v{ver + 1:06d}/bkt=0"))
    with open(os.path.join(store, f"_m{ver + 1:06d}.json"), "w") as f:
        json.dump({"version": ver + 1, "epoch": epoch + 1,
                   "n_buckets": 16, "key_cols": ["bucket", "event_type"],
                   "hash": "xxhash64",
                   "buckets": {"0": f"data/v{ver + 1:06d}/bkt=0"}}, f)
    with pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        q3 = foreach_batch_rollup_upsert(
            stream, store, group_cols=["bucket", "event_type"],
            metrics=METRICS, store_buckets=16)
    q3.awaitTermination()
    assert _state(spark, store) == want
    manifest_vacuum(store, keep=1)
    assert _state(spark, store) == want


def test_streaming_cdc_manifest_store_tombstones_replay_and_carryover(
        spark, tmp_path):
    """foreach_batch_cdc_apply on the manifest store: out-of-order
    I/U/D batches converge to the one-shot latest image, a late stale
    update cannot resurrect a tombstoned key, replaying the feed is a
    no-op, and batches rewrite only the buckets their keys hash into."""
    import glob
    import shutil

    from wrangle_pypes_spark.streaming import (foreach_batch_cdc_apply,
                                               read_cdc_store)

    batch_a = spark.createDataFrame(
        [(1, "U", 3, "v3"), (2, "D", 5, None), (3, "I", 1, "c1")],
        "id int, op string, seq int, val string")
    batch_b = spark.createDataFrame(
        [(1, "U", 2, "v2"),    # stale: loses to applied seq 3
         (2, "U", 4, "zomb"),  # stale update after delete seq 5
         (4, "I", 1, "d1")],
        "id int, op string, seq int, val string")
    src = str(tmp_path / "cdc_src")
    for i, b in enumerate((batch_a, batch_b)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    schema = batch_a.schema
    store = str(tmp_path / "cdc_man")

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_cdc_apply(stream, store, key_cols=["id"],
                                    seq_col="seq",
                                    store_buckets=BUCKETS)
        q.awaitTermination()

    drain()
    cur = {r.id: r.val for r in read_cdc_store(spark, store).collect()}
    assert cur == {1: "v3", 3: "c1", 4: "d1"}
    raw = {r.id: (r._cdc_seq, r._cdc_deleted)
           for r in manifest_read(spark, store).collect()}
    assert raw[2] == (5, True)  # tombstone retained with applied seq

    # batch 2 touched only the buckets ids {1, 2, 4} hash into — every
    # other bucket entry carried over from the batch-1 manifest
    m1, m2 = _man(store, 1), _man(store, 2)
    changed = {b for b in m2["buckets"]
               if m1["buckets"].get(b) != m2["buckets"][b]}
    assert 0 < len(changed) <= 3

    before = sorted(map(tuple,
                        manifest_read(spark, store).collect()))
    drain()  # at-least-once replay of the whole feed: max_by idempotent
    after = sorted(map(tuple, manifest_read(spark, store).collect()))
    assert before == after

    manifest_vacuum(store, keep=1)
    assert {r.id: r.val
            for r in read_cdc_store(spark, store).collect()} == cur


def test_streaming_scd2_manifest_store_equals_batch_and_replays(
        spark, tmp_path):
    """foreach_batch_scd2_merge on the manifest store: the drained
    bucketed dimension equals the one-shot scd2_build, replay is a
    no-op, and a key's whole version history lands in one bucket."""
    import glob
    import shutil

    from wrangle_pypes_spark.operators.scd import scd2_build
    from wrangle_pypes_spark.streaming import foreach_batch_scd2_merge

    obs = spark.createDataFrame(
        [(1, "a", 1), (1, "a", 2), (1, "b", 3), (1, "a", 5),
         (2, "x", 1), (2, "x", 4), (3, "q", 2), (3, "r", 6)],
        "id int, status string, t int").select(
        "id", "status", F.timestamp_seconds(F.col("t") * 3600).alias("ts"))
    # split by time so per-key ts order is non-decreasing across batches
    early = obs.filter(F.col("ts") < F.timestamp_seconds(F.lit(4 * 3600)))
    late = obs.filter(F.col("ts") >= F.timestamp_seconds(F.lit(4 * 3600)))
    src = str(tmp_path / "scd_src")
    for i, b in enumerate((early, late)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    dim = str(tmp_path / "scd_man")

    def drain():
        stream = (spark.readStream.schema(obs.schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_scd2_merge(stream, dim, key_cols=["id"],
                                     ts_col="ts", attr_cols=["status"],
                                     tiebreak_cols=["status"],
                                     store_buckets=BUCKETS)
        q.awaitTermination()

    drain()
    want = sorted(map(tuple, scd2_build(
        obs, key_cols=["id"], ts_col="ts", attr_cols=["status"],
        tiebreak_cols=["status"]).collect()))
    got_df = manifest_read(spark, dim)
    want_cols = [f.name for f in scd2_build(
        obs, key_cols=["id"], ts_col="ts", attr_cols=["status"],
        tiebreak_cols=["status"]).schema.fields]
    got = sorted(map(tuple, got_df.select(*want_cols).collect()))
    assert got == want

    drain()  # replay: already-applied observations change nothing
    assert sorted(map(tuple, manifest_read(spark, dim)
                      .select(*want_cols).collect())) == want

    # a key's version rows never straddle buckets
    man = _man(dim, manifest_current(dim)[0])
    ids_per_dir = {}
    for rel in man["buckets"].values():
        for r in spark.read.parquet(os.path.join(dim, rel)).collect():
            ids_per_dir.setdefault(r.id, set()).add(rel)
    assert all(len(dirs) == 1 for dirs in ids_per_dir.values())


def test_streaming_dedup_keep_best_manifest_store(spark, tmp_path):
    """foreach_batch_dedup_keep_best on the manifest store keeps the
    best row per fingerprint across batches, idempotent under replay."""
    import glob
    import shutil

    from wrangle_pypes_spark.streaming import foreach_batch_dedup_keep_best

    batch_a = spark.createDataFrame(
        [("f1", 1, 5), ("f2", 2, 3)], "fp string, doc int, score int")
    batch_b = spark.createDataFrame(
        [("f1", 3, 9), ("f3", 4, 1)], "fp string, doc int, score int")
    src = str(tmp_path / "ded_src")
    for i, b in enumerate((batch_a, batch_b)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    store = str(tmp_path / "ded_man")

    def drain():
        stream = (spark.readStream.schema(batch_a.schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_dedup_keep_best(
            stream, store, key_cols=["fp"],
            order_cols=[F.col("score"), F.col("doc")],
            store_buckets=BUCKETS)
        q.awaitTermination()

    drain()
    got = {r.fp: (r.doc, r.score)
           for r in manifest_read(spark, store).collect()}
    assert got == {"f1": (3, 9), "f2": (2, 3), "f3": (4, 1)}
    drain()  # replay no-op
    assert {r.fp: (r.doc, r.score)
            for r in manifest_read(spark, store).collect()} == got


def test_rollup_manifest_partition_by_routes_to_pmanifest(
        spark, events, tmp_path):
    """store_partition_by routes the rollup to the PARTITIONED
    manifest store — one sub-store
    per grain value.  The layout proves the routing; equivalence and
    guard semantics are pinned in tests/test_partitioned.py."""
    import os

    from wrangle_pypes_spark.operators.rollup import time_bucket
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    # week grain: a handful of sub-stores, not one per hour
    weekly = events.withColumn("bucket",
                               time_bucket(F.col("ts"), "week"))
    stream = _two_file_stream(spark, weekly, tmp_path)
    store = str(tmp_path / "proll")
    q = foreach_batch_rollup_upsert(
        stream, store, group_cols=["bucket", "event_type"],
        metrics=METRICS,
        store_partition_by=["bucket"], store_buckets=4)
    q.awaitTermination()
    parts = [p for p in os.listdir(store) if p.startswith("p=")]
    assert len(parts) > 1
    # each partition dir is a complete manifest sub-store
    assert os.path.exists(os.path.join(store, parts[0], "_ptr.json"))


# --- property: random batch sequences vs a dict model ----------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch_strategy = st.lists(
    st.lists(st.tuples(st.integers(0, 30),          # key
                       st.integers(-100, 100),      # value
                       st.booleans()),              # tombstone
             min_size=0, max_size=8),
    min_size=1, max_size=4)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_batch_strategy)
def test_property_upsert_matches_dict_model(spark, tmp_path_factory,
                                            batches):
    """Any sequence of upsert/delete batches drains to exactly what a
    per-key dict would hold: last batch to touch a key wins, a
    tombstone removes it.  Within a batch, keys are pre-collapsed to
    one row (the documented contract) keeping the LAST occurrence."""
    store = str(tmp_path_factory.mktemp("prop") / "man")
    model: dict[int, int] = {}
    for e, rows in enumerate(batches):
        collapsed: dict[int, tuple[int, bool]] = {}
        for k, v, dead in rows:
            collapsed[k] = (v, dead)     # last occurrence wins
        for k, (v, dead) in collapsed.items():
            if dead:
                model.pop(k, None)
            else:
                model[k] = v
        batch = [(k, v, dead) for k, (v, dead) in collapsed.items()]
        df = spark.createDataFrame(
            batch or [(None, None, None)],
            "k int, v int, dead boolean").filter(F.col("k").isNotNull())
        manifest_merge(df, store, ["k"], epoch_id=e, n_buckets=4,
                       tombstone_col="dead")
    got_df = manifest_read(spark, store)
    got = {} if got_df is None else \
        {r.k: r.v for r in got_df.collect()}
    assert got == model


def test_vacuum_never_touches_versions_above_pointer(spark, tmp_path):
    """A writer mid-commit stages data/vN + _mN.json with N above the
    committed pointer — byte-identical to a crash orphan.  Vacuum must
    leave BOTH alone (deleting them would let the in-flight pointer
    publish commit a manifest whose files are gone); the orphan is
    reclaimed only after a later commit supersedes its number."""
    store = str(tmp_path / "man")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    # in-flight commit: staging for v2 exists, pointer still at v1
    spark.range(5).write.parquet(os.path.join(store, "data/v000002/bkt=3"))
    with open(os.path.join(store, "_m000002.json"), "w") as f:
        json.dump({"version": 2, "epoch": 1, "n_buckets": BUCKETS,
                   "key_cols": ["k"], "hash": "xxhash64", "schema": None,
                   "buckets": {"3": "data/v000002/bkt=3"}}, f)
    manifest_vacuum(store, keep=1)
    assert os.path.exists(os.path.join(store, "data/v000002/bkt=3"))
    assert os.path.exists(os.path.join(store, "_m000002.json"))
    # had the writer published now, its staged commit would be intact;
    # instead it CRASHES (never publishes), making v2 a true orphan.
    # A later commit supersedes v2's number (commits never reuse one)
    # -> the pointer moves past it and NOW vacuum reclaims it.
    v = manifest_merge(
        spark.createDataFrame([(1, "b")], "k int, val string"),
        store, ["k"], epoch_id=1, n_buckets=BUCKETS)
    assert v == 3  # skipped the orphan's number
    manifest_vacuum(store, keep=1)
    assert not os.path.exists(os.path.join(store, "data/v000002"))
    assert not os.path.exists(os.path.join(store, "_m000002.json"))
    assert _kv(spark, store) == {1: "b"}


def test_vacuum_concurrent_reader_soak(spark, tmp_path):
    """Vacuum soak: a maintainer loop
    committing many epochs with a vacuum cadence keeps manifests
    bounded by keep, never breaks a current reader, and a reader
    pinned to an OLD version keeps working exactly until the keep
    horizon passes it."""
    import glob as _glob

    store = str(tmp_path / "man_soak")
    keep, vacuum_every = 2, 4
    base = spark.createDataFrame([(i, 0) for i in range(200)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    pinned = None  # (version, expected k=7 value)
    for e in range(1, 20):
        manifest_merge(
            spark.createDataFrame([(7, e)], "k int, val int"),
            store, ["k"], epoch_id=e, n_buckets=BUCKETS)
        ver = manifest_current(store)[0]
        if pinned is None and e == 5:
            pinned = (ver, e)
        # a concurrent current-version reader always sees a whole store
        got = _kv(spark, store)
        assert len(got) == 200 and got[7] == e
        if pinned is not None and ver - keep < pinned[0] <= ver:
            # still inside the keep window -> time travel works
            old = {r.k: r.val for r in
                   manifest_read(spark, store, version=pinned[0])
                   .collect()}
            assert old[7] == pinned[1]
        if e % vacuum_every == 0:
            manifest_vacuum(store, keep=keep)
            manifests = _glob.glob(os.path.join(store, "_m*.json"))
            assert len(manifests) <= keep
            got = _kv(spark, store)
            assert len(got) == 200 and got[7] == e
    # the pinned version is long past the horizon now
    with pytest.raises(FileNotFoundError):
        manifest_read(spark, store, version=pinned[0])
    # v1 still alive: it holds the buckets never rewritten since
    assert os.path.exists(os.path.join(store, "data/v000001"))


def test_merge_fn_out_of_bucket_rows_raise(spark, tmp_path):
    """The merge_fn contract (return rows only for the touched
    buckets) is a checked invariant: rows hashing elsewhere would be
    written but never referenced by the manifest — silent data loss.
    The bad commit must fail BEFORE the pointer publishes."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i) for i in range(50)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)

    def bad_merge(stored, updates):
        # injects keys 0..49 no matter which buckets the batch touched
        return base

    with pytest.raises(ValueError, match="touched bucket set"):
        manifest_merge(
            spark.createDataFrame([(7, -1)], "k int, val int"),
            store, ["k"], epoch_id=1, n_buckets=BUCKETS,
            merge_fn=bad_merge)
    # no commit was published; the store still reads as of epoch 0
    assert manifest_current(store) == (1, 0)
    assert _kv(spark, store) == {i: i for i in range(50)}
    # a lawful merge_fn is unaffected
    manifest_merge(
        spark.createDataFrame([(7, -1)], "k int, val int"),
        store, ["k"], epoch_id=1, n_buckets=BUCKETS,
        merge_fn=lambda stored, updates:
            stored.join(updates.select("k"), ["k"], "left_anti")
            .unionByName(updates))
    assert _kv(spark, store)[7] == -1


def test_rebucket_under_skew_from_stats(spark, tmp_path):
    """The operational loop manifest_stats is for: a store whose
    buckets grew uniformly oversized (outgrew n_buckets) is measured,
    rebucketed to a wider layout, and the stats confirm the rows
    spread while content is untouched."""
    from wrangle_pypes_spark.sources.manifest import (manifest_rebucket,
                                                      manifest_stats)

    store = str(tmp_path / "man")
    big = spark.createDataFrame([(i, i % 97) for i in range(4000)],
                                "k int, val int")
    manifest_merge(big, store, ["k"], epoch_id=0, n_buckets=2)
    st0 = {r.bucket: r.rows for r in manifest_stats(spark, store).collect()}
    assert sum(st0.values()) == 4000
    assert max(st0.values()) > 4000 // 4  # 2 buckets: each ~2000 rows
    v = manifest_rebucket(spark, store, 32)
    st1 = manifest_stats(spark, store)
    rows1 = {r.bucket: r.rows for r in st1.collect()}
    assert sum(rows1.values()) == 4000
    assert len(rows1) > 16  # spread across the new layout
    assert max(rows1.values()) < max(st0.values())  # skew reduced
    assert all(r.written_version == v for r in st1.collect())
    got = {r.k: r.val for r in manifest_read(spark, store).collect()}
    assert got == {i: i % 97 for i in range(4000)}


def test_cdc_manifest_mid_stream_schema_evolution(spark, tmp_path):
    """A CDC feed whose LATER batches carry a new payload column
    (schema-registry style topic evolution) widens the manifest store
    end-to-end through the maintainer: touched keys get the column,
    untouched keys null-fill it on read, and a late stale image
    without the column cannot clobber it (max_by keeps the winner)."""
    import glob as _glob
    import shutil

    from wrangle_pypes_spark.streaming import (foreach_batch_cdc_apply,
                                               read_cdc_store)

    def _drain(feed, store, **kw):
        src = str(tmp_path / f"src_{abs(hash(feed.schema.json())) % 997}")
        shutil.rmtree(src, ignore_errors=True)
        feed.coalesce(1).write.parquet(src)
        stream = (spark.readStream.schema(feed.schema)
                  .format("parquet").load(src))
        q = foreach_batch_cdc_apply(
            stream, store, key_cols=["k"], seq_col="seq",
            store_buckets=8, **kw)
        q.awaitTermination()

    store = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(i, "U", 1, f"v{i}") for i in range(20)],
        "k int, op string, seq int, val string")
    _drain(v1, store)

    # evolution OFF: a widened batch fails loudly at the union
    v2 = spark.createDataFrame(
        [(3, "U", 2, "NEW", 99), (100, "U", 2, "ins", 7)],
        "k int, op string, seq int, val string, extra int")
    with pytest.raises(Exception):
        _drain(v2, store)

    # evolution ON: the store widens additively
    _drain(v2, store, evolve_schema=True)
    got = {r.k: (r.val, r.extra)
           for r in read_cdc_store(spark, store).collect()}
    assert got[3] == ("NEW", 99) and got[100] == ("ins", 7)
    assert got[5] == ("v5", None)  # untouched bucket null-fills
    assert len(got) == 21

    # a LATE stale image without the column loses the max_by and the
    # widened row survives intact
    stale = spark.createDataFrame(
        [(3, "U", 1, "stale")], "k int, op string, seq int, val string")
    _drain(stale, store, evolve_schema=True)
    got = {r.k: (r.val, r.extra)
           for r in read_cdc_store(spark, store).collect()}
    assert got[3] == ("NEW", 99)


def test_concurrent_writer_detected_before_publish(spark, tmp_path):
    """Optimistic-concurrency guard: a second writer publishing
    between a merge's base read and its pointer publish makes the
    merge's base stale — publishing would silently erase the other
    writer's commit, so the merge must abort loudly, leaving the
    interloper's commit intact and only vacuumable orphans behind."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i) for i in range(20)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)

    def racing_merge(stored, updates):
        # driver-side side effect DURING the outer merge: another
        # writer lands a commit on the same store
        manifest_merge(
            updates.sparkSession.createDataFrame(
                [(7, -100)], "k int, val int"),
            store, ["k"], epoch_id=1, n_buckets=BUCKETS)
        if stored is None:
            return updates
        return stored.join(updates.select("k"), ["k"], "left_anti") \
            .unionByName(updates)

    with pytest.raises(RuntimeError, match="concurrent writer"):
        manifest_merge(
            spark.createDataFrame([(3, 999)], "k int, val int"),
            store, ["k"], epoch_id=2, n_buckets=BUCKETS,
            merge_fn=racing_merge)
    # the interloper's commit is the surviving head; the aborted
    # merge published nothing
    got = _kv(spark, store)
    assert got[7] == -100 and got.get(3) == 3
    # the store keeps working; orphans are reclaimed after the next
    # commit supersedes their version numbers
    manifest_merge(spark.createDataFrame([(3, 999)], "k int, val int"),
                   store, ["k"], epoch_id=2, n_buckets=BUCKETS)
    assert _kv(spark, store)[3] == 999
    manifest_vacuum(store, keep=1)
    assert _kv(spark, store)[3] == 999


def test_history_lists_exactly_the_travelable_versions(spark, tmp_path):
    """manifest_history rows == the versions manifest_read(version=)
    can serve: committed + retained only — staged/orphaned versions
    above the pointer and vacuumed versions below it are excluded."""
    from wrangle_pypes_spark.sources.manifest import manifest_history

    store = str(tmp_path / "man")
    assert manifest_history(spark, store) is None
    for e in range(3):
        manifest_merge(
            spark.createDataFrame([(7, e)], "k int, val int"),
            store, ["k"], epoch_id=e, n_buckets=BUCKETS)
    # a staged in-flight/orphan version above the pointer: not a commit
    with open(os.path.join(store, "_m000009.json"), "w") as f:
        json.dump({"version": 9, "epoch": 9, "n_buckets": BUCKETS,
                   "key_cols": ["k"], "hash": "xxhash64",
                   "schema": None, "buckets": {}}, f)
    h = {r.version: (r.epoch, r.is_head)
         for r in manifest_history(spark, store).collect()}
    assert h == {1: (0, False), 2: (1, False), 3: (2, True)}
    for v in h:
        assert manifest_read(spark, store, version=v) is not None
    os.remove(os.path.join(store, "_m000009.json"))
    manifest_vacuum(store, keep=2)
    h2 = sorted(r.version for r in manifest_history(spark, store).collect())
    assert h2 == [2, 3]  # the keep-window survivors, nothing else


_evolve_strategy = st.lists(
    st.tuples(
        st.booleans(),                               # batch carries x?
        st.lists(st.tuples(st.integers(0, 20),       # key
                           st.integers(-50, 50),     # value
                           st.integers(0, 9),        # x (if carried)
                           st.booleans()),           # tombstone
                 min_size=0, max_size=6)),
    min_size=1, max_size=4)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_evolve_strategy)
def test_property_evolve_schema_matches_dict_model(spark, tmp_path_factory,
                                                   batches):
    """Random batch sequences where only SOME batches carry the extra
    column: upsert under evolve_schema replaces the WHOLE image (a
    later batch without the column nulls it — last-writer-wins applies
    to the full row), keys never rewritten since the widening read
    back null, and the store always equals the dict model."""
    store = str(tmp_path_factory.mktemp("prop_ev") / "man")
    model: dict[int, tuple[int, object]] = {}
    for e, (has_x, rows) in enumerate(batches):
        collapsed: dict[int, tuple[int, object, bool]] = {}
        for k, v, x, dead in rows:
            collapsed[k] = (v, x if has_x else None, dead)
        for k, (v, x, dead) in collapsed.items():
            if dead:
                model.pop(k, None)
            else:
                model[k] = (v, x)
        if has_x:
            batch = [(k, v, x, dead)
                     for k, (v, x, dead) in collapsed.items()]
            schema = "k int, v int, x int, dead boolean"
        else:
            batch = [(k, v, dead)
                     for k, (v, _, dead) in collapsed.items()]
            schema = "k int, v int, dead boolean"
        df = spark.createDataFrame(batch, schema) if batch else \
            spark.createDataFrame([], schema)
        manifest_merge(df, store, ["k"], epoch_id=e, n_buckets=4,
                       tombstone_col="dead", evolve_schema=True)
    got_df = manifest_read(spark, store)
    if got_df is None:
        assert model == {}
        return
    cols = set(got_df.columns)
    got = {r.k: (r.v, r.x if "x" in cols else None)
           for r in got_df.collect()}
    assert got == model


def test_lookup_reads_only_touched_buckets(spark, tmp_path):
    """manifest_lookup == a keyed filter of the full store, but scans
    only the buckets the probe keys hash into; works across versions
    (time-travel) and respects the multi-column key."""
    store = str(tmp_path / "man")
    base = spark.createDataFrame([(i, i % 3, i * 10) for i in range(300)],
                                 "k int, g int, val int")
    manifest_merge(base, store, ["k", "g"], epoch_id=0, n_buckets=16)
    manifest_merge(
        spark.createDataFrame([(7, 1, -1)], "k int, g int, val int"),
        store, ["k", "g"], epoch_id=1, n_buckets=16)

    from wrangle_pypes_spark.sources.manifest import manifest_lookup
    probe = spark.createDataFrame(
        [(7, 1), (20, 2), (999, 0)], "k int, g int")
    got = {(r.k, r.g): r.val
           for r in manifest_lookup(spark, store, probe).collect()}
    assert got == {(7, 1): -1, (20, 2): 200}  # 999 absent
    # time-travel: version 1 predates the k=7 rewrite
    old = {(r.k, r.g): r.val
           for r in manifest_lookup(spark, store, probe,
                                    version=1).collect()}
    assert old[(7, 1)] == 70
    # the scan is pruned: the lookup's input files lie in at most
    # len(probe-buckets) bucket dirs
    import re as _re
    looked = manifest_lookup(spark, store, probe)
    dirs = {(_re.search(r"(data/v\d+/bkt=\d+)", f) or [None, None])[1]
            for f in looked.withColumn(
                "_f", F.input_file_name()).select("_f").distinct()
            .rdd.map(lambda r: r[0]).collect()}
    assert len(dirs) <= 3
    # validation: probe lacking a key column
    with pytest.raises(ValueError, match="key columns"):
        manifest_lookup(spark, store,
                        spark.createDataFrame([(1,)], "k int"))
    # empty store
    assert manifest_lookup(
        spark, str(tmp_path / "nope"), probe) is None


def test_cdc_store_lookup_hides_tombstones_and_prunes(spark, tmp_path):
    """The serving GET on a CDC manifest store: probed live keys
    return their current image, tombstoned keys are absent, and the
    swap-store case refuses (no bucket layout to prune)."""
    from wrangle_pypes_spark.streaming import (cdc_store_lookup,
                                               foreach_batch_cdc_apply)

    feed = spark.createDataFrame(
        [(1, "U", 1, "a"), (2, "U", 1, "b"), (3, "U", 1, "c"),
         (2, "D", 2, None), (3, "U", 2, "c2")],
        "k int, op string, seq int, val string")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    q = foreach_batch_cdc_apply(
        spark.readStream.schema(feed.schema).format("parquet").load(src),
        store, key_cols=["k"], seq_col="seq",
        store_buckets=8)
    q.awaitTermination()

    probe = spark.createDataFrame([(1,), (2,), (3,), (9,)], "k int")
    got = {r.k: r.val for r in
           cdc_store_lookup(spark, store, probe).collect()}
    assert got == {1: "a", 3: "c2"}  # 2 tombstoned, 9 never existed
    with pytest.raises(ValueError, match="manifest"):
        cdc_store_lookup(spark, str(tmp_path / "swapstore"), probe)


def test_schema_never_narrows_on_empty_bucket_batch(spark, tmp_path):
    """Regression (found by the property soak): a batch WITHOUT the
    evolved column whose keys land only in EMPTY buckets used to
    record `out`'s narrow schema in the manifest, silently hiding the
    widened column of every carried-over bucket.  The recorded schema
    must never narrow; and in strict mode the same drifted batch must
    fail loudly even though the strict union never fires (stored is
    None for an empty bucket)."""
    store = str(tmp_path / "man")
    manifest_merge(
        spark.createDataFrame([(1, 0, 0)], "k int, val int, x int"),
        store, ["k"], epoch_id=0, n_buckets=8)
    # key 0 hashes to a different (empty) bucket than key 1 at 8
    # buckets (pinned by the assertion below), and its batch lacks x
    narrow = spark.createDataFrame([(0, 0)], "k int, val int")
    b = lambda df: {r[0] for r in df.selectExpr(  # noqa: E731
        "pmod(xxhash64(k), 8)").distinct().collect()}
    assert b(narrow) != b(spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="schema drift"):
        manifest_merge(narrow, store, ["k"], epoch_id=1, n_buckets=8)
    manifest_merge(narrow, store, ["k"], epoch_id=1, n_buckets=8,
                   evolve_schema=True)
    got = {r.k: (r.val, r.x) for r in manifest_read(spark, store).collect()}
    assert got == {1: (0, 0), 0: (0, None)}  # x SURVIVES for key 1
    names = [f["name"] for f in
             _man(store, manifest_current(store)[0])["schema"]["fields"]]
    assert names == ["k", "val", "x"]


@pytest.mark.parametrize("seed", [101971533, 402457795, 7])
def test_cdc_random_feed_equals_latest_image_model(spark, tmp_path, seed):
    """Deterministic slice of the randomized CDC soak: random
    out-of-order I/U/D ops across random batch boundaries with
    mid-stream schema widening must equal the one-shot latest-image
    dict model — winner by max seq, delete removes, the winner's own
    batch decides whether it carries the widened column."""
    import random

    from wrangle_pypes_spark.streaming import (foreach_batch_cdc_apply,
                                               read_cdc_store)

    rng = random.Random(seed)
    events = []
    for k in range(rng.randint(1, 10)):
        for s in rng.sample(range(1, 50), rng.randint(0, 4)):
            events.append((k, rng.choice(["U", "U", "I", "D"]), s,
                           rng.randint(0, 99)))
    rng.shuffle(events)
    cut = sorted(rng.sample(range(len(events) + 1),
                            min(rng.randint(0, 2), len(events))))
    batches, prev = [], 0
    for c in cut + [len(events)]:
        batches.append(events[prev:c]); prev = c
    widen_from = rng.randint(0, len(batches))

    store = str(tmp_path / "state")
    for bi, batch in enumerate(batches):
        if bi >= widen_from:
            rows = [(k, op, s, v, v % 7) for k, op, s, v in batch]
            schema = "k int, op string, seq int, val int, x int"
        else:
            rows, schema = batch, "k int, op string, seq int, val int"
        feed = spark.createDataFrame(rows, schema) if rows else \
            spark.createDataFrame([], schema)
        src = str(tmp_path / f"src{bi}")
        feed.coalesce(1).write.parquet(src)
        q = foreach_batch_cdc_apply(
            spark.readStream.schema(feed.schema)
            .format("parquet").load(src),
            store, key_cols=["k"], seq_col="seq",
            store_buckets=4,
            evolve_schema=True)
        q.awaitTermination()

    win = {}
    for bi, batch in enumerate(batches):
        for k, op, s, v in batch:
            if k not in win or s > win[k][0]:
                win[k] = (s, op, v,
                          (v % 7) if bi >= widen_from else None)
    want = {k: (v, x) for k, (s, op, v, x) in win.items() if op != "D"}
    got = {}
    if events:
        out = read_cdc_store(spark, store)
        cols = set(out.columns)
        got = {r.k: (r.val, r.x if "x" in cols else None)
               for r in out.collect()}
    assert got == want


def test_lookup_all_probes_miss_returns_empty_not_none(spark, tmp_path):
    """Regression (self-audit): probe keys that hash only to EMPTY
    buckets must yield an empty DataFrame under the store schema, not
    None — cdc_store_lookup chains a filter on the result and would
    crash on None."""
    from wrangle_pypes_spark.sources.manifest import manifest_lookup
    from wrangle_pypes_spark.streaming import (cdc_store_lookup,
                                               foreach_batch_cdc_apply)

    store = str(tmp_path / "man")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=0, n_buckets=64)
    # find a probe key hashing to a DIFFERENT (empty) bucket than k=1
    probe_key = next(
        k for k in range(2, 200)
        if spark.sql(f"SELECT pmod(xxhash64({k}), 64) <> "
                     "pmod(xxhash64(1), 64)").first()[0])
    probe = spark.createDataFrame([(probe_key,)], "k int")
    out = manifest_lookup(spark, store, probe)
    assert out is not None and out.count() == 0
    assert set(out.columns) == {"k", "val"}

    # end-to-end: the CDC serving GET tolerates all-miss probes
    feed = spark.createDataFrame([(1, "U", 1, "a")],
                                 "k int, op string, seq int, val string")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)
    cstore = str(tmp_path / "cstore")
    q = foreach_batch_cdc_apply(
        spark.readStream.schema(feed.schema).format("parquet").load(src),
        cstore, key_cols=["k"], seq_col="seq",
        store_buckets=64)
    q.awaitTermination()
    assert cdc_store_lookup(spark, cstore, probe).count() == 0


# -------------------------------------------------- change data feed

def test_changes_classifies_insert_update_delete(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_changes

    store = str(tmp_path / "cdf")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(30)],
                                 "k int, val string")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    upd = spark.createDataFrame(
        [(3, "NEW", False), (100, "x", False), (5, None, True),
         (7, "v7", False)],  # 7 rewritten with the SAME value: no change
        "k int, val string, dead boolean")
    manifest_merge(upd, store, ["k"], epoch_id=1, n_buckets=BUCKETS,
                   tombstone_col="dead")

    ch = {r.k: (r.val, r.change_op)
          for r in manifest_changes(spark, store,
                                    from_version=1).collect()}
    assert ch == {3: ("NEW", "update"), 100: ("x", "insert"),
                  5: ("v5", "delete")}  # delete carries the PRE-image

    # from_version=0: the full to-side as inserts
    boot = manifest_changes(spark, store, from_version=0, to_version=1)
    assert sorted((r.k, r.change_op) for r in boot.collect()) == \
        [(i, "insert") for i in range(30)]

    # identical versions: empty feed
    assert manifest_changes(spark, store, from_version=2,
                            to_version=2).count() == 0

    # the CDF replays: v1 + changes == v2
    v1 = {r.k: r.val for r in
          manifest_read(spark, store, version=1).collect()}
    for k, (val, op) in ch.items():
        if op == "delete":
            v1.pop(k)
        else:
            v1[k] = val
    assert v1 == _kv(spark, store)


def test_changes_reads_only_rewritten_buckets(spark, tmp_path):
    """The pruning claim at the PLAN level: a one-key update against a
    many-bucket store diffs exactly one bucket directory per side."""
    from wrangle_pypes_spark.sources.manifest import manifest_changes

    store = str(tmp_path / "cdfp")
    base = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val"))
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=64)
    one = spark.createDataFrame([(77, -1)], "k bigint, val bigint")
    manifest_merge(one, store, ["k"], epoch_id=1, n_buckets=64)

    df = manifest_changes(spark, store, from_version=1)
    assert [(r.k, r.val, r.change_op) for r in df.collect()] == \
        [(77, -1, "update")]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both sides scan exactly one bucket directory: every file index
    # in the plan holds 1 path, never the store's 64
    import re
    counts = re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert len(counts) >= 2 and set(counts) == {"1"}


def test_changes_across_schema_evolution(spark, tmp_path):
    """A version-2 column: carried rows (null-filled on the old side)
    never report as changed; updated rows carry the new column."""
    from wrangle_pypes_spark.sources.manifest import manifest_changes

    store = str(tmp_path / "cdfe")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                 "k int, val string")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=4)
    upd = spark.createDataFrame([(3, "NEW", "extra3")],
                                "k int, val string, note string")
    manifest_merge(upd, store, ["k"], epoch_id=1, n_buckets=4,
                   evolve_schema=True)

    rows = manifest_changes(spark, store, from_version=1).collect()
    assert [(r.k, r.val, r.note, r.change_op) for r in rows] == \
        [(3, "NEW", "extra3", "update")]


def test_changes_after_rebucket_falls_back_to_full_compare(
        spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import (manifest_changes,
                                                      manifest_rebucket)

    store = str(tmp_path / "cdfr")
    base = spark.createDataFrame([(i, i) for i in range(50)],
                                 "k int, val int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=4)
    manifest_rebucket(spark, store, 16)  # v2: layout change, no data change
    upd = spark.createDataFrame([(9, -9)], "k int, val int")
    manifest_merge(upd, store, ["k"], epoch_id=1, n_buckets=16)  # v3

    # across the rebucket: layout noise must NOT read as data changes
    assert manifest_changes(spark, store, from_version=1,
                            to_version=2).count() == 0
    got = manifest_changes(spark, store, from_version=1).collect()
    assert [(r.k, r.val, r.change_op) for r in got] == \
        [(9, -9, "update")]


def test_changes_validation_and_vacuumed_versions(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_changes

    store = str(tmp_path / "cdfv")
    with pytest.raises(ValueError, match="nothing committed"):
        manifest_changes(spark, store, from_version=0)
    df = spark.createDataFrame([(1, 1)], "k int, val int")
    manifest_merge(df, store, ["k"], epoch_id=0, n_buckets=2)
    manifest_merge(spark.createDataFrame([(1, 2)], "k int, val int"),
                   store, ["k"], epoch_id=1, n_buckets=2)
    with pytest.raises(ValueError, match="from_version"):
        manifest_changes(spark, store, from_version=3)
    with pytest.raises(ValueError, match="from_version"):
        manifest_changes(spark, store, from_version=2, to_version=1)
    manifest_merge(spark.createDataFrame([(1, 3)], "k int, val int"),
                   store, ["k"], epoch_id=2, n_buckets=2)
    manifest_vacuum(store, keep=1)
    with pytest.raises(ValueError, match="retained"):
        manifest_changes(spark, store, from_version=1)


# -------------------------------------------------- MERGE INTO

def test_merge_into_clause_semantics(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_merge_into

    store = str(tmp_path / "mi")
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(20)],
        "k int, val string, qty int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=BUCKETS)

    src = spark.createDataFrame(
        [(3, "S3", 5),    # matched, qty<50 -> delete clause fires
         (7, "S7", 500),  # matched, qty>=50 -> update clause
         (99, "S99", 1),  # unmatched -> insert
         (11, "S11", 50)],  # matched, boundary: update
        "k int, val string, qty int")
    v = manifest_merge_into(
        src, store, epoch_id=1,
        when_matched_delete=F.col("qty") < 50,
        # update only val from the source; qty keeps the STORED value
        when_matched_update={"val": F.concat(F.col("_stored_val"),
                                             F.lit("+"),
                                             F.col("val"))})
    assert v == 2
    got = {r.k: (r.val, r.qty)
           for r in manifest_read(spark, store).collect()}
    assert 3 not in got                      # deleted
    assert got[7] == ("v7+S7", 70)           # updated val, stored qty
    assert got[11] == ("v11+S11", 110)
    assert got[99] == ("S99", 1)             # inserted as-is
    assert got[5] == ("v5", 50)              # untouched key carries
    assert len(got) == 20 - 1 + 1


def test_merge_into_legacy_preschema_empty_buckets(spark, tmp_path):
    """ADVICE r8: on a pre-schema legacy store (manifest 'schema':
    None) whose probed buckets are all empty, manifest_lookup returns
    None and merge_into crashed with AttributeError('NoneType').  The
    matched clauses are vacuous there; inserts must still work."""
    from wrangle_pypes_spark.sources.manifest import manifest_merge_into

    store = str(tmp_path / "legacy")
    manifest_merge(spark.createDataFrame([(1, "a")], "k int, val string"),
                   store, ["k"], epoch_id=0, n_buckets=BUCKETS)
    # rewrite the head manifest as the pre-schema format with no
    # surviving buckets (what an old writer's empty store looks like)
    with open(os.path.join(store, "_m000001.json")) as f:
        man = json.load(f)
    man["schema"] = None
    man["buckets"] = {}
    with open(os.path.join(store, "_m000001.json"), "w") as f:
        json.dump(man, f)

    src = spark.createDataFrame([(2, "b")], "k int, val string")
    v = manifest_merge_into(
        src, store, epoch_id=1,
        when_matched_update={"val": F.col("val")})
    assert v == 2
    got = {r.k: r.val for r in manifest_read(spark, store).collect()}
    assert got == {2: "b"}  # insert path; no AttributeError


def test_merge_into_insert_disabled_and_no_update_clause(
        spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_merge_into

    store = str(tmp_path / "mi2")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k int, qty int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=4)

    # delete-only MERGE: matched non-deleted and unmatched rows are
    # no-ops
    src = spark.createDataFrame([(1, 0), (2, 99), (3, 7)],
                                "k int, qty int")
    manifest_merge_into(src, store, epoch_id=1,
                        when_matched_delete=F.col("qty") == 0,
                        when_not_matched_insert=False)
    got = {r.k: r.qty for r in manifest_read(spark, store).collect()}
    assert got == {2: 20}  # 1 deleted, 2 untouched (no update clause),
    #                        3 NOT inserted


def test_merge_into_validation(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import manifest_merge_into

    store = str(tmp_path / "mi3")
    src = spark.createDataFrame([(1, 1)], "k int, qty int")
    with pytest.raises(ValueError, match="bootstrap"):
        manifest_merge_into(src, store)
    manifest_merge(src, store, ["k"], epoch_id=0, n_buckets=2)
    with pytest.raises(ValueError, match="no clauses"):
        manifest_merge_into(src, store, when_not_matched_insert=False)
    with pytest.raises(ValueError, match="key columns"):
        manifest_merge_into(
            spark.createDataFrame([(1,)], "x int"), store)
    with pytest.raises(ValueError, match="updatable columns"):
        manifest_merge_into(src, store,
                            when_matched_update={"k": F.lit(9)})
    with pytest.raises(ValueError, match="lacks store columns"):
        manifest_merge_into(
            spark.createDataFrame([(1,)], "k int"), store)
    # key-only source is fine when inserts are off
    manifest_merge_into(spark.createDataFrame([(1,)], "k int"), store,
                        when_matched_delete=F.lit(True),
                        when_not_matched_insert=False)
    assert manifest_read(spark, store) is None  # single key deleted


def test_cdc_quarantine_dead_letter_path(spark, tmp_path):
    """quarantine_path diverts contract-violating CDC rows (unknown
    op, null key, null seq) to a tagged dead-letter table while the
    clean rows apply; default behavior (fail-loud) is untouched."""
    from wrangle_pypes_spark.streaming.windows import (
        foreach_batch_cdc_apply, read_cdc_store)

    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, "I", 1, "a"), (2, "I", 1, "b"),
         (2, "X", 2, "bad-op"),          # unknown op
         (None, "U", 3, "bad-key"),      # null key
         (1, "U", None, "bad-seq"),      # null seq
         (1, "U", 4, "A")],              # clean late update
        "k int, op string, seq int, val string") \
        .coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    quar = str(tmp_path / "quarantine")
    stream = (spark.readStream
              .schema("k int, op string, seq int, val string")
              .parquet(src))
    q = foreach_batch_cdc_apply(
        stream, store, key_cols=["k"], seq_col="seq",
        store_buckets=4,
        quarantine_path=quar,
        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {r.k: r.val for r in read_cdc_store(spark, store).collect()}
    assert got == {1: "A", 2: "b"}  # clean rows applied, bad ignored

    bad = spark.read.parquet(quar)
    reasons = {(r.k, r._quarantine_reason) for r in bad.collect()}
    assert reasons == {(2, "unknown_op"), (None, "null_key"),
                       (1, "null_seq")}
    assert all(r._quarantine_epoch >= 0 for r in bad.collect())


@pytest.mark.parametrize("seed", [7, 23])
def test_property_merge_into_matches_dict_model(spark, tmp_path_factory,
                                                seed):
    """Randomized MERGE INTO rounds vs an in-process dict model: the
    clause semantics (delete-first, partial update with stored
    fallback, optional insert) must agree with the obvious
    interpretation for any interleaving."""
    import random

    from wrangle_pypes_spark.sources.manifest import manifest_merge_into

    rng = random.Random(seed)
    store = str(tmp_path_factory.mktemp("pmi") / "store")
    model = {k: (k % 5, k * 10) for k in range(30)}
    base = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in model.items()],
        "k int, a int, b int")
    manifest_merge(base, store, ["k"], epoch_id=0, n_buckets=4)

    for rnd in range(4):
        n = rng.randint(1, 12)
        src_rows = [(rng.randint(0, 45), rng.randint(0, 9),
                     rng.randint(0, 99)) for _ in range(n)]
        # one row per key per batch (the documented contract)
        src_rows = list({r[0]: r for r in src_rows}.values())
        mod = rng.randint(2, 5)
        insert = rng.random() < 0.7
        src = spark.createDataFrame(src_rows, "k int, a int, b int")
        manifest_merge_into(
            src, store, epoch_id=rnd + 1,
            when_matched_delete=F.col("a") % mod == 0,
            # a updates from source; b = stored + source
            when_matched_update={"a": F.col("a"),
                                 "b": F.col("_stored_b")
                                 + F.col("b")},
            when_not_matched_insert=insert)
        for k, a, b in src_rows:
            if k in model:
                if a % mod == 0:
                    del model[k]
                else:
                    model[k] = (a, model[k][1] + b)
            elif insert:
                model[k] = (a, b)
        got = {r.k: (r.a, r.b)
               for r in manifest_read(spark, store).collect()} \
            if manifest_read(spark, store) is not None else {}
        assert got == model, f"diverged at round {rnd}"


def test_changes_and_merge_into_reserved_name_guards(spark, tmp_path):
    from wrangle_pypes_spark.sources.manifest import (manifest_changes,
                                                      manifest_merge_into)

    store = str(tmp_path / "rg")
    df = spark.createDataFrame([(1, "x")], "k int, change_op string")
    manifest_merge(df, store, ["k"], epoch_id=0, n_buckets=2)
    manifest_merge(spark.createDataFrame([(1, "y")],
                                         "k int, change_op string"),
                   store, ["k"], epoch_id=1, n_buckets=2)
    with pytest.raises(ValueError, match="collides with a stored"):
        manifest_changes(spark, store, from_version=1)
    # a different op_col name works
    assert manifest_changes(spark, store, from_version=1,
                            op_col="cdc_op").count() == 1

    with pytest.raises(ValueError, match="reserved names"):
        manifest_merge_into(
            spark.createDataFrame([(1, "y", True)],
                                  "k int, change_op string, "
                                  "_mi_dead boolean"),
            store)


def test_manifest_rollback_restores_version_and_epoch(spark, tmp_path):
    """r11: manifest_rollback swings the pointer back to a retained
    version (epoch included); orphans above refuse to serve; a new
    merge after rollback commits above the orphan numbers."""
    from wrangle_pypes_spark.sources.manifest import manifest_rollback

    store = str(tmp_path / "rb")
    for i, val in enumerate(["a", "b", "c"]):
        manifest_merge(
            spark.createDataFrame([(1, val)], "k int, val string"),
            store, ["k"], epoch_id=i, n_buckets=BUCKETS)
    assert manifest_current(store) == (3, 2)
    manifest_rollback(store, 1)
    assert manifest_current(store) == (1, 0)
    assert _kv(spark, store) == {1: "a"}
    # no-op rollback to the head; forward rollback refuses
    manifest_rollback(store, 1)
    with pytest.raises(ValueError, match="FORWARD"):
        manifest_rollback(store, 3)
    with pytest.raises(ValueError, match="no manifest store"):
        manifest_rollback(str(tmp_path / "missing"), 1)
    # a merge after rollback versions past the orphans (no overwrite)
    manifest_merge(
        spark.createDataFrame([(2, "d")], "k int, val string"),
        store, ["k"], epoch_id=7, n_buckets=BUCKETS)
    assert manifest_current(store) == (4, 7)
    assert _kv(spark, store) == {1: "a", 2: "d"}
