"""Count-min sketch (operators/sketches.py): upper-bound estimates,
merge == one-shot equivalence, exact heavy hitters with no false
negatives under forced collisions, and the streaming maintainer's
exactly-once additive merge."""

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators import (cms_build, cms_depth_width,
                                           cms_estimate,
                                           cms_heavy_hitters_against,
                                           cms_merge)


def _freq_df(spark, freqs):
    """One row per occurrence: {'a': 3} -> 3 rows with k='a'."""
    rows = [(k,) for k, n in freqs.items() for _ in range(n)]
    return spark.createDataFrame(rows, "k string")


FREQS = {f"key{i}": (50 if i < 3 else 2) for i in range(40)}


def test_estimate_upper_bounds_and_exact_when_wide(spark):
    df = _freq_df(spark, FREQS)
    cms = cms_build(df, "k", depth=4, width=4096)
    assert cms.count() <= 4 * 4096
    est = {r.k: r.est for r in
           cms_estimate(cms, df, "k", depth=4, width=4096).collect()}
    for k, n in FREQS.items():
        assert est[k] >= n  # upper bound, always
        # 40 keys in 4096 cells: collisions essentially absent
        assert est[k] == n
    # unseen key estimates 0 (never negative, never missing)
    probe = spark.createDataFrame([("ghost",)], "k string")
    assert cms_estimate(cms, probe, "k", depth=4,
                        width=4096).collect()[0].est == 0


def test_upper_bound_survives_forced_collisions(spark):
    """width=8 with 40 keys forces every cell to collide: estimates
    inflate but must NEVER fall below the true count."""
    df = _freq_df(spark, FREQS)
    cms = cms_build(df, "k", depth=3, width=8)
    est = {r.k: r.est for r in
           cms_estimate(cms, df, "k", depth=3, width=8).collect()}
    for k, n in FREQS.items():
        assert est[k] >= n


def test_merge_equals_oneshot(spark):
    a = _freq_df(spark, {"x": 5, "y": 1})
    b = _freq_df(spark, {"y": 7, "z": 2})
    merged = cms_merge(cms_build(a, "k", depth=3, width=64),
                       cms_build(b, "k", depth=3, width=64))
    oneshot = cms_build(a.unionByName(b), "k", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, oneshot.collect()))


def test_weighted_counts_and_null_keys_excluded(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 1), (None, 99)],
        "k string, w int")
    cms = cms_build(df, "k", depth=3, width=64, weight_col="w")
    est = {r.k: r.est for r in
           cms_estimate(cms, df, "k", depth=3, width=64).collect()}
    assert est["a"] == 15 and est["b"] == 1
    assert None not in est
    # total mass excludes the null-keyed row
    assert cms.agg(F.sum("cnt")).collect()[0][0] == 16 * 3


def test_heavy_hitters_exact_even_with_tiny_sketch(spark):
    """Sketch-first heavy hitters: with width=8 the candidate set is
    inflated by collisions, but the exact verify pass trims it to the
    true answer — and the upper-bound property guarantees no true
    heavy hitter was lost to the sketch filter."""
    df = _freq_df(spark, FREQS)
    cms = cms_build(df, "k", depth=3, width=8)
    hh = {r.k: r.cnt for r in cms_heavy_hitters_against(
        cms, df, "k", threshold=50, depth=3, width=8).collect()}
    assert hh == {"key0": 50, "key1": 50, "key2": 50}


def test_shape_validation_and_sizing(spark):
    with pytest.raises(ValueError):
        cms_depth_width(eps=0, delta=0.01)
    d, w = cms_depth_width(eps=0.001, delta=0.01)
    assert d == 5 and w == 2719
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="depth"):
        cms_build(df, "k", depth=0)
    with pytest.raises(ValueError, match="width"):
        cms_build(df, "k", width=1)
    with pytest.raises(ValueError, match="at least one"):
        cms_merge()


def test_streaming_cms_equals_oneshot_and_replay_skips(
        spark, tables, tmp_path):
    """Drain events in two micro-batches through foreach_batch_cms:
    the store's sketch must CELL-EXACTLY equal the one-shot sketch of
    all rows; a byte-identical re-drain must warn (no checkpoint) and
    not double-count; heavy hitters off the store are exact."""
    from wrangle_pypes_spark.streaming import cms_store, foreach_batch_cms

    events = tables["events"].select("user_id", "value")
    src = str(tmp_path / "cms_src")
    for i, half in enumerate((events.filter(F.col("user_id") % 2 == 0),
                              events.filter(F.col("user_id") % 2 == 1))):
        half.coalesce(1).write.parquet(f"{src}/h{i}")
    files = sorted(glob.glob(f"{src}/h*/*.parquet"))
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    for i in range(2):
        shutil.rmtree(f"{src}/h{i}")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src))
    store = str(tmp_path / "cms_store")
    q = foreach_batch_cms(stream, store, key_col="user_id",
                          depth=4, width=1024)
    q.awaitTermination()

    sketch, depth, width = cms_store(spark, store)
    assert (depth, width) == (4, 1024)
    oneshot = cms_build(events, "user_id", depth=4, width=1024)
    assert sorted(map(tuple, sketch.collect())) == \
        sorted(map(tuple, oneshot.collect()))

    # exact heavy hitters straight off the maintained store
    hh = {r.user_id: r.cnt for r in cms_heavy_hitters_against(
        sketch, events, "user_id", threshold=80,
        depth=4, width=1024).collect()}
    exact = {r.user_id: r.n for r in
             events.groupBy("user_id")
             .agg(F.count("*").alias("n"))
             .filter(F.col("n") >= 80).collect()}
    assert hh == exact and len(hh) > 0

    # byte-identical re-drain: warn + epoch guard skips both batches
    with pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        q2 = foreach_batch_cms(stream, store, key_col="user_id",
                               depth=4, width=1024)
    q2.awaitTermination()
    again, _, _ = cms_store(spark, store)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, oneshot.collect()))

    # the hash family is immutable: mismatched resume refuses
    with pytest.raises(ValueError, match="immutable"):
        foreach_batch_cms(stream, store, key_col="user_id",
                          depth=4, width=2048)


def test_streaming_cms_incremental_resume_with_checkpoint(
        spark, tables, tmp_path):
    """Grown-source resume done RIGHT: one checkpoint + one source
    dir, files appended between drains, so batch ids stay monotonic
    and the epoch guard skips exactly the already-counted prefix.
    After both drains the store equals the one-shot sketch of ALL
    rows — no skipped counts, no double counts."""
    from wrangle_pypes_spark.streaming import cms_store, foreach_batch_cms

    events = tables["events"].select("user_id")
    first = events.filter(F.col("user_id") % 2 == 0)
    second = events.filter(F.col("user_id") % 2 == 1)
    src = str(tmp_path / "inc_src")
    ckpt = str(tmp_path / "inc_ckpt")
    store = str(tmp_path / "inc_store")

    def _append(df, name):
        df.coalesce(1).write.parquet(f"{src}/_stage_{name}")
        f = glob.glob(f"{src}/_stage_{name}/*.parquet")[0]
        shutil.move(f, f"{src}/{name}.parquet")
        shutil.rmtree(f"{src}/_stage_{name}")

    def _drain():
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_cms(stream, store, key_col="user_id",
                              depth=3, width=512, checkpoint=ckpt)
        q.awaitTermination()

    _append(first, "a")
    _drain()
    _append(second, "b")
    _drain()  # resumes from the checkpoint: only file b is new

    sketch, _, _ = cms_store(spark, store)
    oneshot = cms_build(events, "user_id", depth=3, width=512)
    assert sorted(map(tuple, sketch.collect())) == \
        sorted(map(tuple, oneshot.collect()))


def test_cms_sidecar_pinned_before_first_commit(
        spark, tables, tmp_path, monkeypatch):
    """ADVICE r8: _cms.json was written only AFTER the first commit;
    a crash in that window followed by a resume with different
    depth/width skipped validation (sidecar absent) and cms_merge
    silently summed counters from two incompatible hash families.
    The sidecar is written BEFORE the first commit now — params are
    pinned once any counters exist."""
    import os

    import pytest as _pytest

    from wrangle_pypes_spark.sources import manifest
    from wrangle_pypes_spark.streaming import foreach_batch_cms

    events = tables["events"].select("user_id")
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    events.coalesce(1).write.parquet(src)

    def _drain(width, ck):
        stream = (spark.readStream.schema(events.schema)
                  .format("parquet").load(src))
        q = foreach_batch_cms(stream, store, key_col="user_id",
                              depth=3, width=width,
                              checkpoint=str(tmp_path / ck))
        q.awaitTermination()

    real_write = manifest.fsutil.write_text_atomic

    def _boom(p, text, spark=None):
        if p.endswith("_ptr.json"):  # the manifest pointer publish
            raise RuntimeError("injected crash before first commit")
        real_write(p, text, spark=spark)

    monkeypatch.setattr(manifest.fsutil, "write_text_atomic", _boom)
    with _pytest.raises(Exception, match="injected"):
        _drain(512, "ck1")
    # crash landed between sidecar write and commit: params pinned,
    # zero counters committed
    assert os.path.exists(os.path.join(store, "_cms.json"))
    assert manifest.manifest_current(store) is None
    monkeypatch.undo()
    # a resume with a DIFFERENT family now fails validation instead
    # of silently mixing hash families
    with _pytest.raises(ValueError, match="immutable"):
        _drain(1024, "ck2")
    _drain(512, "ck3")  # original params replay cleanly
    assert manifest.manifest_current(store) is not None


# ---------------------------------------------------------------- BKS

def test_bks_merge_is_exact_and_small_groups_are_exact(spark):
    from wrangle_pypes_spark.operators.sketches import (
        bks_build, bks_merge, bks_quantiles)

    df = spark.range(5000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("rid"),
        (F.col("id") % 997).cast("double").alias("x"))
    a = df.filter(F.col("id") < 2000)
    b = df.filter(F.col("id") >= 2000)

    one = bks_build(df, value_col="x", id_col="rid", k=64, by=["g"])
    merged = bks_merge(bks_build(a, value_col="x", id_col="rid",
                                 k=64, by=["g"]),
                       bks_build(b, value_col="x", id_col="rid",
                                 k=64, by=["g"]),
                       k=64, by=["g"])
    assert sorted(map(tuple, one.collect())) == \
        sorted(map(tuple, merged.collect()))  # EXACT merge identity

    # a group the sample holds entirely -> exact quantiles
    tiny = spark.range(40).select(
        F.lit(0).alias("g"), F.col("id").alias("rid"),
        F.col("id").cast("double").alias("x"))
    st = bks_build(tiny, value_col="x", id_col="rid", k=64, by=["g"])
    qs = {r.p: r.q for r in
          bks_quantiles(st, [0.0, 0.5, 1.0], by=["g"]).collect()}
    assert qs == {0.0: 0.0, 0.5: 19.5, 1.0: 39.0}


def test_bks_accuracy_and_determinism(spark):
    from wrangle_pypes_spark.operators.sketches import (bks_build,
                                                        bks_quantiles)

    n = 40_000
    df = spark.range(n).select(F.lit("all").alias("g"),
                               F.col("id").alias("rid"),
                               F.col("id").cast("double").alias("x"))
    st = bks_build(df, value_col="x", id_col="rid", k=1024, by=["g"])
    assert st.select(F.size("bks")).first()[0] == 1024
    got = {r.p: r.q for r in
           bks_quantiles(st, [0.25, 0.5, 0.9], by=["g"]).collect()}
    for p, q in got.items():
        rank_err = abs(q / (n - 1) - p)
        assert rank_err < 0.06, (p, q, rank_err)  # ~4 sigma at k=1024

    # state is a pure function of (seed, ids): partitioning-independent
    st2 = bks_build(df.repartition(17), value_col="x", id_col="rid",
                    k=1024, by=["g"])
    assert sorted(map(tuple, st.collect())) == \
        sorted(map(tuple, st2.collect()))


def test_bks_streaming_equals_one_shot_and_replays(spark, tmp_path):
    from wrangle_pypes_spark.operators.sketches import (bks_build,
                                                        bks_quantiles)
    from wrangle_pypes_spark.sources.manifest import (manifest_current,
                                                      manifest_read)
    from wrangle_pypes_spark.streaming import foreach_batch_bks

    df = spark.range(9000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("rid"),
        (F.col("id") % 617).cast("double").alias("x"))
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    store = str(tmp_path / "bks")
    ckpt = str(tmp_path / "ckpt")

    def _drain():
        stream = (spark.readStream
                  .schema("g bigint, rid bigint, x double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = foreach_batch_bks(stream, store, value_col="x",
                              id_col="rid", k=128, by=["g"],
                              store_buckets=4, checkpoint=ckpt)
        q.awaitTermination()

    _drain()
    got = manifest_read(spark, store)
    exp = bks_build(df, value_col="x", id_col="rid", k=128, by=["g"])
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))  # streaming == one-shot
    # quantiles read straight off the store
    qdf = bks_quantiles(got, [0.5], by=["g"])
    assert qdf.count() == 4

    before = manifest_current(store)
    _drain()  # same checkpoint: nothing new
    assert manifest_current(store) == before

    import pytest as _pt
    with _pt.raises(ValueError, match="by"):
        foreach_batch_bks(
            spark.readStream.schema("g bigint, rid bigint, x double")
            .parquet(src), store, value_col="x", id_col="rid")
