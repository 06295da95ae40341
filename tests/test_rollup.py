"""Continuous-aggregate rollups: build/merge equivalence, sketch
distincts, hierarchical re-bucketing."""

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators import (rollup_build, rollup_finalize,
                                           rollup_merge, time_bucket)
from wrangle_pypes_spark.sources.manifest import manifest_read

METRICS = {
    "n": ("count", "*"),
    "sum_value": ("sum", "value"),
    "min_value": ("min", "value"),
    "max_value": ("max", "value"),
    "users": ("approx_distinct", "user_id"),
}


@pytest.fixture()
def events(spark, tables):
    return tables["events"].withColumn("bucket",
                                       time_bucket(F.col("ts"), "hour"))


def _scalar_rows(df):
    return sorted(
        (r.bucket, r.event_type, r.n, r.sum_value, r.min_value, r.max_value)
        for r in df.collect())


def _assert_rollups_equal(got, want):
    """count/min/max merge exactly; double sums only up to float
    summation-order (associativity) noise."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3] and g[4:] == w[4:]
        assert g[3] == pytest.approx(w[3], rel=1e-12)


def test_incremental_merge_equals_full_build(spark, events):
    group = ["bucket", "event_type"]
    full = rollup_build(events, group_cols=group, metrics=METRICS)

    # split raw data in two disjoint halves, roll up each, merge
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = rollup_merge(
        rollup_build(a, group_cols=group, metrics=METRICS),
        rollup_build(b, group_cols=group, metrics=METRICS),
        group_cols=group, metrics=METRICS)

    _assert_rollups_equal(_scalar_rows(merged), _scalar_rows(full))
    # HLL: estimate of merged sketches == estimate of full-build sketch
    est_full = {(r.bucket, r.event_type): r.users for r in
                rollup_finalize(full, metrics=METRICS).collect()}
    est_merged = {(r.bucket, r.event_type): r.users for r in
                  rollup_finalize(merged, metrics=METRICS).collect()}
    assert est_full == est_merged


def test_sketch_estimates_near_exact(spark, events):
    group = ["event_type"]
    roll = rollup_finalize(
        rollup_build(events, group_cols=group, metrics=METRICS),
        metrics=METRICS)
    est = {r.event_type: r.users for r in roll.collect()}
    exact = {r.event_type: r.n for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for k, v in exact.items():
        assert est[k] == pytest.approx(v, rel=0.05)


def test_hour_rollup_rebuckets_to_day(spark, events):
    """Coarser rollups derive from finer state without raw data."""
    hourly = rollup_build(events, group_cols=["bucket", "event_type"],
                          metrics=METRICS)
    daily_from_hourly = rollup_merge(
        hourly.withColumn("bucket", time_bucket(F.col("bucket"), "day")),
        group_cols=["bucket", "event_type"], metrics=METRICS)
    daily_direct = rollup_build(
        events.withColumn("bucket", time_bucket(F.col("ts"), "day")),
        group_cols=["bucket", "event_type"], metrics=METRICS)
    _assert_rollups_equal(_scalar_rows(daily_from_hourly),
                          _scalar_rows(daily_direct))


def test_unknown_metric_kind_raises(spark, events):
    with pytest.raises(ValueError, match="unknown kind"):
        rollup_build(events, group_cols=["event_type"],
                     metrics={"x": ("median", "value")})


def test_streaming_rollup_upsert_equals_batch(spark, events, tmp_path):
    """Drain the events through foreach_batch_rollup_upsert in TWO
    micro-batches (two files, maxFilesPerTrigger=1): the durable store
    must equal the one-shot rollup of all rows — the streaming twin of
    the merge-equivalence proof, including only-touched-group rewrites
    against a live store."""
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    src_dir = str(tmp_path / "stream_src")
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    half_a.coalesce(1).write.parquet(src_dir + "/a")
    half_b.coalesce(1).write.parquet(src_dir + "/b")
    import glob
    import shutil
    files = [f for d in ("a", "b")
             for f in glob.glob(f"{src_dir}/{d}/*.parquet")]
    assert len(files) == 2
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(src_dir + "/a"), shutil.rmtree(src_dir + "/b")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir)
              .select("bucket", "event_type", "value", "user_id"))
    store = str(tmp_path / "rollup_store")
    q = foreach_batch_rollup_upsert(
        stream, store, group_cols=["bucket", "event_type"],
        metrics=METRICS)
    q.awaitTermination()

    got_state = manifest_read(spark, store)
    want_state = rollup_build(events, group_cols=["bucket", "event_type"],
                              metrics=METRICS)
    _assert_rollups_equal(_scalar_rows(got_state), _scalar_rows(want_state))
    # HLL sketches merged across batches still estimate exact distincts
    got_users = {(r.bucket, r.event_type): r.users
                 for r in rollup_finalize(got_state, metrics=METRICS)
                 .collect()}
    exact = {(r.bucket, r.event_type): r.u for r in
             events.groupBy("bucket", "event_type")
             .agg(F.countDistinct("user_id").alias("u")).collect()}
    for k, u in exact.items():
        assert got_users[k] == pytest.approx(u, rel=0.1)

    # redelivery protection: draining the same files again re-delivers
    # epochs <= the store's committed epoch — they must be SKIPPED, not
    # double-merged (rollup merge is additive).  Resuming an existing
    # store without a checkpoint is only sound for exactly this
    # byte-identical re-drain, so the maintainer must WARN about it.
    with pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        q2 = foreach_batch_rollup_upsert(
            stream, store, group_cols=["bucket", "event_type"],
            metrics=METRICS)
    q2.awaitTermination()
    again = _scalar_rows(manifest_read(spark, store))
    assert again == _scalar_rows(got_state)


def test_histogram_state_merge_equivalence_and_percentile(spark):
    """merge(build(A), build(B)) == build(A ∪ B) EXACTLY for histogram
    counts (integer vector add), and the histogram percentile estimate
    lands within one bin width of the exact percentile."""
    from wrangle_pypes_spark.operators import (
        rollup_build, rollup_merge, rollup_percentile)
    from pyspark.sql import functions as F

    metrics = {"n": ("count", "*"),
               "hist": ("histogram", "v", 0.0, 100.0, 20)}
    a = spark.createDataFrame(
        [("g", float(v)) for v in range(0, 50)], "grp string, v double")
    b = spark.createDataFrame(
        [("g", float(v)) for v in range(50, 100)] + [("g", None)],
        "grp string, v double")
    ra = rollup_build(a, group_cols=["grp"], metrics=metrics)
    rb = rollup_build(b, group_cols=["grp"], metrics=metrics)
    merged = rollup_merge(ra, rb, group_cols=["grp"], metrics=metrics)
    full = rollup_build(a.unionByName(b), group_cols=["grp"],
                        metrics=metrics)
    mrow, frow = merged.collect()[0], full.collect()[0]
    assert mrow.hist == frow.hist            # exact state equality
    assert sum(mrow.hist) == 100             # NULL not counted

    est = merged.select(rollup_percentile(
        F.col("hist"), 0.5, lo=0.0, hi=100.0, bins=20).alias("p50"))
    p50 = est.collect()[0].p50
    assert abs(p50 - 49.5) <= 5.0            # one bin width (100/20)

    # clamping: out-of-range values land in edge bins, never vanish
    c = spark.createDataFrame([("g", -5.0), ("g", 500.0)],
                              "grp string, v double")
    hist = rollup_build(c, group_cols=["grp"],
                        metrics=metrics).collect()[0].hist
    assert hist[0] == 1 and hist[-1] == 1


def test_streaming_rollup_histogram_state_composes(spark, events, tmp_path):
    """The durable streaming maintainer composes with the histogram
    kind unchanged: after a two-micro-batch drain the stored count
    vectors equal the one-shot batch rollup's, exactly (integer
    element-wise add is the merge)."""
    from wrangle_pypes_spark.streaming import foreach_batch_rollup_upsert

    metrics = {"n": ("count", "*"),
               "hist": ("histogram", "value", 0.0, 500.0, 25)}
    src_dir = str(tmp_path / "hsrc")
    events.filter(F.col("event_id") % 2 == 0) \
        .coalesce(1).write.parquet(src_dir + "/a")
    events.filter(F.col("event_id") % 2 == 1) \
        .coalesce(1).write.parquet(src_dir + "/b")
    import glob
    import shutil
    files = [f for d in ("a", "b")
             for f in glob.glob(f"{src_dir}/{d}/*.parquet")]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(src_dir + "/a"), shutil.rmtree(src_dir + "/b")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir)
              .select("event_type", "value"))
    store = str(tmp_path / "hstore")
    q = foreach_batch_rollup_upsert(
        stream, store, group_cols=["event_type"], metrics=metrics)
    q.awaitTermination()

    got = {r.event_type: (r.n, r.hist)
           for r in manifest_read(spark, store).collect()}
    want = {r.event_type: (r.n, r.hist)
            for r in rollup_build(events, group_cols=["event_type"],
                                  metrics=metrics).collect()}
    assert got == want


@pytest.mark.parametrize("lo, hi", [(float("-inf"), 1.0), (0.0, float("inf")),
                                    (float("nan"), 1.0)])
def test_histogram_non_finite_bounds_raise(spark, lo, hi):
    df = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with pytest.raises(ValueError, match="finite"):
        rollup_build(df, group_cols=["grp"],
                     metrics={"h": ("histogram", "v", lo, hi, 4)})


def test_histogram_column_names_read_like_f_col(spark):
    """A dotted histogram column is a struct field, per segment, as in
    F.col and the other metric kinds; a backticked name is literal."""
    df = spark.createDataFrame(
        [("g", (1.0,), 0.5), ("g", (3.0,), 2.5)],
        "grp string, s struct<v: double>, `s.v` double")
    rows = rollup_build(df, group_cols=["grp"], metrics={
        "nested": ("histogram", "s.v", 0.0, 4.0, 4),
        "flat": ("histogram", "`s.v`", 0.0, 4.0, 4),
        "mx": ("max", "s.v"),
    }).collect()
    assert rows[0].nested == [0, 1, 0, 1]
    assert rows[0].flat == [1, 0, 1, 0]
    assert rows[0].mx == 3.0
    with pytest.raises(ValueError, match="column name syntax"):
        rollup_build(df, group_cols=["grp"],
                     metrics={"h": ("histogram", "s`v", 0.0, 4.0, 4)})
