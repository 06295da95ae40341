"""The format-neutral scan core's driver-side rules, with no Spark job:
the snapshot cache's bound, eviction and hit rule, and the hive check
that decides between one basePath scan and the grouped scan."""

from wrangle_pypes_spark.sources import delta, iceberg
from wrangle_pypes_spark.sources.tablescan import (HIVE_NULL,
                                                   SnapshotCache,
                                                   hive_consistent)


class TestSnapshotCache:
    def test_holds_at_most_64_and_evicts_least_recently_used(self):
        cache, spark = SnapshotCache(), object()
        for v in range(64):
            cache.put(spark, "/t", v, "fp", f"snap{v}")
        assert len(cache) == 64
        # touch version 0: version 1 is now the least recently used
        assert cache.get(spark, "/t", 0, "fp") == "snap0"
        cache.put(spark, "/t", 64, "fp", "snap64")
        assert len(cache) == 64
        assert cache.get(spark, "/t", 1, "fp") is None
        assert cache.get(spark, "/t", 0, "fp") == "snap0"
        assert cache.get(spark, "/t", 64, "fp") == "snap64"
        cache.clear()
        assert len(cache) == 0

    def test_hit_needs_same_session_and_fingerprint(self):
        cache, spark = SnapshotCache(), object()
        cache.put(spark, "file:///t/", 3, "a", "snap")
        assert cache.get(spark, "/t", 3, "a") == "snap"  # canonical path
        assert cache.get(object(), "/t", 3, "a") is None
        assert cache.get(spark, "/t", 3, "b") is None
        assert cache.get(spark, "/t", 4, "a") is None

    def test_each_format_has_its_own_64_entry_cache(self):
        assert delta._SNAPSHOT_CACHE is not iceberg._ICE_SNAPSHOT_CACHE
        assert delta._SNAPSHOT_CACHE.capacity == 64
        assert iceberg._ICE_SNAPSHOT_CACHE.capacity == 64


class TestHiveConsistent:
    def test_uniform_layout_agreeing_with_metadata(self):
        files = [("/t/p=0/a.parquet", {"p": "0"}, ""),
                 ("file:/t/p=1/b.parquet", {"p": 1}, ""),
                 (f"/t/p={HIVE_NULL}/c.parquet", {"p": None}, "")]
        assert hive_consistent("file:///t", files, ["p"])

    def test_mixed_depths_are_refused(self):
        files = [("/t/old/p=0/a.parquet", {"p": "0"}, ""),
                 ("/t/p=0/b.parquet", {"p": "0"}, "")]
        assert not hive_consistent("/t", files, ["p"])

    def test_metadata_disagreement_and_outside_root_are_refused(self):
        assert not hive_consistent(
            "/t", [("/t/p=0/a.parquet", {"p": "9"}, "")], ["p"])
        assert not hive_consistent(
            "/t", [("/t/p=0/a.parquet", {"p": None}, "")], ["p"])
        assert not hive_consistent(
            "/t", [("/t/a.parquet", {"p": "0"}, "")], ["p"])
        assert not hive_consistent(
            "/t", [("/src/p=0/a.parquet", {"p": "0"}, "")], ["p"])
