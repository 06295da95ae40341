"""Store catalog (sources/catalog.py): layout detection + the uniform
metadata row, for every layout, without any data scan."""

from pyspark.sql import functions as F

from wrangle_pypes_spark.sources import describe_store, store_kind
from wrangle_pypes_spark.sources.manifest import manifest_merge
from wrangle_pypes_spark.sources.partitioned import pmanifest_merge
from wrangle_pypes_spark.sources.zonemap import zonemap_write


def test_detect_and_describe_all_layouts(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("part"),
        (F.col("id") * 2).alias("val"))

    man = str(tmp_path / "man")
    manifest_merge(df.drop("part"), man, ["k"], epoch_id=3,
                   n_buckets=8)
    manifest_merge(
        df.drop("part").withColumn("val", F.col("val") + 1),
        man, ["k"], epoch_id=4, n_buckets=8)
    pman = str(tmp_path / "pman")
    pmanifest_merge(df, pman, "part", ["k"], epoch_id=5, n_buckets=4)
    zm = str(tmp_path / "zm")
    zonemap_write(df, zm, cluster_by=["k"], target_files=4)

    assert store_kind(man) == "manifest"
    assert store_kind(pman) == "pmanifest"
    assert store_kind(zm) == "zonemap"
    assert store_kind(str(tmp_path / "nothing")) is None
    assert describe_store(spark, str(tmp_path / "nothing")) is None

    m = describe_store(spark, man).collect()[0]
    assert (m.kind, m.version, m.epoch, m.n_buckets) == \
        ("manifest", 2, 4, 8)
    assert m.n_versions_retained == 2 and "keys=k" in m.detail

    p = describe_store(spark, pman).collect()[0]
    assert (p.kind, p.n_partitions, p.epoch) == ("pmanifest", 3, 5)
    assert "partition_col=part" in p.detail
    # r9: the root pointer is the store's version; one root commit so
    # far, and it is the retained one
    assert (p.version, p.n_versions_retained) == (1, 1)

    z = describe_store(spark, zm).collect()[0]
    assert (z.kind, z.n_files) == ("zonemap", 4)
    assert "cluster_by=k" in z.detail and "zorder" not in z.detail


def test_plain_parquet_is_not_a_store(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.range(10).write.parquet(path)
    assert store_kind(path) is None


def test_describe_surfaces_sidecars_and_streamed_epoch(spark, tmp_path):
    from wrangle_pypes_spark.sources.zonemap import zonemap_append
    from wrangle_pypes_spark.streaming.windows import foreach_batch_cms

    # CMS store: a one-bucket manifest, sidecar surfaced in detail
    src = str(tmp_path / "feed")
    spark.range(100).select((F.col("id") % 9).alias("k")) \
        .coalesce(1).write.parquet(src)
    store = str(tmp_path / "cms")
    q = foreach_batch_cms(
        spark.readStream.schema("k bigint").parquet(src), store,
        key_col="k", depth=3, width=64,
        checkpoint=str(tmp_path / "ck"))
    q.awaitTermination()
    row = describe_store(spark, store).collect()[0]
    assert row.kind == "manifest" and row.n_buckets == 1
    assert row.detail == "keys=d,pos|_cms.json"

    # Bloom store: the same, with its own sidecar
    from wrangle_pypes_spark.streaming.windows import (
        foreach_batch_bloom_dedup)
    bstore = str(tmp_path / "bloom")
    q = foreach_batch_bloom_dedup(
        spark.readStream.schema("k bigint").parquet(src), bstore,
        key_col="k", accepted_path=str(tmp_path / "acc"),
        order_cols=[F.col("k")], n_bits=1 << 10,
        checkpoint=str(tmp_path / "bck"))
    q.awaitTermination()
    row = describe_store(spark, bstore).collect()[0]
    assert row.kind == "manifest" and row.n_buckets == 1
    assert row.detail == "keys=word|_bloom.json"

    # streamed zonemap: the sidecar epoch surfaces
    zm = str(tmp_path / "zm")
    df = spark.range(100).select(F.col("id").alias("k"))
    zonemap_write(df, zm, cluster_by=["k"], target_files=2,
                  epoch_id=0)
    zonemap_append(df.withColumn("k", F.col("k") + 100), zm,
                   epoch_id=3)
    z = describe_store(spark, zm).collect()[0]
    assert z.kind == "zonemap" and z.epoch == 3


def test_vector_index_store_kind_and_describe(spark, tables, tmp_path):
    """The IVF vector index is a manifest store plus the quantizer
    sidecar — its own catalog kind, described with cell/dim/meta
    detail from control files alone."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators import build_vector_index

    emb = tables["embeddings"].select("vec_id", "embedding", "label")
    store = str(tmp_path / "vx")
    build_vector_index(emb, store, n_centroids=8, n_buckets=4,
                       meta_cols=["label"])
    assert store_kind(store) == "vectorindex"
    row = describe_store(spark, store).collect()[0]
    assert row.kind == "vectorindex" and row.n_buckets == 4
    assert "cells=8" in row.detail and "meta=label" in row.detail
    assert row.version == 1

    # sidecar-first rule: a crashed pre-commit store still identifies
    import json as _json
    import os

    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    with open(os.path.join(bare, "_vindex.json"), "w") as f:
        _json.dump({"centroids": [], "n_centroids": 0, "dim": 0,
                    "seed": 1, "quantize": False, "meta_cols": [],
                    "vec_col": "v", "id_col": "i"}, f)
    assert store_kind(bare) == "vectorindex"
    row = describe_store(spark, bare).collect()[0]
    assert row.kind == "vectorindex" and row.version is None


def test_delta_store_kind_and_describe(spark, tmp_path):
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources.catalog import (
        describe_store,
        store_kind,
    )
    from wrangle_pypes_spark.sources.delta import write_delta

    tbl = str(tmp_path / "dt")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"))
    write_delta(df, tbl, partition_by=["p"])
    write_delta(df.filter("k < 5"), tbl)
    assert store_kind(tbl) == "delta"
    row = describe_store(spark, tbl).collect()[0]
    assert row.kind == "delta" and row.version == 1
    assert row.n_partitions == 4 and row.n_files >= 4
    assert "partition_by=p" in row.detail


def test_iceberg_store_kind_and_describe(spark, tmp_path):
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources.catalog import (
        describe_store,
        store_kind,
    )
    from wrangle_pypes_spark.sources.iceberg import write_iceberg

    tbl = str(tmp_path / "ice")
    df = spark.range(0, 12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"))
    write_iceberg(df, tbl, partition_by=["p"])
    assert store_kind(tbl) == "iceberg"
    row = describe_store(spark, tbl).collect()[0]
    assert row.kind == "iceberg" and row.version == 1
    assert row.n_partitions == 3 and row.n_files >= 3
    assert "partition_by=p" in row.detail
