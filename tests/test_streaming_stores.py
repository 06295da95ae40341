"""Every streaming maintainer with a store (rollup, Bloom, count-min,
SCD2, keep-best, CDC and get_or_create) commits through the manifest
store only: older on-disk layouts are refused loudly, a crashed first
commit resumes, and stores whose commits were all empty read as empty
state, not as "never committed"."""

import os
from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark import Get, Pipeline
from wrangle_pypes_spark.operators import rollup_build
from wrangle_pypes_spark.operators.cdc import cdc_vacuum
from wrangle_pypes_spark.operators.dedup import bloom_bitmap, dedup_keep_best
from wrangle_pypes_spark.operators.scd import scd2_build, scd2_rebuild_store
from wrangle_pypes_spark.sources import manifest
from wrangle_pypes_spark.streaming import (
    bloom_resize_store, bloom_store_occupancy, cms_store,
    foreach_batch_bloom_dedup, foreach_batch_cdc_apply, foreach_batch_cms,
    foreach_batch_dedup_keep_best, foreach_batch_get_or_create_upsert,
    foreach_batch_rollup_upsert, foreach_batch_scd2_merge, read_cdc_store)

SCHEMA = "k bigint, v bigint"


@dataclass
class KeyM:
    k: int


def _stream(spark, src):
    return spark.readStream.schema(SCHEMA).parquet(src)


def _scd2_obs(df):
    """SCD2 observations of a ``k``/``v`` frame: ``v`` is the time and
    its parity the attribute."""
    return df.withColumn("a", F.col("v") % 2)


def _cdc_feed(df):
    """CDC updates of a ``k``/``v`` frame, sequenced by ``v``."""
    return df.withColumn("op", F.lit("U")).withColumn("val", F.col("v") * 10)


def _maintainers(tmp_path):
    """Starters of the seven maintainers on a ``k``/``v`` stream;
    keyword arguments (``checkpoint=``) pass through."""
    acc = str(tmp_path / "acc")
    return {
        "rollup": lambda s, store, **kw: foreach_batch_rollup_upsert(
            s, store, group_cols=["k"], metrics={"n": ("count", "*")},
            **kw),
        "bloom": lambda s, store, **kw: foreach_batch_bloom_dedup(
            s, store, key_col="k", accepted_path=acc,
            order_cols=[F.col("v")], n_bits=1 << 10, **kw),
        "cms": lambda s, store, **kw: foreach_batch_cms(
            s, store, key_col="k", depth=2, width=64, **kw),
        "scd2": lambda s, store, **kw: foreach_batch_scd2_merge(
            _scd2_obs(s), store, key_cols=["k"], ts_col="v",
            attr_cols=["a"], **kw),
        "keep_best": lambda s, store, **kw: foreach_batch_dedup_keep_best(
            s, store, key_cols=["k"], order_cols=[F.col("v")], **kw),
        "cdc": lambda s, store, **kw: foreach_batch_cdc_apply(
            _cdc_feed(s), store, key_cols=["k"], seq_col="v", **kw),
        "get_or_create": lambda s, store, **kw:
            foreach_batch_get_or_create_upsert(
                s, Pipeline({KeyM: {"k": Get("k")}}), KeyM, store, ["k"],
                **kw),
    }


def _one_shot(name, rows):
    """What the store of maintainer ``name`` holds after merging
    ``rows`` in one batch, as sorted tuples."""
    if name == "rollup":
        want = rollup_build(rows, group_cols=["k"],
                            metrics={"n": ("count", "*")})
    elif name == "bloom":
        want = bloom_bitmap(dedup_keep_best(rows, ["k"], [F.col("v")]), "k",
                            n_bits=1 << 10, n_hashes=5)
    elif name == "scd2":
        want = scd2_build(_scd2_obs(rows), key_cols=["k"], ts_col="v",
                          attr_cols=["a"])
    elif name == "keep_best":
        want = dedup_keep_best(rows, ["k"], [F.col("v")])
    elif name == "cdc":
        want = dedup_keep_best(_cdc_feed(rows), ["k"], [F.col("v")]) \
            .select("k", "val")
    else:  # get_or_create: one row per distinct key
        want = rows.select(F.col("k").cast("int")).distinct()
    return sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("layout", ["swap", "swap_marker", "swap_backup",
                                    "snapshot"])
def test_maintainers_refuse_retired_layouts(spark, tmp_path, layout):
    """A path holding a swap store (parquet at the top level, only the
    ._epoch marker beside it, or only the ._upsert_bak backup of a swap
    that crashed between its renames) or a full-snapshot store
    (_ptr.json with _vNNNNNN dirs) raises and names the layout, instead
    of starting a manifest store beside the old state.  The SCD2
    rebuild, the CDC vacuum and the CDC reader refuse it too."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    store = str(tmp_path / "store")
    old = spark.createDataFrame([(1, 1)], SCHEMA)
    if layout == "swap":
        old.write.parquet(store)
    elif layout == "swap_marker":
        with open(store + "._epoch", "w") as f:
            f.write("3")
    elif layout == "swap_backup":
        old.write.parquet(store + "._upsert_bak")
    else:
        old.write.parquet(os.path.join(store, "_v000001"))
        with open(os.path.join(store, "_ptr.json"), "w") as f:
            f.write('{"version": 1, "epoch": 0}')
    want = "full-snapshot store" if layout == "snapshot" else "swap store"
    for start in _maintainers(tmp_path).values():
        with pytest.raises(ValueError, match=want):
            start(_stream(spark, src), store)
    with pytest.raises(ValueError, match=want):
        scd2_rebuild_store(_scd2_obs(old), store, key_cols=["k"],
                           ts_col="v", attr_cols=["a"])
    with pytest.raises(ValueError, match=want):
        cdc_vacuum(spark, store, min_seq=0)
    with pytest.raises(ValueError, match=want):
        read_cdc_store(spark, store)
    assert not os.path.exists(os.path.join(store, "data"))


def test_crashed_first_manifest_commit_resumes(spark, tmp_path,
                                               monkeypatch):
    """A first commit that died before its pointer leaves data/ orphans
    and no _ptr.json: that is a manifest store, and the restarted
    query's re-drain merges the batch exactly once, giving what one
    batch of all rows gives."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame([(i % 3, i) for i in range(12)], SCHEMA)
    rows.coalesce(1).write.parquet(src)
    real_write = manifest.fsutil.write_text_atomic

    def _boom(p, text, spark=None):
        if p.endswith("_ptr.json"):
            raise RuntimeError("injected crash before the pointer")
        real_write(p, text, spark=spark)

    for name, start in _maintainers(tmp_path).items():
        store = str(tmp_path / name)
        ck = str(tmp_path / f"ck_{name}")  # the restart replays batch 0
        monkeypatch.setattr(manifest.fsutil, "write_text_atomic", _boom)
        with pytest.raises(Exception, match="injected"):
            start(_stream(spark, src), store,
                  checkpoint=ck).awaitTermination()
        monkeypatch.undo()
        assert os.listdir(os.path.join(store, "data"))
        assert manifest.manifest_current(store) is None
        start(_stream(spark, src), store, checkpoint=ck).awaitTermination()
        if name == "cdc":
            got = read_cdc_store(spark, store)
        else:
            got = manifest.manifest_read(spark, store)
        if name == "cms":
            assert got.agg(F.sum("cnt")).collect()[0][0] == 2 * 12
        else:
            if name == "bloom":
                accepted = spark.read.parquet(str(tmp_path / "acc"))
                assert sorted(r.k for r in accepted.collect()) == [0, 1, 2]
            assert sorted(map(tuple, got.collect())) == \
                _one_shot(name, rows)


def test_empty_commits_read_as_empty_state(spark, tmp_path):
    """Commits of empty batches write no bucket file, yet the store is
    committed: cms_store gives an empty sketch and
    bloom_store_occupancy reports zero bits.  None stays reserved for
    a store that never committed."""
    src = str(tmp_path / "src")
    spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(src)
    cstore, bstore = str(tmp_path / "cms"), str(tmp_path / "bloom")
    assert cms_store(spark, cstore) is None
    assert bloom_store_occupancy(spark, bstore) is None
    starts = _maintainers(tmp_path)
    for store, name in ((cstore, "cms"), (bstore, "bloom")):
        starts[name](_stream(spark, src), store).awaitTermination()
        assert manifest.manifest_current(store) is not None
        assert manifest.manifest_read(spark, store) is None
    sketch, depth, width = cms_store(spark, cstore)
    assert (sketch.count(), depth, width) == (0, 2, 64)
    assert sketch.columns == ["d", "pos", "cnt"]
    occ = bloom_store_occupancy(spark, bstore).collect()[0]
    assert (occ.set_bits, occ.n_bits) == (0, 1 << 10)


def test_resize_with_no_accepted_keys_clears_every_bit(spark, tmp_path):
    """A resize rebuilt from zero accepted keys must replace the old
    hash family's bits with an empty filter, not keep them under the
    new sidecar."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(i, i) for i in range(20)], SCHEMA) \
        .coalesce(1).write.parquet(src)
    store = str(tmp_path / "bloom")
    _maintainers(tmp_path)["bloom"](_stream(spark, src),
                                    store).awaitTermination()
    assert bloom_store_occupancy(spark, store).collect()[0].set_bits > 0
    empty_acc = str(tmp_path / "empty_acc")
    spark.createDataFrame([], SCHEMA).write.parquet(empty_acc)
    bloom_resize_store(spark, store, empty_acc, key_col="k",
                       n_bits=1 << 12)
    occ = bloom_store_occupancy(spark, store).collect()[0]
    assert (occ.set_bits, occ.n_bits) == (0, 1 << 12)
