"""The rollup, Bloom and count-min maintainers commit through the
manifest store only: older on-disk layouts are refused loudly, a
crashed first commit resumes, and stores whose commits were all empty
read as empty state, not as "never committed"."""

import os

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators import rollup_build
from wrangle_pypes_spark.sources import manifest
from wrangle_pypes_spark.streaming import (bloom_resize_store,
                                           bloom_store_occupancy,
                                           cms_store,
                                           foreach_batch_bloom_dedup,
                                           foreach_batch_cms,
                                           foreach_batch_rollup_upsert)

SCHEMA = "k bigint, v bigint"


def _stream(spark, src):
    return spark.readStream.schema(SCHEMA).parquet(src)


def _maintainers(tmp_path):
    """Starters of the three maintainers on a ``k``/``v`` stream;
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
    }


@pytest.mark.parametrize("layout", ["swap", "swap_marker", "snapshot"])
def test_maintainers_refuse_retired_layouts(spark, tmp_path, layout):
    """A path holding a swap store (parquet at the top level, or only
    the ._epoch marker beside it) or a full-snapshot store (_ptr.json
    with _vNNNNNN dirs) raises and names the layout, instead of
    starting a manifest store beside the old state."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    store = str(tmp_path / "store")
    old = spark.createDataFrame([(1, 1)], SCHEMA)
    if layout == "swap":
        old.write.parquet(store)
    elif layout == "swap_marker":
        with open(store + "._epoch", "w") as f:
            f.write("3")
    else:
        old.write.parquet(os.path.join(store, "_v000001"))
        with open(os.path.join(store, "_ptr.json"), "w") as f:
            f.write('{"version": 1, "epoch": 0}')
    want = "full-snapshot store" if layout == "snapshot" else "swap store"
    for start in _maintainers(tmp_path).values():
        with pytest.raises(ValueError, match=want):
            start(_stream(spark, src), store)
    assert not os.path.exists(os.path.join(store, "data"))


def test_crashed_first_manifest_commit_resumes(spark, tmp_path,
                                               monkeypatch):
    """A first commit that died before its pointer leaves data/ orphans
    and no _ptr.json: that is a manifest store, and the re-drain
    merges the batch exactly once."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame([(i % 3, i) for i in range(12)], SCHEMA)
    rows.coalesce(1).write.parquet(src)
    real_write = manifest.fsutil.write_text_atomic

    def _boom(p, text, spark=None):
        if p.endswith("_ptr.json"):
            raise RuntimeError("injected crash before the pointer")
        real_write(p, text, spark=spark)

    starts = _maintainers(tmp_path)
    for name in ("rollup", "cms"):
        store = str(tmp_path / name)
        ck = str(tmp_path / f"ck_{name}")  # a fresh query re-drains
        monkeypatch.setattr(manifest.fsutil, "write_text_atomic", _boom)
        with pytest.raises(Exception, match="injected"):
            starts[name](_stream(spark, src), store).awaitTermination()
        monkeypatch.undo()
        assert os.listdir(os.path.join(store, "data"))
        assert manifest.manifest_current(store) is None
        starts[name](_stream(spark, src), store,
                     checkpoint=ck).awaitTermination()
        got = manifest.manifest_read(spark, store)
        if name == "rollup":
            want = rollup_build(rows, group_cols=["k"],
                                metrics={"n": ("count", "*")})
            assert sorted(map(tuple, got.collect())) == \
                sorted(map(tuple, want.collect()))
        else:
            assert got.agg(F.sum("cnt")).collect()[0][0] == 2 * 12


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
