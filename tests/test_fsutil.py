"""fsutil: control-file I/O for stores beyond the driver's local disk.

The Hadoop-FileSystem branch is exercised for real by forcing ``file:``
URIs off the POSIX fast path — Hadoop's LocalFileSystem then serves
them through the same JVM API an hdfs:// or s3a:// store would use, so
the code path under test is the cluster one.
"""

import os

import pytest

from wrangle_pypes_spark import fsutil


def _force_hadoop(monkeypatch):
    # treat every path as non-local so the JVM FileSystem branch runs
    monkeypatch.setattr(fsutil, "is_local", lambda p: False)


def test_scheme_dispatch():
    assert fsutil.is_local("/a/b")
    assert fsutil.is_local("file:///a/b")
    assert not fsutil.is_local("hdfs://nn/a")
    assert not fsutil.is_local("s3a://bucket/a")


def test_remote_path_without_spark_is_a_clear_error():
    with pytest.raises(ValueError, match="non-local scheme"):
        fsutil.read_text("s3a://bucket/marker")
    with pytest.raises(ValueError, match="non-local scheme"):
        fsutil.write_text_atomic("hdfs://nn/marker", "1")


def test_local_roundtrip(tmp_path):
    p = str(tmp_path / "m")
    assert fsutil.read_text(p) is None
    fsutil.write_text_atomic(p, "41")
    fsutil.write_text_atomic(p, "42")
    assert fsutil.read_text(p) == "42"
    assert not fsutil.dir_exists(p)  # file, not dir
    d = str(tmp_path / "d")
    os.makedirs(d)
    assert fsutil.dir_exists(d)
    fsutil.rename(d, d + "2")
    assert fsutil.dir_exists(d + "2")
    fsutil.delete(d + "2")
    assert not fsutil.dir_exists(d + "2")


def test_read_text_propagates_non_notfound_errors(tmp_path):
    """Only genuine not-found maps to None (ADVICE r3): a permission
    error must RAISE — mapping it to None would read as epoch -1 and
    re-arm an already-merged streaming batch."""
    missing = str(tmp_path / "nope")
    assert fsutil.read_text(missing) is None
    # path component that is a file, not a dir -> also "doesn't exist"
    f = str(tmp_path / "plain")
    fsutil.write_text_atomic(f, "x")
    assert fsutil.read_text(f + "/marker") is None
    if os.geteuid() == 0:
        pytest.skip("root bypasses permission bits")
    locked = tmp_path / "locked"
    locked.mkdir()
    (locked / "marker").write_text("7")
    locked.chmod(0o000)
    try:
        with pytest.raises(PermissionError):
            fsutil.read_text(str(locked / "marker"))
    finally:
        locked.chmod(0o755)


def test_hadoop_fs_roundtrip(spark, tmp_path, monkeypatch):
    _force_hadoop(monkeypatch)
    p = "file:" + str(tmp_path / "marker")
    assert fsutil.read_text(p, spark=spark) is None
    fsutil.write_text_atomic(p, "7", spark=spark)
    assert fsutil.read_text(p, spark=spark) == "7"
    # overwrite goes through delete+rename on the FS API
    fsutil.write_text_atomic(p, "8", spark=spark)
    assert fsutil.read_text(p, spark=spark) == "8"
    d = "file:" + str(tmp_path / "dir")
    os.makedirs(str(tmp_path / "dir"))
    assert fsutil.dir_exists(d, spark=spark)
    assert not fsutil.dir_exists(p, spark=spark)
    fsutil.rename(d, d + "2", spark=spark)
    assert fsutil.dir_exists(d + "2", spark=spark)
    fsutil.delete(d + "2", spark=spark)
    assert not fsutil.dir_exists(d + "2", spark=spark)


def test_list_dir_local_and_hadoop(spark, tmp_path, monkeypatch):
    """list_dir returns sorted child NAMES on both dispatch paths and
    [] for missing directories (a store's version discovery)."""
    d = tmp_path / "t"
    d.mkdir()
    (d / "_v000002").mkdir()
    (d / "_v000001").mkdir()
    (d / "_ptr.json").write_text("{}")
    assert fsutil.list_dir(str(d)) == ["_ptr.json", "_v000001", "_v000002"]
    assert fsutil.list_dir(str(tmp_path / "missing")) == []
    _force_hadoop(monkeypatch)
    assert fsutil.list_dir("file:" + str(d), spark=spark) == \
        ["_ptr.json", "_v000001", "_v000002"]
    assert fsutil.list_dir("file:" + str(tmp_path / "missing"),
                           spark=spark) == []
