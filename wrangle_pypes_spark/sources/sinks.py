"""Sink surface: materialize DataFrames back to columnar storage.

The reference has NO sinks — model instances are yielded to the caller
and any persistence goes through the user ``lookup`` callable
(reference ``pipeline.py:33``; SURVEY.md section 2.2 "Sinks").  A scale
engine needs real ones.  Everything here is the plain DataFrameWriter
under deliberate defaults:

* **Partitioned layout** (``partition_by``): directory-level partition
  pruning for every downstream reader — the single highest-leverage
  layout decision at 100 TB.
* **File sizing** (``target_file_rows``): many small files kill scan
  planning (driver-side listing) and shuffle; too few kill parallelism.
  Callers set rows-per-file from row width; we repartition to match.
* **Sorted-within-partition** (``sort_by``): min/max page statistics in
  parquet footers become selective → row-group skipping for range
  predicates on the sort key, at zero read-time cost.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from ..localdf import local_df


def write_parquet(df: DataFrame, path: str, *,
                  mode: str = "overwrite",
                  partition_by: Sequence[str] = (),
                  sort_by: Sequence[str] = (),
                  target_file_rows: Optional[int] = None,
                  compression: str = "zstd") -> None:
    """Write ``df`` as a (optionally hive-partitioned) parquet table."""
    out = df
    if target_file_rows is not None:
        n = df.count()
        parts = max(1, -(-n // target_file_rows))  # ceil
        out = (out.repartition(parts, *partition_by) if partition_by
               else out.repartition(parts))
    elif partition_by:
        # co-locate rows of one partition value into one task → one file
        # per partition dir instead of tasks x partitions small files
        out = out.repartition(*partition_by)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(df: DataFrame, name: str, *, buckets: int,
                         bucket_by: Sequence[str],
                         sort_by: Sequence[str] = (),
                         mode: str = "overwrite") -> None:
    """Save as a bucketed (+optionally sorted) managed table.

    Bucketing pre-shuffles ONCE at write time: two tables bucketed by
    the same key into the same bucket count join with NO exchange (and
    with ``sort_by`` on the key, no sort either) — the co-located-join
    strategy for fact tables that are joined repeatedly.  At 100 TB the
    write-side shuffle is paid once; every downstream join reads
    straight into sort-merge.  Requires ``saveAsTable`` (bucket metadata
    lives in the catalog, not the parquet files).
    """
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # with the default in-memory catalog, a table written by a
        # PREVIOUS session is unknown to DROP but its directory still
        # blocks saveAsTable — clear the orphan location
        import shutil
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:"):]
        orphan = os.path.join(warehouse, name.split(".")[-1].lower())
        if os.path.isdir(orphan):
            shutil.rmtree(orphan)
    writer = (df.write.mode(mode).format("parquet")
              .bucketBy(buckets, *bucket_by))
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(name)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite",
               compression: str = "gzip") -> None:
    """JSON-lines sink (interchange format; parquet is the scale path)."""
    df.write.mode(mode).option("compression", compression).json(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite",
              header: bool = True, compression: str = "gzip") -> None:
    df.write.mode(mode).option("header", str(header).lower()) \
        .option("compression", compression).csv(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite",
              partition_by: Sequence[str] = (),
              compression: str = "zstd") -> None:
    """ORC sink — same layout conventions as :func:`write_parquet`
    (ORC carries equivalent stripe-level min/max statistics, so the
    sorted-layout guidance applies unchanged)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC source (native vectorized reader; predicate pushdown and
    column pruning work as for parquet)."""
    return spark.read.orc(path)


def compact_parquet(spark, path: str, *,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    compression: str = "zstd") -> int:
    """Small-file compaction: rewrite a parquet directory into
    size-targeted files and atomically swap it in.  Returns the output
    file count.

    Streaming maintainers and incremental upserts accrete small files;
    thousands of them slow scan PLANNING (driver-side listing +
    footer reads) and fragment row groups below the size where column
    statistics and vectorized reads pay off.  This is the maintenance
    pass a table format calls OPTIMIZE: read, ``repartition`` to
    ``ceil(current_bytes / target_file_bytes)`` output files, write to
    a temp dir, and swap via the same backup-rename protocol as
    :func:`upsert_parquet` (crash-recoverable through
    :func:`recover_upsert_backup`; control ops through
    :mod:`~wrangle_pypes_spark.fsutil`).

    Data-content neutral (same rows, fewer files) — a compaction must
    never change query results.  Current bytes are measured from the
    existing footprint, so the file-count decision needs no extra scan
    of the data itself.  Hive-partitioned roots (``key=value``
    subdirectories) are DETECTED and rewritten with the same
    ``partitionBy``, so the layout survives and a later
    ``upsert_parquet(..., partition_by=...)`` on the store never sees a
    mixed flat/partitioned directory.  In that case rows are
    repartitioned on the partition columns (≈ one output file per
    partition value); a single partition far above
    ``target_file_bytes`` is better compacted by pointing this function
    at that partition's own directory.
    """
    import math

    from .. import fsutil

    # repair a prior crashed swap first (same backup protocol as
    # upsert_parquet), or a crash between this function's two renames
    # would leave the table unreadable for the NEXT compaction too
    if not recover_upsert_backup(path, spark=spark):
        raise FileNotFoundError(f"no parquet table at {path!r}")
    pcols = _partition_columns(path, spark)
    total = _dir_bytes(path, spark)
    n_files = max(1, math.ceil(total / float(target_file_bytes)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    bak = path.rstrip("/") + "._upsert_bak"
    fsutil.delete(tmp, spark=spark)
    out = df.repartition(n_files, *pcols) if pcols else df.repartition(n_files)
    writer = (out.write.mode("overwrite")
              .option("compression", compression))
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(tmp)
    fsutil.delete(bak, spark=spark)
    fsutil.rename(path, bak, spark=spark)
    fsutil.rename(tmp, path, spark=spark)
    fsutil.delete(bak, spark=spark)
    return n_files


def _partition_columns(path: str, spark=None) -> list:
    """Hive partition columns of a parquet directory, inferred from its
    ``key=value`` subdirectory chain (outermost first); ``[]`` for a
    flat layout.  Driver-side listing of ONE directory per partition
    level — never a data scan."""
    from .. import fsutil

    def subdirs(p):
        if fsutil.is_local(p):
            lp = fsutil._strip_file_scheme(p)
            return [d for d in os.listdir(lp)
                    if os.path.isdir(os.path.join(lp, d))]
        fs, jpath, _ = fsutil._hadoop(
            fsutil._require_spark(spark, p), p)
        return [st.getPath().getName() for st in fs.listStatus(jpath)
                if st.isDirectory()]

    cols: list = []
    cur = path.rstrip("/")
    while True:
        parts = [d for d in subdirs(cur)
                 if "=" in d and not d.startswith(("_", "."))]
        if not parts:
            return cols
        name = sorted(parts)[0].split("=", 1)[0]
        cols.append(name)
        cur = cur + "/" + sorted(parts)[0]


def _dir_bytes(path: str, spark=None) -> int:
    """Total bytes of data files under ``path`` (local fast path; the
    Hadoop ContentSummary API for remote stores)."""
    from .. import fsutil

    if fsutil.is_local(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        return total
    fs, jpath, _ = fsutil._hadoop(fsutil._require_spark(spark, path), path)
    return int(fs.getContentSummary(jpath).getLength())


def recover_upsert_backup(path: str, spark=None) -> bool:
    """Repair the crash window of :func:`upsert_parquet`'s rename swap:
    if a prior upsert crashed between its two renames, only
    ``<path>._upsert_bak`` exists and IS the table — restore it.

    Every reader that decides "does this store exist yet?" with a bare
    existence probe must call this FIRST, or a crash window makes it
    bootstrap from scratch and silently discard the accumulated store.
    Returns True when a table directory exists after the check.

    Paths with a non-local scheme (hdfs://, s3a://, ...) route through
    the Hadoop FileSystem API and require ``spark``; see
    :mod:`wrangle_pypes_spark.fsutil` for the atomicity caveats per
    filesystem.
    """
    from .. import fsutil

    bak = path.rstrip("/") + "._upsert_bak"
    if (not fsutil.dir_exists(path, spark=spark)
            and fsutil.dir_exists(bak, spark=spark)):
        fsutil.rename(bak, path, spark=spark)
    return fsutil.dir_exists(path, spark=spark)


def upsert_parquet(df: DataFrame, path: str, keys: Sequence[str], *,
                   partition_by: Sequence[str] = (),
                   compression: str = "zstd",
                   dedup_incoming: bool = True) -> None:
    """Key-based upsert into a parquet table: incoming rows REPLACE
    existing rows with the same key; everything else is kept.

    This is the batch-idempotent MERGE the reference's ``get_or_create``
    lookup protocol implies on the storage side (reference
    ``pipeline.py:53-83`` leaves persistence to the caller).  Parquet
    files are immutable, so an upsert is a rewrite — the design question
    is *how much* gets rewritten:

    * With ``partition_by``, only TOUCHED partitions rewrite: incoming
      partition values are semi-joined against the existing table, the
      survivors (existing-minus-updated) union the new rows, and a
      dynamic partition overwrite replaces just those directories.  At
      100 TB with daily partitions, upserting one day rewrites one day.
    * Without partitions the whole table rewrites via temp-dir + rename
      (snapshot semantics, single writer).

    Not a transaction log: concurrent writers need a table format
    (Delta/Iceberg ``MERGE INTO`` — same plan shape, plus the log).
    The incoming batch is deduplicated on ``keys`` (arbitrary survivor,
    matching ``dropDuplicates``) so replays are idempotent.  Pass
    ``dedup_incoming=False`` when ``keys`` is a GROUP key and the batch
    legitimately carries several rows per key (e.g. SCD2 version rows
    per dimension key): existing rows for the key group are replaced by
    the whole incoming group.

    The swap's control operations (existence probe, backup rename, tmp
    cleanup) go through :mod:`wrangle_pypes_spark.fsutil`, so the store
    may live on any Hadoop-addressable filesystem; the rename swap is
    atomic on POSIX/HDFS and copy-based on S3-like stores (where a
    table format is the real answer — see fsutil docstring).
    """
    from .. import fsutil

    spark = df.sparkSession
    incoming = df.dropDuplicates(list(keys)) if dedup_incoming else df
    bak = path.rstrip("/") + "._upsert_bak"
    recover_upsert_backup(path, spark=spark)
    if not fsutil.dir_exists(path, spark=spark):
        write_parquet(incoming, path, partition_by=partition_by,
                      compression=compression)
        return

    from pyspark.sql import functions as F

    existing = spark.read.parquet(path)
    if partition_by:
        touched_parts = incoming.select(*partition_by).distinct()
        keep = (existing
                .join(F.broadcast(touched_parts), list(partition_by),
                      "left_semi")
                .join(incoming.select(*keys).distinct(), list(keys),
                      "left_anti"))
        merged = keep.unionByName(incoming)
        # materialize BEFORE overwriting the directory we read from —
        # localCheckpoint truncates lineage so the write can't re-scan
        # the files it is replacing
        merged = merged.localCheckpoint(eager=True)
        (merged.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", compression)
         .partitionBy(*partition_by).parquet(path))
        return

    keep = existing.join(incoming.select(*keys).distinct(), list(keys),
                         "left_anti")
    merged = keep.unionByName(incoming)
    tmp = path.rstrip("/") + "._upsert_tmp"
    fsutil.delete(tmp, spark=spark)
    # a stale backup at this point means the table dir ALSO exists (the
    # crashed-between-renames case was repaired above), so it is merely
    # leftover garbage from a crash after the second rename — clear it
    # or the rename below fails forever
    fsutil.delete(bak, spark=spark)
    merged.write.mode("overwrite").option("compression", compression) \
        .parquet(tmp)
    fsutil.rename(path, bak, spark=spark)
    fsutil.rename(tmp, path, spark=spark)
    fsutil.delete(bak, spark=spark)


def write_training_shards(df: DataFrame, path: str, *, id_col: str,
                          num_shards: int, seed: int = 42,
                          mode: str = "overwrite") -> DataFrame:
    """Export a corpus as ``num_shards`` deterministic training shards
    plus a durable manifest — the hand-off from curation to a training
    job.

    Shard assignment is ``md5("{seed}:{id}") mod num_shards`` (the
    engine-portable 48-bit key of operators/sampling.py), so the SAME
    rows land in the SAME shards on every run, any cluster size, any
    partitioning — and an external engine can recompute the mapping
    bit-for-bit.  Rows are hash-repartitioned on the shard id (each
    shard's rows land in exactly one task → one file per shard
    directory) and sorted within by a seed-keyed md5 order + id, so a
    reader streaming ``shard=K`` sees a reproducible permutation.

    The manifest (``<path>/_shard_manifest``, parquet) records per
    shard: row count and an order-insensitive content key — the sum of
    the rows' 48-bit md5 keys mod 2^48 (decimal-summed, so no overflow
    at any corpus size).  A reader can re-derive both from the shard
    files alone and compare; a mismatch means a torn write or a
    mixed-seed append.  Returns the manifest DataFrame (shard ordered).

    Scale: ONE data-sized shuffle (the repartition); the manifest
    aggregate rides the same pass shape (shard-keyed, map-side
    partials); the manifest itself is ``num_shards`` rows.
    """
    from pyspark.sql import functions as F
    from ..operators.sampling import _md5_u48_key, _md5_unit_key

    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    u48 = _md5_u48_key(id_col, seed)
    keyed = df.withColumn("shard", F.pmod(u48, F.lit(num_shards))
                          .cast("int"))
    (keyed.repartition(num_shards, "shard")
          .sortWithinPartitions("shard", _md5_unit_key(id_col, seed),
                                F.col(id_col))
          .write.mode(mode).partitionBy("shard").parquet(path))
    manifest = (keyed.groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.pmod(F.sum(u48.cast("decimal(38,0)")),
                            F.lit(2 ** 48).cast("decimal(38,0)"))
                      .cast("long").alias("content_key"))
                .orderBy("shard"))
    (manifest.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "_shard_manifest")))
    return manifest


def validate_shards(spark, path: str, *, id_col: str, seed: int = 42
                    ) -> DataFrame:
    """Recompute each shard's row count and content key from the shard
    FILES and compare against the stored manifest: returns one row per
    shard with ``rows_ok`` / ``content_ok`` booleans (plus a row for
    any shard present on only one side).  The read-back half of
    :func:`write_training_shards`'s exactly-what-was-written contract.
    """
    from pyspark.sql import functions as F
    from ..operators.sampling import _md5_u48_key

    data = spark.read.parquet(path)
    u48 = _md5_u48_key(id_col, seed)
    actual = (data.groupBy("shard")
              .agg(F.count(F.lit(1)).alias("a_rows"),
                   F.pmod(F.sum(u48.cast("decimal(38,0)")),
                          F.lit(2 ** 48).cast("decimal(38,0)"))
                     .cast("long").alias("a_key")))
    manifest = spark.read.parquet(os.path.join(path, "_shard_manifest"))
    return (manifest.join(actual, "shard", "full_outer")
            .select("shard", "n_rows", "a_rows",
                    (F.col("n_rows") == F.col("a_rows")).alias("rows_ok"),
                    (F.col("content_key") == F.col("a_key"))
                      .alias("content_ok"))
            .orderBy("shard"))


def audit_parquet_layout(spark, path: str, *,
                         small_file_bytes: int = 32 * 1024 * 1024
                         ) -> "DataFrame":
    """One-row layout health report for a parquet table: file count,
    byte totals, rows-per-file distribution, and how many files fall
    under ``small_file_bytes`` — the measurement that decides when
    :func:`compact_parquet` is worth a rewrite (thousands of tiny
    files slow scan planning and fragment row groups below the size
    where statistics and vectorized reads pay off).

    File facts (count, bytes, small-file tally) come from a
    FILESYSTEM LISTING of ``*.parquet`` data files — the same
    O(files) metadata walk scan planning pays, on any
    Hadoop-addressable store — so ZERO-ROW part files are counted
    (they are invisible to ``_metadata``, which only has rows for
    files that yield rows, yet they are exactly the small-file
    pathology crashed/empty writes leave behind).  Rows-per-file
    stats come from the ``_metadata`` hidden column, computed
    distributed; ``min_rows_per_file`` reports 0 when empty files
    exist.
    """
    import os

    from pyspark.sql import functions as F

    from .. import fsutil

    def _is_data(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith(("_", "."))

    sizes = []
    if fsutil.is_local(path):
        p = fsutil._strip_file_scheme(path)
        if os.path.isfile(p):
            sizes = [os.path.getsize(p)]
        else:
            for root, _dirs, names in os.walk(p):
                sizes += [os.path.getsize(os.path.join(root, nm))
                          for nm in names if _is_data(nm)]
    else:
        fs, jpath, _jvm = fsutil._hadoop(
            fsutil._require_spark(spark, path), path)
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            st = it.next()
            if _is_data(st.getPath().getName()):
                sizes.append(int(st.getLen()))
    n_files = len(sizes)
    total_bytes = int(sum(sizes))
    n_small = sum(1 for b in sizes if b < small_file_bytes)

    row = (spark.read.parquet(path)
           .groupBy(F.col("_metadata.file_path").alias("_f"))
           .agg(F.count(F.lit(1)).alias("_rows"))
           .agg(F.count(F.lit(1)).alias("nf"),
                F.sum("_rows").alias("tr"),
                F.min("_rows").alias("mn"),
                F.max("_rows").alias("mx")).collect()[0])
    files_with_rows = int(row["nf"] or 0)
    total_rows = int(row["tr"] or 0)
    min_rows = int(row["mn"]) if row["mn"] is not None else 0
    if n_files > files_with_rows:
        min_rows = 0  # empty part files exist
    max_rows = int(row["mx"] or 0)
    avg = round(total_rows / n_files, 2) if n_files else 0.0
    return local_df(
        spark,
        [(n_files, total_bytes, total_rows, min_rows, max_rows,
          avg, n_small)],
        "n_files long, total_bytes long, total_rows long, "
        "min_rows_per_file long, max_rows_per_file long, "
        "avg_rows_per_file double, n_small_files long")
