"""Store catalog: one ops surface over the engine's storage layouts.

Three native layouts, each the right answer to a different access
pattern — manifest (hash-bucketed keyed data with file-level deltas;
also the one-bucket home of the streaming Bloom and count-min state),
pmanifest (value partitions over manifest sub-stores) and zonemap
(range/Z-order clustered write-once tables) — plus the manifest-backed
vector and text indexes and the foreign Delta and Iceberg tables.  An
operator staring at a path should not need to know which one it is to
ask "what is this, how current is it, how big is its layout":
:func:`store_kind` detects the layout from its control files, and
:func:`describe_store` returns one uniform metadata row per store —
driver-side JSON/listing reads only, NO data scan (per-layout deep
health lives in the layout's own stats function: ``manifest_stats`` /
``pmanifest_stats`` / ``zonemap_stats`` / ``audit_parquet_layout``).

Reference analog: none — the reference (pipeline.py:33) has no
storage; this is the operability layer a multi-layout 100 TB
deployment needs.
"""

from __future__ import annotations

import json
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .. import fsutil
from ..localdf import local_df

_MANIFEST_RE = re.compile(r"^_m(\d{6})\.json$")

KINDS = ("pmanifest", "vectorindex", "textindex", "manifest",
         "zonemap", "delta", "iceberg")


def store_kind(path: str, spark=None) -> Optional[str]:
    """Which layout lives at ``path`` — one of :data:`KINDS` — or None
    when no layout's control files are present.  Detection order
    matters where markers coexist: a pmanifest parent holds
    ``_pstore.json`` (its sub-stores are manifests), and the vector
    and text indexes are manifest stores with their own sidecar."""
    if not fsutil.dir_exists(path, spark=spark):
        return None
    names = set(fsutil.list_dir(path, spark=spark))
    if "_pstore.json" in names:
        return "pmanifest"
    if "_delta_log" in names:
        # foreign-format interop (sources/delta.py): the log dir is the
        # Delta spec's own discriminator
        return "delta"
    if "metadata" in names and any(
            n.endswith(".metadata.json")
            for n in fsutil.list_dir(path.rstrip("/") + "/metadata",
                                     spark=spark)):
        # foreign-format interop (sources/iceberg.py)
        return "iceberg"
    if "_zonemap.json" in names:
        return "zonemap"
    if "_vindex.json" in names:
        # an IVF vector index is a manifest store plus the pinned
        # quantizer sidecar; the sidecar makes it its own kind (it may
        # exist BEFORE the first manifest commit — sidecar-first rule)
        return "vectorindex"
    if "_tindex.json" in names:
        # an inverted text index: a manifest store plus the pinned
        # build-layout sidecar (stop list / block_limit / positions),
        # same sidecar-first rule as the vector index
        return "textindex"
    if any(_MANIFEST_RE.match(n) for n in names):
        return "manifest"
    return None


def describe_store(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """One metadata row for the store at ``path``:
    ``(path, kind, version, epoch, n_buckets, n_partitions,
    n_versions_retained, n_files, detail)`` — fields a layout lacks
    are null.  Driver cost: control-file JSON reads and directory
    listings bounded by the layout (versions, buckets, partitions) —
    never a data scan.  None when ``path`` holds no known layout."""
    kind = store_kind(path, spark=spark)
    if kind is None:
        return None
    version = epoch = n_buckets = n_parts = n_kept = n_files = None
    detail = ""
    if kind == "iceberg":
        from .iceberg import iceberg_snapshot

        snap = iceberg_snapshot(spark, path)
        version = int(snap.snapshot_id)
        n_files = len(snap.files)
        pcols = [f["name"] for f in snap.partition_spec]
        n_parts = len({tuple(repr(f["partition"].get(c))
                             for c in pcols)
                       for f in snap.files}) if pcols else None
        detail = "partition_by=" + ",".join(pcols or ["<none>"])
    elif kind == "delta":
        from pyspark.sql import functions as F

        from .delta import delta_snapshot

        snap = delta_snapshot(spark, path)
        version = int(snap.version)
        # aggregate over the file-state PLAN — the catalog never
        # materializes the file list in the driver (r12)
        pcols = snap.partition_columns
        aggs = [F.count("*").alias("nf")]
        if pcols:
            # struct() so tuples containing nulls still count
            aggs.append(F.countDistinct(F.struct(
                *[F.col("partitionValues").getItem(c)
                  for c in pcols])).alias("np"))
        row = snap.files_df.agg(*aggs).collect()[0]
        n_files = int(row["nf"])
        n_parts = int(row["np"]) if pcols else None
        detail = ("partition_by="
                  + ",".join(snap.logical_partition_columns
                             or ["<none>"]))
    elif kind in ("manifest", "vectorindex", "textindex"):
        from .manifest import (_load_manifest, _used_versions,
                               manifest_current)

        cur = manifest_current(path, spark=spark)
        if cur is not None:
            version, epoch = cur
            man = _load_manifest(path, cur[0], spark=spark)
            n_buckets = int(man["n_buckets"])
            n_files = len(man["buckets"])
            detail = "keys=" + ",".join(man["key_cols"])
        side = [n for n in fsutil.list_dir(path, spark=spark)
                if n in ("_bloom.json", "_cms.json")]
        detail = "|".join(d for d in (detail, *side) if d)
        if kind == "vectorindex":
            side = json.loads(fsutil.read_text(
                path.rstrip("/") + "/_vindex.json", spark=spark))
            detail = (f"cells={side['n_centroids']}|dim={side['dim']}"
                      + ("|int8" if side.get("quantize") else "")
                      + (f"|pq={side['pq_m']}x256"
                         if side.get("pq_m") else "")
                      + (("|meta=" + ",".join(side["meta_cols"]))
                         if side.get("meta_cols") else ""))
        elif kind == "textindex":
            side = json.loads(fsutil.read_text(
                path.rstrip("/") + "/_tindex.json", spark=spark))
            detail = (f"block_limit={side['block_limit']}"
                      + ("|positions" if side.get("with_positions")
                         else "")
                      + (f"|stops={len(side['stop_tokens'])}"
                         if side.get("stop_tokens") else ""))
        n_kept = sum(
            1 for v in _used_versions(path, spark=spark)
            if version is not None and v <= version
            and fsutil.read_text(
                path.rstrip("/") + f"/_m{v:06d}.json",
                spark=spark) is not None)
    elif kind == "pmanifest":
        from .manifest import manifest_current
        from .partitioned import (_list_tokens, _load_root,
                                  _recorded_pcol, _root_used, _sub,
                                  root_current)

        tokens = _list_tokens(path, spark=spark)
        n_parts = len(tokens)
        root = root_current(path, spark=spark)
        if root is not None:
            # r9 layout: the root pointer IS the store's version/epoch
            version, epoch = root
            n_kept = sum(
                1 for v in _root_used(path, spark=spark)
                if v <= root[0]
                and fsutil.read_text(
                    path.rstrip("/") + f"/_r{v:06d}.json",
                    spark=spark) is not None)
            n_parts = len(_load_root(path, root[0],
                                     spark=spark)["parts"])
        else:  # pre-root store: best-effort from sub heads
            heads = [manifest_current(_sub(path, t), spark=spark)
                     for t in tokens]
            epochs = [h[1] for h in heads if h is not None]
            if epochs:
                epoch = max(epochs)  # most-recent batch any saw
        detail = "partition_col=" + str(_recorded_pcol(path,
                                                       spark=spark))
    else:  # zonemap
        side = json.loads(fsutil.read_text(
            path.rstrip("/") + "/_zonemap.json", spark=spark))
        n_files = len(side["files"])
        if int(side.get("epoch", -1)) >= 0:  # streaming-ingested
            epoch = int(side["epoch"])
        detail = ("cluster_by=" + ",".join(side["cluster_by"])
                  + ("|zorder" if len(side["cluster_by"]) > 1 else ""))
    return local_df(
        spark,
        [(path, kind, version, epoch, n_buckets, n_parts, n_kept,
          n_files, detail)],
        "path string, kind string, version int, epoch int, "
        "n_buckets int, n_partitions int, n_versions_retained int, "
        "n_files int, detail string")
