"""Apache Iceberg read interop — jar-less, against the PUBLIC Iceberg
table spec (https://iceberg.apache.org/spec/).

Companion to sources/delta.py: "a user with an existing Iceberg table
can read it here".  Iceberg's control plane is table-metadata JSON
(``metadata/v*.metadata.json`` + ``version-hint.text``) pointing at a
snapshot whose *manifest list* and *manifests* are Avro container
files — decoded with the self-contained codec in sources/avro_io.py
(Avro files embed their writer schema, so foreign manifests decode
without any schema input).  The resolved data files are then read by
the stock vectorized parquet/orc scan through the format-neutral scan
core the Delta reader shares (sources/tablescan.py: snapshot cache,
hive check, basePath or grouped scan, row address, position-delete
expansion and anti-join, exact ``where_range`` filter).  This module
keeps what is Iceberg's own: metadata and manifest decode, partition
transforms, v3 defaults with their footer-grouped fills and name
aliases, ORC data files, equality deletes and the delete
sequence-number rule.

The read path is the point — ingesting existing lakehouse tables into
the pipeline, INCLUDING v2 merge-on-read: position deletes resolve via
Spark's ``_metadata.file_path``/``row_index`` row addresses (an equi
anti-join gated on data_seq <= delete_seq) and equality deletes via a
sequence-aware key join (strict data_seq < delete_seq, so rows
re-inserted after a delete survive — the spec's rule).  A minimal
writer (append / full overwrite, identity partitioning, spec-shaped v2
metadata with put-if-absent ``vN.metadata.json`` publish) plus
``write_iceberg_deletes`` (equality-delete snapshots — the GDPR /
recall retraction shape) round out the lifecycle; richer mutation
stays with the engine's native stores.

v3 row-content features read natively (r14): TOP-LEVEL field
defaults materialize per file (footer-grouped fills — files written
before the column existed get ``initial-default``, never null) and
PUFFIN deletion vectors decode executor-side through the same
portable roaring parser Delta DVs use.

Honest gates (loud, never a silent wrong answer): format-version 4+,
v3 ``initial-default`` on NESTED fields, unknown data_file content
codes, non-parquet/puffin delete files, data formats other than
parquet/orc, and non-identity partition columns whose values exist
only in metadata.

Scale notes: metadata resolution reads JSON + manifest Avro only —
O(manifest entries), never O(rows) — mirroring Iceberg's own planning
path; identity-partition columns missing from data files are attached
per file group from manifest partition tuples (typed literals, no
shuffle); the data scan itself is the native columnar reader, so
predicate pushdown / column pruning / AQE all apply downstream.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil
from ..localdf import local_df
from .avro_io import read_container_file
from . import tablescan
from .tablescan import norm_path, norm_uri


class IcebergProtocolError(NotImplementedError):
    """Table uses spec features this reader does not implement."""


# ---------------------------------------------------------------------------
# partition transforms (spec "Partition Transforms" + Appendix B hash)
# ---------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) — the hash Iceberg's ``bucket[N]``
    transform mandates (spec Appendix B).  Public-domain algorithm,
    implemented from the published reference."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def murmur3_32_i64_vec(vals):
    """Vectorized murmur3_32 over the 8-byte little-endian form of an
    int64 array (the layout Iceberg hashes for int/long/date/time/
    timestamp — spec Appendix B).  numpy uint32 arithmetic wraps
    exactly like the scalar reference; equality is pinned in tests.
    Returns a uint32 array."""
    import numpy as np
    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    blocks = [(v & np.uint64(0xFFFFFFFF)).astype(np.uint32),
              (v >> np.uint64(32)).astype(np.uint32)]
    h = np.zeros(len(v), dtype=np.uint32)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    for k in blocks:
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)  # length
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _bucket_hash_bytes(value, ice_type: str) -> bytes:
    """The byte layout Iceberg hashes per type (spec Appendix B:
    int/long/date/time/timestamp hash their 64-bit little-endian
    form; strings hash UTF-8; binary hashes raw bytes)."""
    import datetime as _dt
    if ice_type in ("int", "long"):
        return int(value).to_bytes(8, "little", signed=True)
    if ice_type == "date":
        if isinstance(value, _dt.date):
            value = (value - _dt.date(1970, 1, 1)).days
        return int(value).to_bytes(8, "little", signed=True)
    if ice_type in ("timestamp", "timestamptz"):
        return int(_to_epoch_micros(value)).to_bytes(
            8, "little", signed=True)
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "binary":
        return bytes(value)
    raise IcebergProtocolError(
        f"bucket transform over iceberg type {ice_type!r} unsupported")


def _to_epoch_micros(value) -> int:
    import datetime as _dt
    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc) \
                .replace(tzinfo=None)
        return int((value - _dt.datetime(1970, 1, 1)).total_seconds()
                   * 1_000_000)
    if isinstance(value, str):
        return _to_epoch_micros(_dt.datetime.fromisoformat(value))
    return int(value)  # already micros


def _to_date(value):
    import datetime as _dt
    if isinstance(value, _dt.datetime):
        return value.date()
    if isinstance(value, _dt.date):
        return value
    if isinstance(value, str):
        return _dt.date.fromisoformat(value[:10])
    # integer: days from epoch
    return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(value))


_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")


def eval_transform(transform: str, value, ice_type: str):
    """Apply one partition transform to a SOURCE value, producing the
    partition-tuple value a manifest would carry (spec "Partition
    Transforms").  Used for log-side file pruning: a filter on the
    source column becomes an equality test against manifest partition
    tuples, so a time-filtered read of a ``day(ts)``-partitioned table
    opens only that day's files."""
    import datetime as _dt
    if value is None:
        return None
    t = transform.lower()
    if t == "identity":
        return value
    if t == "void":
        return None
    m = _TRANSFORM_RE.match(t)
    if m:
        kind, n = m.group(1), int(m.group(2))
        if kind == "bucket":
            return (murmur3_32(_bucket_hash_bytes(value, ice_type))
                    & 0x7FFFFFFF) % n
        # truncate
        if ice_type in ("int", "long"):
            v = int(value)
            return v - (((v % n) + n) % n)
        if ice_type == "string":
            return str(value)[:n]
        raise IcebergProtocolError(
            f"truncate over iceberg type {ice_type!r} unsupported")
    if t in ("year", "years", "month", "months", "day", "days",
             "hour", "hours"):
        if t in ("hour", "hours"):
            return _to_epoch_micros(value) // 3_600_000_000
        d = _to_date(value)
        if t in ("year", "years"):
            return d.year - 1970
        if t in ("month", "months"):
            return (d.year - 1970) * 12 + (d.month - 1)
        return (d - _dt.date(1970, 1, 1)).days
    raise IcebergProtocolError(
        f"partition transform {transform!r} unsupported")


@dataclass
class IcebergSnapshot:
    path: str
    snapshot_id: int
    schema: T.StructType
    partition_spec: list[dict]
    files: list[dict] = field(repr=False)  # {path,format,partition,records,seq}
    metadata: dict = field(default_factory=dict, repr=False)
    delete_files: list[dict] = field(default_factory=list, repr=False)

    @property
    def file_paths(self) -> list[str]:
        return sorted(f["path"] for f in self.files)


_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")

_PRIMITIVE_TYPES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _to_spark_type(ice) -> T.DataType:
    if isinstance(ice, str):
        if ice in _PRIMITIVE_TYPES:
            return _PRIMITIVE_TYPES[ice]
        m = _DECIMAL_RE.match(ice)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        m = _FIXED_RE.match(ice)
        if m:
            return T.BinaryType()
        raise IcebergProtocolError(f"iceberg type {ice!r} unsupported")
    t = ice.get("type")
    if t == "struct":
        return T.StructType([
            T.StructField(f["name"], _to_spark_type(f["type"]),
                          not f.get("required", False))
            for f in ice["fields"]])
    if t == "list":
        return T.ArrayType(_to_spark_type(ice["element"]),
                           not ice.get("element-required", False))
    if t == "map":
        return T.MapType(_to_spark_type(ice["key"]),
                         _to_spark_type(ice["value"]),
                         not ice.get("value-required", False))
    raise IcebergProtocolError(f"iceberg type {ice!r} unsupported")


def _normalize_path(p: str, table: str) -> str:
    if p.startswith("file:"):
        return fsutil._strip_file_scheme(p)
    if "://" in p or os.path.isabs(p):
        return p
    return os.path.join(table, p)


def _current_metadata_file(table: str, spark) -> str:
    meta_dir = os.path.join(table, "metadata")
    hint = fsutil.read_text(os.path.join(meta_dir, "version-hint.text"),
                            spark)
    names = fsutil.list_dir(meta_dir, spark)
    if hint is not None:
        v = hint.strip()
        for cand in (f"v{v}.metadata.json",):
            if cand in names:
                return os.path.join(meta_dir, cand)
    # no (or stale) hint: newest by embedded version number — handles
    # both HadoopCatalog (vN.metadata.json) and object-store layouts
    # (NNNNN-<uuid>.metadata.json)
    best, best_v = None, -1
    for n in names:
        if not n.endswith(".metadata.json"):
            continue
        m = re.match(r"^v?(\d+)", n)
        v = int(m.group(1)) if m else 0
        if v > best_v:
            best, best_v = n, v
    if best is None:
        raise FileNotFoundError(
            f"not an Iceberg table (no metadata json): {table}")
    return os.path.join(meta_dir, best)


def _schema_from_metadata(meta: dict) -> tuple[T.StructType, dict]:
    """(spark schema, field-id -> name) for the CURRENT schema."""
    if "schemas" in meta:
        cur = meta.get("current-schema-id", 0)
        ice = next(s for s in meta["schemas"]
                   if s.get("schema-id", 0) == cur)
    else:
        ice = meta["schema"]  # format v1
    by_id = {f["id"]: f["name"] for f in ice["fields"]}
    return _to_spark_type(ice), by_id


# manifests at or above this count decode in executors (below it, a
# driver loop avoids the job-scheduling overhead for small tables)
_PARALLEL_MANIFEST_THRESHOLD = 5


def _bounds_value(m, fid: int):
    """One field's value out of a manifest int-keyed map, whichever
    shape the writer schema decoded to (array-of-{key,value} — the
    spec encoding — or a plain dict)."""
    if m is None:
        return None
    if isinstance(m, dict):
        v = m.get(fid)
        return v if v is not None else m.get(str(fid))
    for kv in m:
        try:
            if int(kv.get("key")) == fid:
                return kv.get("value")
        except (TypeError, ValueError):
            return None
    return None


def _bounds_overlap(df_rec: dict, range_tests: list) -> bool:
    """Data-skipping test on a data_file's lower/upper bounds: False
    only when the bounds PROVE no row lands in every requested range.
    Missing maps, missing fields, or undecodable values keep the file
    — skipping is an I/O reduction, never a correctness call."""
    lob = df_rec.get("lower_bounds")
    upb = df_rec.get("upper_bounds")
    for fid, tt, lo, hi in range_tests:
        f_lo = _single_value_from_bytes(_bounds_value(lob, fid), tt)
        f_hi = _single_value_from_bytes(_bounds_value(upb, fid), tt)
        try:
            if lo is not None and f_hi is not None and f_hi < lo:
                return False
            if hi is not None and f_lo is not None and f_lo > hi:
                return False
        except TypeError:  # unorderable foreign value — keep
            continue
    return True


def _manifest_partials(table: str, entries: list, content: int,
                       ml_seq, snap_seq: int,
                       tests: Optional[list],
                       range_tests: Optional[list] = None
                       ) -> tuple[list, list]:
    """One manifest's live entries -> (data files, delete files),
    applying sequence inheritance and (optionally) partition-tuple
    pruning tests so non-matching entries never leave the decoder —
    in the executor-parallel path that means the driver receives only
    the PRUNED file list.  ``range_tests`` ([(field id, ice type, lo,
    hi)], comparison domain of ``_single_value_from_bytes``) skip
    DATA files on their column bounds; delete files never range-prune
    (they must keep applying to every surviving data file)."""
    files: list = []
    dels: list = []
    for e in entries:
        status = int(e.get("status") or 0)
        if status == 2:  # DELETED
            continue
        # sequence inheritance (spec v2): entry seq, else the
        # manifest-list entry's.  Beyond that the fallback is
        # ASYMMETRIC by design: seq-less DATA defaults to 0
        # (oldest — a v1/seq-less table's rows must stay
        # deletable), while a seq-less DELETE defaults to the
        # snapshot's seq (newest — it was committed by some
        # snapshot while the data was already present).
        seq = e.get("sequence_number")
        if seq is None:
            seq = ml_seq
        df_rec = e["data_file"]
        fcontent = int(df_rec.get("content") or 0)
        fmt = str(df_rec.get("file_format") or "PARQUET").lower()
        pv = dict(df_rec.get("partition") or {})
        if fcontent == 0:
            if content != 0:
                raise IcebergProtocolError(
                    "data file inside a delete manifest")
            if fmt not in ("parquet", "orc"):
                raise IcebergProtocolError(
                    f"data file format {fmt!r} unsupported")
            if tests and not all(_pv_matches(pv.get(n), v)
                                 for n, v in tests):
                continue
            if range_tests and not _bounds_overlap(df_rec,
                                                   range_tests):
                continue
            files.append({
                "path": _normalize_path(df_rec["file_path"], table),
                "format": fmt,
                "partition": pv,
                "records": int(df_rec.get("record_count") or 0),
                "seq": int(seq if seq is not None else 0),
            })
        elif fcontent in (1, 2):  # position / equality deletes
            if fmt == "puffin" and fcontent == 1:
                # v3 deletion vector: a puffin blob addressed by
                # (content_offset, content_size_in_bytes), scoped to
                # ONE data file (referenced_data_file) — decoded
                # executor-side by _pos_delete_rows
                ref = df_rec.get("referenced_data_file")
                if not ref:
                    raise IcebergProtocolError(
                        "puffin deletion vector without "
                        "referenced_data_file")
                dels.append({
                    "path": _normalize_path(df_rec["file_path"],
                                            table),
                    "content": 1, "format": "puffin",
                    "seq": int(seq if seq is not None else snap_seq),
                    "partition": pv, "equality_ids": [],
                    "referenced": _normalize_path(ref, table),
                    "offset": int(df_rec.get("content_offset") or 0),
                    "size": int(df_rec.get("content_size_in_bytes")
                                or 0),
                })
                continue
            if fmt != "parquet":
                raise IcebergProtocolError(
                    f"delete file format {fmt!r} unsupported")
            # delete files prune only when their tuple EXPLICITLY
            # carries a mismatching value (global deletes always apply)
            if tests and not all(n not in pv
                                 or _pv_matches(pv.get(n), v)
                                 for n, v in tests):
                continue
            dels.append({
                "path": _normalize_path(df_rec["file_path"], table),
                "content": fcontent, "format": "parquet",
                "seq": int(seq if seq is not None else snap_seq),
                "partition": pv,
                "equality_ids": list(
                    df_rec.get("equality_ids") or []),
            })
        else:
            raise IcebergProtocolError(
                f"unknown data_file content {fcontent}")
    return files, dels


# session snapshot cache (sources/tablescan.py): a resolved (metadata
# text, target snapshot) is immutable, so commit-heavy
# write→read→read lifecycles decode each manifest set once per session
# instead of once per step.  The metadata TEXT hash is the fingerprint
# (recreation-safe); filtered resolutions bypass it.
_ICE_SNAPSHOT_CACHE = tablescan.SnapshotCache()
# the target of an unpinned read: (snapshot_id, as_of_timestamp_ms)
_CURRENT = (None, None)


def _ice_warm_post_commit(spark, table: str,
                          old_text: Optional[str], new_text: str,
                          new_files: list, new_deletes: list,
                          *, carry_old: bool) -> None:
    """Derive and cache the post-commit snapshot from the writer's
    own state (the Delta post-commit pattern): the next read then
    resolves with ZERO manifest decode.  ``carry_old`` extends the
    PRE-commit cached snapshot's file lists (append/delete shape);
    without a cached pre-state the warm is skipped and the next read
    simply decodes.  Best-effort — never breaks a published commit."""
    try:
        meta = json.loads(new_text)
        schema, _ = _schema_from_metadata(meta)
        specs = {s["spec-id"]: s["fields"]
                 for s in meta.get("partition-specs", [])}
        spec_fields = specs.get(int(meta.get("default-spec-id", 0)),
                                [])
        files, dels = list(new_files), list(new_deletes)
        if carry_old:
            if old_text is None:
                return
            old = _ICE_SNAPSHOT_CACHE.get(
                spark, table, _CURRENT, tablescan.fingerprint(old_text))
            if old is None:
                return
            files = list(old.files) + files
            dels = list(old.delete_files) + dels
        _ICE_SNAPSHOT_CACHE.put(
            spark, table, _CURRENT, tablescan.fingerprint(new_text),
            IcebergSnapshot(table,
                            int(meta["current-snapshot-id"]),
                            schema, spec_fields, files, meta,
                            delete_files=dels))
    except Exception:
        return


def iceberg_snapshot(spark: SparkSession, table: str, *,
                     snapshot_id: Optional[int] = None,
                     as_of_timestamp_ms: Optional[int] = None,
                     partition_filter: Optional[dict] = None,
                     range_tests: Optional[list] = None
                     ) -> IcebergSnapshot:
    """Resolve an Iceberg snapshot to its live data-file list.  Reads
    metadata JSON + manifest Avro only (O(manifest entries)).

    Manifests decode IN EXECUTORS when there are enough of them to
    matter (one task per manifest — planning parallelism scales with
    the manifest count, mirroring Iceberg's own distributed planning);
    with ``partition_filter`` the transform-pruning tests are pushed
    into that decode, so the driver materializes only the pruned
    entry list.  ``range_tests`` ([(field id, ice type, lo, hi)] in
    the Appendix-D comparison domain — see
    ``read_iceberg(where_range=)``) data-skip files on their manifest
    column bounds inside the same decode."""
    meta_file = _current_metadata_file(table, spark)
    meta_text = fsutil.read_text(meta_file, spark)
    # a published metadata JSON is immutable (put-if-absent commit
    # rule), so the resolved snapshot — manifest decode included — is
    # reusable for the session; the TEXT hash fingerprints the entry,
    # so a table recreated at the same path can never serve a stale
    # snapshot.  Pruned resolutions (partition or range tests) are
    # parameterized by their filters and bypass the cache — pruning
    # stays pushed into the decode.
    cacheable = partition_filter is None and range_tests is None
    target_key = (None if snapshot_id is None else int(snapshot_id),
                  as_of_timestamp_ms)
    fp = tablescan.fingerprint(meta_text)
    if cacheable:
        hit = _ICE_SNAPSHOT_CACHE.get(spark, table, target_key, fp)
        if hit is not None:
            return hit

    def _resolved(snap: IcebergSnapshot) -> IcebergSnapshot:
        if not cacheable:
            return snap
        return _ICE_SNAPSHOT_CACHE.put(spark, table, target_key, fp,
                                       snap)

    meta = json.loads(meta_text)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise IcebergProtocolError(
            f"iceberg format-version {fv} not implemented (v1/v2/v3)")
    if fv == 3:
        # v3 row-content features (r14): field defaults materialize
        # on the read path (_field_defaults + footer-grouped fills
        # in _scan_snapshot_files) for top-level fields AND direct
        # children of top-level structs; puffin deletion vectors
        # decode in _pos_delete_rows; row-lineage fields are
        # reader-ignorable.  DEEPER defaults (struct-in-struct,
        # list/map element defaults) stay a loud gate — the fill
        # machinery rebuilds one struct level.
        for s in meta.get("schemas", []):
            for f in s.get("fields", []):
                t = f.get("type")
                if not isinstance(t, dict):
                    continue
                if t.get("type") == "struct":
                    deep = [ch for ch in t.get("fields", [])
                            if isinstance(ch.get("type"), dict)
                            and '"initial-default"'
                            in json.dumps(ch["type"])]
                    if deep:
                        raise IcebergProtocolError(
                            f"iceberg v3 initial-default nested "
                            f"deeper than one struct level under "
                            f"{f.get('name')!r} not implemented")
                elif '"initial-default"' in json.dumps(t):
                    raise IcebergProtocolError(
                        f"iceberg v3 initial-default inside "
                        f"non-struct nested field {f.get('name')!r} "
                        "not implemented")
    schema, _ = _schema_from_metadata(meta)
    specs = {s["spec-id"]: s["fields"]
             for s in meta.get("partition-specs", [])}
    if not specs and "partition-spec" in meta:  # v1 inline
        specs = {0: meta["partition-spec"]}

    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError("snapshot_id and as_of_timestamp_ms are "
                             "mutually exclusive")
        eligible = [s for s in snaps.values()
                    if int(s.get("timestamp-ms") or 0)
                    <= int(as_of_timestamp_ms)]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before {as_of_timestamp_ms} ms")
        snapshot_id = max(eligible,
                          key=lambda s: (int(s.get("timestamp-ms")
                                             or 0),
                                         int(s["snapshot-id"])
                                         ))["snapshot-id"]
    target = (int(snapshot_id) if snapshot_id is not None
              else meta.get("current-snapshot-id"))
    if target is None or int(target) == -1 or not snaps:
        return _resolved(IcebergSnapshot(
            table, -1, schema, specs.get(0, []), [], meta))
    if int(target) not in snaps:
        raise ValueError(f"snapshot {target} not in table metadata "
                         f"(have {sorted(snaps)})")
    snap = snaps[int(target)]

    tests_by_spec = None
    if partition_filter:
        default_sid = int(meta.get("default-spec-id", 0))
        tests_by_spec = {
            sid: _partition_tests(meta, fields, partition_filter,
                                  strict=(sid == default_sid))
            for sid, fields in specs.items()}

    if "manifest-list" in snap:
        ml_path = _normalize_path(snap["manifest-list"], table)
        _, ml_entries = read_container_file(ml_path, spark)
    else:  # v1 alternative: inline manifest paths
        ml_entries = [{"manifest_path": p, "content": 0}
                      for p in snap.get("manifests", [])]

    snap_seq = int(snap.get("sequence-number") or 0)
    # (manifest path, content, ml seq, spec id) work list
    work = []
    spec_fields = specs.get(0, [])
    for ent in ml_entries:
        sid = int(ent.get("partition_spec_id") or 0)
        spec_fields = specs.get(sid, spec_fields)
        work.append((_normalize_path(ent["manifest_path"], table),
                     int(ent.get("content") or 0),
                     ent.get("sequence_number"), sid))

    files: list[dict] = []
    delete_files: list[dict] = []
    if len(work) < _PARALLEL_MANIFEST_THRESHOLD:
        for m_path, content, ml_seq, sid in work:
            _, entries = read_container_file(m_path, spark)
            tests = tests_by_spec.get(sid) if tests_by_spec else None
            f, d = _manifest_partials(table, entries, content,
                                      ml_seq, snap_seq, tests,
                                      range_tests)
            files.extend(f)
            delete_files.extend(d)
    else:
        tb, tests_bc, ranges_bc = table, tests_by_spec, range_tests

        def _decode(batches):
            import pandas as pd
            from .avro_io import read_container as _rc
            from .avro_table import _read_bytes_anywhere as _rb
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    _, entries = _rc(_rb(row.m_path))
                    tests = (tests_bc.get(int(row.sid))
                             if tests_bc else None)
                    f, d = _manifest_partials(
                        tb, entries, int(row.content),
                        None if pd.isna(row.ml_seq)
                        else int(row.ml_seq),
                        snap_seq, tests, ranges_bc)
                    out = ([("f", json.dumps(x)) for x in f]
                           + [("d", json.dumps(x)) for x in d])
                    if out:
                        yield pd.DataFrame(out,
                                           columns=["kind", "rec"])

        wdf = local_df(
            spark, [(p, c, s, sid) for p, c, s, sid in work],
            "m_path string, content int, ml_seq long, sid int")
        n_tasks = max(1, min(len(work),
                             spark.sparkContext.defaultParallelism))
        for r in (wdf.repartition(n_tasks)
                  .mapInPandas(_decode, "kind string, rec string")
                  .collect()):
            rec = json.loads(r["rec"])
            (files if r["kind"] == "f" else delete_files).append(rec)
    return _resolved(IcebergSnapshot(
        table, int(target), schema, spec_fields, files, meta,
        delete_files=delete_files))


def _ice_field_types(meta: dict) -> dict:
    """Current-schema field name -> iceberg type (primitive string or
    nested dict)."""
    if "schemas" in meta:
        cur = meta.get("current-schema-id", 0)
        ice = next(s for s in meta["schemas"]
                   if s.get("schema-id", 0) == cur)
    else:
        ice = meta["schema"]
    return {f["name"]: f["type"] for f in ice["fields"]}


def _pv_matches(a, b) -> bool:
    """Tolerant partition-tuple equality (Avro decodes ints, filters
    may carry strings)."""
    if a == b:
        return True
    if a is None or b is None:
        return False
    return str(a) == str(b)


def _partition_tests(meta: dict, spec_fields: list,
                     partition_filter: dict, *,
                     strict: bool = True) -> list:
    """The (partition field name, expected tuple value) equality tests
    a filter implies under one partition spec.  Keys may be source
    column names (the transform is applied to the value) or partition
    field names (raw tuple match); equality is the only supported
    predicate."""
    _, by_id = _schema_from_metadata(meta)
    types = _ice_field_types(meta)
    if strict:
        spec_names = {f["name"] for f in spec_fields}
        src_names = {by_id.get(f["source-id"]) for f in spec_fields}
        unknown = [k for k in partition_filter
                   if k not in spec_names and k not in src_names]
        if unknown:
            raise ValueError(
                f"partition_filter keys {sorted(unknown)} match "
                f"neither a partition field {sorted(spec_names)} nor "
                "a partition source column "
                f"{sorted(n for n in src_names if n)}")
    tests = []
    for f in spec_fields:
        fname, transform = f["name"], f.get("transform", "identity")
        src = by_id.get(f["source-id"])
        if fname in partition_filter:
            tests.append((fname, partition_filter[fname]))
        elif src in partition_filter:
            ice_t = types.get(src)
            if not isinstance(ice_t, str):
                raise IcebergProtocolError(
                    f"cannot prune on nested source column {src!r}")
            tests.append((fname, eval_transform(
                transform, partition_filter[src], ice_t)))
    return tests


def _prune_by_partition(snap: IcebergSnapshot,
                        partition_filter: dict) -> IcebergSnapshot:
    """Evaluate partition transforms against the filter's SOURCE
    values and drop files whose manifest partition tuples can't match
    — the metadata-only pruning Iceberg planning does, so a
    day(ts)-filtered read of a day-partitioned table opens only that
    day's files.  Pruning is a FILE operation with superset
    semantics: surviving files may hold other rows (bucket/truncate/
    temporal grouping), so callers still apply their row filter."""
    tests = _partition_tests(snap.metadata, snap.partition_spec,
                             partition_filter)
    if not tests:
        return snap
    files = [x for x in snap.files
             if all(_pv_matches(x["partition"].get(n), v)
                    for n, v in tests)]
    # delete files prune only when their tuple EXPLICITLY carries a
    # mismatching value (global/unpartitioned deletes always apply)
    dels = [x for x in snap.delete_files
            if all(n not in (x.get("partition") or {})
                   or _pv_matches(x["partition"].get(n), v)
                   for n, v in tests)]
    return IcebergSnapshot(snap.path, snap.snapshot_id, snap.schema,
                           snap.partition_spec, files, snap.metadata,
                           delete_files=dels)


def _parse_default(ice_type, raw):
    """Iceberg JSON single-value serialization -> python literal for
    ``F.lit`` (the v3 ``initial-default`` read contract)."""
    import datetime as _dt
    import decimal as _decimal
    t = ice_type
    if not isinstance(t, str):
        raise IcebergProtocolError(
            "non-primitive initial-default not implemented")
    if raw is None:
        return None
    if t == "boolean":
        return bool(raw)
    if t in ("int", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t in ("string", "uuid"):
        return str(raw)
    if t == "date":
        return _dt.date.fromisoformat(raw)
    if t == "timestamp":
        return _dt.datetime.fromisoformat(raw)
    if t == "timestamptz":
        return _dt.datetime.fromisoformat(
            str(raw).replace("Z", "+00:00"))
    if _DECIMAL_RE.match(t):
        return _decimal.Decimal(str(raw))
    if t == "binary" or _FIXED_RE.match(t):
        return bytes.fromhex(raw)
    raise IcebergProtocolError(
        f"initial-default for type {t!r} not implemented")


def _field_defaults(meta: dict) -> dict:
    """name -> (spark type, python literal) for current-schema fields
    carrying a v3 ``initial-default`` — the value rows from files
    written BEFORE the field existed must read as (``write-default``
    is writer-side only and ignored on read).  Covers top-level
    fields and direct children of top-level structs (dotted
    ``parent.child`` keys); deeper nesting gates in
    :func:`iceberg_snapshot`."""
    cur = next((s for s in meta.get("schemas", [])
                if s.get("schema-id", 0)
                == meta.get("current-schema-id", 0)), None)
    out = {}
    for f in (cur or {}).get("fields", []):
        if "initial-default" in f:
            out[f["name"]] = (
                _to_spark_type(f["type"]),
                _parse_default(f["type"], f["initial-default"]))
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            for ch in t.get("fields", []):
                if "initial-default" in ch:
                    out[f"{f['name']}.{ch['name']}"] = (
                        _to_spark_type(ch["type"]),
                        _parse_default(ch["type"],
                                       ch["initial-default"]))
    return out


def _tree_has(tree: list, dotted: str) -> bool:
    """True when a footer field-node tree contains ``dotted``
    (``a`` or ``a.b`` — each segment matched by name)."""
    nodes = tree
    for part in dotted.split("."):
        n = next((x for x in nodes if x["n"] == part), None)
        if n is None:
            return False
        nodes = n["c"]
    return True


def _footer_presence(spark, snap: IcebergSnapshot, files: list,
                     dcols: list) -> dict:
    """normalized data-file path -> frozenset of ``dcols`` the file's
    parquet footer actually contains (executor-parallel, memoized on
    the snapshot) — the per-FILE fact deciding whether a default
    fills in.  A merged-schema scan can't tell: a column present in
    SOME files reads null (not the default) for the others.  Entries
    may be dotted (``parent.child`` — nested v3 defaults); matching
    walks the footer's field-node tree."""
    from . import footers
    cache = snap.__dict__.setdefault("_footer_tree_cache", {})
    todo = [f for f in files
            if norm_path(f["path"]) not in cache]
    if todo:
        if any(f["format"] != "parquet" for f in todo):
            raise IcebergProtocolError(
                "per-file footer projection (v3 field defaults / "
                "schema evolution) over non-parquet data files "
                "not implemented")
        for p, tree in footers.footer_nodes(
                spark, sorted({f["path"] for f in todo})).items():
            cache[norm_path(p)] = tree
    return {norm_path(f["path"]): frozenset(
                c for c in dcols
                if _tree_has(cache[norm_path(f["path"])], c))
            for f in files}


def _name_aliases(meta: dict) -> dict:
    """current field name -> [historical names] from the spec's
    ``schema.name-mapping.default`` property — how files written
    before a RENAME keep resolving when data carries no field ids."""
    props = meta.get("properties") or {}
    raw = props.get("schema.name-mapping.default")
    if not raw:
        return {}
    try:
        nm = json.loads(raw)
    except ValueError:
        return {}
    ice = _current_ice_schema(meta)
    by_id = {int(f["id"]): f["name"] for f in ice["fields"]}
    out = {}
    for e in nm:
        try:
            cur = by_id.get(int(e.get("field-id", -1)))
        except (TypeError, ValueError):
            continue
        if cur is None:
            continue
        others = [n for n in (e.get("names") or []) if n != cur]
        if others:
            out[cur] = others
    return out


def _apply_fills(d: DataFrame, snap: IcebergSnapshot,
                 fills: dict) -> DataFrame:
    """Apply one file group's default fills: top-level columns become
    typed literals; dotted ``parent.child`` entries rebuild the
    parent struct in SCHEMA order (present children read through,
    filled children get the default literal, and a null parent row
    stays null — a default fills the missing FIELD, it does not
    conjure a struct)."""
    top = {c: fv for c, fv in fills.items() if "." not in c}
    for c, (dt, v) in top.items():
        d = d.withColumn(c, F.lit(v).cast(dt))
    nested: dict = {}
    for c, fv in fills.items():
        if "." in c:
            p, ch = c.split(".", 1)
            nested.setdefault(p, {})[ch] = fv
    for p, chmap in nested.items():
        st = snap.schema[p].dataType
        rebuilt = F.struct(*[
            (F.lit(chmap[f.name][1]).cast(f.dataType)
             if f.name in chmap
             else F.col(p).getField(f.name)).alias(f.name)
            for f in st.fields])
        d = d.withColumn(
            p, F.when(F.col(p).isNull(),
                      F.lit(None).cast(st)).otherwise(rebuilt))
    return d


def _scan_snapshot_files(spark: SparkSession,
                         snap: IcebergSnapshot, files: list, *,
                         with_meta: bool,
                         _fills: Optional[dict] = None,
                         _renames: Optional[dict] = None
                         ) -> DataFrame:
    """Table-schema scan over a SUBSET of a snapshot's data files
    (identity partition columns re-attached from manifest tuples when
    absent from the data).  ``with_meta`` appends the
    ``tablescan.ROW_FILE``/``ROW_POS`` row address for delete merging.

    v3 field defaults + schema evolution: when the current schema
    carries top-level ``initial-default`` values, OR the table has
    evolved (>1 schema in the metadata — files written before a
    column was added lack it), files are grouped by which of the
    affected columns their FOOTER contains; each group lacking a
    column gets the default as a literal (``_fills``) — a typed NULL
    for defaultless evolved columns.  Identity partition sources are
    excluded (metadata-only partition columns re-attach from manifest
    tuples, not fills).  The footer probe is metadata-scale,
    executor-parallel, and memoized on the immutable snapshot."""
    import dataclasses as _dc
    want = [f.name for f in snap.schema.fields]
    if _fills is None:
        defaults = dict(_field_defaults(snap.metadata))
        aliases = _name_aliases(snap.metadata)
        if len(snap.metadata.get("schemas") or []) > 1:
            ident = {f["name"] for f in snap.partition_spec
                     if f.get("transform") == "identity"}
            for f in snap.schema.fields:
                if f.name not in defaults and f.name not in ident:
                    defaults[f.name] = (f.dataType, None)
        for c in aliases:
            if c in [f.name for f in snap.schema.fields] \
                    and c not in defaults:
                defaults[c] = (snap.schema[c].dataType, None)
        if defaults:
            dotted_parents = {c.split(".", 1)[0]
                              for c in defaults if "." in c}
            probe = (list(defaults)
                     + [n for c in defaults
                        for n in aliases.get(c, [])]
                     + sorted(dotted_parents))
            present = _footer_presence(spark, snap, files, probe)
            groups: dict = {}
            for f in files:
                groups.setdefault(
                    present[norm_path(f["path"])], []).append(f)
            parts = []
            for key, fgroup in sorted(groups.items(),
                                      key=lambda kv: sorted(kv[0])):
                fills, renames = {}, {}
                for c in defaults:
                    if c in key:
                        continue
                    if "." in c:
                        p = c.split(".", 1)[0]
                        if p not in key:
                            # the whole parent struct predates these
                            # files: the parent reads null (a child
                            # default fills a missing FIELD inside
                            # existing parents, it does not conjure
                            # structs)
                            fills[p] = (snap.schema[p].dataType,
                                        None)
                            continue
                    old = next((n for n in aliases.get(c, [])
                                if n in key), None)
                    if old is not None:
                        renames[c] = old   # pre-rename file: alias
                    else:
                        fills[c] = defaults[c]
                parts.append(_scan_snapshot_files(
                    spark, snap, fgroup, with_meta=with_meta,
                    _fills=fills, _renames=renames))
            return tablescan.union_all(parts)
        _fills = {}
    sub = _dc.replace(snap, files=list(files))
    parts = []
    for fmt in ("parquet", "orc"):
        paths = [f["path"] for f in files if f["format"] == fmt]
        if not paths:
            continue
        # recursiveFileLookup disables hive partition INFERENCE on
        # explicit file lists — converted-in-place files and later
        # appends live at different depths, which inference rejects
        # (identity partition columns re-attach from manifests below)
        d = _renamed(spark.read.option("recursiveFileLookup", "true")
                     .format(fmt).load(paths), _renames or {})
        missing = [c for c in want
                   if c not in d.columns and c not in _fills]
        if missing:
            # rebuilds the scan from the file list, so defaults are
            # applied AFTER it (fill columns are not in ``missing``).
            # Fills apply UNCONDITIONALLY: group membership proves
            # the files lack the column — the attach fast path's
            # explicit schema may have null-injected it, and that
            # null must become the default, not survive it.
            d = _attach_identity_partitions(
                spark, sub, fmt, missing, with_meta=with_meta,
                renames=_renames)
        elif with_meta:
            d = tablescan.with_row_address(d)
        d = _apply_fills(d, snap, _fills)
        parts.append(d.select(
            *[F.col(c).cast(snap.schema[c].dataType) for c in want],
            *([tablescan.ROW_FILE, tablescan.ROW_POS]
              if with_meta else [])))
    return tablescan.union_all(parts)


def _build_range_tests(spark: SparkSession, table: str,
                       where_range: dict) -> list:
    """``where_range`` -> [(field id, ice type, lo, hi)] in the
    Appendix-D comparison domain (dates -> epoch days, timestamps ->
    epoch micros).  Columns must be top-level primitives of the
    CURRENT schema."""
    meta = json.loads(fsutil.read_text(
        _current_metadata_file(table, spark), spark))
    if "schemas" in meta:
        cur = meta.get("current-schema-id", 0)
        ice = next(s for s in meta["schemas"]
                   if s.get("schema-id", 0) == cur)
    else:
        ice = meta["schema"]
    by_name = {f["name"]: f for f in ice["fields"]}
    out = []
    for c, (lo, hi) in where_range.items():
        f = by_name.get(c)
        if f is None:
            raise ValueError(
                f"where_range column {c!r} not in table schema "
                f"{sorted(by_name)}")
        tt = f["type"]
        if not isinstance(tt, str):
            raise ValueError(
                f"where_range column {c!r} is nested "
                f"({json.dumps(tt)[:60]}…) — bounds pruning covers "
                "top-level primitives")
        out.append((int(f["id"]), tt,
                    _range_comparable(lo, tt),
                    _range_comparable(hi, tt)))
    return out


def read_iceberg(spark: SparkSession, table: str, *,
                 snapshot_id: Optional[int] = None,
                 as_of_timestamp_ms: Optional[int] = None,
                 partition_filter: Optional[dict] = None,
                 where_range: Optional[dict] = None) -> DataFrame:
    """Read an Iceberg table snapshot as a DataFrame.

    Data files normally embed every column (Iceberg writers store
    identity-partition columns in the data); when a table carries
    metadata-only identity partition columns, they are re-attached per
    file group from the manifest partition tuples.  Non-identity
    transforms (bucket/truncate/days/…) never lose source columns, so
    no reconstruction is needed for them.

    ``partition_filter`` ({source column or partition field: value})
    prunes files against manifest partition tuples BEFORE any data
    file is listed or opened, evaluating the spec's transforms
    (identity/bucket/truncate/year/month/day/hour) on source values —
    see :func:`_prune_by_partition` for semantics.  The tests are
    pushed into the manifest decode itself, so on the
    executor-parallel planning path the driver only ever receives the
    pruned entry list.

    ``where_range`` ({data column: (lo, hi)}, ``None`` = unbounded
    side) is DATA SKIPPING + the predicate: files whose manifest
    ``lower_bounds``/``upper_bounds`` prove no row can land in
    [lo, hi] are dropped inside the same manifest decode (never
    listed or opened), and surviving rows are filtered EXACTLY
    (``col >= lo AND col <= hi``, SQL semantics: nulls excluded) —
    the result always equals a full scan with the same WHERE.  Files
    without bounds for the column always survive to the exact
    filter."""
    range_tests = None
    if where_range:
        range_tests = _build_range_tests(spark, table, where_range)
    snap = iceberg_snapshot(spark, table, snapshot_id=snapshot_id,
                            as_of_timestamp_ms=as_of_timestamp_ms,
                            partition_filter=partition_filter,
                            range_tests=range_tests)
    if not snap.files:
        return local_df(spark, [], snap.schema)
    return tablescan.table_rows(_scan_live(spark, snap), snap.schema,
                                where_range)


def _scan_live(spark, snap: IcebergSnapshot) -> DataFrame:
    """The snapshot's files scanned with its deletes applied
    (merge-on-read: with live delete files, every data row carries its
    row address and data sequence so the delete joins can apply)."""
    with_meta = bool(snap.delete_files)
    out = _scan_snapshot_files(spark, snap, snap.files,
                               with_meta=with_meta)
    return _apply_row_deletes(spark, snap, out) if with_meta else out


def _puffin_positions(desc: dict, cache: dict):
    """Positions of one v3 PUFFIN deletion vector: the blob at
    (offset, size) in the puffin file is a 4-byte BE length, the
    magic-prefixed 64-bit roaring bitmap (the portable bitmap
    ``sources/dv.py`` already parses for Delta) and a 4-byte BE
    CRC-32."""
    import struct
    import zlib

    from .dv import _read_file_bytes, rba_deserialize
    data = cache.get(desc["path"])
    if data is None:
        data = cache[desc["path"]] = _read_file_bytes(desc["path"])
    off = int(desc["offset"])
    blen = struct.unpack_from(">i", data, off)[0]
    body = data[off + 4:off + 4 + blen]
    if len(body) != blen:
        raise ValueError("truncated puffin deletion vector")
    if (zlib.crc32(body) & 0xFFFFFFFF) \
            != struct.unpack_from(">I", data, off + 4 + blen)[0]:
        raise ValueError("puffin deletion vector CRC mismatch")
    return rba_deserialize(body)


def _pos_delete_rows(spark, pos_files: list) -> Optional[DataFrame]:
    """(DEL_FILE, DEL_POS, DEL_SEQ) rows for position deletes of BOTH
    shapes: v2 parquet delete files (file_path/pos columns, scanned as
    data) and v3 PUFFIN deletion vectors — one blob per referenced data
    file, addressed by (content_offset, content_size_in_bytes) from the
    manifest and decoded INSIDE executors
    (``tablescan.position_deletes``)."""
    parts = [spark.read.parquet(f["path"]).select(
                 norm_uri(F.col("file_path")).alias(tablescan.DEL_FILE),
                 F.col("pos").cast("long").alias(tablescan.DEL_POS),
                 F.lit(int(f["seq"])).cast("long").alias(
                     tablescan.DEL_SEQ))
             for f in pos_files
             if f.get("format", "parquet") == "parquet"]
    puff = [(f["referenced"], f["seq"],
             {"path": f["path"], "offset": f["offset"]})
            for f in pos_files if f.get("format") == "puffin"]
    if puff:
        parts.append(tablescan.position_deletes(spark, puff,
                                                _puffin_positions))
    return tablescan.union_all(parts) if parts else None


def _apply_row_deletes(spark, snap: IcebergSnapshot, d: DataFrame):
    """Merge-on-read per the v2 spec: a POSITION delete removes row
    ``pos`` of ``file_path`` when data_seq <= delete_seq; an EQUALITY
    delete removes any row matching its key tuple when
    data_seq < delete_seq (strictly older), so rows re-inserted after
    the delete survive.  Both are joins — position deletes an equi
    anti-join on (file, pos), equality deletes a broadcast-friendly
    key join against per-key max delete sequences."""
    seq_df = local_df(spark, [(norm_path(f["path"]), int(f["seq"]))
                              for f in snap.files],
                      "_ice_p string, _ice_seq long")
    d = (d.join(F.broadcast(seq_df),
                F.col(tablescan.ROW_FILE) == F.col("_ice_p"), "left")
         .drop("_ice_p")
         .withColumn("_ice_seq", F.coalesce("_ice_seq", F.lit(0))))

    pos = [f for f in snap.delete_files if f["content"] == 1]
    if pos:
        d = tablescan.join_positions(
            d, _pos_delete_rows(spark, pos),
            cond=F.col("_ice_seq") <= F.col(tablescan.DEL_SEQ))

    eqs = [f for f in snap.delete_files if f["content"] == 2]
    if eqs:
        _, by_id = _schema_from_metadata(snap.metadata)
        from collections import defaultdict
        groups = defaultdict(list)
        for f in eqs:
            groups[tuple(f["equality_ids"])].append(f)
        for ids, fs in sorted(groups.items()):
            if not ids:
                raise IcebergProtocolError(
                    "equality delete file without equality_ids")
            try:
                names = [by_id[i] for i in ids]
            except KeyError as e:
                raise IcebergProtocolError(
                    f"equality_ids reference unknown field id {e}")
            keys = tablescan.union_all([
                spark.read.parquet(f["path"]).select(
                    *names, F.lit(int(f["seq"])).alias("_dseq"))
                for f in fs])
            agg = (keys.groupBy(*names)
                   .agg(F.max("_dseq").alias("_mds"))
                   .select(*[F.col(n).alias(f"_k_{n}") for n in names],
                           "_mds"))
            cond = None
            for n in names:
                c = d[n].eqNullSafe(agg[f"_k_{n}"])
                cond = c if cond is None else cond & c
            d = (d.join(agg, cond, "left")
                 .where(~(F.col("_mds").isNotNull()
                          & (F.col("_mds") > F.col("_ice_seq"))))
                 .drop("_mds", *[f"_k_{n}" for n in names]))
    return d


def _renamed(d: DataFrame, renames: dict) -> DataFrame:
    """Columns a pre-rename file carries under an old name
    (``renames``: {current name: old name}) read under the current
    one."""
    for new_c, old_c in renames.items():
        if old_c in d.columns and new_c not in d.columns:
            d = d.withColumnRenamed(old_c, new_c)
    return d


def _attach_identity_partitions(spark, snap: IcebergSnapshot,
                                fmt: str, missing: list[str], *,
                                with_meta: bool = False,
                                renames: Optional[dict] = None):
    """Metadata-only partition columns, attached from the manifests'
    partition tuples: one basePath scan when the hive layout agrees
    with them, else one scan per tuple with typed literals (the same
    two scans the Delta reader takes, sources/tablescan.py).
    ``with_meta`` adds the row address for delete merging.
    ``renames`` ({current name: old file-side name}) makes the
    explicit-schema single scan read RENAMED columns under the name the
    files actually carry, then alias back — an explicit schema with
    the new name would silently null-fill them."""
    ident = {f["name"] for f in snap.partition_spec
             if f.get("transform") == "identity"}
    not_identity = [c for c in missing if c not in ident]
    if not_identity:
        raise IcebergProtocolError(
            f"columns {not_identity} absent from data files and not "
            "identity partition fields — cannot reconstruct")
    renames = renames or {}
    files = [(f["path"], f["partition"], "") for f in snap.files
             if f["format"] == fmt]
    if fmt == "parquet" \
            and tablescan.hive_consistent(snap.path, files, missing):
        want = T.StructType(
            [T.StructField(renames.get(f.name, f.name), f.dataType,
                           f.nullable)
             for f in snap.schema.fields])
        return _renamed(tablescan.single_scan(
            spark, snap.path, [f[0] for f in files], want,
            with_meta=with_meta), renames)
    return tablescan.grouped_scan(
        files, missing, {f.name: f.dataType for f in snap.schema},
        lambda paths, _: _renamed(
            spark.read.option("recursiveFileLookup", "true")
            .format(fmt).load(paths), renames),
        with_meta=with_meta)


# ---------------------------------------------------------------------------
# minimal writer (spec-shaped v2: append / full overwrite, identity
# partitioning) — enough to publish pipeline outputs as Iceberg and to
# drive the reader's value-oracled check; rich write features
# (row-level deletes, schema evolution, compaction) stay with the
# native stores
# ---------------------------------------------------------------------------

# Avro "field-id" props below are the spec's REQUIRED manifest field
# ids (Iceberg spec, "Manifests" / "Manifest Lists" tables) — foreign
# engines resolve manifest columns by id, not name.
_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 515},
        {"name": "min_sequence_number", "type": ["null", "long"],
         "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"],
         "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"],
         "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"],
         "field-id": 506},
        {"name": "added_rows_count", "type": ["null", "long"],
         "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"],
         "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"],
         "field-id": 514},
        {"name": "partitions", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "r508", "fields": [
                    {"name": "contains_null", "type": "boolean",
                     "field-id": 509},
                    {"name": "contains_nan",
                     "type": ["null", "boolean"], "field-id": 518},
                    {"name": "lower_bound",
                     "type": ["null", "bytes"], "field-id": 510},
                    {"name": "upper_bound",
                     "type": ["null", "bytes"], "field-id": 511},
                ]}}], "field-id": 507},
    ]}

# Java writes the 504-506 counts as added/existing/deleted_DATA_
# files_count; the spec text names them added/existing/deleted_
# files_count.  Both shapes exist in the wild — carried entries
# resolve either.
_ML_COUNT_ALIASES = {
    "added_data_files_count": ("added_files_count",),
    "existing_data_files_count": ("existing_files_count",),
    "deleted_data_files_count": ("deleted_files_count",),
}


def _ml_row(ent: dict) -> dict:
    """Normalize a manifest-list entry (ours or a decoded FOREIGN one)
    to exactly ``_MANIFEST_LIST_SCHEMA``'s fields, preserving the
    spec's stats/counts/partition-summary columns when the source
    carried them (they ride as nullable unions; our own fresh entries
    fill what they know and null the rest)."""
    out = {}
    for f in _MANIFEST_LIST_SCHEMA["fields"]:
        n = f["name"]
        v = ent.get(n)
        if v is None:
            for alias in _ML_COUNT_ALIASES.get(n, ()):
                v = ent.get(alias)
                if v is not None:
                    break
        out[n] = v
    for req in ("content", "partition_spec_id"):
        out[req] = int(out[req] or 0)
    out["added_snapshot_id"] = int(out["added_snapshot_id"] or 0)
    if out.get("partitions") is not None:
        out["partitions"] = [{
            "contains_null": bool(s.get("contains_null")),
            "contains_nan": s.get("contains_nan"),
            "lower_bound": s.get("lower_bound"),
            "upper_bound": s.get("upper_bound"),
        } for s in out["partitions"]]
    return out


def _int_keyed_map(name: str, kid: int, vid: int,
                   vtype: str) -> dict:
    """The spec's int-keyed map encoding in manifests: an Avro ARRAY
    of key/value records with ``logicalType: map`` (Avro maps only
    take string keys)."""
    return {"type": "array", "logicalType": "map",
            "items": {"type": "record", "name": name, "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": vtype, "field-id": vid}]}}


def _manifest_avro_schema(part_avro_fields: list,
                          with_equality_ids: bool = False,
                          with_dv_refs: bool = False,
                          with_col_stats: bool = False) -> dict:
    """The manifest-entry Avro schema (spec field ids included) over a
    concrete partition-tuple record.  ``with_dv_refs`` adds the v3
    deletion-vector addressing fields (143-145); ``with_col_stats``
    the per-column stats maps (value/null counts, lower/upper bounds
    — spec 109/110/125/128) foreign planners and ``where_range`` prune
    data files on."""
    data_file_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": {
            "type": "record", "name": "r102",
            "fields": part_avro_fields}, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long",
         "field-id": 104},
    ]
    if with_col_stats:
        data_file_fields += [
            {"name": "value_counts",
             "type": ["null", _int_keyed_map("k119_v120", 119, 120,
                                             "long")],
             "field-id": 109},
            {"name": "null_value_counts",
             "type": ["null", _int_keyed_map("k121_v122", 121, 122,
                                             "long")],
             "field-id": 110},
            {"name": "lower_bounds",
             "type": ["null", _int_keyed_map("k126_v127", 126, 127,
                                             "bytes")],
             "field-id": 125},
            {"name": "upper_bounds",
             "type": ["null", _int_keyed_map("k129_v130", 129, 130,
                                             "bytes")],
             "field-id": 128},
        ]
    if with_equality_ids:
        data_file_fields.append(
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int",
                               "element-id": 136}],
             "field-id": 135})
    if with_dv_refs:
        data_file_fields += [
            {"name": "referenced_data_file",
             "type": ["null", "string"], "field-id": 143},
            {"name": "content_offset",
             "type": ["null", "long"], "field-id": 144},
            {"name": "content_size_in_bytes",
             "type": ["null", "long"], "field-id": 145},
        ]
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "field-id": 1},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": data_file_fields}, "field-id": 2}]}

_SPARK_TO_ICE = {T.LongType(): "long", T.IntegerType(): "int",
                 T.StringType(): "string", T.DoubleType(): "double",
                 T.FloatType(): "float", T.BooleanType(): "boolean",
                 T.DateType(): "date", T.BinaryType(): "binary",
                 T.TimestampType(): "timestamptz",
                 T.TimestampNTZType(): "timestamp"}
_ICE_TO_AVRO = {"long": "long", "int": "int", "string": "string",
                "double": "double", "float": "float",
                "boolean": "boolean"}


def _ice_schema_from_spark(schema: T.StructType) -> dict:
    fields = []
    for i, f in enumerate(schema.fields):
        ice = _SPARK_TO_ICE.get(f.dataType)
        if ice is None:
            raise IcebergProtocolError(
                f"write_iceberg: column {f.name!r} type "
                f"{f.dataType.simpleString()} unsupported by the "
                "minimal writer")
        fields.append({"id": i + 1, "name": f.name,
                       "required": False, "type": ice})
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _parse_pv(raw: Optional[str], ice_type: str):
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type == "double":
        return float(raw)
    if ice_type == "boolean":
        return raw == "true"
    return raw


def _single_value_bytes(v, ice_type: str) -> Optional[bytes]:
    """Iceberg Appendix-D BINARY single-value serialization for the
    partition-summary bounds our writers publish (little-endian
    fixed-width numerics, raw UTF-8 strings).  Types outside the
    tuple shapes this writer stages return None (no bound — always a
    SAFE answer for a pruning summary)."""
    import struct as _struct
    if v is None:
        return None
    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "float":
        return _struct.pack("<f", float(v))
    if ice_type == "double":
        return _struct.pack("<d", float(v))
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "date":
        import datetime as _dt
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.date):
            return _struct.pack(
                "<i", (v - _dt.date(1970, 1, 1)).days)
    if ice_type in ("timestamp", "timestamptz"):
        import datetime as _dt
        if isinstance(v, str):  # footer-stats ISO form, Z suffix ok
            v = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc) \
                    .replace(tzinfo=None)
            epoch = _dt.datetime(1970, 1, 1)
            v = int((v - epoch).total_seconds()) * 1_000_000 \
                + v.microsecond
        if isinstance(v, int):
            return _struct.pack("<q", v)
    return None


def _single_value_from_bytes(b: Optional[bytes], ice_type: str):
    """Appendix-D decode — the comparison domain for bounds pruning
    (date -> epoch days, timestamps -> epoch micros).  None for types
    the codec does not model (no bound — never prune on it)."""
    import struct as _struct
    if b is None:
        return None
    b = bytes(b)
    try:
        if ice_type == "int":
            return _struct.unpack("<i", b)[0]
        if ice_type == "long":
            return _struct.unpack("<q", b)[0]
        if ice_type == "float":
            return _struct.unpack("<f", b)[0]
        if ice_type == "double":
            return _struct.unpack("<d", b)[0]
        if ice_type == "boolean":
            return b != b"\x00"
        if ice_type == "string":
            return b.decode("utf-8")
        if ice_type == "date":
            return _struct.unpack("<i", b)[0]
        if ice_type in ("timestamp", "timestamptz"):
            return _struct.unpack("<q", b)[0]
    except (_struct.error, UnicodeDecodeError):
        return None
    return None


def _range_comparable(v, ice_type: str):
    """A user range endpoint in the SAME domain
    ``_single_value_from_bytes`` decodes to."""
    import datetime as _dt
    if v is None:
        return None
    if ice_type == "date":
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            v = v.date()
        return (v - _dt.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if isinstance(v, _dt.date) and not isinstance(v,
                                                      _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        epoch = _dt.datetime(1970, 1, 1)
        return int((v - epoch).total_seconds()) * 1_000_000 \
            + v.microsecond
    return v


def _partition_summaries(entries: list,
                         spec_cols: list) -> Optional[list]:
    """field_summary rows (contains_null / lower / upper) for a
    manifest's ADDED entries, in spec-field order — the
    manifest-list's per-partition pruning metadata (spec field 507).
    Foreign planners skip whole manifests on these bounds, so they
    must be CORRECT or absent: a field whose type the serializer
    does not model gets null bounds (safe), never a wrong bound."""
    if not spec_cols:
        return []
    out = []
    for fname, _tr, _src, tt in spec_cols:
        vals = [e["data_file"].get("partition", {}).get(fname)
                for e in entries]
        nonnull = [v for v in vals if v is not None]
        lo = hi = None
        if nonnull:
            try:
                lo = _single_value_bytes(min(nonnull), tt)
                hi = _single_value_bytes(max(nonnull), tt)
            except TypeError:  # unorderable mix — no bound is safe
                lo = hi = None
        out.append({"contains_null": len(nonnull) != len(vals),
                    "contains_nan": None,
                    "lower_bound": lo, "upper_bound": hi})
    return out


def _normalize_partition_by(partition_by) -> list[tuple[str, str]]:
    """User partition_by entries -> (transform, source column) pairs.
    Strings mean identity; tuples/lists name a transform:
    ``["o_orderstatus", ("bucket[8]", "o_custkey"),
    ("month", "o_orderdate")]``."""
    out = []
    for p in (partition_by or []):
        if isinstance(p, str):
            out.append(("identity", p))
        elif isinstance(p, (tuple, list)) and len(p) == 2:
            out.append((str(p[0]).lower(), str(p[1])))
        else:
            raise ValueError(
                f"partition_by entry {p!r}: want a column name or "
                "(transform, column)")
    return out


def _spec_field_name(transform: str, col: str) -> str:
    """Iceberg's conventional partition field naming (x_bucket,
    x_trunc, x_day, ...)."""
    t = transform.lower()
    if t == "identity":
        return col
    base = t.split("[", 1)[0]
    return f"{col}_{'trunc' if base == 'truncate' else base}"


def _spec_tuple_type(transform: str, ice_type: str) -> str:
    """The iceberg type of a partition-tuple value for a transform
    (spec: bucket and the temporal transforms produce int; truncate
    and identity keep the source type)."""
    t = transform.lower()
    if t == "identity" or t.startswith("truncate"):
        return ice_type
    return "int"


def _transform_col(transform: str, col: str, ice_type: str):
    """The Spark column computing a transform's partition value at
    WRITE time (staging only — readers get values from manifests).
    Temporal/truncate transforms are pure built-in expressions;
    bucket needs the spec's murmur3 and rides a vectorized pandas
    UDF (write-path only, never on reads)."""
    t = transform.lower()
    if t == "identity":
        return F.col(col)
    m = _TRANSFORM_RE.match(t)
    if m and m.group(1) == "bucket":
        n = int(m.group(2))
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def _bucket(s):
            import numpy as np
            import pandas as pd
            if ice_type in ("int", "long"):
                # vectorized: the whole Arrow batch hashes in numpy
                mask = s.notna().to_numpy()
                out = np.empty(len(s), dtype=object)
                if mask.any():
                    vals = s[mask].astype(np.int64).to_numpy()
                    h = murmur3_32_i64_vec(vals)
                    out[mask] = ((h & np.uint32(0x7FFFFFFF))
                                 .astype(np.int64) % n)
                out[~mask] = None
                return pd.Series(out, dtype="Int32")
            return pd.Series(
                [None if v is None else
                 (murmur3_32(_bucket_hash_bytes(v, ice_type))
                  & 0x7FFFFFFF) % n
                 for v in s], dtype="Int32")

        return _bucket(F.col(col))
    if m:  # truncate[W]
        w = int(m.group(2))
        if ice_type in ("int", "long"):
            return (F.col(col)
                    - F.pmod(F.col(col), F.lit(w))).cast("long")
        if ice_type == "string":
            return F.substring(F.col(col), 1, w)
        raise IcebergProtocolError(
            f"truncate over iceberg type {ice_type!r} unsupported")
    if t in ("year", "years", "month", "months", "day", "days",
             "hour", "hours"):
        # Spec semantics: temporal transforms of timestamptz are
        # defined on the UTC instant; timestamp (ntz) and date use
        # the wall-clock fields directly.  Session-timezone functions
        # (F.year on a tz timestamp, unix_timestamp on ntz) would
        # diverge from the read-path pruning (eval_transform, which
        # treats naive values as UTC) near day/month boundaries.
        import datetime as _dt
        if ice_type == "timestamptz":
            micros = F.unix_micros(F.col(col))
            if t in ("hour", "hours"):
                d_us = F.lit(3_600_000_000)
                return ((micros - F.pmod(micros, d_us)) / d_us) \
                    .cast("int")
            d_us = F.lit(86_400_000_000)
            days = ((micros - F.pmod(micros, d_us)) / d_us) \
                .cast("int")
            d = F.date_add(F.lit(_dt.date(1970, 1, 1)), days)
        else:  # timestamp (ntz) or date: wall-clock IS the value
            if t in ("hour", "hours"):
                return (F.datediff(F.col(col).cast("date"),
                                   F.lit("1970-01-01")).cast("long")
                        * 24 + F.hour(F.col(col))).cast("int")
            d = F.col(col).cast("date")
        if t in ("year", "years"):
            return (F.year(d) - F.lit(1970)).cast("int")
        if t in ("month", "months"):
            return ((F.year(d) - F.lit(1970)) * 12
                    + F.month(d) - 1).cast("int")
        return F.datediff(d, F.lit("1970-01-01")).cast("int")
    raise IcebergProtocolError(
        f"partition transform {transform!r} unsupported")


def _parquet_row_count(path: str) -> int:
    """Real record count from the parquet footer (pyarrow; local
    staging paths only — exactly where write_iceberg runs)."""
    import pyarrow.parquet as pq

    from .. import fsutil as _fs
    return int(pq.ParquetFile(
        _fs._strip_file_scheme(path)).metadata.num_rows)


def _spec_columns(spec: list, ice_schema: dict) -> tuple:
    """Per spec field: (tuple-field name, transform, source column,
    tuple iceberg type) — plus the name->type map the stagers need."""
    ice_types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
    spec_cols = []
    for f in spec:
        src = id_to_name[f["source-id"]]
        tr = f.get("transform", "identity")
        spec_cols.append((f["name"], tr, src,
                          _spec_tuple_type(tr, ice_types[src])))
    return spec_cols, ice_types


def _stage_data_entries(df: DataFrame, table: str, spec_cols: list,
                        ice_types: dict,
                        field_stats: Optional[dict] = None) -> list:
    """Stage ``df`` as hive-partitioned parquet under ``data/`` keyed
    by the PARTITION TUPLE values and return the ADDED manifest
    entries (real row counts + file sizes).  Identity staging drops
    the source column from data files (the reader re-attaches it);
    transform staging drops only the computed column and keeps
    sources.  Shared by write_iceberg and the compaction rewriter.

    ``field_stats`` ({column name: (field id, iceberg type)}) turns on
    per-column stats in the entries: value/null counts and
    Appendix-D-encoded lower/upper bounds (spec 109/110/125/128),
    harvested from each staged file's parquet footer — what foreign
    planners and ``read_iceberg(where_range=)`` data-skip on.
    Columns whose footer carries no statistics are simply absent
    (always safe)."""
    import uuid as _uuid
    spark = df.sparkSession
    staging = os.path.join(table, f"_staging_{_uuid.uuid4().hex}")
    staged = df
    for fname, tr, src, _tt in spec_cols:
        if tr != "identity":
            staged = staged.withColumn(
                fname, _transform_col(tr, src, ice_types[src]))
    if spec_cols:
        # hash distribution (Iceberg write.distribution-mode=hash):
        # cluster rows by the partition tuple before the partitioned
        # write so a partition value lands in few tasks and few
        # files — a plain partitionBy over T tasks writes up to T
        # files PER value, and every extra file costs a footer
        # harvest, a manifest entry, and a reader open forever after.
        # REBALANCE rather than a hard repartition (r15, VERDICT r14
        # #2/#3 + ADVICE skew note): a hard repartition on a
        # low-cardinality tuple funnels each value through exactly one
        # task — a hot value becomes one giant serial file (the skew
        # hole), and tiny writes still pay a 32-partition exchange.
        # AQE rebalance clusters by the tuple, COALESCES small values
        # into one task, and SPLITS values above the advisory size
        # into several tasks/files — Iceberg's write.distribution-mode
        # = hash + target-file-size behavior.
        staged = staged.hint(
            "rebalance", *[F.col(fname) for fname, *_ in spec_cols])
    w = staged.write.mode("overwrite")
    if spec_cols:
        w = w.partitionBy(*[fname for fname, *_ in spec_cols])
    w.parquet(staging)
    data_dir = os.path.join(table, "data")
    fsutil.ensure_dir(data_dir, spark)
    tuple_types = {fname: tt for fname, _tr, _s, tt in spec_cols}

    # phase 1: list the staged files (driver, namespace-scale only)
    staged_rels: list[str] = []

    def _walk(rel: str) -> None:
        full = os.path.join(staging, rel) if rel else staging
        for name in fsutil.list_dir(full, spark):
            child_rel = os.path.join(rel, name) if rel else name
            if name.endswith(".parquet"):
                staged_rels.append(child_rel)
            elif "." not in name or "=" in name:
                _walk(child_rel)

    _walk("")

    # phase 2: move every file into data/ (namespace renames, cheap);
    # keep the hive segments under data/ so readers (ours included)
    # can take a single-scan basePath fast path instead of
    # per-partition unions
    moves: list[tuple[str, str]] = []
    ensured: set = set()
    for child_rel in staged_rels:
        subdir = os.path.dirname(child_rel)
        dest_dir = (os.path.join(data_dir, subdir) if subdir
                    else data_dir)
        if dest_dir not in ensured:
            fsutil.ensure_dir(dest_dir, spark)
            ensured.add(dest_dir)
        dest = os.path.join(dest_dir, f"d-{_uuid.uuid4().hex}.parquet")
        fsutil.rename(os.path.join(staging, child_rel), dest, spark)
        moves.append((child_rel, dest))

    # phase 3: footer harvest for ALL files in one executor-parallel
    # pass (footers.footer_stats; driver-side under a handful) — the
    # per-file sequential driver loop this replaces was O(files) with
    # a multi-ms constant and dominated partitioned-write cost
    from .footers import footer_stats
    stats_by_path = footer_stats(spark, [dest for _, dest in moves])

    entries = []
    for child_rel, dest in moves:
        pv = {}
        for seg in child_rel.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                    else v
        st = json.loads(stats_by_path[dest])
        n_rows = int(st["numRecords"])
        col_stats = {}
        if field_stats:
            vc, nvc, lob, upb = [], [], [], []
            for cname, (fid, tt) in field_stats.items():
                if cname in st["nullCount"]:
                    vc.append({"key": fid, "value": n_rows})
                    nvc.append({"key": fid, "value": int(
                        st["nullCount"][cname])})
                if cname in st["minValues"]:
                    lo = _single_value_bytes(
                        st["minValues"][cname], tt)
                    hi = _single_value_bytes(
                        st["maxValues"][cname], tt)
                    if lo is not None and hi is not None:
                        lob.append({"key": fid, "value": lo})
                        upb.append({"key": fid, "value": hi})
            col_stats = {"value_counts": vc,
                         "null_value_counts": nvc,
                         "lower_bounds": lob,
                         "upper_bounds": upb}
        entries.append({
            "status": 1, "snapshot_id": None,
            "data_file": dict({
                "content": 0, "file_path": dest,
                "file_format": "PARQUET",
                "partition": {
                    fname: _parse_pv(pv.get(fname),
                                     tuple_types[fname])
                    for fname, *_ in spec_cols},
                "record_count": n_rows,
                "file_size_in_bytes": int(
                    os.path.getsize(
                        fsutil._strip_file_scheme(dest))
                    if fsutil.is_local(dest) else 0),
            }, **col_stats)})
    fsutil.delete(staging, spark=spark)
    return entries


def write_iceberg(df: DataFrame, table: str, *, mode: str = "append",
                  partition_by: Optional[list] = None,
                  merge_schema: bool = False) -> int:
    """Publish a DataFrame as an Iceberg v2 snapshot; returns the
    snapshot id.  Append adds a manifest on top of the current
    snapshot's manifest list; overwrite starts a fresh manifest list
    (prior snapshots stay time-travelable).  Metadata publish is
    put-if-absent on ``v{N}.metadata.json`` (the HadoopCatalog commit
    rule), so racing writers cannot silently clobber each other.

    ``partition_by`` entries are column names (identity) or
    ``(transform, column)`` pairs — ``("bucket[8]", "o_custkey")``,
    ``("month", "o_orderdate")`` — covering the spec's bucket/
    truncate/year/month/day/hour transforms; transform staging keeps
    source columns IN the data files (the Iceberg norm), so readers
    need no reconstruction and transform pruning works from manifest
    tuples.  Manifests carry REAL record counts and file sizes (from
    parquet footers) plus the spec's Avro field-id annotations, and
    manifest-list entries carry real manifest lengths — foreign
    engines can trust metadata-only planning against our tables."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    mdir = os.path.join(table, "metadata")
    fsutil.ensure_dir(mdir, spark)
    try:
        meta_file = _current_metadata_file(table, spark)
        old_text = fsutil.read_text(meta_file, spark)
        meta = json.loads(old_text)
        cur_version = int(re.match(
            r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    except FileNotFoundError:
        meta = None
        old_text = None
        cur_version = 0

    if meta is None:
        pairs = _normalize_partition_by(partition_by)
        ice_schema = _ice_schema_from_spark(df.schema)
        name_to_id = {f["name"]: f["id"] for f in ice_schema["fields"]}
        unknown = [c for _, c in pairs if c not in name_to_id]
        if unknown:
            raise ValueError(
                f"partition_by columns {unknown} not in the schema")
        spec = [{"name": _spec_field_name(tr, c), "transform": tr,
                 "source-id": name_to_id[c],
                 "field-id": 1000 + i}
                for i, (tr, c) in enumerate(pairs)]
        meta = {"format-version": 2,
                "table-uuid": uuid_hex(table),
                "location": table, "last-sequence-number": 0,
                "last-updated-ms": 0,
                "last-column-id": len(ice_schema["fields"]),
                "current-schema-id": 0, "schemas": [ice_schema],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": spec}],
                "last-partition-id": 1000 + len(spec),
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "current-snapshot-id": -1, "snapshots": []}
    else:
        schema_struct, _ = _schema_from_metadata(meta)
        table_names = [f.name for f in schema_struct.fields]
        extras: list = []
        if merge_schema:
            # the spec's add-column evolution: every existing column
            # must ride the write (old FILES may lack new columns —
            # the scan null-fills those via footer grouping — but new
            # files always carry the full current schema), new write
            # columns append with fresh field ids under a NEW
            # schema-id, and types never change
            absent = [n for n in table_names if n not in df.columns]
            if absent:
                raise ValueError(
                    "merge_schema write must carry every existing "
                    f"table column; missing {absent}")
            extras = [f for f in df.schema.fields
                      if f.name not in table_names]
            df = df.select(*table_names,
                           *[f.name for f in extras])
        elif [f.name for f in df.schema.fields] != table_names:
            raise ValueError(
                "schema mismatch: write columns "
                f"{df.schema.fieldNames()} vs table "
                f"{schema_struct.fieldNames()} "
                "(pass merge_schema=True to evolve)")
        drift = [f"{wf.name}: {wf.dataType.simpleString()} vs table "
                 f"{tf.dataType.simpleString()}"
                 for wf, tf in zip(df.schema.fields,
                                   schema_struct.fields)
                 if wf.dataType.simpleString()
                 != tf.dataType.simpleString()]
        if drift:
            raise ValueError(
                "schema type mismatch"
                + (" (evolution ADDS columns, never retypes)"
                   if merge_schema else " (no evolution support)")
                + ": " + "; ".join(drift))
        spec = meta["partition-specs"][0]["fields"]
        if partition_by is not None:
            _, by_id0 = _schema_from_metadata(meta)
            want = [(f.get("transform", "identity"),
                     by_id0.get(f["source-id"])) for f in spec]
            if _normalize_partition_by(partition_by) != want:
                raise ValueError(
                    f"partition_by {list(partition_by)} != table's "
                    f"{want}")
        ice_schema = next(s for s in meta["schemas"]
                          if s.get("schema-id", 0)
                          == meta.get("current-schema-id", 0))
        if extras:
            last_id = int(meta.get(
                "last-column-id",
                max((f["id"] for s in meta["schemas"]
                     for f in s["fields"]), default=0)))
            new_fields = []
            ever_named = {f2["name"] for s in meta["schemas"]
                          for f2 in s["fields"]}
            for f in extras:
                if f.name in ever_named:
                    # a DROPPED (or renamed-away) column of the same
                    # name: old data files still carry it, and this
                    # name-matched reader would resurrect the dead
                    # data under the new field — refuse loudly (an
                    # id-matched reader could allow it)
                    raise IcebergProtocolError(
                        f"write_iceberg: column name {f.name!r} "
                        "existed in an earlier schema of this table; "
                        "re-adding it would resurrect dropped data "
                        "under the name-matched scan — use a new "
                        "name")
                ice_t = _SPARK_TO_ICE.get(f.dataType)
                if ice_t is None:
                    raise IcebergProtocolError(
                        f"write_iceberg: evolved column {f.name!r} "
                        f"type {f.dataType.simpleString()} "
                        "unsupported by the minimal writer")
                last_id += 1
                new_fields.append({"id": last_id, "name": f.name,
                                   "required": False, "type": ice_t})
            new_sid = max((s.get("schema-id", 0)
                           for s in meta["schemas"]), default=0) + 1
            ice_schema = {"type": "struct", "schema-id": new_sid,
                          "fields": (list(ice_schema["fields"])
                                     + new_fields)}
            # the spec keeps EVERY schema in the metadata ("schemas"
            # is append-only history); current-schema-id moves
            meta["schemas"] = list(meta["schemas"]) + [ice_schema]
            meta["current-schema-id"] = new_sid
            meta["last-column-id"] = last_id

    import uuid as _uuid
    spec_cols, ice_types = _spec_columns(spec, ice_schema)
    field_stats = {f["name"]: (int(f["id"]), f["type"])
                   for f in ice_schema["fields"]
                   if isinstance(f["type"], str)}
    entries = _stage_data_entries(df, table, spec_cols, ice_types,
                                  field_stats=field_stats)

    from .avro_io import write_container_file
    snap_id = (max((int(s["snapshot-id"])
                    for s in meta["snapshots"]), default=0) + 1)
    part_avro_fields = []
    for f, (fname, _tr, _s, tt) in zip(spec, spec_cols):
        avro_t = _ICE_TO_AVRO.get(tt)
        if avro_t is None:
            raise IcebergProtocolError(
                f"partition field {fname!r} tuple type {tt!r} "
                "unsupported by the minimal writer")
        part_avro_fields.append({"name": fname,
                                 "type": ["null", avro_t],
                                 "field-id": int(f["field-id"])})
    manifest_schema = _manifest_avro_schema(part_avro_fields,
                                            with_col_stats=True)
    m_path = os.path.join(mdir, f"m-{_uuid.uuid4().hex}.avro")
    write_container_file(m_path, manifest_schema, entries)
    m_len = int(os.path.getsize(fsutil._strip_file_scheme(m_path)))

    prev_manifests = []
    if mode == "append" and meta.get("current-snapshot-id", -1) != -1:
        cur_snap = next(s for s in meta["snapshots"]
                        if s["snapshot-id"]
                        == meta["current-snapshot-id"])
        _, prev = read_container_file(
            _normalize_path(cur_snap["manifest-list"], table), spark)
        prev_manifests = prev
    seq = int(meta.get("last-sequence-number", 0)) + 1
    n_recs = sum(e["data_file"]["record_count"] for e in entries)
    ml_entries = ([_ml_row(e) for e in prev_manifests]
                  + [_ml_row({
                      "manifest_path": m_path,
                      "manifest_length": m_len,
                      "partition_spec_id": 0, "content": 0,
                      "sequence_number": seq,
                      "min_sequence_number": seq,
                      "added_snapshot_id": snap_id,
                      "added_data_files_count": len(entries),
                      "existing_data_files_count": 0,
                      "deleted_data_files_count": 0,
                      "added_rows_count": n_recs,
                      "existing_rows_count": 0,
                      "deleted_rows_count": 0,
                      "partitions": _partition_summaries(
                          entries, spec_cols)})])
    ml_path = os.path.join(mdir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries)

    import time as _time
    now_ms = int(_time.time() * 1000)
    meta["snapshots"] = meta["snapshots"] + [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": now_ms, "manifest-list": ml_path,
        "summary": {"operation": mode,
                    "added-data-files": str(len(entries)),
                    "added-records": str(n_recs)}}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    new_version = cur_version + 1
    new_meta_path = os.path.join(mdir, f"v{new_version}.metadata.json")
    new_text = json.dumps(meta)
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, new_text, spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{new_version}; re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"), str(new_version),
        spark)
    _ice_warm_post_commit(
        spark, table, old_text, new_text,
        [{"path": _normalize_path(e["data_file"]["file_path"],
                                  table),
          "format": str(e["data_file"].get("file_format")
                        or "PARQUET").lower(),
          "partition": dict(e["data_file"].get("partition") or {}),
          "records": int(e["data_file"].get("record_count") or 0),
          "seq": int(seq)} for e in entries],
        [], carry_old=(mode == "append"))
    return snap_id


def convert_to_iceberg(spark: SparkSession, path: str, *,
                       partition_schema: Optional[T.StructType]
                       = None) -> int:
    """CONVERT an existing parquet directory IN PLACE into an Iceberg
    v2 table (the ``add_files``/migrate shape): snapshot 1 references
    the files where they are — nothing copied or rewritten.  Hive
    layouts (``col=value`` dirs) need ``partition_schema`` naming the
    partition columns and types; they become identity partition
    fields whose values live in the manifest tuples (our reader
    re-attaches them; foreign readers get them from the tuples, the
    Iceberg norm for migrated hive data).  Manifest entries carry
    REAL record counts (parquet footers) and file sizes.  Returns the
    snapshot id.  Fails loudly if the path already is an Iceberg
    table."""
    import urllib.parse
    import uuid as _uuid

    root = fsutil._strip_file_scheme(path)
    mdir = os.path.join(root, "metadata")
    if fsutil.dir_exists(mdir, spark):
        raise ValueError(f"{path} is already an Iceberg table")
    pcols = [f.name for f in (partition_schema or T.StructType())]

    files: list[tuple[str, dict, int]] = []

    def _walk(rel: str) -> None:
        full = os.path.join(root, rel) if rel else root
        for name, is_dir, size, _mt in fsutil.list_status(full,
                                                          spark):
            child_rel = os.path.join(rel, name) if rel else name
            child = os.path.join(root, child_rel)
            if not is_dir and name.endswith(".parquet"):
                pv = {}
                for seg in child_rel.split(os.sep)[:-1]:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        pv[k] = (None
                                 if v == "__HIVE_DEFAULT_PARTITION__"
                                 else urllib.parse.unquote(v))
                files.append((child, pv, size))
            elif is_dir and ("." not in name or "=" in name):
                _walk(child_rel)

    _walk("")
    if not files:
        raise ValueError(f"no parquet files under {path}")
    seen_pcols = set().union(*[set(pv) for _, pv, _ in files])
    if seen_pcols != set(pcols):
        raise ValueError(
            f"hive partition dirs {sorted(seen_pcols)} != "
            f"partition_schema columns {sorted(pcols)} — pass "
            "partition_schema naming every partition column and type")
    from .footers import reconciled_spark_schema
    data_schema = reconciled_spark_schema(
        spark, [fp for fp, _, _ in files])
    overlap = set(data_schema.fieldNames()) & set(pcols)
    if overlap:
        raise ValueError(
            f"partition columns {sorted(overlap)} also exist in the "
            "data files — not a hive layout")
    full_schema = T.StructType(
        list(data_schema.fields)
        + list((partition_schema or T.StructType()).fields))
    ice_schema = _ice_schema_from_spark(full_schema)
    name_to_id = {f["name"]: f["id"] for f in ice_schema["fields"]}
    ice_types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    spec = [{"name": c, "transform": "identity",
             "source-id": name_to_id[c], "field-id": 1000 + i}
            for i, c in enumerate(pcols)]
    meta = {"format-version": 2, "table-uuid": uuid_hex(path),
            "location": path, "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": len(ice_schema["fields"]),
            "current-schema-id": 0, "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec}],
            "last-partition-id": 1000 + len(spec),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": -1, "snapshots": []}

    from .footers import read_footer_stats
    field_stats = {f["name"]: (int(f["id"]), f["type"])
                   for f in ice_schema["fields"]
                   if isinstance(f["type"], str)}
    entries = []
    for fp, pv, size in files:
        st = json.loads(read_footer_stats(fp))
        vc, nvc, lob, upb = [], [], [], []
        for cname, (fid, tt) in field_stats.items():
            if cname in st["nullCount"]:
                vc.append({"key": fid,
                           "value": int(st["numRecords"])})
                nvc.append({"key": fid,
                            "value": int(st["nullCount"][cname])})
            if cname in st["minValues"]:
                lo = _single_value_bytes(st["minValues"][cname], tt)
                hi = _single_value_bytes(st["maxValues"][cname], tt)
                if lo is not None and hi is not None:
                    lob.append({"key": fid, "value": lo})
                    upb.append({"key": fid, "value": hi})
        entries.append({
            "status": 1, "snapshot_id": None,
            "data_file": {
                "content": 0, "file_path": fp,
                "file_format": "PARQUET",
                "partition": {c: _parse_pv(pv.get(c), ice_types[c])
                              for c in pcols},
                "record_count": int(st["numRecords"]),
                "file_size_in_bytes": size,
                "value_counts": vc, "null_value_counts": nvc,
                "lower_bounds": lob, "upper_bounds": upb,
            }})
    part_avro_fields = []
    for f, c in zip(spec, pcols):
        avro_t = _ICE_TO_AVRO.get(ice_types[c])
        if avro_t is None:
            raise IcebergProtocolError(
                f"partition column {c!r} type {ice_types[c]!r} "
                "unsupported by the minimal writer")
        part_avro_fields.append({"name": c,
                                 "type": ["null", avro_t],
                                 "field-id": int(f["field-id"])})
    from .avro_io import write_container_file
    fsutil.ensure_dir(mdir, spark)
    manifest_schema = _manifest_avro_schema(part_avro_fields,
                                            with_col_stats=True)
    m_path = os.path.join(mdir, f"m-{_uuid.uuid4().hex}.avro")
    write_container_file(m_path, manifest_schema, entries)
    m_len = int(os.path.getsize(fsutil._strip_file_scheme(m_path)))
    snap_id, seq = 1, 1
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    n_recs = sum(e["data_file"]["record_count"] for e in entries)
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, [_ml_row({
        "manifest_path": m_path, "manifest_length": m_len,
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": n_recs,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": _partition_summaries(
            entries, _spec_columns(spec, ice_schema)[0])})])
    import time as _time
    now_ms = int(_time.time() * 1000)
    meta["snapshots"] = [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": now_ms, "manifest-list": ml_path,
        "summary": {"operation": "append",
                    "added-data-files": str(len(entries)),
                    "added-records": str(n_recs)}}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    from .delta import _create_exclusive
    if not _create_exclusive(os.path.join(mdir, "v1.metadata.json"),
                             json.dumps(meta), spark):
        raise RuntimeError(f"{path} was converted concurrently")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"), "1", spark)
    return snap_id


def uuid_hex(seed: str) -> str:
    """Deterministic table uuid from the location (no RNG: keeps
    fixture builds reproducible)."""
    import hashlib
    return hashlib.md5(seed.encode()).hexdigest()


def _publish_delete_snapshot(spark, table: str, meta: dict,
                             cur_version: int, del_path: str,
                             content: int,
                             equality_ids: Optional[list],
                             old_text: Optional[str] = None) -> int:
    """Shared tail of the two delete writers: wrap ``del_path`` (an
    already-staged delete parquet) in a delete manifest
    (``data_file.content`` = 1 position / 2 equality), append a
    delete-manifest entry on top of the current manifest list, and
    publish the snapshot with put-if-absent.  Returns the snapshot
    id."""
    import uuid as _uuid
    mdir = os.path.join(table, "metadata")
    manifest_schema = _manifest_avro_schema(
        [], with_equality_ids=equality_ids is not None)
    snap_id = (max((int(s["snapshot-id"])
                    for s in meta.get("snapshots", [])), default=0) + 1)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    from .avro_io import write_container_file
    data_file = {
        "content": content, "file_path": del_path,
        "file_format": "PARQUET", "partition": {},
        "record_count": _parquet_row_count(del_path),
        "file_size_in_bytes": int(os.path.getsize(
            fsutil._strip_file_scheme(del_path))),
    }
    if equality_ids is not None:
        data_file["equality_ids"] = [int(i) for i in equality_ids]
    m_path = os.path.join(mdir, f"m-del-{_uuid.uuid4().hex}.avro")
    write_container_file(m_path, manifest_schema, [{
        "status": 1, "snapshot_id": None, "data_file": data_file}])
    m_len = int(os.path.getsize(fsutil._strip_file_scheme(m_path)))

    prev_manifests = []
    if meta.get("current-snapshot-id", -1) != -1:
        cur_snap = next(s for s in meta["snapshots"]
                        if s["snapshot-id"]
                        == meta["current-snapshot-id"])
        _, prev_manifests = read_container_file(
            _normalize_path(cur_snap["manifest-list"], table), spark)
    ml_entries = ([_ml_row(e) for e in prev_manifests]
                  + [_ml_row({
                      "manifest_path": m_path,
                      "manifest_length": m_len,
                      "partition_spec_id": 0, "content": 1,
                      "sequence_number": seq,
                      "min_sequence_number": seq,
                      "added_snapshot_id": snap_id,
                      "added_data_files_count": 1,
                      "existing_data_files_count": 0,
                      "deleted_data_files_count": 0,
                      "added_rows_count": data_file["record_count"],
                      "existing_rows_count": 0,
                      "deleted_rows_count": 0})])
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries)

    import time as _time
    now_ms = int(_time.time() * 1000)
    meta["snapshots"] = meta.get("snapshots", []) + [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": now_ms, "manifest-list": ml_path,
        "summary": {"operation": "delete",
                    "added-delete-files": "1"}}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    new_text = json.dumps(meta)
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, new_text, spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    _ice_warm_post_commit(
        spark, table, old_text, new_text, [],
        [{"path": _normalize_path(del_path, table),
          "content": int(content), "format": "parquet",
          "seq": int(seq), "partition": {},
          "equality_ids": [int(i) for i in (equality_ids or [])]}],
        carry_old=True)
    return snap_id


def write_iceberg_deletes(keys_df: DataFrame, table: str, *,
                          equality_cols: list) -> int:
    """Publish an EQUALITY-delete snapshot (v2 merge-on-read): every
    row in ``keys_df`` (columns = ``equality_cols``) deletes all data
    rows with that key tuple whose data sequence is strictly older
    than this snapshot's.  Returns the snapshot id.  The
    pipeline-side retraction shape (GDPR keys, recalled docs); for
    "delete the rows matching this predicate" use
    :func:`iceberg_delete_where` (position deletes)."""
    spark = keys_df.sparkSession
    meta_file = _current_metadata_file(table, spark)
    old_text = fsutil.read_text(meta_file, spark)
    meta = json.loads(old_text)
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergProtocolError(
            "equality deletes need format-version 2")
    _, by_id = _schema_from_metadata(meta)
    name_to_id = {v: k for k, v in by_id.items()}
    unknown = [c for c in equality_cols if c not in name_to_id]
    if unknown:
        raise ValueError(f"equality_cols {unknown} not in table schema")
    if sorted(keys_df.columns) != sorted(equality_cols):
        raise ValueError(
            f"keys_df columns {keys_df.columns} must equal "
            f"equality_cols {list(equality_cols)}")

    import uuid as _uuid
    data_dir = os.path.join(table, "data")
    fsutil.ensure_dir(data_dir, spark)
    staging = os.path.join(table, f"_staging_{_uuid.uuid4().hex}")
    keys_df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(n for n in fsutil.list_dir(staging, spark)
                if n.endswith(".parquet"))
    del_path = os.path.join(
        data_dir, f"eqdel-{_uuid.uuid4().hex}.parquet")
    fsutil.rename(os.path.join(staging, part), del_path, spark)
    fsutil.delete(staging, spark=spark)
    return _publish_delete_snapshot(
        spark, table, meta, cur_version, del_path, 2,
        [int(name_to_id[c]) for c in equality_cols],
        old_text=old_text)


def _write_puffin_file(path: str, blobs: list, spark) -> list:
    """Assemble a spec-shaped PUFFIN container: 'PFA1' magic, one
    deletion-vector-v1 blob per entry (4-byte BE length +
    magic-prefixed portable roaring bitmap + 4-byte BE CRC-32), and
    the JSON FooterPayload registering each blob (offset/length/
    referenced-data-file), FooterPayloadSize LE + flags + closing
    magic.  ``blobs`` is [(bitmap_bytes, properties_dict)]; returns
    [(offset, blob_length)] in input order."""
    import struct as _struct
    import zlib as _zlib
    out = bytearray(b"PFA1")
    footer_blobs = []
    spans = []
    for bitmap, props in blobs:
        off = len(out)
        blob = (_struct.pack(">i", len(bitmap)) + bitmap
                + _struct.pack(">I",
                               _zlib.crc32(bitmap) & 0xFFFFFFFF))
        out += blob
        spans.append((off, len(blob)))
        footer_blobs.append({
            "type": "deletion-vector-v1", "fields": [],
            "offset": off, "length": len(blob),
            "properties": props})
    payload = json.dumps({
        "blobs": footer_blobs,
        "properties": {"created-by": "wrangle_pypes_spark"}},
        separators=(",", ":")).encode()
    out += payload
    out += _struct.pack("<i", len(payload))
    out += _struct.pack("<i", 0)  # flags: footer uncompressed
    out += b"PFA1"
    from .dv import _write_file_bytes
    _write_file_bytes(path, bytes(out))
    return spans


def _publish_dv_delete_snapshot(spark, table: str, meta: dict,
                                cur_version: int,
                                snap: IcebergSnapshot,
                                matches: DataFrame) -> int:
    """The v3 DELETE shape: matched row addresses become PUFFIN
    deletion vectors — one blob per referenced data file, bitmaps
    built per file INSIDE executors, merged with any existing DV for
    that file (the spec's one-DV-per-file rule; superseded DV entries
    are dropped from their manifests via the writer-schema-preserving
    rewrite).  Upgrades the table to format-version 3.  The driver
    holds one COMPRESSED bitmap per touched file — the same bytes the
    puffin file stores."""
    import struct as _struct
    import uuid as _uuid

    from .avro_io import read_container_file, write_container_file
    from .dv import _read_file_bytes, rba_deserialize, rba_serialize

    if any(f["content"] == 1
           and f.get("format", "parquet") == "parquet"
           for f in snap.delete_files):
        raise IcebergProtocolError(
            "table carries v2 position-delete FILES — format v3 "
            "forbids them alongside deletion vectors; run "
            "iceberg_rewrite_data_files first to materialize them "
            "away, then delete with puffin=True")

    def _bitmap_of_group(pdf):
        import numpy as np
        import pandas as pd
        pos = np.sort(pdf["pos"].to_numpy(dtype="int64"))
        return pd.DataFrame({
            "file_path": [pdf["file_path"].iloc[0]],
            "bitmap": [rba_serialize(pos)],
            "card": [int(len(np.unique(pos)))]})

    per_file = (matches.groupBy("file_path")
                .applyInPandas(_bitmap_of_group,
                               "file_path string, bitmap binary, "
                               "card long")
                .collect())
    cur_sid = int(meta.get("current-snapshot-id", -1))
    if not per_file:
        return cur_sid  # nothing matched: no commit

    old_dv = {norm_path(f["referenced"]): f
              for f in snap.delete_files
              if f.get("format") == "puffin"}
    superseded: set = set()
    rows = []  # (data path, bitmap bytes, cardinality)
    for r in sorted(per_file, key=lambda r: r["file_path"]):
        p, bits = r["file_path"], bytes(r["bitmap"])
        card = int(r["card"])
        prev = old_dv.get(norm_path(p))
        if prev is not None:
            import numpy as np
            data = _read_file_bytes(prev["path"])
            off = int(prev["offset"])
            blen = _struct.unpack_from(">i", data, off)[0]
            body = data[off + 4:off + 4 + blen]
            merged = np.union1d(rba_deserialize(bits),
                                rba_deserialize(body))
            bits, card = rba_serialize(merged), int(len(merged))
            superseded.add((norm_path(prev["path"]), off))
        rows.append((p, bits, card))

    mdir = os.path.join(table, "metadata")
    data_dir = os.path.join(table, "data")
    fsutil.ensure_dir(data_dir, spark)
    puf_path = os.path.join(data_dir,
                            f"dv-{_uuid.uuid4().hex}.puffin")
    spans = _write_puffin_file(
        puf_path,
        [(bits, {"referenced-data-file": p,
                 "cardinality": str(card)})
         for p, bits, card in rows], spark)
    puf_size = sum(l for _, l in spans) + 0  # container adds header
    try:
        puf_size = int(os.path.getsize(
            fsutil._strip_file_scheme(puf_path)))
    except OSError:
        pass

    snap_id = (max((int(s["snapshot-id"])
                    for s in meta.get("snapshots", [])),
                   default=0) + 1)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    entries = []
    for (p, bits, card), (off, blen) in zip(rows, spans):
        entries.append({"status": 1, "snapshot_id": None,
                        "data_file": {
                            "content": 1, "file_path": puf_path,
                            "file_format": "PUFFIN",
                            "partition": {},
                            "record_count": card,
                            "file_size_in_bytes": puf_size,
                            "referenced_data_file": p,
                            "content_offset": off,
                            "content_size_in_bytes": blen}})
    m_path = os.path.join(mdir, f"m-dv-{_uuid.uuid4().hex}.avro")
    write_container_file(
        m_path, _manifest_avro_schema([], with_dv_refs=True),
        entries)
    m_len = int(os.path.getsize(fsutil._strip_file_scheme(m_path)))

    # carry the current manifest list, dropping superseded DV entries
    # from their manifests through the writer-schema-preserving
    # rewrite (untouched manifests ride by reference)
    ml_rows = []
    if cur_sid != -1:
        cur_snap = next(s for s in meta["snapshots"]
                        if s["snapshot-id"] == cur_sid)
        _, prev_ml = read_container_file(
            _normalize_path(cur_snap["manifest-list"], table), spark)
        for ent in prev_ml:
            if int(ent.get("content") or 0) != 1 or not superseded:
                ml_rows.append(_ml_row(ent))
                continue
            ws, recs = read_container_file(
                _normalize_path(ent["manifest_path"], table), spark)

            def _hit(rec):
                dfr = rec["data_file"]
                return ((norm_path(_normalize_path(
                            dfr["file_path"], table)),
                         int(dfr.get("content_offset") or -1))
                        in superseded)

            if not any(_hit(rec) for rec in recs):
                ml_rows.append(_ml_row(ent))
                continue
            kept = [rec for rec in recs if not _hit(rec)]
            if not kept:
                continue  # manifest fully superseded — drop it
            rm_path = os.path.join(
                mdir, f"m-dv-{_uuid.uuid4().hex}.avro")
            write_container_file(rm_path, ws, kept)
            row = _ml_row(ent)
            row["manifest_path"] = rm_path
            row["manifest_length"] = int(os.path.getsize(
                fsutil._strip_file_scheme(rm_path)))
            ml_rows.append(row)
    ml_rows.append(_ml_row({
        "manifest_path": m_path, "manifest_length": m_len,
        "partition_spec_id": 0, "content": 1,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": sum(c for _, _, c in rows),
        "existing_rows_count": 0, "deleted_rows_count": 0}))
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_rows)

    import time as _time
    now_ms = int(_time.time() * 1000)
    meta["format-version"] = 3  # DVs are a v3 feature
    meta["snapshots"] = meta.get("snapshots", []) + [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": now_ms, "manifest-list": ml_path,
        "summary": {"operation": "delete",
                    "added-delete-files": str(len(entries))}}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, json.dumps(meta), spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; "
            "re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    return snap_id


def iceberg_delete_where(spark: SparkSession, table: str,
                         condition: str, *,
                         partition_filter: Optional[dict] = None,
                         puffin: bool = False) -> int:
    """Row-level DELETE via POSITION deletes (v2 merge-on-read) — the
    Iceberg twin of ``delta_delete_where``: LIVE rows matching
    ``condition`` are matched by row address
    (``_metadata.file_path`` / ``row_index``), written as a
    spec-shaped position-delete parquet (``file_path``/``pos``
    columns under the reserved field ids 2147483546/2147483545,
    sorted by address), and published as a delete snapshot whose
    sequence number covers every current data file.  No data file is
    rewritten.  Returns the committed snapshot id (the current one
    when nothing matched).

    Existing deletes are honored (the match scan applies them first,
    so already-dead rows can't re-match).  ``partition_filter``
    narrows the scan via manifest pruning.  The delete file is
    written under the unpartitioned spec (partition tuple {}), like
    ``write_iceberg_deletes`` — a global delete file.

    ``puffin=True`` publishes the v3 shape instead: PUFFIN deletion
    vectors (one roaring blob per referenced data file, merged with
    any existing DV for that file, superseded DV entries dropped from
    their manifests) and upgrades the table to format-version 3 —
    see :func:`_publish_dv_delete_snapshot`.  A v3 table REQUIRES
    this path: the spec forbids position-delete files in v3."""
    meta_file = _current_metadata_file(table, spark)
    old_text = fsutil.read_text(meta_file, spark)
    meta = json.loads(old_text)
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergProtocolError(
            "position deletes need format-version 2")
    if int(meta.get("format-version", 1)) >= 3 and not puffin:
        raise IcebergProtocolError(
            "format-version 3 forbids position-delete FILES — call "
            "iceberg_delete_where(..., puffin=True) to publish a "
            "deletion vector instead")
    snap = iceberg_snapshot(spark, table,
                            partition_filter=partition_filter)
    cur_sid = int(meta.get("current-snapshot-id", -1))
    if not snap.files:
        return cur_sid
    out = _scan_snapshot_files(spark, snap, snap.files,
                               with_meta=True)
    if snap.delete_files:
        out = _apply_row_deletes(spark, snap, out)
    matches = (out.filter(F.expr(condition))
               .select(F.col(tablescan.ROW_FILE).alias(
                           "file_path",
                           metadata={"parquet.field.id": 2147483546}),
                       F.col(tablescan.ROW_POS).cast("long").alias(
                           "pos",
                           metadata={"parquet.field.id": 2147483545})))
    if puffin:
        return _publish_dv_delete_snapshot(
            spark, table, meta, cur_version, snap, matches)

    import uuid as _uuid
    data_dir = os.path.join(table, "data")
    fsutil.ensure_dir(data_dir, spark)
    staging = os.path.join(table, f"_staging_{_uuid.uuid4().hex}")
    (matches.sort("file_path", "pos").coalesce(1)
     .write.mode("overwrite").parquet(staging))
    part = next(n for n in fsutil.list_dir(staging, spark)
                if n.endswith(".parquet"))
    del_path = os.path.join(
        data_dir, f"posdel-{_uuid.uuid4().hex}.parquet")
    fsutil.rename(os.path.join(staging, part), del_path, spark)
    fsutil.delete(staging, spark=spark)
    if _parquet_row_count(del_path) == 0:
        fsutil.delete(del_path, spark=spark)
        return cur_sid  # nothing matched: no commit
    return _publish_delete_snapshot(
        spark, table, meta, cur_version, del_path, 1, None,
        old_text=old_text)


def iceberg_rewrite_data_files(spark: SparkSession, table: str, *,
                               target_file_bytes: int
                               = 128 * 1024 * 1024,
                               min_files: int = 2) -> dict:
    """``rewrite_data_files`` — Iceberg compaction, the twin of
    ``delta_optimize``: per partition tuple, data files under
    ``target_file_bytes`` are bin-packed into ~target-size files;
    files with row-level deletes applying to them are ALWAYS
    rewritten, so the deleted rows materialize away.  Publishes a
    snapshot with summary operation ``replace`` — no logical rows
    change, and both ``iceberg_changes`` and the jarless stream
    source skip replace snapshots, exactly like Delta's
    ``dataChange=false``.

    ``target_file_bytes`` also sizes the OUTPUT files of an
    unpartitioned table.  A partitioned table's victims are staged by
    a rebalance on the partition tuple, which splits at Spark's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` instead, so
    there it only picks which files are rewritten.

    STATS PRESERVATION (the reason a naive rewrite was refused in
    earlier rounds): a manifest that keeps all its files is carried
    BY REFERENCE — its manifest-list entry keeps the original path,
    sequence numbers, counts and partition summaries.  A manifest
    that loses victims is decoded with ITS OWN embedded writer schema
    and the surviving entries re-encoded with that SAME schema
    (``avro_io`` is writer-schema-driven in both directions), so
    foreign stats columns our minimal manifest model does not know —
    value_counts, null_value_counts, lower/upper bounds, split
    offsets — round-trip untouched.  Only the freshly written files
    use the engine's own manifest schema.

    Concurrency: the metadata publish is put-if-absent on
    ``v{N+1}.metadata.json``; a delete committed concurrently wins
    the race and this rewrite RAISES instead of resurrecting its rows
    (re-run on the fresh state).  New files take the new snapshot's
    sequence number — safe under that single-commit rule because no
    later-sequence delete can exist below the rewrite when it
    publishes.

    Returns ``{"snapshot_id", "removed_files", "added_files",
    "bytes_compacted"}`` (current id and zeros when there is nothing
    to do).  Scale: victim selection reads manifests only; the
    rewrite scans victim files only; the driver holds the entry
    lists — the same order as the manifests it must rewrite."""
    import dataclasses as _dc
    import uuid as _uuid

    from .avro_io import read_container_file, write_container_file

    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    if int(meta.get("current-snapshot-id", -1) or -1) == -1:
        return {"snapshot_id": -1, "removed_files": 0,
                "added_files": 0, "bytes_compacted": 0}
    snap = iceberg_snapshot(spark, table)
    cur_snap = next(s for s in meta["snapshots"]
                    if s["snapshot-id"]
                    == meta["current-snapshot-id"])
    _, ml_entries = read_container_file(
        _normalize_path(cur_snap["manifest-list"], table), spark)

    data_manifests = []   # (ml entry, writer schema, records)
    delete_ml_rows = []   # carried verbatim (normalized)
    for ent in ml_entries:
        if int(ent.get("content") or 0) != 0:
            delete_ml_rows.append(_ml_row(ent))
            continue
        ws, recs = read_container_file(
            _normalize_path(ent["manifest_path"], table), spark)
        data_manifests.append((ent, ws, recs))

    def _entry_path(r: dict) -> str:
        return norm_path(_normalize_path(
            r["data_file"]["file_path"], table))

    live: dict[str, dict] = {}
    for _ent, _ws, recs in data_manifests:
        for r in recs:
            if int(r.get("status") or 0) == 2:
                continue
            dfr = r["data_file"]
            if int(dfr.get("content") or 0) != 0:
                continue
            live[_entry_path(r)] = {
                "size": int(dfr.get("file_size_in_bytes") or 0),
                "pv": dict(dfr.get("partition") or {})}

    # which live files do outstanding deletes touch?
    seq_of = {norm_path(f["path"]): int(f["seq"])
              for f in snap.files}
    pos_paths: set = set()
    pos_dels = [f for f in snap.delete_files if f["content"] == 1]
    parq_pos = [f for f in pos_dels
                if f.get("format", "parquet") == "parquet"]
    if parq_pos:
        refs = _pos_delete_rows(spark, parq_pos).select(
            tablescan.DEL_FILE)
        pos_paths = {r[0] for r in refs.distinct().collect()}
    # puffin DVs name their target in METADATA — no file read needed
    pos_paths |= {norm_path(f["referenced"]) for f in pos_dels
                  if f.get("format") == "puffin"}
    eq_dels = [f for f in snap.delete_files if f["content"] == 2]

    def _affected(p: str) -> bool:
        if p in pos_paths:
            return True
        fseq = seq_of.get(p, 0)
        return any(int(f["seq"]) > fseq for f in eq_dels)

    groups: dict[str, list[str]] = {}
    for p, info in live.items():
        key = repr(sorted(info["pv"].items()))
        groups.setdefault(key, []).append(p)
    victims: set = set()
    for ps in groups.values():
        small = [p for p in ps
                 if live[p]["size"] < int(target_file_bytes)
                 or _affected(p)]
        if len(small) >= max(1, int(min_files)) \
                or any(_affected(p) for p in small):
            victims.update(small)
    if not victims:
        return {"snapshot_id": snap.snapshot_id,
                "removed_files": 0, "added_files": 0,
                "bytes_compacted": 0}

    # read victim rows, MOR deletes applied -> compacted rewrite
    victim_files = [f for f in snap.files
                    if norm_path(f["path"]) in victims]
    want = [f.name for f in snap.schema.fields]
    with_meta = bool(snap.delete_files)
    d = _scan_snapshot_files(spark, snap, victim_files,
                             with_meta=with_meta)
    if with_meta:
        d = _apply_row_deletes(
            spark, _dc.replace(snap, files=victim_files), d)
    d = d.select(*want)

    ice_schema = next(s for s in meta["schemas"]
                      if s.get("schema-id", 0)
                      == meta.get("current-schema-id", 0))
    spec_id = int(meta.get("default-spec-id", 0))
    spec = next(s["fields"] for s in meta["partition-specs"]
                if int(s["spec-id"]) == spec_id)
    spec_cols, ice_types = _spec_columns(spec, ice_schema)
    total_bytes = sum(live[p]["size"] for p in victims)
    n_out = max(1, -(-total_bytes // max(1, int(target_file_bytes))))
    # srcs no longer pre-shuffled here — see below
    # partitioned tables: _stage_data_entries rebalances by the
    # partition tuple itself (r15) — a pre-shuffle here was a second
    # full exchange of the victim rows that the staging shuffle
    # immediately re-keyed.  Unpartitioned tables still need the
    # explicit file-count repartition (staging adds no exchange).
    if not spec_cols:
        d = d.repartition(n_out)
    field_stats = {f["name"]: (int(f["id"]), f["type"])
                   for f in ice_schema["fields"]
                   if isinstance(f["type"], str)}
    new_entries = _stage_data_entries(d, table, spec_cols, ice_types,
                                      field_stats=field_stats)

    mdir = os.path.join(table, "metadata")
    part_avro_fields = []
    for f, (fname, _tr, _s, tt) in zip(spec, spec_cols):
        avro_t = _ICE_TO_AVRO.get(tt)
        if avro_t is None:
            raise IcebergProtocolError(
                f"partition field {fname!r} tuple type {tt!r} "
                "unsupported by the minimal writer")
        part_avro_fields.append({"name": fname,
                                 "type": ["null", avro_t],
                                 "field-id": int(f["field-id"])})
    snap_id = (max(int(s["snapshot-id"])
                   for s in meta["snapshots"]) + 1)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    m_path = os.path.join(mdir, f"m-{_uuid.uuid4().hex}.avro")
    write_container_file(m_path, _manifest_avro_schema(
        part_avro_fields, with_col_stats=True), new_entries)
    n_recs_new = sum(e["data_file"]["record_count"]
                     for e in new_entries)
    new_row = _ml_row({
        "manifest_path": m_path,
        "manifest_length": int(os.path.getsize(
            fsutil._strip_file_scheme(m_path))),
        "partition_spec_id": spec_id, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_data_files_count": len(new_entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": n_recs_new,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": _partition_summaries(new_entries, spec_cols)})

    carried_rows = []
    for ent, ws, recs in data_manifests:
        victim_here = [r for r in recs
                       if int(r.get("status") or 0) != 2
                       and _entry_path(r) in victims]
        if not victim_here:
            carried_rows.append(_ml_row(ent))
            continue
        kept = [r for r in recs
                if int(r.get("status") or 0) == 2
                or _entry_path(r) not in victims]
        if not any(int(r.get("status") or 0) != 2 for r in kept):
            continue  # nothing live left — drop the manifest
        rm_path = os.path.join(mdir, f"m-{_uuid.uuid4().hex}.avro")
        write_container_file(rm_path, ws, kept)
        row = _ml_row(ent)
        row["manifest_path"] = rm_path
        row["manifest_length"] = int(os.path.getsize(
            fsutil._strip_file_scheme(rm_path)))
        by_status = {0: 0, 1: 0, 2: 0}
        rows_by_status = {0: 0, 1: 0, 2: 0}
        for r in kept:
            st = int(r.get("status") or 0)
            by_status[st] += 1
            rows_by_status[st] += int(
                r["data_file"].get("record_count") or 0)
        row["added_data_files_count"] = by_status[1]
        row["existing_data_files_count"] = by_status[0]
        row["deleted_data_files_count"] = by_status[2]
        row["added_rows_count"] = rows_by_status[1]
        row["existing_rows_count"] = rows_by_status[0]
        row["deleted_rows_count"] = rows_by_status[2]
        # original partition summaries stay: a superset bound is
        # still a CORRECT (if looser) pruning bound for the subset
        carried_rows.append(row)

    ml_rows = carried_rows + delete_ml_rows + [new_row]
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_rows)

    import time as _time
    now_ms = int(_time.time() * 1000)
    meta["snapshots"] = meta["snapshots"] + [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": now_ms, "manifest-list": ml_path,
        "summary": {"operation": "replace",
                    "added-data-files": str(len(new_entries)),
                    "deleted-data-files": str(len(victims)),
                    "added-records": str(n_recs_new)}}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, json.dumps(meta), spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; "
            "re-run rewrite_data_files on the fresh state")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    return {"snapshot_id": snap_id, "removed_files": len(victims),
            "added_files": len(new_entries),
            "bytes_compacted": int(total_bytes)}


def iceberg_changes(spark: SparkSession, table: str, *,
                    from_seq: int,
                    to_seq: Optional[int] = None) -> DataFrame:
    """Incremental change feed (the ``create_changelog_view`` shape —
    the Iceberg twin of ``delta_changes``): one row per changed row
    for every snapshot whose sequence number lies in ``[from_seq,
    to_seq]`` (inclusive), with ``_change_type``
    ('insert' | 'delete') and ``_commit_seq`` appended.

    Per snapshot, against its PREDECESSOR:

    - data files present only in the new snapshot -> their rows are
      inserts (appends AND the add half of an overwrite);
    - data files that disappeared -> their rows are deletes, with the
      predecessor's delete files applied first so already-dead rows
      don't re-report (the remove half of an overwrite);
    - NEW position-delete files -> exactly the still-live rows at the
      referenced addresses are deletes (``iceberg_delete_where``);
    - NEW equality-delete files -> the predecessor's live rows
      matching the key tuples are deletes (``write_iceberg_deletes``).

    Cost: inserts/removals/position deletes scan only the changed or
    referenced files; equality deletes scan the predecessor's live
    set (the key can match anywhere — the same cost the read path
    pays to apply them).  Snapshot resolution is metadata-scale."""
    import dataclasses as _dc
    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: int(s.get("sequence-number") or 0))
    if not snaps:
        raise ValueError(f"no snapshots in {table}")
    if to_seq is None:
        to_seq = int(snaps[-1].get("sequence-number") or 0)
    if int(from_seq) > int(to_seq):
        raise ValueError(f"bad sequence range [{from_seq}, {to_seq}]")
    schema, by_id = _schema_from_metadata(meta)
    want = [f.name for f in schema.fields]

    def _tag(d: DataFrame, ctype: str, seq: int) -> DataFrame:
        return d.select(*[F.col(c) for c in want],
                        F.lit(ctype).alias("_change_type"),
                        F.lit(int(seq)).alias("_commit_seq"))

    out_parts = []
    # Consecutive APPEND-ONLY snapshots coalesce into ONE scan (the
    # added files carry their commit seq via a broadcast file->seq
    # map), so the union width is O(changed regimes), not
    # O(snapshots) — a feed over a year of hourly appends assembles
    # a handful of scan nodes, not 10k.
    pending_appends: list = []  # (seq, snapshot, added files)

    def _flush_appends() -> None:
        if not pending_appends:
            return
        if len(pending_appends) == 1:
            seq0, snap0, files0 = pending_appends[0]
            out_parts.append(_tag(
                _scan_snapshot_files(spark, snap0, files0,
                                     with_meta=False),
                "insert", seq0))
        else:
            snap_last = pending_appends[-1][1]
            all_files = [f for _, _, fs in pending_appends
                         for f in fs]
            seq_map = sorted(
                (norm_path(f["path"]), int(sq))
                for sq, _, fs in pending_appends for f in fs)
            d = _scan_snapshot_files(spark, snap_last, all_files,
                                     with_meta=True)
            m = local_df(spark, seq_map, "_cf string, _cseq int")
            d = d.join(F.broadcast(m),
                       F.col(tablescan.ROW_FILE) == F.col("_cf"), "left")
            out_parts.append(d.select(
                *[F.col(c) for c in want],
                F.lit("insert").alias("_change_type"),
                F.col("_cseq").alias("_commit_seq")))
        pending_appends.clear()

    prev_sid: Optional[int] = None
    for s in snaps:
        seq = int(s.get("sequence-number") or 0)
        if seq > int(to_seq):
            break
        sid = int(s["snapshot-id"])
        if (s.get("summary") or {}).get("operation") == "replace":
            # compaction/rewrite: files rearranged, no logical rows
            # changed — the changelog skips it (Iceberg's own
            # changelog rule for REPLACE snapshots), diffing the next
            # snapshot against the post-replace file set instead
            prev_sid = sid
            continue
        if seq < int(from_seq):
            prev_sid = sid
            continue
        cur = iceberg_snapshot(spark, table, snapshot_id=sid)
        prev = (iceberg_snapshot(spark, table, snapshot_id=prev_sid)
                if prev_sid is not None else None)
        prev_files = {f["path"]: f
                      for f in (prev.files if prev else [])}
        cur_files = {f["path"]: f for f in cur.files}
        added = [f for p, f in sorted(cur_files.items())
                 if p not in prev_files]
        removed = [f for p, f in sorted(prev_files.items())
                   if p not in cur_files]
        prev_dels = list(prev.delete_files) if prev else []
        prev_del_paths = {d["path"] for d in prev_dels}
        new_dels = [d for d in cur.delete_files
                    if d["path"] not in prev_del_paths]

        append_only = (added and not removed and not new_dels)
        if append_only:
            pending_appends.append((seq, cur, added))
        elif added:
            _flush_appends()
            out_parts.append(_tag(
                _scan_snapshot_files(spark, cur, added,
                                     with_meta=False),
                "insert", seq))
        else:
            _flush_appends()
        if removed and prev is not None:
            d = _scan_snapshot_files(spark, prev, removed,
                                     with_meta=bool(prev_dels))
            if prev_dels:
                d = _apply_row_deletes(
                    spark, _dc.replace(prev, files=removed), d)
            out_parts.append(_tag(d, "delete", seq))

        pos_new = [d for d in new_dels if d["content"] == 1]
        eq_new = [d for d in new_dels if d["content"] == 2]
        if pos_new and prev is not None:
            dels = _pos_delete_rows(spark, pos_new).select(
                tablescan.DEL_FILE, tablescan.DEL_POS)
            refp = {r[0] for r in dels.select(tablescan.DEL_FILE)
                    .distinct().collect()}
            ref_files = [f for p, f in sorted(prev_files.items())
                         if norm_path(p) in refp]
            if ref_files:
                base = _scan_snapshot_files(spark, prev, ref_files,
                                            with_meta=True)
                base = _apply_row_deletes(
                    spark, _dc.replace(prev, files=ref_files,
                                       delete_files=prev_dels),
                    base)
                out_parts.append(_tag(
                    tablescan.join_positions(base, dels, "inner"),
                    "delete", seq))
        if eq_new and prev is not None:
            base = _scan_snapshot_files(spark, prev, prev.files,
                                        with_meta=True)
            base = _apply_row_deletes(spark, prev, base)
            from collections import defaultdict
            groups = defaultdict(list)
            for f in eq_new:
                groups[tuple(f["equality_ids"])].append(f)
            for ids, fs in sorted(groups.items()):
                names = [by_id[i] for i in ids]
                keys = tablescan.union_all([
                    spark.read.parquet(f["path"]).select(*names)
                    for f in fs])
                keys = keys.distinct().select(
                    *[F.col(n).alias(f"_k_{n}") for n in names])
                cond = None
                for n in names:
                    c = base[n].eqNullSafe(keys[f"_k_{n}"])
                    cond = c if cond is None else cond & c
                out_parts.append(_tag(
                    base.join(keys, cond, "left_semi"),
                    "delete", seq))
        prev_sid = sid

    _flush_appends()
    extra = T.StructType(
        list(schema.fields)
        + [T.StructField("_change_type", T.StringType()),
           T.StructField("_commit_seq", T.IntegerType())])
    if not out_parts:
        return local_df(spark, [], extra)
    return tablescan.union_all(out_parts)


def _publish_metadata_change(spark: SparkSession, table: str,
                             meta: dict, cur_version: int) -> int:
    """Put-if-absent publish of a METADATA-ONLY commit (new
    ``v{N+1}.metadata.json`` + hint) — the shared tail of rollback
    and the schema-DDL family."""
    import time as _time
    meta["last-updated-ms"] = int(_time.time() * 1000)
    mdir = os.path.join(table, "metadata")
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, json.dumps(meta), spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; "
            "re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    return cur_version + 1


def _current_ice_schema(meta: dict) -> dict:
    if "schemas" in meta:
        cur = meta.get("current-schema-id", 0)
        return next(s for s in meta["schemas"]
                    if s.get("schema-id", 0) == cur)
    return meta["schema"]


def _spec_source_ids(meta: dict) -> set:
    return {int(f["source-id"])
            for s in meta.get("partition-specs", [])
            for f in s["fields"]}


def _push_schema(meta: dict, fields: list) -> None:
    """Append a new current schema built from ``fields`` (the spec's
    append-only schemas history; ids never reuse)."""
    new_sid = max((s.get("schema-id", 0)
                   for s in meta.get("schemas", [])), default=0) + 1
    meta.setdefault("schemas", [])
    meta["schemas"] = list(meta["schemas"]) + [
        {"type": "struct", "schema-id": new_sid, "fields": fields}]
    meta["current-schema-id"] = new_sid


def iceberg_rename_column(spark: SparkSession, table: str,
                          old: str, new: str) -> int:
    """RENAME COLUMN — metadata-only (Iceberg columns are addressed
    by FIELD ID; the id keeps pointing at the same data).  A new
    schema-id publishes with the field renamed, and the spec's
    ``schema.name-mapping.default`` property records every name the
    field has carried, so data files written under the OLD name (our
    parquet carries no field ids) keep resolving: the scan reads the
    old column and aliases it to the new name per file group.
    Identity-partition source columns refuse (partition tuples and
    re-attach are name-keyed in this engine).  Returns the new
    metadata version."""
    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    ice = _current_ice_schema(meta)
    by_name = {f["name"]: f for f in ice["fields"]}
    if old not in by_name:
        raise ValueError(f"no column {old!r} in current schema "
                         f"{sorted(by_name)}")
    if new in by_name:
        raise ValueError(f"column {new!r} already exists")
    fid = int(by_name[old]["id"])
    if fid in _spec_source_ids(meta):
        raise IcebergProtocolError(
            f"cannot rename {old!r}: it is a partition source "
            "column (tuple re-attach is name-keyed)")
    fields = [dict(f, name=new) if int(f["id"]) == fid else f
              for f in ice["fields"]]
    _push_schema(meta, fields)
    props = dict(meta.get("properties") or {})
    nm = json.loads(props.get("schema.name-mapping.default", "[]"))
    ent = next((e for e in nm
                if int(e.get("field-id", -1)) == fid), None)
    if ent is None:
        ent = {"field-id": fid, "names": []}
        nm.append(ent)
    for n in (old, new):
        if n not in ent["names"]:
            ent["names"].append(n)
    props["schema.name-mapping.default"] = json.dumps(nm)
    meta["properties"] = props
    return _publish_metadata_change(spark, table, meta, cur_version)


def iceberg_drop_column(spark: SparkSession, table: str,
                        col: str) -> int:
    """DROP COLUMN — metadata-only: a new schema-id publishes without
    the field; existing data files keep the physical column but no
    scan selects it (``last-column-id`` never decreases, so the id is
    never reused and a later add cannot resurrect the dropped data).
    Partition source columns and the last remaining column refuse."""
    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    ice = _current_ice_schema(meta)
    by_name = {f["name"]: f for f in ice["fields"]}
    if col not in by_name:
        raise ValueError(f"no column {col!r} in current schema "
                         f"{sorted(by_name)}")
    if int(by_name[col]["id"]) in _spec_source_ids(meta):
        raise IcebergProtocolError(
            f"cannot drop {col!r}: it is a partition source column")
    fields = [f for f in ice["fields"] if f["name"] != col]
    if not fields:
        raise ValueError("cannot drop the last column")
    _push_schema(meta, fields)
    return _publish_metadata_change(spark, table, meta, cur_version)


def iceberg_rollback(spark: SparkSession, table: str, *,
                     snapshot_id: int) -> int:
    """Roll the table back to an earlier snapshot — a METADATA-ONLY
    commit that republishes ``current-snapshot-id`` (Iceberg's
    ``rollback_to_snapshot``); every snapshot stays in the log, so the
    rolled-past state remains time-travelable until expiry."""
    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    ids = {int(s["snapshot-id"]) for s in meta.get("snapshots", [])}
    if int(snapshot_id) not in ids:
        raise ValueError(f"snapshot {snapshot_id} not in table "
                         f"metadata (have {sorted(ids)})")
    meta["current-snapshot-id"] = int(snapshot_id)
    import time as _time
    meta["last-updated-ms"] = int(_time.time() * 1000)
    mdir = os.path.join(table, "metadata")
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, json.dumps(meta), spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; "
            "re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    return int(snapshot_id)


def iceberg_expire_snapshots(spark: SparkSession, table: str, *,
                             keep_last: int = 1) -> dict:
    """Expire old snapshots (Iceberg's ``expire_snapshots``): keep the
    CURRENT snapshot plus the newest ``keep_last`` by sequence
    number, drop the rest from the metadata, and delete every
    manifest list, manifest, and data/delete file reachable ONLY from
    the expired snapshots (reachability computed over the retained
    snapshots' manifests — all metadata-scale Avro/JSON work).
    Returns ``{"expired_snapshots", "deleted_manifests",
    "deleted_files"}``.  Time travel to expired snapshots stops
    working; the current snapshot is untouched."""
    from .avro_io import read_container_file
    meta_file = _current_metadata_file(table, spark)
    meta = json.loads(fsutil.read_text(meta_file, spark))
    cur_version = int(re.match(
        r"^v?(\d+)", os.path.basename(meta_file)).group(1))
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: int(s.get("sequence-number") or 0))
    cur_id = meta.get("current-snapshot-id")
    keep = {int(s["snapshot-id"]) for s in snaps[-max(1, keep_last):]}
    if cur_id is not None and int(cur_id) != -1:
        keep.add(int(cur_id))
    expired = [s for s in snaps
               if int(s["snapshot-id"]) not in keep]
    if not expired:
        return {"expired_snapshots": 0, "deleted_manifests": 0,
                "deleted_files": 0}

    def _list_of(s):
        return _normalize_path(s["manifest-list"], table)

    retained_manifests: set = set()
    retained_files: set = set()
    for s in snaps:
        if int(s["snapshot-id"]) not in keep:
            continue
        _, ml = read_container_file(_list_of(s), spark)
        for ent in ml:
            mp = _normalize_path(ent["manifest_path"], table)
            retained_manifests.add(mp)
            _, entries = read_container_file(mp, spark)
            for e in entries:
                retained_files.add(_normalize_path(
                    e["data_file"]["file_path"], table))
    # Plan deletions WITHOUT touching storage yet: if the metadata
    # commit below loses a concurrency race, the still-current
    # metadata must keep resolving — delete only after publish.
    candidate_files: set = set()
    expired_manifest_lists: set = set()
    expired_manifests: set = set()
    for s in expired:
        mlp = _list_of(s)
        _, ml = read_container_file(mlp, spark)
        for ent in ml:
            mp = _normalize_path(ent["manifest_path"], table)
            if mp in retained_manifests:
                continue
            expired_manifests.add(mp)
            _, entries = read_container_file(mp, spark)
            for e in entries:
                candidate_files.add(_normalize_path(
                    e["data_file"]["file_path"], table))
        expired_manifest_lists.add(mlp)

    meta["snapshots"] = [s for s in snaps
                         if int(s["snapshot-id"]) in keep]
    if "snapshot-log" in meta:
        meta["snapshot-log"] = [
            e for e in meta["snapshot-log"]
            if int(e.get("snapshot-id") or -1) in keep]
    import time as _time
    meta["last-updated-ms"] = int(_time.time() * 1000)
    mdir = os.path.join(table, "metadata")
    new_meta_path = os.path.join(
        mdir, f"v{cur_version + 1}.metadata.json")
    from .delta import _create_exclusive
    if not _create_exclusive(new_meta_path, json.dumps(meta), spark):
        raise RuntimeError(
            f"concurrent iceberg commit won v{cur_version + 1}; "
            "re-run")
    fsutil.write_text_atomic(
        os.path.join(mdir, "version-hint.text"),
        str(cur_version + 1), spark)
    # Commit succeeded — the expired files are now unreachable from
    # the published metadata; physical deletion is safe.
    deleted_manifests = deleted_files = 0
    for mlp in expired_manifest_lists:
        fsutil.delete(mlp, spark=spark)
    for mp in expired_manifests:
        fsutil.delete(mp, spark=spark)
        deleted_manifests += 1
    for fp in sorted(candidate_files - retained_files):
        fsutil.delete(fp, spark=spark)
        deleted_files += 1
    return {"expired_snapshots": len(expired),
            "deleted_manifests": deleted_manifests,
            "deleted_files": deleted_files}
