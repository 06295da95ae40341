"""Delta Lake interop — jar-less reader + minimal writer against the
PUBLIC Delta transaction-log protocol (https://github.com/delta-io/delta
PROTOCOL.md).

The container ships no delta-spark jars, but the protocol needs none:
a Delta table is parquet data files plus ``_delta_log/`` holding
ordered JSON commits (``%020d.json`` of newline-delimited action
objects: ``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``txn``)
and optional parquet checkpoints.  This module implements the seam the
north star needs — "a user with an existing Delta table can read it,
and our outputs are readable by any Delta engine" — in pure Python +
Spark DataFrame calls:

- **Reader**: replay the log (latest checkpoint parquet + later JSON
  commits, or pure JSON), resolve the live file set, prune partitions
  from log ``partitionValues`` BEFORE touching data, and hand the
  file list to the format-neutral scan core (sources/tablescan.py:
  snapshot cache, hive check, basePath or grouped scan, row address,
  position-delete anti-join, exact ``where_range`` filter), which the
  Iceberg reader shares.  This module keeps what is Delta's own: log
  replay, checkpoints, and column mapping.  ``metaData.schemaString``
  is Spark's own JSON schema format, so types round-trip exactly.
  Time travel via ``version=``.  **Deletion vectors** (the v3
  ``deletionVectors`` reader feature) are fully supported:
  descriptors decode via the pure-Python roaring codec in
  sources/dv.py inside executors, and their positions are
  anti-joined away on the row address.
  **Column mapping** is supported in BOTH modes: name-mode data
  files carry physical column names — the scan reads the physical
  schema and renames (nested included) back to the logical view —
  and id-mode files match by PARQUET FIELD ID, resolved by the
  engine from each file's own footer (executor-parallel, memoized
  per snapshot — never via the session-wide
  ``spark.sql.parquet.fieldId.read.enabled`` conf, which Spark
  consults at action time and so cannot be scoped to a lazy plan);
  partition filters accept logical names in both.
- **Writer**: ``mode='append' | 'overwrite'`` + ``replace_where=``
  (partition-scoped overwrite), hive-style partition layout, commits
  published with PUT-IF-ABSENT (O_EXCL locally, ``fs.create(path,
  overwrite=false)`` on HDFS) and optimistic retry for appends —
  the same commit rule the Delta spec mandates.  ``txn_app_id``/
  ``txn_version`` ride the spec's ``txn`` action for idempotent
  (exactly-once) streaming appends — see
  ``streaming.foreach_batch_delta_append``.  :func:`delta_delete_where`
  is row-level DELETE via deletion vectors: matching row positions are
  bitmap-encoded and written as DV files INSIDE executors (the driver
  sees only O(affected files) descriptors), no data file rewritten.
  ``delta_checkpoint`` writes a spec-shaped parquet checkpoint (full
  action schema: txn, protocol incl. feature lists, metaData incl.
  format, add incl. modificationTime + deletionVector, remove
  tombstones) + ``_last_checkpoint``; ``delta_history`` /
  ``delta_vacuum`` cover the ops surface (DESCRIBE HISTORY / VACUUM
  semantics, retention window included).

Writes into column-mapped tables translate logical -> physical for
staging (physical column names nested included, parquet field ids
riding the cast) so foreign readers of either mode can match the new
files; the commit keeps physical-keyed partitionValues.

Honest gates (loud, never silent): reader features beyond
``_SUPPORTED_READER_FEATURES`` raise ``NotImplementedError`` naming
the feature; object stores without atomic create-if-absent (S3
without a commit coordinator) are exactly as unsupported here as in
Delta itself and fail on the exclusive create.

Scale notes: snapshot state is a DATAFRAME, not driver memory — the
checkpoint's add/remove actions stay in a Spark plan, the JSON tail
(O(commits since checkpoint), bounded by the checkpoint cadence) is
the only log segment replayed driver-side, and reads collect only the
PRUNED file list after partition filters run against the plan (the
same planning cost delta-spark pays).  Checkpoints are written from
that plan without ever materializing a driver-side row list, so a
10M-file table checkpoints without driver-memory risk.  Partition
pruning happens on log metadata, so a pruned read never lists or
opens pruned data files; the data scan is the stock vectorized
parquet reader (pushdown/pruning/AQE all apply).  Full-table
maintenance ops (``delta_vacuum``, ``delta_delete_where``'s scan, the
``DeltaSnapshot.files`` compatibility dict) do materialize the file
list they operate on — inherent to their contract and documented on
each.

Reference parity: the reference engine (wrangle_pypes) has no table
format; this is [EXT] north-star surface alongside sources/manifest.py
(whose docstring names Delta as the real-world answer).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil

_LOG_DIR = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"
# reader features we actually implement; anything else in a v3+
# protocol's readerFeatures is a loud gate ("columnMapping" is listed
# because name mode is supported — the metadata check still gates id
# mode, which is where the unsupported matching lives)
_SUPPORTED_READER_FEATURES = {"timestampNtz", "v2Checkpoint",
                              "deletionVectors", "columnMapping",
                              # read-time no-op: the feature only
                              # constrains how VACUUM behaves, and
                              # delta_vacuum already honors the
                              # retention window
                              "vacuumProtocolCheck",
                              # every scan already reads data files
                              # with the TABLE schema explicitly, and
                              # Spark 4's parquet reader performs the
                              # spec's widenings (int->long,
                              # float->double, short/byte->int,
                              # int->decimal) natively
                              "typeWidening"}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class DeltaProtocolError(NotImplementedError):
    """The table uses a protocol feature this reader does not
    implement — refusing is the only correct behavior (the spec forbids
    reading tables whose reader version/features you don't support)."""


class DeltaConcurrentWriteError(RuntimeError):
    """Another writer committed the version we tried to publish and
    the operation is not safely retryable (overwrite/replace_where)."""


_DV_STRUCT = T.StructType([
    T.StructField("storageType", T.StringType()),
    T.StructField("pathOrInlineDv", T.StringType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("sizeInBytes", T.IntegerType()),
    T.StructField("cardinality", T.LongType()),
])

# the reconciled live-file state carried as a DataFrame
_ADD_STATE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("partitionValues",
                  T.MapType(T.StringType(), T.StringType())),
    T.StructField("size", T.LongType()),
    T.StructField("modificationTime", T.LongType()),
    T.StructField("dataChange", T.BooleanType()),
    T.StructField("deletionVector", _DV_STRUCT),
    T.StructField("stats", T.StringType()),
])

_REMOVE_STATE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("deletionTimestamp", T.LongType()),
    T.StructField("dataChange", T.BooleanType()),
])

_DV_KEYS = ("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
            "cardinality")


def _dv_tuple(dvd: Optional[dict]):
    if not dvd:
        return None
    return (dvd.get("storageType"), dvd.get("pathOrInlineDv"),
            dvd.get("offset"), dvd.get("sizeInBytes"),
            dvd.get("cardinality"))


# local metadata rows through Arrow, never pickled Python partitions
# (see wrangle_pypes_spark.localdf for the numbers)
from ..localdf import local_df as _local_df
from . import tablescan


# snapshot cache: a committed (table, version) snapshot is IMMUTABLE
# (the commit file's content never changes; vacuum/log-cleanup don't
# alter live state), so resolved snapshots are safe to reuse across a
# session.  This is what makes commit-heavy lifecycles cheap: a
# write→checkpoint→read sequence resolves the post-commit snapshot
# once instead of re-reading the checkpoint's singleton actions (a
# Spark job) at every step.  The fingerprint is the version's own
# commit JSON, so a DIFFERENT table recreated at the same path (same
# version number, different history) never hits.
_SNAPSHOT_CACHE = tablescan.SnapshotCache()


@dataclass
class DeltaSnapshot:
    """A resolved table version.  File state lives in ``files_df`` (a
    lazy Spark plan over the checkpoint parquet + the replayed JSON
    tail); nothing O(live files) is held driver-side unless a caller
    explicitly materializes (``files`` / ``pruned_adds``)."""
    path: str
    version: int
    schema: T.StructType
    partition_columns: list[str]
    protocol: dict = field(default_factory=dict)
    metadata: dict = field(default_factory=dict, repr=False)
    txns: dict = field(default_factory=dict)  # appId -> last version
    _state: Optional[Callable] = field(default=None, repr=False)
    _adds_df: Optional[DataFrame] = field(default=None, repr=False)
    _tombstones_df: Optional[DataFrame] = field(default=None, repr=False)
    # the replay state this snapshot composed from (base closures +
    # tail dicts) — lets a writer derive the post-commit snapshot at
    # CONSTANT plan depth (base + one merged tail), so commit chains
    # never nest plans
    _replay_state: Optional[dict] = field(default=None, repr=False)

    def _build(self) -> None:
        if self._adds_df is None:
            self._adds_df, self._tombstones_df = self._state()

    @property
    def files_df(self) -> DataFrame:
        """Live add actions as a DataFrame (schema
        ``_ADD_STATE_SCHEMA``) — the scale-safe way to inspect or
        prune the file set."""
        self._build()
        return self._adds_df

    @property
    def tombstones_df(self) -> DataFrame:
        """Remove tombstones still carried for checkpoint/vacuum
        bookkeeping (schema ``_REMOVE_STATE_SCHEMA``)."""
        self._build()
        return self._tombstones_df

    def column_mapping(self) -> Optional[tuple[dict, dict]]:
        """(logical -> physical, physical -> logical) top-level name
        maps when column mapping is active (name OR id mode — log
        partitionValues/partitionColumns carry physical names in
        both), else None."""
        if _mapping_mode(self.metadata) not in ("name", "id"):
            return None
        log2phys = {f.name: _physical_name(f)
                    for f in self.schema.fields}
        return log2phys, {v: k for k, v in log2phys.items()}

    @property
    def logical_partition_columns(self) -> list[str]:
        """Partition columns under their USER-facing names (the log's
        partitionColumns carry physical names when column mapping is
        active)."""
        maps = self.column_mapping()
        if maps is None:
            return list(self.partition_columns)
        _, phys2log = maps
        return [phys2log.get(c, c) for c in self.partition_columns]

    def pruned_adds(self,
                    partition_filter: Optional[dict] = None,
                    stats_ranges: Optional[dict] = None
                    ) -> list[dict]:
        """Collect add actions as dicts, AFTER applying
        ``partition_filter`` in the Spark plan — the driver holds only
        the pruned list (for an unfiltered call, the full list: that
        is the planning cost of actually scanning every file).

        ``stats_ranges`` ({physical column: (dtype, lo, hi)}) is DATA
        SKIPPING on the adds' ``stats`` JSON, also inside the plan: a
        file survives unless its stats PROVE every row misses the
        range (max < lo or min > hi) — files without stats (or without
        that column's min/max) always survive, so skipping is purely
        an I/O reduction, never a correctness decision.  min == max ==
        null with rows present (an all-null file) is skipped: a range
        comparison can't select SQL nulls.

        Under column mapping, filter keys may be logical or physical
        names; returned ``partitionValues`` are LOGICAL-keyed, with
        the raw physical-keyed tuple kept as
        ``partitionValuesPhysical`` for action rewriting."""
        maps = self.column_mapping()
        log_pcols = self.logical_partition_columns
        log2phys = maps[0] if maps else {}
        d = self.files_df
        if stats_ranges:
            for col, (dt, lo, hi) in stats_ranges.items():
                parsed = F.from_json(F.col("stats"), T.StructType([
                    T.StructField("numRecords", T.LongType()),
                    T.StructField("minValues", T.StructType(
                        [T.StructField(col, dt)])),
                    T.StructField("maxValues", T.StructType(
                        [T.StructField(col, dt)])),
                    T.StructField("nullCount", T.StructType(
                        [T.StructField(col, T.LongType())])),
                ]))
                mn = parsed["minValues"][col]
                mx = parsed["maxValues"][col]
                all_null = F.coalesce(
                    parsed["nullCount"][col] == parsed["numRecords"],
                    F.lit(False))
                no_stats = F.col("stats").isNull() \
                    | (mn.isNull() & ~all_null)
                in_range = F.lit(True)
                if lo is not None:
                    in_range = in_range & (mx >= F.lit(lo))
                if hi is not None:
                    in_range = in_range & (mn <= F.lit(hi))
                # coalesce(True): a half-present bound (foreign stats
                # with min but no max) proves nothing — keep the file
                d = d.filter(no_stats | F.coalesce(
                    mn.isNotNull() & in_range, F.lit(True)))
        if partition_filter:
            unknown = [k for k in partition_filter
                       if k not in log_pcols
                       and k not in self.partition_columns]
            if unknown:
                raise ValueError(
                    f"partition_filter keys {sorted(unknown)} are not "
                    f"partition columns {log_pcols}")
            for k, v in partition_filter.items():
                key = log2phys.get(k, k)
                d = d.filter(F.col("partitionValues").getItem(key)
                             == str(v))
        out = []
        phys2log = maps[1] if maps else {}
        for r in d.collect():
            pv_raw = dict(r["partitionValues"] or {})
            a = {"path": r["path"],
                 "partitionValues": ({phys2log.get(k, k): v
                                      for k, v in pv_raw.items()}
                                     if maps else pv_raw),
                 "size": r["size"],
                 "modificationTime": r["modificationTime"],
                 "dataChange": r["dataChange"]}
            if maps:
                a["partitionValuesPhysical"] = pv_raw
            dvd = r["deletionVector"]
            if dvd is not None and dvd["storageType"] is not None:
                a["deletionVector"] = dvd.asDict()
            if r["stats"] is not None:
                a["stats"] = r["stats"]
            out.append(a)
        return out

    @property
    def files(self) -> dict:
        """Compatibility view: path -> add action dict.  MATERIALIZES
        the whole file list in the driver — metadata-scale convenience
        for catalogs/tests, not for hot paths."""
        return {a["path"]: a for a in self.pruned_adds()}

    @property
    def file_paths(self) -> list[str]:
        return sorted(r["path"]
                      for r in self.files_df.select("path").collect())


def _log_path(table: str, name: str) -> str:
    return os.path.join(table, _LOG_DIR, name)


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _checkpoint_name(version: int) -> str:
    return f"{version:020d}.checkpoint.parquet"


def _create_exclusive(path: str, text: str, spark=None) -> bool:
    """Put-if-absent publish of one commit file.  True if we won the
    race, False if the name already exists (someone else committed this
    version).  Local: O_CREAT|O_EXCL.  Remote: ``fs.create(path,
    overwrite=false)`` — atomic on HDFS; stores without this primitive
    fail here, which is the honest Delta-on-S3 story."""
    if fsutil.is_local(path):
        p = fsutil._strip_file_scheme(path)
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(text)
        return True
    fs, jpath, _ = fsutil._hadoop(fsutil._require_spark(spark, path), path)
    try:
        out = fs.create(jpath, False)
    except Exception:
        return False
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def _check_protocol(proto: dict) -> None:
    reader = int(proto.get("minReaderVersion", 1))
    if reader <= 1:
        return
    if reader == 2:
        # column mapping may be active; caught via metadata check below
        return
    feats = set(proto.get("readerFeatures") or [])
    unsupported = feats - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise DeltaProtocolError(
            f"Delta reader features {sorted(unsupported)} not "
            "implemented (supported: "
            f"{sorted(_SUPPORTED_READER_FEATURES)})")


# writer features this engine actually honors when committing.
# Conditional obligations (invariants, constraints, generated /
# identity columns) are checked against the METADATA — the feature
# flag alone is harmless until an instance exists.  changeDataFeed is
# allowed: the spec's readers derive changes from dataChange
# add/remove (and DV pairs) when no cdc actions exist, which is
# exactly what this engine commits.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly", "deletionVectors", "columnMapping", "typeWidening",
    "timestampNtz", "v2Checkpoint", "vacuumProtocolCheck",
    "changeDataFeed", "invariants", "checkConstraints",
    "generatedColumns", "identityColumns",
}


def _check_writer_allowed(snap: "DeltaSnapshot",
                          operation: str) -> None:
    """The spec's writer rule: refuse to commit unless every writer
    feature/obligation the table carries is implemented.  Loud, never
    a silently broken invariant.  ``operation`` is one of
    append|overwrite|delete|optimize|restore."""
    proto = snap.protocol or {}
    if int(proto.get("minWriterVersion", 2)) >= 7:
        unsupported = (set(proto.get("writerFeatures") or [])
                       - _SUPPORTED_WRITER_FEATURES)
        if unsupported:
            raise DeltaProtocolError(
                f"Delta writer features {sorted(unsupported)} not "
                "implemented — committing would break invariants "
                "this engine cannot maintain (supported: "
                f"{sorted(_SUPPORTED_WRITER_FEATURES)})")
    conf = (snap.metadata or {}).get("configuration") or {}
    if str(conf.get("delta.appendOnly", "")).lower() == "true" \
            and operation != "append":
        raise ValueError(
            f"table is delta.appendOnly=true — {operation} is "
            "forbidden by the table's own configuration")
    # CHECK constraints / invariants / generated columns are
    # EVALUATED on the new-row path (_enforce_write_obligations,
    # called by write_delta) — delete/optimize/restore only
    # rearrange rows that already satisfied them.  Identity
    # allocation stays refused: it needs the high-water-mark
    # protocol this writer does not implement.
    if operation in ("append", "overwrite"):
        for f in (snap.schema.fields if snap.schema else []):
            md = f.metadata or {}
            if any(k.startswith("delta.identity.") for k in md):
                raise DeltaProtocolError(
                    f"column {f.name!r} is an identity column — "
                    "this writer does not allocate identity values, "
                    "refusing")


def _write_checks(snap: "DeltaSnapshot") -> list[tuple[str, str]]:
    """(name, boolean SQL) obligations the table imposes on new
    rows: CHECK constraints from the configuration and column
    ``delta.invariants`` expressions."""
    conf = (snap.metadata or {}).get("configuration") or {}
    out = []
    for k in sorted(conf):
        if k.startswith("delta.constraints."):
            out.append((f"CHECK constraint "
                        f"{k[len('delta.constraints.'):]}", conf[k]))
    for f in snap.schema.fields:
        inv = (f.metadata or {}).get("delta.invariants")
        if inv:
            try:
                expr = json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                raise DeltaProtocolError(
                    f"column {f.name!r} carries an unparseable "
                    f"delta.invariants payload: {inv!r}")
            out.append((f"invariant on {f.name}", expr))
    return out


def _enforce_write_obligations(df: DataFrame,
                               snap: "DeltaSnapshot") -> DataFrame:
    """Evaluate the table's write obligations on NEW rows, exactly
    as delta-spark does: absent GENERATED columns are computed from
    their generation expression, present ones are validated against
    it, and CHECK constraints / column invariants refuse the whole
    commit when any row does not evaluate TRUE (delta-spark
    semantics: a null result is a violation, not a pass).  Each
    check is one bounded limit(1) scan of the staged plan — the
    violating row is named in the error."""
    checks = _write_checks(snap)
    for f in snap.schema.fields:
        gen = (f.metadata or {}).get("delta.generationExpression")
        if gen is None:
            continue
        if f.name not in df.columns:
            df = df.withColumn(f.name,
                               F.expr(gen).cast(f.dataType))
        else:
            checks.append((
                f"generated column {f.name}",
                f"`{f.name}` <=> CAST(({gen}) AS "
                f"{f.dataType.simpleString()})"))
    for name, expr in checks:
        try:
            cond = F.expr(expr).cast("boolean")
        except Exception as e:
            raise DeltaProtocolError(
                f"{name}: expression {expr!r} does not compile in "
                f"this engine: {e}")
        bad = df.filter(~F.coalesce(cond, F.lit(False))).limit(1) \
            .collect()
        if bad:
            raise ValueError(
                f"{name} violated ({expr}); e.g. row "
                f"{bad[0].asDict()}")
    return df


def _check_metadata(meta: dict) -> None:
    conf = meta.get("configuration") or {}
    mapping = conf.get("delta.columnMapping.mode", "none")
    if mapping not in ("none", "", "name", "id"):
        raise DeltaProtocolError(
            f"Delta column mapping mode {mapping!r} not implemented "
            "(supported: name, id)")


def _mapping_mode(meta: dict) -> str:
    return (meta.get("configuration")
            or {}).get("delta.columnMapping.mode", "none") or "none"


def _physical_name(f: T.StructField) -> str:
    return (f.metadata or {}).get("delta.columnMapping.physicalName",
                                  f.name)


def _physical_type(dt: T.DataType) -> T.DataType:
    """The same type tree with every struct field renamed to its
    column-mapping physicalName (spec: nested fields carry their own
    mapping metadata)."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(_physical_name(f),
                          _physical_type(f.dataType), f.nullable)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_physical_type(dt.keyType),
                         _physical_type(dt.valueType),
                         dt.valueContainsNull)
    return dt


def _mapping_id(f: T.StructField):
    v = (f.metadata or {}).get("delta.columnMapping.id")
    return None if v is None else int(v)


def _fieldid_meta(f: T.StructField, *, required: bool) -> dict:
    """``{'parquet.field.id': N}`` from a field's column-mapping id —
    the metadata key Spark's parquet reader/writer matches on when
    ``spark.sql.parquet.fieldId.{read,write}.enabled`` is set."""
    fid = _mapping_id(f)
    if fid is None:
        if required:
            raise DeltaProtocolError(
                f"column mapping id missing for field {f.name!r} — "
                "an id-mode table must carry delta.columnMapping.id "
                "on every field")
        return {}
    return {"parquet.field.id": fid}


def _id_signatures(spark: SparkSession, snap: "DeltaSnapshot",
                   adds: list[dict]) -> dict[str, str]:
    """Relative add path -> canonical footer layout signature (the
    JSON of footers.field_node trees), footers read executor-parallel
    and memoized on the immutable snapshot so repeated scans of one
    (table, version) pay the job once."""
    from . import footers
    cache = snap.__dict__.setdefault("_id_sig_cache", {})
    missing = sorted({a["path"] for a in adds} - set(cache))
    if missing:
        abs_of = {os.path.join(snap.path, p): p for p in missing}
        for ap, tree in footers.footer_nodes(
                spark, sorted(abs_of)).items():
            cache[abs_of[ap]] = json.dumps(tree,
                                           separators=(",", ":"))
    return {a["path"]: cache[a["path"]] for a in adds}


def _resolve_id_read(data_fields: list[T.StructField],
                     nodes: list[dict]) -> tuple:
    """(read schema, rename spec) for ONE id-mode footer layout:
    every table field resolves to the footer column carrying its
    delta.columnMapping.id — by ID, never by name — nested structs
    included; an id absent from the file reads as null via a
    synthetic column name no file can bear (name collisions with a
    WRONG id must not match)."""
    st = _resolve_id_type(T.StructType(data_fields),
                          {"n": "", "i": None, "c": nodes})
    rename = [(st.fields[i].name, f.dataType, f.name)
              for i, f in enumerate(data_fields)]
    return st, rename


def _resolve_id_type(dt: T.DataType, node) -> T.DataType:
    if isinstance(dt, T.StructType):
        children = (node or {}).get("c") or []
        by_id: dict[int, dict] = {}
        for c in children:
            if c["i"] is None:
                continue
            if c["i"] in by_id:
                raise DeltaProtocolError(
                    f"duplicate parquet field id {c['i']} in a data "
                    "file footer of an id-mode table")
            by_id[c["i"]] = c
        out = []
        for f in dt.fields:
            fid = _mapping_id(f)
            if fid is None:
                raise DeltaProtocolError(
                    f"column mapping id missing for field {f.name!r}"
                    " — an id-mode table must carry "
                    "delta.columnMapping.id on every field")
            child = by_id.get(fid)
            if child is None:
                out.append(T.StructField(
                    f"__wps_absent_id_{fid}",
                    _physical_type(f.dataType), f.nullable))
            else:
                out.append(T.StructField(
                    child["n"], _resolve_id_type(f.dataType, child),
                    f.nullable))
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        c = (node or {}).get("c") or []
        return T.ArrayType(
            _resolve_id_type(dt.elementType, c[0] if c else None),
            dt.containsNull)
    if isinstance(dt, T.MapType):
        c = (node or {}).get("c") or []
        return T.MapType(
            _resolve_id_type(dt.keyType, c[0] if len(c) > 0 else None),
            _resolve_id_type(dt.valueType,
                             c[1] if len(c) > 1 else None),
            dt.valueContainsNull)
    return dt


def _to_physical_df(df: DataFrame, snap: "DeltaSnapshot",
                    fields: Optional[list] = None) -> DataFrame:
    """Translate a logical-named DataFrame to the table's physical
    layout for staging: physical column names (nested included, via
    cast) and — so a foreign id-mode reader can match — parquet field
    ids from delta.columnMapping.id riding the schema metadata.
    No-op for unmapped tables.  ``fields`` overrides the field list
    (merge_schema staging: the MERGED schema's fields, of which only
    those the write actually carries are selected)."""
    mode_cm = _mapping_mode(snap.metadata)
    if mode_cm not in ("name", "id"):
        return df
    with_ids = (mode_cm == "id")
    have = set(df.columns)
    cols = []
    for f in (snap.schema.fields if fields is None else fields):
        if f.name not in have:
            continue
        pt = _physical_write_type(f.dataType, with_ids=with_ids)
        cols.append(
            F.col(f.name).cast(pt).alias(
                _physical_name(f),
                metadata=_fieldid_meta(f, required=with_ids)))
    return df.select(*cols)


def _physical_write_type(dt: T.DataType, *,
                         with_ids: bool) -> T.DataType:
    """Type tree under PHYSICAL names, optionally carrying
    parquet.field.id metadata — the staging schema for writes into
    column-mapped tables (ids ride the cast into the parquet
    footer)."""
    if isinstance(dt, T.StructType):
        # ids attach whenever the table carries them (name mode
        # included — Delta writes both); ``with_ids`` only makes a
        # missing id an error (id mode can't match without them)
        return T.StructType([
            T.StructField(_physical_name(f),
                          _physical_write_type(f.dataType,
                                               with_ids=with_ids),
                          f.nullable,
                          _fieldid_meta(f, required=with_ids))
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _physical_write_type(dt.elementType, with_ids=with_ids),
            dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_write_type(dt.keyType, with_ids=with_ids),
            _physical_write_type(dt.valueType, with_ids=with_ids),
            dt.valueContainsNull)
    return dt


def _replay_json_commit(text: str, state: dict) -> None:
    """Apply one commit's actions to the TAIL replay state (spec: last
    metaData/protocol wins; add/remove reconcile by path).  Only the
    post-checkpoint tail goes through here, so these dicts stay
    O(commits since checkpoint)."""
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        action = json.loads(line)
        if "add" in action:
            a = action["add"]
            state["tail_adds"][a["path"]] = a
            state["tail_removes"].pop(a["path"], None)
        elif "remove" in action:
            r = action["remove"]
            state["tail_adds"].pop(r["path"], None)
            state["tail_removes"][r["path"]] = r
        elif "metaData" in action:
            state["meta"] = action["metaData"]
        elif "protocol" in action:
            state["proto"] = action["protocol"]
        elif "txn" in action:
            t = action["txn"]
            app = t.get("appId")
            if app is not None:
                state["txns"][app] = max(
                    int(t.get("version", -1)),
                    int(state["txns"].get(app, -1)))
        # commitInfo / domainMetadata are informational for reads


def _sub(prefix: str, name: str, dtype: T.DataType, present: set):
    """One nested checkpoint field as a column, null-typed when the
    foreign checkpoint's schema lacks it."""
    col = (F.col(f"{prefix}.{name}") if name in present
           else F.lit(None))
    return col.cast(dtype).alias(name)


def _load_checkpoint(spark: SparkSession, table: str,
                     version: int, parts: Optional[int],
                     names: Optional[list] = None) -> dict:
    """Load replay state from a parquet checkpoint (classic single or
    multi-part, or a UUID-named V2 checkpoint whose file actions live
    in ``_sidecars/`` parquet).  Small singletons
    (protocol/metaData/txn) collect; add/remove actions stay as
    DataFrames."""
    if not names:
        if parts:
            names = [f"{version:020d}.checkpoint."
                     f"{i:010d}.{parts:010d}.parquet"
                     for i in range(1, parts + 1)]
        else:
            names = [_checkpoint_name(version)]
    cp = spark.read.parquet(*[_log_path(table, n) for n in names])
    state = {"meta": None, "proto": None, "txns": {},
             "tail_adds": {}, "tail_removes": {}}
    cols = {f.name: f for f in cp.schema.fields}
    # V2 checkpoints move the O(files) add/remove bulk into sidecar
    # files; the manifest keeps the singletons and sidecar pointers
    file_src = cp
    if "sidecar" in cols:
        sc_rows = (cp.filter(F.col("sidecar.path").isNotNull())
                   .select("sidecar.path").collect())
        sc_paths = []
        for r in sc_rows:
            p = r["path"]
            if "://" in p or os.path.isabs(p):
                sc_paths.append(p)
            else:
                sc_paths.append(
                    _log_path(table, os.path.join("_sidecars", p)))
        if sc_paths:
            file_src = spark.read.parquet(*sc_paths)
    fcols = {f.name: f for f in file_src.schema.fields}
    # ONE collect for all singleton actions (protocol/metaData/txn):
    # they live on rows whose add/remove is null, so the predicate
    # prunes the O(files) bulk before anything reaches the driver
    singleton_cols = [c for c in ("protocol", "metaData", "txn")
                      if c in cols]
    if singleton_cols:
        cond = None
        for c, probe in (("protocol", "protocol.minReaderVersion"),
                         ("metaData", "metaData.id"),
                         ("txn", "txn.appId")):
            if c in cols:
                p = F.col(probe).isNotNull()
                cond = p if cond is None else (cond | p)
        for r in cp.filter(cond).select(*singleton_cols).collect():
            d = r.asDict(True)
            proto = d.get("protocol")
            if proto and proto.get("minReaderVersion") is not None:
                state["proto"] = {k: v for k, v in proto.items()
                                  if v is not None}
            meta = d.get("metaData")
            if meta and meta.get("id"):
                state["meta"] = meta
            txn = d.get("txn")
            if txn and txn.get("appId") is not None:
                state["txns"][txn["appId"]] = max(
                    int(txn["version"]),
                    int(state["txns"].get(txn["appId"], -1)))

    def _adds() -> DataFrame:
        if "add" not in fcols:
            return _local_df(spark, [], _ADD_STATE_SCHEMA)
        pres = {f.name for f in fcols["add"].dataType.fields}
        dv_col = F.lit(None).cast(_DV_STRUCT)
        if "deletionVector" in pres:
            dpres = {f.name for f in next(
                f for f in fcols["add"].dataType.fields
                if f.name == "deletionVector").dataType.fields}
            dv_col = F.when(
                F.col("add.deletionVector.storageType").isNotNull()
                if "storageType" in dpres else F.lit(False),
                F.struct(*[_sub("add.deletionVector", n, t, dpres)
                           for n, t in zip(_DV_KEYS,
                                           [f.dataType for f in
                                            _DV_STRUCT.fields])]))
        return (file_src.filter(F.col("add.path").isNotNull())
                .select(F.col("add.path").alias("path"),
                        _sub("add", "partitionValues",
                             _ADD_STATE_SCHEMA["partitionValues"]
                             .dataType, pres),
                        _sub("add", "size", T.LongType(), pres),
                        _sub("add", "modificationTime", T.LongType(),
                             pres),
                        _sub("add", "dataChange", T.BooleanType(),
                             pres),
                        dv_col.alias("deletionVector"),
                        _sub("add", "stats", T.StringType(), pres)))

    def _removes() -> DataFrame:
        if "remove" not in fcols:
            return _local_df(spark, [], _REMOVE_STATE_SCHEMA)
        pres = {f.name for f in fcols["remove"].dataType.fields}
        return (file_src.filter(F.col("remove.path").isNotNull())
                .select(F.col("remove.path").alias("path"),
                        _sub("remove", "deletionTimestamp",
                             T.LongType(), pres),
                        _sub("remove", "dataChange", T.BooleanType(),
                             pres)))

    state["cp_adds"] = _adds
    state["cp_removes"] = _removes
    return state


def delta_snapshot(spark: SparkSession, table: str, *,
                   version: Optional[int] = None,
                   timestamp=None) -> DeltaSnapshot:
    """Resolve a table snapshot from the log: newest eligible
    checkpoint (skipped entirely for time travel before it), then JSON
    commits through the target version.  O(log) driver work — the
    checkpoint's file actions are referenced as a DataFrame plan, not
    collected.  ``timestamp`` (epoch seconds or ISO string) resolves
    TIMESTAMP AS OF via commit-file modification times — mutually
    exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("version and timestamp are mutually "
                             "exclusive")
        version = _resolve_timestamp_version(spark, table, timestamp)
    log_names = fsutil.list_dir(os.path.join(table, _LOG_DIR), spark)
    commits = {}
    cp_versions = set()
    cp_multipart: dict[int, int] = {}
    cp_names: dict[int, list] = {}
    for n in log_names:
        if n.endswith(".json") and n[:20].isdigit():
            commits[int(n[:20])] = n
        elif ".checkpoint." in n and n.endswith(".parquet") \
                and n[:20].isdigit():
            v = int(n[:20])
            cp_versions.add(v)
            cp_names.setdefault(v, []).append(n)
            # multi-part: NNN.checkpoint.<i>.<parts>.parquet
            # (a UUID mid segment is a V2 checkpoint manifest)
            mid = n[len(f"{v:020d}.checkpoint."):-len(".parquet")]
            bits = mid.split(".")
            if len(bits) == 2 and all(b.isdigit() for b in bits):
                cp_multipart[v] = int(bits[1])
    if not commits and not cp_versions:
        raise FileNotFoundError(f"not a Delta table (no commits): {table}")
    # a checkpoint-only log is valid: the spec allows cleaning JSON
    # commits at or below the newest checkpoint
    latest = max(set(commits) | cp_versions)
    target = latest if version is None else int(version)
    if target > latest:
        raise ValueError(
            f"version {target} not available (latest {latest})")

    target_text = (fsutil.read_text(
        _log_path(table, commits[target]), spark)
        if target in commits else None)
    cached = _SNAPSHOT_CACHE.get(spark, table, target,
                                 tablescan.fingerprint(target_text))
    if cached is not None:
        return cached

    # newest checkpoint at or below target, via _last_checkpoint hint
    # first, then the listing scan (hint can be stale/absent); the
    # listing knows each checkpoint's part count, so foreign
    # multi-part checkpoints load without a hint
    cp_version, cp_parts = -1, None
    hint = fsutil.read_text(_log_path(table, _LAST_CHECKPOINT), spark)
    if hint:
        h = json.loads(hint)
        if int(h.get("version", -1)) <= target:
            cp_version = int(h["version"])
            cp_parts = h.get("parts")
    if cp_version < 0:
        eligible = [v for v in cp_versions if v <= target]
        if eligible:
            cp_version = max(eligible)
            cp_parts = cp_multipart.get(cp_version)

    if cp_version >= 0:
        state = _load_checkpoint(spark, table, cp_version, cp_parts,
                                 names=sorted(
                                     cp_names.get(cp_version, [])))
        start = cp_version + 1
    else:
        if not commits or target < min(commits):
            raise ValueError(
                f"version {target} not reconstructable (no checkpoint "
                f"at or below it and the earliest commit is "
                f"{min(commits) if commits else 'absent'})")
        state = {"meta": None, "proto": None, "txns": {},
                 "tail_adds": {}, "tail_removes": {},
                 "cp_adds": None, "cp_removes": None}
        start = min(commits)

    for v in range(start, target + 1):
        if v not in commits:
            raise ValueError(
                f"log is missing commit {v} (vacuumed?); cannot "
                f"reconstruct version {target}")
        text = (target_text if v == target
                else fsutil.read_text(_log_path(table, commits[v]),
                                      spark))
        if text is None:
            raise ValueError(f"unreadable commit {commits[v]}")
        _replay_json_commit(text, state)

    snap = _snapshot_from_state(spark, table, target, state)
    _SNAPSHOT_CACHE.put(spark, table, target,
                        tablescan.fingerprint(target_text), snap)
    return snap


def _snapshot_from_state(spark: SparkSession, table: str,
                         target: int, state: dict) -> DeltaSnapshot:
    """Finish a snapshot from replay state: validate protocol/meta,
    build the lazy file-state composition (base plan minus paths the
    tail superseded, plus the tail's own actions)."""
    if state["meta"] is None:
        raise ValueError(f"no metaData action found in log: {table}")
    _check_protocol(state["proto"] or {})
    _check_metadata(state["meta"])
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"]))

    tail_adds = state["tail_adds"]
    tail_removes = state["tail_removes"]
    cp_adds, cp_removes = state["cp_adds"], state["cp_removes"]

    def _compose() -> tuple[DataFrame, DataFrame]:
        add_rows = [(a["path"],
                     dict(a.get("partitionValues") or {}),
                     int(a.get("size") or 0),
                     int(a.get("modificationTime") or 0),
                     bool(a.get("dataChange", True)),
                     _dv_tuple(a.get("deletionVector")),
                     a.get("stats"))
                    for a in tail_adds.values()]
        rem_rows = [(r["path"],
                     int(r.get("deletionTimestamp") or 0),
                     bool(r.get("dataChange", True)))
                    for r in tail_removes.values()]
        tail_add_df = _local_df(spark, add_rows, _ADD_STATE_SCHEMA)
        tail_rem_df = _local_df(spark, rem_rows,
                                _REMOVE_STATE_SCHEMA)
        superseded = list(tail_adds) + list(tail_removes)
        if cp_adds is None:
            adds = tail_add_df
            removes = tail_rem_df
        else:
            adds = cp_adds()
            removes = cp_removes()
            if superseded:
                adds = adds.filter(~F.col("path").isin(superseded))
                removes = removes.filter(
                    ~F.col("path").isin(superseded))
            adds = adds.unionByName(tail_add_df)
            removes = removes.unionByName(tail_rem_df)
        return adds, removes

    return DeltaSnapshot(
        path=table, version=target, schema=schema,
        partition_columns=list(state["meta"].get("partitionColumns")
                               or []),
        protocol=state["proto"] or {},
        metadata=state["meta"],
        txns=dict(state.get("txns") or {}),
        _state=_compose,
        _replay_state=state)


def _post_commit_state(current: Optional[DeltaSnapshot]) -> dict:
    """Replay state seeded from an in-memory snapshot, so a writer
    can derive the post-commit snapshot WITHOUT re-reading the log.
    The previous snapshot's own base + tail carry forward (tail dicts
    copied, base closures shared), so chained commits compose at
    CONSTANT plan depth — exactly the state a disk replay of the same
    commits would build."""
    if current is None or current._replay_state is None:
        return {"meta": None, "proto": None, "txns": {},
                "tail_adds": {}, "tail_removes": {},
                "cp_adds": None, "cp_removes": None}
    st = current._replay_state
    return {"meta": st["meta"], "proto": st["proto"],
            "txns": dict(st["txns"]),
            "tail_adds": dict(st["tail_adds"]),
            "tail_removes": dict(st["tail_removes"]),
            "cp_adds": st["cp_adds"],
            "cp_removes": st["cp_removes"]}


def _cache_post_commit(spark, table: str, version: int,
                       current: Optional[DeltaSnapshot],
                       commit_text: str) -> None:
    """Derive the post-commit snapshot from the snapshot the writer
    already holds and cache it — the next lifecycle step (checkpoint,
    read, another write) then resolves with ZERO log/checkpoint I/O
    and ZERO Spark jobs."""
    state = _post_commit_state(current)
    if current is not None and current._replay_state is None:
        return  # nothing to extend from; next resolve reads the log
    _replay_json_commit(commit_text, state)
    try:
        snap = _snapshot_from_state(spark, table, version, state)
    except (ValueError, DeltaProtocolError):
        return  # let the next resolve rebuild (and raise) from disk
    _SNAPSHOT_CACHE.put(spark, table, version,
                        tablescan.fingerprint(commit_text), snap)


def _scan_adds(spark: SparkSession, snap: DeltaSnapshot,
               adds: list[dict], *, with_meta: bool = False
               ) -> DataFrame:
    """The table-schema scan over ``adds`` (one basePath scan when the
    hive layout agrees with the log, else one scan per partition tuple
    — both in sources/tablescan.py).  ``with_meta`` appends the
    ``tablescan.ROW_FILE``/``ROW_POS`` row address for deletion
    vectors.  Under column mapping data files carry PHYSICAL column
    names: in NAME mode the scan reads the physical schema and renames
    back to logical (struct casts rename nested fields positionally);
    in ID mode the engine resolves FIELD-ID matching itself from each
    file's footer (``_id_signatures`` / ``_resolve_id_read``) and scans
    by the resolved physical names — no session conf involved.  Both
    modes take the grouped scan: physical dir names can't match
    logical partitionValues."""
    maps = snap.column_mapping()
    pcols = snap.logical_partition_columns
    data_fields = [f for f in snap.schema.fields
                   if f.name not in pcols]
    sig_of: dict[str, str] = {}  # rel path -> layout signature
    if maps is None:
        reads = {"": (T.StructType(data_fields), None)}
    elif _mapping_mode(snap.metadata) == "id":
        # Field-id matching is resolved HERE, from the files' own
        # footers, never via spark.sql.parquet.fieldId.read.enabled:
        # Spark 4 consults that conf from the SESSION at ACTION time
        # (verified: per-read options are ignored and a set/restore
        # around the plan build breaks later collects), so using it
        # would mutate matching behavior for every other parquet read
        # in the session.  Footers are read executor-parallel and
        # memoized on the immutable snapshot; files sharing a layout
        # share one scan.
        sig_of = _id_signatures(spark, snap, adds)
        reads = {s: _resolve_id_read(data_fields, json.loads(s))
                 for s in set(sig_of.values())}
    else:
        reads = {"": (
            T.StructType([T.StructField(maps[0].get(f.name, f.name),
                                        _physical_type(f.dataType),
                                        f.nullable)
                          for f in data_fields]),
            [(maps[0].get(f.name, f.name), f.dataType, f.name)
             for f in data_fields])}

    def _read(paths: list, sig: str) -> DataFrame:
        schema, rename = reads[sig]
        d = spark.read.schema(schema).parquet(*paths)
        if rename is None:
            return d
        return d.select(*[F.col(p).cast(t).alias(n)
                          for p, t, n in rename])

    files = [(os.path.join(snap.path, a["path"]),
              {c: None if v == _HIVE_NULL else v
               for c, v in (a.get("partitionValues") or {}).items()},
              sig_of.get(a["path"], ""))
             for a in adds]
    if maps is None and pcols \
            and tablescan.hive_consistent(snap.path, files, pcols):
        d = tablescan.single_scan(spark, snap.path,
                                  [f[0] for f in files], snap.schema,
                                  with_meta=with_meta)
    else:
        d = tablescan.grouped_scan(
            files, pcols, {f.name: f.dataType for f in snap.schema},
            _read, with_meta=with_meta)
    extra = [tablescan.ROW_FILE, tablescan.ROW_POS] if with_meta else []
    return d.select(*[f.name for f in snap.schema.fields], *extra)


def _dv_positions(spark: SparkSession, table: str,
                  adds: list[dict]) -> Optional[DataFrame]:
    """Deleted (file, position) rows for every deletion vector carried
    by ``adds`` (decoded in executors by sources/dv.py), or None when
    no add carries one."""
    descriptors = [(os.path.join(table, a["path"]), 0,
                    a["deletionVector"])
                   for a in adds if a.get("deletionVector")]
    if not descriptors:
        return None
    root = fsutil._strip_file_scheme(table)

    def _decode(desc: dict, cache: dict):
        from . import dv
        return dv.decode_descriptor(desc, root, cache)

    return tablescan.position_deletes(spark, descriptors, _decode)


def _scan_live(spark: SparkSession, snap: DeltaSnapshot,
               adds: list[dict], *, with_meta: bool = False
               ) -> DataFrame:
    """``_scan_adds`` with the rows the adds' deletion vectors mark
    deleted dropped (one anti-join on the row address)."""
    dels = _dv_positions(spark, snap.path, adds)
    d = _scan_adds(spark, snap, adds,
                   with_meta=with_meta or dels is not None)
    return d if dels is None else tablescan.join_positions(d, dels)


def read_delta(spark: SparkSession, table: str, *,
               version: Optional[int] = None,
               timestamp=None,
               partition_filter: Optional[dict] = None,
               where_range: Optional[dict] = None) -> DataFrame:
    """Read a Delta table snapshot as a DataFrame.

    ``partition_filter`` ({col: value-string}) prunes on the LOG's
    partitionValues INSIDE the snapshot's file-state plan, so the
    driver collects only the surviving file list and a pruned read
    never lists or opens pruned data files.  Data columns come from
    the native parquet scan (schema enforced from ``schemaString``);
    partition columns are re-attached from the log, typed per the
    table schema, so tables whose data files omit partition columns
    (the Delta norm) read correctly.  Files carrying deletion vectors
    have their deleted positions anti-joined away.  ``timestamp`` is
    TIMESTAMP AS OF (see :func:`delta_snapshot`).

    ``where_range`` ({data column: (lo, hi)}, ``None`` = unbounded
    side) is DATA SKIPPING + the predicate: files whose per-file
    ``stats`` prove no row can land in [lo, hi] never reach the scan
    (pruned inside the file-state plan — at fleet scale this is what
    keeps a narrow range query from opening a million footers), and
    the surviving rows are filtered EXACTLY (``col >= lo AND col <=
    hi``, SQL semantics: nulls excluded), so the result equals a full
    scan with the same WHERE — skipping is purely an I/O win.  Files
    without stats always survive to the exact filter.  Use
    ``partition_filter`` for partition columns."""
    snap = delta_snapshot(spark, table, version=version,
                          timestamp=timestamp)
    ranges = None
    if where_range:
        maps = snap.column_mapping()
        log2phys = maps[0] if maps else {}
        fields = {f.name: f.dataType for f in snap.schema.fields}
        pcols = set(snap.logical_partition_columns)
        ranges = {}
        for c, (lo, hi) in where_range.items():
            if c in pcols:
                raise ValueError(
                    f"where_range column {c!r} is a partition column "
                    "— use partition_filter (log-tuple pruning)")
            if c not in fields:
                raise ValueError(
                    f"where_range column {c!r} not in table schema "
                    f"{sorted(fields)}")
            ranges[log2phys.get(c, c)] = (fields[c], lo, hi)
    adds = snap.pruned_adds(partition_filter, stats_ranges=ranges)
    if not adds:
        return _local_df(spark, [], snap.schema)
    return tablescan.table_rows(_scan_live(spark, snap, adds),
                                snap.schema, where_range)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _schema_string(schema: T.StructType) -> str:
    return json.dumps(schema.jsonValue())


def _new_metadata(schema: T.StructType,
                  partition_by: Sequence[str]) -> dict:
    return {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _schema_string(schema),
        "partitionColumns": list(partition_by),
        "configuration": {},
        "createdTime": None,
    }


def _stage_data_files(df: DataFrame, table: str,
                      partition_by: Sequence[str], *,
                      collect_stats: bool = True) -> list[dict]:
    """Write df's parquet files into the table directory (hive layout
    when partitioned) and return their add actions.  Files land under
    unique names BEFORE the commit that references them — invisible to
    readers until the commit publishes (the Delta crash-safety story:
    orphaned data files are garbage, never corruption).

    Each add carries the spec's ``stats`` JSON (numRecords +
    min/max/nullCount for the first 32 top-level columns, harvested
    from the just-written parquet footers — executor-parallel past a
    handful of files) so both foreign engines and ``read_delta``'s
    ``where_range`` can data-skip whole files."""
    spark = df.sparkSession
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)

    adds = []
    sc = spark.sparkContext
    hadoop = sc._jvm.org.apache.hadoop.fs.Path
    fs_root = hadoop(staging).getFileSystem(sc._jsc.hadoopConfiguration())

    def _walk(rel: str) -> None:
        full = os.path.join(staging, rel) if rel else staging
        for name in fsutil.list_dir(full, spark):
            child_rel = os.path.join(rel, name) if rel else name
            child = os.path.join(staging, child_rel)
            if name.endswith(".parquet"):
                pv = {}
                for seg in child_rel.split(os.sep)[:-1]:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        pv[k] = None if v == _HIVE_NULL else v
                fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
                dest_rel = (os.path.join(os.path.dirname(child_rel),
                                         fname)
                            if os.path.dirname(child_rel) else fname)
                dest = os.path.join(table, dest_rel)
                fsutil.ensure_dir(os.path.dirname(dest), spark)
                fsutil.rename(child, dest, spark)
                size = (os.path.getsize(
                            fsutil._strip_file_scheme(dest))
                        if fsutil.is_local(dest) else
                        fs_root.getFileStatus(hadoop(dest)).getLen())
                adds.append({
                    "path": dest_rel.replace(os.sep, "/"),
                    "partitionValues": pv,
                    "size": int(size),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": True,
                })
            elif "." not in name or "=" in name:
                _walk(child_rel)

    _walk("")
    if collect_stats and adds:
        from . import footers as _footers
        st = _footers.footer_stats(
            spark, [os.path.join(table, a["path"]) for a in adds])
        for a in adds:
            a["stats"] = st[os.path.join(table, a["path"])]
    fsutil.delete(staging, spark=spark)
    return adds


def _remove_action(a: dict, *, data_change: bool = True) -> dict:
    """The spec-shaped remove tombstone for a live add action (under
    column mapping the log keeps PHYSICAL partition keys).
    ``data_change=False`` marks a pure rearrangement (OPTIMIZE) that
    streaming sources must not re-emit."""
    return {"remove": {"path": a["path"],
                       "deletionTimestamp": int(time.time() * 1000),
                       "dataChange": bool(data_change),
                       "extendedFileMetadata": True,
                       "partitionValues":
                           a.get("partitionValuesPhysical")
                           or a.get("partitionValues") or {},
                       "size": int(a.get("size") or 0)}}


def _type_mismatches(write_schema: T.StructType,
                     table_schema: T.StructType, *,
                     by_name: bool = False) -> list[str]:
    """Column-level type disagreements; nullability is ignored —
    parquet carries actual nulls, the log schema governs.  Positional
    by default (names already validated); ``by_name`` compares only
    the write columns the table also has (the merge_schema shape)."""
    if by_name:
        tbl = {f.name: f for f in table_schema.fields}
        pairs = [(wf, tbl[wf.name]) for wf in write_schema.fields
                 if wf.name in tbl]
    else:
        pairs = list(zip(write_schema.fields, table_schema.fields))
    out = []
    for wf, tf in pairs:
        if wf.dataType.simpleString() != tf.dataType.simpleString():
            out.append(f"{wf.name}: {wf.dataType.simpleString()} vs "
                       f"table {tf.dataType.simpleString()}")
    return out


def _max_mapping_id(dt: T.DataType) -> int:
    """Largest delta.columnMapping.id anywhere in a type tree."""
    if isinstance(dt, T.StructType):
        return max((max(_mapping_id(f) or 0,
                        _max_mapping_id(f.dataType))
                    for f in dt.fields), default=0)
    if isinstance(dt, T.ArrayType):
        return _max_mapping_id(dt.elementType)
    if isinstance(dt, T.MapType):
        return max(_max_mapping_id(dt.keyType),
                   _max_mapping_id(dt.valueType))
    return 0


def _with_new_mapping(dt: T.DataType, next_id: int
                      ) -> tuple[T.DataType, int]:
    """The same type tree with fresh column-mapping metadata on every
    struct field (new columns entering a mapped table: nested fields
    need their own physicalName + id for id-mode matching)."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id
            next_id += 1
            inner, next_id = _with_new_mapping(f.dataType, next_id)
            fields.append(T.StructField(
                f.name, inner, f.nullable,
                {"delta.columnMapping.id": fid,
                 "delta.columnMapping.physicalName":
                     f"col-{uuid.uuid4()}"}))
        return T.StructType(fields), next_id
    if isinstance(dt, T.ArrayType):
        inner, next_id = _with_new_mapping(dt.elementType, next_id)
        return T.ArrayType(inner, dt.containsNull), next_id
    if isinstance(dt, T.MapType):
        kt, next_id = _with_new_mapping(dt.keyType, next_id)
        vt, next_id = _with_new_mapping(dt.valueType, next_id)
        return T.MapType(kt, vt, dt.valueContainsNull), next_id
    return dt, next_id


def _merged_write_schema(write_schema: T.StructType,
                         current: "DeltaSnapshot"
                         ) -> tuple[T.StructType, Optional[dict]]:
    """mergeSchema resolution for a write into an existing table:
    common columns keep the table's field (types already validated —
    evolution ADDS columns, never retypes; nested adds surface as a
    type mismatch upstream and refuse), new write columns append to
    the table schema in write order, and table columns absent from
    the write stay — this commit's files simply lack them, and the
    explicit-schema scan reads them as null.  Under column mapping
    the new fields get fresh physical names and mapping ids past
    delta.columnMapping.maxColumnId (nested included).  Returns
    (merged schema, metaData ACTION for the commit) — the action is
    None when no column is new, because the spec only re-publishes
    metaData when it changes."""
    table_names = {f.name for f in current.schema.fields}
    extras = [f for f in write_schema.fields
              if f.name not in table_names]
    if not extras:
        return current.schema, None
    mode_cm = _mapping_mode(current.metadata)
    conf = dict(current.metadata.get("configuration") or {})
    new_fields = []
    if mode_cm in ("name", "id"):
        next_id = max(
            int(conf.get("delta.columnMapping.maxColumnId", 0)),
            _max_mapping_id(current.schema)) + 1
        for f in extras:
            fid = next_id
            next_id += 1
            inner, next_id = _with_new_mapping(f.dataType, next_id)
            new_fields.append(T.StructField(
                f.name, inner, True,
                {"delta.columnMapping.id": fid,
                 "delta.columnMapping.physicalName":
                     f"col-{uuid.uuid4()}"}))
        conf["delta.columnMapping.maxColumnId"] = str(next_id - 1)
    else:
        new_fields = [T.StructField(f.name, f.dataType, True)
                      for f in extras]
    merged = T.StructType(list(current.schema.fields) + new_fields)
    meta = dict(current.metadata)
    meta["schemaString"] = _schema_string(merged)
    meta["configuration"] = conf
    return merged, meta


def write_delta(df: DataFrame, table: str, *, mode: str = "append",
                partition_by: Optional[Sequence[str]] = None,
                replace_where: Optional[dict] = None,
                merge_schema: bool = False,
                txn_app_id: Optional[str] = None,
                txn_version: Optional[int] = None,
                max_retries: int = 10) -> int:
    """Write a DataFrame as a Delta commit; returns the version.

    ``mode='append'`` adds files (optimistically retried on commit
    races — a blind append composes with any concurrent commit).
    ``mode='overwrite'`` removes every live file first; with
    ``replace_where`` ({partition_col: value}) only that partition's
    files — the partition-scoped backfill idiom.  Overwrites do NOT
    retry through a race (the removed set would be stale) — they raise
    ``DeltaConcurrentWriteError`` for the caller to re-run.

    ``merge_schema=True`` is the spec's schema-evolution write: new
    write columns append to the table schema (a new ``metaData``
    action rides the commit — last metaData wins on replay), table
    columns absent from the write stay and read as null from this
    commit's files, and common columns must keep their exact types
    (nested adds refuse loudly as a type mismatch).  Under column
    mapping, new fields get fresh physical names and mapping ids past
    ``delta.columnMapping.maxColumnId``.  Evolving writes never retry
    through a commit race — the merged schema would be stale.

    ``txn_app_id``/``txn_version`` ride the spec's ``txn`` action —
    the protocol's own idempotent-streaming mechanism: if the table
    has already recorded this app at a version >= ``txn_version``,
    the write is SKIPPED (current version returned), so a replayed
    micro-batch cannot double-append.  A crash between data staging
    and the commit leaves only orphan files (invisible; reclaimed by
    :func:`delta_vacuum`) and the replay commits exactly once.

    Appends never materialize the table's file list (their commit is
    self-contained); overwrites collect exactly the file set their
    remove actions must name — the same size as the commit JSON they
    publish.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if replace_where and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    spark = df.sparkSession
    fsutil.ensure_dir(os.path.join(table, _LOG_DIR), spark)

    try:
        current = delta_snapshot(spark, table)
    except FileNotFoundError:
        current = None

    if current is not None and txn_app_id is not None \
            and int(current.txns.get(txn_app_id, -1)) \
            >= int(txn_version):
        return current.version  # idempotent replay: already committed
    if current is not None:
        _check_writer_allowed(current, mode)

    if current is None:
        partition_by = list(partition_by or [])
        meta = _new_metadata(df.schema, partition_by)
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        base_actions = [{"protocol": proto}, {"metaData": meta}]
        next_version = 0
    else:
        if partition_by is not None \
                and list(partition_by) != current.partition_columns \
                and list(partition_by) \
                != current.logical_partition_columns:
            raise ValueError(
                f"partition_by {list(partition_by)} != table's "
                f"{current.logical_partition_columns}")
        # generated columns compute/validate, CHECK constraints and
        # invariants refuse violating commits — BEFORE the schema
        # checks, so a computed generated column counts as carried
        df = _enforce_write_obligations(df, current)
        if merge_schema:
            missing_p = [c for c in current.logical_partition_columns
                         if c not in df.columns]
            if missing_p:
                raise ValueError(
                    "merge_schema write must still carry the "
                    f"partition columns; missing {missing_p}")
            drift = _type_mismatches(df.schema, current.schema,
                                     by_name=True)
            if drift:
                raise ValueError(
                    "schema type mismatch under merge_schema "
                    "(evolution ADDS columns; it never retypes one, "
                    "and nested adds are not supported): "
                    + "; ".join(drift))
            merged, meta_action = _merged_write_schema(df.schema,
                                                       current)
            base_actions = ([{"metaData": meta_action}]
                            if meta_action is not None else [])
        else:
            if [f.name for f in df.schema.fields] \
                    != [f.name for f in current.schema.fields]:
                raise ValueError(
                    "schema mismatch: write columns "
                    f"{df.schema.fieldNames()} vs table "
                    f"{current.schema.fieldNames()} "
                    "(pass merge_schema=True to evolve)")
            drift = _type_mismatches(df.schema, current.schema)
            if drift:
                raise ValueError(
                    "schema type mismatch (no evolution support): "
                    + "; ".join(drift))
            merged = current.schema
            base_actions = []
        df = _to_physical_df(df, current, fields=merged.fields)
        partition_by = current.partition_columns  # physical names
        next_version = current.version + 1

    adds = _stage_data_files(df, table, partition_by)

    for attempt in range(max_retries):
        removes = []
        if mode == "overwrite" and current is not None:
            if replace_where:
                # partition_by holds PHYSICAL names by here (column-
                # mapped tables); the documented contract accepts
                # logical names too, matching pruned_adds.
                unknown = (set(replace_where) - set(partition_by)
                           - set(current.logical_partition_columns))
                if unknown:
                    raise ValueError(
                        f"replace_where keys {sorted(unknown)} are not "
                        f"partition columns "
                        f"{current.logical_partition_columns}")
                victims = current.pruned_adds(
                    {k: str(v) for k, v in replace_where.items()})
            else:
                victims = current.pruned_adds()
            removes = [_remove_action(a) for a in victims]
        txn_actions = ([{"txn": {"appId": txn_app_id,
                                 "version": int(txn_version)}}]
                       if txn_app_id is not None else [])
        actions = (base_actions + txn_actions + removes
                   + [{"add": a} for a in adds]
                   + [{"commitInfo": {
                       "operation": ("WRITE" if mode == "append"
                                     else "OVERWRITE"),
                       "engineInfo": "wrangle_pypes_spark-delta",
                   }}])
        text = "\n".join(json.dumps(a, separators=(",", ":"))
                         for a in actions)
        commit_path = _log_path(table, _commit_name(next_version))
        if _create_exclusive(commit_path, text, spark):
            _cache_post_commit(spark, table, next_version, current,
                               text)
            return next_version
        # lost the race
        if mode == "overwrite" or current is None or base_actions:
            # base_actions => this commit re-publishes metaData
            # (merge_schema): the merged schema was computed against
            # a now-stale snapshot, so a blind retry could clobber a
            # concurrent evolution — the caller must re-run
            raise DeltaConcurrentWriteError(
                f"version {next_version} was committed concurrently; "
                "overwrite/create/merge_schema must re-read the "
                "table and re-run")
        current = delta_snapshot(spark, table)
        if txn_app_id is not None \
                and int(current.txns.get(txn_app_id, -1)) \
                >= int(txn_version):
            return current.version  # racer was our own replay twin
        next_version = current.version + 1
    raise DeltaConcurrentWriteError(
        f"gave up after {max_retries} commit races on {table}")


# ---------------------------------------------------------------------------
# row-level DELETE via deletion vectors
# ---------------------------------------------------------------------------

_DV_RESULT_SCHEMA = ("path string, pathOrInlineDv string, offset int, "
                     "sizeInBytes int, cardinality long")


def delta_delete_where(spark: SparkSession, table: str,
                       condition: str, *,
                       partition_filter: Optional[dict] = None) -> int:
    """Row-level DELETE: rows matching ``condition`` (a SQL boolean
    expression over the table schema) are marked deleted through the
    protocol's deletion vectors — no data file is rewritten.  Returns
    the committed version (or the current version when nothing
    matched).

    Per affected file, matching row positions are roaring-bitmap
    encoded AND written to the DV ``.bin`` file INSIDE the executor
    (``applyInPandas`` over the row addresses); the driver collects
    only O(affected files) descriptors for the commit JSON.  Existing
    deletion vectors are honored: already-deleted rows can't match, and
    a file's new vector is the union of old + new positions (the
    spec's requirement that a DV supersedes its predecessor).
    ``partition_filter`` narrows the scan the same way ``read_delta``
    prunes.  Upgrades the table protocol to the ``deletionVectors``
    reader/writer feature on first use — exactly what the spec
    requires of engines adding DVs to a v1 table.
    """
    snap = delta_snapshot(spark, table)
    _check_writer_allowed(snap, "delete")
    adds = snap.pruned_adds(partition_filter)
    if not adds:
        return snap.version
    d = _scan_live(spark, snap, adds, with_meta=True)
    matches = (d.filter(F.expr(condition))
               .select(F.col(tablescan.ROW_FILE).alias("fp"),
                       F.col(tablescan.ROW_POS).alias("pos")))

    by_norm: dict[str, dict] = {}
    for a in adds:
        norm = os.path.join(table, a["path"])
        norm = fsutil._strip_file_scheme(norm)
        by_norm[norm] = a
    table_root = fsutil._strip_file_scheme(table)

    # Old-DV descriptors ride the PLAN (broadcast join on file path),
    # not the task closure: on a many-file table, shipping by_norm
    # with every task serializes O(live files) per task — only the
    # usually-tiny has-a-DV subset needs to reach executors.
    old_dv_rows = [(fp, json.dumps(a["deletionVector"]))
                   for fp, a in by_norm.items()
                   if a.get("deletionVector")]
    old_dv_df = _local_df(
        spark, old_dv_rows,
        T.StructType([T.StructField("fp", T.StringType()),
                      T.StructField("old_dv_json", T.StringType())]))
    matches = matches.join(F.broadcast(old_dv_df), "fp", "left")

    def _write_dvs(pdf):
        import pandas as pd

        from . import dv as _dv
        fp = pdf["fp"].iloc[0]
        positions = set(int(p) for p in pdf["pos"])
        old_json = pdf["old_dv_json"].iloc[0]
        if isinstance(old_json, str) and old_json:
            positions |= set(
                int(p) for p in _dv.decode_descriptor(
                    json.loads(old_json), table_root))
        bitmap = _dv.rba_serialize(sorted(positions))
        dv_uuid = uuid.uuid4()
        data, offsets = _dv.pack_dv_file([bitmap])
        name = f"deletion_vector_{dv_uuid}.bin"
        _dv._write_file_bytes(os.path.join(table_root, name), data)
        return pd.DataFrame({
            "path": [fp],
            "pathOrInlineDv": [_dv.encode_uuid_path(dv_uuid)],
            "offset": [offsets[0]],
            "sizeInBytes": [len(bitmap)],
            "cardinality": [len(positions)]})

    descs = (matches.groupBy("fp")
             .applyInPandas(_write_dvs, _DV_RESULT_SCHEMA)
             .collect())
    if not descs:
        return snap.version

    actions = []
    proto = snap.protocol or {}
    feats = set(proto.get("readerFeatures") or [])
    if int(proto.get("minReaderVersion", 1)) < 3 \
            or "deletionVectors" not in feats:
        actions.append({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(
                feats | {"deletionVectors"}),
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or [])
                | {"deletionVectors"})}})
    n_deleted = 0
    for r in descs:
        a = by_norm[r["path"]]
        old_card = int((a.get("deletionVector") or {})
                       .get("cardinality") or 0)
        n_deleted += int(r["cardinality"]) - old_card
        actions.append(_remove_action(a))
        new_add = {"path": a["path"],
                   "partitionValues":
                       a.get("partitionValuesPhysical")
                       or a.get("partitionValues") or {},
                   "size": a["size"],
                   "modificationTime": a["modificationTime"],
                   "dataChange": True,
                   "deletionVector": {
                       "storageType": "u",
                       "pathOrInlineDv": r["pathOrInlineDv"],
                       "offset": int(r["offset"]),
                       "sizeInBytes": int(r["sizeInBytes"]),
                       "cardinality": int(r["cardinality"])}}
        if a.get("stats") is not None:
            # the data file is untouched: its min/max/nullCount stay
            # valid BOUNDS with rows vectored out (spec: non-tight)
            new_add["stats"] = a["stats"]
        actions.append({"add": new_add})
    actions.append({"commitInfo": {
        "operation": "DELETE",
        "operationParameters": {"predicate": condition},
        "engineInfo": "wrangle_pypes_spark-delta"}})
    text = "\n".join(json.dumps(x, separators=(",", ":"))
                     for x in actions)
    next_version = snap.version + 1
    if not _create_exclusive(_log_path(table,
                                       _commit_name(next_version)),
                             text, spark):
        raise DeltaConcurrentWriteError(
            f"version {next_version} was committed concurrently; "
            "DELETE must re-read the table and re-run")
    _cache_post_commit(spark, table, next_version, snap, text)
    return next_version


def _publish_metadata_commit(spark: SparkSession, table: str,
                             snap: DeltaSnapshot, actions: list,
                             op: str) -> int:
    """One metadata-only commit (DDL family): publish ``actions`` +
    commitInfo as the next version, put-if-absent, never retried (the
    computed metadata would be stale after a lost race)."""
    actions = list(actions) + [{"commitInfo": {
        "operation": op,
        "engineInfo": "wrangle_pypes_spark-delta"}}]
    text = "\n".join(json.dumps(a, separators=(",", ":"))
                     for a in actions)
    next_version = snap.version + 1
    if not _create_exclusive(
            _log_path(table, _commit_name(next_version)), text,
            spark):
        raise DeltaConcurrentWriteError(
            f"version {next_version} was committed concurrently; "
            f"{op} must re-read the table and re-run")
    _cache_post_commit(spark, table, next_version, snap, text)
    return next_version


def _with_upgrade_mapping(dt: T.DataType, next_id: int
                          ) -> tuple[T.DataType, int]:
    """Column-mapping upgrade metadata for a type tree: every struct
    field gets an id and physicalName == its CURRENT name (delta's
    upgrade semantics — existing parquet already carries these names,
    so reads keep matching; only columns added later get uuid
    physical names)."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id
            next_id += 1
            inner, next_id = _with_upgrade_mapping(f.dataType,
                                                   next_id)
            md = dict(f.metadata or {})
            md.setdefault("delta.columnMapping.id", fid)
            md.setdefault("delta.columnMapping.physicalName", f.name)
            fields.append(T.StructField(f.name, inner, f.nullable,
                                        md))
        return T.StructType(fields), next_id
    if isinstance(dt, T.ArrayType):
        inner, next_id = _with_upgrade_mapping(dt.elementType,
                                               next_id)
        return T.ArrayType(inner, dt.containsNull), next_id
    if isinstance(dt, T.MapType):
        kt, next_id = _with_upgrade_mapping(dt.keyType, next_id)
        vt, next_id = _with_upgrade_mapping(dt.valueType, next_id)
        return T.MapType(kt, vt, dt.valueContainsNull), next_id
    return dt, next_id


def delta_enable_column_mapping(spark: SparkSession,
                                table: str) -> int:
    """Upgrade a table to NAME-mode column mapping (the delta-spark
    ``delta.columnMapping.mode = name`` ALTER): every field keeps its
    current name as the physicalName — existing parquet matches
    unchanged — and gets a mapping id; the protocol moves to
    reader 2 / writer 5 (or gains the columnMapping feature on a
    v7 table).  The gateway DDL for RENAME/DROP COLUMN.  No-op when
    mapping is already active."""
    snap = delta_snapshot(spark, table)
    if _mapping_mode(snap.metadata) in ("name", "id"):
        return snap.version
    schema, max_id = _with_upgrade_mapping(snap.schema, 1)
    meta = dict(snap.metadata)
    meta["schemaString"] = _schema_string(schema)
    conf = dict(meta.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(max_id - 1)
    meta["configuration"] = conf
    proto = dict(snap.protocol or {})
    actions = []
    r, w = int(proto.get("minReaderVersion", 1)), \
        int(proto.get("minWriterVersion", 2))
    if w >= 7:
        feats = set(proto.get("writerFeatures") or [])
        rfeats = set(proto.get("readerFeatures") or [])
        proto["writerFeatures"] = sorted(feats | {"columnMapping"})
        proto["readerFeatures"] = sorted(rfeats | {"columnMapping"})
        actions.append({"protocol": proto})
    elif r < 2 or w < 5:
        actions.append({"protocol": {
            "minReaderVersion": max(r, 2),
            "minWriterVersion": max(w, 5)}})
    actions.append({"metaData": meta})
    return _publish_metadata_commit(
        spark, table, snap, actions, "SET COLUMN MAPPING")


def delta_rename_column(spark: SparkSession, table: str,
                        old: str, new: str) -> int:
    """RENAME COLUMN — metadata-only under column mapping (the
    logical name changes; physicalName and id keep pointing at the
    same parquet data, so no file is touched).  Requires mapping mode
    name/id, exactly as delta-spark does — run
    :func:`delta_enable_column_mapping` first on unmapped tables."""
    snap = delta_snapshot(spark, table)
    if _mapping_mode(snap.metadata) not in ("name", "id"):
        raise DeltaProtocolError(
            "RENAME COLUMN requires column mapping "
            "(delta.columnMapping.mode name|id) — run "
            "delta_enable_column_mapping first")
    names = [f.name for f in snap.schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    fields = [T.StructField(new, f.dataType, f.nullable, f.metadata)
              if f.name == old else f
              for f in snap.schema.fields]
    meta = dict(snap.metadata)
    meta["schemaString"] = _schema_string(T.StructType(fields))
    return _publish_metadata_commit(
        spark, table, snap, [{"metaData": meta}], "RENAME COLUMN")


def delta_drop_column(spark: SparkSession, table: str,
                      col: str) -> int:
    """DROP COLUMN — metadata-only under column mapping: the field
    leaves the schema; its physical data stays in the files but no
    scan selects it, and the retired mapping id is never reused
    (maxColumnId only grows), so a later add cannot resurrect it.
    Partition columns and the last remaining column refuse."""
    snap = delta_snapshot(spark, table)
    if _mapping_mode(snap.metadata) not in ("name", "id"):
        raise DeltaProtocolError(
            "DROP COLUMN requires column mapping "
            "(delta.columnMapping.mode name|id) — run "
            "delta_enable_column_mapping first")
    names = [f.name for f in snap.schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} in {names}")
    if col in snap.logical_partition_columns:
        raise ValueError(f"cannot drop partition column {col!r}")
    fields = [f for f in snap.schema.fields if f.name != col]
    if not fields:
        raise ValueError("cannot drop the last column")
    meta = dict(snap.metadata)
    meta["schemaString"] = _schema_string(T.StructType(fields))
    return _publish_metadata_commit(
        spark, table, snap, [{"metaData": meta}], "DROP COLUMN")


def convert_to_delta(spark: SparkSession, path: str, *,
                     partition_schema: Optional[T.StructType] = None
                     ) -> int:
    """CONVERT TO DELTA: publish commit 0 over an EXISTING parquet
    directory in place — no data is copied or rewritten.  Plain
    directories convert as unpartitioned tables; hive layouts
    (``col=value`` dirs) need ``partition_schema`` naming the
    partition columns and their types (the same contract delta-spark
    has — dir names can't tell ``'7'`` from ``7``).  The data schema
    comes from the parquet footers via the native reader; partition
    values come from the dir segments.  Returns the committed version
    (0).  Fails loudly if the path already is a Delta table.

    Every file's footer is reconciled (executor-parallel) before the
    commit publishes: schema-evolution supersets merge, true type
    conflicts refuse loudly — never a silent first-file schema that
    reads drifted columns as null.  File sizes/mtimes come from the
    directory LISTING (real values on remote filesystems too — the
    optimize victim selector trusts them).

    Scale: one recursive listing + one footer-fingerprint job open
    the commit; the add list is the same size as the commit JSON —
    nothing O(rows)."""
    root = fsutil._strip_file_scheme(path)
    if fsutil.dir_exists(os.path.join(root, _LOG_DIR), spark):
        raise ValueError(f"{path} is already a Delta table")
    pcols = [f.name for f in (partition_schema or T.StructType())]
    import urllib.parse

    files: list[tuple[str, dict, int, int]] = []

    def _walk(rel: str) -> None:
        full = os.path.join(root, rel) if rel else root
        for name, is_dir, size, mtime in fsutil.list_status(full,
                                                            spark):
            child_rel = os.path.join(rel, name) if rel else name
            if not is_dir and name.endswith(".parquet"):
                pv = {}
                for seg in child_rel.split(os.sep)[:-1]:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        pv[k] = (None if v == _HIVE_NULL
                                 else urllib.parse.unquote(v))
                files.append((child_rel.replace(os.sep, "/"), pv,
                              size, mtime))
            elif is_dir and ("." not in name or "=" in name):
                _walk(child_rel)

    _walk("")
    if not files:
        raise ValueError(f"no parquet files under {path}")
    seen_pcols = set().union(*[set(pv) for _, pv, _, _ in files])
    if seen_pcols != set(pcols):
        raise ValueError(
            f"hive partition dirs {sorted(seen_pcols)} != "
            f"partition_schema columns {sorted(pcols)} — pass "
            "partition_schema naming every partition column and type")
    from .footers import reconciled_spark_schema
    data_schema = reconciled_spark_schema(
        spark, [os.path.join(root, rel)
                for rel, _, _, _ in files])
    overlap = set(data_schema.fieldNames()) & set(pcols)
    if overlap:
        raise ValueError(
            f"partition columns {sorted(overlap)} also exist in the "
            "data files — not a hive layout")
    schema = T.StructType(list(data_schema.fields)
                          + list((partition_schema
                                  or T.StructType()).fields))
    actions = [{"protocol": {"minReaderVersion": 1,
                             "minWriterVersion": 2}},
               {"metaData": _new_metadata(schema, pcols)}]
    from .footers import footer_stats
    st = footer_stats(spark, [os.path.join(root, rel)
                              for rel, _, _, _ in files])
    for rel, pv, size, mtime in files:
        actions.append({"add": {
            "path": rel, "partitionValues": pv, "size": size,
            "modificationTime": mtime, "dataChange": True,
            "stats": st[os.path.join(root, rel)]}})
    actions.append({"commitInfo": {
        "operation": "CONVERT",
        "engineInfo": "wrangle_pypes_spark-delta"}})
    fsutil.ensure_dir(os.path.join(path, _LOG_DIR), spark)
    text = "\n".join(json.dumps(a, separators=(",", ":"))
                     for a in actions)
    if not _create_exclusive(_log_path(path, _commit_name(0)), text,
                             spark):
        raise DeltaConcurrentWriteError(
            f"{path} was converted concurrently")
    _cache_post_commit(spark, path, 0, None, text)
    return 0


def delta_clone(spark: SparkSession, source: str, dest: str) -> int:
    """SHALLOW CLONE: publish ``dest`` as a new Delta table whose
    commit 0 references the SOURCE's live data files by absolute path
    — a zero-copy fork (the spec allows absolute ``add.path``; at
    100 TB this is how you get a sandbox without copying 100 TB).
    Deletion vectors carry over as absolute-path descriptors
    (storageType 'p').  The clone is independent from the first
    commit on: appends/deletes/optimize land in the CLONE's log only;
    vacuuming the SOURCE can break clones, exactly as delta-spark
    documents for shallow clones."""
    snap = delta_snapshot(spark, source)
    src_root = fsutil._strip_file_scheme(source)
    if fsutil.dir_exists(os.path.join(dest, _LOG_DIR), spark):
        raise ValueError(f"{dest} is already a Delta table")
    meta = dict(snap.metadata, id=str(uuid.uuid4()))
    actions = [{"protocol": snap.protocol
                or {"minReaderVersion": 1, "minWriterVersion": 2}},
               {"metaData": meta}]
    from . import dv as _dv
    for a in snap.pruned_adds():
        add = {"path": os.path.join(src_root, a["path"]),
               "partitionValues": a.get("partitionValuesPhysical")
               or a.get("partitionValues") or {},
               "size": int(a.get("size") or 0),
               "modificationTime": int(a.get("modificationTime")
                                       or 0),
               "dataChange": True}
        if a.get("stats") is not None:
            add["stats"] = a["stats"]
        dvd = a.get("deletionVector")
        if dvd:
            if dvd["storageType"] == "i":
                add["deletionVector"] = dict(dvd)
            else:
                add["deletionVector"] = {
                    "storageType": "p",
                    "pathOrInlineDv": _dv.resolve_dv_path(
                        src_root, dvd["storageType"],
                        dvd["pathOrInlineDv"]),
                    "offset": dvd.get("offset"),
                    "sizeInBytes": dvd["sizeInBytes"],
                    "cardinality": dvd["cardinality"]}
        actions.append({"add": add})
    actions.append({"commitInfo": {
        "operation": "CLONE",
        "operationParameters": {"source": source},
        "engineInfo": "wrangle_pypes_spark-delta"}})
    fsutil.ensure_dir(os.path.join(dest, _LOG_DIR), spark)
    text = "\n".join(json.dumps(x, separators=(",", ":"))
                     for x in actions)
    if not _create_exclusive(_log_path(dest, _commit_name(0)), text,
                             spark):
        raise DeltaConcurrentWriteError(
            f"{dest} version 0 was committed concurrently")
    _cache_post_commit(spark, dest, 0, None, text)
    return 0


def delta_optimize(spark: SparkSession, table: str, *,
                   target_file_bytes: int = 128 * 1024 * 1024,
                   min_files: int = 2,
                   partition_filter: Optional[dict] = None,
                   zorder_by: Optional[Sequence[str]] = None) -> dict:
    """OPTIMIZE: bin-pack small data files into ~``target_file_bytes``
    files (delta-spark's compaction surface).  Per partition tuple,
    files under the target size are rewritten together; files carrying
    DELETION VECTORS are always rewritten — their deleted rows
    materialize away and the vector disappears (exactly what OPTIMIZE
    does to DV tables).  The commit's removes AND adds carry
    ``dataChange=false``, so CDF ignores the rearrangement and
    streaming sources do not re-emit the rows.  Returns
    ``{"version", "removed_files", "added_files",
    "bytes_compacted"}`` (current version, zeros, when there is
    nothing to do).

    ``zorder_by`` additionally range-clusters the rewritten rows by
    the interleaved z-value of those columns (OPTIMIZE ZORDER —
    ``operators.relational.zorder_col`` computes the Morton code), so
    downstream scans with zone-map/min-max pruning touch fewer files.
    ``partition_filter`` scopes the compaction.

    Like overwrite, a lost commit race raises instead of retrying
    (the removed set would be stale); re-run on the fresh state.
    Scale: the rewrite scans only the victim files; the driver holds
    the victim list — the same size as the commit JSON it publishes.
    One output file per partition tuple (hash repartition) unless
    ``zorder_by`` splits tuples into range chunks."""
    snap = delta_snapshot(spark, table)
    _check_writer_allowed(snap, "optimize")
    adds = snap.pruned_adds(partition_filter)
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append(a)
    victims: list[dict] = []
    for lst in groups.values():
        small = [a for a in lst
                 if int(a.get("size") or 0) < target_file_bytes
                 or a.get("deletionVector")]
        if len(small) >= max(1, min_files) \
                or any(a.get("deletionVector") for a in small):
            victims.extend(small)
    if not victims:
        return {"version": snap.version, "removed_files": 0,
                "added_files": 0, "bytes_compacted": 0}

    d = _scan_live(spark, snap, victims).select(
        *snap.schema.fieldNames())

    total_bytes = sum(int(a.get("size") or 0) for a in victims)
    n_out = max(1, -(-total_bytes // max(1, int(target_file_bytes))))
    pcols = snap.logical_partition_columns
    if zorder_by:
        from ..operators.relational import zorder_col
        d = zorder_col(d, list(zorder_by), out_col="_opt_zv")
        d = (d.repartitionByRange(n_out, *pcols, "_opt_zv")
             .sortWithinPartitions(*pcols, "_opt_zv")
             .drop("_opt_zv"))
    else:
        # hash by partition tuple: each tuple lands whole in one task
        # -> one output file per tuple after the hive split
        d = (d.repartition(n_out, *pcols) if pcols
             else d.repartition(n_out))
    d = _to_physical_df(d, snap)

    new_adds = _stage_data_files(d, table, snap.partition_columns)
    actions = ([_remove_action(a, data_change=False)
                for a in victims]
               + [{"add": dict(a, dataChange=False)}
                  for a in new_adds]
               + [{"commitInfo": {
                   "operation": "OPTIMIZE",
                   "operationParameters": {
                       "targetSize": str(int(target_file_bytes)),
                       "zOrderBy": json.dumps(list(zorder_by or []))},
                   "engineInfo": "wrangle_pypes_spark-delta"}}])
    text = "\n".join(json.dumps(x, separators=(",", ":"))
                     for x in actions)
    next_version = snap.version + 1
    if not _create_exclusive(_log_path(table,
                                       _commit_name(next_version)),
                             text, spark):
        raise DeltaConcurrentWriteError(
            f"version {next_version} was committed concurrently; "
            "optimize must re-read the table and re-run")
    _cache_post_commit(spark, table, next_version, snap, text)
    return {"version": next_version,
            "removed_files": len(victims),
            "added_files": len(new_adds),
            "bytes_compacted": total_bytes}


# ---------------------------------------------------------------------------
# checkpoints / history / vacuum
# ---------------------------------------------------------------------------

_CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("txn", T.StructType([
        T.StructField("appId", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("lastUpdated", T.LongType()),
    ])),
    T.StructField("protocol", T.StructType([
        T.StructField("minReaderVersion", T.IntegerType()),
        T.StructField("minWriterVersion", T.IntegerType()),
        T.StructField("readerFeatures",
                      T.ArrayType(T.StringType())),
        T.StructField("writerFeatures",
                      T.ArrayType(T.StringType())),
    ])),
    T.StructField("metaData", T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("format", T.StructType([
            T.StructField("provider", T.StringType()),
            T.StructField("options",
                          T.MapType(T.StringType(), T.StringType())),
        ])),
        T.StructField("schemaString", T.StringType()),
        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
        T.StructField("configuration",
                      T.MapType(T.StringType(), T.StringType())),
        T.StructField("createdTime", T.LongType()),
    ])),
    T.StructField("add", T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues",
                      T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("deletionVector", _DV_STRUCT),
        T.StructField("stats", T.StringType()),
    ])),
    T.StructField("remove", T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("deletionTimestamp", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
    ])),
])


def _null_action(name: str):
    return F.lit(None).cast(_CHECKPOINT_SCHEMA[name].dataType) \
        .alias(name)


def delta_checkpoint(spark: SparkSession, table: str, *,
                     parts: Optional[int] = None) -> int:
    """Write a spec-shaped parquet checkpoint of the CURRENT version
    and publish ``_last_checkpoint``.  Readers then replay only later
    JSON commits — log replay cost stays O(commits since checkpoint).

    The checkpoint carries the FULL action schema a foreign engine
    expects (protocol incl. feature lists, metaData incl. format/
    name/createdTime, add incl. modificationTime + deletionVector,
    remove tombstones, txn) and is produced from the snapshot's
    file-state PLAN — no driver-side row list, so checkpointing a
    many-million-file table is executor work.

    ``parts`` writes a spec-shaped MULTI-PART checkpoint
    (``NNN.checkpoint.<i>.<n>.parquet``) so one checkpoint file never
    has to hold every action of a huge table; the actual part count
    (empty shuffle partitions produce no file) is what the names and
    ``_last_checkpoint`` record, and both reader paths (hint +
    listing scan) already resolve it."""
    snap = delta_snapshot(spark, table)
    proto = snap.protocol or {}
    meta = snap.metadata
    # (txn, protocol, metaData) tuples in exact schema field order
    proto_tuple = (int(proto.get("minReaderVersion", 1)),
                   int(proto.get("minWriterVersion", 2)),
                   proto.get("readerFeatures"),
                   proto.get("writerFeatures"))
    fmt = meta.get("format") or {}
    meta_tuple = (meta["id"], meta.get("name"),
                  meta.get("description"),
                  (fmt.get("provider", "parquet"),
                   fmt.get("options") or {}),
                  meta["schemaString"],
                  list(snap.partition_columns),
                  meta.get("configuration") or {},
                  meta.get("createdTime"))
    static_rows = [(None, proto_tuple, None),
                   (None, None, meta_tuple)]
    for app, v in sorted(snap.txns.items()):
        static_rows.append(((app, int(v), None), None, None))
    static_df = _local_df(
        spark, static_rows,
        T.StructType(_CHECKPOINT_SCHEMA.fields[:3])) \
        .select("txn", "protocol", "metaData",
                _null_action("add"), _null_action("remove"))
    adds_part = snap.files_df.select(
        _null_action("txn"), _null_action("protocol"),
        _null_action("metaData"),
        F.struct("path", "partitionValues", "size",
                 "modificationTime",
                 F.lit(False).alias("dataChange"),
                 "deletionVector", "stats").alias("add"),
        _null_action("remove"))
    removes_part = snap.tombstones_df.select(
        _null_action("txn"), _null_action("protocol"),
        _null_action("metaData"), _null_action("add"),
        F.struct("path", "deletionTimestamp",
                 "dataChange").alias("remove"))
    cp_df = static_df.unionByName(adds_part).unionByName(removes_part)

    cp_tmp = os.path.join(table, _LOG_DIR,
                          f"_cp_tmp_{uuid.uuid4().hex}")
    writer = (cp_df.repartition(int(parts)) if parts and parts > 1
              else cp_df.coalesce(1))
    writer.write.mode("overwrite").parquet(cp_tmp)
    produced = sorted(n for n in fsutil.list_dir(cp_tmp, spark)
                      if n.endswith(".parquet"))
    hint: dict = {"version": snap.version}
    if parts and parts > 1 and len(produced) > 1:
        n = len(produced)
        for i, name in enumerate(produced, start=1):
            fsutil.rename(
                os.path.join(cp_tmp, name),
                _log_path(table,
                          f"{snap.version:020d}.checkpoint."
                          f"{i:010d}.{n:010d}.parquet"),
                spark)
        hint["parts"] = n
    else:
        fsutil.rename(os.path.join(cp_tmp, produced[0]),
                      _log_path(table,
                                _checkpoint_name(snap.version)),
                      spark)
    fsutil.delete(cp_tmp, spark=spark)
    # action count from the WRITTEN files' parquet footers — no extra
    # Spark jobs re-running the file-state plan
    if fsutil.is_local(table):
        import pyarrow.parquet as pq
        if "parts" in hint:
            cp_paths = [
                _log_path(table,
                          f"{snap.version:020d}.checkpoint."
                          f"{i:010d}.{hint['parts']:010d}.parquet")
                for i in range(1, hint["parts"] + 1)]
        else:
            cp_paths = [_log_path(table,
                                  _checkpoint_name(snap.version))]
        hint["size"] = int(sum(
            pq.ParquetFile(fsutil._strip_file_scheme(p))
            .metadata.num_rows for p in cp_paths))
    else:
        hint["size"] = int(len(static_rows) + snap.files_df.count()
                           + snap.tombstones_df.count())
    fsutil.write_text_atomic(
        _log_path(table, _LAST_CHECKPOINT), json.dumps(hint), spark)
    return snap.version


def delta_log_cleanup(spark: SparkSession, table: str, *,
                      retention_seconds: float = 30 * 24 * 3600.0
                      ) -> int:
    """Expire log entries the newest checkpoint makes redundant —
    JSON commits at or below it and OLDER checkpoints — when their
    modification time has aged past ``retention_seconds`` (default 30
    days, Delta's ``logRetentionDuration``).  Returns the number of
    files deleted.  Time travel to expired versions stops working
    (exactly the documented Delta behavior); the current snapshot and
    everything after the checkpoint are untouched."""
    log_names = fsutil.list_dir(os.path.join(table, _LOG_DIR), spark)
    cp_best = -1
    for n in log_names:
        if ".checkpoint." in n and n.endswith(".parquet") \
                and n[:20].isdigit():
            cp_best = max(cp_best, int(n[:20]))
    if cp_best < 0:
        return 0  # nothing is redundant without a checkpoint
    cutoff = time.time() - max(0.0, retention_seconds)
    deleted = 0
    for n in log_names:
        expired = False
        if n.endswith(".json") and n[:20].isdigit() \
                and int(n[:20]) <= cp_best:
            expired = True
        elif ".checkpoint." in n and n.endswith(".parquet") \
                and n[:20].isdigit() and int(n[:20]) < cp_best:
            expired = True
        if not expired:
            continue
        p = _log_path(table, n)
        if retention_seconds > 0:
            try:
                if fsutil.is_local(p):
                    mtime = os.path.getmtime(
                        fsutil._strip_file_scheme(p))
                else:
                    fs, jpath, _ = fsutil._hadoop(spark, p)
                    mtime = fs.getFileStatus(jpath) \
                        .getModificationTime() / 1000.0
            except OSError:
                continue
            if mtime >= cutoff:
                continue
        fsutil.delete(p, spark=spark)
        deleted += 1
    return deleted


def _resolve_timestamp_version(spark: SparkSession, table: str,
                               timestamp) -> int:
    """Timestamp time travel: the newest version whose commit file
    was published at or before ``timestamp`` (epoch seconds or an ISO
    string) — the same commit-file-modification-time rule Delta's
    TIMESTAMP AS OF uses."""
    if isinstance(timestamp, str):
        import datetime as _dt
        dt = _dt.datetime.fromisoformat(timestamp)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        ts = dt.timestamp()
    else:
        ts = float(timestamp)
    log_names = fsutil.list_dir(os.path.join(table, _LOG_DIR), spark)
    best = -1
    for n in log_names:
        if not (n.endswith(".json") and n[:20].isdigit()):
            continue
        p = _log_path(table, n)
        if fsutil.is_local(p):
            mtime = os.path.getmtime(fsutil._strip_file_scheme(p))
        else:
            fs, jpath, _ = fsutil._hadoop(spark, p)
            mtime = fs.getFileStatus(jpath) \
                .getModificationTime() / 1000.0
        if mtime <= ts:
            best = max(best, int(n[:20]))
    if best < 0:
        raise ValueError(
            f"no commit at or before timestamp {timestamp!r}")
    return best


def _action_to_add(a: dict, maps) -> dict:
    """A raw log add action as the dict shape ``pruned_adds``
    produces (logical partition keys + the raw physical tuple)."""
    pv_raw = dict(a.get("partitionValues") or {})
    out = {"path": a["path"],
           "partitionValues": ({maps[1].get(k, k): v
                                for k, v in pv_raw.items()}
                               if maps else pv_raw),
           "size": int(a.get("size") or 0),
           "modificationTime": int(a.get("modificationTime") or 0),
           "dataChange": bool(a.get("dataChange", True))}
    if maps:
        out["partitionValuesPhysical"] = pv_raw
    if a.get("deletionVector"):
        out["deletionVector"] = dict(a["deletionVector"])
    return out


def delta_changes(spark: SparkSession, table: str, *,
                  from_version: int,
                  to_version: Optional[int] = None) -> DataFrame:
    """The Change Data Feed read surface (``table_changes``): one row
    per changed row for every commit in ``[from_version,
    to_version]`` (inclusive, Delta's convention), with
    ``_change_type`` ('insert' | 'delete' | cdc-file-provided types)
    and ``_commit_version`` appended to the table columns.

    Per commit: spec ``cdc`` actions, when present, are authoritative
    (their parquet carries ``_change_type``).  Otherwise changes
    derive from the actions exactly as Delta derives them — adds with
    ``dataChange`` are inserts, removes are deletes (the removed
    file's still-present parquet provides the pre-images, with its
    old deletion vector applied so already-dead rows don't reappear),
    and a remove+add pair on the SAME path where the add carries a
    deletion vector (the row-level-DELETE shape) contributes exactly
    the rows at the NEW-minus-OLD vector positions as deletes.
    Cost: O(changed data) — only files named by the commits in range
    are read; pre-delete snapshots resolve per commit at O(log)."""
    snap_now = delta_snapshot(spark, table)
    to_v = snap_now.version if to_version is None else int(to_version)
    from_v = int(from_version)
    if from_v < 0 or to_v < from_v:
        raise ValueError(f"bad version range [{from_v}, {to_v}]")
    maps = snap_now.column_mapping()
    want = [f.name for f in snap_now.schema.fields]
    out_parts = []

    def _tag(d: DataFrame, ctype: Optional[str], v: int) -> DataFrame:
        cols = [F.col(c) for c in want]
        tcol = (F.lit(ctype) if ctype is not None
                else F.col("_change_type"))
        return d.select(*cols, tcol.alias("_change_type"),
                        F.lit(v).alias("_commit_version"))

    for v in range(from_v, to_v + 1):
        text = fsutil.read_text(_log_path(table, _commit_name(v)),
                                spark)
        if text is None:
            raise ValueError(
                f"commit {v} is missing (vacuumed log?); CDF cannot "
                "be reconstructed")
        adds, removes, cdc = {}, {}, []
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action and action["add"].get("dataChange",
                                                     True):
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action \
                    and action["remove"].get("dataChange", True):
                removes[action["remove"]["path"]] = action["remove"]
            elif "cdc" in action:
                cdc.append(action["cdc"])
        if cdc:
            # cdc parquet of a partitioned table omits the partition
            # columns (they live in the action's partitionValues) —
            # the grouped scan re-attaches them as typed literals per
            # partition tuple.
            files = [(os.path.join(table, c["path"]),
                      {k: None if x == _HIVE_NULL else x
                       for k, x in (c.get("partitionValues")
                                    or {}).items()}, "")
                     for c in cdc]
            d = tablescan.grouped_scan(
                files, snap_now.logical_partition_columns,
                {f.name: f.dataType for f in snap_now.schema},
                lambda paths, _: spark.read.parquet(*paths))
            out_parts.append(_tag(d, None, v))
            continue
        if not adds and not removes:
            continue
        snap_prev = (delta_snapshot(spark, table, version=v - 1)
                     if removes and v > 0 else None)
        prev_adds = ({a["path"]: a for a in snap_prev.pruned_adds()}
                     if snap_prev is not None else {})
        dv_pairs = [p for p in adds
                    if p in removes and adds[p].get("deletionVector")]
        ins_paths = [p for p in adds if p not in dv_pairs]
        del_paths = [p for p in removes if p not in dv_pairs]
        if ins_paths:
            ins_adds = [_action_to_add(adds[p], maps)
                        for p in ins_paths]
            out_parts.append(_tag(_scan_live(spark, snap_now, ins_adds),
                                  "insert", v))
        if del_paths:
            del_adds = [prev_adds[p] for p in del_paths
                        if p in prev_adds]
            if del_adds:
                out_parts.append(_tag(
                    _scan_live(spark, snap_now, del_adds), "delete", v))
        for p in dv_pairs:
            new_add = _action_to_add(adds[p], maps)
            old_add = prev_adds.get(p)
            new_pos = _dv_positions(spark, table, [new_add])
            old_pos = (_dv_positions(spark, table, [old_add])
                       if old_add else None)
            changed = new_pos if old_pos is None \
                else new_pos.join(old_pos, [tablescan.DEL_FILE,
                                            tablescan.DEL_POS],
                                  "left_anti")
            base = old_add if old_add else new_add
            scan = _scan_adds(spark, snap_now,
                              [dict(base, deletionVector=None)],
                              with_meta=True)
            out_parts.append(_tag(
                tablescan.join_positions(scan, changed, "inner"),
                "delete", v))
    if not out_parts:
        schema = T.StructType(
            list(snap_now.schema.fields)
            + [T.StructField("_change_type", T.StringType()),
               T.StructField("_commit_version", T.IntegerType())])
        return _local_df(spark, [], schema)
    return tablescan.union_all(out_parts)


def delta_restore(spark: SparkSession, table: str, *,
                  version: int) -> int:
    """RESTORE TABLE AS OF VERSION: publish ONE commit that rewrites
    the live file set back to ``version``'s — removes for files the
    target doesn't have, adds for files it has that the current
    snapshot lacks or carries with a different deletion-vector state.
    History stays intact (the restore is itself a new version; time
    travel still sees everything), mirroring Delta's RESTORE.

    Data files the target references must still exist — vacuumed
    targets fail loudly before anything publishes (the same guard
    delta-spark applies).  Driver cost is O(changed files): only the
    diff is collected and named in the commit."""
    cur = delta_snapshot(spark, table)
    _check_writer_allowed(cur, "restore")
    target = int(version)
    if target == cur.version:
        return cur.version
    tgt = delta_snapshot(spark, table, version=target)
    cur_adds = {a["path"]: a for a in cur.pruned_adds()}
    tgt_adds = {a["path"]: a for a in tgt.pruned_adds()}

    def _dv_sig(a: dict):
        dvd = a.get("deletionVector")
        return (dvd or {}).get("pathOrInlineDv"), \
            (dvd or {}).get("offset")

    removes = [cur_adds[p] for p in cur_adds if p not in tgt_adds]
    adds = [a for p, a in tgt_adds.items()
            if p not in cur_adds
            or _dv_sig(a) != _dv_sig(cur_adds[p])]
    missing = []
    for a in adds:
        fp = os.path.join(table, a["path"])
        if fsutil.is_local(fp) \
                and not os.path.exists(fsutil._strip_file_scheme(fp)):
            missing.append(a["path"])
    if missing:
        raise ValueError(
            f"cannot restore to version {target}: {len(missing)} "
            f"referenced data files were vacuumed (e.g. "
            f"{missing[:3]})")
    actions = [_remove_action(a) for a in removes]
    for a in adds:
        add = {"path": a["path"],
               "partitionValues": a.get("partitionValuesPhysical")
               or a.get("partitionValues") or {},
               "size": int(a.get("size") or 0),
               "modificationTime":
                   int(a.get("modificationTime") or 0),
               "dataChange": True}
        if a.get("stats") is not None:
            add["stats"] = a["stats"]
        if a.get("deletionVector"):
            add["deletionVector"] = dict(a["deletionVector"])
        actions.append({"add": add})
    actions.append({"commitInfo": {
        "operation": "RESTORE",
        "operationParameters": {"version": str(target)},
        "engineInfo": "wrangle_pypes_spark-delta"}})
    text = "\n".join(json.dumps(x, separators=(",", ":"))
                     for x in actions)
    next_version = cur.version + 1
    if not _create_exclusive(
            _log_path(table, _commit_name(next_version)), text,
            spark):
        raise DeltaConcurrentWriteError(
            f"version {next_version} was committed concurrently; "
            "restore must re-read the table and re-run")
    _cache_post_commit(spark, table, next_version, cur, text)
    return next_version


def delta_history(spark: SparkSession, table: str) -> list[dict]:
    """Commit history, newest first (the DESCRIBE HISTORY surface):
    one dict per version with the commitInfo action (if any) plus
    add/remove counts.  Reads the log only."""
    log_names = fsutil.list_dir(os.path.join(table, _LOG_DIR), spark)
    out = []
    for n in sorted(log_names, reverse=True):
        if not (n.endswith(".json") and n[:20].isdigit()):
            continue
        text = fsutil.read_text(_log_path(table, n), spark) or ""
        info, n_add, n_remove = {}, 0, 0
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                info = action["commitInfo"]
            elif "add" in action:
                n_add += 1
            elif "remove" in action:
                n_remove += 1
        out.append({"version": int(n[:20]),
                    "operation": info.get("operation"),
                    "engineInfo": info.get("engineInfo"),
                    "n_added": n_add, "n_removed": n_remove})
    return out


def delta_vacuum(spark: SparkSession, table: str, *,
                 retention_seconds: float = 7 * 24 * 3600.0) -> int:
    """Delete data files not referenced by the CURRENT snapshot —
    removed-by-overwrite files and crash orphans from writes that
    never committed.  Returns the number of files deleted.

    Only unreferenced files whose modification time is older than
    ``retention_seconds`` (default 7 days, Delta's own default) are
    deleted — the retention window is what makes vacuum safe to run
    beside concurrent writers, whose freshly staged or committed-but-
    unseen files are always younger than it.  ``_staging_*``
    directories (in-flight writes) are skipped entirely.  Passing
    ``retention_seconds=0`` reclaims immediately and is only safe when
    no writer is active — the same caveat Delta documents for
    disabling its retention check.

    Time travel to versions whose files are dropped stops working (the
    log itself is kept, so history/metadata remain readable).  Walks
    the table's data directories — inherently O(files on disk) — and
    never touches ``_delta_log``.  Referenced DV ``.bin`` files are
    never candidates (only ``.parquet`` data files are examined)."""
    snap = delta_snapshot(spark, table)
    live = {a["path"] for a in snap.pruned_adds()}
    deleted = 0
    cutoff = time.time() - max(0.0, retention_seconds)

    def _old_enough(path: str) -> bool:
        if retention_seconds <= 0:
            return True
        try:
            if fsutil.is_local(path):
                mtime = os.path.getmtime(
                    fsutil._strip_file_scheme(path))
            else:
                fs, jpath, _ = fsutil._hadoop(spark, path)
                mtime = fs.getFileStatus(jpath) \
                    .getModificationTime() / 1000.0
        except OSError:
            return False
        return mtime < cutoff

    def _walk(rel: str) -> None:
        nonlocal deleted
        full = os.path.join(table, rel) if rel else table
        for name in fsutil.list_dir(full, spark):
            if name == _LOG_DIR or name.startswith("_staging_"):
                continue
            child_rel = (os.path.join(rel, name) if rel else name)
            child = os.path.join(table, child_rel)
            if name.endswith(".parquet"):
                if child_rel.replace(os.sep, "/") not in live \
                        and _old_enough(child):
                    fsutil.delete(child, spark=spark)
                    deleted += 1
            elif "=" in name or "." not in name:
                _walk(child_rel)

    _walk("")
    return deleted
