"""Bucketed copy-on-write keyed store with file-level delta commits —
the commit protocol of the engine's keyed and additive streaming
state.

A keyed store has to publish its data and the stream epoch that
produced it as ONE atomic step, or a crash between the two re-merges a
batch on recovery (harmless for idempotent upserts, corrupting for
additive merges).  Table formats (Delta/Iceberg) solve this with a
transaction log that commits file-level deltas; none of their jars
exist in this environment, so this module implements that essential
idea directly on parquet + JSON:

```
store/
  _ptr.json           {"version": N, "epoch": E}    <- the ONE commit point
  _m000001.json       manifest: bucket id -> data directory (relative)
  _m000002.json
  data/
    v000001/bkt=0/    parquet, the rows whose key hashes to bucket 0
    v000001/bkt=1/
    v000002/bkt=1/    bucket 1 as rewritten by commit 2
```

Rows are hash-bucketed by their key columns (``pmod(xxhash64(keys),
n_buckets)`` — recorded in the manifest and immutable for the store's
lifetime).  A merge rewrites ONLY the buckets its updates hash into:
untouched buckets keep their existing directories, byte-identical, and
the new manifest simply repeats their entries.  Write cost per commit
is therefore O(touched buckets) ~ O(batch * store/n_buckets), not
O(store) — with enough buckets, a small batch against a huge store
rewrites a small fraction of it, which is exactly the file-level-delta
behaviour a Delta/Iceberg MERGE gives.  Compact state that every
batch touches almost whole (the streaming Bloom bitmap and count-min
sketch) uses ``n_buckets=1``: each commit is then a one-file rewrite.

Commit protocol (the correctness argument): (1) the touched
buckets' new directories are written completely under ``data/vN/``
(N = one past the highest version ever used, committed or orphaned),
(2) the new manifest ``_mN.json`` is written — still invisible,
(3) ``_ptr.json`` is renamed into place with ``{version: N, epoch:
E}``.  Step 3 is the only visible state change
and it carries the epoch WITH the data mapping, so a crash anywhere
earlier leaves orphan files and the OLD store: the replayed batch
merges exactly once.  Readers resolve the pointer, load one immutable
manifest, and read immutable directories — MVCC, never a half-written
table, never blocked by the writer.

Scale notes: the manifest is ~``n_buckets`` lines of JSON on the
driver — size it like a partition count (64–4096), not like the data.
Touched-bucket discovery hashes keys that already sit in driver memory
(a small local relation, e.g. ``local_df`` output) in Python
(:mod:`.xxhash64`), with no Spark job; any other key set pays one
``distinct().collect()`` bounded by ``n_buckets``.  Small lookups of
driver-resident keys read their buckets with pyarrow on the driver
(``manifest_lookup`` states when).  A commit rewrites each touched
bucket as ~one file, so file counts stay bounded instead of accreting
per commit.  A small driver-resident upsert batch on a local, flat
store whose touched files fit ``_DRIVER_READ_MAX_BYTES`` is committed
on the driver: pyarrow reads the touched buckets, drops the batch's
keys, appends the batch's rows and writes one file per bucket, with
no Spark job and no merge plan to analyse — the output schema follows
from the recorded one and the batch's in Python (``manifest_merge``
states when).  Every other commit runs one Spark job,
``repartition(touched, bucket)``, over the merge plan.  A lookup over
a bare ``local_df`` reads the probe rows that ``local_df`` kept in
Python, so it asks the JVM for no plan either.  Both writers publish
through the same manifest-then-pointer tail, and each manifest
records a ``summary`` of its commit (which writer, buckets touched,
files and bytes added, and the rows written, which only the driver
writer knows for free; ``manifest_history`` lists them).  Skewed keys
skew buckets; xxhash64 spreads keys
uniformly, and a hot single KEY is a store-design problem no format
solves — pre-aggregate upstream.

Single-writer by contract (streaming ``foreachBatch`` guarantees one
instance per sink).  Control files go through ``fsutil``: atomic rename
on POSIX/HDFS; on S3-like stores the pointer write is copy+delete of
one tiny object (fsutil's docstring states the same caveat).

Reference analog: none — the reference (pipeline.py:33) hands
persistence to the caller's ``lookup`` store; this is the keyed-store
contract a 100 TB incremental pipeline needs under crash recovery.
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil
from ..localdf import _DRIVER_KEYS_MAX, arrow_df, local_df, local_rows
from . import xxhash64

_PTR = "_ptr.json"
_BKT = "bkt"  # partition dir prefix; NOT underscore-led (Spark hides those)
_MANIFEST_RE = re.compile(r"^_m(\d{6})\.json$")
_DATA_V_RE = re.compile(r"^v(\d{6})$")
_HASH = "xxhash64"  # recorded in the manifest; immutable per store
# column types the driver read serves (pyarrow reads them exactly as
# Spark's parquet reader does); anything nested takes the Spark path
_FLAT_TYPES = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
               T.LongType, T.FloatType, T.DoubleType, T.StringType,
               T.BinaryType, T.DateType, T.DecimalType)
# A lookup is served on the driver when its touched files total at most
# this many bytes.  pyarrow reads the whole buckets into driver memory
# (~50 ms plus ~4.5 ms per MB on a 4-core host); the Spark path costs
# ~250-300 ms and 3x the CPU, and its parallel scan caught up in wall
# time only at ~55 MB (64 probes over 16 buckets).  Half of that keeps
# the margin on hosts with more cores and bounds the driver's memory.
_DRIVER_READ_MAX_BYTES = 32 << 20
# Spark's parquet codec names the driver writer can honour with pyarrow;
# any other codec keeps the commit on the Spark path
_ARROW_CODECS = {"none": "none", "uncompressed": "none",
                 "snappy": "snappy", "gzip": "gzip", "zstd": "zstd"}


def _join(path: str, rel: str) -> str:
    return path.rstrip("/") + "/" + rel


def _manifest_name(version: int) -> str:
    return f"_m{version:06d}.json"


def _bucket_col(key_cols: Sequence[str], n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]),
                  F.lit(n_buckets)).cast("int")


def _driver_rows(df: DataFrame) -> Optional[list[tuple]]:
    """The rows of ``df`` as tuples when it optimizes to a
    ``LocalRelation`` of at most ``_DRIVER_KEYS_MAX`` rows —
    ``local_df`` output and filters or projections over it — whose
    ``collect()`` runs no Spark job; None otherwise."""
    qe = df._jdf.queryExecution()
    # only a plan over local rows alone can fold to them; checking the
    # (already analysed) leaves first spares other plans an optimizer
    # pass of ~20-30 ms
    leaves = qe.analyzed().collectLeaves()
    if any(leaves.apply(i).getClass().getSimpleName() != "LocalRelation"
           for i in range(leaves.size())):
        return None
    plan = qe.optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation" \
            or plan.data().size() > _DRIVER_KEYS_MAX:
        return None
    # a binary value collects as bytearray (unhashable) when
    # spark.sql.execution.pyspark.binaryAsBytes is off
    return [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()]


def _row_buckets(rows, types: Sequence[T.DataType],
                 n_buckets: int) -> Optional[list[int]]:
    """The bucket of each key tuple in ``rows`` (of Spark ``types``) —
    exactly ``_bucket_col`` — or None when a type has no Python
    hasher."""
    hashers = [xxhash64.hasher(t) for t in types]
    if None in hashers:
        return None
    return [xxhash64.xxhash64(r, hashers) % n_buckets for r in rows]


def _driver_buckets(rows, types: Sequence[T.DataType],
                    n_buckets: int) -> Optional[list[int]]:
    """Sorted distinct buckets of the key tuples ``rows``, or None
    when a type has no Python hasher."""
    buckets = _row_buckets(rows, types, n_buckets)
    return None if buckets is None else sorted(set(buckets))


def _data_files(spark, d: str) -> list[tuple[str, int]]:
    """(path, bytes) of each data file in directory ``d``: the files
    Spark's reader lists, so hidden names (``_``, ``.``) are
    skipped."""
    return [(_join(d, name), size)
            for name, is_dir, size, _ in fsutil.list_status(d, spark=spark)
            if not is_dir and not name.startswith(("_", "."))]


def manifest_current(path: str, spark=None) -> Optional[Tuple[int, int]]:
    """(version, epoch) of the committed manifest, None if no commit
    ever happened (missing or torn pointer)."""
    txt = fsutil.read_text(_join(path, _PTR), spark=spark)
    if txt is None:
        return None
    try:
        doc = json.loads(txt)
        return int(doc["version"]), int(doc["epoch"])
    except (ValueError, KeyError, TypeError):
        return None


def _load_manifest(path: str, version: int, spark=None) -> dict:
    txt = fsutil.read_text(_join(path, _manifest_name(version)),
                           spark=spark)
    if txt is None:
        raise FileNotFoundError(
            f"manifest store {path!r}: pointer names version {version} "
            f"but {_manifest_name(version)} is missing — the store was "
            "vacuumed with keep too small or tampered with")
    return json.loads(txt)


def _refuse_retired_layout(store_path: str, who: str, *, spark) -> None:
    """Refuse a store path that holds a layout the streaming
    maintainers no longer write: a swap store (an ``upsert_parquet``
    table, with parquet files or Spark's ``_SUCCESS`` at its top
    level, a ``<store>._epoch`` marker beside it, or only the
    ``<store>._upsert_bak`` backup of a swap that crashed between its
    two renames) or a full-snapshot store (``_ptr.json`` with
    ``_vNNNNNN`` snapshot directories).  The maintainers commit
    through the manifest store only; resuming on either layout would
    start a fresh manifest store beside the old state and silently
    drop it.  A crashed first manifest commit (``data/`` orphans, no
    ``_ptr.json``) is a manifest store and resumes."""
    names = fsutil.list_dir(store_path, spark=spark)
    base = store_path.rstrip("/")
    if (fsutil.read_text(base + "._epoch", spark=spark) is not None
            or any(n.endswith(".parquet") or n == "_SUCCESS"
                   for n in names)):
        layout = ("a swap store (an upsert_parquet table or its "
                  "._epoch marker)")
    elif fsutil.dir_exists(base + "._upsert_bak", spark=spark):
        layout = ("a swap store interrupted mid-swap (only its "
                  "._upsert_bak backup)")
    elif _PTR in names and any(re.fullmatch(r"_v\d{6}", n)
                               for n in names):
        layout = "a full-snapshot store (_ptr.json + _vNNNNNN dirs)"
    else:
        return
    raise ValueError(
        f"{who}: {store_path!r} holds {layout}, a layout this "
        "maintainer no longer writes — it commits to a manifest store "
        "(sources.manifest) only, and resuming here would start a new "
        "store beside the old state and silently drop it. Rebuild the "
        "state into a manifest store at a fresh path (or delete the "
        "old one) before resuming.")


def manifest_rollback(path: str, version: int, spark=None) -> None:
    """Swing the pointer BACK to an earlier retained ``version`` (its
    recorded epoch comes back with it — each version's manifest pins
    the epoch it committed under).  The versions above it become
    unreferenced orphans: readers refuse them (above the pointer) and
    ``manifest_vacuum`` reclaims them once later commits pass their
    numbers.  This is the partitioned store's staged-head HEAL (r11):
    a crashed batch's sub-commit that will never be replayed is rolled
    back to the root-committed version so the next merge can't build
    on (and publish) the orphan's rows.  Copy-on-write makes it safe:
    the target version's manifest references only files it owns.
    Single-writer contract applies, as with any pointer write."""
    cur = manifest_current(path, spark=spark)
    if cur is None:
        raise ValueError(f"no manifest store at {path!r}")
    if version == cur[0]:
        return
    if version > cur[0]:
        raise ValueError(
            f"cannot roll {path!r} FORWARD to version {version} "
            f"(head is {cur[0]}): versions above the pointer are "
            "crash orphans, not commits")
    doc = _load_manifest(path, version, spark=spark)  # raises if gone
    fsutil.write_text_atomic(
        _join(path, _PTR),
        json.dumps({"version": int(version),
                    "epoch": int(doc["epoch"])}),
        spark=spark)


def manifest_read(spark: SparkSession, path: str, *,
                  version: Optional[int] = None) -> Optional[DataFrame]:
    """The committed store content, None when nothing was ever
    committed or every bucket is empty.  One immutable manifest, only
    immutable directories — never a half-written view.

    ``version=`` time-travels to an earlier committed state: manifests
    are immutable and reference immutable directories, so any version
    the vacuum window still retains (``manifest_vacuum(keep=K)`` keeps
    the last K) reads exactly as it was committed.  Versions newer
    than the pointer are refused — they are crash orphans, not
    commits."""
    cur = manifest_current(path, spark=spark)
    if cur is None:
        return None
    if version is None:
        version = cur[0]
    elif version > cur[0]:
        raise ValueError(
            f"version {version} was never committed (head is {cur[0]}) "
            "— newer on-disk versions are crash orphans")
    man = _load_manifest(path, version, spark=spark)
    return _read_buckets(spark, path, man)


def _read_buckets(spark: SparkSession, path: str, man: dict,
                  bucket_ids: Optional[Sequence[int]] = None
                  ) -> Optional[DataFrame]:
    """Read (a subset of) a manifest's bucket directories under the
    manifest's recorded schema.  The schema in the manifest is
    authoritative: after additive schema evolution only the buckets
    rewritten since carry the new columns in their files — the
    explicit schema makes the parquet reader null-fill them everywhere
    else, without a footer-merging pass."""
    if bucket_ids is None:
        rels = list(man["buckets"].values())
    else:
        rels = [man["buckets"][str(b)] for b in bucket_ids
                if str(b) in man["buckets"]]
    if not rels:
        return None
    reader = spark.read
    if man.get("schema") is not None:
        reader = reader.schema(T.StructType.fromJson(man["schema"]))
    return reader.parquet(*[_join(path, rel) for rel in rels])


def _used_versions(path: str, spark=None) -> list[int]:
    """Every version number ever used — committed, superseded, or
    orphaned by a crash — so the next commit never reuses one."""
    out = set()
    for name in fsutil.list_dir(path, spark=spark):
        m = _MANIFEST_RE.match(name)
        if m:
            out.add(int(m.group(1)))
    for name in fsutil.list_dir(_join(path, "data"), spark=spark):
        m = _DATA_V_RE.match(name)
        if m:
            out.add(int(m.group(1)))
    return sorted(out)


def _merge_upsert(stored: Optional[DataFrame], updates: DataFrame,
                  key_cols: Sequence[str],
                  tombstone_col: Optional[str],
                  evolve_schema: bool) -> DataFrame:
    keys = list(key_cols)
    if tombstone_col is not None:
        alive = updates.filter(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))) \
            .drop(tombstone_col)
    else:
        alive = updates
    if stored is None:
        return alive
    upd_keys = F.broadcast(updates.select(*keys).distinct())
    survivors = stored.join(upd_keys, keys, "left_anti")
    if evolve_schema:
        # additive schema evolution, table-format style: a column only
        # one side carries is null-filled on the other.  Only the
        # TOUCHED buckets rewrite with the widened schema this commit;
        # readers see the union schema because parquet schema-merging
        # across bucket directories null-fills the rest on read.
        return survivors.unionByName(alive, allowMissingColumns=True)
    return survivors.unionByName(alive)


def _upsert_schema(stored: Optional[T.StructType], batch: T.StructType,
                   keys: Sequence[str], tombstone_col: Optional[str],
                   evolve_schema: bool) -> Optional[T.StructType]:
    """The schema of ``_merge_upsert``'s plan, derived without
    building one.  ``stored`` is the recorded schema when a touched
    bucket holds data (None when none does), ``batch`` the batch's.
    With no stored rows it is the batch's schema less the tombstone
    column.  Otherwise it follows the plan: the anti-join on the
    ``keys`` puts them first, then the other recorded fields in
    order; ``unionByName`` appends (``evolve_schema``) the batch-only
    fields; every field is nullable — the parquet reader reports
    stored columns so, and a union column is nullable when either
    side's is.  None when the rule is not that simple — a shared
    column's types differ (Spark widens or fails), names clash
    case-insensitively, the strict union would fail, or the tombstone
    column is not one boolean batch column — and the commit then
    builds the plan and takes the Spark writer."""
    if len({n.lower() for n in batch.names}) != len(batch.names):
        return None
    if tombstone_col is not None and not (
            tombstone_col in batch.names
            and isinstance(batch[tombstone_col].dataType, T.BooleanType)):
        return None
    alive = [f for f in batch.fields if f.name != tombstone_col]
    if stored is None:
        return T.StructType(alive)
    have = {f.name.lower(): f for f in stored.fields}
    if len(have) != len(stored.fields):
        return None
    new = []
    for f in alive:
        s = have.get(f.name.lower())
        if s is None and evolve_schema:
            new.append(f)
        elif s is None or s.name != f.name or s.dataType != f.dataType:
            return None
    if not evolve_schema and len(alive) != len(have):
        return None
    if any(k not in stored.names for k in keys):
        return None
    left = [stored[k] for k in keys] + [f for f in stored.fields
                                        if f.name not in keys]
    return T.StructType([T.StructField(f.name, f.dataType, True, f.metadata)
                         for f in left + new])


def _merge_additive(stored: Optional[DataFrame], updates: DataFrame,
                    key_cols: Sequence[str],
                    value_cols: Sequence[str]) -> DataFrame:
    keys, vals = list(key_cols), list(value_cols)
    upd = updates.select(*keys, *vals)
    both = upd if stored is None else \
        stored.select(*keys, *vals).unionByName(upd)
    return both.groupBy(*keys).agg(
        *[F.sum(v).alias(v) for v in vals])


def manifest_merge(updates: DataFrame, path: str,
                   key_cols: Sequence[str], *, epoch_id: int = -1,
                   mode: str = "upsert", n_buckets: int = 64,
                   value_cols: Sequence[str] = (),
                   tombstone_col: Optional[str] = None,
                   merge_fn: Optional[
                       Callable[[Optional[DataFrame], DataFrame],
                                DataFrame]] = None,
                   evolve_schema: bool = False,
                   compression: str = "zstd") -> int:
    """MERGE ``updates`` into the store, rewriting only the buckets the
    updates' keys hash into; returns the committed version.

    Modes:

    * ``"upsert"`` — last-writer-wins by key.  Contract: at most one
      row per key per batch (pre-collapse with ``cdc_compact``); with
      ``tombstone_col`` (boolean), true rows DELETE their key.
    * ``"additive"`` — ``value_cols`` are summed into the stored row
      per key (counter / running-total state).  Replay-safe only
      behind the epoch guard, which the atomic pointer commit makes
      exact: data and epoch publish together.
    * ``merge_fn(stored, updates) -> DataFrame`` — escape hatch for
      mergeable-state stores (rollup sketches).  ``stored`` is every
      stored row of the TOUCHED buckets (None on first commit) —
      including same-bucket keys the batch did not update, so the
      function must carry them through: its return value REPLACES
      those buckets' content entirely.

    ``evolve_schema=True`` (upsert mode) allows ADDITIVE schema
    evolution: updates may carry columns the store lacks and vice
    versa — the union null-fills either side, the commit records the
    widened schema in the manifest, and reads apply that schema so
    buckets not yet rewritten null-fill the new columns.  Off by
    default: a schema drift you did not opt into should fail loudly.

    ``n_buckets`` and ``key_cols`` are fixed at the store's first
    commit (recorded in the manifest); later calls must match.
    Key columns must be NON-NULL (the contract of every keyed store
    here): the equi-joins of the built-in modes drop null keys, so a
    null-keyed row could never be updated or deleted once written.

    Where the commit runs: when ``updates`` folds to a local relation
    of at most ``_DRIVER_KEYS_MAX`` (4096) rows — ``local_df`` output
    and projections or filters over it, such as
    ``Pipeline.create_multiple`` over ``local_df`` — its rows are
    collected with no job and routed to buckets in Python.  If, in
    addition, the mode is upsert without a ``merge_fn``, the store is
    local, every column is flat (no struct, array or map), every key
    type has a Python hasher (not floating point, decimal or
    timestamp), column types agree between the batch and the store,
    ``compression`` is one pyarrow writes, and the touched bucket
    files total at most ``_DRIVER_READ_MAX_BYTES`` (32 MB), the
    commit runs on the driver with pyarrow and no Spark job: stored
    rows whose keys the batch carries are dropped, the batch's live
    rows are appended to the buckets they hash to, and each non-empty
    touched bucket is written as one parquet file.  Such a commit
    builds no merge plan: it derives the plan's output schema in
    Python (``_upsert_schema``, Spark's ``unionByName`` rule) and
    records the same schema as the Spark path.  A batch the rule does
    not cover simply (a column type that differs from the store's, or
    a column name that matches a stored one only case-insensitively)
    commits through the Spark writer.

    Otherwise the commit is one Spark job over the merge plan, and
    ``updates`` is evaluated TWICE — once for touched-bucket discovery
    (a distinct on the bucket hash; skipped for driver-resident
    updates) and once inside the merge write.  foreachBatch
    maintainers pass an already-materialized micro-batch, so this is
    free there; a direct caller whose ``updates`` is an expensive plan
    should ``updates.localCheckpoint(eager=True)`` first to avoid
    recomputing it.

    Numeric batch keys convert to the store's recorded key types
    first (an ``int`` batch merges into a ``bigint`` store); a value
    the store's type cannot hold raises, and any other key type
    mismatch raises ValueError.
    """
    if mode not in ("upsert", "additive"):
        raise ValueError(f"unknown mode {mode!r} "
                         "(expected 'upsert' or 'additive')")
    if mode == "additive" and not value_cols and merge_fn is None:
        raise ValueError("additive mode needs value_cols")
    if evolve_schema and (mode != "upsert" or merge_fn is not None):
        raise ValueError("evolve_schema applies to upsert mode only "
                         "(additive sums fixed value_cols; a merge_fn "
                         "controls its own output schema)")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    missing = [k for k in keys if k not in updates.columns]
    if missing:
        raise ValueError(f"updates lack key columns {missing}")
    if _BKT in updates.columns:
        raise ValueError(
            f"updates must not contain a column named {_BKT!r} "
            "(reserved for the store's bucket layout)")

    spark = updates.sparkSession
    cur = manifest_current(path, spark=spark)
    man = _load_manifest(path, cur[0], spark=spark) if cur else None
    if man is not None:
        if int(man["n_buckets"]) != int(n_buckets):
            raise ValueError(
                f"store {path!r} was created with n_buckets="
                f"{man['n_buckets']}, got {n_buckets} — the bucket "
                "function is immutable for the store's lifetime")
        if list(man["key_cols"]) != keys:
            raise ValueError(
                f"store {path!r} is keyed by {man['key_cols']}, "
                f"got {keys}")
        if (mode == "upsert" and merge_fn is None
                and man.get("schema")):
            # schema drift must fail loudly EVEN when the batch's keys
            # all land in empty buckets: without this check the strict
            # unionByName never fires there (stored is None) and the
            # drifted batch would commit — and before the r8
            # never-narrow rule below, even RECORD a narrowed schema
            # that silently hid the store's widened columns
            old_names = {f["name"] for f in man["schema"]["fields"]}
            upd_names = {c for c in updates.columns
                         if c != tombstone_col}
            if upd_names != old_names and not evolve_schema:
                raise ValueError(
                    f"store {path!r} has columns "
                    f"{sorted(old_names)} but updates carry "
                    f"{sorted(upd_names)} — schema drift fails "
                    "loudly by default; pass evolve_schema=True for "
                    "additive widening")

    # route and match under the store's key types: hashing an int
    # batch key where the store keys by bigint picks other buckets
    schema = T.StructType.fromJson(man["schema"]) \
        if man is not None and man.get("schema") else None
    got = [updates.schema[k].dataType for k in keys]
    ktypes = _key_types(keys, got, schema, "batch")
    conv = {k: _as_type(k, t, strict=True)
            for k, g, t in zip(keys, got, ktypes) if g != t}
    if conv:
        updates = updates.withColumns(conv)

    rows = _driver_rows(updates)
    if rows is None:
        buckets = None
    else:
        at = [updates.columns.index(k) for k in keys]
        buckets = _row_buckets([tuple(r[i] for i in at) for r in rows],
                               ktypes, n_buckets)
    if buckets is not None:
        touched = sorted(set(buckets))
    else:
        bcol = _bucket_col(keys, n_buckets)
        touched = sorted(
            r[0] for r in updates.select(bcol.alias(_BKT)).distinct()
            .collect())

    def merge_plan() -> DataFrame:
        stored = None
        if man is not None and touched:
            stored = _read_buckets(spark, path, man, bucket_ids=touched)
        if merge_fn is not None:
            out = merge_fn(stored, updates)
            lacking = [k for k in keys if k not in out.columns]
            if lacking:
                raise ValueError(
                    f"merge_fn result lacks key columns {lacking}")
            return out
        if mode == "additive":
            return _merge_additive(stored, updates, keys, value_cols)
        return _merge_upsert(stored, updates, keys, tombstone_col,
                             evolve_schema)

    # a driver commit needs only the merge plan's schema, which a first
    # commit or a recorded schema gives in Python; every other commit
    # builds the plan, before the version number is chosen: a merge_fn
    # runs caller code, which may itself commit to this store
    out, out_schema = None, None
    if mode == "upsert" and merge_fn is None and buckets is not None \
            and (man is None or schema is not None):
        full = man is not None and any(str(b) in man["buckets"]
                                       for b in touched)
        out_schema = _upsert_schema(schema if full else None,
                                    updates.schema, keys, tombstone_col,
                                    evolve_schema)
    if out_schema is None:
        out = merge_plan()
        out_schema = out.schema

    used = _used_versions(path, spark=spark) \
        if fsutil.dir_exists(path, spark=spark) else []
    version = (used[-1] + 1) if used else 1
    staging = _join(path, f"data/v{version:06d}")
    done = None if out is not None else _driver_write(
        path, staging, man, schema, out_schema, updates.schema, rows,
        buckets, touched, keys, tombstone_col, compression)
    if done is not None:
        (written, rows_written), writer = done, "driver"
    else:
        if out is None:  # the driver writer declined
            out = merge_plan()
            out_schema = out.schema
        written, rows_written, writer = _spark_write(
            spark, staging, out, keys, n_buckets, touched,
            compression), None, "spark"
    if touched:
        schema_json = out_schema.jsonValue()
        if man is not None and man.get("schema"):
            # the recorded schema NEVER narrows (found by the property
            # soak): a batch without an evolved column whose keys land
            # in empty buckets produces an `out` lacking that column,
            # and recording out's schema verbatim would drop it from
            # the manifest — hiding the carried-over buckets' data.
            # Union: old fields keep their position and type; fields
            # new in this commit append.
            old = man["schema"]
            old_names = {f["name"] for f in old["fields"]}
            schema_json = dict(old)
            schema_json["fields"] = list(old["fields"]) + [
                f for f in out_schema.jsonValue()["fields"]
                if f["name"] not in old_names]
    else:  # nothing written: the store (and its schema) are unchanged
        schema_json = man.get("schema") if man is not None \
            else out_schema.jsonValue()
    return _publish(
        spark, path, version, written, writer=writer,
        base_buckets=dict(man["buckets"]) if man is not None else {},
        touched=touched, keys=keys, n_buckets=n_buckets,
        epoch_id=epoch_id, schema_json=schema_json,
        expected_version=cur[0] if cur is not None else None,
        rows_written=rows_written)


def _keyed_merge(keys: Sequence[str],
                 combine: Callable[[DataFrame, DataFrame], DataFrame], *,
                 first: Callable[[DataFrame], DataFrame] = lambda b: b,
                 align: bool = False,
                 allow_missing: bool = False):
    """The ``merge_fn`` of a store whose state merges key by key.
    ``stored`` (every row of the touched buckets) splits on a
    broadcast of the batch's keys: the TOUCHED rows go to
    ``combine(touched, batch)``, which returns the merged rows of the
    batch's keys, and the CARRIED rows (same-bucket keys the batch did
    not see) pass through verbatim.  ``first(batch)`` is the content
    of the first commit.  ``align`` first casts the stored rows to the
    batch's column order and types; ``allow_missing`` null-fills the
    side of the final union that lacks a column (additive schema
    evolution)."""
    def merge_fn(stored: Optional[DataFrame],
                 batch: DataFrame) -> DataFrame:
        if stored is None:
            return first(batch)
        if align:
            stored = stored.select(*[F.col(f.name).cast(f.dataType)
                                     for f in batch.schema.fields])
        bkeys = F.broadcast(batch.select(*keys).distinct())
        touched = stored.join(bkeys, keys, "left_semi")
        carried = stored.join(bkeys, keys, "left_anti")
        return combine(touched, batch).unionByName(
            carried, allowMissingColumns=allow_missing)
    return merge_fn


def _spark_write(spark, staging: str, out: DataFrame,
                 keys: Sequence[str], n_buckets: int,
                 touched: Sequence[int],
                 compression: str) -> dict[int, list[int]]:
    """Write ``out``'s rows under ``staging/bkt=b/`` with one Spark
    job; returns {bucket: [bytes of each file written]}."""
    if not touched:
        return {}
    # one job rewrites (and re-compacts) every touched bucket:
    # repartition by the bucket column so each bucket lands in ~one
    # task -> ~one file, bounding file counts across commits
    (out.withColumn(_BKT, _bucket_col(keys, n_buckets))
        .repartition(len(touched), F.col(_BKT))
        .write.mode("errorifexists")
        .option("compression", compression)
        .partitionBy(_BKT).parquet(staging))
    return {int(name.split("=", 1)[1]):
            [n for _, n in _data_files(spark, _join(staging, name))]
            for name in fsutil.list_dir(staging, spark=spark)
            if name.startswith(_BKT + "=")}


def _driver_write(path: str, staging: str, man: Optional[dict],
                  schema: Optional[T.StructType], out: T.StructType,
                  batch: T.StructType, rows: list, buckets: list,
                  touched: Sequence[int], keys: Sequence[str],
                  tombstone_col: Optional[str], compression: str
                  ) -> Optional[tuple[dict[int, list[int]], int]]:
    """The upsert of the batch ``rows`` (of schema ``batch``; bucket
    ``buckets[i]`` for row i) written on the driver with pyarrow, one
    parquet file per non-empty touched bucket under ``staging``;
    returns ({bucket: [bytes of its file]}, rows written).  Each
    touched bucket's stored rows lose the keys the batch carries (left
    anti-join) and keep their bucket; the batch's non-tombstone rows
    append to the buckets they hash to.  ``out`` is the schema of the
    Spark path's merge plan, which the files take; ``schema`` is the
    store's recorded one (None on a first commit).  None — nothing
    written — when the store is remote, the codec has no pyarrow
    equivalent, a column is not flat, a column's type differs between
    ``out``, the batch and the store, or the touched files exceed
    ``_DRIVER_READ_MAX_BYTES``."""
    codec = _ARROW_CODECS.get(compression.lower())
    if codec is None \
            or any(f.name in s.names and s[f.name].dataType != f.dataType
                   for s in (batch, schema) if s is not None
                   for f in out.fields):
        return None
    stored = _stored_table(path, man["buckets"] if man else {}, out,
                           touched)
    if stored is None:
        return None

    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    at = {c: i for i, c in enumerate(batch.names)}
    dead = at.get(tombstone_col)
    alive = [i for i, r in enumerate(rows) if dead is None or not r[dead]]
    new = pa.table(
        [pa.array([rows[i][at[f.name]] for i in alive], f.type)
         if f.name in at else pa.nulls(len(alive), f.type)
         for f in stored.schema if f.name != _BKT]
        + [pa.array([buckets[i] for i in alive], pa.int32())],
        schema=stored.schema)
    batch_keys = pa.table(
        [pa.array([r[at[k]] for r in rows], stored.schema.field(k).type)
         for k in keys], names=list(keys))
    merged = pa.concat_tables([
        stored.join(batch_keys, list(keys), join_type="left anti"), new])
    written = {}
    if touched:
        os.makedirs(fsutil._strip_file_scheme(staging))  # never reused
    for b in touched:
        part = merged.filter(pc.equal(merged[_BKT], b)) \
            .drop_columns([_BKT])
        if part.num_rows:
            d = fsutil._strip_file_scheme(_join(staging, f"{_BKT}={b}"))
            os.makedirs(d)
            f = os.path.join(d, f"part-00000-{uuid.uuid4()}.parquet")
            # dictionary pages only bloat ~KB bucket files of mostly
            # distinct values; Spark's writer falls back to plain there
            pq.write_table(part, f, compression=codec,
                           use_dictionary=False, store_schema=False)
            written[b] = [os.path.getsize(f)]
    return written, merged.num_rows


def _publish(spark, path: str, version: int,
             written: dict[int, list[int]], *, writer: str,
             base_buckets: dict, touched: Sequence[int],
             keys: Sequence[str], n_buckets: int, epoch_id: int,
             schema_json, expected_version: Optional[int],
             rows_written: Optional[int] = None) -> int:
    """Publish version ``version`` whose touched buckets were written
    under ``data/vN`` (``written``: bucket -> bytes of each file;
    ``rows_written`` their rows, None where counting them would cost a
    job): the manifest, then the pointer — the shared tail of both
    writers and of rebucket.

    ``expected_version`` is the committed version the caller's merge
    was BASED on: re-checked immediately before the pointer publish
    (optimistic-concurrency detection, table-format style).  Two
    writers racing the single-writer contract would otherwise
    silently lose the first writer's commit — its buckets replaced
    by a manifest built from the stale base.  The check is
    best-effort (rename is not a conditional CAS, so a sub-
    millisecond race can still slip through), but it converts every
    practical double-writer mistake into a loud abort with only
    orphan files on disk."""
    stray = set(written) - set(touched)
    if stray:
        # only the TOUCHED buckets enter the new manifest below, so
        # rows hashing elsewhere would be silently unreferenced —
        # turn the documented merge_fn contract (return rows for
        # the touched buckets only) into a checked invariant.  The
        # staging dir is left as an orphan; vacuum reclaims it
        # after the next successful commit.
        raise ValueError(
            f"merge result contains keys outside the touched "
            f"bucket set (buckets {sorted(stray)} vs touched "
            f"{sorted(touched)}): a merge_fn must only return "
            "rows for the buckets the batch's updates hash into "
            "— no commit was published")

    buckets = dict(base_buckets)
    for b in touched:
        if b in written:
            buckets[str(b)] = f"data/v{version:06d}/{_BKT}={b}"
        else:
            # the merge emptied this bucket (every key deleted)
            buckets.pop(str(b), None)

    # last-moment lost-update check: if another writer published while
    # this merge was computing, our base (and base_buckets) are stale
    # and publishing would erase their commit — abort, leaving only
    # orphans for vacuum
    now = manifest_current(path, spark=spark)
    now_v = now[0] if now is not None else None
    if now_v != expected_version:
        raise RuntimeError(
            f"concurrent writer detected on manifest store {path!r}: "
            f"this merge was based on committed version "
            f"{expected_version}, but the pointer now says {now_v}. "
            "Publishing would silently discard the other writer's "
            "commit. The store is single-writer by contract — nothing "
            "was published (staging files become vacuumable orphans).")

    # an empty or fully-deleting first commit writes no data files, so
    # nothing has created the store directory yet — the manifest/
    # pointer writes still need it (found by the property test: an
    # empty first batch must still commit its epoch)
    fsutil.ensure_dir(path, spark=spark)
    summary = {"writer": writer, "buckets_touched": len(touched),
               "files_added": sum(map(len, written.values())),
               "bytes_added": sum(map(sum, written.values())),
               "rows_written": rows_written}
    fsutil.write_text_atomic(
        _join(path, _manifest_name(version)),
        json.dumps({"version": version, "epoch": int(epoch_id),
                    "n_buckets": int(n_buckets), "key_cols": list(keys),
                    "hash": _HASH, "schema": schema_json,
                    "buckets": buckets, "summary": summary},
                   sort_keys=True),
        spark=spark)
    fsutil.write_text_atomic(
        _join(path, _PTR),
        json.dumps({"version": version, "epoch": int(epoch_id)}),
        spark=spark)
    return version


def manifest_rebucket(spark: SparkSession, path: str,
                      n_buckets: int, *,
                      compression: str = "zstd") -> int:
    """Re-hash the store into a different bucket count — the scale
    path when a store outgrows (or shrank far below) its layout: more
    buckets shrink the per-commit rewrite fraction and the per-bucket
    file size.  This is a deliberate FULL rewrite, committed like any
    other version (one atomic pointer publish, epoch unchanged since
    no data changed) — run it out-of-band at the cadence you would run
    a table-format compaction, not per batch."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    cur = manifest_current(path, spark=spark)
    if cur is None:
        raise ValueError(f"nothing committed at {path!r} to rebucket")
    man = _load_manifest(path, cur[0], spark=spark)
    keys = list(man["key_cols"])
    df = manifest_read(spark, path)
    used = _used_versions(path, spark=spark)
    version = (used[-1] + 1) if used else 1
    if df is None:  # empty store: just flip the recorded layout
        touched, schema_json = [], man.get("schema")
    else:
        touched, schema_json = list(range(n_buckets)), df.schema.jsonValue()
    written = _spark_write(spark, _join(path, f"data/v{version:06d}"), df,
                           keys, n_buckets, touched, compression)
    return _publish(spark, path, version, written, writer="spark",
                    base_buckets={}, touched=touched, keys=keys,
                    n_buckets=n_buckets, epoch_id=cur[1],
                    schema_json=schema_json, expected_version=cur[0])


def manifest_stats(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Per-bucket health report of the committed store — the
    measurement that drives :func:`manifest_rebucket` and vacuum
    cadence decisions: one row per NON-EMPTY bucket with its data
    directory, the version that last rewrote it, row count, file
    count, and bytes.  Row counts come from ONE Spark job over the
    whole store (per-file attribution via ``input_file_name``); file
    stats from a driver-side listing bounded by ``n_buckets``.

    Read the skew off ``rows``/``bytes``: a bucket holding a large
    multiple of the median means a hot key (fix upstream); uniformly
    oversized buckets mean the store outgrew ``n_buckets`` — rebucket.
    """
    cur = manifest_current(path, spark=spark)
    if cur is None:
        return None
    man = _load_manifest(path, cur[0], spark=spark)
    if not man["buckets"]:
        return None
    # row counts: ONE job over every bucket directory, attributed back
    # to its directory via input_file_name — not one count() per bucket
    # (that would be n_buckets driver-synchronous jobs)
    per_dir = dict(
        _read_buckets(spark, path, man)
        .groupBy(F.regexp_extract(F.input_file_name(),
                                  r"(data/v\d{6}/" + _BKT + r"=\d+)/", 1)
                 .alias("rel"))
        .count().collect())
    rows = []
    for b, rel in sorted(man["buckets"].items(), key=lambda kv: int(kv[0])):
        sizes = [n for _, n in _data_files(spark, _join(path, rel))]
        version = int(rel.split("/")[1][1:])
        rows.append((int(b), rel, version, int(per_dir.get(rel, 0)),
                     len(sizes), sum(sizes)))
    return local_df(
        spark, rows, "bucket int, dir string, written_version int, "
                     "rows bigint, files int, bytes bigint")


def _key_types(kcols: Sequence[str], got: Sequence[T.DataType],
               schema: Optional[T.StructType], role: str) -> list:
    """The types keys of types ``got`` (a lookup's probes or a merge's
    batch: ``role``) are routed and matched under: the store's
    recorded key types, to which numeric keys convert (their own
    types on a store without a recorded schema).  Any other mismatch
    raises ValueError."""
    if schema is None:
        return got
    want = [schema[k].dataType for k in kcols]
    for k, g, w in zip(kcols, got, want):
        if g != w and not (isinstance(g, T.NumericType)
                           and isinstance(w, T.NumericType)):
            raise ValueError(
                f"{role} key {k!r} is {g.simpleString()} but the store "
                f"keys it as {w.simpleString()}")
    return want


def _as_type(k: str, dt: T.DataType, strict: bool = False) -> Column:
    """Key column ``k`` converted to ``dt``.  A value that does not
    fit is null (a probe that can never match), or with ``strict`` (a
    key about to be stored) raises when the plan is evaluated."""
    c = F.col(k)
    v = c.try_cast(dt)
    if not strict:
        return F.when(v == c, v).alias(k)
    return F.when(c.isNull() | (v == c), v).otherwise(F.raise_error(F.lit(
        f"key column {k!r} holds a value the store's "
        f"{dt.simpleString()} key cannot hold"))).alias(k)


def _arrow_schema(schema: T.StructType):
    """``schema`` in Arrow, every field nullable: Spark's file reader
    reports stored columns nullable, and its writer stores them so."""
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(T.StructType(
        [T.StructField(f.name, f.dataType) for f in schema.fields]))


def _stored_table(path: str, buckets: dict, schema: T.StructType,
                  bucket_ids: Sequence[int]):
    """The stored rows of the buckets ``bucket_ids`` (those present in
    the manifest's ``buckets`` map) read on the driver with pyarrow:
    one table under ``schema`` plus an int32 ``bkt`` column holding
    each row's bucket.  None when the store is remote, a column of
    ``schema`` is not flat, or the files total more than
    ``_DRIVER_READ_MAX_BYTES``."""
    if not fsutil.is_local(path) or not all(
            isinstance(f.dataType, _FLAT_TYPES) for f in schema.fields):
        return None
    files = [(b, f, n) for b in bucket_ids if str(b) in buckets
             for f, n in _data_files(None, fsutil._strip_file_scheme(
                 _join(path, buckets[str(b)])))]
    if sum(n for _, _, n in files) > _DRIVER_READ_MAX_BYTES:
        return None

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = _arrow_schema(schema)
    target = cols.append(pa.field(_BKT, pa.int32()))
    parts = [target.empty_table()]
    for b, f, _ in files:
        with pq.ParquetFile(f) as pf:
            t = pf.read()
        # align to the schema: columns added by a later evolve_schema
        # commit are null in buckets not rewritten since
        parts.append(pa.table(
            [t[a.name].cast(a.type) if a.name in t.column_names
             else pa.nulls(t.num_rows, a.type) for a in cols]
            + [pa.repeat(pa.scalar(b, pa.int32()), t.num_rows)],
            schema=target))
    return pa.concat_tables(parts)


def _driver_read(spark: SparkSession, path: str, man: dict,
                 schema: T.StructType, bucket_ids: Sequence[int],
                 kcols: Sequence[str], probes: set
                 ) -> Optional[DataFrame]:
    """The stored rows whose keys are in ``probes`` (tuples under the
    store's key types), read with pyarrow on the driver
    (``_stored_table``) and returned as a local relation; None where
    ``_stored_table`` is."""
    stored = _stored_table(path, man["buckets"], schema, bucket_ids)
    if stored is None:
        return None

    import pyarrow as pa

    want = pa.table([pa.array([p[i] for p in probes],
                              stored.schema.field(k).type)
                     for i, k in enumerate(kcols)], names=list(kcols))
    # nullable like the schema Spark's file reader reports
    return arrow_df(
        spark, stored.join(want, list(kcols), join_type="left semi")
        .drop_columns([_BKT]),
        T.StructType([T.StructField(f.name, f.dataType)
                      for f in schema.fields]))


def manifest_lookup(spark: SparkSession, path: str,
                    keys: DataFrame, *,
                    version: Optional[int] = None) -> Optional[DataFrame]:
    """Serving-side point/keyset reads: the stored rows whose key
    columns match a row of ``keys`` — touching ONLY the buckets those
    keys hash into.  This is the read-path payoff of the bucketed
    layout: a lookup of k keys against a store of any size scans at
    most ``min(k, n_buckets)`` bucket directories (each ~1 file), not
    the table — the O(1-ish) primary-key GET a huge keyed store needs
    for feature serving, audit sampling, or targeted backfills.

    ``keys`` must carry exactly the store's key columns (extra
    columns are ignored); matching is by equality on all of them.
    Numeric probe keys are converted to the store's key types first,
    so an ``int`` probe finds the rows of a ``bigint`` store; a value
    the store's type cannot hold matches nothing.  Any other type
    mismatch raises ValueError.
    ``version=`` time-travels the lookup like :func:`manifest_read`.
    Returns None only when nothing was ever committed; a committed
    store whose buckets hold none of the probed keys returns an
    EMPTY DataFrame under the store's recorded schema (so callers
    can filter/select it without a None branch).

    Cost: keys already in driver memory (``keys`` folds to a local
    relation of at most ``_DRIVER_KEYS_MAX`` rows, as ``local_df``
    output and filters or projections over it do) are routed to their
    buckets in Python.  A bare ``local_df`` whose key types are the
    store's gives its kept rows straight back (``local_rows``), with
    no projection to build or optimize; any key that converts goes
    through the one ``_as_type`` projection.  When, in addition, the
    store is local, every recorded column is flat (no struct, array or
    map) and the touched files total at most
    ``_DRIVER_READ_MAX_BYTES`` (32 MB), the lookup is served on the
    driver: pyarrow reads those files and ``arrow_df`` makes the
    result a local relation, so neither the lookup nor the caller's
    ``collect()`` runs a Spark job.  Such a lookup over a bare
    ``local_df`` makes 2-3 py4j round trips in all, and reading its
    result's ``.schema`` none.  Otherwise it takes the Spark path: one
    tiny job hashes the keys (skipped for driver-resident keys), then
    one pruned scan and one broadcast semi-join.
    """
    cur = manifest_current(path, spark=spark)
    if cur is None:
        return None
    if version is None:
        version = cur[0]
    elif version > cur[0]:
        raise ValueError(
            f"version {version} was never committed (head is {cur[0]}) "
            "— newer on-disk versions are crash orphans")
    man = _load_manifest(path, version, spark=spark)
    kcols = list(man["key_cols"])
    missing = [k for k in kcols if k not in keys.columns]
    if missing:
        raise ValueError(
            f"keys lack the store's key columns {missing}")
    schema = T.StructType.fromJson(man["schema"]) \
        if man.get("schema") is not None else None
    got = [keys.schema[k].dataType for k in kcols]
    ktypes = _key_types(kcols, got, schema, "probe")
    n_buckets = int(man["n_buckets"])
    # keys of the store's types are read back from a bare ``local_df``
    # in Python; any other probe converts in the one projection
    rows = local_rows(keys, kcols) if got == ktypes else None
    want = None
    if rows is None:
        want = keys.select(*[k if g == t else _as_type(k, t)
                             for k, g, t in zip(kcols, got, ktypes)])
        rows = _driver_rows(want)
    touched = None
    if rows is not None:
        # a null (or non-fitting) key matches nothing
        probes = {r for r in rows if None not in r}
        touched = _driver_buckets(probes, ktypes, n_buckets)
        if touched is not None and schema is not None:
            out = _driver_read(spark, path, man, schema, touched, kcols,
                               probes)
            if out is not None:
                return out
    want = (keys.select(*kcols) if want is None else want).distinct()
    if touched is None:
        bcol = _bucket_col(kcols, n_buckets)
        touched = sorted(r[0] for r in
                         want.select(bcol.alias(_BKT)).distinct().collect())
    stored = _read_buckets(spark, path, man, bucket_ids=touched)
    if stored is None:
        # committed store, but every probed bucket is empty: an empty
        # result under the recorded schema, not None — callers chain
        # filters/selects without a None branch
        if schema is None:
            return None  # pre-schema legacy manifest: shape unknown
        return local_df(spark, [], schema)
    return stored.join(F.broadcast(want), kcols, "left_semi")


def manifest_history(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Time-travel discovery: one row per RETAINED manifest —
    ``(version, epoch, n_buckets, n_nonempty_buckets, is_head)`` —
    i.e. exactly the versions ``manifest_read(version=)`` can still
    serve (committed, at or below the pointer, manifest file present;
    staged/orphaned versions above the pointer are not commits and
    are excluded).  Trailing columns carry each commit's recorded
    summary: ``writer`` (``"driver"`` or ``"spark"``),
    ``buckets_touched``, ``files_added``, ``bytes_added`` and
    ``rows_written`` — null for manifests written before commits
    recorded one; ``rows_written`` is null, too, for Spark-written
    commits, which would need a job to count them.  ``None`` when
    nothing was ever committed.  Driver cost: one tiny JSON read per
    retained version, bounded by the vacuum keep-window."""
    cur = manifest_current(path, spark=spark)
    if cur is None:
        return None
    rows = []
    for v in _used_versions(path, spark=spark):
        if v > cur[0]:
            continue
        txt = fsutil.read_text(_join(path, _manifest_name(v)),
                               spark=spark)
        if txt is None:
            continue  # vacuumed or data-dir-only orphan
        man = json.loads(txt)
        s = man.get("summary", {})
        rows.append((int(man["version"]), int(man["epoch"]),
                     int(man["n_buckets"]), len(man["buckets"]),
                     v == cur[0], s.get("writer"), s.get("buckets_touched"),
                     s.get("files_added"), s.get("bytes_added"),
                     s.get("rows_written")))
    return local_df(
        spark, rows, "version int, epoch int, n_buckets int, "
                     "n_nonempty_buckets int, is_head boolean, "
                     "writer string, buckets_touched int, "
                     "files_added int, bytes_added bigint, "
                     "rows_written bigint")


def manifest_merge_into(source: DataFrame, path: str, *,
                        epoch_id: int = -1,
                        when_matched_update: Optional[
                            Mapping[str, Column]] = None,
                        when_matched_delete: Optional[Column] = None,
                        when_not_matched_insert: bool = True,
                        compression: str = "zstd") -> int:
    """Conditional MERGE, Delta/Iceberg ``MERGE INTO`` style, on the
    manifest store: for each source row matched by key against the
    stored image —

    * ``when_matched_delete`` (a boolean Column over the matched
      pair: source columns by name, stored columns as
      ``_stored_<c>``) deletes the key where it holds — evaluated
      FIRST, like SQL MERGE's clause ordering;
    * ``when_matched_update`` maps store column -> value Column over
      the same pair, applied where the delete clause didn't fire
      (columns not mapped keep their STORED value);
    * unmatched source keys insert as-is when
      ``when_not_matched_insert`` (else they are ignored).

    Returns the committed version.  Cost: ONE bucket-pruned read of
    the source keys' buckets (``manifest_lookup``) to evaluate the
    clauses — the store is never scanned — then one ordinary
    ``manifest_merge`` upsert of the resulting change set, so the
    whole MERGE is O(source + touched buckets) like every other
    commit here.  First commit on an empty store: matched clauses
    are vacuous, inserts (if enabled) create the store.  Contract:
    at most one source row per key (pre-collapse with
    ``cdc_compact``); key columns are the store's and must be
    non-null; source must carry every store column when inserting
    (unmatched rows have no stored half to fall back on).
    """
    if when_matched_update is None and when_matched_delete is None \
            and not when_not_matched_insert:
        raise ValueError("no clauses: nothing to do")
    spark = source.sparkSession
    cur = manifest_current(path, spark=spark)
    if cur is None:
        raise ValueError(
            f"nothing committed at {path!r} — MERGE INTO cannot "
            "infer key columns from an empty store; bootstrap it "
            "with one manifest_merge first")
    man = _load_manifest(path, cur[0], spark=spark)
    keys = list(man["key_cols"])
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(
            f"source lacks the store's key columns {missing}")
    fields = {f.name: f for f in
              T.StructType.fromJson(man["schema"]).fields} \
        if man.get("schema") else \
        {f.name: f for f in source.schema.fields}
    vals = [c for c in fields if c not in keys]
    reserved = [c for c in source.columns
                if c in ("_mi_hit", "_mi_dead")
                or c.startswith("_stored_")]
    if reserved:
        raise ValueError(
            f"source columns {reserved} use the MERGE pair's "
            "reserved names (_mi_*, _stored_*) — rename them first")
    if when_matched_update is not None:
        unknown = [c for c in when_matched_update if c not in vals]
        if unknown:
            raise ValueError(
                f"when_matched_update targets {unknown} — updatable "
                f"columns are the store's non-key columns {vals}")
    if when_not_matched_insert:
        lacking = [c for c in vals if c not in source.columns]
        if lacking:
            raise ValueError(
                f"source lacks store columns {lacking}; inserts need "
                "the full row — disable when_not_matched_insert or "
                "project them")

    # ONE bucket-pruned read of the source keys' buckets gives the
    # matched pair; stored columns join in as _stored_<c>, plus a
    # constant-true tag for null-safe match detection
    stored = manifest_lookup(spark, path, source.select(*keys))
    if stored is None:
        # manifest_lookup returns None only when every probed bucket
        # is empty AND the store predates the recorded-schema format
        # (no schema to build an empty frame from).  Don't fall
        # through to stored.select(...) -> AttributeError; on such a
        # legacy store the matched clauses are vacuous, so build the
        # empty stored half from the SOURCE's columns (validated
        # above to carry every store column when inserting).
        stored = local_df(
            spark, [], T.StructType([source.schema[c] for c in keys]
                                    + [fields[c] for c in vals]))
    pair = source.join(
        stored.select(*keys, F.lit(True).alias("_mi_hit"),
                      *[F.col(c).alias(f"_stored_{c}") for c in vals]),
        keys, "left")
    hit = F.coalesce(F.col("_mi_hit"), F.lit(False))
    del_cond = F.lit(False) if when_matched_delete is None \
        else F.coalesce(when_matched_delete, F.lit(False))

    def _null(c):
        return F.lit(None).cast(fields[c].dataType).alias(c)

    # keys are cast to the STORE's types so a wider-typed source
    # cannot drift the written schema under the name-level check
    kcols = [F.col(k).cast(fields[k].dataType).alias(k)
             for k in keys] if man.get("schema") else \
        [F.col(k) for k in keys]
    changes = [pair.filter(hit & del_cond).select(
        *kcols, *[_null(c) for c in vals],
        F.lit(True).alias("_mi_dead"))]
    if when_matched_update is not None:
        changes.append(pair.filter(hit & ~del_cond).select(
            *kcols,
            *[(when_matched_update[c].cast(fields[c].dataType)
               if c in when_matched_update
               else F.col(f"_stored_{c}")).alias(c) for c in vals],
            F.lit(False).alias("_mi_dead")))
    if when_not_matched_insert:
        changes.append(pair.filter(~hit).select(
            *kcols,
            *[F.col(c).cast(fields[c].dataType).alias(c)
              for c in vals],
            F.lit(False).alias("_mi_dead")))
    out = changes[0]
    for c in changes[1:]:
        out = out.unionByName(c)
    # keys matched by NO firing clause are absent from `out`: their
    # stored image carries over untouched (they still count as
    # "touched bucket" rows only if a same-bucket key changed)
    return manifest_merge(out.localCheckpoint(eager=True), path, keys,
                          epoch_id=epoch_id,
                          n_buckets=int(man["n_buckets"]),
                          tombstone_col="_mi_dead",
                          compression=compression)


def manifest_changes(spark: SparkSession, path: str, *,
                     from_version: int,
                     to_version: Optional[int] = None,
                     op_col: str = "change_op") -> Optional[DataFrame]:
    """Change data feed between two committed versions: one row per
    key whose stored image differs, labelled ``op_col`` in
    ``('insert', 'update', 'delete')`` — the Delta/Iceberg
    ``table_changes`` read, derived from the layout instead of a
    logged feed.  Inserts and updates carry the POST-image, deletes
    the PRE-image (the row as it was last seen).

    The bucketed layout makes this O(changed data), not O(store):
    bucket directories are immutable, so any bucket whose manifest
    entry is BYTE-IDENTICAL in both versions cannot contain a change
    and is skipped driver-side — only rewritten buckets are read (on
    both sides) and value-compared.  A store where one batch touched
    3 of 4096 buckets diffs 3 buckets, whatever the table holds.
    Exception: if the store was REBUCKETED between the versions the
    bucket ids are incomparable and both versions are read in full
    (correct, just unpruned).

    Key-identity is the store's key; value comparison is null-safe
    over the union of both versions' columns (additive schema
    evolution null-fills the older side, so a carried row never
    reports as changed).  ``from_version=0`` means "before the first
    commit": every stored key of ``to_version`` comes back as an
    insert.  Both versions must still be retained (``manifest_vacuum``
    keep-window); ``to_version=None`` reads the head.  Two versions
    with no rewritten buckets between them return an EMPTY feed under
    the store's schema.
    """
    cur = manifest_current(path, spark=spark)
    if cur is None:
        raise ValueError(f"nothing committed at {path!r}")
    head = cur[0]
    if to_version is None:
        to_version = head
    if not (0 <= from_version <= to_version <= head):
        raise ValueError(
            f"need 0 <= from_version <= to_version <= head "
            f"({from_version}, {to_version}, head {head})")
    try:
        man_to = _load_manifest(path, to_version, spark=spark)
        man_from = _load_manifest(path, from_version, spark=spark) \
            if from_version > 0 else None
    except FileNotFoundError as e:
        raise ValueError(
            f"version no longer retained (vacuumed?): {e}") from e
    keys = list(man_to["key_cols"])

    fb = man_from["buckets"] if man_from is not None else {}
    tb = man_to["buckets"]
    if man_from is not None and \
            int(man_from["n_buckets"]) != int(man_to["n_buckets"]):
        changed = set(fb) | set(tb)  # rebucketed: ids incomparable
    else:
        changed = {b for b in set(fb) | set(tb)
                   if fb.get(b) != tb.get(b)}
    f_ids = sorted(int(b) for b in changed if b in fb)
    t_ids = sorted(int(b) for b in changed if b in tb)
    df_f = _read_buckets(spark, path, man_from, bucket_ids=f_ids) \
        if man_from is not None and f_ids else None
    df_t = _read_buckets(spark, path, man_to, bucket_ids=t_ids) \
        if t_ids else None

    # align to the union of columns (additive evolution: the older
    # side null-fills), in to-side order with from-only extras last
    def _fields(man):
        return [] if man is None or man.get("schema") is None else \
            T.StructType.fromJson(man["schema"]).fields
    by_name = {f.name: f for f in _fields(man_from) + _fields(man_to)}
    ordered = [f.name for f in _fields(man_to)] + \
        [f.name for f in _fields(man_from)
         if f.name not in {x.name for x in _fields(man_to)}]
    vals = [c for c in ordered if c not in keys]
    if op_col in ordered:
        raise ValueError(
            f"op_col {op_col!r} collides with a stored column — pass "
            "a different op_col=")

    def _aligned(df):
        if df is None:
            return None
        return df.select(*[
            (F.col(c) if c in df.columns
             else F.lit(None).cast(by_name[c].dataType)).alias(c)
            for c in ordered])

    df_f, df_t = _aligned(df_f), _aligned(df_t)
    if df_f is None and df_t is None:
        # no rewritten buckets between the versions: an EMPTY feed
        # under the proper schema (not None — callers chain filters)
        if not by_name:
            return None  # pre-schema legacy store: shape unknown
        return local_df(spark, [], T.StructType(
            [by_name[c] for c in ordered]
            + [T.StructField(op_col, T.StringType(), False)]))
    if df_f is None:
        return df_t.select(*ordered, F.lit("insert").alias(op_col))
    if df_t is None:
        return df_f.select(*ordered, F.lit("delete").alias(op_col))

    f_side = df_f.select(
        *keys, F.lit(True).alias("_f_present"),
        *[F.col(c).alias(f"_f_{c}") for c in vals])
    t_side = df_t.select(
        *keys, F.lit(True).alias("_t_present"), *vals)
    j = f_side.join(t_side, keys, "full_outer")
    f_here = F.coalesce(F.col("_f_present"), F.lit(False))
    t_here = F.coalesce(F.col("_t_present"), F.lit(False))
    same = F.lit(True)
    for c in vals:
        same = same & F.col(f"_f_{c}").eqNullSafe(F.col(c))
    op = (F.when(~f_here, F.lit("insert"))
           .when(~t_here, F.lit("delete"))
           .otherwise(F.lit("update")))
    return (j.filter(~(f_here & t_here & same))
            .select(*keys,
                    *[F.when(~t_here, F.col(f"_f_{c}"))
                       .otherwise(F.col(c)).alias(c) for c in vals],
                    op.alias(op_col)))


def manifest_vacuum(path: str, *, keep: int = 1, spark=None) -> int:
    """Delete manifests outside the committed window and every bucket
    directory no kept manifest references (superseded rewrites AND
    orphans from CRASHED commits — both unreferenced by construction).
    Returns the number of paths deleted.

    Safe to run CONCURRENTLY with readers and with an in-flight
    ``manifest_merge``: only versions ``<= the committed pointer`` are
    ever touched.  A writer mid-commit stages ``data/vN`` and
    ``_mN.json`` with N strictly ABOVE the pointer, which to a naive
    sweep looks exactly like a crash orphan — deleting it would let
    the writer's subsequent pointer publish commit a manifest whose
    files are gone (a corrupted committed store).  Leaving
    above-pointer versions alone costs nothing: a true orphan's
    number is below the pointer as soon as any later commit lands
    (commits never reuse version numbers), so the NEXT vacuum after
    the next commit reclaims it."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    cur = manifest_current(path, spark=spark)
    if cur is None:
        return 0
    committed = cur[0]
    kept = [v for v in (_used_versions(path, spark=spark))
            if committed - keep < v <= committed
            and fsutil.read_text(_join(path, _manifest_name(v)),
                                 spark=spark) is not None]
    referenced = set()
    for v in kept:
        referenced.update(_load_manifest(path, v, spark=spark)
                          ["buckets"].values())
    removed = 0
    for name in fsutil.list_dir(path, spark=spark):
        m = _MANIFEST_RE.match(name)
        if m and int(m.group(1)) not in kept and int(m.group(1)) <= committed:
            fsutil.delete(_join(path, name), spark=spark)
            removed += 1
    data_root = _join(path, "data")
    for vdir in fsutil.list_dir(data_root, spark=spark):
        mv = _DATA_V_RE.match(vdir)
        if not mv or int(mv.group(1)) > committed:
            # above the pointer: either an in-flight commit's staging
            # or a crash orphan that a future commit will supersede —
            # indistinguishable from here, so never deleted
            continue
        children = fsutil.list_dir(_join(data_root, vdir), spark=spark)
        for child in children:
            rel = f"data/{vdir}/{child}"
            if child.startswith(_BKT + "=") and rel not in referenced:
                fsutil.delete(_join(path, rel), spark=spark)
                removed += 1
        if not any(f"data/{vdir}/{c}" in referenced
                   for c in fsutil.list_dir(_join(data_root, vdir),
                                            spark=spark)):
            # version dir now holds no referenced buckets (only
            # _SUCCESS / empty) — drop the husk
            fsutil.delete(_join(data_root, vdir), spark=spark)
    return removed
