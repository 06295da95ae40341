"""Partition-pruned manifest store — value-based partitioning ON TOP
of :mod:`wrangle_pypes_spark.sources.manifest`'s hash-bucketed
file-level-delta store.

The manifest store's buckets are ``hash(key) % n`` — perfect for keyed
MERGE cost (O(touched buckets) per batch) and point lookups, but hash
scrambles every value axis, so a range predicate (``WHERE day BETWEEN
…``) must still read every bucket.  Table formats solve this with
value partitioning: data is laid out by a low-cardinality derived
column (day, month, source) and the reader prunes whole partitions
from the transaction log before touching a file.  This module adds
that layer as pure composition:

```
store/
  p=2024-01/      <- a complete, independent manifest store
  p=2024-02/         (its own _ptr.json / manifests / data/)
  ...
```

Each partition directory is an unmodified ``manifest`` store, so every
property already proven for it — atomic pointer commit, MVCC reads,
O(touched-bucket) merges, vacuum, schema evolution — holds per
partition, and nothing in ``manifest.py`` changes.

**Commit semantics (root pointer, r9).**  A batch touching P
partitions performs P sub-store commits, then publishes ONE root
manifest (``_rNNNNNN.json`` + atomic ``_rptr.json`` pointer — the
flat store's pointer machinery, one level up) recording every
partition's sub-store version.  READERS resolve partitions through
the committed root, so the whole batch becomes visible atomically:
a crash after some sub-commits but before the root publish leaves
those sub versions as invisible staging — a reader between crash
and replay sees the OLD consistent view of EVERY partition (Delta's
single-log batch atomicity, recovered by composition).  Replay then
converges: each sub-store's pointer carries the epoch, so
already-committed partitions skip (``epoch_id >= 0`` engages the
guard), the rest apply, and the root publish at the end makes the
batch visible.  Stores created before the root layer read through
each sub-store's own head (legacy fallback) until their next merge
publishes a root covering all partitions.

**Partition column contract.**  ``partition_col`` must be (a)
NON-NULL, (b) low-cardinality (dirs and driver loops are O(distinct
values) — size it like a date grain, not like a key), and (c)
FUNCTIONALLY DEPENDENT on the key columns — i.e. a key's partition
value never changes across updates (creation date, source id).  An
update that moved a key across partitions would upsert the new
partition and leave the stale image in the old one; nothing can
detect that without a global key index, so it is a contract, loudly
documented, exactly as table formats document it.

Reference analog: none — the reference (pipeline.py:33) hands
persistence to the caller; this is the partition-pruning read path a
100 TB store needs so a day-range query reads days, not the table.
"""

from __future__ import annotations

import datetime as _dt
import json as _json
import re as _re
import urllib.parse
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..localdf import local_df
from . import manifest as _m

_P = "p"  # partition dir prefix, e.g. p=2024-01
_META = "_pstore.json"  # parent-level sidecar: the partition column


def _encode_pval(v) -> str:
    """Partition value -> directory token.  ISO dates/timestamps and
    zero-padding-free ints are kept readable; strings are URL-quoted
    so separators and '=' can never break the layout."""
    if isinstance(v, bool) or v is None:
        raise TypeError(f"unsupported partition value {v!r} "
                        "(partition_col is non-null by contract; "
                        "bool is not a partition type)")
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return urllib.parse.quote(v, safe="")
    raise TypeError(f"unsupported partition value type "
                    f"{type(v).__name__} (int, str, date, datetime)")


def _decode_like(token: str, probe):
    """Decode a directory token using the PROBE's type so range
    comparisons are typed (int '9' < int '10', not string).  Returns
    None when the token does not parse as the probe's type — the
    caller must treat that as 'cannot prune' and keep the
    partition."""
    try:
        if isinstance(probe, _dt.datetime):
            return _dt.datetime.fromisoformat(token)
        if isinstance(probe, _dt.date):
            return _dt.date.fromisoformat(token)
        if isinstance(probe, int) and not isinstance(probe, bool):
            return int(token)
        if isinstance(probe, str):
            return urllib.parse.unquote(token)
    except ValueError:
        return None
    return None


def _sub(path: str, token: str) -> str:
    return path.rstrip("/") + f"/{_P}={token}"


def _recorded_pcol(path: str, spark=None) -> Optional[str]:
    txt = fsutil.read_text(path.rstrip("/") + "/" + _META, spark=spark)
    if txt is None:
        return None
    return _json.loads(txt)["partition_col"]


def _list_tokens(path: str, spark=None) -> list[str]:
    if not fsutil.dir_exists(path, spark=spark):
        return []
    out = []
    for name in fsutil.list_dir(path, spark=spark):
        if name.startswith(_P + "="):
            out.append(name.split("=", 1)[1])
    return sorted(out)


def select_partitions(tokens: Sequence[str], *, partitions=None,
                      lo=None, hi=None) -> list[str]:
    """The prune decision, factored out so tests can pin it: which of
    ``tokens`` survive an explicit value list and/or an inclusive
    [lo, hi] range on the partition value.  A token that fails to
    decode under the probes' type is KEPT (pruning must never drop
    data it cannot reason about)."""
    keep = list(tokens)
    if partitions is not None:
        wanted = {_encode_pval(p) for p in partitions}
        keep = [t for t in keep if t in wanted]
    probe = lo if lo is not None else hi
    if lo is not None and hi is not None and type(lo) is not type(hi):
        # mixed-type bounds would otherwise decode under lo's type and
        # raise TypeError mid-comparison on `v > hi` — a caller bug,
        # surfaced up front instead of from inside the loop
        raise TypeError(
            f"select_partitions: lo and hi must be the same type, got "
            f"lo={type(lo).__name__} hi={type(hi).__name__}")
    if probe is not None:
        kept = []
        for t in keep:
            v = _decode_like(t, probe)
            if v is None:
                kept.append(t)  # unprunable -> safe side
                continue
            if lo is not None and v < lo:
                continue
            if hi is not None and v > hi:
                continue
            kept.append(t)
        keep = kept
    return keep


def _version_asof_epoch(sub_path: str, epoch: int,
                        spark=None, *,
                        cap: Optional[int] = None) -> Optional[int]:
    """Largest committed version of one sub-store whose epoch <= the
    requested epoch; None when the sub-store PROVABLY did not exist
    yet at that epoch.  "Provably" is load-bearing: when every
    retained version's epoch exceeds the request, "the partition
    didn't exist" and "its pre-epoch versions were vacuumed" are
    different answers — the first is None, the second RAISES, and
    they are told apart by whether version 1's manifest is still
    retained (commit numbers are never reused).  Without the check,
    an as-of read would silently drop a partition that existed, and
    a change feed would fabricate inserts.  Driver cost: one tiny
    JSON per retained version, bounded by the vacuum keep-window
    (same bound as manifest_history).

    ``cap`` (the root-referenced version, when the store has a root
    pointer) bounds the candidates BELOW the sub head: sub commits a
    crashed batch staged but never root-published are not part of
    any consistent view, so the as-of read must not see them."""
    cur = _m.manifest_current(sub_path, spark=spark)
    if cur is None:
        return None
    head = cur[0] if cap is None else min(cur[0], cap)
    best = None
    min_retained = None
    for v in _m._used_versions(sub_path, spark=spark):
        if v > head:
            continue  # crash orphan / unpublished staging, not a commit
        try:
            man = _m._load_manifest(sub_path, v, spark=spark)
        except FileNotFoundError:
            continue  # vacuumed
        if min_retained is None or v < min_retained:
            min_retained = v
        if int(man["epoch"]) <= epoch and (best is None or v > best):
            best = v
    if best is None and min_retained != 1:
        raise ValueError(
            f"{sub_path!r}: epoch {epoch} predates the retained "
            "version window (earlier versions were vacuumed or "
            "orphaned) — the as-of state is unknowable. Keep a "
            "larger pmanifest_vacuum window or use a retained epoch.")
    return best


# ------------------------------------------------------- root pointer
#
# One committed mapping {partition token -> sub-store version} for the
# whole store, published by the same write-manifest-then-rename-pointer
# discipline as the flat store: sub-store commits above the referenced
# version are invisible staging until a root publish names them.

_RPTR = "_rptr.json"
_ROOT_RE = _re.compile(r"^_r(\d{6})\.json$")


def _root_name(version: int) -> str:
    return f"_r{version:06d}.json"


def root_current(path: str, spark=None) -> Optional[tuple]:
    """(version, epoch) of the committed ROOT manifest; None for a
    store with no root (pre-r9 layout, or nothing ever committed) —
    readers then fall back to each sub-store's own head."""
    txt = fsutil.read_text(path.rstrip("/") + "/" + _RPTR, spark=spark)
    if txt is None:
        return None
    try:
        doc = _json.loads(txt)
        return int(doc["version"]), int(doc["epoch"])
    except (ValueError, KeyError, TypeError):
        return None


def _load_root(path: str, version: int, spark=None) -> dict:
    txt = fsutil.read_text(
        path.rstrip("/") + "/" + _root_name(version), spark=spark)
    if txt is None:
        raise FileNotFoundError(
            f"partitioned store {path!r}: root pointer names version "
            f"{version} but {_root_name(version)} is missing — "
            "vacuumed with keep too small or tampered with")
    return _json.loads(txt)


def _root_used(path: str, spark=None) -> list[int]:
    out = []
    for name in fsutil.list_dir(path, spark=spark):
        m = _ROOT_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _publish_root(path: str, parts: dict, epoch_id: int,
                  expected: Optional[int], spark=None) -> int:
    """Write the next root manifest, then swing the pointer — with the
    flat store's optimistic re-check (a racing writer aborts loudly
    instead of silently erasing this batch's sub-commits from the
    published view)."""
    used = _root_used(path, spark=spark)
    version = (used[-1] + 1) if used else 1
    fsutil.ensure_dir(path, spark=spark)
    fsutil.write_text_atomic(
        path.rstrip("/") + "/" + _root_name(version),
        _json.dumps({"version": version, "epoch": int(epoch_id),
                     "parts": dict(sorted(parts.items()))}),
        spark=spark)
    now = root_current(path, spark=spark)
    if (now[0] if now is not None else None) != expected:
        raise RuntimeError(
            f"partitioned store {path!r}: root pointer moved from "
            f"{expected} to {now} during this merge — another writer "
            "violated the single-writer contract; this batch's root "
            f"manifest {_root_name(version)} is an orphan")
    fsutil.write_text_atomic(
        path.rstrip("/") + "/" + _RPTR,
        _json.dumps({"version": version, "epoch": int(epoch_id)}),
        spark=spark)
    return version


def _root_parts(path: str, spark=None) -> Optional[dict]:
    """The committed {token: sub version} mapping, None when the store
    has no root pointer (legacy fallback: read sub heads)."""
    root = root_current(path, spark=spark)
    if root is None:
        return None
    return _load_root(path, root[0], spark=spark)["parts"]


def _publish_root_from_heads(path: str, epoch_id: int, spark=None,
                             *, force: bool = False,
                             committed_tokens: Optional[Sequence[str]]
                             = None) -> Optional[int]:
    """Publish the next root; the shared tail of every writer.  Skips
    the write when an identical mapping is already committed (no-op
    replay) unless ``force``.

    ``committed_tokens`` scopes the advance (ADVICE r10): when given
    AND a prior root exists, the new root is the PRIOR ROOT's parts
    overridden by the current sub heads of exactly those tokens — so
    a different batch's crashed, never-replayed sub-commits stay
    staged (invisible) instead of being swept into visibility by the
    next unrelated merge's publish.  With no prior root (first
    publish / pre-root-layout upgrade) or ``committed_tokens=None``
    (explicit full-store publishes), every partition's current head
    is named — everything at head predates root accounting and was
    legitimately committed."""
    root = root_current(path, spark=spark)
    if committed_tokens is not None and root is not None:
        parts = dict(_load_root(path, root[0], spark=spark)["parts"])
        for t in committed_tokens:
            cur = _m.manifest_current(_sub(path, t), spark=spark)
            if cur is not None:
                parts[t] = cur[0]
    else:
        parts = {}
        for t in _list_tokens(path, spark=spark):
            cur = _m.manifest_current(_sub(path, t), spark=spark)
            if cur is not None:
                parts[t] = cur[0]
    if not parts:
        return None
    if root is not None and not force:
        if _load_root(path, root[0], spark=spark)["parts"] == parts:
            return None  # replay with nothing new: keep the root
    return _publish_root(path, parts, epoch_id,
                         expected=root[0] if root else None,
                         spark=spark)


def pmanifest_history(spark: SparkSession, path: str
                      ) -> Optional[DataFrame]:
    """Time-travel discovery for the partitioned store: one row per
    RETAINED root manifest — ``(version, epoch, n_partitions,
    is_head)`` — exactly the cross-partition snapshots
    ``pmanifest_read(root_version=)`` can still serve.  ``None`` for
    a store with no root (pre-root layout: use per-sub
    ``manifest_history``).  Driver cost: one tiny JSON per retained
    root, bounded by the vacuum keep-window."""
    root = root_current(path, spark=spark)
    if root is None:
        return None
    rows = []
    for v in _root_used(path, spark=spark):
        if v > root[0]:
            continue  # staged/orphaned above the pointer
        try:
            doc = _load_root(path, v, spark=spark)
        except FileNotFoundError:
            continue  # vacuumed
        rows.append((v, int(doc["epoch"]), len(doc["parts"]),
                     v == root[0]))
    return local_df(
        spark, rows, "version int, epoch int, n_partitions int, "
                     "is_head boolean")


def pmanifest_merge(updates: DataFrame, path: str, partition_col: str,
                    key_cols: Sequence[str], *, epoch_id: int = -1,
                    mode: str = "upsert", n_buckets: int = 16,
                    value_cols: Sequence[str] = (),
                    tombstone_col: Optional[str] = None,
                    merge_fn=None,
                    evolve_schema: bool = False,
                    guard_epochs: bool = True,
                    max_concurrency: int = 4,
                    on_staged: str = "error",
                    compression: str = "zstd") -> dict:
    """MERGE ``updates`` into the partitioned store: split by
    ``partition_col``, then one ``manifest_merge`` per touched
    partition into its sub-store.  Returns {token: committed version}
    for the partitions this call actually committed (guard-skipped
    partitions are absent).

    With ``epoch_id >= 0`` the per-partition epoch guard makes replay
    exactly-once per partition (see module docstring for the
    mid-batch-crash convergence argument); ``epoch_id=-1`` (ad-hoc
    merges) never skips.  ``guard_epochs=False`` records the epoch in
    each commit but never skips — for maintainers whose merge is
    already idempotent (CDC max_by), where skipping on a REUSED batch
    id (resume without checkpoint) would lose data the idempotent
    merge would have applied correctly.

    Batch atomicity (r9): the P sub-commits are STAGING until the
    single root-pointer publish at the end of this call — a reader
    resolves partitions through the committed root, so it sees
    either the whole batch or none of it (module docstring).  A
    partial failure (exception or crash mid-call) therefore never
    exposes a torn view; it leaves sub-commits invisible.  Retrying
    the same call converges for upsert/max_by modes (idempotent) and
    for any mode under ``epoch_id >= 0`` (the guard skips the
    committed partitions; the retry's root publish makes the batch
    visible) — but an AD-HOC additive merge (``epoch_id=-1``)
    retried after a partial failure double-sums the partitions that
    had committed first.  Give additive merges an epoch.

    The root publish advances ONLY this call's partitions — committed
    here, or guard-skipped because THIS epoch's crashed first attempt
    already committed them (``cur epoch == epoch_id``; a partition
    whose sub epoch is NEWER than this batch is skipped WITHOUT
    advancing its root entry, since that newer head may itself be an
    unreplayed crashed batch's staging) — so a different batch's
    crashed, never-replayed staging stays invisible.

    ``on_staged`` closes the r10 residual: a merge into a partition
    whose sub HEAD is staged (above what the committed root names —
    an unreplayed crashed batch) would otherwise build on, and then
    publish, the orphan's rows.  ``"error"`` (default) refuses
    loudly — replay the crashed batch (the normal streaming
    recovery) or choose a heal; ``"rollback"`` discards the staging
    (``manifest_rollback`` to the root-named version — a never-
    root-committed partition's sub-store is deleted whole) and
    merges on the committed state; ``"adopt"`` keeps the pre-r11
    behavior (build on the staged head, publishing its rows) with a
    warning.  The check never fires on THIS batch's own staging
    (epoch match — that replay is the documented convergence), and
    an ad-hoc merge (``epoch_id=-1``) onto ad-hoc staging warns and
    adopts: a retried partial ad-hoc merge is indistinguishable from
    an abandoned one, and retry-converges for the idempotent modes.

    ``updates`` is evaluated once for partition discovery plus twice
    per touched partition (manifest_merge's documented double-eval) —
    foreachBatch hands over materialized micro-batches so this is
    cheap there; ad-hoc callers with expensive plans should
    ``localCheckpoint(eager=True)`` first.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates lack partition column "
                         f"{partition_col!r}")
    if partition_col in key_cols:
        raise ValueError(
            f"partition_col {partition_col!r} must not repeat a key "
            "column: the sub-store is already scoped to one partition "
            "value, key it by the remaining identity")
    prior = _recorded_pcol(path, spark=updates.sparkSession)
    if prior is not None and prior != partition_col:
        raise ValueError(
            f"store {path!r} is partitioned by {prior!r}, got "
            f"{partition_col!r} — the partition column is immutable "
            "for the store's lifetime")
    pvals = [r[0] for r in
             updates.select(partition_col).distinct().collect()]
    if any(p is None for p in pvals):
        raise ValueError(
            f"updates carry NULL in partition column "
            f"{partition_col!r} — partition values are non-null by "
            "contract (a null row could never be read back by any "
            "partition predicate)")

    if on_staged not in ("error", "rollback", "adopt"):
        raise ValueError(f"on_staged must be 'error', 'rollback' or "
                         f"'adopt', got {on_staged!r}")
    rparts = _root_parts(path, spark=updates.sparkSession)

    def _one(pval):
        import warnings

        token = _encode_pval(pval)
        sub_path = _sub(path, token)
        cur = _m.manifest_current(sub_path, spark=updates.sparkSession)
        if guard_epochs and epoch_id >= 0 and cur is not None:
            if cur[1] == epoch_id:
                # replay: this partition already holds THIS batch — no
                # new commit, but its head legitimately belongs in the
                # root (the crashed first attempt committed it)
                return token, None, True
            if cur[1] > epoch_id:
                # an older batch replayed against a partition a NEWER
                # batch already advanced: nothing to apply, and the
                # head must NOT enter the root through this call — it
                # may be that newer batch's unreplayed crashed staging
                # (ADVICE r10)
                return token, None, False
        base_v = rparts.get(token) if rparts is not None else None
        staged = (cur is not None and rparts is not None
                  and cur[0] != base_v)
        if staged and cur[1] == epoch_id:
            # this merge's OWN prior attempt (guard_epochs=False
            # idempotent replay, or an ad-hoc retry): building on
            # one's own staging is the documented convergence
            if epoch_id < 0:
                warnings.warn(
                    f"pmanifest_merge: partition {token!r} has ad-hoc "
                    f"staged sub-commits (head v{cur[0]} vs root "
                    f"{base_v}) — assuming this call retries the "
                    "crashed merge and building on them (ad-hoc "
                    "stagings carry no epoch to tell retries from "
                    "abandonment)", stacklevel=3)
        elif staged:
            if on_staged == "error":
                raise RuntimeError(
                    f"pmanifest_merge: partition {token!r} has staged "
                    f"sub-commits above the committed root (head "
                    f"v{cur[0]} epoch {cur[1]} vs root "
                    f"{base_v}) — a crashed batch that was never "
                    "replayed. Merging would build on (and publish) "
                    "its orphaned rows. Replay the crashed batch, or "
                    "pass on_staged='rollback' to discard the staging "
                    "/ 'adopt' to publish it.")
            if on_staged == "rollback":
                if base_v is None:
                    # the whole sub-store is the crashed batch's
                    # staging (a partition the root never named):
                    # discard it and merge fresh
                    fsutil.delete(sub_path,
                                  spark=updates.sparkSession)
                else:
                    _m.manifest_rollback(sub_path, base_v,
                                         spark=updates.sparkSession)
                warnings.warn(
                    f"pmanifest_merge: rolled partition {token!r} "
                    f"back from staged head v{cur[0]} (epoch "
                    f"{cur[1]}) to root-committed {base_v} — the "
                    "crashed batch's rows are discarded",
                    stacklevel=3)
            else:  # adopt
                warnings.warn(
                    f"pmanifest_merge: partition {token!r} builds on "
                    f"staged head v{cur[0]} (epoch {cur[1]}) above "
                    f"root {base_v} — the crashed batch's rows "
                    "become visible with this commit (on_staged="
                    "'adopt')", stacklevel=3)
        part = updates.filter(F.col(partition_col) == F.lit(pval))
        return token, _m.manifest_merge(
            part, sub_path, key_cols, epoch_id=epoch_id, mode=mode,
            n_buckets=n_buckets, value_cols=value_cols,
            tombstone_col=tombstone_col, merge_fn=merge_fn,
            evolve_schema=evolve_schema, compression=compression), True

    ordered = sorted(pvals, key=_encode_pval)
    # sub-stores are DISJOINT directories, so their commits are
    # independent: run them concurrently (Spark schedules jobs from
    # multiple driver threads natively) — per-batch wall time stops
    # being serial in the partition count.  Single-writer-per-
    # SUB-store still holds: one thread per partition value.
    if max_concurrency > 1 and len(ordered) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(max_concurrency, len(ordered))) as ex:
            results = list(ex.map(_one, ordered))
    else:
        results = [_one(p) for p in ordered]
    if prior is None and ordered:
        # first commit: pin the partition column (a crash between a
        # sub-commit and this write merely re-pins at the next merge)
        fsutil.ensure_dir(path, spark=updates.sparkSession)
        fsutil.write_text_atomic(
            path.rstrip("/") + "/" + _META,
            _json.dumps({"partition_col": partition_col}),
            spark=updates.sparkSession)
    # the batch's ONE commit point: publish the root advancing exactly
    # THIS batch's partitions — committed here, or guard-skipped
    # because THIS epoch's crashed first attempt already committed
    # them (so a replay still heals the missing root).  Partitions
    # staged by a DIFFERENT unreplayed crashed batch stay invisible
    # (ADVICE r10), including when an OLDER epoch replays against a
    # newer sub head (the include flag excludes those).
    _publish_root_from_heads(
        path, epoch_id, spark=updates.sparkSession,
        committed_tokens=[t for t, _, inc in results if inc])
    return {t: v for t, v, _ in results if v is not None}


def pmanifest_read(spark: SparkSession, path: str, *,
                   partitions: Optional[Sequence] = None,
                   lo=None, hi=None,
                   epoch: Optional[int] = None,
                   root_version: Optional[int] = None
                   ) -> Optional[DataFrame]:
    """The committed store content, PRUNED to the partitions selected
    by ``partitions`` (explicit values) and/or the inclusive
    ``[lo, hi]`` range on the partition value — unselected partition
    directories are never listed, opened, or planned, which is the
    entire point: a day-range read of a year-partitioned 100 TB store
    plans ~days' worth of files.

    ``epoch=`` time-travels the WHOLE store to 'as of epoch E': each
    surviving sub-store is read at its largest version whose epoch
    <= E (partitions first committed after E read as absent) — a
    consistent cross-partition snapshot as long as epochs are
    monotonic across batches, which the foreachBatch contract
    provides.  Returns None when nothing selected was ever committed.
    Per-partition schema drift under ``evolve_schema`` is tolerated:
    sub-frames union by name with null-fill.

    Consistency: partitions resolve through the committed ROOT
    pointer (module docstring) — sub-store commits a crashed batch
    staged but never published are invisible, for plain reads and
    ``epoch=`` reads alike.  Stores without a root (pre-r9) read
    each sub-store's own head.

    ``root_version=`` time-travels the WHOLE store to an earlier
    retained root commit (``pmanifest_history`` lists them) — the
    VERSION-AS-OF twin of ``epoch=``, reading every partition at
    exactly the sub version that root named (partitions absent from
    it read as absent).  Mutually exclusive with ``epoch``."""
    if root_version is not None and epoch is not None:
        raise ValueError("pass either root_version= or epoch=, "
                         "not both")
    tokens = select_partitions(_list_tokens(path, spark=spark),
                               partitions=partitions, lo=lo, hi=hi)
    if root_version is not None:
        root = root_current(path, spark=spark)
        if root is None:
            raise ValueError(
                f"store {path!r} has no root pointer — "
                "root_version time travel needs the r9 layout")
        if root_version > root[0]:
            raise ValueError(
                f"root version {root_version} was never committed "
                f"(head is {root[0]}) — newer on-disk roots are "
                "crash orphans")
        try:
            parts = _load_root(path, root_version,
                               spark=spark)["parts"]
        except FileNotFoundError:
            raise ValueError(
                f"root version {root_version} is outside the "
                "retained window (vacuumed) — keep a larger "
                "pmanifest_vacuum window or use a retained version")
    else:
        parts = _root_parts(path, spark=spark)
    if parts is not None:
        tokens = [t for t in tokens if t in parts]
    frames = []
    for t in tokens:
        sub_path = _sub(path, t)
        if epoch is not None:
            v = _version_asof_epoch(sub_path, epoch, spark=spark,
                                    cap=None if parts is None
                                    else parts[t])
            if v is None:
                continue
            df = _m.manifest_read(spark, sub_path, version=v)
        else:
            df = _m.manifest_read(
                spark, sub_path,
                version=None if parts is None else parts[t])
        if df is not None:
            frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def pmanifest_partitions(spark: SparkSession, path: str
                         ) -> Optional[DataFrame]:
    """One row per partition — ``(partition, version, epoch)`` of its
    committed head — the discovery surface for operational checks
    (which days exist, how far each has ingested).  None when the
    store has no committed partition.  Root-consistent: versions and
    epochs are the ROOT-referenced ones, so a crash-staged partition
    does not appear until its batch's root publishes."""
    parts = _root_parts(path, spark=spark)
    rows = []
    for t in _list_tokens(path, spark=spark):
        sub = _sub(path, t)
        if parts is not None:
            if t not in parts:
                continue
            v = parts[t]
            man = _m._load_manifest(sub, v, spark=spark)
            rows.append((urllib.parse.unquote(t), v,
                         int(man["epoch"])))
            continue
        cur = _m.manifest_current(sub, spark=spark)
        if cur is not None:
            rows.append((urllib.parse.unquote(t), cur[0], cur[1]))
    if not rows:
        return None
    return local_df(
        spark, rows, "partition string, version int, epoch int")


def pmanifest_staged(spark: SparkSession, path: str
                     ) -> Optional[DataFrame]:
    """One row per partition whose sub-store HEAD is staged — above
    (or absent from) the committed root: ``(partition, head_version,
    head_epoch, root_version)`` with ``root_version`` null for a
    partition the root never named.  This is the ops view behind the
    r11 staged-head guard: ``pmanifest_merge`` refuses these
    partitions and ``pmanifest_rebucket`` skips them, so an operator
    reads this table to decide per batch — replay the crashed batch
    (the normal streaming recovery) or :func:`pmanifest_heal_staged`.
    Empty frame = clean store.  None for a store with no root (the
    pre-root layout has no staging notion — sub heads ARE the truth).
    Driver cost: one JSON read per partition directory."""
    parts = _root_parts(path, spark=spark)
    if parts is None:
        return None
    rows = []
    for t in _list_tokens(path, spark=spark):
        cur = _m.manifest_current(_sub(path, t), spark=spark)
        if cur is None:
            continue
        base = parts.get(t)
        if base is None or cur[0] != base:
            rows.append((urllib.parse.unquote(t), cur[0], cur[1],
                         base))
    return local_df(
        spark, rows,
        "partition string, head_version int, head_epoch int, "
        "root_version int")


def pmanifest_heal_staged(path: str, *, mode: str = "rollback",
                          spark=None) -> dict:
    """Bulk-heal every staged partition (see :func:`pmanifest_staged`)
    so merges into them stop refusing.  ``mode='rollback'`` discards
    each staging — ``manifest_rollback`` to the root-named version,
    whole-sub-store delete for a partition the root never named —
    which is the right call for an ABANDONED batch that will never be
    replayed (its data is gone from this store; re-ingest it if it
    mattered).  ``mode='adopt'`` instead publishes a new root naming
    the staged heads — making the crashed batch's rows visible,
    correct only when the data is known-good and exactly-once is
    satisfied some other way.  Returns {partition token: healed head
    version} (after rollback, the version the partition now serves;
    after adopt, the staged version now published).  Replaying the
    crashed batch remains the preferred recovery; this is the
    explicit operator decision for when replay is impossible."""
    if mode not in ("rollback", "adopt"):
        raise ValueError(f"mode must be 'rollback' or 'adopt', "
                         f"got {mode!r}")
    parts = _root_parts(path, spark=spark)
    if parts is None:
        raise ValueError(
            f"store {path!r} has no root pointer — the pre-root "
            "layout has no staging to heal")
    healed = {}
    for t in _list_tokens(path, spark=spark):
        sub = _sub(path, t)
        cur = _m.manifest_current(sub, spark=spark)
        if cur is None:
            continue
        base = parts.get(t)
        if base is not None and cur[0] == base:
            continue  # clean
        if mode == "adopt":
            healed[t] = cur[0]
            continue
        if base is None:
            fsutil.delete(sub, spark=spark)
            healed[t] = 0  # partition gone entirely
        else:
            _m.manifest_rollback(sub, base, spark=spark)
            healed[t] = base
    if mode == "adopt" and healed:
        root = root_current(path, spark=spark)
        _publish_root_from_heads(path,
                                 root[1] if root is not None else -1,
                                 spark=spark,
                                 committed_tokens=list(healed))
    return healed


def pmanifest_lookup(spark: SparkSession, path: str, keys: DataFrame,
                     *, partitions: Optional[Sequence] = None,
                     lo=None, hi=None,
                     root_version: Optional[int] = None
                     ) -> Optional[DataFrame]:
    """Serving-side keyed GET with DOUBLE pruning: partition dirs are
    pruned first (explicit list / typed range / — when ``keys``
    carries the store's partition column — the probes' own partition
    values), then each surviving sub-store scans only the buckets its
    probes hash into (``manifest_lookup``).  A k-key probe against a
    year-partitioned 100 TB store therefore opens ~|probed
    partitions| × min(k, n_buckets) bucket dirs, not the table.

    When ``keys`` includes the partition column (recorded at the
    store's first commit), each sub-store receives ONLY its own
    partition's keys — the precise path; null partition values in the
    probes match nothing (store partition values are non-null by
    contract).  Without it, every surviving partition is probed with
    the full key set — correct, since a key's partition value is
    functionally dependent on the key, so it matches in at most one.
    Returns None when no selected partition was ever committed.
    Root-consistent like ``pmanifest_read``: probes resolve each
    partition at its root-referenced version, and ``root_version=``
    serves the GET against an earlier retained root snapshot."""
    tokens = select_partitions(_list_tokens(path, spark=spark),
                               partitions=partitions, lo=lo, hi=hi)
    if root_version is not None:
        root = root_current(path, spark=spark)
        if root is None:
            raise ValueError(
                f"store {path!r} has no root pointer — "
                "root_version lookup needs the r9 layout")
        if root_version > root[0]:
            raise ValueError(
                f"root version {root_version} was never committed "
                f"(head is {root[0]})")
        try:
            parts = _load_root(path, root_version,
                               spark=spark)["parts"]
        except FileNotFoundError:
            raise ValueError(
                f"root version {root_version} is outside the "
                "retained window (vacuumed)")
    else:
        parts = _root_parts(path, spark=spark)
    if parts is not None:
        tokens = [t for t in tokens if t in parts]
    pcol = _recorded_pcol(path, spark=spark)
    frames = []
    if pcol is not None and pcol in keys.columns:
        pvals = _m._driver_rows(keys.select(pcol))
        if pvals is None:
            pvals = keys.select(pcol).distinct().collect()
        for (pval,) in set(pvals):
            if pval is None:
                continue
            token = _encode_pval(pval)
            if token not in tokens:
                continue
            sub_keys = keys.filter(F.col(pcol) == F.lit(pval))
            df = _m.manifest_lookup(
                spark, _sub(path, token), sub_keys,
                version=None if parts is None else parts[token])
            if df is not None:
                frames.append(df)
    else:
        for t in tokens:
            df = _m.manifest_lookup(
                spark, _sub(path, t), keys,
                version=None if parts is None else parts[t])
            if df is not None:
                frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def pmanifest_vacuum(path: str, *, keep: int = 1, spark=None) -> int:
    """Vacuum every sub-store (each with manifest_vacuum's
    pointer-bounded safety) plus the root manifests outside the keep
    window; returns the total number of paths deleted.

    Root-aware: each sub-store's keep window WIDENS to cover every
    version a retained root still references — a partition untouched
    for many root commits keeps its old (still-referenced) version
    even when a plain ``keep`` window would have dropped it, and the
    reader guarantee (any retained root resolves fully) survives the
    vacuum.  Only root versions ``<= the committed root pointer`` are
    touched (in-flight root publishes look like staging, exactly as
    in the flat store)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    n = 0
    root = root_current(path, spark=spark)
    min_ref: dict = {}
    if root is not None:
        committed = root[0]
        kept_roots = []
        for v in _root_used(path, spark=spark):
            if not committed - keep < v <= committed:
                continue
            try:
                doc = _load_root(path, v, spark=spark)
            except FileNotFoundError:
                continue
            kept_roots.append(v)
            for t, sv in doc["parts"].items():
                min_ref[t] = min(min_ref.get(t, sv), sv)
        for name in fsutil.list_dir(path, spark=spark):
            m = _ROOT_RE.match(name)
            if m and int(m.group(1)) not in kept_roots \
                    and int(m.group(1)) <= committed:
                fsutil.delete(path.rstrip("/") + "/" + name,
                              spark=spark)
                n += 1
    for t in _list_tokens(path, spark=spark):
        sub = _sub(path, t)
        k = keep
        if t in min_ref:
            cur = _m.manifest_current(sub, spark=spark)
            if cur is not None:
                k = max(keep, cur[0] - min_ref[t] + 1)
        n += _m.manifest_vacuum(sub, keep=k, spark=spark)
    return n


def pmanifest_stats(spark: SparkSession, path: str
                    ) -> Optional[DataFrame]:
    """Per-(partition, bucket) health report — ``manifest_stats`` of
    every committed sub-store with a leading ``partition`` column.
    Read partition skew off the per-partition row totals (a hot day
    means the GRAIN is too coarse — repartition the layout) and
    bucket skew within a partition exactly as for a flat store.
    None when nothing was ever committed."""
    frames = []
    for t in _list_tokens(path, spark=spark):
        st = _m.manifest_stats(spark, _sub(path, t))
        if st is not None:
            frames.append(st.select(
                F.lit(urllib.parse.unquote(t)).alias("partition"), "*"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def pmanifest_rebucket(spark: SparkSession, path: str,
                       n_buckets: int, *,
                       partitions: Optional[Sequence] = None,
                       compression: str = "zstd") -> dict:
    """Re-hash sub-stores into a different bucket count —
    ``manifest_rebucket`` per partition, optionally restricted to an
    explicit partition list (rebucket only the days that outgrew
    their layout; each sub-store's bucket count is independent, so a
    partial rollout is safe).  Out-of-band like any compaction;
    returns {partition token: committed version}."""
    tokens = select_partitions(_list_tokens(path, spark=spark),
                               partitions=partitions)
    parts = _root_parts(path, spark=spark)
    if parts is not None:
        # only COMMITTED partitions rebucket: a staged sub-store from
        # an unreplayed crashed batch must stay invisible, not get
        # rewritten and published here
        tokens = [t for t in tokens if t in parts]
    out = {}
    for t in tokens:
        sub = _sub(path, t)
        cur = _m.manifest_current(sub, spark=spark)
        if cur is None:
            continue
        if parts is not None and cur[0] != parts[t]:
            # manifest_rebucket rewrites from the sub HEAD; a head
            # above the root is a crashed batch's staging — folding
            # it in would publish the unreplayed batch (ADVICE r10)
            import warnings
            warnings.warn(
                f"pmanifest_rebucket: partition {t!r} has staged "
                f"sub-commits above the committed root (head "
                f"v{cur[0]} vs root v{parts[t]}) — skipped; replay "
                "the crashed batch before rebucketing it",
                stacklevel=2)
            continue
        out[t] = _m.manifest_rebucket(spark, sub, n_buckets,
                                      compression=compression)
    if out:
        # layout rewrites change no data but DO move sub heads; the
        # root must name the rebucketed versions or readers would
        # keep resolving the pre-rebucket layout (and a vacuum could
        # then reclaim it from under the root)
        root = root_current(path, spark=spark)
        _publish_root_from_heads(path,
                                 root[1] if root is not None else -1,
                                 spark=spark,
                                 committed_tokens=list(out))
    return out


def pmanifest_changes(spark: SparkSession, path: str, *,
                      from_epoch: int,
                      to_epoch: Optional[int] = None,
                      partitions: Optional[Sequence] = None,
                      lo=None, hi=None,
                      op_col: str = "change_op"
                      ) -> Optional[DataFrame]:
    """Change data feed for the partitioned store, by EPOCH: one row
    per key whose image differs between the store as-of
    ``from_epoch`` and as-of ``to_epoch`` (default: now), labelled
    insert/update/delete — ``manifest_changes`` per sub-store, with
    two prunes on top:

    * partitions outside ``partitions=`` / ``[lo, hi]`` are never
      opened (the same prune as ``pmanifest_read``), so "what changed
      in March since epoch E" costs March only;
    * a surviving partition whose as-of versions coincide (no commit
      landed between the epochs) is skipped without reading a file —
      the per-partition manifests make "nothing changed here" a
      driver-side JSON fact.

    Within each diffed partition the flat store's guarantee holds:
    only buckets rewritten between the two versions are read.  A
    partition first committed after ``from_epoch`` feeds as
    all-inserts.  Epoch semantics match ``pmanifest_read(epoch=)``
    (largest version with epoch <= E), so
    ``pmanifest_read(epoch=A) + feed == pmanifest_read(epoch=B)``
    key-wise — the replay invariant the tests pin.  Returns None when
    nothing selected was ever committed."""
    if to_epoch is not None and from_epoch > to_epoch:
        raise ValueError(
            f"need from_epoch <= to_epoch ({from_epoch}, {to_epoch})")
    tokens = select_partitions(_list_tokens(path, spark=spark),
                               partitions=partitions, lo=lo, hi=hi)
    parts = _root_parts(path, spark=spark)
    if parts is not None:
        tokens = [t for t in tokens if t in parts]
    feeds = []
    for t in tokens:
        sub = _sub(path, t)
        cur = _m.manifest_current(sub, spark=spark)
        if cur is None:
            continue
        cap = None if parts is None else parts[t]
        v_from = _version_asof_epoch(sub, from_epoch, spark=spark,
                                     cap=cap)
        v_to = (cur[0] if cap is None else cap) \
            if to_epoch is None else \
            _version_asof_epoch(sub, to_epoch, spark=spark, cap=cap)
        if v_to is None or (v_from or 0) == v_to:
            continue  # absent at both epochs, or no commits between
        # v_from None is TRUSTWORTHY here: _version_asof_epoch raises
        # when the epoch predates the retained window, so an
        # all-inserts bootstrap only happens with proof (version 1
        # retained) that no pre-epoch commit ever existed
        feed = _m.manifest_changes(spark, sub,
                                   from_version=v_from or 0,
                                   to_version=v_to, op_col=op_col)
        if feed is not None:
            feeds.append(feed)
    if not feeds:
        return None
    out = feeds[0]
    for f in feeds[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def pmanifest_merge_into(source: DataFrame, path: str, *,
                         epoch_id: int = -1,
                         when_matched_update=None,
                         when_matched_delete=None,
                         when_not_matched_insert: bool = True,
                         max_concurrency: int = 4,
                         compression: str = "zstd") -> dict:
    """Conditional MERGE INTO on the partitioned store: split
    ``source`` by the store's partition column, then
    ``manifest_merge_into`` per touched sub-store — each match costs
    one bucket-pruned lookup within its partition, so the whole MERGE
    is O(source + touched buckets) and untouched partitions are never
    opened.  Clause semantics are the flat store's
    (:func:`~wrangle_pypes_spark.sources.manifest.manifest_merge_into`
    — delete-where first, per-column update expressions over the
    source/``_stored_<c>`` pair, optional insert).  Returns
    {partition token: committed version} for partitions that
    committed.

    Same partial-failure honesty as :func:`pmanifest_merge`: P
    independent commits, and the clause model is NOT idempotent in
    general (an update like ``stored+source`` double-applies on
    retry) — retry a partial failure only under ``epoch_id >= 0``
    once maintainers drive this, or make clauses idempotent.
    Contract: every source partition value must already have a
    committed sub-store (MERGE INTO cannot bootstrap — same as the
    flat store); inserts for genuinely NEW partitions go through
    ``pmanifest_merge``."""
    pcol = _recorded_pcol(path, spark=source.sparkSession)
    if pcol is None:
        raise ValueError(
            f"nothing committed at {path!r} — bootstrap with "
            "pmanifest_merge first")
    if pcol not in source.columns:
        raise ValueError(f"source lacks partition column {pcol!r}")
    pvals = [r[0] for r in source.select(pcol).distinct().collect()]
    if any(p is None for p in pvals):
        raise ValueError(f"source carries NULL in {pcol!r}")
    missing = [p for p in pvals
               if _m.manifest_current(_sub(path, _encode_pval(p)),
                                      spark=source.sparkSession)
               is None]
    if missing:
        raise ValueError(
            f"partitions {sorted(map(str, missing))} have no "
            "committed sub-store — MERGE INTO cannot bootstrap; "
            "insert new partitions via pmanifest_merge")

    def _one(pval):
        token = _encode_pval(pval)
        part = source.filter(F.col(pcol) == F.lit(pval))
        return token, _m.manifest_merge_into(
            part, _sub(path, token), epoch_id=epoch_id,
            when_matched_update=when_matched_update,
            when_matched_delete=when_matched_delete,
            when_not_matched_insert=when_not_matched_insert,
            compression=compression)

    ordered = sorted(pvals, key=_encode_pval)
    if max_concurrency > 1 and len(ordered) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(max_concurrency, len(ordered))) as ex:
            results = list(ex.map(_one, ordered))
    else:
        results = [_one(p) for p in ordered]
    # same single commit point as pmanifest_merge: the MERGE's
    # sub-commits become visible together when the root publishes —
    # scoped to the partitions THIS merge touched (ADVICE r10)
    _publish_root_from_heads(path, epoch_id,
                             spark=source.sparkSession,
                             committed_tokens=[t for t, _ in results])
    return dict(results)
