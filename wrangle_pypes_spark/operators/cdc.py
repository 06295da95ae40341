"""Change-data-capture (CDC) application: log compaction + apply.

The reference's ``get_or_create`` protocol (``wrangle_pypes/
pipeline.py:53``) keeps a dimension in sync with one stream of new
entities; a CDC feed (Debezium, a database binlog, an upstream
curation job re-emitting documents) generalizes that to explicit
insert/update/delete images with a sequence order.  These operators
implement the standard two-step semantics engines like Delta's
``APPLY CHANGES INTO`` define:

1. **compact** — keep only the LATEST change image per key (by
   ``seq_col``, with explicit tiebreaks for equal sequence numbers);
2. **apply** — full-outer merge onto the base table: untouched keys
   pass through, a latest-image delete removes the key, any other
   latest image replaces (key present) or inserts (key absent — an
   "update" for an unseen key upserts, the forgiving semantics every
   CDC consumer needs when it may have missed the original insert).

Design for 100 TB: compaction is ONE ``max_by(struct)`` aggregate with
map-side partial reduction (each task keeps one candidate image per
local key BEFORE the shuffle — a day's billion-row binlog reduces in
the map stage), and apply is ONE key-equi full-outer join; nothing
else shuffles.  Both stages key on ``key_cols``, so with a bucketed
base table the join is co-located, and AQE handles a skewed key.
Unknown op codes fail the job (``raise_error``) instead of silently
dropping or upserting rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ("cdc_compact", "cdc_apply", "cdc_vacuum")

_IMG = "_cdc_img"


def _checked_op(op: Column, valid_ops: Sequence[str],
                ctx: str) -> Column:
    """``op`` unchanged when it is one of ``valid_ops``; any other
    value — including NULL — fails the job with ``raise_error``."""
    return F.when(op.isin(*valid_ops), op).otherwise(F.raise_error(
        F.concat(F.lit(f"{ctx}: unknown op code "),
                 F.coalesce(op, F.lit("NULL")))))


def cdc_compact(changes: DataFrame, *, key_cols: Sequence[str],
                seq_col: str, op_col: str = "op",
                payload_cols: Sequence[str],
                tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Latest change image per key: one row per key carrying
    ``(op, *payload_cols)`` of the maximal ``(seq, *tiebreaks)``.

    Equal sequence numbers without tiebreaks make the survivor
    engine-arbitrary — pass ``tiebreak_cols`` when the feed can emit
    same-seq rows (Debezium: use (ts_ms, pos)).  Single ``max_by``
    aggregate, map-side partial, one shuffle on ``key_cols``.
    """
    ordkey = F.struct(F.col(seq_col),
                      *[F.col(c) for c in tiebreak_cols])
    img = F.struct(F.col(op_col).alias("_op"),
                   *[F.col(c).alias(c) for c in payload_cols])
    return (changes.groupBy(*key_cols)
            .agg(F.max_by(img, ordkey).alias(_IMG)))


def cdc_apply(base: DataFrame, changes: DataFrame, *,
              key_cols: Sequence[str], seq_col: str,
              op_col: str = "op", insert_op: str = "I",
              update_op: str = "U", delete_op: str = "D",
              tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Apply a CDC change feed onto ``base`` and return the new table
    (same schema as ``base``).

    Per key, only the LATEST change counts (see :func:`cdc_compact`) —
    an insert superseded by a delete inside one feed never surfaces.
    Latest delete → key absent from the output even if it was in
    ``base``; latest insert/update → the change's payload replaces or
    inserts the row; keys without changes pass through byte-identical.
    A change row whose ``op_col`` is none of the three configured
    codes fails the job with ``raise_error`` — a malformed feed must
    not be half-applied.

    ``changes`` must carry ``key_cols``, ``seq_col``, ``op_col`` and
    every non-key column of ``base``.  Replaying the same feed is
    idempotent (the same latest images produce the same merge).
    """
    keys = list(key_cols)
    payload = [c for c in base.columns if c not in keys]
    missing = [c for c in payload + keys + [seq_col, op_col]
               if c not in changes.columns]
    if missing:
        raise ValueError(f"cdc_apply: changes is missing columns "
                         f"{missing}")
    # validate EVERY feed row before compaction: post-join a NULL op is
    # indistinguishable from "key had no changes", so a malformed row
    # would otherwise be silently dropped instead of failing the job
    checked = changes.withColumn(
        op_col, _checked_op(F.col(op_col),
                            (insert_op, update_op, delete_op),
                            "cdc_apply"))
    latest = cdc_compact(checked, key_cols=keys, seq_col=seq_col,
                         op_col=op_col, payload_cols=payload,
                         tiebreak_cols=tiebreak_cols)
    merged = base.alias("b").join(latest, keys, "full_outer")
    op = F.col(f"{_IMG}._op")
    out = merged.filter(op.isNull() | (op != delete_op))
    cols = ([F.col(k) for k in keys] +
            [F.when(op.isNotNull(), F.col(f"{_IMG}.{c}"))
              .otherwise(F.col(f"b.{c}")).alias(c) for c in payload])
    return out.select(*cols)


def cdc_vacuum(spark, store_path: str, *, min_seq) -> int:
    """Retention sweep for a :func:`~wrangle_pypes_spark.streaming.
    foreach_batch_cdc_apply` store: physically drop tombstones whose
    applied sequence is BELOW ``min_seq``, and return how many were
    dropped.

    A tombstone must outlive the transport's maximum disorder — a late
    update with ``seq < min_seq`` can no longer arrive once the feed
    has advanced past that horizon (Kafka retention, binlog purge), so
    the marker is dead weight.  Dropping one EARLY re-opens the
    resurrection window the maintainer exists to close, which is why
    the horizon is the caller's explicit statement, never a default.
    Live rows are untouched at any ``min_seq``.

    The sweep MERGES tombstone deletes for exactly the dead keys, so
    only the manifest buckets that held an expired tombstone rewrite —
    O(touched buckets), not a full rewrite; a PARTITIONED store sweeps
    each committed sub-store the same way (partitions with no expired
    tombstone are untouched).  The sweep preserves the store's
    committed epoch (no data ingested — same contract as
    ``manifest_rebucket``).  A path with nothing committed, or holding
    a swap or full-snapshot store from an older layout, raises
    ValueError.
    """
    from ..sources.manifest import _refuse_retired_layout, manifest_current
    from ..sources.partitioned import (_list_tokens, _publish_root_from_heads,
                                       _recorded_pcol, _sub, root_current)

    _refuse_retired_layout(store_path, "cdc_vacuum", spark=spark)
    if manifest_current(store_path, spark=spark) is not None:
        return _cdc_vacuum_manifest(spark, store_path, min_seq)
    if _recorded_pcol(store_path, spark=spark) is None:
        raise ValueError(
            f"cdc_vacuum: {store_path!r} holds no committed CDC store")
    n = 0
    for t in _list_tokens(store_path, spark=spark):
        sub = _sub(store_path, t)
        if manifest_current(sub, spark=spark) is not None:
            n += _cdc_vacuum_manifest(spark, sub, min_seq)
    if n:
        # the sweep moved sub heads; readers resolve through the ROOT
        # pointer, so publish one naming the swept versions (epoch
        # preserved — no data ingested)
        root = root_current(store_path, spark=spark)
        _publish_root_from_heads(
            store_path, root[1] if root is not None else -1, spark=spark)
    return n


def _cdc_vacuum_manifest(spark, store_path: str, min_seq) -> int:
    """The manifest-store tombstone sweep: merge tombstone DELETEs for
    exactly the expired keys — updates are the dead rows themselves
    (full image, so the store's schema-drift check sees no drift) with
    a delete flag, so ``manifest_merge`` rewrites only their buckets
    and carries every other bucket by reference.  Epoch preserved."""
    from ..sources.manifest import (_load_manifest, manifest_current,
                                    manifest_merge, manifest_read)

    cur = manifest_current(store_path, spark=spark)
    stored = manifest_read(spark, store_path)
    if stored is None:
        return 0
    dead = stored.filter(
        F.col("_cdc_deleted") & (F.col("_cdc_seq") < F.lit(min_seq)))
    n_dead = dead.count()
    if n_dead == 0:
        return 0
    man = _load_manifest(store_path, cur[0], spark=spark)
    updates = dead.withColumn("_cdc_drop", F.lit(True)) \
        .localCheckpoint(eager=True)
    manifest_merge(updates, store_path, list(man["key_cols"]),
                   epoch_id=cur[1], n_buckets=int(man["n_buckets"]),
                   tombstone_col="_cdc_drop")
    return n_dead
