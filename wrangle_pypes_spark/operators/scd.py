"""Slowly-changing-dimension (SCD type 2) operators.

The reference's ``get_or_create`` protocol (``wrangle_pypes/pipeline.py:53``)
answers "does this entity exist, else create it"; at warehouse scale the
follow-on question is "what did the entity look like WHEN" — dimension
versioning.  These operators keep full attribute history as validity
intervals: one row per (key, version) with ``valid_from`` / ``valid_to``
(NULL = current) and ``is_current``.

Design for 100 TB: everything is one shuffle on the dimension key plus
window passes over each key's (tiny) version list — no self-joins, no
driver-side state.  ``scd2_merge`` touches only the keys present in the
incoming batch (semi/anti split), so merging a daily delta into a
billion-row dimension rebuilds only the delta's keys.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ("scd2_build", "scd2_merge", "scd2_rebuild_store",
           "scd2_snapshot")

_VALID_FROM, _VALID_TO, _IS_CURRENT = "valid_from", "valid_to", "is_current"


def scd2_build(updates: DataFrame, *, key_cols: Sequence[str],
               ts_col: str, attr_cols: Sequence[str],
               tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Collapse an update/event stream into SCD2 validity intervals.

    ``updates`` holds one row per observed (key, attrs, ts); the output
    holds one row per ATTRIBUTE CHANGE: consecutive observations with
    identical ``attr_cols`` merge into one interval, ``valid_to`` of a
    version is the next version's ``valid_from`` (half-open intervals,
    no gaps), and the last version per key is current (``valid_to``
    NULL).

    Two window passes over one key-partitioned shuffle:

    1. change detection — a row starts a new version iff any attr
       differs (null-safely) from the previous observation;
    2. interval close — ``lead(valid_from)`` over surviving versions.

    ``tiebreak_cols`` break ``ts`` ties deterministically (same-instant
    observations order by the tiebreak, last one wins the interval).
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*keys).orderBy(*order)

    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    first = F.row_number().over(w) == 1
    versions = (updates
                .withColumn("_new_version", first | changed)
                .filter(F.col("_new_version"))
                .drop("_new_version"))

    w2 = Window.partitionBy(*keys).orderBy(*order)
    out = (versions
           .withColumn(_VALID_FROM, F.col(ts_col))
           .withColumn(_VALID_TO, F.lead(_VALID_FROM).over(w2))
           .withColumn(_IS_CURRENT, F.col(_VALID_TO).isNull()))
    return out.select(*keys, *attrs, _VALID_FROM, _VALID_TO, _IS_CURRENT)


def scd2_merge(dim: DataFrame, updates: DataFrame, *,
               key_cols: Sequence[str], ts_col: str,
               attr_cols: Sequence[str],
               tiebreak_cols: Sequence[str] = (),
               include_untouched: bool = True) -> DataFrame:
    """Merge an update batch into an existing SCD2 dimension.

    Only keys present in ``updates`` are reprocessed: the dimension
    splits into untouched history (left_anti — passes through untouched,
    byte-identical) and touched history, whose versions are re-expressed
    as observations at their ``valid_from`` and re-collapsed together
    with the new updates via :func:`scd2_build`.  Replaying the same
    batch is a no-op (identical observations collapse), so the merge is
    batch-idempotent.

    ``include_untouched=False`` returns ONLY the rebuilt versions of
    touched keys — the shape a keyed storage MERGE wants (replace the
    touched key groups in place, never rewrite untouched history; see
    ``streaming.foreach_batch_scd2_merge``).
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    touched_keys = updates.select(*keys).distinct()
    touched_hist = (dim.join(touched_keys, keys, "left_semi")
                    .select(*keys, *attrs,
                            F.col(_VALID_FROM).alias(ts_col)))
    observations = touched_hist.unionByName(
        updates.select(*keys, *attrs, ts_col))
    rebuilt = scd2_build(observations, key_cols=keys, ts_col=ts_col,
                         attr_cols=attrs, tiebreak_cols=tiebreak_cols)
    if not include_untouched:
        return rebuilt
    untouched = dim.join(touched_keys, keys, "left_anti")
    return untouched.unionByName(rebuilt)


def scd2_rebuild_store(raw_log: DataFrame, dim_path: str, *,
                       key_cols: Sequence[str], ts_col: str,
                       attr_cols: Sequence[str],
                       tiebreak_cols: Sequence[str] = (),
                       keys: Optional[DataFrame] = None) -> None:
    """Batch recovery for observations the streaming path cannot order:
    rebuild SCD2 history from the RAW observation log and merge it over
    the durable store.

    ``streaming.foreach_batch_scd2_merge`` keeps COLLAPSED versions,
    not raw observations, so a straggler whose ``ts`` falls between two
    already-stored versions cannot resurrect the interval it splits
    (the documented per-key in-order contract).  This is the escape
    hatch that contract points to: the raw log has every observation,
    so ``scd2_build`` over it is ground truth by construction,
    regardless of arrival order.

    ``keys`` scopes the heal: pass the late keys (any DataFrame with
    ``key_cols``) and only their log slices are re-collapsed and
    keyed-MERGEd into the store — at 100 TB you heal one straggler's
    key, not a billion-key dimension.  ``keys=None`` rebuilds every
    key of the log (initial backfill / full audit).  Either way the
    rebuilt version rows REPLACE the healed keys' groups through
    ``sources.manifest.manifest_merge``: only the buckets those keys
    hash into are rewritten, a crash before the pointer publish leaves
    the old store, and the result equals ``scd2_build`` over the full
    log for every healed key.  The store keeps its recorded bucket
    count and committed epoch; a new store gets 64 buckets, the
    streaming maintainer's default.  A path holding a swap or
    full-snapshot store from an older layout raises ValueError.
    """
    from ..sources.manifest import (_keyed_merge, _load_manifest,
                                    _refuse_retired_layout,
                                    manifest_current, manifest_merge)

    spark = raw_log.sparkSession
    _refuse_retired_layout(dim_path, "scd2_rebuild_store", spark=spark)
    kc = list(key_cols)
    log = raw_log
    if keys is not None:
        log = raw_log.join(F.broadcast(keys.select(*kc).distinct()),
                           kc, "left_semi")
    # carry tiebreak columns through the projection (deduped) — a
    # dedicated per-key sequence column is exactly what CDC logs use
    cols, seen = [], set()
    for c in [*kc, *attr_cols, ts_col, *tiebreak_cols]:
        if c not in seen:
            seen.add(c)
            cols.append(c)
    rebuilt = scd2_build(log.select(*cols),
                         key_cols=kc, ts_col=ts_col,
                         attr_cols=list(attr_cols),
                         tiebreak_cols=tiebreak_cols) \
        .localCheckpoint(eager=True)
    cur = manifest_current(dim_path, spark=spark)
    man = _load_manifest(dim_path, cur[0], spark=spark) if cur else None
    manifest_merge(rebuilt, dim_path, kc,
                   epoch_id=cur[1] if cur else -1,
                   n_buckets=int(man["n_buckets"]) if man else 64,
                   merge_fn=_keyed_merge(kc, lambda touched, new: new))


def scd2_snapshot(dim: DataFrame, as_of, *,
                  ts_col: Optional[str] = None) -> DataFrame:
    """Point-in-time view of an SCD2 dimension: the version valid at
    ``as_of`` (``valid_from <= as_of < valid_to``, open current
    interval).  A plain filter — pushes down to the scan, and on a
    dimension partitioned by ``is_current`` the common "latest" case
    prunes to the current partition."""
    cond = ((F.col(_VALID_FROM) <= F.lit(as_of)) &
            (F.col(_VALID_TO).isNull() | (F.col(_VALID_TO) > F.lit(as_of))))
    out = dim.filter(cond)
    if ts_col:
        out = out.withColumn(ts_col, F.lit(as_of))
    return out


def scd2_temporal_join(facts: DataFrame, dim: DataFrame, *,
                       key_cols: Sequence[str], ts_col: str,
                       how: str = "inner") -> DataFrame:
    """Join each fact row to the dimension VERSION valid at the
    fact's own timestamp — the point-in-time enrich of star-schema
    ETL ("the customer's priority as of the order date") without
    materializing a :func:`scd2_snapshot` per distinct date.
    Intervals are half-open ``[valid_from, valid_to)`` and disjoint
    per key, so each fact matches at most one version;
    ``how="left"`` keeps facts whose timestamp precedes every
    version (dimension columns null).

    Output: every fact column, plus the dimension's attribute
    columns and ``valid_from``/``valid_to``/``is_current``
    (attribute names must not collide with fact columns — rename
    upstream, loudly checked here).

    Scale shape: Catalyst plans the key equality as the join
    (broadcast or sort-merge on the key) and the interval test as a
    post-join filter, so cost is the keyed join with per-key version
    count as the fan-in bound — never a range cross product.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how={how!r}: use 'inner' or 'left'")
    keys = list(key_cols)
    for req in (*keys, _VALID_FROM, _VALID_TO, _IS_CURRENT):
        if req not in dim.columns:
            raise ValueError(f"dim lacks column {req!r} — build it "
                             "with scd2_build/scd2_merge")
    if ts_col not in facts.columns:
        raise ValueError(f"facts lack ts column {ts_col!r}")
    attrs = [c for c in dim.columns
             if c not in (*keys, _VALID_FROM, _VALID_TO, _IS_CURRENT)]
    clash = [c for c in (*attrs, _VALID_FROM, _VALID_TO, _IS_CURRENT)
             if c in facts.columns]
    if clash:
        raise ValueError(
            f"fact columns {clash} collide with dimension output "
            "columns — rename one side first")
    d = dim.alias("_scd_dim")
    f = facts.alias("_scd_facts")
    cond = None
    for k in keys:
        c = f[k] == d[k]
        cond = c if cond is None else (cond & c)
    cond = cond & (f[ts_col] >= d[_VALID_FROM]) \
        & (d[_VALID_TO].isNull() | (f[ts_col] < d[_VALID_TO]))
    return f.join(d, cond, how).select(
        *[f[c] for c in facts.columns],
        *[d[c] for c in attrs],
        d[_VALID_FROM], d[_VALID_TO], d[_IS_CURRENT])
