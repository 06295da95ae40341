"""Event-time windowed aggregation + stateful patterns over streams.

Design for scale: watermarks bound state (late rows beyond the
watermark are dropped, state for closed windows is evicted); windowed
aggregations shuffle on (window, keys) exactly like their batch
``groupBy`` twins, so the same skew/partition sizing reasoning applies.
``foreach_batch_get_or_create`` is the streaming version of the
reference's external-lookup protocol (SURVEY.md section 3.3) — each
micro-batch runs the set-oriented join + union.
"""

from __future__ import annotations

import os
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localdf import local_df
from ..sources.manifest import _keyed_merge, _refuse_retired_layout


def stream_table(spark: SparkSession, sf_dir: str, table: str,
                 schema: Optional[T.StructType] = None) -> DataFrame:
    """readStream over any testdata parquet table (file-source stream;
    in production this is Kafka/object-store notifications with the
    same downstream plan)."""
    from ..sources.tables import ensure_session_confs

    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{table}.parquet")
    if schema is None:
        schema = spark.read.parquet(path).schema
    # the file stream source requires a DIRECTORY; testdata ships single
    # files, so expose the file through a per-sf temp dir of symlinks
    if os.path.isfile(path):
        import hashlib
        import tempfile
        tag = hashlib.md5(path.encode()).hexdigest()[:12]
        d = os.path.join(tempfile.gettempdir(), f"wps_stream_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    return spark.readStream.schema(schema).format("parquet").load(path)


def stream_events(spark: SparkSession, sf_dir: str,
                  schema: Optional[T.StructType] = None) -> DataFrame:
    """readStream over the events parquet directory (file-source stream;
    in production this is Kafka with the same downstream plan)."""
    from ..sources.tables import normalize_nanos_ts

    stream = stream_table(spark, sf_dir, "events", schema)
    # ltz: watermarks reject TIMESTAMP_NTZ event-time columns
    return normalize_nanos_ts(stream, target="timestamp")


def tumbling_window_agg(events: DataFrame, *, ts_col: str = "ts",
                        keys: Sequence[str] = ("event_type",),
                        window: str = "1 hour",
                        watermark: str = "1 hour") -> DataFrame:
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window), *keys)
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))


def sliding_window_agg(events: DataFrame, *, ts_col: str = "ts",
                       keys: Sequence[str] = ("event_type",),
                       window: str = "1 hour", slide: str = "15 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window, slide), *keys)
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))


def session_window_agg(events: DataFrame, *, ts_col: str = "ts",
                       keys: Sequence[str] = ("user_id",),
                       gap: str = "30 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Session windows (dynamic gap-based) — the streaming twin of
    ``operators.relational.sessionize``."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(ts_col, gap), *keys)
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))


def stream_dedup(stream: DataFrame, keys: Sequence[str], *,
                 ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the FIRST row per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark`` evicts
    key state once the watermark passes it — the streaming twin of
    ``operators.dedup.dedup_exact``).

    Scale: state is one entry per distinct in-watermark key, partitioned
    by key — the steady-state topology for ingest-time dedup of an
    event/document firehose.  Duplicates arriving farther apart than the
    watermark are NOT caught; dedup the at-rest table with the batch
    operator for the long tail.
    """
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def stream_stream_interval_join(left: DataFrame, right: DataFrame, *,
                                on: str, left_ts: str, right_ts: str,
                                upper_seconds: int,
                                watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: right events within
    ``(left_ts, left_ts + upper_seconds]`` for the same key.

    Both sides are watermarked and the join condition carries the time
    bound — that is what lets Spark EVICT join state (without it, both
    sides buffer forever).  State per side ≈ watermark-window of rows,
    partitioned by key: the streaming twin of
    ``operators.relational.bucketed_range_join``, and the batch range
    join is its oracle.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}")) &
        (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}")) &
        (F.col(f"r.{right_ts}") <=
         F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper_seconds} SECONDS"))
    )
    return l.join(r, cond, "inner")


def run_available_now_to_memory(stream_df: DataFrame, name: str,
                                output_mode: str = "append",
                                state_partitions: Optional[int] = None
                                ) -> DataFrame:
    """Drain all currently-available input through the streaming plan
    into an in-memory table and return it as a DataFrame.

    Uses ``trigger(availableNow=True)`` — processes everything then
    stops, which makes streaming queries testable/benchable in batch
    harnesses while exercising the real incremental engine.

    ``state_partitions`` sizes the STATE partitioning of stateful
    operators (stream-stream join, streaming agg, dedup): Spark pins it
    to ``spark.sql.shuffle.partitions`` at the query's first start, and
    every state partition pays a per-micro-batch store open/commit/
    maintenance cost (measured ~1 s/partition for the stream-stream
    join on local disk).  A 10k-row test stream does not want 32 state
    stores; a 1000-executor cluster ingesting a firehose wants
    thousands.  Size it to expected state volume, like you size shuffle
    partitions to data volume.  The conf is set only around ``start()``
    (planning reads it there) and restored after, so batch queries on
    the same session keep their own sizing.

    Caveat: the conf is session-global while set — a query planned
    CONCURRENTLY on the same session (another thread, a foreachBatch
    body) would pick it up.  Use from a single planning thread, or
    isolate with ``spark.newSession()`` when driving streams from a
    multi-threaded driver.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (stream_df.writeStream
             .format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_static_enrich(stream: DataFrame, dim: DataFrame,
                         on: Sequence[str] | str, *,
                         how: str = "left",
                         broadcast_dim: bool = True) -> DataFrame:
    """Stream-static dimension enrichment: join a stream to a BATCH
    dimension table.  The standard production topology for attaching
    slowly-changing attributes (customer segment, product category) to
    an event firehose.

    No state store is involved — Spark re-plans the static side per
    micro-batch, which also means dim UPDATES are picked up on the next
    batch when the dim is a table/path reference.  ``broadcast_dim``
    (default) hints the hash-side: dimensions are small next to the
    stream, and broadcasting keeps the stream side shuffle-free —
    at cluster scale this is the difference between enriching in the
    map stage and shuffling the firehose.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=list(on) if not isinstance(on, str) else on,
                       how=how)


def _start_foreach_batch(stream_df: DataFrame, batch_fn,
                         checkpoint: Optional[str]):
    """Start ``batch_fn`` as the ``foreachBatch`` sink of ``stream_df``,
    draining what is available now (``trigger(availableNow=True)``),
    with ``checkpoint`` as the query's checkpoint location if given;
    returns the started query."""
    writer = stream_df.writeStream.foreachBatch(batch_fn) \
        .trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _read_state(spark, store_path: str) -> Optional[DataFrame]:
    """The committed content of a manifest-backed maintainer store.
    None only when nothing was ever committed: a store whose commits
    all carried empty batches has no bucket files, so it reads as an
    empty frame of its recorded schema."""
    from ..sources.manifest import (_load_manifest, manifest_current,
                                    manifest_read)

    cur = manifest_current(store_path, spark=spark)
    if cur is None:
        return None
    df = manifest_read(spark, store_path)
    if df is None:
        man = _load_manifest(store_path, cur[0], spark=spark)
        df = local_df(spark, [], T.StructType.fromJson(man["schema"]))
    return df


def foreach_batch_rollup_upsert(stream_df: DataFrame, store_path: str, *,
                                group_cols: Sequence[str],
                                metrics,
                                checkpoint: Optional[str] = None,
                                store_partition_by: Sequence[str] = (),
                                store_buckets: int = 64):
    """Durable continuous-aggregate maintenance: every micro-batch is
    rolled up to mergeable state (``operators.rollup.rollup_build``) and
    MERGED into a manifest store keyed by the group columns.

    This is the streaming twin of the batch ``rollup_merge`` proof:
    state is count/sum/min/max scalars + HLL sketches, all mergeable,
    so the store after N batches equals the one-shot rollup of all N
    batches' rows (pinned in tests/test_rollup.py).

    The store (``sources.manifest``) hash-buckets the state by the
    group columns into ``store_buckets`` buckets: each batch reads and
    rewrites only the buckets its groups hash into, merges the touched
    groups and carries the rest of those buckets verbatim; untouched
    buckets' files carry over by reference.  Read it with
    ``manifest_read``.  ``store_partition_by`` names ONE group column
    (the time grain) and routes to the partitioned manifest store
    (``sources.partitioned``, read with ``pmanifest_read``): one
    hash-bucketed sub-store per grain value, so a range read prunes
    whole partitions.

    Rollup merge is ADDITIVE, so foreachBatch's at-least-once
    redelivery would double-merge a replayed batch.  The store's
    atomic pointer commit carries the epoch WITH the data, and batches
    at or below the committed epoch are skipped: a crash before the
    pointer publish leaves only orphan files and the old store, so the
    replay merges exactly once.  A path holding a swap or full-snapshot
    store from an older layout raises ValueError instead of resuming.

    The epoch guard is only sound when epoch ids are MONOTONIC across
    runs, which requires a ``checkpoint`` location: without one, batch
    ids restart at 0 every run, so re-draining a source that has GROWN
    since the last drain both skips batches (epoch <= committed) and
    double-merges old rows that shift into later batches.  Incremental
    production use therefore REQUIRES ``checkpoint``; the only safe
    no-checkpoint replay is re-draining a byte-identical source (the
    redelivery-idempotence scenario the tests pin).  A warning fires
    when an existing store is resumed without one.
    """
    import warnings

    from ..operators.rollup import rollup_build, rollup_merge
    from ..sources.manifest import manifest_current, manifest_merge

    keys = list(group_cols)
    pcol = None
    if store_partition_by:
        # partitioned manifest store (sources/partitioned.py): value
        # partitioning by ONE group column (the time grain) over
        # per-partition hash-bucketed sub-stores — reads of a
        # day-range prune whole partitions from the layout before
        # bucket pruning even starts, the natural shape for a
        # time-partitioned continuous aggregate
        if len(store_partition_by) != 1:
            raise ValueError(
                "the rollup store supports exactly one partition "
                f"column, got {list(store_partition_by)}")
        pcol = store_partition_by[0]
        if pcol not in keys:
            raise ValueError(
                f"partition column {pcol!r} must be one of the group "
                f"columns {keys} — rollup state is keyed by the group "
                "columns, so partitioning on anything else would "
                "split a group across partitions")
    session = stream_df.sparkSession
    _refuse_retired_layout(store_path, "foreach_batch_rollup_upsert",
                           spark=session)

    def _committed_epoch(spark) -> int:
        if pcol is not None:
            # partitioned: a batch is fully applied only when EVERY
            # sub-store has it, so the whole-store floor is the MIN
            # committed epoch; stragglers (a crash mid-batch) fall
            # to pmanifest_merge's per-partition guard
            from ..sources.partitioned import _list_tokens, _sub
            epochs = []
            for t in _list_tokens(store_path, spark=spark):
                cur = manifest_current(_sub(store_path, t), spark=spark)
                if cur is not None:
                    epochs.append(cur[1])
            return min(epochs) if epochs else -1
        cur = manifest_current(store_path, spark=spark)
        return cur[1] if cur is not None else -1

    # the stored rows are pinned to the batch state's column order and
    # types for the joins and rollup_merge's unionByName
    _merge = _keyed_merge(
        keys, lambda touched, batch: rollup_merge(
            touched, batch, group_cols=keys, metrics=metrics),
        align=True)

    if (checkpoint is None
            and _committed_epoch(session) >= 0):
        warnings.warn(
            "foreach_batch_rollup_upsert: resuming an existing rollup "
            f"store ({store_path!r}) WITHOUT a checkpoint location — "
            "batch ids restart at 0 each run, so the epoch guard can "
            "only deduplicate a byte-identical re-drain. If the source "
            "has grown since the last run, state WILL corrupt (skipped "
            "and double-merged batches). Pass checkpoint= for "
            "incremental use.", stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _committed_epoch(spark):
            return  # checkpoint replay of an already-merged batch
        batch_state = rollup_build(batch_df, group_cols=keys,
                                   metrics=metrics)
        if pcol is not None:
            from ..sources.partitioned import pmanifest_merge
            pmanifest_merge(
                batch_state, store_path, pcol,
                [k for k in keys if k != pcol],
                epoch_id=epoch_id, merge_fn=_merge,
                n_buckets=store_buckets)
        else:
            manifest_merge(batch_state, store_path, keys,
                           epoch_id=epoch_id, merge_fn=_merge,
                           n_buckets=store_buckets)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_scd2_merge(stream_df: DataFrame, dim_path: str, *,
                             key_cols: Sequence[str], ts_col: str,
                             attr_cols: Sequence[str],
                             tiebreak_cols: Sequence[str] = (),
                             checkpoint: Optional[str] = None,
                             store_buckets: int = 64):
    """Durable streaming SCD2 maintenance: each micro-batch of attribute
    observations re-collapses the version history of the keys it
    touches and keyed-MERGEs them into a manifest store
    (``sources.manifest``, hash-bucketed by ``key_cols`` into
    ``store_buckets``).  A key's whole version history hashes to one
    bucket, so each batch rewrites only the buckets its keys touch;
    untouched keys' history is never re-collapsed.  Read the dimension
    with ``sources.manifest.manifest_read``.

    Validity intervals derive from the DATA's ``ts_col`` (never wall
    clock).  Contract: a key's observations must arrive in
    NON-DECREASING ``ts`` order ACROSS batches (the normal CDC /
    periodic-snapshot load pattern) — the store keeps collapsed
    versions, not raw observations, so an observation arriving BETWEEN
    two already-stored versions cannot resurrect a collapsed
    reverted-back version (the inherent SCD2 late-data limitation;
    route stragglers through ``operators.scd.scd2_rebuild_store`` —
    a keyed re-collapse from the raw observation log that heals exactly
    the late keys).  Under that contract the drained store equals
    ``scd2_build`` over all rows regardless of batch boundaries, and
    replaying a batch after checkpoint recovery is a no-op (both pinned
    in tests/test_scd.py), so no epoch guard is needed.  A path
    holding a swap or full-snapshot store from an older layout raises
    ValueError instead of resuming.  Completes the durable-streaming
    trio: ``foreach_batch_get_or_create_upsert`` (dims),
    ``foreach_batch_rollup_upsert`` (aggregates), this (history).
    """
    from ..operators.scd import scd2_build, scd2_merge
    from ..sources.manifest import manifest_merge

    keys, attrs, ties = list(key_cols), list(attr_cols), list(tiebreak_cols)
    _refuse_retired_layout(dim_path, "foreach_batch_scd2_merge",
                           spark=stream_df.sparkSession)
    # re-collapse the stored versions of the batch's keys with its
    # observations; the version rows replace those keys' groups
    _merge = _keyed_merge(
        keys,
        lambda touched, obs: scd2_merge(
            touched, obs, key_cols=keys, ts_col=ts_col, attr_cols=attrs,
            tiebreak_cols=ties, include_untouched=False),
        first=lambda obs: scd2_build(
            obs, key_cols=keys, ts_col=ts_col, attr_cols=attrs,
            tiebreak_cols=ties))

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        manifest_merge(batch_df.select(*keys, *attrs, ts_col), dim_path,
                       keys, epoch_id=epoch_id, merge_fn=_merge,
                       n_buckets=store_buckets)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def _merge_idempotent(batch: DataFrame, store_path: str,
                      keys: Sequence[str], epoch_id: int, merge_fn, *,
                      n_buckets: int, partition_col: Optional[str]):
    """Commit an idempotent keyed merge to a manifest store, or with
    ``partition_col`` to a partitioned one.  There the merge RE-APPLIES
    a replayed batch instead of skipping it (``guard_epochs=False``):
    with the guard on, a reused batch id would silently drop a
    genuinely new batch."""
    from ..sources.manifest import manifest_merge
    from ..sources.partitioned import pmanifest_merge

    if partition_col is None:
        manifest_merge(batch, store_path, keys, epoch_id=epoch_id,
                       merge_fn=merge_fn, n_buckets=n_buckets)
    else:
        pmanifest_merge(batch, store_path, partition_col, keys,
                        epoch_id=epoch_id, merge_fn=merge_fn,
                        n_buckets=n_buckets, guard_epochs=False)


def foreach_batch_dedup_keep_best(stream_df: DataFrame, store_path: str, *,
                                  key_cols: Sequence[str],
                                  order_cols: Sequence,
                                  checkpoint: Optional[str] = None,
                                  store_buckets: int = 64,
                                  store_partition_col: Optional[str]
                                  = None):
    """Durable streaming corpus dedup: maintain a manifest store
    (``sources.manifest``, hash-bucketed by ``key_cols`` into
    ``store_buckets``) holding, for every content fingerprint
    (``key_cols``) ever seen, the single BEST row — max by
    ``order_cols`` (include a unique tiebreak, e.g.
    ``[F.col("n_chars"), -F.col("doc_id")]`` for keep-longest).  The
    ingest-time twin of ``operators.dedup.dedup_keep_best``, for
    corpora that arrive incrementally.  Read the store with
    ``manifest_read``.

    Correctness without an epoch marker: ``max_by`` under a
    deterministic total order is associative, commutative, and
    idempotent, so the store after N batches equals the one-shot batch
    ``dedup_keep_best`` over all N batches' rows REGARDLESS of batch
    boundaries — and replaying a delivered batch (foreachBatch is
    at-least-once) merges to the identical store.  This is the same
    merge-shaped-state argument as the rollup maintainer, minus the
    additivity hazard that forces its epoch guard.  A path holding a
    swap or full-snapshot store from an older layout raises ValueError
    instead of resuming.

    Per batch: one map-side-partial ``max_by`` over the batch, a
    broadcast semi-join pulling ONLY the touched fingerprints from the
    buckets the batch hashes into, one merge aggregate over
    (touched ∪ batch-best), and a rewrite of those buckets alone.
    Steady-state cost scales with batch size, not store size.

    ``store_partition_col`` gives the fingerprint store the
    partitioned layout (``sources.partitioned``) — one sub-store per
    value of a payload column that is FUNCTIONALLY DEPENDENT on the
    fingerprint (source id, shard family): reads prune whole
    partitions and serving GETs double-prune.  A fingerprint whose
    partition value varied across rows would leave a duplicate live
    in the other partition, so the dependence is a stated contract
    (same as the CDC maintainer's).  Replay stays idempotent-not-
    skipped (``guard_epochs=False``).

    No ``evolve_schema`` here, deliberately: keep-best's correctness
    rests on ONE deterministic total order over every row ever seen,
    and a mid-stream column addition makes cross-generation ``max_by``
    comparisons ill-defined (old rows null-fill a column the order may
    reference).  A feed whose schema versions is CDC-shaped — use
    ``foreach_batch_cdc_apply(evolve_schema=True)`` with a sequence
    column, where last-writer-wins is well-defined across generations.
    """
    from ..operators.dedup import dedup_keep_best

    keys = list(key_cols)
    if store_partition_col in keys:
        raise ValueError(
            f"store_partition_col {store_partition_col!r} must be a "
            "payload column, not a key column")
    order = list(order_cols)
    _refuse_retired_layout(store_path, "foreach_batch_dedup_keep_best",
                           spark=stream_df.sparkSession)
    _merge = _keyed_merge(keys, lambda touched, best: dedup_keep_best(
        touched.unionByName(best), keys, order))

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        _merge_idempotent(dedup_keep_best(batch_df, keys, order),
                          store_path, keys, epoch_id, _merge,
                          n_buckets=store_buckets,
                          partition_col=store_partition_col)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_cdc_apply(stream_df: DataFrame, store_path: str, *,
                            key_cols: Sequence[str], seq_col: str,
                            op_col: str = "op", insert_op: str = "I",
                            update_op: str = "U", delete_op: str = "D",
                            tiebreak_cols: Sequence[str] = (),
                            checkpoint: Optional[str] = None,
                            store_buckets: int = 64,
                            store_partition_col: Optional[str] = None,
                            evolve_schema: bool = False,
                            quarantine_path: Optional[str] = None):
    """Durable streaming CDC: maintain a base table from a stream of
    insert/update/delete change images — the streaming twin of
    ``operators.cdc.cdc_apply`` for feeds that arrive as micro-batches
    (Debezium topics, binlog shippers, upstream curation re-emits).

    The store keeps one row per key EVER seen: the winning image by
    ``(seq, *tiebreaks)`` plus two bookkeeping columns, ``_cdc_seq``
    (the applied sequence) and ``_cdc_deleted`` (tombstone flag).
    Tombstones are the point: a delete must outlive the row it
    deletes, or a LATE stale update (out-of-order across batches —
    normal for partitioned CDC transports) would resurrect the key.
    Read the current table with :func:`read_cdc_store`, which hides
    tombstones and bookkeeping.

    Correctness without an epoch marker: per key the merge is
    ``max_by`` under a total order — associative, commutative,
    idempotent — so the store after any batch boundaries, replays
    (foreachBatch is at-least-once), or cross-batch reordering equals
    the one-shot ``cdc_compact`` over the whole feed.  Same argument
    as :func:`foreach_batch_dedup_keep_best`; equal-seq conflicts need
    ``tiebreak_cols`` to stay deterministic.  Unknown op codes fail
    the batch (``raise_error``) before anything merges — unless
    ``quarantine_path`` is set, in which case contract-violating rows
    (unknown op, NULL key, NULL seq) divert to a dead-letter parquet
    table tagged with ``_quarantine_reason``/``_quarantine_epoch``
    and the rest of the batch applies normally (quarantine appends
    are at-least-once; the store merge stays exactly-once).

    The store is a bucketed copy-on-write manifest table
    (``sources.manifest``, hash-bucketed by ``key_cols`` into
    ``store_buckets``).  Per batch: one map-side-partial ``max_by``
    over the batch, a broadcast semi-join pulling only touched keys
    from the buckets the batch hashes into, one merge aggregate, and a
    rewrite of those buckets alone — write cost O(touched buckets),
    the file-level-delta behaviour of a table-format MERGE.  A path
    holding a swap or full-snapshot store from an older layout raises
    ValueError instead of resuming.  Tombstones accumulate by design —
    give deletes a retention sweep (``operators.cdc.cdc_vacuum``).

    ``store_partition_col`` lays the base table out as a PARTITIONED
    manifest store (``sources.partitioned``): one hash-bucketed
    sub-store per value of the named payload column — the
    Delta/Iceberg partitioned-MERGE shape.  Reads then prune whole
    partitions (``pmanifest_read(lo=, hi=)``) and serving GETs
    double-prune (``pmanifest_lookup``).  The column must be
    FUNCTIONALLY DEPENDENT on the key (creation date, source id — a
    key whose partition value changed across images would leave its
    stale image live in the old partition; nothing can detect that
    without a global key index, so it is a stated contract, exactly
    as table formats state it), non-null, and low-cardinality.  The
    max_by merge stays idempotent per partition, so replay converges
    without epoch skipping (``guard_epochs=False`` — a reused batch
    id must re-APPLY, not skip).

    ``evolve_schema=True`` allows ADDITIVE mid-stream schema
    evolution: when the upstream source starts emitting a new payload
    column (schema registries version CDC topics exactly this way),
    batches carrying it widen the store — the merge null-fills the
    column on the stored side, the commit records the widened schema
    in the manifest, and buckets not yet rewritten null-fill it on
    read.  A LATE stale image without the column that loses the max_by
    keeps the stored row (new column intact); if it wins, the new
    column is honestly null for that key — last-writer-wins applies to
    the whole image.  Off by default: unannounced drift fails loudly
    at the union.
    """
    from ..operators.dedup import dedup_keep_best

    keys = list(key_cols)
    if store_partition_col in (*keys, seq_col, op_col):
        raise ValueError(
            f"store_partition_col {store_partition_col!r} must be a "
            "payload column, not a key/seq/op column")
    order = [F.col("_cdc_seq"),
             *[F.col(c) for c in tiebreak_cols]]
    _refuse_retired_layout(store_path, "foreach_batch_cdc_apply",
                           spark=stream_df.sparkSession)
    # under evolve_schema both unions null-fill whichever side lacks a
    # column (additive widening only)
    _merge = _keyed_merge(
        keys, lambda touched, best: dedup_keep_best(
            touched.unionByName(best, allowMissingColumns=evolve_schema),
            keys, order),
        allow_missing=evolve_schema)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        payload = [c for c in batch_df.columns
                   if c not in (*keys, seq_col, op_col)]
        if quarantine_path is not None:
            # dead-letter path: contract-violating rows (unknown op,
            # null key, null seq) divert to the quarantine table with
            # a reason + epoch instead of failing the stream.  The
            # quarantine is OBSERVABILITY data, not state: its append
            # is at-least-once (a crash between it and the store
            # commit re-appends on replay) — dedupe downstream by
            # (epoch, content) if exactness matters there.  The
            # default (no quarantine) stays fail-loud.
            null_key = F.lit(False)
            for k in keys:
                null_key = null_key | F.col(k).isNull()
            reason = (
                F.when(~F.coalesce(
                    F.col(op_col).isin(insert_op, update_op,
                                       delete_op), F.lit(False)),
                       F.lit("unknown_op"))
                .when(null_key, F.lit("null_key"))
                .when(F.col(seq_col).isNull(), F.lit("null_seq")))
            tagged = batch_df.withColumn("_q_reason", reason) \
                .localCheckpoint(eager=True)
            (tagged.filter(F.col("_q_reason").isNotNull())
             .select(*batch_df.columns,
                     F.col("_q_reason").alias("_quarantine_reason"),
                     F.lit(int(epoch_id)).cast("long")
                     .alias("_quarantine_epoch"))
             .write.mode("append").parquet(quarantine_path))
            batch_df = tagged.filter(F.col("_q_reason").isNull()) \
                .drop("_q_reason")
            op = F.col(op_col)  # survivors are valid by construction
        else:
            from ..operators.cdc import _checked_op
            op = _checked_op(F.col(op_col),
                             (insert_op, update_op, delete_op),
                             "foreach_batch_cdc_apply")
        deleted = op == delete_op
        img = batch_df.select(
            *keys, *payload,
            F.col(seq_col).alias("_cdc_seq"),
            deleted.alias("_cdc_deleted"))
        _merge_idempotent(dedup_keep_best(img, keys, order), store_path,
                          keys, epoch_id, _merge,
                          n_buckets=store_buckets,
                          partition_col=store_partition_col)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def read_cdc_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Current state of a :func:`foreach_batch_cdc_apply` store:
    tombstoned keys hidden, bookkeeping columns dropped.  A manifest
    store resolves through its committed manifest, a partitioned one
    (``store_partition_col``) through its sub-stores' manifests.  A
    path with nothing committed, or holding a swap or full-snapshot
    store from an older layout, raises ValueError."""
    from ..sources.partitioned import _recorded_pcol, pmanifest_read

    _refuse_retired_layout(store_path, "read_cdc_store", spark=spark)
    df = _read_state(spark, store_path)
    if df is None and _recorded_pcol(store_path, spark=spark) is not None:
        df = pmanifest_read(spark, store_path)
    if df is None:
        raise ValueError(
            f"read_cdc_store: {store_path!r} holds no committed CDC "
            "store")
    return df.filter(~F.col("_cdc_deleted")) \
             .drop("_cdc_seq", "_cdc_deleted")


def cdc_store_lookup(spark: SparkSession, store_path: str,
                     keys: DataFrame) -> DataFrame:
    """Serving-side keyed GET against a CDC store: the CURRENT image
    of the probed keys only — tombstoned keys absent, bookkeeping
    dropped — scanning only the buckets the probe keys hash into
    (``sources.manifest.manifest_lookup``).  This is the online read
    path of the maintained base table: O(probed buckets) whatever the
    store has grown to, vs :func:`read_cdc_store`'s full-table view.
    A PARTITIONED store (``store_partition_col``) double-prunes via
    ``pmanifest_lookup``: include the partition column in ``keys``
    to open only the probes' own partitions."""
    from ..sources.manifest import manifest_current, manifest_lookup
    from ..sources.partitioned import _recorded_pcol, pmanifest_lookup

    if manifest_current(store_path, spark=spark) is not None:
        df = manifest_lookup(spark, store_path, keys)
    elif _recorded_pcol(store_path, spark=spark) is not None:
        df = pmanifest_lookup(spark, store_path, keys)
    else:
        raise ValueError(
            f"{store_path!r} is not a committed manifest store — "
            "nothing was committed there by foreach_batch_cdc_apply")
    if df is None:
        raise ValueError(
            f"{store_path!r} has no committed partition for the "
            "probed keys' partition values")
    return df.filter(~F.col("_cdc_deleted")) \
             .drop("_cdc_seq", "_cdc_deleted")


def foreach_batch_get_or_create(stream_df: DataFrame, pipeline, model: type,
                                dim_holder: dict,
                                match_targets: Sequence[str],
                                checkpoint: Optional[str] = None):
    """Streaming get_or_create: every micro-batch left-joins the current
    dimension state and appends newly-created rows to it (the async
    lookup of the reference, made incremental and set-oriented).

    ``dim_holder`` is ``{"dim": DataFrame}`` — mutated per batch.  In
    production the holder is a Delta/Iceberg MERGE target; kept
    pluggable here because the v1 image carries no table format jars.

    The dimension's row count is tracked in ``dim_holder["rows"]``
    (counted once on the first batch, then maintained from each batch's
    created keys) and passed to ``get_or_create`` as ``dim_rows`` — the
    broadcast decision costs ONE dim-sized job for the whole stream,
    not one probe per micro-batch.
    """
    keys = list(match_targets)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        if dim_holder.get("rows") is None:
            dim_holder["rows"] = dim_holder["dim"].count()
        result, new_dim = pipeline.get_or_create(
            model, batch_df, dim_holder["dim"], match_targets,
            dim_rows=dim_holder["rows"])
        # materialize new_dim before the next batch mutates lineage
        dim_holder["dim"] = new_dim.localCheckpoint(eager=True)
        # one batch-sized aggregate yields the log count AND the size
        # increment (distinct created keys = rows appended to the dim)
        stats = result.agg(
            F.count(F.lit(1)).alias("n"),
            # struct wrapper: non-created rows collapse to one NULL that
            # count(DISTINCT) skips, while created rows with NULL key
            # PARTS still count (the struct itself is non-null)
            F.count_distinct(F.when(F.col("created"),
                                    F.struct(*keys))).alias("n_created")
        ).collect()[0]
        dim_holder["rows"] += stats["n_created"]
        dim_holder.setdefault("batches", []).append(
            (epoch_id, stats["n"]))

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_get_or_create_upsert(stream_df: DataFrame, pipeline,
                                       model: type, dim_path: str,
                                       match_targets: Sequence[str],
                                       checkpoint: Optional[str] = None):
    """Durable streaming get_or_create: the dimension lives in a
    manifest store (``sources.manifest``, hash-bucketed by
    ``match_targets`` into 64 buckets) maintained by keyed upsert — the
    steady-state topology without a table-format dependency, and the
    one keyed store that plays the reference's caller-supplied
    ``lookup`` role.

    Per micro-batch: read the committed dimension, run the
    set-oriented lookup join, and merge ONLY the newly-created rows
    back with ``manifest_merge`` (upsert mode: each commit rewrites
    only the buckets the created keys hash into).  A replayed batch
    after a checkpoint recovery finds its rows already created, so
    the merge is idempotent.  The first batch bootstraps an empty
    dimension from the model schema.  Read the dimension with
    ``manifest_read``.  A path holding a swap or full-snapshot store
    from an older layout raises ValueError instead of resuming.  Use
    a Delta/Iceberg ``MERGE INTO`` for concurrent writers — same plan
    shape plus a transaction log.

    The dimension's row count is probed at most ONCE (an exact count
    when resuming an existing store, zero on bootstrap) and then
    maintained from each batch's created-row count, so the broadcast
    decision inside ``get_or_create`` never re-runs a dim-sized job
    per micro-batch.
    """
    from ..sources.manifest import manifest_merge

    keys = list(match_targets)
    _refuse_retired_layout(dim_path, "foreach_batch_get_or_create_upsert",
                           spark=stream_df.sparkSession)
    state: dict = {"rows": None}

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        dim = _read_state(spark, dim_path)
        if dim is None:
            dim = local_df(
                spark, [], pipeline.schema_for(model, batch_df))
            state["rows"] = 0
        elif state["rows"] is None:  # resume: one exact count, ever
            state["rows"] = dim.count()
        result, _ = pipeline.get_or_create(model, batch_df, dim,
                                           match_targets,
                                           dim_rows=state["rows"])
        created = (result.filter(F.col("created"))
                   .drop("created").dropDuplicates(keys)
                   .localCheckpoint(eager=True))
        state["rows"] += created.count()
        manifest_merge(created, dim_path, keys, epoch_id=epoch_id)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


class StreamMetricsCollector:
    """Streaming observability: a ``StreamingQueryListener`` that
    harvests every micro-batch's progress into plain dicts, plus a
    ``to_df`` view for SQL over the run — input/processed rates, batch
    durations, and per-stateful-operator state-store row counts.  This
    is the signal that catches unbounded state growth (a missing
    watermark) or a falling processed-rate BEFORE the job dies at
    100× scale; in production the same rows ship to a metrics sink.

    Usage::

        mc = StreamMetricsCollector.attach(spark)
        try:
            q = ...writeStream...start(); q.awaitTermination()
        finally:
            mc.detach()
        mc.to_df(spark).show()

    The listener is process-wide — ``attach`` registers it, ``detach``
    removes it; collect windows should bracket exactly the queries
    under observation.  Metric rows are driver-side by nature
    (progress objects ARE driver state, a handful per micro-batch).
    """

    def __init__(self):
        self.progress: list[dict] = []

    @classmethod
    def attach(cls, spark: SparkSession) -> "StreamMetricsCollector":
        from pyspark.sql.streaming import StreamingQueryListener

        self = cls()

        class _L(StreamingQueryListener):
            def onQueryStarted(s, event):
                pass

            def onQueryProgress(s, event):
                p = event.progress
                total_state_rows = sum(
                    (op.numRowsTotal or 0)
                    for op in (p.stateOperators or []))
                self.progress.append({
                    "query_id": str(p.id),
                    "batch_id": int(p.batchId),
                    "timestamp": p.timestamp,
                    "num_input_rows": int(p.numInputRows or 0),
                    "input_rows_per_sec":
                        float(p.inputRowsPerSecond or 0.0),
                    "processed_rows_per_sec":
                        float(p.processedRowsPerSecond or 0.0),
                    "batch_duration_ms": int(
                        (p.durationMs or {}).get("triggerExecution", 0)),
                    "state_rows_total": int(total_state_rows),
                })

            def onQueryTerminated(s, event):
                pass

            def onQueryIdle(s, event):
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)
        return self

    def detach(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def to_df(self, spark: SparkSession) -> DataFrame:
        schema = ("query_id string, batch_id long, timestamp string, "
                  "num_input_rows long, input_rows_per_sec double, "
                  "processed_rows_per_sec double, "
                  "batch_duration_ms long, state_rows_total long")
        if not self.progress:
            return local_df(spark, [], schema)
        return local_df(
            spark, [tuple(d.values()) for d in self.progress],
            schema)



def _store_run_tag(checkpoint: Optional[str]) -> str:
    """Run component of the epoch-partition tag for batch-partitioned
    stores: checkpoint-derived (stable across crash-restarts, so
    recovery overwrites its own partitions) or random (separate drains
    into one store accumulate — raw Structured Streaming epoch ids
    restart at 0 per query and would collide)."""
    import hashlib
    import uuid

    return (hashlib.md5(checkpoint.encode()).hexdigest()[:8]
            if checkpoint else uuid.uuid4().hex[:8])


def _write_batch_partition(df: DataFrame, path: str, tag: str) -> None:
    """Write ONLY this batch's ``_epoch=<tag>`` partition (dynamic
    overwrite): per-batch cost linear in batch size, redelivery of the
    same tag overwrites itself.  An EMPTY batch writes nothing — an
    empty partitioned write would create the store directory with zero
    data files, and the next batch's ``spark.read.parquet`` on it
    would die with UNABLE_TO_INFER_SCHEMA."""
    df = df.localCheckpoint(eager=True)
    if df.isEmpty():
        return
    (df.withColumn("_epoch", F.lit(tag))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("_epoch").parquet(path))


def _refuse_interrupted_resize(store_path: str, *, spark) -> None:
    """Refuse to touch a bloom store whose ``_bloom.json.next``
    staging marker exists: a :func:`bloom_resize_store` crashed
    mid-resize, so the committed bitmap's hash family may not match
    the ``_bloom.json`` sidecar.  Probing or merging through the
    sidecar params would silently mix hash families (false negatives
    → duplicate keys accepted); re-running the resize heals."""
    from .. import fsutil

    next_path = store_path.rstrip("/") + "/_bloom.json.next"
    if fsutil.read_text(next_path, spark=spark) is not None:
        raise RuntimeError(
            f"bloom store {store_path!r} has a staged "
            "_bloom.json.next marker — a bloom_resize_store was "
            "interrupted mid-resize and the committed bitmap's hash "
            "family may not match the _bloom.json sidecar. Re-run "
            "bloom_resize_store (the rebuild is idempotent and "
            "clears the marker) before resuming this store.")


def foreach_batch_bloom_dedup(stream_df: DataFrame, store_path: str, *,
                              key_col: str, accepted_path: str,
                              order_cols: Sequence,
                              n_bits: int = 1 << 22, n_hashes: int = 5,
                              occupancy_warn: Optional[float] = 0.5,
                              checkpoint: Optional[str] = None):
    """Memory-bounded streaming ingest dedup: keep the FIRST-ACCEPTED
    row per key ever seen, with seen-key state held as a Bloom BITMAP
    table (``operators.dedup.bloom_bitmap``) instead of a data-sized
    keyed store — the web-crawler seen-URL topology, where the key set
    outgrows any exact store but a fixed ``n_bits`` budget suffices.

    Per batch: collapse the batch to one row per key (``max_by`` over
    ``order_cols``), probe those keys against the resident bitmap
    (broadcast join — ``_maybe = false`` keys are GUARANTEED unseen),
    append only the unseen rows to ``accepted_path`` (epoch-partition
    dynamic overwrite, so a redelivered batch overwrites itself), then
    commit ``OR(resident, bitmap(accepted))`` to a one-bucket manifest
    store keyed by ``word`` (``sources.manifest``; every batch touches
    nearly every word, so one bucket keeps the commit a one-file
    rewrite) — the pointer carries the epoch WITH the bits, closing
    the double-ingest window.  Bloom union is idempotent, so replay
    converges even without the epoch guard; the guard makes the
    accepted output exactly-once too.  A path holding a swap or
    full-snapshot store from an older layout raises ValueError.

    Honest semantics: a false positive (~fpp for a well-sized filter)
    drops a GENUINELY-NEW key's rows forever — this maintainer trades
    a bounded, configurable loss rate for O(n_bits) state.  Size
    ``n_bits ≈ 10-15 × expected distinct keys``; use
    ``foreach_batch_dedup_keep_best`` when exactness matters more
    than state size.  ``n_bits``/``n_hashes`` are fixed at the
    store's creation (validated from a sidecar); keys must be
    non-null.

    The epoch guard requires MONOTONIC batch ids, which only a
    ``checkpoint`` location provides: without one, batch ids restart
    at 0 every run, so re-draining a source that has GROWN since the
    last drain silently skips the genuinely-new leading batches
    (``epoch <= committed`` → return) and their accepted rows are
    lost forever — worse than the rollup maintainer's double-merge,
    because nothing downstream can detect the gap.  The only safe
    no-checkpoint replay is a byte-identical re-drain; resuming an
    existing store without a checkpoint warns for exactly this
    reason (same contract as ``foreach_batch_rollup_upsert``).

    Capacity: each commit also measures the merged bitmap's occupancy
    (one extra aggregate over ≤ n_bits/64 rows — noise next to the
    batch work) and warns once it crosses ``occupancy_warn`` (default
    0.5, where est. fpp ≈ 3% at k=5 and climbing fast); pass ``None``
    to skip the probe.  The remedy is :func:`bloom_resize_store` — a
    rebuild of the filter at a larger ``n_bits`` from the accepted
    output's keys (the exact key set the filter is supposed to
    remember); :func:`bloom_store_occupancy` is the same gauge as an
    out-of-band health check.
    """
    import json as _json
    import warnings

    from .. import fsutil
    from ..operators.dedup import (bloom_bitmap, bloom_merge_bitmaps,
                                   bloom_probe, dedup_keep_best)
    from ..sources.manifest import manifest_current, manifest_merge

    if n_bits < 64:
        raise ValueError("n_bits must be >= 64")
    params_path = store_path.rstrip("/") + "/_bloom.json"
    session = stream_df.sparkSession
    _refuse_retired_layout(store_path, "foreach_batch_bloom_dedup",
                           spark=session)
    _refuse_interrupted_resize(store_path, spark=session)
    prior = fsutil.read_text(params_path, spark=session)
    if prior is not None:
        doc = _json.loads(prior)
        if (int(doc["n_bits"]), int(doc["n_hashes"])) != (n_bits,
                                                          n_hashes):
            raise ValueError(
                f"bloom store {store_path!r} was built with n_bits="
                f"{doc['n_bits']}, n_hashes={doc['n_hashes']}; got "
                f"({n_bits}, {n_hashes}) — the hash family is "
                "immutable for the store's lifetime")
    tag_run = _store_run_tag(checkpoint)
    if (checkpoint is None
            and manifest_current(store_path, spark=session) is not None):
        warnings.warn(
            "foreach_batch_bloom_dedup: resuming an existing bloom "
            f"store ({store_path!r}) WITHOUT a checkpoint location — "
            "batch ids restart at 0 each run, so the epoch guard "
            "skips any batch id the store has already committed. If "
            "the source has grown since the last run, the new leading "
            "batches are silently dropped and their accepted rows "
            "are permanently lost. Pass checkpoint= for incremental "
            "use; only a byte-identical re-drain is safe without it.",
            stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = manifest_current(store_path, spark=spark)
        if cur is not None and epoch_id <= cur[1]:
            return  # replayed batch already ingested
        best = dedup_keep_best(batch_df, [key_col], list(order_cols))
        resident = _read_state(spark, store_path)
        if resident is not None:
            member = bloom_probe(best.select(key_col), resident,
                                 key_col, n_bits=n_bits,
                                 n_hashes=n_hashes)
            accepted = (best.join(member, key_col)
                        .filter(~F.col("_maybe")).drop("_maybe"))
        else:
            accepted = best
        # pin before the two dependent writes, so the probe runs once
        # and the accepted rows and the committed bits agree
        accepted = accepted.localCheckpoint(eager=True)
        _write_batch_partition(accepted, accepted_path,
                               f"{tag_run}-{epoch_id}")
        add = bloom_bitmap(accepted, key_col, n_bits=n_bits,
                           n_hashes=n_hashes)
        # sidecar BEFORE the first commit (publish-last-pointer
        # discipline): params are pinned once any bits exist, so a
        # crash in between leaves a sidecar with zero commits (a
        # resume re-validates and replays), never committed bits
        # whose hash family a later resume can't validate
        if fsutil.read_text(params_path, spark=spark) is None:
            fsutil.ensure_dir(store_path, spark=spark)
            fsutil.write_text_atomic(
                params_path,
                _json.dumps({"n_bits": n_bits, "n_hashes": n_hashes}),
                spark=spark)
        manifest_merge(
            add, store_path, ["word"], epoch_id=epoch_id, n_buckets=1,
            merge_fn=lambda stored, new: new if stored is None
            else bloom_merge_bitmaps(stored, new))
        if occupancy_warn is not None:
            from ..operators.dedup import bloom_occupancy
            occ = bloom_occupancy(
                _read_state(spark, store_path), n_bits=n_bits,
                n_hashes=n_hashes).collect()[0]
            if occ.occupancy >= occupancy_warn:
                warnings.warn(
                    f"foreach_batch_bloom_dedup: bloom store "
                    f"{store_path!r} is {occ.occupancy:.0%} occupied "
                    f"(est. false-positive rate {occ.est_fpp:.2%}) — "
                    "the filter has outgrown n_bits and is silently "
                    "dropping ~that fraction of genuinely-new keys. "
                    "Rebuild at a larger size with bloom_resize_store.",
                    stacklevel=2)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def bloom_store_occupancy(spark, store_path: str):
    """Saturation gauge of a :func:`foreach_batch_bloom_dedup` store:
    one-row DataFrame ``(set_bits, n_bits, occupancy, est_fpp)`` from
    ONE aggregate over the committed bitmap table, with the hash
    family read from the store's ``_bloom.json`` sidecar.  ``None``
    when nothing was ever committed; a store whose commits set no
    bits reports zero.

    Run on a maintenance cadence (not per batch): occupancy past
    ~50% means the filter outgrew its bit budget and the
    false-positive loss rate is no longer the one it was sized for —
    time for the resize-via-rebuild documented on
    :func:`operators.dedup.bloom_occupancy`.
    """
    import json as _json

    from .. import fsutil
    from ..operators.dedup import bloom_occupancy

    _refuse_interrupted_resize(store_path, spark=spark)
    bitmap = _read_state(spark, store_path)
    if bitmap is None:
        return None
    txt = fsutil.read_text(store_path.rstrip("/") + "/_bloom.json",
                           spark=spark)
    if txt is None:
        raise FileNotFoundError(
            f"bloom store {store_path!r} has commits but no "
            "_bloom.json sidecar — cannot recover n_bits/n_hashes")
    doc = _json.loads(txt)
    return bloom_occupancy(bitmap, n_bits=int(doc["n_bits"]),
                           n_hashes=int(doc["n_hashes"]))


def bloom_resize_store(spark, store_path: str, accepted_path: str, *,
                       key_col: str, n_bits: int,
                       n_hashes: int = 5) -> int:
    """Rebuild a :func:`foreach_batch_bloom_dedup` store's filter at a
    different size — the remedy when :func:`bloom_store_occupancy`
    shows saturation.  The Bloom hash family is immutable (old bits
    cannot be re-hashed), but the ACCEPTED output holds the exact key
    set the filter is supposed to remember, so the rebuild is one
    ``bloom_bitmap`` pass over ``distinct(accepted.key_col)`` — an
    EXACT reconstruction (no inherited false positives), at the same
    cost as any table-format rewrite.  Run it out-of-band between
    drains (single-writer contract), then resume the maintainer with
    the NEW ``n_bits``/``n_hashes``.

    Commit order is loud-on-crash in EVERY window: the new params are
    staged to ``_bloom.json.next`` BEFORE the bitmap commit, the
    sidecar rewrites after it, and the staging file is removed last.
    A crash anywhere mid-resize leaves the ``.next`` marker behind,
    and both the maintainer and :func:`bloom_store_occupancy` REFUSE
    while it exists (re-run the resize to heal — the rebuild is
    idempotent and the final delete clears the marker) — never a
    silently mis-probed filter.  Without the staged marker, a crash
    between commit and sidecar rewrite would leave the OLD sidecar
    next to the NEW-family bitmap, and a maintainer resumed with the
    old params would pass validation and merge mixed hash families.
    The commit replaces the store's one bucket whole, keeping the
    committed epoch.  Returns the committed version."""
    import json as _json

    from .. import fsutil
    from ..operators.dedup import bloom_bitmap
    from ..sources.manifest import manifest_current, manifest_merge

    if n_bits < 64:
        raise ValueError("n_bits must be >= 64")
    cur = manifest_current(store_path, spark=spark)
    if cur is None:
        raise ValueError(
            f"nothing committed at {store_path!r} to resize")
    keys = (spark.read.parquet(accepted_path)
            .select(key_col).distinct())
    bitmap = bloom_bitmap(keys, key_col, n_bits=n_bits,
                          n_hashes=n_hashes)
    doc = _json.dumps({"n_bits": n_bits, "n_hashes": n_hashes})
    next_path = store_path.rstrip("/") + "/_bloom.json.next"
    fsutil.write_text_atomic(next_path, doc, spark=spark)
    # a zero-bits placeholder word routes the commit to the store's
    # one bucket even when no key was accepted, so the old family's
    # bits are always replaced; the merge drops it again (a bitmap
    # stores non-zero words only)
    placeholder = local_df(spark, [(-1, 0)], bitmap.schema)
    version = manifest_merge(
        bitmap.unionByName(placeholder), store_path, ["word"],
        epoch_id=cur[1], n_buckets=1,
        merge_fn=lambda _stored, new: new.filter(F.col("bits") != 0))
    fsutil.write_text_atomic(
        store_path.rstrip("/") + "/_bloom.json", doc, spark=spark)
    fsutil.delete(next_path, spark=spark)
    return version


def foreach_batch_cms(stream_df: DataFrame, store_path: str, *,
                      key_col: str, depth: int = 5, width: int = 8192,
                      weight_col: Optional[str] = None,
                      checkpoint: Optional[str] = None):
    """Memory-bounded streaming frequency state: maintain a count-min
    sketch (``operators.sketches``) over ``key_col`` across
    micro-batches — the frequency twin of
    :func:`foreach_batch_bloom_dedup`'s membership bitmap.  State is
    <= depth * width counter rows however many distinct keys the
    stream has carried; the merged store equals the one-shot sketch
    of every row ever drained (cell-wise integer addition is exactly
    associative), so downstream heavy-hitter queries
    (``cms_heavy_hitters_against``) read the store instead of holding
    a full-cardinality groupBy as state.

    Per batch: one ``cms_build`` over the batch, committed with an
    ADDITIVE ``manifest_merge`` keyed by ``(d, pos)`` — the store's
    ``groupBy(d, pos).sum(cnt)`` is ``cms_merge``.  The sketch is
    COMPACT state and every batch touches nearly every cell, so the
    store has one bucket and each commit is a one-file rewrite (a
    sketch big enough to want more means ``width`` was sized like a
    table — rethink it).  The pointer carries the epoch WITH the
    counters, so the additive merge is exactly-once under replay, and
    a path holding a swap or full-snapshot store from an older layout
    raises ValueError; like every additive
    maintainer here, the guard needs MONOTONIC batch ids (a
    ``checkpoint``), and resuming an existing store without one
    warns — a reused batch id would silently skip a genuinely-new
    batch's counts.  ``depth``/``width`` define the hash family and
    are immutable for the store's lifetime (``_cms.json`` sidecar,
    validated at resume — same contract as the bloom store)."""
    import json as _json
    import warnings

    from .. import fsutil
    from ..operators.sketches import cms_build
    from ..sources.manifest import manifest_current, manifest_merge

    params_path = store_path.rstrip("/") + "/_cms.json"
    session = stream_df.sparkSession
    _refuse_retired_layout(store_path, "foreach_batch_cms",
                           spark=session)
    prior = fsutil.read_text(params_path, spark=session)
    if prior is not None:
        doc = _json.loads(prior)
        if (int(doc["depth"]), int(doc["width"])) != (depth, width):
            raise ValueError(
                f"cms store {store_path!r} was built with depth="
                f"{doc['depth']}, width={doc['width']}; got "
                f"({depth}, {width}) — the hash family is immutable "
                "for the store's lifetime")
    if (checkpoint is None
            and manifest_current(store_path, spark=session) is not None):
        warnings.warn(
            "foreach_batch_cms: resuming an existing cms store "
            f"({store_path!r}) WITHOUT a checkpoint location — batch "
            "ids restart at 0 each run, so the epoch guard skips any "
            "batch id the store has already committed and those "
            "batches' counts are silently lost. Pass checkpoint= for "
            "incremental use; only a byte-identical re-drain is safe "
            "without it.", stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = manifest_current(store_path, spark=spark)
        if cur is not None and epoch_id <= cur[1]:
            return  # replayed batch already counted
        add = cms_build(batch_df, key_col, depth=depth, width=width,
                        weight_col=weight_col)
        # sidecar BEFORE the first commit (publish-last-pointer
        # discipline): a crash between first commit and a trailing
        # sidecar write would leave committed counters with no pinned
        # hash family — a resume with different depth/width would
        # skip validation and cms_merge would silently sum counters
        # from two incompatible families
        if fsutil.read_text(params_path, spark=spark) is None:
            fsutil.ensure_dir(store_path, spark=spark)
            fsutil.write_text_atomic(
                params_path,
                _json.dumps({"depth": depth, "width": width}),
                spark=spark)
        manifest_merge(add, store_path, ["d", "pos"], mode="additive",
                       value_cols=["cnt"], n_buckets=1,
                       epoch_id=epoch_id)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def cms_store(spark, store_path: str):
    """The committed sketch of a :func:`foreach_batch_cms` store plus
    its pinned hash family: ``(sketch DataFrame, depth, width)`` —
    hand these straight to ``cms_estimate`` /
    ``cms_heavy_hitters_against``.  ``None`` when nothing was ever
    committed; a store whose commits counted nothing gives an empty
    sketch."""
    import json as _json

    from .. import fsutil

    sketch = _read_state(spark, store_path)
    if sketch is None:
        return None
    txt = fsutil.read_text(store_path.rstrip("/") + "/_cms.json",
                           spark=spark)
    if txt is None:
        raise FileNotFoundError(
            f"cms store {store_path!r} has commits but no _cms.json "
            "sidecar — cannot recover depth/width")
    doc = _json.loads(txt)
    return sketch, int(doc["depth"]), int(doc["width"])


def foreach_batch_zonemap_append(stream_df: DataFrame, path: str, *,
                                 cluster_by: Sequence[str],
                                 stats_cols: Optional[
                                     Sequence[str]] = None,
                                 target_files_per_batch: int = 4,
                                 compact_every: int = 0,
                                 compact_target_files: int = 32,
                                 evolve_schema: bool = False,
                                 checkpoint: Optional[str] = None):
    """Streaming ingest into a zone-map clustered table
    (``sources.zonemap``): the first batch creates the table, later
    batches ``zonemap_append`` — each batch clusters LOCALLY and
    publishes by the atomic sidecar write, so reads are always exact
    and prune within every batch's files, while GLOBAL clustering
    decays with the append count.  ``compact_every=N`` runs the
    OPTIMIZE (``zonemap_compact``, full re-cluster to
    ``compact_target_files``) after every Nth batch — the standard
    streaming-ingest-plus-compaction table-format loop; leave it 0
    and drive compaction off ``zonemap_overlap`` out-of-band instead.

    Exactly-once: the sidecar carries the last committed epoch and
    ``zonemap_append`` skips batches at or below it; a crash between
    the parquet append and the sidecar publish leaves only orphan
    files (invisible to readers, reclaimed by ``zonemap_vacuum``) and
    the replay appends exactly once.  Like every epoch-guarded
    maintainer here the guard needs MONOTONIC batch ids — resuming an
    existing table without a ``checkpoint`` warns."""
    import warnings

    from ..sources.zonemap import (_load_sidecar, zonemap_append,
                                   zonemap_compact,
                                   zonemap_recover_compact,
                                   zonemap_write)

    session = stream_df.sparkSession
    try:
        side = _load_sidecar(path, spark=session)
    except FileNotFoundError:
        side = None
    if checkpoint is None and side is not None \
            and int(side.get("epoch", -1)) >= 0:
        warnings.warn(
            "foreach_batch_zonemap_append: resuming an existing table "
            f"({path!r}) WITHOUT a checkpoint location — batch ids "
            "restart at 0 each run, so the epoch guard skips any "
            "batch id the table has already committed and those "
            "batches' rows are silently lost. Pass checkpoint= for "
            "incremental use; only a byte-identical re-drain is safe "
            "without it.", stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # a compact_every OPTIMIZE may have crashed mid-swap (table
        # deleted, staging complete): heal BEFORE the exists check,
        # or this batch would recreate the table from itself alone
        # and orphan everything staged
        zonemap_recover_compact(path, spark=spark)
        try:
            _load_sidecar(path, spark=spark)
            exists = True
        except FileNotFoundError:
            exists = False
        if not exists:
            # mode="overwrite", NOT errorifexists: a first batch that
            # crashed between its parquet write and the sidecar
            # publish leaves a sidecar-less directory, and the replay
            # must clear it rather than wedge on "path exists" — the
            # sidecar is the commit point, so nothing published is
            # ever overwritten
            zonemap_write(batch_df, path, cluster_by=cluster_by,
                          stats_cols=stats_cols,
                          target_files=target_files_per_batch,
                          epoch_id=epoch_id, mode="overwrite")
        else:
            zonemap_append(batch_df, path,
                           target_files=target_files_per_batch,
                           epoch_id=epoch_id,
                           evolve_schema=evolve_schema)
        if compact_every > 0 and epoch_id % compact_every == \
                compact_every - 1:
            zonemap_compact(spark, path,
                            target_files=compact_target_files)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_delta_append(stream_df: DataFrame, table: str, *,
                               partition_by=None,
                               app_id: str,
                               checkpoint: Optional[str] = None):
    """Streaming ingest into a Delta table (``sources.delta``) with
    the spec's OWN exactly-once mechanism: every micro-batch commits
    with a ``txn`` action ``(appId=app_id, version=epoch_id)``, and
    ``write_delta`` skips any batch whose version the table has
    already recorded — the idempotent-streaming rule Delta readers and
    writers agree on, so even a FOREIGN Delta engine resuming this
    stream honors the guard.  A crash between data staging and the
    commit leaves orphan files (invisible to readers; reclaimed by
    ``delta_vacuum``) and the replay commits exactly once.

    Like every epoch-guarded maintainer here, the guard needs
    MONOTONIC batch ids — pass ``checkpoint=`` for incremental use
    across restarts.
    """
    from ..sources.delta import write_delta

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_delta(batch_df, table, mode="append",
                    partition_by=partition_by,
                    txn_app_id=app_id, txn_version=int(epoch_id))

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_text_index(stream_df: DataFrame, store_path: str, *,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             n_buckets: int = 64,
                             stop_tokens: Sequence[str] = (),
                             block_limit: Optional[int] = None,
                             with_positions: bool = False,
                             checkpoint: Optional[str] = None):
    """Continuously maintained inverted token index
    (``operators.textindex``): per micro-batch, tokenize ONLY the
    batch's documents into postings rows and merge them into the
    manifest-store index — per-token postings concatenate, df and the
    corpus totals (N, Σdl) update, all published by the store's one
    atomic pointer-with-epoch commit, so after draining the store
    equals ``build_text_index`` over everything ever seen and
    ``text_index_search`` serves BM25 without touching the corpus.

    Cost per batch: O(batch tokens) to build + O(touched tokens'
    buckets) to rewrite — never a store rewrite.  Contract: the
    stream is APPEND-ONLY and each doc_id arrives in exactly ONE
    batch (the same contract as the MinHash index maintainer);
    updated documents need a rebuild.  Replay is exactly-once via the
    manifest epoch guard, which (like every additive maintainer here)
    needs MONOTONIC batch ids: resuming an existing store without a
    ``checkpoint`` warns, because restarted batch ids would silently
    skip genuinely-new batches.  ``block_limit`` (default
    ``textindex.DEFAULT_BLOCK_LIMIT``) bounds every stored postings
    row — use the same value across resumes of one store."""
    import warnings
    from functools import partial

    from ..operators.textindex import (DEFAULT_BLOCK_LIMIT, _pin_layout,
                                       merge_postings, postings_frame)
    from ..sources.manifest import manifest_current, manifest_merge

    if block_limit is None:
        block_limit = DEFAULT_BLOCK_LIMIT
    session = stream_df.sparkSession
    # pin (or validate) the store's build layout up front, driver-side:
    # a resume with a different stop list / block_limit / positional
    # flag fails HERE, before any batch commits under the wrong layout
    _pin_layout(store_path, session, stop_tokens=stop_tokens,
                block_limit=block_limit, with_positions=with_positions)
    if (checkpoint is None
            and manifest_current(store_path, spark=session) is not None):
        warnings.warn(
            "foreach_batch_text_index: resuming an existing index "
            f"({store_path!r}) WITHOUT a checkpoint location — batch "
            "ids restart at 0 each run, so the epoch guard skips any "
            "batch id the store has already committed and those "
            "batches' documents are silently never indexed. Pass "
            "checkpoint= for incremental use; only a byte-identical "
            "re-drain is safe without it.", stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = manifest_current(store_path, spark=spark)
        if cur is not None and epoch_id <= cur[1]:
            return  # replayed batch: already indexed
        frame = postings_frame(batch_df, text_col=text_col,
                               id_col=id_col, stop_tokens=stop_tokens,
                               block_limit=block_limit,
                               with_positions=with_positions)
        # materialize once: manifest_merge evaluates updates twice
        # and the tokenize is the expensive part
        frame = frame.localCheckpoint(eager=True)
        manifest_merge(frame, store_path, ["token"],
                       epoch_id=epoch_id, n_buckets=n_buckets,
                       merge_fn=partial(merge_postings,
                                        block_limit=block_limit))

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_vector_index(stream_df: DataFrame, store_path: str,
                               *, vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               n_centroids: int = 16,
                               n_buckets: int = 16,
                               quantize: bool = False,
                               pq_m: int = 0,
                               centroids=None,
                               checkpoint: Optional[str] = None):
    """Continuously maintained IVF vector index
    (``operators.vectorindex``): per micro-batch, cell-assign ONLY
    the batch's vectors under the store's pinned quantizer and merge
    them into the cell-keyed manifest store — published by the one
    atomic pointer-with-epoch commit, so after draining the store
    equals ``build_vector_index`` over everything ever seen and
    ``vector_index_topk`` serves ANN without touching the corpus.

    The coarse quantizer must be FIXED before vectors accumulate
    (cells are immutable): pass ``centroids`` (the production path —
    fit once on a representative sample), point at a store whose
    sidecar already pins them, or let the FIRST batch serve as the
    fit sample (standard IVF practice; fine when batch one is
    representative, documented here so it is a choice, not a
    surprise).  ``pq_m`` routes the store through the PQ codec — its
    sub-space codebooks pin with the first batch exactly like the
    coarse quantizer.  Contract and replay semantics match the
    text-index maintainer: append-only ids, one batch per id,
    exactly-once via the manifest epoch guard, monotonic batch ids
    (resume an existing store WITH its checkpoint)."""
    import warnings

    from ..operators.vectorindex import build_vector_index
    from ..sources.manifest import manifest_current

    session = stream_df.sparkSession
    if (checkpoint is None
            and manifest_current(store_path, spark=session) is not None):
        warnings.warn(
            "foreach_batch_vector_index: resuming an existing index "
            f"({store_path!r}) WITHOUT a checkpoint location — batch "
            "ids restart at 0 each run, so the epoch guard skips any "
            "batch id the store has already committed and those "
            "batches' vectors are silently never indexed. Pass "
            "checkpoint= for incremental use; only a byte-identical "
            "re-drain is safe without it.", stacklevel=2)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = manifest_current(store_path, spark=spark)
        if cur is not None and epoch_id <= cur[1]:
            return  # replayed batch: already indexed
        build_vector_index(batch_df, store_path, vec_col=vec_col,
                           id_col=id_col, n_centroids=n_centroids,
                           n_buckets=n_buckets, quantize=quantize,
                           pq_m=pq_m, centroids=centroids,
                           epoch_id=epoch_id)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_bks(stream_df: DataFrame, store_path: str, *,
                      value_col: str, id_col: str, k: int = 1024,
                      by: Sequence[str] = (), seed: int = 42,
                      store_buckets: int = 16,
                      checkpoint: Optional[str] = None):
    """Streaming quantile state with bounded memory: maintain a
    bottom-k-sample sketch (``operators.sketches.bks_build``) per
    group across micro-batches in the manifest store — ≤ k sample
    entries per group however many rows the stream has carried, and
    after draining the store EQUALS the one-shot ``bks_build`` over
    everything ever seen (the bottom-k merge identity), so
    ``bks_quantiles`` over the store matches the batch computation
    exactly.  The merge dedupes entries (set semantics), so an
    at-least-once replay is a no-op even past the epoch guard —
    belt and braces.  Contract: ``id_col`` unique across the WHOLE
    stream (it is the sampling draw)."""
    from ..operators.sketches import bks_build
    from ..sources.manifest import manifest_current, manifest_merge

    cols = list(by)
    if not cols:
        raise ValueError(
            "streaming BKS needs at least one `by` column (it keys "
            "the manifest store); for a global sketch add a constant "
            "group column")

    def _merge(stored, batch_state):
        both = batch_state if stored is None \
            else stored.unionByName(batch_state)
        return (both.groupBy(*cols)
                .agg(F.slice(F.array_sort(F.array_distinct(F.flatten(
                    F.collect_list("bks")))), 1, k).alias("bks")))

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = manifest_current(store_path, spark=spark)
        if cur is not None and epoch_id <= cur[1]:
            return  # replay (and the merge is idempotent anyway)
        state = bks_build(batch_df, value_col=value_col,
                          id_col=id_col, k=k, by=cols, seed=seed) \
            .localCheckpoint(eager=True)
        manifest_merge(state, store_path, cols, epoch_id=epoch_id,
                       n_buckets=store_buckets, merge_fn=_merge)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_minhash_index(stream_df: DataFrame, index_path: str, *,
                                text_col: str, id_col: str,
                                pairs_path: Optional[str] = None,
                                num_hashes: int = 64, bands: int = 16,
                                shingle_n: int = 3,
                                jaccard_threshold: float = 0.8,
                                max_bucket: Optional[int] = 4096,
                                checkpoint: Optional[str] = None):
    """Continuously maintained MinHash/LSH dedup index: per
    micro-batch, (1) find near-dup pairs WITHIN the batch, (2) find
    pairs of the batch AGAINST the existing index (only the new docs
    are shingled — the corpus text is never re-read), (3) upsert the
    batch's banded signatures into the durable index keyed on
    (id, band).  After draining, the index equals ``minhash_banded``
    over everything ever seen, and the accumulated pairs equal the
    one-shot ``minhash_lsh_dup_pairs`` over the full corpus REGARDLESS
    of batch boundaries: a pair (x, y) with x in batch i surfaces
    within-batch when y co-arrives, or against the index when y is
    already resident.

    Both stores are PARTITIONED BY BATCH (``_epoch=<run>-<batch>``)
    and written with dynamic partition overwrite: every batch writes
    ONLY its own partition, so per-batch write cost is truly linear
    in batch size (never a store rewrite), and an at-least-once
    redelivery of a batch overwrites that same partition.  The run
    component makes partitions unique ACROSS queries feeding one
    store: derived from the checkpoint path when given (stable across
    crash-restarts, so recovery overwrites rather than duplicates),
    random otherwise (separate drains accumulate; Structured
    Streaming epoch ids alone restart at 0 per query and would
    collide).  Pair partitions are disjoint by construction (a pair
    surfaces exactly when its LATER document arrives, and the cross
    join excludes the current batch's own partition), so no
    cross-partition dedup is needed.  Pairs are canonicalized
    (id_a < id_b).  Per-batch read cost: one banded equi-join against
    the accumulated index — the 100 TB ingest-dedup topology.  When
    ``pairs_path`` is None only the index is maintained and no pair
    plan is built at all.  ``max_bucket`` is the banded-join skew
    guard (``operators.dedup._cap_hot_lsh_buckets``): hot buckets are
    capped to an exemplar at pair time (members pair against it, so
    oversized dup clusters keep their membership) and the index
    stores are NEVER filtered — every signature is retained.  One
    stated caveat: the batch≡one-shot PAIR equality above is exact
    for corpora where the guard never fires; when it does, a bucket
    can be hot in the one-shot run but split below ``max_bucket``
    across batches (or vice versa), so the two paths may pick
    different exemplars — both keep cluster membership, but the pair
    SETS can differ on guard-affected buckets.
    """
    from .. import fsutil
    from ..operators.dedup import (minhash_banded,
                                   minhash_lsh_dup_pairs_banded,
                                   minhash_lsh_pairs_against_banded)

    kw = dict(num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
    run_tag = _store_run_tag(checkpoint)

    def _canon(p: DataFrame) -> DataFrame:
        return p.select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                        "est_jaccard")

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"{run_tag}-{int(epoch_id)}"
        # band ONCE per batch: the within-batch self-join, the
        # vs-index join, and the index write all consume the same
        # signatures — the per-source formulation re-ran the
        # shingle+hash+aggregate pipeline three times per batch
        sigs = minhash_banded(batch_df, text_col, id_col=id_col,
                              **kw).localCheckpoint(eager=True)
        if pairs_path is not None:
            have_index = fsutil.dir_exists(index_path, spark=spark)
            canon = _canon(minhash_lsh_dup_pairs_banded(
                sigs, id_col=id_col, num_hashes=num_hashes,
                jaccard_threshold=jaccard_threshold, persist=False,
                max_bucket=max_bucket, materialize=False))
            if have_index:
                # exclude THIS batch's own partition (partition-
                # pruned): on a redelivery the index already holds
                # this batch's signatures, which would re-emit every
                # within-batch pair a second time via the cross join
                idx = spark.read.parquet(index_path) \
                    .filter(F.col("_epoch") != tag)
                canon = canon.unionByName(_canon(
                    minhash_lsh_pairs_against_banded(
                        sigs, idx, id_col=id_col,
                        num_hashes=num_hashes,
                        jaccard_threshold=jaccard_threshold,
                        max_bucket=max_bucket)))
            _write_batch_partition(canon, pairs_path, tag)
        _write_batch_partition(sigs, index_path, tag)

    return _start_foreach_batch(stream_df, _batch, checkpoint)


def foreach_batch_embedding_index(stream_df: DataFrame, index_path: str,
                                  *, vec_col: str, id_col: str, dim: int,
                                  pairs_path: Optional[str] = None,
                                  n_planes: int = 8, seed: int = 42,
                                  threshold: float = 0.95,
                                  max_bucket: Optional[int] = 4096,
                                  checkpoint: Optional[str] = None):
    """Continuously maintained SEMANTIC dedup index — the embedding
    twin of :func:`foreach_batch_minhash_index`: per micro-batch,
    (1) near-dup pairs WITHIN the batch via hyperplane-LSH code
    blocking + exact cosine verify, (2) pairs of the batch AGAINST
    the resident index (code equi-join — only the new vectors are
    hashed), (3) the batch's (id, normalized vector, code) rows land
    in the index.  Stores are batch-partitioned exactly like the
    MinHash maintainer (``_epoch=<run>-<batch>`` dynamic overwrite —
    linear per-batch write cost, redelivery overwrites itself,
    separate runs accumulate, the cross join excludes the current
    batch's own partition).

    Vectors are L2-normalized ONCE at ingest so every verification is
    a single dot product; the index stores normalized vectors because
    the verify stage needs them — that IS the vector index, sized
    like the corpus embeddings.  ``dim`` fixes the hyperplanes up
    front: every batch and every run must hash with the SAME planes
    (same dim/n_planes/seed) or codes stop being comparable.
    Pair recall is the documented hyperplane-LSH trade
    (agree-per-bit prob 1 − θ/π) — audited against exact in
    tests/test_dedup_similarity.py, never silent.

    ``max_bucket`` is the hot-code skew guard (VERDICT r9 #6, the
    embedding twin of the minhash maintainer's): a sign-code bucket
    holding more rows than it — identical/degenerate vectors — is
    capped at JOIN time to its min-id exemplar on both the
    within-batch self-join and the index side of the cross join,
    with every batch member still paired against the exemplar
    (cluster membership at linear cost, loud warning).  The INDEX
    STORE is never filtered — every vector is retained.  The index-
    side count costs one column-pruned scan per batch, cheap next to
    the cross join that already reads the index.
    """
    import warnings

    from .. import fsutil
    from ..operators.similarity import (_dot, _hyperplanes, _norm,
                                        lsh_code_expr)

    planes = _hyperplanes(dim, n_planes, seed)
    run_tag = _store_run_tag(checkpoint)

    def _cap(frame: DataFrame, context: str):
        """(capped frame, exemplar-member ranked rows or None)."""
        if max_bucket is None:
            return frame, None
        hot = (frame.groupBy("_code")
               .agg(F.count(F.lit(1)).alias("_bk"))
               .filter(F.col("_bk") > max_bucket))
        stat = hot.agg(F.count(F.lit(1)).alias("nb"),
                       F.sum("_bk").alias("nr")).collect()[0]
        if not stat["nb"]:
            return frame, None
        warnings.warn(
            f"foreach_batch_embedding_index[{context}]: capping "
            f"{stat['nb']} hot LSH code bucket(s) holding "
            f"{stat['nr']} rows to their min-id exemplar (over "
            f"max_bucket={max_bucket} vectors in one sign code). "
            "Members still pair against the exemplar; the index "
            "store keeps every vector.", stacklevel=3)
        hotk = F.broadcast(hot.select("_code"))
        cold = frame.join(hotk, "_code", "left_anti")
        w = Window.partitionBy("_code").orderBy(F.col("_id").asc())
        ranked = (frame.join(hotk, "_code", "left_semi")
                  .withColumn("_rn", F.row_number().over(w)))
        ex = ranked.filter(F.col("_rn") == 1).drop("_rn")
        return cold.unionByName(ex), ranked

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"{run_tag}-{int(epoch_id)}"
        # a wrong dim would zip_with-pad the plane dot to NULL and
        # collapse EVERY code to 0 — one silent O(n^2) block; fail loud
        checked = F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col))                    .otherwise(F.raise_error(F.concat(
                       F.lit("foreach_batch_embedding_index: vector of "
                             "length "),
                       F.size(F.col(vec_col)).cast("string"),
                       F.lit(f" != dim={dim}"))))
        v = F.transform(checked, lambda x: x.cast("double"))
        norm = _norm(v)
        # zero-norm vectors (upstream failure sentinels) index as
        # zeros: they never match anything (cosine undefined), instead
        # of poisoning the store with all-NULL arrays
        unit = F.when(norm > 0,
                      F.transform(v, lambda x: x / norm))                 .otherwise(F.transform(v, lambda x: x * 0.0))
        base = batch_df.select(
            F.col(id_col).alias("_id"),
            unit.alias("_v"),
            lsh_code_expr(checked, planes).alias("_code"))
        base = base.localCheckpoint(eager=True)
        if pairs_path is not None:
            have_index = fsutil.dir_exists(index_path, spark=spark)
            base_j, ranked = _cap(base, "batch")
            a, b = base_j.alias("a"), base_j.alias("b")
            pairs = (a.join(b, (F.col("a._code") == F.col("b._code")) &
                               (F.col("a._id") < F.col("b._id")))
                     .select(F.col("a._id").alias("id_a"),
                             F.col("b._id").alias("id_b"),
                             _dot(F.col("a._v"),
                                  F.col("b._v")).alias("cosine")))
            if ranked is not None:
                # exemplar-member pairs keep the capped cluster's
                # within-batch membership (exemplar = bucket min id)
                ex = ranked.filter(F.col("_rn") == 1).select(
                    "_code", F.col("_id").alias("id_a"),
                    F.col("_v").alias("_ev"))
                extra = (ranked.filter(F.col("_rn") > 1)
                         .select("_code", F.col("_id").alias("id_b"),
                                 F.col("_v").alias("_mv"))
                         .join(F.broadcast(ex), "_code")
                         .select("id_a", "id_b",
                                 _dot(F.col("_ev"),
                                      F.col("_mv")).alias("cosine")))
                pairs = pairs.unionByName(extra)
            if have_index:
                idx = spark.read.parquet(index_path) \
                    .filter(F.col("_epoch") != tag)
                # cap the INDEX side only: every batch row still gets
                # its own decision against the bucket exemplar
                idx_j, _ = _cap(idx.select("_id", "_v", "_code"),
                                "index")
                cross = (base.alias("n").join(
                    idx_j.alias("i"),
                    (F.col("n._code") == F.col("i._code")) &
                    (F.col("n._id") != F.col("i._id")))
                    .select(F.least("n._id", "i._id").alias("id_a"),
                            F.greatest("n._id", "i._id").alias("id_b"),
                            _dot(F.col("n._v"),
                                 F.col("i._v")).alias("cosine")))
                pairs = pairs.unionByName(cross)
            pairs = pairs.filter(F.col("cosine") >= threshold)
            _write_batch_partition(pairs, pairs_path, tag)
        _write_batch_partition(base, index_path, tag)

    return _start_foreach_batch(stream_df, _batch, checkpoint)
