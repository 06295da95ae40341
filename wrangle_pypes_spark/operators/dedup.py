"""Deduplication operators for training-data pipelines.

All hot paths are pure Column expressions (no Python per row).  The
tokenizer and shingle builders are higher-order functions, which Spark
interprets rather than codegens and never shares between consumers, so
the MinHash and SimHash signatures project a document's tokens ONCE
into a child column that the shingle builder reads.

The LSH family follows the standard web-scale recipe
(shingle -> MinHash -> band -> bucket equi-join -> verify): candidate
generation is an EQUI-join on (band_index, band_hash), so the shuffle is
linear in corpus size — never the O(n^2) all-pairs compare.

Determinism: every hash is ``xxhash64(seed, value)`` with fixed integer
seeds, so signatures are stable across runs/partitionings (required for
the rows-only oracle checks and for incremental re-runs at scale).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the engine's one tokenizer (quality.py imports it the same way):
# dedup, quality rules and decontamination must segment text alike
from ..functions.text import tokens as tokens_col
from ..localdf import local_df


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

_NULL_TAG = "_wps_null_tag"


def _null_key_tag(df: DataFrame, key_cols: Sequence[str],
                  null_keys: str):
    """Shared NULL-key policy for the exact-dedup family.  Spark's
    ``dropDuplicates``/``groupBy`` treat NULL keys as EQUAL, so a key
    like ``canonical_url`` (NULL = "not a URL") would collapse every
    NULL-keyed row corpus-wide.  ``"group"`` keeps that Spark-native
    behavior; ``"keep"`` makes each NULL-keyed row its OWN group
    (NULL = key unknown, not key equal) by tagging it with a unique
    surrogate that joins the dedup key — a map-only column on the ONE
    existing scan and shuffle, not a second pass over the input.
    Returns (df, extra_key_cols)."""
    if null_keys not in ("group", "keep"):
        raise ValueError(f"null_keys must be 'group' or 'keep', "
                         f"got {null_keys!r}")
    if null_keys == "group":
        return df, []
    any_null = None
    for c in key_cols:
        n = F.col(c).isNull()
        any_null = n if any_null is None else (any_null | n)
    tag = F.when(any_null, F.monotonically_increasing_id()) \
           .otherwise(F.lit(-1))
    return df.withColumn(_NULL_TAG, tag), [_NULL_TAG]


def exact_dedup(df: DataFrame, cols: Sequence[str],
                tie_breaker: Optional[str] = None, *,
                null_keys: str = "group") -> DataFrame:
    """Exact deduplication on ``cols``.

    With ``tie_breaker`` the kept row is deterministic (min tie_breaker
    per duplicate group) — required for oracle comparison and for
    reproducible pipelines; plain ``dropDuplicates`` keeps an arbitrary
    row.  One shuffle on ``cols`` either way.

    ``null_keys="keep"`` passes rows with a NULL dedup key through
    untouched instead of collapsing them into one NULL group — required
    when the key means "unknown" for some rows (e.g. ``canonical_url``
    is NULL for non-URLs).
    """
    keyed, extra = _null_key_tag(df, cols, null_keys)
    keys = list(cols) + extra
    if tie_breaker is None:
        out = keyed.dropDuplicates(keys)
    else:
        w = Window.partitionBy(*keys).orderBy(F.col(tie_breaker).asc())
        out = (keyed.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).drop("_rn"))
    return out.drop(*extra) if extra else out


def dedup_keep_best(df: DataFrame, key_cols: Sequence[str],
                    order_cols: Sequence[Column | str], *,
                    null_keys: str = "group") -> DataFrame:
    """One row per ``key_cols`` group: the row MAXIMIZING ``order_cols``
    (lexicographic; include a unique column last for a deterministic
    pick — e.g. keep the LONGEST document per content fingerprint with
    ``order_cols=[F.col("n_chars"), -F.col("doc_id")]``).

    Plan shape: a single aggregate — ``max_by(struct(*), struct
    (order))`` — with map-side ``partial_max_by``, so each task reduces
    its input to one candidate row per local key before the one shuffle
    on ``key_cols``.  That beats the window/row_number formulation,
    which shuffles EVERY row and then sorts each partition.  (Struct
    aggregation buffers fall back to SortAggregate rather than
    HashAggregate — the reduction still happens before the shuffle,
    which is what matters at scale.)  The same aggregate is what a
    streaming/incremental refresh would merge.

    ``null_keys="keep"`` passes rows with a NULL group key through
    untouched (see :func:`exact_dedup`).
    """
    out_cols = list(df.columns)
    keyed, extra = _null_key_tag(df, key_cols, null_keys)
    ordkey = F.struct(*[F.col(c) if isinstance(c, str) else c
                        for c in order_cols])
    payload = F.struct(*[F.col(c) for c in out_cols])
    best = (keyed.groupBy(*key_cols, *extra)
            .agg(F.max_by(payload, ordkey).alias("_best")))
    return best.select(*[F.col(f"_best.{c}").alias(c)
                         for c in out_cols])


# ---------------------------------------------------------------------------
# tokenize / shingle (shared by MinHash & Jaccard & SimHash)
# ---------------------------------------------------------------------------

_TOKS = "_wps_toks"


def _id_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_col, ``_TOKS``): the token array projected once per row.
    Every later use reads the column; ``CollapseProject`` does not
    inline a non-cheap expression that its consumer reads more than
    once, so the plan keeps exactly one ``split``."""
    return spread_small_input(df).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias(_TOKS))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set of a text column, as array<string>.

    A thin wrapper over :func:`_shingles_of` for single-column use;
    the corpus operators project the tokens once and call that form.
    Documents shorter than ``n`` tokens keep the prior semantics: one
    shingle of the whole (possibly empty or NULL) document.
    """
    return _shingles_of(tokens_col(text), n)


def _shingles_of(toks: Column, n: int) -> Column:
    """:func:`shingles` over a token-array column.

    One pass, no explode, no UDF — built by zipping the token array
    against its own shifted ``slice``s (an n-step ``zip_with`` chain).
    The chain shape is load-bearing: an index lambda that reads an
    OUTER array (``slice(toks, i, n)`` inside ``transform``)
    re-evaluates the tokenization per element in Spark's interpreted
    higher-order-function path — O(tokens²) per document (measured
    ~20× slower at sf0.1).  Here every slice is a HOF *child*,
    evaluated once per row; lambdas touch only their arguments.
    ``toks`` appears several times in the result, so pass a column
    reference, not the tokenizer expression.
    """
    wc = F.size(toks)
    k = wc - F.lit(n - 1)
    grams = F.slice(toks, 1, F.greatest(k, F.lit(0)))
    for j in range(2, n + 1):
        grams = F.zip_with(grams,
                           F.slice(toks, j, F.greatest(k, F.lit(0))),
                           lambda a, b: F.concat_ws(" ", a, b))
    # wc >= n is NULL for NULL text -> otherwise branch -> [""], the
    # same value the old index-transform produced there
    grams = F.when(wc >= n, grams) \
        .otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


def _h64(col: Column, seed: int) -> Column:
    """Deterministic 64-bit hash of a string column under a fixed seed."""
    return F.xxhash64(F.lit(seed), col)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Decouple map-side parallelism from the file layout: if the scan
    yields (much) fewer partitions than the cluster has slots, round-robin
    repartition to ``defaultParallelism`` before heavy per-row compute.

    The shingle/hash stages below do their expensive work in the MAP
    stage, whose task count is the input-split count — a handful of
    small parquet files would otherwise serialize the whole signature
    computation onto a couple of cores.  At scale this is a no-op
    (a 100 TB table yields far more splits than slots, and the guard
    skips the shuffle); it only fires for small files or post-filter
    frames, where the extra shuffle is pennies next to the compute it
    parallelizes."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:  # plan-only, no job
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str, *, id_col: str,
                       num_hashes: int = 64, shingle_n: int = 3) -> DataFrame:
    """id, signature array<long> of ``num_hashes`` minhashes.

    Strategy: project the tokens once, explode their shingles, then
    ONE codegen'd hash-aggregate with ``num_hashes``
    ``min(xxhash64(seed_i, shingle))`` buffers.  The explode looks
    expensive but wins at scale: partial (map-side) aggregation
    collapses each partition to one row per doc before the shuffle,
    the aggregate whole-stage-codegens, and there is no wide array
    materialization per row.  (The per-row ``transform``+``array_min``
    formulation benchmarked ~2-3x slower on sf0.1 because
    higher-order-function lambdas don't codegen.)
    """
    # Carter–Wegman family: hash each shingle TWICE, derive the i-th
    # hash as h1 + i*h2 (universal-family guarantee is enough for
    # minhash).  2 xxhash64 calls per shingle instead of num_hashes —
    # benchmarked ~2.5x faster at sf0.1 with identical recall.
    exploded = _id_tokens(df, text_col, id_col).select(
        F.col(id_col),
        F.explode(_shingles_of(F.col(_TOKS), shingle_n)).alias("_sh"))
    # masks keep h1 + i*h2 inside signed-long range under ANSI mode
    # (i < 64: 64 * 2^56 + 2^61 < 2^63); 56-bit hashes are ample.
    # the wide expression is ONE SQL string: a Column tree costs a
    # py4j round trip per node (~2s per plan at num_hashes=64)
    hashed = exploded.select(
        F.col(id_col),
        _h64(F.col("_sh"), 1).bitwiseAND(F.lit((1 << 61) - 1)).alias("_h1"),
        _h64(F.col("_sh"), 2).bitwiseAND(F.lit((1 << 56) - 1)).alias("_h2"))
    mins = ", ".join(f"min(_h1 + {i} * _h2)" for i in range(num_hashes))
    return hashed.groupBy(id_col).agg(F.expr(f"array({mins}) AS signature"))


def minhash_banded(df: DataFrame, text_col: str, *, id_col: str,
                   num_hashes: int = 64, bands: int = 16,
                   shingle_n: int = 3) -> DataFrame:
    """(id, signature, band, bhash) — the LSH index table.

    This is the artifact to PERSIST AS A TABLE at scale: signatures are
    ~0.1% of corpus bytes, and every later batch dedups against it via
    ``minhash_lsh_pairs_against`` without touching corpus text again.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col=id_col,
                              num_hashes=num_hashes, shingle_n=shingle_n)
    # one SQL string, as in minhash_signatures: band b hashes its
    # signature slice joined with ","
    def band(b: int) -> str:
        vals = "".join(f", CAST(signature[{b * rows_per_band + r}] AS STRING)"
                       for r in range(rows_per_band))
        return (f"named_struct('band', {b}, "
                f"'bhash', xxhash64({b}, concat_ws(','{vals})))")
    rows = ", ".join(band(b) for b in range(bands))
    return sigs.select(F.col(id_col), F.col("signature"),
                       F.expr(f"inline(array({rows}))"))


_HOT_BUCKET_CACHE: dict = {}
_HOT_BUCKET_CACHE_MAX = 32


def clear_hot_bucket_cache() -> None:
    """Drop the per-process hot-bucket memo (see
    :func:`_cap_hot_lsh_buckets`) — call after overwriting, in place,
    a corpus that repeated dedup calls re-plan identically."""
    _HOT_BUCKET_CACHE.clear()


def _cap_hot_lsh_buckets(banded: DataFrame, max_bucket: Optional[int],
                         context: str, id_col: str, *,
                         emit_member_pairs: bool = False,
                         materialize: bool = True
                         ) -> tuple[DataFrame, Optional[DataFrame]]:
    """Skew guard for the banded equi-join (VERDICT r8 #7, recall fix
    ADVICE r10): a boilerplate-grade shingle run makes one
    (band, bhash) bucket hold k docs and the join emit O(k²)
    candidate pairs.  Buckets holding more than ``max_bucket`` rows
    are CAPPED to one EXEMPLAR row (the bucket's min id) — loudly,
    with one warning carrying the bucket and row counts.

    Capping (not dropping) preserves cluster membership for exactly
    the case the old drop semantics lost: a near-dup CLUSTER larger
    than ``max_bucket`` makes every band's bucket hot, so the cluster
    had no surviving candidates at all.  Now every other row of a hot
    bucket still meets the bucket's exemplar:

    * ``emit_member_pairs=True`` (the self-join case) additionally
      returns the (exemplar, member) candidate pairs — id_a the
      exemplar (the bucket min, so id_a < id_b holds), with both
      signatures for the usual verification — linear in the hot
      rows, so a size-k cluster costs k-1 pairs instead of k²/2;
    * in the new-vs-corpus case the CORPUS side is capped, so every
      new doc in a hot bucket pairs against the corpus exemplar via
      the normal equi-join (linear), and no extra frame is needed.

    Returns ``(banded_capped, extra_candidates_or_None)``.
    ``max_bucket=None`` disables the guard (returns the input and
    None).  ``materialize`` localCheckpoints the banded frame FIRST
    (VERDICT r9 #2: the guard's count aggregate, the cold/hot splits
    and the downstream join otherwise re-evaluate the expensive
    shingle+minhash plan 2-3×).  Checkpoint, not persist — measured
    A/B at sf0.1 (4 warm runs each, same session): checkpoint
    ~2.0-2.3 s end-to-end vs ~3.1 s with persist; the truncated
    lineage lets the downstream self-join plan against a plain
    materialized scan, where the cached-plan path re-analyzed worse.
    Pass False when the input is a cheap re-readable scan (a stored
    signature table)."""
    if max_bucket is None:
        return banded, None
    if max_bucket < 2:
        raise ValueError(
            "max_bucket must be >= 2 (a 1-doc bucket emits no pairs)")
    import warnings

    # hot-bucket memo (r11, the ADVICE r10 pattern shared with
    # similarity._cap_hot_code_buckets): the guard's count aggregate
    # is one whole extra job per call even when nothing is hot, and
    # repeated calls over one corpus (serving loops, audit queries
    # comparing two configs, warm bench runs) re-pay it for the same
    # answer.  Key on the INPUT plan (before any checkpoint — the
    # checkpointed plan's identity changes per call); assumes data
    # under an identical plan is immutable within the process —
    # clear_hot_bucket_cache() after an in-place overwrite.
    try:
        key = (banded.semanticHash(), int(max_bucket))
    except Exception:  # pragma: no cover - semanticHash is stable API
        key = None
    hit = key is not None and key in _HOT_BUCKET_CACHE
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    if hit:
        hot_rows, nr = _HOT_BUCKET_CACHE[key]
    else:
        hot_rows = (banded.groupBy("band", "bhash")
                    .agg(F.count(F.lit(1)).alias("_bk"))
                    .filter(F.col("_bk") > max_bucket)
                    .select("band", "bhash", "_bk").collect())
        nr = sum(r["_bk"] for r in hot_rows)
        if key is not None:
            if len(_HOT_BUCKET_CACHE) >= _HOT_BUCKET_CACHE_MAX:
                _HOT_BUCKET_CACHE.pop(next(iter(_HOT_BUCKET_CACHE)))
            _HOT_BUCKET_CACHE[key] = (hot_rows, nr)
    if not hot_rows:
        return banded, None
    warnings.warn(
        f"{context}: capping {len(hot_rows)} hot LSH bucket(s) "
        f"holding {nr} banded rows to their min-id exemplar (over "
        f"max_bucket={max_bucket} docs in one (band, bhash) bucket — "
        "boilerplate-grade shingles whose candidate pairs would be "
        "quadratic). Members still pair against the exemplar "
        "(linear), and genuine near-dups also surface via their "
        "other bands; raise max_bucket to widen the cap.",
        stacklevel=3)
    spark = banded.sparkSession
    hotk = F.broadcast(local_df(
        spark, [(r["band"], r["bhash"]) for r in hot_rows],
        banded.select("band", "bhash").schema))
    cold = banded.join(hotk, ["band", "bhash"], "left_anti")
    w = Window.partitionBy("band", "bhash").orderBy(F.col(id_col).asc())
    ranked = (banded.join(hotk, ["band", "bhash"], "left_semi")
              .withColumn("_rn", F.row_number().over(w)))
    exemplars = ranked.filter(F.col("_rn") == 1).drop("_rn")
    capped = cold.unionByName(exemplars)
    extra = None
    if emit_member_pairs:
        ex = exemplars.select(
            "band", "bhash", F.col(id_col).alias("id_a"),
            F.col("signature").alias("sig_a"))
        extra = (ranked.filter(F.col("_rn") > 1)
                 .select("band", "bhash", F.col(id_col).alias("id_b"),
                         F.col("signature").alias("sig_b"))
                 .join(F.broadcast(ex), ["band", "bhash"])
                 .select("id_a", "id_b", "sig_a", "sig_b")
                 .dropDuplicates(["id_a", "id_b"]))
    return capped, extra


def _verified_pairs(cand: DataFrame, num_hashes: int,
                    jaccard_threshold: float) -> DataFrame:
    est = (F.size(F.filter(F.zip_with(F.col("sig_a"), F.col("sig_b"),
                                      lambda x, y: x == y),
                           lambda eq: eq))
           / F.lit(float(num_hashes)))
    return (cand.withColumn("est_jaccard", est)
                .filter(F.col("est_jaccard") >= jaccard_threshold)
                .select("id_a", "id_b", "est_jaccard"))


def minhash_lsh_pairs_against(new_df: DataFrame, banded_corpus: DataFrame,
                              text_col: str, *, id_col: str,
                              num_hashes: int = 64, bands: int = 16,
                              shingle_n: int = 3,
                              jaccard_threshold: float = 0.8,
                              max_bucket: Optional[int] = 4096
                              ) -> DataFrame:
    """Incremental near-dup detection: NEW batch vs an EXISTING banded
    signature table (from ``minhash_banded``, same parameters).

    Output: (id_a = new id, id_b = corpus id, est_jaccard).  This is the
    steady-state 100 TB topology — per batch, only the new documents are
    shingled and hashed (linear in batch size), and the join touches the
    corpus index, not the corpus text.  Self-pairs (same id on both
    sides) are excluded so a batch can be checked against an index that
    already contains it.
    """
    banded_new = minhash_banded(new_df, text_col, id_col=id_col,
                                num_hashes=num_hashes, bands=bands,
                                shingle_n=shingle_n)
    return minhash_lsh_pairs_against_banded(
        banded_new, banded_corpus, id_col=id_col, num_hashes=num_hashes,
        jaccard_threshold=jaccard_threshold, max_bucket=max_bucket)


def minhash_lsh_pairs_against_banded(banded_new: DataFrame,
                                     banded_corpus: DataFrame, *,
                                     id_col: str, num_hashes: int = 64,
                                     jaccard_threshold: float = 0.8,
                                     max_bucket: Optional[int] = 4096
                                     ) -> DataFrame:
    """:func:`minhash_lsh_pairs_against` when the NEW side is already
    banded (a caller that also stores the signatures computes them
    once and reuses the frame — the streaming index maintainer)."""
    # skew guard on the CORPUS side only: a hot corpus bucket is
    # capped to its exemplar, so each new doc in it emits ONE pair
    # (cluster membership preserved at linear cost — ADVICE r10); a
    # hot NEW-side bucket then fans out at most max_bucket corpus
    # rows per new doc (the same per-bucket bound as a cold bucket),
    # so the batch side needs no cap — and keeps every new doc's own
    # dedup decision.  The guard never filters what a caller stores —
    # only what joins here.  materialize=False: the corpus side is
    # normally a stored signature table (re-reads beat copying it).
    banded_corpus, _ = _cap_hot_lsh_buckets(
        banded_corpus, max_bucket, "minhash_lsh_pairs_against[corpus]",
        id_col, materialize=False)
    a = banded_new.alias("a")
    b = banded_corpus.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.bhash") == F.col("b.bhash")) &
                      (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")), "inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.signature").alias("sig_a"),
                     F.col("b.signature").alias("sig_b"))
             .dropDuplicates(["id_a", "id_b"]))
    return _verified_pairs(cand, num_hashes, jaccard_threshold)


def minhash_lsh_dup_pairs(df: DataFrame, text_col: str, *, id_col: str,
                          num_hashes: int = 64, bands: int = 16,
                          shingle_n: int = 3,
                          jaccard_threshold: float = 0.8,
                          persist: bool = True,
                          max_bucket: Optional[int] = 4096) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) via MinHash LSH.

    Pipeline: signatures -> split into ``bands`` -> explode one row per
    band -> equi-join on (band_idx, band_hash) to get candidates ->
    verify with full-signature estimated Jaccard >= threshold.

    Scale: candidate generation is a groupBy-free self equi-join whose
    key (band hash) is uniform by construction; the explode factor is
    ``bands`` (small constant).  The verify step re-compares only
    candidate pairs.  This is the standard 100 TB dedup topology
    (e.g. the C4/RefinedWeb recipes).

    ``persist`` materializes the banded signature table before the
    self-join: Spark does not reuse the exchange across the two join
    sides, so without it the whole shingle->hash->aggregate pipeline
    runs TWICE (measured 2x wall).  Signatures are ~0.1% of corpus
    bytes, so persisting them is the right call at any scale (at 100 TB
    you would write them to a table and join from there).

    ``max_bucket`` is the skew guard (``_cap_hot_lsh_buckets``):
    (band, bhash) buckets holding more docs than it — boilerplate-
    grade shingle collisions — are capped to their min-id EXEMPLAR,
    with every other member emitted as an (exemplar, member)
    candidate instead (loud warning): any one bucket's pair fan-out
    is bounded at max_bucket² + linear exemplar pairs instead of
    corpus², and a near-dup cluster larger than max_bucket keeps its
    membership through the exemplar hub (ADVICE r10 — drop semantics
    lost exactly the largest clusters).  ``None`` disables.
    """
    banded = minhash_banded(df, text_col, id_col=id_col,
                            num_hashes=num_hashes, bands=bands,
                            shingle_n=shingle_n)
    return minhash_lsh_dup_pairs_banded(
        banded, id_col=id_col, num_hashes=num_hashes,
        jaccard_threshold=jaccard_threshold, persist=persist,
        max_bucket=max_bucket)


def minhash_lsh_dup_pairs_banded(banded: DataFrame, *, id_col: str,
                                 num_hashes: int = 64,
                                 jaccard_threshold: float = 0.8,
                                 persist: bool = True,
                                 max_bucket: Optional[int] = 4096,
                                 materialize: bool = True) -> DataFrame:
    """:func:`minhash_lsh_dup_pairs` when the signatures are already
    banded — pass ``materialize=False`` when the frame is already a
    materialized scan (localCheckpoint / stored table) so the skew
    guard does not copy it again."""
    extra = None
    if max_bucket is not None:
        # the guard localCheckpoints (its count pass + splits + the
        # self-join would re-run shingle+minhash 2-3× otherwise), so
        # the persist flag only matters with the guard off
        banded, extra = _cap_hot_lsh_buckets(
            banded, max_bucket, "minhash_lsh_dup_pairs", id_col,
            emit_member_pairs=True, materialize=materialize)
    elif persist:
        banded = banded.persist()

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.bhash") == F.col("b.bhash")) &
                      (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.signature").alias("sig_a"),
                     F.col("b.signature").alias("sig_b"))
             .dropDuplicates(["id_a", "id_b"]))
    if extra is not None:
        cand = (cand.unionByName(extra)
                .dropDuplicates(["id_a", "id_b"]))
    return _verified_pairs(cand, num_hashes, jaccard_threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / small-candidate sets)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str, *, id_col: str,
                        shingle_n: int = 3,
                        threshold: float = 0.5,
                        prefilter_tokens: int = 2,
                        persist: bool = True,
                        max_bucket: Optional[int] = 4096) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    Candidate generation uses a token-prefix blocking key (the first
    ``prefilter_tokens`` tokens) so the self-join is an equi-join,
    then exact Jaccard on shingle sets verifies.  For a full-corpus
    exact run at scale, swap the blocking key for the LSH candidates
    above; this operator is the *verifier* of that pipeline.

    ``max_bucket`` closes the blocking key's stated skew limit
    (VERDICT r10 #6): a corpus where thousands of docs share the same
    leading tokens — boilerplate headers — used to make that one
    prefix bucket's self-join quadratic.  Hot prefix buckets now cap
    to their min-id EXEMPLAR with (exemplar, member) candidates
    emitted instead (``_cap_hot_lsh_buckets``, the same guard as the
    minhash/simhash joins — the prefix key maps onto its
    (band, bhash) shape): bounded fan-out, and a genuinely-duplicated
    cluster keeps its membership through the exemplar hub.  Every
    emitted pair, exemplar pairs included, still passes the EXACT
    Jaccard verify.  ``None`` disables (the pre-r11 behavior)."""
    # the guard's expected shape: the shingle set IS the signature
    # (the verify step needs it), the prefix key IS the bucket
    base = spread_small_input(df).select(
        F.col(id_col),
        shingles(F.col(text_col), shingle_n).alias("signature"),
        F.lit(0).alias("band"),
        F.concat_ws(" ", F.slice(tokens_col(F.col(text_col)), 1,
                                 prefilter_tokens)).alias("bhash"))
    if persist:  # shingle sets are recomputed per join side otherwise
        base = base.persist()
    extra = None
    if max_bucket is not None:
        # materialize=False: base is already persisted above, so the
        # guard's count pass warms the cache the join then reuses —
        # a localCheckpoint here would COPY the cache for nothing
        # (measured +0.8 s on the audit query that calls this twice)
        base, extra = _cap_hot_lsh_buckets(
            base, max_bucket, "ngram_jaccard_pairs", id_col,
            emit_member_pairs=True, materialize=False)
    a, b = base.alias("a"), base.alias("b")
    cand = (a.join(b, (F.col("a.bhash") == F.col("b.bhash")) &
                      (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                   "inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.signature").alias("sig_a"),
                     F.col("b.signature").alias("sig_b")))
    if extra is not None:
        # one block key per doc, and capped members never reach the
        # self-join — the union cannot duplicate a pair
        cand = cand.unionByName(extra)
    # shingles() returns DISTINCT sets, so |A ∪ B| = |A| + |B| − |A ∩ B|
    # exactly — one set intersection per pair instead of intersect +
    # union
    inter = F.size(F.array_intersect(F.col("sig_a"), F.col("sig_b")))
    union = F.size("sig_a") + F.size("sig_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (cand.select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text: Column, *, shingle_n: int = 2) -> Column:
    """64-bit SimHash of a text column, fully in Catalyst expressions.

    Per shingle: xxhash64 -> 64 sign contributions (+1/-1 per bit);
    aggregate sums them; the sign of each position forms the final bits.
    O(shingles × 64) arithmetic, zero shuffle, zero Python.
    """
    sh = shingles(text, shingle_n)
    # F.shiftright/shiftleft only take python-int shift amounts; the SQL
    # functions accept column amounts — call them directly.
    shr = lambda c, i: F.call_function("shiftright", c, i)  # noqa: E731
    shl = lambda c, i: F.call_function("shiftleft", c, i)   # noqa: E731
    bitvec = F.aggregate(
        sh,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(
                    shr(_h64(t, 7777), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1)).otherwise(F.lit(-1)).cast("long"),
            ),
            lambda a_, b_: a_ + b_,
        ),
    )
    return F.aggregate(
        F.zip_with(bitvec, F.sequence(F.lit(0), F.lit(63)),
                   lambda v, i: F.when(v > 0, shl(F.lit(1).cast("long"), i))
                                 .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(df: DataFrame, text_col: str, *, id_col: str,
                       shingle_n: int = 2) -> DataFrame:
    """id, simhash long — same semantics as ``simhash64`` but computed
    the scale way: explode distinct shingles, then ONE hash-aggregate
    with 64 ``sum(+/-1 per bit)`` columns (map-side partial agg before
    the shuffle, full whole-stage codegen), then reassemble the sign
    bits.  The pure-expression ``simhash64`` keeps the Column API for
    single-value use; this is the corpus path (the nested
    aggregate/transform lambdas in ``simhash64`` are interpreted, which
    benchmarked ~10x slower at sf0.1)."""
    # tokenize and hash each shingle ONCE in projections; the 64
    # aggregate columns only do shift/mask arithmetic on the hash
    exploded = _id_tokens(df, text_col, id_col).select(
        F.col(id_col),
        F.explode(_shingles_of(F.col(_TOKS), shingle_n)).alias("_sh"),
    ).select(F.col(id_col), _h64(F.col("_sh"), 7777).alias("_h"))
    # SQL-string expressions: see minhash_signatures (py4j plan cost)
    aggs = [F.expr(f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1 "
                   f"THEN 1 ELSE -1 END) AS _b{i}") for i in range(64)]
    agged = exploded.groupBy(id_col).agg(*aggs)
    sim = " | ".join(
        f"(CASE WHEN _b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(64))
    return agged.selectExpr(id_col, f"({sim}) AS simhash")


# ---------------------------------------------------------------------------
# duplicate clusters -> canonical doc (connected components)
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, *, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 20) -> DataFrame:
    """(id, component) for every node in ``edges``: component = min node
    id reachable — iterative min-label propagation.

    Scale: each iteration is one equi-join + hash-aggregate on the edge
    list (linear); near-dup graphs have tiny diameter so it converges in
    a handful of rounds (early-stops when no label changes).  Lineage is
    truncated per iteration with ``localCheckpoint`` — without it the
    plan doubles every round and the driver dies long before the data
    does (the classic iterative-Spark trap).

    If ``max_iter`` is reached before convergence (graph diameter >
    ``max_iter``) the labels are PARTIAL — some clusters carry more than
    one label, so downstream canonical-selection would keep extra
    "canonical" rows.  That case warns loudly rather than returning
    silently; raise ``max_iter`` (rounds needed ≈ graph diameter, tiny
    for near-dup graphs).
    """
    sym = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
           .distinct().localCheckpoint(eager=True))
    labels = (sym.select(F.col("s").alias("id")).distinct()
              .withColumn("comp", F.col("id"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iter):
        neigh = (sym.join(labels, sym.d == labels.id)
                 .groupBy("s").agg(F.min("comp").alias("ncomp")))
        # carry the previous label through the update so convergence is a
        # filter on the checkpointed frame — not an extra join per round
        new = (labels.join(neigh, labels.id == neigh.s, "left")
               .select(labels.id,
                       F.least(F.col("comp"),
                               F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                       F.col("comp").alias("_prev"))
               .localCheckpoint(eager=True))
        changed = (new.filter(F.col("comp") != F.col("_prev"))
                   .limit(1).count())
        labels = new.drop("_prev")
        if changed == 0:
            break
    if changed != 0:
        import warnings
        warnings.warn(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; labels are partial (clusters may carry multiple "
            "labels). Raise max_iter.", RuntimeWarning, stacklevel=2)
    return labels


def fuzzy_dedup_keep_canonical(df: DataFrame, pairs: DataFrame, *,
                               id_col: str,
                               max_iter: int = 20) -> DataFrame:
    """Keep ONE document per near-duplicate cluster (the min id — the
    cluster's canonical), plus every unpaired document.

    ``pairs`` is any (id_a, id_b) near-dup pair table (MinHash LSH,
    SimHash, embedding...).  This is the final step of the web-scale
    dedup recipe: pairs -> clusters -> one survivor per cluster.
    ``max_iter`` forwards to :func:`connected_components` (raise it for
    long duplicate chains; non-convergence warns there).
    """
    comp = connected_components(pairs, max_iter=max_iter)
    joined = df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
    return (joined.filter(F.col("comp").isNull() |
                          (F.col(id_col) == F.col("comp")))
                  .drop("comp"))


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(df: DataFrame, vec_col: str, *, id_col: str,
                             threshold: float = 0.95,
                             method: str = "lsh",
                             n_planes: int = 8,
                             seed: int = 42,
                             max_bucket: Optional[int] = 4096
                             ) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cosine) over an embedding
    column, ``cosine >= threshold``.

    ``method="exact"`` — all-pairs compare.  O(n^2): only for oracle
    verification and small corpora; the sf0.01 check runs it, 100 TB
    does not.

    ``method="lsh"`` — the scale path: random-hyperplane sign codes
    block the self-join (pairs that agree on the full code are
    candidates; high-cosine pairs agree on each bit with probability
    1 - theta/pi, so recall for cosine >= 0.95 with 8 planes is ~0.93;
    audited against exact in tests, never silent).  Shuffle is linear
    in corpus size on a uniform key.  ``max_bucket`` is the hot-code
    skew guard (VERDICT r9 #6, same semantics as the minhash side):
    a code bucket holding more rows — identical/degenerate vectors —
    is capped to its min-id EXEMPLAR with every member emitted as an
    (exemplar, member) candidate instead, loudly: an oversized
    near-dup cluster keeps its membership at linear cost instead of
    exploding the self-join quadratically.  ``None`` disables
    (the exact method never needs it).
    """
    from .similarity import cosine_expr, lsh_code_expr, _hyperplanes

    if method == "exact":
        from .similarity import _norm

        # hoist the per-ROW norm out of the per-PAIR expression: the
        # pair count is O(n^2), so computing norms once per row cuts
        # the dominant cost to one dot fold per pair.  Bit-identical
        # to cosine_expr — same in-order fold, sqrt, multiply, divide.
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        base = df.select(F.col(id_col).alias("_id"), v.alias("_v"),
                         _norm(v).alias("_n"))
        # small inputs arrive in 1-2 partitions; spread the O(n^2)
        # compare across the cluster before the cross product
        sc = df.sparkSession.sparkContext
        a = base.repartition(sc.defaultParallelism).alias("a")
        b = base.alias("b")
        cand = a.join(b, F.col("a._id") < F.col("b._id"), "inner")
    elif method == "lsh":
        sample = df.select(F.size(F.col(vec_col)).alias("d")).first()
        planes = _hyperplanes(int(sample["d"]), n_planes, seed)
        # normalize ONCE per vector (map stage, before the self-join):
        # candidate scoring then costs a single dot product per pair
        # instead of dot + two norms — at corpus scale the pair count
        # dwarfs the vector count, so per-pair work is what matters.
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
        base = df.select(F.col(id_col).alias("_id"),
                         F.transform(v, lambda x: x / norm).alias("_v"),
                         lsh_code_expr(F.col(vec_col), planes).alias("_code"))
        base = base.persist()  # avoid recomputing codes per join side
        extra = None
        if max_bucket is not None:
            if max_bucket < 2:
                raise ValueError("max_bucket must be >= 2")
            hot = (base.groupBy("_code")
                   .agg(F.count(F.lit(1)).alias("_bk"))
                   .filter(F.col("_bk") > max_bucket))
            stat = hot.agg(F.count(F.lit(1)).alias("nb"),
                           F.sum("_bk").alias("nr")).collect()[0]
            if stat["nb"]:
                import warnings

                warnings.warn(
                    f"embedding_near_dup_pairs: capping {stat['nb']} "
                    f"hot LSH code bucket(s) holding {stat['nr']} "
                    "rows to their min-id exemplar (over "
                    f"max_bucket={max_bucket} vectors in one sign "
                    "code — identical/degenerate embeddings whose "
                    "candidate pairs would be quadratic). Members "
                    "still pair against the exemplar (linear); raise "
                    "n_planes to split the bucket.", stacklevel=2)
                hotk = F.broadcast(hot.select("_code"))
                cold = base.join(hotk, "_code", "left_anti")
                w = Window.partitionBy("_code").orderBy(
                    F.col("_id").asc())
                ranked = (base.join(hotk, "_code", "left_semi")
                          .withColumn("_rn", F.row_number().over(w)))
                ex = ranked.filter(F.col("_rn") == 1).drop("_rn")
                base = cold.unionByName(ex)
                extra = (ranked.filter(F.col("_rn") > 1)
                         .select("_code", F.col("_id").alias("_mid"),
                                 F.col("_v").alias("_mv"))
                         .join(F.broadcast(ex.select(
                             "_code", F.col("_id").alias("_eid"),
                             F.col("_v").alias("_ev"))), "_code")
                         .select(  # exemplar = bucket min, so a < b
                             F.col("_eid").alias("id_a"),
                             F.col("_mid").alias("id_b"),
                             F.aggregate(
                                 F.zip_with(F.col("_ev"),
                                            F.col("_mv"),
                                            lambda x, y: x * y),
                                 F.lit(0.0),
                                 lambda acc, x: acc + x)
                             .alias("cosine")))
        a, b = base.alias("a"), base.alias("b")
        cand = (a.join(b, (F.col("a._code") == F.col("b._code")) &
                          (F.col("a._id") < F.col("b._id")), "inner"))
    else:
        raise ValueError(f"unknown method {method!r}")
    if method == "lsh":
        cos = F.aggregate(F.zip_with(F.col("a._v"), F.col("b._v"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
    else:
        from .similarity import _dot

        # cosine_expr with the row norms pre-computed above — the
        # arithmetic (and hence every rounded value) is unchanged
        cos = _dot(F.col("a._v"), F.col("b._v")) \
            / (F.col("a._n") * F.col("b._n"))
    out = (cand.select(F.col("a._id").alias("id_a"),
                       F.col("b._id").alias("id_b"),
                       cos.alias("cosine")))
    if method == "lsh" and extra is not None:
        # a vector lives in exactly ONE code, and the members were
        # removed from the join side, so the exemplar pairs cannot
        # also arrive via the self-join — a plain union suffices
        out = out.unionByName(extra)
    return out.filter(F.col("cosine") >= threshold)


def simhash_dup_pairs(df: DataFrame, text_col: str, *, id_col: str,
                      shingle_n: int = 2, max_hamming: int = 3,
                      chunks: int = 4, persist: bool = True,
                      max_bucket: Optional[int] = 4096) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``chunks`` chunks —
    any pair within distance < chunks must share at least one exact
    chunk, so candidates come from ``chunks`` equi-joins (linear
    shuffle), then the exact popcount filter verifies.

    ``max_bucket`` is the same skew guard as the minhash side
    (:func:`_cap_hot_lsh_buckets`, the block key here is (chunk idx,
    chunk value) instead of (band, bhash)): a boilerplate corpus where
    thousands of docs share a chunk value caps to the bucket's min-id
    exemplar with (exemplar, member) candidates emitted instead —
    identical-simhash clusters keep their membership at linear cost,
    never a quadratic join.  ``None`` disables.
    """
    width = 64 // chunks
    h = simhash_signatures(df, text_col, id_col=id_col, shingle_n=shingle_n)
    if persist:  # one 8-byte hash per doc; avoids 2x signature compute
        h = h.persist()
    chunk_arr = F.array(*[
        F.struct(F.lit(c).alias("c"),
                 F.shiftright(F.col("simhash"), c * width)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("v"))
        for c in range(chunks)])
    # the guard's expected shape: (id, signature, band, bhash) — the
    # simhash IS the signature, the chunk (idx, value) IS the bucket
    blocked = h.select(id_col, "simhash",
                       F.explode(chunk_arr).alias("ch")) \
               .select(F.col(id_col),
                       F.col("simhash").alias("signature"),
                       F.col("ch.c").alias("band"),
                       F.col("ch.v").alias("bhash"))
    # materialize=False: blocked derives from the persisted 8-byte
    # hashes — re-deriving it is a cached map, cheaper than copying
    blocked, extra = _cap_hot_lsh_buckets(
        blocked, max_bucket, "simhash_dup_pairs", id_col,
        emit_member_pairs=True, materialize=False)
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.bhash") == F.col("b.bhash")) &
                      (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.signature").alias("h_a"),
                     F.col("b.signature").alias("h_b"))
             .dropDuplicates(["id_a", "id_b"]))
    if extra is not None:
        cand = (cand.unionByName(
                    extra.select("id_a", "id_b",
                                 F.col("sig_a").alias("h_a"),
                                 F.col("sig_b").alias("h_b")))
                .dropDuplicates(["id_a", "id_b"]))
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (cand.withColumn("hamming", hamming)
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# paragraph-level (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

def paragraph_dedup(docs: DataFrame, text_col: str = "text", *,
                    id_col: str = "doc_id",
                    sep: str = r"\n{2,}", join_sep: str = "\n\n",
                    min_dup: int = 2, keep: str = "first") -> DataFrame:
    """Corpus-wide duplicated-paragraph removal (the CCNet/C4 recipe at
    paragraph granularity): split every document on ``sep``, hash each
    normalized paragraph (lowercase, whitespace-collapsed, md5 — md5 is
    bit-stable across engines, so the kept set is oracle-checkable),
    count occurrences corpus-wide, and drop every paragraph whose hash
    occurs at least ``min_dup`` times — keeping the single first
    occurrence (``keep="first"``, ordered by (doc id, position)) or
    none of them (``keep="none"``).  Navigation chrome, licence
    blocks, and share-bars are exactly the paragraphs this removes.

    Output: one row per input document — ``clean_text`` rebuilt from
    the surviving paragraphs in original order (joined with
    ``join_sep``), ``n_kept``, ``n_dropped``.  Documents whose every
    paragraph was dropped (or that were empty) come back with
    ``clean_text = ''`` — row count is always preserved.

    Scale shape: posexplode → map-side normalize+hash → ONE
    hash-keyed aggregate for (count, first-occurrence), equi-joined
    back on the hash (hash-partitioned sort-merge; the stats side is
    |distinct paragraphs| rows, never broadcast) → one doc-keyed
    regroup.  Per-paragraph rows are bounded by document length, and
    no task ever holds more than one document's paragraph list, so the
    topology is skew-safe at corpus scale.
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    paras = (docs
             .select(F.col(id_col).alias("_doc"),
                     F.posexplode(F.split(F.col(text_col), sep))
                     .alias("_pos", "_para"))
             .withColumn("_norm", F.trim(F.regexp_replace(
                 F.lower("_para"), r"\s+", " ")))
             .filter(F.col("_norm") != "")
             .withColumn("_h", F.md5("_norm")))
    stats = paras.groupBy("_h").agg(
        F.count("*").alias("_n"),
        F.min(F.struct("_doc", "_pos")).alias("_first"))
    joined = paras.join(stats, "_h")
    unique = F.col("_n") < min_dup
    if keep == "first":
        survives = unique | ((F.col("_doc") == F.col("_first._doc")) &
                             (F.col("_pos") == F.col("_first._pos")))
    else:
        survives = unique
    rebuilt = (joined.filter(survives)
               .groupBy("_doc")
               .agg(F.concat_ws(join_sep, F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("_pos", "_para"))),
                        lambda s: s["_para"])).alias("clean_text"),
                    F.count("*").alias("n_kept")))
    totals = paras.groupBy("_doc").agg(F.count("*").alias("_n_paras"))
    return (docs.select(F.col(id_col))
            .join(totals, F.col(id_col) == F.col("_doc"), "left")
            .drop("_doc")
            .join(rebuilt, F.col(id_col) == F.col("_doc"), "left")
            .drop("_doc")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    (F.coalesce("_n_paras", F.lit(0)) -
                     F.coalesce("n_kept", F.lit(0))).cast("long")
                    .alias("n_dropped")))


def span_dedup(docs: DataFrame, text_col: str = "text", *,
               id_col: str = "doc_id", span: int = 50, stride: int = 1,
               min_dup: int = 2, max_spans_per_doc: int = 100_000
               ) -> DataFrame:
    """Duplicated token-SPAN removal — the scalable fingerprint
    approximation of exact-substring dedup (the public recipe behind
    "Deduplicating Training Data Makes Language Models Better"-style
    cleaning, without a distributed suffix array): hash windows of
    ``span`` consecutive tokens, count window fingerprints corpus-wide,
    and DROP every token covered by a fingerprint seen at least
    ``min_dup`` times.  ``stride=1`` fingerprints every alignment
    (exact for duplicates ≥ span); ``stride>1`` switches to
    CONTENT-DEFINED anchoring — a window starts wherever its first
    token's md5 ≡ 0 (mod stride) — so the ~1/stride sampled windows
    land at the SAME positions inside a shared substring regardless of
    where it sits in each document (a fixed doc-aligned grid would only
    catch duplicates whose offsets happen to agree mod stride).  A
    duplicate of length L ≥ span is missed only when none of its first
    L−span+1 tokens anchors (probability ≈ (1−1/stride)^(L−span+1) —
    vanishing for long duplicates; documented approximation).
    Sub-paragraph template fragments that
    :func:`paragraph_dedup` cannot see (a duplicated sentence inside an
    otherwise-unique paragraph) are exactly what this removes.

    Output: one row per document — ``clean_text`` (surviving tokens
    re-joined with single spaces; tokenization is the engine-wide
    whitespace+lowercase contract), ``n_tokens``, ``n_removed``.
    Documents shorter than ``span`` tokens pass through unchanged
    (minus lowercasing/whitespace collapse).

    Scale shape: the window explode emits ~|tokens|/stride rows per doc
    (bounded by ``max_spans_per_doc`` against pathological documents —
    spans past the cap are not fingerprinted, so a doc's tail past
    ~cap·stride tokens is not dedup-checked) → ONE hash-keyed count
    aggregate → semi-join of the
    span stream against the tiny over-threshold fingerprint set (AQE
    broadcasts it) → per-doc regroup collecting only duplicated span
    STARTS (≤ spans per doc), which fold into merged coverage intervals
    before the per-token mask, so the mask test is O(tokens ×
    merged-intervals), not O(tokens × spans).
    """
    if span < 2:
        raise ValueError("span must be >= 2")
    if stride < 1:
        raise ValueError("stride must be >= 1")
    toks = tokens_col(F.col(text_col))
    base = docs.select(F.col(id_col).alias("_doc"),
                       toks.alias("_toks"),
                       F.size(toks).alias("_wc"))
    cand = F.sequence(F.lit(1), F.col("_wc") - span + 1)
    if stride > 1:
        # content anchor: md5 of the window's first token, engine-
        # portable (same contract as the sampling md5 draws)
        def _anchored(i):
            tok = F.element_at(F.col("_toks"), i.cast("int"))
            draw = F.conv(F.substring(F.md5(tok), 1, 4), 16, 10)
            return F.pmod(draw.cast("long"), F.lit(stride)) == 0
        cand = F.filter(cand, _anchored)
    starts_arr = F.slice(cand, 1, max_spans_per_doc)
    spans = (base
             .filter(F.col("_wc") >= span)
             .select("_doc", "_toks",
                     F.explode(starts_arr).alias("_start"))
             .select("_doc", "_start",
                     F.md5(F.concat_ws(
                         " ", F.slice("_toks", F.col("_start"), span)))
                     .alias("_h")))
    dup = (spans.groupBy("_h").agg(F.count("*").alias("_n"))
           .filter(F.col("_n") >= min_dup).select("_h"))
    starts = (spans.join(dup, "_h", "left_semi")
              .groupBy("_doc")
              .agg(F.sort_array(F.collect_list("_start")).alias("_starts")))
    # fold sorted starts into merged [lo, hi] coverage intervals so the
    # per-token test is linear in intervals, not raw spans
    iv = F.aggregate(
        F.col("_starts"),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) &
            (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["lo"].alias("lo"),
                    F.greatest(F.element_at(acc, -1)["hi"],
                               (s + span - 1).cast("int")).alias("hi"))))
        ).otherwise(F.concat(acc, F.array(F.struct(
            s.cast("int").alias("lo"),
            (s + span - 1).cast("int").alias("hi"))))))
    joined = (base.join(starts, "_doc", "left")
              .select("_doc", "_toks", "_wc",
                      F.coalesce(iv, F.array().cast(
                          "array<struct<lo:int,hi:int>>")).alias("_iv")))
    kept = F.when(F.col("_wc") > 0, F.filter(
        F.zip_with(F.col("_toks"),
                   F.sequence(F.lit(1), F.greatest(F.col("_wc"), F.lit(1))),
                   lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda x: ~F.exists("_iv", lambda v: (x["i"] >= v["lo"]) &
                            (x["i"] <= v["hi"])))) \
        .otherwise(F.array().cast("array<struct<t:string,i:int>>"))
    n_kept = F.size(kept)
    return joined.select(
        F.col("_doc").alias(id_col),
        F.concat_ws(" ", F.transform(kept, lambda x: x["t"]))
        .alias("clean_text"),
        F.col("_wc").cast("long").alias("n_tokens"),
        (F.col("_wc") - n_kept).cast("long").alias("n_removed"))


def semantic_dedup(df: DataFrame, vec_col: str, *, id_col: str,
                   n_clusters: Optional[int] = 16,
                   threshold: float = 0.95,
                   iters: int = 2, seed: int = 42,
                   max_iter_cc: int = 20,
                   target_cell_size: Optional[int] = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (the public
    cluster-then-compare recipe): k-means cluster the embeddings (the
    deterministic Lloyd fit from ``operators.similarity``), compare
    cosines ONLY within each cluster (the cluster is the blocking — the
    all-pairs O(n²) never happens), connect pairs ≥ ``threshold`` into
    duplicate groups, and keep one canonical (min id) per group plus
    every unclustered singleton.  Row shape of the output = input rows
    minus dropped near-duplicates.

    Approximation contract: a near-duplicate pair split across two
    clusters is missed — exactly SemDeDup's trade; raise ``n_clusters``
    quality via more iters, or audit with the exact pair op on a
    sample (tests do).  All stages are deterministic (seeded hash
    init), so re-runs keep the same survivors.

    Scale shape: one k-means fit (linear scans), one map-only cell
    assignment, one equi-join self-pair per cell (cell size bounds the
    quadratic term — the 100 TB knob is ``n_clusters`` ∝ corpus size),
    then components + canonical selection as in
    :func:`fuzzy_dedup_keep_canonical`.

    ``target_cell_size`` is the scale-correct way to set that knob:
    ``n_clusters = max(16, n_rows / target_cell_size)`` from one cheap
    count, so intra-cluster pair cost stays ~``n · target_cell_size``
    (linear in the corpus) instead of ``n² / k`` silently degrading as
    the corpus grows past a FIXED ``k`` — a fixed default of 16 on a
    10× corpus is 10× the pair work per cell.  Per-corpus-size cluster
    counts are exactly how the published SemDeDup configuration scales
    (~100k clusters at billions of docs).
    """
    from .similarity import _nearest_cells_udf, cosine_expr, kmeans_fit

    if target_cell_size is not None:
        if target_cell_size <= 0:
            raise ValueError("target_cell_size must be positive")
        n_rows = df.count()
        n_clusters = max(16, -(-n_rows // target_cell_size))
    elif n_clusters is None:
        raise ValueError("pass n_clusters or target_cell_size")
    centroids = kmeans_fit(df, vec_col, id_col=id_col, k=n_clusters,
                           iters=iters, seed=seed)
    assign = _nearest_cells_udf(centroids, 1)
    # per-ROW norm hoisted out of the per-PAIR cosine (the
    # intra-cluster pair count is the quadratic term); same in-order
    # arithmetic as cosine_expr
    from .similarity import _dot, _norm
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cells = df.select(F.col(id_col).alias("_id"),
                      v.alias("_v"), _norm(v).alias("_n"),
                      assign(F.col(vec_col))[0].alias("_cell"))
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (a.join(b, (F.col("a._cell") == F.col("b._cell")) &
                    (F.col("a._id") < F.col("b._id")))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     (_dot(F.col("a._v"), F.col("b._v"))
                      / (F.col("a._n") * F.col("b._n"))).alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .select("id_a", "id_b"))
    return fuzzy_dedup_keep_canonical(df, pairs, id_col=id_col,
                                      max_iter=max_iter_cc)


def pair_metrics(pred: DataFrame, truth: DataFrame, *,
                 id_a: str = "id_a", id_b: str = "id_b",
                 round_digits: int = 6) -> DataFrame:
    """Candidate-pair audit: precision / recall / F1 of a predicted
    duplicate-pair set against a reference set — the op that makes
    every approximate dedup config (LSH bands, SimHash radius, ANN
    probes) auditable as a first-class pipeline step instead of an
    offline notebook check.  Pairs are canonicalized (unordered, id_a <
    id_b) and deduplicated on both sides first.

    Output: ONE row — n_pred, n_truth, n_hit, precision, recall, f1
    (ratios NULL when their denominator is 0).  Counts are exact
    integers and each ratio is one exact-int division, so the audit is
    value-level checkable cross-engine.

    Scale shape: tag-union both pair streams, ONE pair-keyed aggregate
    (map-side partial) marking which side(s) saw each pair, then a
    single global rollup to one row.  Linear in |pred| + |truth|; no
    join of pair tables against each other.
    """
    def canon(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("_a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("_b"),
        ).distinct().withColumn("_src", F.lit(tag))

    tagged = canon(pred, "p").unionByName(canon(truth, "t"))
    marked = (tagged.groupBy("_a", "_b")
              .agg(F.max((F.col("_src") == "p").cast("int")).alias("_p"),
                   F.max((F.col("_src") == "t").cast("int")).alias("_t")))
    counts = marked.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("_p") * F.col("_t")), F.lit(0))
        .cast("long").alias("n_hit"))
    prec = F.when(F.col("n_pred") > 0,
                  F.col("n_hit") / F.col("n_pred"))
    rec = F.when(F.col("n_truth") > 0,
                 F.col("n_hit") / F.col("n_truth"))
    f1 = F.when((F.col("n_pred") + F.col("n_truth")) > 0,
                2.0 * F.col("n_hit")
                / (F.col("n_pred") + F.col("n_truth")))
    return counts.select(
        "n_pred", "n_truth", "n_hit",
        F.round(prec, round_digits).alias("precision"),
        F.round(rec, round_digits).alias("recall"),
        F.round(f1, round_digits).alias("f1"))


def bloom_bitmap(history: DataFrame, key_col: str, *,
                 n_bits: int = 1 << 22, n_hashes: int = 5) -> DataFrame:
    """Build a Bloom filter over ``history[key_col]`` as a BITMAP
    TABLE: one row per non-zero 64-bit word, ``(word bigint, bits
    bigint)`` — at most ``n_bits / 64`` rows regardless of history
    size, built in one pass (explode k positions → one ``bit_or``
    aggregate with map-side partials).

    A table, not a driver-side sketch, on purpose: PySpark exposes no
    executor-usable Bloom object, and a plan-literal bitmap stops
    scaling when ``n_bits`` outgrows the plan.  The table broadcasts
    to probes like any small dim.  Size ``n_bits ≈ 10–15 ×
    |distinct keys|`` for ~1% false positives with 5 hashes (the
    standard m/n ≈ 1.44·log2(1/p) sizing); positions are
    ``pmod(xxhash64(seed_i, key), n_bits)``.
    """
    if n_bits < 64:
        raise ValueError("n_bits must be >= 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    shl = lambda c, i: F.call_function("shiftleft", c, i)  # noqa: E731
    pos = F.explode(F.array(*[
        F.pmod(F.xxhash64(F.lit(i), F.col(key_col)), F.lit(n_bits))
        for i in range(n_hashes)])).alias("_p")
    return (history.select(pos)
            .groupBy((F.col("_p") / 64).cast("bigint").alias("word"))
            .agg(F.bit_or(shl(F.lit(1).cast("long"),
                              F.pmod(F.col("_p"), F.lit(64)).cast("int")))
                 .alias("bits")))


def bloom_probe(keys_df: DataFrame, bitmap: DataFrame, key_col: str, *,
                n_bits: int = 1 << 22, n_hashes: int = 5) -> DataFrame:
    """Membership test of ``keys_df[key_col]`` (one row per key)
    against a :func:`bloom_bitmap` table: returns ``(key_col, _maybe
    boolean)``.  ``_maybe = false`` is a GUARANTEE of absence (Bloom
    has no false negatives); ``_maybe = true`` is \"present or a
    ~fpp false positive\".  The bitmap broadcasts; the probe is a
    k-position explode + broadcast hash join + key aggregate.
    ``n_bits``/``n_hashes`` must match the values the bitmap was
    built with — they define the hash family.
    """
    shl = lambda c, i: F.call_function("shiftleft", c, i)  # noqa: E731
    pos = F.explode(F.array(*[
        F.pmod(F.xxhash64(F.lit(i), F.col(key_col)), F.lit(n_bits))
        for i in range(n_hashes)])).alias("_p")
    probes = (keys_df
              .select(key_col, pos)
              .select(key_col,
                      (F.col("_p") / 64).cast("bigint").alias("word"),
                      shl(F.lit(1).cast("long"),
                          F.pmod(F.col("_p"), F.lit(64)).cast("int"))
                      .alias("_mask")))
    return (probes.join(F.broadcast(bitmap), "word", "left")
            .groupBy(key_col)
            .agg(F.bool_and(
                F.col("bits").isNotNull() &
                (F.col("bits").bitwiseAND(F.col("_mask")) != 0))
                .alias("_maybe")))


def bloom_occupancy(bitmap: DataFrame, *, n_bits: int,
                    n_hashes: Optional[int] = None) -> DataFrame:
    """Saturation report of a :func:`bloom_bitmap` table — ONE
    aggregate row ``(set_bits, n_bits, occupancy[, est_fpp])``:
    population count over the bitmap words divided by the bit budget,
    and (when ``n_hashes`` is given) the implied false-positive rate
    ``occupancy ** n_hashes`` — for a filter at occupancy q, a probe
    false-positives only when all k positions are set.

    This is the capacity gauge for the streaming Bloom maintainer:
    occupancy crossing ~50% (est_fpp ≈ 3% at k=5) means the store has
    outgrown ``n_bits``.  The hash family is immutable, so the remedy
    is a RESIZE-VIA-REBUILD: build a fresh store with larger
    ``n_bits`` by re-running :func:`bloom_bitmap` over the accepted
    output's keys (the exact key set the filter is supposed to
    remember), then point the maintainer at the new store.  Cost: one
    pass over accepted — the same price as any table-format rewrite.
    """
    row = bitmap.agg(
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0))
        .cast("bigint").alias("set_bits"))
    row = row.select(
        "set_bits", F.lit(int(n_bits)).cast("bigint").alias("n_bits"),
        (F.col("set_bits") / F.lit(float(n_bits))).alias("occupancy"))
    if n_hashes is not None:
        row = row.withColumn(
            "est_fpp", F.pow(F.col("occupancy"), F.lit(int(n_hashes))))
    return row


def bloom_merge_bitmaps(*bitmaps: DataFrame) -> DataFrame:
    """Union Bloom bitmap tables into one (bitwise OR per word) —
    Bloom union is exact, so incremental build ≡ one-shot build over
    the concatenated key sets.  Associative, commutative, idempotent:
    the merge-shaped state that makes a streaming maintainer
    replay-safe."""
    if not bitmaps:
        raise ValueError("need at least one bitmap")
    out = bitmaps[0]
    for b in bitmaps[1:]:
        out = out.unionByName(b)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_dedup_against(new: DataFrame, history: DataFrame,
                        key_col: str, *, n_bits: int = 1 << 22,
                        n_hashes: int = 5,
                        exact_verify: bool = True) -> DataFrame:
    """Rows of ``new`` whose ``key_col`` does NOT appear in
    ``history`` — the dedup-against-history topology where history is
    far larger than the batch (continuous corpus ingest against years
    of crawl).

    Why not a plain anti-join: at 100 TB of history the anti-join
    shuffles-or-probes every new row against the whole keyed store.
    The Bloom pre-filter is a ``n_bits/64``-row broadcast table, so
    rows whose keys the filter rejects (guaranteed absent — Bloom has
    no false negatives) never reach the expensive path at all.  With
    ``exact_verify=True`` (default) the surviving candidates — actual
    duplicates plus the ~fpp false positives — go through the exact
    anti-join, so the RESULT is exact and the anti-join's probe side
    shrank from |new| to |dups + fpp·new|.  ``exact_verify=False``
    skips the join: never emits a true duplicate, silently drops
    ~fpp of genuinely-new rows — the cheap mode for sampling-tolerant
    pipelines.

    Cost: one pass over history (build), one k-position explode +
    broadcast join + key aggregate over new (probe), one key-partition
    shuffle of new (membership join-back), plus the candidate-only
    anti-join under exact_verify.

    NULL keys: rows of ``new`` with a null ``key_col`` pass through as
    fresh — exactly what the plain anti-join this function replaces
    would do (SQL nulls never equal anything, including history's own
    nulls), so ``exact_verify=True`` stays a drop-in equivalent.  The
    membership inner-join would otherwise silently drop them.
    """
    null_keyed = new.filter(F.col(key_col).isNull())
    keyed = new.filter(F.col(key_col).isNotNull())
    bitmap = bloom_bitmap(history, key_col,
                          n_bits=n_bits, n_hashes=n_hashes)
    membership = bloom_probe(keyed.select(key_col).distinct(), bitmap,
                             key_col, n_bits=n_bits, n_hashes=n_hashes)
    tagged = keyed.join(membership, key_col)
    fresh = tagged.filter(~F.col("_maybe")).drop("_maybe")
    if not exact_verify:
        return fresh.unionByName(null_keyed.select(fresh.columns))
    cand = tagged.filter(F.col("_maybe")).drop("_maybe")
    verified = cand.join(history.select(key_col).distinct(),
                         key_col, "left_anti")
    return (fresh.unionByName(verified)
            .unionByName(null_keyed.select(fresh.columns)))


def source_overlap(df: DataFrame, *, source_col: str,
                   text_col: Optional[str] = None,
                   fingerprint_col: Optional[str] = None,
                   round_digits: int = 6) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every pair of
    sources, how much content they share — (source_a, source_b,
    n_common, n_a, n_b, jaccard, containment), one row per unordered
    pair with any overlap.

    The corpus-forensics aggregate behind "is source X just a scrape
    of source Y": high containment with modest jaccard = one source
    embeds the other; high jaccard = mirrors.  Counts are over DISTINCT
    content fingerprints (exact md5 of ``text_col`` by default, or a
    caller-supplied ``fingerprint_col`` — e.g. a minhash band key for
    fuzzy overlap).

    Scale: ONE data-sized shuffle — ``groupBy(fingerprint)`` with a
    map-side-partial ``collect_set(source)`` (the set is bounded by the
    SOURCE count, a categorical dim, so partial states stay tiny); the
    (a ≤ b) source-pair matrix is expanded from each set with
    higher-order array functions (≤ S²/2 struct rows per fingerprint,
    same fan-out bound the old fingerprint self-join had, minus its two
    extra exchanges), and one tiny aggregate over ≤ S² rows yields both
    the off-diagonal overlap counts and the per-source diagonal totals,
    re-attached with windows over that same tiny frame — no recompute
    of the corpus-sized upstream, no broadcast of a second aggregation.
    """
    if (text_col is None) == (fingerprint_col is None):
        raise ValueError("pass exactly one of text_col / fingerprint_col")
    fp = (F.md5(F.col(text_col).cast("string")) if text_col is not None
          else F.col(fingerprint_col))
    mem = (df.select(fp.alias("_fp"),
                     F.col(source_col).alias("_src"))
             .filter(F.col("_src").isNotNull()))
    grouped = (mem.groupBy("_fp")
               .agg(F.array_sort(F.collect_set("_src")).alias("_ss")))
    # (a, a) diagonal counts distinct fingerprints per source (the old
    # per-source totals); (a, b) a<b counts shared fingerprints.  A
    # NULL fingerprint matches the old semantics exactly: it counted
    # in totals (the distinct kept one (null, src) row per source) but
    # never joined — so the null group emits only its diagonal.
    ss = F.col("_ss")
    upper = F.flatten(F.transform(
        ss, lambda x, i: F.transform(
            F.slice(ss, i + 1, F.size(ss) - i),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    diag = F.transform(ss, lambda x: F.struct(x.alias("a"), x.alias("b")))
    mat = (grouped
           .select(F.explode(F.when(F.col("_fp").isNull(), diag)
                             .otherwise(upper)).alias("_p"))
           .groupBy(F.col("_p.a").alias("source_a"),
                    F.col("_p.b").alias("source_b"))
           .agg(F.count(F.lit(1)).alias("n_common")))
    is_diag = F.col("source_a") == F.col("source_b")
    wa = Window.partitionBy("source_a")
    wb = Window.partitionBy("source_b")
    out = (mat
           .withColumn("n_a", F.max(F.when(is_diag, F.col("n_common")))
                       .over(wa))
           .withColumn("n_b", F.max(F.when(is_diag, F.col("n_common")))
                       .over(wb))
           .filter(F.col("source_a") < F.col("source_b")))
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    jac = F.col("n_common") / union
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return out.select(
        "source_a", "source_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(jac, round_digits).alias("jaccard"),
        F.round(cont, round_digits).alias("containment"))
