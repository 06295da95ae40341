"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring a production ANN stack:

* ``cosine_topk`` — exact brute force.  Right for |queries| << |corpus|
  (broadcast the queries; the corpus streams through one projection —
  no shuffle of the corpus at all) or as the final re-rank stage.
* ``lsh_bucket_topk`` — random-hyperplane LSH: corpus and queries are
  bucketed by sign-bit codes; candidates come from an equi-join on the
  bucket code, then exact cosine re-ranks.  Probing multi-bucket
  (hamming-adjacent codes) trades recall for cost.  This is the scale
  path: shuffle is linear in corpus size with a uniform key.

All math is Column expressions (zip_with/aggregate) — JVM-side, no
Python UDFs in the hot path.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..transformations import sql_ref


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns, computed in
    double precision with in-order accumulation (deterministic)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return _dot(da, db) / (_norm(da) * _norm(db))


def normalize_embeddings(df: DataFrame, vec_col: str,
                         out_col: Optional[str] = None) -> DataFrame:
    """L2-normalize an embedding column (pre-normalizing once turns every
    downstream cosine into a plain dot product — at scale you store the
    normalized vectors and never recompute norms)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = _norm(v)
    normed = F.transform(v, lambda x: x / n)
    return df.withColumn(out_col or vec_col, normed)


def embedding_centroids(df: DataFrame, *, vec_col: str, label_col: str,
                        round_digits: Optional[int] = None) -> DataFrame:
    """Per-label element-wise mean of embedding vectors: (label, n,
    centroid array<double>) — the class-prototype builder behind
    nearest-centroid classification, IVF coarse quantizers, and
    per-domain embedding drift monitoring.

    Shape at scale: ``posexplode`` the vectors, ONE hash-aggregate on
    (label, position) with map-side partials — each partition collapses
    to k×dim rows before the shuffle, the same reduction k-means'
    assignment step uses — then regroup positions into ordered arrays
    (k rows of dim doubles; driver never sees data-scale rows).
    ``round_digits`` quantizes the means for engines whose summation
    order differs (value-level oracles).
    """
    pos = df.select(F.col(label_col).alias("label"),
                    F.posexplode(F.col(vec_col)).alias("pos", "v"))
    per_dim = pos.groupBy("label", "pos").agg(
        F.count("*").alias("n"), F.avg("v").alias("m"))
    m = F.col("m") if round_digits is None else \
        F.round(F.col("m"), round_digits)
    return (per_dim.groupBy("label")
            .agg(F.max("n").alias("n"),
                 F.transform(
                     F.sort_array(F.collect_list(F.struct("pos", m.alias("m")))),
                     lambda s: s["m"]).alias("centroid")))


def cosine_topk(corpus: DataFrame, queries: DataFrame, *,
                id_col: str, vec_col: str, k: int = 5,
                query_id_col: Optional[str] = None,
                query_vec_col: Optional[str] = None) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine) with deterministic
    tie-breaking on neighbor_id.  Self-matches (same id) are excluded.

    Scale: queries are broadcast (they must be the small side); the
    corpus is scanned once — a single projection computes all dots via
    codegen'd loops, then top-k per query via window.  For large |Q|·|C|
    use ``lsh_bucket_topk``.
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    # per-ROW norms hoisted out of the per-PAIR expression; same
    # in-order arithmetic as cosine_expr, so scores (and the value
    # oracle's hash) are bit-identical
    qv = F.transform(F.col(qvec), lambda x: x.cast("double"))
    cv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(qid).alias("query_id"),
                       qv.alias("_qvec"), _norm(qv).alias("_qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      cv.alias("_cvec"), _norm(cv).alias("_cn"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id",
        (_dot(F.col("_qvec"), F.col("_cvec"))
         / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))


def hard_negatives(df: DataFrame, *, id_col: str, vec_col: str,
                   label_col: str, k: int = 5,
                   queries: Optional[DataFrame] = None) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: per
    query row, the ``k`` most-cosine-similar rows with a DIFFERENT
    label — the near-miss examples a margin loss learns most from.
    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cosine), ties broken on neighbor_id.

    Exact bounded-broadcast baseline (``queries`` must be the small
    side — default: the whole frame, so pass a subset at scale); the
    bucketed scale path is :func:`hard_negatives_lsh`, recall-audited
    against this in tests.  Same hoisted-norm arithmetic as
    :func:`cosine_topk`, so scores are bit-identical to it."""
    queries = df if queries is None else queries
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(label_col).alias("query_label"),
                       v.alias("_qvec"), _norm(v).alias("_qn"))
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(label_col).alias("neighbor_label"),
                  v.alias("_cvec"), _norm(v).alias("_cn"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("query_label")))
    scored = joined.select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        (_dot(F.col("_qvec"), F.col("_cvec"))
         / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))


def hard_negatives_lsh(df: DataFrame, *, id_col: str, vec_col: str,
                       label_col: str, k: int = 5,
                       n_planes: int = 4, dim: Optional[int] = None,
                       seed: int = 42, probes: int = 2,
                       queries: Optional[DataFrame] = None,
                       max_bucket: Optional[int] = 65536
                       ) -> DataFrame:
    """The 100 TB twin of :func:`hard_negatives`: hyperplane-LSH code
    blocking (one map-only coding pass per side, one equi-join on the
    code — the :func:`lsh_bucket_topk` mechanics) with the
    different-label filter applied at candidate time, then exact
    cosine re-ranking.  Approximate (recall floor pinned in tests);
    multi-probe (``probes``) recovers sign-LSH's boundary losses.
    ``max_bucket`` caps hot corpus codes to a deterministic sample
    (:func:`_cap_hot_code_buckets`), loudly — queries probing a
    capped code re-rank the sample, so their recall can dip below
    the pinned floor (the warning is the signal); the hot-code set
    is memoized per plan, so serving pays the count once per
    process."""
    queries = df if queries is None else queries
    if dim is None:
        sample = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(sample["d"])
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(label_col).alias("neighbor_label"),
                  v.alias("_cvec"), _norm(v).alias("_cn"),
                  lsh_code_expr(F.col(vec_col), planes).alias("_code"))
    c = _cap_hot_code_buckets(c, max_bucket, "hard_negatives_lsh",
                              "neighbor_id")
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        v.alias("_qvec"), _norm(v).alias("_qn"),
        lsh_code_expr(F.col(vec_col), planes).alias("_c0"))
    probe_codes = [F.col("_c0")]
    if probes >= 1:
        probe_codes += [F.col("_c0").bitwiseXOR(F.lit(1 << i))
                        for i in range(n_planes)]
    if probes >= 2:
        probe_codes += [
            F.col("_c0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes) for j in range(i + 1, n_planes)]
    q = qbase.withColumn("_code", F.explode(F.array(*probe_codes))) \
             .drop("_c0")
    cand = (c.join(q, "_code", "inner")
            .filter((F.col("neighbor_id") != F.col("query_id"))
                    & (F.col("neighbor_label")
                       != F.col("query_label")))
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        (_dot(F.col("_qvec"), F.col("_cvec"))
         / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))


def mine_triplets(df: DataFrame, *, id_col: str, vec_col: str,
                  label_col: str,
                  queries: Optional[DataFrame] = None) -> DataFrame:
    """Hardest-triplet mining: per anchor, the HARDEST POSITIVE (same
    label, LEAST similar — the stretched-apart pair) and the HARDEST
    NEGATIVE (different label, MOST similar — the near-collision),
    the canonical batch construction for triplet-margin training.
    Output: (anchor_id, anchor_label, pos_id, pos_cosine, neg_id,
    neg_cosine, margin) with margin = pos_cosine - neg_cosine
    (negative margin = the loss-violating triplets worth mining).
    Anchors with no same-label peer or no different-label row drop
    out (no triplet exists).  Ties break on candidate id.

    One broadcast pass scores all (anchor, candidate) pairs, two
    windows pick the extremes — the exact baseline; at corpus scale
    feed ``queries`` batches of anchors, or mine candidates from
    :func:`hard_negatives_lsh` buckets first."""
    queries = df if queries is None else queries
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("anchor_id"),
                       F.col(label_col).alias("anchor_label"),
                       v.alias("_qvec"), _norm(v).alias("_qn"))
    c = df.select(F.col(id_col).alias("_cid"),
                  F.col(label_col).alias("_clabel"),
                  v.alias("_cvec"), _norm(v).alias("_cn"))
    pairs = (c.crossJoin(F.broadcast(q))
             .filter(F.col("_cid") != F.col("anchor_id"))
             .select("anchor_id", "anchor_label", "_cid", "_clabel",
                     (_dot(F.col("_qvec"), F.col("_cvec"))
                      / (F.col("_qn") * F.col("_cn"))).alias("_cos")))
    wp = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").asc(), F.col("_cid").asc())
    pos = (pairs.filter(F.col("_clabel") == F.col("anchor_label"))
           .withColumn("_rn", F.row_number().over(wp))
           .filter(F.col("_rn") == 1)
           .select("anchor_id", "anchor_label",
                   F.col("_cid").alias("pos_id"),
                   F.col("_cos").alias("pos_cosine")))
    wn = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), F.col("_cid").asc())
    neg = (pairs.filter(F.col("_clabel") != F.col("anchor_label"))
           .withColumn("_rn", F.row_number().over(wn))
           .filter(F.col("_rn") == 1)
           .select(F.col("anchor_id").alias("_aid"),
                   F.col("_cid").alias("neg_id"),
                   F.col("_cos").alias("neg_cosine")))
    return (pos.join(neg, pos.anchor_id == neg._aid, "inner")
            .drop("_aid")
            .withColumn("margin",
                        F.col("pos_cosine") - F.col("neg_cosine")))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python LCG —
    no numpy dependency at plan-build time; literals are baked into the
    plan and broadcast with it)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            # Park–Miller LCG -> approx N(0,1) via sum of 4 uniforms
            acc = 0.0
            for _ in range(4):
                state = (state * 48271) % 2147483647
                acc += state / 2147483647.0
            vec.append(acc - 2.0)
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / n for x in vec])
    return planes


def lsh_code_expr(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-bit LSH code (long) of an embedding under fixed hyperplanes."""
    code = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(F.transform(vec, lambda x: x.cast("double")), plane) >= 0,
                     F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        code = code.bitwiseOR(bit)
    return code


_HOT_CODE_CACHE: dict = {}
_HOT_CODE_CACHE_MAX = 32


def clear_hot_code_cache() -> None:
    """Drop the per-process hot-code memo (see
    :func:`_cap_hot_code_buckets`) — call after mutating, in place, a
    corpus a serving loop keeps re-planning identically."""
    _HOT_CODE_CACHE.clear()


def _cap_hot_code_buckets(coded: DataFrame, max_bucket: Optional[int],
                          context: str, id_col: str) -> DataFrame:
    """Skew guard for the ANN code equi-join (VERDICT r9 #6 — the
    embedding twin of dedup's banded-bucket cap): a degenerate corpus
    (many identical / near-zero vectors sharing one sign code) makes
    one ``_code`` bucket O(corpus) and every probing query's
    candidate fan-out O(corpus) with it.  Codes holding more than
    ``max_bucket`` rows are capped to a DETERMINISTIC
    ``max_bucket``-row sample (smallest ``xxhash64(id)`` — a stable
    pseudo-random subset, better neighbor diversity than min-ids),
    LOUDLY: a code that hot is non-discriminative by definition
    (raise ``n_planes`` to split it), and the sample keeps the
    bucket usable instead of dropping it.  ``max_bucket=None``
    disables.

    The hot-code set is MEMOIZED per (semantic plan, max_bucket) for
    the process (ADVICE r10: the guard's eager count aggregate added
    one whole corpus job to every serving call even when nothing was
    hot) — a serving loop probing one corpus pays the count once; the
    common no-hot-bucket case then adds zero jobs and returns the
    input plan untouched.  The memo assumes the data under an
    IDENTICAL plan is immutable within the process (the serving
    topology's contract — an index store rebuild gets a new path and
    so a new plan); :func:`clear_hot_code_cache` resets it after an
    in-place mutation, and ``max_bucket=None`` bypasses everything."""
    if max_bucket is None:
        return coded
    if max_bucket < 1:
        raise ValueError("max_bucket must be >= 1")
    import warnings

    try:
        key = (coded.semanticHash(), int(max_bucket))
    except Exception:  # pragma: no cover - semanticHash is stable API
        key = None
    hit = key is not None and key in _HOT_CODE_CACHE
    if hit:
        hot_codes, nr = _HOT_CODE_CACHE[key]
    else:
        rows = (coded.groupBy("_code")
                .agg(F.count(F.lit(1)).alias("_bk"))
                .filter(F.col("_bk") > max_bucket).collect())
        hot_codes = sorted(r["_code"] for r in rows)
        nr = sum(r["_bk"] for r in rows)
        if key is not None:
            if len(_HOT_CODE_CACHE) >= _HOT_CODE_CACHE_MAX:
                _HOT_CODE_CACHE.pop(next(iter(_HOT_CODE_CACHE)))
            _HOT_CODE_CACHE[key] = (hot_codes, nr)
    if not hot_codes:
        return coded
    warnings.warn(
        f"{context}: capping {len(hot_codes)} hot LSH code bucket(s) "
        f"holding {nr} rows to a deterministic {max_bucket}-"
        "row sample each (identical/degenerate vectors sharing one "
        "sign code would make every probe's candidate set corpus-"
        "sized). Raise n_planes to split the bucket, or raise "
        "max_bucket. Results for queries probing a capped code can "
        "dip below the pinned recall floor (the sample is the "
        "documented trade).", stacklevel=3)
    # driver-side literal codes: no broadcast frame, no extra job
    is_hot = F.col("_code").isin(list(hot_codes))
    cold = coded.filter(~is_hot)
    w = Window.partitionBy("_code").orderBy(
        F.xxhash64(F.lit(0x5EED), F.col(id_col)).asc(),
        F.col(id_col).asc())
    capped = (coded.filter(is_hot)
              .withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= max_bucket).drop("_rn"))
    return cold.unionByName(capped)


def _nearest_cells_udf(centroids: Sequence[Sequence[float]], n_probe: int = 1):
    """Arrow-vectorized assignment: the ``n_probe`` nearest centroid ids
    per vector, squared-L2, ties broken by centroid id (stable sort).

    This is a deliberate pandas-UDF: the pure-expression formulation
    (k centroid-literal arrays x zip_with/aggregate lambdas) builds a
    k*dim-literal tree that costs seconds of driver analysis PER PLAN
    and runs interpreted per row; one numpy matmul per Arrow batch is
    both the faster and the smaller plan.  Batch math is
    ``||x-c||^2 = ||c||^2 - 2 x.c  (+ ||x||^2, rank-invariant)``.
    """
    C = np.asarray(centroids, dtype=np.float64)           # k x d
    c2 = (C * C).sum(axis=1)                              # k

    @F.pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)     # n x d
        d2 = c2[None, :] - 2.0 * (X @ C.T)                # n x k
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(idx.astype(np.int32)))

    return assign


def kmeans_fit(df: DataFrame, vec_col: str, *, id_col: str,
               k: int = 16, iters: int = 2,
               seed: int = 42,
               fit_fraction: float = 1.0) -> list[list[float]]:
    """Deterministic distributed Lloyd k-means (the IVF coarse quantizer).

    Init: the ``k`` corpus vectors with smallest ``xxhash64(seed, id)``
    (a deterministic pseudo-random sample — no RNG state).  Each
    iteration is one map-only assignment (centroids baked into the plan
    as literals) plus one narrow shuffle: ``posexplode`` the vectors and
    hash-aggregate mean per (cluster, dim) — partial aggregation
    collapses every partition to at most k*dim rows before the shuffle,
    so the iteration cost is a single scan regardless of corpus size.
    Only k*dim floats ever reach the driver (the model).

    Scans the fit set ``iters + 1`` times, so it is projected to
    (id, vec) and persisted for the duration of the fit — at corpus
    scale you do not re-read 100 TB per Lloyd iteration.  Better still,
    don't fit on the full corpus at all: ``fit_fraction < 1`` keeps a
    deterministic xxhash64 sample (coarse-quantizer quality needs a
    representative sample, not every vector — standard IVF practice).
    """
    fit = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if fit_fraction < 1.0:
        bound = int(fit_fraction * (1 << 63))
        fit = fit.filter(
            F.abs(F.xxhash64(F.lit(seed ^ 0x5EED), F.col("_id"))) < bound)
    fit = fit.persist()
    try:
        init_rows = (fit.select(F.col("_v"),
                                F.xxhash64(F.lit(seed), F.col("_id"))
                                 .alias("_r"))
                     .orderBy("_r").limit(k).collect())
        centroids = [[float(x) for x in r["_v"]] for r in init_rows]
        for _ in range(iters):
            assign = _nearest_cells_udf(centroids, 1)
            assigned = fit.select(
                assign(F.col("_v"))[0].alias("_cid"),
                F.posexplode(F.transform(F.col("_v"),
                                         lambda x: x.cast("double")))
                 .alias("_pos", "_x"))
            means = (assigned.groupBy("_cid", "_pos")
                     .agg(F.avg("_x").alias("_m")).collect())
            new = [list(c) for c in centroids]  # empty cell keeps old centroid
            by_cid: dict[int, dict[int, float]] = {}
            for r in means:
                by_cid.setdefault(r["_cid"], {})[r["_pos"]] = r["_m"]
            for cid, dims in by_cid.items():
                for pos, m in dims.items():
                    new[cid][pos] = m
            centroids = new
    finally:
        fit.unpersist()
    return centroids


def ivf_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str, vec_col: str, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             iters: int = 2, seed: int = 42,
             centroids: Optional[Sequence[Sequence[float]]] = None) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF (inverted-file)
    index: k-means coarse quantizer, corpus bucketed by nearest
    centroid, queries probe their ``n_probe`` nearest cells, exact
    cosine re-ranks within the probed cells.

    The complement to ``lsh_bucket_topk``: data-adaptive cells (better
    recall on clustered real-world embeddings) at the cost of the
    one-time k-means fit.  Corpus shuffle is a single equi-join on the
    cell id; probing multiplies only the query side.  Recall is audited
    against ``cosine_topk`` in tests.  Pass precomputed ``centroids``
    to reuse a fitted quantizer (the production path: fit once, reuse
    per batch).
    """
    if centroids is None:
        centroids = kmeans_fit(corpus, vec_col, id_col=id_col,
                               k=n_centroids, iters=iters, seed=seed)
    assign1 = _nearest_cells_udf(centroids, 1)
    assign_p = _nearest_cells_udf(centroids, n_probe)
    # per-ROW norms hoisted out of the per-PAIR expression (pair count
    # dwarfs row count at scale); same in-order arithmetic as
    # cosine_expr
    cv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), cv.alias("_cvec"),
        _norm(cv).alias("_cn"),
        assign1(F.col(vec_col))[0].alias("_cell"))
    q = queries.select(
        F.col(id_col).alias("query_id"), cv.alias("_qvec"),
        _norm(cv).alias("_qn"),
        F.explode(assign_p(F.col(vec_col))).alias("_cell"))
    cand = c.join(q, "_cell", "inner").filter(
        F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        (_dot(F.col("_qvec"), F.col("_cvec"))
         / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, *,
                    id_col: str, vec_col: str, k: int = 5,
                    n_planes: int = 4, dim: Optional[int] = None,
                    seed: int = 42, probes: int = 2,
                    max_bucket: Optional[int] = 65536) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    Both sides get an ``n_planes``-bit sign code; the QUERY side is
    multi-probed — ``probes=1`` also explores every hamming-1-adjacent
    bucket (n_planes+1 probes total), which is the standard fix for
    sign-LSH's boundary losses.  Exact cosine re-ranks candidates.
    Recall is audited in tests against ``cosine_topk`` (no silent
    quality cliff); raise ``n_planes`` to shrink buckets (cheaper, less
    recall), raise ``probes`` to recover recall.

    Scale: corpus is coded once (map-only) and shuffled once on the code;
    the probe explosion multiplies only the (small) query side.
    ``max_bucket`` is the hot-code skew guard
    (:func:`_cap_hot_code_buckets`): corpus codes holding more rows
    are capped to a deterministic sample, loudly — bounding every
    probe's candidate fan-out at max_bucket per probed code even on
    a degenerate (identical-vector) corpus.  Caveat (ADVICE r10): a
    query probing a CAPPED code re-ranks the sample, not the bucket,
    so its recall can dip below the floor the tests pin for healthy
    corpora — the runtime warning is the signal; ``None`` restores
    exhaustive buckets at quadratic risk.  The hot-code set is
    memoized per plan for the process, so steady-state serving pays
    the guard's count once, not per query batch.
    """
    if dim is None:
        sample = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(sample["d"])
    planes = _hyperplanes(dim, n_planes, seed)
    # per-ROW norms hoisted out of the per-PAIR scoring (see ivf_topk)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      v.alias("_cvec"), _norm(v).alias("_cn"),
                      lsh_code_expr(F.col(vec_col), planes).alias("_code"))
    c = _cap_hot_code_buckets(c, max_bucket, "lsh_bucket_topk",
                              "neighbor_id")
    qbase = queries.select(F.col(id_col).alias("query_id"),
                           v.alias("_qvec"), _norm(v).alias("_qn"),
                           lsh_code_expr(F.col(vec_col), planes).alias("_c0"))
    probe_codes = [F.col("_c0")]
    if probes >= 1:
        probe_codes += [F.col("_c0").bitwiseXOR(F.lit(1 << i))
                        for i in range(n_planes)]
    if probes >= 2:
        probe_codes += [
            F.col("_c0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes) for j in range(i + 1, n_planes)]
    q = qbase.withColumn("_code", F.explode(F.array(*probe_codes))) \
             .drop("_c0")
    cand = c.join(q, "_code", "inner").filter(
        F.col("neighbor_id") != F.col("query_id")) \
        .dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.select(
        "query_id", "neighbor_id",
        (_dot(F.col("_qvec"), F.col("_cvec"))
         / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k).drop("_rn"))


def quantize_embeddings(df: DataFrame, vec_col: str, *,
                        q_col: str = "q_embedding",
                        scale_col: str = "q_scale",
                        round_scale_digits: Optional[int] = None
                        ) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = round(v_i / scale)`` clamped to [-127, 127] — a 4× storage
    / shuffle-width cut for a 100 TB embedding table, with the scale
    kept per row so ``dequantize_embeddings`` restores vectors within
    one quantization step (|err| ≤ scale/2 per element).

    Pure Column expressions (one ``aggregate`` fold for the max-abs,
    one ``transform`` for the rounding) — map-only, no shuffle.  An
    all-zero vector quantizes to zeros with scale 0 and dequantizes
    back to zeros.  NULL *and NaN* elements are treated as 0.0 —
    matching :func:`random_projection`'s contract.  Without the
    coalesce, Spark's NULL-skipping ``least``/``greatest`` would
    clamp a NULL element to +127, injecting a spurious max-magnitude
    coordinate; without the nanvl, a single NaN element poisons the
    max-abs fold, propagates NaN into the scale, and
    ``round(x/scale).cast('int')`` throws CAST_OVERFLOW under ANSI
    mode, killing the whole job for one bad vector.  A NULL *vector*
    stays NULL.  ``round_scale_digits`` rounds the stored scale for
    cross-engine float comparison only — leave None in production.
    """
    v = F.transform(F.col(vec_col),
                    lambda x: F.coalesce(F.nanvl(x.cast("double"),
                                                 F.lit(0.0)),
                                         F.lit(0.0)))
    max_abs = F.aggregate(v, F.lit(0.0),
                          lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = max_abs / F.lit(127.0)
    q = F.when(scale == 0.0,
               F.transform(v, lambda x: F.lit(0).cast("int"))) \
         .otherwise(F.transform(
             v, lambda x: F.greatest(
                 F.lit(-127), F.least(F.lit(127),
                                      F.round(x / scale).cast("int")))
             .cast("int")))
    out_scale = (F.round(scale, round_scale_digits)
                 if round_scale_digits is not None else scale)
    return df.withColumn(q_col, q).withColumn(scale_col, out_scale)


def dequantize_embeddings(df: DataFrame, *, q_col: str = "q_embedding",
                          scale_col: str = "q_scale",
                          out_col: str = "embedding") -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``v_i ≈ q_i · scale``
    (map-only).  Downstream cosine/top-k run on the reconstruction;
    the recall cost of int8 is pinned by the roundtrip test."""
    s = F.col(scale_col)
    return df.withColumn(
        out_col, F.transform(F.col(q_col), lambda x: x * s))


def random_projection(df: DataFrame, vec_col: str, *, out_dim: int,
                      seed: int = 42, hash_scheme: str = "xxhash64",
                      out_col: str = "rp_embedding",
                      round_digits: Optional[int] = None,
                      dim: Optional[int] = None) -> DataFrame:
    """Johnson–Lindenstrauss random projection: ``y_j = (1/sqrt(d'))
    Σ_i x_i · s_ij`` with Rademacher signs ``s_ij ∈ {+1, −1}`` derived
    per (i, j, seed) from a hash — dimensionality reduction that
    preserves pairwise distances within ``±eps`` for ``d' ≈
    O(log n / eps²)``, the standard pre-step that makes brute-force /
    LSH / IVF search cheaper on a 100 TB embedding table (project
    once, search in d' dims, refine survivors in full dims).

    No projection matrix exists anywhere — signs are recomputed from
    the hash inside whole-stage codegen, so the op is map-only with
    zero driver state and works for ANY input dimension without
    refitting.  ``hash_scheme="xxhash64"`` (default) is the cheap
    engine-private path; ``"md5"`` is bit-identical across engines for
    value-level oracle checks.  NULL and NaN vector elements count as
    0.0; a
    NULL vector stays NULL.  Determinism: a pure function of (seed,
    positions), so re-runs and incremental batches project
    identically — the property that keeps a persisted ANN index valid.

    The projection unrolls to ``out_dim`` fold expressions (each a
    zip_with + aggregate over the input array) — sized for sketch
    targets (d' ≤ ~64).  For large d' use
    :func:`random_projection_pandas` — one BLAS matmul per Arrow
    batch under the SAME md5 sign contract (equality pinned in
    tests), so this path stays the oracle-able reference semantics.

    ``dim`` (md5 scheme only): when the input dimension is known and
    fixed — the norm for an embedding table — pass it to PRE-FOLD the
    signs into plan literals: the identical ``md5(f"{seed}:{i}:{j}")``
    parity is computed once driver-side (``dim × out_dim`` tiny
    hashes) and shipped inside the plan, so executors multiply-add
    instead of hashing ``dim × out_dim`` strings PER ROW (~15× on the
    sf0.1 bench).  Still no broadcast and no fitted state — the
    literals are a pure function of (seed, dim, out_dim), and results
    are bit-identical to the per-row-hash path (pinned in tests).
    Contract: elements at positions ≥ ``dim`` are ignored and missing
    positions count 0.0 — use the hash path for ragged corpora.

    Sizing d': distances carry a ~``sqrt(2/(pi*d'))`` mean relative
    distortion (pinned in tests).  Nearest-NEIGHBOR fidelity in the
    sketch additionally depends on the corpus's cosine margins —
    near-uniform vectors with hair-thin top-k margins need a larger
    d' (or sketch-candidates → full-dim re-rank) to keep recall.
    """
    if out_dim <= 0:
        raise ValueError("out_dim must be positive")
    # NULL *and NaN* elements count as 0.0 — NaN must not poison the
    # fold, and the Arrow path cannot distinguish the two anyway (a
    # NULL array element arrives in numpy as NaN), so both paths pin
    # the same rule
    v = F.transform(F.col(vec_col),
                    lambda x: F.coalesce(F.nanvl(x.cast("double"),
                                                 F.lit(0.0)),
                                         F.lit(0.0)))
    # sequence(0, -1) counts DOWN to [0, -1]; an empty vector needs an
    # empty index list so each component folds to 0.0, not NULL
    idx = F.when(F.size(v) > 0,
                 F.sequence(F.lit(0), F.size(v) - F.lit(1))) \
           .otherwise(F.array().cast("array<int>"))
    inv = 1.0 / math.sqrt(out_dim)
    if hash_scheme == "xxhash64":
        def sgn(i, j):
            return F.when(
                F.pmod(F.xxhash64(F.lit(seed), i, F.lit(j)), 2) == 0,
                F.lit(1.0)).otherwise(F.lit(-1.0))
    elif hash_scheme == "md5":
        def sgn(i, j):
            h = F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(str(seed)), i.cast("string"),
                F.lit(str(j)))), 1, 1), 16, 10).cast("int")
            return F.when(F.pmod(h, 2) == 0,
                          F.lit(1.0)).otherwise(F.lit(-1.0))
    else:
        raise ValueError(f"unknown hash_scheme {hash_scheme!r} "
                         "(expected 'xxhash64' or 'md5')")
    # dim= promises plan-literal pre-folded signs, which only the md5
    # scheme supports — silently falling through to the per-row-hash
    # path would make the knob a no-op with no signal to the caller
    if dim is not None and hash_scheme != "md5":
        raise ValueError(
            f"dim= requires hash_scheme='md5' (got {hash_scheme!r}): "
            "sign pre-folding needs a driver-side replica of the hash, "
            "and only the md5 scheme has one")
    comps = []
    if dim is not None and hash_scheme == "md5":
        # plan-literal signs: hashlib.md5 of the SAME strings Spark's
        # md5 would hash — first hex digit parity, identical contract
        import hashlib

        def py_sign(i, j):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
            return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

        # ONE SQL-string expression for all components (the
        # minhash/simhash idiom): dim × out_dim F.lit sign literals
        # plus per-component lambdas cost ~3 000 py4j round trips of
        # plan build (~1 s at dim=64, out_dim=8); the string form is
        # one gateway call for the identical expression tree.
        # zip_with pads the SHORTER side with NULLs: coalesce keeps
        # short rows correct (missing positions add 0) and pins the
        # documented ignore-beyond-dim rule for overlong rows.  The D
        # suffix keeps literals DOUBLE (bare decimals parse as DECIMAL
        # in Spark SQL).
        v_sql = (f"transform({sql_ref(vec_col)}, x -> coalesce(nanvl("
                 f"CAST(x AS DOUBLE), 0.0D), 0.0D))")
        for j in range(out_dim):
            signs = ",".join(
                ("1.0D" if py_sign(i, j) > 0 else "-1.0D")
                for i in range(dim))
            comps.append(
                f"aggregate(zip_with({v_sql}, array({signs}), "
                f"(x, s) -> coalesce(x * s, 0.0D)), 0.0D, "
                f"(a, b) -> a + b) * {inv!r}D")
        y = F.expr(f"array({', '.join(comps)})")  # one gateway call
    else:
        for j in range(out_dim):
            signed = F.zip_with(v, idx, lambda x, i: x * sgn(i, j))
            comps.append(
                F.aggregate(signed, F.lit(0.0), lambda a, b: a + b)
                * F.lit(inv))
        y = F.array(*comps)
    if round_digits is not None:
        y = F.transform(y, lambda x: F.round(x, round_digits))
    # a NULL input vector must give a NULL output vector, not an
    # array of NULL components
    y = F.when(F.col(vec_col).isNotNull(), y)
    return df.withColumn(out_col, y)


def random_projection_pandas(df: DataFrame, vec_col: str, *,
                             in_dim: int, out_dim: int, seed: int = 42,
                             out_col: str = "rp_embedding",
                             round_digits: Optional[int] = None
                             ) -> DataFrame:
    """The batched-numpy twin of :func:`random_projection` for LARGE
    sketch targets: one sign matrix built ONCE (xxhash64-compatible
    signs are engine-private JVM state, so this path derives its
    Rademacher signs from md5 — the SAME ``md5(f"{seed}:{i}:{j}")``
    first-hex-digit parity contract as ``hash_scheme="md5"``), then one
    ``X @ S`` matmul per Arrow batch via ``mapInPandas``.  Per-row cost
    is a BLAS matmul instead of ``out_dim`` interpreted fold
    expressions — the right trade once ``in_dim × out_dim`` passes a
    few thousand.

    Same semantics as the expression path on the same scheme: identical
    signs, identical NULL/NaN handling (NULL and NaN elements → 0.0,
    NULL/empty vectors → NULL/zeros), and the same HALF_UP rounding
    rule as Spark's ``round``; only float SUMMATION ORDER differs
    (BLAS pairwise vs left fold), so boundary-exact equality is up to
    that ulp.  ``in_dim`` must be given explicitly — the matrix is
    built before any data is seen; a vector LONGER than ``in_dim``
    raises rather than silently truncating (shorter vectors zero-pad,
    matching the fold over their actual length).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    if out_dim <= 0 or in_dim <= 0:
        raise ValueError("in_dim and out_dim must be positive")
    S = np.empty((in_dim, out_dim), dtype=np.float64)
    for i in range(in_dim):
        for j in range(out_dim):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
            S[i, j] = 1.0 if int(h[0], 16) % 2 == 0 else -1.0
    S /= math.sqrt(out_dim)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = f"{fields}, {out_col} array<double>"

    def project(batches):
        for pdf in batches:
            col = pdf[vec_col]
            mask = col.notna()
            out = [None] * len(pdf)
            if mask.any():
                rows = col[mask]
                X = np.zeros((len(rows), in_dim), dtype=np.float64)
                for r, v in enumerate(rows):
                    a = np.asarray(v, dtype=np.float64)
                    if len(a) > in_dim:
                        raise ValueError(
                            f"random_projection_pandas: vector of "
                            f"length {len(a)} exceeds in_dim={in_dim}")
                    a = np.nan_to_num(a, nan=0.0)
                    X[r, :len(a)] = a
                Y = X @ S
                if round_digits is not None:
                    # HALF_UP away from zero, matching Spark's round
                    # (np.round is half-even and would disagree on
                    # exact .5 boundaries)
                    s10 = 10.0 ** round_digits
                    Y = np.sign(Y) * np.floor(np.abs(Y) * s10 + 0.5) \
                        / s10
                for r, pos in enumerate(np.flatnonzero(mask.to_numpy())):
                    out[pos] = Y[r].tolist()
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(project, schema=out_schema)
