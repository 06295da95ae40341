"""Document-quality operators for LLM training-data curation.

Classics of the public data-pipeline literature, each expressed as
pure Column expressions (JVM-side, map-only unless noted) so they run
unchanged over a 100 TB corpus.  The tokenizer is a higher-order
function, which Spark interprets rather than codegens and never shares
between consumers, so :func:`gopher_quality_flags` projects the token
array once into a child column that every rule reads:

- :func:`c4_line_clean` — the C4/RealNews line-level recipe: keep lines
  ending in terminal punctuation with enough words and no banned
  substrings; flag documents with too few surviving lines.

- :func:`gopher_quality_flags` — the Gopher/MassiveText-style rule
  battery (word count bounds, mean word length, symbol ratio, alphabetic
  word fraction, stopword evidence) with per-rule flags and a combined
  ``passes_gopher`` verdict.
- :func:`repetition_stats` — repetition signals (distinct-token
  fraction, duplicate-bigram fraction, top-token fraction).  The
  top-token fraction is computed WITHOUT a shuffle: sort the token array
  and fold a longest-run accumulator over it, instead of
  explode→groupBy→max per doc.
- :func:`pii_scrub` — regex redaction of emails / phone numbers / IPv4
  addresses with per-category match counts (counts first, then a
  composed ``regexp_replace`` chain).
- :func:`decontaminate` — benchmark decontamination: flag training docs
  sharing any word n-gram with an eval corpus.  Eval n-grams are
  broadcast (eval sets are small by construction), so the training side
  is map-side only — no shuffle of the corpus text.

Relation to the reference: ``wrangle_pypes`` has no corpus layer; these
extend the engine the way SURVEY.md §2.4's LLM-data block describes.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = (
    "gopher_quality_flags",
    "repetition_stats",
    "pii_scrub",
    "decontaminate",
    "c4_line_clean",
    "perplexity_buckets",
    "corpus_data_card",
    "source_kl_divergence",
    "corpus_js_divergence",
    "distribution_drift",
    "DEFAULT_STOPWORDS",
)

DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "of", "to", "in", "is", "that", "for",
    "it", "on", "with", "as", "was", "at", "by", "be", "this", "are",
)


# one tokenizer for the whole engine: quality rules and benchmark
# decontamination must segment text EXACTLY like the rest of the corpus
# pipeline (text.tokens), or a tokenizer tweak silently diverges them
from ..functions.text import tokens as _tokens
from ..functions.text import word_ngrams as _word_ngrams

# child-projection column read by the rules, dropped from the output
_TOKS = "_wps_toks"


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: Sequence[str] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Gopher-style quality rules → per-rule metrics + ``passes_gopher``.

    Thresholds default to the published MassiveText settings scaled to
    short documents; every rule is a JVM Column expression over the
    token array, which is projected once per row — map-only,
    shuffle-free, safe to run inline in the ingest scan.
    """
    text = F.col(text_col)
    toks = F.col(_TOKS)
    wc = F.size(toks)
    wc_d = F.greatest(wc, F.lit(1)).cast("double")
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, x: acc + F.length(x))
    mean_wl = sum_len.cast("double") / wc_d
    # symbols counted Gopher-style: '#' occurrences + '...' occurrences
    hash_n = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_n = ((F.length(text)
              - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3)
    symbol_ratio = (hash_n + ell_n).cast("double") / wc_d
    alpha_frac = (F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
                  .cast("double") / wc_d)
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(s) for s in stopwords])))

    passes = (
        wc.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= F.lit(max_symbol_word_ratio))
        & (alpha_frac >= F.lit(min_alpha_word_frac))
        & (stop_hits >= F.lit(min_stopword_hits))
    )
    return df.select("*", _tokens(text).alias(_TOKS)).select(
        "*",
        wc.cast("bigint").alias("word_count"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stopword_hits"),
        passes.alias("passes_gopher"),
    ).drop(_TOKS)


def c4_line_clean(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_line_words: int = 3,
    terminal_punct: Sequence[str] = (".", "!", "?", '"', "'"),
    banned_substrings: Sequence[str] = ("javascript", "lorem ipsum", "{"),
    min_kept_lines: int = 3,
    out_col: str = "cleaned_text",
) -> DataFrame:
    """C4-style line-level cleaning (the public C4/RealNews recipe):
    keep only lines that end in terminal punctuation, carry at least
    ``min_line_words`` words, and contain none of ``banned_substrings``
    (case-insensitive); a document whose kept-line count falls below
    ``min_kept_lines`` fails ``passes_c4``.

    Everything is JVM higher-order Column functions over the line array
    (split → filter → array_join) — map-only and shuffle-free, so the
    cleaner composes into the ingest scan at any corpus size exactly
    like :func:`gopher_quality_flags`.  Output adds ``total_lines``,
    ``kept_lines``, ``{out_col}`` (kept lines re-joined) and
    ``passes_c4``; the original text column is preserved for auditing.

    Line predicates are deliberately simple string ops (trim, right-1
    membership, whitespace-split word count, lowercase substring) so an
    external engine can mirror the semantics for value-level oracles.
    """
    lines = F.split(F.col(text_col), "\n")

    def _ok(line: Column) -> Column:
        t = F.trim(line)
        ends = F.substring(t, -1, 1).isin(*terminal_punct)
        words = F.size(F.split(t, r"\s+")) >= F.lit(min_line_words)
        lowered = F.lower(t)
        clean = F.lit(True)
        for bad in banned_substrings:
            clean = clean & ~lowered.contains(bad.lower())
        return ends & words & clean

    kept = F.filter(lines, _ok)
    return df.select(
        "*",
        F.size(lines).cast("bigint").alias("total_lines"),
        F.size(kept).cast("bigint").alias("kept_lines"),
        F.array_join(kept, "\n").alias(out_col),
        (F.size(kept) >= F.lit(min_kept_lines)).alias("passes_c4"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals per document, shuffle-free.

    ``top_token_frac`` (share of the most frequent token) is derived by
    sorting the token array and folding a longest-equal-run accumulator
    over it — a per-row O(n log n) instead of the explode → groupBy →
    max-per-doc topology, which would shuffle the whole exploded corpus
    twice.  ``dup_bigram_frac`` zips the token array against itself
    shifted by one (``zip_with`` over two ``slice``s).  The zip form
    is load-bearing, not style: a lambda that references an OUTER
    array expression (``element_at(toks, i)`` inside ``transform``)
    re-evaluates that expression per element in Spark's interpreted
    higher-order-function path — O(tokens²) per document, measured
    20× slower at sf0.1.  HOF lambdas here only touch their own
    arguments; outer arrays enter once, as HOF children.
    """
    text = F.col(text_col)
    toks = _tokens(text)
    wc = F.size(toks)
    wc_d = F.greatest(wc, F.lit(1)).cast("double")
    distinct_frac = F.size(F.array_distinct(toks)).cast("double") / wc_d

    nb1 = F.greatest(wc - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(toks, 1, nb1), F.slice(toks, 2, nb1),
                         lambda a, b: F.concat_ws(" ", a, b))
    nb = F.size(bigrams)
    dup_bigram_frac = F.when(nb > 0,
                             (nb - F.size(F.array_distinct(bigrams)))
                             .cast("double") / nb.cast("double")
                             ).otherwise(F.lit(0.0))

    # longest equal run in the SORTED token array == max token count
    srt = F.array_sort(toks)
    run = F.aggregate(
        srt,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].isNotNull() & (acc["prev"] == x),
                   acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNotNull() & (acc["prev"] == x),
                       acc["run"] + 1).otherwise(F.lit(1))).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_token_frac = run.cast("double") / wc_d

    return df.select(
        "*",
        wc.cast("bigint").alias("total_tokens"),
        distinct_frac.alias("distinct_token_frac"),
        dup_bigram_frac.alias("dup_bigram_frac"),
        top_token_frac.alias("top_token_frac"),
    )


# Patterns deliberately conservative and RE2/Java-compatible so the
# DuckDB oracle can run the identical regex.
_PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def pii_scrub(df: DataFrame, text_col: str = "text", *,
              patterns: Optional[dict[str, str]] = None,
              replacement: str = "[REDACTED-{kind}]") -> DataFrame:
    """Redact PII-shaped substrings; emit per-category match counts.

    Counts are taken BEFORE redaction (order-independent); the scrub is
    a composed ``regexp_replace`` chain.  Everything is a native string
    expression — no Python in the path, linear in corpus size.
    """
    pats = patterns or _PII_PATTERNS
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0)))
        .cast("bigint").alias(f"n_{kind}")
        for kind, p in pats.items()
    ]
    scrubbed = text
    for kind, p in pats.items():
        scrubbed = F.regexp_replace(
            scrubbed, p, replacement.format(kind=kind))
    return df.select("*", *counts, scrubbed.alias(f"{text_col}_scrubbed"))


def decontaminate(train: DataFrame, eval_df: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with the
    eval corpus (benchmark decontamination).

    Plan shape: eval n-grams are distinct'd and BROADCAST (eval suites
    are tiny next to the corpus), so the training side stays map-only —
    explode the n-grams, probe the broadcast set, collect hit doc-ids,
    left-join the flag back.  On a 100 TB corpus nothing but the hit
    id-list ever shuffles.  Grams are joined as strings here for
    exactness; at larger eval suites hash them (``xxhash64``) to shrink
    the broadcast, with a vanishing false-positive rate.
    """
    eval_grams = (eval_df
                  .select(F.explode(_word_ngrams(F.col(text_col), n))
                          .alias("_gram"))
                  .distinct())
    train_grams = train.select(
        F.col(id_col),
        F.explode(_word_ngrams(F.col(text_col), n)).alias("_gram"))
    hits = (train_grams
            .join(F.broadcast(eval_grams), "_gram", "left_semi")
            .select(id_col).distinct()
            .withColumn("_contaminated", F.lit(True)))
    return (train.join(hits, id_col, "left")
            .withColumn("contaminated",
                        F.coalesce(F.col("_contaminated"), F.lit(False)))
            .drop("_contaminated"))


def semantic_decontaminate(train: DataFrame, eval_df: DataFrame, *,
                           vec_col: str = "embedding",
                           id_col: str = "doc_id",
                           threshold: float = 0.9,
                           method: str = "exact", n_planes: int = 8,
                           round_digits: int = 6) -> DataFrame:
    """Embedding-space benchmark decontamination: for every training
    document, its maximum cosine similarity against ANY eval-set
    embedding, plus a ``contaminated`` flag at ``threshold`` — the
    semantic complement of the word-n-gram :func:`decontaminate`
    (catches paraphrased/translated eval leakage that shares no exact
    n-gram).  Returns ``(id_col, max_eval_sim, contaminated)``, one
    row per train row.

    * ``method="exact"`` — the eval set (benchmark suites: 10²–10⁵
      rows, tiny next to a 100 TB corpus) BROADCASTS; every train
      vector scores against all of it and a map-side-partial max
      collapses to one row per doc before the only shuffle.  The
      nested-loop term is O(|train|·|eval|) compute by DESIGN — the
      documented exact baseline, same contract as ``knn`` /
      ``embedding_near_dup``.
    * ``method="lsh"`` — both sides take a hyperplane-LSH code
      (``similarity.lsh_code_expr``); only code-equal pairs score
      (broadcast equi-join), so compute drops to the bucket
      collision rate.  Approximate: a leaked doc whose code differs
      from every eval code is missed (recall audited in tests);
      unmatched docs report ``max_eval_sim`` null and flag False.
    """
    from .similarity import _hyperplanes, cosine_expr, lsh_code_expr

    if method not in ("exact", "lsh"):
        raise ValueError(f"unknown method {method!r} "
                         "(expected 'exact' or 'lsh')")
    ev = eval_df.select(F.col(vec_col).alias("_ev"))
    pairs = train.select(id_col, vec_col)
    if method == "lsh":
        first = eval_df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("eval_df is empty — nothing to screen "
                             "against")
        planes = _hyperplanes(int(first["d"]), n_planes)
        ev = ev.select("_ev",
                       lsh_code_expr(F.col("_ev"), planes).alias("_c"))
        pairs = pairs.withColumn(
            "_c", lsh_code_expr(F.col(vec_col), planes))
        scored = pairs.join(F.broadcast(ev), "_c")
    else:
        scored = pairs.crossJoin(F.broadcast(ev))
    sims = (scored
            .select(id_col,
                    cosine_expr(F.col(vec_col), F.col("_ev"))
                    .alias("_s"))
            .groupBy(id_col)
            .agg(F.max("_s").alias("_max")))
    return (train.select(id_col).join(sims, id_col, "left")
            .select(id_col,
                    F.round(F.col("_max"), round_digits)
                    .alias("max_eval_sim"),
                    F.coalesce(F.col("_max") >= F.lit(threshold),
                               F.lit(False)).alias("contaminated")))


def quantile_filter(df: DataFrame, score_col: str, *,
                    quantile: float,
                    group_cols: Sequence[str] = (),
                    exact: bool = False,
                    relative_error: float = 0.001) -> DataFrame:
    """Drop the bottom ``quantile`` fraction of rows by ``score_col``,
    optionally per group (the standard corpus-curation move: "keep
    documents above the 20th quality percentile of their language").

    Two paths, same contract, different scale economics:

    * ``exact=False`` (the 100 TB default) — per-group
      ``approx_percentile`` cutoffs (one partial-aggregated pass,
      k rows collected), broadcast back, map-only ``score > cutoff``
      filter.  Nothing data-scale ever sorts or shuffles beyond the
      tiny cutoff aggregate; accuracy is ``relative_error`` of rank.
    * ``exact=True`` — ``cume_dist`` window per group: keep rows with
      ``cume_dist > quantile``.  Exact and engine-portable (ties share
      a ``cume_dist``, so tied rows are kept or dropped TOGETHER in
      any engine — no tiebreak needed), at the cost of a full sort per
      group.  This is the oracle-checkable twin, same trade as
      ``profile`` exact vs HLL.
    """
    if not 0.0 <= quantile < 1.0:
        raise ValueError("quantile must be in [0, 1)")
    if quantile == 0.0:
        # "drop the bottom 0 fraction" keeps everything on BOTH paths
        # (the approx cutoff would be the minimum, and the strict >
        # filter would wrongly delete minimum-tied rows)
        return df
    groups = list(group_cols)
    if exact:
        from pyspark.sql import Window

        w = (Window.partitionBy(*groups).orderBy(F.col(score_col))
             if groups else Window.partitionBy().orderBy(F.col(score_col)))
        return (df.withColumn("_cd", F.cume_dist().over(w))
                .filter(F.col("_cd") > quantile).drop("_cd"))
    agg = F.approx_percentile(
        F.col(score_col), F.lit(quantile),
        F.lit(int(1.0 / relative_error))).alias("_cutoff")
    if groups:
        # null-safe equi-join: a NULL group key is a group like any
        # other (matching the exact path's window partitioning), and a
        # NULL cutoff (all-NULL scores in the group) keeps the group
        # instead of silently deleting it — same contract as the
        # ungrouped path's `if cut is None: return df`
        cuts = df.groupBy(*groups).agg(agg)
        cond = None
        for g in groups:
            c = df[g].eqNullSafe(cuts[g])
            cond = c if cond is None else (cond & c)
        return (df.join(F.broadcast(cuts), cond)
                .filter(F.col("_cutoff").isNull() |
                        (F.col(score_col) > F.col("_cutoff")))
                .drop("_cutoff").drop(*[cuts[g] for g in groups]))
    cut = df.agg(agg).collect()[0]["_cutoff"]
    if cut is None:
        return df
    return df.filter(F.col(score_col) > F.lit(cut))


def _feature_bucket(col: Column, hash_scheme: str,
                    n_buckets: int) -> Column:
    """Hashed-feature bucket id in ``[0, n_buckets)`` as a LONG — the
    ONE bucketing contract shared by :func:`dsir_importance` and
    :func:`linear_text_scorer` (a single definition so the two ops'
    buckets can never drift apart).  ``"md5"``: first 4 hex chars of
    md5, decoded to an int then ``pmod``-folded — bit-identical in any
    engine, so value-level checkable (for ``n_buckets = 65536`` the
    fold is the identity and the bucket IS the 16-bit md5 prefix).
    ``"xxhash64"``: ``pmod(xxhash64, n_buckets)`` — ~2× cheaper per
    gram, engine-private."""
    if hash_scheme == "md5":
        raw16 = F.conv(F.substring(F.md5(col), 1, 4), 16, 10) \
                 .cast("long")
        return F.pmod(raw16, F.lit(n_buckets))
    if hash_scheme == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(n_buckets))
    raise ValueError(f"unknown hash_scheme {hash_scheme!r} "
                     "(expected 'md5' or 'xxhash64')")


def dsir_importance(raw: DataFrame, target: Optional[DataFrame] = None,
                    text_col: str = "text", *, id_col: str = "doc_id",
                    smoothing: float = 1.0,
                    round_digits: int = 4,
                    hash_scheme: str = "md5",
                    target_pred: Optional[Column] = None,
                    cache_registry: Optional[list] = None) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — the public hashed-n-gram recipe):
    score every raw-corpus document by how much more likely its hashed
    n-gram features are under a small TARGET corpus than under the raw
    corpus itself.  Select-by-weight (top-k or Gumbel top-k) then
    yields a raw subset distributed like the target.

    Features: unigrams + bigrams, bucketed into 65 536 buckets by the
    first 4 hex chars of ``md5(gram)`` (``hash_scheme="md5"``, the
    default: md5 is bit-identical everywhere, so weights are
    value-level checkable against any engine) or by
    ``pmod(xxhash64(gram), B)`` (``hash_scheme="xxhash64"`` — ~2×
    cheaper per gram, engine-private; the 100 TB choice when no
    cross-engine oracle is needed).

    ``weight(doc) = Σ_instances log( p̂_tgt[b] / p̂_raw[b] )`` with
    Laplace-``smoothing`` estimates ``p̂[b] = (c[b]+s) / (C+s·B)``.
    The sum collapses to per-(doc, bucket) counts first, so the
    order-dependent float accumulation runs over ≤ |doc buckets| terms
    and is rounded to ``round_digits`` (the same cross-engine
    tolerance contract as ``unigram_logprob_score``).

    Scale shape: the raw corpus is exploded and hashed ONCE — the
    per-(doc, bucket) aggregate is PERSISTED (memory-and-disk; it is
    the op's working set, O(corpus tokens) rows, spill-safe) and both
    the raw bucket marginals and the final weight aggregate read from
    that cache, so no plan branch re-explodes the corpus; the
    target-side aggregate is map-side partial and ≤ 65 536 rows out;
    the log-ratio table BROADCASTS onto the per-bucket side.  Corpus
    cost is one explode + one doc-keyed aggregate — the tf-idf
    topology.  Both cached tables are handed to ``cache_registry``
    (caller unpersists, the contract used elsewhere).

    ``target_pred`` (instead of ``target``): when the target corpus is
    a SUBSET of ``raw`` selected by a row predicate (the common
    "target = the English slice of the corpus" shape), pass the
    predicate and the target bucket counts are summed from the
    already-persisted per-(doc, bucket) table — the target slice is
    never exploded or hashed a second time (one full n-gram + md5 pass
    saved; identical counts, since per-doc bucket sums equal the
    exploded gram count).  Pass exactly one of ``target`` /
    ``target_pred``.
    """
    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target / target_pred")
    B = 65536

    def bucket(gram):
        return _feature_bucket(gram, hash_scheme, B)

    def grams(df: DataFrame, flag: Optional[Column] = None):
        g = F.concat(_word_ngrams(F.col(text_col), 1),
                     _word_ngrams(F.col(text_col), 2))
        cols = [F.col(id_col).alias("_doc"), F.explode(g).alias("_gram")]
        if flag is not None:
            cols.append(flag.alias("_t"))
        return df.select(*cols).withColumn("_b", bucket(F.col("_gram")))

    from pyspark import StorageLevel
    if target_pred is not None:
        # _t is constant per doc (a row-level predicate evaluated
        # before the explode), so adding it to the grouping keys
        # creates no extra groups — it just rides along so the target
        # marginal can filter the cached table instead of re-hashing
        per_bucket = grams(raw, flag=target_pred).groupBy(
            "_doc", "_b", "_t").agg(
            F.count("*").alias("_n")).persist(StorageLevel.MEMORY_AND_DISK)
        tgt_counts = (per_bucket.filter(F.col("_t"))
                      .groupBy("_b").agg(F.sum("_n").alias("_tc")))
    else:
        per_bucket = grams(raw).groupBy("_doc", "_b").agg(
            F.count("*").alias("_n")).persist(StorageLevel.MEMORY_AND_DISK)
        tgt_counts = grams(target).groupBy("_b").agg(
            F.count("*").alias("_tc"))
    raw_counts = per_bucket.groupBy("_b").agg(F.sum("_n").alias("_rc"))
    # FULL outer: buckets seen only in the target (the normal case for
    # an out-of-domain target corpus) must still count toward T, or
    # every p-hat_tgt is inflated; raw-only buckets carry _tc = 0
    ratio = (raw_counts.join(tgt_counts, "_b", "full_outer")
             .withColumn("_tc", F.coalesce("_tc", F.lit(0)))
             .withColumn("_rc", F.coalesce("_rc", F.lit(0)))
             .persist())
    if cache_registry is not None:
        cache_registry.append(per_bucket)
        cache_registry.append(ratio)
    totals = ratio.agg(F.sum("_rc").alias("r"),
                       F.sum("_tc").alias("t")).collect()[0]
    R, T = float(totals["r"] or 0), float(totals["t"] or 0)
    s = float(smoothing)
    logratio = F.log(((F.col("_tc") + s) / F.lit(T + s * B)) /
                     ((F.col("_rc") + s) / F.lit(R + s * B)))
    return (per_bucket
            .join(F.broadcast(ratio), "_b")
            .groupBy("_doc")
            .agg(F.sum("_n").alias("n_grams"),
                 F.round(F.sum(F.col("_n") * logratio),
                         round_digits).alias("dsir_logweight"))
            .select(F.col("_doc").alias(id_col), "n_grams",
                    "dsir_logweight"))


def boilerplate_removal(docs: DataFrame, text_col: str = "text", *,
                        id_col: str = "doc_id",
                        sep: str = r"\n+", join_sep: str = "\n",
                        min_docs: int = 5,
                        exact: bool = True) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet "terminal lines"
    recipe): split every document on ``sep``, hash each normalized
    segment (lowercase, whitespace-collapsed, md5), count the number of
    DISTINCT documents each segment appears in, and drop **every**
    occurrence of any segment seen in at least ``min_docs`` documents.
    Cookie banners, nav bars, and footer legalese are exactly the lines
    this removes.  Complement of :func:`~.dedup.paragraph_dedup`: that
    op keeps the *first* occurrence of a duplicated paragraph; this one
    treats high-document-frequency lines as template chrome and removes
    them from all documents.

    Output: one row per input document — ``clean_text`` rebuilt from the
    surviving segments in original order (joined with ``join_sep``),
    ``n_kept``, ``n_removed``.  Fully-boilerplate (or empty) documents
    come back with ``clean_text = ''`` — row count is preserved.

    Scale shape: posexplode → map-side normalize+hash → one hash-keyed
    document-frequency aggregate (``exact=True`` uses
    ``count(DISTINCT doc)`` — two-phase shuffle, oracle-checkable;
    ``exact=False`` uses ``approx_count_distinct`` — single-phase, the
    100 TB default near the threshold boundary only ±2% fuzzy) →
    LEFT ANTI join of the segment stream against the boilerplate set.
    The anti-join side holds only segments over the ``min_docs``
    threshold — by construction a tiny fraction of distinct segments —
    so AQE broadcasts it and the corpus side never reshuffles; the
    final doc-keyed regroup bounds per-task state at one document.
    """
    segs = (docs
            .select(F.col(id_col).alias("_doc"),
                    F.posexplode(F.split(F.col(text_col), sep))
                    .alias("_pos", "_seg"))
            .withColumn("_norm", F.trim(F.regexp_replace(
                F.lower("_seg"), r"\s+", " ")))
            .filter(F.col("_norm") != "")
            .withColumn("_h", F.md5("_norm"))
            .drop("_norm"))
    docfreq = (F.count_distinct("_doc") if exact
               else F.approx_count_distinct("_doc"))
    chrome = (segs.groupBy("_h").agg(docfreq.alias("_df"))
              .filter(F.col("_df") >= min_docs)
              .select("_h"))
    kept = segs.join(chrome, "_h", "left_anti")
    rebuilt = (kept.groupBy("_doc")
               .agg(F.concat_ws(join_sep, F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("_pos", "_seg"))),
                        lambda s: s["_seg"])).alias("clean_text"),
                    F.count("*").alias("n_kept")))
    totals = segs.groupBy("_doc").agg(F.count("*").alias("_n_segs"))
    return (docs.select(F.col(id_col))
            .join(totals, F.col(id_col) == F.col("_doc"), "left")
            .drop("_doc")
            .join(rebuilt, F.col(id_col) == F.col("_doc"), "left")
            .drop("_doc")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    (F.coalesce("_n_segs", F.lit(0)) -
                     F.coalesce("n_kept", F.lit(0))).cast("long")
                    .alias("n_removed")))


def ngram_containment(train: DataFrame, eval_df: DataFrame,
                      text_col: str = "text", *, id_col: str = "doc_id",
                      n: int = 3, round_digits: int = 6) -> DataFrame:
    """Graded decontamination: per-document n-gram containment against
    a reference corpus — ``containment = |doc grams ∩ ref grams| /
    |doc grams|`` over DISTINCT word n-grams.  Where
    :func:`decontaminate` answers "does this doc touch the eval set at
    all?", the ratio ranks HOW contaminated it is, which is what a
    near-threshold curation pass needs (drop > 0.8, audit 0.2–0.8,
    keep < 0.2).

    Output: (id, n_grams, n_overlap, containment, contaminated).
    Documents with fewer than ``n`` tokens have 0 grams and containment
    0.0.  Counts are exact integers and the ratio is one exact-int
    division rounded to ``round_digits`` — value-level checkable.

    Scale shape: the reference side collapses to distinct grams and
    BROADCASTS (eval corpora are small by construction).  The training
    corpus is read in two branches ON PURPOSE: the hit branch explodes
    grams into the broadcast INNER join — so only eval-overlapping
    grams (a tiny fraction of a clean corpus) ever reach the doc-keyed
    aggregate — and the totals branch is a pure map-only ``size()``
    projection.  A single-scan formulation (explode_outer + left join
    + count) would push EVERY gram of every document through the
    aggregate; that hashmap churn costs far more than the second
    map-only text scan it saves (benchmarked ~13× slower at sf0.1).
    """
    ref = (eval_df
           .select(F.explode(F.array_distinct(
               _word_ngrams(F.col(text_col), n))).alias("_g"))
           .distinct())
    grams = train.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(
            _word_ngrams(F.col(text_col), n))).alias("_g"))
    hits = (grams.join(F.broadcast(ref), "_g")
            .groupBy("_doc").agg(F.count("*").alias("_hits")))
    totals = train.select(
        F.col(id_col),
        F.size(F.array_distinct(_word_ngrams(F.col(text_col), n)))
        .cast("long").alias("n_grams"))
    out = (totals.join(hits, totals[id_col] == hits["_doc"], "left")
           .drop("_doc"))
    overlap = F.coalesce("_hits", F.lit(0)).cast("long")
    ratio = F.round(overlap / F.greatest(F.col("n_grams"), F.lit(1)),
                    round_digits)
    return out.select(
        id_col, "n_grams", overlap.alias("n_overlap"),
        ratio.alias("containment"),
        (overlap > 0).alias("contaminated"))


def perplexity_buckets(docs: DataFrame, *,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       group_col: Optional[str] = "lang",
                       cuts: Sequence[float] = (1.0 / 3.0, 2.0 / 3.0),
                       labels: Sequence[str] = ("head", "middle", "tail"),
                       exact: bool = False,
                       relative_error: float = 0.001,
                       cache_registry: Optional[list] = None) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus unigram LM (:func:`~..functions.text.unigram_logprob_score`,
    the cheap perplexity proxy), then split each ``group_col`` stratum
    (per-language, as in CCNet) into ``head`` / ``middle`` / ``tail``
    by the within-group score distribution — head = most fluent under
    the LM, tail = most surprising.  Public recipe: CCNet (Wenzek et
    al. 2020) buckets Common Crawl per language by LM perplexity
    terciles; downstream mixes sample the buckets at different rates.

    Two paths, same output schema, same trade as
    :func:`quantile_filter`:

    * ``exact=False`` (the 100 TB default) — per-group
      ``approx_percentile`` cutoffs broadcast back, map-only CASE
      (``score <= cutoff_i`` → ``labels[i]``).  Nothing data-scale
      sorts; the giant English stratum never lands on one machine.
      This is CCNet's actual recipe (value cutoffs from a quantile
      estimate).  The scored stream is persisted so the cutoff
      aggregate and the bucket assignment share ONE scoring pass.
    * ``exact=True`` — ``cume_dist`` window per group, rank-based.
      Engine-portable (tied scores share a ``cume_dist``, so tied
      documents land in the same bucket in any engine; the k/n ratio
      is an IEEE-exact division both engines round identically) at
      the cost of a full sort per group — the oracle-checkable twin.

    Tie contract (same caveat as ``quantile_filter``): the paths agree
    wherever scores are well separated around the cut points.  A tied
    block STRADDLING a cut point is rank-assigned by ``exact=True``
    (its cumulative mass decides) but value-assigned low by
    ``exact=False`` — a degenerate all-tied stratum is all-``tail``
    exact, all-``head`` approx.  4dp-rounded scores on real text make
    cut-straddling ties rare; don't diff the paths on them.

    Returns ``id_col``, ``group_col`` (if set), ``n_tokens``,
    ``avg_neg_logprob``, ``bucket`` — identical column order on both
    paths.  The vocab and score intermediates are persisted; pass a
    list as ``cache_registry`` and unpersist after materializing when
    looping over corpora (same contract as ``unigram_logprob_score``).
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly one more label than cuts")
    if (not all(a < b for a, b in zip(cuts, cuts[1:]))
            or not all(0.0 < c < 1.0 for c in cuts)):
        raise ValueError("cuts must be strictly increasing in (0, 1)")
    from ..functions.text import unigram_logprob_score

    scored = unigram_logprob_score(docs, text_col, id_col=id_col,
                                   cache_registry=cache_registry)
    if group_col:
        # re-attach the stratum column (scored carries id/stats only)
        scored = docs.select(id_col, group_col).join(scored, id_col)
    out_cols = ([id_col] + ([group_col] if group_col else [])
                + ["n_tokens", "avg_neg_logprob", "bucket"])
    score = F.col("avg_neg_logprob")
    groups = [group_col] if group_col else []

    def _case(pos: Column, cut_exprs: Sequence[Column]) -> Column:
        expr = F.lit(labels[-1])
        for cut, lab in zip(reversed(cut_exprs), reversed(labels[:-1])):
            expr = F.when(pos <= cut, F.lit(lab)).otherwise(expr)
        return expr

    if exact:
        from pyspark.sql import Window

        w = (Window.partitionBy(*groups).orderBy(score)
             if groups else Window.partitionBy().orderBy(score))
        return (scored.withColumn("_cd", F.cume_dist().over(w))
                .withColumn(
                    "bucket",
                    _case(F.col("_cd"), [F.lit(c) for c in cuts]))
                .select(*out_cols))
    # the cutoff aggregate AND the bucket join both consume `scored`;
    # without the persist the whole corpus-scoring lineage runs twice
    scored = scored.persist()
    if cache_registry is not None:
        cache_registry.append(scored)
    aggs = [F.approx_percentile(
        score, F.lit(float(c)),
        F.lit(int(1.0 / relative_error))).alias(f"_cut{i}")
        for i, c in enumerate(cuts)]
    cut_cols = [f"_cut{i}" for i in range(len(cuts))]
    if groups:
        # the group key is renamed on the cutoff side: cut_rows shares
        # scored's lineage, so frame-qualified drop/select would bind
        # the SAME attribute on both sides — a fresh name is the only
        # unambiguous handle
        cut_rows = (scored.groupBy(*groups).agg(*aggs)
                    .withColumnRenamed(groups[0], "_cutgrp"))
        cond = scored[groups[0]].eqNullSafe(F.col("_cutgrp"))
        joined = scored.join(F.broadcast(cut_rows), cond)
    else:
        joined = scored.crossJoin(F.broadcast(scored.agg(*aggs)))
    return (joined.withColumn(
                "bucket", _case(score, [F.col(c) for c in cut_cols]))
            .select(*out_cols))


def corpus_data_card(docs: DataFrame, *,
                     source_col: str = "source",
                     lang_col: str = "lang",
                     text_col: str = "text",
                     round_digits: int = 4,
                     cache_registry: Optional[list] = None) -> DataFrame:
    """Per-source corpus "data card": the summary table every released
    training mix ships (docs, token share, language spread, dominant
    language, mean lengths per source).

    One corpus-sized shuffle total: a map-side-combined
    ``groupBy(source, lang)`` aggregate, PERSISTED (it feeds both the
    per-source rollup and the dominant-language pick — without the
    persist the corpus aggregate would evaluate once per branch);
    everything downstream operates on the k×langs row table, which is
    tiny by construction.  Register cleanup via ``cache_registry`` as
    with the other corpus operators.  The dominant language is picked
    by ``row_number`` ordered ``(docs DESC, lang ASC NULLS LAST)`` —
    a total order, so the pick is deterministic cross-engine even on
    count ties or NULL langs.  A NULL ``source_col`` is a source like
    any other (null-safe join), and NULL ``text_col`` counts zero
    tokens/chars, so no document is silently missing from the shares.

    Returns one row per source: ``source, n_docs, pct_docs, n_langs,
    top_lang, total_tokens, pct_tokens, avg_tokens, avg_chars``.
    """
    from pyspark.sql import Window

    per = (docs.groupBy(source_col, lang_col)
           .agg(F.count("*").alias("_docs"),
                # greatest+coalesce: size(NULL) is NULL under ANSI but
                # -1 under legacy sizeOfNull — zero in either dialect
                F.sum(F.greatest(
                    F.coalesce(F.size(_tokens(F.col(text_col))),
                               F.lit(0)), F.lit(0)))
                .cast("long").alias("_toks"),
                F.sum(F.coalesce(F.length(F.col(text_col)), F.lit(0)))
                .cast("long").alias("_chars"))
           .persist())
    if cache_registry is not None:
        cache_registry.append(per)
    ranked = per.withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy(source_col)
            .orderBy(F.col("_docs").desc(),
                     F.col(lang_col).asc_nulls_last())))
    src = (per.groupBy(source_col)
           .agg(F.sum("_docs").alias("n_docs"),
                F.count("*").alias("n_langs"),
                F.sum("_toks").alias("total_tokens"),
                F.sum("_chars").alias("total_chars")))
    top = (ranked.filter(F.col("_rn") == 1)
           .select(source_col, F.col(lang_col).alias("top_lang")))
    w_all = Window.partitionBy()
    # null-safe: a NULL source group must not vanish from the card
    top = top.withColumnRenamed(source_col, "_topsrc")
    return (src.join(top,
                     src[source_col].eqNullSafe(F.col("_topsrc")))
            .drop("_topsrc")
            .withColumn("pct_docs",
                        F.round(F.col("n_docs")
                                / F.sum("n_docs").over(w_all),
                                round_digits))
            .withColumn("pct_tokens",
                        F.round(F.col("total_tokens")
                                / F.sum("total_tokens").over(w_all),
                                round_digits))
            .withColumn("avg_tokens",
                        F.round(F.col("total_tokens") / F.col("n_docs"),
                                round_digits))
            .withColumn("avg_chars",
                        F.round(F.col("total_chars") / F.col("n_docs"),
                                round_digits))
            .select(source_col, "n_docs", "pct_docs", "n_langs",
                    "top_lang", "total_tokens", "pct_tokens",
                    "avg_tokens", "avg_chars"))


def source_kl_divergence(docs: DataFrame, *,
                         source_col: str = "source",
                         text_col: str = "text",
                         round_digits: int = 6,
                         cache_registry: Optional[list] = None
                         ) -> DataFrame:
    """Per-source distribution drift: ``KL(P_source || P_corpus)`` over
    the token unigram distributions, in nats — the monitoring number
    behind "did this crawl slice change what the mix looks like".  A
    source whose language/topic profile matches the corpus scores near
    0; templated or off-domain sources score high.

    ``P_corpus`` has superset support by construction (it aggregates
    the same token stream), so the ratio is always finite — no
    smoothing knob to disagree about cross-engine.

    Scale shape: ONE corpus-sized shuffle — the ``(source, token)``
    count aggregate, map-side partial, persisted (it feeds both the
    corpus marginals and the per-source sum).  The corpus marginal
    table is vocab-sized and broadcast back; the per-source KL sum is
    a k-row aggregate.  Rounded to ``round_digits`` because the
    per-source summation order over the vocab differs between engines.

    Returns one row per source: ``source, n_tokens, kl_nats``.  A
    source whose documents hold no tokens at all (NULL/empty text —
    e.g. an extractor regression, exactly the drift this monitor
    exists to flag) still appears, with ``n_tokens = 0`` and a NULL
    ``kl_nats`` (KL of an empty distribution is undefined, but the
    row must not vanish).
    """
    st = (docs.select(F.col(source_col),
                      F.explode(_tokens(F.col(text_col))).alias("_tok"))
          .groupBy(source_col, "_tok")
          .agg(F.count("*").alias("_c"))
          .persist())
    if cache_registry is not None:
        cache_registry.append(st)
    marg = st.groupBy("_tok").agg(F.sum("_c").cast("long").alias("_cm"))
    src_tot = (st.groupBy(source_col)
               .agg(F.sum("_c").cast("long").alias("_ns")))
    total = st.agg(F.sum("_c")).collect()[0][0] or 1

    p_s = F.col("_c") / F.col("_ns")
    p_c = F.col("_cm") / F.lit(float(total))
    # null-safe re-attach of the per-source totals (NULL source is a
    # source like any other, same contract as corpus_data_card)
    src_tot = src_tot.withColumnRenamed(source_col, "_ksrc")
    joined = (st.join(F.broadcast(marg), "_tok")
              .join(F.broadcast(src_tot),
                    st[source_col].eqNullSafe(F.col("_ksrc")))
              .drop("_ksrc"))
    scored = (joined.groupBy(source_col)
              .agg(F.max("_ns").alias("n_tokens"),
                   F.round(F.sum(p_s * F.log(p_s / p_c)), round_digits)
                   .alias("kl_nats")))
    # re-attach token-less sources the explode necessarily dropped:
    # a k-row distinct (map-side partial) left-joined null-safely
    all_src = (docs.select(source_col).distinct()
               .withColumnRenamed(source_col, "_asrc"))
    return (all_src.join(F.broadcast(scored),
                         F.col("_asrc").eqNullSafe(scored[source_col]),
                         "left")
            .select(F.col("_asrc").alias(source_col),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    "kl_nats"))


def corpus_js_divergence(a: DataFrame, b: DataFrame, *,
                         text_col: str = "text",
                         round_digits: int = 6,
                         cache_registry: Optional[list] = None
                         ) -> DataFrame:
    """Jensen–Shannon divergence between two corpus snapshots' token
    unigram distributions, in nats — the symmetric companion to
    :func:`source_kl_divergence` for BEFORE/AFTER monitoring (new
    crawl vs old, pre- vs post-filter).  Unlike KL it is defined when
    the supports differ (tokens exclusive to one side contribute
    ``p·ln 2``), so no smoothing knob; bounded by ``ln 2``.

    Scale shape: one corpus-sized token-count aggregate PER SIDE
    (map-side partial, persisted — each count table feeds its total
    and the merge), then a vocab-sized full-outer shuffle join merges
    the two vocabularies and a one-row aggregate folds the JS sum.
    Nothing corpus-scale is joined or sorted.

    Returns one row: ``n_tokens_a, n_tokens_b, js_nats``.
    """
    def _counts(df: DataFrame, name: str) -> DataFrame:
        out = (df.select(F.explode(_tokens(F.col(text_col)))
                         .alias("_tok"))
               .groupBy("_tok")
               .agg(F.count("*").alias(name))
               .persist())
        if cache_registry is not None:
            cache_registry.append(out)
        return out

    ca = _counts(a, "_ca")
    cb = _counts(b, "_cb")
    na = ca.agg(F.sum("_ca")).collect()[0][0]
    nb = cb.agg(F.sum("_cb")).collect()[0][0]
    if not na or not nb:
        # an empty snapshot has no distribution: loud failure beats a
        # fabricated "0.35 nats of drift" from a vacuous comparison
        raise ValueError(
            f"corpus_js_divergence: empty snapshot "
            f"(n_tokens_a={na or 0}, n_tokens_b={nb or 0})")

    merged = (ca.join(cb, "_tok", "full_outer")
              .select(F.coalesce("_ca", F.lit(0)).alias("_ca"),
                      F.coalesce("_cb", F.lit(0)).alias("_cb")))
    p = F.col("_ca") / F.lit(float(na))
    q = F.col("_cb") / F.lit(float(nb))
    m = (p + q) / F.lit(2.0)
    # one-sided terms vanish where the side's mass is zero
    term_a = F.when(F.col("_ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    term_b = F.when(F.col("_cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return merged.agg(
        F.lit(int(na)).cast("long").alias("n_tokens_a"),
        F.lit(int(nb)).cast("long").alias("n_tokens_b"),
        F.round(F.lit(0.5) * F.sum(term_a)
                + F.lit(0.5) * F.sum(term_b),
                round_digits).alias("js_nats"))


def distribution_drift(counts: DataFrame, reference: DataFrame, *,
                       window_col: str, key_col: str,
                       count_col: str = "n",
                       ref_count_col: str = "n",
                       round_digits: int = 6) -> DataFrame:
    """Per-window distribution drift ``KL(P_window || P_reference)``
    from ANY ``(window, key, count)`` table — the analytic half of a
    streaming drift monitor: point the durable streaming rollup
    maintainer (:func:`~..streaming.foreach_batch_rollup_upsert`) at
    ``(window, key)`` counts and feed its store here each time you
    want the drift series; the same call works on a batch rollup.

    The reference is a ``(key, count)`` distribution (typically the
    historical corpus).  Keys observed in a window but ABSENT from the
    reference make that window's KL undefined — emitted as NULL
    ``kl_nats`` with a non-zero ``n_novel_keys``, never silently
    dropped: a brand-new category IS drift.

    Scale shape: everything is rollup-store-sized (windows × keys),
    orders of magnitude below the event stream the counts summarize.
    The reference is broadcast; window totals come from one window
    function over the store.
    """
    from pyspark.sql import Window

    ref_tot = reference.agg(
        F.sum(ref_count_col)).collect()[0][0]
    if not ref_tot:
        raise ValueError("distribution_drift: empty reference")
    ref = (reference.select(
        F.col(key_col),
        (F.col(ref_count_col) / F.lit(float(ref_tot))).alias("_pref")))

    w_tot = Window.partitionBy(window_col)
    cts = counts.withColumn(
        "_nw", F.sum(count_col).over(w_tot))
    p = F.col(count_col) / F.col("_nw")
    joined = cts.join(F.broadcast(ref), key_col, "left")
    term = F.when(F.col("_pref").isNotNull(),
                  p * F.log(p / F.col("_pref")))
    return (joined.groupBy(window_col)
            .agg(F.max("_nw").cast("long").alias("n_events"),
                 F.count(F.when(F.col("_pref").isNull(), 1))
                 .cast("long").alias("n_novel_keys"),
                 F.when(
                     F.count(F.when(F.col("_pref").isNull(), 1)) == 0,
                     F.round(F.sum(term), round_digits))
                 .alias("kl_nats")))


def linear_text_scorer(docs: DataFrame, weights: DataFrame, *,
                       text_col: str = "text", id_col: str = "doc_id",
                       bucket_col: str = "bucket",
                       weight_col: str = "weight",
                       bias: float = 0.0,
                       n_buckets: int = 65_536,
                       hash_scheme: str = "md5",
                       round_digits: int = 6) -> DataFrame:
    """Hashed bag-of-words LINEAR classifier inference — the
    "quality classifier" stage of modern curation pipelines
    (fastText-style score over hashed unigram features), run entirely
    JVM-side: no model runtime, no Python in the hot path.

    ``weights`` is the trained model: (bucket, weight) rows, one per
    non-zero feature (train anywhere — sklearn, fastText, a previous
    Spark job — and hand the coefficients over as a table).  Each doc's
    score is ``sigmoid(bias + Σ_tokens w[h(token)])`` where ``h`` is
    :func:`_feature_bucket` — the SAME bucketing contract as
    :func:`dsir_importance`, honoring ``n_buckets`` under BOTH schemes
    (md5 is bit-identical in any engine, value-level checkable;
    ``hash_scheme="xxhash64"`` is the cheaper engine-private twin).
    Token-less documents (empty or NULL text) are NOT dropped: they
    come back with ``n_tokens = 0`` and ``prob = sigmoid(bias)``, so a
    downstream ``prob > t`` filter makes an explicit decision on them
    instead of silently losing the rows.

    Scale shape: explode tokens → per-(doc, bucket) counts (map-side
    partial agg collapses repeated tokens BEFORE the join) → broadcast
    hash join against the ≤ ``n_buckets``-row weight table → one
    doc-keyed sum.  Two shuffles total (doc-bucket agg + doc agg), both
    keyed on the doc id; the model never exceeds broadcast size by
    construction.  Unseen buckets contribute 0 (left join, coalesce).

    Output: (id, n_tokens, raw_score, prob) — filter on ``prob`` for
    classifier-based selection, keep ``raw_score`` for calibration.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("_tok"))
    per_bucket = (toks.withColumn(
                      "_b", _feature_bucket(F.col("_tok"),
                                            hash_scheme, n_buckets))
                  .groupBy(id_col, "_b")
                  .agg(F.count(F.lit(1)).alias("_c")))
    w = F.broadcast(weights.select(
        F.col(bucket_col).cast("long").alias("_b"),
        F.col(weight_col).cast("double").alias("_w")))
    scored = (per_bucket.join(w, "_b", "left")
              .groupBy(id_col)
              .agg(F.sum("_c").cast("long").alias("n_tokens"),
                   (F.lit(bias) + F.sum(
                       F.col("_c") * F.coalesce(F.col("_w"), F.lit(0.0))))
                   .alias("_raw")))
    # token-less docs vanish at the explode; re-anchor on the distinct
    # id set so they score sigmoid(bias) instead of disappearing (the
    # distinct shares the doc-id shuffle key with the aggregate above)
    ids = docs.select(F.col(id_col)).distinct()
    scored = ids.join(scored, id_col, "left")
    raw = F.coalesce(F.col("_raw"), F.lit(float(bias)))
    return scored.select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
         .alias("n_tokens"),
        F.round(raw, round_digits).alias("raw_score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)),
                round_digits).alias("prob"))


def compression_ratio(docs: DataFrame, text_col: str = "text", *,
                      id_col: str = "doc_id", level: int = 6,
                      round_digits: int = 4) -> DataFrame:
    """Per-document zlib compression ratio — the cheap
    entropy/repetitiveness signal of web curation (template chrome and
    keyboard-mash compress far below prose; near-random noise barely
    compresses at all).  Filter LOW ratios as boilerplate/spam and
    extreme HIGHS as binary junk.

    This is deliberately the engine's ONE Arrow-batched Python hot
    path: there is no JVM Column expression for DEFLATE, so a
    ``pandas_udf`` (Series → Series, whole Arrow batches per call —
    never row-at-a-time) is the correct tool, same contract as the
    multimodal decoders.  Map-only, no shuffle; the surrounding
    projection stays in codegen.  Ratios are deterministic for a fixed
    zlib ``level`` within one runtime; cross-build drift is why this op
    is rows-only for cross-engine checks (pinned instead by the
    in-process replica test).

    Output: (id, n_bytes, n_compressed, ratio) with
    ``ratio = n_compressed / n_bytes`` (NULL for empty/NULL text).
    """
    # local import: keeps pandas out of the package's import graph —
    # only this one pandas-UDF op needs it.  The eval-type annotations
    # are attached as REAL class objects because the module-wide
    # `from __future__ import annotations` stringizes inline hints,
    # which then can't resolve 'pd' from module globals.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _raw(texts):
        import zlib

        def one(t):
            if t is None or t == "":
                return None
            return len(zlib.compress(t.encode("utf-8"), level))
        return texts.map(one, na_action=None).astype("Int64")

    _raw.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _compressed_len = pandas_udf(_raw, "long")

    sized = docs.select(
        F.col(id_col),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
        _compressed_len(F.col(text_col)).alias("n_compressed"))
    return sized.select(
        id_col, "n_bytes", "n_compressed",
        F.round(F.col("n_compressed") /
                F.nullif(F.col("n_bytes"), F.lit(0)),
                round_digits).alias("ratio"))
