"""Dedup + similarity: correctness against exact recomputation, and
recall audits for the approximate (LSH) operators — SURVEY §5.2.4."""

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_dup_pairs,
    simhash_signatures,
    simhash64,
)
from wrangle_pypes_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    kmeans_fit,
    lsh_bucket_topk,
    normalize_embeddings,
)


@pytest.fixture(scope="module")
def dup_corpus(spark, tables):
    """documents plus near-duplicate copies (last word changed)."""
    d = tables["documents"].select("doc_id", "text").limit(200)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""))
    perturbed = F.concat(
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))),
        F.lit(" zzz"))
    d2 = d.select((F.col("doc_id") + 1000000).alias("doc_id"),
                  perturbed.alias("text"))
    return d.unionByName(d2).cache()


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "id long, t string")
    out = exact_dedup(df, ["t"], tie_breaker="id")
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_dedup_null_keys_keep(spark):
    # NULL key means "unknown" (e.g. canonical_url of a non-URL) —
    # with null_keys="keep" those rows pass through instead of
    # collapsing corpus-wide into one NULL group
    from wrangle_pypes_spark.operators.dedup import dedup_keep_best
    df = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 9), (3, None, 1), (4, None, 2)],
        "id long, canon string, score long")
    grouped = exact_dedup(df, ["canon"], tie_breaker="id")
    assert sorted(r.id for r in grouped.collect()) == [1, 3]
    kept = exact_dedup(df, ["canon"], tie_breaker="id",
                       null_keys="keep")
    assert sorted(r.id for r in kept.collect()) == [1, 3, 4]
    best = dedup_keep_best(df, ["canon"], ["score"],
                           null_keys="keep")
    assert sorted(r.id for r in best.collect()) == [2, 3, 4]
    with pytest.raises(ValueError, match="null_keys"):
        exact_dedup(df, ["canon"], null_keys="drop")


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(shingles(F.col("t"), 3).alias("sh")).collect()[0].sh
    assert sorted(out) == ["a b c", "b c d"]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",)], "t string")
    out = df.select(shingles(F.col("t"), 3).alias("sh")).collect()[0].sh
    assert out == ["a b"]  # fewer tokens than n -> single partial shingle


def test_minhash_lsh_recall_vs_exact(spark, dup_corpus):
    """Every planted near-dup pair with true jaccard >= 0.8 must be
    found by the LSH pipeline (est threshold relaxed to 0.5)."""
    exact = ngram_jaccard_pairs(dup_corpus, "text", id_col="doc_id",
                                shingle_n=3, threshold=0.8,
                                prefilter_tokens=2)
    truth = {(r.id_a, r.id_b) for r in exact.collect()}
    assert len(truth) > 50  # the planted pairs are found at all

    lsh = minhash_lsh_dup_pairs(dup_corpus, "text", id_col="doc_id",
                                num_hashes=64, bands=16,
                                jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in lsh.collect()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"


def test_minhash_est_accuracy(spark, dup_corpus):
    """Estimated jaccard from 64 minhashes tracks exact jaccard."""
    exact = ngram_jaccard_pairs(dup_corpus, "text", id_col="doc_id",
                                shingle_n=3, threshold=0.7,
                                prefilter_tokens=2)
    lsh = minhash_lsh_dup_pairs(dup_corpus, "text", id_col="doc_id",
                                num_hashes=64, bands=16,
                                jaccard_threshold=0.3)
    j = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    est = {(r.id_a, r.id_b): r.est_jaccard for r in lsh.collect()}
    common = set(j) & set(est)
    assert common
    errs = [abs(j[p] - est[p]) for p in common]
    assert sum(errs) / len(errs) < 0.15


def test_incremental_lsh_matches_full_batch(spark, dup_corpus):
    """Dedup of a NEW batch against a stored banded index must find the
    same cross-side pairs as the full-batch run — the incremental 100 TB
    topology is semantics-preserving."""
    from wrangle_pypes_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_pairs_against,
    )

    corpus = dup_corpus.filter(F.col("doc_id") < 1000000)      # originals
    new_batch = dup_corpus.filter(F.col("doc_id") >= 1000000)  # perturbed

    index = minhash_banded(corpus, "text", id_col="doc_id").persist()
    inc = minhash_lsh_pairs_against(new_batch, index, "text",
                                    id_col="doc_id", jaccard_threshold=0.5)
    inc_pairs = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
                 for r in inc.collect()}

    full = minhash_lsh_dup_pairs(dup_corpus, "text", id_col="doc_id",
                                 jaccard_threshold=0.5)
    cross = {(r.id_a, r.id_b) for r in full.collect()
             if (r.id_a < 1000000) != (r.id_b < 1000000)}
    assert inc_pairs == cross
    assert len(inc_pairs) > 50


def test_minhash_signatures_tokenize_once(spark, sf_dir):
    """The signature plan tokenizes each document once: the shingle
    builder reads one projected token column.  The tokenizer is a
    higher-order function that Spark never shares across consumers, so
    an inlined form repeats its ``split`` per use (8 at 3-shingles)."""
    from wrangle_pypes_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, "text", id_col="doc_id")
    plan = sigs._sc._jvm.PythonSQLUtils.explainString(
        sigs._jdf.queryExecution(), "formatted")
    assert plan.count("split(") == 1, plan


def _minhash_reference(df, num_hashes, bands):
    """The LSH index built as a Column tree, one call per node: the
    form the SQL-string builders must match bit for bit."""
    exploded = df.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 3)).alias("sh"))
    hashed = exploded.select(
        F.col("doc_id"),
        F.xxhash64(F.lit(1), F.col("sh"))
        .bitwiseAND(F.lit((1 << 61) - 1)).alias("h1"),
        F.xxhash64(F.lit(2), F.col("sh"))
        .bitwiseAND(F.lit((1 << 56) - 1)).alias("h2"))
    sigs = (hashed.groupBy("doc_id")
            .agg(*[F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"m{i}")
                   for i in range(num_hashes)])
            .select(F.col("doc_id"),
                    F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
                    .alias("signature")))
    rows = num_hashes // bands
    banded = sigs.select(
        F.col("doc_id"), F.col("signature"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.lit(b), F.concat_ws(",", *[
                         F.col("signature")[b * rows + r].cast("string")
                         for r in range(rows)])).alias("bhash"))
            for b in range(bands)])).alias("lsh"),
    ).select("doc_id", "signature", "lsh.band", "lsh.bhash")
    return sigs, banded


@pytest.mark.parametrize("num_hashes,bands", [(64, 16), (12, 4)])
def test_minhash_index_schema_and_values_pinned(spark, dup_corpus,
                                                num_hashes, bands):
    """Stored LSH indexes (the streaming MinHash index,
    ``minhash_lsh_pairs_against``'s corpus side) join on band, bhash
    and signature, so the signature and banded tables must keep the
    Column-form reference's names, types, nullability, containsNull
    and values exactly."""
    from wrangle_pypes_spark.operators.dedup import (
        minhash_banded, minhash_signatures)

    ref_sigs, ref_banded = _minhash_reference(dup_corpus, num_hashes, bands)
    sigs = minhash_signatures(dup_corpus, "text", id_col="doc_id",
                              num_hashes=num_hashes)
    banded = minhash_banded(dup_corpus, "text", id_col="doc_id",
                            num_hashes=num_hashes, bands=bands)
    for got, want in ((sigs, ref_sigs), (banded, ref_banded)):
        # StructType equality covers names, types, nullable and the
        # signature array's containsNull
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))


def test_connected_components_vs_union_find(spark):
    from wrangle_pypes_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in connected_components(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    roots = {n: find(n) for n in nodes}
    canon = {}
    for n, r in roots.items():
        canon.setdefault(r, set()).add(n)
    expected = {n: min(canon[r]) for n, r in roots.items()}
    assert got == expected


def test_fuzzy_dedup_keep_canonical(spark, dup_corpus):
    from wrangle_pypes_spark.operators.dedup import fuzzy_dedup_keep_canonical

    pairs = ngram_jaccard_pairs(dup_corpus, "text", id_col="doc_id",
                                shingle_n=3, threshold=0.8,
                                prefilter_tokens=2)
    kept = fuzzy_dedup_keep_canonical(dup_corpus, pairs, id_col="doc_id")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    paired = {i for r in pairs.collect() for i in (r.id_a, r.id_b)}
    # every paired cluster keeps exactly its min id; unpaired docs all kept
    for r in pairs.collect():
        assert not (r.id_a in kept_ids and r.id_b in kept_ids)
    all_ids = {r.doc_id for r in dup_corpus.select("doc_id").collect()}
    assert (all_ids - paired) <= kept_ids
    assert len(kept_ids) < len(all_ids)


def test_simhash_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text about spark engines and data")],
        "id long, t string")
    out = {r.id: r.h for r in
           df.select("id", simhash64(F.col("t")).alias("h")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_simhash_signatures_match_expression_form(spark, dup_corpus):
    """The aggregate-based corpus path must produce bit-identical hashes
    to the pure-expression ``simhash64`` (same shingles, hash seed, and
    sign rule) — the two are interchangeable by contract."""
    sample = dup_corpus.limit(50)
    expr = {r.doc_id: r.h for r in
            sample.select("doc_id",
                          simhash64(F.col("text"), shingle_n=2).alias("h"))
                  .collect()}
    agg = {r.doc_id: r.simhash for r in
           simhash_signatures(sample, "text", id_col="doc_id",
                              shingle_n=2).collect()}
    assert expr == agg


def test_simhash_pairs_find_planted_dups(spark, dup_corpus):
    pairs = simhash_dup_pairs(dup_corpus, "text", id_col="doc_id",
                              shingle_n=2, max_hamming=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 1000000) for i in
               [r.doc_id for r in dup_corpus.filter(F.col("doc_id") < 1000000)
                .select("doc_id").collect()]}
    hit = len(found & planted) / len(planted)
    assert hit >= 0.5, f"simhash found only {hit:.2f} of planted dups"


# --- similarity -------------------------------------------------------------

def test_cosine_topk_matches_bruteforce_python(spark, tables):
    emb = tables["embeddings"].limit(100).cache()
    rows = emb.collect()
    vecs = {r.vec_id: r.embedding for r in rows}

    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    q = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(emb, q, id_col="vec_id", vec_col="embedding", k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    for qid, neighbors in got.items():
        expected = sorted(
            ((nid, cos(vecs[qid], v)) for nid, v in vecs.items() if nid != qid),
            key=lambda t: (-t[1], t[0]))[:4]
        assert [n for n, _ in neighbors] == [n for n, _ in expected]
        for (_, a), (_, b) in zip(neighbors, expected):
            assert abs(a - b) < 1e-9


def test_lsh_topk_recall(spark, tables):
    """Single-probe sign-LSH top-k recall vs exact — audited, not silent."""
    emb = tables["embeddings"].cache()
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    approx = lsh_bucket_topk(emb, q, id_col="vec_id", vec_col="embedding",
                             k=5, n_planes=4, probes=2)
    t = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(t & a) / len(t)
    # 4-bit multi-probe LSH on these near-random 64-dim vectors measures
    # ~0.85; the audit pins the floor so regressions are visible
    assert recall >= 0.7, f"LSH recall {recall:.2f} below floor"


@pytest.fixture(scope="module")
def emb_dup_corpus(spark, tables):
    """embeddings plus perturbed near-identical copies (first component
    shifted by +0.05 → cosine just below 1)."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    perturbed = F.concat(F.array(v[0] + F.lit(0.05)),
                         F.slice(v, 2, F.size(v) - 1))
    e2 = emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                    perturbed.alias("embedding"))
    return emb.select("vec_id",
                      v.alias("embedding")).unionByName(e2).cache()


def test_embedding_near_dup_exact_finds_planted(spark, emb_dup_corpus):
    pairs = embedding_near_dup_pairs(emb_dup_corpus, "embedding",
                                     id_col="vec_id", threshold=0.9,
                                     method="exact")
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    n = emb_dup_corpus.count() // 2
    planted = {(i, i + 1000000) for i in range(n)}
    # every planted pair has cosine ~0.99+ -> all must be found
    assert planted <= found


def test_embedding_near_dup_lsh_recall(spark, emb_dup_corpus):
    exact = embedding_near_dup_pairs(emb_dup_corpus, "embedding",
                                     id_col="vec_id", threshold=0.9,
                                     method="exact")
    lsh = embedding_near_dup_pairs(emb_dup_corpus, "embedding",
                                   id_col="vec_id", threshold=0.9,
                                   method="lsh", n_planes=8)
    t = {(r.id_a, r.id_b) for r in exact.collect()}
    a = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert a <= t  # lsh never invents pairs (same verify filter)
    recall = len(t & a) / len(t)
    assert recall >= 0.6, f"embedding LSH recall {recall:.2f} below floor"


def test_kmeans_deterministic_and_ivf_recall(spark, tables):
    emb = tables["embeddings"].cache()
    c1 = kmeans_fit(emb, "embedding", id_col="vec_id", k=8, iters=2)
    c2 = kmeans_fit(emb, "embedding", id_col="vec_id", k=8, iters=2)
    assert c1 == c2  # fully deterministic fit
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    approx = ivf_topk(emb, q, id_col="vec_id", vec_col="embedding",
                      k=5, n_centroids=8, n_probe=4, centroids=c1)
    t = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(t & a) / len(t)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"


def test_normalize_embeddings(spark, tables):
    emb = tables["embeddings"].limit(10)
    out = normalize_embeddings(emb, "embedding", "normed")
    norm = out.select(
        F.sqrt(F.aggregate(F.col("normed"), F.lit(0.0),
                           lambda a, x: a + x * x)).alias("n")).collect()
    for r in norm:
        assert abs(r.n - 1.0) < 1e-9


def test_spread_small_input_guard(spark, tables):
    from wrangle_pypes_spark.operators.dedup import spread_small_input

    d = tables["documents"]
    target = spark.sparkContext.defaultParallelism
    # small file: spread fires and raises map-side parallelism
    assert d.rdd.getNumPartitions() < target
    assert spread_small_input(d).rdd.getNumPartitions() == target
    # already-parallel frame: no-op (no extra shuffle at scale)
    wide = d.repartition(target)
    assert spread_small_input(wide) is wide


def test_embedding_centroids_elementwise_mean(spark):
    from wrangle_pypes_spark.operators import embedding_centroids

    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0, 6.0]), (3, "b", [5.0, 5.0])],
        "vec_id int, label string, embedding array<double>")
    got = {r.label: (r.n, r.centroid)
           for r in embedding_centroids(df, vec_col="embedding",
                                        label_col="label").collect()}
    assert got["a"] == (2, [2.0, 4.0])
    assert got["b"] == (1, [5.0, 5.0])


def test_paragraph_dedup_corpus_boilerplate(spark):
    """Corpus-wide duplicated paragraphs are dropped except the first
    (doc, pos) occurrence; normalization (case/whitespace) unifies
    variants; row count is preserved even for fully-dropped docs."""
    from wrangle_pypes_spark.operators import paragraph_dedup

    rows = [
        (1, "Hello world\n\nSHARE ME\n\nunique one"),
        (2, "SHARE ME\n\nanother thing"),
        (3, "share  me\n\nthird"),          # normalizes to the same hash
        (4, ""),                              # empty doc
        (5, "Share Me"),                      # all paragraphs are dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
           for r in paragraph_dedup(df, min_dup=2).collect()}
    assert got[1] == ("Hello world\n\nSHARE ME\n\nunique one", 3, 0)
    assert got[2] == ("another thing", 1, 1)
    assert got[3] == ("third", 1, 1)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 1)
    # keep="none" drops the first occurrence too
    none = {r.doc_id: r.clean_text
            for r in paragraph_dedup(df, min_dup=2, keep="none").collect()}
    assert none[1] == "Hello world\n\nunique one"
    # stays JVM-side with map-side partial aggregation
    from wrangle_pypes_spark.plans import assert_jvm_only, audit
    out = paragraph_dedup(df, min_dup=2)
    assert_jvm_only(out)
    assert audit(out).partial_aggregates >= 1


def test_streaming_dedup_keep_best_equals_batch(spark, tables, tmp_path):
    """Drain documents through foreach_batch_dedup_keep_best in two
    ARBITRARY micro-batches (parity split — no ordering contract, unlike
    SCD2): the durable store must equal the one-shot batch
    dedup_keep_best, and replaying a batch must leave the store
    byte-identical (max_by merge is idempotent — no epoch marker)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from wrangle_pypes_spark.functions import doc_fingerprint
    from wrangle_pypes_spark.operators.dedup import dedup_keep_best
    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import foreach_batch_dedup_keep_best

    d = tables["documents"].select(
        "doc_id", "n_chars",
        doc_fingerprint(F.col("text")).alias("fingerprint"))
    src_dir = str(tmp_path / "docs_src")
    for tag, half in (("a", d.filter(F.col("doc_id") % 2 == 0)),
                      ("b", d.filter(F.col("doc_id") % 2 == 1))):
        half.coalesce(1).write.parquet(f"{src_dir}/{tag}")
    files = [f for t in ("a", "b")
             for f in sorted(glob.glob(f"{src_dir}/{t}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    shutil.rmtree(f"{src_dir}/a"), shutil.rmtree(f"{src_dir}/b")

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir))
    store = str(tmp_path / "dedup_store")
    order = [F.col("n_chars"), -F.col("doc_id")]
    q = foreach_batch_dedup_keep_best(
        stream, store, key_cols=["fingerprint"], order_cols=order)
    q.awaitTermination()

    def rows(df):
        return sorted((r.fingerprint, r.doc_id, r.n_chars)
                      for r in df.collect())

    got = manifest_read(spark, store)
    want = dedup_keep_best(d, ["fingerprint"], order)
    assert rows(got) == rows(want)
    assert got.count() < d.count()  # the corpus has real duplicates

    # replay half the input (at-least-once redelivery): store unchanged
    replay = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir))
    q2 = foreach_batch_dedup_keep_best(
        replay, store, key_cols=["fingerprint"], order_cols=order)
    q2.awaitTermination()
    assert rows(manifest_read(spark, store)) == rows(want)


def test_span_dedup_removes_duplicated_spans(spark):
    """A 5-token span shared by two documents vanishes from BOTH; the
    unique remainder survives in order; short and empty docs pass
    through; overlapping duplicated windows merge into one coverage
    interval (no double-removal)."""
    from wrangle_pypes_spark.operators.dedup import span_dedup

    dup = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, f"one two {dup} three four"),
         (2, f"five six seven {dup} eight"),
         (3, "totally unique tokens here nine ten eleven"),
         (4, "short doc"),
         (5, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(
        docs, span=5, stride=1, min_dup=2).collect()}
    assert out[1].clean_text == "one two three four"
    assert out[1].n_removed == 5 and out[1].n_tokens == 9
    assert out[2].clean_text == "five six seven eight"
    assert out[3].n_removed == 0
    assert out[3].clean_text == "totally unique tokens here nine ten eleven"
    assert out[4].clean_text == "short doc" and out[4].n_removed == 0
    assert out[5].n_tokens == 0 and out[5].n_removed == 0

    # a 6-token shared run => two overlapping duplicated 5-windows that
    # must merge into ONE [start, start+5] interval covering 6 tokens
    dup6 = dup + " zeta"
    docs2 = spark.createDataFrame(
        [(1, f"aa bb {dup6} cc"), (2, f"dd {dup6} ee ff")],
        "doc_id long, text string")
    out2 = {r.doc_id: r for r in span_dedup(
        docs2, span=5, stride=1, min_dup=2).collect()}
    assert out2[1].clean_text == "aa bb cc" and out2[1].n_removed == 6
    assert out2[2].clean_text == "dd ee ff" and out2[2].n_removed == 6


def test_span_dedup_content_anchoring_catches_misaligned_dup(spark):
    """stride>1 uses content-defined anchors (first-token md5 % stride
    == 0), so a shared run is sampled at the SAME internal positions in
    both docs even though its offsets differ — a doc-aligned grid would
    miss it.  Tokens w7/w8 anchor for stride=4 (precomputed from md5),
    so windows [w7..w14] and [w8..w15] are caught and w7..w15 vanish
    from both docs."""
    from wrangle_pypes_spark.operators.dedup import span_dedup

    long_dup = " ".join(f"w{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, f"x1 x2 {long_dup} x3"),          # dup at offset 3
         (2, f"y1 {long_dup} y2 y3 y4")],      # dup at offset 2
        "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(
        docs, span=8, stride=4, min_dup=2).collect()}
    assert out[1].n_removed == 9 and out[2].n_removed == 9
    assert out[1].clean_text == \
        "x1 x2 " + " ".join(f"w{i}" for i in range(7)) + " x3"

    capped = span_dedup(docs, span=8, stride=4, min_dup=2,
                        max_spans_per_doc=1)
    assert capped.count() == 2        # cap never breaks the pipeline


def test_semantic_dedup_keeps_one_per_cluster_of_near_dups(spark):
    """Two tight groups of near-identical vectors plus isolated
    singletons: one canonical (min id) survives per group, singletons
    all survive, and re-running yields the same survivors."""
    from wrangle_pypes_spark.operators import semantic_dedup

    def jitter(base, eps):
        return [x + eps for x in base]

    g1 = [1.0, 0.0, 0.0, 0.0]
    g2 = [0.0, 1.0, 0.0, 0.0]
    rows = [(1, jitter(g1, 0.0)), (2, jitter(g1, 0.001)),
            (3, jitter(g1, 0.002)),
            (10, jitter(g2, 0.0)), (11, jitter(g2, 0.001)),
            (20, [0.0, 0.0, 1.0, 0.0]),      # isolated
            (21, [0.0, 0.0, 0.0, 1.0])]      # isolated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "embedding", id_col="vec_id",
                         n_clusters=4, threshold=0.999)
    ids = sorted(r.vec_id for r in out.collect())
    assert ids == [1, 10, 20, 21]
    again = sorted(r.vec_id for r in semantic_dedup(
        df, "embedding", id_col="vec_id",
        n_clusters=4, threshold=0.999).collect())
    assert again == ids


def test_semantic_dedup_target_cell_size_scales_clusters(spark):
    """target_cell_size derives n_clusters from the corpus size (the
    SemDeDup scaling knob) and still dedups correctly; bad values
    raise."""
    import pytest

    from wrangle_pypes_spark.operators import semantic_dedup

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(60)]
    rows += [(100, [9.0, 0.0, 0.0]), (101, [9.0000001, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "embedding", id_col="vec_id",
                         threshold=0.999999, target_cell_size=10)
    ids = sorted(r.vec_id for r in out.collect())
    # the two colinear vectors collapse to the min id; count shrinks
    assert 100 in ids and 101 not in ids
    with pytest.raises(ValueError):
        semantic_dedup(df, "embedding", id_col="vec_id",
                       target_cell_size=0)
    with pytest.raises(ValueError):
        semantic_dedup(df, "embedding", id_col="vec_id", n_clusters=None)


def test_pair_metrics_counts_and_ratios(spark):
    """Canonicalization (order, duplicates) is applied before counting;
    precision/recall/f1 match hand math; empty sides yield NULL ratios
    instead of division errors."""
    from wrangle_pypes_spark.operators import pair_metrics

    pred = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6)], "id_a long, id_b long")
    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (7, 8)], "id_a long, id_b long")
    r = pair_metrics(pred, truth).collect()[0]
    assert (r.n_pred, r.n_truth, r.n_hit) == (3, 3, 2)
    assert r.precision == r.recall == pytest.approx(2 / 3, abs=1e-6)
    assert r.f1 == pytest.approx(2 * 2 / 6, abs=1e-6)

    empty = pred.filter("id_a < 0")
    r2 = pair_metrics(empty, truth).collect()[0]
    assert r2.n_pred == 0 and r2.precision is None and r2.recall == 0.0

    r3 = pair_metrics(empty, empty).collect()[0]
    assert (r3.n_pred, r3.n_truth, r3.n_hit) == (0, 0, 0)  # never NULL


def test_source_overlap_matrix(spark):
    from wrangle_pypes_spark.operators.dedup import source_overlap
    rows = [("a", "x"), ("a", "y"), ("a", "z"),
            ("b", "y"), ("b", "z"), ("b", "w"),
            ("c", "q"), ("a", "y"), (None, "x")]
    df = spark.createDataFrame(rows, "src string, fp string")
    out = {(r.source_a, r.source_b): r for r in source_overlap(
        df, source_col="src", fingerprint_col="fp").collect()}
    ab = out[("a", "b")]
    assert (ab.n_common, ab.n_a, ab.n_b) == (2, 3, 3)  # dup (a,y) collapsed
    assert ab.jaccard == pytest.approx(2 / 4)
    assert ab.containment == pytest.approx(2 / 3)
    assert ("a", "c") not in out  # zero-overlap pairs omitted
    assert all(k[0] is not None for k in out)  # null source dropped


def test_source_overlap_null_fingerprints_in_totals_only(spark):
    """NULL fingerprints count toward per-source totals (the old
    distinct kept one (null, src) row per source) but never produce
    cross-source pairs (the old fingerprint self-join dropped null
    keys) — the r15 collect_set rewrite must preserve both halves."""
    from wrangle_pypes_spark.operators.dedup import source_overlap
    rows = [("a", "x"), ("a", None), ("b", "x"), ("b", None),
            ("c", None)]
    df = spark.createDataFrame(rows, "src string, fp string")
    out = {(r.source_a, r.source_b): r for r in source_overlap(
        df, source_col="src", fingerprint_col="fp").collect()}
    assert set(out) == {("a", "b")}  # null fp never pairs; c absent
    ab = out[("a", "b")]
    assert (ab.n_common, ab.n_a, ab.n_b) == (1, 2, 2)
    assert ab.jaccard == pytest.approx(1 / 3)
    assert ab.containment == pytest.approx(1 / 2)


def test_source_overlap_arg_validation(spark):
    from wrangle_pypes_spark.operators.dedup import source_overlap
    df = spark.createDataFrame([("a", "x")], "src string, fp string")
    with pytest.raises(ValueError):
        source_overlap(df, source_col="src")
    with pytest.raises(ValueError):
        source_overlap(df, source_col="src", text_col="fp",
                       fingerprint_col="fp")


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    from wrangle_pypes_spark.operators.similarity import (
        dequantize_embeddings, quantize_embeddings)
    import os
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = quantize_embeddings(emb, "embedding")
    back = dequantize_embeddings(q, out_col="recon")
    err = back.select(F.aggregate(
        F.zip_with("embedding", "recon",
                   lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x)).alias("max_err"),
        (F.col("q_scale") / 2 + 1e-12).alias("bound"))
    bad = err.filter(F.col("max_err") > F.col("bound")).count()
    assert bad == 0
    # int8 range respected
    rng = q.select(F.aggregate(
        "q_embedding", F.lit(0),
        lambda acc, x: F.greatest(acc, F.abs(x))).alias("m"))
    assert rng.agg(F.max("m")).first()[0] <= 127


def test_quantize_zero_vector_and_plan(spark):
    from pyspark.sql import Row
    from wrangle_pypes_spark.operators.similarity import (
        dequantize_embeddings, quantize_embeddings)
    from wrangle_pypes_spark.plans import audit
    df = spark.createDataFrame([Row(v=[0.0, 0.0]), Row(v=[1.0, -2.0])])
    q = quantize_embeddings(df, "v")
    rows = q.collect()
    assert rows[0].q_embedding == [0, 0] and rows[0].q_scale == 0.0
    assert rows[1].q_embedding[1] == -127
    back = dequantize_embeddings(q, out_col="r").collect()
    assert back[0].r == [0.0, 0.0]
    rep = audit(q)
    assert rep.jvm_only() and rep.shuffle_count() == 0


def test_quantize_null_element_is_zero_not_127(spark):
    # Spark least/greatest skip NULLs, so without the coalesce a NULL
    # element would clamp to +127 — a fabricated max-magnitude value
    from pyspark.sql import Row
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import (
        dequantize_embeddings, quantize_embeddings)
    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    df = spark.createDataFrame(
        [(1, [None, 2.0]), (2, None)], schema)
    q = quantize_embeddings(df, "v").orderBy("id")
    rows = q.collect()
    # NULL element quantizes to 0 and the scale comes from 2.0 alone
    assert rows[0].q_embedding == [0, 127]
    assert rows[0].q_scale == pytest.approx(2.0 / 127.0)
    back = dequantize_embeddings(q, out_col="r").orderBy("id").collect()
    assert back[0].r[0] == 0.0
    # NULL vector stays NULL
    assert rows[1].q_embedding is None and rows[1].q_scale is None


def test_quantize_nan_element_is_zero_not_poison(spark):
    # r5 fix regression guard: a single NaN element must quantize to 0,
    # not poison the max-abs fold (NaN scale → CAST_OVERFLOW under ANSI
    # when rounding x/scale to int, killing the whole job for one row)
    from pyspark.sql import Row
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import quantize_embeddings
    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    df = spark.createDataFrame(
        [(1, [float("nan"), 2.0]), (2, [float("nan")])], schema)
    rows = quantize_embeddings(df, "v").orderBy("id").collect()
    assert rows[0].q_embedding == [0, 127]
    assert rows[0].q_scale == pytest.approx(2.0 / 127.0)
    # all-NaN vector behaves like all-zero: scale 0, zeros out
    assert rows[1].q_embedding == [0]
    assert rows[1].q_scale == 0.0


def test_quantized_cosine_topk_recall(spark, sf_dir):
    """int8 top-k vs exact top-k: recall@5 stays high — the pinned
    cost of the 4x storage cut."""
    import os
    from wrangle_pypes_spark.operators.similarity import (
        cosine_topk, dequantize_embeddings, quantize_embeddings)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, vec_col="embedding",
                        id_col="vec_id", k=5)
    recon = dequantize_embeddings(
        quantize_embeddings(emb, "embedding"), out_col="embedding_r") \
        .select("vec_id", F.col("embedding_r").alias("embedding"), "label")
    approx = cosine_topk(recon, queries, vec_col="embedding",
                         id_col="vec_id", k=5)
    e = {(r[0], r[1]) for r in exact.select(exact.columns[0],
                                            exact.columns[1]).collect()}
    a = {(r[0], r[1]) for r in approx.select(approx.columns[0],
                                             approx.columns[1]).collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, (recall, len(e))


def test_streaming_cdc_apply_tombstones_and_replay(spark, tmp_path):
    """Two micro-batches of I/U/D images, deliberately OUT OF ORDER
    across batches: the store must equal the one-shot latest-image
    semantics, a late stale update must NOT resurrect a deleted key
    (tombstone), and replaying the feed leaves the store unchanged."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import (foreach_batch_cdc_apply,
                                               read_cdc_store)

    # batch A carries the LATER images, batch B the earlier ones
    batch_a = spark.createDataFrame(
        [(1, "U", 3, "v3"), (2, "D", 5, None), (3, "I", 1, "c1")],
        "id int, op string, seq int, val string")
    batch_b = spark.createDataFrame(
        [(1, "U", 2, "v2"),   # stale: loses to seq 3 already applied
         (2, "U", 4, "zomb"),  # stale update AFTER delete seq 5 applied
         (4, "I", 1, "d1")],
        "id int, op string, seq int, val string")
    src = str(tmp_path / "cdc_src")
    for i, b in enumerate((batch_a, batch_b)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    schema = batch_a.schema
    store = str(tmp_path / "cdc_store")

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_cdc_apply(stream, store, key_cols=["id"],
                                    seq_col="seq")
        q.awaitTermination()

    drain()
    cur = {r.id: r.val for r in read_cdc_store(spark, store).collect()}
    # key 1: seq-3 image wins over the late seq-2; key 2 stays deleted
    assert cur == {1: "v3", 3: "c1", 4: "d1"}
    raw = {r.id: (r._cdc_seq, r._cdc_deleted)
           for r in manifest_read(spark, store).collect()}
    assert raw[2] == (5, True)  # tombstone retained with applied seq

    before = sorted(map(tuple, manifest_read(spark, store).collect()))
    drain()  # at-least-once replay of the whole feed
    after = sorted(map(tuple, manifest_read(spark, store).collect()))
    assert before == after


def test_streaming_cdc_apply_rejects_unknown_op(spark, tmp_path):
    from wrangle_pypes_spark.streaming import foreach_batch_cdc_apply

    bad = spark.createDataFrame([(1, "Z", 1, "x")],
                                "id int, op string, seq int, val string")
    src = str(tmp_path / "bad_src")
    bad.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(bad.schema)
              .format("parquet").load(src))
    store = str(tmp_path / "bad_store")
    import pytest
    from pyspark.errors import StreamingQueryException
    q = foreach_batch_cdc_apply(stream, store, key_cols=["id"],
                                seq_col="seq")
    with pytest.raises(StreamingQueryException, match="unknown op code"):
        q.awaitTermination()


def test_random_projection_jl_property(spark, sf_dir):
    """Projected pairwise distances track true distances (JL): with
    d'=32 the relative error on real embeddings stays bounded, and the
    projection is deterministic + map-only."""
    import itertools
    import math

    from wrangle_pypes_spark.operators.similarity import random_projection
    from wrangle_pypes_spark.plans import audit

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter(F.col("vec_id") < 30))
    out = random_projection(emb, "embedding", out_dim=32)
    rep = audit(out)
    assert rep.jvm_only() and rep.shuffle_count() == 0
    rows = {r.vec_id: (r.embedding, r.rp_embedding)
            for r in out.collect()}

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    errs = []
    for a, b in itertools.combinations(sorted(rows), 2):
        d_true = dist(rows[a][0], rows[b][0])
        d_proj = dist(rows[a][1], rows[b][1])
        if d_true > 0:
            errs.append(abs(d_proj - d_true) / d_true)
    assert sum(errs) / len(errs) < 0.25, sum(errs) / len(errs)
    assert max(errs) < 0.7, max(errs)

    # deterministic; md5 scheme agrees with itself across runs
    again = {r.vec_id: r.rp_embedding for r in random_projection(
        emb, "embedding", out_dim=32).collect()}
    assert all(again[k] == rows[k][1] for k in rows)


def test_random_projection_null_and_errors(spark):
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import random_projection
    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    df = spark.createDataFrame([(1, [1.0, None]), (2, None)], schema)
    rows = {r.id: r.rp for r in random_projection(
        df, "v", out_dim=4, out_col="rp").collect()}
    assert rows[2] is None              # NULL vector stays NULL
    assert all(x is not None for x in rows[1])  # NULL element -> 0.0
    import pytest
    with pytest.raises(ValueError, match="out_dim"):
        random_projection(df, "v", out_dim=0)
    with pytest.raises(ValueError, match="hash_scheme"):
        random_projection(df, "v", out_dim=2, hash_scheme="sha")
    # dim= promises pre-folded plan-literal signs, which only md5 has a
    # driver-side hash replica for — with xxhash64 it must raise, not
    # silently fall through to the per-row-hash path
    with pytest.raises(ValueError, match="dim= requires"):
        random_projection(df, "v", out_dim=2, dim=3, hash_scheme="xxhash64")


def test_random_projection_empty_vector_is_zeros(spark):
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import random_projection
    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    df = spark.createDataFrame([(1, [])], schema)
    [r] = random_projection(df, "v", out_dim=4, out_col="rp").collect()
    assert r.rp == [0.0, 0.0, 0.0, 0.0]


def test_random_projection_literal_signs_read_dotted_names(spark):
    """The dim= path reads ``vec_col`` as ``F.col`` does: an unquoted
    dot steps into a struct field, a backticked name is literal."""
    from pyspark.sql import functions as F
    from wrangle_pypes_spark.operators.similarity import random_projection
    flat = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 3.0, None])],
        "id bigint, v array<double>")
    want = {r.id: r.rp for r in random_projection(
        flat, "v", out_dim=3, out_col="rp", hash_scheme="md5",
        dim=3).collect()}
    nested = flat.select("id", F.struct("v").alias("s"))
    got = {r.id: r.rp for r in random_projection(
        nested, "s.v", out_dim=3, out_col="rp", hash_scheme="md5",
        dim=3).collect()}
    assert got == want
    dotted = flat.withColumnRenamed("v", "a.b")
    got = {r.id: r.rp for r in random_projection(
        dotted, "`a.b`", out_dim=3, out_col="rp", hash_scheme="md5",
        dim=3).collect()}
    assert got == want


def test_random_projection_literal_signs_equal_hash_path(spark, sf_dir):
    """dim= pre-folds md5 signs into plan literals; results must be
    bit-identical to the per-row-hash path, including NULL-element,
    NaN-element, short-row (missing positions add 0) and NULL-vector
    handling."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import random_projection

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    a = random_projection(e, "embedding", out_dim=6, hash_scheme="md5")
    b = random_projection(e, "embedding", out_dim=6, hash_scheme="md5",
                          dim=64)
    rows_a = {r.vec_id: r.rp_embedding for r in a.collect()}
    rows_b = {r.vec_id: r.rp_embedding for r in b.collect()}
    assert rows_a == rows_b

    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    edge = spark.createDataFrame(
        [(1, [None, 1.0, float("nan")]), (2, None), (3, []),
         (4, [2.0])], schema)
    for kw in ({}, {"dim": 3}):
        out = {r.id: r.rp_embedding
               for r in random_projection(edge, "v", out_dim=2,
                                          hash_scheme="md5", **kw)
               .collect()}
        assert out[2] is None
        assert out[3] == [0.0, 0.0]
        # short row: position 0 only — both paths agree
        assert out[4] == pytest.approx(
            [2.0 * s / (2 ** 0.5) for s in _md5_sign_col0(2)])


def _md5_sign_col0(out_dim):
    import hashlib
    out = []
    for j in range(out_dim):
        h = hashlib.md5(f"42:0:{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def test_random_projection_pandas_equals_expr_path(spark, sf_dir):
    """The BLAS path must compute the SAME function as the md5-scheme
    expression path (identical signs; summation-order ulps absorbed by
    rounding), including NULL-vector rows."""
    from wrangle_pypes_spark.operators.similarity import (
        random_projection, random_projection_pandas)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter(F.col("vec_id") < 50)
           .withColumn("embedding",
                       F.when(F.col("vec_id") % 17 == 0, None)
                        .otherwise(F.col("embedding"))))
    a = {r.vec_id: r.rp for r in random_projection(
        emb, "embedding", out_dim=8, hash_scheme="md5",
        round_digits=6, out_col="rp").collect()}
    b = {r.vec_id: r.rp for r in random_projection_pandas(
        emb, "embedding", in_dim=64, out_dim=8,
        round_digits=6, out_col="rp").collect()}
    assert set(a) == set(b)
    for k in a:
        if a[k] is None:
            assert b[k] is None
        else:
            assert a[k] == b[k], (k, a[k], b[k])

    import pytest
    with pytest.raises(ValueError, match="out_dim"):
        random_projection_pandas(emb, "embedding", in_dim=64, out_dim=0)


def test_random_projection_pandas_guards(spark):
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from wrangle_pypes_spark.operators.similarity import (
        random_projection, random_projection_pandas)
    schema = StructType([StructField("id", LongType()),
                         StructField("v", ArrayType(DoubleType()))])
    # over-length vector must raise, never silently truncate
    long_df = spark.createDataFrame([(1, [1.0] * 5)], schema)
    out = random_projection_pandas(long_df, "v", in_dim=3, out_dim=2)
    import pytest
    with pytest.raises(Exception, match="exceeds in_dim"):
        out.collect()
    # NaN elements count as 0.0 on BOTH paths (NaN can't be told from
    # NULL once Arrow hands the array to numpy)
    nan_df = spark.createDataFrame([(1, [float("nan"), 2.0])], schema)
    a = random_projection(nan_df, "v", out_dim=4, hash_scheme="md5",
                          round_digits=6, out_col="rp").first().rp
    b = random_projection_pandas(nan_df, "v", in_dim=2, out_dim=4,
                                 round_digits=6,
                                 out_col="rp").first().rp
    zero = random_projection(
        spark.createDataFrame([(1, [0.0, 2.0])], schema), "v",
        out_dim=4, hash_scheme="md5", round_digits=6,
        out_col="rp").first().rp
    assert a == b == zero


def test_streaming_minhash_index_equals_batch(spark, dup_corpus,
                                              tmp_path):
    """Drain the dup corpus in two arbitrary batches through the LSH
    index maintainer: the durable index must equal the one-shot banded
    build, and the accumulated pairs must equal the one-shot LSH pairs
    — regardless of which batch a pair's docs arrived in."""
    import glob
    import shutil

    from wrangle_pypes_spark.operators.dedup import (
        minhash_banded, minhash_lsh_dup_pairs)
    from wrangle_pypes_spark.streaming import foreach_batch_minhash_index

    d = dup_corpus  # originals + perturbed near-dup copies
    src = str(tmp_path / "mh_src")
    # split so most near-dup pairs STRADDLE the two batches
    for tag, half in (("a", d.filter(F.col("doc_id") < 1000000)),
                      ("b", d.filter(F.col("doc_id") >= 1000000))):
        half.coalesce(1).write.parquet(f"{src}/{tag}")
    files = [f for t in ("a", "b")
             for f in sorted(glob.glob(f"{src}/{t}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/a"), shutil.rmtree(f"{src}/b")

    index = str(tmp_path / "mh_index")
    pairs = str(tmp_path / "mh_pairs")
    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src))
    q = foreach_batch_minhash_index(
        stream, index, text_col="text", id_col="doc_id",
        pairs_path=pairs, jaccard_threshold=0.5)
    q.awaitTermination()

    got_idx = sorted(map(tuple, spark.read.parquet(index)
                         .select("doc_id", "band", "bhash").collect()))
    want_idx = sorted(map(tuple, minhash_banded(
        d, "text", id_col="doc_id")
        .select("doc_id", "band", "bhash").collect()))
    assert got_idx == want_idx

    got_pairs = {(r.id_a, r.id_b) for r in
                 spark.read.parquet(pairs).collect()}
    want_pairs = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
                  for r in minhash_lsh_dup_pairs(
                      d, "text", id_col="doc_id",
                      jaccard_threshold=0.5).collect()}
    assert got_pairs == want_pairs
    assert len(got_pairs) > 50
    # most pairs straddled the batch boundary (found via the index)
    straddle = sum(1 for a, b in got_pairs
                   if (a < 1000000) != (b < 1000000))
    assert straddle > len(got_pairs) / 2


def test_streaming_minhash_index_recovery_and_accumulation(
        spark, tmp_path):
    """Checkpointed restart must NOT duplicate stores (same run tag +
    source offsets), while a separate UNcheckpointed drain of NEW docs
    must accumulate into the same store (fresh run tag — raw epoch ids
    restart at 0 per query and would otherwise collide)."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.streaming import foreach_batch_minhash_index

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta"),
         (3, "totally different words entirely here")],
        "doc_id long, text string")
    src = str(tmp_path / "replay_src")
    docs.coalesce(1).write.parquet(src)
    index = str(tmp_path / "replay_idx")
    pairs = str(tmp_path / "replay_pairs")
    ckpt = str(tmp_path / "ckpt")

    def drain(path, checkpoint):
        s = (spark.readStream.schema(docs.schema)
             .format("parquet").load(path))
        foreach_batch_minhash_index(
            s, index, text_col="text", id_col="doc_id",
            pairs_path=pairs, jaccard_threshold=0.5,
            checkpoint=checkpoint).awaitTermination()

    drain(src, ckpt)
    p1 = sorted(map(tuple, spark.read.parquet(pairs)
                    .select("id_a", "id_b").collect()))
    i1 = sorted(map(tuple, spark.read.parquet(index)
                    .select("doc_id", "band", "bhash").collect()))
    assert p1 == [(1, 2)]
    drain(src, ckpt)  # restart from the same checkpoint: no-op
    p2 = sorted(map(tuple, spark.read.parquet(pairs)
                    .select("id_a", "id_b").collect()))
    i2 = sorted(map(tuple, spark.read.parquet(index)
                    .select("doc_id", "band", "bhash").collect()))
    assert p2 == p1 and i2 == i1

    # a later, uncheckpointed run with a NEW near-dup accumulates
    more = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon omega")],
        "doc_id long, text string")
    src2 = str(tmp_path / "more_src")
    more.coalesce(1).write.parquet(src2)
    drain(src2, None)
    p3 = {tuple(r) for r in spark.read.parquet(pairs)
          .select("id_a", "id_b").collect()}
    assert (1, 9) in p3 and (1, 2) in p3  # old pairs kept, new found
    assert spark.read.parquet(index).select("doc_id") \
        .distinct().count() == 4


def test_streaming_embedding_index_equals_batch(spark, sf_dir,
                                                tmp_path):
    """Semantic twin of the MinHash maintainer test: originals in
    batch 1, positively-scaled copies (cosine exactly 1, identical
    sign codes) in batch 2 — every planted pair straddles the
    boundary, so all must be found via the resident index; the final
    pair set must equal the one-shot batch LSH op."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators.dedup import (
        embedding_near_dup_pairs)
    from wrangle_pypes_spark.streaming import (
        foreach_batch_embedding_index)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").filter(F.col("vec_id") < 100))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * F.lit(1.5)).cast("float"))
         .alias("embedding"))
    full = emb.unionByName(copies)

    index = str(tmp_path / "emb_idx")
    pairs = str(tmp_path / "emb_pairs")
    for i, gen in enumerate((emb, copies)):
        src = str(tmp_path / f"emb_src{i}")
        gen.coalesce(1).write.parquet(src)
        s = (spark.readStream.schema(emb.schema)
             .format("parquet").load(src))
        foreach_batch_embedding_index(
            s, index, vec_col="embedding", id_col="vec_id", dim=64,
            pairs_path=pairs, threshold=0.95).awaitTermination()

    got = {(r.id_a, r.id_b) for r in
           spark.read.parquet(pairs).collect()}
    want = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            for r in embedding_near_dup_pairs(
                full, "embedding", id_col="vec_id",
                threshold=0.95, method="lsh").collect()}
    assert got == want
    # every planted (x, x+100000) pair found — all straddle batches
    planted = {(r.vec_id, r.vec_id + 100000) for r in emb.collect()}
    assert planted <= got
    assert spark.read.parquet(index).count() == full.count()


def test_streaming_index_maintainers_survive_empty_batch(spark,
                                                         tmp_path):
    """An EMPTY first batch must not poison the store: an empty
    partitioned write would create a zero-file directory that kills
    the next batch's index read with UNABLE_TO_INFER_SCHEMA."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.streaming import (
        foreach_batch_embedding_index, foreach_batch_minhash_index)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string")
    src = str(tmp_path / "eb_src")
    # file 1 carries ZERO rows, file 2 the real docs -> batch 0 empty
    docs.filter("doc_id < 0").coalesce(1).write.parquet(f"{src}/0")
    docs.coalesce(1).write.parquet(f"{src}/1")
    import glob
    import shutil
    files = [f for t in ("0", "1")
             for f in sorted(glob.glob(f"{src}/{t}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    index = str(tmp_path / "eb_idx")
    pairs = str(tmp_path / "eb_pairs")
    s = (spark.readStream.schema(docs.schema)
         .option("maxFilesPerTrigger", "1")
         .format("parquet").load(src))
    foreach_batch_minhash_index(
        s, index, text_col="text", id_col="doc_id",
        pairs_path=pairs, jaccard_threshold=0.5).awaitTermination()
    assert {(r.id_a, r.id_b) for r in
            spark.read.parquet(pairs).collect()} == {(1, 2)}

    # zero-norm embedding indexes as zeros and never pairs
    emb = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [0.0] * 8), (3, [1.0] * 8),
         (4, [2.0] * 8)],
        "vec_id long, embedding array<float>")
    esrc = str(tmp_path / "ez_src")
    emb.coalesce(1).write.parquet(esrc)
    eidx = str(tmp_path / "ez_idx")
    epairs = str(tmp_path / "ez_pairs")
    s2 = (spark.readStream.schema(emb.schema)
          .format("parquet").load(esrc))
    foreach_batch_embedding_index(
        s2, eidx, vec_col="embedding", id_col="vec_id", dim=8,
        pairs_path=epairs, threshold=0.9).awaitTermination()
    got = {(r.id_a, r.id_b) for r in
           spark.read.parquet(epairs).collect()}
    assert got == {(3, 4)}  # zero vectors never match, 3-4 colinear
    idx = spark.read.parquet(eidx)
    assert idx.count() == 4  # zero vectors indexed, not poisoned
    zrows = idx.filter(F.col("_id").isin(1, 2)).collect()
    assert all(all(x == 0.0 for x in r._v) for r in zrows)

    # wrong dim fails loud instead of silently collapsing all codes
    import pytest
    from pyspark.errors import StreamingQueryException
    s3 = (spark.readStream.schema(emb.schema)
          .format("parquet").load(esrc))
    q = foreach_batch_embedding_index(
        s3, str(tmp_path / "wd_idx"), vec_col="embedding",
        id_col="vec_id", dim=16)
    with pytest.raises(StreamingQueryException, match="!= dim"):
        q.awaitTermination()


def test_bloom_dedup_against_exact_and_approx(spark, sf_dir):
    """Bloom pre-filter + exact verify == plain anti-join; approx mode
    never keeps a true duplicate (no false negatives in the filter)."""
    import pytest
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators import (bloom_bitmap,
                                               bloom_dedup_against)

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", F.md5("text").alias("fp")))
    hist = d.filter(F.col("doc_id") % 3 == 0)
    out = bloom_dedup_against(d, hist, "fp", n_bits=1 << 16)
    want = d.join(hist.select("fp").distinct(), "fp", "left_anti")
    assert out.select("doc_id").exceptAll(want.select("doc_id")).count() == 0
    assert want.select("doc_id").exceptAll(out.select("doc_id")).count() == 0

    ap = bloom_dedup_against(d, hist, "fp", n_bits=1 << 16,
                             exact_verify=False)
    # approximate mode: subset of the exact result, zero duplicates
    assert ap.join(hist.select("fp").distinct(), "fp",
                   "left_semi").count() == 0
    assert ap.select("doc_id").exceptAll(want.select("doc_id")).count() == 0

    bm = bloom_bitmap(hist, "fp", n_bits=1 << 16, n_hashes=5)
    assert bm.count() <= (1 << 16) // 64
    with pytest.raises(ValueError):
        bloom_bitmap(hist, "fp", n_bits=32)
    with pytest.raises(ValueError):
        bloom_bitmap(hist, "fp", n_hashes=0)


def test_bloom_dedup_tiny_filter_still_exact(spark):
    """A deliberately undersized filter (high fpp) must still produce
    the exact result under exact_verify — false positives only grow
    the candidate set, never change the answer."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators import bloom_dedup_against

    new = spark.range(2000).select(F.concat(F.lit("k"), "id").alias("k"))
    hist = spark.range(0, 2000, 2).select(
        F.concat(F.lit("k"), "id").alias("k"))
    out = bloom_dedup_against(new, hist, "k", n_bits=64, n_hashes=2)
    assert out.count() == 1000
    assert out.join(hist, "k", "left_semi").count() == 0


def test_streaming_bloom_dedup_equals_first_seen_and_replays(spark, tmp_path):
    """foreach_batch_bloom_dedup: accepted set across batches equals
    the exact first-seen dedup (deterministic hashes; the well-sized
    filter has no collisions on this corpus), replay is a no-op, and
    the seen-key state is a compact bitmap, not a keyed store."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import foreach_batch_bloom_dedup

    batch_a = spark.createDataFrame(
        [("u1", 1, 10), ("u2", 2, 5), ("u1", 3, 7)],
        "url string, doc int, score int")
    batch_b = spark.createDataFrame(
        [("u2", 4, 99), ("u3", 5, 1), ("u4", 6, 2)],
        "url string, doc int, score int")
    src = str(tmp_path / "bl_src")
    for i, b in enumerate((batch_a, batch_b)):
        b.coalesce(1).write.parquet(f"{src}/{i}")
    files = [f for i in (0, 1)
             for f in sorted(glob.glob(f"{src}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(f"{src}/0"), shutil.rmtree(f"{src}/1")

    store = str(tmp_path / "bl_store")
    accepted = str(tmp_path / "bl_accepted")

    def drain():
        stream = (spark.readStream.schema(batch_a.schema)
                  .option("maxFilesPerTrigger", "1")
                  .format("parquet").load(src))
        q = foreach_batch_bloom_dedup(
            stream, store, key_col="url", accepted_path=accepted,
            order_cols=[F.col("score"), F.col("doc")],
            n_bits=1 << 12, n_hashes=5)
        q.awaitTermination()

    drain()
    got = {r.url: r.doc for r in spark.read.parquet(accepted).collect()}
    # u1: batch-internal keep-best (score 10 -> doc 1); u2 first seen
    # in batch A (doc 2) — batch B's higher-score u2 is a DUP, dropped
    assert got == {"u1": 1, "u2": 2, "u3": 5, "u4": 6}
    # seen-state is a bitmap table, bounded by n_bits/64 rows
    bm = manifest_read(spark, store)
    assert set(bm.columns) == {"word", "bits"}
    assert bm.count() <= (1 << 12) // 64

    before = sorted(map(tuple, spark.read.parquet(accepted).collect()))
    drain()  # replay: epoch guard + idempotent OR + partition overwrite
    assert sorted(map(tuple,
                      spark.read.parquet(accepted).collect())) == before

    # hash-family immutability
    import pytest
    stream = (spark.readStream.schema(batch_a.schema)
              .format("parquet").load(src))
    with pytest.raises(ValueError, match="immutable"):
        foreach_batch_bloom_dedup(
            stream, store, key_col="url", accepted_path=accepted,
            order_cols=[F.col("score")], n_bits=1 << 13, n_hashes=5)


def test_streaming_bloom_dedup_crash_between_append_and_commit(
        spark, tmp_path):
    """Crash window proof: accepted rows appended but the bitmap
    pointer never published -> the replay reprocesses the batch,
    OVERWRITES its own accepted partition (identical content — the
    resident bitmap it probes against is unchanged), and commits once.
    Nothing double-ingests, nothing is lost."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources.manifest import manifest_current
    from wrangle_pypes_spark.streaming import foreach_batch_bloom_dedup

    feed = spark.createDataFrame(
        [("k1", 1, 5), ("k2", 2, 3)], "k string, doc int, s int")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    accepted = str(tmp_path / "accepted")

    # simulate the crash: run the batch body manually up to (and
    # including) the accepted append, but never commit the bitmap
    checkpoint = str(tmp_path / "ck")
    from wrangle_pypes_spark.operators.dedup import dedup_keep_best
    from wrangle_pypes_spark.streaming.windows import (
        _store_run_tag, _write_batch_partition)
    tag_run = _store_run_tag(checkpoint)
    best = dedup_keep_best(feed, ["k"], [F.col("s"), F.col("doc")])
    _write_batch_partition(best, accepted, f"{tag_run}-0")
    assert manifest_current(store) is None  # pointer never published

    # recovery: the real maintainer drains the same source with the
    # same checkpoint-derived tag
    stream = (spark.readStream.schema(feed.schema)
              .format("parquet").load(src))
    q = foreach_batch_bloom_dedup(
        stream, store, key_col="k", accepted_path=accepted,
        order_cols=[F.col("s"), F.col("doc")],
        n_bits=1 << 12, n_hashes=5, checkpoint=checkpoint)
    q.awaitTermination()
    rows = {(r.k, r.doc) for r in spark.read.parquet(accepted).collect()}
    assert rows == {("k1", 1), ("k2", 2)}  # exactly once
    assert manifest_current(store) is not None


def test_bloom_dedup_against_null_keys_pass_through(spark):
    """Null-keyed rows of `new` come out as fresh — exactly the plain
    anti-join this function replaces (SQL nulls never equal anything,
    including history's own nulls); the membership inner-join must not
    silently swallow them."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators import bloom_dedup_against

    new = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3), (None, 4)], "k string, v int")
    hist = spark.createDataFrame([("a", 0), (None, 9)], "k string, v int")
    got = {(r.k, r.v) for r in
           bloom_dedup_against(new, hist, "k", n_bits=1 << 10).collect()}
    # plain anti-join ground truth
    want = {(r.k, r.v) for r in
            new.join(hist.select("k"), ["k"], "left_anti").collect()}
    assert got == want == {(None, 2), ("b", 3), (None, 4)}
    # approx mode passes nulls through too
    ap = bloom_dedup_against(new, hist, "k", n_bits=1 << 10,
                             exact_verify=False)
    assert ap.filter(F.col("k").isNull()).count() == 2


def test_bloom_occupancy_counts_and_fpp(spark):
    """Occupancy = popcount / n_bits over the bitmap table, in one
    aggregate; est_fpp = occupancy ** n_hashes.  Verified against a
    hand-built bitmap with a known bit population."""
    from wrangle_pypes_spark.operators import (bloom_bitmap,
                                               bloom_occupancy)

    # hand-built: two words, 3 + 1 bits set, n_bits = 256
    bm = spark.createDataFrame([(0, 0b1011), (3, -(1 << 63))],
                               "word bigint, bits bigint")
    row = bloom_occupancy(bm, n_bits=256, n_hashes=2).collect()[0]
    assert row.set_bits == 4 and row.n_bits == 256
    assert abs(row.occupancy - 4 / 256) < 1e-12
    assert abs(row.est_fpp - (4 / 256) ** 2) < 1e-12
    # on a real filter: k distinct keys set at most k*n_hashes bits
    keys = spark.range(100).selectExpr("cast(id as string) as k")
    bm2 = bloom_bitmap(keys, "k", n_bits=1 << 12, n_hashes=5)
    occ = bloom_occupancy(bm2, n_bits=1 << 12).collect()[0]
    assert 0 < occ.set_bits <= 500
    # empty bitmap -> zero occupancy, not null
    empty = bloom_occupancy(bm.limit(0), n_bits=64).collect()[0]
    assert empty.set_bits == 0 and empty.occupancy == 0.0


def test_bloom_store_occupancy_and_resume_warning(spark, tmp_path):
    """The maintainer's capacity gauge reads the committed bitmap +
    sidecar in one aggregate; resuming an existing store WITHOUT a
    checkpoint warns (epoch guard needs monotonic batch ids — new
    leading batches would be silently dropped otherwise)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.streaming import (bloom_store_occupancy,
                                               foreach_batch_bloom_dedup)

    store = str(tmp_path / "store")
    accepted = str(tmp_path / "accepted")
    assert bloom_store_occupancy(spark, store) is None

    feed = spark.createDataFrame(
        [(f"k{i}", i, i) for i in range(50)], "k string, doc int, s int")
    src = str(tmp_path / "src")
    feed.coalesce(1).write.parquet(src)

    def drain():
        stream = (spark.readStream.schema(feed.schema)
                  .format("parquet").load(src))
        q = foreach_batch_bloom_dedup(
            stream, store, key_col="k", accepted_path=accepted,
            order_cols=[F.col("s")], n_bits=1 << 12, n_hashes=5)
        q.awaitTermination()

    drain()  # fresh store: no warning path exercised
    row = bloom_store_occupancy(spark, store).collect()[0]
    assert 0 < row.set_bits <= 250 and row.n_bits == 1 << 12
    assert 0 < row.occupancy < 0.1
    assert abs(row.est_fpp - row.occupancy ** 5) < 1e-12
    # byte-identical re-drain without checkpoint: allowed but warned
    with _pytest.warns(UserWarning, match="WITHOUT a checkpoint"):
        drain()
    # state unchanged by the warned replay
    row2 = bloom_store_occupancy(spark, store).collect()[0]
    assert row2.set_bits == row.set_bits


def test_bloom_maintainer_occupancy_warning_and_resize(spark, tmp_path):
    """A deliberately undersized filter trips the in-maintainer
    saturation warning; bloom_resize_store rebuilds the filter at a
    larger size from the accepted output's exact key set (no inherited
    false positives) and the maintainer resumes under the new family,
    refusing the old one."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.streaming import (bloom_resize_store,
                                               bloom_store_occupancy,
                                               foreach_batch_bloom_dedup)

    import glob as _glob
    import shutil

    store = str(tmp_path / "store")
    accepted = str(tmp_path / "accepted")
    ck = str(tmp_path / "ck")  # ONE checkpoint: monotonic batch ids
    feed = spark.createDataFrame(
        [(f"k{i}", i, i) for i in range(60)], "k string, doc int, s int")
    src = str(tmp_path / "src")

    def add_files(df):
        stage = str(tmp_path / "stage")
        shutil.rmtree(stage, ignore_errors=True)
        df.coalesce(1).write.parquet(stage)
        for i, f in enumerate(_glob.glob(f"{stage}/*.parquet")):
            shutil.move(f, f"{src}/add-{abs(hash(f)) % 10**9}-{i}.parquet")

    def drain(**kw):
        stream = (spark.readStream.schema(feed.schema)
                  .format("parquet").load(src))
        q = foreach_batch_bloom_dedup(
            stream, store, key_col="k", accepted_path=accepted,
            order_cols=[F.col("s")], checkpoint=ck, **kw)
        q.awaitTermination()

    import os as _os
    _os.makedirs(src)
    add_files(feed)
    # 64 bits for 60 keys: saturated -> the per-commit probe warns
    with _pytest.warns(UserWarning, match="occupied"):
        drain(n_bits=64, n_hashes=2)
    occ = bloom_store_occupancy(spark, store).collect()[0]
    assert occ.occupancy >= 0.5

    # resize-via-rebuild from the accepted keys, 64 -> 4096 bits
    bloom_resize_store(spark, store, accepted, key_col="k",
                       n_bits=1 << 12, n_hashes=5)
    occ2 = bloom_store_occupancy(spark, store).collect()[0]
    assert occ2.n_bits == 1 << 12 and occ2.occupancy < 0.1

    # maintainer resumes under the NEW family (same checkpoint, so
    # the next batch id is genuinely new); old family refused
    add_files(spark.createDataFrame([("k5", 99, 99), ("new1", 1, 1)],
                                    feed.schema))
    with _pytest.raises(ValueError, match="immutable"):
        drain(n_bits=64, n_hashes=2)
    drain(n_bits=1 << 12, n_hashes=5)
    got = {r.k for r in spark.read.parquet(accepted).collect()}
    # k5 was already accepted (rebuilt filter remembers it exactly);
    # new1 is genuinely new
    assert "new1" in got
    assert sum(1 for r in
               spark.read.parquet(accepted).collect() if r.k == "k5") == 1
    # resize of a never-committed store refuses
    with _pytest.raises(ValueError, match="nothing committed"):
        bloom_resize_store(spark, str(tmp_path / "nope"), accepted,
                           key_col="k", n_bits=1 << 12)


def test_bloom_resize_crash_window_refused_and_healed(
        spark, tmp_path, monkeypatch):
    """ADVICE r8 (medium): bloom_resize_store committed the resized
    bitmap BEFORE rewriting _bloom.json, so a crash in between left
    the OLD sidecar describing a NEW-family bitmap — a maintainer
    resumed with the old params passed validation and silently mixed
    hash families.  The resize now stages _bloom.json.next BEFORE the
    commit; while the marker exists, both the maintainer and
    bloom_store_occupancy REFUSE, and re-running the resize heals."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources import manifest
    from wrangle_pypes_spark.streaming import (bloom_resize_store,
                                               bloom_store_occupancy,
                                               foreach_batch_bloom_dedup)

    store = str(tmp_path / "store")
    accepted = str(tmp_path / "acc")
    src = str(tmp_path / "src")
    feed = spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], "k string, s int")
    feed.coalesce(1).write.parquet(src)

    def drain(n_bits):
        stream = (spark.readStream.schema(feed.schema)
                  .format("parquet").load(src))
        q = foreach_batch_bloom_dedup(
            stream, store, key_col="k", accepted_path=accepted,
            order_cols=[F.col("s")], n_bits=n_bits, n_hashes=5,
            checkpoint=str(tmp_path / "ck"))
        q.awaitTermination()

    drain(1 << 10)
    # crash INSIDE the resize, after the .next stage, before the
    # manifest pointer publish
    real_write = manifest.fsutil.write_text_atomic

    def _boom(p, text, spark=None):
        if p.endswith("_ptr.json"):
            raise RuntimeError("injected crash mid-resize")
        real_write(p, text, spark=spark)

    monkeypatch.setattr(manifest.fsutil, "write_text_atomic", _boom)
    with _pytest.raises(RuntimeError, match="injected"):
        bloom_resize_store(spark, store, accepted, key_col="k",
                           n_bits=1 << 12, n_hashes=5)
    monkeypatch.undo()
    # the staged marker survives the crash -> every reader refuses
    with _pytest.raises(RuntimeError, match="_bloom.json.next"):
        bloom_store_occupancy(spark, store)
    with _pytest.raises(RuntimeError, match="_bloom.json.next"):
        drain(1 << 10)
    # the OTHER crash window (bitmap committed, sidecar still old)
    # leaves the same marker, so the same refusal covers it; re-run
    # of the resize heals either state
    bloom_resize_store(spark, store, accepted, key_col="k",
                       n_bits=1 << 12, n_hashes=5)
    occ = bloom_store_occupancy(spark, store).collect()[0]
    assert occ.n_bits == 1 << 12
    drain(1 << 12)  # maintainer resumes under the new family


def test_bloom_sidecar_pinned_before_first_commit(
        spark, tmp_path, monkeypatch):
    """ADVICE r8 twin of the cms finding: the _bloom.json sidecar is
    written BEFORE the first manifest commit, so a crash in the first
    batch can never leave committed bits whose hash family a later
    resume cannot validate."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.sources import manifest
    from wrangle_pypes_spark.streaming import foreach_batch_bloom_dedup

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    feed = spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], "k string, s int")
    feed.coalesce(1).write.parquet(src)

    def drain(n_bits):
        stream = (spark.readStream.schema(feed.schema)
                  .format("parquet").load(src))
        q = foreach_batch_bloom_dedup(
            stream, store, key_col="k",
            accepted_path=str(tmp_path / "acc"),
            order_cols=[F.col("s")], n_bits=n_bits, n_hashes=5,
            checkpoint=str(tmp_path / f"ck{n_bits}"))
        q.awaitTermination()

    real_write = manifest.fsutil.write_text_atomic

    def _boom(p, text, spark=None):
        if p.endswith("_ptr.json"):  # the manifest pointer publish
            raise RuntimeError("injected crash before first commit")
        real_write(p, text, spark=spark)

    monkeypatch.setattr(manifest.fsutil, "write_text_atomic", _boom)
    with _pytest.raises(Exception, match="injected"):
        drain(1 << 10)
    # crash landed between sidecar and commit: params pinned, no bits
    assert os.path.exists(os.path.join(store, "_bloom.json"))
    assert manifest.manifest_current(store) is None
    # a resume with DIFFERENT params now fails validation instead of
    # silently building a store the sidecar misdescribes
    monkeypatch.undo()
    with _pytest.raises(ValueError, match="immutable"):
        drain(1 << 11)
    drain(1 << 10)  # original params replay cleanly
    assert manifest.manifest_current(store) is not None


def test_lsh_hot_bucket_skew_guard(spark):
    """VERDICT r8 #7 + ADVICE r10: a degenerate corpus where many docs
    share one boilerplate shingle run (one (band, bhash) bucket holds
    them all) must not explode into quadratic candidate pairs: the
    guard caps hot buckets to their exemplar LOUDLY, the candidate
    count stays bounded at linear exemplar pairs — AND (the r10 recall
    fix) cluster membership survives: members of the oversized
    near-dup cluster still pair against the exemplar."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators.dedup import (
        _cap_hot_lsh_buckets, minhash_banded, minhash_lsh_dup_pairs,
        minhash_lsh_pairs_against)

    boiler = "all rights reserved contact us terms of service apply"
    rows = [(i, f"unique token{i} alpha{i % 7} " + boiler)
            for i in range(200)]
    # plus one genuine near-dup pair with distinct text
    rows += [(900, "the quick brown fox jumps over the lazy dog today"),
             (901, "the quick brown fox jumps over the lazy dog now")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # ungated: the boilerplate bucket alone yields O(200^2) candidates
    banded = minhash_banded(docs, "text", id_col="doc_id")
    top = (banded.groupBy("band", "bhash").count()
           .agg(F.max("count")).collect()[0][0])
    assert top >= 100  # the planted hot bucket exists (unique
    # leading tokens win some docs' band minima, so not all 200 land)

    with _pytest.warns(UserWarning, match="hot LSH bucket"):
        pairs = minhash_lsh_dup_pairs(
            docs, "text", id_col="doc_id", jaccard_threshold=0.5,
            max_bucket=50).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (900, 901) in found  # genuine pair survives the guard
    # bounded: nothing near the 200^2/2 ~ 20k the hot bucket implies
    assert len(pairs) < 1000
    # ADVICE r10 recall fix: the oversized boilerplate cluster keeps
    # its MEMBERSHIP — (nearly) every member meets the exemplar hub,
    # instead of the whole cluster's pairs vanishing with the bucket
    cluster_ids = {i for p in found for i in p if i < 200}
    assert len(cluster_ids) >= 150

    # incremental twin: the corpus-side hot bucket is capped to its
    # exemplar, so a new boilerplate doc still matches the cluster
    # representative (old drop semantics matched nothing)
    idx = minhash_banded(docs, "text", id_col="doc_id")
    probe = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog today")],
        "doc_id int, text string")
    with _pytest.warns(UserWarning, match="hot LSH bucket"):
        inc = minhash_lsh_pairs_against(
            probe.unionByName(spark.createDataFrame(
                [(2000, "fresh text " + boiler)],
                "doc_id int, text string")),
            idx, "text", id_col="doc_id", jaccard_threshold=0.5,
            max_bucket=50).collect()
    inc_found = {(r.id_a, r.id_b) for r in inc}
    assert inc_found >= {(1000, 900), (1000, 901)}
    assert any(a == 2000 and b < 200 for a, b in inc_found), inc_found
    # linear, not quadratic: the new boiler doc pairs with the
    # exemplar(s), not the whole 200-doc bucket
    assert sum(1 for a, _ in inc_found if a == 2000) < 50

    # guard off: quadratic candidates really do come back (the thing
    # the guard exists to stop), and validation rejects max_bucket<2
    nog = minhash_lsh_dup_pairs(docs, "text", id_col="doc_id",
                                jaccard_threshold=0.0, max_bucket=None)
    assert nog.count() > 15000
    with _pytest.raises(ValueError, match="max_bucket"):
        _cap_hot_lsh_buckets(banded, 1, "x", "doc_id")


def test_hard_negatives_semantics_and_lsh_recall(spark, tables):
    """NEW r9 mining ops: every mined negative really has a different
    label; the exact miner matches a label-filtered cosine_topk; the
    LSH scale path's recall vs exact is audited, not silent."""
    from wrangle_pypes_spark.operators import (cosine_topk,
                                               hard_negatives,
                                               hard_negatives_lsh)

    emb = tables["embeddings"].cache()
    q = emb.filter(F.col("vec_id") < 20)
    out = hard_negatives(emb, id_col="vec_id", vec_col="embedding",
                         label_col="label", k=5, queries=q).collect()
    assert len(out) == 20 * 5
    assert all(r.neighbor_label != r.query_label for r in out)
    # consistency with cosine_topk over a pre-filtered corpus: for a
    # single query's label, mining == topk over the other labels
    lbl = [r for r in q.select("vec_id", "label").collect()
           if r.vec_id == 0][0].label
    topk = cosine_topk(emb.filter(F.col("label") != lbl),
                       q.filter(F.col("vec_id") == 0),
                       id_col="vec_id", vec_col="embedding",
                       k=5).collect()
    mined0 = sorted((r.neighbor_id, r.cosine) for r in out
                    if r.query_id == 0)
    assert mined0 == sorted((r.neighbor_id, r.cosine) for r in topk)

    approx = hard_negatives_lsh(emb, id_col="vec_id",
                                vec_col="embedding", label_col="label",
                                k=5, n_planes=4, probes=2,
                                queries=q).collect()
    assert all(r.neighbor_label != r.query_label for r in approx)
    t = {(r.query_id, r.neighbor_id) for r in out}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(t & a) / len(t)
    assert recall >= 0.7, f"hard-negative LSH recall {recall:.2f}"


def test_mine_triplets_extremes_and_margin(spark, tables):
    """The mined triplet really is the per-anchor extreme pair, and
    anchors lacking a positive or negative drop out."""
    from wrangle_pypes_spark.operators import mine_triplets

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") < 10)
    out = {r.anchor_id: r for r in
           mine_triplets(emb, id_col="vec_id", vec_col="embedding",
                         label_col="label", queries=q).collect()}
    assert set(out) == set(range(10))
    r0 = out[0]
    assert abs(r0.margin - (r0.pos_cosine - r0.neg_cosine)) < 1e-12
    # brute-force check anchor 0's extremes
    rows = emb.collect()
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))
    a0 = [r for r in rows if r.vec_id == 0][0]
    pos = min(((cos(a0.embedding, r.embedding), r.vec_id)
               for r in rows if r.vec_id != 0 and r.label == a0.label))
    neg = max(((cos(a0.embedding, r.embedding), -r.vec_id)
               for r in rows if r.label != a0.label))
    assert r0.pos_id == pos[1] and abs(r0.pos_cosine - pos[0]) < 1e-9
    assert r0.neg_id == -neg[1] and abs(r0.neg_cosine - neg[0]) < 1e-9

    # an anchor whose label is unique has no positive: drops out
    solo = emb.withColumn(
        "label", F.when(F.col("vec_id") == 0, F.lit(999999))
        .otherwise(F.col("label")))
    got = mine_triplets(solo, id_col="vec_id", vec_col="embedding",
                        label_col="label",
                        queries=solo.filter(F.col("vec_id") < 3))
    assert {r.anchor_id for r in got.collect()} == {1, 2}


def test_ann_hot_code_bucket_guard(spark):
    """VERDICT r9 #6: a degenerate corpus — many identical vectors
    collapsing into ONE sign code — must not make every probe's
    candidate set corpus-sized.  The guard caps hot codes to a
    deterministic sample, LOUDLY; genuine neighbors in cold codes
    are untouched, and the capped result is reproducible."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators.similarity import (
        _cap_hot_code_buckets, lsh_bucket_topk)

    dim = 8
    # 300 byte-identical vectors (one code) + a distinctive pair
    hot_vec = [1.0] + [0.0] * (dim - 1)
    rows = [(i, hot_vec) for i in range(300)]
    rows += [(900, [0.0] * (dim - 1) + [1.0]),
             (901, [0.0] * (dim - 2) + [0.1, 1.0])]
    corpus = spark.createDataFrame(
        rows, "vid int, emb array<double>")
    q = corpus.filter(F.col("vid").isin(900, 0))

    with _pytest.warns(UserWarning, match="hot LSH code"):
        got = lsh_bucket_topk(
            corpus, q, id_col="vid", vec_col="emb", k=3,
            n_planes=4, probes=0, max_bucket=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    # the cold-code query still finds its genuine neighbor
    assert any(r.neighbor_id == 901 for r in by_q.get(900, []))
    # the hot-code query gets candidates from the SAMPLE, k rows max
    assert 0 < len(by_q.get(0, [])) <= 3
    # deterministic: same inputs, same capped sample, same rows
    with _pytest.warns(UserWarning, match="hot LSH code"):
        again = lsh_bucket_topk(
            corpus, q, id_col="vid", vec_col="emb", k=3,
            n_planes=4, probes=0, max_bucket=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    # guard off: the hot bucket really is corpus-sized fan-out (the
    # hazard), and validation rejects nonsense
    planes_cand = lsh_bucket_topk(
        corpus, q, id_col="vid", vec_col="emb", k=1000,
        n_planes=4, probes=0, max_bucket=None)
    assert planes_cand.count() > 250
    coded = corpus.select(F.col("vid").alias("neighbor_id"),
                          F.lit(0).alias("_code"))
    with _pytest.raises(ValueError, match="max_bucket"):
        _cap_hot_code_buckets(coded, 0, "x", "neighbor_id")


def test_embedding_near_dup_hot_code_guard(spark):
    """VERDICT r9 #6 (dedup side): hundreds of identical embeddings
    share one sign code; the self-join must not go quadratic — the
    guard caps the bucket to its exemplar AND keeps the cluster's
    membership through (exemplar, member) pairs at cosine 1.0."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators.dedup import (
        embedding_near_dup_pairs)

    dim = 8
    hot = [1.0] + [0.0] * (dim - 1)
    rows = [(i, hot) for i in range(300)]
    rows += [(900, [0.0] * (dim - 1) + [1.0]),
             (901, [0.0] * (dim - 2) + [0.01, 1.0])]
    df = spark.createDataFrame(rows, "vid int, emb array<double>")

    with _pytest.warns(UserWarning, match="hot LSH code"):
        pairs = embedding_near_dup_pairs(
            df, "emb", id_col="vid", threshold=0.95, method="lsh",
            max_bucket=50).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # linear, not quadratic: ~299 exemplar pairs, nothing near 300²/2
    assert len(pairs) < 600
    # EVERY member of the giant identical cluster is still paired
    # (via the exemplar hub, cosine exactly 1.0)
    cluster = {i for p in found for i in p if i < 300}
    assert len(cluster) == 300
    assert all(abs(r.cosine - 1.0) < 1e-9 for r in pairs
               if r.id_a < 300 and r.id_b < 300)
    # the genuine near-dup pair in a cold code survives
    assert (900, 901) in found

    # guard off: the quadratic candidate set really is the hazard
    nog = embedding_near_dup_pairs(df, "emb", id_col="vid",
                                   threshold=0.95, method="lsh",
                                   max_bucket=None)
    assert nog.count() > 40000
    with _pytest.raises(ValueError, match="max_bucket"):
        embedding_near_dup_pairs(df, "emb", id_col="vid",
                                 method="lsh", max_bucket=1).collect()


def test_stream_embedding_index_hot_code_guard(spark, tmp_path):
    """VERDICT r9 #6 (streaming side): drain batches containing an
    oversized identical-vector cluster — the maintainer's joins cap
    hot codes to exemplars (loudly) but cluster MEMBERSHIP survives
    in the accumulated pairs, the pair count stays linear, and the
    index store itself retains every vector."""
    import pytest as _pytest

    from wrangle_pypes_spark.streaming import (
        foreach_batch_embedding_index)

    dim = 8
    hot = [1.0] + [0.0] * (dim - 1)
    rows = [(i, hot) for i in range(120)]
    rows += [(900, [0.0] * (dim - 1) + [1.0]),
             (901, [0.0] * (dim - 2) + [0.01, 1.0])]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    src = str(tmp_path / "src")
    df.repartition(2).write.parquet(src)
    stream = (spark.readStream.schema("vid long, emb array<double>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    idx = str(tmp_path / "idx")
    prs = str(tmp_path / "prs")
    with _pytest.warns(UserWarning, match="hot LSH code"):
        q = foreach_batch_embedding_index(
            stream, idx, vec_col="emb", id_col="vid", dim=dim,
            pairs_path=prs, threshold=0.95, max_bucket=20,
            checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination()

    # index stores EVERY vector — the guard filters joins only
    assert spark.read.parquet(idx).count() == 122
    pairs = spark.read.parquet(prs).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # linear bound: nothing near the 120^2/2 the hot code implies
    assert len(pairs) < 500
    # every member of the identical cluster appears in some pair
    cluster = {i for p in found for i in p if i < 120}
    assert len(cluster) == 120
    # the genuine cold-code near-dup pair survives
    assert (900, 901) in found


def test_simhash_hot_chunk_guard(spark):
    """The simhash pigeonhole join shares the banded-join hazard: an
    identical-simhash cluster makes EVERY chunk bucket hot.  Capping
    keeps membership (hamming 0 pairs against the exemplar) at
    linear cost."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators.dedup import simhash_dup_pairs

    boiler = ("terms of service apply all rights reserved contact "
              "us for more information about this website")
    rows = [(i, boiler) for i in range(200)]
    # the genuine pair is byte-identical (hamming 0 — inside the
    # pigeonhole guarantee), in its own small cold bucket
    rows += [(900, "the quick brown fox jumps over the lazy dog"),
             (901, "the quick brown fox jumps over the lazy dog")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    with _pytest.warns(UserWarning, match="hot LSH bucket"):
        pairs = simhash_dup_pairs(docs, "text", id_col="doc_id",
                                  max_hamming=3,
                                  max_bucket=50).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert len(pairs) < 600  # linear, not 200^2/2
    cluster = {i for p in found for i in p if i < 200}
    assert len(cluster) == 200  # full membership via the exemplar
    assert (900, 901) in found  # genuine cold-bucket pair survives
    # guard off: the quadratic join really is the hazard
    assert simhash_dup_pairs(docs, "text", id_col="doc_id",
                             max_hamming=3,
                             max_bucket=None).count() > 15000


def test_ngram_jaccard_hot_prefix_guard(spark):
    """r11 (VERDICT r10 #6): the prefix-blocking self-join had the
    same quadratic hazard as the banded joins — thousands of docs
    sharing the leading tokens made one prefix bucket O(k²).  Hot
    buckets now cap to the min-id exemplar with (exemplar, member)
    pairs emitted, all still EXACT-Jaccard verified."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators.dedup import ngram_jaccard_pairs

    boiler = ("breaking news update this article covers the market "
              "outlook for the coming quarter in detail")
    # 200 docs share the 2-token prefix AND are true near-dups of the
    # exemplar (identical text => jaccard 1.0)
    rows = [(i, boiler) for i in range(200)]
    # a genuine pair in its own cold prefix bucket (long texts, one
    # differing trailing token => 3-gram jaccard ≈ 15/21 ≈ 0.71)
    near = ("quarterly filings show revenue grew nine percent year "
            "over year with margins expanding across all segments "
            "and guidance raised")
    rows += [(900, near), (901, near.replace("raised", "lowered"))]
    # same prefix as the cold pair but dissimilar: verified OUT
    rows += [(902, "quarterly filings archive index page")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    with _pytest.warns(UserWarning, match="hot LSH bucket"):
        pairs = ngram_jaccard_pairs(docs, "text", id_col="doc_id",
                                    threshold=0.5,
                                    max_bucket=50).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert len(pairs) < 600  # linear, not 200²/2
    cluster = {i for p in found for i in p if i < 200}
    assert len(cluster) == 200  # full membership via the exemplar
    # exemplar pairs carry the EXACT jaccard (identical docs => 1.0)
    assert all(r.jaccard == 1.0 for r in pairs
               if r.id_a < 200 and r.id_b < 200)
    assert (900, 901) in found  # cold-bucket pair survives
    assert not any(902 in p for p in found)  # verify still filters
    # guard off: the quadratic join really is the hazard, and the
    # guarded result is a SUBSET of it (capping, never inventing)
    off = ngram_jaccard_pairs(docs, "text", id_col="doc_id",
                              threshold=0.5, max_bucket=None)
    off_pairs = {(r.id_a, r.id_b) for r in off.collect()}
    assert len(off_pairs) > 15000
    assert found <= off_pairs


def test_hot_code_guard_memoizes_per_plan(spark):
    """ADVICE r11 (similarity.py:321): the guard's eager count
    aggregate ran on EVERY serving call — one extra corpus job per
    probe even when no bucket was hot.  The hot-code set is now
    memoized per (semantic plan, max_bucket): the second identical
    call runs zero count jobs, results are unchanged, and
    clear_hot_code_cache() forces a recount."""
    import pytest as _pytest

    from wrangle_pypes_spark.operators import similarity as sim
    from wrangle_pypes_spark.operators.similarity import (
        _cap_hot_code_buckets, clear_hot_code_cache)

    clear_hot_code_cache()
    dim = 8
    hot_vec = [1.0] + [0.0] * (dim - 1)
    rows = [(i, hot_vec) for i in range(50)]
    corpus = spark.createDataFrame(rows, "vid int, emb array<double>")
    coded = corpus.select(
        F.col("vid").alias("neighbor_id"),
        F.lit(7).cast("long").alias("_code"))

    with _pytest.warns(UserWarning, match="hot LSH code"):
        first = _cap_hot_code_buckets(coded, 10, "t", "neighbor_id")
    assert len(sim._HOT_CODE_CACHE) == 1
    # second identical call: warns from the MEMO, no count job (job
    # accounting across Spark versions is fragile — assert the memo
    # path directly instead)
    key = (coded.semanticHash(), 10)
    assert key in sim._HOT_CODE_CACHE
    with _pytest.warns(UserWarning, match="hot LSH code"):
        second = _cap_hot_code_buckets(coded, 10, "t", "neighbor_id")
    assert sorted(map(tuple, first.collect())) == \
        sorted(map(tuple, second.collect()))
    assert first.count() == 10  # capped to the sample
    # a no-hot corpus memoizes an empty set and returns the plan as-is
    cold = corpus.select(F.col("vid").alias("neighbor_id"),
                         F.col("vid").cast("long").alias("_code"))
    out = _cap_hot_code_buckets(cold, 10, "t", "neighbor_id")
    assert out is cold  # untouched plan, zero added jobs after memo
    assert len(sim._HOT_CODE_CACHE) == 2
    clear_hot_code_cache()
    assert len(sim._HOT_CODE_CACHE) == 0
