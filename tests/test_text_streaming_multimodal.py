"""Text functions, streaming windows, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.functions.text import (
    chunk_documents,
    corpus_top_ngrams,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    token_pmi_pairs,
    word_ngrams,
)
from wrangle_pypes_spark.operators.dedup import dedup_keep_best
from wrangle_pypes_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from wrangle_pypes_spark.streaming import (
    run_available_now_to_memory,
    session_window_agg,
    stream_events,
    tumbling_window_agg,
)


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",)], "t string")
    got = [r.n for r in df.select(token_count(F.col("t")).alias("n")).collect()]
    assert got == [3, 0]


def test_quality_score_bounds(spark, tables):
    d = tables["documents"].limit(100)
    rows = d.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_lang_id_known_samples(spark):
    df = spark.createDataFrame(
        [("the cat is on the mat and it is happy",),
         ("der hund ist nicht mit der katze auf dem sofa",),
         ("el perro y la casa de un amigo en madrid",),
         ("xyzzy qwerty plugh",)],
        "t string")
    got = [r.lang for r in df.select(lang_id(F.col("t")).alias("lang")).collect()]
    assert got == ["en", "de", "es", "und"]


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "a b c"), (3, "a b c c"), (4, "a b d")],
        "id long, t string")
    fp = {r.id: r.f for r in
          df.select("id", doc_fingerprint(F.col("t")).alias("f")).collect()}
    assert fp[1] == fp[2] == fp[3]  # order + duplication invariant
    assert fp[1] != fp[4]


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "t string")
    got = [r.g for r in
           df.select(word_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got[0] == []
    assert got[1] == ["a b c", "b c d"]


def test_corpus_top_ngrams_counts(spark):
    df = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "x y z q"), (3, "a b")],
        "doc_id long, text string")
    top = corpus_top_ngrams(df, "text", id_col="doc_id", n=3, k=2).collect()
    # "x y z" appears 3 times total (2 in doc1, 1 in doc2) across 2 docs
    assert top[0].ngram == "x y z"
    assert top[0].total_count == 3 and top[0].n_docs == 2
    assert top[1].total_count < 3


def test_unigram_logprob_score_matches_replica(spark):
    import math
    from collections import Counter

    from wrangle_pypes_spark.functions import unigram_logprob_score

    corpus = {1: "a a b", 2: "a c", 3: "b c c d"}
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    all_toks = [t for txt in corpus.values() for t in txt.split()]
    freq, total = Counter(all_toks), len(all_toks)
    want = {
        d: round(sum(-math.log(freq[t] / total) for t in txt.split())
                 / len(txt.split()), 4)
        for d, txt in corpus.items()}
    got = {r.doc_id: r.avg_neg_logprob
           for r in unigram_logprob_score(df).collect()}
    assert got == pytest.approx(want)
    # rare-token doc scores higher than common-token doc
    assert got[3] > got[1]


def test_inverted_index_postings(spark):
    from wrangle_pypes_spark.functions import inverted_index

    df = spark.createDataFrame(
        [(1, "x y x"), (2, "y z"), (3, "x")],
        "doc_id long, text string")
    idx = {r.token: r
           for r in inverted_index(df, postings_shards=1).collect()}
    assert idx["x"].df == 2 and idx["x"].total_tf == 3
    assert [(p.doc, p.tf) for p in idx["x"].postings] == [(1, 2), (3, 1)]
    assert [(p.doc, p.tf) for p in idx["y"].postings] == [(1, 1), (2, 1)]
    assert idx["z"].df == 1
    # min_df prunes hapax tokens
    pruned = {r.token for r in
              inverted_index(df, min_df=2, postings_shards=1).collect()}
    assert pruned == {"x", "y"}


def test_inverted_index_sharded_bounds_skewed_postings(spark):
    """A stopword-class token (present in EVERY doc) must not
    materialize one unbounded postings array: with S shards every
    array is bounded near |docs|/S, token-level df/total_tf ride on
    each shard row, and the union of shards reproduces the unsharded
    index exactly."""
    from wrangle_pypes_spark.functions import inverted_index

    n, s = 240, 8
    rows = [(i, f"the tok{i}") for i in range(n)]  # 'the' in all docs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sharded = inverted_index(df, postings_shards=s).collect()
    the_rows = [r for r in sharded if r.token == "the"]
    assert len(the_rows) > 1  # actually sharded
    # every shard row carries the TOKEN-level stats
    assert all(r.df == n and r.total_tf == n for r in the_rows)
    # forced-skew bound: no single array near |docs|; all ≤ ~3x ideal
    assert max(len(r.postings) for r in the_rows) <= 3 * (n // s)
    assert sum(len(r.postings) for r in the_rows) == n
    # union of shards == unsharded postings
    merged = sorted((p.doc, p.tf) for r in the_rows for p in r.postings)
    flat = {r.token: r
            for r in inverted_index(df, postings_shards=1).collect()}
    assert merged == [(p.doc, p.tf) for p in flat["the"].postings]
    # max_df suppresses the stopword-class token entirely
    capped = {r.token for r in
              inverted_index(df, max_df=n - 1, postings_shards=s).collect()}
    assert "the" not in capped and "tok0" in capped


def test_inverted_index_sharded_plan_partial_aggregates(spark):
    """The sharded build must keep map-side partial aggregation on the
    (doc, token) collapse and stay entirely JVM-side."""
    from wrangle_pypes_spark.functions import inverted_index
    from wrangle_pypes_spark.plans import assert_jvm_only, audit

    df = spark.createDataFrame([(1, "x y"), (2, "x")],
                               "doc_id long, text string")
    idx = inverted_index(df, postings_shards=4)
    assert audit(idx).partial_aggregates >= 1
    assert_jvm_only(idx)


def test_token_pmi_attract_repel(spark):
    # p/q always together, p/r never together -> pmi(p,q) > 0 > pmi(p,r)
    rows = [(i, "p q") for i in range(4)] + [(i + 4, "r s") for i in range(4)]
    rows += [(8, "p q r s")]  # one mixed doc so (p,r) pair exists
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pmi = {(r.tok_a, r.tok_b): r.pmi
           for r in token_pmi_pairs(df, "text", id_col="doc_id",
                                    min_pair_docs=1).collect()}
    assert pmi[("p", "q")] > 0
    assert pmi[("p", "r")] < 0


def test_token_pmi_top_m_bounds_pathological_doc(spark):
    """The enforced top-M vocabulary cut: a gibberish document full of
    corpus-rare tokens contributes NO pairs beyond the globally
    frequent vocabulary, instead of |vocab_doc|^2 of them."""
    # 6 docs establish a frequent core vocab {a b c}; doc 99 is
    # pathological: 40 unique hapax tokens (+ the core)
    rows = [(i, "a b c") for i in range(6)]
    rows.append((99, "a b c " + " ".join(f"junk{j}" for j in range(40))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_pmi_pairs(df, "text", id_col="doc_id",
                          min_pair_docs=1, top_m_tokens=3).collect()
    toks_seen = {t for r in out for t in (r.tok_a, r.tok_b)}
    assert toks_seen == {"a", "b", "c"}  # junk never enters the join
    assert len(out) == 3  # C(3,2) pairs only, not C(43,2)
    # N folds into the marginals pass: 7 docs contribute tokens
    ab = next(r for r in out if (r.tok_a, r.tok_b) == ("a", "b"))
    import math
    assert ab.pmi == pytest.approx(
        round(math.log(7 * 7.0 / (7 * 7)), 6))  # ln(N*n_ab/(n_a*n_b))=0
    # disabling the cap restores the full pair set
    full = token_pmi_pairs(df, "text", id_col="doc_id",
                           min_pair_docs=1, top_m_tokens=None).collect()
    assert len(full) > 3


def test_chunk_documents_overlap_semantics(spark):
    import pytest as _pytest
    toks = " ".join(f"t{i}" for i in range(1, 13))  # 12 tokens
    df = spark.createDataFrame([(1, toks), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    out = chunk_documents(df, "text", id_col="doc_id",
                          chunk_tokens=8, overlap_tokens=4)
    got = {(r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
           for r in out.collect()}
    # doc1: stride 4 -> windows at tokens 1-8 and 5-12
    assert got[(1, 0)] == (" ".join(f"t{i}" for i in range(1, 9)), 8)
    assert got[(1, 1)] == (" ".join(f"t{i}" for i in range(5, 13)), 8)
    # short doc: single partial chunk; empty doc: no chunks
    assert got[(2, 0)] == ("a b", 2)
    assert not any(d == 3 for d, _ in got)
    with _pytest.raises(ValueError):
        chunk_documents(df, "text", chunk_tokens=8, overlap_tokens=8)


def test_dedup_keep_best_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", 1, 10), ("k1", 2, 30), ("k1", 3, 30), ("k2", 4, 5)],
        "k string, id long, score long")
    best = {r.k: r.id for r in
            dedup_keep_best(df, ["k"],
                            [F.col("score"), -F.col("id")]).collect()}
    # k1: max score 30, tie broken to the SMALLEST id (via -id)
    assert best == {"k1": 2, "k2": 4}


# --- streaming --------------------------------------------------------------

def test_tumbling_window_stream_matches_batch(spark, sf_dir, tables):
    ev = stream_events(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n")))
    table = run_available_now_to_memory(agg, "t_tumbling_test",
                                        output_mode="complete")
    stream_rows = {(r["window"]["start"], r["event_type"]): r["n"]
                   for r in table.collect()}
    batch = (tables["events"]
             .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
             .agg(F.count("*").alias("n")))
    batch_rows = {(r.h, r.event_type): r.n for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_session_window_stream(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = session_window_agg(ev, keys=("user_id",), gap="30 minutes")
    table = run_available_now_to_memory(agg, "t_session_test",
                                        output_mode="complete")
    rows = table.collect()
    assert len(rows) > 0
    assert all(r["n"] >= 1 for r in rows)


def test_stateful_running_counts_matches_batch(spark, sf_dir, tables):
    from wrangle_pypes_spark.streaming import (
        run_available_now_to_memory,
        stateful_running_counts,
        stream_events,
    )

    ev = stream_events(spark, sf_dir)
    out = stateful_running_counts(ev)
    table = run_available_now_to_memory(out, "stateful_counts_out",
                                        output_mode="update")
    # final state per key = the update row with the largest n_events
    # (counts are monotone; update mode may emit one row per micro-batch)
    import pyspark.sql.functions as F
    got = {}
    for r in table.collect():
        if r.user_id not in got or r.n_events > got[r.user_id][0]:
            got[r.user_id] = (r.n_events, round(r.total_value, 2))
    batch = {r.user_id: (r.n, round(r.s, 2)) for r in
             tables["events"].groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
             .collect()}
    assert got == batch


def test_foreach_batch_get_or_create(spark, sf_dir, tables):
    from dataclasses import dataclass

    from wrangle_pypes_spark import Get, Pipeline

    @dataclass
    class UserM:
        user_id: int

    p = Pipeline({UserM: {"user_id": Get("user_id")}})
    dim = (tables["events"].select("user_id").distinct()
           .filter(F.col("user_id") < 50).localCheckpoint(eager=True))
    holder = {"dim": dim}

    from wrangle_pypes_spark.streaming import foreach_batch_get_or_create

    ev = stream_events(spark, sf_dir)
    q = foreach_batch_get_or_create(ev, p, UserM, holder, ["user_id"])
    q.awaitTermination()
    n_dim = holder["dim"].count()
    n_users = tables["events"].select("user_id").distinct().count()
    assert n_dim == n_users  # all users known after the stream drains
    # the incrementally-tracked size must agree with the real dim
    assert holder["rows"] == n_dim


def test_foreach_batch_get_or_create_probes_dim_once(spark, sf_dir, tables,
                                                     tmp_path, monkeypatch):
    """The broadcast-size probe must not re-run per micro-batch: across
    a multi-batch drain, the dim-sized limit-probe fires ZERO times
    (the maintainers track the size incrementally and pass dim_rows)."""
    import glob
    import shutil
    from dataclasses import dataclass

    from wrangle_pypes_spark import Get, Pipeline
    from wrangle_pypes_spark import pipeline as pipeline_mod
    from wrangle_pypes_spark.streaming import foreach_batch_get_or_create

    @dataclass
    class UserM:
        user_id: int

    # a 3-file source dir -> 3 micro-batches with maxFilesPerTrigger=1
    ev = tables["events"].select("user_id", "ts")
    src_dir = str(tmp_path / "src")
    for i in range(3):
        (ev.filter(F.col("user_id") % 3 == i).coalesce(1)
         .write.parquet(f"{src_dir}/{i}"))
    files = [f for i in range(3)
             for f in sorted(glob.glob(f"{src_dir}/{i}/*.parquet"))]
    for i, f in enumerate(files):
        shutil.move(f, f"{src_dir}/part-{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{src_dir}/{i}")

    calls = {"n": 0}
    real = pipeline_mod._cheap_count_at_most

    def counting_probe(df, n):
        calls["n"] += 1
        return real(df, n)

    monkeypatch.setattr(pipeline_mod, "_cheap_count_at_most",
                        counting_probe)

    p = Pipeline({UserM: {"user_id": Get("user_id")}})
    dim = (ev.select("user_id").distinct()
           .filter(F.col("user_id") < 50).localCheckpoint(eager=True))
    holder = {"dim": dim}
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src_dir))
    q = foreach_batch_get_or_create(stream, p, UserM, holder, ["user_id"])
    q.awaitTermination()
    assert len(holder["batches"]) == 3
    assert calls["n"] == 0, f"dim probe ran {calls['n']}× in 3 batches"
    assert holder["rows"] == holder["dim"].count()


# --- multimodal -------------------------------------------------------------

def test_multimodal_feature_extraction(spark, tables):
    d = tables["documents"].limit(50)
    payloads = attach_binary_payload(d, "text", id_col="doc_id")
    assert dict(payloads.dtypes)["payload"] == "binary"
    feats = extract_features(payloads)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-9
        assert r.byte_len > 0
        assert len(r.content_hash) == 32

    # determinism: same payload -> same hash/feature
    again = {r.content_id: (r.content_hash, tuple(r.feature))
             for r in extract_features(payloads).collect()}
    first = {r.content_id: (r.content_hash, tuple(r.feature)) for r in rows}
    assert again == first


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg with a 30-min watermark: an event
    arriving after its window was finalized and evicted must be dropped.

    Micro-batch semantics pinned here (measured on Spark 4.1.2): input
    rows merge into still-LIVE window state regardless of the watermark;
    eviction+emission run at batch END; only rows arriving after their
    window's eviction are dropped. Hence four single-file batches:
    on-time rows -> watermark advancer -> eviction batch -> late row.
    """
    import os
    import time as _time

    import pyspark.sql.functions as F

    src = str(tmp_path / "stream_src")
    os.makedirs(src)

    def write(rows, name):
        df = spark.createDataFrame(rows, "id long, ts_s string").select(
            "id", F.col("ts_s").cast("timestamp").alias("ts"))
        df.coalesce(1).write.parquet(f"{src}/{name}")

    write([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:20:00"),
           (3, "2024-01-01 10:40:00")], "f1")           # the window
    write([(4, "2024-01-01 12:00:00")], "f2")           # wm -> 11:30
    write([(5, "2024-01-01 12:10:00")], "f3")           # evicts [10,11)
    write([(99, "2024-01-01 10:05:00")], "f4")          # late: must drop
    now = _time.time()
    for i, d in enumerate(("f1", "f2", "f3", "f4")):
        for f in os.listdir(f"{src}/{d}"):  # file source orders by mtime
            os.utime(f"{src}/{d}/{f}", (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema("id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*"))
    agg = (stream.withWatermark("ts", "30 minutes")
           .groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("late_drop_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    dropped = sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress if p["stateOperators"])
    rows = [(r["window"].start.hour, r.n)
            for r in spark.table("late_drop_out").collect()
            if r["window"].start.hour == 10]
    assert rows == [(10, 3)], rows   # finalized once, late row excluded
    assert dropped == 1


def test_multimodal_resize_and_frame_sample(spark, tables):
    from wrangle_pypes_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    d = tables["documents"].limit(20)
    payloads = attach_binary_payload(d, "text", id_col="doc_id")

    resized = resize_images(payloads, width=16, height=8).collect()
    assert len(resized) == 20
    for r in resized:
        assert len(r.payload) == 16 * 8
        assert r.image_meta.width == 16 and r.image_meta.height == 8

    frames = sample_frames(payloads, every_n=2, max_frames=4)
    rows = frames.collect()
    assert 20 <= len(rows) <= 20 * 4  # fan-out bounded by max_frames
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.content_id, []).append(r.frame_idx)
        assert len(r.frame) <= 64
    for idxs in per_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense, ordered


def test_foreach_batch_get_or_create_upsert(spark, sf_dir, tables, tmp_path):
    """Durable dim store: stream drains into a manifest-store dimension
    via keyed upsert; replaying the stream is idempotent."""
    from dataclasses import dataclass

    from wrangle_pypes_spark import Get, Pipeline
    from wrangle_pypes_spark.sources.manifest import manifest_read
    from wrangle_pypes_spark.streaming import (
        foreach_batch_get_or_create_upsert)

    @dataclass
    class UserM:
        user_id: int

    p = Pipeline({UserM: {"user_id": Get("user_id")}})
    dim_path = str(tmp_path / "user_dim")

    ev = stream_events(spark, sf_dir)
    q = foreach_batch_get_or_create_upsert(ev, p, UserM, dim_path,
                                           ["user_id"])
    q.awaitTermination()
    n_users = tables["events"].select("user_id").distinct().count()
    assert manifest_read(spark, dim_path).count() == n_users
    # replay the whole stream (fresh checkpoint): dim unchanged
    q2 = foreach_batch_get_or_create_upsert(stream_events(spark, sf_dir),
                                            p, UserM, dim_path, ["user_id"])
    q2.awaitTermination()
    back = manifest_read(spark, dim_path)
    assert back.count() == n_users
    assert back.select("user_id").distinct().count() == n_users


def test_bm25_matches_python_replica(spark):
    """BM25 over a tiny corpus matches the textbook formula computed in
    python; docs with no query term are absent; repeated terms raise tf
    with diminishing returns (k1 saturation)."""
    import math

    from wrangle_pypes_spark.functions.text import bm25_scores

    corpus = [(1, "spark engine shuffles data fast"),
              (2, "spark spark spark tuning guide"),
              (3, "gardening tips for spring"),
              (4, "data engine internals")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    terms = ["spark", "engine"]
    got = {r.doc_id: (r.n_terms_hit, r.bm25)
           for r in bm25_scores(df, terms).collect()}
    assert set(got) == {1, 2, 4}

    docs = {i: t.split() for i, t in corpus}
    N = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / N
    k1, b = 1.2, 0.75

    def score(d):
        s = 0.0
        for t in terms:
            tf = docs[d].count(t)
            if tf == 0:
                continue
            dfc = sum(1 for dd in docs.values() if t in dd)
            idf = math.log(1 + (N - dfc + 0.5) / (dfc + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(docs[d]) / avgdl))
        return round(s, 4)

    for d in (1, 2, 4):
        assert got[d][1] == pytest.approx(score(d), abs=1e-4), d
    # saturation: tripled 'spark' scores higher than single, sub-linearly
    assert got[2][1] > got[4][1]


def test_stateful_zscore_matches_expanding_batch(spark, tmp_path):
    """Streaming Welford z-scores drained over TWO time-ordered
    micro-batches match the batch expanding-window z (mean/std of all
    priors) — state carries across batch boundaries and the spike is
    flagged only against its priors."""
    import glob
    import shutil

    from pyspark.sql import Window

    from wrangle_pypes_spark.streaming import (
        run_available_now_to_memory,
        stateful_zscore,
    )

    rows = [(1, i, v) for i, v in enumerate(
        [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 10.3, 9.9, 50.0, 10.0])]
    df = (spark.createDataFrame(rows, "user_id long, sec long, value double")
          .select("user_id", F.timestamp_seconds(F.col("sec")).alias("ts"),
                  "value"))
    src = str(tmp_path / "zsrc")
    df.filter("sec < 5").coalesce(1).write.parquet(src + "/a")
    df.filter("sec >= 5").coalesce(1).write.parquet(src + "/b")
    files = sorted(f for d in ("a", "b")
                   for f in glob.glob(f"{src}/{d}/*.parquet"))
    # time-ordered file names => per-key in-order delivery across batches
    for i, f in enumerate(sorted(
            files, key=lambda p: 0 if "/a/" in p else 1)):
        shutil.move(f, f"{src}/part-{i}.parquet")
    shutil.rmtree(src + "/a"), shutil.rmtree(src + "/b")

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1")
              .format("parquet").load(src))
    out = stateful_zscore(stream, key_col="user_id", ts_col="ts",
                          value_col="value", min_periods=4)
    table = run_available_now_to_memory(out, "zscore_out",
                                        output_mode="append")
    got = {int(r.ts.timestamp()): r for r in table.collect()}
    assert len(got) == 10

    w = (Window.partitionBy("user_id").orderBy("ts")
         .rowsBetween(Window.unboundedPreceding, -1))
    batch = df.select(
        "ts", F.count("value").over(w).alias("np"),
        ((F.col("value") - F.avg("value").over(w))
         / F.stddev_samp("value").over(w)).alias("z")).collect()
    for r in batch:
        sec = int(r.ts.timestamp())
        if r.np < 4:
            assert got[sec].zscore is None
        else:
            assert got[sec].zscore == pytest.approx(r.z, rel=1e-9)
    assert got[8].is_anomaly and not got[7].is_anomaly
    assert got[9].n_prior == 9        # state crossed the batch boundary


def test_stateful_zscore_null_value_does_not_poison_state(spark, tmp_path):
    """A NULL value is emitted as unknown and never folded into the
    Welford state — later events still score against the clean
    baseline (one NaN would otherwise disable the key forever)."""
    from wrangle_pypes_spark.streaming import (
        run_available_now_to_memory,
        stateful_zscore,
    )

    vals = [10.0, 10.5, 9.5, 10.2, 9.8, None, 10.1, 50.0]
    df = (spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)],
        "user_id long, sec long, value double")
        .select("user_id", F.timestamp_seconds(F.col("sec")).alias("ts"),
                "value"))
    src = str(tmp_path / "nzsrc")
    df.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .format("parquet").load(src))
    out = stateful_zscore(stream, key_col="user_id", ts_col="ts",
                          value_col="value", min_periods=4)
    table = run_available_now_to_memory(out, "zscore_null_out",
                                        output_mode="append")
    got = sorted(table.collect(), key=lambda r: r.ts)
    assert got[5].zscore is None and got[5].value is None
    assert got[6].n_prior == 5          # the NULL was not counted
    assert got[7].is_anomaly            # baseline still clean


def test_bpe_induce_matches_python_replica(spark):
    """Induced merges on a tiny corpus equal the classic BPE algorithm
    run in python (counts over word frequencies, lexicographic tie
    break); segmenting with those merges reproduces the merged
    symbols; re-runs are identical."""
    from collections import Counter

    from wrangle_pypes_spark.functions.text import bpe_induce, bpe_segment

    texts = ["low low low lower lowest", "new newer newest new"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = bpe_induce(df, num_merges=4)

    # python replica of learn-BPE over the word-frequency table
    words = Counter(w for t in texts for w in t.lower().split())
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    for _ in range(4):
        pairs = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = max(pairs.items(),
                   key=lambda kv: (kv[1], "\x00".join(kv[0])))
        if best[1] < 2:
            break
        (a, b), _n = best
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    assert got == merges

    seg = df.select(bpe_segment(F.col("text"), got).alias("s")) \
        .collect()[0].s
    assert "low" in seg                  # 'l'+'o'(+'w') merged back up
    assert got == bpe_induce(df, num_merges=4)   # deterministic


def test_stream_metrics_collector(spark, sf_dir):
    """The listener harvests per-batch progress incl. state rows for a
    stateful (dedup) query, and detach stops collection."""
    import time

    from wrangle_pypes_spark.streaming import (StreamMetricsCollector,
                                               run_available_now_to_memory,
                                               stream_dedup,
                                               stream_events)

    mc = StreamMetricsCollector.attach(spark)
    try:
        ev = stream_events(spark, sf_dir)
        deduped = stream_dedup(ev, ["user_id", "event_type"])
        run_available_now_to_memory(deduped, "metrics_probe",
                                    state_partitions=2)
        # listener delivery is async; wait until events stop arriving
        last = -1
        for _ in range(40):
            if mc.progress and len(mc.progress) == last:
                break
            last = len(mc.progress)
            time.sleep(0.5)
    finally:
        mc.detach()
    assert mc.progress, "no progress events collected"
    total_in = sum(p["num_input_rows"] for p in mc.progress)
    assert total_in > 0
    assert any(p["state_rows_total"] > 0 for p in mc.progress)
    df = mc.to_df(spark)
    assert df.count() == len(mc.progress)
    assert "batch_duration_ms" in df.columns
    n_before = len(mc.progress)
    # after detach, further queries add nothing
    run_available_now_to_memory(
        stream_dedup(stream_events(spark, sf_dir), ["event_id"]),
        "metrics_probe2", state_partitions=2)
    time.sleep(1.0)
    assert len(mc.progress) == n_before


# --- multimodal REAL decode path (operators/codecs.py) ----------------------

def test_image_synthesize_decode_stats_real(spark):
    """End-to-end real PNG: render from the pixel contract, encode with
    cycling filters, decode, and match numpy-computed ground truth."""
    import numpy as np

    from wrangle_pypes_spark.operators.multimodal import (
        _render_rgb,
        decode_image_stats,
        synthesize_image_corpus,
    )

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    img = synthesize_image_corpus(docs, id_col="doc_id", width=11,
                                  height=13, mode="rgb", fmt="png",
                                  filter_mode="cycle")
    rows = {r["content_id"]: r for r in decode_image_stats(img).collect()}
    assert len(rows) == 30
    for cid in (0, 7, 29):
        a = _render_rgb(cid, 11, 13).astype(np.int64)
        r = rows[cid]
        assert r["fmt"] == "png" and r["width"] == 11 and r["height"] == 13
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(
            a.reshape(-1, 3).sum(axis=0))
        assert r["pixel_min"] == int(a.min())
        assert r["pixel_max"] == int(a.max())


def test_image_resize_real_matches_formula(spark):
    """decode -> NN resize -> BMP -> decode matches the floor-index
    resample of the contract pixels."""
    import numpy as np

    from wrangle_pypes_spark.operators.multimodal import (
        _render_gray,
        decode_image_stats,
        resize_images_real,
        synthesize_image_corpus,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    img = synthesize_image_corpus(docs, id_col="doc_id", width=17,
                                  height=9, mode="gray", fmt="png")
    rz = resize_images_real(img, width=5, height=4, out_format="bmp")
    rows = {r["content_id"]: r for r in decode_image_stats(rz).collect()}
    for cid in (0, 11):
        g = _render_gray(cid, 17, 9)
        ys = (np.arange(4) * 9) // 4
        xs = (np.arange(5) * 17) // 5
        exp = g[ys][:, xs].astype(np.int64)
        r = rows[cid]
        assert r["fmt"] == "bmp" and r["width"] == 5 and r["height"] == 4
        # gray replicated into RGB by the BMP encoder
        assert r["sum_r"] == r["sum_g"] == r["sum_b"] == int(exp.sum())


def test_audio_wav_stats_real(spark):
    import numpy as np

    from wrangle_pypes_spark.operators.multimodal import (
        audio_stats,
        synthesize_wav_corpus,
    )

    docs = spark.range(0, 25).withColumnRenamed("id", "doc_id")
    wav = synthesize_wav_corpus(docs, id_col="doc_id", n_samples=4096,
                                rate=16000)
    rows = {r["content_id"]: r for r in audio_stats(wav).collect()}
    crossing_seen = False
    for cid in range(25):
        i = np.arange(4096, dtype=np.int64)
        s = (i * ((cid % 97) + 3) + cid) % 65536 - 32768
        nn = s >= 0
        r = rows[cid]
        assert r["n_samples"] == 4096 and r["sample_rate"] == 16000
        assert r["sum_abs"] == int(np.abs(s).sum())
        assert r["peak"] == int(np.abs(s).max())
        assert r["zero_crossings"] == int((nn[1:] != nn[:-1]).sum())
        crossing_seen = crossing_seen or r["zero_crossings"] > 0
    assert crossing_seen  # the contract must actually exercise the stat


def test_decode_image_stats_corrupt_payload_is_loud(spark):
    import pytest as _pytest
    from pyspark.sql import types as T

    from wrangle_pypes_spark.operators.multimodal import decode_image_stats

    schema = T.StructType([
        T.StructField("content_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    bad = spark.createDataFrame([(1, bytearray(b"not an image"))], schema)
    with _pytest.raises(Exception, match="unrecognized image payload"):
        decode_image_stats(bad).collect()


def test_extract_features_real_image_and_audio(spark):
    """decode='auto': sniffable payloads get REAL features; unknown
    bytes keep the pinned legacy byte-histogram."""
    import numpy as np
    from pyspark.sql import types as T

    from wrangle_pypes_spark.operators import codecs as C
    from wrangle_pypes_spark.operators.multimodal import (
        _byte_histogram_feature,
        audio_feature,
        extract_features,
        image_feature,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    wav = rng.randint(-32768, 32768, 512).astype(np.int16)
    text = b"just some text bytes, not a container"
    schema = T.StructType([
        T.StructField("content_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    df = spark.createDataFrame(
        [(1, bytearray(C.png_encode(img))),
         (2, bytearray(C.wav_encode(wav, rate=8000))),
         (3, bytearray(text))], schema)
    rows = {r["content_id"]: r for r in extract_features(df).collect()}
    assert np.allclose(rows[1]["feature"], image_feature(img))
    assert len(rows[1]["feature"]) == 16
    assert np.allclose(rows[2]["feature"], audio_feature(wav, 8000))
    assert len(rows[2]["feature"]) == 8
    assert rows[3]["feature"] == _byte_histogram_feature(text)
    # decode='off' forces legacy everywhere (old behavior exactly)
    off = {r["content_id"]: r for r in
           extract_features(df, decode="off").collect()}
    assert off[1]["feature"] == _byte_histogram_feature(
        bytes(C.png_encode(img)))


def test_gif_synthesize_and_sample_frames_real(spark):
    import numpy as np

    from wrangle_pypes_spark.operators.multimodal import (
        sample_frames_real,
        synthesize_gif_corpus,
    )

    docs = spark.range(0, 15).withColumnRenamed("id", "doc_id")
    gifs = synthesize_gif_corpus(docs, id_col="doc_id", width=8,
                                 height=10, n_frames=5)
    rows = sample_frames_real(gifs, every_n=2, max_frames=3).collect()
    # 5 frames, every 2nd, max 3 -> frames 0, 2, 4
    assert len(rows) == 15 * 3
    by_key = {(r["content_id"], r["frame_idx"]): r for r in rows}
    x = np.arange(8, dtype=np.int64)[None, :]
    y = np.arange(10, dtype=np.int64)[:, None]
    for cid in (0, 7, 14):
        for f in (0, 2, 4):
            v = (x + 7 * y + 11 * f + cid) % 256
            r = by_key[(cid, f)]
            assert r["sum_px"] == int(v.sum())
            assert r["pixel_min"] == int(v.min())
            assert r["pixel_max"] == int(v.max())
            assert r["width"] == 8 and r["height"] == 10


def test_stateful_drain_does_not_leak_jvm_threads(spark, sf_dir):
    """Spark 4.1's ChecksumCheckpointFileManager leaks its per-state-
    store thread pool when a streaming query stops (+~128 threads per
    stateful drain with 8 state partitions).  ensure_session_confs /
    get_session disable checkpoint file checksums to avoid it; this
    pins the property so a conf regression (or an upstream behavior
    change) is caught: two extra drains of a stateful query must not
    grow the JVM thread count by more than a small slack."""
    from wrangle_pypes_spark.streaming import stream_dedup

    def nthreads():
        # count only the leak's signature pool: generic pools
        # (block-manager ask/storage) are bounded caches that grow on
        # demand to a fixed cap and idle-out — not leaks
        mf = spark._jvm.java.lang.management.ManagementFactory
        bean = mf.getThreadMXBean()
        infos = bean.getThreadInfo(bean.getAllThreadIds())
        return sum(1 for i in infos if i is not None
                   and "ChecksumCheckpointFileManager"
                   in i.getThreadName())

    def drain(tag):
        ev = stream_events(spark, sf_dir)
        out = stream_dedup(ev, ["user_id"], ts_col="ts")
        run_available_now_to_memory(out, f"t_leak_{tag}",
                                    output_mode="append",
                                    state_partitions=8)

    drain("warm")  # absorb one-time streaming machinery threads
    before = nthreads()
    drain("a")
    drain("b")
    after = nthreads()
    # one leaked ChecksumCheckpointFileManager pool is 4 threads/store
    # x 8 partitions = 32+ per drain; with checksums disabled none of
    # these threads should exist at all
    assert after - before < 8, (
        f"ChecksumCheckpointFileManager threads grew {before} -> "
        f"{after} across two stateful drains — the streaming "
        "checkpoint manager pool leak is back")
