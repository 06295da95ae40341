"""Quality operators: Gopher rules, repetition, PII scrub, decontamination.

Value semantics are pinned against in-process Python replicas on the
real documents table; plan shapes are pinned so the map-only ops stay
shuffle-free and Python-free and decontamination broadcasts the eval
side.
"""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wrangle_pypes_spark.operators import (
    c4_line_clean,
    decontaminate,
    gopher_quality_flags,
    pii_scrub,
    repetition_stats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _toks(text):
    return [t for t in re.split(r"\s+", text.lower()) if t]


def test_gopher_flags_match_python_replica(docs):
    rows = gopher_quality_flags(docs).collect()
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(rows) == len(src)
    for r in rows:
        toks = _toks(src[r.doc_id])
        wc = len(toks)
        assert r.word_count == wc
        assert r.mean_word_len == pytest.approx(
            sum(map(len, toks)) / max(wc, 1))
        alpha = sum(1 for t in toks if re.search("[a-z]", t)) / max(wc, 1)
        assert r.alpha_word_frac == pytest.approx(alpha)
        expect_pass = (10 <= wc <= 100_000
                       and 2.0 <= sum(map(len, toks)) / max(wc, 1) <= 12.0
                       and r.symbol_word_ratio <= 0.1
                       and alpha >= 0.8
                       and r.stopword_hits >= 2)
        assert r.passes_gopher == expect_pass


def test_repetition_stats_match_python_replica(docs):
    rows = repetition_stats(docs).collect()
    src = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        toks = _toks(src[r.doc_id])
        wc = len(toks)
        assert r.total_tokens == wc
        assert r.distinct_token_frac == pytest.approx(
            len(set(toks)) / max(wc, 1))
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        expect_dup = ((len(bigrams) - len(set(bigrams))) / len(bigrams)
                      if bigrams else 0.0)
        assert r.dup_bigram_frac == pytest.approx(expect_dup)
        top = Counter(toks).most_common(1)[0][1] if toks else 0
        assert r.top_token_frac == pytest.approx(top / max(wc, 1))


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@corp.example.org thanks"),
         (2, "call +44 123 4567 890 or ping 192.168.0.1"),
         (3, "clean text, nothing to scrub"),
         (4, "two mails: a@b.io c@d.co and 10.0.0.7")],
        "doc_id int, text string")
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert out[1].n_email == 1 and "[REDACTED-email]" in out[1].text_scrubbed
    assert "jo.doe" not in out[1].text_scrubbed
    assert out[2].n_phone == 1 and out[2].n_ipv4 == 1
    assert "[REDACTED-phone]" in out[2].text_scrubbed
    assert "[REDACTED-ipv4]" in out[2].text_scrubbed
    assert out[3].n_email == out[3].n_phone == out[3].n_ipv4 == 0
    assert out[3].text_scrubbed == out[3].text
    assert out[4].n_email == 2 and out[4].n_ipv4 == 1


def test_decontaminate_flags_exact_overlap(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),       # shares 3-gram with eval
         (2, "beta gamma alpha delta"),       # same words, no shared 3-gram
         (3, "totally different words here")],
        "doc_id int, text string")
    ev = spark.createDataFrame(
        [(100, "zzz alpha beta gamma yyy")], "doc_id int, text string")
    got = {r.doc_id: r.contaminated
           for r in decontaminate(train, ev, n=3).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_c4_line_clean_semantics(spark):
    text1 = "\n".join([
        "This is a good line.",          # kept
        "short.",                        # too few words
        "no terminal punct here",        # bad ending
        "Another good line with words!",  # kept
        "this line has javascript in it.",  # banned substring
        "  Trimmed line also counts.  ",  # kept (trim before checks)
    ])
    docs = spark.createDataFrame(
        [(1, text1), (2, "one short line only.")],
        "doc_id int, text string")
    out = {r.doc_id: r for r in c4_line_clean(docs).collect()}
    assert out[1].total_lines == 6
    assert out[1].kept_lines == 3
    assert out[1].passes_c4 is True
    assert out[1].cleaned_text == (
        "This is a good line.\nAnother good line with words!\n"
        "  Trimmed line also counts.  ")
    assert out[2].total_lines == 1
    assert out[2].kept_lines == 1
    assert out[2].passes_c4 is False  # below min_kept_lines
    # the original column survives for auditing
    assert out[1].text == text1


def test_quality_plans(docs, spark):
    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    for build in (gopher_quality_flags, repetition_stats, pii_scrub,
                  c4_line_clean):
        p = plan_of(build(docs))
        assert "Exchange" not in p, f"{build.__name__}: shuffle in map-only op"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, \
            f"{build.__name__}: Python in the hot path"
    # the tokens are projected once and every rule reads them:
    # Spark shares no higher-order-function expression between
    # consumers, so an inlined tokenizer repeats its split per rule
    assert plan_of(gopher_quality_flags(docs)).count("split(") == 1

    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    p = plan_of(decontaminate(tr, ev, n=3))
    assert "BroadcastHashJoin" in p, "eval grams must broadcast"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quantile_filter_exact_and_approx(spark):
    """exact=True keeps rows with cume_dist > q (ties kept/dropped
    together); the approx path agrees on well-separated scores and
    never sorts the corpus."""
    from wrangle_pypes_spark.operators import quantile_filter

    rows = [("g1", i, float(i)) for i in range(1, 11)]          # 1..10
    rows += [("g2", 100 + i, 1.0) for i in range(4)]            # 4-way tie
    rows += [("g2", 200 + i, float(5 + i)) for i in range(6)]   # 5..10
    df = spark.createDataFrame(rows, "grp string, id long, score double")

    ex = quantile_filter(df, "score", quantile=0.2,
                         group_cols=["grp"], exact=True)
    got = {r.id for r in ex.collect()}
    # g1: scores 1,2 have cume_dist .1/.2 (not > .2) -> dropped
    assert {i for i in got if i < 100} == set(range(3, 11))
    # g2: the 4 tied 1.0s share cume_dist 0.4 > 0.2 -> ALL kept
    assert {100, 101, 102, 103} <= got

    ap = quantile_filter(df.filter("grp = 'g1'"), "score",
                         quantile=0.2, exact=False)
    ids = {r.id for r in ap.collect()}
    assert ids == set(range(3, 11))  # cutoff ~2, keeps score > 2
    # per-group approx path: no sort, cutoffs broadcast
    apg = quantile_filter(df, "score", quantile=0.2,
                          group_cols=["grp"], exact=False)
    plan = apg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Sort" not in plan.split("BroadcastHashJoin")[0]


def test_dsir_importance_prefers_target_like_docs(spark):
    """Documents resembling the target corpus get higher importance
    weights than off-distribution documents; the ratio table broadcasts
    (no corpus-side shuffle join)."""
    from wrangle_pypes_spark.operators import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "physics energy quantum field theory") for i in range(4)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(1, "physics energy quantum field"),
         (2, "buy cheap pills online now"),
         (3, "quantum field theory energy")],
        "doc_id long, text string")
    out = {r.doc_id: r.dsir_logweight
           for r in dsir_importance(raw, target).collect()}
    assert out[1] > out[2] and out[3] > out[2]
    plan = dsir_importance(raw, target) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dsir_importance_target_pred_matches_two_df(spark):
    """The fused single-scan path (target_pred) must produce exactly
    the weights of the two-DataFrame form when the target is the
    matching slice of raw — including docs whose predicate is NULL."""
    from pyspark.sql import functions as F

    from wrangle_pypes_spark.operators import dsir_importance

    raw = spark.createDataFrame(
        [(1, "physics energy quantum field", "en"),
         (2, "buy cheap pills online now", "de"),
         (3, "quantum field theory energy", "en"),
         (4, "mercado central de abastos", None)],
        "doc_id long, text string, lang string")
    two = {r.doc_id: (r.n_grams, r.dsir_logweight) for r in
           dsir_importance(raw, raw.filter(F.col("lang") == "en"))
           .collect()}
    pred = {r.doc_id: (r.n_grams, r.dsir_logweight) for r in
            dsir_importance(raw, target_pred=F.col("lang") == "en")
            .collect()}
    assert two == pred
    with pytest.raises(ValueError):
        dsir_importance(raw)
    with pytest.raises(ValueError):
        dsir_importance(raw, raw, target_pred=F.col("lang") == "en")


def test_boilerplate_removal_drops_high_df_lines(spark):
    """Segments in >= min_docs documents vanish from EVERY document
    (including the first); unique segments survive in order; fully-
    boilerplate docs come back empty with the row preserved."""
    from wrangle_pypes_spark.operators import boilerplate_removal

    chrome = "accept cookies"
    docs = [(i, f"intro {i}\n{chrome}\nbody {i}") for i in range(1, 5)]
    docs.append((5, chrome))            # nothing but chrome
    docs.append((6, "unique doc\nanother line"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = {r.doc_id: r for r in boilerplate_removal(
        df, sep=r"\n", join_sep="\n", min_docs=4).collect()}
    assert len(out) == 6
    for i in range(1, 5):
        assert out[i].clean_text == f"intro {i}\nbody {i}"
        assert out[i].n_removed == 1
    assert out[5].clean_text == "" and out[5].n_kept == 0
    assert out[6].clean_text == "unique doc\nanother line"
    assert out[6].n_removed == 0


def test_boilerplate_removal_approx_agrees_when_separated(spark):
    """approx_count_distinct path matches exact on df counts far from
    the threshold (the 100 TB default's contract)."""
    from wrangle_pypes_spark.operators import boilerplate_removal

    docs = [(i, "shared footer\ncontent %d" % i) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ex = boilerplate_removal(df, sep=r"\n", min_docs=5, exact=True)
    ap = boilerplate_removal(df, sep=r"\n", min_docs=5, exact=False)
    assert sorted(map(tuple, ex.collect())) == sorted(map(tuple, ap.collect()))


def test_ngram_containment_ratio(spark):
    """Exact distinct-trigram containment per doc; the doc fully inside
    the reference scores 1.0, a disjoint doc 0.0, a short doc 0 grams;
    the reference side broadcasts."""
    from wrangle_pypes_spark.operators import ngram_containment

    ref = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),        # 2 grams, both in ref
         (2, "alpha beta gamma zzz"),          # 1 of 2 grams in ref
         (3, "totally different words here"),  # 0 of 2
         (4, "too short")],                    # 0 grams
        "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_containment(
        train, ref, n=3).collect()}
    assert out[1].containment == 1.0 and out[1].contaminated
    assert out[2].containment == 0.5
    assert out[3].containment == 0.0 and not out[3].contaminated
    assert out[4].n_grams == 0 and out[4].containment == 0.0
    plan = ngram_containment(train, ref, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_quantile_filter_null_groups_and_zero_quantile(spark):
    """Approx path parity with the exact path on the edges: an
    all-NULL-score group survives (not silently deleted), NULL group
    keys are a group like any other, and quantile=0 keeps everything
    including minimum-tied rows."""
    from wrangle_pypes_spark.operators import quantile_filter

    rows = [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
            ("b", 10, None), ("b", 11, None),       # all-NULL group
            (None, 20, 5.0), (None, 21, 6.0)]       # NULL group key
    df = spark.createDataFrame(rows, "grp string, id long, score double")
    ap = quantile_filter(df, "score", quantile=0.34,
                         group_cols=["grp"], exact=False)
    ids = {r.id for r in ap.collect()}
    assert {10, 11} <= ids            # NULL-cutoff group kept whole
    assert 20 in ids or 21 in ids     # NULL key treated as a group
    assert 1 not in ids               # bottom of group a dropped

    z = quantile_filter(df, "score", quantile=0.0,
                        group_cols=["grp"], exact=False)
    assert z.count() == len(rows)     # keep-everything baseline


def test_perplexity_buckets_exact_terciles(spark):
    """Exact path: per-group cume_dist terciles — common-token docs land
    in head, rare-token docs in tail, ties share a bucket; the approx
    path broadcasts cutoffs and never sorts the corpus."""
    from wrangle_pypes_spark.operators import perplexity_buckets

    # 9 docs, one lang: three of only ultra-common tokens, three mixed,
    # three of globally-unique tokens -> clean tercile split
    common = "the the the the"
    rows = ([(i, common, "en") for i in range(3)]
            + [(10 + i, f"the the rare{i}", "en") for i in range(3)]
            + [(20 + i, f"u{i}a u{i}b u{i}c u{i}d", "en") for i in range(3)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    out = perplexity_buckets(docs, exact=True).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, set()).add(r.doc_id)
    assert by_bucket["head"] == {0, 1, 2}        # tied scores, same bucket
    assert by_bucket["middle"] == {10, 11, 12}
    assert by_bucket["tail"] == {20, 21, 22}

    reg = []
    ap = perplexity_buckets(docs, exact=False, cache_registry=reg)
    got = {r.doc_id: r.bucket for r in ap.collect()}
    assert {d for d, b in got.items() if b == "head"} == {0, 1, 2}
    plan = ap._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "cutoffs must broadcast"
    # scored stream persisted exactly once (+ the vocab table from the
    # unigram scorer) and handed back for caller cleanup
    assert len(reg) == 2
    for df in reg:
        df.unpersist()

    # both paths expose the SAME column order (docstring contract)
    expect = ["doc_id", "lang", "n_tokens", "avg_neg_logprob", "bucket"]
    assert perplexity_buckets(docs, exact=True).columns == expect
    assert ap.columns == expect

    # ungrouped path: no stratum column, same bucket semantics
    ug = perplexity_buckets(docs, group_col=None)
    assert ug.columns == ["doc_id", "n_tokens", "avg_neg_logprob",
                          "bucket"]
    assert {r.doc_id for r in ug.collect() if r.bucket == "head"} \
        == {0, 1, 2}

    # bad args fail fast
    import pytest as _pytest
    with _pytest.raises(ValueError):
        perplexity_buckets(docs, cuts=(0.5,), labels=("a", "b", "c"))
    with _pytest.raises(ValueError):
        perplexity_buckets(docs, cuts=(0.9, 0.1))
    with _pytest.raises(ValueError):
        perplexity_buckets(docs, cuts=(0.5, 0.5))  # duplicates rejected


def test_zipf_fit_shape_and_determinism(spark):
    """A Zipf-ish corpus fits a negative slope with one output row;
    the top-k cut is total-ordered (frequency ties broken by token) so
    repeated runs agree exactly."""
    from wrangle_pypes_spark.functions import zipf_fit

    # token i appears ~N/i times -> ln(tf) ~ -ln(rank) + c
    rows = []
    did = 0
    for i in range(1, 21):
        for _ in range(200 // i):
            rows.append((did, f"tok{i:02d}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = zipf_fit(docs, top_k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_terms == 10
    assert r.zipf_slope < -0.8 and r.zipf_r2 > 0.95
    again = zipf_fit(docs, top_k=10).collect()[0]
    assert again == r


def test_html_to_text_strips_script_style_entities(spark):
    """Script/style/comment blocks vanish wholesale, tags become word
    boundaries, common entities decode, whitespace collapses."""
    from wrangle_pypes_spark.functions import html_to_text

    html = ("<html><head><style>p{color:red}</style>"
            "<script>if (1<2) alert('x');</script></head>"
            "<body><!-- nav --><p>Tom &amp; Jerry</p>"
            "<p>a</p><p>b</p><div>&lt;tag&gt;&nbsp;&quot;q&#39;s&quot;</div>"
            "</body></html>")
    df = spark.createDataFrame([(1, html)], "id long, html string")
    out = df.select(
        html_to_text(F.col("html")).alias("t")).collect()[0].t
    assert out == "Tom & Jerry a b <tag> \"q's\""
    # adjacent block tags must not fuse words
    assert " a b " in f" {out} "

    # nested escapes must decode exactly once: a page DISPLAYING
    # "&lt;b&gt;" writes "&amp;lt;b&amp;gt;" — the ampersand decodes
    # LAST so the visible text survives as the literal entity
    nested = spark.createDataFrame(
        [(1, "<p>use &amp;lt;b&amp;gt; tags</p>")], "id long, html string")
    got = nested.select(
        html_to_text(F.col("html")).alias("t")).collect()[0].t
    assert got == "use &lt;b&gt; tags"


def test_corpus_data_card_shares_and_top_lang(spark):
    """Per-source doc/token shares sum to 1, the dominant language is
    picked by (docs DESC, lang ASC) so count ties resolve
    deterministically."""
    from wrangle_pypes_spark.operators import corpus_data_card

    rows = [(1, "a b c", "en", "s1"), (2, "d e", "en", "s1"),
            (3, "f g h i", "fr", "s1"),
            # s2: 1 doc each of zz and aa -> tie, aa wins (lang ASC)
            (4, "x y", "zz", "s2"), (5, "p q r", "aa", "s2")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    out = {r.source: r for r in corpus_data_card(docs).collect()}
    assert out["s1"].n_docs == 3 and out["s1"].n_langs == 2
    assert out["s1"].top_lang == "en"
    assert out["s2"].top_lang == "aa"          # tie broken by lang ASC
    assert abs(out["s1"].pct_docs + out["s2"].pct_docs - 1.0) < 1e-9
    assert out["s1"].total_tokens == 9 and out["s2"].total_tokens == 5
    assert abs(out["s1"].avg_tokens - 3.0) < 1e-9

    # NULL source is a source like any other; NULL text counts zero
    # tokens — no document silently vanishes from the shares
    rows2 = rows + [(6, None, "en", None), (7, "k l", None, None)]
    docs2 = spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string")
    reg = []
    out2 = {r.source: r
            for r in corpus_data_card(docs2, cache_registry=reg).collect()}
    assert None in out2 and out2[None].n_docs == 2
    assert out2[None].total_tokens == 2         # NULL text -> 0 tokens
    assert abs(sum(r.pct_docs for r in out2.values()) - 1.0) < 1e-9
    assert len(reg) == 1
    reg[0].unpersist()


def test_bigram_logprob_matches_python_replica(spark):
    """Interpolated bigram probabilities match an exact in-process
    replica; word salad scores higher than natural repetition even
    when unigram distributions match."""
    import math
    from collections import Counter
    from wrangle_pypes_spark.functions import bigram_logprob_score

    rows = [(1, "a b a b a b"),       # highly predictable transitions
            (2, "a a b b b a"),       # same unigrams, scrambled
            (3, "x")]                 # <2 tokens: absent from output
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_logprob_score(docs).collect()}
    assert 3 not in got

    texts = {1: "a b a b a b".split(), 2: "a a b b b a".split(),
             3: ["x"]}
    stream = [t for ts in texts.values() for t in ts]
    uni = Counter(stream)
    total = len(stream)
    bic = Counter()
    pref = Counter()
    for ts in texts.values():
        for w1, w2 in zip(ts, ts[1:]):
            bic[(w1, w2)] += 1
            pref[w1] += 1
    for did in (1, 2):
        ts = texts[did]
        ps = [
            -math.log((bic[(w1, w2)] + 1.0 * (uni[w2] / total))
                      / (pref[w1] + 1.0))
            for w1, w2 in zip(ts, ts[1:])]
        expect = round(sum(ps) / len(ps), 4)
        assert got[did].n_bigrams == len(ts) - 1
        assert got[did].avg_neg_logprob_bi == pytest.approx(expect)
    assert (got[2].avg_neg_logprob_bi > got[1].avg_neg_logprob_bi)


def test_source_kl_divergence_matches_python_replica(spark):
    """KL(P_source || P_corpus) matches an exact in-process replica; a
    source matching the corpus mix scores near zero, an off-domain
    source scores higher; NULL source is a group like any other."""
    import math
    from collections import Counter
    from wrangle_pypes_spark.operators import source_kl_divergence

    texts = {"bal": "a b c d a b c d", "skew": "a a a a a a a a",
             None: "c d c d"}
    docs = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(texts.items())],
        "doc_id long, text string, source string")
    reg = []
    got = {r.source: r
           for r in source_kl_divergence(docs, cache_registry=reg).collect()}
    for df in reg:
        df.unpersist()

    corpus = Counter(t for txt in texts.values() for t in txt.split())
    total = sum(corpus.values())
    for s, txt in texts.items():
        cnt = Counter(txt.split())
        ns = sum(cnt.values())
        kl = sum((c / ns) * math.log((c / ns) / (corpus[w] / total))
                 for w, c in cnt.items())
        assert got[s].n_tokens == ns
        assert got[s].kl_nats == pytest.approx(round(kl, 6), abs=2e-6)
    assert got["skew"].kl_nats > got["bal"].kl_nats


def test_corpus_js_divergence_replica_and_bounds(spark):
    """JS matches an exact in-process replica, is symmetric, zero on
    identical corpora, and ln 2 on disjoint vocabularies."""
    import math
    from wrangle_pypes_spark.operators import corpus_js_divergence

    a = spark.createDataFrame([(1, "x x y"), (2, "y z")],
                              "doc_id long, text string")
    b = spark.createDataFrame([(3, "x y y q")], "doc_id long, text string")

    def replica(ta, tb):
        from collections import Counter
        pa, pb = Counter(ta.split()), Counter(tb.split())
        na, nb = sum(pa.values()), sum(pb.values())
        js = 0.0
        for w in set(pa) | set(pb):
            p, q = pa[w] / na, pb[w] / nb
            m = (p + q) / 2
            if p:
                js += 0.5 * p * math.log(p / m)
            if q:
                js += 0.5 * q * math.log(q / m)
        return round(js, 6)

    got = corpus_js_divergence(a, b).collect()[0]
    assert got.n_tokens_a == 5 and got.n_tokens_b == 4
    assert got.js_nats == pytest.approx(
        replica("x x y y z", "x y y q"), abs=2e-6)
    # symmetry
    rev = corpus_js_divergence(b, a).collect()[0]
    assert rev.js_nats == pytest.approx(got.js_nats, abs=2e-6)
    # identical -> 0, disjoint -> ln 2
    assert corpus_js_divergence(a, a).collect()[0].js_nats == 0.0
    c = spark.createDataFrame([(9, "p p r")], "doc_id long, text string")
    assert corpus_js_divergence(a, c).collect()[0].js_nats \
        == pytest.approx(round(math.log(2), 6), abs=2e-6)


def test_source_kl_empty_source_and_js_empty_snapshot(spark):
    """A source whose docs hold no tokens still appears in the KL
    report (n_tokens=0, NULL kl) — the extractor-regression signal must
    not vanish; an empty JS snapshot fails loudly instead of reporting
    fabricated drift."""
    from wrangle_pypes_spark.operators import (corpus_js_divergence,
                                               source_kl_divergence)

    docs = spark.createDataFrame(
        [(1, "a b", "ok"), (2, None, "dead"), (3, "", "dead")],
        "doc_id long, text string, source string")
    got = {r.source: r for r in source_kl_divergence(docs).collect()}
    assert set(got) == {"ok", "dead"}
    assert got["dead"].n_tokens == 0 and got["dead"].kl_nats is None
    assert got["ok"].n_tokens == 2

    empty = docs.filter("doc_id < 0")
    with pytest.raises(ValueError, match="empty snapshot"):
        corpus_js_divergence(docs, empty)


def test_distribution_drift_replica_and_novel_keys(spark):
    """Per-window KL matches an exact replica; a window containing a
    key absent from the reference reports NULL kl with a novel-key
    count instead of silently dropping the key; empty reference fails
    loudly."""
    import math
    from wrangle_pypes_spark.operators import distribution_drift

    counts = spark.createDataFrame(
        [("w1", "a", 3), ("w1", "b", 1),
         ("w2", "a", 2), ("w2", "NEW", 2)],
        "win string, k string, n long")
    ref = spark.createDataFrame([("a", 6), ("b", 2)], "k string, n long")
    out = {r.win: r for r in distribution_drift(
        counts, ref, window_col="win", key_col="k").collect()}

    # w1 matches the reference distribution (3:1 vs 6:2) -> KL = 0
    assert out["w1"].n_events == 4 and out["w1"].n_novel_keys == 0
    assert out["w1"].kl_nats == pytest.approx(0.0, abs=1e-9)
    # w2 has an unseen key: NULL kl, novel count surfaced
    assert out["w2"].n_novel_keys == 1 and out["w2"].kl_nats is None

    # replica for a skewed-but-covered window
    c2 = spark.createDataFrame([("w3", "a", 1), ("w3", "b", 3)],
                               "win string, k string, n long")
    got = distribution_drift(c2, ref, window_col="win",
                             key_col="k").collect()[0]
    expect = (1 / 4) * math.log((1 / 4) / (6 / 8)) \
        + (3 / 4) * math.log((3 / 4) / (2 / 8))
    assert got.kl_nats == pytest.approx(round(expect, 6), abs=2e-6)

    with pytest.raises(ValueError, match="empty reference"):
        distribution_drift(counts, ref.filter("n < 0"),
                           window_col="win", key_col="k")


def test_linear_text_scorer_exact_and_plan(spark):
    import hashlib
    import math

    from pyspark.sql import Row
    from wrangle_pypes_spark.operators.quality import linear_text_scorer
    from wrangle_pypes_spark.plans import audit

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)

    docs = spark.createDataFrame([
        Row(doc_id=1, text="good good stuff"),
        Row(doc_id=2, text="bad unseen"),
        Row(doc_id=3, text=""),
    ])
    weights = spark.createDataFrame(
        [Row(bucket=bucket("good"), weight=2.0),
         Row(bucket=bucket("stuff"), weight=0.5),
         Row(bucket=bucket("bad"), weight=-3.0)])
    out = linear_text_scorer(docs, weights, bias=0.25)
    rows = {r.doc_id: r for r in out.collect()}
    raw1 = 0.25 + 2 * 2.0 + 0.5
    assert rows[1].raw_score == pytest.approx(raw1, abs=1e-6)
    assert rows[1].prob == pytest.approx(1 / (1 + math.exp(-raw1)), abs=1e-6)
    assert rows[1].n_tokens == 3
    # unseen token contributes 0
    assert rows[2].raw_score == pytest.approx(0.25 - 3.0, abs=1e-6)
    # token-less doc is NOT dropped: scores sigmoid(bias) explicitly
    assert rows[3].n_tokens == 0
    assert rows[3].raw_score == pytest.approx(0.25, abs=1e-6)
    assert rows[3].prob == pytest.approx(1 / (1 + math.exp(-0.25)),
                                         abs=1e-6)
    rep = audit(out)
    assert rep.jvm_only()
    assert rep.broadcast_joins >= 1


def test_linear_text_scorer_honors_n_buckets(spark):
    # md5 scheme must fold buckets by n_buckets — a model trained over
    # a small bucket space may not silently lose 98% of its features
    import hashlib

    from pyspark.sql import Row
    from wrangle_pypes_spark.operators.quality import linear_text_scorer

    nb = 64
    b_good = int(hashlib.md5(b"good").hexdigest()[:4], 16) % nb
    docs = spark.createDataFrame([Row(doc_id=1, text="good good")])
    weights = spark.createDataFrame([Row(bucket=b_good, weight=1.5)])
    out = linear_text_scorer(docs, weights, bias=0.0, n_buckets=nb)
    row = out.collect()[0]
    assert row.raw_score == pytest.approx(3.0, abs=1e-6)

    with pytest.raises(ValueError, match="hash_scheme"):
        linear_text_scorer(docs, weights, hash_scheme="sha1").collect()


def test_compression_ratio_signal_and_replica(spark):
    import zlib

    from pyspark.sql import Row
    from wrangle_pypes_spark.operators.quality import compression_ratio

    rep = "spam " * 200
    prose = ("the quick brown fox jumps over the lazy dog and then "
             "wanders toward a entirely different meadow full of words")
    docs = spark.createDataFrame([
        Row(doc_id=1, text=rep),
        Row(doc_id=2, text=prose),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text=None),
    ])
    rows = {r.doc_id: r for r in compression_ratio(docs).collect()}
    # repetitive text compresses far below prose
    assert rows[1].ratio < rows[2].ratio
    # in-process replica pins the exact arithmetic
    for did, t in ((1, rep), (2, prose)):
        b = t.encode()
        assert rows[did].n_bytes == len(b)
        assert rows[did].n_compressed == len(zlib.compress(b, 6))
        assert rows[did].ratio == pytest.approx(
            round(len(zlib.compress(b, 6)) / len(b), 4))
    assert rows[3].n_bytes == 0 and rows[3].ratio is None
    assert rows[4].n_bytes is None and rows[4].ratio is None


def test_semantic_decontaminate_exact_flags_planted_leaks(spark, sf_dir):
    """Perturbed copies of eval embeddings must flag contaminated
    (cosine ~0.999); untouched corpus vectors must not; the sim of a
    vector IN the eval set is exactly 1.0."""
    from wrangle_pypes_spark.operators import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    v = F.col("embedding")
    leaked = ev.select(
        (F.col("vec_id") + 10**6).alias("vec_id"),
        F.concat(F.array(v[0] + F.lit(0.05)),
                 F.slice(v, 2, F.size(v) - 1)).alias("embedding"))
    train = emb.filter(F.col("vec_id") % 50 != 0) \
        .unionByName(leaked).unionByName(ev)
    out = semantic_decontaminate(train, ev, vec_col="embedding",
                                 id_col="vec_id", threshold=0.9)
    rows = {r.vec_id: (r.max_eval_sim, r.contaminated)
            for r in out.collect()}
    n_ev = ev.count()
    assert n_ev > 0
    for r in ev.collect():
        assert rows[r.vec_id] == (1.0, True)          # itself
        sim, flag = rows[r.vec_id + 10**6]            # planted leak
        assert flag and sim > 0.99
    clean = [vid for vid, (s, f) in rows.items()
             if vid < 10**6 and vid % 50 != 0]
    assert clean and not any(rows[v][1] for v in clean)
    # output is one row per train row
    assert out.count() == train.count()

    with pytest.raises(ValueError, match="method"):
        semantic_decontaminate(train, ev, method="cosine-ish")


def test_semantic_decontaminate_lsh_recall_and_unmatched_nulls(
        spark, sf_dir):
    """The LSH path must (a) never flag a doc the exact path calls
    clean (within-bucket scoring is exact cosine), (b) catch nearly
    all planted leaks (perturbed copies share codes overwhelmingly),
    and (c) report null sim for bucket-miss docs."""
    from wrangle_pypes_spark.operators import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    v = F.col("embedding")
    leaked = ev.select(
        (F.col("vec_id") + 10**6).alias("vec_id"),
        F.concat(F.array(v[0] + F.lit(0.05)),
                 F.slice(v, 2, F.size(v) - 1)).alias("embedding"))
    train = emb.filter(F.col("vec_id") % 50 != 0).unionByName(leaked)
    exact = {r.vec_id: r.contaminated for r in
             semantic_decontaminate(train, ev, vec_col="embedding",
                                    id_col="vec_id").collect()}
    lsh = {r.vec_id: (r.max_eval_sim, r.contaminated) for r in
           semantic_decontaminate(train, ev, vec_col="embedding",
                                  id_col="vec_id", method="lsh",
                                  n_planes=8).collect()}
    assert set(lsh) == set(exact)
    # no false flags vs exact
    assert not any(f for vid, (_, f) in lsh.items() if not exact[vid])
    # recall on the planted leaks
    planted = [vid for vid in exact if vid >= 10**6]
    caught = sum(1 for vid in planted if lsh[vid][1])
    assert caught / len(planted) >= 0.8
    # at 8 planes most clean docs miss every eval bucket -> null sim
    assert any(s is None for s, _ in lsh.values())

    with pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(train, ev.limit(0), vec_col="embedding",
                               id_col="vec_id", method="lsh")


def test_semantic_decontaminate_exact_plan_broadcasts_eval(spark, sf_dir):
    from wrangle_pypes_spark import plans
    from wrangle_pypes_spark.operators import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    rep = plans.audit(semantic_decontaminate(
        emb, ev, vec_col="embedding", id_col="vec_id"))
    assert rep.python_eval_nodes == []
    assert "BroadcastNestedLoopJoin" in rep.plan  # documented baseline
    assert rep.partial_aggregates >= 1            # map-side max
