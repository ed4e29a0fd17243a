"""End-to-end corpus curation: filter → unit dedup → near-dup →
pack, on the documents fixture."""

import pytest
from pyspark.sql import functions as F

from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline
from safedata_pipeline_spark.sources.tables import load_table


def test_corpus_pipeline_funnel_and_pack(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cp = CorpusPipeline(docs)
    cp.filter_quality(keep_fraction=0.6)
    cp.dedup_units(sep=" ")  # fixtures have no newlines; word units
    cp.dedup_near(threshold=0.5)
    packed = cp.pack(budget=64, buckets=8)

    funnel = cp.funnel_report()
    # monotone funnel, nothing fully drained
    order = ["input", "quality", "unit_dedup", "near_dedup"]
    vals = [funnel[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert vals[-1] > 0
    # quality keeps ~60%
    assert abs(vals[1] / vals[0] - 0.6) < 0.1

    rows = packed.collect()
    assert len(rows) == funnel["near_dedup"]
    # pack assignment is consistent: offsets gap-free per bucket
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for docs_in_bucket in by_bucket.values():
        docs_in_bucket.sort(key=lambda r: r.doc_id)
        run = 0
        for r in docs_in_bucket:
            assert r.start_offset == run
            run += r.n_tokens

    # surviving docs are canonical: re-running near-dedup is a no-op
    n_again = CorpusPipeline(cp.df).dedup_near(threshold=0.5).funnel_report()[
        "near_dedup"
    ]
    assert n_again == funnel["near_dedup"]


def test_corpus_pipeline_stats_schema(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    st = CorpusPipeline(docs).stats("source")
    assert set(st.columns) == {
        "source",
        "n_docs",
        "total_ws_tokens",
        "n_langs",
        "avg_quality",
    }
    assert st.count() > 0


def test_filter_repetition_drops_repeated_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a a a a a"),                       # dup_word_fraction 7/8
            (2, "the quick brown fox jumps over dogs"),  # all distinct
        ],
        "doc_id bigint, text string",
    )
    cp = CorpusPipeline(df).filter_repetition(max_dup_word_fraction=0.5)
    assert [r.doc_id for r in cp.df.collect()] == [2]
    assert cp.funnel_report()["repetition"] == 1


def test_corpus_pipeline_mixture_step(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    cp = CorpusPipeline(docs)
    cp.filter_quality(keep_fraction=0.8)
    cp.mix_sources(shares)

    funnel = cp.funnel_report()
    assert funnel["mixture"] <= funnel["quality"]
    assert funnel["mixture"] > 0
    # post-step composition matches the target shares within binomial
    # noise; any source absent from shares is gone entirely
    got = {
        r["source"]: r["cnt"]
        for r in cp.df.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(got) <= set(shares)
    total = sum(got.values())
    for src, cnt in got.items():
        assert abs(cnt / total - shares[src]) < 0.1
    # fitted rates are recorded for holdout reuse
    rates = cp.results["mixture_rates"]
    assert rates and all(0 < r <= 1.0 for r in rates.values())
    # the pipeline still packs after reshaping
    packed = cp.pack(budget=64, buckets=8)
    assert packed.count() == funnel["mixture"]


def test_corpus_pipeline_normalize_step(spark):
    docs = spark.createDataFrame(
        [(1, "The  CAT", "s"), (2, "the cat", "s"), (3, "dog", "s")],
        "doc_id bigint, text string, source string",
    )
    cp = CorpusPipeline(docs)
    cp.normalize()
    assert cp.funnel_report()["normalize"] == 3  # no rows dropped
    # case/space variants now collide in unit dedup
    cp.dedup_units(sep=" ")
    texts = {r.text for r in cp.df.collect()}
    assert "the cat" in texts
    # doc 2 (the later duplicate) lost all its units
    assert cp.funnel_report()["unit_dedup"] < 3 or "" in texts


def test_corpus_pipeline_keep_best_and_lm_filter(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cp = CorpusPipeline(docs)
    cp.filter_lm(max_avg_neg_logprob=50.0)  # generous: keeps most
    assert 0 < cp.funnel_report()["lm_filter"] <= cp.funnel_report()["input"]
    cp.dedup_near(threshold=0.5, keep="best")
    funnel = cp.funnel_report()
    assert 0 < funnel["near_dedup"] <= funnel["lm_filter"]
    # exactly one kept doc per cluster: re-running is a no-op
    before = cp.funnel_report()["near_dedup"]
    cp.dedup_near(threshold=0.5, keep="best")
    assert cp.funnel_report()["near_dedup"] == before

    import pytest as _pytest

    with _pytest.raises(ValueError):
        cp.dedup_near(keep="nope")
    with _pytest.raises(ValueError):
        cp.filter_lm(1.0, model="trigram")


def test_corpus_pipeline_decontaminate_step(spark, sf_dir):
    """A planted eval-probe document is removed by the decontamination
    step and the funnel records exactly that one drop."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    planted = spark.createDataFrame(
        [(10_000_001, "The capital of France is Paris QUESTION_7731 answer choice B",
          "en", "eval", 60)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).select(*docs.columns)
    cp = CorpusPipeline(docs.unionByName(planted))
    n_in = cp.funnel_report()["input"]
    cp.decontaminate(["QUESTION_7731"], method="substring")
    funnel = cp.funnel_report()
    assert funnel["decontaminated"] == n_in - 1
    assert cp.df.where(F.col("doc_id") == 10_000_001).count() == 0
    # pipeline continues downstream unharmed
    cp.dedup_units(sep=" ")
    assert cp.funnel_report()["unit_dedup"] > 0


def test_corpus_pipeline_pack_windows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    cp = CorpusPipeline(docs)
    wins = cp.pack(budget=32, buckets=4, materialize="windows")
    rows = wins.collect()
    assert {"doc_id", "bucket", "window_no", "start_tok", "end_tok"} <= set(wins.columns)
    assert all(r.end_tok > r.start_tok for r in rows)

    import pytest

    with pytest.raises(ValueError, match="materialize"):
        cp.pack(materialize="bogus")


def test_corpus_pipeline_quality_gate(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(100)
    cp = CorpusPipeline(docs)
    # passing gate: text present, plausible sizes
    cp.gate(
        [
            {"kind": "completeness", "col": "text", "min_ratio": 0.99},
            {"kind": "row_count", "low": 1.0},
        ]
    )
    assert len(cp.results["gates"]) == 1
    # failing gate raises and names the rule...
    with pytest.raises(ValueError, match="row_count_table"):
        cp.gate([{"kind": "row_count", "low": 1e9}])
    # ...unless on_fail="record"
    cp.gate([{"kind": "row_count", "low": 1e9}], on_fail="record")
    assert len(cp.results["gates"]) == 3
    with pytest.raises(ValueError, match="on_fail"):
        cp.gate([{"kind": "row_count", "low": 1.0}], on_fail="explode")


def test_corpus_pipeline_dedup_against_previous_run(spark):
    """Incremental ingestion: a second crawl drop through the pipeline
    drops exact duplicates of the first run's survivors, keeps the
    genuinely new docs, and records the funnel row."""
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    first = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "a"), (2, "unique early document text", "a")],
        "doc_id bigint, text string, source string",
    )
    drop2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps", "b"),   # dup of accepted corpus
            (11, "a brand new document arrives", "b"),
            (12, "a brand new document arrives", "b"),  # in-batch dup, min id wins
            (13, None, "b"),
        ],
        "doc_id bigint, text string, source string",
    )
    pipe = CorpusPipeline(drop2).dedup_against(first)
    ids = {r["doc_id"] for r in pipe.df.collect()}
    assert ids == {11}
    assert pipe.funnel["input"] == 4
    assert pipe.funnel["incremental_deduped"] == 1


def test_corpus_pipeline_dedup_substrings_step(spark):
    """Boilerplate stripping inside the pipeline: the repeated run
    vanishes from the non-first doc, fully-boilerplate docs drop out,
    and non-text columns ride along."""
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            (1, boiler + " original tail", "a"),
            (2, "head words " + boiler, "b"),
            (3, boiler, "c"),  # nothing but boilerplate -> dropped
        ],
        "doc_id bigint, text string, source string",
    )
    pipe = CorpusPipeline(docs).dedup_substrings(k=8)
    rows = {r["doc_id"]: r for r in pipe.df.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == boiler + " original tail"
    assert rows[2]["text"] == "head words"
    assert rows[2]["source"] == "b"
    assert pipe.funnel["substring_dedup"] == 2


def test_corpus_pipeline_dedup_against_near(spark):
    """near=True drops light rewrites of the accepted corpus, not
    just byte-identical content."""
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    first = spark.createDataFrame(
        [(1, base, "a")], "doc_id bigint, text string, source string"
    )
    drop2 = spark.createDataFrame(
        [
            (10, base + " lambda", "b"),
            (11, "completely different words with no shared shingles here", "b"),
        ],
        "doc_id bigint, text string, source string",
    )
    pipe = CorpusPipeline(drop2).dedup_against(first, near=True)
    assert {r["doc_id"] for r in pipe.df.collect()} == {11}
    assert pipe.funnel["incremental_near_deduped"] == 1


def test_pipeline_dedup_contained_and_readability(spark):
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    core = "alpha beta gamma delta epsilon zeta eta theta. " * 2
    rows = [
        (1, core.strip(), "a"),                                     # contained in 2
        (2, ("intro words here. " + core + "plus a very long tail "
             "of unrelated extra content words here.").strip(), "a"),
        (3, "totally different readable content. it reads fine here.", "b"),
        (4, core.strip(), "a"),                                     # mutual with 1 → keep 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    p = CorpusPipeline(df).dedup_contained(n=3, threshold=0.9)
    kept = {r.doc_id for r in p.df.collect()}
    # 1 and 4 are mutually contained (identical): lower id 1 survives the
    # mutual rule but 1 is ALSO contained in 2 (non-mutual) → dropped; 4 likewise
    assert kept == {2, 3}
    assert p.funnel["containment_dedup"] == 2

    p2 = CorpusPipeline(df).filter_readability(min_flesch=-100.0)
    assert p2.funnel["readability"] == 4  # all docs are in band
    p3 = CorpusPipeline(spark.createDataFrame([(9, "", "z")],
        "doc_id bigint, text string, source string")).filter_readability()
    assert p3.funnel["readability"] == 0  # empty doc has NULL flesch → dropped


def test_full_crawl_pipeline_from_html(spark):
    """Round-6 end-to-end: the crawl entry stages (HTML extraction →
    domain blocklist) chain into the established curation flow
    (normalize → unit dedup → near-dup clustering → pack) with a
    coherent funnel."""
    body = (
        "<p>the quick brown fox jumps over the lazy dog again and again "
        "until everyone involved is thoroughly tired of the exercise</p>"
    )
    nav = '<nav><a href="/">a</a> <a href="/">b</a> <a href="/">c</a></nav>'
    rows = [
        (1, nav + body, "https://www.good.org/a", "crawl"),
        (2, nav + body, "https://mirror.good.org/b", "crawl"),   # near-dup of 1
        (3, nav + "<p>completely different sentence with plenty of fresh "
            "readable words to keep around for the corpus</p>",
            "https://other.net/c", "crawl"),
        (4, nav + body, "https://www.spam.biz/x", "crawl"),      # blocked domain
        (5, "<nav><a href='/'>only</a> <a href='/'>nav</a></nav>",
            "https://empty.example.com/y", "crawl"),             # extracts empty
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, html string, url string, source string")
    pipe = (
        CorpusPipeline(df)
        .extract_html()
        .filter_domains(["spam.biz"])
        .normalize()
        .dedup_units()
        .dedup_near(threshold=0.5)
    )
    f = pipe.funnel_report()
    assert f["input"] == 5
    assert f["html_extract"] == 4          # doc 5's extraction is empty
    assert f["domain_filter"] == 3         # doc 4's domain blocked
    assert f["near_dedup"] == 2            # docs 1/2 collapse to one
    kept = {r.doc_id for r in pipe.df.collect()}
    assert kept == {1, 3}
    packed = pipe.pack(budget=16, buckets=2)
    assert packed.count() == 2             # one assignment row per survivor


def test_corpus_pipeline_compressibility_and_char_dedup(spark):
    """r9 steps: the compressibility band drops template/boilerplate
    (deflate ratio collapses on repeats) and the char-granular
    ExactSubstr pass strips a shared mid-text run the word pass at the
    same char budget would only catch word-aligned."""
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "jubilant researchers measure entropy gradients across wildly "
        "varied corpora documents every afternoon "
    )
    boiler = "click here subscribe now " * 40     # deflate collapses this
    rows = [
        (1, prose + "alpha variant one of the corpus body text"),
        (2, prose + "beta variant two with different tail content"),
        (3, boiler),
        (4, "zz " * 3),                            # tiny; survives band
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = CorpusPipeline(df).filter_compressibility(min_zlib_ratio=0.3)
    kept = {r.doc_id for r in p.df.collect()}
    assert 3 not in kept and {1, 2} <= kept
    assert p.funnel["compressibility"] == len(kept)

    p = p.dedup_substrings_chars(k=40)
    out = {r.doc_id: r.text for r in p.df.collect()}
    # doc 1 keeps the shared prose (first occurrence); doc 2 loses it
    assert prose.strip().split(" ")[0] in out[1]
    assert "quick brown fox" in out[1]
    assert "quick brown fox" not in out[2]
    assert "beta variant two" in out[2]
    assert p.funnel["substring_dedup_chars"] == len(out)


def test_corpus_pipeline_pii_scrub_step(spark):
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    rows = [
        (1, "normal prose about weather and hiking trails today"),
        (2, "contact a@b.com or c@d.org or e@f.net or g@h.io now"),  # PII-dense
        (3, "deploy with api_key = 'AbCdEfGhIjKlMnOp1234' tonight"),  # secret
        (4, "write to alice@example.com for the schedule details"),  # 1 hit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = CorpusPipeline(df).scrub_pii(max_pii_hits=2)
    out = {r.doc_id: r.text for r in p.df.collect()}
    assert set(out) == {1, 4}          # 2 quarantined (4 emails), 3 dropped (secret)
    assert "[EMAIL]" in out[4] and "alice@example.com" not in out[4]
    assert p.funnel["pii_scrub"] == 2


def test_corpus_pipeline_language_filter_step(spark):
    from safedata_pipeline_spark.corpus_pipeline import CorpusPipeline

    labeled = spark.createDataFrame(
        [
            ("the cat and the dog sat in the house with the mouse", "en"),
            ("it is the best of the rest and the test of the nest", "en"),
            ("der hund und die katze sind nicht in dem haus mit der maus", "de"),
            ("ich bin mit der bahn und dem bus nicht in der stadt", "de"),
        ],
        "text string, lang string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the bird and the fish are in the house with the cat"),
            (2, "der vogel und der fisch sind nicht in dem haus"),
            (3, "the dog ist nicht in the haus und the maus"),  # mixed
        ],
        "doc_id long, text string",
    )
    p = CorpusPipeline(corpus).filter_language(labeled, keep_langs=["en"])
    kept = {r.doc_id for r in p.df.collect()}
    assert 1 in kept and 2 not in kept
    assert "langid_model" in p.results


def test_quality_signals_one_row_per_doc_matches_components(spark):
    """The combined table carries each family's exact values and the
    long repetition form pivoted wide; every input doc keeps one row;
    NULL where the doc is too short for a family (the long form's row
    contract)."""
    from safedata_pipeline_spark import corpus_pipeline as CPL
    from safedata_pipeline_spark.operators import compression as CMP
    from safedata_pipeline_spark.operators import text as TX

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat\nthe cat sat on the mat\n- bullet line"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "tiny"),  # 1 word: no repetition rows at all
            (4, ""),  # empty: zero tokens everywhere
        ],
        "doc_id bigint, text string",
    )
    out = CPL.quality_signals(docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 3, 4]

    g = {r.doc_id: r for r in TX.gopher_quality_filters(docs).collect()}
    ce = {r.doc_id: r for r in CMP.compression_entropy(docs).collect()}
    ul = {r.doc_id: r for r in TX.unigram_logprob(docs).collect()}
    rep = {}
    for r in TX.gopher_ngram_repetition(docs).collect():
        rep[(r.doc_id, r.kind, r.n)] = r.char_frac
    for i in (1, 2, 3, 4):
        assert rows[i].n_words == g[i].n_words
        assert rows[i].gopher_passes == g[i].passes
        assert rows[i].entropy_bits_per_byte == ce[i].entropy_bits_per_byte
        assert rows[i].ideal_ratio == ce[i].ideal_ratio
        assert rows[i].n_tokens == ul[i].n_tokens
        assert rows[i].unigram_neg_logprob == ul[i].avg_neg_logprob
        for kind, ns in (("top", (2, 3, 4)), ("dup", (5, 6, 7, 8, 9, 10))):
            for n_ in ns:
                assert (
                    getattr(rows[i], f"{kind}_{n_}gram_frac")
                    == rep.get((i, kind, n_))
                ), (i, kind, n_)
    # the repeated-sentence doc has real repetition signal
    assert rows[1].top_2gram_frac > 0
    assert rows[1].dup_5gram_frac > 0
    # the 1-word and empty docs carry NULL repetition columns
    assert rows[3].top_2gram_frac is None and rows[4].dup_10gram_frac is None


def test_filter_funnel_attribution_exact(spark):
    from safedata_pipeline_spark import corpus_pipeline as CPL

    pass_doc = " ".join(["alpha", "beta", "gamma", "delta", "word"] * 5)  # 25 ok words
    short_doc = "just five small words here"
    longword_doc = " ".join(["abcdefghijklmnop"] * 20)  # mean len 16 > 10
    lowalpha_doc = " ".join(["aaaa"] * 11 + ["123"] * 9)  # 55 < 80% alpha
    digit_doc = " ".join(["abc"] * 17 + ["1111111111111111111111"] * 3)
    df = spark.createDataFrame(
        [
            (0, pass_doc),
            (1, short_doc),
            (2, longword_doc),
            (3, lowalpha_doc),
            (4, digit_doc),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    out = {r.rule: r for r in CPL.filter_funnel(df, min_words=20).collect()}
    assert [out[r].rule_idx for r in ("too_short", "word_length", "low_alpha", "digit_heavy")] == [1, 2, 3, 4]
    # marginal fails: NULL text counts as too_short; doc3 fails BOTH
    # low_alpha and digit_heavy but is charged to low_alpha only
    assert out["too_short"].n_fail == 2 and out["too_short"].n_first_fail == 2
    assert out["word_length"].n_fail == 1 and out["word_length"].n_first_fail == 1
    assert out["low_alpha"].n_fail == 1 and out["low_alpha"].n_first_fail == 1
    assert out["digit_heavy"].n_fail == 2 and out["digit_heavy"].n_first_fail == 1
    assert [
        out[r].survivors_after
        for r in ("too_short", "word_length", "low_alpha", "digit_heavy")
    ] == [4, 3, 2, 1]


def test_filter_funnel_all_pass_and_validation(spark):
    import pytest

    from safedata_pipeline_spark import corpus_pipeline as CPL

    df = spark.createDataFrame(
        [(0, " ".join(["fine"] * 30))], "doc_id bigint, text string"
    )
    rows = CPL.filter_funnel(df).collect()
    assert all(r.n_fail == 0 and r.n_first_fail == 0 for r in rows)
    assert all(r.survivors_after == 1 for r in rows)
    with pytest.raises(ValueError):
        CPL.filter_funnel(df, min_words=0)


# funnel of the chain below on the sf0.001 documents table, recorded
# before steps pinned their survivors: pinning must not move a count
SF0001_CHAIN_FUNNEL = {
    "input": 500,
    "normalize": 500,
    "quality": 300,
    "substring_dedup": 290,
    "near_dedup": 290,
}


ROW_DROPPING_CHAIN = (
    ("quality", lambda cp: cp.filter_quality(0.6)),
    ("substring_dedup", lambda cp: cp.dedup_substrings(k=8)),
    ("near_dedup", lambda cp: cp.dedup_near(threshold=0.5)),
)


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_corpus_pipeline_steps_read_pinned_survivors(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cp = CorpusPipeline(docs)
    # normalize cannot drop rows: it carries the count forward, no job
    assert _jobs_in_group(spark, "corpus-pin:normalize", cp.normalize) == 0
    for step, run in ROW_DROPPING_CHAIN:
        # the group sees each step's count job, so the zero above is not vacuous
        assert _jobs_in_group(spark, f"corpus-pin:{step}", lambda: run(cp)) >= 1
        plan = cp.df._jdf.queryExecution().optimizedPlan().toString()
        # the next step reads the pinned survivors, not the parquet scan
        assert "Relation" not in plan, (step, plan)
        assert "LogicalRDD" in plan, (step, plan)
    packed = cp.pack(budget=64, buckets=8)
    assert cp.funnel_report() == SF0001_CHAIN_FUNNEL
    assert packed.count() == SF0001_CHAIN_FUNNEL["near_dedup"]


@pytest.mark.parametrize("n", [0, 1])
def test_corpus_pipeline_degenerate_input(spark, sf_dir, n):
    docs = load_table(spark, sf_dir, "documents").limit(n)
    cp = CorpusPipeline(docs)
    cp.normalize()
    for _, run in ROW_DROPPING_CHAIN:
        run(cp)
    packed = cp.pack(budget=64, buckets=8)
    assert cp.funnel_report() == {k: n for k in SF0001_CHAIN_FUNNEL}
    assert packed.count() == n
