"""Statistical-trend artifact for the rows-only queries.

Rows-only queries (randomized / approximate / engine-specific sketches)
carry no hash signal in the correctness matrix, so a silent regression
in LSH recall, model-utility accuracy, or HLL error would only surface
when a loose unit-test bound finally trips. This tool records their
statistical assertions per round the way BENCH records time:

    python tools/stat_gates.py [sf_dir]     # default /root/testdata/sf0.01

writes STATS_local.json ({metric: value}) and appends one line to
STATS_history.jsonl. GATES holds the loose regression bounds;
tests/test_stat_gates.py asserts every recorded metric against them,
so a deliberate (or accidental) regression fails the suite.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# metric -> (direction, bound): "min" = value must be >= bound.
# These are REGRESSION gates pinned (with slack) to measured
# baselines at sf0.01 — not absolute quality targets. In particular
# lsh_recall_at_5 measured 0.83 at r7 (full Lv-et-al perturbation
# SEQUENCES — ascending-cost subsets of the 5 lowest-margin planes,
# 16 probes/table; was 0.48 with single-bit flips at r6, 0.12
# single-probe at r5) over near-orthogonal random vectors — the
# hardest case for sign-pattern LSH (8 planes → ~(1−θ/π)⁸ per
# table). The operator's designed use — HIGH-cosine near-dup
# retrieval — is separately pinned by the planted-dup tests in
# test_similarity.py. A code change that halves any of these trips
# the suite.
GATES: dict[str, tuple[str, float]] = {
    "model_utility_acc_drop": ("max", 0.25),   # DP noise may cost ≤ 25pp accuracy
    "model_utility_f1_drop": ("max", 0.30),
    "lsh_recall_at_5": ("min", 0.60),          # measured 0.83 (r7, probe sequences)
    "ivf_recall_at_5": ("min", 0.80),          # measured 0.92 (r10: 64 cells, 20 probes, 2-assign)
    "lsh_mrr": ("min", 0.70),                  # measured 1.0 (r8: true NN ranks first when found)
    # cross-scale floor: the suite recomputes at sf0.001 where 10
    # queries x tiny corpus quantize MRR in 0.1 steps (measured 0.8
    # there); the r10 >=0.95 target is enforced at the ARTIFACT scale
    # via ARTIFACT_GATES below
    "ivf_mrr": ("min", 0.70),
    # PCA-16 reduce-then-search with a 10%-of-corpus exact re-rank
    # (X223 consumer): measured 0.70/0.80 at sf0.01 on the isotropic
    # fixture — the honest floor for a 4x-cheaper stage-1 scan; floors
    # sit below measurement by the same margin as the lsh/ivf gates
    "pca_recall_at_5": ("min", 0.50),
    "pca_mrr": ("min", 0.60),
    "hll_mean_rel_err": ("max", 0.15),         # measured 0.0 at fixture scale
    "kmeans_normalized_inertia": ("max", 0.999),  # must beat the k=1 baseline
    "bpe_compression_ratio": ("max", 0.95),    # 10 merges must compress ≥5%
    "classifier_heldout_auc": ("min", 0.95),   # measured 1.0 (r6, planted clean-vs-degraded fixture)
    "langid_heldout_acc": ("min", 0.90),       # measured 1.0 (r8, planted marker fixture)
    "zlib_ratio_max": ("max", 1.05),           # deflate ≤ raw + framing overhead
    "zlib_dup_cost": ("max", 1.15),            # doubled text must compress ~free (LZ window alive)
}

# Scaling-slope gates for the pair-GENERATOR family — the operator
# class whose failure mode is super-linear pair blowup (all-pairs
# sneaking past the bucketing). Each query is timed at sf0.01 and
# sf0.1 (10x the data) and the wall-clock ratio is gated: a linear
# operator with fixed JVM/plan overhead lands well under 10x (the
# overhead inflates the small-scale denominator), a quadratic one
# lands near 100x on the data-driven part and trips. 25x allows
# 10x data + shuffle log factors + timing noise. Computed in main()
# only (per-round artifact, like BENCH) — not in compute(), so the
# pytest-suite recompute stays sf0.001-fast; the suite covers the
# gate LOGIC via the degrade-and-trip loop instead.
SLOPE_QUERIES = [
    "jaccard_prefix_join",
    "containment_join",
    "edit_distance_pairs",
    "semantic_dedup",
    "substring_dedup",
    "winnowing_overlap",
    "record_linkage",
    # iterative operators (cost = rounds × per-pass): their failure
    # mode is a per-iteration lineage/plan blowup (each round paying
    # more than the last) or an accidental data-dependent round count —
    # either shows up as a super-linear wall-clock slope at 10x data
    "kmeans_embeddings",
    "bpe_merges",
    "dup_graph_pagerank",
]
SLOPE_GATES: dict[str, tuple[str, float]] = {
    f"slope_{q}": ("max", 25.0) for q in SLOPE_QUERIES
}

# SECOND scale decade (VERDICT r9 #5): sf0.1 -> a locally-synthesized
# ~10x "sf1-equivalent" fixture (tools/make_scale10.py — tile-based,
# pair-density-preserving, so a linear operator measures ~flat and a
# quadratic one measures ~10x). At this decade the fixed JVM/plan
# overhead no longer pads the denominator, so the gate is the tight
# 4x-per-decade bound the r9 brief asked for. This decade already paid
# for itself: the q-gram prefix route of edit_distance_pairs measured
# 39x here (constant gram vocabulary -> df^2 candidate blowup on
# sequential-ID domains) and was replaced by the FastSS deletion-
# neighborhood generator (slope 1.44 after).
DECADE2_QUERIES = [
    "jaccard_prefix_join",
    "containment_join",
    "edit_distance_pairs",
    "semantic_dedup",
    "substring_dedup",
    "winnowing_overlap",
    "record_linkage",
    "substring_dedup_chars",
    # iterative/graph family (VERDICT r10 #4: first-decade gates only
    # until r11). The tiled fixture preserves their linearity premises:
    # disjoint per-tile token maps keep the near-dup pair graph and the
    # distinct-word table scaling x10 with no cross-tile edges
    # (dup_graph_pagerank, bpe_merges); the Rademacher sign masks keep
    # intra-tile cosine structure bit-exact (kmeans_embeddings).
    # Failure mode gated here: per-iteration lineage/plan growth whose
    # constant is data-dependent — invisible at decade 1 where JVM
    # overhead pads the denominator.
    "dup_graph_pagerank",
    "kmeans_embeddings",
    "bpe_merges",
    # r11-new pair generators / retrieval ops (VERDICT r11 #4a, #9).
    # The media queries derive payloads from documents.text, so the
    # tiled documents fixture IS their 10x twin: exact-dup groups
    # replicate per tile (identical text -> identical dHash/energy
    # fingerprint), cross-tile texts differ everywhere. bm25_search /
    # hybrid_search_trio keep their fixed query set (tile-0 ids, whose
    # token postings don't grow — tile tokens are disjoint), so the
    # gate measures the corpus-side index build, the actual scale risk;
    # per-query join work is constant by design.
    "bm25_search",
    "hybrid_search_trio",
    "image_dhash_pairs",
    "audio_fingerprint_pairs",
    # the 64-bit twin is the dial the audio family actually runs at
    # corpus scale (X214 — 32 bits saturate near 10^4-5 clips)
    "audio_fingerprint_pairs64",
    # r12-new corpus-side ops: the tiled documents fixture multiplies
    # the gram/bigram-type vocabularies ~10x (disjoint per-tile token
    # maps), so a posting-list or distinct-shuffle blowup would show;
    # embedding_gram's (i,j) key set is FIXED at d(d+1)/2 — its gate
    # catches any accidental corpus-sized shuffle appearing in the
    # pair-explode pipeline
    "ngram_diversity",
    "kn_logprob",
    "embedding_gram",
    # sorted-neighborhood blocking (X227): cost is n·(window−1)
    # candidates by construction; the tiled customer fixture keeps
    # cross-tile names ≥2 edits apart so d≤1 pairs scale ~10x with no
    # cross-tile leakage
    "snm_pairs",
    # r13-new corpus-side ops: jpeg_pixel_stats is a map-only per-row
    # codec chain (encode+decode per doc — embarrassingly parallel);
    # gopher_ngram_repetition explodes ~9·len rows per doc into
    # doc-scoped hash aggregations (vocab growth can't concentrate
    # keys: every key carries doc_id)
    "jpeg_pixel_stats",
    "gopher_ngram_repetition",
    # r14-new corpus-side ops (refinedweb_line_correct and
    # c4_line_filter stay ungated: map-only per-row expressions with
    # no shuffle to blow up). The tiled fixture multiplies line /
    # char-prefixed-token / 3-gram type vocabularies ~10x while the
    # query-side plants replicate per tile, so df-driven join fan-out
    # and distinct-key shuffles would show
    "boilerplate_lines",
    "char_entropy",
    "ngram_novelty",
    "dsir_logweights",
    # cross-snapshot novelty doubles the gram build and adds the
    # ref-membership join (fan-out 1 per gram — ref side distinct);
    # MMR is k bounded scans of the pinned candidate frame + argmax
    # aggregates (driver state O(k·d))
    "ngram_novelty_vs_ref",
    "mmr_rerank",
    # the r14 late trio: fuzzy decontamination is corpus MinHash
    # signatures (linear) + a broadcast band join whose candidates
    # scale with the planted docs (~n/9); langid_segments explodes
    # paragraphs/grams into (doc, para, lang)-keyed aggregations over
    # a broadcast model (vocab saturates, grams ~n); quality_signals
    # is the sum of four already-linear families over one fixture
    "decontaminate_fuzzy",
    "langid_segments",
    "quality_signals",
    # DoReMi mixture reweighting: one corpus explode -> (source, token)
    # counts; everything downstream is vocab x sources, final frame
    # O(sources) — the tiled vocab grows the count frame ~10x
    "doremi_weights",
    # margin bitext mining: the fixture path is an explicit broadcast
    # cross (|A|x|B| pairs — grows ~100x across the decade if both
    # sides tile; .scale10 tiles embeddings ~10x so expect the pair
    # frame x100 but per-pair work constant; gate catches runaway)
    "margin_bitext_mine",
    # the r14 continuation sextet (unimax_mixture and filter_funnel
    # stay ungated: one map-only scan into O(sources)/O(rules)
    # aggregates — no shuffle to blow up). min_k_prob explodes the
    # corpus into bigram positions + a doc-partitioned rank;
    # token_budget_select rides the unigram-LM explode + the
    # range-partitioned running sum; hard_negative_mine is the
    # ann broadcast-cross (10 queries x corpus, pairs ~n);
    # matryoshka_error is one multi-cosine scan + k-row heaps
    "min_k_prob",
    "token_budget_select",
    "hard_negative_mine",
    "matryoshka_error",
    # PQ family (pq_codes / pq_reconstruction_error stay ungated:
    # map-only encode + a broadcast-join residual aggregate). The two
    # ADC rankers join the probe batch against the coded corpus
    # (pairs ~n for the flat scan, ~n·probe_frac for IVF-PQ) — gate
    # catches candidate-frame blowups
    "ann_topk_pq_adc",
    "ann_topk_ivf_pq",
]
# Bound recalibrated 4.0 → 5.0 in r15 WITH the floor it encodes: the
# slope is (f + 10c)/(f + c) for a LINEAR operator whose lo-side run
# is fixed-floor f + data work c. The 4.0 bound was calibrated when
# every query carried f ≈ 1 s of plan-build/scan-setup floor (a
# linear op with c ≈ 0.35 then measured ≈ 3.3); r15 removed much of
# that floor engine-wide (table-handle memo, _dlit literals, in-row
# rewrites — OPTIMIZATION_r15.md), so the SAME linear operators now
# measure ≈ 4.2-4.5 (snm_pairs: lo 1.22 = ~0.75 floor + 0.45 work →
# linear prediction 5.25, measured 5.07). 5.0 keeps the old headroom
# multiple over expected-linear (4.0/3.3 ≈ 5.0/4.4); a quadratic
# blowup still reads ≥ 8-10x and trips. Raw lo/hi seconds are
# recorded per query so any future floor shift can re-derive this.
DECADE2_GATES: dict[str, tuple[str, float]] = {
    f"slope10_{q}": ("max", 5.0) for q in DECADE2_QUERIES
}

# Analytic slope EXPECTATIONS per gated family (VERDICT r12 #7): the
# 4x/decade gate exists to flag super-linear blowups, but a near-gate
# reading is only interpretable against what the algorithm SHOULD
# scale like on this fixture. One line per family: expected band and
# why. "~1" = fixed-overhead dominated at fixture scale (JVM/plan
# setup pads the denominator); "~k" = genuine linear data growth with
# constant k reflecting how much of the wall is data-proportional.
# A reading far ABOVE its band — even if under 4.0 — is the early
# warning; a reading near 4.0 INSIDE its band is machinery constant,
# not an approaching quadratic. test_stat_gates pins note coverage.
EXPECTED_SLOPE_NOTES: dict[str, str] = {
    "jaccard_prefix_join": "~2-3: prefix postings grow ~linearly; rarest-first order keeps candidates ~n; shuffle+sort constants rise with decade",
    "containment_join": "~2-3: same prefix-filter family as jaccard_prefix_join; containment keeps slightly denser postings",
    "edit_distance_pairs": "~1-1.5: FastSS deletion neighborhoods, candidates ~n; small fixture, JVM overhead dominates",
    "semantic_dedup": "~1-1.5: KMeans cells confine the pair join; iterative fit cost amortizes across the decade",
    "substring_dedup": "~1: suffix-key dedup is scan-shaped; fixture too small for data cost to beat plan cost",
    "winnowing_overlap": "~2: df-capped winnowing keys, pairs ~n; explode CPU is the linear term",
    "record_linkage": "~2.5-3.5 CONSTANT-FACTOR: blocking keeps candidates ~n but the per-candidate verify (levenshtein) is the wall; near-gate readings here are machinery, watch for >3.6",
    "substring_dedup_chars": "~1: interval-merge rewrite made the shuffle O(occurrences); plan cost dominates",
    "dup_graph_pagerank": "~2-2.5: per-iteration jobs scale with edges ~n; localCheckpoint per round adds a fixed floor",
    "kmeans_embeddings": "~0.6-1.5: fit is iteration-bound, not corpus-bound, at fixture scale (can read <1 when the big run schedules better)",
    "bpe_merges": "~1-1.5: merge loop is vocab-bound; corpus pass linear",
    "bm25_search": "~1: fixed query set, postings per query-token constant by the disjoint-tile construction; measures index build only",
    "hybrid_search_trio": "~1: same fixed-query construction as bm25_search",
    "image_dhash_pairs": "~1.5-2: banded fingerprint join, pairs ~n by tile construction; decode CPU is the linear term",
    "audio_fingerprint_pairs": "~1.5: banded 32-bit fingerprint join; pair density preserved by tiling",
    "audio_fingerprint_pairs64": "~1.5: 64-bit twin, same join shape, lower collision floor",
    "ngram_diversity": "~1.5: explode + (source, n) agg; distinct-count grows with the tiled vocab",
    "kn_logprob": "~1.5: one corpus pass + vocab-sized type table; vocab grows ~10x by construction",
    "embedding_gram": "~1.5-2.5: Arrow GEMM partials since r13 (x2080 explode removed); wire fixed at partitions x d^2, kernel CPU ~n through PREALLOCATED scratch (this container faults fresh pages at ~20 MB/s — per-chunk temporaries dominated the flops 100x)",
    "snm_pairs": "~3-3.7 CONSTANT-FACTOR-LINEAR: candidates are strictly n*(window-1); the two-phase global rank (range partition + offsets + per-partition row_number) is small-fixture machinery whose constant rises with decade — NOT an approaching quadratic; watch only if >3.8",
    "jpeg_pixel_stats": "~1.5-2.5: per-row Python codec (encode+decode), embarrassingly parallel map-only chain; wall ~n once spread",
    "gopher_ngram_repetition": "~1.2-2.5: cascaded builders (strings only for n<=4, xxhash64 keys for n>=5) into doc-scoped hash aggs; every key carries doc_id so tiled vocab growth cannot concentrate keys",
    "boilerplate_lines": "~1.5-2.5: x-lines explode into a (line, doc)-keyed dedupe (hot lines spread by doc_id) then a map-side-combinable per-line count; plant lines replicate per tile so their df grows ~10x but the join-back fan-out stays = df rows; line types grow ~10x (tiled tokens)",
    "char_entropy": "~1.5-2.5: x-chars explode into (doc, char) counts; per-doc alphabet bounded, window and final agg doc-scoped — no global key; tiles add prefix chars but the per-doc distinct set stays small",
    "ngram_novelty": "~1.5-3: distinct 3-gram types grow ~10x with the tiled vocab (the df table is ~n rows); join-back fan-out per gram = its df, bounded by the disjoint-tile construction; in-row array_distinct keeps the dedupe out of the shuffle",
    "dsir_logweights": "~1.5-2.5: x(2-tokens) explode; the model is FIXED at 64 slots however the vocab grows (hash bucketing), broadcast back; per-doc slot counts are doc-scoped keys",
    "ngram_novelty_vs_ref": "~1.5-3: two gram builds + a membership join whose ref side is DISTINCT grams (fan-out 1 per gram); gram types grow ~10x with the tiled vocab",
    "mmr_rerank": "~1-1.5: k=3 bounded scans of the pinned candidate frame + one argmax each; candidate count grows ~10x but each round is one map+agg; driver state O(k*d)",
    "decontaminate_fuzzy": "~1-2: corpus signatures are one PINNED shingle pass + 16 affine folds per doc (linear; pin_lazy defeats filter/explode re-inlining, measured 4x); the band join is broadcast (2 probes) with candidates ~n/9 planted docs; anti-join digest-narrow",
    "langid_segments": "~1.5-2.5: paragraph+gram explode linear; broadcast NB model grows with the 3-gram type vocab (tiled chars push it ~up a decade early, then saturates); (doc, para, lang) agg keys are doc-scoped",
    "quality_signals": "~1.5-2.5: four linear families over one fixture (map-only screen, cascaded-hash repetition explode, byte explode, two-pass unigram LM) + three doc-keyed joins; unigram vocab join grows with tiled types",
    "doremi_weights": "~1-2: one token explode into map-side-combinable (source, token) counts; the loss join is vocab x sources rows (grows with tiled types), the weight update O(sources)",
    "margin_bitext_mine": "~1-2: fixed 100-query source batch (the bm25_search convention) x the tiled target corpus -> pair frame linear in corpus; the 100 TB all-vs-all path swaps the broadcast cross for ANN-bucket candidates, margin math unchanged",
    "min_k_prob": "~1.5-2.5: the kn_logprob family (one bigram explode, vocab-sized type table) + a DOC-partitioned rank window (keys carry doc_id — no global hotspot); vocab grows ~10x by construction",
    "token_budget_select": "~1.5-2.5: the unigram-LM explode (vocab join grows with tiled types) + a range-partitioned running sum whose window work is per-partition; O(partitions) offsets frame fixed",
    "hard_negative_mine": "~1-2: 10 fixed queries x tiled corpus broadcast cross -> pair frame linear in corpus; per-pair work constant (the ann_cosine_topk shape with a band filter)",
    "matryoshka_error": "~1-1.5: one multi-cosine scan against a broadcast 1-row query + TakeOrderedAndProject heaps (per-partition top-k, driver merge); energy agg map-side combinable",
    "ann_topk_pq_adc": "~1-2: bounded fits (16 small driver jobs, corpus-pass cost linear) + one map-only encode + 10-query broadcast cross with 8 lookup joins — pair frame linear in corpus",
    "ann_topk_ivf_pq": "~1-2: the pq_adc family plus the coarse fit and a cell equi-join that CONFINES candidates to ~n_probe/num_cells of the corpus — strictly less pair work than the flat ADC scan",
}
SCALE10_DIR = os.environ.get("SAFEDATA_SCALE10_DIR", "/root/repo/.scale10")

# Tighter bounds that hold at the per-round ARTIFACT scale (sf0.01,
# where sampling noise is small) but not at the suite's sf0.001
# recompute: applied only in main(). ivf_mrr >= 0.95 is VERDICT r9 #7
# (measured 1.0 at sf0.01 with 64 cells / 20 probes / 2-assign).
ARTIFACT_GATES: dict[str, tuple[str, float]] = {
    "ivf_mrr": ("min", 0.95),
}


def compute_slopes(
    spark, lo_dir: str = "/root/testdata/sf0.01", hi_dir: str = "/root/testdata/sf0.1"
) -> dict[str, float]:
    """Median-of-3 wall-clock at two scale factors -> ratio per query.

    Returns {} when either fixture directory is missing so the tool
    still runs on boxes that only carry one scale."""
    if not (os.path.isdir(lo_dir) and os.path.isdir(hi_dir)):
        return {}
    import statistics

    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    # one warm-up query so JVM/codegen startup doesn't land in the
    # first timed run (same discipline as bench.py)
    qs[SLOPE_QUERIES[0]](spark, lo_dir).count()
    for name in SLOPE_QUERIES:
        med = {}
        for tag, d in (("lo", lo_dir), ("hi", hi_dir)):
            ts = []
            for _ in range(3):
                t0 = time.monotonic()
                qs[name](spark, d).count()
                ts.append(time.monotonic() - t0)
            med[tag] = statistics.median(ts)
        out[f"t_sf0.01_{name}"] = round(med["lo"], 3)
        out[f"t_sf0.1_{name}"] = round(med["hi"], 3)
        out[f"slope_{name}"] = round(med["hi"] / max(med["lo"], 0.05), 3)
    return out


def compute_slopes_decade2(
    spark, lo_dir: str = "/root/testdata/sf0.1", hi_dir: str | None = None
) -> dict[str, float]:
    """sf0.1 -> sf1-equivalent wall-clock ratios for the pair-join
    families. Builds the synthetic fixture on first use (deterministic
    generator); returns {} when sf0.1 itself is absent."""
    hi_dir = hi_dir or SCALE10_DIR
    if not os.path.isdir(lo_dir):
        return {}
    if not os.path.isdir(hi_dir):
        from tools.make_scale10 import build

        build(spark, lo_dir, hi_dir)
    import statistics

    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    qs[DECADE2_QUERIES[0]](spark, lo_dir).count()
    for name in DECADE2_QUERIES:
        med = {}
        for tag, d in (("lo", lo_dir), ("hi", hi_dir)):
            ts = []
            for _ in range(2):
                t0 = time.monotonic()
                qs[name](spark, d).count()
                ts.append(time.monotonic() - t0)
            med[tag] = statistics.median(ts)
        out[f"t_sf0.1d2_{name}"] = round(med["lo"], 3)
        out[f"t_sf1eq_{name}"] = round(med["hi"], 3)
        out[f"slope10_{name}"] = round(med["hi"] / max(med["lo"], 0.05), 3)
    return out


def compute(spark, sf_dir: str) -> dict[str, float]:
    import pyspark.sql.functions as F

    import __spark_entry__ as entry

    from safedata_pipeline_spark.sources.tables import load_table

    qs = entry.queries()
    out: dict[str, float] = {}

    # -- model utility: accuracy/F1 drop original -> protected --------
    mu = {r["dataset"]: r for r in qs["model_utility"](spark, sf_dir).collect()}
    out["model_utility_acc_orig"] = float(mu["original"]["acc"])
    out["model_utility_acc_prot"] = float(mu["protected"]["acc"])
    out["model_utility_acc_drop"] = round(
        float(mu["original"]["acc"]) - float(mu["protected"]["acc"]), 6
    )
    out["model_utility_f1_drop"] = round(
        float(mu["original"]["f1"]) - float(mu["protected"]["f1"]), 6
    )

    # -- ANN recall@k + MRR vs the exact brute-force top-k ------------
    def ranked(df):
        by_q: dict = {}
        for r in df.collect():
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        return {q: [n for _, n in sorted(v)] for q, v in by_q.items()}

    exact_r = ranked(qs["ann_cosine_topk"](spark, sf_dir))
    exact = {(q, n) for q, ns in exact_r.items() for n in ns}
    for name, key in (
        ("ann_cosine_topk_lsh", "lsh"),
        ("ann_cosine_topk_ivf", "ivf"),
        # reduce-then-search: PCA-16 exact cosine vs full-dim exact —
        # gates the centering+truncation recall cost of the reduced
        # space (X223's ANN consumer)
        ("ann_cosine_topk_pca", "pca"),
    ):
        approx_r = ranked(qs[name](spark, sf_dir))
        approx = {(q, n) for q, ns in approx_r.items() for n in ns}
        out[f"{key}_recall_at_5"] = round(len(approx & exact) / max(len(exact), 1), 6)
        # MRR of the TRUE nearest neighbor inside the approx ranking:
        # recall treats all 5 slots equally; MRR catches an index that
        # still finds the neighbors but ranks the best one at the tail
        rrs = []
        for q, ns in exact_r.items():
            best = ns[0]
            al = approx_r.get(q, [])
            rrs.append(1.0 / (al.index(best) + 1) if best in al else 0.0)
        out[f"{key}_mrr"] = round(sum(rrs) / max(len(rrs), 1), 6)

    # -- HLL daily rollup vs exact distinct ---------------------------
    approx_daily = {
        r["day_start"]: int(r["n_users_approx"])
        for r in qs["hll_user_rollup"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact_daily = {
        r["day_start"]: int(r["n"])
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day_start")
        ).agg(F.count_distinct("user_id").alias("n")).collect()
    }
    errs = [
        abs(approx_daily.get(d, 0) - n) / n for d, n in exact_daily.items() if n > 0
    ]
    out["hll_mean_rel_err"] = round(sum(errs) / max(len(errs), 1), 6)

    # -- KMeans clustering quality: normalized inertia ----------------
    # mean squared distance to the assigned centroid, normalized by
    # the mean squared distance to the GLOBAL centroid (k=1 baseline):
    # < 1 means the clustering explains variance; a regression toward
    # 1 means the deterministic init/update broke.
    from safedata_pipeline_spark.operators import clustering as CL

    emb = load_table(spark, sf_dir, "embeddings")
    fit = qs["kmeans_embeddings"](spark, sf_dir).collect()
    k = 1 + max(r["cluster_id"] for r in fit)
    cents = [[0.0] * (len(fit) // k) for _ in range(k)]
    for r in fit:
        cents[r["cluster_id"]][r["dim"]] = r["value"]
    assigned = CL.kmeans_assign(emb, cents).withColumnRenamed("cluster_id", "c")
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "c int, cent array<double>"
    )
    sq = F.aggregate(
        F.zip_with("embedding", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    inertia = (
        emb.join(assigned, emb["vec_id"] == assigned["vec_id"])
        .join(F.broadcast(cent_df), "c")
        .agg(F.avg(sq).alias("v"))
        .collect()[0]["v"]
    )
    gmean = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    ).groupBy("dim").agg(F.avg("x").alias("m")).collect()
    gc = [0.0] * len(cents[0])
    for r in gmean:
        gc[r["dim"]] = float(r["m"])
    gc_df = spark.createDataFrame([(0, gc)], "c int, cent array<double>")
    base = (
        emb.withColumn("c", F.lit(0))
        .join(F.broadcast(gc_df), "c")
        .agg(F.avg(sq).alias("v"))
        .collect()[0]["v"]
    )
    out["kmeans_normalized_inertia"] = round(float(inertia) / float(base), 6)

    # -- BPE: compression vs character segmentation -------------------
    from safedata_pipeline_spark.operators import bpe as BPE

    docs = load_table(spark, sf_dir, "documents")
    # merge rules MUST apply in training order — sort by step explicitly
    # rather than relying on collect() happening to preserve it.
    rules = [
        (r["left"], r["right"])
        for r in sorted(qs["bpe_merges"](spark, sf_dir).collect(), key=lambda r: r["step"])
    ]
    seg = BPE.bpe_segment(docs, rules).agg(F.sum("n_bpe_tokens").alias("t")).collect()[0]["t"]
    chars = BPE.bpe_segment(docs, []).agg(F.sum("n_bpe_tokens").alias("t")).collect()[0]["t"]
    out["bpe_compression_ratio"] = round(float(seg) / float(chars), 6)

    # -- quality classifier: held-out discrimination ------------------
    # same planted clean-vs-degraded fixture and md5 train coin as the
    # query; AUC on the held-out half — the one number that says the
    # looks-like-reference filter still filters.
    from safedata_pipeline_spark.operators import quality_classifier as QC

    fixed = entry._clf_fixture(spark, sf_dir)
    labels = fixed.select("doc_id", "label")
    feats = QC.text_features(fixed)
    model = QC.classifier_fit(
        feats.join(fixed.where("is_train").select("doc_id"), "doc_id"), labels
    )
    out["classifier_heldout_auc"] = round(
        QC.classifier_auc(
            feats.join(fixed.where(~F.col("is_train")).select("doc_id"), "doc_id"),
            labels,
            model,
        ),
        6,
    )

    # -- trained language ID: held-out accuracy ------------------------
    # the query itself is oracle-backed (deterministic NB); this gate
    # additionally pins that the model DISCRIMINATES — an oracle match
    # on a degenerate always-'de' predictor would still hash green.
    lid = qs["lang_id_trained"](spark, sf_dir).where(~F.col("is_train"))
    agg = lid.agg(
        F.avg((F.col("lang_true") == F.col("lang_pred")).cast("double")).alias("acc")
    ).collect()[0]
    out["langid_heldout_acc"] = round(float(agg["acc"]), 6)

    # -- zlib compressibility: codec sanity gates -----------------------
    # the deflate ratio is rows-only (no SQL deflate exists). Raw
    # correlation with the entropy bound is confounded by doc length
    # (short docs pay deflate overhead AND measure lower order-0
    # entropy — measured r ≈ −0.63 on the fixture), so the gates pin
    # two sharp invariants of a working LZ codec instead:
    # (a) range — deflate never exceeds raw size by more than framing
    #     overhead on real docs;
    # (b) duplication response — doubling a doc's text (an exact
    #     repeat inside the 32 KB window) must barely grow its deflate
    #     size. A codec path that lost the LZ window (or hashes junk)
    #     fails (b) immediately; a ratio computed on the wrong bytes
    #     fails (a).
    # range check over docs long enough to amortize deflate framing
    # (~11 bytes of header/checksum — a 50-byte incompressible doc
    # legitimately lands at ratio ~1.2, which says nothing about the
    # codec path)
    zr = qs["zlib_ratio"](spark, sf_dir).where(F.col("n_bytes") >= 512)
    out["zlib_ratio_max"] = round(
        float(zr.agg(F.max("zlib_ratio").alias("m")).collect()[0]["m"] or 0.0), 6
    )
    from safedata_pipeline_spark.operators import compression as CMP

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") >= 64)
    single = {r["doc_id"]: r["zlib_len"] for r in CMP.zlib_signal(docs).collect()}
    doubled = {
        r["doc_id"]: r["zlib_len"]
        for r in CMP.zlib_signal(
            docs.select("doc_id", F.concat("text", "text").alias("text"))
        ).collect()
    }
    costs = [doubled[d] / single[d] for d in single if single[d] > 0]
    out["zlib_dup_cost"] = round(sum(costs) / len(costs), 6)
    return out


def check(
    stats: dict[str, float], gates: dict[str, tuple[str, float]] | None = None
) -> list[str]:
    """Gate violations ([] = all within bounds)."""
    problems = []
    for metric, (direction, bound) in (gates or GATES).items():
        v = stats.get(metric)
        if v is None:
            problems.append(f"{metric}: missing")
        elif direction == "min" and v < bound:
            problems.append(f"{metric}: {v} < required {bound}")
        elif direction == "max" and v > bound:
            problems.append(f"{metric}: {v} > allowed {bound}")
    return problems


def main() -> None:
    from safedata_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("stat-gates")
    spark.sparkContext.setLogLevel("ERROR")
    stats = compute(spark, sf_dir)
    slopes = compute_slopes(spark)
    stats.update(slopes)
    slopes2 = compute_slopes_decade2(spark)
    stats.update(slopes2)
    problems = check(stats)
    if sf_dir.rstrip("/").endswith("sf0.01"):
        problems += check(stats, ARTIFACT_GATES)
    if slopes:
        problems += check(slopes, SLOPE_GATES)
    if slopes2:
        problems += check(slopes2, DECADE2_GATES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    payload = {"sf_dir": sf_dir, "stats": stats, "violations": problems,
               "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}
    with open(os.path.join(root, "STATS_local.json"), "w") as f:
        f.write(json.dumps(payload) + "\n")
    with open(os.path.join(root, "STATS_history.jsonl"), "a") as f:
        f.write(json.dumps(payload) + "\n")
    print(json.dumps(payload))
    if problems:
        sys.exit(1)


if __name__ == "__main__":
    main()
