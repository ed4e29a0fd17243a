"""Corpus-curation pipeline — the LLM-training-data counterpart of
``SafedataPipeline`` (no reference equivalent; extension surface,
SURVEY §2.8): the standard web-corpus flow Quality filter → sub-
document dedup → near-dup clustering → canonical selection → sequence
packing, composed from the individual operators so a user runs one
object instead of wiring eight DataFrames.

Execution shape: each row-dropping step is computed ONCE. ``_keep``
pins the step's survivors lazily (``checkpoint.pin_lazy``) and its
funnel ``count()`` is the job that fills the pin, so the next step —
and any step that reads its input twice (a semi-join back, signatures
plus doc ids) — reads the pinned rows instead of re-running every
earlier step from the scan; the final packed corpus is one plan over
the last pin. ``normalize`` cannot drop rows: it carries the previous
count forward with no job and its map-only work folds into the next
step's pin. Stats collected to the driver are O(steps) scalars, never
rows.

Scale posture inherits from the operators: quality filtering is a
map-side CASE + one exact-or-approx quantile; dedup families avoid
all-pairs via banded LSH; packing avoids the global sort via md5
buckets. See SCALE.md.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from safedata_pipeline_spark.checkpoint import pin_lazy
from safedata_pipeline_spark.operators import compression as CMP
from safedata_pipeline_spark.operators import dedup as DD
from safedata_pipeline_spark.operators import pack as PK
from safedata_pipeline_spark.operators import sampling as SMP
from safedata_pipeline_spark.operators import text as TX


class CorpusPipeline:
    """Holds the curation state: the current surviving documents plus
    per-step row counts (the curation funnel)."""

    def __init__(self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
        self.df = df
        self.text_col = text_col
        self.id_col = id_col
        self.funnel: dict[str, int] = {"input": df.count()}
        self.results: dict[str, Any] = {}

    def _keep(self, step: str, df: DataFrame) -> "CorpusPipeline":
        """Make ``df`` the current corpus and record its funnel count.

        The survivors are pinned lazily and the count is the action that
        fills the pin: one job per step, after which later steps read
        the pinned rows and never re-run this step's plan. Unless a
        caller still holds it, the previous step's pin becomes
        unreachable once this one is filled and is released on GC."""
        self.df = df.transform(pin_lazy)
        self.funnel[step] = self.df.count()
        return self

    # -- step -1: HTML → text extraction --------------------------------
    def extract_html(
        self,
        html_col: str = "html",
        min_words: int = 3,
        max_link_density: float = 0.5,
    ) -> "CorpusPipeline":
        """Crawl entry point: the corpus starts as raw HTML, so this is
        the FIRST step of a web pipeline — tag strip + jusText-style
        line-density boilerplate drop (``text.extract_html_text``).
        Replaces ``html_col`` with the extracted ``text_col``; documents
        whose every line is boilerplate (empty extraction) drop."""
        out = TX.extract_html_text(
            self.df, html_col=html_col, id_col=self.id_col,
            text_col=self.text_col, min_words=min_words,
            max_link_density=max_link_density,
        ).drop("n_lines_kept", "n_lines_total")
        return self._keep("html_extract", out.where(F.col(self.text_col) != ""))

    # -- step -1b: domain blocklist (provenance-level filter) -----------
    def filter_domains(
        self,
        blocklist,
        url_col: str = "url",
        keep_unparseable: bool = True,
    ) -> "CorpusPipeline":
        """C4-style domain blocklist: drop documents whose REGISTERED
        domain (subdomains collapse to their registrable owner) is
        listed. Runs at provenance level, before any content scoring —
        the cheapest drop in the funnel. ``blocklist``: a small list
        (inlined ``isin``) or a ``domain``-column DataFrame (broadcast
        anti-join, the curated-blockset path)."""
        out = TX.filter_domains(
            self.df, blocklist, url_col=url_col, keep_unparseable=keep_unparseable
        )
        return self._keep("domain_filter", out)

    # -- step 0: canonicalize text -------------------------------------
    def normalize(
        self,
        lowercase: bool = True,
        collapse_whitespace: bool = True,
        strip_control: bool = True,
    ) -> "CorpusPipeline":
        """C4/CCNet-style canonicalization before any hashing — exact
        dedup on raw bytes misses case/whitespace variants. Row count
        is unchanged, so the previous count is carried forward into the
        funnel with no job and no pin: the next row-dropping step's pin
        absorbs this map-only rewrite."""
        self.df = TX.normalize_text(
            self.df, self.text_col, lowercase, collapse_whitespace, strip_control
        )
        self.funnel["normalize"] = next(reversed(self.funnel.values()))
        return self

    # -- step 1: quality filter ----------------------------------------
    def filter_quality(self, keep_fraction: float = 0.5) -> "CorpusPipeline":
        kept = TX.quality_filter(
            self.df, keep_fraction, self.text_col, self.id_col
        ).select(self.id_col)
        return self._keep(
            "quality", self.df.join(kept, on=self.id_col, how="left_semi")
        )

    # -- step 1b: Gopher-rule repetition filter ------------------------
    def filter_repetition(
        self,
        max_dup_word_fraction: float = 0.5,
        max_top_bigram_fraction: float = 0.5,
    ) -> "CorpusPipeline":
        """Drop documents exceeding the repetition thresholds (Gopher
        §A1.1-style rules). Docs too short to have the statistic (null
        fraction) are kept — absence of evidence is not repetition."""
        stats = TX.repetition_stats(self.df, self.text_col, self.id_col)
        keep = stats.where(
            (F.coalesce(F.col("dup_word_fraction"), F.lit(0.0)) <= max_dup_word_fraction)
            & (
                F.coalesce(F.col("top_bigram_fraction"), F.lit(0.0))
                <= max_top_bigram_fraction
            )
        ).select(self.id_col)
        return self._keep(
            "repetition", self.df.join(keep, on=self.id_col, how="left_semi")
        )

    # -- step 1c: LM-surprise filter (CCNet-style) ---------------------
    def filter_lm(
        self, max_avg_neg_logprob: float, model: str = "unigram"
    ) -> "CorpusPipeline":
        """Drop documents whose corpus-self LM surprise exceeds the
        threshold — the CCNet move (perplexity-filter against a LM;
        here the corpus's own unigram or bigram model). Docs too short
        to score (NULL) are kept: absence of evidence again."""
        if model == "unigram":
            scores = TX.unigram_logprob(self.df, self.text_col, self.id_col)
        elif model == "bigram":
            scores = TX.bigram_logprob(self.df, self.text_col, self.id_col)
        else:
            raise ValueError(f"model must be 'unigram' or 'bigram', got {model!r}")
        keep_ids = scores.where(
            F.coalesce(F.col("avg_neg_logprob"), F.lit(0.0)) <= max_avg_neg_logprob
        ).select(self.id_col)
        return self._keep(
            "lm_filter", self.df.join(keep_ids, on=self.id_col, how="left_semi")
        )

    # -- step 1c': trained quality classifier ---------------------------
    def filter_classifier(
        self,
        labels: DataFrame | None = None,
        model: dict | None = None,
        min_score: float = 0.5,
    ) -> "CorpusPipeline":
        """CCNet/FineWeb-style supervised corpus filter: keep documents
        the classifier scores ≥ ``min_score`` as looks-like-reference.
        Pass a fit artifact (``model``, from
        ``quality_classifier.classifier_fit``) to apply an existing
        classifier — the production shape: fit once on the labeled
        sample, apply map-only everywhere — or ``labels`` ((id, label))
        to fit on the current corpus first. The fitted artifact lands
        in ``results['classifier']`` for reuse on the next crawl."""
        from safedata_pipeline_spark.operators import quality_classifier as QC

        if (labels is None) == (model is None):
            raise ValueError("pass exactly one of labels= or model=")
        feats = QC.text_features(self.df, self.text_col, self.id_col)
        if model is None:
            model = QC.classifier_fit(feats, labels, id_col=self.id_col)
        self.results["classifier"] = model
        keep = (
            QC.classifier_score(feats, model, id_col=self.id_col)
            .where(F.col("clf_score") >= min_score)
            .select(self.id_col)
        )
        return self._keep(
            "classifier", self.df.join(keep, on=self.id_col, how="left_semi")
        )

    # -- step 1d: benchmark decontamination ----------------------------
    def decontaminate(
        self, probes: list[str], method: str = "substring", n: int = 3
    ) -> "CorpusPipeline":
        """Drop documents that leak eval-benchmark content — the most
        compliance-critical curation step: a model scored on a
        benchmark its training data contains is measuring recall, not
        ability. Delegates to ``text.decontaminate`` (``substring`` =
        verbatim map-only filter, ``ngram`` = shingle-overlap
        broadcast join, ``aho`` = Aho–Corasick Arrow pass for huge
        probe sets). Runs after the quality/LM filters (fewer docs to
        scan) and before dedup (a contaminated doc must never become a
        cluster's kept canonical)."""
        out = TX.decontaminate(
            self.df, probes, method=method, text_col=self.text_col,
            id_col=self.id_col, n=n,
        )
        return self._keep("decontaminated", out)

    def dedup_against(
        self, ref_docs: DataFrame, near: bool = False, threshold: float = 0.5
    ) -> "CorpusPipeline":
        """Incremental-ingestion entry point: drop every document
        whose content already exists in an accepted reference corpus
        (the survivors of a previous pipeline run) — "dedup this crawl
        drop against the corpus". ``near=False`` delegates to
        ``dedup.dedup_incremental`` (exact digest anti-join: only md5
        digests shuffle, runtime bloom filter / broadcast via AQE) and
        also collapses in-batch exact duplicates; ``near=True``
        delegates to ``dedup.dedup_incremental_near`` (banded-MinHash
        NEW × REF join at ``threshold``), leaving in-batch near-dups
        to the regular ``dedup_near`` step. Runs FIRST in an
        incremental pass — no point scoring or near-dedup'ing
        documents the corpus already holds."""
        if near:
            out = DD.dedup_incremental_near(
                self.df, ref_docs, text_col=self.text_col,
                id_col=self.id_col, threshold=threshold,
            )
            return self._keep("incremental_near_deduped", out)
        out = DD.dedup_incremental(
            self.df, ref_docs, text_col=self.text_col, id_col=self.id_col
        )
        return self._keep("incremental_deduped", out)

    # -- step 2: sub-document exact dedup ------------------------------
    def dedup_units(self, sep: str = "\n") -> "CorpusPipeline":
        rebuilt = DD.paragraph_dedup(self.df, self.text_col, self.id_col, sep)
        out = (
            self.df.drop(self.text_col)
            .join(rebuilt.select(self.id_col, "text_dedup", "n_kept"), on=self.id_col)
            .where(F.col("n_kept") > 0)
            .withColumnRenamed("text_dedup", self.text_col)
            .drop("n_kept")
        )
        return self._keep("unit_dedup", out)

    def dedup_substrings(self, k: int = 8) -> "CorpusPipeline":
        """Cross-document repeated-substring removal below the unit
        granularity (Lee et al. 2022 ExactSubstr lineage — the
        boilerplate pass real pretraining curation runs): every
        non-first occurrence of a duplicated k-word window is stripped
        from the running text; documents left empty are dropped.
        Sits between unit dedup (coarser: whole paragraphs) and
        near-dup clustering (coarser still: whole documents)."""
        cleaned = DD.substring_dedup(
            self.df, k=k, text_col=self.text_col, id_col=self.id_col
        )
        out = (
            self.df.drop(self.text_col)
            .join(
                cleaned.select(self.id_col, "clean_text", "n_removed", "n_words"),
                on=self.id_col,
            )
            .where(F.col("n_removed") < F.col("n_words"))
            .withColumnRenamed("clean_text", self.text_col)
            .drop("n_removed", "n_words")
        )
        return self._keep("substring_dedup", out)

    def dedup_substrings_chars(
        self, k: int = 40, snap: str = "word"
    ) -> "CorpusPipeline":
        """Character-granular ExactSubstr pass
        (`dedup.substring_dedup_chars`): repeats of ≥ k CHARS anywhere
        — including starts mid-word, invisible to the word-window pass
        — are stripped (word-snap removal by default). Intended
        staging: run `dedup_substrings` (cheaper word grid) first,
        this on the survivors. Documents left empty drop."""
        cleaned = DD.substring_dedup_chars(
            self.df, k=k, text_col=self.text_col, id_col=self.id_col, snap=snap
        )
        out = (
            self.df.drop(self.text_col)
            .join(
                cleaned.select(self.id_col, "clean_text", "n_marked_chars", "n_chars"),
                on=self.id_col,
            )
            .where(F.length("clean_text") > 0)
            .withColumnRenamed("clean_text", self.text_col)
            .drop("n_marked_chars", "n_chars")
        )
        return self._keep("substring_dedup_chars", out)

    def filter_compressibility(
        self,
        min_zlib_ratio: float = 0.1,
        max_zlib_ratio: float | None = None,
        min_entropy_bits: float | None = None,
    ) -> "CorpusPipeline":
        """Drop documents outside a compressibility band — the
        DataComp-LM/Dolma screen: deflate ratio far BELOW normal prose
        means template/repeated boilerplate (LZ77 collapses it); an
        optional order-0 entropy floor additionally catches
        single-symbol/degenerate alphabets the ratio alone can miss on
        short docs. One Arrow map pass (+ the entropy aggregate only
        when a floor is set); filters join back on the id."""
        z = CMP.zlib_signal(self.df, self.text_col, self.id_col)
        cond = F.col("zlib_ratio") >= min_zlib_ratio
        if max_zlib_ratio is not None:
            cond = cond & (F.col("zlib_ratio") <= max_zlib_ratio)
        keep = z.where(cond).select(self.id_col)
        out = self.df.join(keep, on=self.id_col, how="left_semi")
        if min_entropy_bits is not None:
            e = CMP.compression_entropy(out, self.text_col, self.id_col)
            keep_e = e.where(
                F.col("entropy_bits_per_byte") >= min_entropy_bits
            ).select(self.id_col)
            out = out.join(keep_e, on=self.id_col, how="left_semi")
        return self._keep("compressibility", out)

    def scrub_pii(
        self,
        max_pii_hits: int | None = None,
        redact: bool = True,
        drop_secrets: bool = True,
    ) -> "CorpusPipeline":
        """PII/credential hygiene as a funnel step: documents with more
        than ``max_pii_hits`` PII matches are QUARANTINED (dropped —
        a form-like page of emails/phones is not trainable prose), any
        document carrying credential material drops when
        ``drop_secrets`` (a model memorizes and replays live keys), and
        the survivors' residual PII is replaced with typed placeholders
        when ``redact``. Map-only regex passes + id semi-joins."""
        from safedata_pipeline_spark.operators import pii as PIIOPS

        out = self.df
        if max_pii_hits is not None:
            keep = (
                PIIOPS.pii_scan(out, self.text_col, self.id_col)
                .where(F.col("n_pii") <= max_pii_hits)
                .select(self.id_col)
            )
            out = out.join(keep, on=self.id_col, how="left_semi")
        if drop_secrets:
            clean = (
                PIIOPS.secrets_scan(out, self.text_col, self.id_col)
                .where(F.col("n_secrets") == 0)
                .select(self.id_col)
            )
            out = out.join(clean, on=self.id_col, how="left_semi")
        if redact:
            red = PIIOPS.pii_redact(out, self.text_col, self.id_col)
            out = out.drop(self.text_col).join(red, on=self.id_col)
        return self._keep("pii_scrub", out)

    def filter_language(
        self,
        labeled: DataFrame,
        keep_langs: list[str],
        min_margin: float | None = None,
        n: int = 3,
    ) -> "CorpusPipeline":
        """Language gate on the TRAINED char-n-gram NB model
        (`langid.langid_fit` on ``labeled`` (text, lang) rows →
        broadcast-model map-only apply): keep documents whose predicted
        language is in ``keep_langs``; with ``min_margin``, also drop
        low-confidence/code-switched docs (top-vs-runner-up score gap
        below the threshold). The model artifact lands in
        ``results['langid_model']`` for reuse on the next crawl."""
        from safedata_pipeline_spark.checkpoint import pin_lazy
        from safedata_pipeline_spark.operators import langid as LI

        model = LI.langid_fit(labeled, self.text_col, n=n).transform(pin_lazy)
        self.results["langid_model"] = model
        if min_margin is not None:
            scored = LI.langid_margin(self.df, model, self.text_col, self.id_col, n)
            keep = scored.where(
                F.col("lang_pred").isin(keep_langs) & (F.col("margin") >= min_margin)
            ).select(self.id_col)
        else:
            scored = LI.langid_score(self.df, model, self.text_col, self.id_col, n)
            keep = scored.where(F.col("lang_pred").isin(keep_langs)).select(self.id_col)
        return self._keep(
            "language", self.df.join(keep, on=self.id_col, how="left_semi")
        )

    def dedup_contained(self, n: int = 3, threshold: float = 0.9) -> "CorpusPipeline":
        """Drop documents CONTAINED in another document (shingle
        containment ≥ threshold, `dedup.containment_prefix_join`) —
        the quote/subset duplication symmetric Jaccard misses: a press
        release pasted wholesale into a longer article keeps only the
        container. The contained side of every qualifying pair
        (id_a) is removed via one broadcast-able anti-join; mutual
        containment (near-equal sets, both directions present) keeps
        the LOWER id so near-equal groups never annihilate."""
        pairs = DD.containment_prefix_join(
            self.df, self.text_col, self.id_col, n=n, threshold=threshold
        )
        a, b = F.col("id_a"), F.col("id_b")
        mutual = pairs.alias("p").join(
            pairs.select(a.alias("rb"), b.alias("ra")).alias("q"),
            (F.col("p.id_a") == F.col("ra")) & (F.col("p.id_b") == F.col("rb")),
            "left_semi",
        )
        non_mutual = pairs.join(mutual.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        drop = (
            non_mutual.select(F.col("id_a").alias(self.id_col))
            .union(mutual.where(a > b).select(a.alias(self.id_col)))
            .distinct()
        )
        out = self.df.join(drop, on=self.id_col, how="left_anti")
        return self._keep("containment_dedup", out)

    def filter_readability(
        self, min_flesch: float | None = 0.0, max_flesch: float | None = None
    ) -> "CorpusPipeline":
        """Drop documents outside a Flesch reading-ease band
        (`text.readability_scores`): very negative scores are
        machine-garbled run-ons, implausibly high ones are filler.
        Map-only join on the id; empty docs (NULL flesch) drop."""
        r = TX.readability_scores(self.df, self.text_col, self.id_col)
        cond = F.col("flesch").isNotNull()
        if min_flesch is not None:
            cond = cond & (F.col("flesch") >= min_flesch)
        if max_flesch is not None:
            cond = cond & (F.col("flesch") <= max_flesch)
        keep = r.where(cond).select(self.id_col)
        return self._keep("readability", self.df.join(keep, on=self.id_col, how="left_semi"))

    # -- step 3: near-dup clusters, keep canonical ---------------------
    def dedup_near(
        self,
        num_hashes: int = 16,
        bands: int = 4,
        n: int = 3,
        threshold: float = 0.5,
        keep: str = "min_id",
    ) -> "CorpusPipeline":
        """Banded MinHash LSH pairs → connected components → keep one
        document per cluster: the canonical min-id doc (``keep=
        "min_id"``) or the highest-quality one (``keep="best"`` — the
        curation-grade choice: duplicates usually differ by truncation
        or boilerplate, so keep the best copy, not an arbitrary one)."""
        if keep not in ("min_id", "best"):
            raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
        pairs = DD.minhash_lsh_pairs(
            self.df, self.text_col, self.id_col, num_hashes=num_hashes, bands=bands, n=n,
            threshold=threshold,
        )
        if keep == "best":
            quality = TX.quality_score(self.df, self.text_col, self.id_col).select(
                self.id_col, "quality"
            )
            labels = DD.dedup_components_best(
                self.df, pairs, quality, id_col=self.id_col
            )
            keep_df = labels.where(F.col("is_kept")).select(F.col(self.id_col))
            out = self._keep(
                "near_dedup", self.df.join(keep_df, on=self.id_col, how="left_semi")
            )
            self.results["n_clusters"] = self.funnel["near_dedup"]
            return out
        labels = DD.dedup_components(self.df, pairs, id_col=self.id_col)
        keep_df = labels.where(F.col("is_canonical")).select(F.col(self.id_col))
        out = self._keep(
            "near_dedup", self.df.join(keep_df, on=self.id_col, how="left_semi")
        )
        # one canonical doc per component, so cluster count == kept
        # count — no extra distinct+count job over the label frame
        self.results["n_clusters"] = self.funnel["near_dedup"]
        return out

    # -- step 3a': semantic (embedding-cluster) dedup -------------------
    def dedup_semantic(
        self,
        embeddings: DataFrame,
        vec_id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 8,
        iterations: int = 3,
        threshold: float = 0.9,
        keep: str = "min_id",
        cell_cap: int | None = None,
    ) -> "CorpusPipeline":
        """SemDeDup-style semantic dedup (Abbas et al. 2023): KMeans
        cells confine the cosine pair join, connected components pick
        one doc per semantic cluster — the canonical min-id doc
        (``keep="min_id"``) or the highest-quality member
        (``keep="best"``, scored on the pipeline's own text — the
        curation-grade choice, mirroring ``dedup_near``). ``embeddings``
        maps the pipeline's doc ids (``vec_id_col``) to vectors;
        documents WITHOUT an embedding pass through untouched (absence
        of evidence). Complements ``dedup_near`` (lexical MinHash):
        near-paraphrases share embeddings but not shingles.

        Clustering runs on the embeddings of docs STILL IN the
        pipeline (semi-join first): embeddings are naturally computed
        on the raw corpus, and electing a canonical member that an
        earlier step already dropped would anti-join away every
        surviving copy of that content. ``cell_cap`` forwards to the
        ``semantic_pairs`` skew guard."""
        if keep not in ("min_id", "best"):
            raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
        live = embeddings.join(
            self.df.select(F.col(self.id_col).alias("__live_id")).dropDuplicates(),
            on=F.col(vec_id_col) == F.col("__live_id"),
            how="left_semi",
        )
        pairs = DD.semantic_pairs(
            live, id_col=vec_id_col, vec_col=vec_col, k=k,
            iterations=iterations, threshold=threshold, cell_cap=cell_cap,
        ).withColumnRenamed("cluster_id", "__cell")
        ids = live.select(F.col(vec_id_col).alias(self.id_col))
        if keep == "best":
            quality = TX.quality_score(self.df, self.text_col, self.id_col).select(
                self.id_col, "quality"
            )
            pr = pairs.select(
                F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
            )
            labels = DD.dedup_components_best(ids, pr, quality, id_col=self.id_col)
            drop = labels.where(~F.col("is_kept")).select(self.id_col)
        else:
            labels = DD.dedup_components(ids, pairs, id_col=self.id_col)
            drop = labels.where(~F.col("is_canonical")).select(self.id_col)
        return self._keep(
            "semantic_dedup", self.df.join(drop, on=self.id_col, how="left_anti")
        )

    # -- step 3b: source-mixture reshaping -----------------------------
    def mix_sources(
        self, shares: dict[str, float], source_col: str = "source"
    ) -> "CorpusPipeline":
        """Reshape the surviving corpus to a target per-source mixture
        (DoReMi/Pile-style domain reweighting) — the step a pretraining
        run applies right after dedup, before packing. Rates are fit on
        the CURRENT survivors (so earlier quality/dedup drops are
        already priced in) and applied as the md5-deterministic
        Bernoulli of ``source_mixture_sample``: map-side CASE + filter,
        no shuffle. The fitted per-source keep rates land in
        ``results['mixture_rates']`` for reuse on a holdout."""
        rates = SMP.mixture_rates(self.df, shares, source_col)
        self.results["mixture_rates"] = rates
        out = SMP.source_mixture_sample(
            self.df, shares, source_col, self.id_col, rates=rates
        )
        return self._keep("mixture", out)

    # -- step 4: pack into training windows ----------------------------
    def pack(
        self, budget: int = 2048, buckets: int = 64, materialize: str = "assignment"
    ) -> DataFrame:
        """``materialize="assignment"`` returns one row per document
        (which window its first token lands in — ``pack_sequences``);
        ``materialize="windows"`` returns the exploded per-(doc,
        window) token slices a training loader consumes
        (``pack_windows``)."""
        if materialize == "assignment":
            packed = PK.pack_sequences(
                self.df, budget=budget, buckets=buckets, text_col=self.text_col,
                id_col=self.id_col,
            )
        elif materialize == "windows":
            packed = PK.pack_windows(
                self.df, budget=budget, buckets=buckets, text_col=self.text_col,
                id_col=self.id_col,
            )
        else:
            raise ValueError(
                f"materialize must be 'assignment' or 'windows', got {materialize!r}"
            )
        self.results["packed"] = packed
        return packed

    # -- quality gate ---------------------------------------------------
    def gate(self, rules: list[dict], on_fail: str = "raise") -> "CorpusPipeline":
        """Evaluate a declarative data-quality suite
        (``quality_rules.check_rules``) on the CURRENT surviving corpus
        — the CI assertion between curation steps. ``on_fail``:
        ``"raise"`` aborts the run on any failing rule (listing them),
        ``"record"`` stores the verdict table in ``results`` and
        continues. One aggregate pass; verdicts are O(rules) rows."""
        from safedata_pipeline_spark.operators import quality_rules as QR

        if on_fail not in ("raise", "record"):
            raise ValueError(f"on_fail must be 'raise' or 'record', got {on_fail!r}")
        verdicts = QR.check_rules(self.df, rules).collect()
        self.results.setdefault("gates", []).append(verdicts)
        failed = [r["rule"] for r in verdicts if not r["passed"]]
        if failed and on_fail == "raise":
            raise ValueError(f"corpus quality gate failed: {failed}")
        return self

    # -- diagnostics ----------------------------------------------------
    def stats(self, group_col: str = "source") -> DataFrame:
        return TX.corpus_stats(self.df, group_col, text_col=self.text_col)

    def funnel_report(self) -> dict[str, int]:
        """Document counts surviving each step, in execution order."""
        return dict(self.funnel)


def quality_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Combined per-document quality-signal table — the RedPajama /
    Dolma pattern (both publish per-doc signal tables computed in one
    sweep, thresholds tuned AFTERWARDS): every signal family the
    threshold-tuning loop reads, side by side in one row per document,
    instead of four separate queries a grid search would re-run per
    candidate threshold.

    One row per input document: the Gopher format/repetition screen
    (``gopher_quality_filters`` — word/line counts, duplicate-line /
    bullet / ellipsis / symbol fractions, stopword types, the pass
    verdict as ``gopher_passes``), the Gopher n-gram repetition family
    (``gopher_ngram_repetition`` pivoted wide: ``top_{2,3,4}gram_frac``,
    ``dup_{5..10}gram_frac`` — NULL where the document is shorter than
    n words, matching the long form's row contract), the order-0
    compressibility bound (``entropy_bits_per_byte``, ``ideal_ratio``)
    and the corpus-self LM score (``n_tokens``,
    ``unigram_neg_logprob`` — NULL for token-less docs).

    Shape at 100 TB: each family keeps its OWN optimal plan (the
    map-only screen, the cascaded-hash explode, the byte explode, the
    two-pass corpus LM) over a shared column-pruned (id, text) scan —
    a parquet re-scan of two columns is cheaper than materializing the
    corpus to fuse four structurally different plans. The final
    assembly is three LEFT JOINs on the document key every family
    already aggregated by (no new shuffle axis; AQE coalesces), and
    the Gopher screen's all-docs row set anchors the join so no family
    can drop a row.
    """
    g = TX.gopher_quality_filters(df, text_col, id_col).withColumnRenamed(
        "passes", "gopher_passes"
    )
    rep = TX.gopher_ngram_repetition(df, text_col, id_col)
    piv = [
        F.max(
            F.when(
                (F.col("n") == n_) & (F.col("kind") == kind), F.col("char_frac")
            )
        ).alias(f"{kind}_{n_}gram_frac")
        for kind, ns in (("top", TX.GOPHER_TOP_NS), ("dup", TX.GOPHER_DUP_NS))
        for n_ in ns
    ]
    rp = rep.groupBy(id_col).agg(*piv)
    ce = CMP.compression_entropy(df, text_col, id_col).select(
        id_col, "entropy_bits_per_byte", "ideal_ratio"
    )
    ul = TX.unigram_logprob(df, text_col, id_col).select(
        id_col,
        "n_tokens",
        F.col("avg_neg_logprob").alias("unigram_neg_logprob"),
    )
    return (
        g.join(rp, id_col, "left").join(ce, id_col, "left").join(ul, id_col, "left")
    )


def filter_funnel(
    df: DataFrame, min_words: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-rule WATERFALL attribution — the funnel table every
    published curation pipeline reports (Dolma's and FineWeb's data
    sheets both publish "docs removed per rule, applied in order"):
    for a fixed, ordered rule list, how many documents fail each rule
    at all (marginal), how many are REMOVED BY it (first-fail
    attribution — a doc failing rules 2 and 4 is charged to rule 2
    only), and how many survive after each stage. The distinction
    matters for tuning: a rule with high marginal overlap but zero
    first-fail attribution is redundant and can be dropped without
    changing the corpus.

    Rules, in application order (each an EXACT-INTEGER predicate —
    never a float ratio; the repo-wide cross-multiplication
    discipline), over the whitespace tokens of ``lower(text)``:

      1. ``too_short``    — fewer than ``min_words`` words
      2. ``word_length``  — mean word length outside [3, 10]:
                            NOT (3·n ≤ chars ∧ chars ≤ 10·n), chars =
                            Σ word lengths (whitespace never counted)
      3. ``low_alpha``    — alphabetic-only words below 80 %:
                            5·n_alpha < 4·n
      4. ``digit_heavy``  — digit characters above 20 % of word chars:
                            5·n_digit > chars

    Shape: ONE map-only corpus scan computes the four flags and the
    first-fail index per document; a single global aggregate (nine
    map-side-combinable integer sums) collapses to one row, which
    explodes into the O(rules) output — the corpus never shuffles.
    Output: (rule_idx, rule, n_fail, n_first_fail, survivors_after),
    ordered by rule_idx; ``survivors_after`` of the last row is the
    corpus the pipeline keeps.
    """
    if min_words <= 0:
        raise ValueError("min_words must be positive")
    # NULL text coalesces to '' (the C4/X232 contract fix): a NULL row
    # must count as too_short, not fall through every NULL predicate
    txt = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    tk = TX._ws_tokens(txt)
    n = F.size(tk)
    chars = F.aggregate(
        TX._ws_tokens(txt),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.length(w),
    )
    alpha = F.size(F.filter(tk, lambda w: w.rlike("^[a-z]+$")))
    digits = F.aggregate(
        TX._ws_tokens(txt),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + (F.length(w) - F.length(F.regexp_replace(w, "[0-9]", ""))),
    )
    staged = df.select(
        (n < min_words).alias("f1"),
        (~((F.lit(3) * n <= chars) & (chars <= F.lit(10) * n))).alias("f2"),
        (F.lit(5) * alpha < F.lit(4) * n).alias("f3"),
        (F.lit(5) * digits > chars).alias("f4"),
    )
    first = (
        F.when(F.col("f1"), 1)
        .when(F.col("f2"), 2)
        .when(F.col("f3"), 3)
        .when(F.col("f4"), 4)
        .otherwise(0)
    )
    flags = staged.withColumn("ff", first)
    one = flags.agg(
        F.count(F.lit(1)).alias("N"),
        *[
            F.sum(F.col(f"f{i}").cast("bigint")).alias(f"nf{i}")
            for i in (1, 2, 3, 4)
        ],
        *[
            F.sum((F.col("ff") == i).cast("bigint")).alias(f"ffa{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    names = ["too_short", "word_length", "low_alpha", "digit_heavy"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("rule_idx"),
                F.lit(names[i]).alias("rule"),
                F.col(f"nf{i + 1}").alias("n_fail"),
                F.col(f"ffa{i + 1}").alias("n_first_fail"),
                (
                    F.col("N")
                    - sum(
                        (F.col(f"ffa{j}") for j in range(1, i + 2)),
                        F.lit(0).cast("bigint"),
                    )
                ).alias("survivors_after"),
            )
            for i in range(4)
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select(
            F.col("r.rule_idx").cast("int").alias("rule_idx"),
            F.col("r.rule").alias("rule"),
            F.col("r.n_fail").cast("bigint").alias("n_fail"),
            F.col("r.n_first_fail").cast("bigint").alias("n_first_fail"),
            F.col("r.survivors_after").cast("bigint").alias("survivors_after"),
        )
    )
