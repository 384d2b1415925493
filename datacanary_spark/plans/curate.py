"""End-to-end corpus curation: quality filter → dedup → mixing.

The full training-data pipeline composed from the engine's tiers:

    pages ─ filter_pages (heuristics + langid + perplexity + scrub)
          ─ keep==true, text := scrubbed_text
          ─ Gopher char-weighted repetition filter (optional)
          ─ exact dedup (content hash, min-url survivor)
          ─ transitive near-dup cluster dedup (MinHash-LSH pairs →
            connected components, one survivor per cluster; optional)
          ─ line-level corpus dedup (C4-style, optional)
          ─ repeated-span removal (ExactSubstr-style k-token windows,
            optional)
          ─ per-host document cap (anti-spam, optional)
          ─ benchmark decontamination (optional)
          ─ DSIR importance selection vs a target domain (optional)
          ─ deterministic stratified mix by predicted language (optional)
          ─ final corpus parquet + stage-count lineage JSON

Every stage is one of the already-tested operators; this module only
composes them and accounts for what each stage removed (the per-stage
counts are the corpus-level lineage a 100-TB curation run reports).
No Spark job is spent on that accounting when stages are checkpointed:
each count is an observation that the stage's own pin job reports
(``_StageCounts``), and ``final_docs`` — which the sample counts equal
— is the sum of the ``by_lang`` table.
Determinism: every stage is a pure function of content (hashes, min-id
survivors, hash-threshold sampling), so re-running the job on the same
input reproduces the identical corpus on any cluster size.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datacanary_spark.functions.heuristics import FilterConfig
from datacanary_spark.operators.corpus_stats import hash_stratified_sample
from datacanary_spark.operators.dedup import (
    decontaminate,
    dedup_exact,
    dedup_lines,
)
from datacanary_spark.plans.pipeline import broadcast_models, filter_pages
from datacanary_spark.plans.caching import CacheScope
from datacanary_spark.sources.io import read_table, write_text

# Canonical execution order of every doc-count lineage key a curation
# run can record (r05, VERDICT r04 §next.8).  ``stage_lineage`` in the
# summary is derived from this order: each enabled stage gets one
# {stage, docs_in, docs_out, dropped} row whose docs_in is the previous
# stage's docs_out, so the whole table sums consistently by
# construction and a missing row means the stage ran without
# accounting.  ``normalized_docs`` is a changed-doc count (not a doc
# count) and is deliberately absent; ``upsampled_rows`` GROWS the
# corpus, so its dropped is negative by design (replication, not loss).
STAGE_COUNT_ORDER = (
    "after_blocklist", "after_url_patterns", "after_robots", "kept",
    "after_classifier", "after_repetition_filter", "after_code_filter",
    "after_compression_filter", "after_badwords", "after_c4_clean",
    "after_exact_dedup", "after_near_dup_clusters", "after_line_dedup",
    "after_span_dedup", "after_host_cap", "after_decontamination",
    "after_dsir", "sampled", "upsampled_rows",
)


def curate_front(verdicts: DataFrame, extra: list[str] = ()) -> DataFrame:
    """Curate's kept frame: url, scrubbed text as ``text``, ``extra``.

    An observation sits BEFORE the ``keep`` filter as an optimizer
    barrier: Catalyst does not push a predicate through
    ``CollectMetrics``. Without it Catalyst pushes ``keep`` down
    through ``filter_pages``' staged projects, inlining every heuristic
    stat into a non-codegen Filter (which rebuilds ``split(text)`` per
    consumer) and splitting the UDFs over two Python boundaries:
    perplexity + langid over every doc, then scrub + langid again over
    the kept ones. With it the front is the staged projects, ONE
    ArrowEvalPython evaluating langid, perplexity and scrub once each,
    then a codegen'd ``keep`` filter.
    """
    return (verdicts.observe(f"curate_front_{uuid.uuid4().hex}",
                             F.count_if("keep").alias("kept"))
            .where(F.col("keep"))
            .select("url", F.col("scrubbed_text").alias("text"), *extra))


class _StageCounts:
    """Stage pins plus the doc counts curate's lineage records.

    ``checkpoint``: a count is a named ``DataFrame.observe`` on the
    frame, read from the QueryExecution of the eager
    ``localCheckpoint`` that runs it — no Spark job is spent on
    counting. ``persist`` is lazy, so a pin keeps its one ``count()``
    (the action that materializes it), and an unpinned frame is
    counted by an action too. Named observations, not ``Observation``
    objects: in Spark 4.1 an ``Observation`` makes the session's
    ObservationManager part of the serialized SparkSession, so a later
    MLlib model whose training summary holds the session can no longer
    be shipped to executors.
    """

    def __init__(self, scope: CacheScope, checkpoint: bool):
        self._scope, self.checkpoint = scope, checkpoint
        self._taken: dict[str, int] = {}
        # key -> (metric name, frame to count if no pin job reported it)
        self._pending: dict[str, tuple[str, DataFrame]] = {}

    def pin(self, df: DataFrame) -> DataFrame:
        if not self.checkpoint:
            return self._scope.persist(df)
        out = self._scope.checkpoint(df)
        metrics = df._jdf.queryExecution().observedMetrics()
        for key, (name, _) in list(self._pending.items()):
            row = metrics.get(name)
            if row.isDefined():
                self._taken[key] = row.get().getLong(0)
                del self._pending[key]
        return out

    def count(self, key: str, df: DataFrame,
              where: Column | None = None) -> DataFrame:
        """Count ``df``'s rows (matching ``where``) under ``key``:
        observed in checkpoint mode, where the next pin's job reports
        it; one ``count()`` in persist mode."""
        if not self.checkpoint:
            self._taken[key] = (df if where is None
                                else df.where(where)).count()
            return df
        name = f"{key}_{uuid.uuid4().hex}"
        self._pending[key] = (name, df if where is None else df.where(where))
        n = F.count(F.lit(1)) if where is None else F.count_if(where)
        return df.observe(name, n)

    def pin_count(self, key: str, df: DataFrame,
                  where: Column | None = None) -> DataFrame:
        """Pin ``df`` and count its rows (matching ``where``) under ``key``."""
        if self.checkpoint:
            return self.pin(self.count(key, df, where))
        df = self.pin(df)
        self.count(key, df, where)
        return df

    def resolve(self) -> dict[str, int]:
        """Every count; call after the last pin. The optimizer drops a
        CollectMetrics under a provably empty ancestor (e.g. a URL
        pattern that matches everything), so its pin reports nothing:
        only those frames are counted with a job."""
        for key, (_, df) in self._pending.items():
            self._taken[key] = df.count()
        self._pending.clear()
        return self._taken


def run_curation_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: FilterConfig | None = None,
    models=None,
    fractions: dict[str, float] | None = None,
    strata_col: str = "lang_pred",
    key_col: str = "url",
    line_dedup: bool = True,
    line_dedup_unit: str = "line",
    blocklist: list[str] | str | None = None,
    block_url_patterns: list[str] | None = None,
    robots_table: str | None = None,
    robots_agent: str = "*",
    normalize_unicode: str | None = None,
    fix_encoding: bool = False,
    near_dup_threshold: float | None = None,
    near_dup_keep: str = "min-id",
    span_dedup_k: int | None = None,
    span_min_count: int = 2,
    extract_from_html: bool = False,
    input_format: str = "parquet",
    extractor: str = "wrapper",
    http_ok_only: bool = True,
    decontaminate_path: str | None = None,
    decontaminate_mode: str = "winnow",
    host_cap: int | None = None,
    classifier_model: str | None = None,
    classifier_threshold: float = 0.5,
    classifier_keep_fraction: float | None = None,
    gopher_repetition: bool = False,
    repetition_cfg=None,
    max_code_line_fraction: float | None = None,
    min_compression_ratio: float | None = None,
    badwords: list[str] | str | None = None,
    badword_max_fraction: float | None = None,
    c4_clean: bool = False,
    c4_min_line_words: int = 3,
    c4_require_terminal: bool = True,
    dsir_target_path: str | None = None,
    dsir_keep_fraction: float = 0.5,
    temperature: float | None = None,
    temperature_weight_col: str | None = None,
    epoch_weights: dict[str, float] | None = None,
    stage_pin: str = "auto",
) -> dict:
    """Run the composed curation pipeline; returns stage-count summary.

    ``fractions`` (e.g. ``{"en": 1.0, "de": 0.5}``) enables the mixing
    stage; strata not listed are dropped (default_fraction=0). Without
    it every surviving doc is kept. ``decontaminate_path`` points at a
    benchmark/test-set table with a ``text`` column; overlapping corpus
    docs are removed (``decontaminate_mode``: "exact", "winnow",
    "bloom" — exact semantics behind a broadcast Bloom prefilter, the
    no-corpus-shuffle path for 10^9-fingerprint references — "ngrams"
    — the exhaustive GPT-3 13-gram overlap rule via a broadcast
    gram-set probe join — or "minhash" — the fuzzy tier: MinHash/LSH
    near-duplicates of a reference item drop too, catching reflowed or
    lightly-edited benchmark copies; operators/dedup.py).
    ``blocklist`` (a domain list, or a path to a table with a
    ``domain`` column) drops docs whose url host or any parent domain
    is listed, BEFORE any content processing — the UT1-style
    origin-level filter. ``block_url_patterns`` (a list of regexes)
    drops docs whose url matches any pattern at the same early point —
    the path/query component of those lists, a pure column predicate.
    ``robots_table`` (a ``(host, robots_txt)`` table — the robots.txt
    each host served at crawl time) enforces RFC 9309 crawl policy for
    ``robots_agent`` at the same URL-level tier: rules compile once on
    the host-count table and broadcast; disallowed paths drop before
    any content work (operators/robots.py).
    ``normalize_unicode`` ("NFC"/"NFKC") and ``fix_encoding`` (ftfy-lite
    mojibake repair, runs before composition) canonicalize the text
    column ahead of the filter, so heuristics, fingerprints, and every
    dedup stage see composed, correctly-decoded text — two
    byte-different spellings of one page collapse. Incompatible with
    ``extract_from_html`` (there the text is born inside the filter
    stage; extraction output normalization is the extractor's
    whitespace policy). ``input_format`` ``"jsonl"`` curates from
    published-corpus dumps (one JSON object per line, gzip per file —
    `sources/io.read_pages_jsonl`); ``"warc"``/``"wet"`` curates
    straight from crawl containers (``pages_from_warc``; pair warc with
    ``extract_from_html=True, extractor="real"``); ``http_ok_only``
    drops non-2xx response bodies at the source, as in the filter job. ``c4_clean`` enables C4's line-quality pass
    (short / unpunctuated / javascript lines removed per doc;
    lorem-ipsum and brace docs dropped whole) before dedup so
    boilerplate lines never reach a fingerprint; set
    ``c4_require_terminal=False`` for corpora whose prose is not
    sentence-punctuated.
    ``host_cap`` keeps at most N docs per url host (deterministic hash
    order — the C4/Gopher anti-spam step), applied after dedup so caps
    count unique content, before mixing so fractions see the capped
    corpus. ``classifier_model`` points at a JSON coefficient bundle
    (``plans.classifier.save_classifier``); docs scoring below
    ``classifier_threshold`` are dropped right after the heuristic
    filter — the DCLM-style learned-quality stage. Scoring is a pure
    Column projection (sigmoid of plan-literal weights): no UDF, no
    shuffle, so it adds a narrow stage even at 10^12 docs.
    ``badwords`` (a word list, or a path to a table with a ``word``
    column) drops docs by the C4 dirty-word-list rule — strict any-hit
    by default, or the density rule when ``badword_max_fraction`` is
    set — after the heuristic/classifier stages and before any dedup
    shuffle. ``gopher_repetition`` drops docs violating any Gopher table-A1
    char-weighted repetition threshold (``repetition_cfg`` overrides
    the thresholds) — pure narrow expressions, applied after the
    classifier so lineage separates heuristic / learned / repetition
    losses. ``dsir_target_path`` points at a target-domain table with
    a ``text`` column: a DSIR hashed-bigram importance model is
    trained (target vs the currently-kept corpus) and only the top
    ``dsir_keep_fraction`` of docs by importance weight survive —
    the data-selection stage, applied after dedup/cap so weights are
    fit on unique content, before mixing so fractions see the
    selected corpus. ``near_dup_threshold`` enables transitive near-dup dedup right
    after the exact stage: MinHash-LSH pairs at that Jaccard threshold,
    clustered by connected components, one survivor per cluster
    picked by ``near_dup_keep``: ``"min-id"`` (minimum url —
    deterministic on any cluster size) or ``"longest"`` (the copy with
    the most text, ties to minimum url — the "keep the best copy"
    pattern; rank by a classifier score via graph.cluster_survivors
    directly). Note cluster survival is MORE aggressive than pairwise:
    two docs each similar only to a shared third are still collapsed.
    ``span_dedup_k`` enables ExactSubstr-style repeated-span removal
    after line dedup: every k-token window occurring ``span_min_count``+
    times corpus-wide is removed except its first occurrence (output
    text is whitespace-normalized by that stage's tokenization).
    ``temperature`` (mutually exclusive with ``fractions``) derives the
    mixing fractions from the CURATED corpus's own stratum masses
    (``n^alpha`` rebalancing; ``temperature_weight_col`` switches the
    mass from doc count to a column sum, e.g. token counts) — computed
    after dedup/cap/decontamination so the rebalance sees the corpus
    that will actually be sampled. ``epoch_weights`` (mutually
    exclusive with both) REPLICATES strata instead: weight 2.5 emits
    every doc twice plus a deterministic half once more
    (corpus_stats.epoch_upsample), with an ``epoch`` column in the
    output corpus for downstream interleaving.
    """
    if sum(x is not None and x != {} for x in
           (fractions, temperature, epoch_weights)) > 1:
        raise ValueError(
            "pass at most one of fractions / temperature / epoch_weights")
    if near_dup_keep not in ("min-id", "longest"):
        # validated up front even when near_dup_threshold is None: a
        # typo'd keep rule must fail before hours of upstream stages
        # run (or silently not apply at all)
        raise ValueError(
            f"near_dup_keep={near_dup_keep!r} (expected 'min-id' or "
            f"'longest'); for custom rankings call "
            f"graph.cluster_survivors directly")
    if (normalize_unicode or fix_encoding) and extract_from_html:
        raise ValueError(
            "normalize_unicode/fix_encoding canonicalize the INPUT text "
            "column; with extract_from_html the text is produced inside "
            "the filter stage — normalize the extractor output via its "
            "whitespace policy instead")
    if normalize_unicode not in (None, "NFC", "NFKC"):
        # the decomposing forms would EXPAND precomposed chars — the
        # opposite of this stage's collapse-spellings purpose; callers
        # who really want NFD operate normalize_text directly
        raise ValueError(
            f"normalize_unicode={normalize_unicode!r} "
            f"(expected NFC/NFKC or None)")
    # validated up front (and regardless of line_dedup) — a typo'd
    # unit must fail before hours of eager upstream stages run
    if line_dedup_unit not in ("line", "paragraph"):
        raise ValueError(f"line_dedup_unit must be 'line' or "
                         f"'paragraph', got {line_dedup_unit!r}")
    if line_dedup and line_dedup_unit == "paragraph" and c4_clean:
        # c4_clean drops blank lines and rejoins with '\n', so no
        # '\n\n' boundary reaches the dedup stage — paragraph mode
        # would be a silent no-op. Refuse the contradiction.
        raise ValueError(
            "line_dedup_unit='paragraph' is incompatible with "
            "c4_clean=True: the C4 line-quality pass removes blank "
            "lines, so no paragraph boundaries survive to dedup — "
            "use unit='line' with c4_clean, or drop c4_clean")
    if stage_pin not in ("auto", "persist", "checkpoint"):
        raise ValueError(f"stage_pin must be auto/persist/checkpoint, "
                         f"got {stage_pin!r}")
    t0 = time.time()
    scope = CacheScope()
    # Stage-boundary pin policy. `persist` keeps lineage (blocks lost
    # to executor failure recompute) but the analyzed plan embeds the
    # upstream tree 2-3x per join-bearing stage — MULTIPLICATIVE
    # growth that OOMs the driver around 15 composed stages (SCALE.md
    # §4g). `checkpoint` (localCheckpoint) truncates the plan to a
    # flat scan but cannot recompute lost blocks (the retry is
    # job-level). auto: lineage recovery for short compositions, plan
    # truncation once enough stages are enabled to matter.
    n_stages = 3 + sum(1 for on in (
        line_dedup,
        blocklist is not None, bool(block_url_patterns),
        robots_table is not None,
        bool(normalize_unicode) or fix_encoding,
        classifier_model is not None, gopher_repetition,
        max_code_line_fraction is not None,
        min_compression_ratio is not None, badwords is not None,
        c4_clean, near_dup_threshold is not None,
        span_dedup_k is not None, host_cap is not None,
        decontaminate_path is not None, dsir_target_path is not None,
        bool(fractions) or temperature is not None
        or bool(epoch_weights)) if on)
    counts = _StageCounts(scope, stage_pin == "checkpoint"
                          or (stage_pin == "auto" and n_stages >= 6))
    pin, pin_count = counts.pin, counts.pin_count
    models_bc = None
    try:
        if input_format == "parquet":
            pages = read_table(spark, input_path)
        elif input_format == "jsonl":
            # directory form: Hadoop-FS aware, so s3a://... dumps work
            # exactly like the parquet branch (a local glob would not)
            from datacanary_spark.sources.io import read_pages_jsonl_dir

            pages = read_pages_jsonl_dir(spark, input_path)
        elif input_format in ("warc", "wet"):
            # raw crawl -> curated corpus in one job: reuse the filter
            # job's container source (per-file parallelism, record
            # fan-out executor-side). WARC response bodies land in
            # ``html`` and ``text`` stays NULL, so a warc run without
            # HTML extraction would filter-drop every row — reject the
            # combination before any container is parsed.
            if input_format == "warc" and not extract_from_html:
                raise ValueError(
                    "input_format='warc' puts response bodies in the "
                    "html column; pass extract_from_html=True "
                    "(extractor='real' for actual crawl pages) or use "
                    "input_format='wet' for pre-extracted text")
            from datacanary_spark.plans.checkpoint import _chunk_files
            from datacanary_spark.plans.pipeline import pages_from_warc

            files = _chunk_files(input_path, 1, input_format)[0]
            kinds = ("conversion",) if input_format == "wet" \
                else ("response",)
            # pin the decoded frame: both the docs_in count and the
            # filter stage consume it — unpersisted, each re-runs the
            # gunzip + WARC record parse over the whole crawl
            pages = pin(
                pages_from_warc(spark, files, record_types=kinds,
                                ok_only=http_ok_only))
        else:
            raise ValueError(f"unknown input_format {input_format!r} "
                             f"(expected parquet, jsonl, warc, or wet)")
        # docs_in is the input before any URL-level stage drops a doc
        pages = counts.count("docs_in", pages)
        if blocklist is not None:
            from datacanary_spark.operators.text_analysis import (
                filter_blocked_domains,
            )

            # URL-level filtering runs FIRST: a doc dropped here never
            # costs extraction, model inference, or a dedup shuffle —
            # the cheapest possible stage removes work from every later
            # one. A str blocklist is a table path (domain column); a
            # list is inlined (literal dispatch under 256 entries).
            bl = (read_table(spark, blocklist)
                  if isinstance(blocklist, str) else list(blocklist))
            # pinned: its count and the filter stage both read it —
            # unpinned, each re-runs the blocklist explode/semi-join
            pages = pin_count(
                "after_blocklist",
                filter_blocked_domains(pages, bl, url_col="url",
                                       id_col="url"))
        if block_url_patterns:
            from datacanary_spark.operators.text_analysis import (
                filter_blocked_url_patterns,
            )

            # same run-FIRST rationale as the domain blocklist, and
            # even cheaper: a pure column predicate on url, no join —
            # pipelines into whatever scan/filter runs next, so no
            # pin is warranted; the filter stage's pin fills its counts
            pages = counts.count(
                "after_url_patterns",
                filter_blocked_url_patterns(pages, block_url_patterns,
                                            url_col="url"))
        if robots_table is not None:
            from datacanary_spark.operators.robots import robots_filter

            # crawl-policy enforcement (RFC 9309): same URL-level,
            # run-FIRST tier as the blocklists. The robots table is
            # per-HOST (orders of magnitude smaller than pages), so its
            # compiled rules broadcast; the per-page longest-match is
            # expression-only and pipelines with the scan. Docs with no
            # parseable host or no robots row pass (policy can't apply).
            pages = counts.count(
                "after_robots",
                robots_filter(pages, read_table(spark, robots_table),
                              agent=robots_agent, url_col="url"))
        if normalize_unicode or fix_encoding:
            from datacanary_spark.functions.normalize import normalize_text

            # pinned: the changed-count lineage aggregate and the
            # filter stage both consume the UDF output — unpinned,
            # the normalizer would run twice over the full corpus
            pages = pin_count("normalized_docs", normalize_text(
                pages, "text", form=normalize_unicode,
                fix_encoding=fix_encoding), where=F.col("text_changed"))
            pages = pages.drop("text_changed")
        models_bc = broadcast_models(spark, models)
        verdicts = filter_pages(pages, models_bc, cfg,
                                extract_from_html=extract_from_html,
                                extractor=extractor)
        # carry exactly the columns downstream stages key on: url + scrubbed
        # text always, plus any non-default strata/key column — validated up
        # front so a typo fails before the filter stage runs
        carry = ["url", "text"]
        for c in dict.fromkeys([strata_col, key_col]):
            if c in ("url", "text"):
                continue
            if c not in verdicts.columns:
                raise ValueError(
                    f"column {c!r} not in the filter output "
                    f"(available: {sorted(verdicts.columns)})")
            carry.append(c)
        kept = pin_count("kept", curate_front(verdicts, carry[2:]))
        # which pin actually ran — operators need to know whether this
        # run had lineage recovery (persist) or restart-level retry
        # only (checkpoint); deterministic, so re-run summaries match
        summary = {"stage_pin": ("checkpoint" if counts.checkpoint
                                 else "persist")}

        if classifier_model:
            from datacanary_spark.plans.classifier import (
                classify,
                classify_top_fraction,
                load_classifier,
            )

            clf = load_classifier(spark, classifier_model)
            if classifier_keep_fraction is not None:
                # DCLM-style: keep the top fraction by score rather
                # than a fixed probability threshold — robust to score
                # calibration drift across corpora
                scored = classify_top_fraction(
                    kept, clf, classifier_keep_fraction,
                    text_col="text", tie_col="url", persist=scope)
            else:
                scored = classify(kept, clf, text_col="text",
                                  threshold=classifier_threshold) \
                    .where(F.col("keep_pred"))
            kept = pin_count("after_classifier",
                             scored.select(*kept.columns))

        if gopher_repetition:
            from datacanary_spark.functions.repetition import (
                RepetitionConfig,
                gopher_repetition_hit_exprs,
                with_repetition_stats,
            )

            rcfg = repetition_cfg or RepetitionConfig()
            rep = with_repetition_stats(kept, text_col="text")
            hits = gopher_repetition_hit_exprs(rcfg)
            n_hits = sum(hits.values(), F.lit(0))
            kept = pin_count("after_repetition_filter",
                             rep.where(n_hits == 0).select(*kept.columns))

        if max_code_line_fraction is not None:
            from datacanary_spark.functions.readability import (
                with_readability,
            )

            # code-shaped pages (source dumps, minified JS): pure
            # column expressions, fused into the same codegen span as
            # the scan — no shuffle, no Python. Null fraction (empty
            # text) is not a code page; it survives this stage.
            rd = with_readability(kept, text_col="text")
            # explicit null guard: ~(NULL > t) is NULL and where()
            # drops NULL rows — the opposite of the survive contract
            frac = F.col("rd_code_line_fraction")
            kept = pin_count(
                "after_code_filter",
                rd.where(frac.isNull() | (frac <= max_code_line_fraction))
                  .select(*kept.columns))

        if min_compression_ratio is not None:
            from datacanary_spark.functions.readability import (
                make_compression_ratio_udf,
            )

            # hyper-compressible docs are template/spam repetition the
            # n-gram rules can miss (long-range repeats). One
            # Arrow-batched UDF hop, map-only; placed before dedup so
            # dropped docs never cost a fingerprint shuffle. Null
            # ratio (empty text) survives.
            ratio = make_compression_ratio_udf()(F.col("text"))
            # same null guard as the code filter: null ratio (empty
            # text) must survive, and NULL comparisons drop in where()
            kept = pin_count(
                "after_compression_filter",
                kept.withColumn("_zratio", ratio)
                    .where(F.col("_zratio").isNull()
                           | (F.col("_zratio") >= min_compression_ratio))
                    .select(*kept.columns))

        if badwords is not None:
            from datacanary_spark.operators.text_analysis import (
                filter_badwords,
            )

            # C4's dirty-word-list rule: strict any-hit drop by
            # default; badword_max_fraction switches to the density
            # rule (a news doc quoting one slur survives). A str is a
            # table path (word column, join dispatch); a list inlines
            # as expressions under the auto threshold. Runs on the
            # filtered text BEFORE dedup so flagged docs never cost a
            # fingerprint shuffle. Note: this sees POST-scrub text —
            # terms the PII/toxicity scrubber already replaced with
            # <TOX> can't hit here; keep the drop lexicon disjoint
            # from the scrub lexicon (they serve different policies).
            bw = (read_table(spark, badwords)
                  if isinstance(badwords, str) else list(badwords))
            kept = pin_count("after_badwords", filter_badwords(
                kept, bw, text_col="text", id_col="url",
                max_hits=(None if badword_max_fraction is not None
                          else 0),
                max_fraction=badword_max_fraction))

        if c4_clean:
            from datacanary_spark.operators.text_analysis import (
                c4_clean as c4_clean_op,
            )

            # line-QUALITY cleaning before any dedup: boilerplate lines
            # removed here never enter a fingerprint or shingle set, so
            # every later stage hashes less text
            kept = pin_count("after_c4_clean", c4_clean_op(
                kept, text_col="text",
                min_words=c4_min_line_words,
                require_terminal=c4_require_terminal))

        stage = pin_count("after_exact_dedup",
                          dedup_exact(kept, id_col="url", text_col="text"))

        if near_dup_threshold is not None:
            from datacanary_spark.operators.dedup import near_dup_pairs
            from datacanary_spark.operators.graph import (
                cluster_survivors,
                components_of_pairs,
            )

            # bands="auto": the default 4x4 banding is calibrated for
            # ~0.7 Jaccard — at a user threshold of 0.5 it would miss
            # ~77% of true pairs BEFORE the verify stage (LSH false
            # negatives are unrecoverable); auto re-banding keeps the
            # S-curve inflection near the requested threshold
            pairs = near_dup_pairs(stage, id_col="url", text_col="text",
                                   threshold=near_dup_threshold,
                                   bands="auto",
                                   hash_fn="xxhash64", persist=scope)
            if near_dup_keep == "longest":
                # keep the best copy per cluster (here: most text; a
                # classifier-score ranking is the library-API variant)
                flagged = cluster_survivors(
                    stage, pairs.select("id_a", "id_b"), id_col="url",
                    rank_col=F.length("text"), persist=scope)
                stage = pin_count(
                    "after_near_dup_clusters",
                    flagged.where(F.col("is_survivor"))
                           .drop("component", "is_survivor"))
            else:
                assigned = components_of_pairs(
                    stage, pairs.select("id_a", "id_b"), id_col="url")
                stage = pin_count(
                    "after_near_dup_clusters",
                    assigned.where(F.col("component") == F.col("url"))
                            .drop("component"))

        if line_dedup:
            # (unit validated up front, incl. the c4_clean conflict)
            # paragraph mode = RefinedWeb/Dolma granularity: a repeated
            # paragraph is removed whole, preserving the survivor's
            # intra-paragraph structure
            ld = dedup_lines(stage, id_col="url", text_col="text",
                             persist=scope,
                             sep=("\n\n" if line_dedup_unit == "paragraph"
                                  else "\n"))
            stage = pin_count(
                "after_line_dedup",
                stage.drop("text").join(ld, "url")
                     .where(F.length(F.trim("text")) > 0))

        if span_dedup_k is not None:
            from datacanary_spark.operators.dedup import remove_repeated_ngrams

            sd = remove_repeated_ngrams(stage, id_col="url",
                                        text_col="text", k=span_dedup_k,
                                        min_count=span_min_count,
                                        hash_fn="xxhash64", persist=scope)
            stage = pin_count(
                "after_span_dedup",
                stage.drop("text").join(sd, "url")
                     .where(F.length(F.trim("text")) > 0))

        if host_cap is not None:
            from datacanary_spark.operators.corpus_stats import cap_per_group

            # null-host exemption: docs whose url has no parseable host are
            # distinct documents, not one spam host — lumping them into a
            # single NULL pseudo-group and capping it to N would silently
            # delete them (ADVICE r03; same rationale as canonical_url_expr)
            from datacanary_spark.operators.text_analysis import (
                blocklist_host_expr,
            )

            # normalized host (lowercase, port/userinfo/trailing-dot
            # stripped — blocklist_host_expr), NOT raw parse_url: a spam
            # host whose crawl mixes EXAMPLE.COM / example.com. forms
            # would otherwise split into several cap groups and collect
            # a multiple of the cap
            capped = cap_per_group(
                stage.withColumn("_host", blocklist_host_expr(F.col("url"))),
                "_host", host_cap, "url", exempt_null_group=True).drop("_host")
            stage = pin_count("after_host_cap", capped)

        if decontaminate_path:
            reference = read_table(spark, decontaminate_path)
            if decontaminate_mode == "bloom":
                # exact-fingerprint semantics behind a broadcast Bloom
                # prefilter: bitset-miss rows (the vast majority) never
                # reach the confirm join — the corpus-sized anti-join
                # shuffle disappears (operators/membership.py)
                from datacanary_spark.operators.membership import (
                    decontaminate_bloom,
                )

                stage = decontaminate_bloom(stage, reference, text_col="text",
                                            persist=scope)
            elif decontaminate_mode == "minhash":
                # fuzzy tier: drops docs NEAR-duplicate to a reference
                # item (reflowed/lightly-edited benchmark copies that
                # exact fingerprints miss); broadcast reference bands
                from datacanary_spark.operators.dedup import (
                    decontaminate_minhash,
                )

                # persist=scope: the corpus (id, sig) rows feed both
                # the band explode and the verify join — unpersisted,
                # the shingle+16-hash signature pass (the mode's
                # dominant map cost) runs twice over the full corpus
                stage = decontaminate_minhash(stage, reference, id_col="url",
                                              text_col="text", persist=scope)
            elif decontaminate_mode == "ngrams":
                # exhaustive word-n-gram overlap (GPT-3 13-gram rule):
                # any shared 13-gram with the reference contaminates
                from datacanary_spark.operators.dedup import (
                    decontaminate_ngrams,
                )

                stage = decontaminate_ngrams(stage, reference, id_col="url",
                                             text_col="text")
            else:
                stage = decontaminate(stage, reference, id_col="url",
                                      text_col="text", mode=decontaminate_mode)
            stage = pin_count("after_decontamination", stage)

        if dsir_target_path:
            from datacanary_spark.operators import dsir

            target = read_table(spark, dsir_target_path)
            model = dsir.train_dsir(target, stage, text_col="text")
            stage = pin_count(
                "after_dsir",
                dsir.dsir_select(stage, model, dsir_keep_fraction,
                                 text_col="text", tie_col="url",
                                 persist=scope)
                    .drop("dsir_weight"))

        if temperature is not None:
            from datacanary_spark.operators.corpus_stats import (
                temperature_fractions,
            )

            fractions = temperature_fractions(
                stage, strata_col, temperature,
                weight_col=temperature_weight_col)
            summary["temperature_fractions"] = {
                k: round(v, 6) for k, v in sorted(fractions.items())}
        if fractions:
            stage = hash_stratified_sample(stage, strata_col, fractions,
                                           key_col)

        if epoch_weights:
            from datacanary_spark.operators.corpus_stats import epoch_upsample

            # fractional-epoch replication (weights may exceed 1): the
            # output carries an `epoch` column so packing/sharding can
            # interleave replicas instead of emitting them back-to-back
            stage = epoch_upsample(stage, strata_col, epoch_weights, key_col)
            carry.append("epoch")

        corpus_dir = os.path.join(output_path, "corpus")
        # pin the output schema: the line-dedup join reorders columns, and
        # positional consumers must see one layout regardless of flags
        stage.select(*carry).write.mode("overwrite").parquet(corpus_dir)
        summary.update(counts.resolve())
        # the sampled / upsampled frame is exactly what was written
        written = ("upsampled_rows" if epoch_weights
                   else "sampled" if fractions else None)
    finally:
        # release every pinned stage and the model broadcast even when
        # a stage throws — a long-lived session must not accumulate
        # cached blocks or a multi-MB broadcast per call
        scope.unpersist_all()
        if models_bc is not None:
            models_bc.destroy()

    final = spark.read.parquet(corpus_dir)
    summary["by_lang"] = {
        r[strata_col]: r["n"]
        for r in final.groupBy(strata_col)
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
    # the groupBy counts every row, the null stratum included
    summary["final_docs"] = sum(summary["by_lang"].values())
    if written:
        summary[written] = summary["final_docs"]
    # per-stage accounting table, derived from the counts already taken
    # (no extra Spark action): docs_in chains from the previous stage's
    # docs_out, so sums are consistent by construction
    lineage = []
    prev = summary["docs_in"]
    for key in STAGE_COUNT_ORDER:
        if key in summary:
            out = summary[key]
            lineage.append({"stage": key, "docs_in": prev,
                            "docs_out": out, "dropped": prev - out})
            prev = out
    summary["stage_lineage"] = lineage
    summary["wall_sec"] = round(time.time() - t0, 3)
    # Hadoop-FS write: output_path may be s3a://… on a real cluster —
    # a local open() would crash AFTER the whole compute finished
    write_text(spark, os.path.join(output_path, "curation_summary.json"),
               json.dumps(summary, indent=2, sort_keys=True))
    return summary
