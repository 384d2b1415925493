"""Gopher/C4-style heuristic quality rules as pure Column expressions.

This generalizes the reference's profile-level rules (ValueRangeRule →
doc-length / mean-word-length bounds, PatternMatchRule → regex-based
checks; /root/reference/src/datacanary/rules/rule_engine.py:156-316)
into row-level (per-document) predicates that run entirely inside
whole-stage codegen — no Python in the hot path (build contract: no
per-row Python UDFs).

All ratios use exact integer-count arithmetic before a final double
division, so the pandas golden twin (filter/golden.py) reproduces them
bit-for-bit.

Scale: every expression here is a narrow per-row computation — no
shuffle, no state; cost is O(bytes scanned) and pipelined with the
parquet scan under one WholeStageCodegen span (arrays from split() are
materialized once per row and shared by Catalyst CSE).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from datacanary_spark.sources.fixtures import STOPWORDS

# union of per-language stopword lists — language-agnostic fraction test
ALL_STOPWORDS: frozenset[str] = frozenset(w for ws in STOPWORDS.values() for w in ws)

SYMBOL_CLASS = "[#$%&*+=~^|]"  # chars counted by the symbol-to-word rule


@dataclass(frozen=True)
class FilterConfig:
    """Thresholds of the quality filter (Gopher/C4-flavored).

    A rule "hits" (value 1) when the document VIOLATES it; keep =
    no heuristic hits AND perplexity/langid accept.
    """

    min_words: int = 50
    max_words: int = 1000
    min_mean_word_length: float = 2.0
    max_mean_word_length: float = 12.0
    max_symbol_to_word_ratio: float = 0.08
    min_stopword_fraction: float = 0.05
    max_dup_line_fraction: float = 0.25
    max_dup_trigram_fraction: float = 0.25
    max_bullet_line_fraction: float = 0.30
    max_ellipsis_line_fraction: float = 0.20
    # Calibrated on the seeded fixture: clean docs score ppl ≤ ~50,
    # gibberish ≥ ~200 (see tests/test_models.py).
    max_ppl: float = 100.0
    min_lang_conf: float = 0.60
    allowed_langs: tuple[str, ...] = ("en", "fr", "es", "de", "zh")

    # structure rules (opt-in via filter_pages(structure_rules=True);
    # need raw html, so they never fire on text-only corpora): drop
    # pages that asked not to be indexed, and link farms whose anchor
    # text dominates the visible text (jusText-style threshold).
    max_link_density: float = 0.5

    heuristic_rule_names: tuple[str, ...] = (
        "too_few_words", "too_many_words", "mean_word_length",
        "symbol_ratio", "stopword_fraction", "dup_lines", "dup_trigrams",
        "bullet_lines", "ellipsis_lines",
    )
    model_rule_names: tuple[str, ...] = ("perplexity", "langid")
    structure_rule_names: tuple[str, ...] = ("noindex", "link_density")

    @property
    def rule_names(self) -> tuple[str, ...]:
        """Rules of the text-only pipeline (structure rules join only
        when filter_pages runs with structure_rules=True, keeping the
        golden rule_hits map byte-identical by default)."""
        return self.heuristic_rule_names + self.model_rule_names


STAT_NAMES = (
    "n_chars", "word_count", "mean_word_length", "symbol_to_word_ratio",
    "stopword_fraction", "line_count", "dup_line_fraction",
    "dup_trigram_fraction", "bullet_line_fraction", "ellipsis_line_fraction",
)


def words_expr(col: Column) -> Column:
    """Tokenization contract (mirrored exactly by the golden twin):
    words = non-empty splits of the text on ``\\s+``."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def stopword_count_expr(words: Column,
                        stops=ALL_STOPWORDS) -> Column:
    """How many elements of ``words`` are in ``stops``, as a long.

    ``isin`` over literals becomes an ``InSet`` hash lookup in the
    optimizer, so each word costs one probe instead of the linear scan
    ``array_contains`` makes over a ~100-literal array."""
    stops = sorted(stops)
    return F.size(F.filter(words, lambda w: w.isin(stops))).cast("long")


def ngrams_expr(words: Column, k: int) -> Column:
    """Array of space-joined k-grams of ``words``, built LINEARLY with a
    running ``zip_with`` of shifted slices — O(words·k) per doc even
    when ``words`` is an unbound subtree, because each slice evaluates
    the subtree once per ROW, not once per element. (The obvious
    ``transform(sequence(...), i -> element_at(words, i)…)`` form
    re-evaluates the ``words`` subtree for every element inside the
    lambda — O(words²) per document; it benchmarked 100×+ slower.
    ``functions/repetition.ngrams_expr`` is the transform form, safe
    only for bound column refs; this one has no such precondition.)"""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k == 1:
        return words
    wc = F.size(words)
    out_len = wc - (k - 1)
    cur = F.slice(words, 1, out_len)
    for j in range(1, k):
        cur = F.zip_with(cur, F.slice(words, 1 + j, out_len),
                         lambda a, b: F.concat_ws(" ", a, b))
    return F.when(wc >= k, cur).otherwise(F.array().cast("array<string>"))


def trigrams_expr(words: Column) -> Column:
    """Word trigrams joined with single spaces (``ngrams_expr(words, 3)``)."""
    return ngrams_expr(words, 3)


def with_text_stats(df, text_col: str = "text", prefix: str = "stat_"):
    """Attach all per-document text statistics as ``prefix<name>`` columns.

    Staged projects bind each expensive array (words, lines, trigrams)
    to a named column ONCE; Catalyst's CollapseProject keeps the stages
    separate because these are non-cheap expressions referenced multiple
    times, so each array is computed once per row instead of once per
    consumer. The whole thing still pipelines inside one
    WholeStageCodegen span — narrow, no shuffle.
    """
    col = F.col(text_col)

    tmp_stage1 = {
        "_t_words": words_expr(col),
        "_t_lines": F.split(col, "\n"),
    }
    df = df.withColumns(tmp_stage1)
    w, lines = F.col("_t_words"), F.col("_t_lines")
    tmp_stage2 = {
        "_t_wc": F.size(w).cast("long"),
        "_t_lc": F.size(lines).cast("long"),
        "_t_word_chars": F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)),
        "_t_stop_count": stopword_count_expr(w),
        "_t_symbols": (F.length(col)
                       - F.length(F.regexp_replace(col, SYMBOL_CLASS, ""))),
        "_t_trigrams": trigrams_expr(w),
        "_t_dup_lines": F.size(F.array_distinct(lines)).cast("long"),
        "_t_bullet": F.size(F.filter(
            lines, lambda l: l.startswith("- ") | l.startswith("• ")
            | l.startswith("* "))).cast("long"),
        "_t_ellipsis": F.size(F.filter(
            lines, lambda l: l.endswith("..."))).cast("long"),
    }
    df = df.withColumns(tmp_stage2)
    wc = F.col("_t_wc").cast("double")
    lc = F.col("_t_lc").cast("double")
    tg = F.size(F.col("_t_trigrams"))
    df = df.withColumns({
        prefix + "n_chars": F.length(col).cast("long"),
        prefix + "word_count": F.col("_t_wc"),
        prefix + "mean_word_length": F.try_divide(
            F.col("_t_word_chars").cast("double"), wc),
        prefix + "symbol_to_word_ratio": F.try_divide(
            F.col("_t_symbols").cast("double"), wc),
        prefix + "stopword_fraction": F.try_divide(
            F.col("_t_stop_count").cast("double"), wc),
        prefix + "line_count": F.col("_t_lc"),
        prefix + "dup_line_fraction": F.coalesce(
            F.lit(1.0) - F.try_divide(F.col("_t_dup_lines").cast("double"), lc),
            F.lit(0.0)),
        prefix + "dup_trigram_fraction": F.coalesce(
            F.lit(1.0) - F.try_divide(
                F.size(F.array_distinct(F.col("_t_trigrams"))).cast("double"),
                tg.cast("double")),
            F.lit(0.0)),
        prefix + "bullet_line_fraction": F.try_divide(
            F.col("_t_bullet").cast("double"), lc),
        prefix + "ellipsis_line_fraction": F.try_divide(
            F.col("_t_ellipsis").cast("double"), lc),
    })
    # drop exactly the temporaries THIS call added — never a caller
    # column that happens to share the prefix
    return df.drop(*tmp_stage1, *tmp_stage2)


def stat_cols(prefix: str = "stat_") -> dict[str, Column]:
    """Column refs to the stats attached by ``with_text_stats``."""
    return {n: F.col(prefix + n) for n in STAT_NAMES}


def text_stat_exprs(text_col: str = "text") -> dict[str, Column]:
    """Per-document text statistics as standalone Column expressions.

    Semantically identical to ``with_text_stats`` but each consumer of a
    stat re-evaluates the underlying arrays — fine for one-or-two-stat
    queries; for the full rule set use ``with_text_stats`` (arrays bound
    once per row).
    """
    col = F.col(text_col)
    words = words_expr(col)
    wc = F.size(words)
    total_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    stop_count = stopword_count_expr(words)
    symbol_count = F.length(col) - F.length(F.regexp_replace(col, SYMBOL_CLASS, ""))
    lines = F.split(col, "\n")
    lc = F.size(lines)
    trigrams = trigrams_expr(words)
    tg = F.size(trigrams)
    bullet = F.size(F.filter(
        lines, lambda l: l.startswith("- ") | l.startswith("• ") | l.startswith("* ")))
    ellipsis = F.size(F.filter(lines, lambda l: l.endswith("...")))

    return {
        "n_chars": F.length(col).cast("long"),
        "word_count": wc.cast("long"),
        "mean_word_length": F.try_divide(total_word_chars.cast("double"), wc.cast("double")),
        "symbol_to_word_ratio": F.try_divide(symbol_count.cast("double"), wc.cast("double")),
        "stopword_fraction": F.try_divide(stop_count.cast("double"), wc.cast("double")),
        "line_count": lc.cast("long"),
        "dup_line_fraction": F.coalesce(
            F.lit(1.0) - F.try_divide(F.size(F.array_distinct(lines)).cast("double"),
                                      lc.cast("double")), F.lit(0.0)),
        "dup_trigram_fraction": F.coalesce(
            F.lit(1.0) - F.try_divide(F.size(F.array_distinct(trigrams)).cast("double"),
                                      tg.cast("double")), F.lit(0.0)),
        "bullet_line_fraction": F.try_divide(bullet.cast("double"), lc.cast("double")),
        "ellipsis_line_fraction": F.try_divide(ellipsis.cast("double"), lc.cast("double")),
    }


def heuristic_hit_exprs(cfg: FilterConfig, stats: dict[str, Column]) -> dict[str, Column]:
    """Rule-hit columns: 1 when the doc violates the rule, else 0.

    Null stats (e.g. empty text → null ratios) count as violations of the
    rules that need them — mirrors the reference's per-rule error
    containment where an unevaluable rule records passed=False
    (rule_engine.py:368-378).
    """

    def hit(violation: Column) -> Column:
        return F.coalesce(violation.cast("int"), F.lit(1))

    return {
        "too_few_words": hit(stats["word_count"] < cfg.min_words),
        "too_many_words": hit(stats["word_count"] > cfg.max_words),
        "mean_word_length": hit(
            (stats["mean_word_length"] < cfg.min_mean_word_length)
            | (stats["mean_word_length"] > cfg.max_mean_word_length)),
        "symbol_ratio": hit(stats["symbol_to_word_ratio"] > cfg.max_symbol_to_word_ratio),
        "stopword_fraction": hit(stats["stopword_fraction"] < cfg.min_stopword_fraction),
        "dup_lines": hit(stats["dup_line_fraction"] > cfg.max_dup_line_fraction),
        "dup_trigrams": hit(stats["dup_trigram_fraction"] > cfg.max_dup_trigram_fraction),
        "bullet_lines": hit(stats["bullet_line_fraction"] > cfg.max_bullet_line_fraction),
        "ellipsis_lines": hit(stats["ellipsis_line_fraction"] > cfg.max_ellipsis_line_fraction),
    }


