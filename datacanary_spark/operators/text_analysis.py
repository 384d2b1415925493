"""Text-analysis operators: tokenization, rule-based language-ID,
quality scoring, document fingerprinting.

Everything here is a pure Column expression (JVM codegen, no Python):
these are the cheap, always-on text statistics a training-data pipeline
computes on every document before any model runs. The model-based
language-ID (hashed n-gram Naive Bayes) lives in functions/models.py;
the rule-based one here is the zero-cost fallback and an oracle-able
cross-check for it.

Reference lineage: extends the reference's string-column stats
(/root/reference/src/datacanary/analysers/statistical_analyser.py:67-79)
from column aggregates to per-document features.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datacanary_spark.functions.heuristics import words_expr
from datacanary_spark.sources.fixtures import LANGS, STOPWORDS

# BPE-ish pre-tokenizer: ASCII alnum runs, or single non-alnum non-space
# codepoints. Deliberately ASCII-anchored so Java regex (Spark), RE2
# (DuckDB) and Python `re` agree codepoint-for-codepoint.
BPE_TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# words_expr is functions/heuristics.words_expr, re-exported: ONE
# tokenization contract (pinned to the golden twin), two import paths.


def token_count_ws(text_col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words_expr(text_col)).cast("long")


# control codepoints that signal encoding damage — everything below
# 0x20 except tab/newline/CR, plus DEL; shared verbatim with the
# DuckDB oracle twin (ASCII class, Java regex ≡ RE2 ≡ Python re)
CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
LN2 = 0.6931471805599453  # repr(math.log(2.0)) — shared literal, no runtime log(2)


def char_entropy_expr(text_col: Column) -> Column:
    """Shannon entropy (bits) of the document's character unigram
    distribution — the classic encoding-noise / randomness signal:
    natural text sits ~3.5–4.5 bits, base64 blobs and binary spew sit
    near 6, single-char runs near 0.

    Zero-shuffle by design: sort the char array doc-side, then ONE
    ``F.aggregate`` fold over the sorted array accumulates each run's
    ``c·ln(c)`` plus the total N, and the finish step emits
    ``(ln(N) − Σc·ln(c)/N) / ln2`` — identical algebra to the grouped
    form but with no explode and no per-doc shuffle, so at 10^12 docs
    it rides the same scan as every other per-doc expression. Empty
    text (no chars after dropping split artifacts) → NULL.

    Characters are Unicode BMP codepoints on both engines (Spark
    splits UTF-16 — astral chars would split into surrogate halves;
    DuckDB splits UTF-8 codepoints — the fixture corpus is BMP-only
    and real web text makes astral chars statistically irrelevant to
    a 4dp mean).
    """
    chars = F.array_sort(
        F.filter(F.split(text_col, ""), lambda c: c != F.lit("")))
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("tot"),
        F.lit(0.0).alias("s"))

    def flush(acc):
        # close the open run: s += run·ln(run)  (run==0 or 1 adds 0.0)
        r = acc["run"].cast("double")
        return acc["s"] + F.when(acc["run"] > 1, r * F.log(r)) \
                           .otherwise(F.lit(0.0))

    def step(acc, ch):
        return F.when(
            acc["prev"].eqNullSafe(ch),
            F.struct(acc["prev"].alias("prev"),
                     (acc["run"] + 1).alias("run"),
                     (acc["tot"] + 1).alias("tot"),
                     acc["s"].alias("s"))
        ).otherwise(
            F.struct(ch.alias("prev"),
                     F.lit(1).cast("long").alias("run"),
                     (acc["tot"] + 1).alias("tot"),
                     flush(acc).alias("s")))

    def finish(acc):
        n = acc["tot"].cast("double")
        return F.when(
            acc["tot"] > 0,
            (F.log(n) - flush(acc) / n) / F.lit(LN2)
        ).otherwise(F.lit(None).cast("double"))

    return F.aggregate(chars, acc0, step, finish)


def control_char_frac_expr(text_col: Column) -> Column:
    """Fraction of characters that are damaged-encoding control
    codepoints (``CONTROL_CHAR_PATTERN``); NULL for empty text."""
    n = F.length(text_col)
    return F.when(
        n > 0,
        F.regexp_count(text_col, F.lit(CONTROL_CHAR_PATTERN))
         .cast("double") / n.cast("double"))


def token_count_bpe(text_col: Column) -> Column:
    """BPE-ish token count: alnum runs + individual symbol codepoints.

    A practical stand-in for `len(tokenizer.encode(text))` when sizing
    a corpus in tokens — exact tokenizers slot in as a pandas UDF.
    """
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_PATTERN), 0)).cast("long")


def stopword_hits(words: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    stops = F.array(*[F.lit(s) for s in sorted(STOPWORDS[lang])])
    return F.size(F.filter(words, lambda w: F.array_contains(stops, w))).cast("long")


def lang_guess_expr(text_col: Column) -> Column:
    """Rule-based language-ID: argmax of per-language stopword hits.

    Deterministic tie-break: first language in LANGS order wins; all-zero
    hits → 'und'. O(tokens · langs) comparisons, fully in codegen.

    Shape note: the hit counts live in ONE array and the argmax is
    ``array_position(hits, array_max(hits))`` — a per-language CASE
    chain that re-embeds ``greatest(all hits)`` in every branch costs
    O(langs²) un-CSE'd stopword-filter passes per row (higher-order
    functions are excluded from Spark subexpression elimination).
    """
    langs = F.array(*[F.lit(lang) for lang in LANGS])

    # bind words (one split) and hits (one stopword pass per lang) ONCE:
    # naive references re-evaluate the un-CSE'd HOF subtrees — the split
    # ran len(LANGS) times and the hit array three times per row
    def over_words(words: Column) -> Column:
        hits_arr = F.array(*[stopword_hits(words, lang) for lang in LANGS])

        def pick(hits: Column) -> Column:
            best = F.array_max(hits)
            # array_position returns the FIRST index of the max → same
            # first-lang-in-LANGS-order tie-break as the old CASE chain
            return F.when(
                best > 0,
                F.element_at(langs,
                             F.array_position(hits, best).cast("int"))
            ).otherwise(F.lit("und"))

        return F.element_at(F.transform(F.array(hits_arr), pick), 1)

    return F.element_at(
        F.transform(F.array(words_expr(text_col)), over_words), 1)


def quality_score_expr(hit_cols: dict[str, Column]) -> Column:
    """Fraction of rules passed in [0,1] — the per-document analogue of
    the reference's health score (summary_statistics.py:124-140)."""
    n = len(hit_cols)
    total_hits = None
    for c in hit_cols.values():
        total_hits = c if total_hits is None else total_hits + c
    return F.bround((F.lit(n) - total_hits).cast("double") / F.lit(float(n)), 6)


def normalized_text_expr(text_col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace-collapsed,
    trimmed."""
    return F.trim(F.lower(F.regexp_replace(text_col, r"\s+", " ")))


def content_fingerprint(text_col: Column) -> Column:
    """128-bit content fingerprint (md5 hex of the normalized text).

    The rolling-hash shingle variants live in operators/dedup.py; this
    is the O(1)-per-doc exact-identity key used for lineage joins and
    resume bookkeeping.
    """
    # NULL text → NULL fingerprint: unknown content has no identity.
    # Callers that key on the fingerprint must EXEMPT null-fp rows from
    # dedup/grouping (each unknown doc is its own group) — a shared
    # sentinel here would collapse every extraction failure into one
    # "document" and delete all but one of them.
    return F.when(text_col.isNull(), F.lit(None).cast("string")) \
        .otherwise(F.md5(normalized_text_expr(text_col)))


def canonical_url_expr(url_col: Column) -> Column:
    """Canonical URL for url-level dedup and grouping.

    Rules (the usual crawl-pipeline set): lowercase scheme and host,
    strip a leading ``www.``, strip the scheme's default port
    (http:80 / https:443), drop the fragment, remove tracking
    parameters (``utm_*``, ``fbclid``, ``gclid``), sort the surviving
    query parameters, and strip a trailing slash from the path. Path
    case is preserved (paths are case-sensitive).

    Pure Column expression; the param handling splits the query string
    into an array and filters/sorts it (regex-only param surgery leaves
    broken ``?&`` seams). Null url → null, and a url that does not match
    ``scheme://host`` (scheme-less ``example.com/a``, non-hierarchical
    ``mailto:x@y``) → null too: its canonical identity is UNKNOWN, and
    null keys are exempt from grouping (the same convention
    content_fingerprint uses for null text). Mapping every malformed
    url onto one shared key (the old behavior: they all collapsed to
    ``"://"``) would make a min-id survivor rule delete distinct real
    documents.
    """
    u = F.regexp_replace(url_col, "#.*$", "")  # fragment first
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")) \
            .when(scheme == "https", F.regexp_replace(host, ":443$", "")) \
            .otherwise(host)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), "/$", "")
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.array_sort(F.filter(
        F.split(query, "&"),
        # (=|$): valueless tracking params ("?utm_source") are tracking
        # params too
        lambda p: (p != "") & ~p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)")))
    q_part = F.when(F.size(params) > 0,
                    F.concat(F.lit("?"), F.concat_ws("&", params))) \
              .otherwise(F.lit(""))
    hierarchical = u.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]")
    return F.when(url_col.isNull() | ~hierarchical,
                  F.lit(None).cast("string")) \
            .otherwise(F.concat(scheme, F.lit("://"), host, path, q_part))


def winnow_fingerprints(text_col: Column, k: int = 8,
                        window: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003) — the rolling-hash fingerprinting tier between the
    whole-doc hash (``content_fingerprint``: exact identity only) and
    MinHash (global resemblance only): it detects PARTIAL overlap.

    Hash every character k-gram of the normalized text; in each window
    of ``window`` consecutive gram hashes keep the minimum; the sorted
    distinct selection is the fingerprint set. Guarantee (the paper's):
    any shared substring of length >= k + window - 1 contributes at
    least one shared fingerprint, so copied passages are detectable by
    set intersection — an equi-join on exploded fingerprints, never a
    pairwise text scan.

    Pure Column expression, O(chars · window) comparisons in codegen.
    The min over md5 hex strings is order-isomorphic to a numeric min
    over the 128-bit digests. Returns array<string>: empty for docs
    shorter than k after normalization, null for null text.
    """
    # EVALUATION DISCIPLINE: higher-order-function subtrees are excluded
    # from Spark's subexpression elimination, so a naive formulation
    # re-evaluates the gram-hash array (and the regexp normalization!)
    # once PER WINDOW POSITION — O(chars²·window) md5 calls per doc,
    # measured as a hang on 500 ordinary documents. Each intermediate is
    # therefore bound ONCE as a lambda variable via the
    # transform-over-1-element-array trick: the lambda argument is a
    # materialized VALUE, so references inside are O(1) reads.
    def per_text(tt: Column) -> Column:
        n = (F.length(tt) - F.lit(k) + 1).cast("int")  # number of k-grams
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.md5(tt.substr(i, F.lit(k))))

        def select_mins(g: Column) -> Column:
            # when n < window there is exactly one (short) window;
            # slice() clamps at the array end
            n_win = F.greatest(F.size(g) - F.lit(window) + 1, F.lit(1))
            return F.array_sort(F.array_distinct(F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(g, j, window)))))

        sel = F.element_at(F.transform(F.array(grams), select_mins), 1)
        # sequence(1, n) with n < 1 would generate a DESCENDING sequence
        # (greatest() above keeps it ascending); short docs return empty
        return F.when(n < 1, F.array().cast("array<string>")).otherwise(sel)

    out = F.element_at(
        F.transform(F.array(normalized_text_expr(text_col)), per_text), 1)
    return F.when(text_col.isNull(),
                  F.lit(None).cast("array<string>")).otherwise(out)


def blocklist_host_expr(url_col: Column) -> Column:
    """Hostname as blocklist matching sees it: lowercased, userinfo and
    port stripped, trailing FQDN dots stripped, ``www.`` KEPT (a list
    entry ``example.com`` still matches ``www.example.com`` via the
    suffix walk — stripping here would only hide an explicit
    ``www.evil.com`` listing). A safety filter must normalize the forms
    an adversary controls: ``https://x@evil.com/`` (userinfo hides the
    host from a naive authority regex) and ``https://evil.com./``
    (trailing-dot FQDN resolves identically in DNS) would otherwise
    bypass the suffix match while looking filtered. Same null contract
    as canonical_url_expr: null / non-hierarchical urls → null host,
    and null hosts are EXEMPT from blocking (unknown origin is not
    evidence of a blocked origin)."""
    auth = F.lower(F.regexp_extract(
        url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(auth, r"^.*@", "")   # userinfo (greedy: last @)
    host = F.regexp_replace(host, r":\d+$", "")  # port
    host = F.regexp_replace(host, r"\.+$", "")   # trailing FQDN dot(s)
    hierarchical = url_col.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]")
    return F.when(url_col.isNull() | ~hierarchical | (host == ""),
                  F.lit(None).cast("string")).otherwise(host)


def domain_suffixes_expr(host_col: Column) -> Column:
    """All dot-suffixes of a hostname, most-specific first:
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com] — the UT1/adult-blocklist matching rule is "any suffix of the
    host appears in the list" (lists carry registrable domains, so the
    bare-TLD element never matches in practice). Linear build: one
    split, bound once as a lambda variable (see winnow_fingerprints),
    one slice per label. Null host → ``[""]``, which matches no
    listed domain."""
    def per_parts(parts: Column) -> Column:
        n = F.size(parts)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.concat_ws(".", F.slice(parts, i, n)))

    return F.element_at(
        F.transform(F.array(F.split(host_col, r"\.")), per_parts), 1)


def filter_blocked_domains(df, blocklist, url_col: str = "url",
                           id_col: str = "doc_id", mode: str = "auto",
                           keep_host: str | None = None):
    """Drop documents whose url host (or any parent domain of it)
    appears in a domain blocklist — the UT1-category / spam-domain
    filter stage of a crawl curation pipeline.

    ``blocklist`` is a list[str] of lowercase domains or a
    DataFrame with a ``domain`` column. Dispatch (same two-tier shape
    as the ANN assignment and the Bloom bitset):

    * ``"literal"`` — small lists inline as one array literal;
      blocked = ``arrays_overlap(suffixes(host), lit(domains))``.
      Pure Column expression: zero joins, zero Python, pipelined with
      the scan.
    * ``"join"`` — production lists (UT1 is ~3M domains): explode the
      ≤ label-count suffixes per doc and LEFT SEMI join against the
      blocklist on the suffix; the list side is broadcast (tens of MB),
      so the corpus never shuffles; blocked ids then LEFT ANTI against
      the corpus. Null hosts bypass the join entirely.

    ``mode="auto"`` picks literal for ≤ 256 in-memory domains, join for
    a DataFrame blocklist. ``keep_host`` optionally retains the parsed
    host under that column name for lineage accounting.
    """
    url = F.col(url_col)
    host = blocklist_host_expr(url)
    out = df.withColumn("_bl_host", host)
    if keep_host:
        out = out.withColumn(keep_host, F.col("_bl_host"))
    suffixes = domain_suffixes_expr(F.col("_bl_host"))

    is_list = isinstance(blocklist, (list, tuple))
    if mode == "auto":
        mode = "literal" if (is_list and len(blocklist) <= 256) else "join"
    if mode == "literal":
        if not is_list:
            raise ValueError("literal mode needs an in-memory domain list")
        blocked = F.coalesce(
            F.arrays_overlap(suffixes, F.lit([d.lower() for d in blocklist])),
            F.lit(False))
        return out.where(~blocked).drop("_bl_host")
    if mode != "join":
        raise ValueError(f"unknown mode: {mode!r} (auto|literal|join)")
    if is_list:
        bl = df.sparkSession.createDataFrame(
            [(d.lower(),) for d in blocklist], "domain string")
    else:
        bl = blocklist.select(F.lower(F.col("domain")).alias("domain"))
    exploded = (out.where(F.col("_bl_host").isNotNull())
                .select(F.col(id_col), F.explode(suffixes).alias("domain")))
    blocked_ids = (exploded.join(F.broadcast(bl), "domain", "left_semi")
                   .select(id_col).distinct())
    return out.join(blocked_ids, id_col, "left_anti").drop("_bl_host")


def url_pattern_blocked_expr(patterns, url) -> Column:
    """True where the url matches ANY blocklist regex (search
    semantics, anywhere in the string — UT1-style lists carry PATH and
    QUERY patterns like ``/tag/`` or ``[?&]sessionid=`` alongside the
    domain lists ``filter_blocked_domains`` handles). Stick to the
    Java-regex/RE2 common subset (alternation, classes, anchors — no
    lookaround) so a SQL oracle can replay the rule. NULL urls are
    never blocked — same null-exempt convention as the domain stage.
    ``url`` is a column name or Column; ``patterns`` a list of regex
    strings, combined into ONE compiled alternation per task."""
    if not patterns:
        return F.lit(False)
    u = F.col(url) if isinstance(url, str) else url
    combined = "|".join(f"(?:{p})" for p in patterns)
    return F.coalesce(u.rlike(combined), F.lit(False))


def filter_blocked_url_patterns(df, patterns, url_col: str = "url"):
    """Drop documents whose url matches any blocklist regex. Pure
    column expression — zero joins, zero shuffles, pipelined with the
    scan (the regex compiles once per task, not per row). For lists
    beyond a few thousand patterns, pre-combine offline into a single
    alternation (or trie-compressed) regex; the expression shape here
    is unchanged."""
    if not patterns:
        return df
    return df.where(~url_pattern_blocked_expr(patterns, url_col))


def c4_line_keep_pred(line: Column, min_words: int = 3,
                      require_terminal: bool = True,
                      ban_substrings: tuple[str, ...] = ("javascript",)):
    """C4's per-line retention rule (Raffel et al. 2020 §2.2): a line
    survives iff it has ≥ ``min_words`` whitespace tokens, ends in
    terminal punctuation (``. ! ? "``, checked on the trimmed line),
    and contains none of ``ban_substrings`` case-insensitively
    ("javascript" in the paper — cookie/JS boilerplate). Pure
    expression, usable inside a ``filter()`` lambda."""
    t = F.trim(line)
    wc = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != F.lit("")))
    keep = wc >= F.lit(min_words)
    if require_terminal:
        keep = keep & F.substring(t, -1, 1).isin(".", "!", "?", '"')
    low = F.lower(t)
    for b in ban_substrings:
        keep = keep & ~low.contains(b.lower())
    return keep


def c4_doc_drop_pred(text_col: Column,
                     drop_brace: bool = True,
                     ban_phrases: tuple[str, ...] = ("lorem ipsum",)):
    """C4's whole-document drop rule: pages containing a curly brace
    (source code) or any banned phrase ("lorem ipsum") are removed
    outright. Null text is NOT dropped here — the quality filter owns
    the null-text policy."""
    low = F.lower(text_col)
    drop = F.lit(False)
    if drop_brace:
        drop = drop | text_col.contains("{")
    for p in ban_phrases:
        drop = drop | low.contains(p.lower())
    return F.when(text_col.isNull(), F.lit(False)).otherwise(drop)


def c4_clean(df, text_col: str = "text", min_words: int = 3,
             require_terminal: bool = True,
             ban_substrings: tuple[str, ...] = ("javascript",),
             drop_brace: bool = True,
             ban_phrases: tuple[str, ...] = ("lorem ipsum",),
             drop_empty: bool = True):
    """C4 cleaning stage: drop junk documents, then drop junk LINES
    inside the survivors and re-join the rest with newlines. This is
    the line-QUALITY half of C4; the line-DEDUP half is
    dedup.dedup_lines (three-sentence-span dedup in the paper).

    Scale: entirely narrow per-row expressions — no shuffle, no
    Python, pipelined with the scan; cost is O(bytes). Null text
    passes through unchanged (the filter pipeline owns null policy);
    docs whose every line is junk become empty and are dropped when
    ``drop_empty`` (their text was 100% boilerplate).
    """
    col = F.col(text_col)
    out = df.where(~c4_doc_drop_pred(col, drop_brace, ban_phrases))
    kept_lines = F.filter(
        F.split(col, "\n"),
        lambda ln: c4_line_keep_pred(ln, min_words, require_terminal,
                                     ban_substrings))
    cleaned = F.when(col.isNull(), F.lit(None).cast("string")) \
        .otherwise(F.array_join(kept_lines, "\n"))
    out = out.withColumn(text_col, cleaned)
    if drop_empty:
        out = out.where(col.isNull() | (F.length(col) > 0))
    return out


def rule_ablation(df, cfg=None, group_col: str = "lang",
                  text_col: str = "text"):
    """Per-rule ablation accounting for the heuristic quality filter
    (the Dolma/DCLM-style report a pipeline owner reads before tuning
    thresholds): for each rule, how many docs it blocks, how many it
    UNIQUELY blocks (no other rule fires — the docs you would get back
    by dropping the rule), and the keep rate with the rule removed.

    One scan, one codegen project (arrays bound once via
    ``with_text_stats``), ONE hash aggregate per group computing all
    9×2 per-rule sums side by side, then a ``stack`` to rows — the
    ablation of every rule costs the same single pass as scoring, not
    one pipeline run per rule (the naive N+1-runs design would be 10
    scans of a 100-TB corpus).

    Returns ``(group_col, rule, n_docs long, kept_all long, blocked
    long, uniquely_blocked long, keep_rate_without double)`` with
    ``keep_rate_without = (kept_all + uniquely_blocked) / n_docs``.
    """
    from datacanary_spark.functions.heuristics import (
        FilterConfig, heuristic_hit_exprs, stat_cols, with_text_stats)

    cfg = cfg or FilterConfig()
    from datacanary_spark.plans.partitioning import spread_to_parallelism

    # the stats projection is the expensive per-row stage: spread a
    # single-split scan across cores first (no-op at real scale)
    d = with_text_stats(spread_to_parallelism(df), text_col, prefix="_ab_")
    hits = heuristic_hit_exprs(cfg, stat_cols("_ab_"))
    nh = None
    for c in hits.values():
        nh = c if nh is None else nh + c
    per = d.select(group_col,
                   *[c.alias(n) for n, c in hits.items()],
                   nh.alias("_nh"))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_nh") == 0, 1).otherwise(0))
         .cast("long").alias("kept_all"),
    ]
    for n in hits:
        aggs.append(F.sum(n).cast("long").alias(f"_b_{n}"))
        aggs.append(
            F.sum(F.when((F.col(n) == 1) & (F.col("_nh") == 1), 1)
                  .otherwise(0)).cast("long").alias(f"_u_{n}"))
    agg = per.groupBy(group_col).agg(*aggs)
    stack_args = ", ".join(f"'{n}', _b_{n}, _u_{n}" for n in hits)
    out = agg.selectExpr(
        group_col, "n_docs", "kept_all",
        f"stack({len(hits)}, {stack_args})"
        " AS (rule, blocked, uniquely_blocked)")
    rate = (F.col("kept_all") + F.col("uniquely_blocked")) \
        / F.col("n_docs").cast("double")
    return out.select(group_col, "rule", "n_docs", "kept_all", "blocked",
                      "uniquely_blocked", rate.alias("keep_rate_without"))


def url_features(df, url_col: str = "url"):
    """Append URL-structure quality features — the URL-only prior used
    by web-curation pipelines when page content is expensive or absent
    (crawl frontier scoring, pre-fetch filtering): ``path_depth``,
    ``n_params``, ``n_host_labels``, ``digit_frac`` (digits over path
    chars — ids/hashes in paths correlate with boilerplate listings),
    ``is_index`` (root or index.* page), ``url_len``.

    Pure Column expressions over ``parse_url`` — per-row, no shuffle;
    all input columns pass through. Null or non-hierarchical urls get
    NULL features (same unknown-identity convention as
    ``canonical_url_expr``) except booleans/counts, which stay NULL
    too so rollups can exempt them explicitly.
    """
    u = F.col(url_col)
    path = F.try_parse_url(u, F.lit("PATH"))
    query = F.try_parse_url(u, F.lit("QUERY"))
    host = F.try_parse_url(u, F.lit("HOST"))
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    n_params = F.when(query.isNull() | (query == ""), F.lit(0)) \
                .otherwise(F.size(F.split(query, "&")))
    return df.select(
        "*",
        depth.alias("path_depth"),
        F.when(host.isNotNull(), n_params).alias("n_params"),
        F.size(F.split(host, r"\.")).alias("n_host_labels"),
        F.try_divide(F.regexp_count(path, F.lit("[0-9]")).cast("double"),
                     F.length(path).cast("double")).alias("digit_frac"),
        path.rlike(r"^/?(index\.(html?|php))?$").alias("is_index"),
        F.length(u).cast("long").alias("url_len"),
    )


# ---------------------------------------------------------------------------
# Script-mix signals (mixed-script spam / wrong-alphabet detection)
# ---------------------------------------------------------------------------

# Unicode SCRIPT properties (not blocks): Java spells them \p{IsX},
# RE2/DuckDB \p{X}; both count the same characters (probed: Latin,
# Cyrillic, Greek, Han, Arabic and \p{L} agree char-for-char), so the
# expression stays JVM-side AND oracle-checkable.
SCRIPTS: dict[str, str] = {
    "latin": "Latin",
    "cyrillic": "Cyrillic",
    "greek": "Greek",
    "han": "Han",
    "arabic": "Arabic",
}


def with_script_mix(df, text_col: str = "text",
                    scripts: list[str] | None = None,
                    min_frac: float = 0.05):
    """Per-script letter counts and fractions + a ``mixed_script``
    flag (≥2 scripts each holding ≥ ``min_frac`` of the letters).

    Web spam loves script mixing (Cyrillic lookalikes inside Latin
    words defeat naive keyword filters; CCNet-style pipelines flag
    wrong-alphabet text for a claimed language). All counting is
    ``regexp_count`` over script-and-letter classes (``[^\\P{X}\\P{L}]`` —
    the double-negation intersection both Java regex and RE2 accept,
    so combining marks/symbols that belong to a script but aren't
    letters can never push a fraction above 1.0) — pure codegen
    expressions, no shuffle, no Python; a 100-TB pass fuses into the
    scan stage. Adds ``letter_chars``, ``<s>_chars``/``<s>_frac`` per
    script, and ``mixed_script`` (null text → null counts, flag null).
    """
    names = list(scripts) if scripts is not None else list(SCRIPTS)
    unknown = [s for s in names if s not in SCRIPTS]
    if unknown:
        raise ValueError(f"unknown scripts {unknown}; "
                         f"known: {sorted(SCRIPTS)}")
    t = F.col(text_col)
    out = df.withColumn("letter_chars",
                        F.regexp_count(t, F.lit(r"\p{L}")))
    flags = []
    for s in names:
        chars = F.regexp_count(
            t, F.lit(f"[^\\P{{Is{SCRIPTS[s]}}}\\P{{L}}]"))
        out = out.withColumn(f"{s}_chars", chars)
        frac = F.try_divide(F.col(f"{s}_chars").cast("double"),
                            F.col("letter_chars"))
        out = out.withColumn(f"{s}_frac", frac)
        flags.append((F.col(f"{s}_frac") >= min_frac).cast("int"))
    n_sig = flags[0]
    for f_ in flags[1:]:
        n_sig = n_sig + f_
    return out.withColumn("mixed_script", n_sig >= 2)


# ---------------------------------------------------------------------------
# Per-document overlapping chunking (embedding / RAG window prep)
# ---------------------------------------------------------------------------


def chunk_documents(df, id_col: str = "doc_id", text_col: str = "text",
                    chunk_chars: int = 1000, stride: int = 800):
    """Explode each document into fixed-size character windows with
    overlap (``stride`` < ``chunk_chars``) — the standard prep before
    embedding long documents (each chunk embeds separately; the
    overlap keeps boundary context). Contrast with
    ``corpus_stats.pack_sequences``, which packs the CONCATENATED
    corpus into training windows; this one windows WITHIN a doc.

    Chunks cover [i·stride, i·stride + chunk_chars); the last chunk is
    shorter; a doc shorter than one chunk yields exactly one chunk
    (empty text included); NULL text yields no rows (nothing to
    embed). Pure narrow plan: length → sequence → explode → substr, no
    shuffle, no Python — at 10^12 docs this pipelines inside the scan,
    and output rows ≈ corpus_chars / stride regardless of doc-length
    skew (one 10-GB page explodes to rows, never to one giant task's
    state).
    """
    if chunk_chars < 1 or stride < 1:
        raise ValueError("chunk_chars and stride must be >= 1")
    if stride > chunk_chars:
        # a stride past the window leaves [i*stride+chunk, (i+1)*stride)
        # uncovered and spawns empty phantom chunks past the text end —
        # the full-coverage contract above would silently break
        raise ValueError(
            f"stride ({stride}) must be <= chunk_chars ({chunk_chars})")
    t = F.col(text_col)
    n = F.length(t)
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((n - chunk_chars) / F.lit(float(stride))) + 1)).cast("int")
    out = (df.where(t.isNotNull())
             .withColumn("chunk_ix",
                         F.explode(F.sequence(F.lit(0), n_chunks - 1))))
    start = F.col("chunk_ix") * stride + 1  # substr is 1-based
    return out.withColumn("chunk",
                          t.substr(start, F.lit(chunk_chars)))


def badword_tokens_expr(text_col: Column) -> Column:
    """Lowercased ASCII-letter tokens of a document, the token law the
    bad-words lexicon is matched against: lowercase, split on any
    non-[a-z] run, drop empties. Deliberately ASCII-only — published
    lexicons (LDNOOBW and kin) are lowercase ASCII words, and keeping
    the token alphabet to [a-z]+ makes the rule replayable verbatim in
    any SQL dialect (the oracle uses the same split regex). Null text
    → empty array (no tokens, never a hit)."""
    t = F.coalesce(text_col, F.lit(""))
    return F.filter(F.split(F.lower(t), "[^a-z]+"),
                    lambda w: w != F.lit(""))


def badword_stats_exprs(text_col: Column, lexicon) -> dict[str, Column]:
    """Per-document bad-word accounting as pure Column expressions:
    ``badword_hits`` (lexicon tokens in the doc, with multiplicity),
    ``badword_words`` (total tokens), ``badword_fraction``
    (hits/words, 0.0 for empty docs). This is the C4 "List of Dirty,
    Naughty…"-style doc-level signal: C4 drops on ANY hit
    (max_hits=0); softer pipelines drop on a hit FRACTION so a news
    report quoting one slur survives while porn spam does not.

    Literal-array membership is O(|lexicon|) per token — right for
    per-language lists (hundreds of words). For a merged multi-million
    entry list use :func:`filter_badwords` mode="join"."""
    toks = badword_tokens_expr(text_col)
    lex = sorted({w.lower() for w in lexicon})
    hits = F.size(F.filter(toks, lambda t: t.isin(*lex))) \
        if lex else F.lit(0)
    words = F.size(toks)
    frac = F.when(words > 0,
                  hits.cast("double") / words.cast("double")) \
            .otherwise(F.lit(0.0))
    return {"badword_hits": hits.cast("long"),
            "badword_words": words.cast("long"),
            "badword_fraction": frac}


def with_badword_stats(df, lexicon, text_col: str = "text",
                       mode: str = "auto", id_col: str = "doc_id"):
    """``df`` plus the three badword_stats_exprs columns.

    Dispatch (the blocklist/ANN two-tier shape):

    * ``"expr"`` — lexicon inlined as an ``isin`` literal; zero joins,
      zero Python, pipelined with the scan. Cost O(tokens·|lexicon|)
      per row: the small-lexicon fast path.
    * ``"join"`` — huge lexicons: explode tokens, INNER join against
      the broadcast lexicon (only MATCHING tokens survive the join, so
      the groupBy that recounts them shuffles hit rows only — rare by
      construction), then join the per-doc hit counts back. The
      count-back join keys on ``id_col``; the hits side is a
      broadcast-sized frame whenever bad docs are rare, and AQE picks
      that up at runtime. Token totals stay expression-side either
      way.

    ``mode="auto"``: expr for ≤ 512 words, join beyond.
    """
    is_list = isinstance(lexicon, (list, tuple, set, frozenset))
    if mode == "auto":
        mode = "expr" if (is_list and len(lexicon) <= 512) else "join"
    if mode == "expr":
        if not is_list:
            raise ValueError("expr mode needs an in-memory lexicon")
        exprs = badword_stats_exprs(F.col(text_col), lexicon)
        out = df
        for name, c in exprs.items():
            out = out.withColumn(name, c)
        return out
    if mode != "join":
        raise ValueError(f"unknown mode: {mode!r} (auto|expr|join)")
    if is_list:
        lex = df.sparkSession.createDataFrame(
            [(w.lower(),) for w in sorted({w.lower() for w in lexicon})],
            "word string")
    else:
        lex = lexicon.select(F.lower(F.col("word")).alias("word")).distinct()
    toks = badword_tokens_expr(F.col(text_col))
    base = df.withColumn("badword_words",
                         F.size(toks).cast("long"))
    hit_counts = (base.select(F.col(id_col), F.explode(toks).alias("word"))
                  .join(F.broadcast(lex), "word", "inner")
                  .groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("_bw_hits")))
    words = F.col("badword_words")
    hits = F.coalesce(F.col("_bw_hits"), F.lit(0)).cast("long")
    return (base.join(hit_counts, id_col, "left")
            .withColumn("badword_hits", hits)
            .withColumn(
                "badword_fraction",
                F.when(words > 0, hits.cast("double") / words.cast("double"))
                 .otherwise(F.lit(0.0)))
            .drop("_bw_hits"))


def filter_badwords(df, lexicon, text_col: str = "text",
                    max_hits: int | None = 0,
                    max_fraction: float | None = None,
                    mode: str = "auto", id_col: str = "doc_id",
                    keep_stats: bool = False):
    """Drop documents over the bad-word budget. Defaults to C4's
    strict rule (``max_hits=0``: any lexicon hit drops the page);
    set ``max_fraction`` (and ``max_hits=None``) for the softer
    density rule. Both set → a doc must satisfy BOTH to survive.
    Docs with no tokens (null/empty/non-ASCII text) have zero hits and
    always survive — this stage owns profanity policy, not language or
    null policy."""
    if max_hits is None and max_fraction is None:
        raise ValueError("set max_hits and/or max_fraction")
    out = with_badword_stats(df, lexicon, text_col=text_col, mode=mode,
                             id_col=id_col)
    keep = F.lit(True)
    if max_hits is not None:
        keep = keep & (F.col("badword_hits") <= max_hits)
    if max_fraction is not None:
        keep = keep & (F.col("badword_fraction") <= max_fraction)
    out = out.where(keep)
    if not keep_stats:
        out = out.drop("badword_hits", "badword_words", "badword_fraction")
    return out


def luhn_valid_expr(digits: Column) -> Column:
    """Luhn mod-10 validity of a digit-string column (ISO/IEC 7812 —
    the payment-card checksum), as a pure fold: from the right, double
    every second digit, overflow subtracts 9, sum % 10 == 0. The
    detection-only twin of ``functions.scrub.card_scrub_entry``'s
    Python validator — use it to COUNT card-shaped PII JVM-side at
    scan speed; the byte-rewriting scrub stays in the pandas UDF.
    False for non-digit strings, nulls, and non-card lengths
    (< 13 or > 19); the fold only evaluates under the gate (CaseWhen
    is lazy), so ANSI mode never sees a '' → int cast. The reversed
    string is bound once as a lambda variable (see
    winnow_fingerprints)."""
    n = F.length(digits)

    def dbl(v):
        return F.when(v >= 5, v * 2 - 9).otherwise(v * 2)

    def fold(rev: Column) -> Column:
        def d(i):
            return F.substring(rev, i, 1).cast("int")

        return F.aggregate(
            F.sequence(F.lit(1), F.length(rev)), F.lit(0),
            lambda acc, i: acc + F.when(i % 2 == 0, dbl(d(i)))
            .otherwise(d(i)))

    total = F.element_at(F.transform(F.array(F.reverse(digits)), fold), 1)
    gate = digits.isNotNull() & (n >= 13) & (n <= 19) \
        & digits.rlike("^[0-9]+$")
    return F.when(gate, total % 10 == 0).otherwise(F.lit(False))
