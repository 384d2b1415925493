"""Distributed Unigram-LM subword tokenizer training and tokenization
(Kudo 2018, "Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates" — the
SentencePiece ``--model_type=unigram`` algorithm).

The second production tokenizer family next to BPE (``operators/
bpe.py``): where BPE composes a vocabulary bottom-up by greedy merges,
Unigram starts from a LARGE seed lexicon of frequent substrings and
prunes it top-down under an EM-fitted unigram language model, keeping
the tokens that carry the most likelihood. Together the two cover how
essentially every modern LLM tokenizer is trained.

The reference repo (a single-process pandas profiler,
``/root/reference/src/datacanary``) has no tokenizer surface; this
module belongs to the LLM-data-pipeline extension (SURVEY.md §2).

Scale shape (10^12 docs) — same split as BPE, "corpus work on the
cluster, vocabulary work on the driver":

* ``word_freqs`` (shared with BPE) is the ONE corpus-sized pass:
  explode + map-side-combined hash aggregation, shuffle volume =
  |vocabulary| (Heaps' law), not |token stream|.
* ``substring_counts`` runs over the aggregated (word, count) table:
  per word it explodes the O(len·max_len) substrings, weighted by the
  word's corpus frequency — vocabulary-sized × ~50, never
  corpus-sized. One further aggregation gives seed-candidate scores.
* ``train_unigram`` caps both tables deterministically
  (``TakeOrderedAndProject`` head, like ``learn_bpe_merges``) and runs
  the EM loop on the driver over ≤ ``max_vocab`` words — bounded cost
  REGARDLESS of corpus size. The E-step is hard-EM (Viterbi counts):
  each word's single best segmentation under the current model,
  weighted by word frequency; the M-step re-normalizes token counts;
  pruning then drops the lowest-probability multi-char tokens in
  deterministic (prob asc, token desc) order, ``prune_frac`` at a
  time, re-fitting between rounds until ``vocab_size`` holds.
  SentencePiece's soft-EM (forward-backward expected counts) differs
  only in the E-step statistics — the documented trade here is a
  deterministic, dependency-free driver loop.
* ``apply_unigram`` is the scale path back out: the (token → logprob)
  table ships once per executor inside a scalar Arrow pandas UDF (only
  the text column crosses the Python boundary), with the same bounded
  per-task word→tokens memo as ``apply_bpe`` — Zipf repetition makes
  tokenization per-DISTINCT-word work.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from datacanary_spark.operators.bpe import word_freqs, word_tokenizer_udf

__all__ = ["substring_counts", "train_unigram", "viterbi_segment",
           "apply_unigram"]


def substring_counts(df: DataFrame, text_col: str = "text",
                     max_len: int = 8,
                     group_cols: Sequence[str] = ()) -> DataFrame:
    """Seed-lexicon candidate statistics: every substring of every word
    up to ``max_len`` chars, weighted by word frequency —
    ``(*group_cols, sub, sub_count)``.

    Runs over the ``word_freqs`` table, so the explode is
    vocabulary-sized × O(mean_len · max_len), never corpus-sized.
    """
    return _substring_counts_from_wf(
        word_freqs(df, text_col, group_cols), max_len, group_cols)


def _substring_counts_from_wf(wf: DataFrame, max_len: int,
                              group_cols: Sequence[str] = ()) -> DataFrame:
    """``substring_counts`` over an already-aggregated ``(w, c)`` table
    — lets ``train_unigram`` derive both of its heads from ONE
    ``word_freqs`` pass. The nested transform/flatten stays
    whole-stage-codegen'd JVM work: ``w`` is a bound ref and its length
    is bound once as a lambda variable (no unbound-subtree
    re-evaluation — see ``heuristics.ngrams_expr``'s caveat).
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    w = F.col("w")

    # starts i = 1..len; lengths L = 1..min(max_len, len-i+1)
    def per_len(n: Column) -> Column:
        return F.flatten(F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_len), n - i + 1)),
                lambda L: w.substr(i, L))))

    subs = F.element_at(F.transform(F.array(F.length(w)), per_len), 1)
    rows = wf.select(*group_cols, F.col("c"),
                     F.explode(subs).alias("sub"))
    return (rows.groupBy(*group_cols, "sub")
            .agg(F.sum("c").alias("sub_count")))


def viterbi_segment(word: str, logp: dict[str, float],
                    max_len: int) -> tuple[str, ...]:
    """Single best segmentation of ``word`` under a unigram model:
    maximize the sum of token log-probs via the classic O(len·max_len)
    DP. Ties break toward FEWER tokens, then lexicographically larger
    token at each boundary (deterministic; matches the driver E-step
    exactly — ``apply_unigram`` reuses this function verbatim).

    Characters absent from the lexicon fall back to a floor log-prob
    (min(logp) - 10) so any word segments; the trainer always keeps
    every single character seen, so the fallback only fires on unseen
    text at apply time.
    """
    n = len(word)
    if n == 0:
        return ()
    floor = (min(logp.values()) if logp else 0.0) - 10.0
    # best[i] = (score, n_tokens, token ending at i) for word[:i]
    NEG = float("-inf")
    best_score = [NEG] * (n + 1)
    best_ntok = [0] * (n + 1)
    best_tok = [""] * (n + 1)
    best_score[0] = 0.0
    for i in range(1, n + 1):
        for L in range(1, min(max_len, i) + 1):
            tok = word[i - L:i]
            lp = logp.get(tok)
            if lp is None:
                if L != 1:
                    continue
                lp = floor  # single-char fallback keeps every word segmentable
            prev = best_score[i - L]
            if prev == NEG:
                continue
            s = prev + lp
            cand = (s, -(best_ntok[i - L] + 1), tok)
            have = (best_score[i], -best_ntok[i], best_tok[i])
            if best_score[i] == NEG or cand > have:
                best_score[i] = s
                best_ntok[i] = best_ntok[i - L] + 1
                best_tok[i] = tok
    out: list[str] = []
    i = n
    while i > 0:
        tok = best_tok[i]
        out.append(tok)
        i -= len(tok)
    out.reverse()
    return tuple(out)


def train_unigram(df: DataFrame, vocab_size: int,
                  text_col: str = "text", max_len: int = 8,
                  seed_size: int = 100_000, max_vocab: int = 100_000,
                  n_iters: int = 2, prune_frac: float = 0.75
                  ) -> dict[str, float]:
    """Train a Unigram-LM lexicon: returns ``{token: logprob}`` of size
    ≤ ``vocab_size`` (plus every single character seen, which is never
    pruned — SentencePiece's "required characters" rule, so any word
    stays segmentable).

    Distributed part: ``substring_counts`` (seed candidates) and
    ``word_freqs`` (EM corpus), each capped to a deterministic head —
    (count desc, key asc) via ``TakeOrderedAndProject`` — so BOTH
    driver collects are bounded regardless of corpus size. Driver part:
    ``n_iters`` rounds of {hard-E: Viterbi-segment each of ≤ max_vocab
    words under the current model, accumulate frequency-weighted token
    counts; M: renormalize to log-probs}, then prune rounds — drop the
    lowest-prob multi-char tokens (prob asc, token desc), keeping
    ``prune_frac`` of them per round but never fewer than the target,
    with one E+M re-fit after each drop — until ``vocab_size`` holds.

    Deterministic everywhere: capped heads tie-break on the key, the
    Viterbi tie-break is pinned, pruning order is total.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not 0.0 < prune_frac < 1.0:
        raise ValueError(f"prune_frac must be in (0, 1), got {prune_frac}")
    # ONE corpus-sized pass: both heads (seed substrings, EM words)
    # derive from the same persisted word_freqs table — vocabulary-
    # sized blocks with a deterministic lifetime (both collects happen
    # right here, so the unpersist point is safe; cf. plans/caching.py)
    wf = word_freqs(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cand = _substring_counts_from_wf(wf, max_len)
        seed_head = (cand.orderBy(F.col("sub_count").desc(),
                                  F.col("sub").asc())
                     .limit(seed_size).collect())
        wf_head = (wf.orderBy(F.col("c").desc(), F.col("w").asc())
                   .limit(max_vocab).collect())
    finally:
        wf.unpersist()
    words = {r["w"]: int(r["c"]) for r in wf_head}

    # seed model: relative substring frequencies; single chars of the
    # capped corpus are always present (required-characters rule, so
    # every word stays segmentable even past the seed cap)
    counts = {r["sub"]: float(r["sub_count"]) for r in seed_head}
    for w in words:
        for ch in w:
            counts.setdefault(ch, 1.0)
    required = {t for t in counts if len(t) == 1}

    def renorm(cnt: dict[str, float]) -> dict[str, float]:
        total = sum(cnt.values())
        return {t: math.log(c / total) for t, c in cnt.items()}

    def em(model: dict[str, float]) -> dict[str, float]:
        """One hard-E + M round: Viterbi counts → renormalized probs.
        Tokens no Viterbi path uses die unless required (their count
        re-seeds at 1 so the char floor never takes over training)."""
        cnt: dict[str, float] = {}
        for w, c in words.items():
            for t in viterbi_segment(w, model, max_len):
                cnt[t] = cnt.get(t, 0.0) + c
        for t in required:
            cnt.setdefault(t, 1.0)
        return renorm(cnt)

    logp = renorm(counts)
    for _ in range(max(1, n_iters)):
        logp = em(logp)
    budget = max(vocab_size - len(required), 0)
    while True:
        multi = [t for t in logp if t not in required]
        if len(multi) <= budget:
            break
        # keep prune_frac of the multi-char tokens (always at least one
        # fewer — guaranteed progress), floored at the target budget
        keep_n = max(min(int(len(multi) * prune_frac),
                         len(multi) - 1), budget)
        multi.sort(key=lambda t: (logp[t], [-ord(ch) for ch in t]))
        dead = set(multi[:len(multi) - keep_n])
        logp = em({t: p for t, p in logp.items() if t not in dead})
    return logp


def apply_unigram(df: DataFrame, logp: dict[str, float],
                  max_len: int = 8, text_col: str = "text",
                  out_col: str = "unigram_tokens") -> DataFrame:
    """Tokenize ``text_col`` with a trained unigram lexicon: adds
    ``out_col array<string>`` (null text → null tokens). Plan shape and
    lifecycle: see ``bpe.word_tokenizer_udf`` — the one shared apply
    scaffold, reusing the driver ``viterbi_segment`` verbatim so
    executor==driver segmentation is definitional."""
    model = dict(logp)
    tokenize = word_tokenizer_udf(
        lambda w: viterbi_segment(w, model, max_len))
    return df.withColumn(out_col, tokenize(F.col(text_col)))
