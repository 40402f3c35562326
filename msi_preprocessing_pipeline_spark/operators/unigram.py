"""Unigram-LM tokenizer (SentencePiece-style), fit by distributed hard EM.

Complements ``operators.bpe``: where BPE's fit collects the bounded word
histogram and merges driver-side, the unigram fit keeps the histogram
DISTRIBUTED — real corpora at 10^12 tokens have 10^7–10^8 distinct words,
too many to collect once per EM iteration — and runs each E-step as ONE
Arrow pass over the ``(word, freq)`` relation with the (vocabulary-bounded)
piece table broadcast into it:

  1. ``substring_census`` — JVM-side enumeration of every substring of
     length ≤ ``max_piece_len`` (one explode + one partial+final count
     aggregation); the seed vocabulary is the top-N multi-char substrings
     by weighted occurrence count plus ALL single characters (coverage).
  2. ``fit_unigram`` — hard-EM (Viterbi re-estimation, the standard
     approximation of Kudo 2018's E-step): each iteration broadcasts the
     current piece scores, Viterbi-segments every distinct word in a
     vectorized Arrow pass (per-batch local combine → a |pieces|-bounded
     integer aggregation), then prunes the worst multi-char pieces
     geometrically toward ``vocab_size``.  Expected counts are EXACT
     integer sums of word frequencies, so the fit is partition-, order-,
     and engine-invariant; the only floating point is the driver-side
     numpy ``ln`` over those exact counts, quantized to int64 micro-log
     units (the ``importance.dsir_weights`` λ-table pattern — bounded,
     deterministic, golden-pinnable).
  3. ``unigram_tokenize`` — map-only Arrow pass with the fitted piece
     scores broadcast as a plain dict, per-batch distinct-word cache,
     Viterbi per word; unseen characters take ``unk_id``.

Determinism contract (what lets an iterative tokenizer fit carry a
golden-pinned driver query): Viterbi DP compares exact int64 score sums
with a fixed tie order (higher score, then FEWER pieces, then the
lexicographically smallest last piece); zero-count pieces score
``_ZERO_SCORE`` (finite floor ≈ e^-10^6, reachable only when no positive
path exists); pruning and id assignment order by (count desc, piece asc).

Scale shape per EM iteration: one scan of the distinct-word histogram
(Arrow, CPU-bound, embarrassingly parallel) + one shuffle of
O(partitions × |pieces|) pre-combined count rows + one |pieces|-bounded
collect.  The corpus itself is touched exactly once (the histogram
aggregation), like ``bpe.word_frequencies``.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import _split_words

# micro-log-unit scale for piece scores: score_u = floor(ln(p)·1e9 + 0.5)
_SCORE_SCALE = 1_000_000_000
# finite floor for zero-count pieces / unseen chars: -10^6 in log space
# (≈ e^-1e6); a 400-piece word at the floor sums to -4e20 — OUTSIDE int64,
# so Viterbi accumulates in Python ints (unbounded) and only the per-piece
# score is int64-quantized.
_ZERO_SCORE = -_SCORE_SCALE * 1_000_000


class Piece(NamedTuple):
    piece: str
    piece_id: int
    count: int
    score_u: int


def substring_census(word_freqs: DataFrame,
                     max_piece_len: int = 4) -> DataFrame:
    """Weighted occurrence count of every substring of length ≤
    ``max_piece_len`` across the word histogram — each occurrence inside
    a word counts ``freq`` times (so ``'aa'`` contributes twice to
    ``'a'``).  Pure JVM: two nested ``transform``s over position/length
    sequences, one explode, one partial+final aggregation.  Output is
    bounded by Σ|w|·max_piece_len over DISTINCT words — histogram-sized,
    never corpus-sized."""
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    w = F.col("word")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(max_piece_len),
                               F.length(w) - i + 1)),
            lambda l: w.substr(i, l))))
    return (word_freqs
            .select(F.explode(subs).alias("piece"),
                    F.col("freq").cast("long").alias("freq"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("count")))


def _seed_pieces(word_freqs: DataFrame, max_piece_len: int,
                 max_seed: int) -> dict[str, int]:
    """Seed vocabulary: ALL single characters (coverage — never pruned)
    plus the top ``max_seed`` multi-char substrings by (count desc,
    piece asc).  The top-N is a ``TakeOrderedAndProject`` (per-partition
    partial top-N), not a global sort."""
    census = substring_census(word_freqs, max_piece_len)
    chars = census.where(F.length("piece") == 1).collect()
    multi = (census.where(F.length("piece") > 1)
             .orderBy(F.col("count").desc(), F.col("piece").asc())
             .limit(max_seed).collect())
    return {r["piece"]: int(r["count"]) for r in chars} | \
           {r["piece"]: int(r["count"]) for r in multi}


def _scores_from_counts(counts: dict[str, int]) -> dict[str, int]:
    """int64 micro-log scores from exact integer counts — the ONLY
    floating point in the fit, computed once per iteration driver-side
    with numpy (deterministic: a single libm, never cross-engine)."""
    import numpy as np

    total = sum(counts.values())
    out = {}
    for p, c in counts.items():
        if c > 0:
            out[p] = int(np.floor(
                (np.log(np.float64(c)) - np.log(np.float64(total)))
                * _SCORE_SCALE + 0.5))
        else:
            out[p] = _ZERO_SCORE
    return out


def viterbi_segment(word: str, scores: dict[str, int],
                    max_piece_len: int) -> list[str]:
    """Best segmentation of ``word`` under int64 piece scores: maximize
    (Σ score, then −#pieces, then lexicographically smallest last piece,
    applied left to right by DP).  Characters absent from ``scores``
    fall back to ``_ZERO_SCORE`` singletons, so every word segments.
    Shared by the fit UDF, the tokenize UDF, and the tests."""
    n = len(word)
    # best[i] = (score, -npieces, piece_ending_here, prev_index)
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = (0, 0, "", 0)
    for i in range(1, n + 1):
        cur = None
        for l in range(1, min(max_piece_len, i) + 1):
            prev = best[i - l]
            if prev is None:
                continue
            piece = word[i - l:i]
            s = scores.get(piece)
            if s is None:
                if l > 1:
                    continue
                s = _ZERO_SCORE
            key = (prev[0] + s, prev[1] - 1)
            if cur is None or key > cur[:2] or \
                    (key == cur[:2] and piece < cur[2]):
                cur = (key[0], key[1], piece, i - l)
        best[i] = cur
    out: list[str] = []
    i = n
    while i > 0:
        _, _, piece, prev = best[i]
        out.append(piece)
        i = prev
    out.reverse()
    return out


def _estep_counts(word_freqs: DataFrame, scores: dict[str, int],
                  max_piece_len: int) -> DataFrame:
    """ONE Arrow pass: Viterbi-segment every distinct word, emit
    per-batch locally-combined (piece, count·freq) partials, reduce with
    one |pieces|-bounded integer aggregation."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            local: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                for piece in viterbi_segment(word, scores, max_piece_len):
                    local[piece] = local.get(piece, 0) + int(freq)
            yield pd.DataFrame({"piece": list(local.keys()),
                                "cnt": list(local.values())})

    parts = word_freqs.select("word", F.col("freq").cast("long")) \
        .mapInPandas(run, schema="piece string, cnt long")
    return parts.groupBy("piece").agg(F.sum("cnt").alias("count"))


def fit_unigram(word_freqs: DataFrame, vocab_size: int = 512,
                n_iters: int = 3, max_piece_len: int = 4,
                max_seed: int = 4096,
                prune_frac: float = 0.25) -> list[Piece]:
    """Fit a unigram-LM piece vocabulary over a word-frequency relation.

    ``vocab_size`` bounds the MULTI-CHAR piece count; every single
    character seen in the corpus is always kept (coverage guarantee, as
    SentencePiece's required-char set).  Runs ``n_iters`` hard-EM
    iterations, pruning the lowest-count multi-char pieces geometrically
    (``prune_frac`` per iteration) toward ``vocab_size``, with a final
    exact cut.  Returns pieces ordered by (count desc, piece asc) with
    ids starting at 1 (0 is the tokenize-time unk id)."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not 0 < prune_frac < 1:
        raise ValueError(f"prune_frac must be in (0,1), got {prune_frac}")
    # persist the histogram: the seed census + every EM iteration scans
    # it — without this each .collect() re-runs the corpus aggregation
    # word_freqs was derived from (n_iters+1 corpus scans at 100 TB)
    word_freqs = word_freqs.persist()
    try:
        counts = _seed_pieces(word_freqs, max_piece_len, max_seed)
        chars = {p for p in counts if len(p) == 1}
        for it in range(n_iters):
            scores = _scores_from_counts(counts)
            observed = {r["piece"]: int(r["count"])
                        for r in _estep_counts(word_freqs, scores,
                                               max_piece_len).collect()}
            # unobserved pieces drop to 0 (chars kept at 0 for coverage)
            counts = {p: observed.get(p, 0) for p in counts}
            multi = sorted(((p, c) for p, c in counts.items()
                            if p not in chars),
                           key=lambda kv: (-kv[1], kv[0]))
            keep = vocab_size if it == n_iters - 1 else \
                max(vocab_size, int(len(multi) * (1 - prune_frac)))
            counts = {p: counts[p] for p in chars} | dict(multi[:keep])
    finally:
        word_freqs.unpersist()
    scores = _scores_from_counts(counts)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [Piece(p, i + 1, c, scores[p])
            for i, (p, c) in enumerate(ordered)]


def unigram_tokenize(docs: DataFrame, pieces: list[Piece],
                     text_col: str = "text", id_col: str = "doc_id",
                     source_col: str = "source", unk_id: int = 0,
                     max_piece_len: int | None = None) -> DataFrame:
    """Tokenize documents with a fitted unigram vocabulary: ONE map-only
    Arrow pass (zero exchanges on corpus rows), per-batch distinct-word
    cache, Viterbi per word under the broadcast piece scores.  Unseen
    characters emit ``unk_id``.  Docs with null/empty text are KEPT with
    ``tokens = []``."""
    import pandas as pd

    if max_piece_len is None:
        max_piece_len = max((len(p.piece) for p in pieces), default=1)
    scores = {p.piece: p.score_u for p in pieces}
    ids = {p.piece: p.piece_id for p in pieces}
    has_source = source_col in docs.columns
    cols = [id_col, text_col] + ([source_col] if has_source else [])

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[int]] = {}

        def word_ids(word: str) -> list[int]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = [
                    ids.get(p, unk_id)
                    for p in viterbi_segment(word, scores, max_piece_len)]
            return got

        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                if text is None:
                    toks.append([])
                    continue
                out: list[int] = []
                for w in _split_words(text):
                    out.extend(word_ids(w))
                toks.append(out)
            data = {id_col: pdf[id_col], "tokens": toks,
                    "n_tok": [len(t) for t in toks]}
            if has_source:
                data[source_col] = pdf[source_col]
            yield pd.DataFrame(data)

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, tokens array<int>, n_tok int"
    if has_source:
        schema += f", {source_col} string"
    return docs.select(*cols).mapInPandas(enc, schema=schema)
