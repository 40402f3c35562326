"""N-gram language-model statistics over token arrays.

The canonical input is the pre-tokenized training-sequence table
``(doc_id, tokens: array<int>, n_tok, source)`` — the same shape
:func:`..unigram.unigram_tokenize` emits.  On top of it this module builds the
corpus-statistics passes a training-data pipeline runs at scale:

* :func:`hash_tokenize` — a deterministic hashing word tokenizer that
  derives the canonical table from raw text with zero Python (the md5
  idiom shared with ``operators.sampling`` / ``operators.encoding``, so
  every downstream result is SQL-oracle-able bit-for-bit),
* :func:`bigram_counts` / :func:`unigram_counts` — corpus n-gram
  histograms (one map-side-combined shuffle each),
* :func:`lm_score` — per-document add-k-smoothed bigram
  negative-log-likelihood, the CCNet-style (Wenzek et al. 2020)
  perplexity quality filter,
* :func:`kn_score` — interpolated Kneser–Ney bigram scoring (the KenLM
  default smoothing) with continuation probabilities,
* :func:`similar_doc_pairs` — all-pairs TF-IDF cosine similarity via
  the df-bounded inverted-index self-join (Bayardo et al. 2007),
* :func:`pmi_bigrams` — pointwise mutual information over adjacent
  token pairs (the association score word-embedding pipelines factorize),
* :func:`context_target_pairs` — fixed-window (context, next-token)
  training-pair generation, pure JVM array ops.

Reference parity: the reference pipeline models per-spectrum intensity
structure with GMM components (``components/spectrum/model.py``); this
module is the token-payload analogue — corpus-level distribution models
scored back onto every row — recast as DataFrame aggregations.

Scale notes (10^12 sequences): every aggregation here partially
aggregates map-side before its single exchange; count relations are
bounded by *observed* n-gram types, not corpus rows; joins of counts
back onto exploded token rows are plain hash joins AQE can broadcast
when the vocabulary is small.  Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.util import md5_bucket

# Explicit whitespace class, NOT \s: Java's \s includes \x0B (vertical
# tab) while DuckDB/RE2's does not, so a document containing \v would
# tokenize differently across engines under \s+. The explicit class is
# mirrored verbatim in the DuckDB oracle (_SQL_TOK).
WS_CLASS = r"[ \t\n\x0B\f\r]+"


# ---------------------------------------------------------------------------
# deterministic hashing tokenizer


def _hash_token(word: Column, vocab_size: int, seed: int) -> Column:
    """md5-bucket a word to ``[0, vocab_size)`` — identical integers in
    Spark, DuckDB and Python (shared ``util.md5_bucket`` idiom)."""
    return md5_bucket(F.concat(word, F.lit(f":{seed}")),
                      vocab_size).cast("int")


def hash_tokenize(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", vocab_size: int = 1 << 16,
                  seed: int = 0, keep_cols=()) -> DataFrame:
    """Deterministic hashing word tokenizer: lowercased whitespace words
    → md5 hash buckets.  Emits the canonical pre-tokenized table
    ``(id, tokens: array<int>, n_tok: int, *keep_cols)``.

    Null / empty / whitespace-only text keeps its row with ``tokens =
    []`` and ``n_tok = 0`` (no silent drops).  Map-only — a single
    projection over 10^12 rows, no shuffle, no Python.
    """
    words = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                WS_CLASS),
        lambda w: w != F.lit(""))
    tokens = F.transform(words, lambda w: _hash_token(w, vocab_size, seed))
    return df.select(
        F.col(id_col),
        tokens.alias("tokens"),
        F.size(tokens).alias("n_tok"),
        *[F.col(c) for c in keep_cols])


# ---------------------------------------------------------------------------
# n-gram histograms


def _bigram_structs(tokens_col: str) -> Column:
    """array<struct<pos,a,b>> of adjacent pairs; ``pos`` is the 1-based
    position of ``a``.  Null token arrays yield null (explode drops)."""
    col = F.col(tokens_col)
    sliced = F.slice(col, 1, F.greatest(F.size(col) - 1, F.lit(0)))
    return F.transform(
        sliced,
        lambda x, i: F.struct((i + 1).cast("int").alias("pos"),
                              x.alias("a"),
                              F.element_at(col, i + 2).alias("b")))


def doc_bigrams(df: DataFrame, tokens_col: str = "tokens",
                id_col: str = "doc_id") -> DataFrame:
    """Explode each document's adjacent token pairs:
    ``(id, pos, a, b)`` with ``pos`` the 1-based position of ``a``.
    Documents with fewer than two tokens emit no rows."""
    pairs = _bigram_structs(tokens_col)
    return (df.select(F.col(id_col), F.explode(pairs).alias("bg"))
            .select(id_col, "bg.pos", "bg.a", "bg.b"))


def bigram_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Corpus bigram histogram ``(a, b, c)``.  One map-side-combined
    shuffle; output cardinality is bounded by observed bigram types."""
    pairs = _bigram_structs(tokens_col)
    return (df.select(F.explode(pairs).alias("bg"))
            .groupBy(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
            .agg(F.count("*").alias("c")))


def unigram_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Corpus unigram histogram ``(t, c)``."""
    return (df.select(F.explode(F.col(tokens_col)).alias("t"))
            .groupBy("t").agg(F.count("*").alias("c")))


# ---------------------------------------------------------------------------
# add-k bigram LM scoring (perplexity quality filter)


def lm_score(df: DataFrame, tokens_col: str = "tokens",
             id_col: str = "doc_id", k: float = 0.5,
             vocab_size: int = 1 << 16,
             counts: DataFrame | None = None,
             scale: int | None = None) -> DataFrame:
    """Per-document add-k-smoothed bigram negative log-likelihood — the
    CCNet-style LM quality score (low = fluent under the corpus model).

    ``P(b|a) = (c(a,b) + k) / (c(a,·) + k·V)`` where ``c(a,·)`` is the
    count of ``a`` as a bigram *first* token (so the conditional is
    exactly normalized over the V-token vocabulary) and ``V`` is
    ``vocab_size``.  Returns one row per input document:
    ``(id, n_bigrams, sum_lnp, nll)`` with ``nll = -sum_lnp/n_bigrams``;
    documents with fewer than two tokens keep their row with
    ``n_bigrams = 0`` and null scores (no silent drops).

    ``counts`` lets a model fitted on one corpus score another (the
    standard held-out perplexity filter); by default the corpus scores
    itself.  Unseen bigrams under external counts back off to
    ``c(a,b) = 0`` / ``c(a,·) = 0`` via the smoothing.

    Plan shape: doc-bigram explode → two hash joins against the
    (observed-bigram-bounded) count relations — AQE broadcasts them when
    small — → one per-doc partial-aggregated sum.  No Python, no
    driver-side state.

    ``scale`` (e.g. 9): each per-bigram ``ln p`` — a deterministic
    scalar of exact integer counts — is quantized to
    ``floor(lnp·10^s + 0.5)`` and summed as exact integers, removing
    the float-sum combine-order hazard; ``sum_lnp`` is then within
    ``n_bigrams·10^-s`` of the raw value.
    """
    # NOTE (r6): materializing `big` and deriving the self-scored
    # histogram from it (one explode pass instead of two) was tried and
    # REVERTED: the eager checkpoint forces full evaluation, defeating
    # the count-time column pruning lazy consumers get, and measured a
    # net loss on the count-driven bench (0.33 -> 0.9 s) — the lazy
    # double explode is the better trade for partial consumers
    big = doc_bigrams(df, tokens_col, id_col)
    cnt_ab = (counts if counts is not None
              else bigram_counts(df, tokens_col))
    # conditioning counts from the SAME relation so the model normalizes
    cnt_a = cnt_ab.groupBy("a").agg(F.sum("c").alias("c_a"))
    lnp = F.log((F.coalesce(F.col("c"), F.lit(0)).cast("double")
                 + F.lit(float(k)))
                / (F.coalesce(F.col("c_a"), F.lit(0)).cast("double")
                   + F.lit(float(k) * int(vocab_size))))
    if scale is None:
        lnp_sum = F.sum(lnp).alias("__slnp")
        unq = F.col("__slnp")
    else:
        from ..functions.util import quantize
        lnp_sum = F.sum(quantize(lnp, scale)).alias("__slnp")
        unq = F.col("__slnp").cast("double") / F.lit(float(10 ** scale))
    scored = (big.join(cnt_ab, ["a", "b"], "left")
              .join(cnt_a, ["a"], "left")
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"), lnp_sum))
    out = (df.select(id_col)
           .join(scored.select(id_col, "n_bigrams",
                               unq.alias("sum_lnp")), [id_col], "left")
           .select(F.col(id_col),
                   F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                   F.col("sum_lnp"),
                   (-F.col("sum_lnp")
                    / F.col("n_bigrams").cast("double")).alias("nll")))
    return out


# ---------------------------------------------------------------------------
# Kneser–Ney smoothed bigram scoring


def kn_score(df: DataFrame, tokens_col: str = "tokens",
             id_col: str = "doc_id", discount: float = 0.75,
             counts: DataFrame | None = None,
             scale: int | None = None) -> DataFrame:
    """Per-document interpolated Kneser–Ney bigram negative
    log-likelihood — the smoothing the strong count-based LM filters use
    (Kneser & Ney 1995; the KenLM default), upgrading :func:`lm_score`'s
    add-k with continuation probabilities:

    ``P(b|a) = (max(c(a,b) − d, 0) + d·N1+(a·)·P_cont(b)) / c(a·)``
    with ``P_cont(b) = N1+(·b) / N1+(··)`` where ``N1+(a·)`` counts
    distinct continuations of ``a``, ``N1+(·b)`` distinct predecessors of
    ``b``, and ``N1+(··)`` the number of distinct bigram types.

    All five inputs per bigram are exact integers; ``d`` defaults to
    0.75 (exact in binary), so the per-bigram probability is a fixed
    IEEE-double expression tree over exact integers — engine-reproducible
    when the SQL oracle mirrors the same association order.

    Returns one row per input document ``(id, n_bigrams,
    n_oov_bigrams, sum_lnp, nll)``; docs with fewer than two tokens
    keep their row with ``n_bigrams = 0`` and null scores.  ``scale``
    quantizes each per-bigram ``ln p`` to ``floor(lnp·10^s + 0.5)`` and
    sums exact integers (the :func:`lm_score` combine-order rule).

    ``counts`` injects a pre-materialized (persisted / written) bigram
    histogram ``(a, b, c)`` — the 100-TB shape, where the model is
    built once and reused — leaving a single corpus pass for the
    scoring explode.  Under an external model, an unseen PAIR whose
    context and continuation words are both known gets the interpolated
    continuation mass (``c(a,b) = 0`` in the formula); a bigram whose
    context has no model mass (``c(a·)`` unknown) or whose continuation
    word was never seen (``N1+(·b)`` unknown) has NO finite KN
    probability — those are counted in ``n_oov_bigrams`` and EXCLUDED
    from ``sum_lnp``/``nll`` (never silently dropped; ``nll`` averages
    over the ``n_bigrams − n_oov_bigrams`` scored ones).  Self-scoring
    (``counts=None``) has ``n_oov_bigrams = 0`` by construction.

    Plan shape, self-scoring: all four model marginals ride ONE
    histogram lineage — ``c_a``/``N1+(a·)``/``N1+(·b)`` as two window
    specs over the |bigram types|-bounded count relation (Catalyst does
    NOT reuse the corpus-histogram exchange across separate ``groupBy``
    branches — the branchy formulation re-scanned the corpus 6×,
    measured) — so the corpus is read once for scoring, once for the
    histogram, and once for the 1-row ``N1+(··)`` broadcast; one
    corpus-sized hash join (AQE broadcasts the enriched count side when
    small), one per-doc partial agg.  With ``counts`` injected the
    marginals come from three aggregation branches over the
    caller-materialized histogram (each branch re-reads IT, not the
    corpus) and the pair join is a LEFT join so unseen pairs survive to
    the oov accounting.
    """
    # same lazy-shape note as lm_score (r6): the materialized-once
    # variant measured a count-bench loss; keep the lazy explodes
    big = doc_bigrams(df, tokens_col, id_col)
    if counts is None:
        cnt_ab = bigram_counts(df, tokens_col)
        w_a = Window.partitionBy("a")
        w_b = Window.partitionBy("b")
        enriched = cnt_ab.select(
            "a", "b", "c",
            F.sum("c").over(w_a).alias("c_a"),
            F.count("*").over(w_a).alias("n1a"),
            F.count("*").over(w_b).alias("n1b"))
        joined = big.join(enriched, ["a", "b"])
    else:
        cnt_ab = counts
        cnt_a = cnt_ab.groupBy("a").agg(F.sum("c").alias("c_a"),
                                        F.count("*").alias("n1a"))
        n1b = cnt_ab.groupBy("b").agg(F.count("*").alias("n1b"))
        joined = (big.join(cnt_ab, ["a", "b"], "left")
                  .join(cnt_a, ["a"], "left")
                  .join(n1b, ["b"], "left"))
    tot = cnt_ab.agg(F.count("*").alias("n1t"))
    d = F.lit(float(discount))
    # association mirrored verbatim in the SQL oracle: the continuation
    # ratio divides FIRST, then two explicit multiplies, then the add
    p = ((F.greatest(F.coalesce(F.col("c"), F.lit(0)).cast("double") - d,
                     F.lit(0.0))
          + (d * F.col("n1a").cast("double"))
          * (F.col("n1b").cast("double") / F.col("n1t").cast("double")))
         / F.col("c_a").cast("double"))
    known = F.col("c_a").isNotNull() & F.col("n1b").isNotNull()
    lnp = F.when(known, F.log(p))
    if scale is None:
        lnp_sum = F.sum(lnp).alias("__slnp")
        unq = F.col("__slnp")
    else:
        from ..functions.util import quantize
        lnp_sum = F.sum(F.when(known, quantize(lnp, scale))) \
            .alias("__slnp")
        unq = F.col("__slnp").cast("double") / F.lit(float(10 ** scale))
    scored = (joined
              .crossJoin(F.broadcast(tot))
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum(F.when(known, 0).otherwise(1)).alias("__oov"),
                   lnp_sum))
    n_scored = (F.col("n_bigrams") - F.col("n_oov_bigrams"))
    return (df.select(id_col)
            .join(scored.select(id_col, "n_bigrams",
                                F.col("__oov").alias("n_oov_bigrams"),
                                unq.alias("sum_lnp")), [id_col], "left")
            .select(F.col(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce("n_oov_bigrams", F.lit(0))
                    .cast("long").alias("n_oov_bigrams"),
                    F.col("sum_lnp"),
                    F.when(n_scored > 0,
                           -F.col("sum_lnp") / n_scored.cast("double"))
                    .alias("nll")))


# ---------------------------------------------------------------------------
# PMI association scores


def pmi_bigrams(df: DataFrame, tokens_col: str = "tokens",
                min_count: int = 2) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs:
    ``pmi(a,b) = ln(c(a,b)·N / (c(a,·)·c(·,b)))`` with ``N`` the total
    bigram count and the marginals taken over the same bigram relation
    (so Σ p(a,·) = Σ p(·,b) = 1 exactly).

    ``min_count`` filters rare pairs AFTER the marginals are computed
    from the full histogram (filtering first would bias N and the
    marginals).  Products are evaluated in double space —
    ``c·N`` can exceed int64 at corpus scale — with one IEEE-determined
    expression shape so any SQL engine reproduces it bit-for-bit.

    Plan shape: bigram histogram (one shuffle) → two vocabulary-bounded
    marginal aggregations joined back (AQE broadcasts them) → 1-row N
    aggregate entering via broadcast cross join (composition stays lazy —
    no eager count job, cf. ``text.tfidf_top_terms``).
    """
    # the histogram feeds FOUR branches (both marginals, the total, the
    # join probe): materialize once — each lazy reference re-ran the
    # corpus explode+aggregate
    cnt = bigram_counts(df, tokens_col).localCheckpoint()
    left = cnt.groupBy("a").agg(F.sum("c").alias("c_a"))
    right = cnt.groupBy("b").agg(F.sum("c").alias("c_b"))
    total = cnt.agg(F.sum("c").alias("_n_big"))
    pmi = F.log((F.col("c").cast("double") * F.col("_n_big").cast("double"))
                / (F.col("c_a").cast("double")
                   * F.col("c_b").cast("double")))
    return (cnt.join(left, "a").join(right, "b")
            .crossJoin(F.broadcast(total))
            .where(F.col("c") >= F.lit(int(min_count)))
            .select("a", "b", "c", "c_a", "c_b", pmi.alias("pmi")))


# ---------------------------------------------------------------------------
# (context, target) training pairs


def context_target_pairs(df: DataFrame, context_len: int = 4,
                         tokens_col: str = "tokens",
                         id_col: str = "doc_id") -> DataFrame:
    """Fixed-window language-model training pairs: for every position
    ``pos`` (1-based) with a full ``context_len`` prefix, emit
    ``(id, pos, context: array<int>, target: int)`` where ``context``
    is the ``context_len`` tokens immediately before ``pos``.

    Documents with ``n_tok <= context_len`` emit no rows (stated, not
    silent: there is no full context to train on — pad upstream if
    partial contexts are wanted).  Pure JVM ``sequence``/``slice``
    array ops — a map-only explode, no shuffle, no Python; at 10^12
    sequences this is the shape you fan straight into a writer.
    """
    if context_len < 1:
        raise ValueError(f"context_len must be >= 1, got {context_len}")
    col = F.col(tokens_col)
    # target positions context_len+1 .. n_tok (1-based); Spark's
    # sequence(start, stop) DESCENDS when stop < start, so guard short docs
    positions = F.when(
        F.size(col) >= F.lit(context_len + 1),
        F.sequence(F.lit(context_len + 1), F.size(col))
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.select(F.col(id_col),
                         col.alias("__toks"),
                         F.explode(positions).alias("pos"))
    return exploded.select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.slice(F.col("__toks"), F.col("pos") - F.lit(context_len),
                F.lit(context_len)).alias("context"),
        F.element_at(F.col("__toks"), F.col("pos")).alias("target"))


# ---------------------------------------------------------------------------
# OOV / vocabulary coverage


def oov_rate(df: DataFrame, vocab: DataFrame, tokens_col: str = "tokens",
             id_col: str = "doc_id", vocab_col: str = "t") -> DataFrame:
    """Per-document out-of-vocabulary statistics against a vocabulary
    relation: ``(id, n_tok, n_oov, oov_rate)``.

    Counts are over token *occurrences* (not types).  Implemented as an
    explode → left join → re-aggregate: the vocabulary join is a plain
    hash join left UNHINTED — AQE broadcasts a genuinely-small vocab at
    runtime, and a multi-GB vocabulary relation must not be forced onto
    the driver (cf. the round-3 ngram_jaccard_pairs finding).  The
    per-doc sum partially aggregates map-side.  Empty/null token arrays
    keep their row with zero counts.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col).alias("__t"))
    marked = (toks.join(vocab.select(
                  F.col(vocab_col).alias("__t"),
                  F.lit(1).alias("__in"))
              .dropDuplicates(["__t"]), ["__t"], "left"))
    per_doc = (marked.groupBy(id_col)
               .agg(F.count("*").alias("n_tok"),
                    F.sum(F.when(F.col("__in").isNull(), 1)
                          .otherwise(0)).alias("n_oov")))
    return (df.select(id_col).join(per_doc, [id_col], "left")
            .select(F.col(id_col),
                    F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
                    F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
                    F.when(F.coalesce("n_tok", F.lit(0)) == 0, F.lit(None))
                    .otherwise(F.col("n_oov").cast("double")
                               / F.col("n_tok").cast("double"))
                    .alias("oov_rate")))


# ---------------------------------------------------------------------------
# inverted index


def postings(df: DataFrame, tokens_col: str = "tokens",
             id_col: str = "doc_id") -> DataFrame:
    """Positional posting lists: one row per observed (token, document)
    pair — ``(t, id, tf, positions)`` with ``positions`` the sorted
    1-based offsets of ``t`` inside the document.  The building block
    of an inverted index over the canonical token table.

    Plan shape: posexplode → ONE map-side-combined groupBy on
    ``(t, id)``.  Output cardinality is bounded by distinct
    (token, doc) pairs; per-row state is one document's occurrences of
    one token, so no single group can exceed the longest document —
    skew-immune even for stopword-frequency tokens.
    """
    pos = df.select(
        F.col(id_col),
        F.posexplode(tokens_col).alias("__p", "t"))
    return (pos.groupBy("t", id_col)
            .agg(F.count("*").alias("tf"),
                 F.array_sort(F.collect_list(F.col("__p") + 1))
                 .alias("positions")))


def index_stats(df: DataFrame, tokens_col: str = "tokens",
                id_col: str = "doc_id", top_k: int = 0) -> DataFrame:
    """Per-token index statistics: ``(t, df, cf)`` — document frequency
    and collection frequency — plus, when ``top_k > 0``, the ``top_k``
    highest-tf documents as ``top_docs: array<struct<id, tf>>``
    (tf-descending, id-ascending tiebreak — deterministic).

    The full posting list of a stopword-frequency token is
    corpus-sized; an index SERVING tier never materializes it as one
    array.  ``top_k`` is therefore a hard cap: the per-token group
    state after the rank filter is ``top_k`` structs, never O(df).
    df/cf are exact regardless of the cap.

    Plan shape: :func:`postings` (one shuffle) → rank window + stats
    aggregation on ``t``.  With ``top_k = 0`` the window is skipped
    entirely — two map-side-combined aggregations total.
    """
    plist = postings(df, tokens_col, id_col)
    stats = plist.groupBy("t").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"))
    if top_k <= 0:
        return stats
    w = Window.partitionBy("t").orderBy(F.col("tf").desc(), F.col(id_col))
    top = (plist.withColumn("__rk", F.row_number().over(w))
           .where(F.col("__rk") <= top_k)
           .groupBy("t")
           .agg(F.array_sort(F.collect_list(
               F.struct(F.col("__rk").alias("rk"),
                        F.col(id_col).alias("id"),
                        F.col("tf").alias("tf")))).alias("__top")))
    top = top.select(
        "t", F.transform("__top", lambda s: s.dropFields("rk"))
        .alias("top_docs"))
    return stats.join(top, ["t"], "left")


def search_topk(df: DataFrame, query_tokens, k: int = 10,
                tokens_col: str = "tokens",
                id_col: str = "doc_id") -> DataFrame:
    """TF-IDF retrieval over the inverted index: the top ``k``
    documents for a tokenized query, scored

        score(d) = Σ_t  qtf(t) · tf(t, d) · idf_nano(t)

    with ``idf_nano = floor(ln((N+1)/(df_t+1) + 1) · 1e9 + 0.5)``
    (smoothed idf, quantized to nano units).  The quantization is what
    makes ranking reproducible: per-(term, doc) contributions are exact
    int64, so the score SUM is associative — immune to partition /
    aggregation order, identical in Spark, DuckDB and Python.  Ties
    break on ascending id.  Query terms absent from the corpus
    contribute nothing.

    Returns ``(id, score_nano)``, score-descending, at most ``k`` rows
    (documents matching no query term are not candidates).

    Plan shape: the postings relation is filtered to the |query|-sized
    token set BEFORE any aggregation (predicate on the exploded stream
    — pushes into the scan), df stats and the 1-row N come from
    candidate-bounded aggregations, and the final top-k is a
    ``TakeOrderedAndProject`` (per-partition partial top-k, no global
    sort).  Nothing scales with corpus size except the initial
    token-match scan.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qtf: dict = {}
    for t in query_tokens:
        qtf[int(t)] = qtf.get(int(t), 0) + 1
    if not qtf:
        raise ValueError("query_tokens must be non-empty")
    terms = sorted(qtf)
    # |query|-bounded literal relation; broadcast by size
    n_docs = df.select(F.count("*").alias("__n"))
    pos = (df.select(F.col(id_col), F.explode(tokens_col).alias("t"))
           .where(F.col("t").isin(terms)))
    plist = pos.groupBy("t", id_col).agg(F.count("*").alias("tf"))
    dfreq = plist.groupBy("t").agg(F.count("*").alias("df"))
    qtf_map = F.create_map(
        *[F.lit(v) for t in terms for v in (t, qtf[t])])
    idf_nano = F.floor(
        F.log((F.col("__n") + 1).cast("double")
              / (F.col("df") + 1).cast("double") + F.lit(1.0))
        * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = (plist.join(dfreq, ["t"]).crossJoin(n_docs)
              .select(F.col(id_col),
                      (qtf_map[F.col("t")].cast("long") * F.col("tf")
                       * idf_nano).alias("__c"))
              .groupBy(id_col)
              .agg(F.sum("__c").alias("score_nano")))
    return (scored.orderBy(F.col("score_nano").desc(), F.col(id_col))
            .limit(k))


def bm25_topk(df: DataFrame, query_tokens, k: int = 10,
              k1=(6, 5), b=(3, 4),
              tokens_col: str = "tokens",
              id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 retrieval over the inverted index: the top ``k``
    documents for a tokenized query, scored

        score(d) = Σ_t qtf(t) · idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len_d/avgdl))

    (Robertson & Walker 1994), with the same smoothed
    ``idf_nano = floor(ln((N+1)/(df_t+1) + 1)·1e9 + 0.5)`` contract as
    :func:`search_topk`.  ``k1`` and ``b`` are RATIONALS
    ``(num, den)`` — default 6/5 and 3/4 — so the tf-saturation
    fraction clears its denominators exactly: with ``T`` the corpus
    token total and ``N`` the document count (``avgdl = T/N``),

        frac = (k1n+k1d)·bd·T·tf / (k1d·bd·T·tf + k1n·(bd−bn)·T + k1n·bn·len·N)

    is a ratio of exact integers, quantized to micro units by
    truncating division (``trunc_div``, never float) — so the
    per-(term, doc) contribution ``qtf · idf_nano · frac_micro`` is an
    exact integer and the score SUM is associative: immune to
    partition / aggregation order, identical in Spark, DuckDB
    (hugeint ``//``) and Python.  Ties break on ascending id.

    Returns ``(id, score_q)`` with ``score_q`` in nano·micro (1e-15)
    score units as int64 (bounded: idf_nano ≤ 28e9 at N = 1e12,
    frac_micro ≤ (k1+1)·1e6, so ≤ ~6.2e16 per term — int64-safe for
    queries under ~100 terms), score-descending, at most ``k`` rows.

    Plan shape: ONE corpus scan carries ``size(tokens)`` alongside the
    exploded stream so candidate doc lengths need no second join; the
    explode is filtered to the |query|-sized token set before any
    aggregation; (N, T) come from a 1-row column-pruned aggregate
    (broadcast cross join); the final top-k is a
    ``TakeOrderedAndProject``.  Nothing but the token-match scan
    scales with corpus size.
    """
    from ..functions.util import DEC38, trunc_div

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    k1n, k1d = int(k1[0]), int(k1[1])
    bn, bd = int(b[0]), int(b[1])
    if k1d < 1 or bd < 1 or k1n < 0 or bn < 0 or bn > bd:
        raise ValueError(f"k1={k1} and b={b} must be non-negative "
                         "rationals with b <= 1")
    qtf: dict = {}
    for t in query_tokens:
        qtf[int(t)] = qtf.get(int(t), 0) + 1
    if not qtf:
        raise ValueError("query_tokens must be non-empty")
    terms = sorted(qtf)
    totals = df.select(
        F.count("*").cast(DEC38).alias("__n"),
        F.coalesce(F.sum(F.size(tokens_col).cast("long")), F.lit(0))
        .cast(DEC38).alias("__tt"))
    pos = (df.select(F.col(id_col),
                     F.size(tokens_col).cast(DEC38).alias("__len"),
                     F.explode(tokens_col).alias("t"))
           .where(F.col("t").isin(terms)))
    plist = (pos.groupBy("t", id_col)
             .agg(F.count("*").cast(DEC38).alias("tf"),
                  F.max("__len").alias("__len")))
    dfreq = plist.groupBy("t").agg(F.count("*").alias("df"))
    qtf_map = F.create_map(
        *[F.lit(v) for t in terms for v in (t, qtf[t])])
    idf_nano = F.floor(
        F.log((F.col("__n") + 1).cast("double")
              / (F.col("df") + 1).cast("double") + F.lit(1.0))
        * F.lit(1e9) + F.lit(0.5)).cast(DEC38)
    num = (F.lit(k1n + k1d).cast(DEC38) * F.lit(bd) * F.col("__tt")
           * F.col("tf") * F.lit(1_000_000))
    den = (F.lit(k1d).cast(DEC38) * F.lit(bd) * F.col("__tt")
           * F.col("tf")
           + F.lit(k1n).cast(DEC38) * F.lit(bd - bn) * F.col("__tt")
           + F.lit(k1n).cast(DEC38) * F.lit(bn) * F.col("__len")
           * F.col("__n"))
    scored = (plist.join(dfreq, ["t"]).crossJoin(totals)
              .select(F.col(id_col),
                      (qtf_map[F.col("t")].cast(DEC38) * idf_nano
                       * trunc_div(num, den)).alias("__c"))
              .groupBy(id_col)
              .agg(F.sum("__c").cast("long").alias("score_q")))
    return (scored.orderBy(F.col("score_q").desc(), F.col(id_col))
            .limit(k))


def similar_doc_pairs(df: DataFrame, threshold: float = 0.8,
                      max_df: int = 1 << 20,
                      tokens_col: str = "tokens",
                      id_col: str = "doc_id",
                      plist: DataFrame | None = None,
                      n_docs: int | None = None) -> DataFrame:
    """ALL-PAIRS TF-IDF cosine similarity over the corpus (the exact
    sparse-vector self-join of Bayardo et al. 2007, WWW — "Scaling Up
    All Pairs Similarity Search"): every unordered document pair whose
    cosine over df-bounded TF-IDF vectors reaches ``threshold``.

    The vector space is the ``df_t <= max_df`` vocabulary — dropping
    stopword-frequency terms is what bounds the self-join fan-out
    (a term matching ``df`` documents emits ``df*(df-1)/2`` candidate
    rows), and the NORMS use the same vocabulary so the measure stays a
    true cosine over the pruned space.  Weights are exact integers
    ``tf * idf_milli`` with ``idf_milli = floor(ln((N+1)/(df_t+1) + 1)
    * 1e3 + 0.5)``; dots and squared norms are exact DECIMAL(38) sums
    (partition-order-free), and the final cosine is one fixed
    IEEE-double expression over those exact integers, reported
    micro-quantized as ``cos_u = floor(cos * 1e6 + 0.5)``.

    Output: ``(id_a, id_b, n_shared, dot, cos_u)`` with ``id_a <
    id_b``, only pairs with ``cos_u >= floor(threshold*1e6 + 0.5)``.

    Plan shape: postings (one map-side-combined shuffle) → |vocab|-
    bounded df relation joined back (AQE broadcasts) → term-key
    self-join with ``id_a < id_b`` → one (a, b) aggregation → two
    |docs|-bounded norm joins.  ``plist`` injects a pre-materialized
    :func:`postings` relation and ``n_docs`` the corpus size N for the
    idf — pass BOTH (at 100 TB the index is built once and persisted);
    with ``plist`` alone the N aggregation still scans ``df`` once.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from ..functions.util import DEC38

    if plist is None:
        pos = df.select(F.col(id_col),
                        F.explode(tokens_col).alias("t"))
        plist = (pos.groupBy("t", id_col)
                 .agg(F.count("*").alias("tf")))
    else:
        plist = plist.select("t", id_col, "tf")
    if n_docs is None:
        n_rel = df.select(F.count("*").alias("__n"))
        n_expr = F.col("__n")
    else:
        n_rel = None
        n_expr = F.lit(int(n_docs))
    dfreq = (plist.groupBy("t").agg(F.count("*").alias("df"))
             .where(F.col("df") <= int(max_df)))
    idf_milli = F.floor(
        F.log((n_expr + 1).cast("double")
              / (F.col("df") + 1).cast("double") + F.lit(1.0))
        * F.lit(1e3) + F.lit(0.5)).cast("long")
    wp = plist.join(dfreq, ["t"])
    if n_rel is not None:
        wp = wp.crossJoin(F.broadcast(n_rel))
    wp = wp.select("t", F.col(id_col),
                   (F.col("tf") * idf_milli).alias("w"))
    # the weighted-postings relation feeds FOUR plan branches (norms +
    # both self-join sides); materialize it once — otherwise the whole
    # tokenize→explode→postings→df-join subtree is re-executed per
    # branch (observed 60-Exchange plan with four parquet re-scans)
    wp = wp.localCheckpoint()
    norms = (wp.groupBy(id_col)
             .agg(F.sum((F.col("w") * F.col("w")).cast(DEC38))
                  .alias("n2")))
    left = wp.select("t", F.col(id_col).alias("id_a"),
                     F.col("w").alias("wa"))
    right = wp.select("t", F.col(id_col).alias("id_b"),
                      F.col("w").alias("wb"))
    pairs = (left.join(right, ["t"])
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_shared"),
                  F.sum((F.col("wa") * F.col("wb")).cast(DEC38))
                  .alias("dot")))
    # fixed IEEE expression tree over exact integers, mirrored verbatim
    # in the SQL oracle: sqrt each norm, multiply, divide
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na2").cast("double"))
              * F.sqrt(F.col("nb2").cast("double"))))
    thr_u = int(float(threshold) * 1e6 + 0.5)
    return (pairs
            .join(norms.select(F.col(id_col).alias("id_a"),
                               F.col("n2").alias("na2")), ["id_a"])
            .join(norms.select(F.col(id_col).alias("id_b"),
                               F.col("n2").alias("nb2")), ["id_b"])
            .select("id_a", "id_b", "n_shared",
                    F.col("dot").cast("long").alias("dot"),
                    F.floor(cos * F.lit(1e6) + F.lit(0.5))
                    .cast("long").alias("cos_u"))
            .where(F.col("cos_u") >= F.lit(thr_u)))


def zipf_fit(df: DataFrame, tokens_col: str = "tokens",
             top_n: int = 1000, scale: int = 9) -> DataFrame:
    """Zipf law fit over the corpus unigram spectrum: OLS of ``ln(count)``
    on ``ln(rank)`` across the ``top_n`` most frequent tokens — the
    one-row corpus-health statistic (natural corpora slope ≈ −1; templated
    or deduplicate-me corpora bend it).

    Output: ``(n_ranks, slope, intercept, r2)`` — ``intercept`` is
    ``ln(count)`` at rank 1 under the fit.

    Determinism: ranks come from a total order ``(c desc, t asc)``; each
    ``ln`` is a per-row scalar of an exact count, quantized with the
    shared rule (``functions.util.quantize``); the OLS moment sums run in
    exact decimal, so the fit is partition-order-free (the
    ``sequences.trend_features`` discipline). The rank window sorts only
    the |vocab|-bounded histogram, never the corpus; ``top_n`` then caps
    the fitted relation.
    """
    from pyspark.sql import Window

    from ..functions.util import DEC38, quantize

    counts = unigram_counts(df, tokens_col)
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    ranked = (counts.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= int(top_n)))
    # products of two scale-9 quantized lns reach ~4e20 — past int64, so
    # multiply in decimal (exact at scale 0, well inside 38 digits)
    x = quantize(F.log(F.col("r").cast("double")), scale).cast(DEC38)
    y = quantize(F.log(F.col("c").cast("double")), scale).cast(DEC38)
    agg = ranked.agg(
        F.count("*").alias("n_ranks"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"))
    n = F.col("n_ranks").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    mul = float(10 ** scale)
    slope = F.when(varx > 0, cov / varx)
    return agg.select(
        "n_ranks",
        slope.alias("slope"),
        F.when(varx > 0, ((sy - (cov / varx) * sx) / n) / mul)
        .alias("intercept"),
        F.when((varx > 0) & (vary > 0), (cov * cov) / (varx * vary))
        .alias("r2"))


def perplexity_buckets(df: DataFrame, by: str = "source",
                       score_col: str = "nll_u", id_col: str = "doc_id",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style per-group perplexity bucketing (Wenzek et al. 2020):
    rank documents by LM score within each group and cut into
    ``n_buckets`` equal-count buckets — ``head`` (most fluent),
    ``middle``, ``tail`` for the default 3; ``b<i>`` labels otherwise.

    Rank-based, not value-based: ``bucket_idx = (rank−1)·k // n`` over
    the deterministic ``(score, id)`` total order, so the cut is exact
    and partition-free (ties broken by id, never by engine — feed an
    integer-quantized score).  Plan: ONE shuffle on the group key
    serving two Window specs (ordered row_number + unordered count),
    the ecdf_transform shape.

    Scale note: a window sort over a 10^12-row group is the honest
    cost of exact rank cuts; when only the cut EDGES matter, swap in
    ``operators.quantiles.grouped_quantiles`` (range-partition +
    boundary-rank fetch) and bucket by value comparison instead —
    value-bucketing differs on boundary ties, documented there.
    """
    from pyspark.sql import Window

    w_rank = Window.partitionBy(by).orderBy(F.col(score_col).asc(),
                                            F.col(id_col).asc())
    w_all = Window.partitionBy(by)
    rn = F.row_number().over(w_rank).cast("long")
    n = F.count("*").over(w_all).cast("long")
    idx = F.floor((rn - F.lit(1)) * F.lit(n_buckets) / n).cast("int")
    if n_buckets == 3:
        label = (F.when(idx == 0, F.lit("head"))
                 .when(idx == 2, F.lit("tail"))
                 .otherwise(F.lit("middle")))
    else:
        label = F.concat(F.lit("b"), idx.cast("string"))
    return df.withColumns({"bucket_idx": idx, "ppl_bucket": label})


def conditional_entropy(df: DataFrame, group_col: str = "source",
                        tokens_col: str = "tokens") -> DataFrame:
    """Per-group bigram conditional entropy H(next | current) of the
    token stream — the predictability census that separates natural
    text (H ≈ 2–4 nats under a word tokenizer) from boilerplate /
    templated sources (H → 0) and random noise (H → ln |V|), one level
    deeper than the per-doc unigram :func:`..text.word_entropy`.

    Uses ``H(Y|X) = (Σ_x c_x·ln c_x − Σ_xy c_xy·ln c_xy) / N`` over the
    group's bigram histogram (marginals from the SAME relation, the
    :func:`pmi_bigrams` convention).  Each ``c·ln c`` term — a
    deterministic scalar of an exact integer count — is nano-quantized
    (``floor(t·10⁹ + 0.5)``, the word_entropy idiom) and summed as
    exact decimals, and the final division is ``trunc_div`` — so
    ``h_cond_nano`` is an exact integer, partition-order immune and
    engine-bit-identical.  Term bound: ``c·ln c·10⁹`` must fit the
    decimal sum — never a concern below ~10²⁵ bigrams per group.

    Returns ``(group, n_bigrams, h_cond_nano)``; groups with zero
    bigrams (all docs shorter than 2 tokens) emit no rows.

    Plan shape: one bigram explode → map-side-combined (group, a, b)
    histogram → context marginal + two group reductions over
    histogram-bounded relations.  Corpus rows shuffle once.
    """
    from ..functions.util import DEC38, trunc_div

    pairs = _bigram_structs(tokens_col)
    cxy = (df.select(F.col(group_col).alias("g"),
                     F.explode(pairs).alias("bg"))
           .groupBy("g", F.col("bg.a").alias("a"),
                    F.col("bg.b").alias("b"))
           .agg(F.count("*").alias("c")))

    def q(c):
        cd = c.cast("double")
        return F.floor(cd * F.log(cd) * F.lit(1e9) + F.lit(0.5)).cast(DEC38)

    cx = cxy.groupBy("g", "a").agg(F.sum("c").alias("cx"))
    sx = (cx.groupBy("g").agg(F.sum(q(F.col("cx"))).alias("__sx"))
          .withColumnRenamed("g", "__g2"))
    sxy = cxy.groupBy("g").agg(F.sum(q(F.col("c"))).alias("__sxy"),
                               F.sum("c").cast(DEC38).alias("__n"))
    # null-safe: a null group value is a real group (the r4 join class)
    return (sxy.join(sx, F.col("g").eqNullSafe(F.col("__g2")))
            .select(F.col("g").alias(group_col),
                    F.col("__n").cast("long").alias("n_bigrams"),
                    trunc_div(F.col("__sx") - F.col("__sxy"),
                              F.col("__n")).cast("long")
                    .alias("h_cond_nano")))


def worst_span(df: DataFrame, w: int = 16, k: float = 0.5,
               vocab_size: int = 1 << 16, tokens_col: str = "tokens",
               id_col: str = "doc_id",
               counts: DataFrame | None = None) -> DataFrame:
    """Span-level quality localization: for every document with at
    least ``w`` bigrams, the ``w``-bigram sliding window with the WORST
    (lowest) add-k bigram log-likelihood — where inside a document the
    CCNet-style perplexity filter (:func:`lm_score`) would fire, so a
    pipeline can cut the bad span instead of dropping the whole doc
    (the :func:`..dedup.cut_spans` companion for quality).

    Per-bigram ``ln P(b|a) = ln((c(a,b)+k)/(c(a,·)+k·V))`` is
    nano-quantized per the lm_score ``scale`` idiom — a deterministic
    scalar of exact counts — so window sums are exact int64 and the
    argmin is partition-order immune; ties break on the earliest span.

    Returns ``(id, n_bigrams, span_end_pos, span_sum_q9)`` where
    ``span_end_pos`` is the 1-based position of the window's LAST
    bigram and ``span_sum_q9`` the window's Σ ln p in 1e-9 units
    (more negative = less fluent).

    Plan shape: doc-bigram explode → hash joins against the
    observed-bigram-bounded count relations (AQE broadcasts) → ONE
    per-doc ordered window (ROWS frame, state = w running values) →
    per-doc min-struct aggregate.  Window partitions are single
    documents — bounded by max doc length, skew-free.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    # one bigram explode for both the positional relation and the
    # self-scored histogram (the lm_score discipline)
    big = doc_bigrams(df, tokens_col, id_col).localCheckpoint()
    cnt_ab = (counts if counts is not None
              else big.groupBy("a", "b").agg(F.count("*").alias("c")))
    cnt_a = cnt_ab.groupBy("a").agg(F.sum("c").alias("c_a"))
    lnp = F.log((F.col("c").cast("double") + F.lit(float(k)))
                / (F.col("c_a").cast("double")
                   + F.lit(float(k) * vocab_size)))
    q9 = F.floor(lnp * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = (big.join(cnt_ab, ["a", "b"]).join(cnt_a, ["a"])
              .select(F.col(id_col), "pos", q9.alias("__q")))
    ww = (Window.partitionBy(id_col).orderBy("pos")
          .rowsBetween(-(w - 1), 0))
    sp = (scored.select(F.col(id_col), "pos",
                        F.sum("__q").over(ww).alias("__ssum"),
                        F.count("*").over(ww).alias("__sn"),
                        F.max("pos").over(
                            Window.partitionBy(id_col)).alias("__nb"))
          .where(F.col("__sn") == w))
    return (sp.groupBy(id_col)
            .agg(F.max("__nb").alias("n_bigrams"),
                 F.min(F.struct(F.col("__ssum"),
                                F.col("pos"))).alias("__m"))
            .select(id_col, "n_bigrams",
                    F.col("__m.pos").alias("span_end_pos"),
                    F.col("__m.__ssum").alias("span_sum_q9")))
