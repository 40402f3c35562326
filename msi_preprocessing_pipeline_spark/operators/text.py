"""Text-analysis operators for training-data pipelines.

All hot-path logic is JVM-side column expressions (regex, split, filter
lambdas) — no Python UDFs — so Catalyst codegens the whole stage and the same
logic is expressible 1:1 in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small per-language stopword lists for the n-gram-free language heuristic;
# occurrence counts (not set intersection) so Spark and SQL agree exactly
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un", "una", "por"],
}
LANG_PRIORITY = ["en", "de", "fr", "es"]

PUNCT_CLASS = "[.,!?;:]"


def words_col(text_col: str = "text") -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count (the whitespace tokenizer baseline)."""
    return F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """A BPE-ish proxy: count word pieces + digit runs + punctuation marks
    (regex segmentation, JVM-side)."""
    pieces = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    return F.size(pieces)


def stopword_hits(lang: str, text_col: str = "text") -> Column:
    """Occurrence count of the language's stopwords among the words."""
    vocab = STOPWORDS[lang]
    return F.size(F.filter(words_col(text_col),
                           lambda w: w.isin(*vocab)))


def lang_id(text_col: str = "text") -> Column:
    """argmax of stopword occurrence counts, fixed priority on ties."""
    scores = {lang: stopword_hits(lang, text_col) for lang in LANG_PRIORITY}
    expr = None
    for lang in reversed(LANG_PRIORITY):
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            c = scores[lang] >= scores[other] if LANG_PRIORITY.index(lang) < \
                LANG_PRIORITY.index(other) else scores[lang] > scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None \
            else F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: word count, non-space length, punctuation
    ratio, mean word length, uppercase ratio."""
    nospace = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    n_words = token_count(text_col)
    n_punct = (F.length(F.col(text_col))
               - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")))
    return df.withColumns({
        "n_words": n_words,
        "n_nospace": nospace,
        "punct_ratio": F.round(n_punct.cast("double")
                               / F.greatest(F.length(F.col(text_col)), F.lit(1)),
                               6),
        "mean_word_len": F.round(nospace.cast("double")
                                 / F.greatest(n_words, F.lit(1)).cast("double"),
                                 6),
    })


def fingerprint(text_col: str = "text") -> Column:
    """Deterministic document fingerprint: md5 of the lowercase,
    whitespace-collapsed text (md5 exists in both Spark and DuckDB)."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col(text_col))),
                                  r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def rebalance_for_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than cores. The CPU-heavy explode/aggregate stages downstream (gram
    generation, hash votes, fingerprinting) run their map-side partial
    aggregation inside the scan stage — a small single-file input would
    serialize them onto one task. On a well-partitioned table this is a
    no-op, so the serve-scale plans stay shuffle-free. (The spectrum
    stages use ``FeaturePipeline._maybe_rebalance`` instead, which also
    coalesces down to one task per core.)

    Applied by default only where per-row CPU is heavy enough to dominate
    the repartition cost (the Python winnowing kernel, whose per-doc cost
    scales with doc length); the cheap JVM explode/aggregate paths measured
    a small net LOSS from the extra exchange at smoke scale, so they leave
    the input partitioning alone."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(2 * sc.defaultParallelism)
    return df


# PII scan/redaction — the standard pre-training scrub pass. Patterns are
# deliberately lookaround-free so the SAME regex runs on Spark (java.util
# .regex) and the DuckDB oracle (RE2) with identical semantics.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
}
# redaction applies in this fixed order (email first: an email can contain
# digit runs that would otherwise half-match the numeric patterns)
PII_ORDER = ("email", "ssn", "phone", "ipv4")


def pii_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII occurrence counts (one ``n_<kind>`` column per
    pattern) plus ``pii_total``. Pure JVM ``regexp_extract_all`` — codegen,
    no Python workers, shuffle-free."""
    counts = {
        f"n_{kind}": F.size(F.regexp_extract_all(
            F.col(text_col), F.lit(PII_PATTERNS[kind]), F.lit(0)))
        .cast("long")
        for kind in PII_ORDER
    }
    out = df.withColumns(counts)
    total = None
    for kind in PII_ORDER:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def redact_pii(text_col: str = "text") -> Column:
    """Text with every PII match replaced by its ``<KIND>`` token, applied
    in the fixed :data:`PII_ORDER` (JVM ``regexp_replace`` chain)."""
    out = F.col(text_col)
    for kind in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def word_grams(df: DataFrame, n: int, text_col: str = "text",
               id_col: str = "doc_id", out_col: str = "ngram",
               distinct: bool = False,
               extra_cols: list[str] | None = None) -> DataFrame:
    """Word n-gram relation (one row per gram occurrence, or per distinct
    gram with ``distinct=True``) — the shared generator behind
    :func:`word_ngrams` and ``dedup.word_shingles``.

    Fully JVM-side: ``split`` (codegen) feeds Spark ML's ``NGram``
    transformer (a Scala sliding-window UDF — no Python workers, no Arrow
    transfer, no GIL). A doc shorter than ``n`` words emits ONE gram of all
    its words (matching ``greatest(len - n + 1, 1)`` in the SQL oracles);
    plain ``NGram`` would emit nothing for it. The earlier Arrow-batched
    Python generator measured equal at 5k docs and loses at scale (per-row
    interpreter cost + executor→Python round-trip); the pure-Catalyst
    higher-order expression (``transform(sequence, slice, concat_ws)``)
    measured 10–20× slower (interpreted per element).
    """
    from pyspark.ml.feature import NGram

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    extra = list(extra_cols or [])  # per-row tags carried through the
    # explode (e.g. the DSIR fused-model target flag)
    # null text → no grams (the SQL-oracle semantics; NGram's Scala UDF
    # NPEs on a null array, and the old Python path stringified None)
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), *[F.col(c) for c in extra],
                    words.alias("__words")))
    grammed = NGram(n=n, inputCol="__words", outputCol="__grams") \
        .transform(base)
    grams = F.when(F.size("__words") < n,
                   F.array(F.concat_ws(" ", "__words"))) \
        .otherwise(F.col("__grams"))
    if distinct:
        grams = F.array_distinct(grams)
    return grammed.select(F.col(id_col), *extra,
                          F.explode(grams).alias(out_col))


def word_ngrams(df: DataFrame, n: int, text_col: str = "text",
                id_col: str = "doc_id",
                out_col: str = "ngram") -> DataFrame:
    """Non-distinct word n-grams per doc — the multiset the repetition
    filters need (unlike ``dedup.word_shingles``, which deduplicates)."""
    return word_grams(df, n, text_col, id_col, out_col, distinct=False)


def tfidf_top_terms(df: DataFrame, k_terms: int = 5,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-``k_terms`` TF-IDF terms per document (smoothed idf:
    ``ln((N+1)/(df+1)) + 1``), the standard keyword-extraction pass.

    Plan shape: JVM word explode → (doc, word) tf aggregation → word df
    aggregation (vocabulary-sized) → hash join back → per-doc top-k window.
    The corpus size N enters the plan as a broadcast 1-row aggregate
    (cross join), so COMPOSING the operator is fully lazy — no eager
    ``count()`` job at build time.  Ranking uses the ROUNDED score (6 dp)
    with a word tie-break so the ordering is reproducible across engines
    (a last-ulp ``ln`` difference cannot flip ranks). Two
    map-side-combined shuffles + the top-k window.
    """
    from pyspark.sql import Window as W

    words = (df.select(F.col(id_col),
                       F.explode(words_col(text_col)).alias("word"))
             .where(F.col("word") != ""))
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    n_docs = df.agg(F.countDistinct(id_col).alias("_n_docs"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log((F.col("_n_docs") + F.lit(1)).cast("double")
                / (F.col("df") + F.lit(1)).cast("double")) + F.lit(1.0)
    scored = (tf.join(dfreq, "word")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score",
                          F.round(F.col("tf").cast("double") * idf, 6)))
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(),
                                      F.col("word").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= F.lit(int(k_terms)))
            .select(id_col, "word", "tf", "score", "rank"))


def repetition_metrics(df: DataFrame, n: int = 2, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction of
    all word ``n``-grams taken by the single most frequent one
    (``top_ngram_frac``) and the fraction occurring more than once
    (``dup_ngram_frac``). High values flag boilerplate/spam for corpus
    filtering.

    Scale shape: explode n-grams (JVM) → two-level count aggregation with
    map-side combine → per-doc ratios. One shuffle on (doc, gram), one on
    doc."""
    grams = word_ngrams(df, n, text_col, id_col)
    counts = grams.groupBy(id_col, "ngram").agg(F.count("*").alias("c"))
    return (counts.groupBy(id_col)
            .agg(F.round(F.max("c").cast("double")
                         / F.sum("c").cast("double"), 6)
                 .alias("top_ngram_frac"),
                 F.round(F.sum(F.when(F.col("c") > 1, F.col("c"))
                               .otherwise(F.lit(0))).cast("double")
                         / F.sum("c").cast("double"), 6)
                 .alias("dup_ngram_frac")))


def word_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 scale: int | None = None) -> DataFrame:
    """Per-document word-distribution diversity signals: Shannon entropy
    of the word frequency distribution (natural log) and the type-token
    ratio — low values flag boilerplate/repetitive documents that the
    n-gram repetition filters can miss (e.g. a page of one repeated word
    has ``dup_ngram_frac`` ~1 but entropy pins the severity).

        H = -Σ_w (c_w / n) · ln(c_w / n)      ttr = |distinct words| / n

    Empty/whitespace-only docs get H = 0, ttr = null. Scale shape: word
    explode (JVM) → (doc, word) count aggregation → per-doc entropy
    reduce — two map-side-combined shuffles, no Python, same cost class
    as ``tfidf_top_terms``.

    ``scale`` (e.g. 9): each ``c·ln c`` term — a deterministic scalar
    of an exact integer count — is quantized to ``floor(t·10^s + 0.5)``
    and summed as exact integers, so the entropy no longer depends on
    the float-sum combine order (run-to-run partition-order hazard);
    the result is the entropy of the quantized terms, within
    ``~n·10^-s`` of the raw value.  Term bound: ``n·ln n · 10^s`` per
    doc must stay inside int64 (~9e18) — 1e9 words/doc at s=9.
    """
    words = (df.select(F.col(id_col),
                       F.explode(words_col(text_col)).alias("word"))
             .where(F.col("word") != ""))
    counts = words.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    cd = F.col("c").cast("double")
    # window-free formulation: H = ln(n) - (Σ c·ln c)/n  — one groupBy,
    # no per-doc-total window pass
    if scale is None:
        clnc_sum = F.sum(cd * F.log(cd)).alias("__clnc")
    else:
        from ..functions.util import quantize
        clnc_sum = F.sum(quantize(cd * F.log(cd), scale)).alias("__clnc")
    stats = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_words_total"),
        clnc_sum,
        F.count("*").alias("n_distinct_words"))
    nwd = F.col("n_words_total").cast("double")
    clnc = (F.col("__clnc") if scale is None
            else F.col("__clnc").cast("double")
            / F.lit(float(10 ** scale)))
    ent = F.log(nwd) - clnc / nwd
    out = stats.select(
        id_col, "n_words_total", "n_distinct_words",
        ent.alias("word_entropy"),
        (F.col("n_distinct_words").cast("double")
         / F.col("n_words_total").cast("double")).alias("type_token_ratio"))
    # keep empty docs (no word rows) with the documented zero-entropy row
    empties = (df.select(F.col(id_col))
               .join(out.select(id_col), id_col, "left_anti")
               .select(id_col,
                       F.lit(0).cast("long").alias("n_words_total"),
                       F.lit(0).cast("long").alias("n_distinct_words"),
                       F.lit(0.0).alias("word_entropy"),
                       F.lit(None).cast("double").alias("type_token_ratio")))
    return out.unionByName(empties)


def _doc_lines(df, id_col, text_col, group_col):
    """Exploded (group, id, pos, line) relation — split on newline,
    positions preserved for reassembly.  Null-text docs emit no rows
    (they are re-attached by the callers' left joins)."""
    return (df.where(F.col(text_col).isNotNull())
            .select(F.col(group_col).alias("__g"), F.col(id_col),
                    F.posexplode(F.split(F.col(text_col), "\n"))
                    .alias("__pos", "__line")))


def boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      group_col: str = "source",
                      min_docs: int = 2, min_frac: float = 0.25,
                      min_chars: int = 5) -> DataFrame:
    """Boilerplate-line census (CCNet/Dolma-style line dedup): lines
    that appear in at least ``min_docs`` AND at least ``min_frac`` of
    a group's documents — ``(group_col, line, n_docs_with_line,
    n_docs_in_group, frac)``.  Headers, footers, cookie banners and
    nav text repeat across one crawl SOURCE, which is why the census
    is per-``group_col``, not corpus-global (a line legitimate in one
    domain can be boilerplate in another).

    A line counts ONCE per document (presence, not occurrences);
    lines shorter than ``min_chars`` characters are never flagged
    (blank/separator lines would otherwise top every census).  Lines
    are compared VERBATIM (no trim/case-fold) — normalize upstream if
    the corpus needs it.

    Scale notes: one line-granularity explode → distinct →
    map-side-combined count on ``(group, line)``, one |groups| count
    join (AQE broadcasts) — output is |distinct flagged lines|-
    bounded.  The join/agg key is the raw line string (exact,
    oracle-parity); at petabyte scale swap in a 128-bit hash for the
    shuffle key — 64-bit collisions silently merge two lines'
    counts, so keep the verbatim line through the final flag check.
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    lines = _doc_lines(df, id_col, text_col, group_col)
    per_line = (lines.where(F.length("__line") >= min_chars)
                .select("__g", id_col, "__line").distinct()
                .groupBy("__g", "__line")
                .agg(F.count("*").alias("n_docs_with_line")))
    per_group = (df.where(F.col(text_col).isNotNull())
                 .groupBy(F.col(group_col).alias("__g"))
                 .agg(F.count("*").alias("n_docs_in_group")))
    frac = (F.col("n_docs_with_line").cast("double")
            / F.col("n_docs_in_group").cast("double"))
    return (per_line.join(per_group, ["__g"])
            .select(F.col("__g").alias(group_col),
                    F.col("__line").alias("line"),
                    "n_docs_with_line", "n_docs_in_group",
                    frac.alias("frac"))
            .where((F.col("n_docs_with_line") >= min_docs)
                   & (F.col("frac") >= min_frac)))


def remove_boilerplate(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       group_col: str = "source",
                       min_docs: int = 2, min_frac: float = 0.25,
                       min_chars: int = 5) -> DataFrame:
    """Rewrite of ``df`` with flagged boilerplate lines deleted: same
    schema, ``text_col`` replaced by the kept lines rejoined with
    newlines, plus ``n_lines_removed``.  A document whose every line
    is boilerplate becomes the EMPTY STRING (not null — null still
    means "text was null upstream", the repo's null-vs-empty
    discipline); null-text docs pass through unchanged with
    ``n_lines_removed`` 0.

    Scale notes: the census from :func:`boilerplate_lines` (a small,
    |flagged|-bounded relation — AQE broadcasts it) anti-joins the
    exploded lines; reassembly is ONE groupBy per doc with an
    order-preserving ``sort_array(collect_list(struct(pos, line)))``
    — per-doc state bounded by the doc's own line count.  Total: two
    line-granularity shuffles, the honest minimum for a corpus
    rewrite keyed on cross-document statistics.
    """
    flagged = boilerplate_lines(df, id_col, text_col, group_col,
                                min_docs, min_frac, min_chars) \
        .select(F.col(group_col).alias("__g"),
                F.col("line").alias("__line"))
    lines = _doc_lines(df, id_col, text_col, group_col)
    kept = lines.join(flagged, ["__g", "__line"], "left_anti")
    re = (kept.groupBy(id_col)
          .agg(F.array_join(
                   F.transform(
                       F.sort_array(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda x: x["__line"]),
                   "\n").alias("__clean"),
               F.count("*").alias("__n_kept")))
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    out_cols = [c for c in df.columns if c != text_col]
    return (df.join(re, [id_col], "left")
            .select(*out_cols,
                    F.when(F.col(text_col).isNull(), F.lit(None))
                    .otherwise(F.coalesce("__clean", F.lit("")))
                    .alias(text_col),
                    F.when(F.col(text_col).isNull(), F.lit(0))
                    .otherwise(n_lines - F.coalesce("__n_kept",
                                                    F.lit(0)))
                    .cast("long").alias("n_lines_removed")))


def passage_windows(df: DataFrame, window_chars: int = 200,
                    overlap: int = 40, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding character-window passages — the char-level sibling of
    ``packing.chunk_tokens`` (retrieval / context-window corpus prep).

    Window ``i`` starts at ``i·(window_chars − overlap)``; the last start
    is the smallest multiple covering the tail (its window may overlap
    more than ``overlap``). Empty/whitespace-only text still yields its
    single (possibly empty) window 0; null text yields no rows.

    Output: ``(id, passage_idx, char_start, passage)`` with 0-based
    ``char_start``. Map-only JVM plan: one ``sequence`` + ``posexplode``
    + ``substring`` — no Python, no shuffle; at 100 TB this is a pure
    scan→write with the ~(1 + overlap/window) char blowup as the only
    cost.
    """
    if not 0 <= overlap < window_chars:
        raise ValueError(
            f"need 0 <= overlap < window_chars, got {overlap} vs "
            f"{window_chars}")
    step = window_chars - overlap
    n = F.length(F.col(text_col))
    # last start index K: ceil(max(n - window, 0) / step) in pure ints
    k_max = (F.greatest(n - F.lit(window_chars), F.lit(0))
             + F.lit(step - 1)).cast("long") / F.lit(step)
    k_max = k_max.cast("long")
    out = (df.where(F.col(text_col).isNotNull())
           .select(id_col,
                   F.col(text_col).alias("__t"),
                   F.posexplode(F.sequence(F.lit(0), k_max))
                   .alias("passage_idx", "__k")))
    start = (F.col("__k") * F.lit(step)).cast("long")
    return out.select(
        id_col, F.col("passage_idx").cast("long").alias("passage_idx"),
        start.alias("char_start"),
        F.substring(F.col("__t"), (start + 1).cast("int"),
                    window_chars).alias("passage"))


def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     min_chars: int = 5) -> DataFrame:
    """Corpus-GLOBAL paragraph dedup (the Dolma / RefinedWeb pass that
    complements per-source :func:`remove_boilerplate`): every line of at
    least ``min_chars`` characters is kept only at its FIRST occurrence
    corpus-wide — first = smallest ``(id, pos)`` — and deleted at every
    later occurrence, whether in another document or repeated inside the
    same one.  Lines shorter than ``min_chars`` (blanks, separators) are
    always kept, so document structure survives.

    Same output contract as :func:`remove_boilerplate`: input schema
    with ``text_col`` rewritten (empty string when every paragraph was a
    repeat; null only when text was null upstream) plus
    ``n_paragraphs_removed``.

    Scale notes: one line-granularity explode → one map-side-combined
    ``min(struct(id, pos))`` per distinct eligible line → one join of
    that |distinct lines|-bounded relation back onto the exploded lines
    (each line matches at most one census row — no fan-out; a line
    repeated a billion times is ONE census row, so the census side has
    no skew) → one order-preserving per-doc reassembly.  Keys are raw
    line strings for oracle parity; at petabyte scale swap a 128-bit
    hash for the shuffle key, as in :func:`boilerplate_lines`.
    """
    lines = (df.where(F.col(text_col).isNotNull())
             .select(F.col(id_col),
                     F.posexplode(F.split(F.col(text_col), "\n"))
                     .alias("__pos", "__line")))
    firsts = (lines.where(F.length("__line") >= min_chars)
              .groupBy("__line")
              .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                  F.col("__pos").alias("p")))
                   .alias("__f")))
    # ineligible (short) lines never equal an eligible one, so their
    # left-join miss (__f null) is exactly the "always keep" rule
    kept = (lines.join(firsts, ["__line"], "left")
            .where(F.col("__f").isNull()
                   | ((F.col("__f.i") == F.col(id_col))
                      & (F.col("__f.p") == F.col("__pos")))))
    re = (kept.groupBy(id_col)
          .agg(F.array_join(
                   F.transform(
                       F.sort_array(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda x: x["__line"]),
                   "\n").alias("__clean"),
               F.count("*").alias("__n_kept")))
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    out_cols = [c for c in df.columns if c != text_col]
    return (df.join(re, [id_col], "left")
            .select(*out_cols,
                    F.when(F.col(text_col).isNull(), F.lit(None))
                    .otherwise(F.coalesce("__clean", F.lit("")))
                    .alias(text_col),
                    F.when(F.col(text_col).isNull(), F.lit(0))
                    .otherwise(n_lines - F.coalesce("__n_kept",
                                                    F.lit(0)))
                    .cast("long").alias("n_paragraphs_removed")))


def dedup_lines_in_doc(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_chars: int = 5) -> DataFrame:
    """WITHIN-document duplicate-line removal (the Dolma in-doc cleanup
    that runs when cross-doc dedup is handled by a separate pass): each
    line of at least ``min_chars`` characters keeps only its first
    occurrence inside its own document; shorter lines (blanks,
    separators) are always kept.  Same output contract as
    :func:`dedup_paragraphs` (text rewritten + ``n_lines_removed``),
    but scoped per document.

    Scale shape — the reason this exists beside the corpus-global pass:
    it is ONE map-only JVM projection (a positional ``filter`` lambda
    over the split array), zero shuffles, zero Python — a pure
    scan→project→write at 100 TB, where :func:`dedup_paragraphs` pays a
    line-granularity exchange.  The prefix-membership test is O(L²) in
    LINES PER DOCUMENT (array_position over the line prefix), bounded
    by document structure, never by corpus size.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda x, i: (F.length(x) < min_chars)
        | (F.array_position(F.slice(lines, F.lit(1), i), x) == 0))
    out_cols = [c for c in df.columns if c != text_col]
    # two-step select: aliasing the rewritten text as ``text_col`` in the
    # SAME select would let Spark's lateral-column-alias resolution bind
    # the lambda-captured ``lines`` inside ``kept`` to the cleaned sibling
    # column instead of the input (observed: correct text, wrong count)
    tmp = df.select(
        "*",
        F.when(t.isNull(), F.lit(None))
        .otherwise(F.array_join(kept, "\n")).alias("__clean"),
        F.when(t.isNull(), F.lit(0))
        .otherwise(F.size(lines) - F.size(kept))
        .cast("long").alias("n_lines_removed"))
    return tmp.select(*out_cols, F.col("__clean").alias(text_col),
                      "n_lines_removed")


C4_TERMINAL = (".", "!", "?", '"')


def c4_filter(df: DataFrame, text_col: str = "text",
              min_words: int = 5, min_lines: int = 3) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2) as ONE
    map-only projection — line rules via JVM array lambdas (no explode,
    no shuffle, no Python):

    * keep a line only if it ends in terminal punctuation
      (``. ! ? "``), has at least ``min_words`` whitespace words, and
      does not mention ``javascript`` (case-insensitive);
    * flag the document for DROP (``keep_doc = false``) if fewer than
      ``min_lines`` lines survive, or the raw text contains
      ``lorem ipsum`` (case-insensitive) or a ``{``.

    Returns the input schema with ``text_col`` rewritten to the kept
    lines, plus ``n_lines_kept`` and ``keep_doc``.  The caller applies
    (or audits) the drop — rows are never silently removed.  Null text
    stays null with ``n_lines_kept = 0`` and ``keep_doc = false``.

    At 100 TB this is the ideal shape: a pure scan→project→write with
    whole-stage codegen, trivially partition-parallel.
    """
    raw = F.col(text_col)
    # explicit whitespace class, not \s: Java's \s includes \x0B while
    # DuckDB/RE2's does not (the lm.WS_CLASS convention) — mirrored
    # verbatim in the SQL oracle
    words_of = lambda l: F.filter(  # noqa: E731
        F.split(F.trim(l), r"[ \t\n\x0B\f\r]+"),
        lambda w: w != F.lit(""))
    line_ok = lambda l: (  # noqa: E731
        F.right(l, F.lit(1)).isin(*C4_TERMINAL)
        & (F.size(words_of(l)) >= F.lit(min_words))
        & ~F.contains(F.lower(l), F.lit("javascript")))
    kept = F.filter(F.split(raw, "\n"), line_ok)
    n_kept = F.size(kept).cast("long")
    keep = ((n_kept >= F.lit(min_lines))
            & ~F.contains(F.lower(raw), F.lit("lorem ipsum"))
            & ~F.contains(raw, F.lit("{")))
    out_cols = [c for c in df.columns if c != text_col]
    return df.select(
        *out_cols,
        F.when(raw.isNotNull(),
               F.array_join(kept, "\n")).alias(text_col),
        F.when(raw.isNotNull(), n_kept).otherwise(F.lit(0))
        .cast("long").alias("n_lines_kept"),
        F.coalesce(keep, F.lit(False)).alias("keep_doc"))


def gram_novelty(df: DataFrame, n: int = 3, text_col: str = "text",
                 shard_col: str = "source") -> DataFrame:
    """Per-shard n-gram novelty — the diminishing-returns diagnostic of
    corpus curation: for each shard, how many of its distinct word
    n-grams appear in NO earlier shard (earlier = smaller ``shard_col``
    value; pass a sortable ingestion key).  One row per shard:
    ``(shard, n_occurrences, n_distinct, n_novel)``.

    A gram's home shard is the exact aggregate ``min(shard)`` over its
    occurrences (the :func:`dedup_paragraphs` keep-first idiom at shard
    granularity).  Grams appearing only in null-shard rows aggregate to
    the null shard (``min`` skips nulls, so a null shard "wins" a gram
    only when no non-null shard has it — mirrored by SQL ``min``).

    Plan shape — ONE lineage, one corpus pass: the gram explode (JVM
    NGram) aggregates straight to the |shard × gram|-bounded pair-count
    relation; the per-gram first shard rides it as a single window spec
    (separate aggregation branches would each re-run the corpus explode
    — the ``lm.kn_score`` measured lesson); one final per-shard
    aggregation.  Nothing is pairwise; the census key is the raw gram
    string for oracle parity (hash-swap at petabyte scale, as
    :func:`boilerplate_lines`).
    """
    from pyspark.sql import Window

    grams = word_grams(df, n, text_col, id_col=shard_col)
    base = (grams.groupBy(F.col(shard_col).alias("shard"), "ngram")
            .agg(F.count("*").alias("__c")))
    first = F.min("shard").over(Window.partitionBy("ngram"))
    per = base.select("shard", "__c",
                      first.eqNullSafe(F.col("shard")).alias("__novel"))
    return (per.groupBy("shard")
            .agg(F.sum("__c").alias("n_occurrences"),
                 F.count("*").alias("n_distinct"),
                 F.sum(F.when(F.col("__novel"), 1).otherwise(0))
                 .cast("long").alias("n_novel"))
            .select(F.col("shard").alias(shard_col), "n_occurrences",
                    "n_distinct", "n_novel"))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
BULLET_CHARS = ("-", "*", "•", "‣", "◦")


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_words: int = 50,
                   max_words: int = 100000,
                   min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) as a
    single MAP-ONLY projection — every signal, including within-document
    duplicate-line detection, is computed with array higher-order
    functions so the plan has ZERO exchanges and whole-stage codegen
    covers the scan (the 10^12-doc shape: no shuffle, no Python).

    Signals per document (exact integer counts; ratios are left to the
    caller so contracts can micro-quantize single divisions):

    - ``n_words`` / ``n_word_chars`` — whitespace words (``lm.WS_CLASS``
      convention) and their total character count (mean word length).
    - ``n_alpha_words`` — words containing at least one ASCII letter.
    - ``n_stop_hits`` — occurrences of the 8-word Gopher stop list.
    - ``n_hash_chars`` / ``n_ellipsis_seqs`` — symbol censuses
      (``#`` characters; non-overlapping ``...`` runs, greedy
      left-to-right in both engines).
    - ``n_lines`` — non-empty (space-trimmed) lines.
    - ``n_bullet_lines`` / ``n_ellipsis_lines`` — lines starting with a
      bullet glyph / ending with ``...`` or ``…``.
    - ``n_dup_lines`` / ``n_dup_line_chars`` / ``n_line_chars`` —
      within-document duplicate-line census: a line is duplicated when
      it appears more than once in the SAME document.  Computed without
      any aggregation by sorting the line array once (hoisted to a
      column — never recomputed inside a lambda, SPARK-35410) and
      flagging elements equal to a sorted neighbour.
    - ``gopher_pass`` — the conjunction of the published thresholds,
      evaluated as exact integer cross-multiplications (no float
      boundary can flip between engines):
      ``min_words`` ≤ words ≤ ``max_words`` (published defaults
      50/100000); mean word length in [3, 10]; symbol/word ratio
      ≤ 0.1; bullet lines ≤ 90%; ellipsis lines ≤ 30%; alpha words
      ≥ 80%; ≥ ``min_stop_hits`` stop-list hits; duplicate lines
      ≤ 30%; duplicate-line characters ≤ 20%.

    Null text is kept (tokenized-table convention) and scores as an
    empty document: zero counts, ``gopher_pass`` false.
    """
    from msi_preprocessing_pipeline_spark.operators.lm import WS_CLASS

    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.trim(txt), WS_CLASS), lambda w: w != "")
    lines = F.filter(F.transform(F.split(txt, "\n"), F.trim),
                     lambda x: x != "")
    acc_len = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x))

    step1 = df.withColumns({
        "__words": words,
        "__lines": lines,
        # hoisted ONCE: lambdas below only reference the attribute
        "__sorted": F.array_sort(lines),
    })
    sorted_c = F.col("__sorted")
    is_dup = lambda x, i: (  # noqa: E731
        F.coalesce(F.get(sorted_c, i - 1) == x, F.lit(False))
        | F.coalesce(F.get(sorted_c, i + 1) == x, F.lit(False)))
    dup_lines = F.filter(sorted_c, is_dup)

    step2 = step1.withColumns({
        "n_words": F.size("__words").cast("long"),
        "n_word_chars": acc_len(F.col("__words")),
        "n_alpha_words": F.size(F.filter(
            F.col("__words"), lambda w: w.rlike("[A-Za-z]"))).cast("long"),
        "n_stop_hits": F.size(F.filter(
            F.col("__words"),
            lambda w: F.lower(w).isin(*GOPHER_STOPWORDS))).cast("long"),
        "n_hash_chars": (F.length(txt)
                         - F.length(F.replace(txt, F.lit("#")))).cast("long"),
        "n_ellipsis_seqs": ((F.length(txt)
                             - F.length(F.replace(txt, F.lit("..."))))
                            / F.lit(3)).cast("long"),
        "n_lines": F.size("__lines").cast("long"),
        "n_bullet_lines": F.size(F.filter(
            F.col("__lines"),
            lambda x: F.substring(x, 1, 1).isin(*BULLET_CHARS)))
        .cast("long"),
        "n_ellipsis_lines": F.size(F.filter(
            F.col("__lines"),
            lambda x: F.endswith(x, F.lit("..."))
            | F.endswith(x, F.lit("…")))).cast("long"),
        "n_dup_lines": F.size(dup_lines).cast("long"),
        "n_dup_line_chars": acc_len(dup_lines),
        "n_line_chars": acc_len(F.col("__lines")),
    })
    p = step2  # integer threshold algebra — no division anywhere
    gpass = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("n_word_chars") >= 3 * F.col("n_words"))
        & (F.col("n_word_chars") <= 10 * F.col("n_words"))
        & (10 * (F.col("n_hash_chars") + F.col("n_ellipsis_seqs"))
           <= F.col("n_words"))
        & (10 * F.col("n_bullet_lines") <= 9 * F.col("n_lines"))
        & (10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
        & (F.col("n_stop_hits") >= min_stop_hits)
        & (10 * F.col("n_dup_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("n_dup_line_chars") <= F.col("n_line_chars")))
    return (p.withColumn("gopher_pass", gpass)
            .drop("__words", "__lines", "__sorted"))


def nfc_normalize(df: DataFrame, text_col: str = "text",
                  form: str = "NFC") -> DataFrame:
    """Unicode canonical normalization of a text column (NFC by default)
    with a ``nfc_changed`` audit flag — the first cleaning step of a
    multilingual corpus pipeline (decomposed combining sequences and
    precomposed code points must hash/dedup identically).

    Spark has no Unicode-normalization expression, so this is the one
    honest Python step in the text-cleaning chain: an Arrow-batched
    ``mapInPandas`` pass calling CPython's C-implemented
    ``unicodedata.normalize`` per value.  MAP-ONLY — all other columns
    pass through untouched, no shuffle; at 10^12 docs the cost is one
    Arrow round-trip over the text column (pair with
    ``rebalance_for_cpu`` when the scan yields fewer splits than
    cores).  Null text stays null with a null flag.

    Cross-engine contract: DuckDB's ``nfc_normalize()`` (utf8proc) and
    CPython's ``unicodedata`` both implement UAX #15, so
    ``md5(normalized)`` matches exactly — see the
    ``nfc_normalize_docs`` driver query.
    """
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    # NOTE: never df.schema.add(...) — StructType.add mutates in place
    # and pyspark CACHES the schema object on the DataFrame, silently
    # desyncing it from the JVM plan
    schema = StructType(list(df.schema.fields)
                        + [StructField("nfc_changed", BooleanType())])

    def norm_batches(it):
        import unicodedata
        for pdf in it:
            raw = pdf[text_col]
            normed = [unicodedata.normalize(form, x)
                      if isinstance(x, str) else None for x in raw]
            changed = [(n != x) if isinstance(x, str) else None
                       for x, n in zip(raw, normed)]
            pdf = pdf.copy()
            pdf[text_col] = pd.Series(normed, index=pdf.index,
                                      dtype="object")
            pdf["nfc_changed"] = pd.array(changed, dtype="boolean")
            yield pdf

    return df.mapInPandas(norm_batches, schema=schema)


def tokenizer_fertility(df: DataFrame, text_col: str = "text",
                        by: str = "source") -> DataFrame:
    """Per-group tokenizer fertility census: whitespace words vs BPE-ish
    pieces (:func:`bpe_ish_token_count`) vs characters, as EXACT integer
    sums — the standard corpus planning table (pieces/word = fertility,
    chars/piece ≈ bytes-per-token for budget conversion).

    One partial-aggregated scan (map-side combine, |groups|-bounded
    result); ratios are left to callers so contracts can micro-quantize
    the single divisions.  Null text counts as a doc with zero
    words/pieces/chars (``n_null_text`` reports how many)."""
    t = F.col(text_col)
    zl = lambda c: F.sum(F.coalesce(c, F.lit(0)).cast("long"))  # noqa: E731
    return df.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).cast("long")
        .alias("n_null_text"),
        zl(token_count(text_col)).alias("n_words"),
        zl(bpe_ish_token_count(text_col)).alias("n_pieces"),
        zl(F.length(t)).alias("n_chars"))


SCRIPTS_DEFAULT = ("Latin", "Cyrillic", "Han", "Arabic", "Greek",
                   "Hangul", "Devanagari", "Hebrew", "Thai")


def dominant_script_col(text_col: str = "text",
                        scripts=SCRIPTS_DEFAULT):
    """The :func:`script_census` ``dominant_script`` rule as a single
    map-only Column (largest per-script letter count, ties to the
    lexicographically smallest name, null text / zero letters → null).
    Lets per-script GROUPING queries fold the script decision into the
    grouping scan instead of joining the full census back on doc id —
    one pass, zero exchanges added.  Shares the census expressions, so
    the rule cannot drift between the two."""
    t = F.col(text_col)
    cnt = {s: F.when(t.isNull(), F.lit(0)).otherwise(F.length(
        F.regexp_replace(t, f"[^\\p{{Is{s}}}]", ""))).cast("long")
        for s in scripts}
    pairs = F.array(*[F.struct((-cnt[s]).alias("n"),
                               F.lit(s).alias("s")) for s in scripts])
    best = F.array_min(pairs)
    return F.when(t.isNull() | (best["n"] == 0), F.lit(None)) \
        .otherwise(best["s"])


def script_census(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  scripts=SCRIPTS_DEFAULT) -> DataFrame:
    """Per-document writing-system census — the language-ID prior for
    multilingual corpus routing: per-script letter counts (Unicode
    script classes, identical in Java regex ``\\p{IsX}`` and DuckDB's
    RE2 ``\\p{X}`` — parity pinned in tests), total letters ``\\p{L}``,
    the dominant script (max count; ties take the lexicographically
    smallest name), and its micro-quantized share of letters.

    ONE map-only JVM projection — zero exchanges, zero Python; each
    script costs one vectorized regexp pass over the row.  Null text
    → zero counts, null dominant.  Exact SQL oracle.
    """
    t = F.col(text_col)
    cnt = {s: F.when(t.isNull(), F.lit(0)).otherwise(F.length(
        F.regexp_replace(t, f"[^\\p{{Is{s}}}]", ""))).cast("long")
        for s in scripts}
    letters = F.when(t.isNull(), F.lit(0)).otherwise(
        F.length(F.regexp_replace(t, r"[^\p{L}]", ""))).cast("long")
    # dominant = min over (-count, name): largest count, then smallest
    # name — a pure JVM array_min over |scripts| structs
    pairs = F.array(*[F.struct((-cnt[s]).alias("n"),
                               F.lit(s).alias("s")) for s in scripts])
    best = F.array_min(pairs)
    dominant = F.when(t.isNull() | (best["n"] == 0), F.lit(None)) \
        .otherwise(best["s"])
    from ..functions.util import quantize
    frac = F.when(
        dominant.isNotNull() & (letters > 0),
        quantize((-best["n"]).cast("double") / letters.cast("double"),
                 6))
    return df.select(
        F.col(id_col), letters.alias("n_letters"),
        *[cnt[s].alias(f"n_{s.lower()}") for s in scripts],
        dominant.alias("dominant_script"),
        frac.alias("dominant_frac_u"))


def compression_metrics(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the classic
    repetitiveness/quality proxy (highly compressible ≈ boilerplate or
    looped spam; near-incompressible ≈ encrypted/binary junk): adds
    ``n_bytes`` (utf-8), ``n_compressed`` and micro-quantized
    ``compression_ratio_u`` (compressed/raw).

    ONE Arrow-batched map pass (zlib is C-speed; the stream is fully
    deterministic for a fixed level and zlib build, so the query is
    golden-pinned rather than SQL-mirrored — DuckDB has no zlib).
    Null/empty text → nulls (a 0-byte ratio is undefined).

    Scale shape: map-only, zero exchanges — scan-speed at 100 TB.
    """
    import zlib
    from typing import Iterator

    import pandas as pd

    cols = [c for c in df.columns]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb, nc, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None or t != t or len(t) == 0:
                    nb.append(None)
                    nc.append(None)
                    ratio.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
                ratio.append(
                    int(len(comp) / len(raw) * 1_000_000 + 0.5))
            pdf = pdf.copy()
            pdf["n_bytes"] = pd.array(nb, dtype="Int64")
            pdf["n_compressed"] = pd.array(nc, dtype="Int64")
            pdf["compression_ratio_u"] = pd.array(ratio, dtype="Int64")
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema) + \
        ", n_bytes long, n_compressed long, compression_ratio_u long"
    return df.select(*cols).mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# dictionary / blocklist tagging


def dict_tag(df: DataFrame, keywords, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-document dictionary tagging: for every keyword in a bounded
    lexicon, the number of (non-overlapping, left-to-right) substring
    occurrences in the document, case-insensitively (document and
    keywords are lower-cased) — the primitive behind blocklist
    filters (C4's "bad words" pass, Raffel et al. 2020 §2.2) and
    topic-lexicon tagging.

    Counting idiom: ``(len(hay) − len(replace(hay, kw, ''))) / len(kw)``
    — exact integers, the same non-overlapping replace semantics in
    Spark and DuckDB, so counts are engine-bit-identical.  The lexicon
    is a LITERAL array evaluated inside one projection: per row the
    transform emits only matching (keyword, n_hits) structs, so the
    explode's output is bounded by actual hits, not |docs|·|lexicon|.

    Returns ``(id, keyword, n_hits)`` with ``n_hits >= 1`` — documents
    with no hits (and null documents) produce no rows.

    Plan shape: map-only (Project → Generate), zero shuffles, zero
    Python; at 10^12 docs this is a pure scan pass whose cost is the
    |lexicon| replace scans per document.
    """
    kws = [str(k) for k in keywords]
    if not kws or any(len(k) == 0 for k in kws):
        raise ValueError("keywords must be non-empty strings")
    if len(set(kws)) != len(kws):
        raise ValueError("duplicate keywords")
    hay = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    kws = [k.lower() for k in kws]
    if len(set(kws)) != len(kws):
        raise ValueError("keywords collide after lower()")
    lex = F.array(*[F.lit(k) for k in sorted(set(kws))])
    hits = F.filter(
        F.transform(
            lex,
            lambda k: F.struct(
                k.alias("keyword"),
                ((F.length(hay) - F.length(F.replace(hay, k, F.lit(""))))
                 / F.length(k)).cast("long").alias("n_hits"))),
        lambda s: s["n_hits"] > 0)
    return (df.select(F.col(id_col), F.explode(hits).alias("__h"))
            .select(id_col, F.col("__h.keyword").alias("keyword"),
                    F.col("__h.n_hits").alias("n_hits")))


def blocklist_filter(df: DataFrame, keywords, max_hits: int = 0,
                     text_col: str = "text") -> DataFrame:
    """Drop documents whose TOTAL blocklist-keyword occurrence count
    exceeds ``max_hits`` (default 0 — any hit drops, the C4 rule),
    counted case-insensitively. Null documents carry zero hits and are
    kept.

    Same exact counting idiom as :func:`dict_tag`, but summed with
    ``F.aggregate`` inside the projection — the filter is a map-only
    predicate; no explode, no shuffle, column-pruning friendly.
    Returns the input rows that survive, all columns, plus
    ``blocklist_hits``.
    """
    kws = [str(k) for k in keywords]
    if not kws or any(len(k) == 0 for k in kws):
        raise ValueError("keywords must be non-empty strings")
    hay = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    lex = F.array(*[F.lit(k) for k in sorted({k.lower() for k in kws})])
    total = F.aggregate(
        lex, F.lit(0).cast("long"),
        lambda acc, k: acc + ((F.length(hay)
                               - F.length(F.replace(hay, k, F.lit(""))))
                              / F.length(k)).cast("long"))
    return (df.withColumn("blocklist_hits", total)
            .where(F.col("blocklist_hits") <= int(max_hits)))
