"""BPE tokenizer fit/encode (operators/bpe.py)."""

import pytest

from msi_preprocessing_pipeline_spark.operators.bpe import (
    bpe_segment_word, encode_bpe, fit_bpe, word_frequencies)


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    # classic BPE teaching example: "low lower lowest ..." shapes
    rows = [(1, "low low low lower lower lowest"),
            (2, "low lowest newer newer new")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_frequencies(tiny_corpus):
    wf = {r["word"]: r["freq"]
          for r in word_frequencies(tiny_corpus).collect()}
    assert wf["low"] == 4 and wf["lower"] == 2 and wf["new"] == 1


def test_fit_bpe_matches_hand_computation(tiny_corpus):
    merges = fit_bpe(word_frequencies(tiny_corpus), n_merges=3)
    # 'l'+'o' dominates (lo appears in low/lower/lowest: 4+2+2=8)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")  # then lo+w (same 8 occurrences)
    assert len(merges) == 3


def test_fit_bpe_deterministic_under_repartition(tiny_corpus):
    wf = word_frequencies(tiny_corpus)
    a = fit_bpe(wf, n_merges=8)
    b = fit_bpe(wf.repartition(7), n_merges=8)
    assert a == b


def test_encode_roundtrip_reconstructs_words(tiny_corpus):
    merges = fit_bpe(word_frequencies(tiny_corpus), n_merges=10)
    out = encode_bpe(tiny_corpus, merges).collect()
    originals = {r["doc_id"]: r["text"] for r in tiny_corpus.collect()}
    for r in out:
        # concatenating the symbols and splitting on the end-of-word
        # marker must reproduce the normalized words exactly
        joined = "".join(r["bpe_tokens"])
        words = [w for w in joined.split("</w>") if w]
        assert words == originals[r["doc_id"]].lower().split()


def test_segment_word_uses_merge_ranks():
    ranks = {("l", "o"): 0, ("lo", "w"): 1, ("low", "</w>"): 2}
    assert bpe_segment_word("low", ranks) == ["low</w>"]
    assert bpe_segment_word("lox", ranks) == ["lo", "x", "</w>"]
    assert bpe_segment_word("zz", {}) == ["z", "z", "</w>"]


def test_fit_bpe_vocab_cap(tiny_corpus):
    with pytest.raises(ValueError, match="collect_threshold"):
        fit_bpe(word_frequencies(tiny_corpus), n_merges=2,
                collect_threshold=3)


def test_fit_bpe_incremental_matches_rescan_reference(spark):
    """The incremental (subword-nmt style) fit must produce the EXACT merge
    sequence of the naive full-rescan reference, including tie-breaks."""
    import random

    from msi_preprocessing_pipeline_spark.operators.bpe import _fit_bpe_rescan

    rng = random.Random(1234)
    alphabet = "abcdef"
    rows = []
    for i in range(60):
        words = [
            "".join(rng.choice(alphabet)
                    for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(3, 12))]
        rows.append((i, " ".join(words)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    wf = word_frequencies(corpus).persist()
    try:
        assert fit_bpe(wf, n_merges=60) == _fit_bpe_rescan(wf, n_merges=60)
    finally:
        wf.unpersist()


def test_encode_bpe_string_id_column(spark):
    """The id column keeps its input type (r3 hardcoded 'long')."""
    docs = spark.createDataFrame(
        [("a1", "low lower"), ("b2", "low")], "doc_id string, text string")
    merges = fit_bpe(word_frequencies(docs), n_merges=3)
    out = encode_bpe(docs, merges)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert {r["doc_id"] for r in out.collect()} == {"a1", "b2"}
