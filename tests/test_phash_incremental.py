"""pHash multimodal near-dup + incremental MinHash store semantics."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.dedup import (
    incremental_minhash_pairs, minhash_lsh_pairs, minhash_signatures)
from msi_preprocessing_pipeline_spark.operators.multimodal import (
    _dct_matrix, _resize_area, phash64, phash_near_pairs,
    synth_media_from_ids)

SF001 = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF001}/documents.parquet")


# ---------------------------------------------------------------------------
# resize / DCT kernels


def test_resize_area_exact_box_means():
    img = np.arange(16, dtype=np.float64).reshape(4, 4)
    out = _resize_area(img, 2)
    # 2x2 boxes: exact means of the four quadrants
    assert np.allclose(out, [[img[:2, :2].mean(), img[:2, 2:].mean()],
                             [img[2:, :2].mean(), img[2:, 2:].mean()]])


def test_resize_area_upscale_replicates():
    img = np.array([[1.0, 2.0], [3.0, 4.0]])
    out = _resize_area(img, 4)
    assert out.shape == (4, 4)
    # each source pixel replicated into a 2x2 block
    assert np.allclose(out, np.repeat(np.repeat(img, 2, 0), 2, 1))


def test_dct_matrix_orthonormal():
    d = _dct_matrix(32)
    assert np.allclose(d @ d.T, np.eye(32), atol=1e-12)


# ---------------------------------------------------------------------------
# pHash


def test_phash_partitioning_invariant(spark):
    media = synth_media_from_ids(_docs(spark).select("doc_id"), n_groups=20)
    a = (phash64(media.repartition(2), decoder="real", id_col="doc_id")
         .toPandas().set_index("doc_id")["phash"].sort_index())
    b = (phash64(media.repartition(7), decoder="real", id_col="doc_id")
         .toPandas().set_index("doc_id")["phash"].sort_index())
    assert (a == b).all()


def test_phash_near_pairs_matches_bruteforce(spark):
    media = synth_media_from_ids(_docs(spark).select("doc_id"), n_groups=12)
    hashes = phash64(media, decoder="real", id_col="doc_id")
    got = (phash_near_pairs(hashes, id_col="doc_id", max_hamming=6)
           .toPandas().sort_values(["doc_a", "doc_b"])
           .reset_index(drop=True))
    pdf = hashes.toPandas()
    rows = sorted(pdf.itertuples(index=False), key=lambda r: r.doc_id)
    exp = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = bin((rows[i].phash ^ rows[j].phash) & ((1 << 64) - 1)) \
                .count("1")
            if d <= 6:
                exp.append((rows[i].doc_id, rows[j].doc_id, d))
    exp = pd.DataFrame(exp, columns=["doc_a", "doc_b", "hamming"])
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got, exp.astype({"hamming": got["hamming"].dtype}))


def test_phash_separates_groups(spark):
    # near-identical images (same group) collide; unrelated ones don't
    media = synth_media_from_ids(_docs(spark).select("doc_id"), n_groups=12)
    hashes = phash64(media, decoder="real", id_col="doc_id").toPandas()
    import hashlib
    gid = {r.doc_id: int(hashlib.md5(str(r.doc_id).encode())
                         .hexdigest()[:8], 16) % 12
           for r in hashes.itertuples()}
    rows = list(hashes.itertuples())
    within, across = [], []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = bin((rows[i].phash ^ rows[j].phash) & ((1 << 64) - 1)) \
                .count("1")
            (within if gid[rows[i].doc_id] == gid[rows[j].doc_id]
             else across).append(d)
    assert np.median(within) <= 6
    assert np.median(across) > 20


def test_phash_requires_8x8():
    with pytest.raises(ValueError):
        phash64(None, hash_size=4)


# ---------------------------------------------------------------------------
# incremental MinHash


def test_incremental_minhash_equivalence(spark):
    docs = _docs(spark)
    is_new = F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0
    prior_sigs = minhash_signatures(docs.where(~is_new))
    all_sigs, pairs = incremental_minhash_pairs(
        docs.where(is_new), prior_sigs, threshold=0.2)
    got = (pairs.toPandas().sort_values(["doc_a", "doc_b"])
           .reset_index(drop=True))
    full = minhash_lsh_pairs(minhash_signatures(docs),
                             threshold=0.2).toPandas()
    new_ids = {r.doc_id for r in docs.where(is_new)
               .select("doc_id").collect()}
    exp = (full[full.doc_a.isin(new_ids) | full.doc_b.isin(new_ids)]
           .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)
    assert all_sigs.count() == docs.count()


def test_incremental_minhash_no_prior_prior_pairs(spark):
    docs = _docs(spark)
    is_new = F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0
    prior_sigs = minhash_signatures(docs.where(~is_new))
    _, pairs = incremental_minhash_pairs(
        docs.where(is_new), prior_sigs, threshold=0.0)
    new_ids = {r.doc_id for r in docs.where(is_new)
               .select("doc_id").collect()}
    pdf = pairs.toPandas()
    assert len(pdf) > 0
    assert (pdf.doc_a.isin(new_ids) | pdf.doc_b.isin(new_ids)).all()


def test_incremental_minhash_reingest_replaces(spark):
    docs = _docs(spark).limit(20).cache()
    # prior store signed from TRUNCATED text; re-ingest with full text
    truncated = docs.withColumn("text", F.substring("text", 1, 30))
    prior_sigs = minhash_signatures(truncated)
    all_sigs, _ = incremental_minhash_pairs(docs, prior_sigs)
    assert all_sigs.count() == 20  # one row per id, not two
    fresh = minhash_signatures(docs)
    joined = (all_sigs.alias("s")
              .join(fresh.alias("f"), "doc_id")
              .where(F.col("s.signature") != F.col("f.signature")))
    assert joined.count() == 0  # store carries the NEW signatures
