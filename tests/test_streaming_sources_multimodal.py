"""Streaming serve, the ASCII source, multimodal plumbing, and the
array expression helpers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.functions import cosine_expr, tic
from msi_preprocessing_pipeline_spark.operators import multimodal
from msi_preprocessing_pipeline_spark.operators import spectrum as sp
from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
from msi_preprocessing_pipeline_spark.plans.pipeline import FeaturePipeline
from msi_preprocessing_pipeline_spark.sources import ascii as ascii_src
from msi_preprocessing_pipeline_spark.sources import synthetic
from msi_preprocessing_pipeline_spark.streaming import serve as stream_serve


def test_streaming_features_match_batch(spark, tmp_path):
    cfg = PipelineConfig()
    sources = {"src-000": 8, "src-001": 8}
    axes = synthetic.source_axes_for(sources, 512)
    df = sp.with_ts(synthetic.sequences_df(spark, sources, base_channels=512),
                    cfg)
    in_dir = str(tmp_path / "seq")
    df.write.parquet(in_dir)
    table = spark.read.parquet(in_dir)

    pipe = FeaturePipeline(spark, axes, cfg)
    art = pipe.fit(table)
    batch = pipe.transform(table, [art]).toPandas()

    feats = stream_serve.streaming_features(spark, in_dir, [art], axes, cfg)
    out_dir = str(tmp_path / "out")
    stream_serve.run_stream_to_parquet(feats, out_dir,
                                       str(tmp_path / "ckpt"))
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == len(batch)
    b = {r.doc_id: np.asarray(r.features) for r in batch.itertuples()}
    for r in got.itertuples():
        np.testing.assert_array_equal(np.asarray(r.features), b[r.doc_id])


def test_ascii_source_roundtrip(spark, tmp_path):
    d = tmp_path / "raw" / "my-ds1"
    d.mkdir(parents=True)
    mz = np.linspace(700.0, 710.0, 50)
    c1 = np.arange(50, dtype=float) * 2
    with open(d / "my-ds1_0_R01X02Y03_1.txt", "w") as f:
        for m, c in zip(mz, c1):
            f.write(f"{m} {c}\n")
    # decimal-comma variant (reference io_utils fallback)
    with open(d / "my-ds1_0_R01X05Y07_1.txt", "w") as f:
        for m, c in zip(mz, c1 + 1):
            f.write(f"{m:.6f} {c:.1f}\n".replace(".", ","))
    with open(d / "ignored.dat", "w") as f:
        f.write("nope")

    got = ascii_src.read_spectra_dir(spark, str(d)).toPandas() \
        .sort_values("path").reset_index(drop=True)
    assert len(got) == 2  # .dat filtered out
    assert got.loc[0, ["R", "X", "Y"]].tolist() == [1, 2, 3]
    assert got.loc[1, ["R", "X", "Y"]].tolist() == [1, 5, 7]
    np.testing.assert_allclose(np.asarray(got.loc[0, "mz"]), mz, rtol=1e-12)
    np.testing.assert_allclose(np.asarray(got.loc[1, "counts"]), c1 + 1,
                               rtol=1e-6)
    assert got.loc[0, "source"] == "my-ds1"
    meta = ascii_src.metadata_table(ascii_src.read_spectra_dir(spark, str(d)))
    assert [(r.R, r.X, r.Y) for r in meta.collect()] == [(1, 2, 3), (1, 5, 7)]
    assert meta.columns == ["source", "path", "R", "X", "Y"]


def test_multimodal_plumbing(spark):
    media = multimodal.make_fake_media(spark, n=12)
    hashes = multimodal.phash64(media, decoder="fake").toPandas()
    assert len(hashes) == 12
    # deterministic: same payload → same hash
    hashes2 = multimodal.phash64(media, decoder="fake").toPandas()
    a = hashes.sort_values("media_id").reset_index(drop=True)
    b = hashes2.sort_values("media_id").reset_index(drop=True)
    assert a["phash"].tolist() == b["phash"].tolist()

    with pytest.raises(Exception):
        multimodal.phash64(media, decoder="real").collect()


def _encode_bmp24(img_rgb: np.ndarray) -> bytes:
    """Minimal uncompressed bottom-up 24-bit BMP writer (test-side)."""
    h, w, _ = img_rgb.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    bgr = img_rgb[:, :, ::-1]
    raster[:, :w * 3] = bgr.reshape(h, w * 3)
    raster = raster[::-1]  # bottom-up row order
    off, size = 54, 54 + raster.size
    header = (b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
              + off.to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + h.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little")
              + raster.size.to_bytes(4, "little")
              + b"\0" * 16)
    return header + raster.tobytes()


def test_real_decode_roundtrip(spark):
    """Pure-numpy real decoders: encode BMP/PGM/PPM with numpy, decode them
    back exactly, and hash them through the Spark operator to the hash of
    the original image."""
    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, size=(24, 33), dtype=np.uint8)  # odd width
    rgb = rng.randint(0, 256, size=(17, 22, 3), dtype=np.uint8)

    pgm = b"P5\n# comment\n33 24\n255\n" + gray.tobytes()
    ppm = (f"P6 {rgb.shape[1]} {rgb.shape[0]} 255\n".encode()
           + rgb.tobytes())
    bmp = _encode_bmp24(rgb)

    luma = np.clip(np.round(0.299 * rgb[..., 0].astype(float)
                            + 0.587 * rgb[..., 1]
                            + 0.114 * rgb[..., 2]), 0, 255).astype(np.uint8)
    expected = {0: gray, 1: luma, 2: luma}

    rows = [(0, bytearray(pgm), "image/x-portable-graymap",
             33, 24, 1),
            (1, bytearray(ppm), "image/x-portable-pixmap",
             22, 17, 1),
            (2, bytearray(bmp), "image/bmp", 22, 17, 1)]
    for mid, payload, *_ in rows:
        np.testing.assert_array_equal(
            multimodal._real_decode(bytes(payload)), expected[mid])
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    got = (multimodal.phash64(media, decoder="real")
           .toPandas().set_index("media_id")["phash"])
    dct = multimodal._dct_matrix(32)
    for mid, img in expected.items():
        assert got[mid] == multimodal._phash_one(img, 32, 8, dct)


def test_real_decode_compressed_raises(spark):
    rows = [(0, bytearray(b"\x89PNG\r\n\x1a\n" + b"\0" * 64),
             "image/png", 8, 8, 1)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|Pillow"):
        multimodal.phash64(media, decoder="real").collect()


def test_array_function_exprs(spark):
    pdf = pd.DataFrame({
        "a": [[1.0, 2.0, 3.0]], "b": [[0.0, 1.0, 1.0]],
    })
    df = spark.createDataFrame(pdf)
    row = df.select(tic("a").alias("t"),
                    F.round(cosine_expr("a", "b"), 6).alias("cos")).first()
    assert row["t"] == 6.0
    np.testing.assert_allclose(row["cos"],
                               round(5 / (np.sqrt(14) * np.sqrt(2)), 6))
