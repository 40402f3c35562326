"""Embedding-column feature operators: norms, moments, covariance, PCA,
label centroids and centroid-distance features.

Embeddings are ``array<float>`` columns (the multimodal/similarity data
model, cf. ``operators.similarity``).  This module adds the *dense
linear-algebra* feature passes a training pipeline runs over them —
all designed around one invariant: per-row work is map-only
(JVM array expressions or Arrow-vectorized numpy), and anything
aggregated is bounded by the embedding dimension ``d`` (or ``d²``,
or ``|labels|·d``), never by the row count.  Nothing row-proportional
ever reaches the driver.

Reference parity: the reference models spectra with a global GMM fitted
from pooled statistics and then featurizes every spectrum against that
global model (``components/spectrum/model.py``,
``pipeline/gmm.py:128-129``).  PCA-fit/project and centroid distances
are the embedding-payload analogue: fit a small global model from
distributed moments, broadcast it, score every row map-only.

Cross-engine exactness notes: float32·float32 products are EXACT in
float64 (24-bit mantissas), so every partial term here equals the SQL
oracle's term bit-for-bit — but distributed float64 SUMS combine in
task-completion order, so `round(sum, 6)` contracts flip at rounding
midpoints (the round-4 `covariance_embeddings` driver red row).  Every
aggregating operator here therefore takes an optional ``scale``: when
set, inputs are quantized to ``floor(x * 10**scale + 0.5)`` integers
(each step IEEE — Spark, DuckDB and numpy agree bit-for-bit) and all
moment sums run in exact integer/decimal space; only the final
statistic touches floating point, via a FIXED-order expression both
engines evaluate identically.  Same discipline as
``sequences.autocorr`` / ``trend_features``.  ``scale=None`` keeps the
raw float64 path (faster; for contracts use ``scale``).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.util import DEC38 as _DEC
from ..functions.util import quantize


# ---------------------------------------------------------------------------
# norms (pure JVM)


def _sq_norm(vec_col: str):
    return F.aggregate(
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _quant(x, scale: int):
    """Shared quantization rule (``functions.util.quantize``) carried as
    a double for the float64-exact integer arithmetic below."""
    return quantize(x, scale).cast("double")


def embedding_norms(df: DataFrame, vec_col: str = "embedding",
                    out_col: str = "l2_norm",
                    scale: int | None = None) -> DataFrame:
    """L2 norm of each embedding — JVM ``aggregate`` fold, map-only.
    Null vectors get a null norm.

    With ``scale``, each component is quantized first and the fold
    sums exact integer squares (``Σq² ≤ d·(|x|·10^s)²`` must stay
    under 2⁵³ — at d=64, s=6, |x|≤1 that is 6.4e13, fine), so the
    sum is order-free and ``sqrt(Σq²)/10^s`` is the same double on
    every engine and partitioning."""
    if scale is None:
        return df.withColumn(out_col, F.sqrt(_sq_norm(vec_col)))
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: _quant(x, scale)),
        F.lit(0.0), lambda acc, q: acc + q * q)
    return df.withColumn(
        out_col, F.sqrt(sq) / F.lit(float(10 ** scale)))


# ---------------------------------------------------------------------------
# per-position moments & label centroids (position-exploded aggregations)


def embedding_moments(df: DataFrame, vec_col: str = "embedding",
                      scale: int | None = None) -> DataFrame:
    """Per-position mean/variance relation ``(pos, n, mean, var)`` with
    1-based ``pos`` and sample variance (ddof=1; null when n<2).

    posexplode → ONE map-side-combined aggregation to a d-sized
    relation.  The d× row blowup never shuffles raw rows: partial
    aggregation reduces each task to d rows before the exchange.

    With ``scale``, inputs are quantized and the moment sums run in
    exact decimal integers; the returned ``mean``/``var`` are then a
    FIXED-order double expression over those exact sums —
    ``mean = (Sx/n)/10^s``, ``var = ((Sxx − Sx·Sx/n)/(n−1))/10^2s``
    — identical on every engine and partitioning (each sum must stay
    under 2⁵³ for the exact double cast: ``n·(|x|·10^s)² < 2^53``,
    i.e. ~9e6 rows at s=6, |x|≤1; raise above that by lowering s).
    """
    if scale is None:
        pos = df.select(F.posexplode(vec_col).alias("pos0", "x"))
        x = F.col("x").cast("double")
        agg = (pos.groupBy((F.col("pos0") + 1).alias("pos"))
               .agg(F.count("*").alias("n"),
                    F.sum(x).alias("_sx"),
                    F.sum(x * x).alias("_sxx")))
        n = F.col("n").cast("double")
        mean = F.col("_sx") / n
        var = F.when(F.col("n") >= 2,
                     (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n)
                     / (n - 1))
        return agg.select("pos", "n", mean.alias("mean"),
                          var.alias("var"))
    pos = df.select(F.posexplode(vec_col).alias("pos0", "x"))
    q = _quant(F.col("x"), scale)
    agg = (pos.groupBy((F.col("pos0") + 1).alias("pos"))
           .agg(F.count("*").alias("n"),
                F.sum(q.cast(_DEC)).alias("_sx"),
                F.sum((q * q).cast(_DEC)).alias("_sxx")))
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    mean = (sx / n) / F.lit(float(10 ** scale))
    var = F.when(
        F.col("n") >= 2,
        ((sxx - sx * sx / n) / (n - F.lit(1.0)))
        / F.lit(float(10 ** (2 * scale))))
    return agg.select("pos", "n", mean.alias("mean"), var.alias("var"))


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    scale: int | None = None) -> DataFrame:
    """Per-label mean-embedding relation ``(label, pos, n, mean)``
    (1-based ``pos``) — the class-prototype features.  One
    map-side-combined aggregation to a |labels|·d-sized relation;
    null labels are a real group.

    With ``scale``, adds ``mean_q`` — the centroid mean re-quantized
    to ``10^-scale`` units as an exact integer (``floor(Sx/n + 0.5)``
    over the exact decimal sum) — and makes ``mean`` the fixed-order
    ``(Sx/n)/10^s`` double.  ``mean_q`` is what
    :func:`centroid_distance_features` consumes in its deterministic
    path: integer centroids make every distance an exact-integer sum.
    """
    pos = df.select(F.col(label_col).alias("label"),
                    F.posexplode(vec_col).alias("pos0", "x"))
    if scale is None:
        x = F.col("x").cast("double")
        return (pos.groupBy("label", (F.col("pos0") + 1).alias("pos"))
                .agg(F.count("*").alias("n"),
                     (F.sum(x) / F.count("*")).alias("mean")))
    q = _quant(F.col("x"), scale)
    agg = (pos.groupBy("label", (F.col("pos0") + 1).alias("pos"))
           .agg(F.count("*").alias("n"),
                F.sum(q.cast(_DEC)).alias("_sx")))
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    return agg.select(
        "label", "pos", "n",
        ((sx / n) / F.lit(float(10 ** scale))).alias("mean"),
        F.floor(sx / n + F.lit(0.5)).alias("mean_q"))


# ---------------------------------------------------------------------------
# covariance (distributed partial outer products)


def covariance_matrix(df: DataFrame, vec_col: str = "embedding",
                      scale: int | None = None) -> DataFrame:
    """Sample covariance relation ``(i, j, n, cov)`` over the embedding
    positions (1-based, upper triangle ``i <= j``, ddof=1).

    Scale shape: ``mapInPandas`` accumulates per-partition partial sums
    in numpy (one ``Mᵀ·M`` per Arrow batch — vectorized, no per-row
    Python) and emits the upper triangle as ``(i, j, s_xy, s_xi, s_xj,
    cnt)`` — the pair's cross-product sum PLUS both marginal sums and
    the count carried on the same row, so the whole statistic reduces
    in ONE map-side-combined aggregation with ZERO joins and ONE scan
    (an earlier marginal-rows + self-join shape re-ran the corpus scan
    four times — pinned against in ``test_plan_shapes``).  d²-bounded
    output; raw rows never shuffle.  Ragged embedding lengths raise.

    With ``scale``, the partials are int64 ``Mqᵀ·Mq`` over quantized
    inputs, cross-partition reduction is exact decimal, and ``cov`` is
    the fixed-order ``((Sxy − Sx·Sy/n)/(n−1))/10^2s`` double — the
    same value on every engine and partitioning.
    """
    agg = _cov_agg(df, vec_col, scale=scale)
    # cross-partition ragged guard: a partition seeing only d'-length
    # vectors passes the per-partition check, but its pairs then carry a
    # smaller _n than pairs involving positions > d'. All-equal _n over
    # the d²-bounded relation (one bounded window, exact — counts are
    # integers in double space) certifies consistency; raise otherwise.
    w = Window.partitionBy()
    consistent = (F.min("_n").over(w) == F.max("_n").over(w))
    n = F.col("_n")
    if scale is None:
        cov = F.when(n >= 2, (F.col("_sxy")
                              - F.col("_sx") * F.col("_sy") / n) / (n - 1))
    else:
        nd = n.cast("double")
        sxy = F.col("_sxy").cast("double")
        sx = F.col("_sx").cast("double")
        sy = F.col("_sy").cast("double")
        cov = F.when(n >= 2,
                     ((sxy - sx * sy / nd) / (nd - F.lit(1.0)))
                     / F.lit(float(10 ** (2 * scale))))
    guarded = F.when(consistent, cov).otherwise(F.raise_error(F.lit(
        "covariance_matrix: ragged embedding lengths across partitions")))
    return agg.select("i", "j", n.cast("long").alias("n"),
                      guarded.alias("cov"))


def _cov_agg(df: DataFrame, vec_col: str,
             scale: int | None = None) -> DataFrame:
    """The shared one-scan covariance aggregation:
    ``(i, j, _sxy, _sx, _sy, _n)`` per upper-triangle pair.

    ``scale=None``: float64 partials (fast path; last-ulp sums vary
    with partitioning).  ``scale`` set: inputs quantized to
    ``floor(x·10^s + 0.5)`` int64, partials accumulated in exact int64
    (guarded against overflow), reduced with exact decimal sums —
    bit-reproducible under any partitioning.
    """
    name = vec_col
    qmul = None if scale is None else float(10 ** scale)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        total = None
        sums = None
        n = 0
        qmax = 0
        for pdf in batches:
            vecs = pdf[name].dropna()
            if not len(vecs):
                continue
            lens = np.fromiter((len(v) for v in vecs), dtype=np.int64,
                               count=len(vecs))
            if lens.min() != lens.max():
                raise ValueError(
                    f"ragged embedding lengths in batch: "
                    f"{lens.min()}..{lens.max()}")
            M = np.stack(vecs.to_numpy()).astype(np.float64)
            if qmul is not None:
                M = np.floor(M * qmul + 0.5)
                qmax = max(qmax, float(np.abs(M).max(initial=0.0)))
                M = M.astype(np.int64)
            if total is None:
                total = M.T @ M
                sums = M.sum(axis=0, dtype=M.dtype)
            else:
                if M.shape[1] != total.shape[0]:
                    raise ValueError(
                        f"ragged embedding length: {M.shape[1]} vs "
                        f"{total.shape[0]}")
                total += M.T @ M
                sums += M.sum(axis=0, dtype=M.dtype)
            n += len(M)
            if qmul is not None and n * qmax * qmax > float(2 ** 62):
                # int64 matmul wraps silently on overflow — fail fast
                # while the bound (rows-so-far × max|q|²) still proves
                # every accumulated partial is exact
                raise OverflowError(
                    f"covariance partials would overflow int64: "
                    f"{n} rows with max|q|={qmax:.0f} at scale={scale}; "
                    f"lower scale or repartition finer")
        if total is None:
            return
        d = total.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({
            "i": iu + 1, "j": ju + 1,
            "s_xy": total[iu, ju],
            "s_xi": sums[iu], "s_xj": sums[ju],
            "cnt": np.full(len(iu), n,
                           dtype=np.int64 if qmul else np.float64),
        })

    if scale is None:
        parts = df.select(vec_col).mapInPandas(
            partials,
            schema="i int, j int, s_xy double, s_xi double, s_xj double, "
                   "cnt double")
        return (parts.groupBy("i", "j")
                .agg(F.sum("s_xy").alias("_sxy"),
                     F.sum("s_xi").alias("_sx"),
                     F.sum("s_xj").alias("_sy"),
                     F.sum("cnt").alias("_n")))
    parts = df.select(vec_col).mapInPandas(
        partials,
        schema="i int, j int, s_xy long, s_xi long, s_xj long, cnt long")
    return (parts.groupBy("i", "j")
            .agg(F.sum(F.col("s_xy").cast(_DEC)).alias("_sxy"),
                 F.sum(F.col("s_xi").cast(_DEC)).alias("_sx"),
                 F.sum(F.col("s_xj").cast(_DEC)).alias("_sy"),
                 F.sum("cnt").alias("_n")))


# ---------------------------------------------------------------------------
# PCA (distributed moments -> bounded driver eigendecomposition)


class PCAModel(NamedTuple):
    mean: np.ndarray            # (d,)
    components: np.ndarray      # (k, d) rows = principal directions
    explained_variance: np.ndarray  # (k,)


def _collect_cov_mean(df: DataFrame, vec_col: str, op_name: str):
    """Shared fit front-end for :func:`pca_fit` and
    :func:`mahalanobis_fit`: collect the d²-bounded moment relation and
    reconstruct the 12-dp-rounded sample covariance + mean (the
    rounding makes the result run- and partition-order-invariant — see
    the pca_fit docstring). Returns ``(cov, mean, n, d)``."""
    rel = _cov_agg(df, vec_col).collect()
    if not rel:
        raise ValueError(f"{op_name}: empty input")
    d = max(r.j for r in rel)
    ns = {r["_n"] for r in rel}
    if len(ns) != 1:
        raise ValueError(
            f"{op_name}: ragged embedding lengths across partitions "
            f"(inconsistent counts {sorted(ns)})")
    n = ns.pop()
    if n < 2:
        raise ValueError(f"{op_name}: need n >= 2 rows, got {int(n)}")
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rel:
        c = round((r["_sxy"] - r["_sx"] * r["_sy"] / n) / (n - 1), 12)
        cov[r.i - 1, r.j - 1] = c
        cov[r.j - 1, r.i - 1] = c
        if r.i == r.j:
            mean[r.i - 1] = round(r["_sx"] / n, 12)
    return cov, mean, n, d


def pca_fit(df: DataFrame, k: int = 4,
            vec_col: str = "embedding") -> PCAModel:
    """Fit a k-component PCA from the DISTRIBUTED covariance relation:
    the only driver-side data is the d²-bounded covariance matrix and
    the d-sized mean — never rows (the same bounded-collect discipline
    as ``similarity.ivf_fit_centroids``).

    Deterministic output: ``numpy.linalg.eigh`` on the same matrix is
    reproducible, eigenvalues are sorted descending, and each
    component's sign is fixed so its largest-|coefficient| entry
    (first index on ties) is positive.  The collected covariance/mean
    are rounded to 12 dp first: distributed double sums combine in
    task-completion order, so identical data can differ at the last
    ulp between runs — the rounding (1e-12 ≪ any real covariance
    here) makes the fit run- and partition-order-invariant, hence
    golden-pinnable (same discipline as ``ivf_fit_centroids``).
    """
    cov, mean, n, d = _collect_cov_mean(df, vec_col, "pca_fit")
    if k < 1 or k > d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in comps:
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c *= -1
    return PCAModel(mean=mean, components=comps,
                    explained_variance=vals[order].copy())


def pca_project(df: DataFrame, model: PCAModel,
                vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project embeddings onto the fitted components:
    ``(x - mean) @ componentsᵀ`` as one Arrow-vectorized matmul per
    batch — map-only, model broadcast by closure (k·d floats).  Null
    vectors project to null."""
    mean = model.mean
    comps_t = model.components.T  # (d, k)

    @F.pandas_udf("array<double>")
    def proj(col: pd.Series) -> pd.Series:
        mask = col.notna().to_numpy()
        vals: list = []
        if mask.any():
            M = np.stack(col[mask].to_numpy()).astype(np.float64)
            vals = list((M - mean) @ comps_t)
        out, k = [], 0
        for present in mask:
            if present:
                out.append(vals[k])
                k += 1
            else:
                out.append(None)
        return pd.Series(out, index=col.index, dtype=object)

    return df.withColumn(out_col, proj(F.col(vec_col)))


# ---------------------------------------------------------------------------
# centroid-distance features


def centroid_distance_features(df: DataFrame, centroids,
                               label_col: str = "label",
                               vec_col: str = "embedding",
                               scale: int | None = None) -> DataFrame:
    """Distance features against a bounded centroid set: per row, the
    euclidean distance to the row's OWN label centroid (null when the
    label has no centroid) and the nearest centroid's label + distance
    (ties broken by ascending label).

    ``centroids`` is the |labels|·d relation from
    :func:`label_centroids` (or a compatible ``(label, pos, mean)``
    relation): it is collected — BOUNDED by design — and broadcast by
    closure into ONE Arrow-vectorized pass; rows never explode or
    shuffle (a |labels|·d× explode-join would shuffle 640× the corpus
    at d=64, L=10 — this stays map-only).  Null embeddings keep their
    row with null distances; a label absent from the centroid set gets
    a null ``dist_own`` but is still scored for the nearest centroid.

    With ``scale``, ``centroids`` must carry the integer ``mean_q``
    column (from ``label_centroids(..., scale=s)``): row embeddings
    are quantized the same way, so every squared distance is an exact
    integer sum (order-free; ``d·(2·|x|·10^s)² < 2^53`` — 2.3e14 at
    d=64, s=6, |x|≤1) and ``sqrt(d2)/10^s`` plus the
    ``(d2, label)``-ordered nearest pick are identical on every
    engine and partitioning.
    """
    rows = centroids.collect()
    if not rows:
        raise ValueError("centroid_distance_features: empty centroids")
    labels = sorted({r.label for r in rows}, key=lambda v: (v is None, v))
    d = max(r.pos for r in rows)
    C = np.zeros((len(labels), d))
    lab_idx = {lab: i for i, lab in enumerate(labels)}
    for r in rows:
        C[lab_idx[r.label], r.pos - 1] = (r.mean if scale is None
                                          else float(r.mean_q))
    label_type = centroids.schema["label"].dataType.simpleString()
    out_schema = (f"dist_own double, nearest_label {label_type}, "
                  "dist_nearest double")
    lab_arr = np.array(labels, dtype=object)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            res = pdf.copy()
            own_out = [None] * n_rows
            near_lab = [None] * n_rows
            near_out = [None] * n_rows
            # null embeddings keep their row with null distances (same
            # contract as pca_project)
            mask = pdf[vec_col].notna().to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0]
                M = np.stack(
                    pdf[vec_col].iloc[idxs].to_numpy()).astype(np.float64)
                if scale is not None:
                    M = np.floor(M * float(10 ** scale) + 0.5)
                # (n, L) squared distances via ||x||² - 2xC + ||c||² is
                # the fast form but loses bitwise agreement with the SQL
                # oracle's Σ(x−c)²; with bounded L the direct form is fine
                # (and with scale set, every (q−m)² term and their sum
                # are exact integers in float64 — order-free)
                diffs = M[:, None, :] - C[None, :, :]      # (n, L, d)
                d2 = np.einsum("nld,nld->nl", diffs, diffs)
                dist = np.sqrt(d2)
                if scale is not None:
                    dist = dist / float(10 ** scale)
                nearest = d2.argmin(axis=1)
                own = [lab_idx.get(v, -1)
                       for v in pdf[label_col].iloc[idxs]]
                for r, (ri, o) in enumerate(zip(idxs, own)):
                    if o >= 0:
                        own_out[ri] = float(dist[r, o])
                    near_lab[ri] = lab_arr[nearest[r]]
                    near_out[ri] = float(dist[r, nearest[r]])
            res["dist_own"] = pd.Series(own_out, index=pdf.index,
                                        dtype=object)
            res["nearest_label"] = pd.Series(near_lab, index=pdf.index,
                                             dtype=object)
            res["dist_nearest"] = pd.Series(near_out, index=pdf.index,
                                            dtype=object)
            yield res

    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in df.schema.fields)
    return df.mapInPandas(score, schema=f"{in_fields}, {out_schema}")

# ---------------------------------------------------------------------------
# deterministic random projection (Johnson–Lindenstrauss sketch)


def rademacher_signs(in_dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """The deterministic ±1 projection matrix shared by
    :func:`random_projection` and its SQL oracles: entry ``(i, j)`` is
    ``+1`` when ``md5(f"{i}:{j}:rp:{seed}")``'s first 8 hex chars are an
    even integer, else ``-1`` — exactly the ``functions.util.md5_bucket``
    idiom with ``n=2``, so Spark (driver numpy here), DuckDB and Python
    derive the identical matrix from the identical strings with no
    shipped state.  An i.i.d. Rademacher matrix satisfies the JL lemma
    with the same distortion bounds as Gaussian (Achlioptas 2003,
    "Database-friendly random projections"), and integer entries keep
    the projection in EXACT integer arithmetic."""
    import hashlib

    signs = np.empty((in_dim, out_dim), dtype=np.int64)
    for i in range(in_dim):
        for j in range(out_dim):
            h = int(hashlib.md5(
                f"{i}:{j}:rp:{seed}".encode()).hexdigest()[:8], 16)
            signs[i, j] = 1 if h % 2 == 0 else -1
    return signs


def random_projection(df: DataFrame, in_dim: int, out_dim: int,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      seed: int = 7, scale: int = 6) -> DataFrame:
    """Map-only JL sketch: quantize each embedding to
    ``floor(x·10^scale + 0.5)`` int64 (JVM transform), then one Arrow
    batch matmul against the broadcast (d × out_dim) Rademacher matrix.
    Returns ``(id, rp array<long>)`` with components in quantized-sum
    units (divide by ``10^scale·√out_dim`` for calibrated real units) —
    EXACT integers, so the contract is partition-order-free and the SQL
    oracle can recompute the same matrix from md5 alone.

    Scale: zero shuffles, zero driver state beyond the d·k sign matrix;
    distances shrink d→out_dim before any ANN/near-dup pass (the classic
    sketch-then-bucket pipeline; cf. ``dedup.embedding_near_dup``'s
    hyperplane LSH, which keeps only sign bits — this keeps magnitudes).
    Null embeddings keep their row with a null sketch
    (``pca_project`` discipline).  Overflow: ``|out_j| ≤ in_dim·max|q|``
    — guarded per batch like ``kmeans_fit``.
    """
    S = rademacher_signs(in_dim, out_dim, seed)
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = pd.Series([None] * len(pdf), index=pdf.index,
                            dtype=object)
            mask = pdf["q"].notna().to_numpy()
            if mask.any():
                idxs = np.nonzero(mask)[0]
                Mi = np.stack(pdf["q"].iloc[idxs].to_numpy()) \
                    .astype(np.int64)
                if Mi.shape[1] != S.shape[0]:
                    raise ValueError(
                        f"random_projection: vectors have dim "
                        f"{Mi.shape[1]}, sign matrix expects {S.shape[0]}")
                qmax = float(np.abs(Mi).max(initial=0))
                if Mi.shape[1] * qmax > float(2 ** 62):
                    raise OverflowError(
                        "random_projection sums would overflow int64; "
                        "lower scale")
                P = Mi @ S  # exact int64
                for r, i in enumerate(idxs):
                    out.iloc[i] = P[r]
            yield pd.DataFrame({id_col: pdf[id_col], "rp": out})

    qdf = df.select(
        id_col, F.transform(F.col(vec_col),
                            lambda x: quantize(x, scale)).alias("q"))
    return qdf.mapInPandas(run, schema=f"{id_col} {id_type}, "
                                       f"rp array<long>")


def scalar_quantize(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", bits: int = 8) -> DataFrame:
    """Per-vector symmetric scalar quantization (int8 by default): the
    memory-reduction counterpart of product quantization — each float
    becomes ``floor(x / amax · L + 0.5)`` with ``L = 2^(bits-1) − 1``
    and ``amax = max|x|`` the per-vector scale, so a 64-float embedding
    serves from 64 small ints + one double (dequantize:
    ``code · amax / L``).

    Fully JVM (one ``array_max`` + one ``transform`` — map-only, zero
    Python, zero shuffle) and EXACTLY SQL-mirrorable: amax is an exact
    max of exact float32→double widenings, and each code is the same
    4-op IEEE chain (÷, ×, +0.5, floor) in Spark and DuckDB — a fully
    relational contract, like ``random_projection``.  Null vectors keep
    null codes/scale; all-zero vectors quantize to all-zero codes with
    scale 0 (dequantizing them is exact).
    """
    if not 2 <= bits <= 16:
        raise ValueError(f"scalar_quantize: bits must be in [2, 16], "
                         f"got {bits}")
    levels = float(2 ** (bits - 1) - 1)
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    # amax MUST be materialized as a column before the codes lambda:
    # lambda bodies are interpreted and excluded from subexpression
    # elimination (SPARK-35410), so closing over the ArrayMax subtree
    # would re-scan the whole vector once per ELEMENT — O(d²) per row
    base = df.select(id_col, F.col(vec_col).alias("__v"),
                     amax.alias("qscale"))
    qs = F.col("qscale")
    codes = F.when(
        qs > 0,
        F.transform(F.col("__v"),
                    lambda x: F.floor(x.cast("double") / qs
                                      * F.lit(levels)
                                      + F.lit(0.5)).cast("int"))) \
        .otherwise(F.transform(F.col("__v"),
                               lambda x: F.lit(0).cast("int")))
    return base.select(id_col, "qscale", codes.alias("codes"))


# ---------------------------------------------------------------------------
# Mahalanobis anomaly scores (distributed moments -> bounded driver inverse)


class MahalanobisModel(NamedTuple):
    mean: np.ndarray      # (d,)
    inv_cov: np.ndarray   # (d, d), symmetrized inverse of ridged cov
    ridge: float


def mahalanobis_fit(df: DataFrame, vec_col: str = "embedding",
                    ridge: float = 1e-6) -> "MahalanobisModel":
    """Fit the Mahalanobis anomaly model from the same DISTRIBUTED
    covariance relation as :func:`pca_fit`: one corpus scan, only the
    d²-bounded moment relation reaches the driver.

    Determinism (golden-pin contract, the ``pca_fit`` discipline):
    covariance/mean are rounded to 12 dp before inversion, the ridge
    ``λ·tr(Σ)/d·I`` is a deterministic function of the rounded matrix
    (scale-aware, so near-singular covariances stay invertible without
    hand-tuning), and the inverse is symmetrized — the model is run- and
    partition-order-invariant.
    """
    cov, mean, _n, d = _collect_cov_mean(df, vec_col, "mahalanobis_fit")
    lam = float(ridge) * float(np.trace(cov)) / d
    inv = np.linalg.inv(cov + lam * np.eye(d))
    inv = (inv + inv.T) / 2.0
    return MahalanobisModel(mean=mean, inv_cov=inv, ridge=lam)


def mahalanobis_scores(df: DataFrame, model: "MahalanobisModel",
                       vec_col: str = "embedding",
                       out_col: str = "maha") -> DataFrame:
    """Per-row Mahalanobis distance ``√((x−μ)ᵀ Σ⁻¹ (x−μ))`` — the
    covariance-aware outlier score (the multivariate upgrade of the
    reference's per-feature ±kσ screens, ``pipeline/outlier.py``).
    ONE map-only Arrow pass; model broadcast by closure (d² floats);
    per-row numpy einsum is independent of batching/partitioning, so
    scores are bit-stable for a fixed model.  Null vectors score null.
    """
    mean, inv = model.mean, model.inv_cov

    @F.pandas_udf("double")
    def score(col: pd.Series) -> pd.Series:
        mask = col.notna().to_numpy()
        vals = np.full(len(col), np.nan)
        if mask.any():
            M = np.stack(col[mask].to_numpy()).astype(np.float64) - mean
            q = np.einsum("ij,jk,ik->i", M, inv, M)
            vals[mask] = np.sqrt(np.maximum(q, 0.0))
        out = pd.Series(vals, index=col.index)
        return out.where(pd.Series(mask, index=col.index))

    return df.withColumn(out_col, score(F.col(vec_col)))
