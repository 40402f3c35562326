"""DataFrame-level operator library.

* :mod:`asof`       — the one as-of plan (union + window, backward or
  forward, with tolerance), backfill, interpolation and grid resampling.
* :mod:`windows`    — sessionize and rolling row/event-time RANGE frames
  over (entity, ts).
* :mod:`training`   — PIT training-set assembly: multi-feature as-of
  composition (every feature in one fused union + window) and
  trailing/leading interval aggregates at observation time
  (multi-horizon, multi-source) from one shared plan.
* :mod:`sketches`   — mergeable sketches: HLL distinct counting, Count-
  Min frequencies (bit-exact numpy decoder), Theta distinct sets with
  union/intersection/difference algebra (per-slice sketch tables +
  union rollups).
* :mod:`quantiles`  — distributed EXACT quantiles (sort + rank + linear
  interpolation; never ``percentile_approx`` on the compat path).
* :mod:`spectrum`   — the staged spectrum feature operators (vectorized
  Arrow UDFs over broadcast artifacts).
* :mod:`dedup`      — MinHash-LSH/SimHash/n-gram-Jaccard dedup,
  winnowing fingerprints, benchmark decontamination, hot-key guards,
  substring-level duplicate spans (words or token arrays) + passage
  cutting.
* :mod:`similarity` — brute-force + LSH/IVF-bucketed cosine top-k.
* :mod:`text`       — language-ID, quality scoring, token counts,
  fingerprints, repetition (Gopher-style) metrics.
* :mod:`sampling`   — deterministic md5-band sampling, group-stable
  train/val/test splits, stratified rates and target-mixture rebalance
  (engine-portable, partition-invariant).
* :mod:`bpe`        — BPE tokenizer: distributed word histogram ->
  driver merge-loop fit (bounded vocab) -> Arrow-batched encode.
* :mod:`changelog`  — CDC apply: fold keyed upserts/deletes into a
  snapshot with one union + one window (no join).
* :mod:`validate`   — declarative data-quality expectations fused into
  one aggregation scan (null / unique / range / regex / set rules).
* :mod:`multimodal` — binary-payload plumbing: BMP/PNM decode (fake
  decoder for other payloads) and pHash near-dup.
* :mod:`encoding`   — hashing-trick buckets, robust (median/IQR)
  standardization, equal-frequency quantile binning.
* :mod:`drift`      — PSI feature-drift monitoring between snapshots
  (fixed bins, Laplace-smoothed).
"""
