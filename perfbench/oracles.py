"""Correctness checks, run once per run outside the timed region.

Each check returns a list of problems; an empty list means the outputs are
correct. Any problem makes the run's operations count as failed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from msi_preprocessing_pipeline_spark import oracle

# the tolerance of the repository's Spark-vs-numpy parity tests
RTOL, ATOL = 2e-4, 1e-3


def oracle_artifacts(art) -> oracle.PipelineArtifacts:
    """The numpy oracle's view of a Spark ``ArtifactSet``."""
    return oracle.PipelineArtifacts(
        mz_axis=art.mz_axis, tic_thresholds=(art.b1, art.b2),
        pafft_reference=art.pafft_reference,
        tic_reference_tic=art.tic_reference_tic,
        gmm_mu=art.gmm_mu, gmm_sig=art.gmm_sig, gmm_w=art.gmm_w,
        merge_starts=art.merge_starts, merge_lengths=art.merge_lengths)


def expected_version(ts: int, arts) -> int | None:
    """The artifact version a row at ``ts`` may see: the latest one with
    ``valid_from_ts <= ts``, or none."""
    live = [a for a in arts if a.valid_from_ts <= ts]
    return max(live, key=lambda a: a.valid_from_ts).version if live else None


def expected_features(rows: list[tuple], ts: dict, arts, axes: dict,
                      config) -> dict:
    """doc_id -> (version, oracle feature vector or None) for ``rows``."""
    out = {}
    by_version: dict[int, list[tuple]] = {}
    for r in rows:
        v = expected_version(ts[r[0]], arts)
        out[r[0]] = (v, None)
        if v is not None:
            by_version.setdefault(v, []).append(r)
    for v, group in by_version.items():
        art = next(a for a in arts if a.version == v)
        feats = oracle.transform_rows(group, axes, oracle_artifacts(art),
                                      config)
        for r, f in zip(group, feats):
            out[r[0]] = (v, f)
    return out


def check_features(got: list[dict], expected: dict) -> list[str]:
    """Spark output rows (``doc_id``, ``artifact_version``, ``features``)
    against :func:`expected_features`: same rows, same version (so no row
    sees an artifact from its future), features allclose."""
    problems = []
    seen = {r["doc_id"]: r for r in got}
    problems += [f"{d}: row missing" for d in expected if d not in seen]
    for doc, r in seen.items():
        if doc not in expected:
            problems.append(f"{doc}: unexpected row")
            continue
        version, vec = expected[doc]
        if r["artifact_version"] != version:
            problems.append(f"{doc}: artifact_version "
                            f"{r['artifact_version']} != {version}")
        if vec is None or r["features"] is None:
            if (vec is None) != (r["features"] is None):
                problems.append(f"{doc}: features null mismatch")
            continue
        f = np.asarray(r["features"], dtype=np.float64)
        if f.shape != vec.shape or not np.allclose(f, vec, rtol=RTOL,
                                                   atol=ATOL):
            problems.append(f"{doc}: features differ from the oracle")
    return problems


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.number):
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def compare_frames(name: str, got: pd.DataFrame,
                   expected: pd.DataFrame) -> list[str]:
    """Spark result vs DuckDB oracle, compared as ``tests/
    test_entry_contract.py`` does: strict non-object dtypes, then exact,
    order-insensitive values."""
    problems = []
    for c in sorted(set(got.columns) & set(expected.columns)):
        gd, ed = got[c].dtype, expected[c].dtype
        if gd != object and ed != object and gd != ed:
            problems.append(f"{name}.{c}: dtype {gd} != oracle {ed}")
    g, e = _normalize(got), _normalize(expected)
    if list(g.columns) != list(e.columns):
        return problems + [f"{name}: columns {list(g.columns)} != "
                           f"{list(e.columns)}"]
    if len(g) != len(e):
        return problems + [f"{name}: {len(g)} rows != oracle {len(e)}"]
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                      check_exact=True, obj=name)
    except AssertionError as err:
        problems.append(str(err).splitlines()[0][:300])
    return problems
