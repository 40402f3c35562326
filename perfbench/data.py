"""Seeded input generators. The program only ever sees the rows written here.

Spectra rows come from ``kernels.synth`` (a pure function of source and
doc id); the seed enters through the doc ids, so two seeds give disjoint
payloads. Events follow the testdata ``events`` schema with Zipf-skewed
users. Every table has a SHA-256 digest over its column buffers, so a change
to a generator shows up as changed input rather than as a speed-up.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from msi_preprocessing_pipeline_spark.kernels import synth

CHANNELS = 2048
N_SOURCES = 4
SKEW = 3                     # first source carries 3x the others' rows
TS_STEP = 60                 # the ``spectrum.with_ts`` grid step
SPECTRA_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                  "source string, ts long")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30
ZIPF_S = 1.3


def source_plan(rows: int) -> dict:
    """``sources.synthetic.source_plan(..., skew_factor=3)`` shape sized to
    about ``rows`` rows."""
    per = max(rows // (N_SOURCES - 1 + SKEW), 1)
    return {f"src-{i:03d}": per * (SKEW if i == 0 else 1)
            for i in range(N_SOURCES)}


def spectra_table(plan: dict, seed: int, ts0: int) -> pa.Table:
    """One row per (source, index): tokens from ``synth.row_tokens``, ``ts``
    on the per-source grid ``ts0 + index * TS_STEP``."""
    doc_ids, sources, ts, toks = [], [], [], []
    for src in sorted(plan):
        for i in range(plan[src]):
            doc_id = f"{src}-s{seed}-{i:06d}"
            doc_ids.append(doc_id)
            sources.append(src)
            ts.append(ts0 + i * TS_STEP)
            toks.append(synth.row_tokens(src, doc_id, CHANNELS))
    lengths = np.array([t.size for t in toks], dtype=np.int32)
    offsets = np.zeros(lengths.size + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets),
                                      pa.array(np.concatenate(toks)))
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(lengths),
        "source": pa.array(sources, pa.string()),
        "ts": pa.array(np.asarray(ts, dtype=np.int64)),
    })


def rows_of(table: pa.Table) -> list[tuple]:
    """Oracle-side ``(doc_id, tokens, n_tok, source)`` tuples."""
    d = table.to_pydict()
    return [(doc, np.asarray(tok, dtype=np.int32), n, src)
            for doc, tok, n, src in zip(d["doc_id"], d["tokens"], d["n_tok"],
                                        d["source"])]


def events_table(n_events: int, n_users: int, seed: int) -> pa.Table:
    """Testdata ``events`` schema. Users are Zipf(1.3) over ``n_users`` ids
    (the top user holds about a quarter of the events); timestamps are
    distinct whole milliseconds over 30 days, so no as-of or window frame
    has ties."""
    rng = np.random.default_rng(seed)
    p = np.arange(1, n_users + 1, dtype=float) ** -ZIPF_S
    rank = rng.choice(n_users, size=n_events, p=p / p.sum())
    user_id = rng.permutation(n_users)[rank].astype(np.int64)
    span_ms = EVENT_DAYS * 86_400_000
    ms = (np.sort(rng.integers(0, span_ms - n_events, size=n_events))
          + np.arange(n_events))
    ts_us = (EVENTS_T0_MS + ms) * 1000
    event_type = EVENT_TYPES[rng.integers(0, EVENT_TYPES.size,
                                          size=n_events)]
    value = np.round(rng.uniform(0.0, 50.0, size=n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(event_type.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, pa.string()),
    })


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``
    (the file count sets the scan's split count)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(files):
        lo, hi = k * n // files, (k + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def digest(*tables: pa.Table) -> str:
    """SHA-256 over every column buffer of ``tables``, in order."""
    h = hashlib.sha256()
    for t in tables:
        h.update(",".join(t.schema.names).encode())
        for col in t.combine_chunks().columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(memoryview(buf))
    return h.hexdigest()
