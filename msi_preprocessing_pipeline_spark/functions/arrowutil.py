"""Arrow-native helpers for ``mapInArrow`` operators (embeddings, spectra).

``mapInArrow`` UDFs receive raw RecordBatches; a uniform-length
``array<float>`` column is one contiguous values buffer + offsets, so the
whole batch becomes an [n, dim] matrix with ONE reshape — no per-row
list→ndarray conversion (the per-row ``np.asarray`` path costs a Python
round trip per vector and dominated the ANN bucketing UDFs).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_col_matrix(batch: "pa.RecordBatch", name: str,
                    dtype=np.float64) -> np.ndarray:
    """Contiguous [n, dim] matrix from a uniform-length list column.

    ``dtype=float64`` by default so the math matches the previous
    ``np.asarray(v, dtype=float)`` per-row path bit-for-bit (the pinned
    ANN goldens depend on it). Raises on ragged lengths.
    """
    col = batch.column(batch.schema.names.index(name))
    n = len(col)
    flat = col.values.to_numpy(zero_copy_only=False)
    offs = col.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    if widths.size and not (widths == widths[0]).all():
        raise ValueError(f"list column {name!r} has ragged lengths")
    dim = int(widths[0]) if widths.size else 0
    mat = flat[offs[0]:offs[-1]].reshape(n, dim) if n else \
        np.empty((0, 0), dtype=flat.dtype)
    return mat.astype(dtype, copy=False)


def col_of(batch: "pa.RecordBatch", name: str) -> "pa.Array":
    return batch.column(batch.schema.names.index(name))
