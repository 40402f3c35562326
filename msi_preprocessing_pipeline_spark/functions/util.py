"""Tiny shared helpers for operator argument normalization."""

from __future__ import annotations

# exact-integer accumulator type for cross-partition reductions of
# quantized moment sums (shared by embeddings/experiment/similarity)
DEC38 = "decimal(38,0)"


def quantize(col, scale: int):
    """THE cross-engine quantization rule: ``floor(x·10^scale + 0.5)`` as
    an int64 Column. Each step is a single IEEE double op, so Spark,
    DuckDB and numpy produce the identical integer for the identical
    input — the foundation of every exact-integer moment contract in this
    repo (see ``operators.embeddings`` module docstring). SQL mirror:
    ``cast(floor(x * 1e<scale> + 0.5) as bigint)``; numpy mirror:
    ``np.floor(x * 10.0**scale + 0.5)``."""
    from pyspark.sql import functions as F

    return F.floor(col.cast("double") * F.lit(float(10 ** scale))
                   + F.lit(0.5))


def trunc_div(num, den):
    """Exact integer division on decimal(38,0) columns:
    ``(num - num % den) / den`` — the adjusted numerator divides
    exactly, so no quotient rounding can occur.  NEVER
    ``floor(num / den)``: Spark rounds the decimal quotient to a
    finite scale BEFORE floor, which can flip the integer when the
    true quotient sits within an ulp of it (the covariance_embeddings
    midpoint class).

    Semantics: Spark ``%`` keeps the dividend's sign, so the quotient
    TRUNCATES toward zero — matching DuckDB ``//`` on bigint/hugeint
    (both give ``-7 // 2 = -3``) and Python ``//`` only for
    non-negative operands (where truncation ≡ floor).  Every signed
    quantized-ratio contract in the repo uses this single helper."""
    from pyspark.sql import functions as F  # noqa: F401

    return ((num - num % den) / den).cast(DEC38)


def as_list(x) -> list:
    """Normalize a column-name argument: string -> [string], any sequence
    -> list. ``None`` raises TypeError (matching ``list(None)``) — callers
    that accept an optional argument must handle None themselves, so a
    required key like ``asof_join(on=...)`` can never silently become an
    unpartitioned global window."""
    return [x] if isinstance(x, str) else list(x)


def md5_bucket(key, n):
    """The engine-portable hash-bucket idiom shared by every
    deterministic-sampling/hashing operator: first 8 hex chars of
    ``md5(key)`` as an integer, modulo ``n`` — the same integer in
    Spark, DuckDB (``cast(('0x' || substr(md5(k),1,8)) as bigint) %
    n``) and Python (``int(md5(k).hexdigest()[:8], 16) % n``).

    ``key`` is a string Column; ``n`` may be an int or a Column (e.g.
    an in-plan catalog count).  Returns a long Column in ``[0, n)``.
    Centralized so a change to the idiom (width, hash) cannot drift
    between call sites and silently break cross-engine oracle parity.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return h % (n if isinstance(n, Column) else F.lit(int(n)))


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) key of two non-negative integer Columns: the
    low ``bits`` bits of ``x`` and ``y`` interleaved (x in the even bit
    positions, y in the odd), yielding a long in ``[0, 4**bits)``.

    Sorting / range-partitioning a table by its z-key clusters rows
    that are close in BOTH dimensions into the same files, so parquet
    min/max row-group stats prune two-predicate scans (time × entity,
    lat × lon) that a single-column sort can only prune on one of —
    the standard multi-dimensional layout trick (cf. Delta/Iceberg
    Z-ORDER). Feed it to ``repartitionByRange`` and
    ``sortWithinPartitions`` via a materialized column.

    Pure JVM bit arithmetic (shift/mask spreading — Warren, Hacker's
    Delight §7-2), engine-portable: the identical expression in DuckDB
    SQL produces the identical key (see the ``zorder_events`` oracle).
    Inputs must already be in ``[0, 2**bits)`` — out-of-range bits are
    masked off, so callers bucket/quantize first. ``bits <= 31`` so the
    key never reaches the int64 sign bit (a negative key would sort
    before every positive one and break the locality contract).
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")

    # spread the low 32 bits of v across 64: abcd -> 0a0b0c0d
    def spread(v):
        v = v.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for shift, mask in ((16, 0x0000FFFF0000FFFF),
                            (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F),
                            (2, 0x3333333333333333),
                            (1, 0x5555555555555555)):
            v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
        return v

    from pyspark.sql import Column  # noqa: F401  (doc parity with md5_bucket)
    xs, ys = spread(x), spread(y)
    return xs.bitwiseOR(F.shiftleft(ys, 1))


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """The DuckDB rendering of :func:`zorder_key` — same shift/mask
    spreading over the SQL expressions ``x`` and ``y``. Kept beside the
    Column version so the two cannot drift."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")

    def spread(e: str) -> str:
        e = f"(cast({e} as bigint) & {(1 << bits) - 1})"
        for shift, mask in ((16, 0x0000FFFF0000FFFF),
                            (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F),
                            (2, 0x3333333333333333),
                            (1, 0x5555555555555555)):
            e = f"(({e} | ({e} << {shift})) & {mask})"
        return e

    return f"({spread(x)} | ({spread(y)} << 1))"
