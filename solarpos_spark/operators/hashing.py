"""The engine-portable hash family: each hash written once as a Spark
column builder and once as its DuckDB SQL twin, side by side.

A registry query and its generated oracle agree only if both compute the
same integer hash, so every hash an oracle replays lives here and nowhere
else. All of them are exact int64 arithmetic whose intermediates stay
below 2^63 in both engines (no wrap, no float), so the Spark column and
the SQL text give the same bits:

* ``poly31``: left fold ``(acc * base + codepoint) mod P`` over a string,
  P = 2^31 - 1. Spark evaluates it in one vectorized Arrow batch pass
  (:func:`poly31_hash_arrow`); SQL as a ``list_reduce``.
* ``salted_poly``: the universal family ``(a_i * h + b_i) mod P`` over a
  base hash, one member per row index ``i`` (MinHash, count-min, Bloom).
* ``mul32``: ``a * b mod 2^32`` split into 16-bit halves, the step shared
  by the Knuth bucket and ``fmix32``.
* ``id32``: an int64 id plus a seed, folded into [0, 2^32).
* ``hash_bucket``: Knuth's multiplicative hash of an int64 id.
* ``fmix32``: murmur3's 32-bit avalanche finalizer.
* ``poly31_band``: the LSH band key, a poly31 fold over signature values.

``xxhash64`` (JVM only) is the production alternative for the operators
whose oracle does not replay the hash; :func:`check_hash_fn` is the one
place that names the accepted ``hash_fn`` values.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: 2^31 - 1 (Mersenne prime): universal-hash modulus small enough that
#: (a * h + b) stays inside int64 in any engine.
POLY_P = 2147483647
#: Knuth's multiplicative hash constant (2^32 / phi).
KNUTH = 2654435761
_FMIX_C1 = 0x85EBCA6B
_FMIX_C2 = 0xC2B2AE35

HASH_FNS = ("poly31", "xxhash64")


def check_hash_fn(hash_fn: str) -> None:
    """Raise ``ValueError`` unless ``hash_fn`` is ``'poly31'`` (SQL-
    replayable) or ``'xxhash64'`` (JVM-only)."""
    if hash_fn not in HASH_FNS:
        raise ValueError(
            f"unknown hash_fn {hash_fn!r}; expected one of {HASH_FNS}")


# -- poly31 ---------------------------------------------------------------

def _poly31_batch(vals, base: int):
    """Vectorized poly31 fold over a batch of strings (numpy int64).

    Left fold (acc*base + codepoint) mod POLY_P — exact integer
    arithmetic, so vectorization cannot change a single bit. Implemented
    as a column-at-a-time masked Horner loop over a padded codepoint
    matrix: O(total_chars) numpy work, no per-row Python.
    """
    import numpy as np

    n = len(vals)
    lens = np.fromiter((len(x) for x in vals), count=n, dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    acc = np.zeros(n, dtype=np.int64)
    if maxlen == 0:
        return acc
    # utf-32-le of the concatenation == concatenation of per-string
    # codepoint arrays (no BOM); one encode for the whole batch
    flat = np.frombuffer("".join(vals).encode("utf-32-le"), dtype=np.uint32)
    padded = np.zeros((n, maxlen), dtype=np.int64)
    mask = np.arange(maxlen) < lens[:, None]
    padded[mask] = flat
    for j in range(maxlen):
        m = mask[:, j]
        acc[m] = (acc[m] * base + padded[m, j]) % POLY_P
    return acc


def poly31_hash_arrow(col: Column, base: int = 31) -> Column:
    """poly31 of a string column in ONE vectorized Arrow batch pass.

    A pandas UDF hands whole Arrow batches to the numpy Horner loop
    (vectorized native code inside the Python boundary beats an
    interpreted per-char JVM fold). NULL in, NULL out.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _p31(s: pd.Series) -> pd.Series:
        import numpy as np

        notnull = s.notna()
        if notnull.all():
            return pd.Series(_poly31_batch(s.to_numpy(), base),
                             index=s.index)
        out = np.zeros(len(s), dtype=object)
        out[:] = None
        vals = s[notnull]
        if len(vals):
            out[notnull.to_numpy()] = _poly31_batch(vals.to_numpy(), base)
        return pd.Series(out, index=s.index)

    return _p31(col)


def poly31_sql(expr: str, base: int = 31) -> str:
    """DuckDB twin of :func:`poly31_hash_arrow` over a VARCHAR expression:
    ``(acc * 31 + c) % 2147483647`` folded over the codepoints. length()
    counts CHARS and ascii() returns the codepoint, like the Arrow form
    (strlen would count bytes). NULL in, NULL out."""
    return (f"CASE WHEN ({expr}) IS NOT NULL THEN "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, length({expr}) + 1), "
            f"i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))), "
            f"(acc, c) -> (acc * {base} + c) % {POLY_P}) END")


# -- salted universal family ----------------------------------------------

def _salt(i):
    """``(a_i, b_i)`` of member ``i``: ``a_i = (2i+1)*KNUTH mod P`` (odd
    multipliers) and ``b_i = (40503*i + 12345) mod P``. For an int ``i``
    both are Python ints, so a MinHash signature's 32 members plan as two
    literals each instead of expression trees the driver must build and
    analyze; for a Column ``i`` they are per-row expressions."""
    return (2 * i + 1) * KNUTH % POLY_P, (i * 40503 + 12345) % POLY_P


def salted_poly(h: Column, i: Column | int) -> Column:
    """Member ``i`` of the universal family over a base hash ``h`` in
    [0, P): ``(a_i*h + b_i) mod P``."""
    a, b = _salt(i)
    return (h * a + b) % POLY_P


def salted_poly_sql(h: str, i: str | int) -> str:
    """DuckDB twin of :func:`salted_poly` (an int ``i`` emits the two
    literals, a SQL expression the per-row arithmetic)."""
    if isinstance(i, int):
        a, b = _salt(i)
        return f"({a} * {h} + {b}) % {POLY_P}"
    return (f"((((2 * {i} + 1) * {KNUTH}) % {POLY_P}) * {h} "
            f"+ (({i} * 40503 + 12345) % {POLY_P})) % {POLY_P}")


# -- 32-bit multiply, Knuth bucket, fmix32 ----------------------------------

def mul32(a: Column, b: int) -> Column:
    """``a * b mod 2^32`` without int64 overflow (0 <= a < 2^32,
    b < 2^32): with a split into 16-bit halves, ``al*b`` and ``ah*b`` are
    both below 2^48."""
    al = a % F.lit(65536)
    ah = F.shiftrightunsigned(a, 16)
    return (al * F.lit(b)
            + F.shiftleft((ah * F.lit(b)) % F.lit(65536), 16)) % F.lit(1 << 32)


def mul32_sql(a: str, b: int) -> str:
    """DuckDB twin of :func:`mul32` (``a`` must be a nonnegative BIGINT
    below 2^32, so ``>>`` is the unsigned shift)."""
    return (f"((({a}) % 65536) * {b} + "
            f"((((({a}) >> 16) * {b}) % 65536) << 16)) % 4294967296")


def id32(id_col: Column, seed: int) -> Column:
    """``((id mod 2^32) + seed) mod 2^32`` with a floored mod: any int64
    id, negatives included, lands in the [0, 2^32) domain of
    :func:`mul32` and :func:`fmix32` without wrapping."""
    return F.pmod(F.pmod(id_col.cast("long"), F.lit(1 << 32))
                  + F.lit(int(seed)), F.lit(1 << 32))


def id32_sql(id_expr: str, seed: int) -> str:
    """DuckDB twin of :func:`id32`. DuckDB's ``%`` keeps the sign of the
    dividend, so the floored mod is spelled ``(x % m + m) % m``."""
    return (f"((({id_expr}) % 4294967296 + 4294967296) % 4294967296 "
            f"+ {int(seed)}) % 4294967296")


def hash_bucket(id_col: Column, seed: int = 1, denom: int = 10000) -> Column:
    """Deterministic bucket in [0, denom) from an int64 id: Knuth's
    multiplicative hash ``id32(id, seed) * KNUTH mod 2^32``, then
    ``mod denom``. Defined for the full int64 id range (the naive
    ``(id + seed) * K`` wraps past id ~3.47e9 and throws under ANSI
    mode). Pure JVM integer arithmetic."""
    return F.pmod(mul32(id32(id_col, seed), KNUTH), F.lit(denom))


def hash_bucket_sql(id_expr: str, seed: int = 1,
                    denom: int = 10000) -> str:
    """DuckDB twin of :func:`hash_bucket`; with ``x = id32_sql(...)`` it
    reads ``(((x) % 65536) * 2654435761 + ...) % 4294967296 % denom``."""
    return f"({mul32_sql(id32_sql(id_expr, seed), KNUTH)}) % {denom}"


def fmix32(h: Column) -> Column:
    """murmur3 fmix32 avalanche finalizer of a hash in [0, 2^32)."""
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 16))
    h = mul32(h, _FMIX_C1)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 13))
    h = mul32(h, _FMIX_C2)
    return h.bitwiseXOR(F.shiftrightunsigned(h, 16))


def fmix32_sql(expr: str) -> str:
    """DuckDB twin of :func:`fmix32`. ``expr`` must be a nonnegative
    BIGINT expression below 2^32."""
    h1 = f"(xor({expr}, ({expr}) >> 16))"
    h2 = f"({mul32_sql(h1, _FMIX_C1)})"
    h3 = f"(xor({h2}, ({h2}) >> 13))"
    h4 = f"({mul32_sql(h3, _FMIX_C2)})"
    return f"xor({h4}, ({h4}) >> 16)"


def py_fmix32(h: int) -> int:
    """Driver-side :func:`fmix32` (same constants), for deterministic
    literal tables that the SQL oracles re-derive (e.g. similarity's
    sparse random-projection signs)."""
    h &= 0xFFFFFFFF
    h ^= h >> 16
    h = (h * _FMIX_C1) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * _FMIX_C2) & 0xFFFFFFFF
    h ^= h >> 16
    return h


# -- LSH band key ---------------------------------------------------------

def poly31_band(cols: list[Column], band: int) -> Column:
    """Band key of the poly31 MinHash family: a base-31 fold mod P over
    the band's signature values, seeded with the band index."""
    acc = F.lit(band).cast("long")
    for c in cols:
        acc = (acc * 31 + c % F.lit(POLY_P)) % F.lit(POLY_P)
    return acc


def poly31_band_sql(cols: list[str], band: int) -> str:
    """DuckDB twin of :func:`poly31_band`."""
    acc = f"CAST({band} AS BIGINT)"
    for c in cols:
        acc = f"((({acc}) * 31 + {c} % {POLY_P}) % {POLY_P})"
    return acc
