"""Vectorized (numpy) twin of Spark's ``xxhash64`` over LONG inputs.

Spark's ``F.xxhash64(col, ...)`` folds its arguments through the
XXH64 single-value primitive: ``result = seed(42)``, then for each
argument ``result = hashLong(arg, result)``, where ``hashLong``
includes the full XXH64 finalizer (Catalyst's
``XxHash64Function.hashLong``). That primitive is four multiplies,
two rotates and the 5-step avalanche per value — trivially
vectorizable with wrapping uint64 numpy arithmetic, and pinned
bit-exact against the JVM by ``tests/test_streaming.py``.

Used by the streaming MinHash signature kernel: the per-row JVM form
``array_min(transform(__h, h -> xxhash64(h, i)))`` × k permutations
runs as k interpreted higher-order functions per row (HOFs do not
codegen), allocating k intermediate arrays; the kernel computes all k
mins for a whole Arrow batch in one numpy pass — and hashes each
element once with the base seed, reusing ``hashLong(h, 42)`` across
the k seed folds (the JVM form recomputes it per permutation)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = np.uint64(42)  # Spark's xxhash64 default seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def xxh64_long(value: np.ndarray, seed) -> np.ndarray:
    """XXH64 of a single 8-byte value — bit-for-bit Catalyst's
    ``XxHash64Function.hashLong(value, seed)``. ``value`` is a uint64
    array (two's-complement bit pattern of the long); ``seed`` a
    uint64 scalar or array."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        k = value * _P2
        k = _rotl(k, 31)
        k = k * _P1
        h = h ^ k
        h = _rotl(h, 27) * _P1 + _P4
        # avalanche
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
        return h


def xxh64_int(value: np.ndarray, seed) -> np.ndarray:
    """XXH64 of a single 4-byte value — bit-for-bit Catalyst's
    ``XxHash64Function.hashInt(value, seed)``. Spark folds an INT
    argument (e.g. the ``F.lit(i)`` permutation seed of the MinHash
    chain) through this primitive, not hashLong — verified against
    the JVM for both primitives."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(4)
        h = h ^ ((value & np.uint64(0xFFFFFFFF)) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
        return h


def _long_row(a, column: str) -> np.ndarray:
    """One array<long> row as int64. Arrow hands a row holding a NULL
    element to pandas as float64 with NaN, and the int64 cast would
    turn each NaN into -2**63 with only a warning — a fake element
    hashed into the signature. Such rows are rejected instead; rows
    that arrive with an integer dtype skip the check."""
    arr = np.asarray(a)
    if arr.dtype.kind not in "iu" and pd.isna(arr).any():
        raise ValueError(
            f"{column}: NULL array element in a MinHash input row; drop "
            "NULL elements upstream (e.g. F.filter(col, lambda x: "
            "x.isNotNull()))"
        )
    return arr.astype("int64", copy=False)


def _sig_lists(values, num_hashes: int, column: str) -> list:
    """Per-row MinHash signature lists for an iterable of array<long>
    element-hash rows, vectorized over the whole batch: flatten once,
    hashLong(h, 42) once per element, fold the ``num_hashes`` INT
    seeds, segmented SIGNED min per row. NULL/empty rows yield None
    (the JVM ``array_min`` of an empty array); a NULL element inside
    a row raises ``ValueError`` naming ``column``."""
    lens = np.fromiter(
        (0 if a is None else len(a) for a in values), dtype="int64"
    )
    if lens.sum() == 0:
        return [None] * len(lens)
    flat = np.concatenate(
        [_long_row(a, column) for a in values if a is not None and len(a)]
    ).view(np.uint64)
    base = xxh64_long(flat, _SEED)  # hashLong(h, 42), once per element
    offsets = np.zeros(len(lens) + 1, dtype="int64")
    np.cumsum(lens, out=offsets[1:])
    nonempty = lens > 0
    starts = offsets[:-1][nonempty]
    sigs = np.empty((int(nonempty.sum()), num_hashes), dtype="int64")
    for i in range(num_hashes):
        # the permutation seed is an INT literal in the JVM chain
        v = xxh64_int(np.uint64(i), base).view(np.int64)
        sigs[:, i] = np.minimum.reduceat(v, starts)
    it = iter(sigs.tolist())
    return [next(it) if n else None for n in lens]


def with_minhash_sigs(
    df, arr_col: str, out_col: str, num_hashes: int
):
    """Append ``out_col`` (array<long> of ``num_hashes`` MinHash
    signature mins over the array<long> ``arr_col``) — value-identical
    to ``array(array_min(transform(arr, h -> xxhash64(h, 0))), ...,
    array_min(transform(arr, h -> xxhash64(h, k-1))))`` with Spark's
    SIGNED long min, pinned by test_minhash_sigs_kernel_matches_jvm.

    Implemented as ``mapInPandas`` (a plan node) rather than a scalar
    pandas UDF expression: Spark 4.1's streaming micro-batch planner
    cannot place a Python UDF *expression* whose argument is a
    higher-order-function column in a query that also runs
    applyInPandasWithState (interpreted eval of the unevaluable
    PythonUDF — reproduced and pinned in the streaming tests), and the
    map form also keeps the whole batch in one numpy pass. Select only
    the columns you need before calling — mapInPandas ships every
    input column through Arrow."""
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.LongType()), True)]
    )

    def _map(batches):
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = _sig_lists(pdf[arr_col], num_hashes, arr_col)
            yield out

    return df.mapInPandas(_map, schema)
