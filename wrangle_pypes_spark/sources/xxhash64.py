"""Spark's ``xxhash64`` in pure Python — bucket routing for keys that
already sit in driver memory, without running a Spark job.

:func:`xxhash64` returns what ``F.xxhash64(*cols)`` (Catalyst
``XxHash64``, seed 42) returns for the same row: the columns chain left
to right, each hashed with the running hash as its seed, and a null
column leaves the hash unchanged.  The per-type byte layout is
Catalyst's ``HashExpression``:

* byte, short, int and date (days since the epoch): ``hashInt``
* long: ``hashLong``
* boolean: ``hashInt`` of 1 or 0
* string (UTF-8 bytes, binary collation) and binary:
  ``hashUnsafeBytes`` over little-endian words

Any other type has no :func:`hasher` (None): the caller asks Spark.
"""

from __future__ import annotations

import datetime
import struct
from typing import Callable, Optional, Sequence

from pyspark.sql import types as T

SEED = 42
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_EPOCH = datetime.date(1970, 1, 1)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, word: int) -> int:
    return (_rotl((acc + word * _P2) & _M, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def hash_int(v: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M
    return _fmix((_rotl(h, 23) * _P2 + _P3) & _M)


def hash_long(v: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M
    h ^= _round(0, v & _M)
    return _fmix((_rotl(h, 27) * _P1 + _P4) & _M)


def hash_bytes(b: bytes, seed: int) -> int:
    n, i = len(b), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M, (seed + _P2) & _M
        v3, v4 = seed, (seed - _P1) & _M
        while i <= n - 32:
            w1, w2, w3, w4 = struct.unpack_from("<4Q", b, i)
            v1, v2 = _round(v1, w1), _round(v2, w2)
            v3, v4 = _round(v3, w3), _round(v4, w4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", b, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", b, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (b[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType)


def hasher(dt: T.DataType) -> Optional[Callable[[object, int], int]]:
    """``f(value, seed) -> hash`` for a non-null value of Spark type
    ``dt``; None when the type is not covered here."""
    if isinstance(dt, _INT_TYPES):
        return hash_int
    if isinstance(dt, T.LongType):
        return hash_long
    if isinstance(dt, T.BooleanType):
        return lambda v, seed: hash_int(1 if v else 0, seed)
    if isinstance(dt, T.DateType):
        return lambda v, seed: hash_int((v - _EPOCH).days, seed)
    if dt == T.StringType():  # collated strings hash their collation key
        return lambda v, seed: hash_bytes(v.encode("utf-8"), seed)
    if isinstance(dt, T.BinaryType):
        return lambda v, seed: hash_bytes(bytes(v), seed)
    return None


def xxhash64(values: Sequence, hashers: Sequence[Callable]) -> int:
    """``F.xxhash64`` of one row: signed 64-bit, nulls skipped."""
    h = SEED
    for v, f in zip(values, hashers):
        if v is not None:
            h = f(v, h)
    return h - (1 << 64) if h >> 63 else h
