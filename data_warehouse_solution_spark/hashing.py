"""Spark's hash functions in pure Python, for literals and small batches.

Two families, each bit-identical to the JVM expression it stands in for,
so the driver (probing a predicate literal at plan time) and the Python
data-source workers (staging rows) never run a Spark job just to hash:

- XXH64 — Spark's ``XxHash64``. The per-file Bloom filters in the
  manifest set the bits ``pmod(xxhash64(i::long, value::string), m)``
  for ``i < k``: Spark's multi-arg xxhash64 chains seed 42 ->
  hashLong(i) -> hashBytes(value), and for the power-of-two ``m`` the
  pmod of the signed result equals the unsigned result's low bits.
  Parity with Spark: ``tests/test_cowtable.py``.
- Murmur3_x86_32 — Spark's ``hash``. Bucket ids are
  ``pmod(hash(cols), n)``, Spark's HashPartitioning.partitionIdExpression.
  Parity with ``F.hash``: ``tests/test_cow_bucketed.py``.
"""

from __future__ import annotations

import base64
import datetime
import functools

# -- XXH64 and the manifest Bloom filters ------------------------------------
# (sizing rationale: the per-file Bloom filter notes in ``cowtable``)
BLOOM_M_BITS = 1 << 16
BLOOM_K = 5

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _U64
    h ^= h >> 29
    h = (h * _P3) & _U64
    return h ^ (h >> 32)


def _xxh_round(acc: int, k: int) -> int:
    acc = (acc + k * _P2) & _U64
    return (_rotl64(acc, 31) * _P1) & _U64


def xxh64_long(value: int, seed: int) -> int:
    """XXH64 of one 64-bit integer — Spark's XxHash64.hashLong."""
    h = (seed + _P5 + 8) & _U64
    h ^= _xxh_round(0, value & _U64)
    h = (_rotl64(h, 27) * _P1 + _P4) & _U64
    return _xxh_fmix(h)


def xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string — Spark's XxHash64.hashUnsafeBytes."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _U64
        v2 = (seed + _P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _P1) & _U64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _U64
        for v in (v1, v2, v3, v4):
            h ^= _xxh_round(0, v)
            h = (h * _P1 + _P4) & _U64
    else:
        h = (seed + _P5) & _U64
    h = (h + n) & _U64
    while i <= n - 8:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _P1 + _P4) & _U64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _U64
        h = (_rotl64(h, 23) * _P2 + _P3) & _U64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _U64
        h = (_rotl64(h, 11) * _P1) & _U64
        i += 1
    return _xxh_fmix(h)


@functools.lru_cache(maxsize=64)
def _bloom_seed(i: int) -> int:
    return xxh64_long(i, 42)


def bloom_positions(value: str, m: int, k: int) -> list[int]:
    """The k bit positions the CAST(value AS STRING) form sets/probes."""
    data = value.encode("utf-8")
    return [xxh64_bytes(data, _bloom_seed(i)) & (m - 1) for i in range(k)]


def bloom_from_positions(position_sets) -> dict | None:
    """One manifest bloom entry {m, k, b64} from the K per-seed sets of
    distinct positions; None when any set passes the m/8 saturation
    gate."""
    positions: set[int] = set()
    for pos in position_sets:
        pos = pos or []
        if len(pos) > BLOOM_M_BITS // 8:
            return None
        positions.update(pos)
    bitmap = bytearray(BLOOM_M_BITS >> 3)
    for p in positions:
        bitmap[p >> 3] |= 1 << (p & 7)
    return {
        "m": BLOOM_M_BITS,
        "k": BLOOM_K,
        "b64": base64.b64encode(bytes(bitmap)).decode(),
    }


def bloom_build(values) -> dict | None:
    """The bloom entry for a file's non-null column values, given in
    their CAST AS STRING form — what the Spark staging aggregate
    records for the same values."""
    per_seed: list[set[int]] = [set() for _ in range(BLOOM_K)]
    for v in values:
        for ps, p in zip(per_seed, bloom_positions(v, BLOOM_M_BITS, BLOOM_K)):
            ps.add(p)
    return bloom_from_positions(per_seed)


def bloom_may_contain(bl: dict, probe: str) -> bool:
    """False only when the entry's filter PROVES the (already
    canonicalized) string form absent."""
    bitmap = base64.b64decode(bl["b64"])
    for p in bloom_positions(probe, bl["m"], bl["k"]):
        if not bitmap[p >> 3] & (1 << (p & 7)):
            return False
    return True


# -- Murmur3 and bucket ids ---------------------------------------------------
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl32(k1, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    return (_rotl32(h1, 13) * 5 + 0xE6546B64) & _M32


def _fmix32(h1: int, n: int) -> int:
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def murmur3_literal(value, col_type: str | None, seed: int) -> int | None:
    """Spark's Murmur3_x86_32 of one typed literal (unsigned), or None
    for a type/value shape it does not hash bit-identically: supported
    are the integral types, string and date (a ``date`` or its ISO
    string)."""
    if isinstance(value, bool):
        return None
    if col_type in ("tinyint", "smallint", "int"):
        if not isinstance(value, int) or not (-(1 << 31) <= value < (1 << 31)):
            return None
        return _fmix32(_mix_h1(seed, _mix_k1(value & _M32)), 4)
    if col_type == "bigint":
        if not isinstance(value, int):
            return None
        u = value & _U64
        h1 = _mix_h1(seed, _mix_k1(u & _M32))
        h1 = _mix_h1(h1, _mix_k1((u >> 32) & _M32))
        return _fmix32(h1, 8)
    if col_type == "string":
        if not isinstance(value, str):
            return None
        data = value.encode("utf-8")
        n = len(data)
        aligned = n - n % 4
        h1 = seed
        for i in range(0, aligned, 4):
            h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i : i + 4], "little")))
        for i in range(aligned, n):
            b = data[i]
            if b >= 128:
                b -= 256
            h1 = _mix_h1(h1, _mix_k1(b & _M32))
        return _fmix32(h1, n)
    if col_type == "date":
        if isinstance(value, datetime.datetime):
            return None
        if isinstance(value, str):
            try:
                value = datetime.date.fromisoformat(value)
            except ValueError:
                return None
        if not isinstance(value, datetime.date):
            return None
        days = (value - datetime.date(1970, 1, 1)).days
        return _fmix32(_mix_h1(seed, _mix_k1(days & _M32)), 4)
    return None


def bucket_of_key(vals, col_types, nb: int) -> int | None:
    """pmod(hash(cols), nb) for one row's bucket-key values. A NULL
    leaves the hash chain unchanged (Murmur3Hash's null rule); an
    unsupported literal shape returns None."""
    h = 42
    for v, t in zip(vals, col_types):
        if v is None:
            continue
        h = murmur3_literal(v, t, h)
        if h is None:
            return None
    signed = h - (1 << 32) if h >= (1 << 31) else h
    return signed % nb
