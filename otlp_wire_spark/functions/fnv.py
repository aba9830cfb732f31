"""Bit-exact FNV-64a hashing — the shard-key function.

The reference shards a batch by ``FNV-64a(resourceBytes) % numWorkers``
(reference example_test.go:44-58, README.md:58-73, stdlib ``hash/fnv``).
Spark has ``xxhash64`` but no FNV builtin, and shard parity with the
reference requires the exact same hash, so this module provides:

- ``fnv64a(bytes) -> int``      — pure-Python definition (the oracle).
- ``fnv64a_numpy(list) -> u64`` — vectorized numpy kernel (wrapping uint64
  arithmetic; numpy unsigned overflow wraps mod 2^64 by definition) — the
  MinHash Arrow kernel's hash.
- ``fnv64a_expr / shard_expr``  — the pure-JVM codegen fold over a string
  column; binary columns go through the same hex-pair byte fold
  (``fnv64a_hex_expr`` over ``hex(binary)``, see route.with_shard).

All three are pinned bit-identical to the published FNV-1a 64 test vectors
and to each other by tests/test_fnv.py. Hash values are carried in Spark as
the *signed int64 bit pattern* of the uint64 hash (LongType); the mod-N
shard assignment is reconstructed in uint64 space (``shard_of_hash``), so
int64 sign never influences sharding (SURVEY.md §2.6 F1/F2).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

FNV64_OFFSET_BASIS = 0xCBF29CE484222325
FNV64_PRIME = 0x100000001B3
_U64_MASK = 0xFFFFFFFFFFFFFFFF


def fnv64a(data: bytes) -> int:
    """Pure-Python FNV-1a 64-bit. Returns the *unsigned* hash."""
    h = FNV64_OFFSET_BASIS
    for b in data:
        h = ((h ^ b) * FNV64_PRIME) & _U64_MASK
    return h


def _as_bytes(v: object) -> bytes:
    if v is None:
        return b""
    if isinstance(v, bytes):
        return v
    if isinstance(v, bytearray):
        return bytes(v)
    return str(v).encode("utf-8")


def fnv64a_numpy(vals: list[bytes]) -> np.ndarray:
    """Vectorized FNV-64a over a batch of byte strings → uint64 array.

    Strategy: pack all inputs into one flat uint8 buffer, scatter into an
    (n, maxlen) matrix, then run ``maxlen`` vectorized rounds of
    ``h = (h ^ byte) * prime`` with a live-rows mask. Cost is
    O(n * maxlen) numpy ops but each round is a single SIMD pass — for
    URL-sized keys (< 128 B) this is ~100 ns/row, vs ~µs/row for a Python
    per-row loop.
    """
    n = len(vals)
    out = np.full(n, FNV64_OFFSET_BASIS, dtype=np.uint64)
    if n == 0:
        return out
    bvals = [_as_bytes(v) for v in vals]
    lengths = np.fromiter((len(v) for v in bvals), dtype=np.int64, count=n)
    maxlen = int(lengths.max())
    if maxlen == 0:
        return out
    flat = np.frombuffer(b"".join(bvals), dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lengths[:-1], out=starts[1:])
    pos = np.arange(maxlen, dtype=np.int64)
    mask = pos[None, :] < lengths[:, None]
    mat = np.zeros((n, maxlen), dtype=np.uint64)
    mat[mask] = flat[(starts[:, None] + pos[None, :])[mask]]
    prime = np.uint64(FNV64_PRIME)
    for i in range(maxlen):
        live = lengths > i
        out[live] = (out[live] ^ mat[live, i]) * prime
    return out


FNV64_OFFSET_SIGNED = -3750763034362895579  # int64 bit pattern of the basis
FNV64_PRIME_SIGNED = 0x100000001B3  # fits in a positive int64


def fnv64a_hex_expr(hx: Column) -> Column:
    """FNV-64a of the bytes an uppercase hex string spells (``hex(binary)``)
    → LongType bit pattern; ``''`` hashes to the offset basis, like
    ``fnv64a(b'')``. The byte fold behind both string and binary keys.

    The hex-pair array comes from ONE regexp pass — the hex string appears
    exactly once, OUTSIDE any lambda. An earlier form indexed
    ``hx.substr(i*2-1, 2)`` inside the transform lambda; per the Catalyst
    invariant (lambda bodies re-evaluate outer non-attribute exprs per
    element) that re-ran the hex derivation for every byte index —
    O(len²) per key."""
    pairs = F.regexp_extract_all(hx, F.lit("(..)"), F.lit(1))
    return F.aggregate(
        F.transform(pairs, lambda pr: F.conv(pr, 16, 10).cast("long")),
        F.lit(FNV64_OFFSET_SIGNED).cast("long"),
        lambda h, b: h.bitwiseXOR(b) * F.lit(FNV64_PRIME_SIGNED),
    )


def fnv64a_expr(col: Column | str) -> Column:
    """Pure-JVM FNV-64a over a string column → LongType bit pattern.

    The hot path: a codegen'd ``aggregate`` fold — no Python workers, no
    Arrow transfer. Requires ``spark.sql.ansi.enabled=false`` (set by
    session.get_spark) so the ``* prime`` wraps mod 2^64 exactly like the
    reference's uint64 arithmetic (stdlib hash/fnv, example_test.go:454-458).

    Byte-exact for ALL strings: pure-ASCII rows take the cheap
    code-point fold (``ascii()`` == byte value for 7-bit input, gated
    per-row by ``octet_length == length``); rows with multi-byte UTF-8 fall
    to the hex-pair byte fold over ``hex(encode(c))`` (fnv64a_hex_expr) —
    true byte values, still pure JVM. A non-ASCII route key therefore
    shards identically to the reference's byte-wise FNV-64a (and to
    fnv64a/fnv64a_numpy). Bit-exactness vs the pure-Python oracle is
    pinned by tests/test_fnv.py.
    """
    c = F.col(col) if isinstance(col, str) else col
    ascii_fold = F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(FNV64_OFFSET_SIGNED).cast("long"),
        lambda h, b: h.bitwiseXOR(b) * F.lit(FNV64_PRIME_SIGNED),
    )
    # split('', '') yields [''] (one bogus element) — guard empty/NULL to
    # the offset basis, matching fnv64a(b'').
    return (
        F.when(
            c.isNull() | (F.length(c) == 0),
            F.lit(FNV64_OFFSET_SIGNED).cast("long"),
        )
        .when(F.octet_length(c) == F.length(c), ascii_fold)
        .otherwise(fnv64a_hex_expr(F.hex(F.encode(c, "UTF-8"))))
    )


def shard_of_hash(h: Column, num_shards: int) -> Column:
    """``u64(h) % num_shards`` (IntegerType) for a signed FNV-64a bit
    pattern ``h``, with the modulo taken in uint64 space:
    ``u64 = h + 2^64`` when h<0, so ``u64 % N = (pmod(h,N) + (2^64 % N)) % N``.
    Power-of-two N reduces to a mask of the low bits (exact). Mirrors
    ``workerID := hash % numWorkers`` (reference example_test.go:46-48) —
    ``pmod`` on the signed pattern alone would mis-shard half the keys."""
    if num_shards & (num_shards - 1) == 0:
        return h.bitwiseAND(F.lit(num_shards - 1)).cast("int")
    wrap = (1 << 64) % num_shards
    return F.pmod(
        F.pmod(h, F.lit(num_shards))
        + F.when(h < 0, F.lit(wrap)).otherwise(F.lit(0)),
        F.lit(num_shards),
    ).cast("int")


def shard_expr(col: Column | str, num_shards: int) -> Column:
    """JVM-side ``FNV-64a(key) % num_shards`` over a string column, in
    uint64 space (see shard_of_hash)."""
    return shard_of_hash(fnv64a_expr(col), num_shards)
