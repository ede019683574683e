"""Balanced block->partition placement for the CSR PageRank kernel.

Spark's cogroup stages hash-partition their grouping key with Murmur3
(seed 42) and ``pmod`` over the shuffle partition count. For the CSR
kernel the grouping key is a block id 0..K-1, and Murmur3 over a small
set of consecutive ints is persistently clumpy: measured placements
include 16 blocks using only 10 of 16 partitions (max load 2) and 80
blocks over 16 partitions with max load 8 against an ideal 5 — i.e.
every per-round cogroup stage runs 1.6-2x longer than the block work
requires while cores sit idle, at ANY scale (a real cluster reducing K
blocks over P reducers has the same birthday problem).

No block COUNT fixes this (scans of K in [16, 128] found none whose
contiguous ids spread evenly), so the kernel groups on a remapped key
instead: ``balanced_block_keys(k, p)`` returns k distinct ints chosen so
their Spark-hash partitions fill per-partition quotas exactly
(floor/ceil(k/p) blocks per partition). The true block number stays in
the ``block`` column for id arithmetic; only the shuffle key changes.

``spark_murmur3_int`` replicates org.apache.spark.unsafe.hash
.Murmur3_x86_32.hashInt(x, 42), the expression behind
``F.hash(int32col)`` and HashPartitioning — pinned against F.hash in
tests/test_csr_kernel.py.
"""

from __future__ import annotations

from functools import lru_cache


def spark_murmur3_int(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32.hashInt for a 4-byte int, as unsigned 32-bit."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _partition_of(key: int, p: int) -> int:
    """HashPartitioning placement: pmod of the SIGNED int32 hash."""
    h = spark_murmur3_int(key)
    s = h if h < 2**31 else h - 2**32
    return s % p


@lru_cache(maxsize=64)
def balanced_block_keys(k: int, p: int) -> tuple[int, ...]:
    """k distinct non-negative ints whose hash partitions (mod p) fill
    per-partition quotas exactly: ceil(k/p) for the first k%p partitions'
    worth of slots, floor(k/p) elsewhere. Deterministic greedy scan.
    """
    base, extra = divmod(k, p)
    quota = [base + (1 if i < extra else 0) for i in range(p)]
    # spread the +1 quotas deterministically instead of biasing low pids
    # (irrelevant for balance, but avoids always loading partition 0..extra)
    keys: list[int] = []
    cand = 0
    while len(keys) < k:
        pid = _partition_of(cand, p)
        if quota[pid] > 0:
            quota[pid] -= 1
            keys.append(cand)
        cand += 1
        if cand > 1_000_000 * max(1, k):
            raise RuntimeError(f"balanced_block_keys({k}, {p}): search overflow")
    return tuple(keys)
