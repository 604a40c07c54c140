"""Vectorized MinHash (K permutations, universal hashing).

Scheme-compatible with the reference's datasketch MinHash
(``findopendata/column_sketch.py:45-46,149-158``: ``num_perm=256,
seed=43``): permutations are the standard universal hash family
``(a*h + b) mod p  &  0xFFFFFFFF`` with ``p = 2^61 - 1`` and (a, b)
drawn from ``numpy.random.RandomState(seed)`` — the published datasketch
construction (MIT-licensed, Zhu & Markovtsev 2016), re-implemented here
as pure numpy batch ops. :meth:`MinHashPermutations.permute` is the one
place that hash is written: the column sketches (:func:`minhash_partial`)
and the dedup signatures (``dedup.minhash_signatures``) both call it,
each with its own chunking.

Base hash: the reference uses farmhash.hash32 (``column_sketch.py:53-57``);
this engine computes the 32-bit value hash JVM-side with Spark's
murmur3 (``F.hash``) so Python never touches raw values — exact farmhash
parity is available by passing precomputed hashes from any source.
Jaccard estimates are hash-function-agnostic; tests pin the permutation
math against an independent scalar oracle.
"""

from __future__ import annotations

import numpy as np

MERSENNE_PRIME = np.uint64((1 << 61) - 1)
MAX_HASH = np.uint64((1 << 32) - 1)


class MinHashPermutations:
    """The (a, b) permutation table for a given (num_perm, seed)."""

    def __init__(self, num_perm: int = 256, seed: int = 43):
        self.num_perm = num_perm
        self.seed = seed
        gen = np.random.RandomState(seed)
        self.a = gen.randint(
            1, int(MERSENNE_PRIME), size=num_perm, dtype=np.uint64
        )
        self.b = gen.randint(
            0, int(MERSENNE_PRIME), size=num_perm, dtype=np.uint64
        )

    def empty(self) -> np.ndarray:
        return np.full(self.num_perm, MAX_HASH, dtype=np.uint64)

    def permute(
        self, h: np.ndarray, lo: int = 0, hi: int | None = None
    ) -> np.ndarray:
        """(hi - lo, len(h)) permuted values of uint64 base hashes ``h``
        under permutations ``lo:hi``. a*h + b wraps mod 2^64 before the
        Mersenne mod — the exact uint64 semantics of the published
        datasketch implementation."""
        with np.errstate(over="ignore"):
            return (
                (self.a[lo:hi, None] * h + self.b[lo:hi, None]) % MERSENNE_PRIME
            ) & MAX_HASH


def minhash_partial(
    h32: np.ndarray, perms: MinHashPermutations, chunk: int = 65536
) -> np.ndarray:
    """Elementwise-min of permuted hashes over a batch of 32-bit hashes.

    Associative + commutative — partial results merge with np.minimum,
    which is exactly how the reference merges per-record updates
    (``column_sketch.py:184-187``) and what makes this a two-stage
    (map-side partial, reduce-side final) aggregation in Spark.
    """
    out = perms.empty()
    h = (h32.astype(np.int64) & 0xFFFFFFFF).astype(np.uint64)  # unsign
    for i in range(0, len(h), chunk):
        # (K, chunk) permuted hashes; min over the chunk axis
        phv = perms.permute(h[i : i + chunk])
        out = np.minimum(out, phv.min(axis=1))
    return out
