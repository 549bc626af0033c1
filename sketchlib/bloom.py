"""Bloom filter (Bloom 1970), from scratch, vectorized.

Sized from (expected n, target fpr): m = ceil(−n·ln f / ln²2) bits,
k = max(1, round(m/n·ln2)) probes via double hashing over one 64-bit hash.
Guarantees: zero false negatives; FPR ≤ ~(1−e^{−kn/m})^k.

Merge = bitwise OR (semilattice; requires equal (m, k, seed)).

**Sparse mode** (the distributed-partials representation): until a filter
holds enough elements that the dense bitmap is smaller, its state is the
raw array of 64-bit base hashes ("BLMS" wire format) instead of m bits
("BLM1").  A per-(partition × key) partial over P partitions would
otherwise always ship m/8 bytes — for an 8M-element / 1% filter that is
9.6 MB × P × keys through the shuffle; sparse partials ship 8 bytes per
actually-ingested element and densify once on the merge side.  Exactly the
sparse→dense promotion HLL++ uses, applied to Bloom.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.aggregator import Aggregator
from sketchlib.hashing import double_hash, hash64

_MAGIC = b"BLM1"
_MAGIC_SPARSE = b"BLMS"


class Bloom(Aggregator):
    __slots__ = ("m", "k", "seed", "bytemap", "n_added", "_sparse")
    ingest = "hashed"

    def __init__(
        self,
        expected_n: int = 1_000_000,
        fpr: float = 0.01,
        m: int | None = None,
        k: int | None = None,
        seed: int = 7,
    ) -> None:
        if m is None:
            m = int(math.ceil(-expected_n * math.log(fpr) / (math.log(2.0) ** 2)))
        if k is None:
            k = max(1, round(m / max(expected_n, 1) * math.log(2.0)))
        self.m = m
        self.k = k
        self.seed = seed
        # dense in-memory form: one byte per bit — fancy assignment
        # ``bytemap[pos] = 1`` runs at memory speed, vs np.bitwise_or.at on
        # packed words (~40x slower: ufunc.at dispatches per element).  The
        # dense wire format stays packed.  Until densified, state is the
        # sparse base-hash list instead (see module docstring).
        self.bytemap: np.ndarray | None = None
        self._sparse: list[np.ndarray] = []
        self.n_added = 0

    @classmethod
    def zero(cls, **params) -> "Bloom":
        return cls(**params)

    @property
    def is_sparse(self) -> bool:
        return self.bytemap is None

    def _sparse_count(self) -> int:
        return sum(len(a) for a in self._sparse)

    def _densify(self) -> None:
        if self.bytemap is None:
            self.bytemap = np.zeros(self.m, dtype=np.uint8)
        for base in self._sparse:
            for i in range(self.k):
                self.bytemap[double_hash(base, i, self.m)] = 1
        self._sparse = []

    def _maybe_densify(self) -> None:
        # sparse is worthwhile while 8 B/element < m/8 bits of dense payload
        if self.bytemap is None and self._sparse_count() * 8 >= (self.m + 7) // 8:
            self._densify()

    def _set_base(self, base: np.ndarray) -> None:
        if len(base) == 0:
            return
        if self.bytemap is None:
            self._sparse.append(base.astype(np.uint64, copy=True))
            self.n_added += len(base)
            self._maybe_densify()
            return
        for i in range(self.k):
            self.bytemap[double_hash(base, i, self.m)] = 1
        self.n_added += len(base)

    def _test_base(self, base: np.ndarray) -> np.ndarray:
        if self.bytemap is None:
            self._densify()  # queries are rare on partials; densify once
        # probe with a shrinking active set: true members must pass all k
        # probes, but a non-member fails ~half the remaining probes each
        # round, so narrowing to survivors makes the expected work
        # ~2 probes per miss instead of k (k=13 at fpr 1e-4); h2 is also
        # hoisted out of the loop (splitmix64 once, not k times)
        from sketchlib.hashing import splitmix64

        out = np.ones(len(base), dtype=bool)
        a1 = base.astype(np.uint64, copy=False)
        a2 = splitmix64(a1) | np.uint64(1)
        active = np.arange(len(base))
        m = np.uint64(self.m)
        for i in range(self.k):
            with np.errstate(over="ignore"):
                pos = ((a1 + np.uint64(i) * a2) % m).astype(np.int64)
            good = self.bytemap[pos] != 0
            if good.all():
                continue
            out[active[~good]] = False
            active = active[good]
            if active.size == 0:
                break
            a1 = a1[good]
            a2 = a2[good]
        return out

    def update_batch(self, values: np.ndarray) -> None:
        self._set_base(hash64(values, seed=self.seed))

    def update_hashed(self, h: np.ndarray) -> None:
        """Ingest pre-hashed uint64 (e.g. Spark xxhash64); remixed with the
        seed so ``contains_hashed`` agrees."""
        self._set_base(hash64(h, seed=self.seed))

    def contains(self, values) -> np.ndarray:
        """Vectorized membership test (no false negatives)."""
        return self._test_base(hash64(values, seed=self.seed))

    def contains_hashed(self, h: np.ndarray) -> np.ndarray:
        return self._test_base(hash64(h, seed=self.seed))

    def merge(self, other: "Bloom") -> "Bloom":
        if (self.m, self.k, self.seed) != (other.m, other.k, other.seed):
            raise ValueError("Bloom merge parameter mismatch")
        if self.bytemap is None and other.bytemap is None:
            self._sparse.extend(a.copy() for a in other._sparse)
            self.n_added += other.n_added
            self._maybe_densify()
            return self
        self._densify()
        if other.bytemap is None:
            for base in other._sparse:
                for i in range(self.k):
                    self.bytemap[double_hash(base, i, self.m)] = 1
        else:
            np.bitwise_or(self.bytemap, other.bytemap, out=self.bytemap)
        self.n_added += other.n_added
        return self

    def fill_ratio(self) -> float:
        if self.bytemap is None:
            self._densify()
        return float(self.bytemap.sum()) / self.m

    def serialize(self) -> bytes:
        """Dense ("BLM1"): packed little-endian bit array — bit (pos & 63)
        of word (pos >> 6) — after the header.  Sparse ("BLMS"): the raw
        uint64 base hashes (always smaller, or densify would have fired)."""
        head = struct.pack("<QIIq", self.m, self.k, self.seed, self.n_added)
        if self.bytemap is None:
            bases = (np.concatenate(self._sparse) if self._sparse
                     else np.empty(0, dtype=np.uint64))
            # canonical multiset form: sorted — serialized bytes must not
            # depend on partition/merge order (invariance law)
            return _MAGIC_SPARSE + head + np.sort(bases).astype("<u8").tobytes()
        n_words = (self.m + 63) // 64
        padded = np.zeros(n_words * 64, dtype=np.uint8)
        padded[: self.m] = self.bytemap
        packed = np.packbits(padded, bitorder="little")
        return _MAGIC + head + packed.tobytes()

    @classmethod
    def deserialize(cls, data: bytes, **_: object) -> "Bloom":
        magic = data[:4]
        if magic not in (_MAGIC, _MAGIC_SPARSE):
            raise ValueError("Bloom: bad magic")
        if len(data) < 4 + 24:
            raise ValueError(f"Bloom blob too short: {len(data)} bytes")
        m, k, seed, n_added = struct.unpack_from("<QIIq", data, 4)
        if m <= 0 or k <= 0:
            raise ValueError(f"Bloom: invalid m={m} k={k}")
        out = cls(m=m, k=k, seed=seed)
        payload = data[4 + 24 :]
        if magic == _MAGIC_SPARSE:
            if len(payload) % 8:
                raise ValueError("Bloom sparse payload not a multiple of 8 bytes")
            bases = np.frombuffer(payload, dtype="<u8").astype(np.uint64)
            if len(bases):
                out._sparse = [bases]
            out.n_added = n_added
            out._maybe_densify()
            return out
        if len(payload) != ((m + 63) // 64) * 8:  # packed to whole u64 words
            raise ValueError(
                f"Bloom dense payload length mismatch: {len(payload)} bytes "
                f"for m={m} bits")
        unpacked = np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8), bitorder="little"
        )
        out.bytemap = unpacked[:m].copy()
        out.n_added = n_added
        return out

    def finish(self) -> "Bloom":
        return self
