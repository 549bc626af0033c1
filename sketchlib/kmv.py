"""KMV (k-minimum-values / bottom-k) sketch, from scratch (Bar-Yossef et al.
2002 "Counting distinct elements in a data stream"; Beyer et al. 2007 for
the unbiased (k−1)/U(k) estimator).

One sketch, two capabilities a training-data pipeline wants:

- **Distinct-count estimation**: the k smallest of n uniform 64-bit hashes
  sit at expected spacing D/2^64, so D̂ = (k−1)/U(k) with U(k) the k-th
  minimum normalized to (0,1).  Relative σ ≈ 1/√(k−2).
- **Consistent (coordinated) sampling**: the kept hashes are a uniform
  sample of the *distinct* values, and the same value hashes identically in
  every partition/run/table — so bottom-k samples of two tables can be
  intersected/diffed (this is what makes MinHash-style similarity and
  cross-dataset overlap estimates composable).

Merge = union of hash sets, keep the k smallest — associative, commutative,
idempotent, and (like HLL, unlike KLL) byte-exact under any merge order:
the state is a pure function of the distinct-hash SET.

Oracle story: the bottom-k of an engine-portable hash (md5-derived) is
exactly SQL-expressible — `row_number() OVER (ORDER BY hash) <= k` — so the
Spark query side gates hash-exactly against DuckDB (see
``queries.q_kmv_sample_by_lang``); this class is the library/streaming form
over xxhash64 (tolerance-tested).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.aggregator import Aggregator
from sketchlib.hashing import hash64

_MAGIC = b"KMV1"


class KMV(Aggregator):
    __slots__ = ("k", "hashes")
    ingest = "hashed"

    def __init__(self, k: int = 1024) -> None:
        if k < 2:
            raise ValueError(f"KMV: k must be >= 2, got {k}")
        self.k = int(k)
        self.hashes = np.empty(0, dtype=np.uint64)  # sorted, distinct, <= k

    @classmethod
    def zero(cls, k: int = 1024) -> "KMV":
        return cls(k=k)

    def update_hashed(self, h: np.ndarray) -> None:
        """Ingest pre-hashed uint64 values (e.g. Spark's xxhash64 column)."""
        h = h.astype(np.uint64, copy=False)
        if len(h) == 0:
            return
        # dedupe BEFORE pruning: the k smallest elements of a multiset can
        # under-represent the k smallest DISTINCT values
        h = np.unique(h)[: self.k]
        merged = np.unique(np.concatenate([self.hashes, h]))
        self.hashes = merged[: self.k]

    def update_batch(self, values: np.ndarray) -> None:
        self.update_hashed(hash64(values))

    def merge(self, other: "KMV") -> "KMV":
        if other.k != self.k:
            raise ValueError(f"KMV merge k mismatch: {self.k} vs {other.k}")
        merged = np.unique(np.concatenate([self.hashes, other.hashes]))
        self.hashes = merged[: self.k]
        return self

    def estimate(self) -> float:
        """Distinct-count estimate: exact count while unsaturated (< k
        distinct hashes seen means we hold ALL of them), (k−1)/U(k) after."""
        n = len(self.hashes)
        if n == 0:
            return 0.0
        if n < self.k:
            return float(n)
        u_k = (float(self.hashes[-1]) + 1.0) / 2.0**64
        return (self.k - 1) / u_k

    def finish(self) -> float:
        return self.estimate()

    # -- set operations (the coordinated-sampling payoff) --------------------

    def _union_bottom_k(self, other: "KMV") -> np.ndarray:
        if other.k != self.k:
            raise ValueError(f"KMV set-op k mismatch: {self.k} vs {other.k}")
        return np.unique(np.concatenate([self.hashes, other.hashes]))[: self.k]

    def jaccard(self, other: "KMV") -> float:
        """Jaccard similarity estimate between the two sketched sets.

        Because hashing is coordinated (same value → same hash everywhere),
        the bottom-k of the UNION is a uniform sample of the union, and the
        fraction of that sample present in both sketches estimates
        |A∩B|/|A∪B| (Beyer et al. 2007).  σ ≈ √(J(1−J)/k)."""
        u = self._union_bottom_k(other)
        if len(u) == 0:
            return 0.0
        in_both = np.isin(u, self.hashes) & np.isin(u, other.hashes)
        return float(in_both.mean())

    def union_estimate(self, other: "KMV") -> float:
        """Distinct count of the union (merge without mutating either)."""
        out = KMV(k=self.k)
        out.hashes = self._union_bottom_k(other)
        return out.estimate()

    def intersection_estimate(self, other: "KMV") -> float:
        """|A∩B| ≈ J(A,B) · |A∪B| — both factors derived from ONE union
        bottom-k so they can never disagree about the sample."""
        u = self._union_bottom_k(other)
        if len(u) == 0:
            return 0.0
        in_both = np.isin(u, self.hashes) & np.isin(u, other.hashes)
        out = KMV(k=self.k)
        out.hashes = u
        return float(in_both.mean()) * out.estimate()

    def difference_estimate(self, other: "KMV") -> float:
        """|A∖B| ≈ (fraction of the union bottom-k in A but not B) · |A∪B| —
        the set-algebra completion (union/intersect/jaccard/difference) from
        the same coordinated union sample.  HLL cannot answer this (its
        inclusion–exclusion difference has unbounded relative error when
        |A∖B| ≪ |A|); the coordinated sample's error stays σ ≈ √(f(1−f)/k)
        on the fraction f."""
        u = self._union_bottom_k(other)
        if len(u) == 0:
            return 0.0
        only_self = np.isin(u, self.hashes) & ~np.isin(u, other.hashes)
        out = KMV(k=self.k)
        out.hashes = u
        return float(only_self.mean()) * out.estimate()

    # -- serde ---------------------------------------------------------------

    def serialize(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<II", self.k, len(self.hashes))
            + self.hashes.astype("<u8").tobytes()
        )

    @classmethod
    def deserialize(cls, data: bytes, **_: object) -> "KMV":
        if data[:4] != _MAGIC:
            raise ValueError(f"KMV: bad magic {data[:4]!r}")
        if len(data) < 12:
            raise ValueError(f"KMV blob too short: {len(data)} bytes")
        k, n = struct.unpack_from("<II", data, 4)
        if len(data) != 12 + 8 * n:
            raise ValueError(
                f"KMV payload length mismatch: {len(data)} bytes for n={n}")
        out = cls(k=k)
        h = np.frombuffer(data[12 : 12 + 8 * n], dtype="<u8")
        if len(h) != n:
            raise ValueError("KMV: payload length mismatch")
        out.hashes = h.copy()
        return out
