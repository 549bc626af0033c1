"""Count-min sketch (Cormode & Muthukrishnan 2005), from scratch.

w = ceil(e/eps) columns, d = ceil(ln(1/δ)) rows; each row uses a derived
hash from the Kirsch–Mitzenmacher double-hashing family over one 64-bit
base hash.  Point estimate = min over rows — always ≥ true count, and
≤ true + eps·N with probability ≥ 1−δ.

Merge = element-wise counter addition (commutative monoid; requires equal
(w, d, seed)).

Oracle in tests: exact groupBy counts; Spark/DuckDB also ship a built-in
``count_min_sketch`` (same published algorithm) used as a cross-check only.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.aggregator import Aggregator
from sketchlib.hashing import double_hash, hash64

_MAGIC = b"CMS1"


class CMS(Aggregator):
    __slots__ = ("width", "depth", "seed", "table", "total")
    ingest = "hashed"

    def __init__(
        self,
        eps: float | None = None,
        confidence: float | None = None,
        width: int | None = None,
        depth: int | None = None,
        seed: int = 1,
    ) -> None:
        if width is None:
            width = int(math.ceil(math.e / (eps if eps else 0.001)))
        if depth is None:
            depth = int(math.ceil(math.log(1.0 / (1.0 - (confidence or 0.99)))))
            depth = max(depth, 1)
        self.width = width
        self.depth = depth
        self.seed = seed
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.total = 0

    @classmethod
    def zero(cls, **params) -> "CMS":
        return cls(**params)

    @property
    def eps(self) -> float:
        return math.e / self.width

    def _update_base(self, base: np.ndarray, counts: np.ndarray | None) -> None:
        if len(base) == 0:
            return
        c = (
            np.asarray(counts, dtype=np.int64)
            if counts is not None
            else np.ones(len(base), dtype=np.int64)
        )
        for r in range(self.depth):
            cols = double_hash(base, r, self.width)
            np.add.at(self.table[r], cols, c)
        self.total += int(np.sum(c))

    def update_hashed(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        """Ingest pre-hashed uint64 values; remixed with the sketch seed so
        update/query agree (query_hashed uses the same base)."""
        self._update_base(hash64(h, seed=self.seed), counts)

    def update_batch(self, values: np.ndarray) -> None:
        self._update_base(hash64(values, seed=self.seed), None)

    def update_batch_weighted(self, values, counts: np.ndarray) -> None:
        self._update_base(hash64(values, seed=self.seed), counts)

    def query_hashed(self, h: np.ndarray) -> np.ndarray:
        return self._query_base(hash64(h, seed=self.seed))

    def query(self, values) -> np.ndarray:
        """Vectorized point estimates (min over rows)."""
        return self._query_base(hash64(values, seed=self.seed))

    def _query_base(self, base: np.ndarray) -> np.ndarray:
        est = np.full(len(base), np.iinfo(np.int64).max, dtype=np.int64)
        for r in range(self.depth):
            cols = double_hash(base, r, self.width)
            np.minimum(est, self.table[r][cols], out=est)
        return est

    def merge(self, other: "CMS") -> "CMS":
        if (self.width, self.depth, self.seed) != (other.width, other.depth, other.seed):
            raise ValueError("CMS merge shape/seed mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def serialize(self) -> bytes:
        head = _MAGIC + struct.pack("<IIQq", self.width, self.depth, self.seed, self.total)
        return head + self.table.astype("<i8").tobytes()

    @classmethod
    def deserialize(cls, data: bytes, **_: object) -> "CMS":
        if data[:4] != _MAGIC:
            raise ValueError("CMS: bad magic")
        if len(data) < 4 + 24:
            raise ValueError(f"CMS blob too short: {len(data)} bytes")
        width, depth, seed, total = struct.unpack_from("<IIQq", data, 4)
        body = np.frombuffer(data[4 + 24 :], dtype="<i8")
        # length check BEFORE construction: cls() allocates the depth*width
        # table, and a corrupted header must not trigger a giant allocation
        if len(body) != depth * width:
            raise ValueError(
                f"CMS payload length mismatch: {len(body)} cells for "
                f"{depth}x{width} table")
        out = cls(width=width, depth=depth, seed=seed)
        out.table = body.reshape(depth, width).copy()
        out.total = total
        return out

    def inner_product(self, other: "CMS") -> int:
        """Join-size / inner-product estimate (Cormode & Muthukrishnan §4.2):
        ``min over rows d of dot(table_a[d], table_b[d])`` estimates
        ``sum_k f_a(k) * f_b(k)`` — the exact equi-join cardinality between
        the two sketched multisets.  ALWAYS >= the true value (hash
        collisions only add mass), and <= true + eps * N_a * N_b with
        probability >= 1 - delta.  Two KB-scale blobs answer "how big would
        this join be" without touching either table — the query-optimizer /
        shuffle-planning primitive.  Requires equal (width, depth, seed)."""
        if (self.width, self.depth, self.seed) != (
            other.width, other.depth, other.seed
        ):
            raise ValueError(
                "CMS.inner_product: incompatible sketches "
                f"(w,d,seed)=({self.width},{self.depth},{self.seed}) vs "
                f"({other.width},{other.depth},{other.seed})"
            )
        # Accumulate in unbounded Python ints (object dtype): per-row dot is
        # ~N_a*N_b/width, which silently WRAPS past 2^63 in int64 at the
        # 10^12-element scale this primitive is pitched at (numpy wraps
        # without error) — a garbage join-size estimate exactly where it
        # matters.  d·w ≈ 80k element-products per call: driver-side cost is
        # microseconds, exactness is unconditional.
        dots = [
            int(np.dot(self.table[d].astype(object), other.table[d].astype(object)))
            for d in range(self.depth)
        ]
        return min(dots)

    def finish(self) -> "CMS":
        return self
