"""HyperLogLog++ distinct-count sketch (from scratch; Heule/Nunkesser/Hall 2013).

Design:
- 64-bit hashes (no large-range correction needed, unlike classic HLL).
- m = 2^p registers (p defaults to 14 → σ ≈ 1.04/√m ≈ 0.81%).
- Sparse representation IN MEMORY and on the wire when few registers are set
  (the "++" memory optimization that matters when millions of group sketches
  are built and shuffled): a fresh sketch buffers (index, rho) pairs and only
  materializes the dense 2^p register array past m/4 buffered pairs.  A
  high-cardinality groupBy (thousands of (key × partition) partials, tens of
  rows each) allocates ~100 bytes per partial instead of 16 KB — on shared
  hosts allocation-heavy Python is the scaling killer, and at web scale the
  shuffle carries the ~100-byte sparse wire form either way.  Every
  observable (serialize bytes, estimate, registers property) is a pure
  function of the register SET, so sparse- and dense-built sketches are
  byte-identical.
- Small-range correction: linear counting below the published crossover
  thresholds, plus the paper's empirical bias correction below 5m — the
  tables are measured on THIS implementation by ``tools/gen_hll_bias.py``
  (generated module ``sketchlib._hll_bias``, precisions 12/14/16; other
  precisions fall back to the classic 2.5m linear-counting rule).  Mean
  error in the former 2.5m–5m weak band is < 0.4% (was ~1.5%).

Merge = register-wise max — associative, commutative, idempotent (a
semilattice, even stronger than the t-digest monoid).

Oracle in tests: exact ``count(distinct)`` and Spark's built-in
``approx_count_distinct`` (same published algorithm family).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.aggregator import Aggregator
from sketchlib.hashing import hash64

_MAGIC_DENSE = b"HLD1"
_MAGIC_SPARSE = b"HLS1"


#: linear-counting/bias-corrected-raw crossover per precision (HLL++ paper,
#: appendix threshold table — published constants)
_LC_THRESHOLD = {
    4: 10, 5: 20, 6: 40, 7: 80, 8: 220, 9: 400, 10: 900, 11: 1800,
    12: 3100, 13: 6500, 14: 11500, 15: 20000, 16: 50000, 17: 120000,
    18: 350000,
}


def _bias_table(p: int):
    """(raw_estimate_grid, bias_grid) ndarrays for precision p, or None when
    no generated table exists (then the classic-HLL rule applies)."""
    try:
        from sketchlib._hll_bias import RAW_AND_BIAS
    except ImportError:
        return None
    t = RAW_AND_BIAS.get(p)
    if t is None:
        return None
    return np.asarray(t[0]), np.asarray(t[1])


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HLL(Aggregator):
    __slots__ = ("p", "m", "_regs", "_sidx", "_srho", "_scount")
    ingest = "hashed"

    def __init__(self, p: int = 14) -> None:
        if not 4 <= p <= 18:
            raise ValueError(f"HLL precision p must be in [4,18], got {p}")
        self.p = p
        self.m = 1 << p
        self._regs: np.ndarray | None = None  # dense registers, or None while sparse
        self._sidx: list[np.ndarray] = []  # buffered register indices (may repeat)
        self._srho: list[np.ndarray] = []  # buffered rho values, same lengths
        self._scount = 0

    @classmethod
    def zero(cls, p: int = 14) -> "HLL":
        return cls(p=p)

    # -- sparse/dense plumbing -------------------------------------------------

    @property
    def registers(self) -> np.ndarray:
        """Dense register array view (materializes a sparse sketch)."""
        self._densify()
        return self._regs

    def _densify(self) -> None:
        if self._regs is None:
            self._regs = np.zeros(self.m, dtype=np.uint8)
        if self._sidx:
            np.maximum.at(
                self._regs, np.concatenate(self._sidx), np.concatenate(self._srho)
            )
            self._sidx, self._srho, self._scount = [], [], 0

    def _compact(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted unique indices, max rho per index) — the register SET,
        computed without allocating the dense array when sparse."""
        if self._regs is not None:
            self._densify()  # fold any buffer into the dense array
            nz = np.flatnonzero(self._regs)
            return nz, self._regs[nz]
        if not self._sidx:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint8)
        idx = np.concatenate(self._sidx)
        rho = np.concatenate(self._srho)
        order = np.argsort(idx, kind="stable")
        idx, rho = idx[order], rho[order]
        bounds = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
        return idx[bounds], np.maximum.reduceat(rho, bounds)

    def _absorb_pairs(self, idx: np.ndarray, rho: np.ndarray) -> None:
        if self._regs is not None:
            np.maximum.at(self._regs, idx, rho)
            return
        if self._scount + len(idx) > max(256, self.m // 4):
            self._densify()
            np.maximum.at(self._regs, idx, rho)
            return
        self._sidx.append(idx)
        self._srho.append(rho)
        self._scount += len(idx)

    # -- ingest ----------------------------------------------------------------

    def update_hashed(self, h: np.ndarray) -> None:
        """Ingest pre-hashed uint64 values (e.g. Spark's xxhash64 column)."""
        h = h.astype(np.uint64, copy=False)
        if len(h) == 0:
            return
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h & np.uint64((1 << (64 - self.p)) - 1)
        # rho = leading-zero count of the (64-p)-bit suffix + 1
        #     = (64-p) + 1 - bit_length(w); frexp exponent == bit_length
        # exact because w < 2^50 ≤ 2^53 for p ≥ 14; for p < 14 the top bits
        # still dominate bit_length (float rounding can't cross a power of 2
        # upward for values below 2^63 except at all-ones mantissa overflow,
        # which we guard by clipping rho to its max).
        bl = np.frexp(w.astype(np.float64))[1]
        rho = np.clip((64 - self.p) + 1 - bl, 1, 64 - self.p + 1).astype(np.uint8)
        rho[w == 0] = 64 - self.p + 1
        self._absorb_pairs(idx, rho)

    def update_batch(self, values: np.ndarray) -> None:
        self.update_hashed(hash64(values))

    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError(f"HLL merge precision mismatch: {self.p} vs {other.p}")
        if other._regs is None:
            for idx, rho in zip(other._sidx, other._srho):
                self._absorb_pairs(idx, rho)
        else:
            self._densify()
            np.maximum(self._regs, other._regs, out=self._regs)
        return self

    # -- estimators ------------------------------------------------------------

    def raw_estimate(self) -> float:
        """The uncorrected harmonic-mean estimator (biased for n ≲ 5m)."""
        uniq, rho = self._compact()
        m = float(self.m)
        zeros = float(self.m - len(uniq))
        s = float(np.sum(np.exp2(-rho.astype(np.float64)))) + zeros  # 2^0 per zero
        return _alpha(self.m) * m * m / s

    def estimate(self) -> float:
        """HLL++ estimate: empirical bias correction below 5m (tables
        measured on this implementation by tools/gen_hll_bias.py), linear
        counting below the published crossover threshold — the paper's §5.2
        algorithm.  Precisions without a generated table keep the classic
        2.5m linear-counting rule (bias ≤ ~1.5% in the handoff band)."""
        uniq, _rho = self._compact()
        m = float(self.m)
        est = self.raw_estimate()
        zeros = self.m - len(uniq)
        table = _bias_table(self.p)
        if table is None:  # classic HLL fallback
            if est <= 2.5 * m and zeros > 0:
                return m * float(np.log(m / zeros))  # linear counting
            return est
        raw_grid, bias_grid = table
        corrected = est - float(np.interp(est, raw_grid, bias_grid)) if est <= 5.0 * m else est
        if zeros > 0:
            lc = m * float(np.log(m / zeros))
            if lc <= _LC_THRESHOLD.get(self.p, 2.5 * m):
                return lc
        return corrected

    def finish(self) -> float:
        return self.estimate()

    # -- serde: sparse when profitable (canonical either way) ------------------

    def serialize(self) -> bytes:
        nz, rho = self._compact()
        header = struct.pack("<B", self.p)
        if len(nz) * 3 < self.m:  # sparse: (idx u16/u32, rho u8) pairs
            if self.p <= 16:
                idx_bytes = nz.astype("<u2").tobytes()
            else:
                idx_bytes = nz.astype("<u4").tobytes()
            return (
                _MAGIC_SPARSE + header + struct.pack("<I", len(nz))
                + idx_bytes + rho.tobytes()
            )
        self._densify()
        return _MAGIC_DENSE + header + self._regs.tobytes()

    @classmethod
    def deserialize(cls, data: bytes, **_: object) -> "HLL":
        if len(data) < 5:
            raise ValueError(
                f"HLL blob too short: {len(data)} bytes (want >= 5)")
        magic, p = data[:4], data[4]
        out = cls(p=p)  # __init__ validates p's range
        if magic == _MAGIC_DENSE:
            regs = np.frombuffer(data[5:], dtype=np.uint8).copy()
            if len(regs) != out.m:
                raise ValueError("HLL dense payload length mismatch")
            out._regs = regs
        elif magic == _MAGIC_SPARSE:
            if len(data) < 9:
                raise ValueError(
                    f"HLL sparse blob too short: {len(data)} bytes (want >= 9)")
            (n,) = struct.unpack_from("<I", data, 5)
            off = 9
            itype, isize = ("<u2", 2) if p <= 16 else ("<u4", 4)
            if len(data) != off + n * (isize + 1):
                raise ValueError(
                    f"HLL sparse payload length mismatch: {len(data)} bytes "
                    f"for {n} pairs (want {off + n * (isize + 1)})"
                )
            idx = np.frombuffer(data[off : off + n * isize], dtype=itype).astype(np.int64)
            rho = np.frombuffer(data[off + n * isize : off + n * isize + n], dtype=np.uint8)
            if n and (idx.max() >= out.m or idx.min() < 0):
                raise ValueError("HLL sparse register index out of range")
            # stay sparse: merged-then-serialized partials never touch 2^p
            # bytes unless the set actually grows past the density cutoff
            out._absorb_pairs(idx, rho.copy())
        else:
            raise ValueError(f"HLL: bad magic {magic!r}")
        return out
