"""The shared mergeable-Aggregator interface (north rule: "under one Aggregator
interface").

Every sketch in this library — t-digest, HLL++, count-min, KLL, Bloom — is a
commutative mergeable summary exposing the same lifecycle, which is exactly
the contract Spark's two-phase aggregation needs:

    zero() → update_batch(values) ...    (map side, per Arrow batch)
    serialize() → shuffle →              (16B/centroid binary etc.)
    absorb(blobs) / merge() ...          (reduce side, per key)
    settle() → serialize()               (canonical merged state)
    finish()                             (final estimate / answer)

``sketchlib.spark.sketch_ops`` lifts any Aggregator into ONE DataFrame-level
partial/merge plan (mapInPandas partials + repartition + mapInPandas merge);
the class attributes and hooks below are all that plan — and the streaming
operators and SQL aggregates built on its ingest and merge — know of a
family.
"""

from __future__ import annotations

import abc
from typing import Any, Iterable

import numpy as np


class Aggregator(abc.ABC):
    """A mergeable sketch aggregator: a commutative monoid with batch updates."""

    #: what the Spark plan projects JVM-side and feeds the sketch:
    #: ``"hashed"`` — ``xxhash64(value)`` int64 into ``update_hashed`` (NULLs
    #: masked out); ``"string"`` — the value cast to string, for families
    #: that report items back; ``"double"`` — the value cast to double.
    ingest = "double"

    @classmethod
    @abc.abstractmethod
    def zero(cls, **params: Any) -> "Aggregator":
        """The monoid identity under the given parameters."""

    @abc.abstractmethod
    def update_batch(self, values: np.ndarray) -> None:
        """Absorb a vector of values (Arrow batch column → numpy). Vectorized."""

    @abc.abstractmethod
    def merge(self, other: "Aggregator") -> "Aggregator":
        """In-place merge with another aggregator of identical parameters."""

    @abc.abstractmethod
    def serialize(self) -> bytes:
        """Stable wire format; concat/merge-safe per sketch's documented law."""

    @classmethod
    @abc.abstractmethod
    def deserialize(cls, data: bytes, **params: Any) -> "Aggregator":
        """Inverse of serialize under the same parameters."""

    @abc.abstractmethod
    def finish(self) -> Any:
        """Final answer (estimate, digest bytes, bitset...) for this sketch."""

    @classmethod
    def absorb(cls, acc: "Aggregator | None", blobs: Iterable[bytes],
               **params: Any) -> "Aggregator | None":
        """Merge serialized partials into ``acc`` (None: nothing absorbed
        yet) and return the accumulator — the reduce-side step of the plan.
        The default deserializes and merges one blob at a time, in order."""
        for b in blobs:
            s = cls.deserialize(b, **params)
            acc = s if acc is None else acc.merge(s)
        return acc

    def settle(self) -> "Aggregator":
        """Canonicalize merged state before it is serialized (a no-op for
        families whose merge is already canonical)."""
        return self
