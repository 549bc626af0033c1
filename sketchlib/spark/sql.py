"""SQL surface: register the sketch functions so plain ``spark.sql`` works
(SURVEY.md §2.9 "UDF/UDAF surface").

    from sketchlib.spark.sql import register_sql_functions
    register_sql_functions(spark)
    spark.sql('''
        SELECT lang,
               tdigest_quantile(tdigest_agg(CAST(n_chars AS DOUBLE)), 0.99) AS p99
        FROM docs GROUP BY lang
    ''')

Every family in ``sketch_ops.SKETCHES`` gets ``<kind>_agg`` (build a sketch
from a value column) and ``<kind>_merge_agg`` (merge a column of stored
sketches), both generated from the family's own ``Aggregator`` hooks: the
build drops NULLs and ingests per ``cls.ingest``, the merge is
``cls.absorb`` (all NULL blobs: the identity sketch), and both ``settle()``
before serializing.  Parameters come from ``SQL_PARAMS``; the t-digest's
``delta`` is ``register_sql_functions``' argument.  The two-digest t-digest
functions (``tdigest_ks``/``w1``/``psi_jsd``/``size``/``count``/
``to_wire``/``from_wire``) are the ``tdigest_ops`` UDFs registered under SQL
names, so SQL and DataFrame answers are the same code.

The aggregates are pandas GROUPED_AGG UDFs — convenient for ad-hoc SQL, but
Catalyst gives GROUPED_AGG UDFs **no partial aggregation**: every group's
rows shuffle to one reducer.  For production scale use the explicit
two-phase plan (``sketchlib.spark.sketch_ops.profile_aggregate`` and its
N = 1 wrappers); this module is the interactive/BI convenience layer over
the same wire formats, so sketches built either way are interchangeable
(``<kind>_merge_agg`` merges stored sketch columns).

Hashed families (hll, cms, bloom, kmv) hash the argument's int64 value.  A
nullable BIGINT group that holds a NULL reaches the pandas UDAF as float64,
so distinct values above 2^53 can collide before hashing (measured:
``2^60+1`` and ``2^60+3`` arrive as the same float, and ``hll_agg`` over
them plus a NULL estimates 1).  Feed the hashed aggregates NULL-free
columns (``WHERE x IS NOT NULL``); pre-hash other types with
``xxhash64(x)`` after filtering NULLs (``xxhash64(NULL)`` is 42, not NULL).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import BinaryType, BooleanType, DoubleType, LongType

from sketchlib.cms import CMS
from sketchlib.spark.sketch_ops import SKETCHES
from sketchlib.tdigest.core import (
    bytes_to_centroids,
    cdf_of_centroids,
    quantiles_of_centroids,
    trimmed_mean_of_centroids,
)

#: constructor params of ``<kind>_agg``/``<kind>_merge_agg`` per family (the
#: t-digest's ``delta`` is the ``register_sql_functions`` argument)
SQL_PARAMS = {
    "hll": {"p": 14},
    "cms": {"width": 16384, "depth": 5},
    "bloom": {"expected_n": 100_000, "fpr": 0.01},
    "kll": {"k": 200},
    "kmv": {"k": 1024},
    "mg": {"m": 64},
    "dd": {"alpha": 0.01, "max_bins": 2048},
}

#: the numpy dtype each ``cls.ingest`` kind reads its SQL argument as
_INGEST_DTYPE = {"hashed": "int64", "string": object, "double": "float64"}


def _aggregates(kind: str, params: dict):
    """``(<kind>_agg, <kind>_merge_agg)`` as pandas GROUPED_AGG UDFs."""
    cls = SKETCHES[kind]
    dtype = _INGEST_DTYPE[cls.ingest]

    @pandas_udf(BinaryType())
    def agg(v: pd.Series) -> bytes:
        s = cls(**params)
        s.update_batch(v.dropna().to_numpy(dtype=dtype))
        return s.settle().serialize()

    @pandas_udf(BinaryType())
    def merge_agg(blobs: pd.Series) -> bytes:
        s = cls.absorb(None, [bytes(b) for b in blobs if b is not None], **params)
        return (cls(**params) if s is None else s).settle().serialize()

    return agg, merge_agg


def _digest_udf(stat, ok):
    """double per row of (digest, argument): ``stat(means, ns, x)``; NaN for
    a NULL or empty digest or an argument ``ok`` (None: any) rejects —
    invalid arguments degrade per row, not abort the job."""

    @pandas_udf(DoubleType())
    def f(dig: pd.Series, arg: pd.Series) -> pd.Series:
        out = []
        for b, x in zip(dig, arg):
            if b is None or len(b) == 0 or (ok is not None and not ok(x)):
                out.append(float("nan"))
            else:
                m, n = bytes_to_centroids(bytes(b))
                out.append(float(stat(m, n, x)))
        return pd.Series(out)

    return f


def _rank_ok(q) -> bool:
    # SQL NULL doubles arrive as NaN (not None) through Arrow
    return q is not None and not math.isnan(q) and 0.0 <= q <= 1.0


def _estimate_udf(kind: str):
    """double per sketch row: ``deserialize(blob).estimate()``."""
    cls = SKETCHES[kind]

    @pandas_udf(DoubleType())
    def f(blobs: pd.Series) -> pd.Series:
        return pd.Series([
            float("nan") if b is None else cls.deserialize(bytes(b)).estimate()
            for b in blobs
        ])

    return f


def _per_row_udf(return_type, kind: str, query):
    """``query(sketch, x)`` per row of (sketch blob, argument); NULL (NaN for
    a double result) when either is NULL."""
    cls = SKETCHES[kind]
    double = isinstance(return_type, DoubleType)
    null, dtype = (float("nan"), None) if double else (None, "object")

    @pandas_udf(return_type)
    def f(blob: pd.Series, arg: pd.Series) -> pd.Series:
        return pd.Series([
            null if b is None or x is None else query(cls.deserialize(bytes(b)), x)
            for b, x in zip(blob, arg)
        ], dtype=dtype)

    return f


def _quantile(sketch, p) -> float:
    return float(np.atleast_1d(sketch.quantile([float(p)]))[0])


def _key(x) -> np.ndarray:
    return np.asarray([x], dtype=np.int64)


@pandas_udf(DoubleType())
def _tdigest_trimmed_mean(dig: pd.Series, lo: pd.Series, hi: pd.Series) -> pd.Series:
    out = []
    for b, l, h in zip(dig, lo, hi):
        if b is None or len(b) == 0 or not (_rank_ok(l) and _rank_ok(h) and l < h):
            out.append(float("nan"))
        else:
            m, n = bytes_to_centroids(bytes(b))
            out.append(trimmed_mean_of_centroids(m, n, float(l), float(h)))
    return pd.Series(out)


@pandas_udf(LongType())
def _cms_inner_product(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([
        None if x is None or y is None
        else int(CMS.deserialize(bytes(x)).inner_product(CMS.deserialize(bytes(y))))
        for x, y in zip(a, b)
    ], dtype="object")


def register_sql_functions(spark: SparkSession, delta: float = 0.01) -> None:
    """Idempotent registration of the sketch SQL surface: ``<kind>_agg`` and
    ``<kind>_merge_agg`` for every ``SKETCHES`` family plus each family's
    query functions."""
    from sketchlib.spark import tdigest_ops as td
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(spark)
    params = {"tdigest": {"delta": delta}, **SQL_PARAMS}
    for kind in SKETCHES:
        agg, merge_agg = _aggregates(kind, params[kind])
        spark.udf.register(f"{kind}_agg", agg)
        spark.udf.register(f"{kind}_merge_agg", merge_agg)

    for name, f in {
        "tdigest_to_wire": td.tdigest_wire_udf(delta),
        "tdigest_from_wire": td.tdigest_unwire_udf,
        "tdigest_quantile": _digest_udf(
            lambda m, n, p: quantiles_of_centroids(m, n, [float(p)])[0], None),
        "tdigest_cdf": _digest_udf(
            lambda m, n, q: cdf_of_centroids(m, n, [float(q)])[0], None),
        "tdigest_trimmed_mean": _tdigest_trimmed_mean,
        "tdigest_ks": td.tdigest_ks_udf,
        "tdigest_w1": td.tdigest_w1_udf,
        "tdigest_psi_jsd": td.tdigest_psi_jsd_udf(),
        # the rank-p clip value read off a digest (discrete mode ⇒ an exact
        # data value); use in pairs: greatest(lo, least(hi, v))
        "tdigest_winsor_bound": _digest_udf(
            lambda m, n, q: quantiles_of_centroids(m, n, [float(q)], discrete=True)[0],
            _rank_ok),
        "tdigest_size": td.tdigest_size_udf,
        "tdigest_count": td.tdigest_count_udf,
        "hll_estimate": _estimate_udf("hll"),
        "kmv_estimate": _estimate_udf("kmv"),
        "kll_quantile": _per_row_udf(DoubleType(), "kll", _quantile),
        "dd_quantile": _per_row_udf(DoubleType(), "dd", _quantile),
        "cms_query": _per_row_udf(
            LongType(), "cms", lambda c, x: int(c.query(_key(x))[0])),
        "cms_inner_product": _cms_inner_product,
        "bloom_contains": _per_row_udf(
            BooleanType(), "bloom", lambda f, x: bool(f.contains(_key(x))[0])),
        "mg_estimate": _per_row_udf(
            LongType(), "mg", lambda s, x: s.estimate(str(x))),
    }.items():
        spark.udf.register(name, f)
