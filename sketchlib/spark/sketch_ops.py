"""The two-phase sketch plan: ONE DataFrame-level build for every sketchlib
Aggregator family (t-digest, HLL, CMS, Bloom, KLL, KMV, MG, DDSketch).

  phase 1 — ``profile_partials``: one ``mapInPandas`` over a narrow JVM-side
            projection; each Arrow batch is grouped by key ONCE and every
            spec is updated from the same groups.  One partial sketch per
            (input partition × key × spec); no shuffle.
  phase 2 — ``profile_merge``: ``repartition(keys)`` (the one Exchange), then
            one ``mapInPandas`` accumulator merges every (key, spec) of the
            partition — one Python call per Arrow batch, not one per group.

The shuffle carries one serialized sketch per (partition × key × spec),
never raw rows.  Output is LONG: ``keys + (sk_name, sketch)``.  A single
family is the N = 1 case: ``sketch_partials``/``sketch_merge``/
``sketch_aggregate`` here and ``tdigest_ops.tdigest_*`` narrow it to one
blob column.  ``plan.tree_merge`` (salted levels) and the checkpointer reuse
the same two phases.

Hashing stays JVM-side: for ``ingest == "hashed"`` families the plan projects
``xxhash64(value)`` (whole-stage codegen, no Python string hashing) and the
Python worker ingests int64 via ``update_hashed`` — the pre-hash is remixed
with the sketch seed so query paths agree (``query_hashed``/
``contains_hashed``).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

#: every family the plan builds; a spec's ``kind`` is a key here
SKETCHES = {"tdigest": MergingDigest, "hll": HLL, "cms": CMS, "bloom": Bloom,
            "kll": KLL, "kmv": KMV, "mg": MisraGries, "dd": DDSketch}


def _norm_key(key) -> tuple:
    return key if isinstance(key, tuple) else (key,)


def _check_specs(specs: list[dict]) -> None:
    names = [s["name"] for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    for s in specs:
        if s["kind"] not in SKETCHES:
            raise ValueError(f"unknown sketch kind {s['kind']!r} in spec {s['name']!r}")
        if s.get("value_fn") is not None and SKETCHES[s["kind"]].ingest != "double":
            raise ValueError(f"value_fn needs a double-ingest kind, not {s['kind']!r}")


def _project(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """The narrow JVM-side projection the builder reads: spec ``i``'s values
    in ``_v{i}`` (pre-hash / casts run in whole-stage codegen), its weights
    in ``_w{i}``; ``value_fn`` specs read their ``input_cols`` as they are."""
    cols = [F.col(k) for k in keys]
    passthrough: list[str] = []
    for i, s in enumerate(specs):
        if s.get("value_fn") is not None:
            passthrough += [c for c in s.get("input_cols") or []
                            if c not in keys and c not in passthrough]
        elif SKETCHES[s["kind"]].ingest == "hashed":
            # xxhash64(NULL) = seed (42), not NULL: the null mask rides as a
            # separate boolean column (a nullable int64 would cross
            # Arrow→pandas as float64 and mangle hash low bits) so NULLs are
            # never ingested
            cols += [F.xxhash64(s["col"]).alias(f"_v{i}"),
                     F.col(s["col"]).isNull().alias(f"_m{i}")]
        elif SKETCHES[s["kind"]].ingest == "string":
            cols.append(F.col(s["col"]).cast("string").alias(f"_v{i}"))
        else:
            cols.append(F.col(s["col"]).cast("double").alias(f"_v{i}"))
        if s.get("weight_col"):
            cols.append(F.col(s["weight_col"]).cast("double").alias(f"_w{i}"))
    return df.select(*cols, *passthrough)


def _spec_vals(spec: dict, pdf: pd.DataFrame, i: int):
    """(values, null mask or None, weights or None) of spec ``i`` in one
    batch.  NULLs are never ingested: masked here for the hashed and string
    kinds, dropped as NaN inside ``update_batch`` for the double kinds."""
    w = (pdf[f"_w{i}"].to_numpy(dtype="float64", na_value=np.nan)
         if spec.get("weight_col") else None)
    if spec.get("value_fn") is not None:
        return np.asarray(spec["value_fn"](pdf), dtype="float64"), None, w
    series = pdf[f"_v{i}"]
    ingest = SKETCHES[spec["kind"]].ingest
    if ingest == "hashed":
        m = pdf[f"_m{i}"].to_numpy(dtype=bool)
        return series.to_numpy(dtype="int64").view(np.uint64), (m if m.any() else None), w
    if ingest == "string":
        vals = series.to_numpy(dtype=object)
        m = pd.isna(vals)
        return vals, (m if m.any() else None), w
    return series.to_numpy(dtype="float64", na_value=np.nan), None, w


def _update(agg, vals, mask, wts, idx) -> None:
    """Update ``agg`` with rows ``idx`` of one spec's ``_spec_vals``: masked
    NULLs dropped, hashed kinds through ``update_hashed``, weights when the
    spec has them.  The one ingest dispatch of every surface (plan partials,
    streaming state)."""
    v = vals[idx]
    w = wts[idx] if wts is not None else None
    if mask is not None:
        keep = ~mask[idx]
        v = v[keep]
        w = w[keep] if w is not None else None
    if agg.ingest == "hashed":
        agg.update_hashed(v)
    elif w is not None:
        agg.update_batch(v, w)
    else:
        agg.update_batch(v)


def _fold(batches: Iterable[pd.DataFrame], keys: list[str], specs: list[dict]) -> dict:
    """The partial builder: every batch of one partition into one sketch per
    ``(key..., spec index)``.  NULL keys form their own group."""
    classes = [SKETCHES[s["kind"]] for s in specs]
    params = [dict(s.get("params") or {}) for s in specs]
    overrides = [getattr(s.get("params_by_key"), "value", s.get("params_by_key")) or {}
                 for s in specs]
    aggs: dict[tuple, object] = {}
    for pdf in batches:
        cols = [_spec_vals(s, pdf, i) for i, s in enumerate(specs)]
        groups = (
            pdf.groupby(keys, dropna=False, sort=False).indices.items()
            if keys
            else [((), np.arange(len(pdf)))]
        )
        for key, idx in groups:
            key = _norm_key(key)
            for i, col in enumerate(cols):
                agg = aggs.get(key + (i,))
                if agg is None:
                    p = {**params[i], **overrides[i].get(key, {})} if overrides[i] else params[i]
                    agg = aggs[key + (i,)] = classes[i](**p)
                _update(agg, *col, idx)
    return aggs


def _emit(aggs: dict, keys: list[str], specs: list[dict]) -> pd.DataFrame:
    """One long-format frame from ``(key..., spec index) -> sketch``; each
    spec's ``metrics`` (e.g. ``tdigest_ops.TDigestMetrics``) sees every
    sketch it emits."""
    rows = {name: [k[j] for k in aggs] for j, name in enumerate(keys)}
    rows["sk_name"] = [specs[k[-1]]["name"] for k in aggs]
    rows["sketch"] = [a.serialize() for a in aggs.values()]
    for k, a in aggs.items():
        metrics = specs[k[-1]].get("metrics")
        if metrics is not None:
            metrics.add_from(a)
    return pd.DataFrame(rows, columns=keys + ["sk_name", "sketch"])


def _long_schema(df: DataFrame, keys: list[str]) -> StructType:
    return StructType(
        [StructField(k, df.schema[k].dataType, True) for k in keys]
        + [StructField("sk_name", StringType(), False),
           StructField("sketch", BinaryType(), True)]
    )


def profile_partials(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 1: ONE scan builds partials for EVERY spec — the corpus-profile
    pattern.  A profile of S sketch families over K keys costs 1 scan + (in
    ``profile_aggregate``) 1 shuffle of K·S KB-scale sketch rows; S
    single-family builds would cost S scans + S shuffles.

    A spec is a dict:

    - ``name`` — its ``sk_name`` in the output (unique per plan);
    - ``kind`` — a ``SKETCHES`` key; ``col`` — the value column;
      ``params`` — constructor params (default ``{}``);
    - ``value_fn`` + ``input_cols`` (optional, double-ingest kinds) — a
      ``pd.DataFrame -> np.ndarray`` computing the values inside the same
      Python stage from ``input_cols``, in place of ``col``: fuses upstream
      vectorized work (e.g. html→text extraction) with ingest in ONE
      JVM↔Python Arrow hop;
    - ``weight_col`` (optional) — per-row weights, for families whose
      ``update_batch`` takes them (the t-digest);
    - ``params_by_key`` (optional) — per-group constructor overrides: a dict
      (or ``sparkContext.broadcast`` of one, preferred when the key domain
      is large) mapping the normalized key tuple to a params patch, e.g.
      ``{("cnn.com",): {"expected_n": 48211}}``, so each group's sketch is
      sized to ITS cardinality (S Bloom groups sized to the global row
      count would each carry m ≈ n_total·9.6 bits);
    - ``metrics`` (optional) — an object whose ``add_from(sketch)`` sees
      every sketch the plan emits (``tdigest_ops.TDigestMetrics``).

    Output is LONG format: ``keys + (sk_name string, sketch binary)``, one
    row per (partition × key × spec); ``profile_pivot`` widens it.
    """
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(df.sparkSession)
    _check_specs(specs)
    narrow = _project(df, keys, specs)

    def build(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        aggs = _fold(batches, keys, specs)
        if aggs:
            yield _emit(aggs, keys, specs)

    return narrow.mapInPandas(build, schema=_long_schema(narrow, keys))


def profile_merge(partials: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 2: ONE repartition on the keys co-locates every spec's partials
    for a key; a mapInPandas accumulator merges per (key, spec) — one Python
    call per Arrow batch, each family absorbing all of a key's blobs in the
    batch at once (``Aggregator.absorb``: one byte-concat union for the
    t-digest) and settling once at emit (the t-digest's one compress).
    NULL blobs are the monoid identity.  Holds (keys-per-partition × specs)
    sketches in memory at once: size specs accordingly (a dense MB-scale
    Bloom per key wants more shuffle partitions)."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(partials.sparkSession)
    _check_specs(specs)
    classes = [SKETCHES[s["kind"]] for s in specs]
    params = [dict(s.get("params") or {}) for s in specs]
    index = {s["name"]: i for i, s in enumerate(specs)}
    narrow = partials.select(*keys, "sk_name", "sketch")

    def merge_stream(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple, object] = {}  # (key..., spec index) -> sketch or None
        for pdf in batches:
            blobs = pdf["sketch"].to_numpy()
            groups = pdf.groupby(keys + ["sk_name"], dropna=False, sort=False).indices
            for gk, idx in groups.items():
                gk = _norm_key(gk)
                i = index[gk[-1]]
                k = gk[:-1] + (i,)
                accs[k] = classes[i].absorb(
                    accs.get(k), [bytes(b) for b in blobs[idx] if b is not None],
                    **params[i])
        if accs:
            for k, a in accs.items():
                accs[k] = (classes[k[-1]](**params[k[-1]]) if a is None else a).settle()
            yield _emit(accs, keys, specs)

    shuffled = (
        narrow.repartition(*[F.col(k) for k in keys])
        if keys
        else narrow.repartition(1)
    )
    return shuffled.mapInPandas(merge_stream, schema=_long_schema(narrow, keys))


def profile_aggregate(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """One scan + one shuffle → merged sketches for every spec (long format)."""
    return profile_merge(profile_partials(df, keys, specs), keys, specs)


# ---------------------------------------------------------------------------
# Single family: the N = 1 case, narrowed to one blob column
# ---------------------------------------------------------------------------


def _one(profile: DataFrame, keys: list[str], col: str) -> DataFrame:
    return profile.select(*keys, F.col("sketch").alias(col))


def _long(partials: DataFrame, keys: list[str], name: str, col: str) -> DataFrame:
    return partials.select(*keys, F.lit(name).alias("sk_name"),
                           F.col(col).alias("sketch"))


def _spec(sketch: str, params: dict | None, **fields) -> dict:
    return {"name": sketch, "kind": sketch, "params": params, **fields}


def sketch_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    """Phase 1 for one family: keys + ``sketch`` per (partition × key).
    ``params_by_key``: per-group constructor overrides (see
    ``profile_partials``)."""
    spec = _spec(sketch, params, col=value_col, params_by_key=params_by_key)
    return _one(profile_partials(df, keys, [spec]), keys, "sketch")


def sketch_merge(
    partials: DataFrame,
    keys: list[str],
    sketch: str,
    params: dict | None = None,
) -> DataFrame:
    """Phase 2 for one family: keys + the merged ``sketch``."""
    long = _long(partials, keys, sketch, "sketch")
    return _one(profile_merge(long, keys, [_spec(sketch, params)]), keys, "sketch")


def sketch_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    spec = _spec(sketch, params, col=value_col, params_by_key=params_by_key)
    return _one(profile_aggregate(df, keys, [spec]), keys, "sketch")


def mg_items_udf():
    """binary(MG sketch) → array<struct<item,est>> for exploding a
    frequent-items summary into rows.  Post-aggregation only: runs on
    ≤|distinct keys| sketch rows, never row-scale data."""
    from pyspark.sql.types import ArrayType, LongType, StringType

    schema = ArrayType(StructType([
        StructField("item", StringType(), True),
        StructField("est", LongType(), True),
    ]))

    @F.pandas_udf(schema)
    def f(sk: pd.Series) -> pd.Series:
        out = []
        for b in sk:
            if b is None:
                out.append(None)
            else:
                out.append([{"item": k, "est": v}
                            for k, v in MisraGries.deserialize(bytes(b)).items()])
        return pd.Series(out)

    return f


# ---------------------------------------------------------------------------
# One-pass multi-sketch profile
# ---------------------------------------------------------------------------


def profile_pivot(profile: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Widen the long profile: one binary column per spec name.  Runs on
    sketch rows only (K·S rows) — the pivot shuffle is KB-scale."""
    names = [s["name"] for s in specs]
    return (
        profile.groupBy(*keys)
        .pivot("sk_name", names)
        .agg(F.first("sketch"))
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    delta: float = 0.01,
    discrete: bool = False,
    hll_p: int = 14,
    keys: list[str] | None = None,
) -> DataFrame:
    """Schema-driven ONE-PASS table profiler — the "describe my 100-TB
    table" operator.  Every selected column gets type-appropriate
    sketches built in a single scan + one KB-scale sketch shuffle
    (``profile_aggregate``):

    - numeric columns → a t-digest (``delta``; pass ``discrete=True``
      for exact nearest-rank quantiles on low-cardinality columns)
      + an HLL++ distinct estimate;
    - every other column → HLL++ distinct + a 1-row CMS whose exact
      ``total`` counts ingested values.

    Output: one row per column —
    ``(column, dtype, n_rows, n_vals, n_nulls, est_distinct, q50, q95)``
    with q50/q95 NULL for non-numeric columns.  ``n_rows`` rides the same
    pass (a 1-cell CMS over a constant — its ``total`` is the exact row
    count), so the whole operator is ONE lazy plan with no separate
    count() action even over filtered/joined inputs; ``n_vals`` is exact —
    the digest's total weight / the CMS total; NULLs are never ingested
    (and for floating-point columns NaN counts as missing too, the
    t-digest convention).  ``n_nulls = n_rows - n_vals``.  Metric
    extraction runs on C KB-scale sketch rows, never on the data: the
    scan cost is ONE pass regardless of how many columns are profiled
    (the dedicated single-sketch path would cost 2C scans).

    ``keys``: optional grouping columns — the per-GROUP profile (one row
    per group x column, keys prepended) from the same single pass; the
    sketch shuffle then carries one KB row per (group x spec).
    """
    from pyspark.sql.types import NumericType

    from sketchlib.cms import CMS
    from sketchlib.hll import HLL
    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_quantiles_udf,
    )

    keys = list(keys or [])
    fields = {f.name: f for f in df.schema.fields}
    cols = (list(columns) if columns is not None
            else [c for c in fields if c not in keys])
    overlap = [c for c in cols if c in keys]
    if overlap:
        raise ValueError(f"profile_table: columns {overlap} are also keys")
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"profile_table: unknown columns {unknown}")
    numeric = {c for c in cols if isinstance(fields[c].dataType, NumericType)}
    specs = []
    for i, c in enumerate(cols):
        specs.append({"name": f"h{i}", "col": c, "kind": "hll",
                      "params": {"p": hll_p}})
        if c in numeric:
            specs.append({"name": f"t{i}", "col": c, "kind": "tdigest",
                          "params": {"delta": delta, "discrete": discrete}})
        else:
            specs.append({"name": f"c{i}", "col": c, "kind": "cms",
                          "params": {"width": 32, "depth": 1}})
    # row counter rides the SAME pass: a 1-cell-wide CMS over a constant
    # counts every row exactly in its ``total`` — no separate count()
    # action, so profiling a filtered/joined input never recomputes its
    # upstream, and the whole operator stays one lazy plan
    specs.append({"name": "_rows", "col": "_ones", "kind": "cms",
                  "params": {"width": 4, "depth": 1}})
    staged = df.select(*keys, *cols).withColumn("_ones", F.lit(1))
    wide = profile_pivot(profile_aggregate(staged, keys, specs), keys, specs)

    @F.pandas_udf("double")
    def _hll_est(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else HLL.deserialize(bytes(b)).estimate()
             for b in blobs],
            dtype="float64",
        )

    @F.pandas_udf("double")
    def _cms_total(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else float(CMS.deserialize(bytes(b)).total)
             for b in blobs],
            dtype="float64",
        )

    # ONE projection over the single wide sketch row, exploded to one row
    # per column — a union of per-column selects would re-execute the
    # whole scan+build subtree once per column (2C scans, exactly what
    # this operator exists to avoid)
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=discrete)
    n_rows = F.coalesce(_cms_total("_rows"), F.lit(0.0))
    structs = []
    for i, c in enumerate(cols):
        if c in numeric:
            n_vals = tdigest_count_udf(f"t{i}")
            q50, q95 = q(f"t{i}")[0], q(f"t{i}")[1]
        else:
            n_vals = F.coalesce(_cms_total(f"c{i}"), F.lit(0.0))
            q50 = q95 = F.lit(None).cast("double")
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.lit(fields[c].dataType.simpleString()).alias("dtype"),
            n_rows.cast("long").alias("n_rows"),
            n_vals.cast("long").alias("n_vals"),
            (n_rows - n_vals).cast("long").alias("n_nulls"),
            F.coalesce(_hll_est(f"h{i}"), F.lit(0.0)).alias("est_distinct"),
            q50.alias("q50"),
            q95.alias("q95"),
        ))
    return (
        wide.select(*keys, F.explode(F.array(*structs)).alias("_r"))
        .select(*keys, "_r.*")
    )
