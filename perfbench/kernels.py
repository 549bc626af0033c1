"""Kernel and Python-boundary timings on batches of a workload's own input.

Cost model per sketch (after "An Experimental Analysis of Quantile
Sketches over Data Streams", EDBT 2023): update ns per value on one large
batch, update µs per call at the workload's median group size, merge µs,
query µs and serialized bytes.  Each timing runs one warm-up call first
and reports the median and best over ``REPS`` repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from workloads import CMS_PARAMS, HLL_P, PS, TD_DELTA

REPS = 5
KERNEL_ROWS = 65536
EXTRACT_DOCS = 4096
CALLS = 256


def _timed(fn, setup=lambda: None, reps: int = REPS) -> dict:
    """Median and best seconds of ``fn(setup())``, after one warm-up."""
    fn(setup())
    times = []
    for _ in range(reps):
        arg = setup()
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return {"median": statistics.median(times), "best": min(times)}


def kernel_batch(df) -> dict:
    """One batch of the pages: html, text length, and the JVM xxhash64 of
    url and lang that the hashed sketches ingest."""
    t = (df.select("html", F.length("text").cast("double").alias("len"),
                   F.xxhash64("url").alias("url_h"), F.xxhash64("lang").alias("lang_h"))
         .limit(KERNEL_ROWS).toArrow())
    return {"html": t["html"].to_pandas(),
            "len": t["len"].to_numpy(),
            "url_h": t["url_h"].to_numpy().view(np.uint64),
            "lang_h": t["lang_h"].to_numpy().view(np.uint64)}


def boundary(narrow_df, keys: list[str], batch_rows: int) -> tuple[dict, int]:
    """Arrow->pandas and the builders' ``groupby(keys).indices`` on
    ``batch_rows`` rows of the projection the workload sends to Python (the
    size of the Arrow batches the workload's scan hands its Python workers).
    Returns the timings and the batch's median group size."""
    table = narrow_df.limit(batch_rows).toArrow()
    to_pandas = _timed(lambda _: table.to_pandas())
    pdf = table.to_pandas()
    group = _timed(lambda _: pdf.groupby(keys, dropna=False, sort=False).indices)
    sizes = [len(v) for v in pdf.groupby(keys, dropna=False, sort=False).indices.values()]
    return ({"to_pandas_ms_per_batch": to_pandas, "group_ms_per_batch": group,
             "batch_rows": table.num_rows, "groups_per_batch": len(sizes)},
            int(statistics.median(sizes)))


def _per_call(make, update, values: np.ndarray, group: int) -> dict:
    """µs per update call on slices of ``group`` values, into one sketch."""
    slices = [values[i:i + group] for i in range(0, group * CALLS, group)]

    def calls(sk):
        for s in slices:
            update(sk, s)

    r = _timed(calls, make)
    return {k: v / len(slices) for k, v in r.items()}


def _scaled(r: dict, f: float) -> dict:
    return {k: v * f for k, v in r.items()}


def _update_costs(name, make, update, values, group, finish=lambda s: None) -> dict:
    """update ns/value on the whole batch and µs/call at ``group`` values."""
    def upd(sk):
        update(sk, values)
        finish(sk)

    return {
        f"{name}.update_ns_per_value": _scaled(_timed(upd, make), 1e9 / len(values)),
        f"{name}.update_call_us": _scaled(
            _per_call(make, update, np.resize(values, group * CALLS), group), 1e6),
    }


def _sibling_costs(name, make, update, values, group) -> dict:
    """Update costs, merge µs of two half-batch sketches, and bytes."""
    def built(vals):
        sk = make()
        update(sk, vals)
        return sk

    half = len(values) // 2
    blob_a, blob_b = built(values[:half]).serialize(), built(values[half:]).serialize()
    cls = type(make())
    out = _update_costs(name, make, update, values, group)
    out[f"{name}.merge_us"] = _scaled(_timed(
        lambda ab: ab[0].merge(ab[1]),
        lambda: (cls.deserialize(blob_a), cls.deserialize(blob_b))), 1e6)
    out[f"{name}.bytes"] = float(len(built(values).serialize()))
    return out


def kernels(batch: dict, group: int) -> dict:
    from sketchlib.cms import CMS
    from sketchlib.data.extract import extract_len_series
    from sketchlib.hll import HLL
    from sketchlib.kll import KLL
    from sketchlib.tdigest.core import MergingDigest

    html = batch["html"].iloc[:EXTRACT_DOCS]
    out = {"extract.ns_per_doc": _scaled(_timed(lambda _: extract_len_series(html)),
                                         1e9 / len(html)),
           "extract.html_bytes_per_doc": float(batch["html"].map(len).mean())}

    vals = batch["len"]
    # update = buffer append + the flush that sorts it into centroids
    out.update(_update_costs(
        "tdigest", lambda: MergingDigest(delta=TD_DELTA),
        lambda d, v: d.update_batch(v), vals, group, finish=lambda d: d.size))
    parts = np.array_split(vals, 8)
    blobs = []
    for p in parts:
        d = MergingDigest(delta=TD_DELTA)
        d.update_batch(p)
        blobs.append(d.serialize())

    def merged():
        d = MergingDigest(delta=TD_DELTA)
        for b in blobs:
            d.merge_bytes(b)
        return d

    def compressed():
        return merged().compress()

    out["tdigest.merge_bytes_us"] = _scaled(_timed(
        lambda ab: ab[0].merge_bytes(ab[1]),
        lambda: (MergingDigest.deserialize(blobs[0], delta=TD_DELTA), blobs[1])), 1e6)
    out["tdigest.compress_us"] = _scaled(_timed(lambda d: d.compress(), merged), 1e6)
    out["tdigest.serialize_us"] = _scaled(_timed(lambda d: d.serialize(), compressed), 1e6)
    out["tdigest.quantile_us"] = _scaled(_timed(lambda d: d.quantile(PS), compressed), 1e6)

    out.update(_sibling_costs("kll", KLL, lambda s, v: s.update_batch(v), vals, group))
    out.update(_sibling_costs("hll", lambda: HLL(p=HLL_P), lambda s, v: s.update_hashed(v),
                              batch["url_h"], group))
    out.update(_sibling_costs("cms", lambda: CMS(**CMS_PARAMS),
                              lambda s, v: s.update_hashed(v), batch["lang_h"], group))
    return out
