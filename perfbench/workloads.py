"""The workloads: each runs one sketchlib pipeline over the pages table
and checks every output against the exact reference.  ``CkptResumeTD``
(the checkpoint write path) is not a workload of its own; a traced run
runs it once as the checkpoint layer's probe.

``run`` is the timed part and returns what the pipeline produced;
``check`` is untimed and raises ``CheckFailed`` on a wrong output, else
returns the accuracy figures.  In a traced run ``run`` splits the pipeline
into phases, each its own Spark action under its own job group.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from inputs import HOST_REGEX

TD_DELTA = 0.01
PS = np.array([0.01, 0.05, 0.5, 0.95, 0.99, 0.999])
HLL_P = 12
HLL_STD_ERR = 1.04 / math.sqrt(2 ** HLL_P)
#: the HLL check runs on every one of ~1,000 hosts per run, so a per-key
#: 3-sigma bound would fire by chance on most seeds; six sigma keeps the
#: family-wise false-alarm rate negligible and still catches a lost
#: partial (about 1/8 of a host's urls).  Register collisions among a
#: host's first few dozen urls are Poisson-discrete, hence the count slack.
HLL_SIGMAS = 6
HLL_SLACK = 8
CMS_PARAMS = {"eps": 0.05}
#: keys this small are checked but left out of the accuracy metrics
METRIC_MIN_ROWS = 1000
CKPT_PARTS = 32
CKPT_FAIL_AFTER = 16


class CheckFailed(Exception):
    pass


def rank_error(sorted_vals: np.ndarray, qs: np.ndarray, ps: np.ndarray) -> float:
    """Max distance from p to the exact rank interval
    [count(x < q), count(x <= q)] / n of each estimate q."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, qs, side="left")
    hi = np.searchsorted(sorted_vals, qs, side="right")
    target = ps * n
    gap = np.where(target < lo, lo - target, np.where(target > hi, target - hi, 0.0))
    return float(gap.max() / n)


def check_digests(digests: dict, exact: dict, what: str) -> float:
    """Key set, total weight and rank error of t-digests.  The bound is
    delta plus one rank, since an estimate interpolated between two of n
    values is 1/n coarse; the returned worst error covers the keys with
    at least ``METRIC_MIN_ROWS`` rows, where that coarseness is negligible."""
    if set(digests) != set(exact):
        raise CheckFailed(f"{what}: key set differs from the reference "
                          f"({len(digests)} vs {len(exact)} keys)")
    worst = 0.0
    for k, d in digests.items():
        n = len(exact[k])
        if d.count != n:
            raise CheckFailed(f"{what}[{k}]: weight {d.count} != {n} rows")
        err = rank_error(exact[k], d.quantile(PS), PS)
        if err >= TD_DELTA + 1 / n:
            raise CheckFailed(f"{what}[{k}]: rank error {err:.5f} >= {TD_DELTA} + 1/{n}")
        if n >= METRIC_MIN_ROWS:
            worst = max(worst, err)
    return worst


def _digest_stats(blobs) -> dict:
    from sketchlib.tdigest.core import MergingDigest

    sizes = [MergingDigest.deserialize(b, delta=TD_DELTA).size for b in blobs]
    return {"bytes_per_digest": float(np.mean([len(b) for b in blobs])),
            "centroids_per_digest": float(np.mean(sizes))}


class Ctx:
    """What an iteration needs: the session, the input, the tracer, and
    (traced runs only) the Spark metrics reader."""

    def __init__(self, spark, pages_dir, ref, work, tracer, stats, plant=None):
        self.spark = spark
        self.df = spark.read.parquet(pages_dir)
        self.ref = ref
        self.work = work
        self.tracer = tracer
        self.stats = stats
        self.plant = plant
        self.phase_stats: dict[str, list[dict]] = {}
        self.excluded_s = 0.0  # metric reading inside an iteration, not timed

    @property
    def traced(self) -> bool:
        return self.stats is not None

    @contextlib.contextmanager
    def phase(self, name: str):
        """One phase of a pipeline.  Traced, it is a span and a Spark job
        group whose metrics are read when it ends; the read is not timed."""
        if not self.traced:
            yield
            return
        group = f"{self.tracer.run_id}.{name}.{len(self.tracer.spans)}"
        with self.tracer.span(f"phase.{name}") as span, self.stats.group(group):
            yield
        t0 = time.perf_counter()
        rec = self.stats.read(group)
        rec["wall_s"] = span["end"] - span["start"]
        self.phase_stats.setdefault(name, []).append(rec)
        self.excluded_s += time.perf_counter() - t0


def _two_phase(ctx: Ctx, partials, merge) -> dict:
    """Collect ``merge(partials)``: one action untraced; traced, the
    partials and the merge are separate actions (a local checkpoint cuts
    the lineage, so the merge's plan holds no partials node)."""
    if not ctx.traced:
        return {"rows": merge(partials).collect()}
    with ctx.phase("partials"):
        partials = partials.localCheckpoint(eager=True)
        rows_in = partials.count()
    with ctx.phase("merge"):
        rows = merge(partials).collect()
    return {"rows": rows, "merge_rows_in": rows_in}


def _planted(rows: list, plant: str | None) -> list:
    """The self-test's planted fault: lose one output row."""
    return rows[1:] if plant == "drop_digest" else rows


class PagesExtractTD:
    name = "pages_extract_td"
    keys = ["lang"]

    def narrow(self, df):
        return df.select("lang", "html")

    def run(self, ctx: Ctx) -> dict:
        from sketchlib.data.extract import extract_len_series
        from sketchlib.spark.tdigest_ops import tdigest_merge, tdigest_partials

        acc = ctx.spark.sparkContext.accumulator(0.0) if ctx.traced else None

        def value_fn(pdf):
            if acc is None:
                return extract_len_series(pdf["html"])
            t0 = time.perf_counter()
            lens = extract_len_series(pdf["html"])
            acc.add(time.perf_counter() - t0)
            return lens

        partials = tdigest_partials(ctx.df, self.keys, None, delta=TD_DELTA,
                                    value_fn=value_fn, input_cols=["html"])
        out = _two_phase(ctx, partials, lambda p: tdigest_merge(p, self.keys, delta=TD_DELTA))
        if acc is not None:
            # seconds the Python workers spent in extract_len_series
            out["extract_s"] = acc.value
        out["rows"] = _planted([(r["lang"], bytes(r["digest"])) for r in out["rows"]],
                               ctx.plant)
        return out

    def check(self, ctx: Ctx, out: dict) -> dict:
        from sketchlib.tdigest.core import MergingDigest

        digests = {k: MergingDigest.deserialize(b, delta=TD_DELTA) for k, b in out["rows"]}
        acc = {"td_max_rank_error": check_digests(digests, ctx.ref.lang, "tdigest")}
        acc.update(_digest_stats([b for _, b in out["rows"]]))
        return acc


class HostProfile:
    name = "host_profile"
    keys = ["host"]
    specs = [
        {"name": "td_len", "col": "len", "kind": "tdigest", "params": {"delta": TD_DELTA}},
        {"name": "kll_len", "col": "len", "kind": "kll", "params": {}},
        {"name": "hll_url", "col": "url", "kind": "hll", "params": {"p": HLL_P}},
        {"name": "cms_lang", "col": "lang", "kind": "cms", "params": CMS_PARAMS},
    ]

    def source(self, df):
        return df.select(F.regexp_extract("url", HOST_REGEX, 1).alias("host"),
                         "url", "lang", F.length("text").alias("len"))

    def narrow(self, df):
        # the projection profile_partials sends to Python for these specs
        src = self.source(df)
        return src.select(
            "host", F.col("len").cast("double").alias("_v0"),
            F.col("len").cast("double").alias("_v1"),
            F.xxhash64("url").alias("_v2"), F.col("url").isNull().alias("_m2"),
            F.xxhash64("lang").alias("_v3"), F.col("lang").isNull().alias("_m3"))

    def run(self, ctx: Ctx) -> dict:
        from sketchlib.spark.sketch_ops import profile_merge, profile_partials

        partials = profile_partials(self.source(ctx.df), self.keys, self.specs)
        out = _two_phase(ctx, partials, lambda p: profile_merge(p, self.keys, self.specs))
        out["rows"] = _planted([(r["host"], r["sk_name"], bytes(r["sketch"]))
                                for r in out["rows"]], ctx.plant)
        return out

    def check(self, ctx: Ctx, out: dict) -> dict:
        from sketchlib.cms import CMS
        from sketchlib.hll import HLL
        from sketchlib.kll import KLL
        from sketchlib.tdigest.core import MergingDigest

        by = {s["name"]: {} for s in self.specs}
        for host, name, blob in out["rows"]:
            by[name][host] = blob
        exact = ctx.ref.host
        for name, got in by.items():
            if set(got) != set(exact):
                raise CheckFailed(f"{name}: key set differs from the reference "
                                  f"({len(got)} vs {len(exact)} hosts)")
        td = {h: MergingDigest.deserialize(b, delta=TD_DELTA) for h, b in by["td_len"].items()}
        acc = {"td_max_rank_error": check_digests(td, exact, "td_len")}
        kll_err = 0.0
        for h, b in by["kll_len"].items():
            s = KLL.deserialize(b)
            weight = sum(len(buf) << lvl for lvl, buf in enumerate(s.levels))
            if s.n != len(exact[h]) or weight != len(exact[h]):
                raise CheckFailed(f"kll_len[{h}]: weight {s.n}/{weight} != {len(exact[h])}")
            if s.n >= METRIC_MIN_ROWS:
                kll_err = max(kll_err, rank_error(exact[h], s.quantile(PS), PS))
        hll_err = 0.0
        for h, b in by["hll_url"].items():
            want = ctx.ref.host_distinct[h]
            est = HLL.deserialize(b).estimate()
            if abs(est - want) > HLL_SIGMAS * HLL_STD_ERR * want + HLL_SLACK:
                raise CheckFailed(f"hll_url[{h}]: estimate {est:.1f} for {want} urls")
            err = abs(est - want) / want
            if want >= METRIC_MIN_ROWS:
                hll_err = max(hll_err, err)
        for h, b in by["cms_lang"].items():
            if CMS.deserialize(b).total != len(exact[h]):
                raise CheckFailed(f"cms_lang[{h}]: total != {len(exact[h])} rows")
        acc["kll_max_rank_error"] = kll_err
        acc["hll_max_rel_error"] = hll_err
        acc.update(_digest_stats(list(by["td_len"].values())))
        return acc


class CkptResumeTD:
    """A checkpointed t-digest build interrupted after half its parts,
    resumed by a fresh checkpointer, finalized, and compared byte for byte
    with an uninterrupted run."""

    def source(self, df):
        return df.select("url", "lang", F.length("text").alias("len"))

    def _checkpointer(self, ctx: Ctx, path: str):
        from sketchlib.spark.checkpoint import TDigestCheckpointer

        return TDigestCheckpointer(ctx.spark, path, keys=["lang"], value_col="len",
                                   id_col="url", n_parts=CKPT_PARTS, delta=TD_DELTA)

    def _path(self, ctx: Ctx, tag: str) -> str:
        path = os.path.join(ctx.work, "ckpt", tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def prepare(self, ctx: Ctx) -> None:
        """The uninterrupted run every resumed run must match byte for byte."""
        c = self._checkpointer(ctx, self._path(ctx, "baseline"))
        src = self.source(ctx.df)
        if c.run(src) != CKPT_PARTS:
            raise CheckFailed("uninterrupted checkpointer run did not cover every part")
        self.baseline = {r["key"]: bytes(r["digest"]) for r in c.finalize().collect()}
        shutil.rmtree(c.ckpt_path, ignore_errors=True)

    def run(self, ctx: Ctx) -> dict:
        path = self._path(ctx, "run")
        src = self.source(ctx.df)
        with ctx.phase("run"):
            first = self._checkpointer(ctx, path).run(src, fail_after_parts=CKPT_FAIL_AFTER)
        resumed_c = self._checkpointer(ctx, path)
        with ctx.phase("resume"):
            resumed = resumed_c.run(src)
        with ctx.phase("finalize"):
            rows = resumed_c.finalize().collect()
        rows = _planted([(r["key"], bytes(r["digest"])) for r in rows], ctx.plant)
        return {"rows": rows, "parts_first": first, "parts_resumed": resumed, "path": path}

    def check(self, ctx: Ctx, out: dict) -> dict:
        import pyarrow.parquet as pq

        from sketchlib.tdigest.core import MergingDigest

        path = out.pop("path")
        table = pq.read_table(path, columns=["run_id", "part_id"])
        bytes_written = sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(path) for f in fs
                            if f.endswith(".parquet"))
        shutil.rmtree(path, ignore_errors=True)
        parts: dict[str, set] = {}
        for run_id, part in zip(table["run_id"].to_pylist(), table["part_id"].to_pylist()):
            parts.setdefault(run_id, set()).add(part)
        first, resumed = out["parts_first"], out["parts_resumed"]
        if (first != CKPT_FAIL_AFTER or first + resumed != CKPT_PARTS
                or len(parts) != 2 or sum(map(len, parts.values())) != CKPT_PARTS
                or set.union(*parts.values()) != set(range(CKPT_PARTS))):
            raise CheckFailed(f"checkpoint parts: first={first} resumed={resumed} "
                              f"runs={ {k: len(v) for k, v in parts.items()} }")
        got = dict(out["rows"])
        if got != self.baseline:
            raise CheckFailed("resumed digests differ from the uninterrupted run")
        digests = {k: MergingDigest.deserialize(b, delta=TD_DELTA) for k, b in got.items()}
        acc = {"td_max_rank_error": check_digests(digests, ctx.ref.lang, "tdigest")}
        acc.update(_digest_stats(list(got.values())))
        acc.update({"rows_written": float(table.num_rows),
                    "bytes_written": float(bytes_written)})
        return acc


WORKLOADS = {w.name: w for w in (PagesExtractTD, HostProfile)}
