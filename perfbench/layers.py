"""The per-layer table of a traced run.

Layers are sketchlib's modules: ``session``, ``extract``, ``tdigest``, the
sibling sketches (``hll``, ``kll``, ``cms``), the Python ``boundary`` of
the partial builders, the two-phase ``plan`` (``partials`` / ``merge``),
the ``checkpoint`` write path, and the ``spark`` engine underneath.
Every layer is measured on every workload's input; the workload decides
how much of the end-to-end time each layer takes:

- ``pages_extract_td``: extraction self time blocks the result, so
  ``extract.ns_per_doc`` should move ``docs_per_s`` there and nowhere else;
  ``extract.core_share`` says how much of the run's core time it takes.
- ``host_profile``: ``partials.python_run_s`` (per-key dispatch over about
  1,000 hosts per batch) and ``plan.merge_s`` block it;
  ``partials.python_core_share`` and ``plan.merge_share`` give their shares.

The checkpoint layer (``CkptResumeTD``: the row-level shuffle and parquet
writes of ``TDigestCheckpointer``) is run once per traced run on the
workload's input.
"""

from __future__ import annotations

import statistics

from kernels import boundary, kernel_batch, kernels

PARTIAL_PHASES = ("partials", "run", "resume")
MERGE_PHASES = ("merge", "finalize")
SPARK_SUMS = ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "tasks", "executor_run_s", "executor_cpu_s")

UNITS = {
    "session.get_spark_s": "s", "session.ship_s": "s", "session.warmup_s": "s",
    "extract.ns_per_doc": "ns", "extract.html_bytes_per_doc": "bytes",
    "extract.self_s": "s", "extract.core_share": "ratio",
    "tdigest.update_ns_per_value": "ns", "tdigest.update_call_us": "us",
    "tdigest.merge_bytes_us": "us", "tdigest.compress_us": "us",
    "tdigest.serialize_us": "us", "tdigest.quantile_us": "us",
    "tdigest.bytes_per_digest": "bytes", "tdigest.centroids_per_digest": "count",
    **{f"{f}.{m}": u for f in ("hll", "kll", "cms") for m, u in (
        ("update_ns_per_value", "ns"), ("update_call_us", "us"),
        ("merge_us", "us"), ("bytes", "bytes"))},
    "boundary.to_pandas_ms_per_batch": "ms", "boundary.group_ms_per_batch": "ms",
    "partials.python_run_s": "s", "partials.python_start_init_s": "s",
    "partials.arrow_sent_bytes": "bytes", "partials.arrow_returned_bytes": "bytes",
    "partials.rows_out": "count", "partials.python_core_share": "ratio",
    "plan.partials_s": "s", "plan.merge_s": "s",
    "plan.partials_share": "ratio", "plan.merge_share": "ratio",
    "merge.python_run_s": "s", "merge.rows_in": "count",
    "checkpoint.run_s": "s", "checkpoint.resume_s": "s", "checkpoint.finalize_s": "s",
    "checkpoint.parts_first": "count", "checkpoint.parts_resumed": "count",
    "checkpoint.rows_written": "count", "checkpoint.bytes_written": "bytes",
    "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio", "spark.task_skew": "ratio",
    "trace.overhead": "ratio", "scaling.eff_1_to_n": "ratio",
    "accuracy.td_max_rank_error": "ratio",
}


def _med(xs) -> float:
    return float(statistics.median(xs))


def _per_iteration(ctx, phases) -> list[list[dict]]:
    """Phase records of ``ctx`` regrouped per iteration."""
    lists = [ctx.phase_stats[p] for p in phases if p in ctx.phase_stats]
    return [list(recs) for recs in zip(*lists)]


def _phase_metrics(ctx, recs: list[dict], nproc: int, core_s: float) -> dict:
    """Plan, boundary and engine metrics of the traced iterations ``recs``;
    ``spark.cpu_util`` is the whole process tree's CPU (driver, JVM and
    Python workers) over wall time x nproc.  ``plan.*_share`` put a phase's
    wall time over its traced iteration's; the core shares put Python
    worker seconds over ``core_s``, the untraced iteration's core time
    (wall x nproc), since tracing adds an action per phase."""
    iters = _per_iteration(ctx, list(ctx.phase_stats))
    part = _per_iteration(ctx, [p for p in PARTIAL_PHASES if p in ctx.phase_stats])
    merge = _per_iteration(ctx, [p for p in MERGE_PHASES if p in ctx.phase_stats])
    py = lambda recs, k: sum(r["python"][k] for r in recs)  # noqa: E731
    out = {
        "plan.partials_s": _med(sum(r["wall_s"] for r in it) for it in part),
        "plan.merge_s": _med(sum(r["wall_s"] for r in it) for it in merge),
        "partials.python_run_s": _med(py(it, "python_run_s") for it in part),
        "partials.python_start_init_s": _med(
            py(it, "python_start_s") + py(it, "python_init_s") for it in part),
        "partials.arrow_sent_bytes": _med(py(it, "arrow_sent_bytes") for it in part),
        "partials.arrow_returned_bytes": _med(py(it, "arrow_returned_bytes") for it in part),
        "partials.rows_out": _med(py(it, "rows_out") for it in part),
        "merge.python_run_s": _med(py(it, "python_run_s") for it in merge),
    }
    for k in SPARK_SUMS:
        out[f"spark.{k}"] = _med(sum(r[k] for r in it) for it in iters)
    out["spark.cpu_util"] = _med(r["cpu_s"] / (r["wall_s"] * nproc) for r in recs)
    walls = [r["wall_s"] for r in recs]
    out["plan.partials_share"] = _med(
        sum(r["wall_s"] for r in it) / w for it, w in zip(part, walls))
    out["plan.merge_share"] = _med(
        sum(r["wall_s"] for r in it) / w for it, w in zip(merge, walls))
    out["partials.python_core_share"] = out["partials.python_run_s"] / core_s
    extract = [r["out"]["extract_s"] for r in recs if "extract_s" in r["out"]]
    out["extract.self_s"] = _med(extract) if extract else 0.0
    out["extract.core_share"] = out["extract.self_s"] / core_s
    out["spark.task_skew"] = _med(
        max(it, key=lambda r: r["largest_stage_run_s"])["task_skew"] for it in iters)
    return out


def _checkpoint_metrics(ctx, recs: list[dict]) -> dict:
    ok = [r for r in recs if r["ok"]]
    walls = {p: _med(r["wall_s"] for r in ctx.phase_stats[p])
             for p in ("run", "resume", "finalize")}
    return {
        "checkpoint.run_s": walls["run"], "checkpoint.resume_s": walls["resume"],
        "checkpoint.finalize_s": walls["finalize"],
        "checkpoint.parts_first": _med(r["out"]["parts_first"] for r in ok),
        "checkpoint.parts_resumed": _med(r["out"]["parts_resumed"] for r in ok),
        "checkpoint.rows_written": _med(r["acc"]["rows_written"] for r in ok),
        "checkpoint.bytes_written": _med(r["acc"]["bytes_written"] for r in ok),
    }


def arrow_batch_rows(df, rows: int) -> int:
    """Rows in one Arrow batch a Python worker gets from a scan of ``df``
    (``rows`` rows): rows per input partition, capped at Spark's
    maxRecordsPerBatch."""
    cap = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return min(cap, -(-rows // df.rdd.getNumPartitions()))


def per_layer(workload, runner, session, tctx, untraced, traced, setup, nproc,
              pages, ref, work) -> tuple[dict, dict]:
    from observe import SparkStats, Tracer
    from workloads import CkptResumeTD, Ctx

    ok = [r for r in traced if r["ok"]]
    if not ok:
        raise RuntimeError("no traced iteration passed its checks")
    m = {f"session.{k}": setup[k] for k in ("get_spark_s", "ship_s", "warmup_s")}
    n_rate = _med(r["docs_per_s"] for r in untraced)
    m.update(_phase_metrics(tctx, ok, nproc, nproc * runner.rows / n_rate))
    m["merge.rows_in"] = _med(r["out"]["merge_rows_in"] for r in ok)
    m["tdigest.bytes_per_digest"] = _med(r["acc"]["bytes_per_digest"] for r in ok)
    m["tdigest.centroids_per_digest"] = _med(r["acc"]["centroids_per_digest"] for r in ok)
    m["accuracy.td_max_rank_error"] = max(r["acc"]["td_max_rank_error"] for r in ok)

    probe = CkptResumeTD()
    pctx = Ctx(session.spark, pages, ref, work, Tracer(tctx.tracer.run_id, True),
               SparkStats(session.spark))
    probe.prepare(pctx)
    m.update(_checkpoint_metrics(pctx, [runner.iterate(probe, pctx)]))

    bnd, group = boundary(workload.narrow(tctx.df), workload.keys,
                          arrow_batch_rows(tctx.df, runner.rows))
    kern = kernels(kernel_batch(tctx.df), group)
    m["boundary.to_pandas_ms_per_batch"] = bnd["to_pandas_ms_per_batch"]["median"] * 1e3
    m["boundary.group_ms_per_batch"] = bnd["group_ms_per_batch"]["median"] * 1e3
    for k, v in kern.items():
        m[k] = v["median"] if isinstance(v, dict) else v

    m["trace.overhead"] = n_rate / _med(r["docs_per_s"] for r in traced)
    session.start(1)
    one = Ctx(session.spark, pages, ref, work, Tracer(tctx.tracer.run_id, False), None)
    runner.iterate(workload, one)
    single = runner.iterate(workload, one)
    m["scaling.eff_1_to_n"] = n_rate / (nproc * single["docs_per_s"]) \
        if single["ok"] else 0.0

    metrics = {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}
    detail = {"boundary": bnd, "median_group_size": group, "kernels": kern,
              "phase_stats": tctx.phase_stats, "local1_docs_per_s": single["docs_per_s"]}
    return metrics, detail
