#!/usr/bin/env python3
"""Layered sketch-build benchmark for sketchlib.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root (``python3 perfbench/selftest.py`` checks the
benchmark itself on a tiny input).  Workloads are in ``workloads.py``.

The input is ``ROWS`` seeded synthetic pages
(``sketchlib.data.gen_pages.gen_chunk``), generated once per (seed, rows)
into ``.perfbench_work/`` with an exact DuckDB reference.  Set-up (get_spark,
ensure_on_workers and a first Python-worker job) is timed once per run,
from a cold start as a user's first get_spark pays it: the run's process
launches its own JVM and zips its own copy of sketchlib.  After an
untimed warm-up, the load is a closed loop on ``local[nproc]``: one driver
thread submits one pipeline at a time for ``--seconds`` seconds, and every
output is checked against the reference.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
workload half untraced and half traced (a span and a Spark job group per
phase, each phase its own action), runs the checkpoint layer once, times
the kernels and the Python boundary on the workload's own input, reruns
the workload on ``local[1]``, and prints the per-layer metrics.  Either way the last stdout line is one JSON object,
``{"correct", "attempted", "failed", "metrics"}``, and the full run record
(iterations, spans, self times) goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

from observe import tree_pids, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ROWS = 200_000
#: Spark settings of every run on top of sketchlib's get_spark defaults.
#: Under get_spark's 8 GB default the JVM heap grows toward the cap when
#: G1 happens to expand it, which moved peak_rss_mb by a quarter between
#: identical runs on a 4-core host.  A 2 GB heap holds these inputs with
#: room to spare, and ``JVM_HEAP_OPTS`` commits and touches all of it at
#: start, so the JVM's share of peak_rss_mb is fixed and the part that
#: moves is the Python workers' and the off-heap buffers'.
SPARK_EXTRA = {"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"}
JVM_HEAP_OPTS = "-Xms2g -XX:+AlwaysPreTouch"
WARMUP_ITERATIONS = 6
WARMUP_S = 10.0

#: end-to-end metrics with their units; accuracy is checked on every
#: iteration and printed, but varies with the seed too much to be gated
E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}
ACCURACY_UNITS = {"td_max_rank_error": "ratio", "kll_max_rank_error": "ratio",
                  "hll_max_rel_error": "ratio"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def isolate_paths() -> dict:
    """Point every scratch location of Python, Spark and the JVM into
    ``WORK`` so the run writes nothing outside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    no_perf = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " " + no_perf).strip()
    return {
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} {no_perf} {JVM_HEAP_OPTS}",
    }


class Session:
    """Starts Spark the way a sketchlib user does.  The first ``start``
    launches the JVM; a later one (the traced run's ``local[1]`` rerun)
    restarts the SparkContext in the same JVM."""

    def __init__(self, extra: dict, tracer) -> None:
        self.extra = extra
        self.tracer = tracer
        self.spark = None
        # stopped sessions stay referenced so a new SparkContext never
        # reuses a stopped one's id(), which ensure_on_workers keys on
        self._retired: list = []

    def start(self, cpus: int) -> dict:
        from sketchlib.spark.session import get_spark
        from sketchlib.spark.shipping import ensure_on_workers

        if self.spark is not None:
            self.spark.stop()
            self._retired.append(self.spark)
        t = {}
        with self.tracer.span("setup", cpus=cpus):
            with self.tracer.span("session.get_spark"):
                t0 = time.perf_counter()
                self.spark = get_spark(app="perfbench", cpus=cpus, extra=self.extra)
                t["get_spark_s"] = time.perf_counter() - t0
            with self.tracer.span("session.ship"):
                t0 = time.perf_counter()
                ensure_on_workers(self.spark)
                t["ship_s"] = time.perf_counter() - t0
            with self.tracer.span("session.warmup"):
                # first Python-worker fork and Arrow init on every task slot
                t0 = time.perf_counter()
                (self.spark.range(cpus * 64, numPartitions=cpus)
                 .mapInPandas(lambda it: it, "id long").collect())
                t["warmup_s"] = time.perf_counter() - t0
        t["setup_s"] = t["get_spark_s"] + t["ship_s"] + t["warmup_s"]
        return t

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait until no child process
        of this run is left."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in tree_pids(os.getpid())[1:]:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)


class Runner:
    """Runs checked iterations of one workload and keeps their records."""

    def __init__(self, rows: int, pss) -> None:
        self.rows = rows
        self.pss = pss
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def iterate(self, workload, ctx, sample_memory: bool = False) -> dict:
        self.attempted += 1
        ctx.excluded_s = 0.0
        rec = {"ok": False, "docs_per_s": 0.0}
        try:
            cpu0 = tree_cpu_s() if ctx.traced else 0.0
            with ctx.tracer.span("iteration"):
                t0 = time.perf_counter()
                if sample_memory:
                    with self.pss.sampling():
                        out = workload.run(ctx)
                else:
                    out = workload.run(ctx)
                rec["wall_s"] = time.perf_counter() - t0 - ctx.excluded_s
            if ctx.traced:
                rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["out"] = out
            rec["acc"] = workload.check(ctx, out)
            rec["ok"] = True
            rec["docs_per_s"] = self.rows / rec["wall_s"]
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
        return rec

    def warm_up(self, workload, ctx) -> None:
        """Untimed, checked iterations until caches fill and the JVM's JIT
        settles: on a 4-core host, pages_extract_td's iteration time still
        fell by about a fifth over the first ten iterations of a fresh JVM."""
        deadline = time.perf_counter() + WARMUP_S
        for _ in range(WARMUP_ITERATIONS):
            self.iterate(workload, ctx)
            if time.perf_counter() >= deadline:
                break

    def run_for(self, workload, ctx, seconds: float) -> list[dict]:
        recs = []
        deadline = time.perf_counter() + seconds
        while not recs or time.perf_counter() < deadline:
            recs.append(self.iterate(workload, ctx, sample_memory=True))
        return recs


def _median(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def _summary(rec: dict) -> dict:
    return {k: v for k, v in rec.items() if k != "out"}


def accuracy(recs: list[dict]) -> dict:
    """Worst accuracy figure over the checked iterations."""
    out: dict = {}
    for r in recs:
        for k, v in r.get("acc", {}).items():
            out[k] = max(out.get(k, v), v)
    return out


def end_to_end(recs, setup, pss) -> dict:
    values = {
        "docs_per_s": _median(recs, "docs_per_s"),
        "setup_s": setup["setup_s"],
        "peak_rss_mb": statistics.median(pss.window_peaks_mb),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--rows", type=int, default=ROWS, help=argparse.SUPPRESS)
    ap.add_argument("--plant", choices=("drop_digest",), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sketchlib  # noqa: F401
    except ImportError as e:
        print(f"perfbench: sketchlib is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from inputs import ensure_inputs
    from observe import PssSampler, SparkStats, Tracer, host_record
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    extra = {**isolate_paths(), **SPARK_EXTRA}
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    host = host_record(nproc)
    log("host record done")
    pages, ref, inputs = ensure_inputs(WORK, args.seed, args.rows, nproc)
    log(f"inputs ready: {inputs}")
    workload = WORKLOADS[args.workload]()
    off = Tracer(run_id, enabled=False)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    session = Session(extra, tracer)
    record = {"run_id": run_id, "workload": workload.name, "host": host,
              "inputs": inputs, "seconds": args.seconds, "trace": args.trace}

    with PssSampler() as pss, contextlib.closing(session):
        runner = Runner(args.rows, pss)
        setup = session.start(nproc)
        log(f"set-up done: {setup}")
        ctx = Ctx(session.spark, pages, ref, WORK, off, None, args.plant)
        runner.warm_up(workload, ctx)
        log("warm-up done")
        if not args.trace:
            recs = runner.run_for(workload, ctx, args.seconds)
            metrics = end_to_end(recs, setup, pss)
        else:
            import layers

            recs = runner.run_for(workload, ctx, args.seconds / 2)
            tctx = Ctx(session.spark, pages, ref, WORK, tracer, SparkStats(session.spark),
                       args.plant)
            traced = runner.run_for(workload, tctx, args.seconds / 2)
            metrics, detail = layers.per_layer(
                workload, runner, session, tctx, recs, traced, setup, nproc,
                pages, ref, WORK)
            record["detail"] = detail
            record["traced_iterations"] = [_summary(r) for r in traced]
            record["spans"] = tracer.spans
            record["self_time_s"] = tracer.self_times()
        log("measured")
    log("session closed")

    failed = runner.failed
    record.update({"metrics": metrics, "accuracy": accuracy(recs),
                   "peak_pss": pss.peak_detail,
                   "attempted": runner.attempted, "failed": failed,
                   "errors": runner.errors,
                   "iterations": [_summary(r) for r in recs]})
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record_path = os.path.join(WORK, "results", f"{run_id}-trace{args.trace}.json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    rates = sorted(r["docs_per_s"] for r in recs)
    print(f"# {workload.name}: seed={args.seed} rows={args.rows} nproc={nproc} "
          f"datagen_s={inputs['datagen_s']:.2f} "
          f"cpu_probe_ms={host['calibration'].get('cpu_probe_ms')} peak_pss={pss.peak_detail}")
    print(f"# run record (iterations, spans, self times): {os.path.relpath(record_path)}")
    print(f"# docs_per_s over {len(rates)} iterations: median={statistics.median(rates):.1f} "
          f"min={rates[0]:.1f} max={rates[-1]:.1f}; fewer than 20 samples, so no "
          "percentile with ten samples beyond it is reported")
    print(f"error_rate = {failed / runner.attempted:.6g} ratio ({failed}/{runner.attempted})")
    for name, v in accuracy(recs).items():
        if name in ACCURACY_UNITS:
            print(f"{name} = {v:.6g} {ACCURACY_UNITS[name]}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
