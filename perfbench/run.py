"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,engine}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It generates the workload's inputs from
the seed, sets up a local[4] Spark session twice with the program's
``session.get_spark`` (reporting the median as ``setup_s``), then runs
the workload's closed loop until ``--seconds`` have passed (at least one
iteration), checking every iteration's outputs outside the timed region. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run-context record.

End-to-end metrics (untraced):
- ``setup_s``: median of the two set-ups, each in a fresh JVM: JVM
  launch, session, runtime confs, package ship. Input generation is
  excluded; the Python worker pool starts inside the first iteration, as
  it does in a production run;
- ``wall_s``: median wall of one iteration's timed calls;
- ``cpu_s``: CPU seconds of the driver, the JVM and the Python workers
  (not the S3 stand-in) in the timed calls, per iteration.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit, except ``trace-<workload>.jsonl`` there (the spans
of the last traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("dataworks_audit_data_ingest_spark/__init__.py", "bench.py",
            "tools/check_oracle.py")

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

# span layer (the program's module) -> per-layer self-time metric
SELF_KEYS = {
    "ingest.pipeline": "self.ingest_pipeline_s",
    "ingest.watermark": "self.ingest_watermark_s",
    "streaming.jobs": "self.streaming_jobs_s",
    "queries": "self.queries_s",
    "incremental.joinview_cdc": "self.incremental_s",
    "incremental.rollup_cdc": "self.incremental_s",
}


def per_layer_names(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric with its unit, in output order."""
    names = {
        "fail_ratio": "ratio",
        "ingest.days_mb_s": "MB/s", "ingest.days_files_s": "files/s",
        "ingest.resume_s": "s", "ingest.bulk_mb_s": "MB/s",
        "ingest.bulk_files_s": "files/s", "queries.pass_s": "s",
        "cdc.batch_s_p50": "s", "cdc.batch_s_p90": "s", "cdc.rows_s": "rows/s",
        "scan.list_s": "s", "scan.files_listed": "count",
        "scan.files_selected": "count", "scan.select_ratio": "ratio",
        "pipeline.day_s_p50": "s", "pipeline.day_s_p90": "s",
        "pipeline.jobs_per_day": "count",
        "crypto.mb_s_1core": "MB/s", "crypto.zlib_share": "ratio",
        "crypto.aes_share": "ratio", "crypto.rsa_share": "ratio",
        "crypto.rsa_wrap_us": "us", "crypto.compress_ratio": "ratio",
        "arrow.mb_to_python": "MB", "arrow.mb_from_python": "MB",
        "pyworker.boot_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
        "watermark.commits": "count", "watermark.commit_ms_p50": "ms",
        "s3.puts": "count", "s3.put_mb": "MB", "s3.put_retries": "count",
        "s3.put_concurrency_max": "count", "s3.server_cpu_s": "s",
        "stream.batches": "count", "stream.add_batch_s": "s",
        "stream.latest_offset_s": "s", "stream.query_planning_s": "s",
        "stream.wal_commit_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_failures": "count", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.core_busy_ratio": "ratio",
        "spark.job_gap_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
        "query.build_s": "s", "query.plan_s": "s", "query.exec_s": "s",
    }
    for q in queries:
        names[f"query.{q}.s"] = "s"
        names[f"query.{q}.jobs"] = "count"
    names.update({
        "cdc.view_update_s_p50": "s", "cdc.rollup_update_s_p50": "s",
        "cdc.compact_s": "s", "cdc.jobs_per_batch": "count",
        "cdc.view_inserts": "count", "cdc.view_retractions": "count",
        "cdc.snap_rows": "count", "cdc.store_mb": "MB", "cdc.store_files": "count",
        "cdc.batch_s_slope": "s/batch",
        "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s",
        "proc.stub_cpu_s": "s", "proc.peak_rss_mb": "MB",
        "self.ingest_pipeline_s": "s", "self.ingest_watermark_s": "s",
        "self.streaming_jobs_s": "s", "self.queries_s": "s",
        "self.incremental_s": "s",
        "trace.overhead_pct": "%",
    })
    return names


class Meter:
    """Accumulates the process tree's CPU (per class) and peak RSS over
    the timed regions only, and remembers each region's interval."""

    def __init__(self, procmon):
        self.pm = procmon
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "stub": 0.0}
        self.peak_rss = 0
        self.windows: list[tuple[float, float]] = []
        self._t0 = self._c0 = None

    def __enter__(self):
        self._c0 = self.pm.totals()
        self.pm.reset_peak()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        c1 = self.pm.totals()
        for k in self.cpu:
            self.cpu[k] += c1[k] - self._c0[k]
        self.peak_rss = max(self.peak_rss, self.pm.peak_rss)
        self.windows.append((self._t0, t1))
        return False


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = _args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # on SIGTERM unwind through the finally blocks that stop Spark and the stub
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench import env

    work = env.prepare_dirs(ROOT, args.workload)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import env
    from perfbench.trace import Tracer, max_execution_id, max_job_id
    from perfbench.workloads import QUERIES, WORKLOADS, spark_layers

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    ctx = env.Context()
    w = WORKLOADS[args.workload](ROOT, work, args.seed)
    t_gen = time.perf_counter()
    w.generate()
    t_gen = time.perf_counter() - t_gen

    pm = env.ProcMon()
    pm.start()
    spark = None
    try:
        spark, setup_s, setup_times = env.setup(work)
        w._off = time.time() - time.perf_counter()
        meter = Meter(pm)
        w.meter = meter
        w.start(spark, pm)
        tracer = None
        if args.trace:
            tracer = Tracer()
            w.install_trace(tracer)
        job0, exec0 = max_job_id(spark), max_execution_id(spark)

        its = []
        t_loop = time.perf_counter()
        t_end = t_loop + args.seconds
        i = 0
        while True:
            if tracer is not None:
                tracer.iteration = i
            its.append(w.iterate(spark, i))
            i += 1
            if time.perf_counter() >= t_end:
                break
        walls = [x for it in its for x in it.wall]
        n_ops = max(1, len(walls))
        attempted = sum(it.attempted for it in its)
        failed = sum(it.failed for it in its)
        record = ctx.record(spark, setup_times)
        record.update({"workload": w.name, "seed": args.seed, "iterations": len(its),
                       "generate_s": round(t_gen, 3),
                       "iteration_walls": [round(sum(it.wall), 3) for it in its],
                       "loop_s": round(time.perf_counter() - t_loop, 3)})

        if not args.trace:
            wall_s = statistics.median(walls) if walls else 0.0
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "cpu_s": sum(meter.cpu[k] for k in ("driver", "jvm", "pyworker")) / n_ops,
            }
            units = END_TO_END
        else:
            tracer.uninstall()
            units = per_layer_names(list(QUERIES))
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(spark_layers(spark, w, job0, exec0, its, meter.windows,
                                        env.CORES))
            metrics.update(w.layers(spark, its))
            n = len(its)
            metrics.update({f"proc.{k}_cpu_s": v / n for k, v in meter.cpu.items()})
            metrics["proc.peak_rss_mb"] = meter.peak_rss / 2**20
            for layer, s in tracer.self_times().items():
                metrics[SELF_KEYS[layer]] += s / n
            metrics["fail_ratio"] = failed / max(1, attempted)
            # the wrappers' own cost: spans taken x cost of one wrapped call
            metrics["trace.overhead_pct"] = (
                100.0 * len(tracer.spans) * tracer.cost_per_span() / sum(walls))
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{w.name}.jsonl"))
            extra = set(metrics) - set(units)
            if extra:
                raise RuntimeError(f"undeclared per-layer metrics: {sorted(extra)}")

        print(json.dumps({"context": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        w.stop()
        env.stop(spark)
        pm.stop()


if __name__ == "__main__":
    sys.exit(main())
