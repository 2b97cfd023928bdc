"""The two workloads. Each is a closed loop with one caller: an iteration
runs, its outputs are checked outside the timed region, and the next one
starts. ``Workload.iterate`` returns an ``Iteration``; traced runs also
call ``layers`` at the end.

- ``ingest``: the paper's 12-hourly job, batch and streaming. A backfill
  ``run_ingest`` (no progress file) over dated dirs of small JSON-lines
  files and one non-dated dir; then a year of older single-file days and
  one new day land, and a second ``run_ingest`` resumes: the steady
  12-hourly run, which lists every dated dir and uploads one day; then
  ``start_encrypted_ingest_stream`` (availableNow, fresh checkpoint)
  drains a few days of large incompressible files.
- ``engine``: a seeded change feed on orders ⋈ customer applied batch by
  batch through the CDC view and the MIN/MAX rollup, compacting every few
  batches (``CdcBatches``), then one pass, in seeded order, over the
  members of ``bench.BENCH_QUERIES`` listed in ``QUERIES`` (``Queries``).

Both run cold, as production does: every 12-hourly run is a new process.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zlib
from dataclasses import dataclass, field

from . import checks, gen
from .trace import Tracer, jobs_after, python_worker_metrics, stage_totals

PKG = "dataworks_audit_data_ingest_spark"

# Scale of the generated fixture tables that both engine parts read: the
# driver's sf0.01 shape, the largest at which a cold engine iteration (CDC
# feed plus four queries) fits the run budget.
TABLE_SF = 0.01

# Ingest shape. The reference publishes no volumes (SURVEY.md §6), so each
# size is set by what it must show and by the run budget of one cold
# iteration of about 15 s:
# - backfill: 5 days x 30 files, enough days for per-day medians and
#   enough files per day that per-file costs (RSA wrap, PUT) lead;
# - resume: 365 history days of one single-record file each, a year of
#   dated dirs as the steady run sees after a year of service; listing
#   cost grows with dirs and files, not with bytes;
# - stream drain: 3 days x 2 files x 2 MiB of random bytes, 12 MiB of
#   zlib's worst case, so the bytes outweigh the per-file costs.
BACKFILL_DAYS, FILES_PER_DAY, HISTORY_DAYS = 5, 30, 365
BULK_DAYS, BULK_FILES, BULK_BYTES = 3, 2, 2 * 2**20

# CDC batches per iteration: the first inserts half of both sides, the
# second inserts the rest and deletes, updates and moves live rows. Each
# batch is about 10 s cold (some 50 Spark jobs), so two is what fits the
# run budget; the stores are compacted after every second batch, so the
# second batch carries the compaction of both stores.
CDC_BATCHES = 2
COMPACT_EVERY = 2


@dataclass
class Iteration:
    wall: list[float]  # seconds of each timed op in this iteration
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(0.9 * (len(s) - 1))))]


def _du(path: str) -> tuple[float, int]:
    size = n = 0
    for d, _, names in os.walk(path):
        for x in names:
            size += os.path.getsize(os.path.join(d, x))
            n += 1
    return size / 2**20, n


class Workload:
    """``meter`` (set by the runner) wraps every timed region; ``_off``
    maps Spark's epoch timestamps onto ``time.perf_counter``; ``_jobs``
    holds the traced iterations' Spark jobs once ``spark_layers`` ran."""

    name = ""
    tracer: Tracer | None = None

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed

    def generate(self) -> None: ...

    def start(self, spark, procmon) -> None: ...

    def iterate(self, spark, i: int) -> Iteration: ...

    def install_trace(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def layers(self, spark, its: list[Iteration]) -> dict[str, float]:
        return {}

    def stop(self) -> None: ...


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest"
    BUCKET = "audit-bench"
    KEY_ID = "cloudhsm:12345:67890"

    def __init__(self, root, work, seed, n_days=BACKFILL_DAYS, files_per_day=FILES_PER_DAY,
                 history_days=HISTORY_DAYS, bulk_days=BULK_DAYS, bulk_files=BULK_FILES,
                 bulk_bytes=BULK_BYTES):
        super().__init__(root, work, seed)
        self.shape = (n_days, files_per_day, history_days, bulk_days, bulk_files, bulk_bytes)
        self.stub_proc = None

    def generate(self) -> None:
        n_days, fpd, hdays, bdays, bfiles, bbytes = self.shape
        self.days = gen.ingest_days(os.path.join(self.work, "days"), self.seed, n_days, fpd,
                                    hdays)
        self.bulk = gen.bulk_days(os.path.join(self.work, "bulk"), self.seed, bdays,
                                  bfiles, bbytes)
        self.pub, self.priv = checks.rsa_keypair()

    def start(self, spark, procmon) -> None:
        self.stub_proc = subprocess.Popen(
            [sys.executable, os.path.join(self.root, "perfbench", "s3stub.py")],
            stdout=subprocess.PIPE, text=True)
        self.port = int(self.stub_proc.stdout.readline())
        procmon.stub_pid = self.stub_proc.pid
        self.stub = checks.Stub(self.port)

    def stop(self) -> None:
        if self.stub_proc is not None:
            self.stub_proc.terminate()
            self.stub_proc.wait(timeout=30)
            self.stub_proc.stdout.close()

    def _cfg(self, src: str, prefix: str, progress: str):
        from dataworks_audit_data_ingest_spark.ingest.pipeline import IngestConfig

        return IngestConfig(
            src_dir=src, s3_bucket=self.BUCKET, s3_prefix=prefix,
            hsm_key_id=self.KEY_ID, rsa_public_key_pem=self.pub,
            progress_file=progress, s3_endpoint_url=f"http://127.0.0.1:{self.port}",
            retries=3,
            extra_boto_kwargs={"aws_access_key_id": "bench",
                               "aws_secret_access_key": "bench"},
        )

    def iterate(self, spark, i: int) -> Iteration:
        from dataworks_audit_data_ingest_spark.ingest import pipeline
        from dataworks_audit_data_ingest_spark.streaming import jobs

        d = self.days
        self._park(d, out=True)
        progress = os.path.join(self.work, f"progress-{i}")
        cfg = self._cfg(d.src, f"days/{i}/", progress)
        bcfg = self._cfg(self.bulk.src, f"bulk/{i}/", progress + "-unused")
        ckpt = os.path.join(self.work, f"ckpt-{i}")
        stats0 = self.stub.stats()

        with self.meter:
            t0 = time.perf_counter()
            backfilled = pipeline.run_ingest(spark, cfg)
            t1 = time.perf_counter()
        self._park(d, out=False)
        with self.meter:
            t2 = time.perf_counter()
            resumed = pipeline.run_ingest(spark, cfg)
            t3 = time.perf_counter()
            q = jobs.start_encrypted_ingest_stream(spark, bcfg, ckpt)
            q.awaitTermination()
            t4 = time.perf_counter()
        progress_log = q.recentProgress
        err = q.exception()

        # --- checks (untimed) ---
        want = {rel: p for rel, p in d.files.items()}
        failed = checks.check_ingest(self.stub, self.BUCKET, f"days/{i}/", want,
                                     self.KEY_ID, self.priv)
        failed |= checks.check_ingest(self.stub, self.BUCKET, f"bulk/{i}/",
                                      self.bulk.files, self.KEY_ID, self.priv)
        n_ops = len(want) + len(self.bulk.files)
        day_objs = [str(x) for x in backfilled] + [str(x) for x in resumed]
        ok = (err is None and checks.check_progress(progress, d.held_day)
              and day_objs == d.days + [d.held_day])
        n_failed = n_ops if not ok else min(len(failed), n_ops)
        stats1 = self.stub.stats()
        self.stub.clear()
        shutil.rmtree(ckpt, ignore_errors=True)
        days_bytes = sum(os.path.getsize(p) for p in want.values())
        bulk_bytes = sum(os.path.getsize(p) for p in self.bulk.files.values())
        held = d.day_files(d.held_day)
        return Iteration(
            wall=[(t1 - t0) + (t3 - t2) + (t4 - t3)], attempted=n_ops, failed=n_failed,
            extra={
                "backfill_s": t1 - t0, "resume_s": t3 - t2, "drain_s": t4 - t3,
                "days_mb": (days_bytes - sum(os.path.getsize(want[r]) for r in held)) / 2**20,
                "days_files": len(want) - len(held), "held_files": len(held),
                "bulk_mb": bulk_bytes / 2**20, "bulk_files": len(self.bulk.files),
                "stream": [p for p in progress_log if p is not None],
                "s3": {k: stats1[k] - stats0[k] for k in ("puts", "put_bytes", "retries", "cpu_s")},
                "s3_conc": stats1["max_concurrency"],
            })

    @staticmethod
    def _park(d: gen.IngestSet, out: bool) -> None:
        """Move the held-back day and the history days out of the source
        tree (``out``) or into it."""
        moves = [(d.held, d.held_day)] + [(d.hist, h) for h in d.history]
        for parked, day in moves:
            a, b = os.path.join(d.src, day), os.path.join(parked, day)
            if out and os.path.exists(a):
                os.rename(a, b)
            elif not out:
                os.rename(b, a)

    def install_trace(self, tracer: Tracer) -> None:
        super().install_trace(tracer)
        tracer.wrap(f"{PKG}.ingest.pipeline", "run_ingest", "ingest.pipeline")
        tracer.wrap(f"{PKG}.ingest.pipeline", "encrypt_and_upload", "ingest.pipeline")
        tracer.wrap(f"{PKG}.ingest.pipeline", "find_start_date", "ingest.watermark")
        tracer.wrap(f"{PKG}.ingest.pipeline", "update_progress_file", "ingest.watermark")
        tracer.wrap(f"{PKG}.streaming.jobs", "start_encrypted_ingest_stream", "streaming.jobs")
        tracer.wrap(f"{PKG}.streaming.jobs", "encrypt_files", "ingest.pipeline")

    def layers(self, spark, its: list[Iteration]) -> dict[str, float]:
        tr = self.tracer
        jobs = self._jobs
        out: dict[str, float] = {}
        runs = tr.of("run_ingest")
        encs = tr.of("encrypt_and_upload")
        commits = tr.of("update_progress_file")
        # resume calls are the second run_ingest of each iteration
        resume = [r for k, r in enumerate(runs) if k % 2 == 1]
        list_s, listed, selected = [], [], []
        for r in resume:
            first = min((e.start for e in encs if r.start <= e.start <= r.end), default=r.end)
            list_s.append(first - r.start)
            lj = [j for j in jobs if r.start <= j.submitted - self._off <= first]
            st = stage_totals(spark, {s for j in lj for s in j.stages})
            listed.append(st["inputRecords"])
        for it in its:
            selected.append(it.extra["held_files"])
        out["scan.list_s"] = _median(list_s)
        out["scan.files_listed"] = _median(listed)
        out["scan.files_selected"] = _median(selected)
        out["scan.select_ratio"] = (out["scan.files_selected"] / out["scan.files_listed"]
                                    if out["scan.files_listed"] else 0.0)
        day_s, day_jobs = [], []
        for e in encs:
            c = next((c for c in commits if c.start >= e.start), None)
            if c is None:
                continue
            day_s.append(c.end - e.start)
            day_jobs.append(sum(1 for j in jobs if e.start <= j.submitted - self._off <= c.end))
        out["pipeline.day_s_p50"] = _median(day_s)
        out["pipeline.day_s_p90"] = _p90(day_s)
        out["pipeline.jobs_per_day"] = _median(day_jobs)
        n = len(its)
        out["watermark.commits"] = len(commits) / n
        out["watermark.commit_ms_p50"] = _median([1000 * (c.end - c.start) for c in commits])
        s3 = [it.extra["s3"] for it in its]
        out["s3.puts"] = sum(x["puts"] for x in s3) / n
        out["s3.put_mb"] = sum(x["put_bytes"] for x in s3) / n / 2**20
        out["s3.put_retries"] = sum(x["retries"] for x in s3) / n
        out["s3.put_concurrency_max"] = max(it.extra["s3_conc"] for it in its)
        out["s3.server_cpu_s"] = sum(x["cpu_s"] for x in s3) / n
        prog = [p for it in its for p in it.extra["stream"]]
        dur = lambda k: sum(p.durationMs.get(k, 0) for p in prog) / 1000 / n  # noqa: E731
        out["stream.batches"] = sum(1 for p in prog if p.numInputRows > 0) / n
        out["stream.add_batch_s"] = dur("addBatch")
        out["stream.latest_offset_s"] = dur("latestOffset")
        out["stream.query_planning_s"] = dur("queryPlanning")
        out["stream.wal_commit_s"] = dur("walCommit")
        ex = [it.extra for it in its]
        out["ingest.days_mb_s"] = _median([x["days_mb"] / x["backfill_s"] for x in ex])
        out["ingest.days_files_s"] = _median([x["days_files"] / x["backfill_s"] for x in ex])
        out["ingest.resume_s"] = _median([x["resume_s"] for x in ex])
        out["ingest.bulk_mb_s"] = _median([x["bulk_mb"] / x["drain_s"] for x in ex])
        out["ingest.bulk_files_s"] = _median([x["bulk_files"] / x["drain_s"] for x in ex])
        out.update(self._crypto())
        return out

    def _crypto(self) -> dict[str, float]:
        """1-core microbench of the envelope kernel on a sample of this
        workload's own files: zlib, AES-EAX and the rest (RSA wrap)."""
        from dataworks_audit_data_ingest_spark.ingest.crypto import (
            EnvelopeEncryptor, eax_encrypt)

        rng = random.Random(self.seed)
        paths = rng.sample(sorted(self.days.files.values()), 64) + sorted(self.bulk.files.values())[:2]
        blobs = []
        for p in paths:
            with open(p, "rb") as fh:
                blobs.append(fh.read())
        enc = EnvelopeEncryptor(self.pub, self.KEY_ID)
        key, nonce = os.urandom(16), os.urandom(16)
        t0 = time.perf_counter()
        comp = [zlib.compress(b) for b in blobs]
        t1 = time.perf_counter()
        for c in comp:
            eax_encrypt(key, nonce, c)
        t2 = time.perf_counter()
        for b in blobs:
            enc.encrypt_record(b)
        t3 = time.perf_counter()
        total = t3 - t2
        z, a = t1 - t0, t2 - t1
        rest = max(total - z - a, 0.0)
        return {
            "crypto.mb_s_1core": sum(map(len, blobs)) / 2**20 / total,
            "crypto.zlib_share": z / total,
            "crypto.aes_share": a / total,
            "crypto.rsa_share": rest / total,
            "crypto.rsa_wrap_us": 1e6 * rest / len(blobs),
            "crypto.compress_ratio": sum(map(len, comp)) / sum(map(len, blobs)),
        }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


# The headline queries the workload runs: the four that ROADMAP names as
# performance targets. A cold pass over all 23 (about 50 s on four cores)
# does not fit the benchmark's time budget.
QUERIES = (
    "q51_dedup_minhash_lsh", "q56_ann_ivf_topk", "q82_decontamination",
    "q89_ann_srp_lsh",
)


class Queries(Workload):
    name = "queries"

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "tables")
        gen.tables(self.sf_dir, self.seed, TABLE_SF)

    def start(self, spark, procmon) -> None:
        sys.path.insert(0, self.root)
        import bench

        from dataworks_audit_data_ingest_spark.queries import all_queries

        unknown = set(QUERIES) - set(bench.BENCH_QUERIES)
        if unknown:
            raise RuntimeError(f"not headline queries: {sorted(unknown)}")
        self.order = [q for q in bench.BENCH_QUERIES if q in QUERIES]
        random.Random(self.seed).shuffle(self.order)
        self.registry = all_queries()
        self.oracle = checks.oracle_module(self.root)
        self.con = self.oracle.duck_connection(self.sf_dir)

    def _pass(self, spark, results: dict, per: dict) -> None:
        tr = self.tracer
        for name in self.order:
            sp = tr.begin(name, "queries") if tr else None
            t0 = time.perf_counter()
            try:
                df = self.registry[name].fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                results[name] = (df, df.collect())
            except Exception as e:  # noqa: BLE001 — one failed query is a failed op
                print(f"perfbench: {name} raised {type(e).__name__}: {e}", file=sys.stderr)
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            if tr:
                tr.end(sp)
            per[name] = (t0, t1, t2)

    def iterate(self, spark, i: int) -> Iteration:
        results, per = {}, {}
        with self.meter:
            self._pass(spark, results, per)
        t_start, t_end = self.meter.windows[-1]
        failed = 0
        for name in self.order:
            if name not in results:
                failed += 1
                continue
            df, rows = results[name]
            rows = [tuple(r) for r in rows]
            try:
                ok = checks.check_query(self.oracle, self.con, self.registry[name].sql,
                                        df.schema, df.columns, rows)
            except Exception as e:  # noqa: BLE001 — an oracle error fails the op
                print(f"perfbench: {name} check raised {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: {name} differs from the oracle", file=sys.stderr)
                failed += 1
        plan_s = 0.0
        if self.tracer:
            for df, _ in results.values():
                phases = df._jdf.queryExecution().tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    ph = phases.get(k)  # a scala Option
                    if ph.isDefined():
                        plan_s += ph.get().durationMs() / 1000
        return Iteration(wall=[t_end - t_start], attempted=len(self.order), failed=failed,
                         extra={"per": per, "plan_s": plan_s})

    def layers(self, spark, its: list[Iteration]) -> dict[str, float]:
        out: dict[str, float] = {}
        n = len(its)
        out["query.build_s"] = sum(t1 - t0 for it in its for t0, t1, _ in it.extra["per"].values()) / n
        out["query.exec_s"] = sum(t2 - t1 for it in its for _, t1, t2 in it.extra["per"].values()) / n
        out["query.plan_s"] = sum(it.extra["plan_s"] for it in its) / n
        out["queries.pass_s"] = _median([it.wall[0] for it in its])
        for name in self.order:
            walls = [it.extra["per"][name] for it in its]
            out[f"query.{name}.s"] = _median([t2 - t0 for t0, _, t2 in walls])
            out[f"query.{name}.jobs"] = _median([
                sum(1 for j in self._jobs if t0 <= j.submitted - self._off <= t2)
                for t0, _, t2 in walls])
        return out


# ---------------------------------------------------------------------------
# CDC maintenance
# ---------------------------------------------------------------------------


class CdcBatches(Workload):
    name = "cdc_batches"
    GROUPS = ("c_mktsegment", "o_orderpriority")
    CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"

    def __init__(self, root, work, seed, n_orders=15_000, n_cust=1_500):
        super().__init__(root, work, seed)
        self.n_orders, self.n_cust = n_orders, n_cust

    _SCHEMAS = {
        "left_upserts": "o_orderkey bigint, c_custkey bigint, o_totalprice double, o_orderpriority string",
        "left_deletes": "c_custkey bigint, o_orderkey bigint",
        "right_upserts": "c_custkey bigint, c_mktsegment string",
        "right_deletes": "c_custkey bigint",
    }

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tdir = os.path.join(self.work, "tables")
        if not os.path.exists(tdir):  # the engine workload shares its tables
            gen.tables(tdir, self.seed, TABLE_SF)
        batches, fo, fc = gen.cdc_feed(tdir, self.seed, CDC_BATCHES,
                                       self.n_orders, self.n_cust)
        self.expected = checks.cdc_expected(fo, fc)
        self.feed_dir = os.path.join(self.work, "feed")
        self.n_rows = []
        types = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string()}
        self.present: list[set[str]] = []
        for b, batch in enumerate(batches):
            present = set()
            for leg, schema in self._SCHEMAS.items():
                rows = getattr(batch, leg)
                if not rows:
                    continue
                cols = [c.split() for c in schema.split(", ")]
                tbl = pa.table({c: pa.array([r[k] for r in rows], types[t])
                                for k, (c, t) in enumerate(cols)})
                d = os.path.join(self.feed_dir, f"b{b:04d}")
                os.makedirs(d, exist_ok=True)
                pq.write_table(tbl, os.path.join(d, f"{leg}.parquet"))
                present.add(leg)
            self.present.append(present)
            self.n_rows.append(batch.n_rows)

    def install_trace(self, tracer: Tracer) -> None:
        super().install_trace(tracer)
        for f in ("update_join_view_cdc", "read_join_view_cdc_delta", "read_join_view_cdc",
                  "compact_join_view_cdc"):
            tracer.wrap(f"{PKG}.incremental.joinview_cdc", f, "incremental.joinview_cdc")
        for f in ("update_cdc_rollup", "compact_cdc_rollup", "read_cdc_rollup"):
            tracer.wrap(f"{PKG}.incremental.rollup_cdc", f, "incremental.rollup_cdc")

    def _apply(self, spark, jv, rc, spec, root, store, b, bid, legs, counts, rolls):
        """One CDC batch: view update, signed feed → rollup, and the
        compaction of both stores every ``COMPACT_EVERY`` batches."""
        counts.append(jv.update_join_view_cdc(spark, root, bid, spec, **legs))
        feed = jv.read_join_view_cdc_delta(spark, root, bid)
        view = jv.read_join_view_cdc(spark, root)
        rolls.append(rc.update_cdc_rollup(spark, store, feed, view, bid,
                                          group_cols=self.GROUPS, value_expr=self.CENTS))
        if (b + 1) % COMPACT_EVERY == 0:
            jv.compact_join_view_cdc(spark, root, spec, exclude=(bid,))
            rc.compact_cdc_rollup(spark, store, self.GROUPS, exclude=(bid,))

    def iterate(self, spark, i: int) -> Iteration:
        from dataworks_audit_data_ingest_spark.incremental import joinview_cdc as jv
        from dataworks_audit_data_ingest_spark.incremental import rollup_cdc as rc
        from dataworks_audit_data_ingest_spark.incremental.joinview import JoinViewSpec

        spec = JoinViewSpec(key="c_custkey", left_id="o_orderkey", right_id="c_custkey",
                            n_buckets=8)
        base = os.path.join(self.work, f"cdc-{i}")
        root, store = f"{base}/view", f"{base}/rollup"
        walls, windows, counts, rolls = [], [], [], []
        err = None
        for b in range(CDC_BATCHES):
            bid = f"b{b:04d}"
            legs = {leg: spark.read.schema(self._SCHEMAS[leg]).parquet(
                        os.path.join(self.feed_dir, bid, f"{leg}.parquet"))
                    for leg in self.present[b]}
            try:
                with self.meter:
                    self._apply(spark, jv, rc, spec, root, store, b, bid, legs,
                                counts, rolls)
            except Exception as e:  # noqa: BLE001 — a raising batch is a failed op
                print(f"perfbench: cdc batch {bid} raised {type(e).__name__}: {e}",
                      file=sys.stderr)
                err = e
                break
            t0, t1 = self.meter.windows[-1]
            walls.append(t1 - t0)
            windows.append((t0, t1))
        ok = err is None
        if ok:
            got = sorted(
                tuple(r) for r in rc.read_cdc_rollup(spark, store, self.GROUPS)
                .select(*self.GROUPS, "n", "total", "vmin", "vmax").collect())
            ok = got == self.expected
            if not ok:
                print("perfbench: cdc rollup differs from the closed form", file=sys.stderr)
        mb, files = _du(base)
        shutil.rmtree(base, ignore_errors=True)
        return Iteration(
            wall=[sum(walls)], attempted=CDC_BATCHES,
            failed=0 if ok else CDC_BATCHES,
            extra={"batch_walls": walls, "windows": windows, "counts": counts, "rolls": rolls,
                   "store_mb": mb, "store_files": files,
                   "rows": sum(self.n_rows[: len(walls)])})

    def layers(self, spark, its: list[Iteration]) -> dict[str, float]:
        tr = self.tracer
        out: dict[str, float] = {}
        n = len(its)
        walls = [w for it in its for w in it.extra["batch_walls"]]
        dur = lambda name: [s.end - s.start for s in tr.of(name)]  # noqa: E731
        out["cdc.view_update_s_p50"] = _median(dur("update_join_view_cdc"))
        out["cdc.rollup_update_s_p50"] = _median(dur("update_cdc_rollup"))
        comp = dur("compact_join_view_cdc") + dur("compact_cdc_rollup")
        out["cdc.compact_s"] = sum(comp) / n
        in_batch = [j for j in self._jobs if any(
            a <= j.submitted - self._off <= b for it in its for a, b in it.extra["windows"])]
        out["cdc.jobs_per_batch"] = len(in_batch) / max(1, len(walls))
        out["cdc.view_inserts"] = sum(c["view_inserts"] for it in its for c in it.extra["counts"]) / n
        out["cdc.view_retractions"] = sum(c["view_retractions"] for it in its for c in it.extra["counts"]) / n
        out["cdc.snap_rows"] = sum(r["snap_rows"] for it in its for r in it.extra["rolls"]) / n
        out["cdc.store_mb"] = sum(it.extra["store_mb"] for it in its) / n
        out["cdc.store_files"] = sum(it.extra["store_files"] for it in its) / n
        slopes = []
        for it in its:
            bw = it.extra["batch_walls"]
            k = len(bw)
            if k > 1:
                xm, ym = (k - 1) / 2, sum(bw) / k
                num = sum((x - xm) * (y - ym) for x, y in enumerate(bw))
                slopes.append(num / sum((x - xm) ** 2 for x in range(k)))
        out["cdc.batch_s_slope"] = _median(slopes)
        out["cdc.batch_s_p50"] = _median(walls)
        out["cdc.batch_s_p90"] = _p90(walls)
        out["cdc.rows_s"] = sum(it.extra["rows"] for it in its) / sum(walls)
        return out


class Engine(Workload):
    """The Spark-engine workload: each iteration applies a fresh CDC feed
    (``CdcBatches``) and then runs one pass of the target queries
    (``Queries``) over the same generated tables. Every ingest layer is
    idle here."""

    name = "engine"

    def __init__(self, root, work, seed):
        super().__init__(root, work, seed)
        self.parts = (CdcBatches(root, work, seed), Queries(root, work, seed))

    def generate(self) -> None:
        self.parts[1].generate()
        self.parts[0].generate()

    def start(self, spark, procmon) -> None:
        for p in self.parts:
            p.meter, p._off = self.meter, self._off
            p.start(spark, procmon)

    def install_trace(self, tracer: Tracer) -> None:
        super().install_trace(tracer)
        for p in self.parts:
            p.install_trace(tracer)

    def iterate(self, spark, i: int) -> Iteration:
        its = [p.iterate(spark, i) for p in self.parts]
        return Iteration(
            wall=[sum(w for it in its for w in it.wall)],
            attempted=sum(it.attempted for it in its),
            failed=sum(it.failed for it in its),
            extra={"parts": its})

    def layers(self, spark, its: list[Iteration]) -> dict[str, float]:
        out: dict[str, float] = {}
        for k, p in enumerate(self.parts):
            p._jobs = self._jobs
            out.update(p.layers(spark, [it.extra["parts"][k] for it in its]))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Engine)}


def spark_layers(spark, w: Workload, job0: int, exec0: int, its: list[Iteration],
                 op_windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Engine metrics of the traced iterations from the status stores, per
    iteration. ``op_windows`` are the timed intervals (perf_counter)."""
    jobs = [j for j in jobs_after(spark, job0)
            if any(a <= j.submitted - w._off <= b for a, b in op_windows)]
    w._jobs = jobs
    st = stage_totals(spark, {s for j in jobs for s in j.stages})
    n = len(its)
    busy = sum(b - a for a, b in op_windows)
    covered = 0.0
    for a, b in op_windows:
        cur = a
        for j in sorted(jobs, key=lambda j: j.submitted):
            lo = max(j.submitted - w._off, cur)
            hi = min(j.completed - w._off, b)
            if hi > lo:
                covered += hi - lo
                cur = hi
    out = {
        "spark.jobs": len(jobs) / n,
        "spark.stages": st["stages"] / n,
        "spark.tasks": st["numTasks"] / n,
        "spark.task_failures": st["numFailedTasks"] / n,
        "spark.executor_run_s": st["executorRunTime"] / 1000 / n,
        "spark.executor_cpu_s": st["executorCpuTime"] / 1e9 / n,
        "spark.core_busy_ratio": st["executorRunTime"] / 1000 / (busy * cores) if busy else 0.0,
        "spark.job_gap_s": (busy - covered) / n,
        "spark.shuffle_read_mb": st["shuffleReadBytes"] / 2**20 / n,
        "spark.shuffle_write_mb": st["shuffleWriteBytes"] / 2**20 / n,
        "spark.spill_mb": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20 / n,
        "spark.gc_s": st["jvmGcTime"] / 1000 / n,
    }
    py = python_worker_metrics(spark, exec0)
    out["arrow.mb_to_python"] = py["mb_to_python"] / n
    out["arrow.mb_from_python"] = py["mb_from_python"] / n
    out["pyworker.boot_s"] = py["boot_s"] / n
    out["pyworker.init_s"] = py["init_s"] / n
    out["pyworker.run_s"] = py["run_s"] / n
    return out

