"""Self-test of the benchmark itself, at tiny sizes (about two minutes).

    python3 perfbench/selftest.py

Checks that
1. the same seed gives byte-identical inputs for every workload, and a
   different seed gives different ones;
2. the S3 stand-in returns an uploaded object's bytes and metadata
   unchanged;
3. one tiny iteration of each workload passes its output check, and the
   ingest check fails when one uploaded object is corrupted.
Exits 0 when every check holds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_determinism(work: str) -> list[str]:
    from perfbench import gen

    errors = []

    def make(seed: int, tag: str) -> dict[str, str]:
        base = os.path.join(work, f"det-{tag}")
        gen.ingest_days(os.path.join(base, "days"), seed, 2, 4, 3)
        gen.bulk_days(os.path.join(base, "bulk"), seed, 1, 1, 4096)
        gen.tables(os.path.join(base, "tables"), seed, 0.001)
        b, fo, fc = gen.cdc_feed(os.path.join(base, "tables"), seed, 2, 500, 50)
        digest = _digest(base)
        digest["cdc"] = hashlib.sha256(repr((b, sorted(fo.items()), sorted(fc.items())))
                                       .encode()).hexdigest()
        return digest

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    if a != b:
        errors.append("same seed gave different inputs: "
                      f"{sorted(k for k in a if a[k] != b.get(k))[:5]}")
    if set(a) == set(c) and all(a[k] == c[k] for k in a):
        errors.append("a different seed gave the same inputs")
    return errors


def check_stub() -> list[str]:
    import boto3

    p = subprocess.Popen([sys.executable, os.path.join(HERE, "s3stub.py")],
                         stdout=subprocess.PIPE, text=True)
    try:
        port = int(p.stdout.readline())
        s3 = boto3.client("s3", region_name="eu-west-2",
                          endpoint_url=f"http://127.0.0.1:{port}",
                          aws_access_key_id="x", aws_secret_access_key="y")
        body = os.urandom(300_000)
        meta = {"iv": "aXY=", "ciphertext": "a2V5", "datakeyencryptionkeyid": "k:1:2"}
        s3.put_object(Bucket="b", Key="p/2020-01-01/f.json.gz.enc", Body=body,
                      Metadata=meta)
        got = s3.get_object(Bucket="b", Key="p/2020-01-01/f.json.gz.enc")
        errors = []
        if got["Body"].read() != body:
            errors.append("stand-in changed an object's bytes")
        if got["Metadata"] != meta:
            errors.append(f"stand-in changed metadata: {got['Metadata']}")
        return errors
    finally:
        p.terminate()
        p.wait(timeout=30)
        p.stdout.close()


class _NullMeter:
    windows = [(0.0, 0.0)]

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def check_workloads(work: str) -> list[str]:
    from perfbench import checks, env
    from perfbench.workloads import CdcBatches, Ingest, Queries

    errors = []
    spark, _, _ = env.setup(work, rounds=1)
    pm = env.ProcMon()
    try:
        tiny = [
            Ingest(ROOT, os.path.join(work, "ingest"), 5, n_days=1, files_per_day=3,
                   history_days=3, bulk_days=1, bulk_files=1, bulk_bytes=4096),
            Queries(ROOT, os.path.join(work, "queries"), 5),
            CdcBatches(ROOT, os.path.join(work, "cdc"), 5, n_orders=400, n_cust=40),
        ]
        for w in tiny:
            os.makedirs(w.work, exist_ok=True)
            w.generate()
            w.start(spark, pm)
            w.meter = _NullMeter()
            if isinstance(w, Queries):
                w.order = w.order[:1]
            try:
                it = w.iterate(spark, 0)
                if it.failed or not it.attempted:
                    errors.append(f"{w.name}: tiny iteration failed its check "
                                  f"({it.failed}/{it.attempted})")
                if isinstance(w, Ingest):
                    errors += _corruption(spark, w, checks)
            finally:
                w.stop()
    finally:
        env.stop(spark)
    return errors


def _corruption(spark, w, checks) -> list[str]:
    """Land one more day, overwrite one stored object with a flipped byte,
    and expect the ingest check to flag exactly that file."""
    from dataworks_audit_data_ingest_spark.ingest import pipeline

    d = w.days
    w._park(d, out=True)
    cfg = w._cfg(d.src, "corrupt/", os.path.join(w.work, "progress-c"))
    pipeline.run_ingest(spark, cfg)
    want = {r: p for r, p in d.files.items() if not r.startswith(d.held_day)}
    if checks.check_ingest(w.stub, w.BUCKET, "corrupt/", want, w.KEY_ID, w.priv):
        return ["ingest check failed on an intact upload"]
    victim = sorted(want)[0]
    key = f"corrupt/{victim}.gz.enc"
    body, meta = w.stub.get(f"{w.BUCKET}/{key}")
    import boto3

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=w.stub.base,
                      aws_access_key_id="x", aws_secret_access_key="y")
    s3.put_object(Bucket=w.BUCKET, Key=key, Body=bytes([body[0] ^ 1]) + body[1:],
                  Metadata=meta)
    failed = checks.check_ingest(w.stub, w.BUCKET, "corrupt/", want, w.KEY_ID, w.priv)
    if failed != {victim}:
        return [f"ingest check missed a corrupted object (flagged {sorted(failed)})"]
    return []


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import env

    work = env.prepare_dirs(ROOT, "selftest")
    try:
        errors = check_determinism(work) + check_stub() + check_workloads(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
