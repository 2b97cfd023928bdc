"""Ingest pipeline tests: ports the reference's two assertions (object count,
3 metadata fields — `tests/test_audit_data_ingest.py:18-31`) and adds the
round-trip golden test the reference never had (SURVEY.md §5): decrypt →
decompress → byte-equality.
"""

from __future__ import annotations

import base64
import zlib
from datetime import date, timedelta

import boto3
import pytest
from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.asymmetric import padding

from dataworks_audit_data_ingest_spark.ingest import (
    EnvelopeEncryptor,
    IngestConfig,
    eax_decrypt,
    find_start_date,
    run_ingest,
    update_progress_file,
)

PAYLOAD_1 = b'{"id": "0001", "type": "donut", "name": "Cake"}'
PAYLOAD_2 = b'{"id": "0002", "type": "ice-cream", "name": "Chocobar"}'


@pytest.fixture()
def src_tree(tmp_path):
    """Reference layout: dated dirs + a non-date dir that must be skipped
    (`audit_data_ingest.py:26-33`; FIXTURES.md A2)."""
    src = tmp_path / "src"
    (src / "2020-10-09").mkdir(parents=True)
    (src / "2020-10-10").mkdir()
    (src / "not-a-date").mkdir()
    (src / "2020-10-09" / "audit-data-1.json").write_bytes(PAYLOAD_1)
    (src / "2020-10-10" / "audit-data-2.json").write_bytes(PAYLOAD_2)
    (src / "not-a-date" / "ignored.json").write_bytes(b"nope")
    return src


def _cfg(src, tmp_path, moto_s3, pub_pem, bucket="publish-bucket"):
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    return IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="audit-data/",
        hsm_key_id="cloudhsm:1,2",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / "progress.txt"),
        s3_endpoint_url=moto_s3,
        # executors are separate processes that never saw the fixture's env
        # vars — ship fake credentials through the job config instead
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )


def _decrypt(priv, obj) -> bytes:
    meta = obj["Metadata"]
    session_key = priv.decrypt(
        base64.b64decode(meta["ciphertext"]),
        padding.OAEP(
            mgf=padding.MGF1(algorithm=hashes.SHA256()),
            algorithm=hashes.SHA256(),
            label=None,
        ),
    )
    body = obj["Body"].read()
    assert body[:1] != b"\x78"  # ciphertext, not plaintext zlib
    return zlib.decompress(
        eax_decrypt(session_key, base64.b64decode(meta["iv"]), body)
    )


def _keys(moto_s3, bucket) -> list[str]:
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    return sorted(
        o["Key"] for o in s3.list_objects_v2(Bucket=bucket).get("Contents", [])
    )


def _tree(root, files: dict[str, bytes]):
    """Write ``{relative path: bytes}`` under ``root``; a path ending in
    ``/`` makes an empty directory."""
    for rel, data in files.items():
        path = root / rel
        if rel.endswith("/"):
            path.mkdir(parents=True, exist_ok=True)
            continue
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)
    return root


def test_end_to_end_roundtrip(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    priv, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem)
    committed = run_ingest(spark, cfg)
    assert committed == [date(2020, 10, 9), date(2020, 10, 10)]

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    keys = [
        o["Key"] for o in s3.list_objects_v2(Bucket=cfg.s3_bucket)["Contents"]
    ]
    # reference assertion 1: one object per input file, none for non-date dir
    assert sorted(keys) == [
        "audit-data/2020-10-09/audit-data-1.json.gz.enc",
        "audit-data/2020-10-10/audit-data-2.json.gz.enc",
    ]

    obj = s3.get_object(
        Bucket=cfg.s3_bucket, Key="audit-data/2020-10-09/audit-data-1.json.gz.enc"
    )
    meta = obj["Metadata"]
    # reference assertion 2: exactly 3 metadata fields
    assert set(meta) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
    assert meta["datakeyencryptionkeyid"] == "cloudhsm:1,2"

    # golden round trip: RSA-unwrap session key → EAX decrypt → zlib inflate
    assert _decrypt(priv, obj) == PAYLOAD_1

    # watermark advanced to the last committed day
    assert find_start_date(cfg.progress_file) == date(2020, 10, 10)


def test_strict_greater_resume(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    """Quirk 3: re-running after commit reprocesses nothing; a watermark at
    day-1 reprocesses only day-2 (`audit_data_ingest.py:33`)."""
    _, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="resume-bucket")
    update_progress_file(cfg.progress_file, date(2020, 10, 10))
    assert run_ingest(spark, cfg) == []

    update_progress_file(cfg.progress_file, date(2020, 10, 9))
    assert run_ingest(spark, cfg) == [date(2020, 10, 10)]


def test_malformed_watermark_raises(tmp_path):
    p = tmp_path / "progress.txt"
    p.write_text("2020-13-45")
    with pytest.raises(ValueError, match="invalid date"):
        find_start_date(p)


def test_missing_watermark_means_full_reprocess(tmp_path):
    assert find_start_date(tmp_path / "absent.txt") is None


def test_encryptor_deterministic_with_injected_rng(rsa_keypair):
    """Deterministic-crypto seam (SURVEY.md §5c): injecting the rng pins the
    session key and nonce."""
    priv, pub_pem = rsa_keypair
    fixed = bytes(range(16))
    enc = EnvelopeEncryptor(pub_pem, "kid", rng=lambda n: fixed[:n])
    r1 = enc.encrypt_record(b"hello world")
    r2 = enc.encrypt_record(b"hello world")
    assert r1.ciphertext == r2.ciphertext
    assert base64.b64decode(r1.iv) == fixed
    # zlib framing preserved under the hood (quirk 1): decrypt → 0x78 0x9c
    plain = eax_decrypt(fixed, fixed, r1.ciphertext)
    assert plain[:2] == b"\x78\x9c"
    assert zlib.decompress(plain) == b"hello world"


def test_failed_day_does_not_commit_watermark(spark, moto_s3, rsa_keypair, src_tree, tmp_path):
    """R7/R8 parity, negative path: a PUT failing on the task's thread pool
    fails the run BEFORE the watermark commit, so the next run retries the
    whole day (`audit_data_ingest.py:65-68,96-104`)."""
    _, pub_pem = rsa_keypair
    cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="failure-bucket")
    broken = IngestConfig(**{**cfg.__dict__, "s3_bucket": "does-not-exist"})
    with pytest.raises(Exception):
        run_ingest(spark, broken)
    assert find_start_date(cfg.progress_file) is None  # nothing committed

    # the retry with a working bucket processes both days from scratch
    assert run_ingest(spark, cfg) == [date(2020, 10, 9), date(2020, 10, 10)]


def test_two_dataset_deployments_share_code_independent_watermarks(
    spark, moto_s3, rsa_keypair, src_tree, tmp_path
):
    """SURVEY §3.3: the reference deploys the SAME script twice (audit +
    equalities) with different (source, prefix, progress-file) tuples. The
    engine's job config must make that a pure parameterization: run two
    configs against one bucket, assert objects land under both prefixes
    and the watermarks advance independently."""
    import dataclasses

    from dataworks_audit_data_ingest_spark.ingest.pipeline import run_ingest
    from dataworks_audit_data_ingest_spark.ingest.watermark import find_start_date

    _, pub_pem = rsa_keypair
    audit_cfg = _cfg(src_tree, tmp_path, moto_s3, pub_pem, bucket="dual-bucket")

    # equalities: its own source tree (one day only), prefix, progress file
    eq_src = tmp_path / "eq_src"
    (eq_src / "2021-01-05").mkdir(parents=True)
    (eq_src / "2021-01-05" / "equalities-1.json").write_bytes(b'{"eq": 1}')
    eq_cfg = dataclasses.replace(
        audit_cfg,
        src_dir=str(eq_src),
        s3_prefix="equalities/",
        progress_file=str(tmp_path / "progress-equalities.txt"),
    )

    run_ingest(spark, audit_cfg)
    run_ingest(spark, eq_cfg)

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    audit_keys = [
        o["Key"]
        for o in s3.list_objects_v2(Bucket="dual-bucket", Prefix="audit-data/")[
            "Contents"
        ]
    ]
    eq_keys = [
        o["Key"]
        for o in s3.list_objects_v2(Bucket="dual-bucket", Prefix="equalities/")[
            "Contents"
        ]
    ]
    assert len(audit_keys) == 2 and len(eq_keys) == 1
    assert eq_keys == ["equalities/2021-01-05/equalities-1.json.gz.enc"]
    # independent watermarks
    assert str(find_start_date(audit_cfg.progress_file)) == "2020-10-10"
    assert str(find_start_date(eq_cfg.progress_file)) == "2021-01-05"


def test_committed_days_are_never_opened(spark, moto_s3, rsa_keypair, tmp_path):
    """The listing prunes committed days before any scan: a file too large
    for ``binaryFile`` to read, sitting in an already-committed day, must
    not fail the resume (a scan that opened it would, FAILED_READ_FILE)."""
    _, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {"2020-10-09/big.json": b"x" * 1000, "2020-10-10/small.json": PAYLOAD_2},
    )
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="pruned-bucket")
    update_progress_file(cfg.progress_file, date(2020, 10, 9))
    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "500")
    try:
        assert run_ingest(spark, cfg) == [date(2020, 10, 10)]
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
    assert _keys(moto_s3, cfg.s3_bucket) == [
        "audit-data/2020-10-10/small.json.gz.enc"
    ]


def test_nested_file_belongs_to_its_top_level_day(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """A day is a top-level dated directory; files below it, at any depth,
    land under that day with their own basename."""
    priv, pub_pem = rsa_keypair
    src = _tree(tmp_path / "src", {"2020-10-09/sub/deep/nested.json": PAYLOAD_1})
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="nested-bucket")
    assert run_ingest(spark, cfg) == [date(2020, 10, 9)]
    key = "audit-data/2020-10-09/nested.json.gz.enc"
    assert _keys(moto_s3, cfg.s3_bucket) == [key]
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    assert _decrypt(priv, s3.get_object(Bucket=cfg.s3_bucket, Key=key)) == PAYLOAD_1


def test_dated_dir_under_non_dated_parent_is_skipped_with_warning(
    spark, moto_s3, rsa_keypair, tmp_path, caplog
):
    """Only top-level names are parsed (SURVEY quirk 7): `not-a-date/` is
    skipped with one warning, and the dated directory inside it with it."""
    _, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {
            "2020-10-09/a.json": PAYLOAD_1,
            "not-a-date/2020-10-11/x.json": PAYLOAD_2,
            "2020-02-30/bad-calendar.json": b"nope",
        },
    )
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="nondated-bucket")
    with caplog.at_level("WARNING", logger="dataworks_audit_data_ingest_spark"):
        assert run_ingest(spark, cfg) == [date(2020, 10, 9)]
    assert _keys(moto_s3, cfg.s3_bucket) == ["audit-data/2020-10-09/a.json.gz.enc"]
    skipped = sorted(
        str(r.args[0]).rsplit("/", 1)[-1]
        for r in caplog.records
        if r.levelname == "WARNING" and r.msg.startswith("skipping")
    )
    assert skipped == ["2020-02-30", "not-a-date"]


def test_empty_newest_day_is_not_committed(spark, moto_s3, rsa_keypair, tmp_path):
    _, pub_pem = rsa_keypair
    src = _tree(tmp_path / "src", {"2020-10-09/a.json": PAYLOAD_1, "2020-10-10/": b""})
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="empty-day-bucket")
    assert run_ingest(spark, cfg) == [date(2020, 10, 9)]
    assert find_start_date(cfg.progress_file) == date(2020, 10, 9)
    assert _keys(moto_s3, cfg.s3_bucket) == ["audit-data/2020-10-09/a.json.gz.enc"]


def _jobs_in_group(spark, group, run) -> int:
    """The number of Spark jobs ``run()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _tasks_in_group(spark, group) -> int:
    """The number of tasks of the Spark jobs of ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return sum(
        st.getStageInfo(stage).numTasks
        for job in st.getJobIdsForGroup(group)
        for stage in st.getJobInfo(job).stageIds
    )


def test_one_spark_job_per_run(spark, moto_s3, rsa_keypair, tmp_path):
    """The listing runs on the driver and a run is one job, however many
    days are new: one scan of the new days, the fused kernel and the
    collect of its audit rows. A resume with nothing new runs no job."""
    _, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {
            f"2020-10-{d:02d}/f{i}.json": PAYLOAD_1
            for d in (9, 10, 11)
            for i in range(3)
        },
    )
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="jobs-bucket")
    committed = []
    assert _jobs_in_group(
        spark, "ingest-run", lambda: committed.extend(run_ingest(spark, cfg))
    ) == 1
    assert committed == [date(2020, 10, d) for d in (9, 10, 11)]
    assert len(_keys(moto_s3, cfg.s3_bucket)) == 9
    assert _jobs_in_group(spark, "ingest-resume", lambda: run_ingest(spark, cfg)) == 0


def test_small_multi_day_run_is_one_task(spark, moto_s3, rsa_keypair, tmp_path):
    """Tasks follow bytes, not files: nine small files over three days are
    far under one task's cost in bytes, so the run's one job is one task
    (the scan alone, at 4 MB of open cost per file, would split them over
    several)."""
    _, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {f"2020-10-{d:02d}/f{i}.json": PAYLOAD_1 for d in (9, 10, 11) for i in range(3)},
    )
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="one-task-bucket")
    assert _jobs_in_group(spark, "ingest-one-task", lambda: run_ingest(spark, cfg)) == 1
    assert _tasks_in_group(spark, "ingest-one-task") == 1
    assert len(_keys(moto_s3, cfg.s3_bucket)) == 9


def test_task_count_follows_bytes(spark, moto_s3, rsa_keypair, tmp_path):
    """About 300 KiB of incompressible files under a 64 KiB
    ``maxPartitionBytes`` are not merged into one task; every object
    decrypts to its file and the watermark holds the last day."""
    import random

    priv, pub_pem = rsa_keypair
    rng = random.Random(7)
    days = ["2020-10-09", "2020-10-10", "2020-10-11"]
    files = {f"{d}/f{i}.bin": rng.randbytes(25 << 10) for d in days for i in range(4)}
    src = _tree(tmp_path / "src", files)
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="bytes-bucket")
    committed = []
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 << 10))
    try:
        jobs = _jobs_in_group(
            spark, "ingest-bytes", lambda: committed.extend(run_ingest(spark, cfg))
        )
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert jobs == 1
    assert _tasks_in_group(spark, "ingest-bytes") >= 2
    assert committed == [date.fromisoformat(d) for d in days]
    assert find_start_date(cfg.progress_file) == date(2020, 10, 11)
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    for rel, payload in files.items():
        day, name = rel.split("/")
        key = f"audit-data/{day}/{name}.gz.enc"
        assert _decrypt(priv, s3.get_object(Bucket=cfg.s3_bucket, Key=key)) == payload


@pytest.mark.parametrize(
    "rows, tasks",
    [
        (1_000, 1),  # 8 KB: one task
        (10_000_000, 3),  # 80 MB: under cores × 32 MiB, one task per 32 MiB
        (20_000_000, 4),  # 160 MB: one task per core, not 2 of 128 MB
        (60_000_000, 4),  # 480 MB: 4 splits of maxPartitionBytes
        (100_000_000, 6),  # 800 MB: ceil(800 MB / 128 MiB), not more
    ],
)
def test_task_rule_is_core_aware(spark, rows, tasks):
    """The kernel's input is coalesced to ``ceil(size / split)`` tasks with
    ``split = min(maxPartitionBytes, max(32 MiB, size / cores))``, by
    Catalyst's size estimate (8 bytes a row of ``range``; nothing runs):
    a run between ``cores × 32 MiB`` and ``cores × maxPartitionBytes``
    still gets one task per core."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import _by_bytes

    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "4")  # cores
    try:
        df = spark.range(0, rows, numPartitions=8)
        assert _by_bytes(df).rdd.getNumPartitions() == tasks
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")


def test_overlap_bounds_the_bytes_in_flight():
    """The PUT pool runs at most ``budget`` bytes of rows at once (a row
    larger than the budget alone) and at most ``width`` rows, and yields
    the results in row order."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from dataworks_audit_data_ingest_spark.ingest.pipeline import _overlap

    sizes = [3, 3, 3, 3, 12, 1, 1, 1, 1, 1, 1, 4]
    lock = threading.Lock()
    held, peak_bytes, peak_rows, rows = [0], [0], [0], [0]

    def fn(k):
        with lock:
            held[0] += sizes[k]
            rows[0] += 1
            peak_bytes[0] = max(peak_bytes[0], held[0] if rows[0] > 1 else 0)
            peak_rows[0] = max(peak_rows[0], rows[0])
        time.sleep(0.02)
        with lock:
            held[0] -= sizes[k]
            rows[0] -= 1
        return k

    with ThreadPoolExecutor(10) as pool:
        out = list(_overlap(pool, fn, range(len(sizes)), sizes, 4, 8))
    assert out == list(range(len(sizes)))
    assert peak_bytes[0] <= 8
    assert peak_rows[0] == 4


def test_failed_run_commits_no_day_and_retry_commits_all(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """A run is all-or-nothing: a file ``binaryFile`` cannot read in the
    newest of three days fails the one job, so no day is committed, not
    even the two before it. Once the file is gone, the retry commits all
    three days."""
    priv, pub_pem = rsa_keypair
    days = ["2020-10-09", "2020-10-10", "2020-10-11"]
    src = _tree(tmp_path / "src", {f"{d}/a.json": PAYLOAD_1 for d in days})
    big = src / days[-1] / "big.json"
    big.write_bytes(b"x" * 1000)
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="all-or-nothing-bucket")
    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "500")
    try:
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            run_ingest(spark, cfg)
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
    assert not (tmp_path / "progress.txt").exists()

    big.unlink()
    assert run_ingest(spark, cfg) == [date.fromisoformat(d) for d in days]
    assert find_start_date(cfg.progress_file) == date(2020, 10, 11)
    keys = [f"audit-data/{d}/a.json.gz.enc" for d in days]
    assert _keys(moto_s3, cfg.s3_bucket) == keys
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    for key in keys:
        assert _decrypt(priv, s3.get_object(Bucket=cfg.s3_bucket, Key=key)) == PAYLOAD_1


def test_more_new_days_than_the_parallel_listing_threshold(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """Above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) roots, the one scan lists its day directories in a Spark job;
    every day still lands under its own key and is committed in order."""
    _, pub_pem = rsa_keypair
    days = [date(2020, 1, 1) + timedelta(days=k) for k in range(40)]
    src = _tree(tmp_path / "src", {f"{d}/{d}.json": PAYLOAD_2 for d in days})
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="many-days-bucket")
    assert run_ingest(spark, cfg) == days
    assert find_start_date(cfg.progress_file) == days[-1]
    assert _keys(moto_s3, cfg.s3_bucket) == [
        f"audit-data/{d}/{d}.json.gz.enc" for d in days
    ]


@pytest.mark.parametrize("day_type", ["date", "string"])
def test_null_day_is_never_uploaded(spark, moto_s3, rsa_keypair, tmp_path, day_type):
    """A row without a day has no key: the action raises before any PUT,
    where ``astype(str)`` would have named the object ``None/f.json``."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import encrypt_and_upload

    _, pub_pem = rsa_keypair
    cfg = _cfg(tmp_path, tmp_path, moto_s3, pub_pem, bucket=f"null-day-{day_type}")
    rows = spark.createDataFrame(
        [(None, "f.json", PAYLOAD_1)],
        f"day {day_type}, basename string, content binary",
    )
    with pytest.raises(Exception, match="ValueError: 1 row"):
        encrypt_and_upload(rows, cfg).collect()
    assert _keys(moto_s3, cfg.s3_bucket) == []


def test_encrypted_stream_drain_and_resume(spark, moto_s3, rsa_keypair, tmp_path):
    """Fast smoke of the streaming sink (the fused kernel under
    ``foreachBatch``): an availableNow drain uploads every dated file with
    3-field metadata that decrypts; a resume from the same checkpoint
    uploads only the file that arrived since."""
    from dataworks_audit_data_ingest_spark.streaming.jobs import (
        start_encrypted_ingest_stream,
    )

    priv, pub_pem = rsa_keypair
    src = _tree(tmp_path / "src", {"2021-01-01/f1.json": PAYLOAD_1})
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="stream-smoke-bucket")
    ckpt = str(tmp_path / "ckpt")
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)

    start_encrypted_ingest_stream(spark, cfg, ckpt).awaitTermination(120)
    first = "audit-data/2021-01-01/f1.json.gz.enc"
    assert _keys(moto_s3, cfg.s3_bucket) == [first]
    etag = s3.head_object(Bucket=cfg.s3_bucket, Key=first)["ETag"]

    _tree(src, {"2021-01-02/f2.json": PAYLOAD_2})
    start_encrypted_ingest_stream(spark, cfg, ckpt).awaitTermination(120)
    second = "audit-data/2021-01-02/f2.json.gz.enc"
    assert _keys(moto_s3, cfg.s3_bucket) == [first, second]
    # the resumed drain did not re-upload the committed file
    assert s3.head_object(Bucket=cfg.s3_bucket, Key=first)["ETag"] == etag
    for key, payload in ((first, PAYLOAD_1), (second, PAYLOAD_2)):
        obj = s3.get_object(Bucket=cfg.s3_bucket, Key=key)
        assert set(obj["Metadata"]) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
        assert _decrypt(priv, obj) == payload


def test_stream_drain_is_one_task_per_micro_batch(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """The stream sink runs the batch kernel, so a micro-batch of small
    files is one task: the drain and its resume each run one job of one
    task (a stream's jobs run in a group named by its run id)."""
    from dataworks_audit_data_ingest_spark.streaming.jobs import (
        start_encrypted_ingest_stream,
    )

    _, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {f"2021-01-0{d}/f{i}.json": PAYLOAD_1 for d in (1, 2, 3) for i in range(4)},
    )
    cfg = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="stream-tasks-bucket")
    ckpt = str(tmp_path / "ckpt")
    for new in ({}, {"2021-01-04/f.json": PAYLOAD_2}):
        _tree(src, new)
        query = start_encrypted_ingest_stream(spark, cfg, ckpt)
        query.awaitTermination(120)
        group = str(query.runId)
        assert _tasks_in_group(spark, group) == 1
        assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(_keys(moto_s3, cfg.s3_bucket)) == 13


def test_encrypt_record_bytes_are_pinned(rsa_keypair):
    """Under an injected rng the ciphertext and iv of ``encrypt_record`` are
    a fixed function of the content — pinned by a digest, over sizes from
    empty to past the transform's 8 MiB read chunk. The RSA-wrapped key is
    randomized by OAEP and not part of the digest."""
    import hashlib
    import itertools

    _, pub_pem = rsa_keypair
    draws = itertools.count()
    enc = EnvelopeEncryptor(
        pub_pem,
        "kid",
        rng=lambda n: hashlib.sha256(b"rng-%d" % next(draws)).digest()[:n],
    )
    h = hashlib.sha256()
    for content in (b"", b"hello world", bytes(range(256)) * 4000, b"x" * (9 << 20)):
        rec = enc.encrypt_record(content)
        h.update(rec.ciphertext)
        h.update(rec.iv.encode())
    assert h.hexdigest() == (
        "5f3bab3fc09de48bf6a533067d56c63ac1c4815d993db6beeb5d01afdaf371c7"
    )


def test_s3_client_uses_configured_standard_retries(rsa_keypair):
    """Every ingest, decrypt and rotate client comes from ``s3_client``:
    botocore standard mode with the configured attempt count."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import s3_client

    cfg = IngestConfig(
        src_dir="unused", s3_bucket="b", s3_prefix="p/", hsm_key_id="k",
        rsa_public_key_pem=rsa_keypair[1], progress_file="unused", retries=7,
        s3_endpoint_url="http://localhost:1",
    )
    # botocore stores the retry count as total attempts, the first included
    assert s3_client(cfg).meta.config.retries == {
        "mode": "standard",
        "total_max_attempts": 8,
    }


@pytest.mark.parametrize("prefix", ["audit-data/", "audit", ""])
def test_object_key_round_trip(prefix):
    """``parse_object_key`` inverts ``object_key`` whether or not the prefix
    ends in ``/`` (it carries its own separator, quirk 5)."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import (
        object_key,
        parse_object_key,
    )

    key = object_key(prefix, "2020-10-10", "audit-data-1.json")
    assert key == f"{prefix}2020-10-10/audit-data-1.json.gz.enc"
    assert parse_object_key(prefix, key) == ("2020-10-10", "audit-data-1.json")


def test_sql_day_rule_matches_driver_day_rule(spark, tmp_path):
    """``file_columns`` (scan and stream) and ``_parse_day`` (the listing)
    give every top-level directory name the same verdict; a nested file
    takes its top-level day."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import (
        _parse_day,
        file_columns,
    )

    root = f"file:{tmp_path}"
    names = ["2020-10-10", "2020-1-5", "2020-02-30", "not-a-date", "0000-01-01"]
    paths = [f"{root}/{n}/f.json" for n in names]
    nested = {
        f"{root}/2020-10-10/sub/f.json": date(2020, 10, 10),
        f"{root}/not-a-date/2020-10-11/f.json": None,
        f"{root}/top-level-file.json": None,
    }
    df = spark.createDataFrame([(p,) for p in paths + list(nested)], "path string")
    cols = file_columns(spark, str(tmp_path))
    got = dict(df.select("path", *cols).select("path", "day").collect())
    assert {p: got[p] for p in paths} == {
        f"{root}/{n}/f.json": _parse_day(n) for n in names
    }
    assert _parse_day("2020-10-10") == date(2020, 10, 10)
    assert {p: got[p] for p in nested} == nested


def test_stream_and_batch_upload_the_same_objects(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """A stream drain and a first ``run_ingest`` over one tree give the same
    keys and payloads: a file nested in a day belongs to that day, and a
    dated directory under a non-dated one is skipped by both."""
    import dataclasses

    from dataworks_audit_data_ingest_spark.streaming.jobs import (
        start_encrypted_ingest_stream,
    )

    priv, pub_pem = rsa_keypair
    src = _tree(
        tmp_path / "src",
        {
            "2020-10-10/a.json": PAYLOAD_1,
            "2020-10-10/sub/b.json": PAYLOAD_2,
            "not-a-date/2020-10-11/c.json": b"skipped",
            "2020-02-30/d.json": b"skipped",
            "top.json": b"skipped",
        },
    )
    batch = _cfg(src, tmp_path, moto_s3, pub_pem, bucket="parity-bucket")
    stream = dataclasses.replace(batch, s3_prefix="stream/")
    run_ingest(spark, batch)
    query = start_encrypted_ingest_stream(spark, stream, str(tmp_path / "ckpt"))
    query.awaitTermination(120)

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)

    def objects(prefix):
        return {
            key.removeprefix(prefix): _decrypt(
                priv, s3.get_object(Bucket=batch.s3_bucket, Key=key)
            )
            for key in _keys(moto_s3, batch.s3_bucket)
            if key.startswith(prefix)
        }

    want = {
        "2020-10-10/a.json.gz.enc": PAYLOAD_1,
        "2020-10-10/b.json.gz.enc": PAYLOAD_2,
    }
    assert objects("audit-data/") == want
    assert objects("stream/") == want
