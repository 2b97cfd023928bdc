"""Ingest pipeline tests: ports the reference's two assertions (object count,
3 metadata fields — `tests/test_audit_data_ingest.py:18-31`) and adds the
round-trip golden test the reference never had (SURVEY.md §5): decrypt →
decompress → byte-equality.
"""

from __future__ import annotations

import base64
import zlib
from datetime import date

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
    """R7/R8 parity, negative path: any task failure in a day's job fails the
    run BEFORE the watermark commit, so the next run retries the whole day
    (`audit_data_ingest.py:65-68,96-104`)."""
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


def test_one_spark_job_per_committed_day(spark, moto_s3, rsa_keypair, tmp_path):
    """The listing runs on the driver and each day is one job: the fused
    kernel plus the collect of its audit rows."""
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
    sc = spark.sparkContext
    sc.setJobGroup("ingest-job-count", "run_ingest job count")
    try:
        committed = run_ingest(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(committed) == 3
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("ingest-job-count")) == 3


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
