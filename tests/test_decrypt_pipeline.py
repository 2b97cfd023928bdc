"""Full-circle pipeline: ingest (encrypt→S3) then the decrypt source reads
typed rows back — the end-to-end contract between the reference's write path
and its analytical consumers.
"""

from __future__ import annotations

import boto3
from cryptography.hazmat.primitives import serialization

from dataworks_audit_data_ingest_spark.ingest import IngestConfig, run_ingest
from dataworks_audit_data_ingest_spark.ingest.decrypt import (
    read_encrypted_json,
    read_encrypted_objects,
)

PAYLOADS = {
    "a.json": b'{"id": "0001", "type": "donut", "name": "Cake"}',
    "b.json": b'{"id": "0002", "type": "ice-cream", "name": "Chocobar"}',
    "c.json": b'{"id": "0003", "type": "bar", "name": "Nut"}',
}


def test_encrypt_then_decrypt_full_circle(spark, moto_s3, rsa_keypair, tmp_path):
    priv, pub_pem = rsa_keypair
    src = tmp_path / "src"
    (src / "2022-02-02").mkdir(parents=True)
    (src / "2022-02-03").mkdir()
    (src / "2022-02-02" / "a.json").write_bytes(PAYLOADS["a.json"])
    (src / "2022-02-02" / "b.json").write_bytes(PAYLOADS["b.json"])
    (src / "2022-02-03" / "c.json").write_bytes(PAYLOADS["c.json"])
    bucket = "circle-bucket"
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    cfg = IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="circle/",
        hsm_key_id="cloudhsm:1,2",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / "p.txt"),
        s3_endpoint_url=moto_s3,
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )
    run_ingest(spark, cfg)

    priv_pem = priv.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )
    raw = read_encrypted_objects(spark, cfg, priv_pem)
    rows = {r.basename: r for r in raw.collect()}
    assert set(rows) == {"a.json", "b.json", "c.json"}
    for name, payload in PAYLOADS.items():
        assert bytes(rows[name].payload) == payload
    assert rows["a.json"].day == "2022-02-02"
    assert rows["c.json"].day == "2022-02-03"

    typed = read_encrypted_json(
        spark, cfg, priv_pem, "id string, type string, name string"
    )
    got = {(r.id, r.type, r.name) for r in typed.collect()}
    assert got == {
        ("0001", "donut", "Cake"),
        ("0002", "ice-cream", "Chocobar"),
        ("0003", "bar", "Nut"),
    }


def test_decrypt_day_with_prefix_without_separator(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """A prefix may lack its trailing ``/`` (quirk 5): keys read
    ``audit2022-02-02/a.json.gz.enc`` and the day is still the day."""
    priv, pub_pem = rsa_keypair
    src = tmp_path / "src"
    (src / "2022-02-02").mkdir(parents=True)
    (src / "2022-02-02" / "a.json").write_bytes(PAYLOADS["a.json"])
    bucket = "bare-prefix-bucket"
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    cfg = IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="audit",
        hsm_key_id="cloudhsm:1,2",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / "p.txt"),
        s3_endpoint_url=moto_s3,
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )
    run_ingest(spark, cfg)
    priv_pem = priv.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )
    rows = read_encrypted_objects(spark, cfg, priv_pem).collect()
    assert [(r.s3_key, r.day, r.basename, bytes(r.payload)) for r in rows] == [
        ("audit2022-02-02/a.json.gz.enc", "2022-02-02", "a.json", PAYLOADS["a.json"])
    ]
