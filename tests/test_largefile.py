"""Large-file streaming ingest: chunked-CTR equivalence with the whole-blob
path, multipart-upload round-trip on a multi-chunk file, and the driver-side
refusal of sources Python tasks cannot open.
"""

from __future__ import annotations

import base64
import io
import os
import zlib
from datetime import date

import boto3
import pytest
from cryptography.hazmat.primitives import serialization

from dataworks_audit_data_ingest_spark.ingest import IngestConfig
from dataworks_audit_data_ingest_spark.ingest.crypto import (
    EnvelopeEncryptor,
    _CompressEncryptStream,
    decrypt_object,
    eax_encrypt,
    unwrap_session_key,
)
from dataworks_audit_data_ingest_spark.ingest.pipeline import (
    encrypt_and_upload_large,
    list_files,
)


def _pem(priv) -> bytes:
    return priv.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )


def test_chunked_stream_matches_whole_blob_path():
    """CTR keystream continuation: chunked encrypt == one-shot encrypt."""
    key, nonce = bytes(range(16)), bytes(range(16, 32))
    payload = os.urandom(1 << 20)  # 1 MiB
    whole = eax_encrypt(key, nonce, zlib.compress(payload))
    stream = _CompressEncryptStream(io.BytesIO(payload), key, nonce)
    chunked = b""
    while True:
        piece = stream.read(64 * 1024 + 7)  # odd size: cross chunk edges
        if not piece:
            break
        chunked += piece
    assert chunked == whole
    assert stream.bytes_out == len(whole)


def _bucket_cfg(moto_s3, pub_pem, tmp_path, bucket, src):
    boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3).create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "eu-west-2"},
    )
    return IngestConfig(
        src_dir=str(src),
        s3_bucket=bucket,
        s3_prefix="big/",
        hsm_key_id="cloudhsm:9",
        rsa_public_key_pem=pub_pem,
        progress_file=str(tmp_path / "p.txt"),
        s3_endpoint_url=moto_s3,
        extra_boto_kwargs={
            "aws_access_key_id": "testing",
            "aws_secret_access_key": "testing",
        },
    )


def test_large_file_roundtrip(spark, moto_s3, rsa_keypair, tmp_path):
    priv, pub_pem = rsa_keypair
    src = tmp_path / "big"
    (src / "2023-03-03").mkdir(parents=True)
    payload = os.urandom(12 * 1024 * 1024)  # multi-chunk, multipart-sized
    (src / "2023-03-03" / "huge.bin").write_bytes(payload)
    cfg = _bucket_cfg(moto_s3, pub_pem, tmp_path, "large-bucket", src)
    result = encrypt_and_upload_large(list_files(spark, str(src)), cfg).collect()
    assert len(result) == 1
    assert result[0].s3_key == "big/2023-03-03/huge.bin.gz.enc"

    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    obj = s3.get_object(Bucket=cfg.s3_bucket, Key=result[0].s3_key)
    meta = obj["Metadata"]
    assert set(meta) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
    body = obj["Body"].read()
    # the byte count comes from the stream, not from a HEAD round trip
    assert result[0].n_bytes == obj["ContentLength"] == len(body)
    assert decrypt_object(_pem(priv), meta, body) == payload

    # the blob path, given this object's session key and nonce, produces
    # exactly the stored ciphertext
    key_and_nonce = iter(
        [
            unwrap_session_key(_pem(priv), meta["ciphertext"]),
            base64.b64decode(meta["iv"]),
        ]
    )
    blob = EnvelopeEncryptor(pub_pem, "kid", rng=lambda n: next(key_and_nonce))
    assert blob.encrypt_record(payload).ciphertext == body


def test_non_file_source_is_refused_before_any_upload(
    spark, moto_s3, rsa_keypair, tmp_path
):
    """Python tasks cannot open an ``hdfs://`` path: the driver raises
    before the first object goes up, even when other files are local."""
    _, pub_pem = rsa_keypair
    local = tmp_path / "src" / "2023-03-03" / "local.bin"
    local.parent.mkdir(parents=True)
    local.write_bytes(b"local bytes")
    cfg = _bucket_cfg(moto_s3, pub_pem, tmp_path, "refuse-bucket", local.parent)
    files = spark.createDataFrame(
        [
            (f"file:{local}", "local.bin", date(2023, 3, 3)),
            (f"hdfs://nn:8020{local.parent}/r.bin", "r.bin", date(2023, 3, 3)),
        ],
        "path string, basename string, day date",
    )
    with pytest.raises(ValueError, match="not file: paths, e.g. hdfs://nn:8020/"):
        encrypt_and_upload_large(files, cfg)
    s3 = boto3.client("s3", region_name="eu-west-2", endpoint_url=moto_s3)
    assert "Contents" not in s3.list_objects_v2(Bucket=cfg.s3_bucket)
