"""Envelope key rotation: retire an RSA master key WITHOUT touching a
byte of payload.

The reference's envelope design (`audit_data_ingest.py:107-126`: AES
session key per object, RSA-wrapped in metadata field "ciphertext",
master-key id in "datakeyencryptionkeyid") makes rotation a METADATA
operation: unwrap each object's session key with the retiring private
key, re-wrap it with the successor public key, and rewrite the three
metadata fields via S3 CopyObject with MetadataDirective=REPLACE — the
object body (the actual 100 TB) never crosses the wire into the
cluster; S3 copies it server-side, and the EAX ciphertext and iv are
bit-identical before and after. That is the entire point of envelope
encryption, executed.

Properties the drill pins:
- payloads decrypt byte-identically with the NEW private key afterwards;
- the retiring key no longer opens anything (every object re-wrapped);
- idempotent: objects already carrying the new key id are skipped, so a
  crashed run re-runs to convergence;
- the 3-field metadata contract (reference test
  `tests/test_audit_data_ingest.py:26`) is preserved verbatim.

Scale shape: listing is the driver-side metadata pass `decrypt.py`
also uses (``pipeline.list_objects``); the per-object work (one RSA unwrap + one RSA wrap + one
server-side copy) fans out over executors via mapInPandas with only
keys on the wire. Session keys exist transiently in executor memory —
same exposure class as the decrypt path, same ``key_provider``
mitigation for shipping the retiring PEM.

Caveats (both surfaced in the per-object report, not by crashing):
- S3 ``CopyObject`` is capped at 5 GiB per object; objects larger than
  ``multipart_threshold`` take the multipart path instead
  (``create_multipart_upload`` carries the NEW metadata, then
  ``upload_part_copy`` range-copies the body server-side — still zero
  payload bytes through the cluster).
- Stray objects under the prefix that lack the 3-field envelope
  metadata (partial uploads, unrelated files) are SKIPPED and reported
  with status ``skipped_no_envelope`` rather than aborting the run.
- Like any S3 copy-over-self, the rewrite resets non-metadata
  attributes (storage class, ACL, object-lock) to request defaults;
  callers with non-default attributes must re-apply them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import tune
from .crypto import ENVELOPE_FIELDS, EnvelopeEncryptor
from .pipeline import IngestConfig, list_objects, s3_client

_ROT_SCHEMA = "s3_key string, rotated boolean, status string"

# S3 CopyObject hard cap. Objects at/above this take the multipart
# upload_part_copy path (parameterized so the drill can exercise it
# without a 5 GiB fixture).
_COPY_OBJECT_LIMIT = 5 * 1024**3


def rotate_envelope_keys(
    spark: SparkSession,
    cfg: IngestConfig,
    old_private_key_pem: bytes,
    new_public_key_pem: bytes,
    new_key_id: str,
    key_provider: Callable[[], bytes] | None = None,
    audit_path: str | None = None,
    multipart_threshold: int = _COPY_OBJECT_LIMIT,
    multipart_part_size: int = _COPY_OBJECT_LIMIT,
) -> int:
    """Re-wrap every object under the configured prefix from the retiring
    master key to ``new_public_key_pem`` / ``new_key_id``. Returns the
    number of objects rewrapped (objects already on the new key id are
    skipped, as are stray objects without envelope metadata — see the
    module docstring). Payload bytes are untouched (server-side copy;
    multipart upload_part_copy above ``multipart_threshold``)."""
    tune(spark)
    keys_df, n_keys = list_objects(spark, cfg)
    if not n_keys:
        return 0
    bucket = cfg.s3_bucket

    def rewrap(batches: Iterator) -> Iterator:
        import pandas as pd

        s3 = s3_client(cfg)
        pem = key_provider() if key_provider is not None else old_private_key_pem
        new_key = EnvelopeEncryptor(new_public_key_pem, new_key_id)

        def copy_with_new_meta(key: str, size: int, meta: dict) -> None:
            if size < multipart_threshold:
                s3.copy_object(
                    Bucket=bucket,
                    Key=key,
                    CopySource={"Bucket": bucket, "Key": key},
                    Metadata=meta,
                    MetadataDirective="REPLACE",
                )
                return
            # Above the CopyObject cap: multipart copy. Metadata rides on
            # create_multipart_upload; each part is a server-side range
            # copy of the source body — still zero payload bytes here.
            mpu = s3.create_multipart_upload(
                Bucket=bucket, Key=key, Metadata=meta
            )
            parts = []
            try:
                starts = range(0, size, multipart_part_size)
                for part_no, start in enumerate(starts, 1):
                    end = min(start + multipart_part_size, size) - 1
                    res = s3.upload_part_copy(
                        Bucket=bucket,
                        Key=key,
                        UploadId=mpu["UploadId"],
                        PartNumber=part_no,
                        CopySource={"Bucket": bucket, "Key": key},
                        CopySourceRange=f"bytes={start}-{end}",
                    )
                    etag = res["CopyPartResult"]["ETag"]
                    parts.append({"PartNumber": part_no, "ETag": etag})
                s3.complete_multipart_upload(
                    Bucket=bucket,
                    Key=key,
                    UploadId=mpu["UploadId"],
                    MultipartUpload={"Parts": parts},
                )
            except Exception:
                s3.abort_multipart_upload(
                    Bucket=bucket, Key=key, UploadId=mpu["UploadId"]
                )
                raise

        for pdf in batches:
            rows = []
            for key in pdf["s3_key"]:
                head = s3.head_object(Bucket=bucket, Key=key)
                meta = head["Metadata"]
                if not set(ENVELOPE_FIELDS).issubset(meta):
                    # Stray/partial object: report, never crash the run.
                    rows.append((key, False, "skipped_no_envelope"))
                elif meta["datakeyencryptionkeyid"] == new_key_id:
                    rows.append((key, False, "already_current"))
                else:
                    meta = new_key.rewrap(meta, pem)
                    copy_with_new_meta(key, int(head["ContentLength"]), meta)
                    rows.append((key, True, "rotated"))
            yield pd.DataFrame(rows, columns=["s3_key", "rotated", "status"])

    report: DataFrame = keys_df.mapInPandas(rewrap, schema=_ROT_SCHEMA)
    counts = {
        r["status"]: r["n"]
        for r in report.groupBy("status").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n_rotated = int(counts.get("rotated", 0))
    n_skipped = int(counts.get("skipped_no_envelope", 0))
    if audit_path is not None:
        from ..incremental.audit import record_audit

        record_audit(
            spark,
            audit_path,
            "rotate_envelope_keys",
            n_rotated,
            f"bucket={cfg.s3_bucket} prefix={cfg.s3_prefix}"
            f" new_key_id={new_key_id} objects={n_keys}"
            f" skipped_no_envelope={n_skipped}",
        )
    return n_rotated
