"""Decrypt source — the read side of the envelope contract.

The reference only writes; its consumers (the "analytical environment",
reference README.md:10-18) must reverse the envelope: RSA-unwrap the session
key from object metadata, AES-EAX-decrypt, zlib-inflate. This module makes
that a Spark source: list the S3 prefix driver-side (keys only), then one
task per batch of objects fetches + decrypts with Arrow-batched output —
payloads never pass through the driver.

Key distribution: the RSA *private* key PEM travels to executors inside the
task closure. On a real cluster that closure moves over Spark's RPC — run
with ``spark.io.encryption.enabled`` / ``spark.authenticate`` or fetch the
key per-executor from the HSM/KMS instead (the seam is ``key_provider``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..session import tune
from .crypto import decrypt_object
from .pipeline import IngestConfig, list_objects, parse_object_key, s3_client

_DEC_SCHEMA = "s3_key string, day string, basename string, payload binary"


def read_encrypted_objects(
    spark: SparkSession,
    cfg: IngestConfig,
    private_key_pem: bytes,
    key_provider: Callable[[], bytes] | None = None,
) -> DataFrame:
    """DataFrame of decrypted payloads for every object under the configured
    prefix: (s3_key, day, basename, payload).

    Listing is a driver-side metadata pass (``list_objects``); object
    bodies are fetched and decrypted by executor tasks. ``key_provider``
    (executor-side callable) overrides the closure-shipped private key for
    KMS-style deployments — without it the PEM travels inside the task
    closure, so RPC encryption should be on (warned below).
    """
    tune(spark)
    if key_provider is None and (
        spark.conf.get("spark.io.encryption.enabled", "false").lower() != "true"
    ):
        import logging

        logging.getLogger(__name__).warning(
            "read_encrypted_objects: RSA private key ships to executors in "
            "the task closure and spark.io.encryption.enabled is not true — "
            "the key crosses the wire unencrypted. Pass key_provider= (an "
            "executor-side fetch, e.g. from KMS/SSM) or enable RPC "
            "encryption in production."
        )
    keys_df, _ = list_objects(spark, cfg)

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        s3 = s3_client(cfg)
        pem = key_provider() if key_provider is not None else private_key_pem
        for pdf in batches:
            rows = []
            for key in pdf["s3_key"]:
                obj = s3.get_object(Bucket=cfg.s3_bucket, Key=key)
                payload = decrypt_object(pem, obj["Metadata"], obj["Body"].read())
                rows.append((key, *parse_object_key(cfg.s3_prefix, key), payload))
            yield pd.DataFrame(rows, columns=["s3_key", "day", "basename", "payload"])

    return keys_df.mapInPandas(fetch, schema=_DEC_SCHEMA)


def read_encrypted_json(
    spark: SparkSession,
    cfg: IngestConfig,
    private_key_pem: bytes,
    schema,
) -> DataFrame:
    """Decrypted objects parsed as JSON payloads with an explicit schema —
    the full circle back to typed rows (the audit payload shape,
    reference tests/data/audit-data-1.json)."""
    from pyspark.sql import functions as F

    raw = read_encrypted_objects(spark, cfg, private_key_pem)
    return raw.select(
        "s3_key",
        "day",
        F.from_json(F.decode("payload", "UTF-8"), schema).alias("j"),
    ).select("s3_key", "day", "j.*")
