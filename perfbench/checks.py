"""Output checks, run outside the timed region: ingest objects against
their source files, queries against the DuckDB oracle, the CDC rollup
against its closed form."""

from __future__ import annotations

import base64
import json
import os
import urllib.request
import zlib

from cryptography.hazmat.primitives import hashes, serialization
from cryptography.hazmat.primitives.asymmetric import padding, rsa

OAEP = padding.OAEP(mgf=padding.MGF1(algorithm=hashes.SHA256()),
                    algorithm=hashes.SHA256(), label=None)


def rsa_keypair() -> tuple[bytes, bytes]:
    """A fresh 2048-bit RSA key pair (PEM public, PEM private). Key
    material comes from the OS RNG: the program draws its session keys
    and nonces from it too, so no output check depends on it."""
    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    pub = key.public_key().public_bytes(
        serialization.Encoding.PEM, serialization.PublicFormat.SubjectPublicKeyInfo)
    priv = key.private_bytes(serialization.Encoding.PEM,
                             serialization.PrivateFormat.PKCS8,
                             serialization.NoEncryption())
    return pub, priv


class Stub:
    """Client of the S3 stand-in's control and GET routes."""

    def __init__(self, port: int) -> None:
        self.base = f"http://127.0.0.1:{port}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return r.read(), dict(r.headers)

    def stats(self) -> dict:
        return json.loads(self._get("/__stats")[0])

    def keys(self) -> list[str]:
        return json.loads(self._get("/__keys")[0])

    def get(self, bucket_key: str) -> tuple[bytes, dict[str, str]]:
        body, headers = self._get("/" + bucket_key)
        meta = {k.lower()[len("x-amz-meta-"):]: v for k, v in headers.items()
                if k.lower().startswith("x-amz-meta-")}
        return body, meta

    def clear(self) -> None:
        req = urllib.request.Request(self.base + "/__clear", data=b"", method="POST")
        urllib.request.urlopen(req, timeout=60).read()


def decrypt_object(priv, body: bytes, meta: dict[str, str]) -> bytes:
    """Unwrap the session key with the private key, AES-EAX-decrypt with
    the program's ``eax_decrypt`` and inflate."""
    from dataworks_audit_data_ingest_spark.ingest.crypto import eax_decrypt

    key = priv.decrypt(base64.b64decode(meta["ciphertext"]), OAEP)
    return zlib.decompress(eax_decrypt(key, base64.b64decode(meta["iv"]), body))


def check_ingest(stub: Stub, bucket: str, prefix: str, expected: dict[str, str],
                 key_id: str, priv_pem: bytes) -> set[str]:
    """``expected`` maps ``day/basename`` to the source file path. Every
    object under ``bucket/prefix`` must be one of them, landed at
    ``{prefix}{day}/{basename}.gz.enc`` with exactly the three metadata
    fields, and decrypt to the source bytes. Returns the failed relpaths
    (missing, corrupt, mis-keyed); an unexpected object fails as its key."""
    priv = serialization.load_pem_private_key(priv_pem, password=None)
    want = {f"{bucket}/{prefix}{rel}.gz.enc": rel for rel in expected}
    have = [k for k in stub.keys() if k.startswith(f"{bucket}/{prefix}")]
    failed = {rel for k, rel in want.items() if k not in have}
    failed |= {k for k in have if k not in want}
    for k in have:
        rel = want.get(k)
        if rel is None:
            continue
        body, meta = stub.get(k)
        try:
            ok = (set(meta) == {"iv", "ciphertext", "datakeyencryptionkeyid"}
                  and meta["datakeyencryptionkeyid"] == key_id)
            if ok:
                with open(expected[rel], "rb") as fh:
                    ok = decrypt_object(priv, body, meta) == fh.read()
        except (ValueError, KeyError, zlib.error):
            ok = False
        if not ok:
            failed.add(rel)
    return failed


def check_progress(progress_file: str, day: str) -> bool:
    try:
        with open(progress_file) as fh:
            return fh.read().strip() == day
    except OSError:
        return False


def oracle_module(root: str):
    """``tools/check_oracle.py`` of the checkout, imported read-only."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(oracle, con, sql: str, schema, cols: list[str], rows: list[tuple]) -> bool:
    """Same verdict as ``check_oracle.main`` for one query: dtype classes,
    sorted column names, row count and order-insensitive exact values."""
    if oracle.dtype_class_diffs(schema, con, sql):
        return False
    cur = con.execute(sql)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    return oracle._canon(cols, rows) == oracle._canon(d_cols, d_rows)


CDC_SQL = """
SELECT c.c_mktsegment, o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total,
       CAST(MIN(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vmin,
       CAST(MAX(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vmax
FROM final_orders o JOIN final_cust c ON c.c_custkey = o.c_custkey
GROUP BY 1, 2
"""


def cdc_expected(final_orders: dict, final_cust: dict) -> list[tuple]:
    """The closed-form final rollup, computed by DuckDB from the generated
    final state."""
    import duckdb
    import pyarrow as pa

    fo = pa.table({
        "o_orderkey": [r[0] for r in final_orders.values()],
        "c_custkey": [r[1] for r in final_orders.values()],
        "o_totalprice": [r[2] for r in final_orders.values()],
        "o_orderpriority": [r[3] for r in final_orders.values()],
    })
    fc = pa.table({
        "c_custkey": [r[0] for r in final_cust.values()],
        "c_mktsegment": [r[1] for r in final_cust.values()],
    })
    con = duckdb.connect()
    con.register("final_orders", fo)
    con.register("final_cust", fc)
    return sorted(tuple(r) for r in con.execute(CDC_SQL).fetchall())
