"""The envelope format, byte-compatible with the reference pipeline.

The reference (`audit_data_ingest.py:107-126`) per file:
  1. generates a fresh 16-byte session key → AES-128 (`:109`),
  2. wraps it with RSA-OAEP-SHA256 ("compatible with DKS", `:110-113`),
  3. AES-EAX-encrypts `zlib.compress(content)` (`:115,:119-120`) calling
     ``encrypt()`` only — the EAX auth tag is never persisted (quirk kept:
     decryption works, integrity check impossible),
  4. emits metadata ``{iv, ciphertext, datakeyencryptionkeyid}`` (`:121-125`)
     where ``iv`` is the 16-byte EAX nonce, b64.

Every decision of that format lives here once: the OAEP padding (wrap,
unwrap and re-wrap), the EAX-CTR set-up, the compress+encrypt transform
and the metadata field names.

pycryptodome is not available here, so the EAX *encryption* transform is
built from the public EAX spec (Bellare–Rogaway–Wagner 2003) on top of the
``cryptography`` primitives: EAX ciphertext = AES-CTR keyed on the session
key with initial counter block N' = OMAC^0_K(nonce), where OMAC^t_K(m) =
CMAC_K([t]₁₆ ∥ m). Since the reference discards the tag, CTR+OMAC^0 is the
entire wire format.
"""

from __future__ import annotations

import base64
import io
import os
import zlib
from dataclasses import dataclass

from cryptography.hazmat.primitives import hashes, serialization
from cryptography.hazmat.primitives.asymmetric import padding
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from cryptography.hazmat.primitives.cmac import CMAC

# The 3-field S3 object metadata of the reference (`audit_data_ingest.py:
# 121-125`; 3 fields asserted by its test, `tests/test_audit_data_ingest.py:26`):
# the b64 EAX nonce, the b64 RSA-wrapped session key, the HSM key id.
ENVELOPE_FIELDS = ("iv", "ciphertext", "datakeyencryptionkeyid")

# RSA-OAEP with SHA-256 hash and SHA-256 MGF1, matching
# PKCS1_OAEP.new(key, hashAlgo=SHA256, mgfunc=MGF1-SHA256) (`:110-113`).
_OAEP = padding.OAEP(
    mgf=padding.MGF1(algorithm=hashes.SHA256()),
    algorithm=hashes.SHA256(),
    label=None,
)

_CHUNK = 8 * 1024 * 1024  # source read granularity of the streamed transform


def _metadata(iv: str, wrapped_key: str, key_id: str) -> dict[str, str]:
    return dict(zip(ENVELOPE_FIELDS, (iv, wrapped_key, key_id)))


def _omac(key: bytes, tag: int, data: bytes) -> bytes:
    """OMAC^tag_K(data) = CMAC_K([tag]_16 || data) per the EAX spec."""
    c = CMAC(algorithms.AES(key))
    c.update(tag.to_bytes(16, "big") + data)
    return c.finalize()


def _eax_ctr(key: bytes, nonce: bytes):
    """The EAX keystream: AES-CTR from the initial block OMAC^0_K(nonce)."""
    return Cipher(algorithms.AES(key), modes.CTR(_omac(key, 0, nonce))).encryptor()


def eax_encrypt(key: bytes, nonce: bytes, plaintext: bytes) -> bytes:
    """AES-EAX ciphertext stream (no tag — matching the reference's use of
    ``encrypt()`` without ``digest()``, `audit_data_ingest.py:120`)."""
    enc = _eax_ctr(key, nonce)
    return enc.update(plaintext) + enc.finalize()


def eax_decrypt(key: bytes, nonce: bytes, ciphertext: bytes) -> bytes:
    """Inverse of :func:`eax_encrypt` (CTR is an involution)."""
    return eax_encrypt(key, nonce, ciphertext)


def unwrap_session_key(private_key_pem: bytes, wrapped_b64: str) -> bytes:
    """The session key from a ``ciphertext`` metadata field."""
    priv = serialization.load_pem_private_key(private_key_pem, password=None)
    return priv.decrypt(base64.b64decode(wrapped_b64), _OAEP)


def decrypt_object(private_key_pem: bytes, metadata: dict, body: bytes) -> bytes:
    """The read side of the envelope: RSA-unwrap, EAX-decrypt, inflate."""
    session_key = unwrap_session_key(private_key_pem, metadata["ciphertext"])
    nonce = base64.b64decode(metadata["iv"])
    return zlib.decompress(eax_decrypt(session_key, nonce, body))


class _CompressEncryptStream(io.RawIOBase):
    """File-like view of compress(zlib)+encrypt(EAX-CTR) applied lazily to a
    source stream — the only compress+encrypt transform. The whole-blob path
    reads it to the end; the large-file path hands it to boto3's multipart
    uploader, so memory stays O(chunk + compressor state). CTR keeps a
    running keystream, so the two give byte-identical ciphertext.
    ``bytes_out`` counts the ciphertext bytes read so far."""

    def __init__(self, src, session_key: bytes, nonce: bytes):
        self._src = src
        self._comp = zlib.compressobj()
        self._enc = _eax_ctr(session_key, nonce)
        self._buf = bytearray()
        self._eof = False
        self.bytes_out = 0

    def readable(self) -> bool:  # pragma: no cover - io protocol
        return True

    def _fill(self, want: int) -> None:
        while not self._eof and len(self._buf) < want:
            chunk = self._src.read(_CHUNK)
            if chunk:
                self._buf += self._enc.update(self._comp.compress(chunk))
            else:
                tail = self._comp.flush()
                self._buf += self._enc.update(tail) + self._enc.finalize()
                self._eof = True

    def read(self, size: int = -1) -> bytes:
        if size is None or size < 0:
            size = 1 << 62
        self._fill(size)
        out = bytes(self._buf[:size])
        del self._buf[:size]
        self.bytes_out += len(out)
        return out


@dataclass(frozen=True)
class EncryptedRecord:
    ciphertext: bytes
    iv: str  # base64 EAX nonce              (metadata key "iv")
    encrypted_key: str  # base64 RSA-wrapped session key  (metadata key "ciphertext")
    key_id: str  # HSM key id             (metadata key "datakeyencryptionkeyid")

    def metadata(self) -> dict[str, str]:
        """Exactly the 3-field S3 object metadata (``ENVELOPE_FIELDS``)."""
        return _metadata(self.iv, self.encrypted_key, self.key_id)


class EnvelopeEncryptor:
    """Per-object compress+encrypt kernel, usable inside executor tasks.

    Construct once per partition (or broadcast the pubkey bytes and construct
    lazily); each ``seal`` / ``encrypt_record`` call draws a fresh session
    key and nonce, mirroring the per-file loop of the reference
    (`audit_data_ingest.py:107-126`).

    ``rng`` is injectable for deterministic tests (nonce/key seams — the
    testability the reference lacked, SURVEY.md §5).
    """

    def __init__(self, rsa_public_key_pem: bytes, key_id: str, rng=os.urandom):
        self._pub = serialization.load_pem_public_key(rsa_public_key_pem)
        self._key_id = key_id
        self._rng = rng

    def _wrap(self, session_key: bytes) -> str:
        return base64.b64encode(self._pub.encrypt(session_key, _OAEP)).decode("ascii")

    def seal(self, src) -> tuple[_CompressEncryptStream, dict[str, str]]:
        """One object's envelope: the lazy ciphertext stream over the
        readable ``src`` and its 3-field metadata."""
        session_key = self._rng(16)  # AES-128, `audit_data_ingest.py:109`
        nonce = self._rng(16)  # EAX default nonce size, surfaced as "iv"
        iv = base64.b64encode(nonce).decode("ascii")
        return (
            _CompressEncryptStream(src, session_key, nonce),
            _metadata(iv, self._wrap(session_key), self._key_id),
        )

    def encrypt_record(self, content: bytes) -> EncryptedRecord:
        stream, meta = self.seal(io.BytesIO(content))
        return EncryptedRecord(stream.read(), *meta.values())

    def rewrap(self, metadata: dict, private_key_pem: bytes) -> dict[str, str]:
        """``metadata`` moved to this encryptor's master key: the session
        key is unwrapped with the retiring private key and wrapped again;
        the nonce (and so the body) is untouched."""
        session_key = unwrap_session_key(private_key_pem, metadata["ciphertext"])
        wrapped = self._wrap(session_key)
        return {**metadata, **_metadata(metadata["iv"], wrapped, self._key_id)}
