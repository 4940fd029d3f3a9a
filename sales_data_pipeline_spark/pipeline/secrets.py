"""At-rest credential encryption for pipeline config files.

The reference AES-encrypts its AWS keys before putting them in config
(`/root/reference/src/main/utility/encrypt_decrypt.py:22-40`: PBKDF2 at
1000 iterations with a HARDCODED salt and IV, unauthenticated CBC,
manual padding). This is the engine counterpart with the classic flaws
fixed rather than replicated:

- PBKDF2-HMAC-SHA256 at 600k iterations (OWASP 2023 guidance) with a
  RANDOM per-token salt — the reference's fixed salt+IV means equal
  plaintexts produce equal ciphertexts forever;
- AES-256-GCM (authenticated): a flipped bit anywhere in the token is
  a loud ValueError, not silently-corrupt credentials (CBC without a
  MAC is malleable);
- the token is self-contained (version | salt | nonce | ciphertext,
  urlsafe base64) so rotation needs no side-channel config.

Scope note: for S3/cloud access the right answer is usually NO stored
secret at all — s3a picks up instance profiles / env / shared config
through its provider chain (see pipeline/fs.py). This module exists
for the remaining real case: third-party API keys and JDBC passwords
that must live in a config file at rest (the reference's actual use).

``cryptography`` ships in most Spark images but is not part of this
engine's hard dependencies — the import is gated and raises a clear
error naming the missing wheel.
"""

from __future__ import annotations

import base64
import os

_PBKDF2_ITERATIONS = 600_000
_SALT_LEN = 16
_NONCE_LEN = 12
_VERSION = b"\x01"


def _aesgcm(passphrase: str, salt: bytes):
    try:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM
        from cryptography.hazmat.primitives.hashes import SHA256
        from cryptography.hazmat.primitives.kdf.pbkdf2 import PBKDF2HMAC
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ImportError(
            "pipeline.secrets needs the 'cryptography' package "
            "(pip install cryptography) — not installed in this runtime"
        ) from e
    kdf = PBKDF2HMAC(
        algorithm=SHA256(), length=32, salt=salt, iterations=_PBKDF2_ITERATIONS
    )
    return AESGCM(kdf.derive(passphrase.encode("utf-8")))


def encrypt_secret(plaintext: str, passphrase: str) -> str:
    """Encrypt a secret string under a passphrase → urlsafe-base64
    token (version | salt | nonce | GCM ciphertext+tag). Fresh random
    salt and nonce per call: encrypting the same secret twice yields
    different tokens (the reference's fixed salt/IV did not)."""
    salt = os.urandom(_SALT_LEN)
    nonce = os.urandom(_NONCE_LEN)
    ct = _aesgcm(passphrase, salt).encrypt(nonce, plaintext.encode("utf-8"), _VERSION)
    return base64.urlsafe_b64encode(_VERSION + salt + nonce + ct).decode("ascii")


def decrypt_secret(token: str, passphrase: str) -> str:
    """Inverse of :func:`encrypt_secret`. Any tamper — wrong
    passphrase, flipped ciphertext bit, truncated token — raises
    ValueError (decode errors must be loud, never garbage creds)."""
    try:
        raw = base64.urlsafe_b64decode(token.encode("ascii"))
    except Exception as e:
        raise ValueError(f"malformed secret token: {e}") from e
    if len(raw) < 1 + _SALT_LEN + _NONCE_LEN + 16 or raw[:1] != _VERSION:
        raise ValueError("malformed secret token (bad version/length)")
    salt = raw[1 : 1 + _SALT_LEN]
    nonce = raw[1 + _SALT_LEN : 1 + _SALT_LEN + _NONCE_LEN]
    ct = raw[1 + _SALT_LEN + _NONCE_LEN :]
    try:
        pt = _aesgcm(passphrase, salt).decrypt(nonce, ct, _VERSION)
    except Exception as e:
        raise ValueError(
            "secret token failed authentication (wrong passphrase or "
            "tampered token)"
        ) from e
    return pt.decode("utf-8")
