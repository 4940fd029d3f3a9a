"""Credential-encryption utility (pipeline/secrets.py) — round-trip,
authentication (tamper/wrong-passphrase loudness), token freshness.
No Spark involved: pure driver-side config handling, the engine
counterpart of the reference's encrypt_decrypt.py."""

from __future__ import annotations

import base64

import pytest

from sales_data_pipeline_spark.pipeline.secrets import decrypt_secret, encrypt_secret


def test_roundtrip_including_unicode():
    for secret in ("hunter2", "pässwörd-✓", "", "x" * 10_000):
        tok = encrypt_secret(secret, "master-pass")
        assert decrypt_secret(tok, "master-pass") == secret


def test_tokens_are_fresh_per_call():
    """Random salt+nonce: the same plaintext never maps to the same
    token (the reference's hardcoded salt/IV made ciphertexts stable —
    an equality oracle over the config history)."""
    toks = {encrypt_secret("same secret", "p") for _ in range(5)}
    assert len(toks) == 5


def test_wrong_passphrase_and_tamper_are_loud():
    tok = encrypt_secret("db-password", "right")
    with pytest.raises(ValueError, match="authentication"):
        decrypt_secret(tok, "wrong")
    raw = bytearray(base64.urlsafe_b64decode(tok))
    raw[-1] ^= 0x01  # flip one ciphertext/tag bit
    tampered = base64.urlsafe_b64encode(bytes(raw)).decode()
    with pytest.raises(ValueError, match="authentication"):
        decrypt_secret(tampered, "right")
    with pytest.raises(ValueError, match="malformed"):
        decrypt_secret("not-base64!!", "right")
    with pytest.raises(ValueError, match="malformed"):
        decrypt_secret(base64.urlsafe_b64encode(b"\x09short").decode(), "right")


