"""Reversible payload encryption — the engine's opaque-bytes transform
exemplar (SURVEY §2.8 F9).

Reference: AES-256-CBC CMS envelope with PBKDF2 (PKCS5 v2, salt+iterations)
used to stash the original attributes inside the deidentified object for
later re-identification (``util/Encryption.java:44-78``; applied
``DeidentifyEncryptDICOM.java:425-443``, inverted
``DecryptReidentifyDICOM.java:147-152``).

Spark-first shape: **vectorized pandas UDFs over BinaryType** — Arrow moves
the byte payloads in columnar batches; the cipher runs inside the batch (the
"no per-row Python in the plan" rule means no row-at-a-time Python UDF
*boundary*; the kernel itself is necessarily per-value, like the reference's
per-object Java loop).

Determinism deviation, by design: the reference draws a random salt per
envelope; here the KDF salt is derived from the password alone and per-VALUE
uniqueness comes from the IV, so encryption is a pure function — replaying
an epoch produces byte-identical envelopes and the idempotent MERGE stays a
no-op (the engine-wide determinism rule, SURVEY §7.1.3) — and the
deliberately-slow PBKDF2 runs once per password, not once per row.

**IV derivation (v3)**: the IV is ``HMAC(password, identity)`` where
``identity`` is the row's key (e.g. ``conv_id‖turn_idx``) — still a pure
function of replayed inputs, so replay stays idempotent, but two rows with
EQUAL plaintext no longer produce byte-identical envelopes (the v2 scheme
derived the IV from the plaintext itself, which made the whole column an
equality oracle: identical envelopes ⇔ identical plaintexts). Calling
``encrypt_payload`` without an identity column keeps the v2
plaintext-derived IV for compatibility — equality-disclosing, so it now
raises :class:`CryptoEqualityLeakWarning` at plan-build time. Because the
IV is a pure function of (password, identity), re-encrypting an UPDATED
payload under a key-only identity reuses the key+IV pair across row
versions — include ``op_seq``/epoch in the identity (see
:func:`encrypt_payload`) when old versions remain readable via time
travel.

The envelope is authenticated: an HMAC-SHA256 tag (truncated to 16 bytes)
over iv‖ciphertext, keyed by the AES key, is appended. Decrypting with a
wrong password (or a corrupted envelope) fails the tag check and
deterministically returns null — without the tag, PKCS7 unpadding passes
with ~1/256 probability per value and silently returns garbage.

Envelope layouts (all decryptable; the magic selects the slice rules):

* ``NDS3`` ‖ salt(16) ‖ iv(16) ‖ AES-256-CBC(PKCS7(pt)) ‖ hmac_tag(16) —
  identity-derived IV (current format for identity-keyed encryption);
* ``NDS2`` — same layout, plaintext-derived IV (emitted when no identity is
  given; also every envelope written by v0.2.x);
* ``NDS1`` — salt(16) ‖ iv(16) ‖ ct, NO tag (v0.1.0 legacy). Decrypted via
  an unauthenticated branch so old data stays readable: wrong-password
  detection degrades to the PKCS7 pad check (~1/256 false-accept), which is
  exactly the v1 behavior — re-encrypt to upgrade.
"""

from __future__ import annotations

import hashlib
import hmac
import warnings
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

class CryptoEqualityLeakWarning(UserWarning):
    """Raised when the column-level API is used in a mode that discloses
    plaintext equality (v2 plaintext-derived IV) — see
    :func:`encrypt_payload`."""


MAGIC_V3 = b"NDS3"  # identity-derived IV (no plaintext-equality disclosure)
MAGIC_V2 = b"NDS2"  # plaintext-derived IV, authenticated
MAGIC_V1 = b"NDS1"  # legacy: plaintext-derived IV, UNauthenticated
_TAGGED_MAGICS = (MAGIC_V3, MAGIC_V2)
_ITERATIONS = 10_000  # reference default ballpark; PBKDF2 cost knob


@lru_cache(maxsize=64)
def _derive_key(password: str, salt: bytes) -> bytes:
    """PBKDF2 is deliberately slow (10k SHA-256 rounds); cached because the
    engine derives ONE key per (password, column-salt) — bulk-column
    practice (cf. parquet modular encryption) — with per-VALUE uniqueness
    coming from the IV, not the salt. A per-row salt would put one full
    PBKDF2 in every row's hot path (measured: 43 s for 5k rows)."""
    return hashlib.pbkdf2_hmac("sha256", password.encode(), salt, _ITERATIONS, 32)


def _column_salt(password: str) -> bytes:
    return hmac.new(password.encode(), b"nds1-column-salt", hashlib.sha256).digest()[
        :16
    ]


def _encrypt_one(
    password: str, plaintext: bytes, identity: bytes | None = None
) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from cryptography.hazmat.primitives.padding import PKCS7

    salt = _column_salt(password)
    if identity is not None:
        # v3: IV keyed by ROW IDENTITY — deterministic for replay (same
        # (password, identity) → same IV) without disclosing cross-row
        # plaintext equality
        iv = hmac.new(
            password.encode(), b"nds3-iv\x00" + identity, hashlib.sha256
        ).digest()[:16]
        magic = MAGIC_V3
    else:
        # v2 compatibility: IV from the plaintext — byte-identical envelopes
        # for equal plaintexts (an equality oracle; pass an identity column
        # to avoid it)
        iv = hmac.new(password.encode(), plaintext, hashlib.sha256).digest()[:16]
        magic = MAGIC_V2
    key = _derive_key(password, salt)
    padder = PKCS7(128).padder()
    padded = padder.update(plaintext) + padder.finalize()
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    ct = enc.update(padded) + enc.finalize()
    tag = hmac.new(key, iv + ct, hashlib.sha256).digest()[:16]
    return magic + salt + iv + ct + tag


def _decrypt_one(password: str, envelope: bytes) -> bytes | None:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from cryptography.hazmat.primitives.padding import PKCS7

    if envelope is None or len(envelope) < 36:
        return None  # the reference's "detect" path: not an envelope
    magic = bytes(envelope[:4])
    if magic in _TAGGED_MAGICS and len(envelope) >= 52:
        salt, iv = envelope[4:20], envelope[20:36]
        ct, tag = envelope[36:-16], envelope[-16:]
        key = _derive_key(password, salt)
        want = hmac.new(key, iv + ct, hashlib.sha256).digest()[:16]
        if not hmac.compare_digest(tag, want):
            return None  # wrong key / corrupt envelope → deterministic null
        dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
        try:
            padded = dec.update(ct) + dec.finalize()
            unpadder = PKCS7(128).unpadder()
            return unpadder.update(padded) + unpadder.finalize()
        except ValueError:
            return None  # unreachable post-tag-check; defense in depth
    if magic == MAGIC_V1:
        # legacy migration branch: v0.1.0 envelopes have no tag — decrypt
        # unauthenticated (pad-check only) so pre-upgrade data is readable
        # rather than silently treated as foreign
        salt, iv, ct = envelope[4:20], envelope[20:36], envelope[36:]
        if not ct or len(ct) % 16:
            return None
        key = _derive_key(password, salt)
        dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
        try:
            padded = dec.update(ct) + dec.finalize()
            unpadder = PKCS7(128).unpadder()
            return unpadder.update(padded) + unpadder.finalize()
        except ValueError:
            return None  # wrong password (1/256 false-accept — v1 semantics)
    return None  # foreign payload: no known magic


def encrypt_payload(
    col: str | Column, password: str, identity: str | Column | None = None
) -> Column:
    """BinaryType → BinaryType AES envelope (Arrow-batched).

    Pass ``identity`` (a column UNIQUE per row AND per row VERSION, e.g.
    ``F.concat_ws("|", "conv_id", "turn_idx", "op_seq")``) to key the IV by
    row identity (v3 envelopes — no cross-row plaintext-equality
    disclosure). Rows whose identity is NULL fall back to the v2
    plaintext-derived IV for that row (a constant IV for all null-identity
    rows would be WORSE than v2: CBC with equal key+IV reveals common
    plaintext prefixes, not just whole-value equality). The same
    prefix-disclosure applies whenever two encryptions SHARE an identity
    value — across rows when the column is not actually unique, and ACROSS
    VERSIONS OF THE SAME ROW when an update re-encrypts a changed payload
    under an identity built only from the key: old envelopes stay readable
    via time travel until vacuum, and an observer holding both versions
    learns the length of the common plaintext prefix. Fold a monotone
    version component that is stable under replay — ``op_seq`` or the
    commit epoch — into the identity to close that channel (decryption
    never recomputes the IV, so this costs nothing at read time).

    Without ``identity``, v2 envelopes are emitted (plaintext-derived IV:
    equal plaintexts ⇒ byte-equal envelopes — a column-wide equality
    oracle) and a ``CryptoEqualityLeakWarning`` is raised at plan-build
    time so the leak can't be re-opened by simple omission; suppress it
    only for deliberate v2-compatibility writes."""
    c = F.col(col) if isinstance(col, str) else col
    if identity is None:
        warnings.warn(
            "encrypt_payload called without identity: emitting v2 envelopes "
            "whose plaintext-derived IV makes equal plaintexts byte-equal "
            "(an equality oracle). Pass identity=<key ‖ op_seq> for v3.",
            CryptoEqualityLeakWarning,
            stacklevel=2,
        )

        @F.pandas_udf(T.BinaryType())
        def _enc(s: pd.Series) -> pd.Series:
            return s.map(
                lambda p: None if p is None else _encrypt_one(password, bytes(p))
            )

        return _enc(c)

    ident = (F.col(identity) if isinstance(identity, str) else identity).cast(
        "string"
    )

    @F.pandas_udf(T.BinaryType())
    def _enc_id(s: pd.Series, ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if p is None
                else _encrypt_one(
                    password,
                    bytes(p),
                    # null identity → per-row v2 fallback (plaintext IV),
                    # never a shared constant IV
                    i.encode() if i is not None else None,
                )
                for p, i in zip(s, ids)
            ]
        )

    return _enc_id(c, ident)


def decrypt_payload(col: str | Column, password: str) -> Column:
    """Inverse of :func:`encrypt_payload`; non-envelopes decrypt to null
    (detect-then-decrypt, ``DecryptReidentifyDICOM.java:147-152``). Accepts
    v3/v2 (authenticated) and legacy v1 (unauthenticated) envelopes."""

    @F.pandas_udf(T.BinaryType())
    def _dec(s: pd.Series) -> pd.Series:
        return s.map(lambda p: None if p is None else _decrypt_one(password, bytes(p)))

    return _dec(F.col(col) if isinstance(col, str) else col)


def is_envelope(col: str | Column) -> Column:
    """Cheap JVM-side detect predicate (no Python): magic-prefix check
    across all three envelope generations."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.substring(c, 1, 4)
    return (
        (m == F.lit(MAGIC_V3)) | (m == F.lit(MAGIC_V2)) | (m == F.lit(MAGIC_V1))
    )
