"""Pure-Python FarmHash Fingerprint64 + the Data Commons base32 dcid encoding.

The reference generates content-hash dcids with Guava's
``farmHashFingerprint64`` and a custom 32-char alphabet
(DcidGenerator.java:29-36,354-375 in /root/reference). ``xxhash64``
(Spark's built-in) is NOT bit-compatible, so matching the reference's
dcids requires the real FarmHash Fingerprint64. This module implements
it from the public FarmHash algorithm (Geoff Pike, google/farmhash,
MIT license) — the ``farmhashna::Hash64`` / ``Fingerprint64`` variant —
in pure Python, validated bit-for-bit against Guava on the Spark JVM
(tests/test_farmhash.py).

These functions are the spec. Plans that run on the JVM hash with
Guava itself (``functions/dcids.col_long_id``, import_spark/jvm); the
Python twins serve the oracle and fixtures, the driver-side code that
already holds its keys in Python, and the Python-side stages of the
genmcf plans (``long_id_batch`` below).
"""

from __future__ import annotations

_MASK = 0xFFFFFFFFFFFFFFFF

_K0 = 0xC3A5C85C97CB3127
_K1 = 0xB492B66FBE98F273
_K2 = 0x9AE16A3B2F90404F


def _rotr(v: int, s: int) -> int:
    return ((v >> s) | (v << (64 - s))) & _MASK


def _shift_mix(v: int) -> int:
    return (v ^ (v >> 47)) & _MASK


def _fetch64(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 8], "little")


def _fetch32(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 4], "little")


def _hash_len_16(u: int, v: int, mul: int) -> int:
    a = ((u ^ v) * mul) & _MASK
    a ^= a >> 47
    b = ((v ^ a) * mul) & _MASK
    b ^= b >> 47
    return (b * mul) & _MASK


def _hash_len_0_to_16(s: bytes) -> int:
    n = len(s)
    if n >= 8:
        mul = (_K2 + n * 2) & _MASK
        a = (_fetch64(s, 0) + _K2) & _MASK
        b = _fetch64(s, n - 8)
        c = (_rotr(b, 37) * mul + a) & _MASK
        d = ((_rotr(a, 25) + b) * mul) & _MASK
        return _hash_len_16(c, d, mul)
    if n >= 4:
        mul = (_K2 + n * 2) & _MASK
        a = _fetch32(s, 0)
        return _hash_len_16((n + (a << 3)) & _MASK, _fetch32(s, n - 4), mul)
    if n > 0:
        a = s[0]
        b = s[n >> 1]
        c = s[n - 1]
        y = (a + (b << 8)) & _MASK
        z = (n + (c << 2)) & _MASK
        return (_shift_mix(((y * _K2) & _MASK) ^ ((z * _K0) & _MASK)) * _K2) & _MASK
    return _K2


def _hash_len_17_to_32(s: bytes) -> int:
    n = len(s)
    mul = (_K2 + n * 2) & _MASK
    a = (_fetch64(s, 0) * _K1) & _MASK
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * mul) & _MASK
    d = (_fetch64(s, n - 16) * _K2) & _MASK
    return _hash_len_16(
        (_rotr((a + b) & _MASK, 43) + _rotr(c, 30) + d) & _MASK,
        (a + _rotr((b + _K2) & _MASK, 18) + c) & _MASK,
        mul,
    )


def _hash_len_33_to_64(s: bytes) -> int:
    n = len(s)
    mul = (_K2 + n * 2) & _MASK
    a = (_fetch64(s, 0) * _K2) & _MASK
    b = _fetch64(s, 8)
    c = _fetch64(s, n - 8)
    d = _fetch64(s, n - 16)
    c_mul = (c * mul) & _MASK
    d_k2 = (d * _K2) & _MASK
    y = (_rotr((a + b) & _MASK, 43) + _rotr(c_mul, 30) + d_k2) & _MASK
    z = _hash_len_16(y, (a + _rotr((b + _K2) & _MASK, 18) + c_mul) & _MASK, mul)
    e = (_fetch64(s, 16) * mul) & _MASK
    f = _fetch64(s, 24)
    g = ((y + _fetch64(s, n - 32)) * mul) & _MASK
    h = ((z + _fetch64(s, n - 24)) * mul) & _MASK
    return _hash_len_16(
        (_rotr((e + f) & _MASK, 43) + _rotr(g, 30) + h) & _MASK,
        (e + _rotr((f + a) & _MASK, 18) + g) & _MASK,
        mul,
    )


def _weak_hash_len_32_with_seeds_vals(
    w: int, x: int, y: int, z: int, a: int, b: int
) -> tuple[int, int]:
    a = (a + w) & _MASK
    b = _rotr((b + a + z) & _MASK, 21)
    c = a
    a = (a + x) & _MASK
    a = (a + y) & _MASK
    b = (b + _rotr(a, 44)) & _MASK
    return (a + z) & _MASK, (b + c) & _MASK


def _weak_hash_len_32_with_seeds(s: bytes, pos: int, a: int, b: int) -> tuple[int, int]:
    return _weak_hash_len_32_with_seeds_vals(
        _fetch64(s, pos),
        _fetch64(s, pos + 8),
        _fetch64(s, pos + 16),
        _fetch64(s, pos + 24),
        a,
        b,
    )


def fingerprint64(data: bytes | str) -> int:
    """FarmHash Fingerprint64 of ``data`` as an unsigned 64-bit int.

    Bit-compatible with Guava ``Hashing.farmHashFingerprint64()``
    (what DcidGenerator.java:371-375 uses).
    """
    s = data.encode("utf-8") if isinstance(data, str) else data
    n = len(s)
    if n <= 16:
        return _hash_len_0_to_16(s)
    if n <= 32:
        return _hash_len_17_to_32(s)
    if n <= 64:
        return _hash_len_33_to_64(s)

    seed = 81
    x = seed & _MASK
    y = (seed * _K1 + 113) & _MASK
    z = (_shift_mix((y * _K2 + 113) & _MASK) * _K2) & _MASK
    v0 = v1 = 0
    w0 = w1 = 0
    x = (x * _K2 + _fetch64(s, 0)) & _MASK

    # Process 64-byte chunks, all but the last 64 bytes.
    end = ((n - 1) // 64) * 64
    last64 = n - 64
    pos = 0
    while pos != end:
        x = (_rotr((x + y + v0 + _fetch64(s, pos + 8)) & _MASK, 37) * _K1) & _MASK
        y = (_rotr((y + v1 + _fetch64(s, pos + 48)) & _MASK, 42) * _K1) & _MASK
        x ^= w1
        y = (y + v0 + _fetch64(s, pos + 40)) & _MASK
        z = (_rotr((z + w0) & _MASK, 33) * _K1) & _MASK
        v0, v1 = _weak_hash_len_32_with_seeds(s, pos, (v1 * _K1) & _MASK, (x + w0) & _MASK)
        w0, w1 = _weak_hash_len_32_with_seeds(
            s, pos + 32, (z + w1) & _MASK, (y + _fetch64(s, pos + 16)) & _MASK
        )
        x, z = z, x
        pos += 64

    mul = (_K1 + ((z & 0xFF) << 1)) & _MASK
    pos = last64
    w0 = (w0 + ((n - 1) & 63)) & _MASK
    v0 = (v0 + w0) & _MASK
    w0 = (w0 + v0) & _MASK
    x = (_rotr((x + y + v0 + _fetch64(s, pos + 8)) & _MASK, 37) * mul) & _MASK
    y = (_rotr((y + v1 + _fetch64(s, pos + 48)) & _MASK, 42) * mul) & _MASK
    x ^= (w1 * 9) & _MASK
    y = (y + v0 * 9 + _fetch64(s, pos + 40)) & _MASK
    z = (_rotr((z + w0) & _MASK, 33) * mul) & _MASK
    v0, v1 = _weak_hash_len_32_with_seeds(s, pos, (v1 * mul) & _MASK, (x + w0) & _MASK)
    w0, w1 = _weak_hash_len_32_with_seeds(
        s, pos + 32, (z + w1) & _MASK, (y + _fetch64(s, pos + 16)) & _MASK
    )
    x, z = z, x
    return _hash_len_16(
        (_hash_len_16(v0, w0, mul) + _shift_mix(y) * _K0 + z) & _MASK,
        (_hash_len_16(v1, w1, mul) + x) & _MASK,
        mul,
    )


# Data Commons dcid base32: 32-char alphabet, 5-bit little-endian groups
# of the unsigned 64-bit fingerprint (DcidGenerator.java:29-36,354-369).
DCID_BASE32_ALPHABET = "0123456789bcdfghjklmnpqrstvwxyze"


def base32_long_id(fp: int) -> str:
    """Encode an unsigned 64-bit fingerprint the way DcidGenerator does:
    emit 5 bits at a time (low bits first) until the value is zero."""
    fp &= _MASK
    out = [DCID_BASE32_ALPHABET[fp & 0x1F]]
    fp >>= 5
    while fp:
        out.append(DCID_BASE32_ALPHABET[fp & 0x1F])
        fp >>= 5
    return "".join(out)


def long_id(key_string: str) -> str:
    """farmhash64 → base32, the core content-hash id (DcidGenerator.getLongId)."""
    return base32_long_id(fingerprint64(key_string))


def facet_id(key_string: str) -> str:
    """Unsigned-decimal farmhash64, the TimeSeries facet id encoding
    (pipeline/.../TimeSeries.java:170-191)."""
    return str(fingerprint64(key_string))


# ---------------------------------------------------------------------------
# Vectorized (NumPy) batch implementation
# ---------------------------------------------------------------------------
# The scalar functions above are the spec; these produce identical bits
# for whole key columns at once (the genmcf resolver's assign and the
# StatVar collision check hash a key per node). Rows are
# grouped by exact byte length so every fetch64 offset is fixed per
# group and the whole group is one (n, L) uint8 matrix; uint64 numpy
# arithmetic wraps mod 2^64 exactly like the scalar code. Strings
# longer than 64 bytes (rare for key strings) fall back to the scalar
# path.

import numpy as np  # noqa: E402

_U = np.uint64


def _nfetch64(mat: "np.ndarray", i: int) -> "np.ndarray":
    return np.ascontiguousarray(mat[:, i : i + 8]).view("<u8").ravel()


def _nfetch32(mat: "np.ndarray", i: int) -> "np.ndarray":
    return np.ascontiguousarray(mat[:, i : i + 4]).view("<u4").ravel().astype(np.uint64)


def _nrotr(v, s: int):
    return (v >> _U(s)) | (v << _U(64 - s))


def _nshift_mix(v):
    return v ^ (v >> _U(47))


def _nhash_len_16(u, v, mul):
    a = (u ^ v) * mul
    a ^= a >> _U(47)
    b = (v ^ a) * mul
    b ^= b >> _U(47)
    return b * mul


def _nweak_hash_vals(w, x, y, z, a, b):
    """Vectorized _weak_hash_len_32_with_seeds_vals."""
    a = a + w
    b = _nrotr(b + a + z, 21)
    c = a
    a = a + x
    a = a + y
    b = b + _nrotr(a, 44)
    return a + z, b + c


def _nfp_long(mat: "np.ndarray", n: int) -> "np.ndarray":
    """Fingerprint64 for an (rows, n) byte matrix, n > 64 — the 64-byte
    block loop vectorized across rows (same-length grouping means every
    fetch offset is fixed; the block count n//64 is a tiny Python loop,
    each iteration fully vectorized)."""
    K0, K1, K2 = _U(_K0), _U(_K1), _U(_K2)
    rows = mat.shape[0]
    x = _U((81 * _K2) & _MASK) + _nfetch64(mat, 0)
    y = np.full(rows, _U((81 * _K1 + 113) & _MASK), dtype=np.uint64)
    z = _nshift_mix(y * K2 + _U(113)) * K2
    v0 = np.zeros(rows, dtype=np.uint64)
    v1 = np.zeros(rows, dtype=np.uint64)
    w0 = np.zeros(rows, dtype=np.uint64)
    w1 = np.zeros(rows, dtype=np.uint64)

    def weak32(pos, a, b):
        return _nweak_hash_vals(
            _nfetch64(mat, pos),
            _nfetch64(mat, pos + 8),
            _nfetch64(mat, pos + 16),
            _nfetch64(mat, pos + 24),
            a,
            b,
        )

    end = ((n - 1) // 64) * 64
    last64 = n - 64
    pos = 0
    while pos != end:
        x = _nrotr(x + y + v0 + _nfetch64(mat, pos + 8), 37) * K1
        y = _nrotr(y + v1 + _nfetch64(mat, pos + 48), 42) * K1
        x = x ^ w1
        y = y + v0 + _nfetch64(mat, pos + 40)
        z = _nrotr(z + w0, 33) * K1
        v0, v1 = weak32(pos, v1 * K1, x + w0)
        w0, w1 = weak32(pos + 32, z + w1, y + _nfetch64(mat, pos + 16))
        x, z = z, x
        pos += 64

    mul = K1 + ((z & _U(0xFF)) << _U(1))
    pos = last64
    w0 = w0 + _U((n - 1) & 63)
    v0 = v0 + w0
    w0 = w0 + v0
    x = _nrotr(x + y + v0 + _nfetch64(mat, pos + 8), 37) * mul
    y = _nrotr(y + v1 + _nfetch64(mat, pos + 48), 42) * mul
    x = x ^ (w1 * _U(9))
    y = y + v0 * _U(9) + _nfetch64(mat, pos + 40)
    z = _nrotr(z + w0, 33) * mul
    v0, v1 = weak32(pos, v1 * mul, x + w0)
    w0, w1 = weak32(pos + 32, z + w1, y + _nfetch64(mat, pos + 16))
    x, z = z, x
    return _nhash_len_16(
        _nhash_len_16(v0, w0, mul) + _nshift_mix(y) * K0 + z,
        _nhash_len_16(v1, w1, mul) + x,
        mul,
    )


def _nfp_fixed(mat: "np.ndarray", n: int) -> "np.ndarray":
    """Fingerprint64 for an (rows, n) byte matrix, 1 <= n <= 64."""
    K0, K1, K2 = _U(_K0), _U(_K1), _U(_K2)
    if n >= 33:
        mul = _U((_K2 + n * 2) & _MASK)
        a = _nfetch64(mat, 0) * K2
        b = _nfetch64(mat, 8)
        c = _nfetch64(mat, n - 8)
        d = _nfetch64(mat, n - 16)
        c_mul = c * mul
        d_k2 = d * K2
        y = _nrotr(a + b, 43) + _nrotr(c_mul, 30) + d_k2
        z = _nhash_len_16(y, a + _nrotr(b + K2, 18) + c_mul, mul)
        e = _nfetch64(mat, 16) * mul
        f = _nfetch64(mat, 24)
        g = (y + _nfetch64(mat, n - 32)) * mul
        h = (z + _nfetch64(mat, n - 24)) * mul
        return _nhash_len_16(
            _nrotr(e + f, 43) + _nrotr(g, 30) + h, e + _nrotr(f + a, 18) + g, mul
        )
    if n >= 17:
        mul = _U((_K2 + n * 2) & _MASK)
        a = _nfetch64(mat, 0) * K1
        b = _nfetch64(mat, 8)
        c = _nfetch64(mat, n - 8) * mul
        d = _nfetch64(mat, n - 16) * K2
        return _nhash_len_16(
            _nrotr(a + b, 43) + _nrotr(c, 30) + d, a + _nrotr(b + K2, 18) + c, mul
        )
    if n >= 8:
        mul = _U((_K2 + n * 2) & _MASK)
        a = _nfetch64(mat, 0) + K2
        b = _nfetch64(mat, n - 8)
        c = _nrotr(b, 37) * mul + a
        d = (_nrotr(a, 25) + b) * mul
        return _nhash_len_16(c, d, mul)
    if n >= 4:
        mul = _U((_K2 + n * 2) & _MASK)
        a = _nfetch32(mat, 0)
        return _nhash_len_16(_U(n) + (a << _U(3)), _nfetch32(mat, n - 4), mul)
    # 1..3 bytes
    a = mat[:, 0].astype(np.uint64)
    b = mat[:, n >> 1].astype(np.uint64)
    c = mat[:, n - 1].astype(np.uint64)
    y = a + (b << _U(8))
    z = _U(n) + (c << _U(2))
    return _nshift_mix((y * K2) ^ (z * K0)) * K2


def fingerprint64_batch(values) -> "np.ndarray":
    """Vectorized Fingerprint64 over an iterable/Series of strings.

    Bit-identical to ``fingerprint64`` (tests compare exhaustively).
    """
    enc = [v.encode("utf-8") if isinstance(v, str) else b"" for v in values]
    n = len(enc)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(x) for x in enc), dtype=np.int64, count=n)
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        if L == 0:
            out[idx] = _U(_K2)
        else:
            blob = b"".join(enc[i] for i in idx)
            mat = np.frombuffer(blob, dtype=np.uint8).reshape(-1, L)
            out[idx] = _nfp_long(mat, int(L)) if L > 64 else _nfp_fixed(mat, int(L))
    return out


_B32_LUT = np.array(list(DCID_BASE32_ALPHABET), dtype="<U1")


def long_id_batch(values) -> "np.ndarray":
    """Vectorized base32 long ids (object array of str)."""
    fp = fingerprint64_batch(values)
    n = len(fp)
    if n == 0:
        return np.array([], dtype=object)
    # 13 little-endian 5-bit groups; high zero groups become trailing
    # '0' chars in the string and are stripped (value 0 → "0")
    chars = np.empty((n, 13), dtype="<U1")
    for k in range(13):
        chars[:, k] = _B32_LUT[((fp >> _U(5 * k)) & _U(0x1F)).astype(np.int64)]
    full = np.ascontiguousarray(chars).view("<U13").ravel()
    stripped = np.char.rstrip(full, "0")
    return np.where(stripped == "", "0", stripped).astype(object)
