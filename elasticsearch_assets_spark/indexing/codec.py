"""Posting-list codec: docID delta + variable-byte compression.

Pure numpy (vectorized, no per-row Python loops over documents — the
encode/decode work per BLOCK, inside Arrow-batched pandas UDFs).

Format per block (all little-endian unsigned varbyte):
    docs:  delta-encoded sorted doc_ids (first = zigzag of raw id)
    tfs:   raw term frequencies
    dls:   raw doc lengths

Varbyte: 7 data bits per byte, high bit = continuation.
"""

from __future__ import annotations

import numpy as np


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """Map signed int64 -> unsigned (small magnitudes stay small)."""
    return (v.astype(np.int64) << 1) ^ (v.astype(np.int64) >> 63)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1))).astype(np.uint64)).astype(
        np.int64
    )


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode an array of non-negative uint64 as varbyte; also return the
    per-value encoded byte length so callers can slice the flat stream
    into arbitrary segments (the stream is exactly the concatenation of
    each value's varbytes in value order)."""
    if len(values) == 0:
        return b"", np.zeros(0, dtype=np.int64)
    v = values.astype(np.uint64)
    # vectorized-ish: process per 7-bit chunk layer
    pending = v.copy()
    bufs = []
    while True:
        byte = (pending & np.uint64(0x7F)).astype(np.uint8)
        pending = pending >> np.uint64(7)
        more = pending > 0
        byte = byte | (more.astype(np.uint8) << np.uint8(7))
        bufs.append(byte)
        if not more.any():
            break
    # interleave: for each value, bytes from layer 0..n while continuation
    n_layers = len(bufs)
    mat = np.stack(bufs, axis=1)  # (n_values, n_layers)
    # mask: a value uses layer j if any layer >= j had data
    used = np.ones_like(mat, dtype=bool)
    for j in range(1, n_layers):
        used[:, j] = (mat[:, j - 1] & 0x80) != 0
    flat = mat[used]
    return flat.tobytes(), used.sum(axis=1).astype(np.int64)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode an array of non-negative uint64 as varbyte."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes, n: int) -> np.ndarray:
    """Decode n varbyte values from buf."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)
    if len(ends) < n:
        raise ValueError(f"corrupt varbyte stream: {len(ends)} of {n} values")
    ends = ends[:n]
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(n, dtype=np.uint64)
    # max 10 layers for 64-bit
    max_len = int((ends - starts).max()) + 1
    for j in range(max_len):
        idx = starts + j
        active = idx <= ends
        vals = raw[idx[active]].astype(np.uint64) & np.uint64(0x7F)
        out[active] |= vals << np.uint64(7 * j)
    return out


# ---------------------------------------------------------------------------
# per-block doc_id Bloom filters (candidate-aware decode skip)
# ---------------------------------------------------------------------------

BLOOM_BITS = 1024  # 128 bytes per block
BLOOM_K = 2


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def bloom_positions(doc_ids: np.ndarray) -> np.ndarray:
    """(n, BLOOM_K) bit positions for each doc_id — the shared hash
    family for build and probe."""
    x = doc_ids.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(x)
    h2 = _splitmix64(x ^ np.uint64(0xA076_1D64_78BD_642F))
    return np.stack(
        [(h1 % np.uint64(BLOOM_BITS)), (h2 % np.uint64(BLOOM_BITS))], axis=1
    ).astype(np.int64)


def bloom_build(doc_ids: np.ndarray) -> bytes:
    """128-byte Bloom over a block's doc_ids."""
    bits = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)
    pos = bloom_positions(doc_ids).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def bloom_may_contain_any(bloom: bytes, positions: np.ndarray) -> bool:
    """True iff ANY candidate row of `positions` has all its bits set —
    false positives possible (decode a useless block: safe), false
    negatives impossible (never skips a real hit)."""
    bits = np.frombuffer(bloom, dtype=np.uint8)
    hit = (bits[positions >> 3] >> (positions & 7)) & 1
    return bool(hit.all(axis=1).any())


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """Sort by doc_id, delta+zigzag the ids, varbyte everything."""
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order].astype(np.int64)
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    deltas[1:] = d[1:] - d[:-1]
    # first delta may be negative (raw id); the rest are positive
    u = zigzag_encode(deltas)
    return (
        varbyte_encode(u),
        varbyte_encode(tfs[order].astype(np.uint64)),
        varbyte_encode(dls[order].astype(np.uint64)),
    )


def decode_block(docs_vb: bytes, tfs_vb: bytes, dls_vb: bytes, n: int):
    """Return (doc_ids int64, tfs int64, dls int64) sorted by doc_id."""
    deltas = zigzag_decode(varbyte_decode(docs_vb, n))
    doc_ids = np.cumsum(deltas)
    tfs = varbyte_decode(tfs_vb, n).astype(np.int64)
    dls = varbyte_decode(dls_vb, n).astype(np.int64)
    return doc_ids, tfs, dls
