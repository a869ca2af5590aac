"""Compression codecs for rolled-up points (north_star requirement).

Two codecs, both implemented as vectorized NumPy over byte buffers — no
per-value Python in encode or decode — and both EXACT (decode(encode(x)) == x
bit-for-bit, incl. NaN payloads, ±0.0, denormals), tested like the reference's
save/reload determinism (test/test_keras.py:84-91).

* ``gorilla_encode/decode`` — XOR float compression after Facebook Gorilla
  (Pelkonen et al., VLDB'15), in a stream-split, byte-aligned layout: values
  are XORed with their predecessor; each non-zero XOR stores 1 control byte
  (leading-zero-bytes << 4 | meaningful-byte-count-1) in a CONTROL stream and
  its meaningful bytes in a separate PAYLOAD stream. Splitting the streams is
  what makes single-pass vectorized decode possible (control bytes sit at
  fixed stride; payload offsets are one cumsum) — the same trick the
  Gorilla-descendant codecs (Chimp/PATAS, VLDB'22) use. Byte- instead of
  bit-alignment trades a few % ratio for Arrow-friendly vector ops.

* ``dod_encode/decode`` — delta-of-delta + zigzag + LEB128 varint for int64
  sequences; ideal for the monotone ``window_start`` offsets where the second
  difference is almost always 0 (1 byte per point). Varint pack/unpack is
  vectorized via an (n, 10)-byte matrix + boolean-mask compaction (encode)
  and ``np.add.reduceat`` over terminator-delimited groups (decode).

Layout (little-endian):
  gorilla: [u32 n][8B first][n-1 control bytes][payload bytes]
  dod:     [u32 n][varint zz(first)][varint zz(first delta)][varints zz(dod)]
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MAGIC_SHIFTS = np.arange(10, dtype=np.uint64) * _U64(7)


# ---------------------------------------------------------------- varint ----

def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> _U64(1)).astype(np.int64)) ^ -(u & _U64(1)).astype(np.int64)


def _varint_pack(u: np.ndarray) -> np.ndarray:
    """LEB128-pack an array of uint64 → flat uint8 buffer (vectorized)."""
    n = u.shape[0]
    if n == 0:
        return np.empty(0, np.uint8)
    # byte j of value i = bits 7j..7j+6, continuation bit if any higher bit set
    mat = ((u[:, None] >> _MAGIC_SHIFTS[None, :]) & _U64(0x7F)).astype(np.uint8)
    needed = np.ones(n, dtype=np.intp)
    nz = u != 0
    needed[nz] = ((64 - np.int64(0)) - _clz64(u[nz]) + 6) // 7
    keep = np.arange(10)[None, :] < needed[:, None]
    cont = np.arange(10)[None, :] < (needed - 1)[:, None]
    mat[cont] |= 0x80
    return mat[keep]


# bit length of each byte value 0..255 (exact, no float ops)
_BYTE_BITLEN = np.array([0] + [int(v).bit_length() for v in range(1, 256)],
                        dtype=np.int64)


def _clz64(u: np.ndarray) -> np.ndarray:
    """Count leading zero bits of uint64 — exact vectorized byte-matrix +
    lookup table (float log2 would risk 1-ulp misrounds → corruption)."""
    u = np.ascontiguousarray(u, dtype=np.uint64)
    bmat = u.view(np.uint8).reshape(-1, 8)  # little-endian
    nzb = bmat != 0
    any_nz = nzb.any(axis=1)
    hi_byte = np.where(any_nz, 7 - nzb[:, ::-1].argmax(axis=1), 0)
    bitlen = hi_byte * 8 + _BYTE_BITLEN[bmat[np.arange(u.shape[0]), hi_byte]]
    return np.where(any_nz, 64 - bitlen, 64)


def _varint_unpack(buf: np.ndarray, count: int) -> tuple[np.ndarray, int]:
    """Unpack ``count`` varints from a uint8 buffer → (values, bytes consumed)."""
    if count == 0:
        return np.empty(0, np.uint64), 0
    term = (buf & 0x80) == 0
    ends = np.flatnonzero(term)[:count]
    consumed = int(ends[-1]) + 1
    b = buf[:consumed].astype(np.uint64)
    starts = np.empty(count, dtype=np.intp)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos_in_group = np.arange(consumed) - np.repeat(starts, np.diff(
        np.append(starts, consumed)))
    contrib = (b & _U64(0x7F)) << (pos_in_group.astype(np.uint64) * _U64(7))
    vals = np.bitwise_or.reduceat(np.zeros(0, np.uint64) if consumed == 0 else contrib,
                                  starts)
    return vals.astype(np.uint64), consumed


# ------------------------------------------------------------------- dod ----

def dod_encode(x: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 array."""
    x = np.asarray(x, dtype=np.int64)
    n = x.shape[0]
    head = np.uint32(n).tobytes()
    if n == 0:
        return head
    d = np.diff(x, prepend=np.int64(0))
    dod = np.diff(d, prepend=np.int64(0))
    # stream: zz(x0), zz(d1), zz(dod2..)
    stream = np.concatenate([
        _zigzag(x[:1]),
        _zigzag(d[1:2]) if n > 1 else np.empty(0, np.uint64),
        _zigzag(dod[2:]) if n > 2 else np.empty(0, np.uint64),
    ])
    return head + _varint_pack(stream).tobytes()


def dod_decode(data: bytes) -> np.ndarray:
    n = int(np.frombuffer(data[:4], np.uint32)[0])
    if n == 0:
        return np.empty(0, np.int64)
    buf = np.frombuffer(data, np.uint8, offset=4)
    stream, _ = _varint_unpack(buf, n)
    vals = _unzigzag(stream)
    if n == 1:
        return vals
    deltas = vals.copy()
    deltas[2:] = np.cumsum(vals[2:]) + vals[1]
    deltas[0] = vals[0]
    out = np.empty(n, np.int64)
    out[0] = vals[0]
    out[1:] = vals[0] + np.cumsum(deltas[1:])
    return out


# --------------------------------------------------------------- gorilla ----

def gorilla_encode(x: np.ndarray) -> bytes:
    """Stream-split byte-aligned Gorilla XOR encode of a float64 array."""
    x = np.ascontiguousarray(x, dtype=np.float64)
    n = x.shape[0]
    head = np.uint32(n).tobytes()
    if n == 0:
        return head
    u = x.view(np.uint64)
    first = u[:1].tobytes()
    if n == 1:
        return head + first
    xors = u[1:] ^ u[:-1]
    bmat = xors.view(np.uint8).reshape(-1, 8)  # little-endian byte columns
    nzb = bmat != 0
    any_nz = nzb.any(axis=1)
    # trailing-zero bytes = index of first nonzero byte (LE → low bytes first)
    tzb = np.where(any_nz, nzb.argmax(axis=1), 0).astype(np.uint8)
    lzb = np.where(any_nz, nzb[:, ::-1].argmax(axis=1), 0).astype(np.uint8)
    m = np.where(any_nz, 8 - lzb.astype(np.int64) - tzb.astype(np.int64), 0)
    # control byte: 0x00 for identical value; else (tzb<<4)|(m-1) + set bit7
    ctrl = np.zeros(n - 1, dtype=np.uint8)
    ctrl[any_nz] = 0x80 | (tzb[any_nz] << 4) | (m[any_nz] - 1).astype(np.uint8)
    # payload: for each nonzero xor, bytes tzb..tzb+m-1
    col = np.arange(8)[None, :]
    keep = (col >= tzb[:, None]) & (col < (tzb[:, None] + m[:, None]))
    payload = bmat[keep]
    return head + first + ctrl.tobytes() + payload.tobytes()


def gorilla_decode(data: bytes) -> np.ndarray:
    n = int(np.frombuffer(data[:4], np.uint32)[0])
    if n == 0:
        return np.empty(0, np.float64)
    first = np.frombuffer(data, np.uint64, count=1, offset=4)
    if n == 1:
        return first.view(np.float64).copy()
    ctrl = np.frombuffer(data, np.uint8, count=n - 1, offset=12)
    payload = np.frombuffer(data, np.uint8, offset=12 + (n - 1))
    nz = (ctrl & 0x80) != 0
    tzb = ((ctrl >> 4) & 0x07).astype(np.intp)
    m = np.where(nz, (ctrl & 0x0F).astype(np.intp) + 1, 0)
    # scatter payload bytes back into an (n-1, 8) byte matrix
    bmat = np.zeros((n - 1, 8), dtype=np.uint8)
    col = np.arange(8)[None, :]
    keep = (col >= tzb[:, None]) & (col < (tzb[:, None] + m[:, None]))
    bmat[keep] = payload[: keep.sum()]
    xors = bmat.reshape(-1).view(np.uint64)
    u = np.empty(n, dtype=np.uint64)
    u[0] = first[0]
    u[1:] = xors
    np.bitwise_xor.accumulate(u, out=u)
    return u.view(np.float64).copy()

# ------------------------------------------------- batched (cross-doc) ------
#
# The engine encodes one blob per (doc, tier, field). Per-blob NumPy calls
# cost ~50-100µs of fixed overhead, which dominates when docs have few
# windows. The *_many variants run every vector op ONCE per Arrow batch
# (segmented scans with boundary fix-ups) and loop in Python only to slice
# the final per-blob byte strings. Byte output is IDENTICAL to calling the
# scalar codec per blob (tested), so readers never know the difference.


def _group_starts(sizes: np.ndarray) -> np.ndarray:
    starts = np.zeros(sizes.shape[0], dtype=np.intp)
    starts[1:] = np.cumsum(sizes)[:-1]
    return starts


def _seg_cumsum_i64(v: np.ndarray, starts: np.ndarray,
                    sizes: np.ndarray) -> np.ndarray:
    """Per-group cumulative sum with int64 wrap semantics (uint64 internally:
    the global cumsum may overflow, wrap subtraction recovers exact values)."""
    c = np.cumsum(v.view(np.uint64))
    off = np.zeros(starts.shape[0], dtype=np.uint64)
    off[1:] = c[starts[1:] - 1]
    return (c - np.repeat(off, sizes)).view(np.int64)


def dod_encode_many(arrays: list[np.ndarray]) -> list[bytes]:
    """dod_encode over many int64 arrays, vectorized across them."""
    if not arrays:
        return []
    sizes = np.array([a.shape[0] for a in arrays], dtype=np.intp)
    if (sizes == 0).any():  # rare: fall back per-blob when empties appear
        return [dod_encode(a) for a in arrays]
    x = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrays])
    starts = _group_starts(sizes)
    d = np.empty_like(x)
    d[0] = 0
    np.subtract(x[1:], x[:-1], out=d[1:])
    dod = np.empty_like(x)
    dod[0] = 0
    np.subtract(d[1:], d[:-1], out=dod[1:])
    stream = dod  # per group: [x0, d1, dod2..] (boundary fix-ups below)
    stream[starts] = x[starts]
    snd = starts[sizes > 1] + 1
    stream[snd] = d[snd]
    u = _zigzag(stream)
    # inline _varint_pack, keeping per-value byte counts for splitting
    mat = ((u[:, None] >> _MAGIC_SHIFTS[None, :]) & _U64(0x7F)).astype(np.uint8)
    needed = np.ones(u.shape[0], dtype=np.intp)
    nz = u != 0
    needed[nz] = (64 - _clz64(u[nz]) + 6) // 7
    keep = np.arange(10)[None, :] < needed[:, None]
    cont = np.arange(10)[None, :] < (needed - 1)[:, None]
    mat[cont] |= 0x80
    packed = mat[keep].tobytes()
    cb = np.zeros(sizes.shape[0] + 1, dtype=np.intp)
    np.cumsum(np.add.reduceat(needed, starts), out=cb[1:])
    return [np.uint32(n).tobytes() + packed[cb[g]:cb[g + 1]]
            for g, n in enumerate(sizes)]


def _concat_blobs(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of blobs laid back to back, the Arrow binary layout."""
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return np.frombuffer(b"".join(blobs), np.uint8), offsets


def _blob_counts(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Value count of every blob: the u32 header at each blob's start."""
    hdr = data[offsets[:-1, None] + np.arange(4)]
    return np.ascontiguousarray(hdr).view("<u4").reshape(-1).astype(np.intp)


def _gather(data: np.ndarray, starts: np.ndarray,
            lens: np.ndarray) -> np.ndarray:
    """Concatenation of the byte ranges ``[starts[i], starts[i] + lens[i])``."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint8)
    idx = np.repeat(starts - _group_starts(lens), lens) + np.arange(total)
    return data[idx]


def dod_decode_flat(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Every dod blob of an Arrow-style binary column (uint8 ``data``, int64
    ``offsets``) decoded into one flat int64 array, in blob order."""
    sizes = _blob_counts(data, offsets)
    total = int(sizes.sum())
    if total == 0:
        return np.empty(0, np.int64)
    # the payloads minus the 4-byte headers: exactly ``total`` varints
    lens = np.diff(offsets) - 4
    buf = _gather(data, offsets[:-1] + 4, lens)
    if not (buf & 0x80).any():  # every varint is one byte
        w = _unzigzag(buf)
    else:
        ends = np.flatnonzero((buf & 0x80) == 0)
        vstarts = np.empty(total, dtype=np.intp)
        vstarts[0] = 0
        vstarts[1:] = ends[:-1] + 1
        pos = np.arange(buf.shape[0]) - np.repeat(vstarts, np.diff(
            np.append(vstarts, buf.shape[0])))
        contrib = ((buf & 0x7F).astype(np.uint64)
                   << (pos.astype(np.uint64) * _U64(7)))
        w = _unzigzag(np.bitwise_or.reduceat(contrib, vstarts))
    # segmented double-cumsum reconstruction: D[s+i]=Σ_{1..i} w, X=x0+Σ D
    sizes = sizes[sizes > 0]
    starts = _group_starts(sizes)
    w0 = w.copy()
    w0[starts] = 0
    D = _seg_cumsum_i64(w0, starts, sizes)
    X = _seg_cumsum_i64(D, starts, sizes)
    X += np.repeat(w[starts], sizes)
    return X


def dod_decode_many(blobs: list[bytes]) -> list[np.ndarray]:
    """dod_decode over many blobs, vectorized across them."""
    if not blobs:
        return []
    data, offsets = _concat_blobs(blobs)
    flat = dod_decode_flat(data, offsets)
    return np.split(flat, np.cumsum(_blob_counts(data, offsets))[:-1])


def gorilla_encode_many(arrays: list[np.ndarray]) -> list[bytes]:
    """gorilla_encode over many float64 arrays, vectorized across them."""
    if not arrays:
        return []
    sizes = np.array([a.shape[0] for a in arrays], dtype=np.intp)
    if (sizes == 0).any() or sizes.sum() == sizes.shape[0]:
        # empties or all-singletons: header(+first) only, scalar path is fine
        return [gorilla_encode(a) for a in arrays]
    u = np.concatenate([np.ascontiguousarray(a, dtype=np.float64)
                        for a in arrays]).view(np.uint64)
    starts = _group_starts(sizes)
    nonstart = np.ones(u.shape[0], dtype=bool)
    nonstart[starts] = False
    idx = np.flatnonzero(nonstart)
    xors = u[idx] ^ u[idx - 1]
    bmat = xors.view(np.uint8).reshape(-1, 8)
    nzb = bmat != 0
    any_nz = nzb.any(axis=1)
    tzb = np.where(any_nz, nzb.argmax(axis=1), 0).astype(np.uint8)
    lzb = np.where(any_nz, nzb[:, ::-1].argmax(axis=1), 0).astype(np.uint8)
    m = np.where(any_nz, 8 - lzb.astype(np.int64) - tzb.astype(np.int64), 0)
    ctrl = np.zeros(idx.shape[0], dtype=np.uint8)
    ctrl[any_nz] = 0x80 | (tzb[any_nz] << 4) | (m[any_nz] - 1).astype(np.uint8)
    col = np.arange(8)[None, :]
    keep = (col >= tzb[:, None]) & (col < (tzb[:, None] + m[:, None]))
    payload = bmat[keep].tobytes()
    ctrl_b = ctrl.tobytes()
    firsts = u[starts]
    # group g occupies compact ctrl indices [starts[g]-g, +sizes[g]-1)
    cstarts = starts - np.arange(sizes.shape[0])
    cs = np.zeros(idx.shape[0] + 1, dtype=np.intp)
    np.cumsum(m, out=cs[1:])
    out = []
    for g, n in enumerate(sizes):
        c0, c1 = cstarts[g], cstarts[g] + n - 1
        out.append(np.uint32(n).tobytes() + firsts[g:g + 1].tobytes()
                   + ctrl_b[c0:c1] + payload[cs[c0]:cs[c1]])
    return out


def gorilla_decode_flat(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Every gorilla blob of an Arrow-style binary column (uint8 ``data``,
    int64 ``offsets``) decoded into one flat float64 array, in blob order."""
    sizes = _blob_counts(data, offsets)
    nz = sizes > 0
    sizes, heads, tails = sizes[nz], offsets[:-1][nz], offsets[1:][nz]
    total = int(sizes.sum())
    if total == 0:
        return np.empty(0, np.float64)
    firsts = np.ascontiguousarray(data[heads[:, None] + 4 + np.arange(8)])
    nctrl = sizes - 1
    ctrl = _gather(data, heads + 12, nctrl)
    payload = _gather(data, heads + 12 + nctrl, tails - (heads + 12 + nctrl))
    tzb = ((ctrl >> 4) & 0x07).astype(np.intp)
    m = np.where((ctrl & 0x80) != 0, (ctrl & 0x0F).astype(np.intp) + 1, 0)
    bmat = np.zeros((ctrl.shape[0], 8), dtype=np.uint8)
    col = np.arange(8)[None, :]
    keep = (col >= tzb[:, None]) & (col < (tzb[:, None] + m[:, None]))
    bmat[keep] = payload[: keep.sum()]
    starts = _group_starts(sizes)
    u = np.empty(total, dtype=np.uint64)
    nonstart = np.ones(total, dtype=bool)
    nonstart[starts] = False
    u[nonstart] = bmat.reshape(-1).view(np.uint64)
    u[starts] = firsts.view(np.uint64).reshape(-1)
    # segmented XOR scan: S[i] = G[i] ^ G[group_start-1]
    G = np.bitwise_xor.accumulate(u)
    off = np.zeros(sizes.shape[0], dtype=np.uint64)
    off[1:] = G[starts[1:] - 1]
    return (G ^ np.repeat(off, sizes)).view(np.float64)


def gorilla_decode_many(blobs: list[bytes]) -> list[np.ndarray]:
    """gorilla_decode over many blobs, vectorized across them."""
    if not blobs:
        return []
    data, offsets = _concat_blobs(blobs)
    flat = gorilla_decode_flat(data, offsets)
    return np.split(flat, np.cumsum(_blob_counts(data, offsets))[:-1])
