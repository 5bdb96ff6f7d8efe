"""TSZ1 — vectorized Gorilla-style time-series codec (NumPy, no loops).

Two streams, one container:

* int32 path (token payloads): **delta-of-delta** with zigzag and
  Gorilla-style size classes, as in Pelkonen et al., PVLDB 8(12) 2015
  §4.1 — adapted to *byte-aligned* classes {0, 1, 2, 4 bytes} with a
  separate 2-bit class stream. Rationale: the classic Gorilla bitstream
  is sequential to decode (each code's position depends on all previous
  lengths); splitting the class stream from a byte-aligned payload keeps
  the exact DoD + class-selection idea but makes BOTH encode and decode
  pure vectorized NumPy (cumsum of widths → gather/scatter), which is
  the "vectorized ... encoder in Arrow pandas UDFs (no per-row Python)"
  requirement of the north rule (BASELINE.json:6).
* float64 path: Gorilla **XOR** with the leading-zero idea byte-aligned:
  per value a 4-bit significant-byte count (after stripping high-order
  zero bytes of the XOR), nibble-packed, then that many payload bytes.

All arithmetic is mod 2^32 (int path), so arbitrary int32 inputs —
including deltas/DoDs that overflow int32 — round-trip exactly.

Container (little-endian):
  magic 'TSZ1' | version u8 | vtype u8 (1=int32 DoD, 2=f64 XOR) |
  n u64 | head (v0: i32 | f64-bits u64) | head2 (first delta i64, int
  path, n>=2) | class-stream | payload | crc32 u32 over all prior bytes.

decode(encode(x)) == x exactly is THE invariant (BASELINE.json:2,15);
CRC corruption raises CodecError.
"""

from __future__ import annotations

import struct
import sys
import zlib

import numpy as np

assert sys.byteorder == "little", "TSZ1 byte-matrix packing assumes little-endian"

MAGIC = b"TSZ1"
MAGIC_Z = b"TSZZ"  # zlib-wrapped container envelope
VERSION = 1
VT_INT = 1
VT_FLOAT = 2

_U32 = np.uint64(0xFFFFFFFF)
_WIDTHS = np.array([0, 1, 2, 4], dtype=np.uint8)
_BYTE_IDX4 = np.arange(4, dtype=np.uint8)[None, :]
_BYTE_IDX8 = np.arange(8, dtype=np.uint8)[None, :]


class CodecError(ValueError):
    pass


# ------------------------------------------------------------- int32 --



def _unzigzag32(z: np.ndarray) -> np.ndarray:
    """uint32 zigzag -> int32."""
    z = z.astype(np.uint32)
    return ((z >> np.uint32(1)) ^ (np.uint32(0) - (z & np.uint32(1)))).astype(np.int32)


def _pack_classes(cls: np.ndarray) -> bytes:
    """2-bit classes, 4 per byte, LSB-first."""
    n = len(cls)
    pad = (-n) % 4
    c = np.concatenate([cls.astype(np.uint8), np.zeros(pad, np.uint8)]).reshape(-1, 4)
    return (c[:, 0] | (c[:, 1] << 2) | (c[:, 2] << 4) | (c[:, 3] << 6)).tobytes()


def _unpack_classes(buf: np.ndarray, n: int) -> np.ndarray:
    b = buf.astype(np.uint8)
    out = np.empty((len(b), 4), np.uint8)
    out[:, 0] = b & 3
    out[:, 1] = (b >> 2) & 3
    out[:, 2] = (b >> 4) & 3
    out[:, 3] = (b >> 6) & 3
    return out.reshape(-1)[:n]




def wrap_zlib(container: bytes) -> bytes:
    """Optional container envelope: DEFLATE the whole TSZ1 container.
    The byte-aligned class/payload streams still carry statistical
    redundancy on skewed (real-world) token distributions that the
    fixed {0,1,2,4}-byte classes can't reach; DEFLATE's entropy stage
    recovers it. Level 1 keeps encode ~GB/s-class; the inner CRC still
    guards the payload after unwrap."""
    return MAGIC_Z + zlib.compress(container, 1)


def _unwrap(blob: bytes | bytearray | memoryview) -> bytes:
    b = bytes(blob)
    if b[:4] == MAGIC_Z:
        try:
            return zlib.decompress(b[4:])
        except zlib.error as ex:
            raise CodecError(f"corrupt zlib envelope: {ex}") from ex
    return b


def encode_tokens(values) -> bytes:
    """array-like of int32 -> TSZ1 bytes (vtype=1).

    All delta arithmetic is int32 with two's-complement wraparound —
    exact because the decoder reconstructs mod 2^32. The payload is
    emitted with ONE boolean-mask selection over the (n,4) little-endian
    byte matrix of the zigzag codes (no per-class scatter passes)."""
    v = np.ascontiguousarray(values, dtype=np.int32)
    n = len(v)
    body = bytearray()
    body += struct.pack("<BBQ", VERSION, VT_INT, n)
    if n >= 1:
        body += struct.pack("<i", int(v[0]))
    if n >= 2:
        with np.errstate(over="ignore"):
            d32 = np.subtract(v[1:], v[:-1])            # int32, wraps
        body += struct.pack("<q", int(v[1]) - int(v[0]))  # true first delta
        if n >= 3:
            with np.errstate(over="ignore"):
                dod32 = np.subtract(d32[1:], d32[:-1])  # int32, wraps
                zz = ((dod32 << np.int32(1)) ^ (dod32 >> np.int32(31))).view(np.uint32)
            cls = np.zeros(len(zz), np.uint8)
            cls[zz > 0] = 1
            cls[zz >= (1 << 8)] = 2
            cls[zz >= (1 << 16)] = 3
            body += _pack_classes(cls)
            bmat = zz.view(np.uint8).reshape(-1, 4)     # little-endian bytes
            mask = _BYTE_IDX4 < _WIDTHS[cls][:, None]
            body += bmat[mask].tobytes()
    out = MAGIC + bytes(body)
    return out + struct.pack("<I", zlib.crc32(out))


def decode_tokens(blob: bytes | bytearray | memoryview) -> np.ndarray:
    """TSZ1 bytes (optionally TSZZ zlib-wrapped) -> np.int32 array;
    raises CodecError on corruption."""
    b = _unwrap(blob)
    if len(b) < 18 or b[:4] != MAGIC:
        raise CodecError("bad magic/short container")
    (crc,) = struct.unpack("<I", b[-4:])
    if zlib.crc32(b[:-4]) != crc:
        raise CodecError("crc32 mismatch")
    ver, vt, n = struct.unpack("<BBQ", b[4:14])
    if ver != VERSION or vt != VT_INT:
        raise CodecError(f"unsupported version/vtype {ver}/{vt}")
    if n == 0:
        return np.array([], np.int32)
    (v0,) = struct.unpack("<i", b[14:18])
    if n == 1:
        return np.array([v0], np.int32)
    (d0,) = struct.unpack("<q", b[18:26])
    off = 26
    if n == 2:
        dods = np.array([], np.int32)
    else:
        m = int(n - 2)
        nclsb = (m + 3) // 4
        cls = _unpack_classes(np.frombuffer(b, np.uint8, nclsb, off), m)
        off += nclsb
        widths = _WIDTHS[cls]
        total = int(widths.sum(dtype=np.int64))
        bmat = np.zeros((m, 4), np.uint8)
        bmat[_BYTE_IDX4 < widths[:, None]] = np.frombuffer(b, np.uint8, total, off)
        dods = _unzigzag32(bmat.view(np.uint32).ravel())
    # reconstruct mod 2^32: int32 cumsum wraps two's-complement — exact
    d = np.empty(int(n) - 1, np.int32)
    d0w = d0 & 0xFFFFFFFF
    if d0w >= 1 << 31:
        d0w -= 1 << 32
    d[0] = d0w
    d[1:] = dods
    np.cumsum(d, dtype=np.int32, out=d)
    v = np.empty(int(n), np.int32)
    v[0] = v0
    v[1:] = d
    np.cumsum(v, dtype=np.int32, out=v)
    return v


# ----------------------------------------------------------- float64 --


def encode_floats(values) -> bytes:
    """array-like of float64 -> TSZ1 bytes (vtype=2, Gorilla XOR)."""
    v = np.asarray(values, dtype=np.float64)
    n = len(v)
    body = bytearray()
    body += struct.pack("<BBQ", VERSION, VT_FLOAT, n)
    if n >= 1:
        body += struct.pack("<Q", int(v[:1].view(np.uint64)[0]))
    if n >= 2:
        bits = v.view(np.uint64)
        x = np.ascontiguousarray(bits[1:] ^ bits[:-1])
        # significant bytes after stripping high-order zero bytes:
        # sig = index of highest nonzero byte + 1 (0 when x == 0)
        bmat = x.view(np.uint8).reshape(-1, 8)          # little-endian
        sig = 8 - np.argmax(bmat[:, ::-1] != 0, axis=1).astype(np.uint8)
        sig[x == 0] = 0
        pad = (-len(sig)) % 2
        s2 = np.concatenate([sig, np.zeros(pad, np.uint8)]).reshape(-1, 2)
        body += (s2[:, 0] | (s2[:, 1] << 4)).tobytes()
        body += bmat[_BYTE_IDX8 < sig[:, None]].tobytes()
    out = MAGIC + bytes(body)
    return out + struct.pack("<I", zlib.crc32(out))


def decode_floats(blob) -> np.ndarray:
    b = _unwrap(blob)
    if len(b) < 18 or b[:4] != MAGIC:
        raise CodecError("bad magic/short container")
    (crc,) = struct.unpack("<I", b[-4:])
    if zlib.crc32(b[:-4]) != crc:
        raise CodecError("crc32 mismatch")
    ver, vt, n = struct.unpack("<BBQ", b[4:14])
    if ver != VERSION or vt != VT_FLOAT:
        raise CodecError(f"unsupported version/vtype {ver}/{vt}")
    if n == 0:
        return np.array([], np.float64)
    (b0,) = struct.unpack("<Q", b[14:22])
    out = np.empty(int(n), np.uint64)
    out[0] = b0
    if n >= 2:
        m = int(n) - 1
        nnib = (m + 1) // 2
        off = 22
        nb = np.frombuffer(b, np.uint8, nnib, off)
        sig = np.empty((nnib, 2), np.uint8)
        sig[:, 0] = nb & 0x0F
        sig[:, 1] = nb >> 4
        sig = sig.reshape(-1)[:m]
        off += nnib
        total = int(sig.sum(dtype=np.int64))
        bmat = np.zeros((m, 8), np.uint8)
        bmat[_BYTE_IDX8 < sig[:, None]] = np.frombuffer(b, np.uint8, total, off)
        x = bmat.view(np.uint64).ravel()
        # XOR-prefix scan: bits[i] = b0 ^ x[1] ^ ... ^ x[i]
        acc = np.bitwise_xor.accumulate(np.concatenate([[np.uint64(b0)], x]))
        out = acc
    return out.view(np.float64)
