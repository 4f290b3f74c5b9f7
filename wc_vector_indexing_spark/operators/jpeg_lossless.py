"""Lossless JPEG (T.81 Annex H, SOF3) — decoder + writer pair.

Closes the last practical JPEG-family seam (hierarchical Annex J stays
a documented raise): SOF3 payloads turn up in real crawls inside DNG
and medical containers. The process is public T.81: Huffman-coded
difference categories (the same SSSS/receive/extend grammar as the
sequential-DCT DC path, reusing ``jpeg.py``'s canonical tables and
bit reader), seven spatial predictors over the reconstructed-sample
neighborhood, modulo-2^16 difference arithmetic, point transform, and
2-16-bit precision.

Narrowed-scope notes (all raise, none silently wrong):
* interleaved multi-component scans require all sampling factors 1:1
  (the overwhelmingly common lossless layout; subsampled lossless is
  spec-legal but unseen in practice),
* restart intervals are unsupported in the lossless path (the writer
  never emits DRI; a foreign file with one raises),
* no color transform is applied — lossless JPEG defines none, so a
  3-component file returns its components as stored.

The writer half (`to_lossless_jpeg_bytes`) exists for the same reason
as every other codec writer in this repo: no external codec lives in
the container, so correctness is pinned by exact roundtrips — and
lossless makes that pin total: decode(encode(img)) == img bit-for-bit
for every predictor, precision and point transform (test_jpeg_lossless).
"""

from __future__ import annotations

import numpy as np

from wc_vector_indexing_spark.operators.jpeg import (
    _BitReader,
    _extend,
    _HuffTable,
)

# canonical code lengths for the 17 difference categories (0..16):
# Kraft-valid, short codes on the small categories the planted fixtures
# and natural images dominate with, and the all-ones 16-bit pattern
# left unassigned per T.81 C.2.
_CAT_LENGTHS = [2, 2, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]


def _canonical_codes() -> dict[int, tuple[int, int]]:
    """symbol -> (length, code), assigned per T.81 Annex C order."""
    pairs = sorted(range(17), key=lambda s: (_CAT_LENGTHS[s], s))
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = _CAT_LENGTHS[pairs[0]]
    for sym in pairs:
        length = _CAT_LENGTHS[sym]
        code <<= length - prev_len
        out[sym] = (length, code)
        code += 1
        prev_len = length
    return out


def _dht_counts_symbols() -> tuple[list[int], bytes]:
    counts = [0] * 16
    order = sorted(range(17), key=lambda s: (_CAT_LENGTHS[s], s))
    for s in order:
        counts[_CAT_LENGTHS[s] - 1] += 1
    return counts, bytes(order)


def _predict(plane: np.ndarray, row: int, col: int, comp: int,
             sel: int, default: int) -> int:
    """T.81 H.1.2.1: predictor ``sel`` over reconstructed neighbors.
    First sample of the scan and of each line fall back per H.1.2.2."""
    if row == 0 and col == 0:
        return default
    if row == 0:
        return int(plane[0, col - 1, comp])  # first line: left
    if col == 0:
        return int(plane[row - 1, 0, comp])  # first column: above
    a = int(plane[row, col - 1, comp])
    b = int(plane[row - 1, col, comp])
    c = int(plane[row - 1, col - 1, comp])
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    if sel == 7:
        return (a + b) >> 1
    raise ValueError(f"lossless JPEG: invalid predictor {sel}")


def decode_lossless_scan(data: bytes, pos: int, frame: dict, scan: dict,
                         huff: dict, restart_interval: int,
                         predictor: int, pt: int) -> np.ndarray:
    """Entropy-decode an SOF3 scan -> ``(h, w)`` / ``(h, w, ncomp)``
    array (uint8 for precision <= 8, else uint16)."""
    if restart_interval:
        raise NotImplementedError(
            "restart intervals are out of scope for the lossless path"
        )
    comps = frame["comps"]
    if len(comps) > 1 and any(c["h"] != 1 or c["v"] != 1 for c in comps):
        raise NotImplementedError(
            "interleaved lossless scans with subsampling are out of scope"
        )
    precision = frame["precision"]
    if not 2 <= precision <= 16:
        raise ValueError(f"lossless JPEG precision {precision} out of range")
    h, w, nc = frame["h"], frame["w"], len(comps)
    tables = []
    for c in comps:
        key = (0, scan[c["id"]][0])
        if key not in huff:
            raise ValueError("lossless JPEG: scan references missing DHT")
        tables.append(huff[key])
    default = 1 << (precision - 1 - pt)
    plane = np.zeros((h, w, nc), dtype=np.int32)
    r = _BitReader(data, pos)
    for row in range(h):
        for col in range(w):
            for ci in range(nc):
                ssss = r.decode(tables[ci])
                if ssss == 16:
                    diff = 32768
                elif ssss > 16:
                    raise ValueError(
                        f"lossless JPEG: difference category {ssss} > 16")
                else:
                    diff = _extend(r.bits(ssss), ssss)
                pred = _predict(plane, row, col, ci, predictor, default)
                plane[row, col, ci] = (pred + diff) & 0xFFFF
    out = (plane.astype(np.int64) << pt) & 0xFFFF
    dtype = np.uint8 if precision <= 8 else np.uint16
    out = out.astype(dtype)
    return out[:, :, 0] if nc == 1 else out


class _BitWriter:
    """MSB-first with T.81 byte stuffing (0xFF -> 0xFF 0x00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def to_lossless_jpeg_bytes(img: np.ndarray, predictor: int = 4,
                           precision: int | None = None,
                           point_transform: int = 0) -> bytes:
    """Serialize an image as an SOF3 lossless JPEG. ``img`` is
    ``(h, w)`` or ``(h, w, ncomp)`` unsigned ints already in the
    point-transformed domain if ``point_transform`` > 0 (i.e. values
    < 2^(precision - Pt); the decoder re-shifts). Exact inverse of
    :func:`decode_lossless_scan` via the jpeg.py router."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    x = np.asarray(img)
    if x.ndim == 2:
        x = x[:, :, None]
    h, w, nc = x.shape
    if precision is None:
        precision = 8 if x.dtype.itemsize == 1 else 16
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    pt = point_transform
    limit = 1 << (precision - pt)
    if int(x.max(initial=0)) >= limit:
        raise ValueError("sample exceeds precision minus point transform")
    codes = _canonical_codes()
    default = 1 << (precision - 1 - pt)
    wtr = _BitWriter()
    plane = x.astype(np.int32)
    for row in range(h):
        for col in range(w):
            for ci in range(nc):
                pred = _predict(plane, row, col, ci, predictor, default)
                diff = (int(plane[row, col, ci]) - pred) & 0xFFFF
                if diff >= 0x8000:
                    diff -= 0x10000  # back to signed for category coding
                if diff == -32768 or diff == 32768:
                    ssss = 16
                else:
                    ssss = int(abs(diff)).bit_length()
                length, code = codes[ssss]
                wtr.write(code, length)
                if 0 < ssss < 16:
                    v = diff if diff >= 0 else diff + (1 << ssss) - 1
                    wtr.write(v & ((1 << ssss) - 1), ssss)

    counts, symbols = _dht_counts_symbols()
    out = bytearray(b"\xff\xd8")
    dht = bytes([0x00]) + bytes(counts) + symbols
    out += b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
    sof = bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc3" + (len(sof) + 2).to_bytes(2, "big") + sof
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += wtr.finish()
    out += b"\xff\xd9"
    return bytes(out)


__all__ = ["decode_lossless_scan", "to_lossless_jpeg_bytes"]
