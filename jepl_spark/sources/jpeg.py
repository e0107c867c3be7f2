"""Pure-numpy baseline JPEG (JFIF) codec — the entropy-coded container
the PNG/WAV round left behind the honest NotImplementedError boundary
(`multimodal._decode_any`).  No external libraries: the DCT rides the
8x8 DCT-II basis matrix (einsum over all blocks at once), entropy
coding is canonical Huffman per ITU-T T.81.

Scope (stated, enforced): baseline sequential SOF0, 8-bit precision,
4:4:4 (no chroma subsampling), single interleaved scan, no restart
markers — the encoder below only emits that shape, and the decoder
RAISES on anything else (progressive SOF2, subsampling, DRI, 16-bit
quant tables) rather than decoding it wrong.  The decoder reads the
DHT/DQT tables from the stream like any compliant decoder, so it is
not paired to this encoder's table choices.

The encoder's Huffman tables are fixed-length canonical codes (4-bit
codes for all 12 DC categories, 8-bit codes for all 162 AC symbols)
written into DHT — valid prefix codes by Kraft (12 <= 2^4, 162 <= 2^8,
and neither table assigns the all-ones code), decodable by any JPEG
reader, at some compression cost vs optimized tables (irrelevant for
fixtures; the plumbing, not the ratio, is the point).

Reference behavior being reimplemented (spec-level, public): ITU-T
T.81 sections F.1-F.2 (baseline encode/decode), Annex K quantization
tables, JFIF 1.02 color transform.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K base quantization tables (public spec constants), zigzag order
# applied at write time; stored here in natural (row-major) order.
_Q_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
_Q_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# zigzag index order: _ZIGZAG[k] = flat (row*8+col) position of the
# k-th zigzag coefficient
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1],
                        rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0]),
    )
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()


def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    u = x.reshape(-1, 1)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m


_DCT = _dct_matrix()


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table."""
    if not (1 <= quality <= 100):
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


# -- fixed canonical Huffman tables for the ENCODER ---------------------------
# DC: all 12 categories as 4-bit codes; AC: all 162 symbols as 8-bit
# codes.  BITS arrays per T.81 (count of codes per length 1..16).

_DC_SYMBOLS = list(range(12))
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical construction."""
    out = {}
    code = 0
    k = 0
    for length_m1, count in enumerate(bits):
        for _ in range(count):
            out[symbols[k]] = (code, length_m1 + 1)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _mag_bits(v: int, s: int) -> int:
    """One's-complement magnitude bits: v if positive, v-1 low bits
    otherwise (T.81 F.1.2.1)."""
    return v if v >= 0 else v + (1 << s) - 1


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) edge-replicated to multiples of 8 -> (nb_y, nb_x, 8, 8)."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    H, W = p.shape
    return p.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def jpeg_encode(pixels: np.ndarray, quality: int = 90) -> bytes:
    """Encode (h, w, 3) RGB or (h, w, 1)/(h, w) grayscale uint8 pixels
    as a baseline JFIF JPEG (4:4:4, single interleaved scan)."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[..., None]
    h, w, c = px.shape
    if c not in (1, 3):
        raise ValueError(f"channels must be 1 or 3, got {c}")
    if h == 0 or w == 0:
        raise ValueError("empty image")
    px = px.astype(np.float64)
    planes = (
        [_rgb_to_ycbcr(px)[..., k] for k in range(3)] if c == 3 else [px[..., 0]]
    )
    qluma = _quality_scale(_Q_LUMA, quality)
    qchroma = _quality_scale(_Q_CHROMA, quality)
    qtabs = [qluma] + ([qchroma] if c == 3 else [])

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in enumerate(qtabs):
        out += _seg(0xDB, bytes([tid]) + bytes(
            int(v) for v in q.reshape(-1)[_ZIGZAG]
        ))
    # SOF0: precision 8, dims, per-component (id, sampling 0x11, qtab)
    comp = b"".join(
        struct.pack(">BBB", k + 1, 0x11, 0 if k == 0 else 1)
        for k in range(c)
    )
    out += _seg(0xC0, struct.pack(">BHHB", 8, h, w, c) + comp)
    # DHT: DC table 0, AC table 0 (shared by all components)
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_SYMBOLS))
    # SOS: all components use DC 0 / AC 0
    scomp = b"".join(struct.pack(">BB", k + 1, 0x00) for k in range(c))
    out += _seg(0xDA, bytes([c]) + scomp + b"\x00\x3f\x00")

    bw = _BitWriter()
    # per-plane blocked, DCT'd, quantized coefficient arrays
    coefs = []
    for k, plane in enumerate(planes):
        blocks = _blocks_of(plane) - 128.0
        fr = np.einsum("ux,byxw,vw->byuv", _DCT, blocks, _DCT)
        q = qtabs[0] if k == 0 else qtabs[1]
        cq = np.round(fr / q).astype(np.int64)
        coefs.append(cq)
    nby, nbx = coefs[0].shape[:2]
    prev_dc = [0] * c
    for by in range(nby):
        for bx in range(nbx):
            for k in range(c):
                zz = coefs[k][by, bx].reshape(-1)[_ZIGZAG]
                diff = int(zz[0]) - prev_dc[k]
                prev_dc[k] = int(zz[0])
                s = _category(diff)
                code, ln = _DC_CODES[s]
                bw.write(code, ln)
                if s:
                    bw.write(_mag_bits(diff, s), s)
                run = 0
                nz = np.nonzero(zz[1:])[0]
                last = nz[-1] + 1 if len(nz) else 0
                for i in range(1, last + 1):
                    v = int(zz[i])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = _AC_CODES[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s = _category(v)
                    code, ln = _AC_CODES[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(_mag_bits(v, s), s)
                    run = 0
                if last < 63:
                    code, ln = _AC_CODES[0x00]
                    bw.write(code, ln)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- decoder ------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    de-stuffing; raises on marker/EOF inside the scan."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG scan")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside scan "
                        f"(restart intervals are not supported)"
                    )
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _receive_extend(br: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = br.read_bits(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _HuffTable:
    def __init__(self, bits: bytes, vals: bytes) -> None:
        self.lut = {}
        code = 0
        k = 0
        for length_m1, count in enumerate(bits):
            for _ in range(count):
                self.lut[(length_m1 + 1, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def jpeg_decode(buf: bytes, max_pixels: int = 100_000_000) -> np.ndarray:
    """Decode a baseline JFIF JPEG to (h, w, c) uint8 — c = 3 (RGB,
    from YCbCr) or 1.  Raises ValueError (never guesses, never leaks
    an internal IndexError/KeyError/struct.error) on: progressive /
    other SOF types, chroma subsampling, 16-bit quant tables, restart
    intervals, multi-scan files, structural corruption, and SOF
    dimensions past ``max_pixels`` (a corrupt size field must not
    become a multi-GB allocation)."""
    try:
        return _jpeg_decode_impl(buf, max_pixels)
    except ValueError:
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            ZeroDivisionError, MemoryError) as e:
        # a corrupt stream must surface as the contract's ValueError,
        # not whatever internal error the parser happened to hit
        raise ValueError(
            f"corrupt or unsupported JPEG ({type(e).__name__}: {e})"
        ) from e


def _jpeg_decode_impl(buf: bytes, max_pixels: int) -> np.ndarray:
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffTable] = {}
    ac_tabs: dict[int, _HuffTable] = {}
    sof = None
    comps = []
    scan = None
    n = len(buf)
    while pos < n:
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them (other encoders legally emit them)
        while pos + 1 < n and buf[pos + 1] == 0xFF:
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack_from(">H", buf, pos)
        body = buf[pos + 2: pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                tab = np.zeros(64, dtype=np.int32)
                tab[_ZIGZAG] = np.frombuffer(
                    body[off + 1: off + 65], dtype=np.uint8
                )
                qt[tq] = tab.reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT (possibly several)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = body[off + 1: off + 17]
                cnt = sum(bits)
                vals = body[off + 17: off + 17 + cnt]
                (dc_tabs if tc == 0 else ac_tabs)[th] = _HuffTable(bits, vals)
                off += 17 + cnt
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nf = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"precision {prec} not supported")
            if h == 0 or w == 0 or h * w > max_pixels:
                raise ValueError(
                    f"SOF dimensions {w}x{h} invalid or beyond "
                    f"max_pixels={max_pixels}"
                )
            if nf not in (1, 3):
                # also caps the per-component coefficient allocations:
                # without this a crafted nf=255 multiplies the
                # max_pixels bound 255x
                raise ValueError(
                    f"{nf}-component JPEG not supported (grayscale or "
                    f"YCbCr 3-component only — CMYK would decode "
                    f"silently wrong)"
                )
            comps = []
            for k in range(nf):
                cid, samp, tq = struct.unpack_from(">BBB", body, 6 + 3 * k)
                if samp != 0x11:
                    raise ValueError(
                        "chroma subsampling not supported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            sof = (h, w, nf)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"SOF{marker - 0xC0} (non-baseline JPEG) not supported"
            )
        elif marker == 0xDD:
            raise ValueError("restart intervals (DRI) not supported")
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("SOS before SOF")
            if scan is not None:
                raise ValueError("multi-scan JPEG not supported")
            ns = body[0]
            stabs = []
            for k in range(ns):
                cs, tt = struct.unpack_from(">BB", body, 1 + 2 * k)
                stabs.append((cs, tt >> 4, tt & 0x0F))
            scan = (stabs, pos)
            # entropy-coded data: scan forward to the next real marker
            br = _BitReader(buf, pos)
            h, w, nf = sof
            if ns != nf:
                raise ValueError("partial-component scan not supported")
            nby, nbx = (h + 7) // 8, (w + 7) // 8
            coefs = [
                np.zeros((nby, nbx, 64), dtype=np.int64) for _ in range(nf)
            ]
            prev_dc = [0] * nf
            for by in range(nby):
                for bx in range(nbx):
                    for k in range(nf):
                        _, dtab, atab = stabs[k]
                        s = dc_tabs[dtab].decode(br)
                        diff = _receive_extend(br, s)
                        prev_dc[k] += diff
                        zz = coefs[k][by, bx]
                        zz[0] = prev_dc[k]
                        i = 1
                        while i < 64:
                            sym = ac_tabs[atab].decode(br)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    raise ValueError(
                                        f"invalid AC symbol {sym:#x}"
                                    )
                                i += 16  # ZRL
                                continue
                            i += run
                            if i > 63:
                                raise ValueError("AC run past block end")
                            zz[i] = _receive_extend(br, size)
                            i += 1
            pos = br.pos
            # IDCT all planes at once
            planes = []
            for k in range(nf):
                q = qt[comps[k][1]]
                dq = np.zeros((nby, nbx, 64), dtype=np.float64)
                dq[:, :, _ZIGZAG] = coefs[k]
                dq = dq.reshape(nby, nbx, 8, 8) * q
                sp = np.einsum("xu,byuv,wv->byxw", _DCT.T, dq, _DCT.T)
                full = sp.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
                planes.append(full[:h, :w] + 128.0)
            if nf == 3:
                rgb = _ycbcr_to_rgb(np.stack(planes, axis=-1))
            else:
                rgb = planes[0][..., None]
            return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        # other APPn/COM segments: skipped via seglen
    raise ValueError("no SOS scan found in JPEG")
