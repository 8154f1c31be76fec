"""Pure-stdlib+numpy baseline JPEG codec (encode + decode) for the
multimodal path.

The container has no image libraries, but baseline sequential JFIF is
huffman coding + an 8x8 DCT — both expressible with the stdlib plus
numpy. This makes the S4 decode step REAL for JPEG (the most common web
image format; reference analogue: the rasterization path
apps/queue/src/lib/ocr.ts:56-71), alongside the PNG codec
(functions/png.py). On a production cluster the dispatch point
(operators/multimodal.decode_image) would call libjpeg-turbo instead;
the semantics — dims, channels, pixel buffer, hostile-payload errors —
are what this module pins down.

Supported: baseline sequential (SOF0/1) AND progressive (SOF2, the
other encoding common on the real web: spectral selection + successive
approximation per ITU-T T.81 G.1/G.2, multi-scan with EOBRUN coding and
AC refinement), 8-bit, grayscale or 3-component YCbCr with ARBITRARY
sampling factors h,v ∈ {1,2,4} — including 4:2:0 and 4:2:2, the
dominant encodings of real web JPEGs — with standard or custom DQT/DHT
and restart intervals (DRI + RSTn). Chroma upsampling is deterministic
sample replication (libjpeg's "simple" / -nosmooth upsampler); chroma
downsampling on encode is a box mean. Arithmetic coding, hierarchical
(SOF5-15 beyond SOF2) and 12-bit depth raise JpegError — callers route
it into the never-drop error envelope.

Progressive transmission is a LOSSLESS re-ordering of the same
quantized coefficients, so decode(encode(progressive=True)) is pinned
bit-identical to decode(encode(progressive=False)) of the same pixels —
that equality is the internal spec-conformance oracle the tests use.

Determinism: encoder and decoder run the DCT as fixed-order numpy float64
matrix products and quantize with explicit rounding; the same code runs
in the fixture-oracle generator and the Spark workers, so outputs are
bit-identical between them (the same contract as functions/png.py).
"""

from __future__ import annotations

import math
import struct

import numpy as np

# same poison-pill bound as png.MAX_PIXELS: a hostile SOF0 can declare
# absurd dimensions; per-block pure-Python huffman decode would stall an
# executor core. Channel stats/thumbnails never need more.
MAX_PIXELS = 4 << 20

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# ITU-T T.81 Annex K reference tables
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.int64)

# Annex K huffman specs: (bits[1..16] counts, values)
DC_LUMA_SPEC = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
DC_CHROMA_SPEC = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
     0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
     0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
     0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
     0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
     0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa])
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
     0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
     0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
     0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
     0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
     0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
     0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
     0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa])


class JpegError(ValueError):
    pass


# 8x8 DCT-II basis, orthonormal, from scalar math.cos rather than numpy's
# SIMD-dispatched np.cos
def _dct_matrix() -> np.ndarray:
    c = np.array([[math.cos((2 * x + 1) * u * math.pi / 16) * 0.5
                   for x in range(8)] for u in range(8)])
    c[0, :] *= 1 / math.sqrt(2)
    return c


_DCT = _dct_matrix()


def _idct(blocks: np.ndarray) -> np.ndarray:
    """``_DCT.T @ b @ _DCT`` for every 8x8 block ``b`` in ``blocks[..., 8,
    8]``, summed in a fixed order by elementwise multiply/add ufuncs. A
    matmul goes through BLAS, whose summation order, and so its rounding,
    depends on the CPU; decoded pixels must not."""
    tmp = _DCT[0, :, None] * blocks[..., 0, None, :]
    for u in range(1, 8):
        tmp += _DCT[u, :, None] * blocks[..., u, None, :]
    out = tmp[..., 0, None] * _DCT[0]
    for v in range(1, 8):
        out += tmp[..., v, None] * _DCT[v]
    return out


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 → reference table, clamped to 1..255."""
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((table * scale + 50) // 100, 1, 255)


# --- bit I/O ---------------------------------------------------------------
class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)   # pad with 1s per spec


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegError("truncated scan data")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise JpegError("truncated scan data")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1          # stuffed byte
            elif 0xD0 <= nxt <= 0xD7:
                # restart markers are consumed at MCU boundaries by
                # sync_restart(); one inside entropy data is corruption
                raise JpegError("unexpected restart marker")
            else:
                raise JpegError("marker inside scan data")
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, expected: int) -> None:
        """Byte-align, then consume the RSTn marker at this restart
        boundary (T.81 §B.2.1.2: n cycles 0..7). The un-consumed pad byte
        (and its stuffed 0x00 when the pad is 0xFF) may still sit before
        the marker — skip at most those."""
        self.acc = 0
        self.n = 0                      # discard padding bits
        skipped = 0
        while True:
            if self.pos + 2 > len(self.data):
                raise JpegError("missing restart marker")
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                break
            self.pos += 1
            skipped += 1
            if skipped > 2:
                raise JpegError("missing restart marker")
        if self.data[self.pos + 1] != 0xD0 + expected:
            raise JpegError("restart marker out of sequence")
        self.pos += 2


# --- huffman tables --------------------------------------------------------
def _build_encode_table(spec: tuple) -> dict[int, tuple[int, int]]:
    """value → (code, length), canonical code assignment."""
    bits, values = spec
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_table(spec: tuple) -> dict[tuple[int, int], int]:
    """(length, code) → value."""
    enc = _build_encode_table(spec)
    return {(ln, code): val for val, (code, ln) in enc.items()}


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise JpegError("invalid huffman code")


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: negative values stored as v - 1 in cat bits."""
    cat = _category(v)
    return (v if v >= 0 else v - 1 + (1 << cat)), cat


def _decode_magnitude(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    if bits >> (cat - 1):              # leading 1 → positive
        return bits
    return bits - (1 << cat) + 1


# --- color transforms (JFIF floats, fixed op order) ------------------------
def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


# --- encoder ---------------------------------------------------------------
_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _encode_block(bw: _BitWriter, block: np.ndarray, qtab: np.ndarray,
                  dc_tab: dict, ac_tab: dict, prev_dc: int) -> int:
    """DCT + quantize + huffman-encode one 8x8 block; returns its DC."""
    coefs = _DCT @ (block - 128.0) @ _DCT.T
    zz = np.floor(coefs / qtab.reshape(8, 8) + 0.5).astype(np.int64)
    zz = zz.reshape(64)[ZIGZAG]
    diff = int(zz[0]) - prev_dc
    mag, cat = _encode_magnitude(diff)
    code, ln = dc_tab[cat]
    bw.write(code, ln)
    if cat:
        bw.write(mag, cat)
    run = 0
    last_nz = max(np.nonzero(zz)[0], default=0)
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]        # ZRL
            bw.write(code, ln)
            run -= 16
        mag, cat = _encode_magnitude(v)
        code, ln = ac_tab[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(mag, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]            # EOB
        bw.write(code, ln)
    return int(zz[0])


def _pad_to(plane: np.ndarray, rows: int, cols: int) -> np.ndarray:
    return np.pad(plane, ((0, rows - plane.shape[0]),
                          (0, cols - plane.shape[1])), mode="edge")


def _quantize_block(block: np.ndarray, qtab: np.ndarray) -> list:
    """DCT + quantize one 8x8 block → 64 zigzag-order int coefficients.
    Bit-identical math to the inline baseline path in _encode_block."""
    coefs = _DCT @ (block - 128.0) @ _DCT.T
    zz = np.floor(coefs / qtab.reshape(8, 8) + 0.5).astype(np.int64)
    return zz.reshape(64)[ZIGZAG].tolist()


def encode_jpeg(width: int, height: int, channels: int, px: bytes,
                quality: int = 85, subsampling: str = "444",
                restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """Baseline sequential (or, with ``progressive=True``, progressive
    SOF2 using libjpeg's default scan script) JFIF: grayscale
    (channels=1) or YCbCr (channels=3) at 4:4:4 / 4:2:2 / 4:2:0 chroma
    sampling, optionally with restart markers every ``restart_interval``
    MCUs (baseline only). Deterministic pure function of its arguments
    (box-mean chroma downsample, fixed-order float ops)."""
    if channels not in (1, 3):
        raise JpegError(f"encode supports 1 or 3 channels, got {channels}")
    if len(px) != width * height * channels:
        raise JpegError("pixel buffer size mismatch")
    if subsampling not in _SUBSAMPLING:
        raise JpegError(f"unsupported subsampling {subsampling!r}")
    img = np.frombuffer(px, dtype=np.uint8).reshape(
        height, width, channels).astype(np.float64)

    if channels == 1:
        sampling = [(1, 1)]
        full = [img[..., 0]]
    else:
        sampling = [_SUBSAMPLING[subsampling], (1, 1), (1, 1)]
        ycc = _rgb_to_ycbcr(img)
        full = [ycc[..., c] for c in range(3)]
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    # per-component planes at their own resolution, padded to the MCU grid
    planes: list[np.ndarray] = []
    for (h, v), plane in zip(sampling, full):
        fy, fx = vmax // v, hmax // h
        if fy != 1 or fx != 1:
            ph = (height + fy - 1) // fy * fy
            pw = (width + fx - 1) // fx * fx
            plane = _pad_to(plane, ph, pw)
            plane = plane.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        planes.append(_pad_to(plane, mcuy * v * 8, mcux * h * 8))

    qluma = _quality_scale(QUANT_LUMA, quality)
    qchroma = _quality_scale(QUANT_CHROMA, quality)
    qtables = [qluma] if channels == 1 else [qluma, qchroma]
    comp_q = [0] if channels == 1 else [0, 1, 1]

    enc_dc = [_build_encode_table(DC_LUMA_SPEC),
              _build_encode_table(DC_CHROMA_SPEC)]
    enc_ac = [_build_encode_table(AC_LUMA_SPEC),
              _build_encode_table(AC_CHROMA_SPEC)]
    comp_h = comp_q   # table 0 for luma, 1 for chroma

    if progressive:
        if restart_interval:
            raise JpegError(
                "restart intervals unsupported with progressive encode")
        return _encode_progressive(
            width, height, channels, sampling, planes, qtables, comp_q,
            enc_dc, hmax, vmax, mcux, mcuy)

    bw = _BitWriter()
    prev_dc = [0] * channels
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                bw.flush()
                bw.buf += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                prev_dc = [0] * channels
            for ci, (h, v) in enumerate(sampling):
                for bv in range(v):
                    for bu in range(h):
                        y0 = (my * v + bv) * 8
                        x0 = (mx * h + bu) * 8
                        block = planes[ci][y0:y0 + 8, x0:x0 + 8]
                        prev_dc[ci] = _encode_block(
                            bw, block, qtables[comp_q[ci]],
                            enc_dc[comp_h[ci]], enc_ac[comp_h[ci]],
                            prev_dc[ci])
            mcu_count += 1
    bw.flush()

    out = bytearray(b"\xff\xd8")                       # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)             # APP0 (v1.1, no dpi)
    for tid, qt in enumerate(qtables):                 # DQT (zigzag order)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) \
            + bytes(int(qt[i]) for i in ZIGZAG)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * channels, 8,
                                     height, width, channels)  # SOF0
    for ci, (h, v) in enumerate(sampling):
        out += struct.pack("BBB", ci + 1, (h << 4) | v, comp_q[ci])
    specs = ([(0x00, DC_LUMA_SPEC), (0x10, AC_LUMA_SPEC)] if channels == 1
             else [(0x00, DC_LUMA_SPEC), (0x10, AC_LUMA_SPEC),
                   (0x01, DC_CHROMA_SPEC), (0x11, AC_CHROMA_SPEC)])
    for tc_th, (bits, values) in specs:                # DHT
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc_th) \
            + bytes(bits) + bytes(values)
    if restart_interval:                               # DRI
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * channels, channels)
    for ci in range(channels):                         # SOS
        out += struct.pack("BB", ci + 1, comp_h[ci] * 0x11)
    out += b"\x00\x3f\x00"                             # Ss/Se/AhAl
    out += bw.buf
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


# --- progressive encoder (T.81 G.1: spectral selection + successive
# approximation; scan emitters mirror libjpeg's jcphuff.c semantics) --------

# libjpeg's default scan script (jcparam.c jpeg_simple_progression):
# (component indices, Ss, Se, Ah, Al). DC scans first with one dropped
# bit, AC spectral bands at reduced precision, then one refinement pass
# per dropped bit. Exercises every progressive decode path.
def _progressive_scans(channels: int) -> list[tuple]:
    if channels == 1:
        return [([0], 0, 0, 0, 1),
                ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2),
                ([0], 1, 63, 2, 1),
                ([0], 0, 0, 1, 0),
                ([0], 1, 63, 1, 0)]
    return [([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1), ([1], 1, 63, 0, 1),
            ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([0], 1, 63, 1, 0)]


def _emit_dc_scan(bw: _BitWriter, scan: tuple, blocks: list, sampling: list,
                  enc_dc: list, comp_h: list, mcux: int, mcuy: int) -> None:
    """DC scan, interleaved over the MCU grid when multi-component.
    First pass (Ah=0) codes diffs of (DC >> Al); refinement (Ah>0) is one
    raw bit per block."""
    cis, _ss, _se, ah, al = scan
    prev = {ci: 0 for ci in cis}
    interleaved = len(cis) > 1
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in cis:
                h, v = sampling[ci] if interleaved else (1, 1)
                for bv in range(v):
                    for bu in range(h):
                        blk = blocks[ci][my * v + bv][mx * h + bu]
                        if ah:                       # refinement: raw bit
                            bw.write((blk[0] >> al) & 1, 1)
                            continue
                        val = blk[0] >> al           # arithmetic shift
                        diff = val - prev[ci]
                        prev[ci] = val
                        mag, cat = _encode_magnitude(diff)
                        code, ln = enc_dc[comp_h[ci]][cat]
                        bw.write(code, ln)
                        if cat:
                            bw.write(mag, cat)


class _FreqSink:
    """Symbol-frequency gatherer: first pass of libjpeg's two-pass
    optimized-Huffman progressive encode (jcphuff.c gather_statistics).
    The emitters' symbol/bit sequence is table-independent, so the
    counting pass sees exactly the symbols the writing pass will emit."""

    def __init__(self) -> None:
        self.freq = [0] * 256

    def symbol(self, s: int) -> None:
        self.freq[s] += 1

    def bits(self, v: int, n: int) -> None:
        pass


class _WriteSink:
    def __init__(self, bw: _BitWriter, tab: dict) -> None:
        self.bw = bw
        self.tab = tab

    def symbol(self, s: int) -> None:
        code, ln = self.tab[s]
        self.bw.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.bw.write(v, n)


def _gen_optimal_table(freq: list) -> tuple[list, list]:
    """Optimal length-limited Huffman table from symbol frequencies —
    ITU-T T.81 K.2 (Code_size / Adjust_BITS / Sort_input), the same
    procedure as libjpeg's jpeg_gen_optimal_table. A pseudo-symbol 256
    with frequency 1 reserves the all-ones codeword."""
    freq = list(freq) + [1]
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = -1
        v = None
        for i in range(257):
            if freq[i] and (v is None or freq[i] <= v):
                v = freq[i]
                c1 = i
        c2 = -1
        v = None
        for i in range(257):
            if freq[i] and (v is None or freq[i] <= v) and i != c1:
                v = freq[i]
                c2 = i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    i = 32                      # Adjust_BITS: limit code length to 16
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1                # drop the reserved pseudo-symbol's code
    huffval = []
    for size in range(1, 33):
        for j in range(256):
            if codesize[j] == size:
                huffval.append(j)
    return bits[1:17], huffval


def _emit_ac_first_scan(sink, scan: tuple, comp_blocks: list,
                        bw_blocks: int, bh_blocks: int) -> None:
    """AC first scan (Ah=0): band Ss..Se of |coef|>>Al with EOBRUN coding
    (jcphuff.c encode_mcu_AC_first). Always single-component,
    non-interleaved block raster."""
    _cis, ss, se, _ah, al = scan
    eobrun = 0

    def emit_eobrun() -> None:
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            sink.symbol(nbits << 4)
            sink.bits(eobrun, nbits)   # low bits; leading 1 implied
            eobrun = 0

    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            blk = comp_blocks[by][bx]
            r = 0
            for k in range(ss, se + 1):
                t = blk[k]
                t = (-t if t < 0 else t) >> al
                if t == 0:
                    r += 1
                    continue
                emit_eobrun()
                while r > 15:
                    sink.symbol(0xF0)          # ZRL
                    r -= 16
                sv = t if blk[k] > 0 else -t
                mag, cat = _encode_magnitude(sv)
                sink.symbol((r << 4) | cat)
                sink.bits(mag, cat)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:           # counter ceiling
                    emit_eobrun()
    emit_eobrun()


def _emit_ac_refine_scan(sink, scan: tuple, comp_blocks: list,
                         bw_blocks: int, bh_blocks: int) -> None:
    """AC refinement scan (Ah>0): one new magnitude bit per coefficient
    (jcphuff.c encode_mcu_AC_refine). Correction bits for already-nonzero
    coefficients are buffered and ride behind the next emitted symbol —
    EOB runs carry their blocks' correction bits with them."""
    _cis, ss, se, _ah, al = scan
    eobrun = 0
    be_bits: list[int] = []     # correction bits attached to pending EOBRUN

    def emit_eobrun() -> None:
        nonlocal eobrun, be_bits
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            sink.symbol(nbits << 4)
            sink.bits(eobrun, nbits)
            eobrun = 0
            for b in be_bits:
                sink.bits(b, 1)
            be_bits = []

    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            blk = comp_blocks[by][bx]
            absv = []
            eob = -1        # index of the last newly-nonzero coefficient
            for k in range(ss, se + 1):
                t = blk[k]
                t = (-t if t < 0 else t) >> al
                absv.append(t)
                if t == 1:
                    eob = k
            r = 0
            br: list[int] = []  # this block's buffered correction bits
            for i, k in enumerate(range(ss, se + 1)):
                t = absv[i]
                if t == 0:
                    r += 1
                    continue
                # ZRLs only while they can't fold into an EOB run
                while r > 15 and k <= eob:
                    emit_eobrun()
                    sink.symbol(0xF0)
                    r -= 16
                    for b in br:
                        sink.bits(b, 1)
                    br = []
                if t > 1:       # history coefficient: correction bit only
                    br.append(t & 1)
                    continue
                emit_eobrun()
                sink.symbol((r << 4) | 1)
                sink.bits(0 if blk[k] < 0 else 1, 1)  # sign of the new coef
                for b in br:
                    sink.bits(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                be_bits.extend(br)
                # force-flush before counter or correction-buffer overflow
                if eobrun == 0x7FFF or len(be_bits) > 937:
                    emit_eobrun()
    emit_eobrun()


def _encode_progressive(width: int, height: int, channels: int,
                        sampling: list, planes: list, qtables: list,
                        comp_q: list, enc_dc: list,
                        hmax: int, vmax: int, mcux: int, mcuy: int) -> bytes:
    comp_h = comp_q
    # quantize every block up front (the same coefficients a baseline
    # encode would emit — progressive only re-orders their transmission)
    blocks: list[list[list[list]]] = []
    for ci, (h, v) in enumerate(sampling):
        qt = qtables[comp_q[ci]]
        plane = planes[ci]
        blocks.append(
            [[_quantize_block(plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8],
                              qt)
              for bx in range(mcux * h)] for by in range(mcuy * v)])

    out = bytearray(b"\xff\xd8")                       # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tid, qt in enumerate(qtables):                 # DQT
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) \
            + bytes(int(qt[i]) for i in ZIGZAG)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * channels, 8,
                                     height, width, channels)  # SOF2
    for ci, (h, v) in enumerate(sampling):
        out += struct.pack("BBB", ci + 1, (h << 4) | v, comp_q[ci])
    specs = ([(0x00, DC_LUMA_SPEC)] if channels == 1
             else [(0x00, DC_LUMA_SPEC), (0x01, DC_CHROMA_SPEC)])
    for tc_th, (bits, values) in specs:     # DC tables up front (Annex K:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc_th) \
            + bytes(bits) + bytes(values)   # complete for cats 0..11)

    for scan in _progressive_scans(channels):
        cis, ss, se, ah, al = scan
        if ss == 0:                                    # DC scan
            bw = _BitWriter()
            _emit_dc_scan(bw, scan, blocks, sampling, enc_dc, comp_h,
                          mcux, mcuy)
        else:
            # AC scans need EOBn symbols the Annex K baseline tables
            # lack: two-pass per-scan optimized Huffman, like libjpeg's
            # progressive mode (gather statistics, gen optimal table,
            # emit a fresh DHT in slot Ta=0 before the scan).
            ci = cis[0]
            h, v = sampling[ci]
            cw = (width * h + hmax - 1) // hmax
            ch = (height * v + vmax - 1) // vmax
            nbx, nby = (cw + 7) // 8, (ch + 7) // 8
            emit = _emit_ac_first_scan if ah == 0 else _emit_ac_refine_scan
            counter = _FreqSink()
            emit(counter, scan, blocks[ci], nbx, nby)
            tbits, tvals = _gen_optimal_table(counter.freq)
            out += b"\xff\xc4" + struct.pack(">HB", 19 + len(tvals), 0x10) \
                + bytes(tbits) + bytes(tvals)
            bw = _BitWriter()
            emit(_WriteSink(bw, _build_encode_table((tbits, tvals))),
                 scan, blocks[ci], nbx, nby)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(cis), len(cis))
        for ci in cis:                                 # SOS per scan
            td_ta = (comp_h[ci] << 4) if ss == 0 else 0
            out += struct.pack("BB", ci + 1, td_ta)
        out += struct.pack("BBB", ss, se, (ah << 4) | al)
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


# --- decoder ---------------------------------------------------------------
def _decode_block_coefs(reader: _BitReader, dc_tab: dict, ac_tab: dict,
                        blk: list, prev_dc: int) -> int:
    """Baseline: huffman-decode one full block of 64 zigzag coefficients
    into ``blk``; returns the new DC predictor."""
    cat = _huff_decode(reader, dc_tab)
    if cat > 11:
        raise JpegError("invalid DC category")
    dc = prev_dc + _decode_magnitude(reader.read_bits(cat), cat)
    blk[0] = dc
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_tab)
        run, cat = rs >> 4, rs & 0x0F
        if cat == 0:
            if run == 15:       # ZRL
                k += 16
                continue
            break               # EOB
        k += run
        if k > 63:
            raise JpegError("AC index overflow")
        blk[k] = _decode_magnitude(reader.read_bits(cat), cat)
        k += 1
    return dc


def _decode_ac_first(reader: _BitReader, ac_tab: dict, blk: list,
                     ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC first scan for one block (jdphuff.c
    decode_mcu_AC_first); returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s:
            k += r
            if k > se:
                raise JpegError("AC index overflow")
            blk[k] = _decode_magnitude(reader.read_bits(s), s) << al
            k += 1
        else:
            if r < 15:          # EOBn: run of (1<<r)+bits end-of-bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read_bits(r)
                break
            k += 16             # ZRL
    return eobrun


def _decode_ac_refine(reader: _BitReader, ac_tab: dict, blk: list,
                      ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC refinement scan for one block (jdphuff.c
    decode_mcu_AC_refine): newly-nonzero coefficients arrive as ±1<<Al;
    every already-nonzero coefficient passed carries one correction bit.
    Returns the remaining EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:      # EOBn — rest of this block is tail-refined
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # else ZRL: skip 16 zero-history positions below
            else:
                if s != 1:
                    raise JpegError("invalid AC refinement symbol")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if blk[k] != 0:     # history coef: correction bit
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                if k > se:
                    raise JpegError("AC refinement overflow")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:              # tail of an EOB-run block still
            if blk[k] != 0:         # carries its correction bits
                if reader.read_bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _entropy_end(payload: bytes, start: int) -> int:
    """Index just past a scan's entropy data: the first 0xFF followed by
    a real marker (not a stuffed 0x00, not RST0-7)."""
    i = start
    n = len(payload)
    while i + 1 < n:
        if payload[i] == 0xFF:
            nxt = payload[i + 1]
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return i
        i += 1
    return n


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """payload → (width, height, n_channels, raw pixel bytes row-major).

    Baseline sequential (SOF0/1) or progressive (SOF2, multi-scan with
    spectral selection + successive approximation); arbitrary sampling
    factors h,v ∈ {1,2,4} (4:2:0 / 4:2:2 / 4:4:4 and friends) and
    restart intervals. Subsampled components upsample by deterministic
    sample replication. Coefficients accumulate across scans and are
    dequantized + IDCT'd once at the end, so baseline output is
    bit-identical to the former single-pass decoder."""
    if not payload.startswith(b"\xff\xd8"):
        raise JpegError("not a JPEG signature")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    progressive = False
    comps: list[tuple[int, int, int, int]] = []   # (comp_id, h, v, qid)
    coef: list | None = None      # per comp: [by][bx] → 64 zigzag ints
    restart_interval = 0
    n_scans = 0
    hmax = vmax = mcux = mcuy = 0

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise JpegError("bad marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD9:                    # EOI
            break
        if pos + 4 > len(payload):
            raise JpegError("truncated segment")
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        seg = payload[pos + 4:pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise JpegError("truncated segment")
        if marker == 0xDB:                    # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise JpegError("16-bit quant tables not supported")
                zz = np.frombuffer(seg[p + 1:p + 65], dtype=np.uint8)
                if len(zz) != 64:
                    raise JpegError("short quant table")
                qt = np.zeros(64, dtype=np.int64)
                qt[ZIGZAG] = zz
                qtables[tq] = qt
                p += 65
        elif marker in (0xC0, 0xC1, 0xC2):    # SOF0/1 baseline, SOF2 prog
            if width is not None:
                raise JpegError("multiple SOF markers")
            progressive = marker == 0xC2
            depth, height, width, nc = struct.unpack(">BHHB", seg[:6])
            if depth != 8:
                raise JpegError("only 8-bit depth supported")
            if nc not in (1, 3):
                raise JpegError(f"unsupported component count {nc}")
            if width * height > MAX_PIXELS:
                raise JpegError("image exceeds MAX_PIXELS")
            if width == 0 or height == 0:
                raise JpegError("zero dimension")
            for ci in range(nc):
                cid, samp, qid = seg[6 + 3 * ci:9 + 3 * ci]
                h, v = samp >> 4, samp & 0x0F
                if nc == 1:
                    # single-component scans are never interleaved: the
                    # declared factors are irrelevant (libjpeg ignores them)
                    h = v = 1
                if h not in (1, 2, 4) or v not in (1, 2, 4):
                    raise JpegError(f"unsupported sampling {h}x{v}")
                comps.append((cid, h, v, qid))
            hmax = max(h for _, h, _, _ in comps)
            vmax = max(v for _, _, v, _ in comps)
            if any(hmax % h or vmax % v for _, h, v, _ in comps):
                raise JpegError("non-integral sampling ratio")
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            coef = [[[[0] * 64 for _ in range(mcux * h)]
                     for _ in range(mcuy * v)]
                    for _, h, v, _ in comps]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegError(
                "only baseline sequential (SOF0) or progressive (SOF2) "
                "supported")
        elif marker == 0xC4:                  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nvals = sum(bits)
                values = list(seg[p + 17:p + 17 + nvals])
                if len(values) != nvals:
                    raise JpegError("short huffman table")
                table = _build_decode_table((bits, values))
                (dc_tables if tc == 0 else ac_tables)[th] = table
                p += 17 + nvals
        elif marker == 0xDD:                  # DRI
            if len(seg) < 2:
                raise JpegError("short DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:                  # SOS: decode one scan
            if coef is None:
                raise JpegError("missing SOF or SOS")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise JpegError("truncated scan header")
            scan_comps: list[tuple[int, int, int]] = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                idx = next((i for i, (cid, _, _, _) in enumerate(comps)
                            if cid == cs), None)
                if idx is None:
                    raise JpegError("scan references unknown component")
                scan_comps.append((idx, tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if progressive:
                if ss == 0 and se != 0:
                    raise JpegError("progressive DC scan with nonzero Se")
                if ss > 0 and (ns != 1 or se < ss or se > 63):
                    raise JpegError("invalid progressive AC scan header")
                if ah > 13 or al > 13:
                    raise JpegError("invalid successive approximation")
            else:
                if ns != len(comps):
                    raise JpegError("interleave mismatch")
                ss, se, ah, al = 0, 63, 0, 0   # lenient, as before
            for idx, dc_id, ac_id in scan_comps:
                need_dc = (not progressive) or (ss == 0 and ah == 0)
                need_ac = (not progressive) or ss > 0
                if (need_dc and dc_id not in dc_tables) or \
                        (need_ac and ac_id not in ac_tables):
                    raise JpegError("scan references missing huffman table")
                if comps[idx][3] not in qtables:
                    raise JpegError("scan references missing quant table")
            scan_start = pos + 2 + seglen
            end = _entropy_end(payload, scan_start)
            reader = _BitReader(payload[scan_start:end])
            _decode_scan(reader, comps, coef, scan_comps, ss, se, ah, al,
                         progressive, restart_interval, dc_tables,
                         ac_tables, width, height, hmax, vmax, mcux, mcuy)
            n_scans += 1
            pos = end
            continue
        # APPn/COM/others: skip
        pos += 2 + seglen

    if width is None or n_scans == 0:
        raise JpegError("missing SOF or SOS")

    # dequantize + IDCT every block once, all scans applied; then crop
    # each component to its own resolution and replicate up to full
    nc = len(comps)
    out_planes: list[np.ndarray] = []
    for (cid, h, v, qid), grid in zip(comps, coef):
        rows, cols = len(grid), len(grid[0])
        coefs = np.zeros((rows, cols, 64), dtype=np.int64)
        coefs[..., ZIGZAG] = grid
        blocks = (coefs * qtables[qid]).reshape(rows, cols, 8, 8)
        plane = (_idct(blocks.astype(np.float64)) + 128.0).transpose(
            0, 2, 1, 3).reshape(rows * 8, cols * 8)
        cw = (width * h + hmax - 1) // hmax
        ch = (height * v + vmax - 1) // vmax
        plane = plane[:ch, :cw]
        if h != hmax or v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // v, axis=0),
                              hmax // h, axis=1)
        out_planes.append(plane[:height, :width])

    if nc == 1:
        out = np.clip(np.floor(out_planes[0] + 0.5), 0, 255).astype(np.uint8)
        return width, height, 1, out.tobytes()
    ycc = np.stack(out_planes, axis=-1)
    rgb = np.clip(np.floor(_ycbcr_to_rgb(ycc) + 0.5), 0, 255).astype(np.uint8)
    return width, height, 3, rgb.tobytes()


def _decode_scan(reader: _BitReader, comps: list, coef: list,
                 scan_comps: list, ss: int, se: int, ah: int, al: int,
                 progressive: bool, restart_interval: int,
                 dc_tables: dict, ac_tables: dict, width: int, height: int,
                 hmax: int, vmax: int, mcux: int, mcuy: int) -> None:
    """Entropy-decode one scan into the coefficient store.

    Interleaved scans (ns > 1 — every baseline scan, progressive DC
    scans) walk the MCU grid; single-component scans walk the
    component's own ceil(cw/8) x ceil(ch/8) block raster (T.81 A.2.2 —
    MCU-pad blocks are NOT coded in non-interleaved scans). Restart
    intervals count MCUs resp. blocks and reset DC predictors + EOBRUN."""
    prev_dc = {idx: 0 for idx, _, _ in scan_comps}
    eobrun = 0
    rst = 0
    unit = 0
    if len(scan_comps) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and unit \
                        and unit % restart_interval == 0:
                    reader.sync_restart(rst)
                    rst = (rst + 1) % 8
                    prev_dc = {i: 0 for i in prev_dc}
                for idx, dc_id, ac_id in scan_comps:
                    _, h, v, _ = comps[idx]
                    for bv in range(v):
                        for bu in range(h):
                            blk = coef[idx][my * v + bv][mx * h + bu]
                            if not progressive:
                                prev_dc[idx] = _decode_block_coefs(
                                    reader, dc_tables[dc_id],
                                    ac_tables[ac_id], blk, prev_dc[idx])
                            elif ah == 0:          # DC first
                                cat = _huff_decode(reader, dc_tables[dc_id])
                                if cat > 11:
                                    raise JpegError("invalid DC category")
                                prev_dc[idx] += _decode_magnitude(
                                    reader.read_bits(cat), cat)
                                blk[0] = prev_dc[idx] << al
                            else:                  # DC refinement
                                if reader.read_bit():
                                    blk[0] |= 1 << al
                unit += 1
        return
    idx, dc_id, ac_id = scan_comps[0]
    _, h, v, _ = comps[idx]
    cw = (width * h + hmax - 1) // hmax
    ch = (height * v + vmax - 1) // vmax
    for by in range((ch + 7) // 8):
        for bx in range((cw + 7) // 8):
            if restart_interval and unit and unit % restart_interval == 0:
                reader.sync_restart(rst)
                rst = (rst + 1) % 8
                prev_dc = {idx: 0}
                eobrun = 0
            blk = coef[idx][by][bx]
            if not progressive:
                prev_dc[idx] = _decode_block_coefs(
                    reader, dc_tables[dc_id], ac_tables[ac_id], blk,
                    prev_dc[idx])
            elif ss == 0:
                if ah == 0:                        # DC first
                    cat = _huff_decode(reader, dc_tables[dc_id])
                    if cat > 11:
                        raise JpegError("invalid DC category")
                    prev_dc[idx] += _decode_magnitude(
                        reader.read_bits(cat), cat)
                    blk[0] = prev_dc[idx] << al
                elif reader.read_bit():            # DC refinement
                    blk[0] |= 1 << al
            elif ah == 0:                          # AC first
                eobrun = _decode_ac_first(
                    reader, ac_tables[ac_id], blk, ss, se, al, eobrun)
            else:                                  # AC refinement
                eobrun = _decode_ac_refine(
                    reader, ac_tables[ac_id], blk, ss, se, al, eobrun)
            unit += 1
