"""Deterministic media-fixture encoders (spec-side, independent of the
decoders in `binary_ops`).

These generate byte-exact, analytically-predictable media blobs — BMP,
PGM/PPM, every legal PNG layout, baseline JPEG, 16-bit PCM WAV, and a
minimal MP4/ISO-BMFF file — used in two places:

1. `tests/test_multimodal.py` round-trips them through the pure-python
   decoders (encoder and decoder are written from the specs separately,
   so agreement is evidence, not tautology);
2. `queries/audit_ext.py::q_media_decode_audit` builds a fixture corpus
   in-query, decodes it through the REAL Spark path (mapInPandas over
   binary rows), and emits a one-row BIGINT summary whose values the
   DuckDB oracle states as spec-predicted constants.

Specs: PNG (RFC 2083 / W3C PNG 2nd ed. — chunk layout §5, filters §9.2,
Adam7 §8.2), JPEG (ITU-T T.81 — baseline DCT, Annex A/F), BMP
(BITMAPINFOHEADER), WAV (RIFF/PCM), MP4 (ISO/IEC 14496-12 box model).
No reference-repo provenance: the reference actor
(peptidehackers/seo-audit-etl-actor) has no media surface at all; this
module exists for the engine's multimodal-column subsystem.
"""

from __future__ import annotations

import struct

__all__ = [
    "encode_pgm",
    "encode_ppm",
    "encode_bmp24",
    "encode_png",
    "encode_jpeg",
    "encode_wav",
    "encode_mp4",
    "png_chunk",
    "png_filter_row",
    "pack_png_row",
    "ADAM7",
    "ZIGZAG",
]


# ------------------------------------------------------------- PNM / BMP

def encode_pgm(w: int, h: int, pixels: bytes) -> bytes:
    """Binary PGM (P5) with a comment line in the header."""
    assert len(pixels) == w * h
    return b"P5\n# comment\n%d %d\n255\n" % (w, h) + pixels


def encode_ppm(w: int, h: int, rgb: bytes) -> bytes:
    """Binary PPM (P6), single-line header."""
    assert len(rgb) == w * h * 3
    return b"P6 %d %d 255\n" % (w, h) + rgb


def encode_bmp24(w: int, h: int, rows_topdown: list[bytes]) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP; rows_topdown[i] is row i's BGR
    bytes (len = 3*w). Rows are padded to 4-byte stride per the format."""
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    raster = b"".join(r + pad for r in reversed(rows_topdown))
    pix_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", pix_off + len(raster), 0, 0, pix_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    )
    return header + raster


# ------------------------------------------------------------------- PNG

ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def png_chunk(cid: bytes, body: bytes) -> bytes:
    import zlib

    return struct.pack(">I", len(body)) + cid + body + struct.pack(
        ">I", zlib.crc32(cid + body) & 0xFFFFFFFF
    )


def png_filter_row(ftype: int, cur: bytes, prev: bytes, bpp: int) -> bytes:
    """Encoder-side scanline filter (PNG spec 9.2): produces the filtered
    bytes for one scanline given the raw current and previous rows."""
    out = bytearray()
    for x in range(len(cur)):
        a = cur[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ftype == 0:
            out.append(cur[x])
        elif ftype == 1:
            out.append((cur[x] - a) & 0xFF)
        elif ftype == 2:
            out.append((cur[x] - b) & 0xFF)
        elif ftype == 3:
            out.append((cur[x] - (a + b) // 2) & 0xFF)
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((cur[x] - pred) & 0xFF)
    return bytes(out)


def pack_png_row(samples_row, bit_depth: int) -> bytes:
    """Pack one scanline of samples to bytes: MSB-first bit groups for
    depths 1/2/4, big-endian u16 for depth 16, raw bytes for depth 8."""
    flat = [int(v) for v in samples_row.reshape(-1)]
    if bit_depth == 8:
        return bytes(flat)
    if bit_depth == 16:
        return b"".join(struct.pack(">H", v) for v in flat)
    bits = []
    for v in flat:
        for k in range(bit_depth - 1, -1, -1):
            bits.append((v >> k) & 1)
    while len(bits) % 8:
        bits.append(0)
    return bytes(
        sum(b << (7 - i) for i, b in enumerate(bits[j : j + 8]))
        for j in range(0, len(bits), 8)
    )


def encode_png(
    pixels, color_type: int, bit_depth: int = 8, palette=None, interlace: int = 0
) -> bytes:
    """PNG encoder covering every legal depth + Adam7 interlacing
    (per-pass independent filtering; the filter type rotates by row so
    all five filters are exercised). `pixels` is (H, W, channels) with
    sample values in the native bit-depth range."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.int64)
    h, w, ch = px.shape
    bpp = max(1, ch * bit_depth // 8)

    def encode_pass(sub) -> bytes:
        raw = bytearray()
        stride = (sub.shape[1] * ch * bit_depth + 7) // 8
        prev = bytes(stride)
        for y in range(sub.shape[0]):
            cur = pack_png_row(sub[y], bit_depth)
            f = y % 5
            raw.append(f)
            raw += png_filter_row(f, cur, prev, bpp)
            prev = cur
        return bytes(raw)

    if interlace == 0:
        raw = encode_pass(px)
    else:
        raw = b"".join(
            encode_pass(px[y0::dy, x0::dx])
            for x0, y0, dx, dy in ADAM7
            if px[y0::dy, x0::dx].shape[0] and px[y0::dy, x0::dx].shape[1]
        )
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += png_chunk(b"PLTE", bytes(palette))
    out += png_chunk(b"IDAT", zlib.compress(raw))
    return out + png_chunk(b"IEND", b"")


# ------------------------------------------------------------------ JPEG

ZIGZAG = [  # transcribed from T.81 Figure A.6
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _ref_fdct(block):
    """Direct-formula forward DCT (T.81 A.3.3), block already level-shifted."""
    import math

    import numpy as np

    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x][y]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            cv = 1 / math.sqrt(2) if v == 0 else 1.0
            out[u, v] = 0.25 * cu * cv * s
    return out


def _ref_idct(coef, precision: int = 8):
    """Direct-formula inverse DCT (T.81 A.3.3) + level shift 2^(P-1),
    clipped to [0, 2^P-1]; returned as the TOP 8 bits (>> (P-8)) — the
    luma contract every decode path in binary_ops emits."""
    import math

    import numpy as np

    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u][v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = 0.25 * s
    full = np.clip(
        np.round(out) + (1 << (precision - 1)), 0, (1 << precision) - 1
    ).astype(np.int64)
    return (full >> (precision - 8)).astype(np.uint8)


class _JBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, length, value):
        for i in reversed(range(length)):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.write(1, 1)  # pad with 1-bits per spec


def _mag_cat(v):
    return abs(v).bit_length()


def _block_symbols(zz):
    """(dc_category, [ac_symbols]) the entropy coder will emit for one
    block given its DC DIFF in zz[0] (caller substitutes the diff)."""
    syms = []
    last = max((k for k in range(1, 64) if zz[k]), default=0)
    run = 0
    for k in range(1, last + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            syms.append(0xF0)
            run -= 16
        syms.append((run << 4) | _mag_cat(zz[k]))
        run = 0
    if last < 63:
        syms.append(0x00)
    return syms


def _canonical_table(symbols):
    """Canonical Huffman table with every symbol at equal length L,
    2**L > len(symbols) so the all-ones code stays unused: returns
    (counts16, ordered_symbols, {sym: (L, code)})."""
    ordered = sorted(set(symbols))
    L = max(2, (len(ordered) + 1).bit_length())
    counts = [0] * 16
    counts[L - 1] = len(ordered)
    codes = {}
    code = 0 << 1  # canonical start at length L is 0
    for s in ordered:
        codes[s] = (L, code)
        code += 1
    return counts, ordered, codes


def encode_jpeg(y_plane, chroma=None, restart_interval=0, sampling=(1, 1), precision=8):
    """Sequential JFIF encoder with quant table all-ones (minimal loss):
    SOF0 baseline at precision 8, SOF1 extended sequential at precision
    12 (T.81 B.2.2 — same entropy coding, wider level shift).
    y_plane: (H, W) `precision`-bit samples. chroma=(cb_val, cr_val) adds
    constant-chroma color with Y at `sampling` (h, v) and chroma at
    (1, 1). Returns (jpeg_bytes, expected_y) where expected_y is the
    encoder's OWN direct-formula IDCT reconstruction of the Y plane over
    the quantized coefficients reduced to uint8 via >> (precision - 8),
    cropped to (H, W) — ground truth independent of the decoder under
    test."""
    import numpy as np

    if precision not in (8, 12):
        raise ValueError("sequential DCT precision must be 8 or 12")
    h, w = y_plane.shape
    sh, sv = sampling
    mbw, mbh = 8 * sh, 8 * sv
    mcux, mcuy = (w + mbw - 1) // mbw, (h + mbh - 1) // mbh
    # pad by edge replication so partial blocks encode smoothly
    pad = np.pad(
        y_plane.astype(np.float64),
        ((0, mcuy * mbh - h), (0, mcux * mbw - w)),
        mode="edge",
    )

    comps = [(1, sh, sv)]
    planes = {1: pad}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy * 8, mcux * 8), cb, dtype=np.float64)
        planes[3] = np.full((mcuy * 8, mcux * 8), cr, dtype=np.float64)

    # pass 1: quantize all blocks in MCU order, collect huffman symbols
    expected = np.zeros_like(pad, dtype=np.uint8)
    mcu_blocks = []  # per MCU: list of (comp_id, zz64_with_DIFF_in_slot0)
    dc_syms, ac_syms = [], []
    pred = {cid: 0 for cid, _, _ in comps}
    total = mcux * mcuy
    for m in range(total):
        if restart_interval and m % restart_interval == 0:
            pred = {cid: 0 for cid, _, _ in comps}
        my, mx = divmod(m, mcux)
        blocks = []
        for cid, ch, cv in comps:
            for by in range(cv):
                for bx in range(ch):
                    r0, c0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                    blk = planes[cid][r0 : r0 + 8, c0 : c0 + 8] - float(
                        1 << (precision - 1)
                    )
                    coef = np.round(_ref_fdct(blk)).astype(int)  # q == 1
                    if cid == 1:
                        expected[r0 : r0 + 8, c0 : c0 + 8] = _ref_idct(coef, precision)
                    zz = [int(coef.flat[ZIGZAG[k]]) for k in range(64)]
                    diff = zz[0] - pred[cid]
                    pred[cid] = zz[0]
                    zz[0] = diff
                    dc_syms.append(_mag_cat(diff))
                    ac_syms.extend(_block_symbols(zz))
                    blocks.append((cid, zz))
        mcu_blocks.append(blocks)

    dc_counts, dc_ord, dc_codes = _canonical_table(dc_syms)
    ac_counts, ac_ord, ac_codes = _canonical_table(ac_syms)

    # pass 2: emit segments
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 2 * 17 + len(dc_ord) + len(ac_ord))
        + b"\x00" + bytes(dc_counts) + bytes(dc_ord)
        + b"\x10" + bytes(ac_counts) + bytes(ac_ord)
    )
    ncomp = len(comps)
    sof_marker = b"\xff\xc0" if precision == 8 else b"\xff\xc1"
    out += sof_marker + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch, cv in comps:
        out += bytes([cid, (ch << 4) | cv, 0])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])
    out += b"\x00\x3f\x00"

    bw = _JBitWriter()
    for m, blocks in enumerate(mcu_blocks):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            out += bw.buf
            bw = _JBitWriter()
            out += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
        for cid, zz in blocks:
            dl, dc = dc_codes[_mag_cat(zz[0])]
            bw.write(dl, dc)
            t = _mag_cat(zz[0])
            if t:
                v = zz[0] if zz[0] > 0 else zz[0] + (1 << t) - 1
                bw.write(t, v)
            last = max((k for k in range(1, 64) if zz[k]), default=0)
            run = 0
            for k in range(1, last + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    al, ac_ = ac_codes[0xF0]
                    bw.write(al, ac_)
                    run -= 16
                s = _mag_cat(zz[k])
                al, ac_ = ac_codes[(run << 4) | s]
                bw.write(al, ac_)
                v = zz[k] if zz[k] > 0 else zz[k] + (1 << s) - 1
                bw.write(s, v)
                run = 0
            if last < 63:
                al, ac_ = ac_codes[0x00]
                bw.write(al, ac_)
    bw.flush()
    out += bw.buf + b"\xff\xd9"
    return bytes(out), expected[:h, :w]


# ------------------------------------------------------------------- WAV

def encode_wav(rate: int, ch: int, samples) -> bytes:
    """Minimal 16-bit PCM WAV: RIFF + fmt + data."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# ------------------------------------------------------- MP4 / ISO-BMFF

def mp4_box(btype: bytes, body: bytes, largesize: bool = False) -> bytes:
    """ISO/IEC 14496-12 §4.2 box encoder."""
    if largesize:
        return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(body)) + body
    return struct.pack(">I", 8 + len(body)) + btype + body


def _mvhd(timescale: int, duration: int, version: int = 0) -> bytes:
    if version == 0:
        body = (
            b"\x00" + b"\x00" * 3          # version 0 + flags
            + struct.pack(">II", 0, 0)     # creation/modification
            + struct.pack(">II", timescale, duration)
        )
    else:
        body = (
            b"\x01" + b"\x00" * 3
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration)
        )
    body += struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100) + b"\x00" * 10
    body += b"\x00" * 36 + b"\x00" * 24 + struct.pack(">I", 2)
    return mp4_box(b"mvhd", body)


def _tkhd(width: int, height: int) -> bytes:
    body = (
        b"\x00" * 4 + struct.pack(">III", 0, 0, 1) + b"\x00" * 4
        + struct.pack(">I", 0) + b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36
        + struct.pack(">II", width << 16, height << 16)
    )
    return mp4_box(b"tkhd", body)


def _trak(handler: bytes, codec: bytes, width: int = 0, height: int = 0) -> bytes:
    hdlr = mp4_box(b"hdlr", b"\x00" * 4 + b"\x00" * 4 + handler + b"\x00" * 12 + b"x\x00")
    entry = struct.pack(">I", 16) + codec + b"\x00" * 8
    stsd = mp4_box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    stbl = mp4_box(b"stbl", stsd)
    minf = mp4_box(b"minf", stbl)
    mdia = mp4_box(b"mdia", hdlr + minf)
    return mp4_box(b"trak", _tkhd(width, height) + mdia)


def encode_mp4(
    timescale: int = 1000,
    duration: int = 5400,
    mvhd_version: int = 0,
    largesize_moov: bool = False,
    video_dims: tuple[int, int] = (640, 360),
) -> bytes:
    """Minimal two-track (avc1 video + mp4a audio) ISO-BMFF file: ftyp +
    moov(mvhd + 2×trak). Codec payload-free — the box structure is all
    `decode_video_meta` reads."""
    ftyp = mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"mp41")
    w, h = video_dims
    moov_body = (
        _mvhd(timescale, duration, mvhd_version)
        + _trak(b"vide", b"avc1", w, h)
        + _trak(b"soun", b"mp4a")
    )
    return ftyp + mp4_box(b"moov", moov_body, largesize=largesize_moov)


def _trunc2(v: int) -> int:
    """Truncate-toward-zero division by 2 (T.81 point transform for AC)."""
    return -((-v) >> 1) if v < 0 else v >> 1


def encode_jpeg_progressive(y_plane, chroma=None, sampling=(1, 1), precision=8):
    """Progressive JFIF encoder (SOF2) with quant table all-ones — the
    spec-side twin of `jpeg.decode_jpeg`'s SOF2 path, written from T.81
    Annex G independently of it. `precision` 8 or 12 (T.81 B.2.2:
    progressive allows both; only the level shift and the uint8
    reduction of expected_y widen). Scan script (the common two-level
    successive-approximation shape):

      1. DC first, interleaved, Al=1
      2. AC first  Y, band 1..5,   Al=1
      3. AC first  Y, band 6..63,  Al=1
      4. AC first  chroma, band 1..63, Al=0 (one scan per component)
      5. DC refinement, interleaved, Ah=1 -> Al=0 (raw bits)
      6. AC refinement Y, band 1..5,  Ah=1 -> Al=0
      7. AC refinement Y, band 6..63, Ah=1 -> Al=0

    Every Huffman-coded scan carries its own DHT (tables are redefined
    between scans — the layout real encoders emit). Returns
    (jpeg_bytes, expected_y) with expected_y the encoder's own
    direct-formula IDCT reconstruction, cropped to the input shape."""
    import numpy as np

    if precision not in (8, 12):
        raise ValueError("progressive DCT precision must be 8 or 12")
    h, w = y_plane.shape
    sh, sv = sampling
    mbw, mbh = 8 * sh, 8 * sv
    mcux, mcuy = (w + mbw - 1) // mbw, (h + mbh - 1) // mbh
    pad = np.pad(
        y_plane.astype(np.float64),
        ((0, mcuy * mbh - h), (0, mcux * mbw - w)),
        mode="edge",
    )
    comps = [(1, sh, sv)]
    planes = {1: pad}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy * 8, mcux * 8), cb, dtype=np.float64)
        planes[3] = np.full((mcuy * 8, mcux * 8), cr, dtype=np.float64)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # quantized zigzag coefficient blocks per component, row-major over the
    # component's PADDED (MCU-aligned) block grid; expected_y from the
    # encoder's own IDCT
    zz_blocks: dict[int, list[list[int]]] = {}
    grid_dims: dict[int, tuple[int, int]] = {}
    expected = np.zeros_like(pad, dtype=np.uint8)
    for cid, ch_, cv_ in comps:
        gy, gx = mcuy * cv_, mcux * ch_
        grid_dims[cid] = (gy, gx)
        blocks = []
        for by in range(gy):
            for bx in range(gx):
                blk = planes[cid][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - float(
                    1 << (precision - 1)
                )
                coef = np.round(_ref_fdct(blk)).astype(int)
                if cid == 1:
                    expected[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _ref_idct(
                        coef, precision
                    )
                blocks.append([int(coef.flat[ZIGZAG[k]]) for k in range(64)])
        zz_blocks[cid] = blocks

    # Y component's TRUE block grid (AC scans cover it, not the padding)
    y_w = (w * sh + hmax - 1) // hmax
    y_h2 = (h * sv + vmax - 1) // vmax
    nbx, nby = (y_w + 7) // 8, (y_h2 + 7) // 8
    gy, gx = grid_dims[1]
    y_true = [zz_blocks[1][by * gx + bx] for by in range(nby) for bx in range(nbx)]

    def mcu_dc_order(al_shift):
        """(comp_id, dc>>al) in interleaved MCU traversal order."""
        out = []
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            for cid, ch_, cv_ in comps:
                _gy, gxx = grid_dims[cid]
                for by in range(cv_):
                    for bx in range(ch_):
                        zz = zz_blocks[cid][(my * cv_ + by) * gxx + (mx * ch_ + bx)]
                        out.append((cid, zz[0] >> al_shift))
        return out

    def dc_first_events(al):
        seq = mcu_dc_order(al)
        pred = {cid: 0 for cid, _h, _v in comps}
        ev = []
        for cid, v in seq:
            diff = v - pred[cid]
            pred[cid] = v
            t = _mag_cat(diff)
            ev.append(("sym", t))
            if t:
                ev.append(("bits", t, diff if diff > 0 else diff + (1 << t) - 1))
        return ev

    def ac_first_events(blocks, ss, se, al):
        ev = []
        for zz in blocks:
            va = [_trunc2(zz[k]) if al else zz[k] for k in range(64)]
            last = max((k for k in range(ss, se + 1) if va[k]), default=ss - 1)
            run = 0
            for k in range(ss, last + 1):
                if va[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ev.append(("sym", 0xF0))
                    run -= 16
                s = _mag_cat(va[k])
                ev.append(("sym", (run << 4) | s))
                v = va[k]
                ev.append(("bits", s, v if v > 0 else v + (1 << s) - 1))
                run = 0
            if last < se:
                ev.append(("sym", 0x00))  # EOB, eobrun = 0 extra blocks
        return ev

    def ac_refine_events(blocks, ss, se):
        # Ah=1 -> Al=0: mirrors the decoder's correction-bit traversal
        ev = []
        for zz in blocks:
            hist = [_trunc2(v) for v in zz]
            k = ss
            while k <= se:
                r = 0
                nk = None
                j = k
                while j <= se:
                    if hist[j] != 0:
                        j += 1
                        continue
                    if zz[j] != 0:
                        nk = j
                        break
                    r += 1
                    j += 1
                if nk is None:
                    ev.append(("sym", 0x00))  # EOB covers this block
                    for j in range(k, se + 1):
                        if hist[j] != 0:
                            ev.append(("bit", abs(zz[j]) & 1))
                    break
                while r > 15:
                    ev.append(("sym", 0xF0))
                    cnt = 0
                    while cnt < 16:
                        if hist[k] != 0:
                            ev.append(("bit", abs(zz[k]) & 1))
                        else:
                            cnt += 1
                        k += 1
                    r -= 16
                ev.append(("sym", (r << 4) | 1))
                ev.append(("bit", 1 if zz[nk] > 0 else 0))
                while k < nk:
                    if hist[k] != 0:
                        ev.append(("bit", abs(zz[k]) & 1))
                    k += 1
                k = nk + 1
        return ev

    def dc_refine_bits():
        return [("bit", v & 1) for _cid, v in mcu_dc_order(0)]

    def emit_scan(out, scan_comps, ss, se, ah, al, events, table_class):
        syms = [e[1] for e in events if e[0] == "sym"]
        if syms:
            counts, ordered, codes = _canonical_table(syms)
            out += (
                b"\xff\xc4"
                + struct.pack(">H", 2 + 17 + len(ordered))
                + bytes([(table_class << 4) | 0])
                + bytes(counts)
                + bytes(ordered)
            )
        else:
            codes = {}
        ns = len(scan_comps)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for cid in scan_comps:
            out += bytes([cid, 0x00])
        out += bytes([ss, se, (ah << 4) | al])
        bw = _JBitWriter()
        for e in events:
            if e[0] == "sym":
                ln, code = codes[e[1]]
                bw.write(ln, code)
            elif e[0] == "bit":
                bw.write(1, e[1])
            else:  # ("bits", n, value)
                bw.write(e[1], e[2])
        bw.flush()
        out += bw.buf
        return out

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    ncomp = len(comps)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch_, cv_ in comps:
        out += bytes([cid, (ch_ << 4) | cv_, 0])

    all_ids = [cid for cid, _h, _v in comps]
    out = emit_scan(out, all_ids, 0, 0, 0, 1, dc_first_events(1), 0)
    out = emit_scan(out, [1], 1, 5, 0, 1, ac_first_events(y_true, 1, 5, 1), 1)
    out = emit_scan(out, [1], 6, 63, 0, 1, ac_first_events(y_true, 6, 63, 1), 1)
    for cid in all_ids[1:]:
        gy_c, gx_c = grid_dims[cid]
        cblocks = zz_blocks[cid]
        out = emit_scan(out, [cid], 1, 63, 0, 0, ac_first_events(cblocks, 1, 63, 0), 1)
    out = emit_scan(out, all_ids, 0, 0, 1, 0, dc_refine_bits(), 0)
    out = emit_scan(out, [1], 1, 5, 1, 0, ac_refine_events(y_true, 1, 5), 1)
    out = emit_scan(out, [1], 6, 63, 1, 0, ac_refine_events(y_true, 6, 63), 1)
    out += b"\xff\xd9"
    return bytes(out), expected[:h, :w]


# ----------------------------------------------------- lossless JPEG


def encode_jpeg_lossless(
    y_plane, predictor: int = 1, pt: int = 0, precision: int = 8,
    chroma=None, sampling=(1, 1),
):
    """Lossless JPEG (SOF3, T.81 Annex H) encoder, written SPEC-SIDE and
    independent of the decoder under test (the same agreement-is-evidence
    discipline as encode_jpeg / encode_jpeg_progressive).

    y_plane: (H, W) integer array of `precision`-bit samples. `predictor`
    is the selection value 1-7 (H.1, Table H.1); `pt` the point transform
    (samples are encoded as s >> pt and the decoder restores << pt).
    chroma=(cb_val, cr_val) adds two constant (1,1)-sampled components
    with Y at `sampling` — exercising interleaved MCUs (H.2: the data
    unit is ONE SAMPLE, an MCU carries h×v samples per component).

    Encoding per H.1.2: diff = (x - Px) mod 2^16 mapped to [-32768,
    32767]; SSSS = magnitude category coded from a DC-class Huffman
    table, followed by SSSS low-order bits (SSSS=16 carries none).
    Prediction: first sample 2^(P-Pt-1); rest of first line Ra; first
    column Rb; elsewhere the selected predictor.

    Returns (jpeg_bytes, expected_y): expected_y is the ground truth the
    decode contract emits — ((s >> pt) << pt) reduced to uint8 by
    >> (precision - 8) — derived straight from the input, independent of
    any decode machinery.
    """
    import numpy as np

    if not 1 <= predictor <= 7:
        raise ValueError("predictor selection value must be 1-7")
    if not 8 <= precision <= 16 or not 0 <= pt < precision:
        raise ValueError("need 8 <= precision <= 16 and 0 <= pt < precision")
    y_plane = np.asarray(y_plane, dtype=np.int64)
    h, w = y_plane.shape
    sh, sv = sampling
    mcux, mcuy = (w + sh - 1) // sh, (h + sv - 1) // sv

    comps = [(1, sh, sv)]
    planes = {1: np.pad(y_plane >> pt, ((0, mcuy * sv - h), (0, mcux * sh - w)), mode="edge")}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy, mcux), cb >> pt, dtype=np.int64)
        planes[3] = np.full((mcuy, mcux), cr >> pt, dtype=np.int64)

    default = 1 << (precision - pt - 1)

    def predict(g, row, col):
        if row == 0 and col == 0:
            return default
        if row == 0:
            return int(g[0, col - 1])
        if col == 0:
            return int(g[row - 1, 0])
        a, b, c = int(g[row, col - 1]), int(g[row - 1, col]), int(g[row - 1, col - 1])
        return {
            1: a, 2: b, 3: c, 4: a + b - c,
            5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1), 7: (a + b) >> 1,
        }[predictor]

    # pass 1: diffs in MCU order, collecting SSSS symbols
    events = []  # (ssss, extra_bits_value)
    syms = []
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, ch, cv in comps:
                g = planes[cid]
                for dy in range(cv):
                    for dx in range(ch):
                        row, col = my * cv + dy, mx * ch + dx
                        d = (int(g[row, col]) - predict(g, row, col)) & 0xFFFF
                        if d >= 32768:
                            d -= 65536
                        if d == -32768:
                            ssss, extra = 16, None  # SSSS=16: no extra bits
                        else:
                            ssss = abs(d).bit_length()
                            extra = None if ssss == 0 else (
                                d if d > 0 else d + (1 << ssss) - 1
                            )
                        syms.append(ssss)
                        events.append((ssss, extra))
    counts, ordered, codes = _canonical_table(syms)

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(ordered))
        + b"\x00" + bytes(counts) + bytes(ordered)
    )
    ncomp = len(comps)
    out += b"\xff\xc3" + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch, cv in comps:
        out += bytes([cid, (ch << 4) | cv, 0])  # Tq shall be 0 (lossless)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])
    out += bytes([predictor, 0, pt])  # Ss=PSV, Se=0, Ah=0|Al=Pt

    bw = _JBitWriter()
    for ssss, extra in events:
        ln, code = codes[ssss]
        bw.write(ln, code)
        if extra is not None and ssss:
            bw.write(ssss, extra)
    bw.flush()
    out += bw.buf + b"\xff\xd9"

    expected = ((y_plane >> pt) << pt) >> (precision - 8)
    return bytes(out), expected.astype(np.uint8)


# -------------------------------------------- arithmetic-coded JPEG (r9)


class _QMEncoder:
    """T.81 Annex D.1 QM arithmetic encoder, the spec-side twin of
    `multimodal/jpeg_arith.QMDecoder` (written separately from the D.1
    ENCODE/CODEMPS/CODELPS flowcharts; the Table D.3 state table and the
    bit-transport framing are SHARED data/conventions — see the decoder
    module's evidence note). Carry propagation is handled exactly by
    accumulating the code register in an arbitrary-precision integer
    instead of the flowcharts' byte-stack machinery; `finish` serializes
    it MSB-first with the 0xFF zero-bit-stuffing rule."""

    def __init__(self):
        self.a = 1 << 16
        self.c = 0
        self.nshift = 0

    def encode(self, bit: int, ctx: list) -> None:
        from seo_audit_etl_actor_spark.multimodal.jpeg_arith import QM_TABLE

        i, mps = ctx
        qe, nmps, nlps, switch = QM_TABLE[i]
        amq = self.a - qe
        if bit == mps:
            if amq & 0x8000:  # no renorm; exchange impossible (amq >= 0x8000 > qe)
                self.c += qe
                self.a = amq
                return
            if amq < qe:  # conditional exchange: MPS takes the low interval
                self.a = qe
            else:
                self.c += qe
                self.a = amq
            ctx[0] = nmps
        else:
            if amq < qe:  # conditional exchange: LPS takes the high interval
                self.c += qe
                self.a = amq
            else:
                self.a = qe
            if switch:
                ctx[1] = 1 - mps
            ctx[0] = nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.nshift += 1

    def finish(self) -> bytes:
        """Close the interval and serialize: 16 zero flush bits keep the
        decoder's 16-bit lookahead inside real data; a zero bit is
        stuffed after every 0xFF byte (T.81 D.1.6), mirrored by the
        decoder's _BitSource."""
        c = self.c << 16
        nbits = 16 + self.nshift + 16
        out = bytearray()
        pos = nbits
        while pos > 0:
            take = 7 if (out and out[-1] == 0xFF) else 8
            got = min(take, pos)
            chunk = (c >> (pos - got)) & ((1 << got) - 1)
            chunk <<= take - got  # left-align; zero-pad the tail
            out.append(chunk)
            pos -= got
        if out and out[-1] == 0xFF:
            # never END a segment on a bare 0xFF: T.81 requires every ECS
            # 0xFF to be followed by a stuffed byte, and the multi-scan
            # (SOF10) boundary search treats 0xFF + marker as the segment
            # end — a trailing payload 0xFF would be cut off
            out.append(0x00)
        return bytes(out)


def _encode_dc_diff(enc, stats, ctx_base, L, U, diff):
    """F.1.4.4.1 DC DIFF encode (Figures F.4-F.7 mirror). Returns the
    next block's conditioning context base."""
    if diff == 0:
        enc.encode(0, stats[ctx_base])
        return 0
    enc.encode(1, stats[ctx_base])
    sign = 1 if diff < 0 else 0
    enc.encode(sign, stats[ctx_base + 1])
    v = abs(diff) - 1
    st = ctx_base + 2 + sign
    m = 0
    if v:
        enc.encode(1, stats[st])
        m = 1
        st = 20
        while v >= (m << 1):
            enc.encode(1, stats[st])
            m <<= 1
            st += 1
    enc.encode(0, stats[st])
    if m < ((1 << L) >> 1):
        nxt = 0
    elif m > ((1 << U) >> 1):
        nxt = 12 + sign * 4
    else:
        nxt = 4 + sign * 4
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(1 if (v & mm) else 0, stats[st])
    return nxt


def _encode_ac_block(enc, stats, kx, sign_ctx, coef_zz):
    """F.1.4.4.2 AC encode (Figures F.5-F.9 mirror) over zigzag indices
    1..63 of one block."""
    from seo_audit_etl_actor_spark.multimodal.jpeg_arith import (
        AC_HIGH_BASE,
        AC_LOW_BASE,
    )

    last = max((k for k in range(1, 64) if coef_zz[k]), default=0)
    k = 1
    while k <= last:
        base = 3 * (k - 1)
        enc.encode(0, stats[base])  # not EOB
        while coef_zz[k] == 0:
            enc.encode(0, stats[3 * (k - 1) + 1])
            k += 1
        enc.encode(1, stats[3 * (k - 1) + 1])
        val = coef_zz[k]
        sign = 1 if val < 0 else 0
        enc.encode(sign, sign_ctx)
        v = abs(val) - 1
        st = 3 * (k - 1) + 2
        m = 0
        if v:
            enc.encode(1, stats[st])
            m = 1
            if v >= 2:
                enc.encode(1, stats[st])
                m = 2
                st = AC_LOW_BASE if k <= kx else AC_HIGH_BASE
                while v >= (m << 1):
                    enc.encode(1, stats[st])
                    m <<= 1
                    st += 1
        enc.encode(0, stats[st])
        st += 14
        mm = m
        while mm > 1:
            mm >>= 1
            enc.encode(1 if (v & mm) else 0, stats[st])
        k += 1
    if k <= 63:
        enc.encode(1, stats[3 * (k - 1)])  # EOB


def encode_jpeg_arith(
    y_plane, chroma=None, sampling=(1, 1), precision=8, restart_interval=0
):
    """Arithmetic-coded sequential JPEG encoder (SOF9) with quant table
    all-ones — the spec-side twin of `jpeg_arith.sequential`.
    Emits an explicit DAC segment with the default conditioning
    (DC L=0/U=1, AC Kx=5). Returns (jpeg_bytes, expected_y) with
    expected_y the encoder's own direct-formula IDCT reconstruction
    reduced to uint8 via >> (precision - 8).

    `restart_interval` > 0 (r11): a DRI segment is written and the entropy
    stream is cut every Ri MCUs — T.81 arithmetic restart (E.2.4/F.1.4.0):
    flush the QM coder, emit RSTn (n cycling 0..7), and re-start with
    FRESH statistics areas, DC predictions, and conditioning state."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal.jpeg_arith import (
        AC_STAT_BINS,
        DC_STAT_BINS,
        fixed_ctx,
    )

    if precision not in (8, 12):
        raise ValueError("sequential DCT precision must be 8 or 12")
    h, w = y_plane.shape
    sh, sv = sampling
    if chroma is None:
        # A single-component scan is NON-INTERLEAVED (T.81 A.2.2): its MCU
        # is one 8x8 block in raster order and the component is full
        # resolution regardless of sampling factors (hmax = its own h). The
        # interleaved MCU walk below would scramble block order for
        # sampling != (1,1) — found by the r11 DRI round-trip tests.
        sh, sv = 1, 1
    mbw, mbh = 8 * sh, 8 * sv
    mcux, mcuy = (w + mbw - 1) // mbw, (h + mbh - 1) // mbh
    pad = np.pad(
        np.asarray(y_plane, dtype=np.float64),
        ((0, mcuy * mbh - h), (0, mcux * mbw - w)),
        mode="edge",
    )
    comps = [(1, sh, sv)]
    planes = {1: pad}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy * 8, mcux * 8), cb, dtype=np.float64)
        planes[3] = np.full((mcuy * 8, mcux * 8), cr, dtype=np.float64)

    L, U, KX = 0, 1, 5

    def fresh_state():
        return (
            _QMEncoder(),
            [[0, 0] for _ in range(DC_STAT_BINS)],
            [[0, 0] for _ in range(AC_STAT_BINS)],
            fixed_ctx(),
            {cid: 0 for cid, _, _ in comps},
            {cid: 0 for cid, _, _ in comps},
        )

    enc, dc_stats, ac_stats, sign_ctx, pred, dc_ctx = fresh_state()
    ecs_parts: list[bytes] = []
    expected = np.zeros_like(pad, dtype=np.uint8)
    level = float(1 << (precision - 1))

    for m in range(mcux * mcuy):
        if restart_interval and m > 0 and m % restart_interval == 0:
            ecs_parts.append(enc.finish())
            ecs_parts.append(bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)]))
            enc, dc_stats, ac_stats, sign_ctx, pred, dc_ctx = fresh_state()
        my, mx = divmod(m, mcux)
        for cid, ch, cv in comps:
            for by in range(cv):
                for bx in range(ch):
                    r0, c0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                    blk = planes[cid][r0 : r0 + 8, c0 : c0 + 8] - level
                    coef = np.round(_ref_fdct(blk)).astype(int)  # q == 1
                    if cid == 1:
                        expected[r0 : r0 + 8, c0 : c0 + 8] = _ref_idct(
                            coef, precision
                        )
                    zz = [int(coef.flat[ZIGZAG[k]]) for k in range(64)]
                    diff = zz[0] - pred[cid]
                    pred[cid] = zz[0]
                    dc_ctx[cid] = _encode_dc_diff(
                        enc, dc_stats, dc_ctx[cid], L, U, diff
                    )
                    _encode_ac_block(enc, ac_stats, KX, sign_ctx, zz)

    ecs_parts.append(enc.finish())

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    # DAC: explicit default conditioning (DC: Cs = U<<4 | L; AC: Cs = Kx)
    out += b"\xff\xcc" + struct.pack(">H", 2 + 4) + bytes([0x00, (U << 4) | L, 0x10, KX])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    ncomp = len(comps)
    out += b"\xff\xc9" + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch, cv in comps:
        out += bytes([cid, (ch << 4) | cv, 0])
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])
    out += b"\x00\x3f\x00"
    out += b"".join(ecs_parts) + b"\xff\xd9"
    return bytes(out), expected[:h, :w]


# -------------------------------- arithmetic progressive JPEG (SOF10, r10)


def _truncal(v: int, al: int) -> int:
    """AC point transform: divide by 2^al truncating TOWARD ZERO (T.81
    G.1.2.2 — unlike DC's arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


def _encode_ac_band_first(enc, stats, kx, sign_ctx, va, ss, se):
    """F.1.4.4.2 AC encode restricted to the ss..se spectral band (the
    G.2.2 first-scan procedure: identical model, band-bounded indices).
    `va` holds the point-transformed values."""
    from seo_audit_etl_actor_spark.multimodal.jpeg_arith import (
        AC_HIGH_BASE,
        AC_LOW_BASE,
    )

    last = max((k for k in range(ss, se + 1) if va[k]), default=ss - 1)
    k = ss
    while k <= last:
        enc.encode(0, stats[3 * (k - 1)])  # not EOB
        while va[k] == 0:
            enc.encode(0, stats[3 * (k - 1) + 1])
            k += 1
        enc.encode(1, stats[3 * (k - 1) + 1])
        val = va[k]
        sign = 1 if val < 0 else 0
        enc.encode(sign, sign_ctx)
        v = abs(val) - 1
        st = 3 * (k - 1) + 2
        m = 0
        if v:
            enc.encode(1, stats[st])
            m = 1
            if v >= 2:
                enc.encode(1, stats[st])
                m = 2
                st = AC_LOW_BASE if k <= kx else AC_HIGH_BASE
                while v >= (m << 1):
                    enc.encode(1, stats[st])
                    m <<= 1
                    st += 1
        enc.encode(0, stats[st])
        st += 14
        mm = m
        while mm > 1:
            mm >>= 1
            enc.encode(1 if (v & mm) else 0, stats[st])
        k += 1
    if k <= se:
        enc.encode(1, stats[3 * (k - 1)])  # EOB


def _encode_ac_band_refine(enc, stats, sign_ctx, zz, ss, se, al):
    """G.2.4 AC refinement encode (the decode mirror lives in
    jpeg_arith.progressive_scan): ke = this stage's last
    significant index, kex = the previous stage's; EOB decisions only
    beyond kex; correction bits for nonzero-history coefficients at the
    first-magnitude bin; newly-significant coefficients (magnitude
    exactly 1 at this stage) at the significance bin with fixed-context
    signs."""

    def vis(v: int, sh: int) -> int:
        return abs(v) >> sh

    ke = 0
    for j in range(se, 0, -1):
        if vis(zz[j], al):
            ke = j
            break
    kex = 0
    for j in range(ke, 0, -1):
        if vis(zz[j], al + 1):
            kex = j
            break
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex:
            if k > ke:
                enc.encode(1, stats[base])  # EOB
                return
            enc.encode(0, stats[base])
        while True:
            if vis(zz[k], al + 1):  # history nonzero: correction bit
                enc.encode((abs(zz[k]) >> al) & 1, stats[base + 2])
                break
            if vis(zz[k], al):  # newly significant this stage
                enc.encode(1, stats[base + 1])
                enc.encode(1 if zz[k] < 0 else 0, sign_ctx)
                break
            enc.encode(0, stats[base + 1])
            k += 1
            base = 3 * (k - 1)
        k += 1


def encode_jpeg_arith_progressive(
    y_plane, chroma=None, sampling=(1, 1), precision=8, restart_interval=0
):
    """Arithmetic-coded progressive JPEG encoder (SOF10) with quant table
    all-ones — the spec-side twin of
    `jpeg_arith.progressive_scan`, same scan script as the
    Huffman progressive twin (two-level successive approximation):

      1. DC first, interleaved, Al=1
      2. AC first  Y, band 1..5,  Al=1
      3. AC first  Y, band 6..63, Al=1
      4. AC first  chroma, band 1..63, Al=0 (one scan per component —
         exercises the decoder's chroma-scan skip on a REAL segment)
      5. DC refinement, interleaved, Ah=1 -> Al=0 (fixed-context bits)
      6. AC refinement Y, band 1..5,  Ah=1 -> Al=0
      7. AC refinement Y, band 6..63, Ah=1 -> Al=0

    Every scan is an independent entropy segment: fresh QM encoder and
    fresh statistics areas (T.81 G.2 — statistics are reset at scan
    start). Returns (jpeg_bytes, expected_y)."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal.jpeg_arith import (
        AC_STAT_BINS,
        DC_STAT_BINS,
        fixed_ctx,
    )

    if precision not in (8, 12):
        raise ValueError("progressive DCT precision must be 8 or 12")
    h, w = y_plane.shape
    sh, sv = sampling
    mbw, mbh = 8 * sh, 8 * sv
    mcux, mcuy = (w + mbw - 1) // mbw, (h + mbh - 1) // mbh
    pad = np.pad(
        np.asarray(y_plane, dtype=np.float64),
        ((0, mcuy * mbh - h), (0, mcux * mbw - w)),
        mode="edge",
    )
    comps = [(1, sh, sv)]
    planes = {1: pad}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy * 8, mcux * 8), cb, dtype=np.float64)
        planes[3] = np.full((mcuy * 8, mcux * 8), cr, dtype=np.float64)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    zz_blocks: dict[int, list[list[int]]] = {}
    grid_dims: dict[int, tuple[int, int]] = {}
    expected = np.zeros_like(pad, dtype=np.uint8)
    level = float(1 << (precision - 1))
    for cid, ch_, cv_ in comps:
        gy, gx = mcuy * cv_, mcux * ch_
        grid_dims[cid] = (gy, gx)
        blocks = []
        for by in range(gy):
            for bx in range(gx):
                blk = planes[cid][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - level
                coef = np.round(_ref_fdct(blk)).astype(int)
                if cid == 1:
                    expected[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _ref_idct(
                        coef, precision
                    )
                blocks.append([int(coef.flat[ZIGZAG[k]]) for k in range(64)])
        zz_blocks[cid] = blocks

    y_w = (w * sh + hmax - 1) // hmax
    y_h2 = (h * sv + vmax - 1) // vmax
    nbx, nby = (y_w + 7) // 8, (y_h2 + 7) // 8
    gy, gx = grid_dims[1]
    y_true = [zz_blocks[1][by * gx + bx] for by in range(nby) for bx in range(nbx)]

    L, U, KX = 0, 1, 5

    ri = restart_interval

    def _rst(n: int) -> bytes:
        return bytes([0xFF, 0xD0 + (n % 8)])

    def dc_first_scan(al: int) -> bytes:
        parts: list[bytes] = []
        enc = _QMEncoder()
        stats = [[0, 0] for _ in range(DC_STAT_BINS)]
        pred = {cid: 0 for cid, _h, _v in comps}
        ctx = {cid: 0 for cid, _h, _v in comps}
        for m in range(mcux * mcuy):
            if ri and m and m % ri == 0:
                parts += [enc.finish(), _rst(m // ri - 1)]
                enc = _QMEncoder()
                stats = [[0, 0] for _ in range(DC_STAT_BINS)]
                pred = {cid: 0 for cid, _h, _v in comps}
                ctx = {cid: 0 for cid, _h, _v in comps}
            my, mx = divmod(m, mcux)
            for cid, ch_, cv_ in comps:
                _gy, gxx = grid_dims[cid]
                for by in range(cv_):
                    for bx in range(ch_):
                        zz = zz_blocks[cid][(my * cv_ + by) * gxx + (mx * ch_ + bx)]
                        v = zz[0] >> al  # DC point transform: arithmetic shift
                        diff = v - pred[cid]
                        pred[cid] = v
                        ctx[cid] = _encode_dc_diff(enc, stats, ctx[cid], L, U, diff)
        parts.append(enc.finish())
        return b"".join(parts)

    def dc_refine_scan(al: int) -> bytes:
        parts: list[bytes] = []
        enc = _QMEncoder()
        corr = fixed_ctx()
        for m in range(mcux * mcuy):
            if ri and m and m % ri == 0:
                parts += [enc.finish(), _rst(m // ri - 1)]
                enc = _QMEncoder()
                corr = fixed_ctx()
            my, mx = divmod(m, mcux)
            for cid, ch_, cv_ in comps:
                _gy, gxx = grid_dims[cid]
                for by in range(cv_):
                    for bx in range(ch_):
                        zz = zz_blocks[cid][(my * cv_ + by) * gxx + (mx * ch_ + bx)]
                        enc.encode((zz[0] >> al) & 1, corr)
        parts.append(enc.finish())
        return b"".join(parts)

    def ac_first_scan(blocks, ss, se, al) -> bytes:
        parts: list[bytes] = []
        enc = _QMEncoder()
        stats = [[0, 0] for _ in range(AC_STAT_BINS)]
        sign_ctx = fixed_ctx()
        for bi, zz in enumerate(blocks):
            if ri and bi and bi % ri == 0:  # non-interleaved: unit = block
                parts += [enc.finish(), _rst(bi // ri - 1)]
                enc = _QMEncoder()
                stats = [[0, 0] for _ in range(AC_STAT_BINS)]
                sign_ctx = fixed_ctx()
            va = [_truncal(zz[k], al) if al else zz[k] for k in range(64)]
            _encode_ac_band_first(enc, stats, KX, sign_ctx, va, ss, se)
        parts.append(enc.finish())
        return b"".join(parts)

    def ac_refine_scan(blocks, ss, se, al) -> bytes:
        parts: list[bytes] = []
        enc = _QMEncoder()
        stats = [[0, 0] for _ in range(AC_STAT_BINS)]
        sign_ctx = fixed_ctx()
        for bi, zz in enumerate(blocks):
            if ri and bi and bi % ri == 0:
                parts += [enc.finish(), _rst(bi // ri - 1)]
                enc = _QMEncoder()
                stats = [[0, 0] for _ in range(AC_STAT_BINS)]
                sign_ctx = fixed_ctx()
            _encode_ac_band_refine(enc, stats, sign_ctx, zz, ss, se, al)
        parts.append(enc.finish())
        return b"".join(parts)

    def sos(scan_comps, ss, se, ah, al) -> bytes:
        ns = len(scan_comps)
        out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for cid in scan_comps:
            out += bytes([cid, 0x00])
        return out + bytes([ss, se, (ah << 4) | al])

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    out += b"\xff\xcc" + struct.pack(">H", 2 + 4) + bytes([0x00, (U << 4) | L, 0x10, KX])
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)
    ncomp = len(comps)
    out += b"\xff\xca" + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch_, cv_ in comps:
        out += bytes([cid, (ch_ << 4) | cv_, 0])

    all_ids = [cid for cid, _h, _v in comps]
    out += sos(all_ids, 0, 0, 0, 1) + dc_first_scan(1)
    out += sos([1], 1, 5, 0, 1) + ac_first_scan(y_true, 1, 5, 1)
    out += sos([1], 6, 63, 0, 1) + ac_first_scan(y_true, 6, 63, 1)
    for cid in all_ids[1:]:
        out += sos([cid], 1, 63, 0, 0) + ac_first_scan(zz_blocks[cid], 1, 63, 0)
    out += sos(all_ids, 0, 0, 1, 0) + dc_refine_scan(0)
    out += sos([1], 1, 5, 1, 0) + ac_refine_scan(y_true, 1, 5, 0)
    out += sos([1], 6, 63, 1, 0) + ac_refine_scan(y_true, 6, 63, 0)
    out += b"\xff\xd9"
    return bytes(out), expected[:h, :w]


def _encode_lossless_diff(enc, stats, base, mag_base, diff):
    """H.1.2.2 lossless difference encode: the _encode_dc_diff decision
    tree with the caller-supplied 2-D (Da, Db) context base and
    Db-selected magnitude ladder (decode mirror:
    jpeg_arith.decode_lossless_diff)."""
    if diff == 0:
        enc.encode(0, stats[base])
        return
    enc.encode(1, stats[base])
    sign = 1 if diff < 0 else 0
    enc.encode(sign, stats[base + 1])
    v = abs(diff) - 1
    st = base + 2 + sign
    m = 0
    if v:
        enc.encode(1, stats[st])
        m = 1
        st = mag_base
        while v >= (m << 1):
            enc.encode(1, stats[st])
            m <<= 1
            st += 1
    enc.encode(0, stats[st])
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(1 if (v & mm) else 0, stats[st])


def encode_jpeg_arith_lossless(
    y_plane, predictor: int = 1, pt: int = 0, precision: int = 8,
    chroma=None, sampling=(1, 1), cond=(0, 1),
):
    """Arithmetic-coded lossless JPEG (SOF11) encoder — the spec-side
    twin of `jpeg_arith.lossless_diffs`, mirroring
    `encode_jpeg_lossless`'s frame layout with the DHT replaced by a DAC
    conditioning segment and the SSSS/extra-bits entropy replaced by the
    QM-coded H.1.2.2 model: each difference is coded by the DC DIFF
    decision tree conditioned on the 5-way classes of the left (Da) and
    above (Db) neighbors' differences (zero outside the image), with the
    magnitude ladder selected by Db's class. The class boundaries are
    recomputed here from the F.1.4.4.1.2 rule (m = magnitude MSB over
    |diff| - 1 against the (1<<L)>>1 / (1<<U)>>1 thresholds) rather than
    imported from the decoder, so round-trip agreement evidences the
    conditioning too. `cond` = (L, U), written to the DAC segment.

    Returns (jpeg_bytes, expected_y) like encode_jpeg_lossless."""
    import numpy as np

    L, U = cond
    if not 1 <= predictor <= 7:
        raise ValueError("predictor selection value must be 1-7")
    if not 8 <= precision <= 16 or not 0 <= pt < precision:
        raise ValueError("need 8 <= precision <= 16 and 0 <= pt < precision")
    if not (0 <= L <= 15 and 0 <= U <= 15):
        raise ValueError("conditioning bounds must fit a DAC nibble")
    y_plane = np.asarray(y_plane, dtype=np.int64)
    h, w = y_plane.shape
    sh, sv = sampling
    mcux, mcuy = (w + sh - 1) // sh, (h + sv - 1) // sv

    comps = [(1, sh, sv)]
    planes = {1: np.pad(y_plane >> pt, ((0, mcuy * sv - h), (0, mcux * sh - w)), mode="edge")}
    if chroma is not None:
        cb, cr = chroma
        comps += [(2, 1, 1), (3, 1, 1)]
        planes[2] = np.full((mcuy, mcux), cb >> pt, dtype=np.int64)
        planes[3] = np.full((mcuy, mcux), cr >> pt, dtype=np.int64)

    default = 1 << (precision - pt - 1)

    def predict(g, row, col):
        if row == 0 and col == 0:
            return default
        if row == 0:
            return int(g[0, col - 1])
        if col == 0:
            return int(g[row - 1, 0])
        a, b, c = int(g[row, col - 1]), int(g[row - 1, col]), int(g[row - 1, col - 1])
        return {
            1: a, 2: b, 3: c, 4: a + b - c,
            5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1), 7: (a + b) >> 1,
        }[predictor]

    def classify(d: int) -> int:
        # F.1.4.4.1.2 category boundaries, re-derived (see docstring):
        # 0 zero, 1/2 small +/-, 3/4 large +/-
        if d == 0:
            return 0
        sign = 1 if d < 0 else 0
        v = abs(d) - 1
        m = 0 if v == 0 else 1 << (v.bit_length() - 1)
        if m < ((1 << L) >> 1):
            return 0
        if m > ((1 << U) >> 1):
            return 3 + sign
        return 1 + sign

    from seo_audit_etl_actor_spark.multimodal.jpeg_arith import (
        LL_MAG_LARGE,
        LL_MAG_SMALL,
        LL_STAT_BINS,
    )

    enc = _QMEncoder()
    stats = [[0, 0] for _ in range(LL_STAT_BINS)]
    dgrids = {cid: np.zeros_like(planes[cid]) for cid, _h, _v in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, ch_, cv_ in comps:
                g = planes[cid]
                d = dgrids[cid]
                for dy in range(cv_):
                    for dx in range(ch_):
                        row, col = my * cv_ + dy, mx * ch_ + dx
                        diff = (int(g[row, col]) - predict(g, row, col)) & 0xFFFF
                        if diff >= 32768:
                            diff -= 65536
                        da = int(d[row, col - 1]) if col > 0 else 0
                        db = int(d[row - 1, col]) if row > 0 else 0
                        ca, cb_ = classify(da), classify(db)
                        base = 4 * (5 * cb_ + ca)
                        mag_base = LL_MAG_SMALL if cb_ < 3 else LL_MAG_LARGE
                        _encode_lossless_diff(enc, stats, base, mag_base, diff)
                        d[row, col] = diff

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xcc" + struct.pack(">H", 2 + 2) + bytes([0x00, (U << 4) | L])
    ncomp = len(comps)
    out += b"\xff\xcb" + struct.pack(">HBHHB", 8 + 3 * ncomp, precision, h, w, ncomp)
    for cid, ch_, cv_ in comps:
        out += bytes([cid, (ch_ << 4) | cv_, 0])  # Tq shall be 0 (lossless)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid, _, _ in comps:
        out += bytes([cid, 0x00])  # Td=0 (conditioning table), Ta unused
    out += bytes([predictor, 0, pt])  # Ss=PSV, Se=0, Ah=0|Al=Pt
    out += enc.finish() + b"\xff\xd9"

    expected = ((y_plane >> pt) << pt) >> (precision - 8)
    return bytes(out), expected.astype(np.uint8)
