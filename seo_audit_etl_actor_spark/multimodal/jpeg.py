"""T.81 JPEG decode to the uint8 luma plane, in pure Python/numpy.

One frame layer serves every decodable process:

- `decode_jpeg` walks the markers once. It parses DQT, DHT, DAC, DRI, the
  SOF header and each SOS header in one place, then hands the scan to the
  entropy procedure of the frame's kind:

  | SOF         | process                 | entropy procedure          |
  |-------------|-------------------------|----------------------------|
  | C0, C1      | Huffman sequential DCT  | `_huff_sequential`         |
  | C2          | Huffman progressive DCT | `_huff_progressive_scan`   |
  | C3          | Huffman lossless        | `_huff_lossless_diffs`     |
  | C9          | arithmetic sequential   | `jpeg_arith.sequential`    |
  | CA          | arithmetic progressive  | `jpeg_arith.progressive_scan` |
  | CB          | arithmetic lossless     | `jpeg_arith.lossless_diffs` |

  Hierarchical frames (C5-C7, CD-CF) return None: a hierarchical stream
  is a sequence of differential frames over an upsampled reference
  (Annex J), and no conforming encoder or reference stream exists here
  to check a pyramid build against, so those blobs keep the documented
  fake with real header dimensions.
- Every DCT process fills a grid of zigzag-ordered coefficients for the
  emitted component; `_dct_plane` dequantises it, applies the separable
  IDCT with the module-level basis `_IDCT`, level-shifts, clips to the
  frame precision and emits the top 8 bits.
- Both lossless processes share `_lossless`: the Annex H sample
  walk with the Table H.1 predictor (`_predict`) and the first-row /
  first-column rules; they differ only in how a difference is decoded.

The emitted component is the Y plane: the first component of the first
scan for the sequential processes, the first frame component for the
progressive ones. Chroma is entropy-decoded only where that keeps the
bit position honest. Sampling factors are arbitrary (`_upsample_y`).
Precision: SOF0 8; SOF1/2/9/10 8 or 12; SOF3/11 8 to 16; the output is
always the top 8 bits.

Walk rules per kind:
- Before the SOF, DQT and DHT are validated and DAC is recorded for every
  kind. From the SOF on only the tables the process reads are parsed
  (Huffman DCT: DQT, DHT; Huffman lossless: DHT; arithmetic DCT: DQT,
  DAC; arithmetic lossless: DAC). A second SOF of another kind is None.
- Sequential and lossless kinds stop at the first SOS; EOI before it is
  None.
- Progressive kinds walk to EOI or the end of the data; a 2-3 byte tail or
  a segment overrunning the data is None; tables may change between
  scans, and each scan resumes the walk at the end of its entropy-coded
  segment.
- Restart intervals: decoded by every DCT process except SOF10, whose
  restart decode stays behind `allow_sof10_restart` (default off). DRI in
  a lossless frame is None: T.81's lossless restart is ambiguous about
  which neighbours the post-restart predictor may read, so any decode
  would be a private convention.

The walk and the entropy procedures raise on structurally corrupt input;
`decode_jpeg` turns that into None, so one bad crawled file cannot fail a
whole mapInPandas task.
"""

from __future__ import annotations

import re
import struct
from typing import NamedTuple

import numpy as np

from seo_audit_etl_actor_spark.multimodal import jpeg_arith

# ZIGZAG[k] = natural-order index of the k-th zigzag-scanned coefficient
# (ITU-T T.81 Figure A.6).
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# separable IDCT basis: _IDCT[x, u] = c(u)/2 * cos((2x+1) u pi / 16)
_IDCT = 0.5 * np.cos((2 * np.arange(8)[:, None] + 1) * np.arange(8)[None, :] * np.pi / 16)
_IDCT[:, 0] *= 1 / np.sqrt(2)


class _Kind(NamedTuple):
    arith: bool
    mode: str  # "seq" | "prog" | "ll"


# SOF marker -> (kind, accepted precisions)
_SOF = {
    0xC0: (_Kind(False, "seq"), (8,)),
    0xC1: (_Kind(False, "seq"), (8, 12)),
    0xC2: (_Kind(False, "prog"), (8, 12)),
    0xC3: (_Kind(False, "ll"), range(8, 17)),
    0xC9: (_Kind(True, "seq"), (8, 12)),
    0xCA: (_Kind(True, "prog"), (8, 12)),
    0xCB: (_Kind(True, "ll"), range(8, 17)),
}
_HIERARCHICAL = (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF)
_SOF_HEAD = struct.Struct(">BHHB")  # precision, height, width, components


class _Frame(NamedTuple):
    precision: int
    width: int
    height: int
    comps: list  # (cid, h, v, tq) in frame order
    hmax: int
    vmax: int


class _Tables:
    """The table state a stream has defined so far."""

    def __init__(self):
        self.q: dict[int, np.ndarray] = {}  # DQT, natural order 8x8
        self.huff: dict[tuple[int, int], dict] = {}  # DHT (class, id)
        self.dc_cond: dict[int, tuple[int, int]] = {}  # DAC DC (L, U)
        self.ac_cond: dict[int, int] = {}  # DAC AC Kx


def frame_dims(data: bytes) -> tuple[int | None, int | None]:
    """(width, height) from the first SOFn header of a JPEG, without
    decoding: any SOFn (C0-CF except DHT C4, the reserved JPG C8 and DAC
    CC) carries the frame dimensions."""
    i = 2
    while i + 9 < len(data):
        if data[i] != 0xFF:
            break
        marker = data[i + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _p, h, w, _n = _SOF_HEAD.unpack(data[i + 4 : i + 10])
            return w, h
        i += 2 + struct.unpack(">H", data[i + 2 : i + 4])[0]
    return None, None


def decode_jpeg(data: bytes, allow_sof10_restart: bool = False):
    """Decode a JPEG to its (H, W) uint8 Y plane, or None when the stream
    is corrupt or outside the decodable processes (see the module
    docstring)."""
    if data[:2] != b"\xff\xd8":
        return None
    try:
        return _decode(data, allow_sof10_restart)
    except (EOFError, ValueError, IndexError, ArithmeticError, struct.error):
        return None  # ArithmeticError: e.g. a corrupt DC category overflowing int64


def _decode(data: bytes, allow_sof10_restart: bool):
    t = _Tables()
    kind = frame = prog = None
    restart = 0
    i, n = 2, len(data)
    while i + (2 if prog else 4) <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / RSTn
            i += 2
            continue
        if marker == 0xD9:  # EOI
            if prog:
                break
            return None
        if i + 4 > n:
            return None
        end = i + 2 + struct.unpack(">H", data[i + 2 : i + 4])[0]
        if end > n and (kind.mode == "prog" if kind else marker in (0xC2, 0xCA)):
            return None
        body = data[i + 4 : end]
        if marker == 0xDB and (kind is None or kind.mode != "ll"):
            _parse_dqt(body, t.q)
        elif marker == 0xC4 and (kind is None or not kind.arith):
            _parse_dht(body, t.huff)
        elif marker == 0xCC and (kind is None or kind.arith):
            _parse_dac(body, t)
        elif marker == 0xDD:
            restart = struct.unpack(">H", body[:2])[0]
        elif marker in _SOF:
            new_kind, precisions = _SOF[marker]
            if kind not in (None, new_kind):
                return None
            kind, frame = new_kind, _parse_sof(body, precisions)
            if frame is None:
                return None
            if kind.mode == "prog":
                if frame.hmax == 0 or frame.vmax == 0:
                    return None
                prog = _Progressive(frame)
        elif marker in _HIERARCHICAL:
            return None
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            scan, band = _parse_sos(body)
            if kind.mode == "seq":
                return _sequential(data[end:], kind, frame, scan, t, restart)
            if kind.mode == "ll":
                return _lossless(data, end, kind, frame, scan, band, t, restart)
            if kind.arith and restart and not allow_sof10_restart:
                return None
            i = prog.scan(data, end, kind, frame, scan, band, t, restart)
            continue
        i = end
    if prog is None:
        return None
    return prog.plane(frame, t.q)


# ------------------------------------------------------------ table parsing


def _parse_dqt(body: bytes, q: dict) -> None:
    j = 0
    while j < len(body):
        pq, tq = body[j] >> 4, body[j] & 15
        j += 1
        if pq == 0:
            vals = np.frombuffer(body[j : j + 64], dtype=np.uint8)
            j += 64
        else:
            vals = np.frombuffer(body[j : j + 128], dtype=">u2")
            j += 128
        if len(vals) < 64:
            raise ValueError("short DQT")
        tbl = np.zeros(64, dtype=np.int64)
        tbl[ZIGZAG] = vals.astype(np.int64)
        q[tq] = tbl.reshape(8, 8)


def _parse_dht(body: bytes, huff: dict) -> None:
    """Canonical Huffman tables keyed (class, id): {(length, code): symbol}."""
    j = 0
    while j + 17 <= len(body):
        tc, th = body[j] >> 4, body[j] & 15
        counts = body[j + 1 : j + 17]
        j += 17
        table: dict[tuple[int, int], int] = {}
        code = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if j >= len(body):
                    raise ValueError("short DHT")
                table[(length, code)] = body[j]
                j += 1
                code += 1
            code <<= 1
        huff[(tc, th)] = table


def _parse_dac(body: bytes, t: _Tables) -> None:
    j = 0
    while j + 2 <= len(body):
        tc, tb, cs = body[j] >> 4, body[j] & 15, body[j + 1]
        j += 2
        if tc == 0:
            t.dc_cond[tb] = (cs & 15, cs >> 4)  # (L, U)
        else:
            t.ac_cond[tb] = cs  # Kx


def _parse_sof(body: bytes, precisions) -> _Frame | None:
    precision, ih, iw, ncomp = _SOF_HEAD.unpack(body[:6])
    if precision not in precisions or ncomp == 0 or ncomp > 4 or iw == 0 or ih == 0:
        return None
    comps = []
    for c in range(ncomp):
        cid, hv, tq = body[6 + c * 3 : 9 + c * 3]
        comps.append((cid, hv >> 4, hv & 15, tq))
    return _Frame(
        precision, iw, ih, comps, max(c[1] for c in comps), max(c[2] for c in comps)
    )


def _parse_sos(body: bytes):
    """[(component id, DC/lossless table, AC table)] and the three band
    bytes (Ss, Se, Ah<<4|Al) — fewer if the header is short, which only
    the processes that read the band reject."""
    ns = body[0]
    scan = []
    for c in range(ns):
        cs, tda = body[1 + c * 2 : 3 + c * 2]
        scan.append((cs, tda >> 4, tda & 15))
    return scan, tuple(body[1 + ns * 2 : 4 + ns * 2])


# ------------------------------------------------------- frame geometry


def _comp_size(frame: _Frame, h: int, v: int) -> tuple[int, int]:
    """(width, height) in samples of a component sampled (h, v)."""
    return (
        (frame.width * h + frame.hmax - 1) // frame.hmax,
        (frame.height * v + frame.vmax - 1) // frame.vmax,
    )


def _scan_layout(frame: _Frame, scan, unit: int):
    """MCU grid of a sequential or lossless scan of `unit`-sample data
    units: (order, mcux, mcuy, y). `order` lists the scan's components in
    frame order as (cid, h, v, tq); `y`, the first of them, is the
    emitted component. A single-component scan is non-interleaved (T.81
    A.2.2): one data unit per MCU over the component's own grid."""
    if frame.hmax == 0 or frame.vmax == 0:
        return None
    ids = {cs for cs, _td, _ta in scan}
    order = [c for c in frame.comps if c[0] in ids]
    if len(order) != len(scan):
        return None
    y = order[0]
    if len(order) == 1:
        cw, ch = _comp_size(frame, y[1], y[2])
        return [(y[0], 1, 1, y[3])], (cw + unit - 1) // unit, (ch + unit - 1) // unit, y
    mcux = (frame.width + unit * frame.hmax - 1) // (unit * frame.hmax)
    mcuy = (frame.height + unit * frame.vmax - 1) // (unit * frame.vmax)
    return order, mcux, mcuy, y


def _upsample_y(plane, true_h, true_v, hmax, vmax, iw, ih):
    """Crop the decoded Y grid to the component's true resolution and
    upsample to image resolution when Y itself is subsampled (legal but
    rare). For a Y whose sampling does not divide hmax/vmax evenly (e.g.
    Y=(2,2) beside a (3,3) component) an integer-floor repeat would emit a
    wrong-scale plane, so return None to route to the documented fake."""
    y_w = (iw * true_h + hmax - 1) // hmax
    y_hh = (ih * true_v + vmax - 1) // vmax
    plane = plane[:y_hh, :y_w]
    if true_h != hmax or true_v != vmax:
        if vmax % true_v or hmax % true_h:
            return None
        plane = np.repeat(
            np.repeat(plane, vmax // true_v, axis=0), hmax // true_h, axis=1
        )
        plane = plane[:ih, :iw]
    return plane


def _dct_plane(coef, q, frame: _Frame, y):
    """The one block reconstruction: (gy, gx, 64) zigzag-ordered
    coefficients of component `y` -> dequantise, IDCT, level shift, clip
    to [0, 2^P-1], top 8 bits -> the cropped, upsampled Y plane."""
    if q is None:
        return None
    p = frame.precision
    gy, gx = coef.shape[:2]
    nat = np.zeros((gy, gx, 64), dtype=np.int64)
    nat[:, :, ZIGZAG] = coef
    blocks = nat.reshape(gy, gx, 8, 8) * q
    plane = np.zeros((gy * 8, gx * 8), dtype=np.uint8)
    for by in range(gy):
        for bx in range(gx):
            spatial = _IDCT @ blocks[by, bx].astype(np.float64) @ _IDCT.T
            pix = np.clip(np.round(spatial) + (1 << (p - 1)), 0, (1 << p) - 1)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                pix.astype(np.int64) >> (p - 8)
            ).astype(np.uint8)
    return _upsample_y(plane, y[1], y[2], frame.hmax, frame.vmax, frame.width, frame.height)


# ------------------------------------------------------- sequential DCT


def _sequential(ecs: bytes, kind: _Kind, frame: _Frame, scan, t: _Tables, restart: int):
    """First sequential scan -> Y plane (SOF0/1/9)."""
    layout = _scan_layout(frame, scan, 8)
    if layout is None:
        return None
    order, mcux, mcuy, y = layout
    q = t.q.get(y[3])
    if q is None:
        return None
    coef = np.zeros((mcuy * order[0][2], mcux * order[0][1], 64), dtype=np.int64)
    tables = {cs: (td, ta) for cs, td, ta in scan}
    if kind.arith:
        jpeg_arith.sequential(ecs, order, mcux, mcuy, tables, t, restart, coef)
    else:
        _huff_sequential(ecs, order, mcux, mcuy, tables, t.huff, restart, coef)
    return _dct_plane(coef, q, frame, y)


class _JpegBits:
    """MSB-first bit reader over a de-stuffed entropy-coded segment."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise EOFError
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _huff_decode(bits: _JpegBits, table: dict) -> int:
    """Canonical Huffman decode: read bits until (length, code) hits."""
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | bits.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _huff_segments(body: bytes) -> list[bytes]:
    """Split an entropy-coded body on RSTn and de-stuff each segment."""
    return [seg.replace(b"\xff\x00", b"\xff") for seg in re.split(b"\xff[\xd0-\xd7]", body)]


def _huff_sequential(ecs, order, mcux, mcuy, tables, huff, restart, coef) -> None:
    """Huffman sequential scan: every MCU's blocks, the emitted
    component's into `coef`, chroma only to advance the bitstream.
    Restart segments reset the DC predictions. The entropy data ends at
    the first marker that is not an RSTn (`_huff_ecs_end`), so a scan cut
    short runs out of bits instead of reading the next segment."""
    segments = _huff_segments(ecs[: _huff_ecs_end(ecs, 0)])
    y_cid, yh, yv, _tq = order[0]
    pred = {cid: 0 for cid, _, _, _ in order}
    mcu_idx = 0
    total_mcus = mcux * mcuy
    per_seg = restart if restart else total_mcus
    for seg in segments:
        bits = _JpegBits(seg)
        for cid in pred:
            pred[cid] = 0
        for _ in range(min(per_seg, total_mcus - mcu_idx)):
            my, mx = divmod(mcu_idx, mcux)
            for cid, ch, cv, _tq in order:
                td, ta = tables[cid]
                dc_tbl = huff.get((0, td))
                ac_tbl = huff.get((1, ta))
                if dc_tbl is None or ac_tbl is None:
                    raise ValueError("scan names an undefined Huffman table")
                for by in range(cv):
                    for bx in range(ch):
                        block = np.zeros(64, dtype=np.int64)
                        t = _huff_decode(bits, dc_tbl)
                        pred[cid] += _extend(bits.receive(t), t)
                        block[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(bits, ac_tbl)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past k=63")
                            block[k] = _extend(bits.receive(s), s)
                            k += 1
                        if cid == y_cid:
                            coef[my * yv + by, mx * yh + bx] = block
            mcu_idx += 1
    if mcu_idx < total_mcus:
        raise EOFError("scan ends before its last MCU")


# ------------------------------------------------------ progressive DCT


def _huff_ecs_end(data: bytes, start: int) -> int:
    """Huffman ECS end: the first 0xFF followed by anything that is
    neither a stuffed 0x00 nor an RSTn (T.81 B.1.1.5); len(data) if none."""
    i = start
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            return n
        nxt = data[j + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i = j + 2
            continue
        return j


class _Progressive:
    """The emitted component's persistent coefficient grid of a
    progressive frame (SOF2/SOF10), filled scan by scan."""

    def __init__(self, frame: _Frame):
        self.y = frame.comps[0]
        _cid, yh, yv, _tq = self.y
        self.mcux = (frame.width + 8 * frame.hmax - 1) // (8 * frame.hmax)
        self.mcuy = (frame.height + 8 * frame.vmax - 1) // (8 * frame.vmax)
        cw, ch = _comp_size(frame, yh, yv)
        self.nbx, self.nby = (cw + 7) // 8, (ch + 7) // 8
        self.coef = np.zeros((self.mcuy * yv, self.mcux * yh, 64), dtype=np.int32)

    def units(self, frame: _Frame, scan, band):
        """What one scan covers: None to skip it (no Y data), else
        (Ss, Se, Ah, Al, grid, tx, ty) where a DC scan walks the `grid`
        components over a tx x ty MCU grid and an AC scan (grid None)
        walks Y's own block grid. Raises ValueError for a corrupt header."""
        ss, se, ahal = band
        ah, al = ahal >> 4, ahal & 15
        y_cid = self.y[0]
        ids = {cs for cs, _td, _ta in scan}
        if y_cid not in ids:
            return None  # chroma-only scan: an independent segment
        if ss > se or se > 63 or (ss == 0) != (se == 0):
            raise ValueError("illegal progressive band")
        if ss > 0:
            if len(scan) != 1:
                raise ValueError("multi-component AC scan")  # G.1.1
            return ss, se, ah, al, None, self.nbx, self.nby
        order = [(cid, h, v) for cid, h, v, _tq in frame.comps if cid in ids]
        if len(order) != len(scan):
            raise ValueError("scan names a component twice or not in the frame")
        if len(order) == 1:
            if order[0][0] != y_cid:
                return None
            return ss, se, ah, al, [(y_cid, 1, 1)], self.nbx, self.nby
        return ss, se, ah, al, order, self.mcux, self.mcuy

    def scan(self, data, start, kind, frame, scan, band, t: _Tables, restart):
        """Decode the scan whose entropy data starts at `start`; returns
        the walk position after it."""
        if kind.arith:
            end = jpeg_arith.ecs_end(data, start, restart)
        else:
            end = _huff_ecs_end(data, start)
        units = self.units(frame, scan, band)
        if units is None:
            return end
        tables = {cs: (td, ta) for cs, td, ta in scan}
        ecs = data[start:end]
        if kind.arith:
            jpeg_arith.progressive_scan(ecs, units, self.y[0], tables, t, restart, self.coef)
        else:
            _huff_progressive_scan(ecs, units, self.y[0], tables, t.huff, restart, self.coef)
        return end

    def plane(self, frame: _Frame, q: dict):
        return _dct_plane(self.coef, q.get(self.y[3]), frame, self.y)


def _huff_progressive_scan(ecs, units, y_cid, tables, huff, restart, coef) -> None:
    """One Huffman progressive scan (G.1.2, the libjpeg reading) into
    Y's coefficient grid; restart segments reset the DC predictions and
    EOBRUN.
    - DC first (Ah=0): DIFF coding of DC >> Al; the grid stores pred << Al.
    - DC refinement: one raw bit per block, OR-ed in at bit Al.
    - AC first: run/size coding in the band, EOBRUN = (1<<r)-1+receive(r)
      more empty blocks; values stored << Al.
    - AC refinement: newly significant coefficients arrive as +-1<<Al;
      every nonzero-history coefficient passed (inside ZRL runs and
      EOB-covered tails too) reads one correction bit that moves it one
      quantum away from zero."""
    ss, se, ah, al, grid, tx, ty = units
    segments = _huff_segments(ecs)
    total = tx * ty
    per_seg = restart if restart else total
    idx = 0
    if grid is not None:  # DC scan
        dc_tbls = {}
        if ah == 0:
            for cid, _h, _v in grid:
                dc_tbls[cid] = huff.get((0, tables[cid][0]))
                if dc_tbls[cid] is None:
                    raise ValueError("scan names an undefined Huffman table")
        interleaved = len(grid) > 1
        for seg in segments:
            bits = _JpegBits(seg)
            pred = {cid: 0 for cid, _h, _v in grid}
            for _ in range(min(per_seg, total - idx)):
                my, mx = divmod(idx, tx)
                for cid, ch, cv in grid:
                    for by in range(cv):
                        for bx in range(ch):
                            r0 = my * cv + by if interleaved else my
                            c0 = mx * ch + bx if interleaved else mx
                            if ah == 0:
                                t = _huff_decode(bits, dc_tbls[cid])
                                pred[cid] += _extend(bits.receive(t), t)
                                if cid == y_cid:
                                    coef[r0, c0, 0] = pred[cid] << al
                            else:
                                bit = bits.read_bit()
                                if cid == y_cid and bit:
                                    coef[r0, c0, 0] |= bit << al
                idx += 1
        if idx < total:
            raise EOFError("scan ends before its last unit")
        return

    ac_tbl = huff.get((1, tables[y_cid][1]))
    if ac_tbl is None:
        raise ValueError("scan names an undefined Huffman table")
    p1 = 1 << al
    m1 = -(1 << al)
    for seg in segments:
        bits = _JpegBits(seg)
        eobrun = 0
        for _ in range(min(per_seg, total - idx)):
            block = coef[divmod(idx, tx)]
            if ah == 0:  # AC first pass (G.1.2.2)
                if eobrun > 0:
                    eobrun -= 1
                else:
                    k = ss
                    while k <= se:
                        rs = _huff_decode(bits, ac_tbl)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += bits.receive(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("AC run past Se")
                        block[k] = _extend(bits.receive(sz), sz) << al
                        k += 1
            else:  # AC refinement pass (G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _huff_decode(bits, ac_tbl)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += bits.receive(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coefs
                        else:
                            if sz != 1:
                                raise ValueError("refinement magnitude other than 1")
                            val = p1 if bits.read_bit() else m1
                        while k <= se:
                            if block[k] != 0:
                                if bits.read_bit() and not (block[k] & p1):
                                    block[k] += p1 if block[k] > 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            block[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if block[k] != 0:
                            if bits.read_bit() and not (block[k] & p1):
                                block[k] += p1 if block[k] > 0 else m1
                        k += 1
                    eobrun -= 1
            idx += 1
    if idx < total:
        raise EOFError("scan ends before its last unit")


# ------------------------------------------------------------- lossless


def _predict(g, row: int, col: int, psv: int, default: int) -> int:
    """Annex H prediction of sample (row, col) of grid `g`: the first
    sample predicts 2^(P-Pt-1), the rest of the first row Ra, the first
    column Rb, every other sample Table H.1 selection `psv`:
    1=Ra 2=Rb 3=Rc 4=Ra+Rb-Rc 5=Ra+((Rb-Rc)>>1) 6=Rb+((Ra-Rc)>>1)
    7=(Ra+Rb)>>1."""
    if row == 0 and col == 0:
        return default
    if row == 0:
        return int(g[0, col - 1])
    if col == 0:
        return int(g[row - 1, 0])
    a = int(g[row, col - 1])
    b = int(g[row - 1, col])
    c = int(g[row - 1, col - 1])
    if psv == 1:
        return a
    if psv == 2:
        return b
    if psv == 3:
        return c
    if psv == 4:
        return a + b - c
    if psv == 5:
        return a + ((b - c) >> 1)
    if psv == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1


def _lossless(data, start, kind, frame, scan, band, t: _Tables, restart):
    """First lossless scan (SOF3/SOF11) -> Y plane. The data unit is one
    sample: its difference to the `_predict`ion is added modulo 2^16, the
    point transform Pt is restored by << Pt, and the top 8 bits of the
    P-bit result are emitted."""
    if restart or len(band) != 3:
        return None
    psv, _se, ahal = band
    pt = ahal & 15
    p = frame.precision
    if not 1 <= psv <= 7 or pt >= p:
        return None
    layout = _scan_layout(frame, scan, 1)
    if layout is None:
        return None
    order, mcux, mcuy, y = layout
    tables = {cs: td for cs, td, _ta in scan}
    if kind.arith:
        ecs = data[start:]
        dec = jpeg_arith.QMDecoder(ecs)
        next_diff = jpeg_arith.lossless_diffs(dec, t.dc_cond)
        # plausibility gate: a conforming stream's samples lie in
        # [0, 2^(P-Pt)) before the mod-2^16 wrap (jpeg_arith.lossless_diffs)
        ceil = (1 << (p - pt)) if p - pt < 16 else None
    else:
        if any((0, tables[cid]) not in t.huff for cid, _h, _v, _tq in order):
            return None
        body = data[start : _huff_ecs_end(data, start)]
        next_diff = _huff_lossless_diffs(_JpegBits(body.replace(b"\xff\x00", b"\xff")), t.huff)
        ceil = None
    grids = {cid: np.zeros((mcuy * v, mcux * h), dtype=np.int64) for cid, h, v, _tq in order}
    diffs = {cid: np.zeros_like(g) for cid, g in grids.items()}
    default = 1 << (p - pt - 1)
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, h, v, _tq in order:
                g, d = grids[cid], diffs[cid]
                for dy in range(v):
                    for dx in range(h):
                        row, col = my * v + dy, mx * h + dx
                        diff = next_diff(tables[cid], d, row, col)
                        val = _predict(g, row, col, psv, default) + diff
                        if ceil is not None and not 0 <= val < ceil:
                            return None
                        g[row, col] = val & 0xFFFF
                        d[row, col] = diff
    if kind.arith and not jpeg_arith.lossless_consumed(dec, ecs):
        return None
    full = np.clip(grids[y[0]] << pt, 0, (1 << p) - 1)
    plane = (full >> (p - 8)).astype(np.uint8)
    return _upsample_y(plane, y[1], y[2], frame.hmax, frame.vmax, frame.width, frame.height)


def _huff_lossless_diffs(bits: _JpegBits, huff: dict):
    """Huffman lossless difference decoder: a DC-class magnitude category
    SSSS plus SSSS raw bits; SSSS=16 means 32768 with no bits (H.1.2.1)."""

    def next_diff(td, _diffs, _row, _col):
        ssss = _huff_decode(bits, huff[(0, td)])
        if ssss > 16:
            raise ValueError("lossless SSSS > 16")
        return 32768 if ssss == 16 else _extend(bits.receive(ssss), ssss)

    return next_diff
