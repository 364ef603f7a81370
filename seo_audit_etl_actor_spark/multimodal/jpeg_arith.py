"""Arithmetic-coded JPEG entropy decoding (T.81 Annex D QM coder) for the
SOF9, SOF10 and SOF11 processes. The frame layer — marker walk, tables,
MCU geometry, block reconstruction, the lossless predictor — is
`multimodal/jpeg.py`; this module decodes the entropy-coded data:

- `QMDecoder`: the Annex D.2 binary arithmetic decoder — 16-bit interval
  register A, per-context (index, MPS) adaptive state over the Table D.3
  transitions, conditional exchange on both paths, renormalisation.
- `sequential` (SOF9): the F.1.4.4 statistics model. DC differences use
  the 5-class previous-difference conditioning (L/U from DAC, default
  0/1) over a 49-bin area; AC coefficients use 3 bins per k (EOB,
  significance, first magnitude category), the Kx-conditioned
  high-magnitude ladders at bins 189/217, magnitude bits at category+14
  and the fixed non-adaptive bin for signs.
- `progressive_scan` (SOF10): the G.2 scan procedures over the same bins.
  DC first is the sequential DIFF model on DC >> Al; DC refinement one
  fixed-context decision per block; AC first the sequential band model;
  AC refinement per-k EOB (decoded only beyond the previous stage's last
  nonzero coefficient), significance and correction decisions with
  fixed-context signs. Each scan is an independent segment with fresh
  statistics.
- `lossless_diffs` (SOF11): the H.1.2.2 model — each sample difference
  coded by the DC DIFF decision tree under two-dimensional (Da, Db)
  conditioning.

Restart intervals (SOF9, SOF10): the strict T.81 arithmetic restart —
segments of Ri MCUs (Ri blocks in a non-interleaved scan), RSTn cycling
0..7 and validated, and a fresh QM decoder, statistics, predictions and
conditioning per segment (E.2.4, F.1.4.0, G.2).

Evidence: the decode procedures here and the encoders in
`multimodal/fixtures.py` are written separately from the Annex D
flowcharts, so round-trip agreement evidences the interval arithmetic,
conditional exchange, renormalisation and the statistics models. Shared
data and conventions are NOT evidenced by that agreement: the Table D.3
transcription, and the bit framing (the code window starts with the
first 16 entropy bits; a zero bit is stuffed after every 0xFF, a
post-0xFF byte > 0x8F is a marker, and an exhausted stream feeds
1-bits), so interop with external codecs is plausible but unverified.
The SOF11 statistics-bin layout (LL_STAT_BINS=158, ladders at 100/129,
+14 magnitude bits) is a self-defined convention checked only against
this repo's encoder; `lossless_diffs` documents the plausibility gates
that route a mismatched external stream to the documented fake.
"""

from __future__ import annotations

# Annex D Table D.3: (Qe, NMPS, NLPS, SWITCH) per state 0..112, plus the
# non-adaptive "fixed" state 113 (used for AC signs, F.1.4.4.2.1) that
# transitions to itself. SHARED DATA with the fixtures encoder — a
# transcription error here round-trips invisibly (documented above).
QM_TABLE: list[tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # fixed, non-adaptive (AC sign)
]
FIXED_BIN = 113

# F.1.4.4.1 DC statistics layout: context base in {0,4,8,12,16} by the
# previous diff's class, +0 S0 / +1 SS / +2 SP / +3 SN; magnitude
# categories at 20..; magnitude bits at category bin + 14.  49 bins.
DC_STAT_BINS = 49
# F.1.4.4.2 AC layout: 3*(k-1) -> (SE, S0, X1); X2+ at 189 (k <= Kx) or
# 217 (k > Kx); magnitude bits at category bin + 14.  245 bins.
AC_STAT_BINS = 245
AC_LOW_BASE = 189
AC_HIGH_BASE = 217


class _BitSource:
    """Entropy-bit reader with T.81 arithmetic-coding framing: a zero bit
    is stuffed after every 0xFF byte (so the post-0xFF byte's MSB is the
    stuff, leaving 7 payload bits); a post-0xFF byte > 0x8F is a marker —
    from there on (and past end of data) the source feeds 1-bits
    (D.2: marker reached, decoder pads with 1s)."""

    def __init__(self, data: bytes):
        self._data = data
        self._pos = 0
        self._bits = 0
        self._nbits = 0
        self._done = False

    def _load_byte(self) -> None:
        if self._done or self._pos >= len(self._data):
            self._done = True
            self._bits = (self._bits << 8) | 0xFF
            self._nbits += 8
            return
        b = self._data[self._pos]
        self._pos += 1
        if b != 0xFF:
            self._bits = (self._bits << 8) | b
            self._nbits += 8
            return
        nxt = self._data[self._pos] if self._pos < len(self._data) else 0xFF
        if nxt > 0x8F:  # marker: do not consume, feed 1s forever
            self._done = True
            self._bits = (self._bits << 8) | 0xFF
            self._nbits += 8
            return
        # 0xFF payload byte; the NEXT byte carries a stuffed 0 MSB
        self._pos += 1
        self._bits = (self._bits << 15) | (0xFF << 7) | (nxt & 0x7F)
        self._nbits += 15

    def next_bit(self) -> int:
        if self._nbits == 0:
            self._load_byte()
        self._nbits -= 1
        return (self._bits >> self._nbits) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.next_bit()
        return v


class QMDecoder:
    """Annex D.2 QM arithmetic decoder over a _BitSource. Contexts are
    mutable [state_index, mps] pairs; LPS owns the LOW [0, Qe) subinterval
    (the fixtures encoder mirrors this), with conditional exchange when
    the MPS subinterval A-Qe falls below Qe."""

    def __init__(self, data: bytes):
        self._src = _BitSource(data)
        self.a = 1 << 16
        self.cx = self._src.read(16)

    def decode(self, ctx: list) -> int:
        i, mps = ctx
        qe = QM_TABLE[i][0]
        self.a -= qe
        if self.cx < qe:
            # low subinterval — nominal LPS
            if self.a < qe:  # conditional exchange: low belongs to MPS
                d = mps
                ctx[0] = QM_TABLE[i][1]
            else:
                d = 1 - mps
                if QM_TABLE[i][3]:
                    ctx[1] = 1 - mps
                ctx[0] = QM_TABLE[i][2]
            self.a = qe
            self._renorm()
        else:
            self.cx -= qe
            if self.a & 0x8000 == 0:
                if self.a < qe:  # conditional exchange: high belongs to LPS
                    d = 1 - mps
                    if QM_TABLE[i][3]:
                        ctx[1] = 1 - mps
                    ctx[0] = QM_TABLE[i][2]
                else:
                    d = mps
                    ctx[0] = QM_TABLE[i][1]
                self._renorm()
            else:
                d = mps
        return d

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.cx = (self.cx << 1) | self._src.next_bit()


def _new_stats(n: int) -> list[list[int]]:
    return [[0, 0] for _ in range(n)]


def fixed_ctx() -> list[int]:
    """A fresh non-adaptive 0.5-probability context (AC sign)."""
    return [FIXED_BIN, 0]


def decode_dc_diff(dec: QMDecoder, stats: list[list[int]], ctx_base: int,
                   L: int, U: int) -> tuple[int, int]:
    """Decode one DC DIFF per F.1.4.4.1 (the decode mirror of Figures
    F.4-F.7). Returns (diff, next_ctx_base) — the caller threads the
    conditioning class of THIS diff into the next block's context."""
    if dec.decode(stats[ctx_base]) == 0:
        return 0, 0
    sign = dec.decode(stats[ctx_base + 1])
    st = ctx_base + 2 + sign
    m = dec.decode(stats[st])
    if m != 0:
        st = 20
        while dec.decode(stats[st]):
            m <<= 1
            if m == 0x8000:
                raise ValueError("DC magnitude overflow")
            st += 1
    # conditioning class of this diff for the NEXT block (F.1.4.4.1.2)
    if m < ((1 << L) >> 1):
        nxt = 0
    elif m > ((1 << U) >> 1):
        nxt = 12 + sign * 4
    else:
        nxt = 4 + sign * 4
    v = m
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        if dec.decode(stats[st]):
            v |= mm
    v += 1
    return (-v if sign else v), nxt


def decode_ac_block(dec: QMDecoder, stats: list[list[int]], kx: int,
                    sign_ctx: list[int], coef_zz: list[int]) -> None:
    """Decode AC coefficients 1..63 into coef_zz (zigzag order) per
    F.1.4.4.2 (decode mirror of Figures F.8-F.10)."""
    k = 1
    while k <= 63:
        base = 3 * (k - 1)
        if dec.decode(stats[base]):  # SE: end of block
            return
        while dec.decode(stats[base + 1]) == 0:  # S0: coefficient zero
            k += 1
            if k > 63:
                raise ValueError("AC run past k=63")
            base = 3 * (k - 1)
        sign = dec.decode(sign_ctx)
        st = base + 2
        m = dec.decode(stats[st])
        if m != 0:
            if dec.decode(stats[st]):
                m = 2
                st = AC_LOW_BASE if k <= kx else AC_HIGH_BASE
                while dec.decode(stats[st]):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("AC magnitude overflow")
                    st += 1
        v = m
        st += 14
        mm = m
        while mm > 1:
            mm >>= 1
            if dec.decode(stats[st]):
                v |= mm
        v += 1
        coef_zz[k] = -v if sign else v
        k += 1



def ecs_end(data: bytes, start: int, restart: int = 0) -> int:
    """End of an arithmetic-coded entropy segment: the first 0xFF followed
    by a byte > 0x8F (inside the segment every 0xFF is followed by a
    stuffed byte <= 0x8F, and fill bytes resolve to the marker as well);
    len(data) if none. With a restart interval in effect the scan's RSTn
    markers are crossed."""
    i, n = start, len(data)
    while i + 1 < n:
        if data[i] == 0xFF and data[i + 1] > 0x8F:
            if not (restart and 0xD0 <= data[i + 1] <= 0xD7):
                return i
            i += 1
        i += 1
    return n


def _restart(ecs: bytes, seg_start: int, unit: int, restart: int) -> int:
    """Validate the RSTn that ends the segment starting at `seg_start`
    before restart unit `unit`; returns where the next segment starts."""
    seg_end = ecs_end(ecs, seg_start)
    expect = 0xD0 + ((unit // restart - 1) % 8)
    if seg_end + 1 >= len(ecs) or ecs[seg_end] != 0xFF or ecs[seg_end + 1] != expect:
        raise ValueError("missing or out-of-order RSTn")
    return seg_end + 2


def sequential(ecs, order, mcux, mcuy, tables, t, restart, coef) -> None:
    """SOF9 scan: every MCU of `order` (see jpeg._scan_layout), the
    emitted component's zigzag coefficients into `coef`."""
    y_cid, yh, yv, _tq = order[0]
    seg_start = 0
    for m in range(mcux * mcuy):
        if m == 0 or (restart and m % restart == 0):
            if m:
                seg_start = _restart(ecs, seg_start, m, restart)
            dec = QMDecoder(ecs[seg_start:])
            dc_stats: dict[int, list] = {}
            ac_stats: dict[int, list] = {}
            sign_ctx = fixed_ctx()
            pred = {cid: 0 for cid, _, _, _ in order}
            ctx_base = {cid: 0 for cid, _, _, _ in order}
        my, mx = divmod(m, mcux)
        for cid, ch, cv, _tq in order:
            td, ta = tables[cid]
            if td not in dc_stats:
                dc_stats[td] = _new_stats(DC_STAT_BINS)
            if ta not in ac_stats:
                ac_stats[ta] = _new_stats(AC_STAT_BINS)
            L, U = t.dc_cond.get(td, (0, 1))
            kx = t.ac_cond.get(ta, 5)
            for by in range(cv):
                for bx in range(ch):
                    block = [0] * 64
                    diff, ctx_base[cid] = decode_dc_diff(
                        dec, dc_stats[td], ctx_base[cid], L, U
                    )
                    pred[cid] += diff
                    block[0] = pred[cid]
                    decode_ac_block(dec, ac_stats[ta], kx, sign_ctx, block)
                    if cid == y_cid:
                        coef[my * yv + by, mx * yh + bx] = block


def progressive_scan(ecs, units, y_cid, tables, t, restart, coef) -> None:
    """One SOF10 scan into Y's persistent zigzag coefficient grid. `units`
    is jpeg._Progressive.units: the band, and either the DC scan's
    components over its MCU grid or (None) Y's block grid for AC. A
    restart re-initialises the decoder, statistics, predictions and
    conditioning; the coefficient grid (and the refinement kex derived
    from it) is untouched. Raises ValueError on structural corruption."""
    ss, se, ah, al, grid, tx, ty = units
    interleaved = grid is not None and len(grid) > 1
    kx = t.ac_cond.get(tables[y_cid][1], 5)
    p1 = 1 << al
    seg_start = 0
    for idx in range(tx * ty):
        if idx == 0 or (restart and idx % restart == 0):
            if idx:
                seg_start = _restart(ecs, seg_start, idx, restart)
            dec = QMDecoder(ecs[seg_start:])
            dc_stats: dict[int, list] = {}
            stats = _new_stats(AC_STAT_BINS)
            fixed = fixed_ctx()
            pred = {cid: 0 for cid, _h, _v in grid or ()}
            ctx_base = dict(pred)
        my, mx = divmod(idx, tx)
        if grid is not None:
            for cid, ch, cv in grid:
                td = tables[cid][0]
                if ah == 0 and td not in dc_stats:
                    dc_stats[td] = _new_stats(DC_STAT_BINS)
                L, U = t.dc_cond.get(td, (0, 1))
                for by in range(cv):
                    for bx in range(ch):
                        r0 = my * cv + by if interleaved else my
                        c0 = mx * ch + bx if interleaved else mx
                        if ah == 0:  # DC first: the sequential DIFF model
                            diff, ctx_base[cid] = decode_dc_diff(
                                dec, dc_stats[td], ctx_base[cid], L, U
                            )
                            pred[cid] += diff
                            if cid == y_cid:
                                coef[r0, c0, 0] = pred[cid] << al
                        else:  # DC refinement: one fixed-context bit at Al
                            bit = dec.decode(fixed)
                            if cid == y_cid and bit:
                                coef[r0, c0, 0] |= bit << al
            continue
        block = coef[my, mx]
        if ah == 0:
            # AC first pass: the sequential model over the band
            k = ss
            while k <= se:
                base = 3 * (k - 1)
                if dec.decode(stats[base]):  # EOB
                    break
                while dec.decode(stats[base + 1]) == 0:
                    k += 1
                    if k > se:
                        raise ValueError("AC run past Se")
                    base = 3 * (k - 1)
                sign = dec.decode(fixed)
                st = base + 2
                m = dec.decode(stats[st])
                if m != 0:
                    if dec.decode(stats[st]):
                        m = 2
                        st = AC_LOW_BASE if k <= kx else AC_HIGH_BASE
                        while dec.decode(stats[st]):
                            m <<= 1
                            if m == 0x8000:
                                raise ValueError("AC magnitude overflow")
                            st += 1
                v = m
                st += 14
                mm = m
                while mm > 1:
                    mm >>= 1
                    if dec.decode(stats[st]):
                        v |= mm
                v += 1
                block[k] = (-v if sign else v) << al
                k += 1
        else:
            # AC refinement pass: kex = the PREVIOUS stage's last
            # nonzero index (the grid holds exactly those stages)
            kex = 0
            for j in range(se, 0, -1):
                if block[j] != 0:
                    kex = j
                    break
            k = ss
            while k <= se:
                base = 3 * (k - 1)
                if k > kex and dec.decode(stats[base]):
                    break  # EOB: nothing further in this band
                while True:
                    if block[k] != 0:
                        if dec.decode(stats[base + 2]):
                            block[k] += p1 if block[k] > 0 else -p1
                        break
                    if dec.decode(stats[base + 1]):
                        block[k] = -p1 if dec.decode(fixed) else p1
                        break
                    k += 1
                    if k > se:
                        raise ValueError("AC run past Se")
                    base = 3 * (k - 1)
                k += 1


# ------------------------------------------------- lossless (SOF11)

# H.1.2.2 statistics layout (shared convention with the fixtures
# encoder, same epistemic status as the F.1.4.4 bin numbering): the
# zero/sign/first-magnitude decisions are conditioned on the 5-way
# classes of the differences coded for the left (Da) and above (Db)
# neighbors — 25 contexts x 4 bins (S0, SS, SP, SN) at
# 4*(5*cls(Db)+cls(Da)); the magnitude-category ladder X1.. lives at
# 100 when Db's class is zero/small and 129 when it is large, with the
# magnitude bits at category bin + 14 as everywhere else. 158 bins.
LL_STAT_BINS = 158
LL_MAG_SMALL = 100
LL_MAG_LARGE = 129


def classify_diff(diff: int, L: int, U: int) -> int:
    """5-way conditioning class of a coded lossless difference
    (H.1.2.2.1 — the same category boundaries as the sequential DC
    model's next-block conditioning in F.1.4.4.1.2): 0 zero, 1 small
    positive, 2 small negative, 3 large positive, 4 large negative.
    `m` is the magnitude MSB the DIFF coder walks (over v = |diff| - 1),
    so the class boundaries are bit-identical to `decode_dc_diff`'s."""
    if diff == 0:
        return 0
    sign = 1 if diff < 0 else 0
    v = abs(diff) - 1
    m = 0 if v == 0 else 1 << (v.bit_length() - 1)
    if m < ((1 << L) >> 1):
        return 0
    if m > ((1 << U) >> 1):
        return 3 + sign
    return 1 + sign


def decode_lossless_diff(dec: QMDecoder, stats: list[list[int]], base: int,
                         mag_base: int) -> int:
    """Decode one lossless difference: the F.1.4.4.1 DC DIFF decision
    tree with the 2-D (Da, Db) conditioning supplied via `base` and the
    Db-selected magnitude ladder at `mag_base` (H.1.2.2). Magnitudes up
    to 32768 (diff = -32768 from the mod-2^16 wrap) fit the 15-deep
    ladder exactly; anything deeper is stream corruption."""
    if dec.decode(stats[base]) == 0:
        return 0
    sign = dec.decode(stats[base + 1])
    st = base + 2 + sign
    m = dec.decode(stats[st])
    if m != 0:
        st = mag_base
        while dec.decode(stats[st]):
            m <<= 1
            if m == 0x8000:
                raise ValueError("lossless magnitude overflow")
            st += 1
    v = m
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        if dec.decode(stats[st]):
            v |= mm
    v += 1
    return -v if sign else v


def lossless_diffs(dec: QMDecoder, dc_cond: dict):
    """SOF11 difference decoder for jpeg's lossless sample walk: the
    (Da, Db) classes of the left and above neighbours' coded differences
    (zero outside the image) pick the context and magnitude ladder.

    Plausibility gates: the statistics-bin LAYOUT is a self-defined
    convention, so a real-world stream using another layout would decode
    "successfully" into random differences. For a conforming stream at
    P-Pt <= 15 every sample pred+diff lies in [0, 2^(P-Pt)) before the
    mod-2^16 wrap (H.1.1.1: the minimal signed representative of the
    difference IS the true difference while |sample-pred| < 2^15); the
    sample walk rejects any sample outside it. Random differences stay in
    range with probability ~2^(P-Pt)/2^16 (~0.4% at P=8), so a mismatched
    stream trips within a handful of samples. At P-Pt = 16 every value is
    valid modulo 2^16 and that gate stands down. `lossless_consumed` is
    the second gate."""
    stats: dict[int, list] = {}

    def next_diff(td, diffs, row, col):
        if td not in stats:
            stats[td] = _new_stats(LL_STAT_BINS)
        L, U = dc_cond.get(td, (0, 1))
        ca = classify_diff(int(diffs[row, col - 1]) if col > 0 else 0, L, U)
        cb = classify_diff(int(diffs[row - 1, col]) if row > 0 else 0, L, U)
        mag_base = LL_MAG_SMALL if cb < 3 else LL_MAG_LARGE
        return decode_lossless_diff(dec, stats[td], 4 * (5 * cb + ca), mag_base)

    return next_diff


def lossless_consumed(dec: QMDecoder, ecs: bytes) -> bool:
    """Whether a decoded SOF11 scan consumed its entropy data to within
    flush slack (this repo's encoder leaves exactly 4 bytes: 2 flush + the
    unread EOI; T.81 fill bytes before a marker are legal, so 0xFF runs
    are excused). A mismatched bin layout decodes a different decision
    count, leaving either a long unconsumed tail (caught here) or running
    into the 1-pad, whose all-ones bits blow up the decoded magnitudes
    and trip the range gate."""
    pos = dec._src._pos
    return not (len(ecs) - pos > 16 and sum(b != 0xFF for b in ecs[pos:-2]) > 4)
