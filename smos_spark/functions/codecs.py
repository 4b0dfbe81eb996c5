"""Time-series compression codecs: Gorilla XOR and Chimp (float64
values) and delta-of-delta (int64 timestamps).

Public algorithms from the Gorilla paper (Pelkonen et al., "Gorilla: A
Fast, Scalable, In-Memory Time Series Database", VLDB 2015) and Chimp
(Liakos et al., VLDB 2022, PAPERS.md). Implemented from the papers'
descriptions; no reference-repo analog exists (the reference compresses
with netCDF zlib, reference `src/smos/interface.py:376` — these
are this engine's own payload codecs per the north rule).

Encoding layout (bit-exact, MSB-first within our own stream;
self-contained):

Gorilla XOR values:
  [u64 count][u64 raw first value bits] then per value:
    xor == 0        → '0'
    reuse window    → '10' + meaningful bits (prev leading/length window)
    new window      → '11' + 5b leading + 6b (sig_len - 1) + sig bits
  NaNs roundtrip bit-exactly (we compare/store raw u64 bit patterns).

Chimp values: the same header, other control codes (see the Chimp
section below).

Delta-of-delta timestamps (µs precision, so the escape bucket is 64-bit
instead of the paper's 32-bit seconds):
  [u64 count][i64 first ts][i64 first delta] then per ts, dod =
    0                → '0'
    [-63, 64]        → '10'   + 7b  zigzag
    [-255, 256]      → '110'  + 9b  zigzag
    [-2047, 2048]    → '1110' + 12b zigzag
    else             → '1111' + 64b raw

A value blob does not name its codec: Gorilla and Chimp blobs share
the header, and decoding one as the other raises or, worse, returns
wrong values. `operators.compress` therefore writes the codec name
into each block row's `codec` column, and every reader decodes by it.

Implementation notes (the 100 TB hot path runs this inside Arrow
batches, so per-value Python cost is the whole ballgame):

* The scalar encoders (`gorilla_encode`, `chimp_encode`, `dod_encode`)
  are plain `_BitWriter` loops over one series, whatever its length.
  They are the oracles the batch encoders are tested against; only
  tests call them.
* The batch encoders (`*_encode_batch`) encode every group of an Arrow
  batch at once; `compress_series` calls only these. They emit
  (value, nbits) tokens, and `_blobs` bit-packs all groups' tokens in
  ONE numpy pass (`_pack_bits`), each group byte-aligned, and cuts one
  blob per group. Gorilla and Chimp share `_xor_batch`: the xor,
  clz/ctz, the per-group loop and the headers are vectorized or
  common; only the per-group state machines (`_gorilla_group`,
  `_chimp_group`) differ. They are inherently sequential (each control
  code depends on the window or lead stored by an earlier one), run
  once per group and touch precomputed ints of the nonzero-xor values
  only. Delta-of-delta encode is loop-free except for the rare 64-bit
  escape tokens (np.insert splice).
* Decoders are sequential by nature (variable-length prefix codes);
  the bit reader pulls 128-bit windows from a big-endian word list so
  every read is O(1) Python ops instead of a per-bit loop, and
  delta-of-delta reconstruction is a vectorized double-cumsum over
  the collected dods.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "gorilla_encode",
    "gorilla_decode",
    "dod_encode",
    "dod_decode",
    "gorilla_encode_batch",
    "dod_encode_batch",
    "chimp_encode",
    "chimp_decode",
    "chimp_encode_batch",
]

_U1 = np.uint64(1)
_EMPTY = struct.pack("<Q", 0)  # the blob of an empty series


class _BitWriter:
    """Classic accumulator bit-writer — the scalar encoders' sink."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        """Append the low `nbits` of value, MSB-first."""
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


def _pack_bits(vals: np.ndarray, nbits: np.ndarray, offs: np.ndarray, nbytes: int) -> bytes:
    """MSB-first bit-pack into `nbytes` zero bytes: token i writes the
    low nbits[i] (≤ 64) bits of vals[i] at bit offset offs[i] (offsets
    ascending, tokens disjoint). O(tokens) vector ops, not O(bits):
    each token lands in at most two 64-bit words; per-word
    contributions are OR-combined with reduceat over the (already
    sorted) word index."""
    if not len(vals):
        return bytes(nbytes)
    off_in_word = offs & 63
    # mask defensively to the token width (callers may pass full words)
    width_mask = (~np.uint64(0)) >> (64 - nbits).astype(np.uint64)
    val = vals & width_mask
    # r = how far the token sits above the low end of the 128-bit
    # window [word w, word w+1]; r in [1, 127]
    r = 128 - off_in_word - nbits
    ge = r >= 64  # token entirely inside word w
    sh_hi = np.where(ge, r - 64, 0).astype(np.uint64)
    sh_lo_of_hi = np.clip(64 - r, 0, 63).astype(np.uint64)
    high = np.where(ge, val << sh_hi, val >> sh_lo_of_hi)
    sh_lo = np.where(ge, 0, r).astype(np.uint64)
    low = np.where(ge, np.uint64(0), val << sh_lo)
    w = offs >> 6
    words = np.zeros((nbytes + 7) // 8 + 1, dtype=np.uint64)
    # w is non-decreasing → group boundaries via diff, no sort
    bnd = np.concatenate(([0], np.flatnonzero(w[1:] != w[:-1]) + 1))
    words[w[bnd]] = np.bitwise_or.reduceat(high, bnd)
    words[w[bnd] + 1] |= np.bitwise_or.reduceat(low, bnd)
    return words.astype(">u8").tobytes()[:nbytes]


def _blobs(vals, nbits, tok_end, heads: list[bytes]) -> list[bytes]:
    """One blob per group: heads[g] + group g's tokens, bit-packed and
    padded to a byte. Group g owns tokens [tok_end[g-1], tok_end[g]).
    All groups pack in one `_pack_bits` call and the blobs are byte
    slices of its buffer. Zero-valued tokens are not packed (the buffer
    starts zeroed), so they may be of any width: a run of repeated
    values is one token."""
    vals = np.asarray(vals, dtype=np.uint64)
    nbits = np.asarray(nbits, dtype=np.int64)
    tok_end = np.asarray(tok_end, dtype=np.int64)
    bit_end = np.concatenate(([0], np.cumsum(nbits)))
    tok_start = np.concatenate(([0], tok_end))[:-1]
    gbits = bit_end[tok_end] - bit_end[tok_start]
    gbytes = (gbits + 7) // 8
    # each token moves by the byte-alignment pads of the groups before it
    pads = gbytes * 8 - gbits
    offs = bit_end[:-1] + np.repeat(np.cumsum(pads) - pads, tok_end - tok_start)
    keep = np.flatnonzero(vals)
    payload = _pack_bits(vals[keep], nbits[keep], offs[keep], int(gbytes.sum()))
    out: list[bytes] = []
    off = 0
    for head, nb in zip(heads, gbytes.tolist()):
        out.append(head + payload[off : off + nb])
        off += nb
    return out


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length for uint64 (0 → 0)."""
    bl = np.zeros(x.shape, np.int64)
    v = x.copy()
    for sh in (32, 16, 8, 4, 2, 1):
        s = np.uint64(sh)
        m = (v >> s) != 0
        bl += m * sh  # bool*int avoids fancy-index writes
        v = np.where(m, v >> s, v)
    bl += v != 0
    return bl


def _xor_batch(values: np.ndarray, starts: np.ndarray, round_lead, group_tokens) -> list[bytes]:
    """The shared half of the Gorilla and Chimp batch encoders.
    `values` is the concatenation of the series, `starts` the group
    start offsets (ascending, starts[0] == 0); returns one blob per
    group, byte-equal to the scalar encoder's blob of each slice.

    The xor with the previous value, its leading zeros (through
    `round_lead`, which maps a clz array to the codec's stored lead) and
    trailing zeros are vectorized over the whole batch. Then, once per
    group of two or more values, `group_tokens(put_v, put_b, idx, xor,
    lead, trail, j0, j1, pos, end)` appends the group's tokens: values
    pos..end-1 of the concatenation (the first value is in the header),
    of which idx[j0:j1] have a nonzero xor. Per-group flat cost is a few
    µs — this is what makes compress_series fast at millions of tiny
    series."""
    vals = np.asarray(values, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    n_total = len(vals)
    ends = np.append(starts[1:], n_total)
    bits = vals.view(np.uint64)
    xor = np.zeros(n_total, np.uint64)
    if n_total:
        xor[1:] = bits[1:] ^ bits[:-1]
        xor[starts[starts < n_total]] = 0  # group firsts live in headers
    nz = np.flatnonzero(xor)
    x = xor[nz]
    lead = round_lead(64 - _bit_length_u64(x))
    trail = _bit_length_u64(x & (~x + _U1)) - 1
    idx, xl, ll, tl = nz.tolist(), x.tolist(), lead.tolist(), trail.tolist()
    sl, el = starts.tolist(), ends.tolist()
    ev: list[int] = []
    eb: list[int] = []
    put_v, put_b = ev.append, eb.append  # bound methods: loop-hot
    tok_end: list[int] = []
    for s, e, j0, j1 in zip(
        sl, el, np.searchsorted(nz, starts).tolist(), np.searchsorted(nz, ends).tolist()
    ):
        if e - s >= 2:
            group_tokens(put_v, put_b, idx, xl, ll, tl, j0, j1, s + 1, e)
        tok_end.append(len(ev))
    firsts = bits[np.minimum(starts, n_total - 1)].tolist() if n_total else [0] * len(sl)
    heads = [
        struct.pack("<QQ", e - s, f) if e > s else _EMPTY
        for s, e, f in zip(sl, el, firsts)
    ]
    return _blobs(ev, eb, tok_end, heads)


class _BitReader:
    """O(1)-per-read bit reader: 128-bit window over big-endian words."""

    __slots__ = ("words", "pos")

    def __init__(self, data: bytes) -> None:
        pad = (-len(data)) % 8 + 8  # +1 spare word so w+1 is always valid
        self.words = np.frombuffer(data + b"\x00" * pad, dtype=">u8").tolist()
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        pos = self.pos
        w = pos >> 6
        off = pos & 63
        window = (self.words[w] << 64) | self.words[w + 1]
        self.pos = pos + nbits
        return (window >> (128 - off - nbits)) & ((1 << nbits) - 1)


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    if x == 0:
        return 64
    return (x & -x).bit_length() - 1


def gorilla_encode(values: np.ndarray) -> bytes:
    """Gorilla XOR-encode a float64 array → bytes, one value at a time.
    Bit-exact roundtrip (including NaN payloads). The loop oracle of
    `gorilla_encode_batch`."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64).tolist()
    if not bits:
        return _EMPTY
    w = _BitWriter()
    prev = bits[0]
    prev_lead, prev_sig = 65, 0  # invalid window → first xor forces '11'
    for cur in bits[1:]:
        xor = prev ^ cur
        if xor == 0:
            w.write(0, 1)
        else:
            lead = min(_clz64(xor), 31)
            trail = _ctz64(xor)
            sig = 64 - lead - trail
            if prev_lead <= lead and (64 - prev_lead - prev_sig) <= trail:
                w.write(0b10, 2)
                w.write(xor >> (64 - prev_lead - prev_sig), prev_sig)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(sig - 1, 6)
                w.write(xor >> trail, sig)
                prev_lead, prev_sig = lead, sig
        prev = cur
    return struct.pack("<QQ", len(bits), bits[0]) + w.getvalue()


def _gorilla_group(put_v, put_b, idx, xor, lead, trail, j0, j1, pos, end) -> None:
    """Gorilla tokens of one group (the `_xor_batch` contract)."""
    prev_lead, prev_sig = 65, 0  # invalid window → first xor forces '11'
    shift = 0  # 64 - prev_lead - prev_sig (window low edge)
    for j in range(j0, j1):
        i = idx[j]
        if i > pos:  # '0' per repeated value
            put_v(0)
            put_b(i - pos)
        ld = lead[j]
        tr = trail[j]
        if prev_lead <= ld and shift <= tr:
            # fits the previous window → '10' + prev_sig bits
            put_v(0b10)
            put_b(2)
            put_v(xor[j] >> shift)
            put_b(prev_sig)
        else:
            sig = 64 - ld - tr
            put_v((0b11 << 11) | (ld << 6) | (sig - 1))
            put_b(13)
            put_v(xor[j] >> tr)
            put_b(sig)
            prev_lead, prev_sig, shift = ld, sig, tr
        pos = i + 1
    if end > pos:
        put_v(0)
        put_b(end - pos)


def gorilla_encode_batch(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Gorilla-encode MANY series in one pass: `values` is the
    concatenation, `starts` the group start offsets (ascending,
    starts[0] == 0). Returns one blob per group, bit-identical to
    gorilla_encode of each slice. Leading zeros are capped at 31 so
    they fit 5 bits."""
    return _xor_batch(values, starts, lambda clz: np.minimum(clz, 31), _gorilla_group)


def gorilla_decode(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<Q", blob, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    (first,) = struct.unpack_from("<Q", blob, 8)
    out[0] = first
    r = _BitReader(blob[16:])
    prev = first
    lead, sig = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:  # '10' reuse window
            xor = r.read(sig) << (64 - lead - sig)
        else:  # '11' new window
            ls = r.read(11)
            lead = ls >> 6
            sig = (ls & 63) + 1
            xor = r.read(sig) << (64 - lead - sig)
        prev ^= xor
        out[i] = prev
    return out.view(np.float64)


_ZIGZAG_BUCKETS = (  # (max_zigzag_exclusive, prefix, prefix_len, payload_bits)
    (128, 0b10, 2, 7),
    (512, 0b110, 3, 9),
    (4096, 0b1110, 4, 12),
)


def dod_encode(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 (µs) timestamp array → bytes, one
    timestamp at a time. The loop oracle of `dod_encode_batch`."""
    t = np.asarray(ts, dtype=np.int64).tolist()
    n = len(t)
    if n == 0:
        return _EMPTY
    if n == 1:
        return struct.pack("<Qq", 1, t[0])
    first_delta = t[1] - t[0]
    w = _BitWriter()
    prev_delta = first_delta
    for i in range(2, n):
        d = t[i] - t[i - 1]
        dod = d - prev_delta
        prev_delta = d
        if dod == 0:
            w.write(0, 1)
            continue
        z = (dod << 1) ^ (dod >> 63) if dod >= 0 else ((-dod) << 1) - 1
        for zmax, prefix, plen, nbits in _ZIGZAG_BUCKETS:
            if z < zmax:
                w.write(prefix, plen)
                w.write(z, nbits)
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & ((1 << 64) - 1), 64)
    return struct.pack("<Qqq", n, t[0], first_delta) + w.getvalue()


def dod_encode_batch(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Encode many timestamp series in one pass (see
    gorilla_encode_batch for the contract). Fully vectorized: deltas
    and delta-of-deltas are computed over the concatenation with
    group-start positions masked out, zigzag + bucket prefixes merge
    into one ≤16-bit token per point (np.select-style masks), rare
    64-bit escapes are spliced with np.insert, and `_blobs` packs and
    cuts the whole batch. No Python loop over values at all — only
    the per-group headers."""
    t = np.asarray(ts, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    n_total = len(t)
    n_groups = len(starts)
    ends = np.append(starts[1:], n_total)

    delta = np.zeros(n_total, dtype=np.int64)
    dod = np.zeros(n_total, dtype=np.int64)
    if n_total > 1:
        delta[1:] = t[1:] - t[:-1]
    if n_total > 2:
        dod[2:] = delta[2:] - delta[1:-1]
    valid = np.ones(n_total, dtype=bool)
    sv = starts[starts < n_total]
    valid[sv] = False  # group firsts: header
    s1 = starts + 1
    valid[s1[s1 < n_total]] = False  # group seconds: first_delta header
    idx = np.flatnonzero(valid)
    gi = np.searchsorted(starts, idx, side="right") - 1
    dv = dod[idx]

    z = ((dv << 1) ^ (dv >> 63)).view(np.uint64)  # zigzag
    vals = np.zeros(len(dv), dtype=np.uint64)
    nb = np.empty(len(dv), dtype=np.int64)
    # bucket bounds on the RAW dod (zigzag of a near-2^63 dod wraps
    # int64 and could alias a small z; the raw ranges cannot)
    m0 = dv == 0
    m1 = ~m0 & (dv >= -64) & (dv <= 63)  # z < 128
    m2 = ~m0 & ~m1 & (dv >= -256) & (dv <= 255)  # z < 512
    m3 = ~m0 & ~m1 & ~m2 & (dv >= -2048) & (dv <= 2047)  # z < 4096
    esc = ~(m0 | m1 | m2 | m3)
    nb[m0] = 1
    vals[m1] = np.uint64(0b10 << 7) | z[m1]
    nb[m1] = 9
    vals[m2] = np.uint64(0b110 << 9) | z[m2]
    nb[m2] = 12
    vals[m3] = np.uint64(0b1110 << 12) | z[m3]
    nb[m3] = 16
    if esc.any():
        ei = np.flatnonzero(esc)
        vals[ei] = 0b1111
        nb[ei] = 4
        vals = np.insert(vals, ei + 1, dv[ei].view(np.uint64))
        nb = np.insert(nb, ei + 1, 64)
        gi = np.insert(gi, ei + 1, gi[ei])

    last = max(n_total - 1, 0)
    firsts = t[np.minimum(starts, last)].tolist() if n_total else [0] * n_groups
    first_deltas = delta[np.minimum(starts + 1, last)].tolist() if n_total else firsts
    heads = [
        struct.pack("<Qqq", n, f, d) if n > 1 else struct.pack("<Qq", 1, f) if n else _EMPTY
        for n, f, d in zip((ends - starts).tolist(), firsts, first_deltas)
    ]
    return _blobs(vals, nb, np.cumsum(np.bincount(gi, minlength=n_groups)), heads)


def dod_decode(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<Q", blob, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    if n == 1:
        (out[0],) = struct.unpack_from("<q", blob, 8)
        return out
    first, first_delta = struct.unpack_from("<qq", blob, 8)
    r = _BitReader(blob[24:])
    dods = []
    for _ in range(2, n):
        if r.read(1) == 0:
            dods.append(0)
        elif r.read(1) == 0:  # '10' + 7b
            u = r.read(7)
            dods.append((u >> 1) if (u & 1) == 0 else -((u + 1) >> 1))
        elif r.read(1) == 0:  # '110' + 9b
            u = r.read(9)
            dods.append((u >> 1) if (u & 1) == 0 else -((u + 1) >> 1))
        elif r.read(1) == 0:  # '1110' + 12b
            u = r.read(12)
            dods.append((u >> 1) if (u & 1) == 0 else -((u + 1) >> 1))
        else:  # '1111' + raw 64
            raw = r.read(64)
            dods.append(raw - (1 << 64) if raw >= (1 << 63) else raw)
    out[0] = first
    # deltas[i] = first_delta + Σ dod[:i]; values = first + Σ deltas
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = first_delta
    if n > 2:
        deltas[1:] = first_delta + np.cumsum(np.array(dods, dtype=np.int64))
    out[1:] = first + np.cumsum(deltas)
    return out


# ---------------------------------------------------------------------------
# Chimp float codec (Liakos, Papakonstantinopoulou, Kotidis — VLDB 2022)
#
# Public-paper layout, basic Chimp variant (not Chimp128). Differences
# from Gorilla XOR that buy compression on real time series: leading-
# zero counts are ROUNDED to one of 8 values (3-bit code instead of
# 5), the common small-trailing-zeros case stores the xor verbatim
# without a trailing-length field, and only the rare trailing>6 case
# pays for a center-bits window. Flags (2 bits):
#   00  xor == 0 (value repeats)
#   01  trailing zeros > 6: 3-bit lead code + 6-bit center length +
#       center bits; resets the stored lead
#   10  trailing <= 6, rounded lead == stored lead: (64 - lead) bits
#   11  trailing <= 6, new rounded lead: 3-bit lead code +
#       (64 - lead) bits
# Header matches gorilla_encode: <QQ> n, first raw bits.

_CHIMP_LEADS = (0, 8, 12, 16, 18, 20, 22, 24)
_CHIMP_ROUND = np.zeros(65, dtype=np.int64)
for _lz in range(65):
    _CHIMP_ROUND[_lz] = max(v for v in _CHIMP_LEADS if v <= min(_lz, 24))
_CHIMP_REP = {v: i for i, v in enumerate(_CHIMP_LEADS)}


def chimp_encode(values: np.ndarray) -> bytes:
    """Chimp-encode a float64 array → bytes (bit-exact round trip,
    NaN payloads included), one value at a time. The loop oracle of
    `chimp_encode_batch`."""
    vals = np.asarray(values, dtype=np.float64)
    n = len(vals)
    if n == 0:
        return _EMPTY
    bits = vals.view(np.uint64).tolist()
    prev = bits[0]
    out = [struct.pack("<QQ", n, prev)]
    w = _BitWriter()
    stored_lead = -1
    for i in range(1, n):
        cur = bits[i]
        xor = prev ^ cur
        if xor == 0:
            w.write(0b00, 2)
        else:
            lead = int(_CHIMP_ROUND[_clz64(xor)])
            trail = _ctz64(xor)
            if trail > 6:
                sig = 64 - lead - trail
                w.write(0b01, 2)
                w.write(_CHIMP_REP[lead], 3)
                w.write(sig, 6)
                w.write(xor >> trail, sig)
                stored_lead = -1
            elif lead == stored_lead:
                w.write(0b10, 2)
                w.write(xor, 64 - lead)
            else:
                stored_lead = lead
                w.write(0b11, 2)
                w.write(_CHIMP_REP[lead], 3)
                w.write(xor, 64 - lead)
        prev = cur
    out.append(w.getvalue())
    return b"".join(out)


def _chimp_group(put_v, put_b, idx, xor, lead, trail, j0, j1, pos, end) -> None:
    """Chimp tokens of one group (the `_xor_batch` contract)."""
    stored_lead = -1
    for j in range(j0, j1):
        i = idx[j]
        if i > pos:  # '00' per repeated value
            put_v(0)
            put_b(2 * (i - pos))
        ld = lead[j]
        tr = trail[j]
        if tr > 6:
            sig = 64 - ld - tr
            put_v((0b01 << 9) | (_CHIMP_REP[ld] << 6) | sig)
            put_b(11)
            put_v(xor[j] >> tr)
            put_b(sig)
            stored_lead = -1
        elif ld == stored_lead:
            put_v(0b10)
            put_b(2)
            put_v(xor[j])
            put_b(64 - ld)
        else:
            stored_lead = ld
            put_v((0b11 << 3) | _CHIMP_REP[ld])
            put_b(5)
            put_v(xor[j])
            put_b(64 - ld)
        pos = i + 1
    if end > pos:
        put_v(0)
        put_b(2 * (end - pos))


def chimp_encode_batch(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Chimp-encode many series in one pass (same contract as
    gorilla_encode_batch); leading zeros round to the 8 Chimp leads."""
    return _xor_batch(values, starts, _CHIMP_ROUND.__getitem__, _chimp_group)


def chimp_decode(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<Q", blob, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    (first,) = struct.unpack_from("<Q", blob, 8)
    out[0] = first
    r = _BitReader(blob[16:])
    prev = first
    stored_lead = -1
    for i in range(1, n):
        flag = r.read(2)
        if flag == 0b00:
            out[i] = prev
            continue
        if flag == 0b01:
            lead = _CHIMP_LEADS[r.read(3)]
            sig = r.read(6)
            trail = 64 - lead - sig
            xor = r.read(sig) << trail
            stored_lead = -1
        elif flag == 0b10:
            xor = r.read(64 - stored_lead)
        else:
            stored_lead = _CHIMP_LEADS[r.read(3)]
            xor = r.read(64 - stored_lead)
        prev ^= xor
        out[i] = prev
    return out.view(np.float64)
