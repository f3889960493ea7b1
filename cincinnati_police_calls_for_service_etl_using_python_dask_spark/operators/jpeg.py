"""Baseline JPEG (JFIF) codec — the round-5 multimodal stretch item
(VERDICT r4 "What's missing" #1: real corpora are mostly JPEG).

Self-contained baseline sequential DCT codec for 8-bit grayscale,
implementing the public ITU-T T.81 format: marker segments (SOI / APP0
/ DQT / SOF0 / DHT / SOS / EOI), canonical Huffman coding of DC
deltas + AC run/size pairs with byte stuffing, zigzag ordering,
quantization, and the type-II DCT. The decoder is GENERAL for that
profile — it builds Huffman tables from the file's own DHT segments,
handles ZRL/EOB, dequantizes with the file's DQT, and runs a
vectorized float64 IDCT over all blocks at once, so the operator
layer (multimodal.py) decodes real bytes with no codec library.

Cross-engine exactness: the DuckDB oracle cannot replay a DCT, so the
FIXTURE (attach_jpeg_payload) synthesizes images whose 8×8 blocks are
FLAT (one byte value per block, cycling the text) and whose quant
table is all-ones. A flat block quantizes to a DC-only coefficient
(the AC float residue, ~1e-16, rounds to zero), and a DC-only block
reconstructs integer-exactly (pixel = DC/8 + 128 to within ~1e-13 of
an integer), so the oracle predicts every decoded pixel from the text
bytes alone while the engine still exercises the full entropy-coded
path. Lossy behavior on arbitrary images is pinned separately by
roundtrip-tolerance tests (tests/test_curation_ops.py).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# Zigzag scan order: ZIGZAG[k] = (row, col) flattened index of the k-th
# coefficient in scan order.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Standard luminance Huffman tables (ITU-T T.81 Annex K.3). BITS[i] =
# number of codes of length i+1; VALUES in canonical order. The tables
# are carried in the file's DHT segment, so encoder and decoder only
# need to agree via the bitstream, not via this constant.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALUES = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALUES = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _canonical_codes(bits: list, values: list) -> dict:
    """value -> (code, length) for a canonical JPEG Huffman table."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@lru_cache(maxsize=64)
def _decode_lut_cached(bits: tuple, values: tuple) -> tuple:
    """16-bit-lookahead Huffman decode LUT: ``(sym, length)`` Python
    lists indexed by the NEXT 16 bits of the stream (length 0 =
    invalid code). One list index replaces up to 16 per-bit loop
    iterations + dict probes of the naive canonical walk — the entropy
    decode is the repo's hottest per-byte Python, so symbol dispatch
    must be O(1). Built vectorized (numpy range fills), then converted
    to lists because CPython list indexing beats numpy scalar getitem
    in a per-symbol loop. lru_cached on the table definition: real
    corpora overwhelmingly reuse the Annex K.3 tables, so the 64 KiB
    build cost is paid once per distinct table, not per image."""
    sym = np.zeros(1 << 16, dtype=np.int64)
    ln = np.zeros(1 << 16, dtype=np.int64)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            sym[lo:hi] = values[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    return sym.tolist(), ln.tolist()


def _decode_table(bits: list, values: list) -> tuple:
    """Decode-side table handle consumed by :class:`_ScanReader`."""
    return _decode_lut_cached(tuple(bits), tuple(values))


# DCT basis A[u, x] = C(u)/2 * cos((2x+1)*u*pi/16); FDCT of a block B
# is A @ B @ A.T, IDCT is A.T @ S @ A.
def _dct_matrix() -> np.ndarray:
    u = np.arange(8).reshape(8, 1).astype(np.float64)
    x = np.arange(8).reshape(1, 8).astype(np.float64)
    a = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    a[0, :] /= np.sqrt(2.0)
    return a


_A = _dct_matrix()

# Encoder-side canonical code tables (the encoder always writes the
# standard tables into DHT, so these are process constants). The
# *_T table tuples are the vectorized-encoder form (_code_arrays).
_DC_CODES = _canonical_codes(DC_BITS, DC_VALUES)
_AC_CODES = _canonical_codes(AC_BITS, AC_VALUES)


class _ScanReader:
    """MSB-first reader over the entropy-coded scan.

    Setup is three C-speed byte operations: cut the scan at the first
    real marker (any FFxx other than stuffed FF00, found with
    ``bytes.find``), unstuff with ``bytes.replace(b"\\xff\\x00",
    b"\\xff")``, and pad. A peek of the next 16 bits at ANY bit
    position then composes a 24-bit window from three byte indexes —
    so the per-symbol loop costs one LUT index for the Huffman code
    plus one window read for the value bits, instead of the naive
    per-BIT accumulator walk (~7× on 64×64 images), while tiny
    thumbnail scans pay microseconds of setup, not a numpy
    materialization. Reads past the cut raise ``truncated scan``
    exactly where the bit-serial reader would have starved."""

    __slots__ = ("b", "nbits", "pos")

    def __init__(self, data: bytes, pos: int) -> None:
        # End of scan: first 0xFF NOT followed by 0x00 (markers,
        # including a lone trailing 0xFF).
        i = pos
        end = len(data)
        while True:
            j = data.find(b"\xff", i, end)
            if j < 0:
                break
            if j + 1 >= end or data[j + 1] != 0x00:
                end = j
                break
            i = j + 2
        clean = data[pos:end].replace(b"\xff\x00", b"\xff")
        self.nbits = len(clean) * 8
        self.b = clean + b"\x00\x00\x00"
        self.pos = 0

    def read_code(self, table: tuple) -> int:
        sym, ln = table
        p = self.pos
        b = self.b
        i = p >> 3
        v = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2]) >> (8 - (p & 7))) & 0xFFFF
        length = ln[v]
        if length == 0:
            raise ValueError("bad Huffman code")
        p += length
        if p > self.nbits:
            raise ValueError("truncated scan")
        self.pos = p
        return sym[v]

    def read_extend(self, cat: int) -> int:
        """Read ``cat`` magnitude bits and sign-extend them (T.81
        F.2.2.1 EXTEND) in one window read."""
        if cat == 0:
            return 0
        p = self.pos
        b = self.b
        i = p >> 3
        v = (
            (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2]) >> (8 - (p & 7)))
            & 0xFFFF
        ) >> (16 - cat)
        p += cat
        if p > self.nbits:
            raise ValueError("truncated scan")
        self.pos = p
        return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _code_arrays(codes: dict, size: int) -> tuple:
    """Canonical code dict → (code, length) list lookup tables for the
    scan encoder (lists: the small-image path indexes them in a Python
    loop; the vectorized path lifts them into numpy once per call)."""
    code = [0] * size
    ln = [0] * size
    for sym, (c, l) in codes.items():
        code[sym] = c
        ln[sym] = l
    return code, ln


def _encode_scan_small(zz: list, comp: list, tables: list) -> bytes:
    """Per-coefficient scan encoder for images of a few blocks —
    thumbnail-sized fixtures pay ~50 µs of fixed numpy overhead in the
    vectorized path, which exceeds their whole symbol walk. Identical
    bitstream (A/B-pinned by the roundtrip tests)."""
    pairs: list = []
    emit = pairs.append
    prev = [0] * len(tables)
    for b, row in enumerate(zz):
        c = comp[b]
        dc_c, dc_l, ac_c, ac_l = tables[c]
        v0 = row[0]
        diff = v0 - prev[c]
        prev[c] = v0
        cat = diff.bit_length() if diff >= 0 else (-diff).bit_length()
        emit((dc_c[cat], dc_l[cat]))
        if cat:
            emit((diff if diff >= 0 else diff + (1 << cat) - 1, cat))
        last = 0
        for k in range(63, 0, -1):
            if row[k]:
                last = k
                break
        run = 0
        for k in range(1, last + 1):
            v = row[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                emit((ac_c[0xF0], ac_l[0xF0]))
                run -= 16
            cat = v.bit_length() if v >= 0 else (-v).bit_length()
            s = (run << 4) | cat
            emit((ac_c[s], ac_l[s]))
            emit((v if v >= 0 else v + (1 << cat) - 1, cat))
            run = 0
        if last < 63:
            emit((ac_c[0x00], ac_l[0x00]))
    acc = nb = 0
    buf = bytearray()
    for code, l in pairs:
        acc = (acc << l) | (code & ((1 << l) - 1))
        nb += l
        while nb >= 8:
            byte = (acc >> (nb - 8)) & 0xFF
            buf.append(byte)
            if byte == 0xFF:
                buf.append(0x00)
            nb -= 8
        acc &= (1 << nb) - 1
    if nb:
        pad = 8 - nb
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        buf.append(byte)
        if byte == 0xFF:
            buf.append(0x00)
    return bytes(buf)


def _encode_scan(zz: np.ndarray, comp: np.ndarray, tables: list) -> bytes:
    """Entropy-encode every block of a scan AT ONCE — the numpy
    batch replacement for the per-coefficient bit-writer walk
    (T.81 F.1.2 run/category coding, bit-identical output).

    ``zz``: (N, 64) int64 quantized coefficients in ZIGZAG order,
    blocks in scan (MCU-interleaved) order. ``comp``: (N,) component
    index per block (DC predictors chain per component). ``tables[c]``
    = (dc_code, dc_len, ac_code, ac_len) lists from _code_arrays.

    Shape: symbols are derived with array ops (run lengths from
    nonzero gaps, categories via frexp, ZRL expansion via repeat),
    ordered by a (block, k, sub) lexsort, and bit-packed with one
    scatter + packbits; byte stuffing is a repeat/assign pass. The
    Python cost is O(1) per IMAGE, not per coefficient. Images under
    ~16 blocks take the per-coefficient small path instead (its fixed
    cost is lower than the array machinery's)."""
    n_blocks = zz.shape[0]
    if n_blocks <= 16:
        return _encode_scan_small(zz.tolist(), comp.tolist(), tables)
    dc_code_t = np.array([t[0] for t in tables], dtype=np.int64)
    dc_len_t = np.array([t[1] for t in tables], dtype=np.int64)
    ac_code_t = np.array([t[2] for t in tables], dtype=np.int64)
    ac_len_t = np.array([t[3] for t in tables], dtype=np.int64)

    # DC differences chain per component, in scan order.
    dcv = zz[:, 0]
    diffs = np.empty(n_blocks, dtype=np.int64)
    for c in range(len(tables)):
        m = comp == c
        v = dcv[m]
        if v.size:
            d = v.copy()
            d[1:] = v[1:] - v[:-1]
            diffs[m] = d
    cat_dc = np.frexp(np.abs(diffs).astype(np.float64))[1].astype(np.int64)

    # AC nonzeros: run = gap since previous nonzero within the block.
    ac = zz[:, 1:]
    b_idx, k0 = np.nonzero(ac)
    kk = k0 + 1
    vals = ac[b_idx, k0]
    prev = np.zeros(kk.size, dtype=np.int64)
    if kk.size > 1:
        same = b_idx[1:] == b_idx[:-1]
        prev[1:] = np.where(same, kk[:-1], 0)
    run = kk - prev - 1
    zrl = run >> 4
    rem = run & 15
    cat_ac = np.frexp(np.abs(vals).astype(np.float64))[1].astype(np.int64)
    sym_ac = (rem << 4) | cat_ac
    bcomp = comp[b_idx]

    # Entry streams: (b, k, sub) sort keys + (code, length) payloads.
    # Within a block: DC sym, DC value bits, then per nonzero AC in k
    # order: its ZRLs, its symbol, its value bits; EOB last (k=64).
    ks, subs, bs, codes, lens = [], [], [], [], []

    blocks_ar = np.arange(n_blocks)
    bs.append(blocks_ar)
    ks.append(np.zeros(n_blocks, dtype=np.int64))
    subs.append(np.zeros(n_blocks, dtype=np.int64))
    codes.append(dc_code_t[comp, cat_dc])
    lens.append(dc_len_t[comp, cat_dc])

    has_dcv = cat_dc > 0
    if has_dcv.any():
        d = diffs[has_dcv]
        cd = cat_dc[has_dcv]
        bs.append(blocks_ar[has_dcv])
        ks.append(np.zeros(int(has_dcv.sum()), dtype=np.int64))
        subs.append(np.ones(int(has_dcv.sum()), dtype=np.int64))
        codes.append(np.where(d >= 0, d, d + (1 << cd) - 1))
        lens.append(cd)

    n_zrl = int(zrl.sum())
    if n_zrl:
        parent = np.repeat(np.arange(kk.size), zrl)
        starts = np.repeat(np.cumsum(zrl) - zrl, zrl)
        j = np.arange(n_zrl) - starts
        bs.append(b_idx[parent])
        ks.append(kk[parent])
        subs.append(j)
        pc = bcomp[parent]
        codes.append(ac_code_t[pc, 0xF0])
        lens.append(ac_len_t[pc, 0xF0])

    if kk.size:
        bs.append(b_idx)
        ks.append(kk)
        subs.append(zrl)
        codes.append(ac_code_t[bcomp, sym_ac])
        lens.append(ac_len_t[bcomp, sym_ac])

        bs.append(b_idx)
        ks.append(kk)
        subs.append(zrl + 1)
        codes.append(np.where(vals >= 0, vals, vals + (1 << cat_ac) - 1))
        lens.append(cat_ac)

    eob = ac[:, 62] == 0  # no nonzero at k=63 → EOB terminates block
    if eob.any():
        eb = blocks_ar[eob]
        bs.append(eb)
        ks.append(np.full(eb.size, 64, dtype=np.int64))
        subs.append(np.zeros(eb.size, dtype=np.int64))
        ec = comp[eob]
        codes.append(ac_code_t[ec, 0x00])
        lens.append(ac_len_t[ec, 0x00])

    bs_a = np.concatenate(bs)
    order = np.lexsort((np.concatenate(subs), np.concatenate(ks), bs_a))
    codes_a = np.concatenate(codes)[order]
    lens_a = np.concatenate(lens)[order]

    # Bit pack (MSB first), pad bits = 1 (T.81 F.1.2.3), then stuff
    # 0x00 after every 0xFF.
    total = int(lens_a.sum())
    off = np.cumsum(lens_a) - lens_a
    ar = np.arange(16)
    sh = lens_a[:, None] - 1 - ar
    valid = sh >= 0
    bitvals = (codes_a[:, None] >> np.where(valid, sh, 0)) & 1
    bits = np.ones(((total + 7) // 8) * 8, dtype=np.uint8)
    positions = off[:, None] + ar
    bits[positions[valid]] = bitvals[valid]
    by = np.packbits(bits)
    reps = np.where(by == 0xFF, 2, 1)
    out = np.repeat(by, reps)
    if out.size != by.size:
        out[np.cumsum(reps)[by == 0xFF] - 1] = 0
    return out.tobytes()


# Vectorized-encoder table tuples: (dc_code, dc_len, ac_code, ac_len).
_LUMA_T = _code_arrays(_DC_CODES, 16) + _code_arrays(_AC_CODES, 256)


def _dqt_bytes(q: np.ndarray) -> bytes:
    """Zigzag-serialize an 8-bit quant table for DQT, validating the
    range — astype(uint8) alone would silently WRAP values >255 (the
    bytes() spelling it replaced raised), corrupting every decode."""
    flat = q.reshape(64)
    if (flat < 1).any() or (flat > 255).any():
        raise ValueError("8-bit DQT entries must be in 1..255")
    return flat[ZIGZAG].astype(np.uint8).tobytes()


def _segment(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg_gray(
    width: int, height: int, pixels: bytes, quant: np.ndarray | None = None
) -> bytes:
    """Baseline JFIF encode of an 8-bit grayscale image (no
    subsampling, single scan). ``quant`` is the 8×8 quantization table
    (default all-ones — numerically near-lossless, and exactly lossless
    for block-flat images, which is what the oracle fixture relies on).
    Edge blocks are padded by edge replication, the standard choice."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixel bytes, got {len(pixels)}")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else np.asarray(quant, dtype=np.int64)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width).astype(np.float64)
    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:height, width:] = img[:, -1:]
    padded[height:, width:] = img[-1, -1]
    # FDCT all blocks at once: (bh, bw, 8, 8) -> A @ B @ A.T
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
    coefs = np.einsum("ux,ijxy,vy->ijuv", _A, blocks, _A)
    qcoefs = np.round(coefs / q).astype(np.int64)

    zz_seq = qcoefs.reshape(bh * bw, 64)[:, ZIGZAG]
    scan = _encode_scan(
        zz_seq, np.zeros(bh * bw, dtype=np.int64), [_LUMA_T]
    )

    qzz = _dqt_bytes(q)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(0xFFDB, b"\x00" + qzz)  # DQT, table 0, 8-bit
    out += _segment(
        0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    )  # SOF0: precision 8, 1 component, no subsampling, quant table 0
    out += _segment(
        0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALUES)
    )  # DHT DC table 0
    out += _segment(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALUES))  # AC 0
    out += _segment(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg_gray(data: bytes) -> tuple:
    """Decode a baseline grayscale JPEG produced by any conformant
    encoder of this profile (8-bit, 1 component, no subsampling, one
    scan, no restart markers). Returns (width, height, pixel_bytes).
    Tables come from the file's own DQT/DHT segments. Raises
    ValueError on anything malformed or outside the profile."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    quant: dict = {}
    huff: dict = {}
    width = height = None
    q_id = dc_id = ac_id = None
    scan_pos = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = (data[pos] << 8) | data[pos + 1]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xFFDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(body[p + 1 : p + 65], dtype=np.uint8).astype(np.int64)
                if len(zz) != 64:
                    raise ValueError("short DQT")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = zz
                quant[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xFFC4:
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                values = list(body[p + 17 : p + 17 + n])
                if len(values) != n:
                    raise ValueError("short DHT")
                huff[(tc, th)] = _decode_table(bits, values)
                p += 17 + n
        elif marker == 0xFFC0:
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp != 1:
                raise ValueError("unsupported SOF0 (grayscale 8-bit only)")
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported")
            q_id = body[8]
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7):
            raise ValueError("non-baseline frame type")
        elif marker == 0xFFDA:
            if body[0] != 1:
                raise ValueError("multi-component scan unsupported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0xF
            scan_pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if width is None or scan_pos is None or q_id not in quant:
        raise ValueError("missing SOF/SOS/DQT")
    dc_tbl = huff.get((0, dc_id))
    ac_tbl = huff.get((1, ac_id))
    if dc_tbl is None or ac_tbl is None:
        raise ValueError("missing DHT")
    q = quant[q_id]

    bh, bw = (height + 7) // 8, (width + 7) // 8
    r = _ScanReader(data, scan_pos)
    # Decode into plain Python rows (list stores beat numpy scalar
    # stores in the per-coefficient loop); one np.array at the end.
    rows: list = []
    prev_dc = 0
    for _b in range(bh * bw):
        row = [0] * 64
        cat = r.read_code(dc_tbl)
        prev_dc += r.read_extend(cat)
        row[0] = prev_dc
        k = 1
        while k < 64:
            sym = r.read_code(ac_tbl)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            run, cat = sym >> 4, sym & 0xF
            k += run
            if k > 63 or cat == 0:
                raise ValueError("AC coefficient overruns block")
            row[k] = r.read_extend(cat)
            k += 1
        rows.append(row)
    zz_blocks = np.array(rows, dtype=np.int64).reshape(bh * bw, 64)
    # De-zigzag + dequant + IDCT, vectorized over every block at once.
    coefs = np.zeros((bh * bw, 64), dtype=np.float64)
    coefs[:, ZIGZAG] = zz_blocks
    coefs = coefs.reshape(-1, 8, 8) * q
    pix = np.einsum("xu,buv,yv->bxy", _A.T, coefs, _A.T) + 128.0
    pix = np.clip(np.round(pix), 0, 255).astype(np.uint8)
    full = (
        pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )
    return width, height, full[:height, :width].tobytes()


# ---------------------------------------------------------------------------
# Color (YCbCr) baseline — round-5 extension: 3-component interleaved
# scans with 4:2:0 chroma subsampling (the layout virtually every real
# photographic JPEG uses) or 4:4:4. Same entropy/DCT machinery as the
# grayscale path; what's new is the MCU interleave (per ITU-T T.81
# §A.2.3: within an MCU each component contributes h×v blocks in
# raster order), per-component DC predictors, a second quant/Huffman
# table pair (standard chroma tables, Annex K.3), and the color
# transform.
#
# COLOR TRANSFORM CONTRACT: YCbCr→RGB runs in 16.16 FIXED-POINT
# INTEGER arithmetic (libjpeg's constants), not floats — so a DuckDB
# oracle can replay the decoder's output bit-exactly with integer
# `//` math. The bias-then-shift spelling keeps every intermediate
# non-negative, so floor-shift == truncating division on both engines.
# ---------------------------------------------------------------------------

DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALUES_C = list(range(12))
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALUES_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

_DC_CODES_C = _canonical_codes(DC_BITS_C, DC_VALUES_C)
_AC_CODES_C = _canonical_codes(AC_BITS_C, AC_VALUES_C)
_CHROMA_T = _code_arrays(_DC_CODES_C, 16) + _code_arrays(_AC_CODES_C, 256)

# 16.16 fixed-point color constants (libjpeg jdcolor.c).
_FIX_R_CR = 91881       # 1.40200
_FIX_G_CB = 22554       # 0.34414
_FIX_G_CR = 46802       # 0.71414
_FIX_B_CB = 116130      # 1.77200
_BIAS = 1 << 28         # multiple of 65536, dominates any negative term


def ycbcr_to_rgb_int(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    """Integer 16.16 YCbCr→RGB (full-range JFIF). All intermediates are
    biased non-negative so >>16 is plain division — a DuckDB oracle
    replays this with `(x + 268435456) // 65536 - 4096`."""
    y = y.astype(np.int64)
    cbb = cb.astype(np.int64) - 128
    crb = cr.astype(np.int64) - 128
    half = 32768
    r = ((y << 16) + _FIX_R_CR * crb + half + _BIAS >> 16) - 4096
    g = ((y << 16) - _FIX_G_CB * cbb - _FIX_G_CR * crb + half + _BIAS >> 16) - 4096
    b = ((y << 16) + _FIX_B_CB * cbb + half + _BIAS >> 16) - 4096
    clip = lambda v: np.clip(v, 0, 255).astype(np.uint8)  # noqa: E731
    return clip(r), clip(g), clip(b)


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate pad to multiples of (mh, mw) — hand-rolled slice
    assignment; np.pad(mode="edge") costs ~50 µs per call, a material
    fraction of a thumbnail's whole encode."""
    h, w = plane.shape
    hh, ww = h + (-h % mh), w + (-w % mw)
    if hh == h and ww == w:
        return plane
    out = np.empty((hh, ww), dtype=plane.dtype)
    out[:h, :w] = plane
    out[h:, :w] = plane[-1:, :]
    out[:h, w:] = plane[:, -1:]
    out[h:, w:] = plane[-1, -1]
    return out


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) uint8 plane (H, W multiples of 8) → (bh, bw, 64)
    quantized int64 coefficients in row-major block order (the writer
    applies the zigzag permutation)."""
    h, w = plane.shape
    bh, bw = h // 8, w // 8
    blocks = plane.astype(np.float64).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
    coefs = np.einsum("ux,ijxy,vy->ijuv", _A, blocks, _A)
    return np.round(coefs / q).astype(np.int64).reshape(bh, bw, 64)


def encode_jpeg_color(
    width: int,
    height: int,
    y: bytes,
    cb: bytes,
    cr: bytes,
    quant_y: np.ndarray | None = None,
    quant_c: np.ndarray | None = None,
    subsample: bool = True,
) -> bytes:
    """Baseline JFIF encode of full-resolution Y/Cb/Cr planes as a
    3-component interleaved scan — 4:2:0 (``subsample=True``, chroma
    box-averaged 2×2) or 4:4:4. Standard luma/chroma Huffman tables
    (written into DHT), two quant tables (default all-ones: exactly
    lossless for block-flat planes — the oracle-fixture contract shared
    with the grayscale path)."""
    if len(y) != width * height or len(cb) != width * height or len(cr) != width * height:
        raise ValueError("need full-resolution planes for all 3 components")
    qy = np.ones((8, 8), dtype=np.int64) if quant_y is None else np.asarray(quant_y, dtype=np.int64)
    qc = np.ones((8, 8), dtype=np.int64) if quant_c is None else np.asarray(quant_c, dtype=np.int64)

    yp = np.frombuffer(y, dtype=np.uint8).reshape(height, width)
    cbp = np.frombuffer(cb, dtype=np.uint8).reshape(height, width)
    crp = np.frombuffer(cr, dtype=np.uint8).reshape(height, width)

    if subsample:
        mcu_h = mcu_w = 16
        samp_y, samp_c = 0x22, 0x11
        yp = _pad_to(yp, 16, 16)
        # 2x2 box average in integer (round-half-up), then pad to 8s
        cpad = [_pad_to(p, 2, 2).astype(np.int64) for p in (cbp, crp)]
        cbp, crp = (
            _pad_to(
                (
                    (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2] + 2)
                    // 4
                ).astype(np.uint8),
                8,
                8,
            )
            for p in cpad
        )
    else:
        mcu_h = mcu_w = 8
        samp_y, samp_c = 0x11, 0x11
        yp = _pad_to(yp, 8, 8)
        cbp = _pad_to(cbp, 8, 8)
        crp = _pad_to(crp, 8, 8)

    zz_y = _fdct_quant(yp, qy)
    zz_cb = _fdct_quant(cbp, qc)
    zz_cr = _fdct_quant(crp, qc)

    mcus_y = (height + mcu_h - 1) // mcu_h
    mcus_x = (width + mcu_w - 1) // mcu_w

    # MCU-interleaved block sequence (T.81 §A.2.3) built by index
    # math, then the whole scan entropy-encoded in one vectorized pass.
    n_mcus = mcus_y * mcus_x
    myi = np.repeat(np.arange(mcus_y), mcus_x)
    mxi = np.tile(np.arange(mcus_x), mcus_y)
    yzz = zz_y.reshape(-1, 64)[:, ZIGZAG]
    cbzz = zz_cb.reshape(-1, 64)[:, ZIGZAG]
    crzz = zz_cr.reshape(-1, 64)[:, ZIGZAG]
    c_rows = myi * mcus_x + mxi
    if subsample:
        # per MCU: 4 luma blocks (vy, vx) = (0,0),(0,1),(1,0),(1,1)
        lum = (
            (2 * myi[:, None] + np.array([0, 0, 1, 1])) * (2 * mcus_x)
            + 2 * mxi[:, None]
            + np.array([0, 1, 0, 1])
        )
        idx = np.empty((n_mcus, 6), dtype=np.int64)
        idx[:, :4] = lum
        idx[:, 4] = yzz.shape[0] + c_rows
        idx[:, 5] = yzz.shape[0] + cbzz.shape[0] + c_rows
        comp_pat = [0, 0, 0, 0, 1, 2]
    else:
        idx = np.empty((n_mcus, 3), dtype=np.int64)
        idx[:, 0] = c_rows
        idx[:, 1] = yzz.shape[0] + c_rows
        idx[:, 2] = yzz.shape[0] + cbzz.shape[0] + c_rows
        comp_pat = [0, 1, 2]
    zz_seq = np.concatenate([yzz, cbzz, crzz])[idx.reshape(-1)]
    comp_seq = np.tile(np.array(comp_pat, dtype=np.int64), n_mcus)
    scan = _encode_scan(zz_seq, comp_seq, [_LUMA_T, _CHROMA_T, _CHROMA_T])

    def qtab(tid: int, q: np.ndarray) -> bytes:
        return bytes([tid]) + _dqt_bytes(q)

    out = bytearray(b"\xff\xd8")
    out += _segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(0xFFDB, qtab(0, qy) + qtab(1, qc))
    out += _segment(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp_y, 0])
        + bytes([2, samp_c, 1])
        + bytes([3, samp_c, 1]),
    )
    out += _segment(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALUES))
    out += _segment(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALUES))
    out += _segment(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALUES_C))
    out += _segment(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALUES_C))
    out += _segment(0xFFDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


@lru_cache(maxsize=2048)
def _color_flat_header(width: int, height: int) -> bytes:
    """Everything before the entropy-coded scan for the default-table
    4:2:0 color encode — constant across images of one (w, h), so the
    flat fast path below splices it instead of rebuilding segments."""
    ones = np.ones((8, 8), dtype=np.int64)
    out = bytearray(b"\xff\xd8")
    out += _segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(
        0xFFDB, bytes([0]) + _dqt_bytes(ones) + bytes([1]) + _dqt_bytes(ones)
    )
    out += _segment(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x22, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    out += _segment(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALUES))
    out += _segment(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALUES))
    out += _segment(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALUES_C))
    out += _segment(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALUES_C))
    out += _segment(
        0xFFDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    )
    return bytes(out)


def encode_jpeg_color_flat(width, height, yb, cbb, crb) -> bytes:
    """DC-only 4:2:0 encode for BLOCK-FLAT planes — the closed form of
    :func:`encode_jpeg_color` when every luma 8×8 block and every
    chroma MCU is one constant value (the oracle fixtures' shape): the
    FDCT of a constant block is a lone DC coefficient 8·(v−128) and
    every AC is zero, so the scan is [DC code, magnitude bits, EOB]
    per block with no transform at all. BYTE-IDENTICAL output to the
    generic encoder on such planes (A/B-pinned in the codec tests);
    ~15× cheaper on thumbnail fixtures, which matters because fixture
    synthesis was costing more than the decode being measured.

    ``yb``: padded luma block values, row-major (2·mcus_y × 2·mcus_x
    flat list); ``cbb``/``crb``: per-MCU chroma values (mcus_y ×
    mcus_x flat lists)."""
    mcus_x = (width + 15) // 16
    mcus_y = (height + 15) // 16
    dc_cl, dc_ll, ac_cl, ac_ll = _LUMA_T
    dc_cc, dc_lc, ac_cc, ac_lc = _CHROMA_T
    eob_l, eobl_l = ac_cl[0x00], ac_ll[0x00]
    eob_c, eobl_c = ac_cc[0x00], ac_lc[0x00]
    bw = 2 * mcus_x
    acc = 0
    nb = 0
    prev_y = prev_cb = prev_cr = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for vy in (0, 1):
                row = (2 * my + vy) * bw + 2 * mx
                for vx in (0, 1):
                    dc = 8 * (yb[row + vx] - 128)
                    diff = dc - prev_y
                    prev_y = dc
                    cat = (diff if diff >= 0 else -diff).bit_length()
                    acc = (acc << dc_ll[cat]) | dc_cl[cat]
                    nb += dc_ll[cat]
                    if cat:
                        acc = (acc << cat) | (
                            diff if diff >= 0 else diff + (1 << cat) - 1
                        )
                        nb += cat
                    acc = (acc << eobl_l) | eob_l
                    nb += eobl_l
            ci = my * mcus_x + mx
            for grid, prev in ((cbb, prev_cb), (crb, prev_cr)):
                dc = 8 * (grid[ci] - 128)
                diff = dc - prev
                if grid is cbb:
                    prev_cb = dc
                else:
                    prev_cr = dc
                cat = (diff if diff >= 0 else -diff).bit_length()
                acc = (acc << dc_lc[cat]) | dc_cc[cat]
                nb += dc_lc[cat]
                if cat:
                    acc = (acc << cat) | (
                        diff if diff >= 0 else diff + (1 << cat) - 1
                    )
                    nb += cat
                acc = (acc << eobl_c) | eob_c
                nb += eobl_c
    pad = -nb % 8
    acc = (acc << pad) | ((1 << pad) - 1)
    nb += pad
    scan = acc.to_bytes(nb // 8, "big").replace(b"\xff", b"\xff\x00")
    return _color_flat_header(width, height) + scan + b"\xff\xd9"


def _parse_color_frame(data: bytes) -> tuple:
    """Header walk shared by the scalar and batched color decoders:
    DQT/DHT/SOF0/SOS over a baseline 3-component interleaved JPEG.
    Returns ``(quant, huff, width, height, comps, scan_sel, scan_pos,
    hmax, vmax, mcus_x, mcus_y)``; raises ValueError outside the
    profile (progressive, 16-bit tables, restart intervals, component
    counts other than 3, sampling beyond 4:4:4 / 4:2:0)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    quant: dict = {}
    huff: dict = {}
    width = height = None
    comps: list = []  # (comp_id, h, v, tq)
    scan_sel: dict = {}
    scan_pos = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = (data[pos] << 8) | data[pos + 1]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xFFDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(body[p + 1 : p + 65], dtype=np.uint8).astype(np.int64)
                if len(zz) != 64:
                    raise ValueError("short DQT")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = zz
                quant[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xFFC4:
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                values = list(body[p + 17 : p + 17 + n])
                if len(values) != n:
                    raise ValueError("short DHT")
                huff[(tc, th)] = _decode_table(bits, values)
                p += 17 + n
        elif marker == 0xFFC0:
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp != 3:
                raise ValueError("decode_jpeg_color handles 8-bit 3-component only")
            for c in range(3):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7):
            raise ValueError("non-baseline frame type")
        elif marker == 0xFFDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xFFDA:
            if body[0] != 3:
                raise ValueError("expected 3-component scan")
            for c in range(3):
                cid, sel = body[1 + 2 * c], body[2 + 2 * c]
                scan_sel[cid] = (sel >> 4, sel & 0xF)
            scan_pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if width is None or scan_pos is None or len(comps) != 3:
        raise ValueError("missing SOF/SOS")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    supported = {(1, 1), (2, 2)}
    if (hmax, vmax) not in supported or any(
        (c[1], c[2]) not in ((hmax, vmax), (1, 1)) for c in comps
    ):
        raise ValueError("only 4:4:4 and 4:2:0 sampling supported")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (width + mcu_w - 1) // mcu_w
    mcus_y = (height + mcu_h - 1) // mcu_h
    return (quant, huff, width, height, comps, scan_sel, scan_pos,
            hmax, vmax, mcus_x, mcus_y)


def _walk_color_scan(
    data: bytes, scan_pos: int, comps: list, scan_sel: dict,
    huff: dict, mcus_x: int, mcus_y: int,
) -> tuple:
    """Entropy-decode the interleaved scan. Returns ``(rows, counts)``
    where ``rows`` is the COMPONENT-MAJOR flat list of per-block
    64-coefficient lists (zigzag order, DC differences resolved) and
    ``counts`` the per-component block counts. Per-component decode
    destinations are Python row lists (list stores beat numpy scalar
    stores in the per-coefficient loop); Huffman table pairs are
    resolved ONCE per component, not per block."""
    grid_rows: list = []
    comp_tables: list = []
    for cid, ch, cv, tq in comps:
        bw, bh = mcus_x * ch, mcus_y * cv
        grid_rows.append([None] * (bh * bw))
        dc_tbl = huff.get((0, scan_sel[cid][0]))
        ac_tbl = huff.get((1, scan_sel[cid][1]))
        if dc_tbl is None or ac_tbl is None:
            raise ValueError("missing DHT")
        comp_tables.append((dc_tbl, ac_tbl))

    r = _ScanReader(data, scan_pos)
    prev_dc = [0, 0, 0]

    def read_block(ci: int, bidx: int) -> None:
        dc_tbl, ac_tbl = comp_tables[ci]
        row = [0] * 64
        cat = r.read_code(dc_tbl)
        prev_dc[ci] += r.read_extend(cat)
        row[0] = prev_dc[ci]
        k = 1
        while k < 64:
            sym = r.read_code(ac_tbl)
            if sym == 0x00:
                break
            if sym == 0xF0:
                k += 16
                continue
            run, cat = sym >> 4, sym & 0xF
            k += run
            if k > 63 or cat == 0:
                raise ValueError("AC coefficient overruns block")
            row[k] = r.read_extend(cat)
            k += 1
        grid_rows[ci][bidx] = row

    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                bw = mcus_x * ch
                for vy in range(cv):
                    for vx in range(ch):
                        bidx = (my * cv + vy) * bw + mx * ch + vx
                        read_block(ci, bidx)

    counts = [len(rs) for rs in grid_rows]
    return [row for rs in grid_rows for row in rs], counts


def decode_jpeg_color(data: bytes) -> tuple:
    """Decode a baseline 3-component interleaved JPEG (4:2:0 or 4:4:4,
    one scan, no restart markers) from any conformant encoder of the
    profile. Returns ``(width, height, rgb_bytes)`` — interleaved RGB,
    produced by the fixed-point integer transform
    (:func:`ycbcr_to_rgb_int`), chroma upsampled by replication.
    Tables come from the file's own DQT/DHT; per-component quant and
    Huffman selectors from SOF0/SOS. Raises ValueError outside the
    profile (progressive, 16-bit tables, restart intervals, component
    counts other than 3)."""
    (quant, huff, width, height, comps, scan_sel, scan_pos,
     hmax, vmax, mcus_x, mcus_y) = _parse_color_frame(data)
    rows, counts = _walk_color_scan(
        data, scan_pos, comps, scan_sel, huff, mcus_x, mcus_y
    )

    # ONE batched IDCT + round/clip across all three components, as two
    # matmuls rather than a 3-operand einsum (einsum's un-optimized
    # C path cost ~130 µs of fixed overhead per call on thumbnail
    # batches). NOTE: einsum may contract in a different float order,
    # so the two spellings are NOT guaranteed bit-identical — the
    # matmul spelling IS the pinned decode behavior (the batched
    # stats decoder A/B-pins against THIS path in the codec tests).
    allg = np.array(rows, dtype=np.int64)
    coefs = np.zeros((len(allg), 64), dtype=np.float64)
    coefs[:, ZIGZAG] = allg
    coefs = coefs.reshape(-1, 8, 8)
    off = 0
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        q = quant.get(tq)
        if q is None:
            raise ValueError("missing DQT")
        coefs[off : off + counts[ci]] *= q
        off += counts[ci]
    pix_all = (_A.T @ coefs) @ _A + 128.0
    pix_all = np.clip(np.round(pix_all), 0, 255).astype(np.uint8)

    planes = []
    off = 0
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        bw, bh = mcus_x * ch, mcus_y * cv
        pix = pix_all[off : off + counts[ci]]
        off += counts[ci]
        full = pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        # upsample to luma resolution by replication, crop to image
        full = np.repeat(np.repeat(full, vmax // cv, axis=0), hmax // ch, axis=1)
        planes.append(full[:height, :width])

    r8, g8, b8 = ycbcr_to_rgb_int(*planes)
    rgb = np.stack([r8, g8, b8], axis=-1)
    return width, height, rgb.tobytes()


def decode_jpeg_color_stats_many(payloads) -> list:
    """Batched color decode for the analytics kernel: decode MANY
    independent JPEGs and return, per file, ``(width, height,
    px_count, r_sum, g_sum, b_sum, rgb_wsum)`` — or ``None`` for files
    outside the profile. ``rgb_wsum = Σ (i+1)·(65536·R + 256·G + B)``
    over raster order, pinning pixel order exactly like the scalar
    path.

    Why it exists: per-file, the full decode is DOMINATED by numpy
    fixed costs (dequant/IDCT/clip/upsample/YCbCr on thumbnail-sized
    arrays — ~70% of wall at sf0.1; the Huffman symbol walk is ~15%).
    This path keeps the per-file work to the header walk + the scalar
    entropy decode, then runs every numpy stage ONCE across the whole
    batch: one dequant (distinct quant tables de-duplicated and
    gathered per block), one two-matmul IDCT, one round/clip, and —
    instead of per-file upsample/crop/stack — a per-GEOMETRY-GROUP
    gather straight from block storage to raster order (the
    replication upsample is just index arithmetic), one YCbCr
    conversion and matrix-reduction sums per group. Integer sums are
    order-independent, and every float op (dequant multiply, matmul
    IDCT, round) is elementwise-identical to the scalar path, so
    results match :func:`decode_jpeg_color` exactly — A/B-pinned in
    the codec tests across geometries, samplings and random images."""
    n = len(payloads)
    results: list = [None] * n
    metas: list = []       # (fi, w, h, hmax, vmax, samp, counts, base)
    rows_all: list = []    # component-major 64-lists across all files
    qtabs: list = []       # distinct dequant tables (row-major 64)
    qkey: dict = {}
    qidx_runs: list = []   # (table_idx, n_blocks) run-length per comp
    base = 0
    for fi in range(n):
        try:
            data = bytes(payloads[fi])
            (quant, huff, width, height, comps, scan_sel, scan_pos,
             hmax, vmax, mcus_x, mcus_y) = _parse_color_frame(data)
            rows, counts = _walk_color_scan(
                data, scan_pos, comps, scan_sel, huff, mcus_x, mcus_y
            )
            qis = []
            for cid, ch, cv, tq in comps:
                q = quant.get(tq)
                if q is None:
                    raise ValueError("missing DQT")
                k = q.tobytes()
                if k not in qkey:
                    qkey[k] = len(qtabs)
                    qtabs.append(np.ascontiguousarray(q).reshape(64))
                qis.append(qkey[k])
        except Exception:
            continue  # results[fi] stays None — error row
        rows_all.extend(rows)
        for ci in range(3):
            qidx_runs.append((qis[ci], counts[ci]))
        metas.append((
            fi, width, height, hmax, vmax,
            tuple((c[1], c[2]) for c in comps), tuple(counts), base,
        ))
        base += sum(counts)
    if not metas:
        return results

    # One dequant + IDCT + round/clip over every block of every file.
    allg = np.array(rows_all, dtype=np.int64)
    coefs = np.zeros((len(allg), 64), dtype=np.float64)
    coefs[:, ZIGZAG] = allg
    qarr = np.stack(qtabs).astype(np.float64)
    qindex = np.repeat(
        np.array([t for t, _c in qidx_runs], dtype=np.int64),
        np.array([c for _t, c in qidx_runs], dtype=np.int64),
    )
    coefs *= qarr[qindex]
    pix = (_A.T @ coefs.reshape(-1, 8, 8)) @ _A + 128.0
    pixf = np.clip(np.round(pix), 0, 255).astype(np.uint8).reshape(-1)

    # Per geometry group: gather block storage → raster order for all
    # member files at once (rows = files), convert, reduce.
    groups: dict = {}
    for m in metas:
        groups.setdefault(m[1:7], []).append((m[0], m[7]))
    for (w, h, hmax, vmax, samp, counts), members in groups.items():
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        comp_off = (0, counts[0], counts[0] + counts[1])
        yy = np.arange(h, dtype=np.int64)[:, None]
        xx = np.arange(w, dtype=np.int64)[None, :]
        rel = []
        for ci, (ch, cv) in enumerate(samp):
            bw = mcus_x * ch
            cy = (yy * cv) // vmax
            cx = (xx * ch) // hmax
            r = (((cy >> 3) * bw + (cx >> 3)) + comp_off[ci]) * 64 \
                + (cy & 7) * 8 + (cx & 7)
            rel.append(r.ravel())
        bases = np.array([b for _fi, b in members], dtype=np.int64) * 64
        yv = pixf[bases[:, None] + rel[0][None, :]]
        cbv = pixf[bases[:, None] + rel[1][None, :]]
        crv = pixf[bases[:, None] + rel[2][None, :]]
        r8, g8, b8 = ycbcr_to_rgb_int(yv, cbv, crv)
        r64 = r8.astype(np.int64)
        g64 = g8.astype(np.int64)
        b64 = b8.astype(np.int64)
        packed = r64 * 65536 + g64 * 256 + b64
        li = np.arange(h * w, dtype=np.int64) + 1
        wsum = packed @ li
        rs, gs, bs = r64.sum(axis=1), g64.sum(axis=1), b64.sum(axis=1)
        for j, (fi, _b) in enumerate(members):
            results[fi] = (
                w, h, 3 * h * w,
                int(rs[j]), int(gs[j]), int(bs[j]), int(wsum[j]),
            )
    return results
