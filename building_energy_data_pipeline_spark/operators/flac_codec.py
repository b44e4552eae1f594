"""Pure-Python FLAC codec (public xiph.org FLAC format spec).

The FOURTH compression family to decode natively (deflate → PNG,
DCT+Huffman → JPEG, LZW → GIF, ADPCM → WAV, and now Rice-coded
linear prediction → FLAC): no libFLAC, no soundfile — stdlib
``struct`` for the metadata walk, a big-endian bit reader for the
frame layer, numpy for the predictor recursions. Because FLAC is
LOSSLESS, the driver oracle needs no subspace argument: decode of
encode is the input bit-for-bit on ANY samples (q259).

Scope (documented, spec-cited):

- **decode**: fLaC stream marker + metadata blocks (STREAMINFO
  parsed, others skipped), frames with fixed or variable blocking
  strategy, UTF-8-style frame/sample numbers, all block-size and
  sample-rate encodings (incl. end-of-header 8/16-bit forms),
  sample sizes 8/12/16/20/24 bits (+ STREAMINFO fallback), channel
  assignments: independent (1..8 channels), left/side, right/side,
  mid/side; subframe types CONSTANT, VERBATIM, FIXED (orders 0-4)
  and LPC (orders 1-32, quantized-coefficient precision 1-15 with
  negative-shift guard), wasted-bits run-length; residuals in
  4-bit (method 0) and 5-bit (method 1) Rice partitions including
  escape codes; CRC-8 frame-header and CRC-16 whole-frame
  verification (mismatch = ``ValueError``, the multimodal corrupt
  contract).
- **encode** (the self-test twin): 16-bit mono or stereo,
  fixed-blocking frames, per-frame best FIXED predictor order 0-4
  by absolute-residual sum, single-partition Rice residuals with a
  mean-based parameter estimate, optional mid/side decorrelation
  for stereo, correct CRCs and a fully-populated STREAMINFO
  (including the MD5 of the unencoded samples, which the decoder
  re-checks when present).

The compressed stream the encoder emits is real FLAC: a conformant
third-party decoder would read it — but none exists in this sandbox
(no libFLAC/soundfile, probe 2026-08-16), so the interop claim
rests on spec fidelity while the
correctness proof is the internal bit-exact round-trip plus the
format's own CRCs/MD5, which are independent cross-checks baked
into the container itself.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

#: FIXED-predictor residual formulas, order 0..4 (spec: prediction
#: polynomial coefficients — order-k residual is the k-th forward
#: difference of the signal)
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _make_crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (
                (crc << 1) & mask
            )
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8 with polynomial x^8 + x^2 + x + 1 (0x07), init 0
    (table-driven — CRC dominated the codec profile otherwise)."""
    crc = 0
    tab = _CRC8_TABLE
    for b in data:
        crc = tab[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16 with polynomial x^16 + x^15 + x^2 + 1 (0x8005),
    init 0, table-driven."""
    crc = 0
    tab = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ tab[(crc >> 8) ^ b]
    return crc


class _BEBitReader:
    """MSB-first bit reader over bytes, with byte-position access
    for the CRC spans."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position of the NEXT unread byte
        self.bitbuf = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            self.bitbuf = (self.bitbuf << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        self.bitbuf &= (1 << self.nbits) - 1
        return v

    def sbits(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway unary code in FLAC frame")
        return q

    def align(self) -> None:
        self.nbits -= self.nbits % 8
        self.bitbuf &= (1 << self.nbits) - 1


def _read_utf8_number(r: _BEBitReader, max_bytes: int) -> int:
    """The spec's UTF-8-style variable-length frame/sample number
    (extended to 7 bytes for sample numbers)."""
    b0 = r.bits(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > max_bytes - 1:
        raise ValueError(f"bad UTF-8-coded number lead byte {b0:#x}")
    v = b0 & (mask - 1)
    for _ in range(n):
        bx = r.bits(8)
        if bx & 0xC0 != 0x80:
            raise ValueError("bad UTF-8-coded number continuation")
        v = (v << 6) | (bx & 0x3F)
    return v


_BLOCKSIZE_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BITS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def _decode_residual(r: _BEBitReader, n: int, order: int) -> np.ndarray:
    """Rice-partitioned residual (both coding methods)."""
    method = r.bits(2)
    if method > 1:
        raise ValueError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.bits(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError(
            f"block size {n} not divisible into {nparts} partitions"
        )
    out = np.zeros(n, dtype=np.int64)
    idx = order
    for p in range(nparts):
        count = n // nparts - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("residual partition underflow")
        param = r.bits(plen)
        if param == escape:
            raw = r.bits(5)
            for _ in range(count):
                out[idx] = r.sbits(raw) if raw else 0
                idx += 1
        else:
            for _ in range(count):
                q = r.unary()
                folded = (q << param) | r.bits(param)
                out[idx] = (
                    -(folded >> 1) - 1 if folded & 1 else folded >> 1
                )
                idx += 1
    return out


def _decode_subframe(
    r: _BEBitReader, n: int, bits_per_sample: int
) -> np.ndarray:
    pad = r.bits(1)
    if pad:
        raise ValueError("subframe header padding bit set")
    stype = r.bits(6)
    wasted = 0
    if r.bits(1):  # wasted-bits flag: unary count - 1 follows
        wasted = r.unary() + 1
    eff = bits_per_sample - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = r.sbits(eff)
        out = np.full(n, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        out = np.fromiter(
            (r.sbits(eff) for _ in range(n)), dtype=np.int64, count=n
        )
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [r.sbits(eff) for _ in range(order)]
        res = _decode_residual(r, n, order)
        out = res
        out[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, n):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out[i] += pred
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 0x1F) + 1
        warm = [r.sbits(eff) for _ in range(order)]
        prec = r.bits(4)
        if prec == 15:
            raise ValueError("invalid LPC precision escape")
        prec += 1
        shift = r.sbits(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.sbits(prec) for _ in range(order)]
        res = _decode_residual(r, n, order)
        out = res
        out[:order] = warm
        for i in range(order, n):
            acc = 0
            for j in range(order):
                acc += coefs[j] * int(out[i - 1 - j])
            out[i] += acc >> shift
    else:
        raise ValueError(f"reserved subframe type {stype}")
    if wasted:
        out = out << wasted
    return out


def decode_flac(content: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a FLAC stream to ``((n_samples, channels) int32,
    sample_rate, bits_per_sample)``. Verifies frame-header CRC-8,
    frame CRC-16, and — when STREAMINFO carries a nonzero MD5 —
    the MD5 of the decoded samples."""
    if content[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    si = None
    while True:
        if pos + 4 > len(content):
            raise ValueError("truncated FLAC metadata")
        hdr = content[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(content[pos + 1 : pos + 4], "big")
        body = content[pos + 4 : pos + 4 + size]
        if len(body) < size:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("short STREAMINFO")
            raw = int.from_bytes(body[10:18], "big")
            si = {
                "rate": raw >> 44 & 0xFFFFF,
                "channels": (raw >> 41 & 0x7) + 1,
                "bits": (raw >> 36 & 0x1F) + 1,
                "total": raw & 0xFFFFFFFFF,
                "md5": body[18:34],
            }
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type 127")
        pos += 4 + size
        if last:
            break
    if si is None:
        raise ValueError("FLAC stream missing STREAMINFO")

    channels_out: list[list[np.ndarray]] = []
    while pos < len(content):
        frame_start = pos
        r = _BEBitReader(content, pos)
        sync = r.bits(14)
        if sync != 0x3FFE:
            raise ValueError(
                f"bad frame sync 0x{sync:04x} at byte {frame_start}"
            )
        if r.bits(1):
            raise ValueError("reserved bit set in frame header")
        r.bits(1)  # blocking strategy (number semantics only)
        bs_code = r.bits(4)
        rate_code = r.bits(4)
        chan_code = r.bits(4)
        bits_code = r.bits(3)
        if r.bits(1):
            raise ValueError("reserved bit set in frame header")
        _read_utf8_number(r, 7)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            n = r.bits(8) + 1
        elif bs_code == 7:
            n = r.bits(16) + 1
        else:
            n = _BLOCKSIZE_TABLE[bs_code]
        if rate_code == 12:
            r.bits(8)
        elif rate_code in (13, 14):
            r.bits(16)
        elif rate_code == 15:
            raise ValueError("invalid sample rate code 15")
        if bits_code == 0:
            bps = si["bits"]
        elif bits_code in _BITS_TABLE:
            bps = _BITS_TABLE[bits_code]
        else:
            raise ValueError(f"reserved sample size code {bits_code}")
        crc8 = r.bits(8)
        if _crc8(content[frame_start : r.pos - 1]) != crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if chan_code < 8:
            nch = chan_code + 1
            subs = []
            for c in range(nch):
                subs.append(_decode_subframe(r, n, bps))
        elif chan_code in (8, 9, 10):
            # stereo decorrelation: the DIFFERENCE channel carries
            # one extra bit
            if chan_code == 8:  # left/side
                left = _decode_subframe(r, n, bps)
                side = _decode_subframe(r, n, bps + 1)
                subs = [left, left - side]
            elif chan_code == 9:  # right/side
                side = _decode_subframe(r, n, bps + 1)
                right = _decode_subframe(r, n, bps)
                subs = [right + side, right]
            else:  # mid/side
                mid = _decode_subframe(r, n, bps)
                side = _decode_subframe(r, n, bps + 1)
                left = (
                    ((mid << 1) | (side & 1)) + side
                ) >> 1
                subs = [left, left - side]
            nch = 2
        else:
            raise ValueError(
                f"reserved channel assignment {chan_code}"
            )
        r.align()
        crc16 = r.bits(16)
        if _crc16(content[frame_start : r.pos - 2]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = r.pos
        channels_out.append(subs)

    if not channels_out:
        raise ValueError("FLAC stream has no frames")
    nch = len(channels_out[0])
    if any(len(f) != nch for f in channels_out):
        raise ValueError("inconsistent channel count across frames")
    planes = [
        np.concatenate([f[c] for f in channels_out]) for c in range(nch)
    ]
    out = np.stack(planes, axis=-1).astype(np.int32)
    if si["total"] and len(out) != si["total"]:
        raise ValueError(
            f"decoded {len(out)} samples, STREAMINFO declares "
            f"{si['total']}"
        )
    if si["md5"] != b"\x00" * 16:
        if _samples_md5(out, si["bits"]) != si["md5"]:
            raise ValueError("FLAC MD5 signature mismatch")
    return out, si["rate"], si["bits"]


def _samples_md5(samples: np.ndarray, bits: int) -> bytes:
    """The STREAMINFO MD5: interleaved little-endian samples at
    their native width (16-bit here; the encoder's scope)."""
    width = (bits + 7) // 8
    if width == 2:
        return hashlib.md5(
            samples.astype("<i2").tobytes()
        ).digest()
    raw = bytearray()
    for v in samples.flatten():
        raw += int(v).to_bytes(width, "little", signed=True)
    return hashlib.md5(bytes(raw)).digest()


class _BEBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bitbuf = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.bitbuf = (self.bitbuf << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.bitbuf >> self.nbits) & 0xFF)
        self.bitbuf &= (1 << self.nbits) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _write_utf8_number(w: _BEBitWriter, v: int) -> None:
    if v < 0x80:
        w.write(v, 8)
        return
    chunks = []
    nbits = v.bit_length()
    n = 1
    while nbits > 6 - n + 5 * n:  # capacity of an n-continuation form
        n += 1
    for i in range(n):
        chunks.append(0x80 | ((v >> (6 * (n - 1 - i))) & 0x3F))
    lead_bits = 6 - n
    lead = (0xFF << (lead_bits + 1)) & 0xFF | (
        (v >> (6 * n)) & ((1 << lead_bits) - 1)
    )
    w.write(lead, 8)
    for c in chunks:
        w.write(c, 8)


def _best_fixed_order(x: np.ndarray) -> int:
    best, best_cost = 0, None
    d = x.astype(np.int64)
    for order in range(5):
        if order > len(x) - 1 and order > 0:
            break
        cost = np.abs(d).sum()
        if best_cost is None or cost < best_cost:
            best, best_cost = order, cost
        d = np.diff(d)
        if len(d) == 0:
            break
    return best


def _rice_param(res: np.ndarray) -> int:
    if len(res) == 0:
        return 0
    mean = np.abs(res).mean()
    k = 0
    while (1 << k) < mean + 1 and k < 14:
        k += 1
    return k


def _encode_subframe(
    w: _BEBitWriter, x: np.ndarray, bps: int
) -> None:
    x = x.astype(np.int64)
    n = len(x)
    if n and (x == x[0]).all():
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(int(x[0]), bps)
        return
    order = _best_fixed_order(x)
    res = x.copy()
    for _ in range(order):
        res = np.diff(res)
    w.write(0, 1)
    w.write(8 + order, 6)  # FIXED
    w.write(0, 1)  # no wasted bits
    for i in range(order):
        w.write(int(x[i]), bps)
    # residual: method 0 (4-bit Rice), one partition
    w.write(0, 2)
    w.write(0, 4)  # partition order 0
    param = _rice_param(res)
    w.write(param, 4)
    for v in res:
        v = int(v)
        folded = (v << 1) ^ (v >> 63)  # zigzag
        w.unary(folded >> param)
        w.write(folded & ((1 << param) - 1), param)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 16000,
    block_size: int = 1024,
    mid_side: bool = True,
) -> bytes:
    """Encode ``(n,)`` or ``(n, 1|2)`` int16 samples to a REAL FLAC
    stream: fixed-blocking frames, per-frame best FIXED predictor,
    single-partition Rice residuals, optional mid/side stereo
    decorrelation, CRC-8/CRC-16, and a full STREAMINFO including
    the sample MD5. Lossless: :func:`decode_flac` returns the input
    bit-for-bit."""
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    if samples.ndim != 2 or samples.shape[1] not in (1, 2):
        raise ValueError(
            f"expected (n,) or (n, 1|2) samples, got {samples.shape}"
        )
    if samples.dtype != np.int16:
        raise ValueError(f"expected int16 samples, got {samples.dtype}")
    if len(samples) == 0:
        raise ValueError("cannot encode an empty stream")
    if not 16 <= block_size <= 32768:
        raise ValueError(f"block size {block_size} out of range")
    n_total, nch = samples.shape
    bps = 16

    frames = bytearray()
    frame_no = 0
    for start in range(0, n_total, block_size):
        blk = samples[start : start + block_size].astype(np.int64)
        n = len(blk)
        w = _BEBitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking: number is the frame index
        w.write(7, 4)  # block size: 16-bit at end of header
        w.write(0, 4)  # sample rate: STREAMINFO
        use_ms = mid_side and nch == 2
        if use_ms:
            w.write(10, 4)  # mid/side
        else:
            w.write(nch - 1, 4)
        w.write(4, 3)  # 16 bits per sample
        w.write(0, 1)
        _write_utf8_number(w, frame_no)
        w.write(n - 1, 16)
        w.align()
        hdr = bytes(w.out)
        w.write(_crc8(hdr), 8)
        if use_ms:
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            mid = (left + right) >> 1
            _encode_subframe(w, mid, bps)
            _encode_subframe(w, side, bps + 1)
        else:
            for c in range(nch):
                _encode_subframe(w, blk[:, c], bps)
        w.align()
        body = bytes(w.out)
        w.write(_crc16(body), 16)
        frames += w.out
        frame_no += 1

    info = bytearray()
    # STREAMINFO min/max block size: both the nominal block size —
    # the spec allows the LAST frame to be shorter than min_blocksize
    # without reflecting that here, and min <= max with min >= 16 must
    # hold for a conformant third-party decoder (ADVICE r10 #1: the
    # previous min(block_size, n_total) max field went below min — and
    # below 16 — whenever n_total < block_size).
    info += struct.pack(">HH", block_size, block_size)
    info += (0).to_bytes(3, "big") * 2  # min/max frame size unknown
    packed = (
        (sample_rate << 44)
        | ((nch - 1) << 41)
        | ((bps - 1) << 36)
        | n_total
    )
    info += packed.to_bytes(8, "big")
    info += _samples_md5(samples, bps)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info
    out += frames
    return bytes(out)
