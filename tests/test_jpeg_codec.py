"""Baseline JPEG codec tests (``operators/jpeg_codec.py``) — the
second compressed container on the real decode path: spec-table
checks, exact round-trips on the DC-only subspace, lossy-path
tolerance, marker/variant/corruption contracts, the distributed
mapInPandas path, and hypothesis fuzz.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from building_energy_data_pipeline_spark.operators import jpeg_codec as jc
from building_energy_data_pipeline_spark.operators.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
)

#: ITU-T T.81 figure A.6 zigzag sequence (flattened natural indices),
#: transcribed independently from the spec — pins the generated order
SPEC_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _block_flat_gray(mid: int, h: int, w: int) -> np.ndarray:
    """The q254 pattern: every 8x8 block flat, every value even."""
    y, x = np.ogrid[0:h, 0:w]
    return (2 * ((mid * 7 + (y // 8) * 5 + (x // 8) * 3) % 128)).astype(
        np.uint8
    )


class TestSpecTables:
    def test_zigzag_matches_spec_figure(self):
        assert list(jc.ZIGZAG_FLAT) == SPEC_ZIGZAG

    def test_quality_scaling_identity_at_50(self):
        assert np.array_equal(
            jc.scale_quant_table(jc.QUANT_LUMA, 50), jc.QUANT_LUMA
        )
        # IJG endpoints: Q100 -> all ones, Q25 -> 2x (clipped 255)
        assert (jc.scale_quant_table(jc.QUANT_LUMA, 100) == 1).all()
        assert np.array_equal(
            jc.scale_quant_table(jc.QUANT_LUMA, 25),
            np.clip(jc.QUANT_LUMA * 2, 1, 255),
        )
        with pytest.raises(ValueError):
            jc.scale_quant_table(jc.QUANT_LUMA, 0)

    def test_huffman_tables_are_prefix_complete(self):
        for bits, vals in (
            (jc.DC_LUMA_BITS, jc.DC_LUMA_VALS),
            (jc.DC_CHROMA_BITS, jc.DC_CHROMA_VALS),
            (jc.AC_LUMA_BITS, jc.AC_LUMA_VALS),
            (jc.AC_CHROMA_BITS, jc.AC_CHROMA_VALS),
        ):
            assert sum(bits) == len(vals)
            codes = jc._build_codes(bits, vals)
            # Kraft sum < 1 (JPEG reserves the all-ones codes)
            assert sum(2.0 ** -length for _, length in codes.values()) < 1
            # no code is a prefix of another
            as_strings = sorted(
                format(c, f"0{n}b") for c, n in codes.values()
            )
            for a, b in zip(as_strings, as_strings[1:]):
                assert not b.startswith(a)


class TestExactRoundTrip:
    """The DC-only lossless subspace the q254 oracle lives on."""

    def test_flat_even_gray_exact(self):
        arr = np.full((16, 24), 100, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(arr, 50))
        assert dec.shape == (16, 24, 3)
        assert (dec == 100).all()  # gray replicated across channels

    def test_block_flat_pattern_exact_odd_dims(self):
        for mid, h, w in ((7, 26, 29), (0, 8, 8), (123, 31, 9)):
            arr = _block_flat_gray(mid, h, w)
            dec = decode_jpeg(encode_jpeg(arr, 50))
            assert dec.shape == (h, w, 3)
            assert (dec[..., 0] == arr).all()
            assert (dec[..., 1] == arr).all()

    def test_restart_markers_do_not_change_pixels(self):
        arr = ((np.arange(32 * 32) * 37) % 256).astype(np.uint8).reshape(
            32, 32
        )
        plain = encode_jpeg(arr, 75)
        rst = encode_jpeg(arr, 75, restart_interval=2)
        assert any(
            bytes([0xFF, 0xD0 + i]) in rst for i in range(8)
        )
        assert np.array_equal(decode_jpeg(plain), decode_jpeg(rst))


class TestLossyTolerance:
    def test_flat_color_within_one(self):
        rgb = np.stack(
            [np.full((25, 19), 120), np.full((25, 19), 64),
             np.full((25, 19), 30)],
            axis=-1,
        ).astype(np.uint8)
        for sub in ("444", "420"):
            dec = decode_jpeg(encode_jpeg(rgb, 95, subsampling=sub))
            assert dec.shape == rgb.shape
            assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 2

    def test_smooth_gradient_q90_close(self):
        y, x = np.mgrid[0:40, 0:36]
        rgb = np.stack(
            [(y * 2) % 256, (x * 2) % 256, ((y + x)) % 256], axis=-1
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(rgb, 90))
        err = np.abs(dec.astype(int) - rgb.astype(int))
        assert err.mean() < 12  # smooth content, high quality

    def test_420_with_restart_odd_dims(self):
        y, x = np.mgrid[0:25, 0:21]
        rgb = np.stack(
            [(y * 3) % 256, (x * 3) % 256, np.full_like(y, 50)], axis=-1
        ).astype(np.uint8)
        dec = decode_jpeg(
            encode_jpeg(rgb, 90, subsampling="420", restart_interval=1)
        )
        assert dec.shape == (25, 21, 3)


class TestMarkerStructure:
    def test_stream_markers(self):
        enc = encode_jpeg(np.full((8, 8), 50, dtype=np.uint8), 50)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        assert b"JFIF\x00" in enc
        for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
            assert marker in enc

    def test_sixteen_bit_dqt_parses(self):
        """Hand-built stream with Pq=1 (16-bit quant table): an 8x8
        flat gray block, table value 16 everywhere — exercises the
        DQT precision branch the encoder never emits."""
        writer = jc._BitWriter()
        dc = jc._build_codes(jc.DC_LUMA_BITS, jc.DC_LUMA_VALS)
        ac = jc._build_codes(jc.AC_LUMA_BITS, jc.AC_LUMA_VALS)
        # flat v=100: DC = 8*(100-128)/16 = -14 -> category 4
        diff = -14
        size = diff.bit_length()
        code, length = dc[size]
        writer.write(code, length)
        writer.write((diff + (1 << size) - 1) & ((1 << size) - 1), size)
        code, length = ac[0x00]  # EOB
        writer.write(code, length)
        entropy = writer.flush()

        dqt = b"\x11" + b"".join(  # Pq=1 (16-bit), Tq=1
            struct.pack(">H", 16) for _ in range(64)
        )
        sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 1])
        dht0 = bytes([0x00]) + bytes(jc.DC_LUMA_BITS) + bytes(
            jc.DC_LUMA_VALS
        )
        dht1 = bytes([0x10]) + bytes(jc.AC_LUMA_BITS) + bytes(
            jc.AC_LUMA_VALS
        )
        sos = bytes([1, 1, 0x00, 0, 63, 0])

        def seg(marker: bytes, body: bytes) -> bytes:
            return marker + struct.pack(">H", 2 + len(body)) + body

        stream = (
            b"\xff\xd8"
            + seg(b"\xff\xdb", dqt)
            + seg(b"\xff\xc0", sof)
            + seg(b"\xff\xc4", dht0)
            + seg(b"\xff\xc4", dht1)
            + seg(b"\xff\xda", sos)
            + entropy
            + b"\xff\xd9"
        )
        dec = decode_jpeg(stream)
        assert dec.shape == (8, 8, 3)
        assert (dec == 100).all()


class TestVariantAndCorruptionContract:
    """NotImplementedError = unsupported spec feature;
    ValueError = corrupt payload (the multimodal gate contract)."""

    def _enc(self) -> bytes:
        return encode_jpeg(np.full((8, 8), 100, dtype=np.uint8), 50)

    def test_remaining_sof_modes_gated(self):
        """Only SOF0/SOF1/SOF2 Huffman frames decode: the differential
        family (SOF5-7, SOF13-15), lossless (SOF3), arithmetic coding
        (SOF9/10/11) and hierarchical streams (DHP) are unsupported
        spec features — NotImplementedError, never ValueError and
        never pixels."""
        for sof in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            enc = bytearray(self._enc())
            enc[enc.index(b"\xff\xc0") + 1] = sof
            with pytest.raises(
                NotImplementedError, match="differential|hierarch"
            ):
                decode_jpeg(bytes(enc))
        for sof, name in (
            (0xC3, "lossless"),
            (0xC9, "arithmetic"),
            (0xCA, "arithmetic"),
            (0xCB, "arithmetic"),
        ):
            enc = bytearray(self._enc())
            enc[enc.index(b"\xff\xc0") + 1] = sof
            with pytest.raises(NotImplementedError, match=name):
                decode_jpeg(bytes(enc))
        # DHP (0xDE) ahead of the frame: same SOF-shaped body,
        # announces a hierarchical stream
        enc = bytearray(self._enc())
        sof = enc.index(b"\xff\xc0")
        seglen = struct.unpack(">H", enc[sof + 2 : sof + 4])[0]
        dhp = b"\xff\xde" + bytes(enc[sof + 2 : sof + 2 + seglen])
        with pytest.raises(NotImplementedError, match="hierarch"):
            decode_jpeg(bytes(enc[:sof]) + dhp + bytes(enc[sof:]))

    def test_twelve_bit_precision_gated(self):
        """8-bit samples only: 12-bit under SOF0 (illegal) and under
        SOF1/SOF2 (extended/progressive 12-bit) is unsupported."""
        for sof in (0xC0, 0xC1, 0xC2):
            enc = bytearray(self._enc())
            i = enc.index(b"\xff\xc0")
            enc[i + 1] = sof
            enc[i + 4] = 12
            with pytest.raises(NotImplementedError, match="12-bit"):
                decode_jpeg(bytes(enc))

    def test_large_sampling_factor_gated(self):
        enc = bytearray(self._enc())
        # marker(2) len(2) prec(1) h(2) w(2) ncomp(1) cid(1) -> hv at +11
        enc[enc.index(b"\xff\xc0") + 11] = 0x33
        with pytest.raises(NotImplementedError, match="sampling"):
            decode_jpeg(bytes(enc))

    def test_single_component_scan_is_non_interleaved(self):
        """Spec A.2.2: a one-component scan uses ONE block per MCU on
        the component's own grid, IGNORING declared sampling factors
        — a foreign gray JPEG declaring 2x2 sampling must decode
        identically to the 1x1 stream (the entropy data is the
        same block sequence either way)."""
        arr = ((np.arange(24 * 17) * 37) % 256).astype(
            np.uint8
        ).reshape(24, 17)
        enc = bytearray(encode_jpeg(arr, 75, restart_interval=2))
        base = decode_jpeg(bytes(enc))
        enc[enc.index(b"\xff\xc0") + 11] = 0x22  # declare 2x2
        assert np.array_equal(decode_jpeg(bytes(enc)), base)

    def test_incomplete_multi_scan_frame_is_corrupt(self):
        """Non-interleaved scans became SUPPORTED (round 10,
        TestNonInterleavedSequential); the corruption contract now:
        a frame whose EOI arrives before every component has been
        scanned is ValueError (here: an interleaved stream rewritten
        into a single Y-only scan — Cb/Cr never arrive)."""
        rgb = np.zeros((8, 8, 3), dtype=np.uint8)
        enc = bytearray(encode_jpeg(rgb, 75))
        sos = enc.index(b"\xff\xda")
        new_sos = bytes(
            [0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 63, 0]
        )
        patched = bytes(enc[:sos]) + new_sos + bytes(enc[sos + 12:])
        with pytest.raises(ValueError):
            decode_jpeg(patched)

    def test_corruption_is_valueerror(self):
        enc = self._enc()
        with pytest.raises(ValueError):
            decode_jpeg(b"\x00\x01")  # no SOI
        with pytest.raises(ValueError):
            decode_jpeg(enc[:20])  # truncated mid-segment
        with pytest.raises(ValueError):
            # EOI immediately after SOI: no scan
            decode_jpeg(b"\xff\xd8\xff\xd9")
        # entropy stream truncated: chop before EOI
        with pytest.raises(ValueError):
            decode_jpeg(enc[:-8])

    def test_decode_image_sniffs_jpeg(self):
        from building_energy_data_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        arr = _block_flat_gray(3, 16, 16)
        dec = decode_image(encode_jpeg(arr, 50), use_real_codec=True)
        assert (dec[..., 0] == arr).all()

    def test_decode_image_chains_native_failure(self):
        """Corrupt payload with a JPEG magic: the PIL-absent gate must
        chain the native ValueError, not claim a missing codec
        (ADVICE r8 contract, extended to JPEG)."""
        from building_energy_data_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        pytest.importorskip  # noqa: B018 — PIL may exist someday
        try:
            import PIL  # noqa: F401

            pytest.skip("PIL present: fall-through decodes instead")
        except ImportError:
            pass
        with pytest.raises(NotImplementedError) as exc_info:
            decode_image(b"\xff\xd8\xff\xe0garbage", use_real_codec=True)
        assert isinstance(exc_info.value.__cause__, ValueError)

    def test_encoder_input_validation(self):
        with pytest.raises(ValueError, match="uint8"):
            encode_jpeg(np.zeros((8, 8), dtype=np.int32))
        with pytest.raises(ValueError, match="expected"):
            encode_jpeg(np.zeros((8, 8, 4), dtype=np.uint8))
        with pytest.raises(ValueError, match="subsampling"):
            encode_jpeg(
                np.zeros((8, 8, 3), dtype=np.uint8), subsampling="422"
            )
        with pytest.raises(ValueError, match="dimensions"):
            encode_jpeg(np.zeros((0, 8), dtype=np.uint8))


class TestHypothesisFuzz:
    @settings(max_examples=25, deadline=None)
    @given(
        mid=st.integers(0, 10_000),
        h=st.integers(1, 40),
        w=st.integers(1, 40),
    )
    def test_block_flat_even_gray_always_exact(self, mid, h, w):
        arr = _block_flat_gray(mid, h, w)
        dec = decode_jpeg(encode_jpeg(arr, 50))
        assert dec.shape == (h, w, 3)
        assert (dec[..., 0] == arr).all()

    @settings(max_examples=20, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        h=st.integers(1, 33),
        w=st.integers(1, 33),
        quality=st.sampled_from([30, 50, 75, 90]),
        channels=st.sampled_from(["gray", "444", "420"]),
        rst=st.sampled_from([0, 1, 3]),
    )
    def test_arbitrary_content_decodes_with_correct_shape(
        self, seed, h, w, quality, channels, rst
    ):
        rng = np.random.default_rng(seed)
        if channels == "gray":
            arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
            enc = encode_jpeg(arr, quality, restart_interval=rst)
        else:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            enc = encode_jpeg(
                arr, quality, subsampling=channels, restart_interval=rst
            )
        dec = decode_jpeg(enc)
        assert dec.shape == (h, w, 3)
        assert dec.dtype == np.uint8

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        nblocks_y=st.integers(1, 4),
        nblocks_x=st.integers(1, 4),
    )
    def test_random_even_block_mosaic_exact(
        self, seed, nblocks_y, nblocks_x
    ):
        """ANY block-flat even-valued gray image is on the lossless
        subspace — not just the q254 formula's."""
        rng = np.random.default_rng(seed)
        blocks = rng.integers(0, 128, (nblocks_y, nblocks_x)) * 2
        arr = np.repeat(
            np.repeat(blocks, 8, axis=0), 8, axis=1
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(arr, 50))
        assert (dec[..., 0] == arr).all()


@pytest.mark.usefixtures("spark")
class TestDistributed:
    def test_channel_sums_over_jpeg_payloads(self, spark):
        """The q254 shape: encode in one mapInPandas stage, decode
        via image_channel_sums(use_real_codec=True) in the next,
        compare against locally computed sums."""
        import pandas as pd

        from building_energy_data_pipeline_spark.operators.multimodal import (
            image_channel_sums,
        )

        metas = [(i, 8 + (i % 5) * 6, 8 + (i % 4) * 7) for i in range(12)]
        expected = {}
        rows = []
        for mid, h, w in metas:
            arr = _block_flat_gray(mid, h, w)
            expected[mid] = int(arr.sum())
            rows.append((mid, bytearray(encode_jpeg(arr, 50))))
        df = spark.createDataFrame(
            rows, "media_id long, content binary"
        ).repartition(4)
        got = {
            r["media_id"]: (r["sum_r"], r["sum_g"], r["sum_b"])
            for r in image_channel_sums(df, use_real_codec=True).collect()
        }
        assert set(got) == set(expected)
        for mid, (sr, sg, sb) in got.items():
            assert sr == sg == sb == expected[mid]


class TestProgressive:
    """Progressive (SOF2) decode — spectral selection proven by
    cross-layout equality against the baseline path (same quantized
    coefficients, different entropy layout: any deviation shows as a
    pixel diff), successive approximation pinned by hand-built
    streams with hand-computed expected coefficients (no
    encoder/decoder mutual-inverse blind spot)."""

    def test_cross_layout_equality_gray_and_color(self):
        for seed in range(8):
            rng = np.random.default_rng(seed)
            h, w = int(rng.integers(1, 41)), int(rng.integers(1, 41))
            q = int(rng.choice([30, 50, 75, 90]))
            arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
            assert np.array_equal(
                decode_jpeg(encode_jpeg(arr, q)),
                decode_jpeg(jc.encode_jpeg_progressive(arr, q)),
            ), (seed, h, w, q)
        rng = np.random.default_rng(99)
        rgb = rng.integers(0, 256, (19, 23, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(rgb, 75)),
            decode_jpeg(jc.encode_jpeg_progressive(rgb, 75)),
        )

    def test_eobrun_spans_blocks(self):
        """A flat 64x64 image leaves every AC band empty — the
        encoder emits one EOBn symbol covering all 64 blocks, so the
        decoder's EOBRUN>1 bookkeeping is on the line."""
        arr = np.full((64, 64), 100, dtype=np.uint8)
        d = decode_jpeg(jc.encode_jpeg_progressive(arr, 50))
        assert (d == 100).all()

    def test_many_band_split(self):
        arr = ((np.arange(40 * 24) * 37) % 256).astype(
            np.uint8
        ).reshape(40, 24)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(arr, 85)),
            decode_jpeg(jc.encode_jpeg_progressive(
                arr, 85, bands=((1, 1), (2, 9), (10, 35), (36, 63))
            )),
        )

    # -- hand-built successive-approximation streams -----------------

    @staticmethod
    def _headers(gray_qtable) -> bytes:
        import struct

        def seg(marker, body):
            return marker + struct.pack(">H", 2 + len(body)) + body

        dqt = b"\x00" + bytes(
            int(v) for v in gray_qtable.flatten()[jc.ZIGZAG_FLAT]
        )
        sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        dht_dc = bytes([0x00]) + bytes(jc.DC_LUMA_BITS) + bytes(
            jc.DC_LUMA_VALS
        )
        ac_bits, ac_vals = jc._progressive_ac_table()
        dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
        return (
            b"\xff\xd8"
            + seg(b"\xff\xdb", dqt)
            + seg(b"\xff\xc2", sof)
            + seg(b"\xff\xc4", dht_dc)
            + seg(b"\xff\xc4", dht_ac)
        )

    @staticmethod
    def _sos(ss, se, ah, al) -> bytes:
        import struct

        body = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    def test_dc_successive_approximation_hand_built(self):
        """v=102 flat gray at q50: true DC = -13. First scan at Al=1
        sends -13 >> 1 = -7 (stored as -14); the refinement bit is
        -13 & 1 = 1, restoring -13 exactly. Decoded image must be
        flat 102."""
        ql = jc.scale_quant_table(jc.QUANT_LUMA, 50)
        dc = jc._build_codes(jc.DC_LUMA_BITS, jc.DC_LUMA_VALS)

        w1 = jc._BitWriter()
        size = 3  # category of -7
        code, length = dc[size]
        w1.write(code, length)
        w1.write((-7 + (1 << size) - 1) & ((1 << size) - 1), size)
        scan1 = self._sos(0, 0, 0, 1) + w1.flush()

        w2 = jc._BitWriter()
        w2.write(1, 1)  # the refinement bit
        scan2 = self._sos(0, 0, 1, 0) + w2.flush()

        stream = self._headers(ql) + scan1 + scan2 + b"\xff\xd9"
        d = decode_jpeg(stream)
        assert d.shape == (8, 8, 3)
        assert (d == 102).all()

    def test_ac_successive_approximation_hand_built(self):
        """One 8x8 block, true zigzag coefs k1=5, k3=1, k5=-2.
        First AC scan at Al=1 carries 5//2=2 and -2//2=-1 (k3's
        magnitude vanishes); the Al=0 refinement inserts k3=+1 via a
        (run=1,size=1) symbol, corrects k1 4->5 with a correction
        bit, and leaves k5 at -2 via the EOB-run tail. Every bit
        hand-derived from spec G.1.2.3."""
        ql = jc.scale_quant_table(jc.QUANT_LUMA, 50)
        dc = jc._build_codes(jc.DC_LUMA_BITS, jc.DC_LUMA_VALS)
        ac_bits, ac_vals = jc._progressive_ac_table()
        ac = jc._build_codes(ac_bits, ac_vals)

        # scan 1: DC first, Al=0, DC=0 -> category 0 only
        w = jc._BitWriter()
        code, length = dc[0]
        w.write(code, length)
        dc_scan = self._sos(0, 0, 0, 0) + w.flush()

        # scan 2: AC first, band 1..63, Al=1: k1=2, skip 3, k5=-1, EOB
        w = jc._BitWriter()
        code, length = ac[(0 << 4) | 2]  # r=0, size 2 -> value 2
        w.write(code, length)
        w.write(2, 2)
        code, length = ac[(3 << 4) | 1]  # r=3, size 1 -> value -1
        w.write(code, length)
        w.write(0, 1)  # -1 in ones-complement-style magnitude bits
        code, length = ac[0x00]  # EOB
        w.write(code, length)
        ac_first = self._sos(1, 63, 0, 1) + w.flush()

        # scan 3: AC refine, band 1..63, Ah=1, Al=0
        w = jc._BitWriter()
        code, length = ac[(1 << 4) | 1]  # new coef after 1 zero-history
        w.write(code, length)
        w.write(1, 1)  # sign: positive
        w.write(1, 1)  # correction bit for k1 (4 -> 5)
        # (k2 consumes the run silently; new coef lands at k3)
        code, length = ac[0x00]  # EOB -> EOBRUN=1
        w.write(code, length)
        w.write(0, 1)  # tail correction bit for k5 (-2 stays)
        ac_refine = self._sos(1, 63, 1, 0) + w.flush()

        stream = (
            self._headers(ql) + dc_scan + ac_first + ac_refine
            + b"\xff\xd9"
        )
        got = decode_jpeg(stream)[..., 0]

        # reference: dequantize the hand-chosen coefs and IDCT
        zz = np.zeros(64, dtype=np.float64)
        zz[1], zz[3], zz[5] = 5, 1, -2
        qzz = ql.flatten()[jc.ZIGZAG_FLAT].astype(np.float64)
        nat = np.zeros(64)
        nat[jc.ZIGZAG_FLAT] = zz * qzz
        want = np.clip(
            np.rint(jc._DCT.T @ nat.reshape(8, 8) @ jc._DCT + 128.0),
            0, 255,
        ).astype(np.uint8)
        assert np.array_equal(got, want)

    def test_progressive_with_restart_markers(self):
        """DRI applies to every progressive scan: the DC scan resets
        predictors at each RSTn and the AC scans flush their EOB run
        before the boundary (spec: EOB runs cannot cross restarts)."""
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, (33, 26), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(arr, 60))
        for ri in (1, 3):
            prog = decode_jpeg(
                jc.encode_jpeg_progressive(arr, 60, restart_interval=ri)
            )
            assert np.array_equal(base, prog), ri
        rgb = rng.integers(0, 256, (25, 18, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(rgb, 75)),
            decode_jpeg(
                jc.encode_jpeg_progressive(rgb, 75, restart_interval=3)
            ),
        )

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        h=st.integers(1, 33),
        w=st.integers(1, 33),
        quality=st.sampled_from([30, 50, 75, 90]),
        rst=st.sampled_from([0, 2]),
    )
    def test_fuzz_cross_layout_equality(self, seed, h, w, quality, rst):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(arr, quality)),
            decode_jpeg(jc.encode_jpeg_progressive(
                arr, quality, restart_interval=rst
            )),
        )

    def test_progressive_error_contract(self):
        ql = jc.scale_quant_table(jc.QUANT_LUMA, 50)
        # multi-component AC scan is corrupt
        import struct

        bad_sos = b"\xff\xda" + struct.pack(">H", 10) + bytes(
            [2, 1, 0x00, 1, 0x00, 1, 63, 0]
        )
        with pytest.raises(ValueError, match="single-component"):
            decode_jpeg(self._headers(ql) + bad_sos + b"\xff\xd9")
        # unknown component id in a scan
        bad_sos2 = b"\xff\xda" + struct.pack(">H", 8) + bytes(
            [1, 7, 0x00, 1, 63, 0]
        )
        with pytest.raises(ValueError, match="unknown component"):
            decode_jpeg(self._headers(ql) + bad_sos2 + b"\xff\xd9")
        # DC scan with Se != 0
        with pytest.raises(ValueError, match="Se=0"):
            decode_jpeg(
                self._headers(ql) + self._sos(0, 5, 0, 0) + b"\xff\xd9"
            )
        # EOI with no scans at all
        with pytest.raises(ValueError, match="EOI before"):
            decode_jpeg(b"\xff\xd8\xff\xd9")


class TestFillBytes:
    def test_fill_bytes_before_markers_tolerated(self):
        """Spec B.1.1.2: any number of 0xFF fill bytes may precede a
        marker — both the segment walk and the post-scan marker
        search must skip them."""
        arr = ((np.arange(16 * 16) * 37) % 256).astype(
            np.uint8
        ).reshape(16, 16)
        enc = encode_jpeg(arr, 75)
        base = decode_jpeg(enc)
        i = enc.index(b"\xff\xc0")
        assert np.array_equal(
            decode_jpeg(enc[:i] + b"\xff\xff\xff" + enc[i:]), base
        )
        prog = jc.encode_jpeg_progressive(arr, 75)
        j = prog.index(b"\xff\xda", prog.index(b"\xff\xda") + 2)
        assert np.array_equal(
            decode_jpeg(prog[:j] + b"\xff\xff" + prog[j:]), base
        )


class TestNonInterleavedSequential:
    """A.2.2 non-interleaved baseline: a color image sent as one
    scan PER COMPONENT (each on its own ceil(dim/8) block grid,
    restart numbering reset per scan). Pixels must equal the
    interleaved layout exactly — identical quantized coefficients,
    different scan arrangement."""

    def test_equal_to_interleaved_both_subsamplings(self):
        rng = np.random.default_rng(67)
        for sub in ("444", "420"):
            rgb = rng.integers(0, 256, (21, 27, 3), dtype=np.uint8)
            inter = decode_jpeg(encode_jpeg(rgb, 50, sub))
            non = decode_jpeg(
                encode_jpeg(rgb, 50, sub, interleave=False)
            )
            assert np.array_equal(inter, non)

    def test_stream_has_three_scans(self):
        rgb = np.zeros((16, 16, 3), dtype=np.uint8)
        enc = encode_jpeg(rgb, 50, interleave=False)
        assert enc.count(b"\xff\xda") == 3

    def test_restart_markers_per_scan(self):
        rng = np.random.default_rng(71)
        rgb = rng.integers(0, 256, (30, 30, 3), dtype=np.uint8)
        non = decode_jpeg(
            encode_jpeg(
                rgb, 50, "420", restart_interval=3, interleave=False
            )
        )
        inter = decode_jpeg(
            encode_jpeg(rgb, 50, "420", restart_interval=3)
        )
        assert np.array_equal(inter, non)

    def test_truncated_multi_scan_raises(self):
        rgb = np.zeros((16, 16, 3), dtype=np.uint8)
        enc = encode_jpeg(rgb, 50, interleave=False)
        # cut after the second scan's SOS: EOI never arrives
        second = enc.index(b"\xff\xda", enc.index(b"\xff\xda") + 2)
        with pytest.raises(ValueError):
            decode_jpeg(enc[: second + 10])

    def test_subset_scans_equal_interleaved(self):
        """A.2.3 interleaved SUBSET scans (2-of-3 components per
        scan) decode pixel-equal to the single-scan interleaved
        layout — both component orderings, both subsamplings,
        including mid-plan restart markers."""
        rng = np.random.default_rng(101)
        for sub in ("444", "420"):
            for plan in (((0,), (1, 2)), ((2, 0), (1,))):
                rgb = rng.integers(0, 256, (21, 26, 3), dtype=np.uint8)
                inter = decode_jpeg(encode_jpeg(rgb, 50, sub))
                subset = decode_jpeg(
                    encode_jpeg(rgb, 50, sub, scan_plan=plan)
                )
                assert np.array_equal(inter, subset)
        rgb = rng.integers(0, 256, (30, 34, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(
                encode_jpeg(
                    rgb, 50, "420", restart_interval=2,
                    scan_plan=((0,), (1, 2)),
                )
            ),
            decode_jpeg(encode_jpeg(rgb, 50, "420", restart_interval=2)),
        )

    def test_scan_plan_must_cover_each_component_once(self):
        rgb = np.zeros((8, 8, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="scan_plan"):
            encode_jpeg(rgb, 50, scan_plan=((0,), (1,)))
        with pytest.raises(ValueError, match="scan_plan"):
            encode_jpeg(rgb, 50, scan_plan=((0, 0, 1, 2),))
