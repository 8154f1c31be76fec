"""Baseline-JPEG codec tests (functions/jpeg.py): round-trip fidelity,
determinism, and hostile-payload rejection — the S4 decode contract for
the web's dominant image format."""

import struct

import numpy as np
import pytest

from ocr_platform_spark.functions.jpeg import (
    _DCT, MAX_PIXELS, JpegError, _idct, decode_jpeg, encode_jpeg)


class TestRoundTrip:
    def test_constant_image_exact(self):
        # a constant block is pure DC: quantization round-trips it exactly
        for val in (0, 57, 128, 255):
            for w, h, ch in [(8, 8, 1), (16, 8, 3), (13, 11, 1)]:
                px = bytes([val]) * (w * h * ch)
                got = decode_jpeg(encode_jpeg(w, h, ch, px))
                assert got[:3] == (w, h, ch)
                arr = np.frombuffer(got[3], np.uint8)
                # YCbCr float transform can wobble ±1 on 3-channel
                tol = 0 if ch == 1 else 1
                assert int(np.abs(arr.astype(int) - val).max()) <= tol

    def test_smooth_gradient_close(self):
        xx, yy = np.meshgrid(np.arange(32), np.arange(24))
        img = (xx * 3 + yy * 5 + 20).astype(np.uint8)   # no wrap: max 232
        w, h, c, px = decode_jpeg(encode_jpeg(32, 24, 1, img.tobytes()))
        assert (w, h, c) == (32, 24, 1)
        arr = np.frombuffer(px, np.uint8).reshape(24, 32)
        assert int(np.abs(arr.astype(int) - img.astype(int)).max()) <= 2

    def test_rgb_gradient_close_q95(self):
        xx, yy = np.meshgrid(np.arange(32), np.arange(16))
        img = np.stack([xx * 4 % 256, yy * 8 % 256, (xx + yy) * 2 % 256],
                       axis=-1).astype(np.uint8)
        blob = encode_jpeg(32, 16, 3, img.tobytes(), quality=95)
        w, h, c, px = decode_jpeg(blob)
        assert (w, h, c) == (32, 16, 3)
        arr = np.frombuffer(px, np.uint8).reshape(16, 32, 3)
        assert int(np.abs(arr.astype(int) - img.astype(int)).max()) <= 2

    def test_non_multiple_of_8_dims(self):
        rng = np.random.default_rng(7)
        for w, h in [(1, 1), (7, 9), (17, 13), (9, 8)]:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            gw, gh, gc, _ = decode_jpeg(encode_jpeg(w, h, 1, img.tobytes()))
            assert (gw, gh, gc) == (w, h, 1)

    def test_deterministic_encode(self):
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
        a = encode_jpeg(31, 24, 3, img.tobytes())
        b = encode_jpeg(31, 24, 3, img.tobytes())
        assert a == b
        assert decode_jpeg(a) == decode_jpeg(b)

    def test_idct_matches_matmul_reference(self):
        """The decoder's fixed-order IDCT equals the basis product it
        replaces to within float64 rounding."""
        blocks = np.random.default_rng(5).normal(0, 200, size=(500, 8, 8))
        want = np.stack([_DCT.T @ b @ _DCT for b in blocks])
        np.testing.assert_allclose(_idct(blocks), want, rtol=0, atol=1e-9)


class TestHostilePayloads:
    @pytest.mark.parametrize("payload", [
        b"", b"\xff\xd8", b"\xff\xd8\xff", b"\xff\xd8\xff\xe0junk",
        b"\xff\xd8\xff not a real jpeg body",
        b"not a jpeg at all",
    ])
    def test_garbage_raises(self, payload):
        with pytest.raises(JpegError):
            decode_jpeg(payload)

    def test_truncated_real_blob_raises(self):
        blob = encode_jpeg(16, 16, 1, bytes(range(256)))
        for cut in (20, len(blob) // 2, len(blob) - 4):
            with pytest.raises(JpegError):
                decode_jpeg(blob[:cut])

    def test_declared_dims_capped(self):
        # hand-built SOF0 declaring an absurd image: the pixel cap must
        # reject it before any per-block work happens (poison-pill guard)
        sof = b"\xff\xc0" + struct.pack(
            ">HBHHB", 11, 8, 30000, 30000, 1) + bytes([1, 0x11, 0])
        payload = b"\xff\xd8" + sof + b"\xff\xd9"
        assert 30000 * 30000 > MAX_PIXELS
        with pytest.raises(JpegError, match="MAX_PIXELS"):
            decode_jpeg(payload)

    def test_sof2_mislabel_on_baseline_stream_rejected(self):
        # SOF0 flipped to SOF2 leaves a baseline full-band SOS (Ss=0,
        # Se=63) that is malformed under progressive scan rules
        blob = bytearray(encode_jpeg(8, 8, 1, bytes(64)))
        idx = blob.find(b"\xff\xc0")
        blob[idx + 1] = 0xC2            # SOF0 → SOF2 (progressive)
        with pytest.raises(JpegError, match="progressive"):
            decode_jpeg(bytes(blob))

    def test_hierarchical_sof_rejected(self):
        blob = bytearray(encode_jpeg(8, 8, 1, bytes(64)))
        idx = blob.find(b"\xff\xc0")
        blob[idx + 1] = 0xC5            # SOF5: hierarchical
        with pytest.raises(JpegError, match="baseline"):
            decode_jpeg(bytes(blob))

    def test_exotic_sampling_factor_rejected(self):
        blob = bytearray(encode_jpeg(8, 8, 3, bytes(192)))
        idx = blob.find(b"\xff\xc0")
        blob[idx + 11] = 0x31           # luma 3x1: non-power-of-two h
        with pytest.raises(JpegError, match="sampling"):
            decode_jpeg(bytes(blob))

    def test_missing_restart_marker_raises(self):
        blob = bytearray(encode_jpeg(32, 32, 1, bytes(1024), quality=90,
                                     restart_interval=2))
        # strip every RSTn byte-pair: the DRI still promises them
        i = blob.find(b"\xff\xda")
        scan = blob[i:]
        for n in range(8):
            scan = scan.replace(bytes((0xFF, 0xD0 + n)), b"")
        with pytest.raises(JpegError):
            decode_jpeg(bytes(blob[:i]) + bytes(scan))


class TestChromaSubsampling:
    """4:2:0 / 4:2:2 — the dominant encodings of real web JPEGs."""

    @pytest.mark.parametrize("sub", ["444", "422", "420"])
    @pytest.mark.parametrize("dims", [(16, 16), (17, 13), (33, 9), (1, 1)])
    def test_round_trip_luma_close(self, sub, dims):
        w, h = dims
        # chroma-flat, wrap-free gradient: subsampling must cost ~nothing
        px = bytes(v for y in range(h) for x in range(w)
                   for v in [2 * x + 3 * y + 60] * 3)
        gw, gh, gc, out = decode_jpeg(
            encode_jpeg(w, h, 3, px, subsampling=sub))
        assert (gw, gh, gc) == (w, h, 3)
        err = np.abs(np.frombuffer(out, np.uint8).astype(int)
                     - np.frombuffer(px, np.uint8).astype(int))
        assert int(err.max()) <= 2

    def test_declared_sampling_factors(self):
        px = bytes(192)
        for sub, want in (("444", 0x11), ("422", 0x21), ("420", 0x22)):
            blob = encode_jpeg(8, 8, 3, px, subsampling=sub)
            idx = blob.find(b"\xff\xc0")
            assert blob[idx + 11] == want        # luma sampling byte
            assert blob[idx + 14] == 0x11        # chroma stays 1x1

    def test_replication_upsample_exact_on_constant_chroma(self):
        # constant-color image: box downsample and replication upsample
        # are both identities, so 4:2:0 decodes bit-identically to 4:4:4
        px = bytes([90, 140, 60]) * (24 * 16)
        a = decode_jpeg(encode_jpeg(24, 16, 3, px, subsampling="444"))
        b = decode_jpeg(encode_jpeg(24, 16, 3, px, subsampling="420"))
        assert a == b

    @pytest.mark.parametrize("ri", [1, 2, 5])
    def test_restart_intervals_decode_identically(self, ri):
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
        plain = decode_jpeg(encode_jpeg(31, 24, 3, img.tobytes(),
                                        subsampling="420"))
        with_rst = decode_jpeg(encode_jpeg(31, 24, 3, img.tobytes(),
                                           subsampling="420",
                                           restart_interval=ri))
        assert plain == with_rst

    def test_subsampled_decode_deterministic(self):
        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, size=(20, 28, 3), dtype=np.uint8)
        blob = encode_jpeg(28, 20, 3, img.tobytes(), subsampling="420",
                           restart_interval=3)
        assert decode_jpeg(blob) == decode_jpeg(blob)
        assert blob == encode_jpeg(28, 20, 3, img.tobytes(),
                                   subsampling="420", restart_interval=3)

    def test_truncated_subsampled_blob_raises(self):
        px = bytes(16 * 16 * 3)
        blob = encode_jpeg(16, 16, 3, px, subsampling="420")
        for cut in (len(blob) // 2, len(blob) - 4):
            with pytest.raises(JpegError):
                decode_jpeg(blob[:cut])


class TestGenMediaMix:
    def test_jpeg_rows_decode_and_hostiles_error(self):
        from ocr_platform_spark.datagen import gen_media
        from ocr_platform_spark.operators.multimodal import (
            image_stats, sniff_format)

        rows = [gen_media(i, 42) for i in range(80)]
        fmts = {sniff_format(r["media"]) for r in rows}
        assert "jpeg" in fmts and "png" in fmts
        jpeg_ok = err = 0
        for i, r in enumerate(rows):
            try:
                w, h, ch, means, thumb = image_stats(r["media"])
                assert 16 <= w <= 32 and 12 <= h <= 24
                assert len(means) == ch
                if sniff_format(r["media"]) == "jpeg":
                    jpeg_ok += 1
            except Exception:
                err += 1
        assert jpeg_ok > 0 and err > 0


class TestProgressive:
    """SOF2 spectral selection + successive approximation. The internal
    conformance oracle: progressive transmission is a LOSSLESS
    re-ordering of the same quantized coefficients, so progressive and
    baseline encodes of the same pixels must decode bit-identically."""

    @staticmethod
    def _assert_equal(w, h, ch, px, sub="444", q=85):
        base = encode_jpeg(w, h, ch, px, quality=q, subsampling=sub)
        prog = encode_jpeg(w, h, ch, px, quality=q, subsampling=sub,
                           progressive=True)
        assert prog != base
        assert b"\xff\xc2" in prog          # really SOF2
        assert decode_jpeg(prog) == decode_jpeg(base)

    def test_equals_baseline_gray(self):
        rng = np.random.default_rng(21)
        px = rng.integers(0, 256, size=24 * 31, dtype=np.uint8).tobytes()
        self._assert_equal(31, 24, 1, px)

    @pytest.mark.parametrize("sub", ["444", "422", "420"])
    def test_equals_baseline_rgb_subsampled(self, sub):
        rng = np.random.default_rng(22)
        px = rng.integers(0, 256, size=40 * 33 * 3, dtype=np.uint8).tobytes()
        self._assert_equal(33, 40, 3, px, sub=sub)

    def test_equals_baseline_smooth_eobrun_heavy(self):
        # smooth gradients leave long runs of all-zero AC bands: the
        # cross-block EOBRUN + buffered-correction-bit paths
        px = bytes(((x + y) // 2) & 0xFF
                   for y in range(96) for x in range(120) for _ in range(3))
        self._assert_equal(120, 96, 3, px, sub="420")
        self._assert_equal(120, 96, 3, px, sub="444", q=95)

    def test_equals_baseline_constant(self):
        self._assert_equal(64, 48, 3, bytes([10, 200, 60]) * 64 * 48, "420")

    @pytest.mark.parametrize("dims", [(9, 9), (17, 23), (8, 8), (33, 33)])
    def test_equals_baseline_odd_dims(self, dims):
        w, h = dims
        rng = np.random.default_rng(w * 100 + h)
        px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        self._assert_equal(w, h, 3, px, sub="420")

    @pytest.mark.parametrize("q", [5, 50, 100])
    def test_equals_baseline_quality_sweep(self, q):
        rng = np.random.default_rng(q)
        px = rng.integers(0, 256, size=40 * 40 * 3, dtype=np.uint8).tobytes()
        self._assert_equal(40, 40, 3, px, sub="422", q=q)

    def test_deterministic(self):
        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, size=24 * 24 * 3, dtype=np.uint8).tobytes()
        a = encode_jpeg(24, 24, 3, px, progressive=True)
        b = encode_jpeg(24, 24, 3, px, progressive=True)
        assert a == b

    def test_truncated_mid_scan_raises(self):
        rng = np.random.default_rng(6)
        px = rng.integers(0, 256, size=32 * 32 * 3, dtype=np.uint8).tobytes()
        blob = encode_jpeg(32, 32, 3, px, subsampling="420",
                           progressive=True)
        with pytest.raises(JpegError):
            decode_jpeg(blob[: len(blob) * 2 // 3])

    def test_scan_prefix_decodes_partial(self):
        # ending cleanly after the first scans yields a coarse but valid
        # image (what a browser paints mid-download) — same dims/channels
        rng = np.random.default_rng(8)
        px = rng.integers(0, 256, size=16 * 16 * 3, dtype=np.uint8).tobytes()
        blob = encode_jpeg(16, 16, 3, px, progressive=True)
        # cut at the 3rd SOS, then append EOI
        third_sos = -1
        count = 0
        i = 0
        while True:
            i = blob.find(b"\xff\xda", i + 1)
            if i < 0:
                break
            count += 1
            if count == 3:
                third_sos = i
                break
        assert third_sos > 0
        w, h, c, _px = decode_jpeg(blob[:third_sos] + b"\xff\xd9")
        assert (w, h, c) == (16, 16, 3)

    def test_progressive_restart_encode_rejected(self):
        with pytest.raises(JpegError, match="restart"):
            encode_jpeg(8, 8, 1, bytes(64), restart_interval=2,
                        progressive=True)
