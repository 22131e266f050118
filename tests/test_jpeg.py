"""Baseline JPEG codec (operators/jpegcodec): self-certifying
roundtrips (no PIL in this container to cross-check against), edge
cases of the entropy coder, profile rejections, and the Spark/Codec
plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from fegis_spark.operators.jpegcodec import decode_jpeg, encode_jpeg


def _psnr(a, b) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else float(10 * np.log10(255**2 / mse))


def _gradient(w, h, seed=0):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 7 + seed) % 256, (y * 11 + seed) % 256, (x + y + seed) % 256], -1
    ).astype(np.uint8)


def test_roundtrip_rgb_gradient_high_fidelity():
    img = _gradient(32, 24, seed=3)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert _psnr(img, dec) > 40


def test_roundtrip_gray_and_odd_shapes():
    # non-multiple-of-8 dims exercise the edge-replicate padding on
    # encode and the bh*8 over-allocation crop on decode
    y, x = np.mgrid[0:13, 0:11]
    g = ((x * 3 + y * 5) % 256).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=90))
    assert dec.shape == (13, 11)
    assert _psnr(g, dec) > 40


def test_noise_survives_at_reasonable_psnr():
    rng = np.random.default_rng(1)
    n = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    assert _psnr(n, decode_jpeg(encode_jpeg(n, quality=95))) > 30


def test_quality_ladder_is_monotone_in_size_and_fidelity():
    img = _gradient(40, 40, seed=7)
    sizes, psnrs = [], []
    for q in (25, 50, 75, 95):
        enc = encode_jpeg(img, quality=q)
        sizes.append(len(enc))
        psnrs.append(_psnr(img, decode_jpeg(enc)))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)


def test_determinism():
    img = _gradient(24, 16, seed=5)
    e1, e2 = encode_jpeg(img, 80), encode_jpeg(img, 80)
    assert e1 == e2
    assert (decode_jpeg(e1) == decode_jpeg(e2)).all()


def test_zrl_and_eob_paths():
    # nearly-flat image with one hot pixel: long AC zero runs force
    # ZRL (16-zero-run) symbols on encode and the k+=16 path on decode
    img = np.full((24, 24, 3), 128, dtype=np.uint8)
    img[20, 20] = (255, 0, 255)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert _psnr(img, dec) > 35
    # flat blocks decode flat (DC-only, immediate EOB)
    assert np.abs(dec[:8, :8].astype(int) - 128).max() <= 2


def test_dc_prediction_chains_across_blocks():
    # a strong horizontal ramp makes every block's DC differ — the
    # per-component DC predictor must chain across the whole scan
    y, x = np.mgrid[0:8, 0:128]
    ramp = np.stack([(x * 2) % 256] * 3, -1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(ramp, quality=95))
    assert _psnr(ramp, dec) > 35


def test_rejections():
    from fegis_spark.operators.multimodal import make_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01")
    # metadata-only fixture: valid headers, no scan
    with pytest.raises(ValueError):
        decode_jpeg(make_jpeg(16, 12))
    # progressive SOF2 — and since r11 progressive+4:2:0 too — is
    # DECODED; the header-only fixture still rejects (no scan data)
    with pytest.raises(ValueError, match="scan"):
        decode_jpeg(make_jpeg(16, 12, progressive=True))
    # a REAL progressive payload truncated before any SOS also rejects
    from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

    real_prog = encode_jpeg_progressive(_gradient(16, 16))
    headers_only = real_prog[: real_prog.index(b"\xff\xda")] + b"\xff\xd9"
    with pytest.raises(ValueError, match="scan"):
        decode_jpeg(headers_only)
    # extended-sequential SOF1 still rejected by name
    prog = make_jpeg(16, 12, progressive=True)
    sof1 = prog.replace(b"\xff\xc2", b"\xff\xc1")
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(sof1)
    # truncated scan
    enc = encode_jpeg(_gradient(16, 16), 75)
    with pytest.raises(ValueError):
        decode_jpeg(enc[: len(enc) - 20] )


def test_header_parser_and_codec_dispatch_agree():
    from fegis_spark.operators.multimodal import Codec, image_header, make_jpeg_real

    payload = make_jpeg_real(20, 14, seed=2)
    assert image_header(payload) == ("jpeg", 20, 14, 3)
    img = Codec().decode_image(payload)
    assert img.shape == (14, 20, 3)
    # the codec path is the REAL decoder, not the fake: re-decoding
    # the same bytes gives the same pixels, and they track the source
    src = _gradient(20, 14, seed=2)
    assert _psnr(src, img) > 35


def test_media_features_on_real_jpeg_bytes(spark):
    from fegis_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_features,
        make_jpeg_real,
    )

    rows = [
        (i, "image", make_jpeg_real(16, 12, seed=i), None) for i in range(4)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: list(r.features) for r in media_features(df).collect()}
    assert len(got) == 4 and all(len(v) == 16 for v in got.values())
    # distributed result equals the sequential reference on same bytes
    from fegis_spark.operators.multimodal import Codec

    codec = Codec()
    for i in range(4):
        img = codec.decode_image(make_jpeg_real(16, 12, seed=i))
        want = codec.extract_features(img)
        assert np.allclose(got[i], want, atol=1e-5)


class TestAviMjpeg:
    def test_container_roundtrip(self):
        from fegis_spark.operators.multimodal import make_avi_mjpeg, parse_avi

        avi = make_avi_mjpeg(16, 12, n_frames=7, seed=3, fps=12)
        meta = parse_avi(avi)
        assert (meta["width"], meta["height"]) == (16, 12)
        assert meta["n_frames"] == 7 and len(meta["frames"]) == 7
        assert meta["us_per_frame"] == 1_000_000 // 12
        # every frame is an independently-decodable baseline JPEG
        for fr in meta["frames"]:
            assert fr[:2] == b"\xff\xd8"

    def test_frame_sample_even_spacing_and_decode(self):
        import numpy as np

        from fegis_spark.operators.multimodal import Codec, make_avi_mjpeg, parse_avi

        codec = Codec()
        avi = make_avi_mjpeg(16, 12, n_frames=9, seed=5)
        sampled = codec.frame_sample(avi, 3)
        all_frames = parse_avi(avi)["frames"]
        # frames floor(i*9/3) = 0, 3, 6
        assert sampled == [all_frames[0], all_frames[3], all_frames[6]]
        imgs = [codec.decode_image(fr) for fr in sampled]
        assert all(im.shape == (12, 16, 3) for im in imgs)
        # animated gradient: distinct frames decode to distinct pixels
        assert not np.array_equal(imgs[0], imgs[1])

    def test_frame_sample_fewer_frames_than_requested(self):
        from fegis_spark.operators.multimodal import Codec, make_avi_mjpeg

        sampled = Codec().frame_sample(make_avi_mjpeg(8, 8, n_frames=2), 5)
        assert len(sampled) == 2  # never fabricates frames

    def test_non_avi_still_uses_fake(self):
        from fegis_spark.operators.multimodal import Codec

        frames = Codec().frame_sample(b"not a video", 3)
        assert len(frames) == 3 and len(set(frames)) == 3

    def test_video_frame_sample_spark_real_path(self, spark):
        from fegis_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            Codec,
            make_avi_mjpeg,
            video_frame_sample,
        )

        rows = [(i, "video", make_avi_mjpeg(16, 12, n_frames=4 + i, seed=i), None)
                for i in range(3)]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = video_frame_sample(df, n_frames=3).collect()
        assert len(out) == 9
        codec = Codec()
        for r in out:
            img = codec.decode_image(bytes(r.frame_payload))
            assert img.shape == (12, 16, 3)


class TestGifLzw:
    def test_lossless_roundtrip(self):
        import numpy as np

        from fegis_spark.operators.multimodal import decode_gif, make_gif

        img = decode_gif(make_gif(31, 17, seed=5))
        y, x = np.mgrid[0:17, 0:31]
        pal = np.stack(
            [(np.arange(16) * 17 + 5) % 256, (np.arange(16) * 31 + 5) % 256,
             (np.arange(16) * 7 + 5) % 256], -1
        ).astype(np.uint8)
        assert (img == pal[(x + y + 5) % 16]).all()  # GIF is lossless

    def test_lzw_table_reset_path(self):
        # random 16-color noise grows the LZW string table past 4096,
        # forcing the mid-stream CLEAR + reset on encode AND decode
        import numpy as np

        from fegis_spark.operators.multimodal import (
            _gif_lzw_decode,
            _gif_lzw_encode,
        )

        rng = np.random.default_rng(3)
        idx = rng.integers(0, 16, 9000, dtype=np.uint8)
        assert _gif_lzw_decode(_gif_lzw_encode(idx, 4), 4) == list(map(int, idx))

    def test_rejections(self):
        import pytest

        from fegis_spark.operators.multimodal import decode_gif

        # header-only payload (the pre-r10 fixture shape): no frame.
        # Since r11 a missing GLOBAL table alone is fine (a frame may
        # carry a local one), so this now fails at the trailer instead
        headeronly = (b"GIF89a" + (8).to_bytes(2, "little")
                      + (8).to_bytes(2, "little") + bytes([0x70, 0, 0])
                      + b"\x3b")
        with pytest.raises(ValueError, match="no image frame"):
            decode_gif(headeronly)
        with pytest.raises(ValueError, match="not a GIF"):
            decode_gif(b"PNG...")

    def test_codec_dispatch(self):
        from fegis_spark.operators.multimodal import Codec, make_gif

        img = Codec().decode_image(make_gif(10, 6, seed=2))
        assert img.shape == (6, 10, 3)


class TestProgressiveSubsampled:
    """r11: progressive (SOF2) + chroma subsampling combined — the
    codec's last named JPEG stub. Interleaved subsampled DC scans
    (hi×vi data units per MCU), AC scans over each component's own
    block raster (T.81 A.2.2). The cross-check: the progressive and
    baseline subsampled encoders share one quantization, so their
    decodes must be BIT-IDENTICAL."""

    def test_prog420_equals_baseline420(self):
        import numpy as np

        from fegis_spark.operators.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(41)
        # odd sizes exercise partial MCUs and the padded-grid skip in
        # the AC scans (luma grid wider than its true block raster)
        for shape in [(24, 40, 3), (17, 23, 3), (8, 8, 3), (9, 25, 3),
                      (12, 16, 3)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            assert (
                decode_jpeg(encode_jpeg_progressive(img, y_samp=(2, 2)))
                == decode_jpeg(encode_jpeg(img, y_samp=(2, 2)))
            ).all(), shape
            assert (
                decode_jpeg(encode_jpeg_progressive(img, y_samp=(2, 1)))
                == decode_jpeg(encode_jpeg(img, y_samp=(2, 1)))
            ).all(), shape

    def test_prog420_with_restarts(self):
        import numpy as np

        from fegis_spark.operators.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(43)
        img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
        want = decode_jpeg(encode_jpeg(img, y_samp=(2, 2)))
        for ri in (1, 2, 3):
            got = decode_jpeg(
                encode_jpeg_progressive(img, y_samp=(2, 2), restart_interval=ri)
            )
            assert (got == want).all(), ri

    def test_fixture_header_and_determinism(self):
        from fegis_spark.operators.jpegcodec import decode_jpeg
        from fegis_spark.operators.multimodal import (
            make_jpeg_prog_real,
            parse_jpeg_header,
        )

        p = make_jpeg_prog_real(16, 12, seed=5, quality=75, y_samp=(2, 2))
        hdr = parse_jpeg_header(p)
        assert hdr["progressive"] and (hdr["width"], hdr["height"]) == (16, 12)
        assert p == make_jpeg_prog_real(16, 12, seed=5, quality=75, y_samp=(2, 2))
        assert decode_jpeg(p).shape == (12, 16, 3)

    def test_grayscale_subsampled_encode_rejected(self):
        import numpy as np
        import pytest

        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        with pytest.raises(ValueError, match="RGB"):
            encode_jpeg_progressive(
                np.zeros((8, 8), dtype=np.uint8), y_samp=(2, 2)
            )


class TestProgressive:
    """r11: SOF2 progressive decode + the self-certifying progressive
    encoder (2-level successive approximation). The load-bearing
    property: because the scan script refines to Al=0, progressive and
    baseline encodings of the same image carry the SAME quantized
    coefficients, so their decodes must be BIT-IDENTICAL."""

    def test_identical_to_baseline_decode(self):
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        rng = np.random.default_rng(11)
        for shape in [(8, 8), (24, 17), (16, 16, 3), (33, 41, 3)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            base = decode_jpeg(encode_jpeg(img))
            prog = decode_jpeg(encode_jpeg_progressive(img))
            assert prog.shape == base.shape
            assert (prog == base).all()

    def test_eob_run_paths(self):
        # flat + smooth images drive long multi-block EOB runs (EOBn
        # with extension bits) through both AC-first and AC-refine
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        flat = np.full((48, 56, 3), 130, dtype=np.uint8)
        x = np.linspace(0, 255, 64)
        smooth = np.round(np.add.outer(x, x) / 2).astype(np.uint8)
        for img in (flat, smooth, np.zeros((80, 80), np.uint8)):
            base = decode_jpeg(encode_jpeg(img))
            prog = decode_jpeg(encode_jpeg_progressive(img))
            assert (prog == base).all()

    def test_determinism_and_sof2_marker(self):
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        img = _gradient(24, 24)
        p1, p2 = encode_jpeg_progressive(img), encode_jpeg_progressive(img)
        assert p1 == p2
        assert b"\xff\xc2" in p1 and b"\xff\xc0" not in p1

    def test_header_parser_flags_progressive(self):
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive
        from fegis_spark.operators.multimodal import image_header, parse_jpeg_header

        payload = encode_jpeg_progressive(_gradient(20, 14))
        j = parse_jpeg_header(payload)
        assert j["progressive"] is True
        assert (j["width"], j["height"]) == (20, 14)
        fmt, w, h, nc = image_header(payload)
        assert fmt == "jpeg-progressive" and (w, h, nc) == (20, 14, 3)

    def test_codec_decodes_progressive_payload(self):
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive
        from fegis_spark.operators.multimodal import Codec

        img = _gradient(16, 16)
        out = Codec(fake=False).decode_image(encode_jpeg_progressive(img))
        assert out.shape == (16, 16, 3)
        assert (out == decode_jpeg(encode_jpeg(img))).all()

    def test_property_random_images_identical(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        @settings(max_examples=12, deadline=None, derandomize=True)
        @given(
            w=st.integers(1, 25),
            h=st.integers(1, 21),
            seed=st.integers(0, 2**31 - 1),
            gray=st.booleans(),
            quality=st.sampled_from([30, 75, 95]),
        )
        def check(w, h, seed, gray, quality):
            rng = np.random.default_rng(seed)
            shape = (h, w) if gray else (h, w, 3)
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            base = decode_jpeg(encode_jpeg(img, quality))
            prog = decode_jpeg(encode_jpeg_progressive(img, quality))
            assert (prog == base).all()

        check()


class TestSubsampled420:
    """r11: baseline 4:2:0 decode (the wild-crawl majority chroma
    layout) + the self-certifying 4:2:0 encoder. The load-bearing
    bit-exact check: constant-chroma images (gray stored as RGB) lose
    NOTHING to 2x2 chroma averaging, so 420 and 444 encodings decode
    identically — any MCU-ordering or upsample bug breaks it."""

    def test_constant_chroma_identical_to_444(self):
        rng = np.random.default_rng(9)
        for shape in [(24, 24), (17, 19), (15, 33)]:
            g = rng.integers(0, 256, shape, dtype=np.uint8)
            gr = np.stack([g, g, g], -1)
            a = decode_jpeg(encode_jpeg(gr, 85))
            b = decode_jpeg(encode_jpeg(gr, 85, y_samp=(2, 2)))
            assert a.shape == b.shape == gr.shape
            assert (a == b).all()

    def test_smooth_color_fidelity_and_size_win(self):
        y, x = np.mgrid[0:33, 0:41]
        img = np.stack(
            [(x * 3 + y) % 256, (y * 2 + x) % 256, (x + y) % 256], -1
        ).astype(np.uint8)
        p420 = encode_jpeg(img, 90, y_samp=(2, 2))
        d = decode_jpeg(p420)
        assert d.shape == img.shape
        assert _psnr(img, d) > 40
        # half the chroma blocks → smaller payload than 4:4:4
        assert len(p420) < len(encode_jpeg(img, 90))

    def test_partial_mcu_shapes(self):
        rng = np.random.default_rng(2)
        for shape in [(17, 19, 3), (15, 33, 3), (8, 8, 3), (1, 1, 3), (9, 40, 3)]:
            im = rng.integers(0, 256, shape, dtype=np.uint8)
            assert decode_jpeg(encode_jpeg(im, 95, y_samp=(2, 2))).shape == shape

    def test_determinism_and_sampling_byte(self):
        img = _gradient(20, 18, seed=4)
        p1 = encode_jpeg(img, 80, y_samp=(2, 2))
        p2 = encode_jpeg(img, 80, y_samp=(2, 2))
        assert p1 == p2
        # SOF0 with Y sampling 0x22
        sof_at = p1.index(b"\xff\xc0")
        assert p1[sof_at + 11] == 0x22  # comp 1 sampling byte

    def test_codec_dispatch_decodes_420(self):
        from fegis_spark.operators.multimodal import Codec

        img = _gradient(16, 12, seed=6)
        out = Codec(fake=False).decode_image(encode_jpeg(img, 90, y_samp=(2, 2)))
        assert out.shape == (12, 16, 3)
        assert _psnr(img, out) > 35

    def test_sof2_flip_of_baseline_scan_rejects(self):
        """Progressive + subsampled DECODES since r11 (see
        TestProgressiveSubsampled) — but marker-flipping a BASELINE
        4:2:0 stream to SOF2 must still reject: its single interleaved
        full-band scan (Ss=0, Se=63) is an invalid progressive scan
        script."""
        payload = encode_jpeg(_gradient(16, 16), 80, y_samp=(2, 2))
        prog = payload.replace(b"\xff\xc0", b"\xff\xc2")
        with pytest.raises(ValueError, match="Se=0"):
            decode_jpeg(prog)

    def test_gray_rejects_in_420_encoder(self):
        with pytest.raises(ValueError, match="RGB"):
            encode_jpeg(np.zeros((8, 8), np.uint8), y_samp=(2, 2))

    def test_property_shapes_and_constant_chroma(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=10, deadline=None, derandomize=True)
        @given(
            w=st.integers(1, 37),
            h=st.integers(1, 35),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(w, h, seed):
            rng = np.random.default_rng(seed)
            g = rng.integers(0, 256, (h, w), dtype=np.uint8)
            gr = np.stack([g, g, g], -1)
            a = decode_jpeg(encode_jpeg(gr, 85))
            b = decode_jpeg(encode_jpeg(gr, 85, y_samp=(2, 2)))
            assert (a == b).all()

        check()


def test_422_constant_chroma_identity_and_fidelity():
    # r11: 4:2:2 (2x1 Y sampling) — certifies the horizontal-only
    # subsampled MCU walk the same way 4:2:0 certifies 2x2
    rng = np.random.default_rng(13)
    for shape in [(24, 24), (17, 19), (15, 33)]:
        g = rng.integers(0, 256, shape, dtype=np.uint8)
        gr = np.stack([g, g, g], -1)
        assert (
            decode_jpeg(encode_jpeg(gr, 85))
            == decode_jpeg(encode_jpeg(gr, 85, y_samp=(2, 1)))
        ).all()
    y, x = np.mgrid[0:33, 0:41]
    img = np.stack(
        [(x * 3 + y) % 256, (y * 2 + x) % 256, (x + y) % 256], -1
    ).astype(np.uint8)
    payload = encode_jpeg(img, 90, y_samp=(2, 1))
    assert _psnr(img, decode_jpeg(payload)) > 40
    assert payload[payload.index(b"\xff\xc0") + 11] == 0x21


class TestRestartIntervals:
    """r11: DRI/RSTn decode on the sequential path. Restarts only
    byte-align the stream and re-base DC differences, so decodes with
    and without them are bit-identical — any marker-sequence, padding
    or predictor-reset bug breaks the identity."""

    def test_bit_identical_across_intervals(self):
        rng = np.random.default_rng(21)
        for shape in [(24, 40, 3), (17, 19, 3), (64, 64), (8, 8, 3)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            base = decode_jpeg(encode_jpeg(img, 85))
            for r in (1, 2, 5, 13):
                got = decode_jpeg(encode_jpeg(img, 85, restart_interval=r))
                assert (got == base).all(), (shape, r)

    def test_rstn_cycle_past_eight(self):
        # 64 MCUs at interval 2 → 31 markers, RSTn index wraps mod 8
        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, (64, 64), dtype=np.uint8)
        payload = encode_jpeg(img, 85, restart_interval=2)
        n_rst = sum(payload.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
        assert n_rst == 31
        assert b"\xff\xdd" in payload  # DRI segment present

    def test_subsampled_restarts_decode(self):
        # DRI applies per MCU — on the 4:2:0 (16x16) and 4:2:2 (16x8)
        # grids too: restarts stay bit-identical to the restart-free
        # decode, and a corrupted restart sequence rejects loudly
        rng = np.random.default_rng(7)
        for shape in [(24, 24, 3), (17, 23, 3), (8, 8, 3), (33, 41, 3), (9, 40, 3)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            for y_samp in ((2, 2), (2, 1)):
                base = decode_jpeg(encode_jpeg(img, 85, y_samp=y_samp))
                for r in (1, 2, 3, 5):
                    got = decode_jpeg(
                        encode_jpeg(img, 85, restart_interval=r, y_samp=y_samp)
                    )
                    assert (got == base).all(), (shape, y_samp, r)
        img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
        payload = encode_jpeg(img, 85, restart_interval=3, y_samp=(2, 2))
        # corrupt the first RST marker's index (D0+k -> D7)
        idx = None
        for i in range(len(payload) - 1):
            if payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD6:
                idx = i
                break
        assert idx is not None
        bad = payload[:idx + 1] + bytes([0xD7]) + payload[idx + 2:]
        with pytest.raises(ValueError, match="restart"):
            decode_jpeg(bad)

    def test_progressive_restarts_bit_identical(self):
        # r11 follow-up: progressive scans honor DRI too — restart
        # boundaries reset DC predictors AND EOB runs, and remain
        # bit-identical to the restart-free decode
        from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

        rng = np.random.default_rng(31)
        x = np.linspace(0, 255, 64)
        smooth = np.round(np.add.outer(x, x) / 2).astype(np.uint8)
        fixtures = [
            rng.integers(0, 256, (24, 40, 3), dtype=np.uint8),
            rng.integers(0, 256, (17, 19, 3), dtype=np.uint8),
            smooth,                              # EOB-run-heavy
            np.full((48, 56, 3), 130, np.uint8),  # pure EOB runs
        ]
        for img in fixtures:
            base = decode_jpeg(encode_jpeg(img, 85))
            for r in (1, 3, 13):
                got = decode_jpeg(
                    encode_jpeg_progressive(img, 85, restart_interval=r)
                )
                assert (got == base).all()


def _baseline_per_component_scans(rgb, quality, y_samp, restart_interval):
    """A baseline file whose Y, Cb and Cr each get their own scan (the
    non-interleaved layout of T.81 A.2.2: one data unit per MCU, along
    the component's own block raster), assembled from the encoder's
    parts; encode_jpeg itself only writes one interleaved scan."""
    from fegis_spark.operators.jpegcodec import (
        HUFF_AC_CHROMA,
        HUFF_AC_LUMA,
        HUFF_DC_CHROMA,
        HUFF_DC_LUMA,
        _comp_raster,
        _emit_headers,
        _emit_scan,
        _entropy_scan,
        _forward,
        _huff_codes,
        _sequential_interval,
    )

    f = _forward(rgb, quality, y_samp)
    dc = [_huff_codes(*t) for t in (HUFF_DC_LUMA, HUFF_DC_CHROMA)]
    ac = [_huff_codes(*t) for t in (HUFF_AC_LUMA, HUFF_AC_CHROMA)]
    out = bytearray(b"\xff\xd8")
    _emit_headers(out, b"\xff\xc0", f, (HUFF_AC_LUMA, HUFF_AC_CHROMA), restart_interval)
    for ci in range(3):
        units = [[(ci, b)] for b in _comp_raster(f.h, f.w, f.samp, f.grids, ci)]
        payload = _entropy_scan(units, restart_interval, _sequential_interval, f, dc, ac)
        _emit_scan(out, f.qids, [ci], 0, 63, 0, 0, payload)
    return bytes(out + b"\xff\xd9")


@pytest.mark.parametrize("restart_interval", [0, 2])
def test_baseline_non_interleaved_scans_decode(restart_interval):
    # 4:2:0 at 21x19: the luma MCU walk (2x2 blocks per MCU over a 4x4
    # padded grid) and the luma raster (3x3 blocks) differ in both
    # order and count, so a decoder that walks the MCU grid for a
    # one-component scan reads the wrong blocks
    rgb = _gradient(21, 19, seed=5)
    want = decode_jpeg(encode_jpeg(rgb, 85, y_samp=(2, 2)))
    payload = _baseline_per_component_scans(rgb, 85, (2, 2), restart_interval)
    assert payload.count(b"\xff\xda") == 3
    assert (decode_jpeg(payload) == want).all()


#: sha256 of fixed encodings of one 21x19 gradient at quality 85 —
#: these bytes feed the media fixtures and their oracles
_ENCODER_DIGESTS = {
    "base_gray": "b9abe9c514f678c52ae04a2f3ca9a3210af2c38e9f5a8958f75b28cc30e91ab5",
    "base_444": "ec765eaccbf9e90fe4e0042f339d57b311ffdd262aa668be35aa4ee0b60016a5",
    "base_444_r2": "15a2587c8343bd9c6d374ca1bd5cf86553e294f12b36b708b00e974328e55aa0",
    "base_420": "8c48ec81fe0ab54de171effed2f284e0e6c771c4803fc7c24b23b09495ece62c",
    "base_422": "5c579266dc0fc93ee9fc214a5a4c315fa5c3d782b7b246581a37a75e3b1acb78",
    "prog_444": "edf3ca229698bd395c9f984f2ad06d2fe9fe4db279073997812bd4b56d16a967",
    "prog_444_r2": "904ad44d9c74d0e7154f1835691d43932f797bc062bc24df3796d435ed472b87",
    "prog_420": "260a8f4685822709c5b1185b49d6765d878dcfff727bc74fcdc506da6db5649c",
    "prog_420_r2": "ec723bea6a19449f03a4d6b81570807640ceb5573eb7047d2a6dca143f11d3ef",
    "prog_422": "0adf1ac78332ec5a427416d3309ce8fb68bb75fac4b5c8b9dfc8958a3fc2a556",
    "prog_422_r2": "0c20ffac56d0badf4178382db30cf92a68d1d8415277310114ddf971885186e0",
}


def test_encoder_bytes_pinned():
    import hashlib

    from fegis_spark.operators.jpegcodec import encode_jpeg_progressive

    rgb = _gradient(21, 19, seed=5)
    samplings = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}
    got = {"base_gray": encode_jpeg(rgb[..., 2], 85)}
    got["base_444_r2"] = encode_jpeg(rgb, 85, restart_interval=2)
    for name, y_samp in samplings.items():
        got[f"base_{name}"] = encode_jpeg(rgb, 85, y_samp=y_samp)
        got[f"prog_{name}"] = encode_jpeg_progressive(rgb, 85, y_samp=y_samp)
        got[f"prog_{name}_r2"] = encode_jpeg_progressive(
            rgb, 85, restart_interval=2, y_samp=y_samp
        )
    assert {k: hashlib.sha256(v).hexdigest() for k, v in got.items()} == _ENCODER_DIGESTS
