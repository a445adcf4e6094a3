"""JPEG codec tests: deterministic roundtrips (gray + color YCbCr,
baseline + progressive), format gating, and the decode dispatcher (the
binaryFile source's .jpg/.jpeg glob is honest only if the pipeline can
actually decode them — reference accepts png/jpg/jpeg at
core/processor.py:267 and loads color scans via cv2.imread at
modules/detection.py:41)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from mangaextractor_spark.fixtures.jpeg import (
    UnsupportedJpegError,
    decode_gray_jpeg,
    decode_rgb_jpeg,
    encode_color_jpeg,
    encode_gray_jpeg,
)
from mangaextractor_spark.fixtures.png import encode_gray_png
from mangaextractor_spark.sources.decode import decode_gray_image, jpeg_dimensions


class TestCodec:
    @pytest.mark.parametrize("shape", [(8, 8), (64, 64), (100, 37), (5, 13), (63, 65)])
    def test_roundtrip_bounded_error(self, shape):
        rng = np.random.default_rng(3)
        img = np.clip(rng.normal(180, 25, shape), 0, 255).astype(np.uint8)
        out = decode_gray_jpeg(encode_gray_jpeg(img, quality=90))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() < 32

    def test_deterministic_bytes(self):
        img = (np.arange(40 * 56).reshape(40, 56) % 251).astype(np.uint8)
        assert encode_gray_jpeg(img) == encode_gray_jpeg(img)

    def test_glyph_page_ink_mask_survives(self):
        """The pipeline's contract: binarization of a q95 roundtrip must
        not flip any ink pixel on a rendered page."""
        from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus
        from mangaextractor_spark.fixtures.png import decode_gray_png

        corpus = generate_corpus(CorpusSpec(n_docs=2, seed=42))
        for b in corpus["media"]["image_bytes"]:
            img = decode_gray_png(bytes(b))
            rt = decode_gray_jpeg(encode_gray_jpeg(img, quality=95))
            assert not ((img < 128) ^ (rt < 128)).any()

    def test_rejects_malformed(self):
        img = np.full((16, 16), 128, dtype=np.uint8)
        b = bytearray(encode_gray_jpeg(img))
        i = b.find(b"\xff\xc0")
        b[i + 9] = 3  # claim 3 components with a 1-component payload
        with pytest.raises(UnsupportedJpegError):
            decode_gray_jpeg(bytes(b))
        b = bytearray(encode_gray_jpeg(img))
        i = b.find(b"\xff\xc0")
        b[i + 1] = 0xC3  # lossless SOF3 stays gated
        with pytest.raises(UnsupportedJpegError):
            decode_gray_jpeg(bytes(b))
        b = bytearray(encode_gray_jpeg(img))
        i = b.find(b"\xff\xc0")
        b[i + 12] = 5  # component references undefined quant table 5
        with pytest.raises(UnsupportedJpegError):
            decode_gray_jpeg(bytes(b))

    def test_malformed_raises_domain_error_not_typeerror(self):
        """Undefined Huffman tables and quality clamping stay inside the
        documented UnsupportedJpegError/ValueError gating contract."""
        img = np.full((16, 16), 128, dtype=np.uint8)
        b = bytearray(encode_gray_jpeg(img))
        i = b.find(b"\xff\xda")
        b[i + 6] = 0x57  # scan selects DC table 5 / AC table 7 (undefined)
        with pytest.raises(UnsupportedJpegError):
            decode_gray_jpeg(bytes(b))
        # quality 0 / negative clamp instead of ZeroDivisionError
        assert encode_gray_jpeg(img, quality=0) == encode_gray_jpeg(img, quality=1)
        assert decode_gray_jpeg(encode_gray_jpeg(img, quality=-5)).shape == (16, 16)

    def test_progressive_decode_of_reference_fixture(self):
        """The reference's own sample page (05_117.jpg, grayscale SOF2
        progressive, 6 scans with successive approximation) decodes to
        a plausible manga page: right dims, white-paper dominant,
        real ink mass. Skipped when the reference checkout is absent
        (the repo stays standalone)."""
        import os

        path = "/root/reference/tests/fixtures/images/05_117.jpg"
        if not os.path.exists(path):
            pytest.skip("reference fixture not available")
        img = decode_gray_jpeg(open(path, "rb").read())
        assert img.shape == (1600, 1072)
        frac_white = (img > 200).mean()
        frac_ink = (img < 64).mean()
        assert frac_white > 0.5  # manga paper
        assert 0.01 < frac_ink < 0.5  # real ink, not garbage noise
        # DC sanity: block means span a wide range (not a flat field)
        assert img.std() > 40

    def test_rejects_garbage(self):
        with pytest.raises(UnsupportedJpegError):
            decode_gray_jpeg(b"not a jpeg")


class TestColorCodec:
    """3-component YCbCr decode — the highest-frequency real-input gap
    from the round-2 verdict: real manga scans/covers are routinely
    color JPEG even when visually grayscale."""

    @pytest.mark.parametrize("sub", ["444", "422", "440", "420"])
    def test_color_roundtrip_smooth(self, sub):
        x = np.linspace(0, 255, 80)
        g1, g2 = np.meshgrid(x, x)
        smooth = np.stack([g1, g2, np.full((80, 80), 90.0)], axis=-1).astype(np.uint8)
        back = decode_rgb_jpeg(encode_color_jpeg(smooth, quality=95, subsampling=sub))
        assert back.shape == smooth.shape
        assert np.abs(back.astype(int) - smooth.astype(int)).max() < 12

    @pytest.mark.parametrize("sub", ["444", "422", "440", "420"])
    def test_progressive_decodes_identically_to_baseline(self, sub):
        """Same coefficients, two scan layouts: decoded pixels must be
        byte-identical (exercises interleaved DC + per-component AC
        progressive scans with subsampled chroma)."""
        rng = np.random.default_rng(11)
        rgb = np.clip(rng.normal(140, 40, (61, 45, 3)), 0, 255).astype(np.uint8)
        base = encode_color_jpeg(rgb, quality=92, subsampling=sub)
        prog = encode_color_jpeg(rgb, quality=92, subsampling=sub, progressive=True)
        assert (decode_rgb_jpeg(base) == decode_rgb_jpeg(prog)).all()
        assert (decode_gray_jpeg(base) == decode_gray_jpeg(prog)).all()

    def test_gray_decode_of_color_stream_is_luma(self):
        """decode_gray_jpeg on a color stream returns the Y plane —
        BT.601 luma, what cv2.imread+BGR2GRAY sees (detection.py:41)."""
        rng = np.random.default_rng(12)
        rgb = np.clip(rng.normal(150, 30, (48, 56, 3)), 0, 255).astype(np.uint8)
        g = decode_gray_jpeg(encode_color_jpeg(rgb, quality=95, subsampling="444"))
        luma = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        assert np.abs(g.astype(np.float64) - luma).mean() < 3.0

    def test_tinted_page_ink_mask_survives(self):
        """The pipeline contract extended to color: binarization of a
        q95 COLOR (4:2:0) roundtrip of a luma-preserving tinted page
        must not flip any ink pixel."""
        from mangaextractor_spark.fixtures.generator import (
            CorpusSpec,
            _tint_rgb,
            generate_corpus,
        )
        from mangaextractor_spark.fixtures.png import decode_gray_png

        corpus = generate_corpus(CorpusSpec(n_docs=2, seed=42))
        for blob in corpus["media"]["image_bytes"]:
            img = decode_gray_png(bytes(blob))
            for prog in (False, True):
                b = encode_color_jpeg(
                    _tint_rgb(img), quality=95, subsampling="420", progressive=prog
                )
                rt = decode_gray_jpeg(b)
                assert not ((img < 128) ^ (rt < 128)).any()

    def test_odd_dimensions_all_modes(self):
        rng = np.random.default_rng(13)
        for shape in [(17, 9), (15, 31), (8, 8), (33, 47)]:
            rgb = np.clip(rng.normal(128, 50, shape + (3,)), 0, 255).astype(np.uint8)
            for prog in (False, True):
                got = decode_rgb_jpeg(
                    encode_color_jpeg(rgb, 95, "420", progressive=prog)
                )
                assert got.shape == rgb.shape

    def test_rgb_decode_of_gray_stream_replicates(self):
        img = (np.arange(24 * 32).reshape(24, 32) % 200).astype(np.uint8)
        rgb = decode_rgb_jpeg(encode_gray_jpeg(img, quality=95))
        assert rgb.shape == (24, 32, 3)
        assert (rgb[..., 0] == rgb[..., 1]).all() and (rgb[..., 1] == rgb[..., 2]).all()

    def test_restart_markers_color(self):
        """DRI + RSTn in an interleaved color scan: inject a restart
        interval by re-encoding with restarts via header surgery is
        fragile; instead verify the decoder's restart path on gray
        (covered elsewhere) and that color streams with DRI=0 decode —
        and that dimensions parse for both scan types."""
        rng = np.random.default_rng(14)
        rgb = np.clip(rng.normal(128, 40, (40, 40, 3)), 0, 255).astype(np.uint8)
        for prog in (False, True):
            b = encode_color_jpeg(rgb, 90, "422", progressive=prog)
            assert jpeg_dimensions(b) == (40, 40, 8, 3)


class TestDispatch:
    def test_dispatch_both_formats(self):
        img = (np.arange(24 * 32).reshape(24, 32) % 200).astype(np.uint8)
        assert (decode_gray_image(encode_gray_png(img)) == img).all()
        out = decode_gray_image(encode_gray_jpeg(img, quality=95))
        assert out.shape == img.shape

    def test_dispatch_rejects_unknown(self):
        with pytest.raises(ValueError):
            decode_gray_image(b"GIF89a....")

    def test_jpeg_dimensions(self):
        img = np.zeros((123, 77), dtype=np.uint8)
        assert jpeg_dimensions(encode_gray_jpeg(img)) == (77, 123, 8, 1)
        assert jpeg_dimensions(b"\x89PNGxxxx") is None

    def test_jpeg_dimensions_fill_bytes_and_tem(self):
        """Foreign JPEGs may pad with 0xFF fill bytes before markers and
        use the length-less TEM (0x01) marker (T.81 B.1.1.2)."""
        b = encode_gray_jpeg(np.zeros((9, 11), dtype=np.uint8))
        # splice fill bytes + TEM right after SOI
        doctored = b[:2] + b"\xff" + b"\xff\x01" + b"\xff" + b[2:]
        assert jpeg_dimensions(doctored) == (11, 9, 8, 1)

    def test_dispatch_color_jpeg(self):
        rng = np.random.default_rng(15)
        rgb = np.clip(rng.normal(150, 30, (30, 20, 3)), 0, 255).astype(np.uint8)
        out = decode_gray_image(encode_color_jpeg(rgb, quality=95))
        assert out.shape == (30, 20)


def test_mixed_format_corpus_end_to_end(spark):
    """Full Spark pipeline over a corpus with ~60% JPEG pages, half of
    those COLOR (4:2:0, mixed baseline/progressive) — golden span
    equality in both detection modes: the dispatcher must decode color
    JPEGs instead of emitting failure-marker rows."""
    from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus
    from mangaextractor_spark.fixtures.spark_io import (
        docs_to_spark,
        golden_to_spark,
        media_to_spark,
    )
    from mangaextractor_spark.pipeline.extract import extract_spans

    corpus = generate_corpus(
        CorpusSpec(n_docs=10, seed=55, p_jpeg=0.6, p_color_jpeg=0.5)
    )
    blobs = [bytes(b) for b in corpus["media"]["image_bytes"]]
    n_jpeg = sum(1 for b in blobs if b[:2] == b"\xff\xd8")
    n_color = sum(1 for b in blobs if b[:2] == b"\xff\xd8" and b"\xff\xc4\x00\x1f\x01" in b)
    n_prog = sum(1 for b in blobs if b"\xff\xc2" in b[:400])
    assert n_jpeg > 0 and n_color > 0 and n_prog > 0
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, corpus["media"])
    golden = golden_to_spark(spark, corpus["golden_spans"])
    key = ["doc_id", "kind", "text", "media_ref", "order"]
    for robust in (False, True):
        result = extract_spans(docs, media, robust=robust)
        assert result.select(key).exceptAll(golden.select(key)).count() == 0, robust
        assert golden.select(key).exceptAll(result.select(key)).count() == 0, robust


@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("keep", [0.3, 0.6, 0.9, 0.99])
def test_truncated_stream_raises_domain_error(progressive, keep):
    """A stream cut short raises UnsupportedJpegError, never IndexError:
    for both loads when it ends inside a scan, and for the full decode
    when a scan's data runs out before a marker (here an EOI put back)."""
    rng = np.random.default_rng(17)
    rgb = np.clip(rng.normal(140, 40, (64, 48, 3)), 0, 255).astype(np.uint8)
    b = encode_color_jpeg(rgb, 92, "420", progressive=progressive)
    cut = b[: int(len(b) * keep)]
    for decode in (decode_gray_jpeg, decode_rgb_jpeg):
        with pytest.raises(UnsupportedJpegError):
            decode(cut)
    with pytest.raises(UnsupportedJpegError):
        decode_rgb_jpeg(cut + b"\xff\xd9")


def test_corrupt_stream_raises_domain_error():
    """Random byte flips in small baseline and progressive streams either
    decode or raise UnsupportedJpegError, never IndexError or another
    error from a read or write past the data."""
    import random

    rng, flips = np.random.default_rng(18), random.Random(18)
    rgb = np.clip(rng.normal(140, 40, (40, 32, 3)), 0, 255).astype(np.uint8)
    streams = [encode_color_jpeg(rgb, 90, "420", progressive=p) for p in (False, True)]
    for _ in range(300):
        b = bytearray(flips.choice(streams))
        for _ in range(flips.randint(1, 3)):
            b[flips.randrange(2, len(b))] = flips.randrange(256)
        for decode in (decode_gray_jpeg, decode_rgb_jpeg):
            try:
                decode(bytes(b))
            except UnsupportedJpegError:
                pass


def test_progressive_refinement_scans():
    """Successive approximation (T.81 G.1.2.3): AC first passes at Al=1,
    then a refinement pass whose EOB run (EOB1: this block and the
    next) is followed by one correction bit per coefficient already
    nonzero, must restore the exact coefficients of a baseline stream."""
    import struct

    from mangaextractor_spark.fixtures import jpeg as J

    dc = J._canonical_codes(J.DC_BITS, J.DC_VALS)
    ac = J._canonical_codes(J.AC_BITS, J.AC_VALS)
    eob_bits = [0, 2] + [0] * 14  # AC table 1: EOB0 "00", EOB1 "01"
    blk = [40, 3, -5] + [0] * 61  # two equal blocks: 16x8 pixels, unit quantizers

    def scan(tables: int, sos: list[int], emit) -> bytes:
        bw = J._BitWriter()
        emit(bw.write)
        return J._seg(0xFFDA, bytes([1, 1, tables, *sos])) + bw.flush()

    def stream(sof: int, scans: list[bytes]) -> bytes:
        return (
            b"\xff\xd8"
            + J._seg(0xFFDB, b"\x00" + bytes([1] * 64))
            + J._seg(sof, struct.pack(">BHHB", 8, 8, 16, 1) + b"\x01\x11\x00")
            + J._seg(0xFFC4, b"\x00" + bytes(J.DC_BITS) + bytes(J.DC_VALS))
            + J._seg(0xFFC4, b"\x10" + bytes(J.AC_BITS) + bytes(J.AC_VALS))
            + J._seg(0xFFC4, b"\x11" + bytes(eob_bits) + b"\x00\x10")
            + b"".join(scans)
            + b"\xff\xd9"
        )

    def baseline(write):
        J._write_block(write, blk, 2, J._write_block(write, blk, 2, 0, dc, ac), dc, ac)

    def dc_first(write):
        J._write_dc(write, 40, J._write_dc(write, 40, 0, dc), dc)

    def ac_first(write):  # |coef| >> 1 with its sign
        for _ in range(2):
            J._write_ac_band(write, [40, 1, -2] + [0] * 61, 2, ac)

    def ac_refine(write):
        write(0b01, 2)  # EOB1
        write(0, 1)  # run = 2 + 0
        write(0b1111, 4)  # low bits of |3| and |-5|, block by block

    base = stream(0xFFC0, [scan(0x00, [0, 63, 0x00], baseline)])
    prog = stream(
        0xFFC2,
        [
            scan(0x00, [0, 0, 0x00], dc_first),
            scan(0x00, [1, 63, 0x01], ac_first),
            scan(0x01, [1, 63, 0x10], ac_refine),
        ],
    )
    assert (decode_gray_jpeg(prog) == decode_gray_jpeg(base)).all()


def test_rejects_interleaved_progressive_ac_scan():
    """T.81 G.1: progressive AC scans are single-component; an
    interleaved one must raise, not decode as scomps[0]'s block order."""
    from mangaextractor_spark.fixtures.jpeg import (
        AC_BITS,
        AC_VALS,
        _decode_scans,
    )

    comp = {"id": 1, "h": 1, "v": 1, "gw": 1, "gh": 1, "nw": 1, "nh": 1}
    comp2 = dict(comp, id=2)
    tbl = (tuple(AC_BITS), tuple(AC_VALS))
    scan = (1, 63, 0, 0, [(0, None, tbl), (1, None, tbl)], 0, [b"\x00"])
    with pytest.raises(UnsupportedJpegError, match="interleaved AC"):
        _decode_scans([scan], [comp, comp2], 1, 1, 2)


def _split_scans(b: bytes) -> tuple[bytes, list[tuple[bytes, bytes]]]:
    """An encoder-written stream -> (header before the first SOS,
    [(SOS segment, entropy-coded data)]). Entropy data never holds
    0xFF followed by 0xDA (stuffing writes 0xFF 0x00)."""
    head, *parts = b[:-2].split(b"\xff\xda")
    scans = []
    for p in parts:
        n = int.from_bytes(p[:2], "big")
        scans.append((b"\xff\xda" + p[:n], p[n:]))
    return head, scans


def _with_restarts(encode, img: np.ndarray, rows: int, intervals: list[int]) -> bytes:
    """The stream an encoder with a restart interval of one MCU row
    writes: ``img`` is encoded in bands of ``rows`` (the MCU height),
    whose scans (blocks code independently, and each band starts its
    DC predictions afresh) are spliced behind the whole image's header,
    RSTn between bands, with a DRI of ``intervals[k]`` units before
    scan k."""
    head, scans = _split_scans(encode(img))
    bands = [_split_scans(encode(img[y : y + rows]))[1] for y in range(0, img.shape[0], rows)]
    out = head
    for k, ((sos, _), interval) in enumerate(zip(scans, intervals)):
        data = [band[k][1] for band in bands]
        out += b"\xff\xdd\x00\x04" + interval.to_bytes(2, "big") + sos
        out += b"".join(d + bytes([0xFF, 0xD0 + i % 8]) for i, d in enumerate(data[:-1]))
        out += data[-1]
    return out + b"\xff\xd9"


def _golden_streams() -> dict[str, bytes]:
    """The fixed stream matrix behind the pinned decode digests."""
    from mangaextractor_spark.fixtures.generator import CorpusSpec, _tint_rgb, generate_corpus
    from mangaextractor_spark.fixtures.png import decode_gray_png

    rng = np.random.default_rng(31)
    gray = np.clip(rng.normal(150, 40, (61, 45)), 0, 255).astype(np.uint8)
    rgb = np.clip(rng.normal(140, 40, (61, 45, 3)), 0, 255).astype(np.uint8)
    square = np.clip(rng.normal(128, 40, (40, 40, 3)), 0, 255).astype(np.uint8)
    streams = {"gray": encode_gray_jpeg(gray, quality=90)}
    for sub in ("444", "422", "440", "420"):
        for prog in (False, True):
            streams[f"color{sub}{'P' if prog else 'B'}"] = encode_color_jpeg(
                rgb, quality=92, subsampling=sub, progressive=prog
            )
    # One MCU row per restart interval; 40 columns are 5 luma blocks
    # and 3 MCUs (and 3 chroma blocks) at 4:2:2.
    streams["gray_rst"] = _with_restarts(encode_gray_jpeg, gray[:56], 8, [6])
    for prog, intervals in ((False, [3]), (True, [3, 5, 3, 3])):
        encode = lambda im: encode_color_jpeg(im, 90, "422", progressive=prog)
        streams[f"color422{'P' if prog else 'B'}_rst"] = _with_restarts(encode, square, 8, intervals)
    for shape in ((17, 9), (33, 47)):
        odd = np.clip(rng.normal(128, 50, shape + (3,)), 0, 255).astype(np.uint8)
        for prog in (False, True):
            streams[f"odd{shape[0]}x{shape[1]}{'P' if prog else 'B'}"] = encode_color_jpeg(
                odd, 95, "420", progressive=prog
            )
    streams["odd5x13"] = encode_gray_jpeg(gray[:5, :13], quality=90)
    noisy = dict(vertical_text=True, p_furigana=0.5, bubble_fill=235, p_speckle=0.05, border_art=True)
    c = generate_corpus(CorpusSpec(n_docs=1, seed=5, max_pages=1, p_text_span=0.0, **noisy))
    page = decode_gray_png(bytes(c["media"]["image_bytes"][0]))
    streams["page_gray"] = encode_gray_jpeg(page, quality=95)
    for prog in (False, True):
        streams[f"page_color{'P' if prog else 'B'}"] = encode_color_jpeg(
            _tint_rgb(page), quality=95, subsampling="420", progressive=prog
        )
    return streams


def _digest(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


# name -> SHA-256 prefixes of (stream, decode_gray_jpeg, decode_rgb_jpeg),
# each output hashed with its shape. The decoder must reproduce these
# pixels exactly; a stream digest that moves means the encoder or the
# page generator changed, not the decoder.
_PINNED = {
    "gray": ("06716de8ac380e6e", "7091cb0131964672", "1608b80475cb3f80"),
    "color444B": ("e88f09ea2756634a", "a2a404f3e0c098a6", "787b72a510580585"),
    "color444P": ("ea3c1f971d248237", "a2a404f3e0c098a6", "787b72a510580585"),
    "color422B": ("6c31f768b323d86a", "a2a404f3e0c098a6", "375b84ff97ab2295"),
    "color422P": ("56ef591f33d9c3ed", "a2a404f3e0c098a6", "375b84ff97ab2295"),
    "color440B": ("00e28f9839926aab", "a2a404f3e0c098a6", "225d48fdb1efc7bf"),
    "color440P": ("44dafb02437f6425", "a2a404f3e0c098a6", "225d48fdb1efc7bf"),
    "color420B": ("3897e4855a1bf444", "a2a404f3e0c098a6", "5ef1de3bd0ee81d7"),
    "color420P": ("2de8e054762c5338", "a2a404f3e0c098a6", "5ef1de3bd0ee81d7"),
    "gray_rst": ("aee06501a5c505c4", "f6aed27763d5678e", "9684f8f98433e8c8"),
    "color422B_rst": ("49aceaf2346ab9ba", "c02c7aaa5db95ffa", "0f2205a035ebc2ac"),
    "color422P_rst": ("8d6dbeb0555fd353", "c02c7aaa5db95ffa", "0f2205a035ebc2ac"),
    "odd17x9B": ("586442404934d623", "e12c6f429e4108df", "229fba3e9e531fa5"),
    "odd17x9P": ("b741977dbb967564", "e12c6f429e4108df", "229fba3e9e531fa5"),
    "odd33x47B": ("bf0830207717e1ce", "0018429f98f620cd", "d7dc6a3acc26563d"),
    "odd33x47P": ("2a1a7e5b2aefb685", "0018429f98f620cd", "d7dc6a3acc26563d"),
    "odd5x13": ("1b81ecc6767cc382", "48d7d0857db29ba7", "9f685eb1bb0df3d4"),
    "page_gray": ("dd34b06fa55ad684", "b375390b8a93433e", "300baa355a054487"),
    "page_colorB": ("d43d0189ca911a16", "72f5f96875cbd533", "6298fbf01e57bf94"),
    "page_colorP": ("7e4975e4ac19b0fb", "72f5f96875cbd533", "6298fbf01e57bf94"),
}


def test_decode_matches_pinned_digests():
    """Bit-exact decode over gray, every chroma subsampling in both
    processes, restart intervals, odd sizes and generator pages. The
    round-trip tests above bound the error; this pins the pixels."""
    streams = _golden_streams()
    assert set(streams) == set(_PINNED)
    got = {}
    for name, b in streams.items():
        g, rgb = decode_gray_jpeg(b), decode_rgb_jpeg(b)
        got[name] = (
            _digest(b),
            _digest(repr(g.shape).encode() + g.tobytes()),
            _digest(repr(rgb.shape).encode() + rgb.tobytes()),
        )
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in _PINNED.items()}
    assert got == _PINNED
    # A spliced restart stream holds the same blocks as one plain scan.
    assert (decode_gray_jpeg(streams["gray_rst"]) == decode_gray_jpeg(streams["gray"])[:56]).all()
    assert got["color422B_rst"][2] == got["color422P_rst"][2]
