"""Pytests for the REAL RIFF/WAV and PNG codecs (round 12) —
adversarial container checks independent of both engines."""

import struct
import zlib

import pytest

from vectordb_agentic_rag_spark.tables import REPO_ROOT
from vectordb_agentic_rag_spark.operators.binformats import (
    _PNG_SIG,
    _png_chunk,
    build_png_gray8,
    build_wav,
    decode_png_gray8,
    parse_wav,
)


def test_wav_roundtrip_including_odd_pad_and_unknown_chunk():
    for data in (b"", b"x", b"hello world pcm!!"):
        meta = parse_wav(build_wav(data, 16000, 2))
        assert meta["sample_rate"] == 16000
        assert meta["channels"] == 2
        assert meta["block_align"] == 4
        assert meta["n_frames"] == len(data) // 4


def test_wav_rejects_non_riff():
    with pytest.raises(ValueError):
        parse_wav(b"OggS" + b"\x00" * 40)


def test_png_roundtrip_pads_last_row_with_zeros():
    for n in (0, 1, 15, 16, 17, 255, 256):
        data = bytes(range(256))[:n]
        w, h, pix = decode_png_gray8(build_png_gray8(data, 16))
        assert w == 16
        assert h == max(-(-n // 16), 1)
        assert pix[:n] == data
        assert set(pix[n:]) <= {0}


def test_png_crc_corruption_raises():
    png = bytearray(build_png_gray8(b"abcdef", 16))
    png[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_gray8(bytes(png))


def test_png_sub_and_up_filter_reconstruction():
    """The builder only emits filter 0; real encoders emit 1/2 — pin
    the decoder's reconstruction against hand-filtered scanlines."""
    width = 4
    rows_px = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45])]

    def enc_sub(row):
        out = bytearray([1])
        prev = 0
        for b in row:
            out.append((b - prev) & 0xFF)
            prev = b
        return bytes(out)

    def enc_up(row, above):
        return bytes([2]) + bytes(
            (b - a) & 0xFF for b, a in zip(row, above)
        )

    raw = enc_sub(rows_px[0]) + enc_up(rows_px[1], rows_px[0])
    ihdr = struct.pack(">IIBBBBB", width, 2, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    _, _, pix = decode_png_gray8(png)
    assert pix == rows_px[0] + rows_px[1]


def test_png_invalid_filter_type_raises():
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    raw = bytes([5, 1, 2])  # filter 5 does not exist in the spec
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png_gray8(png)


def test_png_all_five_filters_roundtrip():
    """Round 14: builder filter-encodes row r with type r % 5; the
    decode must reproduce the original pixels for data that stresses
    wraparound (&0xFF) in every filter."""
    data = bytes((i * 137 + (i * i) % 251) % 256 for i in range(16 * 12))
    w, h, pix = decode_png_gray8(build_png_gray8(data, 16, filters="cycle"))
    assert (w, h) == (16, 12)
    assert pix == data


def test_png_average_filter_floors_the_halved_sum():
    """Average adds floor((left+up)/2): odd sums must truncate, not
    round — a hand-filtered two-row image where every (left+up) is
    odd pins the floor."""
    width = 3
    row0 = bytes([7, 9, 11])  # filter 0
    row1 = bytes([20, 30, 40])
    enc1 = bytearray([3])
    left = 0
    for i in range(width):
        enc1.append((row1[i] - (left + row0[i]) // 2) & 0xFF)
        left = row1[i]
    raw = bytes([0]) + row0 + bytes(enc1)
    ihdr = struct.pack(">IIBBBBB", width, 2, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    _, _, pix = decode_png_gray8(png)
    assert pix == row0 + row1


def test_png_paeth_tie_order_left_up_upleft():
    """Spec §9.4: ties pick left over up over upleft. Construct
    neighborhoods that tie pa==pb, pb==pc, and pa==pb==pc and check
    the decoder's predictor choice against the normative order."""
    from vectordb_agentic_rag_spark.operators.binformats import _paeth

    # with x=l-ul, y=u-ul: pa=|y|, pb=|x|, pc=|x+y|.
    # pa==pc tie (x=-2y): l=4, u=13, ul=10 -> pa=3, pb=6, pc=3 ->
    # LEFT beats upleft on the tie (returns 4, not 10)
    assert _paeth(4, 13, 10) == 4
    # pb==pc tie (y=-2x): l=13, u=4, ul=10 -> pa=6, pb=3, pc=3 ->
    # UP beats upleft on the tie (returns 4, not 10)
    assert _paeth(13, 4, 10) == 4
    # pc strictly smallest (ul midway): l=10, u=20, ul=15 -> pc=0
    assert _paeth(10, 20, 15) == 15
    # all equal: l=u=ul -> pa=pb=pc=0 -> left
    assert _paeth(9, 9, 9) == 9
    # decode check: one Paeth row whose predictions hit a tie
    width = 3
    row0 = bytes([10, 20, 15])
    row1 = bytes([12, 13, 14])
    enc1 = bytearray([4])
    for i in range(width):
        left = row1[i - 1] if i else 0
        upleft = row0[i - 1] if i else 0
        enc1.append((row1[i] - _paeth(left, row0[i], upleft)) & 0xFF)
    raw = bytes([0]) + row0 + bytes(enc1)
    ihdr = struct.pack(">IIBBBBB", width, 2, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    _, _, pix = decode_png_gray8(png)
    assert pix == row0 + row1


def test_tar_roundtrip_and_checksum_guard():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_tar,
        parse_tar,
    )

    text = "alpha beta gamma delta"
    m = parse_tar(build_tar(7, text))
    assert m["n_entries"] == 3
    assert m["doc_text"] == text
    assert m["total_size"] == len(text) + len(text) // 2 + 8 + 1
    raw = bytearray(build_tar(7, text))
    raw[0] ^= 0xFF  # corrupt the first header byte
    with pytest.raises(ValueError):
        parse_tar(bytes(raw))


def test_tar_truncated_data_raises():
    """Regression (round-12 review): an archive cut mid-data-block
    must raise, not return a silently truncated entry."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_tar,
        parse_tar,
    )

    full = build_tar(7, "alpha beta gamma delta " * 30)
    with pytest.raises(ValueError, match="truncated"):
        parse_tar(full[:700])


def test_wav_truncated_data_chunk_raises():
    """ADVICE r12: a payload cut mid-data must raise, not return
    header-derived frame counts for bytes that are not there."""
    full = build_wav(b"hello world pcm!!", 16000, 2)
    with pytest.raises(ValueError, match="truncated"):
        parse_wav(full[:-5])


def test_bmp_roundtrip_padding_and_bottom_up():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_bmp_gray8,
        decode_bmp_gray8,
    )

    for n in (0, 1, 17, 18, 19, 255, 256):
        data = bytes(range(256))[:n]
        w, h, pix = decode_bmp_gray8(build_bmp_gray8(data, 18))
        assert (w, h) == (18, max(-(-n // 18), 1))
        assert pix == data + b"\x00" * (w * h - n)


def test_bmp_rejects_non_bmp_and_truncation():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_bmp_gray8,
        decode_bmp_gray8,
    )

    with pytest.raises(ValueError):
        decode_bmp_gray8(b"PK\x03\x04" + b"\x00" * 60)
    full = build_bmp_gray8(bytes(range(200)), 18)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_gray8(full[:-10])


def _lzw_enc_base(min_size: int) -> dict:
    return {bytes([i]): i for i in range(1 << min_size)}


def _lzw_encode_gif_bytewise(data: bytes, min_size: int = 8) -> bytes:
    """Reference GIF-variant LZW encode (LSB-first variable-width
    codes, CLEAR/EOI, code width grows at 2^cs + 1 table entries,
    dictionary reset at 4096). The package decoder grows at 2^cs
    because it runs one table entry behind — the classic encoder/decoder
    offset. Kept as the plain bytes-keyed formulation the trie encoder
    is pinned byte-identical against
    (test_lzw_trie_encoder_matches_bytewise_reference)."""
    clear = 1 << min_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = _lzw_enc_base(min_size)
    next_code = eoi + 1
    code_size = min_size + 1
    put(clear, code_size)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        put(table[w], code_size)
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            put(clear, code_size)
            table = _lzw_enc_base(min_size)
            next_code = eoi + 1
            code_size = min_size + 1
        w = bytes([ch])
    if w:
        put(table[w], code_size)
    put(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_trie_encoder_matches_bytewise_reference():
    """The int-keyed trie encoder must emit byte-identical streams to
    the kept bytes-keyed reference over every adversarial shape: empty,
    KwKwK chains, width-growth boundaries, full-dictionary resets, and
    random data (the r14 keep-the-reference-and-pin pattern)."""
    import random

    from vectordb_agentic_rag_spark.operators.binformats import _lzw_encode_gif

    random.seed(11)
    cases = [
        b"",
        b"x",
        b"aaaaaaaaaaaaaaaa",
        b"abababababababab",
        bytes(range(256)) * 3,
        bytes([0]) * 6000,
        bytes(random.randrange(256) for _ in range(25000)),  # resets
        bytes(random.randrange(3) for _ in range(30000)),
    ]
    for c in cases:
        assert _lzw_encode_gif(c) == _lzw_encode_gif_bytewise(c), len(c)
    # non-default min_size exercises the seed-table width
    for ms in (2, 4, 7):
        data = bytes(random.randrange(1 << ms) for _ in range(4000))
        assert _lzw_encode_gif(data, ms) == _lzw_encode_gif_bytewise(
            data, ms
        ), ms
    # out-of-alphabet bytes fail LOUDLY on both (the reference has no
    # seed entry; the trie must not emit a colliding code silently)
    import pytest

    with pytest.raises(ValueError, match="alphabet"):
        _lzw_encode_gif(bytes([0, 1, 6]), 2)
    with pytest.raises(KeyError):
        _lzw_encode_gif_bytewise(bytes([0, 1, 6]), 2)


def test_gif_lzw_adversarial_roundtrips():
    """KwKwK self-reference, code-width growth, and >4096-entry
    dictionary resets all roundtrip; corruption raises."""
    import random

    from vectordb_agentic_rag_spark.operators.binformats import (
        _lzw_decode_gif,
        _lzw_encode_gif,
        build_gif_gray8,
        decode_gif_gray8,
    )

    random.seed(7)
    cases = [
        b"",
        b"a",
        b"aaaaaaaaaaaa",  # KwKwK chains
        b"abababababab",
        bytes(range(256)) * 2,
        bytes([0]) * 5000,
        bytes(random.randrange(256) for _ in range(20000)),  # resets
        bytes(random.randrange(4) for _ in range(30000)),
    ]
    for c in cases:
        assert _lzw_decode_gif(_lzw_encode_gif(c), 8) == c
    # container roundtrip incl. pad rows
    for n in (0, 1, 19, 20, 21, 256):
        data = bytes((i * 7) % 256 for i in range(n))
        w, h, pix = decode_gif_gray8(build_gif_gray8(data, 20))
        assert pix == data + b"\x00" * (w * h - n)
    # truncated LZW stream raises, wrong magic raises
    gif = build_gif_gray8(b"hello world pixels", 20)
    with pytest.raises(ValueError):
        decode_gif_gray8(b"NOTGIF" + gif[6:])
    with pytest.raises(ValueError):
        _lzw_decode_gif(_lzw_encode_gif(b"some pixel data", 8)[:-2], 8)


def test_gif_skips_extension_blocks():
    """A GIF89a graphic-control extension before the image descriptor
    must be skipped by its sub-block chain."""
    import struct as _s

    from vectordb_agentic_rag_spark.operators.binformats import (
        build_gif_gray8,
        decode_gif_gray8,
    )

    gif = bytearray(build_gif_gray8(b"abcdef", 20))
    # splice a GCE (0x21 0xF9, 4-byte block, terminator) before 0x2C
    at = gif.index(0x2C, 13 + 768)
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    patched = b"GIF89a" + bytes(gif[6:at]) + gce + bytes(gif[at:])
    w, h, pix = decode_gif_gray8(patched)
    assert pix[:6] == b"abcdef"


def test_tiff_both_byte_orders_and_multi_strip():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_tiff_gray8,
        decode_tiff_gray8,
    )

    for be in (False, True):
        for n in (0, 1, 23, 24, 95, 96, 97, 256):
            data = bytes((i * 11) % 256 for i in range(n))
            w, h, ns, pix = decode_tiff_gray8(
                build_tiff_gray8(data, 24, be)
            )
            exp_h = max(-(-n // 24), 1)
            assert (w, h, ns) == (24, exp_h, -(-exp_h // 4))
            assert pix == data + b"\x00" * (w * h - n)


def test_tiff_rejects_corruption():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_tiff_gray8,
        decode_tiff_gray8,
    )

    with pytest.raises(ValueError):
        decode_tiff_gray8(b"XX" + b"\x00" * 40)
    full = build_tiff_gray8(bytes(range(200)), 24, True)
    # bad magic number (42)
    broken = full[:2] + struct.pack(">H", 43) + full[4:]
    with pytest.raises(ValueError, match="magic"):
        decode_tiff_gray8(broken)


def test_gif_truncated_container_raises():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_gif_gray8,
        decode_gif_gray8,
    )

    gif = build_gif_gray8(b"hello world pixel data", 20)
    # cut mid data sub-block AND mid extension chain
    with pytest.raises((ValueError,)):
        decode_gif_gray8(gif[:-8])


def test_ulaw_full_range_error_bound_and_idempotence():
    """G.711 mu-law over the FULL int16 range: half-step error bound
    (<= 512 at segment 7), code range, and encode-decode-encode
    idempotence away from the +/-0 pair (real mu-law has two zero
    codes, 0x7F and 0xFF, so idempotence cannot hold at zero)."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        ulaw_decode_sample,
        ulaw_encode_sample,
    )

    worst = 0
    for x in range(-32768, 32768, 3):
        c = ulaw_encode_sample(x)
        assert 0 <= c <= 255
        if abs(x) <= 32635:
            worst = max(worst, abs(x - ulaw_decode_sample(c)))
    assert worst <= 512
    for x in (-30000, -200, -134, 133, 5000, 19968):
        c = ulaw_encode_sample(x)
        assert ulaw_encode_sample(ulaw_decode_sample(c)) == c
    # landmarks of THIS codec's sign convention (s=1 for negative,
    # then ones-complemented — so the emitted top bit is 0 for
    # negative samples): two zero codes 0xFF (+0) / 0x7F (-0), max
    # magnitude 0x80 (positive) / 0x00 (negative)
    assert ulaw_encode_sample(0) == 0xFF
    assert ulaw_encode_sample(-1) == 0x7F
    assert ulaw_encode_sample(32635) == 0x80
    assert ulaw_encode_sample(-32635) == 0x00


def test_gif_truncation_inside_every_region_raises_valueerror():
    """Round-13 review: truncation must raise ValueError (not
    struct.error/IndexError) wherever the cut lands — screen
    descriptor, global color table, extension chain, image
    descriptor, min-size byte, data sub-blocks."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_gif_gray8,
        decode_gif_gray8,
    )

    gif = bytearray(build_gif_gray8(b"abcdef pixels here", 20))
    at = gif.index(0x2C, 13 + 768)
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    with_ext = b"GIF89a" + bytes(gif[6:at]) + gce + bytes(gif[at:])
    ext_at = len(b"GIF89a") + (at - 6)
    cuts = [
        10,            # inside the logical screen descriptor
        13 + 100,      # inside the global color table
        ext_at + 3,    # inside the extension sub-block
        ext_at + len(gce) + 5,   # inside the image descriptor
        ext_at + len(gce) + 10,  # at the min-code-size byte
    ]
    for cut in cuts:
        with pytest.raises(ValueError):
            decode_gif_gray8(with_ext[:cut])


def test_jpeg_structure_roundtrip_and_guards():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_jpeg_structure,
        parse_jpeg_structure,
    )

    for did in (0, 1, 31, 32, 63):
        for n in (0, 1, 49, 50, 51, 256):
            data = bytes((i * 13) % 256 for i in range(n))
            p, w, h = build_jpeg_structure(did, data)
            m = parse_jpeg_structure(p)
            assert (m["width"], m["height"]) == (w, h)
            assert m["n_segments"] == 5 + did % 2
            assert m["entropy_bytes"] == n
            forced = set(range(49, n, 50))
            nat = sum(
                1
                for i, b in enumerate(data)
                if b == 0xFF and i not in forced
            )
            assert m["stuffed_bytes"] == len(forced) + nat
    # guards: no SOI, truncated segment, truncated entropy (no EOI)
    p, _, _ = build_jpeg_structure(3, b"abcdef" * 30)
    with pytest.raises(ValueError):
        parse_jpeg_structure(b"\x00\x00" + p[2:])
    with pytest.raises(ValueError):
        parse_jpeg_structure(p[:20])
    with pytest.raises(ValueError):
        parse_jpeg_structure(p[:-2])  # cut EOI
    # restart markers in the scan are skipped
    body = p[:-2] + b"\xff\xd3" + b"xyz" + b"\xff\xd9"
    m2 = parse_jpeg_structure(body)
    assert m2["entropy_bytes"] == 180 + 3


def test_tiff_truncation_inside_every_region_raises_valueerror():
    """ADVICE r13: TIFF must honor the same truncation contract as
    GIF/BMP — a payload cut at ANY offset raises ValueError, never
    struct.error and never silence. The builder lays out strips and
    out-of-line arrays BEFORE the IFD (which ends the file with its
    next-IFD pointer), so every cut shortens the IFD region and the
    length guards must all fire."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_tiff_gray8,
        decode_tiff_gray8,
    )

    for big_endian in (False, True):
        tiff = build_tiff_gray8(bytes(range(200)), 24, big_endian)
        assert decode_tiff_gray8(tiff)[3] is not None  # intact parses
        for cut in range(len(tiff)):
            with pytest.raises(ValueError):
                decode_tiff_gray8(tiff[:cut])


def test_gif_without_global_color_table_raises_loud_subset_error():
    """ADVICE r13: flags byte with the GCT bit clear must raise the
    loud subset error, not IndexError on an empty palette."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_gif_gray8,
        decode_gif_gray8,
    )

    gif = bytearray(build_gif_gray8(b"pixels", 20))
    gif[10] &= 0x7F  # clear the global-color-table flag
    with pytest.raises(NotImplementedError, match="global color table"):
        decode_gif_gray8(bytes(gif))


def _jpeg_reference_idct(coeffs):
    """Independent textbook IDCT (no term skipping, no shared cos
    table) for pinning the decoder's transform."""
    import math

    c = [1 / math.sqrt(2)] + [1.0] * 7
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        c[u] * c[v] * coeffs[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            p = int(round(s / 4.0)) + 128
            out.append(min(255, max(0, p)))
    return out


def _jpeg_with_scan(blocks_zz, width_blocks):
    """Wrap a crafted entropy scan in build_jpeg_gray8's container."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        _jpeg_encode_scan,
        build_jpeg_gray8,
    )

    shell = build_jpeg_gray8(bytes(len(blocks_zz)), width_blocks)
    sos_at = shell.find(b"\xff\xda")
    import struct as _s

    sos_len = _s.unpack(">H", shell[sos_at + 2 : sos_at + 4])[0]
    head = shell[: sos_at + 2 + sos_len]
    return head + _jpeg_encode_scan(blocks_zz) + b"\xff\xd9"


def test_jpeg_dc_only_roundtrip_exact():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_jpeg_gray8,
        decode_jpeg_gray8,
    )

    data = bytes(range(0, 250, 7)) + bytes([0, 255, 128, 1])
    w, h, pix = decode_jpeg_gray8(build_jpeg_gray8(data, 6))
    n_b = -(-len(data) // 6)
    padded = data + b"\x00" * (6 * n_b - len(data))
    assert (w, h) == (48, 8 * n_b)
    for bi, v in enumerate(padded):
        by, bx = divmod(bi, 6)
        for yy in range(8):
            for xx in range(8):
                assert pix[(by * 8 + yy) * w + bx * 8 + xx] == v


def test_jpeg_ac_paths_match_reference_idct():
    """AC run/size coding, ZRL (16-zero runs), EOB, negative
    coefficients, and a full-63-AC block must all survive the
    Huffman layer bit-exactly: the decoder's dequantized pixels must
    equal an independent IDCT of the crafted coefficients."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        _JPEG_ZIGZAG,
        decode_jpeg_gray8,
    )

    b1 = [0] * 64
    b1[0], b1[1], b1[5] = -40, 7, -3
    b2 = [0] * 64
    b2[0] = 100
    b2[20] = 1  # 19-zero run -> ZRL + run 3
    b2[63] = -1  # coefficient at the last zigzag position
    b3 = [0] * 64  # all-zero block (pure EOB after DC 0 diff)
    b4 = [i % 5 - 2 for i in range(64)]  # dense AC block
    blocks = [b1, b2, b3, b4]
    jpg = _jpeg_with_scan(blocks, 2)
    w, h, pix = decode_jpeg_gray8(jpg)
    assert (w, h) == (16, 16)
    for bi, bz in enumerate(blocks):
        coeffs = [0] * 64
        for k in range(64):
            coeffs[_JPEG_ZIGZAG[k]] = bz[k]  # quant table is all ones
        ref = _jpeg_reference_idct(coeffs)
        by, bx = divmod(bi, 2)
        got = [
            pix[(by * 8 + yy) * w + bx * 8 + xx]
            for yy in range(8)
            for xx in range(8)
        ]
        assert got == ref, f"block {bi} mismatch"


def test_jpeg_truncation_at_every_offset_raises():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_jpeg_gray8,
        decode_jpeg_gray8,
    )

    jpg = build_jpeg_gray8(b"jpeg truncation contract", 4)
    assert decode_jpeg_gray8(jpg)[2] is not None
    for cut in range(len(jpg)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_gray8(jpg[:cut])


def test_jpeg_subset_guards():
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_jpeg_gray8,
        decode_jpeg_gray8,
    )

    jpg = bytearray(build_jpeg_gray8(b"abc", 3))
    sof = jpg.find(b"\xff\xc0")
    jpg[sof + 1] = 0xC2  # progressive
    with pytest.raises(NotImplementedError):
        decode_jpeg_gray8(bytes(jpg))
    with pytest.raises(ValueError):
        decode_jpeg_gray8(b"\x89PNG\r\n\x1a\n")


def test_jpeg_decode_rejects_restart_intervals():
    """Review r14: restart markers reset DC prediction and byte-align
    — silently skipping them decodes wrong pixels, so the decoder
    must raise the loud subset error when one appears in the scan."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        build_jpeg_gray8,
        decode_jpeg_gray8,
    )

    jpg = build_jpeg_gray8(b"restart contract", 4)
    scan_end = jpg.rindex(b"\xff\xd9")
    with_rst = jpg[: scan_end - 2] + b"\xff\xd4" + jpg[scan_end - 2 :]
    with pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg_gray8(with_rst)


def test_rice_codec_roundtrip_and_truncation():
    from vectordb_agentic_rag_spark.operators.binformats import (
        rice_decode,
        rice_encode,
        zigzag_decode,
        zigzag_encode,
    )

    import random

    rnd = random.Random(17)
    for _ in range(100):
        vals = [rnd.randrange(0, 1000) for _ in range(rnd.randrange(0, 80))]
        k = rnd.randrange(0, 7)
        assert rice_decode(rice_encode(vals, k), k, len(vals)) == vals
    for v in (0, -1, 1, -128, 127, -255, 255, -4096, 4095):
        assert zigzag_decode(zigzag_encode(v)) == v
    # zigzag order: 0,-1,1,-2,2 -> 0,1,2,3,4
    assert [zigzag_encode(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    blob = rice_encode([9, 200, 3, 77], 3)
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            rice_decode(blob[:cut], 3, 4)
    with pytest.raises(ValueError):
        rice_encode([-1], 3)
    # closed-form bit count matches the packed length
    us = [9, 200, 3, 77]
    bits = sum((u >> 3) + 1 + 3 for u in us)
    assert (bits + 7) // 8 == len(blob)


def test_deflate_fixed_roundtrip_and_zlib_witness():
    from vectordb_agentic_rag_spark.operators.binformats import (
        deflate_fixed_encode,
        inflate_fixed,
    )

    import random
    import zlib

    rnd = random.Random(23)
    for _ in range(50):
        data = bytes(
            rnd.randrange(256) for _ in range(rnd.randrange(0, 400))
        )
        blob = deflate_fixed_encode(data)
        assert inflate_fixed(blob) == data
        # external standards witness: stdlib zlib must accept it
        assert zlib.decompressobj(-15).decompress(blob) == data


def test_inflate_decodes_zlib_fixed_lz77_and_stored_blocks():
    """The decoder must handle streams zlib itself produces: Z_FIXED
    strategy (fixed-Huffman LZ77 back-references) and level-0
    (stored blocks)."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        inflate_fixed,
    )

    import zlib

    rep = b"the quick brown fox " * 40
    z = zlib.compressobj(6, zlib.DEFLATED, -15, 9, zlib.Z_FIXED)
    blob = z.compress(rep) + z.flush()
    assert len(blob) < len(rep)  # matches actually fired
    assert inflate_fixed(blob) == rep
    z0 = zlib.compressobj(0, zlib.DEFLATED, -15)
    stored = z0.compress(rep) + z0.flush()
    assert inflate_fixed(stored) == rep


def test_inflate_truncation_and_guards():
    from vectordb_agentic_rag_spark.operators.binformats import (
        deflate_fixed_encode,
        inflate_fixed,
    )

    import zlib

    blob = deflate_fixed_encode(b"deflate truncation contract bytes")
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            inflate_fixed(blob[:cut])
    # a bare dynamic-block header is now a TRUNCATION (the decoder
    # reads the tree grammar), not a subset error
    dyn_hdr = bytes([0b101])  # BFINAL=1, BTYPE=10, LSB-first
    with pytest.raises(ValueError):
        inflate_fixed(dyn_hdr)
    with pytest.raises(ValueError, match="reserved"):
        inflate_fixed(bytes([0b111]))  # BTYPE=11
    # distance pointing before stream start must raise, not wrap:
    # craft header + length code with a distance of 1 at output pos 0
    from vectordb_agentic_rag_spark.operators.binformats import (
        _DeflateBitWriter,
        _fixed_lit_code,
    )

    w = _DeflateBitWriter()
    w.put_lsb(1, 1)
    w.put_lsb(0b01, 2)
    code, ln = _fixed_lit_code(257)  # length 3
    w.put_code(code, ln)
    w.put_code(0, 5)  # distance code 0 -> dist 1, but output is empty
    with pytest.raises(ValueError, match="distance"):
        inflate_fixed(w.flush())


# --- Parquet thrift footer parser ------------------------------------------


def test_thrift_varint_zigzag_roundtrip():
    from vectordb_agentic_rag_spark.operators.binformats import (
        _tc_varint,
        _tc_zigzag,
    )

    def enc_varint(v):
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    for v in [0, 1, 127, 128, 300, 2**31 - 1, 2**40]:
        got, pos = _tc_varint(enc_varint(v), 0)
        assert got == v and pos == len(enc_varint(v))
    # zigzag: 0->0, -1->1, 1->2, -2->3 ...
    for u, s in [(0, 0), (1, -1), (2, 1), (3, -2), (4, 2)]:
        assert _tc_zigzag(u) == s
    import pytest

    with pytest.raises(ValueError):
        _tc_varint(b"\x80\x80", 0)  # continuation bit never clears


def test_parquet_footer_parser_vs_pyarrow_witness(tmp_path):
    """Parse a file written by an INDEPENDENT writer (pyarrow, not
    Spark) and cross-check every extracted field against pyarrow's
    own metadata reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_agentic_rag_spark.operators.binformats import (
        _pqf_int64_stat,
        parse_parquet_footer,
    )

    ids = list(range(100, 0, -1)) + [None, None]
    tbl = pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                    "text_len": pa.array([i or 0 for i in ids],
                                         type=pa.int64())})
    path = tmp_path / "witness.parquet"
    pq.write_table(tbl, path, row_group_size=40)
    content = path.read_bytes()
    fmd = parse_parquet_footer(content)
    md = pq.ParquetFile(path).metadata
    assert fmd[3] == md.num_rows == 102
    assert len(fmd[4]) == md.num_row_groups == 3
    n_from_groups = 0
    mn = mx = None
    nulls = 0
    for rg in fmd[4]:
        n_from_groups += rg[3]
        for col in rg[1]:
            cm = col[3]
            if [p.decode() for p in cm[3]] != ["doc_id"]:
                continue
            st = cm[12]
            smin = _pqf_int64_stat(st, 6, 2)
            smax = _pqf_int64_stat(st, 5, 1)
            nulls += int(st.get(3, 0))
            mn = smin if mn is None else min(mn, smin)
            mx = smax if mx is None else max(mx, smax)
    assert n_from_groups == 102
    assert (mn, mx, nulls) == (1, 100, 2)


def test_parquet_footer_truncation_and_magic_guards(tmp_path):
    """Module decoder contract: every cut inside the footer region
    raises ValueError; corrupt magic raises; no silent results."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from vectordb_agentic_rag_spark.operators.binformats import (
        parse_parquet_footer,
    )

    tbl = pa.table({"doc_id": pa.array(range(50), type=pa.int64())})
    path = tmp_path / "t.parquet"
    pq.write_table(tbl, path)
    content = path.read_bytes()
    # corrupt magics
    with pytest.raises(ValueError):
        parse_parquet_footer(b"XXXX" + content[4:])
    with pytest.raises(ValueError):
        parse_parquet_footer(content[:-4] + b"XXXX")
    with pytest.raises(ValueError):
        parse_parquet_footer(content[:8])
    # every truncation that cuts the footer must raise: rebuild the
    # tail (footer || len || magic) from progressively shorter footers
    import struct

    flen = struct.unpack("<I", content[-8:-4])[0]
    footer = content[-8 - flen:-8]
    head = content[: len(content) - 8 - flen]
    for cut in range(len(footer)):
        trunc = footer[:cut]
        rebuilt = (
            head + trunc + struct.pack("<I", len(trunc)) + b"PAR1"
        )
        with pytest.raises(ValueError):
            parse_parquet_footer(rebuilt)
    # declared length exceeding the file must raise too
    rebuilt = head + footer + struct.pack("<I", flen + 10**6) + b"PAR1"
    with pytest.raises(ValueError):
        parse_parquet_footer(rebuilt)


# --- Parquet data pages: snappy / RLE / PLAIN ------------------------------


def test_snappy_decode_vs_pyarrow_witness():
    """Decode pyarrow-compressed payloads (independent compressor)
    including highly repetitive data that exercises overlapping
    copies and long literals."""
    import pyarrow as pa

    from vectordb_agentic_rag_spark.operators.binformats import (
        snappy_decode,
    )

    payloads = [
        b"",
        b"a",
        b"hello" * 1000,  # overlapping copy chains
        bytes(range(256)) * 5,  # long literals + copy2
        b"ab" * 40000,  # > 64k output, copy offsets wide
        bytes([7]) * 100000,  # maximal RLE-like run
    ]
    import random

    rng = random.Random(14)
    payloads.append(bytes(rng.randrange(256) for _ in range(5000)))
    for p in payloads:
        comp = pa.compress(p, codec="snappy", asbytes=True)
        assert snappy_decode(comp) == p


def test_snappy_truncation_and_corruption_guards():
    import pyarrow as pa
    import pytest

    from vectordb_agentic_rag_spark.operators.binformats import (
        snappy_decode,
    )

    comp = pa.compress(b"hello world " * 50, codec="snappy",
                       asbytes=True)
    for cut in range(1, len(comp)):
        trunc = comp[:cut]
        try:
            out = snappy_decode(trunc)
        except ValueError:
            continue
        # a prefix that happens to parse must not silently claim
        # the declared length was satisfied
        assert False, f"cut {cut} decoded {len(out)} bytes silently"
    # copy offset pointing before the start of output
    with pytest.raises(ValueError):
        snappy_decode(bytes([10, 0b00000101, 50, 0]))


def test_rle_bitpacked_hybrid_hand_vectors():
    from vectordb_agentic_rag_spark.operators.binformats import (
        rle_bitpacked_hybrid,
    )

    # RLE run: header 8 -> 4 copies of value 1 (1 byte wide)
    assert rle_bitpacked_hybrid(bytes([8, 1]), 1, 4) == [1, 1, 1, 1]
    # bit-packed: header 3 -> one group of 8 single-bit values
    # 0b10110100 LSB-first -> 0,0,1,0,1,1,0,1
    assert rle_bitpacked_hybrid(bytes([3, 0b10110100]), 1, 8) == [
        0, 0, 1, 0, 1, 1, 0, 1]
    # mixed: RLE 3x0 then bit-packed group, count truncates mid-group
    assert rle_bitpacked_hybrid(
        bytes([6, 0, 3, 0b00000111]), 1, 6) == [0, 0, 0, 1, 1, 1]
    # width 2: RLE value 2 repeated
    assert rle_bitpacked_hybrid(bytes([4, 2]), 2, 2) == [2, 2]
    import pytest

    with pytest.raises(ValueError):
        rle_bitpacked_hybrid(bytes([3]), 1, 8)  # missing group bytes


def test_parquet_int64_chunk_decode_vs_pyarrow_writer(tmp_path):
    """Decode a file written by the INDEPENDENT writer (pyarrow,
    snappy, no dictionary) including nulls, and cross-check values;
    dictionary-encoded files must raise the subset error."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from vectordb_agentic_rag_spark.operators.binformats import (
        decode_parquet_int64_chunk,
    )

    ids = [i * 7 - 3 for i in range(200)]
    with_nulls = [None if i % 13 == 0 else v
                  for i, v in enumerate(ids)]
    tbl = pa.table({"doc_id": pa.array(with_nulls, type=pa.int64())})
    path = tmp_path / "plain.parquet"
    pq.write_table(tbl, path, compression="snappy",
                   use_dictionary=False, row_group_size=64)
    vals, nulls = decode_parquet_int64_chunk(
        path.read_bytes(), "doc_id"
    )
    assert vals == [v for v in with_nulls if v is not None]
    assert nulls == sum(1 for v in with_nulls if v is None)

    # dictionary-encoded files decode too (round-14 second session:
    # dict page + RLE/bit-packed indices) — same values, same nulls
    dict_path = tmp_path / "dict.parquet"
    pq.write_table(tbl, dict_path, compression="snappy",
                   use_dictionary=True)
    dvals, dnulls = decode_parquet_int64_chunk(
        dict_path.read_bytes(), "doc_id"
    )
    assert dvals == vals and dnulls == nulls
    with pytest.raises(ValueError):
        decode_parquet_int64_chunk(path.read_bytes(), "nope")


def test_parquet_dictionary_chunk_low_cardinality_wide_and_1bit(
    tmp_path,
):
    """Dictionary index decode at different bit widths: cardinality 2
    (1-bit indices) and 300 (9-bit indices), with nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_agentic_rag_spark.operators.binformats import (
        decode_parquet_int64_chunk,
    )

    for card in (2, 300):
        raw = [
            None if i % 11 == 0 else (i * 17) % card
            for i in range(1000)
        ]
        tbl = pa.table({"v": pa.array(raw, type=pa.int64())})
        p = tmp_path / f"card{card}.parquet"
        pq.write_table(tbl, p, compression="snappy",
                       use_dictionary=True, row_group_size=256)
        vals, nulls = decode_parquet_int64_chunk(p.read_bytes(), "v")
        assert vals == [v for v in raw if v is not None]
        assert nulls == sum(1 for v in raw if v is None)


def test_inflate_dynamic_huffman_decodes_real_zlib_output():
    """Dynamic-Huffman completion witness: zlib.compress at every
    level (and a text corpus slice that forces dynamic trees) must
    decode bit-exactly; truncation at every cut must raise."""
    import zlib

    from vectordb_agentic_rag_spark.operators.binformats import inflate

    payloads = [
        b"the quick brown fox jumps over the lazy dog " * 50,
        bytes(range(256)) * 20,
        b"aabbccdd" * 1000,
        open(f"{REPO_ROOT}/README.md", "rb").read()[:8000],
    ]
    import random

    rng = random.Random(41)
    payloads.append(bytes(rng.randrange(64) for _ in range(4000)))
    saw_dynamic = False
    for p in payloads:
        for level in (1, 6, 9):
            raw = zlib.compress(p, level)[2:-4]  # strip zlib wrapper
            # detect a dynamic block in the stream (BTYPE bits 2-3
            # of the first byte, LSB-first)
            if (raw[0] >> 1) & 3 == 2:
                saw_dynamic = True
            assert inflate(raw) == p
    assert saw_dynamic, "no payload exercised a dynamic block"
    raw = zlib.compress(payloads[0], 9)[2:-4]
    for cut in range(len(raw)):
        with pytest.raises(ValueError):
            inflate(raw[:cut])


def test_thrift_bool_list_elements_consume_one_byte_each():
    """Review r14: element-context bools are 1 byte (1=true, 2=false)
    — a list<bool> field must not desync the struct walk."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        _tc_read_struct,
    )

    # struct { 1: list<bool> flags = [true, false, true]; 2: i64 7 }
    buf = bytes(
        [
            0x19,        # field delta 1, type LIST
            (3 << 4) | 1,  # 3 elements, elem type BOOL_TRUE class
            1, 2, 1,     # true, false, true
            0x16,        # field delta 1 (id 2), type I64
            14,          # zigzag(7)
            0x00,        # STOP
        ]
    )
    fields, pos = _tc_read_struct(buf, 0)
    assert fields[1] == [True, False, True]
    assert fields[2] == 7
    assert pos == len(buf)


def test_inflate_literal_only_dynamic_block_with_zero_dist_codes():
    """RFC 1951 allows HDIST=1 with a single zero-length distance
    code; a length symbol in such a block must raise, plain literals
    must decode. Craft the block by hand (zlib never emits this)."""
    from vectordb_agentic_rag_spark.operators.binformats import (
        _DeflateBitWriter,
        inflate,
    )

    # dynamic block: HLIT=257 (hlit=0), HDIST=1 (hdist=0), code-length
    # code assigning len 1 to symbols {0, 1}: lit tree over {256:'0'?}
    # Simplest legal layout: CL lengths: sym0->1, sym18->? ... use:
    # lit lengths: 'A'(65)=1, 256=1; dist lengths: [0]
    cl_len = {16: 0, 17: 2, 18: 2, 0: 2, 1: 2}
    order = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
             14, 1, 15]
    # lit lengths: 65 zeros, sym 65 len 1, 190 zeros, sym 256 len 1;
    # then the lone distance code with length 0 (hlit+hdist = 258)
    w2 = _DeflateBitWriter()
    w2.put_lsb(1, 1); w2.put_lsb(0b10, 2)
    w2.put_lsb(0, 5); w2.put_lsb(0, 5); w2.put_lsb(15, 4)
    for s in order:
        w2.put_lsb(cl_len.get(s, 0), 3)

    def put_cl2(sym):
        w2.put_code({0: 0b00, 1: 0b01, 17: 0b10, 18: 0b11}[sym], 2)

    put_cl2(18); w2.put_lsb(65 - 11, 7)
    put_cl2(1)
    put_cl2(18); w2.put_lsb(138 - 11, 7)
    put_cl2(18); w2.put_lsb(52 - 11, 7)
    put_cl2(1)
    put_cl2(0)  # the lone distance code: length 0
    # data: 'A' 'A' 'A' EOB — lit tree has 2 symbols of len 1:
    # canonical codes 65->0, 256->1
    for _ in range(3):
        w2.put_code(0, 1)
    w2.put_code(1, 1)
    assert inflate(w2.flush()) == b"AAA"


def _rice_decode_bitwise(data: bytes, k: int, n: int) -> list:
    """Reference per-bit decoder (the pre-optimization shape) — kept
    as the equivalence witness for rice_decode's window scan; pinned
    against it by pytest on random streams and every truncation."""
    out = []
    pos = 0
    total_bits = 8 * len(data)

    def read_bit() -> int:
        nonlocal pos
        if pos >= total_bits:
            raise ValueError("truncated Rice bitstream")
        b = (data[pos >> 3] >> (7 - (pos & 7))) & 1
        pos += 1
        return b

    for _ in range(n):
        q = 0
        while read_bit():  # read_bit raises at exhaustion, bounding q
            q += 1
        r = 0
        for _ in range(k):
            r = (r << 1) | read_bit()
        out.append((q << k) | r)
    return out


def test_rice_window_decoder_matches_bitwise_reference():
    """Round-14 optimization pin: rice_decode's 64-bit-window unary
    scan must agree with the per-bit reference decoder on values AND
    on the ValueError point at every truncation offset."""
    import random

    from vectordb_agentic_rag_spark.operators.binformats import (
        rice_decode,
        rice_encode,
    )

    rng = random.Random(41)
    for _ in range(60):
        k = rng.randrange(0, 8)
        n = rng.randrange(0, 50)
        vals = [rng.randrange(0, 1000) for _ in range(n)]
        blob = rice_encode(vals, k)
        assert rice_decode(blob, k, n) == vals
        assert _rice_decode_bitwise(blob, k, n) == vals
        for cut in range(len(blob)):
            try:
                got = ("ok", rice_decode(blob[:cut], k, n))
            except ValueError:
                got = ("raise",)
            try:
                ref = ("ok", _rice_decode_bitwise(blob[:cut], k, n))
            except ValueError:
                ref = ("raise",)
            assert got == ref


def test_jpeg_over_subscribed_dht_rejected():
    """A crafted DHT whose length counts violate Kraft (three codes of
    length 1) must raise at parse time: a non-prefix-free table is the
    one input where the peek-LUT and the bit-walk could legally
    disagree, so rejecting it makes their equivalence unconditional
    (r15 ADVICE item)."""
    import pytest

    from vectordb_agentic_rag_spark.operators.binformats import (
        _jpeg_canonical_codes,
        _jpeg_decode_tables,
    )

    bad_bits = [3] + [0] * 15  # 3 codes of length 1 > 2^1
    with pytest.raises(ValueError, match="over-subscribed"):
        _jpeg_canonical_codes(bad_bits, [0, 1, 2])
    body = bytes([0x00]) + bytes(bad_bits) + bytes([0, 1, 2])
    with pytest.raises(ValueError, match="over-subscribed"):
        _jpeg_decode_tables(body)
    # a saturated-but-valid table (2 codes of length 1) still parses
    ok_bits = [2] + [0] * 15
    codes = _jpeg_canonical_codes(ok_bits, [0, 1])
    assert codes == {0: (0, 1), 1: (1, 1)}


def test_jpeg_lut_huffman_matches_bitwise_walk():
    """Round-14 optimization pin: the peek-16 LUT decode must return
    the same symbols (and consume the same bits) as the per-bit
    prefix-map walk over a real Annex-K scan."""
    import random

    from vectordb_agentic_rag_spark.operators.binformats import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JpegBitReader,
        _jpeg_canonical_codes,
        _jpeg_huff_lut,
        _jpeg_read_huff,
        _jpeg_read_huff_fast,
        build_jpeg_gray8,
    )

    rng = random.Random(43)
    data = bytes(rng.randrange(256) for _ in range(80))
    jpg = build_jpeg_gray8(data, 8)
    # entropy data starts right after SOS: marker (2) + declared
    # segment length (8 = 2 length bytes + 6 body bytes)
    scan_at = jpg.index(b"\xff\xda") + 2 + 8
    for tbl_bits, tbl_vals in (
        (_JPEG_DC_BITS, _JPEG_DC_VALS),
        (_JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        codes = _jpeg_canonical_codes(list(tbl_bits), list(tbl_vals))
        table = {(c, ln): v for v, (c, ln) in codes.items()}
        lut = _jpeg_huff_lut(table)
        r1 = _JpegBitReader(jpg, scan_at)
        r2 = _JpegBitReader(jpg, scan_at)
        for _ in range(40):
            assert _jpeg_read_huff(r1, table) == _jpeg_read_huff_fast(
                r2, lut
            )
            assert r1.bitpos == r2.bitpos


def test_inflate_fixed_lut_matches_tree_walk_and_zlib():
    """Round-14 optimization pin: the fixed-Huffman LUT path must
    roundtrip every payload the per-bit tree walk did, stay
    zlib-acceptable, and keep the truncation contract at every cut."""
    import random
    import zlib

    import pytest

    from vectordb_agentic_rag_spark.operators.binformats import (
        deflate_fixed_encode,
        inflate,
    )

    rng = random.Random(47)
    for n in (0, 1, 150, 192):
        data = bytes(rng.randrange(256) for _ in range(n))
        blob = deflate_fixed_encode(data)
        assert inflate(blob) == data
        assert zlib.decompressobj(-15).decompress(blob) == data
    blob = deflate_fixed_encode(b"truncation contract fixed huffman")
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            inflate(blob[:cut])
    # LZ77 back-references through the LUT path: zlib level-9 output
    # on repetitive data uses fixed OR dynamic blocks; both must agree
    rep = (b"spark graft " * 40)[:400]
    raw = zlib.compress(rep, 9)[2:-4]
    assert inflate(raw) == rep
