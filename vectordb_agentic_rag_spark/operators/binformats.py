"""REAL binary media-container codecs — stdlib-only RIFF/WAVE and PNG
build + parse, extending the round-12 decode story (docformats.py
closed the reference's PDF/DOCX R1/R2 gap; this module upgrades the
image/audio side of the multimodal contract from fake-decode to a
REAL subset: actual chunk walking, actual CRC validation, actual
zlib-inflated scanlines with PNG filter reconstruction).

What is REAL here:
- WAV: a genuine RIFF container (struct-packed fmt/data chunks, an
  unknown LIST chunk the parser must SKIP by declared size, and the
  spec's odd-size pad byte) parsed by a chunk WALKER, not fixed
  offsets.
- PNG: a genuine PNG file (signature, IHDR/IDAT/IEND chunks each with
  a real CRC-32, IDAT a real zlib stream of filtered scanlines)
  decoded by verifying every chunk CRC (loud failure on corruption),
  inflating IDAT, and reconstructing rows for ALL FIVE filter types
  (None/Sub/Up/Average/Paeth since round 14) — the non-interlaced
  8-bit grayscale subset; interlacing is out of scope and raises.

The operators build payloads deterministically from fixture text
(this container has no media fixtures), decode them back with the
real parsers, and emit stats computed from the DECODED bytes; the
DuckDB oracle recomputes the expected stats from the raw fixture
independently, so a value-hash match proves the container layout,
CRCs, compression, and filter reconstruction all roundtrip exactly
(the docformats.py contract, extended to audio/image containers).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import SCRATCH, table

# --- RIFF / WAVE ---------------------------------------------------------

_WAV_RATES = [8000, 16000, 44100]


def build_wav(
    data: bytes, sample_rate: int, channels: int, bits: int = 16
) -> bytes:
    """Genuine RIFF/WAVE bytes: RIFF header, a LIST chunk (parser must
    skip unknown chunks by size), the fmt chunk, and the data chunk
    with the spec's pad byte when the payload length is odd."""
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits
    )
    chunks = b""
    skip_me = b"INFOsoftware-tag"
    chunks += b"LIST" + struct.pack("<I", len(skip_me)) + skip_me
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunks += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav(payload: bytes) -> dict:
    """REAL RIFF chunk walker: validates the RIFF/WAVE magic, steps
    chunk to chunk by each declared size (honoring the odd-size pad
    byte), reads the fmt fields with struct, and sizes the data chunk.
    Raises loudly on malformed containers — never silent wrong data."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data_len = None
    end = 8 + struct.unpack("<I", payload[4:8])[0]
    while pos + 8 <= min(end, len(payload)):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated {cid!r} chunk: declared {size} bytes, "
                f"{len(body)} present"
            )
        if cid == b"fmt ":
            (audio_fmt, channels, rate, byte_rate, block, bits) = (
                struct.unpack("<HHIIHH", body[:16])
            )
            fmt = {
                "audio_fmt": audio_fmt,
                "channels": channels,
                "sample_rate": rate,
                "byte_rate": byte_rate,
                "block_align": block,
                "bits": bits,
            }
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size % 2)
    if fmt is None or data_len is None:
        raise ValueError("missing fmt or data chunk")
    fmt["n_frames"] = data_len // fmt["block_align"]
    return fmt


@query(
    "multimodal_wav_riff_parse",
    oracle=f"""
    SELECT doc_id,
           CAST({_WAV_RATES}[CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
             AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST({_WAV_RATES}[CAST(doc_id % 3 AS INT) + 1]
                * (1 + doc_id % 2) * 2 AS BIGINT) AS byte_rate,
           CAST(octet_length(encode(text))
                // ((1 + doc_id % 2) * 2) AS BIGINT) AS n_frames,
           CAST(octet_length(encode(text)) // ((1 + doc_id % 2) * 2)
                * 1000000
                // {_WAV_RATES}[CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
             AS duration_us
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_wav_riff_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL WAV CONTAINER PARSE — audio-side upgrade of the multimodal
    contract (reference R1/R2 analogue: typed metadata extraction from
    an opaque binary column): each doc's text bytes become the PCM
    payload of a GENUINE RIFF/WAVE file (build_wav: struct-packed
    chunks, an unknown LIST chunk, odd-size padding) with a
    doc-derived sample rate (8k/16k/44.1k by doc_id%3) and channel
    count (1+doc_id%2, 16-bit); parse_wav then walks the chunks for
    real and the op emits the PARSED fmt fields plus frame count and
    integer-exact duration. The oracle recomputes every column from
    doc_id/text arithmetic alone — a hash match proves the container
    layout and the walker agree byte-for-byte.

    Parity: all columns are exact integers (duration in µs via
    integer div, never float seconds).

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; production drops the builder and points parse_wav at a
    real binary column (the parser already skips vendor chunks)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "sample_rate": [],
                "channels": [],
                "byte_rate": [],
                "n_frames": [],
                "duration_us": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                rate = _WAV_RATES[int(doc_id) % 3]
                ch = 1 + int(doc_id) % 2
                wav = build_wav(text.encode("utf-8"), rate, ch)
                meta = parse_wav(wav)
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(meta["sample_rate"])
                rows["channels"].append(meta["channels"])
                rows["byte_rate"].append(meta["byte_rate"])
                rows["n_frames"].append(meta["n_frames"])
                rows["duration_us"].append(
                    meta["n_frames"] * 1_000_000 // meta["sample_rate"]
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, sample_rate bigint, channels bigint, "
        "byte_rate bigint, n_frames bigint, duration_us bigint",
    ).orderBy("doc_id")


# --- PNG -----------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_W = 16
_PNG_MAX_BYTES = 256


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def _paeth(left: int, up: int, upleft: int) -> int:
    """Paeth predictor (PNG spec §9.4): pick the neighbor closest to
    left + up - upleft, ties broken left, then up, then upleft — the
    tie order is normative and a decoder that breaks ties differently
    corrupts real images."""
    p = left + up - upleft
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
    if pa <= pb and pa <= pc:
        return left
    if pb <= pc:
        return up
    return upleft


def build_png_gray8(
    pixels: bytes, width: int, filters: str = "none"
) -> bytes:
    """Genuine non-interlaced 8-bit grayscale PNG: IHDR + one zlib
    IDAT + IEND, every chunk with its real CRC-32. The last row is
    zero-padded to the full width. filters="none" writes filter-0
    scanlines; filters="cycle" filter-encodes row r with type r % 5
    (None/Sub/Up/Average/Paeth) so a decode roundtrip exercises every
    unfilter path the spec defines."""
    height = -(-len(pixels) // width) if pixels else 1
    padded = pixels + b"\x00" * (width * height - len(pixels))
    raw = bytearray()
    prev = bytes(width)
    for r in range(height):
        row = padded[r * width : (r + 1) * width]
        ftype = (r % 5) if filters == "cycle" else 0
        raw.append(ftype)
        for i in range(width):
            left = row[i - 1] if i else 0
            if ftype == 0:
                enc = row[i]
            elif ftype == 1:  # Sub
                enc = row[i] - left
            elif ftype == 2:  # Up
                enc = row[i] - prev[i]
            elif ftype == 3:  # Average
                enc = row[i] - (left + prev[i]) // 2
            else:  # Paeth
                enc = row[i] - _paeth(left, prev[i], prev[i - 1] if i else 0)
            raw.append(enc & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray8(payload: bytes) -> tuple[int, int, bytes]:
    """REAL (subset) PNG decode, stdlib-only: verify the signature,
    walk chunks VERIFYING EVERY CRC-32 (corruption raises — never
    silent wrong pixels), parse IHDR, inflate the concatenated IDAT
    zlib stream, and reconstruct scanlines for ALL FIVE filter types
    (None/Sub/Up/Average/Paeth — round 14 closed the Average/Paeth
    gap; Paeth tie order left>up>upleft per spec §9.4). Returns
    (width, height, pixel bytes). Subset limit (documented, enforced
    loudly): non-interlaced 8-bit grayscale."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    idat = b""
    while pos + 8 <= len(payload):
        size = struct.unpack(">I", payload[pos : pos + 4])[0]
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        crc = struct.unpack(
            ">I", payload[pos + 8 + size : pos + 12 + size]
        )[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, bitd, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if (bitd, color, interlace) != (8, 0, 0):
                raise NotImplementedError(
                    "decoder subset: non-interlaced 8-bit grayscale"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    raw = zlib.decompress(idat)
    stride = width + 1
    prev = bytearray(width)
    out = bytearray()
    for r in range(height):
        row = bytearray(raw[r * stride + 1 : (r + 1) * stride])
        ftype = raw[r * stride]
        if ftype == 1:  # Sub: add left neighbor
            for i in range(1, width):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:  # Up: add the pixel above
            for i in range(width):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average: add floor((left + up) / 2)
            for i in range(width):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth: add the Paeth predictor
            for i in range(width):
                left = row[i - 1] if i else 0
                upleft = prev[i - 1] if i else 0
                row[i] = (row[i] + _paeth(left, prev[i], upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out += row
        prev = row
    return width, height, bytes(out)


@query(
    "multimodal_png_decode_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_PNG_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_PNG_MAX_BYTES})))
               AS n
      FROM documents)
    SELECT doc_id,
           CAST({_PNG_W} AS BIGINT) AS width,
           CAST(greatest(ceil(n / {_PNG_W}.0), 1) AS BIGINT) AS height,
           CAST({_PNG_W} * greatest(ceil(n / {_PNG_W}.0), 1) AS BIGINT)
             AS n_pixels,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(s, ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(s, ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> a + b) AS DOUBLE)
                / ({_PNG_W} * greatest(ceil(n / {_PNG_W}.0), 1)), 6)
             AS pixel_mean
    FROM px
    ORDER BY doc_id
    """,
)
def multimodal_png_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL PNG DECODE — the image half of the multimodal contract,
    upgraded from the documented fake-decode stub to a genuine subset
    decoder (multimodal.py:decode_image stays the PIL extension point
    for full-format coverage): the first 256 bytes of each doc become
    the pixels of a REAL 16-wide 8-bit grayscale PNG (zlib IDAT,
    per-chunk CRC-32, row r filter-ENCODED with type r % 5 — so every
    doc's decode exercises all five spec filters, Average and Paeth
    included since round 14), and decode_png_gray8 walks the chunks,
    VERIFIES every CRC, inflates the stream, reconstructs the
    scanlines, and the op emits stats computed from the DECODED
    pixels (dimensions, exact pixel sum including the zero pad,
    round(6) mean). The oracle recomputes everything from raw text —
    a hash match proves signature, chunk layout, CRCs, compression,
    and the five filter reconstructions are all exact.

    Parity: pixel_sum is an exact BIGINT (ASCII fixture: bytes ==
    chars); the single division is the same round(6) on both sides.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; production drops the builder and decodes a real binary
    column (CRC verification already rejects corrupt payloads
    loudly)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "n_pixels": [],
                "pixel_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_PNG_MAX_BYTES]
                png = build_png_gray8(data, _PNG_W, filters="cycle")
                w, h, pix = decode_png_gray8(png)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["pixel_sum"].append(sum(pix))
            yield pd.DataFrame(rows)

    # pixel_mean rounds IN SPARK SQL (not Python round(), which is
    # banker's and can flip an exact half at digit 7 vs DuckDB)
    return (
        d.mapInPandas(
            run,
            "doc_id bigint, width bigint, height bigint, "
            "n_pixels bigint, pixel_sum bigint",
        )
        .withColumn(
            "pixel_mean",
            F.expr("round(CAST(pixel_sum AS DOUBLE) / n_pixels, 6)"),
        )
        .orderBy("doc_id")
    )


# --- ZIP archive ----------------------------------------------------------


def _archive_manifest_runner(parse_build, size_key: str):
    """Shared mapInPandas closure for the archive-manifest twins: build
    the container from (doc_id, text), parse it back, emit entry count
    + size + md5 of the doc.txt body read back through the container
    (factored after the round-12 review flagged the two copies)."""
    import hashlib

    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = {
                "doc_id": [],
                "n_entries": [],
                size_key: [],
                "doc_md5": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                m = parse_build(int(doc_id), text)
                rows["doc_id"].append(doc_id)
                rows["n_entries"].append(m["n_entries"])
                rows[size_key].append(m[size_key])
                rows["doc_md5"].append(
                    hashlib.md5(m["doc_text"].encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(rows)

    return run


def build_archive(doc_id: int, text: str) -> bytes:
    """Genuine multi-entry ZIP archive: the full doc (deflated), a
    JSON metadata entry (stored), and the doc's first half (deflated)
    — mixed compression methods so the parser proves it handles both.
    Deterministic timestamps for stable bytes."""
    import io
    import zipfile

    half = text[: len(text) // 2]
    meta = '{"id": %d}' % doc_id
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data, comp in (
            ("doc.txt", text, zipfile.ZIP_DEFLATED),
            ("meta.json", meta, zipfile.ZIP_STORED),
            ("half.txt", half, zipfile.ZIP_DEFLATED),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = comp
            z.writestr(zi, data)
    return buf.getvalue()


def parse_archive(payload: bytes) -> dict:
    """REAL ZIP manifest parse + content verification: read the
    central directory via stdlib zipfile, then READ every entry back
    (zipfile verifies each entry's CRC-32 on read — corruption raises,
    never silent). Returns entry count, total uncompressed size, and
    the doc.txt body."""
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        infos = z.infolist()
        total = sum(i.file_size for i in infos)
        bodies = {i.filename: z.read(i.filename) for i in infos}
    return {
        "n_entries": len(infos),
        "total_uncompressed": total,
        "doc_text": bodies["doc.txt"].decode("utf-8"),
    }


@query(
    "multimodal_zip_archive_manifest",
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_entries,
           CAST(octet_length(encode(text))
                + octet_length(encode(substring(text, 1,
                      CAST(length(text) // 2 AS INT))))
                + 8 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
             AS total_uncompressed,
           md5(text) AS doc_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_zip_archive_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL ZIP ARCHIVE MANIFEST — the archive-ingestion stage (web
    corpora and document dumps arrive as multi-file archives; the
    first pipeline step lists and CRC-verifies entries before any
    decode): each doc becomes a GENUINE 3-entry ZIP (full text
    deflated, JSON metadata stored, half-text deflated) and
    parse_archive reads the central directory AND every entry body
    back — stdlib zipfile verifies each entry's CRC-32 on read, so a
    corrupt archive raises. Emits the entry count, the total
    uncompressed payload, and the md5 of the doc.txt body READ BACK
    THROUGH the archive; the oracle recomputes all three from raw
    text ('{"id": N}' is 8 chars plus the digits of N), so the hash
    check proves the container write/read is lossless across both
    compression methods.

    Parity: ASCII fixture (bytes == chars), exact integers, shared
    md5.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; production points parse_archive at a real binary
    column of crawled archives."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    run = _archive_manifest_runner(
        lambda i, t: parse_archive(build_archive(i, t)),
        "total_uncompressed",
    )
    return d.mapInPandas(
        run,
        "doc_id bigint, n_entries bigint, total_uncompressed bigint, "
        "doc_md5 string",
    ).orderBy("doc_id")


# --- TAR (ustar) ----------------------------------------------------------


def build_tar(doc_id: int, text: str) -> bytes:
    """Genuine POSIX ustar archive with the same three logical entries
    as the ZIP twin (doc.txt / meta.json / half.txt), fixed mtime for
    byte-stable output."""
    import io
    import tarfile

    half = text[: len(text) // 2]
    meta = '{"id": %d}' % doc_id
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as t:
        for name, data in (
            ("doc.txt", text),
            ("meta.json", meta),
            ("half.txt", half),
        ):
            b = data.encode("utf-8")
            ti = tarfile.TarInfo(name)
            ti.size = len(b)
            ti.mtime = 0
            t.addfile(ti, io.BytesIO(b))
    return buf.getvalue()


def parse_tar(payload: bytes) -> dict:
    """REAL ustar header walk — NOT the tarfile module: steps 512-byte
    blocks by hand, validates the 'ustar' magic and each header's
    OCTAL CHECKSUM (sum of header bytes with the checksum field
    blanked — corruption raises), parses octal size fields, and reads
    each entry's data blocks (padded to 512). Returns entry count,
    total payload size, and doc.txt's body."""
    entries = {}
    pos = 0
    while pos + 512 <= len(payload):
        hdr = payload[pos : pos + 512]
        if hdr == b"\x00" * 512:
            break
        if hdr[257:262] != b"ustar":
            raise ValueError("not a ustar header")
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        blanked = hdr[:148] + b" " * 8 + hdr[156:]
        if sum(blanked) != stored:
            raise ValueError("tar header checksum mismatch")
        name = hdr[0:100].split(b"\x00")[0].decode("utf-8")
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        data = payload[pos + 512 : pos + 512 + size]
        if len(data) < size:
            raise ValueError(
                f"truncated tar: entry {name!r} declares {size} bytes,"
                f" {len(data)} present"
            )
        entries[name] = data
        pos += 512 + ((size + 511) // 512) * 512
    if not entries:
        raise ValueError("empty tar archive")
    return {
        "n_entries": len(entries),
        "total_size": sum(len(v) for v in entries.values()),
        "doc_text": entries["doc.txt"].decode("utf-8"),
    }


@query(
    "multimodal_tar_archive_manifest",
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_entries,
           CAST(octet_length(encode(text))
                + octet_length(encode(substring(text, 1,
                      CAST(length(text) // 2 AS INT))))
                + 8 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
             AS total_size,
           md5(text) AS doc_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_tar_archive_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL TAR (ustar) MANIFEST — the other archive format crawl
    dumps arrive in (WARC-adjacent tooling, model checkpoints,
    dataset releases): the builder writes a genuine POSIX ustar
    archive via the stdlib, and parse_tar walks the 512-byte blocks
    BY HAND — validating the ustar magic and each header's octal
    CHECKSUM (corruption raises), parsing octal size fields, stepping
    data blocks with 512-byte padding. Same emitted columns and
    oracle recomputation as the ZIP twin, so the two manifests are
    directly comparable and the hash check proves the hand-rolled
    header walk agrees with the stdlib writer byte-for-byte.

    Parity: ASCII fixture, exact integers, shared md5.

    Shape at 100 TB: one mapInPandas, no shuffle; the parser reads
    headers + referenced blocks only."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    run = _archive_manifest_runner(
        lambda i, t: parse_tar(build_tar(i, t)), "total_size"
    )
    return d.mapInPandas(
        run,
        "doc_id bigint, n_entries bigint, total_size bigint, "
        "doc_md5 string",
    ).orderBy("doc_id")


# --- BMP (DIB) ------------------------------------------------------------

_BMP_W = 18  # deliberately NOT a multiple of 4: exercises row padding
_BMP_MAX_BYTES = 256


def build_bmp_gray8(pixels: bytes, width: int) -> bytes:
    """Genuine 8-bit paletted BMP: BITMAPFILEHEADER + 40-byte
    BITMAPINFOHEADER + a 256-entry grayscale BGRA palette + pixel rows
    stored BOTTOM-UP with each row zero-padded to a 4-byte boundary
    (the two DIB quirks every real decoder must handle)."""
    height = max(-(-len(pixels) // width), 1)
    padded = pixels + b"\x00" * (width * height - len(pixels))
    stride = (width + 3) & ~3
    rows = b"".join(
        padded[r * width : (r + 1) * width].ljust(stride, b"\x00")
        for r in range(height - 1, -1, -1)  # bottom-up
    )
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    data_off = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(rows),
        2835, 2835, 256, 0,
    )
    file_hdr = struct.pack(
        "<2sIHHI", b"BM", data_off + len(rows), 0, 0, data_off
    )
    return file_hdr + info + palette + rows


def decode_bmp_gray8(payload: bytes) -> tuple[int, int, bytes]:
    """REAL (subset) BMP decode, stdlib-only: validate the BM magic,
    parse both headers, read the palette, and reassemble pixels from
    the bottom-up, stride-padded rows — returning them TOP-DOWN
    through the palette's blue channel (a decoder that ignores the
    palette only happens to work on grayscale files). Subset limits
    (loud, never silent): 8-bit uncompressed with a positive height;
    anything else raises."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size, width, height, planes, bpp, comp = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if hdr_size != 40 or bpp != 8 or comp != 0 or height <= 0:
        raise NotImplementedError(
            "decoder subset: 40-byte header, 8-bit, uncompressed, "
            "bottom-up"
        )
    n_colors = struct.unpack("<I", payload[46:50])[0] or 256
    pal_off = 14 + hdr_size
    palette = payload[pal_off : pal_off + 4 * n_colors]
    if len(palette) < 4 * n_colors:
        raise ValueError("truncated palette")
    blue = palette[0::4]
    stride = (width + 3) & ~3
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError(
            f"truncated pixel data: need {need}, have {len(payload)}"
        )
    out = bytearray()
    for r in range(height - 1, -1, -1):
        row = payload[data_off + r * stride : data_off + r * stride + width]
        out += bytes(blue[b] for b in row)
    return width, height, bytes(out)


@query(
    "multimodal_bmp_decode_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_BMP_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_BMP_MAX_BYTES})))
               AS n
      FROM documents)
    SELECT doc_id,
           CAST({_BMP_W} AS BIGINT) AS width,
           CAST(greatest(ceil(n / {_BMP_W}.0), 1) AS BIGINT) AS height,
           CAST({_BMP_W} * greatest(ceil(n / {_BMP_W}.0), 1) AS BIGINT)
             AS n_pixels,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(s, ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           CAST(ascii(substring(s, 1, 1)) AS BIGINT) AS first_px,
           round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(s, ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> a + b) AS DOUBLE)
                / ({_BMP_W} * greatest(ceil(n / {_BMP_W}.0), 1)), 6)
             AS pixel_mean
    FROM px
    ORDER BY doc_id
    """,
)
def multimodal_bmp_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL BMP DECODE ROUNDTRIP — third image/audio container after
    PNG and WAV (round 13; same multimodal-contract upgrade): the
    first 256 doc bytes become the pixels of a GENUINE 18-wide 8-bit
    paletted BMP — width 18 deliberately breaks 4-byte alignment so
    every row exercises the DIB stride padding, and rows are stored
    BOTTOM-UP as the format requires — then decode_bmp_gray8 parses
    both headers, maps pixels through the palette's blue channel, and
    re-flips the rows. Emitted stats (dims, exact pixel sum including
    pad, first decoded pixel, round(6) mean) come from the DECODED
    bytes; the oracle recomputes them from raw text — a hash match
    proves offsets, stride, palette, and row order all roundtrip.
    first_px is the corner case a flipped-row decoder gets wrong
    (it would emit a pad byte or a last-row byte instead).

    Parity: ASCII fixture bytes == chars; single round(6) division.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle (see the PNG twin)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "n_pixels": [],
                "pixel_sum": [],
                "first_px": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_BMP_MAX_BYTES]
                bmp = build_bmp_gray8(data, _BMP_W)
                w, h, pix = decode_bmp_gray8(bmp)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["pixel_sum"].append(sum(pix))
                rows["first_px"].append(pix[0])
            yield pd.DataFrame(rows)

    return (
        d.mapInPandas(
            run,
            "doc_id bigint, width bigint, height bigint, "
            "n_pixels bigint, pixel_sum bigint, first_px bigint",
        )
        .withColumn(
            "pixel_mean",
            F.expr("round(CAST(pixel_sum AS DOUBLE) / n_pixels, 6)"),
        )
        .orderBy("doc_id")
    )


# --- GIF (LZW) ------------------------------------------------------------

_GIF_W = 20
_GIF_MAX_BYTES = 256


_LZW_BASE_DEC: dict = {}  # min_size -> [bytes([i]), ...] seed list


def _lzw_dec_base(min_size: int) -> list:
    base = _LZW_BASE_DEC.get(min_size)
    if base is None:
        base = [bytes([i]) for i in range(1 << min_size)] + [b"", b""]
        _LZW_BASE_DEC[min_size] = base
    return base


def _lzw_encode_gif(data: bytes, min_size: int = 8) -> bytes:
    """Trie-form GIF LZW encode, byte-identical to the bytewise
    reference in tests/test_binformats.py: the dictionary keys on (prefix_code << 8) | byte
    instead of the growing prefix STRING, so the per-char hot path is
    one int shift/or + one dict probe — no bytes([ch]) allocation, no
    O(len) prefix concatenation, no per-reset rebuild of the 256-entry
    seed table (single bytes ARE their own codes). Same emission
    points, widths, CLEAR/EOI placement and reset behaviour — pinned
    over KwKwK chains, width growth and 4096-entry resets."""
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

    table: dict[int, int] = {}  # (prefix_code << 8) | next_byte -> code
    next_code = eoi + 1
    code_size = min_size + 1
    put(clear, code_size)
    max_seed = clear - 1
    wcode = -1  # current prefix's code; seed bytes map to themselves
    for ch in data:
        if ch > max_seed:
            # the bytewise reference fails loudly here (no seed entry
            # for an out-of-alphabet byte); emitting ch as its own
            # code would COLLIDE with an assigned dictionary code and
            # decode silently wrong — the one divergence the trie
            # formulation could have introduced
            raise ValueError(
                f"LZW input byte {ch} outside {min_size}-bit alphabet"
            )
        if wcode < 0:
            wcode = ch
            continue
        key = (wcode << 8) | ch
        nc = table.get(key)
        if nc is not None:
            wcode = nc
            continue
        put(wcode, code_size)
        if next_code < 4096:
            table[key] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            put(clear, code_size)
            table = {}
            next_code = eoi + 1
            code_size = min_size + 1
        wcode = ch
    if wcode >= 0:
        put(wcode, code_size)
    put(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_size: int = 8) -> bytes:
    """GIF-variant LZW decode: LSB-first bit reader, KwKwK handling
    (code == next_code -> prev + prev[0]), code width grows when the
    table reaches 2^cs (one entry behind the encoder), resets on
    CLEAR, raises on truncation or out-of-range codes."""
    clear = 1 << min_size
    eoi = clear + 1
    stream = int.from_bytes(data, "little")
    total = len(data) * 8
    pos = 0
    base = _lzw_dec_base(min_size)
    table = list(base)
    next_code = eoi + 1
    code_size = min_size + 1
    out = bytearray()
    prev: bytes | None = None
    while True:
        if pos + code_size > total:
            raise ValueError("truncated LZW stream (no EOI)")
        code = (stream >> pos) & ((1 << code_size) - 1)
        pos += code_size
        if code == clear:
            table = list(base)
            next_code = eoi + 1
            code_size = min_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW code {code}")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def build_gif_gray8(pixels: bytes, width: int) -> bytes:
    """Genuine GIF87a: logical screen descriptor, 256-entry grayscale
    global color table, image descriptor, REAL LZW-compressed pixel
    data split into <=255-byte sub-blocks, trailer."""
    height = max(-(-len(pixels) // width), 1)
    padded = pixels + b"\x00" * (width * height - len(pixels))
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    gct = b"".join(bytes((i, i, i)) for i in range(256))
    desc = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    lzw = _lzw_encode_gif(padded, 8)
    sub = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return b"GIF87a" + lsd + gct + desc + bytes([8]) + sub + b"\x00\x3B"


def decode_gif_gray8(payload: bytes) -> tuple[int, int, bytes]:
    """REAL (subset) GIF decode, stdlib-only: validate the GIF87a/89a
    signature, parse the logical screen descriptor, read the global
    color table, skip extension blocks by their sub-block chain, then
    LZW-decompress the first image's data and map indices through the
    palette's red channel. Subset limits (loud): no interlacing, no
    local color tables."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF logical screen descriptor")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    if not (flags & 0x80):
        # without a palette the index->gray map below is undefined;
        # fail loudly instead of IndexError-ing on red[i] (ADVICE r13)
        raise NotImplementedError(
            "decoder subset: global color table required"
        )
    n = 2 << (flags & 0x07)
    palette = payload[pos : pos + 3 * n]
    if len(palette) < 3 * n:
        raise ValueError("truncated GIF global color table")
    pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-block chain
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                if pos + 1 + payload[pos] > len(payload):
                    raise ValueError("truncated GIF extension block")
                pos += 1 + payload[pos]
            if pos >= len(payload):
                raise ValueError("truncated GIF extension chain")
            pos += 1
        elif b == 0x2C:
            if pos + 11 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            _x, _y, w, h, iflags = struct.unpack(
                "<HHHHB", payload[pos + 1 : pos + 10]
            )
            if iflags & 0xC0:
                raise NotImplementedError(
                    "decoder subset: no interlace / local color table"
                )
            pos += 10
            min_size = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                if pos + 1 + ln > len(payload):
                    raise ValueError("truncated GIF data sub-block")
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            if pos >= len(payload):
                raise ValueError("truncated GIF sub-block chain")
            idx = _lzw_decode_gif(bytes(lzw), min_size)
            if len(idx) < w * h:
                raise ValueError("LZW stream short of w*h pixels")
            red = palette[0::3]
            return w, h, bytes(red[i] for i in idx[: w * h])
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("no image block in GIF")


@query(
    "multimodal_gif_lzw_decode_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_GIF_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_GIF_MAX_BYTES})))
               AS n
      FROM documents),
    codes AS (
      SELECT doc_id, n,
             list_transform(string_split(s, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cs
      FROM px)
    SELECT doc_id,
           CAST({_GIF_W} AS BIGINT) AS width,
           CAST(greatest(ceil(n / {_GIF_W}.0), 1) AS BIGINT) AS height,
           CAST({_GIF_W} * greatest(ceil(n / {_GIF_W}.0), 1) AS BIGINT)
             AS n_pixels,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           CAST(CASE WHEN n % {_GIF_W} <> 0 OR n = 0
                     THEN len(list_distinct(
                            list_append(cs, CAST(0 AS BIGINT))))
                     ELSE len(list_distinct(cs)) END AS BIGINT)
             AS distinct_px
    FROM codes
    ORDER BY doc_id
    """,
)
def multimodal_gif_lzw_decode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL GIF DECODE with a REAL LZW codec — the first op in the
    multimodal family whose compression layer is hand-rolled rather
    than zlib (round 13): each doc's first 256 bytes become a GENUINE
    GIF87a (screen descriptor, 256-entry global color table, image
    descriptor, variable-width LSB-first LZW code stream in <=255-byte
    sub-blocks), and decode_gif_gray8 walks the container and
    _lzw_decode_gif re-expands the codes — including the KwKwK
    self-referencing case and the one-entry-behind code-width growth
    (encoder widens at 2^cs + 1 entries, decoder at 2^cs; the classic
    offset, argued in both docstrings and pinned by a pytest that
    also forces dictionary resets past 4096 entries). Emitted stats
    come from the DECODED pixels (dims, exact sum with pad, distinct
    pixel values INCLUDING the pad zero when a row is padded); the
    oracle recomputes them from raw text — a hash match across 500
    docs proves the whole codec pair roundtrips.

    Parity: all-integer outputs except none — no doubles at all.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; per-row cost is the LZW loop over <=260 pixels."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "n_pixels": [],
                "pixel_sum": [],
                "distinct_px": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_GIF_MAX_BYTES]
                gif = build_gif_gray8(data, _GIF_W)
                w, h, pix = decode_gif_gray8(gif)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["pixel_sum"].append(sum(pix))
                rows["distinct_px"].append(len(set(pix)))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, width bigint, height bigint, "
        "n_pixels bigint, pixel_sum bigint, distinct_px bigint",
    ).orderBy("doc_id")


# --- TIFF -----------------------------------------------------------------

_TIFF_W = 24
_TIFF_MAX_BYTES = 256
_TIFF_ROWS_PER_STRIP = 4


def build_tiff_gray8(
    pixels: bytes, width: int, big_endian: bool
) -> bytes:
    """Genuine baseline TIFF (uncompressed 8-bit grayscale), in EITHER
    byte order ('II' little / 'MM' big — the header's first real
    parsing decision), with the image split into multiple strips
    (RowsPerStrip = 4) so StripOffsets/StripByteCounts are COUNT>1
    arrays stored out-of-line at a file offset, the way real TIFFs
    store them."""
    e = ">" if big_endian else "<"
    height = max(-(-len(pixels) // width), 1)
    padded = pixels + b"\x00" * (width * height - len(pixels))
    rps = _TIFF_ROWS_PER_STRIP
    n_strips = -(-height // rps)
    strips = [
        padded[s * rps * width : min((s + 1) * rps, height) * width]
        for s in range(n_strips)
    ]
    # layout: 8-byte header | pixel strips | offset arrays | IFD
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    arr_off = pos
    off_bytes = struct.pack(f"{e}{n_strips}I", *strip_offsets)
    cnt_bytes = struct.pack(f"{e}{n_strips}I", *(len(s) for s in strips))
    ifd_off = arr_off + len(off_bytes) + len(cnt_bytes)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # SHORT(3) values pack into the first 2 bytes of the value
        # field; LONG(4) fills it; arrays point at their offset
        if typ == 3 and count == 1:
            return struct.pack(f"{e}HHIHH", tag, typ, count, value, 0)
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, width),
        entry(257, 4, 1, height),
        entry(258, 3, 1, 8),
        entry(259, 3, 1, 1),  # no compression
        entry(262, 3, 1, 1),  # BlackIsZero
        entry(
            273, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else arr_off,
        ),
        entry(277, 3, 1, 1),
        entry(278, 4, 1, rps),
        entry(
            279, 4, n_strips,
            len(strips[0]) if n_strips == 1 else arr_off + len(off_bytes),
        ),
    ]
    ifd = (
        struct.pack(f"{e}H", len(entries))
        + b"".join(entries)
        + struct.pack(f"{e}I", 0)
    )
    hdr = (b"MM" if big_endian else b"II") + struct.pack(
        f"{e}HI", 42, ifd_off
    )
    return hdr + b"".join(strips) + off_bytes + cnt_bytes + ifd


def decode_tiff_gray8(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL (subset) TIFF decode, stdlib-only: detect the byte order
    from the II/MM magic, verify the 42, walk the first IFD's entries
    (SHORT inline values vs LONG offsets, COUNT>1 arrays read from
    their file offset), and concatenate the strips. Returns (width,
    height, n_strips, pixels). Subset limits (loud): uncompressed
    8-bit single-sample grayscale only. Every region read is
    length-guarded so a payload cut at ANY offset raises ValueError
    (the round-13 truncation contract GIF/BMP honor; ADVICE r13)."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    magic, ifd_off = struct.unpack(f"{e}HI", payload[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD count")
    n = struct.unpack(f"{e}H", payload[ifd_off : ifd_off + 2])[0]
    # entries + the 4-byte next-IFD pointer that terminates the IFD
    if ifd_off + 2 + 12 * n + 4 > len(payload):
        raise ValueError("truncated TIFF IFD")
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n):
        at = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(f"{e}HHI", payload[at : at + 8])
        if typ == 3 and count == 1:
            val = struct.unpack(f"{e}H", payload[at + 8 : at + 10])[0]
        else:
            val = struct.unpack(f"{e}I", payload[at + 8 : at + 12])[0]
        tags[tag] = (typ, count, val)
    for req in (256, 257, 273, 279):
        if req not in tags:
            raise ValueError(f"missing required TIFF tag {req}")
    if tags.get(259, (3, 1, 1))[2] != 1 or tags.get(258, (3, 1, 8))[2] != 8:
        raise NotImplementedError(
            "decoder subset: uncompressed 8-bit grayscale"
        )
    width = tags[256][2]
    height = tags[257][2]

    def long_array(tag: int) -> list[int]:
        typ, count, val = tags[tag]
        if count == 1:
            return [val]
        if val + 4 * count > len(payload):
            raise ValueError("truncated TIFF out-of-line value array")
        return list(
            struct.unpack(f"{e}{count}I", payload[val : val + 4 * count])
        )

    offs = long_array(273)
    cnts = long_array(279)
    if len(offs) != len(cnts):
        raise ValueError("strip offset/count arrays disagree")
    out = bytearray()
    for o, c in zip(offs, cnts):
        if o + c > len(payload):
            raise ValueError("truncated strip data")
        out += payload[o : o + c]
    if len(out) != width * height:
        raise ValueError(
            f"strips sum to {len(out)}, expected {width * height}"
        )
    return width, height, len(offs), bytes(out)


@query(
    "multimodal_tiff_ifd_parse",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_TIFF_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_TIFF_MAX_BYTES})))
               AS n
      FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END
             AS byte_order,
           CAST({_TIFF_W} AS BIGINT) AS width,
           CAST(greatest(ceil(n / {_TIFF_W}.0), 1) AS BIGINT) AS height,
           CAST(ceil(greatest(ceil(n / {_TIFF_W}.0), 1)
                     / {_TIFF_ROWS_PER_STRIP}.0) AS BIGINT) AS n_strips,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(s, ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum
    FROM px
    ORDER BY doc_id
    """,
)
def multimodal_tiff_ifd_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL TIFF DECODE — fourth image/audio container (round 13),
    and the first whose parser must handle BOTH byte orders: each
    doc's first 256 bytes become a GENUINE baseline TIFF, written
    big-endian ('MM') for odd doc_ids and little-endian ('II') for
    even ones, split into 4-row strips so StripOffsets/StripByteCounts
    are count>1 LONG arrays stored out-of-line — the IFD walker reads
    SHORT inline values, LONG offsets, and offset arrays exactly as
    the 6.0 spec lays them out. Emitted stats (detected byte order,
    dims, strip count, exact pixel sum with pad) come from the PARSED
    structures and DECODED pixels; the oracle recomputes them from
    doc_id/text arithmetic — 500 docs x 2 endiannesses hash-verified.

    Parity: all-integer outputs plus a two-valued string column.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle (the PNG/BMP/GIF twins' shape)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "byte_order": [],
                "width": [],
                "height": [],
                "n_strips": [],
                "pixel_sum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_TIFF_MAX_BYTES]
                big = int(doc_id) % 2 == 1
                tif = build_tiff_gray8(data, _TIFF_W, big)
                w, h, ns, pix = decode_tiff_gray8(tif)
                rows["doc_id"].append(doc_id)
                rows["byte_order"].append(
                    "MM" if tif[:2] == b"MM" else "II"
                )
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_strips"].append(ns)
                rows["pixel_sum"].append(sum(pix))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, byte_order string, width bigint, height bigint, "
        "n_strips bigint, pixel_sum bigint",
    ).orderBy("doc_id")


# --- G.711 mu-law ----------------------------------------------------------

_ULAW_BIAS = 132
_ULAW_CLAMP = 32635


def ulaw_encode_sample(x: int) -> int:
    """G.711 mu-law companding of one signed 16-bit sample to one
    byte: bias, segment exponent from the magnitude's bit length,
    4-bit mantissa, ones-complement output — the actual telephony
    codec, exact integer arithmetic throughout."""
    s = 1 if x < 0 else 0
    m = min(abs(x), _ULAW_CLAMP) + _ULAW_BIAS
    e = m.bit_length() - 8  # m >= 132 -> e in 0..7 for int16 input
    mant = (m >> (e + 3)) & 0x0F
    return (~((s << 7) | (e << 4) | mant)) & 0xFF


def ulaw_decode_sample(u: int) -> int:
    """Inverse companding to the segment midpoint: magnitude
    ((mant + 16) << (e + 3)) + (1 << (e + 2)) minus the bias, signed."""
    u = (~u) & 0xFF
    s = (u >> 7) & 1
    e = (u >> 4) & 0x07
    mant = u & 0x0F
    m = ((mant + 16) << (e + 3)) + (1 << (e + 2)) - _ULAW_BIAS
    return -m if s else m


_ULAW_MAX_BYTES = 256


@query(
    "multimodal_ulaw_codec_stats",
    oracle=f"""
    WITH px AS (
      -- string_split('', '') is [''] in DuckDB (a phantom zero-byte
      -- sample the Python side never sees) — guard empty docs with
      -- an explicitly typed empty list
      SELECT doc_id,
             CASE WHEN length(substring(text, 1, {_ULAW_MAX_BYTES})) = 0
                  THEN CAST([] AS BIGINT[])
                  ELSE list_transform(
                    string_split(substring(text, 1, {_ULAW_MAX_BYTES}),
                                 ''),
                    c -> (CAST(ascii(c) AS BIGINT) - 110) * 256) END
               AS xs
      FROM documents),
    enc AS (
      SELECT doc_id,
             list_transform(xs, x -> struct_pack(
               x := x,
               s := CASE WHEN x < 0 THEN 1 ELSE 0 END,
               e := length(bin(least(abs(x), {_ULAW_CLAMP})
                               + {_ULAW_BIAS})) - 8,
               m := least(abs(x), {_ULAW_CLAMP}) + {_ULAW_BIAS})) AS t
      FROM px),
    cod AS (
      SELECT doc_id,
             list_transform(t, r -> struct_pack(
               x := r.x, s := r.s, e := r.e,
               mant := (r.m // (1 << (r.e + 3))) % 16)) AS t
      FROM enc),
    dec AS (
      SELECT doc_id,
             list_transform(t, r -> struct_pack(
               code := 255 - ((r.s * 128) + (r.e * 16) + r.mant),
               err := abs(r.x - (CASE WHEN r.s = 1 THEN -1 ELSE 1 END)
                          * ((r.mant + 16) * (1 << (r.e + 3))
                             + (1 << (r.e + 2)) - {_ULAW_BIAS})))) AS t
      FROM cod)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_samples,
           CAST(len(list_distinct(list_transform(t, r -> r.code)))
                AS BIGINT) AS distinct_codes,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(t, r -> r.err)), (a, b) -> a + b)
                AS BIGINT) AS total_abs_err,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(t, r -> r.err)),
                (a, b) -> CASE WHEN b > a THEN b ELSE a END)
                AS BIGINT) AS max_abs_err
    FROM dec
    ORDER BY doc_id
    """,
)
def multimodal_ulaw_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL G.711 mu-LAW CODEC — the first multimodal op whose REAL
    part is a lossy standard codec rather than a container (round 13;
    WAV gave the container walk, this gives the telephony companding
    inside it): each doc's first 256 chars become signed 16-bit PCM
    samples ((ascii - 110) * 256 — spans both signs, never clamps),
    encoded to mu-law bytes and decoded back by the exact integer
    spec arithmetic (bias 132, bit-length segment exponent, 4-bit
    mantissa, ones-complement; midpoint reconstruction). Emitted
    stats come from the PYTHON codec roundtrip (sample count,
    distinct code bytes, total and max absolute reconstruction
    error); the oracle recomputes the same arithmetic in SQL (the
    length(bin()) exponent trick, integer shifts as div/mod) — a
    hash match over 500 docs proves the codec implements the spec
    formula bit-for-bit. An in-plan assert pins max_abs_err <= 512
    (half of the widest segment step, e = 7 -> step 1024; inputs
    never clamp so the bound is exact).

    Parity: every column is an exact BIGINT.

    Shape at 100 TB: one mapInPandas over the documents scan — the
    PNG/BMP/GIF/TIFF twins' shape; in production the codec runs over
    a real PCM binary column (parse_wav's data chunk) unchanged."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "n_samples": [],
                "distinct_codes": [],
                "total_abs_err": [],
                "max_abs_err": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                xs = [
                    (b - 110) * 256
                    for b in text.encode("utf-8")[:_ULAW_MAX_BYTES]
                ]
                codes = [ulaw_encode_sample(x) for x in xs]
                errs = [
                    abs(x - ulaw_decode_sample(c))
                    for x, c in zip(xs, codes)
                ]
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(len(xs))
                rows["distinct_codes"].append(len(set(codes)))
                rows["total_abs_err"].append(sum(errs))
                rows["max_abs_err"].append(max(errs) if errs else 0)
            yield pd.DataFrame(rows)

    return (
        d.mapInPandas(
            run,
            "doc_id bigint, n_samples bigint, distinct_codes bigint, "
            "total_abs_err bigint, max_abs_err bigint",
        )
        .where(
            F.assert_true(
                F.col("max_abs_err") <= F.lit(512),
                F.format_string(
                    "mu-law error above half-step bound: doc=%s err=%s",
                    F.col("doc_id"),
                    F.col("max_abs_err"),
                ),
            ).isNull()
        )
        .orderBy("doc_id")
    )


# --- JPEG / JFIF (structure) ------------------------------------------------

_JPEG_MAX_BYTES = 256
_JPEG_STUFF_EVERY = 50


def build_jpeg_structure(
    doc_id: int, data: bytes
) -> tuple[bytes, int, int]:
    """Genuine JFIF SEGMENT STRUCTURE (no entropy coding — the walker
    below parses structure only, documented): SOI, APP0/JFIF, one or
    two DQT segments (doc parity), a DHT, SOF0 carrying doc-derived
    dimensions, SOS, then an entropy-coded section built from the doc
    bytes with REAL FF00 byte stuffing (every 50th byte is replaced
    by 0xFF, which the wire format must escape), and EOI. Returns
    (payload, width, height)."""
    width = 16 + doc_id % 32
    height = 16 + (doc_id // 32) % 32
    out = bytearray(b"\xff\xd8")  # SOI
    app0 = b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    n_dqt = 1 + doc_id % 2
    for t in range(n_dqt):
        qt = bytes([t]) + bytes(((i * 3 + t) % 251) + 1 for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    dht = bytes([0x00]) + bytes([0] * 15 + [1]) + bytes([0x05])
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes(
        (1, 1, 0x11, 0)
    )
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    sos = bytes((1, 1, 0x00, 0, 63, 0))
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    raw = bytearray(data)
    for i in range(
        _JPEG_STUFF_EVERY - 1, len(raw), _JPEG_STUFF_EVERY
    ):
        raw[i] = 0xFF  # force the stuffing path on real positions
    for b in raw:
        out.append(b)
        if b == 0xFF:
            out.append(0x00)  # byte stuffing
    out += b"\xff\xd9"  # EOI
    return bytes(out), width, height


def parse_jpeg_structure(payload: bytes) -> dict:
    """REAL JFIF marker walk, stdlib-only: SOI check, length-prefixed
    segment hopping (big-endian lengths INCLUDE the 2 length bytes),
    SOF0 dimension extraction, then the entropy-coded section scanned
    byte-for-byte honoring FF00 stuffing and FFD0-FFD7 restart
    markers until EOI. Raises loudly on truncation or unknown
    structure; entropy decode is out of scope and documented."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    width = height = None
    n_segments = 0
    n_dqt = 0
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        ln = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        if pos + 2 + ln > len(payload):
            raise ValueError("truncated JPEG segment body")
        body = payload[pos + 4 : pos + 2 + ln]
        n_segments += 1
        if marker == 0xDB:
            n_dqt += 1
        elif marker == 0xC0:
            height, width = struct.unpack(">HH", body[1:5])
        pos += 2 + ln
        if marker == 0xDA:  # SOS: entropy data follows
            break
    entropy = 0
    stuffed = 0
    while True:
        if pos >= len(payload):
            raise ValueError("truncated entropy section (no EOI)")
        b = payload[pos]
        if b != 0xFF:
            entropy += 1
            pos += 1
            continue
        if pos + 1 >= len(payload):
            raise ValueError("truncated marker in entropy section")
        nxt = payload[pos + 1]
        if nxt == 0x00:  # stuffed data byte 0xFF
            entropy += 1
            stuffed += 1
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:  # restart marker
            pos += 2
        elif nxt == 0xD9:  # EOI
            break
        else:
            raise ValueError(f"unexpected marker FF{nxt:02x} in scan")
    if width is None:
        raise ValueError("no SOF0 segment")
    return {
        "width": width,
        "height": height,
        "n_segments": n_segments,
        "n_dqt": n_dqt,
        "entropy_bytes": entropy,
        "stuffed_bytes": stuffed,
    }


@query(
    "multimodal_jpeg_marker_parse",
    oracle=f"""
    SELECT doc_id,
           CAST(16 + doc_id % 32 AS BIGINT) AS width,
           CAST(16 + (doc_id // 32) % 32 AS BIGINT) AS height,
           CAST(5 + doc_id % 2 AS BIGINT) AS n_segments,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_dqt,
           CAST(octet_length(encode(substring(text, 1,
                {_JPEG_MAX_BYTES}))) AS BIGINT) AS entropy_bytes,
           CAST(octet_length(encode(substring(text, 1,
                {_JPEG_MAX_BYTES}))) // {_JPEG_STUFF_EVERY} AS BIGINT)
             AS stuffed_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_jpeg_marker_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL JFIF MARKER WALK (SURVEY round-14 queue, pulled forward)
    — fifth image/audio container, and the one exercising the JPEG
    wire format's two structural quirks: length-prefixed segment
    hopping (lengths INCLUDE their own 2 bytes) and the
    entropy-coded section, which is NOT length-prefixed — the parser
    must scan it byte-for-byte, honoring FF00 byte stuffing (the doc
    payload has a 0xFF forced at every 50th position, so the
    stuffing path runs on every fixture row) and restart markers,
    until EOI. The builder emits a genuine SOI/APP0/DQT(x1-2 by doc
    parity)/DHT/SOF0/SOS/EOI chain with doc-derived dimensions;
    entropy DECODE is out of scope and documented (structure parse is
    what a 100 TB ingest needs for routing/metadata — the reference's
    preview render, app.py:218-223, is the decode consumer and stays
    behind the PIL extension point). The oracle recomputes every
    column from doc_id/text arithmetic — hash-verified over 500 docs.

    Parity: all-integer outputs.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle (the container-family shape)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "n_segments": [],
                "n_dqt": [],
                "entropy_bytes": [],
                "stuffed_bytes": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_JPEG_MAX_BYTES]
                payload, _, _ = build_jpeg_structure(int(doc_id), data)
                m = parse_jpeg_structure(payload)
                rows["doc_id"].append(doc_id)
                for k in (
                    "width",
                    "height",
                    "n_segments",
                    "n_dqt",
                    "entropy_bytes",
                    "stuffed_bytes",
                ):
                    rows[k].append(m[k])
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, width bigint, height bigint, n_segments bigint, "
        "n_dqt bigint, entropy_bytes bigint, stuffed_bytes bigint",
    ).orderBy("doc_id")


# --- JPEG baseline entropy decode (round 14) -------------------------------
# Round 13 shipped the marker/structure walk (parse_jpeg_structure);
# this section retires the "structure-only" caveat with a REAL baseline
# grayscale codec: canonical Huffman coding from DHT tables (Annex K
# defaults in the builder; the DECODER rebuilds codes from whatever DHT
# the file carries), run-length AC coding with byte stuffing, dequant,
# inverse zigzag, and a genuine float 8x8 IDCT with level shift+clamp.
# The oracle-checked op feeds CONSTANT 8x8 blocks (one per payload
# byte): a constant block's FDCT is DC-only (DC = 8*(v-128), exact
# integer), quant table of ones keeps it exact, and the DC-only IDCT is
# exactly v again — so decode == expand(bytes) and DuckDB can recompute
# every emitted stat from raw text while the bit-level Huffman layer
# runs for real. AC paths are pinned by pytests that craft non-zero AC
# coefficient blocks directly (see test_binformats).

# zigzag scan order: index i holds the (row*8+col) position of the i-th
# zigzag coefficient
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 default luminance Huffman tables: (bits[1..16], huffvals)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_canonical_codes(bits: list, vals: list) -> dict:
    """value -> (code, length) canonical Huffman assignment (JPEG
    C.2: codes of ascending length, counting up within a length).

    Rejects over-subscribed length counts (Kraft violation) loudly: a
    crafted DHT whose counts overflow a length's code space would make
    the peek-LUT decoder and the bit-walk reference disagree (the LUT
    fills last-write-wins, the walk returns the shortest match) — with
    the check, the LUT/walk equivalence is unconditional."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        if code + bits[ln - 1] > (1 << ln):
            raise ValueError("over-subscribed DHT length counts")
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3
        return bytes(self.out)


def _jpeg_magnitude(v: int) -> tuple:
    """(category, magnitude-bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


_JPEG_ENC_CODES: tuple | None = None


def _jpeg_enc_codes() -> tuple:
    """The fixed Annex-K luminance code tables, built once per process
    (they were being re-derived per encoded file — guide §4.5's
    init-once rule applied to a pure-Python hot path)."""
    global _JPEG_ENC_CODES
    if _JPEG_ENC_CODES is None:
        _JPEG_ENC_CODES = (
            _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
            _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS),
        )
    return _JPEG_ENC_CODES


_JPEG_DCONLY_MEMO: dict = {}


def _jpeg_dconly_bits(diff: int) -> tuple:
    """(value, nbits) of a DC-only block's full emission — DC category
    code, magnitude bits, EOB — concatenated MSB-first. Pure function
    of the DC diff under the fixed Annex-K tables; memoized."""
    ent = _JPEG_DCONLY_MEMO.get(diff)
    if ent is None:
        dc_codes, ac_codes = _jpeg_enc_codes()
        cat, bits = _jpeg_magnitude(diff)
        v, n = dc_codes[cat]
        if cat:
            v = (v << cat) | bits
            n += cat
        ecode, eln = ac_codes[0x00]
        ent = ((v << eln) | ecode, n + eln)
        _JPEG_DCONLY_MEMO[diff] = ent
    return ent


def _jpeg_encode_scan(blocks_zz: list) -> bytes:
    """Entropy-code quantized coefficient blocks (zigzag order, 64
    ints each) with the Annex K luminance tables — real run-length /
    EOB / ZRL coding, real byte stuffing. DC-only blocks (the
    constant-block builder's whole output) emit DC + EOB without the
    63-slot AC walk — bit-identical to the general path with
    last_nz = 0."""
    dc_codes, ac_codes = _jpeg_enc_codes()
    w = _JpegBitWriter()
    prev_dc = 0
    for bz in blocks_zz:
        diff = bz[0] - prev_dc
        prev_dc = bz[0]
        if not any(bz[1:]):
            # DC-only block: DC category code + magnitude bits + EOB as
            # ONE writer put — bit-identical to the general path with
            # last_nz = 0 (memoized per diff; the constant-block
            # builder hits this for every block)
            v, n = _jpeg_dconly_bits(diff)
            w.put(v, n)
            continue
        cat, bits = _jpeg_magnitude(diff)
        code, ln = dc_codes[cat]
        w.put(code, ln)
        if cat:
            w.put(bits, cat)
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):
            if bz[i]:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            if bz[i] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                w.put(code, ln)
                run -= 16
            cat, bits = _jpeg_magnitude(bz[i])
            code, ln = ac_codes[(run << 4) | cat]
            w.put(code, ln)
            w.put(bits, cat)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            w.put(code, ln)
    return w.flush()


def build_jpeg_gray8(pixels: bytes, width_blocks: int) -> bytes:
    """Genuine baseline JFIF, one CONSTANT 8x8 block per payload byte
    (row-major, zero-padded to a full block row): SOI, DQT (all-ones
    luminance table — keeps the constant-block roundtrip exact), SOF0
    (8-bit single-component 1x1), DHT (Annex K DC+AC luminance),
    SOS, real entropy-coded scan, EOI."""
    n_b = max(len(pixels), 1)
    h_b = -(-n_b // width_blocks)
    padded = pixels + b"\x00" * (width_blocks * h_b - len(pixels))
    blocks = []
    for v in padded:
        bz = [0] * 64
        bz[0] = 8 * (v - 128)  # FDCT of a constant block is DC-only
        blocks.append(bz)
    scan = _jpeg_encode_scan(blocks)
    w, h = 8 * width_blocks, 8 * h_b

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"
    )


class _JpegBitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, raises ValueError
    on truncation, stops (raises) at any non-RST marker.

    Round-14 optimization (guide §4.2 — the whole decode is the
    per-row hot path of multimodal_jpeg_baseline_decode): the segment
    is un-stuffed in ONE byte pass up front instead of per read_bit
    call, and reads pull whole bit-groups via int.from_bytes. The
    end-of-data condition stays LAZY-equivalent: the truncation /
    marker / restart exception found at the scan's end is recorded and
    raised only when a read actually needs bits past the un-stuffed
    region — a cut or RST after the last consumed bit is still never
    touched, exactly like the old byte-at-a-time reader."""

    def __init__(self, data: bytes, pos: int) -> None:
        buf = bytearray()
        stuffs = []  # un-stuffed indices whose source pair was FF 00
        n = len(data)
        p = pos
        while True:
            f = data.find(0xFF, p)
            if f == -1:
                buf += data[p:]
                end_exc: Exception = ValueError(
                    "truncated JPEG entropy data"
                )
                break
            buf += data[p:f]
            if f + 1 >= n:
                end_exc = ValueError("truncated JPEG entropy data at 0xFF")
                break
            nxt = data[f + 1]
            if nxt == 0x00:
                stuffs.append(len(buf))
                buf.append(0xFF)
                p = f + 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart markers reset DC prediction and byte-align
                # (spec F.2.2.5) — silently skipping them would decode
                # WRONG pixels for any DRI-interval file, violating the
                # family's never-silent-corruption contract (review
                # r14); the builder never emits them, so raise loudly
                end_exc = NotImplementedError(
                    "decoder subset: restart intervals unsupported"
                )
                break
            else:
                end_exc = ValueError("entropy data ended at marker")
                break
        self.buf = bytes(buf)
        self._stuffs = stuffs
        self._end_exc = end_exc
        self._start = pos
        self.bitpos = 0
        self.navail = 8 * len(buf)

    @property
    def pos(self) -> int:
        """Source offset after the last CONSUMED byte — what the lazy
        reader's pos was after the same bit consumption. Consuming k
        un-stuffed bytes consumes k source bytes plus one stuffed 0x00
        for every FF00 pair among them."""
        import bisect

        nbytes = (self.bitpos + 7) >> 3
        return (
            self._start + nbytes + bisect.bisect_left(self._stuffs, nbytes)
        )

    def read_bit(self) -> int:
        bp = self.bitpos
        if bp >= self.navail:
            raise self._end_exc
        self.bitpos = bp + 1
        return (self.buf[bp >> 3] >> (7 - (bp & 7))) & 1

    def read_bits(self, n: int) -> int:
        if n <= 0:
            return 0
        bp = self.bitpos
        end = bp + n
        if end > self.navail:
            # lazy reader consumed the available bits, then raised on
            # the fill past the end — observable outcome is identical
            raise self._end_exc
        first = bp >> 3
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.buf[first : last + 1], "big")
        self.bitpos = end
        return (chunk >> (((last + 1) << 3) - end)) & ((1 << n) - 1)


_JPEG_DHT_CACHE: dict = {}


def _jpeg_decode_tables(body: bytes) -> dict:
    """Parse one DHT segment body into {(class, id): prefix-map
    {(code, length): value}}. Memoized on the raw segment bytes —
    the corpus repeats the identical Annex-K DHT in every file, and
    the parse is a pure function of the body. Callers must not mutate
    the returned maps (decode only reads them)."""
    hit = _JPEG_DHT_CACHE.get(body)
    if hit is not None:
        return hit
    tables = {}
    pos = 0
    while pos < len(body):
        if pos + 17 > len(body):
            raise ValueError("truncated DHT segment")
        tc_th = body[pos]
        bits = list(body[pos + 1 : pos + 17])
        nvals = sum(bits)
        if pos + 17 + nvals > len(body):
            raise ValueError("truncated DHT values")
        vals = list(body[pos + 17 : pos + 17 + nvals])
        codes = _jpeg_canonical_codes(bits, vals)
        tables[(tc_th >> 4, tc_th & 0x0F)] = {
            (code, ln): v for v, (code, ln) in codes.items()
        }
        pos += 17 + nvals
    # bound the memo: input-derived keys would otherwise grow worker
    # memory without limit on a corpus of many-distinct-DHT docs (the
    # fixture has exactly one); the wholesale clear is fine — a miss
    # just re-parses one segment
    if len(_JPEG_DHT_CACHE) >= 64:
        _JPEG_DHT_CACHE.clear()
    _JPEG_DHT_CACHE[bytes(body)] = tables
    return tables


def _jpeg_read_huff(r: "_JpegBitReader", table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.read_bit()
        v = table.get((code, ln))
        if v is not None:
            return v
    raise ValueError("invalid JPEG Huffman code")


_JPEG_CONST_BLOCKS = [bytes([p]) * 64 for p in range(256)]

_JPEG_HUFF_LUT_CACHE: dict = {}


def _jpeg_huff_lut(table: dict) -> list:
    """Compile a {(code, length): value} prefix map into a peek-16
    lookup list: lut[word] = (value, length) for every 16-bit word
    whose prefix is a code, else None. Cached per distinct table —
    JPEG code lengths cap at 16 (B.2.4.2), and the corpus repeats the
    same Annex-K DHT in every file, so the one-time 65k fill amortizes
    across all decodes (guide §4.5: heavyweight init once)."""
    hit = _JPEG_HUFF_LUT_CACHE.get(id(table))
    if hit is not None and hit[0] is table:
        return hit[1]
    lut = [None] * 65536
    for (code, ln), v in table.items():
        base = code << (16 - ln)
        ent = (v, ln)
        for word in range(base, base + (1 << (16 - ln))):
            lut[word] = ent
    # keyed by object identity WITH a strong reference to the table:
    # the DHT parse memo returns the same dict for the same segment
    # bytes, and holding the key object makes id-reuse impossible for
    # live entries (a stale id simply misses and rebuilds). Bounded:
    # each LUT is ~0.5 MB, so a crafted many-distinct-DHT corpus would
    # otherwise inflate reused workers without limit (16 entries covers
    # any plausible working set; a clear just costs one refill)
    if len(_JPEG_HUFF_LUT_CACHE) >= 16:
        _JPEG_HUFF_LUT_CACHE.clear()
    _JPEG_HUFF_LUT_CACHE[id(table)] = (table, lut)
    return lut


def _jpeg_read_huff_fast(r: "_JpegBitReader", lut: list) -> int:
    """LUT-probe decode, observably identical to _jpeg_read_huff: a
    match longer than the remaining bits (or no match with the scan
    exhausted before 16 bits) raises the reader's recorded end
    exception, exactly where the bit-by-bit walk would have."""
    bp = r.bitpos
    avail = r.navail - bp
    take = 16 if avail >= 16 else avail
    if take > 0:
        first = bp >> 3
        last = (bp + take - 1) >> 3
        chunk = int.from_bytes(r.buf[first : last + 1], "big")
        word = (
            (chunk >> (((last + 1) << 3) - (bp + take)))
            & ((1 << take) - 1)
        ) << (16 - take)
    else:
        word = 0
    ent = lut[word]
    if ent is not None and ent[1] <= avail:
        r.bitpos = bp + ent[1]
        return ent[0]
    if avail >= 16:
        raise ValueError("invalid JPEG Huffman code")
    raise r._end_exc


def _jpeg_extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


_JPEG_IDCT_COS = None


def _jpeg_idct_tables():
    global _JPEG_IDCT_COS
    if _JPEG_IDCT_COS is None:
        import math

        _JPEG_IDCT_COS = [
            [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
            for x in range(8)
        ]
    return _JPEG_IDCT_COS


def _jpeg_idct_block(coeffs: list) -> list:
    """Reference float 8x8 IDCT (A.3.3) + level shift + clamp; coeffs
    in natural (row-major) order. Returns 64 pixel ints. DC-only
    blocks take the exact closed form (every AC term is 0.0, so the
    general sum reduces to DC/8 — same value, ~50x less work; the
    general path is exercised by the AC pytests)."""
    import math

    if not any(coeffs[1:]):
        p = int(round(coeffs[0] / 8.0)) + 128
        p = 0 if p < 0 else 255 if p > 255 else p
        return [p] * 64
    cos_t = _jpeg_idct_tables()
    c = [1 / math.sqrt(2)] + [1.0] * 7
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cv = coeffs[v * 8 : v * 8 + 8]
                cyv = cos_t[y][v] * c[v]
                for u in range(8):
                    if cv[u]:
                        s += c[u] * cv[u] * cos_t[x][u] * cyv
            p = int(round(s / 4.0)) + 128
            out.append(0 if p < 0 else 255 if p > 255 else p)
    return out


def decode_jpeg_gray8(payload: bytes) -> tuple:
    """REAL baseline JPEG grayscale decode, stdlib-only: marker walk,
    DQT/DHT/SOF0/SOS parse, canonical-Huffman entropy decode (DC diff
    categories, AC run/size with ZRL and EOB, byte un-stuffing,
    loud NotImplementedError on restart intervals — skipping them
    silently would corrupt DC prediction), dequantization, inverse
    zigzag, float 8x8
    IDCT with level shift and clamp. Returns (width, height, pixels)
    with pixels in row-major order. Subset limits (loud): baseline
    (SOF0) single-component 8-bit only. Truncation anywhere raises
    ValueError (the GIF/TIFF contract)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt = {}
    huff = {}
    width = height = None
    scan_at = None
    dc_id = ac_id = 0
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG marker stream")
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI without scan
            raise ValueError("no scan in JPEG")
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment length")
        ln = struct.unpack(">H", payload[pos : pos + 2])[0]
        if pos + ln > len(payload):
            raise ValueError("truncated JPEG segment body")
        body = payload[pos + 2 : pos + ln]
        if marker == 0xDB:
            p2 = 0
            while p2 < len(body):
                pq_tq = body[p2]
                if pq_tq >> 4:
                    raise NotImplementedError(
                        "decoder subset: 8-bit quant tables only"
                    )
                if p2 + 65 > len(body):
                    raise ValueError("truncated DQT table")
                qt[pq_tq & 0x0F] = list(body[p2 + 1 : p2 + 65])
                p2 += 65
        elif marker == 0xC4:
            huff.update(_jpeg_decode_tables(body))
        elif marker == 0xC0:
            if len(body) < 9:
                raise ValueError("truncated SOF0")
            prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp != 1:
                raise NotImplementedError(
                    "decoder subset: 8-bit single-component baseline"
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise NotImplementedError(
                "decoder subset: baseline SOF0 only"
            )
        elif marker == 0xDA:
            if len(body) < 4:
                raise ValueError("truncated SOS")
            td_ta = body[2]
            dc_id, ac_id = td_ta >> 4, td_ta & 0x0F
            scan_at = pos + ln
            break
        pos += ln
    if width is None or scan_at is None:
        raise ValueError("missing SOF0 before SOS")
    if 0 not in qt:
        raise ValueError("missing quant table")
    dc_tab = huff.get((0, dc_id))
    ac_tab = huff.get((1, ac_id))
    if dc_tab is None or ac_tab is None:
        raise ValueError("missing Huffman tables")
    q = qt[0]
    dc_lut = _jpeg_huff_lut(dc_tab)
    ac_lut = _jpeg_huff_lut(ac_tab)
    w_b, h_b = -(-width // 8), -(-height // 8)
    r = _JpegBitReader(payload, scan_at)
    pixels = bytearray(width * height)
    prev_dc = 0
    buf = r.buf
    q0 = q[0]
    # per-image memo of the DC-only closed-form pixel (same
    # round/clamp expression; DC values repeat across blocks)
    dc_pix: dict = {}
    for by in range(h_b):
        base_py = by * 8
        max_yy = min(8, height - base_py)
        # strip assembly: per block, either the DC-only pixel INT or
        # the general block BYTES; an all-constant strip then writes
        # one joined row max_yy times instead of 8 slices per block
        strip: list = []
        any_ac = False
        for bx in range(w_b):
            bp = r.bitpos
            if r.navail - bp >= 48:
                # single-peek fast path: one 7-byte fetch covers the
                # DC code (<=16 bits), its magnitude bits (<=11) and
                # the following AC/EOB code (<=16) — 43 bits worst
                # case — replacing three separate reader fetches per
                # block. With >=48 bits available every sub-read of
                # the step-by-step path succeeds too, and both LUT
                # probes see full 16-bit words, so the outcomes are
                # identical (tables are Kraft-validated at parse);
                # under 48 bits falls through to the original
                # read-by-read path with its exact truncated-vs-
                # invalid semantics.
                first = bp >> 3
                last = (bp + 47) >> 3
                t48 = (
                    int.from_bytes(buf[first : last + 1], "big")
                    >> (((last + 1) << 3) - (bp + 48))
                ) & 0xFFFFFFFFFFFF
                ent = dc_lut[t48 >> 32]
                if ent is None:
                    raise ValueError("invalid JPEG Huffman code")
                cat, used = ent
                used += cat
                if used <= 32:
                    if cat:
                        mag = (t48 >> (48 - used)) & ((1 << cat) - 1)
                        prev_dc += (
                            mag
                            if mag >= (1 << (cat - 1))
                            else mag - (1 << cat) + 1
                        )
                    aent = ac_lut[(t48 >> (32 - used)) & 0xFFFF]
                    if aent is None:
                        raise ValueError("invalid JPEG Huffman code")
                    rs = aent[0]
                    r.bitpos = bp + used + aent[1]
                else:
                    # crafted DC table whose symbol VALUE pushes
                    # code+magnitude past the 32 bits that leave a
                    # full 16-bit AC peek in t48 (cat > 16 — outside
                    # any valid JPEG category, but Kraft validation
                    # bounds length COUNTS, not symbol values):
                    # fall through to the read-by-read path so the
                    # observable behaviour stays identical to it
                    cat = _jpeg_read_huff_fast(r, dc_lut)
                    prev_dc += _jpeg_extend(r.read_bits(cat), cat)
                    rs = _jpeg_read_huff_fast(r, ac_lut)
            else:
                cat = _jpeg_read_huff_fast(r, dc_lut)
                prev_dc += _jpeg_extend(r.read_bits(cat), cat)
                rs = _jpeg_read_huff_fast(r, ac_lut)
            if rs == 0x00:
                # DC-only block (EOB straight after DC — every block of
                # the constant-block builder): closed-form IDCT, same
                # expression as _jpeg_idct_block's DC fast path
                p = dc_pix.get(prev_dc)
                if p is None:
                    p = int(round((prev_dc * q0) / 8.0)) + 128
                    p = 0 if p < 0 else 255 if p > 255 else p
                    dc_pix[prev_dc] = p
                strip.append(p)
            else:
                zz = [0] * 64
                zz[0] = prev_dc
                i = 1
                while True:
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        i += 16
                    else:
                        i += rs >> 4
                        if i > 63:
                            raise ValueError("AC run past block end")
                        s = rs & 0x0F
                        zz[i] = _jpeg_extend(r.read_bits(s), s)
                        i += 1
                    if i >= 64:
                        break
                    rs = _jpeg_read_huff_fast(r, ac_lut)
                coeffs = [0] * 64
                for k in range(64):
                    coeffs[_JPEG_ZIGZAG[k]] = zz[k] * q[k]
                strip.append(bytes(_jpeg_idct_block(coeffs)))
                any_ac = True
        if not any_ac:
            # all-constant strip: every block row yy is the same byte
            # pattern, so join it once and write it max_yy times
            row = b"".join(_JPEG_CONST_BLOCKS[p][:8] for p in strip)[
                :width
            ]
            row_off = base_py * width
            for yy in range(max_yy):
                pixels[row_off : row_off + width] = row
                row_off += width
        else:
            for bx, item in enumerate(strip):
                blk = (
                    _JPEG_CONST_BLOCKS[item]
                    if type(item) is int
                    else item
                )
                px0 = bx * 8
                xlen = 8 if width - px0 >= 8 else width - px0
                row_off = base_py * width + px0
                for yy in range(max_yy):
                    pixels[row_off : row_off + xlen] = blk[
                        yy * 8 : yy * 8 + xlen
                    ]
                    row_off += width
    # the truncation contract (GIF/TIFF): a file cut anywhere must
    # raise — after the last block only pad bits and EOI may remain
    if payload.find(b"\xff\xd9", r.pos) == -1:
        raise ValueError("missing JPEG EOI after scan")
    return width, height, bytes(pixels)


_JPEGD_W_BLOCKS = 10
_JPEGD_MAX_BYTES = 100


@query(
    "multimodal_jpeg_baseline_decode",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_JPEGD_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_JPEGD_MAX_BYTES})))
               AS n
      FROM documents),
    codes AS (
      SELECT doc_id, n,
             list_transform(string_split(s, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cs
      FROM px)
    SELECT doc_id,
           CAST({_JPEGD_W_BLOCKS} * 8 AS BIGINT) AS width,
           CAST(greatest(ceil(n / {_JPEGD_W_BLOCKS}.0), 1) * 8 AS BIGINT)
             AS height,
           CAST(64 * list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           CAST(CASE WHEN n = 0 THEN 0 ELSE list_extract(cs, 1) END
                AS BIGINT) AS first_px,
           CAST(CASE WHEN n % {_JPEGD_W_BLOCKS} <> 0 OR n = 0
                     THEN len(list_distinct(
                            list_append(cs, CAST(0 AS BIGINT))))
                     ELSE len(list_distinct(cs)) END AS BIGINT)
             AS distinct_px
    FROM codes
    ORDER BY doc_id
    """,
)
def multimodal_jpeg_baseline_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL BASELINE-JPEG DECODE ROUNDTRIP — retires the round-13
    "structure-only" caveat (parse_jpeg_structure walked markers but
    never entropy-decoded): each doc's first 100 bytes become the
    CONSTANT 8x8 blocks of a GENUINE baseline JFIF (all-ones DQT,
    SOF0, Annex-K DHT tables, a real canonical-Huffman scan with DC
    difference categories, EOB codes, and byte stuffing), and
    decode_jpeg_gray8 re-derives the Huffman tables FROM THE FILE'S
    DHT, entropy-decodes the scan bit by bit, dequantizes, inverse-
    zigzags, and runs a real float 8x8 IDCT. A constant block's FDCT
    is DC-only with DC = 8*(v-128) — an exact integer under the
    all-ones quant table — and the DC-only IDCT returns exactly v, so
    the decoded image provably equals the byte expansion and the
    oracle recomputes every stat from raw text (the GIF/LZW round-13
    recipe, one codec deeper). AC run/size, ZRL, and multi-
    coefficient paths are exercised by direct pytests on crafted
    coefficient blocks; truncation at any offset raises (GIF/TIFF
    contract, pinned over every cut).

    Parity: all-integer outputs; pixel_sum = 64 * byte sum exactly
    because the roundtrip is exact (verified in-kernel with a raise).

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; per-row cost is the Huffman loop over ~110 blocks."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "pixel_sum": [],
                "first_px": [],
                "distinct_px": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_JPEGD_MAX_BYTES]
                jpg = build_jpeg_gray8(data, _JPEGD_W_BLOCKS)
                w, h, pix = decode_jpeg_gray8(jpg)
                # in-kernel roundtrip guard: every block must decode to
                # its exact source byte (DC-only exactness argument)
                n_b = max(len(data), 1)
                h_b = -(-n_b // _JPEGD_W_BLOCKS)
                padded = data + b"\x00" * (
                    _JPEGD_W_BLOCKS * h_b - len(data)
                )
                for bi, v in enumerate(padded):
                    py, px_ = (bi // _JPEGD_W_BLOCKS) * 8, (
                        bi % _JPEGD_W_BLOCKS
                    ) * 8
                    if pix[py * w + px_] != v:
                        raise ValueError("JPEG roundtrip mismatch")
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(pix))
                rows["first_px"].append(pix[0])
                rows["distinct_px"].append(len(set(pix)))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, width bigint, height bigint, pixel_sum bigint, "
        "first_px bigint, distinct_px bigint",
    ).orderBy("doc_id")


# --- Rice/Golomb residual codec (round 14; round-15 queue pulled
# forward) ---------------------------------------------------------------
# The FLAC/Shorten residual coder: each non-negative value v splits
# into a UNARY quotient q = v >> k (q 1-bits then a terminating 0) and
# a k-bit binary remainder, MSB-first. Signed residuals map through
# the zigzag fold (0, -1, 1, -2, ... -> 0, 1, 2, 3, ...) first. This
# is the variable-length integer-coding class the codec family lacked
# (LZW = dictionary, Huffman = prefix table, mu-law = companding).


def zigzag_encode(v: int) -> int:
    # arbitrary-precision: (v << 1) ^ (v >> 63) is wrong below
    # -(1 << 62) in Python (no fixed width), so use the sign branch
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def rice_encode(values: list, k: int) -> bytes:
    """Rice-code non-negative ints with parameter k: unary quotient
    (q ones, one zero) + k-bit MSB-first remainder per value; the
    final byte is zero-padded (the decoder reads a declared COUNT, so
    pad bits are never interpreted).

    Round-14: the stream accumulates in one big int, drained to bytes
    in 1 KB chunks (keeps total cost linear in stream bits — a single
    undrained int would make each append copy the whole accumulator) —
    the per-VALUE byte-drain loop was the encoder's hot path in
    multimodal_rice_codec_stats. Each value appends (q ones)(one zero)
    (k remainder bits), identical bit layout to the old drain."""
    acc = 0
    nbits = 0
    mask_k = (1 << k) - 1
    out = bytearray()
    for v in values:
        if v < 0:
            raise ValueError("rice_encode takes non-negative values")
        q = v >> k
        acc = (
            (acc << (q + 1 + k))
            | (((1 << q) - 1) << (k + 1))
            | (v & mask_k)
        )
        nbits += q + 1 + k
        if nbits >= 8192:
            # drain the OLDEST (top) whole bytes; the bottom partial
            # byte stays in acc
            rem = nbits & 7
            out += (acc >> rem).to_bytes(nbits >> 3, "big")
            acc &= (1 << rem) - 1
            nbits = rem
    if nbits:
        pad = (-nbits) % 8
        out += (acc << pad).to_bytes((nbits + pad) >> 3, "big")
    return bytes(out)


def rice_decode(data: bytes, k: int, n: int) -> list:
    """Decode n Rice-coded values; raises ValueError when the
    bitstream is truncated (the GIF/TIFF contract).

    Round-14 optimization (guide §4.2 — this is the per-row hot loop
    of multimodal_rice_codec_stats): unary quotients scan whole
    64-bit windows for the terminating 0 (flip + bit_length finds it
    in O(1)) and remainders pull k bits in one int.from_bytes, in
    place of the per-bit closure reader (same truncation points —
    a read past the last bit raises exactly where the bit loop did)."""
    out = []
    pos = 0
    total_bits = 8 * len(data)
    mask_k = (1 << k) - 1
    for _ in range(n):
        if pos >= total_bits:
            raise ValueError("truncated Rice bitstream")
        # fast path: quotient AND remainder inside one 9-byte window
        b0 = pos >> 3
        win = data[b0 : b0 + 9]
        avail = 8 * len(win) - (pos & 7)
        w = int.from_bytes(win, "big") & ((1 << avail) - 1)
        flip = w ^ ((1 << avail) - 1)
        if flip:
            run = avail - flip.bit_length()
            rest = avail - run - 1  # bits left after the zero
            if rest >= k:
                out.append(
                    (run << k) | ((w >> (rest - k)) & mask_k)
                )
                pos += run + 1 + k
                continue
        # slow path: unary run or remainder crosses the window
        q = 0
        while True:
            if pos >= total_bits:
                raise ValueError("truncated Rice bitstream")
            b0 = pos >> 3
            win = data[b0 : b0 + 8]
            avail = 8 * len(win) - (pos & 7)
            w = int.from_bytes(win, "big") & ((1 << avail) - 1)
            flip = w ^ ((1 << avail) - 1)
            if flip == 0:
                q += avail
                pos += avail
                continue
            run = avail - flip.bit_length()
            q += run
            pos += run + 1  # consume the terminating 0
            break
        if k:
            if pos + k > total_bits:
                raise ValueError("truncated Rice bitstream")
            b0 = pos >> 3
            last = (pos + k - 1) >> 3
            chunk = int.from_bytes(data[b0 : last + 1], "big")
            rem = (chunk >> (((last + 1) << 3) - (pos + k))) & mask_k
            pos += k
        else:
            rem = 0
        out.append((q << k) | rem)
    return out


_RICE_K = 3
_RICE_MAX_BYTES = 256


@query(
    "multimodal_rice_codec_stats",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_RICE_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_RICE_MAX_BYTES})))
               AS n
      FROM documents),
    codes AS (
      SELECT doc_id, n,
             CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(string_split(s, ''),
                                      c -> CAST(ascii(c) AS BIGINT))
             END AS cs
      FROM px),
    zz AS (
      SELECT doc_id, n,
             list_transform(generate_series(1, n), i ->
               CASE WHEN i = 1 THEN
                 CASE WHEN cs[1] >= 0 THEN cs[1] * 2 ELSE -cs[1] * 2 - 1 END
               ELSE
                 CASE WHEN cs[i] - cs[i-1] >= 0
                      THEN (cs[i] - cs[i-1]) * 2
                      ELSE -(cs[i] - cs[i-1]) * 2 - 1 END
               END) AS us
      FROM codes),
    enc AS (
      SELECT doc_id, n,
             CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(us, u -> (u >> {_RICE_K})
                                            + 1 + {_RICE_K})),
                  (a, b) -> a + b), 0) AS BIGINT) AS encoded_bits
      FROM zz)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_values,
           encoded_bits,
           CAST((encoded_bits + 7) // 8 AS BIGINT) AS encoded_bytes,
           CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                ELSE round(CAST(encoded_bits AS DOUBLE) / (8 * n), 6)
           END AS bits_ratio
    FROM enc
    ORDER BY doc_id
    """,
)
def multimodal_rice_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL RICE/GOLOMB CODEC ROUNDTRIP — the FLAC/Shorten residual
    coder, completing the codec-class coverage (LZW dictionary +
    canonical Huffman + mu-law companding + now unary/binary
    variable-length integer coding): each doc's first 256 bytes
    become a DELTA-plus-ZIGZAG residual stream (the audio-predictor
    shape: v_1 = b_1, v_i = b_i - b_{i-1}, signed residuals folded
    0,-1,1,-2 -> 0,1,2,3), Rice-coded at k=3 into a genuine MSB-first
    bitstream, decoded back bit by bit, un-zigzagged, and
    prefix-summed — the kernel RAISES unless the roundtrip
    reproduces the original bytes exactly. Emitted stats (value
    count, exact encoded bit count, byte count, round(6) compression
    ratio vs raw 8-bit) are recomputed by the oracle from the
    residual arithmetic alone — the hash match proves the unary
    quotients, remainders, and bit packing agree with the closed
    form sum((u >> k) + 1 + k).

    Parity: all-integer outputs plus one shared-shape round(6)
    division; the empty-doc split guard (round-13 lesson:
    string_split('','') is [''] in DuckDB) returns an empty list.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; per-row cost is the bit loop over <= 256 residuals."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "n_values": [],
                "encoded_bits": [],
                "encoded_bytes": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_RICE_MAX_BYTES]
                resid = [
                    data[i] - (data[i - 1] if i else 0)
                    for i in range(len(data))
                ]
                us = [zigzag_encode(v) for v in resid]
                blob = rice_encode(us, _RICE_K)
                got = rice_decode(blob, _RICE_K, len(us))
                back = bytearray()
                prev = 0
                for u in got:
                    prev += zigzag_decode(u)
                    back.append(prev)
                if bytes(back) != data:
                    raise ValueError("Rice roundtrip mismatch")
                bits = sum((u >> _RICE_K) + 1 + _RICE_K for u in us)
                assert bits == 0 or (bits + 7) // 8 == len(blob)
                rows["doc_id"].append(doc_id)
                rows["n_values"].append(len(us))
                rows["encoded_bits"].append(bits)
                rows["encoded_bytes"].append((bits + 7) // 8)
            yield pd.DataFrame(rows)

    return (
        d.mapInPandas(
            run,
            "doc_id bigint, n_values bigint, encoded_bits bigint, "
            "encoded_bytes bigint",
        )
        .withColumn(
            "bits_ratio",
            F.expr(
                "CASE WHEN n_values = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE round(CAST(encoded_bits AS DOUBLE)"
                " / (8 * n_values), 6) END"
            ),
        )
        .orderBy("doc_id")
    )


# --- DEFLATE (fixed-Huffman subset) round 14 -------------------------------
# The one compression layer the codec family still outsourced to zlib
# (PNG IDAT, ZIP entries) — here the BITSTREAM itself is hand-rolled:
# a fixed-Huffman literal encoder (RFC 1951 §3.2.6 code lengths,
# Huffman codes packed MSB-first-within-code into LSB-first bytes —
# the classic deflate bit-order trap) and an inflate that decodes
# stored AND fixed-Huffman blocks including LZ77 length/distance
# pairs. The encoder's output is additionally REQUIRED to decode via
# stdlib zlib (raw window) — an external witness that the hand-rolled
# bitstream is genuine deflate, not a private format.


_DEFLATE_REV_MEMO: dict = {}


class _DeflateBitWriter:
    """LSB-first bit packer (RFC 1951 §3.1.1)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put_lsb(self, value: int, length: int) -> None:
        """Write `length` bits of value, LSB first (header fields,
        stored lengths, extra bits)."""
        self.acc |= (value & ((1 << length) - 1)) << self.nbits
        self.nbits += length
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def put_code(self, code: int, length: int) -> None:
        """Write a Huffman code: MSB of the code first (§3.1.1:
        'Huffman codes are packed starting with the most-significant
        bit of the code'). Emitting the bit-REVERSED code LSB-first
        produces the identical bitstream in one put (round-14: the
        per-bit loop was 8-9 put_lsb calls per literal in
        deflate_fixed_encode's hot path); reversals are memoized —
        the alphabet is small and fixed."""
        ent = _DEFLATE_REV_MEMO.get((code, length))
        if ent is None:
            rev = 0
            c = code
            for _ in range(length):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            _DEFLATE_REV_MEMO[(code, length)] = ent = rev
        self.put_lsb(ent, length)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _fixed_lit_code(sym: int) -> tuple:
    """(code, length) of literal/length symbol under the FIXED tree
    (RFC 1951 §3.2.6)."""
    if sym <= 143:
        return 0b00110000 + sym, 8
    if sym <= 255:
        return 0b110010000 + (sym - 144), 9
    if sym <= 279:
        return sym - 256, 7
    return 0b11000000 + (sym - 280), 8


def deflate_fixed_encode(data: bytes) -> bytes:
    """Literals-only fixed-Huffman deflate stream (BFINAL=1,
    BTYPE=01): every byte emitted as a literal code, then EOB. Valid
    raw-deflate — zlib.decompressobj(-15) must accept it (pinned by
    pytest and by the op's in-kernel cross-check)."""
    w = _DeflateBitWriter()
    w.put_lsb(1, 1)  # BFINAL
    w.put_lsb(0b01, 2)  # BTYPE fixed
    for b in data:
        code, ln = _fixed_lit_code(b)
        w.put_code(code, ln)
    code, ln = _fixed_lit_code(256)
    w.put_code(code, ln)
    return w.flush()


_LEN_BASE = [
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
    51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258,
]
_LEN_EXTRA = [
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4,
    4, 4, 5, 5, 5, 5, 0,
]
_DIST_BASE = [
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
    385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
    16385, 24577,
]
_DIST_EXTRA = [
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9,
    10, 10, 11, 11, 12, 12, 13, 13,
]


class _HuffTree:
    """Canonical Huffman decoder (RFC 1951 §3.2.2): codes assigned in
    (length, symbol) order; decode walks the bitstream MSB-first with
    per-length first-code/symbol-range tables. Raises ValueError on
    an over-subscribed length set or an unmatchable code."""

    def __init__(self, lengths: list) -> None:
        counts = {}
        for ln in lengths:
            if ln:
                counts[ln] = counts.get(ln, 0) + 1
        self.by_len = {}
        code = 0
        kraft = 0
        for ln in range(1, 16):
            code <<= 1
            n = counts.get(ln, 0)
            if n:
                syms = [s for s, l in enumerate(lengths) if l == ln]
                self.by_len[ln] = (code, syms)
                code += n
                kraft += n << (15 - ln)
        if kraft > 1 << 15:
            raise ValueError("over-subscribed Huffman code lengths")
        if not self.by_len:
            raise ValueError("empty Huffman alphabet")

    def decode(self, bitfn) -> int:
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | bitfn()
            ent = self.by_len.get(ln)
            if ent is not None and 0 <= code - ent[0] < len(ent[1]):
                return ent[1][code - ent[0]]
        raise ValueError("invalid Huffman code")


_FIXED_LIT_TREE = _HuffTree(
    [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
)
_FIXED_DIST_TREE = _HuffTree([5] * 30)


def _deflate_lut15(tree: _HuffTree) -> list:
    """Compile a _HuffTree into a peek-15 lookup list indexed by the
    next 15 bits in LSB-first READ order: lut[word] = (symbol,
    length), None where no code matches. Built once per tree and
    cached on the instance — inflate uses it only for the two module-
    level FIXED trees (a per-dynamic-block 32k fill would cost more
    than the walk it replaces). Deflate code lengths cap at 15
    (RFC 1951 §3.2.7), the same bound _HuffTree.decode walks."""
    lut = getattr(tree, "_lut15", None)
    if lut is None:
        lut = [None] * (1 << 15)
        for ln, (first, syms) in tree.by_len.items():
            for idx, sym in enumerate(syms):
                code = first + idx
                rev = 0
                c = code
                for _ in range(ln):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                ent = (sym, ln)
                for j in range(rev, 1 << 15, 1 << ln):
                    lut[j] = ent
        tree._lut15 = lut
    return lut

# code-length-code transmission order (RFC 1951 §3.2.7)
_CLC_ORDER = [
    16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15,
]


def inflate(payload: bytes) -> bytes:
    """REAL INFLATE, stdlib-free and now COMPLETE over the three
    RFC 1951 block types: stored (BTYPE=00), fixed-Huffman
    (BTYPE=01), and dynamic-Huffman (BTYPE=10) — the last via the
    full §3.2.7 grammar (code-length-code lengths in transmission
    order, a canonical CL tree, then lit/dist code lengths with the
    16/17/18 repeat-and-zero-run symbols spanning the lit->dist
    boundary), so arbitrary zlib/gzip deflate payloads decode
    (pinned by a pytest against zlib.compress output at every
    compression level). LZ77 length/distance back-references with
    extra bits throughout; truncation or corrupt trees raise
    ValueError (the codec-family contract)."""
    pos = 0
    total = 8 * len(payload)
    out = bytearray()

    def bit() -> int:
        nonlocal pos
        if pos >= total:
            raise ValueError("truncated deflate stream")
        b = (payload[pos >> 3] >> (pos & 7)) & 1
        pos += 1
        return b

    def bits_lsb(n: int) -> int:
        # bulk LSB-first read (round-14): one int.from_bytes window in
        # place of n bit() calls; raises at the same crossing point
        nonlocal pos
        if n == 0:
            return 0
        if pos + n > total:
            raise ValueError("truncated deflate stream")
        b0 = pos >> 3
        w = int.from_bytes(
            payload[b0 : b0 + (((pos & 7) + n + 7) >> 3)], "little"
        ) >> (pos & 7)
        pos += n
        return w & ((1 << n) - 1)

    def read_code_lut(lut: list) -> int:
        # peek-15 decode against a _deflate_lut15 table; observably
        # identical to _HuffTree.decode(bit): a match needing more
        # bits than remain (or no match with <15 bits left) raises
        # "truncated deflate stream" exactly where the walk would,
        # and a 15-bit non-match is the walk's "invalid Huffman code"
        nonlocal pos
        b0 = pos >> 3
        w = int.from_bytes(payload[b0 : b0 + 4], "little") >> (pos & 7)
        ent = lut[w & 0x7FFF]
        avail = total - pos
        if ent is not None and ent[1] <= avail:
            pos += ent[1]
            return ent[0]
        if avail >= 15:
            raise ValueError("invalid Huffman code")
        raise ValueError("truncated deflate stream")

    def read_dynamic_trees() -> tuple:
        hlit = bits_lsb(5) + 257
        hdist = bits_lsb(5) + 1
        hclen = bits_lsb(4) + 4
        cl_lengths = [0] * 19
        for i in range(hclen):
            cl_lengths[_CLC_ORDER[i]] = bits_lsb(3)
        cl_tree = _HuffTree(cl_lengths)
        lengths = []
        while len(lengths) < hlit + hdist:
            sym = cl_tree.decode(bit)
            if sym < 16:
                lengths.append(sym)
            elif sym == 16:
                if not lengths:
                    raise ValueError("repeat code with no previous")
                lengths += [lengths[-1]] * (3 + bits_lsb(2))
            elif sym == 17:
                lengths += [0] * (3 + bits_lsb(3))
            else:
                lengths += [0] * (11 + bits_lsb(7))
        if len(lengths) != hlit + hdist:
            raise ValueError("code-length run overflows alphabets")
        # RFC 1951 allows a literal-only block to transmit a single
        # zero-length distance code (HDIST=1, all lengths 0): legal
        # until a length symbol actually needs a distance
        dist_lengths = lengths[hlit:]
        return (
            _HuffTree(lengths[:hlit]),
            _HuffTree(dist_lengths) if any(dist_lengths) else None,
        )

    def block(
        lit_tree: _HuffTree,
        dist_tree: _HuffTree,
        lit_lut: list | None = None,
        dist_lut: list | None = None,
    ) -> None:
        while True:
            sym = (
                read_code_lut(lit_lut)
                if lit_lut is not None
                else lit_tree.decode(bit)
            )
            if sym == 256:
                return
            if sym < 256:
                out.append(sym)
                continue
            if sym > 285:
                raise ValueError("invalid length symbol")
            li = sym - 257
            length = _LEN_BASE[li] + bits_lsb(_LEN_EXTRA[li])
            if dist_tree is None:
                raise ValueError(
                    "length symbol in a block with no distance codes"
                )
            dcode = (
                read_code_lut(dist_lut)
                if dist_lut is not None
                else dist_tree.decode(bit)
            )
            if dcode > 29:
                raise ValueError("invalid distance code")
            dist = _DIST_BASE[dcode] + bits_lsb(_DIST_EXTRA[dcode])
            if dist > len(out):
                raise ValueError("distance before stream start")
            if dist >= length:
                # non-overlapping back-reference: one bulk slice copy
                start = len(out) - dist
                out.extend(out[start : start + length])
            else:
                # overlapping copies replay byte-wise (RFC 1951 §3.2.3)
                for _ in range(length):
                    out.append(out[-dist])

    while True:
        bfinal = bit()
        btype = bits_lsb(2)
        if btype == 0b00:  # stored
            pos = (pos + 7) & ~7  # byte-align
            if pos + 32 > total:
                raise ValueError("truncated stored-block header")
            ln = payload[pos >> 3] | (payload[(pos >> 3) + 1] << 8)
            nln = payload[(pos >> 3) + 2] | (payload[(pos >> 3) + 3] << 8)
            if ln ^ 0xFFFF != nln:
                raise ValueError("stored-block LEN/NLEN mismatch")
            pos += 32
            if pos + 8 * ln > total:
                raise ValueError("truncated stored-block data")
            start = pos >> 3
            out += payload[start : start + ln]
            pos += 8 * ln
        elif btype == 0b01:
            block(
                _FIXED_LIT_TREE,
                _FIXED_DIST_TREE,
                _deflate_lut15(_FIXED_LIT_TREE),
                _deflate_lut15(_FIXED_DIST_TREE),
            )
        elif btype == 0b10:
            lit_tree, dist_tree = read_dynamic_trees()
            block(lit_tree, dist_tree)
        else:
            raise ValueError("reserved BTYPE 11")
        if bfinal:
            return bytes(out)


# back-compat name from the round-14 first wave (now the full
# three-block-type decoder; the subset qualifier no longer applies)
inflate_fixed = inflate


_DFL_MAX_BYTES = 192


@query(
    "multimodal_deflate_fixed_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             substring(text, 1, {_DFL_MAX_BYTES}) AS s,
             octet_length(encode(substring(text, 1, {_DFL_MAX_BYTES})))
               AS n
      FROM documents),
    codes AS (
      SELECT doc_id, n,
             CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(string_split(s, ''),
                                      c -> CAST(ascii(c) AS BIGINT))
             END AS cs
      FROM px)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           -- fixed tree: bytes <= 143 cost 8 bits, 144-255 cost 9;
           -- + 3 header bits + 7 EOB bits, ceil to bytes
           CAST((3 + 7 + coalesce(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(cs, c -> CASE WHEN c <= 143
                                   THEN CAST(8 AS BIGINT)
                                   ELSE CAST(9 AS BIGINT) END)),
                  (a, b) -> a + b), 0) + 7) // 8 AS BIGINT)
             AS deflate_bytes,
           CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                (a, b) -> a + b), 0) AS BIGINT) AS byte_sum
    FROM codes
    ORDER BY doc_id
    """,
)
def multimodal_deflate_fixed_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAND-ROLLED DEFLATE BITSTREAM ROUNDTRIP — the compression layer
    the codec family previously outsourced to zlib is now in-tree at
    the BIT level: each doc's first 192 bytes are fixed-Huffman
    deflate-encoded (RFC 1951 §3.2.6 literal codes, MSB-first codes
    packed into LSB-first bytes — the bit-order trap that silently
    corrupts naive implementations), decoded back by BOTH the
    hand-rolled inflate_fixed (which also handles stored blocks and
    LZ77 length/distance pairs, pinned by pytests) AND stdlib
    zlib.decompressobj(-15) — the kernel raises unless all three
    agree, so zlib acts as an external standards witness that the
    bitstream is genuine deflate. Emitted stats: the exact encoded
    size from the closed form (3 + 7 + sum(8 or 9 bits per literal))
    and the byte sum of the decoded payload — both recomputed by the
    oracle from raw text.

    Parity: all-integer outputs; empty-doc split guard per the
    round-13 rule.

    Shape at 100 TB: one mapInPandas over the documents scan, no
    shuffle; per-row cost is the bit loop over <= 192 literals."""
    import zlib as _zlib

    import pandas as pd

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_bytes": [], "deflate_bytes": [],
                    "byte_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")[:_DFL_MAX_BYTES]
                blob = deflate_fixed_encode(data)
                if inflate_fixed(blob) != data:
                    raise ValueError("hand-rolled inflate mismatch")
                if _zlib.decompressobj(-15).decompress(blob) != data:
                    raise ValueError("zlib witness rejected the stream")
                rows["doc_id"].append(doc_id)
                rows["n_bytes"].append(len(data))
                rows["deflate_bytes"].append(len(blob))
                rows["byte_sum"].append(sum(data))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        run,
        "doc_id bigint, n_bytes bigint, deflate_bytes bigint, "
        "byte_sum bigint",
    ).orderBy("doc_id")


# --- Parquet footer (Thrift compact protocol) round 14 ---------------------
#
# A REAL hand-rolled parser for the engine's OWN storage format: the
# parquet footer is a Thrift compact-protocol FileMetaData struct
# (parquet-format parquet.thrift; thrift compact-protocol spec), and
# this subset reader implements the full wire grammar — varints,
# zigzag ints, field-delta headers, nested structs, lists, binary —
# generically, so unknown/new fields are SKIPPED by type like every
# other walker in this module (TIFF IFDs, RIFF chunks). Nothing here
# reads pyarrow: maintenance_parquet_footer_stats proves the stats
# exist via the library; THIS parser proves we can read them from the
# raw bytes, which is what a scan planner actually does.

_TC_STOP = 0
_TC_BOOL_TRUE = 1
_TC_BOOL_FALSE = 2
_TC_BYTE = 3
_TC_I16 = 4
_TC_I32 = 5
_TC_I64 = 6
_TC_DOUBLE = 7
_TC_BINARY = 8
_TC_LIST = 9
_TC_SET = 10
_TC_MAP = 11
_TC_STRUCT = 12


def _tc_varint(buf: bytes, pos: int) -> tuple:
    """ULEB128 varint. Returns (value, new_pos); ValueError on
    truncation (the module's decoder contract: every cut offset
    raises loudly)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("corrupt parquet footer: varint too long")


def _tc_zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _tc_read_value(buf: bytes, pos: int, ftype: int):
    """Read one compact-protocol value of wire type `ftype`.
    Returns (value, new_pos). Lists/sets -> Python list, structs ->
    {field_id: value} dict, maps -> list of (k, v) pairs."""
    if ftype == _TC_BOOL_TRUE:
        return True, pos
    if ftype == _TC_BOOL_FALSE:
        return False, pos
    if ftype == _TC_BYTE:
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: byte")
        v = buf[pos]
        return v - 256 if v >= 128 else v, pos + 1
    if ftype in (_TC_I16, _TC_I32, _TC_I64):
        u, pos = _tc_varint(buf, pos)
        return _tc_zigzag(u), pos
    if ftype == _TC_DOUBLE:
        if pos + 8 > len(buf):
            raise ValueError("truncated parquet footer: double")
        return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
    if ftype == _TC_BINARY:
        n, pos = _tc_varint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated parquet footer: binary body")
        return bytes(buf[pos:pos + n]), pos + n
    if ftype in (_TC_LIST, _TC_SET):
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: list header")
        hdr = buf[pos]
        pos += 1
        size = hdr >> 4
        etype = hdr & 0x0F
        if size == 15:
            size, pos = _tc_varint(buf, pos)
        out = []
        for _ in range(size):
            v, pos = _tc_read_element(buf, pos, etype)
            out.append(v)
        return out, pos
    if ftype == _TC_MAP:
        size, pos = _tc_varint(buf, pos)
        if size == 0:
            return [], pos
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: map types")
        kt, vt = buf[pos] >> 4, buf[pos] & 0x0F
        pos += 1
        out = []
        for _ in range(size):
            k, pos = _tc_read_element(buf, pos, kt)
            v, pos = _tc_read_element(buf, pos, vt)
            out.append((k, v))
        return out, pos
    if ftype == _TC_STRUCT:
        return _tc_read_struct(buf, pos)
    raise ValueError(f"corrupt parquet footer: unknown type {ftype}")


def _tc_read_element(buf: bytes, pos: int, etype: int):
    """Read one list/set/map ELEMENT. Unlike field context (where
    bools live in the type nibble), element-context bools occupy one
    byte (1 = true, 2 = false per the compact-protocol spec); every
    other type shares the field wire format."""
    if etype in (_TC_BOOL_TRUE, _TC_BOOL_FALSE):
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: bool element")
        b = buf[pos]
        if b not in (_TC_BOOL_TRUE, _TC_BOOL_FALSE):
            raise ValueError("corrupt parquet footer: bool element")
        return b == _TC_BOOL_TRUE, pos + 1
    return _tc_read_value(buf, pos, etype)


def _tc_read_struct(buf: bytes, pos: int) -> tuple:
    """Read a compact-protocol struct into {field_id: value}; field
    ids are short-form deltas or long-form zigzag varints per the
    spec. Returns (dict, new_pos)."""
    fields = {}
    last_fid = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated parquet footer: struct")
        hdr = buf[pos]
        pos += 1
        if hdr == _TC_STOP:
            return fields, pos
        delta = hdr >> 4
        ftype = hdr & 0x0F
        if delta:
            fid = last_fid + delta
        else:
            u, pos = _tc_varint(buf, pos)
            fid = _tc_zigzag(u)
        last_fid = fid
        v, pos = _tc_read_value(buf, pos, ftype)
        fields[fid] = v


def parse_parquet_footer(content: bytes) -> dict:
    """Parse a parquet file's footer from raw file bytes: magic
    check, little-endian footer length, then the Thrift compact
    FileMetaData walk. Returns the generic field tree (field-id
    keyed); see parquet.thrift for ids: 3=num_rows, 4=row_groups
    (1=columns, 3=num_rows; column 3=meta_data with 3=path_in_schema,
    12=statistics {1:max,2:min,3:null_count,5:max_value,
    6:min_value})."""
    if len(content) < 12:
        raise ValueError("truncated parquet file: shorter than magics")
    if content[:4] != b"PAR1" or content[-4:] != b"PAR1":
        raise ValueError("not a parquet file: missing PAR1 magic")
    flen = struct.unpack("<I", content[-8:-4])[0]
    if flen + 12 > len(content):
        raise ValueError("truncated parquet file: footer length")
    footer = content[-8 - flen:-8]
    fmd, _ = _tc_read_struct(footer, 0)
    return fmd


def _pqf_int64_stat(stats: dict, new_id: int, old_id: int) -> int:
    """INT64 statistics value: prefer min_value/max_value (5/6), fall
    back to deprecated min/max (1/2); PLAIN-encoded 8-byte LE."""
    raw = stats.get(new_id, stats.get(old_id))
    if raw is None or len(raw) != 8:
        raise ValueError("parquet footer: missing int64 statistics")
    return struct.unpack("<q", raw)[0]


_PQF_GROUPS = 8


@session_artifact
def _pqf_layout_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once one-file-per-group documents layout (shared by the
    footer-parse and page-decode ops) and return the binaryFile scan
    of its files (path, content)."""
    from ..tables import sf_tag

    base = f"{SCRATCH}/sources/pqfooter_{sf_tag(sf_dir)}"
    (
        table(spark, sf_dir, "documents")
        .selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "CAST(length(text) AS BIGINT) AS text_len",
            f"CAST(doc_id % {_PQF_GROUPS} AS BIGINT) AS grp",
        )
        .repartition("grp")  # one task -> one file per group
        .write.mode("overwrite")
        .partitionBy("grp")
        .parquet(base)
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(base)
        .select("path", "content")
    )


@query(
    "multimodal_parquet_footer_parse",
    # The footer-stats trick, now against OUR OWN parser: the oracle
    # recomputes count/min/max/nulls per group FROM DATA; the Spark
    # side reads them from raw footer bytes. A hash match proves the
    # whole thrift walk (varints, zigzag, nested structs, stats
    # decode) is faithful.
    oracle=f"""
    SELECT CAST(doc_id % {_PQF_GROUPS} AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(doc_id) AS BIGINT) AS mn_doc_id,
           CAST(max(doc_id) AS BIGINT) AS mx_doc_id,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def multimodal_parquet_footer_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAND-ROLLED PARQUET FOOTER DECODE — the real-decoder family
    applied to the engine's own storage format. documents is written
    once per session as real Spark parquet partitioned into 8
    doc_id%8 groups (repartition+partitionBy -> one file per group,
    the round-14 footer-stats layout); a binaryFile scan then ships
    each file's bytes to a mapInPandas task that parses the footer
    with a from-scratch Thrift COMPACT-PROTOCOL reader (varint /
    zigzag / field-delta headers / nested struct walk — no pyarrow
    anywhere) and extracts FileMetaData.num_rows plus the doc_id
    column chunks' PLAIN INT64 min_value/max_value/null_count
    statistics.

    The oracle recomputes count/min/max/nulls per group FROM THE
    DATA, so the driver hash match proves the writer+parser pair is
    faithful end-to-end: the footer bytes Spark wrote decode to
    exactly the extrema the data has — the same property a scan
    planner's row-group pruning depends on
    (maintenance_rowgroup_pruning_sim measures what those stats buy;
    maintenance_parquet_footer_stats reads them via pyarrow; THIS op
    reads them from the wire format itself).

    Decoder contract (module rule): every truncated or corrupt
    region — magic, footer length, any varint, any struct field,
    stats payload — raises ValueError; unknown thrift fields and
    types are skipped generically by the wire grammar, so footers
    from newer writers with extra fields still parse.

    Shape at 100 TB: footer reads are metadata-only KBs per file and
    embarrassingly parallel (one task per file; production would
    issue a ranged read of the tail instead of binaryFile's full
    fetch — the parse itself touches only the tail slice); the
    per-group reduce is an 8-row aggregate. The one-off partitioned
    write is the same range-shuffle layout job as
    maintenance_zorder_cluster."""
    import re

    import pandas as pd

    binf = _pqf_layout_files(spark, sf_dir)

    def parse(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"grp=(\d+)", path)
                if not m:
                    raise ValueError(f"no grp partition in {path}")
                fmd = parse_parquet_footer(bytes(content))
                n_rows = 0
                mn = mx = None
                nulls = 0
                for rg in fmd[4]:  # row_groups
                    n_rows += rg[3]  # RowGroup.num_rows
                    for col in rg[1]:  # columns
                        md = col[3]  # ColumnMetaData
                        path_in_schema = [
                            p.decode() for p in md[3]
                        ]
                        if path_in_schema != ["doc_id"]:
                            continue
                        st = md.get(12)
                        if st is None:
                            raise ValueError(
                                "parquet footer: no statistics for"
                                " doc_id chunk"
                            )
                        smin = _pqf_int64_stat(st, 6, 2)
                        smax = _pqf_int64_stat(st, 5, 1)
                        nulls += int(st.get(3, 0))
                        mn = smin if mn is None else min(mn, smin)
                        mx = smax if mx is None else max(mx, smax)
                if mn is None:
                    raise ValueError(
                        "parquet footer: no doc_id column chunk found"
                    )
                rows.append(
                    (int(m.group(1)), n_rows, mn, mx, nulls)
                )
            yield pd.DataFrame(
                rows,
                columns=["grp", "n_rows", "mn_doc_id", "mx_doc_id",
                         "n_nulls"],
            )

    parsed = binf.mapInPandas(
        parse,
        schema="grp bigint, n_rows bigint, mn_doc_id bigint,"
        " mx_doc_id bigint, n_nulls bigint",
    )
    return (
        parsed.groupBy("grp")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("mn_doc_id").alias("mn_doc_id"),
            F.max("mx_doc_id").alias("mx_doc_id"),
            F.sum("n_nulls").alias("n_nulls"),
        )
        .orderBy("grp")
    )


# --- Parquet data pages: hand-rolled Snappy + RLE + PLAIN (round 14) -------
#
# The footer parser above proves the METADATA decodes; this section
# decodes the DATA: raw-Snappy block decompression (the big-data
# codec parquet actually stores), the RLE/bit-packed hybrid that
# encodes definition levels, thrift PageHeader walking, and PLAIN
# INT64 value extraction — a from-scratch read path for the engine's
# own column chunks.


def snappy_decode(data: bytes) -> bytes:
    """Raw (unframed) Snappy block decompression, as stored in
    parquet pages: varint preamble with the uncompressed length,
    then 2-bit-tagged elements (literal / copy with 1-, 2- or 4-byte
    offsets; copies may self-overlap and are replayed byte-wise).
    ValueError on any truncation or bound violation."""
    ulen, pos = _tc_varint(data, 0)
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                nb = ln - 59
                if pos + nb > len(data):
                    raise ValueError("truncated snappy: literal length")
                ln = int.from_bytes(data[pos:pos + nb], "little")
                pos += nb
            ln += 1
            if pos + ln > len(data):
                raise ValueError("truncated snappy: literal body")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 0x07) + 4
            if pos >= len(data):
                raise ValueError("truncated snappy: copy1 offset")
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            if pos + 2 > len(data):
                raise ValueError("truncated snappy: copy2 offset")
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > len(data):
                raise ValueError("truncated snappy: copy4 offset")
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("corrupt snappy: copy offset out of range")
        for _ in range(ln):  # overlapping copies replay byte-wise
            out.append(out[-off])
    if len(out) != ulen:
        raise ValueError(
            f"corrupt snappy: declared {ulen} bytes, got {len(out)}"
        )
    return bytes(out)


def rle_bitpacked_hybrid(
    buf: bytes, bit_width: int, count: int
) -> list:
    """Parquet RLE/bit-packed hybrid decode (<length-prefixed in the
    caller>): varint run headers — LSB set = bit-packed group of
    (header >> 1) * 8 values packed LSB-first, clear = RLE run of
    (header >> 1) copies of a fixed-width little-endian value. Stops
    after `count` values; ValueError on truncation."""
    vals = []
    pos = 0
    vw = (bit_width + 7) // 8
    mask = (1 << bit_width) - 1
    while len(vals) < count:
        header, pos = _tc_varint(buf, pos)
        if header & 1:  # bit-packed
            groups = header >> 1
            nbytes = groups * bit_width
            if pos + nbytes > len(buf):
                raise ValueError("truncated RLE: bit-packed group")
            bits = int.from_bytes(buf[pos:pos + nbytes], "little")
            pos += nbytes
            for i in range(groups * 8):
                if len(vals) >= count:
                    break
                vals.append((bits >> (i * bit_width)) & mask)
        else:  # RLE run
            run = header >> 1
            if pos + vw > len(buf):
                raise ValueError("truncated RLE: run value")
            v = int.from_bytes(buf[pos:pos + vw], "little") & mask
            pos += vw
            vals.extend([v] * min(run, count - len(vals)))
    return vals


def decode_parquet_int64_chunk(content: bytes, column: str) -> tuple:
    """Decode every value of an INT64 column chunk from raw parquet
    file bytes using ONLY the hand-rolled readers in this module:
    footer -> chunk offset/codec -> PageHeader walk -> Snappy ->
    def-level RLE -> values: PLAIN int64 directly, or a PLAIN int64
    dictionary page + RLE/bit-packed index pages (PLAIN_DICTIONARY /
    RLE_DICTIONARY at arbitrary index bit width). Returns
    (values, n_nulls). Subset contract: flat schemas, v1 data pages,
    SNAPPY or UNCOMPRESSED codec — anything else raises
    NotImplementedError; truncation raises ValueError."""
    fmd = parse_parquet_footer(content)
    schema = fmd[2]  # list of SchemaElement
    root_children = schema[0].get(5, 0)
    if root_children != len(schema) - 1:
        raise NotImplementedError(
            "parquet page decoder subset: flat schemas only"
        )
    optional = None
    for el in schema[1:]:
        if el[4].decode() == column:  # SchemaElement.name (field 4)
            optional = el.get(3, 0) == 1  # repetition_type OPTIONAL
    if optional is None:
        raise ValueError(f"parquet: no column {column!r} in schema")
    values = []
    n_nulls = 0
    found = False
    for rg in fmd[4]:
        for col in rg[1]:
            md = col[3]
            if [p.decode() for p in md[3]] != [column]:
                continue
            found = True
            codec = md[4]  # 0=UNCOMPRESSED, 1=SNAPPY
            if codec not in (0, 1):
                raise NotImplementedError(
                    f"parquet page decoder subset: codec {codec}"
                )
            # dictionary-encoded chunks start at the dictionary page
            off = min(md[9], md[11]) if 11 in md else md[9]
            end = off + md[7]  # + total_compressed_size
            if end > len(content):
                raise ValueError("truncated parquet: chunk extent")
            pos = off
            n_seen = 0
            dictionary = None
            while n_seen < md[5]:  # num_values
                ph, pos = _tc_read_struct(content, pos)
                csize = ph[3]
                if pos + csize > len(content) or pos + csize > end:
                    raise ValueError("truncated parquet: page body")
                body = content[pos:pos + csize]
                pos += csize
                if codec == 1:
                    body = snappy_decode(body)
                if len(body) != ph[2]:  # uncompressed_page_size
                    raise ValueError(
                        "corrupt parquet: page size mismatch"
                    )
                if ph[1] == 2:  # DICTIONARY_PAGE
                    dih = ph[7]  # dictionary_page_header
                    if dih.get(2, 0) not in (0, 2):  # PLAIN variants
                        raise NotImplementedError(
                            "parquet page decoder subset: dictionary"
                            f" encoding {dih.get(2)}"
                        )
                    n_dict = dih[1]
                    if 8 * n_dict > len(body):
                        raise ValueError(
                            "truncated parquet: dictionary values"
                        )
                    dictionary = [
                        int.from_bytes(
                            body[8 * i:8 * i + 8], "little",
                            signed=True,
                        )
                        for i in range(n_dict)
                    ]
                    continue
                if ph[1] != 0:  # PageHeader.type DATA_PAGE
                    raise NotImplementedError(
                        "parquet page decoder subset: page type"
                        f" {ph[1]}"
                    )
                dph = ph[5]  # data_page_header
                n_page = dph[1]
                enc = dph[2]
                if enc not in (0, 2, 8):  # PLAIN / *_DICTIONARY
                    raise NotImplementedError(
                        f"parquet page decoder subset: encoding {enc}"
                    )
                bpos = 0
                defs = [1] * n_page
                if optional:
                    if bpos + 4 > len(body):
                        raise ValueError(
                            "truncated parquet: def-level length"
                        )
                    dlen = int.from_bytes(body[:4], "little")
                    bpos = 4
                    if bpos + dlen > len(body):
                        raise ValueError(
                            "truncated parquet: def-level runs"
                        )
                    defs = rle_bitpacked_hybrid(
                        body[bpos:bpos + dlen], 1, n_page
                    )
                    bpos += dlen
                n_present = sum(defs)
                if enc == 0:  # PLAIN int64
                    need = 8 * n_present
                    if bpos + need > len(body):
                        raise ValueError(
                            "truncated parquet: PLAIN values"
                        )
                    for i in range(n_present):
                        values.append(
                            int.from_bytes(
                                body[bpos + 8 * i:bpos + 8 * i + 8],
                                "little",
                                signed=True,
                            )
                        )
                else:  # dictionary indices: 1 bw byte + RLE hybrid
                    if dictionary is None:
                        raise ValueError(
                            "parquet: dictionary-encoded page before"
                            " any dictionary page"
                        )
                    if bpos >= len(body):
                        raise ValueError(
                            "truncated parquet: index bit width"
                        )
                    bw = body[bpos]
                    bpos += 1
                    if bw > 32:
                        raise ValueError(
                            f"corrupt parquet: index bit width {bw}"
                        )
                    idx = rle_bitpacked_hybrid(
                        body[bpos:], bw, n_present
                    )
                    for i in idx:
                        if i >= len(dictionary):
                            raise ValueError(
                                "corrupt parquet: dictionary index"
                                " out of range"
                            )
                        values.append(dictionary[i])
                n_nulls += n_page - n_present
                n_seen += n_page
    if not found:
        raise ValueError(f"parquet: no chunk for column {column!r}")
    return values, n_nulls


@query(
    "multimodal_parquet_page_decode",
    # Oracle recomputes count/sum/min/max per group FROM DATA; the
    # Spark side computes them from VALUES DECODED BY HAND out of the
    # pages (sum is the tell: footer statistics don't carry it, so a
    # match proves real value decode, not stats echo).
    oracle=f"""
    SELECT CAST(doc_id % {_PQF_GROUPS} AS BIGINT) AS grp,
           CAST(count(doc_id) AS BIGINT) AS n_values,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(min(doc_id) AS BIGINT) AS mn_doc_id,
           CAST(max(doc_id) AS BIGINT) AS mx_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def multimodal_parquet_page_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAND-ROLLED PARQUET DATA-PAGE DECODE — the companion to
    multimodal_parquet_footer_parse that reads the VALUES, closing
    the full from-scratch read path for the engine's own storage
    format: footer thrift -> column-chunk offsets -> PageHeader
    thrift walk -> raw-SNAPPY block decompression (hand-rolled LZ77
    with overlapping-copy replay — the codec 100 TB lakes actually
    store) -> RLE/bit-packed-hybrid definition levels -> PLAIN INT64
    values. No pyarrow in the read path anywhere.

    The same one-file-per-group documents layout as the footer op
    (shared write); each mapInPandas task decodes its file's doc_id
    chunk completely and emits count/sum/min/max of the DECODED
    values. The oracle recomputes those from the data — and sum is
    the honest witness: footer statistics carry min/max but never
    sum, so a hash match can only come from decoding every page's
    actual bytes correctly (levels included: a def-level slip would
    shift every subsequent 8-byte value read).

    Subset contract (loud by the module rule): flat schemas, v1
    DATA_PAGEs, PLAIN encoding, SNAPPY/UNCOMPRESSED codecs;
    dictionary pages, v2 pages, nested schemas, other codecs raise
    NotImplementedError; every truncation raises ValueError
    (pytests probe snappy/RLE/page cuts, plus an independent
    pyarrow-compressor witness for the snappy decoder).

    Shape at 100 TB: column-chunk decode is embarrassingly parallel
    at exactly the granularity Spark schedules scans (one task per
    chunk, ranged reads in production); everything downstream is an
    8-row aggregate."""
    import re

    import pandas as pd

    binf = _pqf_layout_files(spark, sf_dir)

    def parse(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"grp=(\d+)", path)
                if not m:
                    raise ValueError(f"no grp partition in {path}")
                vals, _nulls = decode_parquet_int64_chunk(
                    bytes(content), "doc_id"
                )
                if not vals:
                    raise ValueError(f"no doc_id values in {path}")
                rows.append(
                    (
                        int(m.group(1)),
                        len(vals),
                        sum(vals),
                        min(vals),
                        max(vals),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "grp", "n_values", "sum_doc_id", "mn_doc_id",
                    "mx_doc_id",
                ],
            )

    parsed = binf.mapInPandas(
        parse,
        schema="grp bigint, n_values bigint, sum_doc_id bigint,"
        " mn_doc_id bigint, mx_doc_id bigint",
    )
    return (
        parsed.groupBy("grp")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("sum_doc_id").alias("sum_doc_id"),
            F.min("mn_doc_id").alias("mn_doc_id"),
            F.max("mx_doc_id").alias("mx_doc_id"),
        )
        .orderBy("grp")
    )


# --- Dictionary-encoded chunk decode op (round 14, second session) ---------

_PQD_CARD = 50  # low cardinality forces Spark's dictionary encoding


@session_artifact
def _pqd_layout_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once one-file-per-group layout whose `v` column has
    cardinality 50 — low enough that Spark's parquet writer
    dictionary-encodes it (PLAIN_DICTIONARY, probed) — and return
    the binaryFile scan."""
    from ..tables import sf_tag

    base = f"{SCRATCH}/sources/pqdict_{sf_tag(sf_dir)}"
    (
        table(spark, sf_dir, "documents")
        .selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            f"CAST(doc_id % {_PQD_CARD} AS BIGINT) AS v",
            f"CAST(doc_id % {_PQF_GROUPS} AS BIGINT) AS grp",
        )
        .repartition("grp")
        .write.mode("overwrite")
        .partitionBy("grp")
        .parquet(base)
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(base)
        .select("path", "content")
    )


@query(
    "multimodal_parquet_dict_page_decode",
    # Oracle recomputes per-group stats of the low-cardinality value
    # from data; n_distinct is the dictionary-path witness (a wrong
    # index map collapses or inflates the distinct set).
    oracle=f"""
    WITH v AS (
      SELECT CAST(doc_id % {_PQF_GROUPS} AS BIGINT) AS grp,
             doc_id % {_PQD_CARD} AS v
      FROM documents)
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(min(v) AS BIGINT) AS mn_v,
           CAST(max(v) AS BIGINT) AS mx_v,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
    FROM v GROUP BY grp ORDER BY grp
    """,
)
def multimodal_parquet_dict_page_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAND-ROLLED DICTIONARY-PAGE DECODE — the round-15 queue pull
    completing the parquet read path over BOTH value encodings:
    where multimodal_parquet_page_decode reads PLAIN chunks, this op
    writes a layout whose low-cardinality column Spark's writer
    dictionary-encodes (PLAIN_DICTIONARY, cardinality 50 — probed),
    and decodes it from raw bytes: dictionary page (PLAIN int64
    after hand-rolled Snappy) + per-page index streams (one
    bit-width byte + the RLE/bit-packed hybrid at that width — the
    SAME decoder the definition levels use, now at 6-bit width).

    The oracle recomputes count/sum/min/max/DISTINCT per group from
    the data; n_distinct is the dictionary-specific witness — an
    off-by-one in the index map or a mis-sized bit width collapses
    or inflates the decoded distinct set, so a hash match proves the
    index->value indirection is exact. Pytests cross-check against
    pyarrow-written dictionaries at 1-bit and 9-bit index widths
    with nulls.

    Shape at 100 TB: identical to the PLAIN twin — per-chunk
    parallel metadata+page reads, 8-row reduce; dictionary encoding
    is WHY low-cardinality columns scan fast at scale (indices are
    2-6 bits, the 8-byte values live once per chunk)."""
    import re

    import pandas as pd

    binf = _pqd_layout_files(spark, sf_dir)

    def parse(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"grp=(\d+)", path)
                if not m:
                    raise ValueError(f"no grp partition in {path}")
                vals, _nulls = decode_parquet_int64_chunk(
                    bytes(content), "v"
                )
                if not vals:
                    raise ValueError(f"no v values in {path}")
                rows.append(
                    (
                        int(m.group(1)),
                        len(vals),
                        sum(vals),
                        min(vals),
                        max(vals),
                        len(set(vals)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["grp", "n_values", "sum_v", "mn_v", "mx_v",
                         "n_distinct"],
            )

    parsed = binf.mapInPandas(
        parse,
        schema="grp bigint, n_values bigint, sum_v bigint,"
        " mn_v bigint, mx_v bigint, n_distinct bigint",
    )
    # one file per group by construction; keep the aggregate for
    # multi-file robustness on everything except n_distinct (which
    # is exact per file and equal across files of the same group
    # only when each group holds one file — enforce loudly instead)
    return (
        parsed.groupBy("grp")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("sum_v").alias("sum_v"),
            F.min("mn_v").alias("mn_v"),
            F.max("mx_v").alias("mx_v"),
            F.max("n_distinct").alias("n_distinct"),
            F.count("*").alias("_nf"),
        )
        .where(
            F.expr(
                "assert_true(_nf = 1, 'dict decode layout: expected"
                " exactly one file per group') IS NULL"
            )
        )
        .drop("_nf")
        .orderBy("grp")
    )
