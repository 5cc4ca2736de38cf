"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Convention (``schemas.MULTIMODAL_ASSET``): media travels as a
``BinaryType`` payload column with modality/MIME/metadata columns
alongside, so filtering, partitioning, and routing never deserialize
bytes. Byte-touching work (header decode, featurize)
runs in Arrow-batched ``mapInPandas`` stages — Python sees columnar
batches, Spark keeps the plan distributed, and the UDF's batch shape is
(partition → iterator of pandas DataFrames).

No image/audio codec is used: decode parses container headers with
``struct``, and featurization is a deterministic fake — the Spark-side
schema, partitioning, and batch plumbing are real and tested. Pixel,
sample and frame decode need a codec and are not implemented.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Output schema of :func:`featurize_assets`.
FEATURE_SCHEMA = (
    "asset_id bigint, modality string, n_bytes bigint, digest string, "
    "feat array<double>"
)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Lift the ``documents`` fixture into the multimodal asset layout:
    utf-8 bytes as the opaque payload, metadata map alongside."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        F.lit("text/plain;charset=utf-8").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("meta"),
    )


def _fake_embedding(digest: bytes, dims: int = 4) -> list[float]:
    """Deterministic stand-in for a learned featurizer: unit-scaled
    bytes of the content digest."""
    return [b / 255.0 for b in digest[:dims]]


def featurize_assets(assets: DataFrame, dims: int = 4) -> DataFrame:
    """Arrow-batched featurization over binary payloads.

    Real pipelines put the model call here; the deterministic fake
    (sha256 digest + digest-derived vector) keeps the full distributed
    path — batch iteration, binary columns through Arrow, typed output
    schema — executable and oracle-checkable.
    """

    def featurize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            # null payloads (e.g. null-text documents encoded to a
            # null binary) feature as NULLs, not a TypeError — the
            # row must survive with NULL stats like the SQL mirror
            digests = [
                hashlib.sha256(p).digest() if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [
                        len(p) if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "digest": [
                        d.hex() if d is not None else None for d in digests
                    ],
                    "feat": [
                        _fake_embedding(d, dims) if d is not None else None
                        for d in digests
                    ],
                }
            )

    return assets.mapInPandas(featurize, schema=FEATURE_SCHEMA)


#: Output schema of :func:`decode_image` (header-level decode).
IMAGE_HEADER_SCHEMA = (
    "asset_id bigint, format string, width int, height int, "
    "bit_depth int, channels int"
)

#: PNG color type -> sample channels (PNG spec, "Color types and
#: values"): 0 greyscale, 2 truecolor, 3 palette (1 index channel),
#: 4 greyscale+alpha, 6 truecolor+alpha.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Legal bit depths per color type (same spec table): palette caps at
#: 8, the multi-sample types require byte-aligned samples.
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: JPEG start-of-frame markers (ITU T.81 table B.1): every SOFn
#: carries (precision, height, width, n_components) — EXCLUDING the
#: same-range non-frame markers DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
#: Standalone markers that carry no length word (RSTn, SOI, EOI, TEM).
_JPEG_BARE_MARKERS = frozenset(range(0xD0, 0xDA)) | {0x01}


def parse_png_header(payload: "bytes | None") -> "dict | None":
    """Width/height/bit-depth/channels from a PNG IHDR, pure ``struct``.

    The 8-byte signature is followed by the IHDR chunk, which the PNG
    spec requires FIRST: 4-byte big-endian length (13), the ASCII type
    ``IHDR``, then width(4BE) height(4BE) bit-depth(1) color-type(1).
    No codec needed — this is the metadata a 100 TB curation filter
    (drop tiny images, route by aspect ratio) reads without ever
    decoding pixels. Returns ``None`` for anything that is not a
    well-formed PNG prefix.
    """
    if payload is None or len(payload) < 26:
        return None
    if not payload.startswith(_PNG_SIGNATURE):
        return None
    length, chunk_type = struct.unpack_from(">I4s", payload, 8)
    if chunk_type != b"IHDR" or length != 13:
        return None
    width, height, bit_depth, color_type = struct.unpack_from(
        ">IIBB", payload, 16
    )
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or width == 0 or height == 0:
        return None
    if width >= 2**31 or height >= 2**31:
        # The PNG spec caps dimensions at 2**31 - 1, and the Int32
        # output columns share that bound — a corrupt header must
        # decode to NULL for quarantine, not overflow the Arrow batch.
        return None
    if bit_depth not in _PNG_DEPTHS[color_type]:
        return None
    return {
        "format": "png",
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "channels": channels,
    }


def parse_jpeg_header(payload: "bytes | None") -> "dict | None":
    """Dimensions from the first JPEG SOFn segment, pure ``struct``.

    Walks the marker-segment stream (ITU T.81 B.2): SOI, then
    length-prefixed segments (length includes its own two bytes),
    0xFF fill bytes permitted before any marker, until a
    start-of-frame marker whose payload is precision(1) height(2BE)
    width(2BE) n_components(1). Stops at SOS/EOI (entropy-coded data
    — no frame header seen means no dimensions). Returns ``None`` for
    non-JPEG or truncated-before-SOF payloads.
    """
    if payload is None or len(payload) < 4:
        return None
    if payload[0] != 0xFF or payload[1] != 0xD8:  # SOI
        return None
    i, n = 2, len(payload)
    while i + 1 < n:
        if payload[i] != 0xFF:
            return None  # desynchronized: not a marker where one is due
        while i < n and payload[i] == 0xFF:  # fill bytes
            i += 1
        if i >= n:
            return None
        marker = payload[i]
        i += 1
        if marker in _JPEG_BARE_MARKERS:
            continue
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack_from(">H", payload, i)
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF_MARKERS:
            if i + 2 + 6 > n or seg_len < 8:
                return None
            precision, height, width, n_comp = struct.unpack_from(
                ">BHHB", payload, i + 2
            )
            if width == 0 or height == 0 or n_comp == 0:
                return None
            return {
                "format": "jpeg",
                "width": width,
                "height": height,
                "bit_depth": precision,
                "channels": n_comp,
            }
        if marker == 0xDA:  # SOS: entropy-coded data, no SOF seen
            return None
        i += seg_len
    return None


def parse_image_header(payload: "bytes | None") -> "dict | None":
    """Dispatch on magic bytes: PNG, then JPEG, else ``None``."""
    return parse_png_header(payload) or parse_jpeg_header(payload)


def parse_wav_header(payload: "bytes | None") -> "dict | None":
    """Channels / sample rate / bit depth / duration from a WAV RIFF
    header, pure ``struct`` (RIFF spec: little-endian chunks).

    Walks ``[id(4), size(4LE), data]`` chunks (padded to even) after
    the ``RIFF....WAVE`` preamble, in any order, reading the ``fmt ``
    chunk's (channels, sample_rate, byte_rate, bits) and the ``data``
    chunk's size — duration_ms = data_bytes * 1000 // byte_rate, no
    sample decoding. Returns ``None`` for non-WAV or a header
    truncated before both chunks are seen.
    """
    if payload is None or len(payload) < 12:
        return None
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i, n = 12, len(payload)
    fmt = None
    data_size = None
    while i + 8 <= n:
        chunk_id = payload[i : i + 4]
        (size,) = struct.unpack_from("<I", payload, i + 4)
        body = i + 8
        if chunk_id == b"fmt " and size >= 16 and body + 16 <= n:
            _, channels, sample_rate, byte_rate, _, bits = (
                struct.unpack_from("<HHIIHH", payload, body)
            )
            fmt = (channels, sample_rate, byte_rate, bits)
        elif chunk_id == b"data":
            # size alone suffices; the sample bytes themselves may be
            # absent (header-only payloads) or huge (never read here)
            data_size = size
        i = body + size + (size & 1)  # chunks are padded to even
        if fmt is not None and data_size is not None:
            break
    if fmt is None or data_size is None:
        return None
    channels, sample_rate, byte_rate, bits = fmt
    if channels == 0 or sample_rate == 0 or byte_rate == 0:
        return None
    if sample_rate >= 2**31:
        # sample_rate is u32 on disk but Int32 in the output schema;
        # a corrupt fmt chunk must quarantine as NULL, not overflow.
        return None
    return {
        "format": "wav",
        "channels": channels,
        "sample_rate": sample_rate,
        "bit_depth": bits,
        "duration_ms": data_size * 1000 // byte_rate,
        "n_tracks": 1,
    }


def parse_mp4_header(payload: "bytes | None") -> "dict | None":
    """Duration / track count from an MP4 (ISO BMFF) header, pure
    ``struct``.

    Boxes are ``[size(4BE), type(4)]`` (size==1 → 64-bit largesize
    follows; size==0 → box runs to EOF). Requires a leading ``ftyp``,
    then reads ``moov``: ``mvhd`` gives (timescale, duration) —
    version 0 uses 32-bit times, version 1 64-bit — and each child
    ``trak`` box counts one track. No sample tables, no codec.
    Returns ``None`` for non-MP4 or truncated-before-mvhd payloads.
    """
    if payload is None or len(payload) < 12:
        return None

    def boxes(start: int, end: int):
        i = start
        while i + 8 <= end:
            (size,) = struct.unpack_from(">I", payload, i)
            btype = payload[i + 4 : i + 8]
            body = i + 8
            if size == 1:
                if i + 16 > end:
                    return
                (size,) = struct.unpack_from(">Q", payload, i + 8)
                body = i + 16
            elif size == 0:
                size = end - i
            if size < body - i or i + size > end:
                return  # corrupt/truncated box
            yield btype, body, i + size
            i += size

    top = boxes(0, len(payload))
    first = next(top, None)
    if first is None or first[0] != b"ftyp":
        return None
    timescale = duration = None
    n_tracks = 0
    for btype, body, box_end in top:
        if btype != b"moov":
            continue
        for ctype, cbody, cend in boxes(body, box_end):
            # bounds-check against the mvhd child's OWN end, not the
            # enclosing moov's: a truncated mvhd followed by a sibling
            # box must quarantine as NULL, not read the sibling's
            # bytes as timescale/duration.
            if ctype == b"mvhd" and cbody < cend:
                version = payload[cbody]
                if version == 1 and cbody + 32 <= cend:
                    timescale, duration = struct.unpack_from(
                        ">IQ", payload, cbody + 20
                    )
                elif version == 0 and cbody + 20 <= cend:
                    timescale, duration = struct.unpack_from(
                        ">II", payload, cbody + 12
                    )
            elif ctype == b"trak":
                n_tracks += 1
        break
    if not timescale or duration is None:
        return None
    duration_ms = duration * 1000 // timescale
    if duration_ms >= 2**63:
        # version-1 duration is u64; scaled to ms it can exceed the
        # Int64 output column — corrupt payloads quarantine as NULL.
        return None
    return {
        "format": "mp4",
        "channels": None,
        "sample_rate": None,
        "bit_depth": None,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
    }


def parse_media_header(payload: "bytes | None") -> "dict | None":
    """Dispatch on magic bytes: WAV, then MP4, else ``None``."""
    return parse_wav_header(payload) or parse_mp4_header(payload)


def decode_image(assets: DataFrame) -> DataFrame:
    """Header-level image decode: (format, width, height, bit_depth,
    channels) parsed from PNG IHDR / JPEG SOFn magic bytes — pure
    ``struct``, no codec, real on this environment.

    Arrow-batched ``mapInPandas``: payload bytes cross into Python
    once per batch; the stage is map-only (no shuffle), so at 100 TB
    it scales with input splits like any scan-side projection. Rows
    whose payload is not a recognizable image decode to NULL columns
    (the row survives for routing/quarantine, mirroring the
    malformed-input convention elsewhere in the package).
    """

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            parsed = [parse_image_header(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "format": [h["format"] if h else None for h in parsed],
                    "width": pd.array(
                        [h["width"] if h else None for h in parsed],
                        dtype="Int32",
                    ),
                    "height": pd.array(
                        [h["height"] if h else None for h in parsed],
                        dtype="Int32",
                    ),
                    "bit_depth": pd.array(
                        [h["bit_depth"] if h else None for h in parsed],
                        dtype="Int32",
                    ),
                    "channels": pd.array(
                        [h["channels"] if h else None for h in parsed],
                        dtype="Int32",
                    ),
                }
            )

    return assets.mapInPandas(decode, schema=IMAGE_HEADER_SCHEMA)


#: Output schema of :func:`decode_media` (header-level decode).
MEDIA_HEADER_SCHEMA = (
    "asset_id bigint, format string, channels int, sample_rate int, "
    "bit_depth int, duration_ms bigint, n_tracks int"
)


def decode_media(assets: DataFrame) -> DataFrame:
    """Header-level audio/video decode: (format, channels,
    sample_rate, bit_depth, duration_ms, n_tracks) from WAV RIFF /
    MP4 box headers — pure ``struct``, no codec, same map-only Arrow
    shape as :func:`decode_image`. Non-media payloads decode to NULL
    columns."""

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        int_cols = ("channels", "sample_rate", "bit_depth", "n_tracks")
        for pdf in batches:
            parsed = [parse_media_header(p) for p in pdf["payload"]]
            out = {"asset_id": pdf["asset_id"]}
            out["format"] = [h["format"] if h else None for h in parsed]
            for c in int_cols:
                out[c] = pd.array(
                    [h[c] if h else None for h in parsed], dtype="Int32"
                )
            out["duration_ms"] = pd.array(
                [h["duration_ms"] if h else None for h in parsed],
                dtype="Int64",
            )
            yield pd.DataFrame(out)[
                ["asset_id", "format", "channels", "sample_rate",
                 "bit_depth", "duration_ms", "n_tracks"]
            ]

    return assets.mapInPandas(decode, schema=MEDIA_HEADER_SCHEMA)


def wav_bytes(
    channels: int,
    sample_rate: int,
    bits: int,
    n_samples: int,
) -> bytes:
    """A structurally valid header-only WAV: RIFF/WAVE + fmt + a data
    chunk whose SIZE is declared but whose sample bytes are omitted
    (header parsing never reads them)."""
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits
    )
    data_size = n_samples * block_align
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", data_size)
    return b"RIFF" + struct.pack("<I", len(body) + data_size) + body


def mp4_bytes(
    timescale: int,
    duration: int,
    n_tracks: int,
    version: int = 0,
    brand: bytes = b"isom",
) -> bytes:
    """A structurally valid MP4 header: ftyp + moov(mvhd + empty trak
    boxes). No media data (header parsing stops at mvhd/trak)."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    if version == 1:
        mvhd_body = (
            struct.pack(">B3x", 1)
            + struct.pack(">QQIQ", 0, 0, timescale, duration)
            + bytes(80)  # rate/volume/matrix/next_track — unread here
        )
    else:
        mvhd_body = (
            struct.pack(">B3x", 0)
            + struct.pack(">IIII", 0, 0, timescale, duration)
            + bytes(80)
        )
    moov_body = box(b"mvhd", mvhd_body) + b"".join(
        box(b"trak", b"") for _ in range(n_tracks)
    )
    return ftyp + box(b"moov", moov_body)


def synthesize_media_assets(docs: DataFrame) -> DataFrame:
    """Deterministic WAV / MP4 / non-media payloads from ``doc_id`` —
    the audio/video counterpart of :func:`synthesize_image_assets`
    (same planted-metadata-twin oracle pattern; branch arithmetic
    mirrored in the ``llm_media_header_stats`` oracle SQL):

    - ``doc_id % 3 == 0`` → WAV: sample rate cycled through five
      common rates via ``doc_id % 5``, mono on even ids / stereo on
      odd, 8-bit when ``doc_id % 4 == 0`` else 16-bit,
      ``1000 + doc_id % 977`` declared samples (duration_ms =
      n_samples * 1000 // sample_rate).
    - ``doc_id % 3 == 1`` → MP4: timescale 1000 on odd ids / 90000 on
      even, duration ``timescale * (1 + doc_id % 59) + doc_id % 7``
      (non-integral seconds), ``1 + (doc_id // 3) % 3`` trak boxes, mvhd
      version 1 when ``doc_id % 8 == 1`` (64-bit times — same parse
      result).
    - ``doc_id % 3 == 2`` → the document's utf-8 text bytes (null
      text → null payload): must decode to NULLs.
    """
    rates = (8000, 16000, 22050, 44100, 48000)

    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, media, payloads = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                ids.append(doc_id)
                if doc_id % 3 == 0:
                    media.append("audio/wav")
                    payloads.append(
                        wav_bytes(
                            channels=1 if doc_id % 2 == 0 else 2,
                            sample_rate=rates[doc_id % 5],
                            bits=8 if doc_id % 4 == 0 else 16,
                            n_samples=1000 + doc_id % 977,
                        )
                    )
                elif doc_id % 3 == 1:
                    timescale = 1000 if doc_id % 2 == 1 else 90000
                    media.append("video/mp4")
                    payloads.append(
                        mp4_bytes(
                            timescale=timescale,
                            duration=timescale * (1 + doc_id % 59)
                            + doc_id % 7,
                            # doc_id % 3 is constant (1) on this
                            # branch — vary tracks via doc_id // 3
                            n_tracks=1 + (doc_id // 3) % 3,
                            version=1 if doc_id % 8 == 1 else 0,
                        )
                    )
                else:
                    media.append("text/plain;charset=utf-8")
                    payloads.append(
                        text.encode("utf-8") if text is not None else None
                    )
            yield pd.DataFrame(
                {"asset_id": ids, "media_type": media, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        synth, schema=IMAGE_ASSET_SCHEMA
    )


#: Output schema of :func:`synthesize_image_assets` (and the media
#: twin above — same opaque-payload layout).
IMAGE_ASSET_SCHEMA = "asset_id bigint, media_type string, payload binary"

#: The five PNG color types, cycled by the synthesizer via
#: ``doc_id % 5`` (and mirrored arithmetically by the DuckDB oracle).
_PNG_COLOR_TYPE_CYCLE = (0, 2, 3, 4, 6)


def png_bytes(
    width: int, height: int, bit_depth: int, color_type: int
) -> bytes:
    """A structurally valid PNG prefix: signature + IHDR (real CRC) +
    IEND. Pixel data is irrelevant to header parsing and omitted."""
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0
    )
    out = [_PNG_SIGNATURE]
    for chunk_type, data in ((b"IHDR", ihdr), (b"IEND", b"")):
        out.append(struct.pack(">I", len(data)))
        out.append(chunk_type)
        out.append(data)
        out.append(struct.pack(">I", zlib.crc32(chunk_type + data)))
    return b"".join(out)


def jpeg_bytes(
    width: int,
    height: int,
    precision: int = 8,
    n_components: int = 3,
    progressive: bool = False,
    comment: bytes = b"",
) -> bytes:
    """A structurally valid JPEG header stream: SOI, APP0 (JFIF), COM
    (variable length — the segment walk must skip it by its length
    word), a dummy DQT, then SOF0/SOF2, EOI. Entropy-coded data is
    irrelevant to header parsing and omitted."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    app0 = seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 2, 0, 72, 72, 0, 0)
    )
    com = seg(0xFE, comment)
    dqt = seg(0xDB, b"\x00" + bytes(8))  # truncated table: skip-by-length
    sof_payload = struct.pack(
        ">BHHB", precision, height, width, n_components
    ) + b"".join(
        struct.pack(">BBB", i + 1, 0x11, 0) for i in range(n_components)
    )
    sof = seg(0xC2 if progressive else 0xC0, sof_payload)
    return b"\xff\xd8" + app0 + com + dqt + sof + b"\xff\xd9"


def synthesize_image_assets(docs: DataFrame) -> DataFrame:
    """Deterministic PNG / JPEG / non-image payloads from ``doc_id``.

    The fixtures carry no real image bytes (codec-free container), so
    the binary column is PLANTED with structurally valid headers whose
    dimensions are pure functions of ``doc_id`` — the
    "planted-metadata twin" pattern: the Spark path goes
    doc_id → bytes → :func:`decode_image` → dimensions, while the
    DuckDB oracle computes the same dimensions arithmetically; any
    parser or synthesizer defect breaks the match (and the byte-level
    spec conformance is pinned separately by golden-byte tests).

    Branching (all mirrored in the oracle SQL):

    - ``doc_id % 3 == 0`` → PNG, width ``16 + doc_id % 317``, height
      ``16 + doc_id % 211``, color type cycled through all five legal
      values via ``doc_id % 5``, bit depth 16 on even ids except
      palette images (spec caps palette at 8).
    - ``doc_id % 3 == 1`` → JPEG, width ``16 + doc_id % 489``, height
      ``16 + doc_id % 367``, grayscale (1 component) when
      ``doc_id % 4 == 1`` else 3 components, progressive SOF2 when
      ``doc_id % 8 == 5`` (same header layout — the parser accepts
      the whole SOFn family), COM comment of varying length.
    - ``doc_id % 3 == 2`` → the document's utf-8 text bytes: not an
      image, must decode to NULLs (null text → null payload rides the
      same path).
    """

    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, media, payloads = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                ids.append(doc_id)
                if doc_id % 3 == 0:
                    color_type = _PNG_COLOR_TYPE_CYCLE[doc_id % 5]
                    bit_depth = (
                        8
                        if color_type == 3
                        else (16 if doc_id % 2 == 0 else 8)
                    )
                    media.append("image/png")
                    payloads.append(
                        png_bytes(
                            16 + doc_id % 317,
                            16 + doc_id % 211,
                            bit_depth,
                            color_type,
                        )
                    )
                elif doc_id % 3 == 1:
                    media.append("image/jpeg")
                    payloads.append(
                        jpeg_bytes(
                            16 + doc_id % 489,
                            16 + doc_id % 367,
                            precision=8,
                            n_components=1 if doc_id % 4 == 1 else 3,
                            progressive=doc_id % 8 == 5,
                            comment=b"asset %d" % doc_id,
                        )
                    )
                else:
                    media.append("text/plain;charset=utf-8")
                    payloads.append(
                        text.encode("utf-8") if text is not None else None
                    )
            yield pd.DataFrame(
                {"asset_id": ids, "media_type": media, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        synth, schema=IMAGE_ASSET_SCHEMA
    )
