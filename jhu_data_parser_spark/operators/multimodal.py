"""Multimodal column plumbing (SURVEY.md §2.12).

Images, audio and video are opaque ``binary`` columns that
Arrow-batched Python stages turn into typed rows. Every media operator
here is one of two shapes over a ``(doc_id, media)`` frame:

- :func:`_synthesize` builds one payload per ``doc_id`` (the corpus
  generators; in production this column comes from
  ``spark.read.format('binaryFile')``);
- :func:`_decode` turns each payload into zero, one or many typed rows.

Every decode is real: BMP, PPM, PNG, GIF, baseline/progressive/4:2:0
JPEG, WAV and raw-video MP4 are parsed by the vendored pure-Python
codecs in ``functions/codecs.py``. Payload content is derived from the
id by integer arithmetic, so the SQL oracles replay every decoded value
without seeing a byte. Decode stages emit narrow typed rows; the binary
column never leaves them.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jhu_data_parser_spark.functions import codecs

__all__ = [
    "MEDIA_META_SCHEMA",
    "AUDIO_META_SCHEMA",
    "attach_binary",
    "attach_image",
    "attach_image_mixed",
    "attach_image_bucketed",
    "attach_png",
    "attach_png_tagged",
    "attach_png_bucketed",
    "attach_jpeg",
    "attach_jpeg_color",
    "attach_jpeg_420",
    "attach_jpeg_progressive",
    "attach_video",
    "attach_mp4_raw",
    "attach_mp4_mirrored",
    "attach_audio",
    "attach_wav_mirrored",
    "extract_media_meta",
    "perceptual_dhash",
    "resize_image_real",
    "resize_stub",
    "extract_png_pixels_meta",
    "extract_png_meta_quarantine",
    "perceptual_dhash_png",
    "resize_png_roundtrip",
    "strip_metadata_report",
    "extract_jpeg_pixels_meta",
    "extract_jpeg_color_meta",
    "extract_video_meta",
    "frame_sample_gif",
    "extract_mp4_meta",
    "extract_mp4_frame_sums",
    "mp4_frame_signature",
    "extract_audio_meta",
    "extract_audio_frames",
    "wav_content_fingerprint",
    "wav_downsample_fingerprint",
    "embed_media_stub",
]

# Typed metadata contract for decoded images.
MEDIA_META_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, width int, height int, "
    "n_frames int, sample_rate int"
)

# Typed metadata contract for decoded audio. duration_us is integer
# microseconds (floor) so it is exactly recomputable; abs_amplitude_sum
# is Σ|sample| over the decoded int16 PCM — an aggregate of the *data*
# bytes, not just the header, so an oracle match proves full decode.
AUDIO_META_SCHEMA = (
    "doc_id bigint, media_type string, sample_rate int, n_channels int, "
    "bit_depth int, n_samples bigint, duration_us bigint, abs_amplitude_sum bigint"
)

_RATES = (8000, 16000, 44100)


def _synthesize(df: DataFrame, payload: Callable[[int], bytes]) -> DataFrame:
    """``(doc_id bigint, media binary)`` with ``payload(doc_id)`` as
    each row's media.

    The id projection inherits the file layout's split count, and a
    single-row-group corpus means ONE task runs the whole Python codec
    serially whatever the cores (measured r7: 17 s for 5000 colour
    JPEGs at sf0.1 on one task). :func:`dedup.ensure_parallelism`
    repartitions the tiny id column round-robin when the layout
    under-splits; at scale the input has >= cores files and it is a
    no-op."""
    from jhu_data_parser_spark.operators.dedup import ensure_parallelism

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame({"doc_id": ids, "media": [payload(int(d)) for d in ids]})

    return ensure_parallelism(df.select("doc_id")).mapInPandas(
        _map, "doc_id bigint, media binary"
    )


def _decode(
    df: DataFrame, schema: str, rows: Callable[[int, bytes], Iterable[tuple]]
) -> DataFrame:
    """Decode ``(doc_id, media)`` into rows of ``schema``, a DDL string
    whose column types hold no commas: ``rows(doc_id, payload)`` yields
    tuples in the column order of ``schema``, zero, one or many per
    payload. A ``None`` comes back as NULL. Only the two input columns
    enter the Arrow batches, and only the typed rows leave them."""
    names = [col.split()[0] for col in schema.split(",")]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                row
                for did, payload in zip(pdf["doc_id"], pdf["media"])
                for row in rows(int(did), bytes(payload))
            ]
            yield pd.DataFrame.from_records(out, columns=names)

    return df.select("doc_id", "media").mapInPandas(_map, schema)


def _flat_blocks(did: int, w: int, h: int, block: int) -> np.ndarray:
    """(h, w) uint8 plane with one constant LCG byte (seeded by ``did``,
    raster order) per ``block``×``block`` tile — the content that makes
    the lossy JPEG pipelines exact: a flat tile is DC-only, and a DC
    quantized at 1 survives DCT -> Huffman -> IDCT bit-for-bit."""
    vals = np.frombuffer(
        codecs._fill_bytes((w // block) * (h // block), seed=did), dtype=np.uint8
    ).reshape(h // block, w // block)
    return np.repeat(np.repeat(vals, block, axis=0), block, axis=1)


def _gray_rgb(gray: np.ndarray) -> np.ndarray:
    return np.stack([gray, gray, gray], axis=2)


# --- synthesized corpora ---------------------------------------------------


def attach_binary(df: DataFrame) -> DataFrame:
    """Opaque binary payload column: the UTF-8 bytes of ``text``."""
    return df.withColumn("media", F.encode(F.col("text"), "UTF-8"))


def attach_image(df: DataFrame) -> DataFrame:
    """BMP (even id) or binary-P6 PPM (odd id) payloads with
    ``width = id % 64 + 16``, ``height = id % 48 + 16``: the dims travel
    through the byte stream, not a side channel."""

    def payload(did: int) -> bytes:
        enc = codecs.encode_bmp if did % 2 == 0 else codecs.encode_ppm
        return enc(did % 64 + 16, did % 48 + 16, seed=did)

    return _synthesize(df, payload)


def attach_image_mixed(df: DataFrame) -> DataFrame:
    """A mixed-format corpus — BMP / PPM / PNG by ``id % 3``, dims as
    :func:`attach_image` — where the format is only discoverable by
    sniffing each payload's magic bytes."""
    encoders = (codecs.encode_bmp, codecs.encode_ppm, codecs.encode_png)
    return _synthesize(
        df, lambda did: encoders[did % 3](did % 64 + 16, did % 48 + 16, seed=did)
    )


def attach_image_bucketed(
    df: DataFrame, seed_mod: int = 23, perturb_odd: bool = False
) -> DataFrame:
    """BMP payloads whose content (dims + pixels) is keyed by
    ``id % seed_mod``, so distinct documents carry byte-identical images
    — the planted-duplicate corpus for content-addressed image dedup.
    With ``perturb_odd``, odd ids get +128 on the pixel the 9×8 dHash
    grid samples at its centre (gx=4, gy=4, channel 0): planted NEAR
    duplicates at small nonzero Hamming distance from their even twins."""

    def payload(did: int) -> bytes:
        s = did % seed_mod
        w, h = s % 64 + 16, s % 48 + 16
        out = codecs.encode_bmp(w, h, seed=s)
        if not (perturb_odd and did % 2 == 1):
            return out
        sx, sy = (4 * w) // 9, (4 * h) // 8
        pidx = 54 + (h - 1 - sy) * codecs.bmp_row_size(w) + sx * 3
        buf = bytearray(out)
        buf[pidx] = (buf[pidx] + 128) % 256
        return bytes(buf)

    return _synthesize(df, payload)


def attach_png(df: DataFrame) -> DataFrame:
    """8-bit RGB PNGs (Sub-filtered scanlines, stored-deflate IDAT),
    dims as :func:`attach_image`, pixels from the LCG fill seeded by the
    id: decode must genuinely inflate and unfilter."""
    return _synthesize(
        df, lambda did: codecs.encode_png(did % 64 + 16, did % 48 + 16, seed=did)
    )


def attach_png_tagged(df: DataFrame) -> DataFrame:
    """PNGs carrying tEXt metadata (Author = user-{id%97}, Software)
    between IHDR and IDAT — the corpus for the metadata-strip pass. The
    pixel stream is :func:`attach_png`'s."""
    return _synthesize(
        df,
        lambda did: codecs.encode_png_tagged(
            did % 64 + 16, did % 48 + 16, seed=did, author_id=did % 97
        ),
    )


def attach_png_bucketed(
    df: DataFrame, seed_mod: int = 23, perturb_odd: bool = False
) -> DataFrame:
    """The PNG twin of :func:`attach_image_bucketed`: the perturbation is
    applied BEFORE encoding, so it rides through the Sub filter + zlib
    stream and only resurfaces via genuine decode."""

    def payload(did: int) -> bytes:
        s = did % seed_mod
        w, h = s % 64 + 16, s % 48 + 16
        arr = np.frombuffer(codecs._fill_bytes(w * h * 3, s), dtype=np.uint8)
        arr = arr.reshape(h, w, 3).copy()
        if perturb_odd and did % 2 == 1:
            sx, sy = (4 * w) // 9, (4 * h) // 8
            arr[sy, sx, 0] = (int(arr[sy, sx, 0]) + 128) % 256
        return codecs.encode_png_pixels(arr)

    return _synthesize(df, payload)


def attach_jpeg(df: DataFrame) -> DataFrame:
    """Baseline grayscale JPEGs (JFIF: Annex K Huffman tables,
    DQT/SOF0/DHT/SOS, stuffed entropy data) with ``width = (id % 8 + 2)
    * 8``, ``height = (id % 6 + 2) * 8`` and :func:`_flat_blocks`
    content under an all-ones quantization table, so the lossy pipeline
    is exact and SQL oracles replay the decoded pixels. Nothing in the
    codec is special-cased to this content."""
    return _synthesize(
        df,
        lambda did: codecs.encode_jpeg_gray(
            _flat_blocks(did, (did % 8 + 2) * 8, (did % 6 + 2) * 8, 8)
        ),
    )


def attach_jpeg_color(df: DataFrame) -> DataFrame:
    """Baseline colour JPEGs (YCbCr 4:4:4, interleaved MCUs, luminance +
    chrominance Huffman tables) with :func:`attach_jpeg`'s dims and
    blocks as ACHROMATIC colours (R=G=B): the YCbCr conversion is exact
    for gray content, so the full 3-predictor path roundtrips."""
    return _synthesize(
        df,
        lambda did: codecs.encode_jpeg_rgb(
            _gray_rgb(_flat_blocks(did, (did % 8 + 2) * 8, (did % 6 + 2) * 8, 8))
        ),
    )


def attach_jpeg_420(df: DataFrame) -> DataFrame:
    """Colour JPEGs with 4:2:0 chroma subsampling (Y 2×2, Cb/Cr 1×1)
    over whole MCUs, ``w = (id % 4 + 1)·16``, ``h = (id % 3 + 1)·16``,
    one flat achromatic colour per 16×16 MCU: the chroma planes are
    exactly 128 at any downsample, so the 4-Y-blocks-per-MCU walk
    roundtrips bit-for-bit."""
    return _synthesize(
        df,
        lambda did: codecs.encode_jpeg_rgb_420(
            _gray_rgb(_flat_blocks(did, (did % 4 + 1) * 16, (did % 3 + 1) * 16, 16))
        ),
    )


def attach_jpeg_progressive(df: DataFrame) -> DataFrame:
    """:func:`attach_jpeg`'s content as a five-scan PROGRESSIVE (SOF2)
    stream (DC first + refine, two spectral-selection AC bands, one AC
    successive-approximation refinement — ``codecs._JPEG_PROG_SCANS``).
    The quantized coefficients are identical, so the same oracle replays
    the pixels, but the decoder must walk all five scans to get them."""
    return _synthesize(
        df,
        lambda did: codecs.encode_jpeg_gray_progressive(
            _flat_blocks(did, (did % 8 + 2) * 8, (did % 6 + 2) * 8, 8)
        ),
    )


def attach_video(df: DataFrame) -> DataFrame:
    """Animated GIF89a payloads with ``width = id % 32 + 8``,
    ``height = id % 24 + 8``, ``n_frames = id % 7 + 1``: the frame count
    travels through the block list."""
    return _synthesize(
        df,
        lambda did: codecs.encode_gif(
            did % 32 + 8, did % 24 + 8, did % 7 + 1, seed=did
        ),
    )


def _mp4_payload(uid: int, trim: int = 0) -> bytes:
    return codecs.encode_mp4_raw(
        (uid % 4 + 1) * 8, (uid % 3 + 1) * 8, uid % 5 + 2 - trim, seed=uid
    )


def attach_mp4_raw(df: DataFrame) -> DataFrame:
    """ISO BMFF payloads (ftyp + mdat + moov with full
    stsd/stts/stsc/stsz/stco tables, uncompressed 'raw ' RGB24 samples)
    with ``width = (id % 4 + 1) * 8``, ``height = (id % 3 + 1) * 8``,
    ``n_frames = id % 5 + 2``; frame f is the constant byte
    ``_fill_bytes(n_frames, id)[f]``, so decode must follow the sample
    tables into mdat to find it."""
    return _synthesize(df, _mp4_payload)


def attach_mp4_mirrored(df: DataFrame) -> DataFrame:
    """:func:`attach_mp4_raw` with planted near-duplicate videos: every
    id ending in 9 carries its decade head's video one frame shorter —
    the trailing-trim re-upload an exact payload hash misses."""
    return _synthesize(
        df,
        lambda did: _mp4_payload(did - 9, 1) if did % 10 == 9 else _mp4_payload(did),
    )


def attach_audio(df: DataFrame) -> DataFrame:
    """RIFF/WAVE PCM16 mono payloads with ``n_samples = id % 192 + 64``,
    ``sample_rate ∈ {8000, 16000, 44100}`` by ``id % 3`` and samples
    from the recurrence in ``codecs._wav_samples``."""
    return _synthesize(
        df, lambda did: codecs.encode_wav(did % 192 + 64, _RATES[did % 3], seed=did)
    )


def attach_wav_mirrored(df: DataFrame) -> DataFrame:
    """WAV corpus with two planted duplicate kinds per decade: doc
    ``uid+5`` is a byte-exact copy of its head ``uid``, and doc
    ``uid+9`` a RE-ENCODED copy — identical PCM with an extra LIST/INFO
    chunk spliced before 'data', which a compliant RIFF parser skips.
    Raw-byte hashing catches only the first kind; decoding catches both."""

    def payload(did: int) -> bytes:
        r = did % 10
        uid = did - 5 if r == 5 else (did - 9 if r == 9 else did)
        base = codecs.encode_wav(uid % 192 + 64, _RATES[uid % 3], seed=uid)
        if r != 9:
            return base
        info = b"INFO" + struct.pack("<I", did % 2**32) + b"jdps"
        chunk = b"LIST" + struct.pack("<I", len(info)) + info
        riff_size = struct.unpack_from("<I", base, 4)[0] + len(chunk)
        return b"RIFF" + struct.pack("<I", riff_size) + base[8:36] + chunk + base[36:]

    return _synthesize(df, payload)


# --- images ----------------------------------------------------------------


def extract_media_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """:data:`MEDIA_META_SCHEMA` per payload. BMP, PPM, PNG and JPEG are
    decoded for real (``codecs.decode_image_meta``) and ``media_type``
    is the sniffed format. A payload no vendored codec recognises raises
    ``NotImplementedError`` in ``strict`` mode; otherwise it gets
    ``media_type = 'image'`` and dims derived from its byte length."""

    def rows(did: int, p: bytes):
        real = codecs.decode_image_meta(p)
        if real is not None:
            return [(did, real[0], len(p), real[1], real[2], 1, 0)]
        if strict:
            raise NotImplementedError(
                f"no vendored codec for this payload (magic={p[:4]!r})"
            )
        n = len(p)
        return [(did, "image", n, n % 1920 + 1, n % 1080 + 1, n % 30 + 1, 16000)]

    return _decode(df, MEDIA_META_SCHEMA, rows)


def perceptual_dhash(df: DataFrame) -> DataFrame:
    """64-bit dHash of each BMP's decoded pixels (codecs.dhash64_bmp):
    only the 8-byte hash travels to the downstream dedup shuffle."""
    return _decode(
        df, "doc_id bigint, phash bigint", lambda did, p: [(did, codecs.dhash64_bmp(p))]
    )


def resize_image_real(df: DataFrame, scale_den: int = 2) -> DataFrame:
    """Nearest-neighbour BMP resize to ``dims // scale_den``: decode the
    pixel array, resample, re-encode a valid BMP
    (``codecs.resize_bmp_nearest``)."""

    def rows(did: int, p: bytes):
        meta = codecs.decode_image_meta(p)
        if meta is None or meta[0] != "bmp":
            raise ValueError("resize_image_real requires BMP payloads")
        nw, nh = max(meta[1] // scale_den, 1), max(meta[2] // scale_den, 1)
        return [(did, codecs.resize_bmp_nearest(p, nw, nh), nw, nh)]

    return _decode(df, "doc_id bigint, media binary, width int, height int", rows)


def resize_stub(df: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """1→1 resize shape for payloads with no decoder: a deterministic
    byte re-sampling to a length proportional to the target area, with
    the target dims recorded."""
    target_len = max(1, (width * height) // 1024)

    def rows(did: int, p: bytes):
        stride = max(1, len(p) // target_len)
        return [(did, p[::stride][:target_len], width, height)]

    return _decode(df, "doc_id bigint, media binary, width int, height int", rows)


# --- PNG -------------------------------------------------------------------


_PNG_META = (
    "doc_id bigint, media_type string, width int, height int, "
    "n_bytes bigint, row0_sum bigint"
)


def extract_png_pixels_meta(df: DataFrame) -> DataFrame:
    """Decode each PNG THROUGH its pixel data (CRC-checked chunk walk,
    inflate, per-row unfiltering) into dims, byte size and the decoded
    first-scanline sum — right only if the Sub filter was undone."""

    def rows(did: int, p: bytes):
        px = codecs.decode_png_pixels(p)
        return [(did, "png", px.shape[1], px.shape[0], len(p), int(px[0].sum()))]

    return _decode(df, _PNG_META, rows)


def extract_png_meta_quarantine(df: DataFrame) -> DataFrame:
    """Decode with quarantine: a payload the PNG path rejects
    (truncation, CRC corruption, garbage) comes back as
    ``status='error'`` with NULL dims instead of failing the job. Only
    codec-shaped failures are quarantined; anything else still fails
    the task."""

    def rows(did: int, p: bytes):
        try:
            px = codecs.decode_png_pixels(p)
        except (ValueError, zlib.error, struct.error):
            return [(did, "error", None, None)]
        return [(did, "ok", px.shape[1], px.shape[0])]

    return _decode(df, "doc_id bigint, status string, width int, height int", rows)


def perceptual_dhash_png(df: DataFrame) -> DataFrame:
    """:func:`perceptual_dhash` over decoded PNG pixels
    (codecs.dhash64_png)."""
    return _decode(
        df, "doc_id bigint, phash bigint", lambda did, p: [(did, codecs.dhash64_png(p))]
    )


def resize_png_roundtrip(df: DataFrame, scale_den: int = 2) -> DataFrame:
    """PNG resize with a roundtrip proof: decode → nearest-neighbour
    resample → re-encode → decode AGAIN, emitting the second decode's
    dims, byte size and first-scanline sum (two full codec cycles)."""

    def rows(did: int, p: bytes):
        w, h, _, _ = codecs.decode_png_meta(p)
        nw, nh = max(w // scale_den, 1), max(h // scale_den, 1)
        out = codecs.resize_png_nearest(p, nw, nh)
        px = codecs.decode_png_pixels(out)
        return [(did, "png", px.shape[1], px.shape[0], len(out), int(px[0].sum()))]

    return _decode(df, _PNG_META, rows)


def strip_metadata_report(df: DataFrame) -> DataFrame:
    """Strip every ancillary PNG chunk (CRC-checked walk) and prove the
    cleaned stream still decodes by summing its first scanline."""

    def rows(did: int, p: bytes):
        clean, n, b, kw = codecs.strip_png_ancillary(p)
        row0 = int(codecs.decode_png_pixels(clean)[0].sum())
        return [(did, n, b, len(clean), row0, kw)]

    return _decode(
        df,
        "doc_id bigint, n_removed bigint, bytes_removed bigint,"
        " clean_bytes bigint, row0_sum bigint, keywords string",
        rows,
    )


# --- JPEG ------------------------------------------------------------------


def extract_jpeg_pixels_meta(df: DataFrame) -> DataFrame:
    """Decode grayscale JPEGs THROUGH the entropy stream (marker walk,
    canonical Huffman, dequantize, de-zigzag, IDCT —
    ``codecs.decode_jpeg_gray``) into dims, first-row and full pixel
    sums."""

    def rows(did: int, p: bytes):
        px = codecs.decode_jpeg_gray(p).astype("int64")
        h, w = px.shape
        return [(did, "jpeg", w, h, int(px[0].sum()), int(px.sum()))]

    return _decode(
        df,
        "doc_id bigint, media_type string, width int, height int, "
        "row0_sum bigint, pix_sum bigint",
        rows,
    )


def extract_jpeg_color_meta(df: DataFrame) -> DataFrame:
    """Decode colour JPEGs through the interleaved entropy stream
    (``codecs.decode_jpeg_pixels``) into dims, component count, and the
    first-row and full RGB sums — right only if the 3-predictor Huffman
    walk, both chroma tables, IDCT and YCbCr→RGB all are."""

    def rows(did: int, p: bytes):
        px = codecs.decode_jpeg_pixels(p).astype("int64")
        nc = int(codecs.decode_jpeg_meta(p)[2])
        return [
            (did, "jpeg", px.shape[1], px.shape[0], nc, int(px[0].sum()), int(px.sum()))
        ]

    return _decode(
        df,
        "doc_id bigint, media_type string, width int, height int, "
        "n_components int, row0_sum bigint, pix_sum bigint",
        rows,
    )


# --- video -----------------------------------------------------------------


def extract_video_meta(df: DataFrame) -> DataFrame:
    """GIF screen dims from the logical screen descriptor and the frame
    count from a full block walk (``codecs.decode_gif``)."""
    return _decode(
        df,
        "doc_id bigint, media_type string, width int, height int, n_frames int",
        lambda did, p: [(did, "gif", *codecs.decode_gif(p))],
    )


def frame_sample_gif(df: DataFrame, every_nth: int = 2) -> DataFrame:
    """One row per sampled frame (0, n, 2n, …) of each GIF: the 1→N
    expansion, with N from genuine container parsing."""

    def rows(did: int, p: bytes):
        w, h, n_frames = codecs.decode_gif(p)
        return [(did, f, w, h) for f in range(0, n_frames, every_nth)]

    return _decode(df, "doc_id bigint, frame_no int, width int, height int", rows)


def extract_mp4_meta(df: DataFrame) -> DataFrame:
    """Decode MP4s THROUGH the container (box walk → video-track handler
    → sample description / size / offset / timing tables → raw frame
    bytes) into dims, frame count, duration, and first-frame/all-frame
    pixel sums."""

    def rows(did: int, p: bytes):
        w, h, fps, frames = codecs.decode_mp4_raw(p)
        n, px = frames.shape[0], frames.astype("int64")
        return [(did, "mp4", w, h, n, n * 1000 // fps, int(px[0].sum()), int(px.sum()))]

    return _decode(
        df,
        "doc_id bigint, media_type string, width int, height int, "
        "n_frames int, duration_ms bigint, frame0_sum bigint, pix_sum bigint",
        rows,
    )


def extract_mp4_frame_sums(df: DataFrame) -> DataFrame:
    """One row per (doc, frame index) with the frame's decoded pixel
    sum — the frame stream a scene-cut pass consumes."""

    def rows(did: int, p: bytes):
        w, h, _fps, frames = codecs.decode_mp4_raw(p)
        return [
            (did, f, int(fr.astype("int64").sum()), w, h)
            for f, fr in enumerate(frames)
        ]

    return _decode(df, "doc_id bigint, f int, fsum bigint, width int, height int", rows)


def mp4_frame_signature(df: DataFrame) -> DataFrame:
    """One row per decoded MP4 frame with its content key. Frames here
    are constant-byte, so the key is that byte, and every pixel is
    checked to equal it; production frames would key on
    md5(frame_bytes), same plan shape."""

    def rows(did: int, p: bytes):
        w, h, _fps, frames = codecs.decode_mp4_raw(p)
        out = []
        for f, fr in enumerate(frames):
            b = int(fr[0, 0, 0])
            if not np.all(fr == b):
                raise ValueError(
                    f"frame {f} of doc {did} is not constant — "
                    "decode misread the sample tables"
                )
            out.append((did, f, w, h, b))
        return out

    return _decode(
        df, "doc_id bigint, frame_no int, width int, height int, fkey int", rows
    )


# --- audio -----------------------------------------------------------------


def extract_audio_meta(df: DataFrame) -> DataFrame:
    """:data:`AUDIO_META_SCHEMA` per WAV: the RIFF chunk walk, fmt
    validation and int16 LE sample decode are real
    (``codecs.decode_wav``). Samples widen to int64 before ``abs``
    (abs of int16 -32768 overflows)."""

    def rows(did: int, p: bytes):
        rate, channels, bits, samples = codecs.decode_wav(p)
        n = len(samples) // channels
        amp = int(np.abs(samples.astype(np.int64)).sum())
        return [(did, "wav", rate, channels, bits, n, n * 1_000_000 // rate, amp)]

    return _decode(df, AUDIO_META_SCHEMA, rows)


def extract_audio_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Per-FRAME waveform features: split each clip into ``n_frames``
    balanced frames (frame of sample i = ``n_frames*i // n``) and emit
    per frame the sample count, Σ|sample| and the zero-crossing count
    (strict sign flips between ADJACENT samples of the same frame) —
    the framing step VAD, energy gating and silence trimming run before
    modelling. All features are integer-exact."""

    def rows(did: int, p: bytes):
        _rate, channels, _bits, samples = codecs.decode_wav(p)
        v = samples.astype(np.int64)[:: max(channels, 1)]
        n = len(v)
        fr = (n_frames * np.arange(n)) // max(n, 1)
        flip = np.zeros(n, dtype=bool)
        if n > 1:
            flip[1:] = (v[:-1] * v[1:] < 0) & (fr[:-1] == fr[1:])
        return [
            (did, f, int(m.sum()), int(np.abs(v[m]).sum()), int(flip[m].sum()))
            for f, m in ((f, fr == f) for f in range(n_frames))
            if m.any()
        ]

    return _decode(
        df,
        "doc_id bigint, frame int, n_samples bigint, "
        "abs_energy bigint, zero_crossings bigint",
        rows,
    )


def _pcm_fp(samples) -> int:
    s = samples.astype(np.int64)
    return int(((np.arange(len(s)) + 1) * s).sum())


def wav_content_fingerprint(df: DataFrame) -> DataFrame:
    """An exact integer fingerprint of each DECODED waveform,
    ``Σ (i+1)·s_i`` over the int16 samples (position-weighted so
    permutations don't collide), beside the payload's raw md5 for the
    byte-vs-content comparison."""
    import hashlib

    def rows(did: int, p: bytes):
        rate, _ch, _depth, samples = codecs.decode_wav(p)
        return [(did, rate, len(samples), _pcm_fp(samples), hashlib.md5(p).hexdigest())]

    return _decode(
        df,
        "doc_id bigint, sample_rate int, n_samples int, pcm_fp bigint, raw_md5 string",
        rows,
    )


def wav_downsample_fingerprint(df: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → decimate by ``factor`` (keep samples 0, factor, 2·factor
    … — the integer-exact skeleton of a resampler) → the
    :func:`wav_content_fingerprint` sum of the DOWNSAMPLED waveform."""

    def rows(did: int, p: bytes):
        rate, _ch, _depth, samples = codecs.decode_wav(p)
        ds = samples[::factor]
        return [(did, rate // factor, len(ds), _pcm_fp(ds))]

    return _decode(
        df, "doc_id bigint, out_rate int, out_samples int, ds_fp bigint", rows
    )


# --- features --------------------------------------------------------------


def embed_media_stub(df: DataFrame, dim: int = 64) -> DataFrame:
    """Media → ``array<float>`` embedding, the bridge from binary columns
    into the similarity/ANN operators. The featurizer is a deterministic
    stand-in (L2-normalized byte-bigram histogram folded to ``dim``
    buckets) where production plugs a vision/audio encoder. Beside it go
    the pre-normalization integer facts ``top_bucket`` (argmax, lowest
    index on ties) and ``top_count``, which SQL replays exactly from the
    payload bytes."""

    def rows(did: int, p: bytes):
        arr = np.frombuffer(p, dtype=np.uint8)
        if len(arr) >= 2:
            bigrams = (arr[:-1].astype(np.int64) * 256 + arr[1:]) % dim
            hist = np.bincount(bigrams, minlength=dim).astype(np.float64)
        else:
            hist = np.ones(dim, dtype=np.float64)
        vec = (hist / (np.linalg.norm(hist) or 1.0)).astype(np.float32).tolist()
        return [(did, vec, int(np.argmax(hist)), int(hist.max()))]

    return _decode(
        df,
        "doc_id bigint, embedding array<float>, top_bucket int, top_count bigint",
        rows,
    )
