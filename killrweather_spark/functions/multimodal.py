"""Multimodal column handling: image/audio/video as opaque binary + metadata.

The engine treats media as ``content: binary`` plus a typed metadata struct
(mime, byte size, modality).  The schema/partitioning/batching plumbing is
real and tested, and so are the decoders: :func:`decode_media` genuinely
parses PNG/JPEG/GIF headers (format + pixel dimensions), and
:func:`decode_png_pixels` is a FULL pure-stdlib PNG pixel decode — chunk
walk with CRC verification, zlib IDAT inflate, all five scanline
unfilters — feeding :func:`png_pixel_stats`'s per-channel statistics.
Only the codec-library formats (JPEG/video/audio pixel+sample decode,
which need PIL/ffmpeg/torchaudio, absent from this container) keep
deterministic stand-ins (:func:`frame_stats`, :func:`fake_embedding`)
behind the same Arrow ``mapInPandas`` contract.

Scale design: ``mapInPandas`` streams Arrow record batches through Python —
memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
regardless of partition size, and binary columns never pass through JVM
row-by-row serialization.  Frame extraction fans out rows (one per frame):
do it INSIDE the pandas iterator so the fan-out happens batch-wise.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from killrweather_spark.plans.caching import persist_once

FRAME_BYTES = 256  # fake "frame" granularity for the stub decoder


def attach_binary_content(df: DataFrame, text_col: str = "text",
                          mime: str = "application/octet-stream") -> DataFrame:
    """Simulate a media table: utf-8 bytes of the text as the binary payload
    plus a typed metadata struct (what a real ingest would carry)."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("content", content).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(F.col(text_col)).alias("n_bytes"),
            F.lit("blob").alias("modality"),
        ),
    )


def _make_media_decoder():
    """Build :func:`decode_media` as a locally-defined function so
    cloudpickle serializes it BY VALUE into mapInPandas closures — Python
    workers don't necessarily have this package on their import path (the
    driver may run from any cwd), and a by-reference pickle would make the
    executor try to import it."""

    def decode_media(content: bytes) -> dict:
        """Decode a media payload's container header: format + pixel
        dimensions for PNG / JPEG / GIF, pure Python over the actual byte
        layout (PNG IHDR chunk, JPEG SOFn marker scan, GIF logical screen
        descriptor) — no codec library needed for the metadata path.  Full
        pixel decode (the step that DOES need PIL/ffmpeg) plugs in behind
        the same hook; everything above it — Arrow batching, schema,
        partitioning — is identical either way.

        Raises ``ValueError`` on unknown or corrupt containers, so
        malformed payloads surface as classifiable errors instead of
        silent garbage.
        """
        if content[:8] == b"\x89PNG\r\n\x1a\n":
            # IHDR is required to be the first chunk: 8-byte signature, 4-byte
            # length, 'IHDR', then big-endian u32 width, u32 height
            if len(content) < 24 or content[12:16] != b"IHDR":
                raise ValueError("corrupt PNG: missing IHDR")
            return {
                "format": "png",
                "width": int.from_bytes(content[16:20], "big"),
                "height": int.from_bytes(content[20:24], "big"),
            }
        if content[:3] == b"GIF" and content[3:6] in (b"87a", b"89a"):
            # logical screen descriptor: little-endian u16 width, u16 height
            if len(content) < 10:
                raise ValueError("corrupt GIF: truncated screen descriptor")
            return {
                "format": "gif",
                "width": int.from_bytes(content[6:8], "little"),
                "height": int.from_bytes(content[8:10], "little"),
            }
        if content[:2] == b"\xff\xd8":  # JPEG SOI
            i = 2
            while i + 1 < len(content):
                if content[i] != 0xFF:
                    raise ValueError("corrupt JPEG: lost marker sync")
                # any number of 0xFF FILL bytes may pad before a marker
                # (ITU T.81 B.1.1.2) — skip them, the marker is the first
                # non-FF byte
                j = i + 1
                while j < len(content) and content[j] == 0xFF:
                    j += 1
                if j >= len(content):
                    break
                marker = content[j]
                if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
                    i = j + 1  # standalone markers carry no length
                    continue
                if j + 8 >= len(content):
                    break
                seg_len = int.from_bytes(content[j + 1: j + 3], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    # SOFn frame header: [len][precision][u16 height][u16 width]
                    return {
                        "format": "jpeg",
                        "height": int.from_bytes(content[j + 4: j + 6], "big"),
                        "width": int.from_bytes(content[j + 6: j + 8], "big"),
                    }
                i = j + 1 + seg_len
            raise ValueError("corrupt JPEG: no SOF marker before EOF")
        raise ValueError("unknown media container")

    return decode_media


decode_media = _make_media_decoder()


def _map_rows(df: DataFrame, cols: tuple[str, ...], schema: str,
              row_fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """The one Arrow batch loop behind the media operators: select
    ``cols``, call ``row_fn(*values)`` on each row of every batch and
    yield the output tuples it returns (0..n per input row, so fan-out
    stays inside the batch) as one positional DataFrame, matched to
    ``schema`` by position; a batch with no output rows yields nothing.
    Structured Streaming runs the same map on every trigger.

    ``row_fn`` must be defined inside the calling operator and call only
    locals or factory-built helpers (:func:`_make_pixel_helpers`, the
    codecs): cloudpickle then ships it BY VALUE, as
    :func:`_make_media_decoder` explains — a module-level helper would
    be pickled by reference and fail on a worker that cannot import this
    package."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                t for vals in zip(*(pdf[c] for c in cols))
                for t in row_fn(*vals)
            ]
            if out:
                yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(batches, schema)


def _make_pixel_helpers():
    """Build the helpers the media row functions share as locally-defined
    functions, so they pickle BY VALUE with them (the worker-import
    rationale of :func:`_make_media_decoder`)."""
    import hashlib

    def md5_dims(text, mod: int) -> tuple[str, int, int, int]:
        """md5(text) as hex, plus the ``(w, h, seed)`` the synthesizers
        derive from it: ``1 + hex[0:4] % mod``, ``1 + hex[4:8] % mod``,
        ``hex[8:10]``."""
        hx = hashlib.md5(str(text).encode("utf-8")).hexdigest()
        return (
            hx, 1 + int(hx[0:4], 16) % mod, 1 + int(hx[4:8], 16) % mod,
            int(hx[8:10], 16),
        )

    def rgb_means_micro(px: bytes, n: int) -> tuple[int, int, int]:
        """Per-channel ``(10⁶ · Σ channel c) div n`` over raw RGB bytes;
        stride slices sum at C speed — the Python-level per-pixel loop
        dominated the decode cost."""
        return tuple(1_000_000 * sum(px[c::3]) // n for c in range(3))

    def gray_grid(w: int, h: int, px: bytes) -> list[int]:
        """The 8×8 nearest-point gray downsample of raw RGB bytes: sample
        ``(X, Y) = ((i·w)//8, (j·h)//8)``, gray = channel sum div 3,
        row-major."""
        out = []
        for j in range(8):
            y = (j * h) // 8
            for i in range(8):
                off = 3 * (y * w + (i * w) // 8)
                out.append((px[off] + px[off + 1] + px[off + 2]) // 3)
        return out

    return md5_dims, rgb_means_micro, gray_grid


_md5_dims, _rgb_means_micro, _gray_grid = _make_pixel_helpers()


def synth_png(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Deterministic real-PNG payload synthesis for the decode path: each
    doc gets a structurally valid PNG header (signature + IHDR) whose
    dimensions derive from md5(text) — ``1 + hex[0:4] % 512`` wide,
    ``1 + hex[4:8] % 512`` tall — so the DuckDB oracle can predict the
    decoded dimensions arithmetically while :func:`decode_media` genuinely
    parses them out of the bytes."""

    def row(i, text):
        _, w, ht, _ = _md5_dims(text, 512)
        ihdr = w.to_bytes(4, "big") + ht.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
        yield i, (
            b"\x89PNG\r\n\x1a\n"
            + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
        )

    return _map_rows(
        df, (id_col, text_col), f"{id_col} bigint, content binary", row
    )


def _make_png_codec():
    """Build the full PNG pixel codec as locally-defined functions so
    cloudpickle serializes them BY VALUE into mapInPandas closures (the
    same worker-import rationale as :func:`_make_media_decoder`).

    Pure stdlib: ``zlib`` for the IDAT deflate stream and CRC-32s,
    hand-written scanline filtering.  Supports 8-bit truecolor (color
    type 2, no interlace) — the profile :func:`synth_png_pixels`
    produces — and raises ``ValueError`` on anything else or on any
    CRC/structure corruption, so a bad payload is a classifiable error,
    not silent garbage.
    """
    import zlib

    BPP = 3  # 8-bit RGB

    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def encode_png(width: int, height: int, pixels: bytes) -> bytes:
        """``pixels`` is height·width·3 raw RGB bytes, row-major.  Each
        scanline is filtered with type ``y % 5`` — cycling through
        None/Sub/Up/Average/Paeth so every decoder filter path is
        exercised by real data, not just filter 0."""
        if len(pixels) != width * height * BPP:
            raise ValueError("pixel buffer does not match dimensions")
        stride = width * BPP
        out = bytearray()
        prior = bytes(stride)
        for y in range(height):
            raw = pixels[y * stride:(y + 1) * stride]
            ft = y % 5
            out.append(ft)
            if ft == 0:
                out += raw
            elif ft == 1:  # Sub
                out += bytes(
                    (raw[i] - (raw[i - BPP] if i >= BPP else 0)) & 0xFF
                    for i in range(stride)
                )
            elif ft == 2:  # Up
                out += bytes((raw[i] - prior[i]) & 0xFF for i in range(stride))
            elif ft == 3:  # Average
                out += bytes(
                    (raw[i] - (((raw[i - BPP] if i >= BPP else 0) + prior[i]) >> 1))
                    & 0xFF
                    for i in range(stride)
                )
            else:  # Paeth
                out += bytes(
                    (raw[i] - _paeth(
                        raw[i - BPP] if i >= BPP else 0,
                        prior[i],
                        prior[i - BPP] if i >= BPP else 0,
                    )) & 0xFF
                    for i in range(stride)
                )
            prior = raw
        ihdr = (
            width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0])  # depth 8, truecolor, deflate, adaptive, no interlace
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(out)))
            + _chunk(b"IEND", b"")
        )

    def decode_png_pixels(content: bytes) -> tuple[int, int, bytes]:
        """Full pixel decode: chunk walk with CRC verification, IDAT
        concatenation + inflate, per-scanline unfiltering.  Returns
        (width, height, raw RGB bytes)."""
        if content[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG")
        pos, width, height, idat = 8, None, None, bytearray()
        while pos + 8 <= len(content):
            clen = int.from_bytes(content[pos:pos + 4], "big")
            ctype = content[pos + 4:pos + 8]
            data = content[pos + 8:pos + 8 + clen]
            crc = content[pos + 8 + clen:pos + 12 + clen]
            if len(data) < clen or len(crc) < 4:
                raise ValueError("corrupt PNG: truncated chunk")
            if (zlib.crc32(ctype + data) & 0xFFFFFFFF) != int.from_bytes(crc, "big"):
                raise ValueError(f"corrupt PNG: bad CRC in {ctype!r}")
            if ctype == b"IHDR":
                width = int.from_bytes(data[0:4], "big")
                height = int.from_bytes(data[4:8], "big")
                if tuple(data[8:13]) != (8, 2, 0, 0, 0):
                    raise ValueError("unsupported PNG profile (need 8-bit RGB)")
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen
        if width is None or not idat:
            raise ValueError("corrupt PNG: missing IHDR/IDAT")
        stream = zlib.decompress(bytes(idat))
        stride = width * BPP
        if len(stream) != height * (1 + stride):
            raise ValueError("corrupt PNG: wrong decompressed length")
        out = bytearray()
        prior = bytes(stride)
        for y in range(height):
            ft = stream[y * (1 + stride)]
            f = stream[y * (1 + stride) + 1:(y + 1) * (1 + stride)]
            raw = bytearray(stride)
            for i in range(stride):
                a = raw[i - BPP] if i >= BPP else 0
                b = prior[i]
                c = prior[i - BPP] if i >= BPP else 0
                if ft == 0:
                    raw[i] = f[i]
                elif ft == 1:
                    raw[i] = (f[i] + a) & 0xFF
                elif ft == 2:
                    raw[i] = (f[i] + b) & 0xFF
                elif ft == 3:
                    raw[i] = (f[i] + ((a + b) >> 1)) & 0xFF
                elif ft == 4:
                    raw[i] = (f[i] + _paeth(a, b, c)) & 0xFF
                else:
                    raise ValueError(f"corrupt PNG: filter type {ft}")
            out += raw
            prior = bytes(raw)
        return width, height, bytes(out)

    return encode_png, decode_png_pixels


encode_png, decode_png_pixels = _make_png_codec()

# synth_png_pixels dimension/seed bounds — small enough that a full RGB
# buffer per doc stays a few hundred bytes, large enough to exercise every
# scanline filter type (h up to 16 > 5)
PX_DIM_MOD = 16


def synth_png_pixels(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic FULL-PNG synthesis: each doc gets a complete, valid
    8-bit RGB PNG (IHDR + filtered/deflated IDAT + IEND, real CRCs) whose
    dimensions and pixels derive from md5(text) — ``w = 1 + hex[0:4] %
    16``, ``h = 1 + hex[4:8] % 16``, ``seed = hex[8:10]``, pixel (x, y)
    channel c = ``(7x + 11y + 13c + seed) % 256``.  Scanline filters
    cycle through all five types (``y % 5``), so the decoder's Sub / Up /
    Average / Paeth reconstruction runs against real data and the DuckDB
    oracle can still predict every decoded pixel arithmetically."""

    def row(i, text):
        _, w, ht, seed = _md5_dims(text, PX_DIM_MOD)
        yield i, encode_png(w, ht, bytes(
            (7 * x + 11 * y + 13 * c + seed) % 256
            for y in range(ht) for x in range(w) for c in range(3)
        ))

    return _map_rows(
        df, (id_col, text_col), f"{id_col} bigint, content binary", row
    )


def png_pixel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over ACTUALLY-DECODED pixels: decode each PNG
    payload (:func:`decode_png_pixels` — inflate + unfilter, not a stub)
    and reduce to per-channel integer mean brightness,
    ``mean_c_micro = (10⁶ · Σ channel c) div (w·h)`` — exact integer
    arithmetic so the oracle's arithmetic replay matches bit-for-bit.

    Output: (id, width, height, mean_r_micro, mean_g_micro, mean_b_micro).
    Memory is bounded by the Arrow batch size; a 100 TB run swaps nothing
    but the decoder's input column."""
    schema = (
        f"{id_col} bigint, width int, height int, "
        "mean_r_micro bigint, mean_g_micro bigint, mean_b_micro bigint"
    )

    def row(i, content):
        w, h, px = decode_png_pixels(bytes(content))
        yield (i, w, h, *_rgb_means_micro(px, w * h))

    return _map_rows(df, (id_col, "content"), schema, row)


def _make_wav_codec():
    """Build the WAV (RIFF/PCM) codec pair as locally-defined functions so
    cloudpickle serializes them BY VALUE into mapInPandas closures (the
    worker-import rationale of :func:`_make_media_decoder`).

    Pure stdlib byte layout: RIFF container walk, ``fmt `` chunk parse,
    little-endian 16-bit PCM frames.  Supports uncompressed PCM
    (audio format 1, 16-bit) — the profile :func:`synth_wav` produces —
    and raises ``ValueError`` on any other profile or structural
    corruption, so a bad payload is a classifiable error, not garbage.
    """

    def encode_wav(n_channels: int, sample_rate: int,
                   samples: list[list[int]]) -> bytes:
        """``samples`` is per-channel lists of int16 values (equal
        lengths); frames are interleaved channel-major per the RIFF spec."""
        n = len(samples[0])
        if any(len(ch) != n for ch in samples):
            raise ValueError("channel lengths differ")
        data = bytearray()
        for i in range(n):
            for ch in samples:
                v = ch[i]
                if not -32768 <= v <= 32767:
                    raise ValueError(f"sample out of int16 range: {v}")
                data += int(v & 0xFFFF).to_bytes(2, "little")
        block_align = n_channels * 2
        fmt = (
            (1).to_bytes(2, "little")            # PCM
            + n_channels.to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little")
            + (sample_rate * block_align).to_bytes(4, "little")  # byte rate
            + block_align.to_bytes(2, "little")
            + (16).to_bytes(2, "little")         # bits per sample
        )
        body = (
            b"WAVE"
            + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + bytes(data)
        )
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    def decode_wav(content: bytes) -> tuple[int, int, list[list[int]]]:
        """Full PCM decode: RIFF walk, fmt validation, interleaved frame
        de-multiplex.  Returns (n_channels, sample_rate, per-channel
        int16 sample lists)."""
        if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE container")
        riff_len = int.from_bytes(content[4:8], "little")
        if riff_len != len(content) - 8:
            raise ValueError("corrupt WAV: RIFF length mismatch")
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(content):
            ctype = content[pos:pos + 4]
            clen = int.from_bytes(content[pos + 4:pos + 8], "little")
            chunk = content[pos + 8:pos + 8 + clen]
            if len(chunk) < clen:
                raise ValueError("corrupt WAV: truncated chunk")
            if ctype == b"fmt ":
                fmt = chunk
            elif ctype == b"data":
                data = chunk
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("corrupt WAV: missing fmt/data chunk")
        audio_format = int.from_bytes(fmt[0:2], "little")
        n_channels = int.from_bytes(fmt[2:4], "little")
        sample_rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if audio_format != 1 or bits != 16:
            raise ValueError("unsupported WAV profile (need 16-bit PCM)")
        if n_channels < 1:
            raise ValueError("corrupt WAV: zero channels")
        frame = n_channels * 2
        if len(data) % frame:
            raise ValueError("corrupt WAV: partial frame in data chunk")
        chans: list[list[int]] = [[] for _ in range(n_channels)]
        for off in range(0, len(data), 2):
            v = int.from_bytes(data[off:off + 2], "little")
            if v >= 32768:
                v -= 65536
            chans[(off // 2) % n_channels].append(v)
        return n_channels, sample_rate, chans

    return encode_wav, decode_wav


encode_wav, decode_wav = _make_wav_codec()

WAV_RATE = 8000  # fixed synthesis sample rate (duration = n/8000 s)
WAV_LEN_MOD = 256  # synthesized clip length 1..256 frames


def synth_wav(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Deterministic real-WAV synthesis: each doc gets a complete, valid
    RIFF/WAVE 16-bit PCM payload whose length, channel count and samples
    derive from md5(text) — ``n = 1 + hex[0:4] % 256`` frames,
    ``channels = 1 + hex[4:5] % 2``, ``seed = hex[8:10]``, and sample s of
    channel c is ``((37·s + 17·c + seed) % 256 − 128) · 256`` — so the
    decoder genuinely de-multiplexes interleaved PCM frames while the
    DuckDB oracle predicts every decoded statistic arithmetically (the
    synth_png_pixels pattern, audio edition)."""

    def row(i, text):
        hx, n, _, seed = _md5_dims(text, WAV_LEN_MOD)
        n_ch = 1 + int(hx[4:5], 16) % 2
        chans = [
            [((37 * s + 17 * c + seed) % 256 - 128) * 256 for s in range(n)]
            for c in range(n_ch)
        ]
        yield i, encode_wav(n_ch, WAV_RATE, chans)

    return _map_rows(
        df, (id_col, text_col), f"{id_col} bigint, content binary", row
    )


def wav_audio_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over ACTUALLY-DECODED audio: decode each WAV
    payload (:func:`decode_wav` — real RIFF walk + PCM de-multiplex, not a
    stub) and reduce to per-channel integer statistics — sample count,
    clip duration in microseconds, peak ``max(|v|)``, and mean absolute
    amplitude ``(10⁶ · Σ|v|) div n`` — exact integer arithmetic so the
    oracle's arithmetic replay matches bit-for-bit.

    Output: one row per (id, channel): (id, channel, n_samples,
    duration_micro, peak, mean_abs_micro).  Row fan-out happens inside
    the Arrow batch (the sample_frames pattern); memory is bounded by the
    batch size."""
    schema = (
        f"{id_col} bigint, channel int, n_samples bigint, "
        "duration_micro bigint, peak bigint, mean_abs_micro bigint"
    )

    def row(i, content):
        _, rate, chans = decode_wav(bytes(content))
        for c, ch in enumerate(chans):
            n = len(ch)
            yield (
                i, c, n, 1_000_000 * n // rate,
                max(abs(v) for v in ch) if n else 0,
                1_000_000 * sum(abs(v) for v in ch) // n if n else 0,
            )

    return _map_rows(df, (id_col, "content"), schema, row)


def _make_gif_codec():
    """Build the GIF (87a/89a) codec pair as locally-defined functions so
    cloudpickle serializes them BY VALUE into mapInPandas closures (the
    worker-import rationale of :func:`_make_media_decoder`).

    Pure stdlib byte layout: logical screen descriptor, global color
    table, image descriptors, and a hand-written GIF-variant LZW
    (variable 9→12-bit codes packed LSB-first, CLEAR/EOI codes, table
    reset at 4096) — completing the screen-descriptor header parse
    (:func:`decode_media`) into a full pixel decode the way PNG and WAV
    were completed.  Supports 8-bit global-palette, non-interlaced
    frames (the profile :func:`synth_gif_pixels` produces; extension
    blocks are skipped per spec) and raises ``ValueError`` on any other
    profile or structural corruption, so a bad payload is a
    classifiable error, not garbage.
    """

    def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        cur = 0
        nbits = 0
        code_size = min_code_size + 1

        def emit(code: int) -> None:
            nonlocal cur, nbits
            cur |= code << nbits
            nbits += code_size
            while nbits >= 8:
                out.append(cur & 0xFF)
                cur >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        emit(clear)
        w = b""
        for ch in data:
            wk = w + bytes([ch])
            if wk in table:
                w = wk
                continue
            emit(table[w])
            if next_code < 4096:
                table[wk] = next_code
                next_code += 1
                # width-sync: the decoder defines entries one code BEHIND
                # the encoder, so the encoder widens one define later than
                # the decoder's len == 2^cs rule — when the slot just
                # assigned is 2^cs itself
                if next_code == (1 << code_size) + 1 and code_size < 12:
                    code_size += 1
            else:
                emit(clear)
                table = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                code_size = min_code_size + 1
            w = bytes([ch])
        if w:
            emit(table[w])
        emit(eoi)
        if nbits:
            out.append(cur & 0xFF)
        return bytes(out)

    def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
        clear = 1 << min_code_size
        eoi = clear + 1
        code_size = min_code_size + 1
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        table = list(base)
        out = bytearray()
        prev: bytes | None = None
        # rolling bit buffer (LSB-first): refill a byte at a time, mask
        # off code_size bits — O(1) per code instead of O(bits)
        bitbuf = 0
        bitcnt = 0
        ptr = 0
        n = len(data)
        while True:
            while bitcnt < code_size:
                if ptr >= n:
                    raise ValueError("corrupt GIF: truncated LZW stream")
                bitbuf |= data[ptr] << bitcnt
                ptr += 1
                bitcnt += 8
            code = bitbuf & ((1 << code_size) - 1)
            bitbuf >>= code_size
            bitcnt -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt GIF: LZW code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]  # the KwKwK case
                table.append(entry)
            else:
                raise ValueError("corrupt GIF: LZW code out of range")
            out += entry
            if len(out) > expected:
                raise ValueError("corrupt GIF: LZW output overruns frame")
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
            prev = entry
        if len(out) != expected:
            raise ValueError("corrupt GIF: wrong decoded pixel count")
        return bytes(out)

    def encode_gif(width: int, height: int, frames: list[bytes],
                   palette: bytes) -> bytes:
        """``frames`` are full-canvas 8-bit palette-index buffers
        (width·height each); ``palette`` is the 256-entry (768-byte)
        global color table."""
        if len(palette) != 768:
            raise ValueError("palette must be 256 RGB entries")
        out = bytearray(
            b"GIF89a"
            + width.to_bytes(2, "little") + height.to_bytes(2, "little")
            + bytes([0xF7, 0, 0])  # GCT present, 8-bit, bg 0, square px
            + palette
        )
        for idx in frames:
            if len(idx) != width * height:
                raise ValueError("frame buffer does not match dimensions")
            out += (
                b"\x2C" + (0).to_bytes(2, "little") * 2
                + width.to_bytes(2, "little") + height.to_bytes(2, "little")
                + b"\x00"  # no local table, not interlaced
            )
            out.append(8)  # LZW minimum code size for 256-color data
            lzw = _lzw_encode(idx, 8)
            for off in range(0, len(lzw), 255):
                chunk = lzw[off:off + 255]
                out.append(len(chunk))
                out += chunk
            out.append(0)  # block terminator
        out.append(0x3B)  # trailer
        return bytes(out)

    def decode_gif_pixels(
        content: bytes,
    ) -> tuple[int, int, list[bytes]]:
        """Full pixel decode: screen-descriptor + GCT parse, extension
        skip, per-frame sub-block walk + LZW inflate + palette lookup.
        Returns (width, height, per-frame raw RGB byte buffers)."""
        if content[:3] != b"GIF" or content[3:6] not in (b"87a", b"89a"):
            raise ValueError("not a GIF")
        if len(content) < 13:
            raise ValueError("corrupt GIF: truncated screen descriptor")
        width = int.from_bytes(content[6:8], "little")
        height = int.from_bytes(content[8:10], "little")
        packed = content[10]
        pos = 13

        def color_table(flags: int, pos: int, what: str) -> tuple[bytes, int]:
            n = 3 * (2 << (flags & 0x07))
            table = content[pos:pos + n]
            if len(table) < n:
                raise ValueError(f"corrupt GIF: truncated {what} table")
            return table, pos + n

        palette = b""
        if packed & 0x80:
            palette, pos = color_table(packed, pos, "color")
        frames: list[bytes] = []
        while True:
            if pos >= len(content):
                raise ValueError("corrupt GIF: missing trailer")
            block = content[pos]
            pos += 1
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension: label + sub-blocks, skipped
                pos += 1
                while True:
                    if pos >= len(content):
                        raise ValueError("corrupt GIF: truncated extension")
                    sz = content[pos]
                    pos += 1 + sz
                    if sz == 0:
                        break
                continue
            if block != 0x2C:
                raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
            if pos + 9 > len(content):
                raise ValueError("corrupt GIF: truncated image descriptor")
            fw = int.from_bytes(content[pos + 4:pos + 6], "little")
            fh = int.from_bytes(content[pos + 6:pos + 8], "little")
            fpacked = content[pos + 8]
            pos += 9
            pal = palette
            if fpacked & 0x80:  # local color table overrides
                pal, pos = color_table(fpacked, pos, "local")
            if fpacked & 0x40:
                raise ValueError("unsupported GIF profile (interlaced)")
            if (fw, fh) != (width, height):
                raise ValueError(
                    "unsupported GIF profile (sub-canvas frame)"
                )
            if not pal:
                raise ValueError("corrupt GIF: no color table for frame")
            if pos >= len(content):
                raise ValueError("corrupt GIF: missing LZW code size")
            min_code = content[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                raise ValueError("corrupt GIF: bad LZW minimum code size")
            lzw = bytearray()
            while True:
                if pos >= len(content):
                    raise ValueError("corrupt GIF: truncated image data")
                sz = content[pos]
                pos += 1
                if sz == 0:
                    break
                lzw += content[pos:pos + sz]
                if len(content) - pos < sz:
                    raise ValueError("corrupt GIF: truncated sub-block")
                pos += sz
            idx = _lzw_decode(bytes(lzw), min_code, fw * fh)
            n_colors = len(pal) // 3
            entries = [pal[3 * i:3 * i + 3] for i in range(n_colors)]
            try:
                frames.append(b"".join(entries[i] for i in idx))
            except IndexError:
                raise ValueError(
                    "corrupt GIF: palette index out of range"
                ) from None
        if not frames:
            raise ValueError("corrupt GIF: no image data")
        return width, height, frames

    return encode_gif, decode_gif_pixels


encode_gif, decode_gif_pixels = _make_gif_codec()


def synth_gif_pixels(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic FULL-GIF synthesis: each doc gets a complete, valid
    GIF89a (screen descriptor + 256-entry global palette + 1..2
    full-canvas frames of genuinely LZW-compressed index data) whose
    geometry and pixels derive from md5(text) — ``w = 1 + hex[0:4] %
    16``, ``h = 1 + hex[4:8] % 16``, ``seed = hex[8:10]``,
    ``n_frames = 1 + hex[10:11] % 2``; frame f's index at (x, y) is
    ``(7x + 11y + 5f + seed) % 256`` and palette entry i is
    ``(i, 2i % 256, 255 − i)`` — so the decoder reconstructs every
    pixel from real variable-width LZW codes while the DuckDB oracle
    predicts every decoded statistic arithmetically (the
    synth_png_pixels pattern, GIF edition)."""
    palette = bytes(
        v for i in range(256) for v in (i, (2 * i) % 256, 255 - i)
    )

    def row(i, text):
        hx, w, ht, seed = _md5_dims(text, PX_DIM_MOD)
        frames = [
            bytes(
                (7 * x + 11 * y + 5 * f + seed) % 256
                for y in range(ht) for x in range(w)
            )
            for f in range(1 + int(hx[10:11], 16) % 2)
        ]
        yield i, encode_gif(w, ht, frames, palette)

    return _map_rows(
        df, (id_col, text_col), f"{id_col} bigint, content binary", row
    )


def gif_pixel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over ACTUALLY-DECODED GIF pixels: decode each
    payload (:func:`decode_gif_pixels` — real LZW inflate + palette
    lookup, not a stub) and reduce to per-FRAME integer channel means,
    ``mean_c_micro = (10⁶ · Σ channel c) div (w·h)`` — exact integer
    arithmetic so the oracle's arithmetic replay matches bit-for-bit.

    Output: one row per (id, frame): (id, frame, width, height,
    mean_r_micro, mean_g_micro, mean_b_micro).  Frame fan-out happens
    inside the Arrow batch (the wav_audio_stats channel pattern);
    memory is bounded by the batch size."""
    schema = (
        f"{id_col} bigint, frame int, width int, height int, "
        "mean_r_micro bigint, mean_g_micro bigint, mean_b_micro bigint"
    )

    def row(i, content):
        w, h, frames = decode_gif_pixels(bytes(content))
        for f, px in enumerate(frames):
            yield (i, f, w, h, *_rgb_means_micro(px, w * h))

    return _map_rows(df, (id_col, "content"), schema, row)


def media_dimensions(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode over binary payloads: (id, format, width,
    height) via :func:`decode_media` — the real header parse, not a stub.
    Memory bounded by the Arrow batch size; binary columns never cross the
    JVM row-by-row."""
    schema = f"{id_col} bigint, format string, width int, height int"

    def row(i, content):
        m = decode_media(bytes(content))
        yield i, m["format"], m["width"], m["height"]

    return _map_rows(df, (id_col, "content"), schema, row)


def frame_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-item 'decode' stats via mapInPandas over Arrow batches:
    (id, byte_len, n_frames) with n_frames = ceil(byte_len / FRAME_BYTES).

    Deterministic stand-in for decode/feature-extract; swap the body for a
    real codec without touching the Spark-side plumbing.
    """
    schema = f"{id_col} bigint, byte_len int, n_frames int"

    def row(i, content):
        n = len(content)
        yield i, n, (n + FRAME_BYTES - 1) // FRAME_BYTES

    return _map_rows(df, (id_col, "content"), schema, row)


EMBED_DIM = 8


def fake_embedding(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature-extraction stub over the Arrow batch path: an 8-dim float
    vector derived from md5 of the binary payload (dim *j* = hex[4j:4j+4]
    as an int, scaled by 1/65536 — exact in IEEE, so reproducible across
    engines and the DuckDB oracle can verify the pandas plumbing
    value-exactly).

    Swap the body for a real image/audio encoder without touching the
    Spark-side contract: (id, content) in, (id, embedding array<double>)
    out, memory bounded by the Arrow batch size. The output feeds the
    similarity/ANN operators directly (cross-modal retrieval path).
    """
    import hashlib

    schema = f"{id_col} bigint, embedding array<double>"

    def row(i, content):
        h = hashlib.md5(bytes(content)).hexdigest()
        yield i, [int(h[4 * j: 4 * j + 4], 16) / 65536.0 for j in range(EMBED_DIM)]

    return _map_rows(df, (id_col, "content"), schema, row)


def fake_embedding_sql(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`fake_embedding` (content = utf-8 of text, so
    ``md5(text)`` hashes the same bytes).

    Dimensions are flattened to scalar columns ``d0..d7`` — the harness's
    canonicalizer sorts/hashes cell values, which array cells break — and
    the Spark side projects the same flattening (`q_multimodal_embedding`).
    """
    dims = ", ".join(
        f"CAST(CAST(concat('0x', substr(md5({text_expr}), {4 * j + 1}, 4)) AS INTEGER)"
        f" AS DOUBLE) / 65536.0 AS d{j}"
        for j in range(EMBED_DIM)
    )
    return f"SELECT {id_expr} AS doc_id, {dims} FROM documents"


def resize_media(df: DataFrame, target_bytes: int = 128,
                 id_col: str = "doc_id") -> DataFrame:
    """Resize stub: normalize every payload to exactly ``target_bytes``
    (truncate, or zero-pad — the shape contract of a real image resize)
    with the metadata struct updated to the post-resize size. A real codec
    resize drops into the same batch iterator; the Spark-side schema,
    metadata update, and Arrow batching are the tested surface.
    """
    schema = (
        f"{id_col} bigint, content binary, "
        "media_meta struct<mime: string, n_bytes: int, modality: string>"
    )

    def row(i, content, m):
        yield (
            i, bytes(content[:target_bytes]).ljust(target_bytes, b"\0"),
            {"mime": m["mime"], "n_bytes": target_bytes, "modality": m["modality"]},
        )

    return _map_rows(df, (id_col, "content", "media_meta"), schema, row)


def sample_frames(df: DataFrame, id_col: str = "doc_id",
                  every: int = 2) -> DataFrame:
    """Frame sampling: one output row per kept frame (every ``every``-th),
    carrying the frame's byte slice — row fan-out inside the Arrow batch."""
    schema = f"{id_col} bigint, frame_no int, frame_bytes binary"

    def row(i, content):
        n = (len(content) + FRAME_BYTES - 1) // FRAME_BYTES
        for f in range(0, n, every):
            yield i, f, bytes(content[f * FRAME_BYTES:(f + 1) * FRAME_BYTES])

    return _map_rows(df, (id_col, "content"), schema, row)


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual average-hash (aHash) over ACTUALLY-DECODED pixels — the
    image-dedup primitive: decode each PNG (:func:`decode_png_pixels`),
    gray the 8×8 nearest-point downsample (``X = (i·w)//8``), threshold
    each sample against the integer mean, and pack the 64 bits MSB-first
    into a 16-hex-char string.  Near-identical images (crops, small
    palette shifts) collide; grouping by the hash yields candidate
    duplicate sets without any pairwise scan.

    The hash is a STRING, not a BIGINT — bit 63 would overflow signed
    int64 on both engines, and group-by keys don't need arithmetic.
    All-integer sampling/threshold arithmetic keeps the DuckDB oracle
    bit-for-bit (it replays the synthesis formula; Spark replays the
    decode).  Scale: stateless Arrow ``mapInPandas``, memory bounded by
    batch size; the downstream dedup is one hash-keyed groupBy.
    """
    schema = f"{id_col} bigint, width int, height int, ahash string"

    def row(i, content):
        w, h, px = decode_png_pixels(bytes(content))
        grays = _gray_grid(w, h, px)
        mean = sum(grays) // 64
        v = 0
        for g in grays:
            v = (v << 1) | (1 if g > mean else 0)
        yield i, w, h, format(v, "016x")

    return _map_rows(df, (id_col, "content"), schema, row)


# (w, h, seed) of every synth_png_pixels payload, replayed from md5(text)
_PX_DIMS_CTE = f"""dims AS (
      SELECT doc_id,
             1 + CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % {PX_DIM_MOD} AS w,
             1 + CAST(concat('0x', substr(md5(text), 5, 4)) AS INTEGER) % {PX_DIM_MOD} AS h,
             CAST(concat('0x', substr(md5(text), 9, 2)) AS INTEGER) AS seed
      FROM documents
    )"""


def _gray_sql(w: str, h: str, seed: str, pad: str) -> str:
    """The oracle's :func:`_gray_grid`: the channel sum of the synthesis
    pixel formula at grid sample ``(i.i, j.j)`` of a ``w``×``h`` image,
    one channel term per line (``pad`` indents the continuation), still
    to be divided by 3."""
    return f"\n{pad} + ".join(
        f"((7 * ((i.i * {w}) // 8) + 11 * ((j.j * {h}) // 8) + {c}{seed}) % 256)"
        for c in ("", "13 + ", "26 + ")
    )


def _grid_sad_cte(src: str) -> str:
    """The ``g`` CTE of the grid-verify oracles: Σ₆₄ |gray_a − gray_b|
    per ``(doc_a, doc_b)`` row of ``src``, whose columns carry each
    side's ``(w, h, seed)`` as ``wa, hpa, sa`` / ``wb, hpb, sb``."""
    pad = " " * 15
    return f"""g AS (
      SELECT doc_a, doc_b,
             SUM(ABS(
               ({_gray_sql("wa", "hpa", "sa", pad)}) // 3
               -
               ({_gray_sql("wb", "hpb", "sb", pad)}) // 3
             )) AS sad
      FROM {src},
           unnest(generate_series(0, 7)) AS i(i),
           unnest(generate_series(0, 7)) AS j(j)
      GROUP BY 1, 2
    )"""


def image_ahash_sql() -> str:
    """DuckDB oracle for :func:`image_ahash` over :func:`synth_png_pixels`
    payloads: the synthesis pixel formula ``(7x + 11y + 13c + seed) %
    256`` replayed arithmetically at the 64 sampled grid points, nibbles
    assembled MSB-first into the same hex string (bit ``k = 8·j + i``,
    hex char ``k // 4`` with weight ``2^(3 - k % 4)``)."""
    return f"""
    WITH {_PX_DIMS_CTE},
    g AS (
      SELECT doc_id, w, h, 8 * j.j + i.i AS k,
             ({_gray_sql("w", "h", "seed", " " * 13)}
             ) // 3 AS gray
      FROM dims,
           unnest(generate_series(0, 7)) AS i(i),
           unnest(generate_series(0, 7)) AS j(j)
    ),
    m AS (SELECT doc_id, SUM(gray) // 64 AS mg FROM g GROUP BY 1),
    nib AS (
      SELECT g.doc_id, k // 4 AS np,
             SUM((CASE WHEN gray > mg THEN 1 ELSE 0 END)
                 * (CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                               WHEN 2 THEN 2 ELSE 1 END)) AS nv
      FROM g JOIN m ON g.doc_id = m.doc_id
      GROUP BY 1, 2
    ),
    hx AS (
      SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                        '' ORDER BY np) AS ahash
      FROM nib GROUP BY 1
    )
    SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
           hx.ahash
    FROM dims d JOIN hx ON d.doc_id = hx.doc_id
    """


# Energy-VAD parameters, shared by the operator, the oracle, and the
# tests.  32-sample windows over channel 0; a window is ACTIVE when its
# mean |amplitude| exceeds 16384 — the midpoint of the synthesized
# samples' |v| range (0..32768), so the fixtures split windows ~50/50
# and segments of every length occur.
VAD_WIN = 32
VAD_THRESHOLD = 16384


def wav_energy_segments(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Energy-based voice-activity segmentation over ACTUALLY-DECODED
    audio — the speech-data curation primitive (silence trimming, clip
    splitting): decode each WAV (:func:`decode_wav`), window channel 0
    into :data:`VAD_WIN`-sample windows (last partial window kept), mark
    windows whose mean |amplitude| exceeds :data:`VAD_THRESHOLD`, and
    emit one row per maximal run of active windows —
    ``(doc_id, seg_idx, start_win, end_win, n_windows, peak_amp)``.

    The activity test stays in integers (``Σ|v| > T·count`` avoids the
    division), so the oracle replays it exactly: samples arithmetically
    from the synthesis formula, runs via SQL gaps-and-islands.  Clips
    with no active window emit no rows on either engine.  Scale: the
    whole operator — decode, window fold, run detection — is row-local
    inside the Arrow batch, a stateless map-only pass.
    """
    schema = (
        f"{id_col} bigint, seg_idx bigint, start_win bigint, "
        "end_win bigint, n_windows bigint, peak_amp bigint"
    )

    def row(i, content):
        _, _, chans = decode_wav(bytes(content))
        ch0 = [abs(v) for v in chans[0]]
        n_win = (len(ch0) + VAD_WIN - 1) // VAD_WIN
        seg_start, seg_peak, seg_idx = None, 0, 0
        for w in range(n_win + 1):  # +1: sentinel flushes a tail run
            chunk = ch0[w * VAD_WIN:(w + 1) * VAD_WIN]
            active = bool(chunk) and sum(chunk) > VAD_THRESHOLD * len(chunk)
            if active:
                if seg_start is None:
                    seg_start, seg_peak = w, 0
                seg_peak = max(seg_peak, max(chunk))
            elif seg_start is not None:
                seg_idx += 1
                yield i, seg_idx, seg_start, w - 1, w - seg_start, seg_peak
                seg_start = None

    return _map_rows(df, (id_col, "content"), schema, row)


def wav_energy_segments_sql() -> str:
    """DuckDB oracle for :func:`wav_energy_segments` over
    :func:`synth_wav` payloads: channel-0 samples replayed from the
    synthesis formula (the ``17·c`` term is 0), windows via integer
    division, runs via the row_number gaps-and-islands idiom."""
    return f"""
    WITH dims AS (
      SELECT doc_id,
             1 + CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER)
                 % {WAV_LEN_MOD} AS n,
             CAST(concat('0x', substr(md5(text), 9, 2)) AS INTEGER) AS seed
      FROM documents
    ),
    s AS (
      SELECT doc_id, s.s AS i,
             ABS(((37 * s.s + seed) % 256 - 128) * 256) AS av
      FROM dims, unnest(generate_series(0, n - 1)) AS s(s)
    ),
    w AS (
      SELECT doc_id, i // {VAD_WIN} AS win, SUM(av) AS sa,
             COUNT(*) AS cnt, MAX(av) AS pk
      FROM s GROUP BY 1, 2
    ),
    act AS (
      SELECT *, win - ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY win) AS grp
      FROM w WHERE sa > {VAD_THRESHOLD} * cnt
    ),
    seg AS (
      SELECT doc_id, grp, MIN(win) AS start_win, MAX(win) AS end_win,
             COUNT(*) AS n_windows, MAX(pk) AS peak_amp
      FROM act GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY start_win) AS BIGINT) AS seg_idx,
           CAST(start_win AS BIGINT) AS start_win,
           CAST(end_win AS BIGINT) AS end_win,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(peak_amp AS BIGINT) AS peak_amp
    FROM seg
    """


def _join_payloads(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Join each side's payload onto ``(doc_a, doc_b)`` candidate pairs by
    id, as ``content_a`` / ``content_b``; the caller selects what its
    rescore reads."""
    for x in "ab":
        pairs = pairs.join(df.select(
            F.col(id_col).alias(f"doc_{x}"), F.col("content").alias(f"content_{x}")
        ), f"doc_{x}")
    return pairs


def image_dup_verified(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The exact-verify stage behind :func:`image_ahash` collisions —
    the bolt-on `image_dup_groups`' docstring promises: every non-
    canonical member of a same-hash same-dimensions group is decoded
    alongside the group's CANONICAL image (the min doc_id, the one
    `image_dup_groups` elects and `canonical_docs` would keep) and
    scored by mean absolute per-channel pixel distance,
    ``mad_micro = (10⁶ · Σ|pa − pb|) div (w·h·3)`` — 0 for true
    duplicates, small for near-dups, the keep/drop threshold input.
    Returns ``(doc_a, doc_b, width, height, mad_micro)`` with ``doc_a``
    the canonical.

    STAR verification, not all-pairs, deliberately: the keep/drop
    decision only needs each member's distance TO THE SURVIVOR, so the
    pair count is linear in group size — all-pairs is m(m-1)/2 per
    group and measured 33× on 10× data on the synthetic derivation
    (whose collision space grows both sides); the star form is the
    SemDeDup/centroid-representative shape.  The candidate space is a
    hash-keyed join of members to their group canonical (no cartesian),
    payloads join in by id, the double decode is row-local Arrow work.
    Dimension equality is part of the group key: cross-dimension
    collisions are incomparable pixel-wise and a production rescorer
    would resize first (the resize stub's contract).
    """
    # the hash table feeds the canonical-election AND member branches;
    # persist so the Python decode lineage runs once
    ah = image_ahash(df, id_col).transform(persist_once)
    canon = (
        ah.groupBy("ahash", "width", "height")
        .agg(F.min(id_col).alias("doc_a"))
    )
    b = ah.select(
        F.col(id_col).alias("doc_b"),
        F.col("ahash"),
        F.col("width"),
        F.col("height"),
    )
    pairs = b.join(canon, ["ahash", "width", "height"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    cols = ("doc_a", "doc_b", "width", "height", "content_a", "content_b")
    joined = _join_payloads(df, pairs, id_col).select(*cols)
    schema = (
        "doc_a bigint, doc_b bigint, width int, height int, "
        "mad_micro bigint"
    )

    # Not _map_rows: a group's CANONICAL decodes once per batch, not once
    # per member pair (star pairing repeats doc_a across its whole group),
    # and that cache must die with the batch — state held by a row
    # function would live as long as the task.
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            cache: dict[int, np.ndarray] = {}

            def px_of(did: int, blob) -> np.ndarray:
                # raw RGB bytes as int16, so |x−y| cannot wrap
                px = cache.get(did)
                if px is None:
                    _, _, raw = decode_png_pixels(bytes(blob))
                    px = np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
                    cache[did] = px
                return px

            out = []
            for da, db, w, h, ca, cb in zip(*(pdf[c] for c in cols)):
                # the per-pixel SAD is one vectorized numpy pass with an
                # int64 sum, exact
                sad = int(np.abs(px_of(da, ca) - px_of(db, cb)).sum(dtype=np.int64))
                out.append((da, db, w, h, (1_000_000 * sad) // (w * h * 3)))
            if out:
                yield pd.DataFrame(out)

    return joined.mapInPandas(batches, schema)


def image_dup_verified_sql() -> str:
    """DuckDB oracle for :func:`image_dup_verified` over
    :func:`synth_png_pixels` payloads: aHash groups via
    :func:`image_ahash_sql`, the star pairing via a min-id group
    canonical, the pixel distance replayed arithmetically —
    ``Σ_{x,y,c} |(7x+11y+13c+s_a)%256 − (7x+11y+13c+s_b)%256|``."""
    return f"""
    WITH ah AS ({image_ahash_sql()}),
    dims AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(text), 9, 2)) AS INTEGER) AS seed
      FROM documents
    ),
    canon AS (
      SELECT ahash, width, height, MIN(doc_id) AS doc_a
      FROM ah GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT c.doc_a, b.doc_id AS doc_b,
             b.width AS width, b.height AS height,
             da.seed AS seed_a, db.seed AS seed_b
      FROM ah b
      JOIN canon c ON b.ahash = c.ahash AND b.width = c.width
                  AND b.height = c.height AND c.doc_a < b.doc_id
      JOIN dims da ON da.doc_id = c.doc_a
      JOIN dims db ON db.doc_id = b.doc_id
    ),
    px AS (
      SELECT doc_a, doc_b, width, height,
             SUM(ABS((7 * x.x + 11 * y.y + 13 * c.c + seed_a) % 256
                   - (7 * x.x + 11 * y.y + 13 * c.c + seed_b) % 256))
               AS sad
      FROM pairs,
           unnest(generate_series(0, width - 1)) AS x(x),
           unnest(generate_series(0, height - 1)) AS y(y),
           unnest(generate_series(0, 2)) AS c(c)
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST((1000000 * sad) // (width * height * 3) AS BIGINT)
             AS mad_micro
    FROM px
    """


# Near-collision ring parameters: 4 bands x 16 bits over the 64-bit
# aHash; pairs must agree on >= 2 bands and sit at Hamming distance
# 1..IMG_HAM_MAX.  Pigeonhole recall guarantee: flipping <= 2 bits
# breaks at most 2 of the 4 bands, so every true <=2-distance pair
# shares >= 2 bands — the banded join misses nothing it claims.
IMG_HAM_BANDS = 4
IMG_HAM_MIN_BANDS = 2
IMG_HAM_MAX = 2
# Band-bucket cap (the GRAM_DF_CAP pattern): a band value shared by more
# than this many images is non-discriminative boilerplate (structured
# synthetic hashes cluster hard — sf0.1 measured a 1,408-member bucket,
# ~1M pairs from ONE band value, 3.7M banded pairs total) and is dropped
# from candidate generation on BOTH engines.  64 keeps the gate SF
# honest (5 buckets over cap at sf0.01, so the cap path is
# parity-tested) while bounding per-bucket pair work at cap²/2.
IMG_BAND_CAP = 64


def image_hamming_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The NEAR ring around :func:`image_ahash` collisions — the image
    analog of text's ``simhash_hamming_pairs``: images whose perceptual
    hashes differ by 1..:data:`IMG_HAM_MAX` bits (exact collisions are
    `image_dup_groups`' domain and excluded here).  Candidates come from
    a banded self-join (4 x 16-bit bands, >= 2 agreeing), then the full
    64-bit Hamming distance is an in-row fold over the 16 hex nibbles
    (conv -> XOR -> bit_count).  Returns ``(doc_a, doc_b, hamming)``.

    Band values shared by more than :data:`IMG_BAND_CAP` images are
    dropped from candidate generation on both engines (the
    ``GRAM_DF_CAP`` move): a hot band is non-discriminative
    boilerplate, and retaining it makes one bucket quadratic —
    measured 1,408 members / ~1M pairs from a single band value at
    sf0.1.  Recall: among pairs whose agreeing bands survive the cap,
    <= 2 flipped bits break at most 2 of 4 bands, so the >= 2-band gate
    misses nothing (the pigeonhole argument, pinned vs brute force in
    tests); pairs related ONLY through boilerplate bands are exactly
    the ones a near-dup miner doesn't want.

    Scale: the banded join is keyed on (band, 16-bit value) — the
    standard LSH-band shape, no cartesian, per-bucket work bounded at
    cap²/2; the distance fold is pure codegen arithmetic on 16-char
    strings, no payload decode.  Their pixel-level rescore is
    :func:`image_ring_verified`, the ring's :func:`image_dup_verified`.
    """
    # the hash table feeds bucket-count AND candidate branches; without a
    # persist the Python decode lineage re-runs per branch
    ah = (
        image_ahash(df, id_col)
        .select(F.col(id_col).alias("doc_id"), "ahash")
        .transform(persist_once)
    )
    # Parse the 64-bit hash ONCE PER DOC into two 32-bit halves (each
    # fits a signed bigint; a single 16-hex-char conv can exceed
    # Long.MAX under ANSI).  The per-PAIR distance is then two
    # XOR+bit_count ops instead of the former 16-nibble conv fold —
    # 32 string convs per candidate pair → 2 integer ops (§1.2
    # per-task work; A/B'd −30% on this query at sf0.1).  Identical
    # values: popcount over the same 64 bits, split or not.
    bands_all = ah.select(
        "doc_id",
        *(
            F.conv(F.substring("ahash", pos, 8), 16, 10).cast("bigint").alias(half)
            for pos, half in ((1, "hhi"), (9, "hlo"))
        ),
        F.explode(
            F.expr(
                f"transform(sequence(0, {IMG_HAM_BANDS - 1}),"
                " b -> struct(b AS band, substring(ahash, 4 * b + 1, 4)"
                " AS bv))"
            )
        ).alias("bb"),
    ).select("doc_id", "hhi", "hlo", F.col("bb.band"), F.col("bb.bv"))
    cold = (
        bands_all.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") <= IMG_BAND_CAP)
        .select("band", "bv")
    )
    bands = bands_all.join(cold, ["band", "bv"])
    a, b = (
        bands.select(
            F.col("doc_id").alias(f"doc_{x}"), F.col("hhi").alias(f"{x}hi"),
            F.col("hlo").alias(f"{x}lo"), "band", "bv",
        )
        for x in "ab"
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "ahi", "alo", "bhi", "blo")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") >= IMG_HAM_MIN_BANDS)
    )
    hamming = F.expr(
        "bit_count(ahi ^ bhi) + bit_count(alo ^ blo)"
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(
            (F.col("hamming") >= 1) & (F.col("hamming") <= IMG_HAM_MAX)
        )
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
        )
    )


def image_hamming_pairs_sql() -> str:
    """DuckDB oracle for :func:`image_hamming_pairs`: same bands, same
    band-bucket cap, same >= 2-band gate, nibble XOR popcount via the
    strpos hex lookup."""
    return f"""
    WITH ah AS ({image_ahash_sql()}),
    bands_all AS (
      SELECT doc_id, ahash, b.b AS band,
             substr(ahash, 4 * b.b + 1, 4) AS bv
      FROM ah, unnest(generate_series(0, {IMG_HAM_BANDS - 1})) AS b(b)
    ),
    cold AS (
      SELECT band, bv FROM bands_all
      GROUP BY 1, 2 HAVING COUNT(*) <= {IMG_BAND_CAP}
    ),
    bands AS (
      SELECT b.* FROM bands_all b JOIN cold USING (band, bv)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.ahash AS ha, c.ahash AS hb, COUNT(*) AS nb
      FROM bands a
      JOIN bands c ON a.band = c.band AND a.bv = c.bv
                  AND a.doc_id < c.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    dist AS (
      SELECT doc_a, doc_b,
             (SELECT SUM(bit_count(
                  xor(strpos('0123456789abcdef', substr(ha, p.p, 1)) - 1,
                      strpos('0123456789abcdef', substr(hb, p.p, 1)) - 1)))
              FROM unnest(generate_series(1, 16)) AS p(p)) AS hamming
      FROM cand WHERE nb >= {IMG_HAM_MIN_BANDS}
    )
    SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
    FROM dist WHERE hamming BETWEEN 1 AND {IMG_HAM_MAX}
    """


def image_grid_verify(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Verification for the pairs :func:`image_dup_verified` cannot
    touch — same-hash collisions with DIFFERENT dimensions (the majority
    on the shipped fixtures: 133 of 182 star pairs), where pixel space
    is incomparable.  The resize step a production rescorer would run is
    exactly the hash's own 8×8 nearest-point gray downsample, so each
    member and its group canonical are decoded, resampled onto that
    grid, and scored by mean absolute gray distance,
    ``grid_mad_micro = (10⁶ · Σ₆₄|ga − gb|) div 64``.  Returns
    ``(doc_a, doc_b, grid_mad_micro)`` with ``doc_a`` the canonical;
    same-dims pairs are excluded (the exact pixel verifier owns them).

    Same scale shape as :func:`image_dup_verified`: star pairing
    (linear in group size), id-keyed payload joins, row-local double
    decode in the Arrow batch.
    """
    # payload frame referenced by the aHash pass AND both rescore sides
    # — persist so the opaque synthesis/decode lineage runs once
    df = df.transform(persist_once)
    ah = image_ahash(df, id_col).transform(persist_once)
    canon = ah.groupBy("ahash").agg(F.min(id_col).alias("doc_a"))
    ca_dims = ah.select(
        F.col(id_col).alias("doc_a"),
        F.col("width").alias("wa"),
        F.col("height").alias("ha_px"),
    )
    pairs = (
        ah.select(
            F.col(id_col).alias("doc_b"), "ahash",
            F.col("width").alias("wb"), F.col("height").alias("hb_px"),
        )
        .join(canon, "ahash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(ca_dims, "doc_a")
        .filter(
            (F.col("wa") != F.col("wb")) | (F.col("ha_px") != F.col("hb_px"))
        )
    )
    return _grid_mad_rescore(df, pairs.select("doc_a", "doc_b"), id_col)


def _grid_mad_rescore(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Shared grid-resample comparator behind :func:`image_grid_verify`
    and :func:`image_ring_verified`: join payloads onto ``(doc_a,
    doc_b)`` candidate pairs by id, decode both sides row-locally in the
    Arrow batch, resample each onto the hash's own 8×8 nearest-point
    gray grid, and score ``grid_mad_micro = (10⁶ · Σ₆₄|ga − gb|) div
    64``.  The row function is operator-local and calls only factory-built
    helpers, so it pickles BY VALUE (see :func:`_make_media_decoder`)."""

    def row(da, db, ca, cb):
        ga = _gray_grid(*decode_png_pixels(bytes(ca)))
        gb = _gray_grid(*decode_png_pixels(bytes(cb)))
        yield da, db, (1_000_000 * sum(abs(x - y) for x, y in zip(ga, gb))) // 64

    return _map_rows(
        _join_payloads(df, pairs, id_col),
        ("doc_a", "doc_b", "content_a", "content_b"),
        "doc_a bigint, doc_b bigint, grid_mad_micro bigint",
        row,
    )


def image_ring_verified(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Pixel-level rescore for the Hamming NEAR ring — the stage
    :func:`image_hamming_pairs` has promised since round 7 ("a
    pixel-level rescore would bolt on exactly like image_dup_verified").
    Exact collisions get :func:`image_dup_verified`, cross-dims
    collisions get :func:`image_grid_verify`; this completes the
    symmetry for hash distance 1..:data:`IMG_HAM_MAX`.

    STAR pattern against the ring-COMPONENT canonical: ring edges are
    clustered with star-contraction connected components
    (``curation.py:connected_components`` — O(log diameter) rounds on
    a geometrically shrinking edge set, with a bounded driver
    union-find finish once the residue fits; the same operator behind
    ``dedup_components``), each non-canonical
    member is scored once against its component's min-id node, so pair
    count is linear in ring size exactly like the exact-collision star
    (which measured 33× → 5.9× on the sf1 decade when it switched from
    all-pairs).  The comparator is the 8×8 grid resample, not raw pixel
    MAD: ring membership is dims-agnostic (the aHash lives on the grid),
    so members of one component can differ in dimensions.

    Returns ``(doc_a, doc_b, grid_mad_micro)`` with ``doc_a`` the
    component canonical.  Scale shape: the banded+capped candidate
    generation is inherited from :func:`image_hamming_pairs` (per-bucket
    work ≤ cap²/2), components run on ring EDGES only (a graph orders of
    magnitude smaller than the corpus), payload joins are id-keyed, and
    the double decode is row-local Arrow work.
    """
    from killrweather_spark.functions.curation import connected_components

    # The payload frame is referenced three times (the ring's aHash pass
    # plus BOTH sides of the grid rescore) and its lineage is an opaque
    # Python synthesis/decode mapInPandas the planner can neither prune
    # nor reuse — persist so the payload pass runs once (guide §4.1:
    # bound what crosses the Python boundary).
    df = df.transform(persist_once)
    ring = image_hamming_pairs(df, id_col)
    comp = connected_components(ring.select("doc_a", "doc_b"))
    star = comp.filter(F.col("node") != F.col("component")).select(
        F.col("component").cast("bigint").alias("doc_a"),
        F.col("node").cast("bigint").alias("doc_b"),
    )
    return _grid_mad_rescore(df, star, id_col)


def image_ring_verified_sql() -> str:
    """DuckDB oracle for :func:`image_ring_verified`: the ring replayed
    via :func:`image_hamming_pairs_sql` (nested WITH), components via
    the same recursive transitive closure as ``dedup_components``'s
    oracle, the star pairs' grid grays replayed from each side's
    ``(w, h, seed)`` triple as in :func:`image_grid_verify_sql`.  The
    ring CTE is MATERIALIZED — edges references it twice (the 2^k
    inlining class)."""
    return f"""
    WITH RECURSIVE ring AS MATERIALIZED ({image_hamming_pairs_sql()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM ring
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM ring
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS node, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    ),
    star AS (
      SELECT component AS doc_a, node AS doc_b
      FROM comp WHERE node != component
    ),
    {_PX_DIMS_CTE},
    sp AS (
      SELECT s.doc_a, s.doc_b,
             da.w AS wa, da.h AS hpa, da.seed AS sa,
             db.w AS wb, db.h AS hpb, db.seed AS sb
      FROM star s
      JOIN dims da ON da.doc_id = s.doc_a
      JOIN dims db ON db.doc_id = s.doc_b
    ),
    {_grid_sad_cte("sp")}
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST((1000000 * sad) // 64 AS BIGINT) AS grid_mad_micro
    FROM g
    """


def streaming_image_screen(
    ref_imgs: DataFrame, stream_imgs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Incremental image ingestion as a STREAM — the image mirror of
    ``curation.py:streaming_passage_screen``: arriving payloads are
    decoded and aHashed in the micro-batch (the same Arrow
    ``mapInPandas`` the batch pipeline uses — Structured Streaming runs
    it per trigger unchanged), probe the persisted reference hash index
    with a stream-static LEFT join, and roll up per ``(width, height)``
    cell — ``n_images``, ``n_known`` (hash already indexed: the
    re-crawl/mirror drop signal ``image_dup_groups`` applies in batch),
    and ``known_ratio_micro``.  ONE stateful aggregation, within
    Structured Streaming's limit; integer arithmetic end-to-end, so the
    batch replay of the same payloads is bit-identical and the batch SQL
    is the oracle.

    Scale: the index is hash-distinct (corpus-bounded but
    near-dup-compressed), built ONCE in batch and persisted; each
    micro-batch touches only its own arrivals — decode cost is
    per-arrival, the probe is a hash-keyed join, state is
    |distinct dims| rows (≤ 256 here).
    """
    ref = (
        image_ahash(ref_imgs, id_col)
        .select(F.col("ahash").alias("ref_hash"))
        .distinct()
        .transform(persist_once)
    )
    arr = image_ahash(stream_imgs, id_col)
    probed = arr.join(ref, arr["ahash"] == ref["ref_hash"], "left")
    return probed.groupBy("width", "height").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.sum(F.when(F.col("ref_hash").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_known"),
        F.expr(
            "cast((1000000 * sum(CASE WHEN ref_hash IS NOT NULL THEN 1"
            " ELSE 0 END)) div count(*) AS BIGINT)"
        ).alias("known_ratio_micro"),
    )


def streaming_image_screen_sql() -> str:
    """DuckDB oracle for :func:`streaming_image_screen`: the reference
    index is the even-doc_id half's distinct aHashes (the registered
    query's 'yesterday's corpus' split), arrivals are the full corpus.
    ``ah`` is MATERIALIZED — referenced by both the index and the
    arrival sides."""
    return f"""
    WITH ah AS MATERIALIZED ({image_ahash_sql()}),
    ref AS (SELECT DISTINCT ahash FROM ah WHERE doc_id % 2 = 0),
    j AS (
      SELECT a.width, a.height,
             CASE WHEN r.ahash IS NOT NULL THEN 1 ELSE 0 END AS k
      FROM ah a LEFT JOIN ref r ON a.ahash = r.ahash
    )
    SELECT CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(k) AS BIGINT) AS n_known,
           CAST((1000000 * SUM(k)) // COUNT(*) AS BIGINT)
             AS known_ratio_micro
    FROM j GROUP BY width, height
    """


def image_grid_verify_sql() -> str:
    """DuckDB oracle for :func:`image_grid_verify`: star pairs from
    :func:`image_ahash_sql` restricted to differing dims, each side's
    8×8 grid grays replayed from its own (w, h, seed) triple."""
    return f"""
    WITH ah AS ({image_ahash_sql()}),
    {_PX_DIMS_CTE},
    canon AS (SELECT ahash, MIN(doc_id) AS doc_a FROM ah GROUP BY 1),
    pairs AS (
      SELECT c.doc_a, b.doc_id AS doc_b,
             da.w AS wa, da.h AS hpa, da.seed AS sa,
             db.w AS wb, db.h AS hpb, db.seed AS sb
      FROM ah b
      JOIN canon c ON b.ahash = c.ahash AND c.doc_a < b.doc_id
      JOIN dims da ON da.doc_id = c.doc_a
      JOIN dims db ON db.doc_id = b.doc_id
      WHERE (da.w, da.h) <> (db.w, db.h)
    ),
    {_grid_sad_cte("pairs")}
    SELECT doc_a, doc_b,
           CAST((1000000 * sad) // 64 AS BIGINT) AS grid_mad_micro
    FROM g
    """


# --------------------------------------------------------------------------
# Cross-modal retrieval (CLIP-style shared vector space)
# --------------------------------------------------------------------------

# Text queries and image/audio corpus vectors share ONE id space only by
# accident of the synthetic tables; the offset keeps the index's
# self-exclusion (`vec_id != query_id`) from dropping a legitimate
# cross-modal hit when a doc_id happens to equal a vec_id.
CROSS_MODAL_ID_OFFSET = 1_000_000
CROSS_MODAL_DIM = 64


def text_stub_embeddings(
    docs: DataFrame,
    dim: int = CROSS_MODAL_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic stand-in for a CLIP-style TEXT encoder into the
    corpus' shared ``dim``-d vector space — the featurizer is a stub
    (per-dimension md5-hashed token sums; a real deployment swaps in
    the learned text tower), but everything around it is the real
    operator shape: a second modality producing vectors in the SAME
    space as ``embeddings.embedding``, ready to probe the persisted
    IVFADC index cross-modally.

    Component ``d`` is ``Σ_tokens ((md5(token ':' d)[:6] as int) % 2001
    - 1000) / 1000`` — integer token contributions, so the ×10⁶
    quantization downstream is exact and the DuckDB oracle replays the
    encoder bit-for-bit.  All JVM (codegen md5/conv/aggregate); one
    projection, no shuffle.  Returns (``vec_id`` =
    ``id + CROSS_MODAL_ID_OFFSET``, ``embedding array<double>``).
    """
    from killrweather_spark.functions.text import tokens

    return docs.select(
        (F.col(id_col) + CROSS_MODAL_ID_OFFSET)
        .cast("bigint")
        .alias("vec_id"),
        tokens(F.col(text_col)).alias("__ts"),
    ).select(
        "vec_id",
        F.expr(
            f"transform(sequence(1, {dim}), d -> "
            "aggregate(__ts, cast(0 as bigint), (s, t) -> "
            "s + (cast(conv(substr(md5(concat(t, ':', d)), 1, 6), 16, 10)"
            " as bigint) % 2001) - 1000"
            ") / cast(1000 as double))"
        ).alias("embedding"),
    )


def cross_modal_topk_sql(
    comp_nrm_sql: str,
    query_pred: str = "doc_id < 8",
    k: int = 3,
    n_probe: int = 2,
    dim: int = CROSS_MODAL_DIM,
    n_centroids: int = 8,
    ivf_iters: int = 2,
) -> str:
    """DuckDB oracle for the cross-modal probe: the stub text encoder
    replayed per (doc, dim), quantized into the shared component space,
    IVF training replayed relationally, text queries ranked against the
    trained centroids, probed cells' members exact-rescored."""
    from killrweather_spark.functions.ann_index import ivf_trained_parts_sql

    parts = ivf_trained_parts_sql(
        n_centroids, ivf_iters, n_probe=0, query_pred="FALSE",
        probe_tail=False,
    )
    parts += [
        f"xtoks AS (SELECT doc_id,"
        " unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t\n"
        f"      FROM documents WHERE {query_pred})",
        f"xqcomp AS MATERIALIZED (\n"
        f"      SELECT doc_id + {CROSS_MODAL_ID_OFFSET} AS query_id,"
        " g.d AS pos,\n"
        "             CAST(ROUND(CAST(SUM(\n"
        "               (CAST(('0x' || substr(md5(t || ':' || g.d), 1, 6))"
        " AS BIGINT) % 2001) - 1000\n"
        "             ) AS DOUBLE) / 1000.0 * 1000000) AS BIGINT) AS q\n"
        f"      FROM xtoks, unnest(generate_series(1, {dim})) AS g(d)\n"
        "      GROUP BY 1, 2)",
        "xqn AS (SELECT query_id, SUM(q * q) AS qnorm2 FROM xqcomp\n"
        "      GROUP BY 1 HAVING SUM(q * q) > 0)",
        f"xqd AS (SELECT c.query_id, ct.cell,\n"
        "             CAST(SUM((c.q - ct.c) * (c.q - ct.c)) AS BIGINT)"
        " AS d2\n"
        f"      FROM xqcomp c JOIN cent{ivf_iters} ct USING (pos)"
        " GROUP BY 1, 2)",
        f"xprobes AS (SELECT query_id, cell FROM xqd\n"
        "      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id"
        f" ORDER BY d2, cell) <= {n_probe})",
        f"xcand AS (SELECT p.query_id, l.vec_id\n"
        f"      FROM xprobes p JOIN l{ivf_iters} l ON l.cell = p.cell)",
        "xdots AS (SELECT c.query_id, c.vec_id AS neighbor_id,\n"
        "             SUM(a.q * b.q) AS dot\n"
        "      FROM xcand c\n"
        "      JOIN xqcomp a ON a.query_id = c.query_id\n"
        "      JOIN comp b ON b.vec_id = c.vec_id AND b.pos = a.pos\n"
        "      GROUP BY 1, 2)",
    ]
    return (
        "WITH "
        + comp_nrm_sql
        + ",\n    "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(d.query_id - {CROSS_MODAL_ID_OFFSET} AS BIGINT) AS doc_id,
           d.neighbor_id AS vec_id,
           d.dot / (SQRT(q.qnorm2) * SQRT(n.norm2)) AS cosine
    FROM xdots d
    JOIN xqn q ON q.query_id = d.query_id
    JOIN nrm n ON n.vec_id = d.neighbor_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY d.query_id
                               ORDER BY cosine DESC, d.neighbor_id) <= {k}
    """
    )
