"""Multimodal (image/audio/video) column plumbing for training pipelines.

The reference has no media surface; this is the extension tier from the
build brief: media travel as opaque ``binary`` payload columns with
typed metadata, and per-item decode / feature-extraction runs as
Arrow-batched Pandas functions over ``mapInPandas`` — the only sane
shape at 100 TB (no driver materialization, vectorized Python batches,
schema declared up front so Catalyst can prune around the UDF).

Codec status: ``decode_image`` is a REAL decoder for FIVE formats
with no codec libraries — binary P6 PPM and uncompressed 24-bit BMP
(pure header+raster, numpy), 8-bit gray/RGB/RGBA non-interlaced PNG
(stdlib ``zlib`` inflate + per-row reverse of the five scanline
filters), non-interlaced GIF87a/89a (round-11: pure-integer LZW with
variable 3–12-bit code width, clear-code resets, global/local color
tables, extension skip — validated against real third-party GIFs),
and baseline sequential JPEG (``operators/jpeg.py``: full
Huffman entropy decode, dequantize, independent-formulation IDCT,
YCbCr→RGB, restart markers; 4:4:4 and grayscale — progressive and
subsampled chroma are rejected, they would need trusted vectors this
environment cannot produce) — with per-channel stats and
nearest-neighbor thumbnailing. q114/q137/q242 verify the lossless
decoders against a closed-form SQL oracle; q138 pins the lossy JPEG
path with within-tolerance booleans the oracle sets TRUE. MP4 and MP3 get REAL
container-level metadata without codecs (round-10): ``parse_mp4_meta``
walks ISO-BMFF boxes (ftyp/moov/mvhd/trak/tkhd/mdia/hdlr → brand,
duration, track counts, video resolution) and ``parse_mp3_meta`` walks
MPEG-1 Layer III frame headers (bitrate/samplerate/frame count/
duration, ID3v2+ID3v1 aware), verified end-to-end by q236/q237's
closed-form oracles over synthesized containers. Audio SAMPLE decode
is REAL for two formats: 16-bit PCM WAV (``decode_audio``, q115) and —
round 12 — FLAC (``operators/flac.py``: full RFC 9639 fixed-blocksize
decode with rice/rice2/escape residuals, FIXED+LPC predictors, stereo
decorrelation, wasted bits, CRC-8/16 and STREAMINFO-MD5 verification;
lossless, so q255 is hash-exact). MP3/MP4 SAMPLE decode remains
stubbed behind ``decode_media`` / ``extract_features`` — and for MP3
Layer III that is a REASONED negative, not a backlog item: its decode
path requires the ISO 11172-3 Huffman code tables and the
512-coefficient synthesis window, pure spec DATA that no formula
derives and this container does not carry (no codec library, no
reference MP3 to validate against); re-typing those tables from memory
would yield a decoder that only round-trips with its own encoder while
claiming spec compliance — fabricated evidence. Any environment that
provides the ISO tables (or one reference stream to validate against)
unlocks it as a local change inside the same batch loop; the remaining
closed-form math (requantization, IMDCT, alias reduction, matrixing)
is the easy part. The Spark-side plumbing — binary schema, Arrow batch
iteration, output schema, partition preservation — is real and tested
throughout.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "media_id BIGINT, kind STRING, n_bytes BIGINT, "
    "mean_byte DOUBLE, digest STRING"
)
FEATURE_DIM = 16
FEATURE_SCHEMA = "media_id BIGINT, feature ARRAY<FLOAT>"


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: the ``documents`` fixture as a media table.

    (media_id, kind, payload BINARY) — UTF-8 text bytes stand in for an
    encoded image/audio blob, giving the binary pipeline a deterministic,
    oracle-checkable input without shipping media fixtures.
    """
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/utf-8").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stub over ``mapInPandas``: per-payload size/stat/digest.

    A real decoder (PIL image open, audio resample, …) replaces the body
    of ``stats`` only; batch iteration, schema, and distribution are the
    production shape. Arrow moves each partition to Python in vectorized
    record batches — never row-at-a-time.
    """

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "mean_byte": payloads.map(
                        lambda b: sum(b) / len(b) if len(b) else 0.0
                    ),
                    "digest": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return media.mapInPandas(stats, schema=DECODE_SCHEMA)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature-extraction stub: deterministic pseudo-embedding per payload.

    Stands in for a vision/audio encoder: md5-seeded, so identical bytes
    yield identical vectors on any executor (required for dedup joins
    downstream). Output is the engine's standard ``array<float>`` column,
    directly consumable by ``similarity.ann_*`` and
    ``dedup.embedding_neardup_pairs``.
    """

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for b in pdf["payload"]:
                h = hashlib.md5(bytes(b)).digest()
                vecs.append([(h[i % 16] - 127.5) / 127.5 for i in range(dim)])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": vecs}
            )

    return media.mapInPandas(features, schema=FEATURE_SCHEMA)


IMAGE_DECODE_SCHEMA = (
    "media_id BIGINT, format STRING, width INT, height INT, "
    "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE, thumb ARRAY<DOUBLE>"
)

IMAGE_EMBED_SCHEMA = "media_id BIGINT, embedding ARRAY<FLOAT>"


def image_embedding(media: DataFrame, grid: int = 4) -> DataFrame:
    """REAL image embeddings from decoded pixels: each payload decodes
    (PPM/BMP/PNG/JPEG — same dispatch as ``decode_image``), converts
    to grayscale, block-averages onto a ``grid``×``grid`` raster, and
    L2-normalizes the flattened vector — the classic tiny-thumbnail
    perceptual descriptor. Output is the engine's standard
    ``array<float>`` embedding column, directly consumable by
    ``similarity.ann_*`` and ``dedup.embedding_neardup_pairs``, so the
    decode → featurize → ANN/near-dup pipeline runs on actual pixels
    end-to-end (no external vision model). Undecodable payloads are
    dropped (poison must not kill a corpus job); block edges use the
    same integer split as ``decode_image``'s thumbnail so a PPM/PNG
    pair with identical pixels embeds identically.
    """

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import numpy as np

        from pagerank_spark.operators.jpeg import decode_jpeg

        def decode(b: bytes):
            if b[:2] == b"P6":
                return _decode_ppm(b)
            if b[:2] == b"BM":
                return _decode_bmp(b)
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                return _decode_png(b)
            if b[:4] == b"GIF8":
                return _decode_gif(b)
            if b[:4] in (b"II*\x00", b"MM\x00*"):
                return _decode_tiff(b)
            if b[:2] == b"\xff\xd8":
                return decode_jpeg(b)
            raise ValueError("unknown magic")

        for pdf in batches:
            ids, vecs = [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    arr = decode(bytes(b))
                except (ValueError, _zlib.error, _struct.error, IndexError):
                    continue
                gray = arr.mean(axis=2, dtype=np.float64)
                h, w = gray.shape
                ye = (np.arange(grid + 1) * h) // grid
                xe = (np.arange(grid + 1) * w) // grid
                cells = np.empty(grid * grid)
                for gy in range(grid):
                    for gx in range(grid):
                        cells[gy * grid + gx] = gray[
                            ye[gy] : ye[gy + 1], xe[gx] : xe[gx + 1]
                        ].mean()
                norm = float(np.sqrt((cells * cells).sum()))
                if norm > 0:
                    cells = cells / norm
                ids.append(mid)
                vecs.append([float(v) for v in cells])
            if ids:  # an empty frame's float64 columns break the
                # Arrow cast to list<float>; yielding nothing is fine
                yield pd.DataFrame({"media_id": ids, "embedding": vecs})

    return media.mapInPandas(embed, schema=IMAGE_EMBED_SCHEMA)


def _decode_ppm(buf: bytes):
    """Real P6 (binary PPM) decoder in numpy: header parse + raster
    reshape. Returns an (H, W, 3) uint8 array."""
    import re

    import numpy as np

    m = re.match(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]", buf)
    if not m:
        raise ValueError("not a binary P6 PPM")
    w, h, maxval = (int(m.group(i)) for i in (1, 2, 3))
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    raster = buf[m.end() : m.end() + w * h * 3]
    if len(raster) < w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def _decode_bmp(buf: bytes):
    """Real uncompressed 24-bit BMP decoder in numpy: BITMAPINFOHEADER
    parse, 4-byte row padding, bottom-up BGR → top-down RGB."""
    import numpy as np

    if buf[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(buf[10:14], "little")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    comp = int.from_bytes(buf[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24bpp BMP supported")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    data = np.frombuffer(buf[off : off + stride * h], dtype=np.uint8)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


# Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec §8.2).
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw, h, stride, bpp):
    """Reverse the five PNG scanline filters over ``h`` rows of
    ``stride`` bytes each (``raw`` = h*(stride+1) filter-prefixed
    bytes); ``bpp`` is the filter's left-pixel distance in BYTES
    (bytes per complete pixel, rounded up to one — so 1 for all
    sub-byte depths, ch·2 for 16-bit). Shared by the sequential and
    per-Adam7-pass paths — a pass restarts with a zero previous row
    exactly like an image."""
    import numpy as np

    raw = raw[: h * (stride + 1)].reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, cur = int(filters[y]), rows[y].copy()
        if f == 0:  # None
            line = cur
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth need left pixel
            line = cur
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                if f == 1:
                    line[x] = (line[x] + a) & 0xFF
                elif f == 3:
                    line[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = line
        prev = out[y]
    return out.astype(np.uint8)


# Valid (color type -> bit depths) per the PNG spec, table 11.1.
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _png_samples(rows, w, ch, depth):
    """Expand ``(h, row_bytes)`` unfiltered scanline bytes into
    ``(h, w, ch)`` uint8 samples: 16-bit takes the high byte (the
    standard 16→8 reduction), sub-byte depths (single-channel only by
    spec) unpack MSB-first bit groups; values are RAW (gray scaling /
    palette lookup happen at the caller)."""
    import numpy as np

    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, : w * ch * 2][:, 0::2].reshape(h, w, ch)
    bits = np.unpackbits(rows, axis=1)[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth))[::-1]
    vals = (bits * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(h, w, 1)


def _decode_png(buf: bytes):
    """Real PNG decoder — ALL five color types (grayscale 0,
    RGB 2, palette 3, gray+alpha 4, RGBA 6) at EVERY spec-legal bit
    depth (1/2/4/8/16 where the type permits, round 11), sequential
    OR Adam7 interlaced — using only stdlib ``zlib`` and numpy: chunk
    walk, IDAT inflate, per-row reverse of the five scanline filters
    (byte-distance ``bpp`` per spec, per interlace pass with its own
    filter context), MSB-first sub-byte unpacking, 16-bit high-byte
    reduction, PLTE mapping, sub-byte gray scaled by 255/(2^d−1).
    Alpha is dropped and grayscale replicated so the output is always
    an (H, W, 3) uint8 array like the PPM/BMP decoders; malformed
    streams raise ValueError and surface as format="error" rows."""
    import numpy as np
    import struct
    import zlib

    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, w = 8, None
    idat = bytearray()
    plte = None
    while i + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[i : i + 4])
        ctype = buf[i + 4 : i + 8]
        data = buf[i + 8 : i + 8 + length]
        i += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if color not in _PNG_DEPTHS:
                raise ValueError(f"unknown PNG color type {color}")
            if depth not in _PNG_DEPTHS[color]:
                raise ValueError(
                    f"invalid depth {depth} for PNG color type {color}"
                )
            if interlace not in (0, 1):
                raise ValueError("unknown PNG interlace method")
            ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        elif ctype == b"PLTE":
            if len(data) % 3 or len(data) > 768:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    bpp = max(1, (ch * depth) // 8)  # filter distance, bytes

    def row_bytes(width: int) -> int:
        return (width * ch * depth + 7) // 8

    if interlace == 0:
        stride = row_bytes(w)
        if len(raw) < h * (stride + 1):
            raise ValueError("truncated PNG raster")
        px = _png_samples(_png_unfilter(raw, h, stride, bpp), w, ch, depth)
    else:
        # Adam7: seven independently-filtered sub-images scattered
        # onto the final grid by the pass geometry (each pass packs
        # its own sub-byte scanlines)
        px = np.zeros((h, w, ch), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = row_bytes(pw)
            need = ph * (stride + 1)
            if len(raw) - pos < need:
                raise ValueError("truncated PNG interlace pass")
            sub = _png_samples(
                _png_unfilter(raw[pos : pos + need], ph, stride, bpp),
                pw, ch, depth,
            )
            pos += need
            px[y0::dy, x0::dx, :] = sub
    if color == 3:
        idx = px.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]
    if color in (0, 4):
        g = px[:, :, 0]
        if depth < 8:
            # 255/(2^d - 1) is exactly 255, 85, 17 for d = 1, 2, 4
            g = (g.astype(np.int64) * (255 // ((1 << depth) - 1))).astype(
                np.uint8
            )
        return np.repeat(g[:, :, None], 3, axis=2)
    return px[:, :, :3]  # RGBA -> RGB


def encode_png(
    arr,
    compress_level: int = 6,
    interlace: bool = False,
    palette=None,
) -> bytes:
    """Minimal PNG encoder (filter-0 rows + one zlib stream) — the
    synthesis side for round-tripping the decoder on closed-form
    pixels; stdlib-only like the decoder. ``interlace=True`` writes
    the Adam7 pass sequence (each pass its own filter context);
    ``palette`` (a (≤256, 3) array) switches to color type 3 with
    ``arr`` holding (H, W) palette indices."""
    import numpy as np
    import struct
    import zlib

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    if palette is not None:
        color = 3
        planes = arr.reshape(h, w, 1)
    else:
        color = 2
        planes = arr

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0
    )
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = planes[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(
                b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])
            )
        raster = b"".join(parts)
    else:
        raster = b"".join(
            b"\x00" + planes[y].tobytes() for y in range(h)
        )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        pal = np.ascontiguousarray(palette, dtype=np.uint8)
        out += chunk(b"PLTE", pal.tobytes())
    return (
        out
        + chunk(b"IDAT", zlib.compress(raster, compress_level))
        + chunk(b"IEND", b"")
    )


def decode_image(media: DataFrame, thumb_size: int = 2) -> DataFrame:
    """REAL image decode over ``mapInPandas`` (no codec libraries
    needed: P6 PPM and uncompressed 24-bit BMP are pure header+raster
    formats, decoded with numpy). Per image: dimensions, per-channel
    means, and a ``thumb_size``×``thumb_size`` nearest-neighbor
    grayscale thumbnail (row-major array<double>) — the
    decode → stat → downsample shape of a vision-pipeline ingest step.

    Values round to 6dp so a closed-form oracle over synthetic images
    can value-match the decoder bit-for-bit (q114). Unsupported or
    corrupt payloads surface as format="error" rows with NULL stats
    rather than failing the batch — at corpus scale a poison payload
    must never kill the job.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import struct as _struct
        import zlib as _zlib

        import numpy as np

        def r6(x: float) -> float:
            # Half-UP at 6dp for non-negative values — Python's round()
            # is half-EVEN, but Spark's ROUND and DuckDB's round are
            # half-up/away, and exact .5 ties are reachable here (pixel
            # means are rationals with power-of-two denominators).
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "width": [], "height": [],
                "mean_r": [], "mean_g": [], "mean_b": [], "thumb": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(b)
                try:
                    if b[:2] == b"P6":
                        arr, fmt = _decode_ppm(b), "ppm"
                    elif b[:2] == b"BM":
                        arr, fmt = _decode_bmp(b), "bmp"
                    elif b[:8] == b"\x89PNG\r\n\x1a\n":
                        arr, fmt = _decode_png(b), "png"
                    elif b[:4] == b"GIF8":
                        arr, fmt = _decode_gif(b), "gif"
                    elif b[:4] in (b"II*\x00", b"MM\x00*"):
                        arr, fmt = _decode_tiff(b), "tiff"
                    elif b[:2] == b"\xff\xd8":
                        from pagerank_spark.operators.jpeg import decode_jpeg

                        arr, fmt = decode_jpeg(b), "jpeg"
                    else:
                        raise ValueError("unknown magic")
                except (ValueError, _zlib.error, _struct.error, IndexError):
                    # poison payload -> error row, never a dead job
                    # (IndexError: truncated JPEG entropy data)
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    for k in ("width", "height", "mean_r", "mean_g",
                              "mean_b", "thumb"):
                        out[k].append(None)
                    continue
                h, w = arr.shape[:2]
                means = arr.reshape(-1, 3).mean(axis=0)
                ys = (np.arange(thumb_size) * h) // thumb_size
                xs = (np.arange(thumb_size) * w) // thumb_size
                th = arr[np.ix_(ys, xs)].mean(axis=2, dtype=np.float64)
                out["media_id"].append(mid)
                out["format"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_r"].append(r6(float(means[0])))
                out["mean_g"].append(r6(float(means[1])))
                out["mean_b"].append(r6(float(means[2])))
                out["thumb"].append(
                    [r6(float(v)) for v in th.ravel()]
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(decode, schema=IMAGE_DECODE_SCHEMA)


def _ids_spread(
    ids: DataFrame, id_col: str, spread: bool = True
) -> DataFrame:
    """Cast the id column long and SPREAD the relation across the
    cluster's cores before an expensive per-row codec ``mapInPandas``
    (r14 optimization, guide §2.6/§8.3): the fixture id relations
    arrive as ONE parquet-scan partition (one small file after a
    selective filter), so every downstream encode+decode ran serially
    on a single core — q251's whole cost was two single-task jobs of
    2.9 s and 4.5 s while 31 cores idled. A round-robin repartition of
    the few-bytes-per-row id relation is the cheapest possible
    exchange and applies only when the input's size ESTIMATE is small
    (a wide corpus-scale input keeps its own layout — never collapse a
    big scan to the core count).

    ``spread`` is set PER OPERATOR from interleaved same-session
    A/Bs (min-of-2 per query per pass, fresh caches): ON where the
    per-row codec work dwarfs the exchange + task fan-out — JPEG
    0.29×/0.48× (q251/q138), GIF 0.43×, FLAC 0.43×, TIFF 0.65× —
    and OFF where the payload builder or decoder is a cheap byte
    walk and the fan-out only adds fixed cost: PNG 1.62×/1.26×,
    WAV 2.25×, MP4 1.80×, MP3 1.51×, PPM (q114 1.7×, q235 1.13× in
    the deciding 4-pass A/B — the first 0.74× reading was window
    noise), and the planted-near-dup variant fixtures (q221 1.16×,
    q264 1.70×)."""
    out = ids.select(F.col(id_col).cast("long").alias(id_col))
    return _spread_df(out) if spread else out


# Spread inputs whose Catalyst size estimate is below this bound. The
# id relations are ~16 bytes/row, so the cut admits millions of ids —
# relations whose codec cost dwarfs the tiny exchange — while a
# corpus-scale input (estimate above the cut) keeps its own scan
# layout. Deliberately NOT based on df.rdd.getNumPartitions(): under
# AQE that materializes the plan's shuffle stages eagerly, silently
# double-executing the input pipeline (measured: q264 1.6 -> 3.1 s).
# Post-filter size estimates are selectivity guesses (r14 ADVICE), so
# a mis-estimated bigger relation can slip under the cut — the
# exposure is bounded: the spread is a round-robin repartition to
# defaultParallelism, i.e. the cluster's own task width, never fewer
# partitions than the scheduler would want anyway.
_SPREAD_SIZE_LIMIT = 64 << 20
# Fallback gate when plan-stats introspection is unavailable (Spark
# Connect / API drift): the same cut expressed in rows at the id
# relations' ~16 bytes/row. The count is a column-pruned scan of the
# single id column — cheap, and only ever paid on the fallback path.
_SPREAD_ROW_LIMIT = _SPREAD_SIZE_LIMIT // 16


def _spread_df(df: DataFrame) -> DataFrame:
    """The spread itself, for synth inputs that carry extra columns."""
    from pagerank_spark.graph.loop import plan_size_bytes

    est = plan_size_bytes(df)
    if est is not None:
        small = est <= _SPREAD_SIZE_LIMIT
    else:  # connect-mode fallback
        # r15 (r14 verdict #9): don't silently drop the optimization —
        # gate on an actual row count instead, and say so once.
        import sys

        print(
            "pagerank_spark: plan-stats introspection unavailable; "
            "_spread_df falling back to a row-count gate",
            file=sys.stderr,
        )
        try:
            small = df.count() <= _SPREAD_ROW_LIMIT
        except Exception:
            return df
    if small:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def synthesize_ppm_media(
    ids: DataFrame, id_col: str = "media_id",
    width: int = 64, height: int = 48,
) -> DataFrame:
    """Deterministic synthetic P6 image per id: pixel (x, y) channel c
    is ``(7·id + 3·x + 5·y + 11·c) mod 256`` — a formula a SQL oracle
    can integrate in closed form, so the REAL decoder's output is
    verifiable against an independent computation (q114). Payload built
    vectorized in numpy per Arrow batch."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3),
            indexing="ij",
        )
        base = 3 * x + 5 * y + 11 * c
        header_tail = f" {width} {height} 255\n".encode()
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                arr = ((7 * int(mid) + base) % 256).astype("uint8")
                payloads.append(b"P6" + header_tail + arr.tobytes())
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col, spread=False).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def synthesize_jpeg_media(
    ids: DataFrame, id_col: str = "media_id",
    width: int = 64, height: int = 48, quality: int = 95,
    progressive: bool = False,
) -> DataFrame:
    """Deterministic synthetic RGB JPEG per id — a SMOOTH per-channel
    gradient (``(7·id + 3·x + 5·y + 11·c) mod 256`` is full of modular
    wrap cliffs that JPEG rings on, so the JPEG fixture uses
    ``(7·id + x + y + 40·c) mod 256`` scaled into a wrap-free ramp:
    closed-form integrable AND compression-friendly). Decoded stats
    land within a small tolerance of the closed form — what q138's
    boolean oracle pins."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from pagerank_spark.operators.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        enc = encode_jpeg_progressive if progressive else encode_jpeg
        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3),
            indexing="ij",
        )
        # wrap-free ramp: values stay inside [0, 255] per image
        base = x + y + 40 * c
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                offset = (7 * int(mid)) % 100
                arr = np.clip(offset + base, 0, 255).astype("uint8")
                payloads.append(enc(arr, quality=quality))
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def synthesize_png_media(
    ids: DataFrame, id_col: str = "media_id",
    width: int = 64, height: int = 48,
    interlace: bool = False, paletted: bool = False,
) -> DataFrame:
    """Deterministic synthetic PNG per id. RGB form: the SAME pixel
    formula as ``synthesize_ppm_media`` (``(7·id + 3·x + 5·y + 11·c)
    mod 256``), so the identical closed-form oracle verifies the PNG
    decode path end-to-end through a real zlib stream (q137).
    ``paletted=True`` switches to color type 3 with the q242 GIF
    formula (index ``(7·id + 3x + 5y) mod 256``, palette
    ``v → (v, (2v+11) mod 256, (3v+22) mod 256)``) and
    ``interlace=True`` writes the Adam7 pass sequence — together the
    q252 fixture proving palette mapping + interlace reassembly under
    the same byte-free oracle."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3),
            indexing="ij",
        )
        base = 3 * x + 5 * y + 11 * c
        y2, x2 = np.meshgrid(
            np.arange(height), np.arange(width), indexing="ij"
        )
        base2 = 3 * x2 + 5 * y2
        i = np.arange(256)
        pal = np.stack(
            [i, (2 * i + 11) % 256, (3 * i + 22) % 256], axis=1
        ).astype(np.uint8)
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                if paletted:
                    idx = ((7 * int(mid) + base2) % 256).astype("uint8")
                    payloads.append(
                        encode_png(idx, interlace=interlace, palette=pal)
                    )
                else:
                    arr = ((7 * int(mid) + base) % 256).astype("uint8")
                    payloads.append(encode_png(arr, interlace=interlace))
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col, spread=False).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def _lzw_decode_gif(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF-variant LZW decompression, stdlib-only — the same
    feasibility class as the PNG zlib path: pure integer table work.
    Variable code width 3..12 bits with the GIF "late change"
    convention (grow when the next free slot no longer fits the
    current width — validated against real third-party GIFs in
    test_multimodal.py), clear-code table reset, and the KwKwK
    (code == next-slot) self-reference case. Stops once ``expected``
    pixels are out (a missing EOI is tolerated, like real decoders);
    ends early → ValueError so a truncated payload surfaces as an
    error row, never a short raster."""
    if not (2 <= min_code_size <= 11):
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    base = [bytes([i]) for i in range(clear)] + [None, None]  # clear/eoi
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = pos = 0
    prev = None
    while len(out) < expected:
        if len(table) > (1 << width) - 1 and width < 12:
            width += 1
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == clear + 1:  # end-of-information
            break
        if prev is None:
            if code >= clear:
                raise ValueError("first LZW code not a literal")
            entry = table[code]
        elif code < len(table):
            if table[code] is None:
                raise ValueError("LZW code references clear/eoi slot")
            entry = table[code]
        elif code == len(table):  # KwKwK: the just-registered string
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(table[prev] + entry[:1])
        prev = code
    if len(out) < expected:
        raise ValueError("LZW stream ended before raster complete")
    return bytes(out[:expected])


def _lzw_encode_gif(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW compression (the synthesis side for
    round-tripping the decoder): LSB-first bit packing, width growth
    mirroring the decoder's late-change schedule (next emittable code
    is ``next_code - 1``; grow once that needs width+1 bits), and a
    clear-code reset when the table fills at 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    emit(clear)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code <= 4095:
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([k])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _decode_gif(buf: bytes):
    """Real GIF87a/GIF89a decoder, stdlib-only: logical screen
    descriptor, global/local color table, extension-block skip, LZW
    decompression, palette mapping → (H, W, 3) uint8. The first image
    in the stream is returned (animation frames beyond it are a
    compositing model, not a decode problem). Interlaced images,
    missing color tables, out-of-palette indices, and truncations all
    reject with ValueError and surface as format="error" rows.
    Validated against real third-party GIFs (Python stdlib icons) in
    test_multimodal.py — a wrong LZW width schedule desyncs the
    bitstream within a few dozen codes, so clean decodes of foreign
    files pin the convention."""
    import struct

    import numpy as np

    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", buf[6:10])
    packed = buf[10]
    pos = 13  # LSD: 4 dims + packed + bg index + aspect
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(buf):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(buf):
        b0 = buf[pos]
        pos += 1
        if b0 == 0x21:  # extension: label byte + data sub-blocks
            pos += 1
            while True:
                if pos >= len(buf):
                    raise ValueError("truncated extension")
                sz = buf[pos]
                pos += 1
                if sz == 0:
                    break
                pos += sz
        elif b0 == 0x2C:  # image descriptor
            if pos + 9 > len(buf):
                raise ValueError("truncated image descriptor")
            _left, _top, iw, ih = struct.unpack("<HHHH", buf[pos : pos + 8])
            ipacked = buf[pos + 8]
            pos += 9
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            pal = gct
            if ipacked & 0x80:  # local color table wins
                n = 2 << (ipacked & 7)
                if pos + 3 * n > len(buf):
                    raise ValueError("truncated local color table")
                pal = np.frombuffer(
                    buf[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image without a color table")
            mcs = buf[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(buf):
                    raise ValueError("truncated image data")
                sz = buf[pos]
                pos += 1
                if sz == 0:
                    break
                data += buf[pos : pos + sz]
                pos += sz
            idx = np.frombuffer(
                _lzw_decode_gif(bytes(data), mcs, iw * ih), dtype=np.uint8
            )
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("palette index out of range")
            return pal[idx].reshape(ih, iw, 3)
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("GIF contains no image data")


def encode_gif(idx, palette) -> bytes:
    """Minimal single-frame GIF89a encoder (synthesis side): ``idx``
    is an (H, W) uint8 palette-index raster, ``palette`` an (N, 3)
    uint8 color table (padded to a power of two). Includes a
    graphics-control extension so the decoder's block-skip path is
    exercised on every synthetic payload."""
    import struct

    import numpy as np

    idx = np.ascontiguousarray(idx, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    h, w = idx.shape
    npal = palette.shape[0]
    bits = max(1, (npal - 1).bit_length())
    full = np.zeros((1 << bits, 3), dtype=np.uint8)
    full[:npal] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += full.tobytes()
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    mcs = max(2, bits)
    out += bytes([mcs])
    lz = _lzw_encode_gif(idx.tobytes(), mcs)
    for i in range(0, len(lz), 255):
        out += bytes([len(lz[i : i + 255])]) + lz[i : i + 255]
    out += b"\x00\x3b"
    return bytes(out)


def synthesize_gif_media(
    ids: DataFrame, id_col: str = "media_id",
    width: int = 64, height: int = 48,
) -> DataFrame:
    """Deterministic synthetic GIF per id, oracle-integrable in closed
    form like the PPM/PNG fixtures — but GIF is paletted, so the
    formula splits: pixel (x, y) takes palette INDEX
    ``v = (7·id + 3·x + 5·y) mod 256`` and the 256-entry palette maps
    ``v → (v, (2v+11) mod 256, (3v+22) mod 256)``. The decoded RGB is
    therefore a closed form a SQL oracle can integrate per channel,
    and the 3072-pixel 256-color raster grows the LZW table past 512
    and 1024 entries, so every q242 payload exercises 9→10→11-bit
    code-width growth."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x = np.meshgrid(
            np.arange(height), np.arange(width), indexing="ij"
        )
        base = 3 * x + 5 * y
        i = np.arange(256)
        pal = np.stack(
            [i, (2 * i + 11) % 256, (3 * i + 22) % 256], axis=1
        ).astype(np.uint8)
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                v = ((7 * int(mid) + base) % 256).astype(np.uint8)
                payloads.append(encode_gif(v, pal))
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773), stdlib-only:
    n < 128 → copy n+1 literal bytes; n > 128 → repeat the next byte
    257-n times; n == 128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            chunk = data[i : i + n + 1]
            if len(chunk) < n + 1:
                raise ValueError("truncated PackBits literal")
            out += chunk
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    if len(out) < expected:
        raise ValueError("truncated PackBits strip")
    return bytes(out[:expected])


def _packbits_encode(data: bytes) -> bytes:
    """Minimal PackBits encoder (runs ≥3 as RLE, else literals) — the
    synthesis side for round-tripping the decoder."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal stretch: until a run of >=3 starts (or 128 bytes)
        j = i
        while j < n and j - i < 128:
            if (
                j + 2 < n
                and data[j] == data[j + 1] == data[j + 2]
            ):
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _lzw_decode_tiff(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (compression 5), stdlib-only: fixed 8-bit
    symbols with ClearCode 256 / EOI 257, MSB-first bit packing, and
    the spec's EARLY code-width change (grow at table size 2^w − 1,
    one entry before GIF's late-change convention). Pure integer table
    work, same feasibility class as the GIF LZW path."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    nbits = len(data) * 8
    bitpos = 0
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal bitpos
        byte = bitpos >> 3
        shift = bitpos & 7
        span = (shift + width + 7) // 8
        val = int.from_bytes(data[byte : byte + span], "big")
        val = (val >> (span * 8 - shift - width)) & ((1 << width) - 1)
        bitpos += width
        return val

    while len(out) < expected:
        if bitpos + width > nbits:
            raise ValueError("truncated TIFF LZW strip")
        code = read_code()
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if not table:
            raise ValueError("TIFF LZW data before ClearCode")
        if prev is None:
            if code >= 256:
                raise ValueError("bad first TIFF LZW code")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK self-reference
            else:
                raise ValueError("TIFF LZW code beyond table")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # EARLY change, decoder side: the decoder's table lags the
        # encoder's by ONE entry (the first code after a Clear adds
        # nothing), so it widens at 2^w − 2 — libtiff's
        # MAXCODE(bits)-1 convention — where the encoder widens at
        # 2^w − 1. Both are one slot earlier than GIF's late change.
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError("truncated TIFF LZW strip")
    return bytes(out[:expected])


def _lzw_encode_tiff(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (MSB-first, early change) — synthesis
    side; emits a ClearCode first and at every table reset like real
    writers."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    accbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, accbits
        acc = (acc << width) | code
        accbits += width
        while accbits >= 8:
            accbits -= 8
            out.append((acc >> accbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # early change: widen when the next code to EMIT could be
        # 2^w - 1 (the entry just added)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == (1 << 12) - 1:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(EOI)
    if accbits:
        out.append((acc << (8 - accbits)) & 0xFF)
    return bytes(out)


# TIFF tag ids used by the baseline decoder
_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "samples",
    278: "rows_per_strip", 279: "strip_counts", 284: "planar",
    317: "predictor", 322: "tile_width", 323: "tile_length",
}
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def _decode_tiff(buf: bytes):
    """Real baseline TIFF decoder, stdlib+numpy only: both byte orders
    (II/MM), full IFD walk with inline-vs-offset value resolution,
    strip assembly, compressions 1 (none), 5 (TIFF LZW, early change,
    MSB packing) and 32773 (PackBits), horizontal-differencing
    predictor 2, 8-bit grayscale/RGB/RGBA chunky pixels. Tiled files,
    palette color, planar storage, other depths/compressions reject
    with ValueError and surface as format="error" rows. Returns an
    (H, W, 3) uint8 array like the other image decoders."""
    import numpy as np

    if buf[:4] == b"II*\x00":
        en = "little"
    elif buf[:4] == b"MM\x00*":
        en = "big"
    else:
        raise ValueError("not a TIFF")

    def u(off: int, size: int) -> int:
        b = buf[off : off + size]
        if len(b) < size:
            raise ValueError("truncated TIFF header")
        return int.from_bytes(b, en)

    ifd = u(4, 4)
    n_entries = u(ifd, 2)
    tags: dict[str, list[int]] = {}
    for k in range(n_entries):
        e = ifd + 2 + 12 * k
        tag, typ, count = u(e, 2), u(e + 2, 2), u(e + 4, 4)
        name = _TIFF_TAGS.get(tag)
        if name is None:
            continue
        size = _TIFF_TYPE_SIZE.get(typ)
        if size is None:
            raise ValueError(f"unsupported TIFF type {typ} for tag {tag}")
        total = size * count
        base = e + 8 if total <= 4 else u(e + 8, 4)
        tags[name] = [u(base + i * size, size) for i in range(count)]

    if "tile_width" in tags or "tile_length" in tags:
        raise ValueError("tiled TIFF not supported")
    for req in ("width", "height", "strip_offsets", "strip_counts"):
        if req not in tags:
            raise ValueError(f"missing TIFF tag {req}")
    w, h = tags["width"][0], tags["height"][0]
    samples = tags.get("samples", [1])[0]
    bits = tags.get("bits", [8] * samples)
    comp = tags.get("compression", [1])[0]
    photo = tags.get("photometric", [1])[0]
    planar = tags.get("planar", [1])[0]
    predictor = tags.get("predictor", [1])[0]
    if any(b != 8 for b in bits):
        raise ValueError("only 8-bit TIFF supported")
    if photo == 3:
        raise ValueError("palette TIFF not supported")
    if planar != 1:
        raise ValueError("planar TIFF not supported")
    if samples not in (1, 3, 4):
        raise ValueError(f"unsupported samples per pixel {samples}")
    if comp not in (1, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")

    rows_per_strip = tags.get("rows_per_strip", [h])[0] or h
    offs, cnts = tags["strip_offsets"], tags["strip_counts"]
    if len(offs) != len(cnts):
        raise ValueError("strip offset/count mismatch")
    raster = bytearray()
    row_bytes = w * samples
    for si, (off, cnt) in enumerate(zip(offs, cnts)):
        strip = buf[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("truncated TIFF strip")
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        if n_rows <= 0:
            raise ValueError("extra TIFF strips beyond image height")
        expected = n_rows * row_bytes
        if comp == 1:
            if len(strip) < expected:
                raise ValueError("truncated uncompressed strip")
            raster += strip[:expected]
        elif comp == 5:
            raster += _lzw_decode_tiff(strip, expected)
        else:
            raster += _packbits_decode(strip, expected)
    if len(raster) < h * row_bytes:
        raise ValueError("TIFF strips cover less than the image")
    px = np.frombuffer(
        bytes(raster[: h * row_bytes]), dtype=np.uint8
    ).reshape(h, w, samples)
    if predictor == 2:
        # horizontal differencing: undo with a per-row cumulative sum
        px = np.cumsum(px.astype(np.int64), axis=1).astype(np.uint8)
    if samples == 1:
        px = np.repeat(px, 3, axis=2)
        if photo == 0:  # WhiteIsZero: invert
            px = 255 - px
    return px[:, :, :3]


def encode_tiff(
    arr,
    compression: int = 1,
    byte_order: str = "little",
    predictor: int = 1,
    rows_per_strip: int | None = None,
) -> bytes:
    """Minimal chunky RGB TIFF writer for round-tripping the decoder:
    header + one IFD + strip data, compression 1/5/32773, optional
    predictor 2, either byte order, configurable strip height."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, samples = arr.shape
    en = byte_order
    rows_per_strip = rows_per_strip or h

    if predictor == 2:
        d = arr.astype(np.int16)
        d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
        arr = (d % 256).astype(np.uint8)

    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = arr[y0 : y0 + rows_per_strip].tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 5:
            strips.append(_lzw_encode_tiff(raw))
        elif compression == 32773:
            strips.append(_packbits_encode(raw))
        else:
            raise ValueError(f"unsupported compression {compression}")

    def u16(v: int) -> bytes:
        return v.to_bytes(2, en)

    def u32(v: int) -> bytes:
        return v.to_bytes(4, en)

    n_strips = len(strips)
    # layout: 8-byte header, strip data, then the IFD (+ overflow
    # arrays for strip offsets/counts when n_strips > 1)
    data_start = 8
    strip_offs = []
    pos = data_start
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    ifd_off = pos

    entries = []  # (tag, type, count, value-or-bytes)

    def entry(tag: int, typ: int, count: int, values: list[int]) -> None:
        entries.append((tag, typ, count, values))

    entry(256, 4, 1, [w])
    entry(257, 4, 1, [h])
    entry(258, 3, samples, [8] * samples)
    entry(259, 3, 1, [compression])
    entry(262, 3, 1, [2 if samples >= 3 else 1])
    entry(273, 4, n_strips, strip_offs)
    entry(277, 3, 1, [samples])
    entry(278, 4, 1, [rows_per_strip])
    entry(279, 4, n_strips, [len(s) for s in strips])
    if predictor == 2:
        entry(317, 3, 1, [2])
    entries.sort(key=lambda t: t[0])

    # overflow area sits after the IFD block
    ifd_size = 2 + 12 * len(entries) + 4
    overflow_off = ifd_off + ifd_size
    overflow = bytearray()
    ifd = bytearray(u16(len(entries)))
    for tag, typ, count, values in entries:
        size = _TIFF_TYPE_SIZE[typ]
        ifd += u16(tag) + u16(typ) + u32(count)
        packed = b"".join(v.to_bytes(size, en) for v in values)
        if len(packed) <= 4:
            ifd += packed + b"\x00" * (4 - len(packed))
        else:
            ifd += u32(overflow_off + len(overflow))
            overflow += packed
    ifd += u32(0)  # no next IFD

    header = (b"II*\x00" if en == "little" else b"MM\x00*") + u32(ifd_off)
    return header + b"".join(strips) + bytes(ifd) + bytes(overflow)


def synthesize_tiff_media(
    ids: DataFrame, id_col: str = "media_id",
    width: int = 64, height: int = 48,
) -> DataFrame:
    """Deterministic synthetic TIFF per id — the SAME pixel formula as
    the PPM/PNG fixtures (``(7·id + 3·x + 5·y + 11·c) mod 256``), so
    the identical closed-form oracle verifies the TIFF decode path.
    The encoding VARIES by id to cover the whole decoder matrix in one
    corpus: compression cycles none/LZW/PackBits by ``id mod 3``, byte
    order flips big-endian on ``id mod 2``, the LZW payloads carry the
    horizontal-differencing predictor, and strip height 16 forces
    multi-strip assembly everywhere."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3),
            indexing="ij",
        )
        base = 3 * x + 5 * y + 11 * c
        comps = [1, 5, 32773]
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                arr = ((7 * mid + base) % 256).astype("uint8")
                comp = comps[mid % 3]
                payloads.append(
                    encode_tiff(
                        arr,
                        compression=comp,
                        byte_order="big" if mid % 2 else "little",
                        predictor=2 if comp == 5 else 1,
                        rows_per_strip=16,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


AUDIO_DECODE_SCHEMA = (
    "media_id BIGINT, format STRING, sample_rate INT, n_channels INT, "
    "n_samples BIGINT, duration_s DOUBLE, rms DOUBLE, peak INT"
)


def _decode_wav(buf: bytes):
    """Real RIFF/WAVE PCM decoder in numpy: chunk walk, fmt parse,
    16-bit little-endian samples. Returns (rate, channels, int16 array
    of shape (n_frames, channels))."""
    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            if fmt != 1:
                raise ValueError("only PCM WAV supported")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError("only 16-bit PCM supported")
    if channels is None or channels < 1:
        raise ValueError("WAV fmt chunk declares zero channels")
    samples = np.frombuffer(
        data[: len(data) // (2 * channels) * 2 * channels], dtype="<i2"
    ).reshape(-1, channels)
    return rate, channels, samples


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio decode over ``mapInPandas`` (16-bit PCM WAV — a pure
    header+samples format, no codec library needed). Per clip: rate,
    channel count, frame count, duration, RMS amplitude, and absolute
    peak — the triage stats an audio-ingest pipeline computes before
    expensive transcription. Poison payloads become format="error"
    rows. rms/duration round half-up at 6dp for the closed-form oracle
    (q115); sqrt is IEEE-correctly-rounded so both engines agree
    bit-for-bit on identical integer sums."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "sample_rate": [],
                "n_channels": [], "n_samples": [], "duration_s": [],
                "rms": [], "peak": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, ch, samples = _decode_wav(bytes(b))
                except ValueError:
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_s", "rms", "peak"):
                        out[k].append(None)
                    continue
                n = samples.shape[0]
                flat = samples.astype(np.int64).ravel()
                mean_sq = float((flat * flat).sum()) / max(len(flat), 1)
                out["media_id"].append(mid)
                out["format"].append("wav")
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(n)
                out["duration_s"].append(r6(n / rate))
                out["rms"].append(r6(math.sqrt(mean_sq)))
                out["peak"].append(int(np.abs(flat).max()) if len(flat) else 0)
            yield pd.DataFrame(out)

    return media.mapInPandas(decode, schema=AUDIO_DECODE_SCHEMA)


def synthesize_wav_media(
    ids: DataFrame, id_col: str = "media_id",
    n_samples: int = 2000, rate: int = 8000,
) -> DataFrame:
    """Deterministic synthetic mono 16-bit PCM WAV per id: sample i is
    ``((13·id + 37·i) mod 65536) − 32768`` — integrable in closed form
    by a SQL oracle (q115), like the synthetic PPMs."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(n_samples, dtype=np.int64)
        data_size = n_samples * 2
        header = (
            b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + b"data" + data_size.to_bytes(4, "little")
        )
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                wave = ((13 * int(mid) + 37 * i) % 65536 - 32768).astype(
                    "<i2"
                )
                payloads.append(header + wave.tobytes())
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col, spread=False).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


FLAC_DECODE_SCHEMA = (
    "media_id BIGINT, format STRING, sample_rate INT, n_channels INT, "
    "n_samples BIGINT, duration_s DOUBLE, rms DOUBLE, peak INT, "
    "n_frames INT, md5_ok BOOLEAN, compress_ratio DOUBLE"
)


def synthesize_flac_media(
    ids: DataFrame, id_col: str = "media_id",
    n_samples: int = 2000, rate: int = 8000, block_size: int = 576,
) -> DataFrame:
    """Deterministic mono 16-bit FLAC per id over the SAME closed-form
    waveform as the WAV tier (sample i = ((13·id + 37·i) mod 65536) −
    32768), losslessly compressed by the real encoder in
    ``operators/flac.py`` (fixed predictors + optimal rice) — so the
    q255 oracle integrates the identical formula and the decode is
    hash-exact, with STREAMINFO carrying the genuine PCM MD5."""
    from pagerank_spark.operators.flac import encode_flac

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                samples = [
                    ((13 * int(mid) + 37 * i) % 65536) - 32768
                    for i in range(n_samples)
                ]
                payloads.append(
                    encode_flac(samples, rate, 16, block_size)
                )
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def decode_flac_audio(media: DataFrame) -> DataFrame:
    """REAL FLAC sample decode over ``mapInPandas``
    (operators/flac.py decode_flac — full fixed-blocksize RFC 9639
    coverage with CRC-8/16 + MD5 verification). Per clip the same
    triage stats as the WAV tier plus the FLAC-specific evidence
    columns: frame count, the STREAMINFO-MD5 verdict, and the
    achieved compression ratio. Poison payloads (bad magic, CRC
    mismatch, truncation, reserved codes) become format='error' rows.
    rms/duration/ratio round half-up at 6dp for the closed-form oracle
    (q255)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        from pagerank_spark.operators.flac import decode_flac

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "sample_rate": [],
                "n_channels": [], "n_samples": [], "duration_s": [],
                "rms": [], "peak": [], "n_frames": [], "md5_ok": [],
                "compress_ratio": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    st = decode_flac(bytes(b))
                except (ValueError, OverflowError, KeyError, IndexError):
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_s", "rms", "peak", "n_frames",
                              "md5_ok", "compress_ratio"):
                        out[k].append(None)
                    continue
                flat = [s for chan in st.samples for s in chan]
                n = len(st.samples[0]) if st.samples else 0
                mean_sq = (
                    sum(s * s for s in flat) / max(len(flat), 1)
                )
                raw_bytes = len(flat) * ((st.bits_per_sample + 7) // 8)
                out["media_id"].append(mid)
                out["format"].append("flac")
                out["sample_rate"].append(st.sample_rate)
                out["n_channels"].append(st.channels)
                out["n_samples"].append(n)
                out["duration_s"].append(r6(n / st.sample_rate))
                out["rms"].append(r6(math.sqrt(mean_sq)))
                out["peak"].append(
                    max(abs(s) for s in flat) if flat else 0
                )
                out["n_frames"].append(st.n_frames)
                out["md5_ok"].append(st.md5_ok)
                out["compress_ratio"].append(
                    r6(len(b) / raw_bytes) if raw_bytes else None
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(decode, schema=FLAC_DECODE_SCHEMA)


MP4_META_SCHEMA = (
    "media_id BIGINT, format STRING, brand STRING, duration_s DOUBLE, "
    "n_tracks INT, n_video INT, n_audio INT, width INT, height INT"
)

MP3_META_SCHEMA = (
    "media_id BIGINT, format STRING, version STRING, layer INT, "
    "bitrate_kbps INT, sample_rate INT, n_frames INT, duration_s DOUBLE"
)


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield ``(type, body_start, body_end)`` for each ISO-BMFF box in
    ``buf[start:end]`` (ISO/IEC 14496-12 §4.2): 32-bit big-endian size
    + fourcc, size==1 → 64-bit largesize follows, size==0 → box runs
    to the container's end. Malformed sizes raise ValueError."""
    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError("truncated box header")
        size = int.from_bytes(buf[off : off + 4], "big")
        btype = buf[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize")
            size = int.from_bytes(buf[off + 8 : off + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError("bad box size")
        yield btype, off + hdr, off + size
        off += size


def _mp4_find(buf: bytes, start: int, end: int, fourcc: bytes):
    for t, s, e in _mp4_boxes(buf, start, end):
        if t == fourcc:
            yield s, e


def _parse_mp4(buf: bytes) -> dict:
    """Codec-free MP4/ISO-BMFF metadata: ftyp major brand, mvhd
    movie duration, per-trak hdlr handler type (vide/soun) and the
    first video trak's tkhd 16.16 fixed-point presentation size.
    Raises ValueError on anything that is not a well-formed container."""
    top = list(_mp4_boxes(buf, 0, len(buf)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("not an MP4: no leading ftyp")
    fs, fe = top[0][1], top[0][2]
    if fe - fs < 8:
        raise ValueError("truncated ftyp")
    brand = buf[fs : fs + 4].decode("ascii", errors="strict")
    moov = [(s, e) for t, s, e in top if t == b"moov"]
    if len(moov) != 1:
        raise ValueError("need exactly one moov")
    ms, me = moov[0]
    mvhd = list(_mp4_find(buf, ms, me, b"mvhd"))
    if len(mvhd) != 1:
        raise ValueError("need exactly one mvhd")
    s, e = mvhd[0]
    ver = buf[s]
    if ver == 1:
        if e - s < 32 + 4:
            raise ValueError("truncated mvhd v1")
        timescale = int.from_bytes(buf[s + 20 : s + 24], "big")
        duration = int.from_bytes(buf[s + 24 : s + 32], "big")
    else:
        if e - s < 20 + 4:
            raise ValueError("truncated mvhd v0")
        timescale = int.from_bytes(buf[s + 12 : s + 16], "big")
        duration = int.from_bytes(buf[s + 16 : s + 20], "big")
    if timescale == 0:
        raise ValueError("mvhd timescale 0")
    n_tracks = n_video = n_audio = 0
    width = height = None
    for ts_, te_ in _mp4_find(buf, ms, me, b"trak"):
        n_tracks += 1
        handler = None
        for hs, he in _mp4_find(buf, ts_, te_, b"mdia"):
            for s2, e2 in _mp4_find(buf, hs, he, b"hdlr"):
                if e2 - s2 < 12:
                    raise ValueError("truncated hdlr")
                handler = buf[s2 + 8 : s2 + 12]
        if handler == b"vide":
            n_video += 1
            for s2, e2 in _mp4_find(buf, ts_, te_, b"tkhd"):
                if e2 - s2 < 84:
                    raise ValueError("truncated tkhd")
                if width is None:
                    width = int.from_bytes(buf[e2 - 8 : e2 - 4], "big") >> 16
                    height = int.from_bytes(buf[e2 - 4 : e2], "big") >> 16
        elif handler == b"soun":
            n_audio += 1
    return {
        "brand": brand,
        "duration": duration,
        "timescale": timescale,
        "n_tracks": n_tracks,
        "n_video": n_video,
        "n_audio": n_audio,
        "width": width,
        "height": height,
    }


# MPEG-1 Layer III frame-header tables (ISO/IEC 11172-3): bitrate
# index 1..14 in kbit/s (0 = free-format, 15 = forbidden) and the
# three sampling rates. 1152 samples per Layer III frame.
_MP3_BITRATES = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320
)
_MP3_RATES = (44100, 48000, 32000)


def _parse_mp3(buf: bytes) -> dict:
    """Codec-free MP3 metadata via a frame-HEADER walk (no audio
    decode): skip a leading ID3v2 tag (syncsafe size), then hop frame
    to frame using the Layer III length formula
    ``144000·bitrate_kbps // sample_rate + padding``, validating sync
    on every hop — a wrong length desynchronizes immediately, so a
    full walk is strong evidence the header fields parse correctly.
    MPEG-1 Layer III only; sample rate must be constant; bitrate may
    vary (VBR → bitrate_kbps None). A trailing 128-byte ID3v1 'TAG'
    block is allowed. Raises ValueError on anything else."""
    off = 0
    if buf[:3] == b"ID3":
        if len(buf) < 10:
            raise ValueError("truncated ID3v2 header")
        if any(b & 0x80 for b in buf[6:10]):
            raise ValueError("bad ID3v2 syncsafe size")
        tag = (
            (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
        )
        off = 10 + tag
    n_frames = 0
    sr = None
    bitrates: set[int] = set()
    while off < len(buf):
        if buf[off : off + 3] == b"TAG" and len(buf) - off == 128:
            break  # trailing ID3v1
        if off + 4 > len(buf):
            raise ValueError("truncated frame header")
        h = int.from_bytes(buf[off : off + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError("lost frame sync")
        if (h >> 19) & 3 != 3 or (h >> 17) & 3 != 1:
            raise ValueError("not MPEG-1 Layer III")
        bidx = (h >> 12) & 0xF
        sidx = (h >> 10) & 3
        pad = (h >> 9) & 1
        if bidx in (0, 15) or sidx == 3:
            raise ValueError("bad bitrate/samplerate index")
        rate = _MP3_RATES[sidx]
        if sr is None:
            sr = rate
        elif rate != sr:
            raise ValueError("sample rate changed mid-stream")
        kbps = _MP3_BITRATES[bidx]
        bitrates.add(kbps)
        flen = 144000 * kbps // sr + pad
        if flen < 4:
            raise ValueError("degenerate frame length")
        if off + flen > len(buf):
            raise ValueError("truncated frame body")
        off += flen
        n_frames += 1
    if n_frames == 0:
        raise ValueError("no frames")
    return {
        "bitrate_kbps": (
            bitrates.pop() if len(bitrates) == 1 else None
        ),
        "sample_rate": sr,
        "n_frames": n_frames,
        "duration": n_frames * 1152 / sr,
    }


def parse_mp4_meta(media: DataFrame) -> DataFrame:
    """REAL MP4/ISO-BMFF container metadata over ``mapInPandas`` — the
    box walk needs no codec: ftyp brand, mvhd duration (at the movie
    timescale, reported in seconds), track count, video/audio track
    counts from each trak's hdlr, and the first video track's tkhd
    presentation size. The media-triage pass a video-ingest pipeline
    runs before deciding what to transcode (frame DECODING remains
    honestly out of scope — no codec library in this environment).
    Poison payloads become format="error" rows. duration_s rounds
    half-up at 6dp for the closed-form oracle (q236)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "brand": [],
                "duration_s": [], "n_tracks": [], "n_video": [],
                "n_audio": [], "width": [], "height": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    m = _parse_mp4(bytes(b))
                except (ValueError, UnicodeDecodeError, IndexError):
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    for k in ("brand", "duration_s", "n_tracks",
                              "n_video", "n_audio", "width", "height"):
                        out[k].append(None)
                    continue
                out["media_id"].append(mid)
                out["format"].append("mp4")
                out["brand"].append(m["brand"])
                out["duration_s"].append(
                    r6(m["duration"] / m["timescale"])
                )
                out["n_tracks"].append(m["n_tracks"])
                out["n_video"].append(m["n_video"])
                out["n_audio"].append(m["n_audio"])
                out["width"].append(m["width"])
                out["height"].append(m["height"])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=MP4_META_SCHEMA)


def parse_mp3_meta(media: DataFrame) -> DataFrame:
    """REAL MP3 stream metadata over ``mapInPandas`` — a frame-header
    walk (no codec): MPEG version/layer validation, bitrate (NULL when
    VBR), sample rate, exact frame count, and duration
    ``n_frames · 1152 / sample_rate``. Skips a leading ID3v2 tag and a
    trailing ID3v1 block. Poison payloads become format="error" rows.
    duration_s rounds half-up at 6dp for the closed-form oracle
    (q237)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "version": [],
                "layer": [], "bitrate_kbps": [], "sample_rate": [],
                "n_frames": [], "duration_s": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    m = _parse_mp3(bytes(b))
                except (ValueError, IndexError):
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    for k in ("version", "layer", "bitrate_kbps",
                              "sample_rate", "n_frames", "duration_s"):
                        out[k].append(None)
                    continue
                out["media_id"].append(mid)
                out["format"].append("mp3")
                out["version"].append("MPEG1")
                out["layer"].append(3)
                out["bitrate_kbps"].append(m["bitrate_kbps"])
                out["sample_rate"].append(m["sample_rate"])
                out["n_frames"].append(m["n_frames"])
                out["duration_s"].append(r6(m["duration"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=MP3_META_SCHEMA)


def _mp4_box(fourcc: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + fourcc + payload


def synthesize_mp4_media(
    ids: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """Deterministic minimal-but-well-formed MP4 per id, every field a
    closed-form function of the id so the q236 oracle needs no bytes:

        duration_ms = 1000 + 37·(id mod 1000)   (mvhd timescale 1000)
        n_tracks    = 1 + id mod 3
        id mod 4 == 1 → all tracks audio (width/height NULL)
        else          → track 1 video at (320 + 16·(id mod 8)) ×
                        (240 + 16·(id mod 5)), rest audio

    The container exercises the walk the parser claims to do: ftyp,
    a free box and a trailing mdat to skip, moov(mvhd, trak(tkhd,
    mdia(mdhd, hdlr))·n)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def tkhd(track_id: int, w: int, h: int) -> bytes:
            body = (
                b"\x00\x00\x00\x07"  # v0 + enabled/in-movie flags
                + (0).to_bytes(4, "big") * 2
                + track_id.to_bytes(4, "big")
                + (0).to_bytes(4, "big")
                + (0).to_bytes(4, "big")  # track duration (unused)
                + bytes(8)
                + bytes(2) * 2  # layer, alternate group
                + bytes(2)  # volume
                + bytes(2)
                + (
                    (0x00010000).to_bytes(4, "big") + bytes(12)
                    + (0x00010000).to_bytes(4, "big") + bytes(12)
                    + (0x40000000).to_bytes(4, "big")
                )  # unity matrix (9 × 4 bytes)
                + (w << 16).to_bytes(4, "big")
                + (h << 16).to_bytes(4, "big")
            )
            return _mp4_box(b"tkhd", body)

        def mdia(handler: bytes, timescale: int) -> bytes:
            mdhd = _mp4_box(
                b"mdhd",
                b"\x00\x00\x00\x00"
                + (0).to_bytes(4, "big") * 2
                + timescale.to_bytes(4, "big")
                + (0).to_bytes(4, "big")
                + (0x55C4).to_bytes(2, "big")  # language 'und'
                + bytes(2),
            )
            hdlr = _mp4_box(
                b"hdlr",
                b"\x00\x00\x00\x00" + bytes(4) + handler + bytes(12)
                + b"\x00",
            )
            return _mp4_box(b"mdia", mdhd + hdlr)

        ftyp = _mp4_box(
            b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom" + b"iso2"
        )
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                dur_ms = 1000 + 37 * (mid % 1000)
                n_tracks = 1 + mid % 3
                mvhd = _mp4_box(
                    b"mvhd",
                    b"\x00\x00\x00\x00"
                    + (0).to_bytes(4, "big") * 2
                    + (1000).to_bytes(4, "big")
                    + dur_ms.to_bytes(4, "big")
                    + (0x00010000).to_bytes(4, "big")
                    + (0x0100).to_bytes(2, "big")
                    + bytes(10)
                    + (
                        (0x00010000).to_bytes(4, "big") + bytes(12)
                        + (0x00010000).to_bytes(4, "big") + bytes(12)
                        + (0x40000000).to_bytes(4, "big")
                    )  # unity matrix (9 × 4 bytes)
                    + bytes(24)
                    + (n_tracks + 1).to_bytes(4, "big"),
                )
                traks = b""
                for t in range(n_tracks):
                    video = t == 0 and mid % 4 != 1
                    if video:
                        w = 320 + 16 * (mid % 8)
                        h = 240 + 16 * (mid % 5)
                        traks += _mp4_box(
                            b"trak", tkhd(t + 1, w, h)
                            + mdia(b"vide", 1000),
                        )
                    else:
                        traks += _mp4_box(
                            b"trak", tkhd(t + 1, 0, 0)
                            + mdia(b"soun", 48000),
                        )
                payloads.append(
                    ftyp
                    + _mp4_box(b"free", bytes(8))
                    + _mp4_box(b"moov", mvhd + traks)
                    + _mp4_box(b"mdat", bytes(16))
                )
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col, spread=False).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def synthesize_mp3_media(
    ids: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """Deterministic well-formed CBR MPEG-1 Layer III stream per id,
    every field a closed-form function of the id (q237's oracle):

        bitrate_kbps = BITRATES[1 + id mod 14]
        sample_rate  = (44100, 48000, 32000)[id mod 3]
        n_frames     = 20 + id mod 30

    id mod 4 == 0 prepends a 210-byte ID3v2 tag (exercising the
    syncsafe skip), id mod 5 == 0 appends a 128-byte ID3v1 'TAG'
    block, and id mod 7 == 0 sets the padding bit on every frame
    (one extra byte per frame the walker must account for)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                bidx = 1 + mid % 14
                sidx = mid % 3
                kbps = _MP3_BITRATES[bidx]
                sr = _MP3_RATES[sidx]
                n_frames = 20 + mid % 30
                pad = 1 if mid % 7 == 0 else 0
                h = (
                    (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                    | (bidx << 12) | (sidx << 10) | (pad << 9)
                )
                flen = 144000 * kbps // sr + pad
                frame = h.to_bytes(4, "big") + bytes(flen - 4)
                buf = b""
                if mid % 4 == 0:
                    buf += (
                        b"ID3\x04\x00\x00"
                        + bytes([0, 0, 200 >> 7, 200 & 0x7F])
                        + bytes(200)
                    )
                buf += frame * n_frames
                if mid % 5 == 0:
                    buf += b"TAG" + bytes(125)
                payloads.append(buf)
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    return _ids_spread(ids, id_col, spread=False).mapInPandas(
        synth, schema="media_id BIGINT, payload BINARY"
    )


def frame_sample_plan(
    media_meta: DataFrame,
    fps_col: str = "fps",
    duration_col: str = "duration_s",
    every_s: float = 1.0,
) -> DataFrame:
    """Video frame-sampling plan: one row per (media_id, frame timestamp).

    Pure Catalyst (sequence + explode) — the expensive decode of each
    sampled frame would then run through ``decode_media``-style
    mapInPandas on the exploded plan, already partitioned by media_id.
    """
    n_samples = F.greatest(
        (F.col(duration_col) / F.lit(every_s)).cast("int"), F.lit(1)
    )
    return (
        media_meta.select(
            "media_id",
            F.col(fps_col).cast("double").alias("__fps"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_samples - 1),
                    lambda i: i * F.lit(every_s),
                )
            ).alias("sample_ts"),
        )
        .select(
            "media_id",
            "sample_ts",
            (F.col("sample_ts") * F.col("__fps")).cast("long").alias(
                "frame_index"
            ),
        )
    )


def synthesize_ppm_variant_media(
    df: DataFrame,
    id_col: str = "media_id",
    group_col: str = "grp",
    variant_col: str = "variant",
    width: int = 64,
    height: int = 48,
) -> DataFrame:
    """Deterministic synthetic P6 image per id with PLANTED NEAR-DUP
    structure — the fixture for perceptual-hash dedup (q221): images
    sharing ``group_col`` share a base pattern, and ``variant_col``
    ``r > 0`` perturbs only a small corner region, so same-group
    images hash within a few bits of each other while groups differ
    wholesale. Pixel (x, y) channel c of group g is

        v = (11·(g+1)·(x+1) + 2·y + 7·c) mod 256
        if r > 0 and x < 2·r and y < 6:  v = (v + 128) mod 256

    — integer arithmetic end to end, so a SQL oracle reproduces every
    pixel exactly (q221's twin integrates this over generate_series
    and never sees the bytes)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3),
            indexing="ij",
        )
        header_tail = f" {width} {height} 255\n".encode()
        for pdf in batches:
            payloads = []
            for mid, g, r in zip(
                pdf[id_col], pdf[group_col], pdf[variant_col]
            ):
                arr = (11 * (int(g) + 1) * (x + 1) + 2 * y + 7 * c) % 256
                if int(r) > 0:
                    mask = (x < 2 * int(r)) & (y < 6)
                    arr = np.where(mask, (arr + 128) % 256, arr)
                payloads.append(
                    b"P6" + header_tail + arr.astype("uint8").tobytes()
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "payload": payloads}
            )

    # no spread: the planted-variant builders are cheap byte walks —
    # the A/B in _ids_spread's docstring measured the fan-out as a
    # net loss here (q221 1.16×)
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(group_col).cast("long").alias(group_col),
        F.col(variant_col).cast("long").alias(variant_col),
    ).mapInPandas(synth, schema=f"{id_col} BIGINT, payload BINARY")


AHASH_SCHEMA = (
    "media_id BIGINT, b0 BIGINT, b1 BIGINT, b2 BIGINT, b3 BIGINT"
)


def ahash_image(media: DataFrame, grid: int = 8) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over REAL decode:
    decode the payload (PPM/BMP/PNG/JPEG, same dispatch as
    ``decode_image``), sum channels to an integer grayscale, pool into
    a ``grid``×``grid`` block grid, and set bit ``by·grid + bx`` iff
    the block's mean exceeds the image mean. Every comparison is
    INTEGER (``block_sum · total_pixels > total_sum · block_pixels``)
    — no float thresholds, so the 64 bits are bit-identical in any
    engine that sees the same pixels, which is what lets a SQL oracle
    verify the hash without decoding bytes.

    The 64 bits return as four 16-bit band integers ``b0..b3`` (bits
    ``16j..16j+15`` in ``bj``) — already in the banded layout
    ``hamming_near_dup_pairs`` buckets on (pigeonhole: two hashes
    within Hamming distance 3 agree on at least one of 4 bands).
    Poison payloads yield NULL bands, never a dead job.
    """

    if not 1 <= grid <= 8:
        raise ValueError(
            f"ahash_image: grid in [1, 8] (the banded layout carries "
            f"grid^2 <= 64 bits in four 16-bit bands), got {grid}"
        )

    def hash_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import numpy as np

        for pdf in batches:
            out = {"media_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(b)
                try:
                    if b[:2] == b"P6":
                        arr = _decode_ppm(b)
                    elif b[:2] == b"BM":
                        arr = _decode_bmp(b)
                    elif b[:8] == b"\x89PNG\r\n\x1a\n":
                        arr = _decode_png(b)
                    elif b[:2] == b"\xff\xd8":
                        from pagerank_spark.operators.jpeg import decode_jpeg

                        arr = decode_jpeg(b)
                    else:
                        raise ValueError("unknown magic")
                except (ValueError, _zlib.error, _struct.error, IndexError):
                    out["media_id"].append(mid)
                    for k in ("b0", "b1", "b2", "b3"):
                        out[k].append(None)
                    continue
                gray = arr.astype(np.int64).sum(axis=2)  # (H, W) int
                h, w = gray.shape
                ye = (np.arange(grid + 1) * h) // grid
                xe = (np.arange(grid + 1) * w) // grid
                total = int(gray.sum())
                npix = h * w
                bands = [0, 0, 0, 0]
                for by in range(grid):
                    for bx in range(grid):
                        blk = gray[ye[by]:ye[by + 1], xe[bx]:xe[bx + 1]]
                        if int(blk.sum()) * npix > total * blk.size:
                            i = by * grid + bx
                            bands[i // 16] |= 1 << (i % 16)
                out["media_id"].append(mid)
                for j in range(4):
                    out[f"b{j}"].append(bands[j])
            yield pd.DataFrame(out)

    return media.mapInPandas(hash_batch, schema=AHASH_SCHEMA)


def hamming_near_dup_pairs(
    hashes: DataFrame,
    max_dist: int = 3,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join over aHash
    fingerprints: the 64-bit hash travels as 4 × 16-bit bands, and by
    pigeonhole any two hashes within Hamming distance ``bands − 1``
    (3 for 4 bands) agree EXACTLY on at least one band — so candidate
    generation is an equi-join on ``(band_index, band_value)``, never
    an all-pairs distance scan, and the exact Hamming distance
    (``Σ bit_count(bj ⊕ bj')``, JVM-side) filters candidates after.
    The same LSH-band shape as MinHash dedup, specialized to Hamming
    space. Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    ``max_dist`` above ``bands − 1`` would need coarser bands to stay
    recall-exact — rejected rather than silently lossy.
    """
    if not 0 <= max_dist <= 3:
        raise ValueError(
            f"hamming_near_dup_pairs: max_dist in [0, 3] for 4 bands, "
            f"got {max_dist}"
        )
    hs = hashes.where(F.col("b0").isNotNull())
    long = hs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band", "value"
        ),
    )
    cand = (
        long.alias("l")
        .join(
            long.select(
                F.col("id").alias("id_b"), "band", "value"
            ).alias("r"),
            on=["band", "value"],
        )
        .where(F.col("l.id") < F.col("id_b"))
        .select(F.col("l.id").alias("id_a"), "id_b")
        .distinct()
    )
    a = hs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    b = hs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"bb{j}")))
        for j in range(4)
    )
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a", "id_b", ham.cast("long").alias("hamming")
        )
        .where(F.col("hamming") <= max_dist)
    )


IMAGE_RESIZE_SCHEMA = (
    "media_id BIGINT, format STRING, y INT, x INT, "
    "r DOUBLE, g DOUBLE, b DOUBLE"
)


def resize_image(
    media: DataFrame, out_w: int = 16, out_h: int = 12
) -> DataFrame:
    """Box-average (area) resize over ``mapInPandas`` — the standard
    antialiasing downsample of a vision-pipeline preprocessing step
    (nearest-neighbor, which ``decode_image``'s thumbnail uses, drops
    3/4+ of the signal; area averaging integrates every source pixel
    exactly once). One output row per (media_id, y, x) target pixel
    with per-channel block means rounded to 6dp — the relational shape
    an oracle can hash and downstream ops can join; the array form is
    one ``collect_list`` away.

    Source dimensions must be DIVISIBLE by the target dimensions: the
    block means are then rationals with a power-of-two-free fixed
    denominator (bw·bh), exact at 6dp on every engine — the SURVEY
    §5.3 determinism rule. A fractional-box resize would need
    engine-specific float edge weights. Failure rows never fail the
    batch, and the two causes are DISTINGUISHABLE (r9 ADVICE: a
    misconfigured out_w/out_h used to be indistinguishable from a
    poisoned corpus): undecodable payloads surface as format="error",
    non-divisible dimensions as format="dims" — a corpus that comes
    back all-"dims" is a caller bug, not bad data.

    Scale shape: pure per-row Arrow-batched compute, no shuffle at
    all — partition-parallel over however many executors hold the
    payload column.
    """
    if out_w < 1 or out_h < 1:
        # validate driver-side: a zero target would otherwise raise
        # ZeroDivisionError inside every executor task
        raise ValueError(
            f"resize_image: out_w/out_h >= 1, got {out_w}x{out_h}"
        )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import struct as _struct
        import zlib as _zlib

        import numpy as np

        def r6(x: float) -> float:
            # Half-UP at 6dp, matching Spark/DuckDB ROUND (see
            # decode_image).
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "y": [], "x": [],
                "r": [], "g": [], "b": [],
            }

            def error_row(mid, reason="error"):
                out["media_id"].append(mid)
                out["format"].append(reason)
                for k in ("y", "x", "r", "g", "b"):
                    out[k].append(None)

            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(buf)
                try:
                    if buf[:2] == b"P6":
                        arr, fmt = _decode_ppm(buf), "ppm"
                    elif buf[:2] == b"BM":
                        arr, fmt = _decode_bmp(buf), "bmp"
                    elif buf[:8] == b"\x89PNG\r\n\x1a\n":
                        arr, fmt = _decode_png(buf), "png"
                    elif buf[:2] == b"\xff\xd8":
                        from pagerank_spark.operators.jpeg import (
                            decode_jpeg,
                        )

                        arr, fmt = decode_jpeg(buf), "jpeg"
                    else:
                        raise ValueError("unknown magic")
                except (ValueError, _zlib.error, _struct.error, IndexError):
                    error_row(mid)
                    continue
                h, w = arr.shape[:2]
                if h % out_h != 0 or w % out_w != 0:
                    error_row(mid, reason="dims")
                    continue
                bh, bw = h // out_h, w // out_w
                blocks = arr.reshape(
                    out_h, bh, out_w, bw, 3
                ).mean(axis=(1, 3), dtype=np.float64)
                for yo in range(out_h):
                    for xo in range(out_w):
                        out["media_id"].append(mid)
                        out["format"].append(fmt)
                        out["y"].append(yo)
                        out["x"].append(xo)
                        out["r"].append(r6(float(blocks[yo, xo, 0])))
                        out["g"].append(r6(float(blocks[yo, xo, 1])))
                        out["b"].append(r6(float(blocks[yo, xo, 2])))
            yield pd.DataFrame(out)

    return media.mapInPandas(resize, schema=IMAGE_RESIZE_SCHEMA)


AUDIO_BLOCKPRINT_SCHEMA = (
    "media_id long, format string, n_samples int, "
    "b0 int, b1 int, b2 int, b3 int"
)


def synthesize_audio_variant_media(
    df: DataFrame,
    id_col: str = "media_id",
    group_col: str = "grp",
    variant_col: str = "variant",
    n_samples: int = 2048,
    rate: int = 8000,
    n_blocks: int = 64,
) -> DataFrame:
    """Deterministic synthetic audio per id with PLANTED NEAR-DUP
    structure — the fixture for perceptual audio dedup (q264), the
    audio analogue of ``synthesize_ppm_variant_media``: clips sharing
    ``group_col`` share a base waveform; ``variant_col`` ``r > 0``
    re-amplifies only the first ``r`` time blocks, so same-group clips
    fingerprint within ``r`` bits while groups differ wholesale.
    Sample i of group g (block b = i·n_blocks // n_samples)::

        A(g, b) = 256 · (1 + (11·(g+1)·(b+1)) mod 128)   # amplitude
        if r > 0 and b < r:
            A(g, b) = 256 · (1 + (11·(g+1)·(b+1) + 64) mod 128)
        sample_i = (9973·i) mod (2·A) − A                 # sawtooth

    The 9973 step wraps the sawtooth ≥4× per 32-sample block at every
    legal amplitude, so block energy tracks A²/3 — i.e. the AMPLITUDE
    pattern, which is what makes groups differ wholesale. (A small
    step leaves large-A blocks as near-constant segments whose energy
    follows phase/position instead: band values then collapse onto a
    few hot patterns and the banded join degenerates — measured as a
    hot-key blowup in MEDIA_PROBE.json's first audio run.)

    — all-integer, so a SQL oracle integrates block energies in
    closed form without seeing a byte. EVEN ids ship as WAV, ODD ids
    as FLAC (the real encoder): the fingerprint is container-blind on
    lossless audio, so a clip and its re-encode dedupe together."""
    from pagerank_spark.operators.flac import encode_flac

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(n_samples, dtype=np.int64)
        b = i * n_blocks // n_samples
        data_size = n_samples * 2
        header = (
            b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + b"data" + data_size.to_bytes(4, "little")
        )
        for pdf in batches:
            payloads = []
            for mid, g, r in zip(
                pdf[id_col], pdf[group_col], pdf[variant_col]
            ):
                base = 11 * (int(g) + 1) * (b + 1)
                amp = 256 * (1 + base % 128)
                if int(r) > 0:
                    amp = np.where(
                        b < int(r), 256 * (1 + (base + 64) % 128), amp
                    )
                wave = (9973 * i) % (2 * amp) - amp
                if int(mid) % 2 == 0:
                    payloads.append(
                        header + wave.astype("<i2").tobytes()
                    )
                else:
                    payloads.append(
                        encode_flac(
                            [int(s) for s in wave], rate, 16, 576
                        )
                    )
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": payloads}
            )

    # no spread: net loss for the audio variant fixture (q264 1.70×,
    # the _ids_spread A/B) — the FLAC leg is per-row expensive but the
    # downstream fingerprint join dominates and the fan-out hurts it
    return df.mapInPandas(synth, schema="media_id long, payload binary")


def audio_blockprint(media: DataFrame, n_blocks: int = 64) -> DataFrame:
    """Energy-profile perceptual fingerprint over REAL audio decode —
    the audio analogue of ``ahash_image``: decode the payload (RIFF
    magic → the WAV chunk walk; ``fLaC`` magic → the full verified
    FLAC decoder — LOSSLESS, so a clip fingerprints identically in
    either container), channel-sum to mono, split into ``n_blocks``
    time blocks, and set bit b iff the block's mean energy exceeds the
    clip's. Every comparison is INTEGER
    (``block_energy · n_samples > total_energy · block_len``) — no
    float thresholds, so the 64 bits are bit-identical in any engine
    that sees the same samples, which is what lets a SQL oracle verify
    the fingerprint without decoding bytes.

    The bits return as four 16-bit band integers ``b0..b3`` (bit k
    lives at position ``k mod 16`` of band ``k div 16``) — already in
    the banded layout ``hamming_near_dup_pairs`` buckets on. Poison
    payloads yield format='error' with NULL bands, never a dead job.

    Scale shape: ``mapInPandas``, Arrow-batched, zero-exchange —
    per-clip linear; the downstream near-dup join is the banded
    equi-join, never all-pairs.

    Robustness envelope (measured, ``audio_shift_probe.py`` →
    MEDIA_PROBE.json ``audio_shift_robustness``): GAIN-invariant by
    construction — both sides of every energy comparison scale by c²
    (pytest-pinned) — but the time-block grid is anchored at sample
    0, so time SHIFTS slide content across block boundaries: recall
    at the Hamming ≤ 3 bound is 1.0 at a 1-sample shift, ~0.99 at 8,
    ~0.25 at a quarter block, and 0 at half a block. Read it as an
    exact-ish near-dup signal (same master re-containered /
    re-gained / losslessly re-encoded), NOT a Shazam-style
    alignment-robust fingerprint.
    """
    if not 1 <= n_blocks <= 64:
        raise ValueError(
            f"audio_blockprint: n_blocks in [1, 64] (four 16-bit "
            f"bands), got {n_blocks}"
        )

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from pagerank_spark.operators.flac import decode_flac

        for pdf in batches:
            out = {
                "media_id": [], "format": [], "n_samples": [],
                "b0": [], "b1": [], "b2": [], "b3": [],
            }
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(buf)
                try:
                    if buf[:4] == b"fLaC":
                        st = decode_flac(buf)
                        flat = np.array(
                            st.samples, dtype=np.int64
                        ).sum(axis=0)
                        fmt = "flac"
                    else:
                        _, _, samples = _decode_wav(buf)
                        flat = samples.astype(np.int64).sum(axis=1)
                        fmt = "wav"
                    n = len(flat)
                    if n < n_blocks:
                        raise ValueError("clip shorter than block grid")
                except ValueError:
                    out["media_id"].append(mid)
                    out["format"].append("error")
                    out["n_samples"].append(None)
                    for k in ("b0", "b1", "b2", "b3"):
                        out[k].append(None)
                    continue
                sq = flat * flat
                idx = np.arange(n, dtype=np.int64) * n_blocks // n
                energy = np.zeros(n_blocks, dtype=np.int64)
                np.add.at(energy, idx, sq)
                lens = np.bincount(idx, minlength=n_blocks)
                # The bit test energy[k]*n > total*lens[k] overflows
                # int64 on realistic clips (full-scale stereo sums to
                # |flat| <= 65536 -> sq ~ 4.3e9/sample; at ~480k
                # samples energy*n ~ 1.5e19 > 2**63-1), so both sides
                # are computed in arbitrary-precision Python ints —
                # exact at any clip length, matching DuckDB's
                # overflow-free HUGEINT twin arithmetic.
                total = int(sq.sum())
                bands = [0, 0, 0, 0]
                for k in range(n_blocks):
                    if int(energy[k]) * n > total * int(lens[k]):
                        bands[k // 16] |= 1 << (k % 16)
                out["media_id"].append(mid)
                out["format"].append(fmt)
                out["n_samples"].append(n)
                for j in range(4):
                    out[f"b{j}"].append(bands[j])
            yield pd.DataFrame(out)

    return media.mapInPandas(fp, schema=AUDIO_BLOCKPRINT_SCHEMA)
