"""Multimodal column conventions (E3): images/audio/video ride as opaque
``binary`` payloads with a typed metadata struct; decode / feature
extraction runs as Arrow-batched pandas transforms (``mapInPandas``).

Codecs: formats parseable with pure stdlib+numpy decode FOR REAL —
netpbm images (P6 PPM / P5 PGM, the uncompressed interchange format),
16-bit PCM WAV (stdlib ``wave``), 8-bit non-interlaced PNG (zlib
inflate + scanline unfilter incl. Sub/Up/Average/Paeth, color types
0/2/3/4/6, CRC-checked — ``_make_png_pixels``), and baseline-
sequential JPEG (r7: Huffman + dequant + IDCT, sampling factors 1-2
incl. 4:2:0, restart markers — ``operators/jpeg_codec.py``, which
also ENCODES so resizes re-emit valid JPEG).  Real nearest-neighbor
resizes exist for netpbm, PNG, and JPEG.  Remaining compressed
formats (MP3/H.264, progressive JPEG, 16-bit or interlaced PNG) have
no codec in this container: ``decode_media`` raises
``NotImplementedError`` for those mimes unless ``fake=True``, which
substitutes a deterministic byte-level "decode" (byte histogram
features).  Swapping in PIL/librosa/pyav extends the same dispatch
inside ``_make_media_codec`` — the schema contract, Arrow batch shape,
partition parallelism, and metadata propagation are identical for real
and fake paths and tested on committed fixtures
(tests/data/fixture_*.ppm/pgm/wav + generated PNG/JPEG).

Shared kernel: ``decode_media``, ``resize_media`` and ``perceptual_hash``
take every payload decision from one codec factory,
``_make_media_codec`` — the row guard (null id / null payload), the one
netpbm parser, the ``mime -> (pixels, maxval)`` image dispatch, the WAV
reader and the nearest-neighbour gather — and narrow their input
through ``_map_payloads``.  The factory returns local functions, so the
mapInPandas closures ship them by value and executors need only pandas
and numpy, not this package.

Scale: mapInPandas streams Arrow batches executor-side; payload bytes
never hit the driver.  Partition sizing (maxPartitionBytes) bounds
per-task memory; decode is a map-only stage with no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventbridge_etl_spark.operators.dedup import band_candidates
from eventbridge_etl_spark.operators.jpeg_codec import make_jpeg_codec

#: Canonical multimodal column bundle: payload + typed metadata.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

N_HIST_BUCKETS = 16


def attach_payload(
    df: DataFrame, bytes_col: str, mime: str, payload_col: str = "payload"
) -> DataFrame:
    """Wrap a binary column into the canonical payload+meta convention."""
    return df.withColumn(
        payload_col,
        F.struct(
            F.col(bytes_col).cast("binary").alias("data"),
            F.struct(
                F.lit(mime).alias("mime"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("n_frames"),
                F.lit(None).cast("int").alias("sample_rate"),
            ).alias("meta"),
        ),
    )


#: Mimes the real (non-fake) paths handle with stdlib parsers.  The
#: codec factory captures these by value (the closures stay
#: self-contained for cloudpickle), so this is the single source of
#: truth for dispatch in decode, resize AND hash.
NETPBM_MIMES = ("image/x-portable-pixmap", "image/x-portable-graymap")
WAV_MIMES = ("audio/wav", "audio/x-wav")
PNG_MIMES = ("image/png",)
JPEG_MIMES = ("image/jpeg", "image/jpg")
REAL_DECODE_MIMES = NETPBM_MIMES + WAV_MIMES + PNG_MIMES + JPEG_MIMES


def _make_png_pixels():
    """Build the pure-stdlib PNG decoder as a LOCAL function.

    Factory, not a module-level helper, on purpose: the mapInPandas
    closures capture the returned function as a local, so cloudpickle
    ships it BY VALUE alongside the closure (a module-level function
    would pickle by reference and drag this package onto executor
    PYTHONPATHs — see the self-containment note in ``decode_media``).

    Coverage: 8-bit-depth, non-interlaced PNGs of color types 0
    (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA) — zlib
    inflate + per-scanline unfilter including Sub/Up/Average/Paeth,
    with chunk CRCs verified.  16-bit and Adam7-interlaced files
    raise (rare in training corpora; a PIL-backed build extends the
    same dispatch).  Returns ``(pixels h*w*ch uint8, color_type)``;
    palette indices are expanded to RGB so callers always see
    samples, never indices.
    """

    def png_pixels(data):
        import struct as _struct
        import zlib as _zlib

        import numpy as _np

        if data[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG (bad signature)")
        pos, ihdr, idat, plte = 8, None, [], None
        while pos + 12 <= len(data):
            (length,) = _struct.unpack(">I", data[pos : pos + 4])
            ctag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if len(body) != length:
                raise ValueError("truncated PNG chunk")
            (crc,) = _struct.unpack(
                ">I", data[pos + 8 + length : pos + 12 + length]
            )
            if _zlib.crc32(ctag + body) & 0xFFFFFFFF != crc:
                raise ValueError("PNG chunk CRC mismatch")
            if ctag == b"IHDR":
                ihdr = body
            elif ctag == b"IDAT":
                idat.append(body)
            elif ctag == b"PLTE":
                plte = body
            elif ctag == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or not idat:
            raise ValueError("PNG missing IHDR or IDAT")
        w, h, depth, ctype, comp, filt, interlace = _struct.unpack(
            ">IIBBBBB", ihdr
        )
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            raise ValueError(
                f"unsupported PNG variant (bit depth {depth}, "
                f"interlace {interlace}) — only 8-bit non-interlaced "
                "is decodable without an external codec"
            )
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if ch is None:
            raise ValueError(f"unsupported PNG color type {ctype}")
        raw = _zlib.decompress(b"".join(idat))
        stride = w * ch
        if len(raw) != (stride + 1) * h or h == 0 or w == 0:
            raise ValueError("PNG pixel data length mismatch")
        out = _np.empty((h, stride), dtype=_np.uint8)
        prev = _np.zeros(stride, dtype=_np.uint8)
        for y in range(h):
            f = raw[y * (stride + 1)]
            line = _np.frombuffer(
                raw, _np.uint8, stride, y * (stride + 1) + 1
            ).copy()
            if f == 0:
                pass
            elif f == 2:  # Up — uint8 addition wraps mod 256 per spec
                line += prev
            elif f == 1:  # Sub — cumulative sum per byte lane
                line = (
                    _np.cumsum(line.reshape(-1, ch), axis=0, dtype=_np.int64)
                    .astype(_np.uint8)
                    .reshape(-1)
                )
            elif f in (3, 4):  # Average / Paeth — inherently sequential
                li = line.astype(_np.int32)
                pr = prev.astype(_np.int32)
                for i in range(stride):
                    a = int(li[i - ch]) if i >= ch else 0
                    b = int(pr[i])
                    if f == 3:
                        pred = (a + b) >> 1
                    else:
                        c = int(pr[i - ch]) if i >= ch else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    li[i] = (li[i] + pred) & 0xFF
                line = li.astype(_np.uint8)
            else:
                raise ValueError(f"bad PNG filter type {f}")
            out[y] = line
            prev = out[y]
        px = out.reshape(h, w, ch)
        if ctype == 3:
            if plte is None:
                raise ValueError("paletted PNG missing PLTE")
            pal = _np.frombuffer(plte, _np.uint8)
            if pal.size % 3 or int(px.max(initial=0)) >= pal.size // 3:
                raise ValueError("PNG palette index out of range")
            px = pal.reshape(-1, 3)[px[:, :, 0]]
        return px, ctype

    return png_pixels


def _make_png_encode():
    """Local-function PNG encoder (same by-value shipping rationale as
    ``_make_png_pixels``): 8-bit non-interlaced, filter 0 on every
    scanline, channel count picks the color type (1→gray, 2→gray+alpha,
    3→RGB, 4→RGBA).  Output round-trips through ``_make_png_pixels``."""

    def png_encode(px):
        import struct as _struct
        import zlib as _zlib

        h, w, ch = px.shape
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

        def chunk(tag, body):
            return (
                _struct.pack(">I", len(body))
                + tag
                + body
                + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    return png_encode


def _make_media_codec():
    """The payload decoding of ``decode_media``, ``resize_media`` and
    ``perceptual_hash``: one namespace of LOCAL functions (the by-value
    shipping rationale of ``_make_png_pixels``) that also carries the
    mime tuples, so it is the one source of dispatch for all three.

    - ``rows(pdf)`` — the row guard: yields ``(id, data, mime)`` per
      Arrow row.  A null id arrives as NaN (``int(NaN)`` kills the job —
      the compress.py/cdc_chunk.py guard) and becomes None; a null
      payload STRUCT (left-join miss) arrives as None (subscripting it
      raises TypeError) and yields ``data = mime = None``.
    - ``netpbm(data)`` — P6 PPM / P5 PGM -> ``(pixels h×w×ch, maxval)``.
      The one netpbm parser: the raster is bounded to the declared
      size (trailing bytes — an editor newline, a second image in the
      stream — are ignored, a truncated raster errors), and a sample
      above ``maxval`` errors like any other malformed input instead
      of falling outside the histogram range, re-emitting an invalid
      file from a resize, or hashing silently.
    - ``image(mime, data)`` — netpbm, PNG or JPEG -> ``(pixels,
      maxval)`` for the feature paths (histogram and aHash): PNG alpha
      is stripped so an RGBA re-save matches its RGB twin (same
      semantics as P6 vs P5), and grayscale JPEG stays 2-D.
    - ``wav(data)`` — 16-bit PCM WAV -> int16 samples.
    - ``gather(px, h, w)`` — nearest-neighbour resample of the first two
      axes (vectorized row/column index gather).
    - ``png_pixels`` / ``png_encode`` / ``jpeg_pixels`` /
      ``jpeg_encode`` — the codecs themselves (resize keeps PNG alpha
      and re-encodes).
    """
    import io as _io
    import re as _re
    import wave as _wave
    from types import SimpleNamespace

    import numpy as _np

    netpbm_mimes, png_mimes = NETPBM_MIMES, PNG_MIMES
    png_pixels, png_encode = _make_png_pixels(), _make_png_encode()
    jpeg_encode, jpeg_pixels = make_jpeg_codec()
    header_re = _re.compile(
        rb"(P[56])\s+(?:#[^\n]*\s+)*(\d+)\s+(?:#[^\n]*\s+)*(\d+)"
        rb"\s+(?:#[^\n]*\s+)*(\d+)\s"
    )

    def rows(pdf):
        for rid, payload in zip(pdf["_id"], pdf["_payload"]):
            rid = None if rid != rid else int(rid)
            if payload is None:
                yield rid, None, None
            else:
                yield rid, bytes(payload["data"] or b""), payload["meta"]["mime"]

    def netpbm(data):
        m = header_re.match(data)
        if not m:
            raise ValueError("malformed netpbm header")
        w, h, maxval = int(m.group(2)), int(m.group(3)), int(m.group(4))
        if not 0 < maxval < 256:
            raise ValueError(f"unsupported netpbm maxval {maxval}")
        ch = 3 if m.group(1) == b"P6" else 1
        px = _np.frombuffer(data, dtype=_np.uint8, offset=m.end(), count=w * h * ch)
        if px.size and int(px.max()) > maxval:
            raise ValueError("netpbm sample exceeds declared maxval")
        return px.reshape(h, w, ch), maxval

    def image(mime, data):
        if mime in netpbm_mimes:
            return netpbm(data)
        if mime in png_mimes:
            px, ctype = png_pixels(data)
            # gray+alpha (4) and RGBA (6) carry alpha as the last channel
            return (px[:, :, :-1] if ctype in (4, 6) else px), 255
        px, _nc = jpeg_pixels(data)
        return px, 255

    def wav(data):
        with _wave.open(_io.BytesIO(data)) as w:
            if w.getsampwidth() != 2:
                raise ValueError("only 16-bit PCM WAV supported")
            frames = w.readframes(w.getnframes())
        return _np.frombuffer(frames, dtype="<i2")

    def gather(px, h, w):
        ys = _np.arange(h) * px.shape[0] // h
        xs = _np.arange(w) * px.shape[1] // w
        return _np.ascontiguousarray(px[ys][:, xs])

    return SimpleNamespace(
        netpbm_mimes=netpbm_mimes,
        png_mimes=png_mimes,
        jpeg_mimes=JPEG_MIMES,
        wav_mimes=WAV_MIMES,
        image_mimes=netpbm_mimes + png_mimes + JPEG_MIMES,
        rows=rows,
        netpbm=netpbm,
        image=image,
        wav=wav,
        gather=gather,
        png_pixels=png_pixels,
        png_encode=png_encode,
        jpeg_pixels=jpeg_pixels,
        jpeg_encode=jpeg_encode,
    )


def _map_payloads(df, id_col, payload_col, fn, schema) -> DataFrame:
    """Narrow to (``_id`` long, ``_payload``) — the only columns the
    Python side reads — and run ``fn`` over the Arrow batches."""
    narrowed = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(payload_col).alias("_payload")
    )
    return narrowed.mapInPandas(fn, schema)


def decode_media(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    fake: bool = False,
    n_buckets: int = N_HIST_BUCKETS,
) -> DataFrame:
    """Decode payloads into fixed-size feature vectors via mapInPandas.

    Output schema: (id, mime, n_bytes, features array<double>[n_buckets]).

    Real path (``fake=False``): netpbm images (P6/P5) decode to a
    normalized pixel-intensity histogram over [0, maxval]; 8-bit PNG
    decodes (stdlib inflate+unfilter) to the same histogram over its
    color samples with alpha dropped, so an RGBA re-save of an RGB
    image featurizes identically; 16-bit PCM
    WAV decodes to a normalized amplitude histogram over the int16
    range.  Mimes outside ``REAL_DECODE_MIMES`` raise
    ``NotImplementedError`` at execution time — the honest marker that
    no compressed-format codec is installed here.  ``fake=True``
    bypasses parsing entirely with the byte-level histogram (any mime).
    """
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("mime", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    # NB: the closure must stay self-contained (no references to this
    # module's globals) so cloudpickle ships it by value — executors then
    # need only pandas/numpy, not this package on their PYTHONPATH.
    # Everything it decodes with comes from the codec factory as locals.
    media = _make_media_codec()

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _hist(values, maxval):
            # normalized histogram of integer samples over [0, maxval]
            idx = values.reshape(-1).astype(_np.int64) * n_buckets // (maxval + 1)
            counts = _np.bincount(idx, minlength=n_buckets)[:n_buckets]
            return [float(x) for x in counts / max(float(idx.size), 1.0)]

        for pdf in batches:
            rows = {"id": [], "mime": [], "n_bytes": [], "features": []}
            for rid, data, mime in media.rows(pdf):
                if data is None:
                    # left-join miss: no media — emit a null row rather
                    # than crashing (or faking an empty decode)
                    rows["id"].append(rid)
                    rows["mime"].append(None)
                    rows["n_bytes"].append(0)
                    rows["features"].append(None)
                    continue
                if fake:
                    counts = [0] * n_buckets
                    for b in data:
                        counts[b % n_buckets] += 1
                    total = float(sum(counts)) or 1.0
                    feats = [c / total for c in counts]
                elif mime in media.image_mimes:
                    # intensity histogram over COLOR samples, one block
                    # for netpbm, PNG and JPEG
                    feats = _hist(*media.image(mime, data))
                elif mime in media.wav_mimes:
                    feats = _hist(media.wav(data).astype(_np.int64) + 32768, 65535)
                else:
                    raise NotImplementedError(
                        f"no codec for mime {mime!r} in this environment; "
                        "pass fake=True for the byte-level decode"
                    )
                rows["id"].append(rid)
                rows["mime"].append(mime)
                rows["n_bytes"].append(len(data))
                rows["features"].append(feats)
            yield _pd.DataFrame(rows)

    return _map_payloads(df, id_col, payload_col, _decode_batch, out_schema)


def resize_media(
    df: DataFrame,
    id_col: str,
    target_width: int,
    target_height: int,
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Resize image payloads via mapInPandas, emitting a new payload
    bundle with updated meta (width/height set to the target).

    Real path (``fake=False``): netpbm payloads (P6 PPM / P5 PGM)
    decode, nearest-neighbor resample (vectorized numpy row/column
    gather), and re-encode as valid netpbm bytes of the same format;
    8-bit PNG decodes through the stdlib codec, resamples the same
    way (alpha preserved), and re-encodes as a valid PNG (paletted
    input comes back as plain RGB); baseline JPEG decodes through the
    stdlib codec and re-encodes at fixed quality 90, 4:4:4
    (deterministic bytes).  Other mimes raise NotImplementedError; a
    PIL-backed build extends the same dispatch.
    ``fake=True`` keeps the deterministic byte-stride "resample"
    (keep every ceil(len/target_area)-th byte) — schema-correct and
    size-bounded like a real thumbnail pass, for any mime.
    """
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )
    target_area = max(target_width * target_height, 1)
    media = _make_media_codec()  # captured by value (see decode_media)

    def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import pandas as _pd

        for pdf in batches:
            rows = {"id": [], "data": [], "mime": [], "width": [], "height": []}
            for rid, data, mime in media.rows(pdf):
                if data is None:
                    rows["id"].append(rid)
                    rows["data"].append(None)
                    rows["mime"].append(None)
                    rows["width"].append(target_width)
                    rows["height"].append(target_height)
                    continue
                if fake:
                    stride = max(1, _math.ceil(len(data) / target_area))
                    out = data[::stride]
                elif mime in media.netpbm_mimes:
                    px, maxval = media.netpbm(data)
                    magic = b"P6" if px.shape[2] == 3 else b"P5"
                    out = b"%s\n%d %d\n%d\n" % (
                        magic, target_width, target_height, maxval
                    ) + media.gather(px, target_height, target_width).tobytes()
                elif mime in media.png_mimes:
                    px, _ctype = media.png_pixels(data)
                    # paletted input re-encodes as plain RGB (palette
                    # expansion happened in the decoder); alpha survives
                    out = media.png_encode(media.gather(px, target_height, target_width))
                elif mime in media.jpeg_mimes:
                    px, _nc = media.jpeg_pixels(data)
                    # fixed quality 90, 4:4:4 — deterministic re-encode
                    out = media.jpeg_encode(
                        media.gather(px, target_height, target_width), 90
                    )
                else:
                    raise NotImplementedError(
                        f"no codec for mime {mime!r} in this environment; "
                        "pass fake=True for the byte-stride resample"
                    )
                rows["id"].append(rid)
                rows["data"].append(out)
                rows["mime"].append(mime)
                rows["width"].append(target_width)
                rows["height"].append(target_height)
            yield _pd.DataFrame(rows)

    resized = _map_payloads(df, id_col, payload_col, _resize_batch, out_schema)
    return resized.select(
        "id",
        F.struct(
            F.col("data"),
            F.struct(
                F.col("mime"),
                F.col("width"),
                F.col("height"),
                F.lit(None).cast("int").alias("n_frames"),
                F.lit(None).cast("int").alias("sample_rate"),
            ).alias("meta"),
        ).alias("payload"),
    )


def frame_sample(df: DataFrame, id_col: str, n_frames_col: str, every_n: int) -> DataFrame:
    """Frame sampling plan for video payloads: one output row per sampled
    frame index — pure ``sequence`` + ``explode``, no Python.  The decode
    of each sampled frame would then run through ``decode_media``.
    Zero-frame payloads produce NO rows (explode of the null sequence),
    never a phantom frame 0."""
    if every_n < 1:
        raise ValueError(
            f"every_n must be >= 1, got {every_n} (a zero step only "
            "fails deep inside the executor's sequence() otherwise)"
        )
    idxs = F.when(
        F.col(n_frames_col) > 0,
        F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every_n)),
    )
    return df.select(
        F.col(id_col), F.explode(idxs).alias("frame_idx")
    )


def perceptual_hash(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """64-bit perceptual hash (aHash) per payload via mapInPandas —
    the content-level near-dup key for media: re-encoded, metadata-
    stripped, or slightly-corrupted copies of the same image land
    within a few Hamming bits of each other, where byte hashes see
    nothing.

    Real path: netpbm and 8-bit PNG images decode, grayscale (channel
    mean, PNG alpha excluded so an RGBA re-save hashes like its RGB
    twin), nearest-neighbor 8x8 downsample, threshold each cell against
    the cell mean -> 64 bits packed MSB-first row-major (signed int64,
    two's complement).  16-bit PCM WAV uses 64 contiguous sample-block
    means thresholded the same way (the audio analog).  Other mimes
    raise NotImplementedError unless ``fake=True`` (64 byte-block
    means, any mime).  All decisions are strict ``>`` comparisons on
    IEEE doubles of exact integer sums — deterministic everywhere.

    Output: (id, phash long).  Empty payloads hash to 0.

    Scale: map-only Arrow stage, no shuffle; the hash is 8 bytes per
    asset, so downstream near-dup joins move hashes, never media bytes.
    """
    out_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("phash", T.LongType())]
    )
    media = _make_media_codec()  # captured by value (see decode_media)

    def _hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _pack(bits):
            # bits: (64,) bool, MSB-first -> signed int64
            by = _np.packbits(bits.astype(_np.uint8)).tobytes()
            return int.from_bytes(by, "big", signed=True)

        def _cells_hash(values):
            # 64 contiguous-block means thresholded at their own mean
            v = _np.asarray(values, dtype=_np.float64)
            if v.size == 0:
                return 0
            bounds = (_np.arange(65) * v.size) // 64
            sums = _np.add.reduceat(
                v, _np.minimum(bounds[:-1], v.size - 1)
            )
            counts = _np.maximum(bounds[1:] - bounds[:-1], 0)
            means = _np.where(counts > 0, sums / _np.maximum(counts, 1), 0.0)
            # threshold over NON-EMPTY cells only: with < 64 samples the
            # zero-filled empty cells dragged the global mean down and
            # near-identical tiny payloads of different lengths hashed
            # ~32 bits apart (review finding, r7); empty cells emit 0
            nz = counts > 0
            return _pack((means > means[nz].mean()) & nz)

        def _image_hash(px):
            # channel-mean gray, 8x8 gather, threshold at the cell mean
            gray = px.astype(_np.float64)
            if gray.ndim == 3:
                gray = gray.mean(axis=2)
            cells = media.gather(gray, 8, 8).ravel()
            return _pack(cells > cells.mean())

        for pdf in batches:
            ids, hashes = [], []
            for rid, data, mime in media.rows(pdf):
                if not data:
                    ph = 0
                elif fake:
                    ph = _cells_hash(_np.frombuffer(data, dtype=_np.uint8))
                elif mime in media.image_mimes:
                    ph = _image_hash(media.image(mime, data)[0])
                elif mime in media.wav_mimes:
                    ph = _cells_hash(media.wav(data))
                else:
                    raise NotImplementedError(
                        f"no codec for mime {mime!r} in this environment; "
                        "pass fake=True for the byte-level hash"
                    )
                ids.append(rid)
                hashes.append(ph)
            yield _pd.DataFrame({"id": ids, "phash": hashes})

    return _map_payloads(df, id_col, payload_col, _hash_batch, out_schema)


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "id",
    hash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs within ``max_hamming`` bits of each other on a 64-bit
    hash column, without an all-pairs join.

    Pigeonhole banding: split the hash into ``max_hamming + 1`` disjoint
    bit-bands — two hashes within the distance bound MUST agree exactly
    on at least one band, so candidates = ONE equi self-join on (band
    index, band value) (``dedup.band_candidates``), which Spark executes
    as an ordinary hash shuffle keyed on 16-bit-ish values.
    Verification is ``bit_count(a ^ b)`` — one JVM expression, no
    Python.  Returns (id_a, id_b, hamming), id_a < id_b.

    Scale: candidate volume is governed by band-value collisions, not
    corpus size squared; a degenerate band (e.g. all-zero high bits
    across the corpus) shows up as a hot band-value key, which AQE's
    skew splitting handles like any other hot join key.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    h = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).cast("long").alias("_h")
    )
    # max_hamming=0 -> one 64-bit band: (1 << 64) - 1 overflows LongType
    # and F.lit raises at plan build (probed, review r7); the shifted
    # value IS the whole hash there, so skip the mask entirely
    def _band_val(b: int):
        shifted = F.shiftrightunsigned(F.col("_h"), b * width)
        if width >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    # the hash rides through the kernel as a carried column (_ha/_hb),
    # so the verify needs no join back to the hash table
    cands = band_candidates(
        h.withColumn("_bands", F.array(*[_band_val(b) for b in range(n_bands)]))
    )
    hamming = F.bit_count(F.expr("_ha ^ _hb"))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"), "hamming"
        )
    )
