"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (BASELINE.json north star).

Design for 100 TB of media:
- The fact table stores `content: binary` next to a `media: struct`
  metadata column; Parquet stores the binary column contiguously and
  column pruning means metadata-only queries never touch the bytes.
- Decode / feature-extract / resize / hash / VAD kernels all run in ONE
  Arrow blob stage, `_blob_stage`: a single `mapInPandas` that hands
  each blob to a per-blob Python kernel exactly once and builds the
  output batch with nullable pandas dtypes derived from the output
  schema. Batch size is bounded by `spark.sql.execution.arrow.
  maxRecordsPerBatch` so executor memory stays flat. Each
  `X_features` / `synth_X` pair shares its kernel and differs only in
  where the blob comes from (the binary column, or `_blob_for(id)`).
- Formats whose byte layout needs no codec LIBRARY are decoded for
  real, in pure Python/numpy: BMP + PPM pixels, GIF via a from-scratch
  LZW decoder (`_gif_lzw_decode`), WAV PCM samples via `np.frombuffer`.
  Only codec-bound formats (JPEG/PNG/MP4/...) fall back to the
  deterministic `_decode_image` stub — the container has no
  PIL/ffmpeg/soundfile — so the Spark-side plumbing (schema,
  partitioning, UDF signature, batch shape) stays real and tested
  either way.
"""

from __future__ import annotations

import binascii
import math as _math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("format", StringType(), True),      # png|jpeg|wav|mp4|...
        StructField("n_bytes", LongType(), True),
        StructField("checksum_crc32", LongType(), True),
        StructField("width", IntegerType(), True),       # image/video
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),    # audio/video
    ]
)

DECODE_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("checksum_crc32", LongType(), True),
        StructField("fake_width", IntegerType(), True),
        StructField("fake_height", IntegerType(), True),
        StructField("feature", StringType(), True),
        # pixel-level stats — real for every raster format (BMP/PPM
        # direct, GIF via the pure-Python LZW decoder), NULL for audio
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("min_px", IntegerType(), True),
        StructField("max_px", IntegerType(), True),
        StructField("lum_b0", LongType(), True),
        StructField("lum_b1", LongType(), True),
        StructField("lum_b2", LongType(), True),
        StructField("lum_b3", LongType(), True),
    ]
)

_NO_PIXELS = (None,) * 9


def _blob_stage(
    df: DataFrame,
    schema: StructType,
    kernel,
    id_col: str,
    content_col: str | None = None,
    fan_out: bool = False,
) -> DataFrame:
    """The one Arrow stage every blob kernel in this module runs in.

    Selects `id_col` (plus `content_col` when given) and maps each
    Arrow batch through `kernel`, once per blob. The blob is the
    content value (`b""` for NULL) or, without a content column, the
    fixture blob `_blob_for(id)`. `kernel(blob)` returns the row's
    values after the id, in `schema` order; with `fan_out` it returns
    a list of such rows, zero or more per blob. The id lands in the
    schema's first field. Blobs never leave their scan partition.
    """
    import pandas as pd

    # Nullable pandas dtypes, derived once per stage from the schema.
    # NULL alone would survive a plain dtype (PySpark masks isnull() on
    # the way to Arrow); the reason is exactness: a Python int list
    # holding None becomes float64, exact only below 2**53
    # (pd.Series([2**60 + 1, None]) loses the value, dtype="Int64"
    # keeps it). String and binary columns stay object.
    nullable = {LongType: "Int64", IntegerType: "Int64", DoubleType: "Float64", BooleanType: "boolean"}
    names = schema.fieldNames()
    dtypes = [nullable.get(type(f.dataType), "object") for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].tolist()
            if content_col is None:
                blobs = map(_blob_for, ids)
            else:
                blobs = (b"" if v is None else bytes(v) for v in pdf[content_col])
            if fan_out:
                rows = [(i, *r) for i, blob in zip(ids, blobs) for r in kernel(blob)]
            else:
                rows = [(i, *kernel(blob)) for i, blob in zip(ids, blobs)]
            columns = zip(*rows) if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=t) for n, c, t in zip(names, columns, dtypes)}
            )

    from chesscom_etl_tableau_spark.util import ensure_parallelism

    # One Python worker per partition: spread narrow sources before the
    # Arrow exchange so kernel parallelism matches the cluster.
    selected = df.select(id_col) if content_col is None else df.select(id_col, content_col)
    return ensure_parallelism(selected).mapInPandas(run, schema=schema)


def _gif_lzw_decode(stream: bytes, min_code_size: int, max_pixels: int):
    """General GIF-flavor LZW decoder (variable code width
    min_code_size+1..12, LSB-first bit packing, clear/EOI codes, KwKwK
    self-reference). Pure Python — LZW needs no codec library; this is
    the 'environment-blocked' part of GIF decode, unblocked. Returns the
    pixel-index list, or None for a corrupt stream. `max_pixels` bounds
    output so a malicious blob cannot balloon memory.
    """
    # GIF pixel indices are palette bytes, so the spec bounds
    # min_code_size to 2..8; accept 1 for degenerate 1-bit images.
    if not 1 <= min_code_size <= 8:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in stream:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                del table[clear + 2 :]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return list(out)
            if prev is None:
                if code >= clear:
                    return None  # first code after clear must be literal
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]  # KwKwK case
                table.append(entry)
            else:
                return None
            out += entry
            if len(out) > max_pixels:
                return None
            prev = entry
            if len(table) >= (1 << code_size) and code_size < 12:
                code_size += 1
    return list(out)  # tolerate missing EOI (common in the wild)


def _gif_lzw_encode_literals(indices, min_code_size: int = 8) -> bytes:
    """Fixture-side LZW writer using the classic 'uncompressed GIF'
    technique: every pixel as a literal code, with a clear code every
    250 symbols so the decoder's table never forces the code width past
    min_code_size+1. Valid LZW that any decoder accepts, and its length
    is closed-form in the pixel count (the oracle recomputes it)."""
    clear = 1 << min_code_size
    code_size = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    count = 0
    for ix in indices:
        if count == 250:
            emit(clear)
            count = 0
        emit(ix)
        count += 1
    emit(clear + 1)  # EOI
    if nbits:
        out.append(acc & 0xFF)
        acc = nbits = 0
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    """Chunk a byte stream into GIF <=255-byte sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_pixels(data: bytes):
    """Full structural GIF decode: logical-screen descriptor, global /
    local color table, extension-block skip, image descriptor, then the
    LZW-compressed index stream via `_gif_lzw_decode`. Returns
    (width, height, palette_bytes, index_list) for the FIRST image, or
    None for anything malformed (total function)."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a") or len(data) < 13:
            return None
        flags = data[10]
        pos, palette = 13, None
        if flags & 0x80:
            n = 2 ** ((flags & 7) + 1)
            if pos + 3 * n > len(data):
                return None
            palette = data[pos : pos + 3 * n]
            pos += 3 * n
        while pos < len(data):
            b0 = data[pos]
            if b0 == 0x21:  # extension: introducer + label + sub-blocks
                pos += 2
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if b0 != 0x2C:  # trailer (0x3B) or junk before any image
                return None
            iw = int.from_bytes(data[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(data[pos + 7 : pos + 9], "little")
            iflags = data[pos + 9]
            pos += 10
            if iflags & 0x80:  # local color table wins
                n = 2 ** ((iflags & 7) + 1)
                if pos + 3 * n > len(data):
                    return None
                palette = data[pos : pos + 3 * n]
                pos += 3 * n
            if palette is None or pos >= len(data) or iw <= 0 or ih <= 0:
                return None
            min_code = data[pos]
            pos += 1
            stream = bytearray()
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                stream += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _gif_lzw_decode(bytes(stream), min_code, iw * ih)
            if idx is None or len(idx) < iw * ih:
                return None
            if any(3 * i + 2 >= len(palette) for i in idx):
                return None
            return iw, ih, bytes(palette), idx[: iw * ih]
        return None
    except (ValueError, IndexError):
        return None


def _rgb_stats(r, g, b) -> tuple:
    """Stats of int64 numpy channel arrays with the same columns and
    rounding as the BMP/PPM path: per-channel mean (6-dec), global
    min/max, and the 4-bin integer-luminance histogram."""
    import math

    import numpy as np

    n = r.size
    means = [
        math.floor(float(c.sum()) / n * 1000000.0 + 0.5) / 1000000.0
        for c in (r, g, b)
    ]
    mn = int(min(r.min(), g.min(), b.min()))
    mx = int(max(r.max(), g.max(), b.max()))
    lum = (299 * r + 587 * g + 114 * b) // 1000
    bins = np.minimum(lum // 64, 3)
    hist = [int((bins == i).sum()) for i in range(4)]
    return (*means, mn, mx, *hist)


def _gif_pixel_stats(data: bytes):
    """Palette-resolved pixel stats for GIF — vectorized numpy over the
    decoded index stream."""
    import numpy as np

    decoded = gif_pixels(data)
    if decoded is None:
        return _NO_PIXELS
    w, h, palette, idx = decoded
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    ix = np.asarray(idx, dtype=np.int64)
    return _rgb_stats(pal[ix, 0], pal[ix, 1], pal[ix, 2])


def pixel_stats(data: bytes):
    """Pixel-level features for raster payloads — no codec library
    anywhere (round-4 verdict ask #4): per-channel mean (6-dec), global
    min/max byte, and a 4-bin integer-luminance histogram
    (lum = (299R+587G+114B)//1000, bins of 64). BMP rows are bottom-up
    BGR padded to 4 bytes; PPM (P6) is RGB with a whitespace-token
    header; GIF goes through the pure-Python LZW decoder + palette
    lookup (`gif_pixels`). Returns a 9-tuple of Nones for non-raster /
    malformed blobs (total function).
    """
    import math

    try:
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return _gif_pixel_stats(data)
        if len(data) >= 26 and data[:2] == b"BM":
            off = int.from_bytes(data[10:14], "little")
            w = int.from_bytes(data[18:22], "little", signed=True)
            h = abs(int.from_bytes(data[22:26], "little", signed=True))
            bpp = int.from_bytes(data[28:30], "little")
            if bpp != 24 or w <= 0 or h <= 0:
                return _NO_PIXELS
            stride = (3 * w + 3) // 4 * 4
            if off + stride * h > len(data):
                return _NO_PIXELS
            # channel order in the row is B,G,R
            def px(r, j, c):
                return data[off + r * stride + 3 * j + c]
            order = (2, 1, 0)  # (R,G,B) channel -> byte index within px
        elif data[:2] == b"P6":
            toks, pos, tok = [], 2, b""
            while pos < len(data) and len(toks) < 3:
                b = data[pos : pos + 1]
                if b.isspace():
                    if tok:
                        toks.append(tok)
                        tok = b""
                else:
                    tok += b
                pos += 1
            w, h, maxval = (int(t) for t in toks)
            if maxval != 255 or w <= 0 or h <= 0 or pos + 3 * w * h > len(data):
                return _NO_PIXELS
            def px(r, j, c):
                return data[pos + 3 * (r * w + j) + c]
            order = (0, 1, 2)
        else:
            return _NO_PIXELS

        sums = [0, 0, 0]
        mn, mx = 255, 0
        hist = [0, 0, 0, 0]
        for r in range(h):
            for j in range(w):
                rgb = [px(r, j, order[c]) for c in range(3)]
                for c in range(3):
                    v = rgb[c]
                    sums[c] += v
                    if v < mn:
                        mn = v
                    if v > mx:
                        mx = v
                lum = (299 * rgb[0] + 587 * rgb[1] + 114 * rgb[2]) // 1000
                hist[min(lum // 64, 3)] += 1
        n = w * h
        means = [math.floor(s / n * 1000000.0 + 0.5) / 1000000.0 for s in sums]
        return (*means, mn, mx, *hist)
    except (ValueError, IndexError):
        return _NO_PIXELS


AUDIO_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("peak_abs", IntegerType(), True),
        StructField("rms", DoubleType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)

SPECTRAL_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("n_bins", LongType(), True),
        StructField("dc_sum", LongType(), True),
        StructField("energy", LongType(), True),
        StructField("fundamental_bin_lo", LongType(), True),
        StructField("peak_at_fundamental", BooleanType(), True),
        StructField("parseval_holds", BooleanType(), True),
    ]
)


def audio_spectral(data: bytes, period_samples: int = 128):
    """Frequency-domain features for PCM 16-bit WAV payloads via a real
    FFT (np.fft.rfft). Designed so an engine WITHOUT an FFT can still
    verify the output end-to-end:

    - `dc_sum` is the DC bin X[0] — mathematically the exact integer
      sample sum, which a SQL oracle recomputes directly (float64 is
      exact for sums far below 2^53);
    - `energy` is the exact integer sum of squared samples, and
      `parseval_holds` asserts sum|X_k|^2 / n equals it to 1e-6
      relative — the FFT's internal consistency check;
    - `peak_at_fundamental` asserts the strongest non-DC bin lies
      within one bin of n/period_samples — the fixture payload is a
      sawtooth with period `period_samples`, whose 1/k harmonic decay
      puts the spectral peak at the fundamental even under leakage.

    Returns (n_samples, n_bins, dc_sum, energy, fundamental_bin_lo,
    peak_at_fundamental, parseval_holds); Nones for non-WAV blobs.
    """
    import numpy as np

    parsed = wav_pcm_samples(data)
    if parsed is None:
        return _NO_SPECTRAL
    _, s = parsed
    n = int(s.size)
    if n == 0:
        return (0, 0, None, None, None, None, None)
    s64 = s.astype(np.int64)
    spec = np.fft.rfft(s64.astype(np.float64))
    mag2 = (spec.real * spec.real + spec.imag * spec.imag)
    dc = int(round(spec[0].real))
    energy = int((s64 * s64).sum())
    # Parseval for rfft of a real signal: sum over the FULL spectrum is
    # mag2[0] + mag2[-1 if even n] + 2 * the interior bins
    interior = mag2[1:-1] if n % 2 == 0 else mag2[1:]
    total = mag2[0] + (mag2[-1] if n % 2 == 0 else 0.0) + 2.0 * interior.sum()
    parseval = abs(total / n - energy) <= 1e-6 * max(energy, 1)
    peak_bin = int(np.argmax(mag2[1:]) + 1) if mag2.size > 1 else 0
    f0 = n / period_samples
    return (
        n,
        int(mag2.size),
        dc,
        energy,
        int(f0),
        bool(abs(peak_bin - f0) <= 1.0),
        bool(parseval),
    )


_NO_SPECTRAL = (None,) * 7


def synth_spectral_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture blob-gen + FFT analysis fused into one Arrow stage (the
    `synth_audio_stats` shape); only the WAV residue class
    (doc_id % 4 == 3) carries PCM payloads. numpy's rfft runs per blob
    (no shuffle: blobs never leave their scan partition); non-WAV blobs
    yield NULLs."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == 3), SPECTRAL_OUT_SCHEMA, audio_spectral, id_col
    )


_NO_AUDIO = (None,) * 5


def wav_pcm_samples(data: bytes):
    """RIFF chunk walk -> (sample_rate, int16 numpy array) for a PCM
    16-bit WAV; None for anything else (total function). PCM is raw
    little-endian samples — no codec library needed, `np.frombuffer`
    is the whole decode.
    """
    import numpy as np

    try:
        if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            return None
        pos, rate, bits, codec, payload = 12, None, None, None, None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            csize = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body = data[pos + 8 : pos + 8 + csize]
            if cid == b"fmt " and len(body) >= 16:
                codec = int.from_bytes(body[0:2], "little")
                rate = int.from_bytes(body[4:8], "little")
                bits = int.from_bytes(body[14:16], "little")
            elif cid == b"data":
                payload = body
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if codec != 1 or bits != 16 or not rate or payload is None:
            return None
        return rate, np.frombuffer(payload[: len(payload) // 2 * 2], dtype="<i2")
    except (ValueError, IndexError):
        return None


def audio_stats(data: bytes, decimate: int = 1):
    """Sample-level audio features for PCM 16-bit WAV payloads:
    (sample_rate, n_samples, peak_abs, rms, zero_crossings); Nones for
    non-PCM/non-WAV blobs. All vectorized numpy over the raw sample
    array — sums in int64 (a squared int16 cannot overflow int64 until
    ~2^25 samples per blob times 2^30 each; int64 holds 2^63).

    `decimate=m` keeps every m-th sample before analysis (the audio
    twin of nearest-neighbor resize: resample-in-time by index map);
    the reported sample_rate is divided accordingly.

    rms is floor(x*1e6+0.5)/1e6-rounded so the SQL oracle can reproduce
    it bit-for-bit; zero_crossings counts sign-flag changes between
    consecutive samples with `s < 0` as the flag (0 counts as
    non-negative) — the definition the oracle's LAG form mirrors.
    """
    import math

    import numpy as np

    parsed = wav_pcm_samples(data)
    if parsed is None:
        return _NO_AUDIO
    rate, s = parsed
    if decimate > 1:
        s = s[::decimate]
        rate //= decimate
    if s.size == 0:
        return (rate, 0, None, None, None)
    s64 = s.astype(np.int64)
    peak = int(np.abs(s64).max())
    rms = math.floor(math.sqrt(float((s64 * s64).sum()) / s.size) * 1e6 + 0.5) / 1e6
    neg = s64 < 0
    zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
    return (rate, int(s.size), peak, rms, zc)


RESAMPLE_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("peak_abs", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def audio_resample_stats(data: bytes, target_rate: int):
    """Linear-interpolation resample of a PCM 16-bit WAV to an ARBITRARY
    target rate, then the sample-level stats — the proper resampler the
    decimate-only `audio_stats(decimate=m)` path could not express
    (non-integer ratios like 8000 -> 3000 Hz; a real speech pipeline
    normalizes heterogeneous corpora to one rate before featurization).

    Output sample j sits at input position pos = j * rate / target;
    with i0 = floor(pos) and frac = pos - i0 the value is the blend
    s[i0] * (1 - frac) + s[i0+1] * frac (end-clamped). All arithmetic
    stays in EXACT integers scaled by `target` — out_num =
    s[i0]*(target - r) + s[i0+1]*r with r = (j*rate) mod target — so
    sign tests (zero crossings) and maxima are exact, and the rms sum
    runs in arbitrary-precision Python ints before ONE int->double
    conversion; the SQL oracle reproduces the identical double via
    HUGEINT sum -> CAST, making the micro-floored stats engine-exact.
    Output length floor(n * target / rate) — same-duration coverage.

    peak_abs is a DOUBLE here (a blended sample is fractional), unlike
    `audio_stats`' integer peak. Nones for non-PCM/non-WAV blobs.

    Scale: vectorized numpy per blob inside the caller's Arrow stage;
    the exact-int rms sum is O(n) Python int ops per blob — the
    engine-exactness anchor at fixture scale (a production variant
    would accept float64 pairwise summation and skip the oracle).
    """
    import numpy as np

    parsed = wav_pcm_samples(data)
    if parsed is None:
        return _NO_AUDIO
    rate, s = parsed
    n = int(s.size)
    if n == 0 or target_rate <= 0 or rate <= 0:
        return (target_rate if target_rate > 0 else None, 0, None, None, None)
    n_out = (n * target_rate) // rate
    if n_out == 0:
        return (target_rate, 0, None, None, None)
    j = np.arange(n_out, dtype=np.int64)
    pos = j * rate
    i0 = np.minimum(pos // target_rate, n - 1)
    r = pos % target_rate
    i1 = np.minimum(i0 + 1, n - 1)
    s64 = s.astype(np.int64)
    num = s64[i0] * (target_rate - r) + s64[i1] * r  # value * target, exact
    peak = float(int(np.abs(num).max())) / float(target_rate)
    total = 0
    for x in num.tolist():  # arbitrary-precision: sum can pass 2^63
        total += x * x
    rms = _math.sqrt(float(total) / n_out) / float(target_rate)
    neg = num < 0
    zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
    return (
        target_rate,
        n_out,
        _math.floor(peak * 1e6 + 0.5) / 1e6,
        _math.floor(rms * 1e6 + 0.5) / 1e6,
        zc,
    )


def synth_audio_resample(
    docs: DataFrame, target_rate: int, id_col: str = "doc_id"
) -> DataFrame:
    """Fixture blob-gen + arbitrary-rate linear resample fused into ONE
    Arrow stage (the `synth_audio_stats` shape): in production the
    binary column comes off the parquet scan and this is a single
    mapInPandas over it. Only the WAV residue class (doc_id % 4 == 3)
    carries PCM payloads."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == 3),
        RESAMPLE_OUT_SCHEMA,
        lambda blob: audio_resample_stats(blob, target_rate),
        id_col,
    )


def audio_features(media_df: DataFrame, id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """Arrow-batched PCM analysis over a binary media column — the
    audio twin of `decode_features`. Total over arbitrary bytes:
    non-WAV blobs yield NULL stats rather than errors."""
    return _blob_stage(media_df, AUDIO_OUT_SCHEMA, audio_stats, id_col, content_col)


def synth_audio_stats(
    docs: DataFrame, id_col: str = "doc_id", decimate: int = 1
) -> DataFrame:
    """Fixture blob-gen + PCM analysis fused into ONE Arrow stage (the
    same single-pass shape `synth_decode_features` uses): in production
    the binary column comes off the parquet scan and this is a single
    mapInPandas over it. Only the WAV residue class of the fixture
    round-robin (doc_id % 4 == 3) carries PCM payloads."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == 3),
        AUDIO_OUT_SCHEMA,
        lambda blob: audio_stats(blob, decimate),
        id_col,
    )


def _decode_image(data: bytes) -> tuple[int, int]:
    """Fallback descriptor for UNRECOGNIZED blobs (e.g. raw utf-8 text
    fixtures): a deterministic checksum-derived pseudo-size, so the
    pipeline stays total. Recognized formats go through `parse_media`
    instead — real header parsing, no codec library needed. A full
    pixel decode (PIL / ffmpeg) is still environment-blocked here.
    """
    crc = binascii.crc32(data)
    return 64 + crc % 1024, 64 + (crc >> 10) % 1024


def parse_media(data: bytes):
    """Pure-Python container-header parser: (format, width, height,
    duration_ms), Nones for an unrecognized blob.

    Real structural decoding of four self-describing formats:
    - BMP: BITMAPINFOHEADER width/height (int32 LE at offsets 18/22);
    - PPM (P6): ascii "P6\\n<w> <h>\\n<maxval>\\n" header;
    - GIF (87a/89a): logical-screen descriptor (uint16 LE at 6/8);
    - WAV: RIFF chunk walk — fmt byte-rate + data size -> duration.
    """
    try:
        if len(data) >= 26 and data[:2] == b"BM":
            w = int.from_bytes(data[18:22], "little", signed=True)
            h = int.from_bytes(data[22:26], "little", signed=True)
            return "bmp", w, abs(h), None  # negative h = top-down rows
        if data[:2] == b"P6":
            # header tokens may be separated by any whitespace
            toks = data[2:64].split()
            w, h = int(toks[0]), int(toks[1])
            return "ppm", w, h, None
        if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
            w = int.from_bytes(data[6:8], "little")
            h = int.from_bytes(data[8:10], "little")
            return "gif", w, h, None
        if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            pos, byte_rate, data_size = 12, None, None
            while pos + 8 <= len(data):
                cid = data[pos : pos + 4]
                csize = int.from_bytes(data[pos + 4 : pos + 8], "little")
                if cid == b"fmt ":
                    byte_rate = int.from_bytes(data[pos + 16 : pos + 20], "little")
                elif cid == b"data":
                    data_size = csize
                pos += 8 + csize + (csize & 1)  # chunks are word-aligned
            if byte_rate and data_size is not None:
                return "wav", None, None, data_size * 1000 // byte_rate
    except (ValueError, IndexError):
        pass
    return None, None, None, None


def _blob_for(doc_id: int) -> bytes:
    """Deterministic REAL media blob for a doc id — format round-robins
    bmp/ppm/gif/wav; dimensions/duration/pixels/samples are closed-form
    in doc_id so a SQL oracle can verify what the byte-level parsers
    extract:

        w = 8 + doc_id % 24, h = 8 + (doc_id*3) % 24,
        wav duration_ms = 100 + doc_id % 200 (PCM byte i = (doc_id+i)%256),
        gif pixel index at raster position t = (doc_id + t) % 256.
    """
    fmt = doc_id % 4
    w = 8 + doc_id % 24
    h = 8 + (doc_id * 3) % 24
    if fmt == 0:  # BMP, 24bpp, rows padded to 4 bytes
        row = (3 * w + 3) // 4 * 4
        pixels = bytes((doc_id + i) % 256 for i in range(row)) * h
        size = 54 + row * h
        return (
            b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"\x00" * 24
            + pixels
        )
    if fmt == 1:  # PPM P6
        header = f"P6\n{w} {h}\n255\n".encode()
        return header + bytes((doc_id + i) % 256 for i in range(3 * w)) * h
    if fmt == 2:
        # Real GIF89a: 256-entry global color table with palette
        # i -> (i, 255-i, (3i)%256), pixel index at raster position t
        # is (doc_id + t) % 256, LZW-encoded (literal codes + periodic
        # clears — see _gif_lzw_encode_literals). Every byte is
        # closed-form in doc_id so the oracle can recompute the stats
        # AND the total length.
        palette = bytes(
            v for i in range(256) for v in (i, 255 - i, (3 * i) % 256)
        )
        indices = [(doc_id + t) % 256 for t in range(w * h)]
        return (
            b"GIF89a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\xf7\x00\x00"  # GCT present, 256 entries; bg 0; aspect 0
            + palette
            + b"\x2c" + b"\x00" * 4  # image descriptor at (0,0)
            + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
            + bytes([8])  # LZW min code size
            + _sub_blocks(_gif_lzw_encode_literals(indices))
            + b"\x3b"
        )
    # WAV: PCM mono 8 kHz 16-bit -> byte_rate 16000; n_samples chosen
    # as a multiple of 8 so duration_ms is exact integer math.
    dur_ms = 100 + doc_id % 200
    n_samples = 8 * dur_ms  # dur_ms = (2*n_samples)*1000 / 16000
    data_size = 2 * n_samples
    return (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_size.to_bytes(4, "little")
        + bytes((doc_id + i) % 256 for i in range(data_size))
    )


def _decode_row(data: bytes):
    """The decode kernel: every DECODE_OUT_SCHEMA value after doc_id.
    Recognized containers (BMP/PPM/GIF/WAV) get real header metadata
    via `parse_media`; anything else falls back to the checksum-derived
    pseudo-size so the kernel is total over arbitrary bytes."""
    fmt, w, h, dur = parse_media(data)
    return (
        fmt, w, h, dur,
        len(data),
        binascii.crc32(data),
        *_decode_image(data),
        # "feature": a tiny stable descriptor (first 8 bytes hex).
        binascii.hexlify(data[:8]).decode(),
        *pixel_stats(data),
    )


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Testdata adapter: materialize a binary column (utf-8 of text) +
    media metadata struct, the shape a real media table would have."""
    content = F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    return docs.withColumn("content", content).withColumn(
        "media",
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.length(F.col("content")).cast("long").alias("n_bytes"),
            F.crc32(F.col("content")).alias("checksum_crc32"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


_MEDIA_BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
    ]
)


def attach_media_blob(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture adapter for real-container decoding: (doc_id, content)
    where content is a genuine BMP/PPM/GIF/WAV blob built
    deterministically from the id (see `_blob_for`). In production the
    binary column arrives from the lakehouse; this stage exists so the
    header parsers can be exercised — and oracle-checked — without any
    media fixtures in the environment."""
    return _blob_stage(docs, _MEDIA_BLOB_SCHEMA, lambda blob: (blob,), id_col)


def synth_decode_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """`attach_media_blob` + `decode_features` fused into ONE Arrow
    stage. In production the binary column comes off the parquet scan
    and decode is a single mapInPandas — the two-stage fixture form
    pays an extra Arrow round-trip + shuffle boundary that the real
    pipeline does not have, so the benched/registered query uses this
    fused shape. Identical output to the composed form (asserted in
    tests)."""
    return _blob_stage(docs, DECODE_OUT_SCHEMA, _decode_row, id_col)


def decode_features(media_df: DataFrame, id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """Arrow-batched decode/feature-extract over the binary column
    (`_decode_row` per blob; a NULL blob decodes as empty bytes)."""
    return _blob_stage(media_df, DECODE_OUT_SCHEMA, _decode_row, id_col, content_col)


def frame_sample_plan(media_df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    timestamp, bytes decoding stubbed. Demonstrates the explode-style
    fan-out a real frame extractor would produce."""
    n_frames = F.greatest((F.col("media")["n_bytes"] / F.lit(every_ms)).cast("int"), F.lit(1))
    return media_df.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


RESIZE_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("out_w", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("tl_r", IntegerType(), True),   # top-left pixel
        StructField("tl_g", IntegerType(), True),
        StructField("tl_b", IntegerType(), True),
        StructField("br_r", IntegerType(), True),   # bottom-right pixel
        StructField("br_g", IntegerType(), True),
        StructField("br_b", IntegerType(), True),
    ]
)


def decode_raster(data: bytes):
    """Full raster decode to an (h, w, 3) uint8 RGB array for the
    codec-free formats — BMP (bottom-up or top-down, BGR, row padding),
    PPM (P6), GIF (via the LZW decoder + palette). None for anything
    else (total). This is the array the resize / feature stages
    operate on; stats-only callers keep using `pixel_stats` which
    avoids materializing the raster."""
    import numpy as np

    try:
        if data[:6] in (b"GIF87a", b"GIF89a"):
            dec = gif_pixels(data)
            if dec is None:
                return None
            w, h, palette, idx = dec
            pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
            return pal[np.asarray(idx, dtype=np.int64)].reshape(h, w, 3)
        if len(data) >= 30 and data[:2] == b"BM":
            off = int.from_bytes(data[10:14], "little")
            w = int.from_bytes(data[18:22], "little", signed=True)
            h_raw = int.from_bytes(data[22:26], "little", signed=True)
            bpp = int.from_bytes(data[28:30], "little")
            h = abs(h_raw)
            if bpp != 24 or w <= 0 or h == 0:
                return None
            stride = (3 * w + 3) // 4 * 4
            if off + stride * h > len(data):
                return None
            raw = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
            rows = raw.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
            if h_raw > 0:  # bottom-up storage: first stored row is the LAST image row
                rows = rows[::-1]
            return rows[:, :, ::-1].copy()  # BGR -> RGB
        if data[:2] == b"P6":
            toks, pos, tok = [], 2, b""
            while pos < len(data) and len(toks) < 3:
                b = data[pos : pos + 1]
                if b.isspace():
                    if tok:
                        toks.append(tok)
                        tok = b""
                else:
                    tok += b
                pos += 1
            w, h, maxval = (int(t) for t in toks)
            if maxval != 255 or w <= 0 or h <= 0 or pos + 3 * w * h > len(data):
                return None
            return (
                np.frombuffer(data, dtype=np.uint8, count=3 * w * h, offset=pos)
                .reshape(h, w, 3)
                .copy()
            )
        return None
    except (ValueError, IndexError):
        return None


def resize_nearest(arr, out_w: int, out_h: int):
    """Nearest-neighbor resample of an (h, w, 3) array to
    (out_h, out_w, 3): output pixel (y, x) takes source pixel
    (floor(y*h/out_h), floor(x*w/out_w)) — the standard index map,
    vectorized with numpy fancy indexing."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[np.ix_(ys, xs)]


def _resize_row(data: bytes, out_w: int, out_h: int):
    """The resize kernel: format, then (for a raster) the resized
    size, per-channel mean and the top-left / bottom-right pixels."""
    fmt = parse_media(data)[0]
    arr = decode_raster(data)
    if arr is None:
        return (fmt,) + (None,) * 11
    rs = resize_nearest(arr, out_w, out_h).astype("int64")
    n = out_w * out_h
    means = [
        _math.floor(float(rs[:, :, c].sum()) / n * 1e6 + 0.5) / 1e6 for c in range(3)
    ]
    return (
        fmt, out_w, out_h, *means,
        *(int(v) for v in rs[0, 0]),
        *(int(v) for v in rs[-1, -1]),
    )


def synth_resize_stats(
    docs: DataFrame, id_col: str = "doc_id", out_w: int = 8, out_h: int = 8
) -> DataFrame:
    """Fixture blob-gen + decode + nearest-neighbor resize fused into
    one Arrow stage (the `resize` step of the multimodal brief): each
    raster fixture (bmp/ppm/gif residue classes) is decoded, resampled
    to (out_w, out_h), and summarized — per-channel mean plus the
    top-left and bottom-right pixels, which pin the sampling positions
    AND the row orientation for the oracle."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 != 3),
        RESIZE_OUT_SCHEMA,
        lambda blob: _resize_row(blob, out_w, out_h),
        id_col,
    )


def dhash_hex(arr) -> str:
    """Difference-hash (dHash) of an (h, w, 3) uint8 raster: integer
    luminance (r+g+b)//3, nearest-neighbor sample to a 9x8 grid, one
    bit per horizontal neighbor pair (msb-first per row), 16 lowercase
    hex chars. The standard perceptual near-dup fingerprint (aHash/
    dHash/pHash family): small content edits flip few bits, so
    near-duplicate images sit within a small Hamming distance."""
    import numpy as np

    lum = arr.astype("int64").sum(axis=2) // 3
    h, w = lum.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    g = lum[np.ix_(ys, xs)]
    bits = (g[:, 1:] > g[:, :-1]).astype(int)
    return "".join(
        f"{int(sum(int(b) << (7 - j) for j, b in enumerate(row))):02x}"
        for row in bits
    )


DHASH_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", StringType()),
    ]
)


def _raster_hash(hash_hex):
    """Kernel factory: decode the raster, then one hash column (NULL
    when the blob is not a raster)."""

    def kernel(data: bytes):
        arr = decode_raster(data)
        return (None if arr is None else hash_hex(arr),)

    return kernel


def synth_dhash(docs: DataFrame, id_col: str = "doc_id", residue: int = 2) -> DataFrame:
    """Perceptual hashes for the raster fixture blobs of one format
    residue class (default 2 = GIF, the only fixture whose pixels vary
    by row): blob-gen -> REAL decode (LZW for GIF) -> dhash, fused in
    one Arrow stage. The downstream near-dup join runs on the hash
    column only — image bytes never shuffle."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == residue), DHASH_OUT_SCHEMA, _raster_hash(dhash_hex), id_col
    )


def dhash_neardup_stats(
    sigs: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 8,
) -> DataFrame:
    """Banded perceptual near-dup search over dHash signatures: two
    images are near-dups when they share at least one of the four
    16-bit hash bands (the LSH candidate gate — identical to the
    MinHash banding scheme) AND their full 64-bit Hamming distance is
    <= `max_hamming`. Per image: partner count and minimum distance.

    Scale shape: the band explode + equi-join buckets candidates
    (never all-pairs); Hamming runs as two 32-bit XOR+bit_count ops on
    codegen longs — no per-bit loops, no Python."""
    half = lambda c, i: F.conv(F.substring(c, i, 8), 16, 10).cast("long")  # noqa: E731
    bands = sigs.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.posexplode(
            F.array(*[F.substring(hash_col, 1 + 4 * i, 4) for i in range(4)])
        ).alias("__band_i", "__band_v"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    # distinct candidates first, Hamming once per unique pair (same r11
    # advice shape as phash_neardup_stats — a pair sharing m bands used
    # to pay the XOR/bit_count m times inside the distinct key)
    cand = (
        a.join(
            b,
            (F.col("a.__band_i") == F.col("b.__band_i"))
            & (F.col("a.__band_v") == F.col("b.__band_v"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.col("a.__h").alias("__ha"),
            F.col("b.__h").alias("__hb"),
        )
        .distinct()
    )
    pairs = cand.select(
        "doc_a",
        "doc_b",
        (
            F.bit_count(half(F.col("__ha"), 1).bitwiseXOR(half(F.col("__hb"), 1)))
            + F.bit_count(half(F.col("__ha"), 9).bitwiseXOR(half(F.col("__hb"), 9)))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    sym = pairs.unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "hamming",
        )
    )
    agg = sym.groupBy(F.col("doc_a").alias("__id")).agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.min("hamming").alias("min_hamming"),
    )
    return sigs.join(agg, sigs[id_col] == agg["__id"], "left").select(
        id_col,
        hash_col,
        F.coalesce(F.col("n_partners"), F.lit(0)).cast("long").alias("n_partners"),
        F.col("min_hamming").cast("long").alias("min_hamming"),
    )


# ---------------------------------------------------------------------------
# Entropy-coded decode (JPEG/PNG) behind a capability gate
# ---------------------------------------------------------------------------
class MissingCodecError(RuntimeError):
    """Raised at PLAN BUILD time when an entropy-coded decode is
    requested but no codec library is importable — a loud, immediate
    failure instead of 10^6 per-row task errors at execute time."""


def codec_available() -> bool:
    """True when PIL (pillow) is importable — the capability gate for
    the entropy-coded image decode path. Checked on the DRIVER at plan
    build; executors in a correctly-provisioned cluster share the
    environment, and a mixed cluster fails the task with the normal
    ImportError traceback."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError:
        return False
    return True


CODEC_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("min_px", IntegerType(), True),
        StructField("max_px", IntegerType(), True),
        StructField("lum_b0", LongType(), True),
        StructField("lum_b1", LongType(), True),
        StructField("lum_b2", LongType(), True),
        StructField("lum_b3", LongType(), True),
    ]
)


def codec_pixel_stats(
    frames: DataFrame, blob_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Pixel stats for ENTROPY-CODED images (JPEG/PNG/WebP — whatever
    PIL can open) over a binary column, via ``mapInArrow``: blobs cross
    the JVM->Python boundary as Arrow record batches (one copy, no
    pickling), each batch is decoded and reduced to a 13-column stats
    batch, and the image bytes never shuffle — the same columns,
    rounding, and luminance binning as the pure-Python raster path
    (``pixel_stats``), so downstream queries are format-agnostic.

    Capability-gated: raises :class:`MissingCodecError` at plan-build
    time when PIL is absent (this container ships none — the gated
    tests SKIP there and light up when pillow appears). Malformed or
    unopenable blobs yield NULL stats with the format PIL reported (or
    NULL), keeping the function total like every other decode stage.

    At 100 TB: decode cost is per-byte CPU in an Arrow-batched Python
    worker; partition sizing bounds worker memory (maxRecordsPerBatch),
    and the stats output is ~100 bytes/row — the scan is the cost, the
    result is free to shuffle.
    """
    if not codec_available():
        raise MissingCodecError(
            "codec_pixel_stats needs pillow (PIL) for entropy-coded "
            "image decode; it is not importable in this environment. "
            "BMP/PPM/GIF/WAV payloads decode without it — see "
            "decode_features/pixel_stats."
        )

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(CODEC_STATS_SCHEMA)

    def gen(batches):
        import io

        import numpy as np
        import pyarrow as pa
        from PIL import Image

        for batch in batches:
            ids = batch.column(id_col).to_pylist()
            blobs = batch.column(blob_col).to_pylist()
            out = {k.name: [] for k in CODEC_STATS_SCHEMA.fields}
            for doc_id, raw in zip(ids, blobs):
                fmt = w = h = None
                stats = (None,) * 9
                if raw is not None:
                    try:
                        with Image.open(io.BytesIO(bytes(raw))) as im:
                            fmt = (im.format or "").lower() or None
                            w, h = im.size
                            arr = np.asarray(im.convert("RGB"), dtype=np.int64)
                        stats = _rgb_stats(*(arr[..., c].ravel() for c in range(3)))
                    except Exception:
                        stats = (None,) * 9
                row = (int(doc_id), fmt, w, h, *stats)
                for f, v in zip(CODEC_STATS_SCHEMA.fields, row):
                    out[f.name].append(v)
            yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    from chesscom_etl_tableau_spark.util import ensure_parallelism

    return ensure_parallelism(frames.select(id_col, blob_col)).mapInArrow(
        gen, schema=CODEC_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# pHash (DCT perceptual hash) — the frequency-domain complement to dHash
# ---------------------------------------------------------------------------
# Fixed-point DCT-II cosine table: PHASH_COS_TAB[k][n] =
# round(cos(pi*(2n+1)*k/64) * 2^14) for k in 0..7, n in 0..31. dHash
# compares neighboring pixels (edge structure); pHash thresholds the
# low-frequency DCT block against its median (global structure), so it
# survives edits dHash misses (brightness ramps, mild blur/rescale).
# The table is INTEGER by construction — the whole transform runs in
# exact int64 arithmetic (255 * 32^2 * 2^28 < 2^63), so the hash is
# bit-identical on every engine: no float summation-order hazard, the
# same trick JPEG's fixed-point DCT implementations use. The DuckDB
# oracle receives this exact table as literals (engine-portability by
# shared constants, the repo's micro-unit convention applied to a
# transform kernel).
PHASH_COS_TAB: list[list[int]] = [
    [round(_math.cos(_math.pi * (2 * n + 1) * k / 64.0) * 16384) for n in range(32)]
    for k in range(8)
]


def phash_hex(arr) -> str:
    """64-bit pHash of an (h, w, 3) uint8 raster: integer luminance
    (r+g+b)//3, nearest-neighbor sample to 32x32, fixed-point 2D
    DCT-II (PHASH_COS_TAB), then one bit per low-frequency coefficient
    — the 8x8 block minus DC, bit = coef > lower-median of the 63 —
    packed msb-first (row-major over (vertical u, horizontal v)) with
    a trailing 0 pad bit; 16 lowercase hex chars."""
    import numpy as np

    lum = arr.astype("int64").sum(axis=2) // 3
    h, w = lum.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g = lum[np.ix_(ys, xs)]
    c = np.asarray(PHASH_COS_TAB, dtype=np.int64)
    d = c @ g @ c.T  # d[u, v]: u = vertical frequency, v = horizontal
    coefs = d.flatten()[1:]  # drop DC -> 63 coefficients
    med = int(np.sort(coefs)[31])  # lower median: exact integer
    bits = np.append((coefs > med).astype(np.int64), 0)
    chunks = [
        int(sum(int(b) << (15 - j) for j, b in enumerate(bits[16 * i : 16 * i + 16])))
        for i in range(4)
    ]
    return "".join(f"{v:04x}" for v in chunks)


PHASH_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", StringType()),
    ]
)


def synth_phash(docs: DataFrame, id_col: str = "doc_id", residue: int = 2) -> DataFrame:
    """pHashes for the raster fixture blobs of one format residue class
    (default 2 = GIF): blob-gen -> REAL decode (LZW for GIF) -> integer
    DCT pHash, fused in one Arrow stage — same plumbing contract as
    `synth_dhash` (image bytes never shuffle; the near-dup join sees
    only the 16-char hash column)."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == residue), PHASH_OUT_SCHEMA, _raster_hash(phash_hex), id_col
    )


def phash_bands(
    sigs: DataFrame, id_col: str = "doc_id", hash_col: str = "phash"
) -> DataFrame:
    """The pHash band frame (8 bands x 8 bits = 2 hex chars each),
    exploded one row per (id, band_i, band_v) — the single source of
    the gate's band layout, shared by `phash_neardup_stats` and the
    r11b scale probe so a banding change cannot desynchronize the
    measured collision rate from the shipped operator."""
    return sigs.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.posexplode(
            F.array(*[F.substring(hash_col, 1 + 2 * i, 2) for i in range(8)])
        ).alias("__band_i", "__band_v"),
    )


def phash_neardup_stats(
    sigs: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 7,
) -> DataFrame:
    """Banded near-dup search over pHash signatures with a LOSSLESS
    gate: 8 bands of 8 bits each, so any pair within Hamming distance
    `max_hamming` <= 7 has <= 7 bit errors spread over 8 bands and by
    pigeonhole shares at least one band EXACTLY — zero recall loss, a
    guarantee the 4x16-bit dHash gate (tuned for dHash's tighter
    near-dup distances) does not make at distance 8. Per image:
    partner count and minimum distance.

    Scale shape: identical to `dhash_neardup_stats` — band explode +
    equi-join buckets candidates (never all-pairs); the full 64-bit
    Hamming check runs as two 32-bit XOR+bit_count ops on codegen
    longs, only on band-sharing candidates.

    The measured price of losslessness (BASELINE.md r11b probe): 8-bit
    bands have 256 values, so unrelated hashes collide on some band
    with p ~ 8/256 — a CONSTANT ~4.9% of the all-pairs space enters
    the (cheap) Hamming verify, i.e. quadratic candidate growth. That
    floor is intrinsic to zero-recall-loss banding at radius 7. Use
    this operator as the exact-recall option (audits, bounded
    corpora); `dhash_neardup_stats` (4x16-bit bands, p ~ 6e-5,
    lossless only to radius 3) is the tuned-recall 100 TB path."""
    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming}: the 8-band gate is only lossless "
            "for distances <= 7 (n_bands - 1); raise the band count instead"
        )
    half = lambda c, i: F.conv(F.substring(c, i, 8), 16, 10).cast("long")  # noqa: E731
    bands = phash_bands(sigs, id_col=id_col, hash_col=hash_col)
    a, b = bands.alias("a"), bands.alias("b")
    # distinct the candidate pairs FIRST (a pair sharing m bands emits
    # m collision rows), then compute the 64-bit Hamming distance once
    # per unique pair — before r11 advice, the conv/XOR/bit_count
    # expression ran per collision row and the recomputed distance sat
    # inside the distinct key.
    cand = (
        a.join(
            b,
            (F.col("a.__band_i") == F.col("b.__band_i"))
            & (F.col("a.__band_v") == F.col("b.__band_v"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.col("a.__h").alias("__ha"),
            F.col("b.__h").alias("__hb"),
        )
        .distinct()
    )
    pairs = cand.select(
        "doc_a",
        "doc_b",
        (
            F.bit_count(half(F.col("__ha"), 1).bitwiseXOR(half(F.col("__hb"), 1)))
            + F.bit_count(half(F.col("__ha"), 9).bitwiseXOR(half(F.col("__hb"), 9)))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    sym = pairs.unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "hamming",
        )
    )
    agg = sym.groupBy(F.col("doc_a").alias("__id")).agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.min("hamming").alias("min_hamming"),
    )
    return sigs.join(agg, sigs[id_col] == agg["__id"], "left").select(
        id_col,
        hash_col,
        F.coalesce(F.col("n_partners"), F.lit(0)).cast("long").alias("n_partners"),
        F.col("min_hamming").cast("long").alias("min_hamming"),
    )


# ---------------------------------------------------------------------------
# Voice-activity detection (VAD) over PCM frames
# ---------------------------------------------------------------------------
VAD_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_active", LongType()),
        StructField("n_segments", LongType()),
        StructField("longest_run", LongType()),
        StructField("active_ratio", DoubleType()),
    ]
)


def _vad_active_frames(data: bytes, frame: int, thr_mean_abs: int):
    """Shared VAD kernel: PCM -> per-frame active flags (trailing
    partial dropped). Returns (n_frames, bool ndarray) or None for
    non-PCM blobs — the single source both `vad_stats` (per-doc
    aggregate) and `vad_segments` (per-run rows) derive from."""
    import numpy as np

    parsed = wav_pcm_samples(data)
    if parsed is None:
        return None
    _, s = parsed
    n_frames = s.size // frame
    if n_frames == 0:
        return 0, np.zeros(0, dtype=bool)
    fr = np.abs(s[: n_frames * frame].astype(np.int64)).reshape(n_frames, frame)
    return n_frames, fr.sum(axis=1) > thr_mean_abs * frame


def vad_stats(data: bytes, frame: int = 100, thr_mean_abs: int = 16384):
    """Energy-threshold voice-activity detection over a PCM 16-bit WAV:
    non-overlapping `frame`-sample frames (trailing partial dropped), a
    frame is ACTIVE when its summed |sample| exceeds thr_mean_abs *
    frame (i.e., mean |s| above the threshold — integer math, no
    floats until the final ratio). Returns (n_frames, n_active,
    n_segments, longest_run, active_ratio) where segments are maximal
    runs of consecutive active frames — the speech-data curation
    primitive (drop silence, keep utterance spans). Nones for non-PCM
    blobs; active_ratio floor(x*1e6+0.5)/1e6-rounded for the oracle."""
    import math

    import numpy as np

    parsed = _vad_active_frames(data, frame, thr_mean_abs)
    if parsed is None:
        return (None, None, None, None, None)
    n_frames, active = parsed
    if n_frames == 0:
        return (0, 0, 0, 0, None)
    n_active = int(active.sum())
    # run boundaries: idx holds alternating (start, end) positions of
    # active runs, so segments = len(idx)//2 and run lengths = diffs
    idx = np.flatnonzero(np.diff(np.concatenate(([0], active.view(np.int8), [0]))))
    starts = len(idx) // 2
    longest = int((idx[1::2] - idx[::2]).max()) if starts else 0
    ratio = math.floor(n_active / n_frames * 1e6 + 0.5) / 1e6
    return (int(n_frames), n_active, starts, longest, ratio)


def synth_audio_vad(
    docs: DataFrame,
    id_col: str = "doc_id",
    frame: int = 100,
    thr_mean_abs: int = 16384,
) -> DataFrame:
    """Fixture blob-gen + VAD fused into ONE Arrow stage (the
    `synth_audio_stats` single-pass shape): in production the binary
    column comes off the parquet scan and this is one mapInPandas over
    it — frame reshaping and run-length math never leave the executor,
    and only 6 small columns shuffle."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == 3),
        VAD_OUT_SCHEMA,
        lambda blob: vad_stats(blob, frame, thr_mean_abs),
        id_col,
    )


VAD_SEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seg_id", LongType()),
        StructField("start_frame", LongType()),
        StructField("end_frame", LongType()),
        StructField("seg_frames", LongType()),
    ]
)


def vad_segments(data: bytes, frame: int = 100, thr_mean_abs: int = 16384):
    """Row-level twin of `vad_stats` (the w3_session_stats vs
    w3_sessionize pattern): the maximal active runs themselves, one
    (seg_id, start_frame, end_frame) per utterance — the EXTRACTION
    step a speech pipeline feeds downstream (cut these spans, drop the
    rest). Empty list for silent or non-PCM blobs. Frames are 0-based,
    end inclusive; seg_id numbers runs in time order from 0."""
    import numpy as np

    parsed = _vad_active_frames(data, frame, thr_mean_abs)
    if parsed is None or parsed[0] == 0:
        return []
    _, active = parsed
    idx = np.flatnonzero(np.diff(np.concatenate(([0], active.view(np.int8), [0]))))
    return [
        (g, int(s), int(e) - 1, int(e) - int(s))
        for g, (s, e) in enumerate(zip(idx[::2], idx[1::2]))
    ]


def synth_audio_vad_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    frame: int = 100,
    thr_mean_abs: int = 16384,
) -> DataFrame:
    """Fixture blob-gen + VAD segment extraction in ONE Arrow stage —
    same plumbing contract as `synth_audio_vad`, fanning out one row
    per active run instead of one aggregate row per document."""
    return _blob_stage(
        docs.where(F.col(id_col) % 4 == 3),
        VAD_SEG_SCHEMA,
        lambda blob: vad_segments(blob, frame, thr_mean_abs),
        id_col,
        fan_out=True,
    )


PATCH_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("patch_row", IntegerType()),
        StructField("patch_col", IntegerType()),
        StructField("n_px", LongType()),
        StructField("mean_lum", LongType()),
    ]
)


def synth_patch_stats(
    docs: DataFrame, id_col: str = "doc_id", grid: int = 4, residue: int = 2
) -> DataFrame:
    """ViT-style patch-grid statistics over the raster fixture blobs of
    one format residue class (default 2 = GIF, the real LZW decode
    path): the image is cut into a `grid` x `grid` patch grid with
    integer bounds (patch (i, j) covers rows [i*h div g, (i+1)*h div g)
    — every patch non-empty since the fixtures are >= 8px a side), and
    each patch reports its pixel count and integer mean luminance
    (sum((r+g+b) div 3) div n_px — the pHash luminance convention, all
    integer so the oracle replays it exactly from the closed-form pixel
    formula). This is the patch-embedding PRE-step of a vision-
    transformer data pipeline: the patch table carries per-patch
    metadata, never pixels, so downstream joins/filters (e.g. drop
    near-constant patches) stay columnar.

    Plumbing contract is the family's: blob-gen -> real decode ->
    stats fused in ONE Arrow stage (mapInPandas); image bytes never
    shuffle; one Python touch per blob; output rows = 16 per image.
    """

    def patches(data: bytes):
        arr = decode_raster(data)
        if arr is None:
            return []
        lum = arr.astype("int64").sum(axis=2) // 3
        h, w = lum.shape
        rows = []
        for i in range(grid):
            for j in range(grid):
                block = lum[
                    i * h // grid : (i + 1) * h // grid,
                    j * w // grid : (j + 1) * w // grid,
                ]
                rows.append((i, j, int(block.size), int(block.sum()) // int(block.size)))
        return rows

    return _blob_stage(
        docs.where(F.col(id_col) % 4 == residue), PATCH_OUT_SCHEMA, patches, id_col, fan_out=True
    )
