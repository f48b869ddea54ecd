"""Multimodal column plumbing (BASELINE.json north star).

Images/audio/video ride through the engine as opaque ``binary`` columns
with typed metadata, processed partition-parallel via ``mapInPandas``
(Arrow batches; never a per-row UDF).

Two decode tiers:

- **Real decode** for formats the stdlib can parse: WAV audio
  (:func:`decode_wav_meta`, via ``wave``/``struct``) and BMP images
  (:func:`decode_bmp_meta`, hand-parsed BITMAPINFOHEADER + padded pixel
  rows). Payloads are synthesized as genuine WAV/BMP bytes
  (:func:`synthesize_wav` / :func:`synthesize_bmp`) from closed-form
  per-doc parameters, so a DuckDB oracle can predict every decoded field
  arithmetically — the decode path is verified against real bytes end to
  end.
- **Stubbed decode** for formats needing libraries absent from this
  container (JPEG/PNG/MP3/MP4): ``decode_media`` raises
  ``NotImplementedError`` strict, or emits a deterministic byte-histogram
  feature vector with ``fake=True`` so pipelines still compose.

Pattern at scale: binary payloads keep row-groups fat, so
``spark.sql.files.maxPartitionBytes`` governs batch memory; the
``mapInPandas`` iterator processes one Arrow batch at a time and never
materializes a partition in memory.
"""

from __future__ import annotations

import io
import math
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media binary, media_type string, byte_len int, sha string"
)


def _spread_ids(docs: DataFrame) -> DataFrame:
    """doc_id projection, repartitioned when the scan cannot parallelize
    on its own (single-file fixture -> ONE mapInPandas task otherwise;
    every synthesis kernel below is per-row Python, so task count IS the
    speedup — measured 14.4 s -> ~0.6 s for the textured-BMP synthesis
    at sf0.1). No-op on multi-split scans (see partitioning.spread)."""
    from .partitioning import spread

    return spread(docs.select("doc_id"))


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Build a typed binary-media table from the documents fixture (the
    text bytes stand in for an image/audio payload): opaque payload +
    extracted metadata, all JVM-side."""
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("media"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(payload).alias("byte_len"),
        F.sha2(payload, 256).alias("sha"),
    )


# --------------------------------------------------- real WAV decode path
# Closed-form per-doc synthesis parameters — shared with the SQL oracle
# (wav_meta_oracle_sql) so the decoded fields are independently
# predictable without parsing bytes.
WAV_RATE_BASE = 8000
WAV_RATE_STEP = 1000  # sample_rate = 8000 + 1000*(doc_id % 3)
WAV_FRAMES_BASE = 64
WAV_FRAMES_STEP = 2  # n_frames = 64 + 2*(doc_id % 32)  (always even)
WAV_AMP_BASE = 500
WAV_AMP_STEP = 30  # amplitude = 500 + 30*(doc_id % 1000)


def _wav_params(doc_id: int) -> tuple[int, int, int]:
    rate = WAV_RATE_BASE + WAV_RATE_STEP * (doc_id % 3)
    n = WAV_FRAMES_BASE + WAV_FRAMES_STEP * (doc_id % 32)
    amp = WAV_AMP_BASE + WAV_AMP_STEP * (doc_id % 1000)
    return rate, n, amp


def synthesize_wav(docs: DataFrame) -> DataFrame:
    """Build REAL mono 16-bit PCM WAV payloads (stdlib ``wave`` writer),
    one per doc: an amplitude-A square wave (+A, -A alternating) whose
    rate/length/amplitude derive from doc_id. The bytes are genuine RIFF
    containers — any external WAV reader parses them."""
    out_schema = "doc_id long, media binary, media_type string"
    # params inlined as captured locals, not a _wav_params call: worker
    # closures must hold no module references (see synthesize_flipbook)
    rb, rs, fb, fs, ab, as_ = (
        WAV_RATE_BASE, WAV_RATE_STEP, WAV_FRAMES_BASE,
        WAV_FRAMES_STEP, WAV_AMP_BASE, WAV_AMP_STEP,
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate = rb + rs * (d % 3)
                n = fb + fs * (d % 32)
                amp = ab + as_ * (d % 1000)
                buf = io.BytesIO()
                w = wave.open(buf, "wb")
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                samples = [amp if i % 2 == 0 else -amp for i in range(n)]
                w.writeframes(struct.pack(f"<{n}h", *samples))
                w.close()
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["audio/wav"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def decode_wav_meta(media_df: DataFrame) -> DataFrame:
    """REAL audio decode: parse the RIFF/WAVE container with the stdlib
    ``wave`` reader, unpack the PCM16 frames, and emit header metadata
    plus peak/RMS amplitude. ``duration_us`` is integer floor-division
    (n_frames*1e6 // rate) so it is exact cross-engine; RMS of a ±A
    square wave is exactly A, so the double stays hash-stable."""
    out_schema = (
        "doc_id long, n_channels int, sample_rate int, n_frames int, "
        "duration_us long, peak int, rms double"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_channels", "sample_rate", "n_frames",
                "duration_us", "peak", "rms",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                w = wave.open(io.BytesIO(bytes(blob)), "rb")
                nch, rate, n = w.getnchannels(), w.getframerate(), w.getnframes()
                raw = w.readframes(n)
                w.close()
                samples = struct.unpack(f"<{n * nch}h", raw)
                rows["doc_id"].append(doc_id)
                rows["n_channels"].append(nch)
                rows["sample_rate"].append(rate)
                rows["n_frames"].append(n)
                rows["duration_us"].append(n * 1_000_000 // rate)
                rows["peak"].append(max(abs(s) for s in samples))
                rows["rms"].append(
                    round(math.sqrt(sum(s * s for s in samples) / len(samples)), 6)
                )
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(decode, schema=out_schema)


def wav_meta_oracle_sql(src: str = "documents") -> str:
    """Predict every :func:`decode_wav_meta` field from the synthesis
    formulas — no byte parsing; if the decoder misreads the container the
    hash gate fails."""
    rate = f"{WAV_RATE_BASE} + {WAV_RATE_STEP} * (doc_id % 3)"
    n = f"{WAV_FRAMES_BASE} + {WAV_FRAMES_STEP} * (doc_id % 32)"
    amp = f"{WAV_AMP_BASE} + {WAV_AMP_STEP} * (doc_id % 1000)"
    return f"""
        SELECT doc_id,
               1 AS n_channels,
               CAST({rate} AS INTEGER) AS sample_rate,
               CAST({n} AS INTEGER) AS n_frames,
               CAST(({n}) * 1000000 AS BIGINT) // ({rate}) AS duration_us,
               CAST({amp} AS INTEGER) AS peak,
               ROUND(CAST({amp} AS DOUBLE), 6) AS rms
        FROM {src}
    """


# --------------------------------------------------- real BMP decode path
BMP_W_BASE, BMP_W_MOD = 4, 5  # width  = 4 + doc_id % 5  (hits all paddings)
BMP_H_BASE, BMP_H_MOD = 4, 3  # height = 4 + doc_id % 3


def _bmp_params(doc_id: int) -> tuple[int, int, int, int, int]:
    w = BMP_W_BASE + doc_id % BMP_W_MOD
    h = BMP_H_BASE + doc_id % BMP_H_MOD
    r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
    return w, h, r, g, b


def synthesize_bmp(docs: DataFrame) -> DataFrame:
    """Build REAL 24-bit uncompressed BMP payloads (BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes), constant
    fill color per doc. Widths cycle 4..8 so every row-padding case
    (0/1/2/3 bytes) occurs — a decoder that mishandles padding shifts
    channels and fails the gate."""
    out_schema = "doc_id long, media binary, media_type string"

    w_base, w_mod, h_base, h_mod = BMP_W_BASE, BMP_W_MOD, BMP_H_BASE, BMP_H_MOD

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w_px = w_base + d % w_mod
                h_px = h_base + d % h_mod
                r, g, b = d % 256, (d * 7) % 256, (d * 13) % 256
                row = bytes((b, g, r)) * w_px  # BMP stores BGR
                row += b"\x00" * ((4 - (3 * w_px) % 4) % 4)
                pixels = row * h_px
                header = struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54
                )
                info = struct.pack(
                    "<IiiHHIIiiII",
                    40, w_px, h_px, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,
                )
                payloads.append(header + info + pixels)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["image/bmp"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def decode_bmp_meta(media_df: DataFrame) -> DataFrame:
    """REAL image decode: parse the BMP headers with ``struct``, walk the
    padded bottom-up pixel rows, and emit dimensions plus per-channel
    means. Means of a constant-fill image are exact integers in double,
    so the hash gate is noise-free."""
    out_schema = (
        "doc_id long, width int, height int, bpp int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "bpp", "mean_r", "mean_g", "mean_b",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", data, 0)
                if magic != b"BM":  # real validation, not assert: must
                    # survive python -O, else garbage size fields mis-parse
                    raise ValueError(f"not a BMP payload (doc_id={doc_id})")
                (_hsz, w_px, h_px, _planes, bpp) = struct.unpack_from(
                    "<IiiHH", data, 14
                )
                h_abs = abs(h_px)
                stride = (3 * w_px + 3) // 4 * 4
                # numpy channel sums (r9 verdict #5): exact int64 sums
                # over the same BGR bytes — identical means, ~10x faster
                # than the per-pixel Python loop it replaces
                import numpy as np

                px = (
                    np.frombuffer(
                        data,
                        dtype=np.uint8,
                        count=h_abs * stride,
                        offset=offset,
                    )
                    .reshape(h_abs, stride)[:, : 3 * w_px]
                    .reshape(h_abs, w_px, 3)
                )
                sums = px.sum(axis=(0, 1), dtype=np.int64)
                sb, sg, sr = int(sums[0]), int(sums[1]), int(sums[2])
                npix = w_px * h_abs
                rows["doc_id"].append(doc_id)
                rows["width"].append(w_px)
                rows["height"].append(h_abs)
                rows["bpp"].append(bpp)
                rows["mean_r"].append(round(sr / npix, 6))
                rows["mean_g"].append(round(sg / npix, 6))
                rows["mean_b"].append(round(sb / npix, 6))
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(decode, schema=out_schema)


def bmp_meta_oracle_sql(src: str = "documents") -> str:
    return f"""
        SELECT doc_id,
               CAST({BMP_W_BASE} + doc_id % {BMP_W_MOD} AS INTEGER) AS width,
               CAST({BMP_H_BASE} + doc_id % {BMP_H_MOD} AS INTEGER) AS height,
               24 AS bpp,
               ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
               ROUND(CAST((doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
               ROUND(CAST((doc_id * 13) % 256 AS DOUBLE), 6) AS mean_b
        FROM {src}
    """


def decode_media(
    media_df: DataFrame, *, fake: bool = False, feature_dim: int = 8
) -> DataFrame:
    """Generic decode/feature-extract stage over binary payloads via
    ``mapInPandas``. For WAV/BMP use the REAL stdlib decoders
    (:func:`decode_wav_meta` / :func:`decode_bmp_meta`); this generic
    stage covers formats whose decoders (PIL/librosa/ffmpeg) are not in
    this environment — ``fake=False`` raises NotImplementedError at plan
    execution; ``fake=True`` emits a deterministic byte-histogram feature
    vector with the exact schema a real extractor would produce."""
    out_schema = f"doc_id long, media_type string, features array<double>"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decode requires image/audio libraries not present "
                    "in this environment; pass fake=True for the deterministic "
                    "test extractor"
                )
            feats = []
            for blob in pdf["media"]:
                hist = [0.0] * feature_dim
                for byte in blob:
                    hist[byte % feature_dim] += 1.0
                total = sum(hist) or 1.0
                feats.append([round(h / total, 6) for h in hist])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return media_df.mapInPandas(extract, schema=out_schema)


def resize_media(
    media_df: DataFrame, *, target_bytes: int = 64, fake: bool = False
) -> DataFrame:
    """Resize/transcode stage (images: downscale; audio: resample) over
    ``mapInPandas``. Output schema mirrors the input media table so resize
    stages compose with decode/feature-extract. The real transform is
    stubbed like :func:`decode_media`; ``fake=True`` truncates/pads the
    payload to ``target_bytes`` deterministically so batch shapes and
    schema travel end-to-end."""
    out_schema = MEDIA_SCHEMA

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media resize requires image/audio libraries not present "
                    "in this environment; pass fake=True for the deterministic "
                    "stub"
                )
            out = []
            for blob in pdf["media"]:
                b = bytes(blob)[:target_bytes]
                b = b + b"\x00" * (target_bytes - len(b))
                out.append(b)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": out,
                    "media_type": pdf["media_type"],
                    "byte_len": [len(b) for b in out],
                    "sha": [hashlib.sha256(b).hexdigest() for b in out],
                }
            )

    return media_df.mapInPandas(resize, schema=out_schema)


def sample_frames(
    media_df: DataFrame,
    *,
    frame_bytes: int = 32,
    every_nth: int = 4,
    fake: bool = False,
) -> DataFrame:
    """Frame-sampling stage (video → every nth frame) — the ONE-TO-MANY
    ``mapInPandas`` shape: each input row yields a variable number of
    output rows, which Arrow batches handle natively (no explode of a
    pre-built array, no per-row UDF). ``fake=True`` treats the payload as
    fixed-size pseudo-frames; a real build would hand the container to
    ffmpeg per batch."""
    out_schema = "doc_id long, frame_idx int, frame binary"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "frame sampling requires ffmpeg/video libraries not "
                    "present in this environment; pass fake=True for the "
                    "deterministic stub"
                )
            ids, idxs, frames = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                n_frames = max(1, len(b) // frame_bytes)
                for i in range(0, n_frames, every_nth):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return media_df.mapInPandas(sample, schema=out_schema)


# --------------------------------------------------- flipbook container
FLIP_MIN_FRAMES, FLIP_FRAME_MOD = 2, 5  # n_frames = 2 + doc_id % 5
FLIP_SEED_A, FLIP_SEED_B = 101, 17  # frame param seed = a*doc_id + b*idx


def synthesize_flipbook(docs: DataFrame) -> DataFrame:
    """Build a REAL multi-frame media container: each payload is a
    back-to-back concatenation of 2-6 genuine 24-bit BMPs (each frame
    self-describing via its BITMAPFILEHEADER size field — the property a
    parser needs to walk the container without an index). Frame params
    derive from (FLIP_SEED_A*doc_id + FLIP_SEED_B*frame_idx), so every
    sampled frame's dimensions and fill color are arithmetic facts the
    SQL oracle replicates."""
    out_schema = "doc_id long, media binary, media_type string"

    # params inlined (not a call to _bmp_params): the closure must hold
    # NO module references — cloudpickle would otherwise pickle it by
    # module name and a worker whose cwd/path lacks the repo can't
    # unpickle (the verify driver may run from any directory)
    w_base, w_mod, h_base, h_mod = BMP_W_BASE, BMP_W_MOD, BMP_H_BASE, BMP_H_MOD

    def frame_bytes(seed: int) -> bytes:
        w_px = w_base + seed % w_mod
        h_px = h_base + seed % h_mod
        r, g, b = seed % 256, (seed * 7) % 256, (seed * 13) % 256
        row = bytes((b, g, r)) * w_px
        row += b"\x00" * ((4 - (3 * w_px) % 4) % 4)
        pixels = row * h_px
        header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w_px, h_px, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
        )
        return header + info + pixels

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = FLIP_MIN_FRAMES + d % FLIP_FRAME_MOD
                payloads.append(
                    b"".join(
                        frame_bytes(FLIP_SEED_A * d + FLIP_SEED_B * i)
                        for i in range(n)
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["video/x-bmp-flipbook"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def sample_flipbook_frames(media_df: DataFrame, every_nth: int = 2) -> DataFrame:
    """REAL frame sampling: walk the container by reading each BMP's
    declared file size (no index, no fixed frame length), keep every
    ``every_nth`` frame, and DECODE the kept frames (dims + exact
    constant-fill channel means). One-to-many ``mapInPandas`` — each
    media row yields a variable number of frame rows in the same Arrow
    batch, the shape a video pipeline's ffmpeg stage has."""
    out_schema = (
        "doc_id long, frame_idx int, n_frames int, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "n_frames", "width", "height",
                "mean_r", "mean_g", "mean_b",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                # first pass: split the container on declared sizes
                frames, off = [], 0
                while off < len(data):
                    magic, size = struct.unpack_from("<2sI", data, off)
                    if magic != b"BM":  # real validation, not assert: must
                        # survive python -O, else garbage size fields mis-parse
                        raise ValueError(
                            f"corrupt flipbook container (doc_id={doc_id})"
                        )
                    frames.append(data[off : off + size])
                    off += size
                for i in range(0, len(frames), every_nth):
                    f = frames[i]
                    offset = struct.unpack_from("<2sIHHI", f, 0)[4]
                    _hsz, w_px, h_px, _planes, _bpp = struct.unpack_from(
                        "<IiiHH", f, 14
                    )
                    stride = (3 * w_px + 3) // 4 * 4
                    sr = sg = sb = 0
                    for y in range(abs(h_px)):
                        base = offset + y * stride
                        for x in range(w_px):
                            b_v, g_v, r_v = f[base + 3 * x : base + 3 * x + 3]
                            sr += r_v
                            sg += g_v
                            sb += b_v
                    npix = w_px * abs(h_px)
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["n_frames"].append(len(frames))
                    rows["width"].append(w_px)
                    rows["height"].append(abs(h_px))
                    rows["mean_r"].append(round(sr / npix, 6))
                    rows["mean_g"].append(round(sg / npix, 6))
                    rows["mean_b"].append(round(sb / npix, 6))
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(sample, schema=out_schema)


def flipbook_frames_oracle_sql(
    every_nth: int = 2, src: str = "documents"
) -> str:
    """The sampled frames' facts are pure integer arithmetic on
    (doc_id, frame_idx): replicate them directly."""
    return f"""
        SELECT d.doc_id,
               CAST(i AS INT) AS frame_idx,
               CAST({FLIP_MIN_FRAMES} + d.doc_id % {FLIP_FRAME_MOD} AS INT)
                 AS n_frames,
               CAST({BMP_W_BASE} + seed % {BMP_W_MOD} AS INT) AS width,
               CAST({BMP_H_BASE} + seed % {BMP_H_MOD} AS INT) AS height,
               CAST(seed % 256 AS DOUBLE) AS mean_r,
               CAST((seed * 7) % 256 AS DOUBLE) AS mean_g,
               CAST((seed * 13) % 256 AS DOUBLE) AS mean_b
        FROM (SELECT doc_id FROM {src}) d,
             LATERAL (
               SELECT UNNEST(range(0, {FLIP_MIN_FRAMES} + d.doc_id % {FLIP_FRAME_MOD},
                                   {every_nth})) AS i
             ) g,
             LATERAL (
               SELECT {FLIP_SEED_A} * d.doc_id + {FLIP_SEED_B} * i AS seed
             ) s
    """


# ---------------------------------------------------- perceptual hashing
# Classic DCT pHash (the imagehash/pHash.org layout): grayscale ->
# 32x32 resample -> 2D DCT-II -> top-left 8x8 block minus the DC term ->
# median threshold -> 64-bit fingerprint. Two images whose fingerprints
# differ in <= ~6 bits are perceptual near-duplicates (crops, small
# edits, re-encodes) even when their bytes share nothing — the image
# counterpart of SimHash over text.
PHASH_SIZE = 32   # resample edge
PHASH_DCT = 8     # low-frequency block edge
# Median-threshold tie guard: a DCT coefficient can land within float
# noise of the block median (12 of the 500 sf0.01 fixture docs hold a
# coefficient within 5e-13 of it), and the dgemm summation order that
# decides which side such a coefficient falls on changes with the BLAS
# kernel dispatch — doc 105's pin flipped twice across environments
# with ZERO code change (r10 f7984db, then back after a host reboot).
# A bit is set only when the coefficient clears the median by more than
# this epsilon, which makes the hash a deterministic function of the
# image bytes: measured over the fixture, every non-tie coefficient
# clears the median by >=1.2e-4 (5 orders above the epsilon) and every
# tie sits below 5e-13 (4 orders below), and the resulting 500
# fingerprints are bit-identical under four different matmul summation
# orders (left/right dgemm association, einsum, longdouble). This is a
# deliberate departure from classic pHash (bit = coefficient > median):
# a coefficient within the epsilon of the median reads 0 here, so such
# fingerprints need not match a standard pHash implementation. See
# registry/phash_pins.py for the regeneration history.
PHASH_TIE_EPS = 1e-9
TEX_W = TEX_H = 32
TEX_TWIN_EVERY = 10


def synthesize_textured_bmp(
    docs: DataFrame, twin_every: int = TEX_TWIN_EVERY
) -> DataFrame:
    """Deterministic TEXTURED 24-bit BMPs (the constant-fill synthesis
    is degenerate for pHash — every AC coefficient is 0): per-pixel
    intensity mixes two spatial frequencies seeded by doc_id. Every
    ``twin_every``-th doc reuses the PREVIOUS doc's pattern with a few
    perturbed pixels — planted perceptual near-dups whose bytes differ,
    the recall target for :func:`phash_hamming_pairs`.

    The per-pixel pattern math stays SCALAR Python on purpose — the
    pinned pHash fingerprints (registry/phash_pins.py + the numpy/BLAS
    canary) ride its exact libm float path, and a numpy-vectorized sin
    could round differently. Parallelism comes from ``spread`` instead:
    the single-file fixture scan otherwise drags the whole synthesis
    onto ONE task (measured 14.4 s for 5,000 BMPs at sf0.1 on one core
    vs ~0.6 s spread over 32)."""
    out_schema = "doc_id long, media binary, media_type string"
    w_px, h_px = TEX_W, TEX_H

    def pattern(seed: int, perturb: bool):
        # per-axis sinusoids hoisted out of the pixel loop: 60*sin(...)
        # and 50*cos(...) depend only on x resp. y, so precomputing them
        # is BIT-IDENTICAL (same multiply, same operand order in the
        # pixel sum) while cutting 2048 libm calls/image to 64 — the
        # pinned pHash fingerprints ride this exact float path, so only
        # transformations that preserve it are legal here
        sx = [
            60 * math.sin(2 * math.pi * ((seed % 7) + 1) * x / w_px)
            for x in range(w_px)
        ]
        cy = [
            50 * math.cos(2 * math.pi * ((seed % 5) + 1) * y / h_px)
            for y in range(h_px)
        ]
        s31 = seed * 31
        rows = []
        for y in range(h_px):
            row = bytearray()
            cyy = cy[y]
            for x in range(w_px):
                v = 128 + sx[x] + cyy + ((s31 + x * y) % 23) - 11
                g = max(0, min(255, int(v)))
                if perturb and (x + y * w_px) % 97 == 0:
                    g = max(0, min(255, g + 12))
                row += bytes((g, g, g))
            row += b"\x00" * ((4 - (3 * w_px) % 4) % 4)
            rows.append(bytes(row))
        return b"".join(rows)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                twin = twin_every > 0 and d % twin_every == 0 and d > 0
                seed = d - 1 if twin else d
                pixels = pattern(seed, perturb=twin)
                header = struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54
                )
                info = struct.pack(
                    "<IiiHHIIiiII",
                    40, w_px, h_px, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,
                )
                payloads.append(header + info + pixels)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["image/bmp"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def phash64(media_df: DataFrame) -> DataFrame:
    """64-bit DCT perceptual hash per image, Arrow-batched: numpy
    decodes the BMP pixel rows (bottom-up, padded, BGR), grayscales,
    nearest-neighbor-resamples to 32x32, applies the exact DCT-II by
    matrix product, and thresholds the low-frequency block at its
    median. Pure per-row map — no shuffle; the downstream pair search
    is banded exactly like SimHash's."""
    import numpy as np

    out_schema = "doc_id long, phash long"
    n, k = PHASH_SIZE, PHASH_DCT
    # DCT-II basis (orthonormal), built once per worker
    i = np.arange(n)
    basis = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * i[None, :] + 1) * i[:, None] / (2 * n)
    )
    basis[0, :] = np.sqrt(1.0 / n)

    def decode_gray(buf: bytes) -> "np.ndarray":
        if buf[:2] != b"BM":
            raise ValueError("not a BMP payload")
        off = struct.unpack_from("<I", buf, 10)[0]
        w, h = struct.unpack_from("<ii", buf, 18)
        stride = (3 * w + 3) // 4 * 4
        img = np.zeros((h, w), dtype=np.float64)
        for y in range(h):
            row = np.frombuffer(buf, dtype=np.uint8,
                                count=3 * w, offset=off + y * stride)
            # bottom-up rows; grayscale = mean of BGR
            img[h - 1 - y, :] = row.reshape(w, 3).mean(axis=1)
        return img

    def resample(img: "np.ndarray") -> "np.ndarray":
        h, w = img.shape
        ys = (np.arange(n) * h) // n
        xs = (np.arange(n) * w) // n
        return img[np.ix_(ys, xs)]

    def one_hash(buf: bytes) -> int:
        g = resample(decode_gray(buf))
        d = basis @ g @ basis.T
        block = d[:k, :k].flatten()[1:]  # drop the DC term
        med = float(np.median(block))
        bits = 0
        for j, v in enumerate(block):
            # strict clearance of the median (PHASH_TIE_EPS): ties ride
            # BLAS summation order otherwise — see the constant's note
            if v > med + PHASH_TIE_EPS:
                bits |= 1 << j
        return bits

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [one_hash(bytes(b)) for b in pdf["media"]],
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(
        kernel, schema=out_schema
    )


PHASH_BANDS = 4
PHASH_BAND_BITS = 16  # 63 used bits; top band carries 15


def phash_hamming_pairs(
    media_df: DataFrame, max_hamming: int = 6,
    max_band_size: int | None = None,
) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: pHash fingerprints banded
    into 4 disjoint 16-bit keys — only images agreeing on at least one
    whole band are compared (pigeonhole: perfect recall for hamming <=
    3, high recall at the conventional <= 6 cutoff), exact
    ``bit_count`` verify on survivors. Same shuffle geometry as
    :func:`~.dedup.simhash_hamming_pairs`; the fingerprint table is
    materialized once for the self-join's two branches.

    ``max_band_size`` is the hot-band skew guard (the same contract as
    :func:`~.dedup.minhash_lsh_pairs`): a clique of k visually identical
    images lands all k in one band bucket and the self-join emits k²/2
    pairs from a single task — the 10M scale smoke measured 5.9M pairs
    from a 20k synthetic corpus whose pattern space collapses into
    cliques. Capping drops over-full (band_idx, band_val) buckets before
    the join; clique members still pair wherever an uncapped band
    collides, and a mega-clique is better collapsed by exact-hash dedup
    on the full phash first. Default None preserves exact semantics
    (the fixture's bands are far below any sensible cap)."""
    from .partitioning import materialize

    fps = materialize(phash64(media_df))
    bands = fps.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.expr(
                            f"shiftright(phash, {b * PHASH_BAND_BITS}) "
                            f"& {(1 << PHASH_BAND_BITS) - 1}"
                        ).alias("band_val"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", "bk.band_idx", "bk.band_val")
    if max_band_size is not None:
        small = (
            bands.groupBy("band_idx", "band_val")
            .agg(F.count("*").alias("band_n"))
            .filter(F.col("band_n") <= max_band_size)
            .select("band_idx", "band_val")
        )
        bands = bands.join(small, ["band_idx", "band_val"])
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.phash").alias("ha"),
            F.col("y.phash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(ha ^ hb)").cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------ real BMP resize
def resize_bmp(media_df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL image resize (the thumbnail stage of a multimodal ingest
    pipeline): decode the 24-bit BMP payload, nearest-neighbor resample
    to ``out_w`` x ``out_h``, and re-encode a VALID BMP (headers, BGR
    rows, 4-byte padding) — so downstream decoders consume the output
    byte-for-byte. This replaces the generic ``resize_media`` stub for
    the format this container can actually decode; the same Arrow-batch
    shape (mapInPandas over binary payloads, O(pixels) per row, no
    shuffle) is where a PIL/ffmpeg kernel drops in for other codecs.

    Nearest-neighbor index: src = floor((dst + 0.5) * in / out) — the
    standard pixel-center mapping, exact integer arithmetic via
    ``(2*dst + 1) * in // (2*out)`` so every engine/library agrees."""
    out_schema = "doc_id long, media binary, media_type string"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                magic, _sz, _r1, _r2, offset = struct.unpack_from(
                    "<2sIHHI", data, 0
                )
                if magic != b"BM":
                    raise ValueError(f"not a BMP payload (doc_id={doc_id})")
                _hsz, w_px, h_px, _planes, bpp = struct.unpack_from(
                    "<IiiHH", data, 14
                )
                if bpp != 24:
                    raise ValueError(f"only 24-bit BMP supported (got {bpp})")
                h_abs = abs(h_px)
                stride = (3 * w_px + 3) // 4 * 4
                out_stride = (3 * out_w + 3) // 4 * 4
                # numpy row-gather (r9 verdict #5): same pixel-center
                # index arithmetic, byte-identical output, ~10x faster
                # than the per-pixel Python loop it replaces
                import numpy as np

                src = np.frombuffer(
                    data, dtype=np.uint8, count=h_abs * stride, offset=offset
                ).reshape(h_abs, stride)
                sy = (2 * np.arange(out_h) + 1) * h_abs // (2 * out_h)
                sx = (2 * np.arange(out_w) + 1) * w_px // (2 * out_w)
                cols = (3 * sx[:, None] + np.arange(3)).reshape(-1)
                out_arr = np.zeros((out_h, out_stride), dtype=np.uint8)
                out_arr[:, : 3 * out_w] = src[sy][:, cols]
                out_rows = out_arr.tobytes()
                header = struct.pack(
                    "<2sIHHI", b"BM", 54 + len(out_rows), 0, 0, 54
                )
                info = struct.pack(
                    "<IiiHHIIiiII",
                    40, out_w, out_h, 1, 24, 0, len(out_rows),
                    2835, 2835, 0, 0,
                )
                payloads.append(header + info + bytes(out_rows))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["image/bmp"] * len(pdf),
                }
            )

    return media_df.mapInPandas(resize, schema=out_schema)


def bmp_resize_meta(
    docs: DataFrame, out_w: int = 3, out_h: int = 2
) -> DataFrame:
    """Registry shape: synthesize real BMPs, resize them for real, then
    decode the RESIZED payloads — dims must be the target, constant-fill
    channel means must survive resampling exactly, and the re-encoded
    byte length is header + padded stride x height (all of which the
    SQL oracle predicts in closed form)."""
    from pyspark.sql import functions as F

    resized = resize_bmp(synthesize_bmp(docs), out_w, out_h)
    meta = decode_bmp_meta(resized)
    lens = resized.select(
        "doc_id", F.length("media").cast("long").alias("byte_len")
    )
    return meta.join(lens, "doc_id")


def bmp_resize_meta_oracle_sql(
    src: str = "documents", out_w: int = 3, out_h: int = 2
) -> str:
    out_stride = (3 * out_w + 3) // 4 * 4
    byte_len = 54 + out_stride * out_h
    return f"""
        SELECT doc_id,
               {out_w} AS width,
               {out_h} AS height,
               24 AS bpp,
               ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
               ROUND(CAST((doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
               ROUND(CAST((doc_id * 13) % 256 AS DOUBLE), 6) AS mean_b,
               CAST({byte_len} AS BIGINT) AS byte_len
        FROM {src}
    """


# ----------------------------------------------- real WAV downsampling
def downsample_wav(media_df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL audio downsample: parse the RIFF container, decimate the
    PCM16 stream by ``factor`` (keep every factor-th sample from index
    0), divide the sample rate, and RE-ENCODE a valid WAV — the
    fit-into-the-model's-sample-rate stage of an audio training
    pipeline, minus the anti-alias filter (which needs real DSP; naive
    decimation is the honest closed-form baseline and its aliasing is
    exactly what the oracle predicts on the synthetic square wave).
    Arrow-batched ``mapInPandas``, O(samples) per row, zero shuffle."""
    out_schema = "doc_id long, media binary, media_type string"

    def ds(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for blob in pdf["media"]:
                w = wave.open(io.BytesIO(bytes(blob)), "rb")
                nch, rate, n = (
                    w.getnchannels(), w.getframerate(), w.getnframes(),
                )
                raw = w.readframes(n)
                w.close()
                samples = struct.unpack(f"<{n * nch}h", raw)
                kept = samples[::factor]
                buf = io.BytesIO()
                out = wave.open(buf, "wb")
                out.setnchannels(nch)
                out.setsampwidth(2)
                out.setframerate(rate // factor)
                out.writeframes(struct.pack(f"<{len(kept)}h", *kept))
                out.close()
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["audio/wav"] * len(pdf),
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(
        ds, schema=out_schema
    )


def wav_downsample_meta(docs: DataFrame, factor: int = 2) -> DataFrame:
    """Registry shape: synthesize real WAVs, decimate them for real,
    then DECODE THE DOWNSAMPLED payloads — rate/frames must be the
    divided values, and decimating the ±A alternating square wave by 2
    keeps only the +A phase (the aliasing artifact, analytically exact:
    peak = rms = A), all of which the SQL oracle predicts in closed
    form from the synthesis formulas. A malformed re-encode fails the
    stdlib parser, not just the hash."""
    return decode_wav_meta(downsample_wav(synthesize_wav(docs), factor))


def wav_downsample_meta_oracle_sql(
    src: str = "documents", factor: int = 2
) -> str:
    rate = f"({WAV_RATE_BASE} + {WAV_RATE_STEP} * (doc_id % 3))"
    n = f"({WAV_FRAMES_BASE} + {WAV_FRAMES_STEP} * (doc_id % 32))"
    amp = f"({WAV_AMP_BASE} + {WAV_AMP_STEP} * (doc_id % 1000))"
    new_rate = f"({rate} // {int(factor)})"
    # frames are always even and factor divides them on the fixture;
    # ceil-div keeps the formula honest for odd counts
    new_n = f"(({n} + {int(factor)} - 1) // {int(factor)})"
    return f"""
        SELECT doc_id,
               1 AS n_channels,
               CAST({new_rate} AS INTEGER) AS sample_rate,
               CAST({new_n} AS INTEGER) AS n_frames,
               CAST({new_n} * 1000000 AS BIGINT) // {new_rate}
                 AS duration_us,
               CAST({amp} AS INTEGER) AS peak,
               ROUND(CAST({amp} AS DOUBLE), 6) AS rms
        FROM {src}
    """


# ----------------------------------------------- energy-based VAD
VAD_FRAME = 8  # samples per VAD frame
VAD_GAP_START = 16  # silence plant offset (samples, frame-aligned)
VAD_GAP_STEP = 8  # silence length = 8 * (doc_id % 5) samples


def synthesize_wav_gapped(docs: DataFrame) -> DataFrame:
    """:func:`synthesize_wav` with a PLANTED frame-aligned silence gap —
    the fixture for voice-activity detection: samples ``[16, 16 + 8*
    (doc_id % 5))`` are zeroed (up to 32 of the >= 64 frames), so every
    payload is still a genuine RIFF container whose silence layout is
    closed-form predictable."""
    out_schema = "doc_id long, media binary, media_type string"
    rb, rs, fb, fs, ab, as_ = (
        WAV_RATE_BASE, WAV_RATE_STEP, WAV_FRAMES_BASE,
        WAV_FRAMES_STEP, WAV_AMP_BASE, WAV_AMP_STEP,
    )
    g0, gs = VAD_GAP_START, VAD_GAP_STEP

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate = rb + rs * (d % 3)
                n = fb + fs * (d % 32)
                amp = ab + as_ * (d % 1000)
                gap = gs * (d % 5)
                samples = [amp if i % 2 == 0 else -amp for i in range(n)]
                for i in range(g0, g0 + gap):
                    samples[i] = 0
                buf = io.BytesIO()
                w = wave.open(buf, "wb")
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(struct.pack(f"<{n}h", *samples))
                w.close()
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["audio/wav"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def wav_vad_segments(media_df: DataFrame) -> DataFrame:
    """Energy-based voice-activity detection — the silence-trimming /
    speech-segmentation stage of an audio training pipeline (the slot a
    webrtcvad/silero kernel drops into), on the formats this container
    can really decode: PCM16 frames of ``VAD_FRAME`` samples are active
    when any sample is nonzero; consecutive active frames merge into
    segments. Per doc: sample count, VAD frame count, active frames,
    segment count, and the planted silence duration in exact integer
    microseconds.

    Arrow-batched ``mapInPandas``, O(samples) per row, zero shuffle —
    the same scale posture as the decoder it composes with."""
    out_schema = (
        "doc_id long, n_samples int, n_vad_frames int, active_frames int, "
        "n_segments int, silence_us long"
    )
    fr = VAD_FRAME

    def vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_samples", "n_vad_frames", "active_frames",
                "n_segments", "silence_us",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                w = wave.open(io.BytesIO(bytes(blob)), "rb")
                rate, n = w.getframerate(), w.getnframes()
                raw = w.readframes(n)
                w.close()
                samples = struct.unpack(f"<{n}h", raw)
                n_frames = (n + fr - 1) // fr
                flags = [
                    any(samples[i] != 0 for i in range(f * fr, min((f + 1) * fr, n)))
                    for f in range(n_frames)
                ]
                active = sum(flags)
                segs = sum(
                    1 for f in range(n_frames)
                    if flags[f] and (f == 0 or not flags[f - 1])
                )
                silent_samples = n - sum(
                    1 for s in samples if s != 0
                )
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(n)
                rows["n_vad_frames"].append(n_frames)
                rows["active_frames"].append(active)
                rows["n_segments"].append(segs)
                rows["silence_us"].append(silent_samples * 1_000_000 // rate)
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(vad, schema=out_schema)


def wav_vad_oracle_sql(src: str = "documents") -> str:
    """Closed-form prediction of every :func:`wav_vad_segments` field
    from the gapped-synthesis formulas — a decoder or segmenter bug
    breaks the hash gate."""
    n = f"({WAV_FRAMES_BASE} + {WAV_FRAMES_STEP} * (doc_id % 32))"
    rate = f"({WAV_RATE_BASE} + {WAV_RATE_STEP} * (doc_id % 3))"
    gap = f"({VAD_GAP_STEP} * (doc_id % 5))"
    return f"""
        SELECT doc_id,
               CAST({n} AS INTEGER) AS n_samples,
               CAST(({n} + {VAD_FRAME - 1}) // {VAD_FRAME} AS INTEGER)
                 AS n_vad_frames,
               CAST(({n} + {VAD_FRAME - 1}) // {VAD_FRAME}
                    - {gap} // {VAD_FRAME} AS INTEGER) AS active_frames,
               CAST(CASE WHEN {gap} = 0 THEN 1 ELSE 2 END AS INTEGER)
                 AS n_segments,
               CAST({gap} * 1000000 // {rate} AS BIGINT) AS silence_us
        FROM {src}
    """


# ------------------------------------------- BMP channel stats (quality)
BMP_SHADE_MOD = 200  # channel base < 200 keeps base + x + 2y <= 255: no wrap


def synthesize_bmp_shaded(docs: DataFrame) -> DataFrame:
    """Like :func:`synthesize_bmp` but EVEN doc_ids carry a linear
    shading ``value = base_c + x + 2*y`` per channel (wrap-free by
    construction) while ODD doc_ids stay constant-fill — so a
    brightness/contrast audit sees both textured and flat images and
    the flat-image flag has something to catch."""
    out_schema = "doc_id long, media binary, media_type string"

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w_px = BMP_W_BASE + d % BMP_W_MOD
                h_px = BMP_H_BASE + d % BMP_H_MOD
                grad = 1 if d % 2 == 0 else 0
                a_r, a_g, a_b = (
                    d % BMP_SHADE_MOD,
                    (d * 7) % BMP_SHADE_MOD,
                    (d * 13) % BMP_SHADE_MOD,
                )
                rows_bytes = b""
                # bottom-up storage: row y=0 is written LAST
                for y in range(h_px - 1, -1, -1):
                    row = b""
                    for x in range(w_px):
                        t = grad * (x + 2 * y)
                        row += bytes((a_b + t, a_g + t, a_r + t))
                    row += b"\x00" * ((4 - (3 * w_px) % 4) % 4)
                    rows_bytes += row
                header = struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + len(rows_bytes), 0, 0, 54
                )
                info = struct.pack(
                    "<IiiHHIIiiII",
                    40, w_px, h_px, 1, 24, 0, len(rows_bytes),
                    2835, 2835, 0, 0,
                )
                payloads.append(header + info + rows_bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["image/bmp"] * len(pdf),
                }
            )

    return _spread_ids(docs).mapInPandas(synth, schema=out_schema)


def bmp_channel_stats(media_df: DataFrame) -> DataFrame:
    """Per-channel brightness/contrast statistics from a REAL pixel walk
    — the image-quality filter stage (too-dark and zero-contrast frames
    get dropped before feature extraction; at 100 TB this is the cheap
    pre-filter in front of any learned vision scorer).

    Exact integer pixel sums and sum-of-squares per channel feed
    floor-scaled e6 means and population variances, so the verdict is
    bit-stable; ``is_flat`` is the zero-variance flag. Arrow-batched
    ``mapInPandas``, O(pixels) per row, zero shuffle."""
    out_schema = (
        "doc_id long, n_pixels long, "
        "mean_r_e6 long, mean_g_e6 long, mean_b_e6 long, "
        "var_r_e6 long, var_g_e6 long, var_b_e6 long, is_flat boolean"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_pixels", "mean_r_e6", "mean_g_e6", "mean_b_e6",
                "var_r_e6", "var_g_e6", "var_b_e6", "is_flat",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                magic, _sz, _r1, _r2, offset = struct.unpack_from(
                    "<2sIHHI", data, 0
                )
                if magic != b"BM":
                    raise ValueError(f"not a BMP payload (doc_id={doc_id})")
                _hsz, w_px, h_px, _planes, _bpp = struct.unpack_from(
                    "<IiiHH", data, 14
                )
                h_abs = abs(h_px)
                stride = (3 * w_px + 3) // 4 * 4
                s = [0, 0, 0]
                s2 = [0, 0, 0]
                for y in range(h_abs):
                    base = offset + y * stride
                    for x in range(w_px):
                        b_v, g_v, r_v = data[base + 3 * x: base + 3 * x + 3]
                        for i, v in enumerate((r_v, g_v, b_v)):
                            s[i] += v
                            s2[i] += v * v
                n = w_px * h_abs
                out["doc_id"].append(doc_id)
                out["n_pixels"].append(n)
                means, varis = [], []
                for i in range(3):
                    means.append(math.floor(s[i] / n * 1e6 + 0.5))
                    varis.append(
                        math.floor((n * s2[i] - s[i] * s[i]) / (n * n)
                                   * 1e6 + 0.5)
                    )
                out["mean_r_e6"].append(means[0])
                out["mean_g_e6"].append(means[1])
                out["mean_b_e6"].append(means[2])
                out["var_r_e6"].append(varis[0])
                out["var_g_e6"].append(varis[1])
                out["var_b_e6"].append(varis[2])
                out["is_flat"].append(
                    varis[0] == 0 and varis[1] == 0 and varis[2] == 0
                )
            yield pd.DataFrame(out)

    return media_df.mapInPandas(stats, schema=out_schema)


def bmp_channel_stats_oracle_sql(src: str = "documents") -> str:
    """Closed-form twin: the shaded synthesis is value = base_c +
    grad*(x + 2y) with no wrap, so the pixel sums have exact polynomial
    forms — S = n*a + g*St, S2 = n*a^2 + 2*a*g*St + g*St2 with
    St = h*w(w-1)/2 + w*h(h-1) and
    St2 = h*sum(x^2) + 4*sum(x)*sum(y) + 4*w*sum(y^2)."""
    w = f"({BMP_W_BASE} + doc_id % {BMP_W_MOD})"
    h = f"({BMP_H_BASE} + doc_id % {BMP_H_MOD})"
    chan = {
        "r": f"(doc_id % {BMP_SHADE_MOD})",
        "g": f"((doc_id * 7) % {BMP_SHADE_MOD})",
        "b": f"((doc_id * 13) % {BMP_SHADE_MOD})",
    }
    cols = []
    for c, a in chan.items():
        s = f"(n * {a} + g * st)"
        s2 = f"(n * {a} * {a} + 2 * {a} * g * st + g * st2)"
        cols.append(
            f"CAST(floor({s} / CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            f" AS mean_{c}_e6"
        )
        cols.append(
            f"CAST(floor((n * {s2} - {s} * {s}) / (CAST(n AS DOUBLE) * n)"
            f" * 1e6 + 0.5) AS BIGINT) AS var_{c}_e6"
        )
    return f"""
        WITH dims AS (
          SELECT doc_id, {w} AS w, {h} AS h, {w} * {h} AS n,
                 CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS g
          FROM {src}
        ),
        terms AS (
          SELECT *,
                 h * (w * (w - 1) // 2) + w * (h * (h - 1)) AS st,
                 h * ((w - 1) * w * (2 * w - 1) // 6)
                 + 4 * (w * (w - 1) // 2) * (h * (h - 1) // 2)
                 + 4 * w * ((h - 1) * h * (2 * h - 1) // 6) AS st2
          FROM dims
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_pixels,
               {", ".join(cols)},
               (g = 0) AS is_flat
        FROM terms
    """


def bmp_tile_stats(media_df: DataFrame) -> DataFrame:
    """Per-quadrant channel means from a REAL pixel walk — the patching
    primitive of every vision pipeline (ViT-style tiling, saliency
    crops, mosaics): each decoded BMP is split into a 2x2 tile grid
    (integer halves; odd widths give the right tiles the extra column)
    and each tile reports its exact pixel count and e6-scaled channel
    means.

    Storage order is bottom-up (BMP), so the walk maps storage row k to
    logical y = h-1-k before tiling — a decoder that tiles raw storage
    rows flips the vertical split and fails the closed-form oracle.
    Arrow-batched ``mapInPandas``, O(pixels) per row, zero shuffle; at
    100 TB this is embarrassingly parallel next to the channel-stats
    pre-filter."""
    out_schema = (
        "doc_id long, tile_x int, tile_y int, n_pixels long, "
        "mean_r_e6 long, mean_g_e6 long, mean_b_e6 long"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "tile_x", "tile_y", "n_pixels",
                "mean_r_e6", "mean_g_e6", "mean_b_e6",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                magic, _sz, _r1, _r2, offset = struct.unpack_from(
                    "<2sIHHI", data, 0
                )
                if magic != b"BM":
                    raise ValueError(f"not a BMP payload (doc_id={doc_id})")
                _hsz, w_px, h_px, _planes, _bpp = struct.unpack_from(
                    "<IiiHH", data, 14
                )
                h_abs = abs(h_px)
                stride = (3 * w_px + 3) // 4 * 4
                half_x, half_y = w_px // 2, h_abs // 2
                acc = {
                    (tx, ty): [0, 0, 0, 0]  # n, sr, sg, sb
                    for tx in (0, 1) for ty in (0, 1)
                }
                for k in range(h_abs):
                    y = h_abs - 1 - k  # bottom-up storage
                    ty = 0 if y < half_y else 1
                    base = offset + k * stride
                    for x in range(w_px):
                        b_v, g_v, r_v = data[base + 3 * x: base + 3 * x + 3]
                        a = acc[(0 if x < half_x else 1, ty)]
                        a[0] += 1
                        a[1] += r_v
                        a[2] += g_v
                        a[3] += b_v
                for (tx, ty), (n, sr, sg, sb) in acc.items():
                    out["doc_id"].append(doc_id)
                    out["tile_x"].append(tx)
                    out["tile_y"].append(ty)
                    out["n_pixels"].append(n)
                    out["mean_r_e6"].append(math.floor(sr / n * 1e6 + 0.5))
                    out["mean_g_e6"].append(math.floor(sg / n * 1e6 + 0.5))
                    out["mean_b_e6"].append(math.floor(sb / n * 1e6 + 0.5))
            yield pd.DataFrame(out)

    return media_df.mapInPandas(stats, schema=out_schema)


def bmp_tile_stats_oracle_sql(src: str = "documents") -> str:
    """Closed-form twin over the shaded synthesis value = a + g*(x+2y):
    per tile [x0,x1) x [y0,y1), S = n*a + g*(ny*Sx + 2*nx*Sy) with
    Sx = (x1(x1-1) - x0(x0-1))/2 (exact — consecutive products are
    even), so each mean is floor(S/n * 1e6 + 0.5) of an integer ratio,
    the same double op the kernel applies."""
    w = f"({BMP_W_BASE} + doc_id % {BMP_W_MOD})"
    h = f"({BMP_H_BASE} + doc_id % {BMP_H_MOD})"
    chan = {
        "r": f"(doc_id % {BMP_SHADE_MOD})",
        "g": f"((doc_id * 7) % {BMP_SHADE_MOD})",
        "b": f"((doc_id * 13) % {BMP_SHADE_MOD})",
    }
    cols = []
    for c, a in chan.items():
        s = f"(n_t * {a} + g * (ny * sx + 2 * nx * sy))"
        cols.append(
            f"CAST(floor({s} / CAST(n_t AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            f" AS mean_{c}_e6"
        )
    return f"""
        WITH dims AS (
          SELECT doc_id, {w} AS w, {h} AS h,
                 CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS g
          FROM {src}
        ),
        tiles AS (
          SELECT d.*, tx.v AS tile_x, ty.v AS tile_y,
                 CASE WHEN tx.v = 0 THEN 0 ELSE w // 2 END AS x0,
                 CASE WHEN tx.v = 0 THEN w // 2 ELSE w END AS x1,
                 CASE WHEN ty.v = 0 THEN 0 ELSE h // 2 END AS y0,
                 CASE WHEN ty.v = 0 THEN h // 2 ELSE h END AS y1
          FROM dims d
          CROSS JOIN (VALUES (0), (1)) tx(v)
          CROSS JOIN (VALUES (0), (1)) ty(v)
        ),
        terms AS (
          SELECT *,
                 (x1 - x0) AS nx, (y1 - y0) AS ny,
                 (x1 - x0) * (y1 - y0) AS n_t,
                 (x1 * (x1 - 1) - x0 * (x0 - 1)) // 2 AS sx,
                 (y1 * (y1 - 1) - y0 * (y0 - 1)) // 2 AS sy
          FROM tiles
        )
        SELECT doc_id, CAST(tile_x AS INTEGER) AS tile_x,
               CAST(tile_y AS INTEGER) AS tile_y,
               CAST(n_t AS BIGINT) AS n_pixels,
               {", ".join(cols)}
        FROM terms
        ORDER BY doc_id, tile_y, tile_x
    """


FLIP_MOTION_CUT = 120  # L1 mean-color jump that counts as a shot cut


def flipbook_motion_profile(media_df: DataFrame) -> DataFrame:
    """Frame-to-frame motion profile from a REAL container walk — the
    shot-boundary primitive of video curation (sampling keyframes at
    cuts, dropping static clips): walk the flipbook's self-describing
    BMP frames, compute each frame's exact per-channel pixel means from
    the decoded bytes, and emit the L1 mean-color jump between
    consecutive frames with a cut verdict.

    Constant-fill frames make the means exact integers, so the jump is
    an exact bigint and the verdict can't sit on a float knife edge —
    while the kernel still exercises the real decode path (header walk,
    stride padding, BGR order). Arrow-batched ``mapInPandas``,
    O(pixels)/row, zero shuffle."""
    out_schema = (
        "doc_id long, frame_idx int, width int, height int, "
        "motion_l1 long, verdict string"
    )

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height",
                "motion_l1", "verdict",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(blob)
                pos, idx = 0, 0
                prev_means = None
                while pos < len(data):
                    magic, size, _r1, _r2, offset = struct.unpack_from(
                        "<2sIHHI", data, pos
                    )
                    if magic != b"BM":
                        raise ValueError(
                            f"bad frame header (doc_id={doc_id})"
                        )
                    _hsz, w_px, h_px, _planes, _bpp = struct.unpack_from(
                        "<IiiHH", data, pos + 14
                    )
                    h_abs = abs(h_px)
                    stride = (3 * w_px + 3) // 4 * 4
                    s = [0, 0, 0]
                    for y in range(h_abs):
                        base = pos + offset + y * stride
                        for x in range(w_px):
                            b_v, g_v, r_v = data[
                                base + 3 * x: base + 3 * x + 3
                            ]
                            s[0] += r_v
                            s[1] += g_v
                            s[2] += b_v
                    n = w_px * h_abs
                    means = (s[0] // n, s[1] // n, s[2] // n)
                    # constant fill: sums divide exactly (pinned below)
                    if s[0] % n or s[1] % n or s[2] % n:
                        raise ValueError(
                            f"non-constant frame (doc_id={doc_id})"
                        )
                    if prev_means is not None:
                        l1 = sum(
                            abs(a - b) for a, b in zip(means, prev_means)
                        )
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(idx)
                        out["width"].append(w_px)
                        out["height"].append(h_abs)
                        out["motion_l1"].append(l1)
                        out["verdict"].append(
                            "cut" if l1 > FLIP_MOTION_CUT else "pan"
                        )
                    prev_means = means
                    pos += size
                    idx += 1
            yield pd.DataFrame(out)

    return media_df.mapInPandas(profile, schema=out_schema)


def flipbook_motion_oracle_sql(src: str = "documents") -> str:
    """Closed-form twin: frame k's fill color derives from
    seed = A*doc_id + B*k, so the motion profile is pure modular
    arithmetic over generate_series(1, n_frames-1)."""
    a, b = FLIP_SEED_A, FLIP_SEED_B
    mk = f"({a} * doc_id + {b} * k)"
    prev = f"({a} * doc_id + {b} * (k - 1))"
    l1 = (
        f"ABS({mk} % 256 - {prev} % 256)"
        f" + ABS(({mk} * 7) % 256 - ({prev} * 7) % 256)"
        f" + ABS(({mk} * 13) % 256 - ({prev} * 13) % 256)"
    )
    return f"""
        WITH dims AS (
          SELECT doc_id,
                 {FLIP_MIN_FRAMES} + doc_id % {FLIP_FRAME_MOD} AS n_frames
          FROM {src}
        ),
        frames AS (
          SELECT doc_id,
                 unnest(generate_series(1, n_frames - 1)) AS k
          FROM dims
          WHERE n_frames >= 2
        )
        SELECT doc_id,
               CAST(k AS INTEGER) AS frame_idx,
               CAST({BMP_W_BASE} + {mk} % {BMP_W_MOD} AS INTEGER) AS width,
               CAST({BMP_H_BASE} + {mk} % {BMP_H_MOD} AS INTEGER) AS height,
               CAST({l1} AS BIGINT) AS motion_l1,
               CASE WHEN {l1} > {FLIP_MOTION_CUT} THEN 'cut' ELSE 'pan' END
                 AS verdict
        FROM frames
        ORDER BY doc_id, frame_idx
    """


# ----------------------------------------- audio envelope fingerprinting
AUDIO_TWIN_OFFSET = 2_000_000  # ≡ 0 mod 32 and mod 5: twin keeps the
# base doc's frame count and gap layout (envelope), while rate (mod 3)
# and amplitude (halved) differ — a true "same content, different
# loudness/encoding" audio near-duplicate
AUDIO_TWIN_N = 40


def synthesize_wav_twinned(docs: DataFrame, n_twins: int = AUDIO_TWIN_N) -> DataFrame:
    """:func:`synthesize_wav_gapped` plus LOUDNESS TWINS: each of the
    first ``n_twins`` docs gets a second payload at ``doc_id +
    AUDIO_TWIN_OFFSET`` whose signal derives every parameter from the
    BASE id but halves the amplitude — byte-different audio with the
    identical silence envelope (the honest-threshold discipline of
    ``plant_near_dups``: the raw corpus alone has no planted audio
    dups)."""
    out_schema = "doc_id long, media binary, media_type string"
    rb, rs, fb, fs, ab, as_ = (
        WAV_RATE_BASE, WAV_RATE_STEP, WAV_FRAMES_BASE,
        WAV_FRAMES_STEP, WAV_AMP_BASE, WAV_AMP_STEP,
    )
    g0, gs, off = VAD_GAP_START, VAD_GAP_STEP, AUDIO_TWIN_OFFSET

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                base = d - off if d >= off else d
                rate = rb + rs * (d % 3)
                n = fb + fs * (base % 32)
                amp = ab + as_ * (base % 1000)
                if d >= off:
                    amp //= 2  # >= 250: still nonzero in every sample
                gap = gs * (base % 5)
                samples = [amp if i % 2 == 0 else -amp for i in range(n)]
                for i in range(g0, g0 + gap):
                    samples[i] = 0
                buf = io.BytesIO()
                w = wave.open(buf, "wb")
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(struct.pack(f"<{n}h", *samples))
                w.close()
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "media_type": ["audio/wav"] * len(pdf),
                }
            )

    twins = docs.filter(F.col("doc_id") < n_twins).select(
        (F.col("doc_id") + off).alias("doc_id")
    )
    ids = docs.select("doc_id").unionByName(twins)
    return _spread_ids(ids).mapInPandas(synth, schema=out_schema)


def audio_fingerprint_clusters(media_df: DataFrame) -> DataFrame:
    """Envelope fingerprint dedup over REAL decoded audio — the
    echoprint/chromaprint SLOT of an audio curation pipeline on the
    format this container can really parse: per VAD frame one bit
    (active = any nonzero PCM sample), the per-doc bitstring is the
    fingerprint, and docs clustering on the same fingerprint are
    duplicate CANDIDATES (the same candidates-then-verify discipline
    as MinHash banding — a fingerprint collision is a candidate, the
    planted loudness twins are the true pairs the tests pin).

    Output per cluster: the fingerprint, member/twin counts, and the
    canonical keeper (min doc_id). One Arrow decode map + one
    combinable groupBy — zero windows, zero shuffles beyond the 160-ish
    cluster aggregate at any corpus size."""
    out_schema = "doc_id long, fingerprint string"
    fr = VAD_FRAME

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                w = wave.open(io.BytesIO(bytes(blob)), "rb")
                n = w.getnframes()
                raw = w.readframes(n)
                w.close()
                samples = struct.unpack(f"<{n}h", raw)
                n_frames = (n + fr - 1) // fr
                bits = "".join(
                    "1"
                    if any(
                        samples[i] != 0
                        for i in range(f * fr, min((f + 1) * fr, n))
                    )
                    else "0"
                    for f in range(n_frames)
                )
                ids.append(doc_id)
                fps.append(bits)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    per_doc = media_df.mapInPandas(fp, schema=out_schema)
    return (
        per_doc.groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                (F.col("doc_id") >= AUDIO_TWIN_OFFSET).cast("long")
            ).alias("n_twins"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("fingerprint")
    )


def audio_fingerprint_oracle_sql(
    src: str = "documents", n_twins: int = AUDIO_TWIN_N
) -> str:
    """Predict every fingerprint from the synthesis formulas (the
    :func:`wav_meta_oracle_sql` discipline — no byte parsing; a decoder
    misread fails the hash gate): frames 0-1 are active, the next
    ``base % 5`` frames are the planted silence, everything through the
    (always partially-active) last frame is active again."""
    off = AUDIO_TWIN_OFFSET

    def fp(base: str) -> str:
        nf = f"(({WAV_FRAMES_BASE} + {WAV_FRAMES_STEP} * (({base}) % 32)"\
             f" + {VAD_FRAME - 1}) // {VAD_FRAME})"
        gapf = f"(({base}) % 5)"
        return (
            f"repeat('1', 2) || repeat('0', {gapf}) || "
            f"repeat('1', {nf} - 2 - {gapf})"
        )

    return f"""
        WITH ids AS (
          SELECT doc_id, doc_id AS base FROM {src}
          UNION ALL
          SELECT doc_id + {off}, doc_id FROM {src}
          WHERE doc_id < {int(n_twins)}
        ),
        per_doc AS (
          SELECT doc_id, {fp('base')} AS fingerprint FROM ids
        )
        SELECT fingerprint,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN doc_id >= {off} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_twins,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM per_doc GROUP BY fingerprint
        ORDER BY fingerprint
    """
