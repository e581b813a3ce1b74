"""Multimodal columns: opaque binary payloads + typed metadata.

Mandated LLM-pipeline extension: image/audio/video content is carried
as an opaque ``binary`` column plus a typed metadata struct.  Only
byte-level codec work needs Python; it runs through one Arrow row
kernel, `row_kernel` over ``mapInArrow`` (per-batch Arrow transfer,
one codec call per row).

Two tiers coexist:

1. the byte-level STUB stages (`decode_stub`, `resize_stub`,
   `frame_sample_stub`) whose payloads are UTF-8 text bytes — plain
   Column algebra (``octet_length``, ``substring``, ``hex``,
   ``sequence``/``explode``), so their plans carry no Python node;
2. REAL codec stages (`encode_images` / `decode_images` /
   `resize_images`, `encode_audio` / `decode_audio`, the video and
   signature kernels) backed by the spec-compliant pure-stdlib PNG,
   RIFF/WAVE and Motion-PNG codecs in `llm/codecs.py`.  Payload
   CONTENT is deterministic arithmetic in ``doc_id`` (the testdata
   carries no real media), so a DuckDB oracle can reproduce every
   decoded pixel/sample sum in closed form — the hash check therefore
   verifies the actual inflate + unfilter work, not just plumbing.
   Per-scanline filters rotate through all five PNG filter types keyed
   on (doc_id + row), so the corpus-wide round-trip exercises every
   unfilter path.

Every codec stage is a `row_kernel` (byte-level codec work is not
expressible in Column algebra); per-row cost is the codec itself,
embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import functools

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .codecs import (
    decode_png,
    decode_wav,
    encode_mpng,
    encode_png,
    encode_wav,
    split_mpng,
)
from ..sources.tables import ship_package

MODALITIES = ("image", "audio", "video")

#: decode output schema: doc_id + modality carried through, plus the
#: stub-extracted byte-level features.
DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("header", StringType()),
        StructField("is_valid", BooleanType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

MIN_VALID_BYTES = 16


def row_kernel(
    df: DataFrame, in_cols: list[str], fn, schema: StructType
) -> DataFrame:
    """Run ``fn`` once per row of ``df[in_cols]`` inside ``mapInArrow``.

    ``fn(*values)`` takes one input row's values (Python objects:
    ``int`` for long columns, ``bytes`` for binary) and yields zero or
    more output tuples in ``schema`` order, so 1:1 kernels and
    row-expanding ones share this one path.  Each output batch is
    typed from ``schema``, so no kernel types its own columns.  ``fn``
    pickles the package's functions by reference, so the package ships
    to the workers first: a query that reads only silvers never passes
    through ``load_table``, which ships it otherwise."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            values = zip(*(col.to_pylist() for col in batch.columns))
            rows = [out for args in values for out in fn(*args)]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    ship_package(df.sparkSession)
    return df.select(*in_cols).mapInArrow(run, schema)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Wrap documents as multimodal rows: opaque binary payload + typed
    metadata struct.  Modality is assigned deterministically
    (doc_id mod 3) so the same row maps to the same modality on any
    engine."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        F.col("source").alias("origin"),
        F.col("n_chars").cast("int").alias("declared_size"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
    )
    return docs.select(
        "doc_id",
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def decode_stub(multimodal: DataFrame) -> DataFrame:
    """Byte-level decode stub in Column algebra (``DECODE_SCHEMA``).

    Stub semantics (deterministic, byte-level): n_bytes = payload
    length, header = first 4 bytes as lowercase hex (shorter for a
    shorter payload), is_valid = n_bytes >= MIN_VALID_BYTES,
    width/height echoed from metadata (a real decoder would read them
    from the payload).
    """
    payload = F.col("payload")
    n_bytes = F.octet_length(payload).cast("long")
    return multimodal.select(
        "doc_id",
        "modality",
        n_bytes.alias("n_bytes"),
        F.lower(F.hex(F.substring(payload, 1, 4))).alias("header"),
        (n_bytes >= MIN_VALID_BYTES).alias("is_valid"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("orig_width", IntegerType()),
        StructField("orig_height", IntegerType()),
    ]
)


def resize_stub(
    multimodal: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Image-resize stage in Column algebra (``RESIZE_SCHEMA``).

    STUB: a real implementation decodes the payload with PIL and
    re-encodes at (target_w, target_h); no codec exists in this
    container, so the stub scales the PAYLOAD LENGTH by the pixel ratio
    (prefix truncation — deterministic and schema-faithful) and
    rewrites the size metadata.  The kept length follows one float
    order: ``n * (target_w*target_h / greatest(w*h, 1))``, capped at
    ``n``, truncated to long, floored at 1.
    """
    payload = F.col("payload")
    w, h = F.col("meta.width"), F.col("meta.height")
    n = F.octet_length(payload)
    ratio = F.lit(target_w * target_h) / F.greatest(w * h, F.lit(1))
    keep = F.greatest(F.least(n * ratio, n).cast("long"), F.lit(1))
    return multimodal.filter(F.col("modality") == "image").select(
        "doc_id",
        "modality",
        F.substring(payload, F.lit(1), keep.cast("int")).alias("payload"),
        F.lit(target_w).alias("width"),
        F.lit(target_h).alias("height"),
        w.alias("orig_width"),
        h.alias("orig_height"),
    )


FRAME_BYTES = 256

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_len", IntegerType()),
    ]
)


def frame_sample_stub(multimodal: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame-sampling stage in Column algebra (``FRAME_SCHEMA``) —
    a ROW-EXPANDING stage (one input video -> many frame rows), the
    shape a real ffmpeg-backed sampler needs.

    STUB: a "frame" is a FRAME_BYTES-byte slice of the payload; every
    ``every_n``-th frame is emitted with its index and length.  Output
    row count per doc = ceil(ceil(n_bytes / FRAME_BYTES) / every_n),
    which is what the oracle checks; an empty payload has no frames.
    """
    n = F.octet_length("payload")
    n_frames = F.ceil(n / FRAME_BYTES).cast("int")
    frames = multimodal.filter(F.col("modality") == "video").select(
        "doc_id",
        n.alias("n"),
        F.explode(
            F.when(
                n_frames > 0,
                F.sequence(F.lit(0), n_frames - 1, F.lit(every_n)),
            )
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.least(
            F.lit(FRAME_BYTES), F.col("n") - F.col("frame_idx") * FRAME_BYTES
        ).alias("frame_len"),
    )


# ---------------------------------------------------------------------------
# Real-codec tier (PNG / WAV via llm/codecs.py)
# ---------------------------------------------------------------------------
#
# Deterministic content contracts (what the DuckDB oracles replay):
#   image  : w = doc_id % 60 + 4, h = doc_id % 40 + 4, grayscale,
#            pixel[i] = (doc_id*31 + i*7) % 256  (row-major i),
#            scanline y filtered with PNG filter (doc_id + y) % 5
#   audio  : n = doc_id % 400 + 50 PCM16 mono samples at 8 kHz,
#            sample[i] = (doc_id*131 + i*17) % 65536 - 32768
#   resize : nearest-neighbor to (16, 12):
#            out[y, x] = pixel[(y*h//12)*w + (x*w//16)]

IMG_W_MOD, IMG_W_OFF = 60, 4
IMG_H_MOD, IMG_H_OFF = 40, 4

PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _image_pixels(doc_id: int):
    w = doc_id % IMG_W_MOD + IMG_W_OFF
    h = doc_id % IMG_H_MOD + IMG_H_OFF
    i = np.arange(w * h, dtype=np.int64)
    return ((doc_id * 31 + i * 7) % 256).astype("uint8").reshape(h, w)


def encode_images(docs: DataFrame) -> DataFrame:
    """Produce a REAL spec-compliant PNG per document (content per the
    module contract above).  One `row_kernel` pass; any external PNG
    reader can open the payloads."""

    def encode(doc_id):
        yield doc_id, encode_png(
            _image_pixels(doc_id), filter_for_row=lambda y: (doc_id + y) % 5
        )

    return row_kernel(docs, ["doc_id"], encode, PAYLOAD_SCHEMA)


IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def decode_images(images: DataFrame) -> DataFrame:
    """REAL PNG decode (inflate + unfilter all five filter types) in a
    `row_kernel`: width/height/channels come from the parsed IHDR and
    pixel_sum from the reconstructed scanlines, so the oracle's
    closed-form pixel arithmetic only matches if the codec is
    byte-exact."""

    def decode(doc_id, payload):
        w, h, ch, px = decode_png(payload)
        yield doc_id, w, h, ch, w * h * ch, int(px.astype("int64").sum())

    return row_kernel(
        images, ["doc_id", "payload"], decode, IMAGE_DECODE_SCHEMA
    )


def resize_images(
    images: DataFrame, target_w: int = 16, target_h: int = 12
) -> DataFrame:
    """REAL resize: decode the PNG, nearest-neighbor sample to
    (target_w, target_h) with numpy fancy indexing, re-encode as PNG.
    Binary-in/binary-out — the same kernel shape a PIL/ffmpeg-backed
    production resize uses."""

    def resize(doc_id, payload):
        w, h, ch, px = decode_png(payload)
        sy = (np.arange(target_h, dtype=np.int64) * h) // target_h
        sx = (np.arange(target_w, dtype=np.int64) * w) // target_w
        yield doc_id, encode_png(px[np.ix_(sy, sx)])

    return row_kernel(images, ["doc_id", "payload"], resize, PAYLOAD_SCHEMA)


AUD_N_MOD, AUD_N_OFF, AUD_RATE = 400, 50, 8000


def encode_audio(docs: DataFrame) -> DataFrame:
    """Produce a REAL RIFF/WAVE (PCM16 mono 8 kHz) per document,
    content per the module contract above."""

    def encode(doc_id):
        i = np.arange(doc_id % AUD_N_MOD + AUD_N_OFF, dtype=np.int64)
        samples = ((doc_id * 131 + i * 17) % 65536 - 32768).astype("<i2")
        yield doc_id, encode_wav(samples, framerate=AUD_RATE)

    return row_kernel(docs, ["doc_id"], encode, PAYLOAD_SCHEMA)


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sample_sum", LongType()),
        StructField("peak", IntegerType()),
    ]
)


def decode_audio(audio: DataFrame) -> DataFrame:
    """REAL WAV decode: header fields from the RIFF parse, sample_sum /
    peak from the PCM frames — all exact integers the oracle replays in
    closed form."""

    def decode(doc_id, payload):
        ch, _sw, rate, n, samples = decode_wav(payload)
        s64 = samples.astype(np.int64)
        yield doc_id, ch, rate, n, int(s64.sum()), int(np.abs(s64).max())

    return row_kernel(
        audio, ["doc_id", "payload"], decode, AUDIO_DECODE_SCHEMA
    )


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("h_lo", LongType()),
        StructField("h_hi", LongType()),
    ]
)


def _check_dhash_grid(grid_w: int, grid_h: int) -> None:
    if grid_w * grid_h != 64:
        raise ValueError(
            f"dhash grid must yield 64 bits (got {grid_w}x{grid_h}); "
            f"the two-half packing and 16-bit banding assume 64"
        )


def _pack_halves(bits) -> tuple[int, int]:
    """64 bits (index 0 = least significant) -> two non-negative 32-bit
    halves (h_lo = bits 0..31, h_hi = bits 32..63)."""
    packed = np.packbits(bits, bitorder="little").tobytes()
    return int.from_bytes(packed[:4], "little"), int.from_bytes(
        packed[4:], "little"
    )


def dhash_images(
    images: DataFrame, grid_w: int = 8, grid_h: int = 8
) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL decoded pixels —
    the content-addressed fingerprint the near-dup family was missing
    for the image modality (text has exact/MinHash/SimHash/semantic
    tiers; this is the pixel-space analogue).

    Per image: decode the PNG (`llm/codecs.py`, real inflate +
    unfilter), nearest-neighbor downsample to ``(grid_w+1) x grid_h``
    with the SAME integer index arithmetic as `resize_images`
    (src = (dst * src_dim) // dst_dim — closed-form, so a DuckDB
    oracle replays every bit), then emit one bit per horizontal
    neighbor pair: bit(y*grid_w+x) = 1 iff px[y, x+1] > px[y, x].
    The classic 9x8 -> 64-bit dHash (Krawetz), robust to uniform
    brightness shifts and to resizing because only LOCAL gradient
    signs survive.

    The 64 bits are returned as TWO non-negative 32-bit halves in
    long columns (h_lo = bits 0..31, h_hi = bits 32..63): a single
    int64 would put bit 63 in the sign position, and building it via
    SUM(1<<63) overflows under ANSI on both engines — two halves keep
    every value, shift, and band mask in safe non-negative range
    while Hamming distance stays two bit_count(xor) terms.

    One `row_kernel` pass; embarrassingly parallel, no shuffle — the
    100 TB shape is one codec+hash pass, then all pairing work happens
    on the 16-byte signatures."""
    _check_dhash_grid(grid_w, grid_h)

    def hash_image(doc_id, payload):
        w, h, ch, px = decode_png(payload)
        yield (doc_id, *_dhash_halves(px, ch, w, h, grid_w, grid_h))

    return row_kernel(
        images, ["doc_id", "payload"], hash_image, DHASH_SCHEMA
    )


@functools.lru_cache(maxsize=256)
def _dhash_grid(w: int, h: int, grid_w: int, grid_h: int):
    sy = (np.arange(grid_h, dtype=np.int64) * h) // grid_h
    sx = (np.arange(grid_w + 1, dtype=np.int64) * w) // (grid_w + 1)
    return sy, sx


def _dhash_halves(
    px, ch: int, w: int, h: int, grid_w: int = 8, grid_h: int = 8
) -> tuple[int, int]:
    """The dHash bit computation shared by the image and video tiers
    (one implementation — `dhash_images` is oracle-pinned, so the
    video path must reuse these exact bits, not re-derive them):
    nearest-neighbor sample to (grid_w+1) x grid_h with the
    `resize_images` integer index arithmetic, one bit per horizontal
    neighbor pair, packed as two non-negative 32-bit halves."""
    if ch != 1:
        # RGB: integer luma (channel mean, floor) BEFORE sampling —
        # without this the channel axis would survive np.ix_, ravel()
        # would yield ch*64 bits, and the halves would slice an
        # interleaved channel mix into a garbage hash with no error
        # (deterministic integer math so the hash stays
        # engine-replayable)
        px = px.astype(np.int64).sum(axis=2) // ch
    # the sample grids repeat per (w, h): on the video path every
    # sampled frame of a clip shares one grid
    sy, sx = _dhash_grid(w, h, grid_w, grid_h)
    g = px[np.ix_(sy, sx)].astype(np.int64)
    return _pack_halves((g[:, 1:] > g[:, :-1]).ravel())


def fingerprint_audio(audio: DataFrame, n_frames: int = 65) -> DataFrame:
    """Perceptual audio fingerprint over REAL decoded PCM — the audio
    modality's analogue of `dhash_images`: an energy-envelope
    difference hash (the dHash idea applied along time instead of
    space, the core of the classic audio-fingerprinting family).

    Per clip: decode the WAV (`llm/codecs.py`, real RIFF parse), split
    the samples into ``n_frames`` equal spans with the integer
    boundary arithmetic frame f = [f*n//n_frames, (f+1)*n//n_frames)
    (closed-form, so a DuckDB oracle replays every frame sum), compute
    each frame's absolute-amplitude energy as an exact int64 sum, and
    emit one bit per adjacent-frame pair: bit f = 1 iff
    energy(f+1) > energy(f).  Only the envelope's LOCAL slope signs
    survive, so the print is robust to uniform gain changes for the
    same reason dHash is robust to brightness shifts.  Clips shorter
    than ``n_frames`` samples produce empty frames whose energy is 0 —
    deterministic on both engines.

    65 frames -> 64 bits, packed as the same two non-negative 32-bit
    halves as `dhash_images` (single-int64 signatures put bit 63 in
    the sign position), so `llm/dedup.py:dhash_near_dup_pairs` bands
    and verifies audio prints unchanged.  One `row_kernel` pass, no
    shuffle; at 100 TB the corpus reduces to 16-byte signatures before
    any pairing cost."""
    if n_frames != 65:
        raise ValueError(
            f"audio fingerprint needs 65 frames -> 64 bits (got "
            f"{n_frames}); the two-half packing and banding assume 64"
        )

    def fingerprint(doc_id, payload):
        _ch, _sw, _rate, n, samples = decode_wav(payload)
        s = np.abs(samples.astype(np.int64))
        bounds = (np.arange(n_frames + 1, dtype=np.int64) * n) // n_frames
        sums = np.concatenate(([0], np.cumsum(s)))
        e = sums[bounds[1:]] - sums[bounds[:-1]]
        yield (doc_id, *_pack_halves(e[1:] > e[:-1]))

    return row_kernel(
        audio, ["doc_id", "payload"], fingerprint, DHASH_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real-codec video tier (Motion-PNG via llm/codecs.py)
# ---------------------------------------------------------------------------
#
# Deterministic content contract (what the DuckDB oracles replay):
#   video : n_frames = doc_id % 24 + 6 frames, each a grayscale
#           w = doc_id % 12 + 8 by h = doc_id % 10 + 6 image with
#           pixel(k, i) = (doc_id*31 + k*101 + i*7) % 256 (row-major i
#           in frame k), scanline y of frame k PNG-filtered with type
#           (doc_id + k + y) % 5; the payload is the Motion-PNG
#           concatenation of the n_frames member PNGs.
# The k*101 term makes consecutive frames differ everywhere while
# keeping every pixel closed-form; 101 is coprime to 256, so frame
# deltas never settle into a byte-aligned cycle.

VID_NF_MOD, VID_NF_OFF = 24, 6
VID_W_MOD, VID_W_OFF = 12, 8
VID_H_MOD, VID_H_OFF = 10, 6


def _video_frame_pixels(doc_id: int, k: int):
    w = doc_id % VID_W_MOD + VID_W_OFF
    h = doc_id % VID_H_MOD + VID_H_OFF
    i = np.arange(w * h, dtype=np.int64)
    return (
        ((doc_id * 31 + k * 101 + i * 7) % 256).astype("uint8").reshape(h, w)
    )


def encode_videos(docs: DataFrame) -> DataFrame:
    """Produce a REAL Motion-PNG clip per document (content per the
    module contract above): every member frame is a spec-compliant
    PNG through `llm/codecs.py:encode_png`, rotating all five
    scanline filters, concatenated by `encode_mpng`.  One `row_kernel`
    pass; any external PNG reader can open each member."""

    def encode(doc_id):
        frames = [
            encode_png(
                _video_frame_pixels(doc_id, k),
                filter_for_row=lambda y, k=k: (doc_id + k + y) % 5,
            )
            for k in range(doc_id % VID_NF_MOD + VID_NF_OFF)
        ]
        yield doc_id, encode_mpng(frames)

    return row_kernel(docs, ["doc_id"], encode, PAYLOAD_SCHEMA)


VIDEO_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
    ]
)


def decode_videos(videos: DataFrame) -> DataFrame:
    """REAL video decode: split the Motion-PNG container by chunk
    grammar (`split_mpng`), PNG-decode every member frame, and emit
    per-clip frame count, dimensions, and the exact int64 pixel sum
    across all frames — the closed-form totals a DuckDB oracle
    replays, so one wrong byte anywhere in the container walk or any
    member's inflate/unfilter chain breaks the sum."""

    def decode(doc_id, payload):
        frames = split_mpng(payload)
        if not frames:
            # split_mpng returns [] for an EMPTY stream (its loop never
            # runs) — raise the structural error the codec layer
            # promises instead of emitting a clip with no dimensions
            raise ValueError(f"doc {doc_id}: empty Motion-PNG stream")
        total = 0
        for fb in frames:
            w, h, _ch, px = decode_png(fb)
            total += int(px.astype("int64").sum())
        yield doc_id, len(frames), w, h, total

    return row_kernel(
        videos, ["doc_id", "payload"], decode, VIDEO_DECODE_SCHEMA
    )


FRAME_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def sample_frames(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling — the production replacement for
    `frame_sample_stub` (which slices payload bytes; kept for its
    established oracle): split the Motion-PNG container by chunk
    grammar and emit every ``every_n``-th member as its own complete
    PNG row (doc_id, frame_idx, payload).  The row-expanding
    binary-in/binary-out kernel shape an ffmpeg-backed sampler needs,
    with a real codec behind it.  Embarrassingly parallel, no
    shuffle; at 100 TB the clip corpus fans out to sampled frames in
    one Arrow-batched pass."""

    def sample(doc_id, payload):
        frames = split_mpng(payload)
        for k in range(0, len(frames), every_n):
            yield doc_id, k, frames[k]

    return row_kernel(
        videos, ["doc_id", "payload"], sample, FRAME_PAYLOAD_SCHEMA
    )


FRAME_DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("h_lo", LongType()),
        StructField("h_hi", LongType()),
    ]
)


def dhash_video_frames(
    videos: DataFrame, every_n: int = 2, grid_w: int = 8, grid_h: int = 8
) -> DataFrame:
    """Frame-level perceptual fingerprint of a video: split the
    Motion-PNG container, PNG-decode every ``every_n``-th frame, and
    dHash each sampled frame through the SAME bit computation as the
    image tier (`_dhash_halves` — one implementation, so the video
    bits inherit `dhash_images`' oracle-verified semantics).  Output
    one row per sampled frame: (doc_id, frame_idx, h_lo, h_hi).

    This is the video analogue of `dhash_images`/`fingerprint_audio`:
    a clip reduces to ~n_frames/every_n 16-byte signatures in one
    Arrow-batched pass, and ALL pairing cost moves to the signature
    table — the 100 TB shape shared by the whole near-dup family."""
    _check_dhash_grid(grid_w, grid_h)

    def hash_frames(doc_id, payload):
        frames = split_mpng(payload)
        for k in range(0, len(frames), every_n):
            w, h, ch, px = decode_png(frames[k])
            yield (doc_id, k, *_dhash_halves(px, ch, w, h, grid_w, grid_h))

    return row_kernel(
        videos, ["doc_id", "payload"], hash_frames, FRAME_DHASH_SCHEMA
    )


#: the registered video sampling stride — ONE definition feeding the
#: Spark builders, the streaming signature channel and the oracle CTEs
VIDEO_EVERY_N = 2

#: composite frame-id base: frame signatures ride the shared banding
#: engine as doc_id * VID_FID_BASE + frame_idx — frame counts are
#: bounded at 29 by the content contract, so the composite is
#: collision-free and order-preserving.  ONE definition for every
#: encode/decode site.
VID_FID_BASE = 1024


def vid_fid():
    """Encode (doc_id, frame_idx) into the composite id, aliased back
    to doc_id for the banding engine."""
    return (F.col("doc_id") * VID_FID_BASE + F.col("frame_idx")).alias(
        "doc_id"
    )


def fid_clip(col: str):
    """The clip id of a composite frame-id column."""
    return F.floor(F.col(col) / VID_FID_BASE)


def fid_frame(col: str):
    """The frame position of a composite frame-id column."""
    return F.col(col) % VID_FID_BASE


def clip_pairs(frame_pairs: DataFrame, min_frames: int) -> DataFrame:
    """Clip pairs (doc_a, doc_b, n_matching_frames) from near-dup pairs
    of composite frame ids: a pair counts when its two frames sit at
    the same position of two different clips, and a clip pair needs
    >= ``min_frames`` such positions (video_near_dups' multi-evidence
    rule)."""
    va, vb = fid_clip("doc_a"), fid_clip("doc_b")
    same_pos = fid_frame("doc_a") == fid_frame("doc_b")
    return (
        frame_pairs.filter(same_pos & (va != vb))
        .select(va.alias("doc_a"), vb.alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_matching_frames"))
        .filter(F.col("n_matching_frames") >= min_frames)
    )
