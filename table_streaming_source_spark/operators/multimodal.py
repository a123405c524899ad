"""Multimodal (image/audio/video) column support.

Model: media payloads are opaque ``binary`` columns accompanied by a typed
metadata struct — at rest this is parquet binary + struct columns, which
Spark scans with the payload column *pruned away* unless a query touches it
(column pruning is the whole game at 100 TB: metadata-only queries must
never read the bytes).

``decode_media`` is the decode/feature-extract step as an Arrow-batched
``mapInPandas`` pipeline.  The metadata path is REAL: ``decoder='parse'``
sniffs and parses container headers with :mod:`struct` alone (PNG IHDR,
GIF87a/89a screen+image descriptors, RIFF/WAVE fmt+data, RIFF/AVI avih —
:func:`parse_container`), and the fixture adapter
:func:`attach_container_payload` synthesizes spec-valid container bytes
to parse.

Full pixel/sample decode is REAL, written to the public specs with
stdlib + numpy: PNG (every filter, Adam7, palette), GIF (LZW, interlace,
animation), JPEG (baseline, progressive, 4:2:0), MJPEG-in-AVI, BMP (incl.
RLE8), TGA, QOI, Netpbm, PCX, ICO, WebP lossless, WAV PCM, IMA-ADPCM,
G.711 mu-law and FLAC.  Only the lossy A/V codecs that need a codec
library (H.264, MP3 audio) are not decoded: ``decoder='real'`` raises,
and MP3/MP4/MKV get header and container walks instead.
``decoder='fake'`` remains for non-container fixture payloads.

Two module-private helpers hold the Arrow batch framing (key column,
dtype mapping, per-batch loop) that the public functions share:

- :func:`_keyed_payload` backs the ``attach_*_payload`` fixture
  adapters: one ``(key, payload)`` row per input row.
- :func:`_per_payload` backs every stats/meta function that emits
  exactly one row per payload.

Both preserve partitioning (no shuffle).  A decoder raises
``ValueError`` on malformed bytes, which fails the task; that is the
quarantine path (:mod:`table_streaming_source_spark.malformed`,
:func:`quarantine_decode`).  The functions that emit several rows per
payload (``audio_features``, ``*_frame_stats``, ``srt_cue_rows``, ...)
keep their own loops.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Callable, Iterator

import pandas as pd

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

# malformed-input discipline: shared with the file-format sources —
# see ``table_streaming_source_spark/malformed.py`` for the contract
# and `tests/test_decoder_fuzz.py` for the sweep that derived it.
from table_streaming_source_spark.malformed import (  # noqa: F401
    MALFORMED_EXC as _MALFORMED_EXC,
    MAX_DECODE_PIXELS,
    bounded_inflate as _bounded_inflate,
    check_dims as _check_dims,
    quarantinable,
)
from table_streaming_source_spark.operators.hof import spread

_KEYED_PAYLOAD_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)

#: pandas dtype for a Spark column type: (NOT NULL, nullable); a type not
#: listed (string, binary) stays an object column
_PANDAS_DTYPES = {
    LongType(): ("int64", "Int64"),
    IntegerType(): ("int32", "Int32"),
    DoubleType(): ("float64", "float64"),
    BooleanType(): ("bool", "boolean"),
}


def _keyed_payload(
    df: DataFrame, key: str, synth: Callable[[int], bytes]
) -> DataFrame:
    """Fixture adapter body: one ``(key, payload)`` row per input row,
    ``payload = synth(key)`` built on the executor by Arrow-batched
    ``mapInPandas``.  Schema ``key bigint NOT NULL, payload binary NOT
    NULL``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "key": pdf[key].astype("int64"),
                    "payload": [synth(int(k)) for k in pdf[key]],
                }
            )

    return df.select(key).mapInPandas(batches, schema=_KEYED_PAYLOAD_SCHEMA)


def _per_payload(
    df: DataFrame,
    one: Callable[[bytes], "tuple | dict"],
    schema: "StructType | str",
    *,
    key: str,
    payload_col: str,
) -> DataFrame:
    """Exactly one output row per ``(key, payload)`` input row:
    ``(int(key), *one(bytes(payload)))``, by Arrow-batched
    ``mapInPandas`` over ``df`` as given (no projection, no shuffle).

    ``schema`` names ``key`` first, then the columns ``one`` returns:
    a tuple in schema order, or a dict keyed by column name.  Each
    column is built with the pandas dtype of its Spark type.  ``one``
    raises ``ValueError`` on malformed bytes, which fails the task: the
    quarantine path (see :mod:`table_streaming_source_spark.malformed`).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    dtypes = [
        _PANDAS_DTYPES.get(f.dataType, (None, None))[f.nullable]
        for f in schema.fields
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for k, payload in zip(pdf[key], pdf[payload_col]):
                vals = one(bytes(payload))
                if isinstance(vals, dict):
                    vals = [vals[n] for n in names[1:]]
                rows.append((int(k), *vals))
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {
                    n: pd.Series(c, dtype=d)
                    for n, c, d in zip(names, cols, dtypes)
                }
            )

    return df.mapInPandas(batches, schema=schema)


def attach_payload(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Fixture adapter: materialize an opaque binary payload column (the
    utf-8 bytes of ``text_col``) plus media-type metadata, emulating an
    ingested media table.  Deterministic, so oracle-checkable."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(key),
        payload.alias("payload"),
        F.octet_length(payload).alias("n_bytes"),
        # round-robin media type from the key: deterministic fixture
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(key) % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


def with_content_address(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Content-address the payload: ``content_id = sha2-256(payload)``.

    Content-addressed dedup of media is an aggregate on the 32-byte digest;
    the payload itself never shuffles (same principle as text exact-dedup).
    """
    return df.withColumn(
        "content_id", F.sha2(F.col(payload_col), 256)
    )


# ---------------------------------------------------------------------------
# real container formats: deterministic synthesis + pure-Python parsing
# ---------------------------------------------------------------------------

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def synth_png(width: int, height: int) -> bytes:
    """A minimal spec-valid PNG: signature + IHDR (8-bit truecolor) +
    empty IDAT + IEND, with real CRCs.  57 bytes."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"")
        + _png_chunk(b"IEND", b"")
    )


def synth_wav(n_samples: int, channels: int = 1, sample_rate: int = 16000) -> bytes:
    """A complete 16-bit PCM WAV (silence): RIFF/WAVE + fmt + data.
    ``44 + n_samples·channels·2`` bytes."""
    block_align = channels * 2
    data_size = n_samples * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", data_size)
        + b"\x00" * data_size
    )


def synth_avi(width: int, height: int, n_frames: int) -> bytes:
    """A minimal RIFF-AVI header (hdrl LIST with a MainAVIHeader ``avih``
    chunk carrying dwTotalFrames/dwWidth/dwHeight).  88 bytes."""
    avih = struct.pack(
        "<14I", 40_000, 0, 0, 0, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih)) + b"hdrl" \
        + b"avih" + struct.pack("<I", len(avih)) + avih
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl


@quarantinable("container")
def parse_container(payload: bytes) -> tuple[str, int, int, int]:
    """Sniff + parse a media container header with :mod:`struct` only — the
    real (non-stub) metadata-decode path.

    Returns ``(media_type, width, height, n_frames)``:

    - PNG → IHDR width/height (big-endian, offset 16), ``n_frames = 1``;
    - RIFF/WAVE → walk chunks, ``fmt `` gives block align, ``data`` gives
      payload size, ``n_frames`` = sample frames (size // block align),
      geometry ``-1``;
    - RIFF/AVI → ``avih`` MainAVIHeader: dwTotalFrames (offset 16),
      dwWidth/dwHeight (offsets 32/36, little-endian).

    Raises :class:`ValueError` on unknown or truncated containers — a real
    pipeline routes such rows to a quarantine sink instead of guessing.
    A full pixel/sample decode (the ``decoder='real'`` path) would plug a
    codec library in behind the same contract.
    """
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if payload[12:16] != b"IHDR" or len(payload) < 24:
            raise ValueError("PNG without leading IHDR chunk")
        width, height = struct.unpack(">II", payload[16:24])
        return "image", width, height, 1
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        off, block_align, data_size = 12, None, None
        while off + 8 <= len(payload):
            cid, size = payload[off : off + 4], struct.unpack(
                "<I", payload[off + 4 : off + 8]
            )[0]
            if cid == b"fmt ":
                block_align = struct.unpack(
                    "<H", payload[off + 20 : off + 22]
                )[0]
            elif cid == b"data":
                data_size = size
            off += 8 + size + (size & 1)  # RIFF chunks are word-aligned
        if not block_align or data_size is None:
            raise ValueError("WAVE without fmt/data chunks")
        return "audio", -1, -1, data_size // block_align
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 13:
            raise ValueError("truncated GIF header")
        width, height, packed, _, _ = struct.unpack("<HHBBB", payload[6:13])
        off = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
        n_frames = 0
        while off < len(payload) and payload[off] != 0x3B:
            marker = payload[off]
            if marker == 0x21:  # extension
                _, off = _gif_subblocks(payload, off + 2)
            elif marker == 0x2C:  # image descriptor
                ipacked = payload[off + 9]
                off += 10
                if ipacked & 0x80:
                    off += 3 * (2 << (ipacked & 0x07))
                _, off = _gif_subblocks(payload, off + 1)
                n_frames += 1
            else:
                raise ValueError(f"unknown GIF block 0x{marker:02x}")
        if n_frames == 0:
            raise ValueError("GIF without an image descriptor")
        return "image", width, height, n_frames
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        idx = payload.find(b"avih")
        if idx < 0 or idx + 8 + 56 > len(payload):
            raise ValueError("AVI without avih header")
        fields = struct.unpack("<14I", payload[idx + 8 : idx + 8 + 56])
        return "video", fields[8], fields[9], fields[4]
    if payload[:2] == b"\xff\xd8":  # JPEG: walk markers to the frame header
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("bad JPEG marker alignment")
            marker = payload[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                pos += 2
                continue
            size = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
            if marker in (0xC0, 0xC1, 0xC2):  # any SOFn geometry
                height, width = struct.unpack(
                    ">HH", payload[pos + 5 : pos + 9]
                )
                return "image", width, height, 1
            if marker == 0xDA:
                break
            pos += 2 + size
        raise ValueError("JPEG without a frame header")
    raise ValueError(f"Unknown container (magic {payload[:8]!r})")


def attach_container_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter producing REAL container bytes: each key gets a
    spec-valid PNG, WAV, or AVI (round-robin on ``key % 3``) with
    key-derived geometry/duration, built via Arrow-batched ``mapInPandas``.

    The synthesis formulas are plain integer arithmetic on the key so a
    SQL oracle can state the expected metadata *without* parsing bytes —
    while the Spark side must genuinely parse the containers it reads
    (:func:`parse_container`), which is what makes the round trip an
    honest test of the decode path.
    """
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("payload", BinaryType(), False),
            StructField("media_type", StringType(), False),
        ]
    )

    def synth(k: int) -> tuple[bytes, str]:
        m = k % 3
        if m == 0:
            return synth_png(64 + (k * 7) % 192, 64 + (k * 13) % 192), "image"
        if m == 1:
            return synth_wav(100 + k % 400, channels=1 + k % 2), "audio"
        return (
            synth_avi(64 + (k * 11) % 192, 64 + (k * 17) % 192, 1 + k % 16),
            "video",
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            made = [synth(int(k)) for k in pdf[key]]
            yield pd.DataFrame(
                {
                    "key": pdf[key].astype("int64"),
                    "payload": [p for p, _ in made],
                    "media_type": [m for _, m in made],
                }
            )

    return df.select(key).mapInPandas(batches, schema=schema)


DECODED_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: derive (width, height, n_frames)
    from the payload digest.  Replace with Pillow/av in a real deployment."""
    d = hashlib.md5(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    n_frames = 1 + d[2] % 16
    return width, height, n_frames


def decode_media(
    df: DataFrame,
    *,
    key: str = "doc_id",
    payload_col: str = "payload",
    media_type_col: str = "media_type",
    decoder: str = "fake",
) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched
    ``mapInPandas``.

    Batches stream through Python as pandas DataFrames (Arrow transfer);
    each batch is decoded row-wise inside the batch — the per-batch loop is
    where a vectorized codec (e.g. a GPU decoder taking a byte batch) slots
    in.  Partitioning is preserved: no shuffle is introduced by decode.

    Decoders:

    - ``'parse'`` — the REAL metadata path: sniff + parse the container
      header bytes (:func:`parse_container`; PNG IHDR, WAV fmt/data, AVI
      avih) and *ignore* ``media_type_col``, emitting the type detected
      from the magic bytes instead.
    - ``'fake'`` — deterministic pseudo-metadata from the payload digest
      (for fixtures whose payloads are not containers).
    - ``'real'`` — full pixel/sample decode; requires Pillow/av/ffmpeg,
      not in this container, so it raises (header metadata does NOT need
      it — use ``'parse'``).
    """
    if decoder == "real":
        raise NotImplementedError(
            "Generic pixel/sample decoding for lossy A/V codecs "
            "(H.264/MP3) requires av/ffmpeg, not available in this "
            "environment.  PNG, GIF, baseline JPEG and WAV PCM decode "
            "for REAL via decode_pixels/wav_pcm (pure-Python codecs); "
            "decoder='parse' covers the metadata path."
        )
    if decoder not in ("fake", "parse"):
        raise ValueError(f"Unknown decoder {decoder!r}")

    cols = [key, payload_col, media_type_col]

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "parse":
                parsed = [parse_container(p) for p in pdf[payload_col]]
                yield pd.DataFrame(
                    {
                        "key": pdf[key].astype("int64"),
                        "media_type": [p[0] for p in parsed],
                        "width": [p[1] for p in parsed],
                        "height": [p[2] for p in parsed],
                        "n_frames": [p[3] for p in parsed],
                        "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    }
                )
                continue
            decoded = [_fake_decode(p) for p in pdf[payload_col]]
            out = pd.DataFrame(
                {
                    "key": pdf[key].astype("int64"),
                    "media_type": pdf[media_type_col],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                }
            )
            # audio has no frames/geometry; video keeps frames; image is 1
            is_audio = out["media_type"] == "audio"
            out.loc[is_audio, ["width", "height"]] = -1
            out.loc[out["media_type"] == "image", "n_frames"] = 1
            yield out

    return df.select(cols).mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def sample_frames(
    decoded: DataFrame,
    *,
    every_nth: int = 4,
    key: str = "key",
) -> DataFrame:
    """Frame sampling over decoded video metadata: one row per kept frame
    (``frame_idx = 0, every_nth, 2·every_nth, …``).

    JVM-side ``explode(sequence(...))`` — the *plumbing* of frame
    extraction (row explosion, downstream per-frame processing) without
    touching payload bytes; an actual frame grab plugs into
    :func:`decode_media`'s batch loop and emits binary frames here
    instead.  Non-video rows pass through with ``frame_idx = 0`` (their
    single representation)."""
    idx = F.when(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0),
        F.sequence(
            F.lit(0), F.col("n_frames") - 1, F.lit(every_nth)
        ),
    ).otherwise(F.array(F.lit(0)))
    return decoded.select(
        F.col(key),
        "media_type",
        "n_frames",
        F.explode(idx).alias("frame_idx"),
    )


def resize_media(
    decoded: DataFrame,
    *,
    max_side: int = 128,
) -> DataFrame:
    """Resize-to-fit metadata transform via Arrow-batched ``mapInPandas``:
    scale (width, height) so the longer side is ``max_side``, preserving
    aspect ratio (floor semantics, min 1 px).  The pixel resample is
    stubbed exactly like :func:`decode_media`'s codec — a real deployment
    replaces the arithmetic with the image library call on the payload
    batch; the batch shape, schema, and partition-preservation are the
    real contract."""

    def resize_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            geom = (out["width"] > 0) & (out["height"] > 0)
            longer = out[["width", "height"]].max(axis=1)
            scale = (max_side / longer).clip(upper=1.0)
            for c in ("width", "height"):
                out.loc[geom, c] = (
                    (out.loc[geom, c] * scale[geom]).astype(int).clip(lower=1)
                )
            yield out

    return decoded.mapInPandas(resize_batches, schema=decoded.schema)


# ---------------------------------------------------------------------------
# audio: real PCM sample decode (no codec library needed — 16-bit PCM WAV
# is struct + numpy) and windowed signal features
# ---------------------------------------------------------------------------

def synth_wav_tone(n_samples: int, seed: int) -> bytes:
    """A mono 16-bit PCM WAV whose samples follow the deterministic
    integer pattern ``s[i] = ((i·(3 + seed%7) + seed) % 4096) − 2048`` —
    a spec-valid file with *non-silent*, formula-stated content, so a SQL
    oracle can recompute the signal without parsing bytes while the
    Spark side must genuinely decode the PCM it reads."""
    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    s = ((i * (3 + seed % 7) + seed) % 4096) - 2048
    data = s.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def attach_tone_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_wav_tone` per key
    (``n_samples = 100 + key % 400``, ``seed = key``), Arrow-batched."""
    return _keyed_payload(df, key, lambda k: synth_wav_tone(100 + k % 400, k))


def _riff_chunks(payload: bytes):
    """Yield ``(chunk_id, body)`` for each chunk of a RIFF/WAVE file —
    the ONE chunk walk every WAV-family decoder shares (clamped body
    slices; malformed sizes surface as short bodies the consumers
    length-check, never as struct.error — the ``_avi_video_chunks``
    discipline)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        size = struct.unpack("<I", payload[off + 4 : off + 8])[0]
        yield cid, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)


@quarantinable("WAV")
def wav_pcm(payload: bytes) -> "object":
    """Decode a mono 16-bit PCM WAV's samples to an int64 numpy array —
    the real sample-decode path (PCM needs no codec library; compressed
    formats would plug in behind the same contract)."""
    import numpy as np

    for cid, body in _riff_chunks(payload):
        if cid == b"data":
            return np.frombuffer(
                body[: len(body) & ~1], dtype="<i2"
            ).astype(np.int64)
    raise ValueError("WAV without data chunk")


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("w", IntegerType(), False),
        StructField("n", LongType(), False),
        StructField("sum_sq", LongType(), False),
        StructField("crossings", LongType(), False),
    ]
)


def audio_features(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    window: int = 256,
) -> DataFrame:
    """Windowed audio features from *decoded PCM samples*: per
    ``window``-sample frame, the sample count, energy (``Σ s²`` — exact
    int64, no float summation), and zero-crossing count (adjacent
    sign-product < 0, frame-local).

    Arrow-batched ``mapInPandas``; partition-preserving (no shuffle) —
    each payload expands to ``⌈n/window⌉`` feature rows.  This is the
    feature-extraction stage of an audio training pipeline (VAD gating,
    silence trimming, energy-based quality filters) with the decode
    genuinely performed on the bytes.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys, ws, ns, sqs, crs = [], [], [], [], []
            for k, payload in zip(pdf[key], pdf[payload_col]):
                s = wav_pcm(bytes(payload))
                for w in range(-(-len(s) // window)):
                    seg = s[w * window : (w + 1) * window]
                    keys.append(int(k))
                    ws.append(w)
                    ns.append(len(seg))
                    sqs.append(int((seg * seg).sum()))
                    crs.append(int(((seg[:-1] * seg[1:]) < 0).sum()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(keys, dtype="int64"),
                    "w": pd.Series(ws, dtype="int32"),
                    "n": pd.Series(ns, dtype="int64"),
                    "sum_sq": pd.Series(sqs, dtype="int64"),
                    "crossings": pd.Series(crs, dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=AUDIO_FEATURES_SCHEMA)


AUDIO_RESAMPLE_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_in", LongType(), False),
        StructField("n_out", LongType(), False),
        StructField("sum_sq", LongType(), False),
        StructField("min_s", IntegerType(), False),
        StructField("max_s", IntegerType(), False),
    ]
)


def _pcm_stats(s: "object") -> tuple:
    """``(n, Σs², min, max)`` of a decoded sample array."""
    return len(s), int((s * s).sum()), int(s.min()), int(s.max())


def audio_resample_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    factor: int = 4,
) -> DataFrame:
    """Integer decimation over *decoded PCM samples*: keep every
    ``factor``-th sample (phase 0) and emit per-clip statistics of the
    decimated signal — the sample-rate-reduction step of an audio
    pipeline, exercised on genuinely decoded bytes.  (Proper resampling
    low-pass-filters first; plain decimation is the deterministic,
    integer-exact building block that a filter stage would precede — the
    decimation index arithmetic is what this operator pins.)

    Arrow-batched ``mapInPandas``, partition-preserving; one fixed-width
    stats row per clip — media bytes never shuffle."""
    import numpy as np

    def one(payload: bytes) -> tuple:
        s = wav_pcm(payload).astype(np.int64)
        return (len(s), *_pcm_stats(s[::factor]))

    return _per_payload(
        df, one, AUDIO_RESAMPLE_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# audio: real IMA-ADPCM decode (WAVE format tag 0x11) — the compressed
# audio codec, written stdlib-only to the public IMA/DVI ADPCM spec
# ---------------------------------------------------------------------------

#: IMA/DVI ADPCM quantizer step table (89 entries, public spec)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)

#: step-index adaptation per nibble magnitude (sign bit mirrors)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _adpcm_nibbles(key: int) -> tuple:
    """Deterministic per-key nibble stream with a CLOSED-FORM state
    trajectory: every nibble's magnitude is ≤ 3 (index adaptation is
    always −1, so ``idx_j = max(k0 − j, 0)`` exactly), and the drift is
    bounded so the 16-bit predictor clamp never fires — which is what
    lets a SQL oracle restate the decode as a prefix sum over the
    embedded step table.  16 descending nibbles (sign-only, 8) then an
    alternating ±m tail with ``m = 1 + key % 3``."""
    k0 = key % 40
    n_nib = 64 + (key % 64) * 2
    nibs = []
    m = 1 + key % 3
    for j in range(n_nib):
        if j < 16:
            nibs.append(8)  # magnitude 0, negative
        elif (j - 16) % 2 == 0:
            nibs.append(m)
        else:
            nibs.append(m | 8)
    return k0, nibs


def synth_wav_adpcm(key: int) -> bytes:
    """A spec-valid mono IMA-ADPCM WAV (format tag 0x11): fmt chunk with
    ``wBitsPerSample=4`` + ``wSamplesPerBlock`` extension, a fact chunk
    (required for compressed WAVE), and ONE data block — 4-byte header
    (initial int16 predictor, step index, reserved) followed by
    low-nibble-first packed codes from :func:`_adpcm_nibbles`."""
    p0 = ((key * 37) % 4096) - 2048
    k0, nibs = _adpcm_nibbles(key)
    packed = bytearray()
    for j in range(0, len(nibs), 2):
        packed.append(nibs[j] | (nibs[j + 1] << 4))
    block = struct.pack("<hBB", p0, k0, 0) + bytes(packed)
    n_samples = len(nibs) + 1
    block_align = len(block)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, 8000, 8000 * block_align // (2 * len(nibs)),
        block_align, 4, 2, n_samples,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(block))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<II", 4, n_samples)
        + b"data"
        + struct.pack("<I", len(block))
        + block
    )


@quarantinable("ADPCM WAV")
def adpcm_pcm(payload: bytes) -> "object":
    """Decode a mono IMA-ADPCM WAV (format tag 0x11) to int64 samples —
    a GENERAL decoder to the public IMA/DVI spec: per-block predictor /
    step-index header, low-nibble-first codes, full step and
    index-adaptation tables, 16-bit predictor clamp and [0, 88] index
    clamp, any number of blocks (the fixture's closed-form stream is
    just one input it handles).  Cited semantics: the reference has no
    codec surface (SURVEY.md §2B, multimodal ⁺ row is a north-star
    extension)."""
    import numpy as np

    block_align = None
    spb = None
    data = None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            tag, ch, _, _, block_align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag != 0x11 or ch != 1 or bits != 4:
                raise ValueError("not mono 4-bit IMA ADPCM")
            if len(body) >= 20:
                spb = struct.unpack("<H", body[18:20])[0]
        elif cid == b"data":
            data = body
    if data is None or block_align is None:
        raise ValueError("WAV without fmt/data chunks")
    out = []
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        if len(block) < 4:
            break
        pred, idx = struct.unpack("<hB", block[:3])
        idx = min(max(idx, 0), 88)
        samples = [pred]
        want = spb if spb is not None else (len(block) - 4) * 2 + 1
        for byte in block[4:]:
            for nib in (byte & 0xF, byte >> 4):
                if len(samples) >= want:
                    break
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = min(max(pred, -32768), 32767)
                idx = min(max(idx + _IMA_INDEX[nib & 7], 0), 88)
                samples.append(pred)
        out.extend(samples)
    return np.asarray(out, dtype=np.int64)


def attach_adpcm_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_wav_adpcm` per key,
    Arrow-batched."""
    return _keyed_payload(df, key, synth_wav_adpcm)


ADPCM_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sum_sq", LongType(), False),
        StructField("min_s", IntegerType(), False),
        StructField("max_s", IntegerType(), False),
        StructField("last_s", IntegerType(), False),
    ]
)


def _adpcm_one(payload: bytes) -> tuple:
    s = adpcm_pcm(payload)
    return (*_pcm_stats(s), int(s[-1]))


def adpcm_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-clip integer-exact statistics of REAL IMA-ADPCM-decoded
    samples (count, Σs², min/max, final predictor) — any slip in the
    step table, nibble order, sign handling, or index clamp shifts the
    prefix-sum chain and is value-visible.  Arrow-batched
    ``mapInPandas``, partition-preserving; compressed audio bytes never
    shuffle."""
    return _per_payload(
        df, _adpcm_one, ADPCM_STATS_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# image: real PNG pixel decode (zlib inflate + unfilter — stdlib only)
# and integer-exact pixel statistics
# ---------------------------------------------------------------------------

def synth_png_pixels(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit *grayscale* PNG whose pixels follow the
    deterministic pattern ``p(x, y) = (7x + 13y + seed) % 256`` —
    filter type 0 per scanline, real zlib IDAT, real CRCs.  A SQL
    oracle can restate the pixels from the formula while the Spark
    side must genuinely inflate and unfilter the bytes it reads."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


@quarantinable("PNG")
def png_pixels(payload: bytes) -> "object":
    """Decode an 8-bit grayscale, filter-0 PNG to an ``(h, w)`` uint8
    numpy array — the real pixel-decode path, stdlib-only (zlib inflate
    + scanline unfilter).  Filtered or non-grayscale PNGs raise: a real
    pipeline adds the other four filter types (pure arithmetic) or a
    codec library behind the same contract."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, width, height, depth, ctype = 8, None, None, None, None
    idat = b""
    while off + 8 <= len(payload):
        size = struct.unpack(">I", payload[off : off + 4])[0]
        cid = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + size]
        if cid == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", data[:10])
        elif cid == b"IDAT":
            idat += data
        elif cid == b"IEND":
            break
        off += 12 + size  # len + type + data + crc
    if width is None:
        raise ValueError("PNG without IHDR")
    if (depth, ctype) != (8, 0):
        raise ValueError("only 8-bit grayscale supported by this decoder")
    _check_dims(width, height, "PNG")
    stride = width + 1
    raw = _bounded_inflate(
        idat, declared=stride * height, fmt="PNG IDAT", wbits=15
    )
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    if (arr[:, 0] != 0).any():
        raise ValueError("only filter type 0 supported by this decoder")
    return arr[:, 1:]


def attach_pixel_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_png_pixels` per key
    (``w = 16 + (7k) % 48``, ``h = 16 + (13k) % 48``, ``seed = k``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_pixels(
            16 + (7 * k) % 48,
            16 + (13 * k) % 48,
            k,
        ),
    )


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_px", LongType(), False),
        StructField("min_px", IntegerType(), False),
        StructField("max_px", IntegerType(), False),
        StructField("edge_energy", LongType(), False),
    ]
)


def _pixel_one(payload: bytes) -> tuple:
    import numpy as np

    px = decode_pixels(payload).astype(np.int64)
    return (
        px.shape[1],
        px.shape[0],
        int(px.sum()),
        int(px.min()),
        int(px.max()),
        int(np.abs(np.diff(px, axis=1)).sum()),
    )


def image_pixel_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
) -> DataFrame:
    """Per-image statistics from *decoded pixels*: geometry, exact
    integer brightness sum, min/max, and horizontal edge energy
    (``Σ |p(x+1,y) − p(x,y)|`` — the gradient magnitude quality
    filters threshold on).  All-integer → engine-exact; Arrow-batched
    ``mapInPandas``, no shuffle."""
    return _per_payload(
        df, _pixel_one, PIXEL_STATS_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# image: real GIF (LZW) pixel decode — the second true-codec path the
# sandbox permits stdlib-only (variable-width LZW per the public GIF89a
# spec), alongside PNG zlib-inflate.
# ---------------------------------------------------------------------------

def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF variable-width LZW compress (LSB-first bit packing).

    Width-growth discipline matches the classic GIF encoder lineage
    (emit with current width, THEN grow when the next assignable code
    no longer fits, THEN add the new entry); table reset via CLEAR at
    4096 entries.  The decoder below is its spec-exact inverse — the
    pairing is verified by round-trip property tests plus a known
    in-the-wild GIF fixture."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    next_code = eoi + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    buf = bytearray()
    acc = nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    w = b""
    for ch in indices:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        put(table[w])
        if next_code > (1 << width) - 1 and width < 12:
            width += 1
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
        else:  # table full: emit CLEAR (at width 12) and start over
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            width = min_code_size + 1
            next_code = eoi + 1
        w = bytes([ch])
    if w:
        put(table[w])
        if next_code > (1 << width) - 1 and width < 12:
            width += 1
    put(eoi)
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(
    data: bytes, min_code_size: int, max_len: int | None = None
) -> bytes:
    """GIF variable-width LZW decompress (the standard decoder: entry
    added per code read, width grows when the table reaches the current
    code range, KwKwK case handled, CLEAR resets).  Tolerates a missing
    end-of-information code — common in minimal GIFs in the wild.
    ``max_len`` caps the output at the caller's declared pixel count:
    a corrupt stream must fail fast, not inflate unbounded (the
    decompression-bomb guard — LZW expands up to 4096x)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[int, bytes] = {}
    width = min_code_size + 1
    next_code = eoi + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, next_code, prev
        table = {i: bytes([i]) for i in range(clear)}
        width = min_code_size + 1
        next_code = eoi + 1
        prev = None

    reset()
    out = bytearray()
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ValueError("first LZW code is not a literal")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if max_len is not None and len(out) > max_len:
            raise ValueError("LZW output exceeds declared image size")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


def synth_gif_pixels(width: int, height: int, seed: int) -> bytes:
    """A spec-valid GIF89a whose pixels follow the same deterministic
    formula as :func:`synth_png_pixels` (``p(x,y) = (7x+13y+seed) % 256``):
    256-entry grayscale global palette (identity: index i → gray i),
    real variable-width LZW image data in ≤255-byte sub-blocks.  A SQL
    oracle restates the pixels from the formula while the Spark side
    must genuinely LZW-decompress the bytes it reads."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    palette = bytes(c for i in range(256) for c in (i, i, i))
    # logical screen descriptor: GCT present, color res 7, GCT size 7 (256)
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    imgdesc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    lzw = _lzw_encode(px.tobytes(), 8)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a" + lsd + palette + imgdesc + b"\x08" + blocks + b"\x00"
        + b"\x3b"
    )


def _gif_subblocks(payload: bytes, off: int) -> tuple[bytes, int]:
    """Concatenate GIF data sub-blocks starting at ``off``; return
    (data, offset past the block terminator)."""
    data = bytearray()
    while True:
        if off >= len(payload):
            raise ValueError("truncated GIF sub-blocks")
        size = payload[off]
        off += 1
        if size == 0:
            return bytes(data), off
        data += payload[off : off + size]
        if len(payload) < off + size:
            raise ValueError("truncated GIF sub-blocks")
        off += size


@quarantinable("GIF")
def gif_frames(payload: bytes) -> "list":
    """Decode EVERY frame of a GIF87a/89a to a list of ``(h, w)`` uint8
    numpy arrays of gray values — real stdlib-only LZW decompression +
    palette lookup per frame (animated GIFs carry one image descriptor
    per frame).  Interlaced frames (GIF89a appendix E: 4-pass row
    order 8k / 8k+4 / 4k+2 / 2k+1) are deinterlaced by scattering the
    sequentially decoded rows back to their display positions.
    Non-grayscale palettes raise: a real pipeline routes those rows to
    quarantine or plugs a full codec in behind the same contract."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    _, _, packed, _, _ = struct.unpack("<HHBBB", payload[6:13])
    off = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[off : off + 3 * n]
        off += 3 * n
    frames = []
    while off < len(payload):
        marker = payload[off]
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label + sub-blocks
            _, off = _gif_subblocks(payload, off + 2)
            continue
        if marker != 0x2C:
            raise ValueError(f"unknown GIF block 0x{marker:02x}")
        if off + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        _, _, w, h, ipacked = struct.unpack(
            "<HHHHB", payload[off + 1 : off + 10]
        )
        off += 10
        interlaced = bool(ipacked & 0x40)
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = payload[off : off + 3 * n]
            off += 3 * n
        if pal is None:
            raise ValueError("GIF frame without a palette")
        min_code_size = payload[off]
        data, off = _gif_subblocks(payload, off + 1)
        idx = np.frombuffer(
            _lzw_decode(data, min_code_size, max_len=w * h), dtype=np.uint8
        )
        if idx.size != w * h:
            raise ValueError("GIF pixel count mismatch")
        p = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        if (p[:, 0] != p[:, 1]).any() or (p[:, 1] != p[:, 2]).any():
            raise ValueError(
                "only grayscale palettes supported by this decoder"
            )
        img = p[idx, 0].reshape(h, w)
        if interlaced:
            img = img[_gif_deinterlace_perm(h)]
        frames.append(img)
    if not frames:
        raise ValueError("GIF without an image descriptor")
    return frames


def _gif_interlace_order(height: int) -> "list[int]":
    """Display rows in STREAM order (GIF89a appendix E): pass 1 every
    8th row from 0, pass 2 every 8th from 4, pass 3 every 4th from 2,
    pass 4 every 2nd from 1."""
    return (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    )


def _gif_deinterlace_perm(height: int) -> "object":
    """Permutation mapping display row → stream row (the inverse of
    :func:`_gif_interlace_order`)."""
    import numpy as np

    perm = np.empty(height, dtype=np.int64)
    for stream_pos, display_row in enumerate(
        _gif_interlace_order(height)
    ):
        perm[display_row] = stream_pos
    return perm


def synth_gif_interlaced(width: int, height: int, seed: int) -> bytes:
    """A spec-valid INTERLACED GIF89a (descriptor flag 0x40): the rows
    of the :func:`synth_gif_pixels` formula image are written in the
    appendix-E 4-pass stream order, so a decoder that ignores the flag
    produces a row-scrambled image the checksum catches."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    stream = px[_gif_interlace_order(height)]
    palette = bytes(c for i in range(256) for c in (i, i, i))
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    imgdesc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0x40)
    lzw = _lzw_encode(stream.tobytes(), 8)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a" + lsd + palette + imgdesc + b"\x08" + blocks + b"\x00"
        + b"\x3b"
    )


def attach_gif_interlaced_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_gif_interlaced` per key
    (``w = 10 + (7k) % 30``, ``h = 9 + (11k) % 26`` — heights cover all
    four interlace passes)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_gif_interlaced(
            10 + (7 * k) % 30,
            9 + (11 * k) % 26,
            k,
        ),
    )


@quarantinable("GIF")
def gif_pixels(payload: bytes) -> "object":
    """First frame of :func:`gif_frames` — the single-image decode."""
    return gif_frames(payload)[0]


@quarantinable("image")
def decode_pixels(payload: bytes) -> "object":
    """Sniff-and-dispatch pixel decode: PNG (zlib inflate + unfilter),
    GIF (LZW + palette), or baseline JPEG (huffman + dequant + IDCT).
    Other containers raise ``ValueError`` — route them through
    :func:`quarantine_decode`."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return png_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return gif_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        return jpeg_pixels(payload)
    raise ValueError(f"no pixel decoder for magic {payload[:6]!r}")


def synth_gif_animation(
    width: int, height: int, n_frames: int, seed: int
) -> bytes:
    """A spec-valid multi-frame GIF89a: one image descriptor + LZW data
    block per frame, all sharing the grayscale global palette.  Frame
    ``f`` follows the formula ``p(x,y,f) = (7x + 13y + 17f + seed) % 256``
    so a SQL oracle can restate any frame."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    palette = bytes(c for i in range(256) for c in (i, i, i))
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out = bytearray(b"GIF89a" + lsd + palette)
    for f in range(n_frames):
        px = ((7 * x + 13 * y + 17 * f + seed) % 256).astype(np.uint8)
        lzw = _lzw_encode(px.tobytes(), 8)
        blocks = b"".join(
            bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
            for i in range(0, len(lzw), 255)
        )
        out += (
            b"\x2c"
            + struct.pack("<HHHHB", 0, 0, width, height, 0)
            + b"\x08"
            + blocks
            + b"\x00"
        )
    out += b"\x3b"
    return bytes(out)


def attach_gif_animation_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_gif_animation` per key
    (``w = 16 + (7k) % 32``, ``h = 16 + (13k) % 32``,
    ``n_frames = 2 + k % 4``, ``seed = k``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_gif_animation(
            16 + (7 * k) % 32,
            16 + (13 * k) % 32,
            2 + k % 4,
            k,
        ),
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("frame", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_px", LongType(), False),
        StructField("min_px", IntegerType(), False),
        StructField("max_px", IntegerType(), False),
    ]
)


def gif_frame_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    stride: int = 1,
) -> DataFrame:
    """Frame sampling + per-frame statistics from *decoded* animated-GIF
    frames: every ``stride``-th frame (the video-pipeline frame-sample
    pattern, here over real LZW-decoded pixels instead of container
    metadata).  Arrow-batched ``mapInPandas``, partition-preserving, one
    output row per sampled frame."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in (
                "key", "frame", "width", "height", "sum_px", "min_px",
                "max_px",
            )}
            for k, payload in zip(pdf[key], pdf[payload_col]):
                for f, px in enumerate(gif_frames(bytes(payload))):
                    if f % stride:
                        continue
                    p = px.astype(np.int64)
                    out["key"].append(int(k))
                    out["frame"].append(f)
                    out["height"].append(p.shape[0])
                    out["width"].append(p.shape[1])
                    out["sum_px"].append(int(p.sum()))
                    out["min_px"].append(int(p.min()))
                    out["max_px"].append(int(p.max()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(out["key"], dtype="int64"),
                    "frame": pd.Series(out["frame"], dtype="int32"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "sum_px": pd.Series(out["sum_px"], dtype="int64"),
                    "min_px": pd.Series(out["min_px"], dtype="int32"),
                    "max_px": pd.Series(out["max_px"], dtype="int32"),
                }
            )

    return df.mapInPandas(batches, schema=FRAME_STATS_SCHEMA)


def synth_avi_video(
    width: int, height: int, n_frames: int, seed: int
) -> bytes:
    """A spec-valid RIFF-AVI with genuinely decodable video: ``hdrl``
    (``avih`` MainAVIHeader + ``strl`` with ``strh``/``strf``
    BITMAPINFOHEADER) and a ``movi`` LIST of ``00db`` chunks, each one
    uncompressed 24-bit BI_RGB DIB frame — **bottom-up row order, BGR
    byte order, rows padded to 4-byte stride**, per the public
    AVI/BMP specifications.  Frame ``f``'s *display-orientation* RGB is

        r(x,y,f) = (7x + 13y + 17f + seed) % 256
        g(x,y,f) = (11x + 5y + 19f + seed) % 256
        b(x,y,f) = (3x + 23y + 29f + seed) % 256

    so a SQL oracle can restate any frame; a decoder that forgets the
    bottom-up flip, the BGR swap, or the row stride produces different
    position-weighted statistics."""
    import numpy as np

    stride = (3 * width + 3) & ~3
    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    frames = []
    for f in range(n_frames):
        r = ((7 * x + 13 * y + 17 * f + seed) % 256).astype(np.uint8)
        g = ((11 * x + 5 * y + 19 * f + seed) % 256).astype(np.uint8)
        b = ((3 * x + 23 * y + 29 * f + seed) % 256).astype(np.uint8)
        # display orientation (y=0 at top) → DIB storage: bottom-up, BGR
        dib = np.flipud(np.stack([b, g, r], axis=-1))
        rows = np.zeros((height, stride), dtype=np.uint8)
        rows[:, : 3 * width] = dib.reshape(height, 3 * width)
        frames.append(rows.tobytes())

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(payload)) + ltype + payload

    avih = struct.pack(
        "<14I", 40_000, 0, 0, 0, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    # AVISTREAMHEADER: dwFlags, wPriority, wLanguage, dwInitialFrames,
    # dwScale, dwRate, dwStart, dwLength, dwSuggestedBufferSize,
    # dwQuality, dwSampleSize, rcFrame
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n_frames, 0, 0, 0
        )
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
        stride * height, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", fr) for fr in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_video_chunks(payload: bytes):
    """Shared RIFF walk: return the video stream's ``strf``
    BITMAPINFOHEADER bytes and the ``movi`` frame chunk spans
    ``(offset, size)`` — the container plumbing both the uncompressed
    DIB and the MJPEG decoders sit on."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF-AVI container")

    def walk(buf: bytes, off: int, end: int):
        # a RIFF size field may promise more than the buffer holds
        # (truncated upload) — clamp and fail as ValueError, never
        # struct.error, so quarantine routing sees one exception type
        end = min(end, len(buf))
        while off + 8 <= end:
            cid = buf[off : off + 4]
            size = struct.unpack("<I", buf[off + 4 : off + 8])[0]
            if off + 8 + size > end:
                raise ValueError("truncated RIFF chunk")
            yield cid, off + 8, size
            off += 8 + size + (size & 1)

    strf = None
    in_vids = False
    movi: list = []

    def scan(off: int, end: int) -> None:
        nonlocal strf, in_vids
        for cid, body, size in walk(payload, off, end):
            if cid == b"LIST":
                ltype = payload[body : body + 4]
                if ltype == b"movi":
                    for fid, fbody, fsize in walk(
                        payload, body + 4, body + size
                    ):
                        if fid in (b"00db", b"00dc"):
                            movi.append((fbody, fsize))
                else:
                    if ltype == b"strl":
                        in_vids = False  # reset per stream header list
                    scan(body + 4, body + size)
            elif cid == b"strh":
                # bind the following strf only for the VIDEO stream —
                # an audio strl's WAVEFORMATEX must not overwrite the
                # BITMAPINFOHEADER (multi-stream AVIs are the norm)
                in_vids = payload[body : body + 4] == b"vids"
            elif cid == b"strf" and in_vids and strf is None:
                strf = payload[body : body + size]

    scan(12, 8 + struct.unpack("<I", payload[4:8])[0])
    if strf is None or len(strf) < 40:
        raise ValueError("AVI without a BITMAPINFOHEADER strf")
    return strf, movi


@quarantinable("AVI")
def avi_frames(payload: bytes) -> list:
    """REAL uncompressed-AVI video decode (stdlib + numpy): walk the RIFF
    tree to the ``strf`` BITMAPINFOHEADER, verify 24-bit BI_RGB, then
    decode every ``00db``/``00dc`` DIB frame in the ``movi`` LIST —
    honoring the 4-byte row stride, bottom-up storage, and BGR byte
    order.  Returns display-orientation ``(H, W, 3)`` uint8 RGB arrays.
    Raises :class:`ValueError` on non-AVI, compressed, or malformed
    input (quarantine-routable, like every decoder here)."""
    import numpy as np

    strf, movi = _avi_video_chunks(payload)
    (_, width, height, _, bitcount, compression) = struct.unpack(
        "<IiiHHI", strf[:20]
    )
    if bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported DIB format ({bitcount}bpp, compression="
            f"{compression}) — only uncompressed 24-bit BI_RGB"
        )
    bottom_up = height > 0
    height = abs(height)
    row_stride = (3 * width + 3) & ~3
    frames = []
    for body, size in movi:
        if size < row_stride * height:
            raise ValueError("truncated DIB frame")
        rows = np.frombuffer(
            payload[body : body + row_stride * height], dtype=np.uint8
        ).reshape(height, row_stride)
        bgr = rows[:, : 3 * width].reshape(height, width, 3)
        if bottom_up:
            bgr = np.flipud(bgr)
        frames.append(bgr[:, :, ::-1].copy())  # BGR → RGB
    return frames


def attach_avi_video_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_avi_video` per key
    (``w = 8 + (5k) % 16``, ``h = 8 + (3k) % 16``,
    ``n_frames = 2 + k % 4``, ``seed = k``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_avi_video(
            8 + (5 * k) % 16,
            8 + (3 * k) % 16,
            2 + k % 4,
            k,
        ),
    )


VIDEO_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("frame", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("wsum_r", LongType(), False),
    ]
)


def avi_frame_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    stride: int = 1,
) -> DataFrame:
    """Keyframe sampling + per-frame statistics from *decoded* AVI video
    frames (every ``stride``-th frame).  ``wsum_r`` is position-weighted
    (``Σ (x + w·y)·r`` in display orientation), so a decoder that skips
    the bottom-up flip or the row stride cannot pass.  Arrow-batched
    ``mapInPandas``, partition-preserving; only fixed-width integer
    features leave the executor — never media bytes."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                k: []
                for k in (
                    "key", "frame", "width", "height",
                    "sum_r", "sum_g", "sum_b", "wsum_r",
                )
            }
            for k, payload in zip(pdf[key], pdf[payload_col]):
                for f, rgb in enumerate(avi_frames(bytes(payload))):
                    if f % stride:
                        continue
                    p = rgb.astype(np.int64)
                    h, w = p.shape[:2]
                    pos = (
                        np.arange(w, dtype=np.int64)[None, :]
                        + w * np.arange(h, dtype=np.int64)[:, None]
                    )
                    out["key"].append(int(k))
                    out["frame"].append(f)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_r"].append(int(p[:, :, 0].sum()))
                    out["sum_g"].append(int(p[:, :, 1].sum()))
                    out["sum_b"].append(int(p[:, :, 2].sum()))
                    out["wsum_r"].append(int((pos * p[:, :, 0]).sum()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(out["key"], dtype="int64"),
                    "frame": pd.Series(out["frame"], dtype="int32"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "sum_r": pd.Series(out["sum_r"], dtype="int64"),
                    "sum_g": pd.Series(out["sum_g"], dtype="int64"),
                    "sum_b": pd.Series(out["sum_b"], dtype="int64"),
                    "wsum_r": pd.Series(out["wsum_r"], dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=VIDEO_FRAME_STATS_SCHEMA)


def attach_gif_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_gif_pixels` per key (same
    geometry formulas as :func:`attach_pixel_payload`)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_gif_pixels(
            16 + (7 * k) % 48,
            16 + (13 * k) % 48,
            k,
        ),
    )


def attach_pixel_payload_dups(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter with REPEATED image classes: geometry and seed
    derive from small moduli (``w = 16 + (k%5)·4``, ``h = 16 + (k%3)·4``,
    ``seed = k%7``), so distinct keys frequently carry byte-identical
    images — the shape a perceptual-dedup entry needs true duplicates
    for."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_pixels(
            16 + (k % 5) * 4,
            16 + (k % 3) * 4,
            k % 7,
        ),
    )


AHASH_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("hash_hi", LongType(), False),
        StructField("hash_lo", LongType(), False),
    ]
)


def image_ahash(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
) -> DataFrame:
    """64-bit average hash (aHash) from *decoded* pixels — the classic
    perceptual fingerprint for image near-dup detection: partition the
    image into an 8×8 block grid (pixel (x,y) → block ((8x)//w, (8y)//h)
    — pure integer arithmetic), set bit ``i*8+j`` iff the block's mean
    brightness exceeds the global mean.  The comparison is done by
    integer cross-multiplication (``block_sum·w·h > total_sum·block_n``)
    so every bit is engine-exact — no float averaging anywhere.  Emitted
    as two 32-bit halves to stay in signed-int64 range.  Downstream
    dedup is an aggregate on the 8-byte hash; pixels never shuffle."""
    import numpy as np

    def ahash(px: "object") -> tuple:
        p = px.astype(np.int64)
        h, w = p.shape
        total = int(p.sum())
        yb = (8 * np.arange(h)) // h
        xb = (8 * np.arange(w)) // w
        bits_hi = bits_lo = 0
        for i in range(8):
            rows = p[yb == i]
            for j in range(8):
                block = rows[:, xb == j]
                if int(block.sum()) * w * h > total * block.size:
                    k = i * 8 + j
                    if k < 32:
                        bits_lo |= 1 << k
                    else:
                        bits_hi |= 1 << (k - 32)
        return bits_hi, bits_lo

    return _per_payload(
        df,
        lambda p: ahash(decode_pixels(p)),
        AHASH_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


QUARANTINE_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("status", StringType(), False),
        StructField("error_kind", StringType(), True),
        StructField("media_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("n_bytes", LongType(), False),
    ]
)


def _quarantine_one(payload: bytes) -> tuple:
    n = len(payload)
    try:
        mt, w, h, nf = parse_container(payload)
    except ValueError:
        return "error", "invalid_container", None, None, None, None, n
    return "ok", None, mt, w, h, nf, n


def quarantine_decode(
    df: DataFrame,
    *,
    key: str = "key",
    payload_col: str = "payload",
) -> DataFrame:
    """Metadata decode with per-row error routing: rows whose container
    parse fails emit ``status='error'`` with a stable ``error_kind``
    instead of failing the job — the quarantine pattern every real
    ingest pipeline needs (one poisoned blob must not kill a 100 TB
    scan).  Healthy rows carry the parsed metadata; every row keeps its
    byte length for volume accounting.  Partition-preserving
    ``mapInPandas``; route ``status='error'`` rows to a quarantine sink
    downstream and reprocess after codec fixes.
    """
    return _per_payload(
        df,
        _quarantine_one,
        QUARANTINE_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# image: real baseline JPEG decode (huffman + dequant + IDCT) — the third
# true-codec path the sandbox permits, written to the public ITU-T T.81
# spec with stdlib + numpy only.  Reference parity: the reference treats
# media as opaque payloads and delegates decode to the host framework
# (reference src/main has no codec surface); this is the north-star
# training-pipeline extension, same extension point as PNG/GIF above.
# Arithmetic-coded and the unsupported progressive/subsampled forms
# raise ValueError → route through quarantine_decode; only H.264/MP3
# remain library-gated.
# ---------------------------------------------------------------------------

#: zigzag scan position → linear (row-major) coefficient index (T.81 fig 5)
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: T.81 Annex K.3 typical luminance huffman tables (public spec constants)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = tuple(
    int(h, 16)
    for h in (
        "01 02 03 00 04 11 05 12 21 31 41 06 13 51 61 07 22 71 14 32 "
        "81 91 a1 08 23 42 b1 c1 15 52 d1 f0 24 33 62 72 82 09 0a 16 "
        "17 18 19 1a 25 26 27 28 29 2a 34 35 36 37 38 39 3a 43 44 45 "
        "46 47 48 49 4a 53 54 55 56 57 58 59 5a 63 64 65 66 67 68 69 "
        "6a 73 74 75 76 77 78 79 7a 83 84 85 86 87 88 89 8a 92 93 94 "
        "95 96 97 98 99 9a a2 a3 a4 a5 a6 a7 a8 a9 aa b2 b3 b4 b5 b6 "
        "b7 b8 b9 ba c2 c3 c4 c5 c6 c7 c8 c9 ca d2 d3 d4 d5 d6 d7 d8 "
        "d9 da e1 e2 e3 e4 e5 e6 e7 e8 e9 ea f1 f2 f3 f4 f5 f6 f7 f8 "
        "f9 fa"
    ).split()
)


def _huff_decode_table(bits, vals) -> dict:
    """Canonical huffman (T.81 C.2): (code length, code) → symbol."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits, vals) -> dict:
    """Canonical huffman: symbol → (code, length)."""
    return {
        sym: (code, length)
        for (length, code), sym in _huff_decode_table(bits, vals).items()
    }


_IDCT_BASIS = None


def _idct_basis():
    """Orthonormal 8×8 DCT-III basis ``A`` with ``A[u, x] =
    c(u)/2 · cos((2x+1)uπ/16)``; spatial block = ``Aᵀ·S·A``.  Computed
    once per process — the decode loop calls this per 8×8 block."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import numpy as np

        u = np.arange(8, dtype=np.float64)[:, None]
        x = np.arange(8, dtype=np.float64)[None, :]
        a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
        a[0, :] *= 1.0 / np.sqrt(2.0)
        _IDCT_BASIS = a
    return _IDCT_BASIS


def _idct_block(coeffs):
    """Dequantized 8×8 coefficient block → spatial block (float)."""
    import numpy as np

    a = _idct_basis()
    return a.T @ np.asarray(coeffs, dtype=np.float64).reshape(8, 8) @ a


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF→0xFF00 byte stuffing (T.81 B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self._acc = (self._acc << 1) | ((code >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)
                self._acc, self._n = 0, 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data; skips stuffed zero
    bytes, stops at markers (T.81 B.1.1.5)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data, self.pos = data, pos
        self._acc, self._n = 0, 0

    def bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("marker inside entropy data")
            self._acc, self._n = b, 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")

    def align(self) -> None:
        self._n = 0


def _receive_extend(r: "_JpegBitReader", t: int) -> int:
    """T.81 F.2.2.1 EXTEND: t magnitude bits → signed coefficient."""
    if t == 0:
        return 0
    v = r.bits(t)
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _mag_bits(v: int) -> tuple:
    """Signed value → (category, appended bits) per T.81 F.1.2.1."""
    t = abs(v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def encode_jpeg_gray_coeffs(
    qblocks, width: int, height: int, qtable, *, restart_interval: int = 0
) -> bytes:
    """Entropy-encode pre-quantized coefficient blocks into a complete
    baseline JPEG (grayscale, Annex K huffman tables).  ``qblocks`` is a
    raster-order list of 64 quantized coefficients in NATURAL (row-major)
    order; ``qtable`` likewise natural order.  Coefficient-domain input
    makes the encoder LOSSLESS, so tests can check the decoder bit-exactly
    against an independent dequant+IDCT pipeline with no lossy tolerance."""
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qzz = bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xDB, b"\x00" + qzz)  # DQT: 8-bit, id 0
    out += seg(  # SOF0: 8-bit precision, 1 component, 1x1 sampling
        0xC0,
        struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0)),
    )
    out += seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))  # SOS

    w = _JpegBitWriter()
    prev_dc, rst = 0, 0
    for i, blk in enumerate(qblocks):
        if restart_interval and i and i % restart_interval == 0:
            w.flush()
            out += w.out
            out += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            w = _JpegBitWriter()
            prev_dc = 0
        zz = [int(blk[_JPEG_ZIGZAG[k]]) for k in range(64)]
        t, mag = _mag_bits(zz[0] - prev_dc)
        prev_dc = zz[0]
        code, length = dc_enc[t]
        w.write(code, length)
        w.write(mag, t)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_enc[0xF0]  # ZRL
                w.write(code, length)
                run -= 16
            t, mag = _mag_bits(zz[k])
            code, length = ac_enc[(run << 4) | t]
            w.write(code, length)
            w.write(mag, t)
            run = 0
        if run:
            code, length = ac_enc[0x00]  # EOB
            w.write(code, length)
    w.flush()
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


#: AC huffman table for progressive scans: the Annex K baseline AC table
#: has no EOBn symbols (r<<4, r ≥ 1), which progressive end-of-band runs
#: require — so progressive files carry a custom table (as real encoders
#: do).  All 176 symbols at code length 9 (canonical, 176 < 2⁹−1).
_JPEG_PROG_AC_VALS = tuple(
    [0x00, 0xF0]
    + [r << 4 for r in range(1, 15)]
    + [(run << 4) | s for run in range(16) for s in range(1, 11)]
)
_JPEG_PROG_AC_BITS = (0, 0, 0, 0, 0, 0, 0, 0, len(_JPEG_PROG_AC_VALS),
                      0, 0, 0, 0, 0, 0, 0)


def encode_jpeg_gray_progressive(
    qblocks, width: int, height: int, qtable
) -> bytes:
    """Entropy-encode pre-quantized coefficient blocks into a complete
    PROGRESSIVE (SOF2) grayscale JPEG using spectral selection plus DC
    successive approximation — four scans per T.81 Annex G:

    1. DC first pass (Ss=0, Se=0, Ah=0, Al=1): diffs of ``dc >> 1``;
    2. DC refinement (Ah=1, Al=0): one raw bit (``dc & 1``) per block;
    3. AC band 1–5 first pass (Al=0), with EOBn run coalescing;
    4. AC band 6–63 first pass (Al=0), likewise.

    Coefficient-domain input keeps the encoder lossless (the baseline
    encoder's property), so the decoder can be checked bit-exactly.
    Consecutive end-of-band blocks coalesce into EOBn codes, so the
    decoder's EOBRUN path is genuinely exercised."""
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qzz = bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qzz)
    out += seg(  # SOF2: progressive DCT, 1 component, 1x1 sampling
        0xC2,
        struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0)),
    )
    out += seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(
        0xC4,
        b"\x11" + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS),
    )
    ac_enc = _huff_encode_table(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    zz_blocks = [
        [int(blk[_JPEG_ZIGZAG[k]]) for k in range(64)] for blk in qblocks
    ]

    # scan 1: DC first pass, point transform Al=1 (arithmetic shift)
    out += seg(0xDA, bytes((1, 1, 0x00, 0, 0, 0x01)))
    w = _JpegBitWriter()
    prev = 0
    for zz in zz_blocks:
        v = zz[0] >> 1
        t, mag = _mag_bits(v - prev)
        prev = v
        code, length = dc_enc[t]
        w.write(code, length)
        w.write(mag, t)
    w.flush()
    out += w.out

    # scan 2: DC refinement — one raw bit per block, no huffman
    out += seg(0xDA, bytes((1, 1, 0x00, 0, 0, 0x10)))
    w = _JpegBitWriter()
    for zz in zz_blocks:
        w.write(zz[0] & 1, 1)
    w.flush()
    out += w.out

    # scans 3 + 4: AC spectral bands, first pass, EOBn coalescing
    # (AC table id 1 — the progressive table carrying EOBn symbols)
    for ss, se in ((1, 5), (6, 63)):
        out += seg(0xDA, bytes((1, 1, 0x01, ss, se, 0x00)))
        w = _JpegBitWriter()
        eobrun = 0

        def flush_eob(w=w):
            # EOBn: symbol r<<4 declares run ∈ [2^r, 2^{r+1}), the r
            # appended bits carry run − 2^r (T.81 G.1.2.2); runs over
            # 32767 split across codes
            nonlocal eobrun
            while eobrun:
                n = min(eobrun, 32767)
                r = n.bit_length() - 1
                code, length = ac_enc[r << 4]
                w.write(code, length)
                if r:
                    w.write(n - (1 << r), r)
                eobrun -= n
        for zz in zz_blocks:
            band = zz[ss : se + 1]
            if not any(band):
                eobrun += 1
                continue
            flush_eob()
            run = 0
            last_nz = max(i for i, v in enumerate(band) if v)
            for i, v in enumerate(band[: last_nz + 1]):
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[0xF0]
                    w.write(code, length)
                    run -= 16
                t, mag = _mag_bits(v)
                code, length = ac_enc[(run << 4) | t]
                w.write(code, length)
                w.write(mag, t)
                run = 0
            if last_nz < se - ss:
                eobrun += 1  # this block's own end-of-band
        flush_eob()
        w.flush()
        out += w.out

    out += b"\xff\xd9"
    return bytes(out)


def _next_marker(payload: bytes, pos: int) -> int:
    """First position ≥ pos of a real marker (0xFF followed by neither
    0x00 stuffing nor another fill 0xFF)."""
    while pos + 1 < len(payload):
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("ran off JPEG stream looking for a marker")


@quarantinable("JPEG")
def jpeg_planes(payload: bytes) -> "list":
    """Decode a baseline sequential JPEG (SOF0/SOF1, huffman) to its
    per-component uint8 planes (Y, or Y/Cb/Cr for 4:4:4 and 4:2:0
    color, chroma at its own resolution), AFTER
    level shift + clip but BEFORE color conversion — the REAL pipeline:
    marker parse → canonical huffman decode → dequant → 2-D IDCT, with
    restart markers honored.  Component planes are the bit-exact
    contract (the DC path round-trips integers exactly); the float
    YCbCr→RGB conversion layers on top in :func:`jpeg_pixels`.

    Progressive (SOF2) grayscale and 4:4:4 color decode for REAL:
    per-scan coefficient accumulation across DC first/refinement passes
    and AC spectral bands with EOBn runs (T.81 Annex G), then the shared
    dequant+IDCT.  Subsampled progressive, AC successive-approximation
    refinement, arithmetic-coded JPEGs and other chroma geometries raise
    ``ValueError`` — route through :func:`quarantine_decode`."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qtables: dict = {}
    htables: dict = {}
    restart_interval = 0
    comps = None
    width = height = None
    progressive = False
    prog_coef = None  # per-block zigzag-order int coefficients
    prog_scans = 0  # scans decoded — zero at EOI means no image data
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            if progressive and prog_scans == 0:
                # SOF2 with no decoded scan: fabricating an all-gray
                # plane from zero coefficients would hand plausible
                # stats to a file holding no image data
                raise ValueError("JPEG without SOS")
            if progressive and prog_coef is not None:
                bw = (width + 7) // 8
                bh = (height + 7) // 8
                planes_out = []
                for ci, comp in enumerate(comps):
                    q = qtables[comp["tq"]]
                    plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
                    for m, zz in enumerate(prog_coef[ci]):
                        by, bx = divmod(m, bw)
                        coeffs = [0.0] * 64
                        for k in range(64):
                            nat = _JPEG_ZIGZAG[k]
                            coeffs[nat] = zz[k] * q[nat]
                        plane[
                            by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                        ] = _idct_block(coeffs)
                    planes_out.append(
                        np.clip(
                            np.round(plane[:height, :width] + 128.0), 0, 255
                        ).astype(np.uint8)
                    )
                return planes_out
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length field
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        size = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + size]
        pos += 2 + size
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq:
                    vals = struct.unpack(f">{64}H", body[i : i + 128])
                    i += 128
                else:
                    vals = body[i : i + 64]
                    i += 64
                nat = [0] * 64
                for k in range(64):
                    nat[_JPEG_ZIGZAG[k]] = int(vals[k])
                qtables[tq] = nat
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext sequential
            _prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            _check_dims(width, height, "JPEG")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "tq": tq, "h": samp >> 4, "v": samp & 0xF}
                )
            samps = [(c["h"], c["v"]) for c in comps]
            # supported geometries: any all-1×1 layout (grayscale or
            # 4:4:4) and the dominant web layout 4:2:0 (luma 2×2,
            # chroma 1×1); exotic factors quarantine
            if not (
                all(s == (1, 1) for s in samps)
                or (ncomp == 3 and samps == [(2, 2), (1, 1), (1, 1)])
            ):
                raise ValueError(
                    "unsupported chroma subsampling geometry "
                    f"{samps} — only 1x1 and 4:2:0"
                )
        elif marker == 0xC2:  # SOF2: progressive DCT
            _prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if ncomp not in (1, 3):
                raise ValueError("unsupported progressive component count")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError(
                        "subsampled progressive not supported — quarantine"
                    )
                comps.append({"id": cid, "tq": tq, "h": 1, "v": 1})
            progressive = True
            _check_dims(width, height, "JPEG")
            nb = ((width + 7) // 8) * ((height + 7) // 8)
            if nb * ncomp * 64 > (1 << 27):
                # the per-block coefficient store is Python lists —
                # bound the cells, not just the pixels (a sparse huge
                # progressive image is LEGAL but beyond this decoder)
                raise ValueError(
                    "progressive image too large for this decoder"
                )
            prog_coef = [
                [[0] * 64 for _ in range(nb)] for _ in range(ncomp)
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise ValueError("non-baseline JPEG not supported — quarantine")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA and progressive:
            # one progressive scan (T.81 Annex G): DC first / DC refine /
            # AC band first pass; coefficient state persists across
            # scans.  DC scans may interleave all components (per MCU:
            # one block each under 1×1 sampling); AC scans are
            # single-component by spec.
            ns = body[0]
            scan_cis = []
            for c in range(ns):
                cid = body[1 + 2 * c]
                scan_cis.append(
                    next(
                        i for i, x in enumerate(comps) if x["id"] == cid
                    )
                )
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            r = _JpegBitReader(payload, pos)
            nblocks = len(prog_coef[0])
            if ss == 0:
                if se != 0:
                    raise ValueError(
                        "progressive scan mixes DC and AC bands"
                    )
                if ah == 0:  # DC first pass (point transform << Al)
                    dcts = [
                        htables[(0, body[2 + 2 * c] >> 4)]
                        for c in range(ns)
                    ]
                    pred = [0] * ns
                    for m in range(nblocks):
                        if (
                            restart_interval
                            and m
                            and m % restart_interval == 0
                        ):
                            r.align()
                            if not (
                                r.data[r.pos] == 0xFF
                                and 0xD0 <= r.data[r.pos + 1] <= 0xD7
                            ):
                                raise ValueError("expected restart marker")
                            r.pos += 2
                            pred = [0] * ns
                        for si, ci in enumerate(scan_cis):
                            t = r.huff(dcts[si])
                            pred[si] += _receive_extend(r, t)
                            prog_coef[ci][m][0] = pred[si] << al
                else:  # DC refinement: one raw correction bit per block
                    for m in range(nblocks):
                        if (
                            restart_interval
                            and m
                            and m % restart_interval == 0
                        ):
                            r.align()
                            if not (
                                r.data[r.pos] == 0xFF
                                and 0xD0 <= r.data[r.pos + 1] <= 0xD7
                            ):
                                raise ValueError("expected restart marker")
                            r.pos += 2
                        for ci in scan_cis:
                            prog_coef[ci][m][0] |= r.bit() << al
            else:
                if ns != 1:
                    raise ValueError(
                        "interleaved progressive AC scan is not legal "
                        "T.81 — quarantine"
                    )
                if ah != 0:
                    raise ValueError(
                        "AC successive-approximation refinement not "
                        "supported — quarantine"
                    )
                tabs = body[2]
                act = htables[(1, tabs & 0xF)]
                ac_ci = scan_cis[0]
                eobrun = 0
                for m in range(nblocks):
                    if (
                        restart_interval
                        and m
                        and m % restart_interval == 0
                    ):
                        r.align()
                        if not (
                            r.data[r.pos] == 0xFF
                            and 0xD0 <= r.data[r.pos + 1] <= 0xD7
                        ):
                            raise ValueError("expected restart marker")
                        r.pos += 2
                        eobrun = 0
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = r.huff(act)
                        run, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if run == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            # EOBn: run length incl. this block
                            eobrun = (1 << run) - 1
                            if run:
                                eobrun += r.bits(run)
                            break
                        k += run
                        if k > se:
                            raise ValueError("AC band index overflow")
                        prog_coef[ac_ci][m][k] = _receive_extend(r, s) << al
                        k += 1
            prog_scans += 1
            pos = _next_marker(payload, r.pos)
        elif marker == 0xDA:  # SOS → entropy-coded data follows
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in comps if x["id"] == cid)
                scan.append(
                    (comp, htables[(0, tabs >> 4)], htables[(1, tabs & 0xF)])
                )
            # generalized MCU walk (T.81 A.2): an MCU carries h×v blocks
            # per component; the all-1×1 case degenerates to one block
            # per component per MCU (the original 4:4:4/grayscale path)
            hmax = max(c["h"] for c, _, _ in scan)
            vmax = max(c["v"] for c, _, _ in scan)
            mcw = (width + 8 * hmax - 1) // (8 * hmax)
            mch = (height + 8 * vmax - 1) // (8 * vmax)
            planes = [
                np.zeros(
                    (mch * 8 * comp["v"], mcw * 8 * comp["h"]),
                    dtype=np.float64,
                )
                for comp, _, _ in scan
            ]
            r = _JpegBitReader(payload, pos)
            prev = [0] * len(scan)
            for m in range(mcw * mch):
                if restart_interval and m and m % restart_interval == 0:
                    r.align()
                    if not (
                        r.data[r.pos] == 0xFF
                        and 0xD0 <= r.data[r.pos + 1] <= 0xD7
                    ):
                        raise ValueError("expected restart marker")
                    r.pos += 2
                    prev = [0] * len(scan)
                my, mx = divmod(m, mcw)
                for ci, (comp, dct, act) in enumerate(scan):
                    q = qtables[comp["tq"]]
                    for bv in range(comp["v"]):
                        for bhh in range(comp["h"]):
                            zz = [0] * 64
                            t = r.huff(dct)
                            prev[ci] += _receive_extend(r, t)
                            zz[0] = prev[ci]
                            k = 1
                            while k < 64:
                                rs = r.huff(act)
                                run, size_ = rs >> 4, rs & 0xF
                                if size_ == 0:
                                    if run == 15:  # ZRL
                                        k += 16
                                        continue
                                    break  # EOB
                                k += run
                                if k > 63:
                                    raise ValueError("AC index overflow")
                                zz[k] = _receive_extend(r, size_)
                                k += 1
                            coeffs = [0.0] * 64
                            for k in range(64):
                                nat = _JPEG_ZIGZAG[k]
                                coeffs[nat] = zz[k] * q[nat]
                            by = my * comp["v"] + bv
                            bx = mx * comp["h"] + bhh
                            planes[ci][
                                by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                            ] = _idct_block(coeffs)
            out_planes = []
            for (comp, _, _), p in zip(scan, planes):
                ch = -(-height * comp["v"] // vmax)
                cw = -(-width * comp["h"] // hmax)
                out_planes.append(
                    np.clip(np.round(p[:ch, :cw] + 128.0), 0, 255)
                    .astype(np.uint8)
                )
            return out_planes
    raise ValueError("JPEG without SOS")


@quarantinable("JPEG")
def jpeg_pixels(payload: bytes) -> "object":
    """:func:`jpeg_planes` + color conversion: ``(h, w)`` uint8 for
    grayscale, ``(h, w, 3)`` uint8 RGB (JFIF YCbCr→RGB, float matrix +
    round + clip) for 4:4:4 color."""
    import numpy as np

    out = jpeg_planes(payload)
    if len(out) == 1:
        return out[0]
    if len(out) == 3:
        y = out[0].astype(np.float64)
        # 4:2:0 chroma → replicate 2× each axis (nearest-neighbor
        # upsampling, deterministic) and crop to the luma grid
        ups = []
        for p in out[1:]:
            pf = p.astype(np.float64)
            if pf.shape != y.shape:
                pf = pf.repeat(2, axis=0).repeat(2, axis=1)
                pf = pf[: y.shape[0], : y.shape[1]]
            ups.append(pf)
        cb, cr = ups
        rgb = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=-1,
        )
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    raise ValueError(f"unsupported component count {len(out)}")


#: DC quant step 8 makes the flat-block DC round-trip EXACT:
#: S(0,0) = 8·(v−128) for a flat block, so quantized DC = v−128 with no
#: rounding loss, and the IDCT of a DC-only block is flat — decoded
#: pixels equal the stated formula bit-for-bit despite a lossy codec.
_JPEG_SYNTH_QTABLE = tuple([8] + [16] * 63)


def synth_jpeg_blocks(width: int, height: int, seed: int) -> bytes:
    """A spec-valid baseline JPEG whose 8×8 blocks are constant:
    ``p(x, y) = (7·(x//8) + 13·(y//8) + seed) % 256``.  Block-constant
    pixels have a DC-only spectrum, and with DC quant step 8 the
    quantization is exact (see ``_JPEG_SYNTH_QTABLE``) — so a SQL oracle
    can restate every decoded pixel while the Spark side genuinely runs
    huffman → dequant → IDCT.  Dimensions must be multiples of 8."""
    if width % 8 or height % 8:
        raise ValueError("synth dimensions must be multiples of 8")
    bw, bh = width // 8, height // 8
    qblocks = []
    for by in range(bh):
        for bx in range(bw):
            v = (7 * bx + 13 * by + seed) % 256
            blk = [0] * 64
            blk[0] = v - 128  # quantized DC (step 8 over S00 = 8·(v−128))
            qblocks.append(blk)
    return encode_jpeg_gray_coeffs(
        qblocks, width, height, _JPEG_SYNTH_QTABLE
    )


def synth_jpeg_progressive(width: int, height: int, seed: int) -> bytes:
    """The :func:`synth_jpeg_blocks` image as a PROGRESSIVE (SOF2) JPEG:
    same block-constant pixel formula (DC-exact), encoded across four
    scans (DC first + DC refinement + two AC spectral bands).  The DC
    value reassembles from TWO scans — ``(dc >> 1) << 1`` plus the
    refinement bit — so a decoder that skips the successive-
    approximation merge cannot produce the formula's pixels; the
    all-zero AC bands drain through EOBn run codes, exercising the
    EOBRUN path on every block."""
    if width % 8 or height % 8:
        raise ValueError("synth dimensions must be multiples of 8")
    bw, bh = width // 8, height // 8
    qblocks = []
    for by in range(bh):
        for bx in range(bw):
            v = (7 * bx + 13 * by + seed) % 256
            blk = [0] * 64
            blk[0] = v - 128
            qblocks.append(blk)
    return encode_jpeg_gray_progressive(
        qblocks, width, height, _JPEG_SYNTH_QTABLE
    )


def attach_jpeg_progressive_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_jpeg_progressive` per key (same
    geometry formulas as :func:`attach_jpeg_payload`)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_jpeg_progressive(
            8 * (2 + (7 * k) % 6),
            8 * (2 + (13 * k) % 6),
            k,
        ),
    )


def attach_jpeg_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_jpeg_blocks` per key
    (``w = 8·(2 + (7k) % 6)``, ``h = 8·(2 + (13k) % 6)``, ``seed = k``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_jpeg_blocks(
            8 * (2 + (7 * k) % 6),
            8 * (2 + (13 * k) % 6),
            k,
        ),
    )


def encode_jpeg_color_coeffs(
    qblocks_per_comp, width: int, height: int, qtable
) -> bytes:
    """Entropy-encode pre-quantized coefficient blocks into a complete
    3-component 4:4:4 baseline JPEG (interleaved MCUs, one block per
    component per MCU, shared Annex-K tables and quant table).
    ``qblocks_per_comp`` is ``[y_blocks, cb_blocks, cr_blocks]``, each a
    raster-order list of 64 quantized coefficients in natural order.
    Coefficient-domain input keeps the encoder LOSSLESS, like the
    grayscale twin."""
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qzz = bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qzz)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)),
    )
    out += seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)))

    w = _JpegBitWriter()
    prev = [0, 0, 0]
    n_mcus = len(qblocks_per_comp[0])
    for m in range(n_mcus):
        for ci in range(3):
            zz = [
                int(qblocks_per_comp[ci][m][_JPEG_ZIGZAG[k]])
                for k in range(64)
            ]
            t, mag = _mag_bits(zz[0] - prev[ci])
            prev[ci] = zz[0]
            code, length = dc_enc[t]
            w.write(code, length)
            w.write(mag, t)
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[0xF0]
                    w.write(code, length)
                    run -= 16
                t, mag = _mag_bits(zz[k])
                code, length = ac_enc[(run << 4) | t]
                w.write(code, length)
                w.write(mag, t)
                run = 0
            if run:
                code, length = ac_enc[0x00]
                w.write(code, length)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


#: per-component block formulas for the color synthesizer — distinct
#: coefficient patterns per channel so a plane swap cannot pass the oracle
_JPEG_COLOR_FORMULAS = ((7, 13), (11, 3), (5, 17))


def synth_jpeg_color(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 4:4:4 color baseline JPEG with block-constant
    component planes: ``Y = (7bx + 13by + s) % 256``,
    ``Cb = (11bx + 3by + s) % 256``, ``Cr = (5bx + 17by + s) % 256``.
    DC-only spectra + DC quant step 8 → every decoded component plane is
    bit-exact against its formula (see ``_JPEG_SYNTH_QTABLE``)."""
    if width % 8 or height % 8:
        raise ValueError("synth dimensions must be multiples of 8")
    bw, bh = width // 8, height // 8
    per_comp = []
    for ax, ay in _JPEG_COLOR_FORMULAS:
        blocks = []
        for by in range(bh):
            for bx in range(bw):
                v = (ax * bx + ay * by + seed) % 256
                blk = [0] * 64
                blk[0] = v - 128
                blocks.append(blk)
        per_comp.append(blocks)
    return encode_jpeg_color_coeffs(
        per_comp, width, height, _JPEG_SYNTH_QTABLE
    )


def attach_jpeg_color_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_jpeg_color` per key
    (``w = 8·(2 + (7k) % 5)``, ``h = 8·(2 + (11k) % 5)``, ``seed = k``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_jpeg_color(
            8 * (2 + (7 * k) % 5),
            8 * (2 + (11 * k) % 5),
            k,
        ),
    )


JPEG_COLOR_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_y", LongType(), False),
        StructField("sum_cb", LongType(), False),
        StructField("sum_cr", LongType(), False),
        StructField("max_y", IntegerType(), False),
        StructField("min_cr", IntegerType(), False),
    ]
)


def _jpeg_color_one(payload: bytes) -> tuple:
    import numpy as np

    y, cb, cr = (p.astype(np.int64) for p in jpeg_planes(payload))
    return (
        y.shape[1],
        y.shape[0],
        int(y.sum()),
        int(cb.sum()),
        int(cr.sum()),
        int(y.max()),
        int(cr.min()),
    )


def jpeg_color_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
) -> DataFrame:
    """Per-image statistics from the decoded Y/Cb/Cr COMPONENT planes of
    color JPEGs (:func:`jpeg_planes`) — the bit-exact contract for the
    3-component interleaved-MCU decode path (three DC predictor chains,
    per-component dequant, plane assembly).  Stats are taken before the
    float YCbCr→RGB conversion, so every value is an exact integer a SQL
    oracle can restate; the RGB layer is covered by unit tests.
    Arrow-batched ``mapInPandas``, no shuffle."""
    return _per_payload(
        df,
        _jpeg_color_one,
        JPEG_COLOR_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# audio: real FLAC decode (lossless codec — fixed predictors + Rice
# residuals, written stdlib-only to the public FLAC format spec)
# ---------------------------------------------------------------------------

class _FlacBitWriter:
    """MSB-first bit packer (no byte stuffing — FLAC is a raw bitstream)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # q zeros then a one (FLAC unary)
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _FlacBitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos          # byte position
        self.bit = 0            # bits consumed in current byte

    def read(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            byte = self.data[self.pos]
            v = (v << 1) | ((byte >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _crc8(data: bytes) -> int:
    """CRC-8 with polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005, init 0 — the FLAC frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _flac_utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    if n < 0x800:
        return bytes([0xC0 | (n >> 6), 0x80 | (n & 0x3F)])
    return bytes([0xE0 | (n >> 12), 0x80 | ((n >> 6) & 0x3F), 0x80 | (n & 0x3F)])


def _read_flac_utf8(r: "_FlacBitReader") -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n_follow):
        v = (v << 6) | (r.read(8) & 0x3F)
    return v


#: fixed-predictor residual: residual[i] given trailing samples
_FLAC_FIXED_ORDERS = 3  # orders 0..2 exercised by the synthesizer


def _fixed_residual(s, order):
    if order == 0:
        return list(s)
    if order == 1:
        return [s[i] - s[i - 1] for i in range(1, len(s))]
    return [s[i] - 2 * s[i - 1] + s[i - 2] for i in range(2, len(s))]


def synth_flac(key: int) -> bytes:
    """A spec-valid mono 16-bit FLAC file: fLaC marker, STREAMINFO with
    real MD5, and TWO frames of the deterministic tone signal
    ``s[i] = ((i·(3+key%7)+key) % 4096) − 2048`` — each frame a FIXED
    subframe of order ``key % 3`` with single-partition Rice residuals
    and real CRC-8/CRC-16 trailers.  FLAC is lossless, so the decoder
    must reproduce the formula exactly."""
    import hashlib

    n = 96 + key % 160
    samples = [((i * (3 + key % 7) + key) % 4096) - 2048 for i in range(n)]
    half = n // 2
    blocks = [samples[:half], samples[half:]]
    order = key % _FLAC_FIXED_ORDERS

    frames = b""
    for fno, blk in enumerate(blocks):
        hdr = _FlacBitWriter()
        hdr.write(0x3FFE, 14)        # sync
        hdr.write(0, 1)              # reserved
        hdr.write(0, 1)              # blocking strategy: fixed
        hdr.write(0b0111, 4)         # block size: 16-bit value follows
        hdr.write(0b1001, 4)         # sample rate: 44.1 kHz
        hdr.write(0, 4)              # channel assignment: mono
        hdr.write(0b100, 3)          # sample size: 16 bits
        hdr.write(0, 1)              # reserved
        hdr.align()
        head = hdr.bytes() + _flac_utf8_number(fno)
        head += struct.pack(">H", len(blk) - 1)
        head += bytes([_crc8(head)])

        body = _FlacBitWriter()
        body.write(0, 1)             # subframe: padding bit
        body.write(0b001000 | order, 6)  # FIXED, order
        body.write(0, 1)             # no wasted bits
        for w in blk[:order]:        # warm-up samples, 16-bit signed
            body.write(w & 0xFFFF, 16)
        res = _fixed_residual(blk, order)
        body.write(0b00, 2)          # residual method: 4-bit Rice
        body.write(0, 4)             # partition order 0
        # rice parameter sized to the residual range
        mx = max((abs(x) for x in res), default=0)
        param = max(1, (2 * mx + 1).bit_length() - 1)
        param = min(param, 14)
        body.write(param, 4)
        for x in res:
            z = (x << 1) if x >= 0 else ((-x) << 1) - 1
            body.write_unary(z >> param)
            body.write(z, param)
        body.align()
        frame = head + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        frames += frame

    raw = b"".join(struct.pack("<h", s) for s in samples)
    md5 = hashlib.md5(raw).digest()
    si = _FlacBitWriter()
    si.write(half, 16)               # min block size
    si.write(n - half, 16)           # max block size
    si.write(0, 24)                  # min frame size unknown
    si.write(0, 24)                  # max frame size unknown
    si.write(44100, 20)
    si.write(0, 3)                   # channels - 1
    si.write(15, 5)                  # bits per sample - 1
    si.write(n, 36)
    streaminfo = si.bytes() + md5
    meta = bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo
    return b"fLaC" + meta + frames


@quarantinable("FLAC")
def flac_pcm(payload: bytes) -> "object":
    """Decode a mono FLAC file's samples to int64 — a real decoder to
    the public FLAC format: STREAMINFO walk, frame sync + CRC-8-verified
    headers + CRC-16-verified frame bodies, CONSTANT/VERBATIM/FIXED
    subframes (orders 0–4), Rice
    residual decoding (4-bit params, any partition order, escape
    codes), integer predictor reconstruction, CRC-16 frame trailers.
    LPC subframes raise (quarantine path) — the fixture synthesizer
    emits FIXED, which real encoders also produce for tonal content."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    total = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC metadata truncated")
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        block = payload[pos + 4 : pos + 4 + size]
        if (hdr & 0x7F) == 0:  # STREAMINFO
            r = _FlacBitReader(block)
            r.read(16); r.read(16); r.read(24); r.read(24)
            r.read(20)
            if r.read(3) != 0:
                raise ValueError("only mono FLAC supported")
            if r.read(5) != 15:
                raise ValueError("only 16-bit FLAC supported")
            total = r.read(36)
        pos += 4 + size
        if hdr & 0x80:  # last metadata block
            break
    out = []
    while pos < len(payload) and (total is None or len(out) < total):
        r = _FlacBitReader(payload, pos)
        if r.read(14) != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        r.read(1)
        r.read(1)
        bs_code = r.read(4)
        sr_code = r.read(4)
        if r.read(4) != 0:
            raise ValueError("only mono FLAC supported")
        if r.read(3) != 0b100:
            raise ValueError("only 16-bit FLAC supported")
        r.read(1)
        r.align()
        _read_flac_utf8(r)
        if bs_code == 0b0110:
            bsize = r.read(8) + 1
        elif bs_code == 0b0111:
            bsize = r.read(16) + 1
        elif bs_code >= 0b1000:
            bsize = 256 << (bs_code - 8)
        elif bs_code >= 0b0010:
            bsize = 576 << (bs_code - 2)
        elif bs_code == 0b0001:
            bsize = 192
        else:
            raise ValueError("reserved FLAC block size code")
        if sr_code == 0b1100:
            r.read(8)
        elif sr_code in (0b1101, 0b1110):
            r.read(16)
        header_len = r.pos - pos
        expect_crc = r.read(8)
        got_crc = _crc8(payload[pos : pos + header_len])
        if expect_crc != got_crc:
            raise ValueError("FLAC frame header CRC mismatch")

        r.read(1)
        sub = r.read(6)
        if r.read(1):
            raise ValueError("wasted bits unsupported")
        if sub == 0:  # CONSTANT
            v = r.read(16)
            if v >= 1 << 15:
                v -= 1 << 16
            blk = [v] * bsize
        elif sub == 1:  # VERBATIM
            blk = []
            for _ in range(bsize):
                v = r.read(16)
                if v >= 1 << 15:
                    v -= 1 << 16
                blk.append(v)
        elif 8 <= sub <= 12:  # FIXED, order = sub - 8
            order = sub - 8
            blk = []
            for _ in range(order):
                v = r.read(16)
                if v >= 1 << 15:
                    v -= 1 << 16
                blk.append(v)
            method = r.read(2)
            if method not in (0, 1):
                raise ValueError("reserved residual method")
            pbits = 4 if method == 0 else 5
            porder = r.read(4)
            n_part = 1 << porder
            res = []
            for p in range(n_part):
                cnt = bsize >> porder
                if p == 0:
                    cnt -= order
                param = r.read(pbits)
                if param == (1 << pbits) - 1:  # escape: raw bits
                    raw_bits = r.read(5)
                    for _ in range(cnt):
                        v = r.read(raw_bits)
                        if raw_bits and v >= 1 << (raw_bits - 1):
                            v -= 1 << raw_bits
                        res.append(v)
                else:
                    for _ in range(cnt):
                        q = r.read_unary()
                        z = (q << param) | r.read(param)
                        res.append((z >> 1) ^ -(z & 1))
            coef = {
                0: [],
                1: [1],
                2: [2, -1],
                3: [3, -3, 1],
                4: [4, -6, 4, -1],
            }[order]
            for x in res:
                pred = sum(
                    c * blk[-j - 1] for j, c in enumerate(coef)
                )
                blk.append(pred + x)
        else:
            raise ValueError("LPC subframes not supported (quarantine)")
        r.align()
        crc_pos = r.pos
        expect16 = r.read(16)
        if _crc16(payload[pos:crc_pos]) != expect16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        out.extend(blk)
        pos = r.pos
    return np.asarray(out, dtype=np.int64)


def attach_flac_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_flac` per key, Arrow-batched."""
    return _keyed_payload(df, key, synth_flac)


FLAC_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sum_sq", LongType(), False),
        StructField("min_s", IntegerType(), False),
        StructField("max_s", IntegerType(), False),
        StructField("first_s", IntegerType(), False),
        StructField("last_s", IntegerType(), False),
    ]
)


def _flac_one(payload: bytes) -> tuple:
    s = flac_pcm(payload)
    return (*_pcm_stats(s), int(s[0]), int(s[-1]))


def flac_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-clip integer-exact statistics of REAL FLAC-decoded samples —
    the codec is lossless, so any slip in rice decoding, predictor
    reconstruction, warm-up handling, or frame stitching diverges from
    the synthesis formula and is value-visible.  Arrow-batched
    ``mapInPandas``, partition-preserving."""
    return _per_payload(
        df, _flac_one, FLAC_STATS_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# audio: multi-codec dispatch (the "decode whatever arrives" stage)
# ---------------------------------------------------------------------------

def synth_mixed_audio(key: int) -> bytes:
    """Format dispatch fixture: PCM tone WAV, IMA-ADPCM WAV, FLAC, or a
    poisoned RIFF stub, selected by ``key % 4`` — one corpus, four
    on-disk realities, like any crawled audio bucket."""
    k = key % 4
    if k == 0:
        return synth_wav_tone(100 + key % 400, key)
    if k == 1:
        return synth_wav_adpcm(key)
    if k == 2:
        return synth_flac(key)
    # poisoned: RIFF magic, truncated body — must quarantine, not fail
    return b"RIFF\x10\x00\x00\x00WAVEjunk" + bytes([key % 256]) * 4


def attach_mixed_audio_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_mixed_audio` per key."""
    return _keyed_payload(df, key, synth_mixed_audio)


MIXED_AUDIO_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("codec", StringType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sum_sq", LongType(), False),
    ]
)


def _sniff_decode_audio(payload: bytes):
    """Container sniff → codec dispatch → decoded samples.  Returns
    (codec, samples); raises :class:`ValueError` on undecodable bytes
    (caller quarantines).  A truncated chunk body surfaces from the
    walkers as ``struct.error`` — normalized here so quarantine routing
    sees ONE exception type (the ``_avi_video_chunks`` discipline)."""
    try:
        return _sniff_decode_audio_inner(payload)
    except struct.error as e:
        raise ValueError(f"truncated audio container: {e}") from e


def _sniff_decode_audio_inner(payload: bytes):
    if payload[:4] == b"fLaC":
        return "flac", flac_pcm(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        for cid, body in _riff_chunks(payload):
            if cid == b"fmt ":
                if len(body) < 2:
                    raise ValueError("truncated fmt chunk")
                tag = struct.unpack("<H", body[:2])[0]
                if tag == 1:
                    return "pcm", wav_pcm(payload)
                if tag == 0x11:
                    return "adpcm", adpcm_pcm(payload)
                raise ValueError(f"unsupported WAVE format tag {tag}")
    raise ValueError("unrecognized audio container")


def _mixed_audio_one(payload: bytes) -> tuple:
    try:
        codec, s = _sniff_decode_audio(payload)
        return codec, len(s), int((s * s).sum())
    except ValueError:
        return "quarantined", 0, 0


def mixed_audio_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Decode a MIXED-format audio corpus: sniff each blob's container,
    dispatch to the right REAL decoder (PCM / IMA-ADPCM / FLAC), emit
    uniform integer-exact per-clip stats; undecodable blobs become
    ``codec='quarantined'`` rows instead of failing the job — the
    format-dispatch front door every crawled-audio pipeline needs.
    Arrow-batched ``mapInPandas``, partition-preserving."""
    return _per_payload(
        df,
        _mixed_audio_one,
        MIXED_AUDIO_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# video: MJPEG-in-AVI — real COMPRESSED video frames, decoded by the
# baseline JPEG pipeline inside the AVI container walk
# ---------------------------------------------------------------------------

#: BITMAPINFOHEADER biCompression fourcc for motion JPEG
_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def synth_avi_mjpeg(
    width: int, height: int, n_frames: int, seed: int
) -> bytes:
    """A spec-valid RIFF-AVI whose video stream is MOTION JPEG: strh
    fccHandler and strf biCompression are ``MJPG`` and every ``00dc``
    chunk is a complete baseline grayscale JPEG (DC-exact block
    synthesis, frame ``f``'s blocks at
    ``v = (7·bx + 13·by + 17·f + seed) % 256``) — compressed video a
    SQL oracle can still restate exactly."""
    frames = [
        synth_jpeg_blocks(width, height, (17 * f + seed) % 256)
        for f in range(n_frames)
    ]

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(payload)) + ltype + payload

    avih = struct.pack(
        "<14I", 40_000, 0, 0, 0, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n_frames, 0, 0, 0
        )
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, _MJPG_FOURCC,
        0, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", fr) for fr in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


@quarantinable("MJPEG AVI")
def avi_mjpeg_frames(payload: bytes, *, step: int = 1) -> list:
    """REAL compressed-video decode: walk the AVI container, require
    ``MJPG`` biCompression, and run the full baseline-JPEG pipeline
    (huffman → dequant → IDCT) on every ``step``-th ``00dc`` chunk —
    sampling happens BEFORE the expensive decode, so a keyframe pass
    pays only for the frames it keeps.  Returns ``(frame_idx, (H, W)
    uint8 array)`` pairs.  Non-MJPEG compression raises (the
    uncompressed path is :func:`avi_frames`; H.264 etc. stay
    quarantine-routed)."""
    strf, movi = _avi_video_chunks(payload)
    (_, _, _, _, _, compression) = struct.unpack("<IiiHHI", strf[:20])
    if compression != _MJPG_FOURCC:
        raise ValueError("not an MJPEG AVI")
    frames = []
    for f in range(0, len(movi), step):
        body, size = movi[f]
        frames.append((f, jpeg_pixels(payload[body : body + size])))
    return frames


def attach_mjpeg_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_avi_mjpeg` per key —
    ``w = 8·(2 + k%3)``, ``h = 8·(2 + k%2)``, ``2 + k%3`` frames."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_avi_mjpeg(
            8 * (2 + k % 3),
            8 * (2 + k % 2),
            2 + k % 3,
            k,
        ),
    )


MJPEG_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("n_px", LongType(), False),
        StructField("sum_p", LongType(), False),
        StructField("wsum_p", LongType(), False),
    ]
)


def mjpeg_frame_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    step: int = 2,
) -> DataFrame:
    """Keyframe sampling over REAL MJPEG decode: ONLY every
    ``step``-th frame of each clip is huffman-decoded (sampling
    precedes the expensive decode) and reduced to integer-exact stats —
    pixel count, Σp, and the block-position-weighted
    ``Σ p·(x//8 + 2·(y//8))`` that makes a transposed or re-ordered
    decode value-visible.  Arrow-batched ``mapInPandas``; compressed
    video bytes never shuffle."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "key", "frame_idx", "n_px", "sum_p", "wsum_p",
            )}
            for k, payload in zip(pdf[key], pdf[payload_col]):
                for f, frame in avi_mjpeg_frames(
                    bytes(payload), step=step
                ):
                    px = frame.astype(np.int64)
                    h, w = px.shape
                    wgt = (
                        np.arange(w, dtype=np.int64)[None, :] // 8
                        + 2 * (np.arange(h, dtype=np.int64)[:, None] // 8)
                    )
                    rows["key"].append(int(k))
                    rows["frame_idx"].append(f)
                    rows["n_px"].append(h * w)
                    rows["sum_p"].append(int(px.sum()))
                    rows["wsum_p"].append(int((px * wgt).sum()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(rows["key"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                    "n_px": pd.Series(rows["n_px"], dtype="int64"),
                    "sum_p": pd.Series(rows["sum_p"], dtype="int64"),
                    "wsum_p": pd.Series(rows["wsum_p"], dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=MJPEG_STATS_SCHEMA)


def encode_jpeg_420_coeffs(
    y_blocks, c_blocks, width: int, height: int, qtable
) -> bytes:
    """Entropy-encode pre-quantized coefficient blocks into a complete
    4:2:0 baseline JPEG — luma sampling 2×2, chroma 1×1, interleaved
    MCUs of 4 Y blocks + Cb + Cr, shared Annex-K tables.  ``y_blocks``
    is raster order over the (2·mcw)×(2·mch) luma block grid;
    ``c_blocks`` is ``[cb_blocks, cr_blocks]`` over the mcw×mch chroma
    grid.  Coefficient-domain input keeps the encoder lossless, like
    its grayscale and 4:4:4 twins."""
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qzz = bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qzz)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes((1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0)),
    )
    out += seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)))

    mcw, mch = (width + 15) // 16, (height + 15) // 16
    w = _JpegBitWriter()
    prev = [0, 0, 0]

    def put_block(zz_nat, ci):
        zz = [int(zz_nat[_JPEG_ZIGZAG[k]]) for k in range(64)]
        t, mag = _mag_bits(zz[0] - prev[ci])
        prev[ci] = zz[0]
        code, length = dc_enc[t]
        w.write(code, length)
        w.write(mag, t)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_enc[0xF0]
                w.write(code, length)
                run -= 16
            t, mag = _mag_bits(zz[k])
            code, length = ac_enc[(run << 4) | t]
            w.write(code, length)
            w.write(mag, t)
            run = 0
        if run:
            code, length = ac_enc[0x00]
            w.write(code, length)

    for m in range(mcw * mch):
        my, mx = divmod(m, mcw)
        for bv in (0, 1):
            for bhh in (0, 1):
                put_block(
                    y_blocks[(2 * my + bv) * 2 * mcw + 2 * mx + bhh], 0
                )
        put_block(c_blocks[0][m], 1)
        put_block(c_blocks[1][m], 2)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def synth_jpeg_420(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 4:2:0 baseline JPEG with DC-exact block synthesis:
    luma block (bx, by) is the flat value ``(7bx + 13by + seed) % 256``;
    chroma MCU (mx, my) is flat ``(5mx + 11my + seed) % 256`` (Cb) and
    ``(3mx + 17my + 2·seed) % 256`` (Cr) — the dominant web JPEG
    geometry with every decoded sample SQL-restatable.  Dimensions must
    be multiples of 16."""
    if width % 16 or height % 16:
        raise ValueError("synth dimensions must be multiples of 16")
    mcw, mch = width // 16, height // 16

    def flat(v):
        blk = [0] * 64
        blk[0] = v - 128
        return blk

    y_blocks = [
        flat((7 * bx + 13 * by + seed) % 256)
        for by in range(2 * mch)
        for bx in range(2 * mcw)
    ]
    cb = [
        flat((5 * mx + 11 * my + seed) % 256)
        for my in range(mch)
        for mx in range(mcw)
    ]
    cr = [
        flat((3 * mx + 17 * my + 2 * seed) % 256)
        for my in range(mch)
        for mx in range(mcw)
    ]
    return encode_jpeg_420_coeffs(
        y_blocks, [cb, cr], width, height, _JPEG_SYNTH_QTABLE
    )


def attach_jpeg_420_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_jpeg_420` per key —
    ``w = 16·(1 + k%3)``, ``h = 16·(1 + k%2)``."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_jpeg_420(
            16 * (1 + k % 3),
            16 * (1 + k % 2),
            k % 256,
        ),
    )


JPEG420_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("y_w", IntegerType(), False),
        StructField("y_h", IntegerType(), False),
        StructField("c_w", IntegerType(), False),
        StructField("c_h", IntegerType(), False),
        StructField("sum_y", LongType(), False),
        StructField("sum_cb", LongType(), False),
        StructField("sum_cr", LongType(), False),
        StructField("wsum_y", LongType(), False),
    ]
)


def _plane_sums(y: "object", cb: "object", cr: "object") -> tuple:
    """``(Σy, Σcb, Σcr, Σ y·(bx + 2·by))`` of decoded JPEG planes, where
    ``(bx, by)`` is the luma pixel's 8×8 block position."""
    import numpy as np

    yy = y.astype(np.int64)
    h, w = yy.shape
    wgt = (
        np.arange(w, dtype=np.int64)[None, :] // 8
        + 2 * (np.arange(h, dtype=np.int64)[:, None] // 8)
    )
    return (
        int(yy.sum()),
        int(cb.astype(np.int64).sum()),
        int(cr.astype(np.int64).sum()),
        int((yy * wgt).sum()),
    )


def _jpeg_420_one(payload: bytes) -> tuple:
    y, cb, cr = jpeg_planes(payload)
    return (*y.shape[::-1], *cb.shape[::-1], *_plane_sums(y, cb, cr))


def jpeg_420_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Integer-exact per-plane statistics of REAL 4:2:0 JPEG decode —
    plane geometries prove the subsampled MCU walk (chroma at half
    resolution), Σ per plane proves the three DC predictor chains, and
    the block-position-weighted luma sum catches any block placement
    slip in the 2×2 interleave.  Arrow-batched ``mapInPandas``."""
    return _per_payload(
        df,
        _jpeg_420_one,
        JPEG420_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# image metadata: real TIFF/EXIF IFD walk (both byte orders, out-of-line
# values, EXIF sub-IFD) — the metadata layer image pipelines read first
# ---------------------------------------------------------------------------

def synth_tiff_exif(key: int) -> bytes:
    """A spec-valid TIFF with an EXIF sub-IFD: header in little- or
    big-endian by key parity, IFD0 carrying ImageWidth/ImageLength/
    Orientation and the ExifIFD pointer (tag 34665), the sub-IFD
    carrying DateTimeOriginal (ASCII, stored out-of-line — offsets must
    really be followed).  Geometry and fields are formula-stated so a
    SQL oracle can restate every extracted value."""
    import struct as _s

    le = key % 2 == 0
    bo = "<" if le else ">"
    width = 16 * (1 + key % 8)
    height = 16 * (1 + key % 5)
    orient = 1 + key % 8
    dt = f"2024:01:{1 + key % 28:02d} {key % 24:02d}:{key % 60:02d}:00"
    dt_bytes = dt.encode() + b"\x00"

    def entry(tag, typ, count, value_or_off):
        return _s.pack(bo + "HHI", tag, typ, count) + value_or_off

    def short_val(v):
        return _s.pack(bo + "H", v) + b"\x00\x00"

    def long_val(v):
        return _s.pack(bo + "I", v)

    # layout: header(8) IFD0(2 + 4*12 + 4) EXIF-IFD(2 + 1*12 + 4) dt
    ifd0_off = 8
    ifd0_size = 2 + 4 * 12 + 4
    exif_off = ifd0_off + ifd0_size
    exif_size = 2 + 1 * 12 + 4
    dt_off = exif_off + exif_size

    ifd0 = _s.pack(bo + "H", 4)
    ifd0 += entry(256, 3, 1, short_val(width))     # ImageWidth SHORT
    ifd0 += entry(257, 4, 1, long_val(height))     # ImageLength LONG
    ifd0 += entry(274, 3, 1, short_val(orient))    # Orientation
    ifd0 += entry(34665, 4, 1, long_val(exif_off))  # ExifIFDPointer
    ifd0 += _s.pack(bo + "I", 0)                   # next IFD: none

    exif = _s.pack(bo + "H", 1)
    exif += entry(36867, 2, len(dt_bytes), long_val(dt_off))
    exif += _s.pack(bo + "I", 0)

    header = (b"II" if le else b"MM") + _s.pack(bo + "H", 42)
    header += _s.pack(bo + "I", ifd0_off)
    return header + ifd0 + exif + dt_bytes


@quarantinable("TIFF")
def tiff_exif_meta(payload: bytes) -> dict:
    """Parse a TIFF's IFD chain and EXIF sub-IFD to the metadata image
    pipelines key on: width, height, orientation, DateTimeOriginal.
    Real parser to the public TIFF 6.0 / EXIF specs: both byte orders,
    SHORT/LONG/ASCII types, inline vs out-of-line values (count·size >
    4 follows the offset), sub-IFD recursion.  Raises ValueError on
    non-TIFF or malformed structures (quarantine-routable)."""
    import struct as _s

    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF stream")

    def read_ifd(off: int) -> dict:
        if off + 2 > len(payload):
            raise ValueError("truncated IFD")
        n = _s.unpack_from(bo + "H", payload, off)[0]
        if off + 2 + 12 * n + 4 > len(payload):
            raise ValueError("truncated IFD entry table")
        fields = {}
        for i in range(n):
            eoff = off + 2 + 12 * i
            tag, typ, count = _s.unpack_from(bo + "HHI", payload, eoff)
            vbytes = payload[eoff + 8 : eoff + 12]
            size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue  # unhandled type: skip per spec guidance
            total = size * count
            if total > 4:
                voff = _s.unpack_from(bo + "I", vbytes)[0]
                raw = payload[voff : voff + total]
                if len(raw) < total:
                    raise ValueError("out-of-line value truncated")
            else:
                raw = vbytes[:total]
            if typ == 2:
                fields[tag] = raw.split(b"\x00")[0].decode(
                    "ascii", "replace"
                )
            elif typ == 3:
                fields[tag] = _s.unpack(bo + "H", raw[:2])[0]
            elif typ == 4:
                fields[tag] = _s.unpack(bo + "I", raw[:4])[0]
            else:
                fields[tag] = raw[0]
        return fields

    ifd0_off = _s.unpack_from(bo + "I", payload, 4)[0]
    f = read_ifd(ifd0_off)
    out = {
        "width": int(f.get(256, 0)),
        "height": int(f.get(257, 0)),
        "orientation": int(f.get(274, 1)),
        "datetime_original": "",
    }
    if 34665 in f:
        sub = read_ifd(int(f[34665]))
        out["datetime_original"] = str(sub.get(36867, ""))
    return out


TIFF_META_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("orientation", IntegerType(), False),
        StructField("datetime_original", StringType(), False),
    ]
)


def attach_tiff_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_tiff_exif` per key."""
    return _keyed_payload(df, key, synth_tiff_exif)


def tiff_meta_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Extract TIFF/EXIF metadata per image — the rotation/size/capture
    -time layer an image-prep pipeline reads before any pixel decode
    (orientation decides the resize transform; capture time drives
    dedup windows).  Arrow-batched ``mapInPandas``."""
    return _per_payload(
        df, tiff_exif_meta, TIFF_META_SCHEMA, key=key, payload_col=payload_col
    )


def encode_jpeg_color_progressive(
    qblocks_per_comp, width: int, height: int, qtable
) -> bytes:
    """Entropy-encode pre-quantized coefficient blocks into a complete
    PROGRESSIVE (SOF2) 4:4:4 color JPEG: an interleaved DC first pass
    (Al=1) over all three components, an interleaved DC refinement
    (Ah=1), then one AC band scan per component (AC scans are
    single-component by T.81 spec) with EOBn run coalescing.
    Coefficient-domain input keeps the encoder lossless, like its
    grayscale twin."""
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _huff_encode_table(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    qzz = bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qzz)
    out += seg(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)),
    )
    out += seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(
        0xC4,
        b"\x11" + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS),
    )

    zz = [
        [
            [int(blk[_JPEG_ZIGZAG[k]]) for k in range(64)]
            for blk in comp_blocks
        ]
        for comp_blocks in qblocks_per_comp
    ]
    nblocks = len(zz[0])

    # scan 1: interleaved DC first pass (Al=1)
    out += seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01)))
    w = _JpegBitWriter()
    prev = [0, 0, 0]
    for m in range(nblocks):
        for ci in range(3):
            v = zz[ci][m][0] >> 1
            t, mag = _mag_bits(v - prev[ci])
            prev[ci] = v
            code, length = dc_enc[t]
            w.write(code, length)
            w.write(mag, t)
    w.flush()
    out += w.out

    # scan 2: interleaved DC refinement
    out += seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10)))
    w = _JpegBitWriter()
    for m in range(nblocks):
        for ci in range(3):
            w.write(zz[ci][m][0] & 1, 1)
    w.flush()
    out += w.out

    # scans 3-5: one full AC band per component (first pass)
    for ci, cid in enumerate((1, 2, 3)):
        out += seg(0xDA, bytes((1, cid, 0x01, 1, 63, 0x00)))
        w = _JpegBitWriter()
        eobrun = 0

        def flush_eob(w=w):
            nonlocal eobrun
            while eobrun:
                n = min(eobrun, 32767)
                r = n.bit_length() - 1
                code, length = ac_enc[r << 4]
                w.write(code, length)
                if r:
                    w.write(n - (1 << r), r)
                eobrun -= n

        for m in range(nblocks):
            band = zz[ci][m][1:64]
            if not any(band):
                eobrun += 1
                continue
            flush_eob()
            run = 0
            last_nz = max(i for i, v in enumerate(band) if v)
            for i, v in enumerate(band[: last_nz + 1]):
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[0xF0]
                    w.write(code, length)
                    run -= 16
                t, mag = _mag_bits(v)
                code, length = ac_enc[(run << 4) | t]
                w.write(code, length)
                w.write(mag, t)
                run = 0
            if last_nz < 62:
                eobrun += 1
        flush_eob()
        w.flush()
        out += w.out

    out += b"\xff\xd9"
    return bytes(out)


def synth_jpeg_progressive_color(width: int, height: int, seed: int) -> bytes:
    """A spec-valid PROGRESSIVE 4:4:4 color JPEG with DC-exact flat
    blocks per component — Y ``(7bx+13by+seed)%256``, Cb
    ``(5bx+11by+seed)%256``, Cr ``(3bx+17by+2·seed)%256`` — so the
    multi-scan coefficient accumulation (interleaved DC passes + three
    all-EOBn AC scans) decodes bit-exactly to the stated formulas.
    Dimensions must be multiples of 8."""
    if width % 8 or height % 8:
        raise ValueError("synth dimensions must be multiples of 8")
    bw, bh = width // 8, height // 8

    def flat(v):
        blk = [0] * 64
        blk[0] = v - 128
        return blk

    y = [
        flat((7 * bx + 13 * by + seed) % 256)
        for by in range(bh)
        for bx in range(bw)
    ]
    cb = [
        flat((5 * bx + 11 * by + seed) % 256)
        for by in range(bh)
        for bx in range(bw)
    ]
    cr = [
        flat((3 * bx + 17 * by + 2 * seed) % 256)
        for by in range(bh)
        for bx in range(bw)
    ]
    return encode_jpeg_color_progressive(
        [y, cb, cr], width, height, _JPEG_SYNTH_QTABLE
    )


def attach_jpeg_progressive_color_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_jpeg_progressive_color` per key
    — ``w = 8·(1 + k%4)``, ``h = 8·(1 + k%3)``."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_jpeg_progressive_color(
            8 * (1 + k % 4),
            8 * (1 + k % 3),
            k % 256,
        ),
    )


def _jpeg_444_one(payload: bytes) -> tuple:
    y, cb, cr = jpeg_planes(payload)
    return (*y.shape[::-1], *_plane_sums(y, cb, cr))


def jpeg_color_plane_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-component plane sums of a decoded color JPEG (baseline or
    progressive) — the integer-exact contract shared by the 4:4:4
    entries.  Arrow-batched ``mapInPandas``."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("w", IntegerType(), False),
            StructField("h", IntegerType(), False),
            StructField("sum_y", LongType(), False),
            StructField("sum_cb", LongType(), False),
            StructField("sum_cr", LongType(), False),
            StructField("wsum_y", LongType(), False),
        ]
    )

    return _per_payload(
        df, _jpeg_444_one, schema, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# image: standalone BMP (BITMAPFILEHEADER + DIB) — the uncompressed
# image container, decoded with the AVI frames' DIB semantics
# ---------------------------------------------------------------------------

def synth_bmp(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 24-bit BI_RGB BMP: BITMAPFILEHEADER ('BM', file
    size, pixel-array offset) + BITMAPINFOHEADER + bottom-up BGR rows
    padded to 4-byte stride.  Display-orientation RGB is the AVI video
    formula at frame 0: ``r=(7x+13y+seed)%256``, ``g=(11x+5y+seed)%256``,
    ``b=(3x+23y+seed)%256``."""
    import numpy as np

    stride = (3 * width + 3) & ~3
    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    r = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    g = ((11 * x + 5 * y + seed) % 256).astype(np.uint8)
    b = ((3 * x + 23 * y + seed) % 256).astype(np.uint8)
    dib = np.flipud(np.stack([b, g, r], axis=-1))
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : 3 * width] = dib.reshape(height, 3 * width)
    pixels = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
        len(pixels), 0, 0, 0, 0,
    )
    header = b"BM" + struct.pack(
        "<IHHI", 14 + len(info) + len(pixels), 0, 0, 14 + len(info)
    )
    return header + info + pixels


@quarantinable("BMP")
def bmp_pixels(payload: bytes) -> "object":
    """Decode a 24-bit BI_RGB BMP to a display-orientation ``(H, W, 3)``
    uint8 RGB array — file header offset honored, bottom-up/top-down
    sign of the height handled, 4-byte row stride and BGR order per the
    public BMP spec (the same DIB semantics the AVI path decodes).
    Compressed or paletted BMPs raise (quarantine)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP stream")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    offset = struct.unpack("<I", payload[10:14])[0]
    (_, width, height, _, bitcount, compression) = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP format ({bitcount}bpp, compression="
            f"{compression}) — only uncompressed 24-bit BI_RGB"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = (3 * width + 3) & ~3
    need = offset + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        payload[offset : offset + stride * height], dtype=np.uint8
    ).reshape(height, stride)
    bgr = rows[:, : 3 * width].reshape(height, width, 3)
    if bottom_up:
        bgr = np.flipud(bgr)
    return bgr[:, :, ::-1].copy()


def attach_bmp_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_bmp` per key —
    ``w = 4 + k%13``, ``h = 3 + k%7`` (deliberately not multiples of 4,
    so the row stride genuinely matters)."""
    return _keyed_payload(
        df, key, lambda k: synth_bmp(4 + k % 13, 3 + k % 7, k % 256)
    )


BMP_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("wsum_r", LongType(), False),
    ]
)


def _xy_weight(h: int, w: int) -> "object":
    """The ``(h, w)`` position weight ``x + 2y``: a checksum under it
    changes when a decoder misplaces a pixel, not only when it gets a
    value wrong."""
    import numpy as np

    return (
        np.arange(w, dtype=np.int64)[None, :]
        + 2 * np.arange(h, dtype=np.int64)[:, None]
    )


def _gray_one(px: "object") -> tuple:
    """``(width, height, Σp, min, max, Σ p·(x + 2y))`` of decoded gray
    ``(h, w)`` pixels."""
    import numpy as np

    px = px.astype(np.int64)
    h, w = px.shape
    return (
        w,
        h,
        int(px.sum()),
        int(px.min()),
        int(px.max()),
        int((px * _xy_weight(h, w)).sum()),
    )


def _rgb_one(px: "object") -> tuple:
    """``(width, height, Σr, Σg, Σb, Σ r·(x + 2y))`` of decoded
    ``(h, w, 3)`` pixels: the RGB checksum."""
    import numpy as np

    px = px.astype(np.int64)
    h, w, _ = px.shape
    return (
        w,
        h,
        int(px[:, :, 0].sum()),
        int(px[:, :, 1].sum()),
        int(px[:, :, 2].sum()),
        int((px[:, :, 0] * _xy_weight(h, w)).sum()),
    )


def bmp_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Integer-exact per-channel sums of REAL BMP decode, plus the
    position-weighted ``Σ r·(x + 2y)`` that makes a forgotten flip,
    BGR swap, or stride slip value-visible.  Arrow-batched
    ``mapInPandas``."""
    return _per_payload(
        df,
        lambda p: _rgb_one(bmp_pixels(p)),
        BMP_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# G.711 mu-law audio (ITU-T G.711, public spec) — companded 8-bit WAV
# ---------------------------------------------------------------------------

def synth_wav_ulaw(n_samples: int, seed: int) -> bytes:
    """A mono 8-bit G.711 mu-law WAV (format tag 7) whose code bytes
    follow the deterministic pattern ``c[i] = (i·(5 + seed%11) + seed)
    % 256`` — spec-valid container, formula-stated content: a SQL
    oracle recomputes codes (and their mu-law expansion) from the
    formula while the Spark side must genuinely parse the container and
    expand the companded bytes it reads."""
    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    codes = ((i * (5 + seed % 11) + seed) % 256).astype(np.uint8)
    data = codes.tobytes()
    # fmt tag 7 (mu-law), mono, 8000 Hz, 1 byte/sample
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def ulaw_expand(codes: "object") -> "object":
    """G.711 mu-law expansion (ITU-T G.711 / CCITT table, the 0x84-bias
    formulation): complement the code, split sign / 3-bit exponent /
    4-bit mantissa, reconstruct ``(((m<<3) + 0x84) << e) − 0x84`` with
    the sign applied — vectorized, exact integers (max magnitude
    32124)."""
    import numpy as np

    u = (~codes.astype(np.int64)) & 0xFF
    sign = u & 0x80
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = (((m << 3) + 0x84) << e) - 0x84
    return np.where(sign > 0, -mag, mag)


def attach_ulaw_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_wav_ulaw` per key
    (``n_samples = 80 + key % 300``, ``seed = key``), Arrow-batched."""
    return _keyed_payload(df, key, lambda k: synth_wav_ulaw(80 + k % 300, k))


def ulaw_features(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    key: str = "key",
    window: int = 256,
) -> DataFrame:
    """Windowed features over REAL mu-law decode: parse the WAV
    container, require format tag 7, expand the companded codes via
    :func:`ulaw_expand`, then per ``window``-sample frame emit sample
    count, exact int64 energy, and zero-crossing count — the
    :func:`audio_features` contract extended to the G.711 telephony
    codec.  Arrow-batched ``mapInPandas``, partition-preserving, zero
    shuffles."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys, ws, ns, sqs, crs = [], [], [], [], []
            for k, payload in zip(pdf[key], pdf[payload_col]):
                fmt_tag = None
                codes = None
                for cid, body in _riff_chunks(bytes(payload)):
                    if cid == b"fmt ":
                        fmt_tag = struct.unpack("<H", body[:2])[0]
                    elif cid == b"data":
                        codes = np.frombuffer(body, dtype=np.uint8)
                if fmt_tag != 7 or codes is None:
                    raise ValueError("not a mu-law WAV")
                s = ulaw_expand(codes)
                for w in range(-(-len(s) // window)):
                    seg = s[w * window : (w + 1) * window]
                    keys.append(int(k))
                    ws.append(w)
                    ns.append(len(seg))
                    sqs.append(int((seg * seg).sum()))
                    crs.append(int(((seg[:-1] * seg[1:]) < 0).sum()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(keys, dtype="int64"),
                    "w": pd.Series(ws, dtype="int32"),
                    "n": pd.Series(ns, dtype="int64"),
                    "sum_sq": pd.Series(sqs, dtype="int64"),
                    "crossings": pd.Series(crs, dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# MPEG-1 Layer III frame-header walk (ISO/IEC 11172-3, public spec) —
# metadata-level MP3 support; full audio decode stays library-gated
# ---------------------------------------------------------------------------

#: MPEG-1 Layer III bitrate table, kbps by 4-bit index (ISO 11172-3
#: Table B.2; index 0 = free, 15 = forbidden)
MPEG1_L3_BITRATES: tuple[int, ...] = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0,
)
#: MPEG-1 sampling rates by 2-bit index (ISO 11172-3; index 3 reserved)
MPEG1_SAMPLERATES: tuple[int, ...] = (44100, 48000, 32000, 0)


def synth_mp3_frames(seed: int) -> bytes:
    """A deterministic MPEG-1 Layer III frame sequence: ``3 + seed%6``
    frames, frame ``j`` with bitrate index ``1 + (seed·7 + j) % 14``,
    samplerate index ``seed % 3``, padding ``(seed+j) % 2`` — real
    sync/version/layer header bit-packing, body filled to the spec
    frame length ``⌊144·bitrate/samplerate⌋ + padding`` so a real
    header walk is required to find each next frame."""
    out = bytearray()
    n_frames = 3 + seed % 6
    sr_idx = seed % 3
    sr = MPEG1_SAMPLERATES[sr_idx]
    for j in range(n_frames):
        br_idx = 1 + (seed * 7 + j) % 14
        pad = (seed + j) % 2
        br = MPEG1_L3_BITRATES[br_idx]
        # 0xFF 0xFB = sync(11) + MPEG1(11) + Layer III(01) + no-CRC(1)
        b2 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
        b3 = 0xC0  # mono, no mode extension/copyright/original/emphasis
        frame_len = 144 * br * 1000 // sr + pad
        frame = bytearray([0xFF, 0xFB, b2, b3])
        frame.extend(
            ((seed + j + i) % 256) for i in range(frame_len - 4)
        )
        out.extend(frame)
    return bytes(out)


def attach_mp3_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_mp3_frames` per key."""
    return _keyed_payload(df, key, synth_mp3_frames)


MPEG_META_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("samplerate", IntegerType(), False),
        StructField("total_bytes", LongType(), False),
        StructField("sum_bitrate_kbps", LongType(), False),
    ]
)


@quarantinable("MPEG audio")
def _mpeg_one(payload: bytes) -> tuple[int, int, int, int]:
    off, n, sr_out, br_sum = 0, 0, 0, 0
    while off + 4 <= len(payload):
        b0, b1, b2 = payload[off], payload[off + 1], payload[off + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("lost MPEG sync")
        if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
            raise ValueError("not MPEG-1 Layer III")
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 0x1
        br = MPEG1_L3_BITRATES[br_idx]
        sr = MPEG1_SAMPLERATES[sr_idx]
        if br == 0 or sr == 0:
            raise ValueError("free/forbidden bitrate or samplerate")
        n += 1
        sr_out = sr
        br_sum += br
        off += 144 * br * 1000 // sr + pad
    if off != len(payload):
        raise ValueError("trailing garbage after last frame")
    return n, sr_out, len(payload), br_sum


def mpeg_audio_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """MPEG-1 Layer III frame-header walk (ISO 11172-3): validate each
    frame's sync word, version, and layer bits, read the bitrate and
    samplerate indices against the public tables, step by the computed
    frame length (``⌊144·bitrate/samplerate⌋ + padding``) and emit
    per-stream frame count, samplerate, byte total, and summed frame
    bitrates — enough for duration/VBR accounting and corpus audits
    without touching the audio decode (which stays library-gated, see
    the perceptual-codec note at ``require_codec``).

    Arrow-batched ``mapInPandas``, partition-preserving, zero shuffles;
    a malformed header raises rather than silently resyncing — the
    quarantine entry is the place malformed media routes to."""
    return _per_payload(
        df, _mpeg_one, MPEG_META_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG (PNG spec §8.2, public) — progressive-display
# pixel layout; decode requires the 7-pass deinterlace
# ---------------------------------------------------------------------------

#: Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec §8.2
ADAM7_PASSES: tuple[tuple[int, int, int, int], ...] = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def synth_png_interlaced(width: int, height: int, seed: int) -> bytes:
    """A spec-valid Adam7-interlaced 8-bit grayscale PNG with the same
    formula pixels as :func:`synth_png_pixels` (``p = (7x + 13y + seed)
    % 256``) — the IDAT stream carries the 7 reduced images in pass
    order (each pass its own filter-0 scanline sequence), so a decoder
    must genuinely deinterlace to reconstruct the image."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    raw = b""
    for x0, y0, dx, dy in ADAM7_PASSES:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        raw += b"".join(
            b"\x00" + sub[r].tobytes() for r in range(sub.shape[0])
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


@quarantinable("PNG")
def png_pixels_adam7(payload: bytes) -> "object":
    """Decode an Adam7-interlaced 8-bit grayscale filter-0 PNG to an
    ``(h, w)`` uint8 array: inflate once, then walk the 7 reduced
    images in spec order, unfilter each pass's scanlines, and scatter
    every pass pixel to its ``(y0 + r·dy, x0 + c·dx)`` home — the
    deinterlace step progressive web rendering relies on."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, width, height, depth, ctype, interlace = 8, None, None, None, None, None
    idat = b""
    while off + 8 <= len(payload):
        size = struct.unpack(">I", payload[off : off + 4])[0]
        cid = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + size]
        if cid == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
        elif cid == b"IDAT":
            idat += data
        elif cid == b"IEND":
            break
        off += 12 + size
    if width is None:
        raise ValueError("PNG without IHDR")
    if (depth, ctype) != (8, 0):
        raise ValueError("only 8-bit grayscale supported by this decoder")
    if interlace != 1:
        raise ValueError("not Adam7-interlaced")
    _check_dims(width, height, "PNG")
    want = sum(
        ph * (1 + pw)
        for x0, y0, dx, dy in ADAM7_PASSES
        for pw in (len(range(x0, width, dx)),)
        for ph in (len(range(y0, height, dy)),)
        if pw and ph
    )
    raw = _bounded_inflate(idat, declared=want, fmt="PNG IDAT", wbits=15)
    out = np.zeros((height, width), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = len(range(x0, width, dx))
        ph = len(range(y0, height, dy))
        if pw == 0 or ph == 0:
            continue
        for r in range(ph):
            if raw[pos] != 0:
                raise ValueError(
                    "only filter type 0 supported by this decoder"
                )
            row = np.frombuffer(raw[pos + 1 : pos + 1 + pw], dtype=np.uint8)
            out[y0 + r * dy, x0::dx] = row
            pos += 1 + pw
    if pos != len(raw):
        raise ValueError("IDAT size mismatch after deinterlace")
    return out


INTERLACED_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_px", LongType(), False),
        StructField("min_px", IntegerType(), False),
        StructField("max_px", IntegerType(), False),
        StructField("wsum_px", LongType(), False),
    ]
)


def attach_interlaced_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_png_interlaced` per key
    (``w = 8 + (7k) % 17``, ``h = 8 + (13k) % 19``, ``seed = k``) —
    small enough that every Adam7 pass is non-empty and the SQL oracle
    can enumerate pixels cheaply."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_interlaced(
            8 + (7 * k) % 17,
            8 + (13 * k) % 19,
            k,
        ),
    )


def interlaced_pixel_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Stats over REAL Adam7 deinterlaced pixels: geometry, exact sums,
    min/max, and a position-weighted sum ``Σ p·(x + 2y)`` — the weight
    makes any pass-placement mistake (swapped strides, wrong origin)
    change the answer, so the deinterlace scatter is value-checked, not
    just the pixel multiset.  mapInPandas, partition-preserving, zero
    shuffles."""
    return _per_payload(
        df,
        lambda p: _gray_one(png_pixels_adam7(p)),
        INTERLACED_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# PNG scanline filters 0-4 (PNG spec §9, public): Sub/Up/Average/Paeth —
# the full filter set real-world encoders emit
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    """PaethPredictor (PNG spec §9.4): nearest of left/up/upper-left to
    the linear estimate a + b − c, ties resolved left → up → upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def synth_png_filtered(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit grayscale PNG whose row ``y`` is encoded with
    filter type ``(y + seed) % 5`` — all five PNG filters (None, Sub,
    Up, Average, Paeth) live in every file taller than 4 rows, so a
    decoder must implement the complete unfilter set.  Pixels follow
    the shared formula ``p = (7x + 13y + seed) % 256``."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * x + 13 * y + seed) % 256).astype(np.int64)
    out = bytearray()
    prior = np.zeros(width, dtype=np.int64)
    for r in range(height):
        raw = px[r]
        f = (r + seed) % 5
        left = np.concatenate(([0], raw[:-1]))
        upleft = np.concatenate(([0], prior[:-1]))
        if f == 0:
            enc = raw
        elif f == 1:
            enc = (raw - left) % 256
        elif f == 2:
            enc = (raw - prior) % 256
        elif f == 3:
            enc = (raw - (left + prior) // 2) % 256
        else:
            pa = np.array(
                [
                    _paeth(int(left[i]), int(prior[i]), int(upleft[i]))
                    for i in range(width)
                ],
                dtype=np.int64,
            )
            enc = (raw - pa) % 256
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


@quarantinable("PNG")
def png_pixels_filtered(payload: bytes) -> "object":
    """Decode an 8-bit non-interlaced PNG honoring ALL five scanline
    filter types (PNG spec §9): None, Sub (left), Up (prior row),
    Average (floor mean of left+up), Paeth (§9.4 predictor) — for both
    grayscale (color type 0, bpp 1) and truecolor (color type 2,
    bpp 3).  The filter neighborhood is defined in BYTES ``bpp`` back
    (§9.2), which is where multi-channel decoders go wrong.  Returns an
    ``(h, w)`` uint8 array for grayscale or ``(h, w, 3)`` for
    truecolor.  The left-dependent filters make unfiltering inherently
    sequential per row — the arithmetic is byte-exact modulo 256."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, width, height, depth, ctype, interlace = 8, None, None, None, None, None
    idat = b""
    while off + 8 <= len(payload):
        size = struct.unpack(">I", payload[off : off + 4])[0]
        cid = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + size]
        if cid == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
        elif cid == b"IDAT":
            idat += data
        elif cid == b"IEND":
            break
        off += 12 + size
    if width is None:
        raise ValueError("PNG without IHDR")
    if depth != 8 or ctype not in (0, 2):
        raise ValueError(
            "only 8-bit grayscale/truecolor supported by this decoder"
        )
    if interlace != 0:
        raise ValueError("interlaced PNG: use png_pixels_adam7")
    bpp = 1 if ctype == 0 else 3
    _check_dims(width, height, "PNG")
    rowbytes = width * bpp
    raw = _bounded_inflate(
        idat, declared=(rowbytes + 1) * height, fmt="PNG IDAT", wbits=15
    )
    stride = rowbytes + 1
    if len(raw) != stride * height:
        raise ValueError("IDAT size mismatch")
    out = np.zeros((height, rowbytes), dtype=np.int64)
    prior = np.zeros(rowbytes, dtype=np.int64)
    for r in range(height):
        f = raw[r * stride]
        enc = np.frombuffer(
            raw[r * stride + 1 : (r + 1) * stride], dtype=np.uint8
        ).astype(np.int64)
        if f == 0:
            dec = enc.copy()
        elif f == 2:
            dec = (enc + prior) % 256
        elif f in (1, 3, 4):
            dec = np.zeros(rowbytes, dtype=np.int64)
            for i in range(rowbytes):
                left = dec[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + prior[i]) // 2
                else:
                    upleft = prior[i - bpp] if i >= bpp else 0
                    pred = _paeth(int(left), int(prior[i]), int(upleft))
                dec[i] = (enc[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[r] = dec
        prior = dec
    out8 = out.astype(np.uint8)
    if ctype == 0:
        return out8
    return out8.reshape(height, width, 3)


def attach_filtered_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_png_filtered` per key
    (``w = 9 + (7k) % 20``, ``h = 9 + (13k) % 22`` — ≥5 rows, so every
    filter type occurs in every payload)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_filtered(
            9 + (7 * k) % 20,
            9 + (13 * k) % 22,
            k,
        ),
    )


def filtered_pixel_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Stats over REAL all-filter PNG decode — same contract and schema
    as :func:`interlaced_pixel_stats` (position-weighted checksum makes
    any unfilter mistake change the answer); mapInPandas, zero
    shuffles."""
    return _per_payload(
        df,
        lambda p: _gray_one(png_pixels_filtered(p)),
        INTERLACED_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


def synth_png_rgb_filtered(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit TRUECOLOR PNG (color type 2, bpp 3) with row
    ``y`` encoded under filter ``(y + seed) % 5`` — the byte-domain
    filters reference the neighbor ``bpp`` bytes back (PNG spec §9.2),
    so a decoder that treats truecolor like grayscale corrupts every
    Sub/Average/Paeth row.  Channels: ``r = (7x+13y+seed) % 256``,
    ``g = (11x+3y+2·seed) % 256``, ``b = (5x+17y+3·seed) % 256``."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = np.stack(
        [
            (7 * x + 13 * y + seed) % 256,
            (11 * x + 3 * y + 2 * seed) % 256,
            (5 * x + 17 * y + 3 * seed) % 256,
        ],
        axis=-1,
    ).astype(np.int64)
    bpp = 3
    out = bytearray()
    prior = np.zeros(width * bpp, dtype=np.int64)
    for r in range(height):
        raw = px[r].reshape(-1)
        f = (r + seed) % 5
        left = np.concatenate((np.zeros(bpp, dtype=np.int64), raw[:-bpp]))
        upleft = np.concatenate(
            (np.zeros(bpp, dtype=np.int64), prior[:-bpp])
        )
        if f == 0:
            enc = raw
        elif f == 1:
            enc = (raw - left) % 256
        elif f == 2:
            enc = (raw - prior) % 256
        elif f == 3:
            enc = (raw - (left + prior) // 2) % 256
        else:
            pa = np.array(
                [
                    _paeth(int(left[i]), int(prior[i]), int(upleft[i]))
                    for i in range(width * bpp)
                ],
                dtype=np.int64,
            )
            enc = (raw - pa) % 256
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


RGB_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("wsum_r", LongType(), False),
    ]
)


def attach_rgb_filtered_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_png_rgb_filtered` per key
    (``w = 9 + (7k) % 18``, ``h = 9 + (13k) % 20`` — ≥5 rows so every
    filter type occurs)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_rgb_filtered(
            9 + (7 * k) % 18,
            9 + (13 * k) % 20,
            k,
        ),
    )


def rgb_filtered_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-channel stats over REAL truecolor all-filter PNG decode —
    the position-weighted red sum catches both unfilter and channel-
    interleave mistakes.  mapInPandas, zero shuffles."""
    return _per_payload(
        df,
        lambda p: _rgb_one(png_pixels_filtered(p)),
        RGB_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# TGA (Truevision TARGA, public spec) — RLE-compressed truecolor;
# adds run-length decoding to the codec family (GIF covers LZW,
# FLAC covers Rice, JPEG covers Huffman)
# ---------------------------------------------------------------------------

def synth_tga_rle(width: int, height: int, seed: int) -> bytes:
    """A spec-valid RLE-compressed 24-bit TGA (image type 10): the
    formula pixels (same channel formulas as the PNG truecolor entry)
    are encoded with real run-length packets — maximal literal/run
    packets chosen greedily, runs ≤ 128 per the spec — so decoding
    requires a genuine RLE walk, not a memcpy.  Bottom-up row order
    (descriptor bit 5 clear) and BGR byte order per the TGA spec, so a
    correct decoder must flip and swap exactly like the BMP/DIB path."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = np.stack(
        [
            (7 * x + 13 * y + seed) % 256,      # R
            (11 * x + 3 * y + 2 * seed) % 256,  # G
            (5 * x + 17 * y + 3 * seed) % 256,  # B
        ],
        axis=-1,
    ).astype(np.uint8)
    # every 4th row is FLAT (x-independent) so the encoder emits real
    # run packets; gradient rows exercise the literal path — both RLE
    # packet types live in every payload taller than 4 rows
    flat_rows = (np.arange(height) % 4 == 0)
    for c, mul in enumerate((13, 3, 17)):
        px[flat_rows, :, c] = (
            (mul * np.arange(height)[flat_rows] + (c + 1) * seed) % 256
        )[:, None]
    header = struct.pack(
        "<BBBHHBHHHHBB",
        0,      # id length
        0,      # no color map
        10,     # image type: RLE truecolor
        0, 0, 0,  # color map spec
        0, 0,   # origin
        width, height,
        24,     # bpp
        0,      # descriptor: bottom-up, no alpha
    )
    out = bytearray(header)
    # bottom-up storage: first stored row is the BOTTOM image row
    for r in range(height - 1, -1, -1):
        row = px[r]
        i = 0
        while i < width:
            # measure the run of identical pixels at i
            j = i + 1
            while (
                j < width
                and j - i < 128
                and (row[j] == row[i]).all()
            ):
                j += 1
            if j - i >= 2:  # run packet
                out.append(0x80 | (j - i - 1))
                out.extend([row[i][2], row[i][1], row[i][0]])  # BGR
                i = j
            else:  # literal packet: until the next run of >= 2 starts
                k = i + 1
                while (
                    k < width
                    and k - i < 128
                    and not (
                        k + 1 < width and (row[k + 1] == row[k]).all()
                    )
                ):
                    k += 1
                out.append((k - i - 1) & 0x7F)
                for c in range(i, k):
                    out.extend([row[c][2], row[c][1], row[c][0]])
                i = k
    return bytes(out)


@quarantinable("TGA")
def tga_pixels(payload: bytes) -> "object":
    """Decode an RLE truecolor TGA to ``(h, w, 3)`` RGB uint8: header
    walk, RLE packet stream (runs and literals, spec max 128), BGR →
    RGB swap, bottom-up flip.  Trailing garbage or a short stream
    raises — malformed media routes to quarantine upstream."""
    import numpy as np

    (id_len, cmap_type, img_type) = struct.unpack("<BBB", payload[:3])
    if img_type != 10 or cmap_type != 0:
        raise ValueError("not an RLE truecolor TGA")
    width, height = struct.unpack("<HH", payload[12:16])
    bpp, _desc = struct.unpack("<BB", payload[16:18])
    if bpp != 24:
        raise ValueError("only 24-bit TGA supported")
    pos = 18 + id_len
    flat = np.zeros((height * width, 3), dtype=np.uint8)
    n = 0
    while n < height * width:
        if pos >= len(payload):
            raise ValueError("truncated TGA stream")
        ctrl = payload[pos]
        pos += 1
        count = (ctrl & 0x7F) + 1
        if ctrl & 0x80:  # run packet
            b, g, r = payload[pos : pos + 3]
            pos += 3
            flat[n : n + count] = (r, g, b)
        else:  # literal packet
            raw = np.frombuffer(
                payload[pos : pos + 3 * count], dtype=np.uint8
            ).reshape(count, 3)
            pos += 3 * count
            flat[n : n + count] = raw[:, ::-1]  # BGR -> RGB
        n += count
    if n != height * width or pos != len(payload):
        raise ValueError("TGA pixel count / trailing bytes mismatch")
    img = flat.reshape(height, width, 3)
    return img[::-1]  # bottom-up -> top-down


def attach_tga_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_tga_rle` per key
    (``w = 9 + (7k) % 18``, ``h = 9 + (13k) % 20``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_tga_rle(
            9 + (7 * k) % 18,
            9 + (13 * k) % 20,
            k,
        ),
    )


def tga_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-channel stats over REAL TGA RLE decode — same contract as
    :func:`rgb_filtered_stats` (position-weighted red checksum catches
    RLE, flip, and channel-swap mistakes)."""
    return _per_payload(
        df,
        lambda p: _rgb_one(tga_pixels(p)),
        RGB_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


def synth_ico(images: "list[tuple[int, int, int, int]]") -> bytes:
    """A spec-valid multi-resolution ICO container: ICONDIR (reserved=0,
    type=1, count) + one 16-byte ICONDIRENTRY per image (width/height
    bytes, planes=1, bitcount=24, bytesInRes, imageOffset) + per image a
    BITMAPINFOHEADER whose ``biHeight`` is DOUBLED (the XOR+AND mask
    quirk unique to ICO), the 24-bit bottom-up BGR XOR image (4-byte
    stride), then the 1-bpp AND transparency mask (rows padded to
    32-bit stride, MSB-first).  ``images`` is
    ``[(width, height, seed, key), ...]``; pixels follow the shared AVI/
    BMP formula, mask bit set (transparent) when ``(x+y+key) % 5 == 0``."""
    import numpy as np

    blobs = []
    for width, height, seed, key in images:
        x = np.arange(width, dtype=np.int64)[None, :]
        y = np.arange(height, dtype=np.int64)[:, None]
        r = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
        g = ((11 * x + 5 * y + seed) % 256).astype(np.uint8)
        b = ((3 * x + 23 * y + seed) % 256).astype(np.uint8)
        stride = (3 * width + 3) & ~3
        dib = np.flipud(np.stack([b, g, r], axis=-1))
        rows = np.zeros((height, stride), dtype=np.uint8)
        rows[:, : 3 * width] = dib.reshape(height, 3 * width)
        mask_bits = ((x + y + key) % 5 == 0)  # broadcast (h, w) bools
        mask_bits = np.broadcast_to(mask_bits, (height, width))
        mask_stride = ((width + 31) // 32) * 4
        mrows = np.zeros((height, mask_stride * 8), dtype=np.uint8)
        mrows[:, :width] = np.flipud(mask_bits).astype(np.uint8)
        mask = np.packbits(mrows, axis=1).tobytes()
        info = struct.pack(
            "<IiiHHIIiiII", 40, width, height * 2, 1, 24, 0,
            rows.nbytes + len(mask), 0, 0, 0, 0,
        )
        blobs.append(info + rows.tobytes() + mask)
    count = len(images)
    out = bytearray(struct.pack("<HHH", 0, 1, count))
    offset = 6 + 16 * count
    for (width, height, _seed, _key), blob in zip(images, blobs):
        out += struct.pack(
            "<BBBBHHII",
            width % 256, height % 256, 0, 0, 1, 24, len(blob), offset,
        )
        offset += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


@quarantinable("ICO")
def ico_frames(payload: bytes) -> "list[tuple[object, object]]":
    """Decode an ICO container to ``[(rgb (H,W,3) uint8, mask (H,W)
    bool), ...]`` — directory walked by OFFSET (entries need not be
    contiguous), ``biHeight`` halved back (the XOR/AND doubling), XOR
    image as bottom-up 24-bit BGR with 4-byte stride, AND mask as 1-bpp
    MSB-first rows on 32-bit stride.  Non-icon type or non-24bpp
    entries raise (quarantine path)."""
    import numpy as np

    if len(payload) < 6:
        raise ValueError("truncated ICO header")
    reserved, kind, count = struct.unpack("<HHH", payload[:6])
    if reserved != 0 or kind != 1:
        raise ValueError("not an ICO stream")
    if count == 0:
        # spec-valid but useless: keep the documented ValueError
        # quarantine contract instead of letting downstream frame
        # indexing surface a bare IndexError
        raise ValueError("empty ICO directory")
    out = []
    for i in range(count):
        entry = payload[6 + 16 * i : 6 + 16 * (i + 1)]
        if len(entry) < 16:
            raise ValueError("truncated ICONDIRENTRY")
        _w8, _h8, _, _, _planes, _bpp, size, offset = struct.unpack(
            "<BBBBHHII", entry
        )
        blob = payload[offset : offset + size]
        if len(blob) < 40:
            raise ValueError("truncated DIB header")
        (_, width, height2, _, bitcount, compression) = struct.unpack(
            "<IiiHHI", blob[:20]
        )
        if bitcount != 24 or compression != 0:
            raise ValueError(
                f"unsupported ICO image ({bitcount}bpp) — only 24-bit"
            )
        height = height2 // 2
        stride = (3 * width + 3) & ~3
        xor_end = 40 + stride * height
        rows = np.frombuffer(blob[40:xor_end], dtype=np.uint8).reshape(
            height, stride
        )
        bgr = np.flipud(rows[:, : 3 * width].reshape(height, width, 3))
        mask_stride = ((width + 31) // 32) * 4
        mraw = np.frombuffer(
            blob[xor_end : xor_end + mask_stride * height], dtype=np.uint8
        ).reshape(height, mask_stride)
        mbits = np.unpackbits(mraw, axis=1)[:, :width].astype(bool)
        out.append((bgr[:, :, ::-1].copy(), np.flipud(mbits).copy()))
    return out


def attach_ico_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one two-resolution :func:`synth_ico` per key —
    image 0 ``(5 + k%12) × (4 + k%9)``, image 1 ``(3 + k%5) × (3 +
    k%4)``, seeds ``(k + 17·j) % 256``."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_ico(
            [
                (5 + k % 12, 4 + k % 9, k % 256, k),
                (3 + k % 5, 3 + k % 4, (k + 17) % 256, k),
            ]
        ),
    )


ICO_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_images", IntegerType(), False),
        StructField("width0", IntegerType(), False),
        StructField("height0", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("n_transparent", LongType(), False),
    ]
)


def _ico_one(payload: bytes) -> tuple:
    import numpy as np

    frames = ico_frames(payload)
    sr = sg = sb = nt = 0
    for rgb, mask in frames:
        px = rgb.astype(np.int64)
        opaque = ~mask
        sr += int(px[:, :, 0][opaque].sum())
        sg += int(px[:, :, 1][opaque].sum())
        sb += int(px[:, :, 2][opaque].sum())
        nt += int(mask.sum())
    h0, w0 = frames[0][0].shape[:2]
    return len(frames), w0, h0, sr, sg, sb, nt


def ico_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Integer-exact channel sums over the OPAQUE pixels of every image
    in the container (the AND mask genuinely gates the sums — a decoder
    that ignores it is value-visible) plus the transparent-pixel count.
    Arrow-batched ``mapInPandas``, zero shuffles."""
    return _per_payload(
        spread(df),
        _ico_one,
        ICO_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


def synth_png_palette(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit PALETTED PNG (color type 3): 64-entry PLTE
    with a SHORTER tRNS (16 alpha entries — the spec allows tRNS to
    cover a palette prefix, remaining entries opaque), pixel INDEXES
    ``idx = (x + 2y + seed) % 64``, palette ``(3i+seed, 5i+1, 7i+2)
    % 256``, and every scanline filtered with ``(y + seed) % 5`` so the
    full §9 unfilter set runs over index bytes before any palette
    lookup."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    idx = ((x + 2 * y + seed) % 64).astype(np.int64)
    out = bytearray()
    prior = np.zeros(width, dtype=np.int64)
    for r in range(height):
        raw = idx[r]
        f = (r + seed) % 5
        left = np.concatenate(([0], raw[:-1]))
        upleft = np.concatenate(([0], prior[:-1]))
        if f == 0:
            enc = raw
        elif f == 1:
            enc = (raw - left) % 256
        elif f == 2:
            enc = (raw - prior) % 256
        elif f == 3:
            enc = (raw - (left + prior) // 2) % 256
        else:
            pa = np.array(
                [
                    _paeth(int(left[i]), int(prior[i]), int(upleft[i]))
                    for i in range(width)
                ],
                dtype=np.int64,
            )
            enc = (raw - pa) % 256
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prior = raw
    plte = bytes(
        v
        for i in range(64)
        for v in (
            (3 * i + seed) % 256,
            (5 * i + 1) % 256,
            (7 * i + 2) % 256,
        )
    )
    trns = bytes((i * 16) % 256 for i in range(16))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"tRNS", trns)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


@quarantinable("PNG")
def png_pixels_palette(payload: bytes) -> "tuple[object, object]":
    """Decode an 8-bit paletted PNG (color type 3): chunk walk for
    IHDR/PLTE/tRNS/IDAT, the full §9 unfilter set over the INDEX bytes
    (bpp = 1), then palette + transparency resolution — tRNS may cover
    only a prefix of the palette, remaining entries default to alpha
    255 (the spec rule a decoder that zips palette and tRNS naively
    breaks).  Returns ``(rgb (h, w, 3) uint8, alpha (h, w) uint8)``."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off = 8
    width = height = None
    plte = trns = b""
    idat = b""
    while off + 8 <= len(payload):
        size = struct.unpack(">I", payload[off : off + 4])[0]
        cid = payload[off + 4 : off + 8]
        data = payload[off + 8 : off + 8 + size]
        if cid == b"IHDR":
            width, height, depth, ctype = struct.unpack(
                ">IIBB", data[:10]
            )
            if depth != 8 or ctype != 3:
                raise ValueError("not an 8-bit paletted PNG")
        elif cid == b"PLTE":
            plte = data
        elif cid == b"tRNS":
            trns = data
        elif cid == b"IDAT":
            idat += data
        elif cid == b"IEND":
            break
        off += 12 + size
    if width is None or not plte:
        raise ValueError("paletted PNG without IHDR/PLTE")
    _check_dims(width, height, "PNG")
    stride = width + 1
    raw = _bounded_inflate(
        idat, declared=height * stride, fmt="PNG IDAT", wbits=15
    )
    idx = np.zeros((height, width), dtype=np.int64)
    prior = np.zeros(width, dtype=np.int64)
    for r in range(height):
        line = raw[r * stride : (r + 1) * stride]
        f = line[0]
        enc = np.frombuffer(line[1:], dtype=np.uint8).astype(np.int64)
        cur = np.zeros(width, dtype=np.int64)
        for i in range(width):
            left = cur[i - 1] if i else 0
            up = prior[i]
            upleft = prior[i - 1] if i else 0
            if f == 0:
                v = enc[i]
            elif f == 1:
                v = enc[i] + left
            elif f == 2:
                v = enc[i] + up
            elif f == 3:
                v = enc[i] + (left + up) // 2
            elif f == 4:
                v = enc[i] + _paeth(int(left), int(up), int(upleft))
            else:
                raise ValueError(f"bad filter type {f}")
            cur[i] = v % 256
        idx[r] = cur
        prior = cur
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    n_pal = pal.shape[0]
    if idx.max() >= n_pal:
        raise ValueError("palette index out of range")
    alpha_tab = np.full(n_pal, 255, dtype=np.uint8)
    at = np.frombuffer(trns, dtype=np.uint8)
    alpha_tab[: len(at)] = at
    return pal[idx], alpha_tab[idx]


PALETTE_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_palette", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("n_transparent", LongType(), False),
        StructField("wsum_idx", LongType(), False),
    ]
)


def attach_palette_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_png_palette` per key
    (``w = 8 + (5k) % 17``, ``h = 8 + (11k) % 19`` — ≥5 rows, every
    filter type occurs)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_png_palette(
            8 + (5 * k) % 17,
            8 + (11 * k) % 19,
            k,
        ),
    )


def _palette_one(payload: bytes) -> tuple:
    import numpy as np

    rgb, alpha = png_pixels_palette(payload)
    h, w = alpha.shape
    px = rgb.astype(np.int64)
    # index checksum: g = (5·idx + 1) % 256 is injective on 0..63
    # (gcd(5, 256) = 1), so the index is recovered by lookup
    inv = {(5 * i + 1) % 256: i for i in range(64)}
    idxs = np.vectorize(inv.__getitem__)(px[:, :, 1])
    return (
        w,
        h,
        64,
        int(px[:, :, 0].sum()),
        int(px[:, :, 1].sum()),
        int(px[:, :, 2].sum()),
        int((alpha.astype(np.int64) < 255).sum()),
        int((idxs * _xy_weight(h, w)).sum()),
    )


def palette_pixel_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Stats over REAL paletted-PNG decode: per-channel sums AFTER
    palette resolution, the transparent-pixel count from the
    prefix-tRNS rule, and a position-weighted INDEX checksum (catches
    unfilter mistakes before the palette hides them).  Arrow-batched
    ``mapInPandas``, zero shuffles."""
    return _per_payload(
        spread(df),
        _palette_one,
        PALETTE_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# WebP lossless (VP8L) — RFC 9649 bitstream, from scratch
# ---------------------------------------------------------------------------
#
# Coverage implemented (the lossless-web-image format beside PNG):
# RIFF/WEBP/VP8L container, LSB-first bit I/O, canonical prefix codes in
# both the "simple" (1-2 symbol) and full code-length-coded forms
# (including the 17/18 zero-run repeats), the 5-code group
# (green+length+cache / red / blue / alpha / distance), LZ77 backward
# references with the shared length/distance prefix scheme, and the
# multiplicative-hash color cache.  Not implemented (quarantine
# ValueError): transforms other than "none", meta-prefix images, and
# the 120-entry close-neighbor distance map (the encoder profile here
# always emits plain distances, code > 120) — each named in the error.

_VP8L_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)


class _BitReader:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.data[(self.pos + i) >> 3]
            v |= ((byte >> ((self.pos + i) & 7)) & 1) << i
        self.pos += n
        return v


class _BitWriter:
    """LSB-first bit writer (VP8L convention)."""

    def __init__(self):
        self.out = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        # prefix codes are transmitted MSB-first (deflate convention)
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


def _canonical_codes(lengths: "dict[int, int]") -> "dict[int, int]":
    """Deflate-style canonical code assignment: symbols sorted by
    (length, symbol); returns symbol → code."""
    codes = {}
    code = 0
    prev_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        code <<= lengths[sym] - prev_len
        prev_len = lengths[sym]
        codes[sym] = code
        code += 1
    return codes


def _huffman_lengths(freqs: "dict[int, int]", max_len: int) -> "dict[int, int]":
    """Depth-limited prefix-code lengths from frequencies (heap build +
    Kraft repair).  One symbol → length 0 (spec: a single-symbol code
    consumes no bits)."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise ValueError("empty alphabet")
    if len(syms) == 1:
        return {syms[0]: 0}
    heap = [(freqs[s], (s,)) for s in syms]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, ga = heapq.heappop(heap)
        fb, gb = heapq.heappop(heap)
        for s in ga + gb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, ga + gb))
    if max(depth.values()) > max_len:
        # Kraft repair: clamp and rebalance
        for s in depth:
            depth[s] = min(depth[s], max_len)
        over = sum(2 ** (max_len - d) for d in depth.values()) - (
            1 << max_len
        )
        for s in sorted(depth, key=lambda s: -depth[s]):
            while over > 0 and depth[s] < max_len:
                over -= 2 ** (max_len - depth[s] - 1)
                depth[s] += 1
        if over > 0:
            raise ValueError("cannot limit code lengths")
    return depth


class _PrefixDecoder:
    """Bit-at-a-time canonical prefix decoder."""

    def __init__(self, lengths: "dict[int, int]"):
        nonzero = {s: l for s, l in lengths.items() if l > 0}
        if not nonzero:
            (self.single,) = [s for s in lengths]
            self.table = None
            return
        self.single = None
        codes = _canonical_codes(nonzero)
        self.table = {
            (nonzero[s], codes[s]): s for s in nonzero
        }
        self.max_len = max(nonzero.values())

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixDecoder:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        if num_symbols == 2:
            s1 = br.read(8)
            return _PrefixDecoder({s0: 1, s1: 1})
        return _PrefixDecoder({s0: 0})
    num_cl = 4 + br.read(4)
    cl_lengths = {}
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_dec = _PrefixDecoder(
        {s: l for s, l in cl_lengths.items() if l > 0}
        or {0: 0}
    )
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = {}
    prev = 8
    sym = 0
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = cl_dec.decode(br)
        if cl < 16:
            if cl:
                lengths[sym] = cl
                prev = cl
            sym += 1
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym < alphabet_size:
                    lengths[sym] = prev
                    sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return _PrefixDecoder(lengths)


def _prefix_value_decode(br: _BitReader, code: int) -> int:
    """Shared LZ77 length/distance prefix scheme."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_value_encode(value: int) -> "tuple[int, int, int]":
    """value → (prefix code, extra bits payload, n extra bits)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    code = 2 * extra + ((v >> extra) & 1) + 2
    return code, value - offset - 1, extra


def _cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


@quarantinable("WebP")
def webp_lossless_decode(payload: bytes) -> "object":
    """Decode a VP8L (WebP lossless) stream to an ``(h, w, 4)`` RGBA
    uint8 array.  See the module-section note for the implemented
    coverage; unsupported features raise ``ValueError`` with the
    feature named (quarantine path)."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP RIFF container")
    if payload[12:16] != b"VP8L":
        raise ValueError("not a lossless (VP8L) WebP")
    (chunk_size,) = struct.unpack("<I", payload[16:20])
    data = payload[20 : 20 + chunk_size]
    if data[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(data[1:])
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    if br.read(1):
        raise ValueError("VP8L transforms not supported by this decoder")
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color-cache size")
    if br.read(1):
        raise ValueError("VP8L meta-prefix images not supported")
    cache_size = (1 << cache_bits) if cache_bits else 0
    green_dec = _read_prefix_code(br, 256 + 24 + cache_size)
    red_dec = _read_prefix_code(br, 256)
    blue_dec = _read_prefix_code(br, 256)
    alpha_dec = _read_prefix_code(br, 256)
    dist_dec = _read_prefix_code(br, 40)
    n = width * height
    argb = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    while pos < n:
        sym = green_dec.decode(br)
        if sym < 256:
            g = sym
            r = red_dec.decode(br)
            b = blue_dec.decode(br)
            a = alpha_dec.decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            argb[pos] = px
            if cache_size:
                cache[_cache_hash(px, cache_bits)] = px
            pos += 1
        elif sym < 280:
            length = _prefix_value_decode(br, sym - 256)
            dcode = _prefix_value_decode(br, dist_dec.decode(br))
            if dcode <= 120:
                raise ValueError(
                    "VP8L close-neighbor distance map not supported"
                )
            dist = dcode - 120
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = int(argb[pos - dist])
                argb[pos] = px
                if cache_size:
                    cache[_cache_hash(px, cache_bits)] = px
                pos += 1
        else:
            idx = sym - 280
            if idx >= cache_size:
                raise ValueError("VP8L cache index out of range")
            px = cache[idx]
            argb[pos] = px
            if cache_size:
                cache[_cache_hash(px, cache_bits)] = px
            pos += 1
    img = argb.reshape(height, width)
    out = np.zeros((height, width, 4), dtype=np.uint8)
    out[:, :, 0] = (img >> 16) & 0xFF  # R
    out[:, :, 1] = (img >> 8) & 0xFF   # G
    out[:, :, 2] = img & 0xFF          # B
    out[:, :, 3] = (img >> 24) & 0xFF  # A
    return out


def _write_code_lengths(
    bw: _BitWriter, lengths: "dict[int, int]", alphabet_size: int
) -> None:
    """Emit a full (non-simple) code: code-length-code with literal
    lengths and 17/18 zero-run repeats (no 16), no max_symbol."""
    # serialize lengths to CL symbol stream
    stream: list[tuple[int, int, int]] = []  # (cl_sym, extra, n_extra)
    sym = 0
    while sym < alphabet_size:
        l = lengths.get(sym, 0)
        if l:
            stream.append((l, 0, 0))
            sym += 1
            continue
        run = 0
        while sym + run < alphabet_size and lengths.get(sym + run, 0) == 0:
            run += 1
        left = run
        while left >= 11:
            chunk = min(left, 138)
            stream.append((18, chunk - 11, 7))
            left -= chunk
        while left >= 3:
            chunk = min(left, 10)
            stream.append((17, chunk - 3, 3))
            left -= chunk
        for _ in range(left):
            stream.append((0, 0, 0))
        sym += run
    cl_freq: dict[int, int] = {}
    for cs, _e, _n in stream:
        cl_freq[cs] = cl_freq.get(cs, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    if len(cl_lengths) == 1:
        # the CL decoder needs a real (≥1-bit) code; pad with a dummy
        (only,) = cl_lengths
        dummy = 0 if only != 0 else 1
        cl_lengths = {only: 1, dummy: 1}
    cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # num_code_lengths = 19 (write all, in order)
    for i in range(19):
        bw.write(cl_lengths.get(_VP8L_CL_ORDER[i], 0), 3)
    bw.write(0, 1)  # no max_symbol
    for cs, extra, n_extra in stream:
        bw.write_code(cl_codes[cs], cl_lengths[cs])
        if n_extra:
            bw.write(extra, n_extra)


def _write_prefix_code(
    bw: _BitWriter, lengths: "dict[int, int]", alphabet_size: int
) -> None:
    # simple codes transmit symbols in at most 8 bits — usable only
    # when every symbol is < 256 (the green alphabet's length/cache
    # symbols are not)
    if len(lengths) <= 2 and all(s < 256 for s in lengths):
        return _write_simple_code(bw, lengths)
    _write_code_lengths(bw, lengths, alphabet_size)


def _write_simple_code(bw: _BitWriter, lengths: "dict[int, int]") -> None:
    if len(lengths) == 1:
        s0 = next(iter(lengths))
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if s0 < 2:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        return
    s0, s1 = sorted(lengths)
    bw.write(1, 1)  # simple
    bw.write(1, 1)  # two symbols
    if s0 < 2:
        bw.write(0, 1)
        bw.write(s0, 1)
    else:
        bw.write(1, 1)
        bw.write(s0, 8)
    bw.write(s1, 8)


def webp_lossless_encode(rgba: "object", *, cache_bits: int = 4) -> bytes:
    """Encode an ``(h, w, 4)`` RGBA uint8 array as a spec-valid VP8L
    stream: canonical prefix codes built from the image's own symbol
    frequencies (code-length-coded with 17/18 zero runs; constant
    channels collapse to simple codes), greedy distance-1 LZ77 for
    horizontal runs (plain distances, code > 120), and the
    multiplicative-hash color cache.  The decoder twin consumes every
    one of those features, so round-trip tests execute the full
    bitstream grammar."""
    import numpy as np

    rgba = np.asarray(rgba, dtype=np.uint8)
    h, w = rgba.shape[:2]
    argb = (
        (rgba[:, :, 3].astype(np.uint32) << 24)
        | (rgba[:, :, 0].astype(np.uint32) << 16)
        | (rgba[:, :, 1].astype(np.uint32) << 8)
        | rgba[:, :, 2].astype(np.uint32)
    ).reshape(-1)
    n = len(argb)
    cache_size = 1 << cache_bits
    # pass 1: tokenize (greedy dist-1 runs, then cache, then literal)
    tokens: list[tuple] = []
    cache = [0] * cache_size
    pos = 0
    while pos < n:
        if pos > 0 and argb[pos] == argb[pos - 1]:
            run = 1
            while (
                pos + run < n
                and run < 4096
                and argb[pos + run] == argb[pos + run - 1]
            ):
                run += 1
            if run >= 4:
                for i in range(run):
                    px = int(argb[pos + i])
                    cache[_cache_hash(px, cache_bits)] = px
                tokens.append(("copy", run, 1))
                pos += run
                continue
        px = int(argb[pos])
        slot = _cache_hash(px, cache_bits)
        if cache[slot] == px and pos > 0:
            tokens.append(("cache", slot))
        else:
            tokens.append(("lit", px))
        cache[slot] = px
        pos += 1
    # pass 2: frequencies
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for tk in tokens:
        if tk[0] == "lit":
            px = tk[1]
            gf[(px >> 8) & 0xFF] = gf.get((px >> 8) & 0xFF, 0) + 1
            rf[(px >> 16) & 0xFF] = rf.get((px >> 16) & 0xFF, 0) + 1
            bf[px & 0xFF] = bf.get(px & 0xFF, 0) + 1
            af[(px >> 24) & 0xFF] = af.get((px >> 24) & 0xFF, 0) + 1
        elif tk[0] == "copy":
            lcode, _, _ = _prefix_value_encode(tk[1])
            gf[256 + lcode] = gf.get(256 + lcode, 0) + 1
            dcode, _, _ = _prefix_value_encode(tk[2] + 120)
            df[dcode] = df.get(dcode, 0) + 1
        else:
            gf[280 + tk[1]] = gf.get(280 + tk[1], 0) + 1
    for freq in (rf, bf, af, df):
        if not freq:
            freq[0] = 1
    gl = _huffman_lengths(gf, 15)
    rl = _huffman_lengths(rf, 15)
    bl = _huffman_lengths(bf, 15)
    al = _huffman_lengths(af, 15)
    dl = _huffman_lengths(df, 15)
    gc, rc, bc, ac, dc = (
        _canonical_codes({s: l for s, l in L.items() if l > 0})
        for L in (gl, rl, bl, al, dl)
    )
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta-prefix image
    _write_prefix_code(bw, gl, 256 + 24 + cache_size)
    _write_prefix_code(bw, rl, 256)
    _write_prefix_code(bw, bl, 256)
    _write_prefix_code(bw, al, 256)
    _write_prefix_code(bw, dl, 40)

    def emit(codes, lengths, sym):
        if lengths[sym] > 0:
            bw.write_code(codes[sym], lengths[sym])

    for tk in tokens:
        if tk[0] == "lit":
            px = tk[1]
            emit(gc, gl, (px >> 8) & 0xFF)
            emit(rc, rl, (px >> 16) & 0xFF)
            emit(bc, bl, px & 0xFF)
            emit(ac, al, (px >> 24) & 0xFF)
        elif tk[0] == "copy":
            lcode, lextra, lnb = _prefix_value_encode(tk[1])
            emit(gc, gl, 256 + lcode)
            if lnb:
                bw.write(lextra, lnb)
            dcode, dextra, dnb = _prefix_value_encode(tk[2] + 120)
            emit(dc, dl, dcode)
            if dnb:
                bw.write(dextra, dnb)
        else:
            emit(gc, gl, 280 + tk[1])
    vp8l = b"\x2f" + bytes(bw.out)
    if len(vp8l) % 2:
        padded = vp8l + b"\x00"
    else:
        padded = vp8l
    riff = (
        b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(vp8l))
        + padded
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


WEBP_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("wsum_g", LongType(), False),
        StructField("n_opaque", LongType(), False),
    ]
)


def synth_webp_image(width: int, height: int, seed: int) -> "object":
    """Deterministic RGBA test image with 5-pixel horizontal blocks
    (so the encoder's distance-1 LZ77 path fires), repeated colors
    across rows (color-cache hits), and a constant alpha (a
    simple-code channel): ``q = x // 5``, ``R = (7q + 13y + s) % 256``,
    ``G = (5q + 3y + 2s) % 256``, ``B = (3q + 7y + s) % 256``."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    q = x // 5
    img = np.zeros((height, width, 4), dtype=np.uint8)
    img[:, :, 0] = (7 * q + 13 * y + seed) % 256
    img[:, :, 1] = (5 * q + 3 * y + 2 * seed) % 256
    img[:, :, 2] = (3 * q + 7 * y + seed) % 256
    img[:, :, 3] = 255
    return img


def attach_webp_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one VP8L-encoded :func:`synth_webp_image` per
    key (``w = 12 + (5k) % 21``, ``h = 9 + (7k) % 17``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: webp_lossless_encode(
            synth_webp_image(12 + (5 * k) % 21, 9 + (7 * k) % 17, k)
        ),
    )


def _webp_one(payload: bytes) -> tuple:
    import numpy as np

    px = webp_lossless_decode(payload).astype(np.int64)
    h, w = px.shape[:2]
    return (
        w,
        h,
        int(px[:, :, 0].sum()),
        int(px[:, :, 1].sum()),
        int(px[:, :, 2].sum()),
        int((px[:, :, 1] * _xy_weight(h, w)).sum()),
        int((px[:, :, 3] == 255).sum()),
    )


def webp_pixel_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Stats over REAL VP8L decode: per-channel sums, a position-
    weighted green checksum (any bitstream mistake — prefix tables,
    LZ77 copies, cache state — shifts it), and the opaque count.
    Arrow-batched ``mapInPandas``, zero shuffles."""
    return _per_payload(
        spread(df),
        _webp_one,
        WEBP_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# BMP RLE8 (BI_RLE8 compression) — the compressed BMP variant
# ---------------------------------------------------------------------------


def synth_bmp_rle8(width: int, height: int, seed: int) -> bytes:
    """A spec-valid 8-bit paletted BMP with BI_RLE8 compression:
    pixels ``p(x, y) = (7·(x//6) + 13y + seed) % 256`` (6-pixel runs →
    encoded runs genuinely fire), grayscale palette, bottom-up rows.
    Rows where ``y % 5 == 0`` lead with an ABSOLUTE-mode packet (the
    escape form a run-only decoder misses); every row ends with the
    0,0 end-of-line escape and the stream with 0,1 end-of-bitmap."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    px = ((7 * (x // 6) + 13 * y + seed) % 256).astype(np.uint8)
    stream = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up storage order
        vals = px[row]
        i = 0
        if row % 5 == 0 and width >= 3:
            # absolute-mode packet: 3..min(6,width) literal indexes
            n_abs = min(6, width)
            if n_abs >= 3:
                stream += bytes([0, n_abs]) + bytes(
                    int(v) for v in vals[:n_abs]
                )
                if n_abs % 2:
                    stream.append(0)  # word alignment pad
                i = n_abs
        while i < width:
            run = 1
            while (
                i + run < width
                and run < 255
                and vals[i + run] == vals[i]
            ):
                run += 1
            stream += bytes([run, int(vals[i])])
            i += run
        stream += bytes([0, 0])  # end of line
    stream += bytes([0, 1])  # end of bitmap
    palette = bytes(
        c for i in range(256) for c in (i, i, i, 0)
    )  # BGRA quads
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8, 1, len(stream), 0, 0, 256, 0,
    )
    data_off = 14 + 40 + len(palette)
    file_header = struct.pack(
        "<2sIHHI", b"BM", data_off + len(stream), 0, 0, data_off
    )
    return file_header + info + palette + bytes(stream)


@quarantinable("BMP RLE8")
def bmp_rle8_pixels(payload: bytes) -> "object":
    """Decode an 8-bit BI_RLE8 BMP to an ``(h, w)`` uint8 array of
    palette-resolved gray values: encoded runs, absolute-mode packets
    (word-aligned), end-of-line / end-of-bitmap / delta escapes, and
    the bottom-up row flip.  Undefined (skipped-over) pixels stay 0
    per the de-facto contract.  Malformed streams raise ``ValueError``
    (quarantine path)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (_, width, height, _, bitcount, compression) = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if bitcount != 8 or compression != 1:
        raise ValueError(
            f"not an 8-bit BI_RLE8 BMP ({bitcount}bpp, "
            f"compression={compression})"
        )
    pal_off = 14 + 40
    pal = np.frombuffer(
        payload[pal_off : pal_off + 256 * 4], dtype=np.uint8
    ).reshape(-1, 4)
    if (pal[:, 0] != pal[:, 1]).any() or (pal[:, 1] != pal[:, 2]).any():
        raise ValueError("only grayscale palettes supported")
    img = np.zeros((height, width), dtype=np.uint8)
    pos = data_off
    x = 0
    row = 0  # storage order: bottom-up
    n = len(payload)
    while pos + 1 < n:
        cnt, val = payload[pos], payload[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run
            if x + cnt > width or row >= height:
                raise ValueError("RLE8 run overflows the row")
            img[height - 1 - row, x : x + cnt] = pal[val, 0]
            x += cnt
        elif val == 0:  # end of line
            row += 1
            x = 0
        elif val == 1:  # end of bitmap
            return img
        elif val == 2:  # delta: skip (dx, dy)
            if pos + 2 > n:
                raise ValueError("truncated RLE8 delta")
            x += payload[pos]
            row += payload[pos + 1]
            pos += 2
        else:  # absolute mode: val literal indexes, word-aligned
            if pos + val > n or x + val > width or row >= height:
                raise ValueError("RLE8 absolute packet overflows")
            idx = np.frombuffer(
                payload[pos : pos + val], dtype=np.uint8
            )
            img[height - 1 - row, x : x + val] = pal[idx, 0]
            x += val
            pos += val + (val % 2)
    raise ValueError("RLE8 stream without end-of-bitmap")


def attach_bmp_rle_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_bmp_rle8` per key
    (``w = 8 + (5k) % 19``, ``h = 6 + (7k) % 15``)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_bmp_rle8(
            8 + (5 * k) % 19,
            6 + (7 * k) % 15,
            k,
        ),
    )


GRAY_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_px", LongType(), False),
        StructField("min_px", IntegerType(), False),
        StructField("max_px", IntegerType(), False),
        StructField("wsum_px", LongType(), False),
    ]
)


def _gray_stats(decode):
    """Factory: :func:`_gray_one` stats over a gray ``(h, w)`` decoder."""

    def op(df: DataFrame, *, payload_col="payload", key="key"):
        return _per_payload(
            spread(df),
            lambda p: _gray_one(decode(p)),
            GRAY_STATS_SCHEMA,
            key=key,
            payload_col=payload_col,
        )

    return op


bmp_rle_stats = _gray_stats(bmp_rle8_pixels)
gif_interlaced_stats = _gray_stats(gif_pixels)


# ---------------------------------------------------------------------------
# QOI ("Quite OK Image", qoiformat.org spec) — byte-oriented lossless
# codec; adds the hash-indexed color cache + delta-op family (INDEX /
# DIFF / LUMA / RUN / RGB) to the codec coverage (GIF=LZW, TGA=RLE,
# FLAC=Rice, JPEG=Huffman, WebP=prefix+LZ77)
# ---------------------------------------------------------------------------

def _qoi_hash(px: "tuple[int, int, int, int]") -> int:
    r, g, b, a = px
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def _qoi_formula_pixels(width: int, height: int, seed: int) -> "object":
    """The deterministic fixture image, designed so every payload
    exercises the full QOI op set: flat rows (y%4==0) encode as RUN
    chunks, slow rows (y%4==2, all channels stepping +1 together every
    3 px) as DIFF chunks, gradient rows (channel steps 7/11/5) as LUMA
    chunks with RGB fallbacks at the mod-256 wrap points, and a fixed
    per-image marker color repeated at every 7th gradient-row pixel
    replays the cached color through INDEX."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    r = (7 * x + 13 * y + seed) % 256
    g = (11 * x + 3 * y + 2 * seed) % 256
    b = (5 * x + 17 * y + 3 * seed) % 256
    px = np.stack([r, g, b], axis=-1).astype(np.uint8)
    ys = np.arange(height, dtype=np.int64)
    flat = ys % 4 == 0
    slow = ys % 4 == 2
    grad = ~flat & ~slow
    for c, mul, smul in ((0, 13, 1), (1, 3, 2), (2, 17, 3)):
        px[flat, :, c] = ((mul * ys[flat] + smul * seed) % 256)[:, None]
        px[slow, :, c] = (
            (x // 3 + mul * ys[slow][:, None] + smul * seed) % 256
        ).astype(np.uint8)
        marker = (smul * seed + 101) % 256
        rows = np.where(grad)[0][:, None]
        cols = np.arange(0, width, 7)[None, :]
        px[rows, cols, c] = marker
    return px


def qoi_encode(img: "object") -> bytes:
    """Reference-faithful QOI encode of an ``(h, w, 3)`` uint8 array
    (channels=3, linear colorspace): greedy RUN detection capped at 62,
    64-slot hash cache for INDEX, signed-wraparound DIFF (2-bit) and
    LUMA (6+4+4-bit) deltas, QOI_OP_RGB fallback, 7×0x00+0x01 end
    marker."""
    h, w, _ = img.shape
    out = bytearray(b"qoif" + struct.pack(">IIBB", w, h, 3, 0))
    index: list = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    flat = img.reshape(-1, 3)
    for i in range(flat.shape[0]):
        px = (int(flat[i, 0]), int(flat[i, 1]), int(flat[i, 2]), 255)
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        hidx = _qoi_hash(px)
        if index[hidx] == px:
            out.append(hidx)
        else:
            index[hidx] = px
            dr = ((px[0] - prev[0] + 128) % 256) - 128
            dg = ((px[1] - prev[1] + 128) % 256) - 128
            db = ((px[2] - prev[2] + 128) % 256) - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(
                    0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2)
                )
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out.extend((0xFE, px[0], px[1], px[2]))
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
    out.extend(b"\x00" * 7 + b"\x01")
    return bytes(out)


@quarantinable("QOI")
def qoi_pixels(payload: bytes) -> "object":
    """Decode a 3-channel QOI payload to ``(h, w, 3)`` RGB uint8 —
    the full op walk (RGB / INDEX / DIFF / LUMA / RUN) with the
    64-slot cache updated after every non-run chunk exactly as the
    published decoder does.  Bad magic, 4-channel payloads, run
    overflow, a wrong end marker, or trailing bytes raise ValueError —
    malformed media routes to quarantine upstream."""
    import numpy as np

    if payload[:4] != b"qoif":
        raise ValueError("not a QOI payload")
    w, h, channels, _cs = struct.unpack(">IIBB", payload[4:14])
    if channels != 3:
        raise ValueError("only 3-channel QOI supported")
    pos = 14
    if h * w > 62 * max(0, len(payload) - 22):
        # QOI_OP_RUN emits at most 62 px/byte; a header whose w*h the
        # stream could not possibly encode is corrupt — reject BEFORE
        # the pixel allocation (a flipped dimension byte must not ask
        # the executor for 200 GiB)
        raise ValueError("QOI dimensions exceed stream capacity")
    index: list = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    flat = np.zeros((h * w, 3), dtype=np.uint8)
    n = 0
    while n < h * w:
        if pos >= len(payload) - 8:
            raise ValueError("truncated QOI stream")
        b1 = payload[pos]
        pos += 1
        if b1 == 0xFE:  # QOI_OP_RGB
            px = (payload[pos], payload[pos + 1], payload[pos + 2], 255)
            pos += 3
        elif b1 == 0xFF:  # QOI_OP_RGBA in a 3-channel stream
            raise ValueError("RGBA op in 3-channel QOI")
        elif b1 >> 6 == 0:  # QOI_OP_INDEX
            px = index[b1]
        elif b1 >> 6 == 1:  # QOI_OP_DIFF
            px = (
                (px[0] + ((b1 >> 4) & 3) - 2) % 256,
                (px[1] + ((b1 >> 2) & 3) - 2) % 256,
                (px[2] + (b1 & 3) - 2) % 256,
                px[3],
            )
        elif b1 >> 6 == 2:  # QOI_OP_LUMA
            dg = (b1 & 0x3F) - 32
            b2 = payload[pos]
            pos += 1
            px = (
                (px[0] + dg + ((b2 >> 4) & 0xF) - 8) % 256,
                (px[1] + dg) % 256,
                (px[2] + dg + (b2 & 0xF) - 8) % 256,
                px[3],
            )
        else:  # QOI_OP_RUN
            run = (b1 & 0x3F) + 1
            if n + run > h * w:
                raise ValueError("QOI run overflows pixel count")
            flat[n : n + run] = px[:3]
            n += run
            continue
        index[_qoi_hash(px)] = px
        flat[n] = px[:3]
        n += 1
    if payload[pos:] != b"\x00" * 7 + b"\x01":
        raise ValueError("bad QOI end marker / trailing bytes")
    return flat.reshape(h, w, 3)


def synth_qoi(width: int, height: int, seed: int) -> bytes:
    """A spec-valid QOI payload of the formula image — real encode, so
    decoding requires the genuine op walk."""
    return qoi_encode(_qoi_formula_pixels(width, height, seed))


def attach_qoi_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_qoi` per key
    (``w = 8 + (5k) % 21``, ``h = 8 + (11k) % 17``)."""
    return _keyed_payload(
        df, key, lambda k: synth_qoi(8 + (5 * k) % 21, 8 + (11 * k) % 17, k)
    )


def qoi_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-channel stats over REAL QOI decode — same contract as
    :func:`tga_stats` (the position-weighted red checksum catches op
    mis-decodes, cache corruption, and run misalignment)."""
    return _per_payload(
        df,
        lambda p: _rgb_one(qoi_pixels(p)),
        RGB_STATS_SCHEMA,
        key=key,
        payload_col=payload_col,
    )


def synth_pnm(width: int, height: int, seed: int, kind: int) -> bytes:
    """A spec-valid Netpbm image with the shared pixel formulas
    (`synth_ico` channels): ``kind`` 0 → P6 binary RGB, 1 → P3 ASCII
    RGB, 2 → P5 binary grayscale (the red-channel formula).  Headers
    carry a comment line (the parser must skip ``#`` to end-of-line
    anywhere in the header whitespace) and maxval 255."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    r = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
    g = ((11 * x + 5 * y + seed) % 256).astype(np.uint8)
    b = ((3 * x + 23 * y + seed) % 256).astype(np.uint8)
    header = f"# seed {seed}\n{width} {height}\n255\n"
    if kind == 0:
        raster = np.stack([r, g, b], axis=-1).tobytes()
        return b"P6\n" + header.encode() + raster
    if kind == 1:
        vals = np.stack([r, g, b], axis=-1).reshape(-1)
        body = "\n".join(
            " ".join(str(int(v)) for v in vals[i : i + 12])
            for i in range(0, len(vals), 12)
        )
        return b"P3\n" + header.encode() + body.encode() + b"\n"
    if kind == 2:
        return b"P5\n" + header.encode() + r.tobytes()
    raise ValueError(f"unknown PNM kind {kind}")


@quarantinable("PNM")
def pnm_pixels(payload: bytes) -> "object":
    """Decode P2/P3/P5/P6 Netpbm to ``(h, w, c)`` uint8 (c = 1 for
    graymaps, 3 for pixmaps): token scanner with ``#`` comment skip,
    maxval ≤ 255 enforced, binary raster begins after EXACTLY ONE
    whitespace byte following maxval (the spec's classic trap).
    Short rasters, bad magic, or out-of-range ASCII samples raise
    ``ValueError`` — the quarantine path."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError("not a supported Netpbm image (bad magic)")
    ascii_form = magic in (b"P2", b"P3")
    channels = 3 if magic in (b"P3", b"P6") else 1
    pos = 2
    fields: list[int] = []
    n = len(payload)
    while len(fields) < 3:
        while pos < n and payload[pos] in b" \t\r\n":
            pos += 1
        if pos < n and payload[pos] == 0x23:  # '#'
            while pos < n and payload[pos] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < n and payload[pos] in b"0123456789":
            pos += 1
        if pos == start:
            raise ValueError("bad Netpbm header token")
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported maxval {maxval}")
    count = width * height * channels
    if ascii_form:
        toks = payload[pos:].split()
        if len(toks) != count:
            raise ValueError("ASCII raster sample count mismatch")
        vals = np.array([int(t) for t in toks], dtype=np.int64)
        if (vals < 0).any() or (vals > maxval).any():
            raise ValueError("ASCII sample out of range")
        flat = vals.astype(np.uint8)
    else:
        pos += 1  # exactly one whitespace byte after maxval
        raster = payload[pos : pos + count]
        if len(raster) != count or pos + count != n:
            raise ValueError("binary raster size mismatch")
        flat = np.frombuffer(raster, dtype=np.uint8)
    return flat.reshape(height, width, channels)


PNM_STATS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("channels", IntegerType(), False),
        StructField("sum_all", LongType(), False),
        StructField("wsum0", LongType(), False),
    ]
)


def attach_pnm_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_pnm` per key (``w = 9 +
    (7k) % 18``, ``h = 9 + (13k) % 20``, kind = k % 3 — every batch
    mixes binary RGB, ASCII RGB, and binary grayscale)."""
    return _keyed_payload(
        df,
        key,
        lambda k: synth_pnm(
            9 + (7 * k) % 18,
            9 + (13 * k) % 20,
            k,
            k % 3,
        ),
    )


def _pnm_one(payload: bytes) -> tuple:
    import numpy as np

    px = pnm_pixels(payload).astype(np.int64)
    h, w, c = px.shape
    return (
        w,
        h,
        c,
        int(px.sum()),
        int((px[:, :, 0] * _xy_weight(h, w)).sum()),
    )


def pnm_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-image stats over REAL Netpbm decode: dimensions, channel
    count, total sample sum, and the position-weighted channel-0
    checksum (catches raster-order, comment-skip, and ASCII-token
    mistakes)."""
    return _per_payload(
        df, _pnm_one, PNM_STATS_SCHEMA, key=key, payload_col=payload_col
    )


# ---------------------------------------------------------------------------
# Sun/NeXT .au audio (public "Au file format" header, big-endian) — reuses
# the G.711 mu-law expander
# ---------------------------------------------------------------------------

def synth_au(key: int) -> bytes:
    """A spec-valid big-endian .au container (magic ``.snd``, 28-byte
    header incl. a 4-byte annotation, encoding 1 = 8-bit G.711 mu-law)
    whose code bytes follow ``c[i] = (i·(3 + key%13) + 2·key) % 256``
    over ``n = 64 + key%200`` samples — container real, content
    formula-stated so a SQL oracle can recompute the expansion."""
    n = 64 + key % 200
    sr = (8000, 11025, 16000)[key % 3]
    codes = bytes(((i * (3 + key % 13) + 2 * key) % 256) for i in range(n))
    header = struct.pack(
        ">4sIIIII", b".snd", 28, n, 1, sr, 1
    ) + b"eng\x00"
    return header + codes


def attach_au_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_au)


@quarantinable("AU")
def _au_one(payload: bytes) -> tuple[int, int, int, int, int]:
    import numpy as np

    if len(payload) < 24 or payload[:4] != b".snd":
        raise ValueError("not an .au file (bad magic)")
    off, dsize, enc, sr, ch = struct.unpack_from(">IIIII", payload, 4)
    if enc != 1:
        raise ValueError(f"unsupported .au encoding {enc}")
    if ch != 1:
        raise ValueError("only mono .au supported")
    data = payload[off : off + dsize]
    if len(data) != dsize:
        raise ValueError("truncated .au data")
    codes = np.frombuffer(data, dtype=np.uint8)
    s = ulaw_expand(codes.astype(np.int64))
    return (
        sr,
        int(codes.size),
        int(s.sum()),
        int(np.abs(s).sum()),
        int(np.abs(s).max()) if s.size else 0,
    )


def au_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Parse the .au header (magic, data offset — honored, not assumed —
    data size, encoding, rate, channels), expand the mu-law payload via
    :func:`ulaw_expand`, and emit exact-integer per-stream stats.  A
    bad magic, unsupported encoding, or size mismatch raises — the
    quarantine path, as for every other container here.  Arrow-batched,
    zero shuffles."""
    return _per_payload(
        df,
        _au_one,
        (
            "key long, samplerate int, n_samples long, sum_s long, "
            "sum_abs long, max_abs long"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# ISO-BMFF / MP4 box walk (ISO/IEC 14496-12, public) — metadata only;
# codec payloads stay library-gated like MP3 audio / H.264
# ---------------------------------------------------------------------------

def _box(btype: bytes, payload: bytes, *, force_large: bool = False) -> bytes:
    if force_large:
        return struct.pack(">I4sQ", 1, btype, 16 + len(payload)) + payload
    return struct.pack(">I4s", 8 + len(payload), btype) + payload


def synth_mp4(key: int) -> bytes:
    """A spec-valid ISO-BMFF skeleton: ``ftyp`` (isom/mp42), ``moov``
    with a version-0 ``mvhd`` (timescale ``1000·(1+key%5)``, duration
    ``(key·37) % 100000``) and ``1 + key%3`` minimal ``trak``/``tkhd``
    children (track ids 1..n), a ``free`` box, and an ``mdat`` of
    ``key%50`` bytes — written with the 64-bit largesize form when
    ``key%7 == 0`` so the walker's size==1 path is exercised."""
    timescale = 1000 * (1 + key % 5)
    duration = (key * 37) % 100000
    n_trak = 1 + key % 3
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + b"\x00" * 80,  # rate..pre_defined..next_track_ID region
    )
    traks = b""
    for tid in range(1, n_trak + 1):
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">IIII", 0, 0, tid, 0)
            + b"\x00" * 60,
        )
        traks += _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + traks)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    mdat = _box(
        b"mdat",
        bytes((key + j) % 256 for j in range(key % 50)),
        force_large=(key % 7 == 0),
    )
    return ftyp + moov + _box(b"free", b"") + mdat


def attach_mp4_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_mp4)


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield ``(type, payload_start, payload_end)`` for each box in
    ``buf[start:end]`` — honoring 64-bit largesize (size == 1) and
    to-end-of-file (size == 0) forms."""
    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack_from(">I", buf, off)
        btype = buf[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", buf, off + 8)
            body = off + 16
        elif size == 0:
            size = end - off
        if off + size > end or size < body - off:
            raise ValueError(f"box {btype!r} overruns container")
        yield btype, body, off + size
        off += size
    if off != end:
        raise ValueError("trailing bytes after last box")


@quarantinable("MP4")
def _mp4_one(payload: bytes):
    brand = ""
    n_top = 0
    timescale = duration = 0
    n_tracks = 0
    tid_sum = 0
    mdat_bytes = 0
    for btype, b0, b1 in _walk_boxes(payload, 0, len(payload)):
        n_top += 1
        if btype == b"ftyp":
            brand = payload[b0 : b0 + 4].decode("ascii")
        elif btype == b"mdat":
            mdat_bytes = b1 - b0
        elif btype == b"moov":
            for ctype, c0, c1 in _walk_boxes(payload, b0, b1):
                if ctype == b"mvhd":
                    ver = payload[c0]
                    if ver == 1:
                        timescale, duration = struct.unpack_from(
                            ">IQ", payload, c0 + 4 + 16
                        )
                    else:
                        _, _, timescale, duration = struct.unpack_from(
                            ">IIII", payload, c0 + 4
                        )
                elif ctype == b"trak":
                    n_tracks += 1
                    for ttype, t0, _t1 in _walk_boxes(
                        payload, c0, c1
                    ):
                        if ttype == b"tkhd":
                            tid = struct.unpack_from(
                                ">I", payload, t0 + 4 + 8
                            )[0]
                            tid_sum += tid
    return brand, n_top, timescale, duration, n_tracks, tid_sum, mdat_bytes


def mp4_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """ISO-BMFF metadata walk: top-level box census, ``ftyp`` major
    brand, ``moov/mvhd`` timescale+duration (version 0 and 1 forms),
    ``trak`` count and track-id sum from each ``tkhd``, and the
    ``mdat`` payload byte count.  The box walker is the real thing
    (largesize, nesting, overrun checks); only codec payload decode is
    out of scope.  Arrow-batched, zero shuffles — at 100 TB each
    container is one row-local walk over its leading/trailing KBs."""
    return _per_payload(
        df,
        _mp4_one,
        (
            "key long, major_brand string, n_top_boxes int, "
            "timescale long, duration long, n_tracks int, "
            "track_id_sum long, mdat_bytes long"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# Standard MIDI File metadata (SMF spec, public) — delta-time varints,
# meta events, multi-track ticks
# ---------------------------------------------------------------------------

def synth_midi(key: int) -> bytes:
    """A spec-valid format-1 SMF: ``1 + key%4`` tracks at division 480;
    track 0 opens with a tempo meta (``500000 − (key%100)·1000`` µs per
    quarter); track ``t`` carries ``3 + (key+t)%5`` NoteOn events at
    delta times ``(key·11 + t·7 + j·13) % 200`` (VARINT-coded — values
    ≥128 exercise the continuation bit), each closed by End-of-Track."""
    ntrks = 1 + key % 4
    out = struct.pack(">4sIHHH", b"MThd", 6, 1, ntrks, 480)
    for trk in range(ntrks):
        ev = b""
        if trk == 0:
            tempo = 500000 - (key % 100) * 1000
            ev += b"\x00\xff\x51\x03" + tempo.to_bytes(3, "big")
        m = 3 + (key + trk) % 5
        for j in range(m):
            delta = (key * 11 + trk * 7 + j * 13) % 200
            ev += _midi_varint(delta)
            ev += bytes((0x90, 60 + (key + j) % 24, 64))
        ev += b"\x00\xff\x2f\x00"
        out += struct.pack(">4sI", b"MTrk", len(ev)) + ev
    return out


def _midi_varint(v: int) -> bytes:
    """SMF variable-length quantity: big-endian 7-bit groups, high bit
    set on all but the last byte."""
    groups = [v & 0x7F]
    v >>= 7
    while v:
        groups.append(0x80 | (v & 0x7F))
        v >>= 7
    return bytes(reversed(groups))


def attach_midi_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_midi)


def _smf_varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = 0
    while True:
        b = buf[pos]
        pos += 1
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, pos


@quarantinable("MIDI")
def _midi_one(payload: bytes):
    if payload[:4] != b"MThd":
        raise ValueError("not an SMF file")
    hlen, fmt, ntrks, division = struct.unpack_from(">IHHH", payload, 4)
    pos = 8 + hlen
    tempo = 0
    note_on = 0
    max_ticks = 0
    for _ in range(ntrks):
        if payload[pos : pos + 4] != b"MTrk":
            raise ValueError("expected MTrk chunk")
        (tlen,) = struct.unpack_from(">I", payload, pos + 4)
        p, end = pos + 8, pos + 8 + tlen
        ticks = 0
        status = 0
        while p < end:
            delta, p = _smf_varint(payload, p)
            ticks += delta
            b = payload[p]
            if b & 0x80:
                status = b
                p += 1
            if status == 0xFF:
                mtype = payload[p]
                mlen, p2 = _smf_varint(payload, p + 1)
                if mtype == 0x51:
                    tempo = int.from_bytes(
                        payload[p2 : p2 + 3], "big"
                    )
                p = p2 + mlen
                if mtype == 0x2F:
                    break
            elif status in (0xF0, 0xF7):  # sysex: varint length
                slen, p = _smf_varint(payload, p)
                p += slen
            else:
                kind = status & 0xF0
                if kind == 0x90:
                    note_on += 1
                p += 1 if kind in (0xC0, 0xD0) else 2
        if p != end:
            raise ValueError("MTrk length mismatch")
        max_ticks = max(max_ticks, ticks)
        pos = end
    return fmt, ntrks, division, tempo, note_on, max_ticks


def midi_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """SMF walk: MThd (format/ntrks/division), then each MTrk event
    stream — variable-length delta times, channel messages (with their
    data-byte arity), meta events (type + varint length) — summing
    per-track ticks and counting NoteOns.  Running status is accepted
    (status byte omitted when repeated).  A length mismatch between
    the declared MTrk size and the walked events raises — quarantine
    path.  Arrow-batched, zero shuffles."""
    return _per_payload(
        df,
        _midi_one,
        (
            "key long, format int, n_tracks int, division int, "
            "tempo_us long, n_note_on long, max_track_ticks long"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# OGG container pages (RFC 3533, public) — page walk + the OGG CRC-32
# (poly 0x04c11db7, no reflection, init/xorout 0 — NOT the zlib CRC)
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """RFC 3533 §6 page checksum: CRC-32 with generator 0x04c11db7,
    unreflected, initial value 0, no final XOR — table-driven."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        tbl = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            tbl.append(r)
        _OGG_CRC_TABLE = tbl
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ b
        ]
    return crc


def synth_ogg(key: int) -> bytes:
    """A spec-valid OGG stream of ``2 + key%3`` pages (BOS on the
    first, EOS on the last, real CRCs): page ``i`` carries ``1 +
    (key+i)%3`` segments of ``(key + i·7 + j·3) % 120 + 1`` bytes each
    (lacing values < 255 → each segment ends a packet), payload bytes
    ``(key + i·31 + b) % 256``, granule ``(key·13 + i·997) % 100000``,
    serial ``key % 65536``."""
    n_pages = 2 + key % 3
    out = b""
    for i in range(n_pages):
        segs = [
            (key + i * 7 + j * 3) % 120 + 1
            for j in range(1 + (key + i) % 3)
        ]
        payload = bytes(
            (key + i * 31 + b) % 256 for b in range(sum(segs))
        )
        htype = (0x02 if i == 0 else 0) | (
            0x04 if i == n_pages - 1 else 0
        )
        header = struct.pack(
            "<4sBBqIIIB",
            b"OggS",
            0,
            htype,
            (key * 13 + i * 997) % 100000,
            key % 65536,
            i,
            0,  # crc placeholder
            len(segs),
        ) + bytes(segs)
        page = bytearray(header + payload)
        crc = _ogg_crc(bytes(page))
        page[22:26] = struct.pack("<I", crc)
        out += bytes(page)
    return out


def attach_ogg_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_ogg)


@quarantinable("OGG")
def _ogg_one(payload: bytes):
    pos = 0
    n_pages = 0
    total_payload = 0
    last_granule = 0
    serial = 0
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("lost OGG capture pattern")
        if payload[pos + 4] != 0:
            raise ValueError("unsupported OGG version")
        htype = payload[pos + 5]
        granule, ser, seq, crc, nseg = struct.unpack_from(
            "<qIIIB", payload, pos + 6
        )
        segs = payload[pos + 27 : pos + 27 + nseg]
        body_len = sum(segs)
        page_end = pos + 27 + nseg + body_len
        page = bytearray(payload[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError(f"OGG CRC mismatch on page {seq}")
        if seq != n_pages:
            raise ValueError("page sequence discontinuity")
        if (htype & 0x02) and n_pages != 0:
            raise ValueError("BOS on non-first page")
        n_pages += 1
        total_payload += body_len
        last_granule = granule
        serial = ser
        pos = page_end
    return n_pages, total_payload, last_granule, serial


def ogg_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """OGG page walk: capture pattern, version-0 check, header-type
    flags (BOS/EOS discipline enforced), lacing table, page-sequence
    continuity, and PER-PAGE CRC VERIFICATION with the real RFC 3533
    polynomial (computed over the page with the checksum field zeroed).
    Any violation raises — quarantine path.  Arrow-batched, zero
    shuffles."""
    return _per_payload(
        df,
        lambda p: (*_ogg_one(p), True),
        (
            "key long, n_pages int, payload_bytes long, "
            "last_granule long, serial long, crc_ok boolean"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# AIFF audio (the Apple/EA IFF-85 derivative, public spec) — notable for
# the sample rate stored as an 80-bit IEEE 754 EXTENDED float in COMM
# ---------------------------------------------------------------------------

def _f80_encode(rate: int) -> bytes:
    """Integer → 80-bit extended precision (big-endian: 1+15-bit
    sign/exponent word, 64-bit mantissa with EXPLICIT integer bit):
    normalize so mantissa bit 63 is set, exponent = 16382 + bit_length."""
    if rate <= 0:
        raise ValueError("rate must be positive")
    b = rate.bit_length()
    m = rate << (64 - b)
    e = 16382 + b
    return struct.pack(">HQ", e, m)


def _f80_decode_int(buf: bytes) -> int:
    """80-bit extended → exact integer (the AIFF sample-rate case —
    integral rates round-trip exactly; the explicit integer bit means
    no hidden-bit special-casing)."""
    e, m = struct.unpack(">HQ", buf)
    if e == 0 and m == 0:
        return 0
    if e & 0x8000:
        raise ValueError("negative sample rate")
    shift = e - 16383 - 63
    if shift >= 0:
        return m << shift
    if (m & ((1 << (-shift)) - 1)) != 0:
        raise ValueError("non-integral sample rate")
    return m >> (-shift)


def synth_aiff(key: int) -> bytes:
    """A spec-valid FORM/AIFF container: COMM (mono, 16-bit,
    ``50 + key%150`` frames, sample rate 8000/11025/44100 by key%3 as a
    REAL 80-bit extended float) + SSND (offset 0, block 0) with PCM16
    big-endian samples ``((key·5 + i·9) % 2001) − 1000``."""
    n = 50 + key % 150
    rate = (8000, 11025, 44100)[key % 3]
    samples = b"".join(
        struct.pack(">h", ((key * 5 + i * 9) % 2001) - 1000)
        for i in range(n)
    )
    comm = struct.pack(">hLh", 1, n, 16) + _f80_encode(rate)
    ssnd = struct.pack(">LL", 0, 0) + samples
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">L", len(comm)) + comm
        + b"SSND" + struct.pack(">L", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">L", len(body)) + body


def attach_aiff_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_aiff)


@quarantinable("AIFF")
def _aiff_one(payload: bytes):
    import numpy as np

    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not an AIFF file")
    (form_len,) = struct.unpack_from(">L", payload, 4)
    if 8 + form_len != len(payload):
        raise ValueError("FORM length mismatch")
    pos = 12
    channels = n_frames = bits = rate = None
    data = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (clen,) = struct.unpack_from(">L", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"truncated {ctype!r} chunk")
        if ctype == b"COMM":
            channels, n_frames, bits = struct.unpack_from(
                ">hLh", body, 0
            )
            rate = _f80_decode_int(body[8:18])
        elif ctype == b"SSND":
            off, _block = struct.unpack_from(">LL", body, 0)
            data = body[8 + off :]
        pos += 8 + clen + (clen & 1)  # IFF chunks pad to even
    if channels != 1 or bits != 16:
        raise ValueError("only mono PCM16 AIFF supported")
    s = np.frombuffer(data, dtype=">i2").astype(np.int64)
    if s.size != n_frames:
        raise ValueError("SSND frame count mismatch")
    return (
        int(rate),
        int(n_frames),
        int(s.sum()),
        int(np.abs(s).max()) if s.size else 0,
    )


def aiff_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """FORM/AIFF chunk walk (even-padded IFF chunks), COMM decode
    including the 80-bit extended sample rate (exact integer
    arithmetic — no float round-trip), SSND offset honored, PCM16
    big-endian expansion, exact-integer per-stream stats.  Truncated
    chunks, frame-count mismatches, and non-integral rates raise —
    quarantine path."""
    return _per_payload(
        df,
        _aiff_one,
        (
            "key long, samplerate int, n_frames long, sum_s long, "
            "max_abs long"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# EBML / Matroska metadata (RFC 8794 EBML + public Matroska element ids)
# — a third varint flavor: length encoded by LEADING-ZERO marker bits
# ---------------------------------------------------------------------------

def _ebml_vint_size(value: int) -> bytes:
    """EBML data-size VINT: the count of leading zero bits (plus the
    marker one) gives the width; the marker bit is NOT part of the
    value.  Minimal-width encoding for sizes < 2^14 here."""
    if value < 0x7F:  # 1 byte: 1xxxxxxx
        return bytes((0x80 | value,))
    if value < 0x3FFF:  # 2 bytes: 01xxxxxx xxxxxxxx
        return bytes((0x40 | (value >> 8), value & 0xFF))
    raise ValueError("size too large for this fixture writer")


def _ebml_uint(value: int) -> bytes:
    """Element payload for an unsigned integer: minimal big-endian."""
    if value == 0:
        return b"\x00"
    return value.to_bytes((value.bit_length() + 7) // 8, "big")


def _ebml_elem(eid: bytes, payload: bytes) -> bytes:
    return eid + _ebml_vint_size(len(payload)) + payload


def synth_mkv(key: int) -> bytes:
    """A spec-valid EBML/Matroska skeleton: EBML header (DocType
    'matroska'), Segment{Info{TimestampScale ``1000000·(1+key%3)``,
    Title ``seg<key>``}, Tracks{``1+key%3`` TrackEntry(TrackNumber,
    TrackType)}} — ids are the real Matroska registry values; all
    integers exact so the walk is formula-checkable."""
    n_tracks = 1 + key % 3
    header = _ebml_elem(
        b"\x1a\x45\xdf\xa3",
        _ebml_elem(b"\x42\x82", b"matroska")
        + _ebml_elem(b"\x42\x87", _ebml_uint(4)),  # DocTypeVersion
    )
    info = _ebml_elem(
        b"\x15\x49\xa9\x66",
        _ebml_elem(b"\x2a\xd7\xb1", _ebml_uint(1000000 * (1 + key % 3)))
        + _ebml_elem(b"\x7b\xa9", f"seg{key}".encode()),
    )
    tracks = _ebml_elem(
        b"\x16\x54\xae\x6b",
        b"".join(
            _ebml_elem(
                b"\xae",
                _ebml_elem(b"\xd7", _ebml_uint(t + 1))
                + _ebml_elem(b"\x83", _ebml_uint(1 if t % 2 == 0 else 2)),
            )
            for t in range(n_tracks)
        ),
    )
    segment = _ebml_elem(b"\x18\x53\x80\x67", info + tracks)
    return header + segment


def attach_mkv_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_mkv)


def _ebml_read_vint(buf: bytes, pos: int, *, keep_marker: bool):
    """Read one EBML VINT at ``pos`` → (value, new_pos).  Ids keep the
    marker bit (they are compared as raw bytes in the registry); data
    sizes strip it."""
    first = buf[pos]
    if first == 0:
        raise ValueError("invalid EBML VINT (no marker in first byte)")
    width = 1
    mask = 0x80
    while not first & mask:
        width += 1
        mask >>= 1
    v = first if keep_marker else first & (mask - 1)
    for i in range(1, width):
        v = (v << 8) | buf[pos + i]
    return v, pos + width


#: EBML master elements the walk recurses into: Segment, Info,
#: Tracks, TrackEntry (public Matroska ids)
_MKV_MASTERS = {0x18538067, 0x1549A966, 0x1654AE6B, 0xAE}


def _mkv_walk(buf: bytes, pos: int, end: int, out: dict) -> None:
    while pos < end:
        eid, pos = _ebml_read_vint(buf, pos, keep_marker=True)
        size, pos = _ebml_read_vint(buf, pos, keep_marker=False)
        if pos + size > end:
            raise ValueError(f"EBML element 0x{eid:x} overruns parent")
        if eid in _MKV_MASTERS:
            if eid == 0xAE:
                out["n_tracks"] = out.get("n_tracks", 0) + 1
            _mkv_walk(buf, pos, pos + size, out)
        elif eid == 0x4282:
            out["doctype"] = buf[pos : pos + size].decode("ascii")
        elif eid == 0x2AD7B1:
            out["timestamp_scale"] = int.from_bytes(
                buf[pos : pos + size], "big"
            )
        elif eid == 0x7BA9:
            out["title_len"] = size
        elif eid == 0xD7:
            out["track_number_sum"] = out.get(
                "track_number_sum", 0
            ) + int.from_bytes(buf[pos : pos + size], "big")
        pos += size


@quarantinable("MKV")
def _mkv_one(payload: bytes):
    out: dict = {}
    pos = 0
    # top level: EBML header then Segment
    for _ in range(2):
        eid, p = _ebml_read_vint(payload, pos, keep_marker=True)
        size, p = _ebml_read_vint(payload, p, keep_marker=False)
        if eid == 0x1A45DFA3:
            _mkv_walk(payload, p, p + size, out)
        elif eid == 0x18538067:
            _mkv_walk(payload, p, p + size, out)
        else:
            raise ValueError(f"unexpected top-level element 0x{eid:x}")
        pos = p + size
    if pos != len(payload):
        raise ValueError("trailing bytes after Segment")
    return (
        out.get("doctype", ""),
        out.get("timestamp_scale", 0),
        out.get("n_tracks", 0),
        out.get("track_number_sum", 0),
        out.get("title_len", 0),
    )


def mkv_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """EBML walk with the real VINT rules (leading-zero width markers;
    ids keep the marker, sizes strip it), recursing into the known
    master elements (Segment/Info/Tracks/TrackEntry), reading uint and
    string leaves, skipping unknown elements by their declared size —
    the forward-compatibility contract EBML exists for.  Overruns
    raise (quarantine).  Arrow-batched, zero shuffles."""
    return _per_payload(
        df,
        _mkv_one,
        (
            "key long, doctype string, timestamp_scale long, "
            "n_tracks int, track_number_sum long, title_len int"
        ),
        key=key,
        payload_col=payload_col,
    )


# ---------------------------------------------------------------------------
# SubRip (SRT) subtitle cues — timed-text sidecar parsing
# ---------------------------------------------------------------------------

#: deterministic synthesis parameters shared with the oracle formulas
_SRT_BASE_MS = 700
_SRT_SPAN_MS = 1500
_SRT_GAP_MS = 3000


def _srt_ts(ms: int) -> str:
    """``HH:MM:SS,mmm`` — the SubRip timestamp layout (comma decimal
    separator, zero-padded fields; the de-facto spec every player
    implements)."""
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{frac:03d}"


def synth_srt(key: int) -> bytes:
    """A complete SubRip file with ``2 + key % 4`` cues: 1-based index
    line, ``start --> end`` timing line, one text line, blank
    separator.  All times derive from ``key`` so the oracle can
    restate every duration closed-form."""
    n = 2 + key % 4
    blocks = []
    for i in range(n):
        start = i * _SRT_GAP_MS + (key % 7) * 250
        dur = _SRT_BASE_MS + (key * 31 + i) % _SRT_SPAN_MS
        blocks.append(
            f"{i + 1}\n{_srt_ts(start)} --> {_srt_ts(start + dur)}\n"
            f"cue {i} of doc {key}\n"
        )
    return "\n".join(blocks).encode("utf-8")


_SRT_TS_RE = None


def _srt_one(payload: bytes) -> dict:
    """Parse one SubRip file: per-cue (index, start_ms, end_ms, text).
    Raises :class:`ValueError` on anything structurally off —
    non-UTF-8, bad timestamp layout, non-numeric index, end before
    start, or indices out of order (the malformed-bytes quarantine
    contract, ``malformed.py``)."""
    import re

    global _SRT_TS_RE
    if _SRT_TS_RE is None:
        _SRT_TS_RE = re.compile(
            r"^(\d{2,}):([0-5]\d):([0-5]\d),(\d{3})"
            r" --> "
            r"(\d{2,}):([0-5]\d):([0-5]\d),(\d{3})$"
        )
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        raise ValueError(f"srt: not utf-8: {exc}") from None
    cues = []
    prev_idx = 0
    for block in text.split("\n\n"):
        lines = [ln for ln in block.split("\n") if ln != ""]
        if not lines:
            continue
        if len(lines) < 2:
            raise ValueError("srt: cue block needs index + timing")
        if not lines[0].isdigit():
            raise ValueError(f"srt: bad cue index {lines[0]!r}")
        idx = int(lines[0])
        if idx != prev_idx + 1:
            raise ValueError(f"srt: cue index {idx} out of order")
        prev_idx = idx
        m = _SRT_TS_RE.match(lines[1])
        if m is None:
            raise ValueError(f"srt: bad timing line {lines[1]!r}")
        g = [int(x) for x in m.groups()]
        start = ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
        end = ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
        if end <= start:
            raise ValueError("srt: cue ends before it starts")
        cues.append(
            {
                "index": idx,
                "start_ms": start,
                "end_ms": end,
                "text": " ".join(lines[2:]),
            }
        )
    if not cues:
        raise ValueError("srt: no cues")
    return {
        "n_cues": len(cues),
        "total_ms": sum(c["end_ms"] - c["start_ms"] for c in cues),
        "span_ms": cues[-1]["end_ms"] - cues[0]["start_ms"],
        "n_words": sum(
            len([w for w in c["text"].split(" ") if w]) for c in cues
        ),
    }


SRT_CUES_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_cues", IntegerType(), False),
        StructField("total_ms", LongType(), False),
        StructField("span_ms", LongType(), False),
        StructField("n_words", LongType(), False),
    ]
)


def attach_srt_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_srt` per key."""
    return _keyed_payload(df, key, synth_srt)


def srt_cue_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file SubRip cue statistics (cue count, speaking time, span,
    word volume) — the timed-text layer an A/V training pipeline
    aligns against audio before any sample decode.  Arrow-batched
    ``mapInPandas``, zero shuffles: subtitle bytes never leave the
    executor that scanned them."""
    return _per_payload(
        df, _srt_one, SRT_CUES_SCHEMA, key=key, payload_col=payload_col
    )


def srt_cue_rows(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-CUE SubRip rows ``(key, cue_idx, start_ms, end_ms)`` — the
    exploded form :func:`srt_cue_stats` aggregates; downstream
    alignment joins (cue ↔ keyframe) start here.  Arrow-batched
    ``mapInPandas``; malformed payloads raise the quarantine
    ValueError like every decoder."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("cue_idx", IntegerType(), False),
            StructField("start_ms", LongType(), False),
            StructField("end_ms", LongType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        ts_re = re.compile(
            r"^(\d{2,}):([0-5]\d):([0-5]\d),(\d{3})"
            r" --> "
            r"(\d{2,}):([0-5]\d):([0-5]\d),(\d{3})$"
        )
        for pdf in it:
            rows = {k: [] for k in ("key", "cue_idx", "start_ms",
                                    "end_ms")}
            for k, payload in zip(pdf[key], pdf[payload_col]):
                # reuse the strict parser for validation, then re-walk
                # the blocks for the per-cue spans
                _srt_one(bytes(payload))
                for block in bytes(payload).decode("utf-8").split(
                    "\n\n"
                ):
                    lines = [ln for ln in block.split("\n") if ln]
                    if not lines:
                        continue
                    m = ts_re.match(lines[1])
                    g = [int(x) for x in m.groups()]
                    rows["key"].append(int(k))
                    rows["cue_idx"].append(int(lines[0]) - 1)
                    rows["start_ms"].append(
                        ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
                    )
                    rows["end_ms"].append(
                        ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
                    )
            yield pd.DataFrame(
                {
                    "key": pd.Series(rows["key"], dtype="int64"),
                    "cue_idx": pd.Series(rows["cue_idx"], dtype="int32"),
                    "start_ms": pd.Series(
                        rows["start_ms"], dtype="int64"
                    ),
                    "end_ms": pd.Series(rows["end_ms"], dtype="int64"),
                }
            )

    return df.mapInPandas(batches, schema=schema)


# ---------------------------------------------------------------------------
# WebVTT subtitle cues — the W3C timed-text sibling of SubRip
# ---------------------------------------------------------------------------


def _vtt_ts(ms: int) -> str:
    """``HH:MM:SS.mmm`` — WebVTT uses a DOT millisecond separator
    (W3C WebVTT spec §timestamps), unlike SubRip's comma."""
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}.{frac:03d}"


def synth_webvtt(key: int) -> bytes:
    """A complete WebVTT file: the mandatory ``WEBVTT`` header line,
    then ``1 + key % 5`` cues (optional identifier line, timing line
    with ``-->``, one text line).  All times derive from ``key``."""
    n = 1 + key % 5
    blocks = ["WEBVTT\n"]
    for i in range(n):
        start = i * 2000 + (key % 5) * 100
        dur = 500 + (key * 17 + i) % 900
        blocks.append(
            f"c{i + 1}\n{_vtt_ts(start)} --> {_vtt_ts(start + dur)}\n"
            f"vtt cue {i} doc {key}\n"
        )
    return "\n".join(blocks).encode("utf-8")


_VTT_TS_RE = None


def _webvtt_one(payload: bytes) -> dict:
    """Parse one WebVTT file (header + cue blocks).  ValueError on a
    missing/mangled WEBVTT header, bad timing lines, or end-before-
    start — the shared quarantine contract."""
    import re

    global _VTT_TS_RE
    if _VTT_TS_RE is None:
        _VTT_TS_RE = re.compile(
            r"^(\d{2,}):([0-5]\d):([0-5]\d)\.(\d{3})"
            r" --> "
            r"(\d{2,}):([0-5]\d):([0-5]\d)\.(\d{3})$"
        )
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        raise ValueError(f"webvtt: not utf-8: {exc}") from None
    blocks = text.split("\n\n")
    header = blocks[0].split("\n")[0]
    if header.rstrip() != "WEBVTT":
        raise ValueError(f"webvtt: bad header {header!r}")
    cues = []
    for block in blocks[1:]:
        lines = [ln for ln in block.split("\n") if ln != ""]
        if not lines:
            continue
        # the identifier line is optional: the timing line is the
        # first one containing the arrow
        ti = 0 if "-->" in lines[0] else 1
        if ti >= len(lines):
            raise ValueError("webvtt: cue block without timing line")
        m = _VTT_TS_RE.match(lines[ti])
        if m is None:
            raise ValueError(f"webvtt: bad timing line {lines[ti]!r}")
        g = [int(x) for x in m.groups()]
        start = ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
        end = ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
        if end <= start:
            raise ValueError("webvtt: cue ends before it starts")
        cues.append((start, end, " ".join(lines[ti + 1:])))
    if not cues:
        raise ValueError("webvtt: no cues")
    return {
        "n_cues": len(cues),
        "total_ms": sum(e - s for s, e, _ in cues),
        "span_ms": cues[-1][1] - cues[0][0],
        "n_words": sum(
            len([w for w in txt.split(" ") if w]) for _, _, txt in cues
        ),
    }


def attach_webvtt_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: one :func:`synth_webvtt` per key."""
    return _keyed_payload(df, key, synth_webvtt)


def webvtt_cue_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file WebVTT cue statistics — same shape as
    :func:`srt_cue_stats` so the two timed-text dialects feed one
    downstream pipeline.  Arrow-batched ``mapInPandas``, zero
    shuffles."""
    return _per_payload(
        df, _webvtt_one, SRT_CUES_SCHEMA, key=key, payload_col=payload_col
    )


# --------------------------------------------------------------------------
# PCX raster decode, magic-byte sniffing, ASS subtitles,
# CUR cursor metadata, WAV cue markers
# --------------------------------------------------------------------------


def synth_pcx(key: int) -> bytes:
    """Deterministic 8-bit single-plane PCX (ZSoft PCX spec, rev 5):
    128-byte header, RLE-encoded scanlines, the 0x0C-marked VGA
    palette trailer.  pixel(x, y) = (key·31 + x·7 + y·13) % 256."""
    w = 4 + key % 5
    h = 3 + key % 4
    hdr = struct.pack(
        "<BBBBHHHHHH48sBBHHHH54s",
        10,            # manufacturer = ZSoft
        5,             # version 5 (24-bit capable, VGA palette)
        1,             # encoding = RLE
        8,             # bits per pixel per plane
        0, 0, w - 1, h - 1,   # window
        72, 72,        # dpi
        b"\x00" * 48,  # EGA palette (unused)
        0,             # reserved
        1,             # planes
        w,             # bytes per line (even not enforced here)
        1,             # palette info: color
        0, 0,          # screen size
        b"\x00" * 54,
    )
    body = bytearray()
    for y in range(h):
        row = bytes((key * 31 + x * 7 + y * 13) % 256 for x in range(w))
        # RLE encode: runs of equal bytes, count ≤ 63; a single byte
        # with top two bits set still needs a count prefix
        i = 0
        while i < len(row):
            run = 1
            while (
                i + run < len(row)
                and row[i + run] == row[i]
                and run < 63
            ):
                run += 1
            if run > 1 or row[i] >= 0xC0:
                body.append(0xC0 | run)
            body.append(row[i])
            i += run
    pal = bytes((j * 3 + c) % 256 for j in range(256) for c in range(3))
    return hdr + bytes(body) + b"\x0c" + pal


def _pcx_one(payload: bytes) -> dict:
    """Decode one PCX: header sanity, full RLE expansion, palette
    trailer check.  Malformed bytes raise ValueError (quarantine)."""
    if len(payload) < 128:
        raise ValueError("pcx: truncated header")
    (mfr, ver, enc, bpp) = struct.unpack_from("<BBBB", payload, 0)
    if mfr != 10:
        raise ValueError(f"pcx: bad manufacturer {mfr}")
    if enc != 1:
        raise ValueError(f"pcx: unsupported encoding {enc}")
    if bpp != 8:
        raise ValueError(f"pcx: unsupported bpp {bpp}")
    x0, y0, x1, y1 = struct.unpack_from("<HHHH", payload, 4)
    planes = payload[65]
    bpl = struct.unpack_from("<H", payload, 66)[0]
    if planes != 1:
        raise ValueError(f"pcx: unsupported planes {planes}")
    w, h = x1 - x0 + 1, y1 - y0 + 1
    if w <= 0 or h <= 0:
        raise ValueError("pcx: empty window")
    # palette trailer: 0x0C marker + 768 bytes at EOF (version 5)
    if len(payload) < 128 + 769 or payload[-769] != 0x0C:
        raise ValueError("pcx: missing VGA palette trailer")
    data = payload[128:-769]
    pix = bytearray()
    i = 0
    need = bpl * h
    while len(pix) < need:
        if i >= len(data):
            raise ValueError("pcx: RLE underrun")
        b = data[i]
        if b >= 0xC0:
            if i + 1 >= len(data):
                raise ValueError("pcx: dangling RLE count")
            pix.extend(data[i + 1:i + 2] * (b & 0x3F))
            i += 2
        else:
            pix.append(b)
            i += 1
    if len(pix) != need or i != len(data):
        raise ValueError("pcx: RLE overrun")
    total = 0
    for y in range(h):
        total += sum(pix[y * bpl:y * bpl + w])
    return {"width": w, "height": h, "pix_sum": total}


def attach_pcx_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_pcx)


def pcx_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file PCX raster stats (dimensions + pixel checksum) — the
    RLE raster sibling of `bmp_rle`/`tga`.  Arrow-batched, zero
    shuffles; malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("pix_sum", LongType(), False),
        ]
    )

    return _per_payload(df, _pcx_one, schema, key=key, payload_col=payload_col)


#: magic-byte table for content sniffing (public file signatures)
_MAGIC: tuple[tuple[bytes, str], ...] = (
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"RIFF", "riff"),
    (b"%PDF-", "pdf"),
    (b"PK\x03\x04", "zip"),
)


def sniff_type(payload: bytes) -> str:
    """Content-type detection from magic bytes (the file(1) /
    MIME-sniffing approach): longest-prefix match over the public
    signature table, ``text`` when every byte is printable ASCII or
    common whitespace, else ``binary``."""
    for magic, name in _MAGIC:
        if payload.startswith(magic):
            if name == "riff":
                return (
                    "wav" if payload[8:12] == b"WAVE" else "riff"
                )
            return name
    if payload and all(
        32 <= b < 127 or b in (9, 10, 13) for b in payload
    ):
        return "text"
    return "binary"


def attach_sniff_payload(df: DataFrame, key: str) -> DataFrame:
    """Fixture adapter: key % 6 selects PNG / JPEG / GIF / WAV /
    text / high-bit binary payloads — every sniffing branch fires."""
    def synth(key: int) -> bytes:
        r = key % 6
        if r == 0:
            return b"\x89PNG\r\n\x1a\n" + bytes([key % 256]) * 4
        if r == 1:
            return b"\xff\xd8\xff\xe0" + bytes([key % 256]) * 4
        if r == 2:
            return (b"GIF87a" if key % 2 == 0 else b"GIF89a") + b"\x01"
        if r == 3:
            return (
                b"RIFF" + struct.pack("<I", 4 + key % 16) + b"WAVE"
            )
        if r == 4:
            return f"plain text {key}\n".encode("ascii")
        return b"\x00\xfe" + bytes([key % 256]) * 3

    return _keyed_payload(df, key, synth)


def sniff_types(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """``(key, detected)`` rows — the routing step a mixed-media lake
    runs before choosing a decoder; downstream quarantine/decode
    pipelines branch on ``detected``."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("detected", StringType(), False),
        ]
    )

    return _per_payload(
        df,
        lambda p: (sniff_type(p),),
        schema,
        key=key,
        payload_col=payload_col,
    )


def synth_ass(key: int) -> bytes:
    """Deterministic ASS/SSA subtitle file (the SubStation Alpha v4+
    spec): [Script Info] + [Events] with a Format: line and
    ``1 + key % 5`` Dialogue cues; cue i starts at i·2000 ms and
    lasts ``500 + ((key·23 + i) % 80)·10`` ms (centisecond-aligned —
    the format's resolution); text has ``4 + i % 3`` words."""
    n = 1 + key % 5

    def ts(ms: int) -> str:
        cs = ms // 10
        s, cs = divmod(cs, 100)
        m, s = divmod(s, 60)
        h, m = divmod(m, 60)
        return f"{h}:{m:02d}:{s:02d}.{cs:02d}"

    lines = [
        "[Script Info]",
        f"Title: clip{key % 10}",
        "",
        "[Events]",
        "Format: Layer, Start, End, Style, Text",
    ]
    for i in range(n):
        start = i * 2000
        end = start + 500 + ((key * 23 + i) % 80) * 10
        words = " ".join(f"w{j}" for j in range(4 + i % 3))
        lines.append(
            f"Dialogue: 0,{ts(start)},{ts(end)},Default,{words}"
        )
    return ("\n".join(lines) + "\n").encode("utf-8")


def _ass_one(payload: bytes) -> dict:
    """Parse one ASS file's [Events] section: the Format: line names
    the field order, Dialogue: lines carry ``h:mm:ss.cc`` timestamps
    (centiseconds — the format's quirk vs SRT's milliseconds).
    Structural errors raise ValueError (quarantine)."""
    import re

    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        raise ValueError(f"ass: not utf-8: {exc}") from None
    ts_re = re.compile(r"^(\d+):([0-5]\d):([0-5]\d)\.(\d{2})$")
    fields: list[str] | None = None
    in_events = False
    cues = []
    for line in text.split("\n"):
        line = line.strip()
        if line.lower() == "[events]":
            in_events = True
            continue
        if line.startswith("[") and line.endswith("]"):
            in_events = False
            continue
        if not in_events or not line:
            continue
        if line.startswith("Format:"):
            fields = [f.strip() for f in line[7:].split(",")]
            continue
        if not line.startswith("Dialogue:"):
            continue
        if fields is None:
            raise ValueError("ass: Dialogue before Format")
        if "Start" not in fields or "End" not in fields:
            raise ValueError("ass: Format lacks Start/End fields")
        parts = line[9:].strip().split(",", len(fields) - 1)
        if len(parts) != len(fields):
            raise ValueError(f"ass: field count {len(parts)}")
        rec = dict(zip(fields, parts))
        out = []
        for name in ("Start", "End"):
            m = ts_re.match(rec[name].strip())
            if m is None:
                raise ValueError(f"ass: bad timestamp {rec[name]!r}")
            h, mi, s, cs = (int(x) for x in m.groups())
            out.append((((h * 60 + mi) * 60 + s) * 100 + cs) * 10)
        start, end = out
        if end <= start:
            raise ValueError("ass: cue ends before it starts")
        cues.append((start, end, rec.get("Text", "")))
    if not cues:
        raise ValueError("ass: no Dialogue cues")
    return {
        "n_cues": len(cues),
        "total_ms": sum(e - s for s, e, _t in cues),
        "span_ms": cues[-1][1] - cues[0][0],
        "n_words": sum(
            len([w for w in t.split(" ") if w]) for _s, _e, t in cues
        ),
    }


def attach_ass_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_ass)


def ass_cue_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file ASS/SSA cue statistics, shape-compatible with
    `srt_cue_stats`/`webvtt_cue_stats` — the third timed-text dialect
    feeding the same downstream pipeline."""
    return _per_payload(
        df, _ass_one, SRT_CUES_SCHEMA, key=key, payload_col=payload_col
    )


def synth_cur(key: int) -> bytes:
    """Deterministic Windows .CUR file (the ICONDIR/ICONDIRENTRY
    layout shared with .ICO, idType=2; the two ICO "planes/bpp"
    fields carry the HOTSPOT for cursors): one 4×4 32-bpp DIB image,
    hotspot = (key % 4, (key // 4) % 4)."""
    w = h = 4
    hx, hy = key % 4, (key // 4) % 4
    # BITMAPINFOHEADER with doubled height (XOR + AND masks)
    dib_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0, w * h * 4 + h * 4,
        0, 0, 0, 0,
    )
    xor = bytes(
        (key * 7 + px) % 256
        for px in range(w * h * 4)
    )
    and_mask = b"\x00\x00\x00\x00" * h  # 4-byte-padded rows of zeros
    img = dib_hdr + xor + and_mask
    entry = struct.pack(
        "<BBBBHHII", w, h, 0, 0, hx, hy, len(img), 6 + 16
    )
    return struct.pack("<HHH", 0, 2, 1) + entry + img


def _cur_one(payload: bytes) -> tuple:
    """Decode one CUR: header sanity, entry/DIB cross-check, hotspot,
    XOR-plane checksum.  Malformed bytes raise ValueError."""
    if len(payload) < 22:
        raise ValueError("cur: truncated header")
    rsv, typ, cnt = struct.unpack_from("<HHH", payload, 0)
    if rsv != 0 or typ != 2:
        raise ValueError(f"cur: bad header ({rsv}, {typ})")
    if cnt != 1:
        raise ValueError(f"cur: want 1 image, got {cnt}")
    w, h, _pal, _rsv, hx, hy, size, off = struct.unpack_from(
        "<BBBBHHII", payload, 6
    )
    if off + size > len(payload):
        raise ValueError("cur: image out of bounds")
    hdr = payload[off:off + 40]
    if len(hdr) < 40 or struct.unpack_from("<I", hdr)[0] != 40:
        raise ValueError("cur: bad BITMAPINFOHEADER")
    bw, bh2 = struct.unpack_from("<ii", hdr, 4)
    bpp = struct.unpack_from("<H", hdr, 14)[0]
    if bw != w or bh2 != 2 * h or bpp != 32:
        raise ValueError("cur: DIB/entry mismatch")
    xor = payload[off + 40:off + 40 + w * h * 4]
    return (w, h, hx, hy, sum(xor))


def cur_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file CUR cursor metadata (dimensions, HOTSPOT, DIB size) —
    the cursor sibling of `multimodal_ico`; hotspot lives where ICO
    stores planes/bpp, the one field that distinguishes the two
    container types.  Malformed bytes raise (quarantine)."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("hotspot_x", IntegerType(), False),
            StructField("hotspot_y", IntegerType(), False),
            StructField("xor_sum", LongType(), False),
        ]
    )

    return _per_payload(df, _cur_one, schema, key=key, payload_col=payload_col)


def attach_cur_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_cur)


def synth_wav_cues(key: int) -> bytes:
    """Deterministic WAV with a ``cue `` chunk (the RIFF cue-points
    spec): an 8-sample PCM data chunk and ``1 + key % 4`` cue points
    at sample offsets ``(key·13 + i·5) % 64``."""
    n = 1 + key % 4
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<8h", *((key + j) % 256 for j in range(8)))
    cues = b""
    for i in range(n):
        off = (key * 13 + i * 5) % 64
        cues += struct.pack(
            "<II4sIII", i + 1, off, b"data", 0, 0, off
        )
    cue_chunk = struct.pack("<I", n) + cues
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"cue " + struct.pack("<I", len(cue_chunk)) + cue_chunk
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_cues_one(payload: bytes) -> tuple:
    """Walk one WAV's RIFF chunks (word-aligned) and collect the
    ``cue `` chunk's sample offsets.  Malformed chunks raise."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not RIFF/WAVE")
    i = 12
    markers: list[int] = []
    seen_fmt = False
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        size = struct.unpack_from("<I", payload, i + 4)[0]
        body = payload[i + 8:i + 8 + size]
        if len(body) != size:
            raise ValueError(f"wav: truncated chunk {cid!r}")
        if cid == b"fmt ":
            seen_fmt = True
        elif cid == b"cue ":
            if len(body) < 4:
                raise ValueError("wav: cue chunk too small")
            cnt = struct.unpack_from("<I", body, 0)[0]
            if len(body) != 4 + cnt * 24:
                raise ValueError("wav: cue chunk size mismatch")
            for j in range(cnt):
                markers.append(
                    struct.unpack_from("<I", body, 4 + j * 24 + 20)[0]
                )
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if not seen_fmt:
        raise ValueError("wav: missing fmt chunk")
    if not markers:
        raise ValueError("wav: no cue markers")
    return (len(markers), markers[0], markers[-1], sum(markers))


def wav_cue_markers(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file WAV cue-marker stats (marker count, first/last sample
    offset, offset sum) via a real RIFF chunk walk — the DAW/editing
    metadata an audio pipeline aligns segment labels against.
    Malformed chunks raise (quarantine)."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_markers", IntegerType(), False),
            StructField("first_off", LongType(), False),
            StructField("last_off", LongType(), False),
            StructField("off_sum", LongType(), False),
        ]
    )

    return _per_payload(
        df, _wav_cues_one, schema, key=key, payload_col=payload_col
    )


def attach_wav_cue_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_wav_cues)


def synth_dds(key: int) -> bytes:
    """Deterministic DirectDraw Surface header (the public DDS file
    layout: magic ``DDS ``, a 124-byte DDS_HEADER with size/flags/
    dims/mipmaps, a 32-byte DDS_PIXELFORMAT with a FourCC): DXT1 for
    even keys, DXT5 for odd; dims 2^(2+key%4) × 2^(1+key%3);
    mipmaps 1+key%5.  A 4-byte stub payload follows (metadata walks
    never decode blocks)."""
    w = 1 << (2 + key % 4)
    h = 1 << (1 + key % 3)
    mips = 1 + key % 5
    fourcc = b"DXT1" if key % 2 == 0 else b"DXT5"
    pf = struct.pack("<II4s5I", 32, 0x4, fourcc, 0, 0, 0, 0, 0)
    header = struct.pack(
        "<7I44s", 124, 0x0002100F, h, w, max(1, w * h // 2), 0, mips,
        b"\x00" * 44,
    ) + pf + struct.pack("<5I", 0x1000, 0, 0, 0, 0)
    assert len(header) == 124
    return b"DDS " + header + bytes([key % 256] * 4)


def _dds_one(payload: bytes) -> dict:
    """Walk one DDS header; malformed bytes raise ValueError."""
    if payload[:4] != b"DDS ":
        raise ValueError("dds: bad magic")
    if len(payload) < 128:
        raise ValueError("dds: truncated header")
    hdr = payload[4:128]
    size = struct.unpack_from("<I", hdr, 0)[0]
    if size != 124:
        raise ValueError(f"dds: header size {size} != 124")
    height, width = struct.unpack_from("<II", hdr, 8)
    mips = struct.unpack_from("<I", hdr, 24)[0]
    pf_size = struct.unpack_from("<I", hdr, 72)[0]
    if pf_size != 32:
        raise ValueError(f"dds: pixelformat size {pf_size} != 32")
    fourcc = hdr[80:84]
    if fourcc not in (b"DXT1", b"DXT3", b"DXT5", b"DX10"):
        raise ValueError(f"dds: unknown FourCC {fourcc!r}")
    return {
        "width": width,
        "height": height,
        "mipmaps": mips,
        "fourcc": fourcc.decode("ascii"),
    }


def attach_dds_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_dds)


def dds_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file DDS texture metadata (dims, mip chain, compression
    FourCC) — the game-asset container walk beside the TIFF/BMFF/EBML
    family.  Malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("mipmaps", IntegerType(), False),
            StructField("fourcc", StringType(), False),
        ]
    )

    return _per_payload(df, _dds_one, schema, key=key, payload_col=payload_col)


# ---------------------------------------------------------------------------
# PNG textual metadata chunks, sfnt/TrueType table directory,
# and ID3v2 tag frames — all written to the public specs, all under the
# malformed-bytes contract.
# ---------------------------------------------------------------------------


def synth_png_text(key: int) -> bytes:
    """Minimal PNG (public spec) carrying the three TEXTUAL chunk
    kinds: two tEXt (Title/Author), one zTXt (zlib method 0), one
    iTXt (uncompressed, language tag 'en'), around a 1×1 grayscale
    IHDR/IDAT/IEND skeleton."""
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    )
    text1 = _png_chunk(b"tEXt", b"Title\x00" + f"doc {key}".encode())
    text2 = _png_chunk(b"tEXt", b"Author\x00" + f"a{key % 10}".encode())
    ztxt = _png_chunk(
        b"zTXt",
        b"Comment\x00\x00" + zlib.compress(b"c" * (5 + key % 7)),
    )
    itxt = _png_chunk(
        b"iTXt",
        b"Description\x00\x00\x00en\x00\x00"
        + (f"d{key}x" + "y" * (key % 5)).encode(),
    )
    idat = _png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
    iend = _png_chunk(b"IEND", b"")
    return sig + ihdr + text1 + text2 + ztxt + itxt + idat + iend


def _png_text_one(payload: bytes) -> dict:
    """Walk the chunk stream, CRC-verifying every chunk, and decode
    the textual chunks: tEXt (latin-1), zTXt (zlib-inflated), iTXt
    (utf-8 with language tag).  Malformed bytes raise ValueError."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("png: bad signature")
    pos = 8
    n_text = n_ztxt = n_itxt = 0
    kw_chars = 0
    text_chars = 0
    saw_end = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("png: truncated chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("png: truncated chunk body")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {tag!r}")
        if tag == b"tEXt":
            kw, _, txt = data.partition(b"\x00")
            n_text += 1
            kw_chars += len(kw)
            text_chars += len(txt.decode("latin-1"))
        elif tag == b"zTXt":
            kw, _, rest = data.partition(b"\x00")
            if not rest or rest[0] != 0:
                raise ValueError("png: zTXt bad compression method")
            try:
                txt = zlib.decompress(rest[1:])
            except zlib.error as exc:
                raise ValueError(f"png: zTXt inflate: {exc}") from None
            n_ztxt += 1
            kw_chars += len(kw)
            text_chars += len(txt.decode("latin-1"))
        elif tag == b"iTXt":
            kw, _, rest = data.partition(b"\x00")
            if len(rest) < 2:
                raise ValueError("png: iTXt truncated flags")
            comp_flag, comp_method = rest[0], rest[1]
            if comp_flag not in (0, 1):
                raise ValueError("png: iTXt bad compression flag")
            body = rest[2:]
            lang, _, body = body.partition(b"\x00")
            _tkw, _, txt = body.partition(b"\x00")
            if comp_flag == 1:
                if comp_method != 0:
                    raise ValueError("png: iTXt bad compression method")
                try:
                    txt = zlib.decompress(txt)
                except zlib.error as exc:
                    raise ValueError(
                        f"png: iTXt inflate: {exc}"
                    ) from None
            n_itxt += 1
            kw_chars += len(kw)
            text_chars += len(txt.decode("utf-8"))
        elif tag == b"IEND":
            saw_end = True
        pos += 12 + length
    if not saw_end:
        raise ValueError("png: missing IEND")
    return {
        "n_text": n_text,
        "n_ztxt": n_ztxt,
        "n_itxt": n_itxt,
        "kw_chars": kw_chars,
        "text_chars": text_chars,
    }


def attach_png_text_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_png_text)


def png_text_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-image PNG textual-metadata stats (tEXt/zTXt/iTXt counts,
    keyword and text volume) — CRC-verified chunk walk, zero data
    decode beyond the text chunks.  Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_text", IntegerType(), False),
            StructField("n_ztxt", IntegerType(), False),
            StructField("n_itxt", IntegerType(), False),
            StructField("kw_chars", LongType(), False),
            StructField("text_chars", LongType(), False),
        ]
    )

    return _per_payload(
        df, _png_text_one, schema, key=key, payload_col=payload_col
    )


def _sfnt_checksum(data: bytes) -> int:
    """sfnt table checksum: sum of big-endian uint32s over the table
    zero-padded to a 4-byte boundary (the public OpenType rule)."""
    pad = data + b"\x00" * (-len(data) % 4)
    total = 0
    for off in range(0, len(pad), 4):
        total = (total + struct.unpack_from(">I", pad, off)[0]) & (
            0xFFFFFFFF
        )
    return total


def synth_ttf(key: int) -> bytes:
    """Minimal sfnt/TrueType container (public OpenType spec): offset
    table with binary-search fields, a directory of three tables
    ('cmap' stub, 'head' with the 0x5F0F3CF5 magic and unitsPerEm =
    1000 + key%100, 'name' with 2 + key%3 records of 4-char strings),
    each directory entry carrying the spec checksum."""
    n_names = 2 + key % 3
    strings = [f"n{j}v{key % 10}".encode("utf-16-be") for j in range(n_names)]
    stor = b"".join(strings)
    recs = b""
    off = 0
    for j, s in enumerate(strings):
        # platform 3 (Windows), encoding 1, language 0x409, nameID j
        recs += struct.pack(">HHHHHH", 3, 1, 0x409, j, len(s), off)
        off += len(s)
    name_tab = struct.pack(">HHH", 0, n_names, 6 + 12 * n_names) + recs + stor
    head_tab = struct.pack(
        ">IIIIHHQQhhhhHHhhh",
        0x00010000,          # version
        0,                   # fontRevision
        0,                   # checkSumAdjustment (left 0 here)
        0x5F0F3CF5,          # magicNumber
        0,                   # flags
        1000 + key % 100,    # unitsPerEm
        0, 0,                # created, modified
        0, 0, 0, 0,          # bbox
        0, 3,                # macStyle, lowestRecPPEM
        2, 0, 0,             # direction, indexToLoc, glyphFormat
    )
    cmap_tab = struct.pack(">HH", 0, 0)
    tables = [(b"cmap", cmap_tab), (b"head", head_tab), (b"name", name_tab)]
    tables.sort(key=lambda kv: kv[0])
    n = len(tables)
    search_range = 16 * (2 ** (n.bit_length() - 1))
    entry_selector = n.bit_length() - 1
    header = struct.pack(
        ">IHHHH", 0x00010000, n, search_range, entry_selector,
        16 * n - search_range,
    )
    offset = 12 + 16 * n
    directory = b""
    blobs = b""
    for tag, data in tables:
        directory += struct.pack(
            ">4sIII", tag, _sfnt_checksum(data), offset, len(data)
        )
        padded = data + b"\x00" * (-len(data) % 4)
        blobs += padded
        offset += len(padded)
    return header + directory + blobs


def _ttf_one(payload: bytes) -> dict:
    """Walk the sfnt directory (checksum-verifying every table),
    read head.unitsPerEm + magic and the name-record count/volume."""
    if len(payload) < 12:
        raise ValueError("ttf: truncated offset table")
    ver, n, _sr, _es, _rs = struct.unpack_from(">IHHHH", payload, 0)
    if ver not in (0x00010000, 0x4F54544F):  # TrueType | 'OTTO'
        raise ValueError(f"ttf: bad sfnt version {ver:#x}")
    units = None
    name_count = 0
    name_chars = 0
    for i in range(n):
        base = 12 + 16 * i
        if base + 16 > len(payload):
            raise ValueError("ttf: truncated directory")
        tag, cks, off, length = struct.unpack_from(
            ">4sIII", payload, base
        )
        data = payload[off : off + length]
        if len(data) != length:
            raise ValueError(f"ttf: table {tag!r} out of bounds")
        if tag != b"head" and _sfnt_checksum(data) != cks:
            raise ValueError(f"ttf: checksum mismatch in {tag!r}")
        if tag == b"head":
            if length < 54:
                raise ValueError("ttf: head too short")
            magic = struct.unpack_from(">I", data, 12)[0]
            if magic != 0x5F0F3CF5:
                raise ValueError("ttf: bad head magic")
            units = struct.unpack_from(">H", data, 18)[0]
        elif tag == b"name":
            if length < 6:
                raise ValueError("ttf: name too short")
            _fmt, count, stor_off = struct.unpack_from(">HHH", data, 0)
            name_count = count
            for j in range(count):
                rb = 6 + 12 * j
                if rb + 12 > length:
                    raise ValueError("ttf: truncated name record")
                plat, _enc, _lang, _nid, slen, soff = struct.unpack_from(
                    ">HHHHHH", data, rb
                )
                s = data[stor_off + soff : stor_off + soff + slen]
                if len(s) != slen:
                    raise ValueError("ttf: name string out of bounds")
                # platform 3 strings are UTF-16BE (public spec)
                name_chars += (
                    len(s.decode("utf-16-be"))
                    if plat == 3
                    else len(s.decode("latin-1"))
                )
    if units is None:
        raise ValueError("ttf: missing head table")
    return {
        "n_tables": n,
        "units_per_em": units,
        "name_count": name_count,
        "name_chars": name_chars,
    }


def attach_ttf_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_ttf)


def ttf_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-font sfnt directory metadata (table count, head units,
    name-record volume) — checksum-verified directory walk, no glyph
    decode.  Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_tables", IntegerType(), False),
            StructField("units_per_em", IntegerType(), False),
            StructField("name_count", IntegerType(), False),
            StructField("name_chars", LongType(), False),
        ]
    )

    return _per_payload(df, _ttf_one, schema, key=key, payload_col=payload_col)


def _syncsafe(n: int) -> bytes:
    """ID3v2 syncsafe 28-bit size: 4 bytes of 7 bits each."""
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _unsyncsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError("id3: non-syncsafe size byte")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def synth_id3(key: int) -> bytes:
    """ID3v2.3 tag (public informal standard): header with syncsafe
    size, three text frames (TIT2/TPE1/TALB, encoding 0 = latin-1)
    and one COMM frame (language 'eng'), followed by 4 + key%5 bytes
    of zero padding."""
    def frame(fid: bytes, body: bytes) -> bytes:
        return fid + struct.pack(">I", len(body)) + b"\x00\x00" + body

    frames = (
        frame(b"TIT2", b"\x00" + f"track {key % 100}".encode())
        + frame(b"TPE1", b"\x00" + f"artist {key % 10}".encode())
        + frame(b"TALB", b"\x00" + f"album {key % 7}".encode())
        + frame(
            b"COMM",
            b"\x00eng" + b"note\x00" + f"c{key % 3}".encode(),
        )
    )
    padding = b"\x00" * (4 + key % 5)
    body = frames + padding
    return b"ID3\x03\x00\x00" + _syncsafe(len(body)) + body


def _id3_one(payload: bytes) -> dict:
    """Walk the v2.3 frame stream inside the syncsafe-sized tag;
    stop at padding; malformed frames raise ValueError."""
    if len(payload) < 10:
        raise ValueError("id3: truncated header")
    if payload[:3] != b"ID3":
        raise ValueError("id3: bad magic")
    if payload[3] != 3:
        raise ValueError(f"id3: unsupported version 2.{payload[3]}")
    if payload[5] & 0x80:
        raise ValueError("id3: unsynchronisation unsupported")
    size = _unsyncsafe(payload[6:10])
    if 10 + size > len(payload):
        raise ValueError("id3: truncated tag")
    pos = 10
    end = 10 + size
    n_frames = 0
    title_chars = 0
    text_chars = 0
    has_comm = False
    while pos < end:
        if payload[pos] == 0:
            break  # padding
        if pos + 10 > end:
            raise ValueError("id3: truncated frame header")
        fid = payload[pos : pos + 4]
        (flen,) = struct.unpack_from(">I", payload, pos + 4)
        body = payload[pos + 10 : pos + 10 + flen]
        if len(body) != flen or pos + 10 + flen > end:
            raise ValueError(f"id3: truncated frame {fid!r}")
        if not all(65 <= c <= 90 or 48 <= c <= 57 for c in fid):
            raise ValueError(f"id3: bad frame id {fid!r}")
        n_frames += 1
        if fid.startswith(b"T"):
            if not body or body[0] != 0:
                raise ValueError("id3: unsupported text encoding")
            txt = body[1:].decode("latin-1")
            text_chars += len(txt)
            if fid == b"TIT2":
                title_chars = len(txt)
        elif fid == b"COMM":
            if len(body) < 4 or body[0] != 0:
                raise ValueError("id3: malformed COMM")
            has_comm = True
            _desc, _, comment = body[4:].partition(b"\x00")
            text_chars += len(comment.decode("latin-1"))
        pos += 10 + flen
    return {
        "n_frames": n_frames,
        "title_chars": title_chars,
        "text_chars": text_chars,
        "has_comm": 1 if has_comm else 0,
    }


def attach_id3_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_id3)


def id3_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-track ID3v2.3 tag metadata (frame count, title/text volume,
    COMM presence) — syncsafe-sized frame walk, padding-terminated.
    Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("title_chars", IntegerType(), False),
            StructField("text_chars", LongType(), False),
            StructField("has_comm", IntegerType(), False),
        ]
    )

    return _per_payload(df, _id3_one, schema, key=key, payload_col=payload_col)


# ---------------------------------------------------------------------------
# GIF comment-extension walk and ANI animated-cursor
# (RIFF 'ACON') composition over the existing CUR decoder.
# ---------------------------------------------------------------------------


def synth_gif_comments(key: int) -> bytes:
    """Minimal GIF89a carrying ``1 + key % 3`` COMMENT extensions
    (0x21 0xFE) — the first one longer than 255 bytes so the
    sub-block framing is exercised — around a 1×1 image block with
    the canonical minimal LZW stream."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 1, 1, 0, 0, 0)  # LSD, no GCT
    for j in range(1 + key % 3):
        text = f"comment {j} key {key}".encode()
        if j == 0:
            text += b"x" * (250 + key % 20)
        out += b"\x21\xfe"
        for off in range(0, len(text), 255):
            chunk = text[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    # image descriptor + canonical 1-pixel LZW stream
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
    out += b"\x02\x02\x44\x01\x00"
    out += b"\x3b"
    return bytes(out)


def _gif_comments_one(payload: bytes) -> dict:
    """Walk the GIF block structure (extensions, image blocks skipped
    through their sub-block framing) collecting COMMENT extensions.
    Malformed bytes raise ValueError (quarantine)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    if len(payload) < 13:
        raise ValueError("gif: truncated screen descriptor")
    flags = payload[10]
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))
    n_comments = 0
    comment_chars = 0
    n_images = 0
    while True:
        if pos >= len(payload):
            raise ValueError("gif: missing trailer")
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("gif: truncated extension label")
            label = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("gif: truncated sub-block")
                n = payload[pos]
                pos += 1
                if n == 0:
                    break
                chunk = payload[pos : pos + n]
                if len(chunk) != n:
                    raise ValueError("gif: short sub-block")
                data += chunk
                pos += n
            if label == 0xFE:
                n_comments += 1
                comment_chars += len(data)
        elif b == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("gif: truncated image descriptor")
            iflags = payload[pos + 8]
            pos += 9
            if iflags & 0x80:  # local color table
                pos += 3 * (2 << (iflags & 0x07))
            if pos >= len(payload):
                raise ValueError("gif: truncated LZW code size")
            pos += 1  # LZW min code size
            while True:
                if pos >= len(payload):
                    raise ValueError("gif: truncated image data")
                n = payload[pos]
                pos += 1
                if n == 0:
                    break
                if pos + n > len(payload):
                    raise ValueError("gif: short image sub-block")
                pos += n
            n_images += 1
        else:
            raise ValueError(f"gif: unknown block {b:#x}")
    return {
        "n_comments": n_comments,
        "comment_chars": comment_chars,
        "n_images": n_images,
    }


def attach_gif_comments_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_gif_comments)


def gif_comment_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-image GIF comment-extension stats — the metadata walk
    beside the pixel decoders (`gif_frames`/`gif_pixels`): comment
    counts and volume through the sub-block framing.  Arrow-batched,
    zero shuffles; malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_comments", IntegerType(), False),
            StructField("comment_chars", LongType(), False),
            StructField("n_images", IntegerType(), False),
        ]
    )

    return _per_payload(
        df, _gif_comments_one, schema, key=key, payload_col=payload_col
    )


def synth_ani(key: int) -> bytes:
    """RIFF 'ACON' animated cursor (public Windows format): the
    36-byte 'anih' header (nFrames = nSteps = ``1 + key % 3``,
    iDispRate = ``5 + key % 10`` jiffies), then LIST 'fram' whose
    'icon' chunks are complete CUR files (`synth_cur(key + i)`)."""
    n = 1 + key % 3
    anih = struct.pack(
        "<IIIIIIIII", 36, n, n, 0, 0, 0, 0, 5 + key % 10, 1
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    icons = b"".join(
        chunk(b"icon", synth_cur(key + i)) for i in range(n)
    )
    fram = b"LIST" + struct.pack("<I", 4 + len(icons)) + b"fram" + icons
    body = b"ACON" + chunk(b"anih", anih) + fram
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _ani_one(payload: bytes) -> dict:
    """Walk the RIFF 'ACON' structure: anih header fields, each
    LIST-fram 'icon' chunk decoded through the CUR decoder
    (`_cur_one`).  Malformed bytes raise ValueError (quarantine)."""
    if payload[:4] != b"RIFF" or len(payload) < 12:
        raise ValueError("ani: not a RIFF file")
    (total,) = struct.unpack_from("<I", payload, 4)
    if 8 + total > len(payload):
        raise ValueError("ani: RIFF size out of bounds")
    if payload[8:12] != b"ACON":
        raise ValueError("ani: not an ACON form")
    pos = 12
    end = 8 + total
    n_frames = n_steps = disp_rate = None
    hotspot_sum = 0
    xor_sum = 0
    n_icons = 0
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        data = payload[pos + 8 : pos + 8 + size]
        if len(data) != size:
            raise ValueError(f"ani: truncated chunk {tag!r}")
        if tag == b"anih":
            if size != 36:
                raise ValueError(f"ani: anih size {size} != 36")
            cb, nf, ns = struct.unpack_from("<III", data, 0)
            if cb != 36:
                raise ValueError("ani: anih cbSize mismatch")
            (rate,) = struct.unpack_from("<I", data, 28)
            n_frames, n_steps, disp_rate = nf, ns, rate
        elif tag == b"LIST" and data[:4] == b"fram":
            ipos = 4
            while ipos + 8 <= len(data):
                itag = data[ipos : ipos + 4]
                (isize,) = struct.unpack_from("<I", data, ipos + 4)
                idata = data[ipos + 8 : ipos + 8 + isize]
                if len(idata) != isize:
                    raise ValueError("ani: truncated icon chunk")
                if itag == b"icon":
                    _w, _h, hx, hy, xsum = _cur_one(idata)
                    hotspot_sum += hx + hy
                    xor_sum += xsum
                    n_icons += 1
                ipos += 8 + isize + (isize % 2)
        pos += 8 + size + (size % 2)
    if n_frames is None:
        raise ValueError("ani: missing anih header")
    if n_icons != n_frames:
        raise ValueError(
            f"ani: anih declares {n_frames} frames, saw {n_icons} icons"
        )
    return {
        "n_frames": n_frames,
        "n_steps": n_steps,
        "disp_rate": disp_rate,
        "hotspot_sum": hotspot_sum,
        "xor_sum": xor_sum,
    }


def attach_ani_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_ani)


def ani_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file ANI animated-cursor metadata — the RIFF composition
    over the CUR decoder: frame/step counts, display rate, and the
    per-frame hotspot/XOR rollups.  Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("n_steps", IntegerType(), False),
            StructField("disp_rate", IntegerType(), False),
            StructField("hotspot_sum", LongType(), False),
            StructField("xor_sum", LongType(), False),
        ]
    )

    return _per_payload(df, _ani_one, schema, key=key, payload_col=payload_col)


def synth_ico_png(key: int) -> bytes:
    """Modern .ICO carrying ONE PNG-compressed entry beside one
    classic DIB entry (Vista+ allows whole PNG files as ICO images —
    the case a DIB-only reader mis-parses): PNG is
    ``(8 + key % 8)``×``(8 + key % 8)`` grayscale, DIB is 4×4
    32-bpp."""
    side = 8 + key % 8
    ihdr = _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", side, side, 8, 0, 0, 0, 0)
    )
    # one filter byte (0) + `side` gray bytes per row
    raw = b"".join(
        b"\x00" + bytes(
            (key * 3 + y * 7 + x) % 256 for x in range(side)
        )
        for y in range(side)
    )
    png = (
        b"\x89PNG\r\n\x1a\n" + ihdr
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    w = h = 4
    dib_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0, w * h * 4 + h * 4,
        0, 0, 0, 0,
    )
    xor = bytes((key * 5 + px) % 256 for px in range(w * h * 4))
    dib = dib_hdr + xor + b"\x00\x00\x00\x00" * h
    off1 = 6 + 16 * 2
    e1 = struct.pack(
        "<BBBBHHII", side % 256, side % 256, 0, 0, 1, 8, len(png), off1
    )
    e2 = struct.pack(
        "<BBBBHHII", w, h, 0, 0, 1, 32, len(dib), off1 + len(png)
    )
    return struct.pack("<HHH", 0, 1, 2) + e1 + e2 + png + dib


def _ico_png_one(payload: bytes) -> dict:
    """Decode a mixed PNG/DIB icon container: per entry, sniff the
    PNG signature — PNG entries get a CRC-verified IHDR read, DIB
    entries the BITMAPINFOHEADER doubled-height check.  Malformed
    bytes raise ValueError (quarantine)."""
    if len(payload) < 6:
        raise ValueError("ico: truncated header")
    rsv, typ, cnt = struct.unpack_from("<HHH", payload, 0)
    if rsv != 0 or typ != 1:
        raise ValueError(f"ico: bad header ({rsv}, {typ})")
    n_png = n_dib = 0
    png_px = 0
    dib_px = 0
    for i in range(cnt):
        base = 6 + 16 * i
        if base + 16 > len(payload):
            raise ValueError("ico: truncated directory")
        _w, _h, _pal, _rsv, _p1, _p2, size, off = struct.unpack_from(
            "<BBBBHHII", payload, base
        )
        img = payload[off : off + size]
        if len(img) != size:
            raise ValueError("ico: image out of bounds")
        if img[:8] == b"\x89PNG\r\n\x1a\n":
            if len(img) < 33 or img[12:16] != b"IHDR":
                raise ValueError("ico: malformed embedded PNG")
            (length,) = struct.unpack_from(">I", img, 8)
            if 16 + length + 4 > len(img):
                raise ValueError("ico: embedded PNG IHDR out of bounds")
            data = img[16 : 16 + length]
            (crc,) = struct.unpack_from(">I", img, 16 + length)
            if zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF != crc:
                raise ValueError("ico: embedded PNG IHDR CRC mismatch")
            pw, ph = struct.unpack_from(">II", data, 0)
            n_png += 1
            png_px += pw * ph
        else:
            if len(img) < 40 or struct.unpack_from("<I", img)[0] != 40:
                raise ValueError("ico: bad DIB header")
            bw, bh2 = struct.unpack_from("<ii", img, 4)
            if bh2 % 2 != 0:
                raise ValueError("ico: DIB height not doubled")
            n_dib += 1
            dib_px += bw * (bh2 // 2)
    return {
        "n_entries": cnt,
        "n_png": n_png,
        "n_dib": n_dib,
        "png_pixels": png_px,
        "dib_pixels": dib_px,
    }


def attach_ico_png_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_ico_png)


def ico_png_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file mixed PNG/DIB icon metadata — the modern-ICO case
    (PNG entries sniffed by signature, CRC-verified; DIB entries by
    the classic doubled-height header).  Arrow-batched, zero
    shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_entries", IntegerType(), False),
            StructField("n_png", IntegerType(), False),
            StructField("n_dib", IntegerType(), False),
            StructField("png_pixels", LongType(), False),
            StructField("dib_pixels", LongType(), False),
        ]
    )

    return _per_payload(
        df, _ico_png_one, schema, key=key, payload_col=payload_col
    )


def synth_wav_info(key: int) -> bytes:
    """WAV with a LIST/INFO metadata chunk (the RIFF tagging scheme:
    INAM title, IART artist, ICMT comment — NUL-terminated,
    word-aligned), around a minimal fmt + data skeleton."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = bytes((key + j) % 256 for j in range(8))
    def tagval(s: str) -> bytes:
        return s.encode() + b"\x00"

    info = (
        b"INFO"
        + chunk(b"INAM", tagval(f"track {key % 50}"))
        + chunk(b"IART", tagval(f"artist {key % 9}"))
        + chunk(b"ICMT", tagval("c" * (3 + key % 6)))
    )
    body = (
        b"WAVE"
        + chunk(b"fmt ", fmt)
        + chunk(b"data", data)
        + chunk(b"LIST", info)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_info_one(payload: bytes) -> dict:
    """Walk RIFF → LIST/INFO sub-chunks, decoding the NUL-terminated
    tag strings.  Malformed bytes raise ValueError (quarantine)."""
    if payload[:4] != b"RIFF" or len(payload) < 12:
        raise ValueError("wav: not a RIFF file")
    (total,) = struct.unpack_from("<I", payload, 4)
    if 8 + total > len(payload):
        raise ValueError("wav: RIFF size out of bounds")
    if payload[8:12] != b"WAVE":
        raise ValueError("wav: not a WAVE form")
    pos = 12
    end = 8 + total
    n_tags = 0
    name_chars = 0
    tag_chars = 0
    saw_fmt = False
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        data = payload[pos + 8 : pos + 8 + size]
        if len(data) != size:
            raise ValueError(f"wav: truncated chunk {tag!r}")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("wav: fmt chunk too short")
            saw_fmt = True
        elif tag == b"LIST" and data[:4] == b"INFO":
            ipos = 4
            while ipos + 8 <= len(data):
                itag = data[ipos : ipos + 4]
                (isize,) = struct.unpack_from("<I", data, ipos + 4)
                idata = data[ipos + 8 : ipos + 8 + isize]
                if len(idata) != isize:
                    raise ValueError("wav: truncated INFO tag")
                if not idata.endswith(b"\x00"):
                    raise ValueError(
                        f"wav: INFO tag {itag!r} not NUL-terminated"
                    )
                text = idata[:-1].decode("latin-1")
                n_tags += 1
                tag_chars += len(text)
                if itag == b"INAM":
                    name_chars = len(text)
                ipos += 8 + isize + (isize % 2)
        pos += 8 + size + (size % 2)
    if not saw_fmt:
        raise ValueError("wav: missing fmt chunk")
    return {
        "n_tags": n_tags,
        "name_chars": name_chars,
        "tag_chars": tag_chars,
    }


def attach_wav_info_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_wav_info)


def wav_info_tags(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file RIFF LIST/INFO tag metadata (the WAV tagging scheme
    beside the cue/label markers of `wav_cue_markers`).  Arrow-
    batched, zero shuffles; malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_tags", IntegerType(), False),
            StructField("name_chars", IntegerType(), False),
            StructField("tag_chars", LongType(), False),
        ]
    )

    return _per_payload(
        df, _wav_info_one, schema, key=key, payload_col=payload_col
    )


def synth_apng(key: int) -> bytes:
    """Animated PNG (the public APNG spec): acTL declaring
    ``1 + key % 3`` frames / ``key % 4`` plays, per-frame fcTL with
    delay ``(2+j)/100`` s, the first frame's image in IDAT and later
    frames in fdAT — all sharing ONE monotone sequence counter, the
    invariant the parser enforces."""
    n = 1 + key % 3
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    )
    out += _png_chunk(b"acTL", struct.pack(">II", n, key % 4))
    seq = 0
    pix = zlib.compress(b"\x00\x05")
    for j in range(n):
        fctl = struct.pack(
            ">IIIIIHHBB", seq, 1, 1, 0, 0, 2 + j, 100, 0, 0
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        if j == 0:
            out += _png_chunk(b"IDAT", pix)
        else:
            out += _png_chunk(
                b"fdAT", struct.pack(">I", seq) + pix
            )
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def _apng_one(payload: bytes) -> dict:
    """Walk the APNG control chunks (CRC-verified): acTL frame/play
    counts, fcTL delays, and the fcTL/fdAT shared sequence-counter
    invariant.  Malformed bytes raise ValueError (quarantine)."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("apng: bad signature")
    pos = 8
    n_frames = num_plays = None
    n_fctl = 0
    delay_sum = 0
    expect_seq = 0
    saw_end = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("apng: truncated chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError("apng: truncated chunk body")
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"apng: CRC mismatch in {tag!r}")
        if tag == b"acTL":
            if length != 8:
                raise ValueError("apng: acTL must be 8 bytes")
            n_frames, num_plays = struct.unpack_from(">II", data, 0)
        elif tag == b"fcTL":
            if length != 26:
                raise ValueError("apng: fcTL must be 26 bytes")
            seq, _w, _h, _x, _y, dnum, _dden, _disp, _blend = (
                struct.unpack_from(">IIIIIHHBB", data, 0)
            )
            if seq != expect_seq:
                raise ValueError(
                    f"apng: fcTL sequence {seq}, expected {expect_seq}"
                )
            expect_seq += 1
            n_fctl += 1
            delay_sum += dnum
        elif tag == b"fdAT":
            if length < 4:
                raise ValueError("apng: fdAT too short")
            (seq,) = struct.unpack_from(">I", data, 0)
            if seq != expect_seq:
                raise ValueError(
                    f"apng: fdAT sequence {seq}, expected {expect_seq}"
                )
            expect_seq += 1
        elif tag == b"IEND":
            saw_end = True
        pos += 12 + length
    if not saw_end:
        raise ValueError("apng: missing IEND")
    if n_frames is None:
        raise ValueError("apng: missing acTL")
    if n_fctl != n_frames:
        raise ValueError(
            f"apng: acTL declares {n_frames} frames, saw {n_fctl} fcTL"
        )
    return {
        "n_frames": n_frames,
        "num_plays": num_plays,
        "delay_num_sum": delay_sum,
    }


def attach_apng_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_apng)


def apng_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file APNG animation metadata (acTL counts, fcTL delays,
    sequence-counter verification) — the animation-control walk
    beside the PNG pixel decoders.  Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("num_plays", IntegerType(), False),
            StructField("delay_num_sum", LongType(), False),
        ]
    )

    return _per_payload(
        df, _apng_one, schema, key=key, payload_col=payload_col
    )


def synth_flac_tags(key: int) -> bytes:
    """FLAC container with a VORBIS_COMMENT metadata block (the public
    FLAC framing + Vorbis-comment spec — note the LITTLE-endian
    lengths inside a big-endian container, the classic parser trap):
    STREAMINFO, the comment block (vendor + TITLE/ARTIST/GENRE), and
    a last-flagged PADDING block."""
    streaminfo = bytes(34)

    def block(btype: int, data: bytes, last: bool = False) -> bytes:
        return bytes([btype | (0x80 if last else 0)]) + len(data).to_bytes(
            3, "big"
        ) + data

    vendor = b"tsss"
    comments = [
        f"TITLE=track {key % 50}".encode(),
        f"ARTIST=a{key % 9}".encode(),
        f"GENRE=g{key % 5}".encode(),
    ]
    vc = len(vendor).to_bytes(4, "little") + vendor
    vc += len(comments).to_bytes(4, "little")
    for c in comments:
        vc += len(c).to_bytes(4, "little") + c
    pad = bytes(4 + key % 8)
    return (
        b"fLaC"
        + block(0, streaminfo)
        + block(4, vc)
        + block(1, pad, last=True)
    )


def _flac_tags_one(payload: bytes) -> dict:
    """Walk the FLAC metadata chain: STREAMINFO required first,
    VORBIS_COMMENT little-endian framing, last-block termination.
    Malformed bytes raise ValueError (quarantine)."""
    if payload[:4] != b"fLaC":
        raise ValueError("flac: bad magic")
    pos = 4
    n_blocks = 0
    n_comments = 0
    comment_chars = 0
    has_padding = 0
    first = True
    last_seen = False
    while pos < len(payload):
        if last_seen:
            break
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated block header")
        hdr = payload[pos]
        btype = hdr & 0x7F
        last_seen = bool(hdr & 0x80)
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        data = payload[pos + 4 : pos + 4 + size]
        if len(data) != size:
            raise ValueError("flac: truncated block body")
        if first and btype != 0:
            raise ValueError("flac: first block must be STREAMINFO")
        if btype == 0 and size != 34:
            raise ValueError(f"flac: STREAMINFO size {size} != 34")
        first = False
        n_blocks += 1
        if btype == 1:
            has_padding = 1
        elif btype == 4:
            if size < 8:
                raise ValueError("flac: comment block too short")
            vlen = int.from_bytes(data[0:4], "little")
            if 4 + vlen + 4 > size:
                raise ValueError("flac: vendor length out of bounds")
            off = 4 + vlen
            cnt = int.from_bytes(data[off : off + 4], "little")
            if cnt > size:
                raise ValueError("flac: absurd comment count")
            off += 4
            for _ in range(cnt):
                if off + 4 > size:
                    raise ValueError("flac: truncated comment length")
                clen = int.from_bytes(data[off : off + 4], "little")
                off += 4
                c = data[off : off + clen]
                if len(c) != clen:
                    raise ValueError("flac: truncated comment")
                if b"=" not in c:
                    raise ValueError("flac: comment missing '='")
                n_comments += 1
                comment_chars += len(c.decode("utf-8", "strict"))
                off += clen
        pos += 4 + size
    if not last_seen:
        raise ValueError("flac: no last-flagged metadata block")
    return {
        "n_blocks": n_blocks,
        "n_comments": n_comments,
        "comment_chars": comment_chars,
        "has_padding": has_padding,
    }


def attach_flac_tags_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_flac_tags)


def flac_tag_stats(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-file FLAC VORBIS_COMMENT metadata (block/comment counts and
    volume) — the tag walk beside the rice-decode `flac_pcm`.
    Arrow-batched, zero shuffles; malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_blocks", IntegerType(), False),
            StructField("n_comments", IntegerType(), False),
            StructField("comment_chars", LongType(), False),
            StructField("has_padding", IntegerType(), False),
        ]
    )

    return _per_payload(
        df, _flac_tags_one, schema, key=key, payload_col=payload_col
    )


def synth_edid(key: int) -> bytes:
    """128-byte EDID base block (the public VESA display-identification
    structure): fixed 8-byte header, 5-bit-packed 3-letter
    manufacturer ID, product/serial, week/year, version 1.4, and the
    byte that makes the block sum to 0 mod 256."""
    l1, l2, l3 = key % 26, (key * 3) % 26, (key * 7) % 26
    mfr = ((l1 + 1) << 10) | ((l2 + 1) << 5) | (l3 + 1)
    blk = bytearray(128)
    blk[0:8] = b"\x00\xff\xff\xff\xff\xff\xff\x00"
    struct.pack_into(">H", blk, 8, mfr)          # mfr id is BE
    struct.pack_into("<H", blk, 10, key % 65536)  # product LE
    struct.pack_into("<I", blk, 12, key % 100000)  # serial LE
    blk[16] = 1 + key % 52                        # week
    blk[17] = 10 + key % 24                       # year - 1990
    blk[18], blk[19] = 1, 4                       # EDID 1.4
    blk[127] = (-sum(blk[:127])) & 0xFF
    return bytes(blk)


def _edid_one(payload: bytes) -> dict:
    """Decode one EDID base block: header + checksum verification,
    manufacturer letters from the 5-bit packing, product/week/year.
    Malformed bytes raise ValueError (quarantine)."""
    if len(payload) != 128:
        raise ValueError(f"edid: block must be 128 bytes, got {len(payload)}")
    if payload[:8] != b"\x00\xff\xff\xff\xff\xff\xff\x00":
        raise ValueError("edid: bad header")
    if sum(payload) % 256 != 0:
        raise ValueError("edid: checksum mismatch")
    (mfr,) = struct.unpack_from(">H", payload, 8)
    letters = [(mfr >> 10) & 0x1F, (mfr >> 5) & 0x1F, mfr & 0x1F]
    if any(not 1 <= x <= 26 for x in letters):
        raise ValueError("edid: manufacturer letters out of range")
    name = "".join(chr(ord("A") + x - 1) for x in letters)
    (product,) = struct.unpack_from("<H", payload, 10)
    week = payload[16]
    year = 1990 + payload[17]
    if payload[18] != 1:
        raise ValueError(f"edid: unsupported version {payload[18]}")
    return {
        "manufacturer": name,
        "product": product,
        "week": week,
        "year": year,
    }


def attach_edid_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_edid)


def edid_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-device EDID identification (manufacturer letters, product,
    manufacture week/year) — checksum-verified fixed-block decode.
    Arrow-batched, zero shuffles; malformed bytes quarantine."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("manufacturer", StringType(), False),
            StructField("product", IntegerType(), False),
            StructField("week", IntegerType(), False),
            StructField("year", IntegerType(), False),
        ]
    )

    return _per_payload(
        df, _edid_one, schema, key=key, payload_col=payload_col
    )


def synth_stl(key: int) -> bytes:
    """Binary STL (the 3D-printing/mesh interchange standard: 80-byte
    header, uint32 triangle count, 50-byte records of float32
    normal + 3 vertices + uint16 attribute): a closed tetrahedron
    with integer vertices (exact in float32), per-triangle
    attributes ``(key + i) % 100``."""
    a, b, c = 1 + key % 5, 1 + key % 3, 1 + key % 7
    v0, v1, v2, v3 = (
        (0, 0, 0), (a, 0, 0), (0, b, 0), (0, 0, c)
    )
    faces = [(v0, v2, v1), (v0, v1, v3), (v0, v3, v2), (v1, v2, v3)]
    out = bytearray(f"synth stl {key}".encode().ljust(80, b"\x00"))
    out += struct.pack("<I", len(faces))
    for i, (p, q, r) in enumerate(faces):
        out += struct.pack("<fff", 0.0, 0.0, 0.0)  # normal (recomputed)
        for v in (p, q, r):
            out += struct.pack("<fff", *[float(x) for x in v])
        out += struct.pack("<H", (key + i) % 100)
    return bytes(out)


def _stl_one(payload: bytes) -> dict:
    """Decode one binary STL: record framing against the declared
    count, enclosed volume by the divergence theorem
    (|Σ v₀·(v₁×v₂)| / 6 over facets — exact for closed meshes),
    attribute rollup.  Malformed bytes raise ValueError."""
    if len(payload) < 84:
        raise ValueError("stl: truncated header")
    if payload[:5] == b"solid" and b"facet" in payload[:200]:
        raise ValueError("stl: ASCII form not supported here")
    (n,) = struct.unpack_from("<I", payload, 80)
    need = 84 + 50 * n
    if need != len(payload):
        raise ValueError(
            f"stl: {n} triangles need {need} bytes, got {len(payload)}"
        )
    vol6 = 0.0
    attr_sum = 0
    for i in range(n):
        base = 84 + 50 * i
        vals = struct.unpack_from("<12f", payload, base)
        (attr,) = struct.unpack_from("<H", payload, base + 48)
        p = vals[3:6]
        q = vals[6:9]
        r = vals[9:12]
        cx = q[1] * r[2] - q[2] * r[1]
        cy = q[2] * r[0] - q[0] * r[2]
        cz = q[0] * r[1] - q[1] * r[0]
        vol6 += p[0] * cx + p[1] * cy + p[2] * cz
        attr_sum += attr
    return {
        "n_triangles": n,
        "volume": abs(vol6) / 6.0,
        "attr_sum": attr_sum,
    }


def attach_stl_payload(df: DataFrame, key: str) -> DataFrame:
    return _keyed_payload(df, key, synth_stl)


def stl_meta(
    df: DataFrame, *, payload_col: str = "payload", key: str = "key"
) -> DataFrame:
    """Per-mesh binary-STL stats (triangle count, enclosed volume via
    the divergence theorem, attribute rollup) — the 3D-asset sibling
    of the image/audio walks.  Arrow-batched, zero shuffles."""
    schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_triangles", IntegerType(), False),
            StructField("volume", DoubleType(), False),
            StructField("attr_sum", LongType(), False),
        ]
    )

    return _per_payload(df, _stl_one, schema, key=key, payload_col=payload_col)
