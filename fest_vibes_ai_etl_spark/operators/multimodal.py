"""Multimodal column plumbing — image/audio/video as opaque binary columns.

Media bytes travel as ``binary`` columns with a typed metadata struct; the
decode / feature-extract steps are Arrow-batched ``mapInPandas`` stages so
bytes never round-trip through Python row-at-a-time. The actual codec calls
are STUBBED (image/audio libraries are not in this container): the default
``fake`` decoder derives deterministic metadata from the bytes so the whole
Spark-side pipeline — schema, batching, partition sizing — is real and
testable; ``strict`` raises NotImplementedError at the exact seam where a
real decoder (PIL/ffmpeg) plugs in.

Scale notes: media rows are orders of magnitude wider than text rows — the
reader must keep ``spark.sql.files.maxPartitionBytes`` small enough that a
partition of blobs fits executor memory, and decode stages should run on a
repartitioned DataFrame sized so each Arrow batch holds tens, not thousands,
of blobs (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("media", BinaryType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("content_digest", StringType()),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a deterministic binary media column from text (UTF-8
    bytes) + a media_type tag — the stand-in for reading real blobs.
    The tag derives from md5 (not xxhash64) so the whole fake-decode chain
    is reproducible in ANSI SQL and the plumbing is oracle-checkable."""
    type_idx = (
        F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(3),
        )
        + 1
    ).cast("int")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")), type_idx
        ).alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("media"),
    )


def decode_media(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """mapInPandas decode stage: (doc_id, media_type, media) → typed metadata.
    ``decoder='strict'`` marks the seam where real codecs are required.

    The closure is deliberately self-contained (stdlib imports inside) so it
    pickles by value and runs on executors that don't have this package on
    their import path."""
    columns = [f.name for f in DECODED_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def fake_decode(doc_id, media_type, blob):
            # Deterministic pseudo-decode: metadata from a content digest.
            # Replace with PIL/soundfile/ffmpeg probes in a real deployment.
            digest = _hashlib.md5(blob or b"").hexdigest()
            h = int(digest[:8], 16)
            return {
                "doc_id": doc_id,
                "media_type": media_type,
                "byte_len": len(blob or b""),
                "width": 64 + h % 1024,
                "height": 64 + (h >> 10) % 1024,
                "n_frames": 1 if media_type == "image" else 1 + h % 300,
                "content_digest": digest,
            }

        for pdf in batches:
            if decoder == "strict":
                raise NotImplementedError(
                    "real media decoding requires PIL/ffmpeg — not available "
                    "in this environment; use decoder='fake'"
                )
            rows = [
                fake_decode(r.doc_id, r.media_type, r.media)
                for r in pdf.itertuples(index=False)
            ]
            yield _pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def media_byte_stats_arrow(df: DataFrame) -> DataFrame:
    """Arrow-native byte statistics over the binary media column via
    ``mapInArrow``: the RecordBatch level skips the Arrow→pandas→Arrow
    conversion entirely, which matters precisely for large binary columns —
    pandas would copy every blob into Python objects; pyarrow keeps them as
    zero-copy buffers. Emits (doc_id, n_bytes, checksum) per row, where
    checksum is a cheap rolling byte sum (stand-in for a real content hash/
    codec probe over the same zero-copy access pattern)."""
    import pyarrow as _pa

    def run(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            media = batch.column("media")
            n_bytes, checks = [], []
            for buf in media:
                b = buf.as_py()  # bytes view of the blob
                n_bytes.append(len(b))
                checks.append(sum(b[:: max(1, len(b) // 64)]) % 65536)
            yield _pa.RecordBatch.from_arrays(
                [ids, _pa.array(n_bytes, type=_pa.int64()),
                 _pa.array(checks, type=_pa.int64())],
                names=["doc_id", "n_bytes", "checksum"],
            )

    return df.select("doc_id", "media").mapInArrow(
        run, schema="doc_id long, n_bytes long, checksum long"
    )


def synth_real_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic REAL-format media bytes per row — actual parseable
    containers, not tagged text: a valid PNG (signature + IHDR + zlib IDAT
    + CRCs), a valid WAV (RIFF via the stdlib ``wave`` module), or a valid
    YUV4MPEG2 stream (the uncompressed video container ffmpeg/mplayer
    read). Dimensions/frame counts/sample rates derive from the row's md5
    so the corpus is reproducible. Everything is stdlib (zlib/struct/wave)
    — this is the honest upgrade of ``attach_fake_media``: the decode
    stage below parses these bytes for real."""
    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io
        import struct as _struct
        import wave as _wave
        import zlib as _zlib

        import pandas as _pd

        def png_bytes(w, h, seed):
            def chunk(tag, body):
                return (
                    _struct.pack(">I", len(body)) + tag + body
                    + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
                )

            ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            row = bytes((seed + i) % 256 for i in range(3 * w))
            raw = b"".join(b"\x00" + row for _ in range(h))
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        def wav_bytes(n_frames, rate):
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(b"\x00\x00" * n_frames)
            return buf.getvalue()

        def y4m_bytes(w, h, frames):
            header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1\n".encode()
            frame = b"FRAME\n" + bytes(w * h * 3 // 2)
            return header + frame * frames

        def make(doc_id, text):
            digest = _hashlib.md5(str(doc_id).encode()).hexdigest()
            h = int(digest[:8], 16)
            kind = ("image", "audio", "video")[h % 3]
            if kind == "image":
                blob = png_bytes(2 + h % 30, 2 + (h >> 8) % 30, h % 256)
            elif kind == "audio":
                blob = wav_bytes(100 + h % 500, 8000 + h % 8000)
            else:
                blob = y4m_bytes(8, 8, 1 + h % 30)
            return {"doc_id": doc_id, "media_type": kind, "media": blob}

        for pdf in batches:
            rows = [make(r[0], r[1]) for r in pdf.itertuples(index=False)]
            yield _pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema=out_schema
    )


def decode_media_headers(df: DataFrame) -> DataFrame:
    """REAL header-level decode of the media column — no external codec
    libraries, just format knowledge: PNG IHDR (width/height via struct),
    WAV via the stdlib ``wave`` reader (frame count; width/height null),
    YUV4MPEG2 header + FRAME-marker count. Returns DECODED_SCHEMA like the
    stub path; unparseable blobs yield nulls rather than failing the batch
    (quarantine-friendly). The model-grade steps (pixel features, spectral
    features) remain the documented PIL/ffmpeg seam; the CONTAINER layer is
    now genuinely decoded."""
    columns = [f.name for f in DECODED_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io
        import re as _re
        import struct as _struct
        import wave as _wave

        import pandas as _pd

        def decode(doc_id, media_type, blob):
            out = {
                "doc_id": doc_id,
                "media_type": media_type,
                "byte_len": len(blob or b""),
                "width": None,
                "height": None,
                "n_frames": None,
                "content_digest": _hashlib.md5(blob or b"").hexdigest(),
            }
            try:
                if blob[:8] == b"\x89PNG\r\n\x1a\n":
                    w, h = _struct.unpack(">II", blob[16:24])
                    out.update(width=w, height=h, n_frames=1)
                elif blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
                    with _wave.open(_io.BytesIO(bytes(blob))) as wv:
                        out.update(n_frames=wv.getnframes())
                elif blob[:9] == b"YUV4MPEG2":
                    head = bytes(blob[: blob.index(b"\n")]).decode()
                    w = int(_re.search(r" W(\d+)", head).group(1))
                    h = int(_re.search(r" H(\d+)", head).group(1))
                    out.update(
                        width=w, height=h, n_frames=blob.count(b"FRAME\n")
                    )
            except Exception:
                pass  # unparseable blob: metadata stays null, row survives
            return out

        for pdf in batches:
            rows = [
                decode(r.doc_id, r.media_type, r.media)
                for r in pdf.itertuples(index=False)
            ]
            yield _pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema=DECODED_SCHEMA)
