"""Multimodal column operators (SURVEY.md §2.J8; BASELINE.json mandate).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct — the Spark-side plumbing (schema, partitioning, Arrow batch
shape through mapInPandas) is real and tested.  The ``*_real`` family
parses genuine bytes for all three modalities via the zero-dependency
codecs in ``operators/codecs.py`` (BMP / PCM WAV / Y4M video); the
stub ``decode_media`` remains for the formats that DO need external
libraries (PNG/JPEG/MP4...), producing a deterministic fake derived
from the payload bytes, so the pipeline shape is still asserted
end-to-end.

Scale notes: payloads stay in executor memory one Arrow batch at a
time (mapInPandas is a streaming iterator — nothing accumulates);
metadata-only operations (filter by mime, size stats) never touch the
payload column thanks to parquet column pruning.  Batch size is
bounded via spark.sql.execution.arrow.maxRecordsPerBatch when payloads
are large.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

_MIMES = ["image/png", "audio/wav", "video/mp4"]


def attach_media_columns(docs: DataFrame) -> DataFrame:
    """Derive a multimodal table from documents: payload bytes + typed
    metadata struct (fixtures carry no real media — FIXTURES.md)."""
    mime = F.element_at(
        F.array(*[F.lit(m) for m in _MIMES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("mem://docs/"), F.col("doc_id")).alias("uri"),
            mime.alias("mime"),
            F.length(payload).cast("long").alias("size_bytes"),
        ).alias("media"),
    )


def decode_media(media_df: DataFrame) -> DataFrame:
    """J8 'decode' via mapInPandas (L4 surface): payload → features.

    Produces deterministic fake dimensions from the byte length so the
    Arrow batch plumbing is fully exercised; the genuine-bytes decode
    is :func:`decode_media_real`.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["media"].map(lambda m: m["mime"]),
                    "n_bytes": n_bytes,
                    "width": (16 + n_bytes % 64).astype("int32"),
                    "height": (16 + (n_bytes // 2) % 64).astype("int32"),
                }
            )

    return media_df.mapInPandas(decode, DECODED_SCHEMA)


def payload_entropy_arrow(media_df: DataFrame) -> DataFrame:
    """L4 (mapInArrow): per-item byte-entropy of the binary payload.

    Operates directly on Arrow RecordBatches — no pandas conversion at
    all, the zero-copy path for binary-heavy columns where even the
    Arrow→pandas hop costs memory bandwidth.  Same iterator contract as
    mapInPandas: constant memory per task regardless of partition size.
    """
    import math

    import pyarrow as pa

    def entropy(batches):
        for batch in batches:
            ids, ents = [], []
            id_col = batch.column("doc_id")
            payload_col = batch.column("payload")
            for i in range(batch.num_rows):
                ids.append(id_col[i].as_py())
                payload = payload_col[i].as_py() or b""
                if payload:
                    freq: dict[int, int] = {}
                    for b in payload:
                        freq[b] = freq.get(b, 0) + 1
                    n = len(payload)
                    h = -sum(
                        (c / n) * math.log2(c / n) for c in freq.values()
                    )
                else:
                    h = 0.0
                ents.append(round(h, 6))
            yield pa.record_batch(
                [pa.array(ids, pa.int64()), pa.array(ents, pa.float64())],
                names=["doc_id", "byte_entropy"],
            )

    return media_df.mapInArrow(entropy, "doc_id long, byte_entropy double")


REAL_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("first_sample", T.IntegerType()),
    ]
)


def attach_real_media_columns(docs: DataFrame) -> DataFrame:
    """Like attach_media_columns, but the payloads are REAL media bytes:
    valid uncompressed BMP images, PCM WAV audio, and Y4M (YUV4MPEG2)
    video synthesized deterministically from doc_id
    (operators/codecs.py) — all three modalities decode for real.

    The synthesis formulas are pure arithmetic in doc_id, so a SQL
    oracle can recompute every decoded field without a codec — making
    the real decode path value-checkable cross-engine.
    """
    from insight_spark.operators.codecs import encode_bmp, encode_wav, encode_y4m

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, mimes = [], []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                if d % 3 == 0:
                    w, h = 8 + d % 16, 4 + d % 8
                    payloads.append(encode_bmp(w, h, (d * 37 + 11) % 251))
                    mimes.append("image/bmp")
                elif d % 3 == 1:
                    n = 32 + d % 64
                    rate = 8000 + (d % 4) * 4000
                    samples = [((d * 31 + i * 7) % 4096) - 2048 for i in range(n)]
                    payloads.append(encode_wav(samples, rate))
                    mimes.append("audio/wav")
                else:
                    w, h = 8 + (d % 4) * 2, 4 + (d % 3) * 2
                    lumas = [(d * 29 + f * 13) % 256 for f in range(2 + d % 4)]
                    payloads.append(encode_y4m(w, h, lumas))
                    mimes.append("video/y4m")
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": mimes, "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, mime string, payload binary"
    )


def decode_media_real(media_df: DataFrame) -> DataFrame:
    """J8 real-codec decode: parse actual BMP/WAV/Y4M bytes via
    mapInPandas.

    Per-mime dispatch inside the Arrow batch loop — the production
    shape (PIL/ffmpeg would slot into the same branches).  Video fills
    width/height/mean_luma (mean over every frame's Y plane) and
    reports its frame count through n_samples; unknown mimes yield
    null fields rather than failing the batch (a strict pipeline would
    route them to a quarantine sink).
    """
    from insight_spark.operators.codecs import decode_bmp, decode_wav, decode_y4m

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, mime, payload in zip(
                pdf["doc_id"], pdf["mime"], pdf["payload"]
            ):
                b = bytes(payload)
                rec = {
                    "doc_id": int(d), "mime": mime, "width": None,
                    "height": None, "mean_luma": None, "n_samples": None,
                    "sample_rate": None, "first_sample": None,
                }
                if mime == "image/bmp":
                    w, h, luma = decode_bmp(b)
                    rec.update(width=w, height=h, mean_luma=round(luma, 6))
                elif mime == "audio/wav":
                    _ch, rate, n, first = decode_wav(b)
                    rec.update(n_samples=n, sample_rate=rate, first_sample=first)
                elif mime == "video/y4m":
                    w, h, nf, luma = decode_y4m(b)
                    rec.update(
                        width=w, height=h,
                        mean_luma=round(luma, 6), n_samples=nf,
                    )
                rows.append(rec)
            out = pd.DataFrame(rows)
            for c in ("width", "height", "n_samples", "sample_rate", "first_sample"):
                out[c] = out[c].astype("Int32")
            yield out

    return media_df.mapInPandas(decode, REAL_DECODED_SCHEMA)


RESIZED_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def resize_media_real(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """J8 REAL resize: BMP payload → nearest-neighbor resample →
    re-encode → re-decode, all inside one mapInPandas pass.

    Reports the round-tripped (width, height, mean_luma, n_bytes) so a
    stride/padding/index bug anywhere in the resample or the re-encode
    shows up in the values.  Constant-fill sources make mean_luma an
    exact invariant: a resampler that reads row padding (the classic
    stride bug) dilutes it and breaks the oracle.
    """
    from insight_spark.operators.codecs import decode_bmp, resize_bmp

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                resized = resize_bmp(bytes(payload), width, height)
                w, h, luma = decode_bmp(resized)
                rows.append(
                    {
                        "doc_id": int(d),
                        "width": w,
                        "height": h,
                        "mean_luma": round(luma, 6),
                        "n_bytes": len(resized),
                    }
                )
            out = pd.DataFrame(rows)
            for c in ("width", "height", "n_bytes"):
                out[c] = out[c].astype("Int32")
            yield out

    return media_df.mapInPandas(resize, RESIZED_REAL_SCHEMA)


AUDIO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("first_sample", T.IntegerType()),
    ]
)


def audio_frames_real(media_df: DataFrame, frame_len: int = 16) -> DataFrame:
    """J8 REAL frame-sample (audio form of keyframe extraction): walk
    each WAV's RIFF chunks, split the data section into fixed-length
    sample frames, one output row per frame — mapInPandas emitting
    more rows than it receives, the canonical frame-extraction shape.
    """
    from insight_spark.operators.codecs import wav_frames

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, firsts = [], [], [], []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, n, first in wav_frames(bytes(payload), frame_len):
                    ids.append(int(d))
                    idxs.append(i)
                    ns.append(n)
                    firsts.append(first)
            out = pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "n_samples": ns,
                    "first_sample": firsts,
                }
            )
            for c in ("frame_idx", "n_samples", "first_sample"):
                out[c] = out[c].astype("Int32")
            yield out

    return media_df.mapInPandas(frames, AUDIO_FRAMES_SCHEMA)


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def video_frames_real(media_df: DataFrame, every: int = 2) -> DataFrame:
    """J8 REAL frame-sample (video form): walk each Y4M stream's FRAME
    markers, compute every frame's Y-plane mean luma, and emit every
    ``every``-th frame — the keyframe-sampling shape a training
    pipeline runs before per-frame feature extraction.  mapInPandas,
    one input row to N output rows, chroma planes skipped (the planar
    bug the codec tests pin)."""
    from insight_spark.operators.codecs import y4m_frame_lumas

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lumas = [], [], []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, luma in enumerate(y4m_frame_lumas(bytes(payload))):
                    if i % every == 0:
                        ids.append(int(d))
                        idxs.append(i)
                        lumas.append(round(luma, 6))
            out = pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "mean_luma": lumas}
            )
            out["frame_idx"] = out["frame_idx"].astype("Int32")
            yield out

    return media_df.mapInPandas(frames, VIDEO_FRAMES_SCHEMA)
