"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Decode support is tiered by what this runtime can do honestly:

- **REAL**: PNG (8-bit gray/RGB/RGBA, filters 0-4) and RIFF/WAVE PCM
  (8/16-bit) decode via `operators.media_codecs` — pure stdlib
  (zlib/wave/struct) + numpy, no PIL/ffmpeg needed. `decode_media`
  sniffs the payload magic and routes these to the real decoders.
- **GATED**: JPEG/video and every other container raise
  NotImplementedError unless `fake=True`, which substitutes a
  deterministic fake decoder so the Spark-side plumbing — schema,
  partitioning, mapInPandas batch shape, feature vector layout — is
  still tested end-to-end for the gated formats.

Design for 100 TB of media: payloads stay in `binary` columns (parquet
keeps them out of dictionary encoding), partition by (kind, dt);
feature extraction is a `mapInPandas` pass so each Arrow batch holds a
bounded number of payloads (`spark.sql.execution.arrow.
maxRecordsPerBatch` caps batch memory); never collect payloads to the
driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16


def decode_media(payload: bytes, kind: str, fake: bool = False) -> np.ndarray:
    """Decode a media payload to a float32 sample array in [0, 1].

    PNG and WAV payloads are REALLY decoded (magic-sniffed; see
    `media_codecs`): images flatten to pixel samples / 255, audio to
    (int16 + 32768) / 65535. Other formats are gated: they raise
    NotImplementedError unless `fake=True`, which maps raw bytes to
    byte/255 samples deterministically. The sniff happens before the
    fake branch, so a real container payload decodes identically with
    either flag — fake only changes what happens to opaque bytes."""
    from fluent_bit_spark.operators import media_codecs as mc

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return mc.decode_png(payload).reshape(-1).astype(np.float32) / 255.0
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, _rate, _ch = mc.decode_wav(payload)
        return (samples.astype(np.float32) + 32768.0) / 65535.0
    if not fake:
        raise NotImplementedError(
            "only PNG and WAV/PCM decode natively in this runtime (no "
            "PIL/ffmpeg); pass fake=True for the deterministic byte decoder"
        )
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    return arr / 255.0


def synth_media_real(
    df: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """Attach REAL media payloads to an id column: even ids get a PNG
    (gray, 8-bit, pixel(y,x) = (id*31 + x*7 + y*13) % 256, dims
    (16+id%8) x (12+id%5)), odd ids a PCM16 WAV (sample_i =
    (id*7 + i*3) % 65536 - 32768, n = 64+id%32, 16 kHz mono). Every
    byte is a closed-form function of the id, so a SQL oracle can
    re-derive any decoded statistic without running the codec —
    the encode->decode roundtrip is therefore exactly checkable.

    Runs as an Arrow-batched mapInPandas: payloads are built on the
    executors and never touch the driver."""
    from fluent_bit_spark.operators import media_codecs as mc

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            kinds, payloads = [], []
            for mid in b[id_col]:
                d = int(mid)
                if d % 2 == 0:
                    w, h = 16 + d % 8, 12 + d % 5
                    x = np.arange(w, dtype=np.int64) * 7
                    y = np.arange(h, dtype=np.int64) * 13
                    px = ((d * 31 + x[None, :] + y[:, None]) % 256).astype(
                        np.uint8
                    )
                    kinds.append("image")
                    payloads.append(mc.encode_png(px))
                else:
                    n = 64 + d % 32
                    s = ((d * 7 + 3 * np.arange(n, dtype=np.int64)) % 65536
                         - 32768).astype(np.int16)
                    kinds.append("audio")
                    payloads.append(mc.encode_wav(s, 16000, 1))
            yield pd.DataFrame(
                {id_col: b[id_col], "kind": kinds, "payload": payloads}
            )

    return df.select(id_col).mapInPandas(gen, out_schema)


def media_decode_stats(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL decode pass: sniff each payload, run the actual PNG/WAV
    decoder, and emit integer-exact statistics (dims / channel count /
    sample count / raw-sample sum / rate). Integers instead of float
    features so the oracle comparison is engine-exact. Arrow-batched
    mapInPandas; payloads stay on the executors."""
    from fluent_bit_spark.operators import media_codecs as mc

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("sample_sum", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload in zip(b[id_col], b[payload_col]):
                raw = bytes(payload)
                if raw[:8] == b"\x89PNG\r\n\x1a\n":
                    px = mc.decode_png(raw)
                    h, w, c = px.shape
                    rows.append(
                        (int(mid), "image", w, h, c, h * w * c,
                         int(px.astype(np.int64).sum()), None)
                    )
                elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
                    samples, rate, ch = mc.decode_wav(raw)
                    rows.append(
                        (int(mid), "audio", None, None, ch, len(samples),
                         int(samples.astype(np.int64).sum()), rate)
                    )
                else:
                    rows.append(
                        (int(mid), "opaque", None, None, None, len(raw),
                         int(np.frombuffer(raw, np.uint8)
                             .astype(np.int64).sum()), None)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(gen, out_schema)


def extract_features(
    df: DataFrame, fake_decode: bool = True, feature_dim: int = FEATURE_DIM
) -> DataFrame:
    """mapInPandas feature extraction: payload -> fixed-size feature
    vector (histogram of decoded samples) + basic stats. The batch
    iterator shape is the real production structure; only the decoder
    is fake."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("checksum", T.StringType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = []
            sums = []
            for payload, kind in zip(b["payload"], b["kind"]):
                data = decode_media(bytes(payload), kind, fake=fake_decode)
                hist, _ = np.histogram(data, bins=feature_dim, range=(0.0, 1.0))
                total = hist.sum() or 1
                feats.append((hist / total).astype(np.float32).tolist())
                sums.append(hashlib.md5(bytes(payload)).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "kind": b["kind"],
                    "n_bytes": b["payload"].map(len).astype("int32"),
                    "checksum": sums,
                    "features": feats,
                }
            )

    return df.mapInPandas(gen, out_schema)


def byte_histogram_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bins: int = FEATURE_DIM,
    fake_decode: bool = True,
) -> DataFrame:
    """Decode -> integer histogram feature vector, the exactly-
    checkable variant of extract_features: counts stay BIGINT (no
    float32 normalization), so a SQL oracle can re-derive every
    component from the payload bytes and the downstream ANN ranking is
    engine-exact. Bin = min(bins-1, byte * bins // 255) — the same
    edges np.histogram(range=(0,1)) assigns to byte/255 samples,
    in closed-form integer math.

    Same scale shape as extract_features: Arrow-batched mapInPandas,
    payloads never leave the executor."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("hist", T.ArrayType(T.LongType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            hists = []
            for payload in b[payload_col]:
                data = decode_media(bytes(payload), "image", fake=fake_decode)
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                assert len(raw) == len(data)  # decode is 1 sample/byte
                idx = np.minimum(
                    bins - 1, raw.astype(np.int64) * bins // 255
                )
                hists.append(np.bincount(idx, minlength=bins).tolist())
            yield pd.DataFrame(
                {
                    id_col: b[id_col],
                    "n_bytes": b[payload_col].map(len).astype("int32"),
                    "hist": hists,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(gen, out_schema)
