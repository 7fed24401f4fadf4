"""Multimodal column handling (north-star K7; SURVEY.md §2.11).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata beside them — the standard Spark shape for a 100 TB multimodal
training-data table (payloads inline under a size cap, else
path-references into object storage; Parquet stores both fine).

Decoding is registry-driven: ``CODECS``/``ENCODERS`` map media types to
decode/encode callables. The built-in pure-numpy codecs from
``media_codecs`` (netpbm P5/P6, 24-bit BMP, PNG, GIF, baseline AND
progressive JPEG — ``decode_jpeg`` dispatches SOF2 to the Annex G
decoder, closing the fallback web corpora hit most (VERDICT r14) —
PCM WAV) register at import, so ``resize_images`` runs a REAL
decode→resize→re-encode path for those types with zero third-party
libraries, and ``sample_frames`` extracts REAL frames from animated
GIF and Motion-JPEG MP4 (``mp4_container`` walks the ISO/IEC 14496-12
sample tables from spec; each ``jpeg`` sample decodes through the T.81
decoder). Payloads no registered decoder accepts (e.g. H.264 inside
MP4 — the container walk resolves its byte ranges, the codec lib is
absent here) fall back to a deterministic stand-in that exercises
identical Spark plumbing — schema, Arrow batching, and UDF signature;
register a PIL/av decoder pair in a real deployment and the same plan
runs unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MULTIMODAL_SCHEMA = (
    "item_id long, payload binary, media_type string, "
    "width int, height int, embedding array<float>"
)

# codec registries: media_type -> (bytes -> np.ndarray) for decode and
# (np.ndarray -> bytes) for encode. Pure-numpy built-ins
# (PPM/BMP/PNG/GIF/baseline-JPEG) are registered at the bottom of this
# module; real deployments add PIL/av decoders for video/exotic
# formats. AUDIO_CODECS decode to ((n, channels) float array,
# sample_rate) instead of pixels.
CODECS: dict = {}
ENCODERS: dict = {}
AUDIO_CODECS: dict = {}
AUDIO_ENCODERS: dict = {}
FRAME_DECODERS: dict = {}  # media_type -> bytes -> (n, h, w, 3) frames


def fake_feature_extract(df: DataFrame, payload_col: str, dim: int = 8) -> DataFrame:
    """Deterministic stand-in for decode→embed: hashes payload bytes into
    a fixed-dim float vector. Arrow-batched mapInPandas — the exact
    plumbing a real decoder would use (batch shape: one row per item,
    payload bytes in, array<float> out)."""

    out_schema = "item_id long, feat array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for data in pdf[payload_col]:
                b = bytes(data)
                # deterministic per-byte folding into dim buckets
                acc = np.zeros(dim, dtype=np.float64)
                for i, byte in enumerate(b[:4096]):
                    acc[i % dim] += byte
                n = max(len(b[:4096]), 1)
                feats.append((acc / n).astype(np.float32).tolist())
            yield pd.DataFrame({"item_id": pdf["item_id"], "feat": feats})

    return df.mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    payload_col: str,
    target_w: int,
    target_h: int,
    media_type_col: str = "media_type",
) -> DataFrame:
    """decode → resize → re-encode over mapInPandas (north-star K7).

    Media types with a registered CODECS/ENCODERS pair (PPM/PGM/BMP
    built-in) run the real pixel path: decode to a numpy array,
    deterministic nearest-neighbor resize, re-encode in the same format.
    Types without a codec fall back to a deterministic byte-tiling
    stand-in with identical schema, batch shape, and partition behavior,
    so the Spark plumbing is exercised either way.
    """
    out_schema = "item_id long, payload binary, width int, height int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jane_spark.sources.media_codecs import nearest_resize

        for pdf in batches:
            out = []
            for data, mt in zip(pdf[payload_col], pdf[media_type_col]):
                b = bytes(data)
                if mt in CODECS and mt in ENCODERS:
                    img = CODECS[mt](b)
                    out.append(ENCODERS[mt](nearest_resize(img, target_w, target_h)))
                    continue
                # deterministic fake: tile source bytes to the target size
                need = target_w * target_h
                rep = (b * (need // max(len(b), 1) + 1))[:need]
                out.append(rep)
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "payload": out,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return df.mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str,
    every_n_bytes: int = 1024,
    frame_size: int = 64,
    media_type_col: str | None = None,
    every_n_frames: int = 1,
) -> DataFrame:
    """Video/animation frame sampling: one input row → many frame rows
    (item_id, frame_no, frame binary).

    When ``media_type_col`` names a column and the row's media type has
    a registered multi-frame decoder (``FRAME_DECODERS`` — animated GIF
    and Motion-JPEG MP4 are built in), the REAL frames are decoded,
    every ``every_n_frames`` kept, and each re-encoded through the
    type's still-image encoder. Rows without a frame decoder — or
    whose payload the decoder REJECTS (corrupt container, unsupported
    inner codec) — keep the deterministic byte-slice stand-in (stride
    ``every_n_bytes``, width ``frame_size``): the operator is TOTAL,
    one bad row never fails a task (the phash NULL-policy posture).
    An av decoder drops into the registry without touching the Spark
    side (same fan-out schema, same Arrow batching)."""
    out_schema = "item_id long, frame_no int, frame binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            mtypes = (
                pdf[media_type_col]
                if media_type_col is not None
                else [None] * len(pdf)
            )
            for item_id, data, mt in zip(pdf["item_id"], pdf[payload_col], mtypes):
                b = bytes(data)
                if mt in FRAME_DECODERS:
                    try:
                        all_frames = FRAME_DECODERS[mt](b)
                        encoded = [
                            ENCODERS[mt](all_frames[fn])
                            for fn in range(
                                0, len(all_frames), every_n_frames
                            )
                        ]
                    except Exception:
                        pass  # undecodable payload: stand-in below
                    else:
                        for i, fr in enumerate(encoded):
                            ids.append(item_id)
                            nos.append(i * every_n_frames)
                            frames.append(fr)
                        continue
                for fn, off in enumerate(range(0, len(b), every_n_bytes)):
                    ids.append(item_id)
                    nos.append(fn)
                    frames.append(b[off : off + frame_size])
            yield pd.DataFrame({"item_id": ids, "frame_no": nos, "frame": frames})

    return df.mapInPandas(run, out_schema)


def decode_audio(data: bytes, media_type: str) -> tuple["np.ndarray", int]:
    """Registry-driven audio decode → ((n, channels) float64 in [-1,1],
    sample_rate). PCM WAV is built-in; other types need a registered
    decoder."""
    if media_type not in AUDIO_CODECS:
        raise NotImplementedError(
            f"no audio codec registered for {media_type!r}; register one in "
            "jane_spark.sources.multimodal.AUDIO_CODECS"
        )
    return AUDIO_CODECS[media_type](data)


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    media_type_col: str = "media_type",
) -> DataFrame:
    """Per-clip audio features over Arrow-batched mapInPandas (K7):
    decode via AUDIO_CODECS (PCM WAV built-in), then duration / RMS /
    peak / zero-crossing rate — the row-local metadata a 100 TB audio
    corpus filter keys on (silence, clipping, length gates). One input
    row → one output row; no shuffle, decode stays inside the task.
    Clips whose media type has no registered decoder yield NULL features
    (kept, so a later pass with more codecs can re-score them)."""
    out_schema = (
        "item_id long, n_samples long, n_channels int, sample_rate int, "
        "duration_s double, rms double, peak double, zcr double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            rows = []
            for item_id, data, mt in zip(
                pdf["item_id"], pdf[payload_col], pdf[media_type_col]
            ):
                if mt not in AUDIO_CODECS:
                    rows.append((item_id,) + (None,) * 7)
                    continue
                # a corrupt payload (decoder raises) or a degenerate
                # header (rate=0 → ZeroDivisionError) must not fail the
                # whole 100 TB corpus-scan stage — emit the same NULL
                # row as an unregistered type, per the "kept, so a later
                # pass can re-score" policy
                try:
                    s, rate = AUDIO_CODECS[mt](bytes(data))
                    # codec contract is (n, channels), but a 1-D mono
                    # array is a natural third-party-decoder shape —
                    # normalize instead of crashing on axis=1
                    s = np.asarray(s, dtype=np.float64)
                    s = s.reshape(len(s), -1) if s.ndim != 2 else s
                    mono = s.mean(axis=1)
                    flips = np.signbit(mono[1:]) != np.signbit(mono[:-1])
                    rows.append(
                        (
                            item_id,
                            s.shape[0],
                            s.shape[1],
                            rate,
                            s.shape[0] / rate,
                            float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
                            float(np.abs(s).max()) if s.size else 0.0,
                            float(flips.mean()) if len(mono) > 1 else 0.0,
                        )
                    )
                except (ValueError, ZeroDivisionError, struct.error):
                    rows.append((item_id,) + (None,) * 7)
            yield pd.DataFrame(
                rows,
                columns=[
                    "item_id", "n_samples", "n_channels", "sample_rate",
                    "duration_s", "rms", "peak", "zcr",
                ],
            )

    return df.mapInPandas(run, out_schema)


def spectral_features(
    df: DataFrame,
    payload_col: str = "payload",
    media_type_col: str = "media_type",
    n_fft: int = 512,
) -> DataFrame:
    """Per-clip FFT spectral features (K7): magnitude spectrum of the
    first ``n_fft`` mono samples (rectangular window — deterministic,
    no windowing-coefficient drift across platforms), reduced to the
    three standard spectral quality signals audio corpus filters key
    on:

    - ``centroid_hz``  — magnitude-weighted mean frequency,
    - ``bandwidth_hz`` — magnitude-weighted std around the centroid,
    - ``rolloff_hz``   — frequency below which 85% of magnitude sits.

    Same distributed posture as ``audio_features``: one row in, one row
    out, decode + rFFT stay inside the Arrow-batched task, no shuffle.
    Undecodable/degenerate clips yield NULL features (kept, re-scorable
    later). Silence (all-zero spectrum) reports 0.0 for all three
    rather than NULL — silence is a value, not a decode failure."""
    out_schema = (
        "item_id long, sample_rate int, centroid_hz double, "
        "bandwidth_hz double, rolloff_hz double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            rows = []
            for item_id, data, mt in zip(
                pdf["item_id"], pdf[payload_col], pdf[media_type_col]
            ):
                if mt not in AUDIO_CODECS:
                    rows.append((item_id, None, None, None, None))
                    continue
                try:
                    s, rate = AUDIO_CODECS[mt](bytes(data))
                    s = np.asarray(s, dtype=np.float64)
                    s = s.reshape(len(s), -1) if s.ndim != 2 else s
                    mono = s.mean(axis=1)[:n_fft]
                    if rate <= 0 or len(mono) == 0:
                        raise ValueError("degenerate clip")
                    mag = np.abs(np.fft.rfft(mono))
                    freqs = np.fft.rfftfreq(len(mono), d=1.0 / rate)
                    total = mag.sum()
                    if total == 0.0:
                        rows.append((item_id, rate, 0.0, 0.0, 0.0))
                        continue
                    centroid = float((freqs * mag).sum() / total)
                    bandwidth = float(
                        np.sqrt(((freqs - centroid) ** 2 * mag).sum() / total)
                    )
                    cum = np.cumsum(mag)
                    rolloff = float(freqs[np.searchsorted(cum, 0.85 * total)])
                    rows.append((item_id, rate, centroid, bandwidth, rolloff))
                except (ValueError, ZeroDivisionError, struct.error):
                    rows.append((item_id, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "item_id", "sample_rate", "centroid_hz",
                    "bandwidth_hz", "rolloff_hz",
                ],
            )

    return df.mapInPandas(run, out_schema)


def resample_audio(
    df: DataFrame,
    target_rate: int,
    payload_col: str = "payload",
    media_type_col: str = "media_type",
) -> DataFrame:
    """Decode → linear-interpolation resample → re-encode, the audio
    twin of ``resize_images`` (K7). Output sample count is
    ``round(n * target/source)`` per channel; clips already at the
    target rate pass through byte-identical. Types without a registered
    codec/encoder pair keep their original payload with ``resampled``
    false — kept total, like every decode-failure policy here."""
    out_schema = (
        "item_id long, payload binary, media_type string, "
        "sample_rate int, resampled boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            rows = []
            for item_id, data, mt in zip(
                pdf["item_id"], pdf[payload_col], pdf[media_type_col]
            ):
                raw = bytes(data)
                if mt not in AUDIO_CODECS or mt not in AUDIO_ENCODERS:
                    rows.append((item_id, raw, mt, None, False))
                    continue
                try:
                    s, rate = AUDIO_CODECS[mt](raw)
                    s = np.asarray(s, dtype=np.float64)
                    s = s.reshape(len(s), -1) if s.ndim != 2 else s
                    if rate <= 0 or s.shape[0] == 0:
                        raise ValueError("degenerate clip")
                    if rate == target_rate:
                        rows.append((item_id, raw, mt, rate, False))
                        continue
                    n_out = max(1, int(round(s.shape[0] * target_rate / rate)))
                    x_new = np.arange(n_out) * (rate / target_rate)
                    x_old = np.arange(s.shape[0])
                    res = np.stack(
                        [
                            np.interp(x_new, x_old, s[:, c])
                            for c in range(s.shape[1])
                        ],
                        axis=1,
                    )
                    rows.append(
                        (
                            item_id,
                            AUDIO_ENCODERS[mt](res, target_rate),
                            mt,
                            target_rate,
                            True,
                        )
                    )
                except (ValueError, ZeroDivisionError, struct.error):
                    rows.append((item_id, raw, mt, None, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "item_id", "payload", "media_type",
                    "sample_rate", "resampled",
                ],
            )

    return df.mapInPandas(run, out_schema)


def _register_builtin_codecs() -> None:
    """Wire the pure-numpy codecs from media_codecs into the registries.

    Runs at import — including inside Python UDF workers, which import
    this module when unpickling mapInPandas closures, so executors see
    the same registry as the driver."""
    from jane_spark.sources import media_codecs as mc

    CODECS.update(
        {
            "image/x-portable-pixmap": mc.decode_ppm,
            "image/x-portable-graymap": mc.decode_ppm,
            "image/bmp": mc.decode_bmp,
            "image/png": mc.decode_png,
            "image/gif": mc.decode_gif,
            "image/jpeg": mc.decode_jpeg,
        }
    )
    ENCODERS.update(
        {
            "image/x-portable-pixmap": mc.encode_ppm,
            "image/x-portable-graymap": mc.encode_ppm,
            "image/bmp": mc.encode_bmp,
            "image/png": mc.encode_png,
            "image/gif": mc.encode_gif,
            "image/jpeg": mc.encode_jpeg,
        }
    )
    AUDIO_CODECS["audio/wav"] = mc.decode_wav
    AUDIO_ENCODERS["audio/wav"] = mc.encode_wav
    FRAME_DECODERS["image/gif"] = mc.decode_gif_frames
    # MP4 (ISO BMFF) Motion-JPEG: the container walk is from spec
    # (ISO/IEC 14496-12 sample tables), the per-frame codec is this
    # package's own T.81 decoder; kept frames re-encode as JPEG stills
    from jane_spark.sources import mp4_container as m4

    FRAME_DECODERS["video/mp4"] = m4.decode_mp4_frames
    ENCODERS["video/mp4"] = mc.encode_jpeg


_register_builtin_codecs()
