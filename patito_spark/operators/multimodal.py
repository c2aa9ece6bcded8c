"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns — the north-rule table
already carries one (``html binary``).  The Spark-side
plumbing (schemas, Arrow batch shapes, partition-aware ``mapInPandas``
stages) is real and tested.  Image decode is REAL for PPM/BMP/PNG via the
stdlib codec in ``operators.imagecodec`` (struct+zlib+numpy — no imaging
library needed); PIL is preferred when importable, adding JPEG etc.  Audio/
video decode remains stubbed (no codec exists in the stdlib), but the
deterministic byte-level features are genuinely computable (and useful:
byte histograms catch corrupt/truncated payloads at ingest).

Batch-shape contract for every stage here: input Arrow batches of
``(id, payload binary, ...)``; output one row per input row;
numpy-vectorized inside the batch, never per-row Python loops over pixels.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

def byte_histogram(
    df: DataFrame, id_col: str, payload_col: str, buckets: int = 16
) -> DataFrame:
    """Per-payload byte-value histogram — a REAL feature (no codec needed):
    catches truncated/corrupt/mis-encoded payloads before expensive decode.

    Arrow-batched ``mapInPandas``; numpy ``bincount`` per payload.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("hist", T.ArrayType(T.LongType())),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    div = 256 // buckets

    def _hist(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids, hists, sizes = [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(payload or b"", dtype=np.uint8)
                counts = np.bincount(arr // div, minlength=buckets)[:buckets]
                ids.append(i)
                hists.append(counts.tolist())
                sizes.append(len(arr))
            yield pd.DataFrame({"id": ids, "hist": hists, "n_bytes": sizes})

    return df.select(id_col, payload_col).mapInPandas(_hist, out_schema)


#: decode_image output: one row per payload, NULL decode fields + the error
#: string for undecodable rows (a 100 TB decode stage must not die on one
#: corrupt page — route failures to a quarantine filter instead)
DECODE_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_image(
    df: DataFrame, id_col: str, payload_col: str, resize: Optional[tuple] = None
) -> DataFrame:
    """Decode image payloads → (id, width, height, mode, mean_pixel).

    REAL decode, no imaging library required: PPM/BMP/PNG are handled by
    the stdlib codec (``operators.imagecodec``, struct+zlib+numpy); when
    PIL *is* importable it is preferred, which adds JPEG and friends.
    Rows the active decoder can't handle get NULL fields plus a
    ``decode_error`` string — never a task failure.  ``resize`` is
    nearest-neighbor in the stdlib path, PIL's default filter otherwise.
    """
    try:  # pragma: no cover - PIL absent in this container
        import io  # noqa: PLC0415

        from PIL import Image  # noqa: PLC0415

        def _open(payload: bytes) -> tuple:
            img = Image.open(io.BytesIO(payload))
            if resize:
                img = img.resize(resize)
            import numpy as np  # noqa: PLC0415

            return img.width, img.height, img.mode, np.asarray(img)

    except ImportError:
        from .imagecodec import decode_image_bytes, resize_nearest  # noqa: PLC0415

        def _open(payload: bytes) -> tuple:
            width, height, mode, px = decode_image_bytes(payload)
            if resize:
                px = resize_nearest(px, resize)
                height, width = px.shape[:2]
            return width, height, mode, px

    import pandas as pd  # noqa: PLC0415

    def _decode(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = {
                "id": [], "width": [], "height": [],
                "mode": [], "mean_pixel": [], "decode_error": [],
            }
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                rows["id"].append(i)
                try:
                    width, height, mode, px = _open(payload)
                    rows["width"].append(width)
                    rows["height"].append(height)
                    rows["mode"].append(mode)
                    rows["mean_pixel"].append(float(px.astype("float64").mean()))
                    rows["decode_error"].append(None)
                except (ValueError, OSError) as exc:
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["mode"].append(None)
                    rows["mean_pixel"].append(None)
                    rows["decode_error"].append(str(exc)[:200])
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(_decode, DECODE_IMAGE_SCHEMA)


#: decode_audio output — same quarantine contract as DECODE_IMAGE_SCHEMA
DECODE_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_audio(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Decode PCM WAV payloads → (id, channels, rate, frames, duration, rms).

    REAL decode via the stdlib ``wave`` module (16-bit PCM; the standard
    uncompressed interchange format) — no audio library needed.  ``rms``
    is the root-mean-square of the raw int16 samples (all channels),
    rounded to 6 dp; it's the cheapest useful signal-level feature
    (silence / clipping / corrupt-payload detection at ingest).
    Undecodable rows get NULL fields + ``decode_error``, never a task
    failure.  Compressed formats (mp3/ogg/flac) have no stdlib decoder
    and land in ``decode_error``.
    """
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def _decode(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = {
                "id": [], "n_channels": [], "sample_rate": [],
                "n_frames": [], "duration_ms": [], "rms": [],
                "decode_error": [],
            }
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                rows["id"].append(i)
                try:
                    with wave.open(io.BytesIO(payload or b"")) as w:
                        if w.getsampwidth() != 2:
                            raise ValueError(
                                f"{8 * w.getsampwidth()}-bit PCM unsupported "
                                "(16-bit only)"
                            )
                        nch, rate = w.getnchannels(), w.getframerate()
                        if rate <= 0:
                            # stdlib wave accepts a 0 frame rate header;
                            # without this guard the duration division below
                            # raises ZeroDivisionError outside the except
                            # tuple and kills the whole task.
                            raise ValueError(f"invalid frame rate {rate}")
                        nframes = w.getnframes()
                        samples = np.frombuffer(
                            w.readframes(nframes), dtype="<i2"
                        ).astype(np.float64)
                    rows["n_channels"].append(nch)
                    rows["sample_rate"].append(rate)
                    rows["n_frames"].append(nframes)
                    rows["duration_ms"].append(nframes * 1000 // rate)
                    rows["rms"].append(
                        round(float(np.sqrt((samples**2).mean())), 6)
                        if samples.size
                        else 0.0
                    )
                    rows["decode_error"].append(None)
                except (wave.Error, ValueError, EOFError, OSError) as exc:
                    for k in (
                        "n_channels", "sample_rate", "n_frames",
                        "duration_ms", "rms",
                    ):
                        rows[k].append(None)
                    rows["decode_error"].append(str(exc)[:200])
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(_decode, DECODE_AUDIO_SCHEMA)
