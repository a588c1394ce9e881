"""The ``sources`` layer on its own: the pure-Python decoders called
directly on seeded payloads made by the matching ``encode_*``.

Each codec gets a fixed-size payload set drawn from the workload seed. A
decode is checked against what was encoded (exact for the lossless codecs,
the quantized coefficients for JPEG) outside the timed call.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from datafusion_distributed_spark.sources.jpeg import decode_jpeg, encode_jpeg_gray
from datafusion_distributed_spark.sources.png import decode_png, encode_png
from datafusion_distributed_spark.sources.wav import decode_wav, encode_wav
from datafusion_distributed_spark.sources.webp import (
    decode_webp_lossless,
    encode_webp_lossless,
)
from datafusion_distributed_spark.sources.y4m import decode_y4m, encode_y4m

CODECS = ("jpeg", "png", "webp_lossless", "wav", "y4m")
PAYLOADS_PER_CODEC = 3
_JPEG_Q = [20] + [8 + (k * 3) % 17 for k in range(1, 64)]


def _image(rng: np.random.Generator, w: int, h: int, ch: int) -> np.ndarray:
    """A smooth gradient plus noise, so filters and predictors have work."""
    y, x = np.mgrid[0:h, 0:w]
    base = (x * 3 + y * 2)[..., None] + np.arange(ch) * 40
    return ((base + rng.integers(0, 24, (h, w, ch))) % 256).astype(np.uint8)


def make_payloads(seed: int) -> dict[str, list[tuple[bytes, object]]]:
    """codec -> [(payload, expected decode)] for ``seed``."""
    rng = np.random.default_rng(seed)
    out: dict[str, list[tuple[bytes, object]]] = {c: [] for c in CODECS}
    for _ in range(PAYLOADS_PER_CODEC):
        blocks = []
        for _ in range(8 * 8):
            b = [0] * 64
            b[0] = int(rng.integers(-64, 64))
            for k in rng.choice(np.arange(1, 64), size=6, replace=False):
                b[int(k)] = int(rng.integers(-4, 5))
            blocks.append(b)
        out["jpeg"].append((encode_jpeg_gray(64, 64, blocks, _JPEG_Q), blocks))

        rgb = _image(rng, 64, 64, 3).tobytes()
        out["png"].append((encode_png(64, 64, 3, rgb, filter_type="cycle"), rgb))

        rgba = _image(rng, 32, 32, 4).ravel().tolist()
        out["webp_lossless"].append((encode_webp_lossless(32, 32, rgba), rgba))

        t = np.arange(8000)
        wave = 8000 * np.sin(t * (0.01 + 0.02 * rng.random())) + rng.integers(-500, 500, t.size)
        samples = wave.astype(np.int64).tolist()
        out["wav"].append((encode_wav(8000, 1, 16, samples), samples))

        frames = [
            tuple(_image(rng, 64, 48, 1).tobytes() for _ in range(3)) for _ in range(4)
        ]
        out["y4m"].append((encode_y4m(64, 48, frames), frames))
    return out


def _decoded(codec: str, data: bytes):
    if codec == "jpeg":
        return decode_jpeg(data).coeffs
    if codec == "png":
        return bytes(decode_png(data).pixels)
    if codec == "webp_lossless":
        return list(decode_webp_lossless(data).pixels)
    if codec == "wav":
        return list(decode_wav(data).samples)
    return [tuple(bytes(p) for p in f) for f in decode_y4m(data).frames]


def measure(seed: int, repeats: int = 3) -> tuple[dict[str, float], list[str]]:
    """Per codec: median over ``repeats`` of the time to decode the whole
    payload set, and MB of payload decoded per second. Returns
    ``(metrics, failures)``."""
    metrics: dict[str, float] = {}
    failures: list[str] = []
    for codec, payloads in make_payloads(seed).items():
        times = []
        for _ in range(repeats):
            results = []
            t0 = time.perf_counter()
            for data, _ in payloads:
                results.append(_decoded(codec, data))
            times.append(time.perf_counter() - t0)
        for (_, want), got in zip(payloads, results):
            if got != want:
                failures.append(f"sources.{codec}: decode differs from the encoded input")
        secs = statistics.median(times)
        mb = sum(len(d) for d, _ in payloads) / 1e6
        metrics[f"sources.{codec}.decode_s"] = secs
        metrics[f"sources.{codec}.mb_per_s"] = mb / secs
    return metrics, failures
