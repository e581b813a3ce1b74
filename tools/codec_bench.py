"""Quantify pure-Python codec throughput for the 100-TB posture.

The PNG/WAV codecs (`llm/codecs.py`) run inside the `mapInArrow` row
kernel (`llm/multimodal.py:row_kernel`) — embarrassingly parallel, no
shuffle — so the only scale question is per-core byte throughput.  This measures
encode/decode MB/s per core at realistic sizes and prints the
projected core-hours per TB of media, recorded in COVERAGE.md.

Usage: python tools/codec_bench.py
"""

from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from streaming_forex_data_pipeline_spark.llm.codecs import (  # noqa: E402
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def bench(label: str, nbytes: int, fn, reps: int) -> float:
    fn()  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    dt = (time.perf_counter() - t0) / reps
    mbs = nbytes / dt / 1e6
    core_h_per_tb = 1e12 / (mbs * 1e6) / 3600
    print(
        f"{label:34s} {mbs:8.2f} MB/s/core   "
        f"{core_h_per_tb:8.1f} core-h/TB"
    )
    return mbs


def main() -> None:
    rng = np.random.RandomState(7)
    print("pixel-byte throughput (uncompressed image bytes per second):")
    for h, w, ch in ((64, 64, 3), (256, 256, 3), (640, 480, 3)):
        img = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
        nbytes = img.nbytes
        # worst-case filter rotation: exercises all 5 unfilter paths,
        # same rotation the multimodal fixtures use
        rot = lambda y: y % 5  # noqa: E731
        png = encode_png(img, filter_for_row=rot)
        reps = max(2, 3_000_000 // nbytes)
        bench(
            f"encode_png {h}x{w}x{ch} (rot filters)",
            nbytes,
            lambda: encode_png(img, filter_for_row=rot),
            reps,
        )
        bench(
            f"decode_png {h}x{w}x{ch} (rot filters)",
            nbytes,
            lambda: decode_png(png),
            reps,
        )
        png0 = encode_png(img)  # filter 0 only: the vectorized path
        bench(
            f"decode_png {h}x{w}x{ch} (filter 0)",
            nbytes,
            lambda: decode_png(png0),
            reps,
        )
    samples = (rng.randint(-20000, 20000, 8000 * 60)).astype("<i2")
    wav = encode_wav(samples)
    nb = samples.nbytes
    print("\nPCM throughput:")
    bench("encode_wav 60s@8kHz", nb, lambda: encode_wav(samples), 20)
    bench("decode_wav 60s@8kHz", nb, lambda: decode_wav(wav), 20)


if __name__ == "__main__":
    main()
