"""Single-process timing of the extraction kernel on a workload's own
turns: `extract_frame` throughput on one core, and the share of it spent
in the public `canonicalize` and `segment` stages."""

from __future__ import annotations

import time

from perfbench.common import median

SAMPLE_TURNS = 4096
REPS = 3


def profile(pdf) -> dict:
    """`pdf` holds workload turns in their (seeded, permuted) input order,
    so its head is a random sample of them."""
    from ocr_spark.extract import extractor
    from ocr_spark.extract.canon import canonicalize
    from ocr_spark.extract.segment import segment

    sample = pdf.head(SAMPLE_TURNS).reset_index(drop=True)
    texts = [t for t in sample["text"].tolist() if isinstance(t, str)]
    before = extractor.BATCH_FALLBACKS
    frame_s, canon_s, seg_s = [], [], []
    for _ in range(REPS):
        t0 = time.perf_counter()
        extractor.extract_frame(sample)
        frame_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        canons = [canonicalize(t)[0] for t in texts]
        canon_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for c in canons:
            segment(c)
        seg_s.append(time.perf_counter() - t0)
    frame = median(frame_s)
    return {
        "turns_per_s_core": len(sample) / frame,
        "canonicalize_share": median(canon_s) / frame,
        "segment_share": median(seg_s) / frame,
        "batch_fallbacks": extractor.BATCH_FALLBACKS - before,
    }


def as_metrics(k: dict) -> dict:
    return {f"extract.{name}": value for name, value in k.items()}
