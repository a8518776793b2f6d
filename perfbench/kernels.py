"""Per-span kernel split over a fixed sample of a workload's own media spans.

Each layer is timed by calling its public function directly, in this one
process, with BLAS pinned to one thread (``run.py`` pins it before numpy is
imported). The chain per span mirrors what the extraction stage does:
render -> encode -> decode -> resize -> deskew -> recognize -> line census
-> line grouping, and separately the whole ``run_mode`` call.
"""

from __future__ import annotations

import time

import numpy as np

SAMPLE_SPANS = 64


def sample_media_spans(expected: dict, k: int = SAMPLE_SPANS) -> list[tuple[int, int, str]]:
    """Evenly spaced (doc_num, offset, text) media spans, in doc order. The
    generated words are lowercase and single-spaced, so a media span's
    expected text is also the chunk the engine renders."""
    media = [(int(doc_id), offset, text)
             for doc_id, spans in expected.items()
             for kind, text, _ref, offset in spans if kind == "media"]
    step = max(1, len(media) // k)
    return media[::step][:k]


def _stats(xs: list[float]) -> tuple[float, float]:
    if not xs:
        return 0.0, 0.0
    a = np.asarray(xs)
    return float(a.mean()), float(np.percentile(a, 99))


def kernel_split(spans: list[tuple[int, int, str]], mode: str) -> dict:
    """-> {metric_name: value} for the kernel layers, ms per span."""
    from api_ocr_spark.config import (
        MAX_DIMENSION_BASIC, MAX_DIMENSION_DOCUMENTO, MAX_SIZE_MB_DOCUMENTO,
        RENDER_SEED_MULT, SCENARIO_MULT,
    )
    from api_ocr_spark.imaging import png
    from api_ocr_spark.imaging.render import SCENARIOS, render_text_image
    from api_ocr_spark.kernels import detection, enhance
    from api_ocr_spark.ocr import engine
    from api_ocr_spark.operators import modes
    from api_ocr_spark.sources import interleave

    t: dict[str, list[float]] = {k: [] for k in (
        "render", "encode_png", "encode_jpeg", "decode_png", "decode_jpeg", "resize",
        "deskew", "recognize", "census", "group", "run_mode")}
    exact = table = 0
    clock = time.perf_counter
    for doc_num, offset, chunk in spans:
        scenario = SCENARIOS[(doc_num * SCENARIO_MULT + offset) % len(SCENARIOS)]
        fmt = interleave.media_fmt(doc_num, offset)
        t0 = clock()
        img = render_text_image(chunk, scenario, seed=doc_num * RENDER_SEED_MULT + offset)
        t1 = clock()
        data = interleave.encode_media(img, fmt)
        t2 = clock()
        gray = png.decode_gray_auto(data)
        t3 = clock()
        if mode == "basico":
            g = enhance.cap_max_dimension(gray, MAX_DIMENSION_BASIC)
        else:
            g = enhance.cap_max_dimension(gray, MAX_DIMENSION_DOCUMENTO)
            g = enhance.area_budget_resize(g, MAX_SIZE_MB_DOCUMENTO)
        t4 = clock()
        deskewed, binary, _ink, _deg = enhance.deskew_binary_ink(g)
        t5 = clock()
        words = engine.get_text_data(deskewed, binary=binary)
        t6 = clock()
        detection.count_horizontal_lines(binary)
        t7 = clock()
        lines = engine.group_words_into_lines(words)
        t8 = clock()
        result = modes.run_mode(gray, mode)
        t9 = clock()
        for key, dt in (("render", t1 - t0), (f"encode_{fmt}", t2 - t1),
                        (f"decode_{fmt}", t3 - t2), ("resize", t4 - t3),
                        ("deskew", t5 - t4), ("recognize", t6 - t5),
                        ("census", t7 - t6), ("group", t8 - t7),
                        ("run_mode", t9 - t8)):
            t[key].append(dt * 1e3)
        first_pass = " ".join(" ".join(ln["text"] for ln in lines).split())
        exact += first_pass == chunk
        table += str(result.get("route", "")).startswith("tabla")
    prefix = {"render": "imaging", "encode_png": "imaging", "encode_jpeg": "imaging",
              "decode_png": "imaging", "decode_jpeg": "imaging", "recognize": "ocr",
              "group": "ocr", "run_mode": "modes"}
    out = {}
    for key, xs in t.items():
        mean, p99 = _stats(xs)
        name = f"{prefix.get(key, 'kernels')}.{key}"
        out[f"{name}_ms"] = mean
        out[f"{name}_p99_ms"] = p99
    n = max(1, len(spans))
    out["ocr.first_pass_exact_frac"] = exact / n
    out["modes.table_route_frac"] = table / n
    out["kernels.sample_spans"] = len(spans)
    # per-span cost of the chain the workload's Python stage runs
    chain = ["decode", "run_mode"] if mode == "basico" else ["render", "encode", "decode", "run_mode"]
    per_span = 0.0
    for part in chain:
        keys = [k for k in t if k.startswith(part)]
        per_span += sum(sum(t[k]) for k in keys) / n
    out["kernels.chain_ms"] = per_span
    return out
