"""Timing shims and spans for the traced invocation.

Spans are recorded from outside the program, by wrapping the public
functions each layer exposes, and kept in memory until the run ends. A
layer's self time is its span minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


def self_time(start: float, end: float, children: list) -> float:
    """``end - start`` minus the part of it covered by the union of the
    ``(start, end)`` intervals in ``children``."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def covered(start: float, end: float, intervals: list) -> float:
    """Time in ``[start, end]`` covered by the union of ``intervals``."""
    return (end - start) - self_time(start, end, intervals)


class Tracer:
    """Spans ``[name, start, end, parent index]`` of one thread."""

    def __init__(self, on_enter=None, on_exit=None):
        self.spans: list[list] = []
        self._open: list[int] = []
        self.on_enter, self.on_exit = on_enter or {}, on_exit or {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = [name, time.perf_counter(), None, parent]
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        if name in self.on_enter:
            self.on_enter[name]()
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._open.pop()
            if name in self.on_exit:
                self.on_exit[name]()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def totals(self) -> dict:
        """name -> {"total": s, "self": s, "count": n}."""
        children = defaultdict(list)
        for s in self.spans:
            if s[3] is not None:
                children[s[3]].append((s[1], s[2]))
        out: dict = defaultdict(lambda: {"total": 0.0, "self": 0.0,
                                         "count": 0})
        for i, (name, start, end, _) in enumerate(self.spans):
            o = out[name]
            o["total"] += end - start
            o["self"] += self_time(start, end, children[i])
            o["count"] += 1
        return dict(out)

    def first(self, name: str) -> list | None:
        return next((s for s in self.spans if s[0] == name), None)


def _targets():
    """(owner, attribute, span name) of every shimmed function."""
    import pdf_ocr_spark.catalog as catalog
    import pdf_ocr_spark.extract as extract
    import pdf_ocr_spark.minipdf.adapters as adapters
    import pdf_ocr_spark.ocr.layout as layout
    import pdf_ocr_spark.pipeline as pipeline
    from pdf_ocr_spark.minipdf.reader import MiniPdf
    from pdf_ocr_spark.ocr.engine import DeterministicOCREngine
    return [
        (pipeline, "completed_buckets", "pipeline.resume_probe"),
        (catalog, "load_table", "catalog.load_table"),
        (catalog, "overwrite_partitions", "pipeline.write"),
        (catalog, "append", "catalog.append"),
        (extract, "route_kinds", "extract.route"),
        (extract, "decode_pdf_payload", "detector.decode"),
        (adapters, "open_pdf", "detector.open"),
        (extract, "detect_pdf", "detector.detect"),
        (MiniPdf, "render_page", "minipdf.render"),
        (MiniPdf, "extract_text", "minipdf.text"),
        (extract, "denoise", "kernels.denoise"),
        (extract, "deskew", "kernels.deskew"),
        (DeterministicOCREngine, "recognize", "ocr.recognize"),
        (layout, "process_page", "ocr.layout"),
        (layout, "remove_headers_footers", "ocr.headfoot"),
        (extract, "extract_html_blocks", "html_extract.parse"),
    ]


@contextlib.contextmanager
def shims(tracer: Tracer):
    """Wrap every target in a span for the duration of the block."""
    saved = []
    try:
        for owner, attr, name in _targets():
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, tracer.wrap(name, fn))
        yield tracer
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


DECODE_LAYERS = ("detector.decode", "detector.open", "detector.detect",
                 "minipdf.render", "minipdf.text", "kernels.denoise",
                 "kernels.deskew", "ocr.recognize", "ocr.layout",
                 "ocr.headfoot")


def in_process_pass(pdf_texts: list[str], light_texts: list,
                    batch_rows: int) -> dict:
    """Run the UDF entry points in this process over a workload's own
    payloads: ``extract_payload_batch`` over the distinct PDFs (the
    decode stage's work) and ``extract_batch`` over the light rows in
    Arrow-batch-sized chunks (the light path's work)."""
    import pandas as pd
    from pdf_ocr_spark import extract

    tracer = Tracer()
    with shims(tracer):
        with tracer.span("extract.decode"):
            extract.extract_payload_batch(pd.Series(pdf_texts, dtype=object))
        with tracer.span("extract.light"):
            for i in range(0, len(light_texts), batch_rows):
                extract.extract_batch(pd.Series(
                    light_texts[i:i + batch_rows], dtype=object))
    t = tracer.totals()

    def get(name, key):
        return t.get(name, {}).get(key, 0)

    def per_call_ms(name):
        n = get(name, "count")
        return 1e3 * get(name, "self") / n if n else 0.0

    n_pdf = max(1, len(pdf_texts))
    decode_s = get("extract.decode", "total")
    return {
        "extract.decode_compute_s": decode_s,
        "extract.light_compute_s": get("extract.light", "total"),
        "extract.route_ms_per_kturn":
            1e6 * get("extract.route", "total") / max(1, len(light_texts)),
        "detector.decode_open_ms":
            1e3 * (get("detector.decode", "self")
                   + get("detector.open", "self")) / n_pdf,
        "detector.detect_ms": 1e3 * get("detector.detect", "self") / n_pdf,
        "minipdf.render_ms": per_call_ms("minipdf.render"),
        "minipdf.text_ms": per_call_ms("minipdf.text"),
        "kernels.denoise_ms": per_call_ms("kernels.denoise"),
        "kernels.deskew_ms": per_call_ms("kernels.deskew"),
        "ocr.recognize_ms": per_call_ms("ocr.recognize"),
        "ocr.layout_ms": per_call_ms("ocr.layout"),
        "ocr.headfoot_ms": per_call_ms("ocr.headfoot"),
        "html_extract.parse_ms": per_call_ms("html_extract.parse"),
        # share of decode compute the named layers' self times explain;
        # the rest is extract's own glue
        "trace.layer_cover": sum(get(n, "self") for n in DECODE_LAYERS)
        / decode_s if decode_s else 0.0,
    }
