"""In-memory spans around the package's public functions, and their arithmetic.

A span records its name, start, end and parent. ``install`` wraps the public
functions of each layer from outside the package (module attributes are
replaced for the life of the run and restored by ``uninstall``); the package
itself carries no tracing code. Spans are written out once, at the end of a
run.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = True

    def call(self, name: str, fn, args, kwargs, attrs: dict | None = None):
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, attrs or {})
        self.spans.append(span)
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [s.dur - _covered(children[i], s.start, s.end) for i, s in enumerate(spans)]


def root_gap(spans: list[Span], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] that no root span covers: time spent outside
    every traced layer."""
    roots = [(s.start, s.end) for s in spans if s.parent is None]
    return (hi - lo) - _covered(roots, lo, hi)


# Target paths of DataFrameWriter.parquet calls, mapped to the stage that
# wrote them. Order matters: the first substring that matches wins.
WRITE_KINDS = (
    ("/data/run=", "pipeline.data"),
    ("/lineage/run=", "pipeline.lineage"),
    ("ingest_corpus_fp", "ingest.corpus_fp"),
    ("ingest_committed_urls", "ingest.committed_urls"),
    ("ingest_pages_novel", "ingest.select_novel"),
    ("ingest_pages", "ingest.select"),
    ("ingest_inc", "ingest.decide_extract"),
    ("ingest_drop", "ingest.drop"),
)


def write_kind(path: str) -> str:
    for needle, kind in WRITE_KINDS:
        if needle in path:
            return kind
    return "other"


def _wrap(tracer: Tracer, owner, attr: str, name: str, undo: list) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        return tracer.call(name, orig, args, kwargs)

    setattr(owner, attr, traced)
    undo.append((owner, attr, orig))


def install(tracer: Tracer) -> list:
    """Wrap every layer's public functions; returns the undo list."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mistral_ocr_spark import cli, pipeline, session
    from mistral_ocr_spark.extractor import classify, decode, parser, pdf, render
    from mistral_ocr_spark.operators import bloom, corpus, dedup
    from mistral_ocr_spark.sources import catalog

    undo: list = []
    targets = [
        (session, "get_spark", "session.get_spark"),
        (cli, "get_spark", "session.get_spark"),
        (pipeline, "run", "pipeline.run"),
        (pipeline, "salted_repartition", "pipeline.salted_repartition"),
        (decode, "decode_html", "extractor.decode_html"),
        (parser, "parse_document", "extractor.parse_document"),
        (classify, "classify", "extractor.classify"),
        (render, "render", "extractor.render"),
        (pdf, "extract_pdf_text", "extractor.extract_pdf_text"),
        (catalog, "commit_chunk", "catalog.commit_chunk"),
        (catalog, "read_extracted", "catalog.read_extracted"),
        (catalog, "read_extracted_latest", "catalog.read_extracted_latest"),
        (catalog, "read_lineage", "catalog.read_lineage"),
        (catalog, "load_manifest", "catalog.load_manifest"),
        (cli, "cmd_ingest", "ingest.cmd_ingest"),
        (corpus, "dedup_increment", "ingest.dedup_increment"),
        (bloom, "build_bloom", "ingest.build_bloom"),
        (bloom, "bloom_dedup_increment", "ingest.bloom_dedup_increment"),
        (dedup, "content_fingerprint", "ingest.content_fingerprint"),
        (cli, "cmd_results", "cli.results"),
        (cli, "cmd_search", "cli.search"),
        (cli, "main", "cli.main"),
    ]
    for owner, attr, name in targets:
        _wrap(tracer, owner, attr, name, undo)

    orig_parquet = DataFrameWriter.parquet

    @functools.wraps(orig_parquet)
    def parquet(self, path, *args, **kwargs):
        name = f"parquet:{write_kind(str(path))}"
        return tracer.call(name, orig_parquet, (self, path, *args), kwargs, {"path": str(path)})

    DataFrameWriter.parquet = parquet
    undo.append((DataFrameWriter, "parquet", orig_parquet))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
