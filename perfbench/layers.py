"""Per-layer metrics of a traced run, and the trace file it writes.

Span-derived metrics come from the wrappers in ``trace.install``. The
``extractor`` and ``extract`` layers run in Spark's Python workers, out of
the driver's reach, so they are measured on a fixed sample of the workload's
base pages (the first pages up to ``EXTRACTOR_SAMPLE_BYTES`` of html), on one
core, outside Spark, through the same public functions.
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

import pyarrow.parquet as pq

from perfbench import trace
from perfbench.metrics import percentile


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


class _Spans:
    def __init__(self, spans: list[trace.Span]):
        self.spans = spans
        self.selfs = trace.self_times(spans)

    def named(self, name: str, within: trace.Span | None = None) -> list[int]:
        return [
            i
            for i, s in enumerate(self.spans)
            if s.name == name
            and (within is None or (s.start >= within.start and s.end <= within.end))
        ]

    def dur(self, name: str, within: trace.Span | None = None) -> float:
        return sum(self.spans[i].dur for i in self.named(name, within))

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]


def _extractor_sample(run) -> tuple[dict, list]:
    """Time each extractor stage on the sample; returns metrics and the
    sample rows as (html, fallback) pairs."""
    from mistral_ocr_spark.extractor import classify, core, decode, parser, pdf, render
    from perfbench.workload import EXTRACTOR_SAMPLE_BYTES

    rows, size = [], 0
    for f in sorted(os.listdir(os.path.join(run.inputs, "base"))):
        t = pq.read_table(os.path.join(run.inputs, "base", f), columns=["html", "text"])
        for h, fb in zip(t.column("html").to_pylist(), t.column("text").to_pylist()):
            rows.append((h, fb))
            size += len(h or b"")
            if size >= EXTRACTOR_SAMPLE_BYTES:
                break
        if size >= EXTRACTOR_SAMPLE_BYTES:
            break

    blocks = content = parsed = 0
    errors = {c: 0 for c in ("empty", "no_content", "unsupported_pdf", "encrypted_pdf", "extractor_error")}
    for html, fb in rows:
        try:
            r = core.extract(html, fb)
        except Exception:
            errors["extractor_error"] += 1
            continue
        if r.error_class is not None:
            errors[r.error_class] = errors.get(r.error_class, 0) + 1
        if html is None or not html.strip():
            continue
        if html[:5] == pdf.PDF_MAGIC:
            if not pdf.is_encrypted_pdf(html):
                pdf.extract_pdf_text(html)
            continue
        text, _enc = decode.decode_html(html)
        bl, _imgs = parser.parse_document(text)
        kept = [b for b in classify.classify(bl) if b.is_content]
        if kept:
            render.render(kept)
        parsed += 1
        blocks += len(bl)
        content += len(kept)
    sp = _Spans(run.tracer.spans)
    out = {
        "extractor.decode_s": _m(sp.dur("extractor.decode_html"), "s"),
        "extractor.parse_s": _m(sp.dur("extractor.parse_document"), "s"),
        "extractor.classify_s": _m(sp.dur("extractor.classify"), "s"),
        "extractor.render_s": _m(sp.dur("extractor.render"), "s"),
        "extractor.pdf_s": _m(sp.dur("extractor.extract_pdf_text"), "s"),
        "extractor.sample_docs": _m(len(rows), "count"),
        "extractor.blocks_per_doc": _m(blocks / max(parsed, 1), "count"),
        "extractor.content_ratio": _m(content / max(blocks, 1), "ratio"),
    }
    for c, n in errors.items():
        out[f"extractor.errors.{c}"] = _m(n, "count")
    return out, rows


def _extract_kernel(rows: list) -> dict:
    """``extract_batches`` over the sample versus bare ``extract()`` calls."""
    import pyarrow as pa

    from mistral_ocr_spark.extractor import extract
    from mistral_ocr_spark.operators.extract import extract_batches
    from perfbench.gen import PAGES_ARROW_SCHEMA

    n = len(rows)
    tbl = pa.table(
        [
            pa.array([f"u{i}" for i in range(n)], pa.string()),
            pa.array([None] * n, pa.timestamp("us")),
            pa.array([h for h, _ in rows], pa.binary()),
            pa.array([fb for _, fb in rows], pa.string()),
            pa.array([None] * n, pa.string()),
        ],
        schema=PAGES_ARROW_SCHEMA,
    )
    batches = tbl.to_batches(max_chunksize=2048)
    # alternate the two, best of three each: the difference is small beside
    # the extractor's own time, so order effects must not decide its sign
    kernel, bare = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        produced = sum(b.num_rows for b in extract_batches(iter(batches)))
        kernel.append(time.perf_counter() - t0)
        if produced != n:
            raise RuntimeError(f"extract_batches returned {produced} rows for {n}")
        t0 = time.perf_counter()
        for h, fb in rows:
            extract(h, fb)
        bare.append(time.perf_counter() - t0)
    t_kernel, t_extract = min(kernel), min(bare)
    return {
        "extract.kernel_docs_per_s": _m(n / t_kernel, "1/s"),
        "extract.arrow_s": _m(t_kernel - t_extract, "s"),
    }


def collect(run, setup: dict, out: dict) -> dict:
    from mistral_ocr_spark.sources import catalog

    sp = _Spans(run.tracer.spans)
    spans = sp.spans
    m: dict = {
        "session.start_s": _m(setup["start"], "s"),
        "session.warm_s": _m(setup["warm"], "s"),
        # peak resident memory over the timed phases: the whole process
        # tree, and its Python processes alone (driver and workers)
        "process.peak_rss_mb": _m(out["peak_rss"] / 2**20, "MB"),
        "process.peak_py_rss_mb": _m(out["peak_py_rss"] / 2**20, "MB"),
    }

    # pipeline: the submit phase's run is the root pipeline.run span
    runs = sp.named("pipeline.run")
    submit_i = next(i for i in runs if spans[i].parent is None)
    sub = spans[submit_i]
    last_child_end = max((spans[i].end for i in sp.children(submit_i)), default=sub.start)
    base_lin = [r for r in run.lineage if r.run_id == "bench-base"]
    counts = [r.doc_count for r in base_lin]
    manifest = catalog.load_manifest(run.table)
    data_files = manifest["data_files"]
    m.update({
        "pipeline.run_s": _m(sub.dur, "s"),
        "pipeline.chunk_write_s": _m(sp.dur("parquet:pipeline.data", sub), "s"),
        "pipeline.lineage_s": _m(sp.dur("parquet:pipeline.lineage", sub), "s"),
        "pipeline.stats_s": _m(sub.end - last_child_end, "s"),
        "pipeline.partition_skew": _m(max(counts) / (sum(counts) / len(counts)), "ratio"),
        "pipeline.files_written": _m(sum("/run=bench-base/" in f for f in data_files), "count"),
    })

    # catalog
    with open(os.path.join(run.table, "_CURRENT")) as f:
        manifest_path = os.path.join(run.table, "_manifests", f.read().strip())
    opens = [spans[i].dur * 1e3 for i in sp.named("catalog.read_extracted")]
    m.update({
        "catalog.commit_s": _m(sp.dur("catalog.commit_chunk"), "s"),
        "catalog.commits": _m(len(sp.named("catalog.commit_chunk")), "count"),
        "catalog.open_ms": _m(median(opens), "ms"),
        "catalog.data_files": _m(len(data_files), "count"),
        "catalog.bytes_per_html_byte": _m(
            sum(os.path.getsize(p) for p in data_files) / run.exp["html_bytes"], "ratio"
        ),
        "catalog.manifest_bytes": _m(os.path.getsize(manifest_path), "B"),
    })

    # ingest: its writes are told apart by target path
    ing_i = sp.named("ingest.cmd_ingest")[0]
    ing = spans[ing_i]
    commit_run = next(i for i in runs if spans[i].start >= ing.start and spans[i].end <= ing.end)
    paths = {
        spans[i].attrs["path"]
        for k in ("parquet:ingest.select", "parquet:ingest.select_novel")
        for i in sp.named(k, ing)
    }
    extracted = sum(run.spark.read.parquet(p).count() for p in paths)
    m.update({
        "ingest.corpus_fp_s": _m(sp.dur("parquet:ingest.corpus_fp", ing), "s"),
        "ingest.committed_urls_s": _m(sp.dur("parquet:ingest.committed_urls", ing), "s"),
        "ingest.select_s": _m(
            sp.dur("parquet:ingest.select", ing) + sp.dur("parquet:ingest.select_novel", ing), "s"
        ),
        "ingest.decide_extract_s": _m(sp.dur("parquet:ingest.decide_extract", ing), "s"),
        "ingest.dedup_s": _m(
            sp.dur("ingest.dedup_increment", ing) + sp.dur("parquet:ingest.drop", ing), "s"
        ),
        "ingest.commit_run_s": _m(spans[commit_run].dur, "s"),
        "ingest.withheld": _m(run.exp["inc_urls"] - run.inc_committed, "count"),
        "ingest.extract_passes": _m(extracted / max(run.inc_committed, 1), "ratio"),
    })

    # cli read path
    def open_ms(i: int) -> float:
        s = spans[i]
        ends = [spans[j].end for j in sp.named("catalog.read_extracted", s)]
        return (max(ends) - s.start) * 1e3

    res = sp.named("cli.results")
    srch = sp.named("cli.search")
    m.update({
        "lookup.open_ms": _m(median([open_ms(i) for i in res]), "ms"),
        "lookup.scan_ms": _m(median([sp.selfs[i] * 1e3 for i in res]), "ms"),
        "search.scan_ms": _m(median([sp.selfs[i] * 1e3 for i in srch]), "ms"),
        # the whole verbs as their caller waits for them: end-to-end
        # latencies, listed per layer because host contention moves them by
        # more than any bound an end-to-end metric may have
        "lookup.p50_ms": _m(median(out["lookup_ms"]), "ms"),
        "lookup.p75_ms": _m(percentile(out["lookup_ms"], 75), "ms"),
        "search.p50_ms": _m(median(out["search_ms"]), "ms"),
    })

    # tracing itself: reconciliation gap over the timed phases (untraced
    # lookups, the overhead A/B, count as covered), and the traced-minus-
    # untraced lookup latency
    gap = trace.root_gap(spans, out["t_begin"], out["t_end"]) - sum(
        b - a for a, b in out["untraced"]
    )
    traced = [ms for ms, t in zip(out["lookup_ms"], out["lookup_traced"]) if t]
    plain = [ms for ms, t in zip(out["lookup_ms"], out["lookup_traced"]) if not t]
    m.update({
        "trace.gap_s": _m(gap, "s"),
        "trace.gap_frac": _m(gap / out["timed_s"], "ratio"),
        "trace.overhead_ms": _m(median(traced) - median(plain), "ms"),
        "trace.spans": _m(len(spans), "count"),
    })

    ext, rows = _extractor_sample(run)
    m.update(ext)
    m.update(_extract_kernel(rows))
    _write(run, _Spans(run.tracer.spans))  # now with the sample's spans
    return m


def _write(run, sp: _Spans) -> None:
    by_name: dict[str, dict] = {}
    for s, self_s in zip(sp.spans, sp.selfs):
        e = by_name.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        e["calls"] += 1
        e["total_s"] += s.dur
        e["self_s"] += self_s
    d = os.path.join(run.work, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{run.name}-s{run.seed}.json"), "w") as f:
        json.dump(
            {
                "env": run.env,
                "by_name": by_name,
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "self": self_s, **s.attrs}
                    for s, self_s in zip(sp.spans, sp.selfs)
                ],
            },
            f,
        )
