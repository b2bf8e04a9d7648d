"""One benchmark run: set-up, the timed phases, the correctness gate and,
with tracing, the per-layer metrics.

Every workload runs the same phases over its own generated inputs:

1. set-up: ``get_spark`` (which launches the JVM) plus a warm-up
   ``extract_pages`` job, as every CLI verb pays it.
2. submit: ``pipeline.run`` over the base pages into a fresh table.
3. ingest: ``cli.main(["ingest", ...])`` of the increment into that table.
4. serve: a closed loop with one client: ``cli.main(["results", ...])``
   lookups with a ``cli.main(["search", ...])`` query after every fifth.
   In a traced run a few unrecorded operations warm the read path first,
   and the number of recorded operations follows from ``--seconds`` alone,
   so a faster submit or ingest does not buy more, warmer samples. An
   untraced run reports no serve latency, so its loop is a short
   correctness check.

The gate then reads the committed table back and compares it with the
golden digests and the planted counts.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback

from perfbench import gen, trace
from perfbench.metrics import PeakRss, cpu_jiffies

_EDGES = {
    "pdf": 0.01,
    "pdf_unsupported": 0.004,
    "pdf_encrypted": 0.004,
    "null_fallback": 0.01,
    "null_empty": 0.004,
    "empty": 0.008,
    "no_content": 0.01,
    "latin1": 0.01,
    "script": 0.01,
}

# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    # ~0.7 KB pages: per-document and per-chunk fixed costs dominate
    "crawl_small": gen.Shape(
        base_pages=12000, inc_pages=600, words_min=8, words_max=30,
        paras_min=1, paras_max=4, edge_shares=_EDGES,
    ),
    # ~11 KB pages: the parser dominates
    "crawl_large": gen.Shape(
        base_pages=600, inc_pages=80, words_min=40, words_max=90,
        paras_min=18, paras_max=30, edge_shares=_EDGES,
    ),
    # small base, large increment full of planted duplicates, committed
    # urls and recrawls, then the serve loop over the grown table
    "ingest_serve": gen.Shape(
        base_pages=2000, inc_pages=3000, words_min=8, words_max=30,
        paras_min=1, paras_max=4, edge_shares=_EDGES,
        dup_share=0.2, committed_share=0.15, recrawl_share=0.05,
    ),
}

# One chunk per batch: each chunk adds a fixed ~1.5 s of Spark jobs on a
# 4-CPU box, and two more would not fit the run's time budget.
CHUNKS = 1
# serve loop: recorded lookups per second of --seconds, with a floor that
# leaves ten lookups beyond the p75; a search follows every fifth lookup
LOOKUPS_PER_S = 3
MIN_LOOKUPS = 40
LOOKUPS_PER_SEARCH = 5
# unrecorded lookups first: the first calls of each verb plan and compile
# their queries
WARM_LOOKUPS = 6
# lookups of an untraced run, which only the correctness gate uses
CHECK_LOOKUPS = 10
KEEP_INPUT_SETS = 8
EXTRACTOR_SAMPLE_BYTES = 4_000_000
# the serve loop stops here even short of its sample counts, so that a run
# with hanging lookups still ends well within its 180 s
MAX_TIMED_S = 110


def _stop_jvm() -> None:
    """End the JVM, which exits when its stdin closes, and wait for it.
    Spark's Python workers end with it; run.py waits for them."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(timeout=60)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, root: str):
        self.name = workload
        self.shape = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.root = root
        self.work = os.path.join(root, ".perfbench")
        self.inputs = os.path.join(
            self.work, "inputs", f"{workload}-s{seed}-{gen.input_key(self.shape)}"
        )
        self.table = os.path.join(self.work, "tables", workload)
        self.tracer = trace.Tracer() if traced else None
        self.errors: list[str] = []  # correctness failures
        self.raised = 0  # operations that raised
        self.attempted = 0

    # -- helpers ---------------------------------------------------------
    def _raised(self, op: str) -> None:
        traceback.print_exc(file=sys.stderr)
        self.raised += 1
        self.errors.append(f"{op} raised {sys.exc_info()[1]!r}")

    def _cli(self, argv: list[str]) -> tuple[int, str]:
        from mistral_ocr_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        return rc, buf.getvalue()

    def _spark(self):
        from mistral_ocr_spark import session

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        return session.get_spark(app_name="perfbench", extra_conf=conf)

    # -- phases ----------------------------------------------------------
    def setup(self) -> dict:
        from mistral_ocr_spark.operators.extract import extract_pages

        t0 = time.perf_counter()
        self.spark = self._spark()
        t1 = time.perf_counter()
        extract_pages(self.spark.read.parquet(os.path.join(self.inputs, "warm"))).count()
        t2 = time.perf_counter()
        return {"start": t1 - t0, "warm": t2 - t1, "total": t2 - t0}

    def timed(self) -> dict:
        from mistral_ocr_spark import pipeline

        spark = self.spark
        shutil.rmtree(self.table, ignore_errors=True)
        out: dict = {"untraced": []}
        pages = spark.read.parquet(os.path.join(self.inputs, "base"))
        t_begin = time.perf_counter()

        # submit
        self.attempted += self.shape.base_pages
        t0 = time.perf_counter()
        try:
            stats = pipeline.run(spark, pages, self.table, run_id="bench-base", n_chunks=CHUNKS)
        except Exception:  # counted as failed; the gate reports it
            self._raised("submit")
            return out
        out["submit_s"] = time.perf_counter() - t0
        out["submit_docs"] = stats["docs"]

        # ingest
        self.attempted += self.exp["inc_rows"]
        t0 = time.perf_counter()
        try:
            rc, text = self._cli(
                ["ingest", "--table", self.table, "--pages", os.path.join(self.inputs, "inc"),
                 "--chunks", str(CHUNKS)]
            )
        except Exception:
            self._raised("ingest")
            return out
        out["ingest_s"] = time.perf_counter() - t0
        out["ingest_stats"] = json.loads(text.strip().splitlines()[-1]) if rc == 0 else {}
        if rc != 0:
            self.errors.append(f"ingest exited {rc}")

        # serve: closed loop, one client, a fixed number of operations
        t_serve = time.perf_counter()
        lookups, searches = self.exp["lookups"], self.exp["searches"]
        out["lookup_ms"], out["search_ms"] = [], []
        out["lookup_traced"] = []
        if self.tracer is None:
            warm, n = 0, CHECK_LOOKUPS
        else:
            warm, n = WARM_LOOKUPS, max(MIN_LOOKUPS, LOOKUPS_PER_S * round(self.seconds))
        for i in range(-warm, n):
            if time.perf_counter() - t_begin > MAX_TIMED_S:
                self.errors.append(
                    f"serve phase cut at {MAX_TIMED_S} s after {max(i, 0)} recorded lookups"
                )
                break
            rec = out if i >= 0 else None
            if self.tracer is not None and rec is not None:
                # alternate traced and untraced lookups: their difference is
                # the tracing overhead on one end-to-end operation
                self.tracer.enabled = i % 2 == 0
            self._lookup(lookups[i % len(lookups)], rec)
            if self.tracer is not None:
                self.tracer.enabled = True
            if i % LOOKUPS_PER_SEARCH == LOOKUPS_PER_SEARCH - 1:
                self._search(searches[(i // LOOKUPS_PER_SEARCH) % len(searches)], rec)
        out["serve_s"] = time.perf_counter() - t_serve
        out["timed_s"] = time.perf_counter() - t_begin
        out["t_begin"], out["t_end"] = t_begin, t_begin + out["timed_s"]
        return out

    def _lookup(self, url: str, out: dict | None) -> None:
        """One ``results`` call, checked; its latency goes to ``out`` unless
        that is None (a warm-up call)."""
        want = self.exp["committed"][url]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rc, text = self._cli(["results", "--table", self.table, "--url", url])
        except Exception:
            self._raised(f"results {url}")
            return
        t1 = time.perf_counter()
        if out is not None:
            out["lookup_ms"].append((t1 - t0) * 1e3)
            traced = self.tracer is not None and self.tracer.enabled
            out["lookup_traced"].append(traced)
            if not traced:
                out["untraced"].append((t0, t1))
        rows = [json.loads(line) for line in text.splitlines() if line.startswith("{")]
        if rc != 0 or len(rows) != 1 or rows[0]["url"] != url:
            self.errors.append(f"results {url}: rc={rc} rows={len(rows)}")
        elif gen.digest(rows[0]["text"]) != want["digest"] or rows[0]["error_class"] != want["error_class"]:
            self.errors.append(f"results {url}: wrong text or error class")

    def _search(self, q: dict, out: dict | None) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rc, text = self._cli(["search", "--table", self.table, "--query", q["query"]])
        except Exception:
            self._raised(f"search {q['query']!r}")
            return
        if out is not None:
            out["search_ms"].append((time.perf_counter() - t0) * 1e3)
        got = []
        for line in text.splitlines():
            cells = line.split("|")
            if len(cells) > 2 and cells[1].strip().startswith("http"):
                got.append(cells[1].strip())
        if rc != 0 or got != q["urls"]:
            self.errors.append(f"search {q['query']!r}: {len(got)} rows, expected {len(q['urls'])}")

    # -- the correctness gate -------------------------------------------
    def gate(self, out: dict) -> int:
        """Checks the committed table; returns the extractor_error row count."""
        from pyspark.sql import functions as F

        from mistral_ocr_spark.sources import catalog

        spark, exp = self.spark, self.exp
        if exp["oracle_mismatch"]:
            self.errors.append(
                f"extractor disagrees with the page construction on "
                f"{len(exp['oracle_mismatch'])} urls, e.g. {exp['oracle_mismatch'][0]}"
            )
        if "submit_s" not in out:
            return 0
        rows = (
            catalog.read_extracted(spark, self.table)
            .select("url", F.sha2("text", 256).alias("d"), "error_class", "run_id")
            .collect()
        )
        by_url: dict[str, list] = {}
        for r in rows:
            by_url.setdefault(r.url, []).append(r)
        want = exp["committed"]
        dup_rows = [u for u, rs in by_url.items() if len(rs) > 1]
        if dup_rows:
            self.errors.append(f"{len(dup_rows)} urls committed more than once")
        missing = set(want) - set(by_url)
        extra = set(by_url) - set(want)
        if missing or extra:
            self.errors.append(f"committed urls differ: {len(missing)} missing, {len(extra)} unexpected")
        withheld = set(exp["withheld"])
        wrong = 0
        counts = {"base": {}, "inc": {}}
        extractor_errors = 0
        for u, rs in by_url.items():
            r = rs[0]
            if r.error_class == "extractor_error":
                extractor_errors += 1
            w = want.get(u)
            if w is None:
                continue
            if r.d != w["digest"] or r.error_class != w["error_class"]:
                wrong += 1
            phase = "base" if r.run_id == "bench-base" else "inc"
            if phase != w["phase"]:
                wrong += 1
            if r.error_class is not None:
                counts[phase][r.error_class] = counts[phase].get(r.error_class, 0) + 1
        if wrong:
            self.errors.append(f"{wrong} committed rows differ from the golden digests")
        inc_urls = {r.url for r in rows if r.run_id != "bench-base"}
        if inc_urls & withheld:
            self.errors.append(f"ingest committed {len(inc_urls & withheld)} urls it must withhold")
        for phase in ("base", "inc"):
            if counts[phase] != exp[f"planted_{phase}"]:
                self.errors.append(
                    f"{phase} error classes {counts[phase]} != planted {exp[f'planted_{phase}']}"
                )
        skipped = out.get("ingest_stats", {}).get("skipped_duplicate_urls")
        if skipped != exp["withheld_dups"]:
            self.errors.append(f"ingest withheld {skipped} duplicates, planted {exp['withheld_dups']}")

        lin = catalog.read_lineage(spark, self.table).collect()
        per_run: dict[str, int] = {}
        for r in lin:
            per_run[r.run_id] = per_run.get(r.run_id, 0) + r.doc_count
            if r.succeeded + r.failed != r.doc_count:
                self.errors.append(f"lineage row {r.run_id}/{r.chunk_id}/{r.partition_id} does not add up")
        rows_per_run: dict[str, int] = {}
        for r in rows:
            rows_per_run[r.run_id] = rows_per_run.get(r.run_id, 0) + 1
        if per_run != rows_per_run:
            self.errors.append(f"lineage doc_count {per_run} != rows {rows_per_run}")
        self.lineage = lin
        self.inc_committed = len(inc_urls)
        return extractor_errors

    # -- the whole run ---------------------------------------------------
    def _evict_inputs(self) -> None:
        """Keep the most recently used input sets only: every seed has its
        own, and a measurement runs many seeds in one checkout."""
        d = os.path.dirname(self.inputs)
        os.utime(self.inputs)
        sets = sorted(
            (os.path.join(d, n) for n in os.listdir(d) if not n.endswith(".tmp")),
            key=os.path.getmtime,
        )
        for old in sets[:-KEEP_INPUT_SETS]:
            shutil.rmtree(old, ignore_errors=True)

    def execute(self) -> dict:
        workers = max(1, len(os.sched_getaffinity(0)))
        t_inputs = time.perf_counter()
        self.exp = gen.load_or_build(self.shape, self.seed, self.name, self.inputs, workers)
        t_inputs = time.perf_counter() - t_inputs
        self._evict_inputs()
        undo = trace.install(self.tracer) if self.tracer is not None else []
        try:
            setup = self.setup()
            cpu0 = cpu_jiffies()
            with PeakRss() as rss:
                out = self.timed()
            cpu1 = cpu_jiffies()
            out["peak_rss"], out["peak_py_rss"] = rss.peak, rss.peak_python
            t_after = time.perf_counter()
            extractor_errors = self.gate(out)
            traced = self.tracer is not None and not self.errors
            layers = self.layers(setup, out) if traced else {}
        finally:
            trace.uninstall(undo)
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
            _stop_jvm()
        t_after = time.perf_counter() - t_after
        phases = {k: round(out[k], 2) for k in ("submit_s", "ingest_s", "serve_s") if k in out}
        print(f"perfbench phases: inputs={t_inputs:.2f} setup={setup['total']:.2f} {phases} "
              f"gate_and_stop={t_after:.2f} "
              f"lookups={len(out.get('lookup_ms', []))} searches={len(out.get('search_ms', []))} "
              f"stolen_cpu={(cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1):.3f}",
              file=sys.stderr, flush=True)
        failed = self.raised + extractor_errors
        result = {
            "correct": not self.errors and failed == 0,
            "attempted": self.attempted,
            "failed": failed,
        }
        if self.errors:
            for e in self.errors[:20]:
                print(f"perfbench gate: {e}", file=sys.stderr, flush=True)
        if self.tracer is not None:
            result["metrics"] = layers
        else:
            result["metrics"] = self.end_to_end(setup, out)
        return result

    def end_to_end(self, setup: dict, out: dict) -> dict:
        """The serve phase's latencies are not among these: host contention
        moves them by more than an end-to-end bound allows, so the traced
        run reports them per layer (README.md)."""
        if self.errors or self.raised:
            return {}
        def m(v, unit):
            return {"value": v, "unit": unit}
        return {
            "setup_s": m(setup["total"], "s"),
            "docs_per_s": m(out["submit_docs"] / out["submit_s"], "1/s"),
            "ingest_docs_per_s": m(self.exp["inc_rows"] / out["ingest_s"], "1/s"),
        }

    # -- per-layer metrics (traced run) ----------------------------------
    def layers(self, setup: dict, out: dict) -> dict:
        from perfbench import layers

        return layers.collect(self, setup, out)
