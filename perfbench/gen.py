"""Seeded page generator and golden digests for the benchmark.

The generator is the benchmark's own, so its knobs can be set per workload:
page size, hot-host share, edge-row shares, and the increment's duplicate,
committed-url and recrawl shares. Every word is drawn from a seeded
vocabulary of several thousand random tokens, so two pages share content only
where a duplicate is planted on purpose.

For every generated page the generator also records the text the extractor
must return, as far as the page's construction fixes it (the construction
oracle), and the error class it must carry. ``golden`` then runs the
package's ``extractor.extract`` on every page and keeps a per-url digest.
Both are cached with the inputs, keyed by workload, seed and ``input_key``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Edge kinds and the error class the extractor must give them. ``None`` means
# the page must extract successfully.
EDGE_CLASS = {
    "pdf": None,
    "pdf_unsupported": "unsupported_pdf",
    "pdf_encrypted": "encrypted_pdf",
    "null_fallback": None,
    "null_empty": "empty",
    "empty": "empty",
    "no_content": "no_content",
    "latin1": None,
    "script": None,
}

_BASE_TS = dt.datetime(2024, 3, 1, 0, 0, 0)
_LANGS = ("en", "de", "fr", "es")
LOOKUP_URLS = 40  # distinct lookup urls; the serve loop cycles through them
SEARCH_QUERIES = 10  # distinct search queries, cycled likewise


@dataclass(frozen=True)
class Shape:
    """Generator knobs of one workload."""

    base_pages: int
    inc_pages: int
    words_min: int  # words per paragraph
    words_max: int
    paras_min: int  # paragraphs per page
    paras_max: int
    hot_share: float = 0.3
    edge_shares: dict = field(default_factory=dict)  # edge kind -> share
    dup_share: float = 0.1  # increment rows copying a committed page's html
    committed_share: float = 0.1  # increment rows reusing a committed url
    recrawl_share: float = 0.05  # increment urls crawled twice in the batch


@dataclass
class Page:
    url: str
    ts: dt.datetime
    html: bytes | None
    fallback: str | None
    lang: str
    kind: str  # "normal" or an EDGE_CLASS key
    expect_text: str | None  # construction oracle; None for error kinds


class _Gen:
    def __init__(self, shape: Shape, seed: int, tag: str):
        self.shape = shape
        self.rng = random.Random(f"{tag}:{seed}")
        self.seed = seed
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < 6000:
            n = self.rng.randint(3, 10)
            vocab.add("".join(self.rng.choice(letters) for _ in range(n)))
        self.vocab = sorted(vocab)
        self.kinds = list(shape.edge_shares)
        self.cum = []
        acc = 0.0
        for k in self.kinds:
            acc += shape.edge_shares[k]
            self.cum.append(acc)
        self.n_urls = 0
        self.n_ts = 0

    def words(self, n: int) -> str:
        return " ".join(self.rng.choices(self.vocab, k=n))

    def next_url(self) -> str:
        i = self.n_urls
        self.n_urls += 1
        if self.rng.random() < self.shape.hot_share:
            host = "hot.example.com"
        else:
            host = f"h{self.rng.randrange(3000)}.example.org"
        return f"https://{host}/s{self.seed}/p{i}.html"

    def next_ts(self) -> dt.datetime:
        # distinct timestamps keep the newest-first order of search results
        # fully determined
        self.n_ts += 1
        return _BASE_TS + dt.timedelta(seconds=self.n_ts * 3)

    def pick_kind(self) -> str:
        r = self.rng.random()
        for k, c in zip(self.kinds, self.cum):
            if r < c:
                return k
        return "normal"

    def page(self, url: str, ts: dt.datetime, kind: str) -> Page:
        s = self.shape
        lang = self.rng.choice(_LANGS)
        if kind == "null_fallback":
            t = self.words(self.rng.randint(s.words_min, s.words_max))
            return Page(url, ts, None, "  " + t + " \n", lang, kind, t)
        if kind == "null_empty":
            return Page(url, ts, None, None, lang, kind, None)
        if kind == "empty":
            return Page(url, ts, b"  \n ", None, lang, kind, None)
        if kind.startswith("pdf"):
            return self._pdf(url, ts, kind, lang)
        if kind == "no_content":
            html = (
                "<html><head><title>Index</title></head><body>"
                + _NAV
                + '<footer><a href="/t">Terms</a></footer></body></html>'
            )
            return Page(url, ts, html.encode(), None, lang, kind, None)

        blocks = [f"Section {self.rng.randrange(100)}"]
        heading = blocks[0]
        if kind == "latin1":
            heading = "café " + heading
            blocks[0] = heading
        paras = [
            self.words(self.rng.randint(s.words_min, s.words_max))
            for _ in range(self.rng.randint(s.paras_min, s.paras_max))
        ]
        blocks += paras
        body = "".join(f"<p>{p}</p>" for p in paras)
        if self.rng.random() < 0.2:
            items = [self.words(self.rng.randint(4, 9)) for _ in range(3)]
            body += "<ul>" + "".join(f"<li>{x}</li>" for x in items) + "</ul>"
            blocks += items
        if self.rng.random() < 0.15:
            body = f'<img src="/img/{self.n_urls}.png">' + body
        if kind == "script":
            body += '<script>var s = "<p>not text</p>"; if (a<b) { run(); }</script>'
            body = "<style>p:before{content:'<x>'}</style>" + body
        head = "<head><title>Page</title></head>"
        if kind == "latin1":
            head = '<head><meta charset="iso-8859-1"><title>Page</title></head>'
        html = (
            f"<html>{head}<body>{_NAV}<article><h2>{heading}</h2>{body}</article>"
            '<footer><a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
            "</body></html>"
        )
        raw = html.encode("latin-1" if kind == "latin1" else "utf-8")
        return Page(url, ts, raw, None, lang, kind, "\n\n".join(blocks))

    def _pdf(self, url: str, ts: dt.datetime, kind: str, lang: str) -> Page:
        if kind == "pdf_unsupported":
            raw = b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image >>\nendobj\n%%EOF"
            return Page(url, ts, raw, None, lang, kind, None)
        lines = [self.words(self.rng.randint(5, 12)) for _ in range(3)]
        objs = b"\n".join(b"BT /F1 12 Tf 72 700 Td (" + w.encode() + b") Tj ET" for w in lines)
        raw = b"%PDF-1.4\n1 0 obj\n" + objs + b"\nendobj\n"
        if kind == "pdf_encrypted":
            raw += b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n%%EOF"
            return Page(url, ts, raw, None, lang, kind, None)
        return Page(url, ts, raw, None, lang, kind, "\n\n".join(lines))


_NAV = (
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/news">News</a></li>'
    '<li><a href="/about">About</a></li></ul></nav>'
)


def generate(shape: Shape, seed: int, tag: str) -> tuple[list[Page], list[Page], dict]:
    """Base pages, increment pages and the increment's planted roles.

    Roles: ``dup`` urls carry a committed page's exact html under a new url,
    ``committed`` urls are base urls crawled again with new content,
    ``recrawl`` urls appear twice in the increment (the later copy must win),
    every other increment url is ``novel``.
    """
    g = _Gen(shape, seed, tag)
    base = [g.page(g.next_url(), g.next_ts(), g.pick_kind()) for _ in range(shape.base_pages)]

    n = shape.inc_pages
    n_dup = int(n * shape.dup_share)
    n_committed = int(n * shape.committed_share)
    n_recrawl = int(n * shape.recrawl_share)
    n_novel = n - n_dup - n_committed - 2 * n_recrawl
    if n_novel < 0:
        raise ValueError("increment shares add up to more than the increment")

    normal_base = [p for p in base if p.kind == "normal"]
    dup_src = g.rng.sample(normal_base, n_dup)
    committed_src = g.rng.sample(base, n_committed)
    inc: list[Page] = []
    roles: dict[str, str] = {}
    for src in dup_src:
        p = Page(g.next_url(), g.next_ts(), src.html, None, src.lang, "normal", src.expect_text)
        inc.append(p)
        roles[p.url] = "dup"
    for src in committed_src:
        p = g.page(src.url, g.next_ts(), "normal")
        inc.append(p)
        roles[p.url] = "committed"
    for _ in range(n_recrawl):
        url = g.next_url()
        old = g.page(url, g.next_ts(), "normal")
        new = g.page(url, g.next_ts(), g.pick_kind())
        inc += [new, old]  # batch order must not decide which copy wins
        roles[url] = "recrawl"
    for _ in range(n_novel):
        p = g.page(g.next_url(), g.next_ts(), g.pick_kind())
        inc.append(p)
        roles[p.url] = "novel"
    g.rng.shuffle(inc)
    return base, inc, roles


def write_pages(pages: list[Page], path: str, rows_per_file: int) -> None:
    """Write pages as parquet files of ``rows_per_file`` rows under ``path``."""
    os.makedirs(path, exist_ok=True)
    for k in range(0, len(pages), rows_per_file):
        part = pages[k : k + rows_per_file]
        tbl = pa.table(
            [
                pa.array([p.url for p in part], pa.string()),
                pa.array([p.ts for p in part], pa.timestamp("us")),
                pa.array([p.html for p in part], pa.binary()),
                pa.array([p.fallback for p in part], pa.string()),
                pa.array([p.lang for p in part], pa.string()),
            ],
            schema=PAGES_ARROW_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(path, f"part-{k // rows_per_file:05d}.parquet"))


def digest(text: str | None) -> str | None:
    """sha256 hex of the UTF-8 text: Spark's ``sha2(text, 256)`` equivalent."""
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def _extract_chunk(items: list[tuple[bytes | None, str | None]]) -> list[tuple]:
    from mistral_ocr_spark.extractor import extract

    out = []
    for html, fb in items:
        r = extract(html, fb)
        out.append((r.text, r.error_class))
    return out


def golden(pages: list[Page], workers: int) -> list[tuple[str | None, str | None]]:
    """(text, error_class) of ``extractor.extract`` for every page, in order."""
    items = [(p.html, p.fallback) for p in pages]
    step = max(1, -(-len(items) // (workers * 4)))
    chunks = [items[k : k + step] for k in range(0, len(items), step)]
    if workers <= 1:
        results = [_extract_chunk(c) for c in chunks]
    else:
        import multiprocessing as mp

        from multiprocessing import resource_tracker

        with mp.get_context("spawn").Pool(workers) as pool:
            results = pool.map(_extract_chunk, chunks)
        pool.join()
        # the spawned pool started multiprocessing's resource tracker, which
        # otherwise outlives this process by a moment; end it and wait for it
        resource_tracker._resource_tracker._stop()
    return [r for chunk in results for r in chunk]


def build_inputs(shape: Shape, seed: int, tag: str, out_dir: str, workers: int) -> dict:
    """Generate a workload's inputs and expectations into ``out_dir``.

    Returns the expectation record (also written as ``expect.json``):
    per-url digest and error class of every url that must be committed,
    the planted error-class counts, the urls ingest must withhold, and the
    lookups and searches with their expected rows.
    """
    base, inc, roles = generate(shape, seed, tag)
    # the increment's committed pages are the latest copy per url that is
    # neither a withheld duplicate nor an already-committed url
    latest: dict[str, Page] = {}
    for p in inc:
        if roles[p.url] in ("dup", "committed"):
            continue
        if p.url not in latest or p.ts > latest[p.url].ts:
            latest[p.url] = p
    inc_kept = sorted(latest.values(), key=lambda p: p.url)

    gold = golden(base + inc_kept, workers)
    gold_base, gold_inc = gold[: len(base)], gold[len(base) :]

    oracle_mismatch = []
    committed = {}
    for pages, gold, phase in ((base, gold_base, "base"), (inc_kept, gold_inc, "inc")):
        for p, (text, err) in zip(pages, gold):
            want_err = None if p.kind == "normal" else EDGE_CLASS[p.kind]
            if err != want_err or (p.expect_text is not None and text != p.expect_text):
                oracle_mismatch.append(p.url)
            committed[p.url] = {
                "digest": digest(text),
                "error_class": err,
                "ts": p.ts.isoformat(sep=" "),
                "phase": phase,
            }

    def planted(pages: list[Page]) -> dict[str, int]:
        c: dict[str, int] = {}
        for p in pages:
            cls = None if p.kind == "normal" else EDGE_CLASS[p.kind]
            if cls is not None:
                c[cls] = c.get(cls, 0) + 1
        return c

    rng = random.Random(f"queries:{tag}:{seed}")
    urls = sorted(committed)
    lookups = [rng.choice(urls) for _ in range(LOOKUP_URLS)]

    # search: a vocabulary word from a committed text; expected rows are the
    # newest 50 committed urls whose text contains it
    texts = {p.url: t for pages, gold in ((base, gold_base), (inc_kept, gold_inc))
             for p, (t, _e) in zip(pages, gold)}
    with_text = [u for u in urls if texts[u]]
    searches = []
    for _ in range(SEARCH_QUERIES):
        words = texts[rng.choice(with_text)].split()
        q = rng.choice([w for w in words if len(w) >= 6] or words)
        hits = [u for u in urls if texts[u] and q in texts[u]]
        hits.sort(key=lambda u: committed[u]["ts"], reverse=True)  # ts are distinct
        searches.append({"query": q, "urls": hits[:50]})

    expect = {
        "oracle_mismatch": oracle_mismatch,
        "committed": committed,
        "inc_rows": len(inc),
        "inc_urls": len(roles),
        "planted_base": planted(base),
        "planted_inc": planted(inc_kept),
        "withheld": sorted(u for u, r in roles.items() if r in ("dup", "committed")),
        "withheld_dups": sum(1 for r in roles.values() if r == "dup"),
        "lookups": lookups,
        "searches": searches,
        "html_bytes": sum(len(p.html) for p in base + inc_kept if p.html is not None),
    }
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = 4096
    write_pages(base, os.path.join(tmp, "base"), rows)
    write_pages(inc, os.path.join(tmp, "inc"), rows)
    write_pages(base[:256], os.path.join(tmp, "warm"), rows)
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(expect, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return expect


def input_key(shape: Shape) -> str:
    """Eight hex digits of a hash over the shape and this module's source, so
    that a changed shape or generator builds its inputs afresh instead of
    reusing a cached set made by other code."""
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(repr(shape).encode() + b"\0" + src).hexdigest()[:8]


def load_or_build(shape: Shape, seed: int, tag: str, out_dir: str, workers: int) -> dict:
    path = os.path.join(out_dir, "expect.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return build_inputs(shape, seed, tag, out_dir, workers)
