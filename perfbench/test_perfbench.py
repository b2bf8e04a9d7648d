"""Tests of the benchmark's own helpers: the percentile rule, span self-time
arithmetic, the digest, the input cache key and the generator's planted roles.

Run from the checkout root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib

import pytest

from perfbench import gen, trace
from perfbench.metrics import percentile


def test_percentile_nearest_rank():
    xs = [float(v) for v in range(1, 101)]  # 1..100
    assert percentile(xs, 90) == 90.0
    assert percentile(list(reversed(xs)), 50) == 50.0


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        percentile([float(v) for v in range(99)], 90)
    assert percentile([float(v) for v in range(20)], 50) == 9.0
    with pytest.raises(ValueError):
        percentile([float(v) for v in range(19)], 50)


def _span(name, start, end, parent=None):
    return trace.Span(name, start, end, parent)


def test_self_time_subtracts_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 5.0, 6.0, 0),
        _span("a.child", 2.0, 3.0, 1),
    ]
    assert trace.self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span("root", 0.0, 10.0),
        _span("x", 1.0, 5.0, 0),
        _span("y", 3.0, 7.0, 0),
        _span("z", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    assert trace.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_root_gap():
    spans = [_span("r1", 1.0, 3.0), _span("c", 1.5, 2.0, 0), _span("r2", 4.0, 9.0)]
    assert trace.root_gap(spans, 0.0, 10.0) == pytest.approx(3.0)


def test_tracer_nests_and_can_be_disabled():
    t = trace.Tracer()

    def inner():
        return 7

    def outer():
        return t.call("inner", inner, (), {})

    assert t.call("outer", outer, (), {}) == 7
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    t.enabled = False
    t.call("outer", outer, (), {})
    assert len(t.spans) == 2


def test_write_kind_by_path():
    assert trace.write_kind("/t/data/run=r/chunk=1") == "pipeline.data"
    assert trace.write_kind("/t/lineage/run=r/chunk=1") == "pipeline.lineage"
    assert trace.write_kind("/w/_scratch/x/ingest_pages_novel.parquet") == "ingest.select_novel"
    assert trace.write_kind("/w/_scratch/x/ingest_pages.parquet") == "ingest.select"
    assert trace.write_kind("/elsewhere") == "other"


def test_digest_matches_sha256_of_utf8():
    assert gen.digest(None) is None
    assert gen.digest("café") == hashlib.sha256("café".encode("utf-8")).hexdigest()


def test_generator_is_seeded_and_plants_roles():
    shape = gen.Shape(
        base_pages=300, inc_pages=200, words_min=5, words_max=10, paras_min=1,
        paras_max=2, edge_shares={"empty": 0.05, "pdf": 0.05},
        dup_share=0.1, committed_share=0.1, recrawl_share=0.05,
    )
    b1, i1, r1 = gen.generate(shape, 7, "t")
    b2, i2, r2 = gen.generate(shape, 7, "t")
    assert [p.html for p in b1 + i1] == [p.html for p in b2 + i2]
    assert r1 == r2
    assert [p.html for p in gen.generate(shape, 8, "t")[0]] != [p.html for p in b1]

    roles = list(r1.values())
    assert roles.count("dup") == 20 and roles.count("committed") == 20
    assert roles.count("recrawl") == 10
    assert len(i1) == 200 and len(r1) == 190  # each recrawl url appears twice
    base_urls = {p.url for p in b1}
    base_html = {p.html for p in b1}
    for p in i1:
        role = r1[p.url]
        assert (p.url in base_urls) == (role == "committed")
        if role == "dup":
            assert p.html in base_html
    # content is only shared where a duplicate is planted
    htmls = [p.html for p in b1 + i1 if p.html and r1.get(p.url) != "dup" and b"<p>" in p.html]
    assert len(htmls) == len(set(htmls))


def test_golden_agrees_with_page_construction():
    shape = gen.Shape(
        base_pages=200, inc_pages=0, words_min=5, words_max=40, paras_min=1,
        paras_max=5, edge_shares={k: 0.04 for k in gen.EDGE_CLASS},
        dup_share=0.0, committed_share=0.0, recrawl_share=0.0,
    )
    base, _inc, _roles = gen.generate(shape, 3, "t")
    for p, (text, err) in zip(base, gen.golden(base, workers=1)):
        assert err == (None if p.kind == "normal" else gen.EDGE_CLASS[p.kind]), p.kind
        if p.expect_text is not None:
            assert text == p.expect_text, p.kind


def test_input_key_follows_the_shape():
    import dataclasses

    shape = gen.Shape(
        base_pages=10, inc_pages=5, words_min=5, words_max=10, paras_min=1, paras_max=2,
    )
    assert gen.input_key(shape) == gen.input_key(dataclasses.replace(shape))
    assert gen.input_key(shape) != gen.input_key(dataclasses.replace(shape, base_pages=11))
    assert gen.input_key(shape) != gen.input_key(
        dataclasses.replace(shape, edge_shares={"empty": 0.1})
    )
