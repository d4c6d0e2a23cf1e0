"""Differential tests of the extraction kernels against the readable golden
oracle (core.extract_document / core.xy_cut):

* document level — the flagship mapInArrow kernel ``pipeline._extract_arrow``
  (the C whole-batch kernel, or its ``core`` fallback without a compiler)
  must agree bit-for-bit on (records, markdown), including oversized docs,
  arbitrary input span order, and pathological inputs;
* XY-cut — the C ``native.xy_cut`` must return exactly ``core.xy_cut``'s
  [(index, region_x0)] on random, tie-heavy and regression layouts."""

import random

import pyarrow as pa
import pytest

from ch_pdf_parse_spark import constants as C
from ch_pdf_parse_spark import core, fixtures, native, pipeline

_SPANS_T = pa.list_(native.SPAN_TYPE)


def _batch(docs, spans_t=_SPANS_T):
    """One Arrow batch in the `documents` schema from lists of raw spans."""
    return pa.RecordBatch.from_arrays(
        [pa.array([f"d{i}" for i in range(len(docs))], pa.string()),
         pa.array(docs, spans_t)],
        ["doc_id", "spans"])


def _run_arrow(docs, columns=("spans", "markdown"), spans_t=_SPANS_T):
    """[(records [(kind, text, media_ref, order)], markdown)] per doc."""
    (out,) = pipeline._extract_arrow(iter([_batch(docs, spans_t)]),
                                     columns=columns)
    d = out.to_pydict()
    n = len(docs)
    recs = d.get("spans", [[]] * n)
    mds = d.get("markdown", [""] * n)
    return [([tuple(r.values()) for r in rs], md) for rs, md in zip(recs, mds)]


def _run_core(docs):
    return [core.extract_document(spans) for spans in docs]


def _xy_cut_native(boxes):
    if not native.available():
        pytest.skip("no C toolchain: core.xy_cut is the only XY-cut")
    return native.xy_cut([b[0] for b in boxes], [b[1] for b in boxes],
                         [b[2] for b in boxes], [b[3] for b in boxes],
                         C.XY_MIN_GAP_X, C.XY_MIN_GAP_Y)


def test_kernel_matches_oracle_on_corpus():
    rng = random.Random(7)
    docs = [list(fixtures.generate_document(i).spans) for i in range(300)]
    docs += [list(fixtures.generate_document(i, oversized=True).spans)
             for i in range(5)]
    assert _run_arrow(docs) == _run_core(docs)
    for spans in docs:
        rng.shuffle(spans)  # output must be order-invariant in both
    assert _run_arrow(docs) == _run_core(docs)


def test_kernel_pathological():
    eq = core.pack_offset(0, 500, 62)
    cases = [
        [],
        [("figure", "", "m1", core.pack_offset(0, 400, 100))],
        [("table", "", "t1", core.pack_offset(0, 400, 100)),
         ("figure", "", "f1", core.pack_offset(0, 700, 100))],
        [("equation", "ignored", "", eq)],
        [("unlabeled", "图1 题注", "", core.pack_offset(0, 620, 62)),
         ("figure", "", "f1", core.pack_offset(0, 400, 62))],
        [(None, "x", None, 0)],
    ]
    assert _run_arrow(cases) == _run_core(cases)
    # huge page: its offset needs an int64 column, which the C kernel
    # cannot read, so the whole batch must reach the core fallback intact
    cases.append([("text", "正文", None, core.pack_offset(2000, 300, 62))])
    wide_t = pa.list_(pa.struct([*list(native.SPAN_TYPE)[:3],
                                 ("offset", pa.int64())]))
    assert _run_arrow(cases, spans_t=wide_t) == _run_core(cases)


def test_leaf_sort_key_wide_x_band():
    """Regression: the composite leaf-sort key must stay lexicographic in
    (y1, x1, idx) for the FULL packed x1 range (0..9999). An earlier
    1024-wide x1 slot let x1*KX spill into the y1 slot, inverting reading
    order in any leaf that mixed x1 >= 1024 with differing y1 — needs a
    band of spans bridging a wide x range so no x-cut separates them."""
    spans = [("text", "桥接桥接桥接桥接桥接", "", core.pack_offset(0, 1, x))
             for x in range(700, 1801, 50)]
    spans.append(("text", "甲先来的先来的先来", "", core.pack_offset(0, 0, 1800)))
    spans.append(("text", "乙后来的后来的后来", "", core.pack_offset(0, 2, 700)))
    assert _run_arrow([spans]) == _run_core([spans])
    # the y=0 span must fold first (reading order is y-major inside a leaf)
    ((recs, _),) = _run_core([spans])
    assert recs[0][1].startswith("甲先来的")


def test_band_of_not_corrupted_by_nested_recursion():
    """Regression (confirmed bug in an earlier XY-cut twin): a band index
    shared across frames was re-assigned by nested recursion (a band's own
    y-splits) while the outer frame's suffix scan still read it,
    re-including an already-emitted span — 13 outputs for 12 boxes,
    duplicated text in records and markdown. Layout: two y-bands, no
    global x-gap; band 0's left column has an internal y-gap, band 1 has
    a column gutter."""
    boxes = ([(0, 100, 50, 112), (0, 140, 50, 152)]
             + [(100, y, 300, y + 12) for y in range(100, 151, 10)]
             + [(40, 300, 95, 312), (40, 320, 95, 332),
                (200, 300, 250, 312), (200, 320, 250, 332)])
    k = _xy_cut_native(boxes)
    assert len(k) == len(boxes)
    assert k == core.xy_cut(boxes)


def test_xy_cut_randomized_geometry_stress():
    """Dense-coordinate randomized stress: the C XY-cut must equal
    core.xy_cut exactly (order AND region_x0) on arbitrary overlapping
    layouts — the geometry class the fixture generator never produces."""
    rng = random.Random(99)
    for _ in range(1500):
        n = rng.randint(1, 18)
        boxes = []
        for _ in range(n):
            x1 = rng.randint(0, 400)
            y1 = rng.randint(0, 400)
            boxes.append((x1, y1, x1 + rng.randint(5, 120),
                          y1 + rng.choice([8, 12, 20, 40])))
        assert _xy_cut_native(boxes) == core.xy_cut(boxes)


def test_projection_flags_match_full_run():
    """spans-only / markdown-only runs must equal the full run's kept half
    — the kernel side of the columns= projection pushdown."""
    docs = [list(fixtures.generate_document(i).spans) for i in range(120)]
    docs += [list(fixtures.generate_document(i, oversized=True).spans)
             for i in range(3)]
    full = _run_arrow(docs)
    recs_only = _run_arrow(docs, columns=("spans",))
    md_only = _run_arrow(docs, columns=("markdown",))
    assert recs_only == [(recs, "") for recs, _ in full]
    assert md_only == [([], md) for _, md in full]


def test_native_xy_cut_matches_python_fuzz():
    """The C XY-cut must agree with core.xy_cut bit-for-bit on random and
    tie-heavy layouts (stable-sort tie-breaks included). Skipped when no
    C toolchain is available (core is then the only path)."""
    rng = random.Random(20260821)
    for trial in range(1500):
        n = rng.choice([1, 2, 3, 5, 8, 20, 60, 150])
        x1 = [rng.randrange(0, 1000) for _ in range(n)]
        y1 = [rng.randrange(0, 1000) for _ in range(n)]
        boxes = [(a, b, a + rng.randrange(1, 400), b + C.LINE_H)
                 for a, b in zip(x1, y1)]
        assert _xy_cut_native(boxes) == core.xy_cut(boxes), (trial, n)
    for trial in range(1000):  # dense, tie-heavy (stability stress)
        n = rng.choice([10, 40, 80])
        x1 = [rng.randrange(0, 12) * 10 for _ in range(n)]
        y1 = [rng.randrange(0, 15) * 14 for _ in range(n)]
        boxes = [(a, b, a + rng.choice([4, 40, 120]), b + C.LINE_H)
                 for a, b in zip(x1, y1)]
        assert _xy_cut_native(boxes) == core.xy_cut(boxes), (trial, n)


def test_native_disabled_falls_back(monkeypatch):
    """A native-library load failure must leave extraction on the ``core``
    fallback with identical batches on the fixture corpus."""
    docs = [list(fixtures.generate_document(i, 42).spans) for i in range(25)]
    batch = _batch(docs)
    (a,) = pipeline._extract_arrow(iter([batch]))
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_TRIED", True)
    assert not native.available()
    (b,) = pipeline._extract_arrow(iter([batch]))
    assert b.equals(a)


def test_span_type_is_arrow_form_of_span_struct():
    """native.SPAN_TYPE (what C reads and both paths emit) and
    pipeline.SPAN_STRUCT (the Spark schema) are one layout."""
    from pyspark.sql.pandas.types import to_arrow_type

    assert to_arrow_type(pipeline.SPAN_STRUCT) == native.SPAN_TYPE
