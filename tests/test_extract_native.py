"""Differential tests: the C whole-batch extraction kernel
(native.extract_batch) must emit RecordBatches EQUAL to the golden oracle
core.extract_document (through the pipeline's core fallback,
pipeline._extract_core) on arbitrary inputs — nulls at every level, unknown
kinds, negative/extreme offsets, shuffled page order, CJK classification
prefixes, caption/media mismatches, merged lines, and every Arrow layout a
caller can hand it (sliced, offset, large/dictionary strings, zero rows).
Skipped wholesale when no C toolchain is available."""

import random

import pyarrow as pa
import pytest

from ch_pdf_parse_spark import native, pipeline

pytestmark = pytest.mark.skipif(
    not native.available(), reason="no C toolchain: core is the only path")

KINDS = [None, "", "text", "title", "equation", "figure", "table",
         "table_caption", "figure_caption", "unlabeled", "banana",
         "图异", "reference"]
TEXTS = [None, "", "hello world", "图3 stats", "表12 diff",
         "[42] citation", "[x] nope", "[１２] fullwidth",
         "摘要 body", "关键词 search",
         "<<EQ>>", "多字节 mixed ascii", "a" * 300, " lead",
         "é combining", "\U0001d11e astral"]
REFS = [None, "", "img_001.png", "table_7.png", "图.png"]


def _rand_doc(rng):
    n = rng.choice([0, 1, 2, 3, 8, 25, 60])
    spans = []
    for _ in range(n):
        if rng.random() < 0.05:
            off = None
        elif rng.random() < 0.1:
            off = rng.choice([-1, -(10**7) - 3, 2**31 - 1, -(2**31)])
        else:
            # mostly plausible page/y/x packings, incl. close lines so the
            # merge (not new_line) branch and caption grouping both fire
            page = rng.randrange(0, 3)
            y = rng.choice([0, 40, 41, 90, 91, 92, 400, 950])
            x = rng.choice([0, 4, 120, 500, 9999])
            off = page * 10**7 + y * 10**4 + x
        spans.append({"kind": rng.choice(KINDS), "text": rng.choice(TEXTS),
                      "media_ref": rng.choice(REFS), "offset": off})
    if rng.random() < 0.07:
        return None
    return spans


def _batch(rng, n_docs):
    docs = [_rand_doc(rng) for _ in range(n_docs)]
    ids = [None if rng.random() < 0.05 else f"doc_{i:04d}"
           for i in range(n_docs)]
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()),
         pa.array(docs, pa.list_(native.SPAN_TYPE))],
        ["doc_id", "spans"])


def _core_path(batch, cols):
    return pipeline._extract_core(batch, "spans" in cols, "markdown" in cols)


def test_native_extract_differential_fuzz():
    rng = random.Random(20260821)
    for trial in range(120):
        batch = _batch(rng, rng.choice([1, 2, 7, 40]))
        for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
            got = native.extract_batch(batch, "spans" in cols,
                                       "markdown" in cols)
            assert got is not None, trial
            want = _core_path(batch, cols)
            assert got.equals(want), (
                trial, cols, got.to_pydict(), want.to_pydict())


def test_native_extract_fixture_corpus():
    """Full fixture corpus (oversized docs, media pages, captions) through
    both paths — batch-identical, every column config."""
    from ch_pdf_parse_spark import fixtures

    docs = [fixtures.generate_document(i, 42, oversized=(i % 7 == 3))
            for i in range(60)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([b.doc_id for b in docs], pa.string()),
         pa.array([[{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in b.spans] for b in docs],
                  pa.list_(native.SPAN_TYPE))],
        ["doc_id", "spans"])
    for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
        got = native.extract_batch(batch, "spans" in cols,
                                   "markdown" in cols)
        assert got is not None
        want = _core_path(batch, cols)
        assert got.equals(want), cols


def test_native_extract_on_every_layout():
    """Layouts Spark never sends but any caller may: a slice (list offset
    and offset children), a list over an offset child struct, large_string
    / dictionary / int64 children, and zero rows. The C kernel must accept
    each and equal core on the same rows. Reordered struct fields that also
    need a type cast are beyond Arrow's cast: C must decline them (not
    raise) and the pipeline must hand the batch to core."""
    rng = random.Random(424242)
    batch = _batch(rng, 60)
    spans = batch.column("spans")
    wide_t = pa.list_(pa.struct([
        ("kind", pa.large_string()),
        ("text", pa.large_string()),
        ("media_ref", pa.dictionary(pa.int32(), pa.string())),
        ("offset", pa.int64())]))
    shifted = pa.ListArray.from_arrays(
        spans.offsets, pa.concat_arrays(
            [spans.values.slice(0, 1), spans.values]).slice(1))
    vals = spans.values
    reordered = pa.ListArray.from_arrays(
        spans.offsets, pa.StructArray.from_arrays(
            [vals.field("offset"), vals.field("media_ref"),
             vals.field("text").cast(pa.large_string()), vals.field("kind")],
            names=["offset", "media_ref", "text", "kind"]))
    layouts = {
        "sliced": batch.slice(7, 30),
        "offset_children": pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), shifted], ["doc_id", "spans"]),
        "large_dictionary_int64": pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), spans.cast(wide_t)],
            ["doc_id", "spans"]),
        "sliced_large": pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), spans.cast(wide_t)],
            ["doc_id", "spans"]).slice(11, 17),
        "zero_rows": batch.slice(0, 0),
        "reordered_large": pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), reordered], ["doc_id", "spans"]),
    }
    for name, b in layouts.items():
        for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
            declined = native.extract_batch(
                b, "spans" in cols, "markdown" in cols) is None
            assert declined == (name == "reordered_large"), (name, cols)
            (got,) = pipeline._extract_arrow(iter([b]), columns=cols)
            assert got.equals(_core_path(b, cols)), (name, cols)
