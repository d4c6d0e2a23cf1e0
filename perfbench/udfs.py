"""Functions that run inside Spark's Python workers.

``run.py`` registers this module for pickling by value, so the workers need
only the engine package (shipped by ``packaging.ensure_on_executors``), not
the benchmark's own files.
"""

from __future__ import annotations

GIANT_EVERY = 500  # every 500th doc (index > 0) is a 60-90 page giant


def is_giant(idx: int) -> bool:
    return idx > 0 and idx % GIANT_EVERY == 0


def span_docs_batch(ids, seed: int):
    """Document indices -> one Arrow RecordBatch (doc_id, spans, n_spans),
    each document ``fixtures.generate_document(idx, seed, giant)``."""
    import pyarrow as pa

    from ch_pdf_parse_spark import fixtures

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    doc_ids, spans = [], []
    for idx in ids:
        b = fixtures.generate_document(int(idx), seed, oversized=is_giant(int(idx)))
        doc_ids.append(b.doc_id)
        spans.append([{"kind": k, "text": t, "media_ref": m, "offset": o}
                      for k, t, m, o in b.spans])
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, pa.string()), pa.array(spans, pa.list_(span_t)),
         pa.array([len(s) for s in spans], pa.int32())],
        names=["doc_id", "spans", "n_spans"])


def gen_span_docs(it, seed: int):
    """mapInArrow body: ``spark.range`` id batches -> span documents."""
    for batch in it:
        yield span_docs_batch(batch.column("id").to_pylist(), seed)


def identity(it):
    """mapInArrow body that returns its input: the JVM -> Python -> JVM
    round trip with no work in between."""
    yield from it


def warm_worker(it):
    """mapInArrow body for the warm-up action: load the engine's native
    library in each Python worker, then pass the batches through."""
    from ch_pdf_parse_spark import native

    native.available()
    yield from it
