import hashlib
import os

from perfbench import inputs, udfs


def _ipc_bytes(batch) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_span_generator_same_seed_same_bytes():
    ids = [0, 1, 2, 499, 500]
    a = _ipc_bytes(udfs.span_docs_batch(ids, seed=3))
    assert a == _ipc_bytes(udfs.span_docs_batch(ids, seed=3))
    assert a != _ipc_bytes(udfs.span_docs_batch(ids, seed=4))


def test_span_generator_rows_do_not_depend_on_batching():
    # Spark cuts the id range into batches however it likes
    whole = udfs.span_docs_batch(range(6), seed=3).to_pylist()
    parts = (udfs.span_docs_batch(range(0, 2), seed=3).to_pylist()
             + udfs.span_docs_batch(range(2, 6), seed=3).to_pylist())
    assert whole == parts


def test_giant_every_500th_doc():
    b = udfs.span_docs_batch([499, 500], seed=3)
    n = b.column("n_spans").to_pylist()
    assert n[1] > 1000 > n[0]


def test_dedup_table_same_seed_same_bytes(tmp_path):
    paths = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        inputs.write_dedup_table(str(tmp_path / name), 300, seed)
        paths.append(str(tmp_path / name / "documents.parquet"))
    assert _digest(paths[0]) == _digest(paths[1])
    assert _digest(paths[0]) != _digest(paths[2])


def test_dedup_table_shape():
    cols = inputs.dedup_rows(500, seed=1)
    assert cols["doc_id"] == list(range(500))
    words = [len(t.split(" ")) for t in cols["text"]]
    assert min(words) >= 10 and max(words) <= 100
    assert set(w for t in cols["text"] for w in t.split(" ")) <= set(inputs.VOCAB)
    assert all(n == len(t) for n, t in zip(cols["n_chars"], cols["text"]))


def test_cache_rebuilds_unfinished_and_evicts_oldest(tmp_path):
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    root = str(tmp_path)
    first = inputs._cached(root, "k", 1, 0, build)
    assert inputs._cached(root, "k", 1, 0, build) == first and len(calls) == 1
    os.remove(os.path.join(first, "_DONE"))  # an interrupted build
    inputs._cached(root, "k", 1, 0, build)
    assert len(calls) == 2
    for seed in range(1, inputs.KEEP_PER_KIND + 2):
        inputs._cached(root, "k", 1, seed, build)
    kept = os.listdir(os.path.join(root, "inputs"))
    assert len(kept) == inputs.KEEP_PER_KIND
