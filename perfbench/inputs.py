"""Seeded benchmark inputs, cached per (kind, size, seed) in the work dir.

* ``spans``: the PDF-span corpus. Document ``i`` is
  ``fixtures.generate_document(i, seed, giant)``, generated in Spark's Python
  workers by ``udfs.gen_span_docs`` (``gen_spark.write_corpus_spark`` fixes
  the seed at 42, so it is not reused) and written as parquet.
* ``wire``: the same documents as ``.cpw`` shards, written by
  ``wireformat.write_wire_shards``.
* ``dedup``: a ``documents(doc_id, text, lang, source, n_chars)`` table shaped
  like the engine's sf tables: 10-100 words from a 31-word vocabulary.

Content is a pure function of (size, seed). Generation runs before any timed
phase and is never part of a reported metric.
"""

from __future__ import annotations

import os
import random
import shutil

GEN_VERSION = 1
KEEP_PER_KIND = 12  # cached input sets kept per kind (least recently used go)

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = (("en", 0.412), ("zh", 0.151), ("es", 0.149), ("fr", 0.148),
         ("de", 0.140))
N_SOURCES = 20


def _cached(root: str, kind: str, n: int, seed: int, build) -> str:
    """Return the cache dir for (kind, n, seed), calling ``build(tmp_dir)``
    to create it on a miss. A set is published by rename, so an interrupted
    build is never mistaken for a finished one."""
    base = os.path.join(root, "inputs")
    path = os.path.join(base, f"{kind}-v{GEN_VERSION}-n{n}-s{seed}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return path
    os.makedirs(base, exist_ok=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    with open(done, "w") as f:
        f.write("ok\n")
    _evict(base, kind)
    return path


def _evict(base: str, kind: str) -> None:
    sets = []
    for name in os.listdir(base):
        done = os.path.join(base, name, "_DONE")
        if name.startswith(kind + "-") and os.path.exists(done):
            sets.append((os.path.getmtime(done), name))
    for _, name in sorted(sets, reverse=True)[KEEP_PER_KIND:]:
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def span_corpus(spark, root: str, n_docs: int, seed: int) -> str:
    """Parquet span corpus of ``n_docs`` documents; returns its directory."""
    from functools import partial

    from ch_pdf_parse_spark.pipeline import SPAN_STRUCT
    from pyspark.sql import types as T

    from . import udfs

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("n_spans", T.IntegerType()),
    ])
    parts = max(1, spark.sparkContext.defaultParallelism * 2)

    def build(tmp: str) -> None:
        (spark.range(n_docs, numPartitions=parts)
         .mapInArrow(partial(udfs.gen_span_docs, seed=seed), schema)
         .write.parquet(os.path.join(tmp, "documents.parquet")))

    return os.path.join(_cached(root, "spans", n_docs, seed, build),
                        "documents.parquet")


def wire_shards(spark, root: str, n_docs: int, seed: int,
                n_shards: int) -> str:
    """The span corpus as ``n_shards`` wire shards; returns the shard dir."""
    from ch_pdf_parse_spark.sources.catalog import read_table
    from ch_pdf_parse_spark.sources.wireformat import write_wire_shards

    corpus = span_corpus(spark, root, n_docs, seed)

    def build(tmp: str) -> None:
        write_wire_shards(read_table(spark, corpus).select("doc_id", "spans"),
                          tmp, n_shards=n_shards)

    return _cached(root, f"wire{n_shards}", n_docs, seed, build)


def dedup_rows(n_docs: int, seed: int) -> dict:
    """Columns of the dedup ``documents`` table; row ``i`` depends only on
    (i, seed)."""
    cols = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    names = [name for name, _ in LANGS]
    weights = [w for _, w in LANGS]
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["lang"].append(rng.choices(names, weights)[0])
        cols["source"].append(f"src{rng.randrange(N_SOURCES)}")
        cols["n_chars"].append(len(text))
    return cols


def write_dedup_table(path: str, n_docs: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = dedup_rows(n_docs, seed)
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def dedup_table(root: str, n_docs: int, seed: int) -> str:
    """Directory holding ``documents.parquet`` (the layout
    ``cluster.dedup_clusters`` reads)."""
    return _cached(root, "dedup", n_docs, seed,
                   lambda tmp: write_dedup_table(tmp, n_docs, seed))


def dir_mb(path: str) -> float:
    """Bytes of the data files under ``path`` (names not starting with
    ``_`` or ``.``), in MB."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total / 1e6
