"""Correctness checks: engine output against the engine's own oracles.

* Extraction: span sequence and markdown of a seeded sample of documents
  against ``core.extract_document`` (the readable reference semantics) on
  the same generated input.
* Dedup clusters: checksums of every output row, taken by a
  ``pyspark.sql.Observation`` on the timed pass itself, against the same
  checksums of the engine's DuckDB oracle SQL for ``dedup_clusters``.
"""

from __future__ import annotations

import os
import random

from . import udfs

SAMPLE_DOCS = 12


def sample_indices(n_docs: int, seed: int, k: int = SAMPLE_DOCS) -> list[int]:
    """Seeded sample of document indices; always includes the first giant
    document when the corpus has one, so the long tail is checked too."""
    rng = random.Random(seed * 31 + 7)
    picks = set(rng.sample(range(n_docs), min(k, n_docs)))
    if n_docs > udfs.GIANT_EVERY:
        picks.add(udfs.GIANT_EVERY)
    return sorted(picks)


def doc_id_of(idx: int) -> str:
    return f"doc_{idx:06d}"


def expected_docs(indices, seed: int) -> dict:
    """doc_id -> (records, markdown) from the reference extractor."""
    from ch_pdf_parse_spark import core, fixtures

    out = {}
    for idx in indices:
        b = fixtures.generate_document(idx, seed, oversized=udfs.is_giant(idx))
        recs, md = core.extract_document(b.spans)
        out[b.doc_id] = ([tuple(r) for r in recs], md)
    return out


def docs_from_rows(rows) -> dict:
    """Spark output rows (doc_id, spans, markdown) -> the shape of
    ``expected_docs``. A doc_id seen twice maps to None (a duplicate output
    row is an error)."""
    out: dict = {}
    for r in rows:
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in (r["spans"] or [])]
        out[r["doc_id"]] = None if r["doc_id"] in out else (spans, r["markdown"])
    return out


def mismatched(expected: dict, got: dict) -> list[str]:
    """doc_ids whose output is missing, duplicated or differs."""
    return sorted(d for d, want in expected.items() if got.get(d) != want)


# DuckDB and Spark compute the same aggregates over (doc_id, cluster_id,
# is_keeper); any changed label or keeper flag moves at least one of them
DEDUP_CHECKSUMS = {
    "rows": "count(*)",
    "sum_cluster": "sum(cluster_id)",
    "sum_doc_x_cluster": "sum(doc_id * cluster_id)",
    "sum_cluster_sq": "sum(cluster_id * cluster_id)",
    "keepers": "sum(CAST(is_keeper AS INT))",
}


def dedup_observation_columns():
    from pyspark.sql import functions as F

    return [F.expr(f"CAST({e} AS BIGINT)").alias(k)
            for k, e in DEDUP_CHECKSUMS.items()]


def dedup_oracle_checksums(table_dir: str, tmp_dir: str) -> dict:
    """Checksums of the DuckDB oracle for ``dedup_clusters`` over
    ``table_dir/documents.parquet``.

    The SQL text is the registry entry ``registry.oracle_sql()`` returns for
    ``dedup_clusters``; it is read from ``registry.SQL`` because
    ``oracle_sql()`` also materializes golden fixtures for other queries
    outside this checkout."""
    import duckdb

    from ch_pdf_parse_spark import registry
    from ch_pdf_parse_spark.operators import cluster  # noqa: F401  (registers SQL)

    sql = registry.SQL["dedup_clusters"]
    path = os.path.join(table_dir, "documents.parquet").replace("'", "''")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")  # spills stay in the work dir
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        aggs = ", ".join(f"CAST({e} AS BIGINT) AS {k}"
                         for k, e in DEDUP_CHECKSUMS.items())
        row = con.execute(f"SELECT {aggs} FROM ({sql})").fetchone()
    finally:
        con.close()
    return dict(zip(DEDUP_CHECKSUMS, row))


def checksum_mismatches(expected: dict, observed: dict) -> list[str]:
    return sorted(k for k in expected if expected[k] != observed.get(k))
