"""Wire-format ingest lifecycle: packed binary shards → binaryFile scan →
parsed documents → extraction kernel, with per-record corruption degradation.

Mirrors the reference's raw-bytes S1 source
(/root/reference/predict/pdf2markdown.py:44-61) with a deterministic codec in
place of the PDF decoder; the Spark plumbing (shard write, binary scan,
mapInArrow parse, n_spans routing) is the real lifecycle under test.
"""

import os
import zlib

import pytest

from ch_pdf_parse_spark.pipeline import extract_documents
from ch_pdf_parse_spark.sources import wireformat as wf


@pytest.fixture(scope="module")
def wire_dir(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wire"))
    n = wf.write_wire_shards(docs_df, out, n_shards=4)
    assert n == len([f for f in os.listdir(out) if f.endswith(".cpw")]) > 0
    return out


def _doc_map(rows):
    def spans_key(spans):
        if spans is None:
            return None
        return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in spans)

    return {r["doc_id"]: spans_key(r["spans"]) for r in rows}


def test_roundtrip_equals_parquet_source(spark, docs_df, wire_dir):
    got = _doc_map(wf.read_wire(spark, wire_dir).collect())
    want = _doc_map(docs_df.select("doc_id", "spans").collect())
    assert got == want


def test_extraction_over_wire_matches_parquet_path(spark, docs_df, wire_dir):
    wired = wf.read_wire(spark, wire_dir)
    assert "n_spans" in wired.columns  # stored-stats skew routing stays live
    got = {r["doc_id"]: (tuple(map(tuple, r["spans"])), r["markdown"])
           for r in extract_documents(wired).collect()}
    want = {r["doc_id"]: (tuple(map(tuple, r["spans"])), r["markdown"])
            for r in extract_documents(docs_df).collect()}
    assert got == want


def test_deterministic_bytes(spark, docs_df, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    wf.write_wire_shards(docs_df, a, n_shards=3)
    wf.write_wire_shards(docs_df, b, n_shards=3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for f in names:
        assert open(os.path.join(a, f), "rb").read() == \
            open(os.path.join(b, f), "rb").read()


def test_deterministic_bytes_with_duplicate_and_null_ids(spark, docs_df,
                                                         tmp_path):
    """doc_id alone is not a total order: duplicate and NULL ids must not
    let Spark arrival order (which varies with partitioning) leak into the
    shard bytes — the writer tie-breaks on the encoded record bytes."""
    from pyspark.sql import functions as F

    dups = docs_df.limit(6).withColumn(
        "doc_id", F.when(F.col("doc_id") < "doc_000003", "dup_id"))
    hostile = docs_df.unionByName(dups)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    # different physical orders of the same rows
    wf.write_wire_shards(hostile.repartition(7), a, n_shards=3)
    wf.write_wire_shards(
        hostile.repartition(2).sort(F.col("doc_id").desc_nulls_last()),
        b, n_shards=3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for f in names:
        assert open(os.path.join(a, f), "rb").read() == \
            open(os.path.join(b, f), "rb").read()


def test_null_hostile_roundtrip():
    rows = [
        ("d1", [{"kind": None, "text": "", "media_ref": None, "offset": None},
                {"kind": "体", "text": "１２３ x", "media_ref": "", "offset": -7}]),
        (None, [{"kind": "body", "text": None, "media_ref": "m", "offset": 0}]),
        ("d3", None),   # NULL spans array — distinct from empty
        ("d4", []),     # empty spans array — distinct from NULL
        ("", []),       # empty doc_id — distinct from NULL
    ]
    records, corrupt = wf.parse_shard(wf.encode_shard(rows))
    assert corrupt == 0
    assert [(d, s) for d, s in records] == rows


def test_corrupt_record_degrades_per_record(spark, docs_df, wire_dir, tmp_path):
    out = str(tmp_path / "corrupt")
    os.makedirs(out)
    shards = sorted(f for f in os.listdir(wire_dir) if f.endswith(".cpw"))
    clean_total = 0
    for f in shards:
        data = open(os.path.join(wire_dir, f), "rb").read()
        clean_total += wf.parse_shard(data)[0].__len__()
    # flip bytes inside the SECOND record of the first shard (past its sync)
    data = bytearray(open(os.path.join(wire_dir, shards[0]), "rb").read())
    second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
    data[second + 10] ^= 0xFF
    open(os.path.join(out, shards[0]), "wb").write(bytes(data))
    for f in shards[1:]:
        open(os.path.join(out, f), "wb").write(
            open(os.path.join(wire_dir, f), "rb").read())

    stats = {r["shard_path"].rsplit("/", 1)[-1]: r
             for r in wf.wire_scan_stats(spark, out).collect()}
    assert stats[shards[0]]["n_corrupt"] == 1
    assert sum(r["n_corrupt"] for r in stats.values()) == 1
    docs = wf.read_wire(spark, out)
    assert docs.count() == clean_total - 1  # exactly one record lost, job alive


def test_truncated_shard_counted_not_fatal(tmp_path):
    rows = [("a", []), ("b", None)]
    data = wf.encode_shard(rows)
    records, corrupt = wf.parse_shard(data[:-6])  # rip the footer off
    assert [d for d, _ in records] == ["a", "b"]
    assert corrupt == 1
    # and a mid-record truncation loses only the tail record
    second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
    records, corrupt = wf.parse_shard(data[:second + 9])
    assert [d for d, _ in records] == ["a"]
    assert corrupt >= 1


def test_wire_decode_plan_zero_exchange(spark, wire_dir):
    # scale contract: the decode is scan → MapInArrow, no shuffle — shard
    # count alone sets the ingest parallelism, same as the flagship kernel
    import re

    df = wf.read_wire(spark, wire_dir)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "MapInArrow" in plan
    assert not re.search(r"\bExchange\b", plan), plan


def test_crc_catches_payload_tamper():
    rec = wf.encode_record("x", [{"kind": "k", "text": "t",
                                  "media_ref": None, "offset": 5}])
    body = bytearray(wf.MAGIC + rec + wf.FOOTER_MAGIC + b"\x01\x00\x00\x00")
    # tamper one payload byte, keep framing valid
    body[4 + 4 + 4 + 2] ^= 0x01
    records, corrupt = wf.parse_shard(bytes(body))
    assert records == [] and corrupt >= 1
    assert zlib.crc32(b"") == 0  # sanity: zlib present


# ------------------------------------------------------- _SPANSTATS sidecar


def _out_key(rows):
    return sorted((r["doc_id"],
                   tuple(map(tuple, r["spans"])) if r["spans"] is not None
                   else None,
                   r["markdown"]) for r in rows)


def test_spanstats_sidecar_written_and_true_bound(spark, docs_df, wire_dir):
    stats = wf._read_spanstats(wire_dir)
    assert stats is not None
    shards = sorted(f for f in os.listdir(wire_dir) if f.endswith(".cpw"))
    assert sorted(stats) == shards
    # each entry is the exact max non-null span count of its shard
    for f in shards:
        records, _ = wf.parse_shard(
            open(os.path.join(wire_dir, f), "rb").read())
        want = max((len(s) for _, s in records if s is not None), default=-1)
        assert stats[f] == want


def test_wire_big_branch_pruned_by_sidecar(spark, docs_df, wire_dir):
    """extract_documents' oversized branch must NOT re-scan every shard when
    the sidecar proves none can qualify: exactly one binaryFile scan in the
    plan (the generic fallback has two), identical output."""
    wired = wf.read_wire(spark, wire_dir)
    plan = extract_documents(wired)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("binaryFile") == 1, plan
    got = _out_key(extract_documents(wf.read_wire(spark, wire_dir)).collect())
    # stripping the hook (any transformation) falls back to the full
    # double-scan route — the semantics yardstick
    want = _out_key(extract_documents(
        wf.read_wire(spark, wire_dir).select(
            "doc_id", "spans", "n_spans")).collect())
    assert got == want


def test_wire_pruned_salted_route_equal(spark, docs_df, wire_dir):
    """With a threshold that genuinely splits the corpus, the pruned big
    branch must feed the salted path the exact same oversized docs."""
    got = _out_key(extract_documents(
        wf.read_wire(spark, wire_dir), salt_threshold=1).collect())
    want = _out_key(extract_documents(
        wf.read_wire(spark, wire_dir).select("doc_id", "spans", "n_spans"),
        salt_threshold=1).collect())
    assert got == want


def test_wire_sidecar_fallbacks(spark, docs_df, wire_dir, tmp_path):
    """Absent, corrupted, and incomplete sidecars all degrade to the full
    scan (never to wrong pruning)."""
    out = str(tmp_path / "nostats")
    os.makedirs(out)
    shards = sorted(f for f in os.listdir(wire_dir) if f.endswith(".cpw"))
    for f in shards:
        open(os.path.join(out, f), "wb").write(
            open(os.path.join(wire_dir, f), "rb").read())
    want = _out_key(extract_documents(
        wf.read_wire(spark, wire_dir), salt_threshold=1).collect())
    # absent
    assert wf._read_spanstats(out) is None
    assert _out_key(extract_documents(
        wf.read_wire(spark, out), salt_threshold=1).collect()) == want
    # corrupted (one flipped byte -> crc rejects -> full scan)
    wf._write_spanstats(out, [(f, 0) for f in shards])  # wrong bounds...
    data = bytearray(
        open(os.path.join(out, wf.SPANSTATS_NAME), "rb").read())
    data[8] ^= 0xFF
    open(os.path.join(out, wf.SPANSTATS_NAME), "wb").write(bytes(data))
    assert wf._read_spanstats(out) is None  # ...never consulted: crc fails
    assert _out_key(extract_documents(
        wf.read_wire(spark, out), salt_threshold=1).collect()) == want
    # incomplete (valid sidecar missing one present shard -> fall back)
    wf._write_spanstats(out, [(f, 10 ** 9) for f in shards[1:]])
    assert wf._wire_docs_over(spark, out, 1) is None
    assert _out_key(extract_documents(
        wf.read_wire(spark, out), salt_threshold=1).collect()) == want


def test_crashed_rewrite_leaves_no_stale_sidecar(spark, tmp_path,
                                                 monkeypatch):
    """Rewriting a wire directory drops its old sidecar before the shard
    job: a crash before the new sidecar is published must leave no
    statistics (full scan), not the old bounds over the new shards — with
    those, an oversized doc matched neither branch and vanished."""
    from ch_pdf_parse_spark.pipeline import SPAN_STRUCT
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("spans", T.ArrayType(SPAN_STRUCT))])

    def span(i):
        return ("text", f"正文{i}", "", i * 100_000)

    small = [(f"d{i}", [span(i)]) for i in range(6)]
    rewritten = small[:-1] + [("big", [span(i) for i in range(5)])]
    out = str(tmp_path / "wire")
    # one shard: the rewrite replaces the same file name the sidecar covers
    wf.write_wire_shards(spark.createDataFrame(small, schema), out,
                         n_shards=1)
    assert wf._read_spanstats(out) == {"shard-00000.cpw": 1}

    def crash(out_dir, entries):
        raise RuntimeError("driver died before publishing the sidecar")

    monkeypatch.setattr(wf, "_write_spanstats", crash)
    with pytest.raises(RuntimeError):
        wf.write_wire_shards(spark.createDataFrame(rewritten, schema), out,
                             n_shards=1)
    got = extract_documents(wf.read_wire(spark, out), salt_threshold=2)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        d for d, _ in rewritten)
