"""Seeded fuzz: random adversarial documents (mixed/unknown/null kinds,
degenerate geometry, null offsets, media-heavy and caption-orphan layouts)
through ALL THREE execution paths — flagship mapInArrow, forced page-salted,
and relational — each compared against the golden oracle in one Spark job.

Complements the hypothesis property tests (mapInArrow kernel vs oracle, no
Spark):
this one exercises the Spark plumbing itself on inputs the fixture corpus
never produces."""

import random

from pyspark.sql import types as T

from ch_pdf_parse_spark import core
from ch_pdf_parse_spark.pipeline import SPAN_STRUCT, extract_documents
from ch_pdf_parse_spark.relational import extract_documents_relational

KINDS = ["text", "title", "reference", "figure_caption", "table_caption",
         "figure", "table", "equation", "unlabeled", "banana", "", None]
TEXT_POOL = ["图1 题注", "表2 说明", "[3]引用", "摘要内容", "关键词抽取",
             "正文内容正文内容", "续行文字", "x", "", None, "###equation",
             # non-ASCII digits: str.isdigit() accepts these, the classifier
             # must NOT (ASCII-pinned across all engines)
             "图１ 全角", "表² 上标", "[１]全角引用",
             # marker-with-space / bare markers: near-miss classifier inputs
             "表 3", "图10题注", "参考文献"]


def _rand_doc(rng: random.Random, doc_id: str):
    n = rng.randint(0, 25)
    spans = []
    for _ in range(n):
        r = rng.random()
        if r < 0.05:
            off = None
        elif r < 0.10:
            # corrupt negative offsets: every path must decode them with
            # FLOOR-mod like the oracle's divmod (Spark's % is remainder —
            # a negative y1 lands in the header band and vanishes; r2 bug)
            off = -rng.randint(1, 10**7)
        elif r < 0.15:
            off = rng.randint(10**9, 2**31 - 1)  # beyond any real page
        elif r < 0.25 and spans:
            off = spans[-1][3]  # exact offset collision
        else:
            off = core.pack_offset(rng.randint(0, 3), rng.randint(0, 999),
                                   rng.randint(0, 9999))
        spans.append((rng.choice(KINDS), rng.choice(TEXT_POOL),
                      rng.choice(["", "m1", None]), off))
    return doc_id, spans


def test_fuzz_all_paths_match_oracle(spark):
    # FUZZ_SEED env override: the committed default keeps CI deterministic;
    # per-round fresh probes run e.g. FUZZ_SEED=20260818 pytest tests/test_fuzz.py
    import os
    rng = random.Random(int(os.environ.get("FUZZ_SEED", "20260816")))
    rows = [_rand_doc(rng, f"fz_{i:04d}") for i in range(150)]
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("spans", T.ArrayType(SPAN_STRUCT))])
    df = spark.createDataFrame(rows, schema)

    def normalize(s):
        # oracle normalization contract: None fields ≡ ''/0
        return [(k, t, m, o) for k, t, m, o in s]

    want = {}
    for d, spans in rows:
        recs, md = core.extract_document(normalize(spans))
        want[d] = ([tuple(r) for r in recs], md)

    def got(df_out):
        return {r["doc_id"]: ([tuple(s) for s in r["spans"]], r["markdown"])
                for r in df_out.collect()}

    for tag, out in [
        ("flagship", extract_documents(df)),
        ("salted", extract_documents(df, salt_threshold=1)),
        ("relational", extract_documents_relational(df)),
    ]:
        g = got(out)
        assert set(g) == set(want), f"{tag}: doc set mismatch"
        bad = [d for d in want if g[d] != want[d]]
        assert not bad, f"{tag}: {len(bad)} docs diverge, first={bad[0]}: " \
                        f"got={g[bad[0]]} want={want[bad[0]]}"


def test_negative_offset_not_swallowed_by_header_band(spark):
    """Minimal repro of the r2 fuzz find: a single span with a corrupt
    negative offset must survive every path. Under remainder-% decoding its
    y1 is negative (< HEADER_Y_MAX), so the relational twin classified it
    'header' and emitted an empty document while the oracle said 'text'."""
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("spans", T.ArrayType(SPAN_STRUCT))])
    spans = [("unlabeled", "表 3", "m2", -7641330)]
    df = spark.createDataFrame([("d", spans)], schema)
    want_recs, want_md = core.extract_document(spans)
    assert want_recs, "oracle must keep the span"
    for tag, out in [("flagship", extract_documents(df)),
                     ("salted", extract_documents(df, salt_threshold=1)),
                     ("relational", extract_documents_relational(df))]:
        row = out.collect()[0]
        got = ([tuple(s) for s in row["spans"]], row["markdown"])
        assert got == ([tuple(r) for r in want_recs], want_md), tag
