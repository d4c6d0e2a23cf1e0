"""Relational (pure-DataFrame) extraction pipeline.

The same semantics as ``pipeline.extract_documents`` expressed as Catalyst
relational operators — every SURVEY.md §2 primitive visible in the plan:

* F1  pages→segments flatten ............ ``posexplode``
* P5-P9 geometry/defaulting ............. column arithmetic (offset codec)
* M1  segment classification ............ ``when()`` ladder (+ continuation
                                           inheritance via ``last(..., True)``)
* M3  reading order ..................... XY-cut ``applyInPandas`` per
                                           (doc,page) — the one UDF; Spark has
                                           no projection-profile operator
* M2  paragraph boundary ................ ``lag()`` window rule
* A1/A2 caption & paragraph merge ....... cumulative-sum session ids +
                                           ordered ``collect_list``/``array_join``
                                           with EMPTY separator (Chinese-aware)
* O1  reading-order sort ................ window/`array_sort` ordering keys
* J1/O2 caption↔media pairing ........... ``row_number`` positional equi-join
                                           + sentinel ``coalesce``
* A3/A4/A5 markdown fold ................ per-span fragments + ordered
                                           ``array_sort``/``transform``/``array_join``
* F3  segments→document nest ............ ``groupBy(doc_id).agg(...)``

Differentially tested against the golden oracle and the zero-shuffle grouped
path (tests/test_relational.py). The grouped path is the 100TB production
plan (no shuffle); this one exists for Catalyst-visibility, operator parity
and cross-validation — and is itself scale-sane: all shuffles are on
(doc_id[, page]) keys, AQE-coalesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.storagelevel import StorageLevel

from . import constants as C
from . import core
from .pipeline import OUTPUT_SCHEMA

_ORDERED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("idx", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("y1", T.IntegerType()),
    T.StructField("x1", T.IntegerType()),
    T.StructField("rank", T.IntegerType()),
    T.StructField("region_x0", T.IntegerType()),
])


def _xy_cut_doc(tbl):
    """applyInArrow kernel: XY-cut per page, one Spark group per *doc*.

    Two measured overhead cuts vs the obvious per-(doc,page) applyInPandas:
    grouping Spark-side by doc only (pages split in-kernel via a stable
    argsort) shrinks serialized group count ~4x, and operating on the Arrow
    table directly (applyInArrow) skips the pandas round-trip for another
    ~1.6x on the stage. Rank stays page-local (0..n-1 per page), identical
    to the reference's per-page order head."""
    import numpy as np
    import pyarrow as pa

    from . import native

    kinds = tbl.column("kind").to_pylist()
    texts = tbl.column("text").to_pylist()
    xs = tbl.column("x1").to_numpy(zero_copy_only=False)
    ys = tbl.column("y1").to_numpy(zero_copy_only=False)
    pages = tbl.column("page").to_numpy(zero_copy_only=False)
    n = len(kinds)
    rank = np.zeros(n, dtype=np.int32)
    x0s = np.zeros(n, dtype=np.int32)
    use_native = native.available()
    order = np.argsort(pages, kind="stable")
    start = 0
    for i in range(1, n + 1):
        if i == n or pages[order[i]] != pages[order[start]]:
            idx = order[start:i]
            boxes = [
                core.derive_box(kinds[j], texts[j], int(xs[j]), int(ys[j]))
                for j in idx
            ]
            # native (C) XY-cut when available — bit-identical
            # (differential-fuzzed against core.xy_cut); core.xy_cut
            # remains the semantics and the live fallback
            ordered = None
            if use_native:
                ordered = native.xy_cut(
                    [b[0] for b in boxes], [b[1] for b in boxes],
                    [b[2] for b in boxes], [b[3] for b in boxes],
                    C.XY_MIN_GAP_X, C.XY_MIN_GAP_Y)
            if ordered is None:
                ordered = core.xy_cut(boxes)
            for r, (k, x0) in enumerate(ordered):
                rank[idx[k]] = r
                x0s[idx[k]] = x0
            start = i
    out = tbl.append_column("rank", pa.array(rank, pa.int32())) \
             .append_column("region_x0", pa.array(x0s, pa.int32()))
    # pin output column order to the declared schema (never positional luck)
    return out.select([f.name for f in _ORDERED_SCHEMA.fields])


def classify_expr(kind, text, page, y1):
    """M1 surrogate as a pure-column ladder (mirror of core.classify_kind;
    reference decode ladder predict/pdf2markdown.py:380-510)."""
    return (
        F.when(kind != C.UNLABELED, kind)
        .when(text == C.EQUATION_TEXT, "equation")
        .when(text.rlike(r"^图[0-9]"), "figure_caption")
        .when(text.rlike(r"^表[0-9]"), "table_caption")
        .when(text.rlike(r"^\[[0-9]+\]"), "reference")
        .when(text.startswith("摘要"), "abstract")
        .when(text.startswith("关键词"), "keyword")
        .when(y1 < C.HEADER_Y_MAX, "header")
        .when((page == 0) & (y1 < C.TITLE_Y_MAX), "title")
        .otherwise("text")
    )


def explode_documents(docs: DataFrame) -> DataFrame:
    """F1 + offset decode (P6/P7 analog arithmetic). Nulls normalize exactly
    as core.Span.from_raw: kind/text/media_ref ≡ '', offset ≡ 0."""
    off = F.coalesce(F.col("s.offset"), F.lit(0))
    return (
        docs.select("doc_id", F.posexplode("spans").alias("idx", "s"))
        .select(
            "doc_id",
            "idx",
            F.coalesce(F.col("s.kind"), F.lit("")).alias("kind"),
            F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
            F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
            # pmod, not %: Spark's % is sign-of-dividend remainder, but the
            # oracle decodes with Python divmod (floor-mod). A corrupt
            # NEGATIVE offset under % yields a negative y1, which the header
            # band (y1 < HEADER_Y_MAX) silently swallows — found by fuzz,
            # tests/test_fuzz.py pins it
            F.floor(off / C.OFFSET_PAGE).cast("int").alias("page"),
            F.floor(F.pmod(off, C.OFFSET_PAGE) / C.OFFSET_Y).cast("int").alias("y1"),
            F.pmod(off, C.OFFSET_Y).cast("int").alias("x1"),
        )
    )


# persisted intermediates of the most recent extract_documents_relational
# call: unpersisted on the next call so repeated invocations (bench best-of-N,
# test suites) don't accumulate cache entries for the session's lifetime
_LAST_PERSISTED: list = []


def extract_documents_relational(docs: DataFrame) -> DataFrame:
    from .packaging import ensure_on_executors

    ensure_on_executors(docs.sparkSession)
    while _LAST_PERSISTED:
        try:
            _LAST_PERSISTED.pop().unpersist(blocking=False)
        except Exception:  # session of a prior call may already be stopped
            pass

    e = explode_documents(docs)
    media = e.where(F.col("kind").isin("figure", "table"))
    txt = (
        e.where(~F.col("kind").isin("figure", "table"))
        .withColumn("kind", classify_expr(F.col("kind"), F.col("text"),
                                          F.col("page"), F.col("y1")))
        .withColumn("text", F.when(F.col("kind") == "equation",
                                   F.lit(C.EQUATION_TEXT)).otherwise(F.col("text")))
        .where(F.col("kind") != C.IRRELEVANT)  # P3: segment_type 0 dropped
    )

    # M3: XY-cut reading order (the single non-relational kernel)
    ordered = txt.groupBy("doc_id").applyInArrow(_xy_cut_doc, _ORDERED_SCHEMA)

    # M2: paragraph-boundary rule over document reading order
    w = Window.partitionBy("doc_id").orderBy("page", "rank")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dy = F.when(F.col("page") == F.lag("page").over(w),
                F.col("y1") - F.lag("y1").over(w)).otherwise(F.lit(-1))
    t2 = (
        ordered.withColumn(
            "new_line",
            F.lag("y1").over(w).isNull()
            | (dy > C.NEWLINE_DY)
            | ((dy <= 0) & ((F.col("x1") - F.col("region_x0")) > C.NEWLINE_DX)),
        )
        # continuation inheritance: running last kind over paragraph openers
        .withColumn("kind_eff",
                    F.last(F.when(F.col("new_line"), F.col("kind")), True).over(wc))
        .withColumn("seq", F.row_number().over(w))
    )
    # t2 feeds 6 downstream branches (body/caption/equation spans + 4 markdown
    # fragment streams). Each branch prunes different columns, so their
    # exchange subtrees are not identical and Catalyst's ReusedExchange never
    # fires — without persistence the XY-cut python stage and both windows
    # re-execute once PER BRANCH (measured: 6 FlatMapGroupsInPandas nodes in
    # the physical plan, ~6x the twin's wall). Persisting the shared
    # intermediate is the standard fix (at cluster scale: checkpoint to
    # storage); MEMORY_AND_DISK so wide corpora spill instead of OOM.
    t2 = t2.persist(StorageLevel.MEMORY_AND_DISK)
    _LAST_PERSISTED.append(t2)

    # body is the DEFAULT branch (core.extract_page falls through to it for
    # any kind that isn't a caption or equation — including unknown/empty
    # kinds), so filter by complement, never by whitelist
    body = t2.where(~F.col("kind_eff").isin(*C.CAPTION_KINDS, "equation"))
    caps = t2.where(F.col("kind_eff").isin(*C.CAPTION_KINDS))
    eqs = t2.where(F.col("kind_eff") == "equation")

    # A2: paragraph merge — cumulative-sum paragraph ids over body spans,
    # group-concat with EMPTY separator (predict/pdf2markdown.py:565-651)
    wb = Window.partitionBy("doc_id").orderBy("seq") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    body = body.withColumn("para_id", F.sum(F.col("new_line").cast("int")).over(wb))
    body_recs = body.groupBy("doc_id", "para_id").agg(
        F.min_by("kind_eff", "seq").alias("kind"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("seq", "text"))),
                        lambda x: x["text"]), "").alias("text"),
    )

    # A1: caption line-merge — same session pattern per (doc, page, kind)
    wcap = Window.partitionBy("doc_id", "page", "kind_eff").orderBy("seq") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cap_groups = (
        caps.withColumn("grp", F.sum(F.col("new_line").cast("int")).over(wcap))
        .groupBy("doc_id", "page", "kind_eff", "grp")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("seq", "text"))),
                            lambda x: x["text"]), "").alias("cap_text"),
            F.min("seq").alias("gseq"),
        )
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("doc_id", "page", "kind_eff").orderBy("gseq")))
    )

    # J1/O2: positional (index) join — greedy-by-index caption assignment
    # (predict/pdf2markdown.py:111,138; distance ranking is dead code)
    media_rn = media.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("doc_id", "page", "kind").orderBy("idx"))
    ).withColumn("cap_kind", F.concat(F.col("kind"), F.lit("_caption")))
    matched = (
        media_rn.join(
            cap_groups.select("doc_id", "page",
                              F.col("kind_eff").alias("cap_kind"), "rn", "cap_text"),
            ["doc_id", "page", "cap_kind", "rn"], "left")
        .withColumn("cap", F.coalesce("cap_text", F.lit(C.UNMATCHED_CAPTION)))
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds spans + 2 md fragments
    )
    _LAST_PERSISTED.append(matched)

    # ---- output span assembly (F3 nest) --------------------------------
    body_out = body_recs.select(
        "doc_id", F.lit(0).alias("s1"), F.col("para_id").cast("long").alias("s2"),
        F.lit(0).alias("s3"), "kind", "text", F.lit("").alias("media_ref"))
    media_out = matched.select(
        "doc_id",
        F.when(F.col("kind") == "table", 1).otherwise(2).alias("s1"),
        F.col("page").cast("long").alias("s2"), F.col("rn").alias("s3"),
        F.col("cap_kind").alias("kind"), F.col("cap").alias("text"), "media_ref")
    spans_nested = (
        body_out.unionByName(media_out)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("s1", "s2", "s3", "kind", "text", "media_ref"))),
                lambda x, i: F.struct(
                    x["kind"].alias("kind"), x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"), i.cast("int").alias("offset")),
            ).alias("spans")
        )
    )

    # ---- markdown fold (A3/A4/A5) as ordered fragments ------------------
    body_frag = body.select(
        "doc_id", "page", F.lit(0).alias("p2"), F.col("rank").alias("p3"),
        F.when(F.col("new_line") & (F.col("kind_eff") == "title"),
               F.concat(F.lit(C.SEP_TITLE), F.col("text")))
        .when(F.col("new_line"), F.concat(F.lit(C.SEP_PARA), F.col("text")))
        .otherwise(F.col("text")).alias("frag"))
    eq_frag = eqs.select(
        "doc_id", "page", F.lit(0).alias("p2"), F.col("rank").alias("p3"),
        F.format_string("![](%s)" + C.SEP_MEDIA, F.col("text")).alias("frag"))
    page_frag = e.select("doc_id", "page").distinct().select(
        "doc_id", "page", F.lit(1).alias("p2"), F.lit(0).alias("p3"),
        F.lit(C.PAGE_SEP).alias("frag"))
    tab_frag = matched.where(F.col("kind") == "table").select(
        "doc_id", "page", F.lit(2).alias("p2"), F.col("rn").alias("p3"),
        F.format_string("%s" + C.SEP_MEDIA + "![](%s)" + C.SEP_MEDIA,
                        F.col("cap"), F.col("media_ref")).alias("frag"))
    fig_frag = matched.where(F.col("kind") == "figure").select(
        "doc_id", "page", F.lit(3).alias("p2"), F.col("rn").alias("p3"),
        F.format_string("![](%s)" + C.SEP_MEDIA + "%s" + C.SEP_MEDIA,
                        F.col("media_ref"), F.col("cap")).alias("frag"))
    md = (
        body_frag.unionByName(eq_frag).unionByName(page_frag)
        .unionByName(tab_frag).unionByName(fig_frag)
        .groupBy("doc_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page", "p2", "p3", "frag"))),
                lambda x: x["frag"]), "").alias("markdown"))
    )

    out = (
        docs.select("doc_id")
        .join(spans_nested, "doc_id", "left")
        .join(md, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("spans", F.array().cast(OUTPUT_SCHEMA["spans"].dataType))
            .alias("spans"),
            F.coalesce("markdown", F.lit("")).alias("markdown"),
        )
    )
    return out
