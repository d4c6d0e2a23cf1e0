"""The benchmark's workloads.

Each workload names its input (built from the seed), the DataFrame one timed
pass writes to the ``noop`` sink, the aggregates a ``pyspark.sql.Observation``
takes on that sink, the correctness checks, and the cumulative noop-sink
ladder a traced run measures:

    scan      read the workload's input and nothing else
    boundary  scan + an identity ``mapInArrow`` (JVM -> Python -> JVM)
    full      the whole pass (added by the harness)

``extras`` runs in the traced run only and measures what has no end-to-end
workload of its own (see NOTES.md): the salted-path coverage and the
lineage job over the parquet corpus; the parse-only and composable wire
paths, and the dedup stages on a seeded text table, beside the fused wire
path. Those figures go to the span file.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from . import checks, inputs, udfs

N_SPAN_DOCS = 1500    # ~220 spans/doc, a 60-90 page giant every 500 docs
N_SHARDS = 8          # ~4 MB per shard
N_DEDUP_DOCS = 1000
LINEAGE_BUCKETS = 16  # run_with_lineage's default
LINEAGE_FAIL_AFTER = 8
EXTRA_REPS = 2


def noop(df, observation=None, columns=()) -> dict | None:
    """Write ``df`` to the noop sink; return the observed aggregates."""
    if observation is not None:
        df = df.observe(observation, *columns)
    df.write.format("noop").mode("overwrite").save()
    return observation.get if observation is not None else None


def timed_noop(build) -> float:
    """Wall seconds of ``build()`` plus its noop write: some operators
    (``dedup_clusters``' fixpoint loop) run Spark actions while building
    the DataFrame."""
    t0 = time.perf_counter()
    noop(build())
    return time.perf_counter() - t0


class Workload:
    """An extraction workload over the seeded span corpus. Subclasses give
    the input and the pass; the observed aggregates and the checks are
    shared because the output is the same."""
    name = ""
    why = ""
    n_docs = N_SPAN_DOCS  # input documents per pass

    def prepare(self, ctx) -> None:
        """Build or reuse the seeded input (untimed)."""
        raise NotImplementedError

    def pass_df(self, spark):
        raise NotImplementedError

    def sample_check(self, spark) -> tuple[int, list[str]]:
        """(documents checked, ids that failed) after the timed passes."""
        raise NotImplementedError

    def input_mb(self) -> float:
        raise NotImplementedError

    def rungs(self, spark) -> list:
        """The ladder below the full pass, cumulative:
        [("scan", () -> DataFrame), ("boundary", () -> DataFrame)]."""
        raise NotImplementedError

    def extras(self, ctx, ladder: dict) -> tuple[dict, int, int]:
        """(figures, docs attempted, docs failed) of the traced-only parts;
        ``ladder`` holds the median wall of each rung."""
        raise NotImplementedError

    def observed_columns(self):
        from pyspark.sql import functions as F

        return [F.count("*").alias("rows"),
                F.sum(F.size("spans")).alias("spans"),
                F.sum(F.length("markdown")).alias("md_chars")]

    def pass_failures(self, obs: dict) -> int:
        """Documents of one pass that are missing, judged from the pass's
        own observed aggregates."""
        return abs(self.n_docs - int(obs["rows"]))

    def _check(self, df) -> tuple[int, list[str]]:
        """Sampled documents of ``df`` (doc_id, spans, markdown) against the
        reference extractor."""
        from pyspark.sql import functions as F

        want = checks.expected_docs(
            checks.sample_indices(self.n_docs, self.seed), self.seed)
        rows = df.where(F.col("doc_id").isin(list(want))).collect()
        return len(want), checks.mismatched(want, checks.docs_from_rows(rows))


def _identity_rung(df):
    return df.mapInArrow(udfs.identity, df.schema)


def _interleaved(rungs: dict, tracer, ctx, prefix: str) -> dict:
    """Median wall of each ``name -> () -> DataFrame`` over ``EXTRA_REPS``
    interleaved repetitions."""
    walls: dict[str, list[float]] = {name: [] for name in rungs}
    for rep in range(EXTRA_REPS):
        for name, build in rungs.items():
            ctx.set_group(f"{prefix}.{name}.{rep}")
            with tracer.span(f"{prefix}.{name}", rep=rep):
                walls[name].append(timed_noop(build))
    return {name: statistics.median(v) for name, v in walls.items()}


class ExtractParquet(Workload):
    name = "extract_parquet"
    why = ("flagship hot path: parquet span corpus -> extract_documents -> "
           "noop; scan, Arrow boundary and C kernel, no shuffle or write")

    def prepare(self, ctx):
        self.seed = ctx.seed
        self.corpus = inputs.span_corpus(ctx.spark, ctx.work, self.n_docs, ctx.seed)

    def docs(self, spark):
        from ch_pdf_parse_spark.sources.catalog import read_table

        return read_table(spark, self.corpus)

    def pass_df(self, spark):
        from ch_pdf_parse_spark.pipeline import extract_documents

        return extract_documents(self.docs(spark))

    def sample_check(self, spark):
        from ch_pdf_parse_spark.pipeline import extract_documents
        from pyspark.sql import functions as F

        ids = [checks.doc_id_of(i)
               for i in checks.sample_indices(self.n_docs, self.seed)]
        # filter before extracting: the kernel is per document
        return self._check(extract_documents(
            self.docs(spark).where(F.col("doc_id").isin(ids))))

    def input_mb(self):
        return inputs.dir_mb(self.corpus)

    def rungs(self, spark):
        return [("scan", lambda: self.docs(spark)),
                ("boundary", lambda: _identity_rung(self.docs(spark)))]

    def extras(self, ctx, ladder):
        with ctx.tracer.span("pipeline.salted"):
            salted = self._salted(ctx.spark)
        with ctx.tracer.span("lineage"):
            lin, attempted, failed = self._lineage(ctx)
        return {**salted, **lin}, attempted, failed

    def _salted(self, spark) -> dict:
        """Coverage of the salted (oversized-doc) path."""
        from ch_pdf_parse_spark import constants
        from pyspark.sql import functions as F

        row = self.docs(spark).agg(
            F.max("n_spans").alias("mx"),
            F.count(F.when(F.col("n_spans") > constants.SALT_SPAN_THRESHOLD, 1))
            .alias("salted")).collect()[0]
        return {"pipeline.salted_docs": row["salted"],
                "pipeline.max_spans": row["mx"]}

    def _lineage(self, ctx) -> tuple[dict, int, int]:
        """``job.py``'s default path: ``run_with_lineage`` (staging on, both
        columns, parallelism 1) killed after ``LINEAGE_FAIL_AFTER`` buckets,
        then resumed. Bucket times come from the lineage table; the rest of
        the wall (staging copy, bucket planning, lineage appends, the
        resume's anti-join) is ``lineage.stage_s``."""
        from ch_pdf_parse_spark.sources.lineage import (read_lineage,
                                                        read_output,
                                                        run_with_lineage)

        spark, tr = ctx.spark, ctx.tracer
        out_dir = os.path.join(ctx.work, "out", f"lineage-s{self.seed}")
        shutil.rmtree(out_dir, ignore_errors=True)
        ctx.set_group("lineage")
        t0 = time.perf_counter()
        with tr.span("lineage.first", fail_after=LINEAGE_FAIL_AFTER):
            try:
                run_with_lineage(spark, self.docs(spark), out_dir,
                                 n_buckets=LINEAGE_BUCKETS,
                                 fail_after=LINEAGE_FAIL_AFTER)
                raise RuntimeError("run_with_lineage ignored fail_after")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        first_s = time.perf_counter() - t0
        ctx.set_group("lineage.check")
        first = {r["bucket"] for r in read_lineage(spark, out_dir)
                 .where("status = 'done'").collect()}
        ctx.set_group("lineage")
        t1 = time.perf_counter()
        with tr.span("lineage.resume"):
            computed = run_with_lineage(spark, self.docs(spark), out_dir,
                                        n_buckets=LINEAGE_BUCKETS)
        t2 = time.perf_counter()
        ctx.set_group("lineage.check")
        lin = read_lineage(spark, out_dir).where("status = 'done'").collect()
        walls = [r["wall_ms"] / 1e3 for r in lin]
        total = first_s + (t2 - t1)
        recomputed = len(first & set(computed))
        out = read_output(spark, out_dir)
        n_out = out.count()
        n_lin = sum(r["doc_count"] for r in lin)
        n_checked, bad = self._check(out)
        figures = {
            "lineage.total_s": total,
            "lineage.docs_per_s": self.n_docs / total,
            "lineage.bucket_s.sum": sum(walls),
            "lineage.bucket_s.median": statistics.median(walls),
            "lineage.bucket_s.max": max(walls),
            "lineage.stage_s": total - sum(walls),
            "lineage.resume_s": t2 - t1,
            "lineage.resume_recomputed": recomputed,
            "lineage.buckets_done": len(lin),
            "lineage.checked_docs": n_checked,
        }
        failed = (abs(self.n_docs - n_out) + abs(n_out - n_lin) + len(bad)
                  + (recomputed or len(lin) != LINEAGE_BUCKETS) * self.n_docs)
        shutil.rmtree(out_dir, ignore_errors=True)
        return figures, self.n_docs, failed


class ExtractWire(Workload):
    name = "extract_wire"
    why = ("same docs as 8 .cpw shards -> extract_wire (fused parse and "
           "kernel) -> noop; the only workload where shard parsing works")

    def prepare(self, ctx):
        self.seed = ctx.seed
        self.shards = inputs.wire_shards(ctx.spark, ctx.work, self.n_docs,
                                         ctx.seed, N_SHARDS)

    def pass_df(self, spark):
        from ch_pdf_parse_spark.sources.wireformat import extract_wire

        return extract_wire(spark, self.shards)

    def sample_check(self, spark):
        return self._check(self.pass_df(spark))

    def input_mb(self):
        return inputs.dir_mb(self.shards)

    def _binary(self, spark):
        return (spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.cpw").load(self.shards)
                .select("path", "content"))

    def rungs(self, spark):
        return [("scan", lambda: self._binary(spark)),
                ("boundary",
                 lambda: _identity_rung(self._binary(spark).select("content")))]

    def extras(self, ctx, ladder):
        with ctx.tracer.span("wireformat"):
            wire = self._paths(ctx, ladder)
        with ctx.tracer.span("dedup"):
            dedup, attempted, failed = dedup_side(ctx)
        return {**wire, **dedup}, attempted, failed

    def _paths(self, ctx, ladder) -> dict:
        """Parse only (``read_wire``) and the composable path
        (``extract_documents(read_wire)``) beside the fused pass; the
        ingest audit's corrupt-record count."""
        from ch_pdf_parse_spark.pipeline import extract_documents
        from ch_pdf_parse_spark.sources.wireformat import read_wire, wire_scan_stats
        from pyspark.sql import functions as F

        spark = ctx.spark
        med = _interleaved({
            "parse": lambda: read_wire(spark, self.shards),
            "composable": lambda: extract_documents(read_wire(spark, self.shards)),
        }, ctx.tracer, ctx, "wireformat")
        ctx.set_group("wireformat.audit")
        corrupt = wire_scan_stats(spark, self.shards).agg(
            F.sum("n_corrupt")).collect()[0][0]
        return {
            "wireformat.parse_s": med["parse"] - ladder["boundary"],
            "wireformat.read_wire_s": med["parse"],
            "wireformat.composable_s": med["composable"],
            "wireformat.fused_s": ladder["full"],
            "wireformat.shard_mb": self.input_mb() / N_SHARDS,
            "wireformat.corrupt_records": int(corrupt or 0),
        }


# ----------------------------------------------------------------- dedup


def _dedup_expected(table: str, work: str, tracer) -> dict:
    """Oracle checksums for ``table``; the oracle's answer is a function of
    the input, so it is cached beside it."""
    path = os.path.join(table, "_oracle.json")
    if not os.path.exists(path):
        with tracer.span("dedup.oracle"):
            want = checks.dedup_oracle_checksums(
                table, os.path.join(work, "tmp", "duckdb"))
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def dedup_side(ctx) -> tuple[dict, int, int]:
    """``cluster.dedup_clusters`` over a seeded ``documents`` text table,
    measured in ``extract_wire``'s traced run: full passes whose Observation
    checksums are compared with the engine's DuckDB oracle, then the stages
    one at a time (shingle hashes, minhash signatures, the three detectors'
    candidate pairs). The connected-components fixpoint is the full pass
    minus the pairs."""
    from ch_pdf_parse_spark.operators.cluster import (candidate_pairs_union,
                                                      dedup_clusters)
    from ch_pdf_parse_spark.operators.dedup import (minhash_from_text,
                                                    shingle_hashes,
                                                    with_dup_corpus)
    from ch_pdf_parse_spark.sources.catalog import read_table
    from pyspark.sql import Observation

    spark, tracer = ctx.spark, ctx.tracer
    table = inputs.dedup_table(ctx.work, N_DEDUP_DOCS, ctx.seed)
    want = _dedup_expected(table, ctx.work, tracer)
    walls, failed = [], 0
    for rep in range(EXTRA_REPS):
        ctx.set_group(f"dedup.full.{rep}")
        obs = Observation()
        with tracer.span("dedup.full", rep=rep):
            t0 = time.perf_counter()
            got = noop(dedup_clusters(spark, table), obs,
                       checks.dedup_observation_columns())
            walls.append(time.perf_counter() - t0)
        if checks.checksum_mismatches(want, got):
            failed += N_DEDUP_DOCS
    corpus = with_dup_corpus(read_table(spark, os.path.join(table, "documents.parquet")))
    med = _interleaved({
        "shingle": lambda: shingle_hashes(corpus),
        "minhash": lambda: minhash_from_text(corpus),
    }, tracer, ctx, "dedup")
    shd = shingle_hashes(corpus).persist()
    try:
        ctx.set_group("dedup.pairs")
        shd.count()
        with tracer.span("dedup.pairs"):
            t0 = time.perf_counter()
            pair_rows = candidate_pairs_union(shd, minhash_from_text(corpus)).count()
            pairs_s = time.perf_counter() - t0
    finally:
        shd.unpersist()
    full = statistics.median(walls)
    return {"dedup.docs": N_DEDUP_DOCS,
            "dedup.full_s": full,
            "dedup.docs_per_s": N_DEDUP_DOCS / full,
            "dedup.shingle_s": med["shingle"],
            "dedup.minhash_s": med["minhash"],
            "dedup.pairs_s": pairs_s,
            "dedup.pair_rows": pair_rows,
            "cluster.resolve_s": full - pairs_s}, N_DEDUP_DOCS * EXTRA_REPS, failed


WORKLOADS = {w.name: w for w in (ExtractParquet, ExtractWire)}
