"""Round-6 driver-bench attribution harness (VERDICT r5 item #1).

Two driver queries moved between BENCH_r04 and BENCH_r05 while their local
bests IMPROVED: ``q_dedup_clusters`` 21.7 -> 37.2 s and
``q_extract_relational_2k`` 5.5 -> 8.05 s. Round 3 taught us that "steal"
is not a diagnosis until an interleaved A/B at both code settings has been
run in one window AND the AQE FINAL plans have been read (the r3 minhash
delta looked like steal and was a real BroadcastHashJoin flip).

Protocol (the one that caught the r3 flip):

* ``ab <target>`` — N interleaved subprocess pairs in ONE session/window,
  alternating the r4-snapshot worktree (commit fcae8e2, checked out at
  ``.worktrees/r4``) and HEAD. Each sample is a fresh JVM running exactly
  the bench.py recipe for that query (same session conf, same corpus, same
  warmup, two timed runs keeping both). Alternation order flips each pair
  so slow drift in a window hits both settings alike. Output: per-pair
  walls + per-setting min — "multi-session mins at both settings".
* ``sample <target> --repo PATH`` — the per-subprocess worker. With
  ``--plans FILE`` it also executes the query and dumps the AQE final plan
  (isFinalPlan=true) so join-strategy / exchange-reuse flips between the
  two settings are visible, not guessed.

Note ``q_extract_relational_2k``'s entire code path (relational.py,
pipeline.py, core.py, the former Python batch twin, session.py, and its
bench.py invocation) is byte-identical between fcae8e2 and HEAD (verified:
``git diff fcae8e2..HEAD -- <those files>`` is empty for all but bench's
unrelated additions) — for that target the A/B doubles as a pure
window-noise measurement at two independent checkouts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
R4 = os.environ.get("ATTRIB_BASE", os.path.join(REPO, ".worktrees", "r4"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _final_plan(df) -> str:
    df.collect()
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))


def sample_clusters(repo: str, plans_file: str | None) -> dict:
    """One bench-protocol sample of q_dedup_clusters: fresh session at the
    bench conf, two timed noop-write runs (bench records best-of-N>=2; we
    keep both so cold-in-session vs warm is visible)."""
    sys.path.insert(0, repo)
    from ch_pdf_parse_spark.operators.cluster import dedup_clusters
    from ch_pdf_parse_spark.session import get_spark

    # ATTRIB_CORES: the fused-signature A/B (round 6) needs a saturated-CPU
    # regime — at local[32] over the sf0.1 table the box is underloaded and
    # duplicated pipeline executions ride free parallelism, hiding the work
    # difference the fusion removes. cores=4 makes CPU the bottleneck, the
    # regime a loaded 1000-executor cluster is actually in.
    cores = int(os.environ.get("ATTRIB_CORES", "32"))
    spark = get_spark("attrib-clusters", cores=cores,
                      shuffle_partitions=4 * cores)
    try:
        walls = []
        for _ in range(2):
            t0 = time.time()
            (dedup_clusters(spark, SF_DIR)
             .write.format("noop").mode("overwrite").save())
            walls.append(round(time.time() - t0, 3))
        out = {"repo": repo, "target": "clusters", "walls": walls}
        if plans_file:
            # final plans of the three detectors' candidate-pair DFs — the
            # layer where the r3-class flip (BHJ defeating ReusedExchange)
            # would live. Executed, not static: exchange reuse is an AQE
            # stage decision.
            from ch_pdf_parse_spark.operators import cluster as cl
            from ch_pdf_parse_spark.operators import dedup as dd
            from pyspark.sql import functions as F

            corpus = dd.with_dup_corpus(
                spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")))
            sh = dd.shingles(corpus)
            try:
                sh = sh.withColumn("h", dd.portable_hash(F.col("shingle")))
            except AttributeError:
                pass  # r4 snapshot: no shared-hash column
            sh = sh.persist()
            import inspect

            params = list(inspect.signature(
                cl.candidate_pairs_union).parameters)
            fused = None
            if params[0] == "corpus":  # r4 API: (corpus, sh=None)
                pairs = cl.candidate_pairs_union(corpus, sh)
            elif params == ["sh"]:  # r5 API: (sh)
                pairs = cl.candidate_pairs_union(sh)
            else:  # r6 fused API: (sh, fused)
                fused = dd.fused_doc_signatures(sh).persist()
                pairs = cl.candidate_pairs_union(sh, fused)
            txt = _final_plan(pairs)
            sh.unpersist()
            if fused is not None:
                fused.unpersist()
            with open(plans_file, "w") as f:
                f.write(txt)
            out["plan_reused_exchanges"] = txt.count("ReusedExchange")
            out["plan_bhj"] = txt.count("BroadcastHashJoin")
            out["plan_smj"] = txt.count("SortMergeJoin")
            out["plan_final"] = "isFinalPlan=true" in txt
        return out
    finally:
        spark.stop()


def sample_relational(repo: str, plans_file: str | None) -> dict:
    """One bench-protocol sample of q_extract_relational_2k — exactly
    bench.run_extraction(32, corpus, relational=True, doc_limit=doc_002000,
    shuffle_partitions=32), but keeping both timed runs."""
    sys.path.insert(0, repo)
    from ch_pdf_parse_spark.pipeline import extract_documents  # noqa: F401
    from ch_pdf_parse_spark.relational import extract_documents_relational
    from ch_pdf_parse_spark.session import get_spark

    corpus_path = os.path.join(REPO, ".fixtures", "bench_40000_v3")
    spark = get_spark("attrib-rel", cores=32, shuffle_partitions=32,
                      **{"spark.sql.files.maxPartitionBytes":
                         str(4 * 1024 * 1024)})
    try:
        docs = (spark.read.parquet(
            os.path.join(corpus_path, "documents.parquet"))
            .where("doc_id < 'doc_002000'").coalesce(96))
        def _run(df):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            return round(time.time() - t0, 3)
        _run(extract_documents_relational(docs.limit(64)))  # warmup
        walls = [_run(extract_documents_relational(docs)) for _ in range(2)]
        out = {"repo": repo, "target": "relational", "walls": walls}
        if plans_file:
            txt = _final_plan(extract_documents_relational(docs))
            with open(plans_file, "w") as f:
                f.write(txt)
            out["plan_reused_exchanges"] = txt.count("ReusedExchange")
            out["plan_bhj"] = txt.count("BroadcastHashJoin")
        return out
    finally:
        spark.stop()


def run_sample(args) -> None:
    fn = {"clusters": sample_clusters,
          "relational": sample_relational}[args.target]
    print(json.dumps(fn(args.repo, args.plans)))


def run_ab(args) -> None:
    results: dict[str, list[list[float]]] = {"r4": [], "head": []}
    plans_done = {"r4": False, "head": False}
    for pair in range(args.pairs):
        order = [("r4", R4), ("head", REPO)]
        if pair % 2 == 1:
            order.reverse()
        for tag, repo in order:
            plans = None
            if args.plans_dir and not plans_done[tag]:
                plans = os.path.join(
                    args.plans_dir, f"{args.target}_{tag}.finalplan.txt")
                plans_done[tag] = True
            cmd = [sys.executable, os.path.abspath(__file__), "sample",
                   args.target, "--repo", repo]
            if plans:
                cmd += ["--plans", plans]
            t0 = time.time()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                print(f"pair {pair} {tag}: FAILED\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            results[tag].append(rec["walls"])
            extra = {k: v for k, v in rec.items()
                     if k.startswith("plan_")}
            print(f"pair {pair} {tag:4s}: walls={rec['walls']} "
                  f"(subproc {time.time() - t0:.1f}s) {extra or ''}",
                  flush=True)
    summary = {}
    for tag, runs in results.items():
        flat = [w for ws in runs for w in ws]
        summary[tag] = {"n_samples": len(runs), "min": min(flat) if flat else None,
                        "all": runs}
    print(json.dumps({"target": args.target, "summary": summary}))


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sample")
    s.add_argument("target", choices=["clusters", "relational"])
    s.add_argument("--repo", default=REPO)
    s.add_argument("--plans", default=None)
    s.set_defaults(fn=run_sample)
    a = sub.add_parser("ab")
    a.add_argument("target", choices=["clusters", "relational"])
    a.add_argument("--pairs", type=int, default=4)
    a.add_argument("--plans-dir", default=os.path.join(REPO, "BENCH"))
    a.set_defaults(fn=run_ab)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
