"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_parquet --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout of the repository. It generates the seeded
inputs (cached under ``.perfbench_work/``), runs the workload as a closed
loop for ``--seconds``, checks the outputs, prints a per-metric summary
(median, quartiles, sample count) and, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics and
writes a span file. Exits 1 when a correctness check fails, 2 when the
engine package is missing from the checkout.

Every file the run writes stays under ``.perfbench_work/`` in the checkout:
temp files, Spark local dirs, the native-library cache, event logs, spans.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
INITIAL_HEAP = "2g"


def _isolate_files() -> None:
    """Point every temp-file user at the work dir; set before Spark or
    ``tempfile`` is first used. ``SPARK_GRAFT_JAVA_OPTS`` keeps the engine's
    JVM flags and adds the temp dir, no hsperfdata file (for the driver JVM
    and the launcher JVM spark-submit runs before it) and a fixed initial
    heap: G1 otherwise grows the heap from 1/64 of the host's memory over
    the passes, and the timed passes' CPU kept falling with it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    java = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:UseAVX=2")
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"{java} -Xms{INITIAL_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _summary_lines(res: dict, traced: bool, units: dict) -> list[str]:
    lines = [f"workload {res['workload']} seed {res['seed']}: "
             f"{res['docs_per_pass']} docs/pass, {res['passes']} timed passes, "
             f"local[{res['cores']}], driver heap {res['heap']}"]
    for name, s in res["end_to_end"].items():
        lines.append(f"  {name:<16} median {s['median']:.4g} "
                     f"q1 {s['q1']:.4g} q3 {s['q3']:.4g} n={s['n']} "
                     f"{units.get(name, 'MB')}")
    frac = res["failed"] / max(res["attempted"], 1)
    lines.append(f"  {'failed_frac':<16} {frac:.4g} "
                 f"({res['failed']} of {res['attempted']} docs)")
    for note in res["notes"]:
        lines.append(f"  ! {note}")
    if traced:
        for k, v in sorted(res["per_layer"].items()):
            lines.append(f"  {k:<28} {v:.6g}")
        for k, v in sorted(res["extras"].items()):
            lines.append(f"  {k:<28} {v:.6g}")
        lines.append(f"  ladder medians {res['ladder']}")
        lines.append(f"  tracing overhead {res['tracing_overhead_frac']:+.3f} "
                     "(traced pass / untraced pass - 1)")
        lines.append(f"  spans: {res['span_file']}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != here]
    spec = importlib.util.find_spec("ch_pdf_parse_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        print("perfbench: the engine package ch_pdf_parse_spark is not in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    _isolate_files()

    from pyspark import cloudpickle

    from perfbench import harness, udfs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # worker-side functions travel by value: the workers import only the
    # engine package, never the benchmark
    cloudpickle.register_pickle_by_value(udfs)

    from ch_pdf_parse_spark import native

    native.available()  # compile the native library once, outside any timing
    res = harness.run(args.workload, args.seed, args.seconds,
                      bool(args.trace), WORK)
    units = {n: u for n, u, _ in harness.END_TO_END}
    for line in _summary_lines(res, bool(args.trace), units):
        print(line)
    if args.trace:
        metrics = {n: {"value": float(res["per_layer"][n]), "unit": u}
                   for n, u, _ in harness.PER_LAYER}
    else:
        metrics = {n: {"value": float(res["end_to_end"][n]["median"]), "unit": u}
                   for n, u, _ in harness.END_TO_END}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
