"""One benchmark run: sessions, the closed timed loop, checks and metrics.

Closed loop: one driver thread runs one pass at a time on a
``local[CORES]`` session; the next pass starts when the previous one has
finished, so a slower engine receives less work, never a queue.

Cores: the passes run on ``local[CORES]``. On a 4-core host ``local[4]``
keeps ~8 JVM and Python threads busy, so its pass time follows the
scheduler and the host's other tenants more than the engine: measured on a
4-core host, ``local[1]`` reached 0.6 of ``local[4]``'s docs/s on
``extract_parquet`` at 0.76 of its CPU per document, and lost 10% of its
docs/s to two busy-looping processes where ``local[4]`` lost 25%.

Set-up samples: the first session launches the JVM on ``local[nproc]`` (its
``get_spark`` time is ``session.jvm_launch_s``), generates the inputs and
runs the JIT warm-up passes, all untimed. Then the run restarts the
SparkContext ``SETUP_SAMPLES`` times in the same JVM, on ``local[CORES]``.
Every restart is ``get_spark`` + shipping the package + a warm-up action on
every core, which starts the Python workers and loads the native library in
each. ``setup_s`` is their median.
"""

from __future__ import annotations

import os
import signal
import statistics
import time

from . import procstat, stats, tracing, udfs
from .workloads import WORKLOADS, noop, timed_noop

CORES = 1
SETUP_SAMPLES = 3
# measured on 4 cores: pass time and CPU settle after ~7 passes in a fresh
# JVM (JIT). The first JIT_WARM_PASSES run on every core right after input
# generation; the JVM keeps its compiled code across SparkContext restarts,
# so the session of the timed passes needs only WARM_PASSES of its own
JIT_WARM_PASSES = 5
WARM_PASSES = 2
RUNG_REPS = 3

# (name, unit, better) — BENCHMARK.json lists the same names
END_TO_END = [
    ("docs_per_s", "docs/s", "higher"),
    ("setup_s", "s", "lower"),
    ("cpu_s_per_kdoc", "s", "lower"),
    ("worker_rss_mb", "MB", "lower"),
]
PER_LAYER = [
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("session.jvm_launch_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("scan.source_s", "s", "lower"),
    ("scan.input_mb", "MB", "lower"),
    ("boundary.roundtrip_s", "s", "lower"),
    ("kernel.work_s", "s", "lower"),
    ("ladder.top_over_pass", "ratio", "lower"),
    ("trace.traced_pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("python.mb_sent", "MB", "lower"),
    ("python.mb_received", "MB", "lower"),
    ("python.batches", "count", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("native.extract_ms_per_kdoc", "ms", "lower"),
    ("native.extract_accept_ratio", "ratio", "higher"),
    ("native.parse_ms_per_mb", "ms", "lower"),
    ("native.minhash_ms_per_kdoc", "ms", "lower"),
]
PROBE_SPAN_DOCS = 256
PROBE_TEXTS = 1000


class Context:
    """What a workload needs from the run: the live session, the work dir,
    the seed, the tracer, and job-group tagging for the event log."""

    def __init__(self, work: str, seed: int, tracer, traced: bool):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.traced = traced
        self.spark = None

    def set_group(self, gid: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, gid)


class _NoTracer:
    """Stands in for ``tracing.Tracer`` when the run is not traced."""

    def span(self, name, **attrs):
        import contextlib

        return contextlib.nullcontext({})


class Sessions:
    """Opens ``get_spark`` sessions and owns the JVM they share."""

    def __init__(self, conf: dict):
        self.conf = conf
        self.spark = None

    def open(self, cores: int, extra: dict | None = None) -> tuple[float, float]:
        """Start a session on ``local[cores]``; return (get_spark seconds,
        warm-up seconds)."""
        from ch_pdf_parse_spark.packaging import ensure_on_executors
        from ch_pdf_parse_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores,
                          **{**self.conf, **(extra or {})})
        t1 = time.perf_counter()
        # the engine's UDF modules are not on the workers' path unless shipped
        ensure_on_executors(spark)
        noop(spark.range(cores, numPartitions=cores)
             .mapInArrow(udfs.warm_worker, "id long"))
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return t1 - t0, t2 - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until every process the
        JVM started (Python daemon and workers) has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        pids = procstat.descendants(os.getpid())
        try:
            self.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                try:
                    gateway.shutdown()
                except Exception:  # noqa: BLE001 — the JVM may already be gone
                    pass
                if proc is not None:
                    # the JVM exits when its stdin closes
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:  # noqa: BLE001
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            _wait_gone(pids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def _wait_gone(pids, timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)  # reap our own children
        except ChildProcessError:
            pass


class Tally:
    """Documents attempted and failed across every pass and check of a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._first_obs = None

    def record_pass(self, wl, obs: dict) -> None:
        self.attempted += wl.n_docs
        bad = wl.pass_failures(obs)
        if self._first_obs is None:
            self._first_obs = obs
        elif obs != self._first_obs:
            # same input, same engine: the output aggregates must repeat
            bad = wl.n_docs
            self.notes.append(f"pass output differs from the first: {obs}")
        if bad:
            self.notes.append(f"pass failed {bad} docs: {obs}")
        self.failed += bad

    def record_sample(self, n_checked: int, bad: list) -> None:
        if bad:
            self.failed += len(bad)
            self.notes.append(f"sample check failed for {bad}")


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # spark-submit execs the JVM


def _observed_pass(wl, spark, tally: Tally, meter=None) -> dict:
    """One pass with its Observation, tallied: wall seconds and, when
    metered, CPU seconds and the peak RSS of the JVM and of the Python
    processes under it."""
    from pyspark.sql import Observation

    obs = Observation()
    if meter is not None:
        meter.start()
    t0 = time.perf_counter()
    got = noop(wl.pass_df(spark), obs, wl.observed_columns())
    rec = {"wall": time.perf_counter() - t0}
    if meter is not None:
        rec["cpu"], peaks = meter.stop()
        jvm = _jvm_pid()
        rec["rss_jvm"] = peaks.get(jvm, 0.0)
        rec["rss_py"] = sum(v for pid, v in peaks.items() if pid != jvm)
    tally.record_pass(wl, got)
    return rec


def _timed_loop(wl, spark, seconds: float, tally: Tally, tracer) -> list[dict]:
    """Passes until ``seconds`` have elapsed (at least one)."""
    meter = procstat.TreeMeter()
    loop = []
    t_end = time.perf_counter() + seconds
    while True:
        with tracer.span("pass", index=len(loop)):
            loop.append(_observed_pass(wl, spark, tally, meter))
        if time.perf_counter() >= t_end:
            return loop


def _warm(wl, spark, tally: Tally, tracer, n: int) -> None:
    for i in range(n):
        with tracer.span("warm", index=i):
            _observed_pass(wl, spark, tally)


def run(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    """One run of workload ``name``. Untraced: set-up samples, warm passes,
    then timed passes for ``seconds``. Traced: the second-to-last restart
    runs the untraced baseline passes, the last one writes an event log and
    runs traced passes interleaved with the ladder rungs, then the
    workload's extras."""
    wl = WORKLOADS[name]()
    tracer = tracing.Tracer(f"{name}-s{seed}") if traced else _NoTracer()
    ctx = Context(work, seed, tracer, traced)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    sessions = Sessions(conf)
    tally = Tally()
    samples = []
    out: dict = {"workload": name, "seed": seed, "cores": CORES,
                 "docs_per_pass": wl.n_docs}
    try:
        with tracer.span("session.cold"):
            launch_s, _ = sessions.open(os.cpu_count() or 1)
        ctx.spark = sessions.spark
        out["heap"] = ctx.spark.sparkContext.getConf().get("spark.driver.memory")
        with tracer.span("prepare"):
            wl.prepare(ctx)
        with tracer.span("jit"):
            _warm(wl, ctx.spark, tally, tracer, JIT_WARM_PASSES)
        for i in range(SETUP_SAMPLES):
            extra = None
            if traced and i == SETUP_SAMPLES - 1:
                # untraced baseline in the session about to close; only the
                # last session writes an event log
                with tracer.span("untraced"):
                    _warm(wl, ctx.spark, tally, tracer, WARM_PASSES)
                    base = _timed_loop(wl, ctx.spark, seconds / 2, tally, tracer)
                extra = _event_log_conf(work)
            sessions.stop()
            with tracer.span("session.restart", index=i):
                samples.append(sessions.open(CORES, extra))
            ctx.spark = sessions.spark
        if traced:
            loop, traced_out = _traced(wl, ctx, tally)
            out.update(traced_out)
        else:
            _warm(wl, ctx.spark, tally, tracer, WARM_PASSES)
            loop = _timed_loop(wl, ctx.spark, seconds, tally, tracer)
        ctx.set_group("check")
        with tracer.span("check"):
            n_checked, bad = wl.sample_check(ctx.spark)
        tally.record_sample(n_checked, bad)
        out["checked_docs"] = n_checked
        app_id = ctx.spark.sparkContext.applicationId
    finally:
        sessions.shutdown()

    out["passes"] = len(loop)
    out["timed_passes"] = loop
    setup = [s + w for s, w in samples]
    out["setup_samples"] = setup
    n = wl.n_docs
    out["end_to_end"] = {
        "docs_per_s": stats.summary([n / p["wall"] for p in loop]),
        "setup_s": stats.summary(setup),
        "cpu_s_per_kdoc": stats.summary([p["cpu"] / (n / 1e3) for p in loop]),
        "worker_rss_mb": stats.summary([p["rss_py"] for p in loop]),
        # not an end-to-end metric: G1 grows the heap differently from run
        # to run (3.3-6.3 GB for the same passes), see NOTES.md
        "jvm_rss_mb": stats.summary([p["rss_jvm"] for p in loop]),
    }
    if traced:
        layers = out["per_layer"]
        layers["session.jvm_launch_s"] = launch_s
        layers["session.start_s"] = statistics.median(s for s, _ in samples)
        layers["session.warmup_s"] = statistics.median(w for _, w in samples)
        traced_pass = statistics.median(p["wall"] for p in loop)
        layers["trace.traced_pass_s"] = traced_pass
        layers["jvm.peak_rss_mb"] = statistics.median(p["rss_jvm"] for p in loop)
        layers["trace.untraced_pass_s"] = statistics.median(p["wall"] for p in base)
        layers["ladder.top_over_pass"] = out["ladder"]["full"] / traced_pass
        out["tracing_overhead_frac"] = traced_pass / layers["trace.untraced_pass_s"] - 1
        groups = tracing.read_event_log(
            tracing.find_event_log(os.path.join(work, "eventlog"), app_id))
        out["event_log_groups"] = {g: tracing.group_metrics(v)
                                   for g, v in sorted(groups.items())}
        per_pass = [out["event_log_groups"][f"pass{i}"] for i in range(RUNG_REPS)]
        for key in per_pass[0]:
            layers[key] = statistics.median(p[key] for p in per_pass)
        with tracer.span("native.probes"):
            layers.update(_native_probes(seed))
    out["attempted"] = tally.attempted
    out["failed"] = tally.failed
    out["notes"] = tally.notes
    if traced:
        path = os.path.join(work, "trace", f"{name}-s{seed}.json")
        tracer.write(path, result=out)
        out["span_file"] = path
    return out


def _event_log_conf(work: str) -> dict:
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _traced(wl, ctx, tally: Tally) -> tuple[list[dict], dict]:
    """Traced passes interleaved with the ladder rungs (so JIT warm-up
    biases neither), then the workload's extras. Returns the pass loop and
    the traced figures."""
    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("warm", index=0):
        # the first pass in a fresh SparkContext pays its own start-up
        _observed_pass(wl, spark, tally)
    meter = procstat.TreeMeter()
    loop = []

    def observed():
        from pyspark.sql import Observation

        return wl.pass_df(spark).observe(Observation(), *wl.observed_columns())

    # the top rung is the timed pass itself, Observation included
    rungs = wl.rungs(spark) + [("full", observed)]
    walls: dict[str, list[float]] = {name: [] for name, _ in rungs}
    for rep in range(RUNG_REPS):
        ctx.set_group(f"pass{rep}")
        with tracer.span("pass", index=rep):
            loop.append(_observed_pass(wl, spark, tally, meter))
        for name, build in rungs:
            ctx.set_group(f"rung.{name}.{rep}")
            with tracer.span(f"rung.{name}", rep=rep):
                walls[name].append(timed_noop(build))
    med = {name: statistics.median(v) for name, v in walls.items()}
    inc = dict(stats.ladder_increments([(n, med[n]) for n, _ in rungs]))
    layers = {
        "scan.source_s": inc["scan"],
        "scan.input_mb": wl.input_mb(),
        "boundary.roundtrip_s": inc["boundary"],
        "kernel.work_s": inc["full"],
    }
    with tracer.span("extras"):
        extras, attempted, failed = wl.extras(ctx, med)
    tally.attempted += attempted
    tally.failed += failed
    if failed:
        tally.notes.append(f"traced extras failed {failed} docs")
    return loop, {"per_layer": layers, "ladder": med, "ladder_samples": walls,
                  "ladder_increments": inc, "extras": extras}


def _native_probes(seed: int) -> dict:
    from . import inputs

    batch = udfs.span_docs_batch(range(PROBE_SPAN_DOCS), seed)
    texts = inputs.dedup_rows(PROBE_TEXTS, seed)["text"]
    return tracing.native_probes(batch, texts)
