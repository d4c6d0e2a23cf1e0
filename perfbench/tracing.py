"""Traced-run instruments: spans, Spark event-log totals, native kernel probes.

Spans are recorded from the benchmark's own code around each call into a
layer (session, scan, pass, ladder rung, lineage bucket run, ...). They are
kept in memory and written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time


class Tracer:
    """In-memory span recorder. Each span has an id, its parent's id, a
    name, start/end (seconds since the tracer was made) and attributes."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": next(self._ids),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter() - self._t0,
               "attrs": dict(attrs)}
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            self.spans.append(rec)

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {"trace_id": self.trace_id,
               "spans": sorted(self.spans, key=lambda s: s["start"]), **extra}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


# --------------------------------------------------------------- event log

# SQL metric names Spark 4.1 gives the Python UDF nodes (PythonSQLMetrics)
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_BATCHES = "number of input batches"


def _new_group() -> dict:
    return {"jobs": 0, "tasks": 0, "run_ms": {}, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "py_sent_b": 0, "py_recv_b": 0, "py_batches": 0}


def read_event_log(path: str) -> dict[str, dict]:
    """Per job group (``SparkContext.setJobGroup`` id): job and task counts,
    task run times per stage, executor CPU, GC, shuffle and spill bytes, and the
    Python nodes' bytes sent / received and input batches."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups.setdefault(gid, _new_group())["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"], "")
                g = groups.setdefault(gid, _new_group())
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_ms"].setdefault(ev["Stage ID"], []).append(
                    tm.get("Executor Run Time", 0))
                g["cpu_ns"] += (tm.get("Executor CPU Time", 0)
                                + tm.get("Executor Deserialize CPU Time", 0))
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                g["spill_b"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == _PY_SENT:
                        g["py_sent_b"] += int(upd)
                    elif name == _PY_RECV:
                        g["py_recv_b"] += int(upd)
                    elif name == _PY_BATCHES:
                        g["py_batches"] += int(upd)
    return groups


def task_skew(stage_run_ms: dict) -> float:
    """max / median task run time within the stage with the most total task
    time (the stage a straggler would hold up); 1.0 when it has no timed
    tasks."""
    if not stage_run_ms:
        return 1.0
    run = max(stage_run_ms.values(), key=sum)
    med = statistics.median(run)
    return max(run) / med if med > 0 else 1.0


def group_metrics(g: dict) -> dict:
    """One job group's totals in reported units."""
    return {
        "spark.jobs": g["jobs"],
        "spark.tasks": g["tasks"],
        "spark.task_skew": task_skew(g["run_ms"]),
        "spark.executor_cpu_s": g["cpu_ns"] / 1e9,
        "spark.gc_s": g["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": g["shuffle_write_b"] / 1e6,
        "spark.shuffle_read_mb": g["shuffle_read_b"] / 1e6,
        "spark.spill_mb": g["spill_b"] / 1e6,
        "python.mb_sent": g["py_sent_b"] / 1e6,
        "python.mb_received": g["py_recv_b"] / 1e6,
        "python.batches": g["py_batches"],
    }


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path


# ----------------------------------------------------------- native probes


def _median_wall(fn, what: str, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``, after one call that
    must not decline (return None): a declined probe would time the
    fallback check, not the kernel."""
    if fn() is None:
        raise RuntimeError(f"native {what} declined the probe input")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _compact(batch):
    """IPC round trip: the zero-offset buffer layout Spark hands a
    ``mapInArrow`` worker."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return pa.ipc.open_stream(sink.getvalue()).read_next_batch()


def native_probes(span_batch, texts, reps: int = 5,
                  batch_docs: int = 64) -> dict:
    """Single-thread, in-process timings of the C kernels in ``native``:

    * extraction kernel on ``span_batch`` (ms per 1000 docs), and the share
      of ``batch_docs``-doc batches it accepts rather than declines;
    * shard parser on the same documents encoded as one wire shard (ms/MB);
    * minhash over ``texts`` (ms per 1000 texts)."""
    import pyarrow as pa

    from ch_pdf_parse_spark import native
    from ch_pdf_parse_spark.operators.dedup import N_MINHASH
    from ch_pdf_parse_spark.sources.wireformat import encode_shard

    if not native.available():
        raise RuntimeError("native kernels unavailable (no C compiler?)")
    n = span_batch.num_rows
    full = _compact(span_batch)
    ext_s = _median_wall(lambda: native.extract_batch(full, True, True),
                         "extraction", reps)
    parts = [_compact(span_batch.slice(i, batch_docs))
             for i in range(0, n, batch_docs)]
    accepted = sum(native.extract_batch(b, True, True) is not None for b in parts)

    rows = span_batch.select(["doc_id", "spans"]).to_pylist()
    shard = encode_shard((r["doc_id"], r["spans"]) for r in rows)
    parse_s = _median_wall(lambda: native.parse_shard_batch(shard),
                           "shard parser", reps)

    arr = pa.array(texts, pa.string())
    mh_s = _median_wall(lambda: native.minhash_text_batch(arr, 3, N_MINHASH),
                        "minhash", reps)
    return {
        "native.extract_ms_per_kdoc": ext_s * 1e3 / (n / 1e3),
        "native.extract_accept_ratio": accepted / len(parts),
        "native.parse_ms_per_mb": parse_s * 1e3 / (len(shard) / 1e6),
        "native.minhash_ms_per_kdoc": mh_s * 1e3 / (len(texts) / 1e3),
    }
