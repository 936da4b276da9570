"""Tracing for the benchmark's traced runs.

Three sources, all outside the program under test:

* ``Spans``: wall-clock spans the runner records around its own calls
  into each layer, kept in memory.
* ``SparkStatus``: Spark's application status store, read over py4j.
  It stays live with the UI off and holds per-job, per-stage and
  per-SQL-operator metrics.  Operations are told apart by job group.
* ``ProcSampler``: a thread that samples resident memory from
  ``/proc`` and the size of Spark's local directory.

``replay`` times the kernel and sketch functions single-threaded on
the seed's own page batches, so no span is placed inside an executor.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# Every per-layer metric of a traced run, with its unit, but for the
# ``queries.<name>_s`` of each sketch query (``run.layer_units``).
LAYER_UNITS = {
    "io.scan_s": "s",
    "io.files_read_bytes": "bytes",
    "session.python_worker_s": "s",
    "session.arrow_to_python_bytes": "bytes",
    "session.arrow_from_python_bytes": "bytes",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.driver_residual_s": "s",
    "session.gc_s": "s",
    "session.spill_bytes": "bytes",
    "session.peak_execution_memory_bytes": "bytes",
    "session.driver_rss_peak_mb": "MB",
    "session.worker_rss_peak_mb": "MB",
    "session.local_dir_peak_mb": "MB",
    "kernels.encode_us_per_page": "us",
    "kernels.classify_self_us_per_page": "us",
    "kernels.shingle_us_per_page": "us",
    "kernels.escalated_ratio": "ratio",
    "kernels.full_check_yield": "ratio",
    "sketch.bloom_contains_ns_per_key": "ns",
    "sketch.bloom_add_ns_per_key": "ns",
    "sketch.hll_update_ns_per_key": "ns",
    "sketch.kll_update_ns_per_value": "ns",
    "sketch.cms_update_ns_per_key": "ns",
    "sketch.bloom_probe_keys": "count",
    "sketch.bloom_unique_key_ratio": "ratio",
    "sketch.merge_ms.bloom": "ms",
    "sketch.serde_ms.bloom": "ms",
    "sketch.merge_ms.hll": "ms",
    "sketch.serde_ms.hll": "ms",
    "sketch.merge_ms.kll": "ms",
    "sketch.serde_ms.kll": "ms",
    "sketch.merge_ms.cms": "ms",
    "sketch.serde_ms.cms": "ms",
    "sketch.bloom_fill_ratio": "ratio",
    "sketch.bloom_fpr": "ratio",
    "sketch.error_to_bound": "ratio",
    "sketch.final_bytes": "bytes",
    "ops.classify_pages_s": "s",
    "ops.broadcast_bytes": "bytes",
    "ops.partials_s": "s",
    "ops.partial_blobs": "count",
    "ops.partial_blob_bytes": "bytes",
    "ops.tree_merge_s": "s",
    "ops.merge_levels": "count",
    "ops.driver_collect_bytes": "bytes",
    "ops.grouped_sketches_s": "s",
    "ops.shuffle_fetch_wait_s": "s",
    "ops.shuffle_write_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


class Spans:
    """In-memory spans (name, parent, start, end), times in epoch
    milliseconds so they line up with Spark's job times."""

    def __init__(self):
        self.records: list[tuple[str, str | None, float, float]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append((name, parent, t0, time.time() * 1e3))

    def within(self, t0_ms: float, t1_ms: float) -> list[tuple]:
        """Spans that started inside [t0_ms, t1_ms]."""
        return [r for r in self.records if t0_ms <= r[2] <= t1_ms]


def union_seconds(intervals) -> float:
    """Length of the union of (start_ms, end_ms) intervals, seconds."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1e3


# ------------------------------------------------------------ status store
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0, "": 1.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
# SQL metric type -> factor from its raw accumulator value to base units
_RAW_SCALE = {"size": 1.0, "sum": 1.0, "timing": 1e-3, "nsTiming": 1e-9}

# SQL metric name -> per-layer metric it feeds (summed per operation)
SQL_METRICS = {
    "scan time": "io.scan_s",
    "size of files read": "io.files_read_bytes",
    "time to run Python workers": "session.python_worker_s",
    "data sent to Python workers": "session.arrow_to_python_bytes",
    "data returned from Python workers": "session.arrow_from_python_bytes",
    "number of output rows": "output_rows",
}


def parse_sql_metric(text: str | None) -> float:
    """Spark's formatted SQL metric -> number in base units (bytes,
    seconds, count).  Multi-task metrics read ``total (min, med, max
    ...)\\n<total> (...)``; the total is taken.  Sizes and times are
    rounded to Spark's display precision (0.1 of the unit shown)."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class SparkStatus:
    """Per-operation Spark metrics from the application status store.

    SQL metric values are read raw from the driver's accumulators while
    the operation's plan is still alive; once the JVM has collected it,
    the store's formatted (rounded) text is parsed instead.  ``raw`` and
    ``parsed`` count the values read each way."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.accums = self.sc._jvm.org.apache.spark.util.AccumulatorContext
        self.raw = self.parsed = 0

    def drain(self) -> None:
        """Wait until the listener bus has applied every event."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[dict]:
        out = []
        lst = self.store.jobsList(None)
        for i in range(lst.size()):
            j = lst.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() != group:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            out.append({
                "id": j.jobId(),
                "tasks": j.numTasks(),
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        return out

    def stage(self, sid: int) -> dict:
        s = self.store.lastStageAttempt(sid)
        return {"gc_s": s.jvmGcTime() / 1e3,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "peak_mem": s.peakExecutionMemory(),
                "shuffle_write": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "result_bytes": s.resultSize()}

    def _value(self, metric, formatted) -> float:
        scale = _RAW_SCALE.get(metric.metricType())
        if scale is not None:
            try:
                acc = self.accums.get(metric.accumulatorId())
                if acc.isDefined():
                    self.raw += 1
                    return max(0, acc.get().value()) * scale
            except Exception:  # noqa: BLE001 - collected: parse the text
                pass
        self.parsed += 1
        return parse_sql_metric(formatted.get() if formatted.isDefined()
                                else None)

    def sql_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Sum of the SQL_METRICS over every SQL execution whose jobs
        are among ``job_ids``, also per MapInPandas operator, plus a
        count of each operator (``operators.<name>``)."""
        out: dict[str, float] = defaultdict(float)
        lst = self.sql.executionsList()
        for i in range(lst.size()):
            e = lst.apply(i)
            ids = {int(x) for x in re.findall(r"(\d+) ->", str(e.jobs()))}
            if not ids or not ids <= job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name().strip()
                out["operators." + name] += 1
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    target = SQL_METRICS.get(m.name())
                    if target is None:
                        continue
                    val = self._value(m, values.get(m.accumulatorId()))
                    out[target] += val
                    if name == "MapInPandas":
                        out[f"MapInPandas.{target}"] += val
        return out

    def op_metrics(self, group: str, t0_ms: float,
                   t1_ms: float) -> tuple[dict[str, float], list[dict]]:
        """Every per-layer Spark metric of one operation (job group),
        and its jobs.  Call it right after the operation."""
        self.drain()
        mine = self.jobs(group)
        stages = [self.stage(s) for j in mine for s in j["stages"]]
        covered = union_seconds(
            (max(j["start_ms"], t0_ms), min(j["end_ms"], t1_ms))
            for j in mine if j["start_ms"] and j["end_ms"])
        out = dict(self.sql_metrics({j["id"] for j in mine}))
        out.update({
            "session.jobs": len(mine),
            "session.tasks": sum(j["tasks"] for j in mine),
            "session.driver_residual_s": max(0.0, (t1_ms - t0_ms) / 1e3
                                             - covered),
            "session.gc_s": sum(s["gc_s"] for s in stages),
            "session.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "session.peak_execution_memory_bytes":
                max((s["peak_mem"] for s in stages), default=0),
            "ops.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "ops.shuffle_fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
            "ops.driver_collect_bytes": sum(s["result_bytes"] for s in stages),
        })
        return out, mine


# ------------------------------------------------------------ /proc sampler
def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> dict[int, str]:
    """pid -> command name of every process below ``root``."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        close = stat.rfind(")")
        comm[int(d)] = stat[stat.find("(") + 1:close]
        parent[int(d)] = int(stat[close + 2:].split()[1])
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = comm[c]
                frontier.append(c)
    return out


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / (1 << 20)


class ProcSampler:
    """Peak driver RSS (this process + the JVM), peak Python-worker RSS
    and peak Spark local-dir size, sampled while ``active`` is set."""

    def __init__(self, local_dir: str, interval: float = 0.1):
        self.local_dir = local_dir
        self.interval = interval
        self.active = threading.Event()
        self.peak = {"session.driver_rss_peak_mb": 0.0,
                     "session.worker_rss_peak_mb": 0.0,
                     "session.local_dir_peak_mb": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.active.wait(self.interval) and not self._stop.is_set():
                procs = _descendants(me)
                driver = _rss_mb(me) + sum(_rss_mb(p) for p, c in procs.items()
                                           if c == "java")
                workers = sum(_rss_mb(p) for p, c in procs.items()
                              if c != "java")
                for key, val in (("session.driver_rss_peak_mb", driver),
                                 ("session.worker_rss_peak_mb", workers),
                                 ("session.local_dir_peak_mb",
                                  _dir_mb(self.local_dir))):
                    self.peak[key] = max(self.peak[key], val)
                time.sleep(self.interval)


# ------------------------------------------------------------ replay
def replay(pages, bloom, k: int = 15, tole: float = 0.4,
           batch: int = 2500, build_capacity: int = 1 << 20) -> dict:
    """Single-threaded rates of the kernels and sketch updates on the
    seed's page batches (the program's kernel batch size).

    ``bloom`` is the reference filter the classify path probes; its
    ``contains_batch`` is wrapped on this instance only, to time and
    count the probes ``classify_batch`` makes.
    """
    from facs_spark.kernels.classify import classify_batch
    from facs_spark.kernels.shingle import encode_batch, shingle_batch
    from facs_spark.sketch import (BloomFilter, CountMinSketch, HyperLogLog,
                                   KLL, sketch_from_bytes)

    t = defaultdict(float)
    n = defaultdict(int)
    inner = bloom.contains_batch

    def timed_contains(keys, cache=None):
        t0 = time.perf_counter()
        out = inner(keys, cache=cache)
        t["contains"] += time.perf_counter() - t0
        n["probe_keys"] += keys.shape[0]
        if keys.shape[0]:
            void = np.ascontiguousarray(keys).view(
                np.dtype((np.void, keys.shape[1])))
            n["probe_unique"] += np.unique(void).size
        return out

    parts = [pages.iloc[i:i + batch] for i in range(0, len(pages), batch)]
    n_parts = 4
    partials = {"bloom": [], "hll": [], "kll": [], "cms": []}
    bloom.contains_batch = timed_contains
    try:
        for idx, sub in enumerate(parts):
            texts = sub["text"].tolist()
            n["pages"] += len(texts)
            t0 = time.perf_counter()
            encode_batch(texts)
            t["encode"] += time.perf_counter() - t0
            before = t["contains"]
            t0 = time.perf_counter()
            res = classify_batch(texts, bloom, k, tole)
            t["classify"] += (time.perf_counter() - t0
                              - (t["contains"] - before))
            n["escalated"] += int(res.escalated.sum())
            n["contaminated"] += int(res.contaminated.sum())
            t0 = time.perf_counter()
            sb = shingle_batch(texts, k)
            t["shingle"] += time.perf_counter() - t0
            slot = idx % n_parts
            if len(partials["bloom"]) <= slot:
                partials["bloom"].append(BloomFilter.create(
                    capacity=build_capacity, k_mer=k))
                partials["hll"].append(HyperLogLog(p=14))
                partials["kll"].append(KLL(k=200))
                partials["cms"].append(CountMinSketch())
            t0 = time.perf_counter()
            partials["bloom"][slot].add_batch(sb.windows)
            t["bloom_add"] += time.perf_counter() - t0
            n["bloom_add_keys"] += sb.windows.shape[0]
            urls = sub["url"].tolist()
            t0 = time.perf_counter()
            partials["hll"][slot].update_batch(urls)
            t["hll"] += time.perf_counter() - t0
            n["hll_keys"] += len(urls)
            lengths = sub["text"].str.len().to_numpy(dtype=np.float64)
            t0 = time.perf_counter()
            partials["kll"][slot].update_batch(lengths)
            t["kll"] += time.perf_counter() - t0
            n["kll_values"] += lengths.size
            toks = [w for txt in texts for w in txt.split(" ") if w]
            t0 = time.perf_counter()
            partials["cms"][slot].update_batch(toks)
            t["cms"] += time.perf_counter() - t0
            n["cms_keys"] += len(toks)
    finally:
        del bloom.contains_batch  # drop the instance wrapper

    out = {
        "kernels.encode_us_per_page": t["encode"] / n["pages"] * 1e6,
        "kernels.classify_self_us_per_page": t["classify"] / n["pages"] * 1e6,
        "kernels.shingle_us_per_page": t["shingle"] / n["pages"] * 1e6,
        "kernels.escalated_ratio": n["escalated"] / n["pages"],
        "kernels.full_check_yield": n["contaminated"] / max(1, n["escalated"]),
        "sketch.bloom_contains_ns_per_key":
            t["contains"] / max(1, n["probe_keys"]) * 1e9,
        "sketch.bloom_probe_keys": n["probe_keys"],
        "sketch.bloom_unique_key_ratio":
            n["probe_unique"] / max(1, n["probe_keys"]),
        "sketch.bloom_add_ns_per_key":
            t["bloom_add"] / max(1, n["bloom_add_keys"]) * 1e9,
        "sketch.hll_update_ns_per_key": t["hll"] / n["hll_keys"] * 1e9,
        "sketch.kll_update_ns_per_value": t["kll"] / n["kll_values"] * 1e9,
        "sketch.cms_update_ns_per_key":
            t["cms"] / max(1, n["cms_keys"]) * 1e9,
    }
    for kind, sks in partials.items():
        t0 = time.perf_counter()
        blobs = [s.to_bytes() for s in sks]
        back = [sketch_from_bytes(b) for b in blobs]
        out[f"sketch.serde_ms.{kind}"] = (time.perf_counter() - t0) * 1e3
        t0 = time.perf_counter()
        merged = back[0]
        for s in back[1:]:
            merged = merged.merge(s)
        out[f"sketch.merge_ms.{kind}"] = (time.perf_counter() - t0) * 1e3
    return out
