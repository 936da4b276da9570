"""Benchmark runner for the facs_spark sketch engine.

    python3 perfbench/run.py --workload classify|build|sketch_queries \
        --seed N --seconds S --trace 0|1 [--smoke]

One process, one client, closed loop: the next operation starts when
the previous one has returned and been checked.  Inputs are generated
from ``--seed`` and exact answers computed before set-up; set-up
(session start, package ship, worker warm-up, the program's one-time
work) is repeated ``SETUP_REPS`` times and its median reported, plus
one warm-up pass.  Operations then run until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (see perfbench/README.md).  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes goes under ``.bench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2  # the first also launches the JVM
MIN_OPS = 2  # untraced: at least this many timed operations


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["classify", "build", "sketch_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, same checks and metric names")
    return ap.parse_args(argv)


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Session:
    """Set-up and teardown of the Spark session under test."""

    def __init__(self, work, n_cores: int):
        self.work = work
        self.cores = n_cores
        self.spark = None
        self._retired = []  # keep stopped contexts alive: ship keys by id()

    def start(self) -> float:
        """One set-up; returns its wall seconds."""
        from facs_spark.io.synth import synth_pages
        from facs_spark.session import get_spark
        if self.spark is not None:
            self._retired.append(self.spark.sparkContext)
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cores)
        # worker warm-up: one tiny synthesizer task per core
        synth_pages(self.spark, 4 * self.cores,
                    partitions=self.cores).count()
        self.work.one_time(self.spark)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, then the JVM gateway, and wait for both."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - never leave it running
                    proc.kill()
                    proc.wait()


class Loop:
    """The closed loop: clear caches, run one operation, check it."""

    def __init__(self, work, spark, spans):
        self.work = work
        self.spark = spark
        self.spans = spans
        self.count = 0
        self.records = []  # dicts: op, seconds, ok, error, group, t0/t1 ms

    def one(self, op: str, traced: bool = False) -> dict:
        group = f"{'t' if traced else 'u'}{self.count}"
        self.count += 1
        error, out = None, None
        w0, t0 = time.time() * 1e3, time.perf_counter()
        try:
            self.spark.catalog.clearCache()
            self.spark.sparkContext.setJobGroup(group,
                                                f"{self.work.name} {op}")
            w0, t0 = time.time() * 1e3, time.perf_counter()
            out = self.work.run(self.spark, op, self.spans)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted
            first = (str(ex).splitlines() or [""])[0][:200]
            error = f"{type(ex).__name__}: {first}"
        dt = time.perf_counter() - t0
        w1 = time.time() * 1e3
        ok = False
        if error is None:
            try:
                ok, why = self.work.check(op, out)
            except Exception as ex:  # noqa: BLE001 - a failed check too
                ok, why = False, f"check raised {type(ex).__name__}: {ex}"
            if not ok:
                error = f"CheckFailed: {why}"
        rec = {"op": op, "seconds": dt, "ok": ok, "error": error,
               "group": group, "t0_ms": w0, "t1_ms": w1, "traced": traced}
        self.records.append(rec)
        print(f"op {op} {dt:.3f} s {'traced ' if traced else ''}"
              f"{'ok' if ok else 'FAILED ' + error}", flush=True)
        return rec


def run_untraced(loop: Loop, names: list[str], seconds: float) -> list[dict]:
    """Whole passes over ``names`` until ``seconds`` have passed (and at
    least MIN_OPS operations ran)."""
    timed = []
    t_start = time.perf_counter()
    while True:
        for op in names:
            timed.append(loop.one(op))
        if time.perf_counter() - t_start >= seconds and len(timed) >= MIN_OPS:
            return timed


def end_to_end(work, timed: list[dict], setup_s: float) -> dict:
    ok = [r for r in timed if r["ok"]] or timed
    busy = sum(r["seconds"] for r in ok)
    return {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (statistics.median(r["seconds"] for r in ok), "s"),
        "ops_per_min": (60.0 * len(ok) / busy, "1/min"),
        "pages_per_s": (sum(work.rows(r["op"]) for r in ok) / busy,
                        "pages/s"),
    }


def layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit."""
    from tracing import LAYER_UNITS
    from workloads import QUERIES
    return {**LAYER_UNITS, **{f"queries.{q}_s": "s" for q in QUERIES}}


def per_layer(work, session: Session, loop: Loop, seconds: float,
              local_dir: str):
    """The traced run: each operation of a pass runs twice in a row,
    once untraced and once traced, until ``seconds`` have passed.  The
    twins swap order from one operation to the next, so neither gains
    from running second.  Per-layer metrics are means over the traced
    operations; the median ratio of a traced operation's time to its
    untraced twin is the tracing overhead."""
    from tracing import ProcSampler, SparkStatus, replay, union_seconds

    status = SparkStatus(session.spark)
    untraced, traced, rows = [], [], []
    with ProcSampler(local_dir) as sampler:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds or len(traced) < 2:
            for op in work.op_names():
                first_untraced = len(traced) % 2 == 0
                if first_untraced:
                    untraced.append(loop.one(op))
                sampler.active.set()
                try:
                    r = loop.one(op, traced=True)
                finally:
                    sampler.active.clear()
                traced.append(r)
                # read Spark's metrics now, while the plan is still alive
                m, mine = status.op_metrics(r["group"], r["t0_ms"], r["t1_ms"])
                spans = loop.spans.within(r["t0_ms"], r["t1_ms"])

                def span_s(*names):
                    return sum(e - s for n, _p, s, e in spans
                               if n in names) / 1e3

                def job_s(*names):
                    inside = [(s, e) for n, _p, s, e in spans if n in names]
                    return union_seconds(
                        (j["start_ms"], j["end_ms"]) for j in mine
                        if j["end_ms"] and any(s <= j["start_ms"] <= e
                                               for s, e in inside))

                m.update(work.op_layers(op, r["seconds"], m, span_s, job_s))
                rows.append((op, m))
                if not first_untraced:
                    untraced.append(loop.one(op))
    overhead = statistics.median(t["seconds"] / u["seconds"]
                                 for t, u in zip(traced, untraced))

    units = layer_units()
    metrics = {}
    for name in units:
        vals = [m[name] for _op, m in rows if name in m]
        metrics[name] = sum(vals) / len(vals) if vals else 0.0
    nonrepeating = sorted(
        name for name in COUNT_METRICS
        if any(len({m.get(name) for o, m in rows if o == op}) > 1
               for op in {o for o, _m in rows}))
    metrics.update(sampler.peak)
    metrics.update(work.layer_metrics())

    from facs_spark.io.synth import reference_corpus_batch
    from facs_spark.ops.contamination import build_reference_bloom
    from inputs import pages_frame
    from workloads import Build
    bloom = getattr(work, "bloom", None) or build_reference_bloom(
        session.spark.createDataFrame(reference_corpus_batch()), k=15)
    pages = getattr(work, "pages", None)
    if pages is None:
        pages = pages_frame(REPLAY_PAGES, work.seed)
    metrics.update(replay(pages.iloc[:REPLAY_PAGES], bloom,
                          build_capacity=Build.CAPACITY))
    metrics["trace.overhead_ratio"] = overhead
    print(f"trace: {len(traced)} traced / {len(untraced)} untraced "
          f"operations; overhead {overhead:.3f}x; SQL metric values read "
          f"raw {status.raw}, parsed from display text {status.parsed}; "
          f"counts that did not repeat: {nonrepeating or 'none'}",
          flush=True)
    return ({k: (v, units[k]) for k, v in metrics.items() if k in units},
            traced + untraced)


REPLAY_PAGES = 5_000  # two kernel batches per traced run
# Counts that must repeat exactly between operations of one seed.
COUNT_METRICS = ("session.jobs", "session.tasks", "io.files_read_bytes",
                 "session.arrow_to_python_bytes",
                 "session.arrow_from_python_bytes", "ops.shuffle_write_bytes",
                 "ops.driver_collect_bytes", "ops.partial_blobs",
                 "ops.partial_blob_bytes")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import facs_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program under test: {ex}",
              file=sys.stderr)
        return 2
    from tracing import Spans
    from workloads import WORKLOADS

    work_dir = os.path.join(os.getcwd(), ".bench_work",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    session = None
    try:
        prepare_env(work_dir)
        work = WORKLOADS[args.workload](args.seed, args.smoke)
        in_dir = os.path.join(work_dir, "inputs")
        os.makedirs(in_dir)
        t_in = time.perf_counter()
        work.write_inputs(in_dir)
        t_prep = time.perf_counter()
        work.prepare(work.op_names())
        t_setup = time.perf_counter()

        n_cores = cores()
        session = Session(work, n_cores)
        reps = [session.start() for _ in range(SETUP_REPS)]
        loop = Loop(work, session.spark, Spans())
        t0 = time.perf_counter()
        for _ in range(work.warmup_passes):  # first-touch work, in set-up
            for op in work.op_names():
                loop.one(op)
        warm = time.perf_counter() - t0
        warm_records = list(loop.records)
        setup_s = statistics.median(reps) + warm
        steal0, total0 = cpu_ticks()

        if args.trace:
            metrics, timed = per_layer(work, session, loop, args.seconds,
                                       os.path.join(work_dir, "local"))
        else:
            timed = run_untraced(loop, work.op_names(), args.seconds)
            metrics = end_to_end(work, timed, setup_s)
        steal1, total1 = cpu_ticks()
        load1 = os.getloadavg()[0]
        t_end = time.perf_counter()
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass

    failed = [r for r in warm_records + timed if not r["ok"]]
    attempted = len(warm_records) + len(timed)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"setup reps {', '.join(f'{r:.3f}' for r in reps)} s; "
          f"warm-up {warm:.3f} s; {len(timed)} timed operations; "
          f"failed_ops_ratio {len(failed) / attempted:.4f} "
          f"({sorted({r['error'].split(':')[0] for r in failed})}); "
          f"cores {n_cores}; load1 {load1:.2f}; cpu steal "
          f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%; "
          f"seed {args.seed}",
          flush=True)
    print(f"phases: inputs {t_prep - t_in:.2f} s, exact answers "
          f"{t_setup - t_prep:.2f} s, set-up and warm-up "
          f"{sum(reps) + warm:.2f} s, operations "
          f"{t_end - t_setup - sum(reps) - warm:.2f} s", flush=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
