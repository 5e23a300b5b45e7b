"""The repository benchmark: one pipeline run at a time, timed from the
DAG call to the finished result.

    python3 perfbench/run.py --workload train_export --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout. Each invocation is one closed loop with
a single client: it makes the workload's inputs from ``--seed``, checks
the pipeline's output against the DuckDB oracle once, then runs the
pipeline back to back for ``--seconds`` seconds of run time, each run
ending in an order-insensitive checksum of every output that is
compared with the verified one.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on the Spark UI, alternates traced and untraced
runs, and reports the per-layer metrics, the tracing overhead among
them. Names and units come from ``BENCHMARK.json``; ``README.md`` says
what each metric means and which end-to-end metric it should move.

Lines before the last describe the reading (host, versions, seed, input
sizes, ...) and every metric by name and unit; the last line is the
JSON result. Scratch files live under ``.perfbench_work/`` and are
removed at exit, except the traced run's span file.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUPS = 3
MAX_CORES = 4
# run_tail_s: the highest percentile with TAIL_BEYOND runs above it,
# but never below TAIL_FLOOR_PCT
TAIL_BEYOND = 10
TAIL_FLOOR_PCT = 75


def contract() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def start_session(workdir: Path, ui: bool):
    """A local session with the engine's recommended confs; returns once
    a first job has run."""
    from pyspark.sql import SparkSession

    from mldag_spark.session import recommended_session_confs

    k = cores()
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", str(workdir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData")
    )
    for key, value in recommended_session_confs().items():
        b = b.config(key, value)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """Samples resident memory of this process plus the driver JVM every
    0.1 s while active, as ``(perf_counter, MB)`` pairs."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = (os.getpid(), jvm_pid)
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            mb = sum(self._rss_kb(p) for p in self.pids) / 1024
            self.samples.append((time.perf_counter(), mb))
            self._stop.wait(0.1)

    def peak_mb(self, lo: float, hi: float) -> float:
        return max((mb for t, mb in self.samples if lo <= t <= hi),
                   default=0.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def host_probe_s() -> float:
    """A fixed pure-Python workload, timed: a host speed reading to set
    beside the results."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def source_digest() -> str:
    """sha256 (12 hex) over the engine, the registry entry point and the
    benchmark sources: identifies the code when no git commit is at
    hand."""
    h = hashlib.sha256()
    files = sorted(
        list((ROOT / "mldag_spark").rglob("*.py"))
        + [ROOT / "__spark_entry__.py", ROOT / "scripts" / "gen_scale.py"]
        + list(HERE.glob("*.py"))
    )
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples above it): the highest order statistic
    with ``TAIL_BEYOND`` samples above it when that is at or above the
    ``TAIL_FLOOR_PCT`` percentile (40 samples or more); with fewer
    samples, the ``TAIL_FLOOR_PCT`` percentile, interpolated between
    order statistics (a single sample is its own tail)."""
    xs = sorted(values)
    n = len(xs)
    if n - TAIL_BEYOND >= n * TAIL_FLOOR_PCT / 100:
        return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, \
            TAIL_BEYOND
    if n == 1:
        return xs[0], 100.0, 0
    q = statistics.quantiles(xs, n=100, method="inclusive")[TAIL_FLOOR_PCT - 1]
    return q, float(TAIL_FLOOR_PCT), sum(x > q for x in xs)


class Harness:
    """One process's benchmark state: the workload, the session, and
    (traced) the tracer, py4j counter and REST reader."""

    def __init__(self, workload, workdir: Path, traced: bool) -> None:
        from spans import Py4jCounter, Tracer

        self.w, self.workdir, self.traced = workload, workdir, traced
        self.tracer = Tracer()
        self.counter = Py4jCounter() if traced else None
        self.spark = None
        self.rest = None
        self.reference: dict | None = None

    def setup(self) -> list[float]:
        """Start the session ``SETUPS`` times (the first start launches
        the JVM); the last session stays up."""
        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.workdir, ui=self.traced)
            times.append(time.perf_counter() - t0)
        if self.traced:
            from spans import SparkRest

            self.rest = SparkRest(self.spark)
            self.counter.install()
        return times

    def run(self, traced: bool, corrupt=None, expected=None) -> dict:
        """One pipeline run: DAG build and call, then the checksum action
        on every output. With ``expected`` (the oracle's outputs), the
        outputs are then compared with it, untimed. Returns wall time,
        checksums, mismatch reasons and (if traced) the per-layer
        numbers."""
        from workloads import checksum_frame

        gc.collect()
        tracer = self.tracer
        tracer.enabled = traced
        tracer.run_id = run_id = uuid.uuid4().hex
        if traced:
            gc0 = self.jvm_gc_s()
            self.counter.start()
        t0 = time.perf_counter()
        done = False
        try:
            try:
                with tracer.span("run"):
                    outs = self.w.run(self.spark, tracer)
                    sums, frames = {}, []
                    for name, df in outs.items():
                        c = checksum_frame(corrupt(df) if corrupt else df)
                        if traced:
                            with tracer.span("plan.final"), \
                                    self.counter.paused():
                                c._jdf.queryExecution().executedPlan()
                        with tracer.span("action"):
                            row = c.collect()[0]
                        sums[name] = (int(row["n"]), str(row["h"]))
                        frames.append(c)
                t1 = time.perf_counter()
            finally:
                tracer.enabled = False
                calls = self.counter.stop() if traced else None
            res = {"wall": t1 - t0, "t0": t0, "t1": t1, "sums": sums,
                   "problems": self.verify(outs, expected) if expected
                   else []}
            if traced:
                res["layers"] = self._layers(run_id, calls, frames, t0, t1)
                res["layers"]["exec.gc_s"] = self.jvm_gc_s() - gc0
            done = True
        finally:
            # after the checks, failed or not: the run's leftovers go
            extra = self.w.finish(traced and done)
        if traced:
            res["layers"].update(extra)
        return res

    def jvm_gc_s(self) -> float:
        """GC time of the driver JVM so far. In local mode the executors
        are its threads, so every collection pauses them."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def _layers(self, run_id, calls, frames, t0, t1) -> dict:
        from spans import (
            count_exchanges,
            exec_metrics,
            py4j_metrics,
            span_metrics,
        )
        from workloads import NAMED_NODES, STREAM_LAYERS

        jobs, stages = self.rest.jobs_between(t0, t1)
        out, job_spans = exec_metrics(jobs, stages, t0, t1, cores())
        out.update(span_metrics(self.tracer.spans, run_id, NAMED_NODES))
        out.update(py4j_metrics(calls, job_spans, t0, t1))
        out["plan.exchanges"] = sum(count_exchanges(c._jdf) for c in frames)
        out["run.wall_s"] = t1 - t0
        # streaming numbers stay 0 on workloads that run no stream
        out.update({k: 0.0 for k in STREAM_LAYERS})
        return out

    def verify(self, outs: dict, expected: dict) -> list[str]:
        """Compare the outputs with the oracle's; the checksums of the
        verified rows become the reference. Returns mismatch reasons."""
        from workloads import checksum_frame, same_rows

        arrow = "spark.sql.execution.arrow.pyspark.enabled"
        self.spark.conf.set(arrow, "true")
        try:
            problems, ref = [], {}
            for name, df in outs.items():
                got = df.toPandas()
                why = same_rows(got, expected[name])
                if why:
                    problems.append(f"{name}: {why}")
                row = checksum_frame(
                    self.spark.createDataFrame(got, schema=df.schema)
                ).collect()[0]
                ref[name] = (int(row["n"]), str(row["h"]))
        finally:
            self.spark.conf.unset(arrow)
        self.reference = ref
        return problems


def bench(workload: str, seed: int, seconds: float, trace: bool,
          scale: str = "full", corrupt=None) -> dict:
    """Run one workload for ``seconds`` of run time; returns the result
    object (``correct``, ``attempted``, ``failed``, ``metrics``) plus a
    ``detail`` dict. ``corrupt`` (self-tests) alters every timed run's
    outputs before their checksum."""
    from workloads import WORKLOADS

    spec = contract()
    workdir = WORK / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (workdir / sub).mkdir(parents=True)
    w = WORKLOADS[workload](seed, str(workdir), scale)
    h = Harness(w, workdir, trace)
    # wall seconds of each phase of the process, for the describe line
    phases, last = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - last[0], 2)
        last[0] = now

    try:
        probe = host_probe_s()
        w.make_inputs()
        expected = w.expected()
        phase("inputs")
        setups = h.setup()
        spark = h.spark
        phase("setup")

        cold = h.run(False, expected=expected)
        problems = cold["problems"]
        failed = int(cold["sums"] != h.reference)
        phase("cold_and_check")
        # untimed: the first warm run is still 10-60% slower than the
        # next (JIT, codegen caches), by an amount that varies a lot
        failed += int(h.run(False, corrupt)["sums"] != h.reference)
        phase("warmup")
        walls = {True: [], False: []}
        layers, peaks = [], []
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm_pid) as rss:
            i, spent = 0, 0.0
            # traced, alternate traced and untraced runs until both
            # kinds have at least one (or twice the time is spent), so
            # the overhead is measured
            while spent < seconds or (
                trace and not walls[False] and spent < 2 * seconds
            ):
                traced = trace and i % 2 == 0
                i += 1
                t0 = time.perf_counter()
                try:
                    r = h.run(traced, corrupt)
                except Exception:  # a failed run counts; the loop goes on
                    traceback.print_exc()
                    failed += 1
                    spent += time.perf_counter() - t0
                    continue
                spent += r["wall"]
                walls[traced].append(r["wall"])
                peaks.append(rss.peak_mb(r["t0"], r["t1"]))
                failed += int(r["sums"] != h.reference)
                if traced:
                    layers.append(r["layers"])
        phase("timed")
        attempted = 2 + i
        runs = walls[False] if not trace else walls[True]
        if not runs or (trace and not walls[False]):
            raise RuntimeError("no run (or, traced, no untraced run) "
                               "completed")

        versions = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        detail = {
            "workload": workload, "seed": seed, "trace": bool(trace),
            "scale": scale, "cpus": cores(), "host_cpus": os.cpu_count(),
            "versions": versions, "input_sizes": w.sizes,
            "host_probe_s": round(probe, 4), "commit": git_commit(),
            "source_digest": source_digest(), "seconds": seconds,
            "runs": len(runs), "fail_ratio": failed / attempted,
            "setups_s": [round(x, 4) for x in setups],
            "run_walls_s": [round(x, 4) for x in runs],
            "problems": problems, "phases_s": phases,
        }
        if trace:
            selfs = [r.pop("self_time_s") for r in layers]
            detail["self_time_s"] = {
                k: round(statistics.median(x.get(k, 0.0) for x in selfs), 4)
                for k in selfs[0]
            }
            values = {
                k: statistics.median(r[k] for r in layers) for k in layers[0]
            }
            detail["py4j_trips"] = [r["py4j.trips"] for r in layers]
            values["trace.overhead_s"] = (
                statistics.median(walls[True])
                - statistics.median(walls[False])
            )
            detail["untraced_runs"] = len(walls[False])
            names = spec["per_layer"]
            # times that only some workloads have (the fit pass, per-node
            # spans, the stream's micro-batch times) ride in the describe
            # line: as metrics they would read a constant 0 on the others
            listed = {m["name"] for m in names}
            detail["more_layers"] = {
                k: round(v, 4) for k, v in values.items()
                if k not in listed and v
            }
            h.tracer.write(str(WORK / f"spans-{workload}-seed{seed}.jsonl"))
        else:
            p50 = statistics.median(runs)
            t, pct, beyond = tail(runs)
            detail.update(run_tail_pct=round(pct, 1), run_tail_beyond=beyond)
            values = {
                "setup_s": statistics.median(setups),
                "cold_run_s": cold["wall"],
                "run_p50_s": p50,
                "run_tail_s": t,
                "input_rows_per_s": w.input_rows / p50,
                "peak_rss_mb": statistics.median(peaks),
            }
            names = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in names
        }
        return {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "detail": detail,
        }
    finally:
        if h.counter is not None:
            h.counter.uninstall()
        if h.spark is not None:
            stop_jvm(h.spark)
        shutil.rmtree(workdir, ignore_errors=True)


def prepare() -> bool:
    """Put the benchmark and the checkout on ``sys.path`` and keep temp
    files inside the checkout. False when this is not a checkout."""
    if not (ROOT / "mldag_spark").is_dir():
        print(f"perfbench: no mldag_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return False
    sys.path[:0] = [str(HERE), str(ROOT)]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # the JVMs would otherwise write perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = str(tmp)
    return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not prepare():
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    res = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    detail = res.pop("detail")
    print("perfbench describe " + json.dumps(detail, sort_keys=True))
    for name, m in res["metrics"].items():
        print(f"perfbench metric {name} = {m['value']:.6g} {m['unit']}")
    print(f"perfbench metric fail_ratio = {detail['fail_ratio']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} runs)")
    if not args.trace:
        print(f"perfbench run_tail_s is p{detail['run_tail_pct']} of "
              f"{detail['runs']} runs ({detail['run_tail_beyond']} beyond)")
    print(f"perfbench correct = {res['correct']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
