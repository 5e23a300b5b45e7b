"""Tracing for the benchmark's traced run, all from outside the package.

- :class:`Tracer` keeps spans in memory (name, start, end, parent,
  run id) and writes them out when the benchmark ends.
- :class:`SpanMixin` is an ``MLDagMixin`` the benchmark appends to
  ``dag.mixins``: one span per DAG pass and per node call.
- :class:`Py4jCounter` wraps py4j's ``send_command`` in this process:
  round trips and the time spent in them.
- :class:`SparkRest` reads jobs and stages from the Spark status REST
  API (the UI is on only in the traced run).

``span_metrics``, ``py4j_metrics`` and ``exec_metrics`` turn one run's
spans, py4j calls and Spark jobs into the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime, timezone

import mldag_spark as m


class Tracer:
    """In-memory spans of the traced runs. ``open``/``close`` nest on one
    thread: a span's parent is the span open when it started. ``span``
    records only while ``enabled``; it starts off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id: str | None = None

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "run": self.run_id, **attrs}
        )
        sid = len(self.spans) - 1
        self._stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> None:
        top = self._stack.pop()
        if top != sid:
            raise RuntimeError(f"span {sid} closed while {top} is open")
        self.spans[sid]["end"] = time.perf_counter()
        self.spans[sid].update(attrs)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around the block; nothing when tracing is off."""
        if not self.enabled:
            yield
            return
        sid = self.open(name, **attrs)
        try:
            yield
        finally:
            self.close(sid)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def self_times(spans: list[dict], run_id: str) -> dict[str, float]:
    """Per span name, the summed self time of one run's spans: each
    span's duration minus the part its child spans cover."""
    ids = [i for i, s in enumerate(spans) if s["run"] == run_id]
    kids: dict[int, list] = {i: [] for i in ids}
    for i in ids:
        if spans[i]["parent"] in kids:
            kids[spans[i]["parent"]].append((spans[i]["start"], spans[i]["end"]))
    out: dict[str, float] = {}
    for i in ids:
        s = spans[i]
        own = (s["end"] - s["start"]) - _covered(kids[i], s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanMixin(m.MLDagMixin):
    """Around-advice recording a span per pass (``_start_run`` ..
    ``_end_run``) and per node call. A pass in which any ``_fit`` hook
    ran is the fit pass. ``depth`` > 0 marks a dag nested in an
    ``MLDagNode``; its passes are recorded as ``core.nested_pass``."""

    def __init__(self, tracer: Tracer, label: str, depth: int = 0) -> None:
        self.tracer, self.label, self.depth = tracer, label, depth
        self._pass: int | None = None
        self._fitted = False

    def _start_run(self, run_id: str) -> None:
        name = "core.pass" if self.depth == 0 else "core.nested_pass"
        self._pass = self.tracer.open(name, dag=self.label)
        self._fitted = False

    def _end_run(self, run_id: str) -> None:
        self.tracer.close(
            self._pass, verb="fit" if self._fitted else "transform"
        )

    def _node(self, verb, call_next, node, args, kwargs):
        sid = self.tracer.open(
            "node", dag=self.label, node=node.name, verb=verb,
            depth=self.depth,
        )
        try:
            return call_next(*args, **kwargs)
        finally:
            self.tracer.close(sid)

    def _fit(self, call_next, node, *args, **kwargs):
        self._fitted = True
        return self._node("fit", call_next, node, args, kwargs)

    def _transform(self, call_next, node, *args, **kwargs):
        return self._node("transform", call_next, node, args, kwargs)


def attach_mixins(dag, tracer: Tracer, label: str, depth: int = 0) -> None:
    """Append a :class:`SpanMixin` to ``dag`` and to every dag nested in
    it through ``MLDagNode``."""
    dag.mixins.append(SpanMixin(tracer, label, depth))
    for node in dag.node_dict.values():
        if isinstance(node, m.MLDagNode):
            attach_mixins(node.mldag, tracer, label, depth + 1)


class Py4jCounter:
    """Counts py4j round trips made by this process and records each
    call's interval. Garbage-collection detach commands (``m``) are left
    out: when Python frees a proxy depends on collector timing, so they
    would make the count drift between identical runs."""

    def __init__(self) -> None:
        self.active = False
        self.calls: list[tuple[float, float]] = []
        self._orig = None

    def install(self) -> None:
        import py4j.clientserver

        cls = py4j.clientserver.ClientServerConnection
        orig = self._orig = cls.send_command
        counter = self

        def send_command(conn, command, *a, **kw):
            if not counter.active or command.startswith("m\n"):
                return orig(conn, command, *a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(conn, command, *a, **kw)
            finally:
                counter.calls.append((t0, time.perf_counter()))

        cls.send_command = send_command

    def uninstall(self) -> None:
        import py4j.clientserver

        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None

    def start(self) -> None:
        self.calls = []
        self.active = True

    def stop(self) -> list[tuple[float, float]]:
        self.active = False
        return self.calls

    @contextlib.contextmanager
    def paused(self):
        """Leave the block's calls (the tracer's own) out of the count."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was


# epoch seconds -> perf_counter seconds, fixed once per process
_EPOCH_TO_PERF = time.perf_counter() - time.time()


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    t = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    )
    return t.timestamp() + _EPOCH_TO_PERF


# how long to wait for the status store to settle after a run
REST_WAIT_S = 30.0


class SparkRest:
    """Jobs and stages from the Spark UI's REST API
    (``/api/v1/applications/<app>/...``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs_between(self, lo: float, hi: float):
        """Jobs submitted within ``[lo, hi]`` (perf_counter seconds) and
        their stages, once the status store shows them all finished (or
        after ``REST_WAIT_S``)."""
        deadline = time.perf_counter() + REST_WAIT_S
        last = None
        while True:
            jobs = [
                j for j in self._get("/jobs")
                if lo - 0.002 <= _rest_time(j["submissionTime"]) <= hi
            ]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and key == last) or time.perf_counter() > deadline:
                break
            last = key
            time.sleep(0.05)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in ids]
        return jobs, stages


def exec_metrics(jobs, stages, lo: float, hi: float, cores: int):
    """Executor-side numbers of one run from its Spark jobs/stages, and
    the jobs' ``(start, end)`` intervals."""
    done = [s for s in stages if s["status"] == "COMPLETE"]
    mb = 1e-6
    task_s = sum(s["executorRunTime"] for s in done) / 1e3
    wall = hi - lo
    job_spans = [
        (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]) or hi)
        for j in jobs
    ]
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(done),
        "exec.tasks": sum(s["numCompleteTasks"] for s in done),
        "exec.task_s": task_s,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in done) / 1e9,
        "exec.busy_ratio": task_s / (wall * cores) if wall > 0 else 0.0,
        "exec.job_gap_s": wall - _covered(job_spans, lo, hi),
        "exec.input_mb": sum(s["inputBytes"] for s in done) * mb,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in done) * mb,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in done) * mb,
        "exec.spill_mb": sum(s["diskBytesSpilled"] for s in done) * mb,
    }, job_spans


def span_metrics(spans: list[dict], run_id: str, node_names) -> dict:
    """Core-layer, final-plan and per-node numbers of one run from its
    spans, and the self time per span name (``self_time_s``).
    ``node_names`` lists the ``(dag, node)`` pairs reported one by one; a
    node's number sums its top-level fit and transform spans."""
    ids = [i for i, s in enumerate(spans) if s["run"] == run_id]
    passes = {i for i in ids if spans[i]["name"] == "core.pass"}
    selfs = self_times(spans, run_id)

    def total(pred) -> float:
        return sum(
            spans[i]["end"] - spans[i]["start"] for i in ids if pred(spans[i])
        )

    def top(s) -> bool:
        return s["name"] == "node" and s["parent"] in passes

    def pass_of(verb):
        return lambda s: s["name"] == "core.pass" and s["verb"] == verb

    out = {
        "core.build_s": total(lambda s: s["name"] == "core.build"),
        "core.fit_pass_s": total(pass_of("fit")),
        "core.transform_pass_s": total(pass_of("transform")),
        "core.node_s": total(top),
        "core.engine_self_s": selfs.get("core.pass", 0.0),
        "core.nodes_run": sum(spans[i]["name"] == "node" for i in ids),
        "plan.final_s": total(lambda s: s["name"] == "plan.final"),
        "self_time_s": selfs,
    }
    for dag, node in node_names:
        out[f"node.{dag}.{node}_s"] = total(
            lambda s: top(s) and s["dag"] == dag and s["node"] == node
        )
    return out


def py4j_metrics(calls, job_spans, lo: float, hi: float) -> dict:
    """Round trips of one run and the time spent in them while no Spark
    job ran (construction, not waiting on an action)."""
    jobs = sorted(job_spans)
    outside = 0.0
    for a, b in calls:
        outside += (b - a) - _covered(jobs, a, b)
    return {"py4j.trips": len(calls), "py4j.s": outside}


def count_exchanges(jdf) -> int:
    """Shuffle and broadcast exchanges in a DataFrame's executed plan
    (reused exchanges left out)."""
    plan = jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        op = line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
        if op.endswith("Exchange") and op != "ReusedExchange":
            n += 1
    return n
