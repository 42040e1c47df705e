"""Traced-run instrumentation, all of it from outside the program.

Spans (name, layer, start, end, parent, op id) are recorded by
wrappers around the calls the benchmark makes into each layer, kept
in memory and turned into per-layer metrics once the timed part is
over. Spark's own numbers (jobs, stages, task metrics) come from the
status REST API, which is only enabled in traced runs.

With ``enabled=False`` every hook is a no-op, so the timed runs pay
nothing for it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict
from urllib.parse import urlparse

#: layers a span can belong to; "bench" is the harness itself (the
#: part of an op outside every layer span)
LAYERS = ["bench", "sources", "plans", "operators", "catalyst", "exec"]
#: the layers' self times must add up to the op wall time within this
#: share: what they leave over is harness time no layer span covers
UNATTRIBUTED_TOLERANCE = 0.03


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op = -1
        self.py4j = 0
        if enabled:
            self._count_py4j()

    def _count_py4j(self) -> None:
        """Count py4j round trips by wrapping the gateway client's
        ``send_command`` (every JVM call goes through it)."""
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **kw):
            self.py4j += 1
            return send(*a, **kw)

        client.send_command = counted

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "layer": layer, "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "py4j": self.py4j,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j - rec["py4j"]
            self._stack.pop()

    def op(self, name: str):
        self._op += 1
        return self.span(f"op:{name}", "bench")

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call."""
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] += value

    # -- Spark status REST API -------------------------------------------

    def _rest(self, what: str) -> list[dict]:
        sc = self.spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self) -> list[dict]:
        """Jobs once the UI's listener has caught up with the driver."""
        prev = None
        for _ in range(20):
            jobs = self._rest("jobs")
            if prev is not None and len(jobs) == len(prev) and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            prev = jobs
            time.sleep(0.25)
        return jobs

    # -- report ----------------------------------------------------------

    def report(self, window, rounds: int, k: int, session, op_wall: float) -> dict:
        """Per-layer metrics, per round unless named ``session.*``."""
        w0, w1 = window
        jobs = []
        for j in self._settled_jobs():
            s, e = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if s is not None and e is not None and w0 <= s <= w1:
                jobs.append((s, e, j))
        stage_ids = {sid for _, _, j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._rest("stages") if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]

        def total(key: str) -> float:
            return sum(float(s.get(key, 0)) for s in stages)

        def busy(a: float, b: float) -> float:
            return _union([(max(s, a), min(e, b)) for s, e, _ in jobs if s < b and e > a])

        def spans(name: str) -> list[dict]:
            return [sp for sp in self.spans if sp["name"] == name]

        def dur(name: str) -> float:
            return sum(sp["end"] - sp["start"] for sp in spans(name))

        def jobs_in(name: str) -> int:
            return sum(1 for sp in spans(name) for s, _, _ in jobs if sp["start"] <= s <= sp["end"])

        ops = [sp for sp in self.spans if sp["parent"] is None]
        job_s = busy(w0, w1)
        run_s = total("executorRunTime") / 1000.0
        self_t = self._self_times()
        per_round = {
            "sources.ingest_s": (dur("sources.ingest"), "s"),
            "sources.export_s": (dur("sources.export"), "s"),
            "sources.export_bytes": (self.counters["sources.export_bytes"], "bytes"),
            "plans.build_s": (dur("plans.build"), "s"),
            "plans.build_jobs": (jobs_in("plans.build"), "count"),
            "plans.py4j_calls": (sum(sp["py4j"] for sp in spans("plans.build")), "count"),
            "operators.rollup_s": (dur("operators.rollup"), "s"),
            "operators.rollup_jobs": (jobs_in("operators.rollup"), "count"),
            "catalyst.analysis_s": (self.counters["catalyst.analysis_s"], "s"),
            "catalyst.optimization_s": (self.counters["catalyst.optimization_s"], "s"),
            "catalyst.planning_s": (self.counters["catalyst.planning_s"], "s"),
            "exec.jobs": (len(jobs), "count"),
            "exec.stages": (len(stages), "count"),
            "exec.tasks": (total("numCompleteTasks"), "count"),
            "exec.job_s": (job_s, "s"),
            "exec.task_run_s": (run_s, "s"),
            "exec.task_cpu_s": (total("executorCpuTime") / 1e9, "s"),
            "exec.gc_s": (total("jvmGcTime") / 1000.0, "s"),
            "exec.input_bytes": (total("inputBytes"), "bytes"),
            "exec.shuffle_read_bytes": (total("shuffleReadBytes"), "bytes"),
            "exec.shuffle_write_bytes": (total("shuffleWriteBytes"), "bytes"),
            "exec.spill_bytes": (total("memoryBytesSpilled") + total("diskBytesSpilled"), "bytes"),
            "driver.gap_s": (sum((o["end"] - o["start"]) - busy(o["start"], o["end"]) for o in ops), "s"),
            **{f"self.{layer}_s": (self_t[layer], "s") for layer in LAYERS},
        }
        out = {name: (v / rounds, unit) for name, (v, unit) in per_round.items()}
        out["exec.slot_util"] = (run_s / (job_s * k) if job_s else 0.0, "ratio")
        out["session.start_s"] = (session[0], "s")
        out["session.warmup_s"] = (session[1], "s")
        layer_sum = sum(v for layer, v in self_t.items() if layer != "bench")
        out["trace.unattributed_share"] = ((op_wall - layer_sum) / op_wall, "ratio")
        return out

    def _self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part their child spans
        cover (children never overlap: the program is single-threaded
        on the driver side)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for i, sp in enumerate(self.spans):
            out[sp["layer"]] += (sp["end"] - sp["start"]) - child[i]
        return out


def _ts(s: str | None) -> float | None:
    """REST API time ('2026-01-01T00:00:00.123GMT') → epoch seconds."""
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
