"""Spans over the benchmark's calls into the engine's layers.

A span records name, start, end, parent span and op id. While a span is
open its id is the Spark job group, so every job the layer submits is
tagged with it. Spans are kept in memory; the per-span Spark numbers
are read ONCE per SparkContext, just before it stops, from the
AppStatusStore (the same store `bench.py` reads): jobs and stages are
fetched as two JSON documents, each stage is credited to the first job
that lists it (later jobs list reused stages as skipped), and each job
to the span whose id is its job group.

With tracing off only the op's root span is opened, which tags the
op's jobs with one group and costs one py4j call per op.
"""

from __future__ import annotations

import contextlib
import json
import time

MB = 1024.0 * 1024.0

# the seven numbers every layer span reports
SPAN_METRICS = (
    "wall_s", "driver_s", "jobs", "task_cpu_s", "exec_busy_frac",
    "shuffle_mb", "spill_mb",
)


class Tracer:
    """Span recorder for one benchmark run.

    `traced=False` records only root spans (`root=True`), which the
    end-to-end metrics need for per-op task CPU and shuffle bytes."""

    def __init__(self, traced: bool, cores: int):
        self.traced = traced
        self.cores = cores
        self.spans: list[dict] = []  # closed spans, resolved or not
        self._stack: list[dict] = []
        self._next = 0
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs in `spark`'s context from now on. Spans opened
        before any context is bound (the session build) tag nothing."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, root: bool = False):
        if not (self.traced or root):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb-{self._next}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "counts": {},
        }
        self._next += 1
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is None:
                pass
            elif self._stack:
                self._sc.setJobGroup(self._stack[-1]["id"],
                                     self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def materialize(self, df):
        """With tracing on, run `df` inside the current span so the
        layer's jobs land there, not in whichever span consumes it."""
        if not self.traced:
            return df
        return df.localCheckpoint(eager=True)

    def resolve(self) -> None:
        """Attach Spark numbers to every closed, unresolved span from
        the bound context's status store. Call before stopping it."""
        pending = [s for s in self.spans if "metrics" not in s]
        if not pending:
            return
        jobs = status_jobs(self._sc)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def subtree(s):
            out = list(by_group.get(s["id"], []))
            for c in children.get(s["id"], []):
                out += subtree(c)
            return out

        for s in pending:
            s["metrics"] = span_metrics(s, subtree(s), self.cores)
            kids = children.get(s["id"], [])
            s["metrics"]["self_s"] = max(
                0.0,
                s["end"] - s["start"] - sum(c["end"] - c["start"] for c in kids),
            )
            s["metrics"]["child_cpu_s"] = sum(
                j["cpu_s"] for c in kids for j in subtree(c)
            )


def _mapper(sc):
    jvm = sc._jvm
    m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                           "DefaultScalaModule$")
    m.registerModule(getattr(scala_module, "MODULE$"))
    return m


def status_jobs(sc) -> list[dict]:
    """Every job in the status store with its group, interval and the
    summed metrics of the stages it ran."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = _mapper(sc)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    empty = sc._jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(empty, False, False, no_q, empty)))
    per_stage: dict[int, list[float]] = {}
    for st in stages:
        v = per_stage.setdefault(st["stageId"], [0.0, 0.0, 0.0, 0.0])
        v[0] += st["executorCpuTime"] / 1e9
        v[1] += st["executorRunTime"] / 1e3
        v[2] += st["shuffleWriteBytes"] / MB
        v[3] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = []
    for j in jobs:
        tot = [0.0, 0.0, 0.0, 0.0]
        for sid in j["stageIds"]:
            if owner[sid] == j["jobId"]:
                tot = [a + b for a, b in zip(tot, per_stage.get(sid, tot))]
        out.append({
            "group": j.get("jobGroup"),
            "submit": (j.get("submissionTime") or 0) / 1e3,
            "complete": (j.get("completionTime") or 0) / 1e3,
            "cpu_s": tot[0], "run_s": tot[1],
            "shuffle_mb": tot[2], "spill_mb": tot[3],
        })
    return out


def span_metrics(span: dict, jobs: list[dict], cores: int) -> dict:
    start, end = span["start"], span["end"]
    wall = max(end - start, 1e-9)
    ivs = sorted(
        (max(j["submit"], start), min(j["complete"] or end, end))
        for j in jobs
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    run_s = sum(j["run_s"] for j in jobs)
    cpu = sum(j["cpu_s"] for j in jobs)
    return {
        "wall_s": wall,
        "driver_s": max(0.0, wall - covered),
        "jobs": float(len(jobs)),
        "task_cpu_s": cpu,
        "exec_busy_frac": run_s / (wall * cores),
        "shuffle_mb": sum(j["shuffle_mb"] for j in jobs),
        "spill_mb": sum(j["spill_mb"] for j in jobs),
        # the costliest job's share of the span's task CPU
        "max_job_cpu_frac": max((j["cpu_s"] for j in jobs), default=0.0)
        / cpu if cpu > 0 else 0.0,
    }


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total
