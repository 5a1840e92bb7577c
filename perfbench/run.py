"""SORA engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload sora_assembly --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
(perfbench/gen.py) under `.perfbench_work/`, in a child process that
also computes the expected answers (perfbench/oracles.py); the engine
only reads that parquet. Spark runs at `local[nproc]`.

A run sets up once (session build, table/index build and the first,
cold, op), then runs ops back to back for `--seconds`, finishing the
workload's current cycle (table_upsert: up to the next compaction). Every
op is checked against expected answers computed outside the timed
region (perfbench/oracles.py); an op that raises or fails its check
counts as failed; an op whose oracle does not apply counts as
unverified, and neither counts as passed in `ok_frac`.

`--trace 0` times ops with tracing off and reports the end-to-end
metrics. `--trace 1` alternates traced and untraced ops and reports the
per-layer metrics of the traced ones (perfbench/spans.py), plus the
tracing overhead.

stdout: one JSON report line (provenance, input properties, gate
verdicts), then, as the last line, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from spans import SPAN_METRICS, Tracer, peak_rss_mb
from workloads import LAYER_COUNTS, LAYER_SPANS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_WINDOW_S = 90.0  # stop starting ops after this, whatever --seconds says

# end-to-end metrics: name -> unit
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "items_per_s": "items/s",
    "task_cpu_s": "s",
    "shuffle_mb": "MB",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

# the kind of op the per-op metrics describe, where a workload mixes kinds
HEADLINE_KIND = {"table_upsert": "merge"}

SPARK_CONF = {
    # a small heap fills early in every run, so the JVM's peak RSS
    # depends little on when G1 chooses to grow it
    "spark.driver.memory": "1g",
    "spark.ui.showConsoleProgress": "false",
    # keep every job and stage of the run for span attribution
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

RECORDED_CONF = (
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.driver.memory",
)


def per_layer_spec() -> dict[str, str]:
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    units = {"wall_s": "s", "driver_s": "s", "jobs": "count",
             "task_cpu_s": "s", "exec_busy_frac": "ratio",
             "shuffle_mb": "MB", "spill_mb": "MB"}
    count_units = {"rounds": "count", "edges_in": "count",
                   "edges_out": "count", "unitigs": "count",
                   "dirs_rewritten": "count", "dirs_pruned": "count",
                   "clusters": "count",
                   "bytes_rewritten_mb": "MB"}
    spec = {}
    for span in LAYER_SPANS:
        for m in SPAN_METRICS:
            spec[f"{span}.{m}"] = units[m]
        for c in LAYER_COUNTS.get(span, ()):
            spec[f"{span}.{c}"] = count_units.get(c, "ratio")
    spec["op.self_s"] = "s"
    spec["op.trace_overhead_s"] = "s"
    spec["sources.stored_bytes_per_user_byte"] = "ratio"
    return spec


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with >= 10 samples beyond it:
    (value, percentile, samples beyond). Below 20 samples that
    percentile would sit under the median, so the maximum is reported
    instead (percentile 100, beyond = 0)."""
    v = sorted(values)
    rank = len(v) - 10 if len(v) >= 20 else len(v)
    return v[rank - 1], 100.0 * rank / len(v), len(v) - rank


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, cwd=ROOT,
                             timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def build_spark(master: str, tmp: str):
    from sora_spark.session import build_session

    spark = build_session(
        app_name="sora-perfbench",
        master=master,
        extra_conf={
            **SPARK_CONF,
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, args, inputs: str, tmp: str, expected: dict):
        self.args = args
        self.inputs = inputs
        self.tmp = tmp
        self.exp = expected
        self.cores = os.cpu_count() or 1
        self.master = f"local[{self.cores}]"
        self.tr = Tracer(traced=bool(args.trace), cores=self.cores)
        self.ops: list[dict] = []  # every op, cold ones included
        self.setup_s = 0.0
        self.spark = None
        self.w = None

    def run_op(self, i: int) -> dict:
        """Run, time and check op `i` (negative: the cold set-up op).
        With tracing on, every other op of each kind is traced."""
        w, tr = self.w, self.tr
        kind = w.next_kind()
        seen = sum(o["kind"] == kind for o in self.measured())
        traced = bool(self.args.trace) and (i < 0 or seen % 2 == 0)
        tr.traced = traced
        w.before_op()
        # drop py4j refs to the previous op's checkpointed frames so the
        # ContextCleaner frees their blocks before, not during, this op
        gc.collect()
        res, err, root = None, None, None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=i, root=True) as root:
                res = w.op()
        except Exception:  # an op that raises is a failed op, not a crash
            err = traceback.format_exc()
        lat = time.perf_counter() - t0
        detail = err
        if res is None:
            verdict = "fail"
        else:
            try:
                verdict, detail = w.check(res)
            except Exception:
                verdict, detail = "fail", traceback.format_exc()
        if detail:
            print(f"[perfbench] op {i} {verdict}: {detail}", file=sys.stderr)
        rec = {"i": i, "kind": kind,
               "items": res.get("items", 0) if res else 0,
               "latency_s": lat, "traced": traced, "verdict": verdict,
               "detail": detail, "root": root}
        self.ops.append(rec)
        return rec

    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tr.span("session.build_session"):
            self.spark = build_spark(self.master, self.tmp)
        self.tr.bind(self.spark)
        self.w = WORKLOADS[self.args.workload](
            self.inputs, os.path.join(self.tmp, "work"), self.exp, self.tr)
        self.w.setup(self.spark)
        self.run_op(-1)
        self.setup_s = time.perf_counter() - t0

    def run(self) -> None:
        self.setup()
        start = time.perf_counter()
        i = 0
        while True:
            self.run_op(i)
            i += 1
            el = time.perf_counter() - start
            if (el >= self.args.seconds and i >= self.w.min_ops
                    and self.w.at_boundary()) or \
                    el >= MAX_WINDOW_S or self.w.exhausted():
                break
        self.tr.resolve()
        self.layer_extras = self.w.layer_extras()
        sc = self.spark.sparkContext
        self.provenance = {
            "seed": self.args.seed,
            "workload": self.args.workload,
            "nproc": self.cores,
            "master": self.master,
            "git_sha": git_sha(),
            "spark_version": self.spark.version,
            "python": sys.version.split()[0],
            "platform": platform.platform(),
            "conf": {k: self.spark.conf.get(k, None) for k in RECORDED_CONF},
        }
        gateway = sc._gateway
        self.rss_mb = peak_rss_mb([os.getpid(), gateway.proc.pid])
        self.w.teardown()
        self.spark.stop()
        # end the JVM too (it exits when its stdin closes) and wait for it
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    # ---- metrics ------------------------------------------------------

    def measured(self) -> list[dict]:
        return [o for o in self.ops if o["i"] >= 0]

    def e2e(self) -> tuple[dict, dict]:
        ops = self.measured()
        kind = HEADLINE_KIND.get(self.args.workload)
        head = [o for o in ops if kind is None or o["kind"] == kind] or ops
        roots = [o["root"]["metrics"] for o in head if o["root"]]
        t, pct, beyond = tail([o["latency_s"] for o in head])
        passed = sum(o["verdict"] == "pass" for o in self.ops)
        m = {
            "setup_s": self.setup_s,
            "latency_p50_s": statistics.median(o["latency_s"] for o in head),
            "items_per_s": sum(o["items"] for o in ops)
            / sum(o["latency_s"] for o in ops),
            "task_cpu_s": statistics.median(r["task_cpu_s"] for r in roots),
            "shuffle_mb": statistics.median(r["shuffle_mb"] for r in roots),
            "peak_rss_mb": self.rss_mb,
            "ok_frac": passed / len(self.ops),
        }
        # reported, not a metric: a run has 2-5 samples of the headline
        # op, so no percentile has ten samples beyond it, and the
        # maximum of so few is not steady from run to run
        extra = {"latency_tail_s": t,
                 "latency_tail_percentile": pct,
                 "latency_tail_samples_beyond": beyond,
                 "latency_samples": len(head)}
        return m, extra

    def per_layer(self) -> tuple[dict, dict]:
        ops = self.measured()
        kind = HEADLINE_KIND.get(self.args.workload)
        traced_ids = {o["i"] for o in ops if o["traced"]}
        spec = per_layer_spec()
        vals: dict[str, dict] = {}  # metric -> {op id or setup key: value}
        for s in self.tr.spans:
            if s["name"] == "op":
                continue
            if s["op"] is None:
                key = ("setup", s["id"])
            elif s["op"] in traced_ids:
                key = s["op"]
            else:
                continue
            got = dict(s["metrics"])
            got.update(s["counts"])
            for m in SPAN_METRICS + LAYER_COUNTS.get(s["name"], ()):
                name = f"{s['name']}.{m}"
                per = vals.setdefault(name, {})
                # a span repeated within one op adds up; counts do not
                add = per.get(key, 0.0) if m in SPAN_METRICS else 0.0
                per[key] = add + float(got.get(m, 0.0))
        out = {n: statistics.median(vals[n].values()) if n in vals else 0.0
               for n in spec}
        roots = [o["root"]["metrics"] for o in ops if o["traced"] and o["root"]]
        out["op.self_s"] = statistics.median(
            r["self_s"] for r in roots) if roots else 0.0
        # tracing overhead: traced minus untraced ops of the headline kind
        head = [o for o in ops if kind is None or o["kind"] == kind]
        traced = [o["latency_s"] for o in head if o["traced"]]
        plain = [o["latency_s"] for o in head if not o["traced"]]
        overhead = None
        if traced and plain:
            overhead = statistics.median(traced) - statistics.median(plain)
            out["op.trace_overhead_s"] = overhead
        out.update(self.layer_extras)
        # share of each traced op's task CPU that its layer spans cover
        cover = [r["child_cpu_s"] / r["task_cpu_s"]
                 for r in roots if r["task_cpu_s"] > 0]
        extra = {"traced_ops": len(roots), "untraced_ops": len(plain),
                 "trace_overhead_s": overhead,
                 "child_cpu_cover": cover}
        return out, extra


def prepare(workload: str, seed: int, work: str) -> tuple[str, dict]:
    """The inputs directory and expected answers for `seed`, made by
    oracles.py in a child process, so that neither input generation
    nor the DuckDB oracles count in this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracles.py"), "--workload",
         workload, "--seed", str(seed), "--work", work],
        capture_output=True, text=True, cwd=ROOT)
    sys.stderr.write(out.stderr)
    if out.returncode != 0:
        raise RuntimeError(f"oracles.py exited with {out.returncode}")
    inputs = out.stdout.strip().splitlines()[-1]
    with open(os.path.join(inputs, "expected.json")) as f:
        return inputs, json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sora_spark", "__init__.py")):
        print("perfbench: the sora_spark package is missing; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_SUBMIT_OPTS", "-Dlog4j2.level=error")

    work = os.path.join(ROOT, ".perfbench_work")
    inputs, expected = prepare(args.workload, args.seed, work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    # the env var overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM (launcher and driver) keeps its temp files and no
    # hsperfdata directory outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    tempfile.tempdir = tmp
    try:
        r = Runner(args, inputs, tmp, expected)
        r.run()
        if args.trace:
            metrics, extra = r.per_layer()
            units = per_layer_spec()
        else:
            metrics, extra = r.e2e()
            units = E2E
    finally:
        tempfile.tempdir = None
        shutil.rmtree(tmp, ignore_errors=True)

    verdicts = [o["verdict"] for o in r.ops]
    report = {
        "provenance": r.provenance,
        "inputs": expected["props"],
        "item": r.w.item,
        "gates": {v: verdicts.count(v) for v in ("pass", "fail", "unverified")},
        "failures": [{"op": o["i"], "detail": (o["detail"] or "")[-400:]}
                     for o in r.ops if o["verdict"] == "fail"],
        "setup_s": r.setup_s,
        "ops": [{"i": o["i"], "kind": o["kind"], "latency_s": o["latency_s"],
                 "traced": o["traced"], "verdict": o["verdict"]}
                for o in r.ops],
        **extra,
    }
    print(json.dumps({"report": report}))
    failed = verdicts.count("fail")
    print(json.dumps({
        # a run with no verified op proves nothing
        "correct": failed == 0 and "pass" in verdicts,
        "attempted": len(verdicts),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
