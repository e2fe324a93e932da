"""The repo's benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload {daily_pipeline,llm_dedup} \\
        --seed N --seconds S --trace {0,1}

Run it from the repository root. One process builds one engine session
(``get_session(cpus=nproc)``), generates the workload's inputs from
``--seed`` under ``perfbench/.work/`` (removed at exit), sets up, runs
the workload's unreported settle passes (one on ``llm_dedup``, none on
``daily_pipeline``), then timed passes over its operation list for
``--seconds`` seconds and at least two of them, checks every
operation's output once, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: ``get_session`` + ``ensure_engine_confs`` + one warm pass
  over the operations at sf0.001 (input generation excluded).
- ``pass_wall_s``: median wall time of one pass over the operation list.
- ``latency_p50_s`` / ``latency_p90_s``: wall time per operation
  (build, plan, and execute with the rows dropped, plus the real
  writes on ``daily_pipeline``). The quantiles interpolate between the
  samples a run saw and never reach past its slowest one.
- ``cpu_s``: median CPU seconds per pass of the JVM plus every process
  below it (the Python workers), live or exited, from ``/proc``.
- ``peak_rss_mb``: peak summed resident memory of this client process,
  the JVM and the workers during the timed passes.

``failed_frac`` (failed / attempted operations) is printed in the report
and carried by the ``failed`` and ``attempted`` keys. The report also
gives the 1-minute load average at start and end and the share of
machine CPU time stolen by the hypervisor during the run, which tell
co-tenant noise from a code change.

``--trace 1`` settles for at least one pass, then alternates traced and
untraced passes for ``--seconds``. In a traced pass every operation
is a span with children for
build (per package module), plan, execute and each ``io`` call. Spans
go to ``perfbench/.work/trace-<workload>-<seed>.json`` at the end. Stage
metrics, plan fingerprints and analyzed-plan sizes are read after the
traced passes, outside every span. It reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# The package's default driver heap is 24g. The inputs here are
# megabytes; a small fixed heap keeps the JVM's resident size, and so
# peak_rss_mb, from wandering with heap growth policy.
DRIVER_MEM = "2g"
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "build_s": "s",
    "py4j_calls": "count",
    "analyzed_nodes": "count",
    "plan_s": "s",
    "plan.shuffle_exchanges": "count",
    "plan.broadcast_exchanges": "count",
    "plan.wholestage_codegen": "count",
    "plan.python_eval": "count",
    "exec_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.python_cpu_pct": "%",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "catalog.scan_bytes": "bytes",
    "io.write_pct": "%",
    "io.compact_pct": "%",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.bytes_rewritten": "bytes",
    "io.bytes_per_row": "bytes/row",
    "op_self_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}
# per-layer metrics measured once per run rather than once per pass
ONCE = {
    "session.start_s",
    "session.warm_s",
    "analyzed_nodes",
    "plan.shuffle_exchanges",
    "plan.broadcast_exchanges",
    "plan.wholestage_codegen",
    "plan.python_eval",
    "trace.overhead_s",
}
# Seconds that are exactly zero on a workload without that layer are
# reported as shares instead (of exec CPU, of pass wall time), with the
# seconds printed beside them.
REPORT_ONLY = {"exec.python_cpu_s": "s", "io.write_s": "s", "io.compact_s": "s"}
# span name -> metric its self time adds to; build spans carry the
# package module the operation called
SPAN_METRIC = {
    "build:queries": "build_s",
    "build:pipeline": "build_s",
    "build:io.read_version": "build_s",
    "plan": "plan_s",
    "exec": "exec_s",
    "io.publish_version": "io.write_s",
    "io.compact_parquet_table": "io.compact_s",
    "op": "op_self_s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, statistics.median(values), q3


def prepare_env(work: Path) -> None:
    """Keep every file the engine writes inside ``work`` and let the
    Python workers import the package from the checkout."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        import workloads
        from tracing import Tracer

        self.args = args
        self.work = work
        self.wl = workloads.make(args.workload, args.seed, work)
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.jvm_pid = 0
        self.attempted = 0
        self.failed_runs: dict[str, int] = defaultdict(int)
        self.executed: dict[str, int] = defaultdict(int)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.frames: dict[str, list] = {}  # the last timed pass's, for the check

    # -- setup ------------------------------------------------------------

    def setup(self) -> None:
        from stock_data_pipeline_spark.session import ensure_engine_confs, get_session

        import workloads

        t0 = time.perf_counter()
        spark = ensure_engine_confs(
            get_session(
                "perfbench",
                cpus=len(os.sched_getaffinity(0)),
                extra_confs={
                    # no hsperfdata file in /tmp; JVM temp files under work/
                    "spark.driver.extraJavaOptions": (
                        f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
                    )
                },
            )
        )
        t1 = time.perf_counter()
        self.spark = spark
        self.jvm_pid = int(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            .getName()
            .split("@")[0]
        )
        layers = workloads.Layers(spark, self.tracer, self.jvm_pid)
        t2 = time.perf_counter()
        for op in self.wl.warm_ops():
            try:
                op.run(layers)
            except Exception:  # the timed passes count the failure
                print(f"warm-up of {op.label} raised:\n{traceback.format_exc(limit=3)}")
        t3 = time.perf_counter()
        self.samples["session.start_s"].append(t1 - t0)
        self.samples["session.warm_s"].append(t3 - t2)
        self.samples["setup_s"].append((t1 - t0) + (t3 - t2))

    # -- passes -----------------------------------------------------------

    def run_pass(self, k: int, layers, traced: bool) -> dict:
        """One pass over the operation list; a raise fails that
        operation and the pass goes on."""
        import procstat
        from tracing import Py4jCounter

        sc = self.spark.sparkContext
        self.wl.before_pass(k)
        ops = self.wl.pass_ops(k)
        span0 = len(self.tracer.spans)
        layers.acc.clear()
        groups, lat, dfs = [], [], {}
        if traced:
            self.tracer.enabled = True
            layers.counter = Py4jCounter(self.spark)
        cpu0 = procstat.tree_cpu(self.jvm_pid)
        start = time.perf_counter()
        try:
            for op in ops:
                gid = f"{op.label}#{k}"
                if traced:
                    sc.setJobGroup(gid, gid)
                    groups.append(gid)
                t = time.perf_counter()
                try:
                    with self.tracer.span("op", op=gid):
                        dfs[op.label] = op.run(layers)
                    lat.append(time.perf_counter() - t)
                    self.executed[op.label] += 1
                except Exception:
                    print(f"operation {gid} raised:\n{traceback.format_exc(limit=3)}")
                    self.failed_runs[op.label] += 1
                self.attempted += 1
            wall = time.perf_counter() - start
            cpu = procstat.tree_cpu(self.jvm_pid) - cpu0
        finally:
            if traced:
                layers.counter.close()
                layers.counter = None
                self.tracer.enabled = False
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.frames = dfs
        return {
            "wall": wall,
            "cpu": cpu,
            "lat": lat,
            "groups": groups,
            "spans": span0,
            "acc": dict(layers.acc),
            "dfs": dfs,
            "io": self.wl.io_stats(),
        }

    def measure(self) -> None:
        """The workload's unreported settle passes, then whole timed
        passes until ``--seconds`` have elapsed, and at least
        ``MIN_PASSES`` of them. A traced run settles for at least one
        pass, so that JIT warm-up lands on neither side of the overhead
        comparison, then alternates traced and untraced passes."""
        import procstat
        import workloads

        layers = workloads.Layers(self.spark, self.tracer, self.jvm_pid)
        settle = max(self.wl.settle_passes, self.args.trace)
        for k in range(settle):
            self.run_pass(k, layers, traced=False)
        k = settle
        deadline = time.perf_counter() + self.args.seconds
        with procstat.PeakRss(self.jvm_pid) as rss:
            if not self.args.trace:
                runs: list[dict] = []
                while len(runs) < MIN_PASSES or time.perf_counter() < deadline:
                    runs.append(self.run_pass(k, layers, traced=False))
                    k += 1
                self._end_to_end(runs, rss)
                return
            plain: list[dict] = []
            traced: list[dict] = []
            while not (plain and traced) or time.perf_counter() < deadline:
                on = (k - settle) % 2 == 0
                (traced if on else plain).append(self.run_pass(k, layers, traced=on))
                k += 1
        self._per_layer(plain, traced)

    def _end_to_end(self, runs: list[dict], rss) -> None:
        lat = [x for r in runs for x in r["lat"]]
        self.samples["pass_wall_s"] = [r["wall"] for r in runs]
        self.samples["cpu_s"] = [r["cpu"].total_s for r in runs]
        self.samples["latency_s"] = lat
        p50 = statistics.median(lat)
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
        self.samples["latency_p50_s"] = [p50]
        self.samples["latency_p90_s"] = [p90]
        self.samples["peak_rss_mb"] = [rss.peak / 2**20]

    def _per_layer(self, plain: list[dict], traced: list[dict]) -> None:
        from tracing import analyzed_nodes, plan_fingerprint, stage_metrics

        s = self.samples
        bounds = [r["spans"] for r in traced] + [len(self.tracer.spans)]
        for r, lo, hi in zip(traced, bounds, bounds[1:]):
            per = defaultdict(float)
            for name, sec in self.tracer.self_times(lo, hi).items():
                metric = SPAN_METRIC.get(name)
                if metric:
                    per[metric] += sec
            per.update(r["acc"])
            per.update(stage_metrics(self.spark, r["groups"]))
            per.update(r["io"])
            per["trace.spans"] = hi - lo
            exec_cpu = per["exec.jvm_cpu_s"] + per["exec.python_cpu_s"]
            per["exec.python_cpu_pct"] = 100 * per["exec.python_cpu_s"] / exec_cpu if exec_cpu else 0.0
            per["io.write_pct"] = 100 * per["io.write_s"] / r["wall"]
            per["io.compact_pct"] = 100 * per["io.compact_s"] / r["wall"]
            for key in (PER_LAYER.keys() - ONCE) | REPORT_ONLY.keys():
                s[key].append(per[key])
        # exact counts, read once from the last traced pass's frames
        fp: dict[str, float] = defaultdict(float)
        for dfs in traced[-1]["dfs"].values():
            for df in dfs:
                fp["analyzed_nodes"] += analyzed_nodes(df)
                for key, v in plan_fingerprint(df).items():
                    fp[key] += v
        for key, v in fp.items():
            s[key] = [v]
        s["trace.overhead_s"] = [
            statistics.median(r["wall"] for r in traced) - statistics.median(r["wall"] for r in plain)
        ]
        self.tracer.dump(self.work.parent / f"trace-{self.args.workload}-{self.args.seed}.json")

    # -- check and report -------------------------------------------------

    def prepare(self) -> None:
        self.wl.prepare()

    def check(self) -> None:
        bad = self.wl.check(self.spark, self.frames)
        for label in bad:
            self.failed_runs[label] += self.executed[label]

    def report(self) -> dict:
        failed = sum(self.failed_runs.values())
        attempted = max(self.attempted, 1)
        units = PER_LAYER if self.args.trace else END_TO_END
        print(f"workload {self.args.workload}: {json.dumps(self.wl.describe())}")
        print(f"{'metric':28s} {'unit':>9s} {'n':>5s} {'median':>14s} {'q1':>14s} {'q3':>14s}")
        metrics = {}
        shown = dict(units)
        shown.update(REPORT_ONLY if self.args.trace else {"latency_s": "s"})
        for name, unit in shown.items():
            vals = self.samples.get(name)
            if not vals:
                raise RuntimeError(f"metric {name} was not measured")
            q1, med, q3 = quartiles(vals)
            n = len(self.samples["latency_s"]) if name.startswith("latency_p") else len(vals)
            print(f"{name:28s} {unit:>9s} {n:5d} {med:14.6g} {q1:14.6g} {q3:14.6g}")
            if name in units:
                metrics[name] = {"value": med, "unit": unit}
        print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} operations)")
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers
        to exit."""
        if self.spark is None:
            return
        import subprocess

        import procstat
        from pyspark import SparkContext

        workers = procstat.descendants(self.jvm_pid) if self.jvm_pid else []
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{pid}") for pid in workers) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    load0 = os.getloadavg()[0]
    sys.path[:0] = [str(ROOT), str(HERE)]
    import procstat

    steal0 = procstat.machine_ticks()
    try:
        import stock_data_pipeline_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    prepare_env(work)
    bench = Bench(args, work)
    phases = {}
    try:
        for phase in ("prepare", "setup", "measure", "check"):
            t = time.perf_counter()
            getattr(bench, phase)()
            phases[phase] = time.perf_counter() - t
        result = bench.report()
    finally:
        t = time.perf_counter()
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t
    print("phase seconds: " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print(f"loadavg_1m start {load0:.2f} end {os.getloadavg()[0]:.2f}")
    steal, total = (b - a for a, b in zip(steal0, procstat.machine_ticks()))
    print(f"cpu steal {100 * steal / max(total, 1):.1f}% of machine CPU time during the run")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
