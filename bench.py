"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints the
plan-fingerprint JSON on an EARLIER line (and writes BENCH_PLANS.json),
then the compact timings-only JSON as the FINAL line — tail-capture
parsers read only the last ~2 KB, which round 3 learned the hard way.

Each query is forced end-to-end with the noop sink (full computation,
no collect/driver materialization cost in the measurement).

Besides wall-clock, each query records a PLAN FINGERPRINT (shuffle /
broadcast exchange counts, whole-stage-codegen units, Python eval
nodes, scans) so a reader can tell a plan regression (fingerprint
changed) from box-level contention (fingerprint identical, seconds
moved) without re-running on a quiet machine — wall-clock alone has
repeatedly mis-flagged regressions under driver load (see the best-of-4
note below).

The headline set covers one query per distinct plan family (round-3
prune: q49/q74 verification twins and q67/q70/q71 window-family
repeats were dropped — they re-measure plans already represented by
q25/q26/q28/q53/q68/q69, so benching them only grew wall-clock without
adding regression signal; all remain registered and oracle-gated).
q54 re-entered in round 4 (VERDICT item 7) so the portable-hash
verification path stays perf-visible: 8.6 s (r02) → ~2.4 s after the
4x chunked hash fold.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.tracing import PYTHON_EVAL  # noqa: E402
from stock_data_pipeline_spark import queries as _q  # noqa: E402
from stock_data_pipeline_spark.session import ensure_engine_confs, get_session  # noqa: E402


def _jvm_pid(spark) -> int:
    """The local-mode JVM's OS pid, via the PUBLIC RuntimeMXBean name
    ("pid@host"). The com.sun OperatingSystemMXBean getProcessCpuTime
    route is blocked by JDK-17 module access through py4j reflection."""
    name = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getName()
    )
    return int(name.split("@")[0])


def _jvm_cpu_s(pid: int) -> float:
    """JVM process CPU seconds (utime+stime, all threads) from
    /proc/<pid>/stat — the contention-immune bench metric (r06 VERDICT
    item 3): co-tenant load inflates wall-clock up to ±60% on identical
    code but leaves CPU consumed nearly flat, so the 2× perf gate keys
    on this. ~35 µs per sample, O(1).

    Measurement lesson (r07): the first cut summed executorCpuTime over
    AppStatusStore.stageList — O(retained stages) py4j round-trips per
    sample, which grew to ~240 ms by late bench and, sitting INSIDE the
    timed window, inflated total wall ~40% with byte-identical plan
    fingerprints. Process CPU additionally includes JIT/GC (honest
    engine cost); Python-worker CPU (Arrow-batched stages) is outside
    the JVM and not counted — same blind spot stage task-CPU had."""
    with open(f"/proc/{pid}/stat") as f:
        parts = f.read().rsplit(") ", 1)[1].split()
    return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")


def run() -> tuple[dict, dict, dict]:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = ensure_engine_confs(get_session("bench"))
    pid = _jvm_pid(spark)

    # Warm the JVM/codegen paths each query actually uses by running it
    # once at the smallest SF — first execution of higher-order-function
    # codegen costs seconds of JIT that would otherwise be charged to
    # whichever query runs first (standard JVM benchmarking practice).
    warm_dir = "/root/testdata/sf0.001"
    for name, fn in _q.headline_queries().items():
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # warmup is best-effort; the measured run surfaces real errors

    # best-of-4: wall-clock on a busy box varies up to 2x run-to-run
    # (observed: a 3 s query stalling to 13 s with all tasks crawling —
    # box-level contention, not the plan; a whole-suite rerun has moved
    # 22.5 s ↔ 29 s with zero code change); the minimum over repeated
    # runs reflects the plan, not transient load. r06 (VERDICT item 3):
    # besides the min, record per-query median-of-last-3 and the 1-min
    # loadavg sampled at measurement time, so a reader can separate
    # contention (loadavg high, median >> min) from plan change
    # (fingerprint diff non-empty) without a quiet-box rerun.
    timings: dict[str, float] = {}
    cpu_s: dict[str, float] = {}
    plans: dict[str, dict[str, int]] = {}
    noise: dict[str, dict] = {}
    loadavg_start = round(os.getloadavg()[0], 2)
    # Co-tenant defense (r09 VERDICT item 1, declared additions-only):
    # best-of-4 has no answer to a neighbor-load spike that covers all 4
    # attempts of a query — BENCH_r09's 32-core run read "38/40
    # regressed, geomean 0.596" for a round whose every uncontaminated
    # signal showed CPU −25%. Now each attempt records the 1-min loadavg
    # at its finish, and while the BEST attempt so far completed under
    # loadavg above a threshold the query earns up to
    # SPARK_GRAFT_LA_RETRIES extra attempts. The threshold must sit
    # above the bench's own self-load (a 32-core local run idles near
    # 2-4 between stages, and r08's quiet-box run logged 3.49 mid-run)
    # but below the contaminated regime (4.9-5.9 in BENCH_r09): default
    # 4.5, env-tunable. The reported metric is unchanged (min over all
    # attempts — same best-of-N estimator, more samples under load), so
    # cross-round numbers stay comparable; per-attempt loadavg lands in
    # BENCH_NOISE.json and the extra-attempt total in the summary line.
    la_threshold = float(os.environ.get("SPARK_GRAFT_LA_THRESHOLD", "4.5"))
    la_retries = int(os.environ.get("SPARK_GRAFT_LA_RETRIES", "4"))
    extra_attempts_total = 0
    for name, fn in _q.headline_queries().items():
        runs: list[float] = []
        cpu_runs: list[float] = []
        la_runs: list[float] = []
        df = None

        def _attempt():
            # time construction + execution: for iterative queries (q66)
            # the real work happens inside fn() (checkpointed rounds) —
            # timing only the final write would under-report them
            nonlocal df
            t0 = time.perf_counter()
            c0 = _jvm_cpu_s(pid)
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            cpu_runs.append(_jvm_cpu_s(pid) - c0)
            runs.append(time.perf_counter() - t0)
            la_runs.append(round(os.getloadavg()[0], 2))

        for _ in range(4):
            _attempt()
        extras = 0
        while (
            extras < la_retries
            and la_runs[runs.index(min(runs))] > la_threshold
        ):
            _attempt()
            extras += 1
        extra_attempts_total += extras
        timings[name] = round(min(runs), 3)
        # median of the last 3 of the BASE runs (first repeat can still
        # carry residual JIT despite the sf0.001 warmup; retries don't
        # shift the median so the r07 gate metric stays comparable)
        median = sorted(runs[1:4])[1]
        # CPU: median of the base last-3 too — JIT compilation of
        # generated code rides on the first run's task threads
        cpu_s[name] = round(sorted(cpu_runs[1:4])[1], 3)
        noise[name] = {
            "runs": [round(r, 3) for r in runs],
            "best": round(min(runs), 3),
            "median": round(median, 3),
            "cpu_runs": [round(c, 3) for c in cpu_runs],
            "loadavg_runs": la_runs,
            "extra_attempts": extras,
            "loadavg_1m": round(os.getloadavg()[0], 2),
        }
        plans[name] = _plan_fingerprint(spark, name, fn, df, sf_dir)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # keyed by the query's qID prefix (q66_dup_clusters → q66) and
        # rounded to 2 decimals so the FINAL stdout line stays inside
        # the driver's ~2 KB tail; full-name full-precision per-run CPU
        # lives in BENCH_NOISE.json
        "cpu_s": {n.split("_", 1)[0]: round(v, 2) for n, v in cpu_s.items()},
        "cpu_total_s": round(sum(cpu_s.values()), 3),
        # min-of-last-3 CPU: contention can only INFLATE JVM CPU time
        # (hyperthread sharing, frequency scaling), so the min is the
        # contention-immune estimator — an r08 noise run measured the
        # median 13% above the min on a loaded box at identical plan
        # fingerprints. Kept alongside the median (the r07 gate metric)
        # for cross-round comparability.
        "cpu_min_total_s": round(
            sum(min(n["cpu_runs"][1:]) for n in noise.values()), 3
        ),
        "median_total": round(sum(n["median"] for n in noise.values()), 3),
        "loadavg_1m": [loadavg_start, round(os.getloadavg()[0], 2)],
        # loadavg-gated retry record (r09 VERDICT item 1): how many
        # extra attempts the co-tenant defense spent, and the gate. A
        # nonzero count with unchanged fingerprints = the box was
        # loaded, not the code.
        "la_extra_attempts": extra_attempts_total,
        "la_threshold": la_threshold,
    }, plans, noise


def _fingerprint_diff(
    old: dict[str, dict[str, int]], new: dict[str, dict[str, int]]
) -> dict[str, dict]:
    """Machine-readable plan delta vs the previously committed
    BENCH_PLANS.json: {query: {counter: [old, new]}} for every changed
    counter, plus added/removed headliners. Empty dict = every plan is
    structurally identical to last round, so any wall-clock movement is
    environment, not code (VERDICT r05, next-round item 3)."""
    diff: dict[str, dict] = {}
    for name in sorted(set(old) | set(new)):
        if name not in old:
            diff[name] = {"added": new[name]}
        elif name not in new:
            diff[name] = {"removed": old[name]}
        elif old[name] != new[name]:
            diff[name] = {
                k: [old[name].get(k), new[name].get(k)]
                for k in sorted(set(old[name]) | set(new[name]))
                if old[name].get(k) != new[name].get(k)
            }
    return diff


# Queries that RUN jobs inside fn() (to-convergence iteration): never
# rebuild those just for a fingerprint — fall back to the AQE initial
# plan of the final round (codegen count reads 0 there; documented).
ITERATIVE = {"q66_dup_clusters", "q122_cluster_canonical"}


def _plan_fingerprint(spark, name, fn, df, sf_dir) -> dict[str, int]:
    """Structural counters from the static physical plan. Two BENCH
    files with equal fingerprints but different seconds = environment
    noise; a changed fingerprint = the plan itself changed and the
    delta is real.

    Replans under AQE-off (plan construction launches zero Spark jobs
    for every non-iterative query — enforced by
    tests/test_plan_hygiene.py) because the AQE-on initial plan hides
    the WholeStageCodegen wrappers that stage materialization adds."""
    if name not in ITERATIVE:
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            # executedPlan is LAZY — force it before the conf flips back
            jplan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    else:
        jplan = df._jdf.queryExecution().executedPlan()
    # Counters come from a TREE walk of the executed plan, not from
    # toString() matching: the printed tree re-renders each cached
    # relation's source plan under every InMemoryTableScan reference,
    # so a textual "Scan parquet" count overstates I/O for any plan
    # that caches a sampled input (r05: PQ codebook training) — the
    # cached subtree executes once, its references don't re-scan.
    names: list[str] = []

    def _walk(node) -> None:
        name = node.nodeName()
        names.append(name)
        if name == "AdaptiveSparkPlan":
            # AdaptiveSparkPlanExec is a LEAF node — its real plan hangs
            # off executedPlan()/initialPlan(), not children(); without
            # this descent the ITERATIVE branch (AQE left on) would
            # fingerprint as all-zeros
            try:
                _walk(node.executedPlan())
            except Exception:
                _walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.length()):
            _walk(ch.apply(i))
        sq = node.subqueries()
        for i in range(sq.length()):
            _walk(sq.apply(i))

    _walk(jplan)

    def count(*prefixes: str) -> int:
        return sum(1 for n in names if n.startswith(prefixes))

    return {
        "shuffle_exchanges": count("Exchange"),
        "broadcast_exchanges": count("BroadcastExchange"),
        "wholestage_codegen": count("WholeStageCodegen"),
        "python_eval": sum(1 for n in names if n in PYTHON_EVAL),
        "parquet_scans": count("Scan parquet"),
        "in_memory_scans": count("InMemoryTableScan"),
        "sort_merge_joins": count("SortMergeJoin"),
        "broadcast_hash_joins": count("BroadcastHashJoin"),
    }


if __name__ == "__main__":
    # Contract: the FINAL stdout line is the compact timings-only JSON
    # (~1 KB) — the driver keeps only a short stdout tail, and round 3
    # lost its external bench record when the plan fingerprints were
    # inlined into this line (6 KB, truncated mid-string → unparseable).
    # Fingerprints now go to a committed sidecar file plus an EARLIER
    # stdout line, never the last one.
    repo = Path(__file__).resolve().parent
    plans_path = repo / "BENCH_PLANS.json"
    try:
        prior_plans = json.loads(plans_path.read_text())
    except (OSError, ValueError):
        prior_plans = {}
    result, plans, noise = run()
    fp_diff = _fingerprint_diff(prior_plans, plans)
    try:
        plans_path.write_text(json.dumps(plans, indent=1, sort_keys=True) + "\n")
        (repo / "BENCH_NOISE.json").write_text(
            json.dumps(
                {
                    "sf": result["sf"],
                    "loadavg_1m": result["loadavg_1m"],
                    "per_query": noise,
                    "fingerprint_diff": fp_diff,
                },
                indent=1,
                sort_keys=True,
            )
            + "\n"
        )
    except OSError:
        pass  # read-only checkout: the stdout lines below still carry them
    print(json.dumps({"plans": plans}))
    print(json.dumps({"noise": noise, "fingerprint_diff": fp_diff}))
    # Final line stays compact (driver keeps a ~2 KB stdout tail): the
    # diff rides along only when it fits, else a fixed-shape marker
    # ({"truncated": N} — a dict either way, r06 ADVICE; the full diff
    # is always on the earlier stdout line and in BENCH_NOISE.json).
    diff_json = json.dumps(fp_diff, sort_keys=True)
    result["fingerprint_diff"] = (
        fp_diff if len(diff_json) <= 300 else {"truncated": len(fp_diff)}
    )
    print(json.dumps(result))
