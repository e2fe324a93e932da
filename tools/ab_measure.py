"""Interleaved A/B measurement harness for optimization work on a
co-tenant box.

Absolute bench numbers on this sandbox move 3-10x with neighbor load
(loadavg spikes to 10+ mid-run at byte-identical plans — see
BENCH_NOISE.json history), so before/after measured in separate runs is
noise. This harness runs VARIANTS INTERLEAVED (A,B,A,B,...) in one JVM
and reports per-variant min/median wall and JVM-process CPU: drifting
load hits both variants equally, so the per-round delta is signal.

Usage: python tools/ab_measure.py <module:function> [rounds]
where function(spark, sf_dir) -> dict[str, callable] mapping variant
name -> zero-arg callable that builds-and-executes (noop sink) one
variant. See tools/ab_q194_cogroup.py for an example.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _jvm_pid(spark) -> int:
    name = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getName()
    )
    return int(name.split("@")[0])


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        parts = f.read().rsplit(") ", 1)[1].split()
    return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    spec = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    mod_name, fn_name = spec.split(":")
    mod = importlib.import_module(mod_name)
    build = getattr(mod, fn_name)

    from stock_data_pipeline_spark.session import ensure_engine_confs, get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = ensure_engine_confs(get_session("ab"))
    pid = _jvm_pid(spark)
    variants = build(spark, sf_dir)

    # warmup each variant once (JIT)
    for name, run in variants.items():
        run()

    results: dict[str, dict[str, list[float]]] = {
        n: {"wall": [], "cpu": []} for n in variants
    }
    for r in range(rounds):
        for name, run in variants.items():
            t0, c0 = time.perf_counter(), _jvm_cpu_s(pid)
            run()
            c1, t1 = _jvm_cpu_s(pid), time.perf_counter()
            results[name]["wall"].append(t1 - t0)
            results[name]["cpu"].append(c1 - c0)
        la = os.getloadavg()[0]
        line = " | ".join(
            f"{n}: wall {results[n]['wall'][-1]:6.2f} cpu {results[n]['cpu'][-1]:7.2f}"
            for n in variants
        )
        print(f"round {r}: {line}  (load {la:.1f})", flush=True)

    print("\nsummary (min / median over rounds):")
    for n in variants:
        w = sorted(results[n]["wall"])
        c = sorted(results[n]["cpu"])
        print(
            f"  {n:12s} wall min {w[0]:6.2f} med {w[len(w) // 2]:6.2f}"
            f" | cpu min {c[0]:7.2f} med {c[len(c) // 2]:7.2f}"
        )


if __name__ == "__main__":
    main()
