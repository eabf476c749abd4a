"""Scaling-efficiency benchmark (north rule: efficiency >= 0.8 from N to
4N parallelism).

No real cluster exists in this sandbox, so per the driver instruction the
same KG pipeline job runs at two parallelism levels — local[8] and
local[32] — on the SAME synthetic input, and we report throughput at both
plus scaling efficiency = (T_8 / T_32) / 4.

Self-archives as BENCH/scaling_run<N>.json and prints one JSON line;
BENCH/scaling.json (the headline) is promoted manually after window
vetting (adjacent CPU control + absolute leg times vs history).

Usage: python tools/bench_scaling.py [n_files] [low_cores] [high_cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cores: int, n_files: int) -> dict:
    from pyspark.sql import SparkSession

    from sling_spark.kg.pipeline import run_pipeline
    from sling_spark.session import get_spark
    from sling_spark.sources.corpus import corpus_df

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(2)

    import shutil

    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"sling_scaling_{cores}",
        shuffle_partitions=2 * cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    res = run_pipeline(spark, corpus_df(spark, n_files, partitions=4 * cores))
    n_triples = res["triples"].count()
    wall = time.time() - t0
    n_docs = res["documents"].count()
    spark.stop()
    shutil.rmtree(res["assets"].path, ignore_errors=True)
    time.sleep(2)
    return {
        "cores": cores,
        "wall_sec": round(wall, 2),
        "n_files": n_files,
        "n_docs": n_docs,
        "n_triples": n_triples,
        "triples_per_sec": round(n_triples / wall, 2),
        "docs_per_sec": round(n_docs / wall, 2),
    }


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_control(cores: int, work: int = 40_000_000) -> float:
    """Pure-CPU delivery control (no Spark): ``cores`` concurrent Python
    busy-loops each doing FIXED work. On hardware that truly delivers
    ``cores`` CPUs the wall time is flat in fan-out, so
    T_low / T_high is the pair's delivery ceiling — any pipeline
    efficiency must be read against it (co-tenant host; see
    BENCH/BASELINE.md §2)."""
    from multiprocessing import Pool

    t0 = time.time()
    with Pool(cores) as p:
        p.map(_burn, [work] * cores)
    return round(time.time() - t0, 2)


def mem_bw_control() -> float:
    """DRAM-bandwidth control (GB/s rw on a 200 MB copy). The ALU burn
    control is blind to a co-tenant saturating memory bandwidth — the
    window of scaling_run41 delivered 1.5 GB/s (vs healthy 10-20+)
    while the burn was only 1.3x quiet, and the memory-heavy pipeline
    ran 3-4x slower than run 39 under near-identical burn controls.
    Recorded per leg so degraded-window runs are classifiable."""
    from tools.window_sentinel import _mem_bw

    return _mem_bw()


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    # optional 4th arg: number of ALTERNATIONS (L H L H ...) — the
    # window-drift-robust variant for a co-tenant host whose delivered
    # CPU speed swings several-fold over minutes (logged in round 5).
    # Each level's capability = its FASTEST leg; efficiency is the
    # ratio of bests, so a slow window hitting one leg of one level
    # cannot fabricate or destroy the ratio the way it can in a single
    # sequential L-then-H pair. All legs + per-leg adjacent controls
    # are recorded.
    alt = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    legs = {low: [], high: []}
    controls = {low: [], high: []}
    mem_controls = {low: [], high: []}
    for _ in range(alt):
        for cores in (low, high):
            controls[cores].append(cpu_control(cores))
            mem_controls[cores].append(mem_bw_control())
            legs[cores].append(run_once(cores, n_files))
    lo = min(legs[low], key=lambda r: r["wall_sec"])
    hi = min(legs[high], key=lambda r: r["wall_sec"])
    ctl_lo = min(controls[low])
    ctl_hi = min(controls[high])
    speedup = lo["wall_sec"] / hi["wall_sec"]
    efficiency = speedup / (high / low)
    out = {
        "metric": "kg_pipeline_scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "low": lo,
        "high": hi,
        "speedup": round(speedup, 3),
        "ratio": high / low,
        "cpu_control": {
            "low_cores": low,
            "high_cores": high,
            "low_wall_sec": ctl_lo,
            "high_wall_sec": ctl_hi,
            "delivery_efficiency": round(ctl_lo / ctl_hi, 3),
        },
        "alternations": alt,
        "all_legs": {
            str(c): [r["wall_sec"] for r in legs[c]] for c in (low, high)
        },
        "all_controls": {str(c): controls[c] for c in (low, high)},
        "dram_copy_gbs": {str(c): mem_controls[c] for c in (low, high)},
    }
    # Every run self-archives under the next free scaling_runN.json;
    # BENCH/scaling.json (the HEADLINE) is promoted manually after
    # window vetting against the adjacent control + historical leg
    # times — a degraded-window run must never clobber the capability
    # measurement (that happened once with run 27; see BASELINE.md §2).
    os.makedirs("BENCH", exist_ok=True)
    import re

    taken = [
        int(m.group(1))
        for f in os.listdir("BENCH")
        if (m := re.match(r"scaling_run(\d+)\.json$", f))
    ]
    n = max(taken, default=0) + 1
    with open(f"BENCH/scaling_run{n}.json", "w") as f:
        json.dump(out, f, indent=2)
    out["archived_as"] = f"BENCH/scaling_run{n}.json"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
