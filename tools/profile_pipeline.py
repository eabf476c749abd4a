"""Per-stage wall-time profile of the KG pipeline at one core count.

Diagnoses the 8->32 scaling loss (BENCH/scaling_run39/40): breaks the
pipeline into its materialization points and times each action, so the
fixed-overhead portion (stages whose wall time does not shrink with
cores) is visible directly instead of inferred from pair arithmetic.

Usage: python tools/profile_pipeline.py <cores> <n_files>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class CpuSampler:
    """Samples /proc/stat every 0.5s; reports mean busy-CPU count (in
    units of full cores) over any [t0, t1] window, so a stage whose wall
    time refuses to shrink can be classified as CPU-starved (low busy
    count -> concurrency bottleneck) vs host-throttled (high busy count,
    low useful throughput)."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float, float]] = []  # (ts, busy, total)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _read() -> tuple[float, float, float]:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [float(x) for x in parts]
        idle = vals[3] + vals[4]  # idle + iowait
        steal = vals[7] if len(vals) > 7 else 0.0
        return sum(vals) - idle - steal, sum(vals), steal

    def _run(self) -> None:
        while not self._stop.is_set():
            busy, total, steal = self._read()
            self.samples.append((time.time(), busy, total, steal))
            self._stop.wait(0.5)

    def start(self) -> None:
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join()

    def busy_cores(self, t0: float, t1: float) -> tuple[float, float]:
        """(mean busy cores, mean stolen cores) over the window."""
        win = [s for s in self.samples if t0 <= s[0] <= t1]
        if len(win) < 2:
            return float("nan"), float("nan")
        dbusy = win[-1][1] - win[0][1]
        dtotal = win[-1][2] - win[0][2]
        dsteal = win[-1][3] - win[0][3]
        if dtotal <= 0:
            return float("nan"), float("nan")
        n = os.cpu_count()
        return round(dbusy / dtotal * n, 1), round(dsteal / dtotal * n, 1)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000

    from pyspark.sql import SparkSession

    from sling_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(1)

    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"profile_{cores}",
        shuffle_partitions=2 * cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    store_dir = tempfile.mkdtemp(prefix=f"profile_assets_{cores}_")

    from sling_spark.kg.assets import (
        asset_store_future,
        build_asset_store,
        seed_dataframes,
    )
    from sling_spark.kg.documents import doc_stats
    from sling_spark.kg.mentions import annotate, mentions_of, relations_of
    from sling_spark.kg.reconcile import (
        invert_statements,
        kb_triples,
        merge_items,
        reconcile_items,
    )
    from sling_spark.kg.relations import doc_triples
    from sling_spark.kg.xref import build_clusters, canonicalize
    from sling_spark.sources.corpus import synthetic_documents
    from pyspark.sql import functions as F

    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    sampler = CpuSampler()
    sampler.start()
    t_all = time.time()

    def mark(name: str, t0: float) -> None:
        timings[name] = round(time.time() - t0, 2)
        cpu[name] = sampler.busy_cores(t0, time.time())  # (busy, steal)

    t0 = time.time()
    seed = seed_dataframes(spark)
    store_future = asset_store_future(seed, store_dir)
    documents = synthetic_documents(spark, n_files, partitions=4 * cores)
    documents = documents.persist()
    n_docs = documents.count()
    mark("documents_gen", t0)

    t0 = time.time()
    stats = doc_stats(documents).persist()
    stats.count()
    mark("doc_stats", t0)

    t0 = time.time()
    store, _ = build_asset_store(
        spark, stats, store_dir, seed, store_future=store_future
    )
    mark("asset_store_build", t0)

    t0 = time.time()
    annotations = annotate(documents, store).persist()
    annotations.count()
    mark("annotate", t0)

    t0 = time.time()
    mentions = mentions_of(annotations)
    relations = relations_of(annotations)
    clusters = build_clusters(seed["same_as"])
    doc_t = doc_triples(relations)
    doc_t = canonicalize(doc_t, clusters, "subj")
    doc_t = canonicalize(doc_t, clusters, "obj")
    kb_sources = seed["items"].withColumn(
        "source_priority", F.lit(0)
    ).unionByName(seed["fragments"])
    all_items = kb_sources.unionByName(
        invert_statements(kb_sources), allowMissingColumns=True
    )
    merged = merge_items(reconcile_items(all_items, clusters))
    kb_t = kb_triples(merged)
    triples = doc_t.unionByName(kb_t)
    n_triples = triples.count()
    mark("triples_tail", t0)

    wall = round(time.time() - t_all, 2)
    cpu["total"] = sampler.busy_cores(t_all, time.time())
    sampler.stop()
    spark.stop()
    shutil.rmtree(store_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "cores": cores,
                "n_files": n_files,
                "n_docs": n_docs,
                "n_triples": n_triples,
                "wall_sec": wall,
                "stages": timings,
                "busy_cores": cpu,
            }
        )
    )


if __name__ == "__main__":
    main()
