"""Auxiliary benchmarks for the optimization round (guide §1.4).

NOT the driver contract — bench.py stays frozen. This file isolates each
expensive piece with the noop sink so computation is timed without the
count()-vs-write ambiguity, and prints one JSON line per mode.

Modes:
  qc       — stage-split of the corpus_qc_dedup path (same code shape as
             bench.py lines 119-155, each stage timed separately)
  headline — each headline contract query via noop sink, twice (cold+warm)
  plans    — dump .explain("formatted") for every headline query +
             QC stages to plans/r06/
  kg       — kg_pipeline min-of-N (same as bench.py but standalone)

Usage: python bench_extra.py <mode> [n_files]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.window_sentinel import _mem_bw, _timed_burn  # noqa: E402


def _spark():
    from sling_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="sling_spark_bench_extra",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _qc_frames(spark, n_files: int, cpus: int):
    """Identical dataflow to bench.py's corpus_qc_dedup block."""
    from pyspark.sql import functions as F

    from sling_spark.kg.documents import latest_with_sha
    from sling_spark.sources.corpus import corpus_df

    base = latest_with_sha(corpus_df(spark, n_files, partitions=4 * cpus)).select(
        F.concat_ws("/", "repo", "path").alias("doc_id"),
        F.col("content").alias("text"),
    )
    mirrors = base.filter(F.crc32("doc_id") % 10 == 0).select(
        F.concat(F.col("doc_id"), F.lit("@mirror")).alias("doc_id"),
        F.concat(F.col("text"), F.lit("\n// mirrored copy")).alias("text"),
    )
    return base.unionByName(mirrors)


def run_qc(n_files: int) -> None:
    from sling_spark.operators.dedup import (
        dedup_clusters, jaccard_pairs, lsh_candidate_pairs,
        minhash_signatures, shingles,
    )

    spark, cpus = _spark()
    sc = spark.sparkContext
    t: dict[str, float] = {}
    probe0 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}

    docs = _qc_frames(spark, n_files, cpus)

    sc.setJobDescription("qc: corpus generation only")
    t0 = time.time()
    _noop(docs)
    t["gen_only"] = round(time.time() - t0, 3)

    sc.setJobDescription("qc: shingles persist")
    t0 = time.time()
    sh = shingles(docs, "doc_id", "text").persist()
    n_sh = sh.count()
    t["shingle_persist"] = round(time.time() - t0, 3)

    sc.setJobDescription("qc: minhash signatures")
    t0 = time.time()
    sig = minhash_signatures(sh, num_hashes=128)
    _noop(sig)
    t["minhash_sig"] = round(time.time() - t0, 3)

    sc.setJobDescription("qc: lsh candidates")
    # NOTE: mirrors bench.py's dataflow exactly — the signature agg runs
    # INSIDE this stage (as in the frozen bench), so `minhash_sig` above
    # is an extra informational stage and `total` double-counts it;
    # compare `stages` to the bench wall as gen + shingle + lsh +
    # verify + cc.
    t0 = time.time()
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes=128),
        bands=16, rows_per_band=8, max_bucket=64,
    ).localCheckpoint()
    n_cand = cands.count()
    t["lsh_candidates"] = round(time.time() - t0, 3)

    sc.setJobDescription("qc: jaccard verify")
    t0 = time.time()
    verified = jaccard_pairs(sh, min_jaccard=0.8, candidates=cands)
    verified = verified.localCheckpoint()
    n_ver = verified.count()
    t["jaccard_verify"] = round(time.time() - t0, 3)

    sc.setJobDescription("qc: cc clustering")
    t0 = time.time()
    n_clustered = dedup_clusters(verified.select("doc_a", "doc_b")).count()
    t["cc_cluster"] = round(time.time() - t0, 3)
    sh.unpersist()

    probe1 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}
    print(json.dumps({
        "mode": "qc_stages", "n_files": n_files,
        "stages": t, "total": round(sum(t.values()), 3),
        "n_shingles": n_sh, "n_candidates": n_cand,
        "n_verified": n_ver, "n_clustered": n_clustered,
        "probe_pre": probe0, "probe_post": probe1,
    }))


def run_headline() -> None:
    from sling_spark import contract

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, _cpus = _spark()
    qs = contract.queries()
    names = [
        "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q5_region_revenue", "topk_parts_per_brand",
        "events_sessionize", "events_tumbling_5min", "doc_ngram_jaccard",
        "doc_minhash", "doc_simhash", "emb_knn_bruteforce",
        "kg_alias_term_counts",
    ]
    probe0 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"headline: {name}")
        t0 = time.time()
        _noop(qs[name](spark, sf_dir))
        cold[name] = round(time.time() - t0, 3)
    for name in names:
        spark.sparkContext.setJobDescription(f"headline-warm: {name}")
        t0 = time.time()
        _noop(qs[name](spark, sf_dir))
        warm[name] = round(time.time() - t0, 3)
    probe1 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}
    print(json.dumps({
        "mode": "headline_noop",
        "cold": cold, "cold_total": round(sum(cold.values()), 3),
        "warm": warm, "warm_total": round(sum(warm.values()), 3),
        "probe_pre": probe0, "probe_post": probe1,
    }))


def run_plans(out_dir: str = "plans/r06", suffix: str = "before") -> None:
    from sling_spark import contract
    from sling_spark.operators.dedup import (
        jaccard_pairs, lsh_candidate_pairs, minhash_signatures, shingles,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, cpus = _spark()
    os.makedirs(out_dir, exist_ok=True)
    qs = contract.queries()
    names = [
        "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q5_region_revenue", "topk_parts_per_brand",
        "events_sessionize", "events_tumbling_5min", "doc_ngram_jaccard",
        "doc_minhash", "doc_simhash", "emb_knn_bruteforce",
        "kg_alias_term_counts",
    ]
    for name in names:
        df = qs[name](spark, sf_dir)
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    # QC-path stage plans on a tiny corpus (plan shape is size-free)
    docs = _qc_frames(spark, 2000, cpus)
    sh = shingles(docs, "doc_id", "text")
    sig = minhash_signatures(sh, num_hashes=128)
    cands = lsh_candidate_pairs(sig, bands=16, rows_per_band=8, max_bucket=64)
    ver = jaccard_pairs(sh, min_jaccard=0.8, candidates=cands)
    for nm, df in [("qc_minhash_sig", sig), ("qc_lsh_candidates", cands),
                   ("qc_jaccard_verify", ver)]:
        with open(f"{out_dir}/{nm}_{suffix}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    print(json.dumps({"mode": "plans", "out_dir": out_dir,
                      "suffix": suffix, "n": len(names) + 3}))


def run_kg(n_files: int, n_samples: int = 3) -> None:
    import shutil

    from sling_spark.kg.pipeline import run_pipeline
    from sling_spark.sources.corpus import corpus_df

    spark, cpus = _spark()
    samples = []
    n_triples = 0
    probe0 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}
    for _ in range(n_samples):
        t0 = time.time()
        res = run_pipeline(spark, corpus_df(spark, n_files, partitions=4 * cpus))
        n_triples = res["triples"].count()
        samples.append(round(time.time() - t0, 3))
        shutil.rmtree(res["assets"].path, ignore_errors=True)
    probe1 = {"burn_s": _timed_burn(), "dram_gbs": _mem_bw()}
    print(json.dumps({
        "mode": "kg", "n_files": n_files, "samples": samples,
        "min": min(samples), "triples": n_triples,
        "triples_per_sec": round(n_triples / min(samples), 1),
        "probe_pre": probe0, "probe_post": probe1,
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "qc"
    if mode == "qc":
        run_qc(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
    elif mode == "headline":
        run_headline()
    elif mode == "plans":
        run_plans(suffix=sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "kg":
        run_kg(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000,
               int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
