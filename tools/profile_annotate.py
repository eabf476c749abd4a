"""In-process cProfile of the annotate hot path (no Spark).

The annotate stage is ~63% of kg_pipeline wall at 32 cores and is
CPU-saturated (per-layer spans of the real run_pipeline:
``perfbench/run.py --workload build_bulk --trace 1``) — so reducing its
per-doc CPU is a direct throughput gain at every core count. This
script runs the exact per-batch work the mapInPandas closure does
(tokenize → whole-batch candidate enumeration → per-doc DP/resolve/
anaphora/relations) over N synthetic docs in one process and prints the
top cumulative-time functions.

Assets are assembled driver-side from the oracle/kb builders (values
are test-asserted equal to the pipeline's Spark-built assets), so no
SparkSession is needed and the profile is pure annotate CPU.

Usage: python tools/profile_annotate.py [n_docs]
"""

from __future__ import annotations

import cProfile
import io
import pstats
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

    import numpy as np

    from sling_spark.functions.tokenize import tokenize_arrays
    from sling_spark.kg import mentions as M
    from sling_spark.kg.assets import KbAssets
    from sling_spark.oracle import kg_oracle as O
    from sling_spark.sources import kb

    pt = O.build_phrase_table()
    corpus = O.latest_corpus(n_docs)
    idf = O.build_idf(corpus)
    links: dict[str, list[tuple[str, int]]] = {}
    for r in kb.links_rows():
        links.setdefault(r["src"], []).append((r["dst"], r["count"]))
    for v in links.values():
        v.sort()
    popularity = {r["id"]: r["count"] for r in kb.popularity_rows()}
    assets = KbAssets(
        phrase_table=pt,
        idf=idf,
        popularity=popularity,
        links=links,
        statements=kb.facts_lookup(),
        gender=kb.gender_lookup(),
    )
    contents = [r["content"] for r in corpus]

    def run_batch():
        npa = M._np_assets(assets)
        docs = [tokenize_arrays(c) for c in contents]
        offs = np.zeros(len(docs) + 1, dtype=np.int64)
        for j, ta in enumerate(docs):
            offs[j + 1] = offs[j] + len(ta.words)
        fps_all = np.concatenate([ta.fps for ta in docs])
        sent_start = np.concatenate([ta.brks for ta in docs]) >= 2
        sent_start[offs[:-1][offs[:-1] < len(sent_start)]] = True
        cb, ce, cfp, cform = M._enumerate_candidates(
            fps_all,
            np.concatenate([ta.forms for ta in docs]),
            np.concatenate([ta.alpha for ta in docs]),
            np.concatenate([ta.lower for ta in docs]),
            sent_start,
            npa,
            M.DEFAULT_MIN_IDF,
            M.DEFAULT_MAX_SPAN,
        )
        doc_cuts = np.searchsorted(cb, offs).tolist()
        n_m = n_r = 0
        for j, ta in enumerate(docs):
            off = int(offs[j])
            lo, hi = doc_cuts[j], doc_cuts[j + 1]
            merged = M._merge_candidates(
                cb[lo:hi] - off, ce[lo:hi] - off, cfp[lo:hi], cform[lo:hi],
                M._literal_candidates(ta.words, ta.brks, ta.lit0),
            )
            ms, rs = M._annotate_from_candidates(
                ta.words, ta.brks, ta.fps, ta.forms, merged, assets, npa,
                ta.pron,
            )
            n_m += len(ms)
            n_r += len(rs)
        return n_m, n_r

    t0 = time.time()
    nm, nr = run_batch()  # warm pass fills the per-process caches
    warm = time.time() - t0

    prof = cProfile.Profile()
    t0 = time.time()
    prof.enable()
    nm, nr = run_batch()
    prof.disable()
    wall = time.time() - t0

    buf = io.StringIO()
    stats = pstats.Stats(prof, stream=buf)
    stats.sort_stats("cumulative").print_stats(28)
    print(buf.getvalue())
    print(
        f"docs={n_docs} mentions={nm} relations={nr} "
        f"warm={warm:.2f}s profiled={wall:.2f}s "
        f"docs/s={n_docs / wall:.0f}"
    )


if __name__ == "__main__":
    main()
