"""Serve a built KB over HTTP — the knowledge-service + SLINGDB
deployment analog (reference: sling/nlp/kb/knowledge-service.cc behind
an HTTPServer, sling/db/dbserver.cc beside it).

    # from pipeline output written by tools/submit_pipeline.py
    python tools/serve_kb.py --kb /path/to/kgout [--port 8080]
    # or demo mode: build the fixture pipeline in-process
    python tools/serve_kb.py --demo --n-files 200

Endpoints (sling_spark/serving_http.py): /kb/query /kb/search /kb/item
/kb/frame /kb/stubs /kb/topic. With --db-port, an epoch record store
(sling_spark/db.py) is served beside it on /db/kb/<key> seeded with
one N-Triples record per subject — the frame-store/SLINGDB pairing of
the reference deployment.
"""

from __future__ import annotations

import argparse
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kb", help="pipeline output dir (triples/, kb_items/)")
    ap.add_argument("--demo", action="store_true",
                    help="build the synthetic fixture pipeline in-process")
    ap.add_argument("--n-files", type=int, default=200)
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--db-port", type=int, default=None,
                    help="also serve the epoch record store on this port")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not args.kb and not args.demo:
        ap.error("--kb or --demo required")

    import os

    from sling_spark import serving
    from sling_spark.serving_http import make_kb_service
    from sling_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(master=args.master or f"local[{cpus}]",
                      app_name="sling_spark_serve",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from sling_spark.kg.aggregates import search_index
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.phrase_table import build_name_table, select_aliases

    seed = seed_dataframes(spark)
    if args.demo:
        from sling_spark.kg.pipeline import run_pipeline
        from sling_spark.sources.corpus import corpus_df

        res = run_pipeline(spark, corpus_df(spark, args.n_files))
        tables = {
            "kb_items": res["kb_items"],
            "triples": res["triples"],
            "phrase_table": res["phrase_table"],
            "documents": res["documents"],
            "mentions": res["mentions"],
        }
    else:
        tables = {
            name: spark.read.parquet(str(Path(args.kb) / name))
            for name in ("kb_items", "triples")
            if (Path(args.kb) / name).exists()
        }
        from sling_spark.kg.phrase_table import build_phrase_table

        tables["phrase_table"] = build_phrase_table(
            select_aliases(seed["aliases"]))
    tables["name_table"] = build_name_table(select_aliases(seed["aliases"]))
    tables["search_index"] = search_index(seed["aliases"], seed["items"])
    serving.register_views(spark, tables)

    server = make_kb_service(spark)
    host, port = server.server_address
    # rebind to the requested port unless 0 was asked for
    if args.port:
        server.server_close()
        from http.server import ThreadingHTTPServer

        handler = server.RequestHandlerClass
        server = ThreadingHTTPServer(("127.0.0.1", args.port), handler)
        host, port = server.server_address
    print(f"knowledge service: http://{host}:{port}/kb/query?q=apache")

    if args.db_port is not None:
        from pyspark.sql import functions as F

        from sling_spark.db import DBADD, RecordDatabase, make_db_service

        db = RecordDatabase()
        # one frame record per subject (the frame-store record shape)
        per_subj = (
            tables["triples"].select("subj", "pred", "obj")
            .groupBy("subj")
            .agg(F.array_sort(F.array_distinct(F.collect_list(
                F.concat_ws(" ", "pred", "obj")))).alias("po"))
        )
        for row in per_subj.toLocalIterator():
            db.put(row["subj"], "\n".join(row["po"]), mode=DBADD)
        db_server = make_db_service({"kb": db})
        if args.db_port:
            db_server.server_close()
            from http.server import ThreadingHTTPServer

            db_server = ThreadingHTTPServer(
                ("127.0.0.1", args.db_port), db_server.RequestHandlerClass)
        dh, dp = db_server.server_address
        print(f"record store:      http://{dh}:{dp}/db/kb?id=0&n=10 "
              f"(epoch {db.epoch()})")
        threading.Thread(target=db_server.serve_forever, daemon=True).start()

    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass


if __name__ == "__main__":
    main()
