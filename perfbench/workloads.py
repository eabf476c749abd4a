"""The operations each workload times, the traced variants of them, and
their correctness gates.

Untraced operations call the program exactly as a user would. Traced
operations call the same entry points with :class:`trace.Tracer`
wrappers patched onto the public functions they go through, so each
layer's work lands in its own span.
"""

from __future__ import annotations

import http.client
import json
import os
import re
import statistics
import threading
import time
from urllib.parse import parse_qs, urlparse

from . import inputs

SERVE_CLIENTS = 2       # closed-loop clients
TRACE_REQUESTS = 20     # requests in the traced serving phase (two mix blocks)
#: dedup stop-shingle bar: a shingle in more than this share of the
#: documents is dropped as boilerplate. The planted 41-document component
#: is about 6 % of the dedup table, so at the operator's 1 % default its
#: shared shingles would be dropped and the component could not be found.
STOP_DF_FRAC = 0.1


# ---------------------------------------------------------------------------
# build_bulk
# ---------------------------------------------------------------------------


def build_once(spark, corpus, store_dir: str):
    """One bulk build: run_pipeline over the corpus table, forced by a
    no-op write of every triple column. Returns (outputs, seconds)."""
    from sling_spark.kg.pipeline import run_pipeline

    t0 = time.perf_counter()
    res = run_pipeline(spark, corpus=corpus, asset_store_dir=store_dir)
    res["triples"].write.format("noop").mode("overwrite").save()
    return res, time.perf_counter() - t0


def build_gate(spark, res, corpus) -> dict:
    """Triple-set P/R against the pure-Python oracle on the same corpus
    and the sha256 lineage invariant of every document."""
    from pyspark.sql import functions as F

    from sling_spark.kg.evaluation import PRF, triple_set
    from sling_spark.oracle import kg_oracle

    pred = triple_set([r.asDict(recursive=True) for r in res["triples"].collect()])
    gold = triple_set(kg_oracle.run(inputs.N_FILES)["triples"])
    score = PRF.score(pred, gold)
    docs = res["documents"].select("repo", "path", "commit", "content_sha")
    src = corpus.select("repo", "path", "commit",
                        F.sha2("content", 256).alias("want"))
    bad_sha = (docs.join(src, on=["repo", "path", "commit"], how="left")
               .filter(F.col("want").isNull() | (F.col("want") != F.col("content_sha")))
               .count())
    n_docs = docs.count()
    ok = (score.precision >= 0.95 and score.recall >= 0.95
          and bad_sha == 0 and n_docs == inputs.N_FILES)
    return {"ok": ok, "precision": score.precision, "recall": score.recall,
            "n_triples": len(pred), "bad_sha": bad_sha, "n_docs": n_docs}


def patch_build(tracer) -> list:
    """Spans around the pipeline's per-layer calls."""
    from sling_spark.kg import assets, pipeline

    return [
        tracer.patch(pipeline, "latest_with_sha", "kg.documents", force=True),
        tracer.patch(pipeline, "doc_stats", "kg.doc_stats", force=True),
        tracer.patch(assets, "build_asset_store", "kg.assets"),
        tracer.patch(pipeline, "annotate", "kg.mentions", force=True),
        tracer.patch(pipeline, "doc_triples", "kg.relations", force=True),
        tracer.patch(pipeline, "build_clusters", "kg.xref", force=True),
        tracer.patch(pipeline, "canonicalize", "kg.xref", force=True),
        tracer.patch(pipeline, "reconcile_items", "kg.reconcile", force=True),
        tracer.patch(pipeline, "merge_items", "kg.reconcile", force=True),
        tracer.patch(pipeline, "kb_triples", "kg.reconcile", force=True),
    ]


def traced_build(spark, tracer, corpus, store_dir: str):
    """Bulk build under spans; returns (outputs, root span)."""
    from sling_spark.kg.pipeline import run_pipeline

    undo = patch_build(tracer)
    try:
        with tracer.span("build", run_id=tracer.new_run_id()) as root:
            tracer.fallback = root  # the seed-KB branch runs on its own thread
            res = run_pipeline(spark, corpus=corpus, asset_store_dir=store_dir)
            res["triples"].write.format("noop").mode("overwrite").save()
    finally:
        tracer.fallback = None
        for u in undo:
            u()
    return res, root


def build_layer_stats(res) -> dict:
    """Row-level ratios of a finished build (computed outside spans)."""
    from pyspark.sql import functions as F

    parts = [r["count"] for r in res["documents"]
             .groupBy(F.spark_partition_id().alias("p")).count().collect()]
    m = res["mentions"].agg(F.count("*").alias("n"),
                            F.count("entity").alias("linked")).first()
    return {"kg.documents.partition_skew": max(parts) / statistics.median(parts),
            "kg.mentions.linked_share": m["linked"] / m["n"] if m["n"] else 0.0}


# ---------------------------------------------------------------------------
# kb_serve
# ---------------------------------------------------------------------------


def seed_kb_items(spark):
    """The seed KB fused from its source rows: the table the pipeline's
    seed-KB branch produces, without a corpus build."""
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.delta import demo_sources, full_rebuild
    from sling_spark.kg.xref import build_clusters

    sources, _ = demo_sources(spark)
    return full_rebuild(sources, build_clusters(seed_dataframes(spark)["same_as"]))


def serve_tables(spark, kb_items) -> dict:
    """Materialize and register the served views over fused KB items."""
    from sling_spark import serving
    from sling_spark.kg.aggregates import search_index
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.phrase_table import build_name_table, select_aliases
    from sling_spark.kg.reconcile import kb_triples

    seed = seed_dataframes(spark)
    kb_items = kb_items.localCheckpoint(eager=True)
    tables = {
        "kb_items": kb_items,
        "triples": kb_triples(kb_items),
        "name_table": build_name_table(select_aliases(seed["aliases"])),
        "search_index": search_index(seed["aliases"], seed["items"]),
    }
    tables = {k: v.localCheckpoint(eager=True) for k, v in tables.items()}
    serving.register_views(spark, tables)
    return tables


def serve_requests(tables: dict, seed: int) -> list[tuple[str, str]]:
    """Seeded request sequence over the served items (popularity order
    from the seed KB's alias counts)."""
    from sling_spark.sources import kb

    names = {r["id"]: r["name"] for r in tables["kb_items"].select("id", "name").collect()}
    pop = sorted(kb.popularity_rows(), key=lambda r: (-r["count"], r["id"]))
    ids = [r["id"] for r in pop if names.get(r["id"])]
    return inputs.request_sequence(ids, names, seed)


class Server:
    """The KB service on a background thread."""

    def __init__(self, spark):
        from sling_spark.serving_http import make_kb_service

        self.httpd = make_kb_service(spark)
        self.host, self.port = self.httpd.server_address[:2]
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       name="kb-service", daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


def closed_loop(server: Server, seq, seconds: float, clients: int,
                on_request=None) -> tuple[list, float]:
    """``clients`` threads, each sending its next request only after the
    previous reply, drawing from ``seq`` in order, until
    ``seconds`` have passed (or, with ``seconds`` <= 0, until ``seq`` is
    used up). Returns ([(kind, latency_s, ok)], wall seconds)."""
    lock = threading.Lock()
    cursor = [0]
    results: list = []
    t0 = time.perf_counter()
    stop_at = t0 + seconds

    def next_request():
        with lock:
            i = cursor[0]
            if seconds <= 0 and i >= len(seq):
                return None
            if seconds > 0 and time.perf_counter() >= stop_at:
                return None
            cursor[0] += 1
            return seq[i % len(seq)]

    def client():
        conn = http.client.HTTPConnection(server.host, server.port, timeout=120)
        try:
            while (req := next_request()) is not None:
                kind, path = req
                t0 = time.perf_counter()
                try:
                    if on_request is not None:
                        with on_request(kind):
                            ok = _get(conn, path)[0] == 200
                    else:
                        ok = _get(conn, path)[0] == 200
                except (OSError, http.client.HTTPException, ValueError):
                    ok = False
                    conn.close()
                    conn = http.client.HTTPConnection(server.host, server.port,
                                                      timeout=120)
                with lock:
                    results.append((kind, time.perf_counter() - t0, ok))
        finally:
            conn.close()

    threads = [threading.Thread(target=client, name=f"client-{k}")
               for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.perf_counter() - t0


def _get(conn, path: str):
    conn.request("GET", path)
    resp = conn.getresponse()
    body = resp.read()
    return resp.status, json.loads(body)


def serve_gate(server: Server, tables: dict, seq, per_kind: int = 5) -> dict:
    """Replies to a fixed probe set (the first requests of each kind in
    the sequence) checked against the served tables themselves."""
    kb_names = {r["id"]: r["name"] for r in tables["kb_items"].select("id", "name").collect()}
    facts: dict[str, set] = {}
    for r in tables["triples"].select("subj", "pred", "obj").collect():
        facts.setdefault(r["subj"], set()).add((r["pred"], r["obj"]))
    name_rows = {r["name"]: {e["entity"] for e in r["entries"]}
                 for r in tables["name_table"].select("name", "entries").collect()}
    postings = {r["term"]: set(r["postings"].split(","))
                for r in tables["search_index"].select("term", "postings").collect()}

    probes, seen = [], {}
    for kind, path in seq:
        if seen.get(kind, 0) < per_kind:
            seen[kind] = seen.get(kind, 0) + 1
            probes.append((kind, path))
    conn = http.client.HTTPConnection(server.host, server.port, timeout=120)
    bad = []
    try:
        for kind, path in probes:
            status, body = _get(conn, path)
            q = {k: v[0] for k, v in parse_qs(urlparse(path).query).items()}
            if status != 200:
                ok = False
            elif kind == "item":
                got = {(p["property"], v["v"]) for p in body["properties"]
                       for v in p["values"]}
                ok = (body["text"] == kb_names.get(q["id"])
                      and got == facts.get(q["id"], set()))
            elif kind == "query":
                want_any = any(n.startswith(q["q"]) for n in name_rows)
                ok = (bool(body["matches"]) == want_any and all(
                    m["text"].startswith(q["q"]) and m["ref"] in name_rows.get(m["text"], ())
                    for m in body["matches"]))
            elif kind == "search":
                terms = [t for t in re.split(r"[^a-z0-9]+", q["q"].lower()) if t]
                ok = all(all(m["ref"] in postings.get(t, ()) for t in terms)
                         for m in body["matches"])
            else:
                ids = [x for x in q["ids"].split(",") if x]
                want = {i: kb_names[i] for i in ids if kb_names.get(i) is not None}
                ok = body["stubs"] == want
            if not ok:
                bad.append(path)
    finally:
        conn.close()
    return {"ok": not bad, "probes": len(probes), "bad": bad}


def patch_serve(tracer) -> list:
    """Spans around the handlers and the serving functions they call. The
    handlers collect each returned DataFrame at once, so a serving span
    stays open until that collect and no job is added to the request."""
    from sling_spark import serving
    from sling_spark.serving_http import KnowledgeService

    undo = [tracer.patch(serving, fn, f"serving.{fn}", until_collect=True)
            for fn in ("get_item", "item_facts", "name_search", "term_search")]
    undo += [tracer.patch(KnowledgeService, m, f"serving_http.handler.{m}")
             for m in ("item", "query", "search", "stubs")]
    return undo


def traced_requests(server: Server, tracer, seq):
    """The first :data:`TRACE_REQUESTS` requests from one client, each a root span whose run id the
    service-side spans share. Returns (request spans, results, wall
    seconds) with results as in :func:`closed_loop`."""
    from contextlib import contextmanager

    @contextmanager
    def on_request(kind):
        with tracer.span(f"serving_http.{kind}", run_id=tracer.new_run_id()) as sp:
            tracer.fallback = sp  # handler threads start with no open span
            try:
                yield
            finally:
                tracer.fallback = None
            spans.append(sp)

    spans: list = []
    undo = patch_serve(tracer)
    try:
        results, wall = closed_loop(server, seq[:TRACE_REQUESTS], 0, 1,
                                    on_request=on_request)
    finally:
        for u in undo:
            u()
    return spans, results, wall


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def write_dedup_input(spark, corpus, seed: int, path: str) -> list[tuple[int, int]]:
    """Dedup table = the corpus documents plus planted mirrors; returns
    the planted pairs."""
    texts = [r["content"] for r in corpus.select("repo", "path", "commit", "content")
             .orderBy("repo", "path", "commit").collect()]
    rows, pairs = inputs.plant_mirrors(texts, seed)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(path)
    return pairs


def traced_dedup(tracer, docs) -> tuple[dict, object]:
    """shingles -> minhash/LSH -> jaccard verify -> clusters, one span
    per stage."""
    from pyspark.sql import functions as F

    from sling_spark.operators import dedup

    with tracer.span("dedup", run_id=tracer.new_run_id()) as root:
        with tracer.span("operators.dedup.shingles"):
            sh = dedup.shingles(docs, "doc_id", "text").localCheckpoint(eager=True)
        with tracer.span("operators.dedup.lsh"):
            sig = dedup.minhash_signatures(sh, num_hashes=128)
            cand = dedup.lsh_candidate_pairs(sig, bands=16, rows_per_band=8)
            cand = cand.localCheckpoint(eager=True)
        with tracer.span("operators.dedup.verify"):
            pairs = dedup.jaccard_pairs(sh, 0.8, candidates=cand,
                                       stop_df_frac=STOP_DF_FRAC).localCheckpoint(eager=True)
        with tracer.span("operators.dedup.cluster"):
            clusters = dedup.dedup_clusters(pairs).localCheckpoint(eager=True)
    n_cand, n_pairs = cand.count(), pairs.count()
    stats = {
        "operators.dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
        "operators.dedup.max_component":
            clusters.agg(F.max("cluster_size")).first()[0] or 0,
    }
    return stats, (root, clusters)


def dedup_gate(clusters, planted) -> dict:
    keep = {r["doc_id"]: r["keep_id"] for r in clusters.select("doc_id", "keep_id").collect()}
    missed = [p for p in planted
              if keep.get(p[0]) is None or keep.get(p[0]) != keep.get(p[1])]
    return {"ok": not missed, "planted": len(planted), "missed": len(missed)}


# ---------------------------------------------------------------------------
# kb_delta
# ---------------------------------------------------------------------------


class DeltaChain:
    """Versioned KB state (``v<N>/{sources,kb_items}``, the layout of
    ``kg.delta.init_kb_state``) plus the seeded batches to apply."""

    def __init__(self, spark, work: str, seed: int):
        from sling_spark.kg.assets import ITEMS_DDL, seed_dataframes
        from sling_spark.kg.delta import init_kb_state
        from sling_spark.kg.xref import build_clusters

        self.spark = spark
        self.state = os.path.join(work, "kb_state")
        self.version = 0
        self.clusters = build_clusters(seed_dataframes(spark)["same_as"]).localCheckpoint(eager=True)
        sources = spark.createDataFrame(inputs.kb_source_rows(seed),
                                        ITEMS_DDL + ", source_priority int")
        init_kb_state(sources, self.clusters, self.state)
        self.batch_paths = []
        for i, rows_i in enumerate(inputs.delta_batches(seed)):
            path = os.path.join(work, "delta", f"b{i}")
            spark.createDataFrame(rows_i, ITEMS_DDL + ", source_priority int, deleted boolean") \
                .write.mode("overwrite").parquet(path)
            self.batch_paths.append(path)

    def _read(self, v: int, name: str):
        return self.spark.read.parquet(f"{self.state}/v{v}/{name}")

    def apply(self, tracer, path: str) -> tuple[dict, object]:
        """Apply one batch and commit it as the next version."""
        from sling_spark.kg import delta as kd

        undo = [tracer.patch(kd, "reconcile_items", "kg.delta.reconcile", force=True),
                tracer.patch(kd, "merge_items", "kg.delta.reconcile", force=True),
                tracer.patch(kd, "canonicalize", "kg.delta.canonicalize", force=True)]
        nxt = self.version + 1
        try:
            with tracer.span("delta.batch", run_id=tracer.new_run_id()) as root:
                batch = self.spark.read.parquet(path)
                with tracer.span("kg.delta.apply"):
                    res = kd.apply_kb_delta(self.spark, self._read(self.version, "sources"),
                                            batch, self.clusters,
                                            self._read(self.version, "kb_items"))
                    sources = res["sources"].localCheckpoint(eager=True)
                    kb_items = res["kb_items"].localCheckpoint(eager=True)
                with tracer.span("kg.delta.commit"):
                    sources.write.mode("overwrite").parquet(f"{self.state}/v{nxt}/sources")
                    kb_items.write.mode("overwrite").parquet(f"{self.state}/v{nxt}/kb_items")
                    kd._write_pointer(self.spark, self.state, nxt)
        finally:
            for u in undo:
                u()
        self.version = nxt
        stats = {"touched": res["touched"].count(), "rows": batch.count()}
        return stats, root

    def gate(self) -> dict:
        """The maintained KB's triples equal a full rebuild's."""
        from sling_spark.kg.delta import delta_triples, full_rebuild

        got = {tuple(r) for r in delta_triples(self._read(self.version, "kb_items")).collect()}
        want = {tuple(r) for r in delta_triples(
            full_rebuild(self._read(self.version, "sources"), self.clusters)).collect()}
        return {"ok": got == want, "n_triples": len(want),
                "missing": len(want - got), "extra": len(got - want)}
