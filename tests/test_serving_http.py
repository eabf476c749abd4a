"""REST knowledge-service analog tests (knowledge-service.cc:383-392
endpoints) + the round-4 advice: serving name search vs name-table
semantics on a larger fixture."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from sling_spark import serving
from sling_spark.kg.aggregates import search_index
from sling_spark.kg.assets import seed_dataframes
from sling_spark.kg.phrase_table import build_name_table, select_aliases
from sling_spark.kg.pipeline import run_pipeline
from sling_spark.serving_http import make_kb_service
from sling_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def kb_server(spark):
    res = run_pipeline(spark, corpus_df(spark, 40))
    seed = seed_dataframes(spark)
    name_table = build_name_table(select_aliases(seed["aliases"]))
    serving.register_views(
        spark,
        {
            "kb_items": res["kb_items"],
            "triples": res["triples"],
            "phrase_table": res["phrase_table"],
            "name_table": name_table,
            "search_index": search_index(seed["aliases"], seed["items"]),
            "documents": res["documents"],
            "mentions": res["mentions"],
        },
    )
    server = make_kb_service(spark)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    yield spark, f"http://{host}:{port}", name_table
    server.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_kb_query_prefix_completion(kb_server):
    _, base, _ = kb_server
    st, out = _get(f"{base}/kb/query?q=apache%20s&limit=10")
    assert st == 200
    refs = [m["ref"] for m in out["matches"]]
    assert "Q1" in refs
    for m in out["matches"]:
        assert m["text"].startswith("apache s")
        assert m["count"] >= 1


def test_kb_query_matches_name_table_semantics(kb_server):
    """Endpoint parity vs the name table itself (round-4 polish item):
    for every distinct 4-char prefix in the table, the endpoint must
    return exactly the (name, entity) pairs the sorted name table holds
    for that prefix, in table order."""
    spark, base, name_table = kb_server
    import urllib.parse

    rows = name_table.selectExpr(
        "name", "inline(entries)").collect()
    prefixes = sorted({r["name"][:4] for r in rows})
    assert len(prefixes) >= 10  # larger fixture: real coverage
    for prefix in prefixes:
        want = sorted((r["name"], r["entity"]) for r in rows
                      if r["name"].startswith(prefix))
        _, out = _get(
            f"{base}/kb/query?q={urllib.parse.quote(prefix)}&limit=1000")
        got = sorted((m["text"], m["ref"]) for m in out["matches"])
        assert got == want, prefix


def test_kb_item_resolved_properties(kb_server):
    _, base, _ = kb_server
    st, item = _get(f"{base}/kb/item?id=Q1")
    assert st == 200
    assert item["ref"] == "Q1" and item["text"] == "Apache Spark"
    by_pid = {p["property"]: p for p in item["properties"]}
    assert "P2" in by_pid
    vals = {v["v"] for v in by_pid["P2"]["values"]}
    assert "Q15" in vals
    # entity-valued objects carry resolved display names (the reference
    # resolves value handles against the store)
    named = [v for p in item["properties"] for v in p["values"]
             if "text" in v]
    assert named
    st, _ = _get(f"{base}/kb/item?id=Q999999")
    assert st == 404


def test_kb_frame_and_stubs(kb_server):
    _, base, _ = kb_server
    st, fr = _get(f"{base}/kb/frame?id=Q1")
    assert st == 200
    assert ["P2", "Q15"] in fr["slots"]
    st, out = _get(f"{base}/kb/stubs?ids=Q1,Q15")
    assert out["stubs"]["Q1"] == "Apache Spark"
    assert len(out["stubs"]) == 2


def test_kb_search_fulltext(kb_server):
    _, base, _ = kb_server
    st, out = _get(f"{base}/kb/search?q=apache%20spark")
    assert st == 200
    assert out["matches"][0]["ref"] == "Q1"
    assert out["matches"][0]["text"] == "Apache Spark"


def test_kb_topic_document_view(kb_server):
    spark, base, _ = kb_server
    import urllib.parse

    target = spark.sql(
        "SELECT m.repo, m.path FROM mentions m GROUP BY 1, 2 "
        "ORDER BY count(*) DESC, 1, 2 LIMIT 1"
    ).first()
    st, out = _get(
        f"{base}/kb/topic?repo={urllib.parse.quote(target['repo'])}"
        f"&path={urllib.parse.quote(target['path'])}")
    assert st == 200
    assert "[" in out["content"] and "|Q" in out["content"]
    st, _ = _get(f"{base}/kb/topic?repo=none&path=none")
    assert st == 404


def test_names_null_name_falls_back_to_id(kb_server):
    """An item with a NULL name must surface as its id in search /
    stubs, never as text: null — _names drops NULL rows so callers'
    names.get(id, id) fallback fires."""
    spark, base, _ = kb_server
    from sling_spark.serving_http import KnowledgeService

    original = spark.table("kb_items")
    with_null = original.unionByName(
        spark.createDataFrame(
            [("Q999999", None)], "id string, name string"
        ).withColumns(
            {c: F.lit(None).cast(original.schema[c].dataType)
             for c in original.columns if c not in ("id", "name")}
        ).select(original.columns),
        allowMissingColumns=False,
    )
    with_null.createOrReplaceTempView("kb_items")
    try:
        svc = KnowledgeService(spark)
        names = svc._names(["Q999999"])
        assert "Q999999" not in names  # NULL name dropped -> fallback
        assert svc.stubs(["Q999999"])["stubs"] == {}
    finally:
        original.createOrReplaceTempView("kb_items")
