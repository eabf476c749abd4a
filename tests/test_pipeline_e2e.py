"""End-to-end pipeline vs oracle: P/R >= 0.95 (north rule), lineage
invariant, reconcile/merge parity, checkpoint resumability."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sling_spark.kg.evaluation import (
    PRF,
    evaluate_aspects,
    mention_frame_set,
    mention_span_set,
    relation_set,
    triple_set,
)
from sling_spark.kg.pipeline import run_pipeline
from sling_spark.oracle import kg_oracle
from sling_spark.sources.corpus import corpus_df

N_FILES = 120


@pytest.fixture(scope="module")
def oracle():
    return kg_oracle.run(N_FILES)


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, corpus_df(spark, N_FILES), checkpoint_dir=ckpt), ckpt


def _dictrows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_north_rule_pr(results, oracle):
    res, _ = results
    pred = {
        "SPAN": mention_span_set(_dictrows(res["mentions"])),
        "FRAME": mention_frame_set(_dictrows(res["mentions"])),
        "ROLE": relation_set(_dictrows(res["relations"])),
        "SLOT": triple_set(_dictrows(res["triples"])),
    }
    gold_triples = triple_set(
        [
            dict(t, provenance=t["provenance"])
            for t in oracle["triples"]
        ]
    )
    gold = {
        "SPAN": mention_span_set(oracle["mentions"]),
        "FRAME": mention_frame_set(oracle["mentions"]),
        "ROLE": relation_set(oracle["relations"]),
        "SLOT": gold_triples,
    }
    scores = evaluate_aspects(pred, gold)
    for aspect, s in scores.items():
        assert s.precision >= 0.95, (aspect, s)
        assert s.recall >= 0.95, (aspect, s)
    # deterministic synthetic corpus: exact match expected
    assert scores["TOTAL"].f1 == 1.0, scores


def test_lineage_sha_invariant(results):
    """Every doc-relation triple's provenance sha256 equals the sha of the
    source row's content (BASELINE.json per-row invariant)."""
    res, _ = results
    prov = (
        res["triples"]
        .filter(F.col("source") == "doc_relation")
        .select(
            F.col("provenance.repo").alias("repo"),
            F.col("provenance.path").alias("path"),
            F.col("provenance.commit").alias("commit"),
            F.col("provenance.content_sha").alias("content_sha"),
        )
        .distinct()
    )
    src = res["corpus"].select(
        "repo", "path", "commit", F.sha2("content", 256).alias("expect_sha")
    )
    joined = prov.join(src, on=["repo", "path", "commit"], how="left")
    bad = joined.filter(
        F.col("expect_sha").isNull() | (F.col("expect_sha") != F.col("content_sha"))
    ).count()
    assert bad == 0
    assert prov.count() > 0


def test_merged_items_match_oracle(results, oracle):
    res, _ = results
    got = {
        r["id"]: (
            r["name"],
            tuple(r["types"]),
            tuple(
                (s["pid"], s["object"], tuple(sorted((s["qualifiers"] or {}).items())))
                for s in r["statements"]
            ),
        )
        for r in _dictrows(res["kb_items"])
    }
    want = {
        it["id"]: (
            it["name"],
            tuple(it["types"]),
            tuple(
                (s["pid"], s["object"], tuple(sorted(s["qualifiers"].items())))
                for s in it["statements"]
            ),
        )
        for it in oracle["items"]
    }
    assert got == want


def test_merge_semantics_specifics(results):
    res, _ = results
    items = {r["id"]: r.asDict(recursive=True) for r in res["kb_items"].collect()}
    q1 = items["Q1"]
    sts = {(s["pid"], s["object"]): s["qualifiers"] for s in q1["statements"]}
    # qualified statement subsumed its bare twin
    assert sts[("P1", "Q2")] == {"since": "2014"}
    # alt-id object rewritten and deduped: written-in Scala appears once
    assert [s for s in q1["statements"] if s["pid"] == "P2"] == [
        {"pid": "P2", "object": "Q15", "qualifiers": {}}
    ]
    # date precision: most precise wins
    assert sts[("P6", "2014-02-27")] == {}
    assert ("P6", "2014-02") not in sts
    # deprecated rank dropped on Q3
    q3 = items["Q3"]
    assert ("P4", "Q61") not in {(s["pid"], s["object"]) for s in q3["statements"]}
    # name from highest-priority source
    assert q1["name"] == "Apache Spark"


def test_resumability(spark, results, oracle):
    """Nuke a mid-pipeline checkpoint, re-run: identical triples."""
    res, ckpt = results
    before = triple_set(_dictrows(res["triples"]))
    # simulate a crash after annotation: downstream stages lost
    for stage in ("triples", "kb_items", "clusters"):
        shutil.rmtree(f"{ckpt}/{stage}", ignore_errors=True)
    res2 = run_pipeline(spark, corpus_df(spark, N_FILES), checkpoint_dir=ckpt)
    after = triple_set(_dictrows(res2["triples"]))
    assert before == after


def test_materialize_resumes_on_uri_checkpoint(spark, tmp_path):
    """The _SUCCESS probe must go through the Hadoop FS API: on a
    scheme-qualified checkpoint dir (file://, and by the same code path
    s3a://, hdfs://) a driver-local os.path.exists is always False and
    resume would silently never engage — every stage would recompute."""
    from sling_spark.kg.pipeline import _materialize

    ckpt = "file://" + str(tmp_path / "ckpt")
    df1 = spark.range(5).withColumnRenamed("id", "v")
    out1 = _materialize(df1, spark, ckpt, "stage")
    assert sorted(r["v"] for r in out1.collect()) == [0, 1, 2, 3, 4]
    # a second call with DIFFERENT data must read the checkpoint back
    # (resume), not recompute/rewrite
    df2 = spark.range(99).withColumnRenamed("id", "v")
    out2 = _materialize(df2, spark, ckpt, "stage")
    assert sorted(r["v"] for r in out2.collect()) == [0, 1, 2, 3, 4]


def test_prf_scoring():
    s = PRF.score({1, 2, 3, 4}, {2, 3, 4, 5})
    assert s.precision == 0.75 and s.recall == 0.75


def test_pipeline_with_wikidata_imported_kb(spark, tmp_path):
    """The full wikiflow shape end-to-end with a KB that comes from a
    wikibase dump instead of the seed fixtures: dump -> importer ->
    engine alias adaptation -> assets -> annotate -> triples. Mentions
    resolve to the IMPORTED QIDs and distant supervision extracts the
    imported facts."""
    import json

    from pyspark.sql import functions as F

    from sling_spark.kg.pipeline import run_pipeline
    from sling_spark.sources.wikidata import engine_alias_rows, wikidata_items

    def entity(qid, label, aliases=(), claims=()):
        return json.dumps(
            {
                "id": qid,
                "labels": {"en": {"language": "en", "value": label}},
                "aliases": {"en": [{"language": "en", "value": a} for a in aliases]},
                "claims": {
                    pid: [{"mainsnak": {"datavalue": {
                        "type": "wikibase-entityid",
                        "value": {"id": obj}}}, "rank": "normal"}]
                    for pid, obj in claims
                },
            }
        )

    dump = spark.createDataFrame(
        [
            (entity("Q900", "Frobnicator", ["frob engine"], [("P1", "Q901")]),),
            (entity("Q901", "Quuxlib", ["quux"]),),
        ],
        "value string",
    )
    items, raw_aliases = wikidata_items(dump)
    empty_same_as = spark.createDataFrame(
        [],
        "id_a string, id_b string, priority_a int, priority_b int, redirect boolean",
    )
    empty_fragments = spark.createDataFrame(
        [], items.schema.add("source_priority", "integer")
    )
    seed = {
        "items": items,
        "aliases": engine_alias_rows(raw_aliases),
        "same_as": empty_same_as,
        "links": spark.createDataFrame([], "src string, dst string, count int"),
        "popularity": spark.createDataFrame([], "id string, count int"),
        "fragments": empty_fragments,
    }
    corpus = spark.createDataFrame(
        [
            ("r", "a.py", "c1", "python",
             "# the Frobnicator depends on Quuxlib for the core runtime\n"
             "# we use quux for parsing\n"),
            ("r", "b.py", "c2", "python",
             "# frob engine integration helpers live here\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    res = run_pipeline(spark, corpus=corpus, seed=seed)
    ents = {r["entity"] for r in res["mentions"].collect()}
    assert {"Q900", "Q901"} <= ents
    triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in res["triples"].filter(F.col("source") == "doc_relation").collect()
    }
    assert ("Q900", "P1", "Q901") in triples  # imported fact extracted
    kb_t = {
        (r["subj"], r["pred"], r["obj"])
        for r in res["triples"].filter(F.col("source") == "kb_statement").collect()
    }
    assert ("Q900", "P1", "Q901") in kb_t
    assert ("Q901", "P101", "Q900") in kb_t  # inverse-property emitted
