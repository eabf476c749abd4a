"""KB serving layer: spark.sql over materialized pipeline outputs."""

from __future__ import annotations

from sling_spark import serving
from sling_spark.kg.assets import seed_dataframes
from sling_spark.kg.phrase_table import build_name_table, select_aliases
from sling_spark.kg.pipeline import run_pipeline
from sling_spark.sources.corpus import corpus_df


def test_serving_lookups(spark):
    res = run_pipeline(spark, corpus_df(spark, 40))
    seed = seed_dataframes(spark)
    selected = select_aliases(seed["aliases"])
    serving.register_views(
        spark,
        {
            "kb_items": res["kb_items"],
            "triples": res["triples"],
            "phrase_table": res["phrase_table"],
            "name_table": build_name_table(selected),
        },
    )
    item = serving.get_item(spark, "Q1").collect()
    assert len(item) == 1 and item[0]["name"] == "Apache Spark"

    facts = serving.item_facts(spark, "Q1").collect()
    assert {(r["pred"], r["obj"]) for r in facts} >= {("P2", "Q15"), ("P4", "Q60")}

    hits = serving.phrase_lookup(spark, "spark").collect()
    assert [h["entity"] for h in hits][0] == "Q1"  # count-ordered
    assert {h["entity"] for h in hits} == {"Q1", "Q33"}

    names = serving.name_search(spark, "apache s").collect()
    assert any(r["entity"] == "Q1" for r in names)

    top = serving.subject_triples_sql(spark).collect()
    assert top[0]["n_triples"] >= top[-1]["n_triples"]


def test_render_document_lex_and_html(spark):
    from sling_spark import serving
    from sling_spark.kg.pipeline import run_pipeline

    res = run_pipeline(spark, corpus_df(spark, 30))
    serving.register_views(
        spark, {"documents": res["documents"], "mentions": res["mentions"]}
    )
    target = spark.sql(
        "SELECT m.repo, m.path FROM mentions m GROUP BY 1, 2 ORDER BY count(*) DESC, 1, 2 LIMIT 1"
    ).first()
    lex = serving.render_document(spark, target["repo"], target["path"]).first()
    assert "[" in lex["lex"] and "|Q" in lex["lex"]
    html = serving.render_document(
        spark, target["repo"], target["path"], format="html"
    ).first()
    assert '<a ref="Q' in html["html"] and "</a>" in html["html"]


def test_term_search(spark):
    from sling_spark.kg.aggregates import search_index
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.serving import register_views, term_search

    seed = seed_dataframes(spark)
    register_views(spark, {"search_index": search_index(seed["aliases"], seed["items"])})
    # multi-term AND: both terms must hit; Apache Spark ranks by rarity
    got = [r["entity"] for r in term_search(spark, "apache spark").collect()]
    assert got and got[0] == "Q1"
    # year term from a date statement finds the released item
    years = {r["entity"] for r in term_search(spark, "2014").collect()}
    assert "Q1" in years
    assert term_search(spark, "").count() == 0
    # repeated query words must not raise the AND count: "spark spark"
    # is the same AND as "spark" (ADVICE r02 — IN matches each index row
    # once regardless of duplicates)
    once = {r["entity"] for r in term_search(spark, "apache spark").collect()}
    dup = {r["entity"] for r in term_search(spark, "apache spark spark").collect()}
    assert dup == once and "Q1" in dup


def test_term_search_tokenizes_like_the_index(spark):
    """The query is split with the index builder's [^a-z0-9]+ rule, so
    punctuated queries ('apache-spark', 'apache/spark?') match the
    indexed alphanumeric-run terms instead of AND-ing to nothing."""
    from sling_spark.kg.aggregates import search_index
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.serving import register_views, term_search

    seed = seed_dataframes(spark)
    register_views(
        spark, {"search_index": search_index(seed["aliases"], seed["items"])}
    )
    plain = {r["entity"] for r in term_search(spark, "apache spark").collect()}
    assert plain  # sanity: the two-term AND has hits
    for q in ("apache-spark", "apache/spark?", "Apache, Spark."):
        got = {r["entity"] for r in term_search(spark, q).collect()}
        assert got == plain, q


def test_name_search_prefix_is_literal(spark):
    """'_' and '%' in the prefix are characters, not SQL wildcards: a
    bare '_' must not return every name in the table."""
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.phrase_table import build_name_table, select_aliases
    from sling_spark import serving

    seed = seed_dataframes(spark)
    nt = build_name_table(select_aliases(seed["aliases"]))
    serving.register_views(spark, {"name_table": nt})
    assert serving.name_search(spark, "_", limit=100).count() == 0
    assert serving.name_search(spark, "%", limit=100).count() == 0
    # normal prefixes unchanged
    assert serving.name_search(spark, "apache s").count() >= 1
