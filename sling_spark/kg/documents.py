"""Corpus ingest → tokenized ``documents`` table.

Reference semantics: wikipedia-document-builder turns raw article markup
into a document frame with text + tokens (sling/nlp/wiki/
wikipedia-documents.cc:46-424); tokens carry offsets, break level,
fingerprint and case form (sling/nlp/document/document.h:62-123). For our
source-code corpus, the tokenizer is ``functions.tokenize`` (line =
sentence unit).

Two layouts, one per kind of consumer:

- The PIPELINE path is ``latest_with_sha`` → ``doc_stats``: the raw
  latest-version rows (content + sha256, pure Catalyst) and, from ONE
  tokenize pass, the per-doc ``n_tokens`` and ``fp_unique`` (distinct
  token fingerprints > 1) that feed ``idf_table`` and the extraction
  metrics. The annotator re-tokenizes content in-process (measured on
  this corpus: token arrays cost ~2ms/doc in Arrow<->pandas conversion
  vs 0.8ms to simply re-tokenize — the fat intermediate loses).
- ``build_documents`` materializes the tokens as PARALLEL PRIMITIVE
  ARRAYS (t_word, t_fp, t_brk, t_form, t_begin, t_end) rather than an
  array<struct<...>> — Arrow converts primitive lists an order of
  magnitude faster than list-of-dict struct arrays — for consumers that
  need tokens as data (vocabulary, biaffine, bio, wordpiece).

Scale notes
-----------
- Latest-commit selection is ONE shuffle by (repo, path) — a group-wide
  argmax expressed as max_by so Catalyst plans a partial aggregation
  (map-side combine), not a window sort.
- Tokenization is an Arrow-batched mapInPandas; content is dropped after
  tokenizing (rows stay narrow; the sha256 lineage column preserves the
  per-row invariant from BASELINE.json).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

DOCUMENTS_TOKENS_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content_sha string, n_tokens int, fp_unique array<long>, "
    "t_begin array<int>, t_end array<int>, t_word array<string>, "
    "t_brk array<int>, t_fp array<long>, t_form array<int>"
)

TOKEN_COLS = ["t_begin", "t_end", "t_word", "t_brk", "t_fp", "t_form"]


def latest_versions(corpus: DataFrame) -> DataFrame:
    """Last-writer-wins per (repo, path): the reference orders messages by
    serial within key and keeps the newest (sling/task/sorter.cc:37-56,
    wikidata-importer.cc:100-147 revision tracking). Our serial is the
    lexicographically greatest commit hash (deterministic)."""
    return corpus.groupBy("repo", "path").agg(
        F.max("commit").alias("commit"),
        F.max_by("lang", "commit").alias("lang"),
        F.max_by("content", "commit").alias("content"),
    )


def latest_with_sha(corpus: DataFrame) -> DataFrame:
    """Raw document layout: latest version per (repo, path) + content
    sha256 — PURE Catalyst (no Python), so materializing it never ships
    content through Arrow. The pipeline reads this once for the stats
    pass and once for annotation; tokenization happens inside those
    consumers (content crosses into Python, never back out)."""
    return latest_versions(corpus).withColumn(
        "content_sha", F.sha2(F.col("content"), 256)
    )


DOC_STATS_SCHEMA = (
    "repo string, path string, commit string, n_tokens int, fp_unique array<long>"
)


def doc_stats(documents_raw: DataFrame) -> DataFrame:
    """Per-document token stats from ONE tokenize pass: content flows
    INTO Python only; the output rows are two orders of magnitude
    smaller than the corpus (the vocabulary-mapreduce input shape).
    Feeds idf_table (fp_unique) and extraction metrics (n_tokens)."""

    def tok(batches):
        import numpy as np

        from ..functions.tokenize import _TOKEN_RE, word_attrs

        for pdf in batches:
            data = {"repo": [], "path": [], "commit": [], "n_tokens": [],
                    "fp_unique": []}
            findall = _TOKEN_RE.findall
            for row in pdf.itertuples(index=False):
                # stats need only token COUNT and the distinct
                # fingerprint set: findall + the per-word attr cache
                # skip the offset/break bookkeeping of a full tokenize
                # (same regex, same per-word fp — token identity and
                # order are untouched, so n_tokens/fp_unique are
                # bit-identical; guide §1.2 per-task work)
                words = findall(row.content)
                fps = np.fromiter(
                    (word_attrs(w)[0] for w in words),
                    dtype=np.uint64, count=len(words),
                )
                uniq = np.unique(fps)  # sorted distinct
                data["repo"].append(row.repo)
                data["path"].append(row.path)
                data["commit"].append(row.commit)
                data["n_tokens"].append(len(fps))
                data["fp_unique"].append(uniq[uniq > 1].tolist())
            yield pd.DataFrame(data, columns=list(data))

    return documents_raw.select("repo", "path", "commit", "content").mapInPandas(
        tok, schema=DOC_STATS_SCHEMA
    )


def build_documents(corpus: DataFrame) -> DataFrame:
    """Tokenize the latest version of every file into the token-array
    layout: repo/path/commit/lang/content_sha/n_tokens/fp_unique plus the
    six parallel token arrays (content dropped)."""
    cols = ["repo", "path", "commit", "lang", "content_sha",
            "n_tokens", "fp_unique"] + TOKEN_COLS

    def tok(batches):
        for pdf in batches:
            # column-wise construction: one list per output column (a
            # list-of-dicts DataFrame costs ~3x in pandas)
            data = {c: [] for c in cols}
            for row in pdf.itertuples(index=False):
                toks = tokenize(row.content)
                data["repo"].append(row.repo)
                data["path"].append(row.path)
                data["commit"].append(row.commit)
                data["lang"].append(row.lang)
                data["content_sha"].append(row.content_sha)
                data["n_tokens"].append(len(toks))
                data["fp_unique"].append(sorted({t.fp for t in toks if t.fp > 1}))
                if toks:
                    tb, te, tw, tk, tf, tm = zip(
                        *((t.begin, t.end, t.word, t.brk, t.fp, t.form)
                          for t in toks)
                    )
                else:
                    tb = te = tw = tk = tf = tm = ()
                data["t_begin"].append(list(tb))
                data["t_end"].append(list(te))
                data["t_word"].append(list(tw))
                data["t_brk"].append(list(tk))
                data["t_fp"].append(list(tf))
                data["t_form"].append(list(tm))
            yield pd.DataFrame(data, columns=cols)

    return latest_with_sha(corpus).mapInPandas(tok, schema=DOCUMENTS_TOKENS_SCHEMA)


def idf_table(documents: DataFrame) -> DataFrame:
    """Document-frequency → IDF per token fingerprint.

    Reference semantics: vocabulary-mapper + idf-table-builder
    (sling/nlp/silver/idf.cc:39-226): df = #docs containing the word,
    idf = ln(N / df). Consumed by the common-word pruner
    (mentions.h:126).

    Plan: explode the PRE-DEDUPED fp_unique column → one hash agg with
    map-side combine. No per-doc distinct shuffle."""
    n_docs = documents.count()
    df_counts = (
        documents.select(F.explode("fp_unique").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("df"))
    )
    return df_counts.select(
        "fp",
        "df",
        F.log(F.lit(float(n_docs)) / F.col("df")).alias("idf"),
    )
