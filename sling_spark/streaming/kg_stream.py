"""Incremental KG construction over a streaming corpus.

The reference's incremental path is epoch-based: SLINGDB's DBNEXT
iteration + daily delta crawlers apply new record versions onto the KB
(sling/db/dbprotocol.h:27-147, python/crawl/wikidaily.py). The
Structured-Streaming analog: new corpus files (commits) arrive as
parquet drops; each micro-batch runs the SAME annotation UDF (the
pipeline's fused mention+relation pass) and appends new triples —
exactly-once via checkpointed file-source offsets + idempotent sinks.

Latest-commit semantics in a stream: replays/duplicates are dropped
with ``dropDuplicatesWithinWatermark`` on (repo, path, commit) over a
processing-time watermark — an UNWATERMARKED dropDuplicates would pin
every key ever seen in the state store forever (state grows with total
corpus size, not with in-flight data), which is unbounded on exactly
the long-running streams this module targets. Cross-batch dedup beyond
the horizon buys nothing anyway: the file source's checkpointed
offsets already guarantee committed batches never replay, and
last-writer-wins across versions is a compaction concern (run
`documents.latest_versions` on the materialized table, or MERGE in an
Iceberg deployment; see operators/upsert.py for the batch emulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kg.mentions import annotate, mentions_of, relations_of
from ..kg.relations import doc_triples

CORPUS_DDL = "repo string, path string, commit string, lang string, content string"


def read_corpus_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(CORPUS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def annotate_stream(
    corpus_stream: DataFrame, store, dedup_horizon: str = "24 hours"
) -> DataFrame:
    """Streaming corpus → streaming annotation rows. mapInPandas is a
    stateless narrow transform, so it composes with streaming unchanged —
    the same code path as the batch pipeline (tested for parity).

    Duplicate (repo, path, commit) rows arriving within
    ``dedup_horizon`` of each other are dropped with BOUNDED state
    (processing-time watermark); a duplicate arriving later than the
    horizon re-annotates and is absorbed by downstream compaction
    (module docstring)."""
    docs = (
        corpus_stream.withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["repo", "path", "commit"])
        .drop("_ingest_ts")
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
    )
    return annotate(docs, store)


def stream_triples(annotations: DataFrame) -> DataFrame:
    """Streaming annotation rows → appendable triple rows."""
    return doc_triples(relations_of(annotations))


def stream_mentions(annotations: DataFrame) -> DataFrame:
    return mentions_of(annotations)


def run_to_parquet(
    stream_df: DataFrame, out_path: str, checkpoint: str
):
    """Drain all available input into a parquet sink (exactly-once via
    the checkpointed source offsets + atomic file commits)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
