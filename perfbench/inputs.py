"""Seeded input generators. Every generator takes the workload seed; the
same seed gives the same inputs. They run during set-up only, so no
Python generation happens inside a timed region.

The corpus text itself is the repository's deterministic synthetic
corpus (``sources.corpus.corpus_df``): its content is a function of
``n_files`` alone, which is what lets ``oracle.kg_oracle`` score the
pipeline on it. The seed sets the table's physical layout (row order
and the split into files).
"""

from __future__ import annotations

import random

#: item-valued properties of generated KB items; P1/P3/P7 invert, so a
#: delta also regenerates inverse fragments on the objects it touches
ITEM_PIDS = ("P1", "P2", "P3", "P5", "P7")
GEN_BASE = 100_000  # generated item ids start above the seed KB's
N_FILES = 600       # corpus documents (build_bulk, corpus_dedup)
CORPUS_FILES = 4    # Parquet files the corpus table is split into
KB_ITEMS = 400      # generated KB items under delta maintenance
DELTA_BATCHES = 2   # chained delta batches
DELTA_ROWS = 100    # rows per delta batch
NEW_SHARE = 0.1     # share of delta rows that add a brand-new item
TOMBSTONE_SHARE = 0.1  # share of delta rows that delete an item
MIRROR_SHARE = 0.1  # share of dedup documents that get one mirror
COMPONENT = 40      # mirrors of the one document that forms a large component


def write_corpus(spark, path: str, seed: int) -> None:
    """Parquet corpus table ``(repo, path, commit, lang, content)``."""
    from pyspark.sql import functions as F

    from sling_spark.sources.corpus import corpus_df

    key = F.xxhash64(F.lit(seed), "repo", "path", "commit")
    (corpus_df(spark, N_FILES, partitions=CORPUS_FILES)
     .withColumn("_k", key)
     .repartition(CORPUS_FILES, F.pmod("_k", F.lit(CORPUS_FILES)))
     .sortWithinPartitions("_k")
     .drop("_k")
     .write.mode("overwrite").parquet(path))


# ---------------------------------------------------------------------------
# KB sources and delta batches
# ---------------------------------------------------------------------------


def _statements(rng: random.Random, ids: list[str]) -> list[dict]:
    out = []
    for _ in range(rng.randint(1, 4)):
        if rng.random() < 0.2:
            out.append({"pid": "P6", "qualifiers": {},
                        "object": f"{rng.randint(1990, 2024)}-{rng.randint(1, 12):02d}"})
        else:
            out.append({"pid": rng.choice(ITEM_PIDS), "object": rng.choice(ids),
                        "qualifiers": {}})
    return out


def kb_source_rows(seed: int) -> list[dict]:
    """Seed-KB source rows plus :data:`KB_ITEMS` generated items whose
    statements point at seed and generated items alike."""
    from sling_spark.kg.delta import seed_source_rows
    from sling_spark.sources import kb

    rng = random.Random(f"kb:{seed}")
    seed_ids = sorted(e["id"] for e in kb.entities())
    gen_ids = [f"Q{GEN_BASE + i}" for i in range(KB_ITEMS)]
    ids = seed_ids + gen_ids
    rows = seed_source_rows()
    for i, qid in enumerate(gen_ids):
        rows.append({"id": qid, "name": f"generated item {i}", "types": ["item"],
                     "statements": _statements(rng, ids), "source_priority": 0})
    return rows


def delta_batches(seed: int) -> list[list[dict]]:
    """Chained delta batches over :func:`kb_source_rows`: revisions of
    existing generated items, brand-new items, and tombstones. Keys are
    unique within a batch (one revision per key per epoch)."""
    from sling_spark.sources import kb

    rng = random.Random(f"delta:{seed}")
    ids = sorted(e["id"] for e in kb.entities()) + [
        f"Q{GEN_BASE + i}" for i in range(KB_ITEMS)]
    next_new = KB_ITEMS
    batches = []
    for _ in range(DELTA_BATCHES):
        rows: dict[str, dict] = {}
        while len(rows) < DELTA_ROWS:
            u = rng.random()
            if u < NEW_SHARE:
                qid = f"Q{GEN_BASE + next_new}"
                next_new += 1
                ids.append(qid)
            else:
                qid = f"Q{GEN_BASE + rng.randrange(KB_ITEMS)}"
            if qid in rows:
                continue
            dead = NEW_SHARE <= u < NEW_SHARE + TOMBSTONE_SHARE
            rows[qid] = {
                "id": qid, "source_priority": 0, "deleted": dead,
                "name": None if dead else f"revised item {qid}",
                "types": [] if dead else ["item"],
                "statements": [] if dead else _statements(rng, ids),
            }
        batches.append([rows[k] for k in sorted(rows)])
    return batches


# ---------------------------------------------------------------------------
# dedup corpus with planted mirrors
# ---------------------------------------------------------------------------


def plant_mirrors(texts: list[str],
                  seed: int) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """Rows ``(doc_id, text)`` = the input texts plus planted near
    duplicates, and the planted ``(original, mirror)`` id pairs.

    :data:`MIRROR_SHARE` of the documents get one mirror each (the
    original plus one appended line); one further document gets
    :data:`COMPONENT` mirrors, a single large near-duplicate component."""
    rng = random.Random(f"dedup:{seed}")
    rows = list(enumerate(texts))
    n = len(texts)
    picks = rng.sample(range(n), int(n * MIRROR_SHARE) + 1)
    hub, mirrored = picks[0], picks[1:]
    pairs = []
    next_id = n
    for i in mirrored:
        rows.append((next_id, texts[i] + f"# mirrored copy {rng.randrange(10**6)}\n"))
        pairs.append((i, next_id))
        next_id += 1
    for k in range(COMPONENT):
        rows.append((next_id, texts[hub] + f"# vendored copy {k} of {rng.randrange(10**6)}\n"))
        pairs.append((hub, next_id))
        next_id += 1
    return rows, pairs


# ---------------------------------------------------------------------------
# KB-serving request sequence
# ---------------------------------------------------------------------------

#: endpoint mix of the serving workload, per block of 10 requests
MIX = (("item", 4), ("query", 3), ("search", 2), ("stubs", 1))
REQUESTS = 4000  # length of the request sequence (cycled)


def request_sequence(ids: list[str], names: dict[str, str],
                     seed: int) -> list[tuple[str, str]]:
    """:data:`REQUESTS` requests ``(endpoint, path-with-query)``. ``ids`` are ordered
    by popularity, most popular first, and are picked Zipfian by that
    rank; queries are name prefixes and searches are name words of the
    picked item. Every block of 10 consecutive requests holds the
    :data:`MIX` exactly, in seeded order, so a short run sees the same
    endpoint mix as a long one."""
    from urllib.parse import quote

    rng = random.Random(f"serve:{seed}")
    weights = [1.0 / (r + 1) for r in range(len(ids))]
    block = [k for k, count in MIX for _ in range(count)]

    def pick() -> str:
        return rng.choices(ids, weights)[0]

    out = []
    kinds: list[str] = []
    for _ in range(REQUESTS):
        if not kinds:
            kinds = rng.sample(block, len(block))
        kind = kinds.pop()
        qid = pick()
        name = names.get(qid) or qid
        if kind == "item":
            out.append((kind, f"/kb/item?id={quote(qid)}"))
        elif kind == "query":
            cut = rng.randint(2, max(2, min(len(name), 8)))
            out.append((kind, f"/kb/query?q={quote(name[:cut].lower())}&limit=10"))
        elif kind == "search":
            words = name.split()
            q = " ".join(rng.sample(words, min(len(words), rng.randint(1, 2))))
            out.append((kind, f"/kb/search?q={quote(q)}&limit=10"))
        else:
            batch = sorted({pick() for _ in range(rng.randint(2, 6))})
            out.append((kind, f"/kb/stubs?ids={quote(','.join(batch))}"))
    return out
