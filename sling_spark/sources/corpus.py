"""Deterministic synthetic source-code corpus.

Produces the exact input shape demanded by BASELINE.json's input_hint:
``(repo: string, path: string, commit: string, lang: string,
content: string)`` — the stand-in for an Iceberg table of source-code
repositories at 10^12-file scale. Generation is pure and per-file
deterministic (seeded from blake2(repo/path)), so any scale factor can be
regenerated identically on any executor — rows are generated *inside*
Spark partitions via mapInPandas, never collected on the driver.

Skew is deliberate: repo sizes are Zipfian (FIXTURES.md §1 "a few repos
hold ~50% of rows"), which is what the salted-repartition path and AQE
skew handling are tested against.

A small fraction of files carries TWO commits (version 0 and 1) to
exercise last-writer-wins semantics (the reference orders messages by
serial within key — sling/task/sorter.cc:37-56).
"""

from __future__ import annotations

import hashlib
import random
from functools import lru_cache

from . import kb

LANGS = ["python", "java", "go", "js", "md"]

_COMMENT = {"python": "#", "java": "//", "go": "//", "js": "//", "md": ""}

# sentence templates per property (relation-extraction opportunities):
# both the subject and object alias appear in ONE line (= one sentence
# unit), which is the relations annotator's window (relations.cc:70-188).
_REL_TEMPLATES = {
    "P1": ["{s} depends on {o} for the core runtime",
           "{s} builds on top of {o} internals",
           "note that {s} requires {o} at runtime"],
    "P2": ["{s} is written in {o} for speed",
           "the {s} engine is implemented in {o}"],
    "P3": ["{s} is developed by {o} engineers",
           "{s} is maintained by the {o} team"],
    "P4": ["{s} is licensed under the {o} terms",
           "{s} ships under {o}"],
    "P5": ["{s} reads and writes {o} files natively",
           "{s} uses {o} as its storage format"],
    "P7": ["{s} created {o} back in the day",
           "{o} was originally created by {s}"],
    # literal-valued: the object is the P6 date itself (exercises the
    # date-span annotators + literal relation targets, mentions.h:349)
    "P6": ["{s} was released on {o}",
           "{s} first shipped {o}"],
}

_SINGLE_TEMPLATES = [
    "we use {s} for the data processing layer",
    "this module wraps the {s} client",
    "benchmark harness for {s} workloads",
    "{s} integration helpers live here",
]

# pronoun-relation sentences: subject is an anaphor resolving to a
# gender-agreeing prior mention (exercises the anaphora annotator,
# sling/nlp/silver/anaphora.cc gender agreement — "it" matches
# genderless entities, "he"/"she" match P21-gendered persons)
_PRONOUN_TEMPLATES = {
    "P1": "it depends on {o} at runtime",
    "P2": "it is written in {o}",
    "P3": "it is maintained by {o}",
    "P4": "it is licensed under {o}",
    "P5": "it stores data as {o}",
}
_PERSON_PRONOUN_TEMPLATES = {
    1: "he created {o} back in the day",  # G_MASC
    2: "she created {o} back in the day",  # G_FEM
}
_PERSON_SINGLE_TEMPLATES = [
    "original design notes by {s} are kept here",
    "this approach follows the {s} memo",
]

_NOISE = [
    "load the configuration from the environment",
    "retry with exponential backoff on transient failures",
    "validate the request payload before dispatch",
    "emit metrics to the local collector",
    "cache results keyed by the request digest",
    "rotate the log files once per day",
    # numeric / measure sentences (number + measure span annotators)
    "the ring buffer holds 4096 entries by default",
    "hard timeout is 2.5 sec per attempt",
    "payloads are capped at 64 kb on ingest",
    "retry after 250 ms on connection reset",
    # spelled + scaled numbers (SpelledNumber/NumberScale annotators)
    "spin up one hundred workers at startup",
    "the pool preallocates 3 million rows",
    "backlog drains at two thousand items per tick",
    # decade / century textual date forms (DateAnnotator coarse dates,
    # calendar.cc ParseFromNumber star-notation analogs)
    "this wire format dates back to the 1990s",
    "hash folding tricks from the 19th century still apply",
]

#: textual renderings of date literals (month-name date forms — the
#: DateAnnotator resolves these through the calendar month inventory)
_MONTH_NAMES = ["January", "February", "March", "April", "May", "June",
                "July", "August", "September", "October", "November",
                "December"]


#: capitalized abbreviated forms (month_of_word's capitalized-only rule)
_MONTH_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
               "Sep", "Oct", "Nov", "Dec"]


def _render_date(rng: random.Random, iso: str) -> str:
    """Pick a surface form for an ISO date literal: day-precision dates
    render as ISO, 'May 14, 1984', '14 May 1984' or the abbreviated
    'May 14, 1984' form ('Jan 5, 2020'); month-precision as ISO,
    'May 1984' or 'Sep 2016'. The annotator must recover the SAME
    normalized value from every form (so distant supervision still
    matches the P6 fact object exactly)."""
    parts = iso.split("-")
    if len(parts) == 3 and parts[1].isdigit():
        y, m, d = parts
        form = rng.randrange(4)
        if form == 1:
            return f"{_MONTH_NAMES[int(m) - 1]} {int(d)}, {y}"
        if form == 2:
            return f"{int(d)} {_MONTH_NAMES[int(m) - 1]} {y}"
        if form == 3:
            return f"{_MONTH_ABBR[int(m) - 1]} {int(d)}, {y}"
    elif len(parts) == 2 and parts[1].isdigit():
        y, m = parts
        form = rng.randrange(3)
        if form == 1:
            return f"{_MONTH_NAMES[int(m) - 1]} {y}"
        if form == 2:
            return f"{_MONTH_ABBR[int(m) - 1]} {y}"
    return iso

_IDENTS = ["handler", "worker", "cursor", "buffer", "router", "codec",
           "planner", "scheduler", "broker", "registry", "sampler", "probe"]

# abbreviation fixture: org with a multiword alias and no short alias
_ABBREV_ORG = ("Q54", "Free Software Infrastructure Group", "FSIG")


def _seed(repo: str, path: str, version: int) -> int:
    h = hashlib.blake2b(f"{repo}/{path}@{version}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big")


def commit_hex(repo: str, path: str, version: int) -> str:
    return hashlib.blake2b(
        f"{repo}/{path}#commit{version}".encode(), digest_size=20
    ).hexdigest()


# precomputed weighted-alias sampling support (module-level constants,
# shared by all workers; cheap to rebuild per process)
_ENTITY_ALIASES: dict[str, list[tuple[str, int]]] = {
    e[0]: list(e[3]) for e in kb._E if e[3]  # alias-less items (gender
}                                            # values) are not mentionable
_FACTS = {qid: sorted(facts) for qid, facts in kb.facts_lookup().items()}
_REL_SUBJECTS = [qid for qid in sorted(_FACTS)
                 if any(p not in kb.BLOCKED_PROPERTIES for p, _ in _FACTS[qid])
                 and qid in _ENTITY_ALIASES]
_GENDER = kb.gender_lookup()
# only persons with a pronoun template (masc/fem): gender_lookup can
# return 0 (unknown) for a P21 that is neither Q91 nor Q92, and the
# kind==8 branch below indexes _PERSON_PRONOUN_TEMPLATES by the code
_PERSONS = sorted(
    qid for qid in _GENDER
    if qid in _ENTITY_ALIASES and _GENDER[qid] in _PERSON_PRONOUN_TEMPLATES
)
_ABBREV_PROJECTS = sorted(
    qid for qid in _REL_SUBJECTS if ("P3", _ABBREV_ORG[0]) in _FACTS.get(qid, ())
)


def _pick_alias(rng: random.Random, qid: str) -> str:
    aliases = _ENTITY_ALIASES[qid]
    total = sum(c for _t, c in aliases)
    x = rng.randrange(total)
    for text, c in aliases:
        x -= c
        if x < 0:
            return text
    return aliases[0][0]


@lru_cache(maxsize=8)
def _harmonic_cdf(n_repos: int) -> list[float]:
    """Cumulative 1/(r+1) weight distribution, cached per corpus size —
    the per-file assignment below was an O(n_repos) Python loop per call
    (0.33 ms/file at 200k files = 66 CPU-seconds per full generation).
    Accumulated in exactly the original sequential float order so every
    previously generated corpus byte stays identical."""
    hn = sum(1.0 / (r + 1) for r in range(n_repos))
    acc = 0.0
    cdf = []
    for r in range(n_repos):
        acc += (1.0 / (r + 1)) / hn
        cdf.append(acc)
    return cdf


def repo_of_file(i: int, n_repos: int) -> int:
    """Zipf-ish repo assignment: file i goes to repo floor(sqrt) style.
    Deterministic, order-free; repo 0 gets ~ n/H share, heavy head."""
    # inverse-CDF of 1/(r+1) weights via a fixed hash draw
    h = int.from_bytes(hashlib.blake2b(f"file{i}".encode(), digest_size=8).digest(), "big")
    u = (h % 10**9) / 10**9
    from bisect import bisect_left

    r = bisect_left(_harmonic_cdf(n_repos), u)
    return min(r, n_repos - 1)


def file_spec(i: int, n_files: int) -> tuple[str, str, str, list[int]]:
    """(repo, path, lang, versions) for file index i."""
    n_repos = max(3, n_files // 40)
    r = repo_of_file(i, n_repos)
    repo = f"org/proj{r}"
    lang = LANGS[i % len(LANGS)]
    ext = {"python": "py", "java": "java", "go": "go", "js": "js", "md": "md"}[lang]
    path = f"src/mod{i % 97}/file{i}.{ext}"
    versions = [0, 1] if i % 20 == 7 else [0]  # 5% of files have 2 commits
    return repo, path, lang, versions


def generate_content(repo: str, path: str, lang: str, version: int) -> str:
    """Deterministic file body: comment sentences carrying entity
    mentions + code-ish filler lines."""
    rng = random.Random(_seed(repo, path, version))
    c = _COMMENT[lang]
    lines: list[str] = []

    def comment(text: str) -> None:
        lines.append(f"{c} {text}".strip())

    n_sent = rng.randint(6, 16)
    primed: list[str] = []  # entities already mentioned (context priming)
    for _ in range(n_sent):
        kind = rng.randrange(10)
        if kind < 5:  # relation sentence
            s = rng.choice(_REL_SUBJECTS)
            stmts = [st for st in _FACTS[s] if st[0] not in kb.BLOCKED_PROPERTIES]
            pid, obj = rng.choice(stmts)
            tpl = rng.choice(_REL_TEMPLATES[pid])
            # literal objects (P6 dates) render in a rotated surface
            # form (ISO / month-name) — there is no alias for a date;
            # the date-span annotators must recover the normalized value
            o_text = (
                _pick_alias(rng, obj) if obj in _ENTITY_ALIASES
                else _render_date(rng, obj)
            )
            comment(tpl.format(s=_pick_alias(rng, s), o=o_text))
            primed.extend([s, obj])
        elif kind < 7:  # single-mention sentence
            s = rng.choice(list(_ENTITY_ALIASES))
            comment(rng.choice(_SINGLE_TEMPLATES).format(s=_pick_alias(rng, s)))
            primed.append(s)
        elif kind < 8 and primed:  # pronoun relation about a primed entity
            s = primed[-1]
            stmts = [st for st in _FACTS.get(s, ())
                     if st[0] not in kb.BLOCKED_PROPERTIES and st[0] in _PRONOUN_TEMPLATES]
            if stmts:
                pid, obj = rng.choice(stmts)
                comment(_PRONOUN_TEMPLATES[pid].format(o=_pick_alias(rng, obj)))
            else:
                comment(rng.choice(_NOISE))
        elif kind == 8:  # gendered person mention + he/she pronoun relation
            p = rng.choice(_PERSONS)
            comment(rng.choice(_PERSON_SINGLE_TEMPLATES).format(s=_pick_alias(rng, p)))
            created = sorted(o for pid, o in _FACTS.get(p, ()) if pid == "P7")
            if created:
                o = rng.choice(created)
                comment(
                    _PERSON_PRONOUN_TEMPLATES[_GENDER[p]].format(o=_pick_alias(rng, o))
                )
            primed.append(p)
        elif kind == 9 and rng.randrange(2) == 0:
            # abbreviation definition + later USE of the abbreviation as
            # a relation target (AbbreviationAnnotator exercise): the
            # short form is NOT a KB alias — only the doc-level
            # abbreviation map can resolve it
            qid, alias, abbr = _ABBREV_ORG
            comment(f"the {alias} ( {abbr} ) stewards several projects")
            if _ABBREV_PROJECTS and rng.randrange(2) == 0:
                p = rng.choice(_ABBREV_PROJECTS)
                comment(f"{_pick_alias(rng, p)} is developed by {abbr}")
            primed.append(qid)
        else:
            comment(rng.choice(_NOISE))
        # filler code line between comments
        if rng.randrange(3) == 0:
            a, b = rng.choice(_IDENTS), rng.choice(_IDENTS)
            if lang == "python":
                lines.append(f"def {a}_{b}(x):")
                lines.append(f"    return {b}(x) + {version}")
            elif lang == "md":
                lines.append("")
                lines.append(f"## {a} {b}")
            else:
                lines.append(f"function {a}_{b}(x) {{ return {b}(x) + {version}; }}"
                             if lang == "js" else f"int {a}_{b}(int x) {{ return x + {version}; }}")
    # pad to ~1-4 KB with noise comments. The size check keeps a running
    # total instead of re-summing every line each iteration (that was
    # O(lines²) per document — measurable across 10^5-file corpus
    # generations); the rng draw order is UNCHANGED (one randint per
    # check, exactly as before), so every corpus byte stays identical.
    total = sum(len(ln) + 1 for ln in lines)
    while total < rng.randint(900, 3500):
        comment(rng.choice(_NOISE) + f" ({rng.randrange(1000)})")
        total += len(lines[-1]) + 1
    return "\n".join(lines) + "\n"


def corpus_rows(n_files: int, lo: int = 0, hi: int | None = None):
    """Yield corpus dict rows for file indices [lo, hi) — callable inside
    a Spark partition (mapInPandas) for distributed generation."""
    hi = n_files if hi is None else hi
    for i in range(lo, min(hi, n_files)):
        repo, path, lang, versions = file_spec(i, n_files)
        for v in versions:
            yield {
                "repo": repo,
                "path": path,
                "commit": commit_hex(repo, path, v),
                "lang": lang,
                "content": generate_content(repo, path, lang, v),
            }


def corpus_df(spark, n_files: int, partitions: int | None = None):
    """Distributed corpus DataFrame: an index range partitioned by Spark,
    content generated inside each partition (no driver materialization —
    this is how a 10^12-row table would be synthesized/read too)."""
    import pandas as pd
    from pyspark.sql import functions as F

    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    idx = spark.range(0, n_files, 1, partitions).select(F.col("id").cast("long"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                rows.extend(corpus_rows(n_files, int(i), int(i) + 1))
            yield pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )

    schema = "repo string, path string, commit string, lang string, content string"
    return idx.mapInPandas(gen, schema=schema)
