"""Pure-Python oracle for the KG pipeline.

An INDEPENDENT single-threaded implementation of the reference semantics
(resolver scoring, span-chart DP, relation constraints, xref union-find,
statement merge) used as the correctness fixture for the Spark pipeline
(SURVEY.md §5). It shares ONLY the scalar modules (tokenize / normalize /
fingerprint) and the deterministic input generators with the pipeline —
the dataflow (grouping, ordering, joins, dedup, clustering) is written
separately, so divergence between the two flags real bugs in either.

Float determinism: both implementations compute resolver scores with the
same scalar arithmetic in the same order, so scores match bit-for-bit
and argmax tie-breaks agree.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from functools import lru_cache

from ..functions.dates import month_of_word
from ..functions.fingerprint import FP_SKIPPED, fingerprint_cat
from ..functions.normalize import CASE_NONE, normalize_phrase
from ..functions.numbers import (
    SCALES,
    SPELLED,
    is_year,
    parse_number_format,
    scale_value,
)
from ..functions.tokenize import sentences, tokenize
from ..kg.mentions import (
    ANAPHORA_WINDOW,
    BASE_CONTEXT,
    CASE_PENALTY,
    DEFAULT_MAX_SPAN,
    DEFAULT_MIN_IDF,
    LOCAL_BOOST,
    MENTION_WEIGHT,
    PRONOUN_GENDER,
    SPAN_COST,
    TOKEN_SKIP_COST,
)
from ..kg.xref import _edge_sort_key, display_id, id_priority, is_main, normalize_id
from ..sources import kb
from ..sources.corpus import corpus_rows

_DATE_RE = re.compile(r"^\d{4}(-\d{2})?(-\d{2})?$")


# ---------------------------------------------------------------------------
# corpus → documents
# ---------------------------------------------------------------------------


def latest_corpus(n_files: int) -> list[dict]:
    by_key: dict[tuple[str, str], dict] = {}
    for row in corpus_rows(n_files):
        key = (row["repo"], row["path"])
        cur = by_key.get(key)
        if cur is None or row["commit"] > cur["commit"]:
            by_key[key] = row
    out = []
    for row in by_key.values():
        row = dict(row)
        row["content_sha"] = hashlib.sha256(row["content"].encode()).hexdigest()
        row["tokens"] = tokenize(row["content"])
        out.append(row)
    out.sort(key=lambda r: (r["repo"], r["path"]))
    return out


# ---------------------------------------------------------------------------
# aliases → phrase table (independent re-implementation of selection)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str, limit: int = 1) -> int:
    if a == b:
        return 0
    if abs(len(a) - len(b)) > limit:
        return limit + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > limit:
            return limit + 1
        prev = cur
    return prev[-1]


def _prefix_len(a: str, b: str) -> int:
    n = 0
    for x, y in zip(a, b):
        if x != y:
            break
        n += 1
    return n


def _digits_match(a: str, b: str) -> bool:
    m = 0
    for ch in a:
        if ch.isdigit():
            ok = False
            while m < len(b):
                c = b[m]
                m += 1
                if c == ch:
                    ok = True
                    break
            if not ok:
                return False
    while m < len(b):
        if b[m].isdigit():
            return False
        m += 1
    return True


def select_alias_rows(
    rows: list[dict],
    anchor_threshold: int = 100,
    majority_form_fraction: float = 0.75,
    min_prefix: int = 2,
    max_edit_distance: int = 1,
) -> list[dict]:
    """Independent twin of phrase_table.select_aliases (AliasSelector,
    aliases.cc:246-624): fingerprint grouping, trusted/anchor selection,
    variation pass, majority case form."""
    by_entity: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_entity[r["entity"]].append(dict(r))
    out: list[dict] = []
    for entity in sorted(by_entity):
        groups: dict[int, dict] = {}
        for r in by_entity[entity]:
            g = groups.setdefault(
                r["fp"],
                {"variants": defaultdict(int), "forms": [0] * 4,
                 "sources": 0, "count": 0},
            )
            g["count"] += r["count"]
            g["variants"][r["alias"]] += r["count"]
            g["forms"][r["form"]] += r["count"]
            g["sources"] |= r["sources"]
        for g in groups.values():
            g["name"] = min(g["variants"], key=lambda a: (-g["variants"][a], a))
            g["norm"] = normalize_phrase(g["name"])
            g["selected"] = bool(g["sources"] & 3) or (
                bool(g["sources"] & 4) and g["count"] >= anchor_threshold
            )
        if max_edit_distance > 0:
            for fp in sorted(groups):
                g = groups[fp]
                if g["selected"]:
                    continue
                for ofp in sorted(groups):
                    a = groups[ofp]
                    if not a["selected"] or a["sources"] & 8:
                        continue
                    if _prefix_len(g["norm"], a["norm"]) < min_prefix:
                        continue
                    if _lev(g["norm"], a["norm"], max_edit_distance) > max_edit_distance:
                        continue
                    if not _digits_match(g["norm"], a["norm"]):
                        continue
                    g["selected"] = True
                    g["sources"] |= 8
                    break
        for fp in sorted(groups):
            g = groups[fp]
            if not g["selected"] or not g["name"]:
                continue
            form = CASE_NONE
            for f in range(4):
                if g["forms"][f] >= g["count"] * majority_form_fraction:
                    form = f
                    break
            out.append(
                {
                    "entity": entity,
                    "alias": g["name"],
                    "fp": fp,
                    "count": g["count"],
                    "form": form,
                    "sources": g["sources"],
                    "reliable": bool(g["sources"] & 3),
                }
            )
    return out


def build_phrase_table(anchor_threshold: int = 2) -> dict[int, list[tuple]]:
    """Lock-step with the pipeline's asset build: selection runs with
    the SAME anchor threshold the pipeline uses (assets.MIN_ALIAS_COUNT
    = 2 — select_alias_rows' own default of 100 is the
    bootstrap-round setting) and an entry's reliable flag is the OR of
    its selected rows' trusted bits, not hardcoded True — hardcoding
    was invisible only because every fixture alias is trusted."""
    selected = select_alias_rows(
        kb.alias_rows(), anchor_threshold=anchor_threshold
    )
    # group by (fp, entity): one row per pair after selection
    per = defaultdict(
        lambda: {"count": 0, "form": None, "best": -1, "reliable": False}
    )
    for s in selected:
        slot = per[(s["fp"], s["entity"])]
        slot["count"] += s["count"]
        slot["reliable"] = slot["reliable"] or s["reliable"]
        if s["count"] > slot["best"]:
            slot["best"] = s["count"]
            slot["form"] = s["form"]
    table: dict[int, list[tuple]] = defaultdict(list)
    for (fp, entity), slot in per.items():
        table[fp].append((entity, slot["count"], slot["form"], slot["reliable"]))
    for fp in table:
        table[fp].sort(key=lambda t: (-t[1], t[0]))
    return dict(table)


_ABBR_SKIP = {"-", "&", "of", "for", "and", "the", "in",
              "ltd", "inc", "corp", "llc", "gmbh"}


def _abbrev_scan(toks, sb, se, phrase_table, abbrev_map):
    """Independent twin of the abbreviation annotator: PHRASE ( ABBR )
    initials matching with skip-words and sub-abbreviations; records
    the doc-level abbreviation map and returns extra chart candidates
    (sentence-relative (end -> (b, fp, CASE_NONE, '')))."""
    extra = []
    for b in range(sb, se - 3):
        if toks[b + 1].word != "(" or toks[b + 3].word != ")":
            continue
        ab = toks[b + 2].word
        if toks[b + 2].form != 2:
            continue
        letters = [c for c in ab.upper() if c.isalpha()]
        if len(letters) < 2:
            continue
        l, i = len(letters) - 1, b
        while l >= 0 and i >= sb:
            w = toks[i].word
            if w and w[0].upper() == letters[l]:
                l -= 1
                i -= 1
                continue
            if w.lower() in _ABBR_SKIP:
                i -= 1
                continue
            if toks[i].form == 2:
                sub = [c for c in w.upper() if c.isalpha()]
                start = l + 1 - len(sub)
                if start >= 0 and letters[start : l + 1] == sub:
                    l -= len(sub)
                    i -= 1
                    continue
            break
        if l >= 0:
            continue
        pb, pe = i + 1, b + 1
        pfp = 0
        for k in range(pb, pe):
            if toks[k].fp == FP_SKIPPED:
                continue
            pfp = toks[k].fp if pfp == 0 else fingerprint_cat(pfp, toks[k].fp)
        if pfp == 0:
            continue
        abbrev_map[ab] = pfp
        if pfp in phrase_table:
            extra.append((pe - sb, (pb - sb, pfp, CASE_NONE, "")))
    if abbrev_map:
        for i in range(sb, se):
            pfp = abbrev_map.get(toks[i].word)
            if pfp is not None and pfp in phrase_table:
                extra.append((i - sb + 1, (i - sb, pfp, CASE_NONE, "")))
    return extra


def build_idf(docs: list[dict]) -> dict[int, float]:
    n = len(docs)
    df: dict[int, int] = defaultdict(int)
    for d in docs:
        for fp in {t.fp for t in d["tokens"] if t.fp > 1}:
            df[fp] += 1
    return {fp: math.log(float(n) / c) for fp, c in df.items()}


# ---------------------------------------------------------------------------
# mention detection + resolution (independent implementation)
# ---------------------------------------------------------------------------


def annotate(
    docs: list[dict],
    phrase_table: dict[int, list[tuple]],
    idf: dict[int, float],
    popularity: dict[str, int],
    links: dict[str, list[tuple[str, int]]],
    min_idf: float = DEFAULT_MIN_IDF,
    max_span: int = DEFAULT_MAX_SPAN,
) -> list[dict]:
    gender = kb.gender_lookup()  # anaphora agreement (anaphora.cc:178-190)
    num_re = re.compile(r"\d+(\.\d+)?\Z")
    mentions: list[dict] = []
    for d in docs:
        toks = d["tokens"]
        context: dict[str, float] = {}
        seen: set[str] = set()
        doc_mentions: list[dict] = []  # anaphora never crosses documents
        abbrev_map: dict[str, int] = {}
        for s_idx, (sb, se) in enumerate(sentences(toks)):
            n = se - sb
            # enumerate candidate spans
            ends: dict[int, list[tuple[int, int, int, str]]] = defaultdict(list)
            for b in range(n):
                if toks[sb + b].fp == FP_SKIPPED:
                    continue
                fp = 0
                words, forms = [], []
                for l in range(1, min(max_span, n - b) + 1):
                    t = toks[sb + b + l - 1]
                    words.append(t.word)
                    forms.append(t.form)
                    if t.fp == FP_SKIPPED:
                        continue
                    fp = t.fp if fp == 0 else fingerprint_cat(fp, t.fp)
                    if fp not in phrase_table:
                        continue
                    if l == 1 and words[0].islower():
                        v = idf.get(t.fp)
                        if v is not None and v < min_idf:
                            continue
                    alpha = [
                        f for f, w in zip(forms, words) if any(c.isalpha() for c in w)
                    ]
                    if not alpha:
                        form = CASE_NONE
                    elif all(f == alpha[0] for f in alpha):
                        form = alpha[0]
                    else:
                        form = CASE_NONE
                    ends[b + l].append((b, fp, form, ""))
            # literal spans: dates / numbers / measures / spelled /
            # scaled numbers (mentions.h:256-391)
            for b in range(n):
                w = toks[sb + b].word
                if not num_re.match(w):
                    # month-led date forms (calendar month inventory):
                    # MONTH DD , YYYY | MONTH YYYY
                    mi = month_of_word(w)
                    if mi is not None and b + 1 < n and toks[sb + b + 1].brk <= 1:
                        t1, t2 = toks[sb + b + 1], (
                            toks[sb + b + 3] if b + 3 < n else None
                        )
                        if (
                            t2 is not None
                            and t1.word.isdigit()
                            and len(t1.word) <= 2
                            and 1 <= int(t1.word) <= 31
                            and toks[sb + b + 2].word == ","
                            and toks[sb + b + 2].brk == 0
                            and t2.brk <= 1
                            and len(t2.word) == 4
                            and t2.word.isdigit()
                        ):
                            ends[b + 4].append(
                                (b, 0, CASE_NONE,
                                 f"{t2.word}-{mi:02d}-{int(t1.word):02d}")
                            )
                        elif len(t1.word) == 4 and t1.word.isdigit():
                            ends[b + 2].append(
                                (b, 0, CASE_NONE, f"{t1.word}-{mi:02d}")
                            )
                    sv = SPELLED.get(w.lower())
                    if sv is not None:
                        ends[b + 1].append((b, 0, CASE_NONE, str(sv)))
                        if b + 1 < n and toks[sb + b + 1].brk <= 1:
                            sc = SCALES.get(toks[sb + b + 1].word.lower())
                            if sc is not None:
                                ends[b + 2].append(
                                    (b, 0, CASE_NONE, scale_value(sv, sc))
                                )
                    continue
                v = parse_number_format(w)
                if v is None:
                    continue
                y4 = len(w) == 4 and w.isdigit()

                def tok(k):
                    return toks[sb + b + k]

                if (
                    y4
                    and b + 2 < n
                    and tok(1).word == "-"
                    and tok(1).brk == 0
                    and tok(2).brk == 0
                    and len(tok(2).word) == 2
                    and tok(2).word.isdigit()
                    and 1 <= int(tok(2).word) <= 12
                ):
                    if (
                        b + 4 < n
                        and tok(3).word == "-"
                        and tok(3).brk == 0
                        and tok(4).brk == 0
                        and len(tok(4).word) == 2
                        and tok(4).word.isdigit()
                        and 1 <= int(tok(4).word) <= 31
                    ):
                        ends[b + 5].append(
                            (b, 0, CASE_NONE, f"{w}-{tok(2).word}-{tok(4).word}")
                        )
                    else:
                        ends[b + 3].append((b, 0, CASE_NONE, f"{w}-{tok(2).word}"))
                # DD MONTH YYYY (day-first month-name date)
                if (
                    len(w) <= 2
                    and w.isdigit()
                    and 1 <= int(w) <= 31
                    and b + 2 < n
                    and tok(1).brk <= 1
                    and tok(2).brk <= 1
                    and month_of_word(tok(1).word) is not None
                    and len(tok(2).word) == 4
                    and tok(2).word.isdigit()
                ):
                    ends[b + 3].append(
                        (b, 0, CASE_NONE,
                         f"{tok(2).word}-{month_of_word(tok(1).word):02d}-{int(w):02d}")
                    )
                # decade: 'YYY0' + adjacent 's' → star form
                if (
                    y4
                    and w[0] in "12"
                    and w[3] == "0"
                    and b + 1 < n
                    and tok(1).word == "s"
                    and tok(1).brk == 0
                ):
                    ends[b + 2].append((b, 0, CASE_NONE, w[:3] + "*"))
                # century: 'N' + adjacent ordinal + 'century' → star form
                if (
                    len(w) <= 2
                    and w.isdigit()
                    and 1 <= int(w) <= 21
                    and b + 2 < n
                    and tok(1).brk == 0
                    and tok(1).word in ("st", "nd", "rd", "th")
                    and tok(2).brk <= 1
                    and tok(2).word.lower() == "century"
                ):
                    ends[b + 3].append((b, 0, CASE_NONE, f"{int(w) - 1}**"))
                ends[b + 1].append((b, 0, CASE_NONE, w if is_year(w) else str(v)))
                if b + 1 < n and tok(1).brk <= 1:
                    unit = kb.UNITS.get(tok(1).word.lower())
                    if unit is not None:
                        ends[b + 2].append((b, 0, CASE_NONE, f"{v}@{unit}"))
                    sc = SCALES.get(tok(1).word.lower())
                    if sc is not None:
                        ends[b + 2].append((b, 0, CASE_NONE, scale_value(v, sc)))
            # abbreviation spans + doc-level abbreviation map
            for e_rel, cand in _abbrev_scan(toks, sb, se, phrase_table, abbrev_map):
                ends[e_rel].append(cand)
            # DP min-cost cover
            INF = float("inf")
            dp = [0.0] + [INF] * n
            back: list[tuple | None] = [None] * (n + 1)
            for e in range(1, n + 1):
                cost = dp[e - 1] + TOKEN_SKIP_COST
                choice = None
                for cand in sorted(ends.get(e, [])):
                    c = dp[cand[0]] + SPAN_COST
                    if c < cost:
                        cost, choice = c, cand
                dp[e] = cost
                back[e] = choice
            spans = []
            e = n
            while e > 0:
                ch = back[e]
                if ch is None:
                    e -= 1
                else:
                    spans.append((ch[0], e, ch[1], ch[2], ch[3]))
                    e = ch[0]
            spans.reverse()
            # resolve left-to-right
            sent_spans = []
            for b_rel, e_rel, fp, form, lit in spans:
                if lit:
                    sent_spans.append((sb + b_rel, sb + e_rel))
                    doc_mentions.append(
                        {
                            "repo": d["repo"],
                            "path": d["path"],
                            "commit": d["commit"],
                            "content_sha": d["content_sha"],
                            "sentence": s_idx,
                            "begin": sb + b_rel,
                            "end": sb + e_rel,
                            "phrase": " ".join(
                                toks[i].word
                                for i in range(sb + b_rel, sb + e_rel)
                            ),
                            "fp": 0,
                            "entity": lit,
                            "score": 0.0,
                            "form": CASE_NONE,
                            "anaphora": False,
                        }
                    )
                    continue
                best, best_key = None, None
                for entity, count, aform, _rel in phrase_table[fp]:
                    score = (BASE_CONTEXT + context.get(entity, 0.0)) * count
                    if form != CASE_NONE and aform != CASE_NONE and form != aform:
                        score *= CASE_PENALTY
                    if entity in seen:
                        score *= LOCAL_BOOST
                    key = (-score, -count, entity)
                    if best_key is None or key < best_key:
                        best, best_key = (entity, score), key
                entity, score = best
                pop = max(1, popularity.get(entity, 1))
                context[entity] = context.get(entity, 0.0) + MENTION_WEIGHT / pop
                for dst, cnt in links.get(entity, ()):
                    dpop = max(1, popularity.get(dst, 1))
                    context[dst] = context.get(dst, 0.0) + cnt / dpop
                seen.add(entity)
                sent_spans.append((sb + b_rel, sb + e_rel))
                doc_mentions.append(
                    {
                        "repo": d["repo"],
                        "path": d["path"],
                        "commit": d["commit"],
                        "content_sha": d["content_sha"],
                        "sentence": s_idx,
                        "begin": sb + b_rel,
                        "end": sb + e_rel,
                        "phrase": " ".join(
                            toks[i].word for i in range(sb + b_rel, sb + e_rel)
                        ),
                        "fp": fp,
                        "entity": entity,
                        "score": score,
                        "form": form,
                        "anaphora": False,
                    }
                )
            # anaphora (anaphora.cc:120-145): earliest gender-agreeing
            # non-anaphor mention in the nearest sentence that has one
            # (own sentence included, mentions before the pronoun only),
            # back at most ANAPHORA_WINDOW sentences; markable gender
            # from the entity's P21 fact, UNKNOWN otherwise.
            covered = {i for b, e in sent_spans for i in range(b, e)}
            for i in range(sb, se):
                w = toks[i].word.casefold()
                if i in covered or w not in PRONOUN_GENDER:
                    continue
                pgender = PRONOUN_GENDER[w]
                antecedent = None
                prev_sent = s_idx
                for m in reversed(doc_mentions):
                    if m["anaphora"]:
                        continue
                    if m["sentence"] == s_idx and m["begin"] >= i:
                        continue
                    if m["sentence"] != prev_sent:
                        if antecedent is not None:
                            break
                        if s_idx - m["sentence"] > ANAPHORA_WINDOW:
                            break
                        prev_sent = m["sentence"]
                    if gender.get(m["entity"], 0) == pgender:
                        antecedent = m
                if antecedent is None:
                    continue
                doc_mentions.append(
                    {
                        "repo": d["repo"],
                        "path": d["path"],
                        "commit": d["commit"],
                        "content_sha": d["content_sha"],
                        "sentence": s_idx,
                        "begin": i,
                        "end": i + 1,
                        "phrase": toks[i].word,
                        "fp": toks[i].fp,
                        "entity": antecedent["entity"],
                        "score": 0.0,
                        "form": toks[i].form,
                        "anaphora": True,
                    }
                )
        mentions.extend(doc_mentions)
    return mentions


# ---------------------------------------------------------------------------
# relations
# ---------------------------------------------------------------------------


def extract_relations(mentions: list[dict]) -> list[dict]:
    stmts = kb.facts_lookup()
    prio = {p: i for i, p in enumerate(kb.PROPERTY_PRIORITY)}
    by_sentence: dict[tuple, list[dict]] = defaultdict(list)
    for m in mentions:
        by_sentence[(m["repo"], m["path"], m["commit"], m["sentence"])].append(m)
    triples = []
    for key in sorted(by_sentence):
        ms = sorted(by_sentence[key], key=lambda m: (m["begin"], -m["end"]))
        targets = [m for m in ms if not m.get("anaphora")]
        used: set[int] = set()
        for subj in ms:
            facts = [
                (pid, obj)
                for pid, obj in stmts.get(subj["entity"], ())
                if pid not in kb.BLOCKED_PROPERTIES
            ]
            facts = sorted(set(facts), key=lambda f: (prio.get(f[0], 99), f[0], f[1]))
            for pid, obj in facts:
                cands = [
                    o
                    for o in targets  # anaphors never serve as targets
                    if o["entity"] == obj
                    and o["begin"] != subj["begin"]
                    and o["begin"] not in used
                ]
                if not cands:
                    continue
                best = min(
                    cands, key=lambda o: (abs(o["begin"] - subj["begin"]), o["begin"])
                )
                used.add(best["begin"])
                triples.append(
                    {
                        "repo": subj["repo"],
                        "path": subj["path"],
                        "commit": subj["commit"],
                        "content_sha": subj["content_sha"],
                        "sentence": subj["sentence"],
                        "subj": subj["entity"],
                        "pred": pid,
                        "obj": obj,
                        "begin": subj["begin"],
                        "end": subj["end"],
                    }
                )
    return triples


# ---------------------------------------------------------------------------
# xref clustering (global sequential union-find)
# ---------------------------------------------------------------------------


def build_clusters() -> dict[str, str]:
    """member_id -> canonical_id over ALL same_as edges, global
    deterministic edge order, main+main unions refused."""
    raw = kb.same_as_edges()
    edges = set()
    for e in raw:
        a, b = normalize_id(e["id_a"]), normalize_id(e["id_b"])
        if a != b:
            edges.add((min(a, b), max(a, b)))
    ordered = sorted(edges, key=lambda e: _edge_sort_key(*e))
    parent: dict[str, str] = {}
    has_main: dict[str, bool] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        has_main.setdefault(x, is_main(x))
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in ordered:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if has_main[ra] and has_main[rb]:
            continue
        lo, hi = min(ra, rb), max(ra, rb)
        parent[hi] = lo
        has_main[lo] = has_main[lo] or has_main[hi]
    groups: dict[str, list[str]] = defaultdict(list)
    for node in parent:
        groups[find(node)].append(node)
    out: dict[str, str] = {}
    for group in groups.values():
        canon = display_id(min(group, key=lambda i: (id_priority(i), i)))
        for m in group:
            out[m] = canon
    return out


def canonical(ident: str, clusters: dict[str, str]) -> str:
    norm = normalize_id(ident)
    return clusters.get(norm, display_id(norm))


# ---------------------------------------------------------------------------
# reconcile + merge
# ---------------------------------------------------------------------------


_ITEM_REF_RE = re.compile(
    "^(Q[0-9]+$|("
    + "|".join(ns for ns in sorted(kb.NAMESPACE_PRIORITY) if ns != "Q")
    + "):)"
)


def invert_statements(sources: list[dict]) -> list[dict]:
    """Independent twin of reconcile.invert_statements (reconciler.cc:
    97-273): inverse-property fragments keyed by statement target, with
    qualifier inversion and the gendered P8810→P22/P25 parent rule."""
    frags: list[dict] = []
    for item in sources:
        gender = next(
            (st["object"] for st in item["statements"] if st["pid"] == "P21"), None
        )
        by_target: dict[str, list] = {}
        for pos, st in enumerate(item["statements"]):
            cfg = kb.INVERSIONS.get(st["pid"])
            if cfg is None:
                continue
            obj = st["object"]
            if obj == item["id"] or not _ITEM_REF_RE.match(obj or ""):
                continue
            quals = dict(st["qualifiers"] or {})
            inverse = cfg["inverse"]
            if inverse == kb.GENDERED_PARENT:
                if quals:
                    continue  # qualified parent statements are not inverted
                if gender == kb.MALE:
                    inverse = kb.FATHER
                elif gender == kb.FEMALE:
                    inverse = kb.MOTHER
                else:
                    continue  # unknown gender: skip
            qmap = cfg.get("qualifiers", {})
            iq = (
                {qmap[k]: v for k, v in quals.items() if k in qmap}
                if quals and qmap
                else {}
            )
            by_target.setdefault(obj, []).append(
                (pos, {"pid": inverse, "object": item["id"], "qualifiers": iq})
            )
        for obj in by_target:
            sts = sorted(by_target[obj], key=lambda t: t[0])
            frags.append(
                {
                    "id": obj,
                    "orig_id": f"{item['id']}#inv:{obj}",
                    "name": None,
                    "types": [],
                    "statements": [s for _p, s in sts],
                    "source_priority": item.get("source_priority", 0),
                }
            )
    return frags


def merge_items(
    clusters: dict[str, str], sources: list[dict] | None = None
) -> list[dict]:
    """Fuse canonical items. ``sources`` defaults to the seed KB's
    source rows; the KB-delta oracle passes an upserted source list."""
    if sources is None:
        sources = [
            dict(item, source_priority=0) for item in kb.entities()
        ] + kb.source_item_fragments()
    sources = sources + invert_statements(sources)
    by_id: dict[str, list[tuple[int, dict]]] = defaultdict(list)
    for item in sources:
        by_id[canonical(item["id"], clusters)].append((item["source_priority"], item))
    merged_items = []
    for cid in sorted(by_id):
        entries = sorted(
            by_id[cid], key=lambda t: (t[0], t[1].get("orig_id") or t[1]["id"])
        )
        named = [it for _p, it in entries if it.get("name")]
        name = named[0]["name"] if named else None
        types = sorted({t for _p, it in entries for t in it["types"]})
        merged: list[dict] = []
        for _p, it in entries:
            for pos, st in enumerate(it["statements"]):
                quals = dict(st["qualifiers"])
                if quals.get("rank") == "deprecated":
                    continue
                obj = canonical(st["object"], clusters)
                # post-canonicalization self-relation: inverse fragments
                # whose target fused into the subject's own cluster are
                # dropped (reconciler.cc:158-162; lock-step with
                # reconcile._merge_group)
                if obj == cid and "#inv:" in (it.get("orig_id") or ""):
                    continue
                same = next(
                    (m for m in merged if m["pid"] == st["pid"] and m["object"] == obj),
                    None,
                )
                if same is not None:
                    if quals and not same["qualifiers"]:
                        same["qualifiers"] = quals
                    continue
                twin = None
                if _DATE_RE.match(obj or ""):
                    for m in merged:
                        if m["pid"] != st["pid"]:
                            continue
                        mo = m["object"] or ""
                        if _DATE_RE.match(mo) and (
                            mo.startswith(obj) or obj.startswith(mo)
                        ):
                            twin = m
                            break
                if twin is not None:
                    # precise date wins WHOLESALE, qualifiers included
                    # (lock-step with reconcile._merge_group)
                    if len(obj) > len(twin["object"]):
                        twin["object"] = obj
                        twin["qualifiers"] = quals
                    continue
                merged.append({"pid": st["pid"], "object": obj, "qualifiers": quals})
        merged_items.append(
            {"id": cid, "name": name, "types": types, "statements": merged}
        )
    return merged_items


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


@lru_cache(maxsize=4)
def run(n_files: int = 200) -> dict:
    """Full oracle pipeline. Cached per corpus size — the contract
    oracles and the cascade-training fixture share one run (callers
    treat the result as read-only; all in-repo consumers copy before
    sorting/mutating)."""
    return _run_uncached(n_files)


def _run_uncached(n_files: int) -> dict:
    docs = latest_corpus(n_files)
    pt = build_phrase_table()
    idf = build_idf(docs)
    popularity = {r["id"]: r["count"] for r in kb.popularity_rows()}
    links: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for r in kb.links_rows():
        links[r["src"]].append((r["dst"], r["count"]))
    for v in links.values():
        v.sort()
    mentions = annotate(docs, pt, idf, popularity, links)
    relations = extract_relations(mentions)
    clusters = build_clusters()
    items = merge_items(clusters)
    doc_triples = [
        {
            "subj": canonical(t["subj"], clusters),
            "pred": t["pred"],
            "obj": canonical(t["obj"], clusters),
            "provenance": (t["repo"], t["path"], t["commit"], t["content_sha"],
                           t["begin"], t["end"]),
            "source": "doc_relation",
        }
        for t in relations
    ]
    kb_triples = [
        {
            "subj": it["id"],
            "pred": st["pid"],
            "obj": st["object"],
            "provenance": None,
            "source": "kb_statement",
        }
        for it in items
        for st in it["statements"]
    ]
    return {
        "documents": docs,
        "phrase_table": pt,
        "idf": idf,
        "mentions": mentions,
        "relations": relations,
        "clusters": clusters,
        "items": items,
        "triples": doc_triples + kb_triples,
    }
