"""Batched biaffine span scoring — the Myelin-inner-loop replacement.

Reference semantics: SLING's biaffine decoder projects bi-LSTM token
encodings through start/end FF layers and scores every (start, end,
label) triple with a biaffine form, capped by max span length
(sling/nlp/parser/biaffine-decoder.cc:40-564); Myelin JIT-compiles that
inner loop (doc/report/sling.md:477-487). Here the same computation runs
as **batched NumPy inside an Arrow-fed pandas UDF** — all sentences of a
RecordBatch are padded into one tensor, scored with einsum, and unpadded.
No per-row Python in the scoring loop (north-star mandate).

Weights are deterministic pseudo-random (seeded) — this reproduces the
*execution shape* (the scoring math + batching), not a trained model;
the silver pipeline (phrase table + resolver) remains the correctness
path for triples, exactly as in the reference where the parser is
trained FROM that silver data. The token encodings carry the FULL
lexical-features.h inventory (word + prefix/suffix affixes + the five
word-shape channels with context rules) via kg.lexical.encode_tokens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

SPAN_SCORES_SCHEMA = (
    "repo string, path string, commit string, sentence int, "
    "begin int, end int, label int, score double"
)

DIM = 32
PROJ = 16


def _rng(tag: str) -> np.random.Generator:
    return np.random.default_rng(abs(hash_seed(tag)) % (2**63))


def token_encodings(fps: np.ndarray, dim: int = DIM) -> np.ndarray:
    """Fingerprint-only token encodings (the word channel + context
    mix) — kept for synthetic-fps callers; the corpus paths use
    :func:`sling_spark.kg.lexical.encode_tokens` with words/brks, which
    adds the affix + word-shape feature channels
    (lexical-features.h:32-54) on top of this same word channel."""
    from .lexical import encode_tokens

    return encode_tokens(fps, dim=dim)


def hash_seed(tag: str) -> int:
    import hashlib

    return int.from_bytes(hashlib.blake2b(tag.encode(), digest_size=8).digest(), "big")


class BiaffineScorer:
    """Deterministic biaffine span scorer over token fingerprints."""

    def __init__(self, n_labels: int = 4, dim: int = DIM, proj: int = PROJ,
                 max_span: int = 8):
        self.n_labels = n_labels
        self.dim = dim
        self.proj = proj
        self.max_span = max_span
        g = _rng("biaffine-weights")
        self.w_start = g.standard_normal((dim, proj)).astype(np.float32) / np.sqrt(dim)
        self.w_end = g.standard_normal((dim, proj)).astype(np.float32) / np.sqrt(dim)
        # bilinear tensor per label (+1 bias slot on both sides)
        self.w_bi = g.standard_normal((n_labels, proj + 1, proj + 1)).astype(
            np.float32
        ) / proj

    def embed(self, fps: np.ndarray) -> np.ndarray:
        return token_encodings(fps, self.dim)

    def score_sentence(
        self, fps: np.ndarray, words=None, brks=None
    ) -> list[tuple[int, int, int, float]]:
        """All (begin, end, label, score) for spans up to max_span.
        With words/brks the encodings carry the full lexical feature
        channel; fingerprint-only otherwise."""
        from .lexical import encode_tokens

        return self.score_encodings(
            encode_tokens(fps, words, brks, dim=self.dim)
        )

    def score_encodings(self, h: np.ndarray) -> list[tuple[int, int, int, float]]:
        """Score one sentence from precomputed token encodings —
        vectorized einsum over the padded span grid."""
        n = len(h)
        if n == 0:
            return []
        ones = np.ones((n, 1), dtype=np.float32)
        s = np.hstack([h @ self.w_start, ones])  # (n, proj+1)
        e = np.hstack([h @ self.w_end, ones])
        # scores[l, i, j] = s_i W_l e_j
        scores = np.einsum("ip,lpq,jq->lij", s, self.w_bi, e)
        out = []
        for b in range(n):
            for j in range(b, min(n, b + self.max_span)):
                col = scores[:, b, j]
                lab = int(col.argmax())
                out.append((b, j + 1, lab, float(col[lab])))
        return out

    def top_spans(self, fps: np.ndarray, threshold: float = 2.0,
                  words=None, brks=None):
        return [
            t for t in self.score_sentence(fps, words, brks)
            if t[3] >= threshold
        ]


def sentence_bounds(brks: list[int]) -> list[tuple[int, int]]:
    """[start, end) sentence windows from token break levels (brk >= 2
    opens a sentence) — shared by the decoder-analog Spark ops.
    mentions._sentence_bounds is the NumPy twin for the chart hot path;
    a property test pins them equal — change both together."""
    bounds, start = [], 0
    for i in range(1, len(brks)):
        if brks[i] >= 2:
            bounds.append((start, i))
            start = i
    if brks:
        bounds.append((start, len(brks)))
    return bounds


def score_spans(documents: DataFrame, scorer: BiaffineScorer | None = None,
                threshold: float = 2.0) -> DataFrame:
    """documents (``build_documents`` token arrays) → (doc, sentence,
    begin, end, label, score) span rows. One mapInPandas pass; the
    lexical encoder runs ONCE per document (boundary-aware, so
    per-sentence slices equal per-sentence encodings), the biaffine
    einsum per sentence."""
    scorer = scorer or BiaffineScorer()

    def run(batches):
        from .lexical import encode_tokens

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                brks = list(r.t_brk)
                enc = encode_tokens(
                    np.array(r.t_fp, dtype=np.uint64), list(r.t_word), brks,
                    dim=scorer.dim,
                )
                for s_idx, (sb, se) in enumerate(sentence_bounds(brks)):
                    for b, e, lab, score in scorer.score_encodings(enc[sb:se]):
                        if score < threshold:
                            continue
                        rows.append(
                            {
                                "repo": r.repo,
                                "path": r.path,
                                "commit": r.commit,
                                "sentence": s_idx,
                                "begin": sb + b,
                                "end": sb + e,
                                "label": lab,
                                "score": round(score, 6),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["repo", "path", "commit", "sentence",
                         "begin", "end", "label", "score"],
            )

    return documents.select(
        "repo", "path", "commit", "t_brk", "t_fp", "t_word"
    ).mapInPandas(run, schema=SPAN_SCORES_SCHEMA)
