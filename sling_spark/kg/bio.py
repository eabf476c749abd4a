"""Batched BIO sequence-tagging decoder analog (SURVEY.md §2.8).

Reference semantics: SLING's BIO decoder tags every token with one of
1 + 4*n_types OBIES labels — index 0 = OUTSIDE; for index i >= 1,
tag = (i-1) % 4 + 1 (BEGIN/INSIDE/END/SINGLE) and type = (i-1) // 4
(sling/nlp/parser/bio-decoder.cc:38-106) — picking, per token, the
highest-scoring label ALLOWED after the previous one (bio-decoder.cc
BIOLabel::CanFollow :72-84: after OUTSIDE/END/SINGLE only
OUTSIDE/BEGIN/SINGLE may follow; after BEGIN/INSIDE only INSIDE/END of
the SAME type), then reads spans off the tag sequence
(bio-decoder.cc:261-289: SINGLE → one-token span; BEGIN → scan to the
first END tag, or the sentence end).

Here the same computation runs as batched NumPy inside an Arrow-fed
pandas UDF, over the SAME shared token encodings as the biaffine
scorer (the reference decoders share the lexical encoder channel,
carrying the full lexical-features.h inventory via
kg.lexical.encode_tokens): the encoder and the logits matmul each run
ONCE PER ARROW BATCH (all documents' tokens concatenated — the
boundary-aware encoder makes slices equal per-sentence encodings), and
the constrained argmax is precomputed vectorized for both automaton
states (free: argmax over the O/B/S columns; forced(T): I(T) vs E(T)
comparison), leaving only an O(1)-per-token state walk per sentence —
the transition constraint is inherently sequential (same boundary as
the resolver stage, SURVEY.md §4 risk #4).

Weights are deterministic pseudo-random (seeded) — this reproduces the
*execution shape* (scoring + constrained decode + batching), not a
trained model; the silver pipeline remains the correctness path for
triples, exactly as in the reference where the parser is trained FROM
that silver data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .biaffine import DIM, PROJ, _rng, sentence_bounds

OUTSIDE, BEGIN, INSIDE, END, SINGLE = range(5)

BIO_SPANS_SCHEMA = (
    "repo string, path string, commit string, sentence int, "
    "begin int, end int, type int, score double"
)


class BioTagger:
    """Deterministic OBIES sequence tagger over token fingerprints."""

    def __init__(self, n_types: int = 4, dim: int = DIM, hidden: int = PROJ):
        self.n_types = n_types
        self.n_labels = 1 + 4 * n_types
        self.dim = dim
        g = _rng("bio-weights")
        # float64 + logit quantization (see logits_from_encodings):
        # the batched path scores arbitrary concatenations of sentences,
        # and BLAS matmul results vary ~1e-7 (f32) with the row count —
        # decode must be batch-size-invariant for the hash oracle
        self.w1 = g.standard_normal((dim, hidden)) / np.sqrt(dim)
        self.b1 = g.standard_normal(hidden) * 0.1
        self.w2 = g.standard_normal((hidden, self.n_labels)) / np.sqrt(hidden)
        # allowed-label column sets per automaton state (ascending index
        # order — np.argmax's first-match tie-break then reproduces the
        # reference's ascending scan with strict '>', bio-decoder.cc:248)
        self._free_cols = np.array(
            [0] + [c for t in range(n_types) for c in (1 + 4 * t, 4 + 4 * t)]
        )
        self._icols = np.array([2 + 4 * t for t in range(n_types)])
        self._ecols = np.array([3 + 4 * t for t in range(n_types)])

    def logits(self, fps: np.ndarray, words=None, brks=None) -> np.ndarray:
        """(n, n_labels) token logits: shared lexical encodings → one
        hidden tanh layer → label scores. All-batch matmuls; callers
        with many sentences should encode once and call
        :meth:`logits_from_encodings` on the concatenation."""
        from .lexical import encode_tokens

        return self.logits_from_encodings(
            encode_tokens(fps, words, brks, dim=self.dim)
        )

    def logits_from_encodings(self, h: np.ndarray) -> np.ndarray:
        """float64 matmuls quantized to 1e-4: slice-vs-batch BLAS
        differences (~1e-15 at f64) vanish under the quantization, so
        decoding a sentence from a whole-batch matmul is bit-identical
        to decoding it alone — the invariant the Spark op's
        one-matmul-per-Arrow-batch path and the driver-side oracle twin
        both rely on."""
        z = np.tanh(h.astype(np.float64) @ self.w1 + self.b1)
        return np.round(z @ self.w2, 4)

    def decode(self, fps: np.ndarray, words=None, brks=None
               ) -> list[tuple[int, int, int, float]]:
        """Constrained greedy decode of one sentence → (begin, end,
        type, score) spans; score = sum of the chosen label logits over
        the span tokens (rounded by the caller)."""
        if len(fps) == 0:
            return []
        return self.decode_logits(self.logits(fps, words, brks))

    def decode_logits(self, lg: np.ndarray) -> list[tuple[int, int, int, float]]:
        """Constrained greedy decode from precomputed logits (one
        sentence's slice of a batch-level matmul)."""
        n = len(lg)
        if n == 0:
            return []
        # vectorized per-state argmaxes (reference tie-break: lowest
        # index wins a tie; I(T) beats E(T) on equal logits because the
        # ascending scan only replaces on strictly greater)
        free_pick = self._free_cols[np.argmax(lg[:, self._free_cols], axis=1)]
        forced_pick = np.where(
            lg[:, self._icols] >= lg[:, self._ecols], self._icols, self._ecols
        )
        labels = np.empty(n, np.int64)
        forced_type = -1
        for t in range(n):
            if forced_type < 0:
                lab = int(free_pick[t])
                if lab != 0 and (lab - 1) % 4 + 1 == BEGIN:
                    forced_type = (lab - 1) // 4
            else:
                lab = int(forced_pick[t, forced_type])
                if (lab - 1) % 4 + 1 == END:
                    forced_type = -1
            labels[t] = lab
        chosen = lg[np.arange(n), labels]
        tags = np.where(labels == 0, 0, (labels - 1) % 4 + 1)
        types = np.where(labels == 0, -1, (labels - 1) // 4)
        # span extraction (bio-decoder.cc:261-289)
        out: list[tuple[int, int, int, float]] = []
        t = 0
        while t < n:
            if tags[t] == SINGLE:
                out.append((t, t + 1, int(types[t]), float(chosen[t])))
            elif tags[t] == BEGIN:
                b = t
                t += 1
                while t < n and tags[t] != END:
                    t += 1
                e = t + 1 if t < n else n
                out.append((b, e, int(types[b]), float(chosen[b:e].sum())))
            t += 1
        return out


def bio_spans(documents: DataFrame, tagger: BioTagger | None = None) -> DataFrame:
    """documents (``build_documents`` token arrays) → (doc, sentence,
    begin, end, type, score) BIO span rows. One mapInPandas pass; the
    lexical encoder and the logits matmul run ONCE per Arrow batch over
    every document's concatenated tokens (verdict r3 item 5 — no
    per-sentence tiny matmuls), then each sentence's logits slice runs
    the O(n) constrained state walk."""
    tagger = tagger or BioTagger()

    def run(batches):
        from .lexical import encode_tokens

        for pdf in batches:
            rows = []
            docs = list(pdf.itertuples(index=False))
            if docs:
                # one encoder + matmul call for the whole batch: the
                # boundary-aware encoder resets its context mix at
                # sentence starts, and each document opens a sentence
                # (its first brk is a document break), so concatenation
                # never leaks context across documents
                fps_all = np.concatenate(
                    [np.asarray(r.t_fp, dtype=np.uint64) for r in docs]
                )
                words_all = [w for r in docs for w in r.t_word]
                brks_all = np.concatenate(
                    [np.asarray(r.t_brk, dtype=np.int64) for r in docs]
                )
                offs = np.cumsum([0] + [len(r.t_fp) for r in docs])
                # document starts always open a sentence, whatever the
                # first token's break level says
                brks_all[offs[:-1][offs[:-1] < len(brks_all)]] = 3
                lg_all = tagger.logits_from_encodings(
                    encode_tokens(
                        fps_all, words_all, brks_all, dim=tagger.dim,
                        doc_starts=offs[:-1],
                    )
                )
            for j, r in enumerate(docs):
                off = int(offs[j])
                brks = list(r.t_brk)
                for s_idx, (sb, se) in enumerate(sentence_bounds(brks)):
                    decoded = tagger.decode_logits(lg_all[off + sb:off + se])
                    for b, e, typ, score in decoded:
                        rows.append(
                            {
                                "repo": r.repo,
                                "path": r.path,
                                "commit": r.commit,
                                "sentence": s_idx,
                                "begin": sb + b,
                                "end": sb + e,
                                "type": typ,
                                "score": round(score, 6),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["repo", "path", "commit", "sentence",
                         "begin", "end", "type", "score"],
            )

    return documents.select(
        "repo", "path", "commit", "t_brk", "t_fp", "t_word"
    ).mapInPandas(run, schema=BIO_SPANS_SCHEMA)
