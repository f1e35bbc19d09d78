"""Result checks against an index-free oracle.

Every path under test returns a ranked list of (doc_id, score). The oracle
scans the raw documents on the driver: the engine's tokenizer
(``mahout_spark.tokenize.tf_map_batch``, as ``CorpusScorer`` uses it) and
the BM25 definition of ``mahout_spark.functions.scoring`` (N over all
docs, avgdl over docs with at least one term), with each doc's per-term
contributions added in sorted-term order as the shard kernel adds them,
ranked by (score desc, doc_id asc). Two lists agree when they have the
same length, the same doc_id at every rank, and scores within
``REL_TOL`` relative.
"""

from __future__ import annotations

import sys

import numpy as np

REL_TOL = 1e-9


def as_pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def mismatch(expected: list[tuple[int, float]],
             got: list[tuple[int, float]]) -> str | None:
    """None when ``got`` matches ``expected``, else what differs first."""
    if len(expected) != len(got):
        return f"{len(got)} hits, expected {len(expected)}"
    for rank, ((de, se), (dg, sg)) in enumerate(zip(expected, got), 1):
        if de != dg:
            return f"rank {rank}: doc {dg}, expected {de}"
        if abs(se - sg) > REL_TOL * max(abs(se), abs(sg)):
            return f"rank {rank}: score {sg!r}, expected {se!r}"
    return None


class Checker:
    """Counts operations attempted and failed across one run; a failure
    is an exception raised by an operation or an oracle mismatch."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def compare(self, what: str, expected, got) -> bool:
        self.attempted += 1
        why = mismatch(expected, got)
        if why is not None:
            self.fail(f"{what}: {why}")
        return why is None

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)


class Oracle:
    """Full-scan BM25 over (doc_ids, texts). ``hidden`` doc_ids are scored
    (they count in df, N and avgdl, as tombstoned docs do in the index
    until compaction) but never returned."""

    def __init__(self, doc_ids, texts, hidden=()) -> None:
        import pandas as pd

        from mahout_spark import BM25_B, BM25_K1
        from mahout_spark.tokenize import tf_map_batch

        self.k1, self.b = BM25_K1, BM25_B
        self.ids = [int(d) for d in doc_ids]
        self.tfs = list(tf_map_batch(pd.Series(list(texts))))
        self.dls = [sum(m.values()) for m in self.tfs]
        positive = [d for d in self.dls if d > 0]
        self.avgdl = sum(positive) / len(positive)
        self.hidden = set(hidden)

    def search(self, queries, k: int) -> dict[str, list[tuple[int, float]]]:
        """Top-k of every query (objects with qid, terms, mode_all)."""
        terms = sorted({t for q in queries for t in q.terms})
        hits: dict[str, list[tuple[int, int]]] = {t: [] for t in terms}
        for i, m in enumerate(self.tfs):
            for t in terms:
                if t in m:
                    hits[t].append((i, m[t]))
        n, k1, b = len(self.ids), self.k1, self.b
        out = {}
        for q in queries:
            qterms = sorted(set(q.terms))
            scores: dict[int, float] = {}
            matched: dict[int, int] = {}
            for t in qterms:
                df = len(hits[t])
                if not df:
                    continue
                idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
                for i, tf in hits[t]:
                    c = idf * (float(tf) * (k1 + 1.0)) / (
                        float(tf) + k1 * (1.0 - b + b * float(self.dls[i]) / self.avgdl))
                    scores[i] = scores[i] + c if i in scores else c
                    matched[i] = matched.get(i, 0) + 1
            ranked = sorted(
                (self.ids[i], s) for i, s in scores.items()
                if self.ids[i] not in self.hidden
                and (not q.mode_all or matched[i] == len(qterms))
            )
            ranked.sort(key=lambda p: -p[1])  # stable: doc_id asc on ties
            out[q.qid] = ranked[:k]
        return out
