"""Seeded corpus and query generator. Pure Python + numpy: no Spark.

The corpus C imitates the repo's generated documents table (uniform
10-100 words drawn from a 30-word vocabulary) and adds ``IDENTS_PER_DOC``
synthetic identifiers per doc, as ``BENCH/scaling_run.py`` does, so the
vocabulary splits into a small HEAD of shared words (df ~ 78-95% of docs)
and a large TAIL of identifiers (df 1-5). The same seed gives the same
docs, queries, append batches and delete ids.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

HEAD_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
IDENTS_PER_DOC = 10
N_DOCS = 2048
DOCS_PER_SHARD = 512  # 4 shards: one per core on a 4-core host
INPUT_SPLITS = 8  # parquet files C is written as; fixed, not per core
N_STREAM = 20  # queries in the timed stream, at least
# (kind, terms, AND) of the queries in each block of the stream; a block
# is sent in seeded order, and its terms are seeded
MIX_BLOCK = (
    ("head", 1, False), ("head", 2, False), ("head", 3, False),
    ("head", 2, True), ("head", 4, True),
    ("tail", 1, False), ("tail", 1, False), ("tail", 1, False),
    ("tail", 2, False), ("tail", 2, True),
)
N_BATCH = 100  # queries per topk_batch
K = 10


@dataclass
class Docs:
    doc_ids: np.ndarray
    texts: list[str]
    idents: list[list[str]]  # identifiers emitted per doc, in doc order

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)


@dataclass(frozen=True)
class Query:
    qid: str
    kind: str  # "head" | "tail"
    terms: tuple[str, ...]
    mode_all: bool


def make_docs(rng: np.random.Generator, first_id: int, n: int,
              tag: str) -> Docs:
    """``n`` docs with ids ``first_id..``; identifiers carry ``tag`` so a
    later batch adds terms C never had."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(HEAD_WORDS), int(lens.sum()))
    ident_vals = rng.integers(0, n, (n, IDENTS_PER_DOC))
    texts, idents, at = [], [], 0
    for i in range(n):
        ids = [f"{tag}{j}q{v}" for j, v in enumerate(ident_vals[i])]
        body = [HEAD_WORDS[w] for w in words[at:at + lens[i]]]
        at += lens[i]
        texts.append(" ".join(body + ids))
        idents.append(ids)
    return Docs(np.arange(first_id, first_id + n, dtype=np.int64), texts, idents)


def head_terms() -> list[str]:
    """Index terms of the head words (stemmed, stopwords dropped), via the
    engine's own tokenizer so queries hit real lexicon entries."""
    import pandas as pd

    from mahout_spark.tokenize import tokens_batch

    toks = tokens_batch(pd.Series(HEAD_WORDS))
    return sorted({t for ts in toks for t in ts})


def check_identifiers_survive_tokenizer(docs: Docs) -> None:
    import pandas as pd

    from mahout_spark.tokenize import tokens_batch

    sample = docs.idents[0]
    got = tokens_batch(pd.Series([" ".join(sample)])).iloc[0]
    if list(got) != sample:
        raise RuntimeError(f"tokenizer rewrites identifiers: {sample} -> {got}")


def head_query(rng: np.random.Generator, heads: list[str], qid: str,
               n: int = 2, mode_all: bool = False) -> Query:
    terms = tuple(heads[i] for i in rng.choice(len(heads), n, replace=False))
    return Query(qid, "head", terms, mode_all)


def tail_query(rng: np.random.Generator, idents: list[list[str]], used: set,
               qid: str, n: int = 1, mode_all: bool = False) -> Query:
    """``n`` identifiers of one generated doc, never queried before in this
    run (so each one misses the Searcher's lexicon cache)."""
    while True:
        ids = idents[int(rng.integers(0, len(idents)))]
        terms = tuple(ids[j] for j in rng.choice(len(ids), n, replace=False))
        if not used.intersection(terms):
            used.update(terms)
            return Query(qid, "tail", terms, mode_all)


def query_stream(rng: np.random.Generator, idents: list[list[str]],
                 heads: list[str], n: int, used: set) -> list[Query]:
    """``n`` queries, block after block of ``MIX_BLOCK``: every run sends
    the same mix of query shapes, so a stream cut short keeps the mix."""
    out: list[Query] = []
    while len(out) < n:
        for j in rng.permutation(len(MIX_BLOCK)):
            kind, terms, mode_all = MIX_BLOCK[j]
            qid = f"q{len(out)}"
            out.append(head_query(rng, heads, qid, terms, mode_all) if kind == "head"
                       else tail_query(rng, idents, used, qid, terms, mode_all))
    return out[:n]


def stream_stats(queries: list[Query]) -> dict:
    """Head/tail shares and the share of query-term occurrences whose term
    was already queried earlier in the stream (what the Searcher's
    per-term lexicon cache can serve)."""
    seen, repeats, total = set(), 0, 0
    for q in queries:
        for t in q.terms:
            total += 1
            repeats += t in seen
            seen.add(t)
    n = len(queries)
    heads = sum(q.kind == "head" for q in queries)
    return {
        "queries": n,
        "head_share": heads / n,
        "tail_share": (n - heads) / n,
        "and_share": sum(q.mode_all for q in queries) / n,
        "repeated_term_share": repeats / total,
    }


def corpus_stats(docs: Docs, heads: list[str]) -> dict:
    """Doc count, text bytes, distinct terms and head/tail df, computed
    from the generator's own words (identifiers are single terms; head
    words map to ``heads``)."""
    import pandas as pd

    from mahout_spark.tokenize import tokens_batch

    sample = tokens_batch(pd.Series(docs.texts[:256]))
    head_df = Counter(t for ts in sample for t in set(ts) if t in heads)
    ident_df = Counter(i for ids in docs.idents for i in set(ids))
    tail_dfs = np.fromiter(ident_df.values(), dtype=np.int64)
    return {
        "docs": len(docs.texts),
        "text_bytes": docs.text_bytes,
        "distinct_terms": len(heads) + len(ident_df),
        "head_terms": len(heads),
        "head_df_share_mean": float(np.mean(list(head_df.values())) / len(sample)),
        "tail_terms": len(ident_df),
        "tail_df_mean": float(tail_dfs.mean()),
        "tail_df_max": int(tail_dfs.max()),
    }


def write_parquet(docs: Docs, out_dir: str) -> None:
    """C as ``INPUT_SPLITS`` parquet files, written without Spark so that
    generation never lands inside a timed Spark call."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"doc_id": docs.doc_ids, "text": docs.texts})
    n = len(docs.texts)
    for p in range(INPUT_SPLITS):
        lo, hi = p * n // INPUT_SPLITS, (p + 1) * n // INPUT_SPLITS
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{p:05d}.parquet"))
