"""Session-scoped query front-end with lexicon caching.

A cold ``wand.topk`` call launches one lexicon-lookup job (bucket-pruned
scan + tiny collect) before the postings scan: three Spark jobs in all.
Interactive sessions and repeated-query workloads pay that per query even
though the lexicon rows for a term never change between index mutations.
``Searcher`` removes it:

* per-TERM driver-side cache of (bucket, df) — bounded by the number of
  distinct queried terms, NOT vocabulary size, so a 10^7-term lexicon
  never has to fit on the driver;
* one pruned lookup job per query for cache-miss terms only; a fully
  warm query launches ZERO lexicon jobs;
* automatic invalidation: the index's ``_meta.json`` is rewritten by
  every append/delete/compaction (df and corpus stats move), so its
  ``meta_version`` stamp is the cache epoch — a mutated index drops the
  cache on the next call.

Every table read passes the catalog's recorded schema, so none adds a
schema-inference job: a warm ``topk_rows`` under the driver-exec cap is
ONE Spark job, and a query with cache-miss terms two.

The analog at cluster scale is a query-router keeping hot lexicon
entries in memory; the postings scan stays fully distributed and
partition-pruned exactly as in ``wand.topk``.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mahout_spark.index import wand
from mahout_spark.sources.catalog import ParquetCatalog

# topk_rows runs the scoring kernel ON THE DRIVER when the queried terms'
# total df (known from the cached lexicon rows — no extra job) is at most
# this: the collected payload is the terms' encoded blocks, ~1-2 bytes per
# posting, so the cap bounds driver transfer to a few MB. Hot heads on a
# query-node are exactly how production engines serve interactive top-k;
# rare/medium terms stay under the cap, monster terms fall back to the
# fully distributed path.
DRIVER_EXEC_MAX_POSTINGS = 1 << 20


class Searcher:
    def __init__(self, spark: SparkSession, index: ParquetCatalog | str):
        self.spark = spark
        self.cat = (
            index if isinstance(index, ParquetCatalog)
            else ParquetCatalog(index)
        )
        self._epoch: tuple | None = None
        # term -> (bucket, df) | None for known-absent terms
        self._terms: dict[str, tuple | None] = {}
        # (prefix, cap) -> [(term, bucket, df)] lexicon expansions
        self._prefix: dict[tuple, list] = {}
        # (stem, n, cap) -> [(term, bucket, df)] fuzzy expansions
        self._fuzzy: dict[tuple, list] = {}
        # (pattern, cap) -> [(term, bucket, df)] wildcard expansions
        self._wildcard: dict[tuple, list] = {}
        # (pattern, cap) -> [(term, bucket, df)] regexp expansions
        self._regexp: dict[tuple, list] = {}
        # adaptive tombstone mask (array, tomb_df) — see _deleted_set
        self._deleted = (None, None)
        self._deleted_loaded = False
        self._meta: dict = {}

    # -- cache epoch --------------------------------------------------------

    def _meta_file(self) -> str:
        return os.path.join(self.cat.table_path("postings"), "_meta.json")

    def _ensure_fresh(self) -> None:
        """Cache epoch = the meta's own ``meta_version`` stamp (written
        fresh by every ParquetCatalog.write_meta). Reading the tiny json
        per query is microseconds; unlike file stat it cannot alias two
        rewrites of identical length within one mtime tick. Metas written
        before the stamp existed fall back to (mtime_ns, size)."""
        meta = self.cat.read_meta("postings")
        epoch = meta.get("meta_version")
        if epoch is None:
            st = os.stat(self._meta_file())
            epoch = (st.st_mtime_ns, st.st_size)
        if epoch != self._epoch:
            self._epoch = epoch
            self._terms.clear()
            self._prefix.clear()
            self._fuzzy.clear()
            self._wildcard.clear()
            self._regexp.clear()
            self._deleted = None
            self._deleted_loaded = False
            self._meta = meta

    def _deleted_set(self):
        """Epoch-cached ADAPTIVE tombstone mask (index/delete.py
        deleted_set): ``(array, None)`` below the collect cap — the
        driver-side kernels' format — or ``(None, tomb_df)`` in the
        mass-delete relational regime, where the interactive driver-exec
        fast paths bail to the distributed kernels (which cogroup the
        slices in). A delete bumps meta_version, so staleness is
        impossible past ``_ensure_fresh``."""
        if not self._deleted_loaded:
            from mahout_spark.index.delete import deleted_set

            self._deleted = deleted_set(
                self.spark, self.cat, self._meta
            )
            self._deleted_loaded = True
        return self._deleted

    # -- lexicon ------------------------------------------------------------

    def _lex_rows(self, terms: list[str]) -> list[dict]:
        from mahout_spark.functions.xxhash import term_bucket

        n_buckets = int(self._meta["n_buckets"])
        missing = sorted({t for t in terms if t not in self._terms})
        if missing:
            buckets = sorted({term_bucket(t, n_buckets) for t in missing})
            lex = wand._read_query_lexicon(self.spark, self.cat, buckets)
            rows = (
                lex.filter(F.col("term").isin(missing))
                .select("term", "bucket", "df")
                .collect()
                if lex is not None
                else []
            )
            for r in rows:
                self._terms[r["term"]] = (int(r["bucket"]), int(r["df"]))
            for t in missing:
                self._terms.setdefault(t, None)  # absent from the corpus
        return [
            {"term": t, "bucket": self._terms[t][0], "df": self._terms[t][1]}
            for t in dict.fromkeys(terms)
            if self._terms.get(t) is not None
        ]

    # -- queries ------------------------------------------------------------

    def topk(
        self, terms: list[str], k: int = 10, mode_all: bool = False,
        prune: bool = True, merge: str = "spark",
    ) -> DataFrame:
        """Top-k as a DataFrame (composable into larger plans). For pure
        interactive latency use ``topk_rows`` — wrapping driver-merged
        rows back into a DataFrame costs more than the exchange stage the
        merge saves, so here the distributed TakeOrderedAndProject stays
        the default."""
        self._ensure_fresh()
        return wand.topk(
            self.spark, self.cat, terms, k=k, mode_all=mode_all,
            prune=prune, lex_rows=self._lex_rows(terms), merge=merge,
        )

    def topk_rows(
        self, terms: list[str], k: int = 10, mode_all: bool = False,
        prune: bool = True,
    ) -> list[Row]:
        """Interactive top-k returning rows directly — the query-node
        path. Warm-cache cost (a cache miss adds one lexicon probe job):

        * small/medium terms (Σ df <= DRIVER_EXEC_MAX_POSTINGS): ONE
          collect job (bucket-pruned scan of the terms' block rows, no
          shuffle); the identical shard kernel then runs on the driver —
          rank-identical by construction (same code, same reduction
          order).
        * monster terms: the distributed kernel (one shuffle) with the
          per-shard <=k rows merged driver-side.
        """
        self._ensure_fresh()
        lex = self._lex_rows(terms)
        if not lex:
            return []
        qterms = list(dict.fromkeys(terms))
        if mode_all and len(lex) < len(qterms):
            return []  # a query term absent from the corpus -> empty AND
        if (sum(r["df"] for r in lex) <= DRIVER_EXEC_MAX_POSTINGS
                and self._deleted_set()[1] is None):
            return self._topk_rows_driver(qterms, lex, k, mode_all, prune)
        return wand.topk(
            self.spark, self.cat, qterms, k=k, mode_all=mode_all,
            prune=prune, lex_rows=lex, merge="driver",
        ).collect()

    def _topk_rows_driver(
        self, qterms: list[str], lex: list[dict], k: int,
        mode_all: bool, prune: bool,
    ) -> list[Row]:
        meta = self._meta
        idf = {
            r["term"]: float(np.log(
                1.0 + (meta["n_docs"] - r["df"] + 0.5) / (r["df"] + 0.5)
            ))
            for r in lex
        }
        buckets = sorted({r["bucket"] for r in lex})
        pdf = (
            self.cat.read_partitions(self.spark, "postings", "bucket", buckets)
            .filter(F.col("term").isin(list(idf)))
            .toPandas()
        )
        if not len(pdf):
            return []
        kernel = wand._make_shard_kernel(
            idf, meta["k1"], meta["b"], meta["avgdl"], k, mode_all,
            len(qterms), prune,
            use_stored_bounds=int(meta.get("appends", 0)) == 0,
            deleted=self._deleted_set()[0],
        )
        import pandas as pd

        merged = pd.concat(
            [kernel(g) for _, g in pdf.groupby("shard")], ignore_index=True
        )
        merged = merged.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return [
            Row(doc_id=int(d), score=float(s))
            for d, s in zip(merged["doc_id"], merged["score"])
        ]

    def topk_batch(
        self, queries: dict[str, list[str]], k: int = 10,
        mode_all: bool = False,
    ) -> DataFrame:
        self._ensure_fresh()
        all_terms = sorted({t for ts in queries.values() for t in ts})
        return wand.topk_batch(
            self.spark, self.cat, queries, k=k, mode_all=mode_all,
            lex_rows=self._lex_rows(all_terms),
        )

    # -- phrase (positional indexes) ----------------------------------------

    def phrase_topk(
        self, phrase: list[str], k: int = 10, merge: str = "spark",
    ) -> DataFrame:
        """Exact-phrase top-k as a DataFrame; lexicon rows come from the
        warm cache (zero lexicon jobs on repeat queries)."""
        self._ensure_fresh()
        from mahout_spark.index import phrase as phrase_mod

        return phrase_mod.phrase_topk(
            self.spark, self.cat, list(phrase), k=k,
            lex_rows=self._lex_rows(sorted(dict.fromkeys(phrase))),
            merge=merge,
        )

    def phrase_topk_rows(self, phrase: list[str], k: int = 10) -> list[Row]:
        """Interactive exact-phrase top-k, same regimes as ``topk_rows``:
        Σdf under the query-node cap runs the phrase kernel driver-side
        over the terms' collected block rows (positions ride along — a
        phrase payload is ~2-4 bytes/posting vs ~1-2 plain, still MBs at
        the cap); monster terms fall back to the distributed kernel with
        a driver merge of per-shard ≤k rows."""
        self._ensure_fresh()
        meta = self._meta
        if not meta.get("positional"):
            raise ValueError(
                "index was built without positions=True; phrase queries "
                "need a positional index"
            )
        if not phrase:
            raise ValueError("empty phrase")
        from mahout_spark.index import phrase as phrase_mod

        qterms = sorted(dict.fromkeys(phrase))
        lex = self._lex_rows(qterms)
        if len(lex) < len(qterms):
            return []  # some phrase term absent -> no doc can match
        if (sum(r["df"] for r in lex) > DRIVER_EXEC_MAX_POSTINGS
                or self._deleted_set()[1] is not None):
            return phrase_mod.phrase_topk(
                self.spark, self.cat, list(phrase), k=k, lex_rows=lex,
                merge="driver",
            ).collect()
        idf = {
            r["term"]: float(np.log(
                1.0 + (meta["n_docs"] - r["df"] + 0.5) / (r["df"] + 0.5)
            ))
            for r in lex
        }
        buckets = sorted({r["bucket"] for r in lex})
        pdf = (
            self.cat.read_partitions(self.spark, "postings", "bucket", buckets)
            .filter(F.col("term").isin(qterms))
            .toPandas()
        )
        if not len(pdf):
            return []
        kernel = phrase_mod._make_phrase_kernel(
            list(phrase), idf, meta["k1"], meta["b"], meta["avgdl"], k,
            int(meta["docs_per_shard"]), deleted=self._deleted_set()[0],
        )
        import pandas as pd

        merged = pd.concat(
            [kernel(g) for _, g in pdf.groupby("shard")], ignore_index=True
        )
        merged = merged.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return [
            Row(doc_id=int(d), score=float(s))
            for d, s in zip(merged["doc_id"], merged["score"])
        ]

    # -- boolean query language ---------------------------------------------

    def _prefix_rows(self, prefix: str, cap: int) -> list:
        """Epoch-cached lexicon expansion of ``prefix*``: the ``cap``
        highest-df matching terms (df desc, term asc). First hit pays one
        column-pruned lexicon scan (TakeOrderedAndProject, no shuffle);
        repeats are free until the index mutates."""
        key = (prefix, cap)
        if key not in self._prefix:
            from mahout_spark.index.permuterm import expand_prefix_rows

            lex = self.cat.read(self.spark, "lexicon")
            self._prefix[key] = expand_prefix_rows(
                self.spark, self.cat, lex, prefix, cap
            )
            for r in self._prefix[key]:
                self._terms[r["term"]] = (int(r["bucket"]), int(r["df"]))
        return self._prefix[key]

    def _fuzzy_rows(self, stem: str, n: int, cap: int) -> list:
        """Epoch-cached lexicon expansion of ``stem~n`` (boolquery.
        _fuzzy_expansion_rows ordering: distance asc, df desc, term asc).
        First hit pays one column-pruned lexicon scan; repeats are free
        until the index mutates."""
        key = (stem, n, cap)
        if key not in self._fuzzy:
            from mahout_spark.index.gramindex import expand_fuzzy_rows

            lex = self.cat.read(self.spark, "lexicon")
            self._fuzzy[key] = expand_fuzzy_rows(
                self.spark, self.cat, lex, stem, n, cap
            )
            for r in self._fuzzy[key]:
                self._terms[r["term"]] = (int(r["bucket"]), int(r["df"]))
        return self._fuzzy[key]

    def _wildcard_rows(self, pattern: str, cap: int) -> list:
        """Epoch-cached lexicon expansion of a general wildcard pattern
        (boolquery._wildcard_expansion_rows ordering: df desc, term asc).
        First hit pays one column-pruned lexicon scan; repeats are free
        until the index mutates."""
        key = (pattern, cap)
        if key not in self._wildcard:
            from mahout_spark.index.permuterm import expand_wildcard_rows

            lex = self.cat.read(self.spark, "lexicon")
            self._wildcard[key] = expand_wildcard_rows(
                self.spark, self.cat, lex, pattern, cap
            )
            for r in self._wildcard[key]:
                self._terms[r["term"]] = (int(r["bucket"]), int(r["df"]))
        return self._wildcard[key]

    def _regexp_rows(self, pattern: str, cap: int) -> list:
        """Epoch-cached lexicon expansion of a ``/regexp/`` leaf
        (boolquery._regexp_expansion_rows ordering: df desc, term asc).
        First hit pays one column-pruned lexicon scan; repeats are free
        until the index mutates."""
        key = (pattern, cap)
        if key not in self._regexp:
            from mahout_spark.index.boolquery import _regexp_expansion_rows

            lex = self.cat.read(self.spark, "lexicon")
            self._regexp[key] = _regexp_expansion_rows(lex, pattern, cap)
            for r in self._regexp[key]:
                self._terms[r["term"]] = (int(r["bucket"]), int(r["df"]))
        return self._regexp[key]

    def _expand_node(self, node, cap: int):
        """Prefix/fuzzy/wildcard lexicon expansion over the warm caches —
        shared by every query-string front-end."""
        from mahout_spark.index import queryparse as qp

        pres = qp.prefixes(node)
        if pres:
            node = qp.expand_prefixes(node, {
                p: [r["term"] for r in self._prefix_rows(p, cap)]
                for p in pres
            })
        fzs = qp.fuzzies(node)
        if fzs:
            node = qp.expand_fuzzies(node, {
                (s, n): [r["term"] for r in self._fuzzy_rows(s, n, cap)]
                for s, n in fzs
            })
        wcs = qp.wildcards(node)
        if wcs:
            node = qp.expand_wildcards(node, {
                pat: [r["term"] for r in self._wildcard_rows(pat, cap)]
                for pat in wcs
            })
        rxs = qp.regexps(node)
        if rxs:
            node = qp.expand_regexps(node, {
                pat: [r["term"] for r in self._regexp_rows(pat, cap)]
                for pat in rxs
            })
        return node

    def query(
        self, q, k: int = 10, max_expansions: int | None = None,
        merge: str = "spark", after: tuple | None = None,
        minimum_should_match: int = 0,
    ) -> DataFrame:
        """Boolean query-string retrieval (queryparse grammar: AND/OR/NOT,
        "exact phrase", "slop phrase"~w, prefix*) over the warm caches:
        term lookups hit the per-term lexicon cache, prefix expansions an
        epoch-keyed expansion cache — a fully warm boolean query launches
        ZERO lexicon jobs before the postings scan."""
        from mahout_spark.index import boolquery
        from mahout_spark.index import queryparse as qp

        self._ensure_fresh()
        cap = boolquery.MAX_EXPANSIONS if max_expansions is None else max_expansions
        node = qp.parse(q) if isinstance(q, str) else q
        qp.validate(node)
        if minimum_should_match:
            # wrap BEFORE expansion: an expanded prefix/fuzzy OR group
            # counts as ONE clause (Lucene BooleanClause accounting)
            node = qp.with_minimum_should_match(node, minimum_should_match)
        node = self._expand_node(node, cap)
        lex = self._lex_rows(qp.all_terms(node))
        return boolquery.boolean_topk(
            self.spark, self.cat, node, k=k, lex_rows=lex, merge=merge,
            after=after,
        )

    def explain(
        self, q, k: int = 10, max_expansions: int | None = None,
        minimum_should_match: int = 0,
    ) -> DataFrame:
        """Per-term BM25 breakdown (boolquery.explain_topk) over the warm
        caches — same expansion path as query(), zero lexicon jobs when
        warm."""
        from mahout_spark.index import boolquery
        from mahout_spark.index import queryparse as qp

        self._ensure_fresh()
        cap = (boolquery.MAX_EXPANSIONS if max_expansions is None
               else max_expansions)
        node = qp.parse(q) if isinstance(q, str) else q
        qp.validate(node)
        if minimum_should_match:
            node = qp.with_minimum_should_match(node, minimum_should_match)
        node = self._expand_node(node, cap)
        lex = self._lex_rows(qp.all_terms(node))
        return boolquery.explain_topk(
            self.spark, self.cat, node, k=k, lex_rows=lex,
        )

    def suggest(self, word: str, n: int = 5, max_edits: int = 2,
                min_df: int = 1) -> list:
        """Spell suggestions (boolquery.suggest_terms) served from the
        epoch-cached fuzzy expansion rows — a repeat suggest over the
        same stem launches no lexicon job."""
        from mahout_spark.index.boolquery import _suggest_from, suggest_terms
        from mahout_spark.index.queryparse import (
            MAX_FUZZY_EDITS,
            QueryParseError,
            _simple_normalize,
        )

        self._ensure_fresh()
        # same contract as suggest_terms — the cached fast path must not
        # silently accept what the cold path rejects (ADVICE round 3)
        if max_edits > MAX_FUZZY_EDITS:
            raise QueryParseError(
                f"max_edits is capped at {MAX_FUZZY_EDITS}: {max_edits}"
            )
        toks = _simple_normalize(word)
        if len(toks) == 1:
            stem = toks[0]
            return _suggest_from(
                lambda cap: self._fuzzy_rows(stem, max_edits, cap),
                stem, n, min_df,
            )
        return suggest_terms(self.spark, self.cat, word, n, max_edits,
                             min_df)

    def more_like(self, like_text: str, k: int = 10, **kwargs) -> DataFrame:
        """More-like-this over the warm caches (index/mlt.py with the
        candidate terms' lexicon lookups served by the per-term cache —
        a repeat MLT over overlapping vocabulary launches no lexicon
        job)."""
        from mahout_spark.index import mlt

        self._ensure_fresh()
        return mlt.more_like_this(
            self.spark, self.cat, like_text, k=k,
            _lex_resolver=self._lex_rows, **kwargs,
        )
