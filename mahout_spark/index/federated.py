"""Federated search across many indexes + offline index merging.

The 100 TB operating shape for this engine is not one monolithic index:
it is one index per ingest partition (per day / tenant / language /
repo-shard), each built, appended, compacted and deleted-from
independently. Two operations make that fleet behave like a single
logical index:

* ``federated_topk`` — answer one query across N catalogs with GLOBAL
  corpus statistics (the Elasticsearch/Solr ``dfs_query_then_fetch``
  model; reference analog: the per-directory corpora the mwk analysis
  treats as one collection). A naive scatter-gather that lets each
  index score with its LOCAL df/avgdl is rank-WRONG whenever term
  statistics drift across partitions (a term rare on one day, common
  the next); this operator first sums per-index (df, n_docs,
  doclen totals) driver-side — bucket-pruned lexicon lookups, tiny —
  then runs every index's shard kernel under the same global idf/avgdl
  table, so scores are BIT-IDENTICAL to a single union index (gated in
  tests; the stored per-block ``block_max_score`` bounds were computed
  with index-local stats, so the kernels switch to the append-safe
  (max_tf, min_dl) bounds exactly as post-append queries do). All
  indexes' per-shard kernels land in ONE Spark job: the per-index
  plans union before the global top-k cut.

* ``merge_indexes`` — fold N catalogs into one new catalog WITHOUT
  re-tokenizing a document (the Lucene segment-merge analog one level
  up: segments:shards :: shards:indexes). Re-uses the compaction
  recipe: union the tf_raw streams (bucket/shard recomputed under the
  target layout, so sources with different n_buckets/docs_per_shard
  merge fine), union docstats, purge each source's tombstones, rebuild
  lexicon + postings via the deterministic whole-index encoder — the
  result is block-for-block identical to a fresh build over the union
  corpus (test-gated), at the cost of one join + shuffle + write over
  tf rows only.

Contract shared by both: doc_ids must be globally unique across the
indexes (they are the identity the reference's pipeline keys every
stage on; ``merge_indexes`` verifies this with one distinct-count over
the merged docstats and refuses to produce a silently-corrupt index).
k1/b/tokenizer mode must match (asserted — mixing scoring params across
a federation is a caller bug, not a mergeable state).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark.sources.catalog import ParquetCatalog


def _as_named(cats) -> dict[str, ParquetCatalog]:
    if isinstance(cats, dict):
        return dict(cats)
    return {f"ix{i}": c for i, c in enumerate(cats)}


_SCORING_KEYS = ("mode", "k1", "b")


def _check_compatible(metas: dict[str, dict], keys=_SCORING_KEYS) -> None:
    names = sorted(metas)
    first = metas[names[0]]
    for nm in names[1:]:
        for key in keys:
            if metas[nm].get(key) != first.get(key):
                raise ValueError(
                    f"indexes disagree on {key!r}: "
                    f"{names[0]}={first.get(key)!r} vs "
                    f"{nm}={metas[nm].get(key)!r}"
                )


def global_stats(
    spark: SparkSession,
    cats: dict[str, ParquetCatalog],
    terms: list[str],
) -> tuple[int, float, dict[str, int], dict[str, list]]:
    """Sum corpus statistics across indexes: (n_docs, avgdl,
    df-per-term, per-index lexicon rows for the query terms).

    n_docs / doclen totals come straight from each index's meta (the
    build/append/purge lifecycle maintains running ``doclen_sum`` /
    ``doclen_n`` precisely so that derived stats never need a
    re-aggregation); per-term df needs one bucket-pruned lexicon
    lookup per index — driver-side cost is O(query terms x indexes),
    never corpus-shaped."""
    from mahout_spark.functions.xxhash import term_bucket
    from mahout_spark.index.wand import _read_query_lexicon

    qterms = list(dict.fromkeys(terms))
    n_docs = 0
    dl_sum = 0
    dl_n = 0
    df_global: dict[str, int] = {}
    lex_by_cat: dict[str, list] = {}
    for name, cat in cats.items():
        meta = cat.read_meta("postings")
        n_docs += int(meta["n_docs"])
        if "doclen_sum" in meta and "doclen_n" in meta:
            dl_sum += int(meta["doclen_sum"])
            dl_n += int(meta["doclen_n"])
        else:
            # legacy meta without running doclen totals: recompute from
            # docstats (one tiny agg, same as append.py's legacy path) —
            # silently treating it as 0 would skew the global avgdl and
            # break the bit-identical-to-union contract
            ds = cat.read(spark, "docstats")
            row = ds.agg(
                F.sum(F.when(F.col("doclen") > 0, F.col("doclen")))
                .alias("s"),
                F.sum((F.col("doclen") > 0).cast("long")).alias("n"),
            ).first()
            dl_sum += int(row["s"] or 0)
            dl_n += int(row["n"] or 0)
        n_buckets = int(meta["n_buckets"])
        qbuckets = sorted({term_bucket(t, n_buckets) for t in qterms})
        # an unbuilt index raises loudly here (missing lexicon table);
        # None just means none of these terms' buckets exist in this index
        lex = _read_query_lexicon(spark, cat, qbuckets)
        rows = (
            lex.filter(F.col("term").isin(qterms))
            .select("term", "bucket", "df")
            .collect()
            if lex is not None
            else []
        )
        lex_by_cat[name] = rows
        for r in rows:
            df_global[r["term"]] = df_global.get(r["term"], 0) + int(r["df"])
    avgdl = dl_sum / dl_n if dl_n else 0.0
    return n_docs, avgdl, df_global, lex_by_cat


def federated_topk(
    spark: SparkSession,
    cats,
    terms: list[str],
    k: int = 10,
    mode_all: bool = False,
    prune: bool = True,
    merge: str = "spark",
) -> DataFrame:
    """BM25 top-k across many indexes under GLOBAL statistics:
    (index, doc_id, score) — rank- and score-identical to a single
    index built over the union corpus (doc_ids globally unique by
    contract; the ``index`` column says which catalog served the hit).

    ``cats``: ``{name: ParquetCatalog}`` (a plain list gets ``ix0..``
    names). One Spark job answers the query: each index contributes a
    bucket-pruned postings scan + shard kernel running under the shared
    global idf/avgdl table (stats-independent block bounds — the stored
    maxima are index-local), the branches union, and one
    TakeOrderedAndProject makes the cut. ``merge="driver"`` collects the
    <=k rows per shard per index and merges driver-side (k x shards x
    indexes tiny rows) for interactive latency, exactly like
    ``wand.topk``. Per-index tombstones are honored (each kernel masks
    its own index's deleted docs)."""
    from mahout_spark.index.delete import apply_shard_kernel, deleted_set
    from mahout_spark.index.wand import _make_shard_kernel

    cats = _as_named(cats)
    if not cats:
        raise ValueError("federated_topk needs at least one index")
    metas = {nm: c.read_meta("postings") for nm, c in cats.items()}
    _check_compatible(metas)
    first = metas[sorted(metas)[0]]
    k1, b = first["k1"], first["b"]

    qterms = list(dict.fromkeys(terms))
    n_docs, avgdl, df_global, lex_by_cat = global_stats(spark, cats, qterms)
    out_schema = "index string, doc_id long, score double"
    empty = spark.createDataFrame([], out_schema)
    if not df_global:
        return empty
    idf_by_term = {
        t: float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
        for t, df in df_global.items()
    }
    if mode_all and len(idf_by_term) < len(qterms):
        return empty  # a term absent from EVERY index -> empty AND

    branches = []
    for name in sorted(cats):
        cat, meta = cats[name], metas[name]
        rows = lex_by_cat[name]
        if not rows:
            continue  # no query term lives in this index
        present = {r["term"] for r in rows}
        if mode_all and len(present) < len(qterms):
            # this index cannot host an all-terms match; skip its scan
            continue
        deleted, tomb = None, None
        if int(meta.get("deletes", 0)):
            deleted, tomb = deleted_set(spark, cat, meta)
        buckets = sorted({r["bucket"] for r in rows})
        blocks = cat.read_partitions(
            spark, "postings", "bucket", buckets
        ).filter(F.col("term").isin(sorted(present)))
        kernel = _make_shard_kernel(
            # per-index kernel sees only ITS terms' idf entries, but the
            # values are global; n_terms stays the full query length so
            # mode_all keeps exact AND semantics per shard
            {t: idf_by_term[t] for t in present},
            k1, b, avgdl, k, mode_all, len(qterms), prune,
            use_stored_bounds=False, deleted=deleted,
        )
        branches.append(
            apply_shard_kernel(
                blocks, kernel, "doc_id long, score double",
                tomb, int(meta["docs_per_shard"]),
            )
            .select(F.lit(name).alias("index"), "doc_id", "score")
        )
    if not branches:
        return empty
    per_shard = branches[0]
    for br in branches[1:]:
        per_shard = per_shard.unionAll(br)
    if merge == "driver":
        rows = sorted(
            per_shard.collect(), key=lambda r: (-r["score"], r["doc_id"])
        )[:k]
        return spark.createDataFrame(rows, out_schema)
    return per_shard.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)


def federated_boolean_topk(
    spark: SparkSession,
    cats,
    query,
    k: int = 10,
    max_expansions: int | None = None,
    normalize=None,
    synonyms: dict | None = None,
    synonym_blend: bool = False,
    minimum_should_match: int = 0,
    merge: str = "spark",
) -> DataFrame:
    """The FULL boolean query language (AND/OR/NOT, phrases, prefixes,
    fuzzy, wildcards, regexps, boosts, mm, synonyms) across a catalog
    fleet under global statistics: (index, doc_id, score), rank- and
    score-identical to ``boolean_topk`` on the union index (test-gated
    across every leaf kind).

    Two federation-specific behaviors worth naming:

    * **Expansions merge globally.** A prefix/fuzzy/wildcard/regexp leaf
      collects candidates per index (each index's local top-cap), sums
      df across indexes, and re-ranks under the ONE global cap with the
      single-index ordering (fuzzy: distance asc, global df desc, term
      asc; others: global df desc, term asc) — so the expanded term set
      is the union index's whenever each index's candidate list is
      exhaustive under the cap (always true until a single index has >
      cap matching terms; past that, the per-index cap is the standard
      distributed approximation — ES cross-cluster search doesn't merge
      expansion statistics at all).
    * **Synonym blending blends GLOBAL dfs** (group-max over summed
      dfs), matching what the union index would compute.

    Phrase leaves require every queried index positional. Per-index
    tombstones are honored. One Spark job: per-index branches union
    before the global cut, exactly like federated_topk."""
    from mahout_spark.index import queryparse as qp
    from mahout_spark.index.boolquery import (
        MAX_EXPANSIONS,
        _blended_idf,
        _make_boolean_kernel,
        _regexp_expansion_rows,
    )
    cap = MAX_EXPANSIONS if max_expansions is None else max_expansions
    cats = _as_named(cats)
    if not cats:
        raise ValueError("federated_boolean_topk needs at least one index")
    metas = {nm: c.read_meta("postings") for nm, c in cats.items()}
    _check_compatible(metas)
    first = metas[sorted(metas)[0]]
    k1, b = first["k1"], first["b"]
    norm = qp._simple_normalize if normalize is None else normalize

    if isinstance(query, str):
        node = qp.parse(query) if normalize is None else qp.parse(
            query, normalize)
    else:
        qp.validate(query)
        node = query
    if synonyms:
        node = qp.expand_synonyms(node, synonyms, norm)
    if minimum_should_match:
        node = qp.with_minimum_should_match(node, minimum_should_match)
    if qp.has_phrase(node):
        lacking = sorted(
            nm for nm, m in metas.items() if not m.get("positional")
        )
        if lacking:
            raise ValueError(
                f"phrase/slop leaves need positional indexes; built "
                f"without positions=True: {lacking}"
            )

    # -- expansions: per-index candidates -> global df merge -> one cap --
    pres = qp.prefixes(node)
    fzs = qp.fuzzies(node)
    wcs = qp.wildcards(node)
    rxs = qp.regexps(node)
    if pres or fzs or wcs or rxs:
        # candidates[kind_key][term] = [global_df, min_dist]
        cand: dict = {}

        def feed(key, rows):
            slot = cand.setdefault(key, {})
            for r in rows:
                ent = slot.setdefault(r["term"], [0, None])
                ent[0] += int(r["df"])
                d = r["dist"] if "dist" in r.__fields__ else None
                if d is not None:
                    ent[1] = d if ent[1] is None else min(ent[1], d)

        from mahout_spark.index.gramindex import expand_fuzzy_rows
        from mahout_spark.index.permuterm import (
            expand_prefix_rows,
            expand_wildcard_rows,
        )

        for nm in sorted(cats):
            lex = cats[nm].read(spark, "lexicon")
            for p in pres:
                feed(("p", p), expand_prefix_rows(
                    spark, cats[nm], lex, p, cap, meta=metas[nm]))
            for stem, ne in fzs:
                feed(("f", stem, ne), expand_fuzzy_rows(
                    spark, cats[nm], lex, stem, ne, cap, meta=metas[nm]))
            for pat in wcs:
                feed(("w", pat), expand_wildcard_rows(
                    spark, cats[nm], lex, pat, cap, meta=metas[nm]))
            for pat in rxs:
                feed(("r", pat), _regexp_expansion_rows(lex, pat, cap))

        def ranked(key, with_dist=False):
            slot = cand.get(key, {})
            if with_dist:
                order = sorted(
                    slot.items(), key=lambda e: (e[1][1], -e[1][0], e[0])
                )
            else:
                order = sorted(
                    slot.items(), key=lambda e: (-e[1][0], e[0])
                )
            return [t for t, _ in order[:cap]]

        if pres:
            node = qp.expand_prefixes(
                node, {p: ranked(("p", p)) for p in pres})
        if fzs:
            node = qp.expand_fuzzies(
                node, {(s, n): ranked(("f", s, n), with_dist=True)
                       for s, n in fzs})
        if wcs:
            node = qp.expand_wildcards(
                node, {p: ranked(("w", p)) for p in wcs})
        if rxs:
            node = qp.expand_regexps(
                node, {p: ranked(("r", p)) for p in rxs})

    # -- global stats + idf table over the EXPANDED tree ------------------
    qterms = qp.all_terms(node)
    out_schema = "index string, doc_id long, score double"
    empty = spark.createDataFrame([], out_schema)
    if not qterms:
        return empty
    n_docs, avgdl, df_global, lex_by_cat = global_stats(spark, cats, qterms)
    score_terms_all = [t for t in qp.positive_terms(node) if t in df_global]
    if not score_terms_all:
        return empty
    if synonyms and synonym_blend:
        idf_by_term = _blended_idf(
            {t: {"df": df} for t, df in df_global.items()},
            qp.synonym_groups(synonyms, norm), n_docs,
        )
    else:
        idf_by_term = {
            t: float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
            for t, df in df_global.items()
        }
    weights = qp.term_weights(node)
    if weights:
        idf_by_term = {
            t: v * weights.get(t, 1.0) for t, v in idf_by_term.items()
        }

    # -- per-index kernel branches, one union, one cut ---------------------
    branches = []
    for name in sorted(cats):
        cat, meta = cats[name], metas[name]
        rows = lex_by_cat[name]
        if not rows:
            continue
        present = {r["term"] for r in rows}
        score_terms = [t for t in score_terms_all if t in present]
        if not score_terms:
            continue  # no positive query term lives here -> nothing scores
        deleted, tomb = None, None
        if int(meta.get("deletes", 0)):
            from mahout_spark.index.delete import deleted_set

            deleted, tomb = deleted_set(spark, cat, meta)
        # positional decode only when the QUERY needs it (same gate as
        # _compile_query): a phrase-free query on a positional index must
        # not decode position payloads or trip the shard budget
        positional = qp.has_phrase(node) and bool(meta.get("positional"))
        buckets = sorted({r["bucket"] for r in rows})
        blocks = cat.read_partitions(
            spark, "postings", "bucket", buckets
        ).filter(F.col("term").isin(sorted(present)))
        kernel = _make_boolean_kernel(
            node, score_terms,
            {t: idf_by_term[t] for t in present},
            k1, b, avgdl, k, int(meta["docs_per_shard"]), positional,
            deleted=deleted,
        )
        from mahout_spark.index.delete import apply_shard_kernel

        branches.append(
            apply_shard_kernel(
                blocks, kernel, "doc_id long, score double",
                tomb, int(meta["docs_per_shard"]),
            )
            .select(F.lit(name).alias("index"), "doc_id", "score")
        )
    if not branches:
        return empty
    per_shard = branches[0]
    for br in branches[1:]:
        per_shard = per_shard.unionAll(br)
    if merge == "driver":
        rows = sorted(
            per_shard.collect(), key=lambda r: (-r["score"], r["doc_id"])
        )[:k]
        return spark.createDataFrame(rows, out_schema)
    return per_shard.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)


_LAYOUT_KEYS = _SCORING_KEYS + ("positional", "block_size", "lang_col")


def merge_indexes(
    spark: SparkSession,
    cats,
    out_dir: str,
    build_commit: str = "",
    n_buckets: int | None = None,
    docs_per_shard: int | None = None,
) -> ParquetCatalog:
    """Fold N catalogs into ONE new catalog at ``out_dir`` without
    re-tokenizing (the cross-index Lucene segment merge; tokenization
    dominates build cost, so this runs at compaction cost: one union +
    shuffle + write over tf rows). Sources are read-only throughout.

    Layout params (``n_buckets``, ``docs_per_shard``) default to the
    first catalog's; bucket/shard columns are RECOMPUTED on the union
    stream under the target layout, so sources with different layouts
    merge fine. Scoring params + tokenizer mode must match (asserted).
    Each source's tombstones are purged on the way in (anti-join), so
    the result is block-for-block identical to a fresh build over the
    union of the LIVE corpora — the same determinism contract as
    ``compact_index``, test-gated. Refuses to merge if doc_ids collide
    across sources (one distinct-count over merged docstats)."""
    import time

    from pyspark.sql import Observation

    from mahout_spark.functions.ids import dense_ids
    from mahout_spark.index.build import _encode_all_buckets, _make_encoder

    cats = _as_named(cats)
    names = sorted(cats)
    if not names:
        raise ValueError("merge_indexes needs at least one source index")
    metas = {nm: cats[nm].read_meta("postings") for nm in names}
    _check_compatible(metas, keys=_LAYOUT_KEYS)
    first = metas[names[0]]
    n_buckets = int(n_buckets or first["n_buckets"])
    docs_per_shard = int(docs_per_shard or first["docs_per_shard"])
    positional = bool(first.get("positional"))

    out = ParquetCatalog(out_dir)
    started = time.time()

    def _live(nm: str, table: str) -> DataFrame:
        cat, meta = cats[nm], metas[nm]
        df = cat.read(spark, table)
        if int(meta.get("deletes", 0)) and cat.exists("tombstones"):
            tomb = cat.read(spark, "tombstones").select("doc_id").distinct()
            df = df.join(F.broadcast(tomb), "doc_id", "left_anti")
        return df

    # ---- tf_raw: union + target layout (bucket/shard recomputed) ----------
    tf_parts = []
    for nm in names:
        tf = _live(nm, "tf_raw")
        tf_parts.append(
            tf.drop("bucket", "shard")
            .withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
            )
            .withColumn(
                "shard",
                (F.col("doc_id") / F.lit(docs_per_shard)).cast("long"),
            )
        )
    tf_all = tf_parts[0]
    for p in tf_parts[1:]:
        tf_all = tf_all.unionByName(p)
    out.overwrite_table_partitioned(tf_all, "tf_raw", "bucket")
    tf_all = out.read(spark, "tf_raw")

    # ---- docstats: union + corpus scalars on the write job ----------------
    ds_parts = [_live(nm, "docstats") for nm in names]
    cols0 = ds_parts[0].columns
    for nm, p in zip(names[1:], ds_parts[1:]):
        if p.columns != cols0:
            raise ValueError(
                f"docstats schemas differ: {names[0]}={cols0} vs "
                f"{nm}={p.columns} — id_cols must match to merge"
            )
    ds_all = ds_parts[0]
    for p in ds_parts[1:]:
        ds_all = ds_all.unionByName(p)
    obs = Observation("merge_scalars")
    pos_dl = F.when(F.col("doclen") > 0, F.col("doclen"))
    out.overwrite_table(
        ds_all.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(pos_dl).alias("dl_sum"),
            F.sum((F.col("doclen") > 0).cast("long")).alias("dl_n"),
        ),
        "docstats",
    )
    row = obs.get
    n_docs = int(row["n"])
    dl_sum = int(row["dl_sum"] or 0)
    dl_n = int(row["dl_n"] or 0)

    merged_ds = out.read(spark, "docstats")
    n_distinct = merged_ds.select("doc_id").distinct().count()
    if n_distinct != n_docs:
        raise ValueError(
            f"doc_id collision across source indexes: {n_docs} rows but "
            f"{n_distinct} distinct doc_ids — federated/merged catalogs "
            "require globally unique doc_ids"
        )

    # ---- lexicon + postings: exactly the compaction recipe ----------------
    lex = tf_all.groupBy("term", "bucket").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    _cleanup: list = []
    lex_ids = dense_ids(lex, ["term"], "term_id", cleanup=_cleanup)
    out.overwrite_table_partitioned(lex_ids, "lexicon", "bucket")
    for _c in _cleanup:
        _c.unpersist()

    avgdl = dl_sum / dl_n if dl_n else 0.0
    k1, b = first["k1"], first["b"]
    # meta goes down BEFORE the encode (same order as build stage 1):
    # _encode_all_buckets reads docs_per_shard/positional from it, and a
    # crashed merge leaves a catalog that a re-run resumes per bucket
    out.write_meta(
        "postings",
        {
            "n_docs": n_docs, "avgdl": avgdl, "mode": first["mode"],
            "lang_col": first.get("lang_col"), "positional": positional,
            "n_buckets": n_buckets, "docs_per_shard": docs_per_shard,
            "block_size": int(first["block_size"]), "k1": k1, "b": b,
            "appends": 0, "deletes": 0,
            "build_commit": build_commit or f"merge-{int(started)}",
            "merged_from": [cats[nm].root for nm in names],
            "stage1_sec": round(time.time() - started, 3),
            "doclen_sum": dl_sum, "doclen_n": dl_n,
        },
    )
    encoder = _make_encoder(
        n_docs, avgdl, k1, b, int(first["block_size"]),
        positional=positional,
    )
    lexicon = out.read(spark, "lexicon")
    _encode_all_buckets(
        spark, out, lexicon, encoder, n_buckets,
        build_commit or f"merge-{int(started)}",
    )
    out.lineage_append("postings", {
        "op": "merge", "sources": len(names), "n_docs": n_docs,
        "at": started,
    })
    return out
