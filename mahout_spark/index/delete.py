"""Document deletion: tombstones now, purge at compaction.

The Lucene model, because it is the only one that scales: a delete is an
O(1) metadata write (the doc_id lands in a ``tombstones`` table), NOT a
postings rewrite — postings blocks are immutable between compactions.
Consequences, both deliberate and test-gated:

* **Queries exclude deleted docs immediately** — every retrieval kernel
  (WAND or/and, phrase, proximity, boolean, match-set) masks its
  candidates against the live tombstone set before top-k selection.
* **Corpus statistics (df, avgdl, N) keep their pre-delete values until
  compaction**, so surviving docs' BM25 scores do not move when a
  neighbor is deleted. This is exactly Lucene's behavior (docFreq counts
  deleted docs until merge) and it is what makes delete O(1): stats
  refresh would require re-aggregating the corpus per delete.
* **``compact_index(purge_deleted=True)`` reclaims** — tf_raw/docstats
  shed tombstoned rows, lexicon df and avgdl/N are recomputed, postings
  re-encode under the fresh stats, and the result is block-for-block the
  index a from-scratch build over the surviving docs would produce.

Pruning safety: a θ threshold seeded from a deleted doc's lower bound
could over-prune live docs (fewer than k live docs might clear it), so
the WAND kernel filters the seed BEFORE θ selection — θ is then the k-th
best LIVE lower bound and the safe-up-to-k argument goes through
unchanged.

Scale — ADAPTIVE masking (two regimes, bit-identical results):

* **array regime** (deletes <= ``DELETED_MAX_COLLECT``): the tombstone
  set rides into kernels as one sorted uint64 array in the UDF closure —
  the interactive shape, zero extra shuffle, fine to ~10^6-10^7 targeted
  deletes.
* **relational regime** (above the cap — the mass-delete shape, e.g. a
  dedup pass tombstoning 20-30% of a crawl corpus): the tombstone table
  NEVER reaches the driver. ``shard = doc_id // docs_per_shard`` is pure
  math, so the tombstones map to shards relationally and each shard
  kernel receives exactly ITS slice via a ``cogroup`` — the mask a doc
  can hit is identical to the global array's (docs in shard s only ever
  match tombstones in shard s), so scores, θ-seed filtering, and
  tie-breaks are bit-identical to the array regime. Cost: one extra
  hash-shuffle of the tombstone table by shard, amortized across every
  term's blocks in the scan.

``deleted_set`` picks the regime from the meta's delete counter (no
probe job); ``apply_shard_kernel`` is the single execution seam every
retrieval kernel (WAND or/and, batch, boolean, phrase, proximity,
match-set, explain) runs through.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark.sources.catalog import ParquetCatalog


def delete_docs(
    spark: SparkSession,
    cat: ParquetCatalog,
    doc_ids,
) -> dict:
    """Tombstone ``doc_ids`` (iterable of ints or a DataFrame with a
    ``doc_id`` column). Idempotent: already-deleted ids are ignored.
    Returns the updated meta. O(tombstones), never touches postings."""
    meta = cat.read_meta("postings")
    if isinstance(doc_ids, DataFrame):
        new = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = sorted({int(d) for d in doc_ids})
        new = spark.createDataFrame(
            [(d,) for d in ids], "doc_id long"
        )
    if cat.exists("tombstones"):
        existing = cat.read(spark, "tombstones")
        new = new.join(existing.select("doc_id"), "doc_id", "left_anti")
    now = time.time()
    # count + append WITHOUT a driver round-trip (ADVICE round 3): a
    # dedup-driven mass delete can be 10^7-10^8 ids, and the write path
    # never needed them on the driver — the count folds into the write
    # job as an Observation metric (one action, zero extra jobs).
    from pyspark.sql import Observation

    obs = Observation("delete_count")
    new = new.withColumn(
        "deleted_at", F.lit(now).cast("double")
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    cat.append_table(new, "tombstones")
    n_new = int(obs.get["n"])
    n_total = int(meta.get("deletes", 0)) + n_new
    meta = dict(meta)
    meta["deletes"] = n_total
    cat.write_meta("postings", meta)  # bumps meta_version -> caches drop
    cat.lineage_append("postings", {
        "op": "delete", "new": n_new, "total": n_total, "at": now,
    })
    return meta


def deleted_array(
    spark: SparkSession, cat: ParquetCatalog, meta: dict | None = None
) -> np.ndarray | None:
    """The live tombstone set as a SORTED uint64 array (kernel mask
    format), or None when nothing is deleted. One tiny scan of the
    tombstones table — callers that serve many queries (Searcher) cache
    this per meta_version epoch."""
    if meta is None:
        meta = cat.read_meta("postings")
    if not int(meta.get("deletes", 0)) or not cat.exists("tombstones"):
        return None
    rows = cat.read(spark, "tombstones").select("doc_id").collect()
    if not rows:
        return None
    return np.sort(np.asarray(
        [r["doc_id"] for r in rows], dtype=np.uint64
    ))


DELETED_MAX_COLLECT = 1 << 20  # regime switch: array mask vs cogroup slices


def deleted_set(
    spark: SparkSession,
    cat: ParquetCatalog,
    meta: dict | None = None,
    max_collect: int | None = None,
) -> tuple[np.ndarray | None, DataFrame | None]:
    """Adaptive tombstone mask: ``(array, None)`` below the cap (the
    sorted-uint64 kernel-closure format), ``(None, tombstones_df)`` above
    it (the relational regime — apply_shard_kernel cogroups the slices
    in). ``(None, None)`` when nothing is deleted. The regime choice
    reads the meta's exact delete counter — no probe job."""
    if meta is None:
        meta = cat.read_meta("postings")
    cap = DELETED_MAX_COLLECT if max_collect is None else max_collect
    n = int(meta.get("deletes", 0))
    if not n or not cat.exists("tombstones"):
        return None, None
    if n <= cap:
        return deleted_array(spark, cat, meta), None
    return None, cat.read(spark, "tombstones").select("doc_id").distinct()


_NP_DTYPES = {
    "long": "int64", "bigint": "int64", "int": "int32",
    "double": "float64", "float": "float32", "boolean": "bool",
    "string": "object",
}


def _empty_pdf(schema: str):
    """Typed empty pandas frame for a 'name type, ...' DDL string — what
    a cogroup wrapper returns for shards that hold tombstones but no
    surviving blocks (the kernel itself assumes a non-empty group)."""
    import pandas as pd

    cols = {}
    for field in schema.split(","):
        name, typ = field.strip().split()
        cols[name] = pd.Series(dtype=_NP_DTYPES.get(typ.lower(), "object"))
    return pd.DataFrame(cols)


def apply_shard_kernel(
    blocks: DataFrame,
    kernel,
    schema: str,
    tomb: DataFrame | None = None,
    docs_per_shard: int | None = None,
) -> DataFrame:
    """THE execution seam for every per-shard retrieval kernel. Without
    ``tomb`` (no deletes, or the array regime where the mask already sits
    in the kernel closure): plain groupBy(shard).applyInPandas. With
    ``tomb`` (relational regime): cogroup the tombstones — mapped to
    shards by the same ``doc_id // docs_per_shard`` math the build uses —
    so each kernel call receives exactly its shard's sorted slice as a
    second argument. Bit-identical to the array regime: a shard's docs
    can only ever collide with its own shard's tombstones. The tombstone
    table never touches the driver or a task closure."""
    if tomb is None:
        return blocks.groupBy("shard").applyInPandas(kernel, schema)
    if docs_per_shard is None:
        raise ValueError("relational tombstone regime needs docs_per_shard")
    # integer `div`, matching the build's doc_id // docs_per_shard
    # EXACTLY: a double quotient can round across an integer boundary
    # for ids near 2^53 and silently map a tombstone to the wrong shard
    tomb_s = tomb.select(
        F.expr(f"CAST(doc_id AS BIGINT) div {int(docs_per_shard)}")
        .alias("shard"),
        F.col("doc_id").cast("long"),
    )

    def wrapped(left, right):
        if len(left) == 0:
            return _empty_pdf(schema)  # tombstones-only shard: no blocks
        dels = None
        if len(right):
            dels = np.unique(
                right["doc_id"].to_numpy(np.int64).astype(np.uint64)
            )
        return kernel(left, deleted=dels)

    return (
        blocks.groupBy("shard")
        .cogroup(tomb_s.groupBy("shard"))
        .applyInPandas(wrapped, schema)
    )


def live_mask(docs: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """Boolean mask of ``docs`` entries NOT in the sorted ``deleted``
    set. np.isin dispatches to a sort-based merge; docs arrays here are
    already block-pruned candidates, so this is linear-ish and tiny next
    to decode cost."""
    if deleted is None or len(docs) == 0:
        return np.ones(len(docs), dtype=bool)
    return ~np.isin(docs, deleted)


def delete_by_query(
    spark: SparkSession,
    cat: ParquetCatalog,
    query,
    max_expansions: int | None = None,
) -> dict:
    """The ES ``_delete_by_query`` API (X118): tombstone every doc
    matching ``query`` — the match kernel's doc_id relation flows
    STRAIGHT into the tombstone append (delete_docs' DataFrame path),
    so a match set of 10^8 ids never visits the driver; the count rides
    the write's Observation metric like every other delete. Same
    Lucene visibility contract as delete_docs: matches vanish from
    results immediately, corpus statistics keep their pre-delete values
    until compaction. Returns the updated meta."""
    from mahout_spark.index.boolquery import MAX_EXPANSIONS, matching_docs

    m = matching_docs(
        spark, cat, query,
        max_expansions=(MAX_EXPANSIONS if max_expansions is None
                        else max_expansions),
    )
    return delete_docs(spark, cat, m)
