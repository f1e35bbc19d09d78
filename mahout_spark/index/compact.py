"""Postings compaction after incremental appends.

Appends (index/append.py) deliberately never rewrite existing blocks:
new docs land as NEW blocks per (term, shard), and because corpus stats
(df, avgdl) drift, queries switch from the tight build-time
``block_max_score`` bounds to the looser stats-independent
(block_max_tf, block_min_dl) bounds. Over many appends two costs
accumulate:

* block fragmentation — each append adds at least one (usually small)
  block per touched (term, shard), so block-constant costs (row
  overhead, decode calls, bound checks) grow with append count;
* pruning slack — the stats-independent bounds are valid but looser
  than fresh block maxima, so WAND decodes more blocks than a fresh
  build would.

``compact_index`` re-encodes the postings from ``tf_raw`` (which holds
the union of all appended rows) under the CURRENT corpus stats — the
same one-shuffle whole-index encode as a fresh build's stage 3 — and
resets the ``appends`` counter so queries use stored (tight) bounds
again. Deterministic: the encoder is a pure function of the sorted
(term, shard, doc_id) stream, so a compacted index is block-for-block
identical to a from-scratch rebuild over the same corpus, without
re-tokenizing a single document (tokenization dominates build cost —
compaction costs one join + shuffle + write over the tf rows only).

Operationally this is the Lucene segment-merge / LSM-compaction analog:
run it when append count or measured block fragmentation warrants, e.g.
nightly on a rolling-ingest index. Idempotent and crash-safe per bucket
(same staged atomic partition overwrite as the build).
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mahout_spark.index.build import _encode_all_buckets, _make_encoder
from mahout_spark.sources.catalog import ParquetCatalog


def _purge_tombstones(spark: SparkSession, cat: ParquetCatalog,
                      meta: dict) -> dict:
    """Fold the tombstone set into the base tables (index/delete.py's
    reclamation half): tf_raw and docstats shed deleted rows, the
    lexicon's df/cf re-aggregate from the surviving postings, n_docs /
    avgdl recompute, and the tombstones table disappears. After this the
    caller's re-encode runs under the POST-delete statistics, so the
    compacted index is the one a from-scratch build over the surviving
    docs would produce (block-for-block — the encoder is deterministic
    over the sorted tf stream, and doc_ids/shards are stable).

    Deleted ids join in as a broadcast anti-join (the tombstone table is
    tiny relative to postings by construction; a 10^8-delete purge wants
    the same join left to AQE — the hint threshold below)."""
    tomb = cat.read(spark, "tombstones").select("doc_id").distinct()
    n_tomb = tomb.count()
    hint = F.broadcast(tomb) if n_tomb <= 5_000_000 else tomb

    # tf_raw: anti-join + staged atomic swap (same pattern as build
    # stage 1 — partitionBy on the unshuffled stream, no repartition).
    # The swap renames the old table aside before promoting the stage —
    # a crash can never leave the catalog with tf_raw missing at its
    # canonical path, which matters because tf_raw is the sole source
    # for the re-encode and the purge re-run's no-op anti-join.
    tf_raw = cat.read(spark, "tf_raw")
    tf_live = tf_raw.join(hint, "doc_id", "left_anti")
    cat.overwrite_table_partitioned(tf_live, "tf_raw", "bucket")

    # docstats: filter + recompute corpus scalars on the write job
    from pyspark.sql import Observation

    docstats = cat.read(spark, "docstats")
    live = docstats.join(hint, "doc_id", "left_anti")
    obs = Observation("purge_scalars")
    pos_dl = F.when(F.col("doclen") > 0, F.col("doclen"))
    cat.overwrite_table(
        live.observe(
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

    # lexicon: re-aggregate df/cf from the surviving tf stream (same
    # recipe as build stage 2 — bucket-partitioned, dense term ids)
    from mahout_spark.functions.ids import dense_ids

    tf_live = cat.read(spark, "tf_raw")
    lex = tf_live.groupBy("term", "bucket").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    _cleanup: list = []
    lex_ids = dense_ids(lex, ["term"], "term_id", cleanup=_cleanup)
    cat.overwrite_table_partitioned(lex_ids, "lexicon", "bucket")
    for _c in _cleanup:
        _c.unpersist()

    # tombstones stay on disk until the re-encode COMPLETES: postings
    # still contain the deleted docs until every bucket swaps, and the
    # query-time mask is what keeps them invisible through a crash in
    # that window (a purge re-run is a no-op anti-join — idempotent).
    meta = dict(meta)
    meta.update({
        "n_docs": n_docs, "avgdl": dl_sum / dl_n if dl_n else 0.0,
        "doclen_sum": dl_sum, "doclen_n": dl_n,
    })
    cat.lineage_append("postings", {
        "op": "purge", "purged": n_tomb, "n_docs": n_docs,
        "at": time.time(),
    })
    return meta


def compact_index(
    spark: SparkSession,
    cat: ParquetCatalog,
    build_commit: str = "",
    purge_deleted: bool = True,
) -> dict:
    """Compact the postings table in place; returns the updated meta.

    Requires a consistent index (no in-flight append). Reads tf_raw +
    lexicon, re-encodes every bucket in one job, atomically swaps each
    bucket partition, then writes meta with fresh stats and appends=0.
    With ``purge_deleted`` (default) any tombstoned docs are physically
    removed first and df/avgdl/N recomputed, making the result identical
    to a fresh build over the surviving corpus.
    """
    meta = cat.read_meta("postings")
    purged = purge_deleted and int(meta.get("deletes", 0))
    if purged:
        meta = _purge_tombstones(spark, cat, meta)
    encoder = _make_encoder(
        meta["n_docs"], meta["avgdl"], meta["k1"], meta["b"],
        meta["block_size"], positional=bool(meta.get("positional")),
    )
    lexicon = cat.read(spark, "lexicon")
    started = time.time()
    _encode_all_buckets(
        spark, cat, lexicon, encoder, int(meta["n_buckets"]),
        build_commit or f"compact-{int(started)}",
    )
    meta = dict(meta)
    meta["appends"] = 0  # block_max_score is tight again
    meta["compacted_at"] = started
    # purge path re-aggregates the lexicon -> dictionary tiers are
    # stale; even without a purge the compaction epoch is the natural
    # rebuild point, so drop-and-rebuild beats silently serving a
    # possibly-stale tier
    if meta.pop("permuterm", None):
        shutil.rmtree(cat.table_path("permuterm"), ignore_errors=True)
    if meta.pop("gramindex", None):
        shutil.rmtree(cat.table_path("gramindex"), ignore_errors=True)
    if purged:
        # every bucket swapped under post-delete stats — the mask is no
        # longer needed and the delete lifecycle closes here
        shutil.rmtree(cat.table_path("tombstones"), ignore_errors=True)
        meta["deletes"] = 0
    cat.write_meta("postings", meta)
    return meta
