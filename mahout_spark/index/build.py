"""Inverted-index build (SURVEY.md §7.1 Phase 2).

Physical design — chosen for the 100 TB / 10^12-file target, exercised here
at sandbox scale:

* **Document-sharded postings.** Every posting row carries
  ``shard = doc_id // docs_per_shard``. All terms share the same global
  docid-range boundaries, so (a) a hot term's postings split across many
  shards — skew defused structurally, no hash-salting rebalance pass needed
  (generalizes BASELINE.json's salted repartition: the salt is the docid
  range, which keeps blocks non-overlapping and docid-sorted for free), and
  (b) at query time all query terms' blocks for one docid range co-locate in
  one task, which is exactly what top-k pruning needs.

* **Term-bucket partitioning on disk.** ``bucket = pmod(xxhash64(term),
  n_buckets)`` is the hive partition of the postings table: a query term
  maps to one directory — partition pruning is the on-disk realization of
  lexicon lookup. Buckets are also the checkpoint/resume unit: each bucket
  partition is written atomically (stage + rename) with a lineage row; a
  restarted build skips complete buckets (BASELINE.json resumable-build
  requirement).

* **Blocks.** Within (term, shard), postings sort by doc_id and cut into
  ``block_size`` blocks: delta+varint doc_ids / varint tfs / varint doclens
  (exact ints -> exact BM25 at query), with per-block
  (count, first_docid, block_max_docid, block_max_score, block_max_tf,
  block_min_dl) for block-max skipping. The (max_tf, min_dl) pair yields a
  stats-independent upper bound idf·f(max_tf, min_dl) — still valid after
  appends change df/avgdl, which is what makes incremental appends safe
  without rewriting old blocks (index/append.py).

Shuffle inventory of a full build: tokenize + tf (narrow, partitionBy
write without repartition) -> shuffle 1 (lexicon groupBy term) ->
shuffle 2 (repartition("term") + sortWithinPartitions for the
partition-level block encoder). No driver-side corpus state anywhere;
the only collects are tiny (per-partition offset table, per-bucket
lineage stats, lexicon rows for query terms).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark import BM25_B, BM25_K1
from mahout_spark.functions import dense_ids
from mahout_spark.index.codec import varint_encode_offsets
from mahout_spark.operators import stats
from mahout_spark.sources.catalog import ParquetCatalog

POSTINGS_SCHEMA = (
    "term string, term_id long, shard long, block_id int, count int, "
    "first_docid long, block_max_docid long, block_max_score double, "
    "block_max_tf long, block_min_dl long, "
    "doc_ids binary, tfs binary, doclens binary"
)

# positional index (positions=True): per block two extra payloads —
# pos_counts (varint: positions per posting; stored explicitly, not assumed
# == tf, so positionless synthetic terms like lang tags round-trip) and
# positions (per-posting delta-gapped varint token indices, first absolute).
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", pos_counts binary, positions binary"


def postings_schema(positional: bool) -> str:
    return POSTINGS_SCHEMA_POS if positional else POSTINGS_SCHEMA


# widest index for which per-bucket lineage stats ride the write job as
# Observation metrics (2 conditional aggs per bucket); wider indexes use
# a post-write groupBy scan instead
_OBS_MAX_BUCKETS = 64


_POSTINGS_COLS = [
    "term", "term_id", "shard", "block_id", "count",
    "first_docid", "block_max_docid", "block_max_score",
    "block_max_tf", "block_min_dl",
    "doc_ids", "tfs", "doclens",
]


def _make_encoder(n_docs: int, avgdl: float, k1: float, b: float,
                  block_size: int, positional: bool = False):
    """Partition-level posting encoder for ``mapInPandas``.

    Input contract: rows sorted by (term, shard, doc_id) WITHIN the
    partition and each term confined to one partition (repartition("term") +
    sortWithinPartitions upstream). One Python invocation per Arrow batch
    — NOT per (term, shard) group: a realistic code corpus has 10^5-10^7
    distinct terms, and per-group applyInPandas costs one Arrow round-trip
    per group, which collapses at exactly the vocabulary sizes the engine
    targets. Groups spanning Arrow-batch boundaries are handled with a
    carry buffer (the final group of each batch is only flushed once the
    next batch proves the group ended).

    The frame kernel is vectorized across EVERY block in the batch: one
    varint pass per column (byte offsets sliced per block), reduceat for
    per-block maxima/minima — the only per-block Python is three bytes
    slices. Rare terms fragment into tiny one-posting blocks under
    document-range sharding (exactly as in any document-partitioned index,
    e.g. Lucene shards), so per-block constant cost is the scaling term
    that matters at real vocabulary sizes.
    """

    def encode_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        term_arr = pdf["term"].to_numpy()
        shard_arr = pdf["shard"].to_numpy(np.int64)
        doc = pdf["doc_id"].to_numpy(np.uint64)
        tf = pdf["tf"].to_numpy(np.uint64)
        dl = pdf["doclen"].to_numpy(np.uint64)
        tid = pdf["term_id"].to_numpy(np.int64)
        dfv = pdf["df"].to_numpy(np.int64)
        n = len(pdf)
        # group boundaries in the (term, shard)-sorted stream
        change = np.flatnonzero(
            (term_arr[1:] != term_arr[:-1]) | (shard_arr[1:] != shard_arr[:-1])
        ) + 1
        g_s = np.concatenate([[0], change])
        g_e = np.concatenate([change, [n]])
        # blocks tile each group (and therefore the whole batch)
        lens = g_e - g_s
        nblk = -(-lens // block_size)
        blk_group = np.repeat(np.arange(len(g_s)), nblk)
        blk_offs = np.cumsum(nblk) - nblk
        blk_idx = np.arange(int(nblk.sum())) - np.repeat(blk_offs, nblk)
        blk_start = g_s[blk_group] + blk_idx * block_size
        blk_end = np.minimum(blk_start + block_size, g_e[blk_group])

        idf = np.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))
        tff = tf.astype(np.float64)
        contrib = idf * (tff * (k1 + 1.0)) / (
            tff + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
        )

        # delta-gap docids with reset at every block start, then ONE varint
        # pass per column; per-block payloads are offset slices.
        gaps = doc.copy()
        gaps[1:] = doc[1:] - doc[:-1]
        gaps[blk_start] = doc[blk_start]
        doc_buf, doc_off = varint_encode_offsets(gaps)
        tf_buf, tf_off = varint_encode_offsets(tf)
        dl_buf, dl_off = varint_encode_offsets(dl)

        def cut(buf: bytes, off: np.ndarray) -> list:
            s = off[blk_start]
            e = off[blk_end]
            return [buf[a:z] for a, z in zip(s, e)]

        out = {
            "term": term_arr[blk_start],
            "term_id": tid[blk_start],
            "shard": shard_arr[blk_start],
            "block_id": blk_idx.astype(np.int32),
            "count": (blk_end - blk_start).astype(np.int32),
            "first_docid": doc[blk_start].astype(np.int64),
            "block_max_docid": doc[blk_end - 1].astype(np.int64),
            "block_max_score": np.maximum.reduceat(contrib, blk_start),
            "block_max_tf": np.maximum.reduceat(tf, blk_start)
            .astype(np.int64),
            "block_min_dl": np.minimum.reduceat(dl, blk_start)
            .astype(np.int64),
            "doc_ids": cut(doc_buf, doc_off),
            "tfs": cut(tf_buf, tf_off),
            "doclens": cut(dl_buf, dl_off),
        }
        cols = _POSTINGS_COLS
        if positional:
            # flatten the per-posting position lists once per batch; the
            # delta reset is per POSTING (not per block) — decode segments
            # on pos_counts, so block boundaries never split a delta chain.
            plists = pdf["positions"].to_numpy()
            counts = np.fromiter(
                (len(p) for p in plists), dtype=np.int64, count=n
            )
            total_pos = int(counts.sum())
            flat = (
                np.concatenate([np.asarray(p, dtype=np.uint64)
                                for p in plists])
                if total_pos
                else np.empty(0, np.uint64)
            )
            p_start = np.cumsum(counts) - counts  # per-posting start
            pgaps = flat.copy()
            if total_pos:
                pgaps[1:] = flat[1:] - flat[:-1]
                nz = p_start[counts > 0]
                pgaps[nz] = flat[nz]
            pos_buf, pos_off = varint_encode_offsets(pgaps)
            cnt_buf, cnt_off = varint_encode_offsets(counts)
            p_cum = np.concatenate([[0], np.cumsum(counts)])  # len n+1
            out["pos_counts"] = cut(cnt_buf, cnt_off)
            out["positions"] = [
                pos_buf[a:z]
                for a, z in zip(
                    pos_off[p_cum[blk_start]], pos_off[p_cum[blk_end]]
                )
            ]
            cols = _POSTINGS_COLS + ["pos_counts", "positions"]
        return pd.DataFrame(out, columns=cols)

    def encode_partition(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            k_term = pdf["term"].to_numpy()
            k_shard = pdf["shard"].to_numpy(np.int64)
            last_mask = (k_term == k_term[-1]) & (k_shard == k_shard[-1])
            not_last = np.flatnonzero(~last_mask)
            cut = int(not_last[-1]) + 1 if len(not_last) else 0
            head, carry = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(head):
                yield encode_frame(head)
        if carry is not None and len(carry):
            yield encode_frame(carry)

    return encode_partition


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    content_col: str = "content",
    id_cols: list[str] | None = None,
    mode: str = "text",
    n_buckets: int = 8,
    docs_per_shard: int = 1 << 14,
    block_size: int = 128,
    k1: float = BM25_K1,
    b: float = BM25_B,
    resume: bool = True,
    build_commit: str = "",
    input_partitions: int | None = None,
    lexicon_max_score: bool = False,
    lang_col: str | None = None,
    positions: bool = False,
    **tok_kw,
) -> ParquetCatalog:
    """Build (or resume building) the index under ``out_dir``.

    Tables written: docstats, tf_raw (bucket-partitioned intermediate),
    lexicon, postings (bucket-partitioned), plus _meta.json scalars and
    _lineage.jsonl per-bucket rows.

    ``input_partitions``: tokenization parallelism = input split count; a
    100 TB corpus arrives in ~10^5 splits naturally, but small/derived
    inputs (one parquet file, a crossJoin) can collapse to a handful of
    partitions and serialize the most expensive stage. Set this to
    ~3×cores to force a deterministic doc_id repartition first. Default
    None = trust the source's splits (the right call on a real cluster).
    """
    cat = ParquetCatalog(out_dir)
    id_cols = id_cols or ["doc_id"]

    # ---- stage 0: doc ids -------------------------------------------------
    if id_cols == ["doc_id"]:
        docs_keyed = docs
    else:
        # deterministic dense doc_id from the unique natural key
        docs_keyed = dense_ids(docs, id_cols, "doc_id")
    if input_partitions:
        docs_keyed = docs_keyed.repartition(input_partitions, "doc_id")

    # ---- stage 1: tf_raw + docstats + scalars (resume unit: whole stage) --
    stage1_done = (
        resume
        and cat.exists("tf_raw")
        and cat.exists("docstats")
        and _meta_matches(
            cat, mode, n_buckets, docs_per_shard, block_size, k1, b,
            lang_col, positions,
        )
    )
    if not stage1_done:
        t0 = time.time()
        tf_fn = stats.term_positions if positions else stats.term_frequencies
        tf = tf_fn(
            docs_keyed, content_col, ["doc_id"], mode=mode,
            lang_col=lang_col, **tok_kw
        ).withColumn(
            "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        )
        # NO repartition before the write: hash-repartitioning on bucket
        # would both (a) shuffle every tf row and (b) collapse the
        # tokenize+write stage to n_buckets tasks. partitionBy on the
        # unshuffled stream keeps tokenization at full input parallelism
        # and skips the shuffle entirely, at the cost of up to
        # tasks×n_buckets files — bounded via input_partitions (sandbox)
        # or compaction (cluster).
        cat.overwrite_table_partitioned(tf, "tf_raw", "bucket")

        docstats = docs_keyed.select(
            "doc_id",
            *[c for c in id_cols if c != "doc_id"],
            F.sha2(F.col(content_col).cast("string"), 256).alias("content_sha"),
        )
        tf_raw = cat.read(spark, "tf_raw")
        doclens = tf_raw.groupBy("doc_id").agg(F.max("doclen").alias("doclen"))
        # n_docs / avgdl via Observation metrics piggybacked on the write
        # job itself — one fewer serial driver job per build (the serial
        # job chain is the Amdahl term of the whole build, see
        # BENCH/BASELINE.md).
        from pyspark.sql import Observation

        obs = Observation("corpus_scalars")
        docstats_out = (
            docstats.join(doclens, "doc_id", "left").fillna(0, ["doclen"])
        )
        pos_dl = F.when(F.col("doclen") > 0, F.col("doclen"))
        cat.overwrite_table(
            docstats_out.observe(
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
        avgdl = dl_sum / dl_n if dl_n else 0.0
        cat.write_meta(
            "postings",
            {
                "n_docs": n_docs, "avgdl": avgdl, "mode": mode,
                "lang_col": lang_col, "positional": positions,
                "n_buckets": n_buckets, "docs_per_shard": docs_per_shard,
                "block_size": block_size, "k1": k1, "b": b,
                "appends": 0, "build_commit": build_commit,
                "stage1_sec": round(time.time() - t0, 3),
                # running doclen totals: appends update avgdl
                # arithmetically from their own write-job metrics instead
                # of re-aggregating the whole docstats table per batch
                "doclen_sum": dl_sum, "doclen_n": dl_n,
            },
        )
    meta = cat.read_meta("postings")
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]

    # ---- stage 2: lexicon ---------------------------------------------------
    if not (resume and cat.exists("lexicon")):
        tf_raw = cat.read(spark, "tf_raw")
        lex = tf_raw.groupBy("term", "bucket").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        )
        # bucket-partitioned on disk: a query's lexicon lookup reads only
        # its terms' bucket dirs (same pruning story as postings) instead
        # of scanning the full vocabulary — material at 10^6+ terms.
        _cleanup: list = []
        lex_ids = dense_ids(lex, ["term"], "term_id", cleanup=_cleanup)
        cat.overwrite_table_partitioned(lex_ids, "lexicon", "bucket")
        for _c in _cleanup:
            _c.unpersist()

    # ---- stage 3: postings (resume unit: bucket) ---------------------------
    lexicon = cat.read(spark, "lexicon")
    done = {
        r["partition_id"]
        for r in cat.lineage_rows("postings")
        if r.get("status") == "complete"
    }
    encoder = _make_encoder(
        n_docs, avgdl, k1, b, block_size, positional=positions
    )

    if not (resume and done):
        # fresh build fast path: encode EVERY bucket in one Spark job
        # (one shuffle on (term, shard)), stage the partitioned output,
        # then commit bucket dirs one by one with their lineage rows.
        # The per-bucket loop below remains the resume path — same
        # per-bucket checkpoint granularity, without paying n_buckets
        # sequential jobs on the (overwhelmingly common) clean build.
        _encode_all_buckets(
            spark, cat, lexicon, encoder, n_buckets, build_commit
        )
        done = {
            r["partition_id"]
            for r in cat.lineage_rows("postings")
            if r.get("status") == "complete"
        }

    for bucket in range(n_buckets):
        if bucket in done and cat.partition_complete(
            "postings", "bucket", bucket
        ):
            continue
        started = time.time()
        try:
            part = _resharded(
                cat.read_partitions(spark, "tf_raw", "bucket", [bucket]),
                meta["docs_per_shard"],
            )
        except FileNotFoundError:
            cat.lineage_append(
                "postings",
                {"partition_id": bucket, "status": "complete", "rows_in": 0,
                 "rows_out": 0, "sha_ok": True, "build_commit": build_commit,
                 "started": started, "finished": time.time()},
            )
            continue
        # resume path (rare): skip the broadcast-probe count job per
        # bucket and let AQE pick the join strategy
        enc_in = part.join(
            lexicon.filter(F.col("bucket") == bucket).select(
                "term", "term_id", "df"
            ),
            "term",
        )
        blocks = (
            enc_in.repartition(
                max(spark.sparkContext.defaultParallelism, 8), "term"
            )
            .sortWithinPartitions("term", "shard", "doc_id")
            .mapInPandas(encoder, postings_schema(positions))
        )
        cat.overwrite_partitions(
            blocks.withColumn("bucket", F.lit(bucket)),
            "postings", "bucket", [bucket],
        )
        written = cat.read_partitions(spark, "postings", "bucket", [bucket])
        agg = written.agg(
            F.sum("count").alias("rows_in"), F.count(F.lit(1)).alias("rows_out")
        ).first()
        cat.lineage_append(
            "postings",
            {
                "partition_id": bucket, "status": "complete",
                "rows_in": int(agg["rows_in"] or 0),
                "rows_out": int(agg["rows_out"] or 0),
                "sha_ok": True, "build_commit": build_commit,
                "started": started, "finished": time.time(),
            },
        )

    # ---- stage 4 (optional): lexicon max_score (global per-term bound) -----
    # The WAND kernel derives its bounds from per-block metadata, so this
    # lexicon-level bound is informational (term-level pre-pruning for
    # future multi-shard planning). Off by default: two extra jobs + a
    # lexicon rewrite on the build's serial path.
    if lexicon_max_score and "max_score" not in cat.read(spark, "lexicon").columns:
        postings = cat.read(spark, "postings")
        ms = postings.groupBy("term_id").agg(
            F.max("block_max_score").alias("max_score")
        )
        cat.overwrite_table_partitioned(
            cat.read(spark, "lexicon").join(ms, "term_id", "left"),
            "lexicon", "bucket",
        )
    return cat


def _encode_all_buckets(
    spark, cat, lexicon, encoder, n_buckets: int, build_commit: str,
) -> None:
    """Encode every bucket's postings in ONE job (single (term, shard)
    shuffle), stage partitioned by bucket, then swap each bucket dir in
    and record its lineage row — per-bucket checkpoint granularity at
    one-job cost.

    The shard column is recomputed as ``doc_id div docs_per_shard`` from
    the meta, never taken from tf_raw: a resharded catalog carries the
    source's tf_raw, whose stored shard encodes the old docs_per_shard."""
    started = time.time()
    _meta = cat.read_meta("postings")
    tf_raw = _resharded(cat.read(spark, "tf_raw"), _meta["docs_per_shard"])
    enc_in = tf_raw.join(
        _maybe_broadcast(lexicon.select("term", "term_id", "df")), "term"
    )
    enc_parts = max(spark.sparkContext.defaultParallelism, 8)
    blocks = (
        enc_in.repartition(enc_parts, "term")
        .sortWithinPartitions("term", "shard", "doc_id")
        .mapInPandas(
            encoder, postings_schema(bool(_meta.get("positional")))
        )
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    # per-bucket lineage stats via Observation metrics on the write job
    # (conditional sums per bucket) — replaces a post-write scan of the
    # written table, one fewer serial job on the build's critical path.
    # Guarded: 2 conditional aggregates PER BUCKET inflate the observed
    # plan/codegen linearly with index width, so wide indexes (>
    # _OBS_MAX_BUCKETS) fall back to one groupBy scan of the written
    # buckets — a second (cheap, metadata-light) job beats a
    # thousand-expression observe on every write task.
    obs = None
    if n_buckets <= _OBS_MAX_BUCKETS:
        from pyspark.sql import Observation

        obs = Observation("bucket_stats")
        metrics = []
        for bkt in range(n_buckets):
            hit = F.col("bucket") == bkt
            metrics.append(
                F.sum(F.when(hit, F.col("count"))).alias(f"ri_{bkt}")
            )
            metrics.append(
                F.sum(F.when(hit, F.lit(1)).otherwise(F.lit(0)))
                .alias(f"ro_{bkt}")
            )
        blocks = blocks.observe(obs, *metrics)
    present = cat.overwrite_partitions(
        blocks, "postings", "bucket", range(n_buckets)
    )
    if obs is not None:
        m = obs.get
        stats = {
            bkt: (int(m[f"ri_{bkt}"] or 0), int(m[f"ro_{bkt}"] or 0))
            for bkt in range(n_buckets)
        }
    elif present:
        stats = {
            int(r["bucket"]): (int(r["ri"] or 0), int(r["ro"] or 0))
            for r in cat.read_partitions(spark, "postings", "bucket", present)
            .groupBy("bucket")
            .agg(F.sum("count").alias("ri"), F.count(F.lit(1)).alias("ro"))
            .collect()
        }
    else:
        stats = {}
    for bucket in range(n_buckets):
        ri, ro = stats.get(bucket, (0, 0))
        cat.lineage_append(
            "postings",
            {
                "partition_id": bucket, "status": "complete",
                "rows_in": ri, "rows_out": ro, "sha_ok": True,
                "build_commit": build_commit,
                "started": started, "finished": time.time(),
            },
        )


def _resharded(tf: DataFrame, docs_per_shard: int) -> DataFrame:
    """tf rows with ``shard`` recomputed from the catalog's current
    docs_per_shard: tf_raw's stored column is stale after a reshard.
    Exact integer division, never the double-rounding float path (see
    the delete.py advisory fix)."""
    return tf.withColumn(
        "shard", F.expr(f"CAST(doc_id AS BIGINT) div {int(docs_per_shard)}")
    )


def _maybe_broadcast(lex_slice: DataFrame, max_rows: int = 5_000_000) -> DataFrame:
    """Broadcast the lexicon side of the encode join when it is small
    enough (metadata-only row count). A partitioned parquet read loses the
    size stats Catalyst's auto-broadcast relies on, silently degrading the
    tf⋈lexicon join to a full sort-merge shuffle of every posting row; at
    vocabularies beyond ``max_rows`` fall back to Spark's choice (AQE)."""
    if lex_slice.count() <= max_rows:
        return F.broadcast(lex_slice)
    return lex_slice


def _meta_matches(cat, mode, n_buckets, docs_per_shard, block_size,
                  k1, b, lang_col, positions=False) -> bool:
    """Resume is only safe when EVERY parameter that shaped the persisted
    artifacts matches — including k1/b (baked into block_max_score) and
    lang_col (baked into the token stream). A k1 changed between the
    interrupted and resumed run would otherwise score with one value and
    prune with bounds computed under the other, silently over-pruning."""
    try:
        m = cat.read_meta("postings")
    except FileNotFoundError:
        return False
    return (
        m.get("mode") == mode
        and m.get("n_buckets") == n_buckets
        and m.get("docs_per_shard") == docs_per_shard
        and m.get("block_size") == block_size
        and m.get("k1") == k1
        and m.get("b") == b
        and m.get("lang_col") == lang_col
        and bool(m.get("positional")) == positions
    )


def verify_sha(spark: SparkSession, docs: DataFrame, cat: ParquetCatalog,
               content_col: str = "content") -> int:
    """Per-row invariant check (BASELINE.json): sha256(content) equality
    between the source table and the built docstats. Returns the
    violation COUNT; the violation RELATION (which docs, which side) is
    diag.verify_content_integrity — this is its count, one hashing
    convention for both."""
    from mahout_spark.index.diag import verify_content_integrity

    return verify_content_integrity(
        spark, cat, docs, content_col=content_col
    ).count()


def _link_table_tree(src: str, dst: str) -> None:
    """Clone one table dir into a new catalog: parquet data files (and
    _SUCCESS markers) HARDLINK — immutable under the catalog's
    staged-write contract, so the clone is metadata-time; _meta.json /
    _lineage.jsonl REAL-COPY — the catalog rewrites/appends those in
    place, and a shared inode would mutate the source catalog through
    the link (the same discipline as snapshot_index)."""
    import os
    import shutil

    for root, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if ".__" not in d]
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            sp, dp = os.path.join(root, f), os.path.join(out, f)
            if f.endswith((".json", ".jsonl")):
                shutil.copy2(sp, dp)
            else:
                try:
                    os.link(sp, dp)
                except OSError:  # cross-device / no-hardlink FS
                    shutil.copy2(sp, dp)


def reshard_index(
    spark: SparkSession,
    src: ParquetCatalog,
    out_dir: str,
    docs_per_shard: int,
    block_size: int | None = None,
    build_commit: str = "",
) -> ParquetCatalog:
    """Re-shard an index WITHOUT re-analysis (the ES ``_shrink`` /
    ``_split`` lifecycle operation, X142): produce a new catalog with a
    different ``docs_per_shard`` (and optionally ``block_size``) while
    reusing every analysis artifact — tf_raw, docstats, the lexicon
    (term ids, df, buckets unchanged — the term dictionary does not
    depend on document sharding), and any dictionary tiers present
    (permuterm / gram tables are term-keyed, so they carry over
    verbatim). Only stage 3 re-runs: one (term, shard) exchange +
    encode, with the shard column recomputed as ``doc_id div
    docs_per_shard``. Tokenization — the dominant build cost — is never
    repeated, and the carried tables hardlink (metadata-time clone).

    Like ES shrink, the source must be quiesced: pending appends or
    tombstones raise (compact first) — block-max bounds and the live-doc
    set would otherwise be re-encoded against stale sharding.

    The result is bit-identical to a fresh build at the new knobs (the
    encoder is deterministic given the same sorted input) — test-gated.
    """
    import os

    if docs_per_shard < 1:
        raise ValueError(f"docs_per_shard must be >= 1: {docs_per_shard}")
    meta = src.read_meta("postings")
    if int(meta.get("appends", 0)) or int(meta.get("deletes", 0)):
        raise ValueError(
            "reshard requires a quiesced index: compact pending "
            "appends/deletes first")
    bs = int(block_size if block_size is not None else meta["block_size"])
    if bs < 1:
        raise ValueError(f"block_size must be >= 1: {bs}")
    new = ParquetCatalog(out_dir)
    for table in sorted(os.listdir(src.root)):
        sp = os.path.join(src.root, table)
        if (not os.path.isdir(sp) or table == "postings"
                or ".__" in table):
            continue
        _link_table_tree(sp, os.path.join(new.root, table))
    m2 = dict(meta)
    m2["docs_per_shard"] = int(docs_per_shard)
    m2["block_size"] = bs
    m2["resharded_from"] = src.root
    new.write_meta("postings", m2)
    lexicon = new.read(spark, "lexicon")
    encoder = _make_encoder(
        int(m2["n_docs"]), float(m2["avgdl"]), float(m2["k1"]),
        float(m2["b"]), bs, positional=bool(m2.get("positional")),
    )
    _encode_all_buckets(
        spark, new, lexicon, encoder, int(m2["n_buckets"]), build_commit,
    )
    return new
