"""Incremental append + streaming build tests.

Gate (SURVEY.md §5.2): an index built as initial-build + appends must
answer every query with results rank-identical (and score-identical) to a
single full build over the union — under the append-safe block bounds.
Plus exactly-once idempotency and the uniqueness guard.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

QUERIES = [
    (["spark", "query", "data"], False),
    (["spark", "query", "data"], True),
    (["window", "stream"], False),
    (["vector"], False),
    (["table", "scan", "filter"], True),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
    )


def _results(spark, cat, k=10):
    from mahout_spark.index.wand import topk

    out = {}
    for terms, mode_all in QUERIES:
        rows = topk(spark, cat, terms, k=k, mode_all=mode_all).collect()
        out[(tuple(terms), mode_all)] = [
            (r["doc_id"], r["score"]) for r in rows
        ]
    return out


class TestAppend:
    def test_append_equals_full_build(self, spark, corpus, tmp_path_factory):
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index
        from mahout_spark.sources.catalog import ParquetCatalog

        half_a = corpus.filter(F.col("doc_id") < 250)
        half_b = corpus.filter(F.col("doc_id") >= 250)

        full_dir = str(tmp_path_factory.mktemp("full"))
        inc_dir = str(tmp_path_factory.mktemp("inc"))

        full_cat = build_index(
            spark, corpus, out_dir=full_dir, content_col="text",
            id_cols=["doc_id"], mode="text", resume=False,
        )
        inc_cat = build_index(
            spark, half_a, out_dir=inc_dir, content_col="text",
            id_cols=["doc_id"], mode="text", resume=False,
        )
        append_to_index(
            spark, inc_cat, half_b, content_col="text", batch_id="b1"
        )

        # corpus stats converge exactly
        fm = full_cat.read_meta("postings")
        im = inc_cat.read_meta("postings")
        assert im["n_docs"] == fm["n_docs"]
        assert im["avgdl"] == pytest.approx(fm["avgdl"], rel=1e-12)
        assert im["appends"] == 1

        # every query rank- and score-identical
        full = _results(spark, full_cat)
        inc = _results(spark, inc_cat)
        for q in full:
            assert [d for d, _ in inc[q]] == [d for d, _ in full[q]], q
            for (_, s1), (_, s2) in zip(inc[q], full[q]):
                assert s1 == pytest.approx(s2, rel=1e-12)

        # lexicon df agrees with a direct aggregation
        from mahout_spark.operators.stats import simple_term_frequencies

        ParquetCatalog(inc_dir)  # smoke: reopen by path works
        lex = inc_cat.read(spark, "lexicon")
        got_df = {
            r["term"]: r["df"]
            for r in lex.filter(F.col("term").isin(["spark", "vector"]))
            .collect()
        }
        tf = simple_term_frequencies(
            corpus.withColumnRenamed("text", "text"), "text", "doc_id"
        )
        exp_df = {
            r["term"]: r["cnt"]
            for r in tf.filter(F.col("term").isin(["spark", "vector"]))
            .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert got_df == exp_df

    def test_append_idempotent_by_batch_id(self, spark, corpus, tmp_path_factory):
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index

        d = str(tmp_path_factory.mktemp("idem"))
        half_a = corpus.filter(F.col("doc_id") < 250)
        half_b = corpus.filter(
            (F.col("doc_id") >= 250) & (F.col("doc_id") < 300)
        )
        cat = build_index(
            spark, half_a, out_dir=d, content_col="text", resume=False
        )
        append_to_index(spark, cat, half_b, content_col="text", batch_id="x")
        n1 = cat.read_meta("postings")["n_docs"]
        r1 = _results(spark, cat)
        # replay the same batch — must be a no-op
        append_to_index(spark, cat, half_b, content_col="text", batch_id="x")
        assert cat.read_meta("postings")["n_docs"] == n1
        assert _results(spark, cat) == r1

    def test_append_rejects_duplicate_ids(self, spark, corpus, tmp_path_factory):
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index

        d = str(tmp_path_factory.mktemp("dup"))
        half_a = corpus.filter(F.col("doc_id") < 100)
        cat = build_index(
            spark, half_a, out_dir=d, content_col="text", resume=False
        )
        with pytest.raises(ValueError, match="already present"):
            append_to_index(
                spark, cat, half_a.limit(5), content_col="text"
            )


class TestCrashReplay:
    def test_replay_after_midpoint_crash_is_exactly_once(
        self, spark, corpus, tmp_path_factory, monkeypatch
    ):
        """Kill the append after the tf_raw/docstats appends but before
        the postings append and lexicon write; the replay with the same
        batch_id must roll the partial state back and converge to the
        same index as a clean build+append (df not double-counted)."""
        from mahout_spark.index import append as append_mod
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index
        from mahout_spark.sources.catalog import ParquetCatalog

        half_a = corpus.filter(F.col("doc_id") < 250)
        half_b = corpus.filter(F.col("doc_id") >= 250)
        d = str(tmp_path_factory.mktemp("crash"))
        cat = build_index(
            spark, half_a, out_dir=d, content_col="text", resume=False
        )

        # crash injection: the first postings append dies mid-flight
        real_append = ParquetCatalog.append_partitioned
        calls = {"n": 0}

        def exploding(self, df, table, part_col, tag=None):
            out = real_append(self, df, table, part_col, tag=tag)
            if table == "tf_raw":
                calls["n"] += 1
            if table == "postings" and calls["n"] == 1:
                raise RuntimeError("simulated executor loss")
            return out

        monkeypatch.setattr(
            ParquetCatalog, "append_partitioned", exploding
        )
        with pytest.raises(RuntimeError, match="simulated"):
            append_to_index(
                spark, cat, half_b, content_col="text", batch_id="crashy"
            )
        monkeypatch.setattr(
            ParquetCatalog, "append_partitioned", real_append
        )

        # replay with the same batch_id: rollback + clean re-apply
        append_to_index(
            spark, cat, half_b, content_col="text", batch_id="crashy"
        )
        # third call is a complete no-op
        append_to_index(
            spark, cat, half_b, content_col="text", batch_id="crashy"
        )

        ref_dir = str(tmp_path_factory.mktemp("crash_ref"))
        ref = build_index(
            spark, corpus, out_dir=ref_dir, content_col="text", resume=False
        )
        assert (
            cat.read_meta("postings")["n_docs"]
            == ref.read_meta("postings")["n_docs"]
        )
        # df must not be double-counted anywhere
        got_df = {
            r["term"]: r["df"]
            for r in cat.read(spark, "lexicon").collect()
        }
        exp_df = {
            r["term"]: r["df"]
            for r in ref.read(spark, "lexicon").collect()
        }
        assert got_df == exp_df
        inc, full = _results(spark, cat), _results(spark, ref)
        for q in full:
            assert [d for d, _ in inc[q]] == [d for d, _ in full[q]], q


class TestStreaming:
    def test_stream_equals_full_build(self, spark, corpus, tmp_path_factory):
        from mahout_spark.index.build import build_index
        from mahout_spark.sources.catalog import ParquetCatalog
        from mahout_spark.streaming.incremental import index_document_stream

        landing = str(tmp_path_factory.mktemp("landing"))
        index_dir = str(tmp_path_factory.mktemp("stream_idx"))
        ckpt = str(tmp_path_factory.mktemp("ckpt"))
        full_dir = str(tmp_path_factory.mktemp("stream_full"))

        sub = corpus.filter(F.col("doc_id") < 200)
        # two landing files -> two (or more) micro-batches
        sub.filter(F.col("doc_id") < 100).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        sub.filter(F.col("doc_id") >= 100).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

        q = index_document_stream(
            spark, landing, "doc_id long, text string", index_dir, ckpt,
            content_col="text", mode="text",
        )
        q.awaitTermination(120)

        full_cat = build_index(
            spark, sub, out_dir=full_dir, content_col="text", resume=False
        )
        stream_cat = ParquetCatalog(index_dir)
        assert (
            stream_cat.read_meta("postings")["n_docs"]
            == full_cat.read_meta("postings")["n_docs"]
        )
        assert _results_equal(
            _results(spark, stream_cat), _results(spark, full_cat)
        )
        assert os.path.isdir(os.path.join(index_dir, "postings"))


class TestCompaction:
    def test_compact_equals_fresh_rebuild(
        self, spark, corpus, tmp_path_factory
    ):
        """build(A) + append(B) + compact == fresh build(A∪B), block for
        block — and the appends counter resets so queries run on tight
        stored bounds again."""
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index
        from mahout_spark.index.compact import compact_index

        half_a = corpus.filter(F.col("doc_id") < 250)
        half_b = corpus.filter(F.col("doc_id") >= 250)
        inc_dir = str(tmp_path_factory.mktemp("cmp_inc"))
        full_dir = str(tmp_path_factory.mktemp("cmp_full"))

        cat = build_index(
            spark, half_a, out_dir=inc_dir, content_col="text",
            id_cols=["doc_id"], mode="text", resume=False,
        )
        append_to_index(spark, cat, half_b, content_col="text",
                        batch_id="b1")
        assert cat.read_meta("postings")["appends"] == 1
        n_blocks_before = cat.read(spark, "postings").count()

        meta = compact_index(spark, cat)
        assert meta["appends"] == 0
        n_blocks_after = cat.read(spark, "postings").count()
        assert n_blocks_after <= n_blocks_before  # defragmented

        fresh = build_index(
            spark, corpus, out_dir=full_dir, content_col="text",
            id_cols=["doc_id"], mode="text", resume=False,
        )
        cols = ["term", "shard", "block_id", "count", "first_docid",
                "block_max_docid", "doc_ids", "tfs", "doclens"]
        a = {tuple(r) for r in cat.read(spark, "postings")
             .select(*cols).collect()}
        b = {tuple(r) for r in fresh.read(spark, "postings")
             .select(*cols).collect()}
        assert a == b
        assert _results_equal(_results(spark, cat), _results(spark, fresh))


class TestBootstrapReplay:
    """foreachBatch bootstrap durability: a replayed first epoch must
    resume a crashed bootstrap (never wedge on the append path), a
    pre-built index must take the append path, and a replayed COMPLETED
    bootstrap must no-op."""

    def test_crashed_bootstrap_resumes_not_appends(
        self, spark, corpus, tmp_path_factory
    ):
        import time

        from mahout_spark.sources.catalog import ParquetCatalog
        from mahout_spark.streaming.incremental import foreach_batch_indexer

        index_dir = str(tmp_path_factory.mktemp("boot_crash"))
        cat = ParquetCatalog(index_dir)
        # simulate the crash window: stage 1 created postings/_meta.json
        # (so the dir EXISTS) and the intent row landed, but the build
        # never finished and the completion marker was never written
        cat.lineage_append(
            "appends",
            {"batch_id": "stream-0", "status": "started",
             "bootstrap": True, "started": time.time()},
        )
        cat.write_meta("postings", {"n_docs": 0, "avgdl": 0.0})

        batch = corpus.filter(F.col("doc_id") < 150)
        handler = foreach_batch_indexer(index_dir, content_col="text",
                                        mode="text")
        handler(batch, 0)  # replayed epoch — must NOT take the append path

        assert ParquetCatalog(index_dir).read_meta("postings")["n_docs"] == 150
        assert _results(spark, cat)  # index answers queries

    def test_prebuilt_index_takes_append_path(
        self, spark, corpus, tmp_path_factory
    ):
        from mahout_spark.index.build import build_index
        from mahout_spark.sources.catalog import ParquetCatalog
        from mahout_spark.streaming.incremental import foreach_batch_indexer

        index_dir = str(tmp_path_factory.mktemp("boot_prebuilt"))
        build_index(
            spark, corpus.filter(F.col("doc_id") < 250), out_dir=index_dir,
            content_col="text", mode="text", resume=False,
        )
        handler = foreach_batch_indexer(index_dir, content_col="text",
                                        mode="text")
        handler(corpus.filter(F.col("doc_id") >= 250), 0)
        n_total = corpus.count()
        assert (
            ParquetCatalog(index_dir).read_meta("postings")["n_docs"]
            == n_total
        )

    def test_completed_bootstrap_replay_noops(
        self, spark, corpus, tmp_path_factory
    ):
        from mahout_spark.sources.catalog import ParquetCatalog
        from mahout_spark.streaming.incremental import foreach_batch_indexer

        index_dir = str(tmp_path_factory.mktemp("boot_replay"))
        batch = corpus.filter(F.col("doc_id") < 120)
        handler = foreach_batch_indexer(index_dir, content_col="text",
                                        mode="text")
        handler(batch, 0)
        before = _results(spark, ParquetCatalog(index_dir))
        handler(batch, 0)  # replayed completed epoch
        cat = ParquetCatalog(index_dir)
        assert cat.read_meta("postings")["n_docs"] == 120
        assert _results_equal(before, _results(spark, cat))


class TestEmptyCorpus:
    """A zero-doc build (or an empty first micro-batch) must produce a
    valid, queryable, appendable index — not a schema-inference crash.
    Zero-file parquet tables are the footprint of writing an empty
    DataFrame; the catalog reads them back under the schema it recorded
    beside each table."""

    def test_empty_build_then_append(self, spark, corpus, tmp_path_factory):
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index
        from mahout_spark.index.wand import topk

        out = str(tmp_path_factory.mktemp("empty_idx"))
        empty = spark.createDataFrame([], "doc_id long, text string")
        cat = build_index(spark, empty, out, content_col="text",
                          mode="text", resume=False)
        assert cat.read_meta("postings")["n_docs"] == 0
        assert topk(spark, cat, ["spark"], k=5).count() == 0
        append_to_index(spark, cat, corpus.filter(F.col("doc_id") < 50),
                        content_col="text", batch_id="b1")
        assert cat.read_meta("postings")["n_docs"] == 50
        assert topk(spark, cat, ["spark"], k=5).count() > 0

    def test_empty_first_micro_batch_stream(
        self, spark, corpus, tmp_path_factory
    ):
        from mahout_spark.index.wand import topk
        from mahout_spark.sources.catalog import ParquetCatalog
        from mahout_spark.streaming.incremental import foreach_batch_indexer

        idx = str(tmp_path_factory.mktemp("empty_stream"))
        h = foreach_batch_indexer(idx, content_col="text", mode="text")
        h(spark.createDataFrame([], "doc_id long, text string"), 0)
        cat = ParquetCatalog(idx)
        assert cat.read_meta("postings")["n_docs"] == 0
        h(corpus.filter(F.col("doc_id") < 40), 1)
        assert cat.read_meta("postings")["n_docs"] == 40
        assert topk(spark, cat, ["spark"], k=5).count() > 0


class TestPinnedSchemas:
    """Every table's read schema is recorded at write time
    (``_schema.json``) and passed to every read, so reads never run
    Spark's footer-inference job; the recorded schema must be exactly
    what inference returns."""

    @staticmethod
    def _assert_recorded_equals_inferred(spark, cat):
        from mahout_spark.sources.catalog import SCHEMA_FILE

        tables = [
            t for t in sorted(os.listdir(cat.root))
            if os.path.isfile(os.path.join(cat.table_path(t), SCHEMA_FILE))
        ]
        assert {"docstats", "tf_raw", "lexicon", "postings"} <= set(tables)
        for t in tables:
            inferred = spark.read.parquet(cat.table_path(t)).schema
            assert cat.schema(spark, t) == inferred, t
        return tables

    def test_recorded_schemas_match_inference(
        self, spark, corpus, tmp_path_factory
    ):
        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.build import build_index
        from mahout_spark.index.compact import compact_index
        from mahout_spark.index.delete import delete_docs
        from mahout_spark.index.gramindex import build_gramindex
        from mahout_spark.index.permuterm import build_permuterm

        small = corpus.filter(F.col("doc_id") < 160)
        cat = build_index(
            spark, small.filter(F.col("doc_id") < 120),
            str(tmp_path_factory.mktemp("pin")), content_col="text",
            mode="text", n_buckets=4, docs_per_shard=32, resume=False,
        )
        build_permuterm(spark, cat)
        build_gramindex(spark, cat)
        self._assert_recorded_equals_inferred(spark, cat)
        delete_docs(spark, cat, [3, 5, 8])
        assert "tombstones" in self._assert_recorded_equals_inferred(
            spark, cat)
        append_to_index(spark, cat, small.filter(F.col("doc_id") >= 120),
                        content_col="text", batch_id="b1")
        self._assert_recorded_equals_inferred(spark, cat)
        compact_index(spark, cat)
        self._assert_recorded_equals_inferred(spark, cat)

        pos = build_index(
            spark, small, str(tmp_path_factory.mktemp("pin_pos")),
            content_col="text", mode="text", n_buckets=4,
            docs_per_shard=32, positions=True, resume=False,
        )
        self._assert_recorded_equals_inferred(spark, pos)

        # zero-doc build: only docstats holds a (zero-row) file; the
        # partitioned tables hold none, so inference cannot read them —
        # their recorded schemas equal those of a non-empty build
        empty = build_index(
            spark, spark.createDataFrame([], "doc_id long, text string"),
            str(tmp_path_factory.mktemp("pin_empty")), content_col="text",
            mode="text", n_buckets=4, docs_per_shard=32, resume=False,
        )
        assert empty.schema(spark, "docstats") == spark.read.parquet(
            empty.table_path("docstats")).schema
        for t in ("tf_raw", "lexicon", "postings"):
            assert empty.schema(spark, t) == cat.schema(spark, t), t
            assert empty.read(spark, t).count() == 0

    def test_missing_sidecar_is_bootstrapped(
        self, spark, corpus, tmp_path_factory
    ):
        """An index written before schemas were recorded: the first read
        infers the schema from the files and records it."""
        from mahout_spark.index.build import build_index
        from mahout_spark.sources.catalog import SCHEMA_FILE

        cat = build_index(
            spark, corpus.filter(F.col("doc_id") < 120),
            str(tmp_path_factory.mktemp("pin_boot")), content_col="text",
            mode="text", n_buckets=4, docs_per_shard=32, resume=False,
        )
        before = _results(spark, cat)
        sidecar = os.path.join(cat.table_path("lexicon"), SCHEMA_FILE)
        with open(sidecar) as f:
            recorded = f.read()
        os.remove(sidecar)
        assert _results_equal(_results(spark, cat), before)
        with open(sidecar) as f:
            assert f.read() == recorded

    def test_append_with_other_schema_is_rejected(self, spark, tmp_path):
        from mahout_spark.sources.catalog import ParquetCatalog

        cat = ParquetCatalog(str(tmp_path))
        cat.append_table(
            spark.createDataFrame([(1, 0.5)], "doc_id long, at double"), "t")
        cat.append_partitioned(
            spark.createDataFrame([(1, 3)], "v long, bucket long"),
            "p", "bucket")
        with pytest.raises(ValueError, match="records"):
            cat.append_table(
                spark.createDataFrame([(2, "x")], "doc_id long, at string"),
                "t")
        with pytest.raises(ValueError, match="records"):
            cat.append_partitioned(
                spark.createDataFrame([(2, 1)], "w long, bucket long"),
                "p", "bucket")
        # nothing reached either table, and no stage is left behind
        assert [tuple(r) for r in cat.read(spark, "t").collect()] == \
            [(1, 0.5)]
        assert [tuple(r) for r in cat.read(spark, "p").collect()] == [(1, 3)]
        assert sorted(os.listdir(tmp_path)) == ["p", "t"]

    def test_failed_partition_swap_keeps_live_partition(
        self, spark, tmp_path, monkeypatch
    ):
        """A failure between moving the live partition out and the new
        one in must leave the live partition whole; a rerun then
        completes the overwrite."""
        from mahout_spark.sources.catalog import ParquetCatalog

        cat = ParquetCatalog(str(tmp_path))
        cat.overwrite_table_partitioned(
            spark.createDataFrame(
                [(i, i % 2) for i in range(6)], "v long, bucket long"),
            "t", "bucket")
        new = spark.createDataFrame([(100, 1), (101, 1)], "v long, bucket long")
        rename = os.rename

        def failing_promote(src, dst):
            if ".__stage_" in src:
                raise OSError("injected failure")
            rename(src, dst)

        monkeypatch.setattr(os, "rename", failing_promote)
        with pytest.raises(OSError, match="injected"):
            cat.overwrite_partitions(new, "t", "bucket", [1])
        monkeypatch.setattr(os, "rename", rename)

        def rows():
            return sorted(tuple(r) for r in cat.read(spark, "t").collect())

        assert rows() == [(i, i % 2) for i in range(6)]
        assert sorted(os.listdir(tmp_path)) == ["t"]  # stage dropped
        assert cat.overwrite_partitions(new, "t", "bucket", [1]) == [1]
        assert rows() == [(0, 0), (2, 0), (4, 0), (100, 1), (101, 1)]

    def test_append_to_sidecarless_table_checks_its_files(
        self, spark, tmp_path
    ):
        """A table written before schemas were recorded: an append is
        checked against the schema its files carry, never recorded
        from the incoming rows."""
        from mahout_spark.sources.catalog import ParquetCatalog, SCHEMA_FILE

        cat = ParquetCatalog(str(tmp_path))
        spark.createDataFrame([(1, 0.5)], "doc_id long, at double") \
            .write.parquet(cat.table_path("t"))
        with pytest.raises(ValueError, match="records"):
            cat.append_table(
                spark.createDataFrame([(2, "x")], "doc_id long, at string"),
                "t")
        assert os.path.isfile(os.path.join(cat.table_path("t"), SCHEMA_FILE))
        cat.append_table(
            spark.createDataFrame([(2, 1.5)], "doc_id long, at double"), "t")
        assert sorted(tuple(r) for r in cat.read(spark, "t").collect()) == \
            [(1, 0.5), (2, 1.5)]

    def test_append_to_legacy_tiers(self, spark, corpus, tmp_path_factory):
        """An index written before schemas were recorded whose permuterm
        and gram tiers took an append then: their delta files hold
        ``bucket`` as bigint (the lexicon merge's type) beside int base
        files. A further append bootstraps each tier's schema from its
        files and writes its delta in that type; expansion through the
        tiers still equals the lexicon scan."""
        from pyspark.sql.types import LongType

        from mahout_spark.index.append import append_to_index
        from mahout_spark.index.boolquery import (
            _fuzzy_expansion_rows,
            _wildcard_expansion_rows,
        )
        from mahout_spark.index.build import build_index
        from mahout_spark.index.gramindex import (
            build_gramindex,
            expand_fuzzy_rows,
        )
        from mahout_spark.index.permuterm import (
            build_permuterm,
            expand_wildcard_rows,
        )
        from mahout_spark.sources.catalog import SCHEMA_FILE

        cat = build_index(
            spark, corpus.filter(F.col("doc_id") < 200),
            str(tmp_path_factory.mktemp("legacy_tiers")), content_col="text",
            mode="simple", n_buckets=4, docs_per_shard=64, resume=False,
        )
        build_permuterm(spark, cat)
        build_gramindex(spark, cat)
        append_to_index(
            spark, cat, corpus.filter(F.col("doc_id").between(200, 259)),
            content_col="text", batch_id="b1")

        # rewrite the tiers' delta files with a bigint bucket and drop
        # every sidecar: the layout such an index has on disk
        scratch = str(tmp_path_factory.mktemp("legacy_deltas"))
        for t in ("permuterm", "gramindex"):
            d = cat.table_path(t)
            deltas = [os.path.join(d, f) for f in os.listdir(d)
                      if f.startswith("a")]
            assert deltas, t
            out = os.path.join(scratch, t)
            spark.read.parquet(*deltas).withColumn(
                "bucket", F.col("bucket").cast("long")
            ).write.parquet(out)
            for f in deltas:
                os.remove(f)
            for f in os.listdir(out):
                if f.startswith("part-"):
                    os.rename(os.path.join(out, f),
                              os.path.join(d, f"alegacy-{f}"))
        for dirpath, _dirs, files in os.walk(cat.root):
            if SCHEMA_FILE in files:
                os.remove(os.path.join(dirpath, SCHEMA_FILE))

        extra = spark.createDataFrame(
            [(90001, "zebraqux mergeeq data")], ["doc_id", "text"])
        append_to_index(
            spark, cat,
            corpus.filter(F.col("doc_id").between(260, 299))
            .unionByName(extra),
            content_col="text", batch_id="b2")
        for t in ("permuterm", "gramindex"):
            assert cat.schema(spark, t)["bucket"].dataType == LongType(), t

        def rows(rs, *cols):
            return [tuple(int(r[c]) if c != "term" else r[c] for c in cols)
                    for r in rs]

        lex = cat.read(spark, "lexicon")
        for p in ["*qux", "*an", "m*e", "*ble"]:
            assert rows(expand_wildcard_rows(spark, cat, lex, p, 64),
                        "term", "bucket", "df") == \
                rows(_wildcard_expansion_rows(lex, p, 64),
                     "term", "bucket", "df"), p
        for stem, n in [("mergeeq", 1), ("data", 1)]:
            assert rows(expand_fuzzy_rows(spark, cat, lex, stem, n, 64),
                        "term", "bucket", "df", "dist") == \
                rows(_fuzzy_expansion_rows(lex, stem, n, 64),
                     "term", "bucket", "df", "dist"), (stem, n)


def _results_equal(a, b):
    if set(a) != set(b):
        return False
    for q in a:
        if [d for d, _ in a[q]] != [d for d, _ in b[q]]:
            return False
        for (_, s1), (_, s2) in zip(a[q], b[q]):
            if abs(s1 - s2) > 1e-9 * max(1.0, abs(s2)):
                return False
    return True
