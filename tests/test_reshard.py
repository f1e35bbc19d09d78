"""Reshard without re-analysis (X142, index/build.py reshard_index):
the resharded catalog must be BIT-IDENTICAL to a fresh build at the new
knobs — postings relation, meta, and query results — while reusing the
source's analysis artifacts (hardlinked, source untouched)."""

import os

import pytest
from pyspark.sql import functions as F

from mahout_spark.index.build import build_index, reshard_index
from mahout_spark.index.wand import topk

TERMS = ["spark", "query", "data"]


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )


@pytest.fixture(scope="module")
def src(spark, docs, tmp_path_factory):
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("rs_src")),
        content_col="text", mode="simple", n_buckets=4,
        docs_per_shard=64, block_size=16, positions=True,
    )


def _postings_rows(spark, cat):
    pos = bool(cat.read_meta("postings").get("positional"))
    cols = ["term", "term_id", "shard", "block_id", "count",
            "first_docid", "block_max_docid", "block_max_score",
            "block_max_tf", "block_min_dl", "doc_ids", "tfs", "doclens"]
    if pos:
        cols += ["pos_counts", "positions"]
    rows = cat.read(spark, "postings").select(*cols).collect()
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in r) for r in rows
    )


def test_reshard_bit_identical_to_fresh_build(
    spark, docs, src, tmp_path_factory
):
    fresh = build_index(
        spark, docs, str(tmp_path_factory.mktemp("rs_fresh")),
        content_col="text", mode="simple", n_buckets=4,
        docs_per_shard=16, block_size=8, positions=True,
    )
    shard = reshard_index(
        spark, src, str(tmp_path_factory.mktemp("rs_new")),
        docs_per_shard=16, block_size=8,
    )
    assert _postings_rows(spark, shard) == _postings_rows(spark, fresh)
    m_s, m_f = (c.read_meta("postings") for c in (shard, fresh))
    for key in ("n_docs", "avgdl", "n_buckets", "docs_per_shard",
                "block_size", "mode", "positional", "k1", "b"):
        assert m_s.get(key) == m_f.get(key), key
    assert m_s["resharded_from"] == src.root


def test_reshard_queries_identical_and_source_untouched(
    spark, src, tmp_path_factory
):
    from mahout_spark.index.phrase import phrase_topk

    before = [(r["doc_id"], round(r["score"], 6))
              for r in topk(spark, src, TERMS, k=10).collect()]
    src_meta = src.read_meta("postings")
    shard = reshard_index(
        spark, src, str(tmp_path_factory.mktemp("rs_q")),
        docs_per_shard=8,
    )
    after = [(r["doc_id"], round(r["score"], 6))
             for r in topk(spark, shard, TERMS, k=10).collect()]
    assert after == before  # scoring is sharding-invariant
    ph_s = phrase_topk(spark, src, ["table", "scan"], k=10).collect()
    ph_n = phrase_topk(spark, shard, ["table", "scan"], k=10).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in ph_n] == \
        [(r["doc_id"], round(r["score"], 6)) for r in ph_s]
    # the source catalog is untouched (hardlinks, not moves; its meta
    # keeps the old sharding)
    assert src.read_meta("postings") == src_meta
    assert topk(spark, src, TERMS, k=3).count() == 3
    # the analysis artifacts really were carried, not rebuilt
    assert shard.exists("tf_raw") and shard.exists("lexicon")
    # carried parquet files are hardlinks of the source's (nlink > 1)
    lex_dir = shard.table_path("lexicon")
    linked = [
        f for root, _, files in os.walk(lex_dir) for f in files
        if f.endswith(".parquet")
        and os.stat(os.path.join(root, f)).st_nlink > 1
    ]
    assert linked, "expected hardlinked lexicon data files"


def test_reshard_then_append_and_compact_equals_fresh_build(
    spark, docs, tmp_path_factory, monkeypatch
):
    """A resharded catalog carries the source's tf_raw, whose stored
    shard column encodes the OLD docs_per_shard. Append and compact must
    encode under the new one: the result answers every query like a
    fresh build at the new knobs, block for block."""
    from mahout_spark.index import delete as D
    from mahout_spark.index.append import append_to_index
    from mahout_spark.index.compact import compact_index
    from mahout_spark.index.phrase import phrase_topk
    from mahout_spark.index.searcher import Searcher

    knobs = dict(content_col="text", mode="simple", n_buckets=4,
                 block_size=8, positions=True)
    old = build_index(
        spark, docs.filter(F.col("doc_id") < 300),
        str(tmp_path_factory.mktemp("rsac_src")), docs_per_shard=64,
        **knobs)
    cat = reshard_index(
        spark, old, str(tmp_path_factory.mktemp("rsac_new")),
        docs_per_shard=16)
    append_to_index(spark, cat, docs.filter(F.col("doc_id") >= 300),
                    content_col="text", batch_id="b1")
    compact_index(spark, cat)
    fresh = build_index(
        spark, docs, str(tmp_path_factory.mktemp("rsac_fresh")),
        docs_per_shard=16, **knobs)

    def answers(c):
        s = Searcher(spark, c)
        out = [[(r["doc_id"], round(r["score"], 6))
                for r in topk(spark, c, TERMS, k=10, mode_all=m).collect()]
               for m in (False, True)]
        out.append([(r["doc_id"], round(r["score"], 6)) for r in
                    phrase_topk(spark, c, ["table", "scan"], k=10).collect()])
        out.append([(r["doc_id"], round(r["score"], 6)) for r in
                    s.query("spark AND (query OR data)", k=10).collect()])
        return out

    assert answers(cat) == answers(fresh)
    # in the relational tombstone regime deletes reach a block through
    # its shard, doc_id div docs_per_shard: a block left under a stale
    # shard would escape the mask and serve deleted docs
    monkeypatch.setattr(D, "DELETED_MAX_COLLECT", 0)
    gone = [d for d, _ in answers(fresh)[0][:3]]
    for c in (cat, fresh):
        D.delete_docs(spark, c, gone)
    assert answers(cat) == answers(fresh)

    def no_term_id(rows):  # appended terms take ids after the old max
        return sorted(r[:1] + r[2:] for r in rows)

    assert no_term_id(_postings_rows(spark, cat)) == \
        no_term_id(_postings_rows(spark, fresh))


def test_reshard_rejects(spark, src, tmp_path_factory):
    with pytest.raises(ValueError, match="docs_per_shard"):
        reshard_index(spark, src, str(tmp_path_factory.mktemp("rs_r1")), 0)
    with pytest.raises(ValueError, match="block_size"):
        reshard_index(
            spark, src, str(tmp_path_factory.mktemp("rs_r2")), 16,
            block_size=0)


def test_reshard_requires_quiesced_index(spark, docs, tmp_path_factory):
    from mahout_spark.index.delete import delete_docs

    cat = build_index(
        spark, docs, str(tmp_path_factory.mktemp("rs_del")),
        content_col="text", mode="simple", n_buckets=4,
        docs_per_shard=64, block_size=16,
    )
    delete_docs(spark, cat, docs.filter(F.col("doc_id") % 7 == 0)
                .select("doc_id"))
    with pytest.raises(ValueError, match="quiesced"):
        reshard_index(
            spark, cat, str(tmp_path_factory.mktemp("rs_del_out")), 16)
