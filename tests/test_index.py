"""Index build + indexed top-k vs the naive scorer and the pure-Python
oracle — the Phase-3 correctness gate (WAND is safe-up-to-k, so equality is
exact, not approximate). Also: lineage/resume and sha verification."""

import os

import pytest
from pyspark.sql import functions as F

from mahout_spark.index.build import build_index, verify_sha
from mahout_spark.index.wand import topk
from mahout_spark.query import CorpusScorer
from mahout_spark.tokenize import tokenize_text
from tests.oracle import OracleIndex


@pytest.fixture(scope="module")
def corpus(spark):
    """sf0.001 documents (500 docs) with the real analyzer chain — small
    docs_per_shard/block_size so sharding and blocking paths actually
    exercise multi-block, multi-shard layouts."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return docs.select("doc_id", F.col("text").alias("content"))


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    cat = build_index(
        spark, corpus, out, content_col="content", id_cols=["doc_id"],
        mode="text", n_buckets=4, docs_per_shard=64, block_size=16,
        lexicon_max_score=True,
    )
    return cat


@pytest.fixture(scope="module")
def oracle(spark, corpus):
    rows = corpus.collect()
    return OracleIndex({r["doc_id"]: r["content"] for r in rows})


@pytest.fixture(scope="module")
def scorer(corpus):
    return CorpusScorer(corpus, content_col="content", id_cols=["doc_id"])


QUERIES = [
    (["spark"], 10, False),
    (["spark", "data"], 10, False),
    (["spark", "data"], 10, True),
    (["queri", "join", "tabl"], 5, False),
    (["queri", "join", "tabl"], 5, True),
    (["nosuchterm"], 5, False),
    (["nosuchterm", "spark"], 5, True),
    (["fast", "slow", "merg", "batch"], 20, False),
]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("terms,k,mode_all", QUERIES)
def test_indexed_matches_oracle(spark, built, oracle, terms, k, mode_all):
    got = _rows(topk(spark, built, terms, k, mode_all))
    want = oracle.search(terms, k, mode_all)
    assert [g[0] for g in got] == [w[0] for w in want], (terms, mode_all)
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)


@pytest.mark.parametrize("terms,k,mode_all", QUERIES[:4])
def test_indexed_matches_naive(spark, built, scorer, terms, k, mode_all):
    got = _rows(topk(spark, built, terms, k, mode_all))
    want = _rows(scorer.search(terms, k, mode_all))
    assert [g[0] for g in got] == [w[0] for w in want]


def test_prune_equals_noprune(spark, built):
    terms = ["spark", "data", "queri"]
    a = _rows(topk(spark, built, terms, 10, prune=True))
    b = _rows(topk(spark, built, terms, 10, prune=False))
    assert a == b


def test_meta_and_lineage(built):
    meta = built.read_meta("postings")
    assert meta["n_docs"] == 500 and meta["avgdl"] > 0
    rows = built.lineage_rows("postings")
    done = {r["partition_id"] for r in rows if r["status"] == "complete"}
    assert done == set(range(4))
    # invariant: sum of block counts == total postings == df sum
    assert all(r["rows_in"] >= r["rows_out"] for r in rows)


def test_postings_invariants(spark, built):
    post = built.read(spark, "postings")
    lex = built.read(spark, "lexicon")
    # sum of per-block counts per term == lexicon df
    agg = post.groupBy("term").agg(F.sum("count").alias("n"))
    bad = agg.join(lex, "term").filter(F.col("n") != F.col("df")).count()
    assert bad == 0
    # block metadata consistent
    assert post.filter(
        F.col("first_docid") > F.col("block_max_docid")
    ).count() == 0
    # lexicon max_score present and >= every block max
    bad2 = post.join(lex.select("term", "max_score"), "term").filter(
        F.col("block_max_score") > F.col("max_score") + 1e-12
    ).count()
    assert bad2 == 0


def test_sha_verification(spark, corpus, built):
    assert verify_sha(spark, corpus, built, "content") == 0


def test_resume_skips_and_is_stable(spark, corpus, built, tmp_path):
    """Kill-after-partial + resume => identical lexicon/postings content."""
    # simulate partial build: delete one bucket partition + its lineage row
    import json
    import shutil

    bucket_dir = built.partition_path("postings", "bucket", 2)
    shutil.rmtree(bucket_dir)
    lineage_path = os.path.join(built.table_path("postings"), "_lineage.jsonl")
    rows = built.lineage_rows("postings")
    with open(lineage_path, "w") as f:
        for r in rows:
            if r["partition_id"] != 2:
                f.write(json.dumps(r) + "\n")
    before = None
    cat2 = build_index(
        spark, corpus, built.root, content_col="content", id_cols=["doc_id"],
        mode="text", n_buckets=4, docs_per_shard=64, block_size=16,
        resume=True,
    )
    post = cat2.read(spark, "postings")
    # bucket 2 rebuilt; full index equal to a reference rebuild elsewhere
    fresh = build_index(
        spark, corpus, str(tmp_path / "fresh"), content_col="content",
        id_cols=["doc_id"], mode="text", n_buckets=4, docs_per_shard=64,
        block_size=16,
    )
    a = {tuple(r) for r in post.select(
        "term", "shard", "block_id", "count", "first_docid",
        "block_max_docid", "doc_ids", "tfs", "doclens").collect()}
    b = {tuple(r) for r in fresh.read(spark, "postings").select(
        "term", "shard", "block_id", "count", "first_docid",
        "block_max_docid", "doc_ids", "tfs", "doclens").collect()}
    assert a == b
    assert before is None  # placeholder to keep flake quiet


def test_searcher_caches_and_matches_topk(spark, built):
    """Searcher ≡ wand.topk/topk_batch on every fixture query, and a warm
    repeat launches no lexicon lookup (term cache populated)."""
    from mahout_spark.index.searcher import Searcher
    from mahout_spark.index.wand import topk, topk_batch

    s = Searcher(spark, built)
    for terms, k, mode_all in QUERIES:
        expected = _rows(topk(spark, built, terms, k=k, mode_all=mode_all))
        assert _rows(s.topk(terms, k=k, mode_all=mode_all)) == expected
        # warm: all queried terms resolved (present or known-absent)
        assert all(t in s._terms for t in terms)
        assert _rows(s.topk(terms, k=k, mode_all=mode_all)) == expected
    batch = {f"q{i}": q[0] for i, q in enumerate(QUERIES)}
    a = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in s.topk_batch(batch, k=5).collect()}
    b = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in topk_batch(spark, built, batch, k=5).collect()}
    assert a == b


def test_searcher_invalidates_after_append(spark, corpus, tmp_path_factory):
    """An append rewrites _meta.json; the Searcher must drop its term
    cache and serve post-append results (new docs, updated df)."""
    from pyspark.sql import functions as F

    from mahout_spark.index.append import append_to_index
    from mahout_spark.index.searcher import Searcher
    from mahout_spark.index.wand import topk

    out = str(tmp_path_factory.mktemp("searcher_inc"))
    half_a = corpus.filter(F.col("doc_id") < 250)
    half_b = corpus.filter(F.col("doc_id") >= 250)
    cat = build_index(
        spark, half_a, out, content_col="content", id_cols=["doc_id"],
        mode="text", resume=False,
    )
    s = Searcher(spark, cat)
    before = _rows(s.topk(["spark", "data"], k=10))
    assert before
    append_to_index(spark, cat, half_b, content_col="content",
                    batch_id="b1")
    after = _rows(s.topk(["spark", "data"], k=10))
    fresh = _rows(topk(spark, cat, ["spark", "data"], k=10))
    assert after == fresh
    assert after != before  # appended docs visible
    # compaction also rewrites meta -> epoch changes -> cache drops; the
    # compacted index answers through the same Searcher identically
    from mahout_spark.index.compact import compact_index

    compact_index(spark, cat)
    assert _rows(s.topk(["spark", "data"], k=10)) == _rows(
        topk(spark, cat, ["spark", "data"], k=10)
    )


def test_legacy_unpartitioned_lexicon_falls_back(
    spark, corpus, tmp_path_factory
):
    """A lexicon in the pre-bucketing (unpartitioned) layout must still
    answer queries via the full-read fallback — and a missing lexicon must
    raise a clear error, never silently return empty results."""
    import shutil

    import pytest

    from mahout_spark.index.wand import topk

    out = str(tmp_path_factory.mktemp("legacy"))
    cat = build_index(
        spark, corpus, out, content_col="content", id_cols=["doc_id"],
        mode="text", n_buckets=4, docs_per_shard=64, block_size=16,
    )
    expected = [
        (r["doc_id"], r["score"])
        for r in topk(spark, cat, ["spark", "data"], k=5).collect()
    ]
    assert expected
    # rewrite the lexicon into the legacy unpartitioned layout
    legacy = cat.read(spark, "lexicon")
    cat.overwrite_table(legacy, "lexicon")
    assert not any(
        d.startswith("bucket=")
        for d in os.listdir(cat.table_path("lexicon"))
    )
    got = [
        (r["doc_id"], r["score"])
        for r in topk(spark, cat, ["spark", "data"], k=5).collect()
    ]
    assert got == expected
    # missing lexicon table -> loud failure
    shutil.rmtree(cat.table_path("lexicon"))
    with pytest.raises(FileNotFoundError, match="no lexicon"):
        topk(spark, cat, ["spark"], k=5).collect()


def test_wide_bucket_build_uses_groupby_stats(spark, corpus, tmp_path_factory):
    """n_buckets above _OBS_MAX_BUCKETS switches lineage-stat collection
    from per-bucket Observation metrics to one post-write groupBy scan;
    the index must stay query-identical and lineage must still account
    for every posting row."""
    from mahout_spark.index import build as B

    small = corpus.filter(F.col("doc_id") < 60)
    out = str(tmp_path_factory.mktemp("wide_idx"))
    cat = build_index(
        spark, small, out, content_col="content", id_cols=["doc_id"],
        mode="text", n_buckets=B._OBS_MAX_BUCKETS + 1, resume=False,
    )
    # lineage is an append-only log (empty buckets get a second complete
    # row from the resume sweep); last row per partition is authoritative
    last = {}
    for r in cat.lineage_rows("postings"):
        last[r["partition_id"]] = r
    assert set(last) == set(range(B._OBS_MAX_BUCKETS + 1))
    total_in = sum(r["rows_in"] for r in last.values())
    postings = cat.read(spark, "postings")
    assert total_in == postings.agg(F.sum("count")).first()[0]
    # query parity vs a narrow-bucket build of the same corpus
    out2 = str(tmp_path_factory.mktemp("narrow_idx"))
    cat2 = build_index(
        spark, small, out2, content_col="content", id_cols=["doc_id"],
        mode="text", n_buckets=4, resume=False,
    )
    q = ["spark", "data"]
    assert _rows(topk(spark, cat, q, k=10)) == _rows(topk(spark, cat2, q, k=10))


def test_searcher_topk_rows_matches_topk(spark, built, monkeypatch):
    """topk_rows (query-node driver kernel) must be rank-identical to the
    distributed path on every fixture query — in BOTH regimes: under the
    driver-exec cap and forced over it (distributed kernel + driver
    merge)."""
    from mahout_spark.index import searcher as S

    s = S.Searcher(spark, built)
    for terms, k, mode_all in QUERIES:
        expected = _rows(topk(spark, built, terms, k=k, mode_all=mode_all))
        got = [(r["doc_id"], r["score"])
               for r in s.topk_rows(terms, k=k, mode_all=mode_all)]
        assert got == expected, (terms, k, mode_all, "driver-exec")
    monkeypatch.setattr(S, "DRIVER_EXEC_MAX_POSTINGS", 0)
    for terms, k, mode_all in QUERIES:
        expected = _rows(topk(spark, built, terms, k=k, mode_all=mode_all))
        got = [(r["doc_id"], r["score"])
               for r in s.topk_rows(terms, k=k, mode_all=mode_all)]
        assert got == expected, (terms, k, mode_all, "distributed")


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_job_counts(spark, built):
    """Reads pass the catalog's recorded schema, so none runs a
    footer-inference job: a warm head query is one job (the postings
    scan), a tail query that misses the lexicon cache two (probe +
    scan), and wand.topk three (probe, then scan + kernel + merge)."""
    from mahout_spark.index.searcher import Searcher

    lex = sorted(
        (r["df"], r["term"])
        for r in built.read(spark, "lexicon").select("term", "df").collect()
    )
    head = [lex[-1][1], lex[-2][1]]
    tails = [t for _, t in lex[:3]]
    s = Searcher(spark, built)
    s.topk_rows(head)  # fills the lexicon cache
    assert _jobs(spark, lambda: s.topk_rows(head)) == 1
    for t in tails:
        assert _jobs(spark, lambda: s.topk_rows([t])) == 2, t
    assert _jobs(spark, lambda: topk(spark, built, head).collect()) == 3
