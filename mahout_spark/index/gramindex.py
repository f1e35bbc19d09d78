"""Bigram candidate tier for fuzzy expansion — the count-filter
structure that makes ``term~n`` vocabulary-scan-free at 10^8+ terms.

X47's fuzzy leaves expand by scanning the lexicon with the threshold
JVM ``levenshtein`` behind a length band — exact, vocabulary-bounded,
and the analog of what Lucene replaces with Levenshtein automata over
its term FST. This tier is the classic q-gram count filter (Ukkonen;
the approximate-string-join standard): two strings within edit
distance ``d`` share at least

    max(|a|, |b|) - q + 1 - d*q          (q = 2 here)

positional q-gram OCCURRENCES — each edit destroys at most ``q``
grams. So index every term's bigram MULTISET (one row per distinct
gram with its count, sorted by gram on disk), and a fuzzy probe reads
only the stem's grams' rows, computes the shared-occurrence count
relationally (``sum(least(cnt_term, cnt_stem))``), keeps candidates
meeting the bound + the length band, and runs the SAME exact threshold
``levenshtein`` + ranking over that small set. Cost: O(postings of the
stem's ~|stem| grams), never O(vocabulary).

Soundness domain: pruning on zero shared grams is only valid when the
bound is >= 1 for EVERY candidate length, i.e. when
``len(stem) >= 2 + d*q`` (stems shorter than that — 4 chars at d=1,
6 at d=2 — keep the exact length-band scan; they are also exactly the
stems whose scan is cheapest). Multiset counting matters: set-dedup
sharing breaks the theorem on repetitive terms ("ababab" vs itself
shares only 2 DISTINCT grams but the d=2 bound demands 3), which is
why the table stores per-gram counts — gated by the identity test's
repetitive-vocabulary cases.

Same lifecycle as the permuterm tier (X71): ``build_gramindex`` after
build/compact; appends maintain the tier INCREMENTALLY
(``append_gramindex`` — an epoch-stamped delta for exactly the batch's
touched terms, readers keep each candidate's max-epoch row), while
compactions — where every stat moves — drop it for a fresh build;
``expand_fuzzy_rows`` is the single routing point and returns rows
IDENTICAL to the scan path (test-gated across stems, distances, and
both regimes).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mahout_spark.sources.catalog import ParquetCatalog

Q = 2  # gram length; the count-filter bound below hard-codes it


def _grams(word: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for i in range(len(word) - Q + 1):
        g = word[i:i + Q]
        out[g] = out.get(g, 0) + 1
    return out


def _gram_rows(lex: DataFrame, epoch: int) -> DataFrame:
    """(gram, term, cnt, tlen, bucket, df, epoch) rows — the shared
    construction between the full build and the per-append delta."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length("term") - F.lit(Q - 1)),
        lambda i: F.substr(F.col("term"), i, F.lit(Q)),
    )
    return (
        lex.filter(F.length("term") >= Q)
        .select(
            "term", "bucket", "df",
            F.length("term").alias("tlen"),
            F.explode(grams).alias("gram"),
        )
        .groupBy("term", "bucket", "df", "tlen", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("epoch", F.lit(int(epoch)))
    )


def build_gramindex(spark: SparkSession, cat: ParquetCatalog) -> None:
    """Materialize the bigram table: (gram, term, cnt, tlen, bucket,
    df, epoch), one row per DISTINCT gram per term with its occurrence
    count, range-sorted by gram (prefix/IN probes prune row groups via
    parquet min/max — the same physical trick as lexicon/permuterm).
    Idempotent overwrite; meta gains ``gramindex: true`` (meta_version
    bump re-keys warm caches). Appends then maintain it INCREMENTALLY
    (append_gramindex) instead of rebuilding."""
    lex = cat.read(spark, "lexicon").select("term", "bucket", "df")
    table = (
        _gram_rows(lex, 0)
        .repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 8), "gram"
        )
        .sortWithinPartitions("gram", "term")
    )
    cat.overwrite_table(table, "gramindex")
    meta = cat.read_meta("postings")
    meta["gramindex"] = True
    cat.write_meta("postings", meta)


def append_gramindex(
    spark: SparkSession,
    cat: ParquetCatalog,
    touched_lex: DataFrame,
    epoch: int,
    tag: str | None = None,
) -> None:
    """Incremental tier maintenance on append (round-3 VERDICT ask #3),
    the gram twin of append_permuterm: every term the append touched —
    new or df-moved — gets a fresh full gram set stamped with the
    append's ``epoch``; readers keep the max-epoch rows per candidate
    term, so the count-filter and df ranking always see current values.
    Delta cost is O(batch vocabulary x avg term length); delta files are
    internally gram-sorted so row-group pruning survives. Compaction
    drops the tier for a fresh build (its stats all move there)."""
    # cast to the bucket type the table records: int when written
    # since schemas are recorded, bigint in older appended deltas
    bucket = F.col("bucket").cast(
        cat.schema(spark, "gramindex")["bucket"].dataType
    )
    delta = (
        _gram_rows(touched_lex.select("term", bucket, "df"), epoch)
        .repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 8), "gram"
        )
        .sortWithinPartitions("gram", "term")
    )
    cat.append_table(delta, "gramindex", tag=tag)


def gram_tier_applies(stem: str, n: int) -> bool:
    """Zero-shared-gram pruning is sound only when the count-filter
    bound is >= 1 regardless of candidate length: max(tlen, m) >= m
    and we need max - (Q-1) - n*Q >= 1, guaranteed by the stem alone
    when ``m >= Q + n*Q`` (4 chars at n=1, 6 at n=2)."""
    return len(stem) >= Q + n * Q


def gram_fuzzy_expansion_rows(
    spark: SparkSession,
    cat: ParquetCatalog,
    stem: str,
    n: int,
    cap: int,
) -> list:
    """Fuzzy expansion through the gram tier: probe the stem's grams,
    count shared occurrences per candidate, apply the count-filter
    bound + length band, then the SAME exact threshold levenshtein and
    (distance asc, df desc, term asc) ranking the scan path uses —
    identical rows, vocabulary-free cost."""
    assert gram_tier_applies(stem, n), (stem, n)
    sg = _grams(stem)
    m = len(stem)
    gi = cat.read(spark, "gramindex")
    if "epoch" not in gi.columns:  # pre-epoch table layout
        gi = gi.withColumn("epoch", F.lit(0))
    qg = spark.createDataFrame(
        [(g, c) for g, c in sorted(sg.items())], "gram string, scnt int"
    )
    shared = (
        gi.filter(F.col("gram").isin(sorted(sg)))
        .filter(F.col("tlen").between(m - n, m + n))
        .join(F.broadcast(qg), "gram")
        .groupBy("term", "bucket", "df", "tlen", "epoch")
        .agg(F.sum(F.least(F.col("cnt"), F.col("scnt"))).alias("shared"))
    )
    # appended deltas re-stamp touched terms (df moved): keep only each
    # candidate's max-epoch row so ranking sees current df — the window
    # runs over the gram-pruned candidate set, never the vocabulary
    from pyspark.sql import Window

    w_ep = Window.partitionBy("term").orderBy(F.col("epoch").desc())
    shared = (
        shared.withColumn("_rk", F.row_number().over(w_ep))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "epoch")
    )
    bound = F.greatest(F.col("tlen"), F.lit(m)) - F.lit(Q - 1 + n * Q)
    dist = F.levenshtein(F.col("term"), F.lit(stem), n)
    return (
        shared.filter(F.col("shared") >= bound)
        .select("term", "bucket", "df", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
        .orderBy(F.col("dist").asc(), F.col("df").desc(),
                 F.col("term").asc())
        .limit(cap)
        .collect()
    )


def expand_fuzzy_rows(
    spark: SparkSession,
    cat: ParquetCatalog,
    lex,
    stem: str,
    n: int,
    cap: int,
    meta: dict | None = None,
) -> list:
    """THE fuzzy-expansion routing point: gram-tier probe when the
    table exists and the stem is long enough for sound pruning, exact
    length-band scan otherwise. Both paths return the same rows
    (test-gated)."""
    from mahout_spark.index.boolquery import _fuzzy_expansion_rows

    if meta is None:
        try:
            meta = cat.read_meta("postings")
        except FileNotFoundError:
            meta = {}
    if bool(meta.get("gramindex")) and gram_tier_applies(stem, n):
        return gram_fuzzy_expansion_rows(spark, cat, stem, n, cap)
    return _fuzzy_expansion_rows(lex, stem, n, cap)
