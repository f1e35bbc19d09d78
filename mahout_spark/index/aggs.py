"""Search-time aggregations over a boolean match set.

The ES aggregation surface this engine needs for data-curation work:

* ``significant_terms`` — the ES significant_terms bucket agg (JLH
  score): which index terms are OVER-represented in the docs matching a
  query, relative to the whole corpus? The workhorse for corpus forensics
  ("what else do the spam-matching docs talk about?"), topic discovery,
  and training-set leakage hunts. Foreground df comes from one semi-join
  of tf_raw onto the match set; background df is a lexicon read — both
  fully relational, no kernel work.

* ``facet_histogram`` — the ES histogram agg over a numeric corpus
  column, restricted to the match set (the numeric twin of
  boolquery.facet_counts): fixed-width buckets, empty buckets absent
  (sparse, like ES ``min_doc_count=1``).

* ``match_count`` / ``facet_cardinality`` / ``facet_percentiles`` — the
  ES ``_count``, ``cardinality``, and ``percentiles`` metric APIs, each
  with an exact (oracle-checkable) and a sketch (100 TB) regime.

* ``composite_agg`` — the ES composite agg: the multi-source bucket
  space paginated in key order behind an ``after_key`` cursor.

* ``top_hits_agg`` — ES terms + top_hits: the most-populated buckets,
  each carrying its top BM25 hits.

Both compose the SAME way at 100 TB: matching_docs stays distributed,
the semi-join broadcasts whichever side AQE finds small, and the
aggregation is one partial-agg shuffle keyed by term/bucket — never by
doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark.index.boolquery import MAX_EXPANSIONS, matching_docs
from mahout_spark.sources.catalog import ParquetCatalog


def significant_terms(
    spark: SparkSession,
    cat: ParquetCatalog,
    query,
    n: int = 10,
    min_fg_df: int = 1,
    exclude_query_terms: bool = False,
    max_expansions: int = MAX_EXPANSIONS,
    cleanup: list | None = None,
) -> DataFrame:
    """Top-``n`` terms most over-represented in ``query``'s match set
    (ES significant_terms, JLH heuristic): per term,
    ``score = (fg_rate - bg_rate) * (fg_rate / bg_rate)`` with
    ``fg_rate = fg_df / n_matched`` and ``bg_rate = df / n_docs``.
    Returns (term, fg_df, bg_df, score) ordered (score desc, term asc).

    Physical plan: match set (distributed, CHECKPOINTED so its kernel
    job runs exactly once) -> one semi-join pruning tf_raw to foreground
    rows -> count per term -> join the lexicon for background df. The
    n_matched count reads the checkpointed blocks, not a recompute.
    ``cleanup`` follows the repo's checkpoint-lifecycle convention
    (checkpoint.release): pass a list to release the match-set blocks
    after consuming the result; None leaves them to ContextCleaner GC.
    ``exclude_query_terms`` drops the query's own positive terms (they
    trivially top the ranking); ES keeps them, so the default does too.
    """
    from mahout_spark.checkpoint import eager_checkpoint

    meta = cat.read_meta("postings")
    n_docs = int(meta["n_docs"])
    m = eager_checkpoint(
        matching_docs(spark, cat, query, max_expansions=max_expansions),
        cleanup,
    )
    tf_raw = cat.read(spark, "tf_raw")
    fg = (
        tf_raw.join(m, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    # n_matched == number of fg docs; counted on the materialized
    # checkpoint blocks (tiny second action, no kernel recompute) to
    # stay exact for docs with zero terms
    n_matched = m.count()
    if n_matched == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    lex = cat.read(spark, "lexicon").select(
        "term", F.col("df").alias("bg_df")
    )
    fg_rate = F.col("fg_df") / F.lit(float(n_matched))
    bg_rate = F.col("bg_df") / F.lit(float(n_docs))
    out = (
        fg.filter(F.col("fg_df") >= min_fg_df)
        .join(lex, "term")
        .select(
            "term", "fg_df", "bg_df",
            F.round(
                (fg_rate - bg_rate) * (fg_rate / bg_rate), 6
            ).alias("score"),
        )
    )
    if exclude_query_terms:
        from mahout_spark.index.queryparse import parse, positive_terms

        node = parse(query) if isinstance(query, str) else query
        qterms = positive_terms(node)
        if qterms:
            out = out.filter(~F.col("term").isin(qterms))
    return out.orderBy(F.col("score").desc(), F.col("term").asc()).limit(n)


def significant_text(
    spark: SparkSession,
    cat: ParquetCatalog,
    query,
    n: int = 10,
    filter_duplicate_text: bool = True,
    min_fg_df: int = 1,
    max_expansions: int = MAX_EXPANSIONS,
    cleanup: list | None = None,
) -> DataFrame:
    """ES ``significant_text``: X65's JLH significance with the API's
    distinguishing knob — ``filter_duplicate_text`` collapses the match
    set to ONE doc per exact content before counting foreground df, so
    a boilerplate page duplicated across the match set cannot fabricate
    significance (the reason the API exists). The dedup rides the
    index's own ``docstats.content_sha`` column — no corpus re-scan, no
    re-hashing: one min-id-per-sha aggregate over the MATCH SET only
    (X1 semantics), then the X65 plan unchanged against the deduped
    foreground. Background stats stay whole-corpus (the ES contract).
    Conventions pinned vs ES: full match set, not a sampler (sampling
    is a sampler-agg composition); exact text equality, not ES's
    near-duplicate filter (X2/X3 are the near-dup tiers).

    Returns (term, fg_df, bg_df, score) like X65."""
    from mahout_spark.checkpoint import eager_checkpoint

    meta = cat.read_meta("postings")
    n_docs = int(meta["n_docs"])
    m = eager_checkpoint(
        matching_docs(spark, cat, query, max_expansions=max_expansions),
        cleanup,
    )
    if filter_duplicate_text:
        stats = cat.read(spark, "docstats").select("doc_id", "content_sha")
        m = eager_checkpoint(
            stats.join(m, "doc_id", "left_semi")
            .groupBy("content_sha")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"),
            cleanup,
        )
    tf_raw = cat.read(spark, "tf_raw")
    fg = (
        tf_raw.join(m, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    n_matched = m.count()
    if n_matched == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    lex = cat.read(spark, "lexicon").select(
        "term", F.col("df").alias("bg_df")
    )
    fg_rate = F.col("fg_df") / F.lit(float(n_matched))
    bg_rate = F.col("bg_df") / F.lit(float(n_docs))
    return (
        fg.filter(F.col("fg_df") >= min_fg_df)
        .join(lex, "term")
        .select(
            "term", "fg_df", "bg_df",
            F.round(
                (fg_rate - bg_rate) * (fg_rate / bg_rate), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(n)
    )


def facet_histogram(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    width: float,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Fixed-width histogram of a numeric corpus column over the FULL
    match set (ES histogram agg; the numeric twin of facet_counts):
    (bucket, n_docs) with ``bucket = floor(value / width) * width``,
    empty buckets absent, NULL values excluded (ES missing-value
    default). One semi-join + one partial-agg count keyed by bucket."""
    if width <= 0:
        raise ValueError(f"histogram width must be > 0: {width!r}")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    bucket = (
        F.floor(F.col(value_col) / F.lit(float(width)))
        * F.lit(float(width))
    )
    return (
        docs.join(m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
        .filter(F.col(value_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


def match_count(
    spark: SparkSession,
    cat: ParquetCatalog,
    query,
    max_expansions: int = MAX_EXPANSIONS,
    **kw,
) -> DataFrame:
    """The ES ``_count`` API: how many docs match ``query`` — one row
    ``(n_matches long)``, no scoring, no ranking. The cheapest possible
    plan for the question everyone asks before exporting a training
    set: the match kernel emits doc_ids, the count is one partial
    aggregation — nothing but the final scalar crosses the driver."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions, **kw)
    return m.agg(F.count(F.lit(1)).alias("n_matches"))


def facet_percentiles(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    percentiles=(0.25, 0.5, 0.75),
    id_col: str = "doc_id",
    approx: bool = False,
    accuracy: int = 10_000,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``percentiles`` agg: quantiles of a numeric corpus column over
    the match set — one row with a round-6 ``p<pct>`` column per
    requested fraction (NULLs excluded, linear interpolation — the SQL
    ``quantile_cont`` contract, so the oracle is exact).

    ``approx=False`` (default) is Spark's EXACT ``percentile`` — a sort
    within the aggregation, the oracle-checkable regime. ``approx=True``
    switches to ``percentile_approx`` (Greenwald-Khanna; ES itself ships
    an approximate t-digest) — fixed-size sketches merge in partial
    aggregation, the 100 TB regime where an exact per-group sort is the
    bottleneck."""
    ps = list(percentiles)
    if not ps or any(not 0 <= p <= 1 for p in ps):
        raise ValueError(f"percentiles must be fractions in [0, 1]: {ps}")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )

    def name(p: float) -> str:
        return "p" + f"{p * 100:g}".replace(".", "_")

    if approx:
        aggs = [F.round(F.percentile_approx(value_col, p, accuracy), 6)
                .alias(name(p)) for p in ps]
    else:
        aggs = [F.round(F.percentile(value_col, p), 6).alias(name(p))
                for p in ps]
    return base.agg(*aggs)


def percentile_ranks(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    values,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``percentile_ranks`` agg — the inverse of ``percentiles``: for
    each given value ``v``, the percentage of the match set's (non-NULL)
    values ``<= v``, one row with a round-6 ``rank_<v>`` column per
    requested value.

    Convention pinned: the exact discrete rank ``100·|{x <= v}|/n`` —
    ES's t-digest interpolates BETWEEN observations, which no exact SQL
    engine replays bit-for-bit; the discrete count is the
    oracle-checkable fixpoint both regimes agree on as the sketch
    converges. One partial aggregation (a sum of comparisons per
    requested value) — only the single result row moves at any corpus
    size, same plan family as ``extended_stats``."""
    vs = list(values)
    if not vs:
        raise ValueError("percentile_ranks needs at least one value")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )

    def name(v) -> str:
        return "rank_" + f"{v:g}".replace(".", "_").replace("-", "m")

    n = F.count(F.lit(1))
    return base.agg(*[
        F.round(
            F.lit(100.0)
            * F.sum((F.col(value_col) <= F.lit(v)).cast("long")) / n,
            6,
        ).alias(name(v))
        for v in vs
    ])


def facet_mad(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``median_absolute_deviation`` agg, EXACT regime: one row
    ``(median, mad)`` over the match set's non-NULL values —
    ``mad = median(|x − median(x)|)``, both medians the exact linear-
    interpolation percentile (the X87 convention; ES ships a t-digest
    approximation, which no exact SQL engine replays — the exact value
    is the fixpoint it converges to). Two aggregations (the second
    needs the first's scalar); each is one partial-agg exchange."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )
    med_row = base.agg(F.percentile(value_col, 0.5).alias("m")).first()
    med = float(med_row["m"]) if med_row["m"] is not None else None
    if med is None:
        return spark.createDataFrame([], "median double, mad double")
    return base.agg(
        F.round(F.lit(med), 6).alias("median"),
        F.round(
            F.percentile(F.abs(F.col(value_col) - F.lit(med)), 0.5), 6
        ).alias("mad"),
    )


def facet_boxplot(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``boxplot`` agg, exact regime: one row (min, q1, q2, q3, max)
    over the match set's non-NULL values — quartiles by exact linear
    interpolation (X87 convention). One aggregation row; only the
    scalar result moves."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )
    return base.agg(
        F.round(F.min(value_col).cast("double"), 6).alias("min_value"),
        F.round(F.percentile(value_col, 0.25), 6).alias("q1"),
        F.round(F.percentile(value_col, 0.5), 6).alias("q2"),
        F.round(F.percentile(value_col, 0.75), 6).alias("q3"),
        F.round(F.max(value_col).cast("double"), 6).alias("max_value"),
    )


def string_stats(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``string_stats`` agg (with ``show_distribution``'s entropy):
    one row (count, min_length, max_length, avg_length, entropy) over
    the match set's non-NULL strings. Entropy is the Shannon entropy of
    the CHARACTER distribution across all values (the ES definition),
    computed relationally: explode to characters, one (char → count)
    aggregation (alphabet-sized output), then the −Σ p·log2(p) fold as
    an ORDERED running sum over the char-sorted relation — the same
    hash-stable float-fold discipline as X128 (alphabet-sized window,
    never corpus-sized). Rounded once at 1e-6."""
    from pyspark.sql import Window

    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )
    lens = base.agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length(value_col)).cast("long").alias("min_length"),
        F.max(F.length(value_col)).cast("long").alias("max_length"),
        F.round(F.avg(F.length(value_col)), 6).alias("avg_length"),
    )
    chars = (
        base.select(F.explode(F.split(value_col, "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    cum = Window.partitionBy().orderBy("ch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    last = Window.partitionBy().orderBy(F.col("ch").desc())
    p = F.col("n") / F.sum("n").over(tot)
    # the windows above are ALPHABET-sized (<= distinct chars), never
    # corpus-sized — the one place a global window is bounded by design
    ent = (
        chars.withColumn("_c", F.sum(-p * F.log2(p)).over(cum))
        .withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select(F.round("_c", 6).alias("entropy"))
    )
    # left join on a constant key: an empty match set (or only empty
    # strings) has no char relation, and must still yield the count=0 row
    return lens.join(F.broadcast(ent), F.lit(True), "left")


def extended_stats(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``extended_stats`` agg: one row of count / min / max / sum /
    avg / variance / std_deviation of a numeric corpus column over the
    match set (population variance — the ES contract; NULLs excluded).
    All seven moments derive from ONE partial aggregation of (count,
    min, max, sum, sum-of-squares) — ES's own formulation (it tracks
    sum and sumOfSquares, not Welford), and the derivation
    ``q/n − (s/n)²`` is plain IEEE arithmetic over those moments, so an
    oracle computing the same expression over the same values is
    bit-identical. Nothing but the single result row moves at any
    corpus size. Derived floats round to 6; count stays long, min/max
    stay exact."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), value_col)
        .join(m, "doc_id", "left_semi")
        .filter(F.col(value_col).isNotNull())
    )
    v = F.col(value_col).cast("double")
    raw = base.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
    )
    n = F.col("n_values").cast("double")
    mean = F.col("_s") / n
    var = F.col("_q") / n - mean * mean
    return raw.select(
        "n_values", "min_value", "max_value",
        F.round("_s", 6).alias("sum_value"),
        F.round(mean, 6).alias("avg_value"),
        F.round(var, 6).alias("variance"),
        F.round(F.sqrt(var), 6).alias("std_deviation"),
    )


def composite_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    sources,
    size: int = 10,
    after=None,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``composite`` aggregation: the bucket space of multiple
    sources, paginated in KEY order — the only ES agg built to stream
    EVERY bucket of a high-cardinality group-by through bounded pages.
    ``sources`` entries are ``"col"`` (terms source) or ``(col, width)``
    (fixed-width histogram source, ``floor(v/width)·width``). Returns
    ``size`` buckets ``(key..., doc_count)`` ordered by the full key
    tuple asc, strictly after the ``after`` cursor (the previous page's
    last key, as a dict or values tuple — ES's ``after_key``). Rows NULL
    in any source are skipped (ES ``missing_bucket: false`` default).

    At scale: one semi-join + one partial-agg shuffle keyed by the
    bucket tuple; the cursor predicate and LIMIT cut AFTER the
    aggregation, so page N costs page 1 and no state accumulates
    across pages (exactly why ES invented composite over terms)."""
    from mahout_spark.index.ranking import _after_predicate

    if size < 1:
        raise ValueError(f"composite size must be >= 1: {size}")
    if not sources:
        raise ValueError("composite_agg needs at least one source")
    keys, exprs = [], []
    for s in sources:
        if isinstance(s, str):
            keys.append(s)
            exprs.append(F.col(s).alias(s))
        else:
            col, width = s
            if width <= 0:
                raise ValueError(f"histogram width must be > 0: {width!r}")
            keys.append(col)
            exprs.append(
                (F.floor(F.col(col) / F.lit(float(width)))
                 * F.lit(float(width))).alias(col)
            )
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = docs.join(
        m.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    ).select(*exprs)
    for k in keys:
        base = base.filter(F.col(k).isNotNull())
    out = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("doc_count"))
    if after is not None:
        # all-asc lexicographic cursor; reuse the sorted-retrieval
        # predicate with the last key standing in for the id tiebreak
        # (bucket tuples are unique, so strictness on the full tuple is
        # exactly "after this bucket")
        out = out.filter(_after_predicate(
            [(k, True) for k in keys[:-1]], keys[-1], after
        ))
    return out.orderBy(*[F.col(k).asc() for k in keys]).limit(size)


def top_hits_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    group_col: str,
    n_buckets: int = 5,
    size: int = 3,
    id_col: str = "doc_id",
    cleanup: list | None = None,
    **query_kwargs,
) -> DataFrame:
    """ES ``terms`` agg with a ``top_hits`` sub-agg: the ``n_buckets``
    most-populated ``group_col`` buckets of the match set (doc_count
    desc, value asc — the ES terms order), each carrying its top
    ``size`` hits by BM25 — ``(group, doc_count, rank, doc_id, score)``.

    Differs from collapse_topk (X56) in both halves of the contract:
    buckets are SELECTED and ORDERED by size (collapse keeps every
    group), and each bucket reports its population. Plan: the ranked
    match set ⋈ the (id, group) projection is checkpointed ONCE and
    feeds both the bucket count and the hit ranking; the winning-bucket
    relation is n_buckets rows — broadcast back as a semi-join so the
    per-group window only ranks docs inside winning buckets. NULL group
    values are skipped (ES terms default)."""
    from mahout_spark.checkpoint import eager_checkpoint
    from mahout_spark.index.boolquery import score_matches
    from pyspark.sql import Window

    if n_buckets < 1 or size < 1:
        raise ValueError(
            f"n_buckets and size must be >= 1: {n_buckets}, {size}")
    scores = score_matches(spark, cat, query, **query_kwargs)
    joined = eager_checkpoint(
        docs.select(id_col, group_col)
        .filter(F.col(group_col).isNotNull())
        .join(scores.withColumnRenamed("doc_id", id_col), id_col),
        cleanup,
    )
    buckets = (
        joined.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col(group_col).asc())
        .limit(n_buckets)
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
    )
    hits = (
        joined.join(F.broadcast(buckets.select(group_col)),
                    group_col, "left_semi")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= size)
    )
    return (
        hits.join(F.broadcast(buckets), group_col)
        .select(
            group_col, "doc_count", F.col("rank").cast("long").alias("rank"),
            id_col, F.round("score", 6).alias("score"),
        )
        .orderBy(F.col("doc_count").desc(), F.col(group_col).asc(),
                 F.col("rank").asc())
    )


def facet_cardinality(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    cols: list[str],
    id_col: str = "doc_id",
    approx: bool = False,
    rsd: float = 0.05,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``cardinality`` agg: distinct values of corpus columns over
    the match set — one row with a ``<col>_cardinality`` count per
    requested column (NULLs excluded, SQL count-distinct semantics).

    ``approx=False`` (default) is EXACT ``count_distinct`` — one extra
    shuffle keyed by value, the oracle-checkable regime. ``approx=True``
    switches to HyperLogLog++ (``approx_count_distinct`` with relative
    error ``rsd``) — ES's own algorithm and the 100 TB regime for
    high-cardinality columns (url, user id): fixed-size sketches merge
    in partial aggregation, no value-keyed shuffle at all."""
    if not cols:
        raise ValueError("facet_cardinality needs at least one column")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = docs.select(F.col(id_col).alias("doc_id"), *cols).join(
        m, "doc_id", "left_semi"
    )
    if approx:
        aggs = [F.approx_count_distinct(c, rsd).alias(f"{c}_cardinality")
                for c in cols]
    else:
        aggs = [F.count_distinct(F.col(c)).alias(f"{c}_cardinality")
                for c in cols]
    return base.agg(*aggs)


def rare_terms(
    spark: SparkSession,
    cat: ParquetCatalog,
    query,
    n: int = 10,
    max_doc_count: int | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    cleanup: list | None = None,
) -> DataFrame:
    """The ``n`` RAREST terms of ``query``'s match set (ES ``rare_terms``
    — the long-tail complement of the terms agg): per term its
    foreground doc count, ordered (fg_df ASC, term asc);
    ``max_doc_count`` (the ES knob) additionally drops terms above the
    threshold — None keeps the pure n-rarest ranking, which is always
    non-empty on a non-empty match set.

    ES approximates this agg with a CuckooFilter because a single shard
    can't hold the tail; the relational form is EXACT at any scale —
    the semi-join prunes tf_raw to the match set and the count is one
    partial-agg shuffle keyed by term (the tail never concentrates)."""
    from mahout_spark.checkpoint import eager_checkpoint

    m = eager_checkpoint(
        matching_docs(spark, cat, query, max_expansions=max_expansions),
        cleanup,
    )
    tf_raw = cat.read(spark, "tf_raw")
    fg = (
        tf_raw.join(m, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    if max_doc_count is not None:
        if max_doc_count < 1:
            raise ValueError(
                f"max_doc_count must be >= 1: {max_doc_count}")
        fg = fg.filter(F.col("fg_df") <= max_doc_count)
    return fg.orderBy(F.col("fg_df").asc(), F.col("term").asc()).limit(n)


def _labeled_match_sets(
    spark: SparkSession,
    cat: ParquetCatalog,
    filters: dict,
    max_expansions: int,
    cleanup: list | None,
) -> DataFrame:
    """Union of every named filter's match set as (bucket, doc_id) —
    each kernel runs once; the union is narrow (no exchange until the
    consumer aggregates)."""
    from functools import reduce

    from mahout_spark.checkpoint import eager_checkpoint

    if not filters:
        raise ValueError("filters must be non-empty")
    parts = [
        eager_checkpoint(
            matching_docs(spark, cat, q, max_expansions=max_expansions),
            cleanup,
        ).select(F.lit(name).alias("bucket"), "doc_id")
        for name, q in sorted(filters.items())
    ]
    return reduce(DataFrame.unionByName, parts)


def filters_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    filters: dict,
    max_expansions: int = MAX_EXPANSIONS,
    cleanup: list | None = None,
) -> DataFrame:
    """ES ``filters`` bucket agg: one named bucket per filter query,
    each with its match-set doc count — INCLUDING zero-count buckets
    (the ES contract; a missing bucket and an empty one are different
    answers). Ordered by bucket name asc (ES preserves request order;
    a relation pins a deterministic one). One partial-agg exchange
    keyed by the tiny bucket-name key."""
    labeled = _labeled_match_sets(
        spark, cat, filters, max_expansions, cleanup)
    counts = labeled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("doc_count"))
    names = spark.createDataFrame(
        [(k,) for k in sorted(filters)], "bucket string")
    return (
        names.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("doc_count"), F.lit(0)).cast("long")
            .alias("doc_count"),
        )
        .orderBy("bucket")
    )


def adjacency_matrix(
    spark: SparkSession,
    cat: ParquetCatalog,
    filters: dict,
    max_expansions: int = MAX_EXPANSIONS,
    cleanup: list | None = None,
) -> DataFrame:
    """ES ``adjacency_matrix`` agg: for every filter and every filter
    PAIR, the count of docs matching both — the co-occurrence matrix
    behind entity-relationship maps. Keys are the filter name for the
    diagonal and ``a&b`` (names sorted) off-diagonal; empty
    intersections are omitted (the ES contract, opposite of
    ``filters_agg``). The pair join hashes the labeled match sets on
    doc_id — one exchange; intersection counts partial-aggregate."""
    labeled = _labeled_match_sets(
        spark, cat, filters, max_expansions, cleanup)
    a, b = labeled.alias("a"), labeled.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.bucket") <= F.col("b.bucket")),
    )
    key = F.when(
        F.col("a.bucket") == F.col("b.bucket"), F.col("a.bucket")
    ).otherwise(F.concat_ws("&", F.col("a.bucket"), F.col("b.bucket")))
    return (
        pairs.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("key")
    )


def range_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    ranges: list,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``range`` bucket agg over the match set: named buckets
    ``(label, lo, hi)`` with ``lo <= value < hi`` (ES's from-inclusive /
    to-exclusive contract; ``None`` = unbounded on that side), each
    returned with its doc count — INCLUDING empty buckets (ES returns
    every requested range) — plus sum/avg of the value (rounded 1e-6;
    NULL on empty buckets). Ranges may overlap (a doc counts in every
    bucket it falls in — ES allows it, so the plan can't be a single
    groupBy: each range is an independent conditional aggregate in ONE
    pass over the semi-joined relation; no per-range scans, no
    explode). Output ordered by label asc."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    labels = [r[0] for r in ranges]
    if len(set(labels)) != len(labels):
        raise ValueError(f"range labels must be unique: {labels}")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    v = F.col(value_col).cast("double")
    base = (
        docs.join(m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
        .filter(v.isNotNull())
    )
    aggs = []
    for label, lo, hi in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= float(lo))
        if hi is not None:
            cond = cond & (v < float(hi))
        hit = F.when(cond, v)
        aggs += [
            F.count(hit).alias(f"_n_{label}"),
            F.round(F.sum(hit), 6).alias(f"_s_{label}"),
            F.round(F.avg(hit), 6).alias(f"_a_{label}"),
        ]
    row = base.agg(*aggs)
    parts = [
        row.select(
            F.lit(label).alias("bucket"),
            F.col(f"_n_{label}").alias("doc_count"),
            F.col(f"_s_{label}").alias("sum_value"),
            F.col(f"_a_{label}").alias("avg_value"),
        )
        for label, _, _ in ranges
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, parts).orderBy("bucket")


def weighted_avg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    value_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES ``weighted_avg`` metric agg over the match set:
    ``Σ(value·weight) / Σ(weight)`` — one row (weighted_avg, n_docs).
    Rows where EITHER side is NULL are skipped entirely (the ES
    value+weight missing contract). One semi-join + one partial
    aggregation; only the two scalars cross the driver."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    both = v.isNotNull() & w.isNotNull()
    return (
        docs.join(m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
        .filter(both)
        .agg(
            F.round(F.sum(v * w) / F.sum(w), 6).alias("weighted_avg"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def terms_enum(
    spark: SparkSession,
    cat: ParquetCatalog,
    prefix: str,
    n: int = 10,
    min_df: int = 1,
) -> DataFrame:
    """The ES ``_terms_enum`` API: index terms starting with ``prefix``
    in term order with their doc frequencies — the autocomplete /
    dictionary-browse surface. One filtered lexicon scan (the lexicon
    is hash-bucketed, so a prefix cannot prune buckets — by design:
    bucketing serves point lookups) + TakeOrdered; when the permuterm
    tier exists, the same ``$prefix`` rotation probe that serves prefix
    leaves answers the enumeration row-group-pruned instead of reading
    the vocabulary. ``min_df`` drops hapax noise."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1: {min_df}")
    from mahout_spark.index.permuterm import SENTINEL, prefix_candidates

    meta = cat.read_meta("postings")
    if meta.get("permuterm") and SENTINEL not in prefix:
        cand = prefix_candidates(spark, cat, prefix)
    else:
        lex = cat.read(spark, "lexicon")
        cand = lex.filter(F.col("term").startswith(prefix))
    return (
        cand.filter(F.col("df") >= min_df)
        .select("term", "df")
        .orderBy(F.col("term").asc())
        .limit(n)
    )


def top_metrics_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    sort_col: str,
    metric_cols: list,
    size: int = 1,
    desc: bool = True,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """The ES ``top_metrics`` agg: the metric column values of the
    ``size`` docs with the largest (or smallest) ``sort_col`` in the
    match set — "what was X at the maximum of Y", the cheap cousin of
    top_hits when only column values (not ranked hits) are wanted.
    NULL sort values are excluded (ES contract); ties pin on id asc.
    One semi-join + TakeOrdered — never a full sort."""
    if size < 1:
        raise ValueError(f"size must be >= 1: {size}")
    if not metric_cols:
        raise ValueError("metric_cols must be non-empty")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    s = F.col(sort_col)
    return (
        docs.join(m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
        .filter(s.isNotNull())
        .select(id_col, sort_col, *metric_cols)
        .orderBy(s.desc() if desc else s.asc(), F.col(id_col).asc())
        .limit(size)
    )


def t_test_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    filter_a,
    filter_b,
    value_col: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """The ES ``t_test`` agg (heteroscedastic / Welch, the ES default):
    is ``value_col`` different between two filters' match sets?
    Returns ONE row — per-side n/mean/SAMPLE variance and the Welch
    statistic ``t = (m_a − m_b) / sqrt(s²_a/n_a + s²_b/n_b)`` (1e-6
    rounded; NULL when either side has < 2 values or both variances
    are 0 — the undefined regimes). Two match kernels + one conditional
    aggregation pass over the union — the corpus is read once.

    Variances derive from MOMENTS (count, Σx, Σx²) like X91 — for
    integer-valued columns the sums are exact in double regardless of
    accumulation order, so the SQL oracle computing the identical
    expression is bit-identical; the builtin ``var_samp`` (Welford) is
    order-dependent and would jitter at the rounding grid."""
    ma = matching_docs(spark, cat, filter_a, max_expansions=max_expansions)
    mb = matching_docs(spark, cat, filter_b, max_expansions=max_expansions)
    v = F.col(value_col).cast("double")
    base = docs.filter(v.isNotNull()).select(id_col, v.alias("_v"))
    labeled = (
        base.join(ma.withColumnRenamed("doc_id", id_col), id_col,
                  "leftsemi").withColumn("side", F.lit("a"))
        .unionByName(
            base.join(mb.withColumnRenamed("doc_id", id_col), id_col,
                      "leftsemi").withColumn("side", F.lit("b")))
    )
    va = F.when(F.col("side") == "a", F.col("_v"))
    vb = F.when(F.col("side") == "b", F.col("_v"))

    def _moments(v, p):
        return [F.count(v).alias(f"n_{p}"), F.sum(v).alias(f"s_{p}"),
                F.sum(v * v).alias(f"q_{p}")]

    mom = labeled.agg(*_moments(va, "a"), *_moments(vb, "b"))

    def _mv(p):
        n, sm, q = F.col(f"n_{p}"), F.col(f"s_{p}"), F.col(f"q_{p}")
        mean = sm / n
        s2 = F.when(n >= 2, (q - sm * sm / n) / (n - 1))
        return mean.alias(f"m_{p}"), s2.alias(f"s2_{p}")

    ma_m, ma_v = _mv("a")
    mb_m, mb_v = _mv("b")
    row = mom.select("n_a", ma_m, ma_v, "n_b", mb_m, mb_v)
    se2 = F.col("s2_a") / F.col("n_a") + F.col("s2_b") / F.col("n_b")
    t = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0),
        (F.col("m_a") - F.col("m_b")) / F.sqrt(se2),
    )
    return row.select(
        "n_a", F.round("m_a", 6).alias("mean_a"),
        F.round("s2_a", 6).alias("var_a"),
        "n_b", F.round("m_b", 6).alias("mean_b"),
        F.round("s2_b", 6).alias("var_b"),
        F.round(t, 6).alias("t_stat"),
    )


def matrix_stats_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    col_x: str,
    col_y: str,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """The ES ``matrix_stats`` agg for a column pair over the match
    set: ONE row of n / means / POPULATION variances / covariance /
    Pearson correlation (the ES matrix entries; rows where EITHER
    column is NULL are skipped — ES's listwise deletion). One semi-join
    + one partial aggregation of exact MOMENTS (see t_test_agg on why
    moments, not covar_pop/corr); correlation NULL when either
    variance is 0."""
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    base = (
        docs.join(m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
        .filter(x.isNotNull() & y.isNotNull())
        .select(x.alias("_x"), y.alias("_y"))
    )
    # moments, not the iterative builtins: exact for integer-valued
    # columns in any accumulation order (the X91 determinism argument)
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"), F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("qx"),
        F.sum(F.col("_y") * F.col("_y")).alias("qy"),
        F.sum(F.col("_x") * F.col("_y")).alias("pxy"),
    )
    n = F.col("n").cast("double")
    mx, my_ = F.col("sx") / n, F.col("sy") / n
    vx = F.col("qx") / n - mx * mx
    vy = F.col("qy") / n - my_ * my_
    cov = F.col("pxy") / n - mx * my_
    corr = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    row = mom.select(
        "n", mx.alias("mean_x"), my_.alias("mean_y"),
        vx.alias("var_x"), vy.alias("var_y"),
        cov.alias("cov_xy"), corr.alias("corr_xy"),
    )
    return row.select(
        "n",
        F.round("mean_x", 6).alias("mean_x"),
        F.round("mean_y", 6).alias("mean_y"),
        F.round("var_x", 6).alias("var_x"),
        F.round("var_y", 6).alias("var_y"),
        F.round("cov_xy", 6).alias("cov_xy"),
        F.round("corr_xy", 6).alias("corr_xy"),
    )


def multi_terms_agg(
    spark: SparkSession,
    cat: ParquetCatalog,
    docs: DataFrame,
    query,
    key_cols: list,
    n: int = 10,
    value_col: str | None = None,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """The ES ``multi_terms`` bucket agg: buckets keyed by a COMPOUND
    of field values over the match set, most-populated first (ties pin
    on the key tuple asc — ES leaves shard order; a relation must not),
    optional sum of a metric. Rows with ANY NULL key are dropped (the
    ES missing-bucket default). One semi-join + one partial aggregation
    keyed by the compound — exactly the terms-agg plan with a wider
    key."""
    if not key_cols or len(key_cols) < 2:
        raise ValueError(f"multi_terms needs >= 2 key columns: {key_cols}")
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    m = matching_docs(spark, cat, query, max_expansions=max_expansions)
    base = docs.join(
        m.withColumnRenamed("doc_id", id_col), id_col, "leftsemi")
    for c in key_cols:
        base = base.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if value_col:
        aggs.append(
            F.round(F.sum(F.col(value_col).cast("double")), 6)
            .alias("sum_value"))
    return (
        base.groupBy(*key_cols)
        .agg(*aggs)
        .orderBy(F.col("doc_count").desc(),
                 *[F.col(c).asc() for c in key_cols])
        .limit(n)
    )
