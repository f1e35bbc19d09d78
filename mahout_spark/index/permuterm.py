"""Permuterm dictionary tier — leading/infix wildcards without a
vocabulary scan.

X53's wildcard leaves expand by scanning the lexicon with an anchored
``rlike`` — vocabulary-bounded, but at 10^8+ terms that scan is the
cost the classic permuterm index (Garfield; the standard IR-textbook
structure Lucene solves with its term FST) removes: index every
rotation of ``term + '$'`` sorted by rotation, and any single-``*``
pattern becomes a PREFIX lookup:

    X*Y  ->  rotations starting with  Y$X
    *Y   ->  rotations starting with  Y$
    (X* stays the plain prefix leaf — the parser never builds a
    wildcard for it)

The table is written range-partitioned + sorted by rotation, so a
prefix probe prunes row groups via parquet min/max stats exactly like
the term-sorted lexicon does for prefix leaves (plan-gated): lookup
cost goes from O(vocabulary) to O(matching rotations). Storage is
Σ(len(term)+1) rows ≈ one extra lexicon-sized table per ~9 chars of
average term length.

Query integration is transparent: ``expand_wildcard_rows`` (the single
routing point used by boolquery/batch/Searcher) probes the permuterm
table when it exists AND the pattern is single-``*``/no-``?``;
everything else (multi-star, ``?``) keeps the exact rlike scan. Both
paths return IDENTICAL expansions (the permuterm candidates are
post-filtered with the same anchored regex before the same
df-desc/term-asc cap — test-gated equality across pattern shapes), so
the tier is purely a physical optimization, exactly like bucket
pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark.sources.catalog import ParquetCatalog

#: rotation terminator — cannot collide with index terms: no tokenizer
#: mode emits '$' (text/code/simple all split it away; lang tags use ':').
SENTINEL = "$"


def _rotation_rows(lex: DataFrame, epoch: int) -> DataFrame:
    """(rot, term, bucket, df, epoch) rows for every rotation of every
    term in ``lex`` — the shared construction between the full build and
    the per-append delta merge."""
    w = F.concat(F.col("term"), F.lit(SENTINEL))
    rots = F.transform(
        F.sequence(F.lit(0), F.length(w) - F.lit(1)),
        lambda i: F.concat(F.substr(w, i + F.lit(1)),
                           F.substr(w, F.lit(1), i)),
    )
    return lex.select(
        F.explode(rots).alias("rot"), "term", "bucket", "df",
        F.lit(int(epoch)).alias("epoch"),
    )


def build_permuterm(spark: SparkSession, cat: ParquetCatalog) -> None:
    """Materialize the permuterm table for an existing index: one row
    per rotation of each lexicon term — (rot, term, bucket, df, epoch),
    sorted by rotation on disk (range partitioning -> tight min/max
    stats -> prefix probes prune row groups). Idempotent overwrite; meta
    gains ``permuterm: true`` (bumping meta_version, so warm Searcher
    caches re-key). Cost: one lexicon scan + one range shuffle of ~(avg
    term length + 1) x vocabulary rows — run it after build/compact, or
    whenever wildcard traffic warrants the tier. Appends then maintain
    it INCREMENTALLY (append_permuterm) instead of rebuilding."""
    lex = cat.read(spark, "lexicon").select("term", "bucket", "df")
    table = (
        _rotation_rows(lex, 0)
        .repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 8), "rot"
        )
        .sortWithinPartitions("rot")
    )
    cat.overwrite_table(table, "permuterm")
    meta = cat.read_meta("postings")
    meta["permuterm"] = True
    cat.write_meta("postings", meta)


def append_permuterm(
    spark: SparkSession,
    cat: ParquetCatalog,
    touched_lex: DataFrame,
    epoch: int,
    tag: str | None = None,
) -> None:
    """Incremental tier maintenance on append (round-3 VERDICT ask #3):
    the append knows exactly which terms it touched — new terms need
    their rotations inserted, and existing touched terms' df moved (it
    ranks expansions), so BOTH get fresh rows stamped with the append's
    ``epoch``. Readers keep, per candidate term, the max-epoch row, so
    expansion ranking always sees current df without the tier ever being
    rebuilt: delta cost is O(batch vocabulary x avg term length), never
    O(index vocabulary). Delta files are internally rot-sorted, so
    parquet min/max row-group pruning on prefix probes keeps working
    across base + deltas; a compaction (which rewrites all stats) drops
    the tier for a fresh build — the natural re-sort point, exactly the
    Lucene segment model applied to the dictionary."""
    # cast to the bucket type the table records: int when written
    # since schemas are recorded, bigint in older appended deltas
    bucket = F.col("bucket").cast(
        cat.schema(spark, "permuterm")["bucket"].dataType
    )
    delta = (
        _rotation_rows(touched_lex.select("term", bucket, "df"), epoch)
        .repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 8), "rot"
        )
        .sortWithinPartitions("rot")
    )
    cat.append_table(delta, "permuterm", tag=tag)


def permuterm_prefix(pattern: str) -> str | None:
    """The rotation prefix a wildcard pattern resolves to, or None when
    the pattern is outside the tier (multi-star, ``?``, or field-tag
    patterns containing the sentinel — impossible for real terms but
    guarded anyway)."""
    if pattern.count("*") != 1 or "?" in pattern or SENTINEL in pattern:
        return None
    x, y = pattern.split("*")
    return f"{y}{SENTINEL}{x}"


def _rotation_candidates(
    spark: SparkSession, cat: ParquetCatalog, rot_prefix: str
) -> DataFrame:
    """Lazy (term, bucket, df) candidates from one rotation-prefix probe
    of the rot-sorted permuterm table (parquet min/max row-group pruning
    does the work). Appended deltas re-stamp touched terms with their
    current df; per term the max-(epoch, df) struct IS the latest row
    (epoch dominates; df tiebreak is vacuous — one delta per epoch)."""
    pt = cat.read(spark, "permuterm")
    cand = pt.filter(F.col("rot").startswith(rot_prefix))
    if "epoch" in cand.columns:
        return cand.groupBy("term", "bucket").agg(
            F.max(F.struct("epoch", "df"))["df"].alias("df")
        )
    # pre-epoch table layout
    return cand.select("term", "bucket", "df").distinct()


def prefix_candidates(
    spark: SparkSession, cat: ParquetCatalog, prefix: str
) -> DataFrame:
    """Lazy candidates whose TERM starts with ``prefix``: every term has
    exactly one sentinel-leading rotation (``$term``), so the probe
    ``$prefix`` enumerates the prefix's terms without touching the rest
    of the vocabulary. Callers apply their own rank/cap (boolean prefix
    leaves want df desc; terms_enum wants term asc)."""
    return _rotation_candidates(spark, cat, SENTINEL + prefix)


def permuterm_expansion_rows(
    spark: SparkSession,
    cat: ParquetCatalog,
    pattern: str,
    cap: int,
    regex: str,
) -> list:
    """Expansion via one rotation-prefix probe: candidates from the
    sorted permuterm scan, post-filtered with the SAME anchored regex
    the rlike path uses (defense in depth — the prefix already implies
    it for single-star patterns), deduped, ranked (df desc, term asc),
    capped. Returns (term, bucket, df) rows, identical to the full-scan
    expansion."""
    prefix = permuterm_prefix(pattern)
    assert prefix is not None, pattern
    return (
        _rotation_candidates(spark, cat, prefix)
        .filter(F.col("term").rlike(regex))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(cap)
        .collect()
    )


def expand_prefix_rows(
    spark: SparkSession,
    cat: ParquetCatalog,
    lex: DataFrame,
    prefix: str,
    cap: int,
    meta: dict | None = None,
) -> list:
    """THE prefix-leaf expansion routing point (boolquery / batch /
    Searcher / federated all call this): ``word*`` qualifies for the
    permuterm tier as a ``$word`` rotation probe — a row-group-pruned
    point lookup on the rot-sorted table instead of a startswith filter
    over the hash-bucketed lexicon, which cannot prune (bucketing serves
    point lookups). At a 10^9-term vocabulary that is the difference
    between reading the matching rotations and scanning the dictionary
    per prefix leaf. Falls back to the exact lexicon scan when the tier
    is absent; both paths return identical rows (test-gated)."""
    if meta is None:
        try:
            meta = cat.read_meta("postings")
        except FileNotFoundError:
            meta = {}
    if meta.get("permuterm") and SENTINEL not in prefix:
        cand = prefix_candidates(spark, cat, prefix)
    else:
        cand = lex.filter(F.col("term").startswith(prefix)).select(
            "term", "bucket", "df"
        )
    return (
        cand.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(cap)
        .collect()
    )


def expand_wildcard_rows(
    spark: SparkSession,
    cat: ParquetCatalog,
    lex: DataFrame,
    pattern: str,
    cap: int,
    meta: dict | None = None,
) -> list:
    """THE wildcard-expansion routing point (boolquery / batch /
    Searcher all call this): permuterm probe when the table exists and
    the pattern qualifies, exact rlike vocabulary scan otherwise. Both
    paths return the same rows (test-gated)."""
    from mahout_spark.index.boolquery import _wildcard_expansion_rows
    from mahout_spark.index.queryparse import wildcard_regex

    if meta is None:
        try:
            meta = cat.read_meta("postings")
        except FileNotFoundError:
            meta = {}
    meta_has = bool(meta.get("permuterm"))
    if meta_has and permuterm_prefix(pattern) is not None:
        return permuterm_expansion_rows(
            spark, cat, pattern, cap, wildcard_regex(pattern)
        )
    return _wildcard_expansion_rows(lex, pattern, cap)
