"""Search-time aggregations (X65 significant_terms / X66 histogram
facets) vs pure-python recomputation over the same corpus."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def built(spark, docs_df, tmp_path_factory):
    from mahout_spark.index.build import build_index

    return build_index(
        spark, docs_df.select("doc_id", "text"),
        str(tmp_path_factory.mktemp("aggidx")),
        content_col="text", id_cols=["doc_id"], mode="simple",
        n_buckets=4, docs_per_shard=64, block_size=16,
    )


@pytest.fixture(scope="module")
def token_sets(docs_df):
    rows = docs_df.select("doc_id", "text").collect()
    out = {}
    for r in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", (r["text"] or "").lower())
                if t]
        out[r["doc_id"]] = set(toks)
    return out


def _manual_significant(token_sets, matched, n=10, exclude=()):
    n_docs, n_m = len(token_sets), len(matched)
    fg = Counter()
    for d in matched:
        fg.update(token_sets[d])
    bg = Counter()
    for s in token_sets.values():
        bg.update(s)
    rows = []
    for t, f in fg.items():
        if t in exclude:
            continue
        fr, br = f / n_m, bg[t] / n_docs
        rows.append((t, f, bg[t], round((fr - br) * (fr / br), 6)))
    rows.sort(key=lambda e: (-e[3], e[0]))
    return rows[:n]


def test_significant_terms_matches_manual(spark, built, token_sets):
    from mahout_spark.index.aggs import significant_terms

    matched = [d for d, s in token_sets.items()
               if "table" in s and "data" in s]
    assert matched
    want = _manual_significant(token_sets, matched, n=10)
    got = [(r["term"], r["fg_df"], r["bg_df"], r["score"])
           for r in significant_terms(spark, built, "table AND data",
                                      n=10).collect()]
    assert got == want


def test_significant_terms_excludes_query_terms(spark, built, token_sets):
    from mahout_spark.index.aggs import significant_terms

    matched = [d for d, s in token_sets.items()
               if "table" in s and "data" in s]
    want = _manual_significant(token_sets, matched, n=10,
                               exclude={"table", "data"})
    got = [(r["term"], r["fg_df"], r["bg_df"], r["score"])
           for r in significant_terms(
               spark, built, "table AND data", n=10,
               exclude_query_terms=True).collect()]
    assert got == want
    assert all(t not in ("table", "data") for t, _, _, _ in got)


def test_significant_terms_empty_match(spark, built):
    from mahout_spark.index.aggs import significant_terms

    assert significant_terms(spark, built, "zzzqqq").count() == 0


def test_facet_histogram_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import facet_histogram

    matched = {d for d, s in token_sets.items()
               if "table" in s or "data" in s}
    chars = {r["doc_id"]: r["n_chars"] for r in
             docs_df.select("doc_id", "n_chars").collect()}
    want = Counter(
        (chars[d] // 200) * 200.0 for d in matched if chars[d] is not None
    )
    got = {r["bucket"]: r["n_docs"] for r in facet_histogram(
        spark, built, docs_df, "table OR data", "n_chars", 200,
    ).collect()}
    assert got == dict(want)
    with pytest.raises(ValueError, match="width"):
        facet_histogram(spark, built, docs_df, "table", "n_chars", 0)


# ---------------------------------------------------------------------------
# rare_terms / filters / adjacency_matrix (X99)
# ---------------------------------------------------------------------------

def test_rare_terms_matches_manual(spark, built, token_sets):
    from mahout_spark.index.aggs import rare_terms

    matched = {d for d, s in token_sets.items()
               if "table" in s or "data" in s}
    fg = Counter()
    for d in matched:
        fg.update(token_sets[d])
    exp = sorted(fg.items(), key=lambda e: (e[1], e[0]))[:10]
    got = rare_terms(spark, built, "table OR data", n=10).collect()
    assert [(r["term"], r["fg_df"]) for r in got] == exp
    # threshold mode: everything above max_doc_count drops
    thr = exp[-1][1]
    got2 = rare_terms(
        spark, built, "table OR data", n=1000, max_doc_count=thr
    ).collect()
    assert [(r["term"], r["fg_df"]) for r in got2] == sorted(
        ((t, c) for t, c in fg.items() if c <= thr),
        key=lambda e: (e[1], e[0]))
    with pytest.raises(ValueError, match="max_doc_count"):
        rare_terms(spark, built, "data", max_doc_count=0)


def test_filters_agg_includes_zero_buckets(spark, built, token_sets):
    from mahout_spark.index.aggs import filters_agg

    got = filters_agg(
        spark, built,
        {"has_data": "data", "has_table": "table",
         "both": "data AND table", "never": "zzzznotaword"},
    ).collect()
    n_data = sum(1 for s in token_sets.values() if "data" in s)
    n_table = sum(1 for s in token_sets.values() if "table" in s)
    n_both = sum(1 for s in token_sets.values()
                 if "data" in s and "table" in s)
    assert [(r["bucket"], r["doc_count"]) for r in got] == [
        ("both", n_both), ("has_data", n_data),
        ("has_table", n_table), ("never", 0),
    ]
    with pytest.raises(ValueError, match="non-empty"):
        filters_agg(spark, built, {})


def test_adjacency_matrix_matches_manual(spark, built, token_sets):
    from mahout_spark.index.aggs import adjacency_matrix

    sets = {
        "d": {i for i, s in token_sets.items() if "data" in s},
        "q": {i for i, s in token_sets.items() if "query" in s},
        "t": {i for i, s in token_sets.items() if "table" in s},
    }
    exp = {}
    for a in sets:
        exp[a] = len(sets[a])
        for b in sets:
            if a < b:
                n = len(sets[a] & sets[b])
                if n:
                    exp[f"{a}&{b}"] = n
    exp = {k: v for k, v in exp.items() if v}
    got = adjacency_matrix(
        spark, built, {"d": "data", "q": "query", "t": "table"}
    ).collect()
    assert {r["key"]: r["doc_count"] for r in got} == exp
    assert [r["key"] for r in got] == sorted(exp)


# ---------------------------------------------------------------------------
# range / weighted_avg (X101)
# ---------------------------------------------------------------------------

def test_range_agg_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import range_agg

    matched = {d for d, s in token_sets.items()
               if "table" in s or "data" in s}
    vals = {r["doc_id"]: float(r["n_chars"])
            for r in docs_df.select("doc_id", "n_chars").collect()
            if r["n_chars"] is not None and r["doc_id"] in matched}
    ranges = [("a_small", None, 500.0), ("b_mid", 400.0, 900.0),
              ("c_large", 900.0, None), ("d_empty", 10**9, None)]
    got = range_agg(
        spark, built, docs_df, "table OR data", "n_chars", ranges
    ).collect()
    assert [r["bucket"] for r in got] == [
        "a_small", "b_mid", "c_large", "d_empty"]
    for r in got:
        lo, hi = dict((l, (a, b)) for l, a, b in ranges)[r["bucket"]]
        hit = [v for v in vals.values()
               if (lo is None or v >= lo) and (hi is None or v < hi)]
        assert r["doc_count"] == len(hit)
        if hit:
            assert r["sum_value"] == pytest.approx(round(sum(hit), 6))
            assert r["avg_value"] == pytest.approx(
                round(sum(hit) / len(hit), 6))
        else:
            assert r["sum_value"] is None and r["avg_value"] is None
    # overlap: a doc with 400 <= n_chars < 500 counts in BOTH a and b
    n_overlap = sum(1 for v in vals.values() if 400.0 <= v < 500.0)
    if n_overlap:
        by = {r["bucket"]: r["doc_count"] for r in got}
        assert by["a_small"] + by["b_mid"] + by["c_large"] == \
               len(vals) + n_overlap
    with pytest.raises(ValueError, match="non-empty"):
        range_agg(spark, built, docs_df, "data", "n_chars", [])
    with pytest.raises(ValueError, match="unique"):
        range_agg(spark, built, docs_df, "data", "n_chars",
                  [("x", 0, 1), ("x", 1, 2)])


def test_weighted_avg_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import weighted_avg

    matched = {d for d, s in token_sets.items() if "data" in s}
    rows = [(float(r["n_chars"]), float(r["doc_id"] % 7 + 1))
            for r in docs_df.select("doc_id", "n_chars").collect()
            if r["doc_id"] in matched and r["n_chars"] is not None]
    wdocs = docs_df.withColumn("w", (F.col("doc_id") % 7 + 1))
    got = weighted_avg(spark, built, wdocs, "data", "n_chars", "w").first()
    num = sum(v * w for v, w in rows)
    den = sum(w for _, w in rows)
    assert got["n_docs"] == len(rows)
    assert got["weighted_avg"] == pytest.approx(round(num / den, 6),
                                                abs=1e-6)


# ---------------------------------------------------------------------------
# terms_enum / top_metrics (X111/X112)
# ---------------------------------------------------------------------------

def test_terms_enum_matches_vocabulary(spark, built, token_sets):
    from mahout_spark.index.aggs import terms_enum

    df_count = Counter()
    for s in token_sets.values():
        df_count.update(s)
    for prefix in ("s", "ta", "zzz"):
        got = [(r["term"], r["df"]) for r in
               terms_enum(spark, built, prefix, n=10).collect()]
        want = sorted(
            (t, c) for t, c in df_count.items() if t.startswith(prefix)
        )[:10]
        assert got == want, prefix
    thr = max(df_count.values())
    got = [(r["term"], r["df"]) for r in
           terms_enum(spark, built, "", n=5, min_df=thr).collect()]
    assert got == sorted(
        (t, c) for t, c in df_count.items() if c >= thr)[:5]
    with pytest.raises(ValueError, match="min_df"):
        terms_enum(spark, built, "s", min_df=0)


def test_top_metrics_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import top_metrics_agg

    matched = {d for d, s in token_sets.items() if "data" in s}
    rows = [(r["doc_id"], r["n_chars"], r["lang"])
            for r in docs_df.select("doc_id", "n_chars", "lang").collect()
            if r["doc_id"] in matched and r["n_chars"] is not None]
    got = [(r["doc_id"], r["n_chars"], r["lang"]) for r in top_metrics_agg(
        spark, built, docs_df, "data", "n_chars", ["lang"], size=3
    ).collect()]
    assert got == sorted(rows, key=lambda t: (-t[1], t[0]))[:3]
    asc = [(r["doc_id"], r["n_chars"], r["lang"]) for r in top_metrics_agg(
        spark, built, docs_df, "data", "n_chars", ["lang"], size=2,
        desc=False).collect()]
    assert asc == sorted(rows, key=lambda t: (t[1], t[0]))[:2]
    with pytest.raises(ValueError, match="metric_cols"):
        top_metrics_agg(spark, built, docs_df, "data", "n_chars", [])


# ---------------------------------------------------------------------------
# t_test / matrix_stats (X114/X115)
# ---------------------------------------------------------------------------

def test_t_test_matches_python_welch(spark, built, docs_df, token_sets):
    import statistics

    from mahout_spark.index.aggs import t_test_agg

    vals = {r["doc_id"]: float(r["n_chars"])
            for r in docs_df.select("doc_id", "n_chars").collect()
            if r["n_chars"] is not None}
    a = [vals[d] for d, s in token_sets.items()
         if "table" in s and d in vals]
    b = [vals[d] for d, s in token_sets.items()
         if "stream" in s and d in vals]
    got = t_test_agg(
        spark, built, docs_df, "table", "stream", "n_chars").first()
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))
    assert got["mean_a"] == pytest.approx(round(statistics.mean(a), 6))
    assert got["var_b"] == pytest.approx(round(statistics.variance(b), 6))
    se2 = statistics.variance(a) / len(a) + statistics.variance(b) / len(b)
    t = (statistics.mean(a) - statistics.mean(b)) / se2 ** 0.5
    assert got["t_stat"] == pytest.approx(round(t, 6), abs=1e-6)
    # degenerate: a never-matching side yields NULL t
    none = t_test_agg(
        spark, built, docs_df, "table", "zzznotaword", "n_chars").first()
    assert none["t_stat"] is None and none["n_b"] == 0


def test_matrix_stats_matches_python(spark, built, docs_df, token_sets):
    import statistics

    from mahout_spark.index.aggs import matrix_stats_agg

    # second numeric column: derived token count (meaningful corr with
    # n_chars)
    wdocs = docs_df.withColumn(
        "n_toks",
        F.size(F.filter(F.split(F.lower("text"), "[^a-z0-9]+"),
                        lambda t: t != "")))
    matched = {d for d, s in token_sets.items() if "data" in s}
    rows = [(float(r["n_chars"]), float(r["n_toks"]))
            for r in wdocs.select("doc_id", "n_chars", "n_toks").collect()
            if r["doc_id"] in matched and r["n_chars"] is not None]
    xs, ys = [x for x, _ in rows], [y for _, y in rows]
    mx, my = statistics.mean(xs), statistics.mean(ys)
    cov = sum((x - mx) * (y - my) for x, y in rows) / len(rows)
    vx = statistics.pvariance(xs)
    vy = statistics.pvariance(ys)
    got = matrix_stats_agg(
        spark, built, wdocs, "data", "n_chars", "n_toks").first()
    assert got["n"] == len(rows)
    assert got["mean_x"] == pytest.approx(round(mx, 6))
    assert got["var_y"] == pytest.approx(round(vy, 6), abs=1e-6)
    assert got["cov_xy"] == pytest.approx(round(cov, 6), abs=1e-5)
    assert got["corr_xy"] == pytest.approx(
        round(cov / (vx * vy) ** 0.5, 6), abs=1e-6)


def test_multi_terms_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import multi_terms_agg

    matched = {d for d, s in token_sets.items() if "data" in s}
    rows = [(r["lang"], r["source"], r["n_chars"])
            for r in docs_df.collect()
            if r["doc_id"] in matched and r["lang"] is not None
            and r["source"] is not None]
    cnt = Counter((l, s) for l, s, _ in rows)
    sums = {}
    for l, s, nc in rows:
        sums[(l, s)] = sums.get((l, s), 0) + nc
    exp = sorted(cnt.items(), key=lambda e: (-e[1], e[0]))[:5]
    got = multi_terms_agg(
        spark, built, docs_df, "data", ["lang", "source"], n=5,
        value_col="n_chars").collect()
    assert [((r["lang"], r["source"]), r["doc_count"]) for r in got] == exp
    for r in got:
        assert r["sum_value"] == pytest.approx(
            round(sums[(r["lang"], r["source"])], 6))
    with pytest.raises(ValueError, match=">= 2 key"):
        multi_terms_agg(spark, built, docs_df, "data", ["lang"])


def test_percentile_ranks_matches_manual(spark, built, docs_df, token_sets):
    from mahout_spark.index.aggs import percentile_ranks

    matched = {d for d, toks in token_sets.items()
               if {"spark", "query", "data"} & toks}
    vals = [r["n_chars"] for r in docs_df.collect()
            if r["doc_id"] in matched and r["n_chars"] is not None]
    got = percentile_ranks(
        spark, built, docs_df, "spark OR query OR data", "n_chars",
        (300, 500, 900),
    ).collect()[0]
    for v in (300, 500, 900):
        want = round(100.0 * sum(1 for x in vals if x <= v) / len(vals), 6)
        assert got[f"rank_{v}"] == pytest.approx(want, abs=1e-9), v
    # monotone by construction
    assert got["rank_300"] <= got["rank_500"] <= got["rank_900"]


def test_percentile_ranks_rejects_empty_values(spark, built, docs_df):
    from mahout_spark.index.aggs import percentile_ranks

    with pytest.raises(ValueError, match="at least one value"):
        percentile_ranks(spark, built, docs_df, "spark", "n_chars", ())


def test_significant_text_filters_duplicate_text(spark, docs_df,
                                                 tmp_path_factory):
    """Planted duplicates inflate significant_terms' fg_df; the
    significant_text dedup reports the un-inflated counts (which must
    equal plain significant_terms over the duplicate-free corpus)."""
    from mahout_spark.index.aggs import significant_terms, significant_text
    from mahout_spark.index.build import build_index

    base = docs_df.select("doc_id", "text")
    dup = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    cat_dup = build_index(
        spark, base.unionAll(dup),
        str(tmp_path_factory.mktemp("sigdup")),
        content_col="text", id_cols=["doc_id"], mode="simple",
        n_buckets=4, docs_per_shard=64, block_size=16,
    )
    got = significant_text(spark, cat_dup, "spark AND data", n=5)
    rows = {r["term"]: r["fg_df"] for r in got.collect()}
    # foreground counts must be duplicate-free: every fg_df equals the
    # count over DISTINCT texts in the match set
    cat_clean = build_index(
        spark, base, str(tmp_path_factory.mktemp("sigclean")),
        content_col="text", id_cols=["doc_id"], mode="simple",
        n_buckets=4, docs_per_shard=64, block_size=16,
    )
    clean = {r["term"]: r["fg_df"] for r in significant_terms(
        spark, cat_clean, "spark AND data", n=10_000).collect()}
    for t, fg in rows.items():
        assert fg == clean[t], t
    # without the filter, planted duplicates DO inflate fg_df
    raw = {r["term"]: r["fg_df"] for r in significant_text(
        spark, cat_dup, "spark AND data", n=10_000,
        filter_duplicate_text=False).collect()}
    assert any(raw[t] > clean.get(t, 0) for t in raw)


def test_string_stats_empty_match_keeps_count_row(spark, built, docs_df):
    """No matching doc means no characters and so no entropy row; the
    length-stats row still comes back, with count 0 and NULL entropy
    (ES returns a count=0 stats object)."""
    from mahout_spark.index.aggs import string_stats

    rows = string_stats(
        spark, built, docs_df, "zzqxnotaterm", "source").collect()
    assert len(rows) == 1
    assert rows[0]["count"] == 0
    assert rows[0]["entropy"] is None and rows[0]["min_length"] is None


def test_metric_aggs_match_python(spark, built, docs_df, token_sets):
    """MAD / boxplot / string_stats vs numpy-python recomputation over
    the same match set."""
    import numpy as np

    from mahout_spark.index.aggs import (
        facet_boxplot, facet_mad, string_stats)

    matched = {d for d, toks in token_sets.items()
               if {"spark", "query", "data"} & toks}
    rows = {r["doc_id"]: r for r in docs_df.collect()}
    vals = np.array([rows[d]["n_chars"] for d in matched
                     if rows[d]["n_chars"] is not None], dtype=float)
    q = "spark OR query OR data"
    mad = facet_mad(spark, built, docs_df, q, "n_chars").first()
    med = float(np.percentile(vals, 50, method="linear"))
    assert mad["median"] == pytest.approx(round(med, 6), abs=1e-9)
    assert mad["mad"] == pytest.approx(
        round(float(np.percentile(np.abs(vals - med), 50,
                                  method="linear")), 6), abs=1e-9)
    box = facet_boxplot(spark, built, docs_df, q, "n_chars").first()
    for name, pct in (("q1", 25), ("q2", 50), ("q3", 75)):
        assert box[name] == pytest.approx(
            round(float(np.percentile(vals, pct, method="linear")), 6),
            abs=1e-9), name
    assert box["min_value"] == vals.min() and box["max_value"] == vals.max()
    ss = string_stats(spark, built, docs_df, q, "source").first()
    srcs = [rows[d]["source"] for d in matched
            if rows[d]["source"] is not None]
    assert ss["count"] == len(srcs)
    assert ss["min_length"] == min(len(s) for s in srcs)
    assert ss["avg_length"] == pytest.approx(
        round(sum(len(s) for s in srcs) / len(srcs), 6), abs=1e-9)
    from collections import Counter
    import math
    cnt = Counter(ch for s in srcs for ch in s)
    tot = sum(cnt.values())
    # the engine's char-sorted fold order, replayed
    ent = 0.0
    for ch in sorted(cnt):
        p = cnt[ch] / tot
        ent += -p * math.log2(p)
    assert ss["entropy"] == pytest.approx(round(ent, 6), abs=2e-6)
