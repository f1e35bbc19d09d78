"""Metric table: every end-to-end and per-layer metric, its unit, which
way is better, and, for a layer metric, the end-to-end metrics it should
move and on which workloads. BENCHMARK.json lists the same names;
``test_bench.py`` keeps the two in step.
"""

from __future__ import annotations

import statistics

import numpy as np

BOTH = ("search", "ingest")

# name -> (unit, better, how it is measured)
END_TO_END = {
    "setup_s": ("s", "lower", "set-up wall: session, C to parquet, Arrow "
                "warm-up; on ingest also the build of C"),
    "build_docs_per_s": ("docs/s", "higher", "docs of C / wall of one fresh "
                         "build_index (on ingest: the set-up build)"),
    "index_bytes_per_input_byte": ("ratio", "lower", "all index files / input "
                                   "text bytes (ingest: after the appends)"),
    "head_p50_ms": ("ms", "lower", "median Searcher.topk_rows head query"),
    "tail_p50_ms": ("ms", "lower", "median Searcher.topk_rows tail query"),
    "search_p90_ms": ("ms", "lower", "p90 of the query stream (head and tail)"),
    "topk_p50_ms": ("ms", "lower", "median wand.topk(...).collect()"),
    "batch_qps": ("1/s", "higher", "median queries / wall of a 100-query topk_batch"),
    "append_p50_s": ("s", "lower", "median append_to_index of one batch"),
    "delete_p50_ms": ("ms", "lower", "median delete_docs call"),
    "fresh_query_p50_ms": ("ms", "lower", "median first query after a mutation"),
    "compact_s": ("s", "lower", "wall of compact_index"),
    "peak_rss_mb": ("MB", "lower", "peak RSS of the driver Python process + "
                    "largest live driver JVM heap (heap used after full "
                    "GCs at the end of set-up and of each phase) + peak "
                    "used JVM non-heap pools"),
}

# name -> (unit, better, end-to-end metrics it should move, workloads)
_BUILD = ("build_docs_per_s", "setup_s")
PER_LAYER = {
    "session.start_s": ("s", "lower", ("setup_s",), BOTH),
    "tokenize.docs_per_s": ("docs/s", "higher", ("build_docs_per_s",), ("search",)),
    "build.stage1_s": ("s", "lower", _BUILD, BOTH),
    "build.rest_s": ("s", "lower", _BUILD, BOTH),
    "build.jobs": ("count", "lower", _BUILD, BOTH),
    "build.tasks": ("count", "lower", _BUILD, BOTH),
    "build.terms": ("count", "higher", _BUILD, BOTH),
    "build.blocks": ("count", "lower", _BUILD, BOTH),
    "build.postings": ("count", "higher", _BUILD, BOTH),
    "build.bytes.tf_raw": ("bytes", "lower", ("index_bytes_per_input_byte",), ("search",)),
    "build.bytes.lexicon": ("bytes", "lower", ("index_bytes_per_input_byte",), ("search",)),
    "build.bytes.postings": ("bytes", "lower", ("index_bytes_per_input_byte",), ("search",)),
    "build.bytes.docstats": ("bytes", "lower", ("index_bytes_per_input_byte",), ("search",)),
    "catalog.lexicon_probe_ms": ("ms", "lower", ("tail_p50_ms", "fresh_query_p50_ms"), BOTH),
    "catalog.lexicon_probe_jobs": ("count", "lower", ("tail_p50_ms", "fresh_query_p50_ms"), BOTH),
    "catalog.postings_scan_ms": ("ms", "lower", ("head_p50_ms",), ("search",)),
    "catalog.postings_rows": ("count", "lower", ("head_p50_ms",), ("search",)),
    "catalog.postings_payload_bytes": ("bytes", "lower", ("head_p50_ms",), ("search",)),
    "codec.decode_ms": ("ms", "lower", ("head_p50_ms", "batch_qps"), ("search",)),
    "codec.blocks": ("count", "lower", ("head_p50_ms", "batch_qps"), ("search",)),
    "codec.postings_per_s": ("1/s", "higher", ("head_p50_ms", "batch_qps"), ("search",)),
    "searcher.head_jobs_per_query": ("count", "lower", ("head_p50_ms",), ("search",)),
    "searcher.tail_jobs_per_query": ("count", "lower", ("tail_p50_ms",), ("search",)),
    "searcher.kernel_ms": ("ms", "lower", ("head_p50_ms", "tail_p50_ms"), ("search",)),
    "wand.topk_jobs": ("count", "lower", ("topk_p50_ms",), ("search",)),
    "wand.topk_tasks": ("count", "lower", ("topk_p50_ms",), ("search",)),
    "wand.exchange_ms": ("ms", "lower", ("topk_p50_ms",), ("search",)),
    "wand.batch_jobs": ("count", "lower", ("batch_qps",), ("search",)),
    "append.jobs": ("count", "lower", ("append_p50_s",), ("ingest",)),
    "append.bytes_written_per_input_byte": ("ratio", "lower", ("append_p50_s",), ("ingest",)),
    "delete.jobs": ("count", "lower", ("delete_p50_ms",), ("ingest",)),
    "searcher.fresh_jobs": ("count", "lower", ("fresh_query_p50_ms",), ("ingest",)),
    "compact.jobs": ("count", "lower", ("compact_s",), ("ingest",)),
    "compact.bytes_rewritten": ("bytes", "lower", ("compact_s",), ("ingest",)),
    "trace.overhead_s": ("s", "lower", (), BOTH),
}
# How the probes of a traced run split a head query: ``catalog.postings_*``
# time and size the bucket-pruned postings scan that Searcher.topk_rows
# makes; ``codec.*`` decodes every block that scan returns (the kernel may
# skip some, so this bounds the kernel's own decode from above);
# ``searcher.kernel_ms`` is the median over the probe queries of topk_rows
# minus the scan, an estimate from two timings of the same scan, clamped at
# 0. On ingest the tombstones send topk_rows through the distributed
# kernel, so there it also holds that kernel's jobs.
# self time of every layer (span seconds minus child spans)
LAYERS = ("session", "tokenize", "build", "catalog", "codec", "searcher",
          "wand", "append", "delete", "compact")
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_s"] = ("s", "lower", (), BOTH)

# a layer predicted NOT to move an end-to-end metric on a workload
FLAT = {
    "codec.decode_ms": ("tail_p50_ms", "build_docs_per_s"),
}


def _median(xs):
    return statistics.median(xs) if xs else None


def _first(xs):
    return xs[0] if xs else None


def _known(values: dict) -> dict:
    """Drop metrics without a sample (their calls failed); the caller
    reports them missing."""
    return {k: v for k, v in values.items() if v is not None}


def end_to_end(b) -> dict[str, float]:
    """End-to-end values of a finished run ``b`` (a workloads.Bench)."""
    s = b.samples
    return _known({
        "setup_s": _median(s["setup_s"]),
        "build_docs_per_s": _median(s["build_docs_per_s"]),
        "index_bytes_per_input_byte": _median(s["index_bytes_ratio"]),
        "head_p50_ms": _median(s["head"]),
        "tail_p50_ms": _median(s["tail"]),
        "search_p90_ms": (float(np.percentile(s["stream"], 90))
                          if s["stream"] else None),
        "topk_p50_ms": _median(s["topk"]),
        "batch_qps": _median(s["batch_qps"]),
        "append_p50_s": _median(s["append_s"]),
        "delete_p50_ms": _median(s["delete_ms"]),
        "fresh_query_p50_ms": _median(s["fresh"]),
        "compact_s": _median(s["compact_s"]),
        "peak_rss_mb": b.peak_mb,
    })


def per_layer(b) -> dict[str, float]:
    """Per-layer values of a finished traced run ``b``."""
    jobs = b.jobs
    out = dict(b.layer)
    out.update({
        "build.jobs": _first(jobs["build.build_index"]),
        "build.tasks": _first(jobs["build.build_index.tasks"]),
        "searcher.head_jobs_per_query": _median(jobs["head"]),
        "searcher.tail_jobs_per_query": _median(jobs["tail"]),
        "searcher.fresh_jobs": _median(jobs["fresh"]),
        "wand.topk_jobs": _median(jobs["wand.topk"]),
        "wand.topk_tasks": _median(jobs["wand.topk.tasks"]),
        "wand.batch_jobs": _first(jobs["wand.topk_batch"]),
        "append.jobs": _median(jobs["append.append_to_index"]),
        "append.bytes_written_per_input_byte": _median(b.samples["append_bytes_ratio"]),
        "delete.jobs": _median(jobs["delete.delete_docs"]),
        "compact.jobs": _first(jobs["compact.compact_index"]),
        "trace.overhead_s": b.tracer.overhead_s,
    })
    self_s = b.tracer.self_times()
    for layer in LAYERS:
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    return _known(out)
