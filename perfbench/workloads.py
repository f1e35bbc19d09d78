"""The two workloads, their oracle checks and the traced run's layer probes.

One closed-loop client: every call waits for its reply, no think time.
Every end-to-end metric is reported on both workloads, so both run every
operation kind; they differ in the index state the reads see.

* ``search``: set-up starts the session, writes C to parquet and warms the
  Arrow workers. The run times one fresh ``build_index`` of C and the
  reads (``Bench.reads``) on the fresh index. Then come a delete + fresh
  query pair, the append, another pair, ``compact_index`` with a fresh
  query, and a last pair.
* ``ingest``: set-up also builds C. The run makes a delete + fresh query
  pair, appends a batch of new docs (new tail terms), makes another pair,
  runs the same reads on the mutated index (tombstones, append-safe block
  bounds), makes a last pair, then ``compact_index`` and a fresh query.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from perfbench import corpus as gen
from perfbench.oracle import Checker, Oracle, as_pairs
from perfbench.trace import Tracer

APPEND_DOCS = 256
DELETE_DOCS = 32
N_TOPK = 3  # head OR queries of the stream also sent through wand.topk
WAND_EVERY = 6  # stream queries between two wand.topk calls
N_PROBE = 3  # queries per layer probe in the traced run
TOKENIZE_SLICE = 1024  # docs of C tokenized by the tokenize probe


def tree_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the files under ``path`` (checksum files excluded); with
    ``since``, only files written at or after that wall-clock time."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("."):
                continue
            st = os.stat(os.path.join(d, f))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in sorted(files)
        if f.endswith(".parquet")
    ]


def peak_memory_mb(spark) -> tuple[float, dict[str, float]]:
    """Peak resident memory (MB) of this Python process, and peak used MB
    of each non-heap memory pool of the driver JVM (metaspace, code
    cache)."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = {p.getName(): p.getPeakUsage().getUsed() / 2**20
             for p in mf.getMemoryPoolMXBeans()
             if p.getType().name() == "NON_HEAP"}
    return py_kb / 1024.0, pools


class Bench:
    """State of one run: session, corpus, samples, layer numbers, checks."""

    def __init__(self, work: str, workload: str, seed: int, seconds: int,
                 trace: bool) -> None:
        self.work = work  # scratch directory, removed by the caller
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.check = Checker()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.jobs: dict[str, list[int]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.facts: dict = {}
        self.spark = None
        self.cat = None
        self.deleted: list[int] = []
        self.purged: set[int] = set()  # deleted ids a compaction dropped
        self.appended: list[gen.Docs] = []
        self.live_heap_mb = 0.0  # largest live driver JVM heap seen
        self.peak_mb = 0.0  # peak memory: driver Python + JVM
        self.heads_or: list[gen.Query] = []  # head OR queries the stream ran

    def close(self) -> None:
        """Stop Spark and the driver JVM, and wait until the JVM exits (it
        exits when its stdin closes; its Python workers exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @contextmanager
    def phase(self, name: str):
        """Wall seconds of one phase of the run, for the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases = self.facts.setdefault("phase_s", {})
            phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0

    def rng(self, *purpose: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *purpose])

    # -- one engine call -----------------------------------------------------

    def call(self, name: str, fn, *args, role: str | None = None, **kw):
        """Trace, time and failure-count one public engine call. Returns
        (result, seconds), or (None, None) when it raised."""
        self.check.attempted += 1
        with self.tracer.span(name) as sp:
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kw)
            except Exception:
                traceback.print_exc()
                out, dt = None, None
            else:
                dt = time.perf_counter() - t0
        if dt is None:
            self.check.fail(name)
        elif sp is not None:
            self.jobs[role or name].append(sp.jobs)
            self.jobs[(role or name) + ".tasks"].append(sp.tasks)
        return out, dt

    def query(self, searcher, q: gen.Query, role: str):
        rows, dt = self.call("searcher.topk_rows", searcher.topk_rows,
                             list(q.terms), k=gen.K, mode_all=q.mode_all,
                             role=role)
        if dt is None:
            return []
        self.samples[role].append(dt * 1e3)
        if role in ("head", "tail"):
            self.samples["stream"].append(dt * 1e3)
        return as_pairs(rows)

    def wand_topk(self, q: gen.Query, timed: bool = True):
        from mahout_spark.index import wand

        rows, dt = self.call(
            "wand.topk",
            lambda: wand.topk(self.spark, self.cat, list(q.terms), k=gen.K,
                              mode_all=q.mode_all).collect(),
            role=None if timed else "untimed")
        if dt is None:
            return []
        if timed:
            self.samples["topk"].append(dt * 1e3)
        return as_pairs(rows)

    def batch(self, queries: list[gen.Query], timed: bool = True) -> dict:
        """One OR-mode ``topk_batch``; returns {qid: [(doc, score)]}."""
        from mahout_spark.index import wand

        qs = {q.qid: list(q.terms) for q in queries}
        rows, dt = self.call(
            "wand.topk_batch",
            lambda: wand.topk_batch(self.spark, self.cat, qs, k=gen.K).collect(),
            role=None if timed else "untimed")
        if dt is None:
            return {}
        if timed:
            self.samples["batch_qps"].append(len(qs) / dt)
        out = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        return out

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import types as T

        from mahout_spark.session import get_spark

        t0 = time.perf_counter()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        with self.phase("session"), self.tracer.span("session.get_spark"):
            s0 = time.perf_counter()
            self.spark = get_spark(
                cpus=len(os.sched_getaffinity(0)), app_name="perfbench",
                extra_conf={
                    "spark.local.dir": local,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.layer["session.start_s"] = time.perf_counter() - s0
        self.tracer.sc = self.spark.sparkContext

        with self.phase("corpus"):
            self.C = gen.make_docs(self.rng(0), 0, gen.N_DOCS, "c")
            gen.check_identifiers_survive_tokenizer(self.C)
            self.heads = gen.head_terms()
            src = os.path.join(self.work, "corpus")
            gen.write_parquet(self.C, src)
            self.docs = self.spark.read.schema("doc_id long, text string").parquet(src)

        with self.phase("warm"):  # start the Arrow python workers
            warm = F.pandas_udf(lambda s: s.astype("int32"), T.IntegerType())
            par = self.spark.sparkContext.defaultParallelism
            self.spark.range(10_000, numPartitions=par).select(
                F.sum(warm(F.col("id")))).first()

        if self.workload == "ingest":
            self.build()
        self.samples["setup_s"].append(time.perf_counter() - t0)
        self.sample_live_heap()

    def build(self) -> None:
        from mahout_spark.index.build import build_index

        with self.phase("build"):
            self.cat, dt = self.call(
                "build.build_index", build_index, self.spark, self.docs,
                out_dir=os.path.join(self.work, "index"), content_col="text",
                resume=False, input_partitions=gen.INPUT_SPLITS,
                docs_per_shard=gen.DOCS_PER_SHARD)
        if dt is None:
            raise RuntimeError("build_index failed; nothing left to measure")
        self.samples["build_docs_per_s"].append(gen.N_DOCS / dt)
        stage1 = float(self.cat.read_meta("postings")["stage1_sec"])
        self.layer["build.stage1_s"] = stage1
        self.layer["build.rest_s"] = dt - stage1
        for table in ("tf_raw", "lexicon", "postings", "docstats"):
            self.layer[f"build.bytes.{table}"] = tree_bytes(
                self.cat.table_path(table))
        self._table_counts()
        self.build_bytes = tree_bytes(self.cat.root)

    def _table_counts(self) -> None:
        import pyarrow.parquet as pq

        lex = parquet_files(self.cat.table_path("lexicon"))
        post = parquet_files(self.cat.table_path("postings"))
        self.layer["build.terms"] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in lex)
        self.layer["build.blocks"] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in post)
        self.layer["build.postings"] = sum(
            int(pq.read_table(f, columns=["count"])["count"].to_numpy().sum())
            for f in post)

    # -- mutations ---------------------------------------------------------------

    def append(self, batch: gen.Docs) -> None:
        import pandas as pd

        from mahout_spark.index.append import append_to_index

        df = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": batch.doc_ids, "text": batch.texts}))
        since = time.time()
        _, dt = self.call("append.append_to_index", append_to_index,
                          self.spark, self.cat, df, content_col="text")
        if dt is None:
            return
        self.appended.append(batch)
        self.samples["append_s"].append(dt)
        self.samples["append_bytes_ratio"].append(
            tree_bytes(self.cat.root, since) / batch.text_bytes)

    def delete(self, rng: np.random.Generator) -> None:
        from mahout_spark.index.delete import delete_docs

        live = np.setdiff1d(self.all_ids(), np.asarray(self.deleted, np.int64))
        ids = sorted(int(i) for i in rng.choice(live, DELETE_DOCS, replace=False))
        _, dt = self.call("delete.delete_docs", delete_docs, self.spark,
                          self.cat, ids)
        if dt is not None:
            self.deleted.extend(ids)
            self.samples["delete_ms"].append(dt * 1e3)

    def compact(self) -> None:
        from mahout_spark.index.compact import compact_index

        since = time.time()
        _, dt = self.call("compact.compact_index", compact_index, self.spark,
                          self.cat)
        if dt is not None:
            self.samples["compact_s"].append(dt)
            self.purged = set(self.deleted)
            self.layer["compact.bytes_rewritten"] = tree_bytes(
                self.cat.root, since)

    def all_ids(self) -> np.ndarray:
        return np.concatenate([self.C.doc_ids] + [b.doc_ids for b in self.appended])

    def sample_live_heap(self) -> None:
        """Untimed: the driver JVM's heap in use once garbage is gone, i.e.
        its live data. Peak heap *used* would count garbage, and so depend
        on when the collector ran. Python's collector runs first, so that
        the JVM objects only dead Python proxies held become unreachable;
        after the first full GC, Spark's ContextCleaner (which polls every
        0.1 s) frees the blocks of collected RDDs and broadcasts, and a
        second full GC reclaims them."""
        import gc

        jvm = self.spark.sparkContext._jvm
        with self.phase("memory"):
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.3)
            jvm.java.lang.System.gc()
            used = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                    .getHeapMemoryUsage().getUsed()) / 2**20
        self.facts.setdefault("live_heap_mb", []).append(used)
        self.live_heap_mb = max(self.live_heap_mb, used)

    # -- oracle ------------------------------------------------------------------

    def verify(self, label: str, checks: list) -> None:
        """Untimed: every (query, path, pairs) in ``checks`` must equal the
        full-scan oracle's top-k for that query over the index's current
        docs: every doc ever added except those a compaction purged, with
        the docs deleted since then hidden (tombstones still count in df,
        N and avgdl, as in the engine)."""
        ids = self.all_ids()
        texts = self.C.texts + [t for b in self.appended for t in b.texts]
        keep = ~np.isin(ids, np.fromiter(self.purged, np.int64))
        ids, texts = ids[keep], [t for t, k in zip(texts, keep) if k]
        with self.phase("oracle"):
            oracle = Oracle(ids, texts, hidden=set(self.deleted) - self.purged)
            want = oracle.search(list({q.qid: q for q, _, _ in checks}.values()),
                                 gen.K)
        for q, path, pairs in checks:
            self.check.compare(f"{label} {q.qid} {q.terms} {path}", want[q.qid], pairs)

    def other_paths(self, q: gen.Query) -> list:
        """Checks of ``q`` through untimed ``wand.topk`` and one-query
        ``topk_batch`` calls, beside its timed Searcher result."""
        after = self.batch([q], timed=False)
        return [(q, "wand", self.wand_topk(q, timed=False)),
                (q, "batch", after.get(q.qid, []))]

    # -- workloads -----------------------------------------------------------------

    def reads(self, searcher, idents: list[list[str]], used: set) -> list:
        """The timed reads, spread over the read phase so that a slow spell
        of the host hits only part of each metric's samples. An untimed
        query over every head term first fills the Searcher's lexicon
        cache (tail queries miss it by construction). Then one
        ``N_BATCH``-query ``topk_batch``; a query stream of at least
        ``N_STREAM`` queries and ``--seconds`` through ``Searcher``, where
        every ``WAND_EVERY`` queries the oldest head OR query not yet sent
        also goes through ``wand.topk`` (``N_TOPK`` in all); and a second
        ``topk_batch``. Returns the oracle checks of a seeded subset: the
        ``wand.topk`` queries on every path, and one head AND, tail OR and
        tail AND query through ``Searcher`` (and the batch, if OR)."""
        self.call("searcher.topk_rows", searcher.topk_rows, self.heads, k=gen.K,
                  role="untimed")
        stream = gen.query_stream(self.rng(1), idents, self.heads,
                                  2 * gen.N_BATCH, used)
        batch_qs = stream[:gen.N_BATCH]
        seen, wand_seen, pending = {}, {}, []
        with self.phase("reads"):
            batch_rows = self.batch(batch_qs)
            t0 = time.perf_counter()
            for q in stream:
                if (len(seen) >= gen.N_STREAM and len(wand_seen) >= N_TOPK
                        and time.perf_counter() - t0 >= self.seconds):
                    break
                seen[q.qid] = self.query(searcher, q, q.kind)
                if q.kind == "head" and not q.mode_all:
                    pending.append(q)
                if len(seen) % WAND_EVERY == 0 and pending and len(wand_seen) < N_TOPK:
                    w = pending.pop(0)
                    wand_seen[w.qid] = self.wand_topk(w)
            self.batch(stream[gen.N_BATCH:])
        ran = stream[:len(seen)]
        self.facts["stream"] = gen.stream_stats(ran)
        self.heads_or = [q for q in ran if q.kind == "head" and not q.mode_all]

        pick = self.rng(3)
        checks = []
        for q in (q for q in ran if q.qid in wand_seen):
            checks += [(q, "wand", wand_seen[q.qid]), (q, "searcher", seen[q.qid]),
                       (q, "batch", batch_rows.get(q.qid, []))]
        for kind, mode in (("head", True), ("tail", False), ("tail", True)):
            for q in _pick(pick, [q for q in ran if (q.kind, q.mode_all) == (kind, mode)], 1):
                checks.append((q, "searcher", seen[q.qid]))
                if not mode and q in batch_qs:
                    checks.append((q, "batch", batch_rows.get(q.qid, [])))
        return checks

    def delete_and_query(self, searcher, rng: np.random.Generator,
                         label: str) -> tuple:
        """Delete some live docs, then send one head query: the delete
        bumped the cache epoch, so that query is fresh (tombstone mask,
        cold lexicon). The workloads place these pairs apart (before and
        after the append, after the reads or the compaction), so a slow
        spell of the host hits only some of them. The fresh result is
        checked against the oracle, untimed. Returns the query and its
        result."""
        q = gen.head_query(rng, self.heads, label)
        with self.phase("mutate"):
            self.delete(rng)
            pairs = self.query(searcher, q, "fresh")
        self.verify(label, [(q, "searcher", pairs)])
        return q, pairs

    def append_batch(self, batch: gen.Docs) -> None:
        with self.phase("mutate"):
            self.append(batch)

    def compact_and_query(self, searcher, rng: np.random.Generator) -> tuple:
        """``compact_index``, then one fresh head query; returns both."""
        q = gen.head_query(rng, self.heads, "compacted")
        with self.phase("compact"):
            self.compact()
            pairs = self.query(searcher, q, "fresh")
        return q, pairs

    def run_search(self) -> None:
        from mahout_spark.index.searcher import Searcher

        self.build()
        self.sample_live_heap()
        self.samples["index_bytes_ratio"].append(
            self.build_bytes / self.C.text_bytes)
        searcher = Searcher(self.spark, self.cat)
        used: set = set()
        self.verify("built", self.reads(searcher, self.C.idents, used))
        self.sample_live_heap()
        if self.tracer.enabled:
            with self.phase("probes"):
                self.probe_layers(searcher, self.heads_or[:N_PROBE], [
                    gen.tail_query(self.rng(6), self.C.idents, used, "p")
                    for _ in range(N_PROBE)])

        # the writes after the reads, so every metric exists on this workload
        life = self.rng(5)
        batch = gen.make_docs(life, gen.N_DOCS, APPEND_DOCS, "a0x")
        self.delete_and_query(searcher, life, "deleted1")
        self.append_batch(batch)
        self.delete_and_query(searcher, life, "deleted2")
        q, pairs = self.compact_and_query(searcher, life)
        self.verify("compacted", [(q, "searcher", pairs)])
        self.delete_and_query(searcher, life, "deleted3")
        self.sample_live_heap()

    def run_ingest(self) -> None:
        from mahout_spark.index.searcher import Searcher

        searcher = Searcher(self.spark, self.cat)
        life = self.rng(5)
        batch = gen.make_docs(life, gen.N_DOCS, APPEND_DOCS, "a0x")
        self.delete_and_query(searcher, life, "deleted1")
        self.append_batch(batch)
        self.sample_live_heap()
        self.delete_and_query(searcher, life, "deleted2")
        self.samples["index_bytes_ratio"].append(
            tree_bytes(self.cat.root) / (self.C.text_bytes + batch.text_bytes))
        # reads on the mutated index: tombstones, append-safe block bounds;
        # tail queries ask for the appended batch's new terms
        used: set = set()
        self.verify("mutated", self.reads(searcher, batch.idents, used))
        self.sample_live_heap()
        if self.tracer.enabled:
            with self.phase("probes"):
                self.probe_layers(searcher, self.heads_or[:N_PROBE], [
                    gen.tail_query(self.rng(6), batch.idents, used, "p")
                    for _ in range(N_PROBE)])

        # the last mutation before the compaction, checked on every path
        q, _ = self.delete_and_query(searcher, life, "deleted3")
        self.verify("deleted3", self.other_paths(q))
        q, pairs = self.compact_and_query(searcher, life)
        self.verify("compacted", [(q, "searcher", pairs)] + self.other_paths(q))
        self.sample_live_heap()

    # -- traced run only: per-layer probes -----------------------------------------

    def probe_layers(self, searcher, head_qs, tail_qs) -> None:
        """Time the layers of a head query from the outside: the postings
        scan ``Searcher.topk_rows`` makes, a decode of every scanned block,
        and ``topk_rows`` minus the scan (the shard kernel, with the decode
        of the blocks it visits); ``wand.topk`` minus ``Searcher`` on the
        same query is the shard exchange. Tail queries time the lexicon
        probe."""
        import pandas as pd

        from mahout_spark.functions.xxhash import term_bucket
        from mahout_spark.index import wand
        from mahout_spark.index.codec import decode_doc_block
        from mahout_spark.tokenize import tokens_batch

        tr = self.tracer
        sl = pd.Series(self.C.texts[:TOKENIZE_SLICE])
        rates = []
        for _ in range(3):
            with tr.span("tokenize.tokens_batch") as sp:
                tokens_batch(sl)
            rates.append(len(sl) / sp.dur)
        self.layer["tokenize.docs_per_s"] = statistics.median(rates)

        nb = int(self.cat.read_meta("postings")["n_buckets"])
        per = defaultdict(list)
        for q in head_qs:
            terms = list(q.terms)
            buckets = sorted({term_bucket(t, nb) for t in terms})
            # the stream already ran this query: its lexicon rows are cached
            with tr.span("probe.head_query"):
                with tr.span("searcher.topk_rows") as s_q:
                    searcher.topk_rows(terms, k=gen.K)
                with tr.span("catalog.postings_scan") as s_scan:
                    pdf = (self.cat.read_partitions(self.spark, "postings", "bucket", buckets)
                           .filter(F.col("term").isin(terms)).toPandas())
                with tr.span("codec.decode_doc_block") as s_dec:
                    n_post = 0
                    for d, t, dl in zip(pdf["doc_ids"], pdf["tfs"], pdf["doclens"]):
                        n_post += len(decode_doc_block(d, t, dl)[0])
                with tr.span("wand.topk") as s_w:
                    wand.topk(self.spark, self.cat, terms, k=gen.K).collect()
            payload = sum(len(d) + len(t) + len(dl) for d, t, dl in
                          zip(pdf["doc_ids"], pdf["tfs"], pdf["doclens"]))
            per["scan_ms"].append(s_scan.dur * 1e3)
            per["rows"].append(len(pdf))
            per["payload"].append(payload)
            per["decode_ms"].append(s_dec.dur * 1e3)
            per["postings_per_s"].append(n_post / s_dec.dur)
            per["kernel_ms"].append((s_q.dur - s_scan.dur) * 1e3)
            per["exchange_ms"].append((s_w.dur - s_q.dur) * 1e3)
        for q in tail_qs:
            terms = list(q.terms)
            buckets = sorted({term_bucket(t, nb) for t in terms})
            with tr.span("catalog.lexicon_probe") as sp:
                (self.cat.read_partitions(self.spark, "lexicon", "bucket", buckets)
                 .filter(F.col("term").isin(terms)).select("term", "bucket", "df")
                 .collect())
            per["probe_ms"].append(sp.dur * 1e3)
            per["probe_jobs"].append(sp.jobs)
        med = {k: statistics.median(v) for k, v in per.items()}
        self.layer.update({
            "catalog.lexicon_probe_ms": med["probe_ms"],
            "catalog.lexicon_probe_jobs": med["probe_jobs"],
            "catalog.postings_scan_ms": med["scan_ms"],
            "catalog.postings_rows": med["rows"],
            "catalog.postings_payload_bytes": med["payload"],
            "codec.decode_ms": med["decode_ms"],
            "codec.blocks": med["rows"],
            "codec.postings_per_s": med["postings_per_s"],
            # a difference of two timings: an estimate, never below 0
            "searcher.kernel_ms": max(med["kernel_ms"], 0.0),
            "wand.exchange_ms": med["exchange_ms"],
        })


def _pick(rng: np.random.Generator, qs: list, n: int) -> list:
    idx = rng.choice(len(qs), min(n, len(qs)), replace=False)
    return [qs[i] for i in sorted(idx)]
