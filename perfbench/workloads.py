"""The workloads, each a closed loop from one client.

Both start the same way: a seeded corpus is written to parquet, indexed
with one ``build_index`` in the fresh session (timed, with its stage
split) and checked against the pure-Python BM25 oracle on the 15
reference queries. The corpus and the oracle's statistics are then
dropped, and the index is opened for driver-local serving. Then:

- ``serve``: a seeded Zipf query stream on the driver-local tier
  (``search_rows`` / ``search_many`` on ``warm_local``) and on the
  cluster tier (``search`` / ``search_many`` with pinned postings), every
  cluster result checked against the local one.
- ``cdc-upsert``: chunks of UPDATE/INSERT/DELETE events replayed into the
  index, each followed by ``maybe_merge``, a reader ``refresh()`` and a
  query slice.

Every call into the engine goes through ``Run.call``, which opens a span
named ``<module>:<function>`` when tracing is on.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import time
import tracemalloc
from collections import defaultdict

from perfbench import gen
from perfbench.stats import calibration_ms, peak_rss_mb, tree_cpu_s

CORPUS_DOCS = 5_000  # documents in the built / served / updated index
CDC_CHUNK = 1000  # events per replayed chunk
LOCAL_SLICE = 400  # search_rows queries after each CDC chunk
BATCH = 16  # queries per search_many batch
SETUP_REPEATS = 3  # reader opens per run; setup_s is their median
HEAP_QUERIES = 50  # search_rows served in the reader_heap_mb window
CAL_EVERY = 50  # timed local queries between two host calibrations
STREAM_LEN = 20_000  # the stream wraps around after this many queries
SCHEMA = "repo string, path string, commit string, lang string, content string"

# share of --seconds spent in each serve phase
SERVE_PHASES = (("local", 0.4), ("local_batch", 0.35),
                ("cluster", 0.15), ("cluster_batch", 0.1))
WARM_BATCHES = 4  # untimed search_many batches before the timed ones
CPU_GROUP = 8  # timed search_many batches per CPU-time sample


class Run:
    """One run's inputs, counters and samples."""

    def __init__(self, spark, seed: int, seconds: float, tracer, work: str,
                 t_start: float):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tr, self.work = tracer, work
        self.t_start = t_start  # process start, for setup_total_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.index_dir = ""  # the index the workload served
        self.stream = None
        self.chunk_bytes: list[int] = []  # CDC chunks appended, in order
        self._groups = 0
        self._lang_filters: dict[str, object] = {}

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; a false ``ok`` is a failure described by
        ``what``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def calibrate(self) -> None:
        """Two samples of the host calibration kernel, between timed calls."""
        for _ in range(2):
            self.samples["cal_ms"].append(calibration_ms())

    def work_cpu(self, cpu0: float) -> float:
        """Record the CPU seconds of the driver, the JVM and its workers
        since ``cpu0`` as one unit of gated work; returns the new start."""
        cpu = tree_cpu_s()
        self.samples["work_cpu_s"].append(cpu - cpu0)
        return cpu

    def call(self, name: str, fn, *args, rid=None, **kwargs):
        with self.tr.span(name, rid):
            return fn(*args, **kwargs)

    def job_group(self) -> str:
        """Tag Spark jobs this thread submits from now on."""
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def jobs_in(self, gid: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def lang_filter(self, lang):
        if lang is None:
            return None
        if lang not in self._lang_filters:
            from pyspark.sql import functions as F

            self._lang_filters[lang] = F.col("lang") == lang
        return self._lang_filters[lang]

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


# -- set-up shared by every workload -------------------------------------

class Inputs:
    """Everything made from the seed before the engine sees it: the corpus
    (pandas) and its oracle statistics keyed by (repo, path), both dropped
    once the index is built and checked; the keys and (lang, content)
    bodies the CDC events draw from; the query pool and stream order.
    Needs no Spark session."""

    def __init__(self, seed: int):
        from dbsyncer_spark.fixtures.corpus import LANGS, gen_corpus_pdf
        from dbsyncer_spark.oracle.bm25_oracle import corpus_stats

        self.pdf = gen_corpus_pdf(CORPUS_DOCS, seed=seed)
        self.keys = list(zip(self.pdf["repo"], self.pdf["path"]))
        self.bodies = list(zip(self.pdf["lang"], self.pdf["content"]))
        self.stats = corpus_stats(dict(zip(self.keys, self.pdf["content"])))
        df = self.stats[2]
        self.pool = gen.query_pool(seed, sorted(df, key=lambda t: (-df[t], t)), LANGS)
        self.order = gen.query_stream(seed, self.pool, STREAM_LEN)


def oracle_check(run: Run, reader, inputs: Inputs) -> None:
    """Serve the 15 reference queries from ``reader`` and compare each with
    ``bm25_oracle_topk`` over the same corpus: same doc ids in the same
    order, scores within 1e-9."""
    from dbsyncer_spark.fixtures.corpus import reference_queries
    from dbsyncer_spark.oracle.bm25_oracle import bm25_oracle_topk

    tf, dl, df, n, avgdl = inputs.stats
    lang_of = dict(zip(inputs.keys, inputs.pdf["lang"]))
    ids = reader.docstats().select("doc_id", "repo", "path").toPandas()
    by_id = {int(i): (r, p) for i, r, p in zip(ids["doc_id"], ids["repo"], ids["path"])}
    stats = ({i: tf[k] for i, k in by_id.items()}, {i: dl[k] for i, k in by_id.items()},
             df, n, avgdl)
    for q in reference_queries():
        lang = q["filterLang"]
        got = run.call("index/search:search_rows", reader.search_rows, q["text"],
                       k=q["k"], doc_filter=run.lang_filter(lang))
        want = bm25_oracle_topk(
            {}, q["text"], k=q["k"], precomputed=stats,
            doc_pred=None if lang is None else (lambda i, L=lang: lang_of[by_id[i]] == L))
        run.check([d for d, _ in got] == [d for d, _ in want]
                  and all(abs(a[1] - b[1]) <= 1e-9 for a, b in zip(got, want)),
                  f"oracle q{q['queryId']}: {got[:3]} != {want[:3]}")


def prepare(run: Run, inputs: Inputs, name: str) -> str:
    """Corpus parquet (off the clock), one timed build and the oracle
    check on a warm_local reader of it: the set-up both workloads share.
    Drops the corpus and the oracle statistics; returns the index dir."""
    from dbsyncer_spark.index.search import SearchIndex

    pdf = inputs.pdf
    p = run.path("corpus")
    run.spark.createDataFrame(pdf, SCHEMA).write.mode("overwrite").parquet(p)
    d = run.path(name)
    meta = timed_build(run, run.spark.read.parquet(p), d)
    run.check(meta["n_docs"] == CORPUS_DOCS, f"built {meta['n_docs']} docs")
    run.values["build_docs_per_s"] = CORPUS_DOCS / run.samples["build_s"][0]
    run.values["build_docs_per_cpu_s"] = CORPUS_DOCS / run.samples["build_cpu_s"][0]
    run.values["index_bytes_per_input_byte"] = (
        dir_bytes(d) / pdf["content"].str.encode("utf-8").str.len().sum())
    reader = run.call("index/search:SearchIndex", SearchIndex, run.spark, d)
    run.call("index/search:warm_local", reader.warm_local)
    oracle_check(run, reader, inputs)
    inputs.pdf = inputs.stats = None
    run.index_dir, run.stream = d, Stream(inputs)
    return d


def timed_build(run: Run, docs, d: str) -> dict:
    """One ``build_index``; records its wall, its Spark jobs and the stage
    split read from the lineage manifests' ``committed_at``."""
    from dbsyncer_spark.index.build import build_index
    from dbsyncer_spark.index.lineage import read_manifest

    shutil.rmtree(d, ignore_errors=True)
    gid = run.job_group()
    t_wall, t0, cpu0 = time.time(), time.perf_counter(), tree_cpu_s()
    meta = run.call("index/build:build_index", build_index, run.spark, docs, d,
                    resume=False)
    run.samples["build_s"].append(time.perf_counter() - t0)
    run.samples["build_cpu_s"].append(tree_cpu_s() - cpu0)
    run.samples["build.spark_jobs"].append(run.jobs_in(gid))
    seg = os.path.join(d, "segments", "seg_000000")
    prev = t_wall
    for stage in ("termdocs", "docstats", "postings", "dictionary"):
        at = read_manifest(seg, stage)["committed_at"]
        run.samples[f"build.{stage}_s"].append(at - prev)
        prev = at
    return meta


def open_reader(run: Run, d: str):
    """Open ``d`` for driver-local serving ``SETUP_REPEATS`` times; each
    open is a sample of ``setup_s``. Returns the last reader; each reader
    is released before the next opens."""
    from dbsyncer_spark.index.search import SearchIndex

    idx = None
    for _ in range(SETUP_REPEATS):
        idx = None
        gc.collect()
        t0 = time.perf_counter()
        idx = run.call("index/search:SearchIndex", SearchIndex, run.spark, d)
        run.call("index/search:warm_local", idx.warm_local)
        run.samples["setup_s"].append(time.perf_counter() - t0)
    return idx


def reader_heap(run: Run, d: str) -> None:
    """Open ``d`` for driver-local serving once more and serve the first
    ``HEAP_QUERIES`` queries of the stream from it under ``tracemalloc``:
    ``reader_heap_mb`` is the peak of what the driver's Python heap
    (numpy and pandas arrays included) allocated in that window, and
    ``reader_retained_mb`` what of it the reader still held at its end:
    the ``warm_local`` snapshot and the decoded postings it cached. Unlike
    RSS, allocated bytes do not move with the allocator's state, so one
    window per run is a steady figure. Tracing slows Python several
    times over, so no timed figure comes from this window."""
    from dbsyncer_spark.index.search import SearchIndex

    gc.collect()
    tracemalloc.start()
    try:
        idx = run.call("index/search:SearchIndex", SearchIndex, run.spark, d)
        run.call("index/search:warm_local", idx.warm_local)
        for q in run.stream.head(HEAP_QUERIES):
            run.call("index/search:search_rows", idx.search_rows, q["text"],
                     k=q["k"], doc_filter=run.lang_filter(q["lang"]))
        retained, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    run.values["reader_heap_mb"] = peak / (1 << 20)
    run.values["reader_retained_mb"] = retained / (1 << 20)


class Stream:
    """The seeded query stream, consumed in order by every phase."""

    def __init__(self, inputs: Inputs):
        self.pool, self.order = inputs.pool, inputs.order
        self.pos = 0

    def next(self) -> dict:
        q = self.pool[self.order[self.pos % len(self.order)]]
        self.pos += 1
        return q

    def head(self, n: int) -> list[dict]:
        """The stream's first ``n`` queries, without consuming any."""
        return [self.pool[i] for i in self.order[:n]]

    def next_batch(self) -> dict[str, str]:
        batch = {}
        while len(batch) < BATCH:
            q = self.next()
            if q["lang"] is None and q["text"] not in batch.values():
                batch[f"q{len(batch)}"] = q["text"]
        return batch


def qkey(q: dict) -> tuple:
    return (q["text"], q["k"], q["lang"])


class LocalServer:
    """Times ``search_rows`` on a warm_local reader. A query that finds
    terms is *cold* when one of them has not been queried since the
    reader's snapshot was (re)built, else *warm*."""

    def __init__(self, run: Run, reader):
        self.run, self.reader = run, reader
        self.seen: set[str] = set()

    def reset_snapshot(self):
        self.seen.clear()

    def query(self, q: dict, timed: bool = True) -> list:
        from dbsyncer_spark.functions.tokenizer import tokenize_py

        run = self.run
        t0, cpu0 = time.perf_counter(), time.thread_time()
        try:
            rows = run.call("index/search:search_rows", self.reader.search_rows,
                            q["text"], k=q["k"], doc_filter=run.lang_filter(q["lang"]),
                            rid=run.attempted)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            run.check(False, f"search_rows {qkey(q)}: {e!r}")
            return []
        ms = 1000 * (time.perf_counter() - t0)
        cpu_ms = 1000 * (time.thread_time() - cpu0)
        if timed:
            run.check(True, "")
            run.samples["local_ms"].append(ms)
            run.samples["local_cpu_ms"].append(cpu_ms)
            if len(run.samples["local_cpu_ms"]) % CAL_EVERY == 0:
                run.calibrate()
            run.samples[f"search.local_query_ms.{q['cls']}"].append(ms)
            if q["cls"] != "miss":  # absent terms decode nothing, cold or warm
                terms = set(tokenize_py(q["text"]))
                run.samples["search.local_warm_query_ms" if terms <= self.seen
                            else "search.local_cold_query_ms"].append(ms)
                self.seen |= terms
        return rows

    def slice(self, stream: Stream, n: int):
        gid = self.run.job_group()
        for _ in range(n):
            self.query(stream.next())
        local_jobs(self.run, gid, n, "search_rows")


def local_jobs(run: Run, gid: str, n_queries: int, what: str) -> None:
    """Record the Spark jobs that ``n_queries`` driver-local queries in job
    group ``gid`` launched; warm_local serves with none, so any is a
    failure."""
    jobs = run.jobs_in(gid)
    run.samples["local_jobs"].append(jobs)
    run.samples["local_queries"].append(n_queries)
    run.check(jobs == 0, f"{n_queries} warm_local {what} queries launched {jobs} Spark jobs")


def _until(deadline: float):
    """True while time is left, and always for the first iteration."""
    first = True
    while first or time.perf_counter() < deadline:
        first = False
        yield


# -- workloads ---------------------------------------------------------

def serve(run: Run, inputs: Inputs) -> None:
    from dbsyncer_spark.fixtures.corpus import reference_queries
    from dbsyncer_spark.index.search import SearchIndex

    d = prepare(run, inputs, "serve_idx")
    stream = run.stream
    # the driver-local reader opens as in cdc-upsert, before the cluster
    # reader pins its postings in the JVM
    reader_heap(run, d)
    reader = open_reader(run, d)
    local = LocalServer(run, reader)
    cluster = run.call("index/search:SearchIndex", SearchIndex, run.spark, d)
    run.call("index/search:warm", cluster.warm, cache_postings=True)
    run.call("index/search:warm_driver_dictionary", cluster.warm_driver_dictionary)
    q = reference_queries()[8]  # untimed warm-up of the filtered cluster path
    cluster.search(q["text"], k=q["k"], doc_filter=run.lang_filter(q["filterLang"])).collect()
    run.values["setup_total_s"] = time.perf_counter() - run.t_start

    batches: list[tuple[dict, dict]] = []  # (batch, local result)
    calibration_ms()  # first pass warms the kernel's caches, untimed
    for phase, share in SERVE_PHASES:
        run.calibrate()
        deadline = time.perf_counter() + share * run.seconds
        gid = run.job_group()
        n = 0
        if phase == "local":
            for _ in _until(deadline):
                local.query(stream.next())
                n += 1
            local_jobs(run, gid, n, "search_rows")
        elif phase == "local_batch":
            # CPU of the driver, the JVM and its workers: the batch result
            # is built and collected through the JVM, whose first passes
            # over that path are left out. One CPU sample per CPU_GROUP
            # batches, so a JIT or GC burst moves one sample, not the median
            for _ in range(WARM_BATCHES):
                _many(reader, stream.next_batch())
            cpu0 = tree_cpu_s()
            while time.perf_counter() < deadline or len(batches) < CPU_GROUP:
                batch = stream.next_batch()
                t = time.perf_counter()
                got = run.call("index/search:search_many", _many, reader, batch)
                run.samples["search.batch_local_ms"].append(1000 * (time.perf_counter() - t))
                run.check(True, "")
                batches.append((batch, got))
                if len(batches) % CPU_GROUP == 0:
                    cpu0 = run.work_cpu(cpu0)
            local_jobs(run, gid, BATCH * len(batches), "search_many")
        elif phase == "cluster":
            for _ in _until(deadline):
                q = stream.next()
                t = time.perf_counter()
                try:
                    rows = run.call(
                        "index/search:search", _cluster_rows, cluster, q, run,
                        rid=run.attempted)
                except Exception as e:  # noqa: BLE001
                    run.check(False, f"search {qkey(q)}: {e!r}")
                    continue
                ms = 1000 * (time.perf_counter() - t)
                run.samples["cluster_ms"].append(ms)
                run.samples[f"search.cluster_query_ms.{q['cls']}"].append(ms)
                n += 1
                want = local.query(q, timed=False)
                run.check(rows == want, f"cluster != local for {qkey(q)}")
            run.samples["cluster_jobs"].append(run.jobs_in(gid))
            run.samples["cluster_queries"].append(n)
        else:
            for j in _until(deadline):
                if len(batches) <= n:
                    b = stream.next_batch()
                    batches.append((b, _many(reader, b)))
                batch, want = batches[n]
                t = time.perf_counter()
                got = run.call("index/search:search_many", _many, cluster, batch)
                run.samples["search.batch_cluster_ms"].append(1000 * (time.perf_counter() - t))
                run.check(got == want, f"cluster batch {n} != local batch")
                n += 1
    n_batched = BATCH * len(run.samples["search.batch_local_ms"])
    run.values["local_batch_qps"] = (
        n_batched / (sum(run.samples["search.batch_local_ms"]) / 1000))
    run.values["work_units"] = BATCH * CPU_GROUP
    run.calibrate()
    run.values["peak_rss_mb"] = peak_rss_mb()


def _many(idx, batch: dict) -> dict:
    out: dict[str, list] = {}
    for r in idx.search_many(batch, k=10).collect():
        out.setdefault(r.query_id, []).append((int(r.doc_id), float(r.score)))
    return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}


def _cluster_rows(cluster, q: dict, run: Run) -> list:
    return [(int(r.doc_id), float(r.score)) for r in cluster.search(
        q["text"], k=q["k"], doc_filter=run.lang_filter(q["lang"])).collect()]


def cdc_upsert(run: Run, inputs: Inputs) -> None:
    from dbsyncer_spark.sources.cdc import replay_changed_events
    from dbsyncer_spark.streaming.incremental import maybe_merge

    d = prepare(run, inputs, "cdc_idx")
    stream = run.stream
    chunks = gen.cdc_chunks(run.seed, inputs.keys, inputs.bodies, CDC_CHUNK)
    reader = open_reader(run, d)
    local = LocalServer(run, reader)
    events = run.path("events.jsonl")
    offset_file = run.path("cdc_offset.json")
    open(events, "wb").close()
    before = file_sizes(d)
    run.values["setup_total_s"] = time.perf_counter() - run.t_start

    calibration_ms()  # first pass warms the kernel's caches, untimed
    deadline = time.perf_counter() + run.seconds
    payload = applied = merges = 0
    expect_live = len(inputs.keys)
    for body, live_after in chunks:
        if applied and time.perf_counter() >= deadline:
            break
        run.calibrate()
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        with open(events, "ab") as f:
            f.write(body)
        run.chunk_bytes.append(len(body))
        try:
            t = time.perf_counter()
            st = run.call("sources/cdc:replay_changed_events", replay_changed_events,
                          run.spark, events, d, checkpoint_file=offset_file,
                          max_batch_rows=CDC_CHUNK)
            run.samples["cdc.replay_s"].append(time.perf_counter() - t)
            t = time.perf_counter()
            merged = run.call("streaming/incremental:maybe_merge", maybe_merge,
                              run.spark, d)
            t_applied = time.perf_counter()
            run.work_cpu(cpu0)
            run.samples["incremental.maybe_merge_s"].append(t_applied - t)
            rebuilt = run.call("index/search:refresh", reader.refresh)
            t_visible = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            run.check(False, f"cdc chunk {applied}: {e!r}")
            break
        run.samples["search.refresh_s"].append(t_visible - t_applied)
        run.samples["cdc_apply_s"].append(t_applied - t0)
        run.samples["cdc_lag_s"].append(t_visible - t0)
        run.check(st["batches"] == 1 and st["dead_letter"] == 0,
                  f"cdc chunk {applied}: {st}")
        merges += merged is not None
        payload += len(body)
        applied += 1
        expect_live = live_after
        if rebuilt:
            local.reset_snapshot()
        local.slice(stream, LOCAL_SLICE)
    run.calibrate()
    run.values["peak_rss_mb"] = peak_rss_mb()

    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    live = reader.match_all(k=expect_live + CDC_CHUNK).count()
    run.check(live == expect_live, f"live docs {live} != {expect_live} implied by the events")
    after = file_sizes(d)
    written = sum(s for p, s in after.items() if before.get(p) != s)
    run.values["cdc_events_per_s"] = applied * CDC_CHUNK / sum(run.samples["cdc_apply_s"])
    run.values["cdc_write_amp"] = written / payload
    run.values["incremental.merges"] = merges
    run.values["incremental.segments_live"] = len(meta["segments"])
    run.values["incremental.tombstones"] = (
        sum(s["n_docs"] for s in meta["segments"].values()) - live)
    run.values["work_units"] = CDC_CHUNK
    # on the updated, multi-segment index
    reader = local = None
    reader_heap(run, d)


def file_sizes(d: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(d: str) -> int:
    return sum(file_sizes(d).values())


# -- single-layer probes (traced runs only, after the timed loop) --------

def layer_probes(run: Run) -> None:
    import numpy as np

    from dbsyncer_spark.functions.tokenizer import tokenize_arrow
    from dbsyncer_spark.index.codec import pack_postings, unpack_postings
    from dbsyncer_spark.query.parser import parse_query
    from dbsyncer_spark.sources.cdc import tail_changed_events

    # sources/cdc: tail the replayed event file again, one chunk per call
    offset = 0
    for size in run.chunk_bytes:
        t = time.perf_counter()
        events, offset = run.call("sources/cdc:tail_changed_events", tail_changed_events,
                                  run.path("events.jsonl"), offset, size)
        run.samples["cdc.tail_s"].append(time.perf_counter() - t)
        run.check(len(events) == CDC_CHUNK, f"tailed {len(events)} events of a chunk")

    # functions: tokenize_arrow over corpus batches
    texts = run.spark.read.parquet(run.path("corpus")).select("content").toPandas()["content"]
    mb = texts.str.len().sum() / 1e6
    t = time.perf_counter()
    for i in range(0, len(texts), 2000):
        run.call("functions:tokenize_arrow", tokenize_arrow, texts.iloc[i:i + 2000])
    run.values["functions.tokenize_mb_per_s"] = mb / (time.perf_counter() - t)

    # query: parse_query over the stream's distinct queries
    texts_q = [q["text"] for q in run.stream.pool]
    t = time.perf_counter()
    for _ in range(5):
        for s in texts_q:
            run.call("query:parse_query", parse_query, s)
    run.values["query.parse_us"] = 1e6 * (time.perf_counter() - t) / (5 * len(texts_q))

    # index/codec: decode then re-encode every posting row of the index
    index_dir = run.index_dir
    with open(os.path.join(index_dir, "meta.json")) as f:
        segs = sorted(json.load(f)["segments"])
    cols = ["blob", "block_off", "block_n", "block_first"]
    rows = []
    for s in segs:
        p = os.path.join(index_dir, "segments", s, "postings")
        rows += run.spark.read.parquet(p).select(*cols).toPandas().to_dict("records")
    t = time.perf_counter()
    decoded = [run.call("index/codec:unpack_postings", unpack_postings, r) for r in rows]
    dec_s = time.perf_counter() - t
    n_post = sum(int(np.sum(r["block_n"])) for r in rows)
    t = time.perf_counter()
    for dd, tf, dl in decoded:
        run.call("index/codec:pack_postings", pack_postings, dd, tf, dl)
    enc_s = time.perf_counter() - t
    run.values["codec.decode_mpostings_per_s"] = n_post / dec_s / 1e6
    run.values["codec.encode_mpostings_per_s"] = n_post / enc_s / 1e6
    run.values["codec.bytes_per_posting"] = sum(len(r["blob"]) for r in rows) / n_post
