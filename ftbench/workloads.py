"""The workloads: ``bulk_load`` (with the search mix) and ``stream_update``.

Each one makes its inputs from the seed, sets up (untimed, but reported as
``setup_s``), then runs whole rounds of a fixed set of operations until
``--seconds`` have passed, timing every call into the engine. Answers are
kept and checked against the oracle after the clock stops.

Every workload reports the same end-to-end metrics (``E2E``) and, in a
traced run, the same per-layer metrics (``PER_LAYER``); a layer a workload
never calls in its timed rounds reads 0 there. The README maps each
metric to the workloads it describes.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import shutil
import time

import numpy as np
import pandas as pd

import gen
import oracle
from spans import Tracer, instrument, job_figures, median, uninstrument

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
from kafka_connect_opensearch_spark.operators.indexer import (
    add_analysis,
    build_index,
    build_index_bulk,
    prepare_identity,
)
from kafka_connect_opensearch_spark.operators.merge import auto_merge
from kafka_connect_opensearch_spark.operators.positions import PositionsReader
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.streaming.ingest import (
    SegmentBackpressure,
    start_streaming_index_build,
)

N_IDENT = 20_000
K = 10
BULK_DOCS = 1000      # docs per build in bulk_load
WARM_DOCS = 100       # docs per warm-up build
SEARCH_PASSES = 5     # search-mix passes over each positions build
BASE_DOCS = 800       # stream_update base index: 8 segments of ~100 docs
ROUND_DOCS = 100      # new docs per stream_update round
REFRESHES = 3         # refreshes of the reader per stream_update round
SOURCE_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")

E2E = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "docs_per_s": "docs/s",
    "index_bytes_per_source_byte": "ratio",
    "disk_bytes_per_live_byte": "ratio",
}
_EVENT_FIGS = {"task_cpu_s": "s", "task_run_s": "s", "gc_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB",
               "python_io_mb": "MB", "jobs": "count", "tasks": "count"}
PER_LAYER = {
    "analysis.tokenize_docs_per_s": "docs/s",
    **{f"indexer.{k}": u for k, u in _EVENT_FIGS.items()},
    "postings.encode_mb_per_s": "MB/s",
    "postings.decode_mb_per_s": "MB/s",
    "postings.bytes_per_posting": "B",
    "positions.extra_build_s": "s",
    "positions.bytes_per_position": "B",
    "positions.term_entries_ms": "ms",
    "segments.active_segments_ms": "ms",
    "segments.manifest_files": "count",
    "segments.live_segments": "count",
    "segments.postings_files": "count",
    "segments.dead_bytes": "B",
    "merge.reconcile_s": "s",
    "merge.backpressure_s": "s",
    "merge.backpressure_pauses": "count",
    "merge.rewritten_docs_per_ingested_doc": "ratio",
    "merge.task_cpu_s": "s",
    "merge.shuffle_write_mb": "MB",
    "bm25.open_ms": "ms",
    "bm25.refresh_ms": "ms",
    "bm25.term_stats_ms": "ms",
    "bm25.warm_query_ms": "ms",
    "bm25.postings_per_query": "count",
    "bm25.dist_jobs_per_query": "count",
    "bm25.dist_task_cpu_ms": "ms",
    "streaming.batch_s": "s",
    "streaming.start_s": "s",
    "streaming.batches": "count",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _ms(xs) -> float:
    return median(xs) * 1e3


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def segment_dir(store: SegmentStore, m, kind: str) -> str:
    """Where segment ``m`` keeps its ``kind`` (docs/postings/positions)
    files, in either segment layout."""
    if m.path:
        return os.path.join(m.path, f"{kind}.parquet", f"seg={m.name}")
    return os.path.join(store.segment_path(m.name), f"{kind}.parquet")


def index_stats(index_dir: str) -> dict:
    """What the manifest says (docs, Σdl, postings) and what the files
    take: live segments' data files vs everything under the index."""
    store = SegmentStore(index_dir)
    segs = store.active_segments()
    st = {"segments": len(segs), "docs": 0, "sum_dl": 0, "postings": 0,
          "live_bytes": 0, "postings_bytes": 0, "positions_bytes": 0,
          "postings_files": 0}
    for m in segs:
        st["docs"] += m.doc_count
        st["sum_dl"] += m.sum_dl
        st["postings"] += m.n_postings
        for kind in ("docs", "postings", "positions"):
            nbytes, nfiles = _tree_bytes(segment_dir(store, m, kind))
            st["live_bytes"] += nbytes
            if kind != "docs":
                st[f"{kind}_bytes"] += nbytes
            if kind == "postings":
                st["postings_files"] += nfiles
    st["disk_bytes"] = _tree_bytes(index_dir)[0]
    st["manifest_files"] = len(os.listdir(store.manifest_dir))
    return st


class Run:
    """One run: its Spark session, seed, clock, counters and results."""

    def __init__(self, spark, cores: int, work: str, seed: int,
                 seconds: float, trace: bool, since_start):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.since_start = since_start
        self.rng = np.random.default_rng(seed)
        self.vocab = gen.Vocab(N_IDENT)
        self.tracer = Tracer(spark, trace)
        self._undo = instrument(self.tracer) if trace else []
        self.cfg = EngineConfig(num_segments=4, shuffle_partitions=cores,
                                salt_partitions=cores)
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.per_layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.figures: dict = {}
        self.stream_groups: set[str] = set()
        self.n_dist = 0
        self._ops = 0
        self._t0 = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def source(self, df: pd.DataFrame, name: str):
        path = self.path("inputs", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_parquet(path, index=False)
        return self.spark.read.parquet(path)

    def op(self, layer: str, name: str, jobs: bool = True):
        """A timed call into the engine; counted when the clock runs.
        ``jobs=False``: the call runs no Spark job (see Tracer.span)."""
        if self.tracer.phase == "run":
            self.attempted += 1
        self._ops += 1
        return self.tracer.span(layer, name, op=self._ops, jobs=jobs)

    def start_clock(self) -> None:
        self.e2e["setup_s"] = (self.since_start(), "s")
        self.tracer.phase = "run"
        self._t0 = time.perf_counter()

    def more(self) -> bool:
        return time.perf_counter() - self._t0 < self.seconds

    def stop_clock(self) -> None:
        self.tracer.phase = "check"

    def check(self, errs: list[str]) -> None:
        self.errors.extend(errs)

    # -- per-layer figures -------------------------------------------------
    def layer(self, name: str, value: float) -> None:
        self.per_layer[name] = (float(value), PER_LAYER[name])

    def probe_analysis(self, src, n_docs: int) -> None:
        """Analysis alone: tokenize the workload's source into a no-op
        sink (median of three)."""
        times = []
        for _ in range(3):
            with self.tracer.span("analysis", "tokenize_noop") as s:
                add_analysis(prepare_identity(src)).write.format(
                    "noop").mode("overwrite").save()
            times.append(_dur(s))
        self.layer("analysis.tokenize_docs_per_s", n_docs / median(times))

    def probe_postings(self, index_dir: str) -> None:
        """The varint codec alone, over the index's own doc-id lists."""
        import pyarrow.dataset as pads

        store = SegmentStore(index_dir)
        bufs = []
        for m in store.active_segments():
            p = segment_dir(store, m, "postings")
            col = pads.dataset(p, format="parquet").to_table(
                columns=["doc_ids"]).column("doc_ids")
            bufs.extend(col.to_pylist())
        nbytes = sum(len(b) for b in bufs)
        dec, enc = [], []
        for _ in range(3):
            t = time.perf_counter()
            vals, rows = codec.varint_decode_concat(bufs)
            dec.append(time.perf_counter() - t)
        starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
        for _ in range(3):
            t = time.perf_counter()
            codec.varint_encode_grouped(vals, starts)
            enc.append(time.perf_counter() - t)
        self.layer("postings.decode_mb_per_s", nbytes / median(dec) / 1e6)
        self.layer("postings.encode_mb_per_s", nbytes / median(enc) / 1e6)

    def index_layers(self, st: dict) -> None:
        """segments.*, postings and positions sizes of the final index."""
        self.layer("postings.bytes_per_posting",
                   st["postings_bytes"] / max(st["postings"], 1))
        self.layer("positions.bytes_per_position",
                   st["positions_bytes"] / max(st["sum_dl"], 1))
        self.layer("segments.manifest_files", st["manifest_files"])
        self.layer("segments.live_segments", st["segments"])
        self.layer("segments.postings_files", st["postings_files"])
        self.layer("segments.dead_bytes", st["disk_bytes"] - st["live_bytes"])

    def span_layers(self) -> None:
        ms = lambda name: _ms(self.tracer.durations(name))  # noqa: E731
        self.layer("bm25.open_ms", ms("IndexReader.__init__"))
        self.layer("bm25.refresh_ms", ms("IndexReader.refresh"))
        self.layer("bm25.term_stats_ms", ms("IndexReader.term_stats"))
        self.layer("bm25.warm_query_ms", ms("warm_query"))
        self.layer("positions.term_entries_ms",
                   ms("PositionsReader.term_entries"))
        self.layer("segments.active_segments_ms",
                   ms("SegmentStore.active_segments"))
        self.layer("merge.reconcile_s",
                   median(self.tracer.durations("merge.reconcile_updates")))
        self.layer("merge.backpressure_s",
                   median(self.tracer.durations("backpressure")))

    def finish_trace(self, events_dir: str) -> None:
        """Per-layer task figures from the event log (after spark.stop(),
        which flushes it); every PER_LAYER name gets a value."""
        uninstrument(self._undo)
        spans = self.tracer.spans

        def layer_of(group: str) -> str | None:
            if group in self.stream_groups:
                return "indexer"
            if not group.startswith("ftb:"):
                return None
            _, layer, sid = group.split(":")
            span = spans[int(sid)]
            if span["phase"] != "run":
                return None
            if span["name"] == "dist_search":
                return "bm25.dist"
            # a stream's own jobs outside merge spans are its segment builds
            return "indexer" if layer == "streaming" else layer

        self.figures = job_figures(events_dir, layer_of)
        ix = self.figures.get("indexer", {})
        for k in _EVENT_FIGS:
            self.layer(f"indexer.{k}", ix.get(k, 0.0))
        mg = self.figures.get("merge", {})
        self.layer("merge.task_cpu_s", mg.get("task_cpu_s", 0.0))
        self.layer("merge.shuffle_write_mb", mg.get("shuffle_write_mb", 0.0))
        ds = self.figures.get("bm25.dist", {})
        n = max(self.n_dist, 1)
        self.layer("bm25.dist_jobs_per_query", ds.get("jobs", 0) / n)
        self.layer("bm25.dist_task_cpu_ms",
                   ds.get("task_cpu_s", 0.0) * 1e3 / n)
        self.span_layers()
        for name in PER_LAYER:
            if name not in self.per_layer:
                self.layer(name, 0.0)


def query_block(run: Run, reader: IndexReader, mix, name: str) -> list:
    """One pass of the BM25 mix: [(query, mode, top-k, seconds)]."""
    out = []
    for q, mode in mix:
        with run.op("bm25", name, jobs=False) as s:
            hits = reader.search_topk(q, k=K, mode=mode)
        out.append((q, mode, hits, _dur(s)))
    return out


def check_block(run: Run, orc: oracle.Oracle, block, what: str,
                cache: dict) -> None:
    """Check a query block; ``cache`` keeps the oracle's scores per query
    while the oracle's documents stay the same."""
    for q, mode, hits, _ in block:
        if (q, mode) not in cache:
            cache[(q, mode)] = orc.bm25(q, mode)
        run.check([f"{what} {q!r}/{mode}: {e}"
                   for e in oracle.check_topk(hits, cache[(q, mode)], K)])


def postings_per_query(orc: oracle.Oracle, mix) -> float:
    return float(np.mean([sum(orc.df(t) for t in set(oracle.tokenize(q)))
                          for q, _ in mix]))


def content_bytes(df: pd.DataFrame) -> int:
    return int(df["content"].str.encode("utf-8").str.len().sum())


# ---------------------------------------------------------------------------

def sample_positional(rng, corpus: pd.DataFrame, n: int, length: int
                      ) -> list[list[str]]:
    """``n`` runs of ``length`` consecutive tokens taken from random docs,
    so each phrase matches at least one doc."""
    out = []
    while len(out) < n:
        toks = oracle.tokenize(corpus["content"].iloc[
            int(rng.integers(len(corpus)))])
        if len(toks) > length:
            p = int(rng.integers(len(toks) - length))
            out.append(toks[p:p + length])
    return out


class SearchMix:
    """The read side of ``bulk_load``: one pass is the warm BM25 mix, two
    phrases and a NEAR, two cold-term queries, and the heavy query through
    the DataFrame wrapper and through the distributed scorer."""

    def __init__(self, run: Run, corpus: pd.DataFrame, mix):
        self.run = run
        self.mix = mix
        self.heavy = mix[4]
        self.colds = iter(gen.cold_terms(run.rng, run.vocab))
        self.phrases = [" ".join(t) for t in
                        sample_positional(run.rng, corpus, 1, 2)
                        + sample_positional(run.rng, corpus, 1, 3)]
        near = next(t for t in sample_positional(run.rng, corpus, 50, 4)
                    if t[0] != t[3])
        self.near = (near[0], near[3], 3)

    def one_pass(self, reader: IndexReader, preader: PositionsReader) -> dict:
        """Each warm BM25 query is followed by one other operation, so the
        warm samples spread over the whole pass."""
        run = self.run
        rec = {"warm": [], "phrase": [], "cold": []}

        def phrase(ph):
            with run.op("positions", "phrase", jobs=False) as s:
                ids = preader.phrase_match_ids(ph)
            rec["phrase"].append((ph, ids, _dur(s)))

        def near():
            with run.op("positions", "phrase", jobs=False) as s:
                ids = preader.near_match_ids(*self.near)
            rec["near"] = (ids, _dur(s))

        def cold():
            term = next(self.colds)
            with run.op("bm25", "cold_query", jobs=False) as s:
                hits = reader.search_topk(term, k=K)
            rec["cold"].append((term, "or", hits, _dur(s)))

        def via_spark(path, **kw):
            q, mode = self.heavy
            with run.op("bm25", f"{path}_search") as s:
                rows = reader.search(q, k=K, mode=mode, **kw).collect()
            rec[path] = ([(r.doc_id, r.score) for r in rows], _dur(s))

        others = [lambda: phrase(self.phrases[0]),
                  lambda: phrase(self.phrases[1]), near, cold, cold,
                  lambda: via_spark("df"),
                  lambda: via_spark("dist", local_threshold=0)]
        for (q, mode), other in zip(self.mix, others, strict=True):
            rec["warm"] += query_block(run, reader, [(q, mode)], "warm_query")
            other()
        if run.tracer.phase == "run":
            run.n_dist += 1
        return rec

    def check(self, orc: oracle.Oracle, passes: list[dict], cache: dict
              ) -> None:
        run = self.run
        want_phrase = {ph: orc.phrase(ph) for ph in self.phrases}
        want_near = orc.near(*self.near)
        for rec in passes:
            check_block(run, orc, rec["warm"], "search", cache)
            check_block(run, orc, rec["cold"], "cold term", cache)
            for ph, ids, _ in rec["phrase"]:
                run.check(oracle.check_ids(ids, want_phrase[ph],
                                           f"phrase {ph!r}"))
            run.check(oracle.check_ids(rec["near"][0], want_near,
                                       f"near {self.near!r}"))
            coord = next(h for q, m, h, _ in rec["warm"]
                         if (q, m) == self.heavy)
            for path in ("df", "dist"):
                got = sorted(rec[path][0], key=lambda x: (-x[1], x[0]))
                run.check([f"{path} search: {e}" for e in oracle.check_topk(
                    got, cache[self.heavy], K)])
                if [d for d, _ in got] != [d for d, _ in coord]:
                    run.check([f"{path} search differs from the coordinator"])


def bulk_load(run: Run) -> Run:
    """An initial load built three ways, each into a fresh directory; on
    each new index a cold and a warm pass of the BM25 mix, and on the
    positions index ``SEARCH_PASSES`` passes of the search mix."""
    spark = run.spark
    corpus = gen.make_docs(run.rng, run.vocab, 0, BULK_DOCS)
    mix = gen.bm25_mix(run.rng, run.vocab)
    search = SearchMix(run, corpus, mix)
    src = run.source(corpus, "corpus")
    warm = run.source(corpus.iloc[:WARM_DOCS], "warm")
    pcfg = dataclasses.replace(run.cfg, index_positions=True)
    ways = [("bulk", build_index_bulk, run.cfg),
            ("resumable", build_index, run.cfg),
            ("positions", build_index_bulk, pcfg)]
    # warm-up (JIT, codegen, Python workers): the positions build runs the
    # whole bulk pipeline and more
    with run.op("indexer", "warmup"):
        build_index_bulk(spark, warm, run.path("warm"), pcfg)
    search.one_pass(IndexReader(spark, run.path("warm")),
                    PositionsReader(spark, run.path("warm")))
    shutil.rmtree(run.path("warm"))

    run.start_clock()
    rounds = []
    while not rounds or run.more():
        r = len(rounds)
        shutil.rmtree(run.path(f"r{r - 1}"), ignore_errors=True)
        rec = {}
        for name, build, cfg in ways:
            d = run.path(f"r{r}", name)
            with run.op("indexer", f"build.{name}") as s:
                build(spark, src, d, cfg)
            with run.op("bm25", "open", jobs=False):
                reader = IndexReader(spark, d)
            rec[name] = {"build_s": _dur(s),
                         "cold": query_block(run, reader, mix, "cold_query"),
                         "warm": query_block(run, reader, mix, "warm_query")}
            if cfg.index_positions:
                with run.op("positions", "open", jobs=False):
                    preader = PositionsReader(spark, d)
                rec[name]["search"] = [search.one_pass(reader, preader)
                                       for _ in range(SEARCH_PASSES)]
        rounds.append(rec)
    run.stop_clock()

    last_dir = run.path(f"r{len(rounds) - 1}")
    last = {name: index_stats(os.path.join(last_dir, name))
            for name, _, _ in ways}
    orc = oracle.Oracle()
    orc.add(gen.doc_key(corpus), corpus["content"])
    want = orc.totals()
    cache: dict = {}
    for name, st in last.items():
        run.check(oracle.check_totals(
            {"docs": st["docs"], "sum_dl": st["sum_dl"],
             "sum_terms": st["postings"]}, want, f"{name} build"))
    passes = [p for rec in rounds for p in rec["positions"]["search"]]
    for rec in rounds:
        for name, r in rec.items():
            check_block(run, orc, r["cold"], f"{name} cold", cache)
            check_block(run, orc, r["warm"], f"{name} warm", cache)
    search.check(orc, passes, cache)

    src_bytes = content_bytes(corpus)
    per_round = [len(ways) * BULK_DOCS / sum(r[n]["build_s"] for n in r)
                 for r in rounds]
    blocks = [r[n] for r in rounds for n in r]
    cold_terms = [x[3] for p in passes for x in p["cold"]]
    cold = [x[3] for b in blocks for x in b["cold"]] + cold_terms
    search_warm = [x[3] for p in passes for x in p["warm"]]
    warm = [x[3] for b in blocks for x in b["warm"]] + search_warm
    live = sum(st["live_bytes"] for st in last.values())
    run.e2e.update({
        "docs_per_s": (median(per_round), "docs/s"),
        "index_bytes_per_source_byte": (live / (len(ways) * src_bytes),
                                        "ratio"),
        "disk_bytes_per_live_byte": (
            sum(st["disk_bytes"] for st in last.values()) / live, "ratio"),
    })
    build_s = {n: median(r[n]["build_s"] for r in rounds) for n, _, _ in ways}
    phrase = [x[2] for p in passes for x in p["phrase"]] + [
        p["near"][1] for p in passes]
    run.detail = {
        "rounds": len(rounds), "docs_per_build": BULK_DOCS,
        **{f"{n}_docs_per_s": BULK_DOCS / s for n, s in build_s.items()},
        **{f"{n}_index_bytes_per_source_byte": st["live_bytes"] / src_bytes
           for n, st in last.items()},
        "cold_query_p50_ms": _ms(cold),
        "warm_query_p50_ms": _ms(warm),
        "search_p50_ms": _ms(search_warm),
        "cold_term_p50_ms": _ms(cold_terms),
        "phrase_p50_ms": _ms(phrase),
        "df_search_p50_ms": _ms(p["df"][1] for p in passes),
        "dist_search_p50_ms": _ms(p["dist"][1] for p in passes),
    }
    if run.trace:
        run.layer("positions.extra_build_s",
                  build_s["positions"] - build_s["bulk"])
        run.layer("bm25.postings_per_query", postings_per_query(orc, mix))
        totals = {k: sum(st[k] for st in last.values()) for k in last["bulk"]}
        run.index_layers({**totals, "sum_dl": last["positions"]["sum_dl"],
                          "positions_bytes": last["positions"][
                              "positions_bytes"]})
        run.probe_postings(os.path.join(last_dir, "bulk"))
        run.probe_analysis(src, BULK_DOCS)
    return run


# ---------------------------------------------------------------------------

def _epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def stream_update(run: Run) -> Run:
    """Rounds of files streamed into a live index beside reads; a final
    auto_merge. Each round's file holds new docs and the next version of
    the canary document."""
    spark = run.spark
    base = pd.concat([gen.make_docs(run.rng, run.vocab, 0, BASE_DOCS),
                      gen.canary(0)], ignore_index=True)
    mix = gen.bm25_mix(run.rng, run.vocab)
    src = run.source(base, "base")
    idx, inbox = run.path("idx"), run.path("inbox")
    os.makedirs(inbox)
    # eight base segments in one size tier: the canary's segment is merged
    # by every round's reconcile, the other seven are left for auto_merge
    with run.op("indexer", "build.bulk"):
        build_index_bulk(spark, src, idx,
                         dataclasses.replace(run.cfg, num_segments=8))
    store = SegmentStore(idx)
    # marks above the steady segment count (8): every batch checks, none
    # has to wait for a merge
    bp = SegmentBackpressure(store, run.cfg, high_mark=10, low_mark=5)
    if run.trace:
        run.tracer.wrap(bp, "before_batch", "merge", "backpressure",
                        run._undo, jobs=True)
    reader = IndexReader(spark, idx)
    canary_id = oracle.doc_id(gen.DOC_KEY_SEP.join(gen.CANARY))

    def canary_check(version: int) -> bool:
        with run.op("bm25", "canary", jobs=False):
            hits = reader.search_topk(f"canary_v{version}", k=K)
        return [d for d, _ in hits] == [canary_id]

    def queries(rec: dict, version: int) -> None:
        """REFRESHES × (refresh, then each query of the mix once fresh and
        twice warm): warm samples spread over the whole block."""
        rec["fresh"], rec["warm"] = [], []
        for _ in range(REFRESHES):
            with run.op("bm25", "refresh", jobs=False):
                reader.refresh()
            for q in mix:
                rec["fresh"] += query_block(run, reader, [q], "fresh_query")
                rec["warm"] += query_block(run, reader, [q, q], "warm_query")
        rec["canary_ok"] = canary_check(version)
        st = index_stats(idx)
        rec["totals"] = {"docs": st["docs"], "sum_dl": st["sum_dl"],
                         "sum_terms": st["postings"]}
        rec["segments"] = st["segments"]

    def one_round(r: int) -> dict:
        df = gen.stream_round(run.rng, run.vocab, r, ROUND_DOCS)
        landing = run.path("landing", f"r{r:04d}.parquet")
        os.makedirs(os.path.dirname(landing), exist_ok=True)
        df.to_parquet(landing, index=False)
        os.rename(landing, os.path.join(inbox, f"r{r:04d}.parquet"))
        with run.op("streaming", "ingest") as s:
            started = time.time()
            q = start_streaming_index_build(
                spark, inbox, SOURCE_SCHEMA, idx, run.path("checkpoint"),
                run.cfg, backpressure=bp)
            if run.tracer.phase == "run":
                run.stream_groups.add(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream round {r}: {q.exception()}")
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rec = {"docs": df, "ingest_s": _dur(s),
               "start_s": _epoch(prog[0]["timestamp"]) - started,
               "batch_s": [p["durationMs"]["addBatch"] / 1e3 for p in prog]}
        queries(rec, r + 1)
        return rec

    warmup = one_round(0)
    before = set(store.committed_batches())
    run.start_clock()
    rounds = []
    while not rounds or run.more():
        rounds.append(one_round(len(rounds) + 1))
    # docs that reconciles and backpressure merges wrote during the rounds
    rewritten = sum(seg["doc_count"]
                    for bid, e in store.committed_batches().items()
                    if bid not in before and bid.startswith("merge_")
                    for seg in e["segments"])
    final = {}
    with run.op("merge", "auto_merge") as s:
        auto_merge(spark, idx, run.cfg)
    final["merge_s"] = _dur(s)
    queries(final, len(rounds) + 1)
    run.stop_clock()

    # each timed round and the final block end in one canary check
    for rec in rounds + [final]:
        if not rec["canary_ok"]:
            run.failed += 1
    orc = oracle.Oracle()
    orc.add(gen.doc_key(base), base["content"])
    live_bytes = {k: len(c.encode()) for k, c in
                  zip(gen.doc_key(base), base["content"], strict=True)}
    cache: dict = {}
    for i, rec in enumerate([warmup] + rounds):
        keys = gen.doc_key(rec["docs"])
        orc.add(keys, rec["docs"]["content"])
        live_bytes.update({k: len(c.encode()) for k, c in
                           zip(keys, rec["docs"]["content"], strict=True)})
        cache = {}
        run.check(oracle.check_totals(rec["totals"], orc.totals(),
                                      f"round {i}"))
        check_block(run, orc, rec["fresh"], f"round {i} fresh", cache)
        check_block(run, orc, rec["warm"], f"round {i} warm", cache)
    if not warmup["canary_ok"]:
        run.check(["canary missing after its first update"])
    run.check(oracle.check_totals(final["totals"], orc.totals(),
                                  "after auto_merge"))
    check_block(run, orc, final["fresh"], "after auto_merge", cache)
    if final["segments"] >= rounds[-1]["segments"]:
        run.check([f"auto_merge left {final['segments']} segments of "
                   f"{rounds[-1]['segments']}"])
    for a, b in zip(rounds[-1]["warm"], final["warm"], strict=True):
        if [d for d, _ in a[2]] != [d for d, _ in b[2]]:
            run.check([f"auto_merge changed the answer to {a[0]!r}"])

    st = index_stats(idx)
    fresh = [x[3] for r in rounds for x in r["fresh"]]
    warm = [x[3] for r in rounds for x in r["warm"]]
    ingest = [(ROUND_DOCS + 1) / r["ingest_s"] for r in rounds]
    run.e2e.update({
        "docs_per_s": (median(ingest), "docs/s"),
        "index_bytes_per_source_byte": (
            st["live_bytes"] / sum(live_bytes.values()), "ratio"),
        "disk_bytes_per_live_byte": (st["disk_bytes"] / st["live_bytes"],
                                     "ratio"),
    })
    run.detail = {
        "rounds": len(rounds), "docs_per_round": ROUND_DOCS + 1,
        "ingest_docs_per_s": median(ingest),
        "fresh_query_p50_ms": _ms(fresh),
        "warm_query_p50_ms": _ms(warm),
        "merge_s": final["merge_s"],
        "segments_before_merge": rounds[-1]["segments"],
        "segments_after_merge": final["segments"],
        "canary_failures": run.failed,
    }
    if run.trace:
        run.layer("merge.rewritten_docs_per_ingested_doc",
                  rewritten / (len(rounds) * (ROUND_DOCS + 1)))
        run.layer("merge.backpressure_pauses", bp.pauses)
        run.layer("streaming.batch_s",
                  median(b for r in rounds for b in r["batch_s"]))
        run.layer("streaming.start_s", median(r["start_s"] for r in rounds))
        run.layer("streaming.batches",
                  sum(len(r["batch_s"]) for r in rounds))
        run.layer("bm25.postings_per_query", postings_per_query(orc, mix))
        run.index_layers(st)
        run.probe_postings(idx)
        run.probe_analysis(src, len(base))
    return run


WORKLOADS = {"bulk_load": bulk_load, "stream_update": stream_update}
