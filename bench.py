"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric", "value" (total sec), "unit": "sec", "queries":
{name: sec}, "sf", ...extras}``.

Workload:
- ``index_build``: full inverted-index build over a deterministic synthetic
  code corpus (``$BENCH_CORPUS_DOCS`` docs, default 20000, ~20M tokens) —
  the north-star docs/sec number (extras: ``docs_per_sec``).
- ``bm25_queries``: the reference query set (rare / stopword / conjunctive
  / mixed) against that index — extras carry p50/p95 ms.
- a representative slice of the driver-contract queries over the sf-dir
  tables (dedup, similarity, text stats, relational).

Scaling evidence (north rule: N vs 4N executors) is produced by
``scripts/bench_scaling.py``, which invokes this file at two parallelism
levels and writes ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from kafka_connect_opensearch_spark.config import EngineConfig  # noqa: E402
from kafka_connect_opensearch_spark.operators.bm25 import IndexReader  # noqa: E402
from kafka_connect_opensearch_spark.operators.indexer import (  # noqa: E402
    build_index,
    build_index_bulk,
)
from kafka_connect_opensearch_spark.sources.corpus import generate_corpus  # noqa: E402

BM25_QUERY_SET = [
    ("ident_7", "or"),
    ("ident_123 ident_456", "or"),
    ("return", "or"),
    ("return import def", "or"),
    ("ident_3 import", "or"),
    ("ident_1 ident_2", "and"),
    ("return import", "and"),
    ("ident_42 class self", "or"),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_CORPUS_DOCS", "20000"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kcos-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        # ParallelGC: G1 concurrent marking measured 2.5× slower on the
        # allocation-heavy tokenize/pack stages at local[32]
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict = {"cpus": cpus, "corpus_docs": n_docs}
    work = tempfile.mkdtemp(prefix="kcos_bench_")
    try:
        # --- corpus staging (not timed: input generation, not indexing)
        corpus_path = f"{work}/corpus.parquet"
        generate_corpus(spark, n_docs, partitions=cpus * 2).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)

        # warm the python-worker pool + JIT before timing: throughput is a
        # steady-state metric; interpreter fork/import costs are session
        # fixed costs, not per-document work
        warm_cfg = EngineConfig(num_segments=1, salt_partitions=4,
                                shuffle_partitions=max(cpus, 16))
        build_index(spark, corpus.limit(500), f"{work}/warm", warm_cfg)

        # --- index build throughput
        idx_dir = f"{work}/index"
        # segment count and salt fanout are held constant across parallelism
        # levels so the scaling comparison varies cores only; shuffle
        # partitions track cores (that's what a bigger cluster changes).
        cfg = EngineConfig(
            num_segments=8,
            shuffle_partitions=max(cpus, 16),
            salt_partitions=16,
        )
        # bulk mode: the initial-load path — one scan, one doc shuffle,
        # one writer task per segment for ALL segments
        t0 = time.monotonic()
        metrics = build_index_bulk(spark, corpus, idx_dir, cfg)
        timings["index_build"] = round(time.monotonic() - t0, 3)
        extras["docs_per_sec"] = round(n_docs / timings["index_build"], 1)
        extras["postings_written"] = metrics.postings_written
        extras["segments_built"] = metrics.segments_built

        # incremental micro-batched (resumable) build, for comparison
        t0 = time.monotonic()
        build_index(spark, corpus, f"{work}/index_inc", cfg)
        timings["index_build_incremental"] = round(time.monotonic() - t0, 3)
        extras["docs_per_sec_incremental"] = round(
            n_docs / timings["index_build_incremental"], 1
        )

        # --- tiered auto-merge: compaction cost + query-latency payoff
        from kafka_connect_opensearch_spark.operators.merge import auto_merge
        from kafka_connect_opensearch_spark.operators.segments import (
            SegmentStore,
        )

        inc_reader = IndexReader(spark, f"{work}/index_inc")
        pre = []
        for rnd in range(2):
            for q, mode in BM25_QUERY_SET:
                t1 = time.monotonic()
                inc_reader.search_topk(q, k=10, mode=mode)
                if rnd > 0:
                    pre.append((time.monotonic() - t1) * 1000)
        t0 = time.monotonic()
        auto_merge(spark, f"{work}/index_inc", cfg)
        timings["auto_merge"] = round(time.monotonic() - t0, 3)
        extras["segments_after_merge"] = len(
            SegmentStore(f"{work}/index_inc").active_segments()
        )
        merged_reader = IndexReader(spark, f"{work}/index_inc")
        post = []
        for rnd in range(2):
            for q, mode in BM25_QUERY_SET:
                t1 = time.monotonic()
                merged_reader.search_topk(q, k=10, mode=mode)
                if rnd > 0:
                    post.append((time.monotonic() - t1) * 1000)
        extras["query_p50_ms_multiseg"] = round(float(np.percentile(pre, 50)), 1)
        extras["query_p50_ms_merged"] = round(float(np.percentile(post, 50)), 1)

        # --- positional index: build cost + phrase/NEAR query latency.
        # Positions are a per-index mapping option (like Lucene field
        # positions), so the headline index_build above stays comparable
        # across rounds; this measures the option's full cost explicitly.
        from kafka_connect_opensearch_spark.operators.positions import (
            PositionsReader,
        )

        pos_cfg = EngineConfig(
            num_segments=8,
            shuffle_partitions=max(cpus, 16),
            salt_partitions=16,
            index_positions=True,
        )
        t0 = time.monotonic()
        build_index_bulk(spark, corpus, f"{work}/index_pos", pos_cfg)
        timings["index_build_with_positions"] = round(time.monotonic() - t0, 3)
        extras["docs_per_sec_with_positions"] = round(
            n_docs / timings["index_build_with_positions"], 1
        )
        preader = PositionsReader(spark, f"{work}/index_pos")
        PHRASE_SET = [
            "return import",          # two stopword-heavy terms (worst case)
            "def class self",         # 3-term chain
            "ident_7 return",         # rare + hot
            "return return",          # repeated term
        ]
        NEAR_SET = [("return", "import", 3), ("ident_7", "class", 5)]
        pos_lat: list[float] = []
        t0 = time.monotonic()
        for rnd in range(3):
            for p in PHRASE_SET:
                t1 = time.monotonic()
                ids = preader.phrase_match_ids(p)
                if rnd > 0:
                    pos_lat.append((time.monotonic() - t1) * 1000)
                assert isinstance(ids, list)
            for a, b, slop in NEAR_SET:
                t1 = time.monotonic()
                preader.near_match_ids(a, b, slop)
                if rnd > 0:
                    pos_lat.append((time.monotonic() - t1) * 1000)
        timings["phrase_near_queries"] = round(time.monotonic() - t0, 3)
        extras["phrase_p50_ms"] = round(float(np.percentile(pos_lat, 50)), 1)
        extras["phrase_p95_ms"] = round(float(np.percentile(pos_lat, 95)), 1)

        # --- BM25 query latency (reference query set, 2 warm rounds):
        # native engine path (search_topk) is the p50/p95 headline; the
        # DataFrame wrapper (pipeline-integration path) timed separately
        reader = IndexReader(spark, idx_dir)
        lat_ms: list[float] = []
        t0 = time.monotonic()
        for rnd in range(3):
            for q, mode in BM25_QUERY_SET:
                t1 = time.monotonic()
                rows = reader.search_topk(q, k=10, mode=mode)
                if rnd > 0:  # drop cold round (FS cache, imports)
                    lat_ms.append((time.monotonic() - t1) * 1000)
                assert isinstance(rows, list)
        timings["bm25_queries"] = round(time.monotonic() - t0, 3)
        extras["query_p50_ms"] = round(float(np.percentile(lat_ms, 50)), 1)
        extras["query_p95_ms"] = round(float(np.percentile(lat_ms, 95)), 1)
        t1 = time.monotonic()
        reader.search(BM25_QUERY_SET[0][0], k=10).collect()
        extras["query_dataframe_ms"] = round((time.monotonic() - t1) * 1000, 1)

        # --- driver-contract slice over the sf-dir tables.
        # Two rounds per query, reporting the min (steady state): the first
        # run pays whole-stage-codegen compilation + JIT for that query's
        # generated classes, which on this intermittently-contended host
        # varies up to ~2.5x run-to-run. Cold times are kept in extras.
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        cold: dict[str, float] = {}
        for name in [
            "bm25_topk_or",
            "minhash_lsh_pairs",
            "simhash_fingerprints",
            "dedup_exact",
            "cosine_topk",
            "knn_join",
            "ann_lsh_topk",
            "malformed_routing",
            "payload_conversion",
            "language_id",
            "quality_score",
            "pricing_summary",
            "top_customers",
            "window_topn",
            "events_hourly",
            "latest_wins",
        ]:
            samples = []
            for _ in range(2):
                t1 = time.monotonic()
                qs[name](spark, sf_dir).collect()
                samples.append(time.monotonic() - t1)
            cold[name] = round(samples[0], 3)
            timings[name] = round(min(samples), 3)
        extras["cold_times"] = cold
    finally:
        shutil.rmtree(work, ignore_errors=True)
        idxroot = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".indexes")
        shutil.rmtree(idxroot, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
