"""Ad-hoc optimization experiments (guide §1.4: noop-sink isolation).

NOT part of the driver contract — bench.py is the frozen measurement
harness. This file exists so optimization-round A/Bs can be re-run:

    python bench_extra.py queries  [sf_dir] [names...]  # per-query collect() timing
    python bench_extra.py plans    [sf_dir] [names...]  # capture explain("formatted")
    python bench_extra.py build    [n_docs]             # stage-isolated bulk build
    python bench_extra.py kernel   [reps]               # BM25 segment kernel, no Spark
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402


def _session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kcos-bench-extra")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )


def time_queries(sf_dir: str, names: list[str], rounds: int = 2) -> None:
    import __spark_entry__ as entrymod

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = names or list(qs)
    for name in names:
        samples = []
        for _ in range(rounds):
            t0 = time.monotonic()
            qs[name](spark, sf_dir).collect()
            samples.append(round(time.monotonic() - t0, 3))
        print(f"{name}: min={min(samples)} samples={samples}", flush=True)
    spark.stop()


def capture_plans(sf_dir: str, names: list[str], suffix: str) -> None:
    import __spark_entry__ as entrymod

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in names or list(qs):
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}_{suffix}", flush=True)
    spark.stop()


def build_stages(n_docs: int) -> None:
    """Time the bulk-build pipeline's individual actions (docs write,
    postings write, stats) so changes can be attributed to a stage."""
    import shutil
    import tempfile

    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.indexer import (
        build_index,
        build_index_bulk,
    )
    from kafka_connect_opensearch_spark.sources.corpus import generate_corpus

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="kcos_bx_")
    try:
        corpus_path = f"{work}/corpus.parquet"
        generate_corpus(spark, n_docs, partitions=cpus * 2).write.parquet(
            corpus_path
        )
        corpus = spark.read.parquet(corpus_path)
        cfg = EngineConfig(
            num_segments=8, shuffle_partitions=max(cpus, 16), salt_partitions=16
        )
        # warm the worker pool the way bench.py does
        warm = EngineConfig(num_segments=1, salt_partitions=4,
                            shuffle_partitions=max(cpus, 16))
        build_index(spark, corpus.limit(500), f"{work}/warm", warm)
        for rnd in range(2):
            t0 = time.monotonic()
            build_index_bulk(spark, corpus, f"{work}/bulk{rnd}", cfg)
            print(f"bulk[{rnd}]: {time.monotonic() - t0:.2f}s", flush=True)
        for rnd in range(2):
            t0 = time.monotonic()
            build_index(spark, corpus, f"{work}/inc{rnd}", cfg)
            print(f"incremental[{rnd}]: {time.monotonic() - t0:.2f}s", flush=True)
        from kafka_connect_opensearch_spark.operators.merge import auto_merge

        t0 = time.monotonic()
        auto_merge(spark, f"{work}/inc0", cfg)
        print(f"auto_merge: {time.monotonic() - t0:.2f}s", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def _kernel_segment(n_docs: int = 20_000, seed: int = 7):
    """One synthetic segment as packed postings rows (the on-disk
    layout): a stopword list on 90% of the docs, two mid lists (20%,
    15%) and a rare list (50 docs), each list's ids, tfs, dls and block
    maxima encoded with ``varint_encode_grouped``."""
    import numpy as np
    import pandas as pd

    from kafka_connect_opensearch_spark.config import POSTINGS_BLOCK_SIZE
    from kafka_connect_opensearch_spark.operators.postings import (
        varint_encode_grouped,
    )

    rng = np.random.default_rng(seed)
    dl = rng.integers(20, 400, n_docs)
    sizes = {"stop": int(0.9 * n_docs), "mid_a": int(0.2 * n_docs),
             "mid_b": int(0.15 * n_docs), "rare": 50}
    deltas, tfs, dls, blk, starts, bstarts = [], [], [], [], [0], [0]
    for size in sizes.values():
        d = np.sort(rng.choice(n_docs, size, replace=False))
        t = rng.geometric(0.5, size)
        deltas.append(np.diff(d, prepend=0))
        tfs.append(t)
        dls.append(dl[d])
        blk.append(np.maximum.reduceat(
            t, np.arange(0, size, POSTINGS_BLOCK_SIZE)))
        starts.append(starts[-1] + size)
        bstarts.append(bstarts[-1] + blk[-1].size)
    starts, bstarts = np.array(starts[:-1]), np.array(bstarts[:-1])
    pdf = pd.DataFrame({
        "term": list(sizes),
        "seg": "s0",
        "df": list(sizes.values()),
        "doc_ids": varint_encode_grouped(np.concatenate(deltas), starts),
        "tfs": varint_encode_grouped(np.concatenate(tfs), starts),
        "dls": varint_encode_grouped(np.concatenate(dls), starts),
        "block_max": varint_encode_grouped(np.concatenate(blk), bstarts),
    })
    return pdf, sizes, float(dl.mean()), n_docs


def kernel_bench(reps: int = 30) -> None:
    """Postings/s of the per-segment BM25 kernel for each query shape,
    on one synthetic 20k-doc segment (median of ``reps`` calls)."""
    import numpy as np

    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.bm25 import (
        QuerySpec,
        bm25_idf,
        score_segment,
    )

    pdf, sizes, avgdl, n_docs = _kernel_segment()
    idf = {t: bm25_idf(n_docs, df) for t, df in sizes.items()}
    allowed = np.sort(np.random.default_rng(1).choice(
        n_docs, n_docs // 100, replace=False)).astype(np.int64)

    def spec(terms, **kw):
        return QuerySpec({t: idf[t] for t in terms}, avgdl, EngineConfig.k1,
                         EngineConfig.b, 128, **kw)

    every = list(sizes)
    shapes = {  # name → (spec, restrict); every list is fed to the kernel
        "or": (spec(every), None),
        "and": (spec(every, must=tuple(every)), None),
        "bool": (spec(["mid_a", "stop", "rare"], must=("mid_a",),
                      must_not=("mid_b",)), None),
        "msm2": (spec(every, min_should_match=2), None),
        "count": (spec(every, output="count"), None),
        "filter": (spec(every), allowed),
    }
    n_post = sum(sizes.values())
    for name, (sp, restrict) in shapes.items():
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            score_segment(sp, pdf, restrict)
            samples.append(time.perf_counter() - t0)
        med = float(np.median(samples))
        print(f"{name:7s} {med * 1e3:8.2f} ms  "
              f"{n_post / med / 1e6:7.2f} M postings/s", flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
        time_queries(sf, sys.argv[3:])
    elif mode == "plans":
        sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
        suffix = os.environ.get("PLAN_SUFFIX", "before")
        capture_plans(sf, sys.argv[3:], suffix)
    elif mode == "build":
        build_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 20000)
    elif mode == "kernel":
        kernel_bench(int(sys.argv[2]) if len(sys.argv) > 2 else 30)
