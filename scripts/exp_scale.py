"""Controlled build-only scaling experiment (diagnosis tool).

Usage: python scripts/exp_scale.py CPUS NDOCS [SEGS] [SHUFFLE]
Prints one RESULT line. Warm-up pass spins up all Python workers first so
the measurement is steady-state throughput, not interpreter imports.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from kafka_connect_opensearch_spark.config import EngineConfig  # noqa: E402
from kafka_connect_opensearch_spark.operators.indexer import (  # noqa: E402
    build_index,
    build_index_bulk,
)
from kafka_connect_opensearch_spark.sources.corpus import generate_corpus  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    segs = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    shuffle = int(sys.argv[4]) if len(sys.argv) > 4 else cpus

    # EXP_EXECUTORS=N → local-cluster[N,4,8192]: N separate executor JVMs
    # with 4 cores each — the faithful stand-in for "N executors" (separate
    # heaps; cpus arg is then interpreted as N*4 total cores and must match)
    # EXP_CLUSTER="E,C" → local-cluster[E,C,8192]: E separate executor JVMs
    # with C cores each — the faithful stand-in for "E executors"
    # (EXP_EXECUTORS=N is shorthand for N,4)
    cluster = os.environ.get("EXP_CLUSTER")
    if not cluster and os.environ.get("EXP_EXECUTORS"):
        cluster = f"{os.environ['EXP_EXECUTORS']},4"
    executors = cluster
    builder = SparkSession.builder
    if cluster:
        n_exec, n_cores = (int(x) for x in cluster.split(","))
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.master(f"local-cluster[{n_exec},{n_cores},8192]")
            .config("spark.executor.memory", "7g")
            # the spark-submit --py-files analog: ship the package to
            # executor python workers
            .config("spark.executorEnv.PYTHONPATH", repo)
        )
    else:
        builder = builder.master(f"local[{cpus}]")
    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g" if executors else "48g")
        # G1's concurrent marking throttles this allocation-heavy pipeline
        # at high thread counts (measured 2.5× slower than ParallelGC at
        # local[32]); throughput GC is the right choice for batch builds
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    w = tempfile.mkdtemp(prefix="exp_scale_")
    generate_corpus(spark, n_docs, partitions=shuffle * 2).write.parquet(f"{w}/c")
    corpus = spark.read.parquet(f"{w}/c")

    # warm-up: exercise every python worker + JIT paths on a small slice
    cfg_warm = EngineConfig(num_segments=1, salt_partitions=4,
                            shuffle_partitions=shuffle)
    build_index(spark, corpus.limit(500), f"{w}/warm", cfg_warm)

    mode = os.environ.get("EXP_MODE", "bulk")
    cfg = EngineConfig(num_segments=segs, salt_partitions=16,
                       shuffle_partitions=shuffle)
    t0 = time.monotonic()
    if mode == "bulk":
        m = build_index_bulk(spark, corpus, f"{w}/idx", cfg)
    else:
        m = build_index(spark, corpus, f"{w}/idx", cfg)
    dt = time.monotonic() - t0
    sys.stdout.write(
        f"RESULT mode={mode} cpus={cpus} docs={n_docs} segs={segs} "
        f"shuffle={shuffle} build={dt:.1f}s rate={n_docs/dt:.0f}/s "
        f"postings={m.postings_written}\n"
    )
    sys.stdout.flush()
    import shutil

    shutil.rmtree(w, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
