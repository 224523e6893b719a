"""Plan-shape assertions: the 100-TB efficiency contract, pinned in CI.

Each test asserts the physical plan Catalyst actually produces — pushdown
reaching the scan, broadcasts chosen, top-k avoiding global sorts, column
pruning — so a regression that silently de-optimizes a path fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark import plans
from kafka_connect_opensearch_spark.functions.analysis import tokenize


@pytest.fixture(scope="module")
def tpch(spark, tmp_path_factory):
    """Parquet-backed mini warehouse (plans differ for in-memory relations)."""
    d = str(tmp_path_factory.mktemp("wh"))
    spark.createDataFrame(
        [(i, f"c{i}", i % 5) for i in range(100)],
        "c_custkey long, c_name string, c_nationkey int",
    ).write.parquet(f"{d}/customer")
    spark.createDataFrame(
        [(i, i % 100, float(i) * 1.5) for i in range(2000)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.parquet(f"{d}/orders")
    return d


def test_filter_and_pruning_reach_scan(spark, tpch):
    orders = spark.read.parquet(f"{tpch}/orders")
    q = orders.filter(F.col("o_custkey") == 7).select("o_orderkey")
    assert plans.has_pushed_filter(q, "o_custkey")
    cols = plans.reads_columns(q)
    assert "o_totalprice" not in cols  # column pruning
    assert plans.codegen_stage_count(q) >= 1


def test_small_dim_join_broadcasts(spark, tpch):
    orders = spark.read.parquet(f"{tpch}/orders")
    cust = spark.read.parquet(f"{tpch}/customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert plans.has_broadcast_join(j)
    # a broadcast join must not shuffle the fact side
    assert plans.count_exchanges(j) <= 1  # only the broadcast exchange


def test_topk_plans_take_ordered(spark, tpch):
    orders = spark.read.parquet(f"{tpch}/orders")
    q = orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10)
    assert plans.has_take_ordered(q)


def test_tokenize_is_codegen_not_python(spark, tpch):
    """The analyzer must compile to JVM expressions — no BatchEvalPython /
    ArrowEvalPython stage in the plan."""
    orders = spark.read.parquet(f"{tpch}/orders")
    q = orders.select(tokenize(F.col("o_orderkey").cast("string")).alias("t"))
    plan = plans.executed_plan(q)
    assert "EvalPython" not in plan
    assert plans.codegen_stage_count(q) >= 1


def test_ann_bucket_filter_prunes_partitions(spark, tmp_path):
    """The materialized ANN table must serve probes via partition pruning:
    bucket IN (...) shows up as PartitionFilters, not a post-scan filter."""
    import numpy as np

    from kafka_connect_opensearch_spark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    d = str(tmp_path / "ann")
    similarity.materialize_lsh_buckets(df, d, dim=16, n_planes=6)
    q = similarity.lsh_table_topk(
        spark, d, rows[0][1], k=5, n_planes=6, probe_radius=1
    )
    assert plans.has_partition_filter(q, "bucket")
    assert plans.has_take_ordered(q)


def test_postings_term_filter_reaches_scan(spark, tmp_path):
    """reader.postings(terms) must push `term IN (...)` into the parquet
    scan (term-sorted row groups make this the pruning path for queries)
    and prune to the postings metadata columns."""
    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index_bulk
    from kafka_connect_opensearch_spark.sources.corpus import generate_corpus

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2, shuffle_partitions=4)
    build_index_bulk(spark, generate_corpus(spark, 200), d, cfg)
    reader = IndexReader(spark, d)
    q = reader.postings(["table", "hash"]).select("term", "df")
    assert plans.has_pushed_filter(q, "term")
    cols = plans.reads_columns(q)
    assert "doc_ids" not in cols  # (term, df) projection must not read blobs


def test_dedup_pair_enumeration_never_cartesian(spark, tmp_path):
    """Exact pair enumeration (inverted-index Jaccard, banded SimHash)
    must plan as keyed joins — no CartesianProduct/BroadcastNestedLoopJoin,
    no Python eval in the plan."""
    from kafka_connect_opensearch_spark.operators import dedup

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i}") for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(d)
    docs = spark.read.parquet(d)
    for q in [
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4),
        dedup.simhash_near_dup_pairs(docs, "text", "doc_id"),
    ]:
        plan = plans.executed_plan(q)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan


def test_agg_has_partial_stage(spark, tpch):
    """groupBy must plan partial (map-side) aggregation before the shuffle."""
    orders = spark.read.parquet(f"{tpch}/orders")
    q = orders.groupBy("o_custkey").agg(F.sum("o_totalprice"))
    plan = plans.executed_plan(q)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plans.count_exchanges(q) == 1     # exactly one shuffle


def test_ivf_assign_is_partial_aggregate_not_window(spark):
    """Round-4 pin: nearest-centroid assignment must plan as a map-side
    partial aggregate (max_by) — corpus×k rows collapse before the shuffle
    — never as a row_number() window sorting corpus×k rows."""
    import numpy as np

    from kafka_connect_opensearch_spark.operators import similarity

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(df, k=4)
    q = similarity.ivf_assign(df, cents)
    plan = plans.executed_plan(q)
    assert "Window" not in plan
    aggs = plan.count("HashAggregate") + plan.count("SortAggregate") \
        + plan.count("ObjectHashAggregate")
    assert aggs >= 2  # partial + final
    # correctness: every vector assigned to its true argmax centroid
    got = {r["vec_id"]: r["centroid_id"] for r in q.collect()}
    cent = {r["centroid_id"]: np.array(r["centroid"])
            for r in cents.collect()}
    for vid, emb in rows:
        v = np.array(emb)
        sims = {
            cid: round(float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c))), 6)
            for cid, c in cent.items()
        }
        best = max(sims, key=lambda c: (sims[c], -c))
        assert got[vid] == best, (vid, got[vid], best)


def test_significant_terms_bg_read_is_term_scoped(spark, tmp_path, monkeypatch):
    """Round-4 pin: significant_terms' background df must come from a
    term-scoped postings read (the fg candidate vocabulary), never a
    ``postings(None)`` full-store aggregation. Term-list pushdown to the
    parquet scan is pinned separately by
    test_postings_term_filter_reaches_scan; under AQE the FileScan line is
    string-truncated by the INSET list, so here we spy on the reader."""
    from kafka_connect_opensearch_spark.config import DOC_KEY_SEP, EngineConfig
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import (
        build_index_bulk,
        doc_id_py,
    )
    from kafka_connect_opensearch_spark.sources.corpus import (
        generate_corpus,
        generate_corpus_pandas,
    )

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2, shuffle_partitions=4)
    build_index_bulk(spark, generate_corpus(spark, 200), d, cfg)
    pdf = generate_corpus_pandas(200)
    pdf["doc_id"] = [
        doc_id_py(DOC_KEY_SEP.join(t))
        for t in zip(pdf["repo"], pdf["path"], pdf["commit"], strict=True)
    ]
    src = spark.createDataFrame(pdf[["doc_id", "content"]])
    reader = IndexReader(spark, d)

    seen_terms: list = []
    orig_postings = IndexReader.postings

    def spy(self, terms, *a, **kw):
        seen_terms.append(terms)
        return orig_postings(self, terms, *a, **kw)

    monkeypatch.setattr(IndexReader, "postings", spy)
    q = reader.significant_terms(src, "ident_1", k=5, text_col="content")
    # the bg aggregation must pass an explicit (bounded) term list — a
    # postings(None) call here would be the full-index scan anti-pattern
    assert seen_terms and all(t is not None for t in seen_terms)
    assert all(0 < len(t) <= 10_000 for t in seen_terms)
    # fg side rejoins as a broadcast (bounded candidate list)
    assert plans.has_broadcast_join(q)
    # and the result is still correct vs a quick self-check
    out = q.toPandas()
    assert len(out) > 0 and (out["bg_df"] >= out["fg_df"]).all()


def test_round4_query_plans_are_scale_shaped(spark, tmp_path):
    """Round-4 surface plan pins: no cartesian products / nested-loop
    joins anywhere; search_filtered's semi join and function_score's
    field join stay keyed; dis_max's union aggregates with a partial
    stage."""
    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index_bulk
    from kafka_connect_opensearch_spark.sources.corpus import generate_corpus

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2, shuffle_partitions=4)
    build_index_bulk(spark, generate_corpus(spark, 200), d, cfg)
    reader = IndexReader(spark, d)
    docs = reader.docs().select("doc_id")

    qs = {
        "filtered": reader.search_filtered("return import", docs, k=5),
        "after": reader.search_after("return import", 1.0, 0, k=5),
        "dismax": reader.search_dis_max(
            ["return ident_1", "import ident_2"], k=5, tie_breaker=0.3
        ),
        "fscore": reader.function_score_field(
            "return import",
            reader.docs().select("doc_id", F.col("dl").alias("n_chars")),
            "n_chars", factor=0.001, k=5,
        ),
    }
    for name, q in qs.items():
        plan = plans.executed_plan(q)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    dm = plans.executed_plan(qs["dismax"])
    assert dm.count("HashAggregate") >= 2  # partial + final over the union
    assert plans.has_take_ordered(qs["after"])


def test_contract_embedding_near_dup_never_cartesian(spark):
    """Round-5 pin (VERDICT r4 weak #1): the embedding_near_dup CONTRACT
    entry must plan as the LSH bucket equi-join — no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in its executed plan. The
    brute-force crossJoin lives only in the pytest recall fixture."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    entry_mod = importlib.import_module("__spark_entry__")
    sf_dir = "/root/testdata/sf0.001"
    q = entry_mod.queries()["embedding_near_dup"](spark, sf_dir)
    plan = plans.executed_plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wide_filter_scores_cogrouped_not_full_match_set(spark, tmp_path):
    """Round-5 pin (VERDICT r4 #10): the wide-filter path must plan the
    per-segment cogroup (FlatMapCoGroupsInPandas) — filter ids partitioned
    to segments and restricting the scorer — and its rows must equal the
    selective-pushdown path exactly (scores untouched by the filter)."""
    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index
    from kafka_connect_opensearch_spark.sources.corpus import generate_corpus

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2,
                       shuffle_partitions=4)
    build_index(spark, generate_corpus(spark, 150), d, cfg)
    reader = IndexReader(spark, d)
    ids = reader.docs().select("doc_id").filter(F.col("doc_id") % 3 == 0)

    wide = reader.search_filtered("return import", ids, k=8,
                                  max_pushdown_ids=0)
    plan = plans.executed_plan(wide)
    assert "FlatMapCoGroupsInPandas" in plan
    push = reader.search_filtered("return import", ids, k=8)
    assert [tuple(r) for r in wide.collect()] == \
        [tuple(r) for r in push.collect()]

    boolw = reader.search_bool(must="return", should="import", k=8,
                               filter_ids=ids, max_pushdown_ids=0)
    assert "FlatMapCoGroupsInPandas" in plans.executed_plan(boolw)
    boolp = reader.search_bool(must="return", should="import", k=8,
                               filter_ids=ids)
    assert [tuple(r) for r in boolw.collect()] == \
        [tuple(r) for r in boolp.collect()]


def test_sequence_chunks_has_no_single_partition_window(spark):
    """The global token prefix-sum must never funnel the corpus through
    one task: the running window is PARTITIONED by the deterministic
    range bucket (hash exchange, sort-based + spillable), the global
    component is a broadcast k-row prefix join — no single-partition
    exchange anywhere in the plan."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    e = importlib.import_module("__spark_entry__")
    q = e.queries()["sequence_chunks"](spark, "/root/testdata/sf0.001")
    plan = plans.executed_plan(q)
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan and "partitionBy" not in plan.lower().replace(
        "hashpartitioning", "")  # window rides the bucket hash exchange
    assert "hashpartitioning(bucket" in plan
    assert plans.has_broadcast_join(q)   # prefix offsets ship broadcast


def test_corpus_funnel_single_shuffle_family(spark):
    """The funnel's quality stage must be a fused projection (no
    self-join): the plan's only wide operations are the dedup digest
    groupBy + its keep-id join back — and never a cartesian."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    e = importlib.import_module("__spark_entry__")
    q = e.queries()["corpus_funnel"](spark, "/root/testdata/sf0.001")
    plan = plans.executed_plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one aggregate family (partial+final over the digest), one join back
    assert plan.count("HashAggregate") <= 4
