"""Segment merge (D3) and streaming ingestion tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import DOC_KEY_SEP, EngineConfig
from kafka_connect_opensearch_spark.operators.bm25 import (
    IndexReader,
    brute_force_bm25,
)
from kafka_connect_opensearch_spark.operators.indexer import (
    build_index,
    doc_id_py,
)
from kafka_connect_opensearch_spark.operators.merge import merge_segments
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.sources.corpus import (
    generate_corpus,
    generate_corpus_pandas,
)

N = 150
CFG = EngineConfig(num_segments=4, salt_partitions=2, shuffle_partitions=4)


def _oracle_pdf(n=N):
    pdf = generate_corpus_pandas(n)
    pdf["doc_key"] = [
        DOC_KEY_SEP.join(t)
        for t in zip(pdf["repo"], pdf["path"], pdf["commit"], strict=True)
    ]
    pdf["doc_id"] = pdf["doc_key"].map(doc_id_py)
    return pdf


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merged"))
    build_index(spark, generate_corpus(spark, N), d, CFG)
    store = SegmentStore(d)
    assert len(store.active_segments()) == 4
    m = merge_segments(spark, d, CFG)
    assert m.segments_merged == 4 and m.segments_built == 1
    assert len(store.active_segments()) == 1
    return d


def test_merge_preserves_search_results(spark, merged_index):
    """Rank-identical BM25 before/after merge (scores bit-identical to the
    brute-force oracle either way)."""
    reader = IndexReader(spark, merged_index)
    assert reader.doc_count() == N
    pdf = _oracle_pdf()
    for q, mode in [("ident_1 return", "or"), ("return import", "and"),
                    ("ident_2", "or")]:
        got = reader.search(q, k=10, mode=mode).toPandas()
        want = brute_force_bm25(pdf, q, k=10, mode=mode, text_col="content")
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        np.testing.assert_array_equal(
            got["score"].to_numpy(), want["score"].to_numpy()
        )


def test_tiered_auto_merge_converges(spark, tmp_path):
    """Many micro-batches converge to a bounded segment count under the
    size-tiered policy, with rank-identical queries before/after."""
    from kafka_connect_opensearch_spark.operators.merge import (
        auto_merge,
        tiered_merge_candidates,
    )

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=12, salt_partitions=2,
                       shuffle_partitions=4, merge_factor=4)
    build_index(spark, generate_corpus(spark, N), d, cfg)
    store = SegmentStore(d)
    assert len(store.active_segments()) == 12
    reader = IndexReader(spark, d)
    before = reader.search("ident_1 return", k=10).toPandas()

    m = auto_merge(spark, d, cfg)
    after_segs = store.active_segments()
    assert len(after_segs) <= 4
    assert m.segments_merged >= 8
    # fixed point: no tier trips anymore
    assert tiered_merge_candidates(after_segs, cfg.merge_factor) == []

    reader2 = IndexReader(spark, d)
    after = reader2.search("ident_1 return", k=10).toPandas()
    assert after["doc_id"].tolist() == before["doc_id"].tolist()
    np.testing.assert_array_equal(
        after["score"].to_numpy(), before["score"].to_numpy()
    )


def test_merge_latest_wins_across_generations(spark, tmp_path):
    """Re-ingesting changed content for the same doc identity: the newer
    generation shadows the older one after merge (W4 at index level)."""
    d = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha beta gamma"),
         ("r", "b.py", "c1", "py", "delta epsilon")],
        "repo string, path string, commit string, lang string, content string",
    )
    cfg = EngineConfig(num_segments=1, salt_partitions=2)
    build_index(spark, v1, d, cfg)
    # re-ingest doc a.py/c1 with different content into a new segment:
    # same (repo,path,commit) identity → same doc_id
    store = SegmentStore(d)
    v2 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha omega omega")],
        "repo string, path string, commit string, lang string, content string",
    )
    from kafka_connect_opensearch_spark.operators.indexer import (
        _build_one_segment,
        prepare_documents,
    )

    seg2 = _build_one_segment(
        spark, prepare_documents(v2), store, "seg_g1_reingest", cfg
    )
    seg2.generation = 1
    store.write_segmeta(seg2)
    store.commit_batch(
        "reingest", {"batch": "reingest", "segments": [seg2.__dict__],
                     "replaces": []}
    )
    merge_segments(spark, d, cfg)
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 2
    assert reader.match_count("omega") == 1     # new content searchable
    assert reader.match_count("beta") == 0      # old content shadowed
    assert reader.match_count("delta") == 1     # untouched doc intact


def test_merge_applies_deletes(spark, tmp_path):
    d = str(tmp_path / "idx")
    src = generate_corpus(spark, 40)
    cfg = EngineConfig(num_segments=2, salt_partitions=2)
    build_index(spark, src, d, cfg)
    pdf = _oracle_pdf(40)
    victim_keys = pdf["doc_key"].iloc[:5].tolist()
    deletes = spark.createDataFrame([(k,) for k in victim_keys],
                                    "doc_key string")
    merge_segments(spark, d, cfg, delete_doc_keys=deletes)
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 35
    remaining = {r["doc_id"] for r in reader.docs().select("doc_id").collect()}
    assert remaining == set(pdf["doc_id"].iloc[5:])


def test_streaming_backpressure_pause_resume(spark, tmp_path):
    """PartitionPauserTest parity: when undrained segments cross the high
    watermark, ingest pauses, drains via tiered merge to the low mark, and
    resumes — segment count stays bounded, results stay rank-identical."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        SegmentBackpressure,
        start_streaming_index_build,
    )

    src_dir = str(tmp_path / "src")
    pdf = _oracle_pdf(60)
    corpus = generate_corpus(spark, 60)
    for k in range(10):  # ten "arriving" files → ten micro-batches
        corpus.filter(F.pmod(F.xxhash64("path"), F.lit(10)) == k).coalesce(
            1
        ).write.parquet(src_dir, mode="append")
    idx_dir = str(tmp_path / "bidx")
    cfg = EngineConfig(num_segments=1, salt_partitions=2, shuffle_partitions=4,
                       merge_factor=3)
    gate = SegmentBackpressure(
        SegmentStore(idx_dir), cfg, high_mark=5, low_mark=2
    )
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        cfg, max_files_per_trigger=1, backpressure=gate,
    )
    q.awaitTermination(240)
    assert gate.pauses >= 1 and gate.resumes == gate.pauses
    # every pause drained to ≤ low_mark before resuming
    assert all(n <= 2 for ev, n in gate.events if ev == "resume")
    store = SegmentStore(idx_dir)
    assert len(store.active_segments()) <= 5 + 1
    reader = IndexReader(spark, idx_dir)
    assert reader.doc_count() == 60
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(), want["score"].to_numpy()
    )


def test_streaming_ingest(spark, tmp_path):
    """File-stream ingestion: micro-batches become segments; the stream's
    index answers identically to a batch-built one."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    src_dir = str(tmp_path / "stream_src")
    pdf = _oracle_pdf(60)
    corpus = generate_corpus(spark, 60)
    # two "arriving" files
    corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 0).write.parquet(
        src_dir, mode="append"
    )
    corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 1).write.parquet(
        src_dir, mode="append"
    )
    idx_dir = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2),
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    reader = IndexReader(spark, idx_dir)
    assert reader.doc_count() == 60
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())


def test_streaming_ingest_with_positions(spark, tmp_path):
    """Streaming segments carry positions when the mapping asks: phrase
    queries over the stream-built index match a direct token-adjacency
    reference over the same docs."""
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    src_dir = str(tmp_path / "stream_src")
    pdf = _oracle_pdf(40)
    generate_corpus(spark, 40).write.parquet(src_dir, mode="append")
    idx_dir = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2, index_positions=True),
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    pr = PositionsReader(spark, idx_dir)
    got = pr.phrase_match_ids("return import")
    want = sorted(
        int(r.doc_id)
        for _, r in pdf.iterrows()
        if " return import " in f" {' '.join(tokenize_py(r.content))} "
    )
    assert got == want and len(want) > 0


def test_streaming_dedup_first_wins_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: the emitted stream holds one
    record per content digest (within the watermark horizon), equal as a
    digest SET to the batch exact dedup; duplicates with distinct ids are
    collapsed."""
    import datetime as dt

    from kafka_connect_opensearch_spark.streaming.dedup import (
        dedup_stream,
        run_dedup_stream,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        text = f"document body {i % 20}"          # 3 copies of 20 texts
        rows.append((i, text, base + dt.timedelta(seconds=i)))
    schema = "doc_id long, text string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)

    q = run_dedup_stream(
        spark, src, schema, str(tmp_path / "ckpt"), str(tmp_path / "out"),
        watermark_delay="1 hour",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    batch = dedup_stream(df, "text", "ts")
    got_digests = sorted(r["digest"] for r in got.collect())
    want_digests = sorted(r["digest"] for r in batch.collect())
    assert len(got_digests) == 20          # one survivor per distinct text
    assert got_digests == want_digests     # stream ≡ batch as digest sets


def test_reconcile_updates_makes_latest_wins_immediate(spark, tmp_path):
    """A doc re-ingested into a newer-generation segment coexists with its
    old copy until reconciliation (doc_count over-reports, search returns
    both rows, stale phrases match) — reconcile_updates must restore
    latest-wins without being told which docs changed."""
    from kafka_connect_opensearch_spark.operators.indexer import (
        _build_one_segment,
        build_index,
        prepare_documents,
    )
    from kafka_connect_opensearch_spark.operators.merge import (
        reconcile_updates,
    )
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    d = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon alpha beta")],
        "doc_id long, text string",
    )
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2, index_positions=True)
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")
    store = SegmentStore(d)
    v2 = spark.createDataFrame([(1, "alpha omega omega")],
                               "doc_id long, text string")
    seg2 = _build_one_segment(
        spark, prepare_documents(v2, content_col="text", doc_id_col="doc_id"),
        store, "seg_g1_reingest", cfg, content_col="text",
    )
    seg2.generation = 1
    store.write_segmeta(seg2)
    store.commit_batch(
        "reingest",
        {"batch": "reingest", "segments": [seg2.__dict__], "replaces": []},
    )
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 3          # the documented stale window

    m = reconcile_updates(spark, d, cfg)
    assert m is not None and m.segments_merged == 2
    reader.refresh()
    assert reader.doc_count() == 2
    hits = reader.search("alpha", k=10).collect()
    assert sorted(r["doc_id"] for r in hits) == [1, 2]   # no duplicates
    pr = PositionsReader(spark, d)
    assert sorted(pr.phrase_match_ids("alpha beta")) == [2]   # stale gone
    assert sorted(pr.phrase_match_ids("alpha omega")) == [1]  # new visible
    # idempotent: nothing left to reconcile
    assert reconcile_updates(spark, d, cfg) is None


def test_streaming_update_latest_wins_without_manual_merge(spark, tmp_path):
    """A later micro-batch that re-ingests an earlier doc must win as soon
    as the stream drains — the per-batch reconcile applies Lucene's
    update-marks-deleted contract without any manual merge."""
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    schema = "repo string, path string, commit string, content string"
    src_dir = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [("r", "a.py", "c1", "alpha beta"), ("r", "b.py", "c1", "gamma")],
        schema,
    )
    b1.coalesce(1).write.parquet(src_dir, mode="append")
    b2 = spark.createDataFrame(
        [("r", "a.py", "c1", "omega delta")],  # update of (r, a.py, c1)
        schema,
    )
    b2.coalesce(1).write.parquet(src_dir, mode="append")

    idx = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, schema, idx, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2),
        id_cols=("repo", "path", "commit"), content_col="content",
        max_files_per_trigger=1,   # one file per micro-batch → an update
    )
    q.awaitTermination(120)
    reader = IndexReader(spark, idx)
    assert reader.doc_count() == 2
    assert reader.match_count("omega", "or") == 1
    # the superseded content must be gone
    assert reader.match_count("alpha", "or") + \
        reader.match_count("beta", "or") == 0


def _adjacent(texts: dict[int, str], phrase: str) -> list[int]:
    """Token-adjacency reference for phrase matches."""
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    return sorted(
        i for i, t in texts.items()
        if f" {phrase} " in f" {' '.join(tokenize_py(t))} "
    )


def test_merged_positions_keep_skip_data(spark, tmp_path):
    """Merged positions rows keep the phrase skip columns, so a merged
    segment unions with never-merged ones and merges again: 4 segments,
    merge 2, then merge the 3 live ones; distributed phrase results
    equal the token-adjacency reference throughout."""
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    n = 300
    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=4, salt_partitions=1,
                       shuffle_partitions=4, index_positions=True)
    build_index(spark, generate_corpus(spark, n), d, cfg)
    pdf = _oracle_pdf(n)
    texts = dict(zip(pdf["doc_id"], pdf["content"], strict=True))
    store = SegmentStore(d)
    names = [m.name for m in store.active_segments()]
    assert len(names) == 4
    merge_segments(spark, d, cfg, segment_names=names[:2])
    assert len(store.active_segments()) == 3
    # a merged + never-merged union reads (NUM_COLUMNS_MISMATCH before)
    assert store.read_positions(spark).count() > 0
    pr = PositionsReader(spark, d)
    phrases = ["return import", "import ident_1"]
    for ph in phrases:
        want = _adjacent(texts, ph)
        assert pr.phrase_match_ids(ph) == want
        got = pr.phrase_docs(ph, local_threshold=0)
        assert sorted(r["doc_id"] for r in got.collect()) == want
    merge_segments(spark, d, cfg)
    (merged,) = store.active_segments()
    rows = store.read_positions(spark).filter(F.col("n_docs") > 128)
    assert rows.count() > 0
    assert rows.filter(F.length("blk_max_doc") == 0).count() == 0
    pr.refresh()
    for ph in phrases:
        want = _adjacent(texts, ph)
        assert pr.phrase_match_ids(ph) == want and len(want) > 0
        got = pr.phrase_docs(ph, local_threshold=0)
        assert sorted(r["doc_id"] for r in got.collect()) == want
    top = pr.phrase_topk("return import", k=5, local_threshold=0).collect()
    assert len(top) == 5


def _commit_reingest(spark, store, rows, cfg, name):
    """Commit ``rows`` (doc_id, text) as one new generation-0 segment."""
    from kafka_connect_opensearch_spark.operators.indexer import (
        _build_one_segment,
        prepare_documents,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    seg = _build_one_segment(
        spark, prepare_documents(df, content_col="text", doc_id_col="doc_id"),
        store, name, cfg, content_col="text",
    )
    store.commit_batch(
        name, {"batch": name, "segments": [seg.__dict__], "replaces": []}
    )
    return name


def test_newest_commit_wins_over_higher_generation(spark, tmp_path):
    """A doc whose copy was merged into a generation-1 segment and then
    re-ingested into a generation-0 segment: the newer commit wins."""
    from kafka_connect_opensearch_spark.operators.merge import (
        reconcile_updates,
    )
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2,
                       shuffle_partitions=2, index_positions=True)
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta eta"),
         (4, "theta iota")],
        "doc_id long, text string",
    )
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")
    merge_segments(spark, d, cfg)
    store = SegmentStore(d)
    (merged,) = store.active_segments()
    assert merged.generation == 1
    new = _commit_reingest(spark, store, [(1, "alpha omega omega")], cfg,
                           "seg_g0_reingest")
    seg_of = {m.name: m for m in store.active_segments()}
    assert seg_of[new].generation == 0 and seg_of[new].seq > merged.seq

    m = reconcile_updates(spark, d, cfg, new_segment_names=[new])
    assert m is not None and m.segments_merged == 2
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 4
    assert reader.match_count("omega") == 1
    assert reader.match_count("beta") == 0
    assert [i for i, _ in reader.search_topk("gamma")] == []
    pr = PositionsReader(spark, d)
    assert pr.phrase_match_ids("alpha omega") == [1]
    assert pr.phrase_match_ids("alpha beta") == []


def test_streaming_newest_commit_wins_after_merge(spark, tmp_path):
    """Streaming variant: the first version is merged (generation 1)
    before the stream delivers the update in a generation-0 segment."""
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    schema = "repo string, path string, commit string, content string"
    src_dir, idx = str(tmp_path / "src"), str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2)

    def stream():
        q = start_streaming_index_build(
            spark, src_dir, schema, idx, ckpt, cfg,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    spark.createDataFrame(
        [("r", "a.py", "c1", "alpha beta"), ("r", "b.py", "c1", "gamma")],
        schema,
    ).coalesce(1).write.parquet(src_dir, mode="append")
    spark.createDataFrame([("r", "c.py", "c1", "delta")], schema) \
        .coalesce(1).write.parquet(src_dir, mode="append")
    stream()
    merge_segments(spark, idx, cfg)
    (merged,) = SegmentStore(idx).active_segments()
    assert merged.generation == 1
    spark.createDataFrame([("r", "a.py", "c1", "omega kappa")], schema) \
        .coalesce(1).write.parquet(src_dir, mode="append")
    stream()
    reader = IndexReader(spark, idx)
    assert reader.doc_count() == 3
    assert reader.match_count("omega", "or") == 1
    assert reader.match_count("alpha", "or") + \
        reader.match_count("beta", "or") == 0


def test_streaming_reads_each_batch_once(spark, tmp_path):
    """The micro-batch is cached for the build: a stream over one
    400-row file reports 400 input rows, not one read per write."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    src_dir = str(tmp_path / "src")
    generate_corpus(spark, 400).coalesce(1).write.parquet(src_dir)
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, str(tmp_path / "idx"),
        str(tmp_path / "ckpt"), CFG, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 400
    assert IndexReader(spark, str(tmp_path / "idx")).doc_count() == 400


def test_reconcile_probe_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """reconcile_updates finds overlaps driver-side: with no overlap it
    returns without a Spark job; with one, it hands merge_segments the
    older copy as its loser, again without a job of its own."""
    from kafka_connect_opensearch_spark.operators import merge

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2,
                       shuffle_partitions=2)
    v1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")
    store = SegmentStore(d)
    old_seg = next(
        m.name for m in store.active_segments()
        if 1 in {r["doc_id"] for r in store.read_docs(spark, [m]).collect()}
    )
    fresh = _commit_reingest(spark, store, [(9, "omega")], cfg, "fresh")
    upd = _commit_reingest(spark, store, [(1, "alpha omega")], cfg, "upd")

    sc = spark.sparkContext
    calls = []
    monkeypatch.setattr(merge, "merge_segments",
                        lambda *a, **kw: calls.append(kw))
    sc.setJobGroup("reconcile_probe", "driver-side overlap probe")
    try:
        assert merge.reconcile_updates(spark, d, cfg, [fresh]) is None
        merge.reconcile_updates(spark, d, cfg, [upd])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("reconcile_probe") == []
    (kw,) = calls
    assert kw["segment_names"] == sorted([old_seg, upd])
    losers = kw["losers"]
    assert losers[["seg", "doc_id"]].values.tolist() == [[old_seg, 1]]
    assert losers["dl"].tolist() == [2]


def test_duplicate_probe_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """The probe a merge runs when no caller hands it losers (auto_merge,
    backpressure, plain merges, reconcile over all segments) reads doc
    ids driver-side: disjoint inputs and an overlap are both found
    without a Spark job."""
    from kafka_connect_opensearch_spark.operators import merge

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2,
                       shuffle_partitions=2)
    v1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")
    store = SegmentStore(d)
    base = store.active_segments()
    old_seg = next(
        m.name for m in base
        if 1 in {r["doc_id"] for r in store.read_docs(spark, [m]).collect()}
    )
    upd = _commit_reingest(spark, store, [(1, "alpha omega")], cfg, "upd")

    sc = spark.sparkContext
    calls = []
    monkeypatch.setattr(merge, "merge_segments",
                        lambda *a, **kw: calls.append(kw))
    sc.setJobGroup("duplicate_probe", "driver-side duplicate probe")
    try:
        assert merge._duplicate_ids(store, base).tolist() == []
        assert merge._duplicate_ids(
            store, store.active_segments()).tolist() == [1]
        merge.reconcile_updates(spark, d, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("duplicate_probe") == []
    (kw,) = calls
    assert kw["segment_names"] == sorted([old_seg, upd])
    assert kw["losers"][["seg", "doc_id"]].values.tolist() == [[old_seg, 1]]


@pytest.mark.parametrize("seed", [5, 23])
def test_randomized_latest_wins_parity(spark, tmp_path, seed):
    """Seeded sequences of ingest, re-ingest, tombstone delete, merge,
    auto_merge and reconcile with positions on. Whenever no re-ingest is
    waiting for a reconcile, top-k (ids, bit-equal scores), doc_count and
    phrase matches equal the references over the live model."""
    from kafka_connect_opensearch_spark.operators.merge import (
        auto_merge,
        reconcile_updates,
    )
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    rng = np.random.default_rng(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "kappa"]

    def text():
        return " ".join(rng.choice(vocab, size=int(rng.integers(2, 8))))

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=2, salt_partitions=2,
                       shuffle_partitions=2, merge_factor=2,
                       index_positions=True)
    live = {i: text() for i in range(1, 11)}
    build_index(
        spark, spark.createDataFrame(list(live.items()),
                                     "doc_id long, text string"),
        d, cfg, content_col="text", doc_id_col="doc_id",
    )
    store = SegmentStore(d)
    reader, pr = IndexReader(spark, d), PositionsReader(spark, d)

    def check(step):
        reader.refresh()
        pr.refresh()
        assert reader.doc_count() == len(live), step
        pdf = pd.DataFrame({"doc_id": list(live), "text": list(live.values())})
        for q in ("alpha", "beta gamma", "omega kappa delta"):
            got = reader.search_topk(q, k=5)
            want = brute_force_bm25(pdf, q, k=5, text_col="text")
            assert [i for i, _ in got] == want["doc_id"].tolist(), (step, q)
            np.testing.assert_array_equal(
                np.array([s for _, s in got]), want["score"].to_numpy()
            )
        for ph in ("alpha beta", "gamma gamma", "kappa omega"):
            assert pr.phrase_match_ids(ph) == _adjacent(live, ph), (step, ph)

    ops = list(rng.permutation(["ingest", "reingest", "reingest_raw",
                                "delete", "merge", "auto_merge",
                                "reconcile"]))
    pending = False   # a re-ingest committed without its reconcile
    next_id = 100
    for step, op in enumerate(ops):
        name = f"s{step}_{op}"
        if op == "ingest":
            rows = [(next_id + j, text()) for j in range(2)]
            next_id += 2
            _commit_reingest(spark, store, rows, cfg, name)
            reconcile_updates(spark, d, cfg, new_segment_names=[name])
            live.update(rows)
        elif op in ("reingest", "reingest_raw"):
            ids = rng.choice(sorted(live), size=2, replace=False)
            rows = [(int(i), text()) for i in ids]
            _commit_reingest(spark, store, rows, cfg, name)
            if op == "reingest":
                reconcile_updates(spark, d, cfg, new_segment_names=[name])
            else:
                pending = True
            live.update(rows)
        elif op == "delete":
            victim = int(rng.choice(sorted(live)))
            tomb = spark.createDataFrame([(str(victim),)], "doc_key string")
            merge_segments(spark, d, cfg, delete_doc_keys=tomb)
            del live[victim]
            pending = False   # merged every live segment
        elif op == "merge":
            names = [m.name for m in store.active_segments()]
            if len(names) >= 2:
                pick = rng.choice(names, size=2, replace=False)
                merge_segments(spark, d, cfg,
                               segment_names=sorted(str(n) for n in pick))
        elif op == "auto_merge":
            auto_merge(spark, d, cfg)
        else:
            reconcile_updates(spark, d, cfg)
            pending = False
        if not pending:
            check(f"{step}:{op}")
    reconcile_updates(spark, d, cfg)
    check("final")
