"""The segment writer: one Spark writer task per segment packs and writes
the segment's docs, postings and positions in one pass.

Each built segment's files must equal the Spark-free kernels run over
that segment's docs; a build of S segments runs S writer tasks; the
doc→segment assignment and crash/resume identity hold."""

from __future__ import annotations

import contextlib
import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
from kafka_connect_opensearch_spark.operators.indexer import (
    PARTIAL_COLS,
    WRITER_BYTES_PER_INPUT_BYTE,
    _merge_partials,
    _pack_doc_group_arrow,
    _segment_writer,
    build_index,
    build_index_bulk,
)
from kafka_connect_opensearch_spark.operators.positions import (
    PositionsReader,
    _pack_group_arrow,
)
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.sources.corpus import generate_corpus
from tests.test_merge_streaming import _oracle_pdf

N = 150
CFG = EngineConfig(num_segments=4, salt_partitions=3, shuffle_partitions=4)
PCFG = dataclasses.replace(CFG, index_positions=True)


def _table(store, m, kind) -> pa.Table:
    return pads.dataset(
        store.segment_files(m, kind), format="parquet", partitioning="hive"
    ).to_table()


def _segment_docs(store, m):
    """(doc_ids, tokens) of segment ``m``'s docs, tokenized in Python."""
    ids = _table(store, m, "docs")["doc_id"].to_numpy()
    text = _oracle_pdf(N).set_index("doc_id").loc[ids, "content"]
    return ids, [tokenize_py(t) for t in text]


def _want_postings(ids, toks, block_size) -> pa.Table:
    tokens = pa.array(toks, type=pa.list_(pa.string()))
    dls = pa.array([len(t) for t in toks], type=pa.int32())
    part = pa.table(
        _pack_doc_group_arrow(pa.array(ids), dls, tokens), names=PARTIAL_COLS
    ).sort_by("term")
    out = _merge_partials(
        part["term"].to_numpy(), part["doc_ids"].to_pylist(),
        part["tfs"].to_pylist(), part["dls"].to_pylist(), block_size,
    )
    return pa.table({k: pa.array(v) for k, v in out.items()})


def _want_positions(ids, toks, salt) -> pa.Table:
    tables = []
    for p in sorted(set(np.mod(ids, salt).tolist())):
        sel = np.mod(ids, salt) == p
        got = _pack_group_arrow(
            pa.array(ids[sel]),
            pa.array([t for t, s in zip(toks, sel, strict=True) if s],
                     type=pa.list_(pa.string())),
        )
        if got is not None:
            tables.append(pa.table(
                [got[0], pa.array([p] * len(got[0]), type=pa.int64()),
                 *got[1:]],
                names=["term", "part", "n_docs", "doc_ids", "pos_counts",
                       "positions", "blk_max_doc", "blk_lens"],
            ))
    return pa.concat_tables(tables).sort_by([("term", "ascending"),
                                             ("part", "ascending")])


def _assert_kernel_equal(index_dir, cfg, positions: bool) -> None:
    store = SegmentStore(index_dir)
    segs = store.active_segments()
    assert segs and sum(m.doc_count for m in segs) == N
    for m in segs:
        ids, toks = _segment_docs(store, m)
        got = _table(store, m, "postings")
        want = _want_postings(ids, toks, cfg.block_size)
        # the file is term-sorted as written: compared row for row
        assert got.column_names == want.column_names
        for c in want.column_names:
            assert got[c].to_pylist() == want[c].to_pylist(), (m.name, c)
        assert m.n_terms == want.num_rows
        assert m.n_postings == pc.sum(want["df"]).as_py()
        assert m.sum_dl == sum(len(t) for t in toks)
        if positions:
            got = _table(store, m, "positions")
            got = got.drop_columns(["rb"]).sort_by(
                [("term", "ascending"), ("part", "ascending")])
            want = _want_positions(ids, toks, cfg.salt_partitions)
            assert got.column_names == want.column_names
            for c in want.column_names:
                assert got[c].to_pylist() == want[c].to_pylist(), (m.name, c)


@pytest.fixture(scope="module")
def bulk_pos_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("writer_pos"))
    build_index_bulk(spark, generate_corpus(spark, N), d, PCFG)
    return d


def test_bulk_segments_equal_kernels(spark, tmp_path):
    d = str(tmp_path / "bulk")
    build_index_bulk(spark, generate_corpus(spark, N), d, CFG)
    _assert_kernel_equal(d, CFG, positions=False)
    assert not os.path.exists(os.path.join(d, "bulk_g0", "positions.parquet"))


def test_wave_segments_equal_kernels(spark, tmp_path):
    d = str(tmp_path / "waves")
    cfg = dataclasses.replace(PCFG, ingest_wave_size=3)
    m = build_index(spark, generate_corpus(spark, N), d, cfg)
    assert m.segments_built == 4
    # two waves (3 + 1 batches) read the staged source, then drop it
    assert sorted(os.listdir(d)) == ["bulk_g0w0000", "bulk_g0w0003",
                                     "manifest", "meta.json", "segments"]
    _assert_kernel_equal(d, cfg, positions=True)


def test_positions_segments_equal_kernels(spark, bulk_pos_index):
    _assert_kernel_equal(bulk_pos_index, PCFG, positions=True)


def test_multi_batch_segment_matches_one_batch(spark, tmp_path,
                                               bulk_pos_index):
    """A segment that reaches its writer in several Arrow batches packs
    each batch to partials; the level-2 kernel makes its postings equal
    the one-pass kernels, and its positions answer every phrase as a
    one-batch build does."""
    d = str(tmp_path / "small_batches")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        build_index_bulk(spark, generate_corpus(spark, N), d, PCFG)
    finally:
        spark.conf.set(key, old)
    _assert_kernel_equal(d, PCFG, positions=False)
    one, many = (PositionsReader(spark, x) for x in (bulk_pos_index, d))
    for phrase in ["ident_1 return", "return import", "def ident_3"]:
        assert sorted(many.phrase_match_ids(phrase)) == sorted(
            one.phrase_match_ids(phrase))
    assert sorted(many.near_match_ids("return", "import", 3)) == sorted(
        one.near_match_ids("return", "import", 3))


def _writer_stage_tasks(spark, group: str) -> int:
    """Task count of the last stage of ``group``'s last job: the writer
    stage, which returns the stats rows."""
    st = spark.sparkContext.statusTracker()
    last = max(st.getJobIdsForGroup(group))
    return st.getStageInfo(max(st.getJobInfo(last).stageIds)).numTasks


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_one_writer_task_per_segment(spark, tmp_path):
    """Eight segments → one Spark job whose writer stage runs eight tasks,
    each writing one segment (a hash repartition of eight keys into eight
    partitions would put two keys in one task)."""
    d = str(tmp_path / "eight")
    cfg = dataclasses.replace(CFG, num_segments=8)
    m = _in_group(spark, "writer_eight", lambda: build_index_bulk(
        spark, generate_corpus(spark, N), d, cfg))
    assert m.segments_built == 8
    assert _writer_stage_tasks(spark, "writer_eight") == 8
    for s in SegmentStore(d).active_segments():
        assert os.listdir(SegmentStore(d).segment_files(s, "postings")) == [
            "part-00000.parquet"]


def test_writer_task_refuses_two_segments(tmp_path):
    batch = pa.RecordBatch.from_pydict({
        "_task": pa.array([0, 1], type=pa.int32()),
        "doc_id": pa.array([1, 2], type=pa.int64()),
        "doc_key": ["a", "b"], "content_sha256": ["x", "y"],
        "dl": pa.array([1, 1], type=pa.int32()),
        "tokens": pa.array([["a"], ["b"]], type=pa.list_(pa.string())),
    })
    write = _segment_writer(str(tmp_path), ["s0", "s1"], 128, 2, False)
    with pytest.raises(RuntimeError, match="another segment"):
        list(write(iter([batch])))


def test_bulk_build_runs_one_job_pair(spark, tmp_path):
    """Job-count pin: a bulk build is one writer query — its shuffle map
    stage and its writer stage (AQE submits each as a job) — and nothing
    else: no partials shuffle, no level-2 stage, no stats read-back."""
    d = str(tmp_path / "jobs")
    _in_group(spark, "bulk_jobs", lambda: build_index_bulk(
        spark, generate_corpus(spark, N), d, PCFG))
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("bulk_jobs")
    assert len(jobs) == 2


def _assignment_ok(spark, index_dir: str, n: int, prefix: str) -> None:
    docs = SegmentStore(index_dir).read_docs(spark, with_seg=True)
    want = F.concat(F.lit(prefix), F.lpad(
        F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("string"), 4, "0"))
    assert docs.count() == N
    assert docs.filter(F.col("seg") != want).count() == 0


def test_doc_to_segment_assignment_unchanged(spark, tmp_path,
                                             bulk_pos_index):
    _assignment_ok(spark, bulk_pos_index, 4, "seg_g0_b")
    d = str(tmp_path / "waves")
    build_index(spark, generate_corpus(spark, N), d,
                dataclasses.replace(CFG, ingest_wave_size=2))
    _assignment_ok(spark, d, 4, "seg_g0_b")


@contextlib.contextmanager
def _split_limit(spark, limit: int):
    """spark.sql.files.maxPartitionBytes set to ``limit`` inside."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(limit))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _parquet_source(spark, tmp_path) -> tuple[str, int]:
    """The test corpus as parquet files: their directory and total size."""
    src = str(tmp_path / "src")
    generate_corpus(spark, N).write.parquet(src)
    return src, sum(os.path.getsize(os.path.join(src, f))
                    for f in os.listdir(src) if f.endswith(".parquet"))


def _limit_for(size: int, n: int) -> int:
    """A maxPartitionBytes under which input files of ``size`` bytes plan
    ``n`` segments."""
    return size * WRITER_BYTES_PER_INPUT_BYTE // n + 1


def test_segment_count_planned_from_input_size(spark, tmp_path):
    """Input files whose writer memory (WRITER_BYTES_PER_INPUT_BYTE per
    byte) exceeds maxPartitionBytes × num_segments raise the segment
    count, so no writer task needs more than about one scan split's
    budget; the assignment rule stays pmod(xxhash64(doc_id), n)."""
    src, size = _parquet_source(spark, tmp_path)
    limit = _limit_for(size, 6)
    d = str(tmp_path / "idx")
    with _split_limit(spark, limit):
        m = build_index_bulk(spark, spark.read.parquet(src), d,
                             dataclasses.replace(CFG, num_segments=2))
    n = -(-size * WRITER_BYTES_PER_INPUT_BYTE // limit)
    assert n == 6 and m.segments_built == n
    _assignment_ok(spark, d, n, "seg_g0_b")


def _segment_files(store) -> dict:
    out = {}
    for m in store.active_segments():
        out[m.name] = (
            (m.doc_count, m.sum_dl, m.n_terms, m.n_postings),
            sorted(_table(store, m, "docs")["doc_id"].to_pylist()),
            _table(store, m, "postings").to_pylist(),
            _table(store, m, "positions").drop_columns(["rb"]).sort_by(
                [("term", "ascending"), ("part", "ascending")]).to_pylist(),
        )
    return out


def test_crash_then_resume_equals_clean_build(spark, tmp_path):
    """A resume equals a clean build and drops the staged source. It runs
    under a smaller maxPartitionBytes, which would plan six batches, and
    keeps the four the crashed build recorded: committed batches are
    skipped and every other doc lands where a clean build puts it."""
    src, size = _parquet_source(spark, tmp_path)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    with pytest.raises(RuntimeError, match="fault injection"):
        build_index(spark, spark.read.parquet(src), crashed, PCFG,
                    fail_after_batches=1)
    store = SegmentStore(crashed)
    assert sorted(store.committed_batches()) == ["b0000"]
    with _split_limit(spark, _limit_for(size, 6)):
        m = build_index(spark, spark.read.parquet(src), crashed, PCFG)
    assert (m.batches_skipped, m.segments_built) == (1, 3)
    assert not os.path.exists(os.path.join(crashed, "staging"))
    build_index(spark, spark.read.parquet(src), clean, PCFG)
    assert _segment_files(store) == _segment_files(SegmentStore(clean))
    _assignment_ok(spark, crashed, 4, "seg_g0_b")
