"""Inverted-index build: salted, resumable, explode-free (SURVEY.md D2-D4).

Two build modes share one writer:

- :func:`build_index` — micro-batched (one batch → one immutable segment,
  mirroring the connector's bulk-flush unit, OpenSearchClient.java:145-155);
  resumable per batch via the manifest; pending batches build in waves.
- :func:`build_index_bulk` — ALL segments in one job (initial-load path),
  single atomic commit.

Writer job (:func:`_build_segments_pipeline`), the shape of Lucene's
per-thread segment writer:

  source
    → identity (doc_key/doc_id/sha256 — cheap JVM exprs)
    → segment = pmod(xxhash64(doc_id), n), n planned from the input size
    → repartitionById(segment): each segment's docs in one partition
    → tokenize (regexp_extract_all, whole-stage codegen)
    → one writer task per segment (mapInArrow, :func:`_segment_writer`):
      level-1 pack per Arrow batch (dictionary_encode counts terms — NO
      explode, no Python string objects), positions pack per
      ``part = pmod(doc_id, salt_partitions)``, then the level-2 kernel
      (:func:`_merge_partials`: concat-decode, reset-cumsum, re-encode +
      per-block max_tf); docs, postings and positions files written with
      pyarrow into ``seg=<name>`` (and ``rb=``) directories, term-sorted
      so parquet min/max stats prune query-time term lookups
    → one stats row per segment back to the driver → manifest commit

Streaming micro-batches keep the two-level Spark pipeline
(:func:`build_segment_postings_from_docs`): level-1 pack, a shuffle of the
packed partials by term, and the same level-2 kernel in mapInPandas.

Scale notes: a writer task holds one segment's docs rows, packed
postings and positions, one Arrow batch of token lists, and the level-2
kernel's decoded arrays — about 24 bytes per byte of its input files
plus ~41 MB (measured, see ``WRITER_BYTES_PER_INPUT_BYTE``). The segment count grows
with the input so that this stays under
``spark.sql.files.maxPartitionBytes``; nothing is ever collected to the
driver except per-segment counters.
Local-mode JVMs should run -XX:+UseParallelGC — G1 concurrent marking
throttles these allocation-heavy stages at high thread counts.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from kafka_connect_opensearch_spark.config import DOC_KEY_SEP, EngineConfig
from kafka_connect_opensearch_spark.functions.analysis import tokenize
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.segments import (
    DOCS_COLUMNS,
    POSTINGS_SCHEMA,
    BuildMetrics,
    SegmentMeta,
    SegmentStore,
)
from kafka_connect_opensearch_spark.retry import call_with_retries

PARTIAL_SCHEMA = "term string, doc_ids binary, tfs binary, dls binary"
PARTIAL_COLS = ["term", "doc_ids", "tfs", "dls"]
# in-file columns of a Hive-partitioned segment's postings and positions
# files (``seg`` and ``rb`` live in the directory names)
POSTINGS_TYPES = {
    "term": pa.string(), "df": pa.int64(), "max_tf": pa.int64(),
    **{c: pa.binary() for c in ("doc_ids", "tfs", "dls", "block_max")},
}
POSITIONS_COLS = ["term", "part", "n_docs", "doc_ids", "pos_counts",
                  "positions", "blk_max_doc", "blk_lens"]
# Peak memory of a writer task per byte of the input files its segment
# comes from. Measured on the benchmark's generated code corpus (parquet
# files 1.85× smaller than the text, positions on, one task per Python
# worker): 1.9 / 3.6 / 6.3 / 12.6 MB of files per segment peaked 87 /
# 131 / 200 / 338 MB above the worker's resting RSS, ~24 bytes per file
# byte plus ~41 MB. Rounded up; input that compresses better costs more
# per file byte.
WRITER_BYTES_PER_INPUT_BYTE = 32
# the row a writer task returns for its segment
SEG_STATS = pa.schema([("seg", pa.string()), ("docs", pa.int64()),
                       ("sum_dl", pa.int64()), ("terms", pa.int64()),
                       ("postings", pa.int64())])


def doc_id_expr(doc_key_col: str = "doc_key") -> F.Column:
    """Deterministic int64 doc id from the document key.

    ``doc_id = int(sha256(doc_key)[:15 hex], 16)`` — 60 bits, positive,
    reproducible in plain Python/DuckDB for oracles (unlike xxhash64).
    Reference parity: `_id` = "{topic}+{partition}+{offset}"
    (DataConverter.java:156-158) re-cast as a content-addressed key
    (SURVEY.md §1.4). Full sha256(content) is stored alongside for the
    north-rule per-row parity check.
    """
    return F.conv(F.substring(F.sha2(F.col(doc_key_col), 256), 1, 15), 16, 10).cast(
        "long"
    )


def doc_id_py(doc_key: str) -> int:
    import hashlib

    return int(hashlib.sha256(doc_key.encode()).hexdigest()[:15], 16)


def _stream_groups(batches: Iterator[pd.DataFrame], key):
    """Re-chunk an ordered batch stream so no key group spans two yields.

    ``key``: column name or list of names (composite keys compare
    element-wise across all columns).
    """
    import numpy as np

    keys = [key] if isinstance(key, str) else list(key)
    carry: pd.DataFrame | None = None
    for b in batches:
        if carry is not None and len(carry):
            b = pd.concat([carry, b], ignore_index=True)
            carry = None
        if not len(b):
            continue
        change = np.zeros(len(b) - 1, dtype=bool)
        for k in keys:
            arr = b[k].to_numpy()
            change |= arr[1:] != arr[:-1]
        nz = np.nonzero(change)[0]
        if nz.size == 0:
            carry = b  # whole batch is one (possibly continuing) group
            continue
        split = int(nz[-1] + 1)
        carry = b.iloc[split:]
        yield b.iloc[:split]
    if carry is not None and len(carry):
        yield carry


def _pack_docs_direct(batches):
    """(doc_id, dl, tokens) Arrow batches → packed partial postings.

    The level-1 aggregation happens inside the doc-partitioned scan stage
    with NO explode and NO Python string objects: the token lists stay in
    Arrow, ``dictionary_encode`` (C++) replaces per-token Python work, and
    everything after is int64 numpy. The shuffle that follows carries one
    *packed binary* row per (term, partition) — ~20× fewer bytes than raw
    (doc, term, tf) rows — and the 5×-corpus-size occurrence stream never
    materializes anywhere.

    Used via ``DataFrame.mapInArrow`` (input/output are pyarrow
    RecordBatches).
    """
    import pyarrow as pa

    for rb in batches:
        out = _pack_doc_group_arrow(
            rb.column("doc_id"),
            rb.column("dl"),
            rb.column("tokens"),
        )
        if out is not None:
            yield pa.RecordBatch.from_arrays(out, names=PARTIAL_COLS)


def _pack_doc_group_arrow(doc_id_arr, dl_arr, tokens_arr):
    """Core level-1 pack on Arrow arrays; returns [term, doc_ids, tfs, dls]
    Arrow arrays or None for an empty group."""
    import numpy as np
    import pyarrow as pa

    n = len(doc_id_arr)
    if n == 0:
        return None
    la = tokens_arr
    if isinstance(la, pa.ChunkedArray):  # pragma: no cover — RB cols are flat
        la = la.combine_chunks()
    flat = la.flatten()  # zero-copy view of all tokens, offset-aware
    if len(flat) == 0:
        return None
    offsets = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = offsets[1:] - offsets[:-1]
    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = enc.dictionary
    doc_ids = doc_id_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    dls = dl_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    doc_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
    # order docs by doc_id so packed lists come out ascending
    doc_order = np.argsort(doc_ids, kind="stable")
    doc_rank = np.empty(n, dtype=np.int64)
    doc_rank[doc_order] = np.arange(n)
    key = codes * n + doc_rank[doc_rep]
    uniq_key, tfs = np.unique(key, return_counts=True)
    t_idx = uniq_key // n
    d_rank = uniq_key % n
    ids = doc_ids[doc_order][d_rank]
    out_dls = dls[doc_order][d_rank]
    change = np.empty(t_idx.size, dtype=bool)
    change[0] = True
    np.not_equal(t_idx[1:], t_idx[:-1], out=change[1:])
    starts = np.nonzero(change)[0]
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]
    terms = uniques.take(pa.array(t_idx[starts], type=pa.int64())).cast(
        pa.string()
    )
    return [
        terms,
        pa.array(
            codec.varint_encode_grouped(deltas.astype("uint64"), starts),
            type=pa.binary(),
        ),
        pa.array(
            codec.varint_encode_grouped(tfs.astype("uint64"), starts),
            type=pa.binary(),
        ),
        pa.array(
            codec.varint_encode_grouped(out_dls.astype("uint64"), starts),
            type=pa.binary(),
        ),
    ]


def _merge_partials(
    terms, doc_ids: list, tfs: list, dls: list, block_size: int
) -> dict | None:
    """Level-2 kernel over term-sorted packed partial rows: one postings
    row per term, vectorized across all rows. Every buffer decodes in ONE
    pass per column (varint_decode_concat), doc ids rebuild with a
    reset-cumsum, one lexsort orders each term's docs, and all posting
    lists and block maxima re-encode in one pass per column. Returns the
    postings columns without ``seg`` (None when there is no posting)."""
    import numpy as np

    d_vals, d_row = codec.varint_decode_concat(doc_ids)
    t_vals, _ = codec.varint_decode_concat(tfs)
    l_vals, _ = codec.varint_decode_concat(dls)
    if d_vals.size == 0:
        return None
    # per-partial-row delta cumsum (rows are independent delta runs)
    run_change = np.empty(d_row.size, dtype=bool)
    run_change[0] = True
    np.not_equal(d_row[1:], d_row[:-1], out=run_change[1:])
    run_starts = np.nonzero(run_change)[0]
    # decode outputs are < 2^63 — reinterpret, don't copy
    ids = codec.cumsum_with_resets(d_vals, run_starts)
    tf_vals = t_vals.view("int64")
    dl_vals = l_vals.view("int64")
    # regroup by term: group index of each value via its row
    row_change = np.empty(terms.size, dtype=bool)
    row_change[0] = True
    np.not_equal(terms[1:], terms[:-1], out=row_change[1:])
    row_gidx = np.cumsum(row_change) - 1
    v_gidx = row_gidx[d_row]
    order = np.lexsort((ids, v_gidx))
    ids, tf_vals, dl_vals, v_gidx = (
        ids[order], tf_vals[order], dl_vals[order], v_gidx[order],
    )
    g_change = np.empty(v_gidx.size, dtype=bool)
    g_change[0] = True
    np.not_equal(v_gidx[1:], v_gidx[:-1], out=g_change[1:])
    starts = np.nonzero(g_change)[0]
    ends = np.append(starts[1:], v_gidx.size)
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]
    dfs = ends - starts
    max_tf = np.maximum.reduceat(tf_vals, starts)
    # block boundaries across all groups in one reduceat
    n_blocks = -(-dfs // block_size)
    block_bounds = np.concatenate(
        [np.arange(s, e, block_size) for s, e in zip(starts, ends, strict=True)]
    )
    bmax_all = np.maximum.reduceat(tf_vals, block_bounds)
    bmax_starts = np.concatenate(([0], np.cumsum(n_blocks)[:-1]))
    return {
        "term": terms[np.nonzero(row_change)[0]],
        "df": dfs.astype("int64"),
        "max_tf": max_tf.astype("int64"),
        "doc_ids": codec.varint_encode_grouped(deltas.astype("uint64"), starts),
        "tfs": codec.varint_encode_grouped(tf_vals.astype("uint64"), starts),
        "dls": codec.varint_encode_grouped(dl_vals.astype("uint64"), starts),
        "block_max": codec.varint_encode_grouped(
            bmax_all.astype("uint64"), bmax_starts
        ),
    }


def _make_merge_stream(seg_name: str, block_size: int):
    """mapInPandas level-2 merge over term-sorted partial rows: each chunk
    of whole term groups runs :func:`_merge_partials`; every output row is
    stamped with segment ``seg_name``."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _stream_groups(batches, "term"):
            out = _merge_partials(
                chunk["term"].to_numpy(), list(chunk["doc_ids"]),
                list(chunk["tfs"]), list(chunk["dls"]), block_size,
            )
            if out is not None:
                yield pd.DataFrame({"term": out.pop("term"), "seg": seg_name,
                                    **out})

    return merge


def build_segment_postings_from_docs(
    analyzed: DataFrame, seg_name: str, config: EngineConfig
) -> DataFrame:
    """(doc_id, dl, tokens) → packed postings rows, explode-free.

    Level 1 is :func:`_pack_docs_direct` inside the doc-partitioned stage —
    the doc-hash partitioning plays the salt role (a hot term's postings
    split across all partitions; no reducer sees more than a partition's
    worth at level 1). Level 2 shuffles only packed partials by term.
    Per-term level-2 group size is bounded by the segment's doc count —
    the same bound Lucene accepts for per-segment posting lists.
    """
    partial = analyzed.select("doc_id", "dl", "tokens").mapInArrow(
        _pack_docs_direct, schema=PARTIAL_SCHEMA
    )
    l2 = partial.repartition(
        max(2, config.shuffle_partitions // 4), "term"
    ).sortWithinPartitions("term")
    return l2.mapInPandas(
        _make_merge_stream(seg_name, config.block_size), schema=POSTINGS_SCHEMA
    )


def prepare_identity(
    source: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
) -> DataFrame:
    """Identity phase (cheap): ``doc_key`` (separator-joined id columns —
    the reference's "{topic}+{partition}+{offset}" identity,
    DataConverter.java:156-158), ``doc_id`` (int64), ``content_sha256``
    (north-rule parity column). When the source already carries a numeric
    id (``doc_id_col``, the key.ignore=false path: DataConverter.java:
    87-114), it is used directly instead of the hashed key.

    Analysis columns (tokens/dl) are deliberately NOT added here: they
    multiply row width and must be computed *after* the batch is
    repartitioned across the cluster, not below the exchange.
    """
    if doc_id_col is not None:
        df = source.withColumn("doc_key", F.col(doc_id_col).cast("string"))
        df = df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        df = source.withColumn(
            "doc_key", F.concat_ws(DOC_KEY_SEP, *[F.col(c) for c in id_cols])
        )
        df = df.withColumn("doc_id", doc_id_expr("doc_key"))
    return df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))


def add_analysis(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Analysis phase (heavy): tokens + doc length."""
    return df.withColumn("tokens", tokenize(content_col)).withColumn(
        "dl", F.size("tokens")
    )


def prepare_documents(
    source: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
) -> DataFrame:
    """Identity + analysis in one step (convenience for small frames)."""
    return add_analysis(
        prepare_identity(source, id_cols, content_col, doc_id_col), content_col
    )


def _index_meta(config: EngineConfig) -> dict:
    return {
        "analyzer": "lowercase_word",
        "k1": config.k1,
        "b": config.b,
        "block_size": config.block_size,
        "num_segments": config.num_segments,
        # per-index mapping flag: segments carry positions.parquet
        # (Lucene IndexOptions.DOCS_AND_FREQS_AND_POSITIONS analog)
        "positions": config.index_positions,
    }


def _effective_config(store: SegmentStore, config: EngineConfig) -> EngineConfig:
    """The positions flag is a per-index MAPPING recorded at creation
    (meta.json), like a Lucene field's IndexOptions: later ingests must
    honor it regardless of the caller's config, or a positions=True index
    would silently grow position-less segments the reader cannot serve
    (and vice versa)."""
    import dataclasses

    meta_flag = bool(store.meta().get("positions", False))
    if meta_flag == config.index_positions:
        return config
    return dataclasses.replace(config, index_positions=meta_flag)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: EngineConfig | None = None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    resume: bool = True,
    fail_after_batches: int | None = None,
    doc_id_col: str | None = None,
) -> BuildMetrics:
    """Build (or resume) an inverted index over ``source``.

    Each micro-batch ``b`` (the docs with ``pmod(xxhash64(doc_id), n) ==
    b``) becomes segment ``seg_g0_b<b>`` with its own manifest, so a
    re-run skips committed batches. Pending batches build in waves of
    ``ingest_wave_size`` (group commit: one writer job per wave, one
    manifest per batch — the reference's BulkProcessor grouping,
    OpenSearchClient.java:145-155).

    ``n`` is fixed by the index's first build (:func:`_batch_count`), so
    a resumed build puts every doc in the batch it had before.

    ``fail_after_batches`` is a fault-injection hook for the kill/resume
    test (mirrors the reference's offset-safety ITs,
    integration/OpenSearchSinkTaskIT.java:120-165): the build runs waves
    of one and stops after that many commits.
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    store.create_if_absent(_index_meta(config))
    config = _effective_config(store, config)
    metrics = BuildMetrics()
    batches = store.committed_batches()
    n = _batch_count(spark, source, config, batches)
    committed = batches if resume else {}

    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    docs = docs.withColumn("_batch", _batch_expr(n))
    pending = [b for b in range(n) if f"b{b:04d}" not in committed]
    metrics.batches_skipped = n - len(pending)
    wave_size = 1 if fail_after_batches is not None else config.ingest_wave_size
    waves = [pending[i:i + wave_size]
             for i in range(0, len(pending), wave_size)]

    staging = os.path.join(index_dir, "staging")
    if len(waves) > 1:
        # Stage the identity-stamped source ONCE, Hive-partitioned by
        # _batch, so each wave reads only its own partitions instead of
        # rescanning and re-hashing the full source. Only the columns the
        # build consumes are staged. One wave reads the source once, so
        # it needs no staging.
        needed = ["doc_id", "doc_key", "content_sha256", content_col]
        docs.select(*needed, "_batch").write.partitionBy("_batch").mode(
            "overwrite"
        ).parquet(staging)
        docs = spark.read.parquet(staging)

    done = 0
    for wave in waves:
        if fail_after_batches is not None and done >= fail_after_batches:
            raise RuntimeError(f"fault injection: stopping after {done} batches")
        wave_docs = docs.filter(F.col("_batch").isin(wave))
        root = store.bulk_path(f"g0w{wave[0]:04d}")
        names = [f"seg_g0_b{b:04d}" for b in wave]
        by_name = {m.name: m for m in _build_segments_pipeline(
            wave_docs, root, config, content_col, wave, names)}
        for b, name in zip(wave, names, strict=True):
            batch_id = f"b{b:04d}"
            seg_meta = by_name.get(name) or SegmentMeta(
                name=name, generation=0, doc_count=0, sum_dl=0, n_terms=0,
                n_postings=0, path=root,
            )
            # manifest rename is the commit point (O4); wrapped in the
            # reference's retry envelope (B5) for transient FS errors.
            call_with_retries(
                f"commit {batch_id}",
                lambda batch_id=batch_id, seg_meta=seg_meta: store.commit_batch(
                    batch_id,
                    {"batch": batch_id, "segments": [seg_meta.__dict__],
                     "replaces": [], "batches": n},
                ),
                max_retries=config.max_retries,
                retry_backoff_ms=config.retry_backoff_ms,
            )
            _accumulate(metrics, seg_meta)
            done += 1
    # every call restages, so nothing after the last commit reads it
    shutil.rmtree(staging, ignore_errors=True)

    metrics.wall_secs = time.monotonic() - t0
    return metrics


def build_index_bulk(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: EngineConfig | None = None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
    tag: str = "g0",
) -> BuildMetrics:
    """Bulk-load mode: ALL segments in one writer job — one scan, one doc
    shuffle, one writer task per segment.

    This is the initial-load path for a large corpus: per-job fixed
    latency is paid once instead of once per micro-batch, and the cluster
    stays saturated end-to-end. Segments remain independent on disk
    (``seg=<name>`` partitions), so queries and later log-structured merges
    are identical to the micro-batched path. Durability trades batch-level
    resume for a single atomic commit (the manifest is written once at the
    end) — incremental ingestion keeps using :func:`build_index`.
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    store.create_if_absent(_index_meta(config))
    config = _effective_config(store, config)
    bulk_id = f"bulk_{tag}"
    if bulk_id in store.committed_batches():
        m = BuildMetrics(batches_skipped=config.num_segments)
        m.wall_secs = time.monotonic() - t0
        return m
    root = store.bulk_path(tag)

    n = _plan_segments(spark, source, config.num_segments)
    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    metas = _build_segments_pipeline(
        docs.withColumn("_batch", _batch_expr(n)), root, config, content_col,
        list(range(n)), [f"seg_{tag}_b{b:04d}" for b in range(n)],
    )
    call_with_retries(
        f"commit {bulk_id}",
        lambda: store.commit_batch(
            bulk_id,
            {"batch": bulk_id, "segments": [m.__dict__ for m in metas],
             "replaces": []},
        ),
        max_retries=config.max_retries,
        retry_backoff_ms=config.retry_backoff_ms,
    )
    metrics = BuildMetrics(
        docs_indexed=sum(m.doc_count for m in metas),
        postings_written=sum(m.n_postings for m in metas),
        segments_built=len(metas),
    )
    # what the writer tasks counted in the files they wrote
    metrics.details["observed_docs"] = sum(m.doc_count for m in metas)
    metrics.details["observed_postings"] = sum(m.n_postings for m in metas)
    metrics.wall_secs = time.monotonic() - t0
    return metrics


def _batch_expr(n: int) -> F.Column:
    """The micro-batch (segment) a doc belongs to: a pure function of its
    id, so a resumed build puts every doc back where it was."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n))


def _batch_count(
    spark: SparkSession, source: DataFrame, config: EngineConfig,
    committed: dict[str, dict],
) -> int:
    """The micro-batch count ``n`` of :func:`build_index` on an index
    whose manifests are ``committed``. Every batch manifest records it,
    and once one exists it is reused: a later call must keep each doc in
    the batch it had, even after the input grew or ``maxPartitionBytes``
    changed, or committed batches would be skipped while their docs moved
    elsewhere. Manifests written before the count was recorded used
    ``num_segments``."""
    seen = {e.get("batches", config.num_segments)
            for b, e in committed.items()
            if re.fullmatch(r"b\d{4,}", b)}
    if len(seen) > 1:
        raise ValueError(f"batch manifests disagree on the batch count: "
                         f"{sorted(seen)}")
    return seen.pop() if seen else _plan_segments(
        spark, source, config.num_segments)


def _plan_segments(spark: SparkSession, source: DataFrame, floor: int) -> int:
    """How many segments to cut ``source`` into: ``floor`` (the configured
    ``num_segments``), raised until no segment's share of the input files,
    times ``WRITER_BYTES_PER_INPUT_BYTE``, exceeds
    ``spark.sql.files.maxPartitionBytes``. One writer task holds one
    segment, so this bounds a task's memory to about the size Spark
    budgets for one scan task (at the default 128 MB a segment gets 4 MB
    of files). The sizes are those of the whole files (Hadoop
    FileSystem), so a limit, filter or column pruning over them makes
    more and smaller segments than needed, never fewer; a source with no
    files (generated in Spark) keeps the floor. Spark's plan statistics
    are no bound: an RDD-backed source reports ``defaultSizeInBytes``
    (Long.MaxValue) and a join the product of its inputs' sizes."""
    jvm = spark.sparkContext._jvm
    limit = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for f in source.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    return max(floor, -(-total * WRITER_BYTES_PER_INPUT_BYTE // limit))


def _build_segments_pipeline(
    docs: DataFrame,
    root: str,
    config: EngineConfig,
    content_col: str,
    batches: list[int],
    names: list[str],
) -> list[SegmentMeta]:
    """Build segment ``names[i]`` from the docs whose ``_batch`` is
    ``batches[i]``, all under the Hive root ``root``, in ONE Spark job:
    scan → doc shuffle that sends each segment to its own partition →
    tokenize (JVM) → one writer task per segment (:func:`_segment_writer`)
    that packs and writes the segment's docs, postings and positions.
    Shared by the bulk initial load (all segments) and the micro-batched
    ingest's waves. ``docs`` must hold only those batches. Returns the
    non-empty segments' metadata (an empty segment writes no files)."""
    # a crashed earlier attempt of this root may have left files behind
    for kind in ("docs", "postings", "positions"):
        shutil.rmtree(os.path.join(root, f"{kind}.parquet"), ignore_errors=True)
    task = F.create_map(
        *[F.lit(x) for i, b in enumerate(batches) for x in (b, i)]
    )[F.col("_batch")]
    # repartitionById places row r in partition task(r) exactly: no two
    # segments share a task, whatever the hash of their keys
    spread = docs.withColumn("_task", task.cast("int")).repartitionById(
        len(batches), "_task"
    )
    analyzed = add_analysis(spread, content_col).select(
        "_task", *DOCS_COLUMNS, "tokens"
    )
    rows = analyzed.mapInArrow(
        _segment_writer(root, names, config.block_size,
                        config.salt_partitions, config.index_positions),
        schema=from_arrow_schema(SEG_STATS),
    ).collect()
    return [
        SegmentMeta(name=r["seg"], generation=0, doc_count=r["docs"],
                    sum_dl=r["sum_dl"], n_terms=r["terms"],
                    n_postings=r["postings"], path=root)
        for r in sorted(rows, key=lambda r: r["seg"])
    ]


def _write_parquet(table, directory: str) -> None:
    """Write ``table`` as ``directory/part-00000.parquet``: under a
    temporary dot-name first (Spark and pyarrow list neither dot- nor
    underscore-prefixed files), then renamed into place, so readers never
    see a partial file and a retried task replaces rather than adds."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".part-00000.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, "part-00000.parquet"))


def _pack_positions_by_part(ids, toks, salt: int) -> list:
    """Positions rows (POSITIONS_COLS) of one batch's docs, packed
    separately per ``part = pmod(doc_id, salt)``."""
    import numpy as np

    from kafka_connect_opensearch_spark.operators.positions import (
        _pack_group_arrow,
    )

    out = []
    part = np.mod(ids.to_numpy(zero_copy_only=False), salt)
    for p in np.unique(part):
        sel = pa.array(part == p)
        got = _pack_group_arrow(ids.filter(sel), toks.filter(sel))
        if got is not None:
            n_rows = len(got[0])
            out.append(pa.table(
                [got[0], pa.array(np.full(n_rows, p, dtype=np.int64)),
                 *got[1:]],
                names=POSITIONS_COLS,
            ))
    return out


def _segment_writer(
    root: str, names: list[str], block_size: int, salt: int,
    positions: bool,
):
    """mapInArrow body of the writer task: (_task, doc columns, tokens)
    batches of ONE segment → its files under ``root``, and one stats row
    (``SEG_STATS``).

    One pass over the batches: each batch's docs rows are kept, and the
    batch packs to level-1 partial postings (:func:`_pack_doc_group_arrow`)
    and, with positions on, to positions rows per ``part =
    pmod(doc_id, salt)`` (the doc-disjointness key merges also use). Only
    docs rows and packed bytes outlive a batch, so a task holds the
    segment's docs rows, postings and positions, never its token lists.
    At the end the level-2 kernel (:func:`_merge_partials`) turns the
    term-sorted partials into one postings row per term with
    df/max_tf/block_max. Positions rows are not merged: a segment that
    arrives in several batches keeps one row per (term, part) per batch,
    which readers decode as one list (they key entries by seg, part and
    doc)."""

    def write(batches):
        import pyarrow.compute as pc

        seg = None
        docs, partials, pos_tables = [], [], []
        sum_dl = 0
        for rb in batches:
            if not rb.num_rows:
                continue
            mm = pc.min_max(rb.column("_task"))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            seg = seg or names[lo]
            if names[lo] != seg or names[hi] != seg:
                raise RuntimeError(
                    f"writer task of {seg} got another segment's rows")
            docs.append(rb.select(DOCS_COLUMNS))
            sum_dl += pc.sum(rb.column("dl")).as_py() or 0
            ids, toks = rb.column("doc_id"), rb.column("tokens")
            out = _pack_doc_group_arrow(ids, rb.column("dl"), toks)
            if out is not None:
                partials.append(pa.table(out, names=PARTIAL_COLS))
            if positions:
                pos_tables += _pack_positions_by_part(ids, toks, salt)
        if seg is None:
            return  # no docs: the segment writes no files
        _write_parquet(pa.Table.from_batches(docs),
                       os.path.join(root, "docs.parquet", f"seg={seg}"))

        n_terms = n_postings = 0
        if partials:
            tbl = pa.concat_tables(partials).sort_by("term")
            post = _merge_partials(
                tbl["term"].to_numpy(),
                tbl["doc_ids"].to_pylist(), tbl["tfs"].to_pylist(),
                tbl["dls"].to_pylist(), block_size,
            )
            n_terms, n_postings = len(post["term"]), int(post["df"].sum())
            _write_parquet(
                pa.table({k: pa.array(v, type=POSTINGS_TYPES[k])
                          for k, v in post.items()}),
                os.path.join(root, "postings.parquet", f"seg={seg}"),
            )
        if pos_tables:
            # one file per term-prefix bucket ``rb``, term-sorted inside:
            # a point-term read prunes to its bucket's files, then to row
            # groups by min/max term (see positions.build_segment_positions)
            tbl = pa.concat_tables(pos_tables).sort_by(
                [("term", "ascending"), ("part", "ascending")])
            rb_col = pc.utf8_slice_codeunits(tbl["term"], 0, 1)
            for bucket in pc.unique(rb_col).to_pylist():
                _write_parquet(
                    tbl.filter(pc.equal(rb_col, bucket)),
                    os.path.join(root, "positions.parquet", f"seg={seg}",
                                 f"rb={bucket}"),
                )
        yield pa.RecordBatch.from_pylist(
            [{"seg": seg, "docs": sum(b.num_rows for b in docs),
              "sum_dl": sum_dl,
              "terms": n_terms, "postings": n_postings}],
            schema=SEG_STATS,
        )

    return write


def _accumulate(metrics: BuildMetrics, seg_meta: SegmentMeta) -> None:
    metrics.docs_indexed += seg_meta.doc_count
    metrics.postings_written += seg_meta.n_postings
    metrics.segments_built += 1


def _build_one_segment(
    spark: SparkSession,
    batch_df: DataFrame,
    store: SegmentStore,
    seg_name: str,
    config: EngineConfig,
    content_col: str = "content",
) -> SegmentMeta:
    """``batch_df`` must carry identity columns (prepare_identity); the
    heavy analysis columns are added here, *above* an explicit repartition:
    a small parquet source arrives as few scan partitions
    (maxPartitionBytes), which would otherwise serialize tokenization onto
    a handful of cores regardless of cluster size. Hash on doc_id →
    uniform spread, no skew."""
    from pyspark.sql import Observation

    seg_path = store.segment_path(seg_name)
    if "tokens" in batch_df.columns:
        batch_df = batch_df.drop("tokens", "dl")
    spread = batch_df.repartition(config.shuffle_partitions, "doc_id")
    analyzed = add_analysis(spread, content_col)
    # No persist: with the regexp_extract_all analyzer, recomputing
    # tokenization for the postings pass is cheaper than materializing a
    # cache of token arrays (measured). Segment stats ride along on the
    # write jobs via Observation — zero extra jobs per segment.
    doc_obs = Observation(f"{seg_name}_docs")
    docs_out = analyzed.select(*DOCS_COLUMNS).observe(
        doc_obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
    )
    docs_out.write.mode("overwrite").parquet(f"{seg_path}/docs.parquet")

    post = build_segment_postings_from_docs(analyzed, seg_name, config)
    post_obs = Observation(f"{seg_name}_post")
    post = post.observe(
        post_obs,
        F.count(F.lit(1)).alias("terms"),
        F.coalesce(F.sum("df"), F.lit(0)).alias("postings"),
    )
    # level-2 output is already term-hash-partitioned and sorted within
    # each partition, so files carry sorted runs (row-group min/max stats
    # prune term lookups); a repartitionByRange here would add a sampling
    # pass that recomputes the whole pipeline
    post.write.mode("overwrite").parquet(f"{seg_path}/postings.parquet")

    if config.index_positions:
        from kafka_connect_opensearch_spark.operators import positions as pos

        pos.build_segment_positions(
            analyzed, config, seg_name=seg_name
        ).write.partitionBy("rb").mode("overwrite").parquet(
            f"{seg_path}/positions.parquet"
        )

    dstat, pstat = doc_obs.get, post_obs.get
    meta = SegmentMeta(
        name=seg_name,
        generation=0,
        doc_count=int(dstat["n"]),
        sum_dl=int(dstat["sdl"]),
        n_terms=int(pstat["terms"]),
        n_postings=int(pstat["postings"]),
    )
    store.write_segmeta(meta)
    return meta
