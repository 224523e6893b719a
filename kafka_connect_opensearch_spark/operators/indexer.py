"""Inverted-index build: salted, resumable, explode-free (SURVEY.md D2-D4).

Two build modes share one pipeline shape:

- :func:`build_index` — micro-batched (one batch → one immutable segment,
  mirroring the connector's bulk-flush unit, OpenSearchClient.java:145-155);
  resumable per batch via the manifest.
- :func:`build_index_bulk` — ALL segments in one pipeline (initial-load
  path): one scan, one doc shuffle, one packed-partials shuffle, Hive
  ``seg=<name>``-partitioned writes, single atomic commit.

Pipeline:

  source
    → identity (doc_key/doc_id/sha256 — cheap JVM exprs)
    → repartition by hash(doc_id)       — spreads work AND is the stopword
      salt: a hot term's postings split across all partitions, so no
      level-1 worker sees more than a partition's worth (AQE can't split
      aggregation groups; the spread is explicit, SURVEY.md §4.2)
    → tokenize (regexp_extract_all, whole-stage codegen)
    → level-1 pack (mapInArrow): pyarrow dictionary_encode counts terms —
      NO explode, no Python string objects; emits delta+varint packed
      partial posting lists, one row per (term, partition)
    → shuffle packed partials by term (~20× fewer bytes than raw rows)
    → level-2 merge (sorted-run mapInPandas): concat-decode, reset-cumsum,
      re-encode + per-block max_tf; output stays term-sorted per file so
      parquet row-group min/max stats prune query-time term lookups

Scale notes (100 TB / 10^12 docs): per-term level-2 group size is bounded
by the segment's doc count (the same bound Lucene accepts per segment);
nothing is ever collected to the driver except per-segment counters.
Local-mode JVMs should run -XX:+UseParallelGC — G1 concurrent marking
throttles these allocation-heavy stages at high thread counts.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def _pack_docs_direct_by_seg(batches):
    """Seg-aware level-1 pack (mapInArrow): input batches carry a ``seg``
    column; each seg group within a batch packs independently (bulk path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        segs = rb.column("seg")
        for seg in pc.unique(segs):
            sub = rb.filter(pc.equal(segs, seg))
            out = _pack_doc_group_arrow(
                sub.column("doc_id"), sub.column("dl"), sub.column("tokens")
            )
            if out is not None:
                seg_col = pa.array([seg.as_py()] * len(out[0]), type=pa.string())
                yield pa.RecordBatch.from_arrays(
                    [out[0], seg_col, *out[1:]],
                    names=["term", "seg", *PARTIAL_COLS[1:]],
                )


def _make_merge_stream(seg_name: str | None, block_size: int):
    """Level-2 merge, vectorized across the whole chunk: all partial rows'
    buffers decode in ONE pass per column (varint_decode_concat), doc_ids
    reconstruct with reset-cumsum, one lexsort regroups by term, and all
    posting lists + block maxima re-encode in one pass per column.

    ``seg_name``: stamp this segment name (classic per-segment build), or
    None → partials carry a ``seg`` column and groups key on (seg, term)
    (bulk build)."""
    group_key = "term" if seg_name is not None else ["seg", "term"]

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for chunk in _stream_groups(batches, group_key):
            row_terms = chunk["term"].to_numpy()
            d_vals, d_row = codec.varint_decode_concat(list(chunk["doc_ids"]))
            t_vals, _ = codec.varint_decode_concat(list(chunk["tfs"]))
            l_vals, _ = codec.varint_decode_concat(list(chunk["dls"]))
            if d_vals.size == 0:
                continue
            # per-partial-row delta cumsum (rows are independent delta runs)
            run_change = np.empty(d_row.size, dtype=bool)
            run_change[0] = True
            np.not_equal(d_row[1:], d_row[:-1], out=run_change[1:])
            run_starts = np.nonzero(run_change)[0]
            # decode outputs are < 2^63 — reinterpret, don't copy
            ids = codec.cumsum_with_resets(d_vals, run_starts)
            tfs = t_vals.view("int64")
            dls = l_vals.view("int64")
            # regroup by (seg,)term: group index of each value via its row
            row_change = np.empty(row_terms.size, dtype=bool)
            row_change[0] = True
            np.not_equal(row_terms[1:], row_terms[:-1], out=row_change[1:])
            if seg_name is None:
                row_segs = chunk["seg"].to_numpy()
                row_change[1:] |= row_segs[1:] != row_segs[:-1]
            row_gidx = np.cumsum(row_change) - 1
            v_gidx = row_gidx[d_row]
            order = np.lexsort((ids, v_gidx))
            ids, tfs, dls, v_gidx = (
                ids[order], tfs[order], dls[order], v_gidx[order],
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
            max_tf = np.maximum.reduceat(tfs, starts)
            # block boundaries across all groups in one reduceat
            n_blocks = -(-dfs // block_size)
            block_bounds = np.concatenate(
                [np.arange(s, e, block_size) for s, e in
                 zip(starts, ends, strict=True)]
            )
            bmax_all = np.maximum.reduceat(tfs, block_bounds)
            bmax_starts = np.concatenate(([0], np.cumsum(n_blocks)[:-1]))
            group_rows = np.nonzero(row_change)[0]
            yield pd.DataFrame(
                {
                    "term": row_terms[group_rows],
                    "seg": seg_name if seg_name is not None
                    else chunk["seg"].to_numpy()[group_rows],
                    "df": dfs.astype("int64"),
                    "max_tf": max_tf.astype("int64"),
                    "doc_ids": codec.varint_encode_grouped(
                        deltas.astype("uint64"), starts
                    ),
                    "tfs": codec.varint_encode_grouped(
                        tfs.astype("uint64"), starts
                    ),
                    "dls": codec.varint_encode_grouped(
                        dls.astype("uint64"), starts
                    ),
                    "block_max": codec.varint_encode_grouped(
                        bmax_all.astype("uint64"), bmax_starts
                    ),
                }
            )

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

    ``fail_after_batches`` is a fault-injection hook for the kill/resume
    test (mirrors the reference's offset-safety ITs,
    integration/OpenSearchSinkTaskIT.java:120-165).
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    store.create_if_absent(_index_meta(config))
    config = _effective_config(store, config)
    metrics = BuildMetrics()
    committed = store.committed_batches() if resume else {}

    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    docs = docs.withColumn(
        "_batch", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(config.num_segments))
    )

    pending = [b for b in range(config.num_segments)
               if f"b{b:04d}" not in committed]
    metrics.batches_skipped = config.num_segments - len(pending)

    if len(pending) > 1:
        # Stage the identity-stamped source ONCE, Hive-partitioned by
        # _batch, so each micro-batch reads exactly one partition
        # (partition pruning) instead of rescanning + re-hashing the full
        # source per segment — previously num_segments full scans. Only
        # the columns the segment build consumes are staged (identity +
        # content); everything else is pruned at the staging write.
        staging = os.path.join(index_dir, "staging")
        needed = ["doc_id", "doc_key", "content_sha256", content_col]
        docs.select(*needed, "_batch").write.partitionBy("_batch").mode(
            "overwrite"
        ).parquet(staging)
        docs = spark.read.parquet(staging)

    def run_batch(b: int) -> SegmentMeta:
        batch_id = f"b{b:04d}"
        seg_name = f"seg_g0_{batch_id}"
        seg_meta = _build_one_segment(
            spark, docs.filter(F.col("_batch") == b), store, seg_name, config,
            content_col=content_col,
        )
        # manifest rename is the commit point (O4); wrapped in the
        # reference's retry envelope (B5) for transient FS errors.
        call_with_retries(
            f"commit {batch_id}",
            lambda: store.commit_batch(
                batch_id,
                {"batch": batch_id, "segments": [seg_meta.__dict__],
                 "replaces": []},
            ),
            max_retries=config.max_retries,
            retry_backoff_ms=config.retry_backoff_ms,
        )
        return seg_meta

    if fail_after_batches is not None:
        # fault-injection path stays sequential so "fail after N commits"
        # is deterministic (kill/resume tests)
        for done, b in enumerate(pending):
            if done >= fail_after_batches:
                raise RuntimeError(
                    f"fault injection: stopping after {done} batches"
                )
            _accumulate(metrics, run_batch(b))
    elif config.build_concurrency > 1:
        # Optional: micro-batch builds from concurrent driver threads —
        # the connector's in-flight-bulks shape (B2, OpenSearchClient.java:
        # 124,145-155). Off by default: one Spark job already spans the
        # cluster, and concurrent Python-UDF stages contend for the
        # per-executor python-worker pool (measured 2.7× slowdown at 5
        # concurrent jobs on local[32]). Useful when segments are tiny.
        from concurrent.futures import ThreadPoolExecutor

        workers = min(config.build_concurrency, len(pending))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for seg_meta in pool.map(run_batch, pending):
                _accumulate(metrics, seg_meta)
    else:
        # Wave (group) commit: build `ingest_wave_size` pending batches in
        # ONE pipeline (the bulk shape — one scan of the staged source, one
        # doc shuffle, one partials shuffle), then commit each batch's
        # manifest individually. This is the reference's BulkProcessor
        # grouping (OpenSearchClient.java:145-155): durability granularity
        # stays the micro-batch (a crash mid-wave re-runs only that wave),
        # but per-job fixed latency is paid once per wave, not per batch.
        # Single-batch waves run through the SAME pipeline (no classic
        # special case): one code path means one set of pack/merge UDFs
        # and one generated-code shape, so a small warm-up build primes
        # the python workers and codegen cache for every later build —
        # the r6 stage isolation showed the by-seg pipeline's first run
        # paying ~3 s of cold start that the classic-path warm-up never
        # touched.
        wave_size = max(1, config.ingest_wave_size)
        for wi in range(0, len(pending), wave_size):
            wave = pending[wi:wi + wave_size]
            root = store.bulk_path(f"g0w{wave[0]:04d}")
            wave_docs = docs.filter(
                F.col("_batch").isin([int(b) for b in wave])
            ).withColumn(
                "seg",
                F.concat(
                    F.lit("seg_g0_b"),
                    F.lpad(F.col("_batch").cast("string"), 4, "0"),
                ),
            ).drop("_batch")
            metas, _ = _build_segments_pipeline(
                spark, wave_docs, root, config, content_col,
                job_tag=f"wave_{os.path.basename(index_dir)}_{wave[0]:04d}",
                seg_names=[f"seg_g0_b{b:04d}" for b in wave],
            )
            by_name = {m.name: m for m in metas}
            for b in wave:
                batch_id = f"b{b:04d}"
                seg_meta = by_name.get(f"seg_g0_{batch_id}") or SegmentMeta(
                    name=f"seg_g0_{batch_id}", generation=0, doc_count=0,
                    sum_dl=0, n_terms=0, n_postings=0, path=root,
                )
                call_with_retries(
                    f"commit {batch_id}",
                    lambda batch_id=batch_id, seg_meta=seg_meta: store.commit_batch(
                        batch_id,
                        {"batch": batch_id, "segments": [seg_meta.__dict__],
                         "replaces": []},
                    ),
                    max_retries=config.max_retries,
                    retry_backoff_ms=config.retry_backoff_ms,
                )
                _accumulate(metrics, seg_meta)

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
    """Bulk-load mode: ALL segments in one pipeline — one scan, one doc
    shuffle, one packed-partials shuffle, two Hive-partitioned writes.

    This is the initial-load path for a 100 TB corpus: per-job fixed
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

    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    docs = docs.withColumn(
        "seg",
        F.concat(
            F.lit(f"seg_{tag}_b"),
            F.lpad(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(config.num_segments))
                .cast("string"),
                4,
                "0",
            ),
        ),
    )
    metas, obs = _build_segments_pipeline(
        spark, docs, root, config, content_col, job_tag=bulk_id,
        seg_names=[
            f"seg_{tag}_b{b:04d}" for b in range(config.num_segments)
        ],
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
    metrics.details["observed_docs"] = obs["docs"]
    metrics.details["observed_postings"] = obs["postings"]
    metrics.wall_secs = time.monotonic() - t0
    return metrics


def _build_segments_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    config: EngineConfig,
    content_col: str,
    job_tag: str,
    seg_names: list[str],
) -> tuple[list[SegmentMeta], dict]:
    """Build every segment named by ``docs.seg`` in ONE pipeline: one doc
    shuffle, one packed-partials shuffle, two Hive-partitioned writes under
    ``root``. Shared by the bulk initial load (all segments) and the
    micro-batched ingest's wave commits (a few segments per wave).
    ``seg_names``: the closed set of values ``docs.seg`` can take (callers
    derive the column, so they know it) — drives the per-segment
    Observation stats without a discovery job."""
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    # The doc shuffle exists to spread tokenization/packing evenly (it
    # doubles as the stopword salt) — but ANY even partitioning spreads a
    # hot term's postings the same way, docs are one row each (the
    # positions part-disjointness holds under any partitioning), and this
    # lineage re-executes once per write action. When the source already
    # arrives with enough scan partitions (size-bounded by
    # maxPartitionBytes), the exchange is pure overhead paid 2-3x.
    n_in = docs.rdd.getNumPartitions()
    spread = (
        docs
        if n_in >= config.shuffle_partitions
        else docs.repartition(config.shuffle_partitions, "doc_id")
    )
    analyzed = add_analysis(spread, content_col)

    # With positions on, THREE write actions consume this lineage (docs,
    # postings, positions) and each re-runs scan + sha256 identity + doc
    # shuffle + tokenize. A disk-backed cache of the analyzed frame
    # amortizes that across consumers (guide §5: reuse > recompute when
    # recompute is this wide). For the two-consumer positions-off path the
    # r6 A/B measured the cache break-even, so it stays off there.
    cached = None
    want_cache = (
        config.cache_analyzed
        if config.cache_analyzed is not None
        else config.index_positions
    )
    if want_cache:
        cached = analyzed.persist(StorageLevel.MEMORY_AND_DISK)
        analyzed = cached

    # Per-segment stats ride the two write jobs as Observation conditional
    # aggregates over the (small, known) segment-name set — the previous
    # read-back (two groupBy jobs over the ~500 just-written files)
    # measured ~2.9 s per bulk build at local[32], pure overhead
    # (guide §1.2: don't compute things twice).
    seg_names = sorted(seg_names)
    doc_obs = Observation(f"{job_tag}_docs")
    analyzed.select(*DOCS_COLUMNS, "seg").observe(
        doc_obs,
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("seg") == s, 1)).alias(f"n_{i}")
            for i, s in enumerate(seg_names)
        ],
        *[
            F.sum(F.when(F.col("seg") == s, F.col("dl"))).alias(f"sdl_{i}")
            for i, s in enumerate(seg_names)
        ],
    ).write.partitionBy("seg").mode("overwrite").parquet(f"{root}/docs.parquet")

    partial = analyzed.select("seg", "doc_id", "dl", "tokens").mapInArrow(
        _pack_docs_direct_by_seg, schema=f"term string, seg string, "
        "doc_ids binary, tfs binary, dls binary"
    )
    l2 = partial.repartition(
        max(2, config.shuffle_partitions), "seg", "term"
    ).sortWithinPartitions("seg", "term")
    post = l2.mapInPandas(
        _make_merge_stream(None, config.block_size), schema=POSTINGS_SCHEMA
    )
    post_obs = Observation(f"{job_tag}_post")
    post.observe(
        post_obs,
        F.coalesce(F.sum("df"), F.lit(0)).alias("postings"),
        *[
            F.count(F.when(F.col("seg") == s, 1)).alias(f"t_{i}")
            for i, s in enumerate(seg_names)
        ],
        *[
            F.sum(F.when(F.col("seg") == s, F.col("df"))).alias(f"p_{i}")
            for i, s in enumerate(seg_names)
        ],
    ).write.partitionBy("seg").mode("overwrite").parquet(
        f"{root}/postings.parquet"
    )

    if config.index_positions:
        from kafka_connect_opensearch_spark.operators import positions as pos

        # "rb" (term prefix bucket) clusters files by term range so
        # point-term reads prune to their buckets — see
        # positions.build_segment_positions
        pos.build_segment_positions(analyzed, config).write.partitionBy(
            "seg", "rb"
        ).mode("overwrite").parquet(f"{root}/positions.parquet")

    dstat, pstat = doc_obs.get, post_obs.get
    metas = []
    for i, seg in enumerate(seg_names):
        n = int(dstat[f"n_{i}"] or 0)
        if n == 0:
            continue  # segment with no docs writes no partition
        metas.append(
            SegmentMeta(
                name=seg,
                generation=0,
                doc_count=n,
                sum_dl=int(dstat[f"sdl_{i}"] or 0),
                n_terms=int(pstat[f"t_{i}"] or 0),
                n_postings=int(pstat[f"p_{i}"] or 0),
                path=root,
            )
        )
    obs = {
        "docs": int(dstat["n"]),
        "postings": int(pstat["postings"]),
    }
    if cached is not None:
        cached.unpersist(blocking=True)
    return metas, obs


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
