"""Log-structured segment merge (SURVEY.md D3) + index-level deletes (W3).

Mirrors Lucene's merge behind the reference's bulk flushes: k immutable
segments are rewritten into one that keeps exactly one copy of each
document — the copy from the newest commit (segment ``seq``, see
segments.py), the index-level continuation of the connector's external
versioning (W4) — minus any tombstoned documents.

Every caller (``reconcile_updates``, ``auto_merge``, streaming
backpressure, tombstone deletes) runs the same shape. The stored packed
rows move as they are; nothing is exploded to one row per posting:

  losers    (seg, doc_id, dl) of every copy the merge drops: the older
            copies of a re-ingested doc and the tombstoned docs. Callers
            that know them pass them in (reconcile's probe); otherwise a
            driver-side pyarrow scan of the inputs' doc ids finds the
            duplicated ones, and the driver ranks their copies by (seq,
            segment name).
  docs      union of the inputs' docs, minus the losers (a per-segment
            ``doc_id IN (...)`` filter in the scan stage).
  postings  stored packed rows → mapInArrow loser filter (a row holding a
            loser is decoded, filtered and re-encoded as a level-1
            partial; every other row passes through byte-identical)
            → repartition(term) → the build's level-2 sorted-run merge
            (indexer._make_merge_stream rebuilds df/max_tf/block_max).
  positions per-doc blobs minus the losers (the same filter), re-packed
            with fresh skip data (positions.repack_positions).
  commit    one manifest entry with ``replaces=[inputs]``; doc stats are
            manifest arithmetic minus the losers' count and Σdl, term
            stats ride the postings write as an Observation.

Old segment directories are left in place (immutable); the manifest marks
them dead, so a crashed merge is invisible and a re-run is idempotent —
exactly the reference's retry-safe bulk semantics (B5).
"""

from __future__ import annotations

import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.indexer import (
    PARTIAL_COLS,
    PARTIAL_SCHEMA,
    _make_merge_stream,
)
from kafka_connect_opensearch_spark.operators.segments import (
    DOCS_COLUMNS,
    POSTINGS_SCHEMA,
    BuildMetrics,
    SegmentMeta,
    SegmentStore,
)
from kafka_connect_opensearch_spark.retry import call_with_retries


def tiered_merge_candidates(
    segments: list[SegmentMeta], merge_factor: int = 4
) -> list[str]:
    """Size-tiered merge policy (Lucene TieredMergePolicy shape): segments
    are binned by ``floor(log_mf(doc_count))``; the first (smallest) tier
    holding ≥ merge_factor segments yields its merge_factor smallest
    members. Smallest-first keeps write amplification logarithmic: each
    document is rewritten O(log_mf(N)) times over the index's lifetime."""
    import math

    tiers: dict[int, list[SegmentMeta]] = {}
    for m in segments:
        tier = int(math.log(max(m.doc_count, 1), merge_factor))
        tiers.setdefault(tier, []).append(m)
    for tier in sorted(tiers):
        if len(tiers[tier]) >= merge_factor:
            picked = sorted(tiers[tier], key=lambda m: (m.doc_count, m.name))
            return [m.name for m in picked[:merge_factor]]
    return []


def auto_merge(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
) -> BuildMetrics:
    """Run the tiered policy to a fixed point: merge while any tier trips.

    This is the engine's analog of the reference's automatic flush/merge
    cadence (BulkProcessor, OpenSearchClient.java:145-155) — without it a
    long-running incremental ingest accumulates unbounded segment count and
    query-side unions grow linearly. Idempotent and crash-safe: each merge
    is an atomic manifest commit; a re-run just continues."""
    config = config or EngineConfig()
    total = BuildMetrics()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    while True:
        names = tiered_merge_candidates(
            store.active_segments(), config.merge_factor
        )
        if not names:
            break
        m = merge_segments(spark, index_dir, config, segment_names=names)
        total.docs_indexed += m.docs_indexed
        total.postings_written += m.postings_written
        total.segments_built += m.segments_built
        total.segments_merged += m.segments_merged
    total.wall_secs = time.monotonic() - t0
    return total


def _scan_docs(
    store: SegmentStore,
    metas: list[SegmentMeta],
    field: str | None = None,
    values=(),
) -> pd.DataFrame:
    """(seg, doc_id, dl) of the docs of ``metas`` — all of them when
    ``field`` is None, else those whose ``field`` is in ``values``. A
    driver-side pyarrow scan of each segment's docs files that applies the
    filter while streaming, so memory is bounded by the matches. Starts no
    Spark job."""
    import pyarrow.dataset as pads

    segs, ids, dls = [], [np.empty(0, dtype=np.int64)], [
        np.empty(0, dtype=np.int64)]
    if field is None or len(values):
        flt = None if field is None else pads.field(field).isin(
            pa.array(values))
        for m in metas:
            if m.doc_count == 0:
                continue  # an empty wave segment writes no files
            t = pads.dataset(
                store.segment_files(m, "docs"), format="parquet"
            ).to_table(columns=["doc_id", "dl"], filter=flt)
            segs += [m.name] * t.num_rows
            ids.append(t["doc_id"].to_numpy().astype(np.int64))
            dls.append(t["dl"].to_numpy().astype(np.int64))
    return pd.DataFrame({"seg": pd.Series(segs, dtype=object),
                         "doc_id": np.concatenate(ids),
                         "dl": np.concatenate(dls)})


def resolve_losers(
    store: SegmentStore, metas: list[SegmentMeta], doc_ids
) -> tuple[pd.DataFrame, list[str]]:
    """Rank every copy of ``doc_ids`` held by ``metas``: the copy in the
    segment with the highest (seq, name) wins, all others lose.

    Returns (losers as (seg, doc_id, dl) rows, sorted names of the
    segments that hold a doc with two or more copies)."""
    rows = _scan_docs(store, metas, "doc_id", doc_ids)
    if rows.empty:
        return rows, []
    rank = {
        m.name: i
        for i, m in enumerate(sorted(metas, key=lambda m: (m.seq, m.name)))
    }
    ids = rows["doc_id"].to_numpy()
    order = np.lexsort((rows["seg"].map(rank).to_numpy(), ids))
    rows, ids = rows.iloc[order].reset_index(drop=True), ids[order]
    change = ids[1:] != ids[:-1]
    last = np.append(change, True)      # the top-ranked copy of each id
    first = np.insert(change, 0, True)
    dup_segs = sorted(set(rows["seg"][~(first & last)]))
    return rows[~last].reset_index(drop=True), dup_segs


def _duplicate_ids(
    store: SegmentStore, metas: list[SegmentMeta]
) -> np.ndarray:
    """Doc ids held by two or more of ``metas`` — a driver-side pyarrow
    scan of their docs files (:func:`_scan_docs`); starts no Spark job."""
    ids, counts = np.unique(
        _scan_docs(store, metas)["doc_id"].to_numpy(), return_counts=True
    )
    return ids[counts > 1]


def drop_losers(
    rb: pa.RecordBatch, losers: dict[str, np.ndarray]
) -> pa.Table:
    """Loser filter over stored packed postings rows.

    ``rb``: (term, seg, doc_ids, tfs, dls) rows; ``losers``: segment name
    → doc ids to drop from that segment's rows. Returns a table of
    level-1 partial rows (term, doc_ids, tfs, dls): a row without a loser
    passes through byte-identical; a row holding one is decoded, filtered
    and re-encoded (delta doc ids, reset per row); a row that loses all
    its docs disappears."""
    import pyarrow.compute as pc

    verbatim = np.ones(rb.num_rows, dtype=bool)
    new_rows = []
    segs = rb.column("seg")
    for seg, dead in losers.items():
        rows = np.flatnonzero(
            pc.equal(segs, seg).to_numpy(zero_copy_only=False)
        )
        if not rows.size:
            continue
        idx = pa.array(rows)

        def decode(col):
            return codec.varint_decode_concat(
                rb.column(col).take(idx).to_pylist()
            )

        d_vals, d_row = decode("doc_ids")
        ids = codec.cumsum_with_resets(
            d_vals, np.flatnonzero(np.insert(d_row[1:] != d_row[:-1], 0, True))
        )
        hit = np.isin(ids, dead)
        if not hit.any():
            continue
        touched = np.zeros(rows.size, dtype=bool)
        touched[d_row[hit]] = True
        verbatim[rows[touched]] = False
        keep = touched[d_row] & ~hit
        if not keep.any():
            continue
        t_vals, l_vals = decode("tfs")[0], decode("dls")[0]
        ids, row_of = ids[keep], d_row[keep]
        starts = np.flatnonzero(np.insert(row_of[1:] != row_of[:-1], 0, True))
        deltas = ids.copy()
        deltas[1:] -= ids[:-1]
        deltas[starts] = ids[starts]
        new_rows.append(pa.RecordBatch.from_arrays(
            [
                rb.column("term").take(pa.array(rows[row_of[starts]])),
                *[
                    pa.array(codec.varint_encode_grouped(v, starts),
                             type=rb.schema.field(c).type)
                    for c, v in (("doc_ids", deltas.astype("uint64")),
                                 ("tfs", t_vals[keep]),
                                 ("dls", l_vals[keep]))
                ],
            ],
            names=PARTIAL_COLS,
        ))
    return pa.Table.from_batches(
        [rb.filter(pa.array(verbatim)).select(PARTIAL_COLS), *new_rows]
    )


def _live(seg_col: str, by_seg: dict[str, np.ndarray]):
    """Filter expression keeping rows whose (segment, doc_id) is not a
    loser: one ``doc_id IN (...)`` set per loser segment, evaluated in the
    scan stage — no join, no exchange. Loser sets are a batch's overlaps
    or a tombstone batch, small enough to live in the plan."""
    lost = F.lit(False)
    for seg, ids in by_seg.items():
        lost = lost | (
            (F.col(seg_col) == seg) & F.col("doc_id").isin(ids.tolist())
        )
    return ~lost


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
    segment_names: list[str] | None = None,
    delete_doc_keys: DataFrame | None = None,
    losers: pd.DataFrame | None = None,
) -> BuildMetrics:
    """Merge ``segment_names`` (default: all active) into one new segment.

    ``delete_doc_keys``: optional single-column ``doc_key`` frame — those
    documents are dropped during the rewrite (tombstone semantics W3,
    DataConverter.java:122-139 re-cast as an index-maintenance op). The
    keys are collected to the driver (a tombstone batch, not a corpus).

    ``losers``: the (seg, doc_id, dl) copies to drop, when the caller
    already knows them (``reconcile_updates``); None finds the inputs'
    duplicated docs with a driver-side scan (no Spark job).
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    segs = {s.name: s for s in store.active_segments()}
    names = segment_names or sorted(segs)
    if len(names) < 1:
        return BuildMetrics()
    metas = [segs[n] for n in names]
    new_gen = max(m.generation for m in metas) + 1
    # uuid suffix: epoch seconds alone collide when two same-generation
    # merges land within one second (back-to-back ingest() calls with
    # deletes), silently overwriting a segment directory
    seg_name = f"seg_g{new_gen}_m{int(time.time())}_{uuid.uuid4().hex[:8]}"

    if losers is None:
        dup = _duplicate_ids(store, metas) if len(metas) > 1 else []
        losers = resolve_losers(store, metas, dup)[0]
    dropped = losers[losers["seg"].isin(names)]
    if delete_doc_keys is not None:
        keys = [r[0] for r in
                delete_doc_keys.select("doc_key").distinct().collect()]
        dropped = pd.concat(
            [dropped, _scan_docs(store, metas, "doc_key", keys)],
            ignore_index=True,
        ).drop_duplicates(["seg", "doc_id"])
    by_seg = {s: g["doc_id"].to_numpy() for s, g in dropped.groupby("seg")}

    seg_path = store.segment_path(seg_name)
    docs = store.read_docs(spark, metas, with_seg=True)
    if by_seg:
        docs = docs.filter(_live("seg", by_seg))
    docs.select(*DOCS_COLUMNS).write.mode("overwrite").parquet(
        f"{seg_path}/docs.parquet"
    )

    partial = store.read_postings(spark, metas)
    if not by_seg:
        partial = partial.select(*PARTIAL_COLS)
    else:
        def filter_losers(batches):
            for rb in batches:
                yield from drop_losers(rb, by_seg).to_batches()

        partial = partial.select("term", "seg", "doc_ids", "tfs", "dls") \
            .mapInArrow(filter_losers, schema=PARTIAL_SCHEMA)
    l2 = partial.repartition(
        max(2, config.shuffle_partitions // 4), "term"
    ).sortWithinPartitions("term")
    post = l2.mapInPandas(
        _make_merge_stream(seg_name, config.block_size), schema=POSTINGS_SCHEMA
    )
    post_obs = Observation(f"{seg_name}_post")
    post.observe(
        post_obs,
        F.count(F.lit(1)).alias("t"),
        F.coalesce(F.sum("df"), F.lit(0)).alias("p"),
    ).write.mode("overwrite").parquet(f"{seg_path}/postings.parquet")

    if store.meta().get("positions"):
        # positions live in the same segments merges rewrite (Lucene
        # contract): per-doc blobs concatenate byte-for-byte — no position
        # value is re-encoded — and merged rows get fresh skip data
        from kafka_connect_opensearch_spark.operators import positions as pos

        decoded = pos.decode_positions_df(store.read_positions(spark, metas))
        if by_seg:
            decoded = decoded.filter(_live("_segname", by_seg))
        pos.repack_positions(
            decoded.select("term", "doc_id", "n_pos", "pos_blob"), config
        ).withColumn("seg", F.lit(seg_name)).select(
            "term", "seg", "part", "n_docs", "doc_ids", "pos_counts",
            "positions", "blk_max_doc", "blk_lens",
        ).withColumn(
            "rb", F.substring("term", 1, 1)
        ).write.partitionBy("rb").mode("overwrite").parquet(
            f"{seg_path}/positions.parquet"
        )

    prow = post_obs.get
    meta = SegmentMeta(
        name=seg_name,
        generation=new_gen,
        doc_count=sum(m.doc_count for m in metas) - len(dropped),
        sum_dl=sum(m.sum_dl for m in metas) - int(dropped["dl"].sum()),
        n_terms=int(prow["t"]),
        n_postings=int(prow["p"]),
        # the newest content it holds, not when the merge ran: a merge
        # committed after a newer ingest must not outrank that ingest
        seq=max(m.seq for m in metas),
    )
    store.write_segmeta(meta)
    call_with_retries(
        f"commit merge {seg_name}",
        lambda: store.commit_batch(
            f"merge_{seg_name}",
            {"batch": f"merge_{seg_name}", "segments": [meta.__dict__],
             "replaces": names},
        ),
        max_retries=config.max_retries,
        retry_backoff_ms=config.retry_backoff_ms,
    )
    out = BuildMetrics(
        docs_indexed=meta.doc_count,
        postings_written=meta.n_postings,
        segments_built=1,
        segments_merged=len(names),
    )
    out.wall_secs = time.monotonic() - t0
    return out


def reconcile_updates(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
    new_segment_names: list[str] | None = None,
) -> BuildMetrics | None:
    """Make cross-segment re-ingests visible latest-wins IMMEDIATELY.

    Lucene marks a superseded document deleted the moment its update
    commits (per-segment live-docs); until this runs, a doc re-ingested
    into a NEW segment coexists with its older copy — doc_count
    over-reports, searches return both rows, stale phrases still match.
    The engine's equivalent is a targeted merge of exactly the segments
    that share a doc_id, with the older copies passed to
    ``merge_segments`` as its losers.

    The overlap probe: ``new_segment_names`` (the streaming per-batch
    shape) reads the new segments' doc ids, then scans the ``doc_id``/
    ``dl`` columns of every live segment's docs files driver-side with
    pyarrow, filtered by ``isin(new ids)`` while streaming — O(batch)
    memory and no Spark job. None probes all active segments pairwise
    (the same driver-side scan over every segment's doc ids, then the
    same ranking). Copies rank by (seq, segment name): the newest
    commit wins. Returns the merge metrics, or None when there was
    nothing to do."""
    store = SegmentStore(index_dir)
    metas = store.active_segments()
    if len(metas) < 2:
        return None
    if new_segment_names:
        new = [m for m in metas if m.name in set(new_segment_names)]
        ids = _scan_docs(store, new)["doc_id"].to_numpy()
    else:
        ids = _duplicate_ids(store, metas)
    losers, names = resolve_losers(store, metas, ids)
    if not names:
        return None
    return merge_segments(spark, index_dir, config, segment_names=names,
                          losers=losers)
