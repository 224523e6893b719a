"""Positional index under the segment lifecycle: per-(term, doc) token
positions for TRUE phrase / proximity queries at the index level (no
source-table rescan).

Lucene keeps positions inside the same segments merges rewrite
(``IndexOptions.DOCS_AND_FREQS_AND_POSITIONS``); here each segment gets a
``positions.parquet`` beside its ``postings.parquet`` — built by the same
build pipelines (classic per-segment and bulk/wave), committed by the
same manifests, and rewritten by the same log-structured merges
(newest-commit-wins + tombstone deletes) — so positional
queries can never go stale against the frequency index. Enabled per
index via ``EngineConfig.index_positions`` (the per-field positions
flag of a Lucene mapping, re-cast per index).

Storage rows, term-sorted within files so ``term IN (...)`` prunes row
groups::

    term string, seg string, part long, n_docs long,
    doc_ids binary     -- delta varints, reset per row
    pos_counts binary  -- varint positions-per-doc, aligned with doc_ids
    positions binary   -- delta varints, reset at each doc boundary

``part`` is the pack partition (derived from the doc-hash repartition),
so rows are **doc-disjoint across (seg, part) groups**: a doc's entries
for every term live in exactly one group. Distributed phrase/NEAR
intersection therefore runs per (seg, part) group with exact
union-of-groups semantics — the per-shard phrase execution the reference
delegates to OpenSearch ``_search``
(helper/OpenSearchHelperClient.java:106-109).

Query execution mirrors ``bm25.IndexReader.search``'s adaptive split:
when the query terms' summed ``n_docs`` fits under ``local_threshold``
the coordinator scores a pyarrow-filtered scan directly (tens of ms, no
Spark job); heavier queries run ``groupBy(seg, part).applyInPandas``
over only the query terms' rows. Both paths share the same numpy
intersection functions, so results are identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.segments import SegmentStore

POSITIONS_SCHEMA = (
    "term string, seg string, part long, n_docs long, doc_ids binary, "
    "pos_counts binary, positions binary, blk_max_doc binary, "
    "blk_lens binary"
)

# Positional skip data (VERDICT r4 #2 — Lucene stores skip data IN the
# postings for the same reason): every packed row with more than
# _SKIP_BLOCK entries carries per-block metadata so one-shot distributed
# tasks can byte-slice all three varint streams to candidate blocks
# WITHOUT scanning a single non-candidate byte:
#   blk_max_doc — int64-LE array, last (absolute) doc_id of each block;
#   blk_lens    — int64-LE (doc_bytes, cnt_bytes, pos_bytes) triplets,
#                 the per-block byte length of each stream.
# Rows at or under one block store b"" (nothing to skip). Block k's docs
# lie in (blk_max_doc[k-1], blk_max_doc[k]], so candidate-block selection
# is two searchsorted calls against the rare term's doc list.
_SKIP_BLOCK = 128


def _varint_byte_lens(vals: np.ndarray) -> np.ndarray:
    """Byte length of each value's varint encoding, vectorized."""
    v = vals.astype(np.uint64, copy=True)
    out = np.ones(v.size, dtype=np.int64)
    v >>= np.uint64(7)
    while v.any():
        out += v > np.uint64(0)
        v >>= np.uint64(7)
    return out


def _block_skip_bytes(
    docs: np.ndarray,
    doc_len_ent: np.ndarray,
    cnt_len_ent: np.ndarray,
    pos_len_ent: np.ndarray,
    row_starts: np.ndarray,
    row_ends: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Per-row (blk_max_doc, blk_lens) serialized skip arrays — see the
    _SKIP_BLOCK comment for the layout. ``docs`` and the three per-entry
    byte-length arrays are entry-granular; rows tile them via
    ``row_starts``/``row_ends``."""
    maxdoc_out: list[bytes] = []
    lens_out: list[bytes] = []
    for s, e in zip(row_starts.tolist(), row_ends.tolist(), strict=True):
        n = e - s
        if n <= _SKIP_BLOCK:
            maxdoc_out.append(b"")
            lens_out.append(b"")
            continue
        bstarts = np.arange(0, n, _SKIP_BLOCK, dtype=np.int64)
        bends = np.minimum(bstarts + _SKIP_BLOCK, n)
        maxdoc_out.append(docs[s:e][bends - 1].astype("<i8").tobytes())
        lens_out.append(
            np.stack(
                [
                    np.add.reduceat(doc_len_ent[s:e], bstarts),
                    np.add.reduceat(cnt_len_ent[s:e], bstarts),
                    np.add.reduceat(pos_len_ent[s:e], bstarts),
                ],
                axis=1,
            ).astype("<i8").ravel().tobytes()
        )
    return maxdoc_out, lens_out


def _read_varint(buf: bytes) -> tuple[int, int]:
    """(value, bytes consumed) of the first varint in ``buf``."""
    val = 0
    shift = 0
    for i, byte in enumerate(buf):
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, i + 1
        shift += 7
    raise ValueError("truncated varint")


def _encode_varint(val: int) -> bytes:
    out = bytearray()
    while True:
        b = val & 0x7F
        val >>= 7
        if val:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)

DECODED_POSITIONS_SCHEMA = (
    "term string, _segname string, doc_id long, n_pos long, pos_blob binary"
)


# --------------------------------------------------------------------------
# build: Arrow pack (shared by classic per-segment and bulk/wave pipelines)
# --------------------------------------------------------------------------


def _pack_group_arrow(doc_id_arr, tokens_arr):
    """Core positions pack on Arrow arrays → [terms, n_docs, doc_ids,
    pos_counts, positions] or None for an empty group. One
    dictionary_encode + one lexsort; the only per-term Python is byte
    slicing inside :func:`codec.varint_encode_grouped`."""
    if len(doc_id_arr) == 0:
        return None
    la = tokens_arr
    if isinstance(la, pa.ChunkedArray):  # pragma: no cover — RB cols are flat
        la = la.combine_chunks()
    flat = la.flatten()  # slice-safe (offsets may not start at 0)
    if len(flat) == 0:
        return None
    offsets = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = offsets - offsets[0]
    counts = np.diff(offsets)
    doc_ids = doc_id_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    doc_rep = np.repeat(doc_ids, counts)
    # position of each occurrence within its doc
    pos = np.arange(len(flat), dtype=np.int64) - np.repeat(offsets[:-1], counts)
    dic = flat.dictionary_encode()
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    terms = dic.dictionary
    # stable sort: (term, doc) groups keep original (ascending) pos order
    order = np.lexsort((doc_rep, codes))
    codes_s, docs_s, pos_s = codes[order], doc_rep[order], pos[order]

    term_change = np.empty(codes_s.size, dtype=bool)
    term_change[0] = True
    np.not_equal(codes_s[1:], codes_s[:-1], out=term_change[1:])
    doc_change = term_change.copy()
    np.logical_or(doc_change[1:], docs_s[1:] != docs_s[:-1], out=doc_change[1:])
    term_starts = np.nonzero(term_change)[0]
    doc_starts = np.nonzero(doc_change)[0]

    # per-doc position deltas (reset at each doc boundary)
    pos_deltas = pos_s.copy()
    pos_deltas[1:] -= pos_s[:-1]
    pos_deltas[doc_starts] = pos_s[doc_starts]
    pos_bufs = codec.varint_encode_grouped(pos_deltas, term_starts)

    # per-term doc lists (docs are sorted within a term by the lexsort)
    first_docs = docs_s[doc_starts]
    doc_ends = np.append(doc_starts[1:], codes_s.size)
    occ_counts = doc_ends - doc_starts
    term_of_doc = np.searchsorted(term_starts, doc_starts, side="right") - 1
    tstart_of_doc = np.nonzero(
        np.concatenate(([True], term_of_doc[1:] != term_of_doc[:-1]))
    )[0]
    doc_deltas = first_docs.copy()
    doc_deltas[1:] -= first_docs[:-1]
    doc_deltas[tstart_of_doc] = first_docs[tstart_of_doc]
    docid_bufs = codec.varint_encode_grouped(doc_deltas, tstart_of_doc)
    count_bufs = codec.varint_encode_grouped(occ_counts, tstart_of_doc)
    n_docs_per_term = np.diff(np.append(tstart_of_doc, first_docs.size))

    # per-block skip data (see _SKIP_BLOCK): entry-granular byte lengths
    # of the three streams, tiled into blocks per term row
    pos_len_ent = np.add.reduceat(_varint_byte_lens(pos_deltas), doc_starts)
    blk_max, blk_lens = _block_skip_bytes(
        first_docs,
        _varint_byte_lens(doc_deltas),
        _varint_byte_lens(occ_counts),
        pos_len_ent,
        tstart_of_doc,
        np.append(tstart_of_doc[1:], first_docs.size),
    )

    return [
        terms.take(pa.array(codes_s[term_starts], type=pa.int64())).cast(
            pa.string()
        ),
        pa.array(n_docs_per_term, type=pa.int64()),
        pa.array(docid_bufs, type=pa.binary()),
        pa.array(count_bufs, type=pa.binary()),
        pa.array(pos_bufs, type=pa.binary()),
        pa.array(blk_max, type=pa.binary()),
        pa.array(blk_lens, type=pa.binary()),
    ]


def _pack_positions_by_seg(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow: (seg, part, doc_id, tokens) batches → packed positions
    rows. Each seg group within a batch packs independently; ``part`` is
    constant per input partition (spark_partition_id of the doc-hash
    spread) — the doc-disjointness key for distributed queries."""
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        part = rb.column("part")[0].as_py()
        segs = rb.column("seg")
        for seg in pc.unique(segs):
            sub = rb.filter(pc.equal(segs, seg))
            out = _pack_group_arrow(sub.column("doc_id"), sub.column("tokens"))
            if out is None:
                continue
            n = len(out[0])
            yield pa.RecordBatch.from_arrays(
                [
                    out[0],
                    pa.array([seg.as_py()] * n, type=pa.string()),
                    pa.array([part] * n, type=pa.int64()),
                    *out[1:],
                ],
                names=[
                    "term", "seg", "part", "n_docs",
                    "doc_ids", "pos_counts", "positions",
                    "blk_max_doc", "blk_lens",
                ],
            )


def build_segment_positions(
    analyzed: DataFrame, config: EngineConfig, seg_name: str | None = None
) -> DataFrame:
    """(doc_id, tokens[, seg]) → packed positions rows (POSITIONS_SCHEMA),
    repartitioned by (seg, term) and term-sorted so parquet row-group
    min/max stats prune query-term lookups.

    ``analyzed`` must already be doc-hash partitioned (the same spread the
    postings build uses): that partitioning IS the ``part`` doc-disjointness
    invariant. ``seg_name`` stamps a constant segment (classic per-segment
    build); None expects a ``seg`` column (bulk/wave pipeline)."""
    src = analyzed
    if seg_name is not None:
        src = src.withColumn("seg", F.lit(seg_name))
    src = src.withColumn("part", F.spark_partition_id().cast("long"))
    packed = src.select("seg", "part", "doc_id", "tokens").mapInArrow(
        _pack_positions_by_seg, schema=POSITIONS_SCHEMA
    )
    # ``rb`` (term's first character) is the file-clustering key: callers
    # write ``partitionBy(..., "rb")``, so every positions FILE covers one
    # narrow term range and a point-term read (cold phrase/NEAR query)
    # prunes to the query terms' buckets by parquet min/max stats instead
    # of decompressing the whole store (~87 MB at bench scale; r6 A/B on
    # a range-clustered layout read 2 hot terms in ~0.1 s vs ~1.1 s).
    # Sorting by (seg, rb, term) equals (seg, term) order — rb is a
    # prefix of term — and pre-satisfies the writer's dynamic-partition
    # sort so no second (unstable) sort is inserted.
    packed = packed.withColumn("rb", F.substring("term", 1, 1))
    return packed.repartition(
        max(2, config.shuffle_partitions // 2), "seg", "rb"
    ).sortWithinPartitions("seg", "rb", "term")


# --------------------------------------------------------------------------
# decode + matching cores (shared verbatim by local and distributed paths)
# --------------------------------------------------------------------------


# Headroom inside a doc slot for +1 chain arithmetic: phrases longer than
# this many tokens are rejected (no realistic phrase approaches it).
_KEY_MARGIN = 128

_EMPTY_KEYED: tuple[dict, np.ndarray, int] = (
    {}, np.empty(0, dtype=np.int64), _KEY_MARGIN + 2
)


def _group_codes(rows: pd.DataFrame) -> np.ndarray:
    """Int code per row identifying its doc-disjoint (seg, part) group."""
    return pd.factorize(
        rows["seg"].astype(str) + "\x1f" + rows["part"].astype(str)
    )[0].astype(np.int64)


def _skip_prune_rows(
    pdf: pd.DataFrame, required_all: list[str]
) -> pd.DataFrame:
    """Skip-data pre-filter for one doc-disjoint group: decode ONLY the
    rarest required term's doc list, then byte-slice every other row's
    three streams to the blocks whose (prev_max, max] doc range touches a
    candidate — non-candidate blocks are never scanned, let alone
    decoded. Emits one row per kept run of consecutive blocks (the run's
    first doc delta is rebased to absolute, so the output is a VALID
    packed frame and :func:`_decode_keyed` runs on it unchanged).

    Exact: a dropped block contains no doc carrying the rarest required
    term, so none of its docs can satisfy ``required_all``. Rows at or
    under one block (``blk_max_doc == b""``) pass through whole."""
    terms_arr = pdf["term"].to_numpy()
    nd_arr = pdf["n_docs"].to_numpy()
    totals: dict[str, int] = {}
    for t, n in zip(terms_arr, nd_arr.tolist(), strict=True):
        totals[t] = totals.get(t, 0) + int(n)
    if any(t not in totals for t in required_all):
        return pdf.iloc[0:0]
    rare = min(required_all, key=lambda t: totals[t])
    # selectivity gate: with ≥1 candidate per block on average, nothing
    # skips and the pre-filter is pure overhead (measured +33% on a
    # hot-hot 1M-entry frame vs −39% on rare+hot) — prune only when the
    # candidate list is sparse relative to the widest required term
    if totals[rare] * _SKIP_BLOCK >= max(
        totals[t] for t in required_all
    ):
        return pdf
    rmask = terms_arr == rare
    d_vals, d_row = codec.varint_decode_concat(list(pdf["doc_ids"][rmask]))
    if d_vals.size == 0:
        return pdf.iloc[0:0]
    row_change = np.empty(d_row.size, dtype=bool)
    row_change[0] = True
    np.not_equal(d_row[1:], d_row[:-1], out=row_change[1:])
    cand = np.unique(codec.cumsum_with_resets(
        d_vals.astype(np.int64), np.nonzero(row_change)[0]
    ))

    out: dict[str, list] = {c: [] for c in pdf.columns}

    def emit(row, **over):
        for c in pdf.columns:
            out[c].append(over.get(c, row[c]))

    for idx in range(len(pdf)):
        row = {c: pdf[c].iat[idx] for c in pdf.columns}
        if rmask[idx] or not row["blk_max_doc"]:
            emit(row)
            continue
        blk_max = np.frombuffer(row["blk_max_doc"], dtype="<i8")
        lens = np.frombuffer(row["blk_lens"], dtype="<i8").reshape(-1, 3)
        prev = np.concatenate(([np.iinfo(np.int64).min], blk_max[:-1]))
        keep = np.searchsorted(cand, blk_max, "right") > np.searchsorted(
            cand, prev, "right"
        )
        if keep.all():
            emit(row)
            continue
        if not keep.any():
            continue  # term absent from every candidate block → drop row
        nblocks = blk_max.size
        ent_counts = np.full(nblocks, _SKIP_BLOCK, dtype=np.int64)
        ent_counts[-1] = int(row["n_docs"]) - _SKIP_BLOCK * (nblocks - 1)
        doc_off = np.concatenate(([0], np.cumsum(lens[:, 0])))
        cnt_off = np.concatenate(([0], np.cumsum(lens[:, 1])))
        pos_off = np.concatenate(([0], np.cumsum(lens[:, 2])))
        kidx = np.nonzero(keep)[0]
        brk = np.diff(kidx) != 1
        run_s = kidx[np.concatenate(([True], brk))]
        run_e = kidx[np.concatenate((brk, [True]))]
        for rs, re_ in zip(run_s.tolist(), run_e.tolist(), strict=True):
            db = row["doc_ids"][doc_off[rs]:doc_off[re_ + 1]]
            if rs > 0:
                # the run's first varint is a delta from the PREVIOUS
                # block's last doc — rebase to absolute
                v, nb = _read_varint(db)
                db = _encode_varint(int(blk_max[rs - 1]) + v) + db[nb:]
            emit(
                row,
                n_docs=int(ent_counts[rs:re_ + 1].sum()),
                doc_ids=db,
                pos_counts=row["pos_counts"][cnt_off[rs]:cnt_off[re_ + 1]],
                positions=row["positions"][pos_off[rs]:pos_off[re_ + 1]],
                blk_max_doc=b"",
                blk_lens=b"",
            )
    return pd.DataFrame(out, columns=pdf.columns)


def _decode_keyed(
    pdf: pd.DataFrame,
    group_of_row: np.ndarray | None = None,
    required_all: list[str] | None = None,
    required_any: list[str] | None = None,
) -> tuple[dict[str, np.ndarray], np.ndarray, int]:
    """Packed rows → ``({term: sorted keyed positions}, doc_id lookup, M)``
    where ``key = slot·M + pos``, ``slot`` indexes the lookup array, and
    ``M`` exceeds every position by ≥ _KEY_MARGIN so chain (+1) / slop
    arithmetic never crosses a slot boundary.

    ``group_of_row``: optional int code per input row identifying its
    doc-disjoint (seg, part) group — slots then key on (group, doc), so
    ONE decode pass handles the whole coordinator read (hundreds of
    groups) with per-group-exact semantics and none of the per-group call
    overhead. None = the rows are already one group (distributed path:
    each applyInPandas task sees a single group).

    ``required_all`` / ``required_any``: candidate pre-filter — positions
    are decoded ONLY for docs carrying every ``required_all`` term and
    (when given) at least one ``required_any`` term. This is Lucene's
    lead-iterator behavior: a rare+stopword phrase decodes the stopword's
    positions only for the rare term's docs, not corpus-wide. Exact — a
    dropped doc is missing a required term and can never match. The doc
    and count streams (entry-level, ~positions/dl smaller) always decode
    in full; the position stream is byte-sliced per surviving entry
    (deltas reset per doc, so slices decode independently).

    Fully vectorized: one varint pass per column, one lexsort for slot
    assignment, one sort per query term — no per-doc Python."""
    if not len(pdf):
        return _EMPTY_KEYED
    if (
        required_all
        and group_of_row is None
        and "blk_max_doc" in pdf.columns
    ):
        # distributed task: skip-data pre-filter (VERDICT r4 #2) —
        # non-candidate blocks are byte-sliced away before ANY stream
        # scan; the coordinator path keeps its hot-term decode cache
        pdf = _skip_prune_rows(pdf, required_all)
        if not len(pdf):
            return _EMPTY_KEYED
    d_vals, d_row = codec.varint_decode_concat(list(pdf["doc_ids"]))
    if d_vals.size == 0:
        return _EMPTY_KEYED
    row_change = np.empty(d_row.size, dtype=bool)
    row_change[0] = True
    np.not_equal(d_row[1:], d_row[:-1], out=row_change[1:])
    ids = codec.cumsum_with_resets(
        d_vals.astype(np.int64), np.nonzero(row_change)[0]
    )
    c_vals, _ = codec.varint_decode_concat(list(pdf["pos_counts"]))
    cnts = c_vals.astype(np.int64)
    if group_of_row is None:
        lookup = np.unique(ids)
        slots = np.searchsorted(lookup, ids)
    else:
        gid = group_of_row[d_row]
        order = np.lexsort((ids, gid))
        new = np.empty(ids.size, dtype=bool)
        new[0] = True
        new[1:] = (gid[order][1:] != gid[order][:-1]) | (
            ids[order][1:] != ids[order][:-1]
        )
        slot_sorted = np.cumsum(new) - 1
        slots = np.empty(ids.size, dtype=np.int64)
        slots[order] = slot_sorted
        lookup = ids[order][new]

    # int term codes: string comparisons over the position stream would
    # cost ~100 ms per term on multi-million-position stopword lists
    tcodes, tuniq = pd.factorize(pdf["term"])
    tmap = {t: i for i, t in enumerate(tuniq)}
    entry_t = tcodes[d_row]

    keep = None
    if required_all or required_any:
        n_slots = lookup.size
        ok = np.ones(n_slots, dtype=bool)
        for t in required_all or []:
            ci = tmap.get(t)
            if ci is None:
                return _EMPTY_KEYED
            has = np.zeros(n_slots, dtype=bool)
            has[slots[entry_t == ci]] = True
            ok &= has
        if required_any:
            anyh = np.zeros(n_slots, dtype=bool)
            for t in required_any:
                ci = tmap.get(t)
                if ci is not None:
                    anyh[slots[entry_t == ci]] = True
            ok &= anyh
        keep = ok[slots]
        if not keep.any():
            return _EMPTY_KEYED
        if keep.sum() >= _PRUNE_THRESHOLD * keep.size:
            keep = None          # near-no-op prune: slicing costs more

    raw = b"".join(pdf["positions"])
    if keep is None:
        p_vals = codec.varint_decode(raw)
    else:
        arr = np.frombuffer(raw, dtype=np.uint8)
        vend = np.nonzero((arr & 0x80) == 0)[0]
        byte_ends = vend[np.cumsum(cnts) - 1] + 1
        byte_starts = np.concatenate(([0], byte_ends[:-1]))
        p_vals = codec.varint_decode(
            b"".join(
                raw[int(s):int(e)]
                for s, e in zip(byte_starts[keep], byte_ends[keep],
                                strict=True)
            )
        )
        cnts, slots, entry_t = cnts[keep], slots[keep], entry_t[keep]
    starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
    pos = codec.cumsum_with_resets(p_vals.astype(np.int64), starts)
    M = (int(pos.max()) if pos.size else 0) + 2 + _KEY_MARGIN
    keys = np.repeat(slots, cnts) * M + pos
    code_of_pos = np.repeat(entry_t, cnts)
    out: dict[str, np.ndarray] = {}
    for ci, t in enumerate(tuniq):
        k = keys[code_of_pos == ci]
        # entries within a row are doc-ascending, so k is usually a few
        # ascending runs (often exactly one); the O(n) check beats an
        # unconditional O(n log n) sort on multi-million-position terms
        if k.size > 1 and not (k[1:] >= k[:-1]).all():
            k.sort()
        out[t] = k
    return out, lookup, M


# --------------------------------------------------------------------------
# hot-term decode cache (coordinator path)
#
# Hot-hot phrases ("of the") are decode-bound: the required_all pre-filter
# cannot shrink either list, so every query re-pays ~120 ms per million
# positions of varint work. Lucene's answer is positional skip data; the
# coordinator-local analog here is caching each hot term's DECODED arrays
# per reader snapshot and rebuilding only the (query-relative) keys per
# query — a lexsort over entries plus one repeat/add over positions,
# roughly an order of magnitude cheaper than the decode it replaces.
# The cached form is keying-independent: (canonical group id, doc_id,
# pos_count) per entry plus absolute positions, so any mix of query terms
# can share one slot space. Distributed tasks never cache (one-shot
# processes); the local fallback for all-cold queries is the byte-slicing
# _decode_keyed path unchanged.
# --------------------------------------------------------------------------


# Canonical per-snapshot keying (round 5): when every query term is hot-
# cached, even the per-query key assembly (lexsort + repeat/mult/add over
# millions of positions, ~100 ms at 4M positions) can be skipped — each
# cached term's FULL sorted key array is built once at cache-fill against
# a snapshot-stable slot space: slot = gid·R + rank(doc) over the
# corpus's sorted doc enumeration (R docs), key = slot·_CANON_M + pos.
# Guards (any failure → the existing assembly path, bit-identical):
#   - corpus ≤ _CANON_MAX_DOCS (the doc enumeration is a coordinator
#     array — the same per-node bound a Lucene shard lives under);
#   - every doc length < _CANON_M − margin; key space fits int64;
#   - entries arrive (gid, doc)-sorted (true for the sorted coordinator
#     read; verified, not assumed).
_CANON_M = 1 << 21
_CANON_MAX_DOCS = 10_000_000

# candidate pre-filters are pure optimizations for the matching cores
# (a doc missing a required term can never produce a chain/pair); when a
# filter would keep ≥ this fraction of entries, re-slicing the position
# streams costs more than it saves, so the full arrays pass through
_PRUNE_THRESHOLD = 0.98


class _CanonLookup:
    """slot → doc_id view over the canonical slot space (slot = gid·R +
    rank): supports exactly the fancy-indexing the matching cores use."""

    __slots__ = ("_docs", "_r")

    def __init__(self, docs: np.ndarray):
        self._docs = docs
        self._r = docs.size

    def __getitem__(self, idx):
        return self._docs[np.asarray(idx) % self._r]


def _gather_ranges(
    arr: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Concatenate ``arr[starts[i]:starts[i]+lens[i]]`` slices, vectorized."""
    if lens.size == 0:
        return arr[:0]
    total = int(lens.sum())
    if total == 0:
        return arr[:0]
    ends = np.cumsum(lens)
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(ends - lens, lens)
        + np.repeat(starts, lens)
    )
    return arr[idx]


def _rows_to_parts(
    rows: pd.DataFrame, gid_of_row: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One term's packed rows → ``(gid, doc_ids, pos_counts, positions)``
    entry-aligned arrays (positions absolute, resetting per entry). The
    cacheable decoded form — no query-relative keying."""
    d_vals, d_row = codec.varint_decode_concat(list(rows["doc_ids"]))
    if d_vals.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e, e
    row_change = np.empty(d_row.size, dtype=bool)
    row_change[0] = True
    np.not_equal(d_row[1:], d_row[:-1], out=row_change[1:])
    # uint64 decode outputs are < 2^63 by construction — reinterpret
    # (zero-copy view), don't astype-copy; this is the cold-path decode
    ids = codec.cumsum_with_resets(d_vals, np.nonzero(row_change)[0])
    c_vals, _ = codec.varint_decode_concat(list(rows["pos_counts"]))
    cnts = c_vals.view(np.int64)
    p_vals = codec.varint_decode(b"".join(rows["positions"]))
    starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
    pos = codec.cumsum_with_resets(p_vals, starts)
    gid = gid_of_row[d_row]
    return gid, ids, cnts, pos


def _keyed_from_parts(
    parts: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]],
    required_all: list[str] | None = None,
    required_any: list[str] | None = None,
) -> tuple[dict[str, np.ndarray], np.ndarray, int]:
    """Assemble the query-relative ``(keyed, lookup, M)`` from per-term
    decoded parts — semantics identical to :func:`_decode_keyed` (same
    slot construction, same required_all/any pre-filter), but with every
    varint already paid."""
    terms = [t for t in parts if parts[t][1].size]
    if not terms:
        return _EMPTY_KEYED
    sizes = [parts[t][1].size for t in terms]
    offs = np.concatenate(([0], np.cumsum(sizes)))
    gid_all = np.concatenate([parts[t][0] for t in terms])
    ids_all = np.concatenate([parts[t][1] for t in terms])
    order = np.lexsort((ids_all, gid_all))
    new = np.empty(ids_all.size, dtype=bool)
    new[0] = True
    new[1:] = (gid_all[order][1:] != gid_all[order][:-1]) | (
        ids_all[order][1:] != ids_all[order][:-1]
    )
    slots_all = np.empty(ids_all.size, dtype=np.int64)
    slots_all[order] = np.cumsum(new) - 1
    lookup = ids_all[order][new]
    slot_t = {
        t: slots_all[offs[i]:offs[i + 1]] for i, t in enumerate(terms)
    }

    ok = None
    if required_all or required_any:
        n_slots = lookup.size
        ok = np.ones(n_slots, dtype=bool)
        for t in required_all or []:
            if t not in slot_t:
                return _EMPTY_KEYED
            has = np.zeros(n_slots, dtype=bool)
            has[slot_t[t]] = True
            ok &= has
        if required_any:
            anyh = np.zeros(n_slots, dtype=bool)
            for t in required_any:
                if t in slot_t:
                    anyh[slot_t[t]] = True
            ok &= anyh
        if not ok.any():
            return _EMPTY_KEYED
        if ok.all():
            ok = None

    mx = 0
    for t in terms:
        p = parts[t][3]
        if p.size:
            mx = max(mx, int(p.max()))
    M = mx + 2 + _KEY_MARGIN
    out: dict[str, np.ndarray] = {}
    for t in terms:
        _gid, _ids, cnts, pos = parts[t]
        st = slot_t[t]
        if ok is not None:
            keep = ok[st]
            if keep.sum() < _PRUNE_THRESHOLD * keep.size:
                starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
                lens = cnts[keep]
                k = (
                    np.repeat(st[keep], lens) * M
                    + _gather_ranges(pos, starts[keep], lens)
                )
                if k.size > 1 and not (k[1:] >= k[:-1]).all():
                    k.sort()
                out[t] = k
                continue
        k = np.repeat(st, cnts) * M + pos
        if k.size > 1 and not (k[1:] >= k[:-1]).all():
            k.sort()
        out[t] = k
    return out, lookup, M


def _uniq_sorted(a: np.ndarray) -> np.ndarray:
    """``np.unique`` for an already-sorted array — one O(n) pass instead
    of a re-sort (keyed arrays are sorted by construction; on multi-
    million-position stopword lists the sort was the measured tail)."""
    if a.size <= 1:
        return a
    keep = np.empty(a.size, dtype=bool)
    keep[0] = True
    np.not_equal(a[1:], a[:-1], out=keep[1:])
    return a[keep]


def _uniq_counts_sorted(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unique values, run lengths) of a sorted array, one O(n) pass."""
    if a.size == 0:
        return a, np.empty(0, dtype=np.int64)
    new = np.empty(a.size, dtype=bool)
    new[0] = True
    np.not_equal(a[1:], a[:-1], out=new[1:])
    starts = np.nonzero(new)[0]
    counts = np.diff(np.append(starts, a.size))
    return a[starts], counts


def _isect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Values of sorted-unique ``a`` present in sorted-unique ``b``.
    One ``searchsorted`` (O(|a|·log|b|)) — ``np.intersect1d`` re-sorts the
    concatenation even when both inputs are sorted, which dominated the
    hot-hot phrase chain once decode was cached."""
    if a.size == 0 or b.size == 0:
        return a[:0]
    idx = np.searchsorted(b, a)
    idx[idx == b.size] = b.size - 1
    return a[b[idx] == a]


def _phrase_occ_keyed(
    keyed: dict[str, np.ndarray],
    lookup: np.ndarray,
    M: int,
    terms: list[str],
) -> pd.DataFrame:
    """(doc_id, tf) of phrase matches — tf counts consecutive-position
    chains (overlapping occurrences count, matching the SQL chain-join
    oracle). The WHOLE group intersects at once: one sorted intersection
    per chain step over keyed positions, never a per-doc loop."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "tf": pd.Series([], dtype="int64")}
    )
    if len(terms) >= _KEY_MARGIN:
        raise ValueError(f"phrase longer than {_KEY_MARGIN} tokens")
    if any(t not in keyed for t in terms):
        return empty
    live = keyed[terms[0]]
    for t in terms[1:]:
        if live.size == 0:
            return empty
        live = _isect_sorted(live + 1, keyed[t])
    if live.size == 0:
        return empty
    slots, counts = _uniq_counts_sorted(live // M)
    return pd.DataFrame(
        {"doc_id": lookup[slots].astype("int64"),
         "tf": counts.astype("int64")}
    )


def _phrase_prefix_hits_keyed(
    keyed: dict[str, np.ndarray],
    lookup: np.ndarray,
    M: int,
    lead: list[str],
    expansions: list[str],
) -> np.ndarray:
    """doc_ids where the ``lead`` tokens form a consecutive chain whose
    next position holds ANY of the ``expansions`` (match_phrase_prefix
    semantics after the last token's dictionary expansion)."""
    exp_present = [t for t in expansions if t in keyed]
    if not exp_present:
        return np.empty(0, dtype=np.int64)
    if not lead:
        allk = np.concatenate([keyed[t] for t in exp_present])
        return lookup[np.unique(allk // M)].astype(np.int64)
    if any(t not in keyed for t in lead):
        return np.empty(0, dtype=np.int64)
    live = keyed[lead[0]]
    for t in lead[1:]:
        if live.size == 0:
            return np.empty(0, dtype=np.int64)
        live = _isect_sorted(live + 1, keyed[t])
    if live.size == 0:
        return np.empty(0, dtype=np.int64)
    nxt = live + 1
    hits = [
        _isect_sorted(nxt, keyed[t])
        for t in exp_present
    ]
    allk = np.concatenate(hits)
    if allk.size == 0:
        return np.empty(0, dtype=np.int64)
    return lookup[np.unique(allk // M)].astype(np.int64)


def _slots_of(keys: np.ndarray, M: int) -> np.ndarray:
    """keys // M, specialized to a bitshift when M is a power of two
    (the canonical key space) — int64 floor division over multi-million
    element arrays is ~5-10× slower than the shift."""
    if M & (M - 1) == 0:
        return keys >> (M.bit_length() - 1)
    return keys // M


def _sloppy_pair_docs_keyed(
    keyed: dict[str, np.ndarray],
    lookup: np.ndarray,
    M: int,
    term_a: str,
    term_b: str,
    slop: int,
) -> np.ndarray:
    """doc_ids matching the two-term sloppy phrase "a b" with ``slop``
    total moves: forward pair costs ``pb − pa − 1``, reversed pair costs
    ``pa − pb + 1``. Vectorized like :func:`_near_docs_keyed` — nearest
    B neighbors of each A occurrence via one searchsorted, same-slot
    masked; identical terms reduce to the consecutive-occurrence gap."""
    ka = keyed.get(term_a)
    kb = keyed.get(term_b)
    if ka is None or kb is None or ka.size == 0 or kb.size == 0:
        return np.empty(0, dtype=np.int64)
    if term_a == term_b:
        if ka.size < 2:
            return np.empty(0, dtype=np.int64)
        d = ka[1:] - ka[:-1]
        sa = _slots_of(ka, M)
        hit = (sa[1:] == sa[:-1]) & (d <= slop + 1)
        if not hit.any():
            return np.empty(0, dtype=np.int64)
        return lookup[_uniq_sorted(sa[:-1][hit])].astype(np.int64)
    idx = np.searchsorted(kb, ka)
    sa = _slots_of(ka, M)
    sb = _slots_of(kb, M)
    hit = np.zeros(ka.size, dtype=bool)
    right = idx < kb.size
    if right.any():
        idr = idx[right]
        # forward: b strictly after a, moves = nb-av-1 ≤ slop
        hit[right] = (sb[idr] == sa[right]) & (
            kb[idr] - ka[right] <= slop + 1
        )
    if slop >= 2:
        left = idx > 0
        if left.any():
            idl = idx[left] - 1
            # reversed: b before a, moves = av-nb+1 ≤ slop
            hit[left] |= (sb[idl] == sa[left]) & (
                ka[left] - kb[idl] <= slop - 1
            )
    if not hit.any():
        return np.empty(0, dtype=np.int64)
    return lookup[_uniq_sorted(sa[hit])].astype(np.int64)


def _near_docs_keyed(
    keyed: dict[str, np.ndarray],
    lookup: np.ndarray,
    M: int,
    term_a: str,
    term_b: str,
    slop: int,
    ordered: bool = False,
) -> np.ndarray:
    """doc_ids where the two terms occur within ``slop`` positions.
    Vectorized across ALL docs: for every occurrence of A, its key-order
    neighbors in B are the nearest B positions within the same doc (key
    order = position order inside a doc slot); cross-doc neighbors are
    masked by an explicit same-slot check, so any slop value is exact.

    ``ordered=True`` is span_near's ``in_order``: only B occurrences AFTER
    the A occurrence count (the left-neighbor check is skipped)."""
    ka = keyed.get(term_a)
    kb = keyed.get(term_b)
    if ka is None or kb is None or ka.size == 0 or kb.size == 0:
        return np.empty(0, dtype=np.int64)
    if term_a == term_b:
        # span_near needs two DISTINCT spans: an occurrence may not match
        # itself (searchsorted would find it at distance 0). Neighbor =
        # the NEXT occurrence of the same list; checking only the right
        # neighbor is complete for unordered too (the pair (i, i+1) is
        # found from i), and is exactly in_order for ordered.
        if ka.size < 2:
            return np.empty(0, dtype=np.int64)
        d = ka[1:] - ka[:-1]
        sa = _slots_of(ka, M)
        hit = (sa[1:] == sa[:-1]) & (d <= slop)
        if not hit.any():
            return np.empty(0, dtype=np.int64)
        return lookup[_uniq_sorted(sa[:-1][hit])].astype(np.int64)
    idx = np.searchsorted(kb, ka)
    sa = _slots_of(ka, M)
    sb = _slots_of(kb, M)
    hit = np.zeros(ka.size, dtype=bool)
    right = idx < kb.size
    if right.any():
        idr = idx[right]
        hit[right] = (sb[idr] == sa[right]) & (
            kb[idr] - ka[right] <= slop
        )
    if not ordered:
        left = idx > 0
        if left.any():
            idl = idx[left] - 1
            hit[left] |= (sb[idl] == sa[left]) & (
                ka[left] - kb[idl] <= slop
            )
    if not hit.any():
        return np.empty(0, dtype=np.int64)
    return lookup[_uniq_sorted(sa[hit])].astype(np.int64)


# --------------------------------------------------------------------------
# query-side reader (adaptive local / distributed, mirrors bm25.IndexReader)
# --------------------------------------------------------------------------


class PositionsReader:
    """Query-side view of an index's positional store (manifest-driven:
    reads exactly the active segments, so merges/deletes are visible the
    moment their manifest commits)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 use_dsv2: bool = False):
        self.spark = spark
        self.store = SegmentStore(index_dir)
        self._use_dsv2 = use_dsv2
        meta = self.store.meta()
        if not meta.get("positions"):
            raise ValueError(
                f"index at {index_dir} was built without positions "
                "(EngineConfig.index_positions=False)"
            )
        self.k1 = float(meta["k1"])
        self.b = float(meta["b"])
        self._segments = self.store.active_segments()
        self._stats = self.store.global_stats()
        self._datasets = None
        # hot-term decode cache: term → decoded parts for THIS manifest
        # snapshot; refresh() (new commits/merges) drops it wholesale.
        self.hot_min_entries = 10_000
        self.cache_max_values = 32_000_000  # ≈ 0.5 GB of int64 arrays
        self._term_cache: dict[str, tuple] = {}
        self._cache_values = 0
        self._group_ids: dict[tuple[str, int], int] = {}
        self._scan_files: dict[str, list] = {}  # DSv2 pinned file lists
        self._df_cache: dict[str, DataFrame] = {}  # resolved-scan reuse
        self._dsv2_ok: bool | None = None
        # canonical keying (see _CANON_M block): doc enumeration + per-
        # term prebuilt key arrays, all snapshot-scoped
        self._doc_ranks: np.ndarray | bool | None = None
        self._canon_cache: dict[str, tuple] = {}
        self._entries_cache: dict[str, int] = {}  # term-dictionary memo

    def refresh(self) -> None:
        """Re-read the manifest (after new commits/merges)."""
        self._segments = self.store.active_segments()
        self._stats = self.store.global_stats()
        self._datasets = None
        self._term_cache.clear()
        self._cache_values = 0
        self._group_ids.clear()
        self._scan_files = {}
        self._df_cache = {}
        self._doc_ranks = None
        self._canon_cache.clear()
        self._entries_cache = {}

    def _positions_datasets(self):
        """Cached pyarrow dataset handles (coordinator path) — mirrors
        bm25.IndexReader._postings_datasets: discovery costs hundreds of
        ms on many-file stores and must not be paid per query."""
        if self._datasets is None:
            import pyarrow.dataset as pads

            scans = []
            bulk: dict[str, list[str]] = {}
            for s in self._segments:
                if s.path:
                    bulk.setdefault(s.path, []).append(s.name)
                else:
                    scans.append(
                        (
                            f"{self.store.segment_path(s.name)}"
                            "/positions.parquet",
                            None,
                        )
                    )
            scans += [
                (f"{root}/positions.parquet", names)
                for root, names in bulk.items()
            ]
            self._datasets = [
                (pads.dataset(p, format="parquet", partitioning="hive"), names)
                for p, names in scans
            ]
        return self._datasets

    def term_entries(self, terms: list[str]) -> dict[str, int]:
        """Summed ``n_docs`` per term across active segments — the
        term-dictionary lookup that drives the local/distributed split.
        Reads only the (term, n_docs) columns of the query terms' row
        groups (predicate pushdown on the sorted term column); results
        memoized per manifest snapshot (a repeated hot query must not
        re-pay the dictionary scan)."""
        import pyarrow.dataset as pads

        missing = [t for t in terms if t not in self._entries_cache]
        if missing:
            out: dict[str, int] = dict.fromkeys(missing, 0)
            for dset, names in self._positions_datasets():
                flt = pads.field("term").isin(missing)
                if names is not None:
                    flt = flt & pads.field("seg").isin(names)
                tbl = dset.to_table(columns=["term", "n_docs"], filter=flt)
                for t, n in zip(
                    tbl["term"].to_pylist(), tbl["n_docs"].to_pylist(),
                    strict=True,
                ):
                    out[t] += int(n)
            self._entries_cache.update(out)
        return {
            t: self._entries_cache[t]
            for t in terms
            if self._entries_cache.get(t, 0) > 0
        }

    def _local_rows(self, terms: list[str]) -> pd.DataFrame:
        """Coordinator-side scatter-gather of the query terms' rows."""
        import pyarrow.dataset as pads

        cols = [
            "term", "seg", "part", "n_docs",
            "doc_ids", "pos_counts", "positions",
        ]
        parts = []
        for dset, names in self._positions_datasets():
            flt = pads.field("term").isin(terms)
            if names is not None:
                flt = flt & pads.field("seg").isin(names)
            # blk_* skip columns ride along when the store has them; the
            # hive "rb" clustering column is excluded (metadata, and its
            # narrow per-file term ranges are what make this isin prune
            # to the query terms' files)
            want = [
                c for c in dset.schema.names
                if c in cols or c.startswith("blk_")
            ]
            tbl = dset.to_table(columns=want, filter=flt)
            if tbl.num_rows:
                parts.append(tbl.to_pandas())
        if not parts:
            return pd.DataFrame(
                columns=[
                    "term", "seg", "part", "n_docs",
                    "doc_ids", "pos_counts", "positions",
                ]
            )
        # group-sorted rows make each term's keyed positions come out
        # ascending in _decode_keyed (slot ranks follow (group, doc)), so
        # the per-term sort there degrades to an O(n) verify
        return pd.concat(parts, ignore_index=True).sort_values(
            ["seg", "part"], ignore_index=True, kind="stable"
        )

    def _canonical_gids(self, rows: pd.DataFrame) -> np.ndarray:
        """Stable int code per row for its (seg, part) group — assigned on
        first sight and held for the reader snapshot's lifetime, so parts
        cached by different queries share one group-id space."""
        segs = rows["seg"].astype(str).to_numpy()
        parts_ = rows["part"].to_numpy()
        out = np.empty(len(rows), dtype=np.int64)
        gids = self._group_ids
        for i in range(len(rows)):
            key = (segs[i], int(parts_[i]))
            g = gids.get(key)
            if g is None:
                g = len(gids)
                gids[key] = g
            out[i] = g
        return out

    def _canon_ready(self) -> bool:
        """Lazily build the corpus doc enumeration for canonical keying —
        one coordinator pyarrow read of the docs stores' doc_id column,
        disabled (False) above _CANON_MAX_DOCS."""
        if self._doc_ranks is False:
            return False
        if self._doc_ranks is None:
            n_docs = self._stats[0]
            if n_docs == 0 or n_docs > _CANON_MAX_DOCS:
                self._doc_ranks = False
                return False
            import pyarrow.dataset as pads

            parts_list = []
            for m in self._segments:
                root = (
                    f"{m.path}/docs.parquet/seg={m.name}"
                    if m.path
                    else f"{self.store.segment_path(m.name)}/docs.parquet"
                )
                try:
                    dset = pads.dataset(root, format="parquet")
                except FileNotFoundError:
                    self._doc_ranks = False
                    return False
                parts_list.append(
                    dset.to_table(columns=["doc_id"])["doc_id"]
                    .to_numpy(zero_copy_only=False)
                )
            self._doc_ranks = np.unique(
                np.concatenate(parts_list).astype(np.int64)
            )
        return True

    def _canon_entry(self, t: str) -> tuple | None:
        """(sorted entry slots, full sorted keys) for a cached term under
        the canonical slot space — None when any guard fails (caller
        falls back to the per-query assembly, which is always valid)."""
        c = self._canon_cache.get(t)
        if c is not None:
            return c
        p = self._term_cache.get(t)
        if p is None:
            return None
        gid, ids, cnts, pos = p
        if ids.size == 0:
            return None
        if pos.size and int(pos.max()) >= _CANON_M - _KEY_MARGIN - 2:
            return None
        ranks = self._doc_ranks
        r = ranks.size
        idx = np.searchsorted(ranks, ids)
        if (idx >= r).any() or (ranks[np.minimum(idx, r - 1)] != ids).any():
            return None          # doc outside the enumeration snapshot
        if (int(gid.max()) + 1) * r * _CANON_M >= (1 << 62):
            return None          # key space would overflow int64
        slot = gid * r + idx
        if slot.size > 1 and not (slot[1:] >= slot[:-1]).all():
            return None          # entries not (gid, doc)-sorted
        keys = np.repeat(slot, cnts) * _CANON_M + pos
        out = (slot, keys)
        # canonical keys live under the SAME memory cap as the decoded
        # parts (they are positions-sized); evicted alongside their term
        need = int(slot.size) + int(keys.size)
        if self._cache_values + need > self.cache_max_values:
            return None
        self._canon_cache[t] = out
        self._cache_values += need
        return out

    def _keyed_canonical(
        self,
        uniq: list[str],
        required_all: list[str] | None,
        required_any: list[str] | None,
    ):
        """All-hot fast path: every term's sorted keys are precomputed,
        so an unpruned query (the hot-hot phrase case) does ZERO per-
        position work before the matching core; pruned queries reuse the
        canonical slots (no lexsort) and byte-gather only survivors.
        Returns None when any term can't be canonically keyed."""
        canon: dict[str, tuple] = {}
        for t in uniq:
            c = self._canon_entry(t)
            if c is None:
                return None
            canon[t] = c
        ok_slots = None
        for t in required_all or []:
            s = canon[t][0]
            ok_slots = s if ok_slots is None else _isect_sorted(ok_slots, s)
            if ok_slots.size == 0:
                return _EMPTY_KEYED
        if required_any:
            u = None
            for t in required_any:
                if t in canon:
                    s = canon[t][0]
                    u = s if u is None else np.union1d(u, s)
            if u is None or u.size == 0:
                return _EMPTY_KEYED
            ok_slots = u if ok_slots is None else _isect_sorted(ok_slots, u)
            if ok_slots.size == 0:
                return _EMPTY_KEYED
        out: dict[str, np.ndarray] = {}
        for t in uniq:
            slot, keys = canon[t]
            if ok_slots is None:
                out[t] = keys
                continue
            at = np.searchsorted(ok_slots, slot)
            keep = (at < ok_slots.size) & (
                ok_slots[np.minimum(at, ok_slots.size - 1)] == slot
            )
            # the required_all/any pre-filter is a pure optimization for
            # the matching cores (a doc missing a required term can never
            # chain/pair) — when it barely prunes, gathering 99% of the
            # positions costs more than it saves, so pass keys whole
            if keep.sum() >= _PRUNE_THRESHOLD * keep.size:
                out[t] = keys
            else:
                _g, _i, cnts, pos = self._term_cache[t]
                starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
                lens = cnts[keep]
                out[t] = (
                    np.repeat(slot[keep], lens) * _CANON_M
                    + _gather_ranges(pos, starts[keep], lens)
                )
        return out, _CanonLookup(self._doc_ranks), _CANON_M

    def _parts_size(self, p: tuple) -> int:
        return int(p[1].size) * 3 + int(p[3].size)

    def _decode_local(
        self,
        uniq: list[str],
        entries: dict[str, int],
        required_all: list[str] | None = None,
        required_any: list[str] | None = None,
    ) -> tuple[dict[str, np.ndarray], np.ndarray, int]:
        """Coordinator decode with the hot-term cache. Terms already in the
        cache (or hot enough to join it: ≥ ``hot_min_entries`` postings
        entries) are decoded once per reader snapshot; only cold terms'
        rows are re-read per query. When NO query term is hot the original
        byte-slicing ``_decode_keyed`` path runs unchanged (it decodes the
        positions of only the pre-filter's surviving docs — better for
        one-shot rare+rare queries)."""
        cached = [t for t in uniq if t in self._term_cache]
        hot_new = [
            t for t in uniq
            if t not in self._term_cache
            and entries.get(t, 0) >= self.hot_min_entries
        ]
        if not cached and not hot_new:
            rows = self._local_rows(uniq)
            if not len(rows):
                return _EMPTY_KEYED
            return _decode_keyed(
                rows, _group_codes(rows),
                required_all=required_all, required_any=required_any,
            )
        parts: dict[str, tuple] = {t: self._term_cache[t] for t in cached}
        missing = [t for t in uniq if t not in parts]
        if missing:
            rows = self._local_rows(missing)
            for t in missing:
                sub = rows[rows["term"] == t]
                if not len(sub):
                    continue
                p = _rows_to_parts(sub, self._canonical_gids(sub))
                parts[t] = p
                if t in hot_new:
                    need = self._parts_size(p)
                    if need <= self.cache_max_values:
                        while (
                            self._term_cache
                            and self._cache_values + need
                            > self.cache_max_values
                        ):
                            old = next(iter(self._term_cache))
                            self._cache_values -= self._parts_size(
                                self._term_cache.pop(old)
                            )
                            oc = self._canon_cache.pop(old, None)
                            if oc is not None:
                                self._cache_values -= (
                                    int(oc[0].size) + int(oc[1].size)
                                )
                        self._term_cache[t] = p
                        self._cache_values += need
        if (
            all(t in self._term_cache for t in uniq)
            and self._canon_ready()
        ):
            fast = self._keyed_canonical(uniq, required_all, required_any)
            if fast is not None:
                return fast
        return _keyed_from_parts(
            parts, required_all=required_all, required_any=required_any
        )

    def _spark_rows(self, terms: list[str]) -> DataFrame:
        """Distributed read of the query terms' rows. Default: cached
        resolved parquet scan (listed/resolved once per manifest
        snapshot) with the term filter pushed to the scan — row groups
        pruned by the sorted layout. With ``use_dsv2=True``: the DSv2
        segment relation (ONE BatchScan, filter absorbed as
        PushedFilters; sources/segment_scan.py) — plan-pinned but
        measured slower (BENCH/DSV2.md), so opt-in."""
        from kafka_connect_opensearch_spark.sources import segment_scan

        if self._use_dsv2 and self._dsv2_ok is not False:
            if "positions" not in self._scan_files:
                self._scan_files["positions"] = segment_scan.segment_files(
                    self.store, self._segments, "positions"
                )
            try:
                df = segment_scan.scan_df(
                    self.spark, "positions", self._scan_files["positions"]
                )
                self._dsv2_ok = True
                return df.filter(F.col("term").isin(list(terms)))
            except Exception:
                self._dsv2_ok = False
        if "positions" not in self._df_cache:
            self._df_cache["positions"] = self.store.read_positions(
                self.spark, self._segments
            )
        return self._df_cache["positions"].filter(
            F.col("term").isin(list(terms))
        )

    def _run_grouped(
        self,
        terms: list[str],
        core,
        schema: str,
        empty_cols: dict,
        local_threshold: int,
        decode_kwargs: dict | None = None,
    ) -> DataFrame:
        """Shared adaptive executor: ``core(keyed, lookup, M) -> pdf``
        runs over doc-disjoint slots; union across (seg, part) groups is
        exact. Under the threshold the coordinator decodes the WHOLE
        pyarrow read in one vectorized pass (slots keyed on (group, doc)),
        above it each applyInPandas task decodes its single group —
        identical results by construction."""
        uniq = sorted(set(terms))
        entries = self.term_entries(uniq)
        empty_pdf = pd.DataFrame(empty_cols)
        if any(t not in entries for t in uniq):
            return self.spark.createDataFrame(empty_pdf, schema)
        if sum(entries.values()) <= local_threshold:
            kw = decode_kwargs or {}
            out = core(*self._decode_local(uniq, entries, **kw))
            merged = (
                out.sort_values("doc_id", ignore_index=True)
                if len(out)
                else empty_pdf
            )
            return self.spark.createDataFrame(merged, schema)
        kw = decode_kwargs or {}
        return (
            self._spark_rows(uniq)
            .groupBy("seg", "part")
            .applyInPandas(
                lambda pdf: core(*_decode_keyed(pdf, **kw)), schema=schema
            )
        )

    def phrase_match_ids(self, phrase: str) -> list[int]:
        """Native phrase match: matching doc_ids as plain Python — the
        engine-latency path (no Spark job, no DataFrame round-trip), always
        coordinator-local. Identical results to :meth:`phrase_docs` (same
        numpy cores)."""
        terms = tokenize_py(phrase)
        if not terms:
            return []
        uniq = sorted(set(terms))
        entries = self.term_entries(uniq)
        if any(t not in entries for t in uniq):
            return []
        keyed, lookup, m = self._decode_local(uniq, entries,
                                              required_all=uniq)
        return sorted(_phrase_occ_keyed(keyed, lookup, m, terms)["doc_id"])

    def near_match_ids(
        self, term_a: str, term_b: str, slop: int = 3, ordered: bool = False
    ) -> list[int]:
        """Native NEAR match (engine-latency path, coordinator-local)."""
        uniq = sorted({term_a, term_b})
        entries = self.term_entries(uniq)
        if any(t not in entries for t in uniq):
            return []
        keyed, lookup, m = self._decode_local(uniq, entries,
                                              required_all=uniq)
        return sorted(
            _near_docs_keyed(keyed, lookup, m, term_a, term_b, slop, ordered)
        )

    def phrase_occurrences(
        self, phrase: str, local_threshold: int = 2_000_000
    ) -> DataFrame:
        """(doc_id, tf) rows — tf = number of phrase occurrences
        (consecutive-position chains) in the doc."""
        terms = tokenize_py(phrase)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, tf long")

        def core(keyed, lookup, m) -> pd.DataFrame:
            return _phrase_occ_keyed(keyed, lookup, m, terms)

        return self._run_grouped(
            terms,
            core,
            "doc_id long, tf long",
            {"doc_id": pd.Series([], dtype="int64"),
             "tf": pd.Series([], dtype="int64")},
            local_threshold,
            decode_kwargs={"required_all": sorted(set(terms))},
        )

    def phrase_docs(
        self, phrase: str, local_threshold: int = 2_000_000
    ) -> DataFrame:
        """doc_ids where the phrase's tokens occur at consecutive
        positions."""
        return self.phrase_occurrences(phrase, local_threshold).select(
            "doc_id"
        )

    def expand_prefix(self, prefix: str, max_terms: int = 50) -> list[str]:
        """Prefix expansion against the positional store's term dictionary
        (same vocabulary as the postings dictionary): range predicate on
        the sorted term column, alphabetical ``max_terms`` cap."""
        if not prefix:
            return []
        import pyarrow.dataset as pads

        upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        terms: set[str] = set()
        for dset, names in self._positions_datasets():
            flt = (pads.field("term") >= prefix) & (pads.field("term") < upper)
            if names is not None:
                flt = flt & pads.field("seg").isin(names)
            tbl = dset.to_table(columns=["term"], filter=flt)
            terms.update(tbl["term"].to_pylist())
        return sorted(terms)[:max_terms]

    def phrase_prefix_docs(
        self,
        phrase_prefix: str,
        max_expansions: int = 50,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """OpenSearch ``match_phrase_prefix``: the last token is a prefix;
        matching docs contain the leading tokens at consecutive positions
        immediately followed by ANY dictionary expansion of the prefix.
        Same adaptive local/distributed split as :meth:`phrase_docs`."""
        toks = tokenize_py(phrase_prefix)
        empty_schema = "doc_id long"
        if not toks:
            return self.spark.createDataFrame([], empty_schema)
        lead, prefix = toks[:-1], toks[-1]
        expansions = self.expand_prefix(prefix, max_expansions)
        if not expansions:
            return self.spark.createDataFrame([], empty_schema)

        def core(keyed, lookup, m) -> pd.DataFrame:
            hits = _phrase_prefix_hits_keyed(keyed, lookup, m, lead,
                                             expansions)
            return pd.DataFrame({"doc_id": pd.Series(hits, dtype="int64")})

        return self._run_grouped(
            lead + expansions,
            core,
            empty_schema,
            {"doc_id": pd.Series([], dtype="int64")},
            local_threshold,
            decode_kwargs={
                "required_all": sorted(set(lead)),
                "required_any": expansions,
            },
        )

    def sloppy_phrase_docs(
        self,
        term_a: str,
        term_b: str,
        slop: int,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """OpenSearch ``match_phrase`` with ``slop`` for a two-term phrase
        (Lucene sloppy-phrase displacement semantics): a doc matches when
        some occurrence pair needs ≤ ``slop`` total moves — forward
        ``pos_b − pos_a − 1`` moves, reversed ``pos_a − pos_b + 1`` (so
        "b a" matches the phrase "a b" only at slop ≥ 2). slop=0 is the
        exact phrase."""

        def core(keyed, lookup, m) -> pd.DataFrame:
            hits = _sloppy_pair_docs_keyed(
                keyed, lookup, m, term_a, term_b, slop
            )
            return pd.DataFrame({"doc_id": pd.Series(hits, dtype="int64")})

        return self._run_grouped(
            [term_a, term_b],
            core,
            "doc_id long",
            {"doc_id": pd.Series([], dtype="int64")},
            local_threshold,
            decode_kwargs={"required_all": sorted({term_a, term_b})},
        )

    def span_first_docs(
        self,
        term: str,
        end: int,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """OpenSearch ``span_first``: docs whose ``term`` has an occurrence
        ending at or before position ``end`` — i.e. a 0-based token index
        < ``end`` (equivalently a 1-based index ≤ ``end``, which is the
        SQL oracle's ``list_position`` form). Same adaptive split as the
        other positional queries; the decoded position is just
        ``key mod M``, so the check is one vectorized compare."""

        def core(keyed, lookup, m) -> pd.DataFrame:
            ks = keyed.get(term)
            if ks is None or ks.size == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            hit = ks[(ks % m) < end]
            return pd.DataFrame(
                {"doc_id": pd.Series(
                    lookup[_uniq_sorted(hit // m)], dtype="int64"
                )}
            )

        return self._run_grouped(
            [term],
            core,
            "doc_id long",
            {"doc_id": pd.Series([], dtype="int64")},
            local_threshold,
            decode_kwargs={"required_all": [term]},
        )

    def near_docs(
        self,
        term_a: str,
        term_b: str,
        slop: int = 3,
        ordered: bool = False,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """Proximity (NEAR) query: docs where the two terms occur within
        ``slop`` token positions of each other. ``ordered=True`` is
        span_near's ``in_order`` — only A-then-B occurrences match."""

        def core(keyed, lookup, m) -> pd.DataFrame:
            hits = _near_docs_keyed(
                keyed, lookup, m, term_a, term_b, slop, ordered
            )
            return pd.DataFrame({"doc_id": pd.Series(hits, dtype="int64")})

        return self._run_grouped(
            [term_a, term_b],
            core,
            "doc_id long",
            {"doc_id": pd.Series([], dtype="int64")},
            local_threshold,
            decode_kwargs={"required_all": sorted({term_a, term_b})},
        )

    def phrase_topk(
        self,
        phrase: str,
        k: int = 10,
        round_to: int = 4,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """Phrase-BM25 ranking: the phrase acts as one synthetic term whose
        per-doc tf is its occurrence count and whose df is the count of
        matching docs; dl comes from the postings store's dls (keyed to the
        same segments), N/avgdl from segment stats. Same adaptive split as
        the match queries; the distributed path scores in Spark SQL with
        the identical float64 expression order, so both paths agree
        bit-for-bit."""
        from kafka_connect_opensearch_spark.operators.bm25 import (
            IndexReader,
            bm25_idf,
            bm25_tf_weight,
        )

        empty = self.spark.createDataFrame([], "doc_id long, score double")
        terms = tokenize_py(phrase)
        if not terms:
            return empty
        n_docs, avgdl = self._stats
        if n_docs == 0:
            return empty
        uniq = sorted(set(terms))
        entries = self.term_entries(uniq)
        if any(t not in entries for t in uniq):
            return empty
        reader = IndexReader(self.spark, self.store.index_dir)
        if sum(entries.values()) <= local_threshold:
            keyed, lookup, m = self._decode_local(uniq, entries,
                                                  required_all=uniq)
            part_occ = _phrase_occ_keyed(keyed, lookup, m, terms)
            cand = np.asarray(part_occ["doc_id"], dtype=np.int64)
            if cand.size == 0:
                return empty
            tf_arr = np.asarray(part_occ["tf"], dtype=np.float64)
            order = np.argsort(cand)
            cand, tf_arr = cand[order], tf_arr[order]
            idf = bm25_idf(n_docs, cand.size)
            # dl for the candidates: decode ONE phrase term's postings rows
            # (every candidate contains every term) — same coordinator
            # envelope as the positions read, no corpus-sized isin filter
            rare = min(uniq, key=lambda t: entries[t])
            dl_ids, dl_vals = self._dl_from_postings(reader, rare)
            dl_arr = self._dl_lookup(dl_ids, dl_vals, cand)
            w = np.round(
                idf * bm25_tf_weight(tf_arr, dl_arr, avgdl, self.k1, self.b),
                round_to,
            )
            sel = np.lexsort((cand, -w))[:k]
            pdf = pd.DataFrame(
                {"doc_id": cand[sel].astype("int64"),
                 "score": w[sel].astype("float64")}
            )
            return self.spark.createDataFrame(pdf, "doc_id long, score double")
        occ_df = self.phrase_occurrences(phrase, local_threshold).cache()
        try:
            n_match = occ_df.count()
            if n_match == 0:
                return empty
            idf = bm25_idf(n_docs, n_match)
            k1, b = self.k1, self.b
            tf = F.col("tf").cast("double")
            dl = F.col("dl").cast("double")
            # identical float64 op order to numpy bm25_tf_weight:
            # tf*(k1+1) / (tf + k1*((1-b) + (b*dl)/avgdl)), then * idf
            weight = (tf * F.lit(k1 + 1.0)) / (
                tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
            )
            topk = (
                occ_df.join(reader.docs().select("doc_id", "dl"), "doc_id")
                .withColumn("score", F.round(F.lit(idf) * weight, round_to))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .select("doc_id", "score")
                .toPandas()  # ≤k rows; materialize so the cache can drop
            )
        finally:
            occ_df.unpersist()
        if len(topk) == 0:
            return empty
        return self.spark.createDataFrame(topk, "doc_id long, score double")

    def rescore_phrase(
        self,
        query: str,
        phrase: str,
        window: int = 50,
        k: int = 10,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        round_to: int = 4,
        local_threshold: int = 2_000_000,
    ) -> DataFrame:
        """OpenSearch ``rescore``: re-rank the base query's top ``window``
        hits with a phrase secondary query — final = query_weight·bm25 +
        rescore_weight·phrase_bm25 (0 for window docs without the phrase).
        The base ranking runs the native top-k path; the phrase side is
        the same keyed-positions scoring as :meth:`phrase_topk` — and the
        same adaptive coordinator/distributed split: above
        ``local_threshold`` summed postings the phrase occurrences run
        distributed (:meth:`phrase_occurrences`) and only the ≤``window``
        matching rows come back, so a stopword-heavy rescore phrase never
        decodes unbounded posting volume on the driver. Both paths use
        the identical float64 expression order, so the sum is
        bit-reproducible in the SQL twin either way."""
        from kafka_connect_opensearch_spark.operators.bm25 import (
            IndexReader,
            bm25_idf,
            bm25_tf_weight,
        )

        empty = self.spark.createDataFrame([], "doc_id long, score double")
        reader = IndexReader(self.spark, self.store.index_dir)
        base = reader.search_topk(query, k=window)
        if not base:
            return empty
        n_docs, avgdl = self._stats
        terms = tokenize_py(phrase)
        uniq = sorted(set(terms))
        entries = self.term_entries(uniq)
        ph: dict[int, float] = {}
        if terms and all(t in entries for t in uniq):
            if sum(entries.values()) <= local_threshold:
                keyed, lookup, m = self._decode_local(uniq, entries,
                                                      required_all=uniq)
                occ = _phrase_occ_keyed(keyed, lookup, m, terms)
                docs_arr = np.asarray(occ["doc_id"], dtype=np.int64)
                if docs_arr.size:
                    tf_arr = np.asarray(occ["tf"], dtype=np.float64)
                    order = np.argsort(docs_arr)
                    docs_arr, tf_arr = docs_arr[order], tf_arr[order]
                    idf = bm25_idf(n_docs, docs_arr.size)
                    rare = min(uniq, key=lambda t: entries[t])
                    dl_ids, dl_vals = self._dl_from_postings(reader, rare)
                    dl_arr = self._dl_lookup(dl_ids, dl_vals, docs_arr)
                    w = idf * bm25_tf_weight(tf_arr, dl_arr, avgdl,
                                             self.k1, self.b)
                    ph = dict(zip(docs_arr.tolist(), w.tolist(),
                                  strict=True))
            else:
                # stopword-heavy phrase: occurrences stay distributed;
                # only the ≤window matching rows are collected
                occ_df = self.phrase_occurrences(
                    phrase, local_threshold
                ).cache()
                try:
                    n_match = occ_df.count()
                    if n_match:
                        idf = bm25_idf(n_docs, n_match)
                        k1, b = self.k1, self.b
                        tf = F.col("tf").cast("double")
                        dl = F.col("dl").cast("double")
                        # identical float64 op order to bm25_tf_weight
                        weight = (tf * F.lit(k1 + 1.0)) / (
                            tf + F.lit(k1) * (F.lit(1.0 - b)
                                              + F.lit(b) * dl / F.lit(avgdl))
                        )
                        base_ids = [d for d, _ in base]
                        rows = (
                            occ_df
                            .filter(F.col("doc_id").isin(base_ids))
                            .join(reader.docs().select("doc_id", "dl"),
                                  "doc_id")
                            .withColumn("w", F.lit(idf) * weight)
                            .select("doc_id", "w")
                            .collect()
                        )
                        ph = {r["doc_id"]: r["w"] for r in rows}
                finally:
                    occ_df.unpersist()
        scored = sorted(
            (
                (-(query_weight * s + rescore_weight * ph.get(d, 0.0)), d)
                for d, s in base
            ),
        )[:k]
        pdf = pd.DataFrame(
            {
                "doc_id": np.array([d for _, d in scored], dtype="int64"),
                "score": np.round(
                    np.array([-f for f, _ in scored]), round_to
                ),
            }
        )
        return self.spark.createDataFrame(pdf, "doc_id long, score double")

    def _dl_from_postings(
        self, reader, term: str
    ) -> tuple[np.ndarray, np.ndarray]:
        """(sorted unique doc_ids, aligned dls) from ONE term's postings
        rows (coordinator pyarrow scan, same pushdown shape as the
        positions read). Arrays, not a dict: callers look up candidates
        with one ``searchsorted`` — no per-entry Python loop even when a
        "rare" term has millions of postings at full scale.

        During the pre-reconcile window a re-ingested doc can coexist in
        two segments; duplicates resolve to the copy from the newest
        commit, ranked by segment (seq, name) — the same latest-wins rule
        merge applies — so phrase scoring never reads the stale copy's
        dl."""
        import pyarrow.dataset as pads

        rank_of = {
            s.name: i
            for i, s in enumerate(sorted(
                reader._segments,  # noqa: SLF001
                key=lambda s: (s.seq, s.name),
            ))
        }
        id_parts: list[np.ndarray] = []
        dl_parts: list[np.ndarray] = []
        rank_parts: list[np.ndarray] = []
        for dset, names in reader._postings_datasets():  # noqa: SLF001
            flt = pads.field("term") == term
            if names is not None:
                flt = flt & pads.field("seg").isin(names)
            tbl = dset.to_table(
                columns=["seg", "doc_ids", "dls"], filter=flt
            )
            segs = tbl["seg"].to_pylist()
            for row in range(tbl.num_rows):
                ids_row = np.cumsum(
                    codec.varint_decode(
                        tbl["doc_ids"][row].as_py()
                    ).astype(np.int64)
                )
                id_parts.append(ids_row)
                dl_parts.append(codec.varint_decode(
                    tbl["dls"][row].as_py()
                ).astype(np.int64))
                rank_parts.append(np.full(
                    ids_row.size, rank_of.get(segs[row], 0), dtype=np.int64
                ))
        if not id_parts:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
        ids = np.concatenate(id_parts)
        dls = np.concatenate(dl_parts)
        ranks = np.concatenate(rank_parts)
        # sort by (doc_id, rank); the LAST row of each equal-id run is the
        # newest copy — keep exactly that one
        order = np.lexsort((ranks, ids))
        ids, dls = ids[order], dls[order]
        keep = np.empty(ids.size, dtype=bool)
        keep[-1] = True
        np.not_equal(ids[:-1], ids[1:], out=keep[:-1])
        return ids[keep], dls[keep]

    @staticmethod
    def _dl_lookup(
        dl_ids: np.ndarray, dl_vals: np.ndarray, cand: np.ndarray
    ) -> np.ndarray:
        """dl for each candidate doc via one searchsorted — fails loudly
        if a candidate is absent from the postings-derived dl arrays
        (every phrase candidate must contain every phrase term, so a miss
        means index corruption, not a soft fallback)."""
        idx = np.searchsorted(dl_ids, cand)
        if (idx >= dl_ids.size).any() or (dl_ids[np.minimum(
                idx, dl_ids.size - 1)] != cand).any():
            missing = cand[(idx >= dl_ids.size)
                           | (dl_ids[np.minimum(idx, dl_ids.size - 1)]
                              != cand)]
            raise AssertionError(
                f"dl lookup miss for doc_ids {missing[:5].tolist()}…: "
                "candidate absent from the rare term's postings"
            )
        return dl_vals[idx].astype(np.float64)


# --------------------------------------------------------------------------
# merge support: decode to per-doc blobs, re-pack for the merged segment
# --------------------------------------------------------------------------


def decode_positions_df(positions: DataFrame) -> DataFrame:
    """Packed positions rows → (term, _segname, doc_id, n_pos, pos_blob)
    rows. ``pos_blob`` is the per-doc positions byte-slice: deltas reset at
    each doc boundary, so blobs re-concatenate into a merged row without
    decoding or re-encoding a single position value."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            d_vals, d_row = codec.varint_decode_concat(list(b["doc_ids"]))
            if d_vals.size == 0:
                continue
            row_change = np.empty(d_row.size, dtype=bool)
            row_change[0] = True
            np.not_equal(d_row[1:], d_row[:-1], out=row_change[1:])
            ids = codec.cumsum_with_resets(
                d_vals.astype(np.int64), np.nonzero(row_change)[0]
            )
            c_vals, _ = codec.varint_decode_concat(list(b["pos_counts"]))
            cnts = c_vals.astype(np.int64)
            raw = b"".join(b["positions"])
            arr = np.frombuffer(raw, dtype=np.uint8)
            # last byte of each varint value → per-doc byte ranges (docs
            # tile each row's buffer fully and rows concatenate contiguously)
            vend = np.nonzero((arr & 0x80) == 0)[0]
            byte_ends = vend[np.cumsum(cnts) - 1] + 1
            byte_starts = np.concatenate(([0], byte_ends[:-1]))
            blobs = [
                raw[int(s):int(e)]
                for s, e in zip(byte_starts, byte_ends, strict=True)
            ]
            counts_per_row = np.bincount(d_row, minlength=len(b))
            yield pd.DataFrame(
                {
                    "term": np.repeat(b["term"].to_numpy(), counts_per_row),
                    "_segname": np.repeat(
                        b["seg"].to_numpy(), counts_per_row
                    ),
                    "doc_id": ids,
                    "n_pos": cnts,
                    "pos_blob": blobs,
                }
            )

    return positions.select(
        "term", "seg", "doc_ids", "pos_counts", "positions"
    ).mapInPandas(run, schema=DECODED_POSITIONS_SCHEMA)


def repack_positions(
    survivors: DataFrame, config: EngineConfig, n_parts: int | None = None
) -> DataFrame:
    """(term, doc_id, n_pos, pos_blob) → packed positions rows (without
    the ``seg`` column — the caller stamps the merged segment's name).

    ``part = pmod(doc_id, n_parts)`` keeps rows doc-disjoint across
    (seg, part) groups — a pure function of doc_id, so the invariant holds
    by construction and distributed queries keep their per-group exactness
    on merged segments. Per-doc blobs concatenate byte-for-byte (deltas
    reset per doc), so the merge never touches position values."""
    from kafka_connect_opensearch_spark.operators.indexer import _stream_groups

    n_parts = n_parts or config.salt_partitions

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _stream_groups(batches, ["term", "part"]):
            terms = chunk["term"].to_numpy()
            parts = chunk["part"].to_numpy()
            ids = chunk["doc_id"].to_numpy(dtype="int64")
            npos = chunk["n_pos"].to_numpy(dtype="int64")
            blobs = list(chunk["pos_blob"])
            change = np.empty(terms.size, dtype=bool)
            change[0] = True
            np.not_equal(terms[1:], terms[:-1], out=change[1:])
            change[1:] |= parts[1:] != parts[:-1]
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], terms.size)
            deltas = ids.copy()
            deltas[1:] -= ids[:-1]
            deltas[starts] = ids[starts]
            # merged rows get fresh skip data (entry sets changed)
            blob_lens = np.fromiter(
                (len(b) for b in blobs), dtype=np.int64, count=len(blobs)
            )
            blk_max, blk_lens = _block_skip_bytes(
                ids,
                _varint_byte_lens(deltas),
                _varint_byte_lens(npos),
                blob_lens,
                starts,
                ends,
            )
            yield pd.DataFrame(
                {
                    "term": terms[starts],
                    "part": parts[starts].astype("int64"),
                    "n_docs": (ends - starts).astype("int64"),
                    "doc_ids": codec.varint_encode_grouped(
                        deltas.astype("uint64"), starts
                    ),
                    "pos_counts": codec.varint_encode_grouped(
                        npos.astype("uint64"), starts
                    ),
                    "positions": [
                        b"".join(blobs[s:e])
                        for s, e in zip(starts, ends, strict=True)
                    ],
                    "blk_max_doc": blk_max,
                    "blk_lens": blk_lens,
                }
            )

    src = survivors.withColumn(
        "part", F.pmod(F.col("doc_id"), F.lit(n_parts))
    )
    ordered = src.repartition(
        max(2, config.shuffle_partitions // 4), "term"
    ).sortWithinPartitions("term", "part", "doc_id")
    return ordered.mapInPandas(
        run,
        schema=(
            "term string, part long, n_docs long, doc_ids binary, "
            "pos_counts binary, positions binary, blk_max_doc binary, "
            "blk_lens binary"
        ),
    )
