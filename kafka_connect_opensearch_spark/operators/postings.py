"""Posting-list codec: delta + LEB128 varint, vectorized in numpy.

The reference leaves posting storage to Lucene; the north rule requires our
own "delta + varint-style compressed postings stored as binary columns".
Encoders/decoders below are numpy-vectorized (loops run over byte-positions,
max 10, never over elements) so they are fast enough to run inside Arrow
UDFs on 100k-element posting lists.

Layout of one encoded posting list (one row of the postings table):
  ``doc_ids``   BinaryType — varint(delta(sorted doc_ids))
  ``tfs``       BinaryType — varint(tf per doc, same order)
  ``block_max`` BinaryType — varint(max tf per block of BLOCK_SIZE docs)
The per-block max tf yields a cheap upper bound on the BM25 contribution
(score ≤ idf·(k1+1)·maxtf/(maxtf + k1·(1−b))) used for block-max WAND
pruning at query time (SURVEY.md D6).
"""

from __future__ import annotations

import numpy as np

from kafka_connect_opensearch_spark.config import POSTINGS_BLOCK_SIZE


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized: the single-group case of
    :func:`varint_encode_grouped`."""
    out = varint_encode_grouped(values, np.zeros(1, dtype=np.int64))
    return out[0] if out else b""


def varint_encode_grouped(
    values: np.ndarray, group_starts: np.ndarray
) -> list[bytes]:
    """Encode ``values`` once, then split the byte stream per group.

    Byte i of each value is ``(v >> 7i) & 0x7f``, with the continuation bit
    set on all but the last byte. We compute per-value byte counts, then
    scatter bytes by output offset — the only Python loop is over the ≤10
    byte positions. ``group_starts``: sorted start indices (first must be
    0); each group's bytes are one slice of the shared stream.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    # number of 7-bit groups per value: max(1, ceil(bitlen/7))
    bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp != 0
        if not nz.any():
            break
        bits[nz] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(bits, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for i in range(int(nbytes.max())):
        mask = nbytes > i
        chunk = (v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > i).astype(np.uint8) << 7
        out[offsets[:-1][mask] + i] = chunk.astype(np.uint8) | cont
    raw = out.tobytes()
    byte_starts = offsets[group_starts]
    byte_ends = np.append(byte_starts[1:], offsets[-1])
    return [raw[int(s):int(e)] for s, e in zip(byte_starts, byte_ends, strict=True)]


def varint_decode_concat(buffers) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of varint buffers in ONE vectorized pass.

    Returns ``(values, row_of_value)`` where ``row_of_value[i]`` is the
    index of the buffer value ``i`` came from. Replaces per-row decode
    calls in merge/pack hot paths.
    """
    lens = np.fromiter((len(b) for b in buffers), dtype=np.int64,
                       count=len(buffers))
    if lens.sum() == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    all_bytes = b"".join(buffers)
    values = varint_decode(all_bytes)
    b = np.frombuffer(all_bytes, dtype=np.uint8)
    term_byte_pos = np.nonzero((b & 0x80) == 0)[0]  # last byte of each value
    byte_row_edges = np.cumsum(lens)  # exclusive end offsets per row
    row_of_value = np.searchsorted(byte_row_edges, term_byte_pos, side="right")
    return values, row_of_value


def cumsum_with_resets(deltas: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """cumsum(deltas) restarting at each index in ``run_starts`` (first=0).

    uint64 inputs are reinterpreted (values here are < 2^63 by
    construction — delta-encoded non-negative int64s), not copied; the
    per-run base subtraction scatters base *diffs* and cumsums them
    instead of materializing a repeat()-expanded base array (one fewer
    full-size temporary; this sits on the cold positional decode path)."""
    if deltas.dtype == np.uint64:
        deltas = deltas.view(np.int64)
    out = np.cumsum(deltas, dtype=np.int64)
    if run_starts.size <= 1:
        return out
    bases = out[run_starts[1:] - 1]
    spikes = np.zeros(out.size, dtype=np.int64)
    spikes[run_starts[1]] = bases[0]
    if run_starts.size > 2:
        spikes[run_starts[2:]] = bases[1:] - bases[:-1]
    return out - np.cumsum(spikes)


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array, vectorized.

    All-1-byte buffers (the common case for position/doc-id deltas)
    return in one pass. Otherwise values fold by byte position: at most
    ``max value length`` gathers, each over only the values that long —
    for >90%-1-byte streams that is ~1.1 passes over the data, replacing
    the former arange + repeat + reduceat construction (3 full-size
    temporaries; the r6 cProfile of a cold stopword phrase put 0.92 s of
    1.35 s in it)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) != 0
    if not cont.any():
        return b.astype(np.uint64)
    ends = np.nonzero(~cont)[0]
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = (b[starts] & 0x7F).astype(np.int64)
    max_len = int(lens.max())
    sel = None
    for k in range(1, max_len):
        sel = np.nonzero(lens > k)[0] if sel is None else sel[
            lens[sel] > k
        ]
        vals[sel] |= (b[starts[sel] + k] & 0x7F).astype(np.int64) << (7 * k)
    return vals.view(np.uint64)


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, block_size: int = POSTINGS_BLOCK_SIZE
) -> tuple[bytes, bytes, bytes]:
    """Sort by doc_id, delta-encode ids, varint-pack ids/tfs/block maxima."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order]
    t = tfs[order]
    deltas = np.empty_like(d)
    if d.size:
        deltas[0] = d[0]
        np.subtract(d[1:], d[:-1], out=deltas[1:])
    n_blocks = -(-d.size // block_size) if d.size else 0
    block_max = np.zeros(n_blocks, dtype=np.int64)
    for i in range(n_blocks):
        block_max[i] = t[i * block_size : (i + 1) * block_size].max()
    return (
        varint_encode(deltas.astype(np.uint64)),
        varint_encode(t.astype(np.uint64)),
        varint_encode(block_max.astype(np.uint64)),
    )


def decode_postings(
    doc_ids_buf: bytes, tfs_buf: bytes
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings` (ids via cumsum of deltas)."""
    deltas = varint_decode(doc_ids_buf).astype(np.int64)
    tfs = varint_decode(tfs_buf).astype(np.int64)
    return np.cumsum(deltas), tfs


def decode_block_max(block_max_buf: bytes) -> np.ndarray:
    return varint_decode(block_max_buf).astype(np.int64)


def merge_postings(
    parts: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Merge decoded (doc_ids, tfs) partial lists; tfs of equal ids sum.

    Used both for second-level (salted) aggregation merges and for
    log-structured segment merges. Duplicate doc_ids across parts sum their
    tfs — correct for salted partials of the same segment; cross-segment
    merges dedup by version *before* this step (latest-wins, W1/W4).
    """
    if not parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    order = np.argsort(ids, kind="stable")
    ids, tfs = ids[order], tfs[order]
    if ids.size == 0:
        return ids, tfs
    uniq_mask = np.empty(ids.shape, dtype=bool)
    uniq_mask[0] = True
    np.not_equal(ids[1:], ids[:-1], out=uniq_mask[1:])
    group = np.cumsum(uniq_mask) - 1
    out_ids = ids[uniq_mask]
    out_tfs = np.zeros(out_ids.size, dtype=np.int64)
    np.add.at(out_tfs, group, tfs)
    return out_ids, out_tfs
