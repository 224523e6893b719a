"""Spark-free pieces of latest-wins merging.

``merge.drop_losers`` is the only place a merge touches posting bytes
before the level-2 merge: it must equal decode → filter → encode on the
rows that hold a loser and leave every other row byte-identical. The
commit ``seq`` that ranks copies is plain manifest bookkeeping.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_connect_opensearch_spark.operators.merge import drop_losers
from kafka_connect_opensearch_spark.operators.postings import (
    varint_decode,
    varint_encode,
)


def _encode_row(ids, tfs, dls):
    ids = np.asarray(ids, dtype=np.int64)
    deltas = np.diff(ids, prepend=0)
    return tuple(
        varint_encode(np.asarray(v, dtype=np.uint64))
        for v in (deltas, tfs, dls)
    )


def _decode_row(doc_ids, tfs, dls):
    return (
        np.cumsum(varint_decode(doc_ids).astype(np.int64)),
        varint_decode(tfs).astype(np.int64),
        varint_decode(dls).astype(np.int64),
    )


def _batch(rows):
    """rows: (term, seg, ids, tfs, dls) → a stored-postings-shaped batch."""
    enc = [_encode_row(ids, tfs, dls) for _, _, ids, tfs, dls in rows]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.string()),
            pa.array([r[1] for r in rows], type=pa.string()),
            *[pa.array([e[i] for e in enc], type=pa.binary())
              for i in range(3)],
        ],
        names=["term", "seg", "doc_ids", "tfs", "dls"],
    )


def _rows(table):
    return sorted(zip(*(table.column(c).to_pylist()
                        for c in ("term", "doc_ids", "tfs", "dls")),
                      strict=True))


row_st = st.tuples(
    st.sampled_from(["alpha", "beta", "gamma"]),
    st.sampled_from(["seg_a", "seg_b", "seg_c"]),
    st.sets(st.integers(1, 2**40), min_size=1, max_size=40),
    st.integers(1, 9),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(row_st, min_size=1, max_size=12), st.data())
def test_drop_losers_equals_decode_filter_encode(spec, data):
    rows = []
    for term, seg, ids, tf in spec:
        ids = sorted(ids)
        rows.append((term, seg, ids, [tf] * len(ids),
                     [(i % 97) + 1 for i in ids]))
    all_ids = sorted({i for _, _, ids, _, _ in rows for i in ids})
    losers = {
        seg: np.array(sorted(data.draw(
            st.sets(st.sampled_from(all_ids), max_size=len(all_ids)),
            label=seg,
        )), dtype=np.int64)
        for seg in ("seg_a", "seg_b")
    }
    rb = _batch(rows)
    got = drop_losers(rb, losers)
    assert got.column_names == ["term", "doc_ids", "tfs", "dls"]

    want = []
    for i, (term, seg, ids, _, _) in enumerate(rows):
        stored = tuple(rb.column(c)[i].as_py()
                       for c in ("doc_ids", "tfs", "dls"))
        dead = losers.get(seg, np.empty(0, dtype=np.int64))
        d, t, l = _decode_row(*stored)
        keep = ~np.isin(d, dead)
        if keep.all():
            want.append((term, *stored))          # byte-identical
        elif keep.any():
            want.append((term, *_encode_row(d[keep], t[keep], l[keep])))
        # a row that loses every doc disappears
    assert _rows(got) == sorted(want)


def test_drop_losers_passes_clean_rows_through_and_drops_emptied_rows():
    rb = _batch([
        ("alpha", "seg_a", [3, 7, 300], [1, 2, 3], [4, 5, 6]),
        ("beta", "seg_a", [7], [5], [5]),
        ("beta", "seg_b", [7, 9], [1, 1], [5, 2]),
        ("gamma", "seg_a", [1, 2], [1, 1], [1, 1]),
    ])
    got = drop_losers(rb, {"seg_a": np.array([7], dtype=np.int64)})
    by_term = {}
    for term, *bufs in _rows(got):
        by_term.setdefault(term, []).append(tuple(bufs))
    # seg_a's beta row held only the loser: gone; seg_b's copy untouched
    assert by_term["beta"] == [
        tuple(rb.column(c)[2].as_py() for c in ("doc_ids", "tfs", "dls"))
    ]
    assert by_term["gamma"] == [
        tuple(rb.column(c)[3].as_py() for c in ("doc_ids", "tfs", "dls"))
    ]
    (alpha,) = by_term["alpha"]
    ids, tfs, dls = _decode_row(*alpha)
    assert ids.tolist() == [3, 300] and tfs.tolist() == [1, 3]
    assert dls.tolist() == [4, 6]
    # no losers at all: the batch comes back unchanged
    same = drop_losers(rb, {})
    assert same.num_rows == rb.num_rows
    assert same.column("doc_ids").to_pylist() == \
        rb.column("doc_ids").to_pylist()


def test_commit_seq_orders_commits_and_falls_back_for_old_entries(tmp_path):
    """Each commit gets the next ``seq``; entries written before ``seq``
    existed rank in manifest order, below every sequenced entry; a merged
    segment keeps the seq it was given; a snapshot keeps the ranks."""
    import json
    import os

    from kafka_connect_opensearch_spark.operators.segments import (
        SegmentMeta,
        SegmentStore,
    )
    from kafka_connect_opensearch_spark.operators.snapshot import (
        snapshot_index,
    )

    store = SegmentStore(str(tmp_path / "idx"))
    store.create_if_absent({"positions": False})

    def seg(name, **kw):
        os.makedirs(store.segment_path(name))
        return SegmentMeta(name=name, generation=0, doc_count=1, sum_dl=1,
                           n_terms=1, n_postings=1, **kw).__dict__

    for bid in ("a_old", "b_old"):   # pre-seq manifests: no seq anywhere
        entry = {"batch": bid, "segments": [seg(f"seg_{bid}")],
                 "replaces": []}
        entry["segments"][0].pop("seq")
        with open(f"{store.manifest_dir}/{bid}.json", "w") as f:
            json.dump(entry, f)
    store.commit_batch("c_new", {"batch": "c_new",
                                 "segments": [seg("seg_c")], "replaces": []})
    store.commit_batch("0_merge", {"batch": "0_merge",
                                   "segments": [seg("seg_m", seq=1)],
                                   "replaces": ["seg_b_old", "seg_c"]})
    want = {"seg_a_old": 0, "seg_m": 1}
    assert {m.name: m.seq for m in store.active_segments()} == want
    with open(f"{store.manifest_dir}/c_new.json") as f:
        assert json.load(f)["seq"] == 2
    snap = str(tmp_path / "snap")
    snapshot_index(store.index_dir, snap)
    assert {m.name: m.seq
            for m in SegmentStore(snap).active_segments()} == want
