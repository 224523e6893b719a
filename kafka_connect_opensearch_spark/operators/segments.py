"""Segment store: layout, lineage manifest, and log-structured merge.

The reference's durability contract — contiguous-prefix offset commit
(OffsetTracker.java:120-156) and bulk-flush batching (OpenSearchClient.java:
145-155) — is re-cast as: each input micro-batch becomes one immutable
segment directory; the batch is *committed* by atomically renaming its
manifest JSON into ``manifest/``. Resume = skip batches whose manifest file
exists (SURVEY.md O1-O5). Lucene-style log-structured merge
(SURVEY.md D3) compacts many small segments into one, preserving
latest-wins document identity (W1/W4).

Layout::

    index_dir/
      meta.json                     # analyzer + BM25 config, created once (S4/S5)
      segments/<seg_name>/
        docs.parquet/               # doc_id, doc_key, content_sha256, dl, ...
        postings.parquet/           # term, df, max_tf, doc_ids, tfs, dls, block_max
        segmeta.json                # doc_count, sum_dl, n_terms, n_postings, generation
      manifest/<batch_id>.json      # commit point (written last, atomic
                                    # rename): batch, seq, segments, replaces

``seq`` orders commits: each manifest entry gets the next integer of a
monotonically increasing sequence, and every segment it commits inherits
it — except a merged segment, which inherits the max over its inputs (the
newest content it holds, not the time the merge ran). Latest-wins between
two copies of a document ranks their segments by ``(seq, name)``: the
copy from the newest commit wins, whatever the segment's merge
``generation``. Entries written before ``seq`` existed rank in manifest
(file-name) order, below every entry that carries one.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

POSTINGS_SCHEMA = (
    "term string, seg string, df long, max_tf long, "
    "doc_ids binary, tfs binary, dls binary, block_max binary"
)

DOCS_COLUMNS = ["doc_id", "doc_key", "content_sha256", "dl"]


@dataclass
class SegmentMeta:
    name: str
    generation: int
    doc_count: int
    sum_dl: int
    n_terms: int
    n_postings: int
    # "" → classic layout (segments/<name>/{docs,postings}.parquet);
    # otherwise the root of a Hive-partitioned bulk build whose
    # {docs,postings}.parquet dirs contain seg=<name> partitions.
    path: str = ""
    # commit sequence (see module docstring); -1 until committed
    seq: int = -1


@dataclass
class BuildMetrics:
    """North-rule build metrics: docs indexed, postings written, segments merged."""

    docs_indexed: int = 0
    postings_written: int = 0
    segments_built: int = 0
    segments_merged: int = 0
    batches_skipped: int = 0  # resume: batches whose manifest already existed
    wall_secs: float = 0.0
    details: dict = field(default_factory=dict)


class SegmentStore:
    """Driver-side catalog of an index directory (cheap metadata ops only)."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.segments_dir = os.path.join(index_dir, "segments")
        self.manifest_dir = os.path.join(index_dir, "manifest")

    # -- DDL (idempotent create-if-absent, reference S4: OpenSearchClient.java:441-481)
    def create_if_absent(self, meta: dict) -> bool:
        created = not os.path.exists(os.path.join(self.index_dir, "meta.json"))
        os.makedirs(self.segments_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        if created:
            self._atomic_write_json(os.path.join(self.index_dir, "meta.json"), meta)
        return created

    def meta(self) -> dict:
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            return json.load(f)

    # -- manifest / lineage (reference O1-O4: OffsetTracker.java:46-156)
    def committed_batches(self) -> dict[str, dict]:
        out = {}
        if not os.path.isdir(self.manifest_dir):
            return out
        for fn in sorted(os.listdir(self.manifest_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fn)) as f:
                    out[fn[: -len(".json")]] = json.load(f)
        return out

    def commit_batch(self, batch_id: str, entry: dict) -> None:
        """Atomic commit: temp-write + rename — the segment becomes visible
        only after its data files are fully written (mirrors the reference's
        offset-after-success ordering, OpenSearchClient.java:370-375).

        An entry without ``seq`` gets the next commit sequence number, and
        so does each of its segments that has none yet (a merge sets its
        output's ``seq`` itself; a snapshot copies each entry's ``seq``)."""
        if "seq" not in entry:
            seq = self._next_seq()
            entry = {
                **entry,
                "seq": seq,
                "segments": [
                    {**s, "seq": seq} if s.get("seq", -1) < 0 else s
                    for s in entry.get("segments", [])
                ],
            }
        self._atomic_write_json(
            os.path.join(self.manifest_dir, f"{batch_id}.json"), entry
        )

    def _sequenced(
        self, batches: dict[str, dict] | None = None
    ) -> list[tuple[int, dict]]:
        """Committed entries (default: all) with their effective ``seq``:
        entries written before ``seq`` existed take their rank in manifest
        order."""
        out = []
        legacy = 0
        batches = self.committed_batches() if batches is None else batches
        for entry in batches.values():
            if "seq" in entry:
                out.append((entry["seq"], entry))
            else:
                out.append((legacy, entry))
                legacy += 1
        return out

    def _next_seq(self) -> int:
        return 1 + max((seq for seq, _ in self._sequenced()), default=-1)

    def _atomic_write_json(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    # -- segments
    def active_segments(
        self, batches: dict[str, dict] | None = None
    ) -> list[SegmentMeta]:
        """Segments referenced by committed manifests (default: all; a
        snapshot passes the set it pinned), minus merged-away ones.

        A relative bulk ``path`` resolves against THIS store's index dir:
        snapshots write their pinned manifests with snapshot-relative
        paths, so a snapshot (and anything restored from it) reads its
        own copied files — never the source index's — and survives the
        source being moved or deleted."""
        live: dict[str, SegmentMeta] = {}
        dead: set[str] = set()
        for seq, entry in self._sequenced(batches):
            for seg in entry.get("segments", []):
                m = SegmentMeta(**seg)
                if m.path and not os.path.isabs(m.path):
                    m.path = os.path.join(self.index_dir, m.path)
                if m.seq < 0:
                    m.seq = seq
                live[seg["name"]] = m
            dead.update(entry.get("replaces", []))
        return [m for n, m in sorted(live.items()) if n not in dead]

    def segment_path(self, name: str) -> str:
        return os.path.join(self.segments_dir, name)

    def segment_files(self, m: SegmentMeta, kind: str) -> str:
        """Directory of segment ``m``'s ``kind`` (docs/postings/positions)
        parquet files, in either layout — for driver-side pyarrow reads."""
        if m.path:
            return os.path.join(m.path, f"{kind}.parquet", f"seg={m.name}")
        return os.path.join(self.segment_path(m.name), f"{kind}.parquet")

    def bulk_path(self, tag: str) -> str:
        return os.path.join(self.index_dir, f"bulk_{tag}")

    def write_segmeta(self, meta: SegmentMeta) -> None:
        self._atomic_write_json(
            os.path.join(self.segment_path(meta.name), "segmeta.json"), asdict(meta)
        )

    # -- unified readers over classic + bulk segment layouts
    def read_postings(self, spark, metas: list[SegmentMeta] | None = None):
        """Union postings of the given (default: active) segments. Classic
        segments store ``seg`` in-file; bulk segments get it from Hive
        partition discovery — one read per bulk root, pruned by seg."""
        from pyspark.sql import functions as F

        metas = self.active_segments() if metas is None else metas
        dfs = []
        classic = [m for m in metas if not m.path]
        if classic:
            dfs.append(
                spark.read.parquet(
                    *[f"{self.segment_path(m.name)}/postings.parquet"
                      for m in classic]
                )
            )
        roots: dict[str, list[str]] = {}
        for m in metas:
            if m.path:
                roots.setdefault(m.path, []).append(m.name)
        for root, names in roots.items():
            dfs.append(
                spark.read.parquet(f"{root}/postings.parquet").filter(
                    F.col("seg").isin(names)
                )
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_positions(self, spark, metas: list[SegmentMeta] | None = None):
        """Union positions of the given (default: active) segments — same
        two-layout shape as :meth:`read_postings` (classic stores ``seg``
        in-file; bulk roots get it from Hive partition discovery)."""
        from pyspark.sql import functions as F

        metas = self.active_segments() if metas is None else metas
        dfs = []
        # one read per classic root: each root is its own hive table now
        # (rb=<prefix> partition dirs) and multi-root partition discovery
        # rejects them as conflicting structures
        for m in metas:
            if not m.path:
                dfs.append(
                    spark.read.parquet(
                        f"{self.segment_path(m.name)}/positions.parquet"
                    )
                )
        roots: dict[str, list[str]] = {}
        for m in metas:
            if m.path:
                roots.setdefault(m.path, []).append(m.name)
        for root, names in roots.items():
            dfs.append(
                spark.read.parquet(f"{root}/positions.parquet").filter(
                    F.col("seg").isin(names)
                )
            )
        # "rb" is a file-clustering partition column (term prefix), not
        # data; dropping it (lenient no-op where absent) keeps pre-r6 and
        # r6 layouts union-compatible
        out = dfs[0].drop("rb")
        for d in dfs[1:]:
            out = out.unionByName(d.drop("rb"))
        return out

    def read_docs(self, spark, metas: list[SegmentMeta] | None = None,
                  with_seg: bool = False):
        """Union docs tables; optionally tagging each row's segment name
        (classic docs files don't store it — it is stamped per segment)."""
        from pyspark.sql import functions as F

        metas = self.active_segments() if metas is None else metas
        dfs = []
        roots: dict[str, list[str]] = {}
        for m in metas:
            if m.path:
                roots.setdefault(m.path, []).append(m.name)
            else:
                d = spark.read.parquet(
                    f"{self.segment_path(m.name)}/docs.parquet"
                )
                if with_seg:
                    d = d.withColumn("seg", F.lit(m.name))
                dfs.append(d)
        # one read per bulk root (as read_postings): a read per segment
        # repeats the root's partition discovery for each of them
        for root, names in roots.items():
            d = spark.read.parquet(f"{root}/docs.parquet").filter(
                F.col("seg").isin(names)
            )
            dfs.append(d if with_seg else d.drop("seg"))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def global_stats(self) -> tuple[int, float]:
        """(N docs, avgdl) across active segments — driver-side, O(#segments)."""
        segs = self.active_segments()
        n = sum(s.doc_count for s in segs)
        total_dl = sum(s.sum_dl for s in segs)
        return n, (total_dl / n if n else 0.0)
