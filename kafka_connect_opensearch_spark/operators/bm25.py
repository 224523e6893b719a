"""BM25 top-k retrieval over the segment store (SURVEY.md D5-D7).

Okapi BM25 with OpenSearch/Lucene defaults and formula (pinned by the north
rule): ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, ``score = Σ_t qtf_t ·
idf_t · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` with k1=1.2, b=0.75.

Every query runs in three steps, whatever its shape:

1. compile: :meth:`IndexReader._compile` turns the query into a
   :class:`QuerySpec` — per-term weights (qtf · boost · idf from the
   term dictionary), ``must`` / ``must_not`` terms, ``min_should_match``
   and the output (top-k, ids only or count only) — plus the terms to
   fetch and their dfs. A ``mode`` other than ``"or"``/``"and"`` is
   rejected here.
2. kernel: :func:`score_segment` is the one per-segment function that
   decodes a segment's posting rows, selects candidates by the spec's
   rules and scores them. Segments partition the doc space disjointly,
   so every doc's postings live in one segment and the kernel needs no
   other segment's data.
3. executor: :meth:`IndexReader._run_segments` runs the kernel on one of
   three paths. Under ``local_threshold`` summed postings the
   coordinator fetches the rows with pyarrow (memoized per snapshot) and
   merges the per-segment outputs itself — the scatter-gather path of a
   search frontend, tens of ms and no Spark job. Above it, each segment
   runs in a ``groupBy(seg).applyInPandas`` task and Spark merges the
   per-segment top-k (``ORDER BY score DESC, doc_id ASC LIMIT k`` over
   #segments × k rows), so nothing doc-sized reaches the driver; its
   scan pushes ``term IN (...)`` into parquet, and the term-sorted
   layout prunes row groups by min/max stats. A filter too wide to
   collect is partitioned per segment and cogrouped with the postings
   instead.

Pruning: MaxScore partitioning with block-max refinement. Terms are split
into essential/non-essential by per-term upper bounds (from stored max_tf);
docs appearing only in non-essential (stopword) lists are skipped when their
bound cannot reach the running threshold; survivors are **rescored exactly
in sorted-term order** so final scores are bit-identical to the brute-force
oracle regardless of pruning or path (rank-identical parity, SURVEY.md
§7.4).
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.functions.analysis import (
    tokenize_expr,
    tokenize_py,
)
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.segments import SegmentStore

# default local_threshold: a query whose terms hold at most this many
# postings in total runs on the coordinator, a heavier one per segment
LOCAL_POSTINGS_MAX = 2_000_000
# default max_pushdown_ids: a filter of at most this many ids is collected
# and pushed into the kernel, a wider one is cogrouped per segment
PUSHDOWN_IDS_MAX = 2_000_000
_OUTPUT_SCHEMAS = {
    "topk": "doc_id long, score double",
    "ids": "doc_id long",
    "count": "n long",
}


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_weight(tf, dl, avgdl: float, k1: float, b: float):
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


class IndexReader:
    """Query-side view of an index directory.

    Every query method compiles its query into a :class:`QuerySpec`
    (:meth:`_compile`) and hands it to the one executor
    (:meth:`_run_segments`), which runs the one per-segment kernel
    (:func:`score_segment`) on the coordinator or in Spark — so both
    paths of every query decide candidates and scores with the same
    code and return bit-identical results. Distributed reads use the
    JVM parquet scan, resolved once per manifest snapshot, with the
    term filter pushed into it."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.store = SegmentStore(index_dir)
        meta = self.store.meta()
        self.k1 = float(meta["k1"])
        self.b = float(meta["b"])
        self.block_size = int(meta.get("block_size", 128))
        self._segments = self.store.active_segments()
        self._stats = self.store.global_stats()
        self._datasets = None  # lazy pyarrow dataset handles
        self._df_cache: dict[str, DataFrame] = {}  # resolved-scan reuse
        # per-snapshot memos for the coordinator query path: term → df
        # (dictionary lookups) and term → packed postings rows (the
        # pyarrow fetch) — both cleared wholesale on refresh()
        self._stats_cache: dict[str, int] = {}
        self._rows_cache: dict[str, pd.DataFrame] = {}
        self._rows_bytes = 0
        self.rows_cache_max_bytes = 512 * 1024 * 1024
        # restrict-id broadcasts created by the distributed filtered
        # paths; unpersisted (NOT destroyed — executors refetch from the
        # driver copy if a lazy plan still needs one) on refresh and
        # beyond a small cap, so a long-lived reader session does not
        # accumulate executor-side broadcast blocks.
        self._live_broadcasts: list = []
        self.broadcast_cache_max = 32

    def _track_broadcast(self, bc):
        self._live_broadcasts.append(bc)
        while len(self._live_broadcasts) > self.broadcast_cache_max:
            old = self._live_broadcasts.pop(0)
            try:
                old.unpersist()
            except Exception:  # already released / context gone
                pass
        return bc

    def refresh(self) -> None:
        """Re-read the manifest (after new commits/merges)."""
        self._segments = self.store.active_segments()
        self._stats = self.store.global_stats()
        self._datasets = None
        self._df_cache = {}
        self._stats_cache = {}
        self._rows_cache = {}
        self._rows_bytes = 0
        for bc in self._live_broadcasts:
            try:
                bc.unpersist()
            except Exception:
                pass
        self._live_broadcasts = []

    def _postings_datasets(self):
        """Cached pyarrow datasets for the coordinator paths — dataset
        discovery (file listing, Hive partition inference) costs hundreds
        of ms on a many-file index and must not be paid per query."""
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
                            "/postings.parquet",
                            None,
                        )
                    )
            scans += [
                (f"{root}/postings.parquet", names)
                for root, names in bulk.items()
            ]
            self._datasets = [
                (pads.dataset(p, format="parquet", partitioning="hive"), names)
                for p, names in scans
            ]
        return self._datasets

    # D7: _count parity (OpenSearchHelperClient.java:85-88)
    def doc_count(self) -> int:
        return self.store.global_stats()[0]

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        """Postings rows, optionally restricted to ``terms``.

        The resolved scan DataFrame is cached per manifest snapshot, so
        file listing / schema resolution is paid once per snapshot, not
        per query (the many-segment-store discovery cost VERDICT r4 #1
        targeted); the term filter is pushed into the parquet scan."""
        if "postings" not in self._df_cache:
            self._df_cache["postings"] = self.store.read_postings(
                self.spark, self._segments
            )
        df = self._df_cache["postings"]
        if terms is not None:
            df = df.filter(F.col("term").isin(list(terms)))  # pushed to scan
        return df

    def docs(self) -> DataFrame:
        return self.store.read_docs(self.spark, self._segments)

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Global df per term (segments are doc-disjoint → df sums).

        This is a term-dictionary lookup — a coordinator-side metadata op
        (Lucene reads its term dictionary the same way), so it uses a
        direct pyarrow scan with predicate pushdown on the sorted ``term``
        column instead of a Spark job: only the (term, df) columns of the
        row groups containing the query terms are read. Results memoize
        per manifest snapshot (repeated queries skip the scan).
        """
        import pyarrow.dataset as pads

        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            out: dict[str, int] = dict.fromkeys(missing, 0)
            for dset, names in self._postings_datasets():
                flt = pads.field("term").isin(missing)
                if names is not None:
                    flt = flt & pads.field("seg").isin(names)
                tbl = dset.to_table(columns=["term", "df"], filter=flt)
                for t, d in zip(
                    tbl["term"].to_pylist(), tbl["df"].to_pylist(),
                    strict=True,
                ):
                    out[t] += int(d)
            self._stats_cache.update(out)
        return {
            t: self._stats_cache[t]
            for t in terms
            if self._stats_cache.get(t, 0) > 0
        }

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        local_threshold: int = LOCAL_POSTINGS_MAX,
    ) -> DataFrame:
        """Top-k ``(doc_id, score)`` for ``query``; deterministic tie-break
        on doc_id (rank-identical requirement). ``mode="or"`` matches any
        query term, ``"and"`` every one.

        Adaptive execution (:meth:`_run_segments`): when the query terms'
        total postings fit under ``local_threshold``, the coordinator
        scores them directly from a pyarrow scan; heavier queries run the
        kernel per segment in Spark. Results are bit-identical."""
        return self._run_segments(
            *self._compile(Counter(tokenize_py(query)), mode=mode, k=k),
            local_threshold,
        )

    def search_topk(
        self, query: str, k: int = 10, mode: str = "or"
    ) -> list[tuple[int, float]]:
        """Native search API: top-k ``(doc_id, score)`` as plain Python —
        the engine-latency path (no Spark job, no DataFrame round-trip).
        Always the executor's coordinator path; results are bit-identical
        to :meth:`search`."""
        spec, terms, _ = self._compile(
            Counter(tokenize_py(query)), mode=mode, k=k
        )
        if not terms:
            return []
        out = self._coordinator(spec, terms)
        return list(zip(out["doc_id"].tolist(), out["score"].tolist(),
                        strict=True))

    def search_bool(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        k: int = 10,
        local_threshold: int = LOCAL_POSTINGS_MAX,
        filter_ids: DataFrame | None = None,
        id_col: str = "doc_id",
        max_pushdown_ids: int = PUSHDOWN_IDS_MAX,
    ) -> DataFrame:
        """OpenSearch bool-query semantics (the reference delegates these to
        ``_search``, OpenSearchHelperClient.java:106-109): a match must
        contain ALL ``must`` terms and NONE of ``must_not``; the score sums
        BM25 over ``must`` + ``should`` terms present. With no ``must``,
        any ``should`` term matches. ``filter_ids`` is the bool query's
        fourth clause — filter context, restricting hits without touching
        scores or term statistics, executed as in :meth:`search_filtered`.
        Deterministic (score desc, doc_id) tie-break, same adaptive
        local/distributed execution as :meth:`search`."""
        must_t = set(tokenize_py(must))
        compiled = self._compile(
            dict.fromkeys(must_t | set(tokenize_py(should)), 1),
            must=sorted(must_t), must_not=tokenize_py(must_not), k=k,
        )
        flt = None
        if filter_ids is not None:
            flt = (filter_ids.select(F.col(id_col).alias("doc_id")),
                   max_pushdown_ids)
        return self._run_segments(*compiled, local_threshold, flt)

    def search_filtered(
        self,
        query: str,
        filter_ids: DataFrame,
        k: int = 10,
        mode: str = "or",
        id_col: str = "doc_id",
        max_pushdown_ids: int = PUSHDOWN_IDS_MAX,
    ) -> DataFrame:
        """OpenSearch bool ``filter`` context: the structured filter
        restricts the hit set but NEVER contributes to the score (and never
        changes term statistics — scores are identical to the unfiltered
        query, which is exactly Lucene's filter-context contract).

        Execution is adaptive on the filter's selectivity (Lucene leads
        with the filter iterator for the same reason): a filter of
        ≤ ``max_pushdown_ids`` docs is collected and pushed into the
        kernel as a candidate pre-filter (shipped as ONE broadcast per
        executor on the distributed path), so only surviving docs are
        ever scored — per-doc BM25 is independent of other docs, so the
        scores are bit-identical either way. A wider filter is never
        collected: its ids are partitioned per segment via the docs table
        and cogrouped with the postings, so the kernel still pre-filters
        before scoring."""
        return self._run_segments(
            *self._compile(Counter(tokenize_py(query)), mode=mode, k=k),
            LOCAL_POSTINGS_MAX,
            (filter_ids.select(F.col(id_col).alias("doc_id")),
             max_pushdown_ids),
        )

    def search_after(
        self,
        query: str,
        after_score: float,
        after_doc: int,
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """OpenSearch ``search_after`` cursor pagination: the next ``k``
        hits strictly after the cursor in the total (score desc, doc_id
        asc) order. Stateless and deep-page-safe — unlike from/size there
        is no corpus-sized offset sort, just a filter + top-k."""
        scored = self.score_matches(query, mode)
        after = (F.col("score") < F.lit(float(after_score))) | (
            (F.col("score") == F.lit(float(after_score)))
            & (F.col("doc_id") > F.lit(int(after_doc)))
        )
        return (
            scored.filter(after)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_min_should_match(
        self,
        query: str,
        min_match: int,
        k: int = 10,
        local_threshold: int = LOCAL_POSTINGS_MAX,
    ) -> DataFrame:
        """OpenSearch ``minimum_should_match``: a doc matches when at least
        ``min_match`` DISTINCT query terms occur in it; the score sums BM25
        over the matched terms. Same adaptive local/distributed split as
        :meth:`search`."""
        return self._run_segments(
            *self._compile(dict.fromkeys(tokenize_py(query), 1),
                           min_should_match=min_match, k=k),
            local_threshold,
        )

    def search_boosted(
        self,
        boosts: dict[str, float],
        k: int = 10,
        local_threshold: int = LOCAL_POSTINGS_MAX,
    ) -> DataFrame:
        """Per-term query-time boosts (OpenSearch ``term^boost``): the
        term's weight is boost·idf — everything else (candidates, top-k,
        tie-break, adaptive split) is :meth:`search` with mode='or'."""
        return self._run_segments(
            *self._compile({t: float(v) for t, v in boosts.items()}, k=k),
            local_threshold,
        )

    def search_dis_max(
        self,
        queries: list[str],
        k: int = 10,
        tie_breaker: float = 0.0,
        mode: str = "or",
    ) -> DataFrame:
        """OpenSearch ``dis_max``: per-doc score = best sub-query score +
        ``tie_breaker`` · (sum of the others). Each sub-query is exactly
        scored over its own match set (``score_matches``), the union is
        one keyed aggregation. With two sub-queries the tie-sum is
        order-exact (IEEE addition of two values is commutative); beyond
        two, cross-engine parity of the tie term is within 1 ulp — the
        contract query uses two."""
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        frames = [self.score_matches(q, mode) for q in queries if q.strip()]
        if not frames:
            return empty
        return dis_max_frames(self.spark, frames, k=k,
                              tie_breaker=tie_breaker)

    def function_score_field(
        self,
        query: str,
        source: DataFrame,
        field: str,
        factor: float = 1.0,
        k: int = 10,
        mode: str = "or",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """OpenSearch ``function_score`` with a ``field_value_factor``
        (modifier ``log1p``-style, written as ln(1 + factor·field) so the
        SQL twin is the same expression): final = bm25 · ln(1+factor·v).
        The field comes from the source table via a keyed join — the
        index stores identity + stats, never a second copy of content."""
        scored = self.score_matches(query, mode)
        vals = source.select(
            F.col(id_col).alias("doc_id"), F.col(field).alias("_v")
        )
        final = F.col("score") * F.log(
            F.lit(1.0) + F.lit(float(factor)) * F.col("_v").cast("double")
        )
        return (
            scored.join(vals, "doc_id")
            .select("doc_id", final.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def explain(
        self, query: str, doc_id: int, round_to: int = 6
    ) -> DataFrame:
        """OpenSearch ``_explain``: the per-term BM25 score breakdown for
        ONE document — (term, tf, dl, df, idf, weight) where weight is the
        term's exact contribution (idf · tf-saturation); the weights sum
        to the doc's search score. A coordinator metadata op: one pushed
        postings read of the query terms, searchsorted to the target doc."""
        import pyarrow.dataset as pads

        schema = ("term string, tf long, dl long, df long, "
                  "idf double, weight double")
        empty = self.spark.createDataFrame([], schema)
        qterms = sorted(set(tokenize_py(query)))
        n_docs, avgdl = self._stats
        if not qterms or n_docs == 0:
            return empty
        dfs = self.term_stats(qterms)
        present = [t for t in qterms if t in dfs]
        if not present:
            return empty
        found: dict[str, tuple[int, int]] = {}
        for dset, names in self._postings_datasets():
            flt = pads.field("term").isin(present)
            if names is not None:
                flt = flt & pads.field("seg").isin(names)
            tbl = dset.to_table(
                columns=["term", "doc_ids", "tfs", "dls"], filter=flt
            )
            for i in range(tbl.num_rows):
                t = tbl["term"][i].as_py()
                ids, tfs = codec.decode_postings(
                    tbl["doc_ids"][i].as_py(), tbl["tfs"][i].as_py()
                )
                j = int(np.searchsorted(ids, doc_id))
                if j < ids.size and ids[j] == doc_id:
                    dls = codec.varint_decode(
                        tbl["dls"][i].as_py()
                    ).astype("int64")
                    found[t] = (int(tfs[j]), int(dls[j]))
        if not found:
            return empty
        rows = []
        for t in sorted(found):
            tf, dl = found[t]
            idf = bm25_idf(n_docs, dfs[t])
            w = idf * (
                tf * (self.k1 + 1.0)
                / (tf + self.k1 * (1.0 - self.b + self.b * dl / avgdl))
            )
            rows.append((t, tf, dl, dfs[t],
                         round(idf, round_to), round(w, round_to)))
        pdf = pd.DataFrame(
            rows, columns=["term", "tf", "dl", "df", "idf", "weight"]
        )
        return self.spark.createDataFrame(pdf, schema)

    def index_stats(self) -> dict:
        """OpenSearch ``_stats``/``_cat/segments`` analog: manifest-level
        index statistics (no data scan)."""
        segs = self._segments
        n, avgdl = self._stats
        return {
            "segments": len(segs),
            "docs": n,
            "sum_terms": sum(s.n_terms for s in segs),
            "postings": sum(s.n_postings for s in segs),
            "avgdl": avgdl,
            "max_generation": max(
                (s.generation for s in segs), default=0
            ),
        }

    def expand_prefix(self, prefix: str, max_terms: int = 50) -> list[str]:
        """Prefix-query rewrite (OpenSearch ``prefix`` /
        ``match_phrase_prefix``): dictionary terms starting with
        ``prefix``, first ``max_terms`` alphabetically (the rewrite cap).

        A coordinator term-dictionary metadata op like :meth:`term_stats`:
        the range predicate ``prefix ≤ term < next(prefix)`` pushes into
        the sorted term column, so only matching row groups are read."""
        if not prefix:
            return []
        import pyarrow.dataset as pads

        upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        terms: set[str] = set()
        for dset, names in self._postings_datasets():
            flt = (pads.field("term") >= prefix) & (pads.field("term") < upper)
            if names is not None:
                flt = flt & pads.field("seg").isin(names)
            tbl = dset.to_table(columns=["term"], filter=flt)
            terms.update(tbl["term"].to_pylist())
        return sorted(terms)[:max_terms]

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        max_terms: int = 50,
        local_threshold: int = 1_000_000,
        transpositions: bool = False,
    ) -> list[str]:
        """Fuzzy-query rewrite (OpenSearch ``fuzzy`` / ``match`` with
        fuzziness): dictionary terms within ``max_edits``, first
        ``max_terms`` alphabetically. ``transpositions=True`` counts an
        adjacent swap as ONE edit (unrestricted Damerau-Levenshtein —
        OpenSearch's fuzzy default; DuckDB's ``damerau_levenshtein``
        reproduces it exactly, verified on 4k random pairs).

        Lucene walks a Levenshtein automaton over its FST dictionary; here
        the dictionary is scanned with a length-window prefilter
        (|len(t) − len(q)| ≤ max_edits). Adaptive like :meth:`search`:
        when Σ per-segment dictionary rows fits under ``local_threshold``
        the coordinator scans the term column via pyarrow; above it a
        distributed distinct over the postings' term column runs with the
        JVM ``levenshtein`` (or an Arrow-batched pandas UDF for the
        transpositions metric, which Spark lacks) — vocabulary-sized,
        never doc-sized."""
        dist = _damerau_levenshtein if transpositions else _levenshtein
        lo, hi = len(term) - max_edits, len(term) + max_edits
        vocab_rows = sum(s.n_terms for s in self._segments)
        if vocab_rows <= local_threshold:
            import pyarrow.dataset as pads

            cand: set[str] = set()
            for dset, names in self._postings_datasets():
                flt = (
                    pads.field("seg").isin(names)
                    if names is not None
                    else None
                )
                tbl = dset.to_table(columns=["term"], filter=flt)
                cand.update(tbl["term"].to_pylist())
            in_window = sorted(t for t in cand if lo <= len(t) <= hi)
            if transpositions:
                dists = _damerau_levenshtein_batch(term, in_window)
                out = [t for t, dd in zip(in_window, dists, strict=True)
                       if dd <= max_edits]
            else:
                out = [t for t in in_window if dist(term, t) <= max_edits]
            return out[:max_terms]
        vocab = (
            self.postings(None)
            .select("term")
            .filter(F.length("term").between(lo, hi))
            .distinct()
        )
        if transpositions:
            from pyspark.sql.pandas.functions import pandas_udf

            @pandas_udf("int")
            def _dl(terms: pd.Series) -> pd.Series:
                return pd.Series(
                    _damerau_levenshtein_batch(term, terms.tolist()),
                    index=terms.index,
                )

            # one transposition = two plain edits, so Damerau ≤ max_edits
            # ⇒ Levenshtein ≤ 2·max_edits: a codegen JVM pre-filter cuts
            # the vocabulary before the exact (vectorized-numpy) DP runs
            vocab = vocab.filter(
                F.levenshtein(F.lit(term), F.col("term")) <= 2 * max_edits
            ).filter(_dl(F.col("term")) <= max_edits)
        else:
            vocab = vocab.filter(
                F.levenshtein(F.lit(term), F.col("term")) <= max_edits
            )
        rows = vocab.orderBy("term").limit(max_terms).collect()
        return [r["term"] for r in rows]

    def expand_wildcard(
        self,
        pattern: str,
        max_terms: int = 50,
        local_threshold: int = 1_000_000,
    ) -> list[str]:
        """Wildcard-query rewrite (OpenSearch ``wildcard``): dictionary
        terms matching the full pattern (``*`` = any run, ``?`` = one
        char), first ``max_terms`` alphabetically.

        Like Lucene, the literal prefix before the first wildcard seeds a
        range scan on the sorted dictionary (leading-wildcard patterns
        scan the whole vocabulary — same caveat as OpenSearch documents).
        Adaptive coordinator/distributed split as :meth:`expand_fuzzy`."""
        import re as _re

        regex = "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c)
            for c in pattern
        )
        lead = _re.split(r"[*?]", pattern, maxsplit=1)[0]
        vocab_rows = sum(s.n_terms for s in self._segments)
        if vocab_rows <= local_threshold:
            import pyarrow.dataset as pads

            cand: set[str] = set()
            for dset, names in self._postings_datasets():
                flt = None
                if lead:
                    upper = lead[:-1] + chr(ord(lead[-1]) + 1)
                    flt = (pads.field("term") >= lead) & (
                        pads.field("term") < upper
                    )
                if names is not None:
                    seg_f = pads.field("seg").isin(names)
                    flt = seg_f if flt is None else flt & seg_f
                tbl = dset.to_table(columns=["term"], filter=flt)
                cand.update(tbl["term"].to_pylist())
            rx = _re.compile(f"^{regex}$")
            return sorted(t for t in cand if rx.match(t))[:max_terms]
        df = self.postings(None).select("term")
        if lead:
            upper = lead[:-1] + chr(ord(lead[-1]) + 1)
            df = df.filter(
                (F.col("term") >= lead) & (F.col("term") < upper)
            )
        rows = (
            df.distinct()
            .filter(F.col("term").rlike(f"^{regex}$"))
            .orderBy("term")
            .limit(max_terms)
            .collect()
        )
        return [r["term"] for r in rows]

    def wildcard_search(
        self, pattern: str, k: int = 10, max_terms: int = 50
    ) -> DataFrame:
        """Wildcard query scored as ``rewrite: scoring_boolean``."""
        terms = self.expand_wildcard(pattern, max_terms)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(" ".join(terms), k=k, mode="or")

    def wildcard_match_count(self, pattern: str, max_terms: int = 50) -> int:
        terms = self.expand_wildcard(pattern, max_terms)
        return self.match_count(" ".join(terms), mode="or") if terms else 0

    def expand_regexp(
        self,
        regex: str,
        max_terms: int = 50,
        local_threshold: int = 1_000_000,
    ) -> list[str]:
        """Regexp-query rewrite (OpenSearch ``regexp``): dictionary terms
        FULLY matching ``regex``, first ``max_terms`` alphabetically.
        Anchored like Lucene (the pattern must cover the whole term); a
        literal prefix, when the pattern starts with one, seeds a range
        scan on the sorted dictionary. Portable patterns are the
        Java∩RE2∩Python subset (literals, classes, ``.``, ``*``, ``+``,
        ``|``, groups) — the same constraint OpenSearch documents for its
        own regexp syntax."""
        import re as _re

        m = _re.match(r"[a-z0-9_]+", regex)
        lead = m.group(0) if m else ""
        rest = regex[len(lead):]
        if "|" in regex:
            # an alternation branch can bypass the literal prefix — no
            # range seed (a top-level-only parse would need a full regex
            # AST; Lucene gets this from the compiled automaton's common
            # prefix, the conservative analog here is a full dict scan)
            lead = ""
        elif rest[:1] in ("*", "?", "{"):
            lead = lead[:-1]  # quantifier makes the last literal optional
        vocab_rows = sum(s.n_terms for s in self._segments)
        if vocab_rows <= local_threshold:
            import pyarrow.dataset as pads

            cand: set[str] = set()
            for dset, names in self._postings_datasets():
                flt = None
                if lead:
                    upper = lead[:-1] + chr(ord(lead[-1]) + 1)
                    flt = (pads.field("term") >= lead) & (
                        pads.field("term") < upper
                    )
                if names is not None:
                    seg_f = pads.field("seg").isin(names)
                    flt = seg_f if flt is None else flt & seg_f
                tbl = dset.to_table(columns=["term"], filter=flt)
                cand.update(tbl["term"].to_pylist())
            rx = _re.compile(f"^(?:{regex})$")
            return sorted(t for t in cand if rx.match(t))[:max_terms]
        df = self.postings(None).select("term")
        if lead:
            upper = lead[:-1] + chr(ord(lead[-1]) + 1)
            df = df.filter(
                (F.col("term") >= lead) & (F.col("term") < upper)
            )
        rows = (
            df.distinct()
            .filter(F.col("term").rlike(f"^(?:{regex})$"))
            .orderBy("term")
            .limit(max_terms)
            .collect()
        )
        return [r["term"] for r in rows]

    def regexp_match_count(self, regex: str, max_terms: int = 50) -> int:
        terms = self.expand_regexp(regex, max_terms)
        return self.match_count(" ".join(terms), mode="or") if terms else 0

    def more_like_this(
        self,
        doc_id: int,
        source: DataFrame,
        k: int = 10,
        max_query_terms: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """OpenSearch ``more_like_this``: the seed doc's top
        ``max_query_terms`` terms by tf·idf (idf = ln(N/df), the same form
        as ``tfidf_top_terms``; rounded to 6 so the SQL twin ranks
        identically) form an OR query; the seed itself is excluded. The
        seed's text comes from the source table (the index stores identity
        + stats, never content) — a one-row driver fetch, then the
        standard adaptive search."""
        import math

        empty = self.spark.createDataFrame([], "doc_id long, score double")
        row = (
            source.filter(F.col(id_col) == doc_id).select(text_col).collect()
        )
        if not row or row[0][0] is None:
            return empty
        n_docs, _ = self._stats
        tfs = Counter(tokenize_py(row[0][0]))
        dfs = self.term_stats(sorted(tfs))
        ranked = sorted(
            (
                (-round(tfs[t] * math.log(n_docs / dfs[t]), 6), t)
                for t in tfs
                if dfs.get(t, 0) > 0
            ),
        )[:max_query_terms]
        terms = [t for _, t in ranked]
        if not terms:
            return empty
        hits = self.search(" ".join(terms), k=k + 1, mode="or")
        return (
            hits.filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def suggest(
        self,
        term: str,
        max_edits: int = 2,
        size: int = 3,
        expansion_cap: int = 10_000,
    ) -> list[tuple[str, int, int]]:
        """OpenSearch term suggester (``suggest_mode: always``): dictionary
        terms within ``max_edits`` of the input (the input itself
        excluded), ranked by (edit distance asc, df desc, term asc) —
        distance-then-popularity, the suggester's default ordering.
        Distance is the suggester's default ``internal`` string distance:
        an adjacent transposition counts as ONE edit (Damerau), so a
        transposed typo ranks at distance 1, not 2.
        Returns ``(term, distance, df)`` rows, coordinator-local like the
        other dictionary ops.

        ``expansion_cap`` bounds the candidate list ALPHABETICALLY (the
        rewrite-cap semantics shared with :meth:`expand_fuzzy`); the SQL
        oracle mirrors the same cap so engine and oracle stay aligned
        even on a corpus with more than ``expansion_cap`` edit-distance
        neighbors."""
        cands = [
            t for t in self.expand_fuzzy(term, max_edits,
                                         max_terms=expansion_cap,
                                         transpositions=True)
            if t != term
        ]
        if not cands:
            return []
        dfs = self.term_stats(cands)
        ranked = sorted(
            (
                (_damerau_levenshtein(t, term), -dfs.get(t, 0), t)
                for t in cands
                if dfs.get(t, 0) > 0
            ),
        )[:size]
        return [(t, d, -negdf) for d, negdf, t in ranked]

    def prefix_search(
        self, prefix: str, k: int = 10, max_terms: int = 50
    ) -> DataFrame:
        """Prefix query scored as OpenSearch ``rewrite: scoring_boolean``:
        the expansion becomes an OR of term queries, each with qtf=1 and
        its own idf."""
        terms = self.expand_prefix(prefix, max_terms)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(" ".join(terms), k=k, mode="or")

    def fuzzy_search(
        self, term: str, k: int = 10, max_edits: int = 1, max_terms: int = 50
    ) -> DataFrame:
        """Fuzzy query scored as ``rewrite: scoring_boolean`` over the
        levenshtein expansion."""
        terms = self.expand_fuzzy(term, max_edits, max_terms)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(" ".join(terms), k=k, mode="or")

    def fuzzy_match_count(
        self,
        term: str,
        max_edits: int = 1,
        max_terms: int = 50,
        transpositions: bool = False,
    ) -> int:
        """Docs matching any term of the fuzzy expansion (D7 over the
        rewrite); ``transpositions`` selects the Damerau metric."""
        terms = self.expand_fuzzy(term, max_edits, max_terms,
                                  transpositions=transpositions)
        return self.match_count(" ".join(terms), mode="or") if terms else 0

    def phrase_match(
        self,
        source: DataFrame,
        phrase: str,
        id_col: str = "doc_id",
        text_col: str = "content",
    ) -> DataFrame:
        """Phrase matching without positional postings: the inverted index
        prunes to docs containing ALL phrase terms (the cheap, selective
        step — at 100 TB this is the difference between scanning the corpus
        and scanning a candidate sliver), then the exact token-adjacency
        check runs only on those docs' text. Returns matching (doc_id)
        rows. The adjacency test tokenizes the same way the analyzer does,
        so punctuation between words doesn't break a phrase."""
        terms = tokenize_py(phrase)
        if not terms:
            return source.select(F.col(id_col).alias("doc_id")).filter(
                F.lit(False)
            )
        cand_rows = self.match_docs_all_terms(
            sorted(set(terms))
        ).withColumnRenamed("doc_id", "_cand_id")
        needle = " ".join(terms)
        joined = source.join(
            cand_rows, source[id_col] == F.col("_cand_id")
        ).withColumn("doc_id", F.col("_cand_id"))
        # space-pad both haystack and needle: adjacency in token space
        return (
            joined.withColumn(
                "_joined_toks",
                F.concat(
                    F.lit(" "),
                    F.concat_ws(" ", F.expr(tokenize_expr(text_col))),
                    F.lit(" "),
                ),
            )
            .filter(F.contains(F.col("_joined_toks"), F.lit(f" {needle} ")))
            .select("doc_id")
        )

    def match_docs(self, query: str, mode: str = "or") -> DataFrame:
        """doc_ids matching the query (OR: any term; AND: all terms) as a
        DataFrame — the index-side match set that OpenSearch-style
        aggregations (facets) and filters compose with. Always the
        distributed path: a whole match set is never collected."""
        return self._run_segments(
            *self._compile(dict.fromkeys(tokenize_py(query), 1), mode=mode,
                           output="ids"),
            0,
        )

    def match_docs_all_terms(self, terms: list[str]) -> DataFrame:
        """doc_ids containing ALL terms (AND semantics), as a DataFrame —
        the index-side candidate set for phrase/filter queries."""
        return self._run_segments(
            *self._compile(dict.fromkeys(terms, 1), mode="and",
                           output="ids"),
            0,
        )

    def score_matches(
        self,
        query: str,
        mode: str = "or",
        stats_override: tuple[int, float, dict[str, int]] | None = None,
    ) -> DataFrame:
        """EXACT BM25 scores for EVERY matching doc (no top-k cut) as a
        DataFrame — the substrate for analytics that need the full hit
        list (field collapsing, score histograms). The kernel runs per
        segment in Spark (a whole match set is never collected); with an
        unbounded k (``None``) every candidate is scored — no MaxScore
        pruning, no cut.

        ``stats_override = (n_docs, avgdl, dfs)`` scores with EXTERNAL
        statistics instead of this index's own — the dfs_query_then_fetch
        substrate (:func:`search_across` merges per-index stats into a
        global set and passes them here, so scores match a single
        combined index exactly)."""
        return self._run_segments(
            *self._compile(Counter(tokenize_py(query)), mode=mode,
                           k=None, stats=stats_override),
            0,
        )

    def search_collapse(
        self,
        source: DataFrame,
        query: str,
        collapse_col: str,
        k_per_group: int = 1,
        mode: str = "or",
        id_col: str = "doc_id",
        round_to: int = 4,
    ) -> DataFrame:
        """OpenSearch field collapsing: the FULL match set is scored
        exactly, then only the best ``k_per_group`` hits per
        ``collapse_col`` value survive (rank on raw score desc, doc_id asc
        — deterministic). One keyed join against the source for the
        collapse field + one window per group; nothing driver-sized."""
        from pyspark.sql import Window

        scored = self.score_matches(query, mode)
        joined = source.select(
            F.col(id_col).alias("doc_id"), collapse_col
        ).join(scored, "doc_id")
        w = Window.partitionBy(collapse_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k_per_group)
            .select(
                collapse_col,
                "rnk",
                "doc_id",
                F.round("score", round_to).alias("score"),
            )
        )

    def significant_terms(
        self,
        source: DataFrame,
        query: str,
        k: int = 10,
        mode: str = "or",
        id_col: str = "doc_id",
        text_col: str = "content",
        round_to: int = 6,
        max_candidate_terms: int = 10_000,
    ) -> DataFrame:
        """OpenSearch ``significant_terms`` aggregation over the query's
        match set: terms over-represented in the foreground (matching
        docs) versus the background (whole index), scored with the simple
        lift² measure ``(fg_df/fg_size)² / (bg_df/N)`` (the shape of
        OpenSearch's JLH numerator) — deterministic (score desc, term asc)
        top-k.

        Execution: the index produces the match set (selective — the same
        candidate-sliver story as phrase_match); only those docs' text is
        re-analyzed for foreground df. The candidate term list is the
        foreground's vocabulary, capped at ``max_candidate_terms`` by
        (fg_df desc, term asc) — the OpenSearch ``shard_size`` analog, a
        bounded driver-side term dictionary. Background df is then read
        from the postings store for ONLY those terms (``term IN (...)``
        pushed into the parquet scan, same pruning path as every query),
        never a full-index aggregation; the fg side rejoins as a
        broadcast. Nothing corpus-sized reaches the driver."""
        n_docs, _ = self._stats
        empty = self.spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
        if n_docs == 0:
            return empty
        matches = self.match_docs(query, mode=mode)
        fg_size = matches.count()
        if fg_size == 0:
            return empty
        fg = (
            source.join(
                matches.withColumnRenamed("doc_id", "_m_id"),
                source[id_col] == F.col("_m_id"),
            )
            .select(
                F.col("_m_id").alias("doc_id"),
                F.explode(
                    F.array_distinct(F.expr(tokenize_expr(text_col)))
                ).alias("term"),
            )
            .groupBy("term")
            .agg(F.count("*").alias("fg_df"))
        )
        cand = (
            fg.orderBy(F.desc("fg_df"), F.asc("term"))
            .limit(max_candidate_terms)
            .collect()
        )
        if not cand:
            return empty
        fg_local = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "term": [r["term"] for r in cand],
                    "fg_df": np.asarray(
                        [r["fg_df"] for r in cand], dtype="int64"
                    ),
                }
            ),
            "term string, fg_df long",
        )
        bg = (
            self.postings([r["term"] for r in cand])
            .groupBy("term")
            .agg(F.sum("df").alias("bg_df"))
        )
        fg_sz = float(fg_size)
        n = float(n_docs)
        score = F.round(
            (F.col("fg_df") / F.lit(fg_sz))
            * (F.col("fg_df") / F.lit(fg_sz))
            / (F.col("bg_df") / F.lit(n)),
            round_to,
        )
        return (
            bg.join(F.broadcast(fg_local), "term")
            .select("term", "fg_df", "bg_df", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def _fetch_rows(self, terms: list[str]) -> dict[str, pd.DataFrame]:
        """Per-term packed postings rows, memoized per manifest snapshot
        under a byte cap (FIFO eviction; an over-cap term is fetched but
        not cached). The packed blobs are immutable per snapshot, so
        reuse is free — this is the coordinator analog of Lucene keeping
        its hot postings pages resident."""
        import pyarrow.dataset as pads

        def _blob_bytes(frame: pd.DataFrame) -> int:
            if not len(frame):
                return 0
            return int(sum(
                len(b)
                for col in ("doc_ids", "tfs", "dls", "block_max")
                for b in frame[col]
            ))

        frames: dict[str, pd.DataFrame] = {}
        missing = []
        for t in terms:
            hit = self._rows_cache.get(t)
            if hit is not None:
                frames[t] = hit
            else:
                missing.append(t)
        if missing:
            parts = []
            for dset, names in self._postings_datasets():
                flt = pads.field("term").isin(missing)
                if names is not None:
                    flt = flt & pads.field("seg").isin(names)
                tbl = dset.to_table(filter=flt)
                if tbl.num_rows:
                    parts.append(tbl.to_pandas())
            fetched = (
                pd.concat(parts, ignore_index=True) if parts
                else pd.DataFrame()
            )
            for t in missing:
                sub = (
                    fetched[fetched["term"] == t].reset_index(drop=True)
                    if len(fetched)
                    else fetched
                )
                frames[t] = sub
                nbytes = _blob_bytes(sub)
                if nbytes > self.rows_cache_max_bytes:
                    continue          # too big to cache; still usable
                while (
                    self._rows_cache
                    and self._rows_bytes + nbytes
                    > self.rows_cache_max_bytes
                ):
                    old = next(iter(self._rows_cache))
                    self._rows_bytes -= _blob_bytes(
                        self._rows_cache.pop(old)
                    )
                self._rows_cache[t] = sub
                self._rows_bytes += nbytes
        return frames

    def _compile(
        self,
        qweights: dict[str, float],
        *,
        mode: str = "or",
        must: list[str] | tuple[str, ...] = (),
        must_not: list[str] | tuple[str, ...] = (),
        min_should_match: int = 1,
        k: int | None = 10,
        output: str = "topk",
        stats: tuple[int, float, dict[str, int]] | None = None,
    ) -> tuple[QuerySpec, list[str], dict[str, int]]:
        """Compile one query into ``(spec, fetch_terms, dfs)``.

        ``qweights`` maps each query term to its multiplier (qtf or
        boost); a term's weight is multiplier · idf. ``mode="and"`` makes
        every query term a ``must`` term. ``stats = (n_docs, avgdl, dfs)``
        replaces this index's statistics (see :meth:`score_matches`).
        When no doc can match — no query term, an empty index, a missing
        ``must`` term or fewer present terms than ``min_should_match`` —
        ``fetch_terms`` is empty and the executor returns an empty
        result without reading postings."""
        if mode not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        if stats is None:
            n_docs, avgdl = self._stats
        else:
            n_docs, avgdl, dfs_all = stats
        spec = QuerySpec({}, avgdl, self.k1, self.b, self.block_size,
                         k=k, output=output)
        if not qweights or n_docs == 0 or min_should_match < 1:
            return spec, [], {}
        terms = sorted(set(qweights) | set(must_not))
        dfs = (
            self.term_stats(terms) if stats is None
            else {t: dfs_all[t] for t in terms if dfs_all.get(t)}
        )
        must = sorted(qweights) if mode == "and" else sorted(must)
        present = [t for t in sorted(qweights) if t in dfs]
        if any(t not in dfs for t in must) or len(present) < min_should_match:
            return spec, [], dfs
        not_present = sorted(t for t in set(must_not) if t in dfs)
        spec = QuerySpec(
            {t: qweights[t] * bm25_idf(n_docs, dfs[t]) for t in present},
            avgdl, self.k1, self.b, self.block_size, tuple(must),
            tuple(not_present), min_should_match, k, output,
        )
        return spec, sorted(present + not_present), dfs

    def _run_segments(
        self,
        spec: QuerySpec,
        terms: list[str],
        dfs: dict[str, int],
        local_threshold: int,
        filter: tuple[DataFrame, int] | None = None,
    ):
        """The one executor: runs :func:`score_segment` over every
        segment holding ``terms`` and merges the outputs — the k best
        (doc_id, score) rows, every matching doc_id, or (``count``) the
        number of matches as an int.

        ``filter = (ids, max_pushdown_ids)`` restricts the hits to the
        ``doc_id`` column of ``ids`` (filter context). Paths:

        - a filter wider than ``max_pushdown_ids`` is never collected: its
          ids are partitioned per segment through the docs table (a keyed
          semi-join) and cogrouped with that segment's postings, so the
          kernel restricts its lists before selecting candidates;
        - the coordinator path, when Σdf of ``terms`` ≤
          ``local_threshold``: :meth:`_coordinator`, with a narrow
          filter's sorted id array as the restrict array;
        - the distributed path otherwise: ``groupBy(seg).applyInPandas``
          over the pushed-down postings scan, a narrow filter's ids
          shipped as ONE broadcast per executor."""
        if not terms:
            return self._empty(spec)
        schema = _OUTPUT_SCHEMAS[spec.output]
        restrict = None
        if filter is not None:
            ids, max_pushdown_ids = filter
            n_filter = ids.count()
            if n_filter == 0:
                return self._empty(spec)
            if n_filter > max_pushdown_ids:
                filt = (
                    self.store.read_docs(self.spark, self._segments,
                                         with_seg=True)
                    .select("seg", "doc_id")
                    .join(ids.select("doc_id").distinct(), "doc_id",
                          "left_semi")
                )

                def score_cogroup(post_pdf: pd.DataFrame,
                                  filt_pdf: pd.DataFrame) -> pd.DataFrame:
                    rid = np.sort(filt_pdf["doc_id"].to_numpy(np.int64)) \
                        if len(filt_pdf) else np.empty(0, dtype=np.int64)
                    return score_segment(spec, post_pdf, rid)

                return self._merge(spec, (
                    self.postings(terms).groupBy("seg")
                    .cogroup(filt.groupBy("seg"))
                    .applyInPandas(score_cogroup, schema=schema)
                ))
            restrict = np.sort(np.array(
                [r["doc_id"] for r in ids.distinct().collect()],
                dtype=np.int64,
            ))
        if sum(dfs[t] for t in terms) <= local_threshold:
            out = self._coordinator(spec, terms, restrict)
            if spec.output == "count":
                return int(out["n"].sum())
            if not len(out):
                return self._empty(spec)
            return self.spark.createDataFrame(out, schema)
        if restrict is not None:
            restrict = self._track_broadcast(
                self.spark.sparkContext.broadcast(restrict)
            )
        return self._merge(spec, (
            self.postings(terms).groupBy("seg")
            .applyInPandas(lambda pdf: score_segment(spec, pdf, restrict),
                           schema=schema)
        ))

    def _coordinator(
        self, spec: QuerySpec, terms: list[str], restrict=None
    ) -> pd.DataFrame:
        """The executor's coordinator path: memoized postings fetch →
        :func:`score_segment` per segment → merged output (the global
        top-k by ``lexsort`` for a top-k spec; one ``n`` row per segment
        for a count)."""
        frames = [f for f in self._fetch_rows(terms).values() if len(f)]
        outs = []
        if frames:
            rows = pd.concat(frames, ignore_index=True)
            outs = [
                out for _, g in rows.groupby("seg", sort=False)
                if len(out := score_segment(spec, g, restrict))
            ]
        if not outs:
            return _empty_output(spec)
        out = pd.concat(outs, ignore_index=True)
        if spec.output == "topk":
            order = np.lexsort(
                (out["doc_id"].to_numpy(), -out["score"].to_numpy())
            )[:spec.k]
            out = out.iloc[order].reset_index(drop=True)
        return out

    def _merge(self, spec: QuerySpec, per_segment: DataFrame):
        """Spark-side merge of the per-segment kernel outputs."""
        if spec.output == "topk" and spec.k is not None:
            return per_segment.orderBy(
                F.desc("score"), F.asc("doc_id")
            ).limit(spec.k)
        if spec.output == "count":
            return int(
                per_segment.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
                .collect()[0]["n"]
            )
        return per_segment

    def _empty(self, spec: QuerySpec):
        if spec.output == "count":
            return 0
        return self.spark.createDataFrame([], _OUTPUT_SCHEMAS[spec.output])

    def match_count(
        self,
        query: str,
        mode: str = "or",
        local_threshold: int = LOCAL_POSTINGS_MAX,
    ) -> int:
        """Number of matching docs (D7) without scoring — the same
        adaptive split as :meth:`search`: under ``local_threshold``
        summed postings the count runs coordinator-local over the (row-
        cached) postings; above it, per segment in Spark (segments are
        doc-disjoint, so the counts sum)."""
        return self._run_segments(
            *self._compile(dict.fromkeys(tokenize_py(query), 1), mode=mode,
                           output="count"),
            local_threshold,
        )


_NO_MATCH_POS = 1 << 31


def highlight_snippets(
    hits: DataFrame,
    source: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    before: int = 2,
    width: int = 5,
) -> DataFrame:
    """OpenSearch plain-highlighter analog: for each hit, re-analyze the
    stored text and cut a ``width``-token fragment starting ``before``
    tokens ahead of the EARLIEST occurrence of any query term
    (HighlightBuilder's fragment around the best match; the plain
    highlighter re-analyzes stored fields the same way).

    Scale shape: ``hits`` is k rows — broadcast into the source join, so
    tokenization + slicing are JVM array ops on k rows, never corpus-wide.
    Hits whose text contains no query term get a NULL snippet (OpenSearch
    returns no fragment for unmatched fields)."""
    terms = sorted(set(tokenize_py(query)))
    toks = F.expr(tokenize_expr(text_col))
    pos_exprs = [
        F.coalesce(
            F.nullif(F.array_position(toks, F.lit(t)), F.lit(0)),
            F.lit(_NO_MATCH_POS),
        ).cast("long")
        for t in terms
    ]
    p = F.least(*pos_exprs) if len(pos_exprs) > 1 else pos_exprs[0]
    start = F.greatest(p - F.lit(before), F.lit(1))
    joined = source.join(F.broadcast(hits), [id_col]) if id_col == "doc_id" \
        else source.join(
            F.broadcast(hits), source[id_col] == hits["doc_id"]
        )
    return joined.select(
        F.col("doc_id"),
        F.col("score"),
        F.when(
            p < F.lit(_NO_MATCH_POS),
            F.concat_ws(" ", F.slice(toks, start, width)),
        ).alias("snippet"),
    )


def term_vectors(
    reader: "IndexReader",
    source: DataFrame,
    doc_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """OpenSearch ``_termvectors`` (realtime mode): the per-doc term
    vector — (term, tf, positions) — computed on the fly from the stored
    source (exactly what OpenSearch does when term vectors aren't stored:
    re-analyze ``_source``), enriched with the INDEX's document frequency
    per term (``term_statistics: true``). One-row driver fetch + one
    coordinator term-dictionary read; never a corpus scan (the positional
    store is term-major — an inverted per-doc lookup there would read
    every term's postings, which is why Lucene keeps term vectors as a
    separate doc-major structure and OpenSearch recomputes realtime
    vectors from source)."""
    rows = (
        source.filter(F.col(id_col) == doc_id).select(text_col).collect()
    )
    schema = ("term string, tf long, positions array<int>, df long")
    if not rows or rows[0][0] is None:
        return reader.spark.createDataFrame([], schema)
    toks = tokenize_py(rows[0][0])
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        pos.setdefault(t, []).append(i + 1)   # 1-based like the oracle
    dfs = reader.term_stats(sorted(pos))
    pdf = pd.DataFrame(
        {
            "term": sorted(pos),
            "tf": [len(pos[t]) for t in sorted(pos)],
            "positions": [pos[t] for t in sorted(pos)],
            "df": [dfs.get(t, 0) for t in sorted(pos)],
        }
    )
    return reader.spark.createDataFrame(pdf, schema)


def highlight_fragments(
    hits: DataFrame,
    source: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    n_fragments: int = 2,
    before: int = 2,
    width: int = 5,
) -> DataFrame:
    """Multi-fragment highlighting (OpenSearch ``number_of_fragments``):
    up to ``n_fragments`` snippets per hit, one per disjoint
    ``width``-token REGION containing a query-term occurrence — the
    region anchor is its earliest occurrence, each fragment starts
    ``before`` tokens ahead of its anchor, fragments join with " … "
    (the plain highlighter's multi-fragment output shape, with a
    deterministic region rule instead of Lucene's fragment scorer so
    the SQL oracle reproduces it exactly).

    Runs as array ops on the K HIT ROWS after a broadcast join — the
    higher-order functions here are interpreted (CodegenFallback), which
    is irrelevant at k rows and never touches the corpus."""
    terms = sorted(set(tokenize_py(query)))
    toks = F.expr(tokenize_expr(text_col))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    joined = source.join(F.broadcast(hits), [id_col]) if id_col == "doc_id" \
        else source.join(
            F.broadcast(hits), source[id_col] == hits["doc_id"]
        )
    j = joined.select("doc_id", "score", toks.alias("_toks"))
    occ = F.filter(
        F.sequence(F.lit(1), F.size("_toks")),
        lambda i: F.array_contains(terms_arr, F.get("_toks", i - 1)),
    )
    j = j.select("doc_id", "score", "_toks", occ.alias("_occ"))
    region = lambda p: F.floor((p - 1) / F.lit(width)).cast("long")  # noqa: E731
    anchors = F.filter(
        F.col("_occ"),
        lambda p, i: (i == F.lit(0))
        | (region(p) != region(F.get("_occ", i - 1))),
    )
    j = j.select(
        "doc_id", "score", "_toks",
        F.slice(anchors, 1, n_fragments).alias("_anchors"),
    )
    frag = lambda a: F.concat_ws(  # noqa: E731
        " ",
        F.slice("_toks", F.greatest(a - F.lit(before), F.lit(1)), width),
    )
    return j.select(
        "doc_id",
        "score",
        F.when(
            F.size("_anchors") > 0,
            F.array_join(F.transform("_anchors", frag), " … "),
        ).alias("snippet"),
    )


def _levenshtein(a: str, b: str) -> int:
    """Unit-cost edit distance (insert/delete/substitute) — identical
    definition to Spark's and DuckDB's ``levenshtein``, so the coordinator
    and distributed fuzzy expansions (and the SQL oracle) agree."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != b[j - 1])
            )
        prev = cur
    return prev[lb]


def _damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner): insert, delete,
    substitute, and transpose-adjacent each cost 1, with edits allowed
    between transposed characters. Matches DuckDB's
    ``damerau_levenshtein`` exactly (tests compare on random pairs) —
    the metric behind OpenSearch fuzzy's ``transpositions: true``."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    da: dict[str, int] = {}
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            lcol = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][lcol] + (i - k - 1) + 1 + (j - lcol - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _damerau_levenshtein_batch(query: str, terms: list[str]) -> np.ndarray:
    """Vectorized Lowrance-Wagner against ONE fixed query: the DP runs
    len(query) × max(len(term)) iterations of O(batch) numpy ops — no
    per-candidate Python DP. Bit-equal to ``_damerau_levenshtein(query,
    t)`` for every t (hypothesis-pinned in tests/test_functions.py).

    Layout: candidates padded with NUL (tokens are ``[a-z0-9_]+``, so
    NUL never matches) into an (n, lb_max) codepoint matrix; ``da`` —
    the last query row where each char occurred — is indexed by a
    searchsorted id into the query's unique codepoints (0 = not in the
    query, matching the scalar's ``da.get(c, 0)``)."""
    n = len(terms)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=n)
    la = len(query)
    if la == 0:
        return lens
    lb_max = int(lens.max())
    if lb_max == 0:
        return np.full(n, la, dtype=np.int64)
    joined = "".join(t.ljust(lb_max, "\0") for t in terms)
    b_mat = (
        np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        .reshape(n, lb_max)
        .astype(np.int64)
    )
    q_arr = np.frombuffer(
        query.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    uq = np.unique(q_arr)
    pos = np.minimum(np.searchsorted(uq, b_mat), uq.size - 1)
    b_qid = np.where(uq[pos] == b_mat, pos + 1, 0)   # 0 = not in query
    q_qid = np.searchsorted(uq, q_arr) + 1

    big = la + lb_max + 1        # uniform "maxdist" guard row/col value
    d = np.full((la + 2, lb_max + 2, n), big, dtype=np.int64)
    d[1:, 1] = np.arange(la + 1, dtype=np.int64)[:, None]
    d[1, 1:] = np.arange(lb_max + 1, dtype=np.int64)[:, None]
    da = np.zeros(uq.size + 1, dtype=np.int64)
    rng = np.arange(n)
    for i in range(1, la + 1):
        db = np.zeros(n, dtype=np.int64)
        a_c = q_arr[i - 1]
        for j in range(1, lb_max + 1):
            bj = b_mat[:, j - 1]
            k = da[b_qid[:, j - 1]]
            lcol = db
            match = bj == a_c
            cost = np.where(match, 0, 1)
            db = np.where(match, j, db)
            trans = d[k, lcol, rng] + (i - k - 1) + 1 + (j - lcol - 1)
            d[i + 1, j + 1] = np.minimum.reduce(
                [d[i, j] + cost, d[i + 1, j] + 1, d[i, j + 1] + 1, trans]
            )
        da[q_qid[i - 1]] = i
    return d[la + 1, lens + 1, rng]


def _decode_rows(pdf: pd.DataFrame) -> dict[str, tuple]:
    """term → (doc_ids, tfs, dls, block_max) decoded numpy arrays."""
    out = {}
    for _, row in pdf.iterrows():
        ids, tfs = codec.decode_postings(row["doc_ids"], row["tfs"])
        dls = codec.varint_decode(row["dls"]).astype("int64")
        bmax = codec.decode_block_max(row["block_max"])
        out[row["term"]] = (ids, tfs, dls, bmax)
    return out


def _exact_scores(
    cand: np.ndarray,
    decoded: dict,
    weights: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
) -> np.ndarray:
    """Exact BM25 of candidate docs, accumulating terms in sorted order so
    float64 summation order matches the oracle bit-for-bit."""
    scores = np.zeros(cand.size, dtype=np.float64)
    for term in sorted(decoded):
        ids, tfs, dls, _ = decoded[term]
        pos = np.searchsorted(ids, cand)
        pos_c = np.minimum(pos, ids.size - 1)
        hit = ids[pos_c] == cand
        tf = tfs[pos_c][hit].astype(np.float64)
        dl = dls[pos_c][hit].astype(np.float64)
        scores[hit] += weights[term] * bm25_tf_weight(tf, dl, avgdl, k1, b)
    return scores


def _restrict_to_lists(
    decoded: dict, allowed: np.ndarray, block_size: int
) -> dict:
    """Keep only docs in sorted ``allowed`` in every posting list,
    recomputing per-block max-tf so MaxScore bounds stay valid — the
    filter-context candidate pushdown (inverse of
    :func:`_exclude_from_lists`). An empty ``allowed`` (a segment none
    of the filter's docs live in) empties every list."""
    if allowed.size == 0:
        return {}
    out = {}
    for t, (ids, tfs, dls, bmax) in decoded.items():
        j = np.searchsorted(allowed, ids)
        j[j == allowed.size] = allowed.size - 1
        keep = allowed[j] == ids
        if keep.all():
            out[t] = (ids, tfs, dls, bmax)
            continue
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if ids.size == 0:
            continue
        starts = np.arange(0, ids.size, block_size)
        out[t] = (ids, tfs, dls, np.maximum.reduceat(tfs, starts))
    return out


def parse_min_should_match(spec: str | int, n_optional: int) -> int:
    """OpenSearch/Lucene ``minimum_should_match`` spec → required clause
    count for ``n_optional`` optional clauses. Supported forms (the
    common grammar; combination ``N<spec`` intentionally unsupported):

    - ``3`` / ``"3"``  — fixed count;
    - ``"-2"``         — all but 2;
    - ``"75%"``        — ``floor(0.75 · n)`` (Lucene rounds DOWN);
    - ``"-25%"``       — ``n - floor(0.25 · n)``.

    The result is clamped to [0, n_optional] the way Lucene does."""
    if isinstance(spec, int):
        m = spec
    else:
        s = spec.strip()
        if s.endswith("%"):
            pct = int(s[:-1])
            # exact integer floor — float truncation gave int(0.29*100)=28
            m = (
                n_optional - ((-pct) * n_optional) // 100
                if pct < 0
                else (pct * n_optional) // 100
            )
        else:
            m = int(s)
            if m < 0:
                m = n_optional + m
    return max(0, min(m, n_optional))


def _resolve_restrict(restrict_ids):
    """restrict_ids may be a plain sorted ndarray (driver-local scoring)
    or a ``pyspark.Broadcast`` of one (distributed scoring: ONE
    serialized copy per executor instead of a per-task closure capture —
    at the 2M-id cap that is ~16 MB shipped once, not per stage)."""
    from pyspark.broadcast import Broadcast

    return restrict_ids.value if isinstance(restrict_ids, Broadcast) \
        else restrict_ids


@dataclass(frozen=True)
class QuerySpec:
    """One compiled query — everything :func:`score_segment` needs.

    ``weights`` maps each scoring term present in the index to its
    weight (qtf · boost · idf). A doc is a candidate when it holds every
    ``must`` term, no ``must_not`` term and, without ``must``, at least
    ``min_should_match`` weighted terms. ``output`` is ``"topk"`` (the
    ``k`` best ``(doc_id, score)`` rows; every match when ``k`` is
    ``None``), ``"ids"`` (every matching doc_id) or ``"count"`` (one
    ``n`` row)."""

    weights: dict[str, float]
    avgdl: float
    k1: float
    b: float
    block_size: int
    must: tuple[str, ...] = ()
    must_not: tuple[str, ...] = ()
    min_should_match: int = 1
    k: int | None = 10
    output: str = "topk"


def _empty_output(spec: QuerySpec) -> pd.DataFrame:
    if spec.output == "count":
        return pd.DataFrame({"n": [0]})
    if spec.output == "ids":
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
    return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")})


def score_segment(
    spec: QuerySpec, pdf: pd.DataFrame, restrict=None
) -> pd.DataFrame:
    """The per-segment kernel: decode one segment's packed posting rows,
    select the candidates ``spec`` admits and emit its output.

    Candidate rules:

    - ``restrict`` (a sorted id array, or a broadcast of one) is filter
      context: every list (must_not included) is cut to it FIRST, with
      block-max recomputed; per-doc BM25 is independent of other docs, so
      the survivors' scores are unchanged;
    - with ``must`` terms: the must lists intersect smallest-first, then
      ``must_not`` docs are dropped;
    - otherwise ``must_not`` docs leave every scoring list first
      (:func:`_exclude_from_lists`), then ``min_should_match ≥ 2`` keeps
      the docs in that many lists (one unique-with-counts — ids are
      unique per list), a bounded top-k keeps MaxScore/block-max
      pruning (:func:`_maxscore_candidates`, exact), and every other
      output takes the whole union.

    Candidates are scored by :func:`_exact_scores` in sorted-term order
    and cut to the local top-k with the global merge's (score desc,
    doc_id asc) tie-break."""
    decoded = _decode_rows(pdf)
    restrict = _resolve_restrict(restrict)
    if restrict is not None and decoded:
        decoded = _restrict_to_lists(decoded, restrict, spec.block_size)
    lists = {t: v for t, v in decoded.items() if t in spec.weights}
    if not lists:
        return _empty_output(spec)
    if spec.must:
        # segments are doc-disjoint: a doc here can hold every must term
        # only if every must term has a posting list here
        if any(t not in decoded for t in spec.must):
            return _empty_output(spec)
        cand = None
        for t in sorted(spec.must, key=lambda t: decoded[t][0].size):
            ids = decoded[t][0]
            cand = ids if cand is None else cand[np.isin(cand, ids)]
            if cand.size == 0:
                return _empty_output(spec)
        for t in spec.must_not:
            if t in decoded and cand.size:
                cand = cand[~np.isin(cand, decoded[t][0])]
    else:
        lists = _exclude_from_lists(
            lists, decoded, spec.must_not, spec.block_size
        )
        if not lists:
            return _empty_output(spec)
        if spec.min_should_match >= 2:
            if len(lists) < spec.min_should_match:
                return _empty_output(spec)
            cand, cnt = np.unique(
                np.concatenate([v[0] for v in lists.values()]),
                return_counts=True,
            )
            cand = cand[cnt >= spec.min_should_match]
        elif spec.output == "topk" and spec.k is not None:
            cand = _maxscore_candidates(
                lists, spec.weights, spec.avgdl, spec.k1, spec.b, spec.k,
                spec.block_size,
            )
        else:
            cand = np.unique(np.concatenate([v[0] for v in lists.values()]))
    if spec.output == "count":
        return pd.DataFrame({"n": [int(cand.size)]})
    if cand.size == 0:
        return _empty_output(spec)
    if spec.output == "ids":
        return pd.DataFrame({"doc_id": cand.astype("int64")})
    scores = _exact_scores(
        cand, lists, spec.weights, spec.avgdl, spec.k1, spec.b
    )
    order = np.lexsort((cand, -scores))[:spec.k]
    return pd.DataFrame(
        {"doc_id": cand[order].astype("int64"), "score": scores[order]}
    )


def _maxscore_candidates(
    decoded: dict,
    weights: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    block_size: int = 128,
) -> np.ndarray:
    """MaxScore pruning (exact): pick candidates that can reach the top-k.

    Upper bound per term uses stored max_tf with the dl→0 limit:
    ub = w_t·(k1+1)·max_tf/(max_tf + k1·(1−b)). Terms are sorted by ub
    descending; the non-essential suffix is the largest one whose summed
    bounds stay below the threshold θ = k-th best score using essential
    terms only (scores only grow ⇒ θ is a valid lower bound). Docs that
    appear *only* in non-essential lists are pruned; block-max metadata
    refines the check per 128-doc block. Survivors are rescored exactly.
    """
    terms = list(decoded)
    ubs = {}
    for t in terms:
        mtf = float(decoded[t][1].max()) if decoded[t][1].size else 0.0
        ubs[t] = weights[t] * (k1 + 1.0) * mtf / (mtf + k1 * (1.0 - b))
    terms.sort(key=lambda t: -ubs[t])

    if len(terms) == 1:
        return decoded[terms[0]][0]

    # θ from essential prefix: score docs of the highest-ub term exactly
    # against all terms is what the final pass does; here we only need a
    # cheap valid lower bound, so use partial scores within essential lists.
    # Start with all terms essential, then peel stopword suffixes.
    suffix_ub = np.cumsum([ubs[t] for t in reversed(terms)])[::-1]
    ess_docs = decoded[terms[0]][0]
    # partial exact scores over the first (rarest/highest-impact) list
    theta = 0.0
    if ess_docs.size > k:
        s0 = _exact_scores(
            ess_docs, {terms[0]: decoded[terms[0]]}, weights, avgdl, k1, b
        )
        theta = float(np.partition(s0, -k)[-k]) if s0.size >= k else 0.0
    # essential set = prefix whose suffix bound >= theta
    m = len(terms)
    while m > 1 and suffix_ub[m - 1] < theta:
        m -= 1
    essential = terms[:m]
    nonessential = terms[m:]
    cand = np.unique(np.concatenate([decoded[t][0] for t in essential]))
    if not nonessential:
        return cand
    # block-max refinement: docs in essential lists are already candidates,
    # so an extra doc can appear ONLY in non-essential lists — its score is
    # bounded by the sum of non-essential ubs, refined per block via the
    # stored block-max tf. Include docs from blocks whose bound ≥ theta.
    nonessential_ub = suffix_ub[m] if m < len(suffix_ub) else 0.0
    extras = []
    for t in nonessential:
        ids, _tfs, _dls, bmax = decoded[t]
        if bmax.size == 0:
            continue
        bub = weights[t] * (k1 + 1.0) * bmax / (bmax + k1 * (1.0 - b))
        rest = nonessential_ub - ubs[t]
        hot = np.nonzero(bub + rest >= theta)[0]
        for blk in hot:
            extras.append(ids[blk * block_size : (blk + 1) * block_size])
    if extras:
        cand = np.unique(np.concatenate([cand, *extras]))
    return cand


def _exclude_from_lists(
    score_decoded: dict,
    decoded: dict,
    not_terms: list[str],
    block_size: int,
) -> dict:
    """Remove ``must_not`` docs from every scoring posting list, recomputing
    per-block max-tf metadata on the filtered lists so MaxScore bounds stay
    valid after the exclusion."""
    excl_lists = [decoded[t][0] for t in not_terms if t in decoded]
    if not excl_lists:
        return score_decoded
    excluded = (
        excl_lists[0]
        if len(excl_lists) == 1
        else np.unique(np.concatenate(excl_lists))
    )
    out = {}
    for t, (ids, tfs, dls, bmax) in score_decoded.items():
        keep = ~np.isin(ids, excluded, assume_unique=True)
        if keep.all():
            out[t] = (ids, tfs, dls, bmax)
            continue
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if ids.size == 0:
            continue
        starts = np.arange(0, ids.size, block_size)
        out[t] = (ids, tfs, dls, np.maximum.reduceat(tfs, starts))
    return out


def brute_force_bm25(
    docs: pd.DataFrame,
    query: str,
    k: int = 10,
    k1: float = EngineConfig.k1,
    b: float = EngineConfig.b,
    doc_id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = "or",
) -> pd.DataFrame:
    """Independent numpy oracle (plays OpenSearch's role in the reference's
    integration tests, SURVEY.md §5.4). Same analyzer, same float64
    sorted-term accumulation discipline."""
    toks = [tokenize_py(t) for t in docs[text_col]]
    ids = docs[doc_id_col].to_numpy(dtype="int64")
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    n = len(toks)
    avgdl = dls.mean() if n else 0.0
    qterms = sorted(Counter(tokenize_py(query)).items())
    scores = np.zeros(n, dtype=np.float64)
    matched = np.zeros(n, dtype=np.int64)
    for term, qtf in qterms:
        tf = np.array([t.count(term) for t in toks], dtype=np.float64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        w = qtf * bm25_idf(n, df)
        has = tf > 0
        matched += has
        contrib = np.zeros(n, dtype=np.float64)
        contrib[has] = w * bm25_tf_weight(tf[has], dls[has], avgdl, k1, b)
        scores += contrib
    # OR: any term matches; AND: every query term matches
    ok = matched >= (len(qterms) if mode == "and" else 1)
    idx = np.nonzero(ok)[0]
    order = np.lexsort((ids[idx], -scores[idx]))[:k]
    sel = idx[order]
    return pd.DataFrame({"doc_id": ids[sel], "score": scores[sel]})


def dis_max_frames(
    spark,
    frames: list,
    k: int = 10,
    tie_breaker: float = 0.0,
) -> "DataFrame":
    """The dis_max combine over arbitrary (doc_id, score) frames: best +
    tie_breaker·(sum − best), deterministic (score desc, doc_id) top-k.
    Shared by :meth:`IndexReader.search_dis_max` (sub-queries on one
    index) and per-field-INDEX multi_match (frames from different
    indexes — OpenSearch's true per-field statistics semantics)."""
    if not frames:
        return spark.createDataFrame([], "doc_id long, score double")
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    final = F.col("mx") + F.lit(float(tie_breaker)) * (
        F.col("sm") - F.col("mx")
    )
    return (
        u.groupBy("doc_id")
        .agg(F.max("score").alias("mx"), F.sum("score").alias("sm"))
        .select("doc_id", final.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_across(
    spark,
    index_dirs: dict[str, str],
    query: str,
    k: int = 10,
    mode: str = "or",
    search_type: str = "query_then_fetch",
) -> "DataFrame":
    """Cross-index search — the OpenSearch index-pattern / ``_msearch``
    shape users run over rollover generations (``logs-*``). Returns
    (index, doc_id, score): per-index hits merged into one global
    (score desc, index, doc_id) top-k.

    ``search_type`` mirrors OpenSearch:

    - ``query_then_fetch`` (default): each index scores with its OWN
      statistics — scores are shard/index-local, OpenSearch's default
      for exactly this cost reason;
    - ``dfs_query_then_fetch``: a distributed-frequency pre-phase merges
      the per-index term statistics driver-side (Σdf, ΣN, pooled avgdl —
      coordinator metadata reads, O(terms·indices)) and every index
      scores with the GLOBAL stats, so results are EXACTLY what one
      combined index would return (pinned by test).

    One ``score_matches`` plan per index unioned before a single
    TakeOrderedAndProject — nothing corpus-sized is sorted globally."""
    names = sorted(index_dirs)
    readers = {n: IndexReader(spark, index_dirs[n]) for n in names}
    override = None
    if search_type == "dfs_query_then_fetch":
        terms = sorted(set(tokenize_py(query)))
        n_docs, sum_dl = 0, 0.0
        dfs_all: dict[str, int] = dict.fromkeys(terms, 0)
        for r in readers.values():
            n_i, avgdl_i = r._stats  # noqa: SLF001
            n_docs += n_i
            sum_dl += avgdl_i * n_i
            for t, df in r.term_stats(terms).items():
                dfs_all[t] += df
        override = (n_docs, (sum_dl / n_docs if n_docs else 0.0), dfs_all)
    elif search_type != "query_then_fetch":
        raise ValueError(f"unknown search_type: {search_type!r}")
    frames = []
    for name in names:
        frames.append(
            readers[name]
            .score_matches(query, mode, stats_override=override)
            .select(F.lit(name).alias("index"), "doc_id", "score")
        )
    empty = spark.createDataFrame([], "index string, doc_id long, score double")
    if not frames:
        return empty
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u.orderBy(
        F.desc("score"), F.asc("index"), F.asc("doc_id")
    ).limit(k)
